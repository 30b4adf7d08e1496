"""Flight pipeline sources (S1, S2, S7).

The reference's per-file glob loop (src/data_cleaning.py:89-116) collapses
into one declarative read: Spark expands the glob into one distributed scan
(S1) and the schema whitelist prunes CSV parsing (S2). The sinks are
``star.write_star`` (partitioned parquet in place of 10k-row chunked JDBC
writes, S3) and ``agg.write_cache`` (S6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from us_flight_bigdata_dashboard_spark.flights.schemas import RAW_FLIGHTS_SCHEMA


def read_raw_flights(spark: SparkSession, path_or_glob: str, has_cancelled: bool = True) -> DataFrame:
    """S1/S2: multi-file CSV scan with explicit schema + column whitelist.

    ``path_or_glob`` may be a single file, a directory, or a glob like
    ``data/2025_0[1-3].csv`` — one job either way, no per-file loop.
    """
    schema = RAW_FLIGHTS_SCHEMA
    if not has_cancelled:
        from pyspark.sql import types as T

        schema = T.StructType([f for f in RAW_FLIGHTS_SCHEMA.fields if f.name != "Cancelled"])
    return spark.read.option("header", True).schema(schema).csv(path_or_glob)


def read_cache_csv(spark: SparkSession, path: str, schema) -> DataFrame:
    """S7: cache reader with explicit schema + cached (the engine-side
    replacement for st.cache_data memoization, src/app.py:29-46)."""
    return spark.read.option("header", True).schema(schema).csv(path).cache()
