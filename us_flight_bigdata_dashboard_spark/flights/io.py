"""Flight pipeline sources (S1, S2, S7).

The reference's per-file glob loop (src/data_cleaning.py:89-116) collapses
into one declarative read: Spark expands the glob into one distributed scan
(S1) and the schema whitelist prunes CSV parsing (S2). The sinks are
``star.write_star`` (partitioned parquet in place of 10k-row chunked JDBC
writes, S3) and ``agg.write_cache`` (S6).

The dashboard caches (S7) are the exception: they are bounded by airline ×
month × city, not by base data, so ``read_cache_csv`` loads them into the
driver with pyarrow and the serving layer answers every request there,
without a JVM — the place ``st.cache_data`` holds them in the reference
(src/app.py:29-46).
"""

from __future__ import annotations

import glob
import os

import pandas as pd
import pyarrow as pa
import pyarrow.csv as pacsv
from pyspark.sql import DataFrame, Row, SparkSession

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


class Table:
    """A small table held in the driver: the serving layer's caches and
    chart results. ``frame`` is a pandas frame with nullable numeric
    dtypes, so a null stays distinct from NaN as it is in Spark;
    ``count()`` and ``collect()`` keep the call shapes of a Spark
    DataFrame's, with Python values and ``None`` for null."""

    __slots__ = ("frame",)

    def __init__(self, frame: pd.DataFrame):
        self.frame = frame

    def count(self) -> int:
        return len(self.frame)

    def collect(self) -> list[Row]:
        row = Row(*self.frame.columns)
        columns = [self.frame[c].to_numpy(dtype=object, na_value=None) for c in self.frame.columns]
        return [row(*values) for values in zip(*columns)]


# Spark's CSV types → Arrow's, and Arrow's numeric types → pandas' nullable
# dtypes (strings stay ``object`` with ``None`` for null).
_ARROW_TYPES = {"int": pa.int32(), "bigint": pa.int64(), "double": pa.float64(), "string": pa.string()}
_PANDAS_TYPES = {pa.int32(): pd.Int32Dtype(), pa.int64(): pd.Int64Dtype(), pa.float64(): pd.Float64Dtype()}


def _cache_files(path: str) -> list[str]:
    """``path`` itself, or the ``part-*`` files of a cache writer's output
    directory (Spark's ``_SUCCESS`` marker and ``.crc`` checksums skipped)."""
    if not os.path.isdir(path):
        return [path]
    parts = sorted(
        f for f in glob.glob(os.path.join(glob.escape(path), "part-*")) if not f.endswith(".crc")
    )
    if not parts:
        raise FileNotFoundError(f"cache directory {path} has no part-* file")
    return parts


def _read_cache_file(path: str, schema) -> pa.Table:
    names = schema.fieldNames()
    table = pacsv.read_csv(
        path,
        convert_options=pacsv.ConvertOptions(
            column_types={f.name: _ARROW_TYPES[f.dataType.simpleString()] for f in schema.fields},
            # as Spark reads a CSV: only an empty field is null
            null_values=[""],
            strings_can_be_null=True,
        ),
    )
    missing = [n for n in names if n not in table.column_names]
    if missing:
        raise ValueError(f"cache file {path} has no column {missing[0]!r} (header: {table.column_names})")
    return table.select(names)


def read_cache_csv(spark: SparkSession | None, path: str, schema) -> Table:
    """S7: one dashboard cache, read into the driver.

    ``path`` is a single CSV file or a directory as ``agg.write_cache``
    writes it. Columns are picked by header name, not position, and get
    the types of ``schema`` (a Spark ``StructType``); an empty field reads
    as null, as in Spark. Raises ``ValueError`` naming a column the file
    lacks, and ``FileNotFoundError`` for a directory with no part file.

    No Spark session is used: ``spark`` is accepted, and ignored, only
    because the benchmark's serve workload passes one; pass ``None``.
    """
    table = pa.concat_tables([_read_cache_file(f, schema) for f in _cache_files(path)])
    return Table(table.to_pandas(types_mapper=_PANDAS_TYPES.get))
