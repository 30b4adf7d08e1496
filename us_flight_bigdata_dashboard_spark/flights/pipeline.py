"""End-to-end flight pipeline orchestration (E1→E2→E3).

``run_pipeline`` wires raw CSVs → clean → star → wide view → both caches as
lazy DataFrames, one Catalyst plan per output.

``refresh`` is what the ``pipeline`` command runs, and it is star first, in
the order of the reference's scripts (the sql/data_modeling.sql CTAS, then
sql/wide_table.sql on top of it). With the star written, the four star
tables are the only outputs computed from the raw CSV: the fact and the dims
are read back from parquet, and the wide view and both caches are built on
them, so a month filter on the view prunes the fact's ``month`` partitions.
Without the star, the cleaned frame is persisted once and everything
downstream reads it. The summary counts are taken from what was
materialised — the fact read back (or the persisted frame) and the caches as
written — not by re-running a lineage.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from us_flight_bigdata_dashboard_spark.flights import seeds
from us_flight_bigdata_dashboard_spark.flights.agg import airline_monthly_performance, airport_performance, write_cache
from us_flight_bigdata_dashboard_spark.flights.clean import clean_flights
from us_flight_bigdata_dashboard_spark.flights.io import read_cache_csv, read_raw_flights
from us_flight_bigdata_dashboard_spark.flights.schemas import AIRLINE_MONTHLY_SCHEMA, AIRPORT_PERFORMANCE_SCHEMA
from us_flight_bigdata_dashboard_spark.flights.star import build_star, write_star
from us_flight_bigdata_dashboard_spark.flights.views import register_wide_view, wide_view

@dataclass
class PipelineOutputs:
    clean: DataFrame
    star: dict[str, DataFrame]
    wide: DataFrame
    airline_monthly: DataFrame
    airport_perf: DataFrame


def _downstream(spark: SparkSession, star: dict[str, DataFrame]) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Wide view (registered for SQL) and both aggregates over ``star``'s
    fact and dims, joined with the seed dims."""
    wide = wide_view(
        star["fact_flights"],
        seeds.dim_airline_names(spark),
        star["dim_airports"],
        star["dim_calendar"],
    )
    register_wide_view(spark, wide)
    return wide, airline_monthly_performance(wide), airport_performance(wide, seeds.dim_airport_coords(spark))


def run_pipeline(spark: SparkSession, raw_csv: str) -> PipelineOutputs:
    clean = clean_flights(read_raw_flights(spark, raw_csv))
    star = build_star(clean)
    return PipelineOutputs(clean, star, *_downstream(spark, star))


def _publish(spark: SparkSession, star: dict[str, DataFrame], rows: DataFrame, out: str) -> dict:
    """Write both caches under ``out`` from ``star``; the row count of
    ``rows`` and of each cache as written (read back in the driver)."""
    _, airline_monthly, airport_perf = _downstream(spark, star)
    write_cache(airline_monthly, f"{out}/airline_monthly_performance")
    write_cache(airport_perf, f"{out}/airport_performance")

    def written(name, schema) -> int:
        return read_cache_csv(None, f"{out}/{name}", schema).count()

    return {
        "rows_cleaned": rows.count(),
        "airline_monthly_rows": written("airline_monthly_performance", AIRLINE_MONTHLY_SCHEMA),
        "airport_perf_rows": written("airport_performance", AIRPORT_PERFORMANCE_SCHEMA),
    }


def refresh(spark: SparkSession, raw_csv: str, out: str, with_star: bool = False) -> dict:
    """One full refresh into ``out``: both caches, and with ``with_star``
    the star parquet under ``out/star``. Returns the summary counts."""
    clean = clean_flights(read_raw_flights(spark, raw_csv))
    if with_star:
        root, built = f"{out}/star", build_star(clean)
        write_star(built, root)
        # the tables the wide view reads, with the schemas just written (no
        # schema-inference job)
        star = {
            name: spark.read.schema(built[name].schema).parquet(f"{root}/{name}")
            for name in ("fact_flights", "dim_airports", "dim_calendar")
        }
        return _publish(spark, star, star["fact_flights"], out)
    clean.persist()
    try:
        return _publish(spark, build_star(clean), clean, out)
    finally:
        clean.unpersist()
