"""End-to-end flight pipeline orchestration (E1→E2→E3).

``run_pipeline`` wires raw CSVs → clean → star → wide view → both caches as
lazy DataFrames, one Catalyst plan per output: the reference definition the
refresh is tested against.

``refresh`` is what the ``pipeline`` command runs, and it is star first, in
the order of the reference's scripts (the sql/data_modeling.sql CTAS, then
sql/wide_table.sql on top of it). With the star written, the four star
tables are the only outputs computed from the raw CSV: the fact and the dims
are read back from parquet and the wide view is built on them, so a month
filter on the view prunes the fact's ``month`` partitions. Without the
star, the cleaned frame is persisted once and everything downstream reads
it. Either way the caches take one Spark aggregation over the view, collected
to the driver; both are derived and written there (``agg.cache_tables``,
``io.write_cache_csv``). The summary counts are taken from what was
materialised — the fact read back (or the persisted frame) and the caches as
derived — not by re-running a lineage.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from us_flight_bigdata_dashboard_spark.flights import seeds
from us_flight_bigdata_dashboard_spark.flights.agg import (
    airline_monthly_performance,
    airport_performance,
    cache_partials,
    cache_tables,
)
from us_flight_bigdata_dashboard_spark.flights.clean import clean_flights
from us_flight_bigdata_dashboard_spark.flights.io import read_raw_flights, write_cache_csv
from us_flight_bigdata_dashboard_spark.flights.star import build_star, write_star
from us_flight_bigdata_dashboard_spark.flights.views import register_wide_view, wide_view

@dataclass
class PipelineOutputs:
    clean: DataFrame
    star: dict[str, DataFrame]
    wide: DataFrame
    airline_monthly: DataFrame
    airport_perf: DataFrame


def _downstream(spark: SparkSession, star: dict[str, DataFrame]) -> DataFrame:
    """The wide view (registered for SQL) over ``star``'s fact and dims,
    joined with the seed dims."""
    wide = wide_view(
        star["fact_flights"],
        seeds.dim_airline_names(spark),
        star["dim_airports"],
        star["dim_calendar"],
    )
    register_wide_view(spark, wide)
    return wide


def run_pipeline(spark: SparkSession, raw_csv: str) -> PipelineOutputs:
    clean = clean_flights(read_raw_flights(spark, raw_csv))
    star = build_star(clean)
    wide = _downstream(spark, star)
    return PipelineOutputs(
        clean, star, wide, airline_monthly_performance(wide), airport_performance(wide, seeds.dim_airport_coords(spark))
    )


def _publish(spark: SparkSession, star: dict[str, DataFrame], rows: DataFrame, out: str) -> dict:
    """Build both caches from ``star`` in one aggregation and publish them
    under ``out``; the row count of ``rows`` and of each cache."""
    airline_monthly, airport_perf = cache_tables(cache_partials(_downstream(spark, star)))
    write_cache_csv(airline_monthly, f"{out}/airline_monthly_performance")
    write_cache_csv(airport_perf, f"{out}/airport_performance")
    return {
        "rows_cleaned": rows.count(),
        "airline_monthly_rows": airline_monthly.num_rows,
        "airport_perf_rows": airport_perf.num_rows,
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
