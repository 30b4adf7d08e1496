"""End-to-end flight pipeline orchestration (E1→E2→E3).

``run_pipeline`` wires raw CSVs → clean → star → wide view → both caches as
lazy DataFrames, one Catalyst plan per output: the reference definition the
refresh is tested against.

``refresh`` is what the ``pipeline`` command runs. Everything but the fact
is bounded by the domain (airports, days, carriers × months × cities), not
by base data, so the refresh reads the raw CSV at most twice, as the
reference's cleaning script loads it once and derives the rest from what it
loaded (src/data_cleaning.py, then the sql/data_modeling.sql CTAS):

1. with the star, Spark writes the fact, partitioned by ``month`` (the only
   Spark write);
2. one Spark aggregation over the cleaned frame, ``grouped_pass``, one
   ``GROUP BY ... GROUPING SETS`` statement, collects the distinct source
   tuples behind the three dims and the caches' partials (exact sums as
   ``bigint``s) to the driver with ``toArrow()``, and hands each grouping
   set on as an ``io.Table`` of Python columns;
3. the driver derives the dims (``star.dim_tables``) and both caches
   (``agg.cache_tables``) from those columns, exactly, with ``io.rollup``,
   and publishes each as one file (``io.write_parquet_file``,
   ``io.write_cache_csv``).

The Spark plans (the reader's whitelist, ``clean.clean_flights``,
``star.build_fact_flights`` and this pass) are SQL text, which Spark
parses in one py4j call each: building them takes a few hundred round
trips to the JVM, not one per function, operator and column. Arrow appears
only at the two ends of the driver's work: the collect here and the
parquet writer in ``io``. The wide view is not on this path:
``agg.cache_tables`` keys the partials as the view's joins would. The
summary counts come from the same pass; nothing is read back.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from us_flight_bigdata_dashboard_spark.flights import seeds
from us_flight_bigdata_dashboard_spark.flights.agg import (
    airline_monthly_performance,
    airport_performance,
    cache_tables,
    partial_aggregates,
    unit_addends,
)
from us_flight_bigdata_dashboard_spark.flights.clean import clean_flights
from us_flight_bigdata_dashboard_spark.flights.io import Table, read_raw_flights, write_cache_csv, write_parquet_file
from us_flight_bigdata_dashboard_spark.flights.star import (
    CALENDAR,
    DEST_AIRPORT,
    ORIGIN_AIRPORT,
    build_fact_flights,
    build_star,
    dim_schemas,
    dim_tables,
    write_star,
)
from us_flight_bigdata_dashboard_spark.flights.views import wide_view

@dataclass
class PipelineOutputs:
    clean: DataFrame
    star: dict[str, DataFrame]
    wide: DataFrame
    airline_monthly: DataFrame
    airport_perf: DataFrame


def run_pipeline(spark: SparkSession, raw_csv: str) -> PipelineOutputs:
    clean = clean_flights(read_raw_flights(spark, raw_csv))
    star = build_star(clean)
    wide = wide_view(
        star["fact_flights"], seeds.dim_airline_names(spark), star["dim_airports"], star["dim_calendar"]
    )
    return PipelineOutputs(
        clean, star, wide, airline_monthly_performance(wide), airport_performance(wide, seeds.dim_airport_coords(spark))
    )


# The grouping sets of ``grouped_pass``: the origin side with the carrier and
# month (the caches' partials, dim_airlines, dim_airports' origins), the
# dest side (dim_airports' dests) and the calendar (dim_calendar).
GROUPING_SETS = {
    "origin": ("Reporting_Airline", "Month", *ORIGIN_AIRPORT),
    "dest": tuple(DEST_AIRPORT),
    "calendar": tuple(CALENDAR),
}


def grouped_pass(clean: DataFrame) -> dict[str, Table]:
    """One aggregation of ``clean`` over ``GROUPING_SETS``, collected: per
    set, an ``io.Table`` of its keys and ``partial_aggregates()``. The rows
    of each set are picked by ``grouping_id()``, never by a null key, since
    a null key is a group of its own. The aggregation is one SQL
    statement, which Spark parses in one call; its exact sums add
    ``unit_addends()``, projected once per row below the grouping."""
    keys = list(dict.fromkeys(k for s in GROUPING_SETS.values() for k in s))
    by, sets = ", ".join(keys), ", ".join(f"({', '.join(s)})" for s in GROUPING_SETS.values())
    grouped = clean.sparkSession.sql(
        f"SELECT {by}, {', '.join(partial_aggregates())}, grouping_id() AS grouping_id"
        f" FROM (SELECT *, {', '.join(unit_addends())} FROM {{clean}}) GROUP BY {by} GROUPING SETS ({sets})",
        clean=clean,
    ).toArrow()
    measures = [c for c in grouped.column_names if c not in keys and c != "grouping_id"]
    ids = grouped["grouping_id"].to_pylist()
    tables = {}
    for name, s in GROUPING_SETS.items():
        # a bit per key, the first key's highest; set where the key is not grouped
        gid = sum(1 << (len(keys) - 1 - i) for i, k in enumerate(keys) if k not in s)
        # only this set's rows and columns leave Arrow
        tables[name] = Table(grouped.select([*s, *measures]).take([i for i, g in enumerate(ids) if g == gid]).to_pydict())
    return tables


def refresh(spark: SparkSession, raw_csv: str, out: str, with_star: bool = False) -> dict:
    """One full refresh into ``out``: each cache of ``io.CACHES`` as
    ``out/<name>``, and with ``with_star`` the star parquet under
    ``out/star``. Returns the summary counts."""
    clean = clean_flights(read_raw_flights(spark, raw_csv))
    if with_star:
        write_star({"fact_flights": build_fact_flights(clean)}, f"{out}/star")
    groups = grouped_pass(clean)
    dims = dim_tables(groups["origin"], groups["dest"], groups["calendar"])
    caches = cache_tables(groups["origin"], dims["dim_airports"])
    if with_star:
        for name, schema in dim_schemas(clean.schema).items():
            write_parquet_file(dims[name], f"{out}/star/{name}", schema)
    for name, table in caches.items():
        write_cache_csv(table, f"{out}/{name}")
    return {
        "rows_cleaned": sum(groups["origin"].columns["total_flights"]),
        "airline_monthly_rows": caches["airline_monthly_performance"].count(),
        "airport_perf_rows": caches["airport_performance"].count(),
    }
