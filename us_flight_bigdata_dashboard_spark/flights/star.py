"""Star-schema build (E2 step A): cleaned flights → dims + fact.

Spark rendering of sql/data_modeling.sql: each CTAS becomes a DataFrame
(or a ``saveAsTable``); MySQL B-tree indexes (sql/data_modeling.sql:78-80)
become physical layout — the fact carries the flight ``month`` and is
partitioned by it on write, so a month filter on the wide view (which takes
``month`` from the fact) reads only that month's files: partition pruning on
the reference's hottest filter. Airline/origin benefit from parquet min-max
row-group stats automatically.

The star's sink is Spark for the fact and the driver for the dims. The
dims are bounded by the domain (airports, carriers, days), so the refresh
does not build them with ``build_dim_*``, each a shuffle job over the raw
scan: ``dim_tables`` derives them in the driver, as ``io.Table`` columns,
from the distinct source tuples the refresh's one grouped pass collects,
with ``io.rollup`` (the rollup that builds the caches and the dashboard's
charts), row for row what ``build_dim_*`` give; ``dim_schemas`` types
them as ``build_dim_*`` do, from the cleaned frame's schema, when
``io.write_parquet_file`` writes them. The refresh hands ``write_star`` the
fact alone, ``build_fact_flights``: one projection of SQL text.
``build_star`` remains the lazy definition (``pipeline.run_pipeline``, the
benchmark's layer timings) that the tests hold the driver's dims to.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from us_flight_bigdata_dashboard_spark.flights.io import Table, rollup

# source column -> dim column, for each side of dim_airports and for
# dim_calendar
ORIGIN_AIRPORT = {"Origin": "airport_code", "OriginCityName": "city_name", "OriginState": "state_code"}
DEST_AIRPORT = {"Dest": "airport_code", "DestCityName": "city_name", "DestState": "state_code"}
CALENDAR = {
    "FlightDate": "date_key",
    "Year": "year",
    "Quarter": "quarter",
    "Month": "month",
    "DayofMonth": "day_of_month",
    "DayOfWeek": "day_of_week",
    "Is_Weekend": "is_weekend",
}
# source column -> dim column, for each dim; dim_airports' dest side is
# DEST_AIRPORT, whose columns have the same types
DIMS = {"dim_airports": ORIGIN_AIRPORT, "dim_airlines": {"Reporting_Airline": "airline_code"}, "dim_calendar": CALENDAR}


def _renamed(df: DataFrame, columns: dict[str, str]) -> DataFrame:
    return df.select(*(F.col(source).alias(name) for source, name in columns.items()))


def _smallest_per_key(df: DataFrame, key: str) -> DataFrame:
    """One row per ``key``, the Spark analog of a PRIMARY KEY: the
    smallest of the key's rows, compared field by field as a struct (nulls
    first, strings by code point) — deterministic and row-coherent, never
    mixing one row's values with another's."""
    attrs = [c for c in df.columns if c != key]
    return df.groupBy(key).agg(F.min(F.struct(*attrs)).alias("_attrs")).select(key, *(f"_attrs.{c}" for c in attrs))


def build_dim_airports(clean: DataFrame) -> DataFrame:
    """Origin ∪ dest airport universe, deduplicating UNION (U1/U3,
    sql/data_modeling.sql:3-16), one row per airport_code: a code that
    appears with two city-name spellings must not fan out fact rows in the
    wide view, so it keeps its smallest (city, state) pair
    (``_smallest_per_key``)."""
    return _smallest_per_key(_renamed(clean, ORIGIN_AIRPORT).unionByName(_renamed(clean, DEST_AIRPORT)), "airport_code")


def build_dim_airlines(clean: DataFrame) -> DataFrame:
    """Distinct airline codes (sql/data_modeling.sql:21-26)."""
    return clean.select(F.col("Reporting_Airline").alias("airline_code")).distinct()


def build_dim_calendar(clean: DataFrame) -> DataFrame:
    """Calendar rows keyed by date, ``date_key PK`` (sql/data_modeling.sql:30-48);
    attributes come from source columns, not date functions — preserving the
    BTS DayOfWeek convention exactly. A date that appears with two calendar
    tuples keeps the smallest (``_smallest_per_key``), so the wide view's
    join on ``date_key`` never fans a flight out."""
    return _smallest_per_key(_renamed(clean, CALENDAR), "date_key").orderBy("date_key")


def build_fact_flights(clean: DataFrame) -> DataFrame:
    """Fact projection with renames (P2, sql/data_modeling.sql:52-74), plus
    the flight month from the same source column ``dim_calendar`` takes it
    from: the fact's partition column, which the wide view exposes. One
    projection of SQL text, which Spark parses in one call."""
    return clean.selectExpr(
        "FlightDate AS date_key",
        "Month AS month",
        "Reporting_Airline AS airline_code",
        "Tail_Number",
        "Flight_Number_Reporting_Airline AS flight_number",
        "Origin AS origin_airport",
        "Dest AS dest_airport",
        "CRSDepTime",
        "DepTime",
        "DepDelay",
        "DepDelayMinutes",
        "DepDel15",
        "ActualElapsedTime",
        "AirTime",
        "Distance",
        "CarrierDelay",
        "WeatherDelay",
        "NASDelay",
        "SecurityDelay",
        "LateAircraftDelay",
        "Is_Cancelled",
    )


def build_star(clean: DataFrame) -> dict[str, DataFrame]:
    """All four star tables from the cleaned frame."""
    return {
        "dim_airports": build_dim_airports(clean),
        "dim_airlines": build_dim_airlines(clean),
        "dim_calendar": build_dim_calendar(clean),
        "fact_flights": build_fact_flights(clean),
    }


def write_star(star: dict[str, DataFrame], root: str) -> None:
    """Materialize the star as parquet, one directory per table under
    ``root``; the fact is partitioned by its ``month`` column
    (``fact_flights/month=N``), replacing idx_flight_date with partition
    pruning (SURVEY.md §4)."""
    for name, df in star.items():
        writer = df.write.mode("overwrite")
        if name == "fact_flights":
            writer = writer.partitionBy("month")
        writer.parquet(f"{root}/{name}")


def _smallest_per_first(columns: dict[str, list]) -> Table:
    """``_smallest_per_key`` in the driver over ``columns``, keyed on the
    first: one row per key, in key order, nulls first. ``rollup`` over
    every column gives the distinct rows in that order, so each key's first
    row is its smallest."""
    rows = rollup(Table(columns), tuple(columns))
    key = next(iter(rows.columns.values()))
    return rows.take([i for i, k in enumerate(key) if i == 0 or k != key[i - 1]])


def dim_schemas(source: T.StructType) -> dict[str, T.StructType]:
    """Each dim's schema, as ``build_dim_*`` types it: its ``DIMS`` source
    columns, renamed, of their types in ``source`` (the cleaned frame's
    schema); every field is nullable, as in a dim Spark writes."""
    return {d: T.StructType([T.StructField(n, source[s].dataType) for s, n in c.items()]) for d, c in DIMS.items()}


def dim_tables(origin: Table, dest: Table, calendar: Table) -> dict[str, Table]:
    """The three dims in the driver, equal row for row to ``build_dim_*``'s,
    from the distinct source tuples the refresh's grouped pass collects:
    ``origin`` holds ``Reporting_Airline`` and ``ORIGIN_AIRPORT``'s columns,
    ``dest`` ``DEST_AIRPORT``'s and ``calendar`` ``CALENDAR``'s, each an
    ``io.Table``. A null code is a row of its own, as in a Spark
    ``groupBy``; rows are in key order, null first."""
    airports = {name: origin.columns[o] + dest.columns[d] for (o, name), d in zip(ORIGIN_AIRPORT.items(), DEST_AIRPORT)}
    return {
        "dim_airports": _smallest_per_first(airports),
        "dim_airlines": Table({"airline_code": rollup(origin, ("Reporting_Airline",)).columns["Reporting_Airline"]}),
        "dim_calendar": _smallest_per_first({name: calendar.columns[src] for src, name in CALENDAR.items()}),
    }
