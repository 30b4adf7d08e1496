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
scan: ``dim_tables`` derives them in the driver from the distinct source
tuples the refresh's one grouped pass collects, row for row what
``build_dim_*`` give and with their types; the refresh hands ``write_star``
the fact alone. ``build_star`` remains the lazy definition
(``pipeline.run_pipeline``, the benchmark's layer timings) that the tests
hold the driver's dims to.
"""

from __future__ import annotations

from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from us_flight_bigdata_dashboard_spark.flights.io import grouped, nulls_first

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
    from: the fact's partition column, which the wide view exposes."""
    return clean.select(
        F.col("FlightDate").alias("date_key"),
        F.col("Month").alias("month"),
        F.col("Reporting_Airline").alias("airline_code"),
        F.col("Tail_Number"),
        F.col("Flight_Number_Reporting_Airline").alias("flight_number"),
        F.col("Origin").alias("origin_airport"),
        F.col("Dest").alias("dest_airport"),
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


def _rows(table: pa.Table, columns: Iterable[str]) -> Iterable[tuple]:
    return zip(*(table[c].to_pylist() for c in columns))


def _dim(rows: list[tuple], source: pa.Table, columns: dict[str, str]) -> pa.Table:
    """``rows`` of ``columns``' source values as a dim table, each column
    renamed and typed as its source column in ``source``."""
    fields = [pa.field(name, source.schema.field(src).type) for src, name in columns.items()]
    values = list(zip(*rows)) or [()] * len(fields)
    return pa.Table.from_arrays([pa.array(v, f.type) for v, f in zip(values, fields)], schema=pa.schema(fields))


def _smallest_per_first(rows: Iterable[tuple]) -> list[tuple]:
    """``_smallest_per_key`` in the driver, keyed on each tuple's first
    value: one tuple per key, in key order, nulls first."""
    return [min(group, key=nulls_first) for _, group in grouped(rows, lambda r: r[:1])]


def dim_tables(origin: pa.Table, dest: pa.Table, calendar: pa.Table) -> dict[str, pa.Table]:
    """The three dims in the driver, equal row for row to ``build_dim_*``'s
    and typed as Spark types them, from the distinct source tuples the
    refresh's grouped pass collects: ``origin`` holds ``Reporting_Airline``
    and ``ORIGIN_AIRPORT``'s columns, ``dest`` ``DEST_AIRPORT``'s and
    ``calendar`` ``CALENDAR``'s. A null code is a row of its own, as in a
    Spark ``groupBy``; rows are in key order, null first."""
    airports = _smallest_per_first([*_rows(origin, ORIGIN_AIRPORT), *_rows(dest, DEST_AIRPORT)])
    airlines = [key for key, _ in grouped(_rows(origin, ["Reporting_Airline"]), lambda r: r)]
    return {
        "dim_airports": _dim(airports, origin, ORIGIN_AIRPORT),
        "dim_airlines": _dim(airlines, origin, {"Reporting_Airline": "airline_code"}),
        "dim_calendar": _dim(_smallest_per_first(_rows(calendar, CALENDAR)), calendar, CALENDAR),
    }
