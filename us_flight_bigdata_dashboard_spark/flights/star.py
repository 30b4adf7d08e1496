"""Star-schema build (E2 step A): cleaned flights → dims + fact.

Spark rendering of sql/data_modeling.sql: each CTAS becomes a DataFrame
(or a ``saveAsTable``); MySQL B-tree indexes (sql/data_modeling.sql:78-80)
become physical layout — the fact carries the flight ``month`` and is
partitioned by it on write, so a month filter on the wide view (which takes
``month`` from the fact) reads only that month's files: partition pruning on
the reference's hottest filter. Airline/origin benefit from parquet min-max
row-group stats automatically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_dim_airports(clean: DataFrame) -> DataFrame:
    """Origin ∪ dest airport universe, deduplicating UNION (U1/U3,
    sql/data_modeling.sql:3-16).

    Uniqueness contract: exactly one row per airport_code — the Spark
    analog of the reference's PRIMARY KEY. A code that appears with two
    city-name spellings must not fan out fact rows in the wide view, so we
    keep the lexicographically-smallest (city, state) pair per code
    (min over a struct — deterministic and row-coherent, never mixing one
    row's city with another's state)."""
    origin = clean.select(
        F.col("Origin").alias("airport_code"),
        F.col("OriginCityName").alias("city_name"),
        F.col("OriginState").alias("state_code"),
    )
    dest = clean.select(
        F.col("Dest").alias("airport_code"),
        F.col("DestCityName").alias("city_name"),
        F.col("DestState").alias("state_code"),
    )
    return (
        origin.unionByName(dest)
        .groupBy("airport_code")
        .agg(F.min(F.struct("city_name", "state_code")).alias("_attrs"))
        .select("airport_code", "_attrs.city_name", "_attrs.state_code")
    )


def build_dim_airlines(clean: DataFrame) -> DataFrame:
    """Distinct airline codes (sql/data_modeling.sql:21-26)."""
    return clean.select(F.col("Reporting_Airline").alias("airline_code")).distinct()


def build_dim_calendar(clean: DataFrame) -> DataFrame:
    """Distinct calendar rows keyed by date (sql/data_modeling.sql:30-48);
    attributes come from source columns, not date functions — preserving the
    BTS DayOfWeek convention exactly."""
    return (
        clean.select(
            F.col("FlightDate").alias("date_key"),
            F.col("Year").alias("year"),
            F.col("Quarter").alias("quarter"),
            F.col("Month").alias("month"),
            F.col("DayofMonth").alias("day_of_month"),
            F.col("DayOfWeek").alias("day_of_week"),
            F.col("Is_Weekend").alias("is_weekend"),
        )
        .distinct()
        .orderBy("date_key")
    )


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
