"""Denormalized wide view (S9/J1-J4, sql/wide_table.sql:4-36).

Fact LEFT JOINed to every dim — dim_airports twice under origin/dest aliases
(J2/J3 self-alias join). All build sides are broadcast: the classic star
topology where no fact row ever shuffles for a join. The MySQL COLLATE
workarounds (sql/wide_table.sql:30,32,34) are unnecessary — Spark string
equality is binary (SURVEY.md §2.3).

``month`` comes from the fact, not from dim_calendar (J4 joins the calendar
without it): over the written star it is the fact's partition column, so a
month filter on the view prunes fact partitions instead of reaching them
only through the date join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def wide_view(
    fact: DataFrame,
    dim_airline_names: DataFrame,
    dim_airports: DataFrame,
    dim_calendar: DataFrame,
) -> DataFrame:
    """v_flight_performance_analysis as a lazy DataFrame (column contract of
    sql/wide_table.sql:5-27)."""
    origin = dim_airports.select(
        F.col("airport_code").alias("o_code"),
        F.col("city_name").alias("origin_city"),
        F.col("state_code").alias("origin_state"),
    )
    dest = dim_airports.select(
        F.col("airport_code").alias("d_code"),
        F.col("city_name").alias("dest_city"),
    )
    return (
        fact.join(F.broadcast(dim_airline_names), "airline_code", "left")
        .join(F.broadcast(origin), fact.origin_airport == F.col("o_code"), "left")
        .join(F.broadcast(dest), fact.dest_airport == F.col("d_code"), "left")
        .join(F.broadcast(dim_calendar.drop("month")), "date_key", "left")
        .select(
            "date_key",
            "month",
            "day_of_week",
            "is_weekend",
            "airline_name",
            "airline_code",
            "origin_city",
            "origin_state",
            "dest_city",
            "DepDelayMinutes",
            "DepDel15",
            "Is_Cancelled",
            "CarrierDelay",
            "WeatherDelay",
            "NASDelay",
            "SecurityDelay",
            "LateAircraftDelay",
        )
    )
