"""Explicit schemas for the flight pipeline.

The engine never relies on inference (reference whitelists columns at ingest,
src/data_cleaning.py:15-25, and fixes types via CTAS CAST,
sql/data_modeling.sql:9-11,25,55-58 — here both are one explicit StructType).
0/1 indicator columns stay IntegerType (they are SUMmed downstream,
src/aggregate_flight_data.py:57 — SURVEY.md §1.2).

``CACHES`` is the dashboard's cache contract: the name and schema of each
cache, in one ordered map. The refresh publishes exactly these
(``agg.cache_tables``, ``pipeline.refresh``) and the ``serve`` command reads
exactly these, as the reference's dashboard reads the two files its
aggregation script writes (src/aggregate_flight_data.py → src/app.py:29-46).
"""

from __future__ import annotations

from pyspark.sql import types as T

# The 28-column ingest keep-list (src/data_cleaning.py:15-22) + `Cancelled`.
RAW_FLIGHTS_SCHEMA = T.StructType(
    [
        T.StructField("Year", T.IntegerType()),
        T.StructField("Quarter", T.IntegerType()),
        T.StructField("Month", T.IntegerType()),
        T.StructField("DayofMonth", T.IntegerType()),
        T.StructField("DayOfWeek", T.IntegerType()),  # 1=Monday … 7=Sunday (BTS)
        T.StructField("FlightDate", T.StringType()),  # 'YYYY-MM-DD' → DateType in clean
        T.StructField("Reporting_Airline", T.StringType()),
        T.StructField("Tail_Number", T.StringType()),
        T.StructField("Flight_Number_Reporting_Airline", T.IntegerType()),
        T.StructField("Origin", T.StringType()),
        T.StructField("OriginCityName", T.StringType()),
        T.StructField("OriginState", T.StringType()),
        T.StructField("Dest", T.StringType()),
        T.StructField("DestCityName", T.StringType()),
        T.StructField("DestState", T.StringType()),
        T.StructField("CRSDepTime", T.IntegerType()),  # HHMM numeric
        T.StructField("DepTime", T.DoubleType()),  # HHMM numeric, null if cancelled
        T.StructField("DepDelay", T.DoubleType()),
        T.StructField("DepDelayMinutes", T.DoubleType()),
        T.StructField("DepDel15", T.DoubleType()),  # 0/1, null if cancelled
        T.StructField("DepTimeBlk", T.StringType()),
        T.StructField("ActualElapsedTime", T.DoubleType()),
        T.StructField("AirTime", T.DoubleType()),
        T.StructField("Distance", T.DoubleType()),
        T.StructField("CarrierDelay", T.DoubleType()),
        T.StructField("WeatherDelay", T.DoubleType()),
        T.StructField("NASDelay", T.DoubleType()),
        T.StructField("SecurityDelay", T.DoubleType()),
        T.StructField("LateAircraftDelay", T.DoubleType()),
        T.StructField("Cancelled", T.DoubleType()),  # 0/1; column may be absent (P6 fallback)
    ]
)

# Output contract of the airline-monthly aggregation (golden CSV header,
# src/aggregate_flight_data.py:38-40).
AIRLINE_MONTHLY_SCHEMA = T.StructType(
    [
        T.StructField("airline_name", T.StringType()),
        T.StructField("month", T.IntegerType()),
        T.StructField("DepDel15_count", T.LongType()),
        T.StructField("DepDel15_sum", T.DoubleType()),
        T.StructField("DepDelayMinutes_mean", T.DoubleType()),
        T.StructField("Is_Cancelled_sum", T.LongType()),
        T.StructField("CarrierDelay_sum", T.DoubleType()),
        T.StructField("WeatherDelay_sum", T.DoubleType()),
        T.StructField("NASDelay_sum", T.DoubleType()),
        T.StructField("LateAircraftDelay_sum", T.DoubleType()),
        T.StructField("on_time_rate", T.DoubleType()),
    ]
)

# Output contract of the geo aggregation (src/aggregate_flight_data.py:51-79).
AIRPORT_PERFORMANCE_SCHEMA = T.StructType(
    [
        T.StructField("airline_name", T.StringType()),
        T.StructField("month", T.IntegerType()),
        T.StructField("origin_city", T.StringType()),
        T.StructField("total_flights", T.LongType()),
        T.StructField("delayed_flights", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
    ]
)

# The dashboard's caches, in publish order: each one's directory name under
# the refresh's output directory → its schema.
CACHES = {
    "airline_monthly_performance": AIRLINE_MONTHLY_SCHEMA,
    "airport_performance": AIRPORT_PERFORMANCE_SCHEMA,
}
