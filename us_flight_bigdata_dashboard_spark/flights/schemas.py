"""Explicit schema of the raw flight CSVs.

The engine never relies on inference (reference whitelists columns at ingest,
src/data_cleaning.py:15-25, and fixes types via CTAS CAST,
sql/data_modeling.sql:9-11,25,55-58 — here both are one explicit StructType,
which ``io.read_raw_flights`` applies by header name).
0/1 indicator columns stay IntegerType (they are SUMmed downstream,
src/aggregate_flight_data.py:57 — SURVEY.md §1.2).

The dashboard caches' columns are not here: ``io.CACHES`` spells each one
once, as Spark DDL text, so that the serving tier, which reads them, imports
no Spark.
"""

from __future__ import annotations

from pyspark.sql import types as T

from us_flight_bigdata_dashboard_spark.flights.io import CACHES

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

# The caches' columns are ``io.CACHES``' DDL text; these two names are the
# same strings, kept because the benchmark's serve workload imports them.
AIRLINE_MONTHLY_SCHEMA, AIRPORT_PERFORMANCE_SCHEMA = CACHES.values()
