"""Batch aggregation engine (E2 step B): wide view → pre-aggregated caches.

Replaces src/aggregate_flight_data.py wholesale. The reference builds both
caches from one hand-rolled 200k-row chunked partial/final merge, whose
mean-merge is broken (SURVEY.md quirk Q1). Here that merge is done exactly:
``cache_partials`` is one Spark ``groupBy(airline_name, month,
origin_city)`` over the wide view, carrying counts and the exact decimal
sums of ``functions/exact.py``'s ``dsum``/``davg``, collected to the
driver. The result is bounded by airline × month × city, so
``cache_tables`` derives both caches from it in the driver: the airport
cache row for row, the airline cache by adding the decimals per (airline,
month). Each sum is converted to double once, correctly rounded, so every
value is bit-equal to the one-aggregation-per-cache definitions below, and
``DepDelayMinutes_mean`` is the TRUE mean (documented divergence from the
reference's chunk-sum artifact; golden tests compare that column by
rank/tolerance only — FIXTURES.md §3).

``airline_monthly_performance`` and ``airport_performance`` are those
definitions, as lazy Spark aggregations, and ``write_cache`` is Spark's
writer for them. Only ``pipeline.run_pipeline`` and the benchmark's layer
timings use them; the tests hold the driver path to them bit for bit.

The caches keep full (airline, month[, city]) dims so the serving layer can
re-aggregate additively (A10) — the two-tier design that makes dashboard
interaction millisecond-cheap at any base-data scale.
"""

from __future__ import annotations

from decimal import Decimal, localcontext

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from us_flight_bigdata_dashboard_spark.flights import seeds
from us_flight_bigdata_dashboard_spark.flights.io import arrow_schema
from us_flight_bigdata_dashboard_spark.flights.schemas import AIRLINE_MONTHLY_SCHEMA, AIRPORT_PERFORMANCE_SCHEMA
from us_flight_bigdata_dashboard_spark.functions.exact import davg, decimal_sum, dsum

# the columns the caches take a dsum or davg of
_DECIMAL_SUMS = ("DepDel15", "DepDelayMinutes", "CarrierDelay", "WeatherDelay", "NASDelay", "LateAircraftDelay")


def airline_monthly_performance(wide: DataFrame) -> DataFrame:
    """A1/A3 + P10: per (airline_name, month) multi-aggregate + on_time_rate
    (src/aggregate_flight_data.py:26-40; column names are the golden-CSV
    output contract)."""
    agg = wide.groupBy("airline_name", "month").agg(
        F.count("DepDel15").alias("DepDel15_count"),
        dsum("DepDel15").alias("DepDel15_sum"),
        davg("DepDelayMinutes").alias("DepDelayMinutes_mean"),
        F.sum("Is_Cancelled").alias("Is_Cancelled_sum"),
        dsum("CarrierDelay").alias("CarrierDelay_sum"),
        dsum("WeatherDelay").alias("WeatherDelay_sum"),
        dsum("NASDelay").alias("NASDelay_sum"),
        dsum("LateAircraftDelay").alias("LateAircraftDelay_sum"),
    )
    return agg.withColumn(
        "on_time_rate", F.lit(1.0) - F.col("DepDel15_sum") / F.col("DepDel15_count")
    )


def airport_performance(wide: DataFrame, dim_airport_coords: DataFrame) -> DataFrame:
    """A4 + J5/P12/P13: per (airline_name, month, origin_city) counts,
    enriched with hub coordinates via broadcast inner join — the join
    replaces the reference's row-lambda dict lookup and its dropna
    (src/aggregate_flight_data.py:51-79) in one operator."""
    agg = wide.groupBy("airline_name", "month", "origin_city").agg(
        F.count(F.lit(1)).alias("total_flights"),
        dsum("DepDel15").alias("delayed_flights"),
    )
    return agg.join(F.broadcast(dim_airport_coords), "origin_city", "inner").select(
        "airline_name", "month", "origin_city", "total_flights", "delayed_flights", "lat", "lon"
    )


def write_cache(df: DataFrame, path: str) -> None:
    """Spark's cache sink: single-file CSV with header, as a Spark output
    directory (coalesce(1): the results are a few hundred rows)."""
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)


def cache_partials(wide: DataFrame) -> pa.Table:
    """A1/A4 partials: one grouped pass over the view, in the driver.

    Per (airline_name, month, origin_city): the row count, the non-null
    counts of ``DepDel15`` and ``DepDelayMinutes``, the exact
    ``decimal(38,4)`` sum of each ``_DECIMAL_SUMS`` column, and the sum of
    ``Is_Cancelled``."""
    return wide.groupBy("airline_name", "month", "origin_city").agg(
        F.count(F.lit(1)).alias("total_flights"),
        F.count("DepDel15").alias("DepDel15_count"),
        F.count("DepDelayMinutes").alias("DepDelayMinutes_count"),
        *(decimal_sum(c).alias(f"{c}_sum") for c in _DECIMAL_SUMS),
        F.sum("Is_Cancelled").alias("Is_Cancelled_sum"),
    ).toArrow()


def _double(d: Decimal | None) -> float | None:
    """A decimal sum as a double, correctly rounded, as Spark's
    ``CAST(decimal AS double)`` is. pyarrow 16's decimal → float64 cast is
    not: it is one ulp off for about a third of 4-decimal values."""
    return None if d is None else float(d)


def _divide(s: float | None, n: int) -> float | None:
    """``s / n`` as Spark divides a double by a count; null where the sum
    is (a sum is null exactly when its count is 0)."""
    return None if s is None else s / n


def cache_tables(partials: pa.Table) -> tuple[pa.Table, pa.Table]:
    """Both caches from ``cache_partials``, in the driver:
    ``(airline_monthly_performance, airport_performance)``, typed by
    ``AIRLINE_MONTHLY_SCHEMA`` and ``AIRPORT_PERFORMANCE_SCHEMA``."""
    rows = partials.to_pylist()
    hubs = {city: (lat, lon) for city, lat, lon in seeds.AIRPORT_COORDS}
    airport_perf = [
        {
            "airline_name": r["airline_name"],
            "month": r["month"],
            "origin_city": r["origin_city"],
            "total_flights": r["total_flights"],
            "delayed_flights": _double(r["DepDel15_sum"]),
            "lat": hubs[r["origin_city"]][0],
            "lon": hubs[r["origin_city"]][1],
        }
        # the inner join on the hub coordinates: a null or non-hub city drops
        for r in rows if r["origin_city"] in hubs
    ]

    # The partials rolled up per (airline_name, month), a null key a group
    # of its own as in Spark. Python adds here: pyarrow 16's group_by on
    # two keys splits a null string key into several groups.
    rolled = ("DepDel15_count", "DepDelayMinutes_count", "Is_Cancelled_sum", *(f"{c}_sum" for c in _DECIMAL_SUMS))
    totals: dict[tuple, dict] = {}
    with localcontext() as ctx:
        ctx.prec = 40  # wider than any decimal(38,4) value: decimals add exactly
        for r in rows:
            t = totals.setdefault((r["airline_name"], r["month"]), dict.fromkeys(rolled))
            for c in rolled:
                if r[c] is not None:
                    t[c] = r[c] if t[c] is None else t[c] + r[c]
    airline_monthly = []
    for (airline, month), t in totals.items():
        sums = {c: _double(t[f"{c}_sum"]) for c in _DECIMAL_SUMS}
        late = _divide(sums["DepDel15"], t["DepDel15_count"])
        airline_monthly.append({
            "airline_name": airline,
            "month": month,
            "DepDel15_count": t["DepDel15_count"],
            "DepDel15_sum": sums["DepDel15"],
            "DepDelayMinutes_mean": _divide(sums["DepDelayMinutes"], t["DepDelayMinutes_count"]),
            "Is_Cancelled_sum": t["Is_Cancelled_sum"],
            "on_time_rate": None if late is None else 1.0 - late,
        } | {f"{c}_sum": sums[c] for c in _DECIMAL_SUMS[2:]})
    return (
        pa.Table.from_pylist(airline_monthly, schema=arrow_schema(AIRLINE_MONTHLY_SCHEMA)),
        pa.Table.from_pylist(airport_perf, schema=arrow_schema(AIRPORT_PERFORMANCE_SCHEMA)),
    )
