"""Batch aggregation engine (E2 step B): cleaned flights → pre-aggregated
caches.

Replaces src/aggregate_flight_data.py wholesale. The reference builds both
caches from one hand-rolled 200k-row chunked partial/final merge, whose
mean-merge is broken (SURVEY.md quirk Q1). Here that merge is done exactly.
The partials (``partial_aggregates``, SQL text: counts, and the exact
sums behind ``functions/exact.py``'s ``dsum``/``davg`` as ``bigint``
counts of 10⁻⁴) are one grouping set of the refresh's single aggregation
over the cleaned frame (``pipeline.grouped_pass``), per (carrier, month,
origin airport, origin city, origin state), collected to the driver as the
columns of an ``io.Table``. That is bounded by the domain, not by base
data, so ``cache_tables`` finishes in the driver, on those columns as they
are: it keys each row as the wide view's joins would (airline name, origin
city), and ``io.rollup`` adds the integers per (airline, month, city) for
the airport cache, then per (airline, month) for the airline cache: the same
additive rollup that builds the dims and that the serving layer
re-aggregates the caches with. The caches stay ``io.Table`` columns until
``io.write_cache_csv`` writes them. Each sum is converted to double once,
correctly rounded, so every value is bit-equal to the
one-aggregation-per-cache definitions over the view below, and
``DepDelayMinutes_mean`` is the TRUE mean (documented divergence from the
reference's chunk-sum artifact; golden tests compare that column by
rank/tolerance only — FIXTURES.md §3).

``airline_monthly_performance`` and ``airport_performance`` are those
definitions, as lazy Spark aggregations that ``pipeline.run_pipeline``
builds, and ``write_cache`` is Spark's writer for them, which only the
tests and the benchmark's layer timings call. The refresh runs none of
them; the tests hold the driver path to them bit for bit.

The caches keep full (airline, month[, city]) dims so the serving layer can
re-aggregate additively (A10) — the two-tier design that makes dashboard
interaction millisecond-cheap at any base-data scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from us_flight_bigdata_dashboard_spark.flights import seeds
from us_flight_bigdata_dashboard_spark.flights.io import Table, rollup
from us_flight_bigdata_dashboard_spark.flights.schemas import CACHES
from us_flight_bigdata_dashboard_spark.functions.exact import davg, dsum

# the columns the caches take a dsum or davg of
_DECIMAL_SUMS = ("DepDel15", "DepDelayMinutes", "CarrierDelay", "WeatherDelay", "NASDelay", "LateAircraftDelay")
# the unit of the exact sums (``unit_addends``): 10⁻⁴, dsum's scale
_UNITS = 10_000


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


# the partials of the refresh's grouped pass, ``partial_aggregates()``:
# column name → SQL text
_PARTIALS = {
    "total_flights": "count(1)",
    "DepDel15_count": "count(DepDel15)",
    "DepDelayMinutes_count": "count(DepDelayMinutes)",
    **{f"{c}_sum": f"sum({c}_units)" for c in _DECIMAL_SUMS},
    "Is_Cancelled_sum": "sum(Is_Cancelled)",
}


def unit_addends() -> list[str]:
    """SQL text of the addends of ``partial_aggregates``' exact sums: each
    ``_DECIMAL_SUMS`` column ``c`` as ``c_units``, the value rounded HALF_UP
    to 4 decimals, as ``dsum``'s decimal cast rounds it, then scaled to a
    ``bigint`` count of 10⁻⁴. Projected below the grouping sets' ``Expand``,
    each row converts once, not once per set.

    Spark sums a ``bigint`` in a ``long``; a decimal sum would be typed
    ``decimal(38,4)`` and held in a ``BigInteger``, an allocation per row
    and measure. Bounds: |addend| < 10¹⁴, the ``decimal(18,4)`` cast, and
    |Σ| · 10⁴ < 2⁶³ (about 9.2 · 10¹⁴ minutes). With ANSI mode on, Spark
    4's default, going past either raises; an addend is never dropped and
    a sum never wraps."""
    return [f"CAST(CAST({c} AS decimal(18,4)) * {_UNITS} AS bigint) AS {c}_units" for c in _DECIMAL_SUMS]


def partial_aggregates() -> list[str]:
    """A1/A4 partials, the measures of the refresh's grouped pass, as SQL
    text: the row count, the non-null counts of ``DepDel15`` and
    ``DepDelayMinutes``, the exact sum of each ``_DECIMAL_SUMS`` column in
    units of 10⁻⁴ (of its ``unit_addends()`` column, a ``bigint``), and the
    sum of ``Is_Cancelled``. The driver adds the partials as Python
    ``int``s, exactly, and divides each total by 10⁴ once (``_divide``)."""
    return [f"{sql} AS {name}" for name, sql in _PARTIALS.items()]


def _divide(s: int | float | None, n: int) -> float | None:
    """``s / n``, null where the sum is (a sum is null exactly when its
    count is 0): a double sum divided as Spark divides a double by a count,
    or an exact sum in units of 10⁻⁴ divided by ``_UNITS``, correctly
    rounded (CPython's ``int / int`` is), as Spark's ``CAST(decimal AS
    double)`` rounds the same decimal sum."""
    return None if s is None else s / n


def cache_tables(origin: Table, dim_airports: Table) -> dict[str, Table]:
    """Both caches in the driver, keyed and ordered as ``schemas.CACHES``:
    each cache's name → a ``Table`` with the columns of its schema, in
    their order and of their types.

    ``origin``, an ``io.Table`` as ``pipeline.grouped_pass`` gives it,
    holds ``partial_aggregates()`` per (``Reporting_Airline``, ``Month``,
    ``Origin``, ...); ``dim_airports`` is ``star.dim_tables``' table. Both
    are read as the columns they are, with no conversion. Each row takes
    the wide view's keys as the view's left joins give them: the carrier's
    name in ``seeds.AIRLINE_NAMES`` and the origin code's ``dim_airports``
    city, null for a null or unknown code. ``io.rollup`` adds the partials
    per (airline, month, city) for the airport cache, then adds those per
    (airline, month) for the airline cache; rows come in key order, nulls
    first. The exact sums are Python ``int``s, which add exactly."""
    names = dict(seeds.AIRLINE_NAMES)
    partials, airports = origin.columns, dim_airports.columns
    # a join never matches a null code
    cities = {code: city for code, city in zip(airports["airport_code"], airports["city_name"]) if code is not None}
    keyed = Table({
        "airline_name": [names.get(code) for code in partials["Reporting_Airline"]],
        "month": partials["Month"],
        "origin_city": [cities.get(code) for code in partials["Origin"]],
    } | {c: partials[c] for c in _PARTIALS})
    by_city = rollup(keyed, ("airline_name", "month", "origin_city"), tuple(_PARTIALS))
    by_month = rollup(by_city, ("airline_name", "month"), tuple(_PARTIALS)).columns
    hubs = {city: (lat, lon) for city, lat, lon in seeds.AIRPORT_COORDS}
    # the inner join on the hub coordinates: a null or non-hub city drops
    airport = by_city.take([i for i, city in enumerate(by_city.columns["origin_city"]) if city in hubs]).columns
    coords = [hubs[city] for city in airport["origin_city"]]
    airport["lat"], airport["lon"] = [lat for lat, _ in coords], [lon for _, lon in coords]
    airport["delayed_flights"] = [_divide(units, _UNITS) for units in airport["DepDel15_sum"]]
    airline = by_month | {f"{c}_sum": [_divide(units, _UNITS) for units in by_month[f"{c}_sum"]] for c in _DECIMAL_SUMS}
    mean = map(_divide, airline["DepDelayMinutes_sum"], airline["DepDelayMinutes_count"])
    late = map(_divide, airline["DepDel15_sum"], airline["DepDel15_count"])
    airline |= {"DepDelayMinutes_mean": list(mean), "on_time_rate": [None if r is None else 1.0 - r for r in late]}
    return {
        name: Table({c: columns[c] for c in schema.fieldNames()})
        for (name, schema), columns in zip(CACHES.items(), (airline, airport), strict=True)
    }
