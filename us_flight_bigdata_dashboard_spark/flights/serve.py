"""Serving layer (E3): interactive dashboard queries over the cached
aggregates (src/app.py:29-168).

Design identical to the reference in spirit: all queries run over the two
small additive caches (never base data), one shared filter predicate feeds
every chart (the "联动" linkage, P9), and each chart is an independent
query. The caches live in the driver (``io.read_cache_csv``), bounded by
airline × month × city, so every function here is a pure function over the
rows of ``io.Table`` caches: a request submits no Spark job and keeps no
state. Semantics follow the Spark SQL they replace, through the grouping
helpers the refresh uses (``io.grouped``, ``io.spark_sum``): null group
keys form their own group, groups come in key order with nulls first, sums
add left to right (so a mean is bit-equal to Spark's ``avg``), and an
aggregate over no non-null value is null.

Quirk Q2 preserved deliberately (SURVEY.md §2.4): the OTP KPI is
flight-WEIGHTED while airline-rank (A7) and monthly-trend (A9) are
UNWEIGHTED means over surviving cache rows — these exact semantics
reproduce the published dashboard numbers bit-for-bit and are golden-tested.
``weighted=True`` variants offer the statistically-correct alternative
(§7 idiomatic upgrade), flagged, never silently substituted.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Row

from us_flight_bigdata_dashboard_spark.flights.io import Table, grouped, nulls_first, spark_sum

MONTH_LABELS = {1: "1月", 2: "2月", 3: "3月"}
# The attribution pie's causes; SecurityDelay is excluded exactly as in the
# reference (src/app.py:133-138).
CAUSES = (
    ("航司原因", "CarrierDelay_sum"),
    ("天气影响", "WeatherDelay_sum"),
    ("空管调度", "NASDelay_sum"),
    ("前序晚到", "LateAircraftDelay_sum"),
)


def apply_shared_filter(
    airline_cache: Table,
    airport_cache: Table,
    months: list[int] | None = None,
    airlines: list[str] | None = None,
) -> tuple[Table, Table]:
    """P9: one conjunctive IN-list predicate applied to both caches
    (src/app.py:83-87). A null month or airline matches no list."""

    def _in(value, allowed) -> bool:
        return allowed is None or (value is not None and value in allowed)

    def _filter(table: Table) -> Table:
        return Table([r for r in table.rows if _in(r["month"], months) and _in(r["airline_name"], airlines)])

    return _filter(airline_cache), _filter(airport_cache)


def filter_options(airline_cache: Table) -> tuple[list[int], list[str]]:
    """A11/O3: distinct sorted widget options (src/app.py:56,62)."""

    def _distinct(column: str) -> list:
        return [key for (key,), _ in grouped(airline_cache.rows, lambda r: (r[column],))]

    return _distinct("month"), _distinct("airline_name")


def _product(a, b):
    return None if a is None or b is None else a * b


def kpis(filtered_airline: Table) -> dict[str, float]:
    """A5/A6: total/delayed/cancelled counts + flight-weighted OTP% with
    zero-denominator guard (src/app.py:94-97); a sum over no value is 0."""
    rows = filtered_airline.rows
    total = spark_sum(r["DepDel15_count"] for r in rows) or 0
    wsum = spark_sum(_product(r["on_time_rate"], r["DepDel15_count"]) for r in rows) or 0.0
    return {
        "total_flights": total,
        "on_time_pct": wsum / total * 100.0 if total > 0 else 0.0,
        "delayed_flights": float(spark_sum(r["DepDel15_sum"] for r in rows) or 0.0),
        "cancelled_flights": spark_sum(r["Is_Cancelled_sum"] for r in rows) or 0,
    }


def _group_means(rows: list[Row], key: str, value: str, weighted: bool) -> list[tuple]:
    """``(key, mean of value)`` per ``key`` group, in key order: Spark's
    ``avg``; with ``weighted``, Σ(value·flights) / Σflights, null where a
    group's flights sum to zero."""
    out = []
    for (k,), group in grouped(rows, lambda r: (r[key],)):
        if weighted:
            num = spark_sum(_product(r[value], r["DepDel15_count"]) for r in group)
            den = spark_sum(r["DepDel15_count"] for r in group)
            mean = None if num is None or not den else num / den
        else:
            values = [r[value] for r in group if r[value] is not None]
            mean = spark_sum(values) / len(values) if values else None
        out.append((k, mean))
    return out


_RANK = Row("airline_name", "avg_delay_minutes")
_TREND = Row("month", "month_label", "avg_on_time_rate")
_CAUSE = Row("cause", "minutes")
_CITY = Row("origin_city", "lat", "lon", "total_flights", "delayed_flights", "delay_rate")


def airline_rank(filtered_airline: Table, weighted: bool = False) -> Table:
    """A7/O2: airlines ranked by mean departure delay, ascending (best
    first), ties by name, nulls first. Default faithfully UNWEIGHTED across
    months (quirk Q2, src/app.py:117-118); ``weighted=True`` weights by
    flight count."""
    means = _group_means(filtered_airline.rows, "airline_name", "DepDelayMinutes_mean", weighted)
    return Table([_RANK(*m) for m in sorted(means, key=lambda m: nulls_first(m[::-1]))])


def delay_attribution(filtered_airline: Table) -> Table:
    """A8: four delay-cause totals unpivoted to (cause, minutes) — the
    attribution pie (src/app.py:133-138)."""
    rows = filtered_airline.rows
    return Table([_CAUSE(cause, spark_sum(r[col] for r in rows)) for cause, col in CAUSES])


def monthly_trend(filtered_airline: Table, weighted: bool = False) -> Table:
    """A9/P11: per-month mean on-time rate (unweighted across selected
    airlines by default — quirk Q2, src/app.py:149-150) + 中文 month label."""
    means = _group_means(filtered_airline.rows, "month", "on_time_rate", weighted)
    return Table([_TREND(month, MONTH_LABELS.get(month), mean) for month, mean in means])


def _round_half_up(value: float, digits: int) -> float:
    """Spark's ``round``: half away from zero on the shortest decimal form
    of the double (Python's ``round`` is half-even on its binary value);
    NaN and infinities pass through."""
    if not math.isfinite(value):
        return value
    return float(Decimal(repr(value)).quantize(Decimal(1).scaleb(-digits), ROUND_HALF_UP))


def geo_rollup(filtered_airport: Table) -> Table:
    """A10 + P10: city-level rollup of the (airline, month, city) cache —
    the additive re-aggregation that powers the map (src/app.py:161-168);
    delay_rate% guarded and rounded as in the reference."""
    out = []
    for key, group in grouped(filtered_airport.rows, lambda r: (r["origin_city"], r["lat"], r["lon"])):
        total = spark_sum(r["total_flights"] for r in group)
        delayed = spark_sum(r["delayed_flights"] for r in group)
        rate = 0.0 if not total or delayed is None else _round_half_up(delayed / total * 100.0, 2)
        out.append(_CITY(*key, total, delayed, rate))
    return Table(out)
