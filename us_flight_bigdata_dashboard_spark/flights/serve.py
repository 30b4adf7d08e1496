"""Serving layer (E3): interactive dashboard queries over the cached
aggregates (src/app.py:29-168).

Design identical to the reference in spirit: all queries run over the two
small additive caches (never base data), one shared filter predicate feeds
every chart (the "联动" linkage, P9), and each chart is an independent
query. The caches live in the driver (``io.read_cache_csv``), bounded by
airline × month × city, so every function here is a pure function over the
columns of ``io.Table`` caches: the filter finds the kept row positions
once (``Table.take``), totals run over whole columns, and every per-group
sum is one ``io.rollup``, the additive rollup the refresh builds the caches
with: the map sums flights per city, and a mean is the rollup of a
numerator and a denominator column, then one divide. No value is looked up
by name per row. A request submits no Spark job and keeps no state.
Semantics follow the Spark SQL they replace: null group keys form their own
group, groups come in key order with nulls first, sums add left to right
(so a mean is bit-equal to Spark's ``avg``), and an aggregate over no
non-null value is null.

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

from us_flight_bigdata_dashboard_spark.flights.io import Table, nulls_first, rollup, spark_sum

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
    # a set without None: a null key is in no IN-list, even one naming None
    month_set = None if months is None else set(months) - {None}
    airline_set = None if airlines is None else set(airlines) - {None}

    def _filter(table: Table) -> Table:
        keep = [i for i, (m, a) in enumerate(zip(table.columns["month"], table.columns["airline_name"]))
                if (month_set is None or m in month_set) and (airline_set is None or a in airline_set)]
        return table.take(keep)

    return _filter(airline_cache), _filter(airport_cache)


def filter_options(airline_cache: Table) -> tuple[list[int], list[str]]:
    """A11/O3: distinct sorted widget options (src/app.py:56,62)."""
    return tuple(rollup(airline_cache, (key,)).columns[key] for key in ("month", "airline_name"))


def _product(a, b):
    return None if a is None or b is None else a * b


def kpis(filtered_airline: Table) -> dict[str, float]:
    """A5/A6: total/delayed/cancelled counts + flight-weighted OTP% with
    zero-denominator guard (src/app.py:94-97); a sum over no value is 0."""
    c = filtered_airline.columns
    total = spark_sum(c["DepDel15_count"]) or 0
    wsum = spark_sum(map(_product, c["on_time_rate"], c["DepDel15_count"])) or 0.0
    return {
        "total_flights": total,
        "on_time_pct": wsum / total * 100.0 if total > 0 else 0.0,
        "delayed_flights": float(spark_sum(c["DepDel15_sum"]) or 0.0),
        "cancelled_flights": spark_sum(c["Is_Cancelled_sum"]) or 0,
    }


def _group_means(table: Table, key: str, value: str, weighted: bool) -> list[tuple]:
    """``(key, mean of value)`` per ``key`` group, in key order: one
    ``rollup`` of a numerator and a denominator. Unweighted, the values
    over a 1 per non-null value: Spark's ``avg``. With ``weighted``,
    Σ(value·flights) over Σflights, null where a group's flights sum to
    zero."""
    c = table.columns
    if weighted:
        num, den = list(map(_product, c[value], c["DepDel15_count"])), c["DepDel15_count"]
    else:
        num, den = c[value], [None if v is None else 1 for v in c[value]]
    sums = rollup(Table({key: c[key], "num": num, "den": den}), (key,), ("num", "den")).columns
    return [(k, None if s is None or not n else s / n) for k, s, n in zip(sums[key], sums["num"], sums["den"])]


def _table(names: tuple[str, ...], rows: list[tuple]) -> Table:
    """``rows``, tuples of ``names``' values, as a ``Table``."""
    return Table({name: [r[i] for r in rows] for i, name in enumerate(names)})


def airline_rank(filtered_airline: Table, weighted: bool = False) -> Table:
    """A7/O2: airlines ranked by mean departure delay, ascending (best
    first), ties by name, nulls first. Default faithfully UNWEIGHTED across
    months (quirk Q2, src/app.py:117-118); ``weighted=True`` weights by
    flight count."""
    means = _group_means(filtered_airline, "airline_name", "DepDelayMinutes_mean", weighted)
    return _table(("airline_name", "avg_delay_minutes"), sorted(means, key=lambda m: nulls_first(m[::-1])))


def delay_attribution(filtered_airline: Table) -> Table:
    """A8: four delay-cause totals unpivoted to (cause, minutes) — the
    attribution pie (src/app.py:133-138)."""
    c = filtered_airline.columns
    return _table(("cause", "minutes"), [(cause, spark_sum(c[col])) for cause, col in CAUSES])


def monthly_trend(filtered_airline: Table, weighted: bool = False) -> Table:
    """A9/P11: per-month mean on-time rate (unweighted across selected
    airlines by default — quirk Q2, src/app.py:149-150) + 中文 month label."""
    means = _group_means(filtered_airline, "month", "on_time_rate", weighted)
    return _table(("month", "month_label", "avg_on_time_rate"), [(m, MONTH_LABELS.get(m), v) for m, v in means])


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
    geo = rollup(filtered_airport, ("origin_city", "lat", "lon"), ("total_flights", "delayed_flights"))
    geo.columns["delay_rate"] = [
        0.0 if not total or delayed is None else _round_half_up(delayed / total * 100.0, 2)
        for total, delayed in zip(geo.columns["total_flights"], geo.columns["delayed_flights"])
    ]
    return geo
