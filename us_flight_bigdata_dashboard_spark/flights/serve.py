"""Serving layer (E3): interactive dashboard queries over the cached
aggregates (src/app.py:29-168).

Design identical to the reference in spirit: all queries run over the two
small additive caches (never base data), one shared filter predicate feeds
every chart (the "联动" linkage, P9), and each chart is an independent
query. The caches live in the driver (``io.read_cache_csv``), bounded by
airline × month × city, so every function here is a pure pandas function
over ``io.Table`` caches: a request submits no Spark job and keeps no state.
Semantics follow the Spark SQL they replace: null group keys form their
own group, an aggregate over no non-null value is null, and ascending
orders put nulls first.

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

import numpy as np
import pandas as pd

from us_flight_bigdata_dashboard_spark.flights.io import Table

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

    def _filter(table: Table) -> Table:
        df = table.frame
        keep = np.ones(len(df), dtype=bool)
        if months is not None:
            keep &= df["month"].isin(months).to_numpy()
        if airlines is not None:
            keep &= df["airline_name"].isin(airlines).to_numpy()
        return Table(df[keep])

    return _filter(airline_cache), _filter(airport_cache)


def _distinct_sorted(column: pd.Series) -> list:
    distinct = column.drop_duplicates().sort_values(na_position="first")
    return distinct.to_numpy(dtype=object, na_value=None).tolist()


def filter_options(airline_cache: Table) -> tuple[list[int], list[str]]:
    """A11/O3: distinct sorted widget options (src/app.py:56,62)."""
    df = airline_cache.frame
    return _distinct_sorted(df["month"]), _distinct_sorted(df["airline_name"])


def kpis(filtered_airline: Table) -> dict[str, float]:
    """A5/A6: total/delayed/cancelled counts + flight-weighted OTP% with
    zero-denominator guard (src/app.py:94-97)."""
    df = filtered_airline.frame
    total = int(df["DepDel15_count"].sum())
    wsum = (df["on_time_rate"] * df["DepDel15_count"]).sum()
    return {
        "total_flights": total,
        "on_time_pct": float(wsum / total * 100.0) if total > 0 else 0.0,
        "delayed_flights": float(df["DepDel15_sum"].sum()),
        "cancelled_flights": int(df["Is_Cancelled_sum"].sum()),
    }


def _group_mean(df: pd.DataFrame, key: str, value: str, weighted: bool) -> pd.Series:
    """Per-``key`` mean of ``value``; with ``weighted``, Σ(value·flights) /
    Σflights, null where a group's flights sum to zero."""
    if not weighted:
        return df.groupby(key, dropna=False)[value].mean()
    flights = df["DepDel15_count"]
    num = (df[value] * flights).groupby(df[key], dropna=False).sum(min_count=1)
    den = flights.groupby(df[key], dropna=False).sum(min_count=1)
    return num / den.mask(den == 0)


def airline_rank(filtered_airline: Table, weighted: bool = False) -> Table:
    """A7/O2: airlines ranked by mean departure delay, ascending (best
    first), ties by name. Default faithfully UNWEIGHTED across months
    (quirk Q2, src/app.py:117-118); ``weighted=True`` weights by flight
    count."""
    mean = _group_mean(filtered_airline.frame, "airline_name", "DepDelayMinutes_mean", weighted)
    out = mean.rename("avg_delay_minutes").reset_index()
    return Table(out.sort_values(["avg_delay_minutes", "airline_name"], na_position="first"))


def delay_attribution(filtered_airline: Table) -> Table:
    """A8: four delay-cause totals unpivoted to (cause, minutes) — the
    attribution pie (src/app.py:133-138)."""
    df = filtered_airline.frame
    minutes = pd.array([df[col].sum(min_count=1) for _, col in CAUSES], dtype="Float64")
    return Table(pd.DataFrame({"cause": [cause for cause, _ in CAUSES], "minutes": minutes}))


def monthly_trend(filtered_airline: Table, weighted: bool = False) -> Table:
    """A9/P11: per-month mean on-time rate (unweighted across selected
    airlines by default — quirk Q2, src/app.py:149-150) + 中文 month label."""
    mean = _group_mean(filtered_airline.frame, "month", "on_time_rate", weighted)
    out = mean.rename("avg_on_time_rate").reset_index().sort_values("month", na_position="first")
    out.insert(1, "month_label", out["month"].map(MONTH_LABELS))
    return Table(out)


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
    groups = filtered_airport.frame.groupby(["origin_city", "lat", "lon"], dropna=False)
    out = groups[["total_flights", "delayed_flights"]].sum(min_count=1).reset_index()
    total = out["total_flights"]
    rate = (out["delayed_flights"] / total.mask(total == 0) * 100.0).fillna(0.0)
    rounded = [_round_half_up(r, 2) for r in rate.to_numpy(dtype=float).tolist()]
    out["delay_rate"] = pd.array(rounded, dtype="Float64")
    return Table(out)
