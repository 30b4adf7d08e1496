"""Golden serving-layer tests (FIXTURES.md §3): the E3 queries over the
reference's own shipped caches must reproduce the published dashboard
numbers (verified against png/main.png — SURVEY.md §2.4 Q2 note)."""

from __future__ import annotations

import pytest

from us_flight_bigdata_dashboard_spark.flights.serve import (
    airline_rank,
    apply_shared_filter,
    delay_attribution,
    filter_options,
    geo_rollup,
    kpis,
    monthly_trend,
)

DEFAULT_AIRLINES = ["Alaska Airlines", "Allegiant Air", "American Airlines"]


@pytest.fixture()
def filtered(golden_airline_cache, golden_airport_cache):
    return apply_shared_filter(
        golden_airline_cache, golden_airport_cache, months=[1, 2, 3], airlines=DEFAULT_AIRLINES
    )


def test_kpis_match_published_dashboard(filtered):
    k = kpis(filtered[0])
    assert k["total_flights"] == 312974
    # exact reference formula value (src/app.py:96): Σ(rate·cnt)/Σcnt·100 =
    # 80.48943… → displayed as 80.5% on png/main.png. (FIXTURES.md's
    # "80.4907" was a transcription slip; verified against the shipped
    # cache + the reference's own pandas expression.)
    assert k["on_time_pct"] == pytest.approx(80.48943362707446, abs=5e-6)
    assert k["delayed_flights"] == pytest.approx(61063.0)
    assert k["cancelled_flights"] == 5986


def test_airline_rank_unweighted(filtered):
    rows = airline_rank(filtered[0]).collect()
    assert [r["airline_name"] for r in rows] == [
        "Alaska Airlines",
        "American Airlines",
        "Allegiant Air",
    ]
    assert rows[0]["avg_delay_minutes"] == pytest.approx(10.34, abs=0.005)
    assert rows[1]["avg_delay_minutes"] == pytest.approx(22.14, abs=0.005)
    assert rows[2]["avg_delay_minutes"] == pytest.approx(29.39, abs=0.005)


def test_monthly_trend_unweighted(filtered):
    rows = monthly_trend(filtered[0]).collect()
    got = {r["month"]: r["avg_on_time_rate"] for r in rows}
    assert got[1] == pytest.approx(0.8070, abs=5e-5)
    assert got[2] == pytest.approx(0.7937, abs=5e-5)
    assert got[3] == pytest.approx(0.7994, abs=5e-5)
    labels = {r["month"]: r["month_label"] for r in rows}
    assert labels == {1: "1月", 2: "2月", 3: "3月"}


def test_delay_attribution_shape(filtered):
    rows = delay_attribution(filtered[0]).collect()
    causes = {r["cause"]: r["minutes"] for r in rows}
    assert set(causes) == {"航司原因", "天气影响", "空管调度", "前序晚到"}
    assert all(v > 0 for v in causes.values())


def test_whole_file_invariant(golden_airline_cache):
    total = sum(r["DepDel15_count"] for r in golden_airline_cache.collect())
    assert total == 1645503


def test_filter_options(golden_airline_cache):
    months, airlines = filter_options(golden_airline_cache)
    assert months == [1, 2, 3]
    assert len(airlines) == 14 and airlines[0] == "Alaska Airlines"


def test_geo_rollup_additive(filtered, golden_airport_cache):
    rows = geo_rollup(filtered[1]).collect()
    cities = {r["origin_city"] for r in rows}
    assert len(cities) == 12  # exactly the hub universe
    # additivity: rollup totals equal direct sums over the filtered cache
    direct = sum(r["total_flights"] for r in filtered[1].collect())
    assert sum(r["total_flights"] for r in rows) == direct
    for r in rows:
        assert 0.0 <= r["delay_rate"] <= 100.0


def test_weighted_variants_differ(filtered):
    """§7 idiomatic upgrades exist and are not silently equal to the
    faithful unweighted versions."""
    unw = {r["airline_name"]: r["avg_delay_minutes"] for r in airline_rank(filtered[0]).collect()}
    w = {r["airline_name"]: r["avg_delay_minutes"] for r in airline_rank(filtered[0], weighted=True).collect()}
    assert unw.keys() == w.keys()
    assert any(abs(unw[k] - w[k]) > 1e-9 for k in unw)
