"""The oracles catch wrong answers, and a wrong answer is counted."""

from __future__ import annotations

import copy
import os

import pytest

import gen
import oracle
import run
import workloads


@pytest.fixture(scope="module")
def caches(tmp_path_factory):
    root = tmp_path_factory.mktemp("caches")
    raw = root / "raw"
    gen.write_raw(str(raw), 5, 20_000)
    con = oracle.connect()
    airline, airport = oracle.expected_caches(con, gen.raw_files(str(raw)))
    con.close()
    out = root / "out"
    for name, frame in (("airline_monthly_performance", airline), ("airport_performance", airport)):
        os.makedirs(out / name)
        frame.to_csv(out / name / "part-00000.csv", index=False)
    return str(out), airline, airport


def _response(airline, airport, months, airlines):
    """A response in the shape the benchmark collects from the program."""
    want = oracle.expected_response(airline, airport, months, airlines)
    got = copy.deepcopy(want)
    got["geo_rollup"] = {c: v[:4] + (round(v[4], 2),) for c, v in want["geo_rollup"].items()}
    return got


def test_caches_cover_every_airline_month_and_drop_non_hubs(caches):
    _, airline, airport = caches
    assert len(airline) == len(gen.AIRLINES) * len(gen.MONTHS)
    assert set(airport["origin_city"]) == {c for c, _, _ in gen.HUB_COORDS}


def test_written_caches_match(caches):
    out, airline, airport = caches
    assert oracle.cache_mismatches(out, airline, airport) == []


def test_perturbed_cache_is_caught(caches):
    out, airline, airport = caches
    wrong = airline.copy()
    wrong.loc[0, "on_time_rate"] += 1e-6
    assert oracle.cache_mismatches(out, wrong, airport)


def _serve(out):
    wl = workloads.ServeDashboard(1, 1, os.path.dirname(out), tracer=None)
    wl.out = out
    wl.repeat = []
    return wl


def test_planted_kpi_drives_error_rate_above_zero(caches):
    out, airline, airport = caches
    months, airlines = [1, 3], workloads.AIRLINE_NAMES[:5]
    key = (tuple(months), tuple(airlines))
    good = _response(airline, airport, months, airlines)
    bad = copy.deepcopy(good)
    bad["kpis"]["on_time_pct"] *= 1.001

    report = {"end_to_end": {"setup_s": 1.0, "op_cpu_p50_ms": 1.0}}
    report["attempted"], report["failed"] = run.score(_serve(out), [(key, good), (key, good)], 0)
    assert (report["attempted"], report["failed"]) == (2, 0)
    assert run.result_line(report, traced=False)["correct"] is True

    wl = _serve(out)
    report["attempted"], report["failed"] = run.score(wl, [(key, good), (key, bad)], 1)
    assert (report["attempted"], report["failed"]) == (3, 2) and wl.errors
    line = run.result_line(report, traced=False)
    assert line["correct"] is False and line["failed"] / line["attempted"] > 0  # the run's error_rate


def _refresh(root, raw, airline, airport):
    wl = workloads.PipelineRefresh(1, 20_000, root, tracer=None)
    wl.raw_dir = raw
    wl._expected = (airline, airport)
    wl.outs_root = os.path.join(root, "refresh-outs")
    return wl


def test_planted_refresh_summary_is_caught(caches):
    out, airline, airport = caches
    root = os.path.dirname(out)
    good = {"rows_cleaned": 20_000, "airline_monthly_rows": len(airline), "airport_perf_rows": len(airport)}
    wl = _refresh(root, os.path.join(root, "raw"), airline, airport)
    assert wl.pipeline_mismatches(out, good) == []
    assert run.score(wl, [(out, good)], 0) == (1, 0)

    bad = dict(good, rows_cleaned=19_999)
    assert wl.pipeline_mismatches(out, bad) == ["summary rows_cleaned = 19999, expected 20000"]
    wl = _refresh(root, os.path.join(root, "raw"), airline, airport)
    assert run.score(wl, [(out, good), (out, bad)], 0) == (2, 1) and wl.errors


@pytest.mark.parametrize("chart", ["airline_rank", "monthly_trend", "delay_attribution", "geo_rollup"])
def test_each_chart_is_checked(caches, chart):
    _, airline, airport = caches
    good = _response(airline, airport, [2], workloads.AIRLINE_NAMES)
    bad = copy.deepcopy(good)
    if chart == "geo_rollup":
        city = next(iter(bad[chart]))
        bad[chart][city] = bad[chart][city][:2] + (bad[chart][city][2] + 1,) + bad[chart][city][3:]
    else:
        bad[chart][0] = bad[chart][0][:-1] + (bad[chart][0][-1] + 1.0,)
    want = oracle.expected_response(airline, airport, [2], workloads.AIRLINE_NAMES)
    assert oracle.response_mismatches(good, want) == []
    assert oracle.response_mismatches(bad, want)


def test_weighted_kpi_differs_from_unweighted_trend(caches):
    """The KPI weights months by flights; the trend does not."""
    _, airline, airport = caches
    r = oracle.expected_response(airline, airport, list(gen.MONTHS), workloads.AIRLINE_NAMES)
    unweighted = sum(v for _, _, v in r["monthly_trend"]) / len(r["monthly_trend"]) * 100.0
    assert r["kpis"]["on_time_pct"] != pytest.approx(unweighted, rel=1e-12)


@pytest.mark.parametrize(
    "comm, kind",
    [("C2 CompilerThre", "jit"), ("C1 CompilerThre", "jit"), ("Sweeper thread", "jit"),
     ("GC Thread#3", "gc"), ("G1 Conc#0", "gc"), ("G1 Refine#0", "gc"),
     ("Thread-3", "work"), ("Executor task l", "work"), ("dag-scheduler-e", "work"),
     ("VM Thread", "work"), ("python3", "work")],
)
def test_thread_kinds(comm, kind):
    """JVM thread names (as the kernel truncates them) sort into the CPU
    figures: only ``work`` threads count towards ``op_cpu_p50_ms``."""
    assert run.thread_kind(comm) == kind


def test_cpu_since_survives_threads_that_come_and_go(monkeypatch):
    kinds = {(1, "1"): "work", (1, "2"): "jit", (1, "3"): "work", (1, "4"): "gc"}
    monkeypatch.setattr(run, "_KINDS", kinds)
    before = {(1, "1"): 5_000_000_000, (1, "2"): 9_000_000_000, (1, "4"): 1_000_000_000}
    # the compiler thread 2 ended; work thread 3 started
    after = {(1, "1"): 5_250_000_000, (1, "3"): 50_000_000, (1, "4"): 1_010_000_000}
    got = run.cpu_since(before, after)
    assert got == pytest.approx({"work": 0.3, "jit": 0.0, "gc": 0.01})


def test_cpu_snapshot_sees_this_process():
    snap = run.cpu_snapshot()
    assert (os.getpid(), str(os.getpid())) in snap and all(v >= 0 for v in snap.values())
