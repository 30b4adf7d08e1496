"""The ``pipeline`` command end to end over the seeded raw CSVs.

Run with and without ``--write-star``, it publishes the same cache rows, and
its summary counts agree with the lazy ``run_pipeline`` outputs. The star it
writes has a month-partitioned fact, and a one-month filter on the wide view
over that star reads one month's fact files only."""

from __future__ import annotations

import contextlib
import io
import json
import os

import pytest
from pyspark.sql import functions as F

from us_flight_bigdata_dashboard_spark.__main__ import main
from us_flight_bigdata_dashboard_spark.flights import seeds
from us_flight_bigdata_dashboard_spark.flights.io import read_cache_csv
from us_flight_bigdata_dashboard_spark.flights.pipeline import run_pipeline
from us_flight_bigdata_dashboard_spark.flights.schemas import AIRLINE_MONTHLY_SCHEMA, AIRPORT_PERFORMANCE_SCHEMA
from us_flight_bigdata_dashboard_spark.flights.views import wide_view

CACHES = {"airline_monthly_performance": AIRLINE_MONTHLY_SCHEMA, "airport_performance": AIRPORT_PERFORMANCE_SCHEMA}


def run_cli(raw: str, out: str, *flags: str) -> dict:
    """``pipeline`` through ``main``; its summary JSON line."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert main(["pipeline", "--raw", raw, "--out", out, *flags]) == 0
    return json.loads(buf.getvalue().strip().splitlines()[-1])


@pytest.fixture(scope="module")
def raw(flights_csv_dir):
    return f"{flights_csv_dir}/2025_0[1-3].csv"


@pytest.fixture(scope="module")
def runs(spark, raw, tmp_path_factory):
    root = tmp_path_factory.mktemp("pipeline_cli")
    flags = {"plain": (), "star": ("--write-star",)}
    return {name: (str(root / name), run_cli(raw, str(root / name), *f)) for name, f in flags.items()}


def test_summary_matches_lazy_outputs(spark, raw, runs):
    lazy = run_pipeline(spark, raw)
    expected = {
        "rows_cleaned": lazy.clean.count(),
        "airline_monthly_rows": lazy.airline_monthly.count(),
        "airport_perf_rows": lazy.airport_perf.count(),
    }
    assert expected["rows_cleaned"] == 6000
    for out, summary in runs.values():
        assert summary == {**expected, "out": out}


def test_both_runs_publish_identical_cache_rows(runs):
    for name, schema in CACHES.items():
        plain, star = (read_cache_csv(None, f"{runs[k][0]}/{name}", schema).frame for k in ("plain", "star"))
        keys = list(plain.columns)
        assert len(plain) > 0
        assert plain.sort_values(keys).reset_index(drop=True).equals(star.sort_values(keys).reset_index(drop=True))


def test_star_layout(runs):
    assert not os.path.exists(f"{runs['plain'][0]}/star")
    star = f"{runs['star'][0]}/star"
    assert sorted(os.listdir(star)) == ["dim_airlines", "dim_airports", "dim_calendar", "fact_flights"]
    fact = f"{star}/fact_flights"
    assert sorted(d for d in os.listdir(fact) if os.path.isdir(f"{fact}/{d}")) == ["month=1", "month=2", "month=3"]


def _fact_files_scanned(plan) -> int:
    """``numFiles`` of the fact-table scans in an executed plan."""
    total, stack = 0, [plan]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if kind == "FileSourceScanExec" and "fact_flights" in node.relation().location().rootPaths().toString():
            total += int(node.metrics().get("numFiles").get().value())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return total


def test_single_month_view_prunes_fact_partitions(spark, runs):
    star = f"{runs['star'][0]}/star"
    read = spark.read.parquet
    wide = wide_view(
        read(f"{star}/fact_flights"),
        seeds.dim_airline_names(spark),
        read(f"{star}/dim_airports"),
        read(f"{star}/dim_calendar"),
    )
    df = wide.filter(F.col("month") == 1).groupBy("origin_city").agg(F.avg("DepDel15"))
    assert len(df.collect()) == 18
    scanned = _fact_files_scanned(df._jdf.queryExecution().executedPlan())
    assert scanned == 1
    assert scanned == len([f for f in os.listdir(f"{star}/fact_flights/month=1") if f.endswith(".parquet")])
