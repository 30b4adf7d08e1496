"""The ``pipeline`` command end to end over the seeded raw CSVs.

Run with and without ``--write-star``, it publishes the same cache rows, and
its summary counts agree with the lazy ``run_pipeline`` outputs. The star it
writes has a month-partitioned fact, and a one-month filter on the wide view
over that star reads one month's fact files only.

The raw reader picks columns by header name: the same rows in BTS column
order, with extra columns, a quoted header and a trailing empty column,
publish the same caches; a file with no ``Cancelled`` column takes the
``ActualElapsedTime`` fallback; and input it cannot read right fails loudly."""

from __future__ import annotations

import contextlib
import csv
import io
import json
import os
import re
import shutil

import numpy as np
import pytest
from conftest import gen_flights_month, write_flights_csv
from py4j.protocol import Py4JJavaError
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


# Real BTS order (about 110 columns): the airline's DOT and IATA ids follow
# ``Reporting_Airline``, airport ids sit before each airport code, and
# ``Cancelled`` comes before ``ActualElapsedTime``. A ``(name, value)`` pair
# is an extra column, with the value every row carries, that the reader must
# skip; the last, unnamed one is the empty field each BTS line ends with.
BTS_ORDER = [
    "Year", "Quarter", "Month", "DayofMonth", "DayOfWeek", "FlightDate", "Reporting_Airline",
    ("DOT_ID_Reporting_Airline", "19805"), ("IATA_CODE_Reporting_Airline", "AA"),
    "Tail_Number", "Flight_Number_Reporting_Airline",
    ("OriginAirportID", "12478"), "Origin", "OriginCityName", "OriginState",
    ("DestAirportID", "12892"), "Dest", "DestCityName", "DestState",
    "CRSDepTime", "DepTime", "DepDelay", "DepDelayMinutes", "DepDel15",
    ("DepartureDelayGroups", "-1"), "DepTimeBlk",
    "Cancelled", ("CancellationCode", ""), ("Diverted", "0.00"),
    "ActualElapsedTime", "AirTime", "Distance",
    "CarrierDelay", "WeatherDelay", "NASDelay", "SecurityDelay", "LateAircraftDelay",
    ("", ""),
]


def write_bts_order(path, rows) -> None:
    """``rows`` as a BTS download lays them out: BTS column order, extra
    columns, every header name quoted and a trailing empty column."""
    columns = [c if isinstance(c, tuple) else (c, None) for c in BTS_ORDER]
    with open(path, "w", newline="") as f:
        csv.writer(f, quoting=csv.QUOTE_ALL).writerow([name for name, _ in columns])
        w = csv.writer(f)
        for r in rows:
            w.writerow([("" if r[name] is None else r[name]) if extra is None else extra for name, extra in columns])


@pytest.fixture(scope="module")
def bts_csv_dir(tmp_path_factory):
    """``flights_csv_dir``'s rows (same seed), in BTS column order."""
    root = tmp_path_factory.mktemp("flights_bts")
    rng = np.random.default_rng(42)
    for month in (1, 2, 3):
        write_bts_order(root / f"2025_{month:02d}.csv", gen_flights_month(rng, month, 2000))
    return str(root)


def _cache_rows(out: str, name: str):
    frame = read_cache_csv(None, f"{out}/{name}", CACHES[name]).frame
    return frame.sort_values(list(frame.columns)).reset_index(drop=True)


@pytest.mark.parametrize("flags", [(), ("--write-star",)], ids=["plain", "star"])
def test_bts_column_order_publishes_the_same_caches(runs, bts_csv_dir, tmp_path, flags):
    summary = run_cli(f"{bts_csv_dir}/2025_0[1-3].csv", str(tmp_path), *flags)
    assert summary == {**runs["plain"][1], "out": str(tmp_path)}
    for name in CACHES:
        assert _cache_rows(str(tmp_path), name).equals(_cache_rows(runs["plain"][0], name))


def test_no_cancelled_column_takes_the_fallback(tmp_path):
    rows = gen_flights_month(np.random.default_rng(7), 1, 2000, with_cancelled=False)
    assert "Cancelled" not in rows[0]
    write_flights_csv(tmp_path / "2025_01.csv", rows)
    run_cli(str(tmp_path / "2025_01.csv"), str(tmp_path / "out"))
    cancelled = sum(r["ActualElapsedTime"] is None for r in rows)
    assert cancelled > 0
    airline = read_cache_csv(None, f"{tmp_path}/out/airline_monthly_performance", AIRLINE_MONTHLY_SCHEMA)
    assert int(airline.frame["Is_Cancelled_sum"].sum()) == cancelled


def test_missing_required_column_is_named(tmp_path):
    rows = [{k: v for k, v in r.items() if k != "Origin"} for r in gen_flights_month(np.random.default_rng(1), 1, 20)]
    write_flights_csv(tmp_path / "2025_01.csv", rows)
    with pytest.raises(ValueError, match="'Origin'"):
        run_cli(str(tmp_path / "2025_01.csv"), str(tmp_path / "out"))


def test_glob_matching_nothing_is_named(tmp_path):
    raw = f"{tmp_path}/2025_0[1-3].csv"
    with pytest.raises(FileNotFoundError, match=re.escape(raw)):
        run_cli(raw, str(tmp_path / "out"))


def test_mixed_header_orders_fail_rather_than_misread(flights_csv_dir, bts_csv_dir, tmp_path):
    raw = tmp_path / "raw"
    raw.mkdir()
    shutil.copy(f"{flights_csv_dir}/2025_01.csv", raw / "2025_01.csv")
    shutil.copy(f"{bts_csv_dir}/2025_02.csv", raw / "2025_02.csv")
    # Spark checks each file's header against the first one's, and fails
    # on the second file
    with pytest.raises(Py4JJavaError, match=r"FAILED_READ_FILE.*/raw/2025_02\.csv") as failed:
        run_cli(f"{raw}/2025_0[1-3].csv", str(tmp_path / "out"))
    cause = failed.value.java_exception
    while cause.getCause() is not None:
        cause = cause.getCause()
    assert "CSV header" in cause.getMessage()
