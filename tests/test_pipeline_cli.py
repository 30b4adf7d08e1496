"""The ``pipeline`` command end to end over the seeded raw CSVs.

Run with and without ``--write-star``, it publishes the same cache rows, and
its summary counts agree with the lazy ``run_pipeline`` outputs. The
``serve`` command reads the caches it publishes. The star it writes has a
month-partitioned fact, and a one-month filter on the wide view over that
star reads one month's fact files only.

The raw reader picks columns by header name: the same rows in BTS column
order, with extra columns, a quoted header and a trailing empty column,
publish the same caches; a file with no ``Cancelled`` column takes the
``ActualElapsedTime`` fallback; and input it cannot read right fails loudly.

The caches are derived in the driver from one aggregation: every double
equals the lazy Spark aggregates' bit for bit, on delays with up to four
decimals, and a delay past the exact sums' bound fails the refresh rather
than vanish from a sum. Each cache is published atomically: a reader
polling during refreshes sees the old cache or the new one, and a first
publish over Spark's writer layout leaves no stale file. Building a
refresh's Spark plans takes a few hundred py4j round trips.

The dims are derived in the driver from the same aggregation, and written
there: each equals ``star.build_star``'s, schema and rows, on input with two
spellings of one airport, null codes, cities and states, non-ASCII cities
and an unnamed carrier, and replaces a Spark-written dim cleanly."""

from __future__ import annotations

import contextlib
import csv
import io
import json
import os
import re
import shutil
import threading

import numpy as np
import pytest
from conftest import gen_flights_month, write_flights_csv
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from us_flight_bigdata_dashboard_spark.__main__ import main
from us_flight_bigdata_dashboard_spark.flights import seeds
from us_flight_bigdata_dashboard_spark.flights.agg import write_cache
from us_flight_bigdata_dashboard_spark.flights.clean import DELAY_CAUSE_COLS
from us_flight_bigdata_dashboard_spark.flights.io import read_cache_csv
from us_flight_bigdata_dashboard_spark.flights.pipeline import refresh, run_pipeline
from us_flight_bigdata_dashboard_spark.flights.schemas import CACHES
from us_flight_bigdata_dashboard_spark.flights.star import write_star
from us_flight_bigdata_dashboard_spark.flights.views import wide_view


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
        plain, star = (_cache_rows(runs[k][0], name) for k in ("plain", "star"))
        assert len(plain) > 0
        assert plain == star


def test_serve_reads_what_the_refresh_publishes(runs):
    """``serve`` over the directory a ``--write-star`` refresh published,
    star and all: the dashboard counts every cleaned flight, and names only
    the seeds' airlines and hub cities."""
    out, summary = runs["star"]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert main(["serve", "--cache-dir", out]) == 0
    served = json.loads(buf.getvalue())
    total = served["kpis"]["total_flights"]
    assert total == summary["rows_cleaned"] == 6000 and isinstance(total, int)
    assert [r["month"] for r in served["monthly_trend"]] == [1, 2, 3]
    names = {name for _, name in seeds.AIRLINE_NAMES}
    assert all(r["airline_name"] in names for r in served["airline_rank"] if r["airline_name"] is not None)
    hubs = {city for city, _, _ in seeds.AIRPORT_COORDS}
    assert len(hubs) == 12
    assert all(r["origin_city"] in hubs for r in served["geo_rollup"])


def test_star_layout(runs):
    assert not os.path.exists(f"{runs['plain'][0]}/star")
    star = f"{runs['star'][0]}/star"
    assert sorted(os.listdir(star)) == ["dim_airlines", "dim_airports", "dim_calendar", "fact_flights"]
    fact = f"{star}/fact_flights"
    assert sorted(d for d in os.listdir(fact) if os.path.isdir(f"{fact}/{d}")) == ["month=1", "month=2", "month=3"]


def test_dim_files_keep_their_arrow_types(runs):
    """Each dim's parquet file holds the Arrow types Spark gives the dim's
    source columns, and every field is nullable, as in a dim Spark writes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    calendar = ["year", "quarter", "month", "day_of_month", "day_of_week", "is_weekend"]
    want = {
        "dim_airports": [("airport_code", pa.string()), ("city_name", pa.string()), ("state_code", pa.string())],
        "dim_airlines": [("airline_code", pa.string())],
        "dim_calendar": [("date_key", pa.date32()), *((name, pa.int32()) for name in calendar)],
    }
    for name, fields in want.items():
        schema = pq.read_schema(f"{runs['star'][0]}/star/{name}/part-00000.parquet")
        assert [(f.name, f.type) for f in schema] == fields, name
        assert all(f.nullable for f in schema), name


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


def _cache_rows(out: str, name: str) -> list[tuple]:
    """A cache's rows as tuples, sorted (null first)."""
    return sorted(map(tuple, read_cache_csv(None, f"{out}/{name}", CACHES[name]).collect()), key=_null_first)


@pytest.mark.parametrize("flags", [(), ("--write-star",)], ids=["plain", "star"])
def test_bts_column_order_publishes_the_same_caches(runs, bts_csv_dir, tmp_path, flags):
    summary = run_cli(f"{bts_csv_dir}/2025_0[1-3].csv", str(tmp_path), *flags)
    assert summary == {**runs["plain"][1], "out": str(tmp_path)}
    for name in CACHES:
        assert _cache_rows(str(tmp_path), name) == _cache_rows(runs["plain"][0], name)


def test_no_cancelled_column_takes_the_fallback(tmp_path):
    rows = gen_flights_month(np.random.default_rng(7), 1, 2000, with_cancelled=False)
    assert "Cancelled" not in rows[0]
    write_flights_csv(tmp_path / "2025_01.csv", rows)
    run_cli(str(tmp_path / "2025_01.csv"), str(tmp_path / "out"))
    cancelled = sum(r["ActualElapsedTime"] is None for r in rows)
    assert cancelled > 0
    airline = read_cache_csv(None, f"{tmp_path}/out/airline_monthly_performance", CACHES["airline_monthly_performance"])
    assert sum(r["Is_Cancelled_sum"] for r in airline.collect()) == cancelled


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


# doubles whose 4-decimal quantization sits on a .00005 boundary
BOUNDARY = [0.00005, 2.00015, 12.34565, 99.99995]


@pytest.fixture(scope="module")
def fine_csv_dir(tmp_path_factory):
    """Two months whose delays and causes carry 1-4 decimals, one in ten on
    a quantization boundary, and whose carrier ``ZZ`` (about one flight in
    twenty) has no name in ``seeds.AIRLINE_NAMES``."""
    root = tmp_path_factory.mktemp("flights_fine")
    rng = np.random.default_rng(11)

    def fine() -> float:
        if rng.random() < 0.1:
            return float(rng.choice(BOUNDARY))
        return round(float(rng.uniform(0, 90)), int(rng.integers(1, 5)))

    for month in (1, 2):
        rows = gen_flights_month(rng, month, 600)
        for r in rows:
            if rng.random() < 0.05:
                r["Reporting_Airline"] = "ZZ"
            if r["DepDelayMinutes"] is not None:
                r["DepDelayMinutes"] = fine()
                r.update({c: fine() for c in DELAY_CAUSE_COLS})
        write_flights_csv(root / f"2025_{month:02d}.csv", rows)
    return str(root)


def _sorted_rows(rows) -> list[tuple]:
    """``rows`` as tuples, in key order (null first)."""
    return sorted((tuple(r) for r in rows), key=lambda t: [(v is not None, v) for v in t[:3]])


def test_caches_equal_the_spark_aggregates_bit_for_bit(spark, fine_csv_dir, tmp_path):
    raw = f"{fine_csv_dir}/2025_0[1-2].csv"
    run_cli(raw, str(tmp_path))
    lazy = run_pipeline(spark, raw)
    got = {name: read_cache_csv(None, f"{tmp_path}/{name}", schema) for name, schema in CACHES.items()}
    for name, df in (("airline_monthly_performance", lazy.airline_monthly), ("airport_performance", lazy.airport_perf)):
        assert list(got[name].collect()[0].asDict()) == CACHES[name].fieldNames()
        # ``==`` on every double: no tolerance
        assert _sorted_rows(got[name].collect()) == _sorted_rows(df.collect()), name
    # ZZ, one group a month
    assert sum(r["airline_name"] is None for r in got["airline_monthly_performance"].collect()) == 2
    assert "Dallas/Fort Worth, TX" in {r["origin_city"] for r in got["airport_performance"].collect()}


def test_a_delay_past_the_exact_sums_bound_fails_the_refresh(spark, flights_csv_dir, tmp_path):
    """One ``DepDelayMinutes`` of 10¹⁴, past the bound of the grouped
    pass's exact sums (|addend| < 10¹⁴): the refresh raises (ANSI mode)
    rather than drop the addend or wrap the sum, and neither published
    cache is replaced."""
    out = str(tmp_path / "out")
    refresh(spark, f"{flights_csv_dir}/2025_01.csv", out)
    published = {name: (os.listdir(f"{out}/{name}"), _cache_bytes(out, name)) for name in CACHES}
    rows = gen_flights_month(np.random.default_rng(5), 1, 200)
    next(r for r in rows if r["DepDelayMinutes"] is not None)["DepDelayMinutes"] = 1e14
    write_flights_csv(tmp_path / "2025_01.csv", rows)
    with pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE"):
        refresh(spark, str(tmp_path / "2025_01.csv"), out)
    assert {name: (os.listdir(f"{out}/{name}"), _cache_bytes(out, name)) for name in CACHES} == published


def _cache_bytes(out: str, name: str) -> bytes:
    with open(f"{out}/{name}/part-00000.csv", "rb") as f:
        return f.read()


def test_a_refresh_builds_its_plans_in_few_py4j_round_trips(spark, raw, tmp_path, monkeypatch):
    """A warm ``--write-star`` refresh makes at most 500 py4j calls, each a
    socket round trip to the JVM: its plans are built from SQL text, which
    Spark parses in one call, not from one call per ``F.*`` function,
    ``Column`` operator, list element and ``withColumn``."""
    from py4j.clientserver import ClientServerConnection

    refresh(spark, raw, str(tmp_path / "warm"), with_star=True)
    calls = 0
    send = ClientServerConnection.send_command

    def counting(connection, command):
        nonlocal calls
        calls += 1
        return send(connection, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    refresh(spark, raw, str(tmp_path / "out"), with_star=True)
    monkeypatch.undo()
    assert 0 < calls <= 500, calls


def test_first_publish_replaces_the_spark_writer_layout(spark, flights_csv_dir, raw, runs, tmp_path):
    # Spark's layout, holding other rows: the caches of January alone
    stale = run_pipeline(spark, f"{flights_csv_dir}/2025_01.csv")
    write_cache(stale.airline_monthly, f"{tmp_path}/airline_monthly_performance")
    write_cache(stale.airport_perf, f"{tmp_path}/airport_performance")
    run_cli(raw, str(tmp_path))
    for name in CACHES:
        assert os.listdir(f"{tmp_path}/{name}") == ["part-00000.csv"]
        assert _cache_rows(str(tmp_path), name) == _cache_rows(runs["plain"][0], name)


def test_a_reader_during_refreshes_sees_the_old_or_the_new_cache(spark, flights_csv_dir, tmp_path):
    """Refreshes alternate between two inputs while a thread reads both
    caches in a loop: every read succeeds and equals one of the two
    versions."""
    out = str(tmp_path)
    raws = [f"{flights_csv_dir}/2025_01.csv", f"{flights_csv_dir}/2025_0[1-3].csv"]
    versions = {name: [] for name in CACHES}
    for r in raws:
        refresh(spark, r, out)
        for name in CACHES:
            versions[name].append(_cache_rows(out, name))
    seen = {name: [0, 0] for name in CACHES}
    bad: list[str] = []
    stop = threading.Event()

    def poll():
        while not stop.is_set():
            for name in CACHES:
                try:
                    rows = _cache_rows(out, name)
                except (OSError, ValueError) as e:  # a missing or unreadable cache
                    bad.append(f"{name}: {e!r}")
                    continue
                match = [i for i, v in enumerate(versions[name]) if rows == v]
                if match:
                    seen[name][match[0]] += 1
                else:
                    bad.append(f"{name}: {len(rows)} rows, neither version")

    reader = threading.Thread(target=poll)
    reader.start()
    try:
        for r in raws * 2:
            refresh(spark, r, out)
    finally:
        stop.set()
        reader.join(timeout=60)
    assert not reader.is_alive()
    assert not bad, bad[:5]
    # the reader ran across the publishes
    assert all(n > 0 for counts in seen.values() for n in counts), seen


DIMS = ("dim_airports", "dim_airlines", "dim_calendar")


@pytest.fixture(scope="module")
def quirky_csv_dir(tmp_path_factory):
    """Two months with the input the dims must group as Spark does: ``DFW``
    spelled two ways (the smaller, non-hub one wins), ``ORD`` with a null
    dest city (null sorts first, so ``ORD`` flights get a null city),
    ``SEA`` with a null state, ``TPA`` also spelled ``Ãampa, FL`` (which
    sorts after ``Tampa, FL`` by code point, not before it as in a locale
    collation), ``MSY`` only under a non-ASCII name, some null ``Origin``
    codes, carriers ``ZZ`` (no name) and null, and ``2025-01-15`` (a
    Wednesday) also given ``DayOfWeek`` 7 (the smaller tuple wins)."""
    root = tmp_path_factory.mktemp("flights_quirky")
    rng = np.random.default_rng(13)
    for month in (1, 2):
        rows = gen_flights_month(rng, month, 800)
        for i, r in enumerate(rows):
            for side in ("Origin", "Dest"):
                code, city, state = side, f"{side}CityName", f"{side}State"
                if r[code] == "DFW" and i % 3 == 0:
                    r[city] = "Dallas-Fort Worth, TX"
                elif r[code] == "SEA" and i % 5 == 0:
                    r[state] = None
                elif r[code] == "TPA" and i % 2 == 0:
                    r[city] = "Ãampa, FL"
                elif r[code] == "MSY":
                    r[city] = "Nouvelle-Orléans, LA"
            if r["Dest"] == "ORD" and i % 50 == 0:
                r["DestCityName"] = None
            if i % 97 == 0:
                r["Origin"] = None
            if i % 19 == 0:
                r["Reporting_Airline"] = "ZZ" if i % 2 else None
            if r["FlightDate"] == "2025-01-15" and i % 2 == 0:
                r["DayOfWeek"] = 7
        write_flights_csv(root / f"2025_{month:02d}.csv", rows)
    return str(root)


def _null_first(row) -> list:
    return [(v is not None, v) for v in row]


@pytest.mark.parametrize("flags", [(), ("--write-star",)], ids=["plain", "star"])
def test_driver_dims_and_caches_equal_sparks(spark, quirky_csv_dir, tmp_path, flags):
    raw = f"{quirky_csv_dir}/2025_0[1-2].csv"
    summary = run_cli(raw, str(tmp_path), *flags)
    lazy = run_pipeline(spark, raw)
    assert summary["rows_cleaned"] == lazy.clean.count() == 1600
    got = {name: read_cache_csv(None, f"{tmp_path}/{name}", schema) for name, schema in CACHES.items()}
    for name, df in (("airline_monthly_performance", lazy.airline_monthly), ("airport_performance", lazy.airport_perf)):
        assert _sorted_rows(got[name].collect()) == _sorted_rows(df.collect()), name
    cities = {r["origin_city"] for r in got["airport_performance"].collect()}
    # ORD's null dest city wins its min, DFW's other spelling is not a hub
    assert "Chicago, IL" not in cities and "Dallas/Fort Worth, TX" not in cities and "Atlanta, GA" in cities
    if not flags:
        assert not os.path.exists(f"{tmp_path}/star")
        return
    for name in DIMS:
        dim, want = spark.read.parquet(f"{tmp_path}/star/{name}"), lazy.star[name]
        assert [(f.name, f.dataType) for f in dim.schema] == [(f.name, f.dataType) for f in want.schema], name
        # as Spark reads back a dim it wrote
        assert all(f.nullable for f in dim.schema), name
        assert sorted(map(tuple, dim.collect()), key=_null_first) == sorted(map(tuple, want.collect()), key=_null_first)
    calendar = spark.read.parquet(f"{tmp_path}/star/dim_calendar").collect()
    assert calendar == lazy.star["dim_calendar"].collect()
    # date_key is the calendar's key: one row per date, the smaller tuple
    assert len({r.date_key for r in calendar}) == len(calendar)
    assert {r.date_key.isoformat(): r.day_of_week for r in calendar}["2025-01-15"] == 3
    airports = {r.airport_code: (r.city_name, r.state_code) for r in spark.read.parquet(f"{tmp_path}/star/dim_airports").collect()}
    assert airports["DFW"] == ("Dallas-Fort Worth, TX", "TX") and airports["ORD"] == (None, "IL")
    assert airports["SEA"] == ("Seattle, WA", None) and airports["TPA"] == ("Tampa, FL", "FL")
    assert airports["MSY"] == ("Nouvelle-Orléans, LA", "LA") and None in airports
    airlines = {r.airline_code for r in spark.read.parquet(f"{tmp_path}/star/dim_airlines").collect()}
    assert {"ZZ", None} <= airlines


def test_dims_replace_the_spark_writer_layout(spark, flights_csv_dir, raw, tmp_path):
    # Spark's layout, holding other rows: the star of January alone
    write_star(run_pipeline(spark, f"{flights_csv_dir}/2025_01.csv").star, f"{tmp_path}/star")
    for name in DIMS:
        files = os.listdir(f"{tmp_path}/star/{name}")
        assert "_SUCCESS" in files and any(f.endswith(".crc") for f in files)
        assert any(re.fullmatch(r"part-.*-c000\.snappy\.parquet", f) for f in files)
    run_cli(raw, str(tmp_path), "--write-star")
    star = run_pipeline(spark, raw).star
    for name in DIMS:
        assert os.listdir(f"{tmp_path}/star/{name}") == ["part-00000.parquet"]
        got = spark.read.parquet(f"{tmp_path}/star/{name}").collect()
        assert sorted(map(tuple, got), key=_null_first) == sorted(map(tuple, star[name].collect()), key=_null_first)
    assert spark.read.parquet(f"{tmp_path}/star/dim_calendar").count() == 90
