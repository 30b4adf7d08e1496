"""The serving path in the driver: the cache reader against Spark's own CSV
reader, the reader's rejection of malformed rows, the one file it reads of
a cache directory, the cache writer's round trip, ``io.rollup`` against
Spark SQL's ``groupBy().agg(sum)``, the ``serve`` command without a JVM,
Spark, numpy, pandas or pyarrow, Spark's null, rounding, ``avg`` and ``sum`` semantics,
columnar charts that look no ``Row`` field up by name, an empty cache, and
a long run of distinct filters that submits no Spark job and keeps no
per-filter state."""

from __future__ import annotations

import csv
import gc
import glob
import json
import os
import random
import shutil
import subprocess
import sys
import threading
import tracemalloc

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from us_flight_bigdata_dashboard_spark import session
from us_flight_bigdata_dashboard_spark.__main__ import main
from us_flight_bigdata_dashboard_spark.flights.agg import write_cache
from us_flight_bigdata_dashboard_spark.flights.io import (
    CACHES,
    Table,
    column_types,
    read_cache_csv,
    rollup,
    write_cache_csv,
)
from us_flight_bigdata_dashboard_spark.flights.serve import (
    CAUSES,
    _round_half_up,
    airline_rank,
    apply_shared_filter,
    delay_attribution,
    filter_options,
    geo_rollup,
    kpis,
    monthly_trend,
)

from conftest import FIXTURES_DIR

DEFAULT_AIRLINES = ["Alaska Airlines", "Allegiant Air", "American Airlines"]
AIRLINE_FIXTURE = os.path.join(FIXTURES_DIR, "airline_monthly_performance.csv")
AIRPORT_FIXTURE = os.path.join(FIXTURES_DIR, "airport_performance.csv")
# each cache's columns, as Spark DDL text
AIRLINE_MONTHLY_SCHEMA, AIRPORT_PERFORMANCE_SCHEMA = CACHES.values()


def _write_csv(path, header, rows) -> str:
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)
    return str(path)


def _fixture_rows():
    with open(AIRLINE_FIXTURE, newline="") as f:
        header, *rows = list(csv.reader(f))
    return header, rows


def test_cli_serve_runs_without_a_jvm(tmp_path, monkeypatch, capsys):
    for name in CACHES:
        os.makedirs(tmp_path / name)
        shutil.copy(os.path.join(FIXTURES_DIR, f"{name}.csv"), tmp_path / name / "part-00000.csv")
        (tmp_path / name / "_SUCCESS").touch()

    def no_jvm(*args, **kwargs):
        raise AssertionError("serve must not start Spark")

    monkeypatch.setattr(session, "get_spark", no_jvm)
    argv = ["serve", "--cache-dir", str(tmp_path), "--months", "1", "2", "3", "--airlines", *DEFAULT_AIRLINES]
    code = main(argv)
    assert code == 0
    out = json.loads(capsys.readouterr().out)
    k = out["kpis"]
    assert k["total_flights"] == 312974 and isinstance(k["total_flights"], int)
    assert k["on_time_pct"] == pytest.approx(80.48943362707446, abs=5e-6)
    assert k["cancelled_flights"] == 5986 and isinstance(k["cancelled_flights"], int)
    ranked = [r["airline_name"] for r in out["airline_rank"]]
    assert ranked == ["Alaska Airlines", "American Airlines", "Allegiant Air"]
    assert [r["month"] for r in out["monthly_trend"]] == [1, 2, 3]
    assert len(out["geo_rollup"]) == 12
    assert all(isinstance(r["total_flights"], int) for r in out["geo_rollup"])


def test_cli_serve_imports_no_pandas(tmp_path):
    for name in CACHES:
        os.makedirs(tmp_path / name)
        shutil.copy(os.path.join(FIXTURES_DIR, f"{name}.csv"), tmp_path / name / "part-00000.csv")
    code = (
        "import sys\n"
        "from us_flight_bigdata_dashboard_spark.__main__ import main\n"
        f"assert main(['serve', '--cache-dir', {str(tmp_path)!r}]) == 0\n"
        "print(sorted({'pandas', 'pyarrow', 'pyspark', 'py4j', 'numpy'} & set(sys.modules)), file=sys.stderr)\n"
    )
    root = os.path.dirname(os.path.dirname(FIXTURES_DIR))
    done = subprocess.run([sys.executable, "-c", code], cwd=root, capture_output=True, text=True, check=True)
    assert json.loads(done.stdout)["kpis"]["total_flights"] == 1645503
    assert done.stderr.strip().splitlines()[-1] == "[]"


def test_unweighted_means_equal_sparks_avg(spark, golden_airline_cache):
    """Seeded filters over the golden airline cache: the unweighted airline
    rank and monthly trend equal, with ``==``, Spark's ``avg`` over the same
    file (one partition, read in file order) filtered the same way."""
    cache = spark.read.option("header", True).schema(AIRLINE_MONTHLY_SCHEMA).csv(AIRLINE_FIXTURE)
    months_all, airlines_all = filter_options(golden_airline_cache)
    rng = random.Random(9)
    for _ in range(40):
        months = rng.sample(months_all, rng.randint(1, len(months_all)))
        airlines = rng.sample(airlines_all, rng.randint(1, len(airlines_all)))
        fa, _ = apply_shared_filter(golden_airline_cache, golden_airline_cache, months=months, airlines=airlines)
        want = cache.filter(F.col("month").isin(months) & F.col("airline_name").isin(airlines))
        for got, key, value in (
            (airline_rank(fa), "airline_name", "DepDelayMinutes_mean"),
            (monthly_trend(fa), "month", "on_time_rate"),
        ):
            spark_avg = dict(want.groupBy(key).agg(F.avg(value)).collect())
            assert {r[0]: r[-1] for r in got.collect()} == spark_avg, (months, airlines, key)


def _with_fractions(path, fixture, columns, rng) -> str:
    """A copy of ``fixture`` at ``path`` whose ``columns`` carry a random
    fraction, so that their sums depend on the order of addition."""
    with open(fixture, newline="") as f:
        header, *rows = list(csv.reader(f))
    at = [header.index(c) for c in columns]
    for r in rows:
        for i in at:
            r[i] = repr(float(r[i]) + rng.random()) if r[i] else r[i]
    return _write_csv(path, header, rows)


@pytest.mark.parametrize("fractional", [False, True], ids=["golden", "fractional"])
def test_sums_equal_spark_sql_sum(spark, tmp_path, fractional):
    """Seeded filters over both caches: the attribution minutes, the KPI
    counts and the map's totals and rounded delay rate equal, with ``==``,
    Spark SQL's ``sum`` and ``round`` over the same files (one partition
    each, read in file order) filtered the same way. The golden caches'
    summed columns hold whole numbers; the fractional copies make every
    sum depend on its order of addition."""
    airline_path, airport_path = AIRLINE_FIXTURE, AIRPORT_FIXTURE
    if fractional:
        rng = random.Random(3)
        airline_sums = ("DepDel15_sum", *(col for _, col in CAUSES))
        airline_path = _with_fractions(tmp_path / "airline.csv", AIRLINE_FIXTURE, airline_sums, rng)
        airport_path = _with_fractions(tmp_path / "airport.csv", AIRPORT_FIXTURE, ("delayed_flights",), rng)

    def read(path, schema):
        df = spark.read.option("header", True).schema(schema).csv(path)
        assert df.rdd.getNumPartitions() == 1
        return df, read_cache_csv(None, path, schema)

    airline, airline_cache = read(airline_path, AIRLINE_MONTHLY_SCHEMA)
    airport, airport_cache = read(airport_path, AIRPORT_PERFORMANCE_SCHEMA)
    sums = ["DepDel15_count", "DepDel15_sum", "Is_Cancelled_sum", *(col for _, col in CAUSES)]
    rate = F.expr(
        "CASE WHEN sum(total_flights) IS NULL OR sum(total_flights) = 0 OR sum(delayed_flights) IS NULL THEN 0.0D"
        " ELSE round(sum(delayed_flights) / sum(total_flights) * 100, 2) END"
    )
    months_all, airlines_all = filter_options(airline_cache)
    rng = random.Random(11)
    for _ in range(40):
        months = rng.sample(months_all, rng.randint(1, len(months_all)))
        airlines = rng.sample(airlines_all, rng.randint(1, len(airlines_all)))
        fa, fp = apply_shared_filter(airline_cache, airport_cache, months=months, airlines=airlines)
        keep = F.col("month").isin(months) & F.col("airline_name").isin(airlines)
        want = airline.filter(keep).agg(*(F.sum(c).alias(c) for c in sums)).first()
        assert [r["minutes"] for r in delay_attribution(fa).collect()] == [want[col] for _, col in CAUSES]
        got = kpis(fa)
        assert got["total_flights"] == want["DepDel15_count"], (months, airlines)
        assert got["delayed_flights"] == want["DepDel15_sum"], (months, airlines)
        assert got["cancelled_flights"] == want["Is_Cancelled_sum"], (months, airlines)
        want_geo = (
            airport.filter(keep)
            .groupBy("origin_city", "lat", "lon")
            .agg(F.sum("total_flights"), F.sum("delayed_flights"), rate)
            .collect()
        )
        assert sorted(map(tuple, geo_rollup(fp).collect())) == sorted(map(tuple, want_geo)), (months, airlines)


def test_serving_looks_up_no_row_field_by_name(monkeypatch, golden_airline_cache, golden_airport_cache):
    """The serving functions compute over the caches' columns: none of them
    looks a value up on a ``Row`` by column name (a search of the row's
    field names per access). ``collect()``, which hands rows to a caller,
    is not called."""
    by_position = Row.__getitem__

    def no_name(row, item):
        if isinstance(item, str):
            raise AssertionError(f"Row field {item!r} looked up by name")
        return by_position(row, item)

    monkeypatch.setattr(Row, "__getitem__", no_name)
    for months, airlines in ((None, None), ([1, 2, 3], DEFAULT_AIRLINES), ([2], ["Delta Air Lines"])):
        fa, fp = apply_shared_filter(golden_airline_cache, golden_airport_cache, months=months, airlines=airlines)
        assert kpis(fa)["total_flights"] > 0
        for chart in (airline_rank(fa), airline_rank(fa, weighted=True), monthly_trend(fa),
                      monthly_trend(fa, weighted=True), delay_attribution(fa), geo_rollup(fp)):
            assert chart.count() > 0


def test_a_header_only_cache_serves_empty_charts(tmp_path):
    """A cache with a header and no row reads as an empty table that keeps
    its column names, so the filter and every chart still run on it."""
    caches = {}
    for fixture, schema in ((AIRLINE_FIXTURE, AIRLINE_MONTHLY_SCHEMA), (AIRPORT_FIXTURE, AIRPORT_PERFORMANCE_SCHEMA)):
        with open(fixture, newline="") as f:
            header = next(csv.reader(f))
        cache = read_cache_csv(None, _write_csv(tmp_path / os.path.basename(fixture), header, []), schema)
        assert cache.count() == 0 and cache.collect() == []
        assert list(cache.columns) == list(column_types(schema))
        caches[fixture] = cache
    airline, airport = caches[AIRLINE_FIXTURE], caches[AIRPORT_FIXTURE]

    assert filter_options(airline) == ([], [])
    for months, airlines in ((None, None), ([1], ["Alaska Airlines"])):
        fa, fp = apply_shared_filter(airline, airport, months=months, airlines=airlines)
        assert list(fa.columns) == list(column_types(AIRLINE_MONTHLY_SCHEMA))
        assert list(fp.columns) == list(column_types(AIRPORT_PERFORMANCE_SCHEMA))
        assert kpis(fa) == {"total_flights": 0, "on_time_pct": 0.0, "delayed_flights": 0.0, "cancelled_flights": 0}
        assert [tuple(r) for r in delay_attribution(fa).collect()] == [(cause, None) for cause, _ in CAUSES]
        for chart in (airline_rank(fa), monthly_trend(fa), geo_rollup(fp)):
            assert chart.count() == 0 and chart.collect() == []


# rows that Spark's CSV writer quotes, writes in E notation and leaves empty
SPARK_WRITTEN_ROWS = [
    ("Alaska Airlines", 1, "Dallas/Fort Worth, TX", 12, 12345678.5, 32.8998, -97.0403),
    (None, 2, "Boise, ID", None, None, 43.5644, -116.2228),
    ("Spirit Airlines", None, "", 3, 1e-9, 27.9755, -82.5332),
]


def test_cache_reader_matches_spark_reader(spark, tmp_path):
    """The part file of Spark's cache writer, read by its path: a quoted
    city with a comma, a double Java writes in E notation, empty fields
    (null, also for a string)."""
    out = str(tmp_path / "airport_performance")
    write_cache(spark.createDataFrame(SPARK_WRITTEN_ROWS, AIRPORT_PERFORMANCE_SCHEMA), out)
    names = os.listdir(out)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    (part,) = glob.glob(os.path.join(out, "part-*.csv"))
    with open(part) as f:
        assert "1.23456785E7" in f.read()

    want = spark.read.option("header", True).schema(AIRPORT_PERFORMANCE_SCHEMA).csv(out).collect()
    got = read_cache_csv(None, part, AIRPORT_PERFORMANCE_SCHEMA).collect()
    assert got == want
    assert got[0]["delayed_flights"] == 12345678.5 and got[2]["origin_city"] is None


def test_a_stray_part_file_beside_the_cache_is_not_read(tmp_path):
    """A cache directory holding the published file and a stray part file
    of Spark's naming with the same rows: only the published file is read,
    so no row is served twice."""
    out = tmp_path / "airline_monthly_performance"
    out.mkdir()
    shutil.copy(AIRLINE_FIXTURE, out / "part-00000.csv")
    shutil.copy(AIRLINE_FIXTURE, out / "part-00000-0a1b-c000.csv")
    cache = read_cache_csv(None, str(out), AIRLINE_MONTHLY_SCHEMA)
    assert cache.count() == 42
    assert cache.columns == read_cache_csv(None, AIRLINE_FIXTURE, AIRLINE_MONTHLY_SCHEMA).columns
    assert kpis(cache)["total_flights"] == 1645503


def test_a_spark_writer_layout_is_not_served_until_republished(spark, tmp_path):
    """A directory in Spark's writer layout only (``agg.write_cache``) has
    no published file: the reader names the one it looks for. Publishing
    the cache with ``write_cache_csv`` replaces the layout, and it reads."""
    out = str(tmp_path / "airport_performance")
    write_cache(spark.createDataFrame(SPARK_WRITTEN_ROWS, AIRPORT_PERFORMANCE_SCHEMA), out)
    with pytest.raises(FileNotFoundError, match="part-00000.csv"):
        read_cache_csv(None, out, AIRPORT_PERFORMANCE_SCHEMA)

    table = Table(dict(zip(column_types(AIRPORT_PERFORMANCE_SCHEMA), map(list, zip(*SPARK_WRITTEN_ROWS)))))
    write_cache_csv(table, out)
    assert os.listdir(out) == ["part-00000.csv"]
    got = read_cache_csv(None, out, AIRPORT_PERFORMANCE_SCHEMA).columns
    assert got == table.columns | {"origin_city": ["Dallas/Fort Worth, TX", "Boise, ID", None]}


def test_cache_writer_round_trips_through_both_readers(spark, tmp_path):
    """``write_cache_csv`` of a ``Table`` reads back with ``read_cache_csv``
    to the same columns, and with Spark's CSV reader and the cache schema
    to the same rows: nulls, a quoted city with a comma, doubles that need
    all 17 digits or E notation, a bigint past 2**53, and a header-only
    table."""
    names = list(column_types(AIRPORT_PERFORMANCE_SCHEMA))
    full = Table(dict(zip(names, map(list, zip(
        ("Alaska Airlines", 1, "Dallas/Fort Worth, TX", 2**62 + 1, 12345678.5, 32.8998, -97.0403),
        (None, 2, "Boise, ID", None, 0.1 + 0.2, 43.5644, None),
        ("Spirit Airlines", None, None, 3, 1e-9, 27.9755, -82.5332),
    )))))
    empty = Table({name: [] for name in names})
    for name, table in (("full", full), ("empty", empty)):
        out = str(tmp_path / name)
        write_cache_csv(table, out)
        assert os.listdir(out) == ["part-00000.csv"]
        got = read_cache_csv(None, out, AIRPORT_PERFORMANCE_SCHEMA)
        assert got.columns == table.columns, name
        want = spark.read.option("header", True).schema(AIRPORT_PERFORMANCE_SCHEMA).csv(out).collect()
        assert want == table.collect(), name


def test_concurrent_publishes_are_atomic(tmp_path):
    """Two threads publish two different airport caches into one directory,
    300 times each, while a third reads it: no publish raises, every read
    equals one of the two tables, and no temporary file is left behind."""
    names = list(column_types(AIRPORT_PERFORMANCE_SCHEMA))
    rng = random.Random(3)

    def table(n: int) -> Table:
        rows = [
            (f"Airline {i % 7}", i % 12 + 1, f"City {i}", rng.randint(0, 10**6), rng.random() * 1e3,
             rng.uniform(25, 49), rng.uniform(-124, -67))
            for i in range(n)
        ]
        return Table(dict(zip(names, map(list, zip(*rows)))))

    tables = [table(1500), table(900)]
    out = str(tmp_path / "airport_performance")
    write_cache_csv(tables[0], out)
    failed, bad, seen = [], [], set()
    done = threading.Event()

    def publish(t: Table) -> None:
        try:
            for _ in range(300):
                write_cache_csv(t, out)
        except Exception as e:
            failed.append(repr(e))

    def poll() -> None:
        while not done.is_set():
            try:
                got = read_cache_csv(None, out, AIRPORT_PERFORMANCE_SCHEMA).columns
            except (OSError, ValueError) as e:  # a missing or malformed file
                bad.append(repr(e))
                continue
            match = [i for i, t in enumerate(tables) if got == t.columns]
            seen.update(match)
            if not match:
                bad.append(f"{len(got['origin_city'])} rows, neither table")

    writers = [threading.Thread(target=publish, args=(t,)) for t in tables]
    reader = threading.Thread(target=poll)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # switch threads often, so publishes interleave
    try:
        for t in (reader, *writers):
            t.start()
        for t in writers:
            t.join(timeout=120)
    finally:
        done.set()
        reader.join(timeout=60)
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in (reader, *writers))
    assert not failed, failed[:5]
    assert not bad, bad[:5]
    assert seen, "the reader never read the cache"
    assert os.listdir(out) == ["part-00000.csv"]


def test_a_failed_publish_keeps_the_old_file_and_leaves_no_temporary(tmp_path):
    class Unwritable:
        def __str__(self) -> str:
            raise RuntimeError("unwritable value")

    schema = "flights bigint"
    out = str(tmp_path / "cache")
    write_cache_csv(Table({"flights": [1, 2]}), out)
    with pytest.raises(RuntimeError, match="unwritable value"):
        write_cache_csv(Table({"flights": [3, Unwritable()]}), out)
    assert os.listdir(out) == ["part-00000.csv"]
    assert read_cache_csv(None, out, schema).columns == {"flights": [1, 2]}


def test_rollup_equals_spark_sql_group_by_sum(spark, tmp_path):
    """``io.rollup`` over a CSV read with ``read_cache_csv`` equals, with
    ``==``, Spark SQL's ``groupBy(keys).agg(sum(...))`` over the same file
    (one partition, read in file order), ordered by the keys: a null key
    part is a group of its own and sorts first, a group whose values are
    all null sums to null, int sums stay ``int``, and seeded fractional
    doubles, whose sums depend on the order of addition, are equal. A
    table with no row rolls up to an empty table that keeps its column
    names."""
    schema = "city string, month int, flights bigint, minutes double, rare double"
    rng = random.Random(7)
    rows = []
    for _ in range(600):
        city, month = rng.choice(["Boise, ID", "Atlanta, GA", ""]), rng.choice([1, 2, ""])
        rare = "" if city != "Atlanta, GA" else repr(rng.random())
        minutes = "" if rng.random() < 0.1 else repr(rng.random() * rng.choice([1, 1e3, 1e6]))
        rows.append([city, month, rng.randint(0, 2**40), minutes, rare])
    path = _write_csv(tmp_path / "partials.csv", list(column_types(schema)), rows)
    df = spark.read.option("header", True).schema(schema).csv(path)
    assert df.rdd.getNumPartitions() == 1
    table = read_cache_csv(None, path, schema)
    values = ("flights", "minutes", "rare")
    for keys in (("city", "month"), ("month",), ("city",)):
        want = df.groupBy(*keys).agg(*(F.sum(v).alias(v) for v in values)).orderBy(*keys).collect()
        got = rollup(table, keys, values)
        assert list(got.columns) == [*keys, *values]
        assert got.collect() == want, keys
        assert all(isinstance(v, int) for v in got.columns["flights"])
    by_city = rollup(table, ("city",), values).collect()
    assert by_city[0]["city"] is None
    assert [r["rare"] is None for r in by_city] == [True, False, True]  # null, "Atlanta, GA", "Boise, ID"
    assert rollup(table, ("month",)).columns == {"month": [None, 1, 2]}

    empty = rollup(Table({name: [] for name in column_types(schema)}), ("city", "month"), values)
    assert empty.count() == 0 and empty.columns == {"city": [], "month": [], "flights": [], "minutes": [], "rare": []}


def test_cache_reader_picks_columns_by_header_name(tmp_path, golden_airline_cache):
    header, rows = _fixture_rows()
    order = list(reversed(range(len(header))))
    path = _write_csv(tmp_path / "reordered.csv", [header[i] for i in order], [[r[i] for i in order] for r in rows])
    assert read_cache_csv(None, path, AIRLINE_MONTHLY_SCHEMA).collect() == golden_airline_cache.collect()


def test_cache_reader_names_what_is_missing(tmp_path):
    header, rows = _fixture_rows()
    keep = [i for i, name in enumerate(header) if name != "on_time_rate"]
    path = _write_csv(tmp_path / "short.csv", [header[i] for i in keep], [[r[i] for i in keep] for r in rows])
    with pytest.raises(ValueError, match="on_time_rate"):
        read_cache_csv(None, path, AIRLINE_MONTHLY_SCHEMA)

    empty = tmp_path / "airline_monthly_performance"
    empty.mkdir()
    (empty / "_SUCCESS").touch()
    with pytest.raises(FileNotFoundError, match="airline_monthly_performance"):
        read_cache_csv(None, str(empty), AIRLINE_MONTHLY_SCHEMA)


def test_cache_reader_rejects_malformed_rows(tmp_path):
    """A short or long row, a field that does not parse as its column's
    type and an empty file raise ``ValueError``; a blank line between rows
    is skipped, as Spark's reader skips it."""
    header, rows = _fixture_rows()
    count, rate = header.index("DepDel15_count"), header.index("on_time_rate")

    def replaced(i, value):
        return [[*rows[0][:i], value, *rows[0][i + 1:]], *rows[1:]]

    for name, bad in (
        ("short", [rows[0][:-1], *rows[1:]]),
        ("long", [[*rows[0], "1"], *rows[1:]]),
        ("bigint", replaced(count, "x")),
        ("double", replaced(rate, "x")),
    ):
        with pytest.raises(ValueError):
            read_cache_csv(None, _write_csv(tmp_path / f"{name}.csv", header, bad), AIRLINE_MONTHLY_SCHEMA)
    (tmp_path / "empty.csv").write_text("")
    with pytest.raises(ValueError):
        read_cache_csv(None, str(tmp_path / "empty.csv"), AIRLINE_MONTHLY_SCHEMA)

    with open(AIRLINE_FIXTURE, newline="") as f:
        first, second, *rest = f.readlines()
    blank = tmp_path / "blank.csv"
    blank.write_text("".join([first, second, "\n", *rest]))
    want = read_cache_csv(None, AIRLINE_FIXTURE, AIRLINE_MONTHLY_SCHEMA)
    assert read_cache_csv(None, str(blank), AIRLINE_MONTHLY_SCHEMA).columns == want.columns


def test_null_keys_and_empty_aggregates_follow_spark(tmp_path):
    """Null group keys form their own group, sorted first; an aggregate over
    no value is null; a zero flight count gives a null weighted mean."""
    header, _ = _fixture_rows()
    rows = [
        ["A", 1, 10, 2.0, 5.0, 0, 1.0, 1.0, 1.0, 1.0, 0.8],
        ["", 1, 10, 5.0, 5.0, 1, 1.0, 1.0, 1.0, 1.0, 0.5],
        ["B", "", 10, 1.0, 5.0, 0, 1.0, "", 1.0, 1.0, 0.9],
        ["C", 2, 0, 0.0, 0.0, 0, 0.0, 0.0, 0.0, 0.0, ""],
    ]
    cache = read_cache_csv(None, _write_csv(tmp_path / "nulls.csv", header, rows), AIRLINE_MONTHLY_SCHEMA)

    assert filter_options(cache) == ([None, 1, 2], [None, "A", "B", "C"])
    assert [tuple(r) for r in airline_rank(cache).collect()] == [("C", 0.0), (None, 5.0), ("A", 5.0), ("B", 5.0)]
    assert [tuple(r) for r in airline_rank(cache, weighted=True).collect()] == [
        ("C", None), (None, 5.0), ("A", 5.0), ("B", 5.0)
    ]
    trend = [tuple(r) for r in monthly_trend(cache).collect()]
    assert trend == [(None, None, 0.9), (1, "1月", 0.65), (2, "2月", None)]

    fa, _ = apply_shared_filter(cache, cache, months=[1, 2], airlines=["A", "B", "C"])
    assert [r["airline_name"] for r in airline_rank(fa).collect()] == ["C", "A"]
    nothing, _ = apply_shared_filter(cache, cache, months=[])
    assert [r["minutes"] for r in delay_attribution(nothing).collect()] == [None] * 4
    assert kpis(nothing) == {"total_flights": 0, "on_time_pct": 0.0, "delayed_flights": 0.0, "cancelled_flights": 0}


def test_delay_rate_rounds_as_spark(spark):
    values = [12.345, 2.675, 1.005, -2.675, 0.125, 80.48943362707446, 17.304999999, 100.0]
    want = spark.sql("SELECT " + ", ".join(f"round({v!r}D, 2)" for v in values)).first()
    assert [_round_half_up(v, 2) for v in values] == list(want)


def test_many_distinct_filters_submit_no_job_and_hold_no_state(spark, golden_airline_cache, golden_airport_cache):
    months_all, airlines_all = filter_options(golden_airline_cache)

    def request(i):
        m_mask, a_mask = i % 7 + 1, i // 7 + 1
        months = [m for b, m in enumerate(months_all) if m_mask >> b & 1]
        airlines = [a for b, a in enumerate(airlines_all) if a_mask >> b & 1]
        fa, fp = apply_shared_filter(golden_airline_cache, golden_airport_cache, months=months, airlines=airlines)
        kpis(fa)
        for chart in (airline_rank(fa), monthly_trend(fa), delay_attribution(fa), geo_rollup(fp)):
            chart.collect()

    sc = spark.sparkContext
    sc.setJobGroup("serve-distinct-filters", "dashboard requests")
    try:
        for i in range(100):
            request(i)
        # what the remaining requests allocate and leave alive
        tracemalloc.start()
        try:
            for i in range(100, 2000):
                request(i)
            gc.collect()
            growth = tracemalloc.get_traced_memory()[0]
        finally:
            tracemalloc.stop()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("serve-distinct-filters")) == []
    # keeping the filtered caches of each filter would pass the bound after
    # a few dozen filters
    assert growth < 1024 * 1024, f"{growth} bytes retained over 1,900 distinct filters"
