from __future__ import annotations

import itertools

import pyarrow.csv as pacsv
import pytest

import gen
import workloads


def _write(tmp_path, name, seed, rows=3000):
    return gen.write_raw(str(tmp_path / name), seed, rows)


def test_same_seed_same_files_different_seed_different(tmp_path):
    a = _write(tmp_path, "a", 7)
    b = _write(tmp_path, "b", 7)
    c = _write(tmp_path, "c", 8)
    assert a["digest"] == b["digest"]
    assert a["digest"] != c["digest"]
    again = _write(tmp_path, "a", 7)  # reused from disk, not rebuilt
    assert again["digest"] == a["digest"] and again["gen_s"] < 1.0


def _first(stream, n):
    return list(itertools.islice(stream, n))


def test_request_streams_follow_the_seed():
    assert _first(workloads.serve_filters(3), 200) == _first(workloads.serve_filters(3), 200)
    assert _first(workloads.serve_filters(3), 200) != _first(workloads.serve_filters(4), 200)


def test_filter_space_and_default_view():
    n = workloads.N_MONTH_SETS * workloads.N_AIRLINE_SETS
    assert n == 7 * (2 ** 14 - 1)
    assert workloads.decode_filter(n - 1) == (list(gen.MONTHS), workloads.AIRLINE_NAMES)
    decoded = {(tuple(m), tuple(a)) for m, a in map(workloads.decode_filter, range(0, n, 97))}
    assert all(m and a for m, a in decoded)
    filters = _first(workloads.serve_filters(5), 500)
    assert all(m and a for m, a in filters)
    # the default view is the most requested filter
    counts = {}
    for m, a in filters:
        counts[(tuple(m), tuple(a))] = counts.get((tuple(m), tuple(a)), 0) + 1
    assert max(counts, key=counts.get) == (tuple(gen.MONTHS), tuple(workloads.AIRLINE_NAMES))


def test_repeat_share_follows_its_target():
    n = workloads.N_MONTH_SETS * workloads.N_AIRLINE_SETS
    draws = workloads.SERVE_REQUESTS_PER_RUN
    expected = workloads.expected_repeat_share(workloads.SERVE_ZIPF_S, n, draws)
    assert expected == pytest.approx(workloads.SERVE_REPEAT_SHARE, abs=1e-6)
    shares = []
    for seed in range(40):
        seen, repeats = set(), 0
        for m, a in _first(workloads.serve_filters(seed), draws):
            repeats += (tuple(m), tuple(a)) in seen
            seen.add((tuple(m), tuple(a)))
        shares.append(repeats / draws)
    # the median request is a repeat on every seed
    assert min(shares) > 0.5
    assert sum(shares) / len(shares) == pytest.approx(workloads.SERVE_REPEAT_SHARE, abs=0.05)


def test_raw_columns_match_the_program_reader():
    from us_flight_bigdata_dashboard_spark.flights.schemas import RAW_FLIGHTS_SCHEMA

    assert gen.RAW_COLUMNS == RAW_FLIGHTS_SCHEMA.names


def test_raw_content_exercises_imputation_and_hub_drop(tmp_path):
    _write(tmp_path, "r", 11, rows=20_000)
    table = pacsv.read_csv(gen.raw_files(str(tmp_path / "r"))[0])
    cancelled = table.column("Cancelled").to_pylist()
    share = sum(cancelled) / len(cancelled)
    assert 0.01 < share < 0.03
    dd15 = table.column("DepDel15").to_pylist()
    assert all(d is None for d, c in zip(dd15, cancelled) if c == 1.0)
    hubs = {c for c, _, _ in gen.HUB_COORDS}
    origins = set(table.column("OriginCityName").to_pylist())
    assert origins & hubs and origins - hubs
    assert set(table.column("Month").to_pylist()) == {1}
