"""Property tests of ``star.dim_tables``, the refresh's driver-side dims,
without a JVM: over random ``io.Table``s of (code, city, state) and calendar
tuples, with nulls, duplicate codes and non-ASCII names, each dim equals a
brute-force ``min(group, key=io.nulls_first)`` per key, in key order with
nulls first: the rule of Spark's ``min(struct)`` in
``star._smallest_per_key``, which ``build_dim_*`` define the dims with."""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings
from hypothesis import strategies as st

from us_flight_bigdata_dashboard_spark.flights.io import Table, nulls_first
from us_flight_bigdata_dashboard_spark.flights.star import CALENDAR, DEST_AIRPORT, ORIGIN_AIRPORT, dim_tables

_SETTINGS = dict(max_examples=200, deadline=None)

# few codes, so that codes repeat across rows and sides; names with
# non-ASCII letters, which order by code point ("Ãampa" after "Tampa")
codes = st.one_of(st.none(), st.sampled_from(["ATL", "DFW", "ORD", "TPA", "ÅBC", "é"]))
names = st.one_of(
    st.none(),
    st.sampled_from(["Tampa, FL", "Ãampa, FL", "Nouvelle-Orléans, LA", "Zürich", "東京", ""]),
    st.text(max_size=3),
)
airport = st.tuples(codes, names, st.one_of(st.none(), st.sampled_from(["FL", "LA", "TX", "Ñ"])))
small_int = st.one_of(st.none(), st.integers(min_value=0, max_value=3))
calendar_row = st.tuples(
    st.one_of(st.none(), st.dates(min_value=dt.date(2025, 1, 1), max_value=dt.date(2025, 1, 6))),
    *[small_int] * (len(CALENDAR) - 1),
)


def _table(columns, rows) -> Table:
    return Table({name: [r[i] for r in rows] for i, name in enumerate(columns)})


def _smallest_per_key(rows) -> list[tuple]:
    """One row per first value, the smallest with nulls first, in key order."""
    groups: dict = {}
    for r in rows:
        groups.setdefault(r[0], []).append(r)
    return [min(groups[k], key=nulls_first) for k in sorted(groups, key=lambda k: nulls_first((k,)))]


@settings(**_SETTINGS)
@given(
    st.lists(st.tuples(codes, airport), max_size=30),
    st.lists(airport, max_size=30),
    st.lists(calendar_row, max_size=30),
)
def test_dims_are_the_smallest_row_per_key(origin_rows, dest_rows, calendar_rows):
    origin = _table(("Reporting_Airline", *ORIGIN_AIRPORT), [(carrier, *a) for carrier, a in origin_rows])
    dims = dim_tables(origin, _table(DEST_AIRPORT, dest_rows), _table(CALENDAR, calendar_rows))

    airports = _smallest_per_key([a for _, a in origin_rows] + dest_rows)
    assert dims["dim_airports"].columns == _table(ORIGIN_AIRPORT.values(), airports).columns
    airlines = sorted({carrier for carrier, _ in origin_rows}, key=lambda c: nulls_first((c,)))
    assert dims["dim_airlines"].columns == {"airline_code": airlines}
    calendar = _smallest_per_key(calendar_rows)
    assert dims["dim_calendar"].columns == _table(CALENDAR.values(), calendar).columns


def test_empty_input_keeps_the_column_names():
    dims = dim_tables(_table(("Reporting_Airline", *ORIGIN_AIRPORT), []), _table(DEST_AIRPORT, []), _table(CALENDAR, []))
    assert {name: dim.columns for name, dim in dims.items()} == {
        "dim_airports": {"airport_code": [], "city_name": [], "state_code": []},
        "dim_airlines": {"airline_code": []},
        "dim_calendar": {name: [] for name in CALENDAR.values()},
    }
