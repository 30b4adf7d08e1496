"""Cleaning-stage unit + property tests (SURVEY.md §5 item 4): the P4 time
normalization edge cases, P6 fallback branch, P8 weekend convention."""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from us_flight_bigdata_dashboard_spark.flights.clean import clean_flights


def _mk_raw(spark, rows):
    cols = (
        "Year int, Quarter int, Month int, DayofMonth int, DayOfWeek int, FlightDate string,"
        "Reporting_Airline string, Tail_Number string, Flight_Number_Reporting_Airline int,"
        "Origin string, OriginCityName string, OriginState string, Dest string,"
        "DestCityName string, DestState string, CRSDepTime int, DepTime double,"
        "DepDelay double, DepDelayMinutes double, DepDel15 double, DepTimeBlk string,"
        "ActualElapsedTime double, AirTime double, Distance double, CarrierDelay double,"
        "WeatherDelay double, NASDelay double, SecurityDelay double, LateAircraftDelay double,"
        "Cancelled double"
    )
    return spark.createDataFrame(rows, cols)


def _row(**over):
    base = dict(
        Year=2025, Quarter=1, Month=1, DayofMonth=6, DayOfWeek=1, FlightDate="2025-01-06",
        Reporting_Airline="AA", Tail_Number="N12345", Flight_Number_Reporting_Airline=100,
        Origin="ATL", OriginCityName="Atlanta, GA", OriginState="GA", Dest="ORD",
        DestCityName="Chicago, IL", DestState="IL", CRSDepTime=945, DepTime=950.0,
        DepDelay=5.0, DepDelayMinutes=5.0, DepDel15=0.0, DepTimeBlk="0900-0959",
        ActualElapsedTime=120.0, AirTime=100.0, Distance=600.0, CarrierDelay=None,
        WeatherDelay=None, NASDelay=None, SecurityDelay=None, LateAircraftDelay=None,
        Cancelled=0.0,
    )
    base.update(over)
    return base


def test_p4_time_normalization_edges(spark):
    rows = [
        _row(CRSDepTime=2400, DepTime=2400.0),
        _row(CRSDepTime=5, DepTime=5.0),
        _row(CRSDepTime=0, DepTime=0.0),
        _row(CRSDepTime=945, DepTime=None, Cancelled=1.0, DepDel15=None,
             DepDelay=None, DepDelayMinutes=None, ActualElapsedTime=None, AirTime=None),
        _row(CRSDepTime=2359, DepTime=131.0),
        _row(DepTime=float("nan")),
    ]
    out = clean_flights(_mk_raw(spark, rows)).select("CRSDepTime", "DepTime").collect()
    assert [(r[0], r[1]) for r in out] == [
        ("00:00", "00:00"),   # 2400 rollover both
        ("00:05", "00:05"),   # zero-pad to 4
        ("00:00", "00:00"),   # zero
        ("09:45", None),      # masked update: null DepTime stays null
        ("23:59", "01:31"),   # 3-digit actual time
        ("09:45", None),      # a NaN DepTime is missing, as pandas reads it
    ]


def test_p5_p6_imputation_and_cancel_flag(spark):
    rows = [
        _row(),
        _row(Cancelled=1.0, DepTime=None, DepDelay=None, DepDelayMinutes=None,
             DepDel15=None, ActualElapsedTime=None, AirTime=None),
        _row(Cancelled=None),
    ]
    out = clean_flights(_mk_raw(spark, rows)).select(
        "Is_Cancelled", "DepDel15", "DepDelay", "CarrierDelay"
    ).collect()
    assert [r["Is_Cancelled"] for r in out] == [0, 1, 0]  # null Cancelled → 0
    assert out[1]["DepDel15"] == 0.0  # quirk: cancelled imputed on-time
    assert all(r["CarrierDelay"] == 0.0 for r in out)  # cause nulls → 0
    assert "Cancelled" not in clean_flights(_mk_raw(spark, rows)).columns  # P7


def test_p6_fallback_without_cancelled_column(spark):
    rows = [_row(), _row(ActualElapsedTime=None), _row(ActualElapsedTime=float("nan"))]
    raw = _mk_raw(spark, rows).drop("Cancelled")
    out = clean_flights(raw).select("Is_Cancelled").collect()
    assert [r[0] for r in out] == [0, 1, 1]


def test_p8_weekend_convention(spark):
    rows = [_row(DayOfWeek=d, FlightDate=f"2025-01-0{d}") for d in range(1, 8)]
    out = clean_flights(_mk_raw(spark, rows)).select("DayOfWeek", "Is_Weekend").collect()
    assert {r[0]: r[1] for r in out} == {1: 0, 2: 0, 3: 0, 4: 0, 5: 0, 6: 1, 7: 1}


def _reference_format_time(v) -> str | None:
    """The reference algorithm (src/data_cleaning.py:37-41) in pure Python,
    as the property-test oracle."""
    if v is None:
        v = 0
    s = str(int(v)).zfill(4)
    if s == "2400":
        s = "0000"
    return s[:2] + ":" + s[2:]


@settings(max_examples=20, deadline=None)
@given(st.lists(st.one_of(st.none(), st.integers(min_value=0, max_value=2400)), min_size=1, max_size=40))
def test_p4_property_matches_reference_algorithm(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "hhmm int")
    from us_flight_bigdata_dashboard_spark.functions.timenorm import sql_hhmm_to_clock

    out = df.selectExpr(
        f"{sql_hhmm_to_clock('hhmm', null_as_midnight=True)} AS crs",
        f"{sql_hhmm_to_clock('hhmm', null_as_midnight=False)} AS dep",
    ).collect()
    for v, r in zip(values, out):
        assert r["crs"] == _reference_format_time(v)
        assert r["dep"] == (None if v is None else _reference_format_time(v))


def test_p4_one_sql_text_for_spark_and_duckdb(spark):
    """``sql_hhmm_to_clock``'s text, P4's one definition, which
    ``clean_flights`` projects in Spark and the DuckDB oracle queries, gives
    the same clock strings in both engines, on integer and on double input
    (``CRSDepTime`` and ``DepTime``'s raw types), and the reference's. A
    fractional double is truncated, as the reference's ``astype(int)``
    does, in both engines (Spark's ``INT`` cast truncates, DuckDB's
    rounds), and a ``NaN`` is missing, as pandas reads it: ``00:00`` on the
    scheduled path, null on the masked one."""
    import duckdb

    from us_flight_bigdata_dashboard_spark.functions.timenorm import sql_hhmm_to_clock

    whole = [None, 0, 5, 59, 100, 959, 1200, 2359, 2400]
    con = duckdb.connect()
    for sql_type, spark_type, values in (
        ("INT", "int", whole),
        ("DOUBLE", "double", [*whole, 0.4, 131.7, 959.5, 2399.6, math.nan]),
    ):
        doubles = [(i, None if v is None else float(v)) for i, v in enumerate(values)]
        df = spark.createDataFrame(doubles, "i int, v double")
        df = df.selectExpr("i", f"CAST(v AS {spark_type}) AS hhmm")
        literals = ["NULL" if v is None else "'NaN'" if v != v else v for v in values]
        rows = ", ".join(f"({i}, CAST({lit} AS {sql_type}))" for i, lit in enumerate(literals))
        # pandas reads a NaN as missing
        missing = [v is None or v != v for v in values]
        for midnight in (True, False):
            text = sql_hhmm_to_clock("hhmm", null_as_midnight=midnight)
            got = df.selectExpr("i", text, "hhmm").orderBy("i").collect()
            duck = con.execute(f"SELECT {text} FROM (VALUES {rows}) AS t(i, hhmm) ORDER BY i").fetchall()
            assert [r[1] for r in got] == [r[0] for r in duck], (sql_type, midnight)
            assert [r[1] for r in got] == [
                None if gone and not midnight else _reference_format_time(None if gone else v)
                for v, gone in zip(values, missing)
            ], (sql_type, midnight)
