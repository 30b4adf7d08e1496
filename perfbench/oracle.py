"""Independent answers for every output the benchmark checks.

None of this runs inside a timed region.  The pipeline caches are recomputed
with DuckDB straight from the raw CSVs, and dashboard responses with pandas
over the cache CSVs.  Each ``*_mismatches`` function
returns a list of human-readable differences; an empty list means correct.
"""

from __future__ import annotations

import glob
import math
import os

import duckdb
import pandas as pd

import gen

REL_TOL = 1e-9
MONTH_LABELS = {1: "1月", 2: "2月", 3: "3月"}
CAUSES = [
    ("航司原因", "CarrierDelay_sum"),
    ("天气影响", "WeatherDelay_sum"),
    ("空管调度", "NASDelay_sum"),
    ("前序晚到", "LateAircraftDelay_sum"),
]

_RAW_TYPES = {
    "Year": "INTEGER", "Quarter": "INTEGER", "Month": "INTEGER",
    "DayofMonth": "INTEGER", "DayOfWeek": "INTEGER", "FlightDate": "VARCHAR",
    "Reporting_Airline": "VARCHAR", "Tail_Number": "VARCHAR",
    "Flight_Number_Reporting_Airline": "INTEGER", "Origin": "VARCHAR",
    "OriginCityName": "VARCHAR", "OriginState": "VARCHAR", "Dest": "VARCHAR",
    "DestCityName": "VARCHAR", "DestState": "VARCHAR", "CRSDepTime": "INTEGER",
    "DepTimeBlk": "VARCHAR",
}


def close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    a, b = float(a), float(b)
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-9)


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    names = ", ".join(f"({_sql_str(c)}, {_sql_str(n)})" for c, n in gen.AIRLINES)
    con.execute(f"CREATE TABLE names AS SELECT * FROM (VALUES {names}) t(airline_code, airline_name)")
    coords = ", ".join(f"({_sql_str(c)}, {la}, {lo})" for c, la, lo in gen.HUB_COORDS)
    con.execute(f"CREATE TABLE coords AS SELECT * FROM (VALUES {coords}) t(origin_city, lat, lon)")
    return con


# --------------------------------------------------------------- caches

def expected_caches(con, raw_paths: list[str]) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Both dashboard caches recomputed from the raw CSVs (the reference's
    cleaning imputation: missing DepDel15, delay minutes and causes are 0)."""
    types = {c: _RAW_TYPES.get(c, "DOUBLE") for c in gen.RAW_COLUMNS}
    cols = "{" + ", ".join(f"{_sql_str(k)}: {_sql_str(v)}" for k, v in types.items()) + "}"
    files = "[" + ", ".join(_sql_str(p) for p in raw_paths) + "]"
    con.execute(
        f"""CREATE OR REPLACE VIEW clean AS
        SELECT n.airline_name, CAST(month(CAST(r.FlightDate AS DATE)) AS INTEGER) AS month,
               r.OriginCityName AS origin_city,
               coalesce(r.DepDel15, 0) AS dd15, coalesce(r.DepDelayMinutes, 0) AS ddm,
               CAST(coalesce(r.Cancelled, 0) AS BIGINT) AS cancelled,
               coalesce(r.CarrierDelay, 0) AS carrier, coalesce(r.WeatherDelay, 0) AS weather,
               coalesce(r.NASDelay, 0) AS nas, coalesce(r.LateAircraftDelay, 0) AS late
        FROM read_csv({files}, header=true, columns={cols}) r
        LEFT JOIN names n ON r.Reporting_Airline = n.airline_code"""
    )
    airline = con.execute(
        """SELECT airline_name, month, count(*) AS DepDel15_count, sum(dd15) AS DepDel15_sum,
                  avg(ddm) AS DepDelayMinutes_mean, CAST(sum(cancelled) AS BIGINT) AS Is_Cancelled_sum,
                  sum(carrier) AS CarrierDelay_sum, sum(weather) AS WeatherDelay_sum,
                  sum(nas) AS NASDelay_sum, sum(late) AS LateAircraftDelay_sum,
                  1.0 - sum(dd15) / count(*) AS on_time_rate
           FROM clean GROUP BY airline_name, month"""
    ).df()
    airport = con.execute(
        """SELECT a.airline_name, a.month, a.origin_city, a.total_flights, a.delayed_flights, c.lat, c.lon
           FROM (SELECT airline_name, month, origin_city, count(*) AS total_flights,
                        sum(dd15) AS delayed_flights
                 FROM clean GROUP BY airline_name, month, origin_city) a
           JOIN coords c USING (origin_city)"""
    ).df()
    return airline, airport


def read_cache_dir(path: str) -> pd.DataFrame:
    parts = sorted(glob.glob(os.path.join(path, "part-*.csv")))
    if not parts:
        raise FileNotFoundError(f"no CSV part files under {path}")
    return pd.concat([pd.read_csv(p) for p in parts], ignore_index=True)


def frame_mismatches(label: str, got: pd.DataFrame, want: pd.DataFrame, keys: list[str]) -> list[str]:
    """Order-insensitive comparison keyed on ``keys``; floats within REL_TOL."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"{label}: columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{label}: {len(got)} rows, expected {len(want)}"]
    g = got.sort_values(keys).reset_index(drop=True)
    w = want.sort_values(keys).reset_index(drop=True)
    out = []
    for col in want.columns:
        for i, (a, b) in enumerate(zip(g[col], w[col])):
            same = close(a, b) if col not in keys and not isinstance(b, str) else str(a) == str(b)
            if not same:
                out.append(f"{label}: row {i} {col} = {a!r}, expected {b!r}")
                break
    return out


def cache_mismatches(out_dir: str, want_airline: pd.DataFrame, want_airport: pd.DataFrame) -> list[str]:
    got_airline = read_cache_dir(os.path.join(out_dir, "airline_monthly_performance"))
    got_airport = read_cache_dir(os.path.join(out_dir, "airport_performance"))
    return frame_mismatches(
        "airline_monthly_performance", got_airline, want_airline, ["airline_name", "month"]
    ) + frame_mismatches(
        "airport_performance", got_airport, want_airport, ["airline_name", "month", "origin_city"]
    )


# ---------------------------------------------------------------- serve

def expected_response(airline: pd.DataFrame, airport: pd.DataFrame, months, airlines) -> dict:
    """One dashboard response from the cache frames: the KPI is
    flight-weighted, airline rank and monthly trend are unweighted means
    over the surviving cache rows."""
    fa = airline[airline["month"].isin(months) & airline["airline_name"].isin(airlines)]
    fp = airport[airport["month"].isin(months) & airport["airline_name"].isin(airlines)]
    total = int(fa["DepDel15_count"].sum())
    wsum = float((fa["on_time_rate"] * fa["DepDel15_count"]).sum())
    kpis = {
        "total_flights": total,
        "on_time_pct": wsum / total * 100.0 if total > 0 else 0.0,
        "delayed_flights": float(fa["DepDel15_sum"].sum()),
        "cancelled_flights": int(fa["Is_Cancelled_sum"].sum()),
    }
    rank = fa.groupby("airline_name")["DepDelayMinutes_mean"].mean().reset_index()
    rank = rank.sort_values(["DepDelayMinutes_mean", "airline_name"])
    trend = fa.groupby("month")["on_time_rate"].mean().sort_index()
    geo = fp.groupby(["origin_city", "lat", "lon"])[["total_flights", "delayed_flights"]].sum().reset_index()
    return {
        "kpis": kpis,
        "airline_rank": [(a, v) for a, v in zip(rank["airline_name"], rank["DepDelayMinutes_mean"])],
        "monthly_trend": [(int(m), MONTH_LABELS[int(m)], v) for m, v in trend.items()],
        "delay_attribution": [(c, float(fa[col].sum())) for c, col in CAUSES],
        "geo_rollup": {
            r.origin_city: (r.lat, r.lon, int(r.total_flights), float(r.delayed_flights),
                            r.delayed_flights / r.total_flights * 100.0)
            for r in geo.itertuples()
        },
    }


def response_mismatches(got: dict, want: dict) -> list[str]:
    out = []
    for k in ("total_flights", "cancelled_flights"):
        if got["kpis"][k] != want["kpis"][k]:
            out.append(f"kpis.{k} = {got['kpis'][k]!r}, expected {want['kpis'][k]!r}")
    for k in ("on_time_pct", "delayed_flights"):
        if not close(got["kpis"][k], want["kpis"][k]):
            out.append(f"kpis.{k} = {got['kpis'][k]!r}, expected {want['kpis'][k]!r}")
    for chart in ("airline_rank", "monthly_trend", "delay_attribution"):
        g, w = got[chart], want[chart]
        if len(g) != len(w) or any(
            tuple(a[:-1]) != tuple(b[:-1]) or not close(a[-1], b[-1]) for a, b in zip(g, w)
        ):
            out.append(f"{chart} = {g!r}, expected {w!r}")
    g, w = got["geo_rollup"], want["geo_rollup"]
    if sorted(g) != sorted(w):
        out.append(f"geo_rollup cities {sorted(g)}, expected {sorted(w)}")
    else:
        for city, (lat, lon, total, delayed, rate) in w.items():
            glat, glon, gtotal, gdelayed, grate = g[city]
            # the program rounds the rate to 2 decimals
            if not (close(glat, lat) and close(glon, lon) and gtotal == total
                    and close(gdelayed, delayed) and abs(grate - rate) <= 0.005 + 1e-9):
                out.append(f"geo_rollup[{city}] = {g[city]!r}, expected {w[city]!r}")
    return out
