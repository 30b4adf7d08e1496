"""Seeded input generator for the flight-dashboard benchmark.

Writes BTS-shaped raw on-time CSVs — the columns of the reference's 28-column
keep-list plus ``Cancelled``, in the order the program's reader applies its
explicit schema by position — split into three monthly files like the
reference's ``2025_0[1-3].csv``.

Every draw comes from one NumPy generator seeded with the workload seed, so
the same (seed, rows) gives byte-identical files and a different seed gives
different ones.  About 2% of flights are cancelled (their departure and
delay fields are empty), and origin cities fall both inside and outside the
twelve coordinate hubs, so the cleaning imputation and the geo cache's
inner-join drop both run.

The lookup tables below are the reference data the independent oracles use;
they are written out here rather than imported from the program so that a
change to the program's seed tables shows up as a wrong answer.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv

# Column order of the raw BTS extract (the program's RAW_FLIGHTS_SCHEMA).
RAW_COLUMNS = [
    "Year", "Quarter", "Month", "DayofMonth", "DayOfWeek", "FlightDate",
    "Reporting_Airline", "Tail_Number", "Flight_Number_Reporting_Airline",
    "Origin", "OriginCityName", "OriginState", "Dest", "DestCityName",
    "DestState", "CRSDepTime", "DepTime", "DepDelay", "DepDelayMinutes",
    "DepDel15", "DepTimeBlk", "ActualElapsedTime", "AirTime", "Distance",
    "CarrierDelay", "WeatherDelay", "NASDelay", "SecurityDelay",
    "LateAircraftDelay", "Cancelled",
]

# Carrier code → display name (the dashboard's airline mapping table).
AIRLINES = [
    ("AS", "Alaska Airlines"), ("G4", "Allegiant Air"),
    ("AA", "American Airlines"), ("DL", "Delta Air Lines"),
    ("MQ", "Envoy Air"), ("F9", "Frontier Airlines"),
    ("HA", "Hawaiian Airlines"), ("B6", "JetBlue Airways"),
    ("OH", "PSA Airlines"), ("YX", "Republic Airways"),
    ("OO", "SkyWest Airlines"), ("WN", "Southwest Airlines"),
    ("NK", "Spirit Airlines"), ("UA", "United Airlines"),
]

# The dashboard's twelve hub cities with map coordinates; other origin
# cities are dropped from the geo cache.
HUB_COORDS = [
    ("Atlanta, GA", 33.6407, -84.4277),
    ("Chicago, IL", 41.9742, -87.9073),
    ("Dallas/Fort Worth, TX", 32.8998, -97.0403),
    ("Denver, CO", 39.8561, -104.6737),
    ("San Francisco, CA", 37.6213, -122.3790),
    ("New York, NY", 40.6413, -73.7781),
    ("Los Angeles, CA", 33.9416, -118.4085),
    ("Seattle, WA", 47.4502, -122.3088),
    ("Houston, TX", 29.9804, -95.3397),
    ("Phoenix, AZ", 33.4342, -112.0081),
    ("Las Vegas, NV", 36.0840, -115.1537),
    ("Charlotte, NC", 35.2140, -80.9431),
]

# (code, city, state): one airport per hub city plus non-hub cities.
AIRPORTS = [
    ("ATL", "Atlanta, GA", "GA"), ("ORD", "Chicago, IL", "IL"),
    ("DFW", "Dallas/Fort Worth, TX", "TX"), ("DEN", "Denver, CO", "CO"),
    ("SFO", "San Francisco, CA", "CA"), ("JFK", "New York, NY", "NY"),
    ("LAX", "Los Angeles, CA", "CA"), ("SEA", "Seattle, WA", "WA"),
    ("IAH", "Houston, TX", "TX"), ("PHX", "Phoenix, AZ", "AZ"),
    ("LAS", "Las Vegas, NV", "NV"), ("CLT", "Charlotte, NC", "NC"),
    ("BOI", "Boise, ID", "ID"), ("MSY", "New Orleans, LA", "LA"),
    ("RDU", "Raleigh/Durham, NC", "NC"), ("PDX", "Portland, OR", "OR"),
    ("SLC", "Salt Lake City, UT", "UT"), ("MCI", "Kansas City, MO", "MO"),
    ("BNA", "Nashville, TN", "TN"), ("AUS", "Austin, TX", "TX"),
    ("SAN", "San Diego, CA", "CA"), ("MIA", "Miami, FL", "FL"),
    ("ANC", "Anchorage, AK", "AK"), ("HNL", "Honolulu, HI", "HI"),
]

YEAR = 2025
MONTHS = (1, 2, 3)
CANCEL_SHARE = 0.02


def _hhmm(minutes: np.ndarray) -> np.ndarray:
    m = np.mod(minutes, 1440)
    return (m // 60) * 100 + m % 60


def make_flights(seed: int, rows: int) -> pa.Table:
    """One quarter of BTS-shaped flights as an Arrow table (RAW_COLUMNS)."""
    rng = np.random.default_rng([seed, rows])
    first = dt.date(YEAR, 1, 1)
    n_days = (dt.date(YEAR, 4, 1) - first).days
    day = np.sort(rng.integers(0, n_days, rows))
    dates = np.datetime64(first.isoformat()) + day.astype("timedelta64[D]")
    months = dates.astype("datetime64[M]").astype(int) % 12 + 1
    dom = (dates - dates.astype("datetime64[M]")).astype(int) + 1
    dow = (dates.astype(int) + 3) % 7 + 1  # BTS: 1 = Monday … 7 = Sunday

    # Hubs carry most traffic; every airline flies everywhere.
    ap_weight = np.array([4.0 if i < 12 else 1.0 for i in range(len(AIRPORTS))])
    ap_weight /= ap_weight.sum()
    origin = rng.choice(len(AIRPORTS), rows, p=ap_weight)
    dest = (origin + rng.integers(1, len(AIRPORTS), rows)) % len(AIRPORTS)
    al_weight = rng.dirichlet(np.full(len(AIRLINES), 2.0))
    airline = rng.choice(len(AIRLINES), rows, p=al_weight)

    cancelled = rng.random(rows) < CANCEL_SHARE
    crs_min = rng.integers(5 * 60, 23 * 60 + 59, rows)
    # Per-airline and per-origin delay propensity, so the charts differ.
    base = rng.normal(0.0, 6.0, len(AIRLINES))[airline] + rng.normal(0.0, 4.0, len(AIRPORTS))[origin]
    delay = np.round(rng.exponential(14.0, rows) - 10.0 + base)
    ddm = np.maximum(delay, 0.0)
    dd15 = (ddm >= 15).astype(float)
    elapsed = rng.integers(40, 420, rows).astype(float)
    air = np.maximum(elapsed - rng.integers(10, 40, rows), 15.0)
    distance = (air * 7.5 + rng.integers(0, 60, rows)).round()

    # Delay causes are reported only for delayed departures and sum to ddm.
    shares = rng.dirichlet(np.ones(5), rows)
    causes = np.floor(shares * ddm[:, None])
    causes[:, 4] += ddm - causes.sum(axis=1)

    live = ~cancelled
    delayed = live & (dd15 == 1.0)

    def col(values, mask=None, typ=None):
        return pa.array(values, type=typ, mask=None if mask is None else ~mask)

    codes = np.array([a[0] for a in AIRLINES])
    ap_code = np.array([a[0] for a in AIRPORTS])
    ap_city = np.array([a[1] for a in AIRPORTS])
    ap_state = np.array([a[2] for a in AIRPORTS])
    dep_hhmm = _hhmm(crs_min + delay.astype(int)).astype(float)
    blk_hour = crs_min // 60
    blk = np.char.add(np.char.zfill(blk_hour.astype(str), 2), "00-")
    blk = np.char.add(np.char.add(blk, np.char.zfill(blk_hour.astype(str), 2)), "59")
    tails = np.char.add("N", rng.integers(100, 999, rows).astype(str))
    tails = np.char.add(tails, np.array(list("ABCDEFGHJK"))[rng.integers(0, 10, rows)])

    columns = [
        col(np.full(rows, YEAR), typ=pa.int32()),
        col(np.ones(rows, dtype=int), typ=pa.int32()),
        col(months, typ=pa.int32()),
        col(dom, typ=pa.int32()),
        col(dow, typ=pa.int32()),
        col(np.datetime_as_string(dates, unit="D")),
        col(codes[airline]),
        col(tails),
        col(rng.integers(1, 7000, rows), typ=pa.int32()),
        col(ap_code[origin]),
        col(ap_city[origin]),
        col(ap_state[origin]),
        col(ap_code[dest]),
        col(ap_city[dest]),
        col(ap_state[dest]),
        col(_hhmm(crs_min), typ=pa.int32()),
        col(dep_hhmm, live),
        col(delay, live),
        col(ddm, live),
        col(dd15, live),
        col(blk),
        col(elapsed, live),
        col(air, live),
        col(distance),
    ]
    columns += [col(causes[:, i], delayed) for i in range(5)]
    columns.append(col(cancelled.astype(float)))
    return pa.table(columns, names=RAW_COLUMNS)


def raw_files(directory: str) -> list[str]:
    return [os.path.join(directory, f"{YEAR}_{m:02d}.csv") for m in MONTHS]


def write_raw(directory: str, seed: int, rows: int) -> dict:
    """Write the three monthly CSVs once per (seed, rows) and reuse them.

    Returns rows, bytes, the content digest and the generation time (zero
    when the files were already on disk)."""
    done = os.path.join(directory, "_DONE")
    t0 = time.perf_counter()
    if not os.path.exists(done):
        os.makedirs(directory, exist_ok=True)
        table = make_flights(seed, rows)
        month = table.column("Month").to_numpy()
        for m, path in zip(MONTHS, raw_files(directory)):
            part = table.filter(pa.array(month == m))
            pacsv.write_csv(part, path + ".tmp")
            os.replace(path + ".tmp", path)
        with open(done, "w") as f:
            f.write("ok\n")
    gen_s = time.perf_counter() - t0
    return {
        "rows": rows,
        "bytes": sum(os.path.getsize(p) for p in raw_files(directory)),
        "digest": digest(raw_files(directory)),
        "gen_s": gen_s,
    }


def digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()[:16]
