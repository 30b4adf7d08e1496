"""ETL cleaning stage (E1): raw BTS rows → cleaned flights.

Reference semantics preserved exactly (src/data_cleaning.py:11-66,103),
re-expressed as one projection of SQL expressions — no chunking, no Python
row lambdas, no eager materialization. Spark parses the projection in one
call, and at scale it is a single narrow (shuffle-free) map stage fused by
whole-stage codegen; the reference's 10k-row write chunking and per-file
loop are replaced by distributed partitioned execution (SURVEY.md §4).

Faithful-mode imputations (SURVEY.md §1.2): DepDel15 null→0 counts cancelled
flights as on-time in downstream denominators; delay-cause nulls→0. Both are
the reference's documented behavior and are load-bearing for golden-output
parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from us_flight_bigdata_dashboard_spark.functions.timenorm import sql_hhmm_to_clock

# P5 null-imputation target columns (src/data_cleaning.py:31-34,56-58).
DELAY_CAUSE_COLS = ["CarrierDelay", "WeatherDelay", "NASDelay", "SecurityDelay", "LateAircraftDelay"]
FILL_ZERO_COLS = DELAY_CAUSE_COLS + ["DepDelay", "DepDelayMinutes", "DepDel15"]


def clean_flights(raw: DataFrame) -> DataFrame:
    """Apply the full cleaning chain P3-P8 (projection P1 is the reader's
    schema whitelist; rename P2 happens at star build) as one projection.

    Each raw column keeps its place, cleaned where a step applies, and
    ``Is_Cancelled`` and ``Is_Weekend`` follow. Handles both raw variants:
    with a ``Cancelled`` column (flag cast to int, then dropped) or without
    (fallback: ``ActualElapsedTime`` null or NaN — src/data_cleaning.py:61-64).
    """
    exprs = {
        # P3: FlightDate → DateType (src/data_cleaning.py:28)
        "FlightDate": "to_date(`FlightDate`)",
        # P4: HHMM → 'HH:MM' — scheduled always (null or NaN→'00:00'),
        # actual masked (src/data_cleaning.py:37-53)
        "CRSDepTime": sql_hhmm_to_clock("`CRSDepTime`", null_as_midnight=True),
        "DepTime": sql_hhmm_to_clock("`DepTime`", null_as_midnight=False),
    } | {
        # P5: null (and NaN) imputation of the double columns, as
        # ``na.fill(0)`` does it (src/data_cleaning.py:31-34,56-58)
        c: f"coalesce(nanvl(`{c}`, NULL), CAST(0 AS DOUBLE))" for c in FILL_ZERO_COLS
    }
    columns = raw.columns
    # P6: cancellation indicator, with fallback branch (src/data_cleaning.py:61-64);
    # the fallback counts a NaN as missing, as pandas' ``isna()`` does
    cancelled = "coalesce(`Cancelled`, 0)" if "Cancelled" in columns else "nanvl(`ActualElapsedTime`, NULL) IS NULL"
    return raw.selectExpr(
        # P7: the raw flag is dropped (src/data_cleaning.py:66)
        *(f"{exprs.get(c, f'`{c}`')} AS `{c}`" for c in columns if c != "Cancelled"),
        f"CAST({cancelled} AS INT) AS Is_Cancelled",
        # P8: weekend indicator under BTS 1=Mon…7=Sun (src/data_cleaning.py:103)
        "CASE WHEN `DayOfWeek` >= 6 THEN 1 ELSE 0 END AS Is_Weekend",
    )
