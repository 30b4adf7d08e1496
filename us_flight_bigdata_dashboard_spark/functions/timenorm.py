"""HHMM → 'HH:MM' clock-time normalization (reference op P4).

Reference behavior (src/data_cleaning.py:37-53): numeric HHMM (possibly 1-3
digits, possibly the 2400 rollover) → zero-pad to 4 → '2400'→'0000' →
'HH:MM'. Applied unconditionally to scheduled time (nulls imputed to 0 →
'00:00') but only to non-null actual departure times (masked update).

Spark-first: a pure column expression — no UDF, stays inside whole-stage
codegen, vectorizes over 10^12 rows with zero Python cost.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hhmm_to_clock(c: Column | str, null_as_midnight: bool = False) -> Column:
    """Normalize a numeric HHMM column to an 'HH:MM' string.

    ``null_as_midnight=True`` reproduces the scheduled-time path (null→0→
    '00:00', src/data_cleaning.py:37-41); ``False`` the actual-time masked
    path (null stays null, src/data_cleaning.py:48-53).
    """
    col = F.col(c) if isinstance(c, str) else c
    base = F.coalesce(col, F.lit(0)) if null_as_midnight else col
    padded = F.lpad(F.floor(base).cast("int").cast("string"), 4, "0")
    rolled = F.when(padded == "2400", F.lit("0000")).otherwise(padded)
    clock = F.concat(F.substring(rolled, 1, 2), F.lit(":"), F.substring(rolled, 3, 2))
    return clock if null_as_midnight else F.when(col.isNull(), F.lit(None).cast("string")).otherwise(clock)


def sql_hhmm_to_clock(expr: str, null_as_midnight: bool = False) -> str:
    """``hhmm_to_clock`` as SQL text over the SQL expression ``expr``: one
    text that Spark SQL and DuckDB both parse (``INT`` and ``STRING``, not
    DuckDB's bare ``VARCHAR``, which Spark rejects), giving the same clock
    string for any non-negative HHMM value. A fractional value is floored
    before the ``INT`` cast, as the reference's ``astype(int)`` truncates
    it, because Spark's cast truncates and DuckDB's rounds.
    ``flights/clean.clean_flights`` projects it in Spark, and the DuckDB
    oracle queries it."""
    base = f"COALESCE({expr}, 0)" if null_as_midnight else expr
    padded = f"lpad(CAST(CAST(floor({base}) AS INT) AS STRING), 4, '0')"
    rolled = f"(CASE WHEN {padded} = '2400' THEN '0000' ELSE {padded} END)"
    clock = f"(substr({rolled}, 1, 2) || ':' || substr({rolled}, 3, 2))"
    if null_as_midnight:
        return clock
    return f"(CASE WHEN {expr} IS NULL THEN NULL ELSE {clock} END)"
