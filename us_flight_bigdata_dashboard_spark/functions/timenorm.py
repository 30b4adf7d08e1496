"""HHMM → 'HH:MM' clock-time normalization (reference op P4).

Reference behavior (src/data_cleaning.py:37-53): numeric HHMM (possibly 1-3
digits, possibly the 2400 rollover) → zero-pad to 4 → '2400'→'0000' →
'HH:MM'. Applied unconditionally to scheduled time (nulls imputed to 0 →
'00:00') but only to non-null actual departure times (masked update). A
``NaN`` is missing, as pandas reads it in the reference.

One definition: ``sql_hhmm_to_clock`` is SQL text that Spark and DuckDB
both run. ``flights/clean.clean_flights`` projects it, and the operator
entry ``time_normalization`` and its DuckDB oracle run the same text. It is
a pure expression: no UDF, it stays inside whole-stage codegen, with no
Python cost per row.
"""

from __future__ import annotations


def sql_hhmm_to_clock(expr: str, null_as_midnight: bool = False) -> str:
    """Normalize the numeric HHMM SQL expression ``expr`` to an 'HH:MM'
    string, as SQL text that Spark SQL and DuckDB both parse (``INT`` and
    ``STRING``, not DuckDB's bare ``VARCHAR``, which Spark rejects), giving
    the same clock string for any non-negative HHMM value.

    ``null_as_midnight=True`` reproduces the scheduled-time path (null→0→
    '00:00', src/data_cleaning.py:37-41); ``False`` the actual-time masked
    path (null stays null, src/data_cleaning.py:48-53). A ``NaN`` is null
    first (``NULLIF``; both engines hold ``NaN = NaN`` true), as pandas'
    ``isna()`` counts it. A fractional value is floored before the ``INT``
    cast, as the reference's ``astype(int)`` truncates it, because Spark's
    cast truncates and DuckDB's rounds."""
    value = f"NULLIF({expr}, CAST('NaN' AS DOUBLE))"
    base = f"COALESCE({value}, 0)" if null_as_midnight else value
    padded = f"lpad(CAST(CAST(floor({base}) AS INT) AS STRING), 4, '0')"
    rolled = f"(CASE WHEN {padded} = '2400' THEN '0000' ELSE {padded} END)"
    clock = f"(substr({rolled}, 1, 2) || ':' || substr({rolled}, 3, 2))"
    if null_as_midnight:
        return clock
    return f"(CASE WHEN {value} IS NULL THEN NULL ELSE {clock} END)"
