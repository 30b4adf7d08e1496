"""Pandas-dtype parity audit between Spark results and DuckDB oracles.

Root cause of the round-5 driver gate failures (CORRECTNESS_r05.json): the
driver canonicalizes both result sets through pandas. DuckDB's ``.df()``
converts HUGEINT (the result type of SUM over integers) and DECIMAL results
to **float64**, while Spark's ``toPandas()`` keeps BIGINT as int64 and
DECIMAL(38,0) as object-Decimal. Equal values then stringify differently
("150000" vs "150000.0") and the driver's value hash mismatches — invisible
to tools/check_oracle.py, whose ``fetchall()`` path sees exact Python
ints/Decimals on both sides. All nine red r5 cells (chi_square_assoc, the
four scan_*_roundtrip digests, text_ngram_novelty, embedding_norm_audit,
graph_communities, kanon_audit) reduce to exactly this.

NOT flagged: an integer column that carries NULLs degrades to float64 in
pandas on BOTH engines identically (asof_join_forward / window_lead_lag /
dedup_incremental were driver-green in r5 with NULL-int columns), so the
audit classifies by DuckDB's *declared* relation types, not pandas dtypes:

- DuckDB HUGEINT / UHUGEINT result (SUM over any integer type) → float64 in
  pandas while Spark stays int64 → VIOLATION; fix: CAST(SUM(..) AS BIGINT).
- DuckDB DECIMAL result → float64 in pandas → VIOLATION when Spark emits
  int/decimal; fix: cast to BIGINT/DOUBLE on both sides.
- Spark DECIMAL output → object-of-Decimal in pandas → VIOLATION always;
  fix: cast the Spark result to BIGINT/DOUBLE.
- Family mismatches (spark int vs duck DOUBLE, spark float vs duck BIGINT,
  …) → VIOLATION; fix: align with casts.

Zero output = the whole matrix is driver-canonicalization-safe. Wired into
tests/test_dtype_parity.py so new entries cannot reintroduce the class.

Usage: python tools/dtype_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from us_flight_bigdata_dashboard_spark.registry import oracle_sql, queries
from us_flight_bigdata_dashboard_spark.session import get_spark
from us_flight_bigdata_dashboard_spark.sources.catalog import TABLES

_INT = "int"
_FLOAT = "float"
_BOOL = "bool"
_STR = "str"
_DATE = "date"
_TS = "ts"
_DECIMAL = "decimal"


def spark_family(dt) -> str:
    name = dt.typeName()
    if name in ("byte", "short", "integer", "long"):
        return _INT
    if name in ("float", "double"):
        return _FLOAT
    if name == "boolean":
        return _BOOL
    if name == "string":
        return _STR
    if name == "date":
        return _DATE
    if name.startswith("timestamp"):
        return _TS
    if name.startswith("decimal"):
        return _DECIMAL
    return name


def duck_family(type_str: str) -> str:
    s = type_str.upper()
    if s in ("HUGEINT", "UHUGEINT") or s.startswith("DECIMAL"):
        return _DECIMAL  # → float64 in .df(); never driver-safe vs int64
    if "INT" in s:
        return _INT
    if s in ("FLOAT", "DOUBLE", "REAL"):
        return _FLOAT
    if s == "BOOLEAN":
        return _BOOL
    if s in ("VARCHAR", "UUID"):
        return _STR
    if s == "DATE":
        return _DATE
    if s.startswith("TIMESTAMP"):
        return _TS
    return s


# Spark DATE → object-of-datetime.date; DuckDB DATE → datetime64. Entries
# returning dates are driver-green today (events_dau_mau r5 ✅): compatible.
_COMPAT = {(_DATE, _TS), (_TS, _DATE)}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = queries(), oracle_sql()
    bad = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            continue
        try:
            sdf = fn(spark, sf_dir)
            sfam = {f.name: spark_family(f.dataType) for f in sdf.schema.fields}
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {name}: spark {e}")
            bad += 1
            continue
        try:
            rel = con.sql(oracles[name])
            ofams = dict(zip(rel.columns, [duck_family(str(t)) for t in rel.types]))
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {name}: duckdb {e}")
            bad += 1
            continue
        for col, ofam in ofams.items():
            if col not in sfam:
                continue
            sf = sfam[col]
            if sf == ofam and sf != _DECIMAL:
                continue
            if (sf, ofam) in _COMPAT:
                continue
            print(f"MISMATCH {name}.{col}: spark={sf} duckdb={ofam}")
            bad += 1
    print(f"{'FAIL' if bad else 'OK'}: {bad} dtype-parity violations")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
