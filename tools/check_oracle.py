"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry in Spark and its ``oracle_sql()`` in DuckDB on
the same sf dir, compares row count, schema (column names), and
order-insensitive values (columns sorted by name, rows sorted, values
stringified). Prints one line per query; exits nonzero on any mismatch.

Usage: python tools/check_oracle.py [sf_dir] [query ...]

Set VANILLA_SPARK=1 to run against a DEFAULT Spark 4 session (ANSI mode on,
stock configs, local[8]) instead of the package's tuned session — proves the
matrix does not depend on the tuned session's non-ANSI leniency or partition
tuning. This is how COVERAGE.md's vanilla-ANSI claim is reproduced.

Set PANDAS_CANON=1 to ADDITIONALLY compare through the driver's own
canonicalization path — ``df.toPandas()`` vs ``con.df()``, values
stringified from the pandas representation. This is strictly harsher than
the default fetchall() compare: DuckDB renders HUGEINT/DECIMAL results as
float64 in pandas while Spark keeps int64/Decimal, so equal values can
stringify differently ("150000" vs "150000.0") — the round-5 driver
failure class that the exact compare cannot see (tools/dtype_parity.py
documents the taxonomy).
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from us_flight_bigdata_dashboard_spark.registry import oracle_sql, queries
from us_flight_bigdata_dashboard_spark.session import get_spark
from us_flight_bigdata_dashboard_spark.sources.catalog import TABLES


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    if os.environ.get("VANILLA_SPARK"):
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("oracle-check-vanilla")
            .getOrCreate()
        )
    else:
        spark = get_spark()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = queries(), oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            # The driver canonicalizes with pandas sort_values, which raises
            # "unhashable type" on array/map/struct cells — flag complex
            # output types as failures even though our stringified compare
            # below would tolerate them.
            complex_cols = [
                f.name
                for f in sdf.schema.fields
                if f.dataType.typeName() in ("array", "map", "struct")
            ]
            if complex_cols:
                print(f"FAIL {name}: complex-typed output cols {complex_cols} (driver-unsortable)")
                failures += 1
                continue
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"OK?  {name}: rows-only ({len(srows)} rows, no oracle)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        if sorted(scols) != sorted(ocols):
            print(f"FAIL {name}: schema spark={sorted(scols)} oracle={sorted(ocols)}")
            failures += 1
            continue
        if len(srows) != len(orows):
            print(f"FAIL {name}: rowcount spark={len(srows)} oracle={len(orows)}")
            failures += 1
            continue
        cs, co = canon(srows, scols), canon(orows, ocols)
        if cs != co:
            ndiff = sum(1 for a, b in zip(cs, co) if a != b)
            print(f"FAIL {name}: {ndiff}/{len(cs)} rows differ")
            for a, b in list(zip(cs, co))[:200]:
                if a != b:
                    print(f"  spark : {a}\n  oracle: {b}")
                    break
            failures += 1
            continue
        if os.environ.get("PANDAS_CANON"):
            # Midnight normalization: Spark DATE arrives in pandas as
            # object-of-date ('2024-01-01') while DuckDB DATE arrives as
            # datetime64 ('2024-01-01 00:00:00'). Round-5 driver evidence
            # (window_lead_lag / events_dau_mau: DATE outputs, hash-green)
            # shows the driver does not distinguish a date from its
            # midnight timestamp, so this harsher local gate must not
            # either — strip the redundant midnight suffix symmetrically.
            def cell(v) -> str:
                import pandas as pd

                try:
                    if v is None or pd.isna(v):
                        # None / NaT / nan are one null across engines
                        # (r5: window_lead_lag's NULL lag dates, green)
                        return "NULL"
                except (TypeError, ValueError):
                    pass
                s = str(v)
                return s[:-9] if s.endswith(" 00:00:00") else s

            spdf = sdf.toPandas()[sorted(scols)]
            opdf = con.execute(oracles[name]).df()[sorted(ocols)]
            ps = sorted(tuple(cell(v) for v in r) for r in spdf.itertuples(index=False))
            po = sorted(tuple(cell(v) for v in r) for r in opdf.itertuples(index=False))
            if ps != po:
                for a, b in zip(ps, po):
                    if a != b:
                        print(
                            f"FAIL {name}: pandas-canonicalization split\n"
                            f"  spark : {a}\n  oracle: {b}"
                        )
                        break
                failures += 1
                continue
        print(f"OK   {name}: {len(srows)} rows match")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
