"""Command-line entry point — the one-command replacement for the
reference's three manual steps (clean script → SQL scripts → aggregation
script) plus a headless serving query.

  python -m us_flight_bigdata_dashboard_spark pipeline --raw 'data/2025_0[1-3].csv' --out out/
  python -m us_flight_bigdata_dashboard_spark serve --cache-dir out/ \\
      --months 1 2 3 --airlines 'Alaska Airlines' 'American Airlines'
  python -m us_flight_bigdata_dashboard_spark query star_join_agg \\
      --sf-dir /root/testdata/sf0.01 --limit 20        # any registry query → JSON rows
  python -m us_flight_bigdata_dashboard_spark query --list
"""

from __future__ import annotations

import argparse
import json
import sys


def _cmd_pipeline(args) -> int:
    from us_flight_bigdata_dashboard_spark.flights.pipeline import refresh
    from us_flight_bigdata_dashboard_spark.session import get_spark

    summary = refresh(get_spark(), args.raw, args.out, with_star=args.write_star)
    summary["out"] = args.out
    print(json.dumps(summary))
    return 0


def _cmd_serve(args) -> int:
    from us_flight_bigdata_dashboard_spark.flights import serve
    from us_flight_bigdata_dashboard_spark.flights.io import CACHES, read_cache_csv

    # the caches in ``CACHES`` order: the airline cache, then the airport cache
    airline, airport = (read_cache_csv(None, f"{args.cache_dir}/{name}", ddl) for name, ddl in CACHES.items())
    fa, fp = serve.apply_shared_filter(airline, airport, months=args.months, airlines=args.airlines)
    charts = {
        "airline_rank": serve.airline_rank(fa),
        "monthly_trend": serve.monthly_trend(fa),
        "delay_attribution": serve.delay_attribution(fa),
        "geo_rollup": serve.geo_rollup(fp),
    }
    # each chart's rows as objects, read off its columns
    result = {"kpis": serve.kpis(fa)} | {
        name: [dict(zip(table.columns, row)) for row in zip(*table.columns.values())] for name, table in charts.items()
    }
    print(json.dumps(result, ensure_ascii=False))
    return 0


def _cmd_query(args) -> int:
    from us_flight_bigdata_dashboard_spark.registry import queries
    from us_flight_bigdata_dashboard_spark.session import get_spark

    qs = queries()
    if args.list:
        for name in qs:
            print(name)
        return 0
    if not args.name:
        print("query name required (or --list)", file=sys.stderr)
        return 2
    if args.name not in qs:
        print(f"unknown query {args.name!r}; see --list", file=sys.stderr)
        return 2
    spark = get_spark()
    df = qs[args.name](spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
        return 0
    rows = df.limit(args.limit).collect() if args.limit else df.collect()
    for r in rows:
        print(json.dumps(r.asDict(), ensure_ascii=False, default=str))
    return 0


def _cmd_curate(args) -> int:
    """Training-data curation chain over a documents table: rule-ensemble
    quality filter → exact-dup removal → split assignment, then an
    optional token-budget mixture fill — materialized as parquet with a
    JSON audit line (per-reason drop counts, per-split sizes)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from us_flight_bigdata_dashboard_spark.operators.sampling import (
        _bucket_col,
        SPLIT_TRAIN_PCT,
        SPLIT_VALID_PCT,
        q_token_budget_fill,
    )
    from us_flight_bigdata_dashboard_spark.operators.text import (
        q_quality_filter_rules,
    )
    from us_flight_bigdata_dashboard_spark.session import get_spark
    from us_flight_bigdata_dashboard_spark.sources.catalog import load_table

    spark = get_spark()
    docs = load_table(spark, args.sf_dir, "documents")
    flags = q_quality_filter_rules(spark, args.sf_dir).select(
        "doc_id", "fail_reason", "keep"
    )
    reasons = {
        r["fail_reason"] or "kept": r["n"]
        for r in flags.groupBy("fail_reason").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    kept = docs.join(flags.filter(F.col("keep") == 1).select("doc_id"), "doc_id")
    norm = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "), " +", " "
            )
        )
    )
    w = Window.partitionBy("_fp").orderBy(F.col("doc_id").asc())
    deduped = (
        kept.withColumn("_fp", norm)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_fp", "_rn")
    )
    bucket = _bucket_col()
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, F.lit("train"))
        .when(bucket < SPLIT_VALID_PCT, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    final = deduped.withColumn("split", split)
    final.write.mode("overwrite").partitionBy("split").parquet(f"{args.out}/documents")
    audit = {
        "n_input": docs.count(),
        "drop_reasons": reasons,
        "n_after_dedup": final.count(),
        "splits": {
            r["split"]: r["n"]
            for r in final.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
        },
        "out": args.out,
    }
    if args.token_budget:
        fill = q_token_budget_fill(spark, args.sf_dir)
        fill.write.mode("overwrite").parquet(f"{args.out}/budget_fill")
        audit["budget_fill_docs"] = fill.count()
    print(json.dumps(audit, ensure_ascii=False))
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="us_flight_bigdata_dashboard_spark")
    sub = parser.add_subparsers(dest="command", required=True)

    p = sub.add_parser("pipeline", help="raw CSVs → clean → star → caches")
    p.add_argument("--raw", required=True, help="CSV file or glob (e.g. data/2025_0[1-3].csv); columns are read by header name")
    p.add_argument("--out", required=True, help="output directory for caches")
    p.add_argument("--write-star", action="store_true", help="also materialize the star schema as parquet under OUT/star")
    p.set_defaults(fn=_cmd_pipeline)

    s = sub.add_parser("serve", help="dashboard queries over the caches → JSON (loads no Spark, JVM, numpy or pandas)")
    s.add_argument("--cache-dir", required=True)
    s.add_argument("--months", nargs="*", type=int, default=None)
    s.add_argument("--airlines", nargs="*", default=None)
    s.set_defaults(fn=_cmd_serve)

    q = sub.add_parser("query", help="run any registry query → JSON rows")
    q.add_argument("name", nargs="?", help="query name (see --list)")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--limit", type=int, default=100, help="row cap (0 = all)")
    q.add_argument("--list", action="store_true", help="list available queries")
    q.add_argument("--explain", action="store_true", help="print the physical plan instead of rows")
    q.set_defaults(fn=_cmd_query)

    c = sub.add_parser("curate", help="quality filter → dedup → split over documents → parquet + audit JSON")
    c.add_argument("--sf-dir", default="/root/testdata/sf0.01", help="input dir containing documents.parquet")
    c.add_argument("--out", required=True, help="output directory")
    c.add_argument("--token-budget", action="store_true", help="also materialize the token-budget mixture fill")
    c.set_defaults(fn=_cmd_curate)

    args = parser.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
