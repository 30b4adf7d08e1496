"""Core relational operator queries (SURVEY.md §2) over the testdata star schema.

Each public ``q_*`` takes (spark, sf_dir) → DataFrame; ``ORACLE`` holds the
equivalent DuckDB SQL. Column names/aliases are identical on both sides
(driver hash-compares after sorting columns by name).

Determinism policy: double aggregations use decimal-quantized sums
(functions/exact.py) so results are bit-identical across engines and across
partitionings; every LIMIT sits under a total order; rank ties are broken by
key.

Scale policy: all dimension joins are broadcast (dims ≪ fact, as in the
reference star schema sql/wide_table.sql:29-36); aggregations are expressed
declaratively so Catalyst plans partial→final hash aggregation with map-side
combine; filters/projections sit directly on the parquet scan for pushdown.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from us_flight_bigdata_dashboard_spark.functions.exact import dsum, davg, sql_dsum, sql_davg
from us_flight_bigdata_dashboard_spark.functions.timenorm import sql_hhmm_to_clock
from us_flight_bigdata_dashboard_spark.sources.catalog import load_table


# ---------------------------------------------------------------------------
# Flagship: multi-dim broadcast star join + multi-agg (J1-J4 + A1 analog)
# ---------------------------------------------------------------------------

def q_star_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈4-dims star join + 2-level-key hash aggregation.

    Analog of the reference wide view (sql/wide_table.sql:4-36) feeding the
    airline-monthly aggregation (src/aggregate_flight_data.py:26-40):
    lineitem (fact) enriched via orders→customer→nation→region, grouped and
    multi-aggregated. The true dims (customer/nation/region) are broadcast-
    hinted; lineitem⋈orders is deliberately UNhinted — at test scale the
    auto-threshold broadcasts it, at 100 TB Catalyst/AQE correctly flips it
    to a shuffled join (hinting a 100 TB broadcast would be wrong).
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    joined = (
        lineitem.join(
            orders.select("o_orderkey", "o_custkey", "o_orderdate"),
            lineitem.l_orderkey == orders.o_orderkey,
            "inner",
        )
        .join(F.broadcast(customer.select("c_custkey", "c_nationkey")), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    # Two-phase aggregation instead of countDistinct's expand: the expand
    # doubles every fact row through the shuffle; aggregating first at
    # (group keys, orderkey) then rolling up counts orders for free and
    # shuffles ~40% less (measured: 3.6s → 2.0s fresh-plan at sf0.1,
    # identical results). All partials are additive/exact (decimal sums),
    # so the rollup is bit-identical to the single-pass form.
    fine = joined.groupBy(
        F.col("r_name").alias("region_name"),
        F.col("n_name").alias("nation_name"),
        F.month("o_orderdate").alias("order_month"),
        F.col("l_orderkey"),
    ).agg(
        F.count(F.lit(1)).alias("_n"),
        dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), scale=6).alias("_rev"),
        dsum(F.col("l_discount"), scale=8).alias("_disc"),
    )
    return fine.groupBy("region_name", "nation_name", "order_month").agg(
        F.sum("_n").alias("n_items"),
        dsum(F.col("_rev"), scale=6).alias("revenue"),
        (dsum(F.col("_disc"), scale=8) / F.sum("_n")).alias("avg_discount"),
        F.count(F.lit(1)).alias("n_orders"),
    )


_ORACLE_STAR_JOIN_AGG = f"""
SELECT r_name AS region_name,
       n_name AS nation_name,
       CAST(month(o_orderdate) AS INTEGER) AS order_month,
       COUNT(*) AS n_items,
       {sql_dsum("l_extendedprice * (1.0 - l_discount)", scale=6)} AS revenue,
       {sql_davg("l_discount", scale=8)} AS avg_discount,
       COUNT(DISTINCT l_orderkey) AS n_orders
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# A1: multi-aggregate hash aggregation (TPC-H Q1 shape)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-agg 2-key aggregation with filter pushdown (A1/A2/A3 analog,
    src/aggregate_flight_data.py:26-39 — Spark's partial/final HashAggregate
    replaces the reference's hand-rolled chunk merge, correctly for means)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), scale=6).alias("sum_disc_price"),
            dsum(
                (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))) * (F.lit(1.0) + F.col("l_tax")),
                scale=6,
            ).alias("sum_charge"),
            davg("l_quantity", scale=6).alias("avg_qty"),
            davg("l_extendedprice", scale=6).alias("avg_price"),
            davg("l_discount", scale=8).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_ORACLE_PRICING_SUMMARY = f"""
SELECT l_returnflag,
       l_linestatus,
       {sql_dsum("l_quantity")} AS sum_qty,
       {sql_dsum("l_extendedprice")} AS sum_base_price,
       {sql_dsum("l_extendedprice * (1.0 - l_discount)", scale=6)} AS sum_disc_price,
       {sql_dsum("(l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax)", scale=6)} AS sum_charge,
       {sql_davg("l_quantity", scale=6)} AS avg_qty,
       {sql_davg("l_extendedprice", scale=6)} AS avg_price,
       {sql_davg("l_discount", scale=8)} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# S2/P1/P3: projected scan with casts
# ---------------------------------------------------------------------------

def q_scan_project_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned scan + explicit casts (P1 whitelist projection
    src/data_cleaning.py:15-25; P3 casts src/data_cleaning.py:28,
    sql/data_modeling.sql:9-11). Catalyst pushes the projection into the
    parquet reader (ReadSchema shows only these columns)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.select(
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        F.col("l_orderkey").cast("string").alias("orderkey_str"),
        F.floor("l_quantity").cast("int").alias("qty_int"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
        F.col("l_extendedprice").alias("price"),
    )


_ORACLE_SCAN_PROJECT_CAST = """
SELECT l_orderkey,
       l_linenumber,
       CAST(l_orderkey AS VARCHAR) AS orderkey_str,
       CAST(FLOOR(l_quantity) AS INTEGER) AS qty_int,
       CAST(l_shipdate AS DATE) AS ship_date,
       l_extendedprice AS price
FROM lineitem
"""


# Shared digest for the format-roundtrip entries (VERDICT r4 ask #3):
# instead of returning the roundtripped CORPUS as the query result — a
# driver-OOM by construction at 100 TB — each entry reduces the read-back
# data to ONE row of per-column order-insensitive value digests
# (SUM over 60-bit md5 prefixes of canonical value strings) + a row count.
# The oracle computes the identical digest over the parquet source, so the
# fidelity guarantee is unchanged (any corrupted/lost/duplicated value in
# write→read flips its column digest) while the result is O(columns).
# Doubles are canonicalized as exact cents (ROUND(price·100) — the data's
# full precision; values sit ~1e-9 from integers, never near a rounding
# boundary), everything else as its ISO/decimal string, identical on both
# engines. Digest sums stay exact in DECIMAL(38,0) far past 1e11 rows
# (2^60 · 1e11 ≈ 1e29 < 1e38), then reduce mod 2^62 into BIGINT: the
# driver canonicalizes through pandas, where a DECIMAL(38,0) result is
# object-Decimal on Spark but float64 (lossy at ~1e22) on DuckDB — the
# round-5 hash mismatches on all four roundtrip entries. The mod is taken
# once on the exact total on BOTH engines, so the collision/fidelity
# properties are unchanged and the result is int64-clean in pandas.

_DIG_MOD = 2**62


def _rt_digest(df: DataFrame) -> DataFrame:
    cents = F.round(F.col("price") * F.lit(100.0), 0).cast("bigint")
    canon = df.select(
        F.col("l_orderkey").cast("string").alias("s_orderkey"),
        F.col("l_linenumber").cast("string").alias("s_linenumber"),
        F.col("ship_date").cast("string").alias("s_ship_date"),
        cents.cast("string").alias("s_price"),
        F.col("l_returnflag").alias("s_returnflag"),
    )

    def dig(c: str):
        total = F.sum(
            F.conv(F.substring(F.md5(F.col(c)), 1, 15), 16, 10).cast("decimal(38,0)")
        )
        return (total % F.lit(_DIG_MOD).cast("decimal(38,0)")).cast("bigint")

    return canon.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dig("s_orderkey").alias("h_orderkey"),
        dig("s_linenumber").alias("h_linenumber"),
        dig("s_ship_date").alias("h_ship_date"),
        dig("s_price").alias("h_price"),
        dig("s_returnflag").alias("h_returnflag"),
    )


def _sql_rt_digest() -> str:
    from us_flight_bigdata_dashboard_spark.operators.dedup import _sql_hex_to_int

    def dig(expr: str) -> str:
        return f"CAST(SUM({_sql_hex_to_int(f'md5({expr})', 1, 15)}) % {_DIG_MOD} AS BIGINT)"

    return f"""
WITH t AS (
  SELECT CAST(l_orderkey AS VARCHAR) AS s_orderkey,
         CAST(l_linenumber AS VARCHAR) AS s_linenumber,
         CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS s_ship_date,
         CAST(CAST(ROUND(l_extendedprice * 100.0, 0) AS BIGINT) AS VARCHAR) AS s_price,
         l_returnflag AS s_returnflag
  FROM lineitem
)
SELECT COUNT(*) AS n_rows,
       {dig("s_orderkey")} AS h_orderkey,
       {dig("s_linenumber")} AS h_linenumber,
       {dig("s_ship_date")} AS h_ship_date,
       {dig("s_price")} AS h_price,
       {dig("s_returnflag")} AS h_returnflag
FROM t
"""


def q_scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source/sink format breadth (§2.1): the lineitem projection written
    to ORC and read back — every value must survive the parquet→ORC→scan
    round trip, which the gate asserts by comparing per-column value
    digests of the ORC read against the PARQUET-sourced oracle's digests
    (see ``_rt_digest`` — an O(columns) result, not the corpus). ORC is
    the other columnar format Spark ships natively (Hive lineage); a
    lakehouse engine that claims format breadth must prove fidelity, not
    just non-crashing, for ints, strings, dates, and float64 payloads.

    Staging is memoized per (sf_dir) for the process lifetime and removed
    at exit (same discipline as the streaming replay staging); the write
    is a distributed ORC sink, the read a fresh distributed ORC scan with
    column pruning (ORC supports predicate pushdown and pruning exactly
    like parquet — same ReadSchema behavior)."""
    import atexit
    import shutil
    import tempfile

    cache = getattr(q_scan_orc_roundtrip, "_staged", None)
    if cache is None:
        cache = q_scan_orc_roundtrip._staged = {}
        atexit.register(
            lambda: [shutil.rmtree(p, ignore_errors=True) for p in cache.values()]
        )
    if sf_dir not in cache:
        out = tempfile.mkdtemp(prefix="orc_roundtrip_")
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice", "l_returnflag"
        ).write.mode("overwrite").orc(out)
        cache[sf_dir] = out
    return _rt_digest(
        spark.read.orc(cache[sf_dir]).select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_shipdate").cast("date").alias("ship_date"),
            F.col("l_extendedprice").alias("price"),
            "l_returnflag",
        )
    )


_ORACLE_SCAN_ORC_ROUNDTRIP = _sql_rt_digest()


def q_scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source/sink format breadth (§2.1): the lineitem projection written
    to XML (Spark 4's built-in ``xml`` source — the spark-xml package
    folded into core) and read back with an EXPLICIT schema; the gate
    compares per-column value digests against the PARQUET-sourced
    oracle, so fidelity across the text round trip (numeric re-parse,
    timestamp ISO rendering, markup escaping) is proven, not assumed.
    XML is the interchange format of B2B/EDI and legacy feeds — an
    engine claiming source breadth meets it long before Avro.

    Same memoized staging discipline as ``q_scan_orc_roundtrip``; the
    write is a distributed XML sink (one element per row under a row
    tag), the read a fresh distributed XML scan. Schema is declared, not
    inferred — at 100 TB an inference pass over text files is a full
    extra scan."""
    import atexit
    import shutil
    import tempfile

    cache = getattr(q_scan_xml_roundtrip, "_staged", None)
    if cache is None:
        cache = q_scan_xml_roundtrip._staged = {}
        atexit.register(
            lambda: [shutil.rmtree(p, ignore_errors=True) for p in cache.values()]
        )
    if sf_dir not in cache:
        out = tempfile.mkdtemp(prefix="xml_roundtrip_")
        (
            load_table(spark, sf_dir, "lineitem")
            .select(
                "l_orderkey",
                "l_linenumber",
                "l_shipdate",
                "l_extendedprice",
                "l_returnflag",
            )
            .write.mode("overwrite")
            .format("xml")
            .option("rootTag", "lineitems")
            .option("rowTag", "li")
            .save(out)
        )
        cache[sf_dir] = out
    xml_schema = (
        "l_orderkey bigint, l_linenumber int, l_shipdate timestamp, "
        "l_extendedprice double, l_returnflag string"
    )
    return _rt_digest(
        spark.read.format("xml")
        .option("rowTag", "li")
        .schema(xml_schema)
        .load(cache[sf_dir])
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_shipdate").cast("date").alias("ship_date"),
            F.col("l_extendedprice").alias("price"),
            "l_returnflag",
        )
    )


_ORACLE_SCAN_XML_ROUNDTRIP = _sql_rt_digest()


def q_scan_parquet_zstd_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet re-written under ZSTD — the lakehouse-default codec swap
    (snappy→zstd is the standard storage-cost lever; Spark 4 bundles the
    zstd-jni codec natively). Same digest gate as the other roundtrips:
    every value must survive the snappy-parquet → zstd-parquet → scan
    chain, proving codec-swap fidelity rather than just non-crashing.
    Predicate pushdown/pruning behavior is identical to any parquet scan —
    the codec only changes page encoding, never the reader contract."""
    import atexit
    import shutil
    import tempfile

    cache = getattr(q_scan_parquet_zstd_roundtrip, "_staged", None)
    if cache is None:
        cache = q_scan_parquet_zstd_roundtrip._staged = {}
        atexit.register(
            lambda: [shutil.rmtree(p, ignore_errors=True) for p in cache.values()]
        )
    if sf_dir not in cache:
        out = tempfile.mkdtemp(prefix="pq_zstd_roundtrip_")
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice", "l_returnflag"
        ).write.mode("overwrite").option("compression", "zstd").parquet(out)
        # the staged files must actually BE zstd-compressed, not silently
        # fall back — assert the column-chunk codec from the footer
        import glob as _glob

        import pyarrow.parquet as _pq

        # a part file can legitimately hold ZERO row groups (an empty
        # write partition — seen at sf0.1); assert the codec on the
        # first part that actually has one
        codec = None
        for f in sorted(_glob.glob(f"{out}/part-*.parquet")):
            meta = _pq.ParquetFile(f).metadata
            if meta.num_row_groups:
                codec = meta.row_group(0).column(0).compression
                break
        if codec is None or codec.upper() != "ZSTD":
            raise RuntimeError(f"staged parquet codec is {codec}, not ZSTD")
        cache[sf_dir] = out
    return _rt_digest(
        spark.read.parquet(cache[sf_dir]).select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_shipdate").cast("date").alias("ship_date"),
            F.col("l_extendedprice").alias("price"),
            "l_returnflag",
        )
    )


_ORACLE_SCAN_PARQUET_ZSTD_ROUNDTRIP = _sql_rt_digest()


def q_scan_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source/sink roundtrip under the exact gate — the
    interchange format every ingestion pipeline meets. The fear with JSON
    is float fidelity; Spark serializes doubles with the shortest
    representation that round-trips (Ryu), so parquet→JSONL→scan is
    BIT-identical for float64 — this entry checks value fidelity at the
    data's full (cent) precision via per-column digests against the
    parquet-sourced oracle (``_rt_digest``). Dates travel as ISO
    strings and are re-cast on read with an explicit schema (schema-on-read
    — never inference, which would sample-scan the data twice and can
    mis-type empty partitions)."""
    import atexit
    import shutil
    import tempfile

    cache = getattr(q_scan_jsonl_roundtrip, "_staged", None)
    if cache is None:
        cache = q_scan_jsonl_roundtrip._staged = {}
        atexit.register(
            lambda: [shutil.rmtree(p, ignore_errors=True) for p in cache.values()]
        )
    if sf_dir not in cache:
        out = tempfile.mkdtemp(prefix="jsonl_roundtrip_")
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice", "l_returnflag"
        ).write.mode("overwrite").json(out)
        cache[sf_dir] = out
    schema = (
        "l_orderkey bigint, l_linenumber bigint, l_shipdate timestamp, "
        "l_extendedprice double, l_returnflag string"
    )
    return _rt_digest(
        spark.read.schema(schema).json(cache[sf_dir]).select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_shipdate").cast("date").alias("ship_date"),
            F.col("l_extendedprice").alias("price"),
            "l_returnflag",
        )
    )


_ORACLE_SCAN_JSONL_ROUNDTRIP = _ORACLE_SCAN_ORC_ROUNDTRIP


def q_scan_jsonl_gzip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GZIP-COMPRESSED JSONL source/sink roundtrip — the format most raw
    text corpora actually arrive in (`.jsonl.gz` dumps). Spark writes
    with ``compression=gzip`` and the read path auto-detects the codec
    from the extension; the gate proves the full write→compress→
    decompress→parse loop preserves every value (per-column digests vs
    the parquet oracle — see ``_rt_digest``).

    Scale note: gzip is NOT splittable — one .gz file = one read task —
    so the writer keeps the data partitioned into many files (the
    standard .jsonl.gz corpus layout: parallelism = file count, which
    the writer controls)."""
    import atexit
    import shutil
    import tempfile

    cache = getattr(q_scan_jsonl_gzip_roundtrip, "_staged", None)
    if cache is None:
        cache = q_scan_jsonl_gzip_roundtrip._staged = {}
        atexit.register(
            lambda: [shutil.rmtree(p, ignore_errors=True) for p in cache.values()]
        )
    if sf_dir not in cache:
        out = tempfile.mkdtemp(prefix="jsonl_gz_roundtrip_")
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice", "l_returnflag"
        ).write.mode("overwrite").option("compression", "gzip").json(out)
        cache[sf_dir] = out
    schema = (
        "l_orderkey bigint, l_linenumber bigint, l_shipdate timestamp, "
        "l_extendedprice double, l_returnflag string"
    )
    return _rt_digest(
        spark.read.schema(schema).json(cache[sf_dir]).select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_shipdate").cast("date").alias("ship_date"),
            F.col("l_extendedprice").alias("price"),
            "l_returnflag",
        )
    )


_ORACLE_SCAN_JSONL_GZIP_ROUNDTRIP = _ORACLE_SCAN_ORC_ROUNDTRIP


def q_scan_csv_quoted_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quoted/multiline CSV fidelity — the dialect corner the plain
    roundtrip can't reach: free TEXT with embedded newlines, quotes, and
    commas written under RFC-4180 quoting and read back with
    ``multiLine=true``. This is the classic CSV failure mode for document
    corpora (a naive reader splits records at embedded newlines and the
    corpus silently shreds); the gate digests doc_id + the text itself
    against the parquet oracle, so quoting, escaping, and multiline
    record assembly must all be exact.

    Scale note, stated because it matters: ``multiLine=true`` makes each
    CSV FILE unsplittable (records can span arbitrary byte ranges), so
    parallelism = file count — which the writer controls (repartition
    before write). That trade is why columnar/JSONL is preferred for
    document payloads at 100 TB; this entry exists to prove the dialect
    is handled, not to recommend it."""
    import atexit
    import shutil
    import tempfile

    cache = getattr(q_scan_csv_quoted_roundtrip, "_staged", None)
    if cache is None:
        cache = q_scan_csv_quoted_roundtrip._staged = {}
        atexit.register(
            lambda: [shutil.rmtree(p, ignore_errors=True) for p in cache.values()]
        )
    if sf_dir not in cache:
        out = tempfile.mkdtemp(prefix="csvq_roundtrip_")
        (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            # force the hard dialect: every payload carries newline, quote,
            # and comma characters IN ADDITION to the corpus text
            .withColumn(
                "text",
                F.concat(F.lit('a,"b"\nc:'), F.col("text"), F.lit('\n"end"')),
            )
            .repartition(8)
            .write.mode("overwrite")
            .option("header", True)
            .option("quoteAll", True)
            .csv(out)
        )
        cache[sf_dir] = out
    back = (
        spark.read.schema("doc_id long, text string")
        .option("header", True)
        .option("multiLine", True)
        .csv(cache[sf_dir])
    )

    def dig(c):
        total = F.sum(
            F.conv(F.substring(F.md5(F.col(c)), 1, 15), 16, 10).cast("decimal(38,0)")
        )
        return (total % F.lit(_DIG_MOD).cast("decimal(38,0)")).cast("bigint")

    return back.select(
        F.col("doc_id").cast("string").alias("s_id"), "text"
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        dig("s_id").alias("h_id"),
        dig("text").alias("h_text"),
    )


def _sql_csv_quoted() -> str:
    from us_flight_bigdata_dashboard_spark.operators.dedup import _sql_hex_to_int

    def dig(expr: str) -> str:
        return f"CAST(SUM({_sql_hex_to_int(f'md5({expr})', 1, 15)}) % {_DIG_MOD} AS BIGINT)"

    wrapped = "'a,\"b\"' || chr(10) || 'c:' || text || chr(10) || '\"end\"'"
    return f"""
SELECT COUNT(*) AS n_rows,
       {dig("CAST(doc_id AS VARCHAR)")} AS h_id,
       {dig(wrapped)} AS h_text
FROM documents
"""


_ORACLE_SCAN_CSV_QUOTED_ROUNDTRIP = _sql_csv_quoted()


def q_scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source/sink roundtrip under the exact gate — the reference's
    native interchange format (S1/S6: its entire pipeline is CSV-in,
    CSV-out). Java's ``Double.toString`` emits the shortest string that
    parses back to the same bits, so even float64 survives the text
    roundtrip bit-exactly; the gate checks value fidelity with per-column
    digests against the parquet oracle (``_rt_digest``).
    Schema-on-read with an explicit schema and header=true — the same
    no-inference discipline as the flights CSV path
    (``flights/io.read_raw_flights``)."""
    import atexit
    import shutil
    import tempfile

    cache = getattr(q_scan_csv_roundtrip, "_staged", None)
    if cache is None:
        cache = q_scan_csv_roundtrip._staged = {}
        atexit.register(
            lambda: [shutil.rmtree(p, ignore_errors=True) for p in cache.values()]
        )
    if sf_dir not in cache:
        out = tempfile.mkdtemp(prefix="csv_roundtrip_")
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice", "l_returnflag"
        ).write.mode("overwrite").option("header", "true").csv(out)
        cache[sf_dir] = out
    schema = (
        "l_orderkey bigint, l_linenumber bigint, l_shipdate timestamp, "
        "l_extendedprice double, l_returnflag string"
    )
    return _rt_digest(
        spark.read.schema(schema)
        .option("header", "true")
        .csv(cache[sf_dir])
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_shipdate").cast("date").alias("ship_date"),
            F.col("l_extendedprice").alias("price"),
            "l_returnflag",
        )
    )


_ORACLE_SCAN_CSV_ROUNDTRIP = _ORACLE_SCAN_ORC_ROUNDTRIP


def q_scan_fixedwidth_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width text ingest under the exact gate — the mainframe/COBOL
    interchange layout still common in finance/government feeds (and the
    one format with NO delimiter to trust): each record is a 37-byte
    line [orderkey 12][lineno 2][shipdate 10][price-cents 12][flag 1],
    zero-padded numerics. Rendered with pure column expressions
    (lpad/concat), written via the text sink, read back with
    ``spark.read.text`` + positional substring parsing — schema-on-read
    where the SCHEMA IS THE BYTE LAYOUT. The digest gate proves every
    value survives render→parse bit-exactly (cents are integers, so the
    text layer is lossless by construction).

    Scale shape: render and parse are whole-stage-codegen column
    expressions over a line-splittable text format — identical
    parallelism to the CSV path; no Python anywhere.
    """
    import atexit
    import shutil
    import tempfile

    cache = getattr(q_scan_fixedwidth_roundtrip, "_staged", None)
    if cache is None:
        cache = q_scan_fixedwidth_roundtrip._staged = {}
        atexit.register(
            lambda: [shutil.rmtree(p, ignore_errors=True) for p in cache.values()]
        )
    if sf_dir not in cache:
        out = tempfile.mkdtemp(prefix="fixedwidth_roundtrip_")
        li = load_table(spark, sf_dir, "lineitem")
        line = F.concat(
            F.lpad(F.col("l_orderkey").cast("string"), 12, "0"),
            F.lpad(F.col("l_linenumber").cast("string"), 2, "0"),
            F.col("l_shipdate").cast("date").cast("string"),
            F.lpad(
                F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").cast("string"),
                12,
                "0",
            ),
            F.col("l_returnflag"),
        )
        li.select(line.alias("value")).write.mode("overwrite").text(out)
        cache[sf_dir] = out
    raw = spark.read.text(cache[sf_dir])
    parsed = raw.select(
        F.substring("value", 1, 12).cast("bigint").alias("l_orderkey"),
        F.substring("value", 13, 2).cast("bigint").alias("l_linenumber"),
        F.substring("value", 15, 10).cast("date").alias("ship_date"),
        (F.substring("value", 25, 12).cast("bigint").cast("double") / F.lit(100.0)).alias(
            "price"
        ),
        F.substring("value", 37, 1).alias("l_returnflag"),
    )
    return _rt_digest(parsed)


_ORACLE_SCAN_FIXEDWIDTH = _ORACLE_SCAN_ORC_ROUNDTRIP


# ---------------------------------------------------------------------------
# P9: conjunctive IN-list filter (the app's shared filter masks)
# ---------------------------------------------------------------------------

def q_filter_in_conj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive IN-list predicate + aggregation (P9, src/app.py:83-87).
    Both predicates push to the parquet scan."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(
            F.col("l_returnflag").isin("A", "R") & F.month("l_shipdate").isin(1, 2, 3)
        )
        .groupBy(F.col("l_returnflag"), F.month("l_shipdate").alias("ship_month"))
        .agg(F.count(F.lit(1)).alias("n_rows"), dsum("l_quantity").alias("sum_qty"))
    )


_ORACLE_FILTER_IN_CONJ = f"""
SELECT l_returnflag,
       CAST(month(l_shipdate) AS INTEGER) AS ship_month,
       COUNT(*) AS n_rows,
       {sql_dsum("l_quantity")} AS sum_qty
FROM lineitem
WHERE l_returnflag IN ('A', 'R') AND month(l_shipdate) IN (1, 2, 3)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# P5/P6: null imputation + derived indicator
# ---------------------------------------------------------------------------

def q_null_impute_indicator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fillna/coalesce + null-test indicator (P5 src/data_cleaning.py:31-34,
    P6 src/data_cleaning.py:61-64). Nulls are introduced with NULLIF so the
    imputation path is exercised regardless of source null rates."""
    orders = load_table(spark, sf_dir, "orders")
    masked = orders.withColumn(
        "status_masked", F.when(F.col("o_orderstatus") == "O", F.lit(None).cast("string")).otherwise(F.col("o_orderstatus"))
    )
    return (
        masked.select(
            "o_orderkey",
            F.coalesce(F.col("status_masked"), F.lit("IMPUTED")).alias("status_filled"),
            F.col("status_masked").isNull().cast("int").alias("was_null"),
        )
        .groupBy("status_filled", "was_null")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


_ORACLE_NULL_IMPUTE_INDICATOR = """
SELECT COALESCE(status_masked, 'IMPUTED') AS status_filled,
       CAST(status_masked IS NULL AS INTEGER) AS was_null,
       COUNT(*) AS n_rows
FROM (
  SELECT o_orderkey,
         CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_orderstatus END AS status_masked
  FROM orders
)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# P4: HHMM → 'HH:MM' time normalization
# ---------------------------------------------------------------------------

# a synthetic HHMM (covering 0..2400 incl. the rollover) from integer keys,
# null on one branch to exercise the masked-update semantics
_HHMM = "((l_orderkey * 37 + l_linenumber * 997) % 2401)"
_DEP_HHMM = f"(CASE WHEN l_linenumber = 3 THEN NULL ELSE {_HHMM} END)"
_TIME_NORMALIZATION = (
    "l_orderkey",
    "l_linenumber",
    f"{_HHMM} AS crs_hhmm",
    f"{sql_hhmm_to_clock(_HHMM, null_as_midnight=True)} AS crs_dep_clock",
    f"{_DEP_HHMM} AS dep_hhmm",
    f"{sql_hhmm_to_clock(_DEP_HHMM, null_as_midnight=False)} AS dep_clock",
)


def q_time_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's hardest scalar chain (P4, src/data_cleaning.py:37-53):
    zero-pad, 2400-rollover, slice+concat — ``sql_hhmm_to_clock``'s pure
    SQL expression, the text its DuckDB oracle runs too."""
    return load_table(spark, sf_dir, "lineitem").selectExpr(*_TIME_NORMALIZATION)


_ORACLE_TIME_NORMALIZATION = f"SELECT {', '.join(_TIME_NORMALIZATION)} FROM lineitem"


# ---------------------------------------------------------------------------
# P8: weekend indicator with the BTS day-of-week convention
# ---------------------------------------------------------------------------

def q_derived_weekend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekend flag under the BTS convention 1=Monday…7=Sunday (P8,
    src/data_cleaning.py:103; convention trap SURVEY.md §1.2 — Spark's
    dayofweek() is 1=Sunday so we derive ((dow+5)%7)+1)."""
    events = load_table(spark, sf_dir, "events")
    iso_dow = ((F.dayofweek("ts") + F.lit(5)) % F.lit(7)) + F.lit(1)
    return (
        events.select(
            iso_dow.alias("day_of_week"),
            F.when(iso_dow >= 6, F.lit(1)).otherwise(F.lit(0)).alias("is_weekend"),
        )
        .groupBy("day_of_week", "is_weekend")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


_ORACLE_DERIVED_WEEKEND = """
SELECT CAST(isodow(ts) AS INTEGER) AS day_of_week,
       CAST(CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END AS INTEGER) AS is_weekend,
       COUNT(*) AS n_events
FROM events
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# P14: string function surface
# ---------------------------------------------------------------------------

def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String surface: lpad / substring / concat / upper (P14,
    src/data_cleaning.py:39-41 + sql CASTs)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_type").alias("type_upper"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_size").cast("string")).alias("brand_size"),
    )


_ORACLE_STRING_FUNCS = """
SELECT p_partkey,
       upper(p_type) AS type_upper,
       lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
       substr(p_name, 1, 8) AS name_prefix,
       p_brand || '#' || CAST(p_size AS VARCHAR) AS brand_size
FROM part
"""


# ---------------------------------------------------------------------------
# S9/J1-J4: denormalized wide view (LEFT joins, renamed projection)
# ---------------------------------------------------------------------------

def q_wide_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The wide-table view analog (sql/wide_table.sql:4-36): fact LEFT JOIN
    every dim, renamed projection (P2). LEFT semantics preserved exactly;
    dims broadcast. Subsampled by key to keep driver collect small."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        orders.filter(F.col("o_orderkey") % 97 == 0)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey, "left")
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left")
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left")
        .select(
            F.col("o_orderkey").alias("order_key"),
            F.col("o_totalprice").alias("total_price"),
            F.col("o_orderpriority").alias("priority"),
            F.col("c_name").alias("customer_name"),
            F.col("c_mktsegment").alias("segment"),
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
        )
    )


_ORACLE_WIDE_VIEW = """
SELECT o_orderkey AS order_key,
       o_totalprice AS total_price,
       o_orderpriority AS priority,
       c_name AS customer_name,
       c_mktsegment AS segment,
       n_name AS nation_name,
       r_name AS region_name
FROM orders
LEFT JOIN customer ON o_custkey = c_custkey
LEFT JOIN nation   ON c_nationkey = n_nationkey
LEFT JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderkey % 97 = 0
"""


# ---------------------------------------------------------------------------
# J3: self-alias join — same dim joined twice
# ---------------------------------------------------------------------------

def q_self_alias_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same dimension joined under two aliases (J3, sql/wide_table.sql:31-34
    — dim_airports as origin and dest): nation as supplier-nation and as
    customer-nation on each lineitem (TPC-H Q7 shape)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    return (
        lineitem.join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer.select("c_custkey", "c_nationkey")), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), scale=6).alias("revenue"),
        )
    )


_ORACLE_SELF_ALIAS_JOIN = f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       COUNT(*) AS n_items,
       {sql_dsum("l_extendedprice * (1.0 - l_discount)", scale=6)} AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# U1/U2/U3: set operations
# ---------------------------------------------------------------------------

def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduplicating UNION (U1, sql/data_modeling.sql:12-16 — origin ∪ dest
    airports): customer nations ∪ supplier nations."""
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        customer.select(F.col("c_nationkey").alias("nationkey"))
        .unionByName(supplier.select(F.col("s_nationkey").alias("nationkey")))
        .distinct()
    )


_ORACLE_UNION_DISTINCT = """
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
"""


def q_union_all_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of per-table COUNT(*) validation rows (U2/A12,
    sql/data_modeling.sql:83-86)."""
    frames = []
    for name in ("orders", "lineitem", "customer", "supplier"):
        df = load_table(spark, sf_dir, name)
        frames.append(df.agg(F.count(F.lit(1)).alias("n_rows")).select(F.lit(name).alias("table_name"), "n_rows"))
    out = frames[0]
    for f in frames[1:]:
        out = out.union(f)
    return out


_ORACLE_UNION_ALL_COUNTS = """
SELECT 'orders' AS table_name, COUNT(*) AS n_rows FROM orders
UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
UNION ALL SELECT 'customer', COUNT(*) FROM customer
UNION ALL SELECT 'supplier', COUNT(*) FROM supplier
"""


def q_distinct_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT option-list scan (U3/A11/O3, src/app.py:56,62)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select("o_orderpriority").distinct().orderBy("o_orderpriority")


_ORACLE_DISTINCT_VALUES = """
SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# A5/A6: global KPIs + guarded weighted average
# ---------------------------------------------------------------------------

def q_global_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global no-key sums + flight-weighted average with zero-denominator
    guard (A5/A6, src/app.py:94-97 — the KPI row)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    wsum = dsum(F.col("l_discount") * F.col("l_quantity"), scale=8)
    qsum = dsum("l_quantity")
    return lineitem.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_quantity").alias("total_qty"),
        dsum("l_extendedprice", scale=6).alias("total_price"),
        F.when(qsum > 0, wsum / qsum * F.lit(100.0)).otherwise(F.lit(0.0)).alias("weighted_disc_pct"),
    )


_ORACLE_GLOBAL_KPIS = f"""
SELECT COUNT(*) AS n_rows,
       {sql_dsum("l_quantity")} AS total_qty,
       {sql_dsum("l_extendedprice", scale=6)} AS total_price,
       CASE WHEN {sql_dsum("l_quantity")} > 0
            THEN {sql_dsum("l_discount * l_quantity", scale=8)} / {sql_dsum("l_quantity")} * 100.0
            ELSE 0.0 END AS weighted_disc_pct
FROM lineitem
"""


# ---------------------------------------------------------------------------
# A8: column-wise sums → unpivot
# ---------------------------------------------------------------------------

def q_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sums of N measure columns unpivoted to (measure, total) rows
    (A8, src/app.py:133-138 — the delay-cause attribution pie)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    totals = lineitem.agg(
        dsum("l_quantity").alias("quantity"),
        dsum("l_extendedprice", scale=6).alias("extendedprice"),
        dsum("l_discount", scale=8).alias("discount"),
        dsum("l_tax", scale=8).alias("tax"),
    )
    return totals.select(
        F.expr(
            "stack(4, 'quantity', quantity, 'extendedprice', extendedprice, "
            "'discount', discount, 'tax', tax) AS (measure, total)"
        )
    )


_ORACLE_UNPIVOT_MEASURES = f"""
SELECT 'quantity' AS measure, {sql_dsum("l_quantity")} AS total FROM lineitem
UNION ALL SELECT 'extendedprice', {sql_dsum("l_extendedprice", scale=6)} FROM lineitem
UNION ALL SELECT 'discount', {sql_dsum("l_discount", scale=8)} FROM lineitem
UNION ALL SELECT 'tax', {sql_dsum("l_tax", scale=8)} FROM lineitem
"""


# ---------------------------------------------------------------------------
# A10: additive-cache rollup (re-aggregation of a finer aggregate)
# ---------------------------------------------------------------------------

def q_rollup_reagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-tier additive aggregation (A10, src/app.py:161-164): aggregate at
    fine grain, then roll the cached aggregate up — the design that makes
    the reference's dashboard millisecond-interactive, and the invariant
    (additivity) our engine enforces by construction."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    fine = (
        lineitem.groupBy("l_returnflag", "l_linestatus", F.month("l_shipdate").alias("ship_month"))
        .agg(F.count(F.lit(1)).alias("n_rows"), dsum("l_extendedprice", scale=6).alias("revenue"))
    )
    return fine.groupBy("l_returnflag").agg(
        F.sum("n_rows").alias("total_rows"),
        dsum("revenue", scale=6).alias("total_revenue"),
    )


_ORACLE_ROLLUP_REAGG = f"""
SELECT l_returnflag,
       CAST(SUM(n_rows) AS BIGINT) AS total_rows,
       {sql_dsum("revenue", scale=6)} AS total_revenue
FROM (
  SELECT l_returnflag, l_linestatus, CAST(month(l_shipdate) AS INTEGER) AS ship_month,
         COUNT(*) AS n_rows,
         {sql_dsum("l_extendedprice", scale=6)} AS revenue
  FROM lineitem
  GROUP BY 1, 2, 3
)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# A7/O2 + window rank: ranking
# ---------------------------------------------------------------------------

def q_group_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-mean + deterministic rank (A7/O2, src/app.py:117-118 — airline
    ranking by mean delay), upgraded from sort-only to a window rank
    (SURVEY.md §7 idiomatic upgrade)."""
    orders = load_table(spark, sf_dir, "orders")
    means = orders.groupBy("o_orderpriority").agg(
        davg("o_totalprice", scale=6).alias("avg_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy(F.col("avg_price").asc(), F.col("o_orderpriority").asc())
    return means.select("o_orderpriority", "avg_price", "n_orders", F.row_number().over(w).alias("price_rank"))


_ORACLE_GROUP_RANK = f"""
SELECT o_orderpriority,
       avg_price,
       n_orders,
       CAST(ROW_NUMBER() OVER (ORDER BY avg_price ASC, o_orderpriority ASC) AS INTEGER) AS price_rank
FROM (
  SELECT o_orderpriority,
         {sql_davg("o_totalprice", scale=6)} AS avg_price,
         COUNT(*) AS n_orders
  FROM orders
  GROUP BY 1
)
"""


def q_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per market segment via partitioned window rank — the
    idiomatic generalization of the reference's sort-based ranking
    (SURVEY.md §2.7/§7). Deterministic tiebreak on key."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = orders.join(F.broadcast(customer.select("c_custkey", "c_mktsegment")), F.col("o_custkey") == F.col("c_custkey"))
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        joined.select("c_mktsegment", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )


_ORACLE_WINDOW_TOPK_PER_GROUP = """
SELECT c_mktsegment, o_orderkey, o_totalprice, rn
FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rn
  FROM orders JOIN customer ON o_custkey = c_custkey
)
WHERE rn <= 3
"""


# ---------------------------------------------------------------------------
# §7: ROLLUP grouping sets (generalization of A10)
# ---------------------------------------------------------------------------

def q_grouping_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP(region, nation) — the grouping-sets generalization of
    the reference's manual cache rollup (SURVEY.md §2.4 note / §7)."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = (
        customer.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.rollup(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        dsum("c_acctbal", scale=6).alias("total_acctbal"),
    )


_ORACLE_GROUPING_ROLLUP = f"""
SELECT r_name AS region_name,
       n_name AS nation_name,
       COUNT(*) AS n_customers,
       {sql_dsum("c_acctbal", scale=6)} AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP(1, 2)
"""


# ---------------------------------------------------------------------------
# O4: deterministic top-k LIMIT
# ---------------------------------------------------------------------------

def q_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY under a total order + LIMIT (O4, sql/wide_table.sql:42).
    Spark plans this as TakeOrderedAndProject — no full sort materialization."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .limit(10)
    )


_ORACLE_ORDER_LIMIT = """
SELECT o_orderkey, o_totalprice, o_orderpriority
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# A9/P11: monthly trend + value remap
# ---------------------------------------------------------------------------

def q_month_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-month unweighted mean + literal label remap (A9 src/app.py:149,
    P11 src/app.py:150 — dict remap as a map literal, not a UDF)."""
    events = load_table(spark, sf_dir, "events")
    month_label = F.create_map(
        *[x for m in range(1, 13) for x in (F.lit(m), F.lit(f"M{m:02d}"))]
    )
    return (
        events.groupBy(F.month("ts").alias("event_month"))
        .agg(F.count(F.lit(1)).alias("n_events"), davg("value", scale=8).alias("avg_value"))
        .select(
            "event_month",
            month_label[F.col("event_month")].alias("month_label"),
            "n_events",
            "avg_value",
        )
    )


_ORACLE_MONTH_TREND = f"""
SELECT CAST(month(ts) AS INTEGER) AS event_month,
       'M' || lpad(CAST(month(ts) AS VARCHAR), 2, '0') AS month_label,
       COUNT(*) AS n_events,
       {sql_davg("value", scale=8)} AS avg_value
FROM events
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# P10: ratio arithmetic with guards (the on_time_rate / delay_rate shapes)
# ---------------------------------------------------------------------------

def q_ratio_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate arithmetic with zero-denominator guard (P10,
    src/aggregate_flight_data.py:40; src/app.py:94-97,168): per returnflag,
    'delayed' analog = rows with discount ≥ 0.05."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    agg = lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.sum(F.when(F.col("l_discount") >= 0.05, 1).otherwise(0)).alias("flagged_rows"),
    )
    return agg.select(
        "l_returnflag",
        "total_rows",
        "flagged_rows",
        F.when(
            F.col("total_rows") > 0,
            (F.lit(1.0) - F.col("flagged_rows") / F.col("total_rows")),
        )
        .otherwise(F.lit(0.0))
        .alias("ok_rate"),
        (F.col("flagged_rows") / F.col("total_rows") * F.lit(100.0)).alias("flagged_pct"),
    )


_ORACLE_RATIO_METRICS = """
SELECT l_returnflag,
       total_rows,
       flagged_rows,
       CASE WHEN total_rows > 0 THEN 1.0 - CAST(flagged_rows AS DOUBLE) / total_rows ELSE 0.0 END AS ok_rate,
       CAST(flagged_rows AS DOUBLE) / total_rows * 100.0 AS flagged_pct
FROM (
  SELECT l_returnflag,
         COUNT(*) AS total_rows,
         CAST(SUM(CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS flagged_rows
  FROM lineitem
  GROUP BY 1
)
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

def q_correlated_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery surface: orders priced above their own
    customer's average order value (SQL: a correlated scalar subquery per
    row). Rendered as the decorrelated form every engine actually
    executes — one keyed window computing the per-customer mean, then a
    narrow filter — so there is exactly one shuffle on the correlation
    key instead of a per-row subquery. The mean is the exact
    decimal-sum/count construction (bit-stable across engines); the
    oracle states the same window form in SQL."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    cust_avg = (
        F.sum(F.col("o_totalprice").cast("decimal(28,4)")).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return (
        orders.select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            cust_avg.alias("cust_avg_price"),
        )
        .filter(F.col("o_totalprice") > F.col("cust_avg_price"))
    )


_ORACLE_CORRELATED_ABOVE_AVG = """
SELECT o_orderkey, o_custkey, o_totalprice, cust_avg_price
FROM (
  SELECT o_orderkey, o_custkey, o_totalprice,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) OVER (PARTITION BY o_custkey) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY o_custkey) AS cust_avg_price
  FROM orders
)
WHERE o_totalprice > cust_avg_price
"""


# ---------------------------------------------------------------------------
# Classic multi-join aggregates (TPC-H Q3 / Q5 shapes)
# ---------------------------------------------------------------------------

Q3_SEGMENT = "BUILDING"
Q3_DATE = "1998-03-15"
Q3_TOP = 10


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: unshipped-order revenue by order — customer ⋈
    orders ⋈ lineitem with opposing date predicates, grouped on the JOIN
    KEY (o_orderkey), top {Q3_TOP} by revenue.

    The scale-relevant parts: the high-cardinality group-by on orderkey
    reuses the lineitem⋈orders shuffle partitioning (join and agg share
    the key, so Catalyst plans ONE exchange for both); the segment filter
    reduces customers ~5× BEFORE their join; both date filters push to
    the parquet scans (PushedFilters). Revenue is the exact decimal sum.
    The final top-K is a TakeOrdered (per-partition heap + driver merge
    of K·partitions rows), never a global sort of all groups.
    """
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == Q3_SEGMENT
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(Q3_DATE).cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(Q3_DATE).cast("timestamp")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=4).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("o_orderkey"))
        .limit(Q3_TOP)
    )


_ORACLE_SHIPPING_PRIORITY = f"""
SELECT o_orderkey, o_orderdate, o_orderpriority,
       {sql_dsum("l_extendedprice * (1 - l_discount)", scale=4)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = '{Q3_SEGMENT}'
  AND o_orderdate < TIMESTAMP '{Q3_DATE} 00:00:00'
  AND l_shipdate > TIMESTAMP '{Q3_DATE} 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate ASC, o_orderkey ASC
LIMIT {Q3_TOP}
"""


Q5_DATE_LO = "1997-01-01"
Q5_DATE_HI = "1998-01-01"


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by supplier nation for orders where the
    customer and supplier share a nation — the six-table join
    (region ⋈ nation ⋈ supplier ⋈ lineitem ⋈ orders ⋈ customer) with the
    extra equi-constraint c_nationkey = s_nationkey.

    Join strategy by size class: region/nation broadcast (constant-sized);
    supplier broadcasts at test SF but is hinted only via its nation
    filter — the big three (lineitem ⋈ orders on orderkey, then ⋈ customer
    on custkey) are shuffle joins on their natural keys, which is the
    correct 100 TB plan. The customer–supplier nation match is applied as
    a post-join filter (it correlates two dimensions, so it cannot push
    below either big join). One year of orders prunes at the scan.
    """
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    supplier = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(Q5_DATE_LO).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(Q5_DATE_HI).cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    sn = supplier.join(
        F.broadcast(nation.join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])),
        supplier["s_nationkey"] == F.col("n_nationkey"),
    ).select("s_suppkey", "s_nationkey", "n_name", "r_name")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(sn), li["l_suppkey"] == sn["s_suppkey"])
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy("r_name", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=4).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy(F.asc("r_name"), F.desc("revenue"), F.asc("n_name"))
    )


_ORACLE_REGION_REVENUE = f"""
SELECT r_name, n_name,
       {sql_dsum("l_extendedprice * (1 - l_discount)", scale=4)} AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '{Q5_DATE_LO} 00:00:00'
  AND o_orderdate < TIMESTAMP '{Q5_DATE_HI} 00:00:00'
  AND c_nationkey = s_nationkey
GROUP BY r_name, n_name
ORDER BY r_name ASC, revenue DESC, n_name ASC
"""


Q10_DATE_LO = "1997-01-01"
Q10_DATE_HI = "1997-04-01"
Q10_TOP = 20


def q_returned_item_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: customers ranked by revenue lost to returned items
    in one quarter — lineitem(R-flagged) ⋈ orders(quarter) ⋈ customer ⋈
    nation, top {Q10_TOP} by lost revenue.

    Scale shape: both selective filters (return flag, order quarter) push
    to their scans before the orderkey shuffle join; nation broadcasts;
    the customer join shuffles on custkey, and the group-by on custkey
    REUSES that exchange (join key = agg key). Top-K is TakeOrdered.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(Q10_DATE_LO).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(Q10_DATE_HI).cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=4).alias(
                "lost_revenue"
            ),
            F.count(F.lit(1)).alias("n_returned_items"),
        )
        .orderBy(F.desc("lost_revenue"), F.asc("c_custkey"))
        .limit(Q10_TOP)
    )


_ORACLE_RETURNED_ITEM_RANKING = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       {sql_dsum("l_extendedprice * (1 - l_discount)", scale=4)} AS lost_revenue,
       COUNT(*) AS n_returned_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '{Q10_DATE_LO} 00:00:00'
  AND o_orderdate < TIMESTAMP '{Q10_DATE_HI} 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY lost_revenue DESC, c_custkey ASC
LIMIT {Q10_TOP}
"""


Q7_NATION_A = "NATION_1"
Q7_NATION_B = "NATION_2"


def q_nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by ship
    year — supplier nation and customer nation must be the ({Q7_NATION_A},
    {Q7_NATION_B}) pair in EITHER direction (the disjunctive pair
    predicate that defeats naive single-sided pushdown).

    Scale shape: each side's nation lookup broadcasts and ITS half of the
    disjunction (nation ∈ {{A, B}}) prunes suppliers/customers before the
    big joins — only the cross-pair exclusion (supp_nation ≠ cust_nation)
    must wait until both sides are bound. The big joins shuffle on
    orderkey then custkey; year extraction is a narrow expression.
    """
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(Q7_NATION_A, Q7_NATION_B)
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == nation["n_nationkey"])
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == nation["n_nationkey"])
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=4).alias(
                "volume"
            ),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


_ORACLE_NATION_VOLUME_SHIPPING = f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS ship_year,
       {sql_dsum("l_extendedprice * (1 - l_discount)", scale=4)} AS volume,
       COUNT(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE sn.n_name IN ('{Q7_NATION_A}', '{Q7_NATION_B}')
  AND cn.n_name IN ('{Q7_NATION_A}', '{Q7_NATION_B}')
  AND sn.n_name <> cn.n_name
GROUP BY sn.n_name, cn.n_name, year(l_shipdate)
ORDER BY supp_nation, cust_nation, ship_year
"""


# ---------------------------------------------------------------------------
# SQL-text interface (S5 as a first-class path: parser → analyzer → catalog)
# ---------------------------------------------------------------------------

# Executed as LITERAL SQL text via spark.sql over the registered views —
# the reference's users write SQL (sql/data_modeling.sql, wide_table.sql),
# so the SQL front door is part of the query surface, not just the
# DataFrame API. CTE + join + window in one statement exercises the
# parser/analyzer path end-to-end; every other matrix entry goes through
# the DataFrame DSL.
SQL_TEXT_QUERY = """
WITH revenue AS (
  SELECT o_custkey, o_orderkey, month(o_orderdate) AS order_month, o_totalprice
  FROM orders
), ranked AS (
  SELECT c.c_mktsegment, r.order_month, r.o_orderkey, r.o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment, r.order_month
                            ORDER BY r.o_totalprice DESC, r.o_orderkey ASC) AS rk
  FROM revenue r JOIN customer c ON r.o_custkey = c.c_custkey
)
SELECT c_mktsegment, order_month, o_orderkey AS top_orderkey,
       o_totalprice AS top_totalprice
FROM ranked WHERE rk = 1
"""


def q_sql_text_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top order by value per (market segment, month), phrased as literal
    ANSI SQL text against the registered catalog views (see
    SQL_TEXT_QUERY). Same Catalyst plan as the DSL would produce —
    broadcast the customer dim, one window over the join — proving the
    two front doors converge; the double price column passes through
    untouched (comparisons only), so the hash gate stays exact."""
    from us_flight_bigdata_dashboard_spark.sources.catalog import register_all

    register_all(spark, sf_dir)
    return spark.sql(SQL_TEXT_QUERY)


_ORACLE_SQL_TEXT_INTERFACE = """
WITH revenue AS (
  SELECT o_custkey, o_orderkey, CAST(month(o_orderdate) AS INTEGER) AS order_month,
         o_totalprice
  FROM orders
), ranked AS (
  SELECT c.c_mktsegment, r.order_month, r.o_orderkey, r.o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment, r.order_month
                            ORDER BY r.o_totalprice DESC, r.o_orderkey ASC) AS rk
  FROM revenue r JOIN customer c ON r.o_custkey = c.c_custkey
)
SELECT c_mktsegment, order_month, o_orderkey AS top_orderkey,
       o_totalprice AS top_totalprice
FROM ranked WHERE rk = 1
"""



# ---------------------------------------------------------------------------
# VARIANT semi-structured shredding (round 8)
# ---------------------------------------------------------------------------


def q_variant_json_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics through Spark 4's VARIANT type: the
    events ``props`` JSON column is parsed ONCE into the binary VARIANT
    encoding (``parse_json``) and fields are extracted with typed path
    access (``try_variant_get``) — the open-format answer (Parquet
    VARIANT shredding / Iceberg v3) to "JSON columns are strings".
    Aggregates the extracted ``k`` property per event type: count,
    non-null count, exact integer sum, min/max — proving the typed
    extraction path end-to-end, not just parse.

    Scale shape: parse + extract fuse into the scan projection (narrow,
    no shuffle); one map-side-combinable agg. At 100 TB the win is
    storage-side: VARIANT shredding pushes path projection into the
    reader, so ``$.k`` decodes without materializing the JSON text —
    the DataFrame shape here is exactly what that reader serves. The
    oracle extracts the same path with DuckDB's native JSON accessor —
    two independent JSON implementations must agree on typing."""
    events = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "long")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k").alias("n_with_k"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
        )
        .orderBy("event_type")
    )


_ORACLE_VARIANT_SHRED = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(CAST(props ->> '$.k' AS BIGINT)) AS n_with_k,
       CAST(SUM(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MIN(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS min_k,
       CAST(MAX(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS max_k
FROM events
GROUP BY 1
ORDER BY event_type
"""




# ---------------------------------------------------------------------------
# Recursive CTE (round 10 wave 4): iterative computation in PURE SQL —
# the Spark 4 engine surface (SPARK-24497) matched by DuckDB WITH RECURSIVE
# ---------------------------------------------------------------------------

DRAIN_MIN_PAY_CENTS = 10**9  # minimum monthly clearing capacity ($10M)
DRAIN_MAX_MONTHS = 24  # recursion depth cap (bounds the plan statically)

_SPARK_RECURSIVE_DRAIN = f"""
WITH RECURSIVE drain(region_name, month_n, balance_cents) AS (
  SELECT r_name,
         0,
         CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE o_orderstatus = 'O'
  GROUP BY r_name
  UNION ALL
  SELECT region_name,
         month_n + 1,
         GREATEST(balance_cents
                  - GREATEST(balance_cents DIV 4, {DRAIN_MIN_PAY_CENTS}),
                  CAST(0 AS BIGINT))
  FROM drain
  WHERE month_n < {DRAIN_MAX_MONTHS} AND balance_cents > 0
)
SELECT region_name, month_n, balance_cents
FROM drain
ORDER BY region_name, month_n
"""


def q_recursive_cte_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog drain schedule per region via a RECURSIVE CTE —
    the sequential month-over-month simulation (each balance depends on
    the previous one: pay max(25% of balance, the minimum monthly
    capacity) until clear or {m} months) that plain window functions
    cannot express, run entirely INSIDE the SQL engine on both sides:
    Spark 4's `WITH RECURSIVE` (SPARK-24497, new engine surface in 4.x)
    against DuckDB's. The anchor term is the only data-sized stage (the
    canonical star join + hash agg to 5 region rows); every recursive
    step is arithmetic on ≤5 rows, depth-capped at {m} — a bounded,
    driver-free iterative plan (contrast ``graph_pagerank``'s Python-
    driven loop: here the ENGINE owns the iteration).

    Exactness: integer cents end-to-end — GREATEST / integer division
    only, no floats anywhere. Scale shape at 100 TB: the recursion
    touches 5 rows regardless of data size; only the anchor scales
    (and it is one map-side-combinable agg over the fact join).

    Reference analog: none (engine addition, SURVEY.md §2.7)."""
    from us_flight_bigdata_dashboard_spark.sources.catalog import register_all

    register_all(spark, sf_dir)
    return spark.sql(_SPARK_RECURSIVE_DRAIN)
q_recursive_cte_drain.__doc__ = q_recursive_cte_drain.__doc__ and q_recursive_cte_drain.__doc__.format(
        m=DRAIN_MAX_MONTHS
    )


_ORACLE_RECURSIVE_DRAIN = f"""
WITH RECURSIVE drain(region_name, month_n, balance_cents) AS (
  SELECT r_name,
         0,
         CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE o_orderstatus = 'O'
  GROUP BY r_name
  UNION ALL
  SELECT region_name,
         month_n + 1,
         GREATEST(balance_cents
                  - GREATEST(balance_cents // 4, {DRAIN_MIN_PAY_CENTS}),
                  CAST(0 AS BIGINT))
  FROM drain
  WHERE month_n < {DRAIN_MAX_MONTHS} AND balance_cents > 0
)
SELECT region_name, CAST(month_n AS INT) AS month_n, balance_cents
FROM drain
ORDER BY region_name, month_n
"""


# ---------------------------------------------------------------------------
# LATERAL correlated subquery (round 10 wave 4): per-row top-k via the
# SQL-standard LATERAL join — Spark 4 decorrelates it to a window plan
# ---------------------------------------------------------------------------

LATERAL_TOPK = 2

_SPARK_LATERAL_TOPK = f"""
WITH per_cust AS (
  SELECT c_custkey, c_nationkey,
         CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev_cents
  FROM customer JOIN orders ON o_custkey = c_custkey
  GROUP BY c_custkey, c_nationkey
)
SELECT n.n_name AS nation_name, l.c_custkey, l.rev_cents
FROM nation n,
LATERAL (SELECT c_custkey, rev_cents FROM per_cust p
         WHERE p.c_nationkey = n.n_nationkey
         ORDER BY rev_cents DESC, c_custkey ASC LIMIT {LATERAL_TOPK}) l
ORDER BY nation_name, l.rev_cents DESC, l.c_custkey
"""


def q_lateral_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} customers by revenue per nation phrased as a LATERAL
    correlated subquery with ORDER BY + LIMIT — the SQL-standard
    per-row-subquery surface (new in Spark 4's decorrelation framework)
    run as literal SQL text on both engines. Semantically identical to
    ``window_topk_per_group``'s row_number() formulation; this entry
    pins the OTHER front door: Catalyst must decorrelate the lateral
    into a partitioned window/limit plan rather than re-executing the
    inner query per outer row (the plan has no loop — verified in the
    plan audit). Revenue is exact integer cents; ties broken by
    custkey, so the LIMIT cut is deterministic on both engines.

    Scale shape: the CTE is one map-side-combinable hash agg; the
    lateral decorrelates to a per-nation top-k — no per-row re-scan.

    Reference analog: none (engine addition, SURVEY.md §2.7)."""
    from us_flight_bigdata_dashboard_spark.sources.catalog import register_all

    register_all(spark, sf_dir)
    return spark.sql(_SPARK_LATERAL_TOPK)
q_lateral_join_topk.__doc__ = q_lateral_join_topk.__doc__ and q_lateral_join_topk.__doc__.format(
        k=LATERAL_TOPK
    )


_ORACLE_LATERAL_TOPK = _SPARK_LATERAL_TOPK


# ---------------------------------------------------------------------------
# SQL PIVOT / UNPIVOT clause surfaces (round 10 wave 12)
# ---------------------------------------------------------------------------

_SPARK_SQL_PIVOT = """
SELECT * FROM (
  SELECT n_name,
         quarter(o_orderdate) AS q,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE year(o_orderdate) = 1997
)
PIVOT (
  CAST(SUM(cents) AS BIGINT) FOR q IN (1 AS q1, 2 AS q2, 3 AS q3, 4 AS q4)
)
ORDER BY n_name
"""


def q_sql_pivot_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation × quarter revenue through the SQL-standard PIVOT clause —
    the declarative wide-table surface, run as literal SQL text (the
    engine front door ``pivot_status`` exercises through the DataFrame
    ``groupBy().pivot()`` API instead; a user porting warehouse SQL
    needs THIS door to exist and agree). Catalyst compiles the clause
    to the same single hash-aggregate-with-conditional-sums plan the
    DSL produces. Cents are exact integers; absent (nation, quarter)
    cells are NULL by PIVOT semantics on both engines.

    Oracle note: DuckDB's PIVOT dialect names columns differently, so
    the oracle states the semantics as conditional aggregation — the
    entry pins Spark's CLAUSE, not DuckDB's.

    Reference analog: none (engine addition, SURVEY.md §2.7)."""
    from us_flight_bigdata_dashboard_spark.sources.catalog import register_all

    register_all(spark, sf_dir)
    return spark.sql(_SPARK_SQL_PIVOT)


_ORACLE_SQL_PIVOT = """
SELECT n_name,
       CAST(SUM(CASE WHEN q = 1 THEN cents END) AS BIGINT) AS q1,
       CAST(SUM(CASE WHEN q = 2 THEN cents END) AS BIGINT) AS q2,
       CAST(SUM(CASE WHEN q = 3 THEN cents END) AS BIGINT) AS q3,
       CAST(SUM(CASE WHEN q = 4 THEN cents END) AS BIGINT) AS q4
FROM (
  SELECT n_name,
         quarter(o_orderdate) AS q,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE year(o_orderdate) = 1997
)
GROUP BY n_name
ORDER BY n_name
"""


_SPARK_SQL_UNPIVOT = """
SELECT n_name, measure, CAST(val AS BIGINT) AS val
FROM (
  SELECT n_name,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS revenue_cents,
         CAST(MAX(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS max_order_cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
)
UNPIVOT (
  val FOR measure IN (n_orders, revenue_cents, max_order_cents)
)
ORDER BY n_name, measure
"""


def q_sql_unpivot_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation measures through the SQL-standard UNPIVOT clause (new
    in Spark 3.4+'s SQL surface) — the long-form door that
    ``unpivot_measures`` exercises via the ``stack()`` expression
    instead; warehouse SQL ports expect the clause itself. Compiles to
    the same Expand node. All measures are exact integers; the oracle
    states the semantics as a 3-way UNION (DuckDB's UNPIVOT dialect
    differs — the entry pins Spark's CLAUSE).

    Reference analog: none (engine addition, SURVEY.md §2.7)."""
    from us_flight_bigdata_dashboard_spark.sources.catalog import register_all

    register_all(spark, sf_dir)
    return spark.sql(_SPARK_SQL_UNPIVOT)


_ORACLE_SQL_UNPIVOT = """
WITH base AS (
  SELECT n_name,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS revenue_cents,
         CAST(MAX(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS max_order_cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
)
SELECT n_name, 'n_orders' AS measure, n_orders AS val FROM base
UNION ALL
SELECT n_name, 'revenue_cents', revenue_cents FROM base
UNION ALL
SELECT n_name, 'max_order_cents', max_order_cents FROM base
ORDER BY n_name, measure
"""


# ---------------------------------------------------------------------------
# RANGE BETWEEN INTERVAL window frame — round 11 wave
# ---------------------------------------------------------------------------


def q_rolling_interval_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day per-customer order intensity through the
    TIME-BASED window frame — ``RANGE BETWEEN INTERVAL '7' DAY
    PRECEDING AND CURRENT ROW`` ordered by a DATE column — the engine
    surface every sessionized-metrics SQL port leans on and the one
    frame kind no other entry pins (ROWS frames: many;
    GROUPS-equivalent cumulative: the ECDF family; time-RANGE: only
    here). A ROWS frame counts rows; the RANGE INTERVAL frame counts
    TIME, so order-date ties are peer rows (all included —
    deterministic by construction, no tiebreak needed) and gaps in
    the calendar shrink the window's row content.

    The entry aggregates the per-order trailing counts into their
    distribution (how many orders sat in a week that already held k
    orders from the same customer — a burstiness fingerprint), so the
    gate hashes every row's frame result while the output stays
    domain-sized. Cents sums are exact integers end-to-end.

    Scale shape: one partitioned time-ordered window over the fact
    table (state bounded by the 7-day horizon per customer), one small
    hash agg. Reference analog: none (engine addition, SURVEY.md
    §2.7)."""
    from us_flight_bigdata_dashboard_spark.sources.catalog import register_all

    register_all(spark, sf_dir)
    return spark.sql(_SPARK_SQL_ROLLING)


_SPARK_SQL_ROLLING = """
WITH rolled AS (
  SELECT CAST(COUNT(*) OVER w AS BIGINT) AS trailing_n,
         CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) OVER w AS BIGINT)
           AS trailing_cents
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL '7' DAY PRECEDING AND CURRENT ROW)
)
SELECT trailing_n,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(trailing_cents) AS BIGINT) AS sum_trailing_cents
FROM rolled
GROUP BY trailing_n
ORDER BY trailing_n
"""


_ORACLE_ROLLING = """
WITH rolled AS (
  SELECT CAST(COUNT(*) OVER w AS BIGINT) AS trailing_n,
         CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) OVER w AS BIGINT)
           AS trailing_cents
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
)
SELECT trailing_n,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(trailing_cents) AS BIGINT) AS sum_trailing_cents
FROM rolled
GROUP BY trailing_n
ORDER BY trailing_n
"""



QUERIES = {
    "rolling_interval_window": q_rolling_interval_window,
    "recursive_cte_drain": q_recursive_cte_drain,
    "sql_pivot_interface": q_sql_pivot_interface,
    "sql_unpivot_interface": q_sql_unpivot_interface,
    "lateral_join_topk": q_lateral_join_topk,
    "variant_json_shred": q_variant_json_shred,
    "star_join_agg": q_star_join_agg,
    "correlated_above_avg": q_correlated_above_avg,
    "pricing_summary": q_pricing_summary,
    "shipping_priority": q_shipping_priority,
    "region_revenue": q_region_revenue,
    "returned_item_ranking": q_returned_item_ranking,
    "nation_volume_shipping": q_nation_volume_shipping,
    "scan_project_cast": q_scan_project_cast,
    "scan_orc_roundtrip": q_scan_orc_roundtrip,
    "scan_xml_roundtrip": q_scan_xml_roundtrip,
    "scan_parquet_zstd_roundtrip": q_scan_parquet_zstd_roundtrip,
    "scan_csv_quoted_roundtrip": q_scan_csv_quoted_roundtrip,
    "scan_jsonl_roundtrip": q_scan_jsonl_roundtrip,
    "scan_jsonl_gzip_roundtrip": q_scan_jsonl_gzip_roundtrip,
    "scan_csv_roundtrip": q_scan_csv_roundtrip,
    "scan_fixedwidth_roundtrip": q_scan_fixedwidth_roundtrip,
    "filter_in_conj": q_filter_in_conj,
    "null_impute_indicator": q_null_impute_indicator,
    "time_normalization": q_time_normalization,
    "derived_weekend": q_derived_weekend,
    "string_funcs": q_string_funcs,
    "wide_view": q_wide_view,
    "self_alias_join": q_self_alias_join,
    "union_distinct": q_union_distinct,
    "union_all_counts": q_union_all_counts,
    "distinct_values": q_distinct_values,
    "global_kpis": q_global_kpis,
    "unpivot_measures": q_unpivot_measures,
    "rollup_reagg": q_rollup_reagg,
    "group_rank": q_group_rank,
    "window_topk_per_group": q_window_topk_per_group,
    "grouping_rollup": q_grouping_rollup,
    "order_limit": q_order_limit,
    "month_trend": q_month_trend,
    "ratio_metrics": q_ratio_metrics,
    "sql_text_interface": q_sql_text_interface,
}

ORACLE = {
    "rolling_interval_window": _ORACLE_ROLLING,
    "recursive_cte_drain": _ORACLE_RECURSIVE_DRAIN,
    "sql_pivot_interface": _ORACLE_SQL_PIVOT,
    "sql_unpivot_interface": _ORACLE_SQL_UNPIVOT,
    "lateral_join_topk": _ORACLE_LATERAL_TOPK,
    "variant_json_shred": _ORACLE_VARIANT_SHRED,
    "star_join_agg": _ORACLE_STAR_JOIN_AGG,
    "correlated_above_avg": _ORACLE_CORRELATED_ABOVE_AVG,
    "pricing_summary": _ORACLE_PRICING_SUMMARY,
    "shipping_priority": _ORACLE_SHIPPING_PRIORITY,
    "region_revenue": _ORACLE_REGION_REVENUE,
    "returned_item_ranking": _ORACLE_RETURNED_ITEM_RANKING,
    "nation_volume_shipping": _ORACLE_NATION_VOLUME_SHIPPING,
    "scan_project_cast": _ORACLE_SCAN_PROJECT_CAST,
    "scan_orc_roundtrip": _ORACLE_SCAN_ORC_ROUNDTRIP,
    "scan_xml_roundtrip": _ORACLE_SCAN_XML_ROUNDTRIP,
    "scan_parquet_zstd_roundtrip": _ORACLE_SCAN_PARQUET_ZSTD_ROUNDTRIP,
    "scan_csv_quoted_roundtrip": _ORACLE_SCAN_CSV_QUOTED_ROUNDTRIP,
    "scan_jsonl_roundtrip": _ORACLE_SCAN_JSONL_ROUNDTRIP,
    "scan_jsonl_gzip_roundtrip": _ORACLE_SCAN_JSONL_GZIP_ROUNDTRIP,
    "scan_csv_roundtrip": _ORACLE_SCAN_CSV_ROUNDTRIP,
    "scan_fixedwidth_roundtrip": _ORACLE_SCAN_FIXEDWIDTH,
    "filter_in_conj": _ORACLE_FILTER_IN_CONJ,
    "null_impute_indicator": _ORACLE_NULL_IMPUTE_INDICATOR,
    "time_normalization": _ORACLE_TIME_NORMALIZATION,
    "derived_weekend": _ORACLE_DERIVED_WEEKEND,
    "string_funcs": _ORACLE_STRING_FUNCS,
    "wide_view": _ORACLE_WIDE_VIEW,
    "self_alias_join": _ORACLE_SELF_ALIAS_JOIN,
    "union_distinct": _ORACLE_UNION_DISTINCT,
    "union_all_counts": _ORACLE_UNION_ALL_COUNTS,
    "distinct_values": _ORACLE_DISTINCT_VALUES,
    "global_kpis": _ORACLE_GLOBAL_KPIS,
    "unpivot_measures": _ORACLE_UNPIVOT_MEASURES,
    "rollup_reagg": _ORACLE_ROLLUP_REAGG,
    "group_rank": _ORACLE_GROUP_RANK,
    "window_topk_per_group": _ORACLE_WINDOW_TOPK_PER_GROUP,
    "grouping_rollup": _ORACLE_GROUPING_ROLLUP,
    "order_limit": _ORACLE_ORDER_LIMIT,
    "month_trend": _ORACLE_MONTH_TREND,
    "ratio_metrics": _ORACLE_RATIO_METRICS,
    "sql_text_interface": _ORACLE_SQL_TEXT_INTERFACE,
}
