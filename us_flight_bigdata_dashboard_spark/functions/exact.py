"""Order-independent exact aggregation expressions.

Why: a distributed double-precision SUM depends on partition merge order, so
two engines (or two runs) can disagree in the last ulps. The driver's
correctness gate hash-compares Spark vs DuckDB values exactly, and at 100 TB
(~10^12 rows) naive double sums drift by far more than test noise.

Technique: cast each addend to a fixed-scale DECIMAL before summing. Decimal
sums are integer arithmetic — exact, associative, commutative — so the result
is identical regardless of partitioning, AQE coalescing, or thread count, on
any engine. The final cast back to DOUBLE is a single correctly-rounded
conversion (exact as long as |sum|·10^scale < 2^53).

This replaces the reference's hand-rolled chunked partial/final aggregation
(src/aggregate_flight_data.py:25-37) whose mean-merge is broken (SURVEY.md
quirk Q1) — Spark's partial/final HashAggregate plus decimal addends is both
correct and deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dsum(c: Column | str, scale: int = 4, precision: int = 28) -> Column:
    """Deterministic sum of a double column: decimal-quantized, exact merge.

    Returns DOUBLE. ``scale`` decimal places of each addend are kept; pick a
    scale fine enough that quantization is below the semantic tolerance of
    the metric (4 is plenty for money/minutes metrics).

    Overflow bound (know it at 100 TB): the defaults give |addend| <
    10^24 and an exact final-double conversion while |sum|·10^scale < 2^53
    (|sum| ≲ 9·10^11 at scale 4). An addend whose magnitude exceeds
    10^(precision-scale) fails its decimal cast: with ANSI mode on, Spark
    4's default, which ``session.get_spark`` leaves, the query raises; with
    ANSI off the cast gives NULL and the addend is silently dropped from
    the sum. For magnitudes anywhere near these, raise ``precision`` or
    lower ``scale``.
    """
    col = F.col(c) if isinstance(c, str) else c
    return F.sum(col.cast(f"decimal({precision},{scale})")).cast("double")


def davg(c: Column | str, scale: int = 4, precision: int = 28) -> Column:
    """Deterministic mean: exact decimal sum divided by count (IEEE division
    of two deterministic values — bit-stable across engines)."""
    col = F.col(c) if isinstance(c, str) else c
    return dsum(col, scale, precision) / F.count(col)


def sql_dsum(expr: str, scale: int = 4, precision: int = 28) -> str:
    """ANSI-SQL rendering of ``dsum`` for the DuckDB oracle."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL({precision},{scale}))) AS DOUBLE)"


def sql_davg(expr: str, scale: int = 4, precision: int = 28) -> str:
    """ANSI-SQL rendering of ``davg`` for the DuckDB oracle."""
    return f"({sql_dsum(expr, scale, precision)} / COUNT({expr}))"


def fsum(c: Column | str, scale: int = 12) -> Column:
    """FLOOR-quantized deterministic sum — the rounding-mode-insensitive
    variant of ``dsum``. ``dsum`` quantizes addends with a double→DECIMAL
    cast, which Spark rounds HALF_UP and DuckDB half-even: an addend
    landing exactly on a .5·10^-scale boundary diverges by one quantum
    (found in the wild at round 8: embedding_pca_power at sf0.1 — the
    gate showed a 1e-12-relative drift). ``floor`` has no mode: identical
    doubles floor identically everywhere.

    Bounds: |addend|·10^scale must stay < 2^63 (Spark's floor(double)
    returns LONG) and |sum|·10^scale < ~2^53 (DuckDB's wide-DECIMAL →
    double conversion is not correctly rounded past the exact window —
    the round-8 ANOVA lesson). Pick the scale from the addend magnitude
    AND the row count."""
    col = F.col(c) if isinstance(c, str) else c
    q = float(10**scale)
    return (
        F.sum(F.floor(col * F.lit(q)).cast("decimal(38,0)")).cast("double")
        / F.lit(q)
    )


def sql_fsum(expr: str, scale: int = 12) -> str:
    """ANSI-SQL rendering of ``fsum`` for the DuckDB oracle."""
    return (
        f"(CAST(SUM(CAST(FLOOR(({expr}) * 1e{scale}) AS DECIMAL(38,0))) AS DOUBLE)"
        f" / 1e{scale})"
    )


# ---------------------------------------------------------------------------
# Engine-portable wide-decimal -> double conversion (round 12)
# ---------------------------------------------------------------------------
#
# A bare CAST(DECIMAL(38,0) AS DOUBLE) is only trustworthy below 2^64:
# DuckDB converts its int128 payload as double(upper)*2^64 + double(lower)
# — TWO roundings — and the result measured 1 ulp off correct rounding in
# the wild (round 12, Conover's ΣcA² = 2.49e19; the round-8 ANOVA hit the
# same class, noted in ``fsum``'s bounds). The JVM's BigDecimal path
# rounds once, so the engines split and the hash gate reddens wherever a
# large exact moment feeds a cancellation-amplified statistic.
#
# Escape: rebuild the double from four 32-bit limb DIFFERENCES. Each
# piece (a − a%2^96, a%2^96 − a%2^64, a%2^64 − a%2^32, a%2^32) is a
# multiple of its limb base with a 32-bit multiplier, so each is EXACTLY
# representable in double — any conforming conversion returns the exact
# value, whatever its algorithm. The fixed left-to-right composition
# then performs the SAME three IEEE additions on both engines:
# bit-identical BY SPEC (≤3 roundings ⇒ relative error ≤ ~3·2^-53 —
# deterministic, and negligible for any statistic). Covers the full
# DECIMAL(38,0) range (10^38 < 2^127); both engines' % keeps the
# dividend's sign, so negatives compose exactly the same way.

_DEC_LIMB1 = 4294967296  # 2^32
_DEC_LIMB2 = 18446744073709551616  # 2^64
_DEC_LIMB3 = 79228162514264337593543950336  # 2^96


def dec_to_double(col: Column) -> Column:
    """Portable DECIMAL(38,0) -> DOUBLE for magnitudes that may exceed
    2^64 (where bare casts stop being engine-identical). Mirror of
    ``sql_dec_to_double``."""

    def d(n: int) -> Column:
        return F.expr(f"CAST('{n}' AS DECIMAL(38,0))")

    m1 = col % d(_DEC_LIMB1)
    m2 = col % d(_DEC_LIMB2)
    m3 = col % d(_DEC_LIMB3)
    p3 = (col - m3).cast("double")
    p2 = (m3 - m2).cast("double")
    p1 = (m2 - m1).cast("double")
    p0 = m1.cast("double")
    return ((p3 + p2) + p1) + p0


def sql_dec_to_double(x: str) -> str:
    """ANSI-SQL rendering of ``dec_to_double`` for the DuckDB oracle.
    ``x`` must be a DECIMAL(38,0)-typed expression."""
    p3 = f"CAST(({x}) - (({x}) % {_DEC_LIMB3}) AS DOUBLE)"
    p2 = f"CAST((({x}) % {_DEC_LIMB3}) - (({x}) % {_DEC_LIMB2}) AS DOUBLE)"
    p1 = f"CAST((({x}) % {_DEC_LIMB2}) - (({x}) % {_DEC_LIMB1}) AS DOUBLE)"
    p0 = f"CAST(({x}) % {_DEC_LIMB1} AS DOUBLE)"
    return f"((({p3} + {p2}) + {p1}) + {p0})"


# ---------------------------------------------------------------------------
# Exact binary logarithm (round 11)
# ---------------------------------------------------------------------------
#
# The repo bans engine-side transcendentals (tests/test_numeric_portability
# .py): ln/exp/pow carry a 1-ulp library license and DID diverge live
# between the JVM and libm (r11, the Hurst OLS at sf0.1). log2, however,
# is computable from ONLY IEEE-correctly-rounded operations — ×, ÷ by a
# power of two (exact), and comparisons — by square-and-compare: normalize
# x = m·2^e with m ∈ [1,2) (e from literal-threshold CASEs, m = x·2^-e an
# exact scaling), then per fraction bit square m and halve when it crosses
# 2. Every step is bit-identical on any conforming platform BY SPEC, so
# the result hashes identically across engines — and any log the caller
# needs is log2 up to a Python-literal factor (ln x = log2(x)·ln 2).
#
# The recursion doubles the expression if written as one tree, so the
# helpers CHAIN projections (one narrow select per bit) instead; both the
# Spark and the SQL sides mirror the same chain.

LOG2_BITS = 24  # fraction bits: ~6e-8 relative — plenty for any statistic
LOG2_E_LO, LOG2_E_HI = -40, 40  # supported binary-exponent range


def with_exact_log2(df, src: str, out: str, carry: list[str]):
    """Append column ``out`` = log2(``src``) to ``df`` via chained
    projections. ``carry`` lists the other columns to keep. NULL when
    ``src`` is NULL/non-positive or outside 2^[LOG2_E_LO, LOG2_E_HI+1)."""
    lo = float(2.0**LOG2_E_LO)
    hi = float(2.0 ** (LOG2_E_HI + 1))
    x = F.col(src)
    valid = x.isNotNull() & (x >= F.lit(lo)) & (x < F.lit(hi))
    e_expr = None
    m_expr = None
    for k in range(LOG2_E_HI, LOG2_E_LO - 1, -1):
        cond = x >= F.lit(float(2.0**k))
        e_expr = (
            F.when(cond, F.lit(k)) if e_expr is None else e_expr.when(cond, F.lit(k))
        )
        m_expr = (
            F.when(cond, x * F.lit(float(2.0**-k)))
            if m_expr is None
            else m_expr.when(cond, x * F.lit(float(2.0**-k)))
        )
    cur = df.select(
        *carry,
        src,
        F.when(valid, m_expr).alias("_l2m"),
        F.when(valid, e_expr).cast("double").alias("_l2acc"),
    )
    for i in range(1, LOG2_BITS + 1):
        m2 = F.col("_l2m") * F.col("_l2m")
        ge = m2 >= F.lit(2.0)
        cur = cur.select(
            *carry,
            src,
            F.when(ge, m2 / F.lit(2.0)).otherwise(m2).alias("_l2m"),
            (
                F.col("_l2acc")
                + F.when(ge, F.lit(float(2.0**-i))).otherwise(F.lit(0.0))
            ).alias("_l2acc"),
        )
    return cur.select(*carry, src, F.col("_l2acc").alias(out))


def sql_exact_log2_ctes(prev: str, src: str, out: str, carry: list[str]):
    """DuckDB mirror of ``with_exact_log2``: returns (cte_fragment,
    final_cte_name). ``prev`` is the upstream CTE; ``carry`` the columns
    to keep beside ``src``/``out``. Append the fragment after a WITH list
    entry (it starts with a comma)."""
    cols = ", ".join(carry + [src])
    lo, hi = 2.0**LOG2_E_LO, 2.0 ** (LOG2_E_HI + 1)
    e_branches = " ".join(
        f"WHEN {src} >= {2.0**k!r} THEN {k}"
        for k in range(LOG2_E_HI, LOG2_E_LO - 1, -1)
    )
    m_branches = " ".join(
        f"WHEN {src} >= {2.0**k!r} THEN {src} * {2.0**-k!r}"
        for k in range(LOG2_E_HI, LOG2_E_LO - 1, -1)
    )
    frag = [
        f", _l2n AS (SELECT {cols},"
        f" CASE WHEN {src} IS NULL OR {src} < {lo!r} OR {src} >= {hi!r} THEN NULL"
        f" ELSE CASE {m_branches} END END AS _l2m,"
        f" CAST(CASE WHEN {src} IS NULL OR {src} < {lo!r} OR {src} >= {hi!r} THEN NULL"
        f" ELSE CASE {e_branches} END END AS DOUBLE) AS _l2acc"
        f" FROM {prev})"
    ]
    cur = "_l2n"
    for i in range(1, LOG2_BITS + 1):
        nxt = f"_l2s{i}"
        frag.append(
            f", {nxt} AS (SELECT {cols},"
            f" CASE WHEN _l2m * _l2m >= 2.0 THEN _l2m * _l2m / 2.0"
            f" ELSE _l2m * _l2m END AS _l2m,"
            f" _l2acc + CASE WHEN _l2m * _l2m >= 2.0 THEN {2.0**-i!r} ELSE 0.0 END"
            f" AS _l2acc FROM {cur})"
        )
        cur = nxt
    frag.append(
        f", _l2out AS (SELECT {cols}, _l2acc AS {out} FROM {cur})"
    )
    return "".join(frag), "_l2out"
