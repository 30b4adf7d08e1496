"""Doc-drift guard: every ``*.py`` file README.md and the verify skill name
must exist. A doc that still points at a deleted script sends the next
reader to a command that cannot run — this test makes that a failure.

Paths are read the way the docs write them: relative to the repo root
(``tools/check_oracle.py``), relative to the package (``functions/exact.py``,
and bare names in README's package Layout tree), or absolute to a checkout
(``<checkout>/tools/dtype_parity.py``, matched by its trailing part)."""

from __future__ import annotations

import re
from pathlib import Path, PurePosixPath

import pytest

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "us_flight_bigdata_dashboard_spark"
DOCS = ["README.md", ".claude/skills/verify/SKILL.md"]
PY_PATH = re.compile(r"[\w./-]*\w\.py\b")


def _exists(named: str) -> bool:
    p = PurePosixPath(named)
    if p.is_absolute():
        parts = p.parts[1:]
        return any(ROOT.joinpath(*parts[i:]).is_file() for i in range(len(parts)))
    if (ROOT / p).is_file() or (PKG / p).is_file():
        return True
    return len(p.parts) == 1 and any(PKG.rglob(p.name))


@pytest.mark.parametrize("doc", DOCS)
def test_named_python_files_exist(doc):
    named = sorted(set(PY_PATH.findall((ROOT / doc).read_text())))
    assert named, f"{doc} names no .py files; the pattern no longer matches"
    missing = [n for n in named if not _exists(n)]
    assert not missing, f"{doc} names files that do not exist: {missing}"
