"""Count the code lines of Python files: lines that hold a token other than
a comment, a newline, an indent or a dedent, less the lines of module,
class and function docstrings.

Usage: python tools/code_lines.py [file ...]

With no argument it counts ``flights/{io,serve,agg,pipeline,star}.py``,
the figure ROADMAP.md's design goal reports. Prints one ``name count`` line
per file and a ``total`` line.
"""

from __future__ import annotations

import ast
import sys
import tokenize
from pathlib import Path

FLIGHTS = Path(__file__).resolve().parents[1] / "us_flight_bigdata_dashboard_spark" / "flights"
DEFAULT = [FLIGHTS / f"{name}.py" for name in ("io", "serve", "agg", "pipeline", "star")]
NOT_CODE = {tokenize.COMMENT, tokenize.NEWLINE, tokenize.NL, tokenize.INDENT, tokenize.DEDENT,
            tokenize.ENCODING, tokenize.ENDMARKER}


def docstring_lines(tree: ast.Module) -> set[int]:
    """The line numbers the docstrings of ``tree`` span."""
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            first = node.body[0] if node.body else None
            if (isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(path: Path) -> int:
    with open(path, "rb") as f:
        tokens = list(tokenize.tokenize(f.readline))
    lines: set[int] = set()
    for tok in tokens:
        if tok.type not in NOT_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docstring_lines(ast.parse(path.read_bytes())))


def main(argv: list[str]) -> int:
    paths = [Path(a) for a in argv] or DEFAULT
    counts = {path: code_lines(path) for path in paths}
    for path, n in counts.items():
        print(f"{path.stem if not argv else path} {n}")
    print(f"total {sum(counts.values())}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
