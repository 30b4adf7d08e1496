"""Same answers: run the refresh and the dashboard of two checkouts on the
same inputs, and compare what each publishes and prints.

Usage: python tools/same_answers.py PARENT_TREE CHANGE_TREE

The inputs are built once, into a temporary directory, by this checkout's
code, so both trees read the same bytes:

- ``perfbench/gen.py`` seeds 1, 2 and 3, at ``perfbench/run.py``'s row count;
- the files of the ``fine_csv_dir`` and ``quirky_csv_dir`` fixtures, written
  by ``tests/test_pipeline_cli.py``'s ``write_fine_csvs`` and
  ``write_quirky_csvs``.

Each tree runs in a process of its own, with its own package first on the
path and one Spark session (``SPARK_GRAFT_DRIVER_MEM`` defaults to the
benchmark's heap): the ``pipeline`` command on every input, plain and with
``--write-star``, each into a directory of its own; the fact read back with
Spark; and the ``serve`` command over each output with six filters. The
trees run one after the other.

Each check prints one line, ``same`` or ``DIFF``, then its name:

- each cache's and each dim's directory, by file names and bytes;
- the fact's schema, and its rows, sorted;
- the summary line ``pipeline`` prints, less its ``out`` path;
- the ``serve`` JSON of each filter, as text.

Exits 1 if any check differs or a tree's run fails, else 0.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(ROOT / "perfbench"), str(ROOT / "tests"), str(ROOT)]

import gen  # noqa: E402
from run import DRIVER_MEM, ROWS  # noqa: E402
from test_pipeline_cli import write_fine_csvs, write_quirky_csvs  # noqa: E402

SEEDS = (1, 2, 3)
# the ``serve`` filters: none, a month, months and airlines, an airline,
# three airlines over every month, and an empty month list (no row)
FILTERS = [
    [],
    ["--months", "1"],
    ["--months", "2", "3", "--airlines", "American Airlines", "Delta Air Lines"],
    ["--airlines", "Alaska Airlines"],
    ["--months", "1", "2", "3", "--airlines", "Southwest Airlines", "United Airlines", "Spirit Airlines"],
    ["--months"],
]

# Runs in each tree's own process, with the tree as its working directory:
# argv[1] is the JSON of the inputs, the filters and the output directory.
WORKER = r"""
import contextlib, io, json, os, sys

spec = json.loads(sys.argv[1])
import us_flight_bigdata_dashboard_spark as package

assert os.path.dirname(os.path.dirname(os.path.abspath(package.__file__))) == os.getcwd(), package.__file__
from us_flight_bigdata_dashboard_spark.__main__ import main
from us_flight_bigdata_dashboard_spark.session import get_spark


def run(argv):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert main(argv) == 0, argv
    return buf.getvalue()


results = {}
for name, raw in spec["inputs"].items():
    for mode, flags in (("plain", []), ("star", ["--write-star"])):
        out = os.path.join(spec["out"], name, mode)
        summary = json.loads(run(["pipeline", "--raw", raw, "--out", out, *flags]).splitlines()[-1])
        del summary["out"]
        result = results[f"{name}/{mode}"] = {
            "summary": summary,
            "serve": [run(["serve", "--cache-dir", out, *f]) for f in spec["filters"]],
        }
        if flags:
            fact = get_spark().read.parquet(os.path.join(out, "star", "fact_flights"))
            result["fact"] = {"schema": fact.schema.simpleString(), "rows": sorted(repr(tuple(r)) for r in fact.collect())}
with open(os.path.join(spec["out"], "results.json"), "w") as f:
    json.dump(results, f)
"""


def build_inputs(root: Path) -> dict[str, str]:
    """The inputs' raw CSVs under ``root``: input name → the glob of its files."""
    inputs = {}
    for seed in SEEDS:
        gen.write_raw(str(root / f"seed{seed}"), seed, ROWS)
        inputs[f"seed{seed}"] = str(root / f"seed{seed}" / "*.csv")
    for name, write in (("fine", write_fine_csvs), ("quirky", write_quirky_csvs)):
        (root / name).mkdir(parents=True)
        write(root / name)
        inputs[name] = str(root / name / "*.csv")
    return inputs


def run_tree(tree: Path, inputs: dict[str, str], out: Path) -> dict | None:
    """The worker's results for ``tree``, or ``None`` (its error printed) if
    it fails."""
    spec = {"inputs": inputs, "filters": FILTERS, "out": str(out)}
    env = {"SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM} | dict(os.environ)
    done = subprocess.run([sys.executable, "-c", WORKER, json.dumps(spec)], cwd=tree, env=env,
                          capture_output=True, text=True)
    if done.returncode != 0:
        print(f"FAIL  {tree}: the run exited {done.returncode}\n{done.stderr[-4000:]}")
        return None
    with open(out / "results.json") as f:
        return json.load(f)


def published(out: Path) -> dict[str, dict[str, bytes]]:
    """Each cache and dim directory under ``out`` → its files' bytes by name."""
    dirs = [d for d in out.iterdir() if d.is_dir() and d.name != "star"]
    if (out / "star").is_dir():
        dirs += [d for d in (out / "star").iterdir() if d.is_dir() and d.name != "fact_flights"]
    return {str(d.relative_to(out)): {f.name: f.read_bytes() for f in d.iterdir()} for d in dirs}


def compare(work: Path, parent: dict, change: dict) -> int:
    """Prints one line per check; the number of checks that differ."""
    diffs = 0

    def check(name: str, same: bool) -> None:
        nonlocal diffs
        diffs += not same
        print(f"{'same' if same else 'DIFF'}  {name}")

    for key in sorted(parent.keys() | change.keys()):
        a, b = parent.get(key), change.get(key)
        if a is None or b is None:
            check(f"{key}: run in both trees", False)
            continue
        files_a, files_b = published(work / "parent" / key), published(work / "change" / key)
        for d in sorted(files_a.keys() | files_b.keys()):
            check(f"{key} {d}: bytes", files_a.get(d) == files_b.get(d))
        if "fact" in a or "fact" in b:
            fa, fb = a.get("fact", {}), b.get("fact", {})
            check(f"{key} fact_flights: schema", fa.get("schema") == fb.get("schema"))
            check(f"{key} fact_flights: {len(fa.get('rows', []))} rows, sorted", fa.get("rows") == fb.get("rows"))
        check(f"{key} summary {json.dumps(a['summary'])}", a["summary"] == b["summary"])
        for f, served_a, served_b in zip(FILTERS, a["serve"], b["serve"], strict=True):
            check(f"{key} serve {' '.join(f) or '(no filter)'}", served_a == served_b)
    return diffs


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    trees = [Path(a).resolve() for a in argv]
    with tempfile.TemporaryDirectory(prefix="same_answers_") as tmp:
        work = Path(tmp)
        inputs = build_inputs(work / "inputs")
        results = [run_tree(tree, inputs, work / label) for tree, label in zip(trees, ("parent", "change"))]
        if None in results:
            return 1
        diffs = compare(work, *results)
    print(f"{diffs} of the checks differ" if diffs else "same answers")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
