"""Flight-dashboard benchmark: one workload per process, closed loop.

  python3 perfbench/run.py --workload serve_dashboard --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  The run generates its inputs from the
seed, starts the program's Spark session on ``local[<cpus>]``, measures one
client that sends its next operation as soon as the previous one returns
(no think time) for ``--seconds`` seconds, checks every output against an
independent oracle and prints its metrics.  The last line of standard
output is one JSON object: with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer metrics of a traced run (spans around every
public call, written to ``.perfbench_work/trace-<workload>-s<seed>.json``).

Everything the run writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402
from spans import SparkCounters, Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ROWS = 30_000           # raw flights per seed, three monthly CSVs
DRIVER_MEM = "2g"       # JVM heap, well below the host's physical memory

END_TO_END = {"setup_s": "s", "op_cpu_p50_ms": "ms"}
PER_LAYER = {
    "session.get_spark_s": "s",
    "io.csv_scan_s": "s",
    "io.write_cache_s": "s",
    "io.read_cache_csv_s": "s",
    "clean.self_s": "s",
    "star.self_s": "s",
    "star.write_star_s": "s",
    "views.self_s": "s",
    "views.files_read_per_query": "count",
    "agg.airline_monthly_s": "s",
    "agg.airport_performance_s": "s",
    "agg.scans_per_refresh": "count",
    "cli.jobs_per_refresh": "count",
    "cli.summary_counts_s": "s",
    "serve.apply_shared_filter_ms": "ms",
    "serve.kpis_ms": "ms",
    "serve.airline_rank_ms": "ms",
    "serve.monthly_trend_ms": "ms",
    "serve.delay_attribution_ms": "ms",
    "serve.geo_rollup_ms": "ms",
    "serve.jobs_per_request": "count",
    "serve.jobs_per_repeat_request": "count",
    "serve.tasks_per_request": "count",
    "spark.failed_tasks": "count",
    "jvm.gc_s": "s",
    "jvm.jit_cpu_s": "s",
    "mem.peak_rss_mb": "MB",
    "trace.op_p50_ms": "ms",
    "trace.op_cpu_p50_ms": "ms",
}
# The operation latency under the names each workload's story uses: the
# median, and a tail percentile printed when the run has enough samples.
OP_ALIASES = {
    "serve_dashboard": ("serve_p50_ms", ("serve_p95_ms", 95.0)),
    "pipeline_refresh": ("pipeline_refresh_s", None),
}


def host_sizing(work: str) -> dict:
    """The program's own sizing variables, fixed for every run, and temp
    directories inside the checkout, so nothing is written outside it."""
    tmp = os.path.join(work, "tmp")
    sizing = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    for d in (sizing["SPARK_LOCAL_DIRS"], tmp):
        os.makedirs(d, exist_ok=True)
    os.environ.update(sizing)
    return sizing


def stop_jvm(spark) -> None:
    """Stop Spark, close the JVM's stdin (its signal to exit) and wait
    until the JVM and every process it started have ended."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = [p for p in _descendants(os.getpid()) if p != os.getpid()]
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") and _alive(p) for p in started):
        if time.monotonic() > deadline:
            raise TimeoutError(f"processes still running: {started}")
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def reset_peak_rss() -> None:
    """Restart the peak-resident-set count of the process tree from its
    current size, so set-up and warm-up do not count."""
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process and every
    process it started: the JVM and Spark's Python workers."""
    kb = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def thread_kind(comm: str) -> str:
    """``jit`` for the JVM's compiler threads and code sweeper, ``gc`` for
    its garbage collector threads, ``work`` for every other thread."""
    if "Compiler" in comm or comm.startswith("Sweeper"):
        return "jit"
    if comm.startswith(("GC ", "G1 ")):
        return "gc"
    return "work"


_KINDS: dict[tuple[int, str], str] = {}


def cpu_snapshot() -> dict[tuple[int, str], int]:
    """CPU time in nanoseconds of every thread of this process and of every
    process it started, from each thread's ``schedstat``.  The kernel keeps
    time stolen by the hypervisor out of these figures, so other tenants of
    the host move them far less than they move wall time."""
    snap = {}
    for pid in _descendants(os.getpid()):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            task = f"/proc/{pid}/task/{tid}"
            try:
                if (pid, tid) not in _KINDS:
                    with open(f"{task}/comm") as f:
                        _KINDS[pid, tid] = thread_kind(f.read().rstrip("\n"))
                with open(f"{task}/schedstat") as f:
                    snap[pid, tid] = int(f.read().split()[0])
            except (OSError, IndexError, ValueError):
                continue
    return snap


def cpu_since(before: dict, after: dict) -> dict[str, float]:
    """CPU seconds per thread kind between two snapshots.  Threads come
    and go (the JVM retires idle compiler threads, Spark idle pool
    threads): a new one counts from zero, and one that ended in between
    loses only what it ran after ``before``."""
    out = {"jit": 0.0, "gc": 0.0, "work": 0.0}
    for t, ns in after.items():
        out[_KINDS[t]] += (ns - before.get(t, 0)) / 1e9
    return out


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs: a
    sign that other tenants of the host slowed this run."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def measure(workload, seconds: float) -> tuple[list[float], list[float], list, int]:
    """The closed loop: one client, next operation as soon as the previous
    returns, until ``seconds`` have passed.  Returns the wall time and the
    working threads' CPU time of each operation that succeeded."""
    latencies, cpu, results, failed = [], [], [], 0
    deadline = time.perf_counter() + seconds
    i = 0
    while True:
        c0 = cpu_snapshot()
        t0 = time.perf_counter()
        try:
            result = workload.op(i)
        except Exception:  # noqa: BLE001 — a failed operation is counted, the loop goes on
            failed += 1
            traceback.print_exc()
        else:
            latencies.append(time.perf_counter() - t0)
            cpu.append(cpu_since(c0, cpu_snapshot())["work"])
            results.append(result)
        i += 1
        if time.perf_counter() >= deadline:
            return latencies, cpu, results, failed


def score(workload, results: list, op_failures: int) -> tuple[int, int]:
    """(attempted, failed) of a run: an operation that raised and one whose
    output the workload's check finds wrong both count as failed."""
    wrong = workload.check(results)
    return len(results) + op_failures, op_failures + wrong


def run(name: str, seed: int, seconds: float, traced: bool) -> dict:
    sys.path.insert(0, ROOT)
    from us_flight_bigdata_dashboard_spark.session import get_spark

    tracer = Tracer(traced)
    wl = WORKLOADS[name](seed, ROWS, ROOT, tracer)
    sizing = host_sizing(wl.work)
    wl.inputs()

    # The set-up starts from a new JVM, as the CLI's commands do: the
    # get_spark() call that launches it, then the workload's preparation.
    t0 = time.perf_counter()
    spark = get_spark()
    get_spark_s = time.perf_counter() - t0
    try:
        tracer.bind(spark)
        wl.setup(spark)
        setup_s = time.perf_counter() - t0
        wl.bootstrap()

        reset_peak_rss()
        gc = SparkCounters(spark).gc_ms
        gc0, steal0, cpu0 = gc(), cpu_steal_s(), cpu_snapshot()
        latencies, op_cpu, results, op_failures = measure(wl, seconds)
        cpu_s = cpu_since(cpu0, cpu_snapshot())
        gc_s = (gc() - gc0) / 1000.0
        steal_s = cpu_steal_s() - steal0
        rss = peak_rss_mb()
        attempted, failed = score(wl, results, op_failures)
        layers = wl.layers() if traced else {}
    finally:
        stop_jvm(spark)

    report = {
        "workload": name,
        "seed": seed,
        "sizing": sizing,
        "inputs": wl.sizes,
        "gen_s": wl.gen_s,
        "get_spark_s": get_spark_s,
        "latencies_s": latencies,
        "attempted": attempted,
        "failed": failed,
        "errors": wl.errors[:5],
        "end_to_end": {
            "setup_s": setup_s,
            "op_cpu_p50_ms": stats.median(op_cpu) * 1000.0,
        },
        "op_p50_ms": stats.median(latencies) * 1000.0,
        "op_cpu_s": op_cpu,
        "cpu_s": cpu_s,
        "peak_rss_mb": rss,
        "steal_s": steal_s,
    }
    if traced:
        per_layer = dict.fromkeys(PER_LAYER, 0.0)
        per_layer.update(layers)
        per_layer["session.get_spark_s"] = get_spark_s
        per_layer["spark.failed_tasks"] = tracer.total("failed_tasks")
        per_layer["jvm.gc_s"] = gc_s
        per_layer["jvm.jit_cpu_s"] = cpu_s["jit"]
        per_layer["mem.peak_rss_mb"] = rss
        per_layer["trace.op_p50_ms"] = report["op_p50_ms"]
        per_layer["trace.op_cpu_p50_ms"] = report["end_to_end"]["op_cpu_p50_ms"]
        report["per_layer"] = per_layer
        tracer.write(os.path.join(wl.work, f"trace-{name}-s{seed}.json"))
    return report


def print_report(report: dict, traced: bool) -> None:
    name = report["workload"]
    lat = report["latencies_s"]
    e2e = report["end_to_end"]
    print(f"workload {name}  seed {report['seed']}  traced {int(traced)}")
    print("host sizing " + " ".join(f"{k}={v}" for k, v in report["sizing"].items()))
    print("inputs " + json.dumps(report["inputs"], sort_keys=True))
    print(f"input generation {report['gen_s']:.3f} s (not gated)")
    print(f"get_spark {report['get_spark_s']:.3f} s  (launches the JVM)")
    print(f"setup_s {e2e['setup_s']:.4f} s")
    cpu = report["cpu_s"]
    print(f"op_cpu_p50_ms {e2e['op_cpu_p50_ms']:.3f} ms  (median CPU of the working threads per operation, {len(lat)} operations)")
    print("cpu_ms " + " ".join(f"{x * 1000.0:.0f}" for x in report["op_cpu_s"]))
    print(f"loop cpu_s work {cpu['work']:.2f}  jit {cpu['jit']:.2f}  gc {cpu['gc']:.2f}")
    print(f"op_p50_ms {report['op_p50_ms']:.3f} ms  (wall latency, not gated)")
    print("latencies_ms " + " ".join(f"{x * 1000.0:.0f}" for x in lat))
    alias, tail_alias = OP_ALIASES[name]
    if alias.endswith("_s"):
        print(f"{alias} {stats.median(lat):.4f} s")
    else:
        print(f"{alias} {stats.median(lat) * 1000.0:.3f} ms")
    try:
        p, value = stats.tail(lat)
        print(f"p{p:g} latency {value * 1000.0:.3f} ms  (n={len(lat)}, highest percentile with >=10 beyond)")
    except stats.TooFewSamples as e:
        print(f"tail latency not reported: {e}")
    if tail_alias:
        tail_name, p = tail_alias
        if stats.beyond(len(lat), p) >= stats.MIN_BEYOND:
            print(f"{tail_name} {stats.percentile(lat, p) * 1000.0:.3f} ms")
        else:
            print(f"{tail_name} not reported: {len(lat)} samples leave fewer than 10 beyond p{p:g}")
    print(f"peak_rss_mb {report['peak_rss_mb']:.1f} MB  (not gated)")
    print(f"cpu steal during the loop {report['steal_s']:.2f} s")
    rate = report["failed"] / report["attempted"] if report["attempted"] else 1.0
    print(f"error_rate {rate:.4f} ratio  ({report['failed']} of {report['attempted']})")
    for err in report["errors"]:
        print(f"  wrong: {err}")
    if traced:
        for k, v in report["per_layer"].items():
            print(f"{k} {v:.6g} {PER_LAYER[k]}")


def result_line(report: dict, traced: bool) -> dict:
    """The last line of standard output."""
    if traced:
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in report["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in report["end_to_end"].items()}
    return {
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = args.trace == 1
    report = run(args.workload, args.seed, args.seconds, traced)
    print_report(report, traced)
    sys.stdout.flush()
    print(json.dumps(result_line(report, traced)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
