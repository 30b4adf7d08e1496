"""The benchmark's workloads.

Each workload has the same life cycle, driven by ``run.py``:

* ``inputs``    untimed: seeded raw CSVs (and, for serve, the two caches);
* ``setup``     timed as ``setup_s``, together with the ``get_spark()`` call
                that launches the JVM: the program-side preparation the
                workload needs before its first request;
* ``bootstrap`` untimed: operations of the workload's own
                kind, so the JIT has compiled the hot path before the loop;
* ``op``        one timed operation of the closed loop;
* ``check``     untimed: every output of the loop against an oracle;
* ``layers``    the per-layer metrics of a traced run.

Spans are recorded around calls into the program's public functions only;
the program itself is not instrumented.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import statistics

import numpy as np

import gen
import oracle

N_MONTH_SETS = 2 ** len(gen.MONTHS) - 1
N_AIRLINE_SETS = 2 ** len(gen.AIRLINES) - 1
# Dashboard traffic: the share of requests that repeat an earlier filter is
# a target, and the Zipf exponent of the filter ranks is derived from it.
# Three in four, well clear of one half, puts the median request among the
# repeats, which a result cache would speed up, and leaves the misses to the
# tail.  Over a run's ~20 requests the share has a standard deviation of
# about 0.06 between seeds, so it stays above one half on every seed.
SERVE_REPEAT_SHARE = 0.75
SERVE_REQUESTS_PER_RUN = 20
AIRLINE_NAMES = sorted(name for _, name in gen.AIRLINES)

CACHE_NAMES = ("airline_monthly_performance", "airport_performance")



# ------------------------------------------------------- request streams

def expected_repeat_share(s: float, n: int, draws: int) -> float:
    """Expected share of ``draws`` Zipf(s) draws over ``n`` ranks that
    repeat an earlier draw: one minus the expected distinct ranks per draw."""
    p = np.arange(1, n + 1, dtype=float) ** -s
    p /= p.sum()
    return 1.0 - float(np.sum(1.0 - (1.0 - p) ** draws)) / draws


def zipf_exponent(share: float, n: int, draws: int) -> float:
    """The exponent whose expected repeat share is ``share`` (bisection;
    the share grows with the exponent)."""
    lo, hi = 0.5, 4.0
    for _ in range(40):
        mid = (lo + hi) / 2
        lo, hi = (mid, hi) if expected_repeat_share(mid, n, draws) < share else (lo, mid)
    return (lo + hi) / 2


SERVE_ZIPF_S = zipf_exponent(SERVE_REPEAT_SHARE, N_MONTH_SETS * N_AIRLINE_SETS, SERVE_REQUESTS_PER_RUN)


def decode_filter(index: int) -> tuple[list[int], list[str]]:
    """Index in [0, 7 × (2¹⁴−1)) → (months, airlines), both non-empty."""
    m_mask, a_mask = index // N_AIRLINE_SETS + 1, index % N_AIRLINE_SETS + 1
    months = [m for i, m in enumerate(gen.MONTHS) if m_mask >> i & 1]
    airlines = [a for i, a in enumerate(AIRLINE_NAMES) if a_mask >> i & 1]
    return months, airlines


def serve_filters(seed: int):
    """Endless dashboard filter stream: ranks drawn Zipf-skewed from a
    seeded ranking of the whole filter space, whose first rank is the
    default view with everything selected."""
    rng = np.random.default_rng([seed, 1])
    n = N_MONTH_SETS * N_AIRLINE_SETS
    everything = n - 1
    ranking = rng.permutation(n)
    j = int(np.flatnonzero(ranking == everything)[0])
    ranking[[0, j]] = ranking[[j, 0]]
    cdf = np.cumsum(1.0 / np.arange(1, n + 1) ** SERVE_ZIPF_S)
    cdf /= cdf[-1]
    while True:
        for u in rng.random(256):
            yield decode_filter(int(ranking[np.searchsorted(cdf, u, side="right")]))


# ----------------------------------------------------------------- base

class Workload:
    name = ""

    def __init__(self, seed: int, rows: int, root: str, tracer):
        self.seed, self.rows, self.root, self.tracer = seed, rows, root, tracer
        self.work = os.path.join(root, ".perfbench_work")
        self.data_dir = os.path.join(self.work, "data", f"s{seed}_n{rows}")
        self.raw_dir = os.path.join(self.data_dir, "raw")
        self.raw_glob = os.path.join(self.raw_dir, f"{gen.YEAR}_0[1-3].csv")
        self.sizes: dict = {}
        self.errors: list[str] = []
        self.spark = None

    def inputs(self) -> None:
        info = gen.write_raw(self.raw_dir, self.seed, self.rows)
        self.sizes.update(rows=info["rows"], raw_bytes=info["bytes"], digest=info["digest"])
        self.gen_s = info["gen_s"]

    def setup(self, spark) -> None:
        self.spark = spark

    def bootstrap(self) -> None:
        pass

    def op(self, i: int):
        raise NotImplementedError

    def check(self, results: list) -> int:
        """Number of wrong results; appends a description of each."""
        raise NotImplementedError

    def layers(self) -> dict:
        return {}

    # shared: the pipeline run through the CLI entry

    def cli_pipeline(self, out: str) -> dict:
        from us_flight_bigdata_dashboard_spark import __main__ as cli

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            code = cli.main(["pipeline", "--raw", self.raw_glob, "--out", out, "--write-star"])
        if code != 0:
            raise RuntimeError(f"pipeline exited with {code}")
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    def expected_caches(self):
        if not hasattr(self, "_expected"):
            con = oracle.connect()
            self._expected = oracle.expected_caches(con, gen.raw_files(self.raw_dir))
            con.close()
        return self._expected

    def pipeline_mismatches(self, out: str, summary: dict) -> list[str]:
        airline, airport = self.expected_caches()
        bad = oracle.cache_mismatches(out, airline, airport)
        want = {"rows_cleaned": self.rows, "airline_monthly_rows": len(airline), "airport_perf_rows": len(airport)}
        bad += [f"summary {k} = {summary.get(k)}, expected {v}" for k, v in want.items() if summary.get(k) != v]
        return bad


# ----------------------------------------------------------------- serve

class ServeDashboard(Workload):
    """One dashboard request: the shared filter, then the five charts, all
    collected — the request path of the CLI's ``serve`` command."""

    name = "serve_dashboard"
    N_JIT_WARMUP = 24

    def inputs(self) -> None:
        """The two caches, as the pipeline's cache writer lays them out,
        with the oracle's values (which the refresh workload checks the
        pipeline against), so no refresh runs in the serving process."""
        super().inputs()
        self.filters = serve_filters(self.seed)
        self.seen: set = set()
        self.repeat: list[bool] = []
        self.out = os.path.join(self.data_dir, "caches")
        if not os.path.exists(os.path.join(self.out, "_DONE")):
            for name, frame in zip(CACHE_NAMES, self.expected_caches()):
                os.makedirs(os.path.join(self.out, name), exist_ok=True)
                frame.to_csv(os.path.join(self.out, name, "part-00000.csv"), index=False)
            open(os.path.join(self.out, "_DONE"), "w").close()

    def bootstrap(self) -> None:
        """Requests from a filter stream of its own.  Their filters count as
        seen: the loop's first request for one of them finds it cached."""
        stream = serve_filters(self.seed + 1_000_003)
        for _ in range(self.N_JIT_WARMUP):
            months, airlines = next(stream)
            self._request(months, airlines)
            self.seen.add((tuple(months), tuple(airlines)))

    def _load(self) -> None:
        from us_flight_bigdata_dashboard_spark.flights.io import read_cache_csv
        from us_flight_bigdata_dashboard_spark.flights.schemas import (
            AIRLINE_MONTHLY_SCHEMA,
            AIRPORT_PERFORMANCE_SCHEMA,
        )

        with self.tracer.span("io.read_cache_csv"):
            self.airline = read_cache_csv(
                self.spark, os.path.join(self.out, "airline_monthly_performance"), AIRLINE_MONTHLY_SCHEMA
            )
            self.airport = read_cache_csv(
                self.spark, os.path.join(self.out, "airport_performance"), AIRPORT_PERFORMANCE_SCHEMA
            )
            self.sizes.update(cache_rows=[self.airline.count(), self.airport.count()])

    def setup(self, spark) -> None:
        """Both caches read with ``read_cache_csv`` and materialised."""
        super().setup(spark)
        self._load()

    def _request(self, months, airlines, request=None) -> dict:
        from us_flight_bigdata_dashboard_spark.flights import serve

        span = self.tracer.span
        with span("serve.apply_shared_filter", request):
            fa, fp = serve.apply_shared_filter(self.airline, self.airport, months=months, airlines=airlines)
        with span("serve.kpis", request):
            kpis = serve.kpis(fa)
        with span("serve.airline_rank", request):
            rank = [tuple(r) for r in serve.airline_rank(fa).collect()]
        with span("serve.monthly_trend", request):
            trend = [tuple(r) for r in serve.monthly_trend(fa).collect()]
        with span("serve.delay_attribution", request):
            causes = [tuple(r) for r in serve.delay_attribution(fa).collect()]
        with span("serve.geo_rollup", request):
            geo = {
                r["origin_city"]: (r["lat"], r["lon"], r["total_flights"], r["delayed_flights"], r["delay_rate"])
                for r in serve.geo_rollup(fp).collect()
            }
        return {"kpis": kpis, "airline_rank": rank, "monthly_trend": trend,
                "delay_attribution": causes, "geo_rollup": geo}

    def op(self, i: int):
        months, airlines = next(self.filters)
        key = (tuple(months), tuple(airlines))
        self.repeat.append(key in self.seen)
        self.seen.add(key)
        with self.tracer.span("serve.request", f"r{i}") as rec:
            response = self._request(months, airlines, f"r{i}")
            if rec is not None:
                rec["repeat"] = self.repeat[-1]
        return key, response

    def check(self, results) -> int:
        airline = oracle.read_cache_dir(os.path.join(self.out, "airline_monthly_performance"))
        airport = oracle.read_cache_dir(os.path.join(self.out, "airport_performance"))
        expected: dict = {}
        wrong = 0
        for key, response in results:
            if key not in expected:
                expected[key] = oracle.expected_response(airline, airport, list(key[0]), list(key[1]))
            bad = oracle.response_mismatches(response, expected[key])
            if bad:
                wrong += 1
                self.errors.append(f"request {key}: {bad[0]}")
        self.sizes["serve_repeat_share"] = round(sum(self.repeat) / max(len(self.repeat), 1), 4)
        return wrong

    def layers(self) -> dict:
        """Call times are medians over the loop's requests; the cache read
        is the set-up's.  Job and task counts come
        from the default view (everything selected) served twice on freshly
        loaded caches: the first is a miss and the second finds the filtered
        frames cached.  The loop's own counts vary with the filter (AQE
        plans fewer stages for fewer months), so they would not repeat."""
        t = self.tracer
        out = {"io.read_cache_csv_s": t.median_s("io.read_cache_csv")}
        for call in ("apply_shared_filter", "kpis", "airline_rank", "monthly_trend", "delay_attribution", "geo_rollup"):
            out[f"serve.{call}_ms"] = t.median_s(f"serve.{call}", in_requests=True) * 1000.0
        self.spark.catalog.clearCache()
        self._load()
        months, airlines = decode_filter(N_MONTH_SETS * N_AIRLINE_SETS - 1)
        counts = []
        for i in range(2):
            with t.span("serve.reference_request", f"ref{i}") as rec:
                self._request(months, airlines)
            counts.append(rec)
        out["serve.jobs_per_request"] = counts[0]["jobs"]
        out["serve.jobs_per_repeat_request"] = counts[1]["jobs"]
        out["serve.tasks_per_request"] = counts[0]["tasks"]
        return out


# --------------------------------------------------------------- refresh

class PipelineRefresh(Workload):
    """One full refresh through the CLI entry: raw CSVs → clean → star →
    wide view → both caches, with the star and both caches written."""

    name = "pipeline_refresh"

    N_JIT_WARMUP = 2

    def bootstrap(self) -> None:
        self.outs_root = os.path.join(self.work, "refresh", f"s{self.seed}")
        shutil.rmtree(self.outs_root, ignore_errors=True)
        for i in range(self.N_JIT_WARMUP):
            self.cli_pipeline(os.path.join(self.outs_root, f"warm{i}"))

    def op(self, i: int):
        out = os.path.join(self.outs_root, f"r{i}")
        with self.tracer.span("cli.pipeline", f"r{i}") as rec:
            before = self._sql_executions() if rec is not None else 0
            summary = self.cli_pipeline(out)
            if rec is not None:
                rec["csv_scans"] = self._csv_scans_since(before)
        return out, summary

    def check(self, results) -> int:
        wrong = 0
        for out, summary in results:
            bad = self.pipeline_mismatches(out, summary)
            if bad:
                wrong += 1
                self.errors.append(f"refresh {out}: {bad[0]}")
        self.sizes.update(
            cache_rows=[len(x) for x in self.expected_caches()],
            star_bytes=_tree_bytes(os.path.join(self.outs_root, "warm0", "star")),
        )
        shutil.rmtree(self.outs_root, ignore_errors=True)
        return wrong

    def _status_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _sql_executions(self) -> int:
        return int(self._status_store().executionsCount())

    def _csv_scans_since(self, first: int) -> int:
        """CSV scan nodes in the final plans of the SQL executions since
        ``first`` (a reused exchange shows no second scan)."""
        store = self._status_store()
        self.tracer.drain()
        execs = store.executionsList(first, int(store.executionsCount()) - first)
        scans = 0
        for i in range(execs.size()):
            nodes = store.planGraph(execs.apply(i).executionId()).allNodes()
            scans += sum(1 for j in range(nodes.size()) if nodes.apply(j).name().startswith("Scan csv"))
        return scans

    def layers(self) -> dict:
        """Self time per layer by prefix differencing: successive prefixes
        of the lazy pipeline are sent to Spark's ``noop`` sink, and a layer's
        self time is the difference between consecutive prefixes; then the
        writes and the CLI's summary counts are timed on their own.  Last,
        one single-month query on the wide view over the star just written
        counts the fact files its executed plan scanned."""
        from us_flight_bigdata_dashboard_spark.flights import agg, clean, io as fio, seeds, star, views
        from us_flight_bigdata_dashboard_spark.flights.pipeline import run_pipeline

        spark, span = self.spark, self.tracer.span

        def noop(*dfs):
            for df in dfs:
                df.write.format("noop").mode("overwrite").save()

        passes = []
        for k in range(2):
            t = {}

            def timed(name, fn):
                with span(name, f"layers{k}") as rec:
                    fn()
                t[name] = rec["end"] - rec["start"] if rec else 0.0

            raw = fio.read_raw_flights(spark, self.raw_glob)
            timed("io.read_raw_flights", lambda: noop(raw))
            cleaned = clean.clean_flights(raw)
            timed("clean.clean_flights", lambda: noop(cleaned))
            st = star.build_star(cleaned)
            timed("star.build_star", lambda: noop(st["fact_flights"]))
            wide = views.wide_view(
                st["fact_flights"], seeds.dim_airline_names(spark), st["dim_airports"], st["dim_calendar"]
            )
            timed("views.wide_view", lambda: noop(wide))
            am = agg.airline_monthly_performance(wide)
            timed("agg.airline_monthly_performance", lambda: noop(am))
            ap = agg.airport_performance(wide, seeds.dim_airport_coords(spark))
            timed("agg.airport_performance", lambda: noop(ap))

            out = run_pipeline(spark, self.raw_glob)
            target = os.path.join(self.work, "refresh", f"layers{k}")
            timed("star.write_star", lambda: star.write_star(out.star, f"{target}/star"))
            timed("agg.write_cache", lambda: (
                agg.write_cache(out.airline_monthly, f"{target}/airline_monthly_performance"),
                agg.write_cache(out.airport_perf, f"{target}/airport_performance"),
            ))
            timed("cli.summary_counts", lambda: (
                out.clean.count(), out.airline_monthly.count(), out.airport_perf.count()
            ))
            files_read = self._single_month_files_read(f"{target}/star")
            shutil.rmtree(target, ignore_errors=True)
            passes.append({
                "io.csv_scan_s": t["io.read_raw_flights"],
                "clean.self_s": t["clean.clean_flights"] - t["io.read_raw_flights"],
                "star.self_s": t["star.build_star"] - t["clean.clean_flights"],
                "views.self_s": t["views.wide_view"] - t["star.build_star"],
                "agg.airline_monthly_s": t["agg.airline_monthly_performance"] - t["views.wide_view"],
                "agg.airport_performance_s": t["agg.airport_performance"] - t["views.wide_view"],
                "star.write_star_s": t["star.write_star"],
                "io.write_cache_s": t["agg.write_cache"],
                "cli.summary_counts_s": t["cli.summary_counts"],
                "views.files_read_per_query": files_read,
            })
        out = {k: statistics.median(p[k] for p in passes) for k in passes[0]}
        out["cli.jobs_per_refresh"] = self.tracer.median_count("cli.pipeline", "jobs")
        out["agg.scans_per_refresh"] = self.tracer.median_count("cli.pipeline", "csv_scans")
        return out

    def _single_month_files_read(self, star_dir: str) -> int:
        """Fact files scanned by the delay rate per origin city for one
        month, through ``views.wide_view`` over the star parquet."""
        from pyspark.sql import functions as F
        from us_flight_bigdata_dashboard_spark.flights import seeds, views

        read = self.spark.read.parquet
        wide = views.wide_view(
            read(os.path.join(star_dir, "fact_flights")),
            seeds.dim_airline_names(self.spark),
            read(os.path.join(star_dir, "dim_airports")),
            read(os.path.join(star_dir, "dim_calendar")),
        )
        df = wide.filter(F.col("month") == gen.MONTHS[0]).groupBy("origin_city").agg(F.avg("DepDel15"))
        with self.tracer.span("views.single_month_query"):
            df.collect()
        return fact_files_read(df._jdf.queryExecution().executedPlan())


def fact_files_read(plan) -> int:
    """Files of the star's fact table that the executed plan scanned,
    from the scan nodes' ``numFiles`` metric."""
    total, stack = 0, [plan]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if kind == "FileSourceScanExec" and "fact_flights" in node.relation().location().rootPaths().toString():
            metric = node.metrics().get("numFiles")
            if metric.isDefined():
                total += int(metric.get().value())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return total


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files)


WORKLOADS = {w.name: w for w in (ServeDashboard, PipelineRefresh)}
