"""One benchmark run inside a fresh process: set-up, cold pass, timed passes.

Started by ``run.py``, which times the process start; this file writes its
measurements as JSON to ``--out``. Closed loop, one client: each job is
built, executed and collected with ``toPandas()`` before the next starts.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from tracing import (  # noqa: E402
    OPERATOR_MODULES, StealClock, Tracer, event_counters, install, process_tree,
    read_event_log, tree_cpu_seconds, vm_hwm_kb,
)

from oracle import Oracle  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def tail_percentile(n: int) -> int:
    """Highest of p50/p75/p90/p95/p99 with at least 10 samples beyond it;
    100 (the maximum) when even p50 has fewer."""
    for q in (99, 95, 90, 75, 50):
        if n * (100 - q) / 100 >= 10:
            return q
    return 100


def percentile(xs: list[float], q: int) -> float:
    if q == 100 or len(xs) == 1:
        return max(xs)
    if q == 50:
        return statistics.median(xs)
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def cached_bytes(sc) -> int:
    return sum(
        i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo()
    )


class Runner:
    def __init__(self, args, tracer: Tracer | None) -> None:
        from mapreduce_big_data_processing_spark import catalog, session
        from mapreduce_big_data_processing_spark import queries as Q

        self.args = args
        self.w = WORKLOADS[args.workload]
        self.Q = Q
        self.catalog = catalog
        self.tracer = tracer
        self.tables_of: dict[str, set[str]] = {}
        self.failures: dict[str, str] = {}
        self.clock = StealClock()
        self.spark = session.get_session("perfbench", cpus=args.cpus, adaptive=False)
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")

    def _record_tables(self):
        orig = self.catalog.load
        current: dict[str, str | None] = {"job": None}

        def load(spark, name, *a, **k):
            self.tables_of.setdefault(current["job"], set()).add(name)
            return orig(spark, name, *a, **k)

        self.catalog.load = load
        return orig, current

    def run_pass(self, label: str, record_tables: bool = False) -> dict:
        """Run every job once; return per-job seconds (net of steal, see
        ``tracing.StealClock``) and results."""
        tr = self.tracer
        if record_tables:
            orig_load, current = self._record_tables()
        times: dict[str, float] = {}
        wall: dict[str, float] = {}
        results: dict[str, object] = {}
        residual = 0
        t_wall0 = time.time()
        for name in self.w.jobs:
            if record_tables:
                current["job"] = name
            if tr is not None:
                tr.job = f"{name}#{label}"
            start = self.clock.now()
            try:
                if tr is not None and tr.enabled:
                    i = tr.start("queries.build")
                    try:
                        df = self.Q.QUERIES[name](self.spark, self.args.data)
                    finally:
                        tr.end(i)
                    i = tr.start("queries.collect")
                    try:
                        results[name] = df.toPandas()
                    finally:
                        tr.end(i)
                else:
                    results[name] = self.Q.QUERIES[name](self.spark, self.args.data).toPandas()
            except Exception as e:  # a failing job is counted, the run goes on
                self.failures.setdefault(name, f"raised {type(e).__name__}: {e}"[:300])
                results[name] = None
            times[name], _ = self.clock.net(start)
            wall[name] = time.perf_counter() - start[0]
            residual += cached_bytes(self.sc)
            self.spark.catalog.clearCache()
        if record_tables:
            self.catalog.load = orig_load
        if tr is not None:
            tr.job = None
        return {
            "times": times, "results": results, "residual": residual,
            "t0": t_wall0, "t1": time.time(), "pass_s": sum(times.values()),
            "pass_wall_s": sum(wall.values()),
        }

    def check(self, oracle: Oracle, results: dict) -> None:
        for name, pdf in results.items():
            if pdf is None:
                continue
            why = oracle.check(name, self.Q.ORACLE[name], pdf)
            if why is not None:
                self.failures.setdefault(name, f"oracle mismatch: {why}"[:300])

    def timed(self, seconds: float, label: str) -> list[dict]:
        """Whole passes until ``seconds`` have elapsed, at least one."""
        passes = []
        t_end = time.perf_counter() + seconds
        while not passes or time.perf_counter() < t_end:
            passes.append(self.run_pass(f"{label}{len(passes)}"))
        return passes

    def input_rows(self) -> int:
        import pyarrow.parquet as pq

        n = 0
        for name in self.w.jobs:
            for t in self.tables_of.get(name, ()):
                path = os.path.join(self.args.data, f"{t}.parquet")
                n += pq.ParquetFile(path).metadata.num_rows
        return n

    def peak_rss_mb(self) -> float:
        jvm = self.sc._gateway.proc.pid
        pids = [os.getpid()] + process_tree(jvm)
        return sum(vm_hwm_kb(p) for p in pids) / 1024.0

    def stop(self) -> None:
        """Stop Spark, end the JVM and wait for it and its Python workers."""
        gw = self.sc._gateway
        proc = gw.proc
        pids = process_tree(proc.pid)
        self.spark.stop()
        gw.shutdown()
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)
        t_end = time.time() + 30
        while time.time() < t_end and any(os.path.exists(f"/proc/{p}") for p in pids[1:]):
            time.sleep(0.1)


def pass_metrics(runner: Runner, passes: list[dict]) -> dict:
    samples = [t for p in passes for t in p["times"].values()]
    q = tail_percentile(len(samples))
    pass_s = statistics.median(p["pass_s"] for p in passes)
    rows = runner.input_rows()
    return {
        "job_s_p50": statistics.median(samples),
        "job_s_tail": percentile(samples, q),
        "tail_percentile": q,
        "job_samples": len(samples),
        "passes": len(passes),
        "pass_s": pass_s,
        "pass_times": [p["pass_s"] for p in passes],
        "pass_wall_times": [p["pass_wall_s"] for p in passes],
        "rows_per_pass": rows,
        "rows_per_s": rows / pass_s,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--event-log", default="")
    ap.add_argument("--spawn", required=True,
                    help="perf_counter,steal_seconds at process spawn (run.py)")
    args = ap.parse_args()

    tracer = None
    if args.trace:
        tracer = Tracer()
        install(tracer)
        tracer.enabled = True
    runner = Runner(args, tracer)
    if tracer is not None:
        tracer.enabled = False
    cold = runner.run_pass("cold", record_tables=True)
    setup_s, setup_steal = runner.clock.net(tuple(map(float, args.spawn.split(","))))
    out: dict = {"setup_s": setup_s, "setup_steal_share": setup_steal,
                 "cold_pass_s": cold["pass_s"], "cold_job_s": cold["times"]}

    # settle before timing: collect garbage on both sides so every run
    # starts its timed passes from the same heap state
    gc.collect()
    runner.sc._jvm.System.gc()
    if not args.trace:
        passes = runner.timed(args.seconds, "t")
        out.update(pass_metrics(runner, passes))
    else:
        base = runner.timed(args.seconds / 2, "u")
        out.update(pass_metrics(runner, base))
        jvm = runner.sc._gateway.proc.pid
        cpu0 = tree_cpu_seconds(jvm)
        first_span = len(tracer.spans)
        tracer.counts.clear()
        tracer.enabled = True
        passes = runner.timed(args.seconds / 2, "x")
        tracer.enabled = False
        cpu1 = tree_cpu_seconds(jvm)
        # untraced passes on both sides of the traced ones, so the JIT's
        # warm-up trend does not read as a tracing speed-up
        base += runner.timed(args.seconds / 2, "v")
        out["traced"] = traced_metrics(runner, tracer, base, passes, first_span,
                                       cpu1 - cpu0)
    oracle = Oracle(args.data, threads=args.cpus)
    runner.check(oracle, cold["results"])
    runner.check(oracle, passes[-1]["results"])
    oracle.close()
    out["peak_rss_mb"] = runner.peak_rss_mb()
    out["failures"] = runner.failures
    out["jobs"] = list(runner.w.jobs)
    out["job_s_median"] = {
        n: statistics.median(p["times"][n] for p in passes) for n in runner.w.jobs
    }
    app_id = runner.sc.applicationId
    runner.stop()
    if args.trace:
        ev = event_counters(
            read_event_log(args.event_log, app_id),
            passes[0]["t0"] * 1e3, passes[-1]["t1"] * 1e3,
        )
        out["traced"].update({k: v / len(passes) for k, v in ev.items()
                              if k != "spark.stage_skew_max"})
        out["traced"]["spark.stage_skew_max"] = ev["spark.stage_skew_max"]
        tracer.dump(os.path.splitext(args.out)[0] + ".spans.jsonl")
    with open(args.out, "w") as f:
        json.dump(out, f)


def traced_metrics(runner: Runner, tracer: Tracer, base: list[dict], passes: list[dict],
                   first_span: int, cpu_s: float) -> dict:
    n = len(passes)
    self_s = tracer.self_times(first_span)
    c = tracer.counts
    wall = sum(p["t1"] - p["t0"] for p in passes)
    m = {
        "session.get_session_s": sum(
            s["end"] - s["start"] for s in tracer.spans if s["name"] == "session:get_session"
        ),
        "catalog.load_calls": c["catalog.calls"] / n,
        "catalog.load_s": self_s.get("catalog", 0.0) / n,
        "catalog.load_hit_ratio": c["catalog.load_hits"] / max(c["catalog.calls"], 1),
        "queries.build_s": self_s.get("queries.build", 0.0) / n,
        "queries.collect_s": self_s.get("queries.collect", 0.0) / n,
        "plans.iterate.rounds": c["plans.iterate.rounds"] / n,
        "plans.iterate.checkpoints": c["plans.iterate.checkpoints"] / n,
        "plans.iterate.self_s": self_s.get("plans.iterate", 0.0) / n,
        "spark.cached_bytes_residual": statistics.median(p["residual"] for p in passes),
        "spark.cpu_busy_ratio": cpu_s / (wall * runner.args.cpus),
        "trace.overhead_ratio": statistics.median(p["pass_s"] for p in passes)
        / statistics.median(p["pass_s"] for p in base),
    }
    for mod in OPERATOR_MODULES:
        m[f"operators.{mod}.calls"] = c[f"operators.{mod}.calls"] / n
        m[f"operators.{mod}.self_s"] = self_s.get(f"operators.{mod}", 0.0) / n
    return m


if __name__ == "__main__":
    main()
