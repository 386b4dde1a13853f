"""Benchmark entry point: one seeded run of one workload.

    python3 perfbench/run.py --workload star_logs --seed 1 --seconds 1 --trace 0

Run from the repository root. Generates the seeded inputs (cached under
``.bench_data/``), starts ``worker.py`` in a fresh process and prints, as
the last line of standard output, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Everything the run
writes (inputs, Spark scratch, event logs, spans) stays under the current
directory. See ``perfbench/NOTES.md`` for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from tracing import StealClock  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

PKG = "mapreduce_big_data_processing_spark"
#: Spark driver heap: the engine's 16g default does not fit a 16 GB machine
DRIVER_MEM = "3g"
#: a run must end within this many seconds, set-up included
RUN_LIMIT_S = 170
T_START = time.time()


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _group_alive(proc: subprocess.Popen) -> bool:
    proc.poll()  # reap the worker itself once it has exited
    try:
        os.killpg(proc.pid, 0)
    except ProcessLookupError:
        return False
    return True


def kill_group(proc: subprocess.Popen) -> None:
    """Stop whatever is left of the worker's process group and wait for it."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not _group_alive(proc):
            return
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        t_end = time.time() + 10
        while time.time() < t_end and _group_alive(proc):
            time.sleep(0.1)


def launch(args, data_dir: str, work: str, n_cpu: int) -> dict:
    """Start the worker, wait for it and return its measurements."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed-size heap (-Xms = -Xmx) keeps GC sizing, and so peak memory,
    # the same from run to run
    submit = [f"--driver-java-options=-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}"]
    event_log = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(event_log, exist_ok=True)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{event_log}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_CPUS=str(n_cpu),
        PYSPARK_SUBMIT_ARGS=" ".join(shlex.quote(s) for s in submit + ["pyspark-shell"]),
        PYTHONPATH=os.pathsep.join([os.getcwd(), os.environ.get("PYTHONPATH", "")]),
    )
    out = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--data", data_dir,
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cpus", str(n_cpu), "--out", out, "--event-log", event_log,
    ]
    cmd += ["--spawn", ",".join(map(str, StealClock().now()))]
    proc = subprocess.Popen(cmd, env=env, start_new_session=True, stdout=sys.stderr)
    try:
        code = proc.wait(timeout=RUN_LIMIT_S - (time.time() - T_START))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        kill_group(proc)
    if code is None:
        fail("run exceeded its time limit")
    if code != 0 or not os.path.exists(out):
        fail(f"worker exited with code {code}")
    with open(out) as f:
        return json.load(f)


def main() -> None:
    ap = argparse.ArgumentParser(description="seeded Spark engine benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--mult", type=float, default=None,
                    help="override the workload's input size (self-test)")
    args = ap.parse_args()
    # on SIGTERM, unwind so the worker's process group is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "queries.py")):
        fail(f"no {PKG}/ under {root}: run from the repository root")
    w = WORKLOADS[args.workload]
    mult = w.mult if args.mult is None else args.mult

    data_dir, gen_s = gen.ensure(os.path.join(root, ".bench_data"), args.seed, mult,
                                 list(w.tables))
    print(f"perfbench: inputs {data_dir} ({gen_s:.2f} s to generate)", file=sys.stderr)
    work = os.path.join(root, ".bench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    try:
        res = launch(args, data_dir, work, cpus())
        spans = os.path.join(work, "result.spans.jsonl")
        if os.path.exists(spans):
            keep = os.path.join(root, ".bench_work", "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.move(spans, os.path.join(keep, f"{args.workload}-s{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["per_layer"] if args.trace else bench["end_to_end"]
    values = res["traced"] if args.trace else res
    failed = len(res["failures"])
    detail = {
        "workload": args.workload, "seed": args.seed, "mult": mult,
        "tail": f"p{res['tail_percentile']} of {res['job_samples']} job samples",
        "passes": res["passes"], "pass_times": res["pass_times"],
        "pass_wall_times": res["pass_wall_times"], "setup_steal_share": res["setup_steal_share"],
        "cold_pass_s": res["cold_pass_s"], "cold_job_s": res["cold_job_s"],
        "failures": res["failures"],
        "job_s_median": res["job_s_median"],
    }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(res["jobs"]),
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in metrics},
    }))


if __name__ == "__main__":
    main()
