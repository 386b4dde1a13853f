"""Tracing for the benchmark: spans, layer wrappers, /proc and event-log readers.

Spans are recorded from the benchmark's own files: ``install`` wraps each
layer's public functions at runtime (module attributes are replaced, so
callers that resolve ``module.fn`` at call time see the wrapper). Spans
live in memory and are written out once, at the end of a run.
"""

from __future__ import annotations

import glob
import inspect
import json
import os
import sys
import time
from collections import Counter, defaultdict
from collections.abc import Callable

PKG = "mapreduce_big_data_processing_spark"

#: operator modules whose calls and self time are reported one by one
OPERATOR_MODULES = (
    "relational", "windows", "text", "ml", "dedup", "similarity",
    "textstats", "curation", "graph",
)


class Tracer:
    """In-memory spans with parent links; self time is a span's duration
    minus the part its child spans cover."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.counts: Counter = Counter()
        self.job: str | None = None
        self.enabled = False

    def start(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append({
            "name": name, "start": time.perf_counter(), "end": None,
            "parent": parent, "job": self.job, "child_s": 0.0,
        })
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        span = self.spans[idx]
        span["end"] = time.perf_counter()
        self._stack.pop()
        if span["parent"] is not None:
            self.spans[span["parent"]]["child_s"] += span["end"] - span["start"]

    def layer_of_parent(self) -> str | None:
        return self.spans[self._stack[-1]]["name"].split(":")[0] if self._stack else None

    def inside(self, layer: str) -> bool:
        return any(self.spans[i]["name"].split(":")[0] == layer for i in self._stack)

    def wrap(self, layer: str, fn: Callable) -> Callable:
        name = f"{layer}:{fn.__name__}"

        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            if self.layer_of_parent() != layer:
                self.counts[f"{layer}.calls"] += 1
            idx = self.start(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(idx)

        wrapper.__wrapped__ = fn
        wrapper.__name__ = fn.__name__
        return wrapper

    def self_times(self, since: int = 0) -> dict[str, float]:
        """Per-layer self time over spans[since:] (layer = name before ':')."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans[since:]:
            if s["end"] is not None:
                out[s["name"].split(":")[0]] += s["end"] - s["start"] - s["child_s"]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s["name"], "start": s["start"], "end": s["end"],
                    "parent": s["parent"], "job": s["job"],
                }) + "\n")


def _public_functions(mod) -> list[tuple[str, Callable]]:
    return [
        (n, f) for n, f in vars(mod).items()
        if not n.startswith("_") and inspect.isfunction(f) and f.__module__ == mod.__name__
    ]


def install(tracer: Tracer) -> None:
    """Wrap every public function of the traced layers, everywhere the
    package holds a reference to it (module globals included, so calls
    inside a layer are spanned too)."""
    import importlib

    layers = {f"operators.{m}": f"{PKG}.operators.{m}" for m in OPERATOR_MODULES}
    layers.update({
        "session": f"{PKG}.session",
        "catalog": f"{PKG}.catalog",
        "plans.iterate": f"{PKG}.plans.iterate",
    })
    replace: dict[int, Callable] = {}
    for layer, modname in layers.items():
        mod = importlib.import_module(modname)
        for _, fn in _public_functions(mod):
            if layer == "plans.iterate":
                w = tracer.wrap(layer, _count_rounds(tracer, fn))
            elif layer == "catalog" and fn.__name__ == "load":
                w = tracer.wrap(layer, _count_load_hits(tracer, fn, mod))
            else:
                w = tracer.wrap(layer, fn)
            replace[id(fn)] = w
    importlib.import_module(f"{PKG}.queries")
    for modname, mod in list(sys.modules.items()):
        if not modname.startswith(PKG) or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if id(val) in replace and inspect.isfunction(val):
                setattr(mod, attr, replace[id(val)])

    # the classic (py4j) DataFrame overrides the abstract one's method
    from pyspark.sql.classic.dataframe import DataFrame

    orig_cp = DataFrame.localCheckpoint

    def local_checkpoint(self, *args, **kwargs):
        if tracer.enabled and tracer.inside("plans.iterate"):
            tracer.counts["plans.iterate.checkpoints"] += 1
        return orig_cp(self, *args, **kwargs)

    DataFrame.localCheckpoint = local_checkpoint


def _count_rounds(tracer: Tracer, fn: Callable) -> Callable:
    """plans.iterate drivers take ``step`` second; count each call of it."""

    def run(state, step, *args, **kwargs):
        def counted(s, i):
            if tracer.enabled:
                tracer.counts["plans.iterate.rounds"] += 1
            return step(s, i)

        return fn(state, counted, *args, **kwargs)

    run.__name__ = fn.__name__
    return run


def _count_load_hits(tracer: Tracer, fn: Callable, catalog) -> Callable:
    """catalog.load memoizes plans per (app, dir, table): count memo hits."""

    def run(spark, name, sf_dir=catalog.DEFAULT_SF_DIR):
        if tracer.enabled:
            key = (spark.sparkContext.applicationId, sf_dir, name)
            if key in catalog._LOAD_CACHE:
                tracer.counts["catalog.load_hits"] += 1
        return fn(spark, name, sf_dir)

    run.__name__ = fn.__name__
    return run


# ---------------------------------------------------------------------------
# /proc readers
# ---------------------------------------------------------------------------

def _children(pid: int) -> list[int]:
    out = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as f:
                out += [int(p) for p in f.read().split()]
        except OSError:
            pass
    return out


def process_tree(pid: int) -> list[int]:
    pids, todo = [], [pid]
    while todo:
        p = todo.pop()
        pids.append(p)
        todo += _children(p)
    return pids


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_seconds(pid: int) -> float:
    """utime + stime of the process and of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    ticks = sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_cpu_seconds(pid: int) -> float:
    return sum(cpu_seconds(p) for p in process_tree(pid))


def steal_seconds() -> float:
    """CPU seconds the hypervisor gave to other guests (all vCPUs, since boot)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()  # cpu user nice system idle iowait irq softirq steal
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class StealClock:
    """Wall time net of hypervisor steal: an interval of ``w`` seconds in
    which a share ``s`` of the machine's CPU time was stolen counts as
    ``w * (1 - s)``, the time the same work takes when no other guest
    shares the host. On a dedicated machine steal is 0 and this is the
    wall clock."""

    def __init__(self) -> None:
        self.ncpu = os.cpu_count() or 1

    def now(self) -> tuple[float, float]:
        return time.perf_counter(), steal_seconds()

    def net(self, start: tuple[float, float]) -> tuple[float, float]:
        """(net seconds, stolen share) since ``start``."""
        t1, s1 = self.now()
        wall = t1 - start[0]
        share = min(max((s1 - start[1]) / (wall * self.ncpu), 0.0), 1.0) if wall > 0 else 0.0
        return wall * (1 - share), share


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def read_event_log(log_dir: str, app_id: str) -> list[dict]:
    """Events of one application (uncompressed, rolled or single file)."""
    files = sorted(glob.glob(os.path.join(log_dir, f"*{app_id}*", "events_*"))) or sorted(
        p for p in glob.glob(os.path.join(log_dir, f"*{app_id}*")) if os.path.isfile(p)
    )
    if not files:
        raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")
    events = []
    for path in files:
        with open(path) as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


def event_counters(events: list[dict], t0_ms: float, t1_ms: float) -> dict[str, float]:
    """Sum task and stage counters over the jobs submitted in [t0_ms, t1_ms]
    (epoch ms). The benchmark is the only client, so the window attributes
    the jobs of the traced passes, streaming micro-batches included."""
    stages_of_job: dict[int, list[int]] = {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            if t0_ms <= e.get("Submission Time", 0) <= t1_ms:
                stages_of_job[e["Job ID"]] = e.get("Stage IDs", [])
    stages = {s for ids in stages_of_job.values() for s in ids}
    c: dict[str, float] = dict.fromkeys((
        "spark.tasks", "spark.failed_tasks", "spark.executor_run_s", "spark.executor_cpu_s",
        "spark.gc_s", "spark.spill_bytes", "spark.shuffle_write_bytes",
        "spark.shuffle_read_bytes", "spark.input_bytes",
    ), 0.0)
    c["spark.jobs"] = len(stages_of_job)
    run_ms: dict[int, list[int]] = defaultdict(list)
    ran_stages = set()
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerTaskEnd" and e.get("Stage ID") in stages:
            ran_stages.add(e["Stage ID"])
            c["spark.tasks"] += 1
            if e.get("Task End Reason", {}).get("Reason") != "Success":
                c["spark.failed_tasks"] += 1
            m = e.get("Task Metrics") or {}
            run_ms[e["Stage ID"]].append(m.get("Executor Run Time", 0))
            c["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            c["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            c["spark.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            c["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            c["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            c["spark.input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    c["spark.stages"] = len(ran_stages)
    skews = [
        max(v) / max(sorted(v)[len(v) // 2], 1) for v in run_ms.values() if len(v) >= 2
    ]
    c["spark.stage_skew_max"] = max(skews, default=1.0)
    return c
