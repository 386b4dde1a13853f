"""Steadiness record: run every workload on several seeds and report, per
end-to-end metric, the spread of its values (distance between first and
third quartile, as a share of the median) against the metric's bound.

    python3 perfbench/steadiness.py --runs 10 [--first-seed 101] [--workload star_logs]

Run from the repository root. Prints a markdown table; raw results go to
``.bench_work/steadiness.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def main() -> None:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--workload", action="append", default=None)
    a = ap.parse_args()
    os.makedirs(".bench_work", exist_ok=True)
    log = open(os.path.join(".bench_work", "steadiness.jsonl"), "a")
    rows = []
    for w in a.workload or [x["name"] for x in bench["workloads"]]:
        vals: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
        walls, failed = [], 0
        for i in range(a.runs):
            seed = a.first_seed + i
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                 "--trace", "0"],
                capture_output=True, text=True, timeout=900,
            )
            walls.append(time.time() - t0)
            if p.returncode != 0:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-1500:]}",
                      file=sys.stderr)
                failed += 1
                continue
            *_, detail, last = p.stdout.strip().splitlines()
            res = json.loads(last)
            log.write(json.dumps({"workload": w, "seed": seed, "wall_s": walls[-1],
                                  "detail": json.loads(detail), **res}) + "\n")
            log.flush()
            failed += res["failed"] > 0
            for k in vals:
                vals[k].append(res["metrics"][k]["value"])
            print(f"{w} seed {seed}: {walls[-1]:.0f} s "
                  + " ".join(f"{k}={v[-1]:.4g}" for k, v in vals.items()), flush=True)
        for m in bench["end_to_end"]:
            v = vals[m["name"]]
            if len(v) >= 2:
                s = spread(v)
                rows.append((w, m["name"], statistics.median(v), s, m["bound"], len(v)))
        print(f"{w}: median run wall {statistics.median(walls):.1f} s, "
              f"{failed} run(s) with failures", flush=True)
    print("\n| workload | metric | median | spread (IQR/median) | bound | spread/bound | runs |")
    print("|---|---|---|---|---|---|---|")
    for w, name, med, s, bound, n in rows:
        print(f"| {w} | {name} | {med:.4g} | {s:.3f} | {bound} | {s / bound:.2f} | {n} |")


if __name__ == "__main__":
    main()
