"""Benchmark self-test: a tiny-size smoke run of every workload, untraced
and traced, checking that every metric in BENCHMARK.json is printed with
its unit and that the result line has exactly the contract keys.

    python3 perfbench/selftest.py [--mult 0.02] [--workload star_logs ...]

Run from the repository root. Exits 1 on the first broken result.
"""

from __future__ import annotations

import argparse
import json
import numbers
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def check(line: str, expected: dict[str, str]) -> list[str]:
    res = json.loads(line)
    errs = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"result keys {sorted(res)}")
    if not (isinstance(res.get("attempted"), int) and res["attempted"] >= 1):
        errs.append(f"attempted {res.get('attempted')!r}")
    if not isinstance(res.get("failed"), int):
        errs.append(f"failed {res.get('failed')!r}")
    got = res.get("metrics", {})
    if set(got) != set(expected):
        errs.append(f"metric names differ: {sorted(set(got) ^ set(expected))}")
    for name, unit in expected.items():
        m = got.get(name, {})
        if m.get("unit") != unit:
            errs.append(f"{name}: unit {m.get('unit')!r}, expected {unit!r}")
        if not isinstance(m.get("value"), numbers.Real) or isinstance(m.get("value"), bool):
            errs.append(f"{name}: value {m.get('value')!r}")
    return errs


def main() -> None:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=float, default=0.02)
    ap.add_argument("--workload", action="append",
                    default=None, choices=[w["name"] for w in bench["workloads"]])
    a = ap.parse_args()
    expected = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    bad = 0
    for w in a.workload or [w["name"] for w in bench["workloads"]]:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", "1", "--seconds", "1", "--trace", str(trace),
                   "--mult", str(a.mult)]
            p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            lines = p.stdout.strip().splitlines()
            errs = [f"exit code {p.returncode}"] if p.returncode else []
            if lines:
                errs += check(lines[-1], expected[trace])
            else:
                errs.append("no output")
            status = "ok  " if not errs else "FAIL"
            print(f"{status} {w} trace={trace} {'; '.join(errs)}", flush=True)
            if errs:
                bad += 1
                print(p.stderr[-2000:], file=sys.stderr)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
