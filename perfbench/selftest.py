#!/usr/bin/env python3
"""Smoke-size self-test of the benchmark.

    python3 perfbench/selftest.py [--seconds 1] [workload ...]

For every workload (those of ``BENCHMARK.json`` and ``mor_read_mix``, which
runs by hand only) it runs the benchmark untraced and traced at a tiny size
and checks that:

* the last line of standard output is the result object, with
  ``correct`` true and no failed operations;
* the untraced run emits exactly the ``end_to_end`` metrics of
  ``BENCHMARK.json`` and the traced run exactly its ``per_layer`` metrics,
  each with the declared unit;
* on ``bulk_catchup`` and ``trickle_tail``, the traced run's named spans
  plus ``streaming.driver_gap_s`` cover at least 95% of the summed trigger
  wall.

It also checks that the benchmark exits non-zero without printing a result
when the engine package is absent. Exits 0 when every check passes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

import workloads as W

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COVERAGE_MIN = 0.95
COVERED = ("bulk_catchup", "trickle_tail")


def _bench(cwd: str, workload: str, seconds: int, trace: int) -> tuple[int, list[str]]:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


def _check_run(spec: dict, workload: str, seconds: int, trace: int) -> list[str]:
    code, lines = _bench(ROOT, workload, seconds, trace)
    where = f"{workload} trace={trace}"
    if code != 0 or not lines:
        return [f"{where}: exit code {code}"]
    res = json.loads(lines[-1])
    problems = []
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        problems.append(f"{where}: result keys {sorted(res)}")
    if res["correct"] is not True or res["failed"] != 0 or res["attempted"] < 1:
        problems.append(f"{where}: correct={res['correct']} failed={res['failed']} "
                        f"attempted={res['attempted']}")
    declared = spec["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v.get("unit") for k, v in res["metrics"].items()}
    if got != want:
        problems.append(f"{where}: metrics differ from BENCHMARK.json: "
                        f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                        f"unit mismatches {sorted(k for k in want if k in got and got[k] != want[k])}")
    for k, v in res["metrics"].items():
        if not isinstance(v.get("value"), (int, float)):
            problems.append(f"{where}: {k} value {v.get('value')!r}")
    if trace and workload in COVERED:
        cov = res["metrics"].get("streaming.trace_coverage_frac", {}).get("value", 0.0)
        if cov < COVERAGE_MIN:
            problems.append(f"{where}: spans + driver gap cover {cov:.3f} of trigger wall")
    return problems


def _check_without_engine(workload: str) -> list[str]:
    """A checkout holding only BENCHMARK.json and perfbench/ must fail."""
    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, lines = _bench(bare, workload, 1, 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or any(line.startswith("{") for line in lines):
        return [f"without the engine: exit code {code}, output {lines[-1:]}"]
    return []


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=int, default=1)
    ap.add_argument("workloads", nargs="*")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = args.workloads or list(W.WORKLOADS)
    problems = _check_without_engine(names[0])
    for name in names:
        for trace in (0, 1):
            found = _check_run(spec, name, args.seconds, trace)
            print(f"{name} trace={trace}: {'ok' if not found else 'FAILED'}", flush=True)
            problems.extend(found)
    for p in problems:
        print("FAIL", p)
    print("selftest", "passed" if not problems else f"failed ({len(problems)} problems)")
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
