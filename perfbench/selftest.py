#!/usr/bin/env python3
"""Smoke self-test of the benchmark.

Runs every workload at the smoke size (tables at sf0.001, a short tail)
with tracing off and on, and checks that each run exits 0, reports
correct output with no failures, and prints exactly the metrics
``BENCHMARK.json`` names, each with its unit. Then checks that the
benchmark exits non-zero, printing no result, in a directory holding
only ``BENCHMARK.json`` and ``perfbench/``.

Usage, from the repository root: python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(cwd: str, workload: str, trace: int) -> tuple[int, str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "3", "--trace", str(trace),
         "--scale", "smoke"],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines[-1] if lines else ""


def main() -> int:
    sys.path.insert(0, HERE)
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []
    if want[0] != run.E2E_UNITS:
        problems.append("BENCHMARK.json end_to_end != run.E2E_UNITS")
    if want[1] != run.layer_units():
        problems.append("BENCHMARK.json per_layer != run.layer_units()")
    for w in spec["workloads"]:
        for trace in (0, 1):
            before = len(problems)
            code, last = _run(ROOT, w["name"], trace)
            tag = f"{w['name']} --trace {trace}"
            if code != 0:
                problems.append(f"{tag}: exit {code}")
                continue
            res = json.loads(last)
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: incorrect result {res}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace]:
                wrong = sorted(k for k in got if k in want[trace]
                               and want[trace][k] != got[k])
                problems.append(
                    f"{tag}: metrics differ: missing "
                    f"{sorted(set(want[trace]) - set(got))}, extra "
                    f"{sorted(set(got) - set(want[trace]))}, units {wrong}"
                )
            print("ok  " if len(problems) == before else "FAIL", tag,
                  flush=True)

    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        code, last = _run(bare, spec["workloads"][0]["name"], 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or last.startswith("{"):
        problems.append(f"no engine sources: exit {code}, output {last!r}")

    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
