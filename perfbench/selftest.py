#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale (tables of about sf0.001).

    python3 perfbench/selftest.py

1. Runs every workload once untraced and once traced and checks that the
   result line has exactly the metric names and units ``BENCHMARK.json``
   lists, that every check passed, and that the five ``core.*.us_per_doc``
   layers sum to the untraced per-document time within the reported
   ``core.trace_overhead_share``.
2. Runs once with ``--plant-faults`` (one wrong golden text, one wrong
   expected digest, one duplicated output row) and checks that all three
   show up as failures.

Exits 0 when everything holds. Takes about five minutes on 4 cores.
"""
from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
LAYERS = ("parse", "decode", "interpret", "cluster", "assemble")


def run(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--scale", "tiny", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    expected_units = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []
    for workload in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            record, result = run(workload, trace)
            label = f"{workload} trace={trace}"
            got = {name: m["unit"] for name, m in result["metrics"].items()}
            if got != expected_units[trace]:
                problems.append(f"{label}: metrics/units differ from BENCHMARK.json: "
                                f"{sorted(set(got.items()) ^ set(expected_units[trace].items()))}")
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                problems.append(f"{label}: checks failed: {record['check_notes']}")
            if trace:
                m = {k: v["value"] for k, v in result["metrics"].items()}
                layers_us = sum(m[f"core.{layer}.us_per_doc"] for layer in LAYERS)
                untraced_us = 1e6 / m["core.docs_per_core_s"]
                gap = abs(layers_us / untraced_us - 1)
                print(f"{label}: layers sum {layers_us:.0f} us vs untraced {untraced_us:.0f} us "
                      f"(gap {gap:.3f}, trace overhead {m['core.trace_overhead_share']:.3f})")
                if gap > abs(m["core.trace_overhead_share"]):
                    problems.append(f"{label}: layer sum off by {gap:.3f}, more than the "
                                    f"trace overhead {m['core.trace_overhead_share']:.3f}")
            print(f"{label}: ok, {result['attempted']} checks")

    workload = spec["workloads"][0]["name"]
    record, result = run(workload, 0, "--plant-faults")
    notes = record["check_notes"]
    planted_doc = any(re.search(r"\b[1-9]\d* wrong", n) for n in notes)
    planted_dup = any(re.search(r"\b[1-9]\d* duplicated", n) for n in notes)
    planted_query = any(n.startswith("query ") and "planted" in n for n in notes)
    print(f"planted faults: failed={result['failed']} of {result['attempted']}, "
          f"failed_share={record['failed_share']:.5f}, notes={notes}")
    if result["correct"] or not (planted_doc and planted_dup and planted_query) \
            or record["failed_share"] <= 0:
        problems.append("planted faults were not all counted")

    for p in problems:
        print("FAIL", p)
    print("self-test", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
