#!/usr/bin/env python3
"""Per-metric diff of two benchmark results.

    python3 perfbench/diff.py A.json B.json

Each file is a record written under ``perfbench/.work/results`` or a
file holding the result line ``run.py`` prints last. For every metric in
either file it prints A, B, the ratio B/A and the change in percent;
with ``BENCHMARK.json`` at the checkout root it also marks end-to-end
metrics that got worse by more than their bound.
"""
from __future__ import annotations

import json
import sys
from pathlib import Path


def load(path: str) -> dict[str, tuple[float, str]]:
    text = Path(path).read_text().strip()
    try:
        data = json.loads(text)
    except json.JSONDecodeError:  # a captured stdout: the result is the last line
        data = json.loads(text.splitlines()[-1])
    result = data.get("result", data)
    return {name: (m["value"], m["unit"]) for name, m in result["metrics"].items()}


def bounds() -> dict[str, tuple[str, float]]:
    path = Path(__file__).resolve().parent.parent / "BENCHMARK.json"
    if not path.is_file():
        return {}
    spec = json.loads(path.read_text())
    return {m["name"]: (m["better"], m["bound"]) for m in spec["end_to_end"]}


def diff(a: dict, b: dict, limits: dict) -> list[str]:
    lines = [f"{'metric':<40} {'unit':>7} {'A':>14} {'B':>14} {'B/A':>8} {'change':>8}"]
    for name in sorted(a.keys() | b.keys()):
        va, unit = a.get(name, (None, None))
        vb, unit_b = b.get(name, (None, unit))
        unit = unit or unit_b
        if va is None or vb is None:
            lines.append(f"{name:<40} {unit:>7} {va!s:>14} {vb!s:>14}   only in {'B' if va is None else 'A'}")
            continue
        ratio = vb / va if va else float("nan")
        flag = ""
        if name in limits and va:
            better, bound = limits[name]
            worse = (ratio - 1) if better == "lower" else (1 - ratio)
            flag = "  WORSE THAN BOUND" if worse > bound else ""
        lines.append(f"{name:<40} {unit:>7} {va:>14.6g} {vb:>14.6g} {ratio:>8.3f} "
                     f"{(ratio - 1) * 100:>+7.1f}%{flag}")
    return lines


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    print("\n".join(diff(load(argv[0]), load(argv[1]), bounds())))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
