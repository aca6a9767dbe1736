#!/usr/bin/env python
"""Per-query noop-sink isolation bench (guide §1.4) — times any subset
of the registered queries (``__spark_entry__.queries()``) without the
full-run wall clock, so each optimization's before/after lands on the
query it touched.

Usage:
    python tools/bench_extra.py q1 q2 ...      # named queries
    python tools/bench_extra.py --all          # every registered query
    python tools/bench_extra.py --trials 3 q1  # more trials

Same methodology as bench.py: reads $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1), local[$SPARK_GRAFT_CPUS], best-of-N interleaved
passes, noop sink. Each query's time is split into its build (calling
the query function), the Spark jobs launched while building (an eager
checkpoint or a collected scalar) and its action (the noop write), so a
change that moves work from the build into the action shows where the
time went. Prints one JSON line: per query the min over the passes of
``build_s``, ``action_s`` and ``s`` (their sum in one pass), and
``build_jobs``. bench.py itself is FROZEN for driver measurement; this
file exists for optimization evidence only.
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from __spark_entry__ import queries  # noqa: E402
from pdfi_spark.pipeline import make_spark  # noqa: E402


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--trials", type=int, default=2)
    return ap.parse_args(argv)


def selected(args: argparse.Namespace) -> list[str]:
    """The query names to time: every registered query for ``--all``."""
    return list(queries()) if args.all else args.names


def main() -> int:
    args = parse_args()
    names = selected(args)
    registry = queries()
    unknown = [n for n in names if n not in registry]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = make_spark("pdfi-bench-extra", master=f"local[{cpus}]",
                       shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    listener_bus = sc._jsc.sc().listenerBus()
    timings: dict[str, dict] = {}
    for trial in range(args.trials):
        for name in names:
            group = f"bench_extra:{trial}:{name}"
            sc.setJobGroup(group, f"bench_extra:{name}")
            t0 = time.time()
            df = registry[name](spark, sf_dir)
            build_s = time.time() - t0
            listener_bus.waitUntilEmpty()
            build_jobs = len(tracker.getJobIdsForGroup(group))
            t0 = time.time()
            df.write.mode("overwrite").format("noop").save()
            action_s = time.time() - t0
            run = {"build_s": round(build_s, 3), "build_jobs": build_jobs,
                   "action_s": round(action_s, 3),
                   "s": round(build_s + action_s, 3)}
            best = timings.setdefault(name, run)
            for key in ("build_s", "action_s", "s"):
                best[key] = min(best[key], run[key])
    spark.stop()
    print(json.dumps({"queries": timings,
                      "total": round(sum(t["s"] for t in timings.values()), 3),
                      "sf_dir": sf_dir, "trials": args.trials}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
