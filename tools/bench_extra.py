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
passes, noop sink. Prints one JSON line. bench.py itself is FROZEN for
driver measurement; this file exists for optimization evidence only.
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

    timings: dict[str, float] = {}
    for _pass in range(args.trials):
        for name in names:
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            registry[name](spark, sf_dir).write.mode("overwrite") \
                .format("noop").save()
            dt = round(time.time() - t0, 3)
            if name not in timings or dt < timings[name]:
                timings[name] = dt
    spark.stop()
    print(json.dumps({"queries": timings,
                      "total": round(sum(timings.values()), 3),
                      "sf_dir": sf_dir, "trials": args.trials}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
