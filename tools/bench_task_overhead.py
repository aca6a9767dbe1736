#!/usr/bin/env python
"""Fixed cost of one Spark task on each side of the engine/Python boundary.

Runs identity passes on a ``make_spark`` session at ``local[nproc]``: a
``mapInPandas``, a ``mapInArrow`` and a JVM-only pass (no Python), each
over ``spark.range`` at 4 and 64 partitions, written to the ``noop``
sink. Per pass it reports the wall time and, per task, the CPU time of
the JVM and of the Python workers (the daemon and every worker it
forked), as the median over ``--repeat`` runs after one warm-up run.

The CPU times are utime + stime from ``/proc/<pid>/stat`` of this
process's own descendants, read before and after each pass: the
``java`` child is the JVM, the Python processes under it are the
workers. A worker that exits during a pass takes its CPU time with it;
with worker reuse (Spark's default) workers live across passes. The
tool only reads ``/proc``.

Beside the CPU it reports each Python pass's per-task wall time on the
engine side: the median over the measured runs' tasks of the SQL metric
"time to run Python workers", read from the session's own event log
(written to a temporary directory and removed at exit). Wall time that
neither CPU column accounts for is time both sides spent waiting.

Run: python tools/bench_task_overhead.py [--partitions 4,64] [--repeat 5]
"""
from __future__ import annotations

import argparse
import os
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(1, os.path.join(ROOT, "perfbench"))

TICK_MS = 1000.0 / os.sysconf("SC_CLK_TCK")
# the daemon's post-task gc.collect() runs after the task's result has
# reached the JVM, so the job can finish before the workers go idle: the
# JVM is read when the job ends, the workers once they have settled
SETTLE_S = 0.25


def _stat(pid: int) -> tuple[str, int, int] | None:
    """(comm, starttime, utime + stime in ticks) of a live process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is stat field 3 (state): utime/stime are 14/15, starttime 22
    return comm, int(fields[19]), int(fields[11]) + int(fields[12])


def _children(pid: int) -> list[int]:
    kids = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return kids
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids += [int(k) for k in f.read().split()]
        except OSError:
            pass
    return kids


def cpu_snapshot() -> dict[str, dict[tuple[int, int], int]]:
    """CPU ticks of this process's descendants, keyed (pid, starttime)
    so a reused pid never matches, grouped as "jvm" and "python"."""
    out = {"jvm": {}, "python": {}}
    stack = [(pid, None) for pid in _children(os.getpid())]
    while stack:
        pid, side = stack.pop()
        st = _stat(pid)
        if st is None:
            continue
        comm, start, ticks = st
        if side is None and comm == "java":
            side = "jvm"
        elif side == "jvm" and comm.startswith("python"):
            side = "python"
        if side is not None:
            out[side][(pid, start)] = ticks
        stack += [(kid, side) for kid in _children(pid)]
    return out


def cpu_ms(before: dict, after: dict, side: str) -> float:
    # a process born during the pass started from 0 ticks
    return TICK_MS * sum(t - before[side].get(key, 0)
                         for key, t in after[side].items())


def python_ms_per_task(events: list[dict]) -> dict[str, float]:
    """Median "time to run Python workers" (ms) per task, keyed by the job
    description of the pass the task ran in."""
    stage_desc: dict[int, str] = {}
    per_desc: dict[str, list[float]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            for sid in ev.get("Stage IDs", []):
                stage_desc[sid] = desc
        elif kind == "SparkListenerTaskEnd" and stage_desc.get(ev["Stage ID"]):
            for acc in ev["Task Info"].get("Accumulables", []):
                if acc.get("Name") == "time to run Python workers":
                    per_desc.setdefault(stage_desc[ev["Stage ID"]], []).append(
                        float(acc["Update"]))
    return {desc: statistics.median(ms) for desc, ms in per_desc.items()}


def measure(args) -> list[tuple[str, int, float, float, float]]:
    """(pass, partitions, wall s, JVM CPU ms/task, Python-worker CPU
    ms/task) per pass. Each measured run's jobs carry the description
    ``pass/partitions``; the warm-up run's carry none."""
    from pdfi_spark.pipeline import make_spark

    nproc = len(os.sched_getaffinity(0))
    spark = make_spark("bench-task-overhead", master=f"local[{nproc}]")
    spark.sparkContext.setLogLevel("ERROR")

    def identity(batches):
        yield from batches

    kinds = {
        "mapInPandas": lambda df: df.mapInPandas(identity, df.schema),
        "mapInArrow": lambda df: df.mapInArrow(identity, df.schema),
        "jvm_only": lambda df: df,
    }
    rows = []
    try:
        for n in (int(p) for p in args.partitions.split(",")):
            for kind, build in kinds.items():
                df = build(spark.range(n * args.rows_per_partition,
                                       numPartitions=n))
                walls, jvm, py = [], [], []
                for run in range(args.repeat + 1):
                    spark.sparkContext.setJobDescription(
                        f"{kind}/{n}" if run else None)
                    before = cpu_snapshot()
                    t0 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    wall = time.perf_counter() - t0
                    done = cpu_snapshot()
                    time.sleep(SETTLE_S)
                    settled = cpu_snapshot()
                    if run == 0:
                        continue
                    walls.append(wall)
                    jvm.append(cpu_ms(before, done, "jvm") / n)
                    py.append(cpu_ms(before, settled, "python") / n)
                rows.append((kind, n, statistics.median(walls),
                             statistics.median(jvm), statistics.median(py)))
                print(f"{kind} at {n} partitions done", file=sys.stderr, flush=True)
    finally:
        spark.stop()
    return rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--partitions", default="4,64")
    ap.add_argument("--repeat", type=int, default=5)
    ap.add_argument("--rows-per-partition", type=int, default=256)
    args = ap.parse_args()

    from tracing import read_event_log

    with tempfile.TemporaryDirectory(prefix="task-overhead-eventlog-") as log_dir:
        # passed at JVM launch, ahead of any submit arguments already set
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file:{log_dir} "
            + os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell"))
        rows = measure(args)
        # the log is complete once the session has stopped
        python_ms = python_ms_per_task(read_event_log(log_dir))

    print(f"local[{len(os.sched_getaffinity(0))}], {args.rows_per_partition} rows "
          f"per partition, median of {args.repeat} runs after a warm-up")
    print("| pass | partitions | wall s | JVM CPU ms/task "
          "| Python-worker CPU ms/task | time to run Python workers ms/task |")
    print("|---|---|---|---|---|---|")
    for kind, n, wall, jvm_ms, py_ms in rows:
        run_ms = python_ms.get(f"{kind}/{n}")
        run_col = "-" if run_ms is None else f"{run_ms:.1f}"
        print(f"| {kind} | {n} | {wall:.3f} | {jvm_ms:.1f} | {py_ms:.1f} | {run_col} |")


if __name__ == "__main__":
    main()
