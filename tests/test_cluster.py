"""Executor loss on a multi-executor cluster.

``local-cluster[2,1,1024]`` starts two executor JVMs beside the driver,
so an executor can die while the driver lives on. A query that shares
its work by plan shape, not by a local checkpoint (a block that lives
only in the executor that wrote it), recomputes a lost executor's part
from lineage. The cluster runs in a child process (one SparkContext per
JVM; the test session's ``local[4]`` context is already up), which runs
this file as a script and prints its result as one JSON line.
"""
import glob
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

import pytest

from __spark_entry__ import SF0001

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = os.path.join(os.path.dirname(SF0001), "sf0.01")
CLUSTER = "local-cluster[2,1,1024]"
QUERY = "minhash_lsh_buckets"


def _read(path: str) -> str:
    """A /proc file's text, empty once its thread or process is gone."""
    try:
        with open(path, errors="replace") as f:
            return f.read()
    except FileNotFoundError:
        return ""


def _stat(pid: int) -> list[str]:
    """/proc/PID/stat from the state field on (state, ppid, ...)."""
    return _read(f"/proc/{pid}/stat").rsplit(")", 1)[-1].split()


def _daemon_parent(_):
    """In a Python task: the executor JVM, parent of the worker daemon
    that forked this worker."""
    return int(_stat(os.getppid())[1])


def _executors(driver: int) -> set[int]:
    """The executor JVMs the driver JVM started (its children)."""
    pids = set()
    for path in glob.glob(f"/proc/{driver}/task/*/children"):
        pids.update(int(p) for p in _read(path).split())
    return {p for p in pids
            if "CoarseGrainedExecutorBackend" in _read(f"/proc/{p}/cmdline")}


def _alive(pid: int) -> bool:
    return _stat(pid)[:1] not in ([], ["Z"])


def _digest(rows: list[tuple]) -> tuple[int, str]:
    return len(rows), hashlib.md5(repr(rows).encode()).hexdigest()


def _wait(cond, seconds: float) -> bool:
    deadline = time.time() + seconds
    while not cond():
        if time.time() > deadline:
            return False
        time.sleep(0.1)
    return True


def kill_one_executor_and_collect() -> dict:
    """Build QUERY on the cluster, SIGKILL the executor that runs one
    task of ours, then collect. Stops the session and waits for every
    executor JVM it started to exit."""
    from __spark_entry__ import queries
    from pdfi_spark.pipeline import make_spark

    spark = make_spark("pdfi-cluster-test", master=CLUSTER,
                       shuffle_partitions=4)
    spark.sparkContext.setLogLevel("OFF")
    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def executor_ids() -> set[str]:
        return set(jsc.getExecutorIds().mkString(",").split(",")) - {""}

    driver = sc._gateway.proc.pid
    result: dict = {}
    started: set[int] = set()
    try:
        assert _wait(lambda: len(executor_ids()) == 2, 60)
        df = queries()[QUERY](spark, SF)
        started = _executors(driver)
        victim = sc.parallelize([0], 1).map(_daemon_parent).collect()[0]
        assert victim in started, (victim, started)
        before = executor_ids()
        os.kill(victim, signal.SIGKILL)
        # the driver has dropped the lost executor (a replacement may
        # already have registered under a new id)
        assert _wait(lambda: not before <= executor_ids(), 60)
        result["killed"] = victim
        try:
            result["rows"] = sorted(tuple(r) for r in df.collect())
        except Exception as exc:  # noqa: BLE001 — reported to the test
            result["error"] = str(exc)[:2000]
    finally:
        started |= _executors(driver)
        spark.stop()
        _wait(lambda: not any(_alive(p) for p in started), 60)
        result["executors_left"] = sorted(p for p in started if _alive(p))
    return result


@pytest.fixture(scope="module")
def cluster_result():
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run([sys.executable, os.path.abspath(__file__)],
                          cwd=REPO, env=env, capture_output=True,
                          text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_lost_executor_is_recomputed_from_lineage(spark, cluster_result):
    """With one of two executors SIGKILLed between the build and the
    action, QUERY still returns the ``local[4]`` rows, and every
    executor JVM the cluster started has exited."""
    from __spark_entry__ import queries

    assert "error" not in cluster_result, cluster_result["error"]
    assert cluster_result["executors_left"] == []
    expected = sorted(tuple(r) for r in queries()[QUERY](spark, SF).collect())
    got = sorted(tuple(r) for r in cluster_result["rows"])
    assert got == expected
    assert _digest(got) == _digest(expected)


if __name__ == "__main__":
    print(json.dumps(kill_one_executor_and_collect()))
