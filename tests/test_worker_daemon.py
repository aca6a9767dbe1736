"""The worker daemon ``make_spark`` selects: zipimport directories survive
PySpark's per-task ``importlib.invalidate_caches()`` unless the archive
changed on disk, and a reused worker freezes its imported heap once so
the daemon's post-task ``gc.collect()`` stops walking it. The JVM talks
to the daemon, its workers and the driver's accumulator server over
Unix domain sockets in a fixed short directory."""
import os
import subprocess
import sys

import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_worker_task_does_not_reread_pyspark_zip(spark):
    def probe(batches):
        import importlib
        import sys
        import zipimport

        for _ in batches:
            pass
        importers = [
            imp for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter)
            and os.path.basename(imp.archive) == "pyspark.zip"
        ]
        reads = []
        read_directory = zipimport._read_directory

        def counting_read_directory(archive):
            reads.append(archive)
            return read_directory(archive)

        zipimport._read_directory = counting_read_directory
        try:
            importlib.invalidate_caches()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        yield pd.DataFrame({"importers": [len(importers)],
                            "reads": [len(reads)]})

    row = (spark.range(1, numPartitions=1)
           .mapInPandas(probe, "importers long, reads long").first())
    if row["importers"] == 0:
        pytest.skip("the Python workers import pyspark unzipped, "
                    "so no zipimporter over pyspark.zip exists")
    assert row["reads"] == 0


SEMANTICS_SCRIPT = r"""
import importlib
import sys
import zipfile
import zipimport

original = zipimport.zipimporter.invalidate_caches
from pdfi_spark import _worker_daemon
# importing the module (as the driver does) must not patch anything
assert zipimport.zipimporter.invalidate_caches is original
_worker_daemon.install()

archive = sys.argv[1]


def write_archive(*names):
    with zipfile.ZipFile(archive, "w") as zf:
        for name in names:
            zf.writestr(name + ".py", "NAME = %r\n" % name)


write_archive("zmod_a")
sys.path.insert(0, archive)
import zmod_a

reads = []
read_directory = zipimport._read_directory


def counting_read_directory(path):
    reads.append(path)
    return read_directory(path)


zipimport._read_directory = counting_read_directory
importlib.invalidate_caches()
importlib.invalidate_caches()
assert reads == [], reads

# the addPyFile / spark.submit.pyFiles update: the archive is rewritten
write_archive("zmod_a", "zmod_b")
importlib.invalidate_caches()
assert reads == [archive], reads
import zmod_b

assert zmod_b.NAME == "zmod_b"
print("ok")
"""


def test_daemon_wrap_rereads_only_changed_archives(tmp_path):
    archive = str(tmp_path / "pyfiles.zip")
    proc = subprocess.run(
        [sys.executable, "-c", SEMANTICS_SCRIPT, archive],
        cwd=REPO, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.strip() == "ok"


def test_reused_worker_freezes_its_imported_heap(spark):
    def probe(batches):
        import gc

        for _ in batches:
            pass
        yield pd.DataFrame({"frozen": [gc.get_freeze_count()],
                            "tracked": [len(gc.get_objects())]})

    # the first probe may start a worker; every later one reuses an idle
    # worker that has run at least one task, so the last is its task >= 2
    # (collect, not first: a task whose output is read to the end
    # releases its worker for reuse)
    for _ in range(3):
        [row] = (spark.range(1, numPartitions=1)
                 .mapInPandas(probe, "frozen long, tracked long").collect())
    assert row["frozen"] > 0
    assert row["tracked"] < row["frozen"] / 10, row


FREEZE_SCRIPT = r"""
import gc
import weakref

from pyspark import daemon

original = daemon.worker_main
from pdfi_spark import _worker_daemon
# importing the module (as the driver does) must not wrap anything
assert daemon.worker_main is original

calls = []
real_freeze = gc.freeze
gc.freeze = lambda: calls.append(1) or real_freeze()
run = _worker_daemon.freeze_after_first_task(lambda task: task())


class Node:
    pass


def make_cycle():
    a, b = Node(), Node()
    a.other, b.other = b, a
    return weakref.ref(a)


seen = []
probe = lambda: seen.append(gc.get_freeze_count())
run(probe)
assert (calls, seen) == ([], [0]), (calls, seen)  # task 1 runs unfrozen
run(probe)
assert len(calls) == 1 and seen[1] > 0, (calls, seen)  # task 2 runs frozen
cycles = []
run(lambda: cycles.append(make_cycle()))
run(probe)
assert len(calls) == 1, calls  # and never freezes again
# a cycle made in task 3 is still reclaimed by the collector
assert cycles[0]() is not None
gc.collect()
assert cycles[0]() is None
print("ok")
"""


def test_freeze_once_at_the_second_task():
    proc = subprocess.run(
        [sys.executable, "-c", FREEZE_SCRIPT],
        cwd=REPO, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.strip() == "ok"


DECOY_SCRIPT = r"""
import sys

sys.path.insert(0, sys.argv[1])
import pdfi_spark
from pdfi_spark.pipeline import make_spark

assert pdfi_spark.__file__.startswith(sys.argv[1]), pdfi_spark.__file__
spark = make_spark("decoy-probe", master="local[1]")
n = spark.range(4, numPartitions=1).mapInPandas(lambda it: it, "id long").count()
spark.stop()
print(n)
"""


def test_workers_ignore_a_daemon_in_the_working_directory(tmp_path):
    """A driver whose working directory holds another ``pdfi_spark``
    (say, a second checkout) still starts its workers on the daemon of
    the package it imported: ``python -m`` would put the working
    directory first on the workers' ``sys.path``."""
    decoy = tmp_path / "cwd" / "pdfi_spark"
    decoy.mkdir(parents=True)
    (decoy / "__init__.py").write_text("")
    (decoy / "_worker_daemon.py").write_text(
        "raise SystemExit('decoy daemon imported')\n")
    script = tmp_path / "probe.py"
    script.write_text(DECOY_SCRIPT)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [sys.executable, str(script), REPO],
        cwd=decoy.parent, env=env, capture_output=True, text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert proc.stdout.strip().splitlines()[-1] == "4"


def test_workers_talk_to_the_jvm_over_a_unix_domain_socket(spark):
    def probe(batches):
        for _ in batches:
            pass
        yield pd.DataFrame({"uds": [os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED")]})

    [row] = spark.range(1, numPartitions=1).mapInPandas(probe, "uds string").collect()
    # the JVM writes the flag capitalised ("True"); pyspark.daemon lower-cases it
    assert (row["uds"] or "").lower() == "true", row


LONG_TMPDIR_SCRIPT = r"""
import os
import sys
import time

sys.path.insert(0, sys.argv[1])
import pandas as pd
from pdfi_spark.pipeline import make_spark

spark = make_spark("uds-long-tmpdir", master="local[2]")
sock_dir = spark.conf.get("spark.python.unix.domain.socket.dir")
tmpdir = spark.sparkContext._jvm.java.lang.System.getProperty("java.io.tmpdir")
assert tmpdir == os.environ["TMPDIR"], (tmpdir, os.environ["TMPDIR"])


def socks():
    return {f for f in os.listdir(sock_dir) if f.endswith(".sock")}


accumulator_sock = spark.sparkContext._accumulatorServer.server_address
assert os.path.dirname(accumulator_sock) == sock_dir, accumulator_sock
before = socks()
df = spark.range(8, numPartitions=2)
assert df.mapInPandas(lambda it: it, "id long").count() == 8
assert df.mapInArrow(lambda it: it, "id long").count() == 8
assert df.toPandas()["id"].sum() == 28
frame = spark.createDataFrame(pd.DataFrame({"x": [1, 2, 3]}))
assert frame.mapInPandas(lambda it: it, frame.schema).toPandas()["x"].sum() == 6
acc = spark.sparkContext.accumulator(0)
spark.sparkContext.parallelize(range(10), 2).foreach(lambda x: acc.add(x))
assert acc.value == 45, acc.value
# this session's sockets: the accumulator server's and those of the
# daemons its Python tasks started
ours = socks() - before | {os.path.basename(accumulator_sock)}
assert len(ours) >= 2, ours
spark.stop()
# the JVM stops the daemon with SIGTERM and does not wait for it, so the
# daemon removes its socket shortly after stop() returns
deadline = time.monotonic() + 10
while ours & socks() and time.monotonic() < deadline:
    time.sleep(0.1)
assert not ours & socks(), ours & socks()
print("ok")
"""


def test_socket_path_fits_whatever_the_tmpdir(tmp_path):
    """``java.io.tmpdir`` and ``TMPDIR`` far longer than any benchmark run
    directory: the socket paths must not be built from them, or they pass
    AF_UNIX's 107-byte cap and the session fails to start."""
    long_dir = str(tmp_path) + "/"
    long_dir += "t" * (100 - len(long_dir))
    os.makedirs(long_dir)
    assert len(long_dir) >= 90
    script = tmp_path / "probe.py"
    script.write_text(LONG_TMPDIR_SCRIPT)
    env = dict(os.environ, TMPDIR=long_dir)
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={long_dir} "
        "pyspark-shell")
    proc = subprocess.run(
        [sys.executable, str(script), REPO],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert proc.stdout.strip().splitlines()[-1] == "ok"


STOP_SCRIPT = r"""
import sys

sys.path.insert(0, sys.argv[1])
from pdfi_spark.pipeline import make_spark

for i in range(5):
    spark = make_spark(f"stop-{i}", master="local[8]")
    df = spark.range(32, numPartitions=32)
    assert df.mapInPandas(lambda it: it, "id long").count() == 32
    spark.stop()
print("ok")
"""


def test_session_stop_leaves_no_broken_pipe(tmp_path):
    """At ``spark.stop()`` the JVM closes the sockets of its idle reused
    workers. Each such worker reads EOF before a task's first byte and
    must exit cleanly: reported as a failed task, its write to the
    closed Unix socket fails and the daemon prints a ``BrokenPipeError``
    traceback (about one per stop of a session whose 8 workers are idle
    at stop, with the stock task function)."""
    script = tmp_path / "stops.py"
    script.write_text(STOP_SCRIPT)
    env = dict(os.environ)
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [sys.executable, str(script), REPO],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert proc.stdout.strip().splitlines()[-1] == "ok"
    assert "BrokenPipeError" not in proc.stderr, proc.stderr[-4000:]
    assert "Traceback" not in proc.stderr, proc.stderr[-4000:]
