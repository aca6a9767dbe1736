"""Spark Python worker daemon that cuts the fixed cost of each Python task.

``make_spark`` selects this module as ``spark.python.daemon.module``; Spark
starts it with ``python -m`` and it hands over to
``pyspark.daemon.manager()``, which forks the workers.

A reused worker paid two fixed costs per task with the stock daemon, one
inside ``pyspark.worker.main`` and one after it returns:

1. The zip re-read. PySpark's worker calls ``importlib.invalidate_caches()``
   at the start of every task (``pyspark.worker_util.setup_spark_files``).
   On Python 3.11 that makes every ``zipimport.zipimporter`` re-read its
   archive's central directory — about 16 importers over the 1,328-entry
   ``pyspark.zip``, so each task re-parsed the archive about 16 times:
   an identity ``mapInPandas`` task spent a median 0.21 s in
   ``worker.main`` (0.04 s without the re-read) for ~1 ms of user code.
   Before the manager starts, ``install()`` wraps the directory reader to
   remember each archive's ``(st_mtime_ns, st_size)`` at the time it was
   read, and wraps ``zipimporter.invalidate_caches`` to reuse that
   directory while the archive's stamp is unchanged. An archive that is
   replaced on disk (``addPyFile``, ``spark.submit.pyFiles``) still gets
   re-read, so import semantics do not change. When pyspark runs unzipped
   there is no zipimporter over it and the wrap never fires.

2. The post-task collection. The daemon runs ``gc.collect()`` in a reused
   worker after every task. A worker that has imported ``pyspark.worker``,
   pandas, pyarrow and ``pdfi_spark.core`` tracks about 73k objects, and a
   full collection over them costs about 45 ms of CPU (2 ms in a bare
   interpreter). ``freeze_after_first_task`` wraps the daemon's
   ``worker_main`` so each worker calls ``gc.freeze()`` once, at the start
   of its second task, which moves the imported heap out of the
   collector's reach: Python-worker CPU per identity ``mapInPandas`` task
   fell from about 55 ms to about 9 ms on a 4-core host at ``local[4]``
   (``tools/bench_task_overhead.py``, 64 partitions).

A third wrap, ``end_at_eof``, is not about cost: it lets an idle reused
worker whose socket the JVM closes (at ``spark.stop()``) exit without a
task, instead of reporting the EOF as a failed task on a dead socket.

Forked workers inherit the wraps; importing this module (say in the
driver) installs nothing.
"""
from __future__ import annotations

import gc
import importlib
import os
import zipimport


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read only changed archives."""
    read_directory = zipimport._read_directory
    invalidate_caches = zipimport.zipimporter.invalidate_caches
    # archive path -> (stamp before the read, directory dict the read returned)
    read_at: dict[str, tuple[tuple[int, int], dict]] = {}

    def stamped_read_directory(archive):
        # stat BEFORE reading: an archive rewritten mid-read carries a newer
        # stamp than the one recorded, so the next check re-reads it
        stamp = _stamp(archive)
        files = read_directory(archive)
        if stamp is not None:
            read_at[archive] = (stamp, files)
        return files

    def cached_invalidate_caches(self):
        stamp, files = read_at.get(self.archive, (None, None))
        if (files is not None
                and zipimport._zip_directory_cache.get(self.archive) is files
                and _stamp(self.archive) == stamp):
            self._files = files
            return
        invalidate_caches(self)

    zipimport._read_directory = stamped_read_directory
    zipimport.zipimporter.invalidate_caches = cached_invalidate_caches


def freeze_after_first_task(run_task):
    """Wrap a forked worker's task function to ``gc.freeze()`` once, at the
    start of its second task.

    By then the first task has done the worker's imports and the
    daemon's post-task ``gc.collect()`` has cleared that task's garbage,
    so what is frozen is the imported heap. Freezing only once bounds
    the permanent generation to what was live after the first task:
    cycles among later tasks' survivors stay collectable. A worker that
    is not reused runs one task and never freezes.
    """
    tasks = 0

    def run(*args, **kwargs):
        nonlocal tasks
        tasks += 1
        if tasks == 2:
            gc.freeze()
        return run_task(*args, **kwargs)

    return run


def end_at_eof(run_task):
    """Wrap a forked worker's task function to end the worker, running no
    task, when its socket is at EOF before the task's first byte.

    The JVM closes an idle reused worker's socket when the session stops.
    ``pyspark.worker.main`` would read that EOF as a failed task and write
    an exception frame back; over a Unix socket the write to the closed
    peer fails, and as the JVM sets
    ``PYTHON_DAEMON_KILL_WORKER_ON_FLUSH_FAILURE``, the daemon re-raises
    the failed flush and the driver's stderr gets a ``BrokenPipeError``
    traceback. ``SystemExit(1)`` gives the daemon a
    non-zero code, which ends its reuse loop: the worker exits rather
    than wait on the closed socket again. A task's path is unchanged:
    ``peek`` leaves the bytes it buffers for the task to read.
    """

    def run(infile, outfile):
        if not infile.peek(1):
            raise SystemExit(1)
        return run_task(infile, outfile)

    return run


if __name__ == "__main__":
    install()
    # stamp the archives already read while this module was being found,
    # so every forked worker starts with a known directory
    importlib.invalidate_caches()
    from pyspark import daemon

    # each forked worker inherits a wrapper whose task count is still 0
    daemon.worker_main = end_at_eof(freeze_after_first_task(daemon.worker_main))
    daemon.manager()
