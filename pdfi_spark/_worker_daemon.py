"""Spark Python worker daemon that keeps zipimport directories across tasks.

``make_spark`` selects this module as ``spark.python.daemon.module``; Spark
starts it with ``python -m`` and it hands over to
``pyspark.daemon.manager()``, which forks the workers.

Why: PySpark's worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark.worker_util.setup_spark_files``). On Python 3.11
that makes every ``zipimport.zipimporter`` re-read its archive's central
directory — about 16 importers over the 1,328-entry ``pyspark.zip``, so
each task re-parsed the archive about 16 times, roughly 0.2-0.3 s of a
``mapInPandas`` task whose user code took about 1 ms.

What: before the manager starts, ``install()`` wraps the directory reader
to remember each archive's ``(st_mtime_ns, st_size)`` at the time it was
read, and wraps ``zipimporter.invalidate_caches`` to reuse that directory
while the archive's stamp is unchanged. An archive that is replaced on
disk (``addPyFile``, ``spark.submit.pyFiles``) still gets re-read, so
import semantics do not change. When pyspark runs unzipped there is no
zipimporter over it and the wrap never fires. Forked workers inherit the
wrap; importing this module (say in the driver) installs nothing.
"""
from __future__ import annotations

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


if __name__ == "__main__":
    install()
    # stamp the archives already read while this module was being found,
    # so every forked worker starts with a known directory
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()
