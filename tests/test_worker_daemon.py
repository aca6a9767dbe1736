"""The worker daemon ``make_spark`` selects: zipimport directories survive
PySpark's per-task ``importlib.invalidate_caches()`` unless the archive
changed on disk."""
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
