"""The distributed extraction pipeline.

Scan -> salted repartition -> per-row extraction over Arrow batches
(``_rows.map_rows``) -> output + per-bucket lineage metrics ->
checkpoint/resume.

Design for 10^12 documents (SURVEY.md §4.2):

- **Salted repartition**: work is hashed into ``n_buckets`` stable buckets
  by ``pmod(xxhash64(url), n_buckets)``. The salt is a pure function of
  the url, so task retries and resumed runs land rows in the same bucket.
  Per-document work is indivisible (a PDF cannot be split), so skew
  handling is placement: AQE rebalances bucket batches, and Arrow batch
  size is kept small because rows carry multi-MB binaries.
  At 100 TB the repartition shuffle is paid ONCE at ingest, not per run:
  the production Iceberg table is bucket-written by the same
  ``xxhash64(url)``, so steady-state extraction reads pre-placed
  partitions with no runtime shuffle (measured ~45% faster at full
  parallelism; see BASELINE.md "pre-bucketed input"). ``extract_text``
  takes ``n_partitions=None`` for that path.
- **Checkpoint/resume**: each bucket is committed atomically (output files
  + a metrics row). On restart, committed buckets are anti-joined away
  before any extraction work. On Iceberg, output idempotency comes from
  snapshot isolation; in this sandbox the same contract is implemented
  with parquet subdirectories + a manifest (one JSON line per committed
  bucket) — same lineage schema as FIXTURES.md §2. A wave's extracted
  rows are rebalanced on ``bucket`` before the write, so each bucket is
  written by one task and a wave leaves about one file per bucket (AQE
  still splits a bucket larger than the advisory partition size).
  Unclustered, each of T input tasks writes every one of B buckets: T×B
  small files, each with its own parquet writer and, on a local file
  system without the native Hadoop library, a forked ``chmod`` per
  file and directory. The exchange moves extracted text, not the PDF
  payloads. The lineage ``observe`` sits above that exchange: below it,
  ``Observation.get`` on an empty wave fails while converting the
  metrics row.
- **Error containment**: extraction never fails a task; malformed rows
  and NULL payloads produce ``error`` strings (``core.api.extract_record``,
  the one containment every caller shares; the reference hard-throws,
  /root/reference/parsers/machine.ts:61-64 — a deliberate, documented
  extension for web-scale corpora).
"""
from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._rows import map_rows
from .core.api import extract_record

EXTRACTED_SCHEMA = "url string, text string, n_pages int, n_chars int, error string"
# what run_pipeline writes and read_extracted returns (bucket is the partition column)
OUTPUT_SCHEMA = EXTRACTED_SCHEMA + ", _nbytes int, bucket int"
METRICS_COLUMNS = [
    "run_id", "bucket", "n_docs", "n_bytes", "n_errors", "error_rate",
    "p50_ms", "p99_ms", "wall_ms", "committed_at",
]

# Rows carry multi-MB binary payloads; keep Arrow batches small so a batch
# of PDFs fits comfortably in the Python worker (SURVEY.md §4.2).
ARROW_BATCH_SIZE = 64  # default for multi-MB real PDFs; bench corpora override via SQL conf

# the directory (a checkout) or zip (a --py-files archive) that holds the
# imported pdfi_spark package
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def make_spark(app_name: str = "pdfi_spark", master: str | None = None,
               shuffle_partitions: int = 32) -> SparkSession:
    """Session factory with the pipeline's physical knobs set.

    AQE coalesces post-shuffle partitions BY BYTES instead of pinning
    partition count to the core count (``parallelismFirst=false`` below
    — the tuning-guide-recommended setting): iterative operators
    (connected components, PageRank/HITS rounds) produce many near-empty
    shuffles whose 32 scheduled tasks each are pure overhead, while
    data-bearing shuffles keep sub-advisory-sized partitions merged. The
    advisory size defaults to 8 MB, which suits a single machine
    (measured best across the iterative + windowed op mix); a production
    cluster raises it to the guide's 128-256 MB through the environment
    variable ``PDFI_SPARK_ADVISORY_PARTITION``.

    The Python worker daemon is always ``pdfi_spark._worker_daemon``. It
    removes the two fixed costs a reused Python worker paid per task:
    (1) inside ``pyspark.worker.main``, the zip re-read — the worker calls
    ``importlib.invalidate_caches()`` at the start of every task, and on
    Python 3.11 that makes each of the ~16 zipimporters over the 3.5 MB
    ``pyspark.zip`` re-read the archive's directory. On a 4-core Xeon at
    local[4], an identity ``mapInPandas`` task's median time in
    ``worker.main`` fell from 0.21 s to 0.04 s, and a 32-partition pass
    from 2.0-2.6 s to 0.8-0.9 s; the daemon re-reads an archive only when
    its mtime or size changed. (2) after ``worker.main`` returns, the
    daemon's ``gc.collect()`` over the ~73k objects the imports left
    tracked, about 45 ms of CPU per task; the daemon freezes that heap
    once, at each worker's second task. Python-worker CPU per identity
    ``mapInPandas`` task then fell from about 55 ms to about 9 ms, and a
    64-partition pass from 1.48 s to 1.13 s (``tools/
    bench_task_overhead.py``). Sessions not built here (a bare
    ``SparkSession.builder``, the driver's ``__spark_entry__`` session)
    keep paying both costs.

    The daemon is imported before a task adds ``--py-files`` to
    ``sys.path``, so the session prepends ``PACKAGE_ROOT`` (the directory
    or zip this ``pdfi_spark`` was imported from) to the ``PYTHONPATH``
    of its Python workers: the ``spark.executorEnv.PYTHONPATH`` value
    that PySpark hands every Python function and merges into the
    daemon's environment. A launch therefore needs ``PACKAGE_ROOT`` at
    the same path on every worker host: always true in local mode, and
    on a cluster when the package zip or checkout sits at one shared
    path. YARN also puts the shipped ``--py-files`` on that variable,
    which covers its executors. Spark starts the daemon with
    ``python -m`` in the worker's working directory, and ``-m`` puts
    that directory first on ``sys.path``: a ``pdfi_spark`` package there
    (another checkout) would shadow ``PACKAGE_ROOT``. The workers'
    environment therefore also sets ``PYTHONSAFEPATH=1``, which drops
    that entry. Python before 3.11 ignores the variable.

    The JVM talks to the daemon, its workers and the driver's accumulator
    server over Unix domain sockets, not loopback TCP. Over TCP every
    Python task waited about 35 ms with neither side on a CPU, for the
    worker's 40 ms delayed ACK: an identity ``mapInPandas`` task spent a
    median 51 ms in "time to run Python workers" (15 ms over a Unix
    socket) for ~6 ms of Python CPU, and a 64-partition pass took about
    1.0 s (0.45 s over a Unix socket; 4-core Xeon, local[4],
    ``tools/bench_task_overhead.py``). The sockets live
    in ``/tmp``, a short directory that must exist on every worker host.
    It is set rather than left to Spark's default, ``java.io.tmpdir``,
    because Linux caps an ``AF_UNIX`` path at 107 bytes and each socket
    path is the directory plus ``/.<uuid4>.sock`` (43 characters): a
    long ``java.io.tmpdir`` fails the session at start with ``OSError:
    AF_UNIX path too long``. Sessions not built here keep loopback TCP
    and its per-task wait.
    """
    advisory = os.environ.get("PDFI_SPARK_ADVISORY_PARTITION", "8m")
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    spark = (
        builder
        # measured sweet spot for local-mode extraction on this box: the
        # 1g default GC-thrashes under 32 concurrent binary Arrow batches,
        # and 8g+ produced longer pauses (no effect if the JVM is already up)
        .config("spark.driver.memory", "2g")
        # console progress writes \r-spam to stderr that can interleave
        # with (and truncate) the one-line JSON contract bench.py prints
        # on stdout when both are captured through one pipe — and it is
        # pure noise in any non-interactive run
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_SIZE))
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.python.daemon.module", "pdfi_spark._worker_daemon")
        # a loopback TCP socket stalls every Python task ~35 ms; the
        # directory is fixed because the default, java.io.tmpdir, can
        # push the socket path past AF_UNIX's 107 bytes (docstring)
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", "/tmp")
        .getOrCreate()
    )
    # prepend, never replace: YARN ships --py-files through this same
    # variable (spark.executorEnv.PYTHONPATH)
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if PACKAGE_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([PACKAGE_ROOT, *paths])
    # the daemon starts as ``python -m``, which would otherwise put the
    # working directory ahead of PACKAGE_ROOT on sys.path
    env["PYTHONSAFEPATH"] = "1"
    return spark


def read_pdf_files(spark: SparkSession, path: str) -> DataFrame:
    """Raw-file source: Spark's binaryFile format over the ``*.pdf``
    files of a directory tree -> (url, html). The distributed equivalent
    of the reference's one-local-file ``readSourceSync`` entry (reference
    index.ts:25-31); partition planning, file listing and the 2 GB-per-file
    cap are Spark's. Prefer parquet/Iceberg binary columns for crawl-scale input
    (millions of small files stress the driver's listing)."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.pdf")
        .option("recursiveFileLookup", "true")
        .load(path)
        .select(F.col("path").alias("url"), F.col("content").alias("html"))
    )


def with_bucket(df: DataFrame, n_buckets: int = 64) -> DataFrame:
    """Stable, salt-style bucket id: pure function of the url, so retries
    and resumes are deterministic."""
    return df.withColumn("bucket", F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)))


def extract_text(df: DataFrame, payload_col: str = "html",
                 n_partitions: int | None = None) -> DataFrame:
    """documents(url, html, ...) -> extracted(url, text, n_pages, n_chars, error).

    The per-document library runs row by row over Arrow batches through
    ``map_rows``; everything around it (shuffle, scan pruning, write)
    stays JVM-side. Only ``url`` and the payload column are shipped to
    Python (column pruning keeps the scan narrow). A NULL payload, like
    a malformed one, yields an error row (``extract_record``).
    """
    projected = df.select("url", F.col(payload_col).alias("payload"))
    if n_partitions:
        # salt domain = 32x the partition count: hashing exactly
        # n_partitions distinct salt values into n_partitions partitions
        # leaves ~1/e of them empty and piles 2-3 salts on others (the
        # classic synthetic-key collision skew, optimization guide
        # §2.5); a 32x-finer salt domain spreads buckets evenly while
        # staying a pure deterministic function of the url (retries and
        # resumes still land rows identically). Measured on the bench
        # corpus: best-of 6.56 -> 6.0 s and far less trial spread.
        projected = projected.repartition(
            n_partitions,
            F.pmod(F.xxhash64(F.col("url")), F.lit(n_partitions * 32)),
        )

    def extract(url, payload):
        # extract_record's keys are in the schema's order
        yield tuple(extract_record(url, payload).values())

    return map_rows(projected, extract, EXTRACTED_SCHEMA)


# ---------------------------------------------------------------------------
# checkpointed pipeline (parquet-backed; Iceberg mapping in module docstring)
# ---------------------------------------------------------------------------

class CheckpointStore:
    """Bucket-commit ledger: a JSONL manifest of metrics rows, one per
    committed bucket (the sandbox stand-in for an Iceberg metrics table)."""

    def __init__(self, output_dir: str):
        self.output_dir = output_dir
        self.manifest_path = os.path.join(output_dir, "_metrics.jsonl")
        os.makedirs(output_dir, exist_ok=True)

    def committed_buckets(self) -> set[int]:
        done = set()
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path, encoding="utf-8") as f:
                for line in f:
                    if line.strip():
                        done.add(json.loads(line)["bucket"])
        return done

    def commit(self, metrics_row: dict) -> None:
        with open(self.manifest_path, "a", encoding="utf-8") as f:
            f.write(json.dumps(metrics_row) + "\n")

    def metrics(self) -> list[dict]:
        if not os.path.exists(self.manifest_path):
            return []
        with open(self.manifest_path, encoding="utf-8") as f:
            return [json.loads(line) for line in f if line.strip()]


def run_pipeline(spark: SparkSession, documents: DataFrame, output_dir: str,
                 run_id: str = "run0", n_buckets: int = 16,
                 wave_size: int | None = None,
                 payload_col: str = "html") -> dict:
    """Extract all documents into ``output_dir`` with per-bucket
    checkpointing; safe to kill and re-run (committed buckets are skipped).

    Buckets are processed in *waves*: one write per wave produces
    ``partitionBy(bucket)`` output for every bucket in the wave, then each
    bucket is committed to the manifest. The wave is the resume/commit
    granularity; bucket membership is a stable hash of the url, so a
    production input table bucketed on the same hash gets partition
    pruning on the resume filter instead of a re-scan.

    The write is clustered by bucket (a ``rebalance`` hint), so a wave
    writes about one parquet file per bucket instead of one per input
    task and bucket: T×B small files would each pay a parquet writer
    and, on a local file system, a forked ``chmod``. The per-bucket
    lineage metrics are observed on that write, above the exchange,
    because an observation below it breaks ``Observation.get`` on an
    empty wave.

    Returns a summary dict with totals and resume stats.
    """
    store = CheckpointStore(output_dir)
    done = store.committed_buckets()
    bucketed = with_bucket(documents, n_buckets=n_buckets)

    summary = {"run_id": run_id, "buckets_total": n_buckets,
               "buckets_skipped": len(done), "n_docs": 0, "n_errors": 0}

    todo = [b for b in range(n_buckets) if b not in done]
    wave_size = wave_size or len(todo) or 1
    waves = [todo[i:i + wave_size] for i in range(0, len(todo), wave_size)]
    from pyspark.sql import Observation

    for wave in waves:
        start = time.time()
        part = bucketed.filter(F.col("bucket").isin([int(b) for b in wave]))
        extracted = map_rows(part.select("url", payload_col, "bucket"),
                             _extract_timed, OUTPUT_SCHEMA + ", _ms double")
        # Per-bucket lineage metrics ride along as OBSERVED aggregates on
        # the write action itself: the just-written output is never
        # re-read (at 100 TB a metrics re-scan would double output I/O),
        # and extraction runs exactly once — no cache, no second job.
        # The observation sits above the rebalance exchange: observed
        # below it, an empty wave's metrics row fails to convert in
        # Observation.get.
        obs = Observation(f"wave_{wave[0]}")
        observed = extracted.hint("rebalance", "bucket") \
            .observe(obs, *_lineage_aggregates(wave))
        # dynamic partition overwrite, set on this write and not the
        # session: replace only the bucket partitions this wave touches,
        # never the committed ones or the manifest beside them
        observed.drop("_ms") \
            .write.mode("overwrite").option("partitionOverwriteMode", "dynamic") \
            .partitionBy("bucket").parquet(output_dir)
        wall_ms = int((time.time() - start) * 1000)
        stats = obs.get
        for bucket in wave:
            n_docs = int(stats[f"n_docs_{bucket}"] or 0)
            n_errors = int(stats[f"n_errors_{bucket}"] or 0)
            p50, p99 = stats[f"p_ms_{bucket}"] or (None, None)
            row = {
                "run_id": run_id,
                "bucket": int(bucket),
                "n_docs": n_docs,
                "n_bytes": int(stats[f"n_bytes_{bucket}"] or 0),
                "n_errors": n_errors,
                "error_rate": (n_errors / n_docs) if n_docs else 0.0,
                "p50_ms": round(float(p50), 3) if p50 is not None else None,
                "p99_ms": round(float(p99), 3) if p99 is not None else None,
                "wall_ms": wall_ms,
                "committed_at": time.strftime("%Y-%m-%dT%H:%M:%S"),
            }
            store.commit(row)
            summary["n_docs"] += row["n_docs"]
            summary["n_errors"] += row["n_errors"]
    return summary


def _extract_timed(url, payload, bucket):
    """One ``OUTPUT_SCHEMA`` row plus ``_ms``, the extraction's wall time
    measured in the worker, for the wave's latency percentiles."""
    t0 = time.perf_counter()
    record = extract_record(url, payload)
    ms = (time.perf_counter() - t0) * 1000.0
    # extract_record's keys are in the schema's order
    yield (*record.values(), None if payload is None else len(payload),
           bucket, ms)


def _lineage_aggregates(wave: list[int]) -> list:
    """A wave's per-bucket lineage aggregates, written as SQL text.

    Every call that builds a ``Column`` through the Python API is a py4j
    round trip. On a 4-core Xeon at local[4], the same aggregates for a
    16-bucket wave built from chained ``F.when``/``F.sum`` calls (80
    columns) take a median 0.32 s of driver time; these 64 parsed
    strings take 0.02 s. One sketch per bucket serves both percentiles,
    so p50 and p99 come from the same inserts.
    """
    aggs = []
    for b in wave:
        aggs.extend(F.expr(sql) for sql in (
            f"count_if(bucket = {b}) AS n_docs_{b}",
            f"sum(if(bucket = {b}, _nbytes, 0)) AS n_bytes_{b}",
            f"count_if(bucket = {b} AND error IS NOT NULL) AS n_errors_{b}",
            f"percentile_approx(if(bucket = {b}, _ms, NULL), array(0.5, 0.99))"
            f" AS p_ms_{b}",
        ))
    return aggs


def read_extracted(spark: SparkSession, output_dir: str) -> DataFrame:
    """Read a ``run_pipeline`` output back as ``OUTPUT_SCHEMA`` rows
    (``ops._scan.read``; an output whose committed buckets hold no rows
    reads as an empty frame of the same schema)."""
    from .ops._scan import read

    return read(spark, output_dir)
