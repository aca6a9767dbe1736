"""The one batch parquet reader: ``read(spark, path, fan=...)``.

Every batch parquet read in ``pdfi_spark`` and ``__spark_entry__`` goes
through ``read`` (``tests/test_tools.py`` greps for others; ``job.py``'s
production input is the one stated exception).

**Schema, from the footer.** ``spark.read.parquet(path)`` with no schema
runs a Spark job to read the footer while the query is still being
built: one job and 70-105 ms per read. pyarrow reads the same footer in
this process in under 1 ms, so ``read`` hands Spark the schema: for a
single local file, the footer's (``footer_schema``, converted as Spark's
inference converts it); for a ``run_pipeline`` output (a directory with
the ``_metrics.jsonl`` manifest), ``pipeline.OUTPUT_SCHEMA``. Anything
else (a directory, a glob, a remote URI) keeps Spark's inference: its
files need not share one footer. Plans, PushedFilters, ReadSchema and
results are unchanged; only the job is gone.

**Fan-out (``fan=``).** A parquet file splits only at row-group
granularity, so a single-row-group file scans as ONE task however many
cores there are, and every narrow stage above it runs serially until
the first exchange (spark_optimization_guide §2.5: "one huge
unsplittable file ... repartition immediately after the read").

- ``"raw"``: the plain scan.
- ``"fanned"``: a round-robin repartition right above the scan of a
  single local file, ONLY when its footer holds fewer row groups than
  the cluster's parallelism (never at production row-group counts). The
  row groups, not Spark's planned splits, bound how many tasks get
  data: a split holding no row group's midpoint reads nothing. It is
  deterministic under retries (SPARK-23207); pruning and filter
  pushdown traverse it. Any other path reads raw.
- ``"auto"``: raw below ``MIN_FAN_BYTES``, fanned above it.
"""
from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

# Below this size the fan-out exchange costs aggregate-bound operators
# more than the serial narrow work it parallelizes (sf0.1's 0.6 MB
# documents file: raw won by 0.2-0.7 s per query); at ~10x (3.4 MB) the
# serial narrow work dominates (bigram_surprisal 5.4 s raw vs ~2 s
# fanned). Size is a coarse proxy for rows x per-row work.
MIN_FAN_BYTES = 2 << 20

# where Spark's parquet writer stores its own schema; Spark's inference
# prefers it to the parquet types
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _nullable(t: DataType) -> DataType:
    """``t`` with every field, array element and map value nullable, as
    Spark makes every file-source schema (``StructType.asNullable``)."""
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType), True,
                                       f.metadata) for f in t.fields])
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def footer_schema(path: str) -> StructType | None:
    """The schema ``spark.read.parquet(path)`` infers, read in this
    process from the footer of a single local file; None for anything
    else."""
    if not os.path.isfile(path):
        return None
    arrow = pq.read_schema(path)
    spark_json = (arrow.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if spark_json is not None:
        schema = StructType.fromJson(json.loads(spark_json))
    else:
        # Spark infers parquet timestamps that are not UTC-adjusted as
        # TIMESTAMP_NTZ, and Arrow marks exactly those with no time zone
        schema = from_arrow_schema(arrow, prefer_timestamp_ntz=True)
    return _nullable(schema)


def read(spark: SparkSession, path: str, fan: str = "raw") -> DataFrame:
    """Read the parquet ``path`` with the schema from its footer or
    ``OUTPUT_SCHEMA``, fanned out per ``fan`` (see the module docstring)."""
    if os.path.isfile(os.path.join(path, "_metrics.jsonl")):
        from ..pipeline import OUTPUT_SCHEMA

        # the directory itself (Spark skips the _metrics.jsonl manifest),
        # not a bucket=* glob, which Spark's sink-metadata probe stats as
        # a literal path and logs as missing; with only the manifest (no
        # committed rows) this reads as an empty frame
        df = spark.read.schema(OUTPUT_SCHEMA).parquet(path)
    else:
        schema = footer_schema(path)
        # None (a directory, glob or remote URI): Spark infers the schema
        df = (spark.read.schema(schema) if schema is not None
              else spark.read).parquet(path)
    if fan not in ("raw", "fanned", "auto"):
        raise ValueError(f"fan must be 'raw', 'fanned' or 'auto', not {fan!r}")
    if fan == "raw" or not os.path.isfile(path) or (
            fan == "auto" and os.path.getsize(path) < MIN_FAN_BYTES):
        return df
    p = spark.sparkContext.defaultParallelism
    under_split = pq.read_metadata(path).num_row_groups < p
    return df.repartition(p) if under_split else df


def parquet_num_rows(spark: SparkSession, path: str) -> int:
    """Exact row count, for the count scalars several operators embed:
    from the footer of a single local file (no Spark job), else a Spark
    count (metadata-cheap: Spark reads only row-group headers)."""
    if os.path.isfile(path):
        return pq.ParquetFile(path).metadata.num_rows
    return read(spark, path).count()
