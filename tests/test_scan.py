"""The one batch reader (``pdfi_spark/ops/_scan.py``): the schema it hands
Spark is the schema Spark would infer, and no query launches a Spark job
while it is being built."""
import glob
import importlib.util
import os

import pyarrow.parquet as pq

from __spark_entry__ import SF0001 as SF
from pdfi_spark.ops._scan import footer_schema, read

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _perfbench_tables(tmp_path) -> list[str]:
    spec = importlib.util.spec_from_file_location(
        "perfbench_inputs", os.path.join(REPO, "perfbench", "inputs.py"))
    inputs = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(inputs)
    paths = []
    for name, table in inputs.tables("tiny").items():
        paths.append(str(tmp_path / f"{name}.parquet"))
        pq.write_table(table, paths[-1])
    return paths


def test_footer_schema_equals_inferred_schema(spark, tmp_path):
    paths = sorted(glob.glob(os.path.join(os.path.dirname(SF), "sf0.*",
                                          "*.parquet")))
    paths += _perfbench_tables(tmp_path)
    assert len(paths) >= 30 + 8, paths
    for p in paths:
        inferred = spark.read.parquet(p).schema
        footer = footer_schema(p)
        # field for field, with nullability, nested containsNull and
        # metadata: the JSON form carries all of them
        assert footer.jsonValue() == inferred.jsonValue(), p
        assert footer == inferred == read(spark, p).schema, p


def test_footer_schema_of_a_spark_written_file(spark, tmp_path):
    # Spark's writer stores its own schema in the footer, and Spark's
    # inference prefers it to the parquet types (INT96 timestamps, for
    # one, convert differently through Arrow)
    from pyspark.sql import functions as F

    d = str(tmp_path / "d")
    (spark.range(3).select(
        "id", F.current_timestamp().alias("ts"),
        F.array(F.col("id")).alias("xs"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        F.struct(F.col("id").alias("a")).alias("s"))
     .coalesce(1).write.parquet(d))
    part = glob.glob(f"{d}/part-*.parquet")[0]
    assert footer_schema(part) == spark.read.parquet(part).schema
    assert footer_schema(d) is None  # a directory: Spark's inference


# Queries that still launch Spark jobs while they are built, with the
# jobs each launches at sf0.001 and why (an eager checkpoint or a
# collected scalar is two jobs under AQE: the shuffle-map stage and the
# result).
CONSTRUCTION_JOBS = {
    "cms_heavy_hitters": (2, "eager checkpoint of the per-term counts"),
    "ngram_jaccard": (2, "eager checkpoint of the shingle sets"),
    "minhash128_jaccard_estimates": (2, "eager checkpoint of the signature artifacts"),
    "embedding_neardup_topk": (2, "eager checkpoint of the coded vectors"),
    "ivf_cell_counts": (2, "collects the codebook the in-row scorer closes over"),
    "ivf_topk": (2, "collects the codebook the in-row scorer closes over"),
    "ivf_topk_nprobe2": (2, "collects the codebook the in-row scorer closes over"),
    "bloom_dedup_gate": (2, "eager checkpoint of the old-snapshot digests"),
    "link_graph_triangles": (3, "eager checkpoint of the undirected edges"),
}
# Not built here: the streaming queries run their available-now pass
# while they are built, the iterative family checkpoints every round, and
# the resume query runs two pipeline passes.
NOT_BUILT = {
    "html_streaming", "extract_streaming", "url_dedup_streaming",
    "warc_streaming", "frontier_schedule_streaming", "windowed_event_counts",
    "session_window_events", "streaming_dedup_state",
    "dedup_clusters", "dedup_clusters_128", "link_graph_pagerank",
    "link_graph_pagerank_dangling", "link_graph_hits", "semdedup",
    "ivf_train_cells",
    "pipeline_resume_counts",
}


def test_construction_launches_no_job(spark):
    """Building a query (everything before its own action) launches no
    Spark job, apart from the allow-listed queries, which launch exactly
    the jobs listed. Counted through ``statusTracker`` by job group."""
    from __spark_entry__ import queries

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    listener_bus = sc._jsc.sc().listenerBus()
    got = {}
    try:
        for name, fn in queries().items():
            if name in NOT_BUILT:
                continue
            group = f"construction:{name}"
            sc.setJobGroup(group, name)
            fn(spark, SF)
            listener_bus.waitUntilEmpty()
            n = len(tracker.getJobIdsForGroup(group))
            if n or name in CONSTRUCTION_JOBS:
                got[name] = n
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == {q: n for q, (n, _) in CONSTRUCTION_JOBS.items()}


def test_fan_out_follows_the_footer_not_the_planned_splits(spark, tmp_path):
    """A single-row-group file that Spark plans as many byte-range splits
    still scans its rows in ONE task (the split holding the row group's
    midpoint), so ``fan="fanned"`` must fan it out."""
    import pyarrow as pa

    path = str(tmp_path / "one_group.parquet")
    blobs = [os.urandom(1024) for _ in range(1500)]  # ~1.5 MB, incompressible
    pq.write_table(pa.table({"id": list(range(1500)), "blob": blobs}), path,
                   row_group_size=1 << 20)
    assert pq.read_metadata(path).num_row_groups == 1
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(256 << 10))
    try:
        p = spark.sparkContext.defaultParallelism
        assert spark.read.parquet(path).rdd.getNumPartitions() >= p
        plan = read(spark, path, fan="fanned")._jdf.queryExecution() \
            .executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    assert f"RoundRobinPartitioning({p})" in plan, plan
