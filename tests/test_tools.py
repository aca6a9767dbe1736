"""The tools under tools/: the documented production launch built from
``tools/make_pyfiles.py``, and the query names the tools take from
``__spark_entry__.queries()``."""
import importlib.util
import os
import re
import subprocess
import sys

import pandas as pd
import pyspark

from pdfi_spark.core.pdfgen import build_pdf
from pdfi_spark.pipeline import read_extracted

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = os.path.join(os.path.dirname(pyspark.__file__), "bin",
                            "spark-submit")


def _tool(name: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(REPO, "tools", f"{name}.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_spark_submit_py_files_outside_checkout(spark, tmp_path):
    """``spark-submit --py-files <zip> job.py`` run from a directory
    outside the checkout, with no ``PYTHONPATH``, commits every document
    exactly once (the workers' daemon must import ``pdfi_spark`` from the
    zip)."""
    zip_path = _tool("make_pyfiles").build(
        str(tmp_path / "dist" / "pdfi_spark.zip"))
    expected = {}
    for i in range(24):
        pdf, text = build_pdf(f"launch document {i} body", "simple")
        expected[f"doc-{i}"] = (pdf, text)
    input_path = str(tmp_path / "input.parquet")
    pd.DataFrame({"url": list(expected),
                  "html": [pdf for pdf, _ in expected.values()]}) \
        .to_parquet(input_path)
    output = str(tmp_path / "output")
    elsewhere = tmp_path / "elsewhere"
    elsewhere.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable

    proc = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[2]", "--py-files", zip_path,
         "--conf", "spark.ui.enabled=false",
         os.path.join(REPO, "pdfi_spark", "job.py"),
         "--input", input_path, "--output", output, "--buckets", "4"],
        cwd=elsewhere, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]

    got = read_extracted(spark, output).select("url", "text", "error") \
        .toPandas()
    assert sorted(got["url"]) == sorted(expected)
    assert got["error"].isna().all()
    assert dict(zip(got["url"], got["text"])) == {
        url: text for url, (_, text) in expected.items()
    }


def test_tool_query_lists_resolve_in_registry():
    """Every query ``dump_plans`` dumps is registered, and
    ``bench_extra --all`` times exactly the registered queries."""
    from __spark_entry__ import queries

    registry = queries()
    dump_plans = _tool("dump_plans")
    assert [n for n, _ in dump_plans.CASES if n not in registry] == []
    bench_extra = _tool("bench_extra")
    assert bench_extra.selected(bench_extra.parse_args(["--all"])) \
        == list(registry)


# the one operator setting still passed in: whether a vocabulary is
# broadcast or joined, which depends on its size, not on a fixed value
_EXTRA_PARAMS_ALLOWED = {
    name: ["broadcast_vocab"] for name in (
        "tfidf_top_terms", "unigram_surprisal", "bigram_surprisal",
        "pmi_collocations")
}


def test_registered_queries_take_spark_and_sf_dir_only():
    """Every registered query is ``fn(spark, sf_dir)``: an operator
    value with one setting in use is a module constant, which the
    query's DuckDB oracle reads too. Only the four vocabulary operators
    keep ``broadcast_vocab``."""
    import inspect

    from __spark_entry__ import queries

    extra = {}
    for name, fn in queries().items():
        params = list(inspect.signature(fn).parameters)
        assert params[:2] == ["spark", "sf_dir"], (name, params)
        if params[2:]:
            extra[name] = params[2:]
    assert extra == _EXTRA_PARAMS_ALLOWED


# a batch parquet read: ``<x>.read``, then any chain of calls such as
# ``.schema(...)`` or ``.option(...)``, then ``.parquet(``
_PARQUET_READ = re.compile(
    r"\.read(?:\s*\.\s*\w+\((?:[^()]|\([^()]*\))*\))*\s*\.\s*parquet\(")
# the production input of job.py is a directory or remote prefix: no
# local footer to read, so Spark infers its schema
_READ_SITES_ALLOWED = {"pdfi_spark/job.py": 1}


def test_parquet_reads_go_through_the_one_reader():
    """No module but ``ops/_scan.py`` reads parquet in batch (the
    ``job.py`` input excepted): a second reader would bring back the
    schema-inference job ``_scan.read`` avoids."""
    files = [os.path.join(REPO, "__spark_entry__.py")]
    for root, _, names in os.walk(os.path.join(REPO, "pdfi_spark")):
        files += [os.path.join(root, n) for n in names if n.endswith(".py")]
    hits = {}
    for path in files:
        rel = os.path.relpath(path, REPO)
        if rel == os.path.join("pdfi_spark", "ops", "_scan.py"):
            continue
        with open(path, encoding="utf-8") as f:
            n = len(_PARQUET_READ.findall(f.read()))
        if n:
            hits[rel] = n
    assert hits == _READ_SITES_ALLOWED


# the per-batch pandas frames built outside ``map_rows``: vectorized numpy
# folds that build whole columns per batch and the two streaming state
# updates, which are not per-row maps
_PANDAS_FRAMES_ALLOWED = {
    ("pdfi_spark/_rows.py", "map_rows"): 1,
    ("pdfi_spark/ops/dedup.py", "_minhash128_artifacts"): 1,
    ("pdfi_spark/ops/dedup.py", "_simhash_np"): 1,
    ("pdfi_spark/ops/dedup.py", "_shingles_df"): 1,
    ("pdfi_spark/ops/similarity.py", "_ivf_assign"): 2,
    ("pdfi_spark/streaming.py", "_first_seen_ledger"): 1,
    ("pdfi_spark/streaming.py", "frontier_schedule_streaming"): 1,
}


def test_per_row_maps_go_through_map_rows():
    """A pandas frame is built only in ``map_rows`` and at the named
    batch-vectorized sites: a per-row map written out by hand names
    each output column twice (schema and pandas columns)."""
    import ast

    files = [os.path.join(REPO, "__spark_entry__.py")]
    for root, _, names in os.walk(os.path.join(REPO, "pdfi_spark")):
        files += [os.path.join(root, n) for n in names if n.endswith(".py")]
    hits = {}
    for path in files:
        rel = os.path.relpath(path, REPO).replace(os.sep, "/")
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read())
        for top in tree.body:
            for node in ast.walk(top):
                if (isinstance(node, ast.Call)
                        and re.fullmatch(r"(pd|pandas)\.DataFrame(\.\w+)?",
                                         ast.unparse(node.func))):
                    key = (rel, getattr(top, "name", "<module>"))
                    hits[key] = hits.get(key, 0) + 1
    assert hits == _PANDAS_FRAMES_ALLOWED


def test_map_rows_fans_out_and_keeps_the_schema(spark):
    """``fn`` may yield no row or several per input row; an empty input
    gives an empty frame of the same declared schema, and the plan
    keeps the one ``MapInPandas`` operator."""
    from pdfi_spark._rows import map_rows

    def fan(n, s):
        if n % 2:  # odd rows yield two rows, even rows none
            yield n, s
            yield n * 10, s.upper()

    schema = "k long, tag string"
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c"), (4, "d")],
                               "n long, s string")
    out = map_rows(df, fan, schema)
    assert out.schema.simpleString() == "struct<k:bigint,tag:string>"
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, "a"), (3, "c"), (10, "A"), (30, "C")]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan, plan

    empty = map_rows(spark.createDataFrame([], "n long, s string"), fan,
                     schema)
    assert empty.schema == out.schema
    assert empty.collect() == []


def test_map_rows_names_the_plan_node_after_its_function(spark):
    """A plan names each per-row map after the function it runs, not
    ``map_rows``' inner loop."""
    from pdfi_spark.ops.webtext import strip_boilerplate

    pages = spark.createDataFrame([("u", "<p>hello world</p>")],
                                  "url string, html string")
    plan = strip_boilerplate(pages)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "MapInPandas strip(" in plan, plan
    assert "MapInPandas run(" not in plan, plan


def test_streams_start_only_in_run_available_now():
    """``.writeStream`` appears once, in ``streaming.run_available_now``:
    the one place that names a stream's memory sink and checkpoint."""
    import inspect

    from pdfi_spark.streaming import run_available_now

    files = [os.path.join(REPO, "__spark_entry__.py")]
    for root, _, names in os.walk(os.path.join(REPO, "pdfi_spark")):
        files += [os.path.join(root, n) for n in names if n.endswith(".py")]
    hits = {}
    for path in files:
        with open(path, encoding="utf-8") as f:
            n = len(re.findall(r"\.\s*writeStream\b", f.read()))
        if n:
            hits[os.path.relpath(path, REPO)] = n
    assert hits == {os.path.join("pdfi_spark", "streaming.py"): 1}
    assert ".writeStream" in inspect.getsource(run_available_now)
