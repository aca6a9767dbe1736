#!/usr/bin/env python3
"""Layered benchmark for pdfi_spark: extraction paths and operator passes.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 15 --trace 0

Runs one workload at Spark ``local[nproc]`` from the checkout root and
prints, as its last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (every end-to-end metric with
``--trace 0``, every per-layer metric with ``--trace 1``). The line
before it is the full record: environment, raw samples and per-query
rows. Both are also written under ``perfbench/.work/results``.

Every run makes its inputs from the seed, sets up once from a cold
start (imports, JVM and session launch, warm-up pass), checks every
output against its reference outside the timed region, warms the
operator pass, then repeats ``ROUND`` (the salted and the pre-bucketed
extract, the operator pass twice, the committed pipeline run) for
``--seconds`` and at least ``MIN_ROUNDS`` times, and reports medians.
The traced run wraps the public calls into ``pdfi_spark.core``, ``pdfi_spark.pipeline``
and ``pdfi_spark.ops`` from this file and reads Spark's event log; its
numbers never feed the end-to-end metrics.

See ``perfbench/README.md`` for the workloads, the layer predictions and
the self-test.
"""
from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"

# the queries every workload's operator pass runs: html_boiler exercises
# core.html, token_counts the plain scan-and-project path
COMMON_QUERIES = ["html_boiler", "token_counts"]
# two ROADMAP scan/width-policy leaves, html_boiler and one relational
# leaf, within a warm pass of about 2 s
OPS_MIX_QUERIES = [
    "dedup_exact", "token_counts", "html_boiler", "q18_large_volume_customer",
]
WORKLOADS = {
    "extract_mixed": {"corpus": "mixed", "docs": 1000, "queries": COMMON_QUERIES},
    "ops_mix": {"corpus": "heavy", "docs": 200, "queries": OPS_MIX_QUERIES},
}
TINY_DIVISOR = 20  # --scale tiny shrinks the corpora by this much
# the timed passes of one round; each metric is a median over at least
# MIN_ROUNDS rounds. The operator pass is the shortest and the noisiest,
# so a round times it twice. Two passes of one kind run back to back
# read alike, so a round spreads each kind's samples over the run
ROUND = ("salted", "prebucketed", "ops", "commit", "ops")
MIN_ROUNDS = 3
# untimed operator passes before the rounds: the driver JVM is still
# compiling the code the queries run. In one session on 4 cores the
# 4-query pass of ops_mix took 2.7 s on its second run and about 1.8 s by
# its fifth; later passes varied by about 10% either way
OPS_WARM_PASSES = 4
# documents in the traced run's in-process core sample, so p99 has ten
# documents beyond it
CORE_SAMPLE = 1000

END_TO_END = {
    "setup_s": "s",
    "extract_docs_per_s": "docs/s",
    "extract_prebucketed_docs_per_s": "docs/s",
    "commit_docs_per_s": "docs/s",
    "ops_pass_s": "s",
    "peak_rss_mb": "MB",
}
OPS_FIELDS = {"s": "s", "jobs": "count", "stages": "count", "tasks": "count",
              "shuffle_bytes": "bytes", "funnel_share": "share"}
PER_LAYER = {
    "core.parse.us_per_doc": "us",
    "core.decode.us_per_doc": "us",
    "core.interpret.us_per_doc": "us",
    "core.cluster.us_per_doc": "us",
    "core.assemble.us_per_doc": "us",
    "core.spans_per_doc": "count",
    "core.decoded_bytes_per_doc": "bytes",
    "core.doc_ms.p50": "ms",
    "core.doc_ms.p99": "ms",
    "core.docs_per_core_s": "docs/s",
    "core.trace_overhead_share": "share",
    "core.html.us_per_doc": "us",
    "pipeline.boundary_share": "share",
    "pipeline.salt_shuffle_s": "s",
    "pipeline.salt_shuffle_bytes": "bytes",
    "pipeline.tasks": "count",
    "pipeline.task_ms.max_over_median": "ratio",
    "pipeline.busy_share": "share",
    "pipeline.commit_extra_s": "s",
    "pipeline.commit.jobs": "count",
    "pipeline.commit.p99_ms": "ms",
    **{f"ops.{q}.{f}": u for q in ["pass", *COMMON_QUERIES] for f, u in OPS_FIELDS.items()},
}
def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("standard", "tiny"), default="standard",
                   help="input scale; tiny (about sf0.001) is for the self-test")
    p.add_argument("--plant-faults", action="store_true",
                   help="corrupt one golden text and one expected digest and "
                        "duplicate one output row (self-test: all three must "
                        "be counted as failures)")
    return p.parse_args(argv)


# --------------------------------------------------------------------------
# process tree: peak RSS and clean shutdown
# --------------------------------------------------------------------------

def _descendants(root_pid: int) -> list[tuple[int, int]]:
    """(pid, parent pid) of every process below ``root_pid``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                ppid = int(f.read().rsplit(b")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        for child in children.get(pid, []):
            out.append((child, pid))
            todo.append(child)
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


class PeakRss(threading.Thread):
    """Samples the summed RSS of this process and all its descendants
    (driver JVM, Python workers) every ``interval`` seconds; ``take``
    returns the peak since the previous call."""

    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_bytes = 0
        self._stop_event = threading.Event()
        self._lock = threading.Lock()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> int:
        total = 0
        for pid, parent in [(os.getpid(), 0), *_descendants(os.getpid())]:
            # a JVM's child still running the JVM binary is a fork on its way
            # to exec a helper (Hadoop's local file system runs chmod so);
            # it maps the JVM's pages, and counting it would count the JVM
            # twice
            if parent and _exe(pid).endswith("/java") and _exe(pid) == _exe(parent):
                continue
            try:
                with open(f"/proc/{pid}/statm", "rb") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                pass
        return total

    def run(self):
        while not self._stop_event.is_set():
            current = self.sample()
            with self._lock:
                self.peak_bytes = max(self.peak_bytes, current)
            self._stop_event.wait(self.interval)

    def take(self) -> float:
        current = self.sample()
        with self._lock:
            peak, self.peak_bytes = max(self.peak_bytes, current), current
        return peak / 2**20

    def stop(self) -> None:
        self._stop_event.set()
        self.join()


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait until every process
    this run started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while _descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid, _ in _descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while _descendants(os.getpid()):
        time.sleep(0.1)


# --------------------------------------------------------------------------
# Spark passes
# --------------------------------------------------------------------------

def environment(nproc: int) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    versions = {}
    for mod in ("pyspark", "pyarrow", "pandas", "numpy", "duckdb"):
        try:
            versions[mod] = __import__(mod).__version__
        except ImportError:
            versions[mod] = None
    return {"nproc": nproc, "ram_gb": round(mem_kb / 2**20, 2),
            "python": platform.python_version(), **versions,
            "loadavg_start": os.getloadavg()}


def cpu_ticks() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat: user nice system idle
    iowait irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def spark_submit_args(run_dir: Path, trace: bool) -> str:
    """Keep every file Spark writes inside the checkout, and turn the event
    log on for the traced run. Passed at JVM launch."""
    conf = {
        "spark.local.dir": str(run_dir / "spark-local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData",
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file:" + str(run_dir / "eventlog")
    for key in ("spark.local.dir", "spark.sql.warehouse.dir"):
        os.makedirs(conf[key], exist_ok=True)
    os.makedirs(run_dir / "tmp", exist_ok=True)
    if trace:
        os.makedirs(run_dir / "eventlog", exist_ok=True)
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    return " ".join(shlex.quote(a) for a in args) + " pyspark-shell"


def start_session(nproc: int):
    from pdfi_spark.pipeline import make_spark

    spark = make_spark("pdfi-perfbench", master=f"local[{nproc}]",
                       shuffle_partitions=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    # the corpora are KB-sized PDFs: large Arrow batches, as in bench.py
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
    return spark


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def salted(spark, corpus: str, nproc: int):
    from pdfi_spark.pipeline import extract_text

    return extract_text(spark.read.parquet(corpus), payload_col="html",
                        n_partitions=nproc * 8)


def prebucketed(spark, corpus: str):
    from pdfi_spark.pipeline import extract_text

    return extract_text(spark.read.parquet(corpus), payload_col="html")


def commit(spark, corpus: str, out_dir: str, run_id: str) -> dict:
    from pdfi_spark.pipeline import run_pipeline

    shutil.rmtree(out_dir, ignore_errors=True)
    docs = spark.read.parquet(corpus).select("url", "html")
    return run_pipeline(spark, docs, out_dir, run_id=run_id)


def ops_pass(spark, order: list[str], queries: dict, tables: str) -> dict:
    """One pass over the queries to a noop sink; seconds per query."""
    seconds = {}
    for name in order:
        t0 = time.perf_counter()
        force(queries[name](spark, tables))
        seconds[name] = time.perf_counter() - t0
    return seconds


def warm_up(spark, warm_corpus: str) -> None:
    """One task through the extraction UDF: starts the Python worker and
    loads pdfi_spark there."""
    force(prebucketed(spark, warm_corpus).select("url", "n_chars", "error"))


class Checks:
    """Counts attempted and failed operations; a document fails when its
    ``error`` is set or its text differs from the golden, a query when it
    raises or its digest differs from the expected one."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def documents(self, label: str, urls, texts, errors, goldens: dict) -> None:
        seen = set()
        rows = bad = 0
        for url, text, err in zip(urls, texts, errors):
            rows += 1
            seen.add(url)
            # toPandas turns a null string into None or NaN
            bad += (err is not None and err == err) or text != goldens.get(url)
        missing = len(goldens) - len(seen & goldens.keys())
        duplicated = rows - len(seen)
        self.attempted += max(rows, len(goldens))
        self.failed += bad + missing + duplicated
        if bad or missing or duplicated:
            self.notes.append(f"{label}: {bad} wrong, {missing} missing, "
                              f"{duplicated} duplicated of {len(goldens)}")

    def query(self, name: str, digest: list | None, expected: list) -> None:
        self.attempted += 1
        if digest != expected:
            self.failed += 1
            self.notes.append(f"query {name}: got {digest}, expected {expected}")


def check_commit_output(checks: Checks, out_dir: str, goldens: dict) -> list[dict]:
    import pyarrow.dataset as ds

    table = ds.dataset(out_dir, format="parquet", partitioning="hive").to_table(
        columns=["url", "text", "error"])
    checks.documents("commit", table.column("url").to_pylist(),
                     table.column("text").to_pylist(), table.column("error").to_pylist(),
                     goldens)
    with open(os.path.join(out_dir, "_metrics.jsonl"), encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def check_queries(checks: Checks, spark, names: list[str], queries: dict,
                  tables: str, expected: dict) -> None:
    from tools.check_oracles import canon

    for name in names:
        try:
            rows, cols, digest = canon(queries[name](spark, tables).toPandas())
            got = [rows, cols, digest]
        except Exception as exc:  # noqa: BLE001 - a raising query is a counted failure
            got = None
            checks.notes.append(f"query {name} raised {type(exc).__name__}: {exc}"[:500])
        checks.query(name, got, expected[name])


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------

def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "pdfi_spark" / "__init__.py").is_file() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: no pdfi_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    t_process = time.perf_counter()
    spec = dict(WORKLOADS[args.workload])
    if args.scale == "tiny":
        # CORE_SAMPLE keeps its size: it is cheap, and the layer-sum check
        # needs the 1,000 paired documents to rise above noise
        spec["docs"] //= TINY_DIVISOR
    nproc = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{args.scale}"
    run_dir = WORK / "runs" / run_id
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    results_dir = WORK / "results"
    results_dir.mkdir(parents=True, exist_ok=True)

    # Spark's Python workers import pdfi_spark from the checkout root,
    # wherever the benchmark is launched from
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])])
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = spark_submit_args(run_dir, bool(args.trace))
    sys.path.insert(0, str(ROOT))
    sys.path.insert(1, str(HERE))

    # imports count toward set-up; they run before the benchmark's own
    # modules, so the input generation (numpy, pyarrow, pdfgen) does not
    # pre-load them
    t0 = time.perf_counter()
    import __spark_entry__
    import pdfi_spark.ops  # noqa: F401
    import pdfi_spark.pipeline  # noqa: F401
    queries = __spark_entry__.queries()
    t_import = time.perf_counter() - t0
    import inputs
    import tracing

    env = environment(nproc)
    ticks_start = cpu_ticks()
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "scale": args.scale, "env": env}

    # ---- inputs (not part of set-up) -------------------------------------
    t0 = time.perf_counter()
    tables = inputs.ensure_tables(str(WORK), args.scale)
    corpus_table = inputs.build_corpus(spec["corpus"], spec["docs"], args.seed)
    corpus = inputs.write_corpus(corpus_table, str(run_dir / "corpus"), 2 * nproc)
    warm_table = inputs.build_corpus("mixed", 16, 0)
    warm_corpus = inputs.write_corpus(warm_table, str(run_dir / "warm"), 1)
    goldens = dict(zip(corpus_table.column("url").to_pylist(),
                       corpus_table.column("text").to_pylist()))
    with open(HERE / "expected_digests.json", encoding="utf-8") as f:
        expected = json.load(f)[args.scale]
    if args.plant_faults:
        first = corpus_table.column("url")[0].as_py()
        goldens[first] += " planted"
        expected = {**expected, spec["queries"][0]: [-1, [], "planted"]}
    order = list(spec["queries"])
    random.Random(args.seed).shuffle(order)
    record["inputs"] = {"docs": spec["docs"], "corpus_bytes": sum(
        len(b) for b in corpus_table.column("html").to_pylist()),
        "query_order": order, "tables": os.path.basename(tables),
        "input_s": time.perf_counter() - t0}

    checks = Checks()

    # ---- set-up: cold start of the JVM, the session and a Python worker --
    # one sample per run: a set-up that launches its own JVM costs 12-23 s
    # on 4 cores, so several of them would leave no time for the passes
    t0 = time.perf_counter()
    spark = start_session(nproc)
    t1 = time.perf_counter()
    warm_up(spark, warm_corpus)
    t2 = time.perf_counter()
    record["setup"] = {"import_s": t_import, "session_s": t1 - t0, "warm_up_s": t2 - t1}
    setup_s = t_import + t2 - t0
    env["java"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")

    phases = {"setup": setup_s}

    def lap(phase: str) -> None:
        nonlocal t0
        phases[phase] = time.perf_counter() - t0
        t0 = time.perf_counter()

    t0 = time.perf_counter()
    # ---- verification pass (untimed; also warms the timed paths) ---------
    # the corpus commits are checked on the timed passes' own output
    for label, df in (("salted", salted(spark, corpus, nproc)),
                      ("prebucketed", prebucketed(spark, corpus))):
        out = df.select("url", "text", "error").toPandas()
        if args.plant_faults and label == "salted":
            out = out.iloc[[*range(len(out)), 0]]
        checks.documents(label, out["url"], out["text"], out["error"], goldens)
        lap(f"verify_{label}")
    # a commit of the warm-up corpus compiles the write path, so the first
    # timed commit is not a cold one
    warm_dir = str(run_dir / "commit_warm")
    commit(spark, warm_corpus, warm_dir, run_id="warm")
    check_commit_output(checks, warm_dir, dict(zip(warm_table.column("url").to_pylist(),
                                                   warm_table.column("text").to_pylist())))
    lap("verify_commit")
    check_queries(checks, spark, order, queries, tables, expected)
    lap("verify_queries")

    t0 = time.perf_counter()
    if args.trace:
        metrics = traced_run(spark, args, spec, record, checks, tracing, inputs,
                             corpus, tables, order, queries, run_dir, nproc, goldens)
        units = PER_LAYER
    else:
        metrics = timed_run(spark, args, spec, record, checks, corpus, tables, order,
                            queries, run_dir, nproc, goldens)
        metrics["setup_s"] = setup_s
        units = END_TO_END
    phases["measure"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    stop_spark(spark)
    phases["stop"] = time.perf_counter() - t0
    if args.trace:
        metrics.update(event_log_metrics(tracing, run_dir, record, spec, nproc))
    record["phases_s"] = phases

    env["loadavg_end"] = os.getloadavg()
    # CPU time the hypervisor gave to other guests, as a share of this
    # machine's CPU time over the run: co-tenant load shows here
    ticks = [b - a for a, b in zip(ticks_start, cpu_ticks())]
    env["steal_share"] = ticks[7] / sum(ticks[:8])
    record["failed_share"] = checks.failed / checks.attempted
    record["check_notes"] = checks.notes
    record["wall_s"] = time.perf_counter() - t_process
    record["metrics"] = metrics
    result = {
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit in units.items()},
    }
    with open(results_dir / f"{run_id}.json", "w", encoding="utf-8") as f:
        json.dump({**record, "result": result}, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


def settle(spark) -> None:
    """Collect garbage in the driver JVM and in this process, outside the
    timed region, so a collection left over from one pass does not land in
    the next. Without it the JVM heap grows from pass to pass, and the
    peak RSS of one kind of pass ranged 1.95-2.18 GB over two seeds."""
    import gc

    spark.sparkContext._jvm.System.gc()
    gc.collect()


def timed_run(spark, args, spec, record, checks, corpus, tables, order, queries,
              run_dir, nproc, goldens) -> dict:
    samples = {kind: [] for kind in ROUND}
    peaks_mb = {kind: [] for kind in samples}
    query_s = {name: [] for name in order}
    commit_dirs = []
    clock = time.perf_counter
    rss = PeakRss()
    rss.start()
    t_start = clock()
    record["ops_warm_s"] = []
    for _ in range(OPS_WARM_PASSES):
        t0 = clock()
        ops_pass(spark, order, queries, tables)
        record["ops_warm_s"].append(clock() - t0)
    while len(commit_dirs) < MIN_ROUNDS or clock() - t_start < args.seconds:
        for kind in ROUND:
            settle(spark)
            rss.take()
            t0 = clock()
            if kind == "salted":
                force(salted(spark, corpus, nproc).select("url", "n_chars", "error"))
            elif kind == "prebucketed":
                force(prebucketed(spark, corpus).select("url", "n_chars", "error"))
            elif kind == "commit":
                out_dir = str(run_dir / f"commit_{len(commit_dirs)}")
                commit(spark, corpus, out_dir, run_id=f"round{len(commit_dirs)}")
                commit_dirs.append(out_dir)
            else:
                for name, sec in ops_pass(spark, order, queries, tables).items():
                    query_s[name].append(sec)
            samples[kind].append(clock() - t0)
            peaks_mb[kind].append(rss.take())
    rss.stop()
    record["samples_s"] = samples
    record["peak_rss_mb_per_pass"] = peaks_mb
    record["ops_query_samples_s"] = query_s
    record["rounds"] = len(commit_dirs)
    for out_dir in commit_dirs:
        check_commit_output(checks, out_dir, goldens)
        shutil.rmtree(out_dir, ignore_errors=True)
    # a blow-up confined to one kind of pass must show, so the metric is
    # the largest of the per-kind median peaks
    peak_by_kind = {kind: statistics.median(v) for kind, v in peaks_mb.items()}
    record["peak_rss_mb_by_kind"] = peak_by_kind
    n = spec["docs"]
    return {
        "extract_docs_per_s": n / statistics.median(samples["salted"]),
        "extract_prebucketed_docs_per_s": n / statistics.median(samples["prebucketed"]),
        "commit_docs_per_s": n / statistics.median(samples["commit"]),
        "ops_pass_s": statistics.median(samples["ops"]),
        "peak_rss_mb": max(peak_by_kind.values()),
    }


def traced_run(spark, args, spec, record, checks, tracing, inputs, corpus, tables,
               order, queries, run_dir, nproc, goldens) -> dict:
    spans = tracing.Spans(f"{args.workload}-s{args.seed}")
    # a larger sample of the same kind and seed
    sample = inputs.build_corpus(spec["corpus"], CORE_SAMPLE, args.seed)
    urls = sample.column("url").to_pylist()
    pdfs = sample.column("html").to_pylist()
    sample_goldens = sample.column("text").to_pylist()
    with spans.span("core.sample", docs=len(urls)):
        metrics, failures = tracing.core_layers(spans, urls, pdfs, sample_goldens)
    checks.attempted += 2 * len(urls)
    checks.failed += failures
    html_texts = inputs.documents_table(inputs.TABLE_SIZES[args.scale]["documents"]) \
        .column("text").to_pylist()
    with spans.span("core.html_sample", docs=len(html_texts)):
        html_metrics, attempted, failures = tracing.html_layer(html_texts)
    metrics.update(html_metrics)
    checks.attempted += attempted
    checks.failed += failures

    sc = spark.sparkContext
    out_dir = str(run_dir / "commit_traced")
    with spans.span("pipeline.extract_text", path="salted") as s_salted:
        sc.setJobDescription("extract_salted")
        force(salted(spark, corpus, nproc).select("url", "n_chars", "error"))
    with spans.span("pipeline.extract_text", path="prebucketed") as s_pre:
        sc.setJobDescription("extract_prebucketed")
        force(prebucketed(spark, corpus).select("url", "n_chars", "error"))
    with spans.span("pipeline.run_pipeline") as s_commit:
        sc.setJobDescription("commit")
        commit(spark, corpus, out_dir, run_id="traced")
    with spans.span("ops.pass", queries=len(order)) as s_pass:
        for name in order:
            with spans.span(f"ops.{name}"):
                sc.setJobDescription(f"ops:{name}")
                force(queries[name](spark, tables))
    sc.setJobDescription(None)
    manifest = check_commit_output(checks, out_dir, goldens)

    def wall(s):
        return s["end"] - s["start"]

    n = spec["docs"]
    metrics.update({
        "pipeline.boundary_share":
            1 - (n / wall(s_pre)) / (nproc * metrics["core.docs_per_core_s"]),
        "pipeline.commit_extra_s": wall(s_commit) - wall(s_pre),
        "pipeline.commit.p99_ms": max(row["p99_ms"] for row in manifest
                                      if row["p99_ms"] is not None),
        "ops.pass.s": wall(s_pass),
    })
    record["ops_query_s"] = {name: spans.seconds(f"ops.{name}") for name in order}
    for name in COMMON_QUERIES:
        metrics[f"ops.{name}.s"] = record["ops_query_s"][name]
    record["walls_s"] = {"salted": wall(s_salted), "prebucketed": wall(s_pre),
                         "commit": wall(s_commit), "ops_pass": wall(s_pass)}
    spans.write(str(WORK / "results" / f"{args.workload}-s{args.seed}-t1-{args.scale}.spans.jsonl"))
    return metrics


def event_log_metrics(tracing, run_dir, record, spec, nproc) -> dict:
    jobs = tracing.summarize_jobs(tracing.read_event_log(str(run_dir / "eventlog")))
    sal = jobs["extract_salted"]
    task_ms = sal["busiest_stage_task_ms"]
    walls = record["walls_s"]
    metrics = {
        "pipeline.salt_shuffle_s": sal["shuffle_map_stage_s"],
        "pipeline.salt_shuffle_bytes": sal["shuffle_bytes"],
        "pipeline.tasks": sal["tasks"],
        "pipeline.task_ms.max_over_median": max(task_ms) / max(1, statistics.median(task_ms)),
        "pipeline.busy_share": sal["executor_run_s"] / (walls["salted"] * nproc),
        "pipeline.commit.jobs": jobs["commit"]["jobs"],
    }
    per_query = {}
    for name in spec["queries"]:
        q = jobs.get(f"ops:{name}", {"jobs": 0, "stages": 0, "tasks": 0,
                                      "shuffle_bytes": 0, "executor_run_s": 0.0,
                                      "funnel_share": 0.0})
        per_query[name] = {f: q[f] for f in ("jobs", "stages", "tasks", "shuffle_bytes",
                                             "executor_run_s", "funnel_share")}
        per_query[name]["s"] = record["ops_query_s"][name]
    record["ops_by_query"] = per_query
    run_s = sum(q["executor_run_s"] for q in per_query.values())
    metrics.update({
        "ops.pass.jobs": sum(q["jobs"] for q in per_query.values()),
        "ops.pass.stages": sum(q["stages"] for q in per_query.values()),
        "ops.pass.tasks": sum(q["tasks"] for q in per_query.values()),
        "ops.pass.shuffle_bytes": sum(q["shuffle_bytes"] for q in per_query.values()),
        "ops.pass.funnel_share": (sum(q["funnel_share"] * q["executor_run_s"]
                                      for q in per_query.values()) / run_s) if run_s else 0.0,
    })
    for name in COMMON_QUERIES:
        for f in ("jobs", "stages", "tasks", "shuffle_bytes", "funnel_share"):
            metrics[f"ops.{name}.{f}"] = per_query[name][f]
    record["jobs"] = {k: {f: v for f, v in rec.items() if f != "busiest_stage_task_ms"}
                      for k, rec in jobs.items()}
    return metrics


if __name__ == "__main__":
    sys.exit(main())
