"""Tracing for the benchmark's traced run (``--trace 1``).

Everything here wraps public calls of ``pdfi_spark`` from the outside;
nothing inside the program is patched.

* ``Spans`` keeps one record per wrapped call (name, start, end, parent,
  run id) in memory and writes them out once at the end.
* ``core_layers`` replays ``core.api.extract_record`` call by call over a
  corpus sample and times each layer, paired per document with untraced
  ``extract_record`` calls.
* ``read_event_log`` / ``summarize_jobs`` turn Spark's event log into
  per-job-description counts (jobs, stages, tasks, shuffle bytes,
  executor time).
"""
from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

CORE_LAYERS = ("parse", "decode", "interpret", "cluster", "assemble")
REPEATS = 3  # runs of each document on each side of the core comparison


class Spans:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.records), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.records.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        """Record a span measured by the caller; cheaper than ``span`` for
        hot per-document calls."""
        self.records.append({"id": len(self.records), "name": name, "run_id": self.run_id,
                             "parent": parent, "start": start, "end": end, **attrs})
        return len(self.records) - 1

    def seconds(self, name: str) -> float:
        return sum(r["end"] - r["start"] for r in self.records if r["name"] == name)

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for rec in self.records:
                f.write(json.dumps(rec) + "\n")


def _percentile(values: list[float], q: float) -> float:
    ordered = sorted(values)
    return ordered[min(len(ordered) - 1, int(q * len(ordered)))]


def core_layers(spans: Spans, urls: list[str], pdfs: list[bytes],
                goldens: list[str]) -> tuple[dict, int]:
    """Per-layer core cost over the sample, in ``extract_record``'s call
    order, one span per wrapped call. Each document runs ``REPEATS`` times
    through the untraced ``extract_record`` and as often through the
    traced replay, the two interleaved and alternating which side goes
    first; the fastest run of each side counts.

    Time is the thread's CPU time (``time.thread_time``), so the spans
    carry ``clock="thread_cpu"``: on a shared host, wall time lets another
    tenant's load into the comparison. Two identical calls compared this
    way differed by about 0.05% over 1,000 heavy documents on 4 cores,
    against 0.5-0.8% with ``time.perf_counter``, which is more than the
    tracer's own cost. Returns (metrics, failures); a failure is a document whose traced or
    untraced text differs from its golden in any run."""
    from pdfi_spark.core.api import extract_record
    from pdfi_spark.core.assemble import paper_from_paragraphs, paper_to_string, render_text_spans
    from pdfi_spark.core.doc import PDFDocument
    from pdfi_spark.core.geometry import make_rectangle
    from pdfi_spark.core.layout import group_columns, group_lines, partition_words, split_paragraphs

    counts = {"spans": 0, "decoded": 0}
    untraced_ms, traced_ms = [], []
    failures = 0

    clock = time.thread_time

    def traced(data: bytes) -> tuple[str, list, float, int, int]:
        # only clock reads run inside the timed call; the spans are
        # recorded afterwards, for the fastest run. Each layer's span
        # starts where the previous one ended, so the five layers tile the
        # call and the loop's own steps count toward the next layer. The
        # assemble span is closed by the caller, after the return has
        # released the document's objects, as extract_record's timing
        # includes that release too
        t_doc = clock()
        doc = PDFDocument(data)
        pages = doc.pages
        t = clock()
        layers = [("core.parse", t_doc, t)]
        paragraphs = []
        n_spans = n_decoded = 0
        for page in pages:
            buf = page.join_contents(b"\n")
            t1 = clock()
            box = page.media_box
            text_spans = render_text_spans(
                make_rectangle(box[0], box[1], box[2], box[3]), buf, page.resources)
            t2 = clock()
            lines = group_lines(text_spans)
            containers = [{"minX": ln["minX"], "minY": ln["minY"],
                           "maxX": ln["maxX"], "maxY": ln["maxY"],
                           "elements": partition_words(ln["elements"])} for ln in lines]
            for column in group_columns(containers):
                paragraphs.extend(split_paragraphs(column))
            t3 = clock()
            layers += [("core.decode", t, t1), ("core.interpret", t1, t2),
                       ("core.cluster", t2, t3)]
            t = t3
            n_spans += len(text_spans)
            n_decoded += len(buf)
        text = paper_to_string(paper_from_paragraphs(paragraphs))
        return text, layers, t, n_spans, n_decoded

    for url, data in zip(urls[:20], pdfs[:20]):
        extract_record(url, data)  # first calls load fonts and caches
    for i, (url, data, golden) in enumerate(zip(urls, pdfs, goldens)):
        best_untraced = best_traced = None
        ok_untraced = ok_traced = True
        for _ in range(REPEATS):
            for side in ((0, 1) if i % 2 == 0 else (1, 0)):
                t0 = clock()
                if side == 0:
                    rec = extract_record(url, data)
                    elapsed = clock() - t0
                    ok_untraced &= rec["error"] is None and rec["text"] == golden
                    if best_untraced is None or elapsed < best_untraced:
                        best_untraced = elapsed
                else:
                    run = traced(data)
                    t_end = clock()
                    elapsed = t_end - t0
                    ok_traced &= run[0] == golden
                    if best_traced is None or elapsed < best_traced[0]:
                        best_traced = (elapsed, run, t_end)
        failures += (not ok_untraced) + (not ok_traced)
        untraced_ms.append(best_untraced * 1000.0)
        traced_ms.append(best_traced[0] * 1000.0)
        _, (_, layers, t_assemble, n_spans, n_decoded), t_end = best_traced
        layers.append(("core.assemble", t_assemble, t_end))
        parent = spans.add("core.doc", layers[0][1], t_end, spans.current(), clock="thread_cpu")
        for name, start, end in layers:
            spans.add(name, start, end, parent, clock="thread_cpu")
        counts["spans"] += n_spans
        counts["decoded"] += n_decoded
    n = len(urls)
    metrics = {f"core.{layer}.us_per_doc": spans.seconds(f"core.{layer}") / n * 1e6
               for layer in CORE_LAYERS}
    metrics.update({
        "core.spans_per_doc": counts["spans"] / n,
        "core.decoded_bytes_per_doc": counts["decoded"] / n,
        "core.doc_ms.p50": statistics.median(untraced_ms),
        "core.doc_ms.p99": _percentile(untraced_ms, 0.99),
        "core.docs_per_core_s": 1000.0 * n / sum(untraced_ms),
        "core.trace_overhead_share": (sum(traced_ms) - sum(untraced_ms)) / sum(untraced_ms),
    })
    return metrics, failures


def html_layer(texts: list[str]) -> tuple[dict, int, int]:
    """``core.html.extract_main_text`` over boilerplate-wrapped pages
    built from the sample texts. Returns (metrics, attempted, failures)."""
    from pdfi_spark.core.html import extract_main_text
    from pdfi_spark.core.htmlgen import ORACLE_PER_BLOCK, build_html

    pages = [build_html(t, "boiler", per_block=ORACLE_PER_BLOCK) for t in texts]
    failures = 0
    t0 = time.thread_time()  # CPU time, as in core_layers
    outs = [extract_main_text(page) for page, _ in pages]
    elapsed = time.thread_time() - t0
    for out, (_, expected) in zip(outs, pages):
        failures += out != expected
    return {"core.html.us_per_doc": elapsed / len(pages) * 1e6}, len(pages), failures


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    """Events of the one application under ``log_dir``. Spark 4.1 writes
    rolling ``eventlog_v2_*/events_N_*.zstd`` files; a plain single-file
    log is read too."""
    import pyarrow as pa

    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    if not files:
        files = sorted(p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p))
    events = []
    for path in files:
        codec = "zstd" if path.endswith(".zstd") else None
        with pa.input_stream(path, compression=codec) as stream:
            for line in stream.read().decode("utf-8").splitlines():
                if line:
                    events.append(json.loads(line))
    return events


def summarize_jobs(events: list[dict]) -> dict[str, dict]:
    """Per job description: jobs, stages, tasks, shuffle bytes written,
    executor run time, funnel share (executor time in stages of <= 2
    tasks), task durations of the busiest stage and shuffle-map stage
    wall time."""
    stage_desc: dict[int, str] = {}
    out: dict[str, dict] = {}
    stage_tasks: dict[int, list[dict]] = {}
    stage_wall: dict[int, float] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            if desc is None:
                continue
            out.setdefault(desc, {"jobs": 0})["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_desc[sid] = desc
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            stage_tasks.setdefault(ev["Stage ID"], []).append({
                "ms": info["Finish Time"] - info["Launch Time"],
                "run_ms": m.get("Executor Run Time", 0),
                "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
            })
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            if "Completion Time" in si and "Submission Time" in si:
                stage_wall[si["Stage ID"]] = (si["Completion Time"] - si["Submission Time"]) / 1000.0
    for desc, rec in out.items():
        sids = [s for s, d in stage_desc.items() if d == desc and s in stage_tasks]
        tasks = [t for s in sids for t in stage_tasks[s]]
        run_ms = sum(t["run_ms"] for t in tasks)
        funnel_ms = sum(t["run_ms"] for s in sids if len(stage_tasks[s]) <= 2
                        for t in stage_tasks[s])
        busiest = max(sids, key=lambda s: sum(t["run_ms"] for t in stage_tasks[s]), default=None)
        rec.update({
            "stages": len(sids),
            "tasks": len(tasks),
            "shuffle_bytes": sum(t["shuffle_write"] for t in tasks),
            "executor_run_s": run_ms / 1000.0,
            "funnel_share": funnel_ms / run_ms if run_ms else 0.0,
            "busiest_stage_task_ms": [t["ms"] for t in stage_tasks[busiest]] if busiest is not None else [],
            "shuffle_map_stage_s": sum(stage_wall.get(s, 0.0) for s in sids
                                       if any(t["shuffle_write"] for t in stage_tasks[s])),
        })
    return out
