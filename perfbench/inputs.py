"""Deterministic benchmark inputs.

Two kinds of input, both built by the benchmark itself so a run reads
nothing outside its checkout:

* **Tables** for the operator queries: ``documents``, ``embeddings`` and
  the TPC-H-shaped ``region nation customer supplier orders lineitem``,
  with the same schemas and value shapes as the project's sf test data.
  They depend only on the table scale (fixed generator seed), so the
  expected query digests in ``expected_digests.json`` hold for every run.
* **PDF corpora** for extraction, written with ``core.pdfgen.build_pdf``
  from a fixed 5,000-row source ``documents`` table. The run seed picks
  which (source row, replica id) pairs make up the corpus and, for the
  heavy corpus, which documents are jumbo; the ``text`` column carries
  each document's golden extraction.
"""
from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 20261016
# bumped whenever a generator below changes, so cached tables rebuild
GENERATOR_VERSION = "1"

# rows per table at each scale; "standard" is what the workloads run on,
# "tiny" (about sf0.001) is what the self-test runs on
TABLE_SIZES = {
    "standard": {"documents": 1000, "embeddings": 400, "customer": 1500,
                 "supplier": 100, "orders": 15000, "lineitem": 60000},
    "tiny": {"documents": 100, "embeddings": 100, "customer": 150,
             "supplier": 10, "orders": 1500, "lineitem": 6000},
}
SOURCE_DOCS = 5000  # source rows the extraction corpora replicate
REPLICAS = 4        # replica ids per source row

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_DAY0 = np.datetime64("1995-01-01", "us")
_DAY_US = np.int64(86_400_000_000)


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """Uniform words over VOCAB cut to 44..577 characters; 5% of the
    documents are another document plus a trailing ' dup' (near
    duplicates) and 0.2% are exact copies."""
    vocab = np.array(VOCAB)
    lengths = rng.integers(44, 578, n)
    texts = []
    for length in lengths:
        words = vocab[rng.integers(0, len(vocab), length // 3 + 2)]
        texts.append(" ".join(words)[:length].strip())
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[(i + 1 + rng.integers(0, n - 1)) % n] + " dup"
    for i in rng.choice(n, max(1, n // 500), replace=False):
        texts[i] = texts[(i + 1 + rng.integers(0, n - 1)) % n]
    return texts


def documents_table(n: int, seed: int = TABLE_SEED) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    texts = _texts(rng, n)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, n, days=2400):
    return _DAY0 + rng.integers(0, days, n) * _DAY_US


def tables(scale: str) -> dict[str, pa.Table]:
    size = TABLE_SIZES[scale]
    rng = np.random.default_rng([TABLE_SEED, 2])
    out = {"documents": documents_table(size["documents"])}

    n = size["embeddings"]
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + 0.6 * rng.normal(size=(n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })

    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    n = size["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n).tolist()),
    })
    n_cust = n
    n = size["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
    })
    n_supp = n
    n = size["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n).tolist()),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n)),
        "o_orderdate": pa.array(_dates(rng, n)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n).tolist()),
    })
    n_orders = n
    n = size["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n)),
        "l_partkey": pa.array(rng.integers(0, 2000, n)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n).tolist()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n).tolist()),
        "l_shipdate": pa.array(_dates(rng, n, days=2500)),
    })
    return out


def ensure_tables(work: str, scale: str) -> str:
    """Write the scale's tables once per checkout (one single-row-group
    parquet file each, like the sf test data) and return their dir."""
    out = os.path.join(work, f"tables_{scale}_v{GENERATOR_VERSION}")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables(scale).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


# --------------------------------------------------------------------------
# extraction corpora
# --------------------------------------------------------------------------

def build_corpus(kind: str, n_docs: int, seed: int) -> pa.Table:
    """(url, html, text) rows: ``html`` is the PDF, ``text`` the golden.

    ``mixed`` rotates ``datagen.MIXED_RECIPES`` by doc id (about 1.5 KB
    per PDF); ``heavy`` repeats the source text 10x into a multipage PDF
    (about 6 KB) and makes 1% of the documents jumbo by the datagen skew
    rule (text x50)."""
    from pdfi_spark.core.pdfgen import ORACLE_PER_BLOCK, build_pdf
    from pdfi_spark.datagen import MIXED_RECIPES, url_for

    source = documents_table(SOURCE_DOCS).column("text").to_pylist()
    rng = np.random.default_rng([seed, {"mixed": 1, "heavy": 2}[kind]])
    picks = rng.choice(len(source) * REPLICAS, size=n_docs, replace=False)
    jumbo = set()
    if kind == "heavy":
        jumbo = set(rng.choice(n_docs, max(1, n_docs // 100), replace=False).tolist())
    urls, pdfs, goldens = [], [], []
    for i, pick in enumerate(picks.tolist()):
        text = source[pick // REPLICAS]
        if kind == "mixed":
            pdf, golden = build_pdf(text, MIXED_RECIPES[pick % len(MIXED_RECIPES)],
                                    per_block=ORACLE_PER_BLOCK)
        else:
            repeat = 50 if i in jumbo else 10
            pdf, golden = build_pdf(" ".join([text] * repeat), "multipage",
                                    per_block=40)
        urls.append(url_for(pick))
        pdfs.append(pdf)
        goldens.append(golden)
    return pa.table({
        "url": pa.array(urls, pa.string()),
        "html": pa.array(pdfs, pa.binary()),
        "text": pa.array(goldens, pa.string()),
    })


def write_corpus(table: pa.Table, path: str, n_files: int) -> str:
    """Split the corpus over ``n_files`` parquet files so the
    un-repartitioned scan plans that many tasks."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:04d}.parquet"))
    return path
