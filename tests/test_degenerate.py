"""Degenerate inputs through the oracle gate: zero-row copies of the
sf0.001 tables. Most queries here embed scalars collected to Python (a
corpus token total, a document count) that once crashed on an empty
corpus (``float(None)``, ``None / int``, ``1.0 / 0``); ``extract_errors``
once counted its errors as NULL there. Each must return what its DuckDB
oracle returns."""
import os

import duckdb
import pyarrow.parquet as pq
import pytest

from __spark_entry__ import SF0001 as SF
from tools.check_oracles import TABLES, canon

EMPTY_INPUT_QUERIES = [
    "unigram_surprisal",
    "surprisal_buckets",
    "pmi_collocations",
    "bm25_topk",
    "link_graph_pagerank",
    "link_graph_pagerank_dangling",
    "link_graph_hits",
    "extract_errors",
]


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("sf_empty")
    for t in TABLES:
        table = pq.read_table(os.path.join(SF, f"{t}.parquet"))
        pq.write_table(table.slice(0, 0), str(d / f"{t}.parquet"))
    return str(d)


@pytest.mark.parametrize("name", EMPTY_INPUT_QUERIES)
def test_empty_tables_match_oracle(spark, empty_sf, name):
    from __spark_entry__ import oracle_sql, queries

    got = canon(queries()[name](spark, empty_sf).toPandas())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{empty_sf}/{t}.parquet')")
    assert got == canon(con.execute(oracle_sql()[name]).df())
