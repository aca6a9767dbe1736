#!/usr/bin/env python3
"""Compute the expected digest of every benchmark query from its DuckDB
``oracle_sql()`` twin over the benchmark's generated tables, and write
``perfbench/expected_digests.json``.

    python3 perfbench/make_digests.py           # rewrite the file
    python3 perfbench/make_digests.py --check   # compare, exit 1 on drift

A digest is ``[rows, columns, md5]`` as ``tools/check_oracles.canon``
gives it. Run this only when the table generator or a query's oracle
changes; every benchmark run compares Spark's output against the file.
"""
from __future__ import annotations

import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(1, str(HERE))

import duckdb  # noqa: E402

import inputs  # noqa: E402
from run import WORK, WORKLOADS  # noqa: E402


def digests(scale: str) -> dict[str, list]:
    from __spark_entry__ import oracle_sql
    from tools.check_oracles import canon

    tables = inputs.ensure_tables(str(WORK), scale)
    con = duckdb.connect()
    for path in sorted(Path(tables).glob("*.parquet")):
        con.execute(f"CREATE VIEW {path.stem} AS SELECT * FROM read_parquet('{path}')")
    sql = oracle_sql()
    names = sorted({q for spec in WORKLOADS.values() for q in spec["queries"]})
    out = {}
    for name in names:
        rows, cols, digest = canon(con.execute(sql[name]).df())
        out[name] = [rows, cols, digest]
    return out


def main() -> int:
    result = {scale: digests(scale) for scale in inputs.TABLE_SIZES}
    path = HERE / "expected_digests.json"
    if "--check" in sys.argv[1:]:
        committed = json.loads(path.read_text())
        drift = [f"{s}/{q}" for s in result for q in result[s]
                 if committed.get(s, {}).get(q) != result[s][q]]
        print("digests match" if not drift else f"digest drift: {drift}")
        return 1 if drift else 0
    path.write_text(json.dumps(result, indent=1, sort_keys=True) + "\n")
    print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
