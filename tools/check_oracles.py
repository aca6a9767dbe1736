"""Local replica of the driver's correctness gate: run every
__spark_entry__ query on Spark and its oracle on DuckDB at the given SF,
compare row count, schema shape, and an order-insensitive value hash.
Each passing query prints its ``[rows, md5]``, so the OK lines of two
runs (say, before and after a refactor) can be diffed.

Usage: python tools/check_oracles.py [sf_dir] [query_name ...]
"""
from __future__ import annotations

import hashlib
import json
import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> tuple[int, list[str], str]:
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for row in df.itertuples(index=False):
        parts = []
        for v in row:
            if isinstance(v, float):
                parts.append(f"{v:.6f}")
            else:
                parts.append(str(v))
        rows.append("\x1f".join(parts))
    rows.sort()
    digest = hashlib.md5("\x1e".join(rows).encode()).hexdigest()
    return len(df), list(df.columns), digest


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from pdfi_spark.pipeline import make_spark

    spark = make_spark("oracle-check", master="local[8]", shuffle_partitions=8)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            spark_df = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR: {exc}"))
            print(f"FAIL {name}: spark error {str(exc)[:2000]}")
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"SKIP {name}: no oracle (rows-only check), rows={len(spark_df)}")
            continue
        try:
            duck_df = con.execute(sql).df()
        except Exception as exc:  # noqa: BLE001
            failures.append((name, f"DUCKDB ERROR: {exc}"))
            print(f"FAIL {name}: duckdb error {str(exc)[:2000]}")
            continue
        sn, scols, shash = canon(spark_df)
        dn, dcols, dhash = canon(duck_df)
        ok = (sn == dn) and (scols == dcols) and (shash == dhash)
        if ok:
            # [rows, md5] per query: two runs' OK lines diff directly
            print(f"OK   {name}: {json.dumps([sn, shash])}")
            continue
        print(f"FAIL {name}: spark rows={sn} duck rows={dn} cols={scols == dcols} hash={shash == dhash}")
        failures.append((name, f"rows {sn}/{dn} cols {scols}/{dcols}"))
        merged = spark_df.reindex(sorted(spark_df.columns), axis=1)
        print("  spark head:", merged.head(3).to_dict("records"))
        print("  duck head:", duck_df.reindex(sorted(duck_df.columns), axis=1).head(3).to_dict("records"))
    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILURES: {[f[0] for f in failures]}")
        return 1
    print("\nall queries match their oracles")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
