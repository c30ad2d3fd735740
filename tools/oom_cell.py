"""The memory-regime minhash cell (VERDICT r12 #4): 11.5M tiny docs =
92M band-block rows through ``minhash_lsh_pairs`` in ONE JVM at a given
driver memory — the configuration SCALE.md r18 recorded as "OOMs
outright below ~64g". Used to locate the OOM site and to prove the
graceful-degradation fix: completion at 16g with checksum equality
against the cap-off arm.

Usage:
    python tools/oom_cell.py --docs 11500000 --driver-mem 16g \
        [--max-bucket auto|none|<int>] [--cache true|false]
Prints one JSON line with wall, checksum (n_pairs, Σid_a*31+id_b), rc.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=11_500_000)
    ap.add_argument("--driver-mem", default="16g")
    ap.add_argument("--max-bucket", default="auto")
    ap.add_argument("--cache", default="true")
    ap.add_argument("--size-hint", type=int, default=None)
    ap.add_argument("--band-batches", type=int, default=None)
    ap.add_argument("--plant", type=int, default=0)
    ap.add_argument("--cpus", default="32")
    args = ap.parse_args()
    mb = args.max_bucket
    if mb == "none":
        mb = None
    elif mb != "auto":
        mb = int(mb)
    cache = args.cache.lower() == "true"

    from pyspark.sql import functions as F

    from tools.harness import session

    spark = session("oom_cell", args.cpus, **{"spark.driver.memory": args.driver_mem})

    # 5 unique words per doc (disjoint across docs) — the
    # test_cap_ladder_scale corpus shape at scale. --plant N adds N
    # exact-duplicate twins (doc i and 10⁹+i share text) so the pair
    # checksum is non-trivial for drop-decision equality comparisons.
    docs = spark.range(args.docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(F.lit("w"), (F.col("id") * 7 + j).cast("string"))
                for j in range(5)
            ],
        ).alias("text"),
    )
    if args.plant:
        stride = max(1, args.docs // args.plant)
        twins = docs.filter(F.col("doc_id") % stride == 0).select(
            (F.col("doc_id") + 1_000_000_000).alias("doc_id"), "text"
        )
        docs = docs.unionByName(twins)
    from timeseriesfuser_spark.ops.dedup import minhash_lsh_pairs

    t0 = time.perf_counter()
    out = {"docs": args.docs, "driver_mem": args.driver_mem,
           "max_bucket": args.max_bucket, "cache": cache}
    pairs = minhash_lsh_pairs(
        docs, n=1, threshold=0.5, bands=8, cache=cache, max_bucket=mb,
        size_hint=args.size_hint, band_batches=args.band_batches,
    )
    row = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("id_a") * 31 + F.col("id_b")).alias("s"),
    ).collect()[0]
    out["wall_sec"] = round(time.perf_counter() - t0, 1)
    out["checksum"] = [row["n"], row["s"]]
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
