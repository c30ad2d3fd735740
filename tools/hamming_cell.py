"""Scale cell for ops.dedup.hamming_pairs (round-20): N pseudo-random
64-bit hashes + P planted twin ids (identical hash at id+10⁹) through
the pigeonhole chunk join in one JVM. Reports wall, total pairs, and —
the in-run exactness probe — how many of the planted twin pairs were
recovered (must be exactly P: hamming 0 pairs can never be missed by
pigeonhole blocking).

Usage: python tools/hamming_cell.py --n 50000000 --plant 100000 \
           --max-hamming 2 --driver-mem 16g
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=50_000_000)
    ap.add_argument("--plant", type=int, default=100_000)
    ap.add_argument("--max-hamming", type=int, default=2)
    ap.add_argument("--driver-mem", default="16g")
    ap.add_argument("--cpus", default="32")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from tools.harness import session

    spark = session("hamming_cell", args.cpus, **{"spark.driver.memory": args.driver_mem})
    from timeseriesfuser_spark.ops.dedup import hamming_pairs

    base = spark.range(args.n).select(
        F.col("id"), F.xxhash64(F.col("id")).alias("h")
    )
    stride = max(1, args.n // args.plant)
    twins = base.filter(F.col("id") % stride == 0).select(
        (F.col("id") + 1_000_000_000).alias("id"), "h"
    )
    df = base.unionByName(twins)

    t0 = time.perf_counter()
    pairs = hamming_pairs(
        df, hash_col="h", id_col="id", bits=64,
        max_hamming=args.max_hamming,
    )
    row = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                (F.col("id_b") - F.col("id_a") == 1_000_000_000)
                & (F.col("hamming") == 0),
                1,
            ).otherwise(0)
        ).alias("planted_recovered"),
    ).collect()[0]
    out = {
        "n": args.n, "plant": args.plant,
        "max_hamming": args.max_hamming, "driver_mem": args.driver_mem,
        "wall_sec": round(time.perf_counter() - t0, 1),
        "n_pairs": row["n"],
        "planted_recovered": row["planted_recovered"],
    }
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
