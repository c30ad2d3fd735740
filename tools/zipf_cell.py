"""The PPJoin Zipf measurement cell (SCALE.md rounds 17-19): a
collision-heavy corpus where set-similarity candidate volume dominates —
N docs of K distinct Zipf-distributed tokens, threshold t=0.3 — used to
measure verify-stage changes under the 650:1 verify-to-hit regime.

Usage:
    python tools/zipf_cell.py --docs 200000 [--rounds 2] [--cand-only]
Prints one JSON line: interleaved A/B of _bound_filter OFF (the r18
verify path) vs ON (the round-19 bucket-count bound), plus the
verify-input pair counts and result checksums for both arms.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_corpus(spark, n_docs: int, k: int = 12, vocab: int = 50_000,
                 alpha: float = 1.15, seed: int = 7) -> str:
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(seed)
    p = 1.0 / np.power(np.arange(1, vocab + 1, dtype=np.float64), alpha)
    p /= p.sum()
    draws = rng.choice(vocab, size=(n_docs, k), p=p)
    texts = [
        " ".join(f"w{t}" for t in dict.fromkeys(row))
        for row in draws
    ]
    pdf = pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64),
                        "text": texts})
    out = os.path.join(tempfile.mkdtemp(prefix="tsf_zipf_"), "docs.parquet")
    spark.createDataFrame(pdf).repartition(32).write.parquet(out)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=200_000)
    ap.add_argument("--k", type=int, default=12)
    ap.add_argument("--vocab", type=int, default=50_000)
    ap.add_argument("--alpha", type=float, default=1.15)
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--warmup", type=int, default=1)
    ap.add_argument("--cpus", default="32")
    ap.add_argument("--threshold", default="3,10")
    ap.add_argument("--cand-only", action="store_true",
                    help="measure candidate counts only (fast calibration)")
    args = ap.parse_args()
    tn, td = (int(x) for x in args.threshold.split(","))

    from pyspark.sql import functions as F

    from tools.harness import session

    spark = session("zipf_cell", args.cpus)
    path = build_corpus(spark, args.docs, args.k, args.vocab, args.alpha)
    docs = spark.read.parquet(path)

    from timeseriesfuser_spark.ops.dedup import set_similarity_pairs

    out = {"docs": args.docs, "k": args.k, "vocab": args.vocab,
           "alpha": args.alpha, "threshold": [tn, td]}

    # verify-input volumes (what each arm feeds the exact verify)
    for tag, bf in (("off", False), ("on", True)):
        t0 = time.perf_counter()
        cnt = set_similarity_pairs(
            docs, n=1, threshold=(tn, td), _bound_filter=bf,
            _cand_only=True,
        ).count()
        out[f"cand_{tag}"] = cnt
        out[f"cand_{tag}_sec"] = round(time.perf_counter() - t0, 1)
        spark.catalog.clearCache()
    if args.cand_only:
        print(json.dumps(out), flush=True)
        spark.stop()
        return

    def checksum(df):
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("id_a") * 31 + F.col("id_b")).alias("s"),
            F.sum("intersection").alias("i"),
            F.sum("union_size").alias("u"),
        ).collect()[0]
        return [r["n"], r["s"], r["i"], r["u"]]

    sums = {}

    def arm(bf, tag):
        def run(s):
            sums[tag] = checksum(
                set_similarity_pairs(
                    docs, n=1, threshold=(tn, td), _bound_filter=bf
                )
            )

        return run

    from tools.ab import interleaved_ab

    res = interleaved_ab(
        spark,
        {"off": arm(False, "off"), "on": arm(True, "on")},
        rounds=args.rounds,
        warmup=args.warmup,
    )
    out.update(res)
    out["checksum_off"] = sums["off"]
    out["checksum_on"] = sums["on"]
    out["checksums_equal"] = sums["off"] == sums["on"]
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
