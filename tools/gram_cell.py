#!/usr/bin/env python
"""SCALE cell for the blocked-cosine gram kernel (guide §4.2/§8): at what
size does moving the per-pair dot from interpreted JVM HOFs into one numpy
gram matmul per block pay, and by how much?

Generates a deterministic file-backed embedding table big enough to clear
the SMALL_INPUT_BYTES switch (so the op itself picks the kernel), then
times BOTH formulations on the same relation:

- arm "join":   the block-key self-join with the zip_with/aggregate dot
                (the pre-r15 physical strategy, inlined here);
- arm "kernel": ops.similarity._blocked_pair_dots + the same JVM
                cosine/threshold tail (what blocked_cosine_pairs now
                plans for large inputs).

Checksums (pair count + sum of round(cosine*1e6)) are printed per arm and
must match exactly — the arms compute the same declared result.

Usage:
    python tools/gram_cell.py [--vectors 100000] [--dims 128] \
        [--blocks 300] [--sf-tmp /tmp/gram_cell]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--vectors", type=int, default=100_000)
    ap.add_argument("--dims", type=int, default=128)
    ap.add_argument("--blocks", type=int, default=300)
    ap.add_argument("--threshold", type=float, default=0.6)
    ap.add_argument("--sf-tmp", default="/tmp/gram_cell")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from tools.harness import session

    spark = session("gram_cell", args.cpus)

    path = os.path.join(args.sf_tmp, f"emb_{args.vectors}x{args.dims}.parquet")
    if not os.path.exists(path):
        # deterministic pseudo-random floats in [-1, 1): hash-derived, no RNG
        (
            spark.range(args.vectors)
            .select(
                F.col("id").alias("vec_id"),
                F.pmod(F.col("id"), F.lit(args.blocks)).alias("label"),
                F.expr(
                    f"transform(sequence(1, {args.dims}), "
                    "i -> (pmod(xxhash64(id * 1000003 + i), 2000001) - 1000000)"
                    " / 1000000.0)"
                ).alias("embedding"),
            )
            .write.mode("overwrite")
            .parquet(path)
        )
    emb = spark.read.parquet(path)
    est = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    print(f"# input: {args.vectors} vecs x {args.dims} dims, "
          f"{args.blocks} blocks, {est/2**20:.0f} MiB on disk", file=sys.stderr)

    from timeseriesfuser_spark.ops.similarity import (
        _blocked_pair_dots,
        _dot,
        _sq_norm,
        quantized,
    )

    rel = emb.select(
        F.col("vec_id").alias("id"),
        F.col("label").alias("__b"),
        quantized(F.col("embedding"), 1000).alias("__v"),
    ).withColumn("__n", _sq_norm(F.col("__v"))).filter(F.col("__n") > 0)

    def join_arm():
        x, y = rel.alias("x"), rel.alias("y")
        dot = _dot(F.col("x.__v"), F.col("y.__v"))
        cos = F.round(
            dot.cast("double")
            / (F.sqrt(F.col("x.__n")) * F.sqrt(F.col("y.__n"))), 6,
        )
        return (
            x.join(
                y,
                (F.col("x.__b") == F.col("y.__b"))
                & (F.col("x.id") < F.col("y.id")),
            )
            .withColumn("cosine", cos)
            .filter(F.col("cosine") >= args.threshold)
            .select("cosine")
        )

    def kernel_arm():
        g = _blocked_pair_dots(rel, ["__b"])
        cos = F.round(
            F.col("__dot").cast("double")
            / (F.sqrt(F.col("__na")) * F.sqrt(F.col("__nb"))), 6,
        )
        return (
            g.withColumn("cosine", cos)
            .filter(F.col("cosine") >= args.threshold)
            .select("cosine")
        )

    out = {}
    for name, arm in (("kernel", kernel_arm), ("join", join_arm)):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        row = arm().agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("cosine") * 1e6).cast("long")).alias("chk"),
        ).collect()[0]
        dt = time.perf_counter() - t0
        out[name] = (dt, row["n"], row["chk"])
        print(f"# {name}: {dt:.1f}s pairs={row['n']} checksum={row['chk']}",
              file=sys.stderr)
    assert out["kernel"][1:] == out["join"][1:], "ARM CHECKSUM MISMATCH"
    print(
        f'{{"cell": "gram_kernel", "vectors": {args.vectors}, '
        f'"dims": {args.dims}, "blocks": {args.blocks}, '
        f'"join_sec": {out["join"][0]:.1f}, '
        f'"kernel_sec": {out["kernel"][0]:.1f}, '
        f'"speedup": {out["join"][0] / out["kernel"][0]:.1f}, '
        f'"pairs": {out["join"][1]}, "checksum_match": true}}'
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
