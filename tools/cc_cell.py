"""Scale cell for ops.dedup.connected_components (VERDICT r14 #5): the
pair generators (LSH/hamming/simhash) have 9M-50M-row SCALE.md cells;
this gives the CC that clusters their output the same evidence at
>=50M edges with the two stresses the verdict named — a few GIANT
components and Zipf component-size skew.

Planted graph (all closed-form, nothing collected):
- three giant PATH components (default 20M/10M/5M nodes) — a path's
  diameter equals its size, the worst case for label propagation, so
  the cell measures exactly the pointer-doubling convergence
  (~log2(diameter) rounds) the verdict flagged as the likely 100 TB
  wall;
- a Zipf tail: bands b=1..10 of path components of size 2^b with node
  counts halving per band (count ~ size^-2, the Zipf(2) shape of
  near-dup cluster sizes) — ~11M small components.

Truth is ANALYTIC: components are contiguous id ranges, so
cluster_id(i) = its range base, and n_nodes / n_components /
sum(cluster_id) all have closed forms (same in-run exactness pattern as
tools/hamming_cell.py). Peak scratch disk is sampled from the block
manager's local directories (tools/harness.py::sample_scratch_peak).

Usage: python tools/cc_cell.py --driver-mem 16g --cpus 32
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
    ap.add_argument("--giants", default="20000000,10000000,5000000")
    ap.add_argument("--tail-base-nodes", type=int, default=1 << 24)
    ap.add_argument("--tail-bands", type=int, default=10)
    ap.add_argument("--max-iterations", type=int, default=30)
    ap.add_argument("--driver-mem", default="16g")
    ap.add_argument("--cpus", default="32")
    ap.add_argument(
        "--plan-out",
        default=None,
        help="write the round-1 propagation plan (from the _stats "
        "diagnostics hook) to this file",
    )
    ap.add_argument(
        "--event-log-dir",
        default=None,
        help="enable Spark event logging into this directory (guide §1: "
        "per-stage attribution without the live UI)",
    )
    ap.add_argument(
        "--driver-java-opts",
        default=None,
        help="extra JVM options for the local-mode driver (e.g. "
        "'-Xlog:gc' to attribute inter-job stalls to GC)",
    )
    args = ap.parse_args()

    giants = [int(x) for x in args.giants.split(",") if x]
    from pyspark.sql import functions as F

    from tools.harness import sample_scratch_peak, session

    if args.event_log_dir:
        os.makedirs(args.event_log_dir, exist_ok=True)
    spark = session("cc_cell", args.cpus, **{
        "spark.driver.memory": args.driver_mem,
        "spark.eventLog.enabled": "true" if args.event_log_dir else None,
        "spark.eventLog.dir": args.event_log_dir,
        "spark.driver.extraJavaOptions": args.driver_java_opts,
    })
    from timeseriesfuser_spark.ops.dedup import connected_components

    # --- plant: contiguous-range path components
    ranges = []  # (base, size, count) — count components of `size` from base
    off = 0
    for g in giants:
        ranges.append((off, g, 1))
        off += g
    nb = args.tail_base_nodes
    for b in range(1, args.tail_bands + 1):
        size = 1 << b
        nodes = nb >> (b - 1)
        count = nodes // size
        if count == 0:
            break
        ranges.append((off, size, count))
        off += count * size

    n_nodes = sum(s * c for _, s, c in ranges)
    n_comps = sum(c for _, s, c in ranges)
    n_edges = sum((s - 1) * c for _, s, c in ranges)
    # sum over components of base*size (cluster_id truth is the range base)
    sum_cluster = 0
    for base, s, c in ranges:
        # bases base, base+s, ..., base+(c-1)s; each contributes base_k * s
        sum_cluster += s * (c * base + s * (c * (c - 1) // 2))

    # edges: within [lo, lo+c*s): (i, i+1) unless (i-lo) % s == s-1
    edge_dfs = []
    for base, s, c in ranges:
        hi = base + s * c
        e = spark.range(base, hi - 1).filter(
            ((F.col("id") - base) % s) != (s - 1)
        )
        edge_dfs.append(
            e.select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
        )
    edges = edge_dfs[0]
    for e in edge_dfs[1:]:
        edges = edges.unionByName(e)

    stop_sampler = sample_scratch_peak(spark)

    # pre-seeding round1_plan opts in to the plan-capture diagnostic
    stats: dict = {"round1_plan": None} if args.plan_out else {}
    t0 = time.perf_counter()
    comp = connected_components(
        edges, max_iterations=args.max_iterations, _stats=stats
    )
    row = comp.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("cluster_id").alias("k"),
        F.sum("cluster_id").alias("s"),
    ).collect()[0]
    wall = time.perf_counter() - t0
    peak_bytes = stop_sampler()

    if args.plan_out and stats.get("round1_plan"):
        with open(args.plan_out, "w") as f:
            f.write(
                "connected_components round-1 propagation relation at "
                f"{n_edges} edges / {n_nodes} nodes, executedPlan:\n\n"
            )
            f.write(stats["round1_plan"])

    ok = (
        row["n"] == n_nodes
        and row["k"] == n_comps
        and int(row["s"]) == sum_cluster
    )
    print(json.dumps({
        "cell": "connected_components",
        "n_edges": n_edges,
        "n_nodes": n_nodes,
        "n_components": n_comps,
        "giants": giants,
        "wall_sec": round(wall, 1),
        "iterations": stats.get("iterations"),
        "converged": stats.get("converged"),
        "labeled_nodes": row["n"],
        "distinct_clusters": row["k"],
        "sum_cluster_id": int(row["s"]),
        "sum_cluster_id_expected": sum_cluster,
        "exact": ok,
        "peak_scratch_bytes": peak_bytes,
        "driver_mem": args.driver_mem,
    }))
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
