"""Scale cell for ops.graph's iterative loops (VERDICT r15 #1): pagerank
and shortest_hops carry the exact checkpoint/unpersist pattern whose
failure mode the 57M-edge connected_components cell proved fatal at 16 g
(deserialized eager localCheckpoint per round, stale rounds never freed,
loop-invariant edge relation re-shuffled per iteration). This cell gives
those loops the same >=50M-edge evidence, baseline-first.

Planted graph (all closed-form, nothing collected):
- three giant STARS (default 20M/10M/5M leaves) — the hub-skew worst
  case: the center's contribution row fans into every leaf and the
  center aggregates every leaf's contribution;
- cycles (default 4 x 5M nodes) — volume with a trivially exact truth
  (on a cycle every node keeps rank exactly 1e6 ppm at every iteration:
  deg = 2, two neighbors each contribute rank DIV 2).

Truth is ANALYTIC: a star is 2-state symmetric (center, leaf), so the
exact integer fixed-point iteration is simulated per star in O(iters)
driver Python (same truncating-DIV arithmetic as the operator); cycle
ranks are the constant 1e6. For BFS the seeds are the star centers plus
one cycle node: hops are 0 for seeds, 1 for leaves, and 1..max_hops in
pairs along the seeded cycle.

Usage:
    python tools/graph_cell.py --op pagerank --driver-mem 16g --cpus 32
    python tools/graph_cell.py --op bfs --driver-mem 16g --cpus 32
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PPM = 1_000_000


def simulate_star(leaves: int, iterations: int, damping_ppm: int):
    """Exact integer pagerank on an undirected star with ``leaves`` leaves:
    2-state symmetric iteration, the same truncating-DIV update as
    ops.graph.pagerank (Python ints are exact, like decimal(38,0))."""
    base = PPM - damping_ppm
    rc = rl = PPM  # center, leaf
    for _ in range(iterations):
        contrib_center = leaves * (rl // 1)  # each leaf has degree 1
        contrib_leaf = rc // leaves  # center spreads over `leaves` edges
        rc, rl = (
            base + (damping_ppm * contrib_center) // PPM,
            base + (damping_ppm * contrib_leaf) // PPM,
        )
    return rc, rl


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--op", choices=["pagerank", "bfs"], default="pagerank")
    ap.add_argument("--stars", default="20000000,10000000,5000000")
    ap.add_argument("--cycles", default="5000000,5000000,5000000,5000000")
    ap.add_argument("--iterations", type=int, default=6)
    ap.add_argument("--max-hops", type=int, default=3)
    ap.add_argument("--damping-ppm", type=int, default=850_000)
    ap.add_argument("--driver-mem", default="16g")
    ap.add_argument("--cpus", default="32")
    ap.add_argument(
        "--plan-out",
        default=None,
        help="write the round-1 iteration plan (from the _stats "
        "diagnostics hook) to this file",
    )
    args = ap.parse_args()

    stars = [int(x) for x in args.stars.split(",") if x]
    cycles = [int(x) for x in args.cycles.split(",") if x]

    from pyspark.sql import functions as F

    from tools.harness import sample_scratch_peak, session

    spark = session("graph_cell", args.cpus, **{"spark.driver.memory": args.driver_mem})
    from timeseriesfuser_spark.ops import graph as G

    # --- plant: stars then cycles over contiguous id ranges
    edge_dfs = []
    off = 0
    star_centers = []
    for leaves in stars:
        center = off
        star_centers.append((center, leaves))
        # (center, center+1..center+leaves)
        e = spark.range(center + 1, center + leaves + 1).select(
            F.lit(center).alias("id_a"), F.col("id").alias("id_b")
        )
        edge_dfs.append(e)
        off += leaves + 1
    cycle_bases = []
    for s in cycles:
        base = off
        cycle_bases.append((base, s))
        # path edges (i, i+1) for i in [base, base+s-2] plus the closing
        # edge (base, base+s-1)
        e = spark.range(base, base + s - 1).select(
            F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
        )
        closing = spark.range(1).select(
            F.lit(base).alias("id_a"), F.lit(base + s - 1).alias("id_b")
        )
        edge_dfs.append(e.unionByName(closing))
        off += s
    edges = edge_dfs[0]
    for e in edge_dfs[1:]:
        edges = edges.unionByName(e)

    n_nodes = sum(l + 1 for l in stars) + sum(cycles)
    n_edges = sum(stars) + sum(cycles)

    stop_sampler = sample_scratch_peak(spark)

    stats: dict = {"round1_plan": None} if args.plan_out else {}
    t0 = time.perf_counter()
    if args.op == "pagerank":
        try:
            pr = G.pagerank(
                edges,
                iterations=args.iterations,
                damping_ppm=args.damping_ppm,
                _stats=stats,
            )
        except TypeError:
            # pre-r16 signature (baseline measurement): no _stats hook
            pr = G.pagerank(
                edges, iterations=args.iterations, damping_ppm=args.damping_ppm
            )
        row = pr.agg(
            F.count(F.lit(1)).alias("n"), F.sum("rank").alias("s")
        ).collect()[0]
        wall = time.perf_counter() - t0
        exp_sum = 0
        for _center, leaves in star_centers:
            rc, rl = simulate_star(leaves, args.iterations, args.damping_ppm)
            exp_sum += rc + leaves * rl
        exp_sum += sum(cycles) * PPM
        ok = row["n"] == n_nodes and int(row["s"]) == exp_sum
        extra = {
            "iterations": args.iterations,
            "sum_rank": int(row["s"]),
            "sum_rank_expected": exp_sum,
            "labeled_nodes": row["n"],
        }
    else:
        seeds_ids = [c for c, _l in star_centers] + [cycle_bases[0][0]]
        seeds = spark.createDataFrame([(i,) for i in seeds_ids], ["id"])
        try:
            bfs = G.shortest_hops(
                edges, seeds, max_hops=args.max_hops, _stats=stats
            )
        except TypeError:
            bfs = G.shortest_hops(edges, seeds, max_hops=args.max_hops)
        row = bfs.agg(
            F.count(F.lit(1)).alias("n"), F.sum("hops").alias("s")
        ).collect()[0]
        wall = time.perf_counter() - t0
        # truth: centers hops 0; every leaf hops 1; on the seeded cycle,
        # two nodes at each hop h in 1..max_hops (cycle size >> 2*max_hops)
        exp_n = len(stars) + sum(stars) + 1 + 2 * args.max_hops
        exp_sum = sum(stars) * 1 + 2 * sum(range(1, args.max_hops + 1))
        ok = row["n"] == exp_n and int(row["s"]) == exp_sum
        extra = {
            "max_hops": args.max_hops,
            "reached_nodes": row["n"],
            "reached_expected": exp_n,
            "sum_hops": int(row["s"]),
            "sum_hops_expected": exp_sum,
        }
    peak_bytes = stop_sampler()

    if args.plan_out and stats.get("round1_plan"):
        with open(args.plan_out, "w") as f:
            f.write(
                f"{args.op} round-1 iteration relation at {n_edges} edges / "
                f"{n_nodes} nodes, executedPlan:\n\n"
            )
            f.write(stats["round1_plan"])

    print(json.dumps({
        "cell": f"graph_{args.op}",
        "n_edges": n_edges,
        "n_nodes": n_nodes,
        "stars": stars,
        "cycles": cycles,
        "wall_sec": round(wall, 1),
        "exact": ok,
        "peak_scratch_bytes": peak_bytes,
        "driver_mem": args.driver_mem,
        **extra,
    }))
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
