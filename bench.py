#!/usr/bin/env python
"""Benchmark harness: run the headline contract queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

    {"metric": "...", "value": total_sec, "unit": "sec",
     "queries": {name: sec, ...}, "errors": {...}, "control_sec": ...,
     "sf": ..., "layers": {name: best run's tools.harness.measure record}}

Each query is fully executed (noop sink — no driver collect, no disk
write) so the measured time is plan + shuffle + compute, the same work a
cluster would do.
"""

from __future__ import annotations

import json
import os
import sys

from timeseriesfuser_spark import contract
from tools.harness import HEADLINE, control_workload, measure, session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    spark = session(
        "timeseriesfuser_spark_bench",
        **{
            "spark.sql.legacy.parquet.nanosAsLong": "true",
            "spark.sql.execution.arrow.pyspark.enabled": "true",
        },
    )

    # Warm the JVM/reader paths so per-query times measure the query, not
    # session startup (excluded from per-query numbers either way).
    try:
        spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    except Exception as exc:  # noqa: BLE001 — warm-up is best-effort
        print(f"# warm-up failed: {exc}", file=sys.stderr)

    # Reported as "control_sec", NOT added to the headline total (the
    # headline set and total stay the frozen cross-round trend metric).
    control = control_workload(spark)
    if control is None:
        print("# control failed: no successful iteration", file=sys.stderr)
    else:
        print(f"# control: {control:.3f}s", file=sys.stderr)

    # Per-query failure isolation: one broken query must cost one entry in
    # "errors", never the whole benchmark (BENCH_r02 died with zero numbers
    # because the first query threw).
    times: dict[str, float] = {}
    layers: dict[str, dict] = {}
    errors: dict[str, str] = {}
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    for name in HEADLINE:
        fn = contract.QUERIES[name]
        best = None
        try:
            for _ in range(runs):
                # Clear persisted intermediates so no run sees another run's
                # cache (ops may persist multiply-consumed relations).
                spark.catalog.clearCache()
                rec = measure(name, lambda: fn(spark, SF_DIR))
                if best is None or rec["wall_s"] < best["wall_s"]:
                    best = rec
        except Exception as exc:  # noqa: BLE001 — record and keep measuring
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
            continue
        # min-of-N: steady-state per-query time (first run pays one-off
        # codegen/classload warm-up that a long-lived cluster amortizes).
        times[name], layers[name] = best["wall_s"], best
        print(f"# {name}: {times[name]:.3f}s", file=sys.stderr)

    total = round(sum(times.values()), 3)
    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": total,
                "unit": "sec",
                "queries": times,
                "errors": errors,
                "control_sec": None if control is None else round(control, 3),
                "sf": sf_val,
                "layers": layers,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
