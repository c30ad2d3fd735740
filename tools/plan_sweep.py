#!/usr/bin/env python
"""Physical-plan red-flag sweep over EVERY registered batch query.

For each non-streaming query: build the plan at the given SF dir, capture
``explain('formatted')``, and grep for the §1.3 red flags — Python
evaluation nodes (BatchEvalPython/ArrowEvalPython — MapInArrow/MapInPandas
are reported separately since the Arrow kernels and decode paths are
deliberate), CartesianProduct, broadcast nested-loop joins, single-partition
exchanges, and exchange counts.
Also records plan-construction wall time (driver latency).

Usage: python tools/plan_sweep.py [SF_DIR] [--json OUT]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_path = None
    if "--json" in sys.argv:
        out_path = sys.argv[sys.argv.index("--json") + 1]

    from timeseriesfuser_spark import contract
    from tools.harness import session

    # Spark's default driver heap, as in tools/plan_dump.py.
    spark = session("plan_sweep", **{
        "spark.sql.shuffle.partitions": "32", "spark.driver.memory": None,
    })

    report = {}
    for name, fn in sorted(contract.QUERIES.items()):
        if name.startswith("streaming"):
            report[name] = {"skipped": "streaming (stateful plan, not a batch explain)"}
            continue
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as ex:  # noqa: BLE001
            report[name] = {"error": f"{type(ex).__name__}: {ex}"[:300]}
            continue
        construct_s = round(time.perf_counter() - t0, 3)
        flags = []
        if "BatchEvalPython" in plan:
            flags.append("BatchEvalPython")
        if "ArrowEvalPython" in plan:
            flags.append("ArrowEvalPython")
        if "CartesianProduct" in plan:
            flags.append("CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan:
            flags.append("BroadcastNestedLoopJoin")
        # single-partition exchange feeding a Window/Sort
        if "Exchange SinglePartition" in plan:
            flags.append("ExchangeSinglePartition")
        n_exchange = plan.count("Exchange ")
        n_arrow = plan.count("MapInArrow") + plan.count("MapInPandas")
        report[name] = {
            "construct_s": construct_s,
            "flags": flags,
            "exchanges": n_exchange,
            "arrow_stages": n_arrow,
            "plan_len": len(plan),
        }
        spark.catalog.clearCache()
    flagged = {
        k: v for k, v in report.items() if v.get("flags") or v.get("error")
    }
    slow = sorted(
        (
            (v.get("construct_s", 0), k)
            for k, v in report.items()
            if v.get("construct_s")
        ),
        reverse=True,
    )[:20]
    print(json.dumps({"flagged": flagged, "slowest_construct": slow}, indent=1))
    if out_path:
        with open(out_path, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
