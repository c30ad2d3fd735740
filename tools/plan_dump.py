#!/usr/bin/env python
"""Dump ``explain('formatted')`` for named registered queries to files —
the plans/<round>/<query>_{before,after}.txt evidence the optimization
rounds commit.

Usage: python tools/plan_dump.py OUT_DIR SUFFIX query [query ...]
       (writes OUT_DIR/<query>_<SUFFIX>.txt; SF dir from
        $SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.1)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)

    from timeseriesfuser_spark import contract
    from tools.harness import session

    # Spark's default driver heap: broadcast statistics and the dedup cache
    # budget read it, so the plans would change with it.
    spark = session("plan_dump", **{
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.driver.memory": None,
    })

    rc = 0
    for name in names:
        fn = contract.QUERIES.get(name)
        if fn is None:
            print(f"# unknown query: {name}", file=sys.stderr)
            rc = 1
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as ex:  # noqa: BLE001
            print(f"# {name} failed: {type(ex).__name__}: {ex}", file=sys.stderr)
            rc = 1
            continue
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"{name} @ {sf_dir} — explain('formatted')\n\n")
            f.write(plan)
        print(f"wrote {path}")
    spark.stop()
    return rc


if __name__ == "__main__":
    sys.exit(main())
