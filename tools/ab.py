"""Interleaved A/B benchmark harness (VERDICT r10 #8) — the measurement
discipline SCALE.md's perf claims are built on, as one command:

- **Interleaved arms, COUNTERBALANCED order.** Block-style A/B (all A,
  then all B) lies by ~10% from same-JVM warming — the arm measured
  last wins (SCALE.md round-16, the simhash cap regression hunt). And
  a FIXED within-round order (A,B every round) lies even harder: a
  null A/B (identical arms, r15) measured the second arm 0.65-0.87×
  the first on both min and median — the immediate-repeat run of the
  same query is systematically faster (JIT/codegen/page warmth that
  clearCache does not reset). Arms here alternate order per round
  (A,B / B,A / …), so position bias cancels instead of crediting the
  arm that happens to be listed second.
- **Warm-up rounds discarded.** The first round pays codegen/reader
  warm-up for everyone; it is run and thrown away.
- **Min-of-k per arm.** Wall-clock minimum over the measured rounds —
  the standard noise floor estimator for local runs.
- **Same-session machine-speed control.** `tools.harness.control_workload`
  (bench.py's), measured in the SAME session; cross-session comparisons
  divide by it (`normalized` field) — a delta smaller than the control
  delta is environment, not plan.
- **Cache hygiene.** Each arm invocation runs inside `cache_scope()`
  (operator-internal persists released) and is followed by
  `spark.catalog.clearCache()`, so no arm serves another's cache.

Library:
    from tools.ab import interleaved_ab
    out = interleaved_ab(spark, {"old": fa, "new": fb}, rounds=5)
    # each arm fn: fn(spark) -> None | DataFrame (DataFrames are
    # materialized to the noop sink inside the timed window)

CLI (arms are module:function entries called as fn(spark, sf_dir)):
    python tools/ab.py --arm old=mypkg.bench_arms:old \
        --arm new=mypkg.bench_arms:new --rounds 5 \
        --sf /root/testdata/sf0.1
Prints ONE JSON line.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import sys
import time
from typing import Callable, Dict, Optional

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.harness import control_workload, session  # noqa: E402


def _run_arm(spark, fn: Callable) -> float:
    from pyspark.sql import DataFrame

    from timeseriesfuser_spark.ops.util import cache_scope

    t0 = time.perf_counter()
    with cache_scope():
        r = fn(spark)
        if isinstance(r, DataFrame):
            r.write.format("noop").mode("overwrite").save()
    elapsed = time.perf_counter() - t0
    spark.catalog.clearCache()
    return elapsed


def interleaved_ab(
    spark,
    arms: Dict[str, Callable],
    *,
    rounds: int = 5,
    warmup: int = 1,
    control_rounds: int = 3,
) -> dict:
    """Run ``arms`` interleaved for ``warmup + rounds`` rounds; return
    per-arm times (measured rounds only), min/median, the same-session
    control (min-of-``control_rounds``), and control-normalized mins.

    Each arm is ``fn(spark) -> None | DataFrame``; a returned DataFrame
    is materialized to the noop sink inside the timed window. Determinism
    caveat: arms run in dict order within every round — keep arms
    side-effect-free or idempotent.
    """
    names = list(arms)
    times: Dict[str, list] = {n: [] for n in names}
    for rnd in range(warmup + rounds):
        # Counterbalance within-round order (see module docstring): the
        # slot right after a query's own previous run is systematically
        # fast, so a fixed order gifts the last-listed arm ~15-35%.
        order = names if rnd % 2 == 0 else list(reversed(names))
        for n in order:
            t = _run_arm(spark, arms[n])
            if rnd >= warmup:
                times[n].append(t)
    control = control_workload(spark, control_rounds)

    out = {
        "rounds": rounds,
        "warmup": warmup,
        "control_sec": None if control is None else round(control, 3),
        "arms": {},
    }
    for n in names:
        mn = min(times[n])
        out["arms"][n] = {
            "times": [round(t, 3) for t in times[n]],
            "min": round(mn, 3),
            "median": round(statistics.median(times[n]), 3),
            "normalized": round(mn / control, 3) if control else None,
        }
    if len(names) == 2:
        a, b = names
        out["ratio_min"] = round(
            out["arms"][b]["min"] / out["arms"][a]["min"], 3
        )
    return out


def _import_fn(spec: str) -> Callable:
    mod, _, attr = spec.partition(":")
    if not attr:
        raise SystemExit(f"--arm needs name=module:function, got {spec!r}")
    return getattr(importlib.import_module(mod), attr)


def main(argv: Optional[list] = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "--arm", action="append", required=True,
        metavar="NAME=MODULE:FUNCTION",
        help="arm entry point, called as fn(spark, sf_dir); repeatable",
    )
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--warmup", type=int, default=1)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", default="32")
    ap.add_argument("--driver-mem", default="16g")
    args = ap.parse_args(argv)

    spark = session("ab", args.cpus, **{"spark.driver.memory": args.driver_mem})
    arms = {}
    for a in args.arm:
        name, _, spec = a.partition("=")
        if not spec:
            raise SystemExit(f"--arm needs name=module:function, got {a!r}")
        fn = _import_fn(spec)
        arms[name] = (lambda f: lambda s: f(s, args.sf))(fn)
    out = interleaved_ab(
        spark, arms, rounds=args.rounds, warmup=args.warmup
    )
    out["sf"] = args.sf
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    sys.path.insert(0, ".")
    main()
