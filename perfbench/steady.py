"""Steadiness self-check: runs the benchmark on several seeds, twice, and
compares every end-to-end metric with the bounds in BENCHMARK.json.

    python3 perfbench/steady.py [--workloads a,b] [--seeds 10] [--sets 2]

For each workload and metric it reports the spread of each set (distance
between the first and third quartile of the per-seed values, as a share
of their median) and how much worse the second set's median is than the
first's. A metric fails when a spread exceeds its bound or when the
second median is worse than the first by more than the bound. Exits 1
when anything fails.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

sys.path.insert(0, str(HERE))
from run import run_workload  # noqa: E402
from stats import spread  # noqa: E402


def worse_by(first: float, second: float, better: str) -> float:
    """Share by which ``second`` is worse than ``first`` (negative: better)."""
    if better == "lower":
        return (second - first) / first
    return (first - second) / first


def main() -> int:
    cfg = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in cfg["workloads"]))
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2, choices=(1, 2))
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=cfg["run_seconds"])
    args = ap.parse_args()

    ok = True
    report = {}
    for w in args.workloads.split(","):
        sets, runs = [], []
        for k in range(args.sets):
            results = []
            for j in range(args.seeds):
                seed = args.first_seed + k * args.seeds + j
                res, notes = run_workload(w, seed, args.seconds, 0)
                if not res["correct"]:
                    print(f"{w} seed {seed}: incorrect output ({res['failed']} failed)")
                    ok = False
                results.append(res["metrics"])
                runs.append({"seed": seed, "notes": [n for n in notes if not n.startswith("# inputs")]})
            sets.append(results)
        report[w] = {"runs": runs}
        print(f"{w}:")
        for m in cfg["end_to_end"]:
            name, bound = m["name"], m["bound"]
            vals = [[r[name]["value"] for r in s] for s in sets]
            spreads = [spread(v) for v in vals]
            meds = [statistics.median(v) for v in vals]
            drift = worse_by(meds[0], meds[1], m["better"]) if len(meds) == 2 else 0.0
            fail = drift > bound or max(spreads) > bound
            ok &= not fail
            report[w][name] = {
                "values": vals, "medians": meds, "spreads": spreads, "drift": drift,
            }
            print(
                f"  {name:<18} median {meds[0]:>12.5g}  spread "
                + " ".join(f"{s:6.3f}" for s in spreads)
                + f"  (bound {bound}, third {bound / 3:.3f})  drift {drift:+.3f}"
                + ("  FAIL" if fail else "")
            )
    out = ROOT / ".perfbench"
    out.mkdir(exist_ok=True)
    (out / "steady.json").write_text(json.dumps(report, indent=1))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
