"""Interleaved A/B of the SAME registered query across TWO source trees
(e.g. the current HEAD vs a `git worktree` of an older commit), built on
tools/ab.py's interleaved_ab discipline (warm-up discarded, min-of-k,
same-session control, cache hygiene).

Why module swapping: both trees ship a package named
``timeseriesfuser_spark`` plus a root ``__spark_entry__``.  Two versions
cannot coexist under one name, so each tree gets a private snapshot of
its ``sys.modules`` entries; activating a tree = purge current entries +
restore its snapshot (microseconds once warm).  The swap happens INSIDE
the timed arm fn only because some ops use function-level
``from timeseriesfuser_spark...`` imports that resolve through
sys.modules at call time — the cost is a dict update, equal for both
arms, and far below measurement noise.

CLI:
    python tools/ab_trees.py --tree-a /root/repo/.ab/r11 \
        --tree-b /root/repo --rounds 5 \
        --query dedup_minhash_lsh --query similarity_topk \
        --sf /root/testdata/sf0.1
Prints ONE JSON line per query plus a trailing summary line.
"""

from __future__ import annotations

import argparse
import importlib
import importlib.util
import json
import os
import sys
from typing import Dict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# tools/ab.py only needs the harness + cache_scope (same in both trees);
# it comes from this tree.
from tools.ab import interleaved_ab  # noqa: E402
from tools.harness import session  # noqa: E402

_PKG = "timeseriesfuser_spark"


class TreeLoader:
    """Loads one source tree's package + __spark_entry__ under the real
    package name, snapshotting its sys.modules entries for cheap
    re-activation."""

    def __init__(self, path: str, tag: str):
        self.path = os.path.abspath(path)
        self.tag = tag
        self._snapshot: Dict[str, object] = {}
        self.queries: Dict[str, object] = {}

    @staticmethod
    def _purge():
        for k in list(sys.modules):
            if k == _PKG or k.startswith(_PKG + "."):
                del sys.modules[k]

    def load(self):
        self._purge()
        sys.path.insert(0, self.path)
        try:
            importlib.invalidate_caches()
            spec = importlib.util.spec_from_file_location(
                f"__spark_entry__{self.tag}",
                os.path.join(self.path, "__spark_entry__.py"),
            )
            mod = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(mod)
            self.queries = mod.queries()
        finally:
            sys.path.remove(self.path)
        self._snapshot = {
            k: v
            for k, v in sys.modules.items()
            if k == _PKG or k.startswith(_PKG + ".")
        }

    def activate(self):
        self._purge()
        sys.modules.update(self._snapshot)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--tree-a", required=True, help="baseline tree (arm 'a')")
    ap.add_argument("--tree-b", required=True, help="candidate tree (arm 'b')")
    ap.add_argument("--query", action="append", required=True)
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--warmup", type=int, default=1)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", default="32")
    ap.add_argument("--driver-mem", default="16g")
    args = ap.parse_args(argv)

    spark = session("ab_trees", args.cpus, **{"spark.driver.memory": args.driver_mem})

    tree_a = TreeLoader(args.tree_a, "_a")
    tree_b = TreeLoader(args.tree_b, "_b")
    # Load b last so lingering sys.modules state defaults to HEAD.
    tree_a.load()
    tree_b.load()

    summary = {}
    for q in args.query:
        fa, fb = tree_a.queries[q], tree_b.queries[q]

        def arm(tree, fn):
            def run(s):
                tree.activate()
                return fn(s, args.sf)

            return run

        out = interleaved_ab(
            spark,
            {"a": arm(tree_a, fa), "b": arm(tree_b, fb)},
            rounds=args.rounds,
            warmup=args.warmup,
        )
        out["query"] = q
        out["tree_a"] = args.tree_a
        out["tree_b"] = args.tree_b
        out["sf"] = args.sf
        print(json.dumps(out), flush=True)
        summary[q] = {
            "a_min": out["arms"]["a"]["min"],
            "b_min": out["arms"]["b"]["min"],
            "ratio_min": out["ratio_min"],
            "control": out["control_sec"],
        }
    print(json.dumps({"summary": summary}), flush=True)
    spark.stop()


if __name__ == "__main__":
    sys.path.insert(0, ".")
    main()
