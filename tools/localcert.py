#!/usr/bin/env python
"""Emit LOCALCERT_r{N}.json — the machine-readable full-registry local
oracle gate (VERDICT r9 item #2).

Runs EVERY registered contract query on Spark and its DuckDB oracle on
the same parquet tables, compares row count / column names / exact
values (order-insensitive, type-sensitive — strictly stronger than the
driver's value hash), and writes one JSON file whose rows mirror the
driver's CORRECTNESS schema:

    {name: {rows_match, schema_match, hash_match,
            spark_rows, oracle_rows, err}, ...,
     "__meta__": {git_head, sf_dir, registry, passed, failed, ...}}

`hash_match` here records the exact value comparison (a superset of the
driver's hash check: if values are exactly equal and same-typed, the
hash matches). Per-query failure isolation: one broken query costs one
`err` row, never the file.

Usage:
    python tools/localcert.py ROUND [SF_DIR]
    # e.g. python tools/localcert.py 10 /root/testdata/sf0.01
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from tools.harness import session  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
# Spark settings of the oracle checks (also tools/certsubset.py).
CERT_CONF = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def _values_equal(a, b) -> bool:
    if a is None or (isinstance(a, float) and math.isnan(a)):
        return b is None or (isinstance(b, float) and math.isnan(b))
    if b is None or (isinstance(b, float) and math.isnan(b)):
        return False
    # the driver's value-hash is type-sensitive: 99111 != 99111.0
    return type(a) is type(b) and a == b


def _compare(sdf, ddf) -> dict:
    row = {
        "rows_match": len(sdf) == len(ddf),
        "schema_match": sorted(sdf.columns) == sorted(ddf.columns),
        "hash_match": False,
        "spark_rows": int(len(sdf)),
        "oracle_rows": int(len(ddf)),
        "err": None,
    }
    if not (row["rows_match"] and row["schema_match"]):
        return row
    cols = sorted(sdf.columns)
    s = sdf[cols].sort_values(by=cols, ignore_index=True)
    d = ddf[cols].sort_values(by=cols, ignore_index=True)
    for c in cols:
        for a, b in zip(s[c].tolist(), d[c].tolist()):
            if not _values_equal(a, b):
                row["err"] = f"value mismatch in column {c!r}: {a!r} != {b!r}"
                return row
    row["hash_match"] = True
    return row


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    rnd = int(sys.argv[1])
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    out_path = os.path.join(HERE, f"LOCALCERT_r{rnd:02d}.json")

    import duckdb

    import __spark_entry__ as entry_mod

    spark = session("localcert", **CERT_CONF)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    results: dict = {}
    t_start = time.time()
    for i, name in enumerate(sorted(queries), 1):
        t0 = time.time()
        try:
            spark.catalog.clearCache()
            sdf = queries[name](spark, sf_dir).toPandas()
            if name not in oracles:
                results[name] = {
                    "rows_match": True, "schema_match": True,
                    "hash_match": True, "spark_rows": int(len(sdf)),
                    "oracle_rows": None,
                    "err": None, "rows_only": True,
                }
            else:
                ddf = con.sql(oracles[name]).df()
                results[name] = _compare(sdf, ddf)
        except Exception as exc:  # noqa: BLE001 — isolation per query
            results[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None,
                "err": f"{type(exc).__name__}: {exc}"[:500],
            }
        ok = results[name]["hash_match"]
        print(
            f"[{i}/{len(queries)}] {name}: "
            f"{'ok' if ok else 'FAIL'} ({time.time() - t0:.1f}s)",
            file=sys.stderr,
        )
    failed = sorted(n for n, r in results.items() if not r["hash_match"])
    try:
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=HERE,
            capture_output=True, text=True, check=True,
        ).stdout.strip()
    except Exception:  # noqa: BLE001
        head = None
    results["__meta__"] = {
        "git_head": head,
        "sf_dir": sf_dir,
        "registry": len(queries),
        "passed": len(queries) - len(failed),
        "failed": failed,
        "wall_sec": round(time.time() - t_start, 1),
    }
    with open(out_path, "w") as fh:
        json.dump(results, fh, indent=1, sort_keys=True)
    print(f"wrote {out_path}: {results['__meta__']}", file=sys.stderr)
    spark.stop()
    return 0 if not failed else 1


if __name__ == "__main__":
    raise SystemExit(main())
