#!/usr/bin/env python
"""Oracle-parity check for a SUBSET of registered queries — the fast
iteration loop for optimization work (full gate stays tools/localcert.py).

Usage:
    python tools/certsubset.py q1,q2,... [SF_DIR]

Same comparison as localcert (row count / columns / exact typed values);
prints one line per query and exits nonzero on any failure.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.harness import session  # noqa: E402
from tools.localcert import CERT_CONF, TABLES, _compare  # noqa: E402


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    names = [n for n in sys.argv[1].split(",") if n]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    import duckdb

    from timeseriesfuser_spark import contract

    spark = session("certsubset", **CERT_CONF)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    rc = 0
    for name in names:
        t0 = time.time()
        try:
            spark.catalog.clearCache()
            sdf = contract.QUERIES[name](spark, sf_dir).toPandas()
            if name not in contract.ORACLES:
                row = {"hash_match": True, "err": "rows_only"}
            else:
                row = _compare(sdf, con.sql(contract.ORACLES[name]).df())
        except Exception as exc:  # noqa: BLE001
            row = {"hash_match": False, "err": f"{type(exc).__name__}: {exc}"[:300]}
        ok = row["hash_match"]
        if not ok:
            rc = 1
        print(f"{name}: {'ok' if ok else 'FAIL'} ({time.time()-t0:.1f}s)"
              + ("" if ok else f" err={row.get('err')}"))
    spark.stop()
    return rc


if __name__ == "__main__":
    sys.exit(main())
