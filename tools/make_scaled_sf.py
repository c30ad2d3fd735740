#!/usr/bin/env python
"""Build an N×-scaled replica of a testdata scale-factor directory for
solo scaling measurements (the sf1 bench ladder): each table is unioned
N times with disjoint key offsets so every foreign-key join stays valid
and per-key cardinalities scale with the copy count.

    python tools/make_scaled_sf.py /root/testdata/sf0.1 /tmp/sf1 10

Key plan (offset = copy_index * 10^9, far above any real key):
- events: event_id/user_id offset (10× users, same time span — the
  resample/fill spine stays constant, per-key state scales)
- orders/lineitem/customer/supplier/part: all integer PK/FK columns
  offset consistently; nation/region stay single-copy (tiny dims)
- documents: doc_id offset; copies i>0 get a per-copy suffix token so
  the near-dup structure is preserved instead of exploding every doc
  into a 10-way exact-duplicate family; n_chars recomputed
- embeddings: vec_id offset, vectors unchanged (ties are fine for perf)
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.harness import session  # noqa: E402

OFF = 10**9


def assert_keys_below_offset(df, keys, table, off=OFF) -> None:
    """Fail loudly if any key column reaches the per-copy offset: a source
    key >= off would collide with the next copy's offset range (broken FK
    joins, merged entities)."""
    maxes = df.select(*[F.max(F.col(k)).alias(k) for k in keys]).first()
    for k in keys:
        mk = maxes[k]
        if mk is not None and mk >= off:
            raise ValueError(
                f"{table}.{k} max={mk} >= offset {off}; "
                "copies would collide — raise OFF"
            )


def main() -> None:
    src, dst, n = sys.argv[1], sys.argv[2], int(sys.argv[3])
    spark = session("tsf_make_scaled_sf", 32, **{
        "spark.sql.shuffle.partitions": "64",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    })

    offsets = {
        "events": ["event_id", "user_id"],
        "orders": ["o_orderkey", "o_custkey"],
        "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
        "customer": ["c_custkey"],
        "supplier": ["s_suppkey"],
        "part": ["p_partkey"],
        "documents": ["doc_id"],
        "embeddings": ["vec_id"],
    }
    single = ["nation", "region"]

    for t in single:
        df = spark.read.parquet(f"{src}/{t}.parquet")
        df.write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
        print(f"{t}: single copy")

    for t, keys in offsets.items():
        df = spark.read.parquet(f"{src}/{t}.parquet")
        if n > 1:
            assert_keys_below_offset(df, keys, t)
        copies = []
        for i in range(n):
            c = df
            for k in keys:
                c = c.withColumn(k, F.col(k) + F.lit(i * OFF))
            if t == "documents" and i > 0:
                c = c.withColumn(
                    "text",
                    F.when(
                        F.col("text").isNotNull(),
                        F.concat(F.col("text"), F.lit(f" copytag{i}")),
                    ),
                ).withColumn("n_chars", F.length("text").cast("long"))
            copies.append(c)
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        out.write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
        print(f"{t}: x{n} -> {dst}/{t}.parquet")

    spark.stop()


if __name__ == "__main__":
    main()
