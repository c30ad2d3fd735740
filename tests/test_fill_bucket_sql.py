"""r15 optimization pins: the binary-search CASE-tree bucket id in
operators.fill must be bit-equivalent to the higher-order-function
aggregate it replaced, and forward_fill keeps its LOCF semantics."""

import pytest
from pyspark.sql import functions as F

from timeseriesfuser_spark.operators.fill import _bucket_sql, forward_fill


def _old_bucket_col(first_order_col, bounds):
    # the pre-r15 HOF formulation, kept here as the equivalence reference
    arr = F.array(*[F.lit(float(b)) for b in bounds])
    x = F.col(first_order_col).cast("double")
    return F.aggregate(
        arr, F.lit(0), lambda acc, b: acc + F.when(x >= b, 1).otherwise(0)
    )


def test_bucket_tree_matches_hof_aggregate(spark):
    import random

    rng = random.Random(7)
    bounds = sorted({round(rng.uniform(-100, 100), 3) for _ in range(37)})
    vals = (
        [None, float("nan"), float("inf"), float("-inf")]
        + [rng.uniform(-150, 150) for _ in range(200)]
        + list(bounds)  # exactly-on-boundary values
    )
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i long, x double"
    )
    out = df.select(
        "i",
        _old_bucket_col("x", bounds).alias("old"),
        F.expr(_bucket_sql("x", bounds)).alias("new"),
    ).collect()
    for r in out:
        assert r["old"] == r["new"], (r["i"], r["old"], r["new"])


def test_bucket_tree_single_bound(spark):
    df = spark.createDataFrame([(0.5,), (1.5,), (None,)], "x double")
    rows = df.select(F.expr(_bucket_sql("x", [1.0])).alias("b")).collect()
    assert [r["b"] for r in rows] == [0, 1, 0]


def test_forward_fill_unchanged_semantics(spark):
    rows = [
        (1, None, None),
        (2, 10.0, "a"),
        (3, None, None),
        (4, None, "b"),
        (5, 20.0, None),
        (6, None, None),
    ]
    df = spark.createDataFrame(rows, "ts long, v double, s string")
    out = forward_fill(df, ["ts"], ["v", "s"], num_partitions=3)
    got = {r["ts"]: (r["v"], r["s"]) for r in out.collect()}
    assert got == {
        1: (None, None),
        2: (10.0, "a"),
        3: (10.0, "a"),
        4: (10.0, "b"),
        5: (20.0, "b"),
        6: (20.0, "b"),
    }


def test_bucket_plan_has_no_hof(spark):
    """The bucket id must be a codegen CASE tree, not an interpreted
    higher-order aggregate over a literal bounds array."""
    df = spark.createDataFrame([(float(i),) for i in range(10)], "x double")
    plan = df.select(
        F.expr(_bucket_sql("x", [2.0, 4.0, 6.0])).alias("b")
    )._jdf.queryExecution().executedPlan().toString()
    assert "lambdafunction" not in plan
