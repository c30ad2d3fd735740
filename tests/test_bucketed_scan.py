"""The shared range-bucketed prefix scan (``operators.fill._bucketed_scan``)
behind forward fill, token offsets, exact global rank / quantile bins, the
2-D skyline and lateness stats: exact against a serial global window for
every combine and frame, and no construction-time job beyond its one
quantile sketch."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from timeseriesfuser_spark.operators.fill import _bucketed_scan, forward_fill
from timeseriesfuser_spark.ops.packing import token_offsets
from timeseriesfuser_spark.ops.scale import (
    exact_global_rank,
    pareto_frontier_2d,
    quantile_bins,
)
from timeseriesfuser_spark.ops.timeseries import lateness_stats
from timeseriesfuser_spark.ops.util import cache_scope


def _jobs(spark, build):
    """Spark jobs started while ``build()`` constructs its DataFrame."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    build()
    return len(set(tracker.getJobIdsForGroup(None) or []) - before)


@pytest.fixture
def sketch_jobs(spark, monkeypatch):
    """Counts the quantile sketch calls and the jobs they start."""
    seen = {"calls": 0, "jobs": 0}
    cls = type(spark.range(1).stat)
    real = cls.approxQuantile

    def spy(self, *a, **kw):
        out = []
        seen["jobs"] += _jobs(spark, lambda: out.append(real(self, *a, **kw)))
        seen["calls"] += 1
        return out[0]

    monkeypatch.setattr(cls, "approxQuantile", spy)
    return seen


def _rows(spark, n=5000):
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") % 7).alias("n"),
        (F.col("id") % 3).cast("string").alias("g"),
        ((F.col("id") * 7919) % 1000).alias("ts"),
        F.when(F.col("id") % 5 == 0, None).otherwise(F.col("id") * 0.5).alias("v"),
        ((F.col("id") * 31) % 97).alias("x"),
        ((F.col("id") * 17) % 89).alias("y"),
    )


OPS = {
    "token_offsets": lambda df, k: token_offsets(df, "id", count_col="n", num_buckets=k),
    "exact_global_rank": lambda df, k: exact_global_rank(df, ["id"], num_buckets=k),
    "quantile_bins": lambda df, k: quantile_bins(
        df, "x", 10, tiebreak_cols=["id"], num_buckets=k),
    "pareto_frontier_2d": lambda df, k: pareto_frontier_2d(df, "x", "y", num_buckets=k),
    "lateness_stats": lambda df, k: lateness_stats(
        df, group_col="g", ts_col="ts", seq_col="id", num_buckets=k),
    "forward_fill": lambda df, k: forward_fill(df, ["id"], ["v"], num_partitions=k),
}


@pytest.mark.parametrize("op", sorted(OPS))
def test_one_bucket_builds_with_no_job(spark, op, sketch_jobs):
    df = _rows(spark)
    with cache_scope():
        assert _jobs(spark, lambda: OPS[op](df, 1)) == 0
    assert sketch_jobs["calls"] == 0


@pytest.mark.parametrize("op", sorted(OPS))
def test_many_buckets_build_with_only_the_sketch(spark, op, sketch_jobs):
    """The cross-bucket carry is planned, never collected: building with
    8 buckets starts exactly the quantile sketch's jobs."""
    df = _rows(spark)
    with cache_scope():
        jobs = _jobs(spark, lambda: OPS[op](df, 8))
    assert sketch_jobs["calls"] == 1
    assert jobs == sketch_jobs["jobs"] > 0


def test_forward_fill_with_bounds_builds_with_no_job(spark, sketch_jobs):
    df = _rows(spark)
    assert _jobs(spark, lambda: forward_fill(df, ["id"], ["v"], bounds=[1000.0, 3000.0])) == 0
    assert sketch_jobs["calls"] == 0


@pytest.mark.parametrize("op", sorted(set(OPS) - {"lateness_stats"}))
def test_ungrouped_non_numeric_order_raises(spark, op, sketch_jobs):
    """The sketch cannot cut a non-numeric first order column, and one
    bucket would be a single-task global window: an ungrouped scan
    refuses it unless one bucket is asked for."""
    df = _rows(spark).select(
        F.col("id").cast("string").alias("id"), "n", "g", "ts", "v",
        F.timestamp_seconds("x").alias("x"), "y",
    )
    with pytest.raises(ValueError, match="not numeric.*numeric column"):
        OPS[op](df, 8)
    OPS[op](df, 1)
    assert sketch_jobs["calls"] == 0


# ------------------------------------------------------------------ exactness


def _scan_input(spark):
    """NULL order values, a 40-row tie on k=5 sitting on a cut, empty
    buckets (no k in [20, 60)), NULL values, two groups plus a NULL one."""
    rows = [(None, i, "a" if i % 2 else None, float(i)) for i in range(6)]
    rows += [(k, 100 + k, "a" if k % 3 else "b", None if k % 4 == 0 else float(k % 11))
             for k in range(20)]
    rows += [(5, 200 + i, "b" if i % 2 else "a", None if i % 3 else float(-i)) for i in range(40)]
    rows += [(k, 300 + k, "a", float(k % 13) if k % 5 else None) for k in range(60, 90)]
    return spark.createDataFrame(rows, "k long, id long, g string, v double")


CUTS = {
    "bounds": lambda: {"bounds": [5.0, 10.0, 20.0, 30.0, 40.0, 50.0, 75.0]},
    "sketch": lambda: {"num_buckets": 8},
    # monotone in k (NULL k sorts first, into bucket 0); ids past 5 clamp
    "bucket_col": lambda: {
        "bucket_col": F.coalesce(F.floor(F.col("k") / 11), F.lit(0)),
        "num_buckets": 6,
    },
    "one": lambda: {"num_buckets": 1},
}
REF = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "last": lambda c: F.last(c, ignorenulls=True),
}


@pytest.mark.parametrize("cuts", sorted(CUTS))
@pytest.mark.parametrize("groups", [(), ("g",)])
@pytest.mark.parametrize("inclusive", [True, False])
def test_scan_matches_serial_window(spark, cuts, groups, inclusive):
    df = _scan_input(spark)
    scans = [(f"o_{c}", "v", c) for c in sorted(REF)]
    scans.append(("o_count", F.lit(1), "sum"))
    got = _bucketed_scan(
        df, ["k", "id"], scans, partition_by=list(groups), inclusive=inclusive,
        **CUTS[cuts](),
    )
    w = (
        Window.partitionBy(*groups).orderBy("k", "id")
        .rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    )
    want = df.select(
        "*",
        *[REF[c](F.col("v")).over(w).alias(f"o_{c}") for c in sorted(REF)],
        F.count(F.lit(1)).over(w).alias("o_count"),
    )
    if not inclusive:  # count over an empty frame is 0; a sum over it NULL
        want = want.withColumn("o_count", F.when(F.col("o_count") > 0, F.col("o_count")))
    assert got.columns == want.columns
    assert _by_id(got) == _by_id(want)


def _by_id(df):
    return sorted(df.collect(), key=lambda r: r["id"])


def test_scan_total_and_plan(spark):
    """``total`` is the whole group's aggregate on every row, and the scan
    plans no single-partition exchange, nested-loop join or cartesian
    product."""
    df = _scan_input(spark)
    got = _bucketed_scan(
        df, ["k", "id"], [("rk", F.lit(1), "sum")], partition_by=["g"],
        num_buckets=8, total="n",
    )
    sizes = {r["g"]: r["c"] for r in df.groupBy("g").count().withColumnRenamed("count", "c").collect()}
    rows = got.collect()
    assert all(r["n"] == sizes[r["g"]] for r in rows)
    for g, size in sizes.items():
        assert sorted(r["rk"] for r in rows if r["g"] == g) == list(range(1, size + 1))
    plan = got._jdf.queryExecution().executedPlan().toString()
    # a grouped carry is a window over the seeds, never a fan-out
    for node in ("SinglePartition", "BroadcastNestedLoopJoin", "CartesianProduct", "Generate"):
        assert node not in plan, plan


def test_grouped_non_numeric_order_is_one_bucket_per_group(spark):
    df = _scan_input(spark).withColumn("k", F.col("k").cast("string"))
    got = _bucketed_scan(
        df, ["k", "id"], [("o", "v", "max")], partition_by=["g"], num_buckets=8,
    )
    w = Window.partitionBy("g").orderBy("k", "id")
    want = df.withColumn("o", F.max("v").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    assert _by_id(got) == _by_id(want)


def test_forward_fill_replaces_columns_in_place(spark):
    df = _scan_input(spark)
    out = forward_fill(df, ["k", "id"], ["v", "g"], num_partitions=8)
    assert out.columns == df.columns
    w = Window.orderBy("k", "id")
    want = df.select(
        "k", "id",
        F.last("g", ignorenulls=True).over(w).alias("g"),
        F.last("v", ignorenulls=True).over(w).alias("v"),
    )
    assert _by_id(out) == _by_id(want)


def test_nondeterministic_rank_input_is_persisted_once(spark, monkeypatch):
    """A ``rand()`` column read by both scan branches is persisted once,
    so the ranks are exactly 1..n in the order of the one materialized
    draw; a deterministic input is not persisted at all."""
    cls = type(spark.range(1))
    persisted = []
    real = cls.persist

    def spy(self, *a, **kw):
        persisted.append(self)
        return real(self, *a, **kw)

    monkeypatch.setattr(cls, "persist", spy)
    with cache_scope():
        exact_global_rank(spark.range(100), ["id"], num_buckets=4)
        assert persisted == []
        df = spark.range(3000).withColumn("r", F.rand())
        rows = exact_global_rank(df, ["r", "id"], num_buckets=8).collect()
        assert len(persisted) == 1
    ranks = [r["global_rank"] for r in sorted(rows, key=lambda r: (r["r"], r["id"]))]
    assert ranks == list(range(1, 3001))
