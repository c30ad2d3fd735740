"""blocked_cosine_pairs: the grouped gram kernel must be row-identical to
the block-key self-join formulation it replaces on large inputs (r15
optimization) — including the adversarial shapes the join handled
implicitly: null ids/blocks, zero norms, null vectors/elements, ragged
dims, duplicate ids, hot-block splitting, and negative thresholds."""

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from timeseriesfuser_spark.ops import similarity as S
from timeseriesfuser_spark.ops.dedup import _window_cap
from timeseriesfuser_spark.ops.similarity import (
    DEFAULT_MAX_BLOCK,
    _blocked_pair_dots,
    _dot,
    _sq_norm,
    quantized,
)

SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), True),
        T.StructField("label", T.LongType(), True),
        T.StructField("embedding", T.ArrayType(T.DoubleType()), True),
    ]
)


def _corpus(spark):
    random.seed(7)
    rows = []
    for b in range(6):
        for i in range(25):
            rows.append(
                (b * 100 + i, b, [random.uniform(-1, 1) for _ in range(8)])
            )
    rows.append((9001, 2, [0.0] * 8))           # zero norm — excluded
    rows.append((9002, 3, None))                 # null vec — excluded
    rows.append((9003, 3, [0.1, None, 0.3]))     # null element — excluded
    rows.append((None, 1, [0.5] * 8))            # null id — never pairs
    rows.append((9005, None, [0.5] * 8))         # null block — never pairs
    rows.append((9006, 4, [0.2] * 5))            # ragged dims in block 4
    rows.append((101, 1, [0.9] * 8))             # duplicate id in block 1
    return spark.createDataFrame(rows, SCHEMA)


def _join_formulation(df, threshold, max_block):
    """The pre-r15 physical strategy, inlined verbatim."""
    rel = df.select(
        F.col("vec_id").alias("id"),
        F.col("label").alias("__b"),
        quantized(F.col("embedding"), 1000).alias("__v"),
    ).withColumn("__n", _sq_norm(F.col("__v")))
    rel = rel.filter(F.col("__n") > 0)
    rel = _window_cap(
        rel, ["__b"], max_block, "t", split_id="id", default=DEFAULT_MAX_BLOCK
    )
    jkeys = ["__b", "__sub"]
    x, y = rel.alias("x"), rel.alias("y")
    dot = _dot(F.col("x.__v"), F.col("y.__v"))
    cos = F.round(
        dot.cast("double") / (F.sqrt(F.col("x.__n")) * F.sqrt(F.col("y.__n"))),
        6,
    )
    cond = F.col("x.id") < F.col("y.id")
    for k in jkeys:
        cond = (F.col(f"x.{k}") == F.col(f"y.{k}")) & cond
    return (
        x.join(y, cond)
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.col("x.__b").alias("label"),
            "cosine",
        )
    )


@pytest.mark.parametrize(
    "threshold,max_block",
    [(0.25, None), (-1.0, None), (0.25, 10), (0.5, "auto")],
)
def test_kernel_matches_join_formulation(spark, threshold, max_block):
    df = _corpus(spark)
    # createDataFrame input has unknown scan size -> the op plans the
    # KERNEL; the join formulation is built inline as the reference.
    new = sorted(
        tuple(r)
        for r in S.blocked_cosine_pairs(
            df, block_col="label", threshold=threshold,
            max_block=max_block, cache=False,
        ).collect()
    )
    old = sorted(
        tuple(r) for r in _join_formulation(df, threshold, max_block).collect()
    )
    assert new == old and len(new) > 0 or (new == old == [])
    assert new == old


def test_kernel_streams_groups_across_arrow_batches(spark):
    """Groups spanning multiple Arrow batches must still pair completely:
    force tiny batches so every block crosses a batch boundary."""
    df = _corpus(spark)
    old_conf = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        new = sorted(
            tuple(r)
            for r in S.blocked_cosine_pairs(
                df, block_col="label", threshold=0.25,
                max_block=None, cache=False,
            ).collect()
        )
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old_conf
        )
    old = sorted(tuple(r) for r in _join_formulation(df, 0.25, None).collect())
    assert new == old


def test_kernel_overflow_raises_like_jvm(spark):
    """Quantized elements big enough that a pairwise dot overflows int64:
    both formulations must raise (ANSI overflow), not return wrapped
    values."""
    rows = [(i, 0, [2.1e6] * 4) for i in range(3)]
    # elements quantize to 2.1e9; norms (4 * 4.41e18 / per-element 4.41e18)
    # fit int64, the 4-element pairwise dot 4*4.41e18 = 1.76e19 does not.
    df = spark.createDataFrame(rows, SCHEMA)
    with pytest.raises(Exception):
        S.blocked_cosine_pairs(
            df, block_col="label", threshold=-2.0, max_block=None, cache=False
        ).collect()
    with pytest.raises(Exception):
        _join_formulation(df, -2.0, None).collect()


def test_non_integral_ids_keep_join_formulation(spark):
    df = _corpus(spark).withColumn("vec_id", F.col("vec_id").cast("string"))
    out = S.blocked_cosine_pairs(
        df, block_col="label", threshold=0.25, max_block=None, cache=False
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" in plan


def test_small_file_backed_inputs_keep_join_formulation(spark, tmp_path):
    df = _corpus(spark).filter(F.col("vec_id").isNotNull())
    p = str(tmp_path / "emb.parquet")
    df.write.parquet(p)
    out = S.blocked_cosine_pairs(
        spark.read.parquet(p), block_col="label", threshold=0.25,
        max_block=None, cache=False,
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" in plan


def test_kernel_pair_dots_direct(spark):
    """_blocked_pair_dots alone: ordered ids, no self/duplicate-id pairs,
    exact integer dots and norms."""
    rows = [
        (1, 0, [1.0, 2.0]),
        (2, 0, [3.0, -1.0]),
        (3, 0, [0.5, 0.5]),
        (7, 1, [1.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    rel = df.select(
        F.col("vec_id").alias("id"),
        F.col("label").alias("__b"),
        quantized(F.col("embedding"), 1000).alias("__v"),
    ).withColumn("__n", _sq_norm(F.col("__v")))
    got = {
        (r["id_a"], r["id_b"]): (r["__dot"], r["__na"], r["__nb"])
        for r in _blocked_pair_dots(rel, ["__b"]).collect()
    }
    assert got == {
        (1, 2): (1_000_000, 5_000_000, 10_000_000),
        (1, 3): (1_500_000, 5_000_000, 500_000),
        (2, 3): (1_000_000, 10_000_000, 500_000),
    }
