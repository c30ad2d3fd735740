"""The in-plan hot-bucket cap on a corpus dense enough that the old
count-min probe could not short-circuit (~440k band-block rows against
an explicit cap of 50 — the regime of ~80M+ block rows under the default
10k cap). The planted flood must be dropped EXACTLY — every flood-only
pair gone, every cold-bucket pair kept, drop counts observed on the
query's own action — and a clean corpus must pair exactly as cap-off."""

from pyspark.sql import functions as F


def _corpus(spark):
    # 55k unique docs → ~440k band-block rows at bands=8
    base = spark.range(55_000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(F.lit("w"), (F.col("id") * 7 + j).cast("string"))
                for j in range(5)
            ],
        ).alias("text"),
    )
    flood = spark.range(200).select(
        (F.col("id") + 1_000_000).alias("doc_id"),
        F.lit("flood alpha beta gamma delta").alias("text"),
    )
    planted = spark.createDataFrame(
        [
            (2_000_001, "planted one two three four"),
            (2_000_002, "planted one two three four"),
        ],
        "doc_id long, text string",
    )
    return base.unionByName(flood).unionByName(planted)


def test_flood_dropped_exactly_past_rung0(spark):
    from timeseriesfuser_spark.ops.dedup import minhash_lsh_pairs
    from timeseriesfuser_spark.ops.util import cache_scope, observed_metrics

    docs = _corpus(spark)
    with cache_scope():
        out = minhash_lsh_pairs(docs, threshold=0.5, max_bucket=50, cache=True)
        pairs = out.collect()
    ids = {(r["id_a"], r["id_b"]) for r in pairs}
    # the planted identical pair in a COLD bucket survives
    assert (2_000_001, 2_000_002) in ids
    # every flood-only pair is gone (the 200-member bucket > cap in all
    # 8 bands — C(200,2) pairs would otherwise dominate the join)
    assert not any(
        a >= 1_000_000 and a < 2_000_000 and b >= 1_000_000 and b < 2_000_000
        for a, b in ids
    )
    # and the drop is DATA on the query's own action: one hot bucket per
    # band, 8 bands × 200 members = 1600 member rows
    assert observed_metrics(out)["minhash_lsh_pairs.bucket_cap"] == {
        "dropped_buckets": 8,
        "dropped_rows": 1600,
    }


def test_no_flood_same_pairs_as_cap_off_past_rung0(spark):
    """Without a flood, the cap — at 50, below the density where a
    sketch bound could prove no-hot — changes NOTHING: pair set ==
    cap-off."""
    from timeseriesfuser_spark.ops import dedup

    docs = _corpus(spark).filter(
        (F.col("doc_id") < 1_000_000) | (F.col("doc_id") >= 2_000_000)
    )
    on = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(
            docs, threshold=0.5, max_bucket=50, cache=True
        ).collect()
    }
    off = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(
            docs, threshold=0.5, max_bucket=None, cache=True
        ).collect()
    }
    assert on == off
