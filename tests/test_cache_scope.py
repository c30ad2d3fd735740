"""cache_scope lifecycle: ops' internal MEMORY_AND_DISK persists release
deterministically when the scope exits (VERDICT r7 #6), without touching
caller-owned caches. The resample calls are ungrouped epoch-grid gap
fills, the one resample path that persists (its buckets relation)."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from timeseriesfuser_spark.operators.resample import resample_last_interval
from timeseriesfuser_spark.ops import dedup as D
from timeseriesfuser_spark.ops.util import cache_scope


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _events(spark):
    rows = [
        Row(__timestamp=1_700_000_000_000 + i * 7_000, k="a" if i % 2 else "b",
            v=float(i))
        for i in range(200)
    ]
    return spark.createDataFrame(rows)


class TestCacheScope:
    def test_resample_persists_release_on_exit(self, spark):
        spark.catalog.clearCache()
        assert _cache_empty(spark)
        with cache_scope():
            out = resample_last_interval(
                _events(spark), "1m", gap_fill=True
            )
            assert out.count() > 0
            assert not _cache_empty(spark)  # persists registered inside
        assert _cache_empty(spark)  # and released on exit

    def test_dedup_cache_releases_on_exit(self, spark):
        spark.catalog.clearCache()
        docs = spark.createDataFrame(
            [(i, f"doc text number {i} with some shared words") for i in range(50)],
            ["doc_id", "text"],
        )
        with cache_scope():
            D.minhash_lsh_pairs(docs).count()
            assert not _cache_empty(spark)
        assert _cache_empty(spark)

    def test_caller_cache_untouched(self, spark):
        spark.catalog.clearCache()
        mine = _events(spark).cache()
        try:
            mine.count()
            with cache_scope():
                resample_last_interval(
                    _events(spark), "1m", gap_fill=True
                ).count()
            # scope released only the op's persists — not the caller's
            assert not _cache_empty(spark)
            assert mine.storageLevel.useMemory
        finally:
            mine.unpersist()

    def test_nested_scopes(self, spark):
        spark.catalog.clearCache()
        with cache_scope():
            resample_last_interval(
                _events(spark), "1m", gap_fill=True
            ).count()
            with cache_scope():
                docs = spark.createDataFrame(
                    [(i, f"text {i} alpha beta") for i in range(20)],
                    ["doc_id", "text"],
                )
                D.minhash_lsh_pairs(docs).count()
            # inner released; outer's persists still live
            assert not _cache_empty(spark)
        assert _cache_empty(spark)

    def test_no_scope_is_noop(self, spark):
        spark.catalog.clearCache()
        out = resample_last_interval(
            _events(spark), "1m", gap_fill=True
        )
        assert out.count() > 0
        # legacy behavior preserved: entries stay registered (session-long)
        assert not _cache_empty(spark)
        spark.catalog.clearCache()

    def test_results_identical_inside_scope(self, spark):
        spark.catalog.clearCache()
        base = resample_last_interval(
            _events(spark), "1m", gap_fill=True
        ).collect()
        spark.catalog.clearCache()
        with cache_scope():
            scoped = resample_last_interval(
                _events(spark), "1m", gap_fill=True
            ).collect()
        assert sorted(map(tuple, base)) == sorted(map(tuple, scoped))
