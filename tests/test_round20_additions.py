"""Round-20 additions (VERDICT r13): deferred measured-count cache
footprints for hint-less derived LSH relations, the executor-only
storage budget, and the rotation-floor constant."""

import logging

from pyspark.sql import functions as F


def _derived_docs(spark, n=400):
    """A DERIVED relation: post-join, no input files, no size hint —
    exactly the shape whose footprint `_cache_footprint` cannot see."""
    left = spark.range(n).select(F.col("id").alias("doc_id"))
    right = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(F.lit("w"), (F.col("id") * 7 + j).cast("string"))
                for j in range(5)
            ],
        ).alias("text"),
    )
    return left.join(right, "doc_id")


def test_hintless_derived_relation_downgrades_instead_of_persisting(
    spark, monkeypatch, caplog
):
    """VERDICT r13 #1 spy test: a hint-less derived relation whose
    MEASURED footprint exceeds the budget must SKIP the persists (loud
    warning), not attempt them — and still return the right pairs."""
    from timeseriesfuser_spark.ops import dedup

    docs = _derived_docs(spark).unionByName(
        spark.createDataFrame(
            [(1_000_001, "p q r s t"), (1_000_002, "p q r s t")],
            "doc_id long, text string",
        )
    )
    assert docs.inputFiles() == []  # genuinely derived: no scan evidence

    seen = []
    real = dedup._maybe_cache

    def spy(df, cache, materialize=True, footprint_bytes=None, **kw):
        seen.append((cache, footprint_bytes))
        return real(df, cache, materialize, footprint_bytes, **kw)

    monkeypatch.setattr(dedup, "_maybe_cache", spy)
    monkeypatch.setattr(dedup, "_storage_budget_bytes", lambda s: 1)
    with caplog.at_level(
        logging.WARNING, logger="timeseriesfuser_spark.ops.dedup"
    ):
        pairs = {
            (r["id_a"], r["id_b"])
            for r in dedup.minhash_lsh_pairs(
                docs, n=1, threshold=0.5, cache=True
            ).collect()
        }
    assert pairs == {(1_000_001, 1_000_002)}
    # _banded_relation asked with NO evidence, then the decision for both
    # caches ran with the MEASURED footprint
    assert seen[0] == (True, None)
    mfp = dedup._cache_footprint(None, 402 * 8, 48 + 400 / 8)
    assert seen[1:] == [(True, mfp), (True, mfp)]
    assert any("persist SKIPPED" in r.message for r in caplog.records)


def test_hintless_derived_relation_persists_within_budget(spark, monkeypatch):
    """Same shape, generous budget: the deferred persists DO fire with
    the measured footprint (degradation is evidence-driven, not blanket)."""
    from timeseriesfuser_spark.ops import dedup
    from timeseriesfuser_spark.ops.util import cache_scope

    docs = _derived_docs(spark, n=50)
    seen = []
    real = dedup._maybe_cache

    def spy(df, cache, materialize=True, footprint_bytes=None, **kw):
        out = real(df, cache, materialize, footprint_bytes, **kw)
        seen.append((cache, footprint_bytes, out.storageLevel.useMemory))
        return out

    monkeypatch.setattr(dedup, "_maybe_cache", spy)
    with cache_scope():
        dedup.minhash_lsh_pairs(docs, n=1, threshold=0.5, cache=True).collect()
        mfp = dedup._cache_footprint(None, 50 * 8, 48 + 400 / 8)
        assert (True, mfp, True) in seen  # deferred persist fired


def test_between_defers_per_side(spark, monkeypatch, tmp_path):
    """Cross-corpus variant: the file-backed side keeps its scan-byte
    evidence, the derived side defers to the measured count."""
    from timeseriesfuser_spark.ops import dedup
    from timeseriesfuser_spark.ops.util import cache_scope

    ref = spark.createDataFrame(
        [(1, "a b c d e"), (2, "f g h i j")], "doc_id long, text string"
    )
    refp = str(tmp_path / "ref.parquet")
    ref.write.parquet(refp)
    ref_fb = spark.read.parquet(refp)
    new = _derived_docs(spark, n=30).unionByName(
        spark.createDataFrame([(900, "a b c d e")], "doc_id long, text string")
    )

    seen = []
    real = dedup._maybe_cache

    def spy(df, cache, materialize=True, footprint_bytes=None, **kw):
        seen.append((cache, footprint_bytes))
        return real(df, cache, materialize, footprint_bytes, **kw)

    monkeypatch.setattr(dedup, "_maybe_cache", spy)
    with cache_scope():
        got = {
            (r["new_id"], r["ref_id"])
            for r in dedup.minhash_lsh_pairs_between(
                new, ref_fb, n=1, threshold=0.9, cache=True
            ).collect()
        }
    assert got == {(900, 1)}
    # new side: asked with no evidence, then a measured persist
    assert (True, None) in seen
    mfp_new = dedup._cache_footprint(None, 31 * 8, 48 + 400 / 8)
    assert (True, mfp_new) in seen
    # ref side: file-backed → non-deferred, footprint from scan bytes
    fb = [fp for c, fp in seen if c is True and fp not in (None, mfp_new)]
    assert fb and all(fp > 0 for fp in fb)


def test_storage_budget_local_mode_positive(spark):
    """The executor-id-aware budget still resolves in local mode (the
    single 'driver' block manager IS the storage pool there)."""
    from timeseriesfuser_spark.ops.dedup import _storage_budget_bytes

    b = _storage_budget_bytes(spark)
    assert b is not None and b > 0


def test_storage_budget_excludes_driver_with_executors():
    """VERDICT r14 #3: on a real cluster the driver's block manager is
    excluded — the budget models executor storage, where cached
    partitions actually live — while local mode keeps the lone driver
    entry (it IS the pool)."""
    from timeseriesfuser_spark.ops.dedup import _budget_from_entries

    cluster = [("driver", 100), ("1", 40), ("2", 60)]
    assert _budget_from_entries(cluster) == (40 + 60) // 2
    assert _budget_from_entries([("driver", 100)]) == 50
    assert _budget_from_entries([]) is None
    # a dead-executor-only sweep degenerating to zero → None, not 0
    assert _budget_from_entries([("driver", 0)]) is None


def test_rotation_floor_constant():
    """ADVICE r13: the empty-history floor is the documented convention
    constant, and history presence overrides it."""
    import tools.sf01_rotation as rot

    assert rot.next_round(root="/nonexistent") == rot.FIRST_ROTATION_ROUND
    assert rot.FIRST_ROTATION_ROUND == 13


def test_hamming_pairs_matches_brute_force(spark):
    """Generic pigeonhole hamming join (r20): exact vs the all-pairs
    brute force on random 48-bit hashes, across budgets."""
    import itertools
    import random

    from timeseriesfuser_spark.ops.dedup import hamming_pairs

    rng = random.Random(3)
    base = [rng.getrandbits(48) for _ in range(60)]
    # plant near-twins at controlled distances
    rows = [(i, h) for i, h in enumerate(base)]
    for d in (1, 2, 3, 4):
        h = base[d] ^ sum(1 << (3 * j) for j in range(d))
        rows.append((100 + d, h))
    rows.append((200, None))  # null never pairs
    df = spark.createDataFrame(rows, "id long, h long")
    for mh in (2, 4):
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in hamming_pairs(
                df, hash_col="h", id_col="id", bits=48, max_hamming=mh,
                cache=False,
            ).collect()
        }
        want = set()
        vals = [(i, h) for i, h in rows if h is not None]
        for (ia, ha), (ib, hb) in itertools.combinations(vals, 2):
            d = bin(ha ^ hb).count("1")
            if d <= mh:
                a, b = sorted((ia, ib))
                want.add((a, b, d))
        assert got == want and got  # nonempty by construction


def test_hamming_pairs_validation(spark):
    import pytest as _pytest

    from timeseriesfuser_spark.ops.dedup import hamming_pairs

    df = spark.createDataFrame([(1, 5)], "id long, h long")
    with _pytest.raises(ValueError, match="bits"):
        hamming_pairs(df, hash_col="h", id_col="id", bits=65)
    with _pytest.raises(ValueError, match="max_hamming"):
        hamming_pairs(df, hash_col="h", id_col="id", bits=4, max_hamming=4)


def test_simhash_and_hamming_defer_to_measured_footprint(spark, monkeypatch, caplog):
    """The deferred-evidence contract extends to the pigeonhole chunk
    caches: hint-less derived inputs to simhash_pairs / hamming_pairs
    skip the persist (loud) when the MEASURED footprint exceeds the
    budget, with results unchanged."""
    import logging

    from timeseriesfuser_spark.ops import dedup

    monkeypatch.setattr(dedup, "_storage_budget_bytes", lambda s: 1)

    docs = _derived_docs(spark, n=60).unionByName(
        spark.createDataFrame(
            [(1_000_001, "p q r s t"), (1_000_002, "p q r s t")],
            "doc_id long, text string",
        )
    )
    with caplog.at_level(
        logging.WARNING, logger="timeseriesfuser_spark.ops.dedup"
    ):
        got = {
            (r["id_a"], r["id_b"])
            for r in dedup.simhash_pairs(
                docs, max_hamming=0, cache=True
            ).collect()
        }
    assert (1_000_001, 1_000_002) in got
    assert any("persist SKIPPED" in r.message for r in caplog.records)

    caplog.clear()
    hashes = spark.range(40).selectExpr(
        "id", "xxhash64(id) AS h"
    ).unionByName(
        spark.createDataFrame([(900, 7), (901, 7)], "id long, h long")
    )
    assert hashes.inputFiles() == []
    with caplog.at_level(
        logging.WARNING, logger="timeseriesfuser_spark.ops.dedup"
    ):
        pairs = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in dedup.hamming_pairs(
                hashes, hash_col="h", id_col="id", max_hamming=2,
                cache=True,
            ).collect()
        }
    assert (900, 901, 0) in pairs
    assert any("persist SKIPPED" in r.message for r in caplog.records)
