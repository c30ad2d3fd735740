"""Round-19 additions: streaming state-blob versioning (VERDICT r12 #6),
the carried-session straggler-start fix (ADVICE r12 #1), and the
close_stream sentinel-mtime bump (ADVICE r12 #2)."""

import os
import time

import pytest

DAY = 86_400_000
GAP = 1_800_000
M = 60_000
SCHEMA = "user_id bigint, __timestamp bigint"


# ---------------------------------------------------------------- blobs


def test_state_blob_roundtrip_and_legacy_rejection():
    from timeseriesfuser_spark.streaming import (
        StaleCheckpointError,
        _dump_state_blob,
        _load_state_blob,
    )

    st = {"open": {"1": [5, 9]}, "max": 9}
    assert _load_state_blob(_dump_state_blob(st), "t") == st

    # the exact blob layout the r12 code wrote (no version tag)
    import json

    legacy = json.dumps({"open": {}, "max": None})
    with pytest.raises(StaleCheckpointError, match="stale checkpoint"):
        _load_state_blob(legacy, "session_spans_stream")

    # future/mismatched version
    with pytest.raises(StaleCheckpointError, match="version 99"):
        _load_state_blob(_dump_state_blob(st, 99), "t")

    # undecodable garbage is also named, not a raw ValueError
    with pytest.raises(StaleCheckpointError, match="undecodable"):
        _load_state_blob("{not json", "t")


def _run_peak(spark, d, ckpt, rows_out, **kw):
    from timeseriesfuser_spark.streaming import peak_concurrency_stream

    stream = spark.readStream.schema(SCHEMA).parquet(str(d))
    out = peak_concurrency_stream(stream, GAP, **kw)

    def sink(batch_df, batch_id):
        rows_out.extend(
            (r["day"], r["n_sessions"], r["peak_concurrent"])
            for r in batch_df.collect()
        )

    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if q.exception() is not None:
        raise q.exception()


def test_restart_from_old_blob_raises_named_error(spark, tmp_path):
    """End-to-end VERDICT r12 #6: batch 1 writes state under blob
    version 1 (the knob stands in for 'an older release wrote this
    checkpoint'); the restart under the current version must fail with
    the named stale-checkpoint message, not a KeyError."""
    d = tmp_path / "sv_in"
    ckpt = str(tmp_path / "ck")
    got = []
    spark.createDataFrame(
        [(1, 0), (1, 10 * M)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(str(d))
    _run_peak(spark, d, ckpt, got, _state_version=1)
    assert got == []  # day 0 still open

    spark.createDataFrame(
        [(1, 30 * M), (9, DAY + GAP + 10 * M), (9, DAY + GAP + 11 * M)],
        SCHEMA,
    ).coalesce(1).write.mode("append").parquet(str(d))
    with pytest.raises(Exception, match="stale checkpoint"):
        _run_peak(spark, d, ckpt, got)


def test_restart_same_version_still_resumes(spark, tmp_path):
    """The version tag must not break the normal resume path (the r9
    restart contract re-pinned under the tagged layout)."""
    d = tmp_path / "sv2_in"
    ckpt = str(tmp_path / "ck")
    got = []
    spark.createDataFrame(
        [(1, 0), (1, 10 * M), (2, 5 * M)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(str(d))
    _run_peak(spark, d, ckpt, got)
    assert got == []
    spark.createDataFrame(
        [(1, 30 * M), (2, 25 * M),
         (9, DAY + GAP + 10 * M), (9, DAY + GAP + 11 * M)],
        SCHEMA,
    ).coalesce(1).write.mode("append").parquet(str(d))
    _run_peak(spark, d, ckpt, got)
    assert got == [(0, 2, 2)]  # sessions stitched across the restart


# ------------------------------------------- straggler start extension


def test_peak_straggler_extends_carried_session_start(spark, tmp_path):
    """ADVICE r12 #1 (peak twin): batch 2 delivers an in-horizon
    straggler BELOW the carried session's stored start but within
    gap_ms of it — the session's start (and day anchoring) must extend
    downward. Here the carried session starts at day-1 00:10 and the
    straggler lands at day-0 23:55 (15 min earlier, within the 30-min
    gap), so the ONE session re-anchors to day 0: day 0 must finalize
    with n_sessions=1, and day 1 with 0 of its own would never emit."""
    d = tmp_path / "st_in"
    ckpt = str(tmp_path / "ck")
    got = []
    late = 2 * 3600_000  # 2h disorder horizon
    s0 = DAY + 10 * M  # day-1 00:10
    spark.createDataFrame(
        [(1, s0), (1, s0 + 5 * M)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(str(d))
    _run_peak(spark, d, ckpt, got, late_ms=late)
    assert got == []

    straggler = DAY - 5 * M  # day-0 23:55, 15 min before s0
    adv = DAY + GAP + late + 3 * 3600_000  # push wm past day 0 + gap
    spark.createDataFrame(
        [(1, straggler), (9, adv), (9, adv + M)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(str(d))
    _run_peak(spark, d, ckpt, got, late_ms=late)
    assert got == [(0, 1, 1)]


def test_peak_straggler_separate_earlier_session(spark, tmp_path):
    """A straggler group ending MORE than gap_ms before the carried
    start is its own earlier session: day 0 must count 2 sessions (the
    straggler's and the carried one, both starting day 0 here), peak 1
    (they never overlap)."""
    d = tmp_path / "st2_in"
    ckpt = str(tmp_path / "ck")
    got = []
    late = 4 * 3600_000
    s0 = 3 * 3600_000  # day-0 03:00
    spark.createDataFrame(
        [(1, s0), (1, s0 + 5 * M)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(str(d))
    _run_peak(spark, d, ckpt, got, late_ms=late)

    straggler = s0 - GAP - 10 * M  # > gap before s0
    adv = DAY + GAP + late + 3600_000
    spark.createDataFrame(
        [(1, straggler), (9, adv), (9, adv + M)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(str(d))
    _run_peak(spark, d, ckpt, got, late_ms=late)
    assert got == [(0, 2, 1)]


def test_session_spans_straggler_extends_start(spark, tmp_path):
    """ADVICE r12 #1 (spans twin): same downward extension through
    session_spans_stream — the emitted span must carry the straggler's
    start and its day."""
    from timeseriesfuser_spark.streaming import session_spans_stream

    d = tmp_path / "ss_in"
    ckpt = str(tmp_path / "ck")
    late = 2 * 3600_000
    got = []

    def run():
        stream = spark.readStream.schema(SCHEMA).parquet(str(d))
        out = session_spans_stream(stream, GAP, n_shards=4, late_ms=late)

        def sink(batch_df, batch_id):
            got.extend(
                (r["day"], r["session_start"], r["session_end"])
                for r in batch_df.collect()
            )

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.exception() is None

    s0 = DAY + 10 * M
    spark.createDataFrame(
        [(1, s0), (1, s0 + 5 * M)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(str(d))
    run()
    assert got == []

    # the advancer must reach user 1's OWN hash shard (state and
    # watermark are per shard), so user 1 itself advances: the gap
    # break closes the carried span in-batch.
    straggler = DAY - 5 * M
    adv = DAY + GAP + late + 3 * 3600_000
    spark.createDataFrame(
        [(1, straggler), (1, adv)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(str(d))
    run()
    spans = [r for r in got if r[1] < adv]
    assert spans == [(0, straggler, s0 + 5 * M)]


# --------------------------------------------------- sentinel mtime


def test_close_stream_sentinel_mtime_bumped(spark, tmp_path):
    """ADVICE r12 #2: even when staged data files carry FUTURE mtimes
    (coarse clocks / copy tools preserving timestamps), every sentinel
    file close_stream appends must sort strictly AFTER them by mtime."""
    from timeseriesfuser_spark.streaming import close_stream

    d = str(tmp_path / "cs_in")
    df = spark.createDataFrame([(1, 0), (2, 5 * M)], SCHEMA)
    df.coalesce(1).write.mode("append").parquet(d)
    data_files = [
        os.path.join(r, f)
        for r, _, fs in os.walk(d)
        for f in fs
    ]
    future = time.time() + 30
    for f in data_files:
        os.utime(f, (future, future))

    close_stream(df, keys=["user_id"], path=d)

    new_files = [
        os.path.join(r, f)
        for r, _, fs in os.walk(d)
        for f in fs
        if os.path.join(r, f) not in set(data_files)
    ]
    assert new_files, "sentinel append wrote nothing"
    max_data = max(os.path.getmtime(f) for f in data_files)
    for f in new_files:
        assert os.path.getmtime(f) > max_data


def test_close_stream_fresh_dir_still_works(spark, tmp_path):
    """The mtime bump must not break the fresh-directory append path."""
    from timeseriesfuser_spark.streaming import close_stream

    d = str(tmp_path / "cs_fresh")
    df = spark.createDataFrame([(1, 0)], SCHEMA)
    rel = close_stream(df, keys=["user_id"], path=d)
    assert rel.count() == 1
    assert os.path.isdir(d)


# ----------------------------------------- pixel aHash (VERDICT #7)


def _pnm_media(spark, payloads):
    rows = [(i, bytearray(b), "image", None) for i, b in enumerate(payloads)]
    from timeseriesfuser_spark.ops.multimodal import MEDIA_SCHEMA

    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_pixel_ahash_end_to_end_and_reencode_invariance(spark):
    """bytes → netpbm decode → 8x8 → threshold → hash, fully in-sandbox:
    the SAME picture as (a) P5 gray, (b) P6 RGB with equal channels,
    (c) P5 with a header comment must share ONE hash; a visually
    different picture must not."""
    import numpy as np

    from timeseriesfuser_spark.ops.multimodal import (
        encode_netpbm,
        pixel_ahash,
    )

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(32, 24), dtype=np.uint8)
    p5 = encode_netpbm(img)
    p6 = encode_netpbm(np.repeat(img[:, :, None], 3, axis=2))
    commented = p5.replace(b"P5\n", b"P5\n# re-encoded\n", 1)
    other = encode_netpbm(255 - img)

    df = _pnm_media(spark, [p5, p6, commented, other])
    got = {r["media_id"]: (r["ahash"], r["n_bits"])
           for r in pixel_ahash(df).collect()}
    assert got[0] == got[1] == got[2]
    assert got[3] != got[0]
    assert got[0][0] is not None and 0 < got[0][1] < 64

    # hash equals the local reference computation, sign bit included
    small_src = img.astype(np.float32)
    ys = np.minimum(((np.arange(8) + 0.5) * 32 / 8).astype(int), 31)
    xs = np.minimum(((np.arange(8) + 0.5) * 24 / 8).astype(int), 23)
    small = small_src[ys][:, xs]
    bits = (small > small.mean()).reshape(-1)
    expect = sum(1 << i for i, b in enumerate(bits) if b)
    if expect >= 1 << 63:
        expect -= 1 << 64
    assert got[0][0] == expect


def test_pixel_ahash_dedup_composition(spark):
    """The decode-path dedup: groupBy the pixel hash keeps one id per
    visually-identical group — image_ahash_dedup's contract, now from
    real bytes."""
    import numpy as np

    from pyspark.sql import functions as F
    from timeseriesfuser_spark.ops.multimodal import (
        encode_netpbm,
        pixel_ahash,
    )

    rng = np.random.RandomState(11)
    a = rng.randint(0, 256, size=(16, 16), dtype=np.uint8)
    b = rng.randint(0, 256, size=(16, 16), dtype=np.uint8)
    df = _pnm_media(
        spark,
        [encode_netpbm(a),
         encode_netpbm(np.repeat(a[:, :, None], 3, axis=2)),  # dup of a
         encode_netpbm(b)],
    )
    kept = (
        pixel_ahash(df)
        .groupBy("ahash")
        .agg(F.min("media_id").alias("keep_id"), F.count("*").alias("n"))
        .orderBy("keep_id")
        .collect()
    )
    assert [(r["keep_id"], r["n"]) for r in kept] == [(0, 2), (2, 1)]


def test_pixel_ahash_null_and_codec_gate(spark):
    from timeseriesfuser_spark.ops.multimodal import pixel_ahash

    df = _pnm_media(spark, [b""]).selectExpr(
        "media_id", "CAST(NULL AS BINARY) AS content",
        "media_type", "meta"
    )
    r = pixel_ahash(df).collect()
    assert [(x["ahash"], x["n_bits"]) for x in r] == [(None, None)]

    # JPEG magic routes to the real baseline decoder since r15's codec
    # landed: a malformed stream now raises a DECODE error from the
    # parser, not the missing-codec gate.
    jpeg_ish = _pnm_media(spark, [b"\xff\xd8\xff\xe0 not decodable"])
    with pytest.raises(Exception, match="truncated|marker"):
        pixel_ahash(jpeg_ish).collect()

    # formats with no in-repo codec still hit the NotImplementedError gate
    gif_ish = _pnm_media(spark, [b"GIF89a not decodable"])
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        pixel_ahash(gif_ish).collect()

    with pytest.raises(ValueError, match="size"):
        pixel_ahash(jpeg_ish, size=9)


# ---------------------------------- bucket-count bound (VERDICT #2)


def _brute_jaccard_pairs(rows, tn, td, n=1):
    out = set()
    sets = {}
    for i, txt in rows:
        toks = txt.split()
        sets[i] = set(
            " ".join(toks[j:j + n]) for j in range(len(toks) - n + 1)
        )
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = sets[ids[x]], sets[ids[y]]
            if not a or not b:
                continue
            inter = len(a & b)
            union = len(a | b)
            if inter * td >= tn * union:
                out.add((ids[x], ids[y], inter, union))
    return out


def test_bound_filter_lossless_vs_brute_force(spark):
    """The bucket-count bound must be invisible in the result: random
    Zipf-ish corpus, brute force == bound ON == bound OFF."""
    import numpy as np

    from timeseriesfuser_spark.ops.dedup import set_similarity_pairs

    rng = np.random.RandomState(19)
    vocab = [f"w{i}" for i in range(30)]
    p = np.array([1.0 / (i + 1) for i in range(30)])
    p /= p.sum()
    rows = []
    for i in range(70):
        k = rng.randint(4, 13)
        toks = list(dict.fromkeys(rng.choice(vocab, size=k, p=p)))
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def run(**kw):
        return {
            (r["id_a"], r["id_b"], r["intersection"], r["union_size"])
            for r in set_similarity_pairs(
                df, n=1, threshold=(3, 10), cache=False, **kw
            ).collect()
        }

    brute = _brute_jaccard_pairs(rows, 3, 10)
    assert brute  # non-degenerate fixture
    on = run(_bound_filter=True)
    off = run(_bound_filter=False)
    assert on == off == brute


def test_bound_filter_lossless_under_saturation(spark, monkeypatch):
    """Sets far larger than the bucket space (with _SK_LANES
    monkeypatched to 1 = 64 buckets, a 3000-token doc sets every bit):
    the bitmap bound degrades to min(sz_a, sz_b) — no pruning — and
    identical big docs MUST still pair (losslessness at the sketch's
    resolution floor)."""
    import timeseriesfuser_spark.ops.dedup as dd

    monkeypatch.setattr(dd, "_SK_LANES", 1)
    big = " ".join(f"t{i}" for i in range(3000))
    other = " ".join(f"z{i}" for i in range(50))
    df = spark.createDataFrame(
        [(0, big), (1, big), (2, other)], "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"], r["intersection"])
        for r in dd.set_similarity_pairs(
            df, n=1, threshold=(9, 10), cache=False
        ).collect()
    }
    assert got == {(0, 1, 3000)}


# ------------------------------ graceful cache downgrade (VERDICT #4)


def test_cache_downgrade_skips_persist_over_budget(spark, monkeypatch, caplog):
    """_maybe_cache with a footprint estimate over the storage budget
    must SKIP the persist (loud), not attempt it — the measured 16g/92M
    OOM regime degrades to recomputation instead of a dead JVM."""
    import logging

    from timeseriesfuser_spark.ops import dedup

    df = spark.range(100).selectExpr("id AS v")
    monkeypatch.setattr(dedup, "_storage_budget_bytes", lambda s: 1_000)
    with caplog.at_level(logging.WARNING,
                         logger="timeseriesfuser_spark.ops.dedup"):
        out = dedup._maybe_cache(df, True, footprint_bytes=2_000)
    assert out.storageLevel.useMemory is False  # not persisted
    assert any("persist SKIPPED" in r.message for r in caplog.records)

    # under budget → normal persist
    kept = dedup._maybe_cache(df, True, footprint_bytes=500)
    assert kept.storageLevel.useMemory is True
    kept.unpersist()

    # no estimate → behavior unchanged (persist attempted)
    kept2 = dedup._maybe_cache(df, True)
    assert kept2.storageLevel.useMemory is True
    kept2.unpersist()


def test_minhash_threads_footprint_to_caches(spark, monkeypatch):
    """size_hint reaches _maybe_cache as a footprint estimate for BOTH
    LSH caches (shingle arrays + banding rows), and the result is
    unchanged when the downgrade fires."""
    from timeseriesfuser_spark.ops import dedup

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma epsilon"),
         (3, "zz yy xx ww")],
        "doc_id long, text string",
    )

    seen = []
    real = dedup._maybe_cache

    def spy(df, cache, materialize=True, footprint_bytes=None, **kw):
        seen.append(footprint_bytes)
        return real(df, cache, materialize, footprint_bytes, **kw)

    monkeypatch.setattr(dedup, "_maybe_cache", spy)
    base = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(
            docs, n=1, threshold=0.5, cache=True
        ).collect()
    }
    assert base == {(1, 2)}
    # no hint, no file evidence → measured-evidence mode (r20): counted
    # unpersisted, then both caches persisted with the MEASURED footprint
    assert seen[0] is None
    assert seen[-2:] == [dedup._cache_footprint(None, 3 * 8, 48 + 400 / 8)] * 2

    seen.clear()
    monkeypatch.setattr(dedup, "_storage_budget_bytes", lambda s: 10)
    hinted = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(
            docs, n=1, threshold=0.5, cache=True, size_hint=5_000_000
        ).collect()
    }
    expect_fp = 5_000_000 * (8 * 48 + 400)
    assert seen[-2:] == [expect_fp, expect_fp]
    assert hinted == base  # downgrade fired (budget 10) — same pairs


def test_ngram_jaccard_maxdf_bound_lossless(spark):
    """The bitmap bound generalized to ngram_jaccard_pairs' max_df
    branch: toggle-invariant and equal to the in-engine exact baseline
    (max_df high enough that candidate generation is complete, so the
    only difference is the bound)."""
    import numpy as np

    from timeseriesfuser_spark.ops.dedup import ngram_jaccard_pairs

    rng = np.random.RandomState(23)
    vocab = [f"w{i}" for i in range(25)]
    rows = []
    for i in range(60):
        k = rng.randint(4, 10)
        toks = list(dict.fromkeys(rng.choice(vocab, size=k)))
        rows.append((i, " ".join(toks)))
    rows += [(100, "a b c d e"), (101, "a b c d e"), (102, "a b c d f")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def run(**kw):
        return {
            (r["id_a"], r["id_b"], r["intersection"], r["union_size"])
            for r in ngram_jaccard_pairs(
                df, n=1, threshold=0.3, cache=False, **kw
            ).collect()
        }

    exact = run(max_df=None)  # the all-pairs inverted-index baseline
    assert exact
    assert run(max_df=10_000, _bound_filter=True) == exact
    assert run(max_df=10_000, _bound_filter=False) == exact
