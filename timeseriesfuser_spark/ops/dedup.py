"""Deduplication operators: exact, n-gram Jaccard (inverted index),
MinHash+LSH, SimHash.

Scale design (the 100 TB bar):

- *exact*: one hash-groupBy — partial aggregation map-side, single shuffle.
- *n-gram Jaccard*: inverted-index self-join on shingles (the classic
  all-pairs similarity join). Exact, but join fan-out grows with shingle
  document frequency — the scale path for web-corpus near-dup is MinHash.
- *MinHash+LSH*: signatures via one groupBy over exploded shingles; banding
  turns candidate generation into an equi-join on (band, band-key); exact
  Jaccard verification only on candidates. Tunable recall via
  (num_hashes, bands).
- *SimHash*: bit-vote aggregation + pigeonhole banding on hash chunks.

Determinism: every hash is derived from md5 (``md5_hash64``: first 15 hex
chars → int64), so signatures, buckets and verdicts are reproducible in any
engine with an md5 function — which is what makes a DuckDB oracle possible.
No Python UDFs anywhere; everything stays in whole-stage codegen.
"""

from __future__ import annotations

import collections
import functools
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from timeseriesfuser_spark.ops import text as _text
from timeseriesfuser_spark.ops.util import (
    track_persist,
    SMALL_INPUT_BYTES,
    estimated_input_bytes,
    observed_metrics,
    spread_small_input,
)


def md5_hash64(col: Column, seed: Optional[int] = None) -> Column:
    """Deterministic 60-bit non-negative hash: int(md5(seed⊕value)[:15], 16).

    Engine-portable (md5 + hex-parse exist in Spark and DuckDB), unlike
    xxhash64 which is Spark-specific.
    """
    s = F.concat(F.lit(f"{seed}\x1f"), col) if seed is not None else col
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def tokens_array(text_col: str) -> Column:
    return F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(_text.WORD_RE), F.lit(0)
    )


def shingle_array(text_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles (space-joined).

    The token array is BOUND through a single-element ``transform`` lambda
    (the ``_band_keys_col`` idiom): a lambda variable is evaluated once per
    row and then referenced. Referencing the ``tokens_array`` expression
    directly inside the per-start lambda re-evaluates the full regex
    tokenization once PER SHINGLE (interpreted higher-order-function eval
    has no subexpression cache) — O(tokens) regex passes over the text per
    row. Interleaved A/B at sf0.1 (r15): binding measured 0.70× on the
    doc_fingerprint headline and 0.89× on dedup_minhash_lsh."""
    toks = tokens_array(text_col)

    def grams_of(tk: Column) -> Column:
        starts = F.when(
            F.size(tk) >= n, F.sequence(F.lit(1), F.size(tk) - (n - 1))
        ).otherwise(F.array().cast("array<int>"))
        return F.array_distinct(
            F.transform(starts, lambda i: F.concat_ws(" ", F.slice(tk, i, n)))
        )

    return F.element_at(F.transform(F.array(toks), grams_of), 1)


def exact_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = False,
) -> DataFrame:
    """Exact-duplicate groups by content hash.

    Returns (content_hash, n_copies, canonical_id): one row per distinct
    content, canonical = min id. ``normalize=True`` hashes the
    whitespace-collapsed lowercase text instead of the raw bytes.
    """
    c = F.col(text_col)
    if normalize:
        c = F.regexp_replace(F.trim(F.lower(c)), "\\s+", " ")
    return (
        df.select(F.md5(c).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("canonical_id"),
        )
    )


def shingles_df(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Exploded (id, shingle) inverted-index relation."""
    df = spread_small_input(df)
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(shingle_array(text_col, n)).alias("sh"),
    )


def _storage_budget_bytes(spark) -> "int | None":
    """HALF the aggregate storage capacity the cluster reports (Σ max
    storage memory over live EXECUTORS; in local mode, the one JVM's
    unified pool). Half because the budget models the COLUMNAR-BUILD
    TRANSIENT, not stored-bytes capacity: the build holds builder
    buffers + unroll copies on top of the stored bytes, and the LSH ops
    cache TWO relations — the 16g/92M-row OOM cell sat at ~95% of the
    raw pool by estimate and still died (SCALE.md round-19; the halving
    is calibrated against that local-mode cell). In cluster deployments
    the driver's own block manager is EXCLUDED — cached partitions live
    on executors, and counting the driver would inflate the budget
    exactly where the OOM-skip heuristic matters (ADVICE r13). ``None``
    when unreadable — callers then keep current behavior."""
    try:
        statuses = (
            spark.sparkContext._jsc.sc()
            .env().blockManager().master().getStorageStatus()
        )
        entries = [
            (s.blockManagerId().executorId(), s.maxMem()) for s in statuses
        ]
        return _budget_from_entries(entries)
    except Exception:
        return None


def _budget_from_entries(entries) -> "int | None":
    """Pure half-capacity rule over (executor_id, max_mem) block-manager
    entries: executors only when any exist (cluster mode — cached
    partitions never live on the driver), else the lone driver entry
    (local mode, where the driver JVM IS the pool)."""
    if any(eid != "driver" for eid, _ in entries):
        entries = [e for e in entries if e[0] != "driver"]
    total = sum(mx for _, mx in entries)
    return (total // 2) or None


def _cache_footprint(df, rows=None, row_bytes: float = 0) -> "int | None":
    """Rough upper estimate of the bytes a dedup op's caches would
    occupy, from whichever evidence exists: scan bytes of ``df`` ×6
    (shingle text expansion + ids + headers; tiny docs expand into
    per-bucket rows) or a block-row count ``rows`` × ``row_bytes``, the
    op's per-row constant (MinHash: 48 B per band row + 400 B of
    shingles per document spread over its ``bands`` rows; pigeonhole
    chunks: 48 B per chunk row + 64 B of signature per document).
    ``rows`` comes from a caller ``size_hint`` or a measured count
    (:func:`_maybe_cache`). ``None`` with no evidence. The constants are
    deliberately generous: a FALSE skip costs bounded recomputation, a
    false cache attempt at the wrong scale kills the JVM (SCALE.md
    round-19)."""
    cands = []
    est = None if df is None else estimated_input_bytes(df)
    if est is not None:
        cands.append(est * 6)
    if rows is not None:
        cands.append(int(rows * row_bytes))
    return max(cands) if cands else None


def _maybe_cache(
    df: DataFrame,
    cache: bool,
    materialize: bool = True,
    footprint_bytes: "int | None" = None,
    row_bytes: "float | None" = None,
    parents: tuple = (),
) -> DataFrame:
    """Persist a multiply-consumed intermediate (MEMORY_AND_DISK, spills)
    and materialize it EAGERLY (one count job).

    Same stance as Spark MLlib's LSH: the shingle/signature relations feed
    several joins of one output plan, and Catalyst re-executes plan
    branches rather than sharing them. The eager count matters as much as
    the persist: when the final action's independent stages (both join
    sides, both verify sides) race against a persist that has no blocks
    yet, each stage recomputes the full relation concurrently — measured
    as a flaky 5x blowup (40s → 200s+) on a 1M-doc MinHash. Spark evicts
    LRU under pressure; pass ``cache=False`` to trade recomputation for
    zero cache footprint (e.g. when the exploded relation is too big even
    for disk).

    ``parents``: upstream relations persisted LAZILY under the same
    decision — this relation's materializing count fills them on the way
    through, sequentially within one job, so the race above cannot occur
    for them either.

    GRACEFUL DEGRADATION (VERDICT r12 #4): when a ``footprint_bytes``
    estimate exceeds the cluster's reported storage capacity, the
    persist is SKIPPED with a WARNING instead of attempted. Measured
    motivation (SCALE.md round-19): building the columnar cache of a
    92M-row band relation in one 16g JVM dies in OutOfMemoryError — the
    batch builders and unroll buffers are untracked allocations that the
    memory manager cannot spill (the MEMORY_AND_DISK/DISK_ONLY levels
    and a 10×-smaller columnar batch size all OOMed identically), while
    the UNCACHED pipeline completes at the same heap (494 s at 16g, vs
    ~390 s cached at 100g). Skipping the cache trades bounded
    recomputation for survival — degrade, not die.

    MEASURED EVIDENCE (VERDICT r13 #1): with no estimate but a per-row
    constant ``row_bytes``, the relation is first counted UNPERSISTED
    and the measured :func:`_cache_footprint` decides. A hint-less
    DERIVED relation (no scan bytes, no caller hint) then downgrades
    instead of OOMing the JVM during the columnar build; the price is
    that one extra pass, paid only on the no-evidence path."""
    if not cache:
        return df
    if footprint_bytes is None and row_bytes is not None:
        measured = _cache_footprint(None, df.count(), row_bytes)
        return _maybe_cache(df, True, materialize, measured, parents=parents)
    from pyspark import StorageLevel

    for p in parents:
        _maybe_cache(p, True, materialize=False, footprint_bytes=footprint_bytes)
    if footprint_bytes is not None:
        budget = _storage_budget_bytes(df.sparkSession)
        if budget is not None and footprint_bytes > budget:
            import logging

            logging.getLogger(__name__).warning(
                "estimated cached footprint ~%.1f GiB exceeds the "
                "cluster's reported storage capacity ~%.1f GiB — "
                "persist SKIPPED (consumers recompute the relation; "
                "columnar cache builds of this size OOM a JVM this "
                "small outright). Add executors/memory, or pass "
                "cache=False to silence this.",
                footprint_bytes / 2**30, budget / 2**30,
            )
            return df
    df = track_persist(df.persist(StorageLevel.MEMORY_AND_DISK))
    if materialize:
        df.count()
    return df


#: Default hot-bucket cap for the LSH family ("auto" mode). Generous by
#: design: a 10k-member bucket already emits ~50M candidate pairs in one
#: join task — any legitimate near-dup cluster that large should have
#: been collapsed by exact_duplicates first.
DEFAULT_MAX_BUCKET = 10_000


def _window_cap(
    rel: DataFrame,
    key_cols: list,
    cap,
    op_name: str,
    split_id: "str | None" = None,
    default: "int | None" = None,
) -> DataFrame:
    """Quadratic-flood guard for every bucketed pair self-join (MinHash
    bands, SimHash/SRP/hamming chunks, set-similarity prefix tokens,
    fuzzy deletion keys, blocked-cosine blocks) — DEFAULT-ON.

    A bucket of n members emits C(n,2) candidate pairs in one join task:
    boilerplate floods or signature collisions turn one bucket into a
    straggler emitting billions of pairs. The bucket size is
    ``count(1) OVER (PARTITION BY key_cols)`` IN THE PLAN — the window
    partitions on the self-join's own keys, so with AQE and broadcast
    OFF the join consumes the window's exchange and sort: one hash
    Exchange, the other side a ReusedExchange, no extra job, no extra
    exchange. Under the DEFAULT configuration (AQE on) the cap adds two
    shuffle stages per call: the two join sides scan the cached input
    through separate query stages, the exchange is not reused, and a
    small input whose join broadcasts shuffles for the window alone
    (measured +0.1-0.4 s per call, SCALE.md "In-plan window cap").
    Pruning inside the join's partitioning, not in a driver pass before
    it, is the partition-local filtering of the distributed similarity
    joins (PAPERS.md, EDBT 2019/2020).

    - drop (``split_id=None``, the LSH family): rows of buckets with
      n > cap are filtered out — a RECALL cap. A pair whose first shared
      bucket was dropped is NOT recovered via a later shared bucket:
      dropped means every pair meeting in that bucket is skipped, which
      is exactly the bounded-cardinality contract.
    - split (``split_id`` = the id column; blocked cosine): rows of hot
      blocks get ``__sub = pmod(xxhash64(id), ceil(n/cap))``, all other
      rows (every row when ``cap`` is ``None``) ``__sub = 0``; the
      caller always joins on ``key_cols + ["__sub"]``.
      Per-task cost is bounded by cap², blocks at/under the cap stay
      exact, and pairs across sub-blocks of a HOT block are skipped
      (splitting a hot cluster is just finer clustering — SemDeDup blocks
      carry real recall, a flooded signature bucket does not).

    ``cap``: "auto" → ``default`` (:data:`DEFAULT_MAX_BUCKET` unless
    given), an int → that value, ``None`` → relation untouched.

    Never silent, and no job at construction: the hot-key counts are
    DATA, observed on the caller's own action as ``<op_name>.bucket_cap``
    (``dropped_buckets``, ``dropped_rows``) or ``<op_name>.block_cap``
    (``split_blocks``, ``split_rows``) — read them with
    :func:`ops.util.observed_metrics` after collecting the result.
    Buckets are counted as ``round(Σ 1/n)`` over hot rows. One blind
    spot: when the cap drops EVERY row, AQE proves the join side empty
    and replaces the branch carrying the observation, so an empty result
    reports no observation (the cap-active notice is still logged)."""
    import logging

    if cap is None:
        if split_id is None:
            return rel
        return rel.withColumn("__sub", F.lit(0).cast("long"))
    what, verb = ("block", "split") if split_id else ("bucket", "dropped")
    cap = int(default or DEFAULT_MAX_BUCKET) if cap == "auto" else int(cap)
    if cap < 2:
        raise ValueError(
            f"max_{what} must be >= 2 (a 1-member {what} emits no pairs)"
        )
    name = f"{op_name}.{what}_cap"
    logging.getLogger(__name__).info(
        "%s: %s cap %d active — larger %ss are %s; counts are observed as "
        "%r on the query's action; pass max_%s=None to disable",
        op_name, what, cap, what, verb, name, what,
    )
    from pyspark.sql.window import Window

    n = F.col("__bn")
    hot = n > cap
    w = rel.withColumn(
        "__bn", F.count(F.lit(1)).over(Window.partitionBy(*key_cols))
    ).observe(
        name,
        F.round(F.coalesce(F.sum(F.when(hot, 1.0 / n)), F.lit(0.0)))
        .cast("long").alias(f"{verb}_{what}s"),
        F.count(F.when(hot, 1)).alias(f"{verb}_rows"),
    )
    if split_id is None:
        return w.filter(~hot).drop("__bn")
    sub = F.when(
        hot, F.pmod(F.xxhash64(F.col(split_id)), F.ceil(n / cap))
    ).otherwise(F.lit(0))
    return w.withColumn("__sub", sub.cast("long")).drop("__bn")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    cache: bool = True,
    max_df: int | None = None,
    _bound_filter: bool = True,
) -> DataFrame:
    """Exact near-duplicate pairs: word-``n``-gram Jaccard ≥ ``threshold``.

    Inverted-index join: pairs sharing ≥1 shingle → intersection counts →
    |A∪B| = |A|+|B|−|A∩B|. Output (id_a, id_b, intersection, union_size,
    jaccard), id_a < id_b. jaccard is one int/int division → oracle-exact.

    ``max_df`` is the scale lever: a Zipf-hot shingle (a common trigram)
    appearing in ``k`` documents fans out k·(k−1)/2 candidate pairs in the
    self-join — quadratic in the corpus for the hottest shingles. With
    ``max_df`` set, shingles whose document frequency exceeds it are
    excluded from CANDIDATE GENERATION only: a pair is surfaced iff it
    shares ≥1 rare (df ≤ max_df) shingle, and its jaccard is then computed
    EXACTLY over the full shingle sets via ``array_intersect`` (the MinHash
    verify pattern). Per-shingle candidate fan-out is bounded by max_df²; a
    missed pair would have to overlap exclusively on corpus-hot shingles,
    which at a high threshold means the pair is boilerplate the hot
    shingles already cover. ``None`` keeps the exact all-pairs baseline.
    """
    if max_df is None:
        # scan-byte footprint evidence (bands arm unused): a file-backed
        # corpus too big for the exploded-shingle cache downgrades loud
        sh = _maybe_cache(
            shingles_df(df, id_col, text_col, n), cache,
            footprint_bytes=_cache_footprint(df),
        )
        sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
        a, b = sh.alias("a"), sh.alias("b")
        inter = (
            a.join(b, F.col("a.sh") == F.col("b.sh"))
            .filter(F.col("a.id") < F.col("b.id"))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("intersection"))
        )
        out = (
            inter.join(sizes.withColumnsRenamed({"id": "id_a", "sz": "sz_a"}), "id_a")
            .join(sizes.withColumnsRenamed({"id": "id_b", "sz": "sz_b"}), "id_b")
            .withColumn(
                "union_size", F.col("sz_a") + F.col("sz_b") - F.col("intersection")
            )
            .withColumn(
                "jaccard", F.col("intersection").cast("double") / F.col("union_size")
            )
            .filter(F.col("jaccard") >= threshold)
        )
        return out.select("id_a", "id_b", "intersection", "union_size", "jaccard")

    if max_df < 1:
        raise ValueError(f"max_df must be >= 1: {max_df}")
    docs = _maybe_cache(
        spread_small_input(df).select(
            F.col(id_col).alias("id"),
            shingle_array(text_col, n).alias("__shs"),
        ),
        cache,
        footprint_bytes=_cache_footprint(df),
    )
    sh = docs.select("id", F.explode("__shs").alias("sh"))
    # document frequency per shingle: one linear hash-agg + one equi-join
    # back — the price that caps the quadratic hot-shingle fan-out.
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
    rare = sh.join(dfreq.filter(F.col("__df") <= max_df).select("sh"), "sh")
    a, b = rare.alias("a"), rare.alias("b")
    cand = (
        a.join(b, F.col("a.sh") == F.col("b.sh"))
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("__shared_rare"))
        .drop("__shared_rare")
    )
    if _bound_filter:
        # Bitmap overlap bound before the exact verify (the
        # set_similarity_pairs round-19 scheme — see _join_bound_sketches
        # / SCALE.md). The float-threshold predicate uses the SAME double
        # division as the final jaccard filter: bound ≥ inter and
        # union_from_bound ≤ true union, so bound/(sza+szb−bound) ≥
        # inter/union in reals, and double rounding is monotone — a pair
        # the final filter keeps always passes here. Lossless, pinned by
        # the brute-force differential.
        joined, bound = _join_bound_sketches(cand, docs, "__shs")
        cand = (
            joined.withColumn("__bnd", F.expr(bound))
            .filter(
                F.col("__bnd").cast("double")
                / (F.col("__sza") + F.col("__szb") - F.col("__bnd"))
                >= F.lit(float(threshold))
            )
            .select("id_a", "id_b")
        )
    out = (
        cand.join(
            docs.select(F.col("id").alias("id_a"), F.col("__shs").alias("__shs_a")),
            "id_a",
        )
        .join(
            docs.select(F.col("id").alias("id_b"), F.col("__shs").alias("__shs_b")),
            "id_b",
        )
        .withColumn(
            "intersection",
            F.size(F.array_intersect("__shs_a", "__shs_b")).cast("long"),
        )
        .withColumn(
            "union_size",
            (
                F.size("__shs_a") + F.size("__shs_b") - F.col("intersection")
            ).cast("long"),
        )
        .withColumn(
            "jaccard", F.col("intersection").cast("double") / F.col("union_size")
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "intersection", "union_size", "jaccard")


MINHASH_MASK = (1 << 52) - 1


def _double_hash_structs(shs_col) -> Column:
    """``array<struct<h1,h2>>``: one md5 per shingle, split into two 52-bit
    halves for Kirsch-Mitzenmacher double hashing. Materialize this as a
    projected column so the md5 runs once per shingle, not once per hash
    function."""
    return F.transform(
        shs_col,
        lambda s: F.struct(
            F.conv(F.substring(F.md5(s), 1, 13), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(F.md5(s), 14, 13), 16, 10).cast("long").alias("h2"),
        ),
    )


def _minhash_col(hs, i: int) -> Column:
    """h_i = min over shingles of (h1 + i*h2) & (2^52-1) over a *bound*
    double-hash array (a lambda variable — see ``_band_keys_col``).

    i*h2 ≤ 63·2^52 < 2^58 never overflows int64, so the arithmetic is
    identical in any engine (DuckDB raises on BIGINT overflow, Spark
    wraps; staying under 2^63 sidesteps both)."""
    return F.array_min(
        F.transform(
            hs,
            lambda x: (x["h1"] + F.lit(i) * x["h2"]).bitwiseAND(F.lit(MINHASH_MASK)),
        )
    )


def _band_keys_col(shs_name: str, num_hashes: int, bands: int) -> Column:
    """All LSH band keys of one document as a per-row ``array<string>`` —
    MinHash signatures need NO explode and NO aggregation shuffle, just
    this projection, applied to the shingle-array column ``shs_name``.

    The double-hash array is bound through a single-element ``transform``
    lambda: Catalyst's projection collapse would otherwise inline the
    md5-per-shingle expression into every one of the ``num_hashes`` min
    terms (recomputing each shingle's md5 ``num_hashes`` times); a lambda
    variable is evaluated once per row, then referenced.

    Built as ONE SQL string (same structure, parsed JVM-side): the
    Column-API composition of the 32 min terms cost thousands of py4j
    round-trips — ~1 s of driver time per call (the r10 profile; the
    simhash vote had the same disease). Bit-identity with the Column
    build is pinned in tests/test_round16_additions.py."""
    r = num_hashes // bands
    dh_sql = (
        f"transform(`{shs_name}`, s -> named_struct("
        "'h1', CAST(conv(substring(md5(s), 1, 13), 16, 10) AS BIGINT), "
        "'h2', CAST(conv(substring(md5(s), 14, 13), 16, 10) AS BIGINT)))"
    )

    def mh(i: int) -> str:
        return (
            f"array_min(transform(hs, x -> (x.h1 + {i}L * x.h2) "
            f"& {MINHASH_MASK}L))"
        )

    band_keys = ", ".join(
        "md5(concat_ws(',', "
        + ", ".join(mh(b * r + j) for j in range(r))
        + "))"
        for b in range(bands)
    )
    return F.expr(
        f"element_at(transform(array({dh_sql}), hs -> "
        f"array({band_keys})), 1)"
    )


def _use_perrow_signatures(df: DataFrame, small_input_bytes: int) -> bool:
    """Adaptive physical strategy (the same call Catalyst makes between
    broadcast and shuffle joins, made here from input statistics):

    - SMALL input → per-row projection signatures (``_band_keys_col`` /
      the bound-lambda SimHash votes): zero shuffles, fewest stages —
      wins when execution is stage-count-bound (measured 1.2s vs 1.9s
      for the full MinHash pipeline on a 5k-doc table);
    - LARGE or unknown-size input → explode + whole-stage-codegen hash
      aggregate: higher stage count but vectorized per-element cost —
      wins when execution is CPU-bound (measured ~2x faster at 1M docs;
      interpreted higher-order-function eval pays per-element object
      overhead that codegen doesn't).
    """
    est = estimated_input_bytes(df)
    return est is not None and est < small_input_bytes


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """MinHash signatures: h_i(doc) = min over shingles of the i-th
    double-hash (one md5 per shingle, not one per hash function).

    One explode + one groupBy (partial agg map-side) — scales linearly.
    This wide (id, h0..h{k-1}) surface keeps the hash computation in a
    vectorized aggregate; the LSH path below never materializes it,
    using the per-row ``_band_keys_col`` projection instead."""
    sh = shingles_df(df, id_col, text_col, n)
    hx = F.md5(F.col("sh"))
    hashed = sh.select(
        "id",
        F.conv(F.substring(hx, 1, 13), 16, 10).cast("long").alias("__h1"),
        F.conv(F.substring(hx, 14, 13), 16, 10).cast("long").alias("__h2"),
    )
    return hashed.groupBy("id").agg(
        *[
            F.min(
                (F.col("__h1") + F.lit(i) * F.col("__h2")).bitwiseAND(
                    F.lit(MINHASH_MASK)
                )
            ).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    )


def _banded_relation(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    bands: int,
    cache: bool,
    small_input_bytes: int,
    size_hint=None,
):
    """(darr, buckets) for one corpus: the doc-level shingle-array
    relation and its (id, __bk, band, bkey) banding rows — the shared
    machinery of the self-join and cross-corpus MinHash variants.

    Shingle arrays are deliberately unsorted: MinHash mins, per-shingle
    md5 and array_intersect are all order-free, and array_sort measured
    +60% on the shingle-build stage at 1M docs. Band keys ride along as
    one per-row array (``__bk``) so joins can test earlier bands without
    a second lookup.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    darr = spread_small_input(df).select(
        F.col(id_col).alias("id"),
        shingle_array(text_col, n).alias("shs"),
    )
    nonempty = darr.filter(F.size("shs") > 0)
    if _use_perrow_signatures(df, small_input_bytes):
        keyed = nonempty.select(
            "id", _band_keys_col("shs", num_hashes, bands).alias("__bk")
        )
    else:
        sh = nonempty.select("id", F.explode("shs").alias("sh"))
        hx = F.md5(F.col("sh"))
        hashed = sh.select(
            "id",
            F.conv(F.substring(hx, 1, 13), 16, 10).cast("long").alias("__h1"),
            F.conv(F.substring(hx, 14, 13), 16, 10).cast("long").alias("__h2"),
        )
        sig = hashed.groupBy("id").agg(
            *[
                F.min(
                    (F.col("__h1") + F.lit(i) * F.col("__h2")).bitwiseAND(
                        F.lit(MINHASH_MASK)
                    )
                ).alias(f"h{i}")
                for i in range(num_hashes)
            ]
        )
        keyed = sig.select(
            "id",
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            ",", *[F.col(f"h{b * r + j}") for j in range(r)]
                        )
                    )
                    for b in range(bands)
                ]
            ).alias("__bk"),
        )
    # posexplode_OUTER, deliberately: the non-outer Generate makes
    # Catalyst's InferFiltersFromGenerate synthesize
    # ``size(__bk) > 0 AND isnotnull(__bk)`` below the Generate, and
    # projection collapse substitutes the FULL band-key expression (one
    # md5 + num_hashes min-hash evaluations per shingle) into that
    # predicate — the entire signature computation ran twice per row
    # (seen as the doubled count-stage CPU in the r15 profile; guide
    # §4.4's duplicated-evaluation trap, JVM-expression edition). The
    # outer variant blocks the rule and is row-identical here: __bk is
    # an array() of exactly ``bands`` non-null md5 strings built from a
    # relation already filtered to size(shs) > 0, so it is never null
    # and never empty — the outer null-row branch is unreachable.
    # darr is a lazily persisted PARENT: the buckets materialization fills
    # it on the way through (a separate darr count was one whole
    # redundant pass over the corpus per call, r10). With no footprint
    # evidence, the measured bucket count decides both persists.
    row_bytes = 48 + 400 / bands
    buckets = _maybe_cache(
        keyed.select(
            "id", "__bk", F.posexplode_outer("__bk").alias("band", "bkey")
        ),
        cache,
        footprint_bytes=_cache_footprint(
            df, size_hint and size_hint * bands, row_bytes
        ),
        row_bytes=row_bytes,
        parents=(darr,),
    )
    return darr, buckets


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    verify: bool = True,
    cache: bool = True,
    small_input_bytes: int = SMALL_INPUT_BYTES,
    max_bucket="auto",
    size_hint: int | None = None,
    band_batches: int | None = None,
) -> DataFrame:
    """Near-dup pairs via MinHash banding; candidates sharing ≥1 band bucket
    are (optionally) verified with exact Jaccard ≥ ``threshold``.

    ``band_batches``: opt-in peak-shuffle-disk bound. With ``B > 1`` the
    band self-join runs in B sequential batches of ~bands/B bands each,
    each batch eagerly materialized (localCheckpoint) and its shuffle
    files released before the next runs — peak shuffle footprint ∝ 1/B,
    results identical (band batches are independent under the global
    first-shared-band rule). Costs laziness (batch jobs run at
    op-construction) and, when the block relations are uncached,
    B recomputations of them. Use when a single-pass run exhausts
    shuffle scratch disk (the 11.5M-doc/63 G ENOSPC regime, SCALE.md).
    The bucket cap runs per batch; its drop counts, summed over the
    batches, are logged once as a WARNING instead of observed on the
    result (the batch jobs have already run).

    ``size_hint``: approximate row count of ``df`` (documents) — cache
    FOOTPRINT evidence only (:func:`_cache_footprint`), for a DERIVED
    input (post-join/filter, ``inputFiles`` unresolvable) that should
    skip its persists without the measuring count; file-backed inputs
    never need it (scan-byte evidence is read automatically).

    With r = num_hashes/bands rows per band, the LSH S-curve crosses ~50%
    recall at s ≈ (1/bands)^(1/r); defaults (32,8→r=4) target s≈0.6.
    Probabilistic recall — candidate *generation* may miss pairs; the
    verification step has no false positives.

    Verification joins the candidate pairs against a *doc-level* shingle
    ARRAY relation (one row per doc) and computes |A∩B| via
    ``array_intersect`` in codegen — two joins on a doc-count-sized
    relation instead of three shuffles of the exploded shingle relation.

    Shuffle inventory (the 100 TB budget): signature strategy is adaptive
    (``_use_perrow_signatures``) — per-row projection (zero shuffles) on
    small inputs, explode + codegen hash-aggregate (one shuffle) on large
    ones; candidate generation is ONE equi-join on (band, bkey) with pair
    dedup done by a bitwise "first shared band" predicate inside the join
    (no global ``distinct`` re-shuffle of the pair relation);
    verification is two joins on doc ids. Hot buckets (floods of
    identical docs) fan out k² in the join as in any LSH — AQE skew-join
    splits them; run ``exact_duplicates`` first to collapse identical
    content; ``max_bucket`` defaults to the family-wide "auto" cap
    (:data:`DEFAULT_MAX_BUCKET`) dropping pathological buckets from
    candidate generation, counted as the observed metric
    ``minhash_lsh_pairs.bucket_cap`` — ``None`` disables
    (:func:`_window_cap`).
    Zero-shingle docs never enter the band join (they cannot reach any
    positive Jaccard threshold).
    """
    darr, buckets = _banded_relation(
        df, id_col, text_col, n, num_hashes, bands, cache, small_input_bytes,
        size_hint,
    )

    def _capped(rel: DataFrame) -> DataFrame:
        return _window_cap(
            rel, ["band", "bkey"], max_bucket, "minhash_lsh_pairs"
        )

    def _pair_join(grp: DataFrame) -> DataFrame:
        a, b_ = grp.alias("a"), grp.alias("b")
        # Emit each pair only at its FIRST shared band: a codegen
        # predicate in the join replaces the global distinct (which would
        # re-shuffle the whole candidate relation). Exact: if two docs
        # share band c' < c they necessarily co-occur in that bucket too,
        # so exactly one band emits. The check scans the FULL __bk array,
        # so it stays exact under band batching: a pair meeting in a
        # later batch whose first shared band was in an earlier batch is
        # suppressed here and emitted by the earlier batch.
        no_earlier_band = ~F.exists(
            F.slice(
                F.zip_with(
                    F.col("a.__bk"), F.col("b.__bk"), lambda p, q: p == q
                ),
                F.lit(1),
                F.col("a.band"),
            ),
            lambda e: e,
        )
        return (
            a.join(
                b_,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bkey") == F.col("b.bkey")),
            )
            .filter((F.col("a.id") < F.col("b.id")) & no_earlier_band)
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        )

    if band_batches is not None and int(band_batches) < 1:
        raise ValueError(
            f"band_batches ({int(band_batches)}) must be >= 1 "
            "(1 is the single-pass no-op; omit it for the default)"
        )
    if band_batches is not None and int(band_batches) > 1:
        # BAND-BATCHED STAGING (VERDICT r13 #2) — bound PEAK shuffle disk.
        # Band groups are independent (a pair's emitting band is fixed by
        # the global first-shared-band rule), so processing ceil(bands/B)
        # bands per batch and unioning gives IDENTICAL pairs while each
        # batch's band self-join only exchanges ~1/B of the block
        # relation. Each batch is materialized EAGERLY via
        # localCheckpoint (truncating lineage so the batch's shuffle
        # files become unreachable) and a GC nudge lets ContextCleaner
        # delete them before the next batch shuffles — peak shuffle
        # footprint ∝ 1/B by construction instead of Σ over bands.
        # Measured motivation (SCALE.md round-19/20): the 11.5M-doc cell
        # died of ENOSPC at ~63 G free with all 8 bands' join shuffles
        # coexisting. Opt-in: the eager per-batch jobs run AT
        # OP-CONSTRUCTION TIME (this function stops being lazy), and
        # with cache=False/downgraded relations each batch recomputes
        # the block relation — disk bounded, compute ∝ B.
        # The cap applies PER BATCH, on the band-filtered rows: the band
        # filter must sit below the window (a filter cannot pass the
        # observation), else every batch's window would exchange all
        # bands. The window partitions on (band, bkey), so the counts
        # are the single-pass ones; the batches' observed counts are
        # summed and logged once, the jobs having run already.
        B = int(band_batches)
        if B > bands:
            raise ValueError(
                f"band_batches ({B}) must be <= bands ({bands})"
            )
        sc = df.sparkSession.sparkContext
        parts = []
        dropped = collections.Counter()
        edges = [round(i * bands / B) for i in range(B + 1)]
        for i in range(B):
            lo, hi = edges[i], edges[i + 1]
            if lo == hi:
                continue
            grp = _capped(
                buckets.filter((F.col("band") >= lo) & (F.col("band") < hi))
            )
            batch = _pair_join(grp)
            parts.append(batch.localCheckpoint(eager=True))
            dropped.update(
                observed_metrics(batch).get("minhash_lsh_pairs.bucket_cap", {})
            )
            # the finished batch's shuffle deps are now unreachable
            # (lineage truncated) — nudge the JVM so ContextCleaner
            # frees their disk before the next batch writes its own
            sc._jvm.System.gc()
        if dropped["dropped_rows"]:
            import logging

            logging.getLogger(__name__).warning(
                "minhash_lsh_pairs: bucket cap dropped %d buckets (%d rows) "
                "over %d band batches",
                dropped["dropped_buckets"],
                dropped["dropped_rows"], len(parts),
            )
        cand = functools.reduce(
            lambda x, y: x.unionByName(y), parts
        )
    else:
        cand = _pair_join(_capped(buckets))
    if not verify:
        return cand
    ja = darr.select(F.col("id").alias("id_a"), F.col("shs").alias("__shs_a"))
    jb = darr.select(F.col("id").alias("id_b"), F.col("shs").alias("__shs_b"))
    out = (
        cand.join(ja, "id_a")
        .join(jb, "id_b")
        .withColumn(
            "intersection", F.size(F.array_intersect("__shs_a", "__shs_b"))
        )
        .withColumn(
            "union_size",
            F.size("__shs_a") + F.size("__shs_b") - F.col("intersection"),
        )
        .withColumn(
            "jaccard", F.col("intersection").cast("double") / F.col("union_size")
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "jaccard")


def minhash_lsh_pairs_between(
    df_new: DataFrame,
    df_ref: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    verify: bool = True,
    cache: bool = True,
    small_input_bytes: int = SMALL_INPUT_BYTES,
    max_bucket="auto",
) -> DataFrame:
    """Cross-corpus near-dup pairs: every ``df_new`` document that MinHash-
    collides with a ``df_ref`` document (incremental-ingest dedup — each
    new crawl shard checked against the accumulated corpus without ever
    re-pairing the corpus with itself).

    Output (new_id, ref_id, jaccard). Same banding, first-shared-band
    dedup and exact-Jaccard verify as :func:`minhash_lsh_pairs`; ids may
    overlap between the two inputs (no id-ordering constraint — a doc
    present in both sides pairs with itself at jaccard 1.0, the signal an
    ingest pipeline wants). Scale: the ref side's banding relation is
    computed once and is reusable across shards when persisted by the
    caller; the join only ever touches shared buckets, never
    |new| × |ref|.
    """
    darr_n, buckets_n = _banded_relation(
        df_new, id_col, text_col, n, num_hashes, bands, cache,
        small_input_bytes,
    )
    darr_r, buckets_r = _banded_relation(
        df_ref, id_col, text_col, n, num_hashes, bands, cache,
        small_input_bytes,
    )
    # The cap applies to BOTH sides' bucket sizes independently: a pair is
    # suppressed if either side's bucket is hot. The ref side (accumulated
    # corpus, where boilerplate floods accrete) and the new side (a flooded
    # incoming shard) can each turn one bucket into a quadratic straggler.
    buckets_r = _window_cap(
        buckets_r, ["band", "bkey"], max_bucket,
        "minhash_lsh_pairs_between(ref)",
    )
    buckets_n = _window_cap(
        buckets_n, ["band", "bkey"], max_bucket,
        "minhash_lsh_pairs_between(new)",
    )
    a, b_ = buckets_n.alias("a"), buckets_r.alias("b")
    no_earlier_band = ~F.exists(
        F.slice(
            F.zip_with(F.col("a.__bk"), F.col("b.__bk"), lambda p, q: p == q),
            F.lit(1),
            F.col("a.band"),
        ),
        lambda e: e,
    )
    cand = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey")),
        )
        .filter(no_earlier_band)
        .select(F.col("a.id").alias("new_id"), F.col("b.id").alias("ref_id"))
    )
    if not verify:
        return cand
    ja = darr_n.select(F.col("id").alias("new_id"), F.col("shs").alias("__shs_a"))
    jb = darr_r.select(F.col("id").alias("ref_id"), F.col("shs").alias("__shs_b"))
    out = (
        cand.join(ja, "new_id")
        .join(jb, "ref_id")
        .withColumn(
            "intersection", F.size(F.array_intersect("__shs_a", "__shs_b"))
        )
        .withColumn(
            "union_size",
            F.size("__shs_a") + F.size("__shs_b") - F.col("intersection"),
        )
        .withColumn(
            "jaccard", F.col("intersection").cast("double") / F.col("union_size")
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("new_id", "ref_id", "jaccard")


def simhash_from_hashes(hashes: Column, bits: int = 32) -> Column:
    """SimHash from a precomputed array of token hashes: per bit, sign of
    Σ±1 votes. Returned as a long with ``bits`` significant bits.

    Takes the hash array as a *column reference* so the md5 per token is
    computed once, not once per bit (the ``bits`` aggregates below would
    otherwise each re-evaluate it).
    """

    def vote(i: int):
        mask = 1 << i
        return lambda acc, h: acc + F.when(
            h.bitwiseAND(F.lit(mask)) != 0, 1
        ).otherwise(-1)

    bit_votes = [
        F.aggregate(hashes, F.lit(0).cast("long"), vote(i)) for i in range(bits)
    ]
    out = F.lit(0).cast("long")
    for i, v in enumerate(bit_votes):
        out = out + F.when(v > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return out


def token_hashes(text_col: str) -> Column:
    """Array of md5-derived hashes of the distinct word tokens."""
    return F.transform(
        F.array_distinct(tokens_array(text_col)), lambda t: md5_hash64(t)
    )


def simhash_col(text_col: str, bits: int = 32) -> Column:
    """SimHash over word tokens (single-expression form; prefer the
    two-step token_hashes → simhash_from_hashes inside operators so the
    hash array is materialized once)."""
    return simhash_from_hashes(token_hashes(text_col), bits)


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
    cache: bool = True,
    small_input_bytes: int = SMALL_INPUT_BYTES,
    max_bucket="auto",
    size_hint: int | None = None,
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance ≤ ``max_hamming``.

    ``size_hint``: approximate row count of ``df`` — cache footprint
    evidence only, as in :func:`minhash_lsh_pairs`.

    Pigeonhole blocking: split the ``bits``-bit hash into max_hamming+1
    chunks; any pair within the distance budget agrees on ≥1 whole chunk →
    equi-join per chunk, then verify with bit_count(xor).

    The signature strategy is adaptive (``_use_perrow_signatures``):
    small inputs compute the bit votes as a per-row projection (token
    hashes bound once through a single-element transform lambda, each
    bit's vote one array pass, zero shuffles); large inputs use the
    explode → whole-stage-codegen 48-buffer vote aggregate (one shuffle,
    vectorized). Either way the vote is branch-free: S_i = Σ bit_i(h),
    positive iff 2·S_i > token count.

    Token-less docs (NULL/empty/no-word text) are routed into their own
    trivial dup-class BEFORE the chunk join: every empty doc pairs with
    the minimum empty-doc id at hamming 0 (a connectivity-preserving
    star, n−1 rows), and never pairs with real text. Without this, a
    web-scale corpus with millions of empty docs puts them all at
    signature 0 — one join bucket emitting C(n,2) pairs from a single
    straggler task. SimHash "similarity" between no-token and real docs
    is an artifact of the 0 signature, not a content judgment, so the
    split is semantically strictly better.

    ``max_bucket`` (default "auto") additionally drops any chunk bucket larger
    than the cap from candidate generation, counted as the observed
    metric ``simhash_pairs.bucket_cap`` — see :func:`_window_cap` for the
    recall contract.
    """
    nchunks = max_hamming + 1
    chunk = bits // nchunks
    if _use_perrow_signatures(df, small_input_bytes):

        # ONE SQL string instead of per-bit Column composition: building
        # the 48-bit vote through the Column API costs ~7,300 py4j
        # round-trips (~1.3 s of DRIVER time per call, profiled r10);
        # the textually identical expression parses JVM-side in one
        # call. Same structure exactly — the single-element transform
        # lambda still binds the token-hash array once (the r3
        # projection-collapse blocker), and the expression is LINEAR in
        # bits (the parser-OOM hazard is per-level multiplication, not
        # flat sums). Bit-identity with the old Column build is pinned
        # in tests/test_round16_additions.py. (r15 note: a SWAR
        # lane-packed vote — 16 array passes instead of 48 — measured
        # NEUTRAL here and 1.23× worse in-query: at the ~23 distinct
        # tokens/doc of real corpora the passes are too short for the
        # pass-count saving to beat its per-row scalar overhead, and
        # this path only ever serves <64 MB inputs; reverted.)
        from timeseriesfuser_spark.ops import text as _text

        word_re = _text.WORD_RE.replace("'", "''")
        hs_sql = (
            "transform(array_distinct(regexp_extract_all("
            f"lower(`{text_col}`), '{word_re}', 0)), "
            "t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT))"
        )
        vote_sql = " + ".join(
            f"(CASE WHEN 2 * aggregate(x, 0L, (acc, h) -> "
            f"acc + (shiftright(h, {i}) & 1)) > size(x) "
            f"THEN {1 << i}L ELSE 0L END)"
            for i in range(bits)
        )
        sig_sql = (
            f"element_at(transform(array({hs_sql}), x -> named_struct("
            f"'sh', CAST({vote_sql} AS BIGINT), 'nt', size(x))), 1)"
        )
        sig = spread_small_input(df).select(
            F.col(id_col).alias("id"),
            F.expr(sig_sql).alias("__sc"),
        ).select(
            "id", F.col("__sc.sh").alias("sh"), F.col("__sc.nt").alias("__nt")
        )
    else:
        # explode_outer keeps token-less docs as a single null-token row:
        # count(__h) counts non-null hashes, so those docs surface as
        # __nt = 0 without a second input pass (ids-distinct + left join).
        toks = spread_small_input(df).select(
            F.col(id_col).alias("id"),
            F.explode_outer(F.array_distinct(tokens_array(text_col))).alias(
                "__t"
            ),
        )
        hv = toks.select("id", md5_hash64(F.col("__t")).alias("__h"))
        votes = hv.groupBy("id").agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.count(F.col("__h")).alias("__nh"),
            *[
                F.sum(F.shiftright(F.col("__h"), i).bitwiseAND(F.lit(1))).alias(
                    f"s{i}"
                )
                for i in range(bits)
            ],
        )
        sim = F.lit(0).cast("long")
        for i in range(bits):
            sim = sim + F.when(
                2 * F.col(f"s{i}") > F.col("__cnt"), F.lit(1 << i)
            ).otherwise(F.lit(0))
        sig = votes.select("id", sim.alias("sh"), F.col("__nh").alias("__nt"))
    masks = []
    for c in range(nchunks):
        width = chunk if c < nchunks - 1 else bits - chunk * (nchunks - 1)
        masks.append(((1 << width) - 1) << (c * chunk))
    chunk_structs = [
        F.struct(
            F.lit(c).alias("chunk"),
            F.col("sh").bitwiseAND(F.lit(masks[c])).alias("ckey"),
        )
        for c in range(nchunks)
    ]
    # ONE cached relation serves all three consumers (both join sides +
    # the empty-doc branch): the chunk-exploded blocks carry the
    # token-count flag, so the empty branch is a filter on chunk 0 of the
    # same cache instead of a second signature computation (caching the
    # pre-explode signature relation instead measured +25% at sf0.1 —
    # extra stages re-deriving the explode per consumer).
    row_bytes = 48 + 64 / nchunks
    allblocks = _maybe_cache(
        sig.select(
            "id", "sh", "__nt", F.explode(F.array(*chunk_structs)).alias("cc")
        ).select(
            "id", "sh", "__nt",
            F.col("cc.chunk").alias("chunk"), F.col("cc.ckey").alias("ckey"),
        ),
        cache,
        footprint_bytes=_cache_footprint(
            df, size_hint and size_hint * nchunks, row_bytes
        ),
        row_bytes=row_bytes,
    )
    empty_ids = allblocks.filter(
        (F.col("chunk") == 0) & (F.coalesce(F.col("__nt"), F.lit(0)) <= 0)
    ).select("id")
    blocks = allblocks.filter(F.col("__nt") > 0).select("id", "sh", "chunk", "ckey")
    blocks = _window_cap(blocks, ["chunk", "ckey"], max_bucket, "simhash_pairs")
    a, b = blocks.alias("a"), blocks.alias("b")
    xor = F.col("a.sh").bitwiseXOR(F.col("b.sh"))
    # Emit each pair only at its FIRST agreeing chunk (all lower-chunk
    # masks differ) — a cheap bitwise filter in the join's codegen instead
    # of a global distinct, which at corpus scale would shuffle the entire
    # candidate-pair relation a second time.
    first_chunk = F.lit(True)
    for c in range(1, nchunks):
        cond = F.lit(True)
        for c2 in range(c):
            cond = cond & (xor.bitwiseAND(F.lit(masks[c2])) != 0)
        first_chunk = F.when(F.col("a.chunk") == c, cond).otherwise(first_chunk)
    main = (
        a.join(b, (F.col("a.chunk") == F.col("b.chunk")) & (F.col("a.ckey") == F.col("b.ckey")))
        .filter((F.col("a.id") < F.col("b.id")) & first_chunk)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(xor).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    emin = empty_ids.agg(F.min("id").alias("id_a"))
    star = (
        empty_ids.crossJoin(F.broadcast(emin))
        .filter(F.col("id") != F.col("id_a"))
        .select(
            "id_a",
            F.col("id").alias("id_b"),
            F.lit(0).cast("integer").alias("hamming"),
        )
    )
    return main.unionByName(star)


def hamming_pairs(
    df: DataFrame,
    *,
    hash_col: str = "hash",
    id_col: str = "id",
    bits: int = 64,
    max_hamming: int = 3,
    cache: bool = True,
    max_bucket="auto",
    size_hint: int | None = None,
) -> DataFrame:
    """Pairs within Hamming distance ≤ ``max_hamming`` over an ARBITRARY
    precomputed ``bits``-bit integer hash column — the generic pigeonhole
    join behind :func:`simhash_pairs`, exposed for hash spaces computed
    elsewhere (SimHash votes, SRP sketches, :func:`multimodal.pixel_phash`
    perceptual hashes).

    Pigeonhole blocking (exact, never all-pairs): the hash splits into
    ``max_hamming + 1`` chunks; a pair within the distance budget must
    agree on ≥1 whole chunk, so candidate generation is one equi-join on
    (chunk, chunk-key) with the first-agreeing-chunk bitwise predicate
    replacing a global distinct; verification is one
    ``bit_count(a XOR b)`` in the join's codegen. ``max_bucket``
    (default "auto") drops flooded chunk buckets exactly as in the text
    ops — identical hashes at web scale (e.g. millions of byte-identical
    images) belong in exact dedup first. ``size_hint``: approximate row
    count of ``df`` — cache footprint evidence only, as in
    :func:`minhash_lsh_pairs`. Output (id_a, id_b, hamming), id_a < id_b,
    hamming as BIGINT. Null hashes never pair.
    """
    nchunks = int(max_hamming) + 1
    bits = int(bits)
    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in [1, 64]: {bits}")
    if nchunks > bits:
        raise ValueError(
            f"max_hamming + 1 ({nchunks}) must be <= bits ({bits})"
        )
    chunk = bits // nchunks
    masks = []
    for c in range(nchunks):
        width = chunk if c < nchunks - 1 else bits - chunk * (nchunks - 1)
        m = ((1 << width) - 1) << (c * chunk)
        # a top chunk reaching bit 63 wraps to the signed BIGINT literal
        # (two's complement — bitwiseAND is unaffected)
        masks.append(m if m < 1 << 63 else m - (1 << 64))
    src = df.filter(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("sh")
    )
    chunk_structs = [
        F.struct(
            F.lit(c).alias("chunk"),
            F.col("sh").bitwiseAND(F.lit(masks[c])).alias("ckey"),
        )
        for c in range(nchunks)
    ]
    row_bytes = 48 + 64 / nchunks
    blocks = _maybe_cache(
        src.select(
            "id", "sh", F.explode(F.array(*chunk_structs)).alias("cc")
        ).select(
            "id", "sh",
            F.col("cc.chunk").alias("chunk"), F.col("cc.ckey").alias("ckey"),
        ),
        cache,
        footprint_bytes=_cache_footprint(
            df, size_hint and size_hint * nchunks, row_bytes
        ),
        row_bytes=row_bytes,
    )
    blocks = _window_cap(blocks, ["chunk", "ckey"], max_bucket, "hamming_pairs")
    a, b = blocks.alias("a"), blocks.alias("b")
    xor = F.col("a.sh").bitwiseXOR(F.col("b.sh"))
    first_chunk = F.lit(True)
    for c in range(1, nchunks):
        cond = F.lit(True)
        for c2 in range(c):
            cond = cond & (xor.bitwiseAND(F.lit(masks[c2])) != 0)
        first_chunk = F.when(F.col("a.chunk") == c, cond).otherwise(first_chunk)
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ckey") == F.col("b.ckey")),
        )
        .filter((F.col("a.id") < F.col("b.id")) & first_chunk)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(xor).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def connected_components(
    edges: DataFrame,
    *,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    all_ids: Optional[DataFrame] = None,
    max_iterations: int = 25,
    _stats: Optional[dict] = None,
) -> DataFrame:
    """Connected components by iterative min-label propagation:
    (id, cluster_id) where cluster_id = min id in the component.

    Scale design: iteration runs only over the nodes that appear in an
    edge — for dedup workloads that subgraph is a small fraction of the
    corpus, so each round shuffles edge-sized relations, never the corpus.
    Nodes outside every edge are singletons attached with one final
    left join against ``all_ids`` (pass the full id relation to include
    them; omit it to label edge-nodes only). Convergence is detected with
    a one-scalar action per round (labels only decrease, so the label sum
    is strictly monotone until fixpoint); near-dup components are shallow
    cliques, converging in a handful of rounds, and ``max_iterations``
    bounds adversarial chains.

    Hitting ``max_iterations`` before the fixpoint logs a WARNING (the
    labels are then an over-segmentation: every emitted cluster is a
    SUBSET of a true component, never a merge of two) — raise the bound
    or pre-shrink the graph. ``_stats`` (ops/diagnostics knob, not API):
    a dict that receives ``{"iterations": k, "converged": bool}`` — the
    50M-edge SCALE.md cell (tools/cc_cell.py) reads it.
    """
    from pyspark import StorageLevel

    # ids keep their own type (long, string, ...): min-label propagation
    # only needs a total order, and a cast("long") would crash (ANSI) or
    # NULL out string ids — the bug class fixed for leakage_safe_split.
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # Partition AND sort the edge relation by the per-round join key ONCE
    # before persisting: every iteration's neighbor join then reuses the
    # cached layout (hash-partitioned + sorted on ``dst``), so the loop
    # never re-shuffles or re-sorts its largest relation (guide §2.4 —
    # at k rounds this removes k-1 edge-relation exchanges; only the
    # label relations, which change every round, still move).
    sym = track_persist(
        sym.repartition("dst")
        .sortWithinPartitions("dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Each round MUST cut lineage (eager localCheckpoint): carrying the
    # plan forward nests one join+aggregate deeper per round — and the
    # label relation is consumed TWICE per round, so the un-checkpointed
    # tree doubles every round and re-analyzing it OOMs the driver after
    # ~10 rounds (GraphX uses periodic checkpointing for exactly this).
    # localCheckpoint is executor-local — on a cluster that can't
    # tolerate executor loss mid-loop, switch to reliable
    # checkpoint(dir); the relations are edge-subgraph-sized either way.
    #
    # Two measured OOM/ENOSPC guards (tools/cc_cell.py, 57M edges, 16 g —
    # the unguarded loop died with a heap OOM in round ~3): checkpoint
    # SERIALIZED, and free each round's blocks the moment no later query
    # can read them (the count and the next checkpoint are both
    # synchronous, so liveness is provable). Both live in the shared
    # ``iter_ckpt``/``free_ckpt`` helpers (ops.util) since r16, when the
    # recipe was propagated to ops.graph's loops.
    from timeseriesfuser_spark.ops.util import free_ckpt as _free
    from timeseriesfuser_spark.ops.util import iter_ckpt as _ckpt

    labels, labels_rdd = _ckpt(
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
    )
    converged = False
    rounds_run = 0
    for _ in range(max_iterations):
        rounds_run += 1
        nbr = (
            sym.join(
                labels.select(F.col("id").alias("dst"), "lbl"), "dst"
            )
            .groupBy("src")
            .agg(F.min("lbl").alias("__nbr"))
        )
        # joined feeds both the convergence count and the next labels —
        # checkpoint once so neither consumer recomputes the round.
        pre_joined = labels.join(nbr.withColumnRenamed("src", "id"), "id", "left")
        if _stats is not None and rounds_run == 1 and "round1_plan" in _stats:
            # diagnostics only, opt-in (pre-seed the key to request it):
            # the physical plan of one propagation round — the
            # per-iteration cost the SCALE.md cell measures.
            _stats["round1_plan"] = (
                pre_joined._jdf.queryExecution().executedPlan().toString()
            )
        # Materialize the round ONCE in a columnar cache and checkpoint
        # FROM the cache: localCheckpoint preserves its origin plan's
        # ESTIMATED stats, and join-stat products otherwise compound
        # across rounds — the doubling self-join squares sizeInBytes
        # every round, so its digit count doubles and by round ~20 the
        # planner burns whole minutes in BigInteger multiplication
        # inside SizeInBytesOnlyStatsPlanVisitor (thread-dump forensics,
        # SCALE.md r23). A materialized cache reports its REAL size, so
        # every round's stats are re-grounded to the truth.
        round_cache = pre_joined.persist(StorageLevel.MEMORY_AND_DISK)
        # type-generic convergence: labels only decrease, so the fixpoint
        # is "no neighbor offers a strictly smaller label" (works for any
        # ordered id type — the old decimal-sum check was numeric-only).
        # Correctness: at neighbor fixpoint labels are equal across every
        # (symmetric) edge, hence constant per component = the component
        # min — so stopping here is exact regardless of the shortcut.
        # (This count is also the action that builds the cache.)
        changed = round_cache.filter(F.col("__nbr") < F.col("lbl")).count()
        if changed == 0:
            # At the fixpoint labels are constant per component, so the
            # pointer-doubling step below would be the identity — skip
            # it (saves the output query a no-op self-join); `labels`
            # (still persisted) is the result, and this round needs no
            # checkpoint at all.
            round_cache.unpersist()
            converged = True
            break
        joined, joined_rdd = _ckpt(round_cache)
        round_cache.unpersist()
        stepped = joined.select(
            "id", F.least(F.col("lbl"), F.coalesce("__nbr", "lbl")).alias("lbl")
        )
        # Pointer-doubling shortcut (GraphX-style): also adopt the label
        # OF my label's node — rounds drop from O(diameter) to
        # O(log diameter), so max_iterations=25 covers chains of 2^25
        # nodes instead of 25 (a 27-doc near-dup chain diverged before).
        lut = stepped.select(
            F.col("id").alias("lbl"), F.col("lbl").alias("__ll")
        )
        # the old labels' last readers (nbr + pre_joined) ran inside the
        # joined checkpoint; the new labels below read only `joined`.
        _free(labels_rdd)
        # Checkpoint the doubled labels: the next round consumes `labels`
        # in TWO queries (the neighbor join and the outer join), so
        # without this the doubling self-join is evaluated once per
        # consumer — checkpointing halves the per-round join work.
        labels, labels_rdd = _ckpt(
            stepped.join(lut, "lbl", "left")
            .select(
                "id",
                F.least(F.col("lbl"), F.coalesce("__ll", "lbl")).alias("lbl"),
            )
        )
        _free(joined_rdd)
    if not converged:
        import logging

        logging.getLogger(__name__).warning(
            "connected_components: fixpoint NOT reached after %d "
            "iteration(s) — labels over-segment long-diameter components "
            "(each emitted cluster is a subset of a true component). "
            "Raise max_iterations (pointer doubling needs ~log2(diameter) "
            "rounds) or pre-shrink the graph.",
            max_iterations,
        )
    if _stats is not None:
        _stats["iterations"] = rounds_run
        _stats["converged"] = converged
    out = labels.select("id", F.col("lbl").alias("cluster_id"))
    if all_ids is not None:
        ids = all_ids.select(F.col(all_ids.columns[0]).alias("id"))
        out = ids.join(out, "id", "left").select(
            "id", F.coalesce("cluster_id", F.col("id")).alias("cluster_id")
        )
    sym.unpersist()
    return out


def neardup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_iterations: int = 25,
) -> DataFrame:
    """End-to-end near-dup clustering: MinHash-LSH pairs → connected
    components → (doc_id, cluster_id, cluster_size). cluster_id is the
    min doc id of the component (the canonical survivor a dedup pass
    keeps); singletons are their own cluster of size 1."""
    pairs = minhash_lsh_pairs(
        df, id_col, text_col, n=n, num_hashes=num_hashes, bands=bands,
        threshold=threshold,
    ).select("id_a", "id_b")
    comp = connected_components(
        pairs, all_ids=df.select(id_col), max_iterations=max_iterations
    )
    sizes = comp.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return comp.join(sizes, "cluster_id").select(
        F.col("id").alias(id_col), "cluster_id", "cluster_size"
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty vs the whole corpus (RefinedWeb-style
    repetition diagnostics): a shingle is "owned" by the lowest doc_id that
    contains it; a document's novelty is the fraction of its distinct
    shingles it owns.

    Output: (id, n_shingles, n_novel, novelty) with novelty = one exact-int
    division (NULL for shingle-less docs).

    Scale: first-owner is a ``min`` window partitioned BY SHINGLE over the
    exploded relation — one shuffle on the shingle key, no self-join, then
    a hash-agg back on doc id. Common shingles make big partitions but the
    unordered min window is a streaming aggregate (no sort buffer blowup);
    the Zipf head is bounded by document frequency, the same exposure as
    the inverted-index join, without its fan-out.
    """
    from pyspark.sql.window import Window

    shs = shingles_df(df, id_col, text_col, n)
    owned = shs.withColumn(
        "__first", F.min("id").over(Window.partitionBy("sh"))
    )
    per_doc = owned.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.when(F.col("__first") == F.col("id"), 1).otherwise(0))
        .cast("long")
        .alias("n_novel"),
    )
    base = df.select(F.col(id_col).alias("id"))
    return base.join(per_doc, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce(F.col("n_shingles"), F.lit(0)).cast("long").alias("n_shingles"),
        F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
        F.when(
            F.col("n_shingles") > 0,
            F.col("n_novel").cast("double") / F.col("n_shingles").cast("double"),
        ).alias("novelty"),
    )


def dedup_verdicts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_iterations: int = 25,
) -> DataFrame:
    """The final per-document keep/drop decision a dedup pipeline
    materializes: exact-duplicate check (content hash, keep lowest id)
    composed with near-duplicate clustering (MinHash-LSH + connected
    components, keep the cluster's lowest id).

    Output: (id, verdict in {'exact_dup','near_dup','keep'}, keep bool,
    canonical_id = the survivor this doc defers to, own id when kept).
    Exact-dup takes precedence in the reason; survivors of both checks are
    'keep'.

    Scale: one content-hash groupBy + co-partitioned join back, plus the
    LSH/CC machinery of :func:`neardup_clusters` (edge-subgraph-bounded).
    No new shuffle shapes beyond those two paths.
    """
    # md5(NULL) is NULL and the join back on __h would silently drop every
    # NULL-text doc (null keys never equi-match). The sentinel groups them
    # as one exact-dup family — same as groupBy's null grouping — and
    # cannot collide with a real 32-hex md5.
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.md5(F.col(text_col)), F.lit("__NULL_TEXT__")).alias("__h"),
    )
    canon = hashed.groupBy("__h").agg(F.min("id").alias("__exact_canon"))
    exact = hashed.join(canon, "__h").select("id", "__exact_canon")

    clusters = neardup_clusters(
        df, id_col, text_col, n=n, num_hashes=num_hashes, bands=bands,
        threshold=threshold, max_iterations=max_iterations,
    ).select(F.col(id_col).alias("id"), "cluster_id")

    j = exact.join(clusters, "id", "left")
    verdict = (
        F.when(F.col("__exact_canon") != F.col("id"), F.lit("exact_dup"))
        .when(
            F.coalesce(F.col("cluster_id"), F.col("id")) != F.col("id"),
            F.lit("near_dup"),
        )
        .otherwise(F.lit("keep"))
    )
    canonical = F.when(
        F.col("__exact_canon") != F.col("id"), F.col("__exact_canon")
    ).otherwise(F.coalesce(F.col("cluster_id"), F.col("id")))
    return j.select(
        F.col("id").alias(id_col),
        verdict.alias("verdict"),
        (verdict == "keep").alias("keep"),
        canonical.cast(dict(df.dtypes)[id_col]).alias("canonical_id"),
    )


def passage_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    passage_tokens: int = 32,
    max_dup_ppm: int = 500_000,
) -> DataFrame:
    """Passage-level exact dedup (RefinedWeb/MassiveText style): cut each
    document into non-overlapping ``passage_tokens``-token passages, hash
    them, and mark every passage that already occurred anywhere in the
    corpus (first occurrence = lowest (doc_id, chunk_start)) as duplicated.

    Output per document that has ≥1 token: ``n_passages``,
    ``n_dup_passages``, ``dup_ppm`` (exact-int parts-per-million) and
    ``keep`` = dup_ppm ≤ ``max_dup_ppm`` — the document-level gate a
    pretraining pipeline applies ("drop docs that are mostly copied
    passages"). Token-less docs emit no row (they have no passages), the
    same convention as ``chunk_documents``.

    Scale: chunking is the zero-shuffle projection+explode of
    ``packing.chunk_documents``; first-occurrence is an unordered
    ``min(struct)`` window partitioned BY PASSAGE HASH (streaming
    aggregate — the same Zipf-head exposure as ``ngram_novelty``, bounded
    by passage document-frequency); then one hash-agg back on doc id.
    No self-join, no global window.
    """
    from pyspark.sql.window import Window

    from timeseriesfuser_spark.ops.packing import chunk_documents

    p = chunk_documents(
        df,
        id_col=id_col,
        text_col=text_col,
        chunk_size=passage_tokens,
        stride=passage_tokens,
    )
    d = p.select(
        F.col(id_col).alias("id"),
        "chunk_start",
        md5_hash64(F.col("chunk_text")).alias("__h"),
    )
    pos = F.struct(F.col("id"), F.col("chunk_start"))
    first = F.min(pos).over(Window.partitionBy("__h"))
    flagged = d.select("id", (pos != first).alias("__dup"))
    n = F.count(F.lit(1))
    ndup = F.sum(F.col("__dup").cast("long"))
    return (
        flagged.groupBy("id")
        .agg(
            n.cast("long").alias("n_passages"),
            ndup.cast("long").alias("n_dup_passages"),
            F.expr("1000000 * sum(CAST(__dup AS LONG)) DIV count(1)")
            .cast("long")
            .alias("dup_ppm"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_passages",
            "n_dup_passages",
            "dup_ppm",
            (F.col("dup_ppm") <= int(max_dup_ppm)).alias("keep"),
        )
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.9,
    cache: bool = True,
) -> DataFrame:
    """Near-CONTAINMENT pairs: |A∩B| / min(|A|, |B|) ≥ ``threshold`` over
    word-``n``-gram shingle sets — the smaller document is (nearly) a
    subset of the larger. Catches quote-inclusion / page-wrapper
    duplication that symmetric Jaccard misses (a short doc fully embedded
    in a long one can have tiny Jaccard but containment 1.0).

    Same inverted-index join shape (and scale posture) as
    :func:`ngram_jaccard_pairs`; containment is one int/int division →
    oracle-exact. Output (id_a, id_b, intersection, min_size,
    containment), id_a < id_b.
    """
    sh = _maybe_cache(
        shingles_df(df, id_col, text_col, n), cache,
        footprint_bytes=_cache_footprint(df),
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, F.col("a.sh") == F.col("b.sh"))
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    out = (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "sz": "sz_b"}), "id_b")
        .withColumn("min_size", F.least("sz_a", "sz_b"))
        .withColumn(
            "containment",
            F.col("intersection").cast("double") / F.col("min_size"),
        )
        .filter(F.col("containment") >= threshold)
    )
    return out.select("id_a", "id_b", "intersection", "min_size", "containment")


#: Bitmap bound-sketch geometry: ``_SK_LANES`` longs = 64·lanes hash
#: buckets, bit b set iff some token of the set hashes to bucket b.
_SK_LANES = 4


def _sketch_lane_sql(set_col: str, lane: int, lanes: int) -> str:
    """SQL for ONE lane of the per-doc bucket BITMAP: a bigint whose
    bit j is set iff some token hashes to bucket 64·lane + j.
    Higher-order functions are fine HERE — the sketch is built once per
    DOC (doc-count-sized relation), never per pair."""
    nb = lanes * 64
    return (
        "aggregate("
        f"filter(transform({set_col}, x -> pmod(hash(x), {nb})),"
        f" b -> b div 64 = {lane}), 0L,"
        " (acc, b) -> acc | shiftleft(1L, b % 64))"
    )


def _bound_sql(lanes: int) -> str:
    """SQL for the pair-level exact-overlap UPPER BOUND over bitmap
    sketches held as plain bigint COLUMNS ``__ska{i}``/``__skb{i}`` plus
    sizes ``__sza``/``__szb``. Every token of A hashing into a bucket
    whose bit is ABSENT from B's bitmap is provably not shared, so
    |A∩B| ≤ min(sz_a − popcount(bits_a & ~bits_b),
    sz_b − popcount(bits_b & ~bits_a)). Tiny and built-in on purpose
    (2·lanes ``bit_count`` calls): the first cut used zip_with+aggregate
    count sketches — the higher-order lambdas fell out of whole-stage
    codegen and made the filter SLOWER than no filter at 135M
    candidates (SCALE.md round-19); a flat 64-term CASE chain was no
    better once Catalyst inlined it into the join condition.
    ``bit_count`` is one Long.bitCount each."""
    miss_a = " + ".join(
        f"bit_count(__ska{i} & ~__skb{i})" for i in range(lanes)
    )
    miss_b = " + ".join(
        f"bit_count(__skb{i} & ~__ska{i})" for i in range(lanes)
    )
    return f"LEAST(__sza - ({miss_a}), __szb - ({miss_b}))"


def _join_bound_sketches(cand: DataFrame, docs: DataFrame, set_col: str):
    """Join per-doc bitmap sketches (built from the cached ``docs``
    id/set relation) onto an (id_a, id_b) candidate relation. Returns
    (joined, bound_sql): the caller filters with its own threshold
    predicate over ``bound_sql`` / ``__sza`` / ``__szb`` and projects
    back to (id_a, id_b)."""
    lanes = _SK_LANES
    sk = docs.select(
        "id",
        F.size(set_col).cast("long").alias("__szk"),
        *[
            F.expr(_sketch_lane_sql(set_col, i, lanes)).alias(f"__sk{i}")
            for i in range(lanes)
        ],
    )
    joined = cand.join(
        sk.select(
            F.col("id").alias("id_a"),
            F.col("__szk").alias("__sza"),
            *[F.col(f"__sk{i}").alias(f"__ska{i}") for i in range(lanes)],
        ),
        "id_a",
    ).join(
        sk.select(
            F.col("id").alias("id_b"),
            F.col("__szk").alias("__szb"),
            *[F.col(f"__sk{i}").alias(f"__skb{i}") for i in range(lanes)],
        ),
        "id_b",
    )
    return joined, _bound_sql(lanes)


def set_similarity_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    threshold: tuple = (2, 5),
    cache: bool = True,
    max_bucket="auto",
    _positional_filter: bool = True,
    _suffix_filter: bool = False,
    _bound_filter: bool = True,
    _cand_only: bool = False,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    AllPairs / PPJoin candidate scheme, Bayardo et al. WWW'07 / Xiao et
    al. WWW'08): all pairs whose word-``n``-gram-set Jaccard is ≥
    ``threshold`` — no LSH false negatives, but never the all-pairs
    product either.

    Candidate generation: tokens (shingles) of each set are sorted by
    ascending corpus document frequency (rarest first, ties on text);
    a pair with Jaccard ≥ t = tn/td must share a token inside BOTH
    sets' length-(sz − ceil(t·sz) + 1) prefixes (the prefix-filtering
    lemma), so the self-join only runs over exploded PREFIXES. By
    construction prefixes carry each set's RAREST tokens, so join
    fan-out concentrates on low-df keys; a size filter
    (td·sz_small ≥ tn·sz_large, necessary for Jaccard ≥ t) prunes
    inside the join, and ``max_bucket`` (default "auto") caps residual
    hot prefix tokens like the rest of the LSH family. Survivors are
    verified EXACTLY over the full shingle sets via ``array_intersect``,
    filtered by the integer cross-product test inter·td ≥ tn·union —
    no float threshold compare.

    ``threshold`` is an integer rational (num, den), 0 < num ≤ den.
    Output (id_a, id_b, intersection, union_size, jaccard), id_a < id_b;
    jaccard is one int/int division (oracle-exact).

    Scale: one df aggregate + equi-join back (the ``ngram_jaccard_pairs
    max_df`` price), one groupBy(id) to sort each set once, prefix
    explode ≈ (1−t)·corpus tokens, candidate join bounded by prefix-df²
    per token. Versus LSH: exact answer, higher candidate volume at low
    thresholds — the classic trade; at t ≥ 0.8 prefixes are short and
    this beats banding.
    """
    tn, td = int(threshold[0]), int(threshold[1])
    if not (0 < tn <= td):
        raise ValueError(f"threshold must be a rational in (0, 1]: {threshold}")
    # docs is a lazily persisted PARENT of the prefix relation below,
    # whose materializing count fills it on the way (a separate docs
    # count was one redundant shingle pass, the minhash darr lesson r10).
    docs = spread_small_input(df).select(
        F.col(id_col).alias("id"),
        F.coalesce(
            shingle_array(text_col, n), F.array().cast("array<string>")
        ).alias("__set"),
    )
    tok = docs.select("id", F.explode("__set").alias("tk"))
    dfreq = tok.groupBy("tk").agg(F.count(F.lit(1)).alias("__df"))
    ordered = (
        tok.join(dfreq, "tk")
        .groupBy("id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("__df"), F.col("tk")))
            ).alias("__ord"),
            F.count(F.lit(1)).cast("long").alias("sz"),
        )
    )
    # prefix length: sz − ceil(t·sz) + 1, ceil via (tn·sz + td − 1) DIV td.
    # posexplode keeps each token's 1-based rank in the df-sorted set for
    # the PPJoin positional filter below.
    pre = ordered.select(
        "id",
        "sz",
        F.posexplode(
            F.slice(
                "__ord",
                F.lit(1),
                (
                    F.col("sz")
                    - F.expr(f"(sz * {tn} + {td} - 1) DIV {td}")
                    + F.lit(1)
                ).cast("int"),
            )
        ).alias("__i", "__p"),
    ).select(
        F.col("__p.tk").alias("tk"),
        "id",
        "sz",
        (F.col("__i") + 1).cast("long").alias("pos"),
    )
    # The prefix relation feeds BOTH self-join sides; uncached, each side
    # re-runs the dominant ordered-set build (df join + per-doc sort —
    # 30 s of the 1M-doc cell, measured r10). With no footprint evidence
    # the measured prefix count decides both persists: ~72 B per prefix
    # row (short token + 3 longs) plus the doc-level shingle arrays,
    # generously folded to 500 B per prefix row (prefixes are ~60% of
    # shingles; a false skip only costs bounded recomputation).
    pre = _maybe_cache(
        pre, cache, footprint_bytes=_cache_footprint(df), row_bytes=500,
        parents=(docs,),
    )
    pre = _window_cap(pre, ["tk"], max_bucket, "set_similarity_pairs")
    a, b = pre.alias("a"), pre.alias("b")
    # PPJoin positional filter (Xiao et al. WWW'08): a shared token at
    # 1-based sorted ranks (pa, pb) bounds the overlap by
    # 1 + min(sz_a − pa, sz_b − pb); Jaccard ≥ tn/td needs overlap
    # ≥ ceil(tn·(sz_a+sz_b)/(tn+td)), so rows failing
    # (1 + min(...))·(tn+td) ≥ tn·(sz_a+sz_b) cannot certify the pair.
    # Lossless through the .distinct(): the bound is LOOSEST at a pair's
    # first shared prefix token (smallest ranks), and the PPJoin lemma
    # guarantees a truly similar pair passes there — later shared-token
    # rows may fail, but one surviving row keeps the pair. Candidate cut
    # measured: −13% on the synthetic-footer corpus (candidates not the
    # bottleneck there) and the real win on collision-heavy Zipf corpora
    # (SCALE.md round-17 A/B); zero semantic change either way (the
    # brute-force oracle proves it). ``_positional_filter=False`` is the
    # benchmark A/B toggle — results identical, only candidate volume
    # differs.
    cond = (
        (F.col("a.tk") == F.col("b.tk"))
        & (F.col("a.id") < F.col("b.id"))
        & (F.col("a.sz") * td >= F.col("b.sz") * tn)
        & (F.col("b.sz") * td >= F.col("a.sz") * tn)
    )
    if _positional_filter:
        cond = cond & (
            (
                F.lit(1)
                + F.least(
                    F.col("a.sz") - F.col("a.pos"),
                    F.col("b.sz") - F.col("b.pos"),
                )
            )
            * F.lit(tn + td)
            >= F.lit(tn) * (F.col("a.sz") + F.col("b.sz"))
        )
    # Pair-level PPJoin+ SUFFIX filter (VERDICT r11 #4) — implemented,
    # proven lossless, and DEFAULT-OFF on measurement. The idea: the
    # shuffle the plain .distinct() pays could instead aggregate, per
    # pair, the shared-prefix-token COUNT c and the ranks (pa*, pb*) of
    # the LAST shared prefix token; every shared token beyond those c is
    # strictly greater than that last token in the global (df, tk)
    # sort, hence sits at rank > pa* in A AND > pb* in B, so overlap ≤
    # c + min(sz_a − pa*, sz_b − pb*), and pairs whose bound can't reach
    # ceil(tn·(sz_a+sz_b)/(tn+td)) would skip the exact verify. The
    # bound stays lossless composed with the row-level positional
    # filter (survivors are a rank-PREFIX of the pair's shared tokens,
    # so "beyond the last surviving token" holds verbatim); at c = 1 it
    # EQUALS the positional bound, strictly tighter only for c ≥ 2.
    # MEASURED on the collision-heavy Zipf corpus the verify-bound
    # regime lives on (SCALE.md round-18): pairs there meet via ONE
    # shared rare token (c = 1 throughout), the bound pruned exactly 0
    # of 223.7M candidates, and the 4-key groupBy + 3 aggregates cost
    # +50% wall over the 2-column distinct's leaner partial dedup.
    # Enable (_suffix_filter=True) only on corpora where candidate
    # pairs share MULTIPLE prefix tokens (long prefixes / low
    # thresholds with mid-frequency token collisions); results are
    # identical either way (invariance pinned in all four toggle
    # combinations, tests/test_round18_additions.py).
    cand_rows = a.join(b, cond)
    if _suffix_filter:
        cand = (
            cand_rows.groupBy(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("a.sz").alias("__sza"),
                F.col("b.sz").alias("__szb"),
            )
            .agg(
                F.count(F.lit(1)).alias("__c"),
                F.max("a.pos").alias("__pamx"),
                F.max("b.pos").alias("__pbmx"),
            )
            .filter(
                (
                    F.col("__c")
                    + F.least(
                        F.col("__sza") - F.col("__pamx"),
                        F.col("__szb") - F.col("__pbmx"),
                    )
                )
                * F.lit(tn + td)
                >= F.lit(tn) * (F.col("__sza") + F.col("__szb"))
            )
            .select("id_a", "id_b")
        )
    else:
        cand = cand_rows.select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        ).distinct()
    # Bitmap bound filter (VERDICT r12 #2): a second, far cheaper
    # exact-overlap UPPER BOUND applied between candidate generation and
    # the exact verify. Each doc gets a 256-bucket token BITMAP (4 longs,
    # built once from the cached ``docs``); tokens of A hashing into
    # buckets ABSENT from B's bitmap are provably unshared, so
    # |A∩B| ≤ min(sz_a − popcount(A&~B), sz_b − popcount(B&~A)) — and
    # Jaccard ≥ tn/td requires overlap·(tn+td) ≥ tn·(sz_a+sz_b), so
    # pairs whose bound fails that cannot be similar (LOSSLESS by
    # construction, no saturation cases). The bound is 8 ``bit_count``
    # calls inside whole-stage codegen on a 32-byte payload — versus
    # array_intersect's per-pair hash-set build over the FULL shingle
    # arrays, which additionally ride the pair shuffle. On
    # candidate-dominated corpora (the Zipf cell: 650:1 verify-to-hit)
    # most pairs die here and never touch an array. Measured cells in
    # SCALE.md round-19; result-invariance pinned with the toggles.
    if _bound_filter:
        joined, bound = _join_bound_sketches(cand, docs, "__set")
        cand = joined.filter(
            F.expr(f"({bound}) * {tn + td} >= {tn} * (__sza + __szb)")
        ).select("id_a", "id_b")
    if _cand_only:
        # analysis surface: the verify-join INPUT (for measuring what
        # the prefix/positional/suffix/bound filters cut), not a result
        return cand
    out = (
        cand.join(
            docs.select(F.col("id").alias("id_a"), F.col("__set").alias("__sa")),
            "id_a",
        )
        .join(
            docs.select(F.col("id").alias("id_b"), F.col("__set").alias("__sb")),
            "id_b",
        )
        .withColumn(
            "intersection", F.size(F.array_intersect("__sa", "__sb")).cast("long")
        )
        .withColumn(
            "union_size",
            (F.size("__sa") + F.size("__sb") - F.col("intersection")).cast("long"),
        )
        .filter(
            F.col("intersection") * td >= F.lit(tn) * F.col("union_size")
        )
        .withColumn(
            "jaccard", F.col("intersection").cast("double") / F.col("union_size")
        )
    )
    return out.select("id_a", "id_b", "intersection", "union_size", "jaccard")
