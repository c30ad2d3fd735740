"""Sequence packing for LLM pretraining: global token offsets and
concat-and-chunk bin assignment.

The standard pretraining data layout concatenates all documents in a fixed
order and slices the token stream into fixed-length training sequences
("concat-and-chunk", documents may span sequence boundaries). The core
primitive is an exact global prefix sum of per-document token counts in
corpus order — which Spark's window functions only express as
``sum() OVER (ORDER BY ...)`` with no partitioning: a single-task stage that
cannot scale.

``token_offsets`` instead runs the shared two-pass range-bucketed prefix
scan (``operators.fill._bucketed_scan``, SURVEY.md §4.3.1): within-bucket
running sums via a window *partitioned* on a range-bucket id of the order
column (parallel, bounded tasks), plus each bucket's carry-in — the sum of
the per-bucket totals before it — computed in the plan from one tiny row
per bucket and broadcast back. Never data-proportional, no driver lookup.

``sequence_pack`` derives the chunk assignment from the offsets with pure
integer arithmetic: everything is oracle-reproducible from a plain SQL
window cumsum.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from timeseriesfuser_spark.operators.fill import _bucketed_scan
from timeseriesfuser_spark.ops.text import tokens_col


def token_offsets(
    df: DataFrame,
    order_col: str = "doc_id",
    text_col: str = "text",
    count_col: Optional[str] = None,
    num_buckets: Optional[int] = None,
) -> DataFrame:
    """Exclusive/inclusive global token offsets in ``order_col`` order.

    ``order_col`` must be a unique total order (document ids). Token counts
    come from ``count_col`` if given, else from the word tokenizer over
    ``text_col``. Adds ``n_tokens``, ``start_offset`` (tokens strictly
    before this doc), ``end_offset`` (= start + n).

    No global-order window: the prefix sum is the shared range-bucketed
    scan (see module docstring), so every task's work is bounded by its
    bucket — safe at 100 TB. The only construction-time job is its
    quantile sketch on ``order_col`` (none when ``num_buckets=1``).
    """
    # COALESCE to 0: a NULL-text doc occupies zero tokens but still has a
    # concrete position in the concat order — without this the NULL
    # poisons start_offset = end - n for the doc (its SQL-window twin
    # skips the NULL and emits a number, a silent parity break).
    nt = (
        F.col(count_col).cast("long")
        if count_col
        else F.coalesce(
            F.size(tokens_col(F.col(text_col))), F.lit(0)
        ).cast("long")
    )
    # The scan reads its input twice (window branch + seeds branch), so
    # the word tokenizer runs twice over the corpus. Deliberately NOT
    # materialized: the input carries the full text column, and caching
    # corpus-sized text measured slower than the second tokenizer pass
    # (tokenizing is a cheap codegen projection).
    out = _bucketed_scan(
        df.withColumn("n_tokens", nt), [order_col],
        [("end_offset", "n_tokens", "sum")], num_buckets=num_buckets,
    )
    return out.withColumn(
        "start_offset", F.col("end_offset") - F.col("n_tokens")
    )


def sequence_pack(
    df: DataFrame,
    budget: int,
    order_col: str = "doc_id",
    text_col: str = "text",
    count_col: Optional[str] = None,
    id_cols: Sequence[str] = ("doc_id",),
    num_buckets: Optional[int] = None,
) -> DataFrame:
    """Concat-and-chunk packing: assign each document its span of
    fixed-``budget`` training sequences.

    Emits per document: ``n_tokens``, ``start_offset``, ``bin_first``/
    ``bin_last`` (the first/last training sequence the doc's tokens land
    in), ``offset_in_bin`` (position of the doc's first token inside
    ``bin_first``), ``n_bins`` (sequences touched; 0 for empty docs).
    Document order — and therefore the packing — is exactly ``order_col``
    ascending.

    All integer arithmetic on top of ``token_offsets``; the SQL twin is a
    window cumsum + integer division.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive: {budget}")
    offs = token_offsets(
        df,
        order_col=order_col,
        text_col=text_col,
        count_col=count_col,
        num_buckets=num_buckets,
    )
    start, nt = F.col("start_offset"), F.col("n_tokens")
    bin_first = F.expr(f"start_offset DIV {int(budget)}")
    bin_last = F.when(
        nt > 0, F.expr(f"(end_offset - 1) DIV {int(budget)}")
    ).otherwise(bin_first)
    return offs.select(
        *id_cols,
        "n_tokens",
        "start_offset",
        bin_first.alias("bin_first"),
        bin_last.alias("bin_last"),
        F.pmod(start, F.lit(int(budget))).cast("long").alias("offset_in_bin"),
        F.when(nt > 0, bin_last - bin_first + 1)
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_bins"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Sliding-window document chunking (the RAG / context-window prep
    step): each doc's token stream is cut into windows of ``chunk_size``
    tokens starting every ``stride`` tokens (overlap = chunk_size−stride).

    Output (id, chunk_start, n_tokens, chunk_text): one row per window,
    chunk_start = token offset (also the stable chunk key — no ordinality
    column needed), windows start at 0, stride, 2·stride, … while < the
    doc's token count; token-less docs emit no rows. The whole operator is
    a per-row projection + one explode — zero shuffles at any corpus size.
    """
    if stride <= 0 or chunk_size <= 0:
        raise ValueError("chunk_size and stride must be positive")

    # Bind the token array once per row (single-element transform lambda):
    # referencing the tokenizer expression directly from the per-chunk
    # lambda would re-run the regex once per window.
    def windows(tk):
        starts = F.when(
            F.size(tk) > 0,
            F.sequence(F.lit(0), F.size(tk) - 1, F.lit(stride)),
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            starts,
            lambda s: F.struct(
                s.cast("long").alias("chunk_start"),
                F.slice(tk, s + 1, chunk_size).alias("__ctoks"),
            ),
        )

    chunks = F.element_at(
        F.transform(F.array(tokens_col(F.col(text_col))), windows), 1
    )
    ex = df.select(
        F.col(id_col), F.explode(chunks).alias("__c")
    )
    return ex.select(
        id_col,
        F.col("__c.chunk_start").alias("chunk_start"),
        F.size("__c.__ctoks").cast("long").alias("n_tokens"),
        F.concat_ws(" ", F.col("__c.__ctoks")).alias("chunk_text"),
    )


def length_bucketed_batches(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    count_col: Optional[str] = None,
    *,
    band_tokens: int = 64,
    batch_size: int = 32,
    n_shards: int = 32,
    epoch: int = 0,
) -> DataFrame:
    """Length-bucketed training-batch assignment: group documents of
    similar token length (bands of ``band_tokens``) so a padded batch
    wastes minimal compute, shuffle deterministically within each band,
    and cut fixed-``batch_size`` batches.

    Output per doc: ``n_tokens``, ``band`` (= n_tokens DIV band_tokens),
    ``shard`` (md5-derived writer shard), ``batch_in_shard``, ``pos_in_batch``
    — the batch key is (band, shard, batch_in_shard). The md5 rank doubles
    as the epoch-reshuffle (vary ``epoch``).

    Scale: batches are cut per (band, shard) — the window partitions are
    data/|bands·shards| rows, so a cluster sizes ``n_shards`` to its
    parallelism and every task stays bounded; each shard is one writer
    task's worth of batches (the cluster-native layout — ragged tail
    batches occur per shard, as in any sharded loader). An exactly-global
    contiguous batch numbering would instead compose the
    :func:`token_offsets` two-pass prefix sum over (band, rank); sharded
    assignment avoids that extra pass and is what loaders consume anyway.
    """
    from timeseriesfuser_spark.ops.dedup import md5_hash64

    if band_tokens <= 0 or batch_size <= 0 or n_shards <= 0:
        raise ValueError("band_tokens, batch_size, n_shards must be positive")
    # COALESCE to 0: a NULL-text doc occupies zero tokens but still has a
    # concrete position in the concat order — without this the NULL
    # poisons start_offset = end - n for the doc (its SQL-window twin
    # skips the NULL and emits a number, a silent parity break).
    nt = (
        F.col(count_col).cast("long")
        if count_col
        else F.coalesce(
            F.size(tokens_col(F.col(text_col))), F.lit(0)
        ).cast("long")
    )
    rank = md5_hash64(
        F.concat(
            F.lit(f"lb{int(epoch)}:"), F.col(id_col).cast("string")
        )
    )
    base = df.select(
        F.col(id_col),
        nt.alias("n_tokens"),
        rank.alias("__rank"),
    ).select(
        id_col,
        "n_tokens",
        F.expr(f"n_tokens DIV {int(band_tokens)}").cast("long").alias("band"),
        "__rank",
        F.pmod(F.col("__rank"), F.lit(int(n_shards))).cast("long").alias("shard"),
    )
    w = Window.partitionBy("band", "shard").orderBy("__rank", id_col)
    rn = F.row_number().over(w) - 1
    return base.select(
        id_col,
        "n_tokens",
        "band",
        "shard",
        F.floor(rn / int(batch_size)).cast("long").alias("batch_in_shard"),
        F.pmod(rn, F.lit(int(batch_size))).cast("long").alias("pos_in_batch"),
    )


def byte_shards(
    df: DataFrame,
    shard_bytes: int,
    order_col: str = "doc_id",
    bytes_col: str = "n_bytes",
    id_cols: Sequence[str] = ("doc_id",),
    num_buckets: Optional[int] = None,
) -> DataFrame:
    """WebDataset-style shard assignment: lay the objects out in
    ``order_col`` order and cut ~``shard_bytes``-sized shards, each object
    assigned WHOLE to the shard containing its first byte.

    Output per object: ``n_bytes``, ``start_offset`` (bytes strictly
    before it), ``shard`` (= start_offset DIV shard_bytes) and
    ``shard_offset`` (position of the object's first byte inside its
    shard). The first-byte rule means a shard can overshoot the cap by at
    most one object — the standard trade for a parallel-computable
    assignment (an exact greedy never-exceed packing is inherently
    sequential; this is the prefix-sum formulation every distributed
    shard writer uses).

    Scale: delegates the exclusive byte prefix sum to
    :func:`token_offsets` (two-pass range-bucketed scheme — no
    global-order window), then pure integer arithmetic.
    """
    if shard_bytes <= 0:
        raise ValueError(f"shard_bytes must be positive: {shard_bytes}")
    offs = token_offsets(
        df,
        order_col=order_col,
        count_col=bytes_col,
        num_buckets=num_buckets,
    )
    return offs.select(
        *id_cols,
        F.col("n_tokens").alias("n_bytes"),
        "start_offset",
        F.expr(f"start_offset DIV {int(shard_bytes)}").cast("long").alias("shard"),
        F.pmod(F.col("start_offset"), F.lit(int(shard_bytes)))
        .cast("long")
        .alias("shard_offset"),
    )


def shard_manifest(
    df: DataFrame,
    shard_bytes: int,
    order_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-shard manifest relation for the :func:`byte_shards` layout:
    (shard, n_docs, n_bytes, content_sha256), where content_sha256 =
    sha256 over the per-doc sha256 hex digests concatenated in
    ``order_col`` order — an order-sensitive shard fingerprint that is
    engine-reproducible (sha256 + hex strings, no float, no locale).

    ``sinks.export_training_shards`` writes exactly this next to the
    shard files; computing it standalone lets a pipeline verify a
    previously-written export against the current corpus. Per-shard
    state is bounded by docs-per-shard (~shard_bytes / avg doc)."""
    from pyspark.sql import functions as F

    work = df.select(
        F.col(order_col).alias("__ord"),
        F.coalesce(F.octet_length(F.col(text_col)), F.lit(0))
        .cast("long")
        .alias("__nb"),
        F.sha2(
            F.encode(F.coalesce(F.col(text_col), F.lit("")), "UTF-8"), 256
        ).alias("__dsha"),
    )
    assign = byte_shards(
        work.select(F.col("__ord").alias("k"), F.col("__nb").alias("n_bytes")),
        shard_bytes,
        order_col="k",
        bytes_col="n_bytes",
        id_cols=["k"],
    ).select(F.col("k").alias("__ord"), "shard")
    return (
        work.join(assign, "__ord")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__nb").cast("long").alias("n_bytes"),
            F.sha2(
                F.encode(
                    F.concat_ws(
                        "",
                        F.transform(
                            F.array_sort(
                                F.collect_list(F.struct("__ord", "__dsha"))
                            ),
                            lambda s: s["__dsha"],
                        ),
                    ),
                    "UTF-8",
                ),
                256,
            ).alias("content_sha256"),
        )
    )
