"""Structured Streaming surface: live (non-replay) versions of the engine's
operators.

The reference is a *batch replay* engine that simulates a live stream
(SURVEY.md §2.8); this module is the genuinely-streaming counterpart built
on Structured Streaming:

- :func:`stream_source` — ``readStream`` over a growing directory of
  files, normalized to the same epoch-ms ``__timestamp`` axis as the batch
  readers (so batch and streaming share operator code);
- :func:`fuse_streams` — the chronological merge: diagonal union of N
  streams; within each micro-batch, event-time ordering is applied by the
  sink (a total pre-sort is meaningless on an unbounded stream);
- :func:`resample_stream` — T3's streaming twin: watermarked tumbling
  buckets with last-event-per-bucket (``max_by`` on the (ts, seq) order
  key), late rows beyond the watermark dropped — the reference drops
  late/out-of-order rows too (core.py:446-459, docs "Preparing data");
- :func:`replay_stream_to_handler` — foreachBatch bridge delivering each
  micro-batch, sorted by event time, to a row-level Handler (T6's
  streaming twin).

Gap *filling* (the blank-boundary emission of batch resample) is
intentionally absent here: emitting rows for intervals with no events
requires a timer/clock source, which Structured Streaming only offers via
``applyInPandasWithState`` timeouts — and timeouts fire on *processing*
time, making output nondeterministic. The deterministic route is: stream
the bucketed lasts, run the batch gap-fill on the stored result.
"""

from __future__ import annotations

from typing import Callable, List, Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from timeseriesfuser_spark.config import SourceConfig, normalize_schema
from timeseriesfuser_spark.intervals import interval_to_ms
from timeseriesfuser_spark.sources.readers import SRC_ID_COL, TS_COL
from timeseriesfuser_spark.timeutils import ts_epoch_ms_col


def stream_source(
    spark: SparkSession,
    src: SourceConfig,
    src_id: int = 0,
    *,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """``readStream`` twin of sources.readers.build_source_df.

    Streaming file sources require a declared schema (no inference) — the
    reference documents the same stance for its readers (docs "Datatypes").
    """
    declared = normalize_schema(src.schema, src.columns)
    if declared is None:
        raise ValueError(
            f"Source {src.name!r}: streaming requires a declared schema"
        )
    reader = spark.readStream.schema(declared)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if src.fmt == "parquet":
        df = reader.parquet(src.path)
    elif src.fmt == "json":
        for k, v in src.csv_options.items():
            reader = reader.option(k, v)
        df = reader.json(src.path)
    else:
        reader = reader.option("header", "true")
        for k, v in src.csv_options.items():
            reader = reader.option(k, v)
        df = reader.csv(src.path)

    drop = [c for c in src.remove_cols if c in df.columns]
    if drop:
        df = df.drop(*drop)
    ts = F.col(src.ts_col)
    if src.ts_converter is not None:
        df = df.withColumn(f"__{src.ts_col}", ts)
        ts_ms = src.ts_converter(ts).cast(T.LongType())
    else:
        ts_ms = ts_epoch_ms_col(df, src.ts_col, int_epoch="ms")
    df = df.withColumn(TS_COL, ts_ms)
    if src.ts_col != TS_COL:
        df = df.drop(src.ts_col)
    return df.withColumn(SRC_ID_COL, F.lit(src_id).cast("int"))


def fuse_streams(
    streams: Sequence[DataFrame],
    *,
    names: Optional[Sequence[str]] = None,
    rename_identical: bool = True,
    merge_cols: Sequence[str] = (),
    separator: str = "||",
) -> DataFrame:
    """Diagonal union of normalized streams (J1's streaming twin), with the
    same column-collision renaming as the batch fuser when ``names`` are
    given (``price`` -> ``price||<name>``; ``merge_cols`` and internal
    columns exempt)."""
    streams = list(streams)
    if names is not None and rename_identical:
        from timeseriesfuser_spark.operators.fuse import compute_collision_renames

        if len(names) != len(streams):
            raise ValueError("names must match streams 1:1")
        exempt = {TS_COL, SRC_ID_COL, *merge_cols}
        maps = compute_collision_renames(
            [(n, s.columns) for n, s in zip(names, streams)],
            exempt=exempt,
            sep=separator,
        )
        streams = [
            s.withColumnsRenamed(maps[n]) if maps[n] else s
            for n, s in zip(names, streams)
        ]
    out = streams[0]
    for s in streams[1:]:
        out = out.unionByName(s, allowMissingColumns=True)
    return out


def resample_stream(
    df: DataFrame,
    interval: str,
    *,
    keys: Sequence[str] = (),
    value_cols: Optional[Sequence[str]] = None,
    watermark: str = "0 seconds",
    ts_col: str = TS_COL,
    tiebreak_cols: Optional[Sequence[str]] = None,
    tz: Optional[str] = None,
) -> DataFrame:
    """Watermarked tumbling-bucket last-value aggregation (T3, streaming).

    Output schema matches batch ``resample_last_interval(..., gap_fill=
    False)``: boundary label in ``ts_col`` (epoch ms; the grid point the
    bucket is emitted at — next boundary strictly after each event), keys,
    last-event values. Event-time watermark bounds state; rows later than
    the watermark are dropped (the reference's late-data semantics).

    ``tz`` (day intervals only): boundaries are local MIDNIGHTS in that
    timezone, DST-correct — the batch T2 ``'1d'``-tz semantics
    (``intervals.day_boundary_label_col``; reference classes.py:787-795).
    ``F.window`` can only express fixed-step epoch-offset grids (its
    ``startTime`` is one constant — a DST-crossing day grid is NOT a
    fixed-step grid), so the day path groups directly on the watermarked
    boundary-LABEL column: the label is a monotone function of the event
    time, so watermark eviction semantics carry over; a bucket's state
    closes once the watermark passes its label. NOTE: on this day path
    the ``watermark`` delay is therefore measured in LABEL space, not
    event-time space — once any event crosses a midnight the label (and
    with it the watermark) leaps a full interval step, so a delay like
    ``'1 hour'`` gives effectively zero tolerance for event-time-late
    rows in the prior bucket. Size the delay as (interval step + the
    intended event-time lateness, e.g. from ``lateness_stats``) on this
    path; the window() fast path measures the same argument in
    event-time space. ``'Nd'`` with N > 1 takes the label path even
    without ``tz`` (then in UTC), and there each event's label is its OWN
    local midnight plus N days: the grid has no per-key anchor, unlike
    batch ``resample_last_interval``, which anchors at the key's first
    local date. Events on days 3, 4 and 6 with ``'2d'`` get labels 5, 6
    and 8 here and 5 and 7 in batch; the two agree for ``'1d'``, which
    without ``tz`` stays on the epoch-anchored fast path. Emission asymmetry,
    pinned in ``tests/test_resample_stream_day_tz.py``: the window()
    fast path HOLDS the trailing bucket until the watermark passes
    ``window.end``, while on the day path the grouping key IS the
    bucket end, so the final label emits at stream end.
    """
    step = interval_to_ms(interval)
    unit = interval.strip()[-1]
    if tz is not None and unit != "d":
        raise ValueError("tz is only meaningful for day ('d') intervals")
    keys = list(keys)
    if value_cols is None:
        value_cols = [
            c for c in df.columns if c not in {ts_col, SRC_ID_COL, *keys}
        ]
    if tiebreak_cols is None:
        tiebreak_cols = [c for c in (SRC_ID_COL,) if c in df.columns]
    order_key = F.struct(F.col(ts_col), *[F.col(c) for c in tiebreak_cols])
    last_agg = F.max_by(
        F.struct(*[F.col(c) for c in value_cols]), order_key
    ).alias("__row")
    if unit == "d" and (tz is not None or step > 86_400_000):
        from timeseriesfuser_spark.intervals import day_boundary_label_col

        days = step // 86_400_000
        label = day_boundary_label_col(F.col(ts_col), days, tz or "UTC")
        wdf = df.withColumn("__evt", F.timestamp_millis(label)).withWatermark(
            "__evt", watermark
        )
        return (
            wdf.groupBy(*keys, "__evt")
            .agg(last_agg)
            .select(
                F.unix_millis(F.col("__evt")).alias(ts_col),
                *keys,
                *[F.col("__row")[c].alias(c) for c in value_cols],
            )
        )
    event_time = F.timestamp_millis(F.col(ts_col))
    wdf = df.withColumn("__evt", event_time).withWatermark("__evt", watermark)
    win = F.window("__evt", f"{step} milliseconds")
    agg = (
        wdf.groupBy(*keys, win)
        .agg(last_agg)
        .select(
            # window end == next boundary strictly after every event in the
            # bucket == the batch resampler's emission label.
            F.unix_millis(F.col("window.end")).alias(ts_col),
            *keys,
            *[F.col("__row")[c].alias(c) for c in value_cols],
        )
    )
    return agg


def sliding_stream(
    df: DataFrame,
    length: str = "1h",
    slide: str = "15m",
    *,
    keys: Sequence[str] = (),
    value_col: str = "value",
    watermark: str = "0 seconds",
    ts_col: str = TS_COL,
) -> DataFrame:
    """Watermarked hopping-window counts: the streaming twin of
    ``ops.timeseries.sliding_counts`` via ``F.window(evt, length, slide)``.

    Output schema matches the batch op: (keys..., window_start, window_end,
    n_events, sum_cents), epoch-ms longs. State is bounded by the watermark
    (each event lives in L/S windows; Spark expires windows whose end <
    watermark)."""
    L = interval_to_ms(length)
    S = interval_to_ms(slide)
    if L % S != 0:
        raise ValueError(f"length {length!r} must be a multiple of slide {slide!r}")
    wdf = df.withColumn(
        "__evt", F.timestamp_millis(F.col(ts_col))
    ).withWatermark("__evt", watermark)
    win = F.window("__evt", f"{L} milliseconds", f"{S} milliseconds")
    cents = F.round(F.col(value_col) * 100).cast("long")
    agg = wdf.groupBy(*keys, win).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(cents).alias("sum_cents"),
    )
    return agg.select(
        *keys,
        F.unix_millis(F.col("window.start")).alias("window_start"),
        F.unix_millis(F.col("window.end")).alias("window_end"),
        "n_events",
        "sum_cents",
    )



def join_streams(
    left: DataFrame,
    right: DataFrame,
    *,
    keys: Sequence[str] = (),
    left_ts: str = TS_COL,
    right_ts: str = TS_COL,
    window_ms: int = 3_600_000,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: each left event matched to the right
    events whose window contains it — ``right.ts <= left.ts < right.ts +
    window_ms`` plus equality on ``keys`` — the streaming twin of
    ``operators.rangejoin.interval_join`` with fixed-length right windows.

    Both sides are watermarked on event time, and the join carries the
    time-range predicate Structured Streaming needs to expire buffered
    state: right rows are dropped once the left watermark passes
    ``right.ts + window_ms``, left rows once the right watermark passes
    ``left.ts``. Choose ``watermark`` ≥ the worst expected cross-stream
    skew; state is O(events inside the watermark horizon), not unbounded.

    Column names must be disjoint apart from ``keys`` (same contract as
    the batch op).
    """
    overlap = set(left.columns) & set(right.columns) - set(keys)
    if overlap:
        raise ValueError(
            f"non-key columns present on both sides: {sorted(overlap)}"
        )
    l = left.withColumn(
        "__levt", F.timestamp_millis(F.col(left_ts))
    ).withWatermark("__levt", watermark)
    r = right.withColumn(
        "__revt", F.timestamp_millis(F.col(right_ts))
    ).withWatermark("__revt", watermark)
    cond = (
        (F.col("__levt") >= F.col("__revt"))
        & (
            F.col("__levt")
            < F.col("__revt") + F.expr(f"INTERVAL {int(window_ms)} MILLISECONDS")
        )
    )
    for k in keys:
        cond = cond & (l[k] == r[k])
    joined = l.join(r, cond, "inner")
    for k in keys:
        joined = joined.drop(r[k])
    return joined.drop("__levt", "__revt")



def ohlc_stream(
    df: DataFrame,
    interval: str = "1h",
    *,
    keys: Sequence[str] = ("event_type",),
    value_col: str = "value",
    seq_col: str = "event_id",
    watermark: str = "0 seconds",
    ts_col: str = TS_COL,
) -> DataFrame:
    """Watermarked tumbling-window candlesticks: the streaming twin of
    ``ops.timeseries.ohlc_bars`` — same (ts, seq) struct ordering key for
    open/close, same exact-int cent sum, ``bar_ts`` = the window start
    (the batch op's floor boundary), so stream and batch results are
    row-identical on ordered arrival."""
    step = interval_to_ms(interval)
    wdf = df.withColumn(
        "__evt", F.timestamp_millis(F.col(ts_col))
    ).withWatermark("__evt", watermark)
    win = F.window("__evt", f"{step} milliseconds")
    order_key = F.struct(F.col(ts_col), F.col(seq_col))
    cents = F.round(F.col(value_col) * 100).cast("long")
    agg = wdf.groupBy(*keys, win).agg(
        F.min_by(F.col(value_col), order_key).alias("open"),
        F.max(value_col).alias("high"),
        F.min(value_col).alias("low"),
        F.max_by(F.col(value_col), order_key).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(cents).alias("sum_cents"),
    )
    return agg.select(
        *keys,
        F.unix_millis(F.col("window.start")).alias("bar_ts"),
        "open", "high", "low", "close", "n_events", "sum_cents",
    )


def sessionize_stream(
    df: DataFrame,
    gap_ms: int,
    *,
    keys: Sequence[str] = ("user_id",),
    ts_col: str = TS_COL,
    flush_on_close: bool = False,
) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): gap-based
    sessionization with state carried across micro-batches and restarts.

    Emits a row per *closed* session — a session closes when a later event
    for the same key arrives more than ``gap_ms`` after its end. The open
    session per key lives in the state store (checkpointed; survives query
    restarts). This is the streaming twin of the batch `sessionize` window
    query; the batch form emits open sessions too, the stream by
    construction cannot until they close — unless the caller finalizes
    with ``flush_on_close=True`` and a :data:`FLUSH_SENTINEL_TS` row per
    key as the stream's last input: the key's open session then emits
    and its state clears, so total emissions equal the batch op
    (pinned in ``tests/test_flush_on_close.py``).

    Barrier-gated flush (VERDICT r13 #4): a :func:`close_stream`
    sentinel embeds the key's close barrier ``T`` (its max event time);
    the flush applies only once the key's own event-time high mark
    reaches ``T`` — so a sentinel delivered before late-staged data
    files (``maxFilesPerTrigger`` splits) parks in state instead of
    clearing it early. Plain hand-rolled sentinels carry ``T = 0`` and
    flush immediately (legacy behavior). State-format note: the barrier
    added a 4th state field — restart barrier-era jobs from a fresh
    checkpoint (Spark's own state schema check rejects the old layout).

    State is O(#active keys), Arrow-batched per group — the scalable shape
    for custom stateful ops the built-in windows can't express.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    keys = list(keys)
    # Key fields copy the INPUT dtypes (a string key hardcoded as long
    # would fail the Arrow conversion of every micro-batch).
    key_fields = [
        T.StructField(k, df.schema[k].dataType, True) for k in keys
    ]
    out_schema = T.StructType(
        key_fields
        + [
            T.StructField("session_start", T.LongType(), True),
            T.StructField("session_end", T.LongType(), True),
            T.StructField("n_events", T.LongType(), True),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("start", T.LongType(), True),
            T.StructField("end", T.LongType(), True),
            T.StructField("n", T.LongType(), True),
            # pending close barrier: flush once `end` (the key's
            # event-time high mark) reaches it; None = no close pending
            T.StructField("close_at", T.LongType(), True),
        ]
    )

    def fn(key, pdfs, state):
        ts_all = []
        close_req = None
        for pdf in pdfs:
            for t in pdf[ts_col]:
                t = int(t)
                if flush_on_close and t >= FLUSH_SENTINEL_TS:
                    bar = t - FLUSH_SENTINEL_TS
                    close_req = bar if close_req is None else max(close_req, bar)
                else:
                    ts_all.append(t)
        ts_all.sort()
        if state.exists:
            start, end, n, close_at = state.get
        else:
            start = end = None
            n = 0
            close_at = None
        if close_req is not None:
            close_at = close_req if close_at is None else max(close_at, close_req)
        closed = []
        for t in ts_all:
            if start is None:
                start = end = t
                n = 1
            elif t - end > gap_ms:
                closed.append((start, end, n))
                start, end, n = t, t, 1
            else:
                end = t
                n += 1
        # barrier-gated flush: `end` is the key's event-time high mark
        # (monotone while state exists). The close is exact when data
        # files are staged in nondecreasing event-time order (the
        # close_stream staging pattern): then high-mark >= T implies
        # every row <= T has been ingested. If the file holding the
        # max-ts row is delivered BEFORE files holding mid-range rows,
        # the high mark reaches T early and those stragglers land in a
        # second session — the barrier defends against the sentinel
        # arriving early, not against data files arriving out of
        # event-time order.
        if close_at is not None and (
            close_at <= 0 or (end is not None and end >= close_at)
        ):
            if start is not None:
                closed.append((start, end, n))
                start, end, n = None, None, 0
            close_at = None
        state.update((start, end, n, close_at))
        out = pd.DataFrame(
            [
                {**dict(zip(keys, key)), "session_start": s, "session_end": e,
                 "n_events": c}
                for s, e, c in closed
            ],
            columns=[f.name for f in out_schema.fields],
        )
        yield out

    return df.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )



def anomaly_stream(
    df: DataFrame,
    *,
    keys: Sequence[str] = ("user_id",),
    ts_col: str = TS_COL,
    seq_col: str = "event_id",
    cents_col: str = "cents",
    lookback: int = 10,
    min_points: int = 3,
    k: int = 3,
) -> DataFrame:
    """Streaming twin of ``ops.timeseries.rolling_anomalies``: per-key
    trailing z-score anomaly flags with the baseline ring buffer carried in
    the state store across micro-batches (and restarts).

    ``cents_col`` must be the integer-quantized value (quantize upstream
    with JVM expressions — e.g. ``F.round(F.col("value")*100).cast("long")``
    — so the Python side only does exact int arithmetic). The decision is
    the same integer inequality as the batch op::

        (n·x - S)² · (n-1)  >  k² · n · (n·Q - S²)

    so stream and batch agree bit-for-bit WHEN events arrive in event-time
    order across micro-batches (the replay harness's chronological split;
    with out-of-order arrival the baseline reflects arrival order — the
    same caveat as the reference's live mode, SURVEY.md §2.8).

    State is O(lookback) longs per active key, Arrow-batched per group.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    keys = list(keys)
    # Key fields copy the INPUT dtypes — see sessionize_stream.
    key_fields = [
        T.StructField(kk, df.schema[kk].dataType, True) for kk in keys
    ]
    out_schema = T.StructType(
        key_fields
        + [
            T.StructField(ts_col, T.LongType(), True),
            T.StructField(seq_col, T.LongType(), True),
            T.StructField("cents", T.LongType(), True),
            T.StructField("n_base", T.LongType(), True),
            T.StructField("is_anomaly", T.BooleanType(), True),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("buf", T.ArrayType(T.LongType()), True)]
    )
    k2 = int(k) * int(k)

    def fn(key, pdfs, state):
        rows = []
        for pdf in pdfs:
            rows.extend(
                (int(t), int(s), int(c))
                for t, s, c in zip(pdf[ts_col], pdf[seq_col], pdf[cents_col])
            )
        rows.sort()
        buf = list(state.get[0]) if state.exists else []
        out = []
        for t, s, x in rows:
            n = len(buf)
            flag = False
            if n >= min_points:
                S = sum(buf)
                Q = sum(v * v for v in buf)
                dev = n * x - S
                flag = dev * dev * (n - 1) > k2 * n * (n * Q - S * S)
            out.append(
                {**dict(zip(keys, key)), ts_col: t, seq_col: s, "cents": x,
                 "n_base": n, "is_anomaly": flag}
            )
            buf.append(x)
            if len(buf) > lookback:
                buf.pop(0)
        state.update((buf,))
        yield pd.DataFrame(out, columns=[f.name for f in out_schema.fields])

    return df.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def dedup_stream(
    df: DataFrame,
    *,
    key_cols: Optional[Sequence[str]] = None,
    text_col: Optional[str] = None,
    normalize: bool = False,
    watermark: Optional[str] = "10 minutes",
    ts_col: str = TS_COL,
) -> DataFrame:
    """Streaming exact dedup: the first *processed* occurrence of each
    content key wins (ops.dedup.exact_duplicates' live twin — the
    ingest-time guard an LLM-data pipeline puts in front of its raw
    feed). "First" is processing order — source arrival order, not event
    time — as in any streaming dedup.

    Key = ``md5(text_col)`` (optionally whitespace/case-normalized, same
    as the batch op) or explicit ``key_cols``. With a ``watermark``, uses
    ``dropDuplicatesWithinWatermark`` so the dedup state store holds only
    keys younger than the watermark horizon — bounded state at
    firehose scale; duplicates farther apart in event time than the
    horizon are NOT caught (that is the documented trade; run the batch op
    for a full-history pass). ``watermark=None`` keeps exact all-history
    dedup with state growing per distinct key.

    Adds ``__event_time`` (timestamp from epoch-ms ``ts_col``) and
    ``__content_hash`` when hashing text.
    """
    if (key_cols is None) == (text_col is None):
        raise ValueError("exactly one of key_cols / text_col is required")
    out = df.withColumn("__event_time", F.timestamp_millis(F.col(ts_col)))
    if text_col is not None:
        c = F.col(text_col)
        if normalize:
            c = F.regexp_replace(F.trim(F.lower(c)), "\\s+", " ")
        out = out.withColumn("__content_hash", F.md5(c))
        keys = ["__content_hash"]
    else:
        keys = list(key_cols)
    if watermark is not None:
        out = out.withWatermark("__event_time", watermark)
        return out.dropDuplicatesWithinWatermark(keys)
    return out.dropDuplicates(keys)


def replay_stream_to_handler(
    df: DataFrame,
    handler,
    *,
    ts_col: str = TS_COL,
    checkpoint_dir: Optional[str] = None,
    trigger_available_now: bool = True,
):
    """foreachBatch bridge: deliver each micro-batch to a row-level
    Handler, sorted by event time within the batch (T6 streaming twin).

    Cross-batch ordering is governed by the source's file ordering +
    watermarking, as in any streaming system. Returns the StreamingQuery;
    callers ``awaitTermination()``.

    Driver memory per micro-batch is bounded by ONE partition of the
    sorted batch, not the whole batch: the sort is a distributed
    range-partitioned exchange and ``toLocalIterator`` pulls partitions
    one at a time in time order (same mechanism as ``replay.replay``).
    Additionally cap batch size at the source with ``maxFilesPerTrigger``
    (see ``read_stream_source``) for firehose directories.
    """
    from timeseriesfuser_spark.replay import BaseHandler  # noqa: F401

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        it = batch_df.orderBy(ts_col).toLocalIterator(prefetchPartitions=True)
        try:
            for row in it:
                msg = row.asDict()
                ts = msg.pop(ts_col)
                handler.process(ts, msg)
        finally:
            it.close()

    writer = df.writeStream.foreachBatch(_sink)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def latest_stream(
    df: DataFrame,
    *,
    keys: Sequence[str] = ("user_id",),
    ts_col: str = TS_COL,
    seq_col: str = "event_id",
    value_cols: Sequence[str] = ("value",),
) -> DataFrame:
    """Streaming type-1 current view (the twin of
    ``ops.behavior.latest_snapshot``): per key, maintain the latest
    (ts, seq)-ordered row across micro-batches and EMIT the key's current
    row whenever a batch updates it — the incremental CDC view a batch
    compaction recomputes from scratch.

    Late/out-of-order arrivals are handled by the ordering key, not by
    arrival: an older event arriving after a newer one does NOT regress
    the view (state keeps the max (ts, seq)). State is O(#keys) rows of
    (ts, seq, values) in the checkpointed state store; restart-surviving
    like the sibling stateful ops. Output mode: append (one row per
    (key, change)); the CURRENT view at any moment is the last emitted
    row per key — `max_by` over the emitted stream reproduces it, which
    is what the batch-parity test asserts.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    keys = list(keys)
    value_cols = list(value_cols)
    key_fields = [T.StructField(k, df.schema[k].dataType, True) for k in keys]
    val_fields = [
        T.StructField(c, df.schema[c].dataType, True) for c in value_cols
    ]
    out_schema = T.StructType(
        key_fields
        + [
            T.StructField(ts_col, T.LongType(), True),
            T.StructField(seq_col, T.LongType(), True),
        ]
        + val_fields
    )
    state_schema = T.StructType(
        [
            T.StructField("ts", T.LongType(), True),
            T.StructField("seq", T.LongType(), True),
        ]
        + val_fields
    )

    def fn(key, pdfs, state):
        best = None  # (ts, seq, *values)
        if state.exists:
            best = tuple(state.get)
        def plain(v):
            # numpy scalars -> python; NaN/NA/NaT -> None (state/Arrow-safe,
            # and a SQL view says NULL, never NaN)
            if v is None or pd.isna(v):
                return None
            return v.item() if hasattr(v, "item") else v

        for pdf in pdfs:
            # Positional access: pandas itertuples() mangles
            # underscore-prefixed names (e.g. the default '__timestamp'
            # ts column becomes _0), so getattr would crash per batch.
            series = [pdf[ts_col], pdf[seq_col]] + [pdf[c] for c in value_cols]
            for row in zip(*series):
                ts = plain(row[0])
                seq = plain(row[1])
                if ts is None or seq is None:
                    # Null ordering keys have no place in the (ts, seq)
                    # order; skip them instead of crashing the query.
                    continue
                cand = (int(ts), int(seq)) + tuple(plain(v) for v in row[2:])
                if best is None or (cand[0], cand[1]) > (best[0], best[1]):
                    best = cand
        changed = best is not None and (
            not state.exists or tuple(state.get) != best
        )
        if changed:
            state.update(best)
            yield pd.DataFrame(
                [key + best],
                columns=keys + [ts_col, seq_col] + value_cols,
            )

    src = df.select(*keys, ts_col, seq_col, *value_cols)
    return src.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def countmin_stream(
    df: DataFrame,
    key_col: str,
    *,
    depth: int = 4,
    width: int = 1024,
    group_cols=(),
) -> DataFrame:
    """Streaming Count-Min sketch: the live twin of
    ``ops.sketches.countmin_sketch``. A streaming groupBy on the
    (row_idx, col_idx) bucket key with a running SUM — state is bounded
    by depth×width counters regardless of stream volume, the property
    that makes the sketch THE streaming frequency structure. Run with
    outputMode('update') or 'complete'; no watermark needed (state never
    grows). After any prefix of the stream, the emitted cells equal the
    batch sketch of the same rows (batch-parity tested).
    """
    from timeseriesfuser_spark.ops.sketches import _row_bucket

    k = F.col(key_col)
    pairs = F.array(
        *[
            F.struct(
                F.lit(d).alias("row_idx"),
                _row_bucket(k, d, width).alias("col_idx"),
            )
            for d in range(depth)
        ]
    )
    g = list(group_cols)
    return (
        df.select(*g, F.explode(pairs).alias("__rc"))
        .groupBy(
            *g,
            F.col("__rc.row_idx").alias("row_idx"),
            F.col("__rc.col_idx").alias("col_idx"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def hll_stream(
    df: DataFrame, key_col: str, *, p: int = 8, group_cols=()
) -> DataFrame:
    """Streaming HyperLogLog registers: the live twin of
    ``ops.sketches.hll_registers``. A streaming groupBy on the bucket
    with a running MAX of the rank — state bounded by 2^p registers,
    mergeable across restarts by construction (max is idempotent).
    After any prefix of the stream, the registers equal the batch
    registers of the same rows (batch-parity tested).
    """
    from timeseriesfuser_spark.ops.dedup import md5_hash64
    from timeseriesfuser_spark.ops.sketches import _HASH_BITS

    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4,16]: {p}")
    m = 1 << p
    h = md5_hash64(F.col(key_col).cast("string"), seed=99)
    w = F.shiftright(h, p)
    rest_bits = _HASH_BITS - p
    rho = F.when(
        w > 0, F.lit(rest_bits) + 1 - F.length(F.bin(w))
    ).otherwise(F.lit(rest_bits + 1))
    g = list(group_cols)
    return (
        df.select(*g, F.pmod(h, F.lit(m)).alias("bucket"), rho.alias("__rho"))
        .groupBy(*g, "bucket")
        .agg(F.max("__rho").cast("long").alias("register"))
    )


def histogram_stream(
    df: DataFrame,
    value_col: str,
    *,
    lo: float,
    hi: float,
    bins: int = 256,
    group_cols=(),
) -> DataFrame:
    """Streaming histogram sketch: the live twin of
    ``ops.sketches.histogram_sketch``. A streaming groupBy on the bin
    with a running COUNT — state bounded by bins+2 rows regardless of
    stream volume; run with outputMode('update') or 'complete'. After
    any prefix of the stream the emitted cells equal the batch sketch
    of the same rows, and the state store continues across restarts
    (same contract as ``countmin_stream``/``hll_stream``).
    """
    if bins < 1:
        raise ValueError(f"bins must be >= 1: {bins}")
    if not hi > lo:
        raise ValueError(f"need hi > lo: [{lo}, {hi})")
    v = F.col(value_col).cast("double")
    raw = F.floor((v - F.lit(float(lo))) * bins / F.lit(float(hi) - float(lo)))
    bucket = (
        F.when(v < lo, F.lit(-1).cast("long"))
        .when(v >= hi, F.lit(bins).cast("long"))
        .otherwise(F.least(raw, F.lit(bins - 1).cast("long")))
    )
    g = list(group_cols)
    return (
        df.filter(v.isNotNull())
        .select(*g, bucket.alias("bin"))
        .groupBy(*g, "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def bloom_stream(
    df: DataFrame,
    key_col: str,
    *,
    m_bits: int = 1 << 20,
    k: int = 4,
    seed: int = 700,
    group_cols=(),
) -> DataFrame:
    """Streaming Bloom set-bit relation: the live twin of
    ``ops.sketches.bloom_bits`` (same seeded md5 positions, same
    ``group_cols`` per-group independence). A stateful streaming
    dedup on (*group_cols, bit) — state bounded by #groups × m_bits
    rows regardless of stream volume, no watermark needed. Run with
    outputMode('append'): each set bit is emitted exactly once, the
    FIRST time it is set, so the union of all emissions after any
    prefix of the stream equals the batch bit relation of the same
    rows, and the checkpointed state continues across restarts (same
    contract as ``countmin_stream``/``hll_stream``/``histogram_stream``;
    consume the emissions into ``ops.sketches.bloom_prefilter`` /
    ``bloom_merge`` unchanged)."""
    from timeseriesfuser_spark.ops.dedup import md5_hash64

    if m_bits < 2 or k < 1:
        raise ValueError(f"need m_bits >= 2, k >= 1: {m_bits}, {k}")
    g = list(group_cols)
    kc = F.col(key_col).cast("string")
    pos = F.array(
        *[
            F.pmod(md5_hash64(kc, seed=seed + i), F.lit(m_bits))
            for i in range(k)
        ]
    )
    return df.select(*g, F.explode(pos).alias("bit")).dropDuplicates(
        g + ["bit"]
    )


def vwap_stream(
    df: DataFrame,
    interval: str = "1d",
    *,
    keys: Sequence[str] = ("event_type",),
    value_col: str = "value",
    weight_col: str = "weight",
    watermark: str = "0 seconds",
    ts_col: str = TS_COL,
) -> DataFrame:
    """Watermarked tumbling-window weighted-average bars: the streaming
    twin of ``ops.timeseries.vwap_bars`` — same exact-int numerator
    (cents × integer weight) and denominator, one final double
    division, ``bar_ts`` = the window start, so stream and batch
    results are row-identical on any arrival order (every aggregate is
    commutative)."""
    step = interval_to_ms(interval)
    wdf = df.withColumn(
        "__evt", F.timestamp_millis(F.col(ts_col))
    ).withWatermark("__evt", watermark)
    win = F.window("__evt", f"{step} milliseconds")
    cents = F.round(F.col(value_col) * 100).cast("long")
    w = F.col(weight_col).cast("long")
    agg = wdf.groupBy(*keys, win).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(cents * w).alias("pw_cents"),
        F.sum(w).alias("sum_weight"),
    )
    return agg.select(
        *keys,
        F.unix_millis(F.col("window.start")).alias("bar_ts"),
        "n_events",
        "pw_cents",
        "sum_weight",
        F.when(
            F.col("sum_weight") > 0,
            F.col("pw_cents").cast("double")
            / F.col("sum_weight").cast("double"),
        ).alias("vwap_cents"),
    )


def sequence_match_stream(
    df: DataFrame,
    first: str,
    then: str,
    *,
    not_between: Optional[str] = None,
    within_ms: Optional[int] = None,
    keys: Sequence[str] = ("user_id",),
    ts_col: str = TS_COL,
    type_col: str = "event_type",
) -> DataFrame:
    """Streaming twin of ``ops.behavior.sequence_match`` — live
    pattern-with-negation detection (A … B with no ``not_between``
    strictly between, optionally closing within ``within_ms``) via
    ``applyInPandasWithState``: the pending-anchor set rides the state
    store across micro-batches and restarts.

    Per user and event-time instant (the batch op's (user, ts) grain
    semantics, ties included): a ``then`` event MATCHES every pending
    anchor still inside its window and clears them (a blocker at the
    same instant is not *strictly between*); a ``not_between`` event
    kills every strictly-earlier pending anchor; a ``first`` event
    becomes a pending anchor after the instant's close/kill resolve.
    Window-expired anchors are dropped as time advances, so state is
    O(anchors inside one window) per key — pass ``within_ms`` for
    bounded state on keys that anchor but never close.

    Emits one append row per MATCHED anchor: (keys…, anchor_ts,
    n_anchor_events, matched_ts). Aggregating emissions per user equals
    the batch op's ``matched = 1`` rows (``n_matches = Σ
    n_anchor_events``, ``first_anchor_ts = min(anchor_ts)``) WHEN
    events arrive in event-time order across micro-batches — the
    chronological-replay caveat shared with ``anomaly_stream``; within
    one micro-batch order doesn't matter (rows are sorted per group).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    keys = list(keys)
    key_fields = [
        T.StructField(kk, df.schema[kk].dataType, True) for kk in keys
    ]
    out_schema = T.StructType(
        key_fields
        + [
            T.StructField("anchor_ts", T.LongType(), True),
            T.StructField("n_anchor_events", T.LongType(), True),
            T.StructField("matched_ts", T.LongType(), True),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("ats", T.ArrayType(T.LongType()), True),
            T.StructField("cnt", T.ArrayType(T.LongType()), True),
        ]
    )

    def fn(key, pdfs, state):
        rows = []
        for pdf in pdfs:
            for t, ty in zip(pdf[ts_col], pdf[type_col]):
                if t is not None and not pd.isna(t):
                    rows.append((int(t), ty))
        rows.sort(key=lambda r: r[0])
        if state.exists:
            pend = list(zip(state.get[0], state.get[1]))
        else:
            pend = []
        out = []
        i = 0
        while i < len(rows):
            j = i
            T_ = rows[i][0]
            has_b = has_c = False
            n_a = 0
            while j < len(rows) and rows[j][0] == T_:
                ty = rows[j][1]
                if ty == then:
                    has_b = True
                if not_between is not None and ty == not_between:
                    has_c = True
                if ty == first:
                    n_a += 1
                j += 1
            i = j
            if within_ms is not None:
                pend = [p for p in pend if p[0] + within_ms >= T_]
            if has_b:
                for ta, na in pend:
                    out.append(
                        {**dict(zip(keys, key)), "anchor_ts": ta,
                         "n_anchor_events": na, "matched_ts": T_}
                    )
                pend = []
            if has_c:
                pend = [p for p in pend if p[0] >= T_]
            if n_a > 0:
                pend.append((T_, n_a))
        state.update(([p[0] for p in pend], [p[1] for p in pend]))
        yield pd.DataFrame(out, columns=[f.name for f in out_schema.fields])

    return df.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def burst_flags_stream(
    df: DataFrame,
    interval_ms: int,
    *,
    hi: int,
    lo: int,
    keys: Sequence[str] = ("event_type",),
    ts_col: str = TS_COL,
) -> DataFrame:
    """Streaming twin of ``ops.timeseries.burst_flags``: live hysteresis
    burst state per key, with the open bar's count and the
    (in_burst, burst counter) machine carried in the state store.

    A bar EMITS when the key's next bar opens (the only moment its
    count is final — the batch op's event-bar grain has no empty bars,
    so closure is exactly "a later event arrived"); the stream's last
    open bar per key never closes and is NOT emitted, so aggregated
    emissions equal the batch op's rows MINUS each key's final bar —
    the streaming_resample append-emission contract. Chronological
    arrival across micro-batches required, as with every stateful twin
    here; within a batch rows are sorted.

    Emits (keys…, bar_start, n_events, in_burst, entered, burst_id).
    State is 4 longs per key.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    if not (0 <= int(lo) < int(hi)):
        raise ValueError(f"need 0 <= lo < hi: lo={lo}, hi={hi}")
    ms = int(interval_ms)
    keys = list(keys)
    key_fields = [
        T.StructField(kk, df.schema[kk].dataType, True) for kk in keys
    ]
    out_schema = T.StructType(
        key_fields
        + [
            T.StructField("bar_start", T.LongType(), True),
            T.StructField("n_events", T.LongType(), True),
            T.StructField("in_burst", T.LongType(), True),
            T.StructField("entered", T.LongType(), True),
            T.StructField("burst_id", T.LongType(), True),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("bar", T.LongType(), True),
            T.StructField("cnt", T.LongType(), True),
            T.StructField("inb", T.LongType(), True),
            T.StructField("bursts", T.LongType(), True),
        ]
    )

    def fn(key, pdfs, state):
        ts = []
        for pdf in pdfs:
            ts.extend(
                int(t) for t in pdf[ts_col] if t is not None and not pd.isna(t)
            )
        ts.sort()
        if state.exists:
            bar, cnt, inb, bursts = state.get
        else:
            bar = None
        out = []
        for t in ts:
            b = t // ms
            if bar is None:
                bar, cnt, inb, bursts = b, 1, 0, 0
            elif b == bar:
                cnt += 1
            else:
                dec = 1 if cnt >= hi else (0 if cnt <= lo else None)
                new_inb = inb if dec is None else dec
                entered = 1 if (new_inb == 1 and inb == 0) else 0
                bursts += entered
                out.append(
                    {**dict(zip(keys, key)), "bar_start": bar * ms,
                     "n_events": cnt, "in_burst": new_inb,
                     "entered": entered,
                     "burst_id": bursts if new_inb == 1 else None}
                )
                inb = new_inb
                bar, cnt = b, 1
        if bar is not None:
            state.update((bar, cnt, inb, bursts))
        yield pd.DataFrame(out, columns=[f.name for f in out_schema.fields])

    return df.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


#: End-of-stream flush sentinel (shared across the stateful twins that
#: hold open state at stream end — ``sessionize_stream``,
#: ``peak_concurrency_stream``, ``window_funnel_stream``): when a twin
#: is built with ``flush_on_close=True``, an event whose ``ts_col`` is
#: at/above this value (reaching a key's state group — so per key for
#: the keyed twins, one row per shard for the sharded counter) is
#: consumed as a FINALIZE signal, never as data: the group emits all
#: pending state (open sessions / unfinalized days / in-window anchors)
#: and clears it, making end-to-end batch parity achievable. Feed the
#: sentinel as the stream's last file, e.g.
#: ``df.select(*keys).distinct().withColumn(ts, F.lit(FLUSH_SENTINEL_TS))``
#: written after the data files.
FLUSH_SENTINEL_TS = 1 << 62


def close_stream(
    df: DataFrame,
    keys: Sequence[str] = (),
    ts_col: str = TS_COL,
    path: Optional[str] = None,
    fmt: str = "parquet",
) -> DataFrame:
    """Build (and optionally write) the finalize-sentinel relation for a
    ``flush_on_close`` stateful twin — ONE :data:`FLUSH_SENTINEL_TS` row
    per distinct ``keys`` combination of ``df``, schema-aligned to ``df``
    so the written file can be fed verbatim as the stream's last input.

    This closes the flush-ergonomics trap (VERDICT r11 #3): the sentinel
    contract is per STATE GROUP, so for the keyed twins
    (``sessionize_stream`` / ``window_funnel_stream`` keyed by user, or
    ``peak_concurrency_stream`` with ``shard_keys``) a single hand-rolled
    sentinel row flushes exactly one key and silently strands every
    other key's open state. Pass the same ``keys`` the twin groups by
    (``()`` for the default single-group peak counter → one global row)
    and every group receives its finalize signal.

    Column contract: ``keys`` columns carry the distinct key values,
    ``ts_col`` carries the sentinel, every OTHER column is NULL of its
    input type — sentinel rows are consumed as signals, never as data
    (the twins drop them before sessionization/chaining). ``ts_col``
    must be an 8-byte integer column: the sentinel value (2⁶²) does not
    fit anything smaller, and the twins' event time is epoch-ms long.

    Writer glue: with ``path`` given, the relation is APPENDED there in
    ``fmt`` — stage the stream's data files first, then
    ``close_stream(ev, keys, path=staging_dir)``, then start the
    availableNow read. The file source orders files by modification
    time, so after the append every just-written sentinel file's mtime
    is explicitly bumped past the newest staged data file (ADVICE r12:
    coarse-granularity mtime ties, or a source split across
    micro-batches via ``maxFilesPerTrigger``/``maxBytesPerTrigger``,
    could otherwise deliver the sentinel BEFORE later data files — the
    flush would clear state and strand everything built afterwards).
    The bump is best-effort on local filesystems (the only kind this
    sandbox runs); on object stores order the upload yourself.

    ORDERING-PROOF BARRIER (VERDICT r13 #4): delivery order is only a
    heuristic, so each sentinel also EMBEDS its group's close barrier —
    the key's max event time in ``df`` — as ``FLUSH_SENTINEL_TS + T``
    (``T`` clamped at 0; epoch-ms fits with 2⁶¹ to spare). A
    ``flush_on_close`` twin that receives the sentinel does NOT flush
    until the group's own event-time high mark reaches ``T``: a
    sentinel delivered BEFORE late-staged data files (the
    ``maxFilesPerTrigger`` split) simply parks the barrier in state and
    the flush fires in the batch where the last data row lands. The
    guarantee is exact when data files are staged in nondecreasing
    event-time order (this function's staging pattern); files delivered
    out of event-time order can raise the high mark past ``T`` before
    mid-range rows arrive, so order the data staging yourself. A
    hand-rolled plain ``FLUSH_SENTINEL_TS`` row carries ``T = 0`` and
    keeps the legacy flush-immediately behavior, as does an all-negative
    event-time stream (the clamp; barrier deferral needs the canonical
    non-negative epoch-ms regime). The sentinel write is coalesced to
    ONE file so a group's barrier cannot itself split across
    micro-batches. Returns the sentinel relation either way.
    """
    keys = list(keys)
    names = [f.name for f in df.schema.fields]
    for k in keys:
        if k not in names:
            raise ValueError(f"key column {k!r} not in input: {names}")
    if ts_col not in names:
        raise ValueError(f"ts column {ts_col!r} not in input: {names}")
    if ts_col in keys:
        raise ValueError(f"ts column {ts_col!r} cannot also be a key")
    ts_type = df.schema[ts_col].dataType
    if not isinstance(ts_type, T.LongType):
        raise ValueError(
            f"{ts_col!r} must be LongType (epoch-ms) to hold the "
            f"FLUSH_SENTINEL_TS value; got {ts_type.simpleString()}"
        )
    # per-group close barrier: the key's max event time (pre-existing
    # sentinel rows excluded; all-null/negative → 0 = flush immediately)
    data = df.filter(
        F.col(ts_col).isNull() | (F.col(ts_col) < F.lit(FLUSH_SENTINEL_TS))
    )
    bar = F.greatest(
        F.coalesce(F.max(ts_col), F.lit(0).cast("long")),
        F.lit(0).cast("long"),
    ).alias("__bar")
    base = (
        data.groupBy(*keys).agg(bar) if keys else data.agg(bar)
    )
    cols = []
    for f in df.schema.fields:
        if f.name == ts_col:
            cols.append(
                (F.lit(FLUSH_SENTINEL_TS) + F.col("__bar"))
                .cast(f.dataType).alias(f.name)
            )
        elif f.name in keys:
            cols.append(F.col(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    rel = base.select(*cols)
    if path is not None:
        before = _local_files(path)
        # ONE file: a group's barrier must not split across micro-batches
        rel.coalesce(1).write.mode("append").format(fmt).save(path)
        _bump_past_siblings(path, before)
    return rel


def _local_files(path: str) -> Optional[set]:
    """Recursive file set of a LOCAL directory (``file:`` URIs
    normalized); ``None`` when the path isn't a local filesystem dir —
    callers then skip the mtime bump (best-effort contract)."""
    import os

    p = path[len("file:"):] if path.startswith("file:") else path
    if "://" in p:
        return None
    if not os.path.isdir(p):
        return set()  # fresh dir: the append creates it; bump still runs
    out = set()
    for root, _dirs, files in os.walk(p):
        for f in files:
            out.add(os.path.join(root, f))
    return out


def _bump_past_siblings(path: str, before: Optional[set]) -> None:
    """Set every file created since ``before`` to mtime =
    max(older files' mtime, now) + 2s, so Spark's file stream source
    (which orders by modification time) always delivers the sentinel
    files AFTER every staged data file, even when the staging writes
    landed within the filesystem's mtime granularity."""
    import os
    import time

    if before is None:
        return
    after = _local_files(path)
    if not after:
        return
    new = after - before
    if not new:
        return
    old_mt = [os.path.getmtime(f) for f in (after & before)]
    target = max(old_mt + [time.time()]) + 2.0
    for f in new:
        try:
            os.utime(f, (target, target))
        except OSError:  # pragma: no cover - racing cleanup
            pass


def _typed_state_key(u):
    """Type-tagged state-key encoding for per-user streaming state:
    ``json.dumps`` distinguishes int ``1`` / str ``'1'`` / float ``1.0``
    (distinct user ids whose ``str()`` forms collide must not merge into
    one session chain). numpy scalars unwrap via ``.item()``; anything
    JSON can't encode falls back to a tagged ``repr``."""
    import json

    v = u.item() if hasattr(u, "item") else u
    try:
        return json.dumps(v)
    except TypeError:
        return "r:" + repr(v)


#: Schema version of the JSON state blobs held by the stateful twins
#: (``peak_concurrency_stream`` / ``session_spans_stream``). Bump on ANY
#: change to the blob's keys or value layout: the version is written
#: into every blob and checked on read, so a checkpoint written by an
#: older layout fails fast with :class:`StaleCheckpointError` instead of
#: a KeyError/IndexError deep inside the merge loop. (The tuple-schema
#: states — sessionize/funnel/resample — are already guarded by Spark's
#: own state-store schema check; only the opaque string blobs need
#: application-level versioning.)
_STATE_BLOB_VERSION = 2


class StaleCheckpointError(RuntimeError):
    """A streaming checkpoint holds state written by an incompatible
    (older/newer) blob layout. State-blob layouts are NOT migrated:
    restart the query from a FRESH checkpoint directory and replay the
    source (the twins are deterministic over a replayed feed)."""


def _dump_state_blob(st: dict, version: int = _STATE_BLOB_VERSION) -> str:
    import json

    return json.dumps({"v": version, **st})


def _load_state_blob(
    js: str, op: str, version: int = _STATE_BLOB_VERSION
) -> dict:
    import json

    try:
        st = json.loads(js)
    except ValueError as e:  # pragma: no cover - corrupt store
        raise StaleCheckpointError(
            f"{op}: undecodable state blob in checkpoint: {e}"
        ) from e
    v = st.pop("v", None) if isinstance(st, dict) else None
    if v != version:
        raise StaleCheckpointError(
            f"{op}: stale checkpoint — state blob version {v!r} != "
            f"current {version}. State layouts are not migrated: "
            "restart from a fresh checkpointLocation and replay the "
            "source."
        )
    return st


def peak_concurrency_stream(
    df: DataFrame,
    gap_ms: int = 1_800_000,
    *,
    shard_keys: Sequence[str] = (),
    user_col: str = "user_id",
    ts_col: str = TS_COL,
    late_ms: int = 0,
    flush_on_close: bool = False,
    _state_version: Optional[int] = None,
) -> DataFrame:
    """Streaming twin of the batch ``peak_concurrency_daily`` sweep-line
    (contract/behavior.py): live per-day session counts and PEAK
    simultaneous sessions — the capacity-planning number — via ONE
    watermarked ``applyInPandasWithState`` counter on the
    session-boundary grain.

    Semantics (exactly the batch query's): events sessionize per user on
    a ``gap_ms`` inactivity gap; a session belongs to its START day and
    contributes +1 at its start and −1 at end+1 to that day's sweep;
    the day's peak is the max of the running sum over (t, delta)-ordered
    boundaries, −1 before +1 on ties.

    Emission contract (append, ONE row per day): a day finalizes — and
    emits (day, n_sessions, peak_concurrent) — once the event-time
    high-water mark ``wm = max(ts seen) − late_ms`` proves it can no
    longer change: ``wm`` is past the day's midnight (no new session can
    start in it) AND every session anchored to it has been gap-closed
    (``session_end + gap_ms < wm``). Trailing days at the head of the
    stream never finalize — the streaming-twin caveat shared with
    ``sessionize_stream``'s open sessions — unless the caller finalizes
    with ``flush_on_close=True`` and one :data:`FLUSH_SENTINEL_TS` row
    per shard as the stream's last input: every open session gap-closes
    and every pending day emits, so total emissions equal the batch
    ``ops.behavior.peak_concurrency``. Events older than the
    watermark at batch START (the prior batch's high mark − ``late_ms``)
    are DROPPED before sessionization — true watermark drop semantics,
    so a late event can never re-create (and double-emit) an
    already-finalized day; feed micro-batches in event-time order, as
    with ``anomaly_stream``. With the default ``late_ms=0`` that drop
    catches ANY event that arrives out of order ACROSS micro-batches
    (benign reordering included) — each batch logs its drop count at
    WARNING (executor log), and a feed with known reordering should set
    ``late_ms`` to its disorder horizon so in-horizon stragglers
    survive.

    State-format note: round 17 switched user state keys to a typed
    JSON encoding (int ``1`` vs str ``'1'`` no longer merge). A
    checkpoint written by an earlier build carries ``str()``-keyed open
    sessions that can no longer match their users — restart such a job
    from a FRESH checkpoint (replay the day), not the old one.

    Scale: state per shard is O(open sessions + boundary pairs of
    not-yet-final days) — the session-boundary grain, bounded by the
    gap/lateness horizon, NEVER the event count. With the default
    ``shard_keys=()`` the counter is ONE state group (a global
    concurrency number is inherently a single total order — the batch
    twin's per-day sweep is equally serial per day); shard by
    tenant/region via ``shard_keys`` for a distributed family of exact
    per-shard peaks. State rides the checkpoint (JSON-encoded — survives
    restarts; pinned by the restart pytest). Blobs carry
    :data:`_STATE_BLOB_VERSION`; a checkpoint written under a different
    layout fails fast with :class:`StaleCheckpointError` (restart from a
    fresh checkpointLocation). ``_state_version`` overrides the tag —
    a test/ops knob, not API.
    """
    ver = _STATE_BLOB_VERSION if _state_version is None else int(_state_version)
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    if gap_ms <= 0:
        raise ValueError(f"gap_ms must be positive: {gap_ms}")
    if late_ms < 0:
        raise ValueError(f"late_ms must be >= 0: {late_ms}")
    shard_keys = list(shard_keys)
    day_ms = 86_400_000
    src = df
    if not shard_keys:
        src = df.withColumn("__shard", F.lit(0))
        group_cols = ["__shard"]
        key_fields: list = []
    else:
        group_cols = shard_keys
        key_fields = [
            T.StructField(k, df.schema[k].dataType, True) for k in shard_keys
        ]
    out_schema = T.StructType(
        key_fields
        + [
            T.StructField("day", T.LongType(), True),
            T.StructField("n_sessions", T.LongType(), True),
            T.StructField("peak_concurrent", T.LongType(), True),
        ]
    )
    state_schema = T.StructType([T.StructField("js", T.StringType(), True)])
    out_cols = [f.name for f in out_schema.fields]
    emit_keys = shard_keys  # [] → no key columns in the output rows

    def fn(key, pdfs, state):
        import numpy as np

        if state.exists and state.get[0]:
            st = _load_state_blob(state.get[0], "peak_concurrency_stream", ver)
        else:
            st = {"open": {}, "days": {}, "max": None}
        open_s = {k: v for k, v in st["open"].items()}   # _ukey(user) → [s, e, day]
        days = {int(k): v for k, v in st["days"].items()}  # day → [n, [[t, d], …]]
        # earlier PENDING sessions per user (ADVICE r13 #1): sorted by
        # start, mutually gap-separated, all strictly before the user's
        # carried session. Kept in state until end + gap_ms < watermark
        # so a chaining straggler in a later micro-batch can still merge
        # — the eager close previously split one batch-semantics session
        # in two. Additive blob key: version-2 blobs without it load as
        # "no pending stragglers".
        strag = {
            k: [list(x) for x in v] for k, v in st.get("strag", {}).items()
        }
        close_at = st.get("close_at")  # pending close barrier (r13 #4)
        mx = st["max"]

        def strag_add(uk, sess):
            lst = strag.setdefault(uk, [])
            lst.append(sess)
            lst.sort(key=lambda x: x[0])
            merged = []
            for x in lst:
                if merged and x[0] - merged[-1][1] <= gap_ms:
                    merged[-1][1] = max(merged[-1][1], x[1])
                else:
                    merged.append(x)
            strag[uk] = merged
        # Watermark at batch start: rows at/below it are dropped BEFORE
        # sessionization (a late event anchored to an already-emitted day
        # would otherwise recreate the day in state and double-emit it).
        wm_in = None if mx is None else mx - late_ms

        def close(sess):
            s, e, d = sess
            rec = days.setdefault(d, [0, []])
            rec[0] += 1
            rec[1].append([s, 1])
            rec[1].append([e + 1, -1])

        # Vectorized in-batch sessionization (numpy, not a per-event
        # Python loop — 164.8 s → seconds for a 10M-event batch,
        # SCALE.md r16): maximal gap-sessions per user computed over the
        # (user, ts)-sorted batch, then a per-SESSION walk merges them
        # with the carried open session. Exactly the per-event loop:
        # within an in-batch session consecutive gaps are ≤ gap_ms, so
        # no carried end can introduce a break there; breaks are only
        # possible at in-batch session boundaries, and the walk
        # re-evaluates each against the running (possibly larger)
        # carried end — so stale-state bridging merges identically.
        parts = [pdf[[user_col, ts_col]] for pdf in pdfs]
        parts = [p for p in parts if len(p)]
        b = pd.concat(parts, ignore_index=True) if parts else None
        if b is not None and flush_on_close:
            m = b[ts_col].notna() & (b[ts_col] >= FLUSH_SENTINEL_TS)
            if m.any():
                bar = int(b.loc[m, ts_col].max()) - FLUSH_SENTINEL_TS
                close_at = bar if close_at is None else max(close_at, bar)
                b = b[~m]
        if b is not None:
            b = b.dropna()
        if b is not None and wm_in is not None:
            n_pre = len(b)
            b = b[b[ts_col] >= wm_in]  # watermark drop (see docstring)
            n_drop = n_pre - len(b)
            if n_drop:
                # Surface the drop (ADVICE r11): with the default
                # late_ms=0 ANY cross-micro-batch out-of-order event
                # lands here and n_sessions can undercount — make that
                # observable in the executor log instead of silent.
                import logging

                logging.getLogger(__name__).warning(
                    "peak_concurrency_stream: dropped %d event(s) below "
                    "the batch-start watermark %d (late_ms=%d) — raise "
                    "late_ms if the feed reorders across micro-batches",
                    n_drop, wm_in, late_ms,
                )
        if b is not None and len(b):
            u_arr = b[user_col].to_numpy()
            t_arr = b[ts_col].to_numpy(dtype="int64")
            order = np.lexsort((t_arr, u_arr))
            u_arr, t_arr = u_arr[order], t_arr[order]
            brk = np.ones(len(t_arr), dtype=bool)
            if len(t_arr) > 1:
                brk[1:] = (u_arr[1:] != u_arr[:-1]) | (
                    t_arr[1:] - t_arr[:-1] > gap_ms
                )
            starts = np.flatnonzero(brk)
            ends = np.append(starts[1:] - 1, len(t_arr) - 1)
            mx_batch = int(t_arr.max())
            mx = mx_batch if mx is None else max(mx, mx_batch)
            prev_uk = None
            cur = None
            for s_i, e_i in zip(starts, ends):
                uk = _typed_state_key(u_arr[s_i])
                s, e = int(t_arr[s_i]), int(t_arr[e_i])
                if uk != prev_uk:
                    if prev_uk is not None:
                        open_s[prev_uk] = cur
                    cur = open_s.get(uk)
                    prev_uk = uk
                if cur is None:
                    cur = [s, e, s // day_ms]
                elif s - cur[1] > gap_ms:
                    # the carried session LOOKS complete, but its
                    # end + gap_ms may still be at/above the watermark —
                    # park it as pending so a chaining straggler in a
                    # later micro-batch can still merge (ADVICE r13);
                    # the watermark close below emits it once eligible
                    strag_add(uk, cur)
                    cur = [s, e, s // day_ms]
                elif cur[0] - e > gap_ms:
                    # In-horizon straggler group STRICTLY before the
                    # carried session with a real gap on both sides: an
                    # earlier session of its own — pending, not
                    # eager-closed (same watermark eligibility as any
                    # close); the carried session is untouched. Only
                    # reachable when late_ms admits events below the
                    # stored session start.
                    strag_add(uk, [s, e, s // day_ms])
                else:
                    # Chains with the carried session — overlap, or
                    # within gap_ms on either side. A group below the
                    # stored start extends the start DOWNWARD and
                    # re-anchors the day (ADVICE r12: previously the
                    # later start/day was kept, mis-attributing the
                    # span exactly in the reordering regime late_ms is
                    # documented to support). Cannot resurrect an
                    # emitted day: emission requires the whole day
                    # below the watermark, and stragglers at/above the
                    # watermark are the only ones admitted.
                    if s < cur[0]:
                        cur[0] = s
                        cur[2] = s // day_ms
                    cur[1] = max(cur[1], e)
            if prev_uk is not None:
                open_s[prev_uk] = cur

        # a downward-extended carried session may now chain with its
        # user's pending tail(s) — absorb them (batch semantics: one
        # session); pending lists stay strictly below the carried start
        for uk in list(strag):
            cur = open_s.get(uk)
            lst = strag[uk]
            if cur is not None:
                while lst and cur[0] - lst[-1][1] <= gap_ms:
                    tail = lst.pop()
                    if tail[0] < cur[0]:
                        cur[0], cur[2] = tail[0], tail[2]
                    cur[1] = max(cur[1], tail[1])
            if not lst:
                del strag[uk]

        out = []
        if mx is not None:
            wm = mx - late_ms
            # gap-close sessions no future event can extend — pending
            # stragglers under the SAME eligibility gate as open ones
            for uk in list(strag):
                keep = []
                for sess in strag[uk]:
                    if sess[1] + gap_ms < wm:
                        close(sess)
                    else:
                        keep.append(sess)
                if keep:
                    strag[uk] = keep
                else:
                    del strag[uk]
            for uk in [k for k, v in open_s.items() if v[1] + gap_ms < wm]:
                close(open_s.pop(uk))
            anchored = {v[2] for v in open_s.values()} | {
                x[2] for lst in strag.values() for x in lst
            }
            for d in sorted(days):
                if (d + 1) * day_ms <= wm and d not in anchored:
                    n, bounds = days.pop(d)
                    bounds.sort()  # (t asc, delta asc) → −1 before +1 on ties
                    cur = peak = 0
                    for _, delta in bounds:
                        cur += delta
                        peak = max(peak, cur)
                    out.append(
                        {**dict(zip(emit_keys, key)), "day": d,
                         "n_sessions": n, "peak_concurrent": peak}
                    )
        if close_at is not None and (
            close_at <= 0 or (mx is not None and mx >= close_at)
        ):
            # FINALIZE (close barrier reached — r13 #4: a sentinel that
            # outran late-staged data parks `close_at` and lands here in
            # the batch carrying the last data row): gap-close every
            # pending and open session, emit every pending day, clear
            # state — batch parity.
            for uk in list(strag):
                for sess in strag.pop(uk):
                    close(sess)
            for uk in list(open_s):
                close(open_s.pop(uk))
            for d in sorted(days):
                n, bounds = days.pop(d)
                bounds.sort()
                cur = peak = 0
                for _, delta in bounds:
                    cur += delta
                    peak = max(peak, cur)
                out.append(
                    {**dict(zip(emit_keys, key)), "day": d,
                     "n_sessions": n, "peak_concurrent": peak}
                )
            close_at = None
        state.update((_dump_state_blob(
            {"open": open_s, "days": {str(k): v for k, v in days.items()},
             "max": mx, "strag": strag, "close_at": close_at},
            ver,
        ),))
        yield pd.DataFrame(out, columns=out_cols)

    return src.groupBy(*group_cols).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def session_spans_stream(
    df: DataFrame,
    gap_ms: int = 1_800_000,
    *,
    n_shards: int = 32,
    user_col: str = "user_id",
    ts_col: str = TS_COL,
    late_ms: int = 0,
    flush_on_close: bool = False,
    day_ms: int = 86_400_000,
    _state_version: Optional[int] = None,
) -> DataFrame:
    """Stage 1 of the DISTRIBUTED streaming peak-concurrency sweep
    (VERDICT r11 #2): hash-sharded stateful sessionization that emits
    one append row per GAP-CLOSED session — ``(day, session_start,
    session_end)``, day = the start's floor day — leaving the sweep
    itself to :func:`ops.behavior.sweep_spans` over the emitted span
    relation (a plain distributed batch job in the sink / downstream).

    Why this decomposition: ``peak_concurrency_stream``'s default is ONE
    state group because a global concurrency number needs a total order
    over boundaries — 116.8 s for a pathological 10M-event batch
    (SCALE.md r16). But only the SWEEP needs the total order, and the
    batch twin proved it distributes exactly on the time axis
    (segment-max over ``bucket_ms`` buckets). Sessionization, the
    actually stateful part, is per-user — so state groups here are
    ``pmod(xxhash64(user), n_shards)`` user shards (every user's events
    reach exactly one shard; shard count bounds per-task state, not
    correctness), each carrying only its users' OPEN sessions (no day
    buffering at all — strictly less state than the one-group twin).
    The sweep then runs over the emitted spans with full parallelism.

    Emission contract (append): a session emits once it gap-closes
    against the SHARD's event-time high mark ``wm = max(ts seen) −
    late_ms`` (``session_end + gap_ms < wm``) — final, since any later
    event that could extend it is above the mark by definition. Open
    sessions at stream end hold until ``flush_on_close=True`` plus one
    :data:`FLUSH_SENTINEL_TS` row PER USER (``close_stream(ev,
    [user_col], path=...)`` — per-user sentinels route to every
    populated shard by the same hash) finalizes them; flushed output
    equals the batch sessionizer exactly, so
    ``sweep_spans(collected_spans)`` equals the batch
    ``peak_concurrency``. Events below the batch-start watermark are
    dropped and counted at WARNING, as in ``peak_concurrency_stream``.

    Scale: state per shard is O(open sessions of its users); emission
    work is one row per closed session, spread over ``n_shards`` tasks —
    the 10M-session single-group walk becomes ~10M/n_shards per task.
    Size ``n_shards`` to the cluster's cores, not the user count.
    State blobs are version-tagged like ``peak_concurrency_stream``'s
    (:class:`StaleCheckpointError` on mismatch).
    """
    ver = _STATE_BLOB_VERSION if _state_version is None else int(_state_version)
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    if gap_ms <= 0:
        raise ValueError(f"gap_ms must be positive: {gap_ms}")
    if late_ms < 0:
        raise ValueError(f"late_ms must be >= 0: {late_ms}")
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1: {n_shards}")
    src = df.withColumn(
        "__shard", F.pmod(F.xxhash64(F.col(user_col)), F.lit(n_shards))
    )
    out_schema = T.StructType(
        [
            T.StructField("day", T.LongType(), True),
            T.StructField("session_start", T.LongType(), True),
            T.StructField("session_end", T.LongType(), True),
        ]
    )
    state_schema = T.StructType([T.StructField("js", T.StringType(), True)])
    out_cols = [f.name for f in out_schema.fields]

    def fn(key, pdfs, state):
        import numpy as np

        if state.exists and state.get[0]:
            st = _load_state_blob(state.get[0], "session_spans_stream", ver)
        else:
            st = {"open": {}, "max": None}
        open_s = {k: v for k, v in st["open"].items()}  # _ukey(user) → [s, e]
        # pending earlier sessions per user + pending close barrier —
        # same contract as peak_concurrency_stream (ADVICE r13 #1,
        # VERDICT r13 #4); additive version-2 blob keys
        strag = {
            k: [list(x) for x in v] for k, v in st.get("strag", {}).items()
        }
        close_at = st.get("close_at")
        mx = st["max"]
        wm_in = None if mx is None else mx - late_ms

        def strag_add(uk, sess):
            lst = strag.setdefault(uk, [])
            lst.append(sess)
            lst.sort(key=lambda x: x[0])
            merged = []
            for x in lst:
                if merged and x[0] - merged[-1][1] <= gap_ms:
                    merged[-1][1] = max(merged[-1][1], x[1])
                else:
                    merged.append(x)
            strag[uk] = merged

        parts = [pdf[[user_col, ts_col]] for pdf in pdfs]
        parts = [p for p in parts if len(p)]
        b = pd.concat(parts, ignore_index=True) if parts else None
        if b is not None and flush_on_close:
            m = b[ts_col].notna() & (b[ts_col] >= FLUSH_SENTINEL_TS)
            if m.any():
                bar = int(b.loc[m, ts_col].max()) - FLUSH_SENTINEL_TS
                close_at = bar if close_at is None else max(close_at, bar)
                b = b[~m]
        if b is not None:
            b = b.dropna()
        if b is not None and wm_in is not None:
            n_pre = len(b)
            b = b[b[ts_col] >= wm_in]
            n_drop = n_pre - len(b)
            if n_drop:
                import logging

                logging.getLogger(__name__).warning(
                    "session_spans_stream: dropped %d event(s) below the "
                    "batch-start watermark %d (late_ms=%d)",
                    n_drop, wm_in, late_ms,
                )
        # vectorized in-batch sessionization — the peak_concurrency_
        # stream numpy scheme verbatim, minus the day bookkeeping
        if b is not None and len(b):
            u_arr = b[user_col].to_numpy()
            t_arr = b[ts_col].to_numpy(dtype="int64")
            order = np.lexsort((t_arr, u_arr))
            u_arr, t_arr = u_arr[order], t_arr[order]
            brk = np.ones(len(t_arr), dtype=bool)
            if len(t_arr) > 1:
                brk[1:] = (u_arr[1:] != u_arr[:-1]) | (
                    t_arr[1:] - t_arr[:-1] > gap_ms
                )
            starts = np.flatnonzero(brk)
            ends = np.append(starts[1:] - 1, len(t_arr) - 1)
            mx_batch = int(t_arr.max())
            mx = mx_batch if mx is None else max(mx, mx_batch)
            prev_uk = None
            cur = None
            for s_i, e_i in zip(starts, ends):
                uk = _typed_state_key(u_arr[s_i])
                s, e = int(t_arr[s_i]), int(t_arr[e_i])
                if uk != prev_uk:
                    if prev_uk is not None:
                        open_s[prev_uk] = cur
                    cur = open_s.get(uk)
                    prev_uk = uk
                if cur is None:
                    cur = [s, e]
                elif s - cur[1] > gap_ms:
                    # looks complete, but may still be extendable by a
                    # later-batch straggler — park as pending; the
                    # watermark close below emits it once
                    # end + gap_ms < wm (ADVICE r13)
                    strag_add(uk, cur)
                    cur = [s, e]
                elif cur[0] - e > gap_ms:
                    # Straggler group strictly before the carried
                    # session with a real gap: an earlier session of
                    # its own — pending, same watermark eligibility;
                    # carried session untouched (mirrors
                    # peak_concurrency_stream).
                    strag_add(uk, [s, e])
                else:
                    # Chains with the carried session: a group below
                    # the stored start extends the start downward so
                    # the emitted span/day reflect the true first event
                    # (previously the later start was kept).
                    if s < cur[0]:
                        cur[0] = s
                    cur[1] = max(cur[1], e)
            if prev_uk is not None:
                open_s[prev_uk] = cur

        # absorb pending tails that a downward-extended carried session
        # now chains with (one batch-semantics session, not two)
        for uk in list(strag):
            cur = open_s.get(uk)
            lst = strag[uk]
            if cur is not None:
                while lst and cur[0] - lst[-1][1] <= gap_ms:
                    tail = lst.pop()
                    if tail[0] < cur[0]:
                        cur[0] = tail[0]
                    cur[1] = max(cur[1], tail[1])
            if not lst:
                del strag[uk]

        out = []
        if mx is not None:
            wm = mx - late_ms
            for uk in list(strag):
                keep = []
                for s, e in strag[uk]:
                    if e + gap_ms < wm:
                        out.append(
                            {"day": s // day_ms, "session_start": s,
                             "session_end": e}
                        )
                    else:
                        keep.append([s, e])
                if keep:
                    strag[uk] = keep
                else:
                    del strag[uk]
            for uk in [k for k, v in open_s.items() if v[1] + gap_ms < wm]:
                s, e = open_s.pop(uk)
                out.append(
                    {"day": s // day_ms, "session_start": s, "session_end": e}
                )
        if close_at is not None and (
            close_at <= 0 or (mx is not None and mx >= close_at)
        ):
            # close barrier reached (r13 #4) — final flush
            for uk in list(strag):
                for s, e in strag.pop(uk):
                    out.append(
                        {"day": s // day_ms, "session_start": s,
                         "session_end": e}
                    )
            for uk in list(open_s):
                s, e = open_s.pop(uk)
                out.append(
                    {"day": s // day_ms, "session_start": s, "session_end": e}
                )
            close_at = None
        state.update((_dump_state_blob(
            {"open": open_s, "max": mx, "strag": strag, "close_at": close_at},
            ver,
        ),))
        yield pd.DataFrame(out, columns=out_cols)

    return src.groupBy("__shard").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def window_funnel_stream(
    df: DataFrame,
    steps: Sequence[str],
    within_ms: int,
    *,
    keys: Sequence[str] = ("user_id",),
    ts_col: str = TS_COL,
    type_col: str = "event_type",
    flush_on_close: bool = False,
) -> DataFrame:
    """Streaming twin of ``ops.behavior.window_funnel_depth`` — live
    time-bounded ordered funnels via ``applyInPandasWithState``: the
    pending-anchor set (anchor ts, chain position ts, depth) rides the
    checkpointed state across micro-batches and restarts.

    Semantics (exactly the batch op's, per anchor): a funnel anchors at
    every DISTINCT step-0 instant; for a fixed anchor the greedy chain
    tᵢ = min ts of stepᵢ in (tᵢ₋₁, anchor + within] is exact; depth is
    the deepest step reached. Within one event-time instant a chain
    never advances twice (strictly-increasing ts), so processing order
    among same-instant events cannot change the result.

    Emission contract (append, one row per retired anchor —
    (keys…, anchor_ts, depth)): an anchor retires when its chain
    COMPLETES (depth = len(steps), emitted immediately) or when its
    window expires against the key's OWN event-time high mark
    (anchor + within < a later event's ts — no in-window event remains
    unseen on an in-order feed, the ``sequence_match_stream`` caveat).
    A retired anchor can never re-anchor: a per-key high-water mark of
    retired anchors rides the state, so a late or batch-straddling
    duplicate step-0 event at (or below) a retired instant is ignored —
    exactly one row per (keys…, anchor_ts), ever. The guard is a HIGH
    MARK, deliberately broader than duplicate suppression: a genuinely
    NEW step-0 instant arriving out of order across batches at/below the
    retired high mark is dropped too (under the documented in-order-feed
    contract such an anchor's window has already expired unseen — its
    chain could never be computed correctly anyway). State-format note:
    round 17 added this mark as a 4th state field — restarting from a
    pre-round-17 checkpoint raises on the missing field; use a FRESH
    checkpoint after upgrading. Trailing in-window
    anchors at stream end stay in state and never emit — unless the
    caller finalizes with ``flush_on_close=True`` and a
    :data:`FLUSH_SENTINEL_TS` row per key as the stream's last input:
    pending anchors then retire at their current depth (final on an
    in-order feed — no in-window event remains unseen) and state
    clears, so total emissions equal the batch per-anchor chain.
    Aggregating emissions per key (max depth, count per depth)
    reproduces the batch ``window_funnel`` report over retired anchors.

    Scale: state is O(anchors inside one window) per key; retirement
    advances with event time, so state never grows with history.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    if not steps:
        raise ValueError("steps must be non-empty")
    if within_ms <= 0:
        raise ValueError(f"within_ms must be positive: {within_ms}")
    steps = list(steps)
    k = len(steps)
    keys = list(keys)
    key_fields = [
        T.StructField(kk, df.schema[kk].dataType, True) for kk in keys
    ]
    out_schema = T.StructType(
        key_fields
        + [
            T.StructField("anchor_ts", T.LongType(), True),
            T.StructField("depth", T.LongType(), True),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("a", T.ArrayType(T.LongType()), True),
            T.StructField("ct", T.ArrayType(T.LongType()), True),
            T.StructField("d", T.ArrayType(T.LongType()), True),
            # high-water mark of retired anchors: a late or
            # batch-straddling duplicate step-0 event at an already
            # retired anchor instant must not re-anchor (one row per
            # anchor, ever — the emission contract).
            T.StructField("hw", T.LongType(), True),
            # event-time high mark + pending close barrier (VERDICT r13
            # #4): a close_stream sentinel parks its barrier in `cl` and
            # the flush fires once `hm` reaches it — ordering-proof
            # under maxFilesPerTrigger splits. Barrier-era layout;
            # restart pre-barrier checkpoints fresh.
            T.StructField("hm", T.LongType(), True),
            T.StructField("cl", T.LongType(), True),
        ]
    )
    out_cols = [f.name for f in out_schema.fields]

    def fn(key, pdfs, state):
        rows = []
        close_req = None
        for pdf in pdfs:
            for t, ty in zip(pdf[ts_col], pdf[type_col]):
                if t is not None and not pd.isna(t):
                    t = int(t)
                    if flush_on_close and t >= FLUSH_SENTINEL_TS:
                        bar = t - FLUSH_SENTINEL_TS
                        close_req = (
                            bar if close_req is None else max(close_req, bar)
                        )
                    else:
                        rows.append((t, ty))
        rows.sort(key=lambda r: r[0])
        if state.exists:
            pend = {
                a: [ct, d]
                for a, ct, d in zip(state.get[0], state.get[1], state.get[2])
            }
            hw = state.get[3]
            hm = state.get[4]
            cl = state.get[5]
        else:
            pend = {}
            hw = None
            hm = None
            cl = None
        if rows:
            hm = rows[-1][0] if hm is None else max(hm, rows[-1][0])
        if close_req is not None:
            cl = close_req if cl is None else max(cl, close_req)
        out = []

        def emit(a, depth):
            nonlocal hw
            hw = a if hw is None else max(hw, a)
            out.append(
                {**dict(zip(keys, key)), "anchor_ts": a, "depth": depth}
            )

        i = 0
        while i < len(rows):
            T_ = rows[i][0]
            types = set()
            n0 = False
            while i < len(rows) and rows[i][0] == T_:
                types.add(rows[i][1])
                i += 1
            n0 = steps[0] in types
            # retire expired anchors BEFORE advancing at this instant
            for a in [a for a in pend if a + within_ms < T_]:
                emit(a, pend.pop(a)[1])
            # advance: at most once per anchor per instant (strict chain)
            for a, st_ in list(pend.items()):
                ct, d = st_
                if d < k and steps[d] in types and T_ > ct and T_ <= a + within_ms:
                    if d + 1 == k:
                        emit(a, k)
                        del pend[a]
                    else:
                        pend[a] = [T_, d + 1]
            if n0 and T_ not in pend and (hw is None or T_ > hw):
                if k == 1:
                    emit(T_, 1)
                else:
                    pend[T_] = [T_, 1]
        if cl is not None and (cl <= 0 or (hm is not None and hm >= cl)):
            # FINALIZE (barrier reached): retire every pending anchor at
            # its current depth and clear state — batch parity. A
            # sentinel that outran late-staged data parks above and
            # lands here in the batch carrying the last data row.
            for a in sorted(pend):
                emit(a, pend[a][1])
            pend = {}
            cl = None
        state.update(
            (
                list(pend),
                [v[0] for v in pend.values()],
                [v[1] for v in pend.values()],
                hw,
                hm,
                cl,
            )
        )
        yield pd.DataFrame(out, columns=out_cols)

    return df.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
