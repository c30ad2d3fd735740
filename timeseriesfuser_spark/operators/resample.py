"""Interval resampling: last-observation-per-interval with gap fill.

Semantics (reference BatchEveryIntervalHandler.process/finalize,
/root/reference/timeseriesfuser/classes.py:589-637,666-688 — verified
against tests/integration/test_batchinterval_handler.py and
test_batchinterval_fill.py):

- grid points at ``offset + k*step`` (epoch ms); an event's *label* is the
  next grid point strictly after its timestamp — the last observation
  strictly before a boundary wins it, and an event exactly ON a boundary
  counts toward the next interval;
- every boundary from ``label(min_ts)`` to the end boundary is emitted;
  boundaries with no events are *blank*: all value columns null except
  ``ffill_keys``, which carry the previous event's value (even if that value
  was null — carry is per-event, not last-non-null);
- end boundary: with ``process_batch_end=True`` the final partial interval
  is ALWAYS flushed at ``label(max_ts)`` — including when the final event
  sits exactly on a boundary (its label is then boundary+step). The
  reference's finalize guard ``(next_batch_ts - current_ts) > 0``
  (classes.py:634) is tautological: ``process()`` always leaves
  ``next_batch_ts`` strictly greater than the last event's ts, so the
  reference emits unconditionally. With ``False`` the partial interval is
  dropped (output ends at the last boundary <= max_ts);
- day ('d') grids anchor at the FIRST EVENT's local midnight
  (classes.py:787-795 + _initialize_timing), not the epoch. For '1d' the
  two grids coincide (every midnight is a grid point), so the epoch
  fast path below applies; 'Nd' with N>1 and all tz grids route through
  the anchored-day path.

Physical plan (SURVEY.md §2.6 T3): partial-aggregated ``max_by`` per bucket
(map-side combine, one shuffle on (keys, bucket)), then the gap fill as an
expansion of that buckets relation: each non-empty interval emits its own
label and every blank label up to the next non-empty interval of its key,
taking the carry from its own last event. The next interval is a per-key
``lead`` window, or, ungrouped, the shared bucketed prefix scan over
in-plan equal-width buckets — no time spine, no join against one and no
forward-fill pass over it. Labels come from a two-level sequence/explode
(at most ``_SPINE_CHUNK`` labels per array); a single long gap is
generated by the task that holds its bucket row. No single-task stage
proportional to data size.
"""

from __future__ import annotations

from typing import Callable, List, Optional, Sequence

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from timeseriesfuser_spark.intervals import (
    boundary_label_col,
    floor_boundary_col,
    interval_to_ms,
)
from timeseriesfuser_spark.operators.fill import _bucketed_scan
from timeseriesfuser_spark.ops.util import track_persist
from timeseriesfuser_spark.sources.readers import SEQ_COL, SRC_ID_COL, TS_COL

_BUCKET = "__bucket"
_ROW = "__row"
_HI = "__hi"
_ANCHOR = "__day_anchor"
_SPINE_CHUNK = 8192  # boundaries per inner sequence array


def resample_last_interval(
    df: DataFrame,
    interval: str,
    *,
    ts_col: str = TS_COL,
    keys: Sequence[str] = (),
    value_cols: Optional[Sequence[str]] = None,
    ffill_keys: Sequence[str] = (),
    tiebreak_cols: Optional[Sequence[str]] = None,
    process_batch_end: bool = True,
    gap_fill: bool = True,
    offset_ms: int = 0,
    num_partitions: Optional[int] = None,
    tz: Optional[str] = None,
    cache: bool = True,
) -> DataFrame:
    """Resample to a fixed grid; output has ``ts_col`` = boundary label,
    ``keys``, and ``value_cols`` (last event per interval; blanks gap-filled
    per ``ffill_keys``).

    ``tz``: for day intervals only — boundaries are local midnights in that
    timezone, DST-correct (reference classes.py:787-795), instead of fixed
    24h UTC steps.

    ``cache``: the gap-fill path persists one relation, the per-interval
    buckets (MEMORY_AND_DISK), which stays registered for the session —
    the consumer runs after this function returns, so there is no
    unpersist point. Pass ``cache=False`` in long-lived sessions that call
    this in a loop: no cache entry is registered, at the cost of
    re-running the input aggregation for every read of the buckets — none
    extra when keyed, up to two (bounds and scan seeds) ungrouped.
    """
    iv = interval.strip()
    if tz is not None:
        if not iv.endswith("d"):
            raise ValueError("tz is only meaningful for day ('d') intervals")
        if offset_ms:
            raise ValueError("offset_ms is not supported on tz day grids")
    if iv.endswith("d") and offset_ms == 0 and (
        tz is not None or int(iv[:-1]) > 1
    ):
        # Day grids anchor at the first event's midnight (reference
        # classes.py:787-795). '1d' without tz is grid-identical to the
        # epoch-anchored fast path and stays below; 'Nd' (N>1) and tz
        # grids need the anchored path. An explicit offset_ms opts into
        # the epoch(+offset) grid instead.
        return _resample_day_tz(
            df, interval, tz or "UTC",
            ts_col=ts_col, keys=keys, value_cols=value_cols,
            ffill_keys=ffill_keys, tiebreak_cols=tiebreak_cols,
            process_batch_end=process_batch_end, gap_fill=gap_fill,
            cache=cache,
        )
    step = interval_to_ms(interval)
    keys = list(keys)
    if tiebreak_cols is None:
        tiebreak_cols = [c for c in (SRC_ID_COL, SEQ_COL) if c in df.columns]
    if value_cols is None:
        value_cols = [
            c
            for c in df.columns
            if c not in {ts_col, *keys, SRC_ID_COL, SEQ_COL}
        ]
    value_cols = list(value_cols)
    missing = [k for k in ffill_keys if k not in value_cols]
    if missing:
        raise ValueError(f"ffill_keys not in value columns: {missing}")

    ts = F.col(ts_col)
    bucketed = df.withColumn(_BUCKET, boundary_label_col(ts, step, offset_ms))

    # Last event per (keys, bucket): single max_by of the whole row struct so
    # all columns come from ONE row (ties broken by ts, then arrival order).
    # __hi (the bucket's max ts) rides along so the end boundary derives
    # from THIS aggregate — one scan of the input, not two.
    order_key = F.struct(ts, *[F.col(c) for c in tiebreak_cols])
    row_struct = F.struct(*[F.col(c) for c in value_cols])
    buckets = bucketed.groupBy(*keys, _BUCKET).agg(
        F.max_by(row_struct, order_key).alias(_ROW),
        F.max(ts).alias(_HI),
    )

    if not gap_fill:
        out_cols = [F.col(_BUCKET).alias(ts_col)] + [F.col(k) for k in keys]
        out_cols += [F.col(_ROW)[c].alias(c) for c in value_cols]
        return buckets.select(*out_cols)

    def end_boundary(mx: Column) -> Column:
        # label(mx) = floor(mx) + step in BOTH the on-boundary and
        # mid-interval cases: the final partial interval is always flushed
        # (reference finalize, classes.py:627-637 — see module docstring).
        floor_end = floor_boundary_col(mx, step, offset_ms)
        return floor_end + F.lit(step) if process_batch_end else floor_end

    return _expand_gaps(
        buckets, ts_col, keys, value_cols, ffill_keys, step, end_boundary,
        lambda label: label, num_partitions=num_partitions, cache=cache,
    )


def _expand_gaps(
    buckets: DataFrame,
    ts_col: str,
    keys: List[str],
    value_cols: Sequence[str],
    ffill_keys: Sequence[str],
    step: int,
    end_boundary: Callable[[Column], Column],
    label_ts: Callable[[Column], Column],
    num_partitions: Optional[int] = None,
    cache: bool = True,
) -> DataFrame:
    """Gap fill as an expansion of ``buckets`` (one row per non-empty
    (keys, interval): ``keys``, integral label ``__bucket``, last-event
    struct ``__row`` and ``__hi``). Each row emits its own label and every
    blank label up to the next non-empty bucket of its group, or up to the
    group's end boundary ``end_boundary(max(__hi))`` for the last one.
    Blanks carry only the ``ffill_keys`` of the row's event — even a null
    value is carried (the carry is per event, not last-non-null); every
    other value column is null. Rows past the end boundary (the dropped
    final partial interval under ``process_batch_end=False``) emit
    nothing. ``label_ts`` maps a label to the output ``ts_col``.

    The next bucket is ``lead`` over a per-group window (the end boundary
    comes from the same window with a whole-group frame); ungrouped, it is
    a strictly-before ``min`` scan in descending label order
    (:func:`_bucketed_scan`) with an equal-width in-plan bucket id over
    the broadcast 1-row ``[min label, end boundary]``: no construction
    job, and each scan bucket holds at most width/step rows whatever the
    data's skew. A gap is generated by the task that holds its bucket
    row, in chunks of ``_SPINE_CHUNK`` labels, so no per-row array grows
    with the gap's length."""
    # The buckets relation is the input aggregation: the ungrouped path
    # reads it three times (bounds, scan, scan seeds), the keyed path once.
    # LAZY persist, not localCheckpoint: on a dense grid this relation
    # approaches input size (30M rows / 1m grid -> 13M buckets) and
    # checkpoint blocks always hit disk-backed storage — measured 83 s vs
    # 22 s at 30M (the same corpus-sized-relation reversal as ops.text's
    # tfidf). Trade-off: one evictable MEMORY_AND_DISK cache entry per
    # invocation stays registered for the session (the consumer runs
    # after this function returns, so there is no unpersist point);
    # cache=False opts out for loop-calling sessions.
    if cache:
        buckets = track_persist(buckets.persist(StorageLevel.MEMORY_AND_DISK))
    bucket, nxt, bmax = F.col(_BUCKET), F.col("__next"), F.col("__bmax")
    if keys:
        w = Window.partitionBy(*keys).orderBy(_BUCKET)
        whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        rel = buckets.select(
            *keys, _BUCKET, _ROW,
            F.lead(_BUCKET).over(w).alias("__next"),
            end_boundary(F.max(_HI).over(whole)).alias("__bmax"),
        ).filter(bucket <= bmax)
    else:
        n = num_partitions or int(
            buckets.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
        b1 = F.broadcast(
            buckets.agg(
                F.min(_BUCKET).alias("__bmin"), end_boundary(F.max(_HI)).alias("__bmax")
            )
        )
        width = (
            f"greatest({step}L, ((__bmax - __bmin) div {n} div {step} + 1) * {step}L)"
        )
        rel = _bucketed_scan(
            buckets.crossJoin(b1).filter(bucket <= bmax).withColumn("__desc", -bucket),
            ["__desc"], [("__next", _BUCKET, "min")], inclusive=False,
            num_buckets=n, bucket_col=F.expr(f"(__bmax - `{_BUCKET}`) div {width}"),
        )
    end = F.least(F.coalesce(nxt - F.lit(step), bmax), bmax)
    chunk = step * _SPINE_CHUNK
    chunks = rel.select(
        *keys, _BUCKET, _ROW, end.alias("__end"),
        F.explode(F.sequence(bucket, end, F.lit(chunk))).alias("__chunk"),
    )
    label = F.col("__label")
    filled = chunks.select(
        *keys, _BUCKET, _ROW,
        F.explode(
            F.sequence(
                F.col("__chunk"),
                F.least(F.col("__chunk") + F.lit(chunk - step), F.col("__end")),
                F.lit(step),
            )
        ).alias("__label"),
    )
    ffill_keys = set(ffill_keys)
    return filled.select(
        label_ts(label).alias(ts_col),
        *keys,
        *[
            (F.col(_ROW)[c] if c in ffill_keys
             else F.when(label == bucket, F.col(_ROW)[c])).alias(c)
            for c in value_cols
        ],
    )


def _resample_day_tz(
    df: DataFrame,
    interval: str,
    tz: str,
    *,
    ts_col: str,
    keys: Sequence[str],
    value_cols: Optional[Sequence[str]],
    ffill_keys: Sequence[str],
    tiebreak_cols: Optional[Sequence[str]],
    process_batch_end: bool,
    gap_fill: bool,
    cache: bool = True,
) -> DataFrame:
    """Day-interval resample on a grid of local midnights in ``tz``,
    anchored at each key's FIRST event (reference classes.py:787-795 +
    _initialize_timing: the first boundary is the first event's own local
    midnight + N days; every later boundary steps N days). Events and the
    gap fill use the SAME anchored grid — grid dates ``anchor + k*N`` — so
    every blank lands on a grid date.

    Documented deviation: the reference's boundary generator steps a fixed
    N*24h in *milliseconds*, so after a DST shift its boundaries drift off
    local midnight; we re-anchor every grid point at true local midnight
    (the reference's stated intent: "the interval boundary will be
    midnight in that timezone").

    Scale: the grid is per-key *dates* — #keys x #days/N rows (a 100-year
    global grid is 36,525 rows) — so the per-key bounds are tiny by
    construction. Event labeling is columnar (datediff against a
    broadcast per-key anchor date, JVM-side, whole-stage codegen); the
    gap fill is :func:`_expand_gaps` over grid day numbers with a step of
    N days, and each label converts to epoch-ms once, in one Spark
    expression, after the expansion — driver zoneinfo math never has to
    bit-match Spark tz math."""
    days = int(interval.strip()[:-1])
    keys = list(keys)
    if tiebreak_cols is None:
        tiebreak_cols = [c for c in (SRC_ID_COL, SEQ_COL) if c in df.columns]
    if value_cols is None:
        value_cols = [
            c for c in df.columns if c not in {ts_col, *keys, SRC_ID_COL, SEQ_COL}
        ]
    value_cols = list(value_cols)
    missing = [k for k in ffill_keys if k not in value_cols]
    if missing:
        raise ValueError(f"ffill_keys not in value columns: {missing}")

    ts = F.col(ts_col)

    # Per-key stream bounds, all on executors — the grid used to be a
    # driver-side Python list (#keys × #days dicts: a driver OOM at 1M
    # keys × years). One eager localCheckpoint: the relation is #keys rows
    # (small by construction), and the lineage cut gives the derived
    # anchors fresh attribute ids so the join back onto `df` can't hit
    # self-join ambiguity. Local dates come from the same Spark tz
    # expression used for event labeling below — one tz database for both.
    # Grid points are day numbers (days since 1970-01-01) from here on.
    def _local_date(col: F.Column) -> F.Column:
        return F.to_date(F.from_utc_timestamp(F.timestamp_millis(col), tz))

    binfo = (
        df.groupBy(*keys)
        .agg(F.min(ts).alias("__mn"), F.max(ts).alias("__mx"))
        .filter(F.col("__mn").isNotNull())  # keyless agg over empty input
        .select(
            *keys,
            _local_date(F.col("__mn")).alias(_ANCHOR),
            _local_date(F.col("__mx")).alias("__mxd"),
        )
        .select(
            *keys,
            _ANCHOR,
            # End boundary. Grid midnights <= mx are exactly grid dates <=
            # mx's local date (midnight(d) <= mx iff d <= mx_date):
            # floor(diff/N) steps after the anchor. label(mx) = first grid
            # date after, always the end under process_batch_end (final
            # partial flush; a boundary-sitting mx still emits, at +N days).
            (
                F.unix_date(F.col(_ANCHOR))
                + (
                    F.floor(F.datediff(F.col("__mxd"), F.col(_ANCHOR)) / F.lit(days))
                    + F.lit(1 if process_batch_end else 0)
                ).cast("int")
                * F.lit(days)
            ).alias(_HI),
        )
        .localCheckpoint(eager=True)
    )

    # Columnar event labels on the anchored grid: the smallest grid date
    # strictly after the event. (floor(diff/N)+1)*N > diff for any diff>=0,
    # and a later date's local midnight is after any instant of an earlier
    # date, so the label is strictly greater even for an event exactly ON
    # a grid midnight (its local date IS the grid date -> next grid point).
    # Qualified aliases: the anchors derive from `df`, so Column-object
    # conditions hit the ambiguous-self-join check.
    an = binfo.alias("__an")
    if keys:
        # Null-safe key join: a null-keyed group has an anchor row like
        # any other; a plain equi-join would drop its events entirely.
        acond = None
        for k in keys:
            term = df[k].eqNullSafe(F.col(f"__an.`{k}`"))
            acond = term if acond is None else acond & term
        labeled = df.join(F.broadcast(an), acond, "inner").select(
            *[df[c] for c in df.columns],
            F.col(f"__an.`{_ANCHOR}`"),
            F.col(f"__an.`{_HI}`"),
        )
    else:
        labeled = df.crossJoin(F.broadcast(an))
    local_date = F.to_date(F.from_utc_timestamp(F.timestamp_millis(ts), tz))
    step_days = (
        (F.floor(F.datediff(local_date, F.col(_ANCHOR)) / F.lit(days)) + 1)
        * F.lit(days)
    ).cast("int")
    bucketed = labeled.withColumn(
        _BUCKET, F.unix_date(F.col(_ANCHOR)) + step_days
    ).drop(_ANCHOR)

    order_key = F.struct(ts, *[F.col(c) for c in tiebreak_cols])
    row_struct = F.struct(*[F.col(c) for c in value_cols])
    buckets = bucketed.groupBy(*keys, _BUCKET).agg(
        F.max_by(row_struct, order_key).alias(_ROW),
        F.max(_HI).alias(_HI),
    )

    # Grid day number -> epoch ms of local midnight, applied to the output
    # labels only (session tz is UTC per package requirement; see conftest).
    def day_ms(day: Column) -> Column:
        return F.unix_millis(
            F.to_utc_timestamp(F.date_from_unix_date(day).cast("timestamp"), tz)
        )

    if not gap_fill:
        out_cols = [day_ms(F.col(_BUCKET)).alias(ts_col)] + [F.col(k) for k in keys]
        out_cols += [F.col(_ROW)[c].alias(c) for c in value_cols]
        return buckets.select(*out_cols)

    return _expand_gaps(
        buckets, ts_col, keys, value_cols, ffill_keys, days, lambda hi: hi,
        day_ms, cache=cache,
    )
