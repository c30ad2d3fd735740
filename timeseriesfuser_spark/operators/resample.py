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
  two grids coincide (every midnight is a grid point), so '1d' without
  ``tz`` stays on the epoch grid; 'Nd' with N>1 and all tz grids use the
  day grid below.

Day grids (``tz``, or 'Nd' with N>1) label on grid *day numbers* (days
since 1970-01-01) in ``tz`` (default UTC): the anchor is the key's first
local date, and an event on local date ``d`` gets the label
``anchor + (floor((d - anchor)/N) + 1)*N`` — the first grid date strictly
after it, so an event exactly ON a grid midnight (its local date IS the
grid date) counts toward the next one. Labels convert to the epoch ms of
their local midnight on output only. Documented deviation: the
reference's boundary generator steps a fixed N*24h in *milliseconds*, so
after a DST shift its boundaries drift off local midnight; here every
grid point is a true local midnight (the reference's stated intent: "the
interval boundary will be midnight in that timezone").

Null timestamps, on every grid: a null-timestamp event has a null label.
With ``gap_fill=False`` each key's null-timestamp events yield one
null-labelled row (the last of them); the gap-filled grid skips them.

Physical plan (SURVEY.md §2.6 T3): partial-aggregated ``max_by`` per
(keys, label) — map-side combine, one shuffle. Day grids first aggregate
per (keys, local day) — ``max_by`` plus the max order — take the anchor
as a ``min`` over a per-key window on that daily relation (one row per
key per day) and re-aggregate to the label, so they read the input once
and start no job at construction. The gap fill is an expansion of that
buckets relation: each non-empty interval emits its own label and every
blank label before the next non-empty interval of its key, taking the
carry from its own last event; the last interval emits its own label
only, and without ``process_batch_end`` it is dropped — so the end
boundary is the last label, or the one before it, with no aggregate of
its own. The next interval is a ``lead`` window per key (also ungrouped
on day grids, whose relation has one row per label); ungrouped epoch
grids use the shared bucketed prefix scan over in-plan equal-width
buckets — no time spine, no join against one, no forward-fill pass.
That scan reads the buckets relation three times, so it persists it once
(MEMORY_AND_DISK): the entry lives until the session clears it, or until
an enclosing ``ops.util.cache_scope()`` exits. Labels come from a
two-level sequence/explode (at most ``_SPINE_CHUNK`` labels per array); a
single long gap is generated by the task that holds its bucket row. No
single-task stage proportional to data size.

Interval-grain fill. ``TimeSeriesFuser.fused()`` attaches a private
record to its forward-filled stream: the stream before the fill, the
filled columns, the fill order and whether it filled in one window.
Any transform in between returns a new DataFrame without it. When the
record is there, the resample is ungrouped on an epoch grid with
``gap_fill``, the fill order is ``[ts_col, *tiebreak_cols]`` (no
``secondary_sort_col``, internal columns kept) and no order column is
itself filled, and every value column was filled, the fill runs after
the aggregate, over interval rows instead of events. It is exact: after
a global LOCF fill, an interval's last event holds, per column, the last
non-null value up to it -- the interval's own last non-null value
(``max_by(c, when(c is not null, order))``), or else the previous
interval's filled value (Yan & Larson's eager aggregation, VLDB 1995).
The carry is one window over the interval rows when the fuser filled in
one window; otherwise one ascending exclusive bucketed scan over the
persisted aggregate, giving each interval the previous label and the
previous interval's filled row (see :func:`_interval_carry`). Both feed
the same label expansion. Replay, ``fused(sort=True)``, keyed resamples,
day/tz grids and ``secondary_sort_col`` streams resample the event-level
fill as before.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from timeseriesfuser_spark.intervals import boundary_label_col, interval_to_ms
from timeseriesfuser_spark.operators.fill import _bucketed_scan
from timeseriesfuser_spark.ops.util import track_persist
from timeseriesfuser_spark.sources.readers import SEQ_COL, SRC_ID_COL, TS_COL

_BUCKET = "__bucket"
_ROW = "__row"
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
    tz: Optional[str] = None,
) -> DataFrame:
    """Resample to a fixed grid; output has ``ts_col`` = boundary label,
    ``keys``, and ``value_cols`` (last event per interval; blanks gap-filled
    per ``ffill_keys``).

    ``tz``: for day intervals only — boundaries are local midnights in that
    timezone, DST-correct (reference classes.py:787-795), instead of fixed
    24h UTC steps.
    """
    iv = interval.strip()
    if tz is not None:
        if not iv.endswith("d"):
            raise ValueError("tz is only meaningful for day ('d') intervals")
        if offset_ms:
            raise ValueError("offset_ms is not supported on tz day grids")
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

    # Last event per (keys, bucket): one max_by of the whole row struct so
    # all columns come from ONE row (ties broken by ts, then arrival order).
    ts = F.col(ts_col)
    order = F.struct(ts, *[F.col(c) for c in tiebreak_cols])
    row = F.struct(*[F.col(c) for c in value_cols])
    # Day grids anchor at the first event's midnight (reference
    # classes.py:787-795). '1d' without tz is grid-identical to the
    # epoch-anchored grid and stays on it; an explicit offset_ms opts into
    # the epoch(+offset) grid too.
    day_grid = iv.endswith("d") and offset_ms == 0 and (
        tz is not None or int(iv[:-1]) > 1
    )
    # The fuser's filled stream under an ungrouped epoch gap fill in the
    # fill's own order: fill at interval grain (module docstring).
    rec = vars(df).get("_fill_record")
    interval_fill = bool(
        rec is not None and gap_fill and not keys and not day_grid and value_cols
        and rec.order == [ts_col, *tiebreak_cols]
        and not set(rec.order) & set(rec.cols)
        and set(value_cols) <= set(rec.cols)
    )
    if day_grid:
        # Local dates come from Spark's tz database, as does label_ts, so
        # Python-side zoneinfo math never has to bit-match it. The daily
        # relation (one row per key per local day) carries the day's last
        # event and its order, so the re-aggregation below picks the same
        # row as one max_by over the interval's events.
        step, tz = int(iv[:-1]), tz or "UTC"
        local = F.from_utc_timestamp(F.timestamp_millis(ts), tz)
        daily = df.groupBy(*keys, F.unix_date(F.to_date(local)).alias("__day")).agg(
            F.max_by(row, order).alias(_ROW), F.max(order).alias("__order")
        )
        day, anchor = F.col("__day"), F.min("__day").over(Window.partitionBy(*keys))
        labels = (F.floor((day - anchor) / F.lit(step)) + 1) * F.lit(step)
        src = daily.withColumn(_BUCKET, anchor + labels.cast("int"))
        row, order = F.col(_ROW), F.col("__order")

        def label_ts(label: Column) -> Column:
            local_midnight = F.date_from_unix_date(label).cast("timestamp")
            return F.unix_millis(F.to_utc_timestamp(local_midnight, tz))
    else:
        step = interval_to_ms(interval)
        src = (rec.stream if interval_fill else df).withColumn(
            _BUCKET, boundary_label_col(ts, step, offset_ms)
        )

        def label_ts(label: Column) -> Column:
            return label

    if interval_fill:  # each column's last non-null value, filled below
        aggs = [
            F.max_by(c, F.when(F.col(c).isNotNull(), order)).alias(c) for c in value_cols
        ]
    else:
        aggs = [F.max_by(row, order).alias(_ROW)]
    buckets = src.groupBy(*keys, _BUCKET).agg(*aggs)
    bucket = F.col(_BUCKET)
    if not gap_fill:
        return buckets.select(
            label_ts(bucket).alias(ts_col),
            *keys,
            *[F.col(_ROW)[c].alias(c) for c in value_cols],
        )

    # Gap fill (module docstring): the next label is a lead window keyed,
    # and on day grids, whose relation is one row per label, ungrouped
    # too. Ungrouped epoch grids can hold millions of labels, so there it
    # is a strictly-before min scan in descending label order
    # (_epoch_scan). The interval-grain fill carries the columns in the
    # same pass.
    if interval_fill:
        rel = _interval_carry(buckets, value_cols, step, rec.small)
    elif keys or day_grid:
        buckets = buckets.filter(bucket.isNotNull())
        rel = buckets.withColumn(
            "__next", F.lead(_BUCKET).over(Window.partitionBy(*keys).orderBy(_BUCKET))
        )
    else:
        rel = _epoch_scan(
            buckets.filter(bucket.isNotNull()), step, [("__next", _BUCKET, "min")],
            descending=True,
        )
    nxt = F.col("__next")
    if not process_batch_end:
        rel = rel.filter(nxt.isNotNull())
    end = F.coalesce(nxt - F.lit(step), bucket)
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


def _epoch_scan(
    buckets: DataFrame, step: int, scans, *, descending: bool, total: Optional[str] = None
) -> DataFrame:
    """Exclusive bucketed prefix scan of an ungrouped epoch buckets
    relation in label order (``descending``: reversed), on an equal-width
    in-plan bucket id over the broadcast 1-row [min, max] label: no
    construction job, and each scan bucket holds at most width/step rows
    whatever the data's skew; a null label falls in the first bucket. The
    scan reads the buckets three times (bounds, scan, scan seeds), so
    they are persisted lazily -- not a localCheckpoint: on a dense grid
    the relation approaches input size, and checkpoint blocks always hit
    disk-backed storage (83 s vs 22 s at 30M rows)."""
    buckets = track_persist(buckets.persist(StorageLevel.MEMORY_AND_DISK))
    n = int(buckets.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    b1 = F.broadcast(
        buckets.agg(F.min(_BUCKET).alias("__bmin"), F.max(_BUCKET).alias("__bmax"))
    )
    width = f"greatest({step}L, ((__bmax - __bmin) div {n} div {step} + 1) * {step}L)"
    rows = buckets.crossJoin(b1)
    if descending:
        rows = rows.withColumn("__desc", -F.col(_BUCKET))
        order, dist = "__desc", "__bmax - `__bucket`"
    else:
        order, dist = _BUCKET, "coalesce(`__bucket` - __bmin, 0)"
    return _bucketed_scan(
        rows, [order], scans, inclusive=False, num_buckets=n,
        bucket_col=F.expr(f"({dist}) div {width}"), total=total,
    )


def _interval_carry(buckets: DataFrame, value_cols, step: int, small: bool) -> DataFrame:
    """The gap fill's (__bucket, __row, __next) relation from per-interval
    last non-null values: ``__row`` carries each column's last non-null
    value up to its interval, as the event-level fill leaves it on the
    interval's last event. A null label (null timestamps) sorts first,
    so it feeds the carry, and then drops.

    Small input: one window over the interval rows. Otherwise one
    ascending exclusive scan gives each interval the previous label and
    the carry into it, i.e. the previous interval's row; each interval
    emits that row (so it reaches its blanks through the expansion, with
    this interval as its next), and the last interval also emits its own.
    """
    bucket = F.col(_BUCKET)
    if small:
        w = Window.orderBy(_BUCKET)
        carried = [F.last(c, ignorenulls=True).over(w).alias(c) for c in value_cols]
        rel = buckets.select(
            _BUCKET, F.struct(*carried).alias(_ROW), F.lead(_BUCKET).over(w).alias("__next")
        )
    else:
        before = [f"__before{i}" for i in range(len(value_cols))]
        scanned = _epoch_scan(
            buckets, step,
            [("__prev", _BUCKET, "max"), *[(b, c, "last") for b, c in zip(before, value_cols)]],
            descending=False, total="__last",
        )
        prev_row = F.struct(*[F.col(b).alias(c) for b, c in zip(before, value_cols)])
        own_row = F.struct(
            *[F.coalesce(c, b).alias(c) for b, c in zip(before, value_cols)]
        )
        rel = scanned.select(F.inline(F.array(
            F.struct(F.col("__prev").alias(_BUCKET), prev_row.alias(_ROW), bucket.alias("__next")),
            F.when(bucket == F.col("__last"), F.struct(
                bucket.alias(_BUCKET), own_row.alias(_ROW),
                F.lit(None).cast("long").alias("__next"),
            )),
        )))
    return rel.filter(bucket.isNotNull())
