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
  dropped (spine ends at the last boundary <= max_ts);
- day ('d') grids anchor at the FIRST EVENT's local midnight
  (classes.py:787-795 + _initialize_timing), not the epoch. For '1d' the
  two grids coincide (every midnight is a grid point), so the epoch
  fast path below applies; 'Nd' with N>1 and all tz grids route through
  the anchored-day path.

Physical plan (SURVEY.md §2.6 T3): partial-aggregated ``max_by`` per bucket
(map-side combine, one shuffle on (keys, bucket)) + a two-level
sequence/explode time spine (bounded per-row array size, re-shuffled between
levels so no task materializes the whole spine) + left join + windowed carry
(per-key window, or the two-pass range-partitioned fill for the global
case). No single-task stage proportional to data size.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from timeseriesfuser_spark.ops.util import track_persist
from pyspark.sql import types as T
from pyspark.sql.window import Window

from timeseriesfuser_spark.intervals import boundary_label_col, interval_to_ms
from timeseriesfuser_spark.operators.fill import forward_fill
from timeseriesfuser_spark.sources.readers import SEQ_COL, SRC_ID_COL, TS_COL

_BUCKET = "__bucket"
_ROW = "__row"
_CARRY = "__carry"
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

    ``cache``: the gap-fill path persists two multi-consumer relations
    (MEMORY_AND_DISK) that stay registered for the session — the consumer
    runs after this function returns, so there is no unpersist point.
    Pass ``cache=False`` in long-lived sessions that call this in a loop:
    no cache entries are registered, at the cost of re-running the input
    aggregation per plan branch (bounds + spine join; ~2 extra passes).
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
    # __maxts rides along so the spine bounds derive from THIS aggregate —
    # one scan of the input, not two.
    order_key = F.struct(ts, *[F.col(c) for c in tiebreak_cols])
    row_struct = F.struct(*[F.col(c) for c in value_cols])
    buckets = bucketed.groupBy(*keys, _BUCKET).agg(
        F.max_by(row_struct, order_key).alias(_ROW),
        F.max(ts).alias("__maxts"),
    )

    if not gap_fill:
        out_cols = [F.col(_BUCKET).alias(ts_col)] + [F.col(k) for k in keys]
        out_cols += [F.col(_ROW)[c].alias(c) for c in value_cols]
        return buckets.select(*out_cols)

    # The buckets relation (<= one row per non-empty interval) feeds the
    # plan branches below (bounds -> spine, and the spine join); persist
    # it so the input aggregation runs once. LAZY persist, not
    # localCheckpoint: on a dense grid this relation approaches input
    # size (30M rows / 1m grid -> 13M buckets) and checkpoint blocks
    # always hit disk-backed storage — measured 83 s vs 22 s at 30M
    # (the same corpus-sized-relation reversal as ops.text's tfidf).
    # Trade-off: one evictable MEMORY_AND_DISK cache entry per
    # invocation stays registered for the session (the consumer runs
    # after this function returns, so there is no unpersist point);
    # cache=False opts out for loop-calling sessions.
    if cache:
        buckets = track_persist(buckets.persist(StorageLevel.MEMORY_AND_DISK))

    # --- time spine (bounds from the tiny buckets relation) -------------- #
    mx = F.max("__maxts")
    pmod_end = F.pmod(mx - F.lit(offset_ms), F.lit(step))
    floor_end = (mx - pmod_end).cast("long")
    if process_batch_end:
        # label(mx) = floor_end + step in BOTH the on-boundary and
        # mid-interval cases: the final partial interval is always flushed
        # (reference finalize, classes.py:627-637 — see module docstring).
        bmax = floor_end + F.lit(step)
    else:
        bmax = floor_end
    # min bucket label == label(min ts): the label is monotone in ts.
    bounds = buckets.groupBy(*keys).agg(
        F.min(_BUCKET).alias("__bmin"),
        bmax.alias("__bmax"),
    )
    buckets = buckets.drop("__maxts")

    chunk_ms = step * _SPINE_CHUNK
    empty = F.array().cast(T.ArrayType(T.LongType()))
    chunks = bounds.select(
        *keys,
        "__bmax",
        F.explode(
            F.when(
                F.col("__bmin") <= F.col("__bmax"),
                F.sequence(F.col("__bmin"), F.col("__bmax"), F.lit(chunk_ms)),
            ).otherwise(empty)
        ).alias("__chunk"),
    )
    n = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    # Spread chunks before the inner explode so no single task generates the
    # whole spine for a long-lived key.
    chunks = chunks.repartition(n, *(keys + ["__chunk"]))
    spine = chunks.select(
        *keys,
        F.explode(
            F.sequence(
                F.col("__chunk"),
                F.least(F.col("__chunk") + F.lit(chunk_ms - step), F.col("__bmax")),
                F.lit(step),
            )
        ).alias(_BUCKET),
    )

    if keys:
        # Null-safe key equality: a null-keyed group is a real group (its
        # spine rows carry null keys too) and a plain equi-join would
        # leave every one of its buckets unmatched. Spine derives from
        # buckets, so the self-join needs explicit dataset aliases.
        sp, bk = spine.alias("__rs_sp"), buckets.alias("__rs_bk")
        cond = F.col(f"__rs_sp.{_BUCKET}") == F.col(f"__rs_bk.{_BUCKET}")
        for k in keys:
            cond = cond & F.col(f"__rs_sp.{k}").eqNullSafe(F.col(f"__rs_bk.{k}"))
        joined = sp.join(bk, cond, "left").select(
            *[F.col(f"__rs_sp.{k}").alias(k) for k in keys],
            F.col(f"__rs_sp.{_BUCKET}").alias(_BUCKET),
            F.col(f"__rs_bk.{_ROW}").alias(_ROW),
        )
    else:
        joined = spine.join(buckets, on=[_BUCKET], how="left")
    ffill_bucket = None
    if not keys and ffill_keys:
        # The ungrouped gap-filled spine is a UNIFORM grid over
        # [__bmin, __bmax]: equal-width cuts (step-aligned) are exact
        # equal-depth range buckets, so forward_fill skips its quantile
        # pass entirely. The bucket id is plain integer arithmetic over
        # the 1-row bounds relation, broadcast onto every spine row
        # IN-PLAN (r15) — the previous bounds.first() was a serial
        # driver job that also force-materialized the buckets cache at
        # op-construction. Same cuts as the old driver-built list:
        # width = max(step, (span // n // step + 1) * step),
        # bucket(x) = min((x - bmin) // width, #cuts).
        b1 = F.broadcast(
            bounds.select(
                F.col("__bmin").alias("__ffb_min"),
                F.col("__bmax").alias("__ffb_max"),
            )
        )
        joined = joined.crossJoin(b1)
        width = (
            f"greatest({step}L, ((__ffb_max - __ffb_min) div {n} "
            f"div {step} + 1) * {step}L)"
        )
        ffill_bucket = F.expr(
            f"least((`{_BUCKET}` - __ffb_min) div {width}, "
            f"least({n - 1}L, (__ffb_max - __ffb_min) div {width}))"
        )
    return _gap_fill_tail(
        joined, ts_col, keys, value_cols, ffill_keys,
        ffill_bucket=ffill_bucket, ffill_buckets=n, cache=cache,
    )


def _gap_fill_tail(
    joined: DataFrame,
    ts_col: str,
    keys: List[str],
    value_cols: Sequence[str],
    ffill_keys: Sequence[str],
    ffill_bucket: Optional[F.Column] = None,
    ffill_buckets: Optional[int] = None,
    cache: bool = True,
) -> DataFrame:
    """Shared gap-fill projection: blank boundaries carry only the
    ``ffill_keys`` of the previous event (even a null value is carried —
    the carry struct marks event presence, not non-nullness).

    ``ffill_bucket`` (an in-plan bucket-id Column over ``joined``, ids
    below ``ffill_buckets``) is ONLY valid when ``joined`` is a fully
    gap-filled UNIFORM spine (one row per grid step): equal-width cuts
    are exact equal-depth range buckets there. For any non-uniform
    ``joined`` (e.g. gap_fill=False output, or raw event rows) pass
    ``None`` so ``forward_fill`` runs its quantile pass — equal-width cuts
    over a skewed distribution silently degrade to unbalanced partitions."""
    out_cols: List[F.Column] = [F.col(_BUCKET).alias(ts_col)] + [
        F.col(k) for k in keys
    ]
    ffill_keys = list(ffill_keys)
    if ffill_keys:
        blank = F.col(_ROW).isNull()
        carry_src = F.when(
            ~blank, F.struct(*[F.col(_ROW)[k].alias(k) for k in ffill_keys])
        )
        joined = joined.withColumn(_CARRY, carry_src)
        if keys:
            w = (
                Window.partitionBy(*keys)
                .orderBy(_BUCKET)
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            joined = joined.withColumn(_CARRY, F.last(_CARRY, ignorenulls=True).over(w))
        else:
            # With the in-plan bucket id (r15) forward_fill runs NO
            # construction-time actions; the final plan reads ``joined``
            # twice (fill branch + per-bucket seeds branch). ``joined``
            # is the spine join — an expensive subplan — so persist it
            # once here: both branches share the cache build within the
            # one action (also pins pass-consistency: both branches see
            # the same rows). Lazy MEMORY_AND_DISK, same trade-off note
            # as the buckets persist above.
            if cache:
                joined = track_persist(joined.persist(StorageLevel.MEMORY_AND_DISK))
            joined = forward_fill(
                joined, [_BUCKET], [_CARRY], num_partitions=ffill_buckets,
                bucket_col=ffill_bucket,
            )
        for c in value_cols:
            if c in ffill_keys:
                out_cols.append(
                    F.when(F.col(_ROW).isNull(), F.col(_CARRY)[c])
                    .otherwise(F.col(_ROW)[c])
                    .alias(c)
                )
            else:
                out_cols.append(F.col(_ROW)[c].alias(c))
    else:
        out_cols += [F.col(_ROW)[c].alias(c) for c in value_cols]

    return joined.select(*out_cols)


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
    spine are bucketed against the SAME anchored grid — grid dates
    ``anchor + k*N`` — so no bucket can miss the spine join.

    Documented deviation: the reference's boundary generator steps a fixed
    N*24h in *milliseconds*, so after a DST shift its boundaries drift off
    local midnight; we re-anchor every grid point at true local midnight
    (the reference's stated intent: "the interval boundary will be
    midnight in that timezone").

    Scale: the grid is per-key *dates* — #keys x #days/N rows (a 100-year
    global grid is 36,525 rows) — so the per-key bounds collect and the
    driver-built spine are tiny by construction. Event labeling is
    columnar (datediff against a broadcast per-key anchor date, JVM-side,
    whole-stage codegen); buckets join the spine on (keys, grid DATE), and
    the date converts to epoch-ms once, in one Spark expression, after the
    join — driver zoneinfo math never has to bit-match Spark tz math."""
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

    # Per-key stream bounds AND grid-step counts, all on executors — the
    # spine used to be a driver-side Python list (#keys × #days dicts: a
    # driver OOM at 1M keys × years). One eager localCheckpoint: the
    # relation is #keys rows (small by construction), it is consumed by
    # two plan branches (anchors join + spine explode) which would each
    # recompute the aggregation, and the lineage cut gives the derived
    # anchors/spine fresh attribute ids so the joins back onto `df` can't
    # hit self-join ambiguity. Local dates come from the same Spark tz
    # expression used for event labeling below — one tz database for both.
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
        .withColumn(
            # Grid midnights <= mx are exactly grid dates <= mx's local
            # date (midnight(d) <= mx iff d <= mx_date): floor(diff/N)
            # steps after the anchor. label(mx) = first grid date after,
            # always appended under process_batch_end (final partial
            # flush; a boundary-sitting mx still emits, at +N days).
            "__n",
            (
                F.floor(F.datediff(F.col("__mxd"), F.col(_ANCHOR)) / F.lit(days))
                + F.lit(1 if process_batch_end else 0)
            ).cast("int"),
        )
        .localCheckpoint(eager=True)
    )
    anchors = binfo.select(*keys, _ANCHOR)

    # Columnar event labels on the anchored grid: the smallest grid date
    # strictly after the event. (floor(diff/N)+1)*N > diff for any diff>=0,
    # and a later date's local midnight is after any instant of an earlier
    # date, so the label is strictly greater even for an event exactly ON
    # a grid midnight (its local date IS the grid date -> next grid point).
    # Qualified aliases: anchors (and the spine below) both derive from
    # binfo, so Column-object conditions hit the ambiguous-self-join check.
    an = anchors.alias("__an")
    if keys:
        # Null-safe key join: a null-keyed group has an anchor row like
        # any other; a plain equi-join would drop its events entirely.
        acond = None
        for k in keys:
            term = df[k].eqNullSafe(F.col(f"__an.`{k}`"))
            acond = term if acond is None else acond & term
        labeled = df.join(F.broadcast(an), acond, "inner").select(
            *[df[c] for c in df.columns], F.col(f"__an.`{_ANCHOR}`")
        )
    else:
        labeled = df.crossJoin(F.broadcast(an))
    local_date = F.to_date(F.from_utc_timestamp(F.timestamp_millis(ts), tz))
    step_days = (
        (F.floor(F.datediff(local_date, F.col(_ANCHOR)) / F.lit(days)) + 1)
        * F.lit(days)
    ).cast("int")
    bucketed = labeled.withColumn(
        _BUCKET, F.date_add(F.col(_ANCHOR), step_days)
    ).drop(_ANCHOR)

    order_key = F.struct(ts, *[F.col(c) for c in tiebreak_cols])
    row_struct = F.struct(*[F.col(c) for c in value_cols])
    buckets = bucketed.groupBy(*keys, _BUCKET).agg(
        F.max_by(row_struct, order_key).alias(_ROW)
    )

    # Grid date -> epoch ms of local midnight, applied uniformly after the
    # join (session tz is UTC per package requirement; see conftest).
    bucket_ms = F.unix_millis(
        F.to_utc_timestamp(F.col(_BUCKET).cast("timestamp"), tz)
    ).cast("long")

    if not gap_fill:
        out_cols = [bucket_ms.alias(ts_col)] + [F.col(k) for k in keys]
        out_cols += [F.col(_ROW)[c].alias(c) for c in value_cols]
        return buckets.select(*out_cols)

    # Executor-side spine: explode each key's grid-date sequence. Output
    # volume is #keys × #days/N rows distributed across the cluster —
    # never materialized on the driver.
    spine = binfo.select(
        *keys,
        F.explode(
            F.when(
                F.col("__n") >= 1,
                F.transform(
                    F.sequence(F.lit(1), F.col("__n")),
                    lambda i: F.date_add(F.col(_ANCHOR), i * days),
                ),
            ).otherwise(F.array().cast("array<date>"))
        ).alias(_BUCKET),
    )
    sp, bu = spine.alias("__sp"), buckets.alias("__bu")
    if keys:
        scond = F.col(f"__sp.`{_BUCKET}`") == F.col(f"__bu.`{_BUCKET}`")
        for k in keys:
            scond = scond & F.col(f"__sp.`{k}`").eqNullSafe(F.col(f"__bu.`{k}`"))
        joined = sp.join(bu, scond, "left").select(
            *[F.col(f"__sp.`{k}`").alias(k) for k in keys],
            F.col(f"__sp.`{_BUCKET}`").alias(_BUCKET),
            F.col(f"__bu.`{_ROW}`").alias(_ROW),
        )
    else:
        joined = spine.join(buckets, on=[_BUCKET], how="left")
    joined = joined.withColumn(_BUCKET, bucket_ms)
    return _gap_fill_tail(joined, ts_col, keys, value_cols, ffill_keys,
                          cache=cache)
