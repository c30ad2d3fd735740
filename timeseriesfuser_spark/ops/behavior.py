"""Behavioral / product analytics over the fused event stream: ordered
funnels, cohort retention, latest-record compaction, and snapshot diffs.

These are the four queries every clickstream deployment eventually writes
on top of a chronological event table; each is expressed as a cascade of
hash aggregations and (broadcast-friendly) equi-joins — never a per-user
sort-and-walk UDF.

Scale design:

- ``funnel_counts``: one conditional ``min`` aggregation per funnel step,
  each joined back to the (|users|-sized, shrinking) reached-set of the
  previous step. k steps = k agg+join rounds over monotonically smaller
  relations — the relational formulation of sessionized pattern matching;
  no per-user array materialization.
- ``retention_cohorts``: two aggregations (cohort anchor, then the
  (cohort, offset) matrix); the anchor relation is one row per user.
- ``latest_snapshot``: ONE ``max_by`` hash-agg (the CDC/SCD "current
  view" compaction) — the same shape as the resampler's bucket-last.
- ``snapshot_diff``: a single full-outer equi-join on the key, comparing
  a caller-chosen value column — added/removed/changed/unchanged.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from timeseriesfuser_spark.ops.util import track_persist


def funnel_counts(
    df: DataFrame,
    steps: Sequence[str],
    *,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    cache: bool = True,
) -> DataFrame:
    """Ordered-funnel conversion: how many users performed ``steps[0]``,
    then ``steps[1]`` STRICTLY AFTER it, then ``steps[2]`` after that, …

    Output: one row per step — (step_idx, step, n_users, conv_ppm) where
    ``conv_ppm`` is the exact-integer share (ppm) of step-0 users still
    present. The "first qualifying time" chain (tᵢ = min ts of stepᵢ with
    ts > tᵢ₋₁) is the standard strict-sequence funnel semantics — exact
    because with no time bound the earliest chain dominates every other.

    The whole funnel is ONE lazy plan (the :func:`window_funnel`
    posture): depth rides a single per-user (``__u``, ``__t``, ``__d``)
    relation through per-level conditional-min joins, so the caller's
    action is the only Spark job regardless of k — construction launches
    nothing (the pre-r10 form ran one persist + one count action per
    step and assembled counts driver-side). ``cache=True`` persists each
    level via :func:`track_persist` (each level feeds both the next
    level's candidate join and its own left join — Catalyst re-executes
    shared lineage otherwise); release with
    :func:`~timeseriesfuser_spark.ops.util.cache_scope`.

    Scale: one conditional-min hash-agg + user equi-join per step over a
    per-user relation that never exceeds |step-0 users| rows.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    from pyspark import StorageLevel

    u, t, ty = F.col(user_col), F.col(ts_col), F.col(type_col)
    ev = df.filter(ty.isin(list(steps))).select(
        u.alias("__u"), ty.alias("__ty"), t.alias("__ts")
    )
    if cache and len(steps) > 1:
        ev = track_persist(ev.persist(StorageLevel.MEMORY_AND_DISK))
    reach = (
        ev.filter(F.col("__ty") == steps[0])
        .groupBy("__u")
        .agg(F.min("__ts").alias("__t"))
        .withColumn("__d", F.lit(1).cast("long"))
    )
    for k, step in enumerate(steps[1:], start=2):
        frontier = reach.filter(F.col("__d") == k - 1).select("__u", "__t")
        cand = (
            ev.filter(F.col("__ty") == step)
            .join(frontier, "__u")
            .filter(F.col("__ts") > F.col("__t"))
            .groupBy("__u")
            .agg(F.min("__ts").alias("__nt"))
        )
        reach = reach.join(cand, "__u", "left").select(
            "__u",
            F.coalesce("__nt", "__t").alias("__t"),
            F.when(F.col("__nt").isNotNull(), F.lit(k).cast("long"))
            .otherwise(F.col("__d"))
            .alias("__d"),
        )
        if cache:
            reach = track_persist(reach.persist(StorageLevel.MEMORY_AND_DISK))
    return _funnel_report(
        df.sparkSession, steps, reach.select("__u", "__d")
    )


def _funnel_report(spark, steps: Sequence[str], depths: DataFrame) -> DataFrame:
    """(step_idx, step, n_users, conv_ppm) from a per-user max-depth
    relation (``__u``, ``__d``): n_users at step i = |{__d ≥ i+1}| via a
    ≤k-row broadcast theta join on the step spine; conv_ppm is the
    exact-integer ppm share of the step-0 base (NULL when the base is
    empty). All lazy — no job until the caller's action."""
    from pyspark.sql.window import Window

    by_depth = depths.groupBy("__d").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    spine = spark.createDataFrame(
        [(i, s) for i, s in enumerate(steps)], "step_idx long, step string"
    )
    joined = spine.join(
        F.broadcast(by_depth),
        F.col("__d") >= F.col("step_idx") + 1,
        "left",
    ).groupBy("step_idx", "step").agg(
        F.coalesce(F.sum("__c"), F.lit(0)).cast("long").alias("n_users")
    )
    w = Window.orderBy("step_idx").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return joined.withColumn(
        "__base", F.first("n_users").over(w)
    ).select(
        "step_idx",
        "step",
        "n_users",
        F.when(
            F.col("__base") > 0,
            F.expr("n_users * 1000000 DIV __base"),
        ).cast("long").alias("conv_ppm"),
    )


def retention_cohorts(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    user_col: str = "user_id",
    period_ms: int = 7 * 86_400_000,
) -> DataFrame:
    """Cohort retention matrix: users are anchored to the period of their
    FIRST event; for every (cohort, offset) cell, how many of that
    cohort's users were active ``offset`` periods after their anchor, and
    the exact-ppm retention rate.

    Two aggregations: the per-user anchor (min ts → cohort period), then
    a distinct count over (cohort, offset). The anchor relation is
    |users|-sized; the join back to events is an equi-join on the user
    key. Offsets are integer period indices, cohort is the period start
    (epoch ms).
    """
    u, t = F.col(user_col), F.col(ts_col)
    p = int(period_ms)
    # negative-safe floor periods (pmod idiom): plain DIV truncates toward
    # zero, double-widening period 0 and shifting pre-1970 cohorts.
    anchors = df.groupBy(u.alias("__u")).agg(
        F.expr(
            f"(min({ts_col}) - pmod(min({ts_col}), {p})) DIV {p}"
        ).alias("__cp")
    )
    sizes = anchors.groupBy("__cp").agg(F.count(F.lit(1)).alias("__csize"))
    joined = df.select(u.alias("__u"), t.alias("__ts")).join(anchors, "__u")
    cells = (
        joined.select(
            "__u",
            "__cp",
            (
                F.expr(f"(__ts - pmod(__ts, {p})) DIV {p}") - F.col("__cp")
            ).alias("__off"),
        )
        .distinct()
        .groupBy("__cp", "__off")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return (
        cells.join(sizes, "__cp")
        .select(
            (F.col("__cp") * p).cast("long").alias("cohort_ts"),
            F.col("__off").cast("long").alias("period_offset"),
            F.col("n_active").cast("long").alias("n_active"),
            F.col("__csize").cast("long").alias("cohort_size"),
            F.expr("n_active * 1000000 DIV __csize").cast("long").alias(
                "retention_ppm"
            ),
        )
    )


def latest_snapshot(
    df: DataFrame,
    *,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    seq_col: str = "event_id",
) -> DataFrame:
    """Latest-record-per-key compaction (the CDC / SCD "current view"):
    for each key, the whole row of its chronologically last event, ties
    broken by ``seq_col``. ONE ``max_by`` hash aggregation over a
    (ts, seq) struct ordering key — no window, no sort, map-side
    combinable; identical shape to the resampler's bucket-last."""
    order_key = F.struct(F.col(ts_col), F.col(seq_col))
    others = [c for c in df.columns if c not in key_cols]
    row = F.struct(*[F.col(c) for c in others])
    out = df.groupBy(*key_cols).agg(F.max_by(row, order_key).alias("__r"))
    return out.select(*key_cols, *[F.col("__r")[c].alias(c) for c in others])


def scd2_history(
    df: DataFrame,
    *,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    seq_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Type-2 slowly-changing-dimension history: collapse each key's change
    stream into validity intervals — one row per *distinct consecutive*
    value of ``value_col``, with ``valid_from`` (inclusive, the ts of the
    first event carrying the value), ``valid_to`` (exclusive, the ts of the
    next change; null while current) and ``is_current``.

    This is the standard warehouse dimension-history build from a CDC feed
    (the companion of ``latest_snapshot``'s type-1 "current view").

    Semantics: events are ordered per key by (ts, seq); a row opens a new
    interval iff it is the key's first event or its value differs
    (null-safely) from the previous event's. Repeated identical values
    extend the open interval rather than splitting it.

    Scale: two per-key windows (lag to flag changes, lead over the change
    rows for valid_to) — both shuffle once on the key and never globally;
    per-key state is the key's own history, the inherent minimum.
    """
    from pyspark.sql.window import Window

    keys = [F.col(k) for k in key_cols]
    w = Window.partitionBy(*keys).orderBy(F.col(ts_col), F.col(seq_col))
    v = F.col(value_col)
    is_change = (F.row_number().over(w) == 1) | ~v.eqNullSafe(F.lag(v).over(w))
    changes = df.select(
        *key_cols, F.col(ts_col), F.col(seq_col), value_col
    ).withColumn("__chg", is_change).filter("__chg")
    valid_to = F.lead(F.col(ts_col)).over(w)
    return changes.select(
        *key_cols,
        v.alias("value"),
        F.col(ts_col).cast("long").alias("valid_from"),
        valid_to.cast("long").alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    *,
    key_cols: Sequence[str] = ("user_id",),
    compare_col: str = "value",
) -> DataFrame:
    """Diff two keyed snapshots: per key, ``change`` ∈ {'added',
    'removed', 'changed', 'unchanged'} with the old/new value of
    ``compare_col``. One full-outer equi-join on the key — the audit /
    reconciliation primitive for incremental pipelines."""
    o = old.select(
        *[F.col(k) for k in key_cols],
        F.col(compare_col).alias("old_value"),
        F.lit(True).alias("__in_old"),
    )
    n = new.select(
        *[F.col(k) for k in key_cols],
        F.col(compare_col).alias("new_value"),
        F.lit(True).alias("__in_new"),
    )
    j = o.join(n, on=list(key_cols), how="full_outer")
    ov, nv = F.col("old_value"), F.col("new_value")
    # added/removed are decided by key PRESENCE, not value nullness — a
    # present key carrying a NULL value is 'unchanged'/'changed', never
    # phantom-added/removed.
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(ov.eqNullSafe(nv), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(*key_cols, "old_value", "new_value", change.alias("change"))


def merge_upsert(
    snapshot: DataFrame,
    changes: DataFrame,
    *,
    key_cols: Sequence[str] = ("user_id",),
    op_col: str = "op",
) -> DataFrame:
    """Apply a compacted CDC change set to a keyed snapshot — the batch
    MERGE INTO: ``changes`` carries at most one row per key with
    ``op_col`` ∈ {'upsert', 'delete'}; upserts replace (or insert) the
    key's row, deletes remove it, untouched keys pass through.

    One full-outer equi-join on the key; every output column is a
    row-local CASE — no window, no second shuffle. Compact the raw
    change stream first (``latest_snapshot``) so the per-key uniqueness
    precondition holds; at 100 TB this join is the same cost class as
    ``snapshot_diff``.
    """
    keys = list(key_cols)
    val_cols = [c for c in snapshot.columns if c not in keys]
    extra = [
        c for c in changes.columns if c not in keys + [op_col] and c not in val_cols
    ]
    if extra:
        raise ValueError(f"changes has columns absent from snapshot: {extra}")
    s = snapshot.select(
        *[F.col(k) for k in keys],
        *[F.col(c).alias(f"__s_{c}") for c in val_cols],
    )
    # Validate op values in-task: anything outside {'upsert','delete'}
    # (a typo like 'UPSERT' or 'update', or a NULL) would otherwise be
    # silently treated as a delete by the op filter below.
    op_checked = F.when(
        F.col(op_col).isin("upsert", "delete"), F.col(op_col)
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("merge_upsert: op value must be 'upsert' or 'delete', got "),
                F.coalesce(F.col(op_col).cast("string"), F.lit("NULL")),
            )
        )
    )
    c = changes.select(
        *[F.col(k) for k in keys],
        *[
            (F.col(cc) if cc in changes.columns else F.lit(None)).alias(f"__c_{cc}")
            for cc in val_cols
        ],
        op_checked.alias("__op"),
    )
    j = s.join(c, on=keys, how="full_outer")
    take_change = F.col("__op") == "upsert"
    out = j.filter(F.col("__op").isNull() | take_change)
    return out.select(
        *keys,
        *[
            F.when(take_change, F.col(f"__c_{cc}"))
            .otherwise(F.col(f"__s_{cc}"))
            .alias(cc)
            for cc in val_cols
        ],
    )


def copurchase_lift(
    df: DataFrame,
    *,
    basket_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    min_pair_baskets: int = 2,
    cache: bool = True,
) -> DataFrame:
    """Market-basket association mining: for every item pair co-occurring
    in at least ``min_pair_baskets`` baskets, the support counts plus
    confidence and lift — the co-purchase / co-occurrence recommender
    primitive ("customers who bought A also bought B").

    Exactness: every statistic is an integer count (n_both, n_a, n_b,
    n_baskets); confidence = n_both/n_a and
    lift = (n_both·N)/(n_a·n_b) are each ONE double division of exact
    integer products (products accumulate in decimal(38,0) before the
    cast), so both engines agree bitwise.

    Scale: the pair space is generated per basket (self-equi-join on the
    basket key over the DISTINCT (basket, item) relation), so the blowup
    is Σ|basket|² — bounded by the max basket size, never #items²; the
    support filter applies before the (broadcastable) item-count joins.
    For heavy-hitter baskets at 100 TB, cap or salt the basket key
    upstream (same posture as the dedup blocking knobs).

    ``cache``: the distinct (basket, item) relation feeds the totals,
    the item counts, and both pair-join sides; the default persists it
    (MEMORY_AND_DISK, evictable — the ``resample_last_interval``
    contract) so the distinct runs once; ``cache=False`` registers
    nothing.
    """
    if min_pair_baskets < 1:
        raise ValueError(
            f"min_pair_baskets must be >= 1: {min_pair_baskets}"
        )
    from pyspark import StorageLevel

    bi = (
        df.select(
            F.col(basket_col).alias("__o"), F.col(item_col).alias("__p")
        )
        .filter(F.col("__o").isNotNull() & F.col("__p").isNotNull())
        .distinct()
    )
    if cache:
        bi = track_persist(bi.persist(StorageLevel.MEMORY_AND_DISK))
    n_rel = bi.agg(
        F.count_distinct(F.col("__o")).cast("long").alias("n_baskets")
    )
    item_counts = bi.groupBy("__p").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    a = bi.alias("a")
    b = bi.alias("b")
    pairs = (
        a.join(b, (F.col("a.__o") == F.col("b.__o"))
               & (F.col("a.__p") < F.col("b.__p")))
        .groupBy(
            F.col("a.__p").alias("item_a"), F.col("b.__p").alias("item_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
        .filter(F.col("n_both") >= min_pair_baskets)
    )
    ca = item_counts.select(
        F.col("__p").alias("item_a"), F.col("__c").alias("n_a")
    )
    cb = item_counts.select(
        F.col("__p").alias("item_b"), F.col("__c").alias("n_b")
    )
    out = (
        pairs.join(ca, "item_a")
        .join(cb, "item_b")
        .crossJoin(F.broadcast(n_rel))
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    return out.select(
        "item_a",
        "item_b",
        "n_both",
        "n_a",
        "n_b",
        "n_baskets",
        (
            F.col("n_both").cast("double") / F.col("n_a").cast("double")
        ).alias("confidence_ab"),
        (
            (d("n_both") * d("n_baskets")).cast("double")
            / (d("n_a") * d("n_b")).cast("double")
        ).alias("lift"),
    )


def concentration_stats(
    df: DataFrame,
    *,
    group_col: str = "group",
    value_col: str = "value_cents",
) -> DataFrame:
    """Per-group concentration/inequality of an integer measure across
    its members → (group, n, total, gini_ppm, hhi_ppm) — "how dominated
    is each nation's revenue by a few suppliers", the
    market-concentration / data-skew screening statistic (an HHI near
    1e6 on a partition key is also a shuffle-skew early warning).

    EXACT integer statistics (ppm scale, every output BIGINT):
    - Gini: on the ascending-sorted members x_1..x_n,
      G = (2·Σi·x_i − (n+1)·S) / (n·S); emitted as
      gini_ppm = (2·Σi·x_i − (n+1)·S)·1e6 DIV (n·S) in decimal(38,0).
      Ties are rank-order invariant (equal x contribute the same sum
      under any permutation of their ranks).
    - Herfindahl: HHI = Σ(x_i/S)² emitted as Σx²·1e6 DIV S².
    Both are integer DIV of exact products — no float anywhere.

    Callers pass an already-aggregated integer measure (e.g. cents per
    (nation, supplier)); NULL groups/values are dropped; groups with
    S <= 0 are emitted with NULL gini/hhi (the ratios are undefined).

    Scale: HHI is one map-side-combinable aggregation; Gini needs the
    per-group rank (one window partitioned by group over the AGGREGATED
    member grain — #members rows, not raw facts). Run it on grains, not
    events.
    """
    g = F.col(group_col)
    base = df.filter(
        g.isNotNull() & F.col(value_col).isNotNull()
    ).select(g.alias("__g"), F.col(value_col).cast("long").alias("__x"))
    from pyspark.sql.window import Window as W

    rn = F.row_number().over(W.partitionBy("__g").orderBy("__x"))
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    ranked = base.withColumn("__i", rn.cast("long"))
    agg = ranked.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__x").cast("long").alias("total"),
        F.sum(d("__i") * d("__x")).alias("__ix"),
        F.sum(d("__x") * d("__x")).alias("__xx"),
    )
    s = d("total")
    n = d("n")
    gini = F.when(
        F.col("total") > 0,
        F.expr(
            "CAST((2 * __ix - (CAST(n AS DECIMAL(38,0)) + 1)"
            " * CAST(total AS DECIMAL(38,0))) * 1000000"
            " DIV (CAST(n AS DECIMAL(38,0))"
            " * CAST(total AS DECIMAL(38,0))) AS BIGINT)"
        ),
    )
    hhi = F.when(
        F.col("total") > 0,
        F.expr(
            "CAST(__xx * 1000000 DIV (CAST(total AS DECIMAL(38,0))"
            " * CAST(total AS DECIMAL(38,0))) AS BIGINT)"
        ),
    )
    return agg.select(
        F.col("__g").alias(group_col),
        "n",
        "total",
        gini.alias("gini_ppm"),
        hhi.alias("hhi_ppm"),
    )


def attribute_conversions(
    touches: DataFrame,
    conversions: DataFrame,
    *,
    lookback_ms: int,
    model: str = "last_touch",
    user_col: str = "user_id",
    touch_ts_col: str = "touch_ts",
    conv_ts_col: str = "conv_ts",
    touch_id_col: str = "touch_id",
    conv_id_col: str = "conv_id",
    include_unattributed: bool = True,
    chunk_ms: int = 3_600_000,
    cache: bool = True,
) -> DataFrame:
    """Marketing-attribution join: credit each conversion to the touch
    event(s) of the same user inside the trailing ``lookback_ms`` window
    (``conv_ts − lookback ≤ touch_ts ≤ conv_ts``).

    ``model``:
    - ``last_touch`` / ``first_touch`` — the winning touch gets
      ``credit_ppm = 1_000_000`` (latest/earliest ts, ties → highest/
      lowest ``touch_id``);
    - ``linear`` — every in-window touch gets
      ``credit_ppm = 1_000_000 DIV n_touches``;
    - ``position_based`` — the U-shaped 40/20/40 model: first and last
      touch (by ts, touch_id ties) get 400k ppm each, the middles share
      200k via integer DIV with the truncation remainder assigned to
      the LAST touch, so every conversion's credits sum to exactly
      1e6 (n=1 → 1e6, n=2 → 500k/500k).

    Output: one row per credited (conversion, touch) with all touch/
    conversion payload columns, ``n_touches`` and ``credit_ppm``; with
    ``include_unattributed`` (default), conversions with no in-window
    touch are kept with NULL touch columns, ``n_touches = 0``,
    ``credit_ppm = 0`` — the audit-complete form (every conversion
    appears exactly once under last/first touch).

    NULL handling: rows with a NULL ``user_col`` on either side are
    excluded (attribution is keyed on the user; an unidentifiable
    conversion can't be credited) — filter upstream if other semantics
    are wanted. Non-key column names must be disjoint across the two
    inputs (the ``interval_join`` contract).

    Scale (100 TB posture): the window match is the epoch-chunked
    ``operators.rangejoin.interval_join`` — an equi-join on
    (user, time-chunk), never a per-user nested loop — followed by one
    window over (user, conversion) whose partition size is the
    conversion's in-window touch count. ``cache`` persists the matched
    pairs relation (MEMORY_AND_DISK, evictable) because the
    unattributed remainder anti-joins against it — the multi-consumer
    contract of ``bloom_prefilter``; pass ``cache=False`` if
    ``include_unattributed=False`` or the caller persists.
    """
    from pyspark import StorageLevel
    from pyspark.sql.window import Window as W

    from timeseriesfuser_spark.operators.rangejoin import interval_join

    if model not in ("last_touch", "first_touch", "linear", "position_based"):
        raise ValueError(f"unknown attribution model: {model!r}")

    t = touches.filter(F.col(user_col).isNotNull())
    c = conversions.filter(F.col(user_col).isNotNull())
    iv = c.withColumn(
        "__start", F.col(conv_ts_col).cast("long") - F.lit(int(lookback_ms))
    ).withColumn("__end", F.col(conv_ts_col).cast("long") + F.lit(1))
    pairs = interval_join(
        t,
        iv,
        point_ts=touch_ts_col,
        start_col="__start",
        end_col="__end",
        keys=[user_col],
        chunk_ms=chunk_ms,
    ).drop("__start", "__end")
    if cache and include_unattributed:
        pairs = track_persist(pairs.persist(StorageLevel.MEMORY_AND_DISK))

    part = W.partitionBy(user_col, conv_id_col)
    n = F.count(F.lit(1)).over(part).cast("long")
    if model == "linear":
        out = pairs.withColumn("n_touches", n).withColumn(
            "credit_ppm", F.expr("1000000 DIV n_touches").cast("long")
        )
    elif model == "position_based":
        # U-shaped 40/20/40: first and last touch 400k ppm each, middles
        # share 200k (integer DIV, truncation remainder to the LAST touch
        # so every conversion's credits sum to exactly 1e6). n=1 -> 1e6,
        # n=2 -> 500k/500k.
        w = part.orderBy(F.col(touch_ts_col).asc(), F.col(touch_id_col).asc())
        out = (
            pairs.withColumn("n_touches", n)
            .withColumn("__rk", F.row_number().over(w))
            .withColumn(
                "credit_ppm",
                F.when(F.col("n_touches") == 1, F.lit(1_000_000))
                .when(F.col("n_touches") == 2, F.lit(500_000))
                .when(F.col("__rk") == 1, F.lit(400_000))
                .when(
                    F.col("__rk") == F.col("n_touches"),
                    F.lit(400_000)
                    + F.lit(200_000)
                    - F.expr("200000 DIV (n_touches - 2)")
                    * (F.col("n_touches") - 2),
                )
                .otherwise(F.expr("200000 DIV (n_touches - 2)"))
                .cast("long"),
            )
            .drop("__rk")
        )
    else:
        order = (
            [F.col(touch_ts_col).desc(), F.col(touch_id_col).desc()]
            if model == "last_touch"
            else [F.col(touch_ts_col).asc(), F.col(touch_id_col).asc()]
        )
        w = part.orderBy(*order)
        out = (
            pairs.withColumn("n_touches", n)
            .withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .drop("__rk")
            .withColumn("credit_ppm", F.lit(1_000_000).cast("long"))
        )
    if not include_unattributed:
        return out

    touch_cols = [col for col in touches.columns if col != user_col]
    un = c.join(
        pairs.select(user_col, conv_id_col).distinct(),
        on=[user_col, conv_id_col],
        how="left_anti",
    )
    for col in touch_cols:
        un = un.withColumn(col, F.lit(None).cast(dict(touches.dtypes)[col]))
    un = un.withColumn("n_touches", F.lit(0).cast("long")).withColumn(
        "credit_ppm", F.lit(0).cast("long")
    )
    return out.unionByName(un.select(out.columns))


def rolling_active_users(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    window_days: int = 28,
    day_ms: int = 86_400_000,
    cache: bool = True,
) -> DataFrame:
    """DAU / trailing-window active users / stickiness — the product
    engagement triple (DAU/MAU when ``window_days=28``).

    For every calendar day in the observed span: ``dau`` = distinct users
    active that day, ``window_active`` = distinct users active in the
    trailing ``window_days`` (inclusive of the day), ``stickiness_ppm`` =
    dau·1e6 DIV window_active (NULL when the trailing window is empty —
    a dead zone longer than the window). Rows with NULL user or ts are
    excluded (both engines must drop them identically).

    Scale (100 TB posture): the corpus collapses to the distinct
    (user, day) grain first (ONE hash-distinct with map-side partial);
    the trailing-window distinct is NOT a per-day window scan — each
    user-day explodes to the ``window_days`` window-end days it covers
    (constant fan-out on the small grain) and one count-distinct agg per
    day finishes the job. The day spine is arithmetic (sequence over the
    min/max bounds row — the resample spine idiom), never a scan.

    ``cache``: the (user, day) grain feeds three consumers (bounds, dau,
    window) and Catalyst re-executes the shared subplan per consumer —
    tripling the corpus scan. The default persists the grain
    (MEMORY_AND_DISK, evictable — the ``resample_last_interval``
    contract); pass ``cache=False`` if the caller persists upstream.
    """
    from pyspark import StorageLevel

    if window_days <= 0:
        raise ValueError(f"window_days must be positive: {window_days}")
    d = F.lit(int(day_ms))
    t = F.col(ts_col).cast("long")
    day = ((t - F.pmod(t, d)) / d).cast("long")
    ud = (
        events.filter(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(F.col(user_col).alias("__u"), day.alias("__day"))
        .distinct()
    )
    if cache:
        ud = track_persist(ud.persist(StorageLevel.MEMORY_AND_DISK))
    bounds = ud.groupBy().agg(
        F.min("__day").alias("__lo"), F.max("__day").alias("__hi")
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("__lo"), F.col("__hi"))).alias("day")
    )
    dau = ud.groupBy(F.col("__day").alias("day")).agg(
        F.countDistinct("__u").alias("dau")
    )
    covered = ud.select(
        "__u",
        F.explode(
            F.sequence(F.col("__day"), F.col("__day") + F.lit(window_days - 1))
        ).alias("day"),
    )
    win = covered.groupBy("day").agg(
        F.countDistinct("__u").alias("window_active")
    )
    out = (
        spine.join(dau, "day", "left")
        .join(win, "day", "left")
        .select(
            (F.col("day") * d).cast("long").alias("day_start"),
            F.coalesce("dau", F.lit(0)).cast("long").alias("dau"),
            F.coalesce("window_active", F.lit(0)).cast("long").alias(
                "window_active"
            ),
        )
    )
    return out.withColumn(
        "stickiness_ppm",
        F.when(
            F.col("window_active") > 0,
            F.expr("dau * 1000000 DIV window_active"),
        ).cast("long"),
    )


def join_view_delta(
    base_left: DataFrame,
    delta_left: DataFrame,
    base_right: DataFrame,
    delta_right: DataFrame,
    on,
    how: str = "inner",
) -> DataFrame:
    """Incremental maintenance of an inner-join materialized view under
    insert-only deltas — the classic IVM identity::

        Δ(A ⋈ B) = (ΔA ⋈ B) ∪ (A ⋈ ΔB) ∪ (ΔA ⋈ ΔB)

    so the refreshed view is ``old_view ∪ join_view_delta(...)`` and the
    base relations are never re-joined. Exact: the three terms partition
    the new join rows by which side(s) contributed a delta row, so the
    union (ALL) equals ``(A∪ΔA) ⋈ (B∪ΔB)  MINUS  A ⋈ B`` with
    multiplicity.

    Scale: each term joins a DELTA against a base (or the tiny Δ⋈Δ) —
    with typical delta ≪ base, Spark broadcasts the delta side and the
    base never shuffles; cost is O(|Δ| · matmatch fan-out), not
    O(|A⋈B|). The streaming analogue is a stream-stream join; this is
    the batch/backfill form a warehouse MERGE pipeline runs per
    ingestion tick.

    ``on``: column name (or list of names) shared by both sides; only
    inner joins are supported (outer IVM needs retraction handling —
    deletes/updates are out of the insert-only contract).
    """
    if how != "inner":
        raise ValueError("join_view_delta supports inner joins only")
    t1 = delta_left.join(base_right, on)
    t2 = base_left.join(delta_right, on)
    t3 = delta_left.join(delta_right, on)
    return t1.unionByName(t2).unionByName(t3)


def window_funnel(
    df: DataFrame,
    steps: Sequence[str],
    within_ms: int,
    *,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    cache: bool = True,
) -> DataFrame:
    """Time-bounded ordered funnel (the ClickHouse ``windowFunnel``
    semantics): per user, the deepest step depth reachable by a strictly
    ordered chain step₀ < step₁ < … that COMPLETES within ``within_ms``
    of its step₀ anchor — anchored at ANY step₀ event, not just the
    first (a user whose first signup went stale but who re-signed-up and
    converted still counts).

    Exact by the greedy-anchor argument: for a fixed anchor the
    earliest-next-event chain (tᵢ = min ts of stepᵢ in (tᵢ₋₁, anchor +
    within]) dominates every other chain from that anchor, so max depth
    over anchors is exact — no per-user sort-and-walk UDF.

    Output: one row per step — (step_idx, step, n_users, conv_ppm) where
    n_users counts users reaching depth ≥ step_idx within the window
    and conv_ppm is the exact-integer share of step-0 users.

    Scale: one conditional-min hash-agg + user equi-join per step over a
    shrinking (user, anchor) relation; the fan-out per user is
    (step-0 anchors × step-k events) — per-user-activity bounded, the
    same posture as attribution's touch×conversion pairing. The whole
    funnel is ONE lazy plan — depth is carried in a single (user,
    anchor, t, depth) relation through per-level left joins, so the
    caller's action is the only Spark job regardless of k (the r8 form
    ran 2 driver actions per step). ``cache=True`` persists each level
    via :func:`track_persist` (each level feeds both the next level's
    frontier and its left join — Catalyst re-executes shared lineage
    otherwise, exponentially in k); release with
    :func:`~timeseriesfuser_spark.ops.util.cache_scope`.
    """
    reach = _funnel_reach(
        df, steps, within_ms, ts_col=ts_col, user_col=user_col,
        type_col=type_col, cache=cache,
    )
    depths = reach.groupBy("__u").agg(F.max("__d").alias("__d"))
    return _funnel_report(df.sparkSession, steps, depths)


def _funnel_reach(
    df: DataFrame,
    steps: Sequence[str],
    within_ms: int,
    *,
    ts_col: str,
    user_col: str,
    type_col: str,
    cache: bool,
) -> DataFrame:
    """The funnel chain as one lazy relation: (__u, __a, __t, __d) — one
    row per (user, step-0 anchor) with the deepest step depth ``__d``
    (1-based) reached within ``within_ms`` of the anchor and ``__t`` the
    time of that depth's event (the greedy earliest-next chain)."""
    if not steps:
        raise ValueError("steps must be non-empty")
    if within_ms <= 0:
        raise ValueError("within_ms must be positive")
    from pyspark import StorageLevel

    u, t, ty = F.col(user_col), F.col(ts_col), F.col(type_col)
    ev = df.filter(ty.isin(list(steps))).select(
        u.alias("__u"), ty.alias("__ty"), t.cast("long").alias("__ts")
    )
    if cache and len(steps) > 1:
        ev = track_persist(ev.persist(StorageLevel.MEMORY_AND_DISK))
    reach = (
        ev.filter(F.col("__ty") == steps[0])
        .select("__u", F.col("__ts").alias("__a"))
        .withColumn("__t", F.col("__a"))
        .withColumn("__d", F.lit(1).cast("long"))
    )
    for k, step in enumerate(steps[1:], start=2):
        frontier = reach.filter(F.col("__d") == k - 1).select(
            "__u", "__a", "__t"
        )
        cand = (
            ev.filter(F.col("__ty") == step)
            .join(frontier, "__u")
            .filter(
                (F.col("__ts") > F.col("__t"))
                & (F.col("__ts") <= F.col("__a") + F.lit(within_ms))
            )
            .groupBy("__u", "__a")
            .agg(F.min("__ts").alias("__nt"))
        )
        reach = reach.join(cand, ["__u", "__a"], "left").select(
            "__u",
            "__a",
            F.coalesce("__nt", "__t").alias("__t"),
            F.when(F.col("__nt").isNotNull(), F.lit(k).cast("long"))
            .otherwise(F.col("__d"))
            .alias("__d"),
        )
        if cache:
            reach = track_persist(reach.persist(StorageLevel.MEMORY_AND_DISK))
    return reach


def window_funnel_depth(
    df: DataFrame,
    steps: Sequence[str],
    within_ms: int,
    *,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    cache: bool = True,
) -> DataFrame:
    """Per-user funnel depth — the ClickHouse ``windowFunnel`` return
    form: for each user with at least one step-0 event, the deepest
    consecutive step count (1..len(steps)) reachable within ``within_ms``
    of ANY step-0 anchor. A relation, so it joins downstream (cohort
    splits, retention by funnel depth) without re-running the funnel;
    :func:`window_funnel` is exactly this relation aggregated to
    per-step counts. Columns: (``user_col``, depth) — both exact ints.
    """
    reach = _funnel_reach(
        df, steps, within_ms, ts_col=ts_col, user_col=user_col,
        type_col=type_col, cache=cache,
    )
    return reach.groupBy("__u").agg(
        F.max("__d").cast("long").alias("depth")
    ).withColumnRenamed("__u", user_col)


def trending_topk(
    df: DataFrame,
    interval_ms: int,
    *,
    key_col: str = "event_type",
    ts_col: str = "ts",
    top_n: int = 5,
    min_count: int = 1,
) -> DataFrame:
    """Top-k trending keys per time bucket: the keys whose activity grew
    most versus their own previous bucket — the "what's surging right
    now" feed a monitoring/discovery surface renders each tick.

    Per (key, bucket): ``n`` = event count; ``prev_n`` = the key's count
    in the immediately preceding bucket (0 when absent — a key's FIRST
    appearance is maximal growth, which is exactly what trending means);
    ``growth_ppm = (n − prev_n)·1e6 DIV max(prev_n, 1)`` — exact
    integers. Buckets with ``n < min_count`` are not ranked. Rank by
    growth desc, then n desc, then key (deterministic); keep ``top_n``.

    Scale: one hash-agg to the (key, bucket) grain — millions of times
    smaller than the input — then a lag window PARTITIONED BY KEY over
    that aggregated grain (never over raw events) and a per-bucket
    WindowGroupLimit for the top-k. Absent-previous-bucket handling
    needs no spine join: lag() + a bucket-adjacency check.
    """
    if interval_ms <= 0:
        raise ValueError("interval_ms must be positive")
    if top_n < 1:
        raise ValueError("top_n must be >= 1")
    from pyspark.sql.window import Window

    step = int(interval_ms)
    ev = df.filter(
        F.col(ts_col).isNotNull() & F.col(key_col).isNotNull()
    ).select(
        F.col(key_col).alias("k"),
        (F.col(ts_col).cast("long") - (
            ((F.col(ts_col).cast("long") % step) + step) % step
        )).alias("bucket_ts"),
    )
    counts = ev.groupBy("k", "bucket_ts").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wk = Window.partitionBy("k").orderBy("bucket_ts")
    lagged = counts.select(
        "k",
        "bucket_ts",
        "n",
        F.lag("bucket_ts").over(wk).alias("__pb"),
        F.lag("n").over(wk).alias("__pn"),
    ).withColumn(
        "prev_n",
        F.when(
            F.col("__pb") == F.col("bucket_ts") - step, F.col("__pn")
        ).otherwise(F.lit(0)).cast("long"),
    )
    scored = lagged.filter(F.col("n") >= min_count).withColumn(
        "growth_ppm",
        F.expr("(n - prev_n) * 1000000 DIV greatest(prev_n, 1)").cast("long"),
    )
    wb = Window.partitionBy("bucket_ts").orderBy(
        F.desc("growth_ppm"), F.desc("n"), F.asc("k")
    )
    return (
        scored.withColumn("rank", F.row_number().over(wb).cast("long"))
        .filter(F.col("rank") <= top_n)
        .select(
            "bucket_ts", F.col("k").alias(key_col), "n", "prev_n",
            "growth_ppm", "rank",
        )
    )


def seasonal_profile(
    df: DataFrame,
    *,
    key_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Day-of-week × hour-of-day activity profile per key — the seasonal
    baseline a monitoring pipeline diffs live traffic against (and the
    watermark/capacity-planning companion to ``lateness_stats``).

    Output: one row per (key, dow 0–6, hour 0–23) that occurred —
    (n, key_total, share_ppm) with ``share_ppm = n·1e6 DIV key_total``.
    dow is UTC with 0 = Monday (epoch day 0, 1970-01-01, is a Thursday
    = 3); hour is the UTC hour. Exact integers end to end.

    Scale: ONE hash-agg to the ≤ 168·|keys| grain plus a broadcast join
    for totals — the input is scanned once, nothing data-sized shuffles.
    """
    d = 86_400_000
    h = 3_600_000
    t = F.col(ts_col).cast("long")
    days = F.expr(f"(CAST({ts_col} AS BIGINT) - pmod({ts_col}, {d})) DIV {d}")
    ev = df.filter(
        F.col(ts_col).isNotNull() & F.col(key_col).isNotNull()
    ).select(
        F.col(key_col).alias("k"),
        F.pmod(days + 3, F.lit(7)).cast("int").alias("dow"),
        F.pmod(
            F.expr(f"(CAST({ts_col} AS BIGINT) - pmod({ts_col}, {h})) DIV {h}"),
            F.lit(24),
        ).cast("int").alias("hour"),
    )
    cells = ev.groupBy("k", "dow", "hour").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    totals = cells.groupBy("k").agg(F.sum("n").cast("long").alias("key_total"))
    return (
        cells.join(F.broadcast(totals), "k")
        .select(
            F.col("k").alias(key_col),
            "dow",
            "hour",
            "n",
            "key_total",
            F.expr("n * 1000000 DIV key_total").cast("long").alias("share_ppm"),
        )
    )


def sequence_match(
    df: DataFrame,
    first: str,
    then: str,
    *,
    not_between: str | None = None,
    within_ms: int | None = None,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Event-sequence pattern match with NEGATION (the ClickHouse
    ``sequenceMatch('(?1)(?!3)(?2)')`` shape): per user, does a
    ``first`` event precede a ``then`` event with NO ``not_between``
    event strictly between them (and, with ``within_ms``, the pair
    closing inside the window)? The funnel family's missing predicate —
    ``window_funnel`` counts ordered chains, this one EXCLUDES paths
    interrupted by an error/cancel/refund.

    Exact without pairwise joins: on the per-(user, ts) deduplicated
    grain, one strictly-after conditional-min window (DESC order,
    GROWING frame — never a shrinking-frame rescan) yields each
    anchor's next ``then`` ts and next ``not_between`` ts; an anchor
    matches iff next_then exists, next_then ≤ next_block (a blocker AT
    the closing event's ts is not *strictly between*), and next_then ≤
    anchor + within. An anchor fails this test iff every later ``then``
    has a blocker strictly inside, so the per-user flag is exact.

    Returns one row per user with ≥1 ``first`` event (ts non-null):
    (user, matched 0/1, n_matches = anchor events whose pair qualifies,
    first_anchor_ts = earliest qualifying anchor, NULL if none).

    Scale: one hash-agg to the (user, ts) grain, one per-user window
    over it — per-user-activity bounded (the ``window_funnel``
    posture), no self-join, no fan-out.
    """
    from pyspark.sql.window import Window

    if within_ms is not None and within_ms <= 0:
        raise ValueError(f"within_ms must be positive: {within_ms}")
    ty = F.col(type_col)
    g = (
        df.filter(F.col(ts_col).isNotNull())
        .groupBy(F.col(user_col).alias("user"), F.col(ts_col).alias("t"))
        .agg(
            F.sum(F.when(ty == first, 1).otherwise(0)).alias("n_a"),
            F.max(F.when(ty == then, 1).otherwise(0)).alias("has_b"),
            F.max(
                F.when(ty == not_between, 1).otherwise(0)
                if not_between is not None
                else F.lit(0)
            ).alias("has_c"),
        )
    )
    # strictly-after minima: ts is unique per user on this grain, so
    # "rows before current in DESC order" == "ts strictly greater".
    w = (
        Window.partitionBy("user")
        .orderBy(F.desc("t"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = (
        g.withColumn("next_b", F.min(F.when(F.col("has_b") == 1, F.col("t"))).over(w))
        .withColumn("next_c", F.min(F.when(F.col("has_c") == 1, F.col("t"))).over(w))
        .withColumn(
            "__ok",
            (F.col("n_a") > 0)
            & F.col("next_b").isNotNull()
            & (F.col("next_c").isNull() | (F.col("next_b") <= F.col("next_c")))
            & (
                F.lit(True)
                if within_ms is None
                else F.col("next_b") <= F.col("t") + F.lit(int(within_ms))
            ),
        )
    )
    return (
        flagged.groupBy("user")
        .agg(
            F.max(F.when(F.col("__ok"), 1).otherwise(0)).cast("long").alias("matched"),
            F.coalesce(
                F.sum(F.when(F.col("__ok"), F.col("n_a"))), F.lit(0)
            ).cast("long").alias("n_matches"),
            F.min(F.when(F.col("__ok"), F.col("t"))).cast("long").alias(
                "first_anchor_ts"
            ),
            F.sum("n_a").alias("__total_a"),
        )
        .filter(F.col("__total_a") > 0)
        .drop("__total_a")
        .withColumnRenamed("user", user_col)
    )


def rfm_segments(
    df: DataFrame,
    *,
    user_col: str = "o_custkey",
    ts_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    k: int = 5,
    num_buckets=None,
) -> DataFrame:
    """RFM (recency / frequency / monetary) segmentation — the classic
    customer-value grid: per user, days since last activity, activity
    count, and exact cent spend, each equal-depth-binned into ``k``
    quantile bins.

    Bins come from :func:`~timeseriesfuser_spark.ops.scale.quantile_bins`
    (two-pass range-bucketed global ranking — NO single-partition ntile
    window anywhere), ascending by raw metric with the user id as tie
    break: ``r_bin`` 0 = most recent, ``f_bin``/``m_bin`` 0 = lowest.
    ``rfm_code = r_bin·100 + f_bin·10 + m_bin`` for grid reporting.

    Recency is measured against the corpus max activity day (broadcast
    1-row aggregate), in whole days of the ts's epoch-ms integer day
    index — exact BIGINTs end to end. The day index is session-timezone
    independent for TIMESTAMP / DATE / integer-epoch inputs
    (:func:`~timeseriesfuser_spark.timeutils.ts_epoch_ms_col`); only
    TIMESTAMP_NTZ columns assume a UTC session timezone.

    Scale: one hash-agg to the per-user grain, then three bucketed
    global rankings over that grain (#users rows, not events)."""
    from pyspark import StorageLevel

    from timeseriesfuser_spark.ops.scale import quantile_bins

    from timeseriesfuser_spark.timeutils import ts_epoch_ms_col

    base = df.filter(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.col(user_col).alias("user"),
        # tz-independent epoch-ms (DATE → unix_date; bigint → unit
        # heuristic — never CAST-as-seconds), then truncating day DIV.
        ts_epoch_ms_col(df, ts_col).alias("__ms"),
        F.coalesce(
            F.round(F.col(amount_col) * 100).cast("long"), F.lit(0)
        ).alias("__cents"),
    ).select(
        "user",
        F.expr("__ms DIV 86400000").cast("long").alias("__day"),
        "__cents",
    )
    per_user = base.groupBy("user").agg(
        F.max("__day").alias("__last_day"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("__cents").cast("long").alias("monetary_cents"),
    )
    maxday = base.agg(F.max("__day").alias("__max_day"))
    rel = per_user.crossJoin(F.broadcast(maxday)).select(
        "user",
        (F.col("__max_day") - F.col("__last_day"))
        .cast("long")
        .alias("recency_days"),
        "n_orders",
        "monetary_cents",
    )

    # rel (an aggregate over the orders) feeds the output join and each
    # ranking's sketch, scan and seeds branches: build it once.
    rel = track_persist(rel.persist(StorageLevel.MEMORY_AND_DISK))

    def _bin(col: str, name: str) -> DataFrame:
        return quantile_bins(
            rel.select("user", col), col, k,
            tiebreak_cols=["user"], num_buckets=num_buckets,
        ).select("user", F.col("bin").alias(name))

    out = (
        rel.join(_bin("recency_days", "r_bin"), "user")
        .join(_bin("n_orders", "f_bin"), "user")
        .join(_bin("monetary_cents", "m_bin"), "user")
    )
    return out.select(
        F.col("user").alias(user_col),
        "recency_days",
        "n_orders",
        "monetary_cents",
        "r_bin",
        "f_bin",
        "m_bin",
        (F.col("r_bin") * 100 + F.col("f_bin") * 10 + F.col("m_bin"))
        .cast("long")
        .alias("rfm_code"),
    )


def journey_paths(
    df: DataFrame,
    *,
    depth: int = 3,
    top: int = 20,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    seq_col: str = "event_id",
    sep: str = ">",
) -> DataFrame:
    """Top user journeys: each user's first ``depth`` events (by (ts,
    seq), NULL-ts rows excluded) concatenated into a path string, the
    ``top`` most common paths returned — the product-analytics "what do
    users actually do first" report (the Sankey-diagram data).

    Deterministic: the per-user prefix is picked by a row_number window
    with the sequence column as tie break, reassembled in rank order
    via sort_array (never collect_list's arrival order); path ties in
    the top-N break on path text. NULL event types render as '' inside
    the path (position preserved).

    Output: (path, n_steps, n_users). Scale: one per-user window
    (activity-bounded partitions), one path hash-agg, TakeOrdered
    top-N.
    """
    from pyspark.sql.window import Window

    if depth < 1 or top < 1:
        raise ValueError("depth and top must be >= 1")
    w = Window.partitionBy("__u").orderBy("__t", "__s")
    pref = (
        df.filter(F.col(ts_col).isNotNull() & F.col(user_col).isNotNull())
        .select(
            F.col(user_col).alias("__u"),
            F.col(ts_col).alias("__t"),
            F.col(seq_col).alias("__s"),
            F.coalesce(F.col(type_col).cast("string"), F.lit("")).alias("__e"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(depth))
    )
    paths = (
        pref.groupBy("__u")
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("__rn"), F.col("__e")))
                    ),
                    lambda st: st["__e"],
                ),
            ).alias("path"),
            F.count(F.lit(1)).cast("long").alias("n_steps"),
        )
    )
    return (
        paths.groupBy("path", "n_steps")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy(F.desc("n_users"), F.asc("path"))
        .limit(int(top))
    )


def funnel_step_lags(
    df: DataFrame,
    steps: Sequence[str],
    *,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Time-to-convert per funnel transition: for every consecutive step
    pair of the strict-sequence funnel (the :func:`funnel_counts`
    chain — tᵢ = min ts of stepᵢ strictly after tᵢ₋₁), the exact lag
    distribution over converting users — WHERE the funnel loses time,
    not just where it loses users.

    Output per transition: (step_idx, from_step, to_step, n_users,
    p50_x2, p90_x10, max_lag_ms) — median/p90 as den-scaled exact order
    statistics (the :func:`exact_percentiles` machinery), all BIGINT.

    Scale: the chain is one conditional-min aggregate + user equi-join
    per step on a SHRINKING per-user relation (the funnel shape); the
    percentile rank windows partition by transition over the converting
    users only. The whole result is ONE lazy plan — no per-step driver
    actions (each level localCheckpoints eagerly, the bounded per-user
    grain)."""
    from timeseriesfuser_spark.ops.timeseries import exact_percentiles

    steps = list(steps)
    if len(steps) < 2:
        raise ValueError("need at least 2 steps for a transition")
    u, t, ty = F.col(user_col), F.col(ts_col), F.col(type_col)
    reached = (
        df.filter(ty == steps[0])
        .groupBy(u.alias("__u"))
        .agg(F.min(t).cast("long").alias("__t"))
        .localCheckpoint(eager=True)
    )
    lag_rels = []
    for i, step in enumerate(steps[1:], start=1):
        nxt = (
            df.filter(ty == step)
            .select(u.alias("__u"), t.cast("long").alias("__ts"))
            .join(reached, "__u")
            .filter(F.col("__ts") > F.col("__t"))
            .groupBy("__u", F.col("__t").alias("__prev"))
            .agg(F.min("__ts").alias("__t"))
            .select("__u", "__t", (F.col("__t") - F.col("__prev")).alias("__lag"))
            .localCheckpoint(eager=True)
        )
        lag_rels.append(
            nxt.select(
                F.lit(i).cast("long").alias("step_idx"),
                F.lit(steps[i - 1]).alias("from_step"),
                F.lit(step).alias("to_step"),
                F.col("__lag"),
            )
        )
        reached = nxt.select("__u", "__t")
    lags = lag_rels[0]
    for rel in lag_rels[1:]:
        lags = lags.unionByName(rel)
    pct = exact_percentiles(
        lags, ((1, 2), (9, 10)),
        group_col="step_idx", value_col="__lag", cents=False, cache=False,
    ).withColumnRenamed("n", "n_users")
    mx = lags.groupBy("step_idx").agg(
        F.max("__lag").cast("long").alias("max_lag_ms"),
        F.min("from_step").alias("from_step"),
        F.min("to_step").alias("to_step"),
    )
    return (
        pct.join(mx, "step_idx")
        .select(
            "step_idx", "from_step", "to_step", "n_users",
            F.col("p1_2_x2").alias("p50_x2"),
            F.col("p9_10_x10").alias("p90_x10"),
            "max_lag_ms",
        )
    )


def cohort_ltv(
    orders: DataFrame,
    *,
    user_col: str = "o_custkey",
    ts_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    period_ms: int = 7 * 86_400_000,
) -> DataFrame:
    """Cohort lifetime-value triangle: users cohorted by their FIRST
    purchase period; for every (cohort, periods-since) cell, the period
    revenue and the RUNNING cumulative revenue per cohort — the
    LTV-curve data behind "how much is a week-N customer worth", the
    revenue companion to :func:`retention_cohorts`' activity matrix.

    Exact integers: cents revenue, period indices via pmod-floor
    (negative-safe), the cumulative sum a window over the AGGREGATED
    (cohort × periods-since) grain — #cohorts × #periods rows, never
    order rows. Rows with NULL user/ts are excluded; NULL amounts count
    as zero revenue (the order still anchors its cohort).

    Output: (cohort_period, periods_since, n_orders, revenue_cents,
    cum_revenue_cents) — all BIGINT.
    """
    from pyspark.sql.window import Window

    p = int(period_ms)
    if p <= 0:
        raise ValueError(f"period_ms must be positive: {period_ms}")
    from timeseriesfuser_spark.timeutils import ts_epoch_ms_col

    base = orders.filter(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.col(user_col).alias("__u"),
        # tz-independent epoch-ms (ADVICE r9: CAST(date AS TIMESTAMP) is
        # session-timezone dependent; bigint CAST reads SECONDS).
        ts_epoch_ms_col(orders, ts_col).alias("__t"),
        F.coalesce(
            F.round(F.col(amount_col) * 100).cast("long"), F.lit(0)
        ).alias("__cents"),
    ).withColumn(
        "__p", (F.col("__t") - F.pmod(F.col("__t"), F.lit(p))) / p
    ).withColumn("__p", F.col("__p").cast("long"))
    first = base.groupBy("__u").agg(F.min("__p").alias("__cohort"))
    grain = (
        base.join(first, "__u")
        .groupBy(
            F.col("__cohort").alias("cohort_period"),
            (F.col("__p") - F.col("__cohort")).cast("long").alias(
                "periods_since"
            ),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("__cents").cast("long").alias("revenue_cents"),
        )
    )
    w = (
        Window.partitionBy("cohort_period")
        .orderBy("periods_since")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return grain.withColumn(
        "cum_revenue_cents", F.sum("revenue_cents").over(w).cast("long")
    )


def peak_concurrency(
    df: DataFrame,
    gap_ms: int = 1_800_000,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    bucket_ms: int = 3_600_000,
    day_ms: int = 86_400_000,
) -> DataFrame:
    """Per-day session counts and PEAK simultaneous sessions — the exact
    sweep-line statistic, fully distributed (VERDICT r10 #4).

    Events sessionize per user on a ``gap_ms`` inactivity gap; a session
    belongs to its START day and contributes +1 at its start and −1 at
    ``end + 1`` to that day's sweep; the day's peak is the max running
    sum over boundaries ordered ``(t asc, delta asc)`` (−1 before +1 on
    ties, so back-to-back sessions never count as concurrent).

    Scale design — the naive sweep is a single window partitioned by
    day: one task per day walking every boundary, serial within the
    hottest day (the batch twin of ``peak_concurrency_stream``'s global
    state group). Here the sweep is TWO-LEVEL, the prefix-aggregate
    scheme ``operators/fill.py`` uses for global LOCF:

    1. boundaries bucket by ``bucket_ms`` ranges of t — ties (equal t)
       can never straddle a bucket edge, so within-bucket
       ``(t, delta)`` order is the global order restricted;
    2. one window per ``(day, bucket)`` computes the LOCAL running sum's
       max and the bucket's total delta — tasks bounded by a bucket's
       boundary density, never a whole day;
    3. a tiny merge on the per-bucket grain (≤ a few hundred rows per
       day) turns exclusive prefix sums of bucket totals into offsets:
       ``peak(day) = max over buckets (offset + local_max)`` — exact,
       because the running max of a concatenation is the max over
       segments of (segment offset + segment-internal running max).

    The per-user sessionization windows partition on ``user_col``
    (high-cardinality); nothing in the plan partitions on day alone at
    the boundary grain — gated in ``tests/test_plan_quality.py``.

    Output: ``(day, n_sessions, peak_concurrent)``, one row per day
    with at least one session start. Negative (pre-1970) timestamps are
    floor-bucketed (pmod idiom), never truncated toward zero.
    """
    from pyspark.sql.window import Window

    if gap_ms <= 0:
        raise ValueError(f"gap_ms must be positive: {gap_ms}")
    if bucket_ms <= 0:
        raise ValueError(f"bucket_ms must be positive: {bucket_ms}")
    ev = df.filter(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(F.col(ts_col).cast("long").alias("t"), F.col(user_col).alias("__u"))
    w = Window.partitionBy("__u").orderBy("t")
    lag_t = F.lag("t").over(w)
    sess = ev.withColumn(
        "__new",
        F.when(lag_t.isNull() | (F.col("t") - lag_t > gap_ms), 1).otherwise(0),
    ).withColumn(
        "__sid", F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    spans = (
        sess.groupBy("__u", "__sid")
        .agg(F.min("t").alias("s"), F.max("t").alias("e"))
        .withColumn(
            "day", F.expr(f"(s - pmod(s, {day_ms})) DIV {day_ms}").cast("long")
        )
    )
    return sweep_spans(spans, bucket_ms=bucket_ms)


def sweep_spans(
    spans: DataFrame, *, bucket_ms: int = 3_600_000
) -> DataFrame:
    """The distributed two-level sweep over a SESSION-SPAN relation
    ``(day, s, e)`` — steps 1-3 of :func:`peak_concurrency`'s scale
    design, factored out so any producer of exact session spans (the
    batch sessionizer above, or the sharded streaming stage
    ``streaming.session_spans_stream``'s emitted rows) composes the same
    exact per-day ``(n_sessions, peak_concurrent)``.

    Exactness is the segment-max decomposition on the TIME axis:
    boundaries bucket by ``bucket_ms`` ranges of t (ties can't straddle
    a bucket edge), one window per (day, bucket) computes the local
    running-sum max + total delta, and the per-day merge turns exclusive
    prefix sums of bucket totals into offsets —
    ``peak(day) = max over buckets (offset + local_max)``. No plan node
    partitions on day alone at the boundary grain.
    """
    from pyspark.sql.window import Window

    if bucket_ms <= 0:
        raise ValueError(f"bucket_ms must be positive: {bucket_ms}")
    bounds = spans.select(
        "day", F.col("s").alias("t"), F.lit(1).alias("delta")
    ).unionByName(
        spans.select("day", (F.col("e") + 1).alias("t"), F.lit(-1).alias("delta"))
    ).withColumn(
        "__bucket", F.expr(f"(t - pmod(t, {bucket_ms})) DIV {bucket_ms}")
    )
    local = Window.partitionBy("day", "__bucket").orderBy("t", "delta").rowsBetween(
        Window.unboundedPreceding, 0
    )
    seg = (
        bounds.withColumn("__cur", F.sum("delta").over(local))
        .groupBy("day", "__bucket")
        .agg(F.max("__cur").alias("__lmax"), F.sum("delta").alias("__tot"))
    )
    merge = Window.partitionBy("day").orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    peaks = (
        seg.withColumn("__off", F.coalesce(F.sum("__tot").over(merge), F.lit(0)))
        .groupBy("day")
        .agg(F.max(F.col("__off") + F.col("__lmax")).cast("long").alias(
            "peak_concurrent"
        ))
    )
    counts = spans.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions")
    )
    return counts.join(peaks, "day").select(
        "day", "n_sessions", "peak_concurrent"
    )
