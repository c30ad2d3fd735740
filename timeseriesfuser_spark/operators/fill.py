"""Scalable forward fill (last observation carried forward) over a global
time order, and the range-bucketed prefix scan it runs on.

Semantics ≈ reference ``_forward_fill_dataframe`` + its cross-chunk seeding
(/root/reference/timeseriesfuser/core.py:1034-1072): every null takes the
most recent non-null value of its column in ``order_by`` order, across the
whole stream.

The naive Spark spelling — ``F.last(c, ignorenulls=True)`` over
``Window.orderBy(ts)`` with no partitionBy — funnels ALL rows through one
task and cannot scale. :func:`_bucketed_scan` implements the standard
two-pass range-bucketed parallel prefix scan (SURVEY.md §4.3.1; Blelloch,
"Prefix sums and their applications", 1990), shared by every global-order
scan in the package (LOCF here, token offsets, exact global rank, the 2-D
skyline's prefix minimum, lateness high-water marks):

  1. assign each row a *data-derived* range-bucket id on the leading order
     column; scan *within* each bucket via a window partitioned on the
     bucket id (parallel across buckets);
  2. per bucket, one seed row (its total / extreme / last non-null — the
     distributed analogue of the reference's ``last_row_vals`` carry at
     core.py:1043-1071); each seed is fanned out to the buckets after it
     and aggregated per target bucket (with group keys: a window over
     each group's seeds), giving every bucket its carry-in,
     broadcast-joined back. The carry is built in the plan from the
     seeds alone: no driver lookup table, no global-order window.

The bucket id is a pure function of the row (NOT ``spark_partition_id``
after a repartition, which is evaluated independently per plan branch and
can disagree under AQE coalescing — observed as a wrong-carry bug). No
single-task stage is proportional to input size — safe at 100 TB.
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Tuple, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

_PID = "__pid"
_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def _bucket_sql(first_order_col: str, bounds: List[float]) -> str:
    """#{b in bounds : b <= x} as a binary-search CASE tree, one parsed
    SQL expression.

    Replaces the ``aggregate(array(<bounds>), ...)`` higher-order-function
    formulation (r15): HOFs are interpreted per element — O(#bounds)
    lambda evaluations per row, plus ~300 py4j round-trips to build the
    Column tree — while the CASE tree is whole-stage-codegen'd at
    O(log #bounds) comparisons per row and parses JVM-side in one call.
    With thousands of bounds on a real cluster the per-row gap is ~100×.

    NULL ordering values descend the ELSE branch at every level and land
    in bucket 0, exactly like the old per-element ``when(x >= b, 1)``
    (a NULL comparison contributes 0); NaN compares greater than every
    bound in both formulations (Spark's NaN ordering), landing in the
    last bucket."""
    col_q = first_order_col.replace("`", "``")
    x = f"CAST(`{col_q}` AS DOUBLE)"

    def tree(lo: int, hi: int) -> str:
        # counts bounds with index in [lo, hi) that are <= x
        if lo >= hi:
            return "0"
        if hi - lo == 1:
            return f"(CASE WHEN {x} >= CAST('{bounds[lo]!r}' AS DOUBLE) THEN 1 ELSE 0 END)"
        mid = (lo + hi) // 2
        return (
            f"(CASE WHEN {x} >= CAST('{bounds[mid]!r}' AS DOUBLE) "
            f"THEN {mid - lo + 1} + {tree(mid + 1, hi)} "
            f"ELSE {tree(lo, mid)} END)"
        )

    return tree(0, len(bounds))


# combine -> its aggregate (window frames; ``last`` seeds and fan-out
# carries, which have no row order, use max_by instead, see _bucketed_scan)
_WINDOW_AGG = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "last": lambda v: F.last(v, ignorenulls=True),
}
# combine -> (within-bucket scan, carry-in) -> result, NULL-skipping like
# the SQL window aggregate
_COMBINE = {
    "sum": lambda lv, cv: F.coalesce(lv + cv, lv, cv),
    "min": F.least,
    "max": F.greatest,
    "last": F.coalesce,
}


def _bucketed_scan(
    df: DataFrame,
    order: Sequence[str],
    scans: Sequence[Tuple[str, Union[str, Column], str]],
    *,
    partition_by: Sequence[str] = (),
    inclusive: bool = True,
    num_buckets: Optional[int] = None,
    bounds: Optional[List[float]] = None,
    bucket_col: Optional[Column] = None,
    total: Optional[str] = None,
) -> DataFrame:
    """Global prefix scan of ``df`` in ``order`` order (per
    ``partition_by`` group) without a global-order window.

    ``scans``: ``(out, value, combine)`` triples; ``combine`` is ``sum``,
    ``min``, ``max`` or ``last`` (last non-null). ``out`` is the scan of
    ``value`` over the rows up to and including this one (``inclusive``)
    or strictly before it, with SQL window NULL semantics (a count is a
    sum of 1s; a 1-based rank is an inclusive count). An ``out`` naming
    an existing column replaces it in place. ``total`` names an extra
    column holding the FIRST scan's combine over the row's whole group.

    ``order`` must be a total order within a group for ``last`` and for
    row-frame exactness; ties on ``order[0]`` always share a bucket.
    Bucket cuts on ``order[0]`` come from, in turn: ``bucket_col`` (an
    in-plan id, non-negative and MONOTONE in ``order[0]``, clamped to
    ``num_buckets - 1``), ``bounds`` (any sorted cut list), or one
    ``approxQuantile`` sketch of ``num_buckets`` (default
    ``spark.sql.shuffle.partitions``) ranges — the only construction-time
    job. The sketch needs a numeric ``order[0]``: a grouped scan over any
    other type gets one bucket per group (a plain per-group window); an
    ungrouped one raises ValueError, since one bucket would be a
    single-task global window. Cuts only balance tasks; any monotone cut
    list gives the exact answer.

    Carry cost: with ``partition_by``, a window over each group's seeds
    in bucket order — one row per occupied (group, bucket), so
    #groups × #buckets rows at most, broadcast back. Without it, each
    seed row is exploded to its own and every later bucket and
    aggregated per target — about #buckets²/2 tiny rows (#buckets² with
    ``total``), where #buckets ≤ ``num_buckets`` (default: the shuffle
    partition count). The bucket column is named ``__pid`` in the plan
    and dropped from the result. ``df`` is read twice by the caller's
    action (scan branch + seeds branch) and deliberately not persisted
    here: for a cheap input re-scanning beats caching (21 s vs 90 s at
    30M rows); a caller with an expensive or nondeterministic input
    persists it."""
    pb = list(partition_by)
    n = num_buckets or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    if bucket_col is not None:
        nb = max(1, n)
        pid = F.greatest(F.lit(0), F.least(bucket_col.cast("long"), F.lit(nb - 1)))
    else:
        if bounds is not None:
            bounds = sorted(set(float(b) for b in bounds))
        elif n > 1 and isinstance(df.schema[order[0]].dataType, _NUMERIC):
            qs = [i / n for i in range(1, n)]
            bounds = sorted(set(df.stat.approxQuantile(order[0], qs, 1.0 / (4 * n))))
        elif n > 1 and not pb:
            raise ValueError(
                f"order column {order[0]!r} is not numeric: put a numeric column "
                "monotone in it first in the order (e.g. its epoch seconds or a "
                "big-endian key prefix), or pass bounds or bucket_col"
            )
        else:
            bounds = []
        nb = len(bounds) + 1
        pid = F.expr(_bucket_sql(order[0], bounds)) if bounds else F.lit(0)
    # A named value is scanned as is; a Column value gets a fresh name.
    vals = [v if isinstance(v, str) else f"__sv{i}" for i, (_, v, _) in enumerate(scans)]
    part = df.select(
        "*", pid.cast("long").alias(_PID),
        *[v.alias(vals[i]) for i, (_, v, _) in enumerate(scans) if not isinstance(v, str)],
    )
    w = (
        Window.partitionBy(*pb, _PID)
        .orderBy(*[F.col(c) for c in order])
        .rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    )
    local = part.select(
        "*",
        *[
            _WINDOW_AGG[c](F.col(vals[i])).over(w).alias(f"__sl{i}")
            for i, (_, _, c) in enumerate(scans)
        ],
    )
    outs = {}
    if nb == 1 and total is None:
        joined = local
        for i, (out, _, _) in enumerate(scans):
            outs[out] = F.col(f"__sl{i}")
    else:
        order_struct = F.struct(*[F.col(c) for c in order])
        seed_aggs = []
        for i, (_, _, c) in enumerate(scans):
            v = F.col(vals[i])
            seed_aggs.append(
                (F.max_by(v, F.when(v.isNotNull(), order_struct)) if c == "last"
                 else _WINDOW_AGG[c](v)).alias(f"__ss{i}")
            )
        seeds = part.groupBy(*pb, _PID).agg(*seed_aggs)
        # Group keys get fresh names, joined null-safe: the carry branch
        # cannot alias-collide with the scan branch, and a NULL group
        # keeps its carry.
        keys = [F.col(k).alias(f"__sk{j}") for j, k in enumerate(pb)]
        if pb:
            # Per group, a window over its seeds in bucket order: one row
            # per occupied (group, bucket), partitioned by the group.
            wg = Window.partitionBy(*pb)
            wb = wg.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
            carry = seeds.select(
                *keys, F.col(_PID).alias("__tgt"),
                *[_WINDOW_AGG[c](F.col(f"__ss{i}")).over(wb).alias(f"__sc{i}")
                  for i, (_, _, c) in enumerate(scans)],
                *([_WINDOW_AGG[scans[0][2]](F.col("__ss0")).over(wg).alias("__stot")]
                  if total is not None else []),
            )
        else:
            # No group to partition by: fan each seed out to the target
            # buckets from its own on (every bucket for the total); a
            # target aggregates only the seeds strictly before it.
            fan = seeds.select(
                "*",
                F.explode(F.sequence(F.lit(0) if total else F.col(_PID), F.lit(nb - 1))).alias("__tgt"),
            )
            before = F.col(_PID) < F.col("__tgt")
            carry_aggs = []
            for i, (_, _, c) in enumerate(scans):
                s = F.col(f"__ss{i}")
                carry_aggs.append(
                    (F.max_by(s, F.when(before & s.isNotNull(), F.col(_PID))) if c == "last"
                     else _WINDOW_AGG[c](F.when(before, s))).alias(f"__sc{i}")
                )
            if total is not None:
                carry_aggs.append(_WINDOW_AGG[scans[0][2]]("__ss0").alias("__stot"))
            carry = fan.groupBy("__tgt").agg(*carry_aggs)
        cond = F.col(_PID) == F.col("__tgt")
        for j, k in enumerate(pb):
            cond = cond & F.col(k).eqNullSafe(F.col(f"__sk{j}"))
        joined = local.join(F.broadcast(carry), cond, "left")
        for i, (out, _, c) in enumerate(scans):
            outs[out] = _COMBINE[c](F.col(f"__sl{i}"), F.col(f"__sc{i}"))
        if total is not None:
            outs[total] = F.col("__stot")
    return joined.select(
        *[outs[c].alias(c) if c in outs else F.col(c) for c in df.columns],
        *[e.alias(o) for o, e in outs.items() if o not in df.columns],
    )


def forward_fill(
    df: DataFrame,
    order_by: Sequence[str],
    cols: Sequence[str],
    num_partitions: Optional[int] = None,
    bounds: Optional[List[float]] = None,
) -> DataFrame:
    """LOCF-fill ``cols`` in global ``order_by`` order.

    ``order_by`` should be a total order (include tiebreakers, e.g.
    ``["__timestamp", "__src_id", "__seq"]``). Range buckets split on the
    *first* order column only; rows tied on it stay in one bucket, where the
    within-bucket window applies the full tuple order.

    ``bounds``: precomputed range-bucket boundaries on ``order_by[0]``. A
    caller that already knows the distribution passes them to skip the
    quantile pass — the boundaries only control task balance, not
    correctness, so any monotone cut list is valid.

    The input is read twice by the caller's action and not persisted
    here (see :func:`_bucketed_scan`); a caller with an expensive input
    persists it before calling.
    """
    cols = [c for c in cols if c in df.columns]
    if not cols:
        return df
    return _bucketed_scan(
        df, order_by, [(c, c, "last") for c in cols],
        num_buckets=num_partitions, bounds=bounds,
    )
