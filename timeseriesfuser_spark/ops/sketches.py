"""Distributed mergeable sketches: Count-Min (heavy-hitter counts) and
HyperLogLog registers (approximate distinct), built with deterministic
md5-derived hashes so a DuckDB oracle reproduces them bit-for-bit.

Why sketches at 100 TB: exact per-key counts / exact distinct need a
full shuffle of the key column; a sketch is a FIXED-SIZE relation
(depth×width counters / 2^p registers) built with one map-side-combinable
aggregation, mergeable across partitions/days/shards by construction —
the idiom for dashboards and monitoring over unbounded key domains.

Determinism: every hash is ``md5_hash64`` (shared with the dedup family);
every counter is an exact integer; HLL's raw-estimate division is a short
fixed chain of IEEE *,/ ops (no libm transcendentals — those may differ
by 1 ulp across engines, so the bias corrections that need ln() are left
to the caller).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from timeseriesfuser_spark.ops.util import track_persist

from timeseriesfuser_spark.ops.dedup import md5_hash64

__all__ = [
    "countmin_sketch",
    "countmin_estimate",
    "countmin_merge",
    "hll_registers",
    "hll_estimate",
    "hll_merge",
    "bloom_bits",
    "bloom_merge",
    "bloom_prefilter",
]

_HASH_BITS = 60  # md5_hash64 yields a non-negative 60-bit value


def _row_bucket(col: Column, row_idx: int, width: int) -> Column:
    """Bucket of ``col`` in CMS row ``row_idx``: independent-per-row via
    the seed, non-negative pmod."""
    return F.pmod(md5_hash64(col.cast("string"), seed=row_idx), F.lit(width))


def _nsjoin(
    left: DataFrame,
    right: DataFrame,
    group_cols: "Sequence[str]",
    extra_keys: "Sequence[str]" = (),
    how: str = "inner",
) -> DataFrame:
    """Join on ``group_cols`` with NULL-SAFE equality (plus plain equality
    on ``extra_keys``, which are never NULL by construction), keeping the
    left side's key columns. The sketch builders keep NULL groups (groupBy
    semantics), so the estimators must match them back with
    ``eqNullSafe`` — a plain equi-join silently drops every NULL-group
    row, undercounting (ADVICE r5 medium)."""
    r = right
    for c in list(group_cols) + list(extra_keys):
        r = r.withColumnRenamed(c, f"__ns_{c}")
    cond = F.lit(True)
    for c in group_cols:
        cond = cond & left[c].eqNullSafe(r[f"__ns_{c}"])
    for c in extra_keys:
        cond = cond & (left[c] == r[f"__ns_{c}"])
    out = left.join(r, cond, how)
    return out.drop(*[f"__ns_{c}" for c in list(group_cols) + list(extra_keys)])


def countmin_sketch(
    df: DataFrame,
    key_col: str,
    *,
    depth: int = 4,
    width: int = 1024,
    weight_col: str | None = None,
    group_cols: "Sequence[str]" = (),
) -> DataFrame:
    """Count-Min sketch of ``key_col`` frequencies → one row per
    (*group_cols, row_idx, col_idx) with the exact counter value (zero
    cells absent; per-group sketches with ``group_cols``, state =
    #groups × depth × width).

    Plan shape: ONE hash aggregation on the (depth × width)-bounded
    bucket key — each input row explodes to ``depth`` (row, bucket)
    updates that partial-aggregate map-side, so the shuffle moves at most
    depth×width counters per task regardless of input size. Counters are
    exact integers → mergeable (sum) across shards and oracle-exact.
    """
    if depth < 1 or width < 1:
        raise ValueError(f"depth/width must be >= 1: {depth}x{width}")
    k = F.col(key_col)
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
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
        df.select(*g, F.explode(pairs).alias("__rc"), w.alias("__w"))
        .groupBy(
            *g,
            F.col("__rc.row_idx").alias("row_idx"),
            F.col("__rc.col_idx").alias("col_idx"),
        )
        .agg(F.sum("__w").alias("cnt"))
    )


def countmin_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    *,
    depth: int = 4,
    width: int = 1024,
    group_cols: "Sequence[str]" = (),
) -> DataFrame:
    """Point-query the sketch for every row of ``keys``: estimate =
    min over rows of the addressed counters (the CMS guarantee:
    estimate >= true count, overestimate bounded by the collision mass).
    With ``group_cols`` (present on BOTH the sketch and ``keys``), each
    key is answered from its own group's sketch.

    The ungrouped sketch side is depth×width rows → broadcast; grouped,
    the join keys include the group and AQE plans it. The probe is a
    zero-shuffle projection + ``depth`` lookups folded into one join +
    a min aggregation per key.
    """
    g = list(group_cols)
    k = F.col(key_col)
    probes = keys.select(
        *g,
        k.alias("key"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("row_idx"),
                        _row_bucket(k, d, width).alias("col_idx"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("__rc"),
    ).select(*g, "key", "__rc.row_idx", "__rc.col_idx")
    joined = _nsjoin(
        probes,
        sketch if g else F.broadcast(sketch),
        g,
        extra_keys=["row_idx", "col_idx"],
        how="left",
    )
    return (
        joined.groupBy(*g, "key")
        # an unhit cell means count 0 — min must see it as 0, not null
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_n"))
    )


def hll_registers(
    df: DataFrame,
    key_col: str,
    *,
    p: int = 8,
    group_cols: "Sequence[str]" = (),
) -> DataFrame:
    """HyperLogLog registers over ``key_col`` → (*group_cols, bucket,
    register), one row per non-empty bucket of each group's 2^p register
    array (no ``group_cols`` → one global array).

    bucket = low ``p`` bits of the 60-bit hash; register = max over the
    bucket's keys of the leading-zero rank of the remaining 60−p bits
    (computed portably via the length of ``bin(w)``: floor(log2)+1 —
    integer-exact in Spark and DuckDB). ONE hash aggregation bounded by
    #groups × 2^p rows, map-side combinable (max), mergeable across
    shards (max) — per-dimension distinct counts, the 100 TB dashboard
    sketch, at 2^p longs per dimension value.
    """
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4,16]: {p}")
    g = list(group_cols)
    m = 1 << p
    h = md5_hash64(F.col(key_col).cast("string"), seed=99)
    # h >> p, NOT h/m: a double division loses bits above 2^53 and the
    # hash is 60-bit — the truncation would corrupt the rank.
    w = F.shiftright(h, p)
    rest_bits = _HASH_BITS - p
    # rho = leading zeros of w within rest_bits, +1; w=0 -> rest_bits+1
    rho = F.when(
        w > 0, F.lit(rest_bits) + 1 - F.length(F.bin(w))
    ).otherwise(F.lit(rest_bits + 1))
    return (
        df.select(*g, F.pmod(h, F.lit(m)).alias("bucket"), rho.alias("__rho"))
        .groupBy(*g, "bucket")
        .agg(F.max("__rho").cast("long").alias("register"))
    )


def hll_estimate(
    registers: DataFrame,
    *,
    p: int = 8,
    group_cols: "Sequence[str]" = (),
) -> DataFrame:
    """Raw HLL estimate from a register relation: one row per group
    (*group_cols, n_buckets_hit, sum_scaled, max_register, estimate);
    no ``group_cols`` → the single global row.

    Exact-integer core: with K = max register, Σ 2^−M_j is computed as
    the integer Σ 2^(K−M_j) in decimal(38,0) (empty buckets contribute
    2^K each), so the only floating-point is the final alpha·m²·2^K / S
    chain — IEEE *,/ only, no libm, engine-identical. The small/large
    range bias corrections need ln() (libm, not cross-engine-exact) and
    are intentionally left out of the oracle-checked surface.
    """
    g = list(group_cols)
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    per = registers.groupBy(*g) if g else registers
    agg = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets_hit"),
        F.max("register").cast("long").alias("max_register"),
    )
    if g:
        # #groups-bounded relation; the join key is the group (null-safe —
        # the builders keep NULL groups), AQE plans it
        joined = _nsjoin(registers, agg, g)
    else:
        joined = registers.crossJoin(F.broadcast(agg))
    scaled = joined.groupBy(*g, "n_buckets_hit", "max_register").agg(
        F.sum(
            F.expr("CAST(shiftleft(1L, CAST(max_register - register AS INT))"
                   " AS DECIMAL(38,0))")
        ).alias("__hit_sum")
    )
    # empty buckets: (m - hit) registers of 0 -> each contributes 2^K
    total = scaled.select(
        *g,
        "n_buckets_hit",
        "max_register",
        (
            F.col("__hit_sum")
            + (F.lit(m) - F.col("n_buckets_hit")).cast("decimal(38,0)")
            * F.expr("CAST(shiftleft(1L, CAST(max_register AS INT))"
                     " AS DECIMAL(38,0))")
        ).alias("sum_scaled"),
    )
    est = (
        F.lit(alpha)
        * F.lit(float(m))
        * F.lit(float(m))
        * F.pow(F.lit(2.0), F.col("max_register").cast("double"))
        / F.col("sum_scaled").cast("double")
    )
    return total.select(
        *g,
        "n_buckets_hit",
        F.col("sum_scaled").cast("decimal(38,0)").alias("sum_scaled"),
        "max_register",
        F.round(est, 4).alias("estimate"),
    )


def countmin_merge(*sketches: DataFrame) -> DataFrame:
    """Merge CMS sketch relations built with the SAME depth/width/seed:
    counters add cell-wise. Because each input is (depth×width)-bounded,
    the merge is a union + one bounded aggregation — the whole point of
    sketching shards/days independently and combining later. The result
    is bit-identical to sketching the concatenated input (sum is
    associative/commutative; absent cells are zero)."""
    if not sketches:
        raise ValueError("countmin_merge needs at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    keys = [c for c in out.columns if c != "cnt"]  # + any group cols
    return out.groupBy(*keys).agg(F.sum("cnt").alias("cnt"))


def hll_merge(*register_sets: DataFrame) -> DataFrame:
    """Merge HLL register relations built with the SAME p/seed: registers
    combine by max. Union + one 2^p-bounded aggregation; bit-identical
    to building the registers over the concatenated input (max is
    associative/commutative/idempotent; absent buckets are rank 0)."""
    if not register_sets:
        raise ValueError("hll_merge needs at least one register set")
    out = register_sets[0]
    for s in register_sets[1:]:
        out = out.unionByName(s)
    keys = [c for c in out.columns if c != "register"]  # + any group cols
    return out.groupBy(*keys).agg(
        F.max("register").cast("long").alias("register")
    )


def hll_estimate_corrected(
    registers: DataFrame,
    *,
    p: int = 8,
    group_cols: "Sequence[str]" = (),
) -> DataFrame:
    """Bias-corrected HLL cardinality (Flajolet et al. 2007): the raw
    alpha·m²/Σ2^−M estimate, replaced by linear counting m·ln(m/V) when
    the raw estimate is in the small range (≤ 2.5·m) and empty buckets
    remain (V > 0). Per-group with ``group_cols`` (grouped registers).

    NOT part of the oracle-checked contract surface: ln() is a libm call
    whose last ulp may differ across engines — use ``hll_estimate`` for
    the engine-portable raw components and this for the number a human
    actually wants. Same plan shape (2^p-bounded inputs, scalar out).
    """
    g = list(group_cols)
    m = 1 << p
    raw = hll_estimate(registers, p=p, group_cols=g)
    v = F.lit(m) - F.col("n_buckets_hit")  # empty buckets
    small = (F.col("estimate") <= 2.5 * m) & (v > 0)
    lc = F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double"))
    return raw.select(
        *g,
        "n_buckets_hit",
        "max_register",
        F.col("estimate").alias("raw_estimate"),
        F.round(F.when(small, lc).otherwise(F.col("estimate")), 4).alias(
            "estimate"
        ),
    )


def histogram_sketch(
    df: DataFrame,
    value_col: str,
    *,
    lo: float,
    hi: float,
    bins: int = 256,
    group_cols: "Sequence[str]" = (),
) -> DataFrame:
    """Fixed-bin equal-width histogram sketch of ``value_col`` → one row
    per non-empty bin: (*group_cols, bin, cnt) — per-group histograms
    with ``group_cols`` (state = #groups × (bins+2)). Bin −1 holds
    underflow (< lo), bin ``bins`` holds overflow (≥ hi); NULLs are
    skipped.

    The third mergeable sketch next to CMS/HLL: a (bins+2)-bounded
    relation built by ONE map-side-combinable aggregation — the
    distributed quantile idiom when approx_percentile's t-digest (not
    engine-portable) can't be oracle-checked. Bin math is one IEEE
    multiply + divide + floor, bit-identical across engines.
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
        # fp edge: v just under hi can floor to exactly `bins`; clamp
        .otherwise(F.least(raw, F.lit(bins - 1).cast("long")))
    )
    g = list(group_cols)
    return (
        df.filter(v.isNotNull())
        .select(*g, bucket.alias("bin"))
        .groupBy(*g, "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def histogram_merge(*sketches: DataFrame) -> DataFrame:
    """Merge histogram sketches built with the SAME lo/hi/bins: counts
    add bin-wise (union + one bounded aggregation), bit-identical to
    sketching the concatenated input."""
    if not sketches:
        raise ValueError("histogram_merge needs at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    keys = [c for c in out.columns if c != "cnt"]  # + any group cols
    return out.groupBy(*keys).agg(F.sum("cnt").alias("cnt"))


def histogram_quantiles(
    sketch: DataFrame,
    qs: "list[float]",
    *,
    lo: float,
    hi: float,
    bins: int = 256,
    group_cols: "Sequence[str]" = (),
) -> DataFrame:
    """Quantile estimates from a histogram sketch: for each q ∈ (0, 1],
    locate the bin where the cumulative count crosses q·total and
    linearly interpolate inside it → (*group_cols, q, bin, estimate) —
    per-group quantiles when the sketch was built with ``group_cols``.
    Underflow/overflow bins clamp to the [lo, hi] edges.

    Every step is integer cumsum + one IEEE multiply/divide chain in a
    fixed association order, so a SQL oracle reproduces the estimate
    bit-for-bit. The cumsum window runs on the (bins+2)-bounded sketch
    relation per group — the ungrouped SinglePartition is over ≤ bins+2
    rows by construction, never data-sized (same exemption as the top-k
    limit relations); grouped, the window partitions by the group.
    """
    from pyspark.sql.window import Window

    # q=0 (or anything outside (0,1]) has no crossing bin — it would be
    # silently absent from the result, so reject it loudly (ADVICE r5).
    bad = [q for q in qs if not 0.0 < float(q) <= 1.0]
    if bad:
        raise ValueError(f"qs must be in (0, 1]: {bad}")
    g = list(group_cols)
    step = (float(hi) - float(lo)) / bins
    base = Window.partitionBy(*g) if g else Window
    wspec = base.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = sketch.select(
        *g,
        "bin",
        "cnt",
        F.sum("cnt").over(wspec).alias("__cum"),
        F.sum("cnt").over(
            base.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
        ).alias("__cum_before"),
    ).withColumn("__cum_before", F.coalesce("__cum_before", F.lit(0).cast("long")))
    per = cum.groupBy(*g) if g else cum
    total = per.agg(F.max("__cum").alias("__total"))
    qvals = F.broadcast(
        sketch.sparkSession.createDataFrame(
            [(float(q),) for q in qs], "q double"
        )
    )
    if g:
        qrel = _nsjoin(cum, total, g).crossJoin(qvals)
    else:
        qrel = cum.crossJoin(F.broadcast(total)).crossJoin(qvals)
    target = F.col("q") * F.col("__total").cast("double")
    hit = qrel.filter(
        (F.col("__cum").cast("double") >= target)
        & (F.col("__cum_before").cast("double") < target)
    )
    ebin = F.least(
        F.greatest(F.col("bin"), F.lit(0).cast("long")),
        F.lit(bins - 1).cast("long"),
    )
    frac = (target - F.col("__cum_before").cast("double")) / F.col(
        "cnt"
    ).cast("double")
    est = F.lit(float(lo)) + (ebin.cast("double") + frac) * F.lit(step)
    return hit.select(
        *g,
        "q",
        F.col("bin"),
        F.least(
            F.greatest(est, F.lit(float(lo))), F.lit(float(hi))
        ).alias("estimate"),
    )


def bloom_bits(
    keys: DataFrame,
    key_col: str,
    *,
    m_bits: int = 1 << 20,
    k: int = 4,
    seed: int = 700,
    group_cols: "Sequence[str]" = (),
) -> DataFrame:
    """Set-bit relation of a Bloom filter over ``keys[key_col]``: the
    DISTINCT positions of all ``k`` seeded md5 hashes — bounded by
    min(k·n, m_bits) rows, mergeable across shards by union+distinct
    (bit-OR), broadcastable to the probe side.

    With ``group_cols``, one INDEPENDENT filter per group value (state =
    #groups × m_bits worst case, (*group_cols, bit) rows) — the per-day /
    per-source bit relation of lakehouse join pruning; the hash covers
    only the key, so the union of per-group bit sets equals the ungrouped
    relation over the same input. NULL group values are kept as their own
    group (distinct semantics, same as the other sketch builders)."""
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
    return keys.select(*g, F.explode(pos).alias("bit")).distinct()


def bloom_merge(*bit_sets: DataFrame) -> DataFrame:
    """Merge Bloom bit relations built with the SAME m_bits/k/seed (and
    group_cols): set-bit union = bit-OR. Union + one bounded distinct;
    bit-identical to building the filter over the concatenated input."""
    if not bit_sets:
        raise ValueError("bloom_merge needs at least one bit set")
    out = bit_sets[0]
    for s in bit_sets[1:]:
        out = out.unionByName(s)
    return out.distinct()


def bloom_prefilter(
    fact: DataFrame,
    bits: DataFrame,
    fact_col: str,
    *,
    m_bits: int = 1 << 20,
    k: int = 4,
    seed: int = 700,
    group_cols: "Sequence[str]" = (),
    cache: bool = True,
) -> DataFrame:
    """Keep the rows of ``fact`` whose ``fact_col`` MIGHT be in the key
    set behind ``bits`` — one-sided: a true member always passes; false
    positives pass at ~(1−e^(−kn/m))^k and are eliminated by the exact
    join that follows. NULL keys never pass (SQL IN semantics).

    With ``group_cols`` (present on BOTH sides), each fact row is tested
    against ITS OWN group's filter — membership in another group's key
    set does not leak through. Group matching is null-safe (the builders
    keep NULL groups), key hashing is not (NULL key never passes).

    THE shuffle-reduction idiom for selective big-table joins at 100 TB:
    ``k`` BROADCAST left-semi joins against the bounded bit relation
    drop non-matching fact rows at the scan side, so the exact join's
    shuffle moves only survivors. Same plan Spark's runtime row-level
    filtering builds internally — here explicit, composable, and
    oracle-checkable.

    ``cache``: each of the ``k`` broadcast builds references ``bits``,
    and Catalyst re-executes the shared subplan per consumer — with a
    bits relation DERIVED from a fact scan (the usual ``bloom_bits``
    case) that multiplies the build-side scan ``k``-fold. The default
    persists the BOUNDED bit relation (≤ min(k·n, m_bits) rows,
    MEMORY_AND_DISK, evictable; released when an enclosing
    ``ops.util.cache_scope()`` exits); pass ``cache=False`` if the
    caller already persisted it.
    """
    from pyspark import StorageLevel

    g = list(group_cols)
    if cache:
        bits = track_persist(bits.persist(StorageLevel.MEMORY_AND_DISK))
    out = fact
    fc = F.col(fact_col).cast("string")
    for i in range(k):
        p = F.pmod(md5_hash64(fc, seed=seed + i), F.lit(m_bits))
        b = bits.select(
            *[F.col(c).alias(f"__bloom_g{i}_{j}") for j, c in enumerate(g)],
            F.col("bit").alias(f"__bloom_b{i}"),
        )
        cond = p == F.col(f"__bloom_b{i}")
        for j, c in enumerate(g):
            cond = cond & F.col(c).eqNullSafe(F.col(f"__bloom_g{i}_{j}"))
        out = out.join(F.broadcast(b), cond, "left_semi")
    return out
