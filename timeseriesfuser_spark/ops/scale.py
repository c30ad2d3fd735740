"""Scale utilities: skew salting and bucketed storage for co-located joins.

These are the knobs a 100 TB deployment turns when AQE's automatic skew
handling isn't enough (a single hot key inside one logical partition) or
when the same join runs repeatedly (pre-bucketed tables eliminate the
shuffle entirely).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def salted(df: DataFrame, salts: int, *, deterministic_by: Optional[str] = None) -> DataFrame:
    """Add a salt column in [0, salts) to break up a hot key.

    ``deterministic_by``: derive the salt from an existing (high-cardinality)
    column instead of rand() — reproducible runs, same spreading effect.
    """
    if deterministic_by is not None:
        salt = F.pmod(F.hash(F.col(deterministic_by)), F.lit(salts))
    else:
        salt = F.floor(F.rand() * salts).cast("int")
    return df.withColumn(SALT_COL, salt.cast("int"))


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    salts: int = 8,
    how: str = "inner",
    deterministic_by: Optional[str] = None,
) -> DataFrame:
    """Skew-resistant equi-join: salt the big side, replicate the small side
    once per salt value, join on (keys + salt).

    A key holding p% of the big side spreads over ``salts`` tasks instead
    of one. Cost: the small side is duplicated ``salts`` times — use only
    when the small side is genuinely small (it usually broadcasts anyway;
    this helper targets the case where it is too big to broadcast but far
    smaller than the big side).

    Only ``inner`` and ``left`` (big-side-preserving) joins are sound:
    an outer/right join would null-extend each of the ``salts`` copies of
    an unmatched small row, emitting it ``salts`` times.
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports inner/left only (got {how!r}): outer "
            "joins would duplicate unmatched small-side rows per salt"
        )
    on = list(on)
    b = salted(big, salts, deterministic_by=deterministic_by)
    s = small.withColumn(
        SALT_COL, F.explode(F.array(*[F.lit(i) for i in range(salts)]))
    )
    out = b.join(s, on + [SALT_COL], how)
    return out.drop(SALT_COL)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    *,
    sort_cols: Optional[Sequence[str]] = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (+optionally sorted) table so future joins and
    aggregations on ``bucket_cols`` run shuffle-free (Spark reads each
    bucket as a pre-partitioned split; sort-merge joins skip the exchange
    and, with ``sort_cols``, the sort).

    Bucketed tables require the session catalog (saveAsTable) — path-only
    writes cannot carry bucket metadata.
    """
    w = df.write.format(fmt).mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def zorder_key(
    cols: Sequence[str],
    *,
    bits: Optional[int] = None,
) -> "F.Column":
    """Morton (Z-order) key: interleave the low ``bits`` of each column into
    one long, so rows close in EVERY dimension land close in the 1-D sort
    order. Sorting/range-partitioning files by this key is what makes
    min/max-stat data skipping effective for predicates on *any* of the
    dimensions — the same layout trick as Delta's OPTIMIZE ZORDER, built
    from plain column expressions.

    Inputs must be non-negative integers; values are masked to ``bits``
    (pre-bucket raw values — e.g. ``ts DIV 3600000``, a rank, an id — so
    the low bits carry locality). Default ``bits`` = 63 // n_cols.

    The key is a pure projection (bits·n shift/and/or terms, all inside
    whole-stage codegen): zero shuffle; the only cost of Z-ordering a
    table is the range-partitioned write you were doing anyway.
    """
    cols = list(cols)
    if not cols:
        raise ValueError("cols must be non-empty")
    n = len(cols)
    b = int(bits) if bits is not None else 63 // n
    if b < 1 or b * n > 63:
        raise ValueError(
            f"need 1 <= bits and bits * n_cols <= 63: bits={b}, n_cols={n}"
        )
    terms = []
    for j, c in enumerate(cols):
        for i in range(b):
            terms.append(
                F.shiftleft(
                    F.shiftright(F.col(c).cast("long"), i).bitwiseAND(F.lit(1)),
                    i * n + j,
                )
            )
    out = terms[0]
    for t in terms[1:]:
        out = out.bitwiseOR(t)
    return out.cast("long")


def zorder_key_sql(cols: Sequence[str], *, bits: Optional[int] = None) -> str:
    """ANSI-SQL rendering of :func:`zorder_key` (same bit placement), for
    oracle/verification engines."""
    cols = list(cols)
    if not cols:
        raise ValueError("cols must be non-empty")
    n = len(cols)
    b = int(bits) if bits is not None else 63 // n
    if b < 1 or b * n > 63:
        raise ValueError(
            f"need 1 <= bits and bits * n_cols <= 63: bits={b}, n_cols={n}"
        )
    terms = [
        f"(((CAST({c} AS BIGINT) >> {i}) & 1) << {i * n + j})"
        for j, c in enumerate(cols)
        for i in range(b)
    ]
    return "(" + " | ".join(terms) + ")"


def zorder_layout(
    df: DataFrame,
    cols: Sequence[str],
    *,
    n_partitions: Optional[int] = None,
    bits: Optional[int] = None,
    key_col: str = "__zkey",
) -> DataFrame:
    """Physically cluster ``df`` by the Z-order key over ``cols``:
    range-partition on the key (balanced output files via sampled range
    bounds) then sort within partitions — the write-side half of
    Z-ordering. Follow with ``.write`` to get files whose per-column
    min/max footers are tight on all ``cols`` at once.
    """
    key = zorder_key(cols, bits=bits)
    out = df.withColumn(key_col, key)
    if n_partitions:
        out = out.repartitionByRange(int(n_partitions), F.col(key_col))
    else:
        out = out.repartitionByRange(F.col(key_col))
    return out.sortWithinPartitions(key_col)


def key_skew_report(
    df: DataFrame,
    keys: Sequence[str],
    top_n: int = 10,
) -> DataFrame:
    """Heavy-hitter diagnostics for a prospective shuffle key: the ``top_n``
    most frequent key values with exact count, corpus share (ppm, exact
    integer), and dense rank — the numbers that tell you whether a
    groupBy/join on ``keys`` needs salting or AQE skew handling before you
    run it at full scale.

    Output: keys…, ``cnt``, ``share_ppm`` (= cnt·1e6 DIV total), ``rank``
    (1 = hottest; count ties share a rank, broken by key order for
    determinism of the row set).

    Scale: one map-side-combinable count aggregation, then a driver-bounded
    TakeOrdered top-N (never a global sort of the key space). The total is
    attached as a 1-row broadcast scalar, not a window.
    """
    keys = list(keys)
    if not keys:
        raise ValueError("keys must be non-empty")
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))
    total = df.count()
    top = counts.orderBy(
        F.desc("cnt"), *[F.col(k) for k in keys]
    ).limit(int(top_n))
    from pyspark.sql.window import Window

    # rank over <= top_n rows: the window input is already driver-bounded.
    w = Window.orderBy(F.desc("cnt"))
    return top.select(
        *keys,
        F.col("cnt").cast("long").alias("cnt"),
        F.expr(f"cnt * 1000000 DIV {int(total)}").cast("long").alias("share_ppm"),
        F.dense_rank().over(w).cast("long").alias("rank"),
    )


def profile_columns(
    df: DataFrame,
    cols: Optional[Sequence[str]] = None,
    *,
    exact_distinct: bool = True,
    rsd: float = 0.05,
) -> DataFrame:
    """Dataset profiling (the pre-flight data-quality report): per column,
    the null count and distinct-value count, computed in ONE pass.

    ``exact_distinct=True`` uses exact ``count(DISTINCT …)`` — Catalyst
    expands multi-distinct aggregates into a single Expand + two-level
    aggregation (rows × |cols| intermediate, still one shuffle). At
    100 TB set ``exact_distinct=False`` for HyperLogLog
    ``approx_count_distinct`` (rsd-controlled, constant memory per
    column) — the exact variant is the oracle-checkable contract, the
    approximate one the full-scale default.

    Output: one row per profiled column — (col_name, n_rows, n_nulls,
    n_distinct) — produced by exploding a literal struct array over the
    single aggregate row (no per-column scans, no driver loop).
    """
    cols = list(cols) if cols is not None else list(df.columns)
    if not cols:
        raise ValueError("cols must be non-empty")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"__nn_{c}"))
        if exact_distinct:
            aggs.append(F.countDistinct(F.col(c)).alias(f"__nd_{c}"))
        else:
            aggs.append(
                F.approx_count_distinct(F.col(c), rsd).alias(f"__nd_{c}")
            )
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("__n").cast("long").alias("n_rows"),
                (F.col("__n") - F.col(f"__nn_{c}")).cast("long").alias("n_nulls"),
                F.col(f"__nd_{c}").cast("long").alias("n_distinct"),
            )
            for c in cols
        ]
    )
    ex = one.select(F.explode(rows).alias("__p"))
    return ex.select(
        F.col("__p.col_name").alias("col_name"),
        F.col("__p.n_rows").alias("n_rows"),
        F.col("__p.n_nulls").alias("n_nulls"),
        F.col("__p.n_distinct").alias("n_distinct"),
    )


def compact_small_files(
    spark,
    path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    fmt: str = "parquet",
    sort_within: Optional[Sequence[str]] = None,
) -> dict:
    """Small-file compaction (the lake-hygiene job): rewrite a directory
    whose long-running incremental writes left thousands of tiny files
    into ceil(total_bytes / target) right-sized files.

    Small files are a 100 TB killer twice over — scan task overhead per
    file and NameNode/listing pressure — so compaction runs on a
    schedule wherever streaming sinks append. The rewrite goes to
    ``path + '.compact'`` and returns a summary dict (atomic swap is the
    caller's move: rename dance or catalog pointer flip, both
    deployment-specific). ``sort_within`` re-sorts rows inside each
    output file so min/max footers stay tight (compose with
    ``zorder_key`` for multi-column locality).
    """
    import math
    import os

    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(path)
        for f in fs
        if not f.startswith(("_", "."))
    ]
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / int(target_file_bytes)))
    df = spark.read.format(fmt).load(path)
    out = df.repartition(n_out)
    if sort_within:
        out = out.sortWithinPartitions(*sort_within)
    dest = path.rstrip("/") + ".compact"
    out.write.format(fmt).mode("overwrite").save(dest)
    new_files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(dest)
        for f in fs
        if f.endswith(tuple([fmt, f"{fmt}.snappy", "snappy.parquet"])) or
           (not f.startswith(("_", ".")) and not f.endswith(".crc"))
    ]
    return {
        "input_files": len(files),
        "input_bytes": total,
        "output_files": len(new_files),
        "output_path": dest,
    }


def _persist_if_nondeterministic(df: DataFrame) -> DataFrame:
    """The range-bucketed scan reads its input in two plan branches (the
    within-bucket window and the per-bucket seeds), and each branch must
    see the SAME rows or the carry silently corrupts the result. A
    deterministic plan re-evaluates identically; a nondeterministic one
    (``rand()``, ``monotonically_increasing_id``...) is persisted, lazily,
    so both branches read one cache built inside the caller's action."""
    if df._jdf.queryExecution().analyzed().deterministic():
        return df
    from pyspark import StorageLevel

    from timeseriesfuser_spark.ops.util import track_persist

    return track_persist(df.persist(StorageLevel.MEMORY_AND_DISK))


def exact_global_rank(
    df: DataFrame,
    order_cols: Sequence[str],
    *,
    num_buckets: Optional[int] = None,
    rank_col: str = "global_rank",
) -> DataFrame:
    """Exact 1-based global rank in ``order_cols`` order WITHOUT a
    global-order window (``row_number() OVER (ORDER BY …)`` plans a
    single-task stage — unusable at scale).

    The rank is an inclusive count over the shared range-bucketed scan
    (``operators.fill._bucketed_scan``): rows bucket by data-derived
    quantile ranges of the FIRST order column (ties stay in one bucket);
    within-bucket counts over the full tuple run parallel per bucket, and
    each bucket's carry-in (the row count of the buckets before it) is
    computed in the plan and broadcast back. ``order_cols`` must be a
    total order (include a unique tiebreaker). The only construction-time
    job is the quantile sketch; a nondeterministic input is persisted so
    both scan branches see the same rows.

    NULL ordering is NULLS FIRST (Spark's ascending default; the range
    bucketer sends NULLs to bucket 0, consistent with it) — SQL twins
    must say ``ORDER BY col ASC NULLS FIRST`` explicitly, because
    DuckDB/Postgres default ascending NULLS LAST.
    """
    return _global_rank(df, order_cols, num_buckets, rank_col)


def _global_rank(df, order_cols, num_buckets, rank_col, total=None):
    """Shared core of exact_global_rank; ``total`` names an extra column
    holding the exact row count, computed in the same plan."""
    from timeseriesfuser_spark.operators.fill import _bucketed_scan

    order_cols = list(order_cols)
    if not order_cols:
        raise ValueError("order_cols must be non-empty")
    return _bucketed_scan(
        _persist_if_nondeterministic(df), order_cols,
        [(rank_col, F.lit(1).cast("long"), "sum")],
        num_buckets=num_buckets, total=total,
    )


def quantile_bins(
    df: DataFrame,
    col: str,
    k: int,
    *,
    tiebreak_cols: Sequence[str] = (),
    num_buckets: Optional[int] = None,
) -> DataFrame:
    """Equal-depth (quantile) binning: every row gets ``global_rank`` (by
    ``col`` + tiebreakers) and ``bin`` = (rank-1)·k DIV n ∈ [0, k) — each
    bin holds n/k rows (±1), the feature-engineering discretization that
    fixed-width histograms can't give on skewed data. Built on
    :func:`exact_global_rank`, so no single-task stage exists anywhere."""
    if k <= 0:
        raise ValueError("k must be positive")
    ranked = _global_rank(
        df, [col, *tiebreak_cols], num_buckets, "global_rank", total="__qb_n"
    )
    return ranked.withColumn(
        "bin", F.expr(f"(global_rank - 1) * {int(k)} DIV __qb_n").cast("long")
    ).drop("__qb_n")


def pareto_frontier_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    maximize: Sequence[bool] = (False, False),
    num_buckets: Optional[int] = None,
) -> DataFrame:
    """Exact 2-D skyline: the rows not dominated on (``x_col``,
    ``y_col``) — row B dominates A when B is ≤ A on both dimensions and
    strictly < on at least one (flip a dimension with ``maximize``).
    Duplicate points dominate nothing, so every copy of a frontier
    point survives. Rows with a NULL in either dimension are excluded
    (dominance is undefined on NULL).

    Scale design: the naive skyline is the O(n²) NOT-EXISTS self-join
    (the oracle's canonical statement). Here it is one prefix minimum:
    with rows sorted by (x, y), a row is dominated iff the smallest
    (y, x) pair among the rows before it is lexicographically smaller
    than its own — a smaller y at an x no larger, or an equal y at a
    strictly smaller x (an equal pair is a duplicate, which dominates
    nothing, whatever order the duplicates take). The prefix minimum is a
    strictly-before scan on the shared range-bucketed scan
    (``operators.fill._bucketed_scan``) — no single-task global window,
    and the cross-bucket minima are carried in the plan with their
    native types. A nondeterministic input is persisted so both scan
    branches see the same rows.
    """
    from timeseriesfuser_spark.operators.fill import _bucketed_scan

    mx, my_flip = (list(maximize) + [False, False])[:2]
    rows = df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    sx = (-F.col(x_col)).alias("__sx") if mx else F.col(x_col).alias("__sx")
    sy = (-F.col(y_col)).alias("__sy") if my_flip else F.col(y_col).alias("__sy")
    rows = _persist_if_nondeterministic(rows.select("*", sx, sy))
    pair = F.struct("__sy", "__sx")
    out = _bucketed_scan(
        rows, ["__sx", "__sy"], [("__m", pair, "min")], inclusive=False,
        num_buckets=num_buckets,
    )
    return out.filter(F.col("__m").isNull() | (F.col("__m") >= pair)).drop(
        "__sx", "__sy", "__m"
    )


def benford_digits(
    df: DataFrame,
    *,
    group_col: str = "event_type",
    value_col: str = "value",
    scale: int = 100,
) -> DataFrame:
    """First-significant-digit (Benford) profile per group — the classic
    fabricated-data / instrumentation-bug screen for a metrics column: a
    natural multi-scale measure follows log10(1 + 1/d); a constant-price
    feed, a truncated ETL cast or synthetic padding shows up as a spiked
    digit histogram.

    Exact and engine-portable by construction: the digit is the first
    character of the cent-quantized integer's decimal string (no
    log10/pow on the query surface — the expected ppm values are Python-
    precomputed integer literals baked into the plan); shares are
    integer ppm (count·1e6 DIV group total, both operands nonnegative so
    truncating and floor division agree). Zero / NULL values carry no
    leading digit and are excluded.

    Output: one row per (group, digit 1..9) — digits a group never
    produced appear with n = 0 (the full spine is what a drift monitor
    diffs) — with (n, obs_ppm, exp_ppm).

    Quantization caveat: the digit comes from ``round(value · scale)``
    (default ``scale=100`` — the cents/money convention), so rounding
    carry can shift the first significant digit near a power boundary
    (1.998 → 200 cents → digit 2, true digit 1) and values with
    ``|value| < 0.5/scale`` are excluded with the zeros. For sub-unit
    or near-carry measurements raise ``scale`` (e.g. 1_000_000) until
    the distortion band is below your data's resolution — the
    arithmetic stays exact-integer at any scale.

    Scale: one hash-agg on (group, digit) — ≤ 9·|groups| rows — then
    group totals and the digit spine are broadcast joins on that
    aggregate; the input is scanned once, nothing data-sized shuffles.
    """
    import math

    exp_ppm = {d: round(math.log10(1 + 1 / d) * 1_000_000) for d in range(1, 10)}
    cents = F.round(F.col(value_col) * scale).cast("long")
    base = (
        df.select(F.col(group_col).alias("g"), cents.alias("__c"))
        .filter(F.col("__c").isNotNull() & (F.col("__c") != 0))
        .select(
            "g",
            F.substring(F.abs(F.col("__c")).cast("string"), 1, 1)
            .cast("int")
            .alias("digit"),
        )
    )
    # counts (<= 9·|groups| rows) feeds three plan branches (totals,
    # spine, the left join) — without materialization Catalyst re-executes
    # the full input scan per branch (measured 3 scans). Eager
    # localCheckpoint: one scan, no cache-entry pin; the small-relation
    # pattern (corpus-sized relations stay on lazy persist instead).
    counts = base.groupBy("g", "digit").agg(
        F.count(F.lit(1)).alias("n")
    ).localCheckpoint(eager=True)
    totals = counts.groupBy("g").agg(F.sum("n").alias("__tot"))
    spark = df.sparkSession
    digits = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    spine = totals.select("g").crossJoin(F.broadcast(digits))
    exp_col = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(d) for d in range(1, 10)]),
            F.array(*[F.lit(exp_ppm[d]) for d in range(1, 10)]),
        ),
        F.col("__bs.digit"),
    )
    # spine derives FROM totals, so the joins need qualified dataset
    # aliases (ambiguous-self-join resolution — the day-tz spine lesson).
    s, t, c = spine.alias("__bs"), totals.alias("__bt"), counts.alias("__bc")
    return (
        s.join(
            F.broadcast(t), F.col("__bs.g").eqNullSafe(F.col("__bt.g"))
        )
        .join(
            F.broadcast(c),
            F.col("__bs.g").eqNullSafe(F.col("__bc.g"))
            & (F.col("__bs.digit") == F.col("__bc.digit")),
            "left",
        )
        .select(
            F.col("__bs.g").alias(group_col),
            F.col("__bs.digit").alias("digit"),
            F.coalesce(F.col("__bc.n"), F.lit(0)).cast("long").alias("n"),
            F.expr("coalesce(__bc.n, 0) * 1000000 DIV __tot")
            .cast("long")
            .alias("obs_ppm"),
            exp_col.cast("long").alias("exp_ppm"),
        )
    )


def _hilbert_level(v_x: str, v_y: str, v_d: str, s: int, xor_fmt: str) -> tuple:
    """One Hilbert xy2d level at cell size ``s`` over the lambda-bound
    state fields: returns (x_expr, y_expr, d_expr). Quadrant digit is
    (3·rx) XOR ry; lower quadrants reflect (rx=1) and transpose (ry=0)
    the frame — the textbook iterative conversion. Expressions reference
    the VARIABLES, never inline prior levels (an inlined 8-level unroll
    measured a parser OOM: each level multiplies the text ~5×)."""
    rx = f"(CASE WHEN ({v_x} & {s}) != 0 THEN 1 ELSE 0 END)"
    ry = f"(CASE WHEN ({v_y} & {s}) != 0 THEN 1 ELSE 0 END)"
    digit = xor_fmt.format(a=f"(3 * {rx})", b=ry)
    d_expr = f"({v_d} + {s} * {s} * {digit})"
    x_expr = (
        f"(CASE WHEN {ry} = 1 THEN {v_x}"
        f" WHEN {rx} = 1 THEN {s} - 1 - {v_y} ELSE {v_y} END)"
    )
    y_expr = (
        f"(CASE WHEN {ry} = 1 THEN {v_y}"
        f" WHEN {rx} = 1 THEN {s} - 1 - {v_x} ELSE {v_x} END)"
    )
    return x_expr, y_expr, d_expr


def _hilbert_chain(x_col: str, y_col: str, bits: int, dialect: str) -> str:
    """Linear-size Hilbert key expression: each level is a single-element
    ``transform`` lambda whose body references the bound state struct —
    the projection-collapse blocker from the MinHash signature lesson,
    here keeping the PARSER input linear in ``bits`` too."""
    b = int(bits)
    if not 1 <= b <= 31:
        raise ValueError(f"need 1 <= bits <= 31: {bits}")
    mask = (1 << b) - 1
    if dialect == "spark":
        xor_fmt = "({a} ^ {b})"
        fx, fy, fd = "s.x", "s.y", "s.d"

        def pack(x, y, d):
            return f"named_struct('x', {x}, 'y', {y}, 'd', {d})"

        def level(prev, body):
            return f"transform(array({prev}), s -> {body})[0]"

    elif dialect == "duckdb":
        xor_fmt = "xor({a}, {b})"
        fx = "struct_extract(s, 'x')"
        fy = "struct_extract(s, 'y')"
        fd = "struct_extract(s, 'd')"

        def pack(x, y, d):
            return f"struct_pack(x := {x}, y := {y}, d := {d})"

        def level(prev, body):
            return f"list_transform([{prev}], s -> {body})[1]"

    else:
        raise ValueError(f"unknown dialect: {dialect}")
    expr = pack(
        f"(CAST({x_col} AS BIGINT) & {mask})",
        f"(CAST({y_col} AS BIGINT) & {mask})",
        "CAST(0 AS BIGINT)",
    )
    for lvl in range(b - 1, -1, -1):
        xe, ye, de = _hilbert_level(fx, fy, fd, 1 << lvl, xor_fmt)
        expr = level(expr, pack(xe, ye, de))
    if dialect == "spark":
        return f"CAST(({expr}).d AS BIGINT)"
    return f"CAST(struct_extract({expr}, 'd') AS BIGINT)"


def hilbert_key(
    x_col: str,
    y_col: str,
    *,
    bits: int = 8,
) -> "F.Column":
    """Hilbert-curve key for two dimensions: like :func:`zorder_key` but
    on the Hilbert space-filling curve, whose 1-D order never makes the
    long diagonal jumps Morton does — adjacent curve positions are
    ALWAYS adjacent cells, so range scans touch fewer file boundaries
    (the reason Delta/Iceberg offer Hilbert alongside Z-order).

    Inputs are masked to ``bits`` non-negative low bits (pre-bucket raw
    values so the low bits carry locality); the key is in [0, 4^bits).
    Pure projection — the per-bit rotate/reflect state machine chains
    through single-element ``transform`` lambdas (expression size
    linear in ``bits``; a textual unroll multiplies ~5× per level and
    OOMs the parser at 8 levels), zero shuffle.
    :func:`hilbert_key_sql` chains the SAME levels, so keys are
    engine-bit-identical. Layout usage: :func:`zorder_layout` with this
    key column instead.
    """
    return F.expr(_hilbert_chain(x_col, y_col, bits, "spark")).cast("long")


def hilbert_key_sql(x_col: str, y_col: str, *, bits: int = 8) -> str:
    """DuckDB twin of :func:`hilbert_key` — the same level chain through
    ``list_transform`` lambdas (DuckDB spells bitwise xor as ``xor()``;
    its ``^`` is power)."""
    return _hilbert_chain(x_col, y_col, bits, "duckdb")


def table_checksum(
    df: DataFrame,
    *,
    group_cols: Sequence[str] = (),
    columns: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Order-independent content checksum — the cross-engine /
    cross-cluster table-equality primitive (did the migration copy
    everything? do the replicas agree?) that :func:`shard_manifest`'s
    order-SENSITIVE digest deliberately is not: each row hashes to a
    60-bit integer over its null-tagged canonical string, and the
    checksum is the SUM (mod nothing — decimal(38,0) never wraps), so
    any row order and any partitioning give the same value. Identical
    multisets of rows ⇒ identical (n_rows, checksum); a single changed
    cell moves the sum.

    Row canonicalization: every checked column renders as
    ``name=value`` with NULL as a distinct tag (``name=\\x00``) —
    engine-portable (md5 + hex parse), no struct hashing. Pass
    ``columns`` to check a projection; ``group_cols`` yields per-group
    checksums (per-partition drill-down when a full-table compare
    mismatches).

    Scale: one projection + one hash aggregation; map-side partial sums
    do most of the work.
    """
    from timeseriesfuser_spark.ops.dedup import md5_hash64

    cols = list(columns) if columns is not None else [
        c for c in df.columns if c not in set(group_cols)
    ]
    if not cols:
        raise ValueError("no columns to checksum")
    parts = []
    for c in cols:
        parts.append(
            F.concat(
                F.lit(f"{c}="),
                F.coalesce(F.col(c).cast("string"), F.lit("\x00")),
            )
        )
    canon = F.concat_ws("\x1f", *parts)
    h = md5_hash64(canon)
    return (
        df.select(*group_cols, h.alias("__h"))
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.expr("CAST(__h AS DECIMAL(38,0))"))
            .cast("decimal(38,0)")
            .cast("string")
            .alias("checksum"),
        )
    )
