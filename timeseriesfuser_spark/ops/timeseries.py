"""Time-series analytics operators over the fused event stream: OHLC bars,
weighted-average (VWAP-style) bars, and event-sequence transition stats.

These generalize the reference's resample surface (last-value-per-interval,
classes.py:589-625) to the aggregate shapes a market-data / clickstream user
actually materializes from the merged stream: per-interval candlesticks,
volume-weighted averages, and Markov transition counts.

Scale design (the whole point):

- Every operator is ONE hash aggregation on (key, bucket) — map-side partial
  aggregation applies, no global sort, no whole-table window. `open`/`close`
  are
  selected via ``min_by``/``max_by`` with a (ts, seq) struct ordering key, so
  a bar needs no per-bucket row_number window.
- `event_transitions` uses a window partitioned BY USER (millions of small
  partitions — embarrassingly parallel), never a global-order window.
- All sums are exact integers (value quantized to cents, weights are ints);
  at most one final double division — so a SQL oracle matches bit-for-bit.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from timeseriesfuser_spark.ops.util import track_persist
from pyspark.sql.window import Window

from timeseriesfuser_spark.intervals import floor_boundary_col, interval_to_ms


def _cents(value_col: str) -> F.Column:
    # HALF_UP round matches DuckDB round(); exact-int thereafter.
    return F.round(F.col(value_col) * 100).cast("long")


def ohlc_bars(
    df: DataFrame,
    interval: str = "1h",
    *,
    ts_col: str = "ts",
    key_cols: Sequence[str] = ("event_type",),
    value_col: str = "value",
    seq_col: str = "event_id",
) -> DataFrame:
    """Per-(key, interval) OHLC candlestick bars.

    ``open``/``close`` are the value at the chronologically first/last event
    of the bucket, ties broken by ``seq_col`` (deterministic — Spark's sort
    is not stable, the reference relies on Polars stable order; see
    SURVEY.md §4.3). ``sum_cents`` is the exact integer sum of the
    cent-quantized value (an order-independent aggregate; a raw double sum
    would be accumulation-order-dependent and never oracle-matchable).

    One shuffle: hash partition on (key, bucket) with map-side partial agg.
    ``min_by``/``max_by`` take a (ts, seq) struct ordering key, so there is
    no per-bucket window/row_number pass. At 100 TB the bucket count is
    |keys| × |intervals| — the output, not the input, bounds the shuffle.
    """
    step = interval_to_ms(interval)
    order_key = F.struct(F.col(ts_col), F.col(seq_col))
    bar = df.withColumn("bar_ts", floor_boundary_col(F.col(ts_col), step))
    return bar.groupBy(*key_cols, "bar_ts").agg(
        F.min_by(F.col(value_col), order_key).alias("open"),
        F.max(value_col).alias("high"),
        F.min(value_col).alias("low"),
        F.max_by(F.col(value_col), order_key).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(_cents(value_col)).alias("sum_cents"),
    )


def vwap_bars(
    df: DataFrame,
    interval: str = "1d",
    *,
    ts_col: str = "ts",
    key_cols: Sequence[str] = ("event_type",),
    value_col: str = "value",
    weight_col: str = "weight",
) -> DataFrame:
    """Weighted-average (VWAP-style) bars: sum(price·weight)/sum(weight).

    Exact integer numerator (cents × integer weight) and denominator; ONE
    double division at the end → bit-identical in any IEEE engine. Zero
    total weight yields NULL (SQL semantics both sides).

    Same single hash-agg shape as :func:`ohlc_bars`.
    """
    step = interval_to_ms(interval)
    w = F.col(weight_col).cast("long")
    bar = df.withColumn("bar_ts", floor_boundary_col(F.col(ts_col), step))
    out = bar.groupBy(*key_cols, "bar_ts").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(_cents(value_col) * w).alias("pw_cents"),
        F.sum(w).alias("sum_weight"),
    )
    return out.withColumn(
        "vwap_cents",
        F.when(
            F.col("sum_weight") > 0,
            F.col("pw_cents").cast("double") / F.col("sum_weight").cast("double"),
        ),
    )


def event_transitions(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    seq_col: str = "event_id",
) -> DataFrame:
    """Markov transition stats over each user's chronological event sequence.

    For every consecutive (prev_type → next_type) pair within a user's
    stream: occurrence count and exact min/sum of the inter-event gap (ms),
    plus avg_gap_ms (one exact-int division). The first event of each user
    has no predecessor and is excluded.

    The lag window is partitioned by user — at 100 TB that is hundreds of
    millions of SMALL partitions, which parallelizes perfectly (this is the
    sanctioned per-key window shape; the anti-pattern is a partitionBy-less
    global window). The follow-up aggregation is a hash-agg on the tiny
    (prev, next) key space.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, seq_col)
    steps = df.select(
        F.col(ts_col).alias("__ts"),
        F.col(user_col).alias("__user"),
        F.col(type_col).alias("next_type"),
        F.lag(type_col).over(w).alias("prev_type"),
        (F.col(ts_col) - F.lag(ts_col).over(w)).alias("gap_ms"),
    ).filter(F.col("prev_type").isNotNull())
    cnt = F.count(F.lit(1))
    return steps.groupBy("prev_type", "next_type").agg(
        cnt.alias("n"),
        F.min("gap_ms").alias("min_gap_ms"),
        F.max("gap_ms").alias("max_gap_ms"),
        F.sum("gap_ms").alias("sum_gap_ms"),
        (F.sum("gap_ms").cast("double") / cnt).alias("avg_gap_ms"),
    )


def rolling_anomalies(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    seq_col: str = "event_id",
    lookback: int = 10,
    min_points: int = 3,
    k: int = 3,
) -> DataFrame:
    """Trailing-window z-score anomaly flags per key, in EXACT integer
    arithmetic.

    For each event, the baseline is the previous ``lookback`` events of the
    same key (rows ``[-lookback, -1]`` — never the current row). With
    n ≥ ``min_points`` baseline points the event is anomalous when

        |x - mean| > k · sample_std

    which, to avoid any float comparison, is evaluated as the equivalent
    integer inequality on cent-quantized values::

        (n·x - S)² · (n-1)  >  k² · n · (n·Q - S²)

    where S = Σxᵢ, Q = Σxᵢ² over the baseline — every term is an exact
    int64 (|x| ≤ ~1e5 cents, lookback ≤ ~1e3 keeps all products < 2³¹·²…
    far below 2⁶³). The emitted ``zscore`` is the one allowed float chain
    (two exact-int divisions + sqrt) for human consumption; the FLAG is
    integer-exact and thus oracle-bit-identical.

    Scale: one window partitioned BY KEY (millions of small partitions —
    embarrassingly parallel; the anti-pattern global-order window never
    appears). No other shuffle.
    """
    if lookback < 1 or min_points < 2:
        raise ValueError("lookback >= 1 and min_points >= 2 required")
    x = _cents(value_col)
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, seq_col)
        .rowsBetween(-lookback, -1)
    )
    n = F.count(x).over(w)
    s = F.sum(x).over(w)
    q = F.sum(x * x).over(w)
    base = df.select(
        key_col,
        ts_col,
        seq_col,
        x.alias("cents"),
        n.alias("n_base"),
        s.alias("sum_base"),
        q.alias("sumsq_base"),
    )
    dev = F.col("n_base") * F.col("cents") - F.col("sum_base")
    # The products exceed int64 inside the documented envelope (n·Q alone
    # reaches ~1e20 at lookback=1000, |x|=1e5 cents; dev² likewise):
    # compute var and the comparison in decimal(38,0) — exact,
    # overflow-free to ~1e38; the DuckDB twin uses HUGEINT.
    dec = "decimal(38,0)"
    var_n2 = (
        F.col("n_base").cast(dec) * F.col("sumsq_base").cast(dec)
        - F.col("sum_base").cast(dec) * F.col("sum_base").cast(dec)
    )  # = n²·(n-1)/n · sample_var → n·(n-1)·sample_var·… kept exact
    lhs = dev.cast(dec) * dev.cast(dec) * (F.col("n_base") - 1).cast(dec)
    rhs = (
        F.lit(int(k) * int(k)).cast(dec)
        * F.col("n_base").cast(dec)
        * var_n2.cast(dec)
    )
    enough = F.col("n_base") >= int(min_points)
    mean = F.col("sum_base").cast("double") / F.col("n_base")
    std = F.sqrt(
        var_n2.cast("double")
        / (F.col("n_base") * (F.col("n_base") - 1)).cast("double")
    )
    return base.select(
        key_col,
        ts_col,
        seq_col,
        "cents",
        F.col("n_base").cast("long").alias("n_base"),
        F.col("sum_base").cast("long").alias("sum_base"),
        F.col("sumsq_base").cast("long").alias("sumsq_base"),
        F.when(enough, mean).alias("mean_cents"),
        F.when(enough, std).alias("std_cents"),
        F.when(
            enough & (var_n2 > 0), (dev.cast("double") / F.col("n_base")) / std
        ).alias("zscore"),
        (enough & (lhs > rhs)).alias("is_anomaly"),
    )


def sliding_counts(
    df: DataFrame,
    length: str = "1h",
    slide: str = "15m",
    *,
    ts_col: str = "ts",
    key_cols: Sequence[str] = ("event_type",),
    value_col: str = "value",
) -> DataFrame:
    """Sliding-window (hopping) aggregation: for every grid point `ws` on
    the ``slide`` grid, count/sum over events in ``[ws, ws + length)``.

    Batch twin of Structured Streaming's ``F.window(ts, length, slide)``,
    expressed in engine-portable integer arithmetic: each event belongs to
    exactly ``length/slide`` windows, enumerated with a bounded
    sequence+explode (fan-out is the constant L/S, typically 2-8 — NOT data
    dependent), then one hash-agg on (key, window_start). Map-side partial
    aggregation absorbs the fan-out before the shuffle.
    """
    L, S = interval_to_ms(length), interval_to_ms(slide)
    if L % S != 0:
        raise ValueError(f"length {length!r} must be a multiple of slide {slide!r}")
    t = F.col(ts_col)
    # floor-to-grid via pmod (negative-safe): last window start <= t, first
    # window start > t - L.
    last_ws = t - F.pmod(t, F.lit(S))
    first_ws = last_ws - F.lit(L - S)
    win = df.withColumn(
        "window_start", F.explode(F.sequence(first_ws, last_ws, F.lit(S)))
    )
    out = win.groupBy(*key_cols, "window_start").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(_cents(value_col)).alias("sum_cents"),
    )
    return out.select(
        *key_cols,
        F.col("window_start").cast("long").alias("window_start"),
        (F.col("window_start") + F.lit(L)).cast("long").alias("window_end"),
        "n_events",
        "sum_cents",
    )


def value_rates(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    seq_col: str = "event_id",
) -> DataFrame:
    """Per-key discrete derivative (PromQL ``rate``-style): for every event
    after the key's first, the change versus the previous event.

    Output: key, ts, seq, ``delta_cents`` / ``delta_ms`` (exact ints) and
    ``rate_cps`` = cents per second — ONE double division over exact
    integers, so an SQL oracle matches bit-for-bit. Zero-gap pairs
    (duplicate timestamps) yield a NULL rate rather than ±Inf.

    Scale: a single lag window partitioned by key — embarrassingly
    parallel, no other shuffle.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, seq_col)
    x = _cents(value_col)
    out = df.select(
        key_col,
        ts_col,
        seq_col,
        x.alias("cents"),
        (x - F.lag(x).over(w)).alias("delta_cents"),
        (F.col(ts_col) - F.lag(ts_col).over(w)).cast("long").alias("delta_ms"),
    ).filter(F.col("delta_ms").isNotNull())
    return out.withColumn(
        "rate_cps",
        F.when(
            F.col("delta_ms") > 0,
            F.col("delta_cents").cast("double") * 1000.0
            / F.col("delta_ms").cast("double"),
        ),
    )


def interpolate_grid(
    df: DataFrame,
    interval: str = "1h",
    *,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    seq_col: str = "event_id",
) -> DataFrame:
    """Linear interpolation onto a fixed time grid, per key.

    For every grid boundary ``g`` (step = ``interval``) between a key's
    first and last event: the straight-line value between the latest event
    at-or-before ``g`` and the earliest event strictly after ``g``::

        v(g) = prev + (next - prev) · (g - t_prev) / (t_next - t_prev)

    computed as exact-int numerator/denominator with ONE double division
    and one add — bit-identical in any IEEE engine. A boundary that hits
    an event exactly returns that event's value (``exact_hit``). Grid
    points outside [first, last] are not emitted (interpolation, not
    extrapolation — the engine's forward-fill resample covers the
    extrapolating variant).

    Ties at the same timestamp resolve to the highest ``seq_col`` for the
    "previous" side (last observation wins — the engine's convention) and
    the lowest for the "next" side.

    Scale — the SEGMENT formulation: one per-key ``lead`` window turns the
    events into [t, t_next) segments, and each segment explodes over just
    the grid points it covers (the same shape as :func:`twap_bars`). One
    shuffle, one window over the EVENTS ONLY, one output-bounded explode.
    The first formulation here (grid spine ∪ events + a forward and a
    reverse window over the union) sorted input+output twice and measured
    20x slower at 10M rows — see NOTES.md round 5.
    """
    step = interval_to_ms(interval)
    k, t = F.col(key_col), F.col(ts_col)

    ev = df.select(
        k.alias("__k"),
        t.cast("long").alias("__t"),
        F.col(seq_col).cast("long").alias("__seq"),
        _cents(value_col).alias("__c"),
    )
    # Segments: [t, next event's t). Duplicate-ts runs: every event but the
    # highest-seq one gets an empty segment (lead lands on the same ts), so
    # "last observation wins" falls out of the (ts, seq) lead ordering. The
    # last event's segment is [t, t+1): it covers only an exact grid hit.
    w = Window.partitionBy("__k").orderBy("__t", "__seq")
    seg = ev.select(
        "__k",
        F.col("__t").alias("__tp"),
        F.col("__c").alias("__cp"),
        F.lead("__t").over(w).alias("__tn"),
        F.lead("__c").over(w).alias("__cn"),
    ).withColumn("__end", F.coalesce(F.col("__tn"), F.col("__tp") + 1))
    # Grid points covered by [tp, end): ceil(tp) .. the last multiple < end.
    # pmod-based FLOOR multiples (negative-safe): SQL DIV truncates toward
    # zero, which shifts both bounds off-grid for pre-1970 timestamps.
    g0 = F.expr(f"(__tp + {step - 1}) - pmod(__tp + {step - 1}, {step})")
    g1 = F.expr(f"(__end - 1) - pmod(__end - 1, {step})")
    ex = seg.filter(F.col("__end") > F.col("__tp")).select(
        "__k",
        "__tp",
        "__cp",
        "__tn",
        "__cn",
        F.explode(
            F.when(g0 <= g1, F.sequence(g0, g1, F.lit(step))).otherwise(
                F.array().cast("array<long>")
            )
        ).alias("__g"),
    )
    tp, cp = F.col("__tp"), F.col("__cp")
    tn, cn = F.col("__tn"), F.col("__cn")
    g = F.col("__g")
    exact = tp == g
    interp = cp.cast("double") + ((cn - cp) * (g - tp)).cast("double") / (
        tn - tp
    ).cast("double")
    return ex.filter(exact | tn.isNotNull()).select(
        F.col("__k").alias(key_col),
        g.alias("grid_ts"),
        F.when(exact, cp.cast("double")).otherwise(interp).alias("interp_cents"),
        exact.alias("exact_hit"),
        tp.alias("prev_ts"),
        F.when(~exact, tn).alias("next_ts"),
    )


def twap_bars(
    df: DataFrame,
    interval: str = "1d",
    *,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    seq_col: str = "event_id",
    horizon_ms: int = None,
) -> DataFrame:
    """TIME-weighted average value per (key, interval) — the integral of the
    last-observation-carried-forward value over each bucket, divided by the
    covered duration. The time-weighted counterpart of :func:`vwap_bars`
    (event-weighted): a value that held for 23 hours dominates one that
    held for a minute, regardless of event counts.

    Each event opens a segment [t, next event's t) (per key, ties by
    ``seq_col``; the last segment closes at ``horizon_ms`` — default: the
    global max timestamp). Segments are exploded over the buckets they
    span and clipped; per (key, bucket): ``dur_ms`` = covered duration,
    ``tw_cents`` = Σ cents·overlap (exact int), ``twap_cents`` = one double
    division. Buckets before a key's first event emit nothing (no value
    held yet).

    Scale: one per-key lead window + a bounded explode (segments/bucket
    fan-out = segment length / interval — long-idle keys produce long
    segments, which explode across their span; the output spine, not the
    input, bounds that term) + one hash-agg. The horizon is a 1-row
    aggregate attached as a broadcast scalar, never a window.
    """
    step = interval_to_ms(interval)
    ev = df.select(
        F.col(key_col).alias("__k"),
        F.col(ts_col).cast("long").alias("__t"),
        F.col(seq_col).cast("long").alias("__seq"),
        _cents(value_col).alias("__c"),
    )
    if horizon_ms is None:
        hz = ev.agg(F.max("__t").alias("__hz"))
        ev = ev.crossJoin(F.broadcast(hz))
    else:
        ev = ev.withColumn("__hz", F.lit(int(horizon_ms)))
    w = Window.partitionBy("__k").orderBy("__t", "__seq")
    seg = ev.select(
        "__k",
        "__c",
        F.col("__t").alias("__s"),
        F.coalesce(F.lead("__t").over(w), F.col("__hz")).alias("__e"),
    ).filter(F.col("__e") > F.col("__s"))
    # negative-safe floor buckets: (x - pmod(x, s)) is exactly divisible,
    # so the DIV after it is floor for any sign (plain DIV truncates).
    b0 = F.expr(f"(__s - pmod(__s, {step})) DIV {step}")
    b1 = F.expr(f"((__e - 1) - pmod(__e - 1, {step})) DIV {step}")
    ex = seg.select(
        "__k",
        "__c",
        "__s",
        "__e",
        F.explode(F.sequence(b0, b1)).alias("__b"),
    )
    bucket_lo = F.col("__b") * step
    bucket_hi = bucket_lo + step
    overlap = F.least(F.col("__e"), bucket_hi) - F.greatest(F.col("__s"), bucket_lo)
    agg = ex.groupBy("__k", "__b").agg(
        F.sum(overlap).alias("dur_ms"),
        F.sum(F.col("__c") * overlap).alias("tw_cents"),
    )
    return agg.select(
        F.col("__k").alias(key_col),
        (F.col("__b") * step).cast("long").alias("bar_ts"),
        F.col("dur_ms").cast("long").alias("dur_ms"),
        F.col("tw_cents").cast("long").alias("tw_cents"),
        (F.col("tw_cents").cast("double") / F.col("dur_ms").cast("double")).alias(
            "twap_cents"
        ),
    )


def ewma(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    seq_col: str = "event_id",
    alpha: float = 0.25,
) -> DataFrame:
    """Per-key exponentially weighted moving average of the cent-quantized
    value: ``ew₀ = x₀``, ``ewᵢ = α·xᵢ + (1−α)·ewᵢ₋₁`` in (ts, seq) order.

    The recursion is genuinely non-relational (each row depends on the
    previous row's OUTPUT), so this is the sanctioned Arrow-batched
    ``applyInPandas`` case — per-key groups, a tight float64 loop inside
    the worker, no driver involvement. The SQL twin is a recursive CTE
    stepping rank-by-rank; with the default α = 0.25 (exactly
    representable in binary) both engines execute the identical IEEE
    mult-mult-add chain, so the floats match bit-for-bit.

    Scale: one shuffle on the key; per-group work is O(rows in group).
    Keys are the parallelism unit — the same posture as every per-key
    window here, with Python cost paid only for the irreducibly
    sequential recursion.
    """
    import pandas as pd

    from pyspark.sql import types as T

    a = float(alpha)
    if not (0.0 < a <= 1.0):
        raise ValueError(f"alpha must be in (0, 1]: {alpha}")
    ev = df.select(
        F.col(key_col).alias("k"),
        F.col(ts_col).cast("long").alias("ts"),
        F.col(seq_col).cast("long").alias("seq"),
        _cents(value_col).alias("cents"),
    )
    schema = T.StructType(
        [
            T.StructField("k", ev.schema["k"].dataType, True),
            T.StructField("ts", T.LongType(), True),
            T.StructField("seq", T.LongType(), True),
            T.StructField("cents", T.LongType(), True),
            T.StructField("ewma", T.DoubleType(), True),
        ]
    )

    def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import math

        pdf = pdf.sort_values(["ts", "seq"], ignore_index=True)
        ew = 0.0
        out = []
        for i, x in enumerate(pdf["cents"]):
            x = float(x)
            ew = x if i == 0 else a * x + (1.0 - a) * ew
            # NULL cents arrive as NaN and NaN-poison the recursion —
            # arithmetically identical to the SQL twin's NULL
            # propagation, but the emitted value must be None (a SQL
            # engine says NULL; NaN != NULL under a type-sensitive
            # value hash).
            out.append(None if math.isnan(ew) else ew)
        pdf["ewma"] = out
        return pdf

    out = ev.groupBy("k").applyInPandas(fn, schema)
    return out.select(
        F.col("k").alias(key_col),
        F.col("ts").alias(ts_col),
        F.col("seq").alias(seq_col),
        "cents",
        "ewma",
    )


def holt_linear(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    seq_col: str = "event_id",
    alpha: float = 0.25,
    beta: float = 0.25,
) -> DataFrame:
    """Per-key Holt double exponential smoothing (level + linear trend)
    of the cent-quantized value, in (ts, seq) order::

        l₀ = x₀,  b₀ = 0
        lᵢ = α·xᵢ + (1−α)·(lᵢ₋₁ + bᵢ₋₁)
        bᵢ = β·(lᵢ − lᵢ₋₁) + (1−β)·bᵢ₋₁

    ``forecast = lᵢ + bᵢ`` is the one-step-ahead prediction — the
    trend-aware upgrade over :func:`ewma` (which lags any drifting
    series) and the classic lightweight per-entity forecaster.

    Like ewma, the recursion depends on the previous row's OUTPUT —
    the sanctioned per-key Arrow ``applyInPandas`` case; the SQL twin is
    a recursive CTE stepping rank-by-rank. With α = β = 0.25 (exactly
    representable) both engines execute the identical IEEE chain and the
    floats match bit-for-bit; the trend update recomputes the level
    expression verbatim on the SQL side, which is deterministic and
    yields the same double.

    Scale: one shuffle on the key; per-group work is O(rows); keys are
    the parallelism unit. NULL values NaN-poison the tail of a key's
    recursion (emitted as NULL, matching SQL NULL propagation).

    Reference scope note: the reference engine (timeseriesfuser) has no
    forecasting surface; this extends the §2.8-adjacent analytics family
    with the same determinism contract as ewma.
    """
    import pandas as pd  # noqa: F401

    from pyspark.sql import types as T

    a, b = float(alpha), float(beta)
    if not (0.0 < a <= 1.0) or not (0.0 < b <= 1.0):
        raise ValueError(f"alpha/beta must be in (0, 1]: {alpha}, {beta}")
    ev = df.select(
        F.col(key_col).alias("k"),
        F.col(ts_col).cast("long").alias("ts"),
        F.col(seq_col).cast("long").alias("seq"),
        _cents(value_col).alias("cents"),
    )
    schema = T.StructType(
        [
            T.StructField("k", ev.schema["k"].dataType, True),
            T.StructField("ts", T.LongType(), True),
            T.StructField("seq", T.LongType(), True),
            T.StructField("cents", T.LongType(), True),
            T.StructField("level", T.DoubleType(), True),
            T.StructField("trend", T.DoubleType(), True),
            T.StructField("forecast", T.DoubleType(), True),
        ]
    )

    def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import math

        pdf = pdf.sort_values(["ts", "seq"], ignore_index=True)
        lv = tr = 0.0
        levels, trends, fcs = [], [], []
        for i, x in enumerate(pdf["cents"]):
            x = float(x)
            if i == 0:
                lv, tr = x, 0.0
            else:
                prev = lv
                lv = a * x + (1.0 - a) * (lv + tr)
                tr = b * (lv - prev) + (1.0 - b) * tr
            fc = lv + tr
            levels.append(None if math.isnan(lv) else lv)
            trends.append(None if math.isnan(tr) else tr)
            fcs.append(None if math.isnan(fc) else fc)
        pdf["level"], pdf["trend"], pdf["forecast"] = levels, trends, fcs
        return pdf

    out = ev.groupBy("k").applyInPandas(fn, schema)
    return out.select(
        F.col("k").alias(key_col),
        F.col("ts").alias(ts_col),
        F.col("seq").alias(seq_col),
        "cents",
        "level",
        "trend",
        "forecast",
    )


def pivot_features(
    df: DataFrame,
    *,
    key_col: str = "user_id",
    pivot_col: str = "event_type",
    value_col: str = "value",
    pivot_values: Sequence[str] = (),
) -> DataFrame:
    """Wide per-entity feature matrix from the event stream: one row per
    key, one (count, exact cent-sum) column pair per ``pivot_col`` value —
    the classic feature-engineering reshape feeding a downstream model.

    ``pivot_values`` MUST be supplied: an explicit value list keeps the
    output schema static (a plan property — required for streaming/SQL
    contracts) and lets Spark skip the extra distinct-scan job it
    otherwise runs to discover the pivot domain — the first rule of
    pivoting at scale. Unlisted values are dropped, absent combinations
    yield count 0 / sum 0.

    One hash aggregation (pivot compiles to conditional aggregates —
    map-side combinable); never a shuffle per pivot value.
    """
    if not pivot_values:
        raise ValueError(
            "pivot_values is required: an explicit domain keeps the schema "
            "static and avoids the pivot-domain discovery scan"
        )
    x = _cents(value_col)
    out = (
        df.groupBy(key_col)
        .pivot(pivot_col, list(pivot_values))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("cents"),
        )
    )
    # absent (key, value) combinations: count/sum come back null → 0
    fixed = [F.col(key_col)]
    for v in pivot_values:
        fixed.append(F.coalesce(F.col(f"{v}_n"), F.lit(0)).cast("long").alias(f"{v}_n"))
        fixed.append(
            F.coalesce(F.col(f"{v}_cents"), F.lit(0)).cast("long").alias(f"{v}_cents")
        )
    return out.select(*fixed)


def rollup_ohlc(
    bars: DataFrame,
    interval: str,
    *,
    bar_ts_col: str = "bar_ts",
    key_cols: Sequence[str] = ("event_type",),
) -> DataFrame:
    """Aggregate finer OHLC bars into coarser ones (1h → 1d): the
    materialized-view maintenance path — a running pipeline keeps cheap
    fine bars and rolls them up instead of rescanning raw events.

    open = open of the chronologically first fine bar, close = close of
    the last (min_by/max_by on the fine bar_ts — already unique per key,
    no extra tie-break needed); high/low/n_events/sum_cents compose
    associatively. Identity: rollup_ohlc(ohlc_bars(ev, fine), coarse) ==
    ohlc_bars(ev, coarse) whenever the coarse grid is a multiple of the
    fine one — the contract query pins exactly that.

    Same one-hash-agg shape as ohlc_bars; input volume is |keys| × |fine
    intervals|, already tiny relative to the events.
    """
    step = interval_to_ms(interval)
    t = F.col(bar_ts_col)
    out_bar = F.col("__coarse_ts")
    bar = bars.withColumn("__coarse_ts", floor_boundary_col(t, step))
    return (
        bar.groupBy(*key_cols, "__coarse_ts")
        .agg(
            F.min_by(F.col("open"), t).alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by(F.col("close"), t).alias("close"),
            F.sum("n_events").alias("n_events"),
            F.sum("sum_cents").alias("sum_cents"),
        )
        .withColumn("bar_ts", out_bar.cast("long"))
        .drop("__coarse_ts")
        .select(*key_cols, "bar_ts", "open", "high", "low", "close",
                "n_events", "sum_cents")
    )


def drawdown(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    key_cols: Sequence[str] = ("user_id",),
    value_col: str = "value",
    seq_col: str = "event_id",
) -> DataFrame:
    """Per-key running-peak drawdown over the cent-quantized value:
    peak_cents = running max, drawdown_cents = peak − value at each
    event. One per-key window with an unbounded-preceding running frame
    (incremental max — O(n) per partition, never a shrinking frame; see
    the round-5 interpolate lesson). Integer-exact throughout.
    """
    cents = _cents(value_col)
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(ts_col), F.col(seq_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df.select(
        *key_cols,
        F.col(ts_col).cast("long").alias(ts_col),
        F.col(seq_col),
        cents.alias("cents"),
    )
    return out.withColumn("peak_cents", F.max("cents").over(w)).withColumn(
        "drawdown_cents", F.col("peak_cents") - F.col("cents")
    )


def rolling_extrema(
    df: DataFrame,
    lookback: int = 20,
    *,
    ts_col: str = "ts",
    key_cols: Sequence[str] = ("user_id",),
    value_col: str = "value",
    seq_col: str = "event_id",
) -> DataFrame:
    """Donchian-channel style trailing extrema: per key, the min/max of
    the cent-quantized value over the previous ``lookback`` rows
    INCLUDING the current one, plus the channel width. Running trailing
    row-frames are incremental in Spark's window exec — linear per
    partition, embarrassingly parallel across keys.
    """
    if lookback < 1:
        raise ValueError(f"lookback must be >= 1: {lookback}")
    cents = _cents(value_col)
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(ts_col), F.col(seq_col))
        .rowsBetween(-(lookback - 1), Window.currentRow)
    )
    out = df.select(
        *key_cols,
        F.col(ts_col).cast("long").alias(ts_col),
        F.col(seq_col),
        cents.alias("cents"),
    )
    return (
        out.withColumn("chan_lo", F.min("cents").over(w))
        .withColumn("chan_hi", F.max("cents").over(w))
        .withColumn("chan_width", F.col("chan_hi") - F.col("chan_lo"))
    )


def lttb_downsample(
    df: DataFrame,
    n_buckets: int,
    *,
    ts_col: str = "ts",
    key_cols: Sequence[str] = (),
    value_col: str = "value",
    scale: int = 10**6,
) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013) —
    THE visualization downsampler: keep <= ``n_buckets`` points per key
    that preserve the visual shape of the series.

    Variant (documented deviations from the sequential original, both
    standard in parallel/SQL implementations):

    - buckets are EQUAL-TIME slots, not equal-count (no global
      row_number pass; empty slots simply contribute nothing);
    - the triangle anchors are the PREVIOUS and NEXT non-empty slot's
      centroid (the original anchors on the previously *selected* point,
      a sequential dependency no parallel engine can honor).

    Per non-empty slot (in slot order per key): the FIRST slot emits its
    earliest point, the LAST slot its latest point, every middle slot
    the point maximizing the triangle area between the neighbor-slot
    centroids (ties: earliest ts, then largest quantized value). A key
    whose points fall in one slot emits its earliest point.

    Determinism / oracle-exactness: x is translated per key (ts − min
    ts) and per comparison (− previous slot's min x, pure headroom), y
    is quantized to ``round(value·scale)``, and the area comparison runs
    on the CROSS-MULTIPLIED integer form in decimal(38,0) — centroid
    divisions never happen, so no float can disagree across engines.
    With slot-local translation the magnitude bound is
    ~(span·n_slot)²·y_q per term; overflow is LOUD (ANSI decimal), and
    the mitigation is more buckets (smaller slots).

    Scale: FOUR column-pruned scans of the input (the bounds agg and the
    point relation are each computed twice — Catalyst does not share
    subplans across the slot-centroid and scoring branches) but NO
    full-data shuffle — both
    aggregations are map-side combinable with output bounded by
    #keys × n_buckets, the bounds/centroid relations broadcast (AQE
    falls back to a co-partitioned join at extreme key counts), and the
    final per-slot argmax is one ``max_by`` aggregate, not a window over
    the data. Callers holding an expensive upstream plan should persist
    it (same contract as ``forward_fill``). Rows with NULL ts or value
    are dropped (shape has no position for them); NULL key groups are
    kept (null-safe joins throughout).
    """
    if n_buckets < 3:
        raise ValueError(f"n_buckets must be >= 3: {n_buckets}")
    g = list(key_cols)
    x = F.col(ts_col).cast("long")
    pts = (
        df.filter(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
        .select(
            *g,
            x.alias("__x"),
            F.col(ts_col).alias(ts_col),
            F.col(value_col).alias(value_col),
            F.round(F.col(value_col) * scale).cast("long").alias("__yq"),
        )
    )
    bounds = pts.groupBy(*g).agg(
        F.min("__x").alias("__mn"), F.max("__x").alias("__mx")
    )

    def _nsj(left, right, on, how="inner"):
        lt, rt = left.alias("__l"), right.alias("__r")
        cond = F.lit(True)
        for c in on:
            cond = cond & F.col(f"__l.{c}").eqNullSafe(F.col(f"__r.{c}"))
        dup = [c for c in right.columns if c in on]
        return lt.join(F.broadcast(rt), cond, how).select(
            "__l.*", *[f"__r.{c}" for c in right.columns if c not in dup]
        )

    if g:
        pb = _nsj(pts, bounds, g)
    else:
        pb = pts.crossJoin(F.broadcast(bounds))
    x0 = F.col("__x") - F.col("__mn")
    # exact integer floor-div (operands non-negative — DIV truncation is
    # floor here): a double division would be inexact past 2^53, which
    # span_ms × n_buckets can reach
    pb = (
        pb.withColumn("__x0", x0.cast("long"))
        .withColumn("__num", (F.col("__x0") * n_buckets).cast("long"))
        .withColumn("__den", (F.col("__mx") - F.col("__mn") + 1).cast("long"))
        .withColumn(
            "__slot",
            F.when(
                F.col("__mx") > F.col("__mn"),
                F.expr("__num DIV __den"),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .drop("__num", "__den")
    )

    slots = pb.groupBy(*g, "__slot").agg(
        F.sum("__x0").alias("__sx"),
        F.sum("__yq").alias("__sy"),
        F.count(F.lit(1)).alias("__n"),
        F.min("__x0").alias("__mnx"),
    )
    wk = Window.partitionBy(*g).orderBy("__slot") if g else (
        Window.partitionBy().orderBy("__slot")
    )
    wall = wk.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    info = slots.select(
        *g,
        "__slot",
        F.lag("__sx").over(wk).alias("__psx"),
        F.lag("__sy").over(wk).alias("__psy"),
        F.lag("__n").over(wk).alias("__pn"),
        F.lag("__mnx").over(wk).alias("__pmn"),
        F.lead("__sx").over(wk).alias("__nsx"),
        F.lead("__sy").over(wk).alias("__nsy"),
        F.lead("__n").over(wk).alias("__nn"),
        F.row_number().over(wk).alias("__rn"),
        F.count(F.lit(1)).over(wall).alias("__cnt"),
    )
    j = _nsj(pb.drop("__mn", "__mx"), info, g + ["__slot"])

    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    psx = d(F.col("__psx") - F.col("__pn") * F.col("__pmn"))
    nsx = d(F.col("__nsx") - F.col("__nn") * F.col("__pmn"))
    xb = d(F.col("__x0") - F.col("__pmn"))
    pn, nn = d(F.col("__pn")), d(F.col("__nn"))
    area2 = F.abs(
        (psx * nn - nsx * pn) * (d(F.col("__yq")) * pn - d(F.col("__psy")))
        - (psx - xb * pn)
        * (d(F.col("__nsy")) * pn - d(F.col("__psy")) * nn)
    )
    is_mid = (F.col("__rn") > 1) & (F.col("__rn") < F.col("__cnt"))
    is_last = (F.col("__rn") == F.col("__cnt")) & (F.col("__rn") > 1)
    o1 = F.when(is_mid, area2).otherwise(F.lit(0).cast("decimal(38,0)"))
    o2 = F.when(is_last, F.col("__x0")).otherwise(-F.col("__x0"))
    point = F.struct(
        F.col(ts_col).alias(ts_col), F.col(value_col).alias(value_col)
    )
    order = F.struct(o1.alias("o1"), o2.alias("o2"), F.col("__yq").alias("o3"))
    sel = j.groupBy(*g, "__slot").agg(F.max_by(point, order).alias("__pt"))
    return sel.select(
        *g,
        F.col(f"__pt.{ts_col}").alias(ts_col),
        F.col(f"__pt.{value_col}").alias(value_col),
        F.col("__slot").alias("slot"),
    )


def lagged_crosscorr(
    df: DataFrame,
    key_a,
    key_b,
    lags: Sequence[int],
    interval: str = "1h",
    *,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    seq_col: str = "event_id",
) -> DataFrame:
    """Lead–lag cross-correlation between two series: Pearson r of
    (A at bucket t, B at bucket t+lag) for each lag (in grid steps) —
    the screening primitive for "does A lead B" questions (pairs
    trading, upstream-metric causality triage).

    Semantics: both series are reduced to their LAST cent-quantized
    value per ``interval`` bucket (the bar-close convention, exact
    integers — a per-bucket mean would make every downstream sum
    accumulation-order-dependent and oracle-unmatchable); only buckets
    where BOTH sides exist for a lag contribute (inner join, no
    imputation). r is the textbook
    (nΣxy − ΣxΣy) / (√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²)) with every Σ an
    exact integer in decimal(38,0) and ONE fixed double chain at the
    end; NULL when either side is constant (zero variance) or n < 2.

    Scale: one map-side-combinable aggregation of the events to the
    (key, bucket) grain; everything after runs on that AGGREGATED grain
    — the lag fan-out (small explode on grid rows, never events), one
    bucket-grain equi-join, one final #lags-row aggregate. No windows,
    no full-data shuffle beyond the grain agg.
    """
    lags = list(lags)
    if not lags:
        raise ValueError("lags must be non-empty")
    step = interval_to_ms(interval)
    cents = _cents(value_col)
    ts = F.col(ts_col).cast("long")
    g = (
        df.filter(F.col(key_col).isin(key_a, key_b))
        .filter(ts.isNotNull() & F.col(value_col).isNotNull())
        .groupBy(
            F.col(key_col).alias("__k"),
            floor_boundary_col(ts, step).alias("__b"),
        )
        .agg(
            F.max_by(
                cents, F.struct(ts, F.col(seq_col))
            ).alias("__v")
        )
    )
    lag_rel = F.broadcast(
        df.sparkSession.createDataFrame([(int(l),) for l in lags], "lag long")
    )
    a = (
        g.filter(F.col("__k") == key_a)
        .crossJoin(lag_rel)
        .select("lag", (F.col("__b") + F.col("lag") * step).alias("__bb"),
                F.col("__v").alias("__x"))
    )
    b = g.filter(F.col("__k") == key_b).select(
        F.col("__b").alias("__bb"), F.col("__v").alias("__y")
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    pairs = a.join(b, "__bb")
    agg = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(d("__x")).alias("__sx"),
        F.sum(d("__y")).alias("__sy"),
        F.sum(d("__x") * d("__y")).alias("__sxy"),
        F.sum(d("__x") * d("__x")).alias("__sxx"),
        F.sum(d("__y") * d("__y")).alias("__syy"),
    )
    n = d("n_pairs")
    vx = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    vy = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    cov = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    r = F.when(
        (F.col("n_pairs") >= 2) & (vx > 0) & (vy > 0),
        cov.cast("double")
        / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
    )
    return agg.select(
        "lag", "n_pairs", r.alias("pearson_r"),
        cov.cast("double").alias("cov_n2"),
    ).orderBy("lag")


def rolling_corr(
    df: DataFrame,
    key_a,
    key_b,
    window_bars: int,
    interval: str = "1d",
    *,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    seq_col: str = "event_id",
    min_bars: int = 2,
) -> DataFrame:
    """Rolling Pearson correlation between two series on a shared bar
    grid: for each bar where BOTH series traded, r over the trailing
    ``window_bars`` co-present bars (current included) — the rolling
    twin of :func:`lagged_crosscorr` (regime monitoring: "has the
    relationship broken down this week?").

    Frame semantics: the window counts BARS PRESENT on both sides, not
    calendar steps (the trading-day convention — calendar gaps do not
    dilute the frame). Bars are LAST cent-quantized values (exact
    integers); all six rolling sums accumulate in decimal(38,0) inside
    the frame, r is the one final double chain; NULL below ``min_bars``
    or on zero variance.

    Scale: one map-side-combinable events aggregation to the (key, bar)
    grain; the join and the rolling window run on the ALIGNED BAR grain
    only — bounded by the time span, never the input. The window is
    ungrouped over that bounded relation (same posture as the LTTB slot
    windows); wrap with per-pair keys before partitioning if running
    many pairs at once.
    """
    if window_bars < 1 or min_bars < 2:
        raise ValueError("window_bars >= 1 and min_bars >= 2 required")
    step = interval_to_ms(interval)
    cents = _cents(value_col)
    ts = F.col(ts_col).cast("long")
    g = (
        df.filter(F.col(key_col).isin(key_a, key_b))
        .filter(ts.isNotNull() & F.col(value_col).isNotNull())
        .groupBy(
            F.col(key_col).alias("__k"),
            floor_boundary_col(ts, step).alias("__b"),
        )
        .agg(F.max_by(cents, F.struct(ts, F.col(seq_col))).alias("__v"))
    )
    a = g.filter(F.col("__k") == key_a).select(
        F.col("__b"), F.col("__v").alias("__x")
    )
    b = g.filter(F.col("__k") == key_b).select(
        F.col("__b"), F.col("__v").alias("__y")
    )
    pairs = a.join(b, "__b")
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    w = (
        Window.orderBy("__b")
        .rowsBetween(-(window_bars - 1), Window.currentRow)
    )
    agg = pairs.select(
        F.col("__b").alias("bar_ts"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_bars"),
        F.sum(d("__x")).over(w).alias("__sx"),
        F.sum(d("__y")).over(w).alias("__sy"),
        F.sum(d("__x") * d("__y")).over(w).alias("__sxy"),
        F.sum(d("__x") * d("__x")).over(w).alias("__sxx"),
        F.sum(d("__y") * d("__y")).over(w).alias("__syy"),
    )
    n = d("n_bars")
    vx = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    vy = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    cov = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    r = F.when(
        (F.col("n_bars") >= min_bars) & (vx > 0) & (vy > 0),
        cov.cast("double")
        / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
    )
    return agg.select("bar_ts", "n_bars", r.alias("pearson_r"))


def psi_drift(
    df: DataFrame,
    split_ts: int,
    *,
    ts_col: str = "ts",
    value_col: str = "value",
    key_cols: Sequence[str] = (),
    lo: float = 0.0,
    hi: float = 100.0,
    bins: int = 10,
) -> DataFrame:
    """Population-stability drift bins: the per-bin distribution shift of
    ``value_col`` between the BASELINE period (ts < split_ts) and the
    CURRENT period (ts >= split_ts) — the PSI monitoring primitive of a
    production data pipeline.

    Output per (key, bin): exact counts and integer-DIV ppm shares on
    both sides, plus ``psi_term`` = (p−q)·ln(p/q) (NULL when either side
    of the bin is empty — no epsilon fudging; Σ over non-null terms is
    the classic PSI). The counts/ppm columns are integer-exact and
    engine-reproducible; ``psi_term`` uses ln, which libm implementations
    may round differently in the last ulp — keep it OFF any cross-engine
    hash surface (same policy as ``hll_estimate_corrected``).

    Scale: ONE scan, one conditional aggregation to the (key, bin) grain
    (map-side combinable, output bounded by #keys × (bins+2)), totals via
    a window over that tiny grain. Out-of-range values land in the
    underflow (-1) / overflow (``bins``) buckets; NULL values drop.
    """
    if bins < 1 or not hi > lo:
        raise ValueError(f"need bins >= 1 and hi > lo: {bins}, [{lo}, {hi})")
    g = list(key_cols)
    v = F.col(value_col).cast("double")
    ts = F.col(ts_col).cast("long")
    raw = F.floor((v - F.lit(float(lo))) * bins / F.lit(float(hi) - float(lo)))
    bucket = (
        F.when(v < lo, F.lit(-1).cast("long"))
        .when(v >= hi, F.lit(bins).cast("long"))
        .otherwise(F.least(raw, F.lit(bins - 1).cast("long")))
    )
    is_base = ts < split_ts
    cells = (
        df.filter(v.isNotNull() & ts.isNotNull())
        .groupBy(*g, bucket.alias("bin"))
        .agg(
            F.count(F.when(is_base, F.lit(1))).cast("long").alias("n_base"),
            F.count(F.when(~is_base, F.lit(1))).cast("long").alias("n_cur"),
        )
    )
    w = Window.partitionBy(*g) if g else Window.partitionBy()
    cells = cells.withColumn(
        "__tb", F.sum("n_base").over(w)
    ).withColumn("__tc", F.sum("n_cur").over(w))
    ppm = lambda n, t: F.expr(f"({n} * 1000000) DIV {t}")  # noqa: E731
    out = cells.withColumn(
        "p_ppm",
        F.when(F.col("__tb") > 0, ppm("n_base", "__tb")).cast("long"),
    ).withColumn(
        "q_ppm",
        F.when(F.col("__tc") > 0, ppm("n_cur", "__tc")).cast("long"),
    )
    p = F.col("p_ppm").cast("double") / 1e6
    q = F.col("q_ppm").cast("double") / 1e6
    term = F.when(
        (F.col("p_ppm") > 0) & (F.col("q_ppm") > 0),
        (p - q) * F.log(p / q),
    )
    return out.select(
        *g, "bin", "n_base", "n_cur", "p_ppm", "q_ppm",
        term.alias("psi_term"),
    )


def cusum_shifts(
    df: DataFrame,
    threshold_cents: int,
    *,
    ts_col: str = "ts",
    key_cols: Sequence[str] = (),
    value_col: str = "value",
    seq_col: str = "event_id",
    min_points: int = 1,
) -> DataFrame:
    """CUSUM level-shift detection, EXACT: per key, the running
    cumulative deviation of the cent-quantized value from the key's own
    full-series mean; a row is flagged when |running deviation| exceeds
    ``threshold_cents`` (the classic "has the level shifted by more than
    h on average-so-far" chart, two-sided, non-resetting).

    No float ever enters the DECISION: with S_t = Σ_{i<=t} x_i (cents)
    and the key's totals (S, n), the deviation after t points is
    S_t − t·S/n, and the flag is the cross-multiplied integer test
    |S_t·n − t·S| > h·t·n in decimal(38,0). The emitted ``cusum_cents``
    is the one final double chain for humans.

    Scale: one per-key totals aggregation (map-side combinable) joined
    back, one per-key ordered window for the prefix sum — the sanctioned
    per-key window shape, no global order. Output: every flagged row
    with its running statistics. ``min_points`` suppresses the warm-up
    (the first few rows' running means deviate trivially).
    """
    if threshold_cents < 0:
        raise ValueError(f"threshold_cents must be >= 0: {threshold_cents}")
    if min_points < 1:
        raise ValueError(f"min_points must be >= 1: {min_points}")
    g = list(key_cols)
    x = _cents(value_col)
    ts = F.col(ts_col)
    base = df.filter(
        F.col(value_col).isNotNull() & ts.isNotNull()
    ).select(*g, ts.alias(ts_col), F.col(seq_col), x.alias("__x"))
    tot = base.groupBy(*g).agg(
        F.sum("__x").alias("__s"), F.count(F.lit(1)).alias("__n")
    )
    if g:
        lt, rt = base.alias("__l"), tot.alias("__r")
        cond = F.lit(True)
        for k in g:
            cond = cond & F.col(f"__l.{k}").eqNullSafe(F.col(f"__r.{k}"))
        j = lt.join(F.broadcast(rt), cond).select(
            "__l.*", F.col("__r.__s").alias("__s"), F.col("__r.__n").alias("__n")
        )
    else:
        j = base.crossJoin(F.broadcast(tot))
    w = (
        Window.partitionBy(*g)
        .orderBy(ts_col, seq_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    j = j.withColumn("__st", F.sum("__x").over(w)).withColumn(
        "__t", F.count(F.lit(1)).over(w).cast("long")
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    dev = d("__st") * d("__n") - d("__t") * d("__s")
    flag = (
        F.abs(dev) > F.lit(int(threshold_cents)) * d("__t") * d("__n")
    ) & (F.col("__t") >= min_points)
    return (
        j.withColumn("__dev", dev)
        .filter(flag)
        .select(
            *g,
            ts_col,
            seq_col,
            F.col("__t").alias("n_seen"),
            # mean running deviation in cents: dev / (t*n), one double chain
            (
                F.col("__dev").cast("double")
                / (F.col("__t").cast("double") * F.col("__n").cast("double"))
            ).alias("cusum_cents"),
        )
    )


def acf_bars(
    df: DataFrame,
    key,
    max_lag: int,
    interval: str = "1d",
    *,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    seq_col: str = "event_id",
    cache: bool = True,
) -> DataFrame:
    """Autocorrelation function of one series' bar closes on a regular
    grid: for each lag k in 1..``max_lag`` (in grid steps), the
    mean-centered sample autocorrelation
    r_k = Σ(x_t − μ)(x_{t+k} − μ) / Σ(x_t − μ)² — the seasonality /
    momentum screening statistic (statsmodels ``acf`` convention: the
    GLOBAL series mean μ and the lag-0 denominator, not per-lag Pearson,
    which :func:`lagged_crosscorr` of a series with itself would give).

    Determinism: the series is reduced to LAST cent-quantized value per
    bucket (bar-close, exact ints). With S = Σx and n bars, every term
    cross-multiplies by n: num_k = Σ(n·x_t − S)(n·x_{t+k} − S) and
    den = Σ(n·x_t − S)², both exact in decimal(38,0); r_k is ONE double
    division. Calendar gaps: only (t, t+k) pairs where BOTH bars exist
    contribute to num_k (den is over all bars) — documented gap
    convention, exact on a dense grid.

    Scale: one map-side-combinable aggregation to the bar grain; the
    lag fan-out (broadcast #lags relation), the self-join, and the
    single-row (S, n, den) broadcast all run on the AGGREGATED bar
    grain — bounded by the time span, never the event count.

    ``cache``: the bar relation feeds stats, the denominator, and both
    join sides; Catalyst re-executes shared subplans per consumer, so
    without caching the events aggregation (a full fact scan) runs ~6×.
    The default persists the TINY bar relation at MEMORY_AND_DISK
    (evictable; lives until unpersist/clearCache — the
    ``resample_last_interval`` contract); ``cache=False`` registers
    nothing.
    """
    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1: {max_lag}")
    from pyspark import StorageLevel

    step = interval_to_ms(interval)
    cents = _cents(value_col)
    ts = F.col(ts_col).cast("long")
    g = (
        df.filter(F.col(key_col) == key)
        .filter(ts.isNotNull() & F.col(value_col).isNotNull())
        .groupBy(floor_boundary_col(ts, step).alias("__b"))
        .agg(F.max_by(cents, F.struct(ts, F.col(seq_col))).alias("__v"))
    )
    if cache:
        g = track_persist(g.persist(StorageLevel.MEMORY_AND_DISK))
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    stats = g.agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__v").alias("__s"),
    )
    # centered-×n bar relation: c_t = n·x_t − S (exact decimal)
    cb = g.crossJoin(F.broadcast(stats)).select(
        "__b",
        (d(F.col("__n")) * d(F.col("__v")) - d(F.col("__s"))).alias("__c"),
        "__n",
    )
    den_rel = cb.agg(
        F.sum(F.col("__c") * F.col("__c")).alias("__den"),
        F.first("__n").alias("__n"),
    )
    lag_rel = F.broadcast(
        df.sparkSession.createDataFrame(
            [(int(k),) for k in range(1, max_lag + 1)], "lag long"
        )
    )
    a = cb.crossJoin(lag_rel).select(
        "lag",
        (F.col("__b") + F.col("lag") * step).alias("__bb"),
        F.col("__c").alias("__ca"),
    )
    b = cb.select(F.col("__b").alias("__bb"), F.col("__c").alias("__cb"))
    num = (
        a.join(b, "__bb")
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.col("__ca") * F.col("__cb")).alias("__num"),
        )
    )
    out = num.crossJoin(F.broadcast(den_rel))
    r = F.when(
        (F.col("__den") > 0) & (F.col("n_pairs") >= 1),
        F.col("__num").cast("double") / F.col("__den").cast("double"),
    )
    return out.select(
        "lag",
        "n_pairs",
        F.col("__n").alias("n_bars"),
        r.alias("acf"),
    ).orderBy("lag")


def robust_outlier_summary(
    df: DataFrame,
    *,
    group_col: str = "event_type",
    value_col: str = "value",
    k: int = 3,
    cents: bool = True,
    ts_col: str = "ts",
    cache: bool = True,
) -> DataFrame:
    """Per-group robust outlier summary via median / MAD (median absolute
    deviation) — the screening statistic that, unlike
    :func:`rolling_anomalies`' mean/std z-score, is not itself dragged
    by the outliers it is hunting.

    EXACT integer order statistics: on cent-quantized values, the
    doubled median med_x2 = v_(⌊(n+1)/2⌋) + v_(⌈(n+1)/2⌉) (the two
    middle order stats; equal when n is odd) is an exact integer — the
    interpolated median is med_x2/2 with no float ever computed.
    Doubled deviations dev = |2·v − med_x2| (= 2·|v − median|) are
    exact; their doubled median mad_x4 = 4·MAD likewise. A value is an
    outlier iff |v − median| > k·MAD ⇔ 2·dev > k·mad_x4 — an
    all-integer decision (k integer). Output columns are all BIGINT:
    no cross-engine float hazard at all.

    Scale: exact per-group medians need a per-group sort — two ordered
    windows partitioned by ``group_col`` (value rank, then deviation
    rank), each a grouped shuffle that parallelizes across groups, plus
    two broadcast joins of the #groups-row med/mad relations. This is
    the honest cost of exactness; for approximate screening at 100 TB
    use histogram-bin quantiles (``value_equal_depth_bins``) instead.

    ``cache``: the projected value relation feeds the count, the value
    ranks, and the deviation pass, and the deviation relation feeds the
    MAD ranks and the final flag count — Catalyst re-executes shared
    subplans per consumer (~7 upstream scans uncached). The default
    persists both 2-column projections at MEMORY_AND_DISK (evictable;
    lives until unpersist/clearCache — the ``resample_last_interval``
    contract); ``cache=False`` registers nothing.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    from pyspark import StorageLevel

    gcol = F.col(group_col)
    # cents=True: money convention (round(value*100), the tpch_q1 rule);
    # cents=False: the column is already an exact integer (durations,
    # counts) — scale NOTHING, or sub-unit noise corrupts the order stats.
    v = _cents(value_col) if cents else F.col(value_col).cast("long")
    base = df.filter(
        F.col(value_col).isNotNull() & gcol.isNotNull()
    ).select(gcol.alias("__g"), v.alias("__v"))
    if cache:
        base = track_persist(base.persist(StorageLevel.MEMORY_AND_DISK))
    cnt = base.groupBy("__g").agg(F.count(F.lit(1)).cast("long").alias("__n"))

    def _med2(rel: DataFrame, col: str) -> DataFrame:
        # doubled median of `col` per __g: sum of the two middle order
        # stats (1-indexed ranks (n+1)//2 and (n+2)//2; equal when odd,
        # in which case the rank-row is counted twice).
        w = Window.partitionBy("__g").orderBy(col)
        rn = rel.join(F.broadcast(cnt), "__g").withColumn(
            "__rn", F.row_number().over(w)
        )
        lo = (F.col("__n") + 1) / 2
        lo_i = F.floor(lo).cast("long")
        hi_i = F.floor((F.col("__n") + 2) / 2).cast("long")
        picked = rn.filter(
            (F.col("__rn") == lo_i) | (F.col("__rn") == hi_i)
        )
        # odd n: lo_i == hi_i, the single middle row must count double
        return picked.groupBy("__g").agg(
            F.sum(
                F.when(lo_i == hi_i, F.col(col) * 2).otherwise(F.col(col))
            ).alias("__m2")
        )

    med2 = _med2(base, "__v").withColumnRenamed("__m2", "__med2")
    devs = base.join(F.broadcast(med2), "__g").select(
        "__g",
        F.abs(F.col("__v") * 2 - F.col("__med2")).alias("__dev"),
        "__med2",
    )
    if cache:
        devs = track_persist(devs.persist(StorageLevel.MEMORY_AND_DISK))
    mad4 = _med2(devs.select("__g", "__dev"), "__dev").withColumnRenamed(
        "__m2", "__mad4"
    )
    flagged = (
        devs.join(F.broadcast(mad4), "__g")
        .groupBy("__g", "__med2", "__mad4")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(
                    F.col("__dev") * 2 > F.lit(int(k)) * F.col("__mad4"), 1
                ).otherwise(0)
            ).cast("long").alias("n_outliers"),
        )
    )
    return flagged.select(
        F.col("__g").alias(group_col),
        "n",
        F.col("__med2").cast("long").alias("med_x2"),
        F.col("__mad4").cast("long").alias("mad_x4"),
        "n_outliers",
    )


def seasonal_naive_error(
    df: DataFrame,
    season_bars: int,
    interval: str = "1d",
    *,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    seq_col: str = "event_id",
    cache: bool = True,
) -> DataFrame:
    """Seasonal-naive forecast error per key: predict each bar close as
    the close ``season_bars`` grid steps earlier and report the error —
    the standard sanity baseline every forecasting pipeline must beat
    (and a direct seasonality-strength readout: small error ⇒ strong
    seasonality at that period).

    Semantics: LAST cent-quantized value per (key, bucket); only bars
    whose seasonal predecessor EXISTS on the grid contribute (inner
    join — no imputation across gaps). sum_abs_err / sum_err are exact
    BIGINT cent sums; mae_cents and bias_cents are each ONE final
    double division.

    Scale: one map-side-combinable aggregation to the (key, bar) grain;
    the seasonal self-join and the per-key final aggregate run on that
    AGGREGATED grain only — bounded by #keys × time span.

    ``cache``: the bar relation is both self-join sides; the default
    persists it (tiny, MEMORY_AND_DISK, evictable — the
    ``resample_last_interval`` contract) so the fact scan runs once;
    ``cache=False`` registers nothing.
    """
    if season_bars < 1:
        raise ValueError(f"season_bars must be >= 1: {season_bars}")
    from pyspark import StorageLevel

    step = interval_to_ms(interval)
    cents = _cents(value_col)
    ts = F.col(ts_col).cast("long")
    g = (
        df.filter(ts.isNotNull() & F.col(value_col).isNotNull())
        .filter(F.col(key_col).isNotNull())
        .groupBy(
            F.col(key_col).alias("__k"),
            floor_boundary_col(ts, step).alias("__b"),
        )
        .agg(F.max_by(cents, F.struct(ts, F.col(seq_col))).alias("__v"))
    )
    if cache:
        g = track_persist(g.persist(StorageLevel.MEMORY_AND_DISK))
    cur = g.select("__k", "__b", F.col("__v").alias("__x"))
    prior = g.select(
        "__k",
        (F.col("__b") + F.lit(season_bars) * step).alias("__b"),
        F.col("__v").alias("__p"),
    )
    pairs = cur.join(prior, ["__k", "__b"])
    err = F.col("__x") - F.col("__p")
    agg = pairs.groupBy("__k").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.abs(err)).cast("long").alias("sum_abs_err"),
        F.sum(err).cast("long").alias("sum_err"),
    )
    n = F.col("n_pairs").cast("double")
    return agg.select(
        F.col("__k").alias(key_col),
        "n_pairs",
        "sum_abs_err",
        "sum_err",
        (F.col("sum_abs_err").cast("double") / n).alias("mae_cents"),
        (F.col("sum_err").cast("double") / n).alias("bias_cents"),
    )


def exact_percentiles(
    df: DataFrame,
    percentiles: "Sequence[tuple]" = ((1, 2), (9, 10), (99, 100)),
    *,
    group_col: str = "event_type",
    value_col: str = "value",
    cents: bool = True,
    cache: bool = True,
) -> DataFrame:
    """EXACT per-group percentiles as scaled integers — the
    linear-interpolation quantile (numpy/DuckDB 'linear' convention)
    with NO float ever computed: for p = num/den on the ascending
    order statistics x_1..x_n, the index p·(n−1) splits into
    lo = (num·(n−1)) DIV den and frac_den = (num·(n−1)) MOD den, and

        den · Q_p  =  x_{lo+1}·(den − frac) + x_{lo+2}·frac

    is an exact integer (the doubled-median trick generalized to any
    rational p). Output one BIGINT column per percentile, named
    ``p{num}_{den}_x{den}`` (e.g. ``p9_10_x10`` = 10× the p90) — divide
    by den to read the value; compare cross-engine without any float
    hazard. Default set: median ×2, p90 ×10, p99 ×100.

    Scale: ONE rank window per group (the sort is the honest cost of
    exact order statistics — `value_equal_depth_bins` is the
    approximate screen), then one conditional-sum aggregation selecting
    the two bracketing order stats per percentile. ``cache`` persists
    the 2-column projection feeding both the count join and the rank
    window (the resample_last_interval contract).
    """
    ps = [(int(a), int(b)) for a, b in percentiles]
    for num, den in ps:
        if not (0 <= num <= den and den >= 1):
            raise ValueError(f"percentile {num}/{den} not in [0, 1]")
    from pyspark import StorageLevel

    gcol = F.col(group_col)
    # cents=True: money convention (round(value*100), the tpch_q1 rule);
    # cents=False: the column is already an exact integer (durations,
    # counts) — scale NOTHING, or sub-unit noise corrupts the order stats.
    v = _cents(value_col) if cents else F.col(value_col).cast("long")
    base = df.filter(
        F.col(value_col).isNotNull() & gcol.isNotNull()
    ).select(gcol.alias("__g"), v.alias("__v"))
    if cache:
        base = track_persist(base.persist(StorageLevel.MEMORY_AND_DISK))
    cnt = base.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    w = Window.partitionBy("__g").orderBy("__v")
    rn = base.join(F.broadcast(cnt), "__g").withColumn(
        "__rn", F.row_number().over(w).cast("long")
    )
    aggs = [F.max("__n").cast("long").alias("n")]
    for num, den in ps:
        lo = F.expr(f"CAST({num} * (__n - 1) DIV {den} AS BIGINT)") + 1
        frac = F.expr(f"CAST({num} * (__n - 1) % {den} AS BIGINT)")
        contrib = F.when(
            F.col("__rn") == lo, F.col("__v") * (F.lit(den) - frac)
        ).when(
            (frac > 0) & (F.col("__rn") == lo + 1), F.col("__v") * frac
        )
        aggs.append(
            F.sum(contrib).cast("long").alias(f"p{num}_{den}_x{den}")
        )
    return rn.groupBy("__g").agg(*aggs).withColumnRenamed("__g", group_col)


def lateness_stats(
    df: DataFrame,
    *,
    group_col: str = "event_type",
    ts_col: str = "ts",
    seq_col: str = "event_id",
    num_buckets: "int | None" = None,
) -> DataFrame:
    """Out-of-order arrival profile — the measurement that sizes a
    Structured Streaming watermark delay.

    CONSTRUCTION-TIME ACTION: when ``seq_col`` is numeric this op runs
    the shared scan's one ``approxQuantile`` job at call time (one extra
    input scan) to pick the bucket bounds — none with ``num_buckets=1``.
    Callers composing it into lazy plans should call it once and reuse
    the returned DataFrame.

    With ``seq_col`` as the
    ingest/arrival order, a row's lateness is how far the already-seen
    event-time high-water mark is ahead of its own event time
    (``max(ts) over arrivals-before-me − ts``, floored at 0). A stream
    whose p-max lateness is 40 s needs ``withWatermark(..., ">=40s")``
    to avoid dropping those rows; this op reports the exact profile per
    group.

    Output per group: (n, n_late, late_ppm, max_late_ms, sum_late_ms) —
    all exact integers. Rows with NULL ts/seq carry no arrival position
    and are excluded.

    Scale: the running high-water mark is the shared range-bucketed
    scan (``operators.fill._bucketed_scan``, a strictly-before running
    max per group) — NOT a per-group serial window, which would pull each
    group's entire history through one task. Rows bucket by ``seq_col``
    range (quantile sketch on the numeric seq, ``num_buckets`` defaults
    to ``spark.sql.shuffle.partitions``); the running max runs within
    each (group, bucket), and each (group, bucket)'s carry-in — the max
    over the group's earlier buckets — is a window over one row per
    occupied (group, bucket), partitioned by group and broadcast back;
    the high-water mark is their ``greatest`` — exact, identical to the
    serial formulation. That carry holds up to #groups × #buckets rows:
    with a high-cardinality ``group_col`` pass a small ``num_buckets``
    (many groups already spread the rows over many tasks). A
    non-numeric ``seq_col`` degrades to one bucket per group, i.e. the
    serial window. The input is scanned three times (quantile sketch,
    window branch, seeds branch) and deliberately not persisted — for a
    parquet scan a re-read beats caching the full relation (the
    ``operators.fill`` measurement); persist upstream if the input is an
    expensive subplan.
    """
    from timeseriesfuser_spark.operators.fill import _bucketed_scan

    base = df.filter(
        F.col(ts_col).isNotNull() & F.col(seq_col).isNotNull()
    ).select(
        F.col(group_col).alias("g"),
        F.col(ts_col).cast("long").alias("__ts"),
        F.col(seq_col).alias("__seq"),
    )
    scanned = _bucketed_scan(
        base, ["__seq"], [("__hwm", "__ts", "max")], partition_by=["g"],
        inclusive=False, num_buckets=num_buckets,
    )
    # greatest() skips NULLs: the high-water mark is NULL only for a
    # group's very first arrival, whose lateness is 0 by definition.
    per_row = scanned.select(
        "g",
        F.coalesce(
            F.greatest(F.col("__hwm") - F.col("__ts"), F.lit(0)), F.lit(0)
        ).cast("long").alias("__late"),
    )
    return per_row.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("__late") > 0).cast("long")).cast("long").alias("n_late"),
        F.expr("sum(CASE WHEN __late > 0 THEN 1 ELSE 0 END) * 1000000 DIV count(*)")
        .cast("long")
        .alias("late_ppm"),
        F.max("__late").cast("long").alias("max_late_ms"),
        F.sum("__late").cast("long").alias("sum_late_ms"),
    ).withColumnRenamed("g", group_col)


def cusum_changepoints(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    seq_col: str = "event_id",
    slack_cents: int = 50,
    threshold_cents: int = 500,
) -> DataFrame:
    """Per-key two-sided CUSUM drift detector (Page 1954) over the
    cent-quantized value, in (ts, seq) order — the classic
    smallest-sufficient-state changepoint screen a metrics pipeline runs
    per entity::

        S⁺ᵢ = max(0, S⁺ᵢ₋₁ + xᵢ − ref − slack)
        S⁻ᵢ = max(0, S⁻ᵢ₋₁ + ref − xᵢ − slack)
        alarm ⇔ S⁺ᵢ ≥ h  or  S⁻ᵢ ≥ h   (both sides reset to 0 after)

    with ``ref`` = the key's FIRST value (level-shift-from-baseline
    form; a persistent shift re-alarms every ~h/|shift−slack| rows,
    the standard repeated-alarm behavior). ALL-INTEGER: cents in,
    integer slack/threshold, max(0, ·) — so the recursive-CTE oracle
    matches bit-for-bit with no float hazard at all (stronger than the
    ewma/holt float-chain argument).

    The recursion depends on the previous row's OUTPUT — the sanctioned
    per-key Arrow ``applyInPandas`` case (the ewma contract). Rows with
    NULL value/ts/seq carry no evidence or position and are excluded.

    Output: (key, ts, seq, cents, cusum_pos, cusum_neg, alarm) — the
    pre-reset statistics plus the 0/1 alarm flag.

    Scale: one shuffle on the key; per-group work is O(rows in group);
    keys are the parallelism unit.
    """
    import pandas as pd  # noqa: F401

    slack = int(slack_cents)
    h = int(threshold_cents)
    if slack < 0 or h <= 0:
        raise ValueError("slack_cents must be >= 0 and threshold_cents > 0")
    ev = df.filter(
        F.col(value_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(seq_col).isNotNull()
    ).select(
        F.col(key_col).alias("k"),
        F.col(ts_col).cast("long").alias("ts"),
        F.col(seq_col).cast("long").alias("seq"),
        _cents(value_col).alias("cents"),
    )
    schema = T.StructType(
        [
            T.StructField("k", ev.schema["k"].dataType, True),
            T.StructField("ts", T.LongType(), True),
            T.StructField("seq", T.LongType(), True),
            T.StructField("cents", T.LongType(), True),
            T.StructField("cusum_pos", T.LongType(), True),
            T.StructField("cusum_neg", T.LongType(), True),
            T.StructField("alarm", T.LongType(), True),
        ]
    )

    def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["ts", "seq"], ignore_index=True)
        xs = pdf["cents"].tolist()
        ref = int(xs[0])
        sp = sn = 0
        pos, neg, al = [], [], []
        for x in xs:
            x = int(x)
            sp = max(0, sp + x - ref - slack)
            sn = max(0, sn + ref - x - slack)
            a = 1 if (sp >= h or sn >= h) else 0
            pos.append(sp)
            neg.append(sn)
            al.append(a)
            if a:
                sp = sn = 0
        pdf["cusum_pos"] = pos
        pdf["cusum_neg"] = neg
        pdf["alarm"] = al
        return pdf

    out = ev.groupBy("k").applyInPandas(fn, schema)
    return out.select(
        F.col("k").alias(key_col),
        F.col("ts").alias(ts_col),
        F.col("seq").alias(seq_col),
        "cents",
        "cusum_pos",
        "cusum_neg",
        "alarm",
    )


def theil_sen_trend(
    df: DataFrame,
    interval: str = "1d",
    *,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    seq_col: str = "event_id",
    slope_scale: int = 1_000_000,
    cache: bool = True,
) -> DataFrame:
    """Theil–Sen robust trend per key: the MEDIAN of all pairwise bar
    slopes — up to ~29% contamination cannot move it, unlike the OLS
    slope Holt/linear fits drag toward outliers.

    Exact integers end to end: bars are the last (ts, seq)-ordered cent
    value per ``interval`` bucket; each pair's slope is quantized
    ``slope_u = Δcents·slope_scale DIV Δbar_index`` (both engines
    truncate integer division toward zero, so negatives agree); the
    median of the slope_u population is the doubled-median
    ``slope_x2_u`` (sum of the two middle order stats — the
    ``robust_outlier_summary`` trick), BIGINT, no float surface.

    Output: (key, n_bars, n_pairs, slope_x2_u) — slope per bar interval
    in 1/slope_scale cent units, doubled.

    Scale: the pair space is Σ_key n_bars² — bars per key are bounded
    by span/interval (e.g. 3 years of daily bars = 1095 → 0.6M pairs
    per key), NOT by corpus rows; the self-join runs on the aggregated
    bar grain. The median needs one per-key sort of the pair relation
    (grouped shuffle). For unbounded spans widen ``interval``.
    """
    from pyspark import StorageLevel

    ms = interval_to_ms(interval)
    base = df.filter(
        F.col(ts_col).isNotNull()
        & F.col(value_col).isNotNull()
        & F.col(key_col).isNotNull()
    ).select(
        F.col(key_col).alias("__k"),
        F.expr(f"{ts_col} DIV {ms}").cast("long").alias("__d"),
        _cents(value_col).alias("__v"),
        F.col(ts_col).alias("__t"),
        F.col(seq_col).alias("__s"),
    )
    bars = (
        base.groupBy("__k", "__d")
        .agg(
            F.max_by(
                F.col("__v"), F.struct(F.col("__t"), F.col("__s"))
            ).alias("__v")
        )
    )
    if cache:
        bars = track_persist(bars.persist(StorageLevel.MEMORY_AND_DISK))
    a, b = bars.alias("a"), bars.alias("b")
    slopes = (
        a.join(
            b,
            (F.col("a.__k") == F.col("b.__k")) & (F.col("a.__d") < F.col("b.__d")),
        )
        .select(
            F.col("a.__k").alias("__k"),
            F.expr(
                f"(CAST(b.__v - a.__v AS DECIMAL(38,0)) * {int(slope_scale)})"
                " DIV (b.__d - a.__d)"
            ).cast("long").alias("__sl"),
        )
    )
    if cache:
        slopes = track_persist(slopes.persist(StorageLevel.MEMORY_AND_DISK))
    cnt = slopes.groupBy("__k").agg(F.count(F.lit(1)).cast("long").alias("__n"))
    w = Window.partitionBy("__k").orderBy("__sl")
    rn = slopes.join(F.broadcast(cnt), "__k").withColumn(
        "__rn", F.row_number().over(w)
    )
    lo_i = F.floor((F.col("__n") + 1) / 2).cast("long")
    hi_i = F.floor((F.col("__n") + 2) / 2).cast("long")
    med2 = (
        rn.filter((F.col("__rn") == lo_i) | (F.col("__rn") == hi_i))
        .groupBy("__k", "__n")
        .agg(
            F.sum(
                F.when(lo_i == hi_i, F.col("__sl") * 2).otherwise(F.col("__sl"))
            ).cast("long").alias("slope_x2_u")
        )
    )
    nbars = bars.groupBy("__k").agg(F.count(F.lit(1)).cast("long").alias("n_bars"))
    return (
        nbars.join(med2, "__k", "left")
        .select(
            F.col("__k").alias(key_col),
            "n_bars",
            F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_pairs"),
            "slope_x2_u",
        )
    )


def winsorized_stats(
    df: DataFrame,
    *,
    group_col: str = "event_type",
    value_col: str = "value",
    lo=(1, 10),
    hi=(9, 10),
    cents: bool = True,
    cache: bool = True,
) -> DataFrame:
    """Per-group winsorized mean — the robust central tendency that
    keeps every observation (unlike trimming) but clamps the tails to
    the exact ``lo``/``hi`` percentile values before averaging: the
    screening mean for heavy-tailed metrics (latency, spend) where one
    whale drags the plain mean and the median throws information away.

    EXACT integers throughout: the clamp bounds are the
    :func:`exact_percentiles` linear-interpolation order statistics in
    den-scaled form (``den·Q_p`` — no float), every value is scaled by
    the shared denominator and clamped between them, and the winsorized
    sum is an exact scaled integer. With D = lcm-free shared scale
    ``den_lo·den_hi``:

        sum_xD = Σ clamp(D·v, lo_bound_xD, hi_bound_xD)

    Output per group: (n, p_lo_xD, p_hi_xD, winsorized_sum_xD,
    winsorized_mean_milli) — mean_milli = sum_xD·1000 DIV (n·D), one
    documented truncating (toward-zero, both engines) division, in
    MILLI-units of the quantized value (milli-cents under
    ``cents=True``); divide the _xD columns by D to read values. All
    BIGINT (decimal(38,0) internally — no overflow).

    Scale: the same one-rank-window-per-group cost as
    ``exact_percentiles`` plus one broadcast join of the #groups-row
    bounds relation and one final hash-agg.
    """
    ln, ld = int(lo[0]), int(lo[1])
    hn, hd = int(hi[0]), int(hi[1])
    for num, den in ((ln, ld), (hn, hd)):
        if not (0 <= num <= den and den >= 1):
            raise ValueError(f"percentile {num}/{den} not in [0, 1]")
    if ln * hd > hn * ld:
        raise ValueError("lo percentile must be <= hi percentile")
    from pyspark import StorageLevel

    scale = ld * hd
    gcol = F.col(group_col)
    v = _cents(value_col) if cents else F.col(value_col).cast("long")
    base = df.filter(
        F.col(value_col).isNotNull() & gcol.isNotNull()
    ).select(gcol.alias("__g"), v.alias("__v"))
    if cache:
        base = track_persist(base.persist(StorageLevel.MEMORY_AND_DISK))
    cnt = base.groupBy("__g").agg(F.count(F.lit(1)).cast("long").alias("__n"))
    w = Window.partitionBy("__g").orderBy("__v")
    rn = base.join(F.broadcast(cnt), "__g").withColumn(
        "__rn", F.row_number().over(w).cast("long")
    )

    def bound(num: int, den: int, name: str):
        # den·Q_p rescaled to the shared denominator: (scale/den)·(den·Q_p)
        mult = scale // den
        lo_i = F.expr(f"CAST({num} * (__n - 1) DIV {den} AS BIGINT)") + 1
        frac = F.expr(f"CAST({num} * (__n - 1) % {den} AS BIGINT)")
        contrib = F.when(
            F.col("__rn") == lo_i, F.col("__v") * (F.lit(den) - frac)
        ).when((frac > 0) & (F.col("__rn") == lo_i + 1), F.col("__v") * frac)
        return (F.sum(contrib) * mult).cast("long").alias(name)

    bounds = rn.groupBy("__g").agg(
        F.max("__n").cast("long").alias("n"),
        bound(ln, ld, "p_lo_xD"),
        bound(hn, hd, "p_hi_xD"),
    )
    out = (
        base.join(F.broadcast(bounds), "__g")
        .select(
            "__g",
            "n",
            "p_lo_xD",
            "p_hi_xD",
            F.greatest(
                F.col("p_lo_xD"),
                F.least(F.col("p_hi_xD"), F.col("__v") * scale),
            ).alias("__c"),
        )
        .groupBy("__g", "n", "p_lo_xD", "p_hi_xD")
        .agg(
            F.sum(F.expr("CAST(__c AS DECIMAL(38,0))"))
            .cast("long")
            .alias("winsorized_sum_xD")
        )
    )
    return out.select(
        F.col("__g").alias(group_col),
        "n",
        "p_lo_xD",
        "p_hi_xD",
        "winsorized_sum_xD",
        F.expr(
            f"CAST(CAST(winsorized_sum_xD AS DECIMAL(38,0)) * 1000"
            f" DIV (CAST(n AS DECIMAL(38,0)) * {scale}) AS BIGINT)"
        ).alias("winsorized_mean_milli"),
    )


def burst_flags(
    df: DataFrame,
    interval: str = "1h",
    *,
    hi: int = 5,
    lo: int = 1,
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Hysteresis burst detection per key — the flap-suppression
    alerting primitive: a key ENTERS burst state when a bar's event
    count reaches ``hi`` and stays in it until a bar drops to ``lo`` or
    below (bars in the (lo, hi) dead band inherit the previous state),
    so a rate oscillating around one threshold never flaps.

    The hysteresis "recursion" is relational: a bar is *decisive* when
    it crosses a threshold (state 1 at ≥ hi, 0 at ≤ lo, NULL in the
    dead band), and the state is simply the LAST decisive value —
    ``last(decisive) IGNORE NULLS`` over the bar order, default 0.
    ``burst_id`` numbers each burst per key (running count of entries),
    NULL outside bursts. All exact integers.

    Gap semantics: only bars WITH events exist on the grain — an empty
    bar (count 0 ≤ lo) would end any burst, so a gap between event bars
    longer than one interval ends the burst at the next observed bar
    iff that bar itself is ≤ lo; a dead-band bar after a gap inherits.
    For strict wall-clock semantics resample to a dense spine first.

    Output: (key, bar_start, n_events, in_burst, entered, burst_id).
    Scale: one (key, bar) hash-agg, then per-key windows on the BAR
    grain — span/interval bounded, never event rows.
    """
    if not (0 <= lo < hi):
        raise ValueError(f"need 0 <= lo < hi: lo={lo}, hi={hi}")
    ms = interval_to_ms(interval)
    bars = (
        df.filter(F.col(ts_col).isNotNull() & F.col(key_col).isNotNull())
        .groupBy(
            F.col(key_col).alias("key"),
            floor_boundary_col(F.col(ts_col).cast("long"), ms).alias(
                "bar_start"
            ),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    w = Window.partitionBy("key").orderBy("bar_start")
    decisive = (
        F.when(F.col("n_events") >= int(hi), F.lit(1))
        .when(F.col("n_events") <= int(lo), F.lit(0))
    )
    flagged = (
        bars.withColumn("__dec", decisive)
        .withColumn(
            "in_burst",
            F.coalesce(
                F.last("__dec", ignorenulls=True).over(
                    w.rowsBetween(Window.unboundedPreceding, 0)
                ),
                F.lit(0),
            ).cast("long"),
        )
        .withColumn(
            "entered",
            (
                (F.col("in_burst") == 1)
                & (
                    F.coalesce(
                        F.lag("in_burst").over(w), F.lit(0)
                    ) == 0
                )
            ).cast("long"),
        )
    )
    return flagged.withColumn(
        "burst_id",
        F.when(
            F.col("in_burst") == 1,
            F.sum("entered").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        ).cast("long"),
    ).select("key", "bar_start", "n_events", "in_burst", "entered", "burst_id")


def interarrival_stats(
    df: DataFrame,
    *,
    key_col: str = "event_type",
    ts_col: str = "ts",
    seq_col: str = "event_id",
    cache: bool = True,
) -> DataFrame:
    """Per-key inter-arrival gap profile — the heartbeat-health /
    feed-liveness measurement: for each key, the exact count, sum, max,
    median (×2) and p90 (×10) of the gaps between consecutive events in
    (ts, seq) order. A feed whose p90 gap grows is degrading long
    before its mean moves; the percentiles are the
    :func:`exact_percentiles` den-scaled order statistics (no float).

    Keys with fewer than 2 events emit nothing (no gaps exist). NULL
    ts/seq rows are excluded (no arrival position). Output: (key,
    n_gaps, sum_gap_ms, max_gap_ms, p50_x2, p90_x10) — all BIGINT.

    Scale: one per-key lag window on event rows (per-key-activity
    bounded partitions — the behavior-family posture), the gap relation
    persisted once and consumed by the percentile rank window and the
    sum/max aggregate.
    """
    from pyspark import StorageLevel

    base = df.filter(
        F.col(ts_col).isNotNull()
        & F.col(seq_col).isNotNull()
        & F.col(key_col).isNotNull()
    ).select(
        F.col(key_col).alias("__k"),
        F.col(ts_col).cast("long").alias("__t"),
        F.col(seq_col).alias("__q"),
    )
    w = Window.partitionBy("__k").orderBy("__t", "__q")
    gaps = (
        base.withColumn("__prev", F.lag("__t").over(w))
        .filter(F.col("__prev").isNotNull())
        .select("__k", (F.col("__t") - F.col("__prev")).alias("__gap"))
    )
    if cache:
        gaps = track_persist(gaps.persist(StorageLevel.MEMORY_AND_DISK))
    pct = exact_percentiles(
        gaps, ((1, 2), (9, 10)),
        group_col="__k", value_col="__gap", cents=False, cache=False,
    ).withColumnRenamed("n", "n_gaps")
    agg = gaps.groupBy("__k").agg(
        F.sum("__gap").cast("long").alias("sum_gap_ms"),
        F.max("__gap").cast("long").alias("max_gap_ms"),
    )
    return (
        pct.join(agg, "__k")
        .select(
            F.col("__k").alias(key_col),
            "n_gaps",
            "sum_gap_ms",
            "max_gap_ms",
            F.col("p1_2_x2").alias("p50_x2"),
            F.col("p9_10_x10").alias("p90_x10"),
        )
    )


def spearman_corr(
    df: DataFrame,
    key_a,
    key_b,
    interval: str = "1d",
    *,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    seq_col: str = "event_id",
) -> DataFrame:
    """Spearman rank correlation between two series' bar closes — the
    outlier-immune monotone-association screen: Pearson r of the
    within-pair ranks, so one whale bar can move ρ by at most its rank
    step (the :func:`rolling_corr` Pearson would follow it anywhere).

    Exactness: both series reduce to last-cent bars per ``interval``;
    the ranks are DOUBLED AVERAGE ranks (tie group of size c at min
    rank r has average rank r + (c−1)/2 — doubled: 2r + c − 1, an exact
    integer; both engines compute rank()/count() identically), every Σ
    over them is exact in decimal(38,0), and ρ is the one fixed double
    chain (nΣxy − ΣxΣy)/(√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²)) — bit-identical
    cross-engine; NULL for constant sides or n < 2.

    Scale: events collapse to the (key, bucket) grain first; the rank
    windows run on the PAIRED bar grain (span/interval bounded), the
    final aggregate is one row.

    Output: one row (n_pairs, rho).
    """
    ms = interval_to_ms(interval)
    base = df.filter(
        F.col(ts_col).isNotNull()
        & F.col(value_col).isNotNull()
        & F.col(key_col).isin([key_a, key_b])
    ).select(
        F.col(key_col).alias("__k"),
        F.expr(f"{ts_col} DIV {ms}").cast("long").alias("__d"),
        _cents(value_col).alias("__v"),
        F.col(ts_col).alias("__t"),
        F.col(seq_col).alias("__s"),
    )
    bars = base.groupBy("__k", "__d").agg(
        F.max_by(F.col("__v"), F.struct(F.col("__t"), F.col("__s"))).alias(
            "__v"
        )
    )
    a = bars.filter(F.col("__k") == key_a).select(
        "__d", F.col("__v").alias("__va")
    )
    b = bars.filter(F.col("__k") == key_b).select(
        "__d", F.col("__v").alias("__vb")
    )
    paired = a.join(b, "__d")
    wa = Window.orderBy("__va")
    wb = Window.orderBy("__vb")
    # doubled average rank: 2·rank() + count(ties) − 1. The global
    # windows run on the PAIRED BAR grain (span/interval bounded — the
    # rolling_corr bar-grain posture), never on events.
    ranked = paired.withColumn(
        "__ra",
        (
            F.rank().over(wa) * 2
            + F.count(F.lit(1)).over(Window.partitionBy("__va"))
            - 1
        ).cast("long"),
    ).withColumn(
        "__rb",
        (
            F.rank().over(wb) * 2
            + F.count(F.lit(1)).over(Window.partitionBy("__vb"))
            - 1
        ).cast("long"),
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.expr("CAST(__ra AS DECIMAL(38,0))")).alias("__sx"),
        F.sum(F.expr("CAST(__rb AS DECIMAL(38,0))")).alias("__sy"),
        F.sum(F.expr("CAST(__ra AS DECIMAL(38,0)) * __rb")).alias("__sxy"),
        F.sum(F.expr("CAST(__ra AS DECIMAL(38,0)) * __ra")).alias("__sxx"),
        F.sum(F.expr("CAST(__rb AS DECIMAL(38,0)) * __rb")).alias("__syy"),
    )
    num = F.expr("CAST(n_pairs * __sxy - __sx * __sy AS DOUBLE)")
    vx = F.expr("CAST(n_pairs * __sxx - __sx * __sx AS DOUBLE)")
    vy = F.expr("CAST(n_pairs * __syy - __sy * __sy AS DOUBLE)")
    return agg.select(
        "n_pairs",
        F.when(
            (F.col("n_pairs") >= 2)
            & (F.expr("n_pairs * __sxx - __sx * __sx") > 0)
            & (F.expr("n_pairs * __syy - __sy * __sy") > 0),
            F.round(num / (F.sqrt(vx) * F.sqrt(vy)), 6),
        ).alias("rho"),
    )
