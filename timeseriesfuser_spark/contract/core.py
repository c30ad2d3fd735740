"""Core engine queries: fuse, window, resample, forward fill, bounds probes,
interval labels, sessionize, as-of joins, interval join, streaming twin,
and the flagship pipeline.

Split from the single-module registry (round 7); the query/oracle
registration surface (contract.QUERIES / contract.ORACLES) is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from timeseriesfuser_spark.config import FuserConfig, SourceConfig
from timeseriesfuser_spark.intervals import (
    boundary_label_col,
    floor_boundary_col,
    interval_to_ms,
)
from timeseriesfuser_spark.operators.fill import forward_fill
from timeseriesfuser_spark.operators.fuse import TimeSeriesFuser
from timeseriesfuser_spark.operators.resample import resample_last_interval
from timeseriesfuser_spark.ops import dedup as D
from timeseriesfuser_spark.ops import packing as P
from timeseriesfuser_spark.ops import sampling as SA
from timeseriesfuser_spark.ops import similarity as S
from timeseriesfuser_spark.ops import text as X
from timeseriesfuser_spark.ops import timeseries as TS
from timeseriesfuser_spark.timeutils import coerce_to_epoch_ms, ts_epoch_ms_col

from timeseriesfuser_spark.contract._base import (  # noqa: F401
    QUERIES,
    ORACLES,
    register,
    _t,
    _events,
    _events_ts_cuts,
    _sql_hash64,
    _TOKS,
    _SHINGLES,
    _shingle_rel,
    _SHINGLE_REL,
    _H1,
    _ff,
    _fdiv,
    _NH,
    _NB,
    _MT,
    _minhash_sql,
    _H1GAP,
    _DIFF_MID,
)



# --------------------------------------------------------------------------- #
# Core engine: fuse / window / resample / fill  (SURVEY §2.1-2.6)
# --------------------------------------------------------------------------- #

_CLICK_TYPES = ("click", "view")
_IN_CLICKS = "event_type IN ('click', 'view')"


def _event_sources(spark: SparkSession, sf_dir: str):
    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type").isin(*_CLICK_TYPES)).select(
        "ts", "event_id", "user_id", "value"
    )
    txns = ev.filter(~F.col("event_type").isin(*_CLICK_TYPES)).select(
        "ts", "event_id", "user_id", "value"
    )
    return (
        SourceConfig(name="clicks", df=clicks, ts_col="ts"),
        SourceConfig(name="txns", df=txns, ts_col="ts"),
    )


@register(
    "fuse_merge",
    oracle=f"""
    SELECT epoch_ms(ts) AS __timestamp, event_id, user_id,
           CASE WHEN {_IN_CLICKS} THEN value END AS "value||clicks",
           CASE WHEN NOT {_IN_CLICKS} THEN value END AS "value||txns"
    FROM events
    """,
)
def q_fuse_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J4/W5 + P2/P3 + F1: k-way chronological merge as diagonal union
    with collision renaming (`value` -> `value||<src>`), shared merge_cols,
    ts normalized to epoch-ms (ref core.py:353-637, 297-318)."""
    s1, s2 = _event_sources(spark, sf_dir)
    fuser = TimeSeriesFuser(
        [s1, s2],
        FuserConfig(merge_cols=("event_id", "user_id"), remove_internal_cols=True),
    )
    return fuser.fused(spark)


_W_LO = coerce_to_epoch_ms("2024-01-10T00:00:00Z")
_W_HI = coerce_to_epoch_ms("2024-01-20T00:00:00Z")


@register(
    "fuse_window_filter",
    oracle=f"""
    SELECT epoch_ms(ts) AS __timestamp, event_id, user_id,
           CASE WHEN {_IN_CLICKS} THEN value END AS "value||clicks",
           CASE WHEN NOT {_IN_CLICKS} THEN value END AS "value||txns"
    FROM events
    WHERE epoch_ms(ts) BETWEEN {_W_LO} AND {_W_HI}
    """,
)
def q_fuse_window_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 + F2: procstart/procend window predicate with polymorphic time
    coercion (ISO-8601 'Z' strings; ref core.py:145-213, helpers.py:52-95)."""
    s1, s2 = _event_sources(spark, sf_dir)
    fuser = TimeSeriesFuser(
        [s1, s2],
        FuserConfig(
            procstart="2024-01-10T00:00:00Z",
            procend="2024-01-20T00:00:00Z",
            merge_cols=("event_id", "user_id"),
            remove_internal_cols=True,
        ),
    )
    return fuser.fused(spark)


_M1 = interval_to_ms("1m")


@register(
    "resample_1m_global",
    oracle=f"""
    WITH ev AS (SELECT epoch_ms(ts) AS t, event_id, value, event_type FROM events),
    lab AS (SELECT {_ff('t', _M1)} + {_M1} AS b, t, event_id, value, event_type FROM ev),
    buckets AS (
        -- row_number, not max_by(col, t*1e6+event_id): the combined
        -- scalar key conflates ts and sequence once event_id >= 1e6
        -- (DuckDB arg_max can't take a composite key; the window is the
        -- safe formulation)
        SELECT b, value AS lv, event_type AS le FROM (
            SELECT b, value, event_type,
                   row_number() OVER (PARTITION BY b
                                      ORDER BY t DESC, event_id DESC) AS rn
            FROM lab) WHERE rn = 1
    ),
    ext AS (SELECT min(t) AS mn, max(t) AS mx FROM ev),
    bounds AS (SELECT {_ff('mn', _M1)} + {_M1} AS bmin,
                      {_ff('mx', _M1)} + {_M1} AS bmax
               FROM ext),
    spine AS (SELECT unnest(generate_series(bmin, bmax, {_M1})) AS b FROM bounds),
    j AS (SELECT s.b AS b, bu.lv, bu.le, bu.b IS NOT NULL AS hit
          FROM spine s LEFT JOIN buckets bu USING (b)),
    c AS (SELECT b, lv, le, hit,
                 (last_value(CASE WHEN hit THEN {{'v': lv}} END IGNORE NULLS)
                    OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)).v AS cv
          FROM j)
    SELECT b AS __timestamp,
           CASE WHEN hit THEN lv ELSE cv END AS value,
           le AS event_type
    FROM c
    """,
)
def q_resample_1m_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1-T4/A2/W2: interval resample to a 1-minute grid — last event
    strictly before each boundary wins, empty boundaries gap-filled with
    `value` carried forward, `event_type` left null (ref classes.py:589-637)."""
    ev = _events(spark, sf_dir).select(
        F.col("ts").alias("__timestamp"), "event_id", "value", "event_type"
    )
    return resample_last_interval(
        ev,
        "1m",
        value_cols=["value", "event_type"],
        ffill_keys=["value"],
        tiebreak_cols=["event_id"],
    )


@register(
    "resample_keys_1h",
    oracle=f"""
    WITH lab AS (SELECT {_ff('epoch_ms(ts)', _H1)} + {_H1} AS b,
                        event_type, value, user_id,
                        epoch_ms(ts) AS t, event_id
                 FROM events),
    r AS (SELECT *, row_number() OVER (PARTITION BY b, event_type
                                       ORDER BY t DESC, event_id DESC) AS rn
          FROM lab)
    SELECT b AS __timestamp, event_type, value, user_id FROM r WHERE rn = 1
    """,
)
def q_resample_keys_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/T3 keyed variant: last-value-per-interval per event_type, no gap
    fill — one partial-aggregated shuffle on (key, bucket)."""
    ev = _events(spark, sf_dir).select(
        F.col("ts").alias("__timestamp"),
        "event_id",
        "event_type",
        "value",
        "user_id",
    )
    return resample_last_interval(
        ev,
        "1h",
        keys=["event_type"],
        value_cols=["value", "user_id"],
        tiebreak_cols=["event_id"],
        gap_fill=False,
    )


_MASK = "CASE WHEN event_type IN ('view', 'error') THEN NULL ELSE value END"


@register(
    "forward_fill_global",
    oracle=f"""
    SELECT event_id,
           last_value({_MASK} IGNORE NULLS) OVER (
               ORDER BY epoch_ms(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value_filled
    FROM events
    """,
)
def q_forward_fill_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: global-order LOCF via the two-pass range-bucketed scheme
    (ref core.py:1034-1072; SURVEY §4.3.1) — values masked to null for
    view/error events, then carried forward in (ts, event_id) order."""
    ev = _events(spark, sf_dir).select(
        F.col("ts").alias("__timestamp"),
        "event_id",
        F.when(F.col("event_type").isin("view", "error"), F.lit(None))
        .otherwise(F.col("value"))
        .alias("value_filled"),
    )
    filled = forward_fill(
        ev,
        ["__timestamp", "event_id"],
        ["value_filled"],
        bounds=_events_ts_cuts(spark, sf_dir),
    )
    return filled.select("event_id", "value_filled")


@register(
    "source_window_bounds",
    oracle="""
    SELECT event_type,
           min(epoch_ms(ts)) AS first_ts,
           max(epoch_ms(ts)) AS last_ts,
           count(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def q_source_window_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/S4/S5/W3: per-source processing-window bounds (first/last ts) —
    the distributed analogue of the reference's file head/tail probes
    (core.py:145-213, 738-872)."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("n_events"),
    )


_LABEL_IVS = ["100l", "10s", "5m", "2h", "1d"]


def _label_sql() -> str:
    cols = []
    for iv in _LABEL_IVS:
        step = interval_to_ms(iv)
        cols.append(f"{_ff('epoch_ms(ts)', step)} + {step} AS label_{iv}")
    cols.append(f"{_ff('epoch_ms(ts)', interval_to_ms('5m'))} AS floor_5m")
    return "SELECT event_id, " + ", ".join(cols) + " FROM events"


@register("interval_labels", oracle=_label_sql())
def q_interval_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/T2: interval parsing + next/floor boundary labels for every unit
    (l/s/m/h/d) as integer epoch-ms math (ref classes.py:708-801)."""
    ev = _events(spark, sf_dir)
    ts = F.col("ts")
    cols = [F.col("event_id")]
    for iv in _LABEL_IVS:
        cols.append(boundary_label_col(ts, interval_to_ms(iv)).alias(f"label_{iv}"))
    cols.append(floor_boundary_col(ts, interval_to_ms("5m")).alias("floor_5m"))
    return ev.select(*cols)


_GAP = 30 * 60 * 1000


@register(
    "sessionize_30m",
    oracle=f"""
    WITH ev AS (SELECT epoch_ms(ts) AS t, event_id, user_id FROM events),
    flagged AS (
        SELECT user_id, t, event_id,
               CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > {_GAP}
                    THEN 1 ELSE 0 END AS is_new
        FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
    ),
    sess AS (
        SELECT user_id, t, event_id,
               -- CAST: DuckDB sum(INT) is HUGEINT -> pandas float64; the
               -- driver's value-hash is type-sensitive (same fix as
               -- tpch_q1_pricing).
               CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY t, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_idx
        FROM flagged
    )
    SELECT user_id, session_idx,
           min(t) AS session_start, max(t) AS session_end,
           count(*) AS n_events
    FROM sess GROUP BY user_id, session_idx
    """,
)
def q_sessionize_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-flavored extension: gap-based sessionization (30-min
    inactivity splits a session). Window ops partition by user — no global
    single-task stage; the standard scalable idiom."""
    ev = _events(spark, sf_dir).select(
        F.col("ts").alias("t"), "event_id", "user_id"
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    lag_t = F.lag("t").over(w)
    flagged = ev.withColumn(
        "is_new",
        F.when(lag_t.isNull() | (F.col("t") - lag_t > _GAP), F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    sess = flagged.withColumn(
        "session_idx",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.min("t").alias("session_start"),
        F.max("t").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )



def _asof_streams(spark, sf_dir, value_alias):
    """Shared left/right prep of the as-of contract queries: click/view
    events as the left side, the per-(user, ts) latest transaction as the
    deduped right side (so DuckDB's ASOF is deterministic). One
    definition — the backward and forward queries must agree on what the
    'transaction' stream is."""
    ev = _events(spark, sf_dir)
    left = ev.filter(F.col("event_type").isin(*_CLICK_TYPES)).select(
        F.col("ts").alias("__timestamp"), "event_id", "user_id", "value"
    )
    rw = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    right = (
        ev.filter(~F.col("event_type").isin(*_CLICK_TYPES))
        .withColumn("__rn", F.row_number().over(rw))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("ts").alias("__timestamp"),
            "user_id",
            F.col("value").alias(value_alias),
        )
    )
    return left, right


@register(
    "asof_join_user",
    oracle="""
    WITH ev AS (SELECT epoch_ms(ts) AS t, event_id, user_id, event_type, value FROM events),
    l AS (SELECT t AS __timestamp, event_id, user_id, value FROM ev
          WHERE event_type IN ('click', 'view')),
    r AS (SELECT user_id, t AS __timestamp, value AS txn_value
          FROM (SELECT user_id, t, value,
                       row_number() OVER (PARTITION BY user_id, t
                                          ORDER BY event_id DESC) AS rn
                FROM ev WHERE event_type NOT IN ('click', 'view'))
          WHERE rn = 1)
    SELECT l.__timestamp, l.event_id, l.user_id, l.value,
           r.__timestamp AS __timestamp_right, r.txn_value
    FROM l ASOF LEFT JOIN r
      ON l.user_id = r.user_id AND l.__timestamp >= r.__timestamp
    """,
)
def q_asof_join_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (extension; SURVEY §2.3 notes it as the join formulation
    of the reference's union+ffill): each click/view event joined to the
    user's latest at-or-before transaction. Single shuffle on the key +
    window — not a quadratic range join. Oracle = DuckDB's native ASOF."""
    from timeseriesfuser_spark.operators.asof import asof_join

    left, right = _asof_streams(spark, sf_dir, "txn_value")
    return asof_join(left, right, keys=["user_id"], right_cols=["txn_value"])


_ROLL = 6 * 86_400_000  # 6 days back + current = 7-day window


@register(
    "rolling_7d_stats",
    oracle=f"""
    WITH ev AS (SELECT epoch_ms(ts) AS t, event_id, event_type,
                       CAST(round(value * 100) AS BIGINT) AS vc
                FROM events)
    SELECT event_id,
           CAST(sum(vc) OVER w AS DOUBLE) / 100 AS roll_sum,
           count(*) OVER w AS roll_n,
           CAST(sum(vc) OVER w AS DOUBLE) / 100 / count(*) OVER w AS roll_avg
    FROM ev
    WINDOW w AS (PARTITION BY event_type ORDER BY t
                 RANGE BETWEEN {_ROLL} PRECEDING AND CURRENT ROW)
    """,
)
def q_rolling_7d_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame rolling window: per-type 7-day trailing sum/count/avg.
    Values summed as exact integer cents inside the frame, one double
    division at the end — frame-order-independent, so oracle-exact."""
    ev = _events(spark, sf_dir).select(
        "ts", "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts")
        .rangeBetween(-_ROLL, 0)
    )
    roll_sum_c = F.sum("vc").over(w)
    roll_n = F.count(F.lit(1)).over(w)
    return ev.select(
        "event_id",
        (roll_sum_c.cast("double") / 100).alias("roll_sum"),
        roll_n.alias("roll_n"),
        (roll_sum_c.cast("double") / 100 / roll_n).alias("roll_avg"),
    )


@register(
    "json_props_agg",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS sum_k,
           min(CAST(props ->> 'k' AS BIGINT)) AS min_k,
           max(CAST(props ->> 'k' AS BIGINT)) AS max_k,
           CAST(sum(CAST(props ->> 'k' AS BIGINT)) AS DOUBLE) / count(*) AS avg_k
    FROM events GROUP BY event_type
    """,
)
def q_json_props_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured columns: JSON property extraction (JVM-side
    get_json_object, no UDF) + exact integer aggregation per key."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    cnt = F.count(F.lit(1))
    return ev.groupBy("event_type").agg(
        cnt.alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        (F.sum(k).cast("double") / cnt).alias("avg_k"),
    )


@register(
    "gap_report",
    oracle=f"""
    WITH ev AS (SELECT epoch_ms(ts) AS t, event_type FROM events)
    SELECT event_type,
           CAST(min(t) AS BIGINT) AS first_ts,
           CAST(max(t) AS BIGINT) AS last_ts,
           CAST({_fdiv('max(t)', _H1GAP)} - {_fdiv('min(t)', _H1GAP)} + 1
                AS BIGINT) AS n_buckets,
           CAST(count(DISTINCT {_fdiv('t', _H1GAP)}) AS BIGINT) AS n_present,
           CAST({_fdiv('max(t)', _H1GAP)} - {_fdiv('min(t)', _H1GAP)} + 1
                - count(DISTINCT {_fdiv('t', _H1GAP)}) AS BIGINT) AS n_gaps
    FROM ev GROUP BY event_type
    """,
)
def q_gap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-completeness monitoring (A1/T2 composition): per key, how many
    1h grid intervals in the key's own [first, last] span contain no
    events. One groupBy with a count-distinct — integer bucket math only."""
    ev = _events(spark, sf_dir)
    b = F.expr(f"(ts - pmod(ts, {_H1GAP})) DIV {_H1GAP}")
    span = F.max(b) - F.min(b) + F.lit(1)
    return ev.groupBy("event_type").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        span.cast("long").alias("n_buckets"),
        F.count_distinct(b).alias("n_present"),
        (span - F.count_distinct(b)).cast("long").alias("n_gaps"),
    )


@register(
    "streaming_resample_1h",
    oracle=f"""
    WITH ev AS (SELECT epoch_ms(ts) AS t, event_id, event_type, value FROM events),
    lab AS (SELECT {_ff('t', _H1)} + {_H1} AS b, event_type, value, t, event_id
            FROM ev),
    r AS (SELECT *, row_number() OVER (PARTITION BY b, event_type
                                       ORDER BY t DESC, event_id DESC) AS rn
          FROM lab)
    SELECT b AS __timestamp, event_type, value FROM r
    WHERE rn = 1 AND b <= (SELECT max(t) FROM ev)
    """,
)
def q_streaming_resample_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming T3: availableNow file stream → watermarked
    tumbling last-value buckets → memory sink. Append mode emits exactly
    the windows whose end <= final watermark (= max event time with 0s
    delay) — the oracle's HAVING clause states that contract."""
    import tempfile
    import uuid

    from timeseriesfuser_spark.streaming import resample_stream

    # Normalize exactly like the batch path (nanos → ms integer division).
    schema = _t(spark, sf_dir, "events").schema
    # File streams need a directory; glob-filter to the events table only.
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_ms = ts_epoch_ms_col(stream, "ts")
    ev = stream.select(
        ts_ms.cast("long").alias("__timestamp"), "event_id", "event_type", "value"
    )
    agg = resample_stream(
        ev, "1h", keys=["event_type"], value_cols=["value"],
        tiebreak_cols=["event_id"],
    )
    name = f"sr_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="tsf_ckpt_")
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "streaming_resample_1h: query still running after 300s"
            )
        if q.exception() is not None:
            raise q.exception()
        return spark.table(name)
    finally:
        # one-shot availableNow query: remove its checkpoint state (each
        # harness run otherwise leaks a tsf_ckpt_* dir into the temp fs)
        import shutil

        shutil.rmtree(ckpt, ignore_errors=True)


@register(
    "streaming_attribution_join",
    oracle="""
    SELECT l.user_id AS user_id,
           l.event_id AS purchase_id,
           CAST(l.t AS BIGINT) AS purchase_ts,
           l.value AS purchase_value,
           r.event_id AS click_id,
           CAST(r.t AS BIGINT) AS click_ts
    FROM (SELECT epoch_ms(ts) AS t, user_id, event_id, value
          FROM events WHERE event_type = 'purchase') l
    JOIN (SELECT epoch_ms(ts) AS t, user_id, event_id
          FROM events WHERE event_type = 'click') r
      ON l.user_id = r.user_id
     AND r.t <= l.t AND l.t < r.t + 86400000
    """,
)
def q_streaming_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join under the driver gate (VERDICT r14
    #7a — ``streaming.join_streams`` was the only §2.8-adjacent surface
    without a registered twin): each purchase event matched to the same
    user's click events in the PRECEDING 24 h — the classic attribution
    join — as two watermarked file streams over the same events table
    joined with the time-range predicate Structured Streaming needs to
    expire buffered state (right rows drop once the left watermark
    passes ``click_ts + 24h``, left rows once the right watermark passes
    ``purchase_ts``; state is horizon-bounded on both sides, never the
    stream). availableNow delivers the single events file in one
    micro-batch, so the inner join emits every match and the plain-SQL
    join is the exact oracle."""
    import tempfile
    import uuid

    from timeseriesfuser_spark.streaming import join_streams

    schema = _t(spark, sf_dir, "events").schema

    def side(event_type: str, cols):
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        ts_ms = ts_epoch_ms_col(stream, "ts")
        return stream.filter(F.col("event_type") == event_type).select(
            "user_id", *[expr.alias(name) for name, expr in cols(ts_ms)]
        )

    left = side(
        "purchase",
        lambda t: [
            ("purchase_id", F.col("event_id")),
            ("purchase_ts", t.cast("long")),
            ("purchase_value", F.col("value")),
        ],
    )
    right = side(
        "click",
        lambda t: [
            ("click_id", F.col("event_id")),
            ("click_ts", t.cast("long")),
        ],
    )
    joined = join_streams(
        left, right,
        keys=["user_id"], left_ts="purchase_ts", right_ts="click_ts",
        window_ms=86_400_000, watermark="1 hour",
    ).select(
        "user_id", "purchase_id", "purchase_ts", "purchase_value",
        "click_id", "click_ts",
    )
    name = f"saj_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="tsf_ckpt_")
    try:
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "streaming_attribution_join: query still running after 300s"
            )
        if q.exception() is not None:
            raise q.exception()
        return spark.table(name)
    finally:
        import shutil

        shutil.rmtree(ckpt, ignore_errors=True)


# --------------------------------------------------------------------------- #


def flagship(spark: SparkSession) -> DataFrame:
    """Driver smoke entry: the fused chronological stream at sf0.001."""
    return q_fuse_merge(spark, "/root/testdata/sf0.001")


# --------------------------------------------------------------------------- #
# Round-5 additions: range join, anomaly flags, LM scoring, passage dedup,
# hashed classifier, PQ codes, length-bucketed batching
# --------------------------------------------------------------------------- #

_PROMO_MS = 7_200_000


@register(
    "interval_join_2h",
    oracle=f"""
    WITH ev AS (SELECT epoch_ms(ts) AS t, event_id, user_id, event_type, value
                FROM events),
    promo AS (SELECT user_id, event_id AS promo_id, t AS start_ms,
                     t + {_PROMO_MS} AS end_ms
              FROM ev WHERE event_type = 'purchase'),
    pts AS (SELECT user_id, event_id, t, value FROM ev
            WHERE event_type IN ('click', 'view'))
    SELECT p.promo_id, c.user_id, c.event_id,
           CAST(c.t AS BIGINT) AS ts,
           CAST(c.t - p.start_ms AS BIGINT) AS offset_ms
    FROM promo p JOIN pts c
      ON c.user_id = p.user_id AND c.t >= p.start_ms AND c.t < p.end_ms
    """,
)
def q_interval_join_2h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join via epoch-chunked equi-join
    (operators.rangejoin.interval_join): every click/view landing inside a
    [purchase, purchase+2h) per-user window. The generalization of the
    reference's single-interval window predicate (core.py:353-420) to a
    TABLE of intervals; the plan is a hash equi-join on (user, chunk) —
    never a BroadcastNestedLoop/cartesian (gated in test_plan_quality)."""
    from timeseriesfuser_spark.operators.rangejoin import interval_join

    ev = _events(spark, sf_dir)
    promo = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("promo_id"),
        F.col("ts").alias("start_ms"),
        (F.col("ts") + _PROMO_MS).alias("end_ms"),
    )
    pts = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id", "event_id", "ts", "value"
    )
    out = interval_join(pts, promo, keys=["user_id"], chunk_ms=_PROMO_MS)
    return out.select(
        "promo_id",
        "user_id",
        "event_id",
        F.col("ts").cast("long").alias("ts"),
        (F.col("ts") - F.col("start_ms")).cast("long").alias("offset_ms"),
    )


_FWD_TOL = 3_600_000  # next outcome within 1 hour


@register(
    "asof_forward_label",
    oracle=f"""
    WITH ev AS (SELECT epoch_ms(ts) AS t, event_id, user_id, event_type, value
                FROM events),
    l AS (SELECT t AS __timestamp, event_id, user_id, value FROM ev
          WHERE event_type IN ('click', 'view')),
    r AS (SELECT user_id, t AS __timestamp, value AS label_value
          FROM (SELECT user_id, t, value,
                       row_number() OVER (PARTITION BY user_id, t
                                          ORDER BY event_id DESC) AS rn
                FROM ev WHERE event_type NOT IN ('click', 'view'))
          WHERE rn = 1),
    j AS (SELECT l.__timestamp, l.event_id, l.user_id, l.value,
                 r.__timestamp AS rt, r.label_value AS rv
          FROM l ASOF LEFT JOIN r
            ON l.user_id = r.user_id AND l.__timestamp <= r.__timestamp)
    SELECT __timestamp, event_id, user_id, value,
           CASE WHEN rt <= __timestamp + {_FWD_TOL} THEN rt END
             AS __timestamp_right,
           CASE WHEN rt <= __timestamp + {_FWD_TOL} THEN rv END AS label_value
    FROM j
    """,
)
def q_asof_forward_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (operators.asof direction='forward'): each
    click/view event labeled with the user's NEXT transaction value at or
    after it, within a 1 h tolerance — the outcome-label join of a
    training-data pipeline. Same union+carry cost class as the backward
    form (one shuffle on the key), scanned over the reversed time axis;
    oracle = DuckDB native forward ASOF + tolerance CASE."""
    from timeseriesfuser_spark.operators.asof import asof_join

    left, right = _asof_streams(spark, sf_dir, "label_value")
    return asof_join(
        left,
        right,
        keys=["user_id"],
        right_cols=["label_value"],
        direction="forward",
        tolerance_ms=_FWD_TOL,
    )


@register(
    "asof_nearest_quote",
    oracle="""
    WITH ev AS (SELECT epoch_ms(ts) AS t, event_id, user_id, event_type, value
                FROM events),
    l AS (SELECT t AS __timestamp, event_id, user_id, value FROM ev
          WHERE event_type IN ('click', 'view')),
    r AS (SELECT user_id, t AS __timestamp, value AS quote_value
          FROM (SELECT user_id, t, value,
                       row_number() OVER (PARTITION BY user_id, t
                                          ORDER BY event_id DESC) AS rn
                FROM ev WHERE event_type NOT IN ('click', 'view'))
          WHERE rn = 1)
    SELECT l.__timestamp, l.event_id, l.user_id, l.value,
           n.__timestamp AS __timestamp_right, n.quote_value
    FROM l LEFT JOIN LATERAL (
        SELECT r.__timestamp, r.quote_value
        FROM r WHERE r.user_id IS NOT DISTINCT FROM l.user_id
        ORDER BY abs(r.__timestamp - l.__timestamp), r.__timestamp
        LIMIT 1
    ) n ON TRUE
    """,
)
def q_asof_nearest_quote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join (operators.asof direction='nearest', VERDICT
    r12 #8): each click/view event joined to the user's transaction with
    the minimal |Δts| — distance ties resolve backward, the
    pandas.merge_asof convention. Physically BOTH carry scans share one
    union and one Exchange on the key (two Sorts), then a per-row
    distance pick — never a quadratic range join. Oracle = DuckDB
    LATERAL min-distance probe (ORDER BY abs(Δ), ts → the same backward
    tie rule)."""
    from timeseriesfuser_spark.operators.asof import asof_join

    left, right = _asof_streams(spark, sf_dir, "quote_value")
    return asof_join(
        left,
        right,
        keys=["user_id"],
        right_cols=["quote_value"],
        direction="nearest",
    )


@register(
    "streaming_sessionize_30m",
    oracle=f"""
    WITH ev AS (SELECT epoch_ms(ts) AS t, event_id, user_id FROM events),
    flagged AS (
        SELECT user_id, t, event_id,
               CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > {_GAP}
                    THEN 1 ELSE 0 END AS is_new
        FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
    ),
    sess AS (
        SELECT user_id, t,
               CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY t, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_idx
        FROM flagged
    ),
    agg AS (
        SELECT user_id, session_idx,
               min(t) AS session_start, max(t) AS session_end,
               count(*) AS n_events
        FROM sess GROUP BY user_id, session_idx
    ),
    last AS (SELECT user_id, max(session_idx) AS mx FROM agg GROUP BY user_id)
    SELECT a.user_id, a.session_start, a.session_end, a.n_events
    FROM agg a JOIN last l
      ON a.user_id IS NOT DISTINCT FROM l.user_id AND a.session_idx < l.mx
    """,
)
def q_streaming_sessionize_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming through the driver gate
    (streaming.sessionize_stream, applyInPandasWithState): gap-based
    sessions with per-key state across micro-batches. Emission contract
    (stated by the oracle): a session is emitted only when a LATER event
    closes it — each user's final (still-open) session stays in the
    state store, so the oracle is the batch sessionization minus every
    user's last session. State is O(#active users); Arrow-batched."""
    return _streaming_sessionize_30m_impl(spark, sf_dir)


def _q_streaming_sessionize_flush_impl(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The flush twin of streaming_sessionize_30m (VERDICT r11 #3's
    family completed): sessionize_stream finalized with
    ``flush_on_close=True`` plus :func:`streaming.close_stream`'s
    per-user sentinel relation as the stream's last file — every user's
    open tail session emits too, so the append output equals the FULL
    batch sessionization (the un-flushed twin's oracle minus its
    last-session exclusion). Third driver-checked flush query, the
    keyed-sessionize leg."""
    import shutil
    import tempfile

    from timeseriesfuser_spark.contract._base import (
        _run_availablenow_to_memory,
    )
    from timeseriesfuser_spark.streaming import close_stream, sessionize_stream

    src = _t(spark, sf_dir, "events")
    ev = src.select(
        ts_epoch_ms_col(src, "ts").cast("long").alias("__timestamp"),
        "user_id",
    )
    tmp = tempfile.mkdtemp(prefix="tsf_ssf_")
    try:
        ev.write.mode("overwrite").parquet(f"{tmp}/in")
        close_stream(
            ev, keys=["user_id"], ts_col="__timestamp", path=f"{tmp}/in"
        )
        stream = spark.readStream.schema(ev.schema).parquet(f"{tmp}/in")
        closed = sessionize_stream(
            stream, _GAP, keys=["user_id"], flush_on_close=True
        )
        emitted = _run_availablenow_to_memory(closed, "ssf")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return emitted.select(
        "user_id",
        F.col("session_start").cast("long").alias("session_start"),
        F.col("session_end").cast("long").alias("session_end"),
        F.col("n_events").cast("long").alias("n_events"),
    )


q_streaming_sessionize_flush = register(
    "streaming_sessionize_flush",
    oracle=f"""
    WITH ev AS (SELECT epoch_ms(ts) AS t, event_id, user_id FROM events),
    flagged AS (
        SELECT user_id, t, event_id,
               CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > {_GAP}
                    THEN 1 ELSE 0 END AS is_new
        FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
    ),
    sess AS (
        SELECT user_id, t,
               CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY t, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_idx
        FROM flagged
    )
    SELECT user_id, min(t) AS session_start, max(t) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, session_idx
    """,
)(_q_streaming_sessionize_flush_impl)


def _streaming_sessionize_30m_impl(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile
    import uuid

    from timeseriesfuser_spark.streaming import sessionize_stream

    schema = _t(spark, sf_dir, "events").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_ms = ts_epoch_ms_col(stream, "ts")
    ev = stream.select(ts_ms.cast("long").alias("__timestamp"), "user_id")
    closed = sessionize_stream(ev, _GAP, keys=["user_id"])
    name = f"ss_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="tsf_ckpt_")
    q = None
    try:
        q = (
            closed.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            raise TimeoutError(
                "streaming_sessionize_30m: query still running after 300s"
            )
        if q.exception() is not None:
            raise q.exception()
        sink = spark.table(name)
        out = spark.createDataFrame(sink.collect(), sink.schema)
        return out.select(
            "user_id", "session_start", "session_end",
            F.col("n_events").cast("long").alias("n_events"),
        )
    finally:
        import shutil

        if q is not None and q.isActive:
            q.stop()
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass
        shutil.rmtree(ckpt, ignore_errors=True)


@register(
    "streaming_resample_2d",
    # 'Nd' day-label streaming resample: per event the label is its own
    # midnight plus 2 days — for UTC exactly (t DIV 86400000 + 2) *
    # 86400000; unlike the batch resampler there is no per-key grid
    # anchor (resample_stream docstring). The day path groups on the
    # watermarked LABEL column, so EVERY label emits (the grouping key
    # IS the bucket end) — no trailing-bucket exclusion, unlike
    # streaming_resample_1h's window() path.
    oracle="""
    WITH ev AS (SELECT epoch_ms(ts) AS t, event_id, event_type, value
                FROM events WHERE ts IS NOT NULL),
    lab AS (SELECT (t // 86400000 + 2) * 86400000 AS b,
                   event_type, value, t, event_id
            FROM ev),
    r AS (SELECT *, row_number() OVER (PARTITION BY b, event_type
                                       ORDER BY t DESC, event_id DESC) AS rn
          FROM lab)
    SELECT CAST(b AS BIGINT) AS __timestamp, event_type, value
    FROM r WHERE rn = 1
    """,
)
def q_streaming_resample_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming day-grid resample through the driver harness
    (streaming.resample_stream day path, VERDICT r9 item #8): each
    event's 'Nd' label is its own (local) midnight plus N days, with no
    per-key anchor, so for N > 1 it differs from the batch resampler's
    first-date anchor. F.window's fixed startTime cannot express local
    midnights, so the day path aggregates on the watermarked DST-correct
    boundary-label column (intervals.day_boundary_label_col). Both rules
    and the tz variant across a DST transition are pinned in
    tests/test_resample_stream_day_tz.py (DuckDB-side tz math would need
    the ICU extension, so the driver oracle runs the UTC grid)."""
    from timeseriesfuser_spark.contract._base import (
        _run_availablenow_to_memory,
    )
    from timeseriesfuser_spark.streaming import resample_stream

    schema = _t(spark, sf_dir, "events").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_ms = ts_epoch_ms_col(stream, "ts")
    ev = stream.select(
        ts_ms.cast("long").alias("__timestamp"), "event_id", "event_type",
        "value",
    )
    agg = resample_stream(
        ev, "2d", keys=["event_type"], value_cols=["value"],
        tiebreak_cols=["event_id"],
    )
    return _run_availablenow_to_memory(agg, "sr2d")


_NEAR_TOL = 10 * 60 * 1000  # 10 min audit tolerance


@register(
    "asof_tolerance_audit",
    oracle=f"""
    WITH ev AS (SELECT epoch_ms(ts) AS t, event_id, user_id, event_type, value
                FROM events),
    l AS (SELECT t AS __timestamp, event_id, user_id FROM ev
          WHERE event_type IN ('click', 'view')),
    r AS (SELECT user_id, t AS __timestamp
          FROM (SELECT user_id, t,
                       row_number() OVER (PARTITION BY user_id, t
                                          ORDER BY event_id DESC) AS rn
                FROM ev WHERE event_type NOT IN ('click', 'view'))
          WHERE rn = 1),
    j AS (SELECT l.user_id, l.__timestamp, n.__timestamp AS rt
          FROM l LEFT JOIN LATERAL (
              SELECT r.__timestamp
              FROM r WHERE r.user_id IS NOT DISTINCT FROM l.user_id
                AND abs(r.__timestamp - l.__timestamp) <= {_NEAR_TOL}
              ORDER BY abs(r.__timestamp - l.__timestamp), r.__timestamp
              LIMIT 1
          ) n ON TRUE)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(rt) AS BIGINT) AS n_matched,
           CAST(coalesce(sum(abs(rt - __timestamp)), 0) AS BIGINT)
               AS sum_abs_delta_ms
    FROM j GROUP BY user_id
    """,
)
def q_asof_tolerance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped as-of TOLERANCE audit (VERDICT r13 #6b): every click/view
    event nearest-joined to the user's transaction stream within a
    10-minute tolerance (operators.asof direction='nearest',
    tolerance_ms — the per-side in-tolerance filter runs BEFORE the
    distance pick, = pandas.merge_asof's nearest-within-tolerance), then
    rolled up per user into the data-quality numbers an alignment
    pipeline monitors: event count, matched count, summed |Δts| of the
    matches (exact integer ms). Oracle = DuckDB LATERAL min-|Δ| probe
    with the tolerance inside the probe. Same single-keyed-Exchange
    cost class as the nearest join; the audit adds one aggregation at
    the already-keyed grain."""
    from timeseriesfuser_spark.operators.asof import asof_join

    left, right = _asof_streams(spark, sf_dir, "quote_value")
    joined = asof_join(
        left,
        right.select("user_id", "__timestamp", "quote_value"),
        keys=["user_id"],
        right_cols=["quote_value"],
        direction="nearest",
        tolerance_ms=_NEAR_TOL,
    )
    rt = F.col("__timestamp_right")
    return joined.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count(rt).cast("long").alias("n_matched"),
        F.coalesce(
            F.sum(F.abs(rt - F.col("__timestamp"))), F.lit(0)
        ).cast("long").alias("sum_abs_delta_ms"),
    )


@register(
    "sessionize_30m_native",
    oracle=f"""
    WITH ev AS (SELECT epoch_ms(ts) AS t, event_id, user_id FROM events),
    flagged AS (
        SELECT user_id, t, event_id,
               CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > {_GAP}
                    THEN 1 ELSE 0 END AS is_new
        FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
    ),
    sess AS (
        SELECT user_id, t,
               CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY t, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_idx
        FROM flagged
    )
    SELECT user_id, session_idx,
           min(t) AS session_start, max(t) AS session_end,
           count(*) AS n_events
    FROM sess GROUP BY user_id, session_idx
    """,
)
def q_sessionize_30m_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` twin of ``sessionize_30m`` (VERDICT r13
    #6c): the same gap-session semantics expressed through Spark's
    built-in session-window aggregation instead of the lag+cumsum window
    pair. Gap is ``{_GAP}+1 ms`` because ``session_window`` merges on
    STRICT overlap (next < end + gap) while the contract (and the
    reference's interval semantics) merges at exactly gap_ms, too.
    ``session_idx`` is re-derived by numbering the per-user session
    rows by start — a window over the already-aggregated (tiny) grain.

    Which formulation wins at scale (measured in
    tests/test_plan_quality.py::test_sessionize_native_parity_and_plan):
    both shuffle once on user; the lag+cumsum form then runs two window
    passes over EVERY EVENT plus a hash aggregation, while the native
    form sorts once and merges sessions in a single pass emitting one
    row per session — fewer full-relation passes, and the idx window
    touches only session rows. The native form is the better plan; the
    lag+cumsum form remains the portable oracle shape."""
    ev = _events(spark, sf_dir).select(
        F.col("ts").alias("t"), "event_id", "user_id"
    )
    sw = F.session_window(
        F.timestamp_millis(F.col("t")), f"{_GAP + 1} milliseconds"
    )
    agg = ev.groupBy("user_id", sw).agg(
        F.min("t").alias("session_start"),
        F.max("t").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )
    iw = Window.partitionBy("user_id").orderBy("session_start")
    return agg.select(
        "user_id",
        F.row_number().over(iw).cast("long").alias("session_idx"),
        "session_start",
        "session_end",
        "n_events",
    )
