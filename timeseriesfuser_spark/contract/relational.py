"""Relational/OLAP breadth: TPC-H shapes, ranking windows, grouping sets,
pivot, per-window distinct, skew/Z-order/profile scale utilities.

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
from timeseriesfuser_spark.ops.util import track_persist
from timeseriesfuser_spark.timeutils import coerce_to_epoch_ms, ts_epoch_ms_col

from timeseriesfuser_spark.contract._base import (  # noqa: F401
    QUERIES,
    ORACLES,
    register,
    _t,
    _events,
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
# Relational analytics (engine generality; joins/agg/topk beyond reference)
# --------------------------------------------------------------------------- #


@register(
    "tpch_q1_pricing",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_base_price,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000 AS sum_disc_price,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))
                    * (100 + CAST(round(l_tax * 100) AS BIGINT))) AS DOUBLE) / 1000000 AS sum_charge,
           CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) / count(*) AS avg_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100 / count(*) AS avg_price,
           CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / 100 / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary. Money is summed in exact integer cents
    (order-independent) and converted to double once at the end, so the
    result is bit-identical to the oracle; a naive double SUM would drift
    with Spark's reduction order."""
    l = _t(spark, sf_dir, "lineitem")
    qc = F.round(F.col("l_quantity")).cast("long")
    epc = F.round(F.col("l_extendedprice") * 100).cast("long")
    dc = F.round(F.col("l_discount") * 100).cast("long")
    tc = F.round(F.col("l_tax") * 100).cast("long")
    cnt = F.count(F.lit(1))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qc).cast("double").alias("sum_qty"),
            (F.sum(epc).cast("double") / 100).alias("sum_base_price"),
            (F.sum(epc * (100 - dc)).cast("double") / 10000).alias("sum_disc_price"),
            (F.sum(epc * (100 - dc) * (100 + tc)).cast("double") / 1000000).alias(
                "sum_charge"
            ),
            (F.sum(qc).cast("double") / cnt).alias("avg_qty"),
            (F.sum(epc).cast("double") / 100 / cnt).alias("avg_price"),
            (F.sum(dc).cast("double") / 100 / cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


@register(
    "top_orders_per_priority",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice, rn
    FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
)
def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window / top-k per group with fully deterministic tie-break."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")
    )


@register(
    "revenue_per_nation",
    oracle="""
    SELECT n.n_name,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_revenue_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + agg with explicit broadcast of the small dimensions — on a
    cluster the fact table never shuffles for these joins."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(cents).cast("double") / 100).alias("revenue"),
        )
    )


@register(
    "tpch_q3_shipping",
    oracle="""
    SELECT l.l_orderkey,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000 AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    """,
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style shipping priority: three-way join (dimension sides
    broadcast) + exact integer-cents revenue."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    epc = F.round(F.col("l_extendedprice") * 100).cast("long")
    dc = F.round(F.col("l_discount") * 100).cast("long")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(epc * (100 - dc)).cast("double") / 10000).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@register(
    "value_histogram",
    oracle="""
    SELECT CAST(CASE WHEN value >= 100 THEN 10
                     WHEN value < 0 THEN -1
                     ELSE CAST(floor(value / 10) AS BIGINT) END AS BIGINT) AS bucket,
           count(*) AS n,
           min(value) AS lo,
           max(value) AS hi
    FROM events GROUP BY 1
    """,
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of a measure — one partial-aggregated
    shuffle; the building block for distribution profiling at scale."""
    ev = _events(spark, sf_dir)
    v = F.col("value")
    bucket = (
        F.when(v >= 100, F.lit(10))
        .when(v < 0, F.lit(-1))
        .otherwise(F.floor(v / 10))
        .cast("long")
    )
    return ev.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )


_SKEW_TOPN = 10


@register(
    "skew_report",
    oracle=f"""
    WITH c AS (SELECT event_type, user_id, count(*) AS cnt
               FROM events GROUP BY 1, 2),
    top AS (SELECT * FROM c ORDER BY cnt DESC, event_type, user_id
            LIMIT {_SKEW_TOPN})
    SELECT event_type, user_id,
           CAST(cnt AS BIGINT) AS cnt,
           CAST(cnt * 1000000 // (SELECT count(*) FROM events) AS BIGINT)
             AS share_ppm,
           CAST(dense_rank() OVER (ORDER BY cnt DESC) AS BIGINT) AS rank
    FROM top
    """,
)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key heavy-hitter diagnostics (ops.scale.key_skew_report):
    exact top-10 (event_type, user_id) counts with corpus share in ppm and
    dense rank — the pre-flight check for salting/AQE-skew decisions. One
    map-side-combinable count agg + driver-bounded TakeOrdered."""
    from timeseriesfuser_spark.ops.scale import key_skew_report

    return key_skew_report(
        _events(spark, sf_dir), ["event_type", "user_id"], top_n=_SKEW_TOPN
    )


_Q6_LO = 978_307_200_000   # 2001-01-01T00:00:00Z  (within the data's range)
_Q6_HI = 1_009_843_200_000  # 2002-01-01T00:00:00Z


@register(
    "tpch_q6_forecast",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
             AS revenue_c4
    FROM lineitem
    WHERE epoch_ms(l_shipdate) >= {_Q6_LO}
      AND epoch_ms(l_shipdate) < {_Q6_HI}
      AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
      AND l_quantity < 24
    """,
)
def q_tpch_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecast revenue change): pure filter + global sum —
    the canonical predicate-pushdown/column-pruning showcase; the scan
    should read 4 columns and push every predicate (price·discount kept
    as exact cent×cent integer, no float aggregation)."""
    li = _t(spark, sf_dir, "lineitem")
    disc_c = F.round(F.col("l_discount") * 100).cast("long")
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    ship_ms = ts_epoch_ms_col(li, "l_shipdate")
    return (
        li.withColumn("__ship", ship_ms)
        .filter(
            (F.col("__ship") >= _Q6_LO)
            & (F.col("__ship") < _Q6_HI)
            & disc_c.between(5, 7)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(price_c * disc_c).alias("revenue_c4"),
        )
    )


_Q18_MINQTY = 150


@register(
    "tpch_q18_large_orders",
    oracle=f"""
    WITH big AS (
        SELECT l_orderkey, CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
                 AS sum_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING sum(CAST(round(l_quantity) AS BIGINT)) > {_Q18_MINQTY}
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           CAST(epoch_ms(o.o_orderdate) AS BIGINT) AS o_orderdate_ms,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS total_cents,
           b.sum_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q_tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): lineitem pre-aggregated to
    per-order quantity BEFORE any join (map-side combinable; the HAVING
    filter shrinks the join input to the few big orders), then joined to
    orders and broadcast-joined to customer."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.round("l_quantity").cast("long")).alias("sum_qty"))
        .filter(F.col("sum_qty") > _Q18_MINQTY)
    )
    odate = ts_epoch_ms_col(orders, "o_orderdate")
    return (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            odate.alias("o_orderdate_ms"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("total_cents"),
            "sum_qty",
        )
    )


_PIVOT_TYPES = ("click", "view", "purchase", "signup", "error")


def _pivot_oracle() -> str:
    cols = []
    for v in _PIVOT_TYPES:
        cols.append(
            f"CAST(sum(CASE WHEN event_type = '{v}' THEN 1 ELSE 0 END) "
            f"AS BIGINT) AS {v}_n"
        )
        cols.append(
            f"CAST(sum(CASE WHEN event_type = '{v}' "
            f"THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) "
            f"AS BIGINT) AS {v}_cents"
        )
    return (
        "SELECT user_id, " + ", ".join(cols) + " FROM events GROUP BY user_id"
    )


@register("pivot_user_features", oracle=_pivot_oracle())
def q_pivot_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide per-user feature matrix (ops.timeseries.pivot_features): one
    (count, cent-sum) column pair per event type — pivot with an EXPLICIT
    value list, so there is no domain-discovery scan and the schema is
    static; compiles to one map-side-combinable hash-agg of conditional
    aggregates."""
    return TS.pivot_features(
        _events(spark, sf_dir), pivot_values=_PIVOT_TYPES
    )


@register(
    "rollup_revenue",
    oracle="""
    SELECT o_orderpriority,
           CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(GROUPING(o_orderpriority, year(o_orderdate)) AS BIGINT) AS gid
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, year(o_orderdate))
    """,
)
def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP grouping sets: revenue by
    (priority, year) + per-priority subtotals + grand total in ONE
    aggregation pass (Catalyst expands grouping sets into a single
    Expand + hash-agg — no self-union of three scans); `gid`
    disambiguates subtotal levels from genuine nulls."""
    orders = _t(spark, sf_dir, "orders")
    yr = F.year("o_orderdate").cast("long")
    return (
        orders.rollup("o_orderpriority", yr.alias("yr"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "total_cents"
            ),
            F.count(F.lit(1)).alias("n_orders"),
            F.grouping_id().cast("long").alias("gid"),
        )
    )


_PROFILE_COLS = ("event_id", "user_id", "event_type", "value", "props")


@register(
    "profile_events",
    oracle=" UNION ALL ".join(
        f"""SELECT '{c}' AS col_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct
        FROM events"""
        for c in _PROFILE_COLS
    ),
)
def q_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass dataset profiler (ops.scale.profile_columns): per-column
    null + exact distinct counts via a single multi-distinct aggregate
    (Catalyst Expand, one shuffle) exploded into report rows; the
    full-scale variant swaps in HyperLogLog (approx_count_distinct)."""
    from timeseriesfuser_spark.ops.scale import profile_columns

    return profile_columns(_t(spark, sf_dir, "events"), _PROFILE_COLS)


_Q4_LATE_MS = 90 * 86_400_000  # "shipped > 90 days after order" predicate


@register(
    "tpch_q4_late_orders",
    oracle=f"""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND epoch_ms(l.l_shipdate) >
                        epoch_ms(o.o_orderdate) + {_Q4_LATE_MS})
    GROUP BY o_orderpriority
    """,
)
def q_tpch_q4_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS = LEFT SEMI join (orders with at least one
    line shipped >90 days after the order date), then a priority rollup.
    The semi join keeps orders' row count (never multiplies by matching
    lines) and Spark plans it as one shuffled semi sort-merge join the
    optimizer can flip to broadcast at small SF."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    o = o.withColumn("__o_ms", ts_epoch_ms_col(o, "o_orderdate"))
    l = li.select(
        F.col("l_orderkey"),
        ts_epoch_ms_col(li, "l_shipdate").alias("__s_ms"),
    )
    sem = o.join(
        l,
        (o["o_orderkey"] == l["l_orderkey"])
        & (l["__s_ms"] > o["__o_ms"] + F.lit(_Q4_LATE_MS)),
        "left_semi",
    )
    return sem.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("order_count")
    )


_DORMANT_CUT_MS = 991_353_600_000  # 2001-06-01T00:00:00Z (orders end 2001-08)


@register(
    "dormant_customers",
    oracle=f"""
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_dormant
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND epoch_ms(o.o_orderdate) >= {_DORMANT_CUT_MS})
    GROUP BY c_mktsegment
    """,
)
def q_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS = LEFT ANTI join: customers with no order on/after the
    cutoff (churn detection; also the GDPR 'orphaned records' shape).
    The anti join probes customer against the pre-filtered recent-orders
    key set — the filter shrinks the build side before the join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    recent = (
        o.withColumn("__o_ms", ts_epoch_ms_col(o, "o_orderdate"))
        .filter(F.col("__o_ms") >= _DORMANT_CUT_MS)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    dormant = c.join(recent, "c_custkey", "left_anti")
    return dormant.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_dormant")
    )


_Z_BITS = 16


def _zorder_oracle() -> str:
    from timeseriesfuser_spark.ops.scale import zorder_key_sql

    z = zorder_key_sql(["l_partkey", "l_suppkey"], bits=_Z_BITS)
    return f"""
    SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
           CAST({z} AS BIGINT) AS zkey
    FROM lineitem
    """


@register("zorder_lineitem", oracle=_zorder_oracle())
def q_zorder_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key (ops.scale.zorder_key): interleave
    the low 16 bits of (l_partkey, l_suppkey) so a range-partitioned write
    gets tight parquet min/max footers on BOTH dimensions — multi-column
    data skipping from plain column expressions; zero shuffle for the key
    itself."""
    from timeseriesfuser_spark.ops.scale import zorder_key

    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        zorder_key(["l_partkey", "l_suppkey"], bits=_Z_BITS).alias("zkey"),
    )


@register(
    "customer_deciles",
    oracle="""
    WITH sp AS (
        SELECT c.c_custkey, c.c_mktsegment,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS spend_cents
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_mktsegment)
    SELECT c_custkey, c_mktsegment, spend_cents,
           CAST(ntile(10) OVER w AS BIGINT) AS decile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM sp WINDOW w AS (PARTITION BY c_mktsegment
                         ORDER BY spend_cents DESC, c_custkey)
    """,
)
def q_customer_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-window breadth (ntile / percent_rank / cume_dist): customer
    lifetime spend bucketed into deciles within market segment, with the
    percentile position. Ordering is total (cents DESC, custkey) so every
    rank function is deterministic; percent_rank/cume_dist are single
    divisions of exact integers — engine-bit-identical. One join + one
    hash-agg + one per-segment window over the |customers|-sized
    aggregate (never over raw orders)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    sp = (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("spend_cents")
        )
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("spend_cents"), F.col("c_custkey")
    )
    return sp.select(
        "c_custkey",
        "c_mktsegment",
        "spend_cents",
        F.ntile(10).over(w).cast("long").alias("decile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "incremental_rollup",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events GROUP BY user_id
    """,
)
def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance pattern: yesterday's per-user rollup
    STATE merged with today's DELTA by re-aggregating the two partial
    relations (sum of counts, sum of sums) — the associative partial-agg
    merge every incremental 100 TB pipeline relies on instead of
    recomputing from raw. The oracle aggregates the full table directly,
    so the test proves merge(state, delta) == full recompute."""
    ev = _events(spark, sf_dir).select(
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("__cents"),
    )

    def rollup(part: DataFrame) -> DataFrame:
        return part.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("__cents").alias("value_cents"),
        )

    state = rollup(ev.filter(F.col("ts") < _DIFF_MID))
    delta = rollup(ev.filter(F.col("ts") >= _DIFF_MID))
    return (
        state.unionByName(delta)
        .groupBy("user_id")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("value_cents").cast("long").alias("value_cents"),
        )
    )


@register(
    "hourly_active_users",
    oracle="""
    SELECT CAST(epoch_ms(ts)
                - ((epoch_ms(ts) % 3600000) + 3600000) % 3600000
                AS BIGINT) AS hour_ts,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1
    """,
)
def q_hourly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window DISTINCT aggregation: hourly event volume and exact
    active-user count. Catalyst plans count(DISTINCT) per group as the
    two-phase Expand + partial/final aggregation — one extra shuffle, no
    per-group window; at 100 TB swap the exact count for
    approx_count_distinct (HLL) as profile_columns documents."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            # pmod-floor, not DIV: truncation diverges from the DuckDB //
            # floor for pre-1970 (negative) timestamps.
            F.expr("ts - pmod(ts, 3600000)").cast("long").alias("hour_ts")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )


@register(
    "tpch_q17_small_quantity",
    oracle="""
    WITH pa AS (SELECT l_partkey,
                       CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
                         AS sq,
                       CAST(count(*) AS BIGINT) AS cnt
                FROM lineitem GROUP BY l_partkey)
    SELECT CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM lineitem l JOIN pa ON l.l_partkey = pa.l_partkey
    WHERE CAST(round(l.l_quantity) AS BIGINT) * 5 * pa.cnt < pa.sq
    """,
)
def q_tpch_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity order revenue): the correlated
    scalar subquery `l_quantity < 0.2 * avg(quantity) per part`
    DECORRELATED into a per-part pre-aggregate + equi-join — one extra
    hash-agg instead of a per-row subquery; the avg comparison is the
    cross-multiplied integer form (qty·5·cnt < sum) so no float division
    exists anywhere."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.round(F.col("l_quantity")).cast("long")
    pa = li.groupBy("l_partkey").agg(
        F.sum(qty).alias("__sq"), F.count(F.lit(1)).alias("__cnt")
    )
    j = li.join(pa, "l_partkey").filter(
        qty * 5 * F.col("__cnt") < F.col("__sq")
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("revenue_cents"),
    )


@register(
    "value_equal_depth_bins",
    oracle="""
    WITH ev AS (SELECT event_id, value FROM events),
    r AS (SELECT event_id, value,
                 row_number() OVER (ORDER BY value ASC NULLS FIRST,
                                    event_id) AS rn,
                 count(*) OVER () AS n
          FROM ev)
    SELECT event_id, value,
           CAST(rn AS BIGINT) AS global_rank,
           CAST((rn - 1) * 10 // n AS BIGINT) AS bin
    FROM r
    """,
)
def q_value_equal_depth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-depth decile binning of the value column
    (ops.scale.quantile_bins): exact global rank via the two-pass
    range-bucketed scheme — the oracle states it as the plain
    row_number window, the Spark plan contains NO single-task stage
    (gated in tests)."""
    from timeseriesfuser_spark.ops.scale import quantile_bins

    ev = _events(spark, sf_dir).select("event_id", "value")
    return quantile_bins(ev, "value", 10, tiebreak_cols=["event_id"]).select(
        "event_id", "value", "global_rank", "bin"
    )


# ---------------------------------------------------------------------------
# round 7: TPC-H breadth (Q5/Q10/Q14/Q16/Q19/Q22 shapes, adapted to the
# columns the synthetic tables carry; all money math in exact integer
# cents/c4 with one final double division)
# ---------------------------------------------------------------------------

_C4 = (
    "CAST(round(l.l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(round(l.l_discount * 100) AS BIGINT))"
)


@register(
    "tpch_q5_local_volume",
    oracle=f"""
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum({_C4}) AS DOUBLE) / 10000 AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): the 6-way join with the
    same-nation customer=supplier constraint. Fact tables equi-join on
    their keys; customer/supplier/nation/region broadcast (all bounded
    dimensions); the nationkey equality rides the supplier join — never
    a post-join filter over a cross product."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = _t(spark, sf_dir, "region").select("r_regionkey")
    c4 = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (100 - F.round(F.col("l_discount") * 100).cast("long"))
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (F.sum(c4).cast("double") / 10000).alias("revenue"),
        )
    )


@register(
    "tpch_q10_returned",
    oracle=f"""
    WITH rev AS (
        SELECT c.c_custkey, c.c_name, n.n_name,
               sum({_C4}) AS rev_c4
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE l.l_returnflag = 'R'
          AND o.o_orderdate >= TIMESTAMP '1997-01-01'
          AND o.o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY c.c_custkey, c.c_name, n.n_name
    ),
    rk AS (SELECT *, row_number() OVER (ORDER BY rev_c4 DESC, c_custkey)
                       AS rnk
           FROM rev)
    SELECT c_custkey, c_name, n_name,
           CAST(rev_c4 AS DOUBLE) / 10000 AS revenue,
           CAST(rnk AS BIGINT) AS rnk
    FROM rk WHERE rnk <= 20
    """,
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item losses, top 20 customers): join +
    agg, then a global top-N via one window over the tiny per-customer
    aggregate. Ranking is on the exact integer c4 revenue (a double
    ORDER BY would be engine-dependent at ties), tie-broken by custkey."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c4 = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (100 - F.round(F.col("l_discount") * 100).cast("long"))
    )
    rev = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(c4).alias("__rev_c4"))
    )
    w = Window.orderBy(F.col("__rev_c4").desc(), F.col("c_custkey"))
    return (
        rev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 20)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            (F.col("__rev_c4").cast("double") / 10000).alias("revenue"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


@register(
    "tpch_q14_promo",
    oracle=f"""
    SELECT CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN {_C4} ELSE 0 END)
                AS BIGINT) AS promo_c4,
           CAST(sum({_C4}) AS BIGINT) AS total_c4,
           CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN {_C4} ELSE 0 END)
                * 1000000 // sum({_C4}) AS BIGINT) AS promo_ppm
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-04-01'
    """,
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion revenue share): conditional aggregation
    over one broadcast join; the share is exact-integer ppm (a double
    percentage would be accumulation-order-dependent)."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    c4 = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (100 - F.round(F.col("l_discount") * 100).cast("long"))
    )
    promo = F.when(F.col("p_type") == "PROMO", c4).otherwise(F.lit(0))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            F.sum(promo).alias("promo_c4"),
            F.sum(c4).alias("total_c4"),
            F.expr(
                "CAST(sum(CASE WHEN p_type = 'PROMO' THEN "
                "CAST(round(l_extendedprice * 100) AS BIGINT) * "
                "(100 - CAST(round(l_discount * 100) AS BIGINT)) "
                "ELSE 0 END) * 1000000 DIV "
                "sum(CAST(round(l_extendedprice * 100) AS BIGINT) * "
                "(100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)"
            ).alias("promo_ppm"),
        )
    )


@register(
    "tpch_q16_supplier_variety",
    oracle="""
    SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#11'
      AND p.p_size <= 10
      AND l.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier variety per part class): NOT IN over a
    filtered dimension plans as LEFT ANTI against a broadcast (the
    blacklist is tiny); distinct-count per group is the two-phase Expand
    aggregate. lineitem stands in for partsupp (the synthetic schema
    carries no partsupp table)."""
    l = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#11") & (F.col("p_size") <= 10)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select(F.col("s_suppkey"))
    return (
        l.join(F.broadcast(bad), l.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q19_disjunctive",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum({_C4}) AS DOUBLE) / 10000 AS revenue
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity >= 1 AND l.l_quantity <= 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity >= 10 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 20 AND l.l_quantity <= 30)
    """,
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (disjunctive brand/size/quantity predicates): the
    classic optimizer test that the OR of conjunctions stays a single
    broadcast equi-join on partkey with the disjunction as a post-join
    filter — never three unioned scans."""
    l = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    c4 = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (100 - F.round(F.col("l_discount") * 100).cast("long"))
    )
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & (q >= 1) & (q <= 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
           & (q >= 10) & (q <= 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15)
           & (q >= 20) & (q <= 30))
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (F.sum(c4).cast("double") / 10000).alias("revenue"),
        )
    )


@register(
    "tpch_q22_dormant_rich",
    oracle="""
    WITH stats AS (
        SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT))
               // count(*) AS avg_cents
        FROM customer WHERE c_acctbal > 0
    ),
    rich AS (
        SELECT c.c_custkey, c.c_mktsegment,
               CAST(round(c.c_acctbal * 100) AS BIGINT) AS bal_cents
        FROM customer c, stats
        WHERE CAST(round(c.c_acctbal * 100) AS BIGINT) > stats.avg_cents
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '1999-01-01')
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_custs,
           CAST(sum(bal_cents) AS DOUBLE) / 100 AS total_acctbal
    FROM rich GROUP BY c_mktsegment
    """,
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (rich customers with no RECENT orders — the
    synthetic data gives every customer at least one lifetime order): a
    global scalar
    aggregate (broadcast as a 1-row relation) + LEFT ANTI against
    orders, grouped by segment. The mean threshold is computed in
    integer cents with floor division — a double mean would be
    accumulation-order-dependent and could flip threshold comparisons
    between engines."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("__bal_cents"),
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    ).select("o_custkey")
    avg_cents = (
        c.filter(F.col("__bal_cents") > 0)
        .agg(F.expr("sum(__bal_cents) DIV count(*)").alias("__avg_cents"))
    )
    rich = (
        c.join(F.broadcast(avg_cents))
        .filter(F.col("__bal_cents") > F.col("__avg_cents"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
    )
    return rich.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_custs"),
        (F.sum("__bal_cents").cast("double") / 100).alias("total_acctbal"),
    )


@register(
    "tpch_q7_nation_volume",
    oracle=f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum({_C4}) AS DOUBLE) / 10000 AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    WHERE sn.n_name IN ('NATION_1','NATION_2','NATION_3','NATION_4')
      AND cn.n_name IN ('NATION_1','NATION_2','NATION_3','NATION_4')
      AND sn.n_name <> cn.n_name
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY sn.n_name, cn.n_name, EXTRACT(year FROM l.l_shipdate)
    """,
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (bilateral shipping volume): the two nation
    dimension copies join under different roles (supplier vs customer
    nation) with a symmetric pair predicate — both broadcast; year
    extraction groups the fact rows. The disjunction prunes to two
    nation pairs before aggregation."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_suppkey", "l_shipdate",
             "l_extendedprice", "l_discount")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sn = n.select(F.col("n_nationkey").alias("sn_key"),
                  F.col("n_name").alias("supp_nation"))
    cn = n.select(F.col("n_nationkey").alias("cn_key"),
                  F.col("n_name").alias("cust_nation"))
    c4 = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (100 - F.round(F.col("l_discount") * 100).cast("long"))
    )
    nats = ["NATION_1", "NATION_2", "NATION_3", "NATION_4"]
    pair = (
        F.col("supp_nation").isin(nats)
        & F.col("cust_nation").isin(nats)
        & (F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (F.sum(c4).cast("double") / 10000).alias("revenue"),
        )
    )


@register(
    "tpch_q8_market_share",
    oracle=f"""
    WITH vol AS (
        SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
               sum(CASE WHEN sn.n_name = 'NATION_3' THEN {_C4} ELSE 0 END)
                 AS nation_c4,
               sum({_C4}) AS total_c4
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        JOIN region r ON cn.n_regionkey = r.r_regionkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        WHERE r.r_name = 'EUROPE'
        GROUP BY EXTRACT(year FROM o.o_orderdate)
    )
    SELECT o_year,
           CAST(nation_c4 AS BIGINT) AS nation_c4,
           CAST(total_c4 AS BIGINT) AS total_c4,
           CAST(nation_c4 * 1000000 // total_c4 AS BIGINT) AS share_ppm
    FROM vol
    """,
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share inside a region, per year):
    conditional aggregation over the supplier-nation role, customer side
    restricted to EUROPE — the share is exact-integer ppm. Fact tables
    equi-join once; every dimension broadcasts."""
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                           "o_orderdate")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cn = n.select(F.col("n_nationkey").alias("cn_key"),
                  F.col("n_regionkey").alias("cn_region"))
    sn = n.select(F.col("n_nationkey").alias("sn_key"),
                  F.col("n_name").alias("supp_nation"))
    c4 = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (100 - F.round(F.col("l_discount") * 100).cast("long"))
    )
    nat = F.when(F.col("supp_nation") == "NATION_3", c4).otherwise(F.lit(0))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == r.r_regionkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(nat).alias("nation_c4"),
            F.sum(c4).alias("total_c4"),
            F.expr(
                "CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN "
                "CAST(round(l_extendedprice * 100) AS BIGINT) * "
                "(100 - CAST(round(l_discount * 100) AS BIGINT)) ELSE 0 END) "
                "* 1000000 DIV "
                "sum(CAST(round(l_extendedprice * 100) AS BIGINT) * "
                "(100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)"
            ).alias("share_ppm"),
        )
    )


@register(
    "tpch_q13_order_distribution",
    oracle="""
    WITH per_cust AS (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                          AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(count(*) AS BIGINT) AS custdist
    FROM per_cust GROUP BY c_count
    """,
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT join so
    zero-order customers keep a 0 bucket (count(o_orderkey) ignores the
    null-extended rows), then a count-of-counts second aggregation —
    the classic two-level histogram-of-cardinalities plan."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per.groupBy(F.col("c_count").cast("long").alias("c_count")).agg(
        F.count(F.lit(1)).alias("custdist")
    )


@register(
    "tpch_q15_top_supplier",
    oracle=f"""
    WITH rev AS (
        SELECT l.l_suppkey AS s_suppkey, sum({_C4}) AS rev_c4
        FROM lineitem l
        WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l.l_shipdate < TIMESTAMP '1997-04-01'
        GROUP BY l.l_suppkey
    ),
    mx AS (SELECT max(rev_c4) AS m FROM rev)
    SELECT s.s_suppkey, s.s_name,
           CAST(rev.rev_c4 AS DOUBLE) / 10000 AS total_revenue
    FROM rev JOIN mx ON rev.rev_c4 = mx.m
    JOIN supplier s ON s.s_suppkey = rev.s_suppkey
    """,
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier of the quarter): the view + scalar
    max subquery decorrelates to pre-aggregate → 1-row broadcast max →
    equi-filter — never a sort of the aggregate, and ties (all suppliers
    at the max) are all returned, exactly the classic semantics."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    c4 = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (100 - F.round(F.col("l_discount") * 100).cast("long"))
    )
    rev = l.groupBy(F.col("l_suppkey").alias("s_suppkey")).agg(
        F.sum(c4).alias("__rev_c4")
    )
    mx = rev.agg(F.max("__rev_c4").alias("__m"))
    return (
        rev.join(F.broadcast(mx), rev.__rev_c4 == mx.__m)
        .join(F.broadcast(s), "s_suppkey")
        .select(
            "s_suppkey", "s_name",
            (F.col("__rev_c4").cast("double") / 10000).alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# round 8: the remaining TPC-H decorrelation shapes (Q2/Q9/Q11/Q12/Q20/Q21),
# adapted to the synthetic columns: no partsupp table, so "supply
# relationships" are the DISTINCT (l_partkey, l_suppkey) pairs observed in
# lineitem, supply cost proxies are s_acctbal (Q2) / p_retailprice (Q9),
# and lateness (Q12/Q21 — no commit/receipt dates) is
# l_shipdate > o_orderdate + fixed interval.
# ---------------------------------------------------------------------------


@register(
    "tpch_q2_min_cost_supplier",
    oracle="""
    SELECT p.p_partkey, p.p_name, s.s_name, n.n_name,
           CAST(CAST(round(s.s_acctbal * 100) AS BIGINT) AS DOUBLE) / 100
             AS s_acctbal
    FROM part p,
         (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps,
         supplier s, nation n, region r
    WHERE p.p_partkey = ps.l_partkey AND s.s_suppkey = ps.l_suppkey
      AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey
      AND r.r_name = 'EUROPE'
      AND p.p_type = 'LARGE' AND p.p_size BETWEEN 10 AND 20
      AND CAST(round(s.s_acctbal * 100) AS BIGINT) = (
          SELECT min(CAST(round(s2.s_acctbal * 100) AS BIGINT))
          FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps2,
               supplier s2, nation n2, region r2
          WHERE ps2.l_partkey = p.p_partkey
            AND s2.s_suppkey = ps2.l_suppkey
            AND s2.s_nationkey = n2.n_nationkey
            AND n2.n_regionkey = r2.r_regionkey
            AND r2.r_name = 'EUROPE')
    """,
)
def q_tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (min-cost supplier per part; reference semantics:
    correlated scalar MIN subquery — the oracle states it in that
    canonical form). Decorrelated by hand: the eligible
    (part, supplier) relation is built ONCE, min-cost per part is a
    groupBy-min over it, and the winner join is an equi-join on
    (partkey, cost) — ties all returned, like the classic query. The
    dims (supplier/nation/region) broadcast; the only shuffle on the
    fact side is the DISTINCT pair projection + the per-part min."""
    pairs = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_name",
        "s_nationkey",
        F.round(F.col("s_acctbal") * 100).cast("long").alias("__bal_cents"),
    )
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & F.col("p_size").between(10, 20)
    ).select("p_partkey", "p_name")
    eligible = (
        pairs.join(F.broadcast(s), pairs.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("l_partkey", "s_name", "n_name", "__bal_cents")
    )
    min_bal = eligible.groupBy("l_partkey").agg(
        F.min("__bal_cents").alias("__min_bal")
    )
    return (
        eligible.join(
            min_bal,
            (eligible.l_partkey == min_bal.l_partkey)
            & (eligible.__bal_cents == min_bal.__min_bal),
        )
        .drop(min_bal.l_partkey)
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "n_name",
            (F.col("__bal_cents").cast("double") / 100).alias("s_acctbal"),
        )
    )


@register(
    "tpch_q9_product_profit",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           CAST(sum({_C4} * 10
                    - CAST(round(p.p_retailprice * 100) AS BIGINT)
                      * CAST(round(l.l_quantity) AS BIGINT) * 100
                ) AS DOUBLE) / 100000 AS sum_profit
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY n.n_name, EXTRACT(year FROM o.o_orderdate)
    """,
)
def q_tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year). Supply
    cost proxies as p_retailprice/10 per unit (no partsupp table);
    profit = disc revenue − unit cost × qty, all in exact integer 1e-5
    dollars (c4·10 units — scaling instead of dividing keeps every
    intermediate integer), one double division at the end. part/
    supplier/nation broadcast; lineitem⋈orders is the one shuffle."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget%")
    ).select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("__rp_cents"),
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c4 = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (100 - F.round(F.col("l_discount") * 100).cast("long"))
    )
    qty = F.round(F.col("l_quantity")).cast("long")
    profit = c4 * 10 - F.col("__rp_cents") * qty * 100
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        # decimal(38,0) accumulator: at 100 TB row counts a bigint sum of
        # 1e11-scale profit terms overflows int64 (ANSI Spark would throw;
        # DuckDB silently promotes to HUGEINT — this matches it)
        .agg(
            (
                F.sum(profit.cast("decimal(38,0)")).cast("double") / 100000
            ).alias("sum_profit")
        )
    )


@register(
    "tpch_q11_important_stock",
    oracle="""
    WITH v AS (
        SELECT l.l_partkey,
               sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                   * CAST(round(l.l_quantity) AS BIGINT)) AS val_cents
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE n.n_name = 'NATION_3'
        GROUP BY l.l_partkey
    )
    SELECT v.l_partkey AS p_partkey,
           CAST(v.val_cents AS DOUBLE) / 100 AS total_value
    FROM v, (SELECT sum(val_cents) AS tot FROM v) t
    WHERE v.val_cents * 1000 > t.tot
    """,
)
def q_tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock: parts whose held value exceeds a
    fraction of the national total — HAVING sum(...) > global scalar
    subquery). Decorrelated: per-part value aggregate computed once, the
    global total rides a 1-row broadcast cross join, the fraction
    comparison is cross-multiplied integer (val·1000 > tot) so no float
    threshold exists. At 100 TB the per-part agg is the only fact
    shuffle; the scalar is O(1)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3"
    ).select("n_nationkey")
    val = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * F.round(F.col("l_quantity")).cast("long")
    )
    v = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy("l_partkey")
        .agg(F.sum(val).alias("__val_cents"))
    )
    # the grand total sums per-part sums — decimal(38,0) so the scalar
    # can't overflow int64 at full corpus scale (DuckDB's sum(BIGINT) is
    # already HUGEINT; this matches it)
    tot = v.agg(
        F.sum(F.col("__val_cents").cast("decimal(38,0)")).alias("__tot")
    )
    return (
        v.join(F.broadcast(tot))
        .filter(
            F.col("__val_cents").cast("decimal(38,0)") * 1000 > F.col("__tot")
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            (F.col("__val_cents").cast("double") / 100).alias("total_value"),
        )
    )


@register(
    "tpch_q12_late_priority",
    oracle="""
    SELECT l.l_returnflag AS ship_class,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l.l_returnflag
    """,
)
def q_tpch_q12_late_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (priority split of late shipments; l_returnflag
    stands in for l_shipmode, shipdate>orderdate+60d for the missing
    commit/receipt dates). The CASE-sum split happens in ONE pass over
    the joined rows — two conditional aggregates, not two scans; the
    shipdate range prunes the fact side before the join."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_returnflag", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias(
                "high_line_count"
            ),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias(
                "low_line_count"
            ),
        )
    )


@register(
    "tpch_q20_promotion_suppliers",
    oracle="""
    WITH sp AS (
        SELECT l_suppkey, l_partkey,
               sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                         AND l_shipdate < TIMESTAMP '1998-01-01'
                        THEN CAST(round(l_quantity) AS BIGINT)
                        ELSE 0 END) AS q97,
               sum(CAST(round(l_quantity) AS BIGINT)) AS qtot
        FROM lineitem GROUP BY l_suppkey, l_partkey
    )
    SELECT s.s_name, n.n_name
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
      AND s.s_suppkey IN (
          SELECT sp.l_suppkey
          FROM sp JOIN part p ON sp.l_partkey = p.p_partkey
          WHERE p.p_name LIKE 'small%' AND 2 * sp.q97 > sp.qtot)
    """,
)
def q_tpch_q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (promotion-eligible suppliers: nested IN
    subqueries with a correlated inner aggregate — here, suppliers for
    whom some 'small%' part shipped MORE than half its lifetime volume
    during 1997). Decorrelated: the correlated per-(supplier, part)
    quantity aggregate becomes one two-key groupBy with BOTH the
    windowed and lifetime sums as conditional aggregates of the same
    pass; the IN chains become broadcast + LEFT SEMI joins — no row is
    ever re-probed per supplier."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_partkey", "l_quantity", "l_shipdate"
    )
    qty = F.round(F.col("l_quantity")).cast("long")
    in97 = (
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    sp = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(F.when(in97, qty).otherwise(F.lit(0).cast("long"))).alias("__q97"),
        F.sum(qty).alias("__qtot"),
    )
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    ).select("p_partkey")
    cand = (
        sp.join(F.broadcast(p), sp.l_partkey == p.p_partkey)
        .filter(2 * F.col("__q97") > F.col("__qtot"))
        .select("l_suppkey")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    ).select("n_nationkey", "n_name")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(cand, s.s_suppkey == cand.l_suppkey, "left_semi")
        .select("s_name", "n_name")
    )


@register(
    "tpch_q21_waiting_suppliers",
    oracle="""
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier s, lineitem l1, orders o, nation n
    WHERE s.s_suppkey = l1.l_suppkey
      AND o.o_orderkey = l1.l_orderkey
      AND o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
      AND s.s_nationkey = n.n_nationkey
      AND n.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
    GROUP BY s.s_name
    """,
)
def q_tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): the
    canonical correlated EXISTS + NOT-EXISTS pair (oracle states it in
    that form; lateness adapted to shipdate > orderdate + 30d). Hand
    decorrelation: both quantified subqueries collapse into ONE
    per-order aggregate — n_supp (distinct suppliers on the order) and
    n_late_supp (distinct suppliers with a late item). A late l1 row
    qualifies iff n_supp > 1 (EXISTS: someone else on the order) and
    n_late_supp = 1 (NOT EXISTS: nobody ELSE late — l1's supplier is
    late, so a count of exactly one means it is the only one). One
    fact-fact shuffle join (lineitem⋈orders) + one per-order agg,
    instead of two correlated re-probes of lineitem per row."""
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    joined = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "__late",
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"),
    )
    per_order = joined.groupBy("o_orderkey").agg(
        F.countDistinct("l_suppkey").alias("__n_supp"),
        F.countDistinct(F.when(F.col("__late"), F.col("l_suppkey"))).alias(
            "__n_late_supp"
        ),
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3", "NATION_4")
    ).select("n_nationkey")
    late_rows = (
        joined.filter(F.col("__late"))
        .join(per_order, "o_orderkey")
        .filter((F.col("__n_supp") > 1) & (F.col("__n_late_supp") == 1))
    )
    return (
        late_rows.join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
    )


@register(
    "cube_revenue",
    oracle="""
    SELECT c.c_mktsegment, o.o_orderpriority,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(GROUPING(c.c_mktsegment, o.o_orderpriority) AS BIGINT) AS gid
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY CUBE (c.c_mktsegment, o.o_orderpriority)
    """,
)
def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE grouping sets (all four subtotal combinations of
    segment × priority) in ONE aggregation pass — Catalyst expands the
    cube into a single Expand + hash-agg, same as ROLLUP; `gid`
    (grouping_id) disambiguates subtotal rows from genuine NULL group
    values. The customer dim broadcasts."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .cube("c_mktsegment", "o_orderpriority")
        .agg(
            F.sum(cents).cast("long").alias("total_cents"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.grouping_id().cast("long").alias("gid"),
        )
    )


@register(
    "user_set_ops",
    oracle="""
    WITH y97 AS (SELECT DISTINCT user_id FROM events
                 WHERE ts >= TIMESTAMP '1997-01-01'
                   AND ts < TIMESTAMP '1998-01-01' AND user_id IS NOT NULL),
    y98 AS (SELECT DISTINCT user_id FROM events
            WHERE ts >= TIMESTAMP '1998-01-01'
              AND ts < TIMESTAMP '1999-01-01' AND user_id IS NOT NULL)
    SELECT
      CAST((SELECT count(*) FROM (SELECT user_id FROM y97
            INTERSECT SELECT user_id FROM y98)) AS BIGINT) AS retained,
      CAST((SELECT count(*) FROM (SELECT user_id FROM y97
            EXCEPT SELECT user_id FROM y98)) AS BIGINT) AS churned,
      CAST((SELECT count(*) FROM (SELECT user_id FROM y98
            EXCEPT SELECT user_id FROM y97)) AS BIGINT) AS acquired
    """,
)
def q_user_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit relational set operators (INTERSECT / EXCEPT, set
    semantics) over two activity periods — retained/churned/acquired
    user counts. Catalyst plans each as a distinct-aggregated semi/anti
    hash join, so the shape degrades gracefully at scale (no sort-based
    set difference). NULL user_ids are excluded on both sides (SQL set
    ops treat NULL = NULL as equal — excluding them keeps the two
    engines' NULL set semantics out of the checked surface)."""
    ev = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())

    # _events carries epoch-ms; these are the UTC instants the oracle's
    # TIMESTAMP literals denote
    def period(lo_ms: int, hi_ms: int) -> DataFrame:
        return (
            ev.filter((F.col("ts") >= lo_ms) & (F.col("ts") < hi_ms))
            .select("user_id")
            .distinct()
        )

    # each period set feeds all three set ops — persist the small
    # distinct relations so the events scan runs twice, not six times
    # (evictable; released when an enclosing cache_scope() exits)
    from pyspark import StorageLevel

    y97 = track_persist(
        period(852_076_800_000, 883_612_800_000).persist(StorageLevel.MEMORY_AND_DISK)
    )
    y98 = track_persist(
        period(883_612_800_000, 915_148_800_000).persist(StorageLevel.MEMORY_AND_DISK)
    )
    retained = y97.intersect(y98).agg(
        F.count(F.lit(1)).cast("long").alias("retained")
    )
    churned = y97.exceptAll(y98).agg(
        F.count(F.lit(1)).cast("long").alias("churned")
    )
    acquired = y98.exceptAll(y97).agg(
        F.count(F.lit(1)).cast("long").alias("acquired")
    )
    return (
        retained.crossJoin(F.broadcast(churned))
        .crossJoin(F.broadcast(acquired))
    )


@register(
    "part_value_frontier",
    oracle="""
    WITH t AS (
        SELECT p_partkey,
               CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
               CAST(p_size AS BIGINT) AS p_size
        FROM part
        WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
    )
    SELECT a.p_partkey, a.price_cents, a.p_size
    FROM t a
    WHERE NOT EXISTS (
        SELECT 1 FROM t b
        WHERE b.price_cents <= a.price_cents AND b.p_size <= a.p_size
          AND (b.price_cents < a.price_cents OR b.p_size < a.p_size)
    )
    """,
)
def q_part_value_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (ops.scale.pareto_frontier_2d): the parts no other
    part beats on BOTH price and size — the canonical Pareto/skyline
    query. The oracle states the O(n²) NOT-EXISTS dominance form; the
    Spark side is the sorted prefix-min rewrite on the range-bucketed
    grain (exact_global_rank idiom) — linear work, no self-join, no
    single-task window. Price in exact integer cents (tpch_q1
    convention)."""
    from timeseriesfuser_spark.ops.scale import pareto_frontier_2d

    t = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
        F.col("p_size").cast("long").alias("p_size"),
    )
    return pareto_frontier_2d(t, "price_cents", "p_size").select(
        "p_partkey", "price_cents", "p_size"
    )


@register(
    "benford_value_digits",
    # exp_ppm literals are Python-precomputed round(log10(1+1/d)*1e6) —
    # identical integers baked into BOTH plans, so no libm on either
    # query surface (the hll_estimate_corrected policy).
    oracle="""
    WITH base AS (SELECT event_type AS g,
                         CAST(round(value * 100) AS BIGINT) AS c
                  FROM events
                  WHERE value IS NOT NULL AND round(value * 100) != 0),
    d AS (SELECT g, CAST(substr(CAST(abs(c) AS VARCHAR), 1, 1) AS INT)
                    AS digit FROM base),
    cnt AS (SELECT g, digit, count(*) AS n FROM d GROUP BY g, digit),
    t AS (SELECT g, sum(n) AS tot FROM cnt GROUP BY g),
    grid AS (SELECT t.g, CAST(dd.range AS INT) AS digit, t.tot
             FROM t CROSS JOIN range(1, 10) dd)
    SELECT f.g AS event_type, f.digit,
           CAST(coalesce(cnt.n, 0) AS BIGINT) AS n,
           CAST(coalesce(cnt.n, 0) * 1000000 // f.tot AS BIGINT) AS obs_ppm,
           CAST(CASE f.digit WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153 WHEN 9 THEN 45757 END AS BIGINT) AS exp_ppm
    FROM grid f
    LEFT JOIN cnt ON cnt.g IS NOT DISTINCT FROM f.g AND cnt.digit = f.digit
    """,
)
def q_benford_value_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit profile of the value column per event type
    (ops.scale.benford_digits) — the fabricated-data / truncated-cast
    screen. Digit = first char of the cent integer's decimal string
    (exact, no log10 on the query surface); integer-ppm shares; the full
    (group, digit 1..9) spine with n = 0 rows a drift monitor diffs.
    One hash-agg + broadcast spine joins, input scanned once."""
    from timeseriesfuser_spark.ops.scale import benford_digits

    return benford_digits(_events(spark, sf_dir))


@register(
    "k_anon_nation_segment",
    # l_distinct counts NULL as one value (the Spark side tags presence
    # in a struct; the SQL adds an any-null indicator to the non-null
    # distinct count).
    oracle="""
    SELECT c_nationkey, c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT c_acctbal)
                + max(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS l_distinct,
           CAST(count(*) < 10 AS BIGINT) AS at_risk
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
)
def q_k_anon_nation_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit (ops.expect.k_anonymity): every
    (nation, market segment) equivalence class of the customer table
    with its population, distinct sensitive account-balance values
    (NULL counted as a value), and the n < 10 re-identification flag.
    One hash aggregation; output is class-bounded."""
    from timeseriesfuser_spark.ops.expect import k_anonymity

    return k_anonymity(
        _t(spark, sf_dir, "customer"),
        ["c_nationkey", "c_mktsegment"],
        10,
        sensitive_col="c_acctbal",
    )


def _hilbert_oracle() -> str:
    from timeseriesfuser_spark.ops.scale import hilbert_key_sql

    k = hilbert_key_sql("l_partkey", "l_suppkey", bits=8)
    return f"""
    SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
           {k} AS hkey
    FROM lineitem
    """


@register("hilbert_lineitem", oracle=_hilbert_oracle())
def q_hilbert_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout key over (l_partkey, l_suppkey)
    (ops.scale.hilbert_key): the space-filling-curve alternative to
    zorder_lineitem with no Morton diagonal jumps — adjacent curve
    positions are always adjacent cells, so range scans cross fewer
    file boundaries. The per-bit rotate/reflect state machine unrolls
    to 8 levels of integer CASE arithmetic generated from ONE Python
    loop for both engines (DuckDB's ^ is power — its twin spells
    xor()); pure projection, zero shuffle."""
    from timeseriesfuser_spark.ops.scale import hilbert_key

    return _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        hilbert_key("l_partkey", "l_suppkey", bits=8).alias("hkey"),
    )


@register(
    "lineitem_checksum",
    # Canonical row string: name=value per column, NULL as a chr(0) tag,
    # chr(31) separators; 60-bit md5 hash summed in HUGEINT (order- and
    # partitioning-independent). Doubles are pre-quantized to cents —
    # double→VARCHAR formatting is NOT engine-portable (Spark uses
    # scientific notation past 1e7; DuckDB never does).
    oracle="""
    WITH p AS (SELECT l_orderkey, l_partkey, l_suppkey,
                      CAST(l_linenumber AS BIGINT) AS l_linenumber,
                      l_returnflag, l_linestatus,
                      CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
               FROM lineitem),
    h AS (SELECT l_returnflag,
                 CAST(concat('0x', substr(md5(
                     'l_orderkey=' || COALESCE(CAST(l_orderkey AS VARCHAR), chr(0))
                     || chr(31) ||
                     'l_partkey=' || COALESCE(CAST(l_partkey AS VARCHAR), chr(0))
                     || chr(31) ||
                     'l_suppkey=' || COALESCE(CAST(l_suppkey AS VARCHAR), chr(0))
                     || chr(31) ||
                     'l_linenumber=' || COALESCE(CAST(l_linenumber AS VARCHAR), chr(0))
                     || chr(31) ||
                     'l_linestatus=' || COALESCE(l_linestatus, chr(0))
                     || chr(31) ||
                     'price_cents=' || COALESCE(CAST(price_cents AS VARCHAR), chr(0))
                 ), 1, 15)) AS BIGINT) AS hh
          FROM p)
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(hh AS HUGEINT)) AS VARCHAR) AS checksum
    FROM h GROUP BY l_returnflag
    """,
)
def q_lineitem_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent per-group content checksum
    (ops.scale.table_checksum): null-tagged canonical row strings →
    60-bit md5 hashes → an unwrappable decimal sum, identical under any
    row order or partitioning — the cross-engine table-equality /
    replication-verification primitive (shard_manifest is the
    deliberately order-SENSITIVE sibling). Doubles pre-quantized to
    cents: double→string formatting is not engine-portable."""
    from timeseriesfuser_spark.ops.scale import table_checksum

    p = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        "l_returnflag",
        "l_linestatus",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias(
            "price_cents"
        ),
    )
    return table_checksum(
        p,
        group_cols=["l_returnflag"],
        columns=[
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_linestatus", "price_cents",
        ],
    )


@register(
    "fd_source_lang",
    # Majority = (count DESC, value ASC); DuckDB arg_min can't take a
    # composite key (round-4 gotcha) — the row_number-CASE formulation
    # replicates the Spark min_by struct key. NULL dependents carry the
    # chr(0) tag (a real violation class).
    oracle="""
    WITH grain AS (SELECT source,
                          COALESCE(CAST(lang AS VARCHAR), chr(0)) AS v,
                          count(*) AS c
                   FROM documents GROUP BY 1, 2),
    ranked AS (SELECT *, row_number() OVER (PARTITION BY source
                                            ORDER BY c DESC, v) AS rnk
               FROM grain),
    agg AS (SELECT source,
                   sum(c) AS n_rows,
                   count(*) AS n_distinct,
                   max(c) AS maxc,
                   min(CASE WHEN rnk = 1 THEN v END) AS majority_value
            FROM ranked GROUP BY source)
    SELECT source,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           majority_value,
           CAST(n_rows - maxc AS BIGINT) AS n_violations,
           CAST((n_rows - maxc) * 1000000 // n_rows AS BIGINT)
               AS violation_ppm
    FROM agg
    """,
)
def q_fd_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate functional dependency audit
    (ops.expect.fd_violations): does source → lang hold in the
    documents table, and by how much does each source violate it?
    Reports distinct dependents, the majority value (count desc, value
    asc — the repair suggestion) and violation ppm per source. Two
    map-side-combinable aggregations, output bounded by distinct
    sources."""
    from timeseriesfuser_spark.ops.expect import fd_violations

    return fd_violations(_t(spark, sf_dir, "documents"), ["source"], "lang")


@register(
    "region_revenue_share",
    # Ratio-to-report: nation revenue share within its region, computed
    # as a window over the AGGREGATED nation grain (25 rows) — never a
    # second scan; exact integer cents and ppm.
    oracle="""
    WITH rev AS (SELECT n.n_regionkey, n.n_name,
                        sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                            AS cents
                 FROM lineitem l
                 JOIN orders o ON o.o_orderkey = l.l_orderkey
                 JOIN customer c ON c.c_custkey = o.o_custkey
                 JOIN nation n ON n.n_nationkey = c.c_nationkey
                 GROUP BY 1, 2)
    SELECT r.r_name AS region, rev.n_name AS nation,
           CAST(cents AS BIGINT) AS revenue_cents,
           CAST(cents * 1000000 //
                sum(cents) OVER (PARTITION BY rev.n_regionkey) AS BIGINT)
               AS region_share_ppm
    FROM rev JOIN region r ON r.r_regionkey = rev.n_regionkey
    """,
)
def q_region_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's revenue share within its region in
    exact ppm — the classic BI percent-of-parent shape, with the share
    window running over the 25-row AGGREGATED nation grain (one fact
    pass, dims broadcast), never a second fact scan."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = (
        li.join(o, o["o_orderkey"] == li["l_orderkey"])
        .join(F.broadcast(c), c["c_custkey"] == o["o_custkey"])
        .join(F.broadcast(n), n["n_nationkey"] == c["c_nationkey"])
        .groupBy("n_regionkey", "n_name")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("revenue_cents")
        )
    )
    w = Window.partitionBy("n_regionkey")
    return (
        rev.withColumn(
            "region_share_ppm",
            F.expr(
                "revenue_cents * 1000000 DIV sum(revenue_cents)"
                " OVER (PARTITION BY n_regionkey)"
            ).cast("long"),
        )
        .join(F.broadcast(_t(spark, sf_dir, "region")),
              F.col("r_regionkey") == F.col("n_regionkey"))
        .select(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            "revenue_cents",
            "region_share_ppm",
        )
    )


@register(
    "top_parts_with_ties",
    # rank() <= k keeps EVERY part tied at the boundary — the tie-aware
    # top-k semantics row_number-based top-k queries deliberately avoid;
    # quantity sums are exact integers so ties are real.
    oracle="""
    WITH q AS (SELECT l_returnflag, l_partkey,
                      CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
               FROM lineitem GROUP BY 1, 2)
    SELECT l_returnflag, l_partkey, qty,
           CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, rank() OVER (PARTITION BY l_returnflag
                                 ORDER BY qty DESC) AS rnk
          FROM q)
    WHERE rnk <= 3
    """,
)
def q_top_parts_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-aware top-k: the 3 highest-quantity parts per return flag
    with rank() semantics — every part tied at the boundary survives
    (row_number top-k would break ties arbitrarily and need an explicit
    tiebreaker to stay deterministic; rank keeps the honest set). The
    window runs over the aggregated (flag, part) grain and Spark's
    rank-limit pushdown plans a partial WindowGroupLimit before the
    exchange."""
    li = _t(spark, sf_dir, "lineitem")
    q = li.groupBy("l_returnflag", "l_partkey").agg(
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty")
    )
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("qty"))
    return (
        q.withColumn("rnk", F.rank().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
    )


@register(
    "basket_size_hist",
    oracle="""
    WITH b AS (SELECT l_orderkey, count(DISTINCT l_partkey) AS n_parts
               FROM lineitem
               WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
               GROUP BY l_orderkey)
    SELECT CAST(n_parts AS BIGINT) AS basket_size,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM b GROUP BY n_parts
    """,
)
def q_basket_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket-size distribution: distinct parts per order → order count
    per size — the market-basket shape prior every co-purchase analysis
    should check first (the Σ|basket|² pair-space cost of
    copurchase_lift/triangles is THIS histogram's second moment). Two
    hash aggregations, output bounded by max basket size."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull()
    )
    b = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_partkey").cast("long").alias("basket_size")
    )
    return b.groupBy("basket_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )


@register(
    "part_supplier_hhi",
    # Grouped HHI: per part, Σ over suppliers of (share_ppm)² with
    # share_ppm = qty·1e6 DIV total — exact integers (HUGEINT squares);
    # 1e12 = single-supplier monopoly. Ties/ordering irrelevant (a sum).
    oracle="""
    WITH sq AS (SELECT l_partkey, l_suppkey,
                       sum(CAST(l_quantity AS BIGINT)) AS q
                FROM lineitem
                WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
                GROUP BY 1, 2),
    tot AS (SELECT l_partkey, sum(q) AS tq, count(*) AS n_suppliers
            FROM sq GROUP BY l_partkey)
    SELECT sq.l_partkey,
           CAST(max(n_suppliers) AS BIGINT) AS n_suppliers,
           CAST(sum(CAST(q * 1000000 // tq AS HUGEINT)
                    * (q * 1000000 // tq)) AS BIGINT) AS hhi_ppm2
    FROM sq JOIN tot ON tot.l_partkey = sq.l_partkey
    GROUP BY sq.l_partkey
    """,
)
def q_part_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply concentration per part: Herfindahl–Hirschman index of
    supplier quantity shares in exact ppm² (1e12 = single-supplier
    monopoly) — the supply-chain-risk screen, the grouped sibling of
    revenue_concentration's corpus-level HHI. Two hash aggregations +
    one grain join; output bounded by distinct parts."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey").isNotNull() & F.col("l_suppkey").isNotNull()
    )
    sq = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("q")
    )
    tot = sq.groupBy(F.col("l_partkey").alias("__pk")).agg(
        F.sum("q").alias("tq"),
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
    )
    return (
        sq.join(tot, sq["l_partkey"] == tot["__pk"])
        .withColumn("__share", F.expr("q * 1000000 DIV tq"))
        .groupBy("l_partkey")
        .agg(
            F.max("n_suppliers").cast("long").alias("n_suppliers"),
            F.sum(F.expr("CAST(__share AS DECIMAL(38,0)) * __share"))
            .cast("long")
            .alias("hhi_ppm2"),
        )
    )


@register(
    "discount_quantity_corr",
    # Discount in exact basis points, quantity exact ints; every Σ in
    # HUGEINT/decimal; one double chain (the crosscorr contract).
    oracle="""
    WITH b AS (SELECT CAST(round(l_discount * 10000) AS BIGINT) AS x,
                      CAST(l_quantity AS BIGINT) AS y
               FROM lineitem
               WHERE l_discount IS NOT NULL AND l_quantity IS NOT NULL),
    agg AS (SELECT count(*) AS n,
                   sum(CAST(x AS HUGEINT)) AS sx,
                   sum(CAST(y AS HUGEINT)) AS sy,
                   sum(CAST(x AS HUGEINT) * y) AS sxy,
                   sum(CAST(x AS HUGEINT) * x) AS sxx,
                   sum(CAST(y AS HUGEINT) * y) AS syy
            FROM b)
    SELECT CAST(n AS BIGINT) AS n_rows,
           CASE WHEN n >= 2 AND n * sxx - sx * sx > 0
                     AND n * syy - sy * sy > 0
                THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                           / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                              * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
           END AS r
    FROM agg
    """,
)
def q_discount_quantity_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-elasticity proxy: Pearson correlation of discount (exact
    basis points) vs quantity across all lineitems — exact integer sums,
    one double chain (the house correlation contract). One
    map-side-combinable aggregate; a single-row answer at any scale."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_discount").isNotNull() & F.col("l_quantity").isNotNull()
    ).select(
        F.round(F.col("l_discount") * 10000).cast("long").alias("x"),
        F.col("l_quantity").cast("long").alias("y"),
    )
    agg = li.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0))")).alias("__sx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0))")).alias("__sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("__sxy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("__sxx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).alias("__syy"),
    )
    num = F.expr("CAST(n_rows * __sxy - __sx * __sy AS DOUBLE)")
    vx = F.expr("CAST(n_rows * __sxx - __sx * __sx AS DOUBLE)")
    vy = F.expr("CAST(n_rows * __syy - __sy * __sy AS DOUBLE)")
    return agg.select(
        "n_rows",
        F.when(
            (F.col("n_rows") >= 2)
            & (F.expr("n_rows * __sxx - __sx * __sx") > 0)
            & (F.expr("n_rows * __syy - __sy * __sy") > 0),
            F.round(num / (F.sqrt(vx) * F.sqrt(vy)), 6),
        ).alias("r"),
    )
