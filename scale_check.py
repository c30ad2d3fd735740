#!/usr/bin/env python
"""Scale validation: run the core operators on synthesized data 10-100x the
sf0.1 bench size and measure throughput scaling.

Generates deterministic data with spark.range (no files, no driver
materialization) so the measured time is pure operator cost. Results are
recorded in SCALE.md. Usage:

    python scale_check.py [rows_millions ...]   # default: 1 10 30
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import functions as F

from timeseriesfuser_spark.operators.fill import forward_fill
from timeseriesfuser_spark.operators.resample import resample_last_interval
from timeseriesfuser_spark.operators.asof import asof_join
from tools.harness import measure, session

CPUS = 32
DAY_MS = 86_400_000


def synth_events(spark, n: int):
    """Deterministic events-like stream: n rows over ~n/3472 days (same
    density as the sf tables: ~100k rows / 30 days ≈ 3472 rows/day)."""
    span_ms = max(1, n * 26_000)  # ~26s between events, like sf0.1
    return (
        spark.range(0, n, 1, CPUS)
        .select(
            F.col("id").alias("event_id"),
            # pseudo-random but deterministic arrival times, globally unsorted
            (
                F.lit(1_700_000_000_000)
                + (F.col("id") * 2654435761 % F.lit(span_ms))
            ).alias("__timestamp"),
            (F.col("id") % 10_000).alias("user_id"),
            (F.pmod(F.hash(F.col("id")), 1000) / 10.0).alias("value"),
            F.when(F.col("id") % 3 == 0, F.lit(None))
            .otherwise(F.pmod(F.hash(F.col("id") + 1), 1000) / 10.0)
            .alias("sparse_value"),
        )
    )


def run(spark, n: int, only=None) -> dict:
    ev = synth_events(spark, n)
    out = {"rows": n}

    def t(name, df):
        if only is not None and name not in only:
            return
        # Accept a thunk for ops that run driver actions eagerly during
        # construction (iterative ops with per-round checkpoints): the
        # construction must be inside the timed region.
        spark.catalog.clearCache()
        dt = measure(name, df if callable(df) else lambda: df)["wall_s"]
        out[name] = round(dt, 2)
        out[f"{name}_mrows_s"] = round(n / dt / 1e6, 2)
        print(f"#   {name}: {dt:.2f}s  ({n/dt/1e6:.2f} M rows/s)", file=sys.stderr)

    # global chronological sort (the fuse output order)
    t("global_sort", ev.orderBy("__timestamp", "event_id"))
    # interval resample with gap fill + ffill (global grid)
    t(
        "resample_1m",
        lambda: resample_last_interval(
            ev.select("__timestamp", "event_id", "value"),
            "1m",
            value_cols=["value"],
            ffill_keys=["value"],
            tiebreak_cols=["event_id"],
        ),
    )
    # global two-pass LOCF on a 1/3-null column
    t(
        "forward_fill",
        lambda: forward_fill(ev, ["__timestamp", "event_id"], ["sparse_value"]),
    )
    # per-user sessionize-style window
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("__timestamp", "event_id")
    t(
        "user_window",
        ev.withColumn("prev", F.lag("__timestamp").over(w)),
    )
    # keyed as-of join: events against 1/10-size reference stream
    right = (
        spark.range(0, max(n // 10, 1), 1, CPUS)
        .select(
            (
                F.lit(1_700_000_000_000)
                + (F.col("id") * 2246822519 % F.lit(max(1, n * 26_000)))
            ).alias("__timestamp"),
            (F.col("id") % 10_000).alias("user_id"),
            (F.pmod(F.hash(F.col("id") + 2), 1000) / 10.0).alias("ref_value"),
        )
    )
    t(
        "asof_join",
        asof_join(ev.select("__timestamp", "event_id", "user_id", "value"), right,
                  keys=["user_id"], right_cols=["ref_value"]),
    )

    # round-4 time-series analytics (one hash-agg each; transitions adds a
    # per-user window)
    from timeseriesfuser_spark.ops.timeseries import (
        event_transitions,
        ohlc_bars,
        sliding_counts,
    )

    evk = ev.withColumn(
        "etype",
        F.concat(F.lit("t"), F.pmod(F.hash("event_id"), 5).cast("string")),
    )
    t(
        "ohlc_1h",
        ohlc_bars(evk, "1h", ts_col="__timestamp", key_cols=("etype",),
                  value_col="value", seq_col="event_id"),
    )
    t(
        "sliding_1h15m",
        sliding_counts(evk, "1h", "15m", ts_col="__timestamp",
                       key_cols=("etype",), value_col="value"),
    )
    t(
        "transitions",
        event_transitions(evk, ts_col="__timestamp", user_col="user_id",
                          type_col="etype", seq_col="event_id"),
    )

    # round-5: anomaly flags, rates (per-key windows), grid interpolation
    # (chunked spine + two windows), interval join (epoch-chunk equi-join)
    from timeseriesfuser_spark.operators.rangejoin import interval_join
    from timeseriesfuser_spark.ops.timeseries import (
        interpolate_grid,
        rolling_anomalies,
        twap_bars,
        value_rates,
    )

    t(
        "rolling_zscore",
        rolling_anomalies(ev, ts_col="__timestamp", key_col="user_id",
                          value_col="value", seq_col="event_id"),
    )
    t(
        "value_rates",
        value_rates(ev, ts_col="__timestamp", key_col="user_id",
                    value_col="value", seq_col="event_id"),
    )
    # 1d grid: keeps spine fan-out ~bounded (span grows with n, and the
    # synthetic stream keeps 10k users — a 1h grid would make the OUTPUT
    # 70x the input and measure spine materialization, not the operator)
    t(
        "interpolate_1d",
        interpolate_grid(ev, "1d", ts_col="__timestamp", key_col="user_id",
                         value_col="value", seq_col="event_id"),
    )
    t(
        "twap_1d",
        twap_bars(ev, "1d", ts_col="__timestamp", key_col="user_id",
                  value_col="value", seq_col="event_id"),
    )
    ivs = right.select(
        "user_id",
        F.col("__timestamp").alias("start_ms"),
        (F.col("__timestamp") + 3_600_000).alias("end_ms"),
        F.col("ref_value").alias("iv_value"),
    )
    t(
        "interval_join",
        interval_join(
            ev.select("__timestamp", "event_id", "user_id", "value"),
            ivs,
            point_ts="__timestamp",
            keys=["user_id"],
            chunk_ms=3_600_000,
        ),
    )

    # round-6: SCD2 validity intervals (two per-key windows), Z-order
    # layout (projection + range repartition + local sort), fixed-point
    # PageRank over a synthetic n-edge graph with n/10 nodes (per
    # iteration: one edge join + one dst hash-agg; 3 iterations)
    from timeseriesfuser_spark.ops.behavior import scd2_history
    from timeseriesfuser_spark.ops.graph import pagerank
    from timeseriesfuser_spark.ops.scale import zorder_layout

    t(
        "scd2_history",
        scd2_history(
            ev.withColumn("value_q", F.floor(F.col("value") / 10.0)),
            ts_col="__timestamp",
            value_col="value_q",
        ),
    )
    zin = ev.select(
        "event_id", "user_id",
        (F.col("__timestamp") / 3_600_000).cast("long").alias("hour"),
    )
    t("zorder_layout", zorder_layout(zin, ["user_id", "hour"], bits=24))
    nodes = max(n // 10, 10)
    edges = spark.range(0, n, 1, CPUS).select(
        F.pmod(F.hash(F.col("id")), nodes).alias("id_a"),
        F.pmod(F.hash(F.col("id") + 7), nodes).alias("id_b"),
    )
    t("pagerank_3it", lambda: pagerank(edges, iterations=3))
    from timeseriesfuser_spark.ops.scale import quantile_bins

    from timeseriesfuser_spark.ops.sketches import (
        countmin_sketch,
        hll_registers,
    )

    t("cms_sketch", countmin_sketch(ev.select("user_id"), "user_id",
                                    depth=4, width=1024))
    t("hll_registers", hll_registers(ev.select("user_id"), "user_id", p=12))
    from timeseriesfuser_spark.ops.sketches import (
        bloom_bits,
        bloom_prefilter,
        histogram_sketch,
    )

    t("histogram_sketch", histogram_sketch(ev.select("value"), "value",
                                           lo=0.0, hi=1000.0, bins=512))
    # bloom: filter the event stream against 1/16th of the user domain
    t(
        "bloom_prefilter",
        lambda: bloom_prefilter(
            ev.select("user_id", "value"),
            bloom_bits(
                ev.select("user_id").filter("user_id % 16 = 0").distinct(),
                "user_id", m_bits=1 << 20, k=3,
            ),
            "user_id", m_bits=1 << 20, k=3,
        ),
    )
    from timeseriesfuser_spark.ops.timeseries import drawdown as _ddop
    t("drawdown", _ddop(ev.select("user_id", "__timestamp", "event_id",
                                  "value"), ts_col="__timestamp"))

    t(
        "quantile_bins",
        lambda: quantile_bins(
            ev.select("value", "event_id"), "value", 10,
            tiebreak_cols=["event_id"], num_buckets=CPUS * 4,
        ),
    )
    from timeseriesfuser_spark.ops.timeseries import (
        lagged_crosscorr as _xcop,
        lttb_downsample as _lttbop,
    )

    # 1000-point per-key downsample over 10k users
    t(
        "lttb_1000",
        _lttbop(
            ev.select("user_id", "__timestamp", "value"),
            1000, ts_col="__timestamp", key_cols=["user_id"],
        ),
    )
    # lead-lag screen between two derived series on the 1h grid
    xev = ev.select(
        "__timestamp", "event_id", "value",
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("k"),
    )
    t(
        "crosscorr_5lag",
        _xcop(
            xev, "A", "B", [-2, -1, 0, 1, 2], "1h",
            ts_col="__timestamp", key_col="k", value_col="value",
            seq_col="event_id",
        ),
    )
    from timeseriesfuser_spark.ops.timeseries import (
        cusum_shifts as _cusop,
        psi_drift as _psiop,
    )

    mid = 1_700_000_000_000 + (n * 26_000) // 2
    t(
        "psi_drift",
        _psiop(
            ev.select("user_id", "__timestamp", "value"),
            mid, ts_col="__timestamp", key_cols=["user_id"],
            lo=0.0, hi=100.0, bins=10,
        ),
    )
    t(
        "cusum_shifts",
        _cusop(
            ev.select("user_id", "__timestamp", "event_id", "value"),
            400, ts_col="__timestamp", key_cols=["user_id"],
            min_points=20,
        ),
    )
    from timeseriesfuser_spark.ops.timeseries import (
        acf_bars as _acfop,
        robust_outlier_summary as _roop,
        seasonal_naive_error as _snop,
    )

    # exact per-group median/MAD over 10k user groups (two rank windows)
    t(
        "robust_outliers",
        _roop(
            ev.select("user_id", "value"),
            group_col="user_id", value_col="value", k=3,
        ),
    )
    from timeseriesfuser_spark.ops.timeseries import (
        exact_percentiles as _pctop,
    )

    # exact p50/p90/p99 over 10k user groups (one rank window)
    t(
        "exact_percentiles",
        _pctop(
            ev.select("user_id", "value"),
            group_col="user_id", value_col="value",
        ),
    )
    t(
        "acf_7lag",
        _acfop(
            xev, "A", 7, "1h",
            ts_col="__timestamp", key_col="k", value_col="value",
            seq_col="event_id",
        ),
    )
    t(
        "seasonal_naive_24h",
        _snop(
            xev, 24, "1h",
            ts_col="__timestamp", key_col="k", value_col="value",
            seq_col="event_id",
        ),
    )
    # market-basket relations: baskets of 6, item domain n/10
    from timeseriesfuser_spark.ops.behavior import copurchase_lift as _mbop
    from timeseriesfuser_spark.ops.graph import triangle_counts as _triop

    basket = spark.range(0, n, 1, CPUS).select(
        (F.col("id") / 6).cast("long").alias("l_orderkey"),
        F.pmod(F.hash(F.col("id")), nodes).alias("l_partkey"),
    )
    t(
        "copurchase_lift",
        _mbop(basket, min_pair_baskets=2),
    )
    t(
        "triangles",
        lambda: _triop(
            basket.alias("a")
            .join(
                basket.alias("b"),
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")),
            )
            .select(
                F.col("a.l_partkey").alias("id_a"),
                F.col("b.l_partkey").alias("id_b"),
            )
        ),
    )
    # round-12: rolling engagement (user-day grain ≈ input size here —
    # the WORST case: every user active ~once/day; fan-out ×7 on top)
    from timeseriesfuser_spark.ops.behavior import (
        rolling_active_users as _rauop,
        attribute_conversions as _attrop,
    )

    t(
        "rolling_active_7d",
        lambda: _rauop(
            ev.select("user_id", F.col("__timestamp").alias("ts")),
            window_days=7,
        ),
    )
    # round-12: attribution — 9/10 of events are touches, 1/10
    # conversions, 2h lookback (chunked interval join, never cartesian)
    touches = ev.filter(F.col("event_id") % 10 != 0).select(
        "user_id",
        F.col("__timestamp").alias("touch_ts"),
        F.col("event_id").alias("touch_id"),
        (F.col("event_id") % 5).cast("string").alias("channel"),
    )
    convs = ev.filter(F.col("event_id") % 10 == 0).select(
        "user_id",
        F.col("__timestamp").alias("conv_ts"),
        F.col("event_id").alias("conv_id"),
        (F.col("event_id") % 100).alias("cents"),
    )
    t(
        "attribution_last",
        lambda: _attrop(
            touches, convs, lookback_ms=2 * 3_600_000, model="last_touch",
        ),
    )
    # round-12: multi-source BFS over the co-purchase graph (same edge
    # relation as triangles; frontier saturates the 1M-node graph fast)
    from timeseriesfuser_spark.ops.graph import shortest_hops as _bfsop

    t(
        "bfs_3hop",
        lambda: _bfsop(
            basket.alias("a")
            .join(
                basket.alias("b"),
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")),
            )
            .select(
                F.col("a.l_partkey").alias("id_a"),
                F.col("b.l_partkey").alias("id_b"),
            ),
            spark.range(0, 3).select(F.col("id").alias("seed")),
            max_hops=3,
        ),
    )
    # round-16: shared edge relation (VERDICT r9 item #6) — build the
    # co-purchase edge list ONCE (eager persist) and measure each graph
    # op's INCREMENTAL cost on the shared cache; compare against the
    # standalone cells (triangles, bfs_3hop, hits_2iter) where every op
    # pays the two-distinct build again. NOTE: no clearCache between the
    # incremental cells — sharing the cache is the point.
    if only is None or "graph_shared" in only:
        from timeseriesfuser_spark.ops.graph import (
            build_edges as _beop,
            degree_assortativity as _daop,
            kcore_peel as _kcop,
        )

        spark.catalog.clearCache()
        t0 = time.perf_counter()
        sh_edges = _beop(basket)
        out["graph_shared_build"] = round(time.perf_counter() - t0, 2)
        for nm, thunk in [
            ("graph_shared_triangles", lambda: _triop(sh_edges)),
            ("graph_shared_kcore", lambda: _kcop(sh_edges, 4, rounds=3)),
            ("graph_shared_assort", lambda: _daop(sh_edges)),
        ]:
            out[nm] = round(measure(nm, thunk)["wall_s"], 2)
        sh_edges.unpersist()

    # round-15: sequence pattern with negation — one per-user window on
    # the (user, ts) dedup grain, no self-join
    from timeseriesfuser_spark.ops.behavior import sequence_match as _seqop

    typed = ev.select(
        "user_id",
        F.col("__timestamp").alias("ts"),
        F.concat(
            F.lit("T"), (F.col("event_id") % 5).cast("string")
        ).alias("event_type"),
    )
    t(
        "sequence_match",
        _seqop(
            typed, "T0", "T1", not_between="T2", within_ms=3_600_000,
            ts_col="ts",
        ),
    )
    # round-15: Theil-Sen — pair space = Σ_key bars², bounded by
    # span/interval. synth_events spans ~n/3472 DAYS (3009 at 10M), so
    # the interval must scale with the span (the op's own contract —
    # '1h' here would be 72k bars/key = 2.6B pairs/key, the round-5
    # dense-grid lesson): '7d' → ~430 bars/key → ~92k pairs/key.
    from timeseriesfuser_spark.ops.timeseries import theil_sen_trend as _tsop

    t(
        "theil_sen_7d",
        lambda: _tsop(
            xev, "7d",
            ts_col="__timestamp", key_col="k", value_col="value",
            seq_col="event_id",
        ),
    )
    # round-15: RFM — per-user grain + three bucketed global rankings
    from timeseriesfuser_spark.ops.behavior import rfm_segments as _rfmop

    t(
        "rfm_segments",
        lambda: _rfmop(
            ev.select(
                "user_id",
                F.timestamp_millis(F.col("__timestamp")).alias("o_ts"),
                F.coalesce(F.col("value"), F.lit(0.0)).alias("amt"),
            ),
            user_col="user_id", ts_col="o_ts", amount_col="amt",
        ),
    )
    # round-15: HITS over the order→part bipartite graph (2 iterations,
    # per-half-round join+agg; max normalization broadcasts)
    from timeseriesfuser_spark.ops.graph import hits_scores as _hitsop

    t(
        "hits_2iter",
        lambda: _hitsop(
            basket.select(
                F.col("l_orderkey").alias("id_a"),
                F.col("l_partkey").alias("id_b"),
            ).distinct(),
            iterations=2,
        ),
    )
    # round-15: pairwise-cosine histogram — the block knob MUST scale
    # with the corpus (k∝N lesson): buckets = nvec²/2e6 keeps the scored
    # sample ~2M pairs at any n
    from timeseriesfuser_spark.ops.similarity import (
        embedding_sim_histogram as _simhop,
    )

    nvec = max(n // 100, 1000)
    buckets = max(8, nvec * nvec // 2_000_000)
    vecs = spark.range(0, nvec, 1, CPUS).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(31)),
            lambda j: (F.pmod(F.hash(F.col("id") * 32 + j), 2000) - 1000)
            / 1000.0,
        ).cast("array<float>").alias("embedding"),
    )
    t(
        "sim_histogram",
        lambda: _simhop(vecs, sample_buckets=buckets),
    )
    # round-15 wave 2: interval×interval overlap (user-day activity
    # spans × global burst hours), exact winsorized mean over 10k user
    # groups, FD audit on the (user, type) grain, order-independent
    # checksum (pure projection + agg)
    from timeseriesfuser_spark.operators.rangejoin import (
        interval_overlap_join as _ovlop,
    )

    act = ev.groupBy(
        "user_id", F.expr("__timestamp DIV 86400000").alias("__d")
    ).agg(
        F.min("__timestamp").alias("a_start"),
        (F.max("__timestamp") + 1).alias("a_end"),
    )
    burst = (
        ev.filter(F.col("event_id") % 7 == 0)
        .groupBy((F.expr("__timestamp DIV 3600000") * 3600000).alias("b_start"))
        .agg(F.count(F.lit(1)).alias("n_ev"))
        .filter(F.col("n_ev") >= 3)
        .withColumn("b_end", F.col("b_start") + 3600000)
    )
    t(
        "interval_overlap",
        lambda: _ovlop(
            act, burst,
            left_start="a_start", left_end="a_end",
            right_start="b_start", right_end="b_end",
            chunk_ms=3_600_000,
        ),
    )
    from timeseriesfuser_spark.ops.timeseries import (
        winsorized_stats as _winop,
    )

    t(
        "winsorized_10k_groups",
        lambda: _winop(
            ev.select("user_id", "value"),
            group_col="user_id", value_col="value",
        ),
    )
    from timeseriesfuser_spark.ops.expect import fd_violations as _fdop
    from timeseriesfuser_spark.ops.scale import table_checksum as _ckop

    typed2 = ev.select(
        "user_id", (F.col("event_id") % 5).cast("string").alias("ty")
    )
    t("fd_audit", lambda: _fdop(typed2, ["user_id"], "ty"))
    t(
        "table_checksum",
        lambda: _ckop(
            ev.select("event_id", "user_id", "__timestamp"),
            group_cols=["user_id"],
        ),
    )
    # round-15 wave 3: burst/gap/rank-correlation cells
    from timeseriesfuser_spark.ops.timeseries import (
        burst_flags as _bfop,
        interarrival_stats as _iaop,
        spearman_corr as _spop,
    )

    typed3 = ev.select(
        (F.col("user_id") % 100).cast("string").alias("event_type"),
        F.col("__timestamp").alias("ts"),
        "event_id",
        "value",
    )
    t("burst_flags", lambda: _bfop(typed3, "1h", hi=80, lo=20))
    t(
        "interarrival_10k_users",
        lambda: _iaop(
            ev.select(
                F.col("user_id").alias("event_type"),
                F.col("__timestamp").alias("ts"),
                "event_id",
            )
        ),
    )
    t(
        "spearman_7d",
        lambda: _spop(
            xev, "A", "B", "7d",
            ts_col="__timestamp", key_col="k", value_col="value",
            seq_col="event_id",
        ),
    )
    return out


def synth_docs(spark, n: int):
    """Deterministic document corpus: ~40 words/doc from a 10k vocab; every
    20th doc is an exact duplicate of its predecessor (each content ≤ 2
    copies, so candidate joins stay pair-bounded, like a real near-dup
    corpus after upstream URL dedup)."""
    seed = F.when(
        (F.col("id") % 20 == 1) & (F.col("id") > 0), F.col("id") - 1
    ).otherwise(F.col("id"))
    word = lambda j: F.concat(
        F.lit("w"), F.pmod(F.hash(F.col("__seed") * 40 + j), 10_000).cast("string")
    )
    return (
        spark.range(0, n, 1, CPUS)
        .withColumn("__seed", seed)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(F.sequence(F.lit(0), F.lit(39)), word),
            ).alias("text"),
        )
    )


def _docs_ops(spark, n: int) -> dict:
    """name -> thunk building (and, for iterative ops, running) the op."""
    from timeseriesfuser_spark.ops.dedup import (
        exact_duplicates,
        minhash_lsh_pairs,
        neardup_clusters,
        simhash_pairs,
    )
    from timeseriesfuser_spark.ops.text import (
        repetition_stats,
        text_stats,
        tfidf_top_terms,
        token_frequencies,
    )

    from timeseriesfuser_spark.ops.dedup import minhash_lsh_pairs_between, ngram_novelty
    from timeseriesfuser_spark.ops.packing import chunk_documents
    from timeseriesfuser_spark.ops.sampling import epoch_shuffle

    from timeseriesfuser_spark.ops.dedup import passage_dedup
    from timeseriesfuser_spark.ops.lm import (
        bigram_lm_score,
        hashed_classifier_score,
    )
    from timeseriesfuser_spark.ops.packing import length_bucketed_batches

    from timeseriesfuser_spark.ops.dedup import set_similarity_pairs
    from timeseriesfuser_spark.ops.text import (
        bm25_topk,
        readability_scores,
        script_profile,
    )

    docs = synth_docs(spark, n)
    return {
        "exact_dedup": lambda: exact_duplicates(docs),
        # round-15: postings-volume scoring (terms exist in the synth
        # vocab by construction), prefix-filtered exact jaccard at the
        # minhash threshold, and the two zero-shuffle quality profiles
        "bm25": lambda: bm25_topk(docs, ["w17", "w1234", "w9001"], k=20),
        "prefix_filter": lambda: set_similarity_pairs(
            docs, n=2, threshold=(2, 5)
        ),
        "prefix_filter_08": lambda: set_similarity_pairs(
            docs, n=2, threshold=(4, 5)
        ),
        "script_profile": lambda: script_profile(docs),
        "readability": lambda: readability_scores(docs),
        "passage_dedup": lambda: passage_dedup(docs, passage_tokens=16),
        "bigram_lm": lambda: bigram_lm_score(docs),
        "hashed_classifier": lambda: hashed_classifier_score(docs),
        "length_batches": lambda: length_bucketed_batches(docs),
        "ngram_novelty": lambda: ngram_novelty(docs),
        "epoch_shuffle": lambda: epoch_shuffle(docs),
        "doc_chunks": lambda: chunk_documents(docs, chunk_size=32, stride=24),
        "cross_corpus": lambda: minhash_lsh_pairs_between(
            docs.filter("doc_id % 2 = 1"),
            docs.filter("doc_id % 2 = 0"),
            num_hashes=16, bands=4, threshold=0.5,
        ),
        "text_stats": lambda: text_stats(docs),
        "token_frequencies": lambda: token_frequencies(docs),
        "repetition_stats": lambda: repetition_stats(docs),
        "minhash_lsh": lambda: minhash_lsh_pairs(
            docs, num_hashes=16, bands=4, threshold=0.5
        ),
        "simhash": lambda: simhash_pairs(docs, bits=48, max_hamming=3),
        "tfidf_keywords": lambda: tfidf_top_terms(docs, k=5),
        "neardup_clusters": lambda: neardup_clusters(
            docs, num_hashes=16, bands=4, threshold=0.5
        ),
        # round-6: blocked fuzzy ER (bounded ~50-doc blocks on a synthetic
        # 32-char name), per-stratum lift vocabulary, group-aware split
        "fuzzy_er": lambda: _fuzzy_er(docs, n),
        "distinctive_terms": lambda: _distinctive(docs),
        "leakage_split": lambda: _leakage(spark, docs, n),
        "ngram_jaccard": lambda: _ngram_jaccard(docs),
        # round-8: span removal against a 1k-doc benchmark slice — the
        # corpus-side explode is one row per gram (~doc_len), joined
        # against the broadcast benchmark gram set
        "decontaminate": lambda: _decontaminate(docs),
    }


def _decontaminate(docs):
    from timeseriesfuser_spark.ops.text import decontaminate_spans

    return decontaminate_spans(docs, docs.filter("doc_id < 1000"), n=3)


def _ngram_jaccard(docs):
    """df-capped exact Jaccard on an adversarial corpus: a constant
    boilerplate footer makes its shingles corpus-hot (df = n), which would
    fan the uncapped inverted-index self-join out to ~n^2 candidate pairs.
    max_df drops those shingles from candidate generation; the planted
    exact-dup pairs still share 30+ rare shingles and are found with their
    exact full-set jaccard."""
    from timeseriesfuser_spark.ops.dedup import ngram_jaccard_pairs

    boiler = docs.select(
        "doc_id",
        F.concat_ws(
            " ", "text",
            F.lit("subscribe to the feed for more updates like this one"),
        ).alias("text"),
    )
    return ngram_jaccard_pairs(boiler, threshold=0.5, max_df=64)


def _fuzzy_er(docs, n):
    from timeseriesfuser_spark.ops.entity import fuzzy_match_pairs

    named = docs.select(
        "doc_id",
        F.substring(F.md5(F.col("text")), 1, 24).alias("name"),
        F.pmod(F.hash("doc_id"), max(n // 50, 1)).alias("blk"),
    )
    return fuzzy_match_pairs(
        named, id_col="doc_id", name_col="name", block_cols=("blk",),
        max_distance=4,
    )


def _distinctive(docs):
    from timeseriesfuser_spark.ops.text import distinctive_terms

    strat = docs.withColumn(
        "source", F.concat(F.lit("s"), F.pmod(F.hash("doc_id"), 20).cast("string"))
    )
    return distinctive_terms(strat, strata_col="source", min_count=5, top_k=10)


def _leakage(spark, docs, n):
    from timeseriesfuser_spark.ops.sampling import leakage_safe_split

    groups = docs.select("doc_id", (F.col("doc_id") / 2).cast("long").alias("cluster_id"))
    return leakage_safe_split(docs, groups)


def run_docs_one(spark, name: str, n: int) -> float:
    """One operator, one measurement (the thunk may itself run driver
    actions — iterative ops, eager persists — so time the whole thing)."""
    return measure(name, _docs_ops(spark, n)[name])["wall_s"]


def run_docs(n: int) -> dict:
    """Text/dedup operator scaling, each operator in its OWN subprocess
    JVM: sequential same-JVM measurement is unreliable here — the
    string-heavy text ops leave the heap in a state that makes a
    following MinHash run 3-5x slower (reproduced; survives clearCache
    and System.gc), so per-op isolation is the only honest protocol.
    """
    import subprocess

    out = {"docs": n}
    for name in [
        "exact_dedup", "text_stats", "token_frequencies", "repetition_stats",
        "minhash_lsh", "simhash", "tfidf_keywords", "neardup_clusters",
        "doc_chunks", "cross_corpus", "ngram_novelty", "epoch_shuffle",
        "passage_dedup", "bigram_lm", "hashed_classifier", "length_batches",
        "fuzzy_er", "distinctive_terms", "leakage_split", "ngram_jaccard",
        "bm25", "prefix_filter", "prefix_filter_08", "script_profile", "readability",
    ]:
        r = subprocess.run(
            [sys.executable, __file__, "--docs-one", name, str(n)],
            capture_output=True, text=True,
        )
        line = (r.stdout.strip().splitlines() or ["?"])[-1]
        try:
            dt = float(line)
        except ValueError:
            print(f"#   {name}: FAILED {r.stderr[-300:]}", file=sys.stderr)
            continue
        out[name] = round(dt, 2)
        out[f"{name}_mdocs_s"] = round(n / dt / 1e6, 2)
        print(f"#   {name}: {dt:.2f}s  ({n/dt/1e6:.2f} M docs/s)", file=sys.stderr)
    return out


def run_csv600(spark, target_rows: int = 30_000_000) -> dict:
    """Replicate the reference's one never-replicated SCALE scenario
    (tests/integration/test_core_single_nonoverlapping.py:128-137, the
    @pytest.mark.slow BTC-USDT run): ~600 MB of gzip CSV tick files
    through the full user pipeline — SourceConfig(csv) → TimeSeriesFuser
    (derived window, forward fill) → 1h last-value resample →
    sinks.write_batched(csv.gz). Generates per-"day" gzip CSV shards
    with Spark itself (never on the driver), then times the pipeline
    end-to-end including the sink."""
    import shutil
    import tempfile

    from timeseriesfuser_spark import (
        SourceConfig,
        TimeSeriesFuser,
        resample_last_interval,
    )
    from timeseriesfuser_spark.sinks import write_batched

    root = tempfile.mkdtemp(prefix="tsf_csv600_")
    src_dir = f"{root}/trades"
    out_dir = f"{root}/out"
    try:
        # ~60 B/row raw; synthetic ticks gzip ~3x -> ~600 MB needs ~30M rows.
        n = target_rows
        span_ms = 30 * DAY_MS
        ticks = (
            spark.range(0, n, 1, CPUS)
            .select(
                (
                    F.lit(1_699_000_000_000)
                    + (F.col("id") * span_ms / F.lit(n)).cast("long")
                ).alias("Timestamp"),
                F.round(
                    30_000 + F.pmod(F.hash("id"), 2_000_000) / 100.0, 2
                ).alias("Price"),
                F.round(F.pmod(F.hash(F.col("id") + 1), 10_000) / 1000.0, 3)
                .alias("Quantity"),
                F.col("id").alias("TradeID"),
                (
                    F.lit(1_699_000_000_000)
                    + (F.col("id") * span_ms / F.lit(n)).cast("long")
                    + 17
                ).alias("RecTimestamp"),
            )
        )
        t0 = time.perf_counter()
        (
            ticks.repartitionByRange(CPUS, "Timestamp")
            .sortWithinPartitions("Timestamp")
            .write.option("header", True)
            .option("compression", "gzip")
            .csv(src_dir)
        )
        gen_s = time.perf_counter() - t0
        import glob as _glob
        import os as _os

        sz = sum(_os.path.getsize(f) for f in _glob.glob(f"{src_dir}/*.csv.gz"))

        src = SourceConfig(
            name="trades_btc",
            path=src_dir,
            fmt="csv",
            schema=[int, float, float, int, int],
            file_sort_regex=r"part-(\d+)",
            file_sort_idx=0,
        )
        t1 = time.perf_counter()
        fuser = TimeSeriesFuser([src], forward_fill=True)
        bars = resample_last_interval(
            fuser.fused(spark), "1h", ffill_keys=["Price"]
        )
        res = write_batched(
            bars, out_dir, fmt="csv", compress=True, count_rows=True
        )
        pipe_s = time.perf_counter() - t1
        out = {
            "rows": n,
            "gzip_mb": round(sz / 1e6, 1),
            "generate_s": round(gen_s, 1),
            "pipeline_s": round(pipe_s, 1),
            "out_rows": res.rows,
            "mrows_s": round(n / pipe_s / 1e6, 2),
        }
        print(f"# csv600: {out}", file=sys.stderr)
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


def run_fuse600(spark, target_rows: int = 30_000_000) -> dict:
    """The two-source OVERLAPPING variant of ``run_csv600`` — the shape of
    the reference's multi-source slow scenario
    (tests/integration/test_core_multi_overlapping.py:69-75) at
    reference scale: ~2×300 MB gzip CSV, trades covering days 0-20 and
    a spread source covering days 10-30 (a 10-day overlap), with a
    colliding ``Syn_id`` column on both so the fuse path exercises
    union + GLOBAL chronological sort + collision rename ``col||source``
    end-to-end, then forward fill + 1h resample + csv.gz sink."""
    import shutil
    import tempfile

    from timeseriesfuser_spark import (
        SourceConfig,
        TimeSeriesFuser,
        resample_last_interval,
    )
    from timeseriesfuser_spark.sinks import write_batched

    root = tempfile.mkdtemp(prefix="tsf_fuse600_")
    out_dir = f"{root}/out"
    n_each = target_rows // 2
    t0_ms = 1_699_000_000_000
    span_ms = 20 * DAY_MS  # each source spans 20 "days"

    def gen(path, start_ms, cols):
        base = spark.range(0, n_each, 1, CPUS).select(
            (
                F.lit(start_ms) + (F.col("id") * span_ms / F.lit(n_each)).cast("long")
            ).alias("Timestamp"),
            *cols,
        )
        (
            base.repartitionByRange(CPUS, "Timestamp")
            .sortWithinPartitions("Timestamp")
            .write.option("header", True)
            .option("compression", "gzip")
            .csv(path)
        )

    try:
        t0 = time.perf_counter()
        gen(
            f"{root}/trades",
            t0_ms,
            [
                F.round(30_000 + F.pmod(F.hash("id"), 2_000_000) / 100.0, 2)
                .alias("Price"),
                F.round(F.pmod(F.hash(F.col("id") + 1), 10_000) / 1000.0, 3)
                .alias("Quantity"),
                F.col("id").alias("Syn_id"),
            ],
        )
        gen(
            f"{root}/spread",
            t0_ms + 10 * DAY_MS,  # overlaps the last 10 trade days
            [
                F.round(30_000 + F.pmod(F.hash("id"), 2_000_000) / 100.0, 2)
                .alias("bid"),
                F.round(30_001 + F.pmod(F.hash("id"), 2_000_000) / 100.0, 2)
                .alias("ask"),
                F.col("id").alias("Syn_id"),
            ],
        )
        gen_s = time.perf_counter() - t0
        import glob as _glob
        import os as _os

        sz = sum(
            _os.path.getsize(f)
            for f in _glob.glob(f"{root}/*/*.csv.gz")
        )

        trades = SourceConfig(
            name="trades", path=f"{root}/trades", fmt="csv",
            schema=[int, float, float, int],
            file_sort_regex=r"part-(\d+)", file_sort_idx=0,
        )
        spread = SourceConfig(
            name="spread", path=f"{root}/spread", fmt="csv",
            schema=[int, float, float, int],
            file_sort_regex=r"part-(\d+)", file_sort_idx=0,
        )
        rt = spark._jvm.java.lang.Runtime.getRuntime()

        t1 = time.perf_counter()
        fuser = TimeSeriesFuser([trades, spread], forward_fill=True)
        keys = fuser.remap_keys(spark, ["Price", "bid", "ask"])
        bars = resample_last_interval(
            fuser.fused(spark), "1h", ffill_keys=keys
        )
        res = write_batched(
            bars, out_dir, fmt="csv", compress=True, count_rows=True
        )
        pipe_s = time.perf_counter() - t1
        heap_mb = (rt.totalMemory() - rt.freeMemory()) / 1e6
        out = {
            "rows": target_rows,
            "gzip_mb": round(sz / 1e6, 1),
            "generate_s": round(gen_s, 1),
            "pipeline_s": round(pipe_s, 1),
            "out_rows": res.rows,
            "mrows_s": round(target_rows / pipe_s / 1e6, 2),
            "jvm_heap_used_mb": round(heap_mb),
        }
        print(f"# fuse600: {out}", file=sys.stderr)
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


def run_bucketjoin(spark, n: int = 30_000_000) -> dict:
    """Bucketed co-located join vs plain shuffle join, measured: persist
    fact (n rows) and dim (n/30 keys) bucketed by the join key via
    ops.scale.write_bucketed, then time fact⋈dim with broadcast disabled
    — the bucketed plan must contain NO Exchange (asserted on the plan
    string), which is the whole point of bucketing a repeatedly-joined
    100 TB table once at write time."""
    from timeseriesfuser_spark.ops.scale import write_bucketed

    ev = synth_events(spark, n).select("user_id", "value")
    n_keys = max(n // 30, 1)
    dim = spark.range(0, n_keys, 1, CPUS).select(
        F.col("id").alias("user_id"),
        (F.col("id") % 100).cast("double").alias("segment"),
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # plain: both sides shuffle on user_id
        plain_s = measure("plain_join", lambda: ev.join(dim, "user_id"))["wall_s"]

        t0 = time.perf_counter()
        write_bucketed(ev, "tsf_bench_fact", ["user_id"], CPUS,
                       sort_cols=["user_id"])
        write_bucketed(dim, "tsf_bench_dim", ["user_id"], CPUS,
                       sort_cols=["user_id"])
        write_s = time.perf_counter() - t0

        f = spark.table("tsf_bench_fact")
        d = spark.table("tsf_bench_dim")
        joined = f.join(d, "user_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        no_exchange = "Exchange" not in plan
        bucketed_s = measure("bucketed_join", lambda: joined)["wall_s"]
        out = {
            "rows": n,
            "plain_join_s": round(plain_s, 2),
            "bucketed_join_s": round(bucketed_s, 2),
            "bucket_write_s": round(write_s, 2),
            "bucketed_plan_exchange_free": no_exchange,
        }
        print(f"# bucketjoin: {out}", file=sys.stderr)
        return out
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        for t in ("tsf_bench_fact", "tsf_bench_dim"):
            try:
                spark.sql(f"DROP TABLE IF EXISTS {t}")
            except Exception:
                pass


def run_skewjoin(spark, n: int = 30_000_000) -> dict:
    """Skewed-key join three ways, measured: 40% of the fact rows on ONE
    hot key, dim too big to broadcast (broadcast disabled). (a) plain
    sort-merge with AQE skew handling OFF — the pathological single-task
    baseline; (b) AQE skewJoin ON — runtime split of the oversized
    partition; (c) ops.scale.salted_join — explicit salting when you
    can't rely on AQE (e.g. the skew is in an aggregation upstream)."""
    from timeseriesfuser_spark.ops.scale import salted_join

    hot = F.when(F.pmod(F.hash("id"), 10) < 4, F.lit(7)).otherwise(
        F.pmod(F.hash(F.col("id") + 3), 1_000_000)
    )
    ev = spark.range(0, n, 1, CPUS).select(
        hot.cast("long").alias("user_id"),
        (F.col("id") % 1000).cast("double").alias("value"),
    )
    dim = spark.range(0, 1_000_000, 1, CPUS).select(
        F.col("id").alias("user_id"),
        (F.col("id") % 100).cast("double").alias("segment"),
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    out = {"rows": n}
    try:
        def t(name, thunk):
            out[name] = round(measure(name, thunk)["wall_s"], 2)
            print(f"#   {name}: {out[name]}s", file=sys.stderr)

        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        t("skewed_no_aqe_s", lambda: ev.join(dim, "user_id"))
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        t("skewed_aqe_s", lambda: ev.join(dim, "user_id"))
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        t("salted_s", lambda: salted_join(
            ev, dim, ["user_id"], salts=32, deterministic_by="value"))
        print(f"# skewjoin: {out}", file=sys.stderr)
        return out
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")


def run_prune(spark, n: int = 30_000_000) -> dict:
    """Partition-pruning, measured: write n events day-partitioned via
    sinks.write_time_partitioned (~60 days), then time an aggregate over
    ONE day with the dt predicate vs the same aggregate scanning all
    partitions — and assert the pruned plan's scan lists only matching
    partitions (partition filters, not post-scan filters)."""
    import shutil
    import tempfile

    from timeseriesfuser_spark.sinks import write_time_partitioned

    root = tempfile.mkdtemp(prefix="tsf_prune_")
    try:
        # fixed 60-day span (synth_events' density-preserving span would
        # give ~9,000 day-partitions at 30M rows — a small-files bomb,
        # which is itself the lesson: pick the partition granularity from
        # the QUERY patterns, not the row count)
        ev = spark.range(0, n, 1, CPUS).select(
            (
                F.lit(1_700_000_000_000)
                + (F.col("id") * 2654435761 % F.lit(60 * DAY_MS))
            ).alias("__timestamp"),
            (F.col("id") % 10_000).alias("user_id"),
            (F.pmod(F.hash(F.col("id")), 1000) / 10.0).alias("value"),
        )
        t0 = time.perf_counter()
        res = write_time_partitioned(ev, root, granularity="day")
        write_s = time.perf_counter() - t0
        n_parts = len(res.files)
        back = spark.read.parquet(root)
        one_day = res.files[n_parts // 2].split("=", 1)[1]

        def agg(df):
            return df.groupBy("user_id").agg(F.sum("value").alias("s"))

        full_s = measure("full_scan", lambda: agg(back))["wall_s"]

        pruned = back.filter(F.col("dt") == one_day)
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        pruned_s = measure("pruned_scan", lambda: agg(pruned))["wall_s"]
        out = {
            "rows": n,
            "partitions": n_parts,
            "layout_write_s": round(write_s, 2),
            "full_scan_agg_s": round(full_s, 2),
            "one_day_agg_s": round(pruned_s, 2),
            "partition_filter_in_plan": "PartitionFilters" in plan
            and one_day in plan,
        }
        print(f"# prune: {out}", file=sys.stderr)
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main():
    args = sys.argv[1:]
    docs_one = args and args[0] == "--docs-one"
    docs_mode = args and args[0] == "--docs"
    if docs_mode:
        # subprocess-per-op protocol: no shared SparkSession here
        sizes = [int(float(a) * 1e6) for a in (args[1:] or ["1"])]
        results = []
        for n in sizes:
            print(f"# n={n:,}", file=sys.stderr)
            results.append(run_docs(n))
        print(json.dumps(results))
        return
    spark = session("tsf_scale_check", CPUS, **{
        "spark.sql.shuffle.partitions": str(CPUS * 4),
        "spark.driver.memory": "48g",
    })
    if docs_one:
        name, n = args[1], int(args[2])
        print(run_docs_one(spark, name, n))
        spark.stop()
        return
    if args and args[0] == "--csv600":
        n = int(float(args[1]) * 1e6) if len(args) > 1 else 30_000_000
        print(json.dumps(run_csv600(spark, n)))
        spark.stop()
        return
    if args and args[0] == "--prune":
        n = int(float(args[1]) * 1e6) if len(args) > 1 else 30_000_000
        print(json.dumps(run_prune(spark, n)))
        spark.stop()
        return
    if args and args[0] == "--skewjoin":
        n = int(float(args[1]) * 1e6) if len(args) > 1 else 30_000_000
        print(json.dumps(run_skewjoin(spark, n)))
        spark.stop()
        return
    if args and args[0] == "--bucketjoin":
        n = int(float(args[1]) * 1e6) if len(args) > 1 else 30_000_000
        print(json.dumps(run_bucketjoin(spark, n)))
        spark.stop()
        return
    if args and args[0] == "--fuse600":
        n = int(float(args[1]) * 1e6) if len(args) > 1 else 30_000_000
        print(json.dumps(run_fuse600(spark, n)))
        spark.stop()
        return
    only = None
    if args and args[0] == "--only":
        only = set(args[1].split(","))
        args = args[2:]
    sizes = [int(float(a) * 1e6) for a in (args or ["1", "10", "30"])]
    results = []
    for n in sizes:
        print(f"# n={n:,}", file=sys.stderr)
        results.append(run(spark, n, only=only))
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
