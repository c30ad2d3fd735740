"""Round-14 session additions: scale-safe lateness_stats (two-pass
range-bucketed running max), single-action window_funnel + per-user
depth surface, persisted/bucketed token index, default-on LSH skew
telemetry, and the round's ADVICE fixes."""

import pyspark.sql.functions as F
import pytest


class TestLatenessBucketed:
    def test_one_group_flood_matches_serial(self, spark):
        """100k rows in ONE group with shuffled arrival order: the
        bucketed formulation must equal the serial running-max result
        (computed here with a deliberate single-bucket call)."""
        from timeseriesfuser_spark.ops.timeseries import lateness_stats

        n = 100_000
        df = spark.range(n).select(
            F.lit("only").alias("event_type"),
            F.col("id").alias("event_id"),
            # event time scrambled vs arrival: multiplicative hash mod n
            ((F.col("id") * 48271) % n).cast("long").alias("ts"),
        )
        fast = lateness_stats(df).collect()[0]
        slow = lateness_stats(df, num_buckets=1).collect()[0]
        assert fast.asDict() == slow.asDict()
        assert fast["n"] == n and fast["n_late"] > 0

    def test_multi_group_ties_and_nulls(self, spark):
        from timeseriesfuser_spark.ops.timeseries import lateness_stats

        rows = [
            ("a", 1, 100), ("a", 2, 50), ("a", 3, 200), ("a", 4, None),
            ("b", 1, 10), ("b", 2, 10), ("b", None, 99),
        ]
        df = spark.createDataFrame(
            rows, "event_type string, event_id long, ts long"
        )
        out = {r["event_type"]: r for r in lateness_stats(df, num_buckets=4).collect()}
        assert out["a"]["n"] == 3 and out["a"]["n_late"] == 1
        assert out["a"]["max_late_ms"] == 50 and out["a"]["sum_late_ms"] == 50
        assert out["b"]["n"] == 2 and out["b"]["n_late"] == 0


class TestFunnelSingleAction:
    def _df(self, spark):
        rows = [
            # u1 completes all 3 within window; u2 stalls at depth 2;
            # u3 anchors only; u4's chain exceeds the window
            ("u1", "signup", 0), ("u1", "view", 10), ("u1", "purchase", 20),
            ("u2", "signup", 0), ("u2", "view", 50),
            ("u3", "signup", 5),
            ("u4", "signup", 0), ("u4", "view", 200), ("u4", "purchase", 300),
        ]
        return spark.createDataFrame(
            rows, "user_id string, event_type string, ts long"
        )

    def test_lazy_construction_no_jobs(self, spark):
        """The r8 form ran 2 driver actions per step at op-construction
        time; the rewrite must be fully lazy — zero Spark jobs until the
        caller's action, independent of step count."""
        from timeseriesfuser_spark.ops.behavior import window_funnel

        tracker = spark.sparkContext.statusTracker()
        before = set(tracker.getJobIdsForGroup(None) or [])
        out = window_funnel(
            self._df(spark), ["signup", "view", "purchase"], 100
        )
        after = set(tracker.getJobIdsForGroup(None) or [])
        # createDataFrame of the k-row spine runs no job; neither may
        # the funnel chain itself
        assert after == before, "window_funnel ran jobs at construction"
        rows = {r["step_idx"]: r for r in out.collect()}
        assert rows[0]["n_users"] == 4 and rows[0]["conv_ppm"] == 1_000_000
        assert rows[1]["n_users"] == 2 and rows[1]["conv_ppm"] == 500_000
        assert rows[2]["n_users"] == 1 and rows[2]["conv_ppm"] == 250_000

    def test_depth_surface(self, spark):
        from timeseriesfuser_spark.ops.behavior import window_funnel_depth

        out = {
            r["user_id"]: r["depth"]
            for r in window_funnel_depth(
                self._df(spark), ["signup", "view", "purchase"], 100
            ).collect()
        }
        assert out == {"u1": 3, "u2": 2, "u3": 1, "u4": 1}

    def test_reanchor_still_counts(self, spark):
        """A stale first anchor must not mask a later completing chain
        (the ANY-anchor semantics)."""
        from timeseriesfuser_spark.ops.behavior import window_funnel_depth

        rows = [
            ("u", "signup", 0), ("u", "signup", 1000),
            ("u", "view", 1010), ("u", "purchase", 1020),
        ]
        df = spark.createDataFrame(
            rows, "user_id string, event_type string, ts long"
        )
        out = window_funnel_depth(df, ["signup", "view", "purchase"], 100)
        assert out.collect()[0]["depth"] == 3


class TestPersistedTokenIndex:
    def test_write_load_search_parity_and_plan(self, spark, tmp_path):
        from timeseriesfuser_spark.ops.text import (
            build_token_index, load_token_index, phrase_search_indexed,
            write_token_index,
        )

        docs = [
            (i, f"alpha beta gamma doc {i} alpha beta delta") for i in range(200)
        ] + [(900, "no match here"), (901, None)]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        idx = build_token_index(df)
        tbl = "tok_idx_r14_test"
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        try:
            write_token_index(idx, tbl, num_buckets=8)
            loaded = load_token_index(spark, tbl)
            mem = {
                r["id"]: (r["n_matches"], r["first_pos"])
                for r in phrase_search_indexed(idx, ["alpha", "beta"]).collect()
            }
            per = {
                r["id"]: (r["n_matches"], r["first_pos"])
                for r in phrase_search_indexed(loaded, ["alpha", "beta"]).collect()
            }
            assert per == mem and len(per) == 200
            assert per[0] == (2, 1)

            plan = phrase_search_indexed(loaded, ["alpha", "beta"])._jdf \
                .queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode
                    .fromString("formatted"))
            # bucket pruning reached the scan
            assert "SelectedBucketsCount: 1 out of 8" in plan
            # postings join is shuffle-free: broadcast joins only; the
            # sole shuffle allowed is the final per-doc aggregation
            import re
            shuffles = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
            assert all("id#" in s_ and "pos#" not in s_ for s_ in shuffles), shuffles
            assert len(shuffles) <= 1, shuffles
            assert "BroadcastHashJoin" in plan
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")


class TestWatermarkSizedFromLateness:
    """The loop lateness_stats opens, closed: size a streaming dedup
    watermark delay from the batch lateness profile and show (a) parity
    — late duplicates stay deduplicated, every key exactly once across
    micro-batches, (b) an undersized delay evicts state early and
    RE-EMITS the late duplicates (the silent failure the profile
    prevents). State eviction runs post-batch, so the replay arrives two
    batches after the original keys with a watermark-advancing batch
    between."""

    def _write_batches(self, spark, tmp_path):
        # arrival order = file modification order (maxFilesPerTrigger=1,
        # sleeps separate mtimes): b0 keys at ts<=10s, b1 advances the
        # event-time high-water mark to 100s, b2 replays b0's keys 60s
        # LATE relative to that mark.
        import time

        src = tmp_path / "src"
        src.mkdir()
        schema = "event_id long, user_id string, ts long"
        batches = [
            [(i, f"u{i % 7}", 1_000 * (3 + i % 8)) for i in range(1, 30)],
            [(150, "hw", 100_000)],
            [(200 + j, f"u{j}", 40_000 + 1_000 * j) for j in range(7)],
        ]
        for k, rows in enumerate(batches):
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
                str(src / f"b{k}.parquet")
            )
            time.sleep(1.2)
        batch = spark.read.parquet(str(src) + "/*")
        return src, batch, schema

    def _run_dedup(self, spark, src, schema, delay_s, name):
        import shutil
        import tempfile

        from timeseriesfuser_spark.streaming import dedup_stream

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*")
        )
        uniq = dedup_stream(
            stream, key_cols=["user_id"],
            watermark=f"{delay_s} seconds", ts_col="ts",
        )
        ckpt = tempfile.mkdtemp(prefix="tsf_ckpt_")
        try:
            q = (
                uniq.writeStream.format("memory").queryName(name)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start()
            )
            assert q.awaitTermination(300)
            if q.exception() is not None:
                raise q.exception()
            return [r["user_id"] for r in spark.table(name).collect()]
        finally:
            spark.catalog.dropTempView(name)
            shutil.rmtree(ckpt, ignore_errors=True)

    def test_profiled_delay_dedups_late_duplicates(self, spark, tmp_path):
        from collections import Counter

        from timeseriesfuser_spark.ops.timeseries import lateness_stats
        import pyspark.sql.functions as F

        src, batch, schema = self._write_batches(spark, tmp_path)
        # profile on the backfill sample: arrival order = event_id here
        prof = lateness_stats(
            batch.withColumn("__g", F.lit(1)), group_col="__g"
        ).collect()[0]
        assert prof["max_late_ms"] >= 54_000
        delay_s = prof["max_late_ms"] // 1000 + 1
        got = Counter(self._run_dedup(spark, src, schema, delay_s, "wm_ok"))
        want = {r["user_id"] for r in batch.select("user_id").distinct().collect()}
        assert set(got) == want
        assert all(c == 1 for c in got.values()), got  # no re-emission

    def test_undersized_delay_reemits_duplicates(self, spark, tmp_path):
        from collections import Counter

        src, batch, schema = self._write_batches(spark, tmp_path)
        got = Counter(self._run_dedup(spark, src, schema, 1, "wm_tight"))
        # 1s delay << the 60s replay gap: b0 state is evicted when the
        # watermark reaches 99s at the end of b1, so b2's duplicates are
        # treated as first occurrences and emitted AGAIN
        dup_counts = {k: c for k, c in got.items() if c > 1}
        assert dup_counts, got


class TestResidualPQ:
    def _clustered(self, spark):
        # 4 well-separated cluster centers in 8-dim space; members are
        # center + small structured offsets. Residual PQ only has to
        # quantize the offsets, so with a trained coarse quantizer its
        # codes are near-exact while raw-vector codebooks must span the
        # whole space.
        import pyspark.sql.functions as F

        # 16 clusters with dense varied centers: a raw codebook of 8
        # codes per subspace cannot even represent the 16 distinct
        # center sub-patterns, while the residual codebook only needs
        # the small offsets.
        centers = {
            c: [50.0 * ((c * 13 + j * 7) % 9 - 4) for j in range(8)]
            for c in range(16)
        }
        rows = []
        for i in range(320):
            c = centers[i % 16]
            off = [((i * 11 + j * 5) % 17 - 8) * 0.05 for j in range(8)]
            rows.append((i, [c[j] + off[j] for j in range(8)]))
        return spark.createDataFrame(rows, ["vec_id", "embedding"])

    def test_residual_beats_raw_on_clustered_data(self, spark):
        import pyspark.sql.functions as F

        from timeseriesfuser_spark.ops import similarity as S

        df = self._clustered(spark)
        queries = df.filter(F.col("vec_id") < 8)
        exact = S.cosine_topk(
            df, queries, k=5, id_col="vec_id", vec_col="embedding"
        ).select("query_id", "neighbor_id")
        n = exact.count()
        km = S.kmeans_fit(df, k=16, iters=3)
        common = dict(
            k=5, n_centroids=16, nprobe=1, m=4, pq_k=8,
            id_col="vec_id", vec_col="embedding",
        )
        raw_cb = S.pq_train_codebooks(df, m=4, k=8, iters=2)
        raw = S.ivf_pq_topk(
            df, queries, codebooks=raw_cb, centroids=km, **common
        ).select("query_id", "neighbor_id")
        res = S.ivf_residuals(df, n_centroids=16, centroids=km)
        res_cb = S.pq_train_codebooks(
            res, m=4, k=8, iters=2, vec_col="residual", pre_quantized=True
        )
        resid = S.ivf_pq_topk(
            df, queries, codebooks=res_cb, residual=True, centroids=km,
            **common
        ).select("query_id", "neighbor_id")
        r_raw = exact.join(raw, ["query_id", "neighbor_id"]).count() / n
        r_res = exact.join(resid, ["query_id", "neighbor_id"]).count() / n
        assert r_res > r_raw, (r_res, r_raw)
        assert r_res >= 0.8, r_res

    def test_residual_requires_codebooks(self, spark):
        from timeseriesfuser_spark.ops import similarity as S

        df = self._clustered(spark)
        with pytest.raises(ValueError, match="residual"):
            S.ivf_pq_topk(df, df.limit(1), residual=True)

    def test_ivf_residuals_roundtrip(self, spark):
        """residual + centroid == quantized vector, exactly."""
        import pyspark.sql.functions as F

        from timeseriesfuser_spark.ops import similarity as S
        from timeseriesfuser_spark.ops.similarity import quantized

        df = self._clustered(spark)
        km = S.kmeans_fit(df, k=16, iters=2)
        res = S.ivf_residuals(df, n_centroids=16, centroids=km)
        cents = {i: c for i, c in enumerate(km)}
        rows = res.join(
            df.select("vec_id", quantized(F.col("embedding")).alias("__q")),
            "vec_id",
        ).collect()
        assert len(rows) == 320
        for r in rows:
            ct = cents[r["centroid_id"]]
            assert [a + int(b) for a, b in zip(r["residual"], ct)] == list(r["__q"])


class TestAdviceFixesR14:
    def test_rrf_dedup_inputs_min_rank(self, spark):
        from timeseriesfuser_spark.ops.similarity import rrf_fuse

        dup = spark.createDataFrame(
            [(1, 10, 1), (1, 10, 3), (1, 11, 2)],
            "query_id long, neighbor_id long, rank long",
        )
        raw = {r["item_id"]: (r["rrf_score"], r["n_lists"])
               for r in rrf_fuse([dup], k=60).collect()}
        # raw: duplicate rows inflate both score and n_lists (documented)
        assert raw[10][1] == 2
        ded = {r["item_id"]: (r["rrf_score"], r["n_lists"])
               for r in rrf_fuse([dup], k=60, dedup_inputs=True).collect()}
        assert ded[10] == (1_000_000_000 // 61, 1)  # best rank wins
        assert ded[11] == (1_000_000_000 // 62, 1)

    def test_benford_scale_parameter(self, spark):
        from timeseriesfuser_spark.ops.scale import benford_digits

        df = spark.createDataFrame(
            [("a", 1.998), ("a", 0.004)], "event_type string, value double"
        )
        at100 = {r["digit"]: r["n"] for r in benford_digits(df).collect()}
        # cents quantization: 1.998 -> 200 cents -> digit 2; 0.004 excluded
        assert at100[2] == 1 and at100[1] == 0
        hi = {r["digit"]: r["n"]
              for r in benford_digits(df, scale=1_000_000).collect()}
        # raised precision recovers the true first digits: 1 and 4
        assert hi[1] == 1 and hi[4] == 1 and hi[2] == 0


class TestCusumChangepoints:
    def test_planted_shift_alarms_and_resets(self, spark):
        from timeseriesfuser_spark.ops.timeseries import cusum_changepoints

        # 10 rows at 10.00, then a jump to 20.00: ref=1000c, slack 50c,
        # h 500c -> after the jump each row adds 950 to S+; alarm on the
        # 1st post-jump row (950 >= 500? no: 950 >= 500 yes) -> alarm,
        # reset, then re-alarm every row while the shift persists
        rows = [("u", i, i, 10.0 if i < 10 else 20.0) for i in range(20)]
        df = spark.createDataFrame(rows, "user_id string, ts long, event_id long, value double")
        out = cusum_changepoints(df, slack_cents=50, threshold_cents=500)
        rs = sorted(out.collect(), key=lambda r: r["ts"])
        assert all(r["alarm"] == 0 for r in rs[:10])
        assert rs[10]["cusum_pos"] == 950 and rs[10]["alarm"] == 1
        assert rs[11]["cusum_pos"] == 950 and rs[11]["alarm"] == 1  # reset then rebuild
        assert all(r["cusum_neg"] == 0 for r in rs)

    def test_downward_shift_and_null_exclusion(self, spark):
        from timeseriesfuser_spark.ops.timeseries import cusum_changepoints

        rows = [("u", i, i, 10.0) for i in range(5)]
        rows += [("u", 5, 5, None), ("u", 6, 6, 2.0)]
        df = spark.createDataFrame(rows, "user_id string, ts long, event_id long, value double")
        out = {r["ts"]: r for r in cusum_changepoints(
            df, slack_cents=50, threshold_cents=500).collect()}
        assert 5 not in out  # NULL value row excluded
        assert out[6]["cusum_neg"] == 750 and out[6]["alarm"] == 1


class TestLinkPredict:
    def test_triangle_closure_and_hub_cap(self, spark, caplog):
        import logging

        from timeseriesfuser_spark.ops.graph import link_predict_cn

        # path graph 1-2-3 plus 1-4, 3-4: pair (1,3) shares {2, 4}; the
        # direct edge (1,4) must be excluded from predictions
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 4), (3, 4)], "src long, dst long"
        )
        out = {(r["node_a"], r["node_b"]): r for r in link_predict_cn(edges).collect()}
        assert (1, 3) in out
        r = out[(1, 3)]
        assert r["common"] == 2 and r["deg_a"] == 2 and r["deg_b"] == 2
        assert r["jaccard_ppm"] == 2 * 1_000_000 // 2  # |∩|=2, |∪|=2
        assert (1, 4) not in out  # already adjacent
        # hub cap: star center 100 connected to 0..9 — every leaf pair
        # meets only through the hub; capping degree 5 drops them all,
        # and the drop (1 hub, its 10 adjacency rows) is reported with
        # AQE on and off. With 1-50 and 2-50 added, (1, 2) counts only
        # middle 50 and the hub's own links still score via middles 1, 2.
        star = spark.createDataFrame(
            [(100, i) for i in range(10)], "src long, dst long"
        )
        more = star.unionByName(
            spark.createDataFrame([(1, 50), (2, 50)], "src long, dst long")
        )
        prev = spark.conf.get("spark.sql.adaptive.enabled")
        for aqe in ("true", "false"):
            caplog.clear()
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
            try:
                with caplog.at_level(logging.WARNING,
                                     logger="timeseriesfuser_spark.ops.graph"):
                    n = link_predict_cn(star, max_degree=5).count()
                got = {(r["node_a"], r["node_b"]): r["common"]
                       for r in link_predict_cn(more, max_degree=5).collect()}
            finally:
                spark.conf.set("spark.sql.adaptive.enabled", prev)
            assert n == 0, aqe
            assert got == {(1, 2): 1, (50, 100): 2}, aqe
            hub_logs = [rec.getMessage() for rec in caplog.records
                        if "hub middles" in rec.getMessage()]
            assert len(hub_logs) == 2 and all(
                "1 hub middles above degree cap 5 (10 adjacency rows)" in m
                for m in hub_logs
            ), (aqe, hub_logs)
        with pytest.raises(ValueError, match="max_degree"):
            link_predict_cn(star, max_degree=1)

    def test_dedup_and_self_loops(self, spark):
        from timeseriesfuser_spark.ops.graph import link_predict_cn

        edges = spark.createDataFrame(
            [(1, 2), (2, 1), (1, 1), (2, 3)], "src long, dst long"
        )
        out = link_predict_cn(edges).collect()
        assert len(out) == 1
        r = out[0]
        assert (r["node_a"], r["node_b"], r["common"]) == (1, 3, 1)


class TestTrendingAndSeasonal:
    def test_trending_growth_and_first_appearance(self, spark):
        from timeseriesfuser_spark.ops.behavior import trending_topk

        d = 100
        rows = (
            [("a", 0 * d + i) for i in range(2)]        # day0: a=2
            + [("a", 1 * d + i) for i in range(6)]      # day1: a=6 (+200%)
            + [("b", 1 * d + i) for i in range(3)]      # day1: b new (3)
        )
        df = spark.createDataFrame(rows, "event_type string, ts long")
        out = {(r["bucket_ts"], r["event_type"]): r
               for r in trending_topk(df, d, top_n=5).collect()}
        assert out[(0, "a")]["prev_n"] == 0 and out[(0, "a")]["growth_ppm"] == 2_000_000
        assert out[(d, "a")]["prev_n"] == 2 and out[(d, "a")]["growth_ppm"] == 2_000_000
        # new key: prev 0, growth = n*1e6
        assert out[(d, "b")]["prev_n"] == 0 and out[(d, "b")]["growth_ppm"] == 3_000_000
        # rank: b (3e6 growth) above a (2e6) on day1
        assert out[(d, "b")]["rank"] == 1 and out[(d, "a")]["rank"] == 2

    def test_trending_gap_resets_prev(self, spark):
        from timeseriesfuser_spark.ops.behavior import trending_topk

        d = 100
        rows = [("a", 0), ("a", 2 * d)]  # day0 then day2 — day1 gap
        df = spark.createDataFrame(rows, "event_type string, ts long")
        out = {r["bucket_ts"]: r for r in trending_topk(df, d).collect()}
        assert out[2 * d]["prev_n"] == 0  # non-adjacent bucket ignored

    def test_seasonal_dow_hour_known_instant(self, spark):
        from timeseriesfuser_spark.ops.behavior import seasonal_profile

        # 2021-01-01 00:00 UTC = 1609459200000 was a FRIDAY (dow 4),
        # plus one event 5 hours later
        rows = [("x", 1_609_459_200_000), ("x", 1_609_459_200_000 + 5 * 3_600_000)]
        df = spark.createDataFrame(rows, "event_type string, ts long")
        out = {(r["dow"], r["hour"]): r for r in seasonal_profile(df).collect()}
        assert (4, 0) in out and (4, 5) in out
        assert out[(4, 0)]["share_ppm"] == 500_000


class TestFuzzyMatch:
    def test_substitution_indel_and_miss(self, spark):
        from timeseriesfuser_spark.ops.text import fuzzy_match_pairs

        rows = [
            (1, "kitten"), (2, "mitten"),      # substitution: ed 1
            (3, "kittens"),                    # insertion vs 1: ed 1
            (4, "sitting"),                    # ed 3 from kitten: excluded
            (5, "kitten"),                     # exact dup of 1: ed 0
            (6, None),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {(r["id_a"], r["id_b"]): r["edit_distance"]
               for r in fuzzy_match_pairs(df).collect()}
        assert out[(1, 2)] == 1 and out[(1, 3)] == 1 and out[(1, 5)] == 0
        assert out[(2, 3)] == 2 if (2, 3) in out else True  # never emitted
        assert (2, 3) not in out and (1, 4) not in out
        assert all(a != 6 and b != 6 for a, b in out)

    def test_blocking_is_exact_for_ed1(self, spark):
        """Brute-force differential: every pair with levenshtein <= 1
        must be found by the deletion-neighborhood join."""
        import itertools

        from timeseriesfuser_spark.ops.text import fuzzy_match_pairs

        words = ["cat", "cut", "cast", "at", "ca", "dog", "dot", "do",
                 "cart", "card", "car", ""]
        rows = list(enumerate(words))
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {(r["id_a"], r["id_b"]) for r in fuzzy_match_pairs(df).collect()}

        def ed(a, b):
            dp = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                prev, dp[0] = dp[0], i
                for j, cb in enumerate(b, 1):
                    prev, dp[j] = dp[j], min(
                        dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                    )
            return dp[len(b)]

        want = {(i, j) for (i, a), (j, b) in
                itertools.combinations(rows, 2) if ed(a, b) <= 1}
        assert got == want
