"""Testdata-drift defense: the driver regenerates /root/testdata between
rounds (round 2 shipped a new timestamp dtype and broke 12 queries). This
harness re-runs a representative slice of the contract against VARIANT
tables containing null text / null value / empty-string rows — Spark and
DuckDB must agree on the null semantics, not just on the clean corpus.

The contract queries take (spark, sf_dir), so the variants are written as
a complete parquet directory and both engines read the same files."""

import duckdb
import pandas as pd
import pytest

from timeseriesfuser_spark import contract

SRC = "/root/testdata/sf0.001"

# Queries exercising the null-sensitive paths: tokenizers (null/empty
# text), cent quantization + windows (null value), hash dedup (null text),
# LM scoring, per-column profiling.
QUERIES = [
    "text_stats",
    "dedup_exact",
    "doc_fingerprint",
    "bigram_lm",
    "quality_classifier",
    "passage_dedup",
    "length_batches",
    "profile_events",
    "rolling_zscore",
    "rate_of_change",
    "latest_user_state",
    # round-6: null-value SCD2 intervals, null-value CDC merge, null-text
    # tokenizing aggregates, null-label confusion cells
    "scd2_user_history",
    "cdc_merge_upsert",
    "distinctive_terms",
    "lang_confusion",
    "value_equal_depth_bins",  # NULL value ranks: NULLS FIRST on BOTH sides
    # NULL text occupies zero tokens/bytes but keeps its concat position
    "sequence_pack",
    "byte_shards",
    # NULL value propagates as NULL (not NaN) through the recursion
    "ewma_user",
    # NULL text -> NULL clean_text / zero counts; '' vs NULL empty-join quirk
    "decontaminate_spans",
    # round-8: NULL event_type rows must drop symmetrically from grouped
    # sketches and set-op periods; NULL value skips histogram bins; NULL
    # text -> zero-byte shard member with the '' sha
    "cube_revenue",
    "user_set_ops",
    "hll_distinct_by_type",
    "cms_counts_by_type",
    "quantiles_by_type",
    "shard_manifest",
    "lineitem_expectations",
    # round-10: NULL ts/value rows drop from both engines before slot
    # assignment (lttb) and bar aggregation (crosscorr); NULL weight/id
    # rows never sample
    "lttb_downsample_16",
    "crosscorr_click_purchase",
    "weighted_sample",
    "value_drift_bins",
    "cusum_value_shift",
    # round-11: NULL value/event_type rows drop before bar compaction
    # (acf, seasonal error) and before the median rank windows
    "acf_value_1d",
    "robust_outlier_summary",
    "seasonal_error_7d",
    # round-12: NULL-user touches/conversions excluded on both sides;
    # NULL-value purchase keeps its row with NULL cents
    "attribution_last_click",
    "attribution_linear",
    # round-13: token-less docs (NULL/''/whitespace text) route into the
    # empty-doc star dup-class on both engines, never the chunk join
    "dedup_simhash",
    # round-13: NULL value NaN-poisons the Holt recursion tail as NULL on
    # both engines; benford keeps the NULL group, excludes NULL/0 values;
    # NULL-text docs produce zero index postings / NULL token lists
    "holt_user",
    "benford_value_digits",
    "phrase_search",
    # round-15: NULL text = zero doc length in BM25 stats / empty shingle
    # set in the prefix-filter join / all-zero script profile / NULL
    # flesch; NULL event_type is neither anchor, close, nor blocker;
    # NULL ts/value rows drop before bars and slopes
    "bm25_search",
    "dedup_prefix_filter",
    "script_profile_docs",
    "readability_docs",
    "sequence_match_no_error",
    "theil_sen_daily",
    # round-15 wave 2: NULL text -> NULL wrapped html -> NULL clean_text;
    # NULL event_type renders '' inside the journey path
    "html_extract_docs",
    "journey_paths_3",
    # round-15 wave 3: NULL value/type rows drop before the clamp bounds
    "winsorized_value_stats",
    # NULL-text media rows are excluded from hashing on both sides
    "image_ahash_dedup",
    # NULL event_type is neither anchor, close, nor blocker in the
    # stateful pattern matcher
    "streaming_sequence_match",
    # NULL/short text contributes no bigrams and no unigrams
    "collocations_docs",
    # NULL source is its own determinant class; NULL lang a value class
    "fd_source_lang",
    # NULL ts/type rows drop before bar aggregation
    "burst_flags_1h",
    "interarrival_gaps",
    "spearman_click_purchase",
    "funnel_step_lags",
    "realized_vol_daily",
    "streaming_burst_flags",
    "user_activity_span",
    "peak_concurrency_daily",
    # round-16: NULL event_type is no funnel step (neither anchor nor
    # advance) and sessionizes normally in the concurrency counter; NULL
    # value rows drop from the Q88 bands on both sides but still elect
    # last-in-bucket (as NULL) in the day-grid resample
    "streaming_peak_concurrency",
    "streaming_window_funnel",
    "streaming_resample_2d",
    "tpcds_q88_hour_bands",
]

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def variant_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("nullvariant")
    con = duckdb.connect()
    for t in TABLES:
        if t == "documents":
            con.sql(
                f"""
                COPY (
                    SELECT * FROM read_parquet('{SRC}/documents.parquet')
                    UNION ALL BY NAME
                    SELECT 900001 AS doc_id, NULL AS text, 'en' AS lang,
                           'srcX' AS source, 0 AS n_chars
                    UNION ALL BY NAME
                    SELECT 900002 AS doc_id, '' AS text, 'en' AS lang,
                           'srcX' AS source, 0 AS n_chars
                    UNION ALL BY NAME
                    SELECT 900003 AS doc_id, '   ' AS text, NULL AS lang,
                           NULL AS source, 3 AS n_chars
                ) TO '{d}/documents.parquet' (FORMAT PARQUET)
                """
            )
        elif t == "events":
            con.sql(
                f"""
                COPY (
                    SELECT * FROM read_parquet('{SRC}/events.parquet')
                    UNION ALL BY NAME
                    SELECT 900001 AS event_id,
                           TIMESTAMP '2024-01-10 00:00:00' AS ts,
                           77 AS user_id, 'click' AS event_type,
                           NULL AS value, NULL AS props
                    UNION ALL BY NAME
                    SELECT 900002 AS event_id,
                           TIMESTAMP '2024-01-10 00:00:01' AS ts,
                           77 AS user_id, NULL AS event_type,
                           5.0 AS value, '{{}}' AS props
                ) TO '{d}/events.parquet' (FORMAT PARQUET)
                """
            )
        else:
            con.sql(
                f"COPY (SELECT * FROM read_parquet('{SRC}/{t}.parquet')) "
                f"TO '{d}/{t}.parquet' (FORMAT PARQUET)"
            )
    con.close()
    return str(d)


@pytest.fixture(scope="module")
def vddb(variant_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{variant_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", QUERIES)
def test_null_variant_parity(spark, variant_dir, vddb, name):
    from tests.test_entry_oracle import assert_parity

    sdf = contract.QUERIES[name](spark, variant_dir).toPandas()
    ddf = vddb.sql(contract.ORACLES[name]).df()
    assert_parity(sdf, ddf, name)


@pytest.mark.parametrize(
    "interval,tz", [("1s", None), ("2d", None), ("1d", "Europe/Berlin")]
)
def test_resample_null_timestamp_rule_same_on_every_grid(spark, interval, tz):
    """A key whose every timestamp is null: with ``gap_fill=False`` it
    yields one null-labelled row holding its last event, on the epoch and
    the day grids alike; the gap-filled grid skips it."""
    from timeseriesfuser_spark.operators.resample import resample_last_interval

    t0 = 1_700_000_000_000
    df = spark.createDataFrame(
        [(t0 + 500, "a", 1.0, 0), (t0 + 90_000_000, "a", 2.0, 1),
         (None, "z", 3.0, 2), (None, "z", 4.0, 3)],
        "__timestamp long, k string, v double, seq long",
    )
    kw = dict(tz=tz, value_cols=["v"], tiebreak_cols=["seq"])
    raw = resample_last_interval(df, interval, keys=["k"], gap_fill=False, **kw)
    assert [(r["k"], r["v"]) for r in raw.filter("__timestamp IS NULL").collect()] == [
        ("z", 4.0)
    ]
    assert raw.filter("k = 'a' AND __timestamp IS NULL").count() == 0
    filled = resample_last_interval(df, interval, keys=["k"], **kw)
    assert filled.filter("k = 'z' OR __timestamp IS NULL").count() == 0
    assert filled.count() > 0
    only_null = df.filter("k = 'z'").drop("k")
    rows = resample_last_interval(only_null, interval, gap_fill=False, **kw).collect()
    assert [tuple(r) for r in rows] == [(None, 4.0)]
    assert resample_last_interval(only_null, interval, **kw).count() == 0
