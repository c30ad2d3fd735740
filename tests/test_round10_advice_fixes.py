"""Round-10 ADVICE fixes (driver round 7):

1. resample_last_interval leaves NO registered cache entry on the keyed
   and day-grid paths, and exactly one on the ungrouped epoch path, which
   an enclosing ``cache_scope()`` releases.
2. streaming_ohlc_1h tears down its memory-sink table and streaming query
   (awaitTermination timeout raised, q.stop + dropTempView in finally).
3. tools.make_scaled_sf fails loudly when a source key reaches the
   per-copy offset (silent FK collisions otherwise).
"""

import os
import sys

import pytest

from timeseriesfuser_spark.operators.resample import resample_last_interval
from timeseriesfuser_spark.ops.util import cache_scope

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


def _mk_events(spark):
    rows = [(1000 * i + 137, float(i), chr(ord("A") + i // 5)) for i in range(0, 50, 5)]
    return spark.createDataFrame(rows, "__timestamp long, v double, tag string")


def test_resample_keyed_registers_no_cache_entry(spark):
    spark.catalog.clearCache()
    cm = _cache_manager(spark)
    assert cm.isEmpty()
    df = _mk_events(spark)
    out = resample_last_interval(df, "1s", keys=["tag"], ffill_keys=["v"])
    assert out.count() > 0
    assert cm.isEmpty(), "the keyed gap fill reads its buckets once"


def test_resample_ungrouped_registers_one_entry_released_by_scope(spark):
    spark.catalog.clearCache()
    cm = _cache_manager(spark)
    df = _mk_events(spark)
    with cache_scope() as scope:
        out = resample_last_interval(df, "1s", ffill_keys=["v", "tag"])
        scoped_rows = sorted(map(tuple, out.collect()))
        assert len(scope._dfs) == 1
        assert not cm.isEmpty()
    assert cm.isEmpty()
    # after the scope the plan recomputes the buckets: same rows
    assert sorted(map(tuple, out.collect())) == scoped_rows


@pytest.mark.parametrize("keys", [[], ["tag"]])
def test_resample_day_grids_register_no_cache_entry(spark, keys):
    spark.catalog.clearCache()
    cm = _cache_manager(spark)
    rows = [(86_400_000 * 3 * i + 137, float(i), "AB"[i % 2]) for i in range(10)]
    df = spark.createDataFrame(rows, "__timestamp long, v double, tag string")
    for interval, tz in [("2d", None), ("1d", "Europe/Berlin")]:
        out = resample_last_interval(df, interval, tz=tz, keys=keys, ffill_keys=["v"])
        assert out.count() > 0
        assert cm.isEmpty()


def test_streaming_ohlc_cleans_up_query_and_sink(spark):
    from timeseriesfuser_spark.contract import QUERIES

    before_tables = {t.name for t in spark.catalog.listTables()}
    out = QUERIES["streaming_ohlc_1h"](spark, SF_DIR)
    rows = out.collect()
    assert len(rows) > 0
    assert spark.streams.active == [], "streaming query must be stopped"
    after_tables = {t.name for t in spark.catalog.listTables()}
    leaked = {t for t in after_tables - before_tables if t.startswith("so_")}
    assert not leaked, f"memory-sink table leaked: {leaked}"


def test_make_scaled_sf_offset_guard(spark):
    from make_scaled_sf import OFF, assert_keys_below_offset

    ok = spark.createDataFrame([(1, 2), (OFF - 1, 3)], "a long, b long")
    assert_keys_below_offset(ok, ["a", "b"], "ok")  # no raise

    bad = spark.createDataFrame([(1, 2), (OFF, 3)], "a long, b long")
    with pytest.raises(ValueError, match="bad.a"):
        assert_keys_below_offset(bad, ["a", "b"], "bad")

    nulls = spark.createDataFrame([(None, 5)], "a long, b long")
    assert_keys_below_offset(nulls, ["a", "b"], "nulls")  # NULL max tolerated


def test_weighted_sample_semantics(spark):
    from timeseriesfuser_spark.ops.sampling import weighted_sample

    rows = [(1, 0.0), (2, 1.0), (3, 5.0), (4, None), (None, 1.0), (5, 0.5)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    out = weighted_sample(df, "w", "doc_id", keep_only=False).collect()
    by_id = {r["doc_id"]: r for r in out}
    # NULL weight / NULL id rows dropped entirely
    assert set(by_id) == {1, 2, 3, 5}
    assert by_id[1]["rate_ppm"] == 0 and not by_id[1]["keep"]   # w=0 never
    assert by_id[2]["rate_ppm"] == 1_000_000 and by_id[2]["keep"]  # w=1 always
    assert by_id[3]["rate_ppm"] == 1_000_000                    # clamped
    assert by_id[5]["rate_ppm"] == 500_000
    assert by_id[5]["keep"] == (by_id[5]["hash_ppm"] < 500_000)


def test_weighted_sample_nested_in_weight(spark):
    """Raising every weight can only ADD rows (nested samples — retuning
    quality thresholds never churns the kept set)."""
    from timeseriesfuser_spark.ops.sampling import weighted_sample

    df = spark.createDataFrame(
        [(i, 0.3) for i in range(200)], "doc_id long, w double"
    )
    lo = {r["doc_id"] for r in weighted_sample(df, "w", "doc_id").collect()}
    hi_df = df.withColumn("w", df.w + 0.4)
    hi = {r["doc_id"] for r in weighted_sample(hi_df, "w", "doc_id").collect()}
    assert lo <= hi
    assert len(hi) > len(lo)


def test_weighted_sample_base_rate_validation(spark):
    import pytest as _pytest

    from timeseriesfuser_spark.ops.sampling import weighted_sample

    df = spark.createDataFrame([(1, 1.0)], "doc_id long, w double")
    with _pytest.raises(ValueError, match="base_rate"):
        weighted_sample(df, "w", "doc_id", base_rate=-0.1)
