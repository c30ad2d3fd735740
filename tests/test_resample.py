"""Interval resample — semantics validated against the reference's
interval-handler behavior (tests/integration/test_batchinterval_fill.py:
57-204 and test_batchinterval_handler.py:100-145):

- events every 5s at 1s interval → boundaries 1..21s, letters at
  1/6/11/16/21, blanks null (or ffilled when the column is in ffill_keys);
- last observation strictly before a boundary wins; an event exactly on a
  boundary belongs to the next interval;
- process_batch_end flushes the final partial interval.
"""

from datetime import datetime, timezone

import pytest

from timeseriesfuser_spark.operators.resample import (
    _SPINE_CHUNK,
    resample_last_interval,
)

T0 = int(datetime(2020, 1, 1, tzinfo=timezone.utc).timestamp() * 1000)


def mk(spark, rows, schema="__timestamp long, Letter string, Nonfill_letter string"):
    return spark.createDataFrame(rows, schema)


def gaps_fixture(spark):
    # ≈ 1second_letters_gaps.parquet: 5 rows, every 5 s, small intra-period
    # offset so events are never exactly on a boundary.
    rows = [
        (T0 + i * 5000 + 137, chr(ord("A") + i), chr(ord("A") + i)) for i in range(5)
    ]
    return mk(spark, rows)


def out_rows(df):
    return [tuple(r) for r in df.orderBy("__timestamp").collect()]


def test_1s_gapfill_no_ffill_keys(spark):
    out = resample_last_interval(gaps_fixture(spark), "1s")
    rows = out_rows(out)
    # boundaries 1..21 inclusive
    assert [r[0] for r in rows] == [T0 + 1000 * i for i in range(1, 22)]
    letters = [r[1] for r in rows]
    expect = []
    for ch in "ABCDE":
        expect.extend([ch, None, None, None, None])
    assert letters == expect[:21]


def test_1s_gapfill_with_ffill_keys(spark):
    out = resample_last_interval(gaps_fixture(spark), "1s", ffill_keys=["Letter"])
    rows = out_rows(out)
    letters = [r[1] for r in rows]
    nonfill = [r[2] for r in rows]
    expect_f, expect_n = [], []
    for ch in "ABCDE":
        expect_f.extend([ch] * 5)
        expect_n.extend([ch, None, None, None, None])
    assert letters == expect_f[:21]
    assert nonfill == expect_n[:21]


def test_event_on_boundary_counts_to_next_interval(spark):
    rows = [(T0, "A", None), (T0 + 500, "B", None)]
    out = resample_last_interval(mk(spark, rows), "1s")
    got = out_rows(out)
    # both events label to T0+1000 (exact-boundary event advances);
    # last one (B) wins the bucket.
    assert got == [(T0 + 1000, "B", None)]


def test_last_wins_within_interval_with_tiebreak(spark):
    rows = [
        (T0 + 100, 1, "A"),
        (T0 + 900, 2, "B"),
        (T0 + 900, 3, "C"),  # same ts: higher seq wins
    ]
    df = spark.createDataFrame(rows, "__timestamp long, __seq long, Letter string")
    out = resample_last_interval(df, "1s")
    assert out_rows(out) == [(T0 + 1000, "C")]


def test_process_batch_end_false_drops_partial(spark):
    rows = [(T0 + 100, "A", None), (T0 + 5100, "B", None)]
    out = resample_last_interval(mk(spark, rows), "1s", process_batch_end=False)
    got = out_rows(out)
    # B's partial interval (label T0+6000) is dropped; boundaries 1..5 s.
    assert [r[0] for r in got] == [T0 + 1000 * i for i in range(1, 6)]
    assert [r[1] for r in got] == ["A", None, None, None, None]


def test_final_event_exactly_on_boundary_flushes_at_next(spark):
    rows = [(T0 + 100, "A", None), (T0 + 2000, "B", None)]
    out = resample_last_interval(mk(spark, rows), "1s")
    got = out_rows(out)
    # B sits exactly on T0+2000 → belongs to interval T0+3000; finalize
    # ALWAYS flushes the final partial interval (the reference's guard at
    # classes.py:634 can never fire). Boundary T0+2000 itself is blank —
    # B is not strictly before it.
    assert got == [
        (T0 + 1000, "A", None),
        (T0 + 2000, None, None),
        (T0 + 3000, "B", None),
    ]


def test_keyed_resample_independent_spines(spark):
    rows = [
        (T0 + 100, "x", 1.0),
        (T0 + 3100, "x", 2.0),
        (T0 + 100, "y", 10.0),
    ]
    df = spark.createDataFrame(rows, "__timestamp long, k string, v double")
    out = resample_last_interval(df, "1s", keys=["k"], ffill_keys=["v"])
    xs = [tuple(r) for r in out.filter("k = 'x'").orderBy("__timestamp").collect()]
    ys = [tuple(r) for r in out.filter("k = 'y'").orderBy("__timestamp").collect()]
    assert [r[0] for r in xs] == [T0 + 1000 * i for i in range(1, 5)]
    assert [r[2] for r in xs] == [1.0, 1.0, 1.0, 2.0]
    assert ys == [(T0 + 1000, "y", 10.0)]


def test_no_gap_fill(spark):
    out = resample_last_interval(gaps_fixture(spark), "1s", gap_fill=False)
    rows = out_rows(out)
    assert [r[1] for r in rows] == list("ABCDE")
    assert [r[0] for r in rows] == [T0 + 1000 + 5000 * i for i in range(5)]


def _jobs(spark, build):
    """Spark jobs started while ``build()`` constructs its DataFrame."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    build()
    return len(set(tracker.getJobIdsForGroup(None) or []) - before)


def _events(spark):
    rows = [(T0 + i * 7_300 + 137, "xyz"[i % 3], float(i)) for i in range(60)]
    return spark.createDataFrame(rows, "__timestamp long, k string, v double")


@pytest.mark.parametrize("keys", [[], ["k"]])
def test_gap_fill_plan_has_no_shuffled_join(spark, keys):
    # Read before any action, so AQE has not yet turned a small shuffled
    # join into a broadcast one: any join of the buckets would show here.
    out = resample_last_interval(
        _events(spark), "1s", keys=keys, ffill_keys=["v"]
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    spark.catalog.clearCache()


def _span_events(spark):
    # Built from a range, not a local list: the plan's only RDD scan would
    # then be a checkpoint. 60 events 2 h apart span five days.
    return spark.range(60).selectExpr(
        f"{T0} + id * 7300000 + 137 AS __timestamp",
        "substr('xyz', cast(id % 3 AS int) + 1, 1) AS k",
        "cast(id AS double) AS v",
    )


@pytest.mark.parametrize("gap_fill", [True, False])
@pytest.mark.parametrize("keys", [[], ["k"]])
@pytest.mark.parametrize(
    "interval,tz", [("1s", None), ("2d", None), ("1d", "Europe/Berlin")]
)
def test_gap_fill_builds_with_no_job(spark, interval, tz, keys, gap_fill):
    spark.catalog.clearCache()  # a cached twin would show in the plan
    df = _span_events(spark)
    built = []
    assert _jobs(
        spark,
        lambda: built.append(resample_last_interval(
            df, interval, tz=tz, keys=keys, gap_fill=gap_fill,
            ffill_keys=["v"] if gap_fill else [],
        )),
    ) == 0
    plan = built[0]._jdf.queryExecution().executedPlan().toString()
    day = interval.endswith("d")
    # Only the ungrouped epoch gap fill reads its buckets more than once.
    assert ("InMemoryTableScan" in plan) == (gap_fill and not keys and not day)
    if day:
        assert "Broadcast" not in plan
        assert "ExistingRDD" not in plan  # no localCheckpoint scan
    spark.catalog.clearCache()


def test_long_gap_spans_chunks_with_carry(spark):
    n = 20_000
    assert n > 2 * _SPINE_CHUNK
    rows = [(T0 + 100, "A", "A"), (T0 + n * 1000 + 100, "B", "B")]
    out = resample_last_interval(mk(spark, rows), "1s", ffill_keys=["Letter"])
    got = out_rows(out)
    assert len(got) == n + 1
    assert [r[0] for r in got] == [T0 + 1000 * i for i in range(1, n + 2)]
    assert got[0] == (T0 + 1000, "A", "A")
    assert got[-2] == (T0 + n * 1000, "A", None)
    assert got[-1] == (T0 + (n + 1) * 1000, "B", "B")
    assert all(r[1] == "A" and r[2] is None for r in got[1:-1])
    spark.catalog.clearCache()
