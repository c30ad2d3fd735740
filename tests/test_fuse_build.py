"""The fuser resolves its window and source frames once, and forward-fills
a small file-backed stream in one window (no quantile sketch); larger or
DataFrame-backed streams keep the range-bucketed scan. An ungrouped
resample of the filled stream fills at interval grain; any other consumer
reads the event-level fill."""

import glob
import gzip
import os
import warnings

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.test_resample import _jobs
from timeseriesfuser_spark import SourceConfig, TimeSeriesFuser
from timeseriesfuser_spark.operators import fuse
from timeseriesfuser_spark.operators.fill import forward_fill
from timeseriesfuser_spark.operators.resample import resample_last_interval
from timeseriesfuser_spark.ops import util as ops_util
from timeseriesfuser_spark.sources.readers import INTERNAL_COLS, TS_COL

T0 = 1_700_000_000_000


@pytest.fixture
def sketch_calls(spark, monkeypatch):
    """Counts the range-bucketed scan's quantile sketch calls."""
    seen = {"calls": 0}
    cls = type(spark.range(1).stat)
    real = cls.approxQuantile

    def spy(self, *a, **kw):
        seen["calls"] += 1
        return real(self, *a, **kw)

    monkeypatch.setattr(cls, "approxQuantile", spy)
    return seen


def _write_csv_gz(path, frame):
    with gzip.open(path, "wt") as f:
        frame.to_csv(f, index=False)


@pytest.fixture
def two_sources(tmp_path):
    """CSV.gz trades (two files) and a parquet spread, both carrying
    ``Syn_id``, with interleaved timestamps and gaps to fill."""
    trades, spread = tmp_path / "trades", tmp_path / "spread"
    trades.mkdir()
    spread.mkdir()
    for part in range(2):
        ts = [T0 + part * 100_000 + 1_000 * i for i in range(50)]
        _write_csv_gz(trades / f"trades-{part}.csv.gz", pd.DataFrame({
            "Timestamp": ts,
            "Price": [None if i % 4 == 0 else 100.0 + i for i in range(50)],
            "Syn_id": [part * 50 + i for i in range(50)],
        }))
    ts = [T0 + 500 + 2_000 * i for i in range(100)]
    pd.DataFrame({
        "Timestamp": ts,
        "bid": [None if i % 3 == 0 else 10.0 + i for i in range(100)],
        "Syn_id": [1_000 + i for i in range(100)],
    }).to_parquet(spread / "spread-0.parquet")
    return [
        SourceConfig(name="trades", path=str(trades), fmt="csv",
                     schema=[int, float, int]),
        SourceConfig(name="spread", path=str(spread), fmt="parquet"),
    ]


def _sorted_rows(df, order):
    return [tuple(r) for r in df.select(sorted(df.columns)).orderBy(*order).collect()]


def test_each_source_probed_and_built_once(spark, two_sources, monkeypatch):
    calls = {"probe": 0, "build": 0}

    def count(name, fn):
        def inner(*a, **kw):
            calls[name] += 1
            return fn(*a, **kw)
        return inner

    monkeypatch.setattr(fuse, "probe_source_window", count("probe", fuse.probe_source_window))
    monkeypatch.setattr(fuse, "build_source_df", count("build", fuse.build_source_df))
    fuser = TimeSeriesFuser(two_sources, forward_fill=True)
    keys = fuser.remap_keys(spark, ["Syn_id", "Price"])
    out = fuser.fused(spark)
    fuser.fused(spark)
    assert calls == {"probe": 2, "build": 2}
    assert keys == ["Syn_id||trades", "Syn_id||spread", "Price"]
    assert set(keys) <= set(out.columns)


@pytest.mark.parametrize("forward_fill", [False, True])
def test_build_starts_no_job(spark, two_sources, forward_fill):
    """The window probe reads its records on the driver and the parquet
    scan takes its schema from the footer: no Spark job until the query
    runs."""
    def build():
        fuser = TimeSeriesFuser(two_sources, forward_fill=forward_fill)
        fuser.remap_keys(spark, ["Syn_id", "Price"])
        fuser.fused(spark)

    assert _jobs(spark, build) == 0


def test_small_file_stream_fills_in_one_window(spark, two_sources, sketch_calls):
    fuser = TimeSeriesFuser(two_sources, forward_fill=True)
    filled = fuser.fused(spark)
    assert sketch_calls["calls"] == 0
    plan = filled._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan and "Generate" not in plan

    unfilled = TimeSeriesFuser(two_sources).fused(spark)
    cols = [c for c in unfilled.columns if c not in (TS_COL, *INTERNAL_COLS)]
    want = forward_fill(unfilled, fuser.sort_cols(), cols, num_partitions=4)
    assert sketch_calls["calls"] == 1  # the reference does take the bucketed path
    order = fuser.sort_cols()
    got_rows = _sorted_rows(filled, order)
    assert got_rows == _sorted_rows(want, order)
    assert len(got_rows) == 200
    # past each column's first value, every gap is filled across sources
    late = filled.filter(F.col(TS_COL) >= T0 + 2_500)
    assert late.filter(F.col("Price").isNull() | F.col("bid").isNull()).count() == 0


def test_bucketed_fill_above_the_bound(spark, two_sources, sketch_calls, monkeypatch):
    monkeypatch.setattr(ops_util, "SMALL_INPUT_BYTES", 0)
    TimeSeriesFuser(two_sources, forward_fill=True).fused(spark)
    assert sketch_calls["calls"] == 1


def test_dataframe_source_keeps_bucketed_fill(spark, two_sources, sketch_calls):
    quotes = spark.createDataFrame(
        [(T0 + 10_500 * i, None if i % 2 else float(i)) for i in range(20)],
        "Timestamp long, ask double",
    )
    sources = [two_sources[0], SourceConfig(name="quotes", df=quotes)]
    TimeSeriesFuser(sources, forward_fill=True).fused(spark)
    assert sketch_calls["calls"] == 1


def test_out_of_window_warning_fires_once(spark, two_sources, tmp_path):
    old = tmp_path / "old"
    old.mkdir()
    pd.DataFrame({"Timestamp": [T0 - 10_000_000, T0 - 9_000_000],
                  "bid": [1.0, 2.0]}).to_parquet(old / "old-0.parquet")
    fuser = TimeSeriesFuser(
        [*two_sources, SourceConfig(name="old", path=str(old), fmt="parquet")],
        procstart=T0, forward_fill=True,
    )
    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        keys = fuser.remap_keys(spark, ["bid"])
        out = fuser.fused(spark)
    msgs = [str(w.message) for w in seen if issubclass(w.category, UserWarning)]
    assert sum("'old'" in m and "processing window" in m for m in msgs) == 1
    assert keys == ["bid"] and "bid" in out.columns


def test_estimated_input_bytes_decodes_escaped_paths(spark, tmp_path):
    root = tmp_path / "dir with space%"
    spark.range(100).write.parquet(str(root / "p"))
    files = glob.glob(str(root / "p" / "*.parquet"))
    df = spark.read.parquet(str(root / "p"))
    assert all("%20" in f for f in df.inputFiles())
    assert ops_util.estimated_input_bytes(df) == sum(os.path.getsize(f) for f in files) > 0


def _event_windows(df):
    """(windows over event rows, windows over per-interval aggregates) in
    the analyzed plan, where persisted relations still show their plans: a
    window reads event rows when a file scan is reachable below it without
    passing an Aggregate."""
    counts = [0, 0]

    def kids(node):
        ch = node.children()
        return [ch.apply(i) for i in range(ch.size())]

    def name(node):
        return node.getClass().getSimpleName()

    def reaches_scan(node):
        if name(node) == "Aggregate":
            return False
        return name(node) == "LogicalRelation" or any(reaches_scan(k) for k in kids(node))

    def walk(node):
        if name(node) == "Window":
            counts[0 if reaches_scan(kids(node)[0]) else 1] += 1
        for k in kids(node):
            walk(k)

    walk(df._jdf.queryExecution().analyzed())
    return tuple(counts)


@pytest.mark.parametrize("small", [True, False])
def test_interval_fill_reads_no_event_rows_in_a_window(spark, two_sources, monkeypatch, small):
    if not small:
        monkeypatch.setattr(ops_util, "SMALL_INPUT_BYTES", 0)
    fuser = TimeSeriesFuser(two_sources, forward_fill=True)
    keys = fuser.remap_keys(spark, ["Price", "bid"])
    filled = fuser.fused(spark)
    with ops_util.cache_scope():
        built = []
        assert _jobs(spark, lambda: built.append(
            resample_last_interval(filled, "7s", ffill_keys=keys)
        )) == 0
        out = built[0]
        # one window over the aggregate: the carry window (small) or the
        # scan's within-bucket window (large)
        assert _event_windows(out) == (0, 1)
        want = resample_last_interval(filled.select("*"), "7s", ffill_keys=keys)
        assert _event_windows(want)[0] > 0
        assert out.orderBy(TS_COL).collect() == want.orderBy(TS_COL).collect()


@pytest.mark.parametrize("case", ["secondary", "no_internal", "keyed", "filter"])
def test_interval_fill_falls_back_to_event_fill(spark, two_sources, case):
    opts = {
        "secondary": {"secondary_sort_col": "Syn_id"},
        "no_internal": {"remove_internal_cols": True},
    }.get(case, {})
    fuser = TimeSeriesFuser(two_sources, forward_fill=True, **opts)
    filled = fuser.fused(spark)
    if case == "filter":
        filled = filled.filter(F.col(TS_COL) > T0)
    keys = ["Syn_id||trades"] if case == "keyed" else []
    out = resample_last_interval(filled, "7s", keys=keys)
    assert _event_windows(out)[0] > 0
