"""Streaming twin of the batch '1d'-tz-midnight resample semantics
(VERDICT r9 item #8): `resample_stream(..., tz=...)` groups on the
watermarked DST-correct boundary-label column — F.window cannot express
a DST-crossing day grid, so the day path leaves the window() fast path.
Pinned against the batch T2 resampler on spring-forward data."""

from datetime import datetime, timezone
from zoneinfo import ZoneInfo

import pytest
from pyspark.sql import Row

from timeseriesfuser_spark.operators.resample import resample_last_interval
from timeseriesfuser_spark.streaming import resample_stream

NY = "America/New_York"


def ny_ms(y, m, d, hh=0, mm=0):
    return int(datetime(y, m, d, hh, mm, tzinfo=ZoneInfo(NY)).timestamp() * 1000)


def _run_stream(spark, tmp_path, rows, schema, **kwargs):
    d = tmp_path / "in"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(d))
    stream = spark.readStream.schema(schema).parquet(str(d))
    out = resample_stream(stream, **kwargs)
    name = "rsd_sink"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    got = spark.table(name).collect()
    spark.catalog.dropTempView(name)
    return got


def test_stream_day_tz_matches_batch_across_dst(spark, tmp_path):
    rows = [
        Row(__timestamp=ny_ms(2025, 3, 7, 10), v="fri"),
        Row(__timestamp=ny_ms(2025, 3, 8, 10), v="sat"),
        Row(__timestamp=ny_ms(2025, 3, 9, 10), v="sun"),  # 23-hour local day
        Row(__timestamp=ny_ms(2025, 3, 10, 10), v="mon"),
    ]
    schema = "__timestamp bigint, v string"
    got = sorted(
        (r["__timestamp"], r["v"])
        for r in _run_stream(
            spark, tmp_path, rows, schema,
            interval="1d", tz=NY, value_cols=["v"], tiebreak_cols=[],
        )
    )
    want = sorted(
        (r["__timestamp"], r["v"])
        for r in resample_last_interval(
            spark.createDataFrame(rows, schema), "1d", tz=NY,
            value_cols=["v"], tiebreak_cols=[], gap_fill=False,
        ).collect()
    )
    assert got == want and len(got) == 4
    # labels are exact local midnights; the EST→EDT shift is visible
    hours = [datetime.fromtimestamp(ms / 1000, tz=timezone.utc).hour
             for ms, _ in got]
    assert hours == [5, 5, 4, 4]
    for ms, _ in got:
        local = datetime.fromtimestamp(ms / 1000, tz=ZoneInfo(NY))
        assert (local.hour, local.minute) == (0, 0)


def test_stream_2d_midnight_anchor_without_tz(spark, tmp_path):
    """'Nd' (N>1) routes through the midnight-anchored path even with
    tz=None — reference classes.py:787-795 parity, same as batch."""
    t0 = 3 * 86_400_000 + 5 * 3_600_000  # day 3, 05:00 UTC
    rows = [
        Row(__timestamp=t0, v="a"),
        Row(__timestamp=t0 + 3_600_000, v="b"),
    ]
    schema = "__timestamp bigint, v string"
    got = sorted(
        (r["__timestamp"], r["v"])
        for r in _run_stream(
            spark, tmp_path, rows, schema,
            interval="2d", value_cols=["v"], tiebreak_cols=[],
        )
    )
    # next midnight-anchored 2d boundary after day-3 events = day 5
    assert got == [(5 * 86_400_000, "b")]
    want = sorted(
        (r["__timestamp"], r["v"])
        for r in resample_last_interval(
            spark.createDataFrame(rows, schema), "2d",
            value_cols=["v"], tiebreak_cols=[], gap_fill=False,
        ).collect()
    )
    assert got == want


def test_stream_2d_labels_each_event_from_its_own_midnight(spark, tmp_path):
    """Across days the stream has no grid anchor: each event's label is
    its own midnight + 2 days, where batch anchors at the first date."""
    day, h5 = 86_400_000, 5 * 3_600_000
    rows = [Row(__timestamp=d * day + h5, v=str(d)) for d in (3, 4, 6)]
    schema = "__timestamp bigint, v string"
    got = sorted(
        (r["__timestamp"] // day, r["v"])
        for r in _run_stream(
            spark, tmp_path, rows, schema,
            interval="2d", value_cols=["v"], tiebreak_cols=[],
        )
    )
    assert got == [(5, "3"), (6, "4"), (8, "6")]
    batch = sorted(
        (r["__timestamp"] // day, r["v"])
        for r in resample_last_interval(
            spark.createDataFrame(rows, schema), "2d",
            value_cols=["v"], tiebreak_cols=[], gap_fill=False,
        ).collect()
    )
    assert batch == [(5, "4"), (7, "6")]


def test_stream_1d_utc_fast_path_unchanged(spark, tmp_path):
    """'1d' without tz stays on the epoch-anchored window() fast path:
    the trailing bucket is HELD in state (append emits a window only when
    the watermark passes window.end — the pre-existing contract), unlike
    the label path where the grouping key IS the bucket end and the final
    label emits. Emitted prefix unchanged."""
    rows = [Row(__timestamp=100, v="x"), Row(__timestamp=86_400_000 + 5, v="y")]
    schema = "__timestamp bigint, v string"
    fast = sorted(
        (r["__timestamp"], r["v"])
        for r in _run_stream(spark, tmp_path, rows, schema,
                             interval="1d", value_cols=["v"], tiebreak_cols=[])
    )
    assert fast == [(86_400_000, "x")]


def test_tz_rejected_for_non_day(spark):
    df = spark.createDataFrame([Row(__timestamp=0, v="x")])
    with pytest.raises(ValueError, match="only meaningful for day"):
        resample_stream(df, "1h", tz=NY, value_cols=["v"])
