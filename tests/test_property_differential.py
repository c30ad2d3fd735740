"""Property-based differential tests (hypothesis): random streams checked
across independent implementations of the same semantics —

- resample: the stateful row-level handler vs the vectorized DataFrame plan;
- day-grid resample (local-midnight grids, DST): the plan vs a zoneinfo
  oracle of the module docstring's rules;
- forward fill: the two-pass range-bucketed scheme vs a naive
  single-partition window;
- fused stream → ungrouped resample: the interval-grain fill vs the
  event-level fill of the same stream.

Each pair is implemented independently, so agreement on random inputs is
strong evidence for both."""

from datetime import date, datetime, time, timedelta
from zoneinfo import ZoneInfo

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from timeseriesfuser_spark import SourceConfig, TimeSeriesFuser
from timeseriesfuser_spark.handlers import BatchEveryIntervalHandler
from timeseriesfuser_spark.operators.fill import forward_fill
from timeseriesfuser_spark.operators.resample import _SPINE_CHUNK, resample_last_interval
from timeseriesfuser_spark.ops import util as ops_util
from timeseriesfuser_spark.replay import replay

# distinct, sorted-agnostic small timestamp lists; values 0..999
stream = st.lists(
    st.tuples(st.integers(min_value=0, max_value=400), st.integers(0, 999)),
    min_size=1,
    max_size=25,
    unique_by=lambda t: t[0],
)

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    rows=stream,
    step=st.sampled_from(["7l", "10l", "25l"]),
    ffill=st.booleans(),
    batch_end=st.booleans(),
    nulls=st.sets(st.integers(0, 24)),
)
@SETTINGS
def test_resample_handler_vs_vectorized(spark, rows, step, ffill, batch_end, nulls):
    # A null value is an event like any other: blanks after it carry null,
    # not the last non-null value.
    data = [
        Row(__timestamp=t, v=None if i in nulls else float(v))
        for i, (t, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "__timestamp long, v double")
    ffill_keys = ["v"] if ffill else []

    h = BatchEveryIntervalHandler(
        step, ffill_keys=ffill_keys, process_batch_end=batch_end
    )
    replay(df, h)
    got = h.get_results()

    want_df = resample_last_interval(
        df, step, value_cols=["v"], ffill_keys=ffill_keys, tiebreak_cols=[],
        process_batch_end=batch_end,
    )
    want = [r.asDict() for r in want_df.orderBy("__timestamp").collect()]
    assert got == want


def _day_grid_oracle(events, days, tz, ffill, batch_end):
    """The resample module docstring's day-grid rules, one group, in
    zoneinfo: anchor = first local date, label = anchor + (floor((d -
    anchor)/N) + 1)*N, last event per label by (ts, seq), blanks up to the
    last label (or the one before it without ``batch_end``)."""
    zi = ZoneInfo(tz or "UTC")
    last = {}
    for ts, seq, v in events:
        d = datetime.fromtimestamp(ts / 1000, zi).date().toordinal()
        last.setdefault(d, []).append((ts, seq, v))
    anchor = min(last)
    labels = {}
    for d, evs in last.items():
        lab = anchor + ((d - anchor) // days + 1) * days
        labels.setdefault(lab, []).extend(evs)
    first, end = min(labels), max(labels) - (0 if batch_end else days)
    out, carry = [], None
    for lab in range(first, end + 1, days):
        midnight = datetime.combine(date.fromordinal(lab), time(0), zi)
        if lab in labels:
            carry = max(labels[lab])[2]
            v = carry
        else:
            v = carry if ffill else None
        out.append((int(midnight.timestamp() * 1000), v))
    return out


# Local midnights around the 2024 DST shifts of Berlin (Mar 31, Oct 27)
# and New York (Mar 10, Nov 3): the draws below straddle them.
_DST_DAYS = [date(2024, 3, 8), date(2024, 3, 29), date(2024, 10, 25), date(2024, 11, 1)]
_day_events = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),
        st.integers(0, 9),  # day offset from the drawn start date
        st.one_of(st.just(0), st.integers(0, 86_399_999)),  # ms into that day
        st.one_of(st.none(), st.integers(0, 99)),
    ),
    min_size=1,
    max_size=20,
)


@given(
    rows=_day_events,
    start=st.sampled_from(_DST_DAYS),
    days=st.sampled_from([1, 2, 3]),
    tz=st.sampled_from([None, "Europe/Berlin", "America/New_York"]),
    keyed=st.booleans(),
    ffill=st.booleans(),
    batch_end=st.booleans(),
)
@SETTINGS
def test_resample_day_grid_vs_zoneinfo_oracle(
    spark, rows, start, days, tz, keyed, ffill, batch_end
):
    # An offset of 0 ms is the local midnight itself; the ms offset is
    # added to that midnight, so a spring-forward day still gets events.
    zi = ZoneInfo(tz or "UTC")
    data = []
    for seq, (k, day, ms, v) in enumerate(rows):
        midnight = datetime.combine(start + timedelta(days=day), time(0), zi)
        ts = int(midnight.timestamp() * 1000) + ms
        data.append((ts, k if keyed else None, seq, None if v is None else float(v)))
    df = spark.createDataFrame(data, "__timestamp long, k string, seq long, v double")
    out = resample_last_interval(
        df, f"{days}d", tz=tz, keys=["k"] if keyed else [], value_cols=["v"],
        ffill_keys=["v"] if ffill else [], tiebreak_cols=["seq"],
        process_batch_end=batch_end,
    )
    got = sorted((r["k"] if keyed else None, r["__timestamp"], r["v"])
                 for r in out.collect())
    want = []
    for k in {d[1] for d in data}:
        events = [(ts, seq, v) for ts, kk, seq, v in data if kk == k]
        want += [(k, ts, v) for ts, v in
                 _day_grid_oracle(events, days, tz, ffill, batch_end)]
    assert got == sorted(want, key=lambda r: (r[0] or "", r[1]))


@given(
    rows=_day_events,
    start=st.sampled_from(_DST_DAYS),
    days=st.sampled_from([2, 3]),
    ffill=st.booleans(),
    batch_end=st.booleans(),
)
@example(  # events at 05:00 UTC on epoch days 3, 4 and 6: labels 5 and 7
    rows=[("a", 0, 18_000_000, 1), ("a", 1, 18_000_000, 2), ("a", 3, 18_000_000, 3)],
    start=date(1970, 1, 4), days=2, ffill=True, batch_end=True,
)
@SETTINGS
def test_handler_multi_day_grid_vs_zoneinfo_oracle(rows, start, days, ffill, batch_end):
    """The row handler on 'Nd' grids without tz follows the same rules as
    the vectorized day grid: anchored at the first event's UTC midnight."""
    events = sorted(
        (int(datetime.combine(start + timedelta(days=day), time(0), ZoneInfo("UTC"))
             .timestamp() * 1000) + ms, seq, None if v is None else float(v))
        for seq, (_k, day, ms, v) in enumerate(rows)
    )
    h = BatchEveryIntervalHandler(
        f"{days}d", ffill_keys=["v"] if ffill else [], process_batch_end=batch_end
    )
    for ts, _seq, v in events:
        h.process(ts, {"v": v})
    h.finalize()
    got = [(r["__timestamp"], r["v"]) for r in h.get_results()]
    assert got == _day_grid_oracle(events, days, None, ffill, batch_end)


pair_streams = st.tuples(
    st.lists(
        st.tuples(st.integers(0, 200), st.sampled_from(["a", "b"])),
        min_size=1, max_size=15, unique_by=lambda t: t,
    ),
    st.lists(
        st.tuples(st.integers(0, 200), st.sampled_from(["a", "b"]), st.integers(0, 99)),
        min_size=0, max_size=15, unique_by=lambda t: (t[0], t[1]),
    ),
)


@given(data=pair_streams, tol=st.sampled_from([None, 30]))
@SETTINGS
def test_asof_join_vs_naive_quadratic(spark, data, tol):
    from timeseriesfuser_spark.operators.asof import asof_join

    lrows, rrows = data
    left = spark.createDataFrame(
        [Row(__timestamp=t, k=k) for t, k in lrows], "__timestamp long, k string"
    )
    right = spark.createDataFrame(
        [Row(__timestamp=t, k=k, rv=v) for t, k, v in rrows],
        "__timestamp long, k string, rv long",
    )
    got = {
        (r["k"], r["__timestamp"]): r["rv"]
        for r in asof_join(left, right, keys=["k"], tolerance_ms=tol).collect()
    }
    # naive python reference: latest right at-or-before, same key, in window
    want = {}
    for lt, lk in lrows:
        best = None
        for rt, rk, rv in rrows:
            if rk == lk and rt <= lt and (tol is None or lt - rt <= tol):
                if best is None or rt > best[0]:
                    best = (rt, rv)
        want[(lk, lt)] = best[1] if best else None
    assert got == want


@given(rows=stream, nulls=st.sets(st.integers(0, 400)))
@SETTINGS
def test_forward_fill_vs_naive_window(spark, rows, nulls):
    data = [
        Row(__timestamp=t, v=(None if t in nulls else float(v)))
        for t, v in rows
    ]
    df = spark.createDataFrame(data, "__timestamp long, v double")

    got = {
        r["__timestamp"]: r["v"]
        for r in forward_fill(df, ["__timestamp"], ["v"], num_partitions=3).collect()
    }
    naive_w = Window.orderBy("__timestamp").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["__timestamp"]: r["v"]
        for r in df.withColumn(
            "v", F.last("v", ignorenulls=True).over(naive_w)
        ).collect()
    }
    assert got == want


# Two parquet sources sharing a colliding ``Syn_id``; timestamps from a
# narrow range so they tie across sources; null timestamps and values.
_fused_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(0, 60)), st.one_of(st.none(), st.integers(0, 999))
    ),
    min_size=1, max_size=12,
)


@given(
    a=_fused_rows, b=_fused_rows, ffill=st.booleans(), batch_end=st.booleans(),
    long_gap=st.booleans(), small=st.booleans(),
)
@SETTINGS
def test_interval_fill_vs_event_fill(
    spark, tmp_path_factory, monkeypatch, a, b, ffill, batch_end, long_gap, small
):
    import pandas as pd

    t0, step = 1_700_000_000_000, 7
    if long_gap:  # a gap of more than _SPINE_CHUNK labels
        a = [*a, (60 + step * (_SPINE_CHUNK + 50), 1)]
    root = tmp_path_factory.mktemp("fused")
    sources = []
    for name, col, rows in (("trades", "Price", a), ("spread", "bid", b)):
        (root / name).mkdir()
        pd.DataFrame({
            "Timestamp": pd.array([None if t is None else t0 + t for t, _ in rows], dtype="Int64"),
            col: [None if v is None else float(v) for _, v in rows],
            "Syn_id": pd.array([v for _, v in rows], dtype="Int64"),
        }).to_parquet(root / name / f"{name}-0.parquet")
        sources.append(SourceConfig(name=name, path=str(root / name), fmt="parquet"))
    monkeypatch.setattr(ops_util, "SMALL_INPUT_BYTES", (64 << 20) if small else 0)

    fuser = TimeSeriesFuser(sources, forward_fill=True, derive_window=False)
    keys = fuser.remap_keys(spark, ["Price", "bid", "Syn_id"]) if ffill else []
    filled = fuser.fused(spark)
    with ops_util.cache_scope():
        got, want = (
            resample_last_interval(
                df, f"{step}l", ffill_keys=keys, process_batch_end=batch_end
            )
            for df in (filled, filled.select("*"))
        )
        assert got.schema == want.schema
        assert got.orderBy("__timestamp").collect() == want.orderBy("__timestamp").collect()


# --------------------------------------------------------------------------- #
# round-5: interval join vs brute force; rolling anomalies vs pure Python
# --------------------------------------------------------------------------- #

_ij_points = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 500)),  # (key, ts)
    min_size=1, max_size=20,
)
_ij_intervals = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 500), st.integers(0, 200)),
    min_size=1, max_size=10,  # (key, start, length)
)


@given(pts=_ij_points, ivs=_ij_intervals,
       chunk=st.sampled_from([7, 50, 1000]))
@SETTINGS
def test_interval_join_vs_bruteforce(spark, pts, ivs, chunk):
    from timeseriesfuser_spark.operators.rangejoin import interval_join

    pdf = spark.createDataFrame(
        [Row(k=k, pid=i, ts=t) for i, (k, t) in enumerate(pts)]
    )
    idf = spark.createDataFrame(
        [Row(k=k, iid=i, start_ms=s, end_ms=s + ln)
         for i, (k, s, ln) in enumerate(ivs)]
    )
    got = {
        (r["iid"], r["pid"])
        for r in interval_join(
            pdf, idf, point_ts="ts", keys=["k"], chunk_ms=chunk
        ).collect()
    }
    want = {
        (i, j)
        for i, (ik, s, ln) in enumerate(ivs)
        for j, (pk, t) in enumerate(pts)
        if pk == ik and s <= t < s + ln
    }
    assert got == want


_anom_stream = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 100), st.integers(-500, 500)),
    min_size=1, max_size=30,  # (key, ts, cents_value)
)


@given(rows=_anom_stream, lookback=st.sampled_from([2, 5, 10]))
@SETTINGS
def test_rolling_anomalies_vs_python(spark, rows, lookback):
    from timeseriesfuser_spark.ops.timeseries import rolling_anomalies

    data = [
        Row(user_id=k, ts=t, event_id=i, value=c / 100.0)
        for i, (k, t, c) in enumerate(rows)
    ]
    df = spark.createDataFrame(data)
    got = {
        r["event_id"]: (r["n_base"], r["is_anomaly"])
        for r in rolling_anomalies(
            df, lookback=lookback, min_points=3, k=3
        ).collect()
    }

    # independent Python reimplementation of the integer decision
    want = {}
    by_key = {}
    for i, (k, t, c) in enumerate(rows):
        by_key.setdefault(k, []).append((t, i, c))
    for k, seq in by_key.items():
        seq.sort()
        for pos, (t, i, c) in enumerate(seq):
            base = [x for (_, _, x) in seq[max(0, pos - lookback):pos]]
            n = len(base)
            flag = False
            if n >= 3:
                S, Q = sum(base), sum(v * v for v in base)
                dev = n * c - S
                flag = dev * dev * (n - 1) > 9 * n * (n * Q - S * S)
            want[i] = (n, flag)
    assert got == want


# --------------------------------------------------------------------------- #
# round-6: scd2_history vs a pure-Python reimplementation
# --------------------------------------------------------------------------- #

scd2_stream = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),      # user
        st.integers(min_value=0, max_value=50),     # ts
        st.one_of(st.none(), st.integers(0, 3)),    # value (small domain → runs)
    ),
    min_size=1,
    max_size=30,
)


def _scd2_py(rows):
    """Independent reference: per user, ordered by (ts, seq), collapse
    consecutive equal values into [valid_from, valid_to) intervals."""
    out = []
    by_user = {}
    for seq, (u, t, v) in enumerate(rows):
        by_user.setdefault(u, []).append((t, seq, v))
    for u, evs in by_user.items():
        evs.sort()
        intervals = []
        prev = object()
        for t, seq, v in evs:
            if v != prev or (v is None) != (prev is None):
                intervals.append([u, v, t, None])
            prev = v
        for a, b in zip(intervals, intervals[1:]):
            a[3] = b[2]
        for u_, v, vf, vt in intervals:
            out.append((u_, v, vf, vt, vt is None))
    return sorted(out, key=lambda r: (r[0], r[2], str(r[1])))


@given(rows=scd2_stream)
@SETTINGS
def test_scd2_matches_python_reference(spark, rows):
    from timeseriesfuser_spark.ops.behavior import scd2_history

    data = [
        Row(user_id=u, ts=t, event_id=seq, value=float(v) if v is not None else None)
        for seq, (u, t, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "user_id long, ts long, event_id long, value double"
    )
    got = sorted(
        (
            (r["user_id"], r["value"], r["valid_from"], r["valid_to"], r["is_current"])
            for r in scd2_history(df).collect()
        ),
        key=lambda r: (r[0], r[2], str(r[1])),
    )
    want = [
        (u, float(v) if v is not None else None, vf, vt, cur)
        for (u, v, vf, vt, cur) in _scd2_py(rows)
    ]
    assert got == want


# --------------------------------------------------------------------------- #
# round-6: blocked fuzzy matching vs brute force
# --------------------------------------------------------------------------- #


def _lev(a, b):
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


names = st.lists(
    st.tuples(
        st.text(alphabet="abc", min_size=0, max_size=6),
        st.integers(min_value=0, max_value=1),      # block
    ),
    min_size=1,
    max_size=12,
)


@given(rows=names, maxd=st.integers(min_value=0, max_value=3))
@SETTINGS
def test_fuzzy_pairs_match_bruteforce(spark, rows, maxd):
    from timeseriesfuser_spark.ops.entity import fuzzy_match_pairs

    data = [(i, nm, f"b{blk}") for i, (nm, blk) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, name string, blk string")
    got = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in fuzzy_match_pairs(
            df, id_col="id", name_col="name", block_cols=("blk",),
            max_distance=maxd,
        ).collect()
    }
    want = set()
    for i, (na, ba) in enumerate(rows):
        for j, (nb, bb) in enumerate(rows):
            if i < j and ba == bb and _lev(na, nb) <= maxd:
                want.add((i, j, _lev(na, nb)))
    assert got == want


# --------------------------------------------------------------------------- #
# round-6 sweeps: containment, twap (negative-safe), quantile bins
# --------------------------------------------------------------------------- #

docs_strategy = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=40),
    min_size=1,
    max_size=8,
)


def _shingles(text, n=3):
    toks = __import__("re").findall(r"[a-z0-9]+", text.lower())
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


@given(texts=docs_strategy, thr=st.sampled_from([0.5, 0.9, 1.0]))
@SETTINGS
def test_containment_matches_bruteforce(spark, texts, thr):
    from timeseriesfuser_spark.ops.dedup import ngram_containment_pairs

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): (r["intersection"], r["min_size"])
        for r in ngram_containment_pairs(df, threshold=thr, cache=False).collect()
    }
    want = {}
    sh = [_shingles(t) for t in texts]
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            inter = len(sh[i] & sh[j])
            m = min(len(sh[i]), len(sh[j]))
            if m > 0 and inter / m >= thr:
                want[(i, j)] = (inter, m)
    assert got == want


twap_stream = st.lists(
    st.tuples(
        st.integers(min_value=-40, max_value=40),   # ts (negative allowed!)
        st.integers(min_value=-50, max_value=50),   # value
    ),
    min_size=1,
    max_size=15,
    unique_by=lambda t: t[0],
)


@given(rows=twap_stream, step=st.sampled_from([7, 10]))
@SETTINGS
def test_twap_matches_python_reference(spark, rows, step):
    from timeseriesfuser_spark.ops.timeseries import twap_bars

    data = [(1, t, i, float(v)) for i, (t, v) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "user_id long, ts long, event_id long, value double"
    )
    got = {
        r["bar_ts"]: (r["dur_ms"], r["tw_cents"])
        for r in twap_bars(df, f"{step}l").collect()
    }

    # python reference: LOCF integral over [t_i, t_{i+1}) segments,
    # horizon = max ts; floor bucketing
    evs = sorted((t, v * 100) for t, v in rows)
    hz = max(t for t, _ in evs)
    segs = []
    for i, (t, c) in enumerate(evs):
        end = evs[i + 1][0] if i + 1 < len(evs) else hz
        if end > t:
            segs.append((t, end, c))
    want = {}
    s_ms = step
    for t0, t1, c in segs:
        b = (t0 - (t0 % s_ms)) // s_ms
        b1 = ((t1 - 1) - ((t1 - 1) % s_ms)) // s_ms
        for bb in range(b, b1 + 1):
            lo, hi = bb * s_ms, (bb + 1) * s_ms
            ov = min(t1, hi) - max(t0, lo)
            if ov > 0:
                d, tw = want.get(bb * s_ms, (0, 0))
                want[bb * s_ms] = (d + ov, tw + c * ov)
    assert got == want


bin_stream = st.lists(
    st.one_of(st.none(), st.integers(-20, 20)),
    min_size=1,
    max_size=30,
)


@given(vals=bin_stream, k=st.sampled_from([3, 7]))
@SETTINGS
def test_quantile_bins_match_sorted_rank(spark, vals, k):
    from timeseriesfuser_spark.ops.scale import quantile_bins

    data = [(i, float(v) if v is not None else None) for i, v in enumerate(vals)]
    df = spark.createDataFrame(data, "id long, v double")
    got = {
        r["id"]: (r["global_rank"], r["bin"])
        for r in quantile_bins(df, "v", k, tiebreak_cols=["id"], num_buckets=4).collect()
    }
    # python: NULLS FIRST ascending, tiebreak id
    order = sorted(range(len(vals)), key=lambda i: (vals[i] is not None, vals[i] if vals[i] is not None else 0, i))
    n = len(vals)
    want = {
        idx: (r + 1, r * k // n) for r, idx in enumerate(order)
    }
    assert got == want


# ---------------------------------------------------------------------------
# round 7: drawdown / rolling extrema / intra-doc line dedup vs python refs
# ---------------------------------------------------------------------------

_dd_stream = st.lists(
    st.tuples(
        st.integers(min_value=-200, max_value=200),   # ts (negatives too)
        st.integers(min_value=-500, max_value=500),   # cents (as value*100)
    ),
    min_size=1, max_size=30,
    unique_by=lambda t: t[0],
)


@given(rows=_dd_stream, look=st.sampled_from([1, 3, 7]))
@SETTINGS
def test_drawdown_and_extrema_vs_python(spark, rows, look):
    from timeseriesfuser_spark.ops.timeseries import drawdown, rolling_extrema

    data = [(1, ts, i, c / 100.0) for i, (ts, c) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "user_id long, ts long, event_id long, value double"
    )
    ordered = sorted(rows)
    cents = [c for _, c in ordered]

    got_dd = [
        (r["peak_cents"], r["drawdown_cents"])
        for r in drawdown(df).orderBy("ts").collect()
    ]
    peak = None
    want_dd = []
    for c in cents:
        peak = c if peak is None else max(peak, c)
        want_dd.append((peak, peak - c))
    assert got_dd == want_dd

    got_ex = [
        (r["chan_lo"], r["chan_hi"])
        for r in rolling_extrema(df, look).orderBy("ts").collect()
    ]
    want_ex = [
        (min(cents[max(0, i - look + 1): i + 1]),
         max(cents[max(0, i - look + 1): i + 1]))
        for i in range(len(cents))
    ]
    assert got_ex == want_ex


_line_docs = st.lists(
    st.lists(st.sampled_from(["a", "b", "c", "dd", ""]), min_size=1, max_size=8),
    min_size=1, max_size=6,
)


@given(docs=_line_docs)
@SETTINGS
def test_intra_doc_line_dedup_vs_python(spark, docs):
    from timeseriesfuser_spark.ops.text import dedup_lines_within_doc

    rows = [(i, "\n".join(ls)) for i, ls in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_removed"], r["n_lines"])
        for r in dedup_lines_within_doc(df).collect()
    }
    for i, ls in enumerate(docs):
        seen, kept = set(), []
        for line in ls:
            if line not in seen:
                seen.add(line)
                kept.append(line)
        assert got[i] == ("\n".join(kept), len(ls) - len(kept), len(ls))


# --------------------------------------------------------------------------- #
# Sketch family: CMS one-sided error + shard-merge identity (the mergeability
# claim is the 100 TB point — test it directly, not via the oracle).
# --------------------------------------------------------------------------- #

from timeseriesfuser_spark.ops.sketches import (  # noqa: E402
    countmin_estimate,
    countmin_merge,
    countmin_sketch,
    hll_merge,
    hll_registers,
)

# Random key/weight streams: small key domain (forces collisions at the
# tiny widths below), positive weights.
cms_stream = st.lists(
    st.tuples(st.integers(0, 40), st.integers(1, 9)),
    min_size=1,
    max_size=40,
)


@given(rows=cms_stream, width=st.sampled_from([4, 16, 64]), weighted=st.booleans())
@SETTINGS
def test_cms_never_undercounts(spark, rows, width, weighted):
    """CMS guarantee: estimate >= exact count for EVERY key, under random
    key/weight distributions and widths small enough to force heavy
    collisions (the regime where an indexing/merge bug would undercount)."""
    df = spark.createDataFrame(
        [Row(k=str(k), w=w) for k, w in rows]
    )
    kwargs = {"depth": 3, "width": width}
    sk = countmin_sketch(df, "k", weight_col="w" if weighted else None, **kwargs)
    keys = df.select("k").distinct()
    est = {
        r["key"]: r["cms_n"]
        for r in countmin_estimate(sk, keys, "k", **kwargs).collect()
    }
    exact = {}
    for k, w in rows:
        exact[str(k)] = exact.get(str(k), 0) + (w if weighted else 1)
    assert set(est) == set(exact)
    for k, true_n in exact.items():
        assert est[k] >= true_n, f"CMS undercounted {k}: {est[k]} < {true_n}"


@given(
    rows=cms_stream,
    split_at=st.integers(0, 40),
    width=st.sampled_from([8, 32]),
)
@SETTINGS
def test_cms_shard_merge_equals_unsharded(spark, rows, split_at, width):
    """Sketch(shard A) ⊕ Sketch(shard B) must be cell-for-cell identical
    to Sketch(A ∪ B) for ANY split point — the property that lets shards/
    days/partitions sketch independently and combine later."""
    a, b = rows[:split_at], rows[split_at:]
    mk = lambda part: spark.createDataFrame(
        [Row(k=str(k), w=w) for k, w in part], schema="k string, w int"
    )
    kwargs = {"depth": 3, "width": width}
    shards = [countmin_sketch(mk(p), "k", weight_col="w", **kwargs)
              for p in (a, b) if p]
    merged = countmin_merge(*shards) if shards else None
    whole = countmin_sketch(mk(rows), "k", weight_col="w", **kwargs)
    want = {(r["row_idx"], r["col_idx"]): r["cnt"] for r in whole.collect()}
    got = {(r["row_idx"], r["col_idx"]): r["cnt"] for r in merged.collect()}
    assert got == want


@given(rows=st.lists(st.integers(0, 500), min_size=1, max_size=40),
       split_at=st.integers(0, 40))
@SETTINGS
def test_hll_shard_merge_equals_unsharded(spark, rows, split_at):
    """max-merge of per-shard HLL registers == registers of the whole
    stream, for any split — including duplicate keys landing in both
    shards (max is idempotent)."""
    a, b = rows[:split_at], rows[split_at:]
    mk = lambda part: spark.createDataFrame(
        [Row(k=str(k)) for k in part], schema="k string"
    )
    shards = [hll_registers(mk(p), "k", p=4) for p in (a, b) if p]
    merged = hll_merge(*shards)
    whole = hll_registers(mk(rows), "k", p=4)
    want = {r["bucket"]: r["register"] for r in whole.collect()}
    got = {r["bucket"]: r["register"] for r in merged.collect()}
    assert got == want


# ---- LTTB vs pure-Python bigint reference ---------------------------- #

_lttb_stream = st.lists(
    st.tuples(st.integers(min_value=0, max_value=500),
              st.integers(min_value=-999, max_value=999)),
    min_size=1, max_size=30,
    unique_by=lambda t: t[0],
)


def _lttb_ref(pts, nb, scale=10**6):
    """Independent reference of the documented parallel-LTTB variant:
    Python bigints throughout (values are k/4 — exact binary fractions,
    so yq quantization is float-exact on both sides)."""
    pts = sorted(pts)
    mn, mx = pts[0][0], pts[-1][0]
    slots = {}
    for t, v in pts:
        x0 = t - mn
        s = (x0 * nb) // (mx - mn + 1) if mx > mn else 0
        yq = round(v * scale)  # exact: v = k/4
        slots.setdefault(s, []).append((x0, t, v, int(yq)))
    order = sorted(slots)
    sums = {
        s: (
            sum(c[0] for c in slots[s]),
            sum(c[3] for c in slots[s]),
            len(slots[s]),
            min(c[0] for c in slots[s]),
        )
        for s in order
    }
    out = []
    for i, s in enumerate(order):
        cands = slots[s]
        if i == 0:
            pick = max(cands, key=lambda c: (0, -c[0], c[3]))
        elif i == len(order) - 1:
            pick = max(cands, key=lambda c: (0, c[0], c[3]))
        else:
            sxp, syp, np_, base = sums[order[i - 1]]
            sxn, syn, nn_, _ = sums[order[i + 1]]
            psx, nsx = sxp - np_ * base, sxn - nn_ * base

            def area(c, psx=psx, nsx=nsx, np_=np_, nn_=nn_,
                     syp=syp, syn=syn, base=base):
                xb = c[0] - base
                return abs(
                    (psx * nn_ - nsx * np_) * (c[3] * np_ - syp)
                    - (psx - xb * np_) * (syn * np_ - syp * nn_)
                )

            pick = max(cands, key=lambda c: (area(c), -c[0], c[3]))
        out.append((s, pick[1], pick[2]))
    return sorted(out)


@given(rows=_lttb_stream, nb=st.sampled_from([3, 4, 7]))
@SETTINGS
def test_lttb_matches_python_reference(spark, rows, nb):
    from timeseriesfuser_spark.ops.timeseries import lttb_downsample

    pts = [(t, k / 4.0) for t, k in rows]
    df = spark.createDataFrame(pts, "ts long, value double")
    got = sorted(
        (r["slot"], r["ts"], r["value"])
        for r in lttb_downsample(df, nb, ts_col="ts").collect()
    )
    assert got == _lttb_ref(pts, nb)


# ---------------------------------------------------------------------------
# round-11: robust median/MAD, concentration, triangles vs brute force
# ---------------------------------------------------------------------------

_ro_vals = st.lists(
    st.integers(min_value=-5000, max_value=5000), min_size=1, max_size=40
)


@given(vals=_ro_vals, k=st.sampled_from([1, 2, 3]))
@SETTINGS
def test_robust_outliers_vs_python(spark, vals, k):
    import statistics

    from timeseriesfuser_spark.ops.timeseries import robust_outlier_summary

    df = spark.createDataFrame(
        [(i, "g", v / 100.0) for i, v in enumerate(vals)],
        "event_id long, event_type string, value double",
    )
    row = robust_outlier_summary(
        df, group_col="event_type", value_col="value", k=k
    ).collect()[0]
    cents = sorted(vals)
    med = statistics.median(cents)
    devs = [abs(c - med) for c in cents]
    mad = statistics.median(devs)
    assert row["n"] == len(cents)
    assert row["med_x2"] == int(2 * med)
    assert row["mad_x4"] == int(4 * mad)
    assert row["n_outliers"] == sum(1 for d in devs if d > k * mad)


@given(vals=st.lists(st.integers(0, 10_000), min_size=1, max_size=30))
@SETTINGS
def test_concentration_vs_python(spark, vals):
    from timeseriesfuser_spark.ops.behavior import concentration_stats

    df = spark.createDataFrame(
        [("g", v) for v in vals], "g string, v long"
    )
    row = concentration_stats(df, group_col="g", value_col="v").collect()[0]
    n, s = len(vals), sum(vals)
    assert row["n"] == n and row["total"] == s
    if s == 0:
        assert row["gini_ppm"] is None and row["hhi_ppm"] is None
    else:
        xs = sorted(vals)
        ix = sum((i + 1) * x for i, x in enumerate(xs))
        assert row["gini_ppm"] == (2 * ix - (n + 1) * s) * 10**6 // (n * s)
        assert row["hhi_ppm"] == sum(x * x for x in vals) * 10**6 // (s * s)


_tri_edges = st.lists(
    st.tuples(st.integers(0, 10), st.integers(0, 10)),
    min_size=0, max_size=40,
)


@given(pairs=_tri_edges)
@SETTINGS
def test_triangles_vs_bruteforce(spark, pairs):
    import itertools

    from timeseriesfuser_spark.ops.graph import triangle_counts

    es = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    expect = {}
    for a, b, c in itertools.combinations(sorted({n for e in es for n in e}), 3):
        if (a, b) in es and (b, c) in es and (a, c) in es:
            for node in (a, b, c):
                expect[node] = expect.get(node, 0) + 1
    # empty draw: seed a self-loop, which canonicalizes away -> empty out
    df = spark.createDataFrame(
        list(pairs) or [(0, 0)], "id_a long, id_b long"
    )
    out = {
        r["id"]: r["n_triangles"] for r in triangle_counts(df).collect()
    }
    assert out == expect


@given(vals=st.lists(st.integers(-10_000, 10_000), min_size=1, max_size=35))
@SETTINGS
def test_exact_percentiles_vs_fraction(spark, vals):
    from fractions import Fraction

    from timeseriesfuser_spark.ops.timeseries import exact_percentiles

    df = spark.createDataFrame(
        [(i, "g", v / 100.0) for i, v in enumerate(vals)],
        "event_id long, event_type string, value double",
    )
    row = exact_percentiles(
        df, ((1, 2), (9, 10), (99, 100)),
        group_col="event_type", value_col="value",
    ).collect()[0]
    xs = sorted(vals)
    n = len(xs)
    for num, den, col in [(1, 2, "p1_2_x2"), (9, 10, "p9_10_x10"),
                          (99, 100, "p99_100_x100")]:
        idx = Fraction(num * (n - 1), den)
        lo, frac = int(idx), idx - int(idx)
        expect = xs[lo] * (1 - frac) + (xs[lo + 1] * frac if frac else 0)
        assert row[col] == int(expect * den)
