"""The in-plan hot-bucket cap (``ops.dedup._window_cap``): its plan
shape (also per band batch), its zero construction-time jobs, and its
split mode's observed counts; plus ``shortest_hops(max_hops=0)`` never touching the edges."""

import re

import pytest
from pyspark.sql import functions as F

from timeseriesfuser_spark.ops import dedup as D
from timeseriesfuser_spark.ops import similarity as S
from timeseriesfuser_spark.ops.util import cache_scope, observed_metrics


def _flooded(spark, n=120):
    rows = [(i, "the same boilerplate text repeated in every doc body") for i in range(n)]
    rows += [
        (1000, "a genuinely unique document about marmots and glaciers"),
        (1001, "a genuinely unique document about marmots and glaciers!"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture
def no_aqe_no_broadcast(spark):
    keys = ("spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")
    old = {k: spark.conf.get(k) for k in keys}
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    for k, v in old.items():
        spark.conf.set(k, v)


def test_capped_band_join_plans_one_exchange(spark, no_aqe_no_broadcast):
    """The cap's window partitions on the join's own keys: the capped
    candidate self-join shuffles the bucket relation ONCE on
    (band, bkey), the other side reuses that exchange, and there is no
    broadcast anti-join of driver-collected hot keys."""
    cand = D.minhash_lsh_pairs(
        _flooded(spark), max_bucket=50, cache=False, verify=False
    )
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert plan.count("+- Exchange hashpartitioning(band") == 1, plan
    assert plan.count("+- ReusedExchange") == 1, plan
    assert "BroadcastExchange" not in plan and "LeftAnti" not in plan, plan
    pairs = {(r.id_a, r.id_b) for r in cand.collect()}
    assert (1000, 1001) in pairs and all(a >= 1000 for a, _ in pairs)
    assert observed_metrics(cand)["minhash_lsh_pairs.bucket_cap"] == {
        "dropped_buckets": 8, "dropped_rows": 8 * 120,
    }


def _window_subtrees(plan: str):
    """The lines under each ``Window`` node of a plan's tree string."""
    lines = plan.splitlines()

    def depth(line):
        return len(line) - len(line.lstrip(" :+-|"))

    for i, line in enumerate(lines):
        if line.lstrip(" :+-|").startswith("Window "):
            sub = []
            for nxt in lines[i + 1:]:
                if depth(nxt) <= depth(line):
                    break
                sub.append(nxt)
            yield sub


def test_band_batches_cap_each_batch_on_its_bands(spark, monkeypatch, caplog):
    """band_batches: each batch's cap window reads only that batch's
    bands (the band filter sits under the window, so its exchange moves
    ~1/B of the bucket relation), and the drop counts summed over the
    batches are logged once."""
    docs = _flooded(spark)
    cls = type(docs)
    plans = []
    real = cls.localCheckpoint

    def spy(self, *a, **kw):
        plans.append(self._jdf.queryExecution().optimizedPlan().toString())
        return real(self, *a, **kw)

    with cache_scope():
        single = {
            (r.id_a, r.id_b)
            for r in D.minhash_lsh_pairs(docs, max_bucket=50).collect()
        }
        monkeypatch.setattr(cls, "localCheckpoint", spy)
        with caplog.at_level("WARNING", logger=D.__name__):
            out = D.minhash_lsh_pairs(docs, max_bucket=50, band_batches=4)
        batched = {(r.id_a, r.id_b) for r in out.collect()}
    assert batched == single
    assert len(plans) == 4
    for plan in plans:
        subs = list(_window_subtrees(plan))
        assert subs, plan
        for sub in subs:
            assert any(
                re.search(r"Filter .*band#\d+ >= \d", ln) for ln in sub
            ), plan
    msgs = [r.getMessage() for r in caplog.records if "bucket cap" in r.getMessage()]
    assert len(msgs) == 1 and "dropped 8 buckets (960 rows)" in msgs[0], msgs


@pytest.mark.parametrize("cache", [True, False])
@pytest.mark.parametrize("op", ["minhash", "simhash"])
def test_cap_launches_no_construction_jobs(spark, op, cache):
    """Building a capped op launches no more Spark jobs than building it
    cap-off: the cap is planned, never probed by the driver."""
    fn = {"minhash": D.minhash_lsh_pairs, "simhash": D.simhash_pairs}[op]
    tracker = spark.sparkContext.statusTracker()
    docs = _flooded(spark)

    def jobs_to_build(max_bucket):
        with cache_scope():
            before = set(tracker.getJobIdsForGroup(None) or [])
            fn(docs, cache=cache, max_bucket=max_bucket)
            return len(set(tracker.getJobIdsForGroup(None) or []) - before)

    assert jobs_to_build(50) <= jobs_to_build(None)


def test_block_split_is_observed(spark):
    """Split mode: a hot block past the cap becomes ceil(n/cap) hash
    sub-blocks, counted as ``<op>.block_cap`` on the query's action."""
    rows = [(i, 0, [1.0, float(i % 7)]) for i in range(30)]
    rows += [(100 + i, 1, [float(i), 1.0]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, label long, embedding array<double>")
    out = S.blocked_cosine_pairs(df, threshold=-1.0, max_block=10, cache=False)
    got = out.collect()
    assert observed_metrics(out)["blocked_cosine_pairs.block_cap"] == {
        "split_blocks": 1, "split_rows": 30,
    }
    # the cold block keeps every pair; the hot block only within-sub pairs
    assert sum(r.label == 1 for r in got) == 5 * 4 // 2
    assert sum(r.label == 0 for r in got) < 30 * 29 // 2


def test_shortest_hops_zero_hops_never_reads_edges(spark):
    """max_hops=0 answers from the seeds alone: no job on the edges (an
    edge relation that raises when evaluated proves it)."""
    from timeseriesfuser_spark.ops.graph import shortest_hops

    edges = spark.range(3).select(
        F.when(F.col("id") >= 0, F.raise_error(F.lit("edges evaluated")))
        .cast("long")
        .alias("id_a"),
        F.col("id").alias("id_b"),
    )
    seeds = spark.createDataFrame([(7,), (9,)], "id long")
    with cache_scope():
        got = {
            (r["id"], r["hops"])
            for r in shortest_hops(edges, seeds, max_hops=0).collect()
        }
    assert got == {(7, 0), (9, 0)}
