"""The one measurement harness behind ``bench.py``, ``scale_check.py`` and
the ``tools/`` scripts: the SparkSession factory, the frozen headline
query list, the machine-speed control workload and a per-query layer
record.

    from tools.harness import session, measure
    spark = session("my_cell", cpus="8", **{"spark.sql.shuffle.partitions": "64"})
    rec = measure("my_query", lambda: build_dataframe(spark))

Job and stage attribution comes from ``perfbench.spans`` (job tags read
back from the status store, so the UI stays off).
"""

from __future__ import annotations

import os
import sys
import threading
import time
from typing import Callable, Optional

from perfbench.spans import STAGE_FIELDS, Tracer, plan_seconds

CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# The frozen cross-round headline set: every family (fuse, resample,
# fill, sessions, relational, dedup, text, similarity), weighted toward
# the ones with real data volume. New queries do not go here.
HEADLINE = [
    "fuse_merge",
    "resample_1m_global",
    "resample_keys_1h",
    "forward_fill_global",
    "sessionize_30m",
    "tpch_q1_pricing",
    "top_orders_per_priority",
    "revenue_per_nation",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_stats",
    "lang_id",
    "doc_fingerprint",
    "similarity_topk",
    "embedding_neardup",
]


def session(app: str, cpus=None, **conf):
    """SparkSession at ``local[cpus]`` (default ``$SPARK_GRAFT_CPUS``, 32)
    with shuffle partitions = cpus, UTC session time zone, UI off, driver
    memory ``$SPARK_GRAFT_DRIVER_MEM`` (16g) and log level ERROR.

    ``conf`` maps Spark keys to values (pass them as ``**{"spark.x": v}``)
    and overrides those defaults; a ``None`` value sets nothing.
    """
    from pyspark.sql import SparkSession

    cpus = str(cpus or CPUS)
    settings = {
        "spark.sql.shuffle.partitions": cpus,
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        "spark.ui.enabled": "false",
        **conf,
    }
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app)
    for key, value in settings.items():
        if value is not None:
            builder = builder.config(key, str(value))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def control_workload(spark, rounds: int = 3) -> Optional[float]:
    """Same-session machine-speed control, min over ``rounds``; seconds.

    A fixed synthetic workload (20M range -> md5 -> groupBy agg -> noop)
    that never changes with repo code. The same query set has measured
    1.5-2.1x apart on one machine on one day (SCALE.md), so cross-session
    totals compare only relative to this number. Each round is guarded on
    its own: one failed round must not discard a valid reading. ``None``
    when every round failed.
    """
    from pyspark.sql import functions as F

    best = None
    for _ in range(rounds):
        try:
            t0 = time.perf_counter()
            (
                spark.range(20_000_000)
                .select(
                    (F.col("id") % 997).alias("k"),
                    F.md5(F.col("id").cast("string")).alias("h"),
                )
                .groupBy("k")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.min("h").alias("mn"),
                    F.max("h").alias("mx"),
                )
                .write.format("noop").mode("overwrite").save()
            )
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        except Exception as exc:  # noqa: BLE001 — the control is diagnostic
            print(f"# control round failed: {exc}", file=sys.stderr)
    return best


_tracer: Optional[Tracer] = None


def measure(name: str, fn: Callable) -> dict:
    """Build ``fn()`` and write the DataFrame it returns to the noop sink;
    return one layer record of that run:

    - ``build_s``: ``fn()`` — Python/py4j plan construction, with any job
      the construction starts;
    - ``exec_s``: the noop write — Catalyst optimization and planning
      plus execution (a non-DataFrame result writes nothing);
    - ``wall_s`` = ``build_s + exec_s``: the job-tag calls of the two
      spans and the bookkeeping below fall outside it;
    - ``plan_s``: Catalyst analysis + optimization + planning of the
      built DataFrame (``perfbench.spans.plan_seconds``). Analysis ran
      inside ``build_s``; the other two phases are planned once more
      after the timed run, standing in for the share of ``exec_s`` the
      write spends planning;
    - ``jobs``: jobs started by build and exec together;
    - ``stages``: the per-stage counters of those jobs, summed
      (``perfbench.spans.STAGE_FIELDS``: cpu ns, bytes, rows, ms, tasks).
    """
    from pyspark.sql import DataFrame, SparkSession

    global _tracer
    spark = SparkSession.active()
    if _tracer is None or _tracer.spark is not spark:
        _tracer = Tracer(spark, enabled=True)
    tr = _tracer
    tr.op = len(tr.spans)
    with tr.span(f"{name}.build") as build:
        df = fn()
    with tr.span(f"{name}.exec") as run:
        if isinstance(df, DataFrame):
            df.write.format("noop").mode("overwrite").save()
    tr.finish_op()
    build_s, exec_s = (s["end"] - s["start"] for s in (build, run))
    return {
        "wall_s": round(build_s + exec_s, 3),
        "build_s": round(build_s, 3),
        "plan_s": round(plan_seconds(df), 3) if isinstance(df, DataFrame) else 0.0,
        "exec_s": round(exec_s, 3),
        "jobs": build["jobs"] + run["jobs"],
        "stages": {k: int(build["stages"][k] + run["stages"][k]) for k in STAGE_FIELDS},
    }


def sample_scratch_peak(spark) -> Callable[[], int]:
    """Start sampling, every 2 s, the bytes in the directories the
    session's block manager writes shuffle, spill and disk-cache blocks
    to; the returned function stops the sampler, takes one last sample
    and returns the largest one.

    The directories are read from the running JVM, not from
    ``spark.local.dir``: ``SPARK_LOCAL_DIRS`` (or a cluster manager's
    setting) overrides that key, and a sampler of the pinned directory
    then reads 0."""
    dirs = spark._jvm.org.apache.spark.SparkEnv.get().blockManager().diskBlockManager().localDirs()
    paths = [d.getAbsolutePath() for d in dirs]

    def du() -> int:
        total = 0
        for path in paths:
            for root, _dirs, files in os.walk(path):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
        return total

    peak = [0]
    done = threading.Event()

    def sampler():
        while not done.is_set():
            peak[0] = max(peak[0], du())
            done.wait(2.0)

    th = threading.Thread(target=sampler, daemon=True)
    th.start()

    def stop() -> int:
        done.set()
        th.join(timeout=5)
        return max(peak[0], du())

    return stop
