"""Shared utilities for the extension ops."""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

_scopes = threading.local()


class CacheScope:
    """Collects the MEMORY_AND_DISK intermediates persisted by ops invoked
    inside a :func:`cache_scope` block, for deterministic release."""

    def __init__(self) -> None:
        self._dfs: list[DataFrame] = []

    def track(self, df: DataFrame) -> None:
        self._dfs.append(df)

    def release(self) -> None:
        """Unpersist every tracked relation (idempotent)."""
        for df in self._dfs:
            try:
                df.unpersist()
            except Exception:  # noqa: BLE001 — session may already be gone
                pass
        self._dfs.clear()


@contextmanager
def cache_scope():
    """Deterministic lifecycle for operator-internal persists.

    Several ops persist multi-consumer intermediates (resample's gap-fill
    buckets, the LSH block relations, …) that outlive the
    returned DataFrame's plan — lazy evaluation runs after the op
    returns, so the op itself has no unpersist point. Long-lived sessions
    calling such ops in a loop accumulate one evictable cache entry per
    call; the blunt fixes are ``cache=False`` (recompute) or
    ``spark.catalog.clearCache()`` (nukes the caller's own caches too).

    This scope is the surgical fix::

        with cache_scope():
            out = resample_last_interval(df, "1h", ...)
            out.write.parquet(...)          # consume INSIDE the scope
        # every persist the ops registered is now released

    Scopes nest (inner persists release with the inner scope) and are
    thread-local: an op must run on the same thread that opened the
    scope. Consume the result before the scope exits — afterwards the
    plan recomputes the unpersisted intermediates from scratch (correct,
    just slower).
    """
    stack = getattr(_scopes, "stack", None)
    if stack is None:
        stack = _scopes.stack = []
    scope = CacheScope()
    stack.append(scope)
    try:
        yield scope
    finally:
        stack.remove(scope)
        scope.release()


def track_persist(df: DataFrame) -> DataFrame:
    """Register a just-persisted relation with the innermost active
    :func:`cache_scope` (no-op when none is active). Ops call this at
    every ``persist()`` site so callers get a deterministic release
    point without the return types changing."""
    stack = getattr(_scopes, "stack", None)
    if stack:
        stack[-1].track(df)
    return df


def observed_metrics(df: DataFrame) -> dict:
    """Named ``observe`` metrics of ``df``'s own last action, as
    ``{name: {metric: value}}`` — e.g. the hot-bucket caps'
    ``"<op>.bucket_cap"`` drop counts. Read it after an action that runs
    ``df``'s plan (``collect``, ``toPandas``, a write); ``count()`` runs
    a new plan whose metrics land elsewhere. An observation in a branch
    that AQE replaced by an empty relation is missing."""
    it = df._jdf.queryExecution().observedMetrics().iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        row = kv._2()
        out[kv._1()] = {
            f: row.get(i) for i, f in enumerate(row.schema().fieldNames())
        }
    return out


def iter_ckpt(df: DataFrame):
    """Eager **serialized** local checkpoint for iterative loops — the
    connected-components scale recipe (SCALE.md r23, 57M-edge cell),
    shared by every driver-orchestrated fixed-point loop (CC, pagerank,
    BFS, k-core, HITS). Returns ``(checkpointed_df, rdd_handle)``.

    Three deliberate behaviors, each measured load-bearing at 16 g:

    - the checkpoint stores SERIALIZED (PySpark's MEMORY_AND_DISK has
      deserialized=False): the JVM-default deserialized level holds
      InternalRows at ~100 B+/row, so a few 50M+-row rounds fill the
      heap; serialized blocks are UnsafeRow-compact and spill cleanly;
    - the checkpoint's (lazy) stats are memoized NOW, while its origin
      plan is live — consumers planned after the origin is released must
      not fall back to compounding size-estimate products (the
      BigInteger-stats planner pathology);
    - the returned ``rdd_handle`` lets the caller free the round's
      blocks the moment no later query can read them
      (:func:`free_ckpt`) instead of waiting for driver GC +
      ContextCleaner — without it ~k rounds of checkpoints accumulate
      k× the iterate on heap+disk.
    """
    from pyspark import StorageLevel

    ck = df.localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)
    try:
        ck._jdf.queryExecution().optimizedPlan().stats()
        handle = ck._jdf.queryExecution().analyzed().rdd()
    except Exception:  # pragma: no cover — diagnostics/cleanup best-effort
        handle = None
    return ck, handle


def free_ckpt(handle) -> None:
    """Eagerly unpersist an :func:`iter_ckpt` handle's blocks (async, no
    job). Safe to call only once every reader of the checkpointed round
    has RUN (eager checkpoints and counts are synchronous, so liveness
    is provable at the call site)."""
    if handle is not None:
        try:
            handle.unpersist(False)
        except Exception:  # pragma: no cover — cleanup is best-effort
            pass


def spread_small_input(df: DataFrame) -> DataFrame:
    """Ensure at least default-parallelism partitions for expression-heavy
    per-row work (hashing, shingling, vector math).

    A small table often arrives as ONE parquet split, serializing all the
    per-row compute on a single core. At real scale the scan already has
    >= cores splits and this is a no-op — the guard means we never add a
    shuffle to a big input. (Cheap: inspects the plan's partitioning, runs
    no job.)
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


#: Below this estimated input size execution is stage-count-bound, not
#: CPU-bound. Two users: the per-row (projection) signature strategies win
#: below it (dedup, similarity), and the fuser forward-fills a file-backed
#: stream below it in one window instead of the bucketed scan
#: (operators.fuse).
SMALL_INPUT_BYTES = 64 << 20


def spread_kernel_input(df: DataFrame, bytes_per_slice: int = 8 << 20) -> DataFrame:
    """Partitioning for Arrow/numpy KERNEL stages (``mapInArrow`` matmuls):
    enough slices to saturate the vectorized compute, never far more.

    Each kernel slice pays a fixed Python-worker round trip (worker
    handshake + Arrow stream setup, ~10-15 ms) that the JVM-expression
    paths :func:`spread_small_input` serves don't; and the kernel's
    per-byte cost is matmul-cheap, so a tiny input spread across every
    core is pure fixed cost (measured sf0.1: the 2000-row SRP signature
    relation runs 2.6x faster on its single scan split than spread to 32
    slices). Known input bytes → ceil(bytes / bytes_per_slice) slices
    capped at default parallelism, so mid-size inputs still fan out and
    at real scale the scan already has >= cores splits (no-op, same
    guarantee as spread_small_input). Unknown size (derived frames) →
    full parallelism, the conservative large-input default. Partitioning
    only — per-row results are unaffected.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    est = estimated_input_bytes(df)
    if est is not None:
        target = max(1, min(target, -(-est // bytes_per_slice)))
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def estimated_input_bytes(df: DataFrame):
    """Best-effort input size: driver-side ``os.stat`` of the scan's file
    list (no data IO; capped at 10k files). Returns ``None`` when the
    input is not file-backed (synthetic ranges, in-memory frames,
    post-shuffle intermediates) — each caller picks its OWN unknown-size
    policy: the vectorized-signature switch treats unknown as LARGE
    (conservative for the vectorized path), while the cache footprint
    guard (``dedup._maybe_cache``) measures the relation instead (or
    takes a caller ``size_hint``)."""
    import os
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files or len(files) > 10_000:
        return None
    total = 0
    for f in files:
        # inputFiles() returns escaped URIs: a space is %20, a % is %25.
        p = unquote(urlparse(f).path) if f.startswith("file:") else f
        try:
            total += os.path.getsize(p)
        except OSError:
            return None
    return total
