"""Similarity search over embedding columns (``array<float>``).

Two paths:

- :func:`cosine_topk` — brute-force exact top-k: broadcast the (small)
  query set against the corpus; per-pair cosine via JVM higher-order
  functions (``zip_with`` + ``aggregate``), rank with a per-query window.
  O(|queries|·|corpus|) — the correctness baseline and fine whenever the
  query side broadcasts.
- :func:`ivf_cosine_topk` — the scale path: IVF-style partitioning. Vectors
  are assigned to their nearest centroid (inverted lists); a query probes
  only its ``nprobe`` nearest lists. Corpus-side work drops by
  ~nprobe/n_centroids; recall is approximate.

Determinism contract (what makes a SQL oracle byte-exact): embeddings are
quantized to integers (``round(x*scale)``), so dot products and norms are
*integer* sums — order-independent and engine-independent. The final
``dot/(sqrt(na)*sqrt(nb))`` is a fixed sequence of correctly-rounded IEEE
ops on exact integers, hence bit-identical everywhere. Floating-point
accumulation (whose value depends on reduction order) never occurs.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from timeseriesfuser_spark.ops.util import spread_kernel_input, spread_small_input


def quantized(vec: Column, scale: int = 1000) -> Column:
    """array<float> → array<long> via round(x*scale)."""
    return F.transform(vec, lambda x: F.round(x.cast("double") * scale).cast("long"))


def _sq_norm(qvec: Column) -> Column:
    return F.aggregate(qvec, F.lit(0).cast("long"), lambda acc, x: acc + x * x)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


# --------------------------------------------------------------------------- #
# Arrow/numpy scoring kernels
#
# The JVM higher-order functions above are CodegenFallback: every array
# element costs an interpreted lambda eval with boxed longs, and Catalyst's
# projection collapse happily inlines `quantized`/`_sq_norm` into post-join
# per-PAIR expressions (re-quantizing both vectors for every candidate pair).
# Where the compute is a dense matrix product over MANY rows — brute-force
# scoring (|corpus|·|queries|·dim) and SRP signatures (|corpus|·planes·dim)
# — the work moves into one numpy matmul per Arrow batch (guide §4.2: hand
# whole batches to vectorized native code). The Arrow transfer is one pass
# of (id, vector) per row — far below the O(rows·planes·dim) compute — and
# per-pair verify dots (transfer ≈ compute) deliberately stay in the JVM.
#
# Exactness contract (what keeps the SQL oracles byte-identical): inputs are
# the ALREADY-QUANTIZED integer vectors (rounding semantics never leave the
# JVM); the matmul fast path runs only under a provable no-overflow bound
# (dim · max|a| · max|b| < 2^63 — every product AND every partial sum stays
# in range), where int64 arithmetic is exact; otherwise the row-at-a-time
# fallback replicates the JVM's ANSI semantics operation by operation,
# raising on any overflowing product/sum exactly where the JVM would. The
# final float steps replicate the JVM expression order — (double)dot /
# (sqrt((double)qn) * sqrt((double)cn)) — all IEEE correctly-rounded ops.
# --------------------------------------------------------------------------- #

_I64_MIN = -(1 << 63)
_I64_MAX = (1 << 63) - 1


def _ansi_i64(x: int) -> int:
    """Range-check an exact Python int against Java long, raising like the
    JVM's ANSI arithmetic does on overflow (used by the row-at-a-time
    fallback paths; the declared queries never overflow)."""
    if x < _I64_MIN or x > _I64_MAX:
        raise ArithmeticError(
            "[ARITHMETIC_OVERFLOW] long overflow in similarity kernel "
            "(twin of the JVM's ANSI integer arithmetic)"
        )
    return x


def _i64_sq_norm(vec):
    """Exact JVM twin of ``_sq_norm`` (aggregate(v, 0L, acc + x*x)) for one
    collected vector: None when the vector is null or has a null element;
    every element's square is still range-checked (the JVM evaluates x*x
    for every element even after the accumulator went null)."""
    if vec is None:
        return None
    acc = 0
    for e in vec:
        if e is None:
            acc = None
            continue
        sq = _ansi_i64(e * e)
        if acc is not None:
            acc = _ansi_i64(acc + sq)
    return acc


def _i64_dot(a, b):
    """Exact JVM twin of ``_dot`` (aggregate(zip_with(a, b, x*y), 0L,
    acc + x)): zip_with pads the shorter side with nulls, a null operand
    yields a null product without arithmetic, every non-null product and
    partial sum is range-checked."""
    if a is None or b is None:
        return None
    n = max(len(a), len(b))
    acc = 0
    for i in range(n):
        x = a[i] if i < len(a) else None
        y = b[i] if i < len(b) else None
        p = None if x is None or y is None else _ansi_i64(x * y)
        acc = None if p is None or acc is None else _ansi_i64(acc + p)
    return acc


def _abs_bound(mat) -> int:
    """max(|mat|) as an exact Python int (np.abs would silently wrap on
    int64 min)."""
    return max(int(mat.max()), -int(mat.min()))


def _list_matrix(lists):
    """(n, d) int64 matrix view of an Arrow ListArray when every row is
    non-null, null-element-free and of one uniform length d >= 1 — else
    None (callers fall back to the exact row-at-a-time path)."""
    import numpy as np

    if lists.null_count:
        return None
    vals = lists.values
    if vals.null_count:
        return None
    offs = lists.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    if len(offs) < 2:
        return None
    lens = np.diff(offs)
    d = int(lens[0]) if len(lens) else 0
    if d < 1 or not (lens == d).all():
        return None
    flat = vals.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    return flat[offs[0]: offs[-1]].reshape(len(lens), d)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Exact top-``k`` neighbors per query vector by quantized cosine.

    Output: (query_id, neighbor_id, cosine, rank). Self-matches (same id)
    excluded. Ties broken by neighbor id — fully deterministic.
    The query side is collected once (it is small by contract — the
    previous formulation broadcast it) and scored against the corpus in
    one numpy matmul per Arrow batch: the corpus crosses the Python
    boundary once as (id, quantized vector), O(C·d) transfer for the
    O(Q·C·d) compute (guide §4.2). Exactness: quantization, the final
    rounding, the self-pair filter and the ranking window all stay in
    the JVM; the kernel's wrapped-int64 dots/norms and fixed-order IEEE
    division are bit-identical to the former JVM expressions (see the
    kernel-helpers comment above). The compute is inherently O(Q·C)
    (exactness requires scoring every corpus vector), but the SHUFFLE is
    not: Spark's rank-limit pushdown plans a partial ``WindowGroupLimit``
    before the exchange, so each task ships at most k rows per query,
    not its whole score partition (plan-gated).
    """
    from pyspark.sql.pandas.types import to_arrow_type

    c = spread_kernel_input(corpus).select(
        F.col(id_col).alias("neighbor_id"), quantized(F.col(vec_col), scale).alias("__cv")
    )
    # The query side is small by this op's own contract (the old plan
    # broadcast it); collecting it once replaces the per-pair interpreted
    # zip_with/aggregate dot — O(Q·C·d) boxed lambda evals that Catalyst's
    # projection collapse additionally made re-quantize BOTH vectors per
    # pair — with one numpy matmul per Arrow batch (guide §4.2).
    # Quantization and the query norms are still computed by the JVM.
    q_rows = (
        queries.select(
            F.col(id_col).alias("query_id"), quantized(F.col(vec_col), scale).alias("__qv")
        )
        .withColumn("__qn", _sq_norm(F.col("__qv")))
        .collect()
    )
    qids = [r["query_id"] for r in q_rows]
    qvecs = [r["__qv"] for r in q_rows]
    qns = [r["__qn"] for r in q_rows]
    qid_pa = to_arrow_type(queries.schema[id_col].dataType)
    pair_schema = T.StructType(
        [
            T.StructField("query_id", queries.schema[id_col].dataType, True),
            T.StructField("neighbor_id", corpus.schema[id_col].dataType, True),
            T.StructField("cosine", T.DoubleType(), True),
        ]
    )

    def score(batches):
        import math

        import numpy as np
        import pyarrow as pa

        nq = len(qids)
        if nq == 0:
            return
        # Query matrix fast path: every query vector non-null, no null
        # elements, one uniform dimension.
        qd = len(qvecs[0]) if qvecs[0] is not None else -1
        q_uniform = qd >= 1 and all(
            v is not None and len(v) == qd and all(e is not None for e in v)
            for v in qvecs
        )
        if q_uniform:
            qmat = np.array(qvecs, dtype=np.int64)                 # (nq, qd)
            q_bound = _abs_bound(qmat)
            q_ok = np.array([qn is not None and qn > 0 for qn in qns])
            sq = np.sqrt(np.array([qn or 0 for qn in qns], dtype=np.int64).astype(np.float64))
        for batch in batches:
            nc = batch.num_rows
            if nc == 0:
                continue
            names = batch.schema.names
            nid_arr = batch.column(names.index("neighbor_id"))
            cv_arr = batch.column(names.index("__cv"))
            cmat = _list_matrix(cv_arr) if q_uniform else None
            if cmat is not None and (
                cmat.shape[1] != qd
                # No-overflow proof: every product and partial sum of the
                # dots and corpus norms stays inside int64, so the numpy
                # arithmetic is exact (else: ANSI-faithful fallback).
                or qd * _abs_bound(cmat) * max(q_bound, _abs_bound(cmat)) > _I64_MAX
            ):
                cmat = None
            if cmat is not None:
                # (dot, cn) in wrapped int64 — bit-identical to the JVM's
                # sequential long arithmetic (mod-2^64 sums are order-free).
                cn = (cmat * cmat).sum(axis=1)                     # (nc,)
                dots = cmat @ qmat.T                               # (nc, nq)
                sc = np.sqrt(cn.astype(np.float64))
                # JVM expression order: (double)dot / (sqrt(qn)*sqrt(cn))
                denom = sq[None, :] * sc[:, None]                  # (nc, nq)
                mask = q_ok[None, :] & (cn > 0)[:, None]
                cos = np.zeros((nc, nq), dtype=np.float64)
                np.divide(dots.astype(np.float64), denom, out=cos, where=mask)
                for j in range(nq):
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array([qids[j]] * nc, type=qid_pa),
                            nid_arr,
                            pa.array(cos[:, j], type=pa.float64()),
                        ],
                        names=["query_id", "neighbor_id", "cosine"],
                    )
                continue
            # Exact row-at-a-time fallback (nulls, ragged dims, dim
            # mismatch): the _i64_* helpers replicate the JVM expressions.
            cvs = cv_arr.to_pylist()
            cns = [_i64_sq_norm(v) for v in cvs]
            for j in range(nq):
                qv, qn = qvecs[j], qns[j]
                vals = []
                for i in range(nc):
                    cn_i = cns[i]
                    if qn is None or cn_i is None or qn <= 0 or cn_i <= 0:
                        vals.append(0.0)
                        continue
                    dot = _i64_dot(qv, cvs[i])
                    if dot is None:
                        vals.append(None)
                        continue
                    vals.append(
                        float(dot) / (math.sqrt(float(qn)) * math.sqrt(float(cn_i)))
                    )
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array([qids[j]] * nc, type=qid_pa),
                        nid_arr,
                        pa.array(vals, type=pa.float64()),
                    ],
                    names=["query_id", "neighbor_id", "cosine"],
                )

    pairs = c.mapInArrow(score, schema=pair_schema).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    if round_to is not None:
        pairs = pairs.withColumn("cosine", F.round(F.col("cosine"), round_to))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def srp_plane_component(p: Column, i: Column) -> Column:
    """Deterministic pseudo-random hyperplane component in [-1000, 1000]:
    (md5-hash64 of "p:i") % 2001 − 1000. Engine-portable (md5 + hex parse
    + modulo on a non-negative value), so a SQL oracle generates the SAME
    planes — no RNG, no state to ship."""
    h = F.conv(
        F.substring(F.md5(F.concat(p.cast("string"), F.lit(":"), i.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    return h % 2001 - 1000


def _srp_plane_matrix(planes: int, dim: int):
    """(planes, dim) int64 matrix of :func:`srp_plane_component` values,
    computed on the driver with hashlib (bit-identical to the JVM
    expression: md5 of "p:i" utf-8, first 15 hex chars parsed base-16 —
    a non-negative value < 2^60 — then % 2001 − 1000; Java's ``%`` on
    non-negative operands equals Python's)."""
    import hashlib

    import numpy as np

    mat = np.empty((planes, dim), dtype=np.int64)
    for p in range(planes):
        for i in range(dim):
            h = int(hashlib.md5(f"{p}:{i}".encode()).hexdigest()[:15], 16)
            mat[p, i] = h % 2001 - 1000
    return mat


def _srp_signatures_from(v: DataFrame, planes: int, dim: int) -> DataFrame:
    """(id, sh): ``planes``-bit SRP signature from a (id, v array<long>)
    relation — one Arrow/numpy matmul pass + one groupBy (map-side
    partial).

    The former formulation exploded every row against a broadcast plane
    relation and evaluated the dot as an interpreted zip_with/aggregate
    HOF: O(rows·planes·dim) boxed lambda evals. The kernel moves the
    identical arithmetic into one int64 matmul per Arrow batch (guide
    §4.2); wrapped mod-2^64 sums are order-free, so the per-row ``sh``
    is bit-identical (the fast path runs only under a provable
    no-overflow bound; plane components are in [-1000, 1000]). Row
    semantics preserved exactly: a null vector, a null element, or a
    length ≠ ``dim`` made every per-plane dot NULL, i.e. every bit 0 —
    sh = 0 (the ANSI-faithful fallback still range-checks the products
    the JVM would have evaluated). The groupBy(sum) stays so duplicate
    ids still combine across rows exactly as the exploded aggregate did.
    """
    plane_mat = _srp_plane_matrix(planes, dim)
    id_type = v.schema["id"].dataType
    sig_schema = T.StructType(
        [
            T.StructField("id", id_type, True),
            T.StructField("sh", T.LongType(), True),
        ]
    )

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        pmat = plane_mat  # (planes, dim)
        # shiftleft(1L, p) in Java masks the shift to p & 63
        bitvals = (np.int64(1) << (np.arange(planes, dtype=np.int64) & 63))[None, :]
        for batch in batches:
            if batch.num_rows == 0:
                continue
            names = batch.schema.names
            id_arr = batch.column(names.index("id"))
            v_arr = batch.column(names.index("v"))
            mat = _list_matrix(v_arr)
            if mat is not None and (
                mat.shape[1] != pmat.shape[1]
                or mat.shape[1] * 1000 * _abs_bound(mat) > _I64_MAX
            ):
                mat = None
            if mat is not None:
                dots = mat @ pmat.T                                # (n, planes)
                sh = np.where(dots >= 0, bitvals, np.int64(0)).sum(
                    axis=1, dtype=np.int64
                )
            else:
                plane_lists = [[int(x) for x in pmat[p]] for p in range(pmat.shape[0])]
                sh = np.zeros(batch.num_rows, dtype=np.int64)
                for i, vec in enumerate(v_arr.to_pylist()):
                    if vec is None:
                        continue                                   # dot NULL → sh 0
                    acc = 0
                    for p, parr in enumerate(plane_lists):
                        dot = _i64_dot(vec, parr)
                        if dot is not None and dot >= 0:
                            acc += _I64_MIN if (p & 63) == 63 else 1 << (p & 63)
                    sh[i] = acc
            yield pa.RecordBatch.from_arrays(
                [id_arr, pa.array(sh, type=pa.int64())], names=["id", "sh"]
            )

    return (
        v.select("id", "v")
        .mapInArrow(kernel, schema=sig_schema)
        .groupBy("id")
        .agg(F.sum("sh").alias("sh"))
    )


def srp_signatures(
    df: DataFrame,
    planes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Public signature surface: (id, sh) SRP bit signatures — usable as a
    compact sketch column (store once, block repeatedly) and directly
    SQL-oracle-checkable since planes are md5-derived."""
    v = df.select(
        F.col(id_col).alias("id"), quantized(F.col(vec_col), scale).alias("v")
    )
    dim_row = v.select(F.size("v").alias("d")).first()
    if dim_row is None:
        # empty-input schema mirrors the non-empty path: the id keeps the
        # INPUT dtype (a hardcoded long would break string-id unions).
        return df.sparkSession.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("id", df.schema[id_col].dataType, True),
                    T.StructField("sh", T.LongType(), True),
                ]
            ),
        )
    return _srp_signatures_from(v, planes, dim_row["d"])


def srp_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.85,
    planes: int = 16,
    max_hamming: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    cache: bool = True,
    max_bucket="auto",
) -> DataFrame:
    """Embedding near-duplicate pairs via signed-random-projection LSH —
    the blocked scale path for embedding-cosine near-dup (the brute-force
    twin is an all-pairs self-join).

    Signatures: bit p = sign(v · plane_p) over ``planes`` deterministic
    hyperplanes (:func:`srp_plane_component`); two vectors' signature
    hamming distance estimates their angle (Charikar 2002). Candidates =
    pairs agreeing on ≥1 of ``max_hamming+1`` signature chunks (the same
    pigeonhole guarantee as SimHash: hamming ≤ max_hamming ⟹ some chunk
    equal), emitted at their first agreeing chunk (no distinct shuffle),
    then verified with exact quantized cosine ≥ ``threshold``.

    Zero-norm vectors never enter the candidate join when
    ``threshold > 0``: their cosine is defined as 0 so they can never
    verify, yet every ``dot >= 0`` test puts them all in ONE signature
    bucket (all bits set) — a corpus with millions of zero/padding
    embeddings would funnel C(n,2) candidate pairs through a single
    straggler task for guaranteed-empty output. Output-identical, plan
    bounded. ``max_bucket`` defaults to the family-wide "auto" cap
    (``ops.dedup.DEFAULT_MAX_BUCKET``): chunk buckets larger than the
    cap are dropped in the plan and counted as the observed metric
    ``srp_neardup_pairs.bucket_cap`` (``ops.dedup._window_cap``);
    ``None`` disables.

    Scale: one broadcast plane join + one groupBy for signatures; the
    candidate join touches only chunk-bucket collisions, never the corpus
    square. Output (id_a, id_b, hamming, cosine), id_a < id_b.
    """
    from timeseriesfuser_spark.ops.dedup import _window_cap

    spark = df.sparkSession
    # materialize=False: the dim probe right below computes ONE cached
    # partition (limit-1), and the blocks relation's eager count fills
    # the rest through this parent — a separate full count was a
    # redundant pass (the minhash darr lesson, r10).
    v = _maybe_cache(
        spread_kernel_input(df).select(
            F.col(id_col).alias("id"), quantized(F.col(vec_col), scale).alias("v")
        ).withColumn("n", _sq_norm(F.col("v"))),
        cache,
        materialize=False,
    )
    dim_row = v.select(F.size("v").alias("d")).first()
    if dim_row is None:
        return spark.createDataFrame(
            [], "id_a long, id_b long, hamming int, cosine double"
        )
    vj = v.filter(F.col("n") > 0) if threshold > 0 else v
    sig = _srp_signatures_from(vj, planes, dim_row["d"])
    nchunks = max_hamming + 1
    chunk = planes // nchunks
    masks = []
    for c in range(nchunks):
        width = chunk if c < nchunks - 1 else planes - chunk * (nchunks - 1)
        masks.append(((1 << width) - 1) << (c * chunk))
    structs = [
        F.struct(
            F.lit(c).alias("chunk"),
            F.col("sh").bitwiseAND(F.lit(masks[c])).alias("ckey"),
        )
        for c in range(nchunks)
    ]
    blocks = _maybe_cache(
        sig.select("id", "sh", F.explode(F.array(*structs)).alias("cc")).select(
            "id", "sh", F.col("cc.chunk").alias("chunk"), F.col("cc.ckey").alias("ckey")
        ),
        cache,
    )
    blocks = _window_cap(
        blocks, ["chunk", "ckey"], max_bucket, "srp_neardup_pairs"
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    xor = F.col("a.sh").bitwiseXOR(F.col("b.sh"))
    first_chunk = F.lit(True)
    for c in range(1, nchunks):
        cond = F.lit(True)
        for c2 in range(c):
            cond = cond & (xor.bitwiseAND(F.lit(masks[c2])) != 0)
        first_chunk = F.when(F.col("a.chunk") == c, cond).otherwise(first_chunk)
    cand = (
        a.join(b, (F.col("a.chunk") == F.col("b.chunk")) & (F.col("a.ckey") == F.col("b.ckey")))
        .filter((F.col("a.id") < F.col("b.id")) & first_chunk)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(xor).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    ja = v.select(F.col("id").alias("id_a"), F.col("v").alias("__va"), F.col("n").alias("__na"))
    jb = v.select(F.col("id").alias("id_b"), F.col("v").alias("__vb"), F.col("n").alias("__nb"))
    cos = F.round(
        F.when(
            (F.col("__na") > 0) & (F.col("__nb") > 0),
            _dot(F.col("__va"), F.col("__vb")).cast("double")
            / (F.sqrt(F.col("__na")) * F.sqrt(F.col("__nb"))),
        ).otherwise(F.lit(0.0)),
        6,
    )
    return (
        cand.join(ja, "id_a")
        .join(jb, "id_b")
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "hamming", "cosine")
    )


def _maybe_cache(df: DataFrame, cache: bool, materialize: bool = True) -> DataFrame:
    from timeseriesfuser_spark.ops.dedup import _maybe_cache as _mc

    return _mc(df, cache, materialize)


#: Default per-block row cap for the blocked-cosine family (mirrors
#: ``ops.dedup.DEFAULT_MAX_BUCKET``): a block of n rows costs n²·dim
#: multiply-adds in the self-join, so one boilerplate/mega-cluster block
#: turns the whole op into a single straggler task. Blocks past the cap
#: are SPLIT (not dropped — SemDeDup blocks carry real recall), bounding
#: per-sub-block cost at cap²·dim.
DEFAULT_MAX_BLOCK = 10_000


def assign_to_centroids(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id_col: str = "vec_id",
    cent_vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Exact nearest-centroid assignment: squared L2 over quantized
    integer vectors, ties → lowest centroid id. Returns one row per input
    vector: (id, cluster_id, d2).

    The clustering counterpart of :func:`_assign_nearest` with a
    *DataFrame* centroid relation and fully integer arithmetic — the
    distance and the argmin are exact, so a SQL oracle reproduces the
    assignment bit-for-bit (cosine-based assignment would hinge on sqrt
    rounding). Centroids are broadcast: the corpus side never shuffles,
    per-row work is k probes, k×dim broadcast bytes — same scale posture
    as the k-means assignment step.
    """
    q = df.select(
        F.col(id_col).alias("id"), quantized(F.col(vec_col), scale).alias("__v")
    )
    c = centroids.select(
        F.col(cent_id_col).alias("cid"),
        quantized(F.col(cent_vec_col), scale).alias("__cv"),
    )
    d2 = F.aggregate(
        F.zip_with(F.col("__v"), F.col("__cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    best = (
        q.join(F.broadcast(c))
        .withColumn("__d2", d2)
        .groupBy("id")
        .agg(
            F.min(
                F.struct(F.col("__d2").alias("d2"), F.col("cid").alias("cid"))
            ).alias("__m")
        )
    )
    return best.select(
        "id",
        F.col("__m.cid").alias("cluster_id"),
        F.col("__m.d2").alias("d2"),
    )


def _assign_nearest(q: DataFrame, centroids: list) -> DataFrame:
    """Add column ``c``: index of the nearest centroid by cosine (ties →
    lowest index), via a broadcast centroid join + ``min_by``.

    Scales in k×dim: the centroid table is broadcast DATA (one row per
    centroid), not inlined literal expressions — k=256, dim=768 is ~1.5 MB
    broadcast and a plain 256-way nested-loop probe per row, where
    literal-array codegen would generate megabytes of Java source.
    ``q`` must have columns (id, v array<long>, n long).
    """
    spark = q.sparkSession
    cents = spark.createDataFrame(
        [(i, [float(x) for x in c], float(sum(x * x for x in c)))
         for i, c in enumerate(centroids)],
        "c int, __ctv array<double>, __ctn double",
    )
    dot = F.aggregate(
        F.zip_with(F.col("v").cast("array<double>"), F.col("__ctv"),
                   lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = F.when(
        (F.col("n") > 0) & (F.col("__ctn") > 0),
        dot / (F.sqrt(F.col("n").cast("double")) * F.sqrt(F.col("__ctn"))),
    ).otherwise(F.lit(0.0))
    return (
        q.join(F.broadcast(cents))
        .withColumn("__ccos", cos)
        .groupBy("id")
        .agg(
            F.first("v").alias("v"),
            F.first("n").alias("n"),
            # lexicographic min of (-cos, c): highest cosine, ties → lowest
            # centroid index — matches a strict argmax scanned in index order
            F.min_by("c", F.struct((-F.col("__ccos")).alias("nc"),
                                   F.col("c").alias("ci"))).alias("c"),
        )
    )


def kmeans_fit(
    df: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> list:
    """Deterministic distributed k-means (Lloyd) over quantized vectors.

    - init: the ``k`` lowest-id vectors (reproducible, no RNG);
    - assign: nearest centroid by cosine via a broadcast centroid join
      (:func:`_assign_nearest` — scales to k=256, dim=768 where literal
      centroid expressions would blow up codegen); ties break to the
      lowest index;
    - update: per-cluster element sums via ``posexplode`` → one
      partial-aggregated groupBy per iteration; k×dim sums collected to
      the driver (fixed size, not data-proportional).

    Returns the centroid list for :func:`ivf_cosine_topk`'s ``centroids``
    parameter. Empty clusters keep their previous centroid.
    """
    q = df.select(
        F.col(id_col).alias("id"), quantized(F.col(vec_col), scale).alias("v")
    ).withColumn("n", _sq_norm(F.col("v")))
    init = [
        [float(x) for x in r["v"]]
        for r in q.orderBy("id").limit(k).collect()
    ]
    if not init:
        raise ValueError("kmeans_fit: input has no vectors")
    if len(init) < k:
        # fewer rows than clusters: every row is its own centroid — the
        # update loop otherwise indexes past the seed list for the empty
        # clusters >= n_rows.
        k = len(init)
    centroids = init
    dim = len(init[0])
    for _ in range(iters):
        assigned = _assign_nearest(q, centroids)
        # integer element sums (exact, order-independent) + counts
        sums = (
            assigned.select("c", F.posexplode("v").alias("pos", "x"))
            .groupBy("c", "pos")
            .agg(F.sum("x").alias("s"))
        )
        cnts = {r["c"]: r["cnt"] for r in
                assigned.groupBy("c").agg(F.count(F.lit(1)).alias("cnt")).collect()}
        acc = {}
        for r in sums.collect():
            acc.setdefault(r["c"], [0] * dim)[r["pos"]] = r["s"]
        centroids = [
            [acc[i][d] / cnts[i] for d in range(dim)]
            if i in cnts
            else centroids[i]
            for i in range(k)
        ]
    return centroids


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    centroids: Optional[list] = None,
) -> DataFrame:
    """Approximate top-k: probe only the ``nprobe`` nearest inverted lists.

    ``centroids``: a fitted centroid list (e.g. from :func:`kmeans_fit`).
    When omitted, a deterministic stub (the ``n_centroids`` lowest-id
    vectors) is used so results are reproducible without a training job —
    the plan shape is identical either way.
    """
    if centroids is not None:
        spark = corpus.sparkSession
        cents = spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
            "centroid_id int, __ctv array<double>",
        ).withColumn(
            "__ctn",
            F.aggregate(F.col("__ctv"), F.lit(0.0), lambda a, x: a + x * x),
        )
    else:
        cents = (
            corpus.orderBy(F.col(id_col))
            .limit(n_centroids)
            .select(
                F.col(id_col).alias("centroid_id"),
                quantized(F.col(vec_col), scale).alias("__ctv"),
            )
            .withColumn("__ctn", _sq_norm(F.col("__ctv")))
        )

    def nearest(df: DataFrame, idname: str, vecname: str, keep: int) -> DataFrame:
        if centroids is not None:
            # double centroids: float dot (exact — quantized products stay
            # far below 2^53)
            dot = F.aggregate(
                F.zip_with(
                    F.col(vecname).cast("array<double>"),
                    F.col("__ctv"),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        else:
            dot = _dot(F.col(vecname), F.col("__ctv")).cast("double")
        cos = F.when(
            (F.col("__ctn") > 0) & (F.col("__n") > 0),
            dot / (F.sqrt(F.col("__n")) * F.sqrt(F.col("__ctn"))),
        ).otherwise(F.lit(0.0))
        w = Window.partitionBy(idname).orderBy(F.desc("__ccos"), F.asc("centroid_id"))
        return (
            df.join(F.broadcast(cents))
            .withColumn("__ccos", cos)
            .withColumn("__crk", F.row_number().over(w))
            .filter(F.col("__crk") <= keep)
            .drop("__ccos", "__crk", "__ctv", "__ctn")
        )

    c = spread_small_input(corpus).select(
        F.col(id_col).alias("neighbor_id"), quantized(F.col(vec_col), scale).alias("__cv")
    ).withColumn("__n", _sq_norm(F.col("__cv")))
    c_assigned = nearest(c, "neighbor_id", "__cv", 1).withColumnRenamed("__n", "__cn")

    q = queries.select(
        F.col(id_col).alias("query_id"), quantized(F.col(vec_col), scale).alias("__qv")
    ).withColumn("__n", _sq_norm(F.col("__qv")))
    q_probed = nearest(q, "query_id", "__qv", nprobe).withColumnRenamed("__n", "__qn")

    dot = _dot(F.col("__qv"), F.col("__cv"))
    cos = F.round(
        F.when(
            (F.col("__qn") > 0) & (F.col("__cn") > 0),
            dot.cast("double") / (F.sqrt(F.col("__qn")) * F.sqrt(F.col("__cn"))),
        ).otherwise(F.lit(0.0)),
        6,
    )
    pairs = (
        c_assigned.join(F.broadcast(q_probed), "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cos)
        .select("query_id", "neighbor_id", "cosine")
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def rp_project(
    df: DataFrame,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Johnson-Lindenstrauss-style random-projection compression:
    (id, proj array<long>) where proj_p = v · plane_p over ``out_dim``
    md5-derived integer hyperplanes (:func:`srp_plane_component`) — the
    embedding-compression twin of ``srp_signatures`` that keeps the real
    dot products instead of their signs (for downstream coarse ANN /
    clustering in the compressed space). All-integer → engine-exact.

    Scale: one broadcast plane join (out_dim tiny rows) + one groupBy
    (map-side partial agg); the corpus never shuffles on anything but its
    own id. Output array ordered by plane index.
    """
    v = df.select(
        F.col(id_col).alias("id"), quantized(F.col(vec_col), scale).alias("v")
    )
    dim_row = v.select(F.size("v").alias("d")).first()
    if dim_row is None:
        return df.sparkSession.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("id", df.schema[id_col].dataType, True),
                    T.StructField("proj", T.ArrayType(T.LongType()), True),
                ]
            ),
        )
    dim = dim_row["d"]
    spark = df.sparkSession
    plane_df = spark.range(out_dim).select(
        F.col("id").cast("int").alias("p"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: srp_plane_component(F.col("id"), i),
        ).alias("parr"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("v"), F.col("parr"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        v.join(F.broadcast(plane_df))
        .select("id", F.col("p"), dot.alias("__c"))
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "__c"))),
                lambda x: x["__c"],
            ).alias("proj")
        )
    )


def semantic_dedup_pairs(
    df: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id_col: str = "vec_id",
    cent_vec_col: str = "embedding",
    scale: int = 1000,
    round_to: Optional[int] = 6,
    max_block="auto",
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: cluster-blocked
    pairwise cosine (Abbas et al. 2023's recipe — k-means partition, then
    all-pairs only WITHIN each cluster).

    Output: (cluster_id, keep_id, drop_id, cosine) for every within-cluster
    pair with cosine >= threshold; keep = lower id (the deterministic
    survivor convention used across the dedup ops).

    Scale: the corpus never does an all-pairs join — candidate generation
    cost is sum over clusters of |c|^2, bounded by the centroid count k
    (pick k ~ N/target_cluster_size; SemDeDup used 11k clusters for LAION).
    Two shuffles of the corpus (centroid argmin groupBy, cluster-key
    self-join); centroids broadcast. Skew = the largest cluster: when k
    is under-provisioned for N (the 23.9× sf1 ladder artifact, SCALE.md
    r10), ``max_block`` bounds it — hot clusters split into
    ``ceil(n/cap)`` hash sub-blocks (``ops.dedup._window_cap``; pairs
    across sub-blocks of a HOT cluster are skipped, counted as the
    observed metric ``semantic_dedup_pairs.block_cap``), capping
    per-task cost at cap²·dim no matter how wrong k is.
    """
    a = assign_to_centroids(
        df, centroids,
        id_col=id_col, vec_col=vec_col,
        cent_id_col=cent_id_col, cent_vec_col=cent_vec_col,
        scale=scale,
    ).select("id", "cluster_id")
    v = df.select(
        F.col(id_col).alias("id"), quantized(F.col(vec_col), scale).alias("__v")
    ).withColumn("__n", _sq_norm(F.col("__v")))
    from timeseriesfuser_spark.ops.dedup import _window_cap

    rel = _window_cap(
        _maybe_cache(a.join(v, "id"), True), ["cluster_id"], max_block,
        "semantic_dedup_pairs", split_id="id", default=DEFAULT_MAX_BLOCK,
    )
    jkeys = ["cluster_id", "__sub"]

    x, y = rel.alias("x"), rel.alias("y")
    dot = _dot(F.col("x.__v"), F.col("y.__v"))
    cos = F.when(
        (F.col("x.__n") > 0) & (F.col("y.__n") > 0),
        dot.cast("double") / (F.sqrt(F.col("x.__n")) * F.sqrt(F.col("y.__n"))),
    ).otherwise(F.lit(0.0))
    if round_to is not None:
        cos = F.round(cos, round_to)
    cond = F.col("x.id") < F.col("y.id")
    for k in jkeys:
        cond = (F.col(f"x.{k}") == F.col(f"y.{k}")) & cond
    return (
        x.join(y, cond)
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("x.cluster_id").alias("cluster_id"),
            F.col("x.id").alias("keep_id"),
            F.col("y.id").alias("drop_id"),
            "cosine",
        )
    )


def blocked_cosine_pairs(
    df: DataFrame,
    block_col: str = "label",
    threshold: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    round_to: Optional[int] = 6,
    max_block="auto",
    cache: bool = True,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs blocked on a caller-chosen
    key column (label / shard / language — any pre-existing partition of
    the corpus): all-pairs cosine WITHIN each block only, the
    :func:`semantic_dedup_pairs` recipe minus the k-means assignment.

    Output: (id_a, id_b, <block_col>, cosine) for every within-block
    pair with cosine >= threshold, id_a < id_b; zero-norm vectors are
    excluded (their cosine is defined 0 and can't meet a positive
    threshold).

    Scale: pair space is Σ|block|², never corpus² — and ``max_block``
    (default-on, :data:`DEFAULT_MAX_BLOCK`) bounds the hottest block by
    splitting it into hash sub-blocks, so a degenerate blocking column
    (one giant block) degrades to bounded work counted as the observed
    metric ``blocked_cosine_pairs.block_cap``, not a quadratic flood.
    One shuffle of the corpus (the block-key self-join).
    """
    rel = df.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("__b"),
        quantized(F.col(vec_col), scale).alias("__v"),
    ).withColumn("__n", _sq_norm(F.col("__v")))
    from timeseriesfuser_spark.ops.dedup import _window_cap

    rel = _window_cap(
        _maybe_cache(rel.filter(F.col("__n") > 0), cache), ["__b"],
        max_block, "blocked_cosine_pairs", split_id="id",
        default=DEFAULT_MAX_BLOCK,
    )
    jkeys = ["__b", "__sub"]
    # Gram-kernel path (guide §4.2/§8): the block self-join evaluates the
    # dot as an interpreted zip_with/aggregate per CANDIDATE pair —
    # O(Σ|block|²·dim) boxed lambda evals. Grouping by the join key
    # instead moves each vector across the Python boundary ONCE (O(N·d)
    # transfer for the same O(Σ|block|²·d) compute, now one numpy int64
    # gram matrix per block) and emits (id_a, id_b, dot, n_a, n_b);
    # quantization, norms, the cosine division/rounding and the threshold
    # stay in the JVM exactly as before. Exactness mirrors cosine_topk's
    # kernel: the matmul runs only under the provable no-overflow bound,
    # else exact per-pair Python-int dots that raise where the JVM's ANSI
    # arithmetic would; ragged-dim pairs (JVM: zip_with null-pads → null
    # cosine → dropped by the filter) are skipped. Same shuffle count as
    # the join (one exchange on the block key); per-group memory is
    # |block|·d·8 B — bounded by ``max_block`` on the default path, and
    # under ``max_block=None`` a block big enough to matter is already
    # quadratic-dead in the join formulation too.
    #
    # ADAPTIVE, same statistics call as _use_perrow_signatures: a
    # provably SMALL input keeps the join formulation — the kernel's
    # fixed costs (group exchange + sort + Python worker round trip)
    # exceed its entire win there (measured 1.34× slower on the 1 MB
    # sf0.1 headline, while a 100k-vector/128-dim cell runs 8.5× faster
    # in the kernel, tools/gram_cell.py) — LARGE or unknown-size inputs take the
    # kernel, whose advantage grows with Σ|block|²·d. Restricted to
    # integral ids so the kernel's id ordering is exactly the JVM's;
    # other id types always use the join formulation.
    from timeseriesfuser_spark.ops.dedup import _use_perrow_signatures
    from timeseriesfuser_spark.ops.util import SMALL_INPUT_BYTES

    if not _use_perrow_signatures(df, SMALL_INPUT_BYTES) and isinstance(
        rel.schema["id"].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    ):
        grouped = _blocked_pair_dots(rel, jkeys)
        cos = F.col("__dot").cast("double") / (
            F.sqrt(F.col("__na")) * F.sqrt(F.col("__nb"))
        )
        if round_to is not None:
            cos = F.round(cos, round_to)
        return (
            grouped.withColumn("cosine", cos)
            .filter(F.col("cosine") >= threshold)
            .select(
                "id_a", "id_b", F.col("__b").alias(block_col), "cosine"
            )
        )
    x, y = rel.alias("x"), rel.alias("y")
    dot = _dot(F.col("x.__v"), F.col("y.__v"))
    cos = dot.cast("double") / (F.sqrt(F.col("x.__n")) * F.sqrt(F.col("y.__n")))
    if round_to is not None:
        cos = F.round(cos, round_to)
    cond = F.col("x.id") < F.col("y.id")
    for k in jkeys:
        cond = (F.col(f"x.{k}") == F.col(f"y.{k}")) & cond
    return (
        x.join(y, cond)
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.col("x.__b").alias(block_col),
            "cosine",
        )
    )


def _blocked_pair_dots(rel: DataFrame, jkeys: list) -> DataFrame:
    """(id_a, id_b, __b, __dot, __na, __nb) for every within-group ordered
    pair of ``rel`` — the grouped-kernel replacement for the block-key
    self-join's per-pair interpreted dot.

    ``rel`` must carry (id integral, __b, __v array<long> fully non-null,
    __n long > 0) — :func:`blocked_cosine_pairs` guarantees this by
    filtering ``__n > 0`` (a null vector or element nulls the norm).
    Pair semantics replicate the join exactly: only rows with non-null
    group keys and id pair up (null keys never equi-match; a null id
    fails ``x.id < y.id``), equal ids never pair, ``id_a < id_b``, and
    ragged-dim pairs are skipped (the JVM zip_with null-pads them into a
    null cosine that the threshold filter drops). Dots are exact: numpy
    int64 gram under the proven bound dim·max|a|·max|b| ≤ i64 max, else
    per-pair Python-int arithmetic that raises on overflow exactly like
    the JVM's ANSI longs.

    Memory: STREAMING by construction — one exchange on the group key,
    blocks arrive contiguously (sortWithinPartitions), the kernel buffers
    only the current block's vectors (|block|·d·8 B, cap-bounded on the
    default ``max_block`` path) and emits pair batches in ≤2^18-row
    chunks, never the |block|² pair set at once (an applyInPandas grouped
    map would materialize all C(n,2) rows of a group in one pandas frame
    — 50M rows for a cap-sized 10k block)."""
    from pyspark.sql.pandas.types import to_arrow_type

    id_dt = rel.schema["id"].dataType
    b_dt = rel.schema["__b"].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_dt, True),
            T.StructField("id_b", id_dt, True),
            T.StructField("__b", b_dt, True),
            T.StructField("__dot", T.LongType(), True),
            T.StructField("__na", T.LongType(), True),
            T.StructField("__nb", T.LongType(), True),
        ]
    )
    id_pa = to_arrow_type(id_dt)
    b_pa = to_arrow_type(b_dt)
    CHUNK = 1 << 18

    def gen(batches):
        import numpy as np
        import pyarrow as pa

        # current-group buffer: per-batch slices, concatenated at flush
        cur_key = None
        ids_parts: list = []
        ns_parts: list = []
        vec_slices: list = []

        def flush():
            nonlocal ids_parts, ns_parts, vec_slices, cur_key
            if cur_key is None:
                return
            ids_np = np.concatenate(ids_parts) if ids_parts else np.array([], dtype=np.int64)
            n = len(ids_np)
            blk = cur_key[0]
            ids_parts, ns_parts_l, vec_slices_l = [], ns_parts, vec_slices
            ns_parts, vec_slices = [], []
            if n < 2:
                return
            ns_np = np.concatenate(ns_parts_l)
            mats = [_list_matrix(s) for s in vec_slices_l]
            mat = None
            if all(m is not None for m in mats):
                d0 = mats[0].shape[1]
                if all(m.shape[1] == d0 for m in mats):
                    mat = np.vstack(mats) if len(mats) > 1 else mats[0]
                    bound = _abs_bound(mat)
                    # every product and partial sum stays inside int64
                    if d0 * bound * bound > _I64_MAX:
                        mat = None
            pyv = None
            if mat is None:
                pyv = [v for s in vec_slices_l for v in s.to_pylist()]
            # chunked emission: anchor rows i against j > i
            oa: list = []
            ob: list = []
            od: list = []
            ona: list = []
            onb: list = []
            pending = 0
            for i in range(n - 1):
                jj = np.arange(i + 1, n)
                if mat is not None:
                    drow = mat[i + 1:] @ mat[i]
                else:
                    a = pyv[i]
                    drow = np.zeros(n - i - 1, dtype=np.int64)
                    ok = np.zeros(n - i - 1, dtype=bool)
                    if a is not None:
                        la = len(a)
                        av = [int(e) for e in a]
                        for t, jdx in enumerate(range(i + 1, n)):
                            b = pyv[jdx]
                            if b is None or len(b) != la:
                                continue
                            acc = 0
                            for xa, xb in zip(av, b):
                                acc = _ansi_i64(acc + _ansi_i64(xa * int(xb)))
                            drow[t] = acc
                            ok[t] = True
                    jj = jj[ok]
                    drow = drow[ok]
                ii = np.full(len(jj), i)
                keep = ids_np[ii] != ids_np[jj]
                swap = ids_np[ii] > ids_np[jj]
                ai = np.where(swap, jj, ii)[keep]
                bi = np.where(swap, ii, jj)[keep]
                oa.append(ids_np[ai])
                ob.append(ids_np[bi])
                od.append(drow[keep])
                ona.append(ns_np[ai])
                onb.append(ns_np[bi])
                pending += len(ai)
                if pending >= CHUNK or i == n - 2:
                    if pending:
                        yield pa.RecordBatch.from_arrays(
                            [
                                pa.array(np.concatenate(oa)).cast(id_pa),
                                pa.array(np.concatenate(ob)).cast(id_pa),
                                pa.array([blk] * pending, type=b_pa),
                                pa.array(np.concatenate(od), type=pa.int64()),
                                pa.array(np.concatenate(ona), type=pa.int64()),
                                pa.array(np.concatenate(onb), type=pa.int64()),
                            ],
                            names=["id_a", "id_b", "__b", "__dot", "__na", "__nb"],
                        )
                    oa, ob, od, ona, onb = [], [], [], [], []
                    pending = 0

        for batch in batches:
            if batch.num_rows == 0:
                continue
            names = batch.schema.names
            kvals = list(
                zip(*[batch.column(names.index(k)).to_pylist() for k in jkeys])
            )
            ids_col = batch.column(names.index("id"))
            ns_col = batch.column(names.index("__n"))
            v_col = batch.column(names.index("__v"))
            # contiguous runs of the (sorted-within-partition) group key
            start = 0
            for r in range(1, batch.num_rows + 1):
                if r < batch.num_rows and kvals[r] == kvals[start]:
                    continue
                if cur_key is not None and kvals[start] != cur_key:
                    yield from flush()
                cur_key = kvals[start]
                ln = r - start
                ids_parts.append(
                    ids_col.slice(start, ln)
                    .to_numpy(zero_copy_only=False)
                    .astype(np.int64)
                )
                ns_parts.append(
                    ns_col.slice(start, ln)
                    .to_numpy(zero_copy_only=False)
                    .astype(np.int64)
                )
                vec_slices.append(v_col.slice(start, ln))
                start = r
        yield from flush()

    clean = rel.filter(F.col("id").isNotNull())
    for k in jkeys:
        clean = clean.filter(F.col(k).isNotNull())
    return (
        clean.repartition(*[F.col(k) for k in jkeys])
        .sortWithinPartitions(*jkeys)
        .mapInArrow(gen, schema=out_schema)
    )


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Symmetric per-vector int8 quantization (the storage/serving format
    for billion-scale ANN indexes): q_i = round(v_i * 127 / amax(v)).

    Works on the scale-quantized integer vector (round(x*1000)) so `amax`
    is an exact integer; the per-element math is then one multiply, one
    divide, one round on exact-int inputs — bit-identical in any IEEE
    engine, hence SQL-oracle-checkable. All-zero vectors quantize to zeros.

    Output per vector: n_dims, amax_q (int amax of the quantized vector),
    exact int checksums (sum_q8, sum_sq_q8), saturation count (|q8|=127),
    and the int8 codes serialized as a CSV string (driver-canonicalizable).
    Pure per-row projection: NO shuffle at any scale.
    """
    qv = quantized(F.col(vec_col), scale)
    amax = F.array_max(F.transform(qv, lambda x: F.abs(x)))
    q8 = F.when(
        amax > 0,
        F.transform(qv, lambda x: F.round((x.cast("double") * 127.0) / amax).cast("long")),
    ).otherwise(F.transform(qv, lambda x: F.lit(0).cast("long")))
    out = df.select(
        F.col(id_col),
        F.size(qv).cast("long").alias("n_dims"),
        amax.cast("long").alias("amax_q"),
        q8.alias("__q8"),
    )
    return out.select(
        id_col,
        "n_dims",
        "amax_q",
        F.aggregate("__q8", F.lit(0).cast("long"), lambda a, x: a + x).alias("sum_q8"),
        F.aggregate("__q8", F.lit(0).cast("long"), lambda a, x: a + x * x).alias(
            "sum_sq_q8"
        ),
        F.aggregate(
            "__q8",
            F.lit(0).cast("long"),
            lambda a, x: a + F.when(F.abs(x) == 127, 1).otherwise(0),
        ).alias("n_saturated"),
        F.concat_ws(",", F.transform("__q8", lambda x: x.cast("string"))).alias(
            "q8_csv"
        ),
    )


def pq_train_codebooks(
    df: DataFrame,
    *,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    pre_quantized: bool = False,
) -> list:
    """Train per-subspace PQ codebooks with deterministic integer Lloyd
    iterations — the quality upgrade over the lowest-id seed stub
    (:func:`pq_codes` / :func:`ivf_pq_topk` default), measured by
    ``pq_recall`` at the same probe budget.

    All-integer and RNG-free so a SQL oracle reproduces the codebooks
    bit-for-bit (the :func:`kmeans_fit` convention, per subspace):

    - init: the ``k`` lowest-id vectors' subvectors (one shared seed set
      for every subspace);
    - assign: nearest codebook entry by exact integer squared-L2, ties →
      lowest code, via a broadcast codebook join (the corpus never
      shuffles on a data key);
    - update: new entry = element-wise ``floor(sum / count)`` of the
      members' quantized components — Python floor division on exact
      BIGINT sums, matching the SQL floor idiom. Empty entries keep their
      previous value.

    Returns ``codebooks[sub][code] = [dsub ints]`` — driver state is
    m·k·dsub ints (k=16, m=4, dsub=16 → 1 KiB), never data-proportional;
    per iteration one broadcast join + one (sub, code, pos) aggregate.
    """
    if m <= 0 or k <= 0 or iters < 0:
        raise ValueError("m, k must be positive and iters >= 0")
    # pre_quantized: the input vectors are ALREADY exact integer arrays
    # (e.g. ivf_residuals output) — quantizing again would re-scale them.
    vexpr = (
        F.col(vec_col).cast("array<long>")
        if pre_quantized
        else quantized(F.col(vec_col), scale)
    )
    q = df.select(F.col(id_col).alias("id"), vexpr.alias("__v"))
    seeds = q.orderBy("id").limit(k).collect()
    if not seeds:
        raise ValueError("pq_train_codebooks: input has no vectors")
    dim = len(seeds[0]["__v"])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    k = min(k, len(seeds))
    codebooks = [
        [list(seeds[c]["__v"][j * dsub: (j + 1) * dsub]) for c in range(k)]
        for j in range(m)
    ]
    if iters == 0:
        return codebooks

    spark = df.sparkSession
    ex = q.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("sub"),
                        F.slice(F.col("__v"), j * dsub + 1, dsub).alias("sv"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("__s"),
    ).select("id", F.col("__s.sub").alias("sub"), F.col("__s.sv").alias("sv"))
    from pyspark import StorageLevel

    from timeseriesfuser_spark.ops.util import track_persist

    ex = track_persist(ex.persist(StorageLevel.MEMORY_AND_DISK))
    try:
        for _ in range(iters):
            cb = codebook_relation(spark, codebooks)
            d2 = F.aggregate(
                F.zip_with(
                    F.col("sv"), F.col("csv"), lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            # Light argmin first (the hash-agg groups carry only two
            # longs — carrying each member's sv through the k-way fanned
            # aggregate measured as the spill bottleneck at
            # 100k x m=8 x k=128 = 102M candidate rows), then one
            # (id, sub) join back to the persisted subvector relation
            # feeds the update sums.
            best = (
                ex.join(F.broadcast(cb), "sub")
                .withColumn("__d2", d2)
                .groupBy("id", "sub")
                .agg(
                    F.min(
                        F.struct(
                            F.col("__d2").alias("d2"),
                            F.col("code").alias("code"),
                        )
                    )["code"].alias("code")
                )
            )
            rows = (
                ex.join(best, ["id", "sub"])
                .select("sub", "code", F.posexplode("sv").alias("pos", "x"))
                .groupBy("sub", "code", "pos")
                .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
                .collect()
            )
            acc: dict = {}
            for r in rows:
                acc.setdefault((r["sub"], r["code"]), [None] * dsub)[r["pos"]] = (
                    r["s"],
                    r["n"],
                )
            for (j, c), comps in acc.items():
                codebooks[j][c] = [s // n for (s, n) in comps]
    finally:
        ex.unpersist()
    return codebooks


def codebook_relation(spark, codebooks: list) -> DataFrame:
    """(sub, code, csv) relation from a trained codebook list — the
    broadcast side of :func:`pq_codes` / :func:`ivf_pq_topk`."""
    return spark.createDataFrame(
        [
            (j, c, [int(x) for x in codebooks[j][c]])
            for j in range(len(codebooks))
            for c in range(len(codebooks[j]))
        ],
        "sub int, code int, csv array<long>",
    )


def pq_codes(
    df: DataFrame,
    centroids: DataFrame = None,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    scale: int = 1000,
    codebooks: Optional[list] = None,
) -> DataFrame:
    """Product-quantization codes: split each vector into ``m`` contiguous
    subvectors and replace each with the id of its nearest codebook entry
    (integer squared-L2, ties → lowest code) — the memory layout that lets
    ANN search scan billions of vectors as m bytes each instead of dim
    floats (Jégou et al., PQ for nearest neighbor search).

    ``centroids``: codebook source relation; defaults to the input itself,
    from which the ``k`` lowest-id vectors seed one codebook per subspace
    (the same deterministic no-RNG init as ``kmeans_fit``).
    ``codebooks``: a trained list from :func:`pq_train_codebooks` —
    takes precedence over ``centroids``; the plan is identical either
    way (literal broadcast relation instead of a seed subquery).

    Output: (id, code_0 … code_{m-1} packed as a '-'-joined string ``pq``,
    ``sq_err`` = exact-int total squared quantization error).

    Scale: the codebook (m·k subvector rows) is BROADCAST; the corpus side
    fans out ×m (constant), probes k entries per subspace in a broadcast
    join, then one hash-agg per (vector, subspace) argmin and one per
    vector to reassemble — the corpus never shuffles on a data-dependent
    key, exactly the `assign_to_centroids` posture applied per-subspace.
    """
    if m <= 0 or k <= 0:
        raise ValueError("m and k must be positive")
    cents_src = centroids if centroids is not None else df
    q = df.select(
        F.col(id_col).alias("id"), quantized(F.col(vec_col), scale).alias("__v")
    )
    dim_row = q.select(F.size("__v").alias("d")).first()
    if dim_row is None:
        # same column NAME as the non-empty path (which renames id -> id_col)
        return q.select(
            F.col("id").alias(id_col),
            F.lit(None).cast("string").alias("pq"),
            F.lit(None).cast("long").alias("sq_err"),
        )
    dim = dim_row["d"]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m

    def subspaces(vcol):
        return F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("sub"),
                        F.slice(vcol, j * dsub + 1, dsub).alias("sv"),
                    )
                    for j in range(m)
                ]
            )
        )

    if codebooks is not None:
        cb = codebook_relation(df.sparkSession, codebooks).select(
            "code", "sub", F.col("csv")
        )
    else:
        # Codebook: k lowest-id vectors, one entry per (subspace, code). The
        # code is the 0-based rank of the seed vector (row_number over the k
        # collected ids — k is tiny, this is driver metadata, not data).
        seed_ids = [
            r["id"] for r in
            cents_src.select(F.col(id_col).alias("id")).orderBy("id").limit(k).collect()
        ]
        code_of = F.map_from_arrays(
            F.array(*[F.lit(i) for i in seed_ids]),
            F.array(*[F.lit(c) for c in range(len(seed_ids))]),
        )
        cb = (
            cents_src.select(
                F.col(id_col).alias("cid"),
                quantized(F.col(vec_col), scale).alias("__cv"),
            )
            .filter(F.col("cid").isin(seed_ids))
            .withColumn("code", F.element_at(code_of, F.col("cid")))
            .select("code", subspaces(F.col("__cv")).alias("__cs"))
            .select("code", F.col("__cs.sub").alias("sub"), F.col("__cs.sv").alias("csv"))
        )

    ex = q.select("id", subspaces(F.col("__v")).alias("__s")).select(
        "id", F.col("__s.sub").alias("sub"), F.col("__s.sv").alias("sv")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("sv"), F.col("csv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    best = (
        ex.join(F.broadcast(cb), "sub")
        .withColumn("__d2", d2)
        .groupBy("id", "sub")
        .agg(
            F.min(
                F.struct(F.col("__d2").alias("d2"), F.col("code").alias("code"))
            ).alias("__m")
        )
    )
    return (
        best.groupBy("id")
        .agg(
            F.concat_ws(
                "-",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("sub"), F.col("__m.code").alias("code"))
                        )
                    ),
                    lambda s: s["code"].cast("string"),
                ),
            ).alias("pq"),
            F.sum("__m.d2").cast("long").alias("sq_err"),
        )
        .withColumnRenamed("id", id_col)
    )


def bitext_mine(
    left: DataFrame,
    right: DataFrame,
    *,
    k: int = 1,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    round_to: Optional[int] = 6,
    threshold: float = 0.0,
) -> DataFrame:
    """Cross-corpus nearest-neighbor mining, blocked on a precomputed
    cluster/label column — the bitext-mining shape (for each document of
    corpus A, its best match in corpus B), also the cross-lingual
    alignment and train/eval-leakage probe primitive.

    Blocked like SemDeDup: candidate pairs exist only WITHIN a block, so
    the join is Σ|A_b|·|B_b| instead of |A|·|B|; at 100 TB the blocks
    come from the IVF/k-means assignment already computed for dedup. One
    equi-join on the block key + one per-left-id window over the
    block-bounded candidates. Quantized-integer dot; one division+sqrt
    chain → cross-engine exact; ties broken by the match id.

    Output: (query_id, match_id, block, cosine, rank) for the top-``k``
    matches per left row with cosine >= ``threshold``.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")

    def prep(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"{tag}_id"),
            F.col(block_col).alias(f"{tag}_b"),
            quantized(F.col(vec_col), scale).alias(f"{tag}_v"),
        ).withColumn(f"{tag}_n", _sq_norm(F.col(f"{tag}_v")))

    a, b = prep(left, "q"), prep(right, "m")
    dot = _dot(F.col("q_v"), F.col("m_v"))
    cos = F.when(
        (F.col("q_n") > 0) & (F.col("m_n") > 0),
        dot.cast("double") / (F.sqrt(F.col("q_n")) * F.sqrt(F.col("m_n"))),
    ).otherwise(F.lit(0.0))
    if round_to is not None:
        cos = F.round(cos, round_to)
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("m_id")
    )
    return (
        a.join(b, F.col("q_b") == F.col("m_b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("q_id").alias("query_id"),
            F.col("m_id").alias("match_id"),
            F.col("q_b").alias("block"),
            "cosine",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _coarse_centroids(
    corpus: DataFrame,
    centroids: Optional[list],
    n_centroids: int,
    id_col: str,
    vec_col: str,
    scale: int,
) -> DataFrame:
    """(centroid_id, __ctv, __ctn) coarse-quantizer relation: a TRAINED
    integer centroid list (kmeans_fit output — centroid_id = index) when
    given, else the deterministic lowest-id stub. Integer vectors either
    way so residual arithmetic stays exact."""
    if centroids is not None:
        return corpus.sparkSession.createDataFrame(
            [(i, [int(x) for x in c]) for i, c in enumerate(centroids)],
            "centroid_id int, __ctv array<long>",
        ).withColumn("__ctn", _sq_norm(F.col("__ctv")))
    return (
        corpus.orderBy(F.col(id_col))
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("centroid_id"),
            quantized(F.col(vec_col), scale).alias("__ctv"),
        )
        .withColumn("__ctn", _sq_norm(F.col("__ctv")))
    )


def ivf_residuals(
    corpus: DataFrame,
    *,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    centroids: Optional[list] = None,
) -> DataFrame:
    """(id, centroid_id, residual) — each corpus vector's exact integer
    residual against its IVF centroid, under the SAME deterministic
    coarse index as :func:`ivf_pq_topk` (centroids = n_centroids
    lowest-id vectors, cosine routing, ties -> lowest centroid id).

    This is the training input for residual PQ (IVF-then-PQ-on-residual,
    Jegou et al. §IV): residuals concentrate around 0 with far less
    variance than raw vectors, so the same (m, pq_k) codebook budget
    buys a finer quantization grid. Train with
    ``pq_train_codebooks(ivf_residuals(...), vec_col="residual",
    pre_quantized=True)`` and search with
    ``ivf_pq_topk(..., residual=True)``.

    Scale: one broadcast centroid join + WindowGroupLimit per-vector
    argmax — the corpus never shuffles on a data key.
    """
    c = spread_small_input(corpus).select(
        F.col(id_col).alias("id"),
        quantized(F.col(vec_col), scale).alias("__cv"),
    ).withColumn("__cn", _sq_norm(F.col("__cv")))
    cents = _coarse_centroids(
        corpus, centroids, n_centroids, id_col, vec_col, scale
    )
    dot = _dot(F.col("__cv"), F.col("__ctv")).cast("double")
    cos = F.when(
        (F.col("__ctn") > 0) & (F.col("__cn") > 0),
        dot / (F.sqrt(F.col("__cn")) * F.sqrt(F.col("__ctn"))),
    ).otherwise(F.lit(0.0))
    w = Window.partitionBy("id").orderBy(F.desc("__ccos"), F.asc("centroid_id"))
    return (
        c.join(F.broadcast(cents))
        .withColumn("__ccos", cos)
        .withColumn("__crk", F.row_number().over(w))
        .filter(F.col("__crk") == 1)
        .select(
            F.col("id").alias(id_col),
            "centroid_id",
            F.zip_with(
                F.col("__cv"), F.col("__ctv"), lambda a, b: a - b
            ).alias("residual"),
        )
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 4,
    pq_k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    codebooks: Optional[list] = None,
    residual: bool = False,
    centroids: Optional[list] = None,
) -> DataFrame:
    """IVF-ADC search (Jégou et al., PQ for nearest neighbor search): the
    composition that serves billion-vector ANN — probe the ``nprobe``
    nearest inverted lists only (IVF), then score candidates by PQ
    asymmetric distance: each corpus vector is its m-byte code, each query
    precomputes an m×pq_k table of exact integer subspace distances, and
    the approximate distance is the m-term table-lookup sum.

    Deterministic stub training (the :func:`ivf_cosine_topk` /
    :func:`pq_codes` convention): centroids = ``n_centroids`` lowest-id
    corpus vectors, codebooks = ``pq_k`` lowest-id corpus vectors split
    into ``m`` subspaces. Pass ``codebooks`` from
    :func:`pq_train_codebooks` for trained sub-codebooks (better recall
    at the same probe budget, identical plan shape — a literal broadcast
    relation replaces the seed subquery).

    Output: (query_id, neighbor_id, adc_d2, rank) where ``adc_d2`` is the
    EXACT integer ADC distance in quantized units² (rank ascending,
    ties → lowest neighbor_id).

    Scale (100 TB posture): the corpus fans out ×m (constant) to compute
    codes against a BROADCAST codebook, joins a BROADCAST probe map and a
    BROADCAST Q·m·pq_k ADC table, and aggregates once on
    (query, neighbor) — the corpus never shuffles on a data-dependent key,
    and the final top-k window is WindowGroupLimit-bounded. Corpus scan
    cost is the inverted-list fraction (~nprobe/n_centroids) of the
    brute-force product, with per-candidate work O(m) lookups instead of
    O(dim) multiplies.
    """
    if m <= 0 or pq_k <= 0 or k <= 0:
        raise ValueError("m, pq_k and k must be positive")
    if residual and codebooks is None:
        raise ValueError(
            "residual=True needs codebooks trained on ivf_residuals output"
        )

    c = spread_small_input(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        quantized(F.col(vec_col), scale).alias("__cv"),
    ).withColumn("__cn", _sq_norm(F.col("__cv")))
    dim_row = c.select(F.size("__cv").alias("d")).first()
    if dim_row is None:
        # empty-corpus schema must match the non-empty path: id columns keep
        # the INPUT id dtype (string ids stay string — the srp_signatures
        # convention), only the computed columns are fixed bigints.
        return c.select(
            F.lit(None).cast(queries.schema[id_col].dataType).alias("query_id"),
            F.lit(None).cast(corpus.schema[id_col].dataType).alias("neighbor_id"),
            F.lit(None).cast("long").alias("adc_d2"),
            # lit(0) keeps rank non-nullable, matching row_number downstream
            F.lit(0).cast("long").alias("rank"),
        ).limit(0)
    dim = dim_row["d"]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m

    cents = _coarse_centroids(
        corpus, centroids, n_centroids, id_col, vec_col, scale
    )

    def nearest(df: DataFrame, idname: str, vecname: str, nname: str, keep: int):
        # cosine centroid routing — the ivf_cosine_topk convention, so the
        # two indexes route identically and share oracle CTEs.
        dot = _dot(F.col(vecname), F.col("__ctv")).cast("double")
        cos = F.when(
            (F.col("__ctn") > 0) & (F.col(nname) > 0),
            dot / (F.sqrt(F.col(nname)) * F.sqrt(F.col("__ctn"))),
        ).otherwise(F.lit(0.0))
        w = Window.partitionBy(idname).orderBy(
            F.desc("__ccos"), F.asc("centroid_id")
        )
        return (
            df.join(F.broadcast(cents))
            .withColumn("__ccos", cos)
            .withColumn("__crk", F.row_number().over(w))
            .filter(F.col("__crk") <= keep)
            .select(idname, "centroid_id", vecname)
        )

    def subspaces(vcol, out):
        return F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("sub"),
                        F.slice(vcol, j * dsub + 1, dsub).alias(out),
                    )
                    for j in range(m)
                ]
            )
        )

    if codebooks is not None:
        cb = codebook_relation(corpus.sparkSession, codebooks)
    else:
        seed_ids = [
            r["id"]
            for r in corpus.select(F.col(id_col).alias("id"))
            .orderBy("id")
            .limit(pq_k)
            .collect()
        ]
        code_of = F.map_from_arrays(
            F.array(*[F.lit(i) for i in seed_ids]),
            F.array(*[F.lit(cd) for cd in range(len(seed_ids))]),
        )
        cb = (
            corpus.select(
                F.col(id_col).alias("cid"),
                quantized(F.col(vec_col), scale).alias("__cbv"),
            )
            .filter(F.col("cid").isin(seed_ids))
            .withColumn("code", F.element_at(code_of, F.col("cid")))
            .select("code", subspaces(F.col("__cbv"), "csv").alias("__cs"))
            .select("code", F.col("__cs.sub").alias("sub"), F.col("__cs.csv").alias("csv"))
        )

    def d2(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    # Corpus side: IVF list + per-subspace code (integer argmin, tie →
    # lowest code — the pq_codes convention).
    c_assigned = nearest(c, "neighbor_id", "__cv", "__cn", 1)
    if residual:
        # residual encoding: quantize v − centroid(v) against the
        # residual-trained codebooks (finer grid, same byte budget)
        ctv = cents.select("centroid_id", "__ctv")
        c_assigned = (
            c_assigned.join(F.broadcast(ctv), "centroid_id")
            .withColumn(
                "__cv", F.zip_with("__cv", "__ctv", lambda a, b: a - b)
            )
            .select("neighbor_id", "centroid_id", "__cv")
        )
    codes = (
        c_assigned.select(
            "neighbor_id", "centroid_id", subspaces(F.col("__cv"), "sv").alias("__s")
        )
        .select(
            "neighbor_id", "centroid_id",
            F.col("__s.sub").alias("sub"), F.col("__s.sv").alias("sv"),
        )
        .join(F.broadcast(cb), "sub")
        .withColumn("__d2", d2(F.col("sv"), F.col("csv")))
        .groupBy("neighbor_id", "centroid_id", "sub")
        .agg(
            F.min(
                F.struct(F.col("__d2").alias("d2"), F.col("code").alias("code"))
            )["code"].alias("code")
        )
    )

    q = queries.select(
        F.col(id_col).alias("query_id"),
        quantized(F.col(vec_col), scale).alias("__qv"),
    ).withColumn("__qn", _sq_norm(F.col("__qv")))
    q_probed_v = nearest(q, "query_id", "__qv", "__qn", nprobe)
    q_probed = q_probed_v.select("query_id", "centroid_id")
    if residual:
        # ADC tables per (query, probed centroid): distances measured in
        # each list's own residual frame — Q·nprobe·m·pq_k rows, still a
        # broadcast
        ctv = cents.select("centroid_id", "__ctv")
        qr = (
            q_probed_v.join(F.broadcast(ctv), "centroid_id")
            .withColumn(
                "__qrv", F.zip_with("__qv", "__ctv", lambda a, b: a - b)
            )
        )
        adc = (
            qr.select(
                "query_id", "centroid_id",
                subspaces(F.col("__qrv"), "qsv").alias("__s"),
            )
            .select(
                "query_id", "centroid_id",
                F.col("__s.sub").alias("sub"), F.col("__s.qsv").alias("qsv"),
            )
            .join(F.broadcast(cb), "sub")
            .select(
                "query_id", "centroid_id", "sub", "code",
                d2(F.col("qsv"), F.col("csv")).alias("qd2"),
            )
        )
        adc_keys = ["query_id", "centroid_id", "sub", "code"]
    else:
        # ADC tables: one exact integer subspace distance per (query, sub, code).
        adc = (
            q.select("query_id", subspaces(F.col("__qv"), "qsv").alias("__s"))
            .select("query_id", F.col("__s.sub").alias("sub"), F.col("__s.qsv").alias("qsv"))
            .join(F.broadcast(cb), "sub")
            .select("query_id", "sub", "code", d2(F.col("qsv"), F.col("csv")).alias("qd2"))
        )
        adc_keys = ["query_id", "sub", "code"]

    w = Window.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("neighbor_id"))
    return (
        codes.join(F.broadcast(q_probed), "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(F.broadcast(adc), adc_keys)
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("qd2").cast("long").alias("adc_d2"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_d2", "rank")
    )


def rrf_fuse(
    rankings,
    *,
    k: int = 60,
    query_col: str = "query_id",
    item_col: str = "neighbor_id",
    rank_col: str = "rank",
    top_n: Optional[int] = None,
    dedup_inputs: bool = False,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al.) of N per-query rankings —
    the standard hybrid-retrieval combiner (dense ANN + lexical + any
    other ranker) that needs no score calibration, only ranks::

        score(d) = Σ_r  1e9 DIV (k + rank_r(d))

    computed in exact integer nano-units (truncating division, every
    operand positive) so the fused ordering is engine-reproducible —
    the float 1/(k+r) form would rank identically but hash differently.
    Ties → lowest item id. Items missing from a ranking contribute 0
    (the RRF convention).

    PRECONDITION: each input ranking has at most one row per
    (query, item) — a duplicated row would inflate both rrf_score and
    n_lists, since the fusion sums raw rows. Rankings produced by the
    top-k ops here satisfy this by construction; for inputs that might
    not, ``dedup_inputs=True`` keeps each input's BEST (minimum) rank
    per (query, item) — deterministic, at the cost of one extra
    aggregation per ranking.

    Output: (query, item, rrf_score, n_lists, rank). Scale: unions the
    k-bounded ranking relations (each already top-k per query), one
    hash-agg on (query, item), one per-query WindowGroupLimit — never
    touches the corpora themselves.
    """
    if not rankings:
        raise ValueError("rankings must be non-empty")
    if k < 1:
        raise ValueError("k must be >= 1")
    prepped = [
        r.select(
            F.col(query_col).alias("query_id"),
            F.col(item_col).alias("item_id"),
            F.col(rank_col).cast("long").alias("__r"),
        )
        for r in rankings
    ]
    if dedup_inputs:
        prepped = [
            p.groupBy("query_id", "item_id").agg(F.min("__r").alias("__r"))
            for p in prepped
        ]
    scored = [
        p.select(
            "query_id",
            "item_id",
            F.expr(f"1000000000 DIV ({k} + __r)").cast("long").alias("__s"),
        )
        for p in prepped
    ]
    u = scored[0]
    for s in scored[1:]:
        u = u.unionByName(s)
    agg = u.groupBy("query_id", "item_id").agg(
        F.sum("__s").cast("long").alias("rrf_score"),
        F.count(F.lit(1)).cast("long").alias("n_lists"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("item_id")
    )
    out = agg.withColumn("rank", F.row_number().over(w).cast("long"))
    if top_n is not None:
        out = out.filter(F.col("rank") <= top_n)
    return out


def embedding_sim_histogram(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_buckets: int = 8,
    bins: int = 20,
    scale: int = 1000,
    cache: bool = True,
) -> DataFrame:
    """Pairwise-cosine distribution diagnostic: a histogram of cosine
    similarities over a DETERMINISTIC 1/``sample_buckets`` sample of
    vector pairs — the corpus-geometry profile that tells you whether a
    near-dup threshold or ANN recall target is even meaningful (a corpus
    whose mass sits at cos 0.4 needs different knobs than one at 0.05).

    Sampling without materializing the O(n²) pair space: each vector
    lands in one of ``sample_buckets`` md5 blocks; only same-block pairs
    are scored, so every pair is kept with probability 1/buckets and
    the scored volume is n²/buckets — the block-sample knob IS the scale
    contract (raise buckets linearly with corpus growth for a constant
    sample size). No RNG: the block assignment is the engine-portable
    md5 hash, so the sample — and the histogram — is reproducible
    anywhere.

    Cosine uses the exact quantized dot/norm chain of
    :func:`cosine_topk` (identical IEEE operation order on both
    engines, round-to-6); ``bin = floor(cosine·bins)`` ∈ [−bins, bins]
    evaluates on that identical double, so binning is hash-stable.
    Output: (bin, n_pairs, share_ppm).
    """
    from pyspark import StorageLevel

    from timeseriesfuser_spark.ops.dedup import md5_hash64
    from timeseriesfuser_spark.ops.util import track_persist

    if sample_buckets < 1:
        raise ValueError(f"sample_buckets must be >= 1: {sample_buckets}")
    if bins < 1:
        raise ValueError(f"bins must be >= 1: {bins}")
    rel = df.select(
        F.col(id_col).alias("id"),
        quantized(F.col(vec_col), scale).alias("v"),
    ).withColumn("n", _sq_norm(F.col("v"))).withColumn(
        "bk", md5_hash64(F.col("id").cast("string")) % sample_buckets
    )
    if cache:
        rel = track_persist(rel.persist(StorageLevel.MEMORY_AND_DISK))
    a, b = rel.alias("a"), rel.alias("b")
    cos = F.when(
        (F.col("a.n") > 0) & (F.col("b.n") > 0),
        _dot(F.col("a.v"), F.col("b.v")).cast("double")
        / (F.sqrt(F.col("a.n")) * F.sqrt(F.col("b.n"))),
    ).otherwise(F.lit(0.0))
    counts = (
        a.join(
            b,
            (F.col("a.bk") == F.col("b.bk")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.floor(F.round(cos, 6) * bins).cast("long").alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    tot = counts.agg(F.sum("n_pairs").alias("__tot"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_pairs",
        F.expr("n_pairs * 1000000 DIV __tot").cast("long").alias("share_ppm"),
    )


def embedding_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Semantic drift between two corpus slices: the cosine between the
    slices' MEAN embedding vectors — the one-number monitor that flags a
    shifted ingest distribution (new source mix, changed upstream
    encoder) before any downstream metric moves.

    Exactness: quantized vectors sum per dimension as exact integers
    (posexplode → one (dim) hash-agg each — the sum vector is exact, so
    the un-normalized mean comparison needs no division at all:
    cos(mean_a, mean_b) = cos(sum_a, sum_b)); the cosine is the usual
    exact-int dot/norm + one double chain, round-to-6. NULL vectors are
    excluded (they have no direction).

    Output: one row (n_a, n_b, dim, cosine) — cosine NULL when either
    slice is empty or zero-norm. Scale: two linear passes + two
    dim-sized aggregates joined on dimension index; driver never holds
    more than the dim-row sum relation.
    """

    def sums(df: DataFrame, side: str) -> DataFrame:
        v = quantized(F.col(vec_col), scale)
        return (
            df.filter(F.col(vec_col).isNotNull())
            .select(F.posexplode(v).alias("__i", "__x"))
            .groupBy("__i")
            .agg(
                F.sum(F.expr("CAST(__x AS DECIMAL(38,0))")).alias(f"s_{side}")
            )
        )

    # lazy 1-row count relations (no construction-time driver action —
    # the window_funnel zero-jobs contract)
    ca = df_a.filter(F.col(vec_col).isNotNull()).agg(
        F.count(F.lit(1)).cast("long").alias("n_a")
    )
    cb = df_b.filter(F.col(vec_col).isNotNull()).agg(
        F.count(F.lit(1)).cast("long").alias("n_b")
    )
    j = sums(df_a, "a").join(sums(df_b, "b"), "__i")
    agg = j.agg(
        F.count(F.lit(1)).cast("long").alias("dim"),
        F.sum(F.expr("s_a * s_b")).alias("__dot"),
        F.sum(F.expr("s_a * s_a")).alias("__na"),
        F.sum(F.expr("s_b * s_b")).alias("__nb"),
    ).crossJoin(F.broadcast(ca)).crossJoin(F.broadcast(cb))
    return agg.select(
        "n_a",
        "n_b",
        "dim",
        F.when(
            (F.col("__na") > 0) & (F.col("__nb") > 0),
            F.round(
                F.expr("CAST(__dot AS DOUBLE)")
                / (
                    F.sqrt(F.expr("CAST(__na AS DOUBLE)"))
                    * F.sqrt(F.expr("CAST(__nb AS DOUBLE)"))
                ),
                6,
            ),
        ).alias("cosine"),
    )
