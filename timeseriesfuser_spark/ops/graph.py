"""Graph analytics over pair relations (near-dup edges, entity matches):
fixed-point PageRank. Connected components lives in ``ops.dedup``.

PageRank here is *integer fixed-point* (ppm scale): every arithmetic step
is an integer sum or an integer division, so the result is bit-identical
on any engine regardless of aggregation order — the float formulation is
order-dependent and can never hash-match across engines. With rank scaled
to 1e6 (= rank 1.0) the iteration is

    r_{k+1}(v) = (1e6 - d_ppm) + (d_ppm * Σ_{u→v} (r_k(u) DIV outdeg(u))) DIV 1e6

which is the textbook damped update with truncating division. Dangling
nodes (no out-edges) leak their mass — the common simplification; for the
undirected graphs this module targets (symmetrized match pairs) every
edge-node has out-degree ≥ 1, and isolated nodes sit at the base rank.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from timeseriesfuser_spark.ops.util import track_persist

PPM = 1_000_000


def build_edges(
    df: DataFrame,
    *,
    group_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    cache: bool = True,
) -> DataFrame:
    """Shared co-membership edge builder: items are linked when they
    appear in the same group (parts in one order, docs in one cluster) →
    the distinct canonical edge list (id_a, id_b), id_a < id_b.

    This is the relation every graph op in this module consumes, and at
    10M input rows its two distincts (memberships, then pairs) dominate
    single-op wall time — HITS spent most of its 62.4 s here (SCALE.md
    round-15). Build it ONCE and feed it to pagerank / kcore_peel /
    triangle_counts / clustering_coefficients / hits_scores /
    link_predict_cn together instead of re-deriving it per op.

    CONSTRUCTION-TIME ACTION with ``cache=True`` (the default): the edge
    relation is persisted via :func:`track_persist` AND eagerly
    materialized (one count job) so every downstream op shares the one
    build — this helper is a materializer, the ``write_token_index``
    posture, not a lazy operator. Pass ``cache=False`` for the plain
    lazy plan (zero jobs; used by the single-op contract queries).

    Scale: one distinct on the (group, item) grain, one same-group
    self-join emitting C(k,2) pairs per group, one distinct on the pair
    grain — all hash-shuffles on their natural keys. A group with k
    items emits k²/2 pairs; cap pathological groups upstream (the same
    quadratic-flood argument as the LSH family's in-plan bucket cap,
    ``ops.dedup._window_cap``).
    """
    from pyspark import StorageLevel

    g, i = F.col(group_col), F.col(item_col)
    op = df.filter(g.isNotNull() & i.isNotNull()).select(
        g.alias("__g"), i.alias("__i")
    ).distinct()
    edges = (
        op.alias("a")
        .join(
            op.alias("b"),
            (F.col("a.__g") == F.col("b.__g"))
            & (F.col("a.__i") < F.col("b.__i")),
        )
        .select(F.col("a.__i").alias("id_a"), F.col("b.__i").alias("id_b"))
        .distinct()
    )
    if cache:
        edges = track_persist(edges.persist(StorageLevel.MEMORY_AND_DISK))
        edges.count()
    return edges


def pagerank(
    edges: DataFrame,
    *,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    directed: bool = False,
    iterations: int = 3,
    damping_ppm: int = 850_000,
    all_ids: Optional[DataFrame] = None,
    checkpoint: bool = True,
    _stats: Optional[dict] = None,
) -> DataFrame:
    """Fixed-iteration integer PageRank → (id, rank) with rank in ppm
    (1e6 = the uniform starting rank).

    Scale design: per iteration, one equi-join of the rank relation onto
    the (persisted) degree-annotated edge list plus one hash aggregation
    on the destination — the canonical distributed PageRank shape; no
    windows, no driver-side graph. The loop runs the connected-components
    scale recipe (r16, proven by tools/graph_cell.py at 55M edges / 16 g;
    the pre-recipe loop OOMed): the loop-invariant edge relation is
    repartitioned+sorted by the per-iteration join key ONCE before
    persist (no re-shuffle of the largest relation per round, guide
    §2.4), every round's iterate is an eager SERIALIZED localCheckpoint
    (``ops.util.iter_ckpt``), and dead rounds' blocks are freed the
    moment their last reader has run. ``checkpoint=False`` keeps the
    plain plan-chained variant (tiny graphs / plan-inspection). Switch to
    reliable checkpointing on a cluster that must survive executor loss
    mid-loop, as with connected components.

    ``all_ids``: one-column relation of every node to score; defaults to
    the nodes present in ``edges``. Isolated nodes converge to the base
    rank ``1e6 - damping_ppm``. ``_stats`` (ops/diagnostics knob, not
    API): a dict; pre-seed ``round1_plan`` to receive the round-1
    iterate's executedPlan string.
    """
    if not 0 <= damping_ppm <= PPM:
        raise ValueError(f"damping_ppm must be in [0, 1e6]: {damping_ppm}")
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0: {iterations}")
    from pyspark import StorageLevel

    from timeseriesfuser_spark.ops.util import free_ckpt, iter_ckpt

    # ids keep their own type (long, string, ...): rank arithmetic never
    # touches the id value, and a cast("long") would crash (ANSI) or NULL
    # out string ids.
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    if not directed:
        e = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    # Partition AND sort by the per-iteration join key before persisting:
    # every round's contribution join then reuses the cached layout
    # (hash-partitioned + sorted on ``src``), so the loop never
    # re-shuffles or re-sorts its largest relation — at k iterations this
    # removes k-1 edge-relation exchanges (the CC recipe, guide §2.4).
    ed = track_persist(
        e.join(deg, "src")
        .repartition("src")
        .sortWithinPartitions("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    if all_ids is not None:
        nodes = all_ids.select(
            F.col(all_ids.columns[0]).alias("id")
        ).distinct()
    else:
        # src ∪ dst: a directed graph's sink nodes (dst-only) must be
        # scored too — they are often exactly the high-rank nodes.
        nodes = (
            e.select(F.col("src").alias("id"))
            .union(e.select(F.col("dst").alias("id")))
            .distinct()
        )
    # same layout argument for the per-round left join on ``id``
    nodes = track_persist(
        nodes.repartition("id")
        .sortWithinPartitions("id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    base = PPM - damping_ppm
    if checkpoint and iterations > 0:
        # Materialize both loop-invariant caches BEFORE the first round is
        # planned: a lazily-persisted relation is an AdaptiveSparkPlan
        # with isFinalPlan=false whose output partitioning is unknown, so
        # round 1 would re-Exchange the edge relation despite the cached
        # layout (observed in the 55M-edge cell's round-1 plan). One scan
        # each — the loop materializes them round 1 anyway; with
        # ``checkpoint=False`` the op stays a pure lazy plan.
        ed.count()
        nodes.count()
    r = nodes.withColumn("rank", F.lit(PPM).cast("long"))
    prev_handle = None
    for it in range(int(iterations)):
        contrib = (
            ed.join(r.select(F.col("id").alias("src"), "rank"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.expr("rank DIV __deg")).alias("__c"))
        )
        r_new = nodes.join(contrib, "id", "left").select(
            "id",
            # damping_ppm * __c can exceed int64 once a hub accumulates
            # ~1e13 ppm of contribution (~10M high-rank in-edges); the
            # decimal(38,0) product keeps the update exact instead of
            # silently wrapping (non-ANSI) or raising (ANSI).
            (
                F.lit(base)
                + F.expr(
                    f"(CAST({damping_ppm} AS DECIMAL(38,0))"
                    f" * coalesce(__c, 0)) DIV {PPM}"
                )
            ).cast("long").alias("rank"),
        )
        if _stats is not None and it == 0 and "round1_plan" in _stats:
            # diagnostics only, opt-in (pre-seed the key to request it)
            _stats["round1_plan"] = (
                r_new._jdf.queryExecution().executedPlan().toString()
            )
        if checkpoint:
            # eager: materializes NOW, reading the previous round — which
            # afterwards has no live reader (r rebinds), so its blocks
            # can be freed immediately. The final round's checkpoint IS
            # the result and stays live.
            r_new, handle = iter_ckpt(r_new)
            free_ckpt(prev_handle)
            prev_handle = handle
        r = r_new
    out = r.select("id", "rank")
    ed.unpersist()
    nodes.unpersist()
    return out


def pagerank_oracle_sql(
    edges_sql: str,
    nodes_sql: str,
    *,
    iterations: int = 3,
    damping_ppm: int = 850_000,
) -> str:
    """DuckDB/ANSI twin of :func:`pagerank` for an undirected pair
    relation: ``edges_sql`` must yield (id_a, id_b), ``nodes_sql`` a
    single ``id`` column. The fixed iteration count unrolls to a plain
    CTE chain — no recursion needed, and the integer arithmetic matches
    the Spark side bit for bit.
    """
    base = PPM - damping_ppm
    ctes = [
        f"pairs AS ({edges_sql})",
        "e AS (SELECT id_a AS src, id_b AS dst FROM pairs"
        " UNION ALL SELECT id_b, id_a FROM pairs)",
        "deg AS (SELECT src, count(*) AS d FROM e GROUP BY src)",
        "ed AS (SELECT e.src, e.dst, deg.d FROM e JOIN deg USING (src))",
        f"nodes AS ({nodes_sql})",
        f"r0 AS (SELECT id, CAST({PPM} AS BIGINT) AS rank FROM nodes)",
    ]
    for k in range(1, int(iterations) + 1):
        ctes.append(
            f"r{k} AS (SELECT n.id, CAST({base} + ({damping_ppm} * "
            f"COALESCE(s.c, 0)) // {PPM} AS BIGINT) AS rank "
            f"FROM nodes n LEFT JOIN (SELECT ed.dst AS id, "
            f"sum(r{k - 1}.rank // ed.d) AS c FROM ed "
            f"JOIN r{k - 1} ON r{k - 1}.id = ed.src GROUP BY ed.dst) s "
            f"USING (id))"
        )
    return (
        "WITH " + ",\n    ".join(ctes) + f"\n    SELECT id, rank FROM r{int(iterations)}"
    )


def triangle_counts(
    edges: DataFrame,
    *,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    cache: bool = True,
) -> DataFrame:
    """Per-node triangle participation counts over an undirected graph →
    (id, n_triangles), nodes in at least one triangle — the clustering /
    community-density primitive (cohesion of near-dup clusters,
    co-purchase neighborhoods, entity-match sanity: a matched pair whose
    endpoints share no third neighbor is a likely false positive).

    Algorithm: DEGREE-ORDERED ORIENTATION (the MapReduce-classic
    Suri–Vassilvitskii scheme). Edges are canonicalized (self-loops and
    duplicates dropped), each node gets its degree, and every edge is
    directed from its lower-(degree, id) endpoint to the higher one —
    a total order, so each triangle {x,y,z} with x<y<z in that order
    carries edges x→y, x→z, y→z and materializes exactly once as the
    out-neighbor pair (x→y, x→z) closed by y→z. Wedges are generated
    at the LOW endpoint as pairs of out-neighbors (r16→r17 rewrite):
    per-join-key fan-out is C(outdeg,2), and out-degrees are bounded by
    O(√E) under this orientation — so no single key can straggle. The
    previous formulation pivoted paths a→b→c on the MIDDLE node, whose
    fan-out is indeg(b)·outdeg(b); the orientation points edges AT
    hubs, so a hub's indeg ~ its full degree and one pivot key carried
    indeg·√E wedge rows — the measured 10M straggler (VERDICT r10 #7).
    Deterministic: the orientation is a pure function of the graph (no
    hashing, no sampling), so the count is exact and engine-portable.

    Scale: one distinct (canonicalize), one degree aggregation joined
    back (2 equi-joins), one self-equi-join on the wedge LOW endpoint,
    one semi-equi-join to close wedges, one final count aggregation —
    all shuffle-partitioned by node/edge keys; no windows, no driver
    data. Total wedge volume is Σ C(outdeg,2) = O(E^1.5), evenly
    spread: per key ≤ C(√2E, 2) ≈ E.

    ``cache``: the canonical edge relation is consumed three times
    (degree count × 2, orientation) and the oriented relation three
    more (both wedge sides, the closing join) — Catalyst re-executes
    shared subplans per consumer, which without caching multiplies into
    ~90 upstream scans. The default persists both at MEMORY_AND_DISK
    (evictable; entries live until the caller's unpersist/clearCache —
    same contract as ``resample_last_interval``). Pass ``cache=False``
    to register nothing, e.g. when looping in a long-lived session.
    """
    from pyspark import StorageLevel

    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("__u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("__v"),
        )
        .filter(F.col("__u") != F.col("__v"))
        .filter(F.col("__u").isNotNull() & F.col("__v").isNotNull())
        .distinct()
    )
    if cache:
        e = track_persist(e.persist(StorageLevel.MEMORY_AND_DISK))
    deg = (
        e.select(F.col("__u").alias("__n"))
        .unionAll(e.select(F.col("__v").alias("__n")))
        .groupBy("__n")
        .agg(F.count(F.lit(1)).cast("long").alias("__d"))
    )
    du = deg.select(F.col("__n").alias("__u"), F.col("__d").alias("__du"))
    dv = deg.select(F.col("__n").alias("__v"), F.col("__d").alias("__dv"))
    ann = e.join(du, "__u").join(dv, "__v")
    # orient from lower (degree, id) to higher (degree, id)
    lower_first = (F.col("__du") < F.col("__dv")) | (
        (F.col("__du") == F.col("__dv")) & (F.col("__u") < F.col("__v"))
    )
    # o carries the head's order key (__db = degree of __b) so the
    # out-neighbor pair below can sort (b, c) in ORIENTATION order (the
    # closing edge is oriented lower-(degree,id) → higher, not by id).
    o = ann.select(
        F.when(lower_first, F.col("__u")).otherwise(F.col("__v")).alias("__a"),
        F.when(lower_first, F.col("__v")).otherwise(F.col("__u")).alias("__b"),
        F.when(lower_first, F.col("__dv")).otherwise(F.col("__du")).alias("__db"),
    )
    if cache:
        o = track_persist(o.persist(StorageLevel.MEMORY_AND_DISK))
    # wedges at the LOW endpoint: unordered out-neighbor pairs {b, c},
    # emitted with key(b) < key(c) so the closing edge is exactly b→c
    e1, e2 = o.alias("e1"), o.alias("e2")
    pair_lt = (F.col("e1.__db") < F.col("e2.__db")) | (
        (F.col("e1.__db") == F.col("e2.__db"))
        & (F.col("e1.__b") < F.col("e2.__b"))
    )
    w = e1.join(
        e2, (F.col("e1.__a") == F.col("e2.__a")) & pair_lt
    ).select(
        F.col("e1.__a").alias("__a"),
        F.col("e1.__b").alias("__b"),
        F.col("e2.__b").alias("__c"),
    )
    tri = w.join(
        o.select(F.col("__a").alias("__b"), F.col("__b").alias("__c")),
        ["__b", "__c"],
    )
    nodes = (
        tri.select(F.col("__a").alias("__n"))
        .unionAll(tri.select(F.col("__b").alias("__n")))
        .unionAll(tri.select(F.col("__c").alias("__n")))
    )
    return nodes.groupBy("__n").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    ).select(F.col("__n").alias("id"), "n_triangles")


def shortest_hops(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    directed: bool = False,
    max_hops: int = 3,
    _stats: Optional[dict] = None,
) -> DataFrame:
    """Multi-source BFS: every node reachable from ``seeds`` within
    ``max_hops`` edges → (id, hops) with ``hops`` = the exact shortest
    hop distance (seeds at 0). Spark's re-expression of the recursive
    CTE (``WITH RECURSIVE``) the SQL standard has and Spark lacks —
    level-synchronous frontier expansion, each level one distributed
    join (reference parity: none — driver-mandated breadth; the DuckDB
    oracle IS a recursive CTE).

    Scale design (100 TB posture): per level, ONE equi-join of the
    frontier onto the edge relation + a hash-distinct of the next
    frontier + an anti-join against the visited set — no windows, no
    driver-side graph; the loop is driver-orchestrated but every step is
    distributed. Each level is an eager SERIALIZED ``localCheckpoint``
    (``ops.util.iter_ckpt`` — the connected-components scale recipe,
    r16): lineage is cut per round (the iterative-algorithm house rule —
    an uncut BFS plan doubles per level), the empty-frontier early exit
    is a count() on the materialized level, not a recompute, and the
    edge relation is repartitioned+sorted by the per-level join key ONCE
    before persist so no level re-shuffles it (guide §2.4). Levels are
    never freed mid-loop — every one stays a live member of the visited
    union (unlike pagerank/CC, whose dead rounds are released eagerly).
    The visited set is bounded by |V|; at billion-node scale swap the
    exact anti-join for a ``bloom_prefilter`` pass (ops.sketches) and
    keep the exact anti-join on the survivors. Dense-frontier graphs
    (frontier ~ |V|) should switch to the connected-components
    pointer-doubling idiom instead; BFS is the sparse-frontier/
    top-k-hops tool. ``_stats`` (ops/diagnostics knob, not API): pre-seed
    ``round1_plan`` to receive the level-1 frontier's executedPlan.
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0: {max_hops}")
    from pyspark import StorageLevel

    from timeseriesfuser_spark.ops.util import iter_ckpt

    e = edges.select(
        F.col(src_col).alias("__src"), F.col(dst_col).alias("__dst")
    ).filter(F.col("__src").isNotNull() & F.col("__dst").isNotNull())
    if not directed:
        e = e.unionAll(
            e.select(F.col("__dst").alias("__src"), F.col("__src").alias("__dst"))
        )
    e = e.distinct().repartition("__src").sortWithinPartitions("__src")
    if max_hops > 0:
        e = track_persist(e.persist(StorageLevel.MEMORY_AND_DISK))
        # materialize before the first level is planned, so the cached
        # hash(__src) layout is visible to every level's join (a lazy
        # persist is an unfinished AdaptiveSparkPlan — unknown
        # partitioning — and level 1 would re-shuffle the edges; see
        # pagerank). max_hops=0 never reads the edges: no job on them.
        e.count()

    level, _ = iter_ckpt(
        seeds.select(F.col(seeds.columns[0]).alias("id"))
        .filter(F.col("id").isNotNull())
        .distinct()
        .withColumn("hops", F.lit(0).cast("long"))
    )
    visited = level
    for h in range(1, int(max_hops) + 1):
        frontier = (
            level.join(e, level["id"] == e["__src"])
            .select(F.col("__dst").alias("id"))
            .distinct()
            .join(visited, "id", "left_anti")
            .withColumn("hops", F.lit(h).cast("long"))
        )
        if _stats is not None and h == 1 and "round1_plan" in _stats:
            # diagnostics only, opt-in (pre-seed the key to request it)
            _stats["round1_plan"] = (
                frontier._jdf.queryExecution().executedPlan().toString()
            )
        nxt, _ = iter_ckpt(frontier)
        if nxt.count() == 0:
            break
        visited = visited.unionAll(nxt)
        level = nxt
    e.unpersist()
    return visited


def shortest_hops_oracle_sql(
    edges_sql: str,
    seeds_sql: str,
    *,
    directed: bool = False,
    max_hops: int = 3,
) -> str:
    """DuckDB twin of :func:`shortest_hops`: a genuine ``WITH
    RECURSIVE`` over (src, dst) edges — UNION (not UNION ALL) recursion
    dedups (id, h) states so cycles terminate under the hop bound; the
    final ``min(h)`` collapses states to the shortest distance.
    ``edges_sql`` must yield (id_a, id_b); ``seeds_sql`` one column.
    """
    sym = (
        "SELECT id_a AS src, id_b AS dst FROM pairs"
        if directed
        else "SELECT id_a AS src, id_b AS dst FROM pairs"
        " UNION ALL SELECT id_b, id_a FROM pairs"
    )
    return f"""
    WITH RECURSIVE pairs AS ({edges_sql}),
    e AS (SELECT DISTINCT src, dst FROM ({sym})
          WHERE src IS NOT NULL AND dst IS NOT NULL),
    reach(id, h) AS (
        SELECT DISTINCT s, 0 FROM ({seeds_sql}) AS sq(s) WHERE s IS NOT NULL
        UNION
        SELECT e.dst, reach.h + 1 FROM reach JOIN e ON e.src = reach.id
        WHERE reach.h < {int(max_hops)}
    )
    SELECT id, CAST(min(h) AS BIGINT) AS hops FROM reach GROUP BY id
    """


def kcore_peel(
    edges: DataFrame,
    k: int,
    *,
    rounds: int = 5,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Bounded-round k-core peeling: repeatedly drop nodes whose degree
    in the CURRENT subgraph is < k; what survives ``rounds`` rounds is a
    superset of (and, once a round removes nothing, exactly) the k-core
    — the standard dense-substructure / spam-cluster / hub-backbone
    extractor.

    Returns (id, degree) for surviving nodes, degree measured within the
    surviving subgraph — exact BIGINTs, no float surface, so a SQL twin
    unrolls the same rounds as a CTE chain.

    Scale: per round one degree hash-agg + two semi joins on the node
    set, with an eager SERIALIZED ``localCheckpoint`` lineage cut and
    eager stale-round block release (``ops.util.iter_ckpt``/``free_ckpt``
    — the CC scale recipe, r16; without the cut the plan doubles per
    round, without the release k rounds hold k× the edge set) and an
    early-exit when a round removes no edge (a fixpoint is the true
    k-core, so stopping early is result-identical to running all
    rounds). Input edges are symmetrized and de-duplicated first. No
    loop-invariant relation exists to pre-partition: the surviving edge
    set itself shrinks every round.
    """
    if k < 1 or rounds < 1:
        raise ValueError("k and rounds must be >= 1")
    from timeseriesfuser_spark.ops.util import free_ckpt, iter_ckpt

    fwd = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    rev = edges.select(
        F.col(dst_col).alias("src"), F.col(src_col).alias("dst")
    )
    cur, cur_handle = iter_ckpt(
        fwd.unionByName(rev)
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    n_edges = cur.count()
    for _ in range(rounds):
        if n_edges == 0:
            break
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("__d"))
        keep = deg.filter(F.col("__d") >= k).select(F.col("src").alias("n"))
        # eager: the new round materializes NOW, reading `cur` — which
        # afterwards has no live reader (cur rebinds), so its blocks are
        # freed immediately; the final round stays live for the output.
        nxt, nxt_handle = iter_ckpt(
            cur.join(keep, cur["src"] == keep["n"], "left_semi")
            .join(
                keep.withColumnRenamed("n", "n2"),
                F.col("dst") == F.col("n2"),
                "left_semi",
            )
        )
        free_ckpt(cur_handle)
        n_next = nxt.count()
        cur, cur_handle = nxt, nxt_handle
        if n_next == n_edges:
            break  # fixpoint: further rounds are identity
        n_edges = n_next
    return cur.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    ).select(F.col("src").alias("id"), "degree")


def link_predict_cn(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    min_common: int = 1,
    max_degree: "int | None" = None,
    top_n: "int | None" = None,
) -> DataFrame:
    """Common-neighbor / Jaccard link prediction over an undirected edge
    list (Liben-Nowell & Kleinberg 2003): for every non-adjacent pair
    (a, b) sharing ≥ ``min_common`` neighbors, emit the two classic
    scores — the recommender / entity-resolution primitive ("customers
    who bought X also…", "these two records share most of their
    relations").

    Output: (node_a, node_b, common, deg_a, deg_b, jaccard_ppm) with
    node_a < node_b; ``jaccard_ppm = common·1e6 DIV
    (deg_a + deg_b − common)`` — exact integers throughout.

    Scale: candidate pairs come from the WEDGE join (adjacency
    self-joined on the shared middle node), so the fan-out is
    Σ_n deg(n)² — bounded by real co-occurrence, never |V|². That sum
    is dominated by hub middles; ``max_degree`` (>= 2, else ValueError)
    drops nodes above the cap from the MIDDLE position only (their own
    links still score via their other endpoints) with a WARNING-logged
    count of the hubs and their adjacency rows — the LSH hot-bucket
    posture, but counted by one eager aggregate at construction: the
    in-plan cap's observed counts (``ops.dedup._window_cap``) are lost
    when the cap empties the result under AQE and are overwritten across
    this self-join's two observed sides.
    ``top_n`` bounds output per node_a via WindowGroupLimit (rank by
    common desc, then node_b).
    """
    if min_common < 1:
        raise ValueError("min_common must be >= 1")
    s, d = F.col(src_col), F.col(dst_col)
    e = (
        edges.filter(s.isNotNull() & d.isNotNull() & (s != d))
        .select(F.least(s, d).alias("a"), F.greatest(s, d).alias("b"))
        .distinct()
    )
    adj = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = adj.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("deg"))

    mid = adj.select(F.col("a").alias("n"), F.col("b").alias("v"))
    if max_degree is not None:
        if max_degree < 2:
            raise ValueError("max_degree must be >= 2 (a degree-1 middle emits no pairs)")
        import logging

        hubs = deg.filter(F.col("deg") > max_degree).select(
            F.col("a").alias("n"), "deg"
        )
        n_hubs, n_rows = hubs.agg(F.count(F.lit(1)), F.sum("deg")).first()
        if n_hubs:
            logging.getLogger(__name__).warning(
                "link_predict_cn: %d hub middles above degree cap %d "
                "(%d adjacency rows) dropped from wedge generation — pairs "
                "meeting only through them are skipped",
                n_hubs, max_degree, n_rows,
            )
        mid = mid.join(F.broadcast(hubs.select("n")), "n", "left_anti")

    w1 = mid.select("n", F.col("v").alias("x"))
    w2 = mid.select("n", F.col("v").alias("y"))
    cn = (
        w1.join(w2, "n")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
        .filter(F.col("common") >= min_common)
    )
    cand = cn.join(
        e, (F.col("x") == F.col("a")) & (F.col("y") == F.col("b")), "left_anti"
    )
    da = deg.select(F.col("a").alias("x"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("a").alias("y"), F.col("deg").alias("deg_b"))
    out = (
        cand.join(da, "x")
        .join(db, "y")
        .select(
            F.col("x").alias("node_a"),
            F.col("y").alias("node_b"),
            "common",
            "deg_a",
            "deg_b",
            F.expr("common * 1000000 DIV (deg_a + deg_b - common)")
            .cast("long")
            .alias("jaccard_ppm"),
        )
    )
    if top_n is not None:
        from pyspark.sql.window import Window

        w = Window.partitionBy("node_a").orderBy(
            F.desc("common"), F.asc("node_b")
        )
        out = (
            out.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= top_n)
            .drop("__rk")
        )
    return out


def hits_scores(
    edges: DataFrame,
    *,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    iterations: int = 2,
    checkpoint: bool = True,
) -> DataFrame:
    """Integer fixed-point HITS (Kleinberg hubs & authorities) over a
    DIRECTED edge relation → (role, id, score_ppm) with role ∈
    {'hub', 'authority'} — the bipartite companion to
    :func:`pagerank`: hubs point at good authorities, authorities are
    pointed at by good hubs (customers ↔ products, queries ↔ documents).

    Each iteration is the textbook mutual update with MAX-normalization
    in ppm — h'(u) = Σ_{u→v} a(v) then h = h'·1e6 DIV max(h'), then the
    symmetric authority update — every step an integer sum (decimal
    (38,0), no overflow at any degree) or a truncating integer division,
    so scores are engine-bit-identical and the fixed iteration count
    unrolls to a plain CTE chain in the oracle (:func:`hits_oracle_sql`).
    Max-normalization (not the float L2 norm) keeps the iteration in
    integers; the score ORDER matches the L2-normalized iterate exactly
    up to the shared scale factor per round, truncation aside.

    Scale: per half-iteration one equi-join of the #src- or #dst-sized
    score relation onto the persisted edge list + one hash aggregation —
    the pagerank shape; the 1-row max joins via broadcast; lineage cut
    per half-round with the CC scale recipe (r16, ``ops.util.iter_ckpt``:
    serialized checkpoint storage, stale half-rounds' blocks freed as
    soon as their last reader has run). The edge relation is persisted
    partitioned+sorted on ``dst`` — the hub half-update's join key — so
    half of the per-iteration edge re-shuffles disappear; the authority
    half-update joins on ``src``, and one cached layout cannot serve
    both (the alternation is inherent to HITS). Each half-round's raw
    sum relation is round-cached (serialized) before MAX-normalization:
    the normalizer consumes it twice (the 1-row max + the rescale), and
    without the cache each checkpoint evaluated the edge join twice.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1: {iterations}")
    from pyspark import StorageLevel

    from timeseriesfuser_spark.ops.util import free_ckpt, iter_ckpt

    e = track_persist(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .repartition("dst")
        .sortWithinPartitions("dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if checkpoint:
        # materialize before the first half-round is planned, so the
        # cached hash(dst) layout is visible to every hub join (a lazy
        # persist is an unfinished AdaptiveSparkPlan — unknown
        # partitioning; see pagerank)
        e.count()
    auth = e.select(F.col("dst").alias("id")).distinct().withColumn(
        "a", F.lit(PPM).cast("long")
    )

    def _norm(raw: DataFrame, col: str) -> DataFrame:
        mx = raw.agg(F.max(col).alias("__mx"))
        return raw.crossJoin(F.broadcast(mx)).select(
            "id",
            F.when(
                F.col("__mx") > 0,
                F.expr(f"(CAST({col} AS DECIMAL(38,0)) * {PPM}) DIV __mx"),
            ).otherwise(F.lit(0)).cast("long").alias(col),
        )

    hub = None
    prev_hub_handle = prev_auth_handle = None
    for _ in range(int(iterations)):
        hraw = (
            e.join(auth.select(F.col("id").alias("dst"), "a"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum(F.expr("CAST(a AS DECIMAL(38,0))")).alias("h"))
        )
        if checkpoint:
            hraw_c = hraw.persist(StorageLevel.MEMORY_AND_DISK)
            hub, h_handle = iter_ckpt(_norm(hraw_c, "h"))
            hraw_c.unpersist()
            # the previous auth's last reader was hraw (just ran); the
            # previous hub's last reader was the previous araw (ran when
            # the previous auth checkpointed)
            free_ckpt(prev_auth_handle)
            prev_auth_handle = None
            free_ckpt(prev_hub_handle)
            prev_hub_handle = None
        else:
            hub = _norm(hraw, "h")
        araw = (
            e.join(hub.select(F.col("id").alias("src"), "h"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.expr("CAST(h AS DECIMAL(38,0))")).alias("a"))
        )
        if checkpoint:
            araw_c = araw.persist(StorageLevel.MEMORY_AND_DISK)
            auth, a_handle = iter_ckpt(_norm(araw_c, "a"))
            araw_c.unpersist()
            prev_auth_handle = a_handle
            prev_hub_handle = h_handle
        else:
            auth = _norm(araw, "a")
    out = hub.select(
        F.lit("hub").alias("role"), "id", F.col("h").alias("score_ppm")
    ).unionByName(
        auth.select(
            F.lit("authority").alias("role"), "id", F.col("a").alias("score_ppm")
        )
    )
    e.unpersist()
    return out


def hits_oracle_sql(edges_sql: str, *, iterations: int = 2) -> str:
    """DuckDB/ANSI twin of :func:`hits_scores`: ``edges_sql`` must yield
    (src, dst). The fixed iteration count unrolls to a CTE chain; HUGEINT
    sums match the Spark side's decimal(38,0) bit for bit."""
    ctes = [
        f"e AS ({edges_sql})",
        f"a0 AS (SELECT DISTINCT dst AS id, CAST({PPM} AS BIGINT) AS a FROM e)",
    ]
    prev_a = "a0"
    hub = None
    for i in range(1, int(iterations) + 1):
        ctes.append(
            f"hr{i} AS (SELECT e.src AS id, sum(CAST(a.a AS HUGEINT)) AS h"
            f" FROM e JOIN {prev_a} a ON a.id = e.dst GROUP BY e.src)"
        )
        ctes.append(
            f"h{i} AS (SELECT id, CAST(CASE WHEN m > 0 THEN h * {PPM} // m"
            f" ELSE 0 END AS BIGINT) AS h FROM hr{i}"
            f" CROSS JOIN (SELECT max(h) AS m FROM hr{i}))"
        )
        ctes.append(
            f"ar{i} AS (SELECT e.dst AS id, sum(CAST(h.h AS HUGEINT)) AS a"
            f" FROM e JOIN h{i} h ON h.id = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"a{i} AS (SELECT id, CAST(CASE WHEN m > 0 THEN a * {PPM} // m"
            f" ELSE 0 END AS BIGINT) AS a FROM ar{i}"
            f" CROSS JOIN (SELECT max(a) AS m FROM ar{i}))"
        )
        prev_a = f"a{i}"
        hub = f"h{i}"
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT 'hub' AS role, id, h AS score_ppm FROM {hub}"
        + f"\n    UNION ALL SELECT 'authority' AS role, id, a FROM {prev_a}"
    )


def clustering_coefficients(
    edges: DataFrame,
    *,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    cache: bool = True,
) -> DataFrame:
    """Per-node LOCAL clustering coefficient over an undirected graph —
    how close each node's neighborhood is to a clique, in exact ppm:

        cc_ppm = 2·triangles(v)·1e6 DIV (deg(v)·(deg(v)−1))

    (0 for degree-<2 nodes). The community-density score that separates
    a node inside a tight near-dup family (cc → 1e6) from a hub that
    merely bridges unrelated clusters (cc → 0) — the standard
    false-positive screen on entity-match and co-occurrence graphs.

    Built on :func:`triangle_counts` (degree-ordered orientation — each
    triangle counted exactly once, hub-safe O(√E) out-degrees) plus one
    degree aggregation over the canonical edge set; triangle-less nodes
    left-join to 0. Output (id, degree, n_triangles, cc_ppm), one row
    per node with ≥1 edge; all integers.
    """
    e = edges.select(
        F.least(F.col(src_col), F.col(dst_col)).alias("a"),
        F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
    ).filter(F.col("a") != F.col("b")).distinct()
    if cache:
        from pyspark import StorageLevel

        e = track_persist(e.persist(StorageLevel.MEMORY_AND_DISK))
    deg = (
        e.select(F.col("a").alias("id"))
        .union(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    tri = triangle_counts(e, src_col="a", dst_col="b", cache=cache)
    out = deg.join(tri, "id", "left").select(
        "id",
        "degree",
        F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias(
            "n_triangles"
        ),
    )
    return out.withColumn(
        "cc_ppm",
        F.when(
            F.col("degree") >= 2,
            F.expr("2 * n_triangles * 1000000 DIV (degree * (degree - 1))"),
        ).otherwise(F.lit(0)).cast("long"),
    )


def degree_assortativity(
    edges: DataFrame,
    *,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Degree assortativity of an undirected graph: the Pearson
    correlation of endpoint degrees over all edge endpoint pairs (each
    undirected edge contributes both orientations — the standard Newman
    definition). Positive = hubs link to hubs (social nets), negative =
    hubs link to leaves (the near-dup star topologies LSH produces) —
    the one-number topology fingerprint for match graphs.

    Exactness: degrees are exact integers; every Σ over the oriented
    edge relation accumulates in decimal(38,0); r is the single fixed
    double chain (the :func:`~timeseriesfuser_spark.ops.timeseries.
    spearman_corr` contract), NULL for degree-regular graphs (zero
    variance) or empty edge sets.

    Scale: one canonical-edge distinct, one degree aggregate joined
    back to both endpoints, one global 1-row aggregate. Output:
    (n_edges, rho).
    """
    e = edges.select(
        F.least(F.col(src_col), F.col(dst_col)).alias("a"),
        F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
    ).filter(F.col("a") != F.col("b")).distinct()
    deg = (
        e.select(F.col("a").alias("id"))
        .union(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    oriented = e.union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    paired = (
        oriented.join(deg.withColumnsRenamed({"id": "a", "d": "dx"}), "a")
        .join(deg.withColumnsRenamed({"id": "b", "d": "dy"}), "b")
    )
    agg = paired.agg(
        F.count(F.lit(1)).cast("long").alias("__m"),
        F.sum(F.expr("CAST(dx AS DECIMAL(38,0))")).alias("__sx"),
        F.sum(F.expr("CAST(dy AS DECIMAL(38,0))")).alias("__sy"),
        F.sum(F.expr("CAST(dx AS DECIMAL(38,0)) * dy")).alias("__sxy"),
        F.sum(F.expr("CAST(dx AS DECIMAL(38,0)) * dx")).alias("__sxx"),
        F.sum(F.expr("CAST(dy AS DECIMAL(38,0)) * dy")).alias("__syy"),
    )
    num = F.expr("CAST(__m * __sxy - __sx * __sy AS DOUBLE)")
    vx = F.expr("CAST(__m * __sxx - __sx * __sx AS DOUBLE)")
    vy = F.expr("CAST(__m * __syy - __sy * __sy AS DOUBLE)")
    return agg.select(
        (F.col("__m") / 2).cast("long").alias("n_edges"),
        F.when(
            (F.col("__m") >= 2)
            & (F.expr("__m * __sxx - __sx * __sx") > 0)
            & (F.expr("__m * __syy - __sy * __sy") > 0),
            F.round(num / (F.sqrt(vx) * F.sqrt(vy)), 6),
        ).alias("rho"),
    )
