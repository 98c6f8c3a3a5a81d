"""Distributed clustering operators.

The reference's greedy threshold clustering (nn_thresh.py:138-152,
baseline.py:64-69) is order-dependent; its order-independent core is
"mentions linked by a similarity edge end in the same cluster" —
i.e. connected components of the threshold graph. We implement CC as
the scalable semantics (documented equivalence: identical partitions
whenever the greedy pass links transitively, which holds for the
`backwards` strategy with no window limit), and keep the exact
sequential replay in operators/greedy.py for parity mode.

Physical strategy for CC is adaptive, like AQE join selection:
- the threshold graph is usually MUCH smaller than the input (only
  near-duplicate pairs survive). Below ``driver_cutoff`` edges we
  solve union-find on the driver (O(E α)) and broadcast the mapping —
  same pattern as the driver-side Hungarian: the *aggregate* is
  small even when the data is not.
- above the cutoff: min-label propagation with pointer jumping over
  only the edge-touched vertices (isolated vertices are singletons by
  construction and never enter the loop), O(log n) rounds, cheap
  sum-based convergence test, localCheckpoint lineage truncation.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streaming_cdc_spark.operators.similarity import cosine_self_edges


def _driver_union_find(vertices: DataFrame, edge_pairs: list, id_col: str) -> DataFrame:
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in edge_pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min id keeps the representative deterministic
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    import pandas as pd

    spark = vertices.sparkSession
    # Arrow path: near the 2M-edge cutoff the mapping is ~millions of
    # rows, where the pickle-per-row createDataFrame is seconds and
    # the Arrow batch is milliseconds
    map_pdf = pd.DataFrame(
        {id_col: list(parent), "_root": [find(x) for x in parent]},
        dtype="int64",
    )
    if len(map_pdf) == 0:
        map_pdf = pd.DataFrame({id_col: pd.array([], dtype="int64"), "_root": pd.array([], dtype="int64")})
    map_df = spark.createDataFrame(map_pdf)
    return (
        vertices.join(F.broadcast(map_df), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("_root", F.col(id_col)).alias("cluster_id"),
        )
    )


@contextmanager
def _symmetric_edges(edges: DataFrame, self_loops: bool = False):
    """The undirected (u, v) edge list as a long relation holding both
    orientations, cached hash-partitioned on the probe key ``u`` for
    the ``with`` block and unpersisted on exit. Every graph loop here
    joins its per-vertex state on ``u`` and aggregates by ``v``; the
    probe join exchanges only the state side, because ``persist``
    keeps the repartition's output partitioning in the cached plan. A
    local checkpoint loses it, and a join whose state comes out of a
    separate job then re-exchanges the O(E) edge side every round.
    Callers materialize (localCheckpoint) whatever they return before
    leaving the block.

    Each input row is exploded into both orientations, so the edge
    source is evaluated once. Duplicate rows and input self-loops stay
    as multi-edges. ``self_loops=True`` is the connected-components
    form: input self-loops are dropped, rows are made distinct, and one
    (v, v) row is added per touched vertex, so an aggregate by ``v``
    also sees v's own state."""
    u, v = F.col("u").cast("long"), F.col("v").cast("long")
    rows = [F.struct(u.alias("u"), v.alias("v")), F.struct(v.alias("u"), u.alias("v"))]
    if self_loops:
        edges = edges.filter(u != v)
        rows += [F.struct(u.alias("u"), u.alias("v")), F.struct(v.alias("u"), v.alias("v"))]
    sym = edges.select(F.explode(F.array(*rows)).alias("_p")).select("_p.u", "_p.v")
    if self_loops:
        sym = sym.distinct()
    sym = sym.repartition("u").persist()
    try:
        yield sym
    finally:
        sym.unpersist()


def _label_sum(lbl: DataFrame):
    """Exact label total (None when empty) — a strict monotone of the
    min-label loop, so equal sums mean a fixed point."""
    return lbl.agg(F.sum(F.col("l").cast("decimal(38,0)"))).first()[0]


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "v",
    max_iter: int = 50,
    driver_cutoff: int = 2_000_000,
) -> DataFrame:
    """Connected components of (vertices, edges).

    vertices: DataFrame with ``id_col``; edges: DataFrame (u, v).
    Returns (id_col, cluster_id) where cluster_id = min vertex id in
    the component — deterministic regardless of execution order.
    """
    vs = vertices.select(F.col(id_col).cast("long").alias("v"))
    identity = vs.select(F.col("v").alias(id_col), F.col("v").alias("cluster_id"))
    e = edges.select(F.col("u").cast("long"), F.col("v").cast("long")).filter(
        F.col("u") != F.col("v")
    )
    if driver_cutoff:
        # Size the graph with ONE fully-parallel pass over a persisted
        # edge set. take(cutoff+1) looks cheaper but wave-scans the
        # result stage (1, 4, 16... partitions SEQUENTIALLY) — when
        # edges come off an expensive kernel stage that serializes the
        # whole matmul. The big path re-reads the cache it would have
        # had to materialize anyway; the small path collects via Arrow.
        e = e.persist()
        n_edges = e.count()
        if n_edges <= driver_cutoff:
            try:
                if n_edges == 0:
                    return identity
                pdf = e.toPandas()
                pairs = list(zip(pdf["u"].to_numpy(), pdf["v"].to_numpy()))
                return _driver_union_find(vs, pairs, "v").withColumnRenamed("v", id_col)
            finally:
                e.unpersist()
    with _symmetric_edges(e, self_loops=True) as sym:
        # the (v, v) rows are exactly the touched vertices; the job that
        # sums their initial labels also fills the edge cache, so the
        # edge source is evaluated once
        lbl0 = (
            sym.filter(F.col("u") == F.col("v"))
            .select("v", F.col("v").alias("l"))
            .localCheckpoint(eager=False)
        )
        prev_sum = _label_sum(lbl0)
        # only after the edge cache is loaded, or Spark rebuilds it
        e.unpersist()
        if prev_sum is None:  # no edges: every vertex is its own component
            return identity
        lbl = lbl0
        for _ in range(max_iter):
            # min over (neighbors ∪ self): the self-loop row carries v's
            # own label through the same aggregate
            stepped = (
                sym.join(lbl.withColumnRenamed("v", "u"), "u")
                .groupBy("v")
                .agg(F.min("l").alias("l"))
            )
            # pointer jump: l(v) <- l(l(v)) — collapses chains in O(log n).
            # The lazy checkpoint is materialized by the convergence sum,
            # one driver job per iteration.
            lbl = (
                stepped.alias("a")
                .join(
                    stepped.select(F.col("v").alias("l"), F.col("l").alias("l2")).alias("b"),
                    "l",
                    "left",
                )
                .select(F.col("v"), F.least(F.col("l"), F.coalesce("l2", "l")).alias("l"))
                .localCheckpoint(eager=False)
            )
            cur_sum = _label_sum(lbl)
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
    # edges may reference ids absent from `vertices`; keep output rows
    # only for the requested vertex set (matches the driver-union-find
    # path, which joins back to vertices)
    lbl = lbl.join(vs, "v", "leftsemi")
    isolated = vs.join(lbl0, "v", "leftanti").select("v", F.col("v").alias("l"))
    return lbl.union(isolated).select(
        F.col("v").alias(id_col), F.col("l").alias("cluster_id")
    )


def threshold_clusters(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "auto",
) -> DataFrame:
    """Cosine-threshold clustering: similarity edges -> connected
    components. Returns (id_col, cluster_id). ``strategy`` forwards to
    cosine_self_edges (auto = broadcast small / exact-blocked large)."""
    edges = cosine_self_edges(df, threshold, id_col=id_col, vec_col=vec_col, strategy=strategy)
    return connected_components(df.select(id_col), edges.select("u", "v"), id_col=id_col)


def find_threshold(
    df: DataFrame,
    target: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iters: int = 30,
    epsilon: float | None = None,
    lo: float = 0.0,
    hi: float = 1.0,
    vec_cols_weights: list[tuple[str, float]] | None = None,
    n: int | None = None,
    sim_round: int | None = None,
) -> tuple[float, DataFrame]:
    """C7 bisection (nn_thresh.py:118-135): binary-search the
    similarity threshold until the cluster count is within epsilon of
    target. Driver loop; each iteration re-filters the cached scored
    edges and re-runs CC — the scores are computed once.

    The kernel defaults to cosine on ``vec_col``; pass
    ``vec_cols_weights`` to bisect over the EP1 blended kernel
    instead (weighted sum of per-column cosines, combo.py:21-41) —
    e.g. finding the threshold that recovers the gold entity count
    over feature vectors.

    Only edges with sim > lo are ever materialized: every queried
    threshold is a midpoint strictly inside (lo, hi), so sim <= lo
    pairs can never survive a filter. For centered embeddings that is
    ~half of all pairs; callers with a tighter prior on the answer
    (e.g. near-dup thresholds ~0.9) should pass lo to shrink the
    persisted graph further — this is what keeps the cached edge set
    from being the dense O(n^2) score matrix the reference OOMs on.
    """
    from streaming_cdc_spark.operators.similarity import BROADCAST_MAX_ROWS, blended_self_edges

    if n is None:
        n = df.count()
    if epsilon is None:
        epsilon = n / 1000.0
    # n is already known — pick the kernel strategy here instead of
    # letting strategy='auto' re-count the input
    strategy = "broadcast" if n <= BROADCAST_MAX_ROWS else "blocked"
    if vec_cols_weights is not None:
        scored = blended_self_edges(
            df, vec_cols_weights, threshold=lo, id_col=id_col, strategy=strategy
        )
    else:
        scored = cosine_self_edges(
            df, threshold=lo, id_col=id_col, vec_col=vec_col, strategy=strategy
        )
    if sim_round is not None:
        # quantize the kernel BEFORE any threshold comparison: every
        # visited midpoint is dyadic with >6 decimals past iteration 6
        # (e.g. 0.3671875), so a 6-dp sim is never within float drift
        # of a midpoint — this is what makes the bisection SCHEDULE
        # itself replayable by an independent engine (the raw-sim
        # schedule had edges 9e-9 from a midpoint at sf0.1). The only
        # residual hazard is a raw sim within cross-engine drift
        # (~6e-16 measured) of a x.xxxxxx5 rounding boundary —
        # min distance 1.5e-13 on the testdata, pinned by test.
        scored = scored.withColumn("sim", F.round("sim", sim_round))
    scored = scored.persist()
    vertices = df.select(id_col)
    best = None
    for _ in range(max_iters):
        threshold = (lo + hi) / 2
        clusters = connected_components(
            vertices, scored.filter(F.col("sim") > threshold), id_col=id_col
        )
        n_clusters = clusters.select(F.countDistinct("cluster_id")).first()[0]
        best = (threshold, clusters)
        if abs(n_clusters - target) <= epsilon:
            break
        if n_clusters < target:
            lo = threshold
        else:
            hi = threshold
    # materialize the chosen clustering BEFORE dropping the cached
    # edges — otherwise any downstream action recomputes the O(n^2)
    # cosine self-join from scratch
    if best is not None:
        best = (best[0], best[1].localCheckpoint())
    scored.unpersist()
    return best


def triangle_counts(edges: DataFrame, assume_dedup: bool = False) -> DataFrame:
    """Per-node triangle participation counts via DEGREE-ORIENTED
    wedge closing (Schank/Wagner '05; the MapReduce form is Suri &
    Vassilvitskii WWW'11 "node iterator++") — the join order that
    makes triangle counting feasible on power-law graphs.

    Naive wedge counting joins edges on their shared endpoint: a hub
    of degree d contributes d^2 wedges, quadratic in the hottest key.
    Orienting every edge from its LOWER-degree endpoint (ties by id)
    caps every node's out-degree at O(sqrt(m)), so the wedge join
    emits at most m^(3/2) rows TOTAL regardless of skew — each
    triangle is generated exactly once, apexed at its minimum-degree
    corner. Both stages are plain equi-joins: wedges on apex, closure
    against the undirected edge list on the canonical (min, max) key.

    Input: undirected edges (u, v), u < v, no duplicates. Output:
    (vec_id, n_triangles) for every node in at least one triangle.

    ``assume_dedup``: the caller vouches the input is already unique
    AND already materialized (localCheckpointed) — skips the distinct
    shuffle and the second checkpoint (review r7s3: a caller that
    checkpoints for its own degree pass was paying both twice).
    """
    if assume_dedup:
        e = edges.select(F.col("u").cast("long"), F.col("v").cast("long"))
    else:
        # the edge set is referenced ~5x in this plan (degree union
        # x2, the orientation join, the closure semi-join) and
        # typically comes off an expensive kernel — materialize it
        # once instead of letting Catalyst recompute the kernel per
        # reference (the connected_components persist convention)
        e = (
            edges.select(F.col("u").cast("long"), F.col("v").cast("long"))
            .distinct()
            .localCheckpoint()
        )
    deg = (
        e.select(F.col("u").alias("x"))
        .unionAll(e.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ed = e.join(deg.select(F.col("x").alias("u"), F.col("d").alias("du")), "u").join(
        deg.select(F.col("x").alias("v"), F.col("d").alias("dv")), "v"
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    o1 = oriented.select("src", F.col("dst").alias("_a"))
    o2 = oriented.select("src", F.col("dst").alias("_b"))
    wedges = o1.join(o2, "src").filter(F.col("_a") < F.col("_b"))
    closed = wedges.join(
        e,
        (F.least("_a", "_b") == F.col("u")) & (F.greatest("_a", "_b") == F.col("v")),
        "left_semi",
    )
    members = closed.select(F.explode(F.array("src", "_a", "_b")).alias("vec_id"))
    return members.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def kcore_peel(edges: DataFrame, k: int = 2, rounds: int = 3) -> DataFrame:
    """K-CORE PEELING, ``rounds`` synchronous rounds (the parallel
    peeling step of Matula & Beck '83's core decomposition, as run
    distributed in e.g. GraphX/Pregel formulations): each round drops
    every node whose CURRENT degree is below ``k`` together with its
    edges, so surviving degrees only shrink. A fixed round count keeps
    the op SQL-replayable (unrolled CTE rounds, the pagerank_exact /
    label_propagation convention) — full convergence is just "run
    until a round removes nothing", and on bounded-degeneracy near-dup
    graphs the peel converges in a handful of rounds.

    Node-centric: the state is the alive vertex set, not the shrinking
    edge list. Per round deg(v) = edges ⋈_u alive, counted by v and
    semi-joined to alive — equi-joins on node ids, nothing quadratic,
    no driver state. Duplicate edges and self-loops count as
    multi-edges (a self-loop adds 2). Output: (vec_id, deg) for every
    node still alive after ``rounds`` peels, with its degree in the
    surviving subgraph — the standard triage signal for "densely
    interlinked near-duplicate mass" (a template family survives the
    peel; incidental pairwise matches do not)."""
    with _symmetric_edges(edges) as sym:
        # full degrees: counting by u equals counting by v on the
        # symmetric relation, and u needs no exchange
        deg = sym.groupBy(F.col("u").alias("v")).agg(F.count(F.lit(1)).alias("d"))
        for _ in range(rounds):
            # alive feeds both the probe and the survivor semi-join, so
            # the lazy checkpoint keeps the plan from doubling per round
            alive = (
                deg.filter(F.col("d") >= k)
                .select(F.col("v").alias("u"))
                .localCheckpoint(eager=False)
            )
            deg = (
                sym.join(alive, "u")
                .groupBy("v")
                .agg(F.count(F.lit(1)).alias("d"))
                .join(alive.withColumnRenamed("u", "v"), "v", "left_semi")
            )
        return deg.select(
            F.col("v").alias("vec_id"), F.col("d").cast("long").alias("deg")
        ).localCheckpoint()


def resource_allocation_links(
    edges: DataFrame,
    top_n: int = 100,
    unit: int = 1_000_000,
    max_center_degree: int | None = None,
) -> DataFrame:
    """RESOURCE-ALLOCATION link prediction (Zhou, Lü & Zhang '09 —
    the no-logarithm sibling of Adamic-Adar, chosen for the same
    reason ari_score avoids ln(): 1/deg needs no transcendental):
    score(a, b) = Σ_{w ∈ N(a) ∩ N(b)} 1/deg(w), computed in EXACT
    integer micro-units (unit div deg — associative, order-free,
    identical in Spark `div` and DuckDB `//`). High-scoring non-edges
    are the "these two templates share rare hubs" signal — the
    recommendation/triage row over the near-dup graph.

    Physical: one wedge join on the center node (each center of
    degree d emits C(d,2) pairs — inherently quadratic in the hottest
    hub, like every common-neighbor definition; the standard
    recall-trading mitigation, ``max_center_degree``, drops
    super-hubs as CENTERS the way cap_shingle_df caps hot shingles —
    a capped hub still scores via its other neighbors' wedges), one
    keyed integer sum, one left join flagging existing edges, then
    the two-pass global rank. Edges are undirected: (u, v) and (v, u)
    and repeats are one edge. Output:
    (u, v, score_micro, linked, rank), top_n rows under the total
    (score DESC, u, v) order."""
    from streaming_cdc_spark.operators.ranking import row_number_global

    u, v = F.col("u").cast("long"), F.col("v").cast("long")
    canonical = edges.select(F.least(u, v).alias("u"), F.greatest(u, v).alias("v"))
    with _symmetric_edges(canonical.distinct()) as sym:
        deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
        centers = deg if max_center_degree is None else deg.filter(
            F.col("d") <= max_center_degree
        )
        n1 = sym.join(centers.select("u"), "u", "left_semi")
        wedges = (
            n1.select(F.col("u").alias("_w"), F.col("v").alias("_a"))
            .join(n1.select(F.col("u").alias("_w"), F.col("v").alias("_b")), "_w")
            .filter(F.col("_a") < F.col("_b"))
        )
        contrib = wedges.join(deg.withColumnRenamed("u", "_w"), "_w").select(
            "_a", "_b", F.expr(f"{unit} div d").alias("_c")
        )
        sc = contrib.groupBy("_a", "_b").agg(
            F.sum("_c").cast("long").alias("score_micro")
        )
        flagged = sc.join(
            sym.select(F.col("u").alias("_a"), F.col("v").alias("_b"), F.lit(1).alias("_l")),
            ["_a", "_b"],
            "left",
        ).select(
            F.col("_a").alias("u"),
            F.col("_b").alias("v"),
            "score_micro",
            F.coalesce(F.col("_l"), F.lit(0)).cast("long").alias("linked"),
        )
        return row_number_global(
            flagged, [F.desc("score_micro"), F.asc("u"), F.asc("v")], "rank"
        ).filter(F.col("rank") <= top_n).localCheckpoint()


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
) -> DataFrame:
    """Semi-synchronous LABEL PROPAGATION community detection
    (Raghavan et al. 2007) over an undirected edge list (u < v;
    symmetrized internally), made fully deterministic: labels start
    as node ids; each iteration every node adopts its neighbors'
    MODE label with the tie broken by the SMALLEST label (count
    DESC, label ASC — a total order, so the classic random
    tie-break's nondeterminism is gone). Distinct from connected
    components: the mode vote splits dense subregions a MIN-label
    propagation would merge.

    Fixed ``iterations`` keeps it SQL-replayable (unrolled CTE
    pairs, like pagerank_exact). Scale shape per iteration: one
    edges-x-labels equi-join + one keyed count + one keyed
    row_number window (partitioned by node — never a single
    partition). Returns (vec_id, community) for every node with at
    least one edge."""
    from pyspark.sql import Window as W

    w = W.partitionBy("v").orderBy(F.desc("_c"), F.asc("lbl"))
    with _symmetric_edges(edges) as sym:
        labels = sym.select("u").distinct().withColumn("lbl", F.col("u"))
        for _ in range(iterations):
            votes = (
                sym.join(labels, "u")
                .groupBy("v", "lbl")
                .agg(F.count(F.lit(1)).alias("_c"))
            )
            labels = (
                votes.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select(F.col("v").alias("u"), "lbl")
            )
        return labels.select(
            F.col("u").alias("vec_id"), F.col("lbl").alias("community")
        ).localCheckpoint()


def pagerank_exact(
    edges: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    unit: int = 1_000_000,
    seed_pred=None,
) -> DataFrame:
    """Damped PageRank over an UNDIRECTED edge list (u < v pairs;
    symmetrized internally), in INTEGER MICRO-UNITS so every step is
    exact and order-free — the same trick as the PQ ADC integer LUTs:
    float PageRank sums contributions in whatever order partitions
    merge, which breaks cross-engine/cross-partitioning hash parity;
    integer sums and integer division are associative and identical
    in Spark (`div`) and DuckDB (`//`).

    rank_0 = unit per node; per iteration
    rank'(v) = (100-d)% * unit // 100  +  d% * SUM_u(rank(u) // deg(u)) // 100.

    Fixed ``iterations`` keeps the op SQL-replayable (unrolled CTEs),
    like the bisection oracle's unrolled stages. Scale shape: each
    iteration is one join (edges x ranks, both keyed on the source)
    + one keyed sum — the standard distributed PageRank step. No
    driver-side state. Returns
    (vec_id, rank_micro) with rank in micro-units (BIGINT).
    """
    base = (100 - damping_pct) * unit // 100
    # PERSONALIZED variant (random walk with restart, Jeh & Widom
    # '03): ``seed_pred`` is a boolean Column over the node id `u` —
    # teleport mass (the base term, and the initial rank) goes ONLY
    # to seed nodes; None keeps the uniform classic form.
    if seed_pred is None:
        init_r, base_col = F.lit(unit), F.lit(base)
    else:
        init_r = F.when(seed_pred, F.lit(unit)).otherwise(F.lit(0))
        base_col = F.when(seed_pred, F.lit(base)).otherwise(F.lit(0))
    with _symmetric_edges(edges) as sym:
        deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
        # every node of the symmetrized graph has deg >= 1 and at least
        # one in-neighbor (in = out): no dangling mass, and every node
        # gets a contribution row
        ranks = deg.select("u", "d", init_r.cast("long").alias("r"))
        for _ in range(iterations):
            contrib = (
                sym.join(ranks, "u")
                .groupBy("v")
                .agg(F.sum(F.expr("r div d")).alias("s"))
            )
            ranks = deg.join(contrib.withColumnRenamed("v", "u"), "u").select(
                "u",
                "d",
                (base_col + F.expr(f"({damping_pct} * s) div 100")).cast("long").alias("r"),
            )
        return ranks.select(
            F.col("u").alias("vec_id"), F.col("r").alias("rank_micro")
        ).localCheckpoint()


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    id_col: str = "node",
    rounds: int = 3,
) -> DataFrame:
    """Bounded-hop BFS: exact shortest-path distances (hop counts)
    from a seed set over an undirected edge list, ``rounds``
    synchronous relaxation rounds — the distributed Bellman-Ford
    step specialised to unit weights. Each round is one equi-join
    (frontier against edges) + one keyed MIN — the standard
    scale-shape: no driver-side frontier, no global sort, per-round
    cost linear in |edges|. Fixed round count keeps it SQL-replayable
    (the unrolled-CTE oracle family: kcore_peel_rounds,
    label_propagation). Seeds with no edges keep distance 0. Returns (id_col, dist) for every
    node within ``rounds`` hops of a seed; dist is exact BIGINT, so
    the min-reduction is order-free under any partitioning."""
    # per-round checkpoints are lazy: the plan stays flat and the
    # result's checkpoint materializes all rounds in one job
    dist = seeds.select(
        F.col(id_col).cast("long").alias("u"), F.lit(0).cast("long").alias("dist")
    ).localCheckpoint(eager=False)
    with _symmetric_edges(edges) as sym:
        for _ in range(rounds):
            prop = sym.join(dist, "u").select(
                F.col("v").alias("u"), (F.col("dist") + 1).alias("dist")
            )
            dist = (
                dist.unionByName(prop)
                .groupBy("u")
                .agg(F.min("dist").alias("dist"))
                .localCheckpoint(eager=False)
            )
        return dist.select(F.col("u").alias(id_col), "dist").localCheckpoint()
