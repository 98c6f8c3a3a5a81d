"""Clustering operators: greedy exact replay (reference fixture) and
connected components vs a hand union-find, and the graph loops over
the shared symmetric-edge relation against Python references."""

from collections import Counter, defaultdict

import numpy as np
from pyspark.sql import functions as F

from streaming_cdc_spark.operators import clustering as C
from streaming_cdc_spark.operators.clustering import connected_components, threshold_clusters
from streaming_cdc_spark.operators.greedy import greedy_cluster_numpy, greedy_clusters


def test_greedy_one_hot_fixture():
    # Reference tests/nn_thresh_test.py:8-18 — 5x2 one-hot, thr 0.5
    example = np.array([[1, 0], [0, 1], [1, 0], [1, 0], [0, 1]], dtype=float)
    observed = greedy_cluster_numpy(example, threshold=0.5)
    assert observed.tolist() == [0, 1, 0, 0, 1]


def test_greedy_window_limit():
    # 3 identical vectors; window limit 1 still chains them transitively
    e = np.array([[1, 0], [1, 0], [1, 0]], dtype=float)
    assert greedy_cluster_numpy(e, 0.5, strategy="backwards", limit=1).tolist() == [0, 0, 0]


def test_greedy_spark_wrapper(spark):
    rows = [(10, [1.0, 0.0]), (11, [0.0, 1.0]), (12, [1.0, 0.0]), (13, [1.0, 0.0]), (14, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["cluster_id"] for r in greedy_clusters(df, 0.5).collect()}
    assert got == {10: 10, 11: 11, 12: 10, 13: 10, 14: 11}


import pytest


@pytest.mark.parametrize("cutoff", [0, 2_000_000])  # distributed loop vs driver union-find
def test_connected_components(spark, cutoff):
    vertices = spark.range(1, 8).select(F.col("id").alias("v"))
    edges = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "u long, v long")
    got = {
        r["v"]: r["cluster_id"]
        for r in connected_components(vertices, edges, driver_cutoff=cutoff).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}


@pytest.mark.parametrize("cutoff", [0, 2_000_000])
def test_connected_components_chain(spark, cutoff):
    # long path graph: exercises pointer jumping (O(log n) rounds)
    n = 64
    vertices = spark.range(n).select(F.col("id").alias("v"))
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "u long, v long")
    got = {
        r["v"]: r["cluster_id"]
        for r in connected_components(vertices, edges, driver_cutoff=cutoff).collect()
    }
    assert all(c == 0 for c in got.values())


def test_connected_components_custom_id_col(spark):
    vertices = spark.createDataFrame([(10,), (11,), (12,)], "vec_id long")
    edges = spark.createDataFrame([(10, 12)], "u long, v long")
    got = {
        r["vec_id"]: r["cluster_id"]
        for r in connected_components(vertices, edges, id_col="vec_id").collect()
    }
    assert got == {10: 10, 11: 11, 12: 10}


@pytest.mark.parametrize("cutoff", [0, 2_000_000])
def test_connected_components_duplicate_and_reversed_edges(spark, cutoff):
    # r10 loop rewrite (self-loop fold + u-partitioned cached edges):
    # duplicate edges, both-direction pairs and a DESCENDING id chain
    # (the min label enters at the tail, so own-label retention and
    # the jump both do real work) must not change the assignment on
    # either physical path
    vertices = spark.range(1, 10).select(F.col("id").alias("v"))
    edges = spark.createDataFrame(
        [(9, 8), (8, 9), (8, 7), (7, 6), (7, 6), (6, 1), (3, 4)],
        "u long, v long",
    )
    got = {
        r["v"]: r["cluster_id"]
        for r in connected_components(vertices, edges, driver_cutoff=cutoff).collect()
    }
    assert got == {1: 1, 2: 2, 3: 3, 4: 3, 5: 5, 6: 1, 7: 1, 8: 1, 9: 1}


@pytest.mark.parametrize("cutoff", [0, 2_000_000])
def test_connected_components_edge_only_vertices(spark, cutoff):
    # edges referencing ids absent from `vertices` must not leak into
    # the output on either physical path (r1 ADVICE)
    vertices = spark.createDataFrame([(1,), (2,)], "v long")
    edges = spark.createDataFrame([(1, 9), (9, 2)], "u long, v long")
    got = {
        r["v"]: r["cluster_id"]
        for r in connected_components(vertices, edges, driver_cutoff=cutoff).collect()
    }
    assert set(got) == {1, 2}


def test_threshold_clusters_matches_union_find(spark):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 8))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    tau = 0.5
    # driver-side truth: union-find over exact cosine graph
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    parent = list(range(40))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(40):
        for j in range(i + 1, 40):
            if sims[i, j] > tau:
                parent[find(i)] = find(j)
    truth = {}
    for i in range(40):
        truth.setdefault(find(i), []).append(i)
    expected = {m: min(ms) for ms in truth.values() for m in ms}
    got = {r["vec_id"]: r["cluster_id"] for r in threshold_clusters(df, tau).collect()}
    assert got == expected


def test_greedy_propagation_equals_max_parent_chase():
    """The oracle for greedy_parity_clusters relies on: the
    reference's forward id-propagation == parent-chase with
    parent(j) = max predecessor above threshold. Fuzz it."""
    import numpy as np

    from streaming_cdc_spark.operators.greedy import greedy_cluster_numpy

    rng = np.random.default_rng(11)
    for trial in range(20):
        n, d = rng.integers(5, 40), 4
        mat = rng.normal(size=(int(n), d))
        tau = float(rng.uniform(0.1, 0.9))
        labels = greedy_cluster_numpy(mat, tau)
        e = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        sims = e @ e.T
        parent = {}
        for j in range(int(n)):
            preds = [i for i in range(j) if sims[j, i] > tau]
            if preds:
                parent[j] = max(preds)
        chase = {}
        for j in range(int(n)):
            r = j
            while r in parent:
                r = parent[r]
            chase[j] = chase.get(parent.get(j, j), r)
        want = np.array([chase[j] for j in range(int(n))])
        assert (labels == want).all(), (trial, labels, want)


def test_triangle_counts_match_bruteforce_random(spark):
    """Degree orientation must produce every triangle exactly once —
    fuzzed over random graphs including a planted clique (hub skew)."""
    import itertools
    import random

    from streaming_cdc_spark.operators.clustering import triangle_counts

    rng = random.Random(17)
    for trial in range(3):
        edges = {tuple(sorted(rng.sample(range(30), 2))) for _ in range(90)}
        edges |= set(itertools.combinations(range(5), 2))  # planted K5
        edges = sorted(edges)
        df = spark.createDataFrame(edges, "u long, v long")
        got = {
            r["vec_id"]: r["n_triangles"] for r in triangle_counts(df).collect()
        }
        es = set(edges)
        nodes = sorted({x for e in edges for x in e})
        want: dict[int, int] = {}
        for a, b, c in itertools.combinations(nodes, 3):
            if (a, b) in es and (b, c) in es and (a, c) in es:
                for x in (a, b, c):
                    want[x] = want.get(x, 0) + 1
        assert got == want, trial
        # K5 corners sit in >= C(4,2)=6 triangles each
        assert all(got[x] >= 6 for x in range(5))


def test_pagerank_exact_path_graph_golden(spark):
    """Hand-computed one-iteration ranks on the path graph 1-2-3
    (micro-units): deg = 1,2,1; contributions 2->1: 500000,
    1->2 + 3->2: 2000000, 2->3: 500000; damped =
    150000 + 85%*c // 100."""
    from streaming_cdc_spark.operators.clustering import pagerank_exact

    edges = spark.createDataFrame([(1, 2), (2, 3)], "u long, v long")
    got = {
        r["vec_id"]: r["rank_micro"]
        for r in pagerank_exact(edges, iterations=1).collect()
    }
    assert got == {1: 575000, 2: 1850000, 3: 575000}


def test_pagerank_exact_partition_invariant(spark):
    """Integer micro-unit arithmetic: identical ranks under 1- and
    16-partition inputs (the property float PageRank lacks)."""
    from streaming_cdc_spark.operators.clustering import pagerank_exact

    import random

    rnd = random.Random(7)
    edges = [(rnd.randrange(40), 40 + rnd.randrange(40)) for _ in range(300)]
    df1 = spark.createDataFrame(edges, "u long, v long").repartition(1)
    df16 = spark.createDataFrame(edges, "u long, v long").repartition(16)
    a = sorted(map(tuple, pagerank_exact(df1, 3).collect()))
    b = sorted(map(tuple, pagerank_exact(df16, 3).collect()))
    assert a == b


def test_bfs_distances_path_single_seed(spark):
    from streaming_cdc_spark.operators.clustering import bfs_distances

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "u long, v long"
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, seeds, rounds=3).collect()
    }
    # nodes beyond 3 hops are absent, not infinite
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_bfs_distances_multi_seed_takes_min(spark):
    from streaming_cdc_spark.operators.clustering import bfs_distances

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "u long, v long"
    )
    seeds = spark.createDataFrame([(0,), (5,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, seeds, rounds=3).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 2, 4: 1, 5: 0}


def test_bfs_distances_edges_are_undirected(spark):
    from streaming_cdc_spark.operators.clustering import bfs_distances

    edges = spark.createDataFrame([(7, 8)], "u long, v long")
    seeds = spark.createDataFrame([(8,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, seeds, rounds=2).collect()
    }
    assert got == {8: 0, 7: 1}


# --- graph loops: degenerate inputs, evaluation counts, plan shape --------


@pytest.mark.parametrize("cutoff", [0, 2_000_000])
def test_connected_components_empty_edges(spark, cutoff):
    # no edges: identity labelling, without running the 50-iteration loop
    sc = spark.sparkContext
    group = f"cc-empty-{cutoff}"
    vertices = spark.range(1, 6).select(F.col("id").alias("v"))
    edges = spark.createDataFrame([], "u long, v long")
    sc.setJobGroup(group, group)
    try:
        got = dict(
            tuple(r)
            for r in connected_components(vertices, edges, driver_cutoff=cutoff).collect()
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == {v: v for v in range(1, 6)}
    assert len(sc.statusTracker().getJobIdsForGroup(group)) < 10


@pytest.mark.parametrize("cutoff", [0, 2_000_000])
def test_connected_components_evaluates_edge_source_once(spark, cutoff):
    # the edge source (typically a similarity kernel) is counted by a
    # Python UDF that emits the whole edge list from a single row
    acc = spark.sparkContext.accumulator(0)

    def emit(_):
        acc.add(1)
        return [(1, 2), (2, 3), (5, 6)]

    src = F.udf(emit, "array<struct<u:long,v:long>>")
    edges = spark.range(1).select(F.explode(src("id")).alias("e")).select("e.u", "e.v")
    vertices = spark.range(1, 8).select(F.col("id").alias("v"))
    got = dict(
        tuple(r)
        for r in connected_components(vertices, edges, driver_cutoff=cutoff).collect()
    )
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}
    assert acc.value == 1


def _both(edges):
    return list(edges) + [(v, u) for u, v in edges]


def _ref_lpa(edges, iterations):
    sym = _both(edges)
    labels = {u: u for u, _ in sym}
    for _ in range(iterations):
        votes = Counter((v, labels[u]) for u, v in sym)
        best = {}
        for (v, lbl), c in votes.items():
            best[v] = min(best.get(v, (0, lbl)), (-c, lbl))
        labels = {v: lbl for v, (_, lbl) in best.items()}
    return labels


def _ref_kcore(edges, k, rounds):
    # the definitional edge-centric peel: drop low-degree nodes with
    # their edges, recount
    alive = _both(edges)
    for _ in range(rounds):
        deg = Counter(u for u, _ in alive)
        alive = [(u, v) for u, v in alive if deg[u] >= k and deg[v] >= k]
    return dict(Counter(u for u, _ in alive))


def _ref_pagerank(edges, iterations, unit=1_000_000, damping_pct=85):
    sym = _both(edges)
    deg = Counter(u for u, _ in sym)
    rank = {u: unit for u in deg}
    for _ in range(iterations):
        s = Counter()
        for u, v in sym:
            s[v] += rank[u] // deg[u]
        rank = {
            u: (100 - damping_pct) * unit // 100 + damping_pct * s[u] // 100 for u in deg
        }
    return rank


def _ref_bfs(edges, seeds, rounds):
    dist = {s: 0 for s in seeds}
    for _ in range(rounds):
        nxt = dict(dist)
        for u, v in _both(edges):
            if u in dist:
                nxt[v] = min(nxt.get(v, dist[u] + 1), dist[u] + 1)
        dist = nxt
    return dist


def _ref_resource_allocation(edges, top_n, unit=1_000_000):
    und = {(min(u, v), max(u, v)) for u, v in edges}
    nbrs = defaultdict(list)
    for u, v in _both(und):
        nbrs[u].append(v)
    score = Counter()
    for ns in nbrs.values():
        for a in ns:
            for b in ns:
                if a < b:
                    score[(a, b)] += unit // len(ns)
    top = sorted(score.items(), key=lambda kv: (-kv[1], kv[0]))[:top_n]
    return {(a, b): (s, int((a, b) in und), i + 1) for i, ((a, b), s) in enumerate(top)}


DEGENERATE_GRAPHS = {
    "empty": [],
    "single_edge": [(1, 2)],
    "duplicate_and_reversed": [(1, 2), (2, 1), (1, 2), (2, 3), (3, 4), (4, 2)],
    "self_loop": [(3, 3), (1, 2), (2, 3)],
}


@pytest.mark.parametrize("shape", sorted(DEGENERATE_GRAPHS))
def test_graph_loops_degenerate_inputs(spark, shape):
    """Every loop over the shared symmetric-edge relation against a
    small Python reference: empty input, one edge, duplicate plus
    reversed edges (multi-edges for all but resource allocation, which
    works on the simple graph), and a self-loop."""
    pairs = DEGENERATE_GRAPHS[shape]
    edges = spark.createDataFrame(pairs, "u long, v long")
    seeds = spark.createDataFrame([(1,), (9,)], "node long")

    def as_dict(df):
        return {r[0]: r[1] for r in df.collect()}

    for it in (0, 1, 2):
        assert as_dict(C.label_propagation(edges, it)) == _ref_lpa(pairs, it), it
        assert as_dict(C.pagerank_exact(edges, it)) == _ref_pagerank(pairs, it), it
        assert as_dict(C.bfs_distances(edges, seeds, rounds=it)) == _ref_bfs(
            pairs, [1, 9], it
        ), it
    for k in (1, 2, 3):
        for rounds in (0, 1, 2):
            got = as_dict(C.kcore_peel(edges, k=k, rounds=rounds))
            assert got == _ref_kcore(pairs, k, rounds), (k, rounds)
    got = {
        (r["u"], r["v"]): (r["score_micro"], r["linked"], r["rank"])
        for r in C.resource_allocation_links(edges, top_n=10).collect()
    }
    assert got == _ref_resource_allocation(pairs, 10)


def test_kcore_peel_matches_edge_peel_random_multigraphs(spark):
    import random

    rng = random.Random(5)
    for trial in range(4):
        pairs = [(rng.randrange(12), rng.randrange(12)) for _ in range(30)]
        pairs += pairs[:4] + [(v, u) for u, v in pairs[4:8]]
        edges = spark.createDataFrame(pairs, "u long, v long")
        for k, rounds in ((2, 2), (3, 3), (4, 1)):
            got = {r[0]: r[1] for r in C.kcore_peel(edges, k=k, rounds=rounds).collect()}
            assert got == _ref_kcore(pairs, k, rounds), (trial, k, rounds)


def _u_exchanges_above_edge_scans(plan: str) -> tuple[int, int]:
    """(cached scans, hashpartitioning(u) exchanges between such a scan
    and its first join) in one executed plan's formatted description."""
    import re

    tree, _, details = plan.partition("\n\n\n")
    final = re.split(r"^\+- == Initial Plan ==", tree, flags=re.M)[0]
    args = {}
    for block in details.split("\n\n"):
        m = re.match(r"\((\d+)\) Exchange\n(?:.*\n)*?Arguments: (.*)", block.strip())
        if m:
            args[m.group(1)] = m.group(2)
    nodes = []  # (indent, name, id) per tree line; a parent is less indented
    for line in final.splitlines():
        m = re.match(r"([\s:|+-]*)(?:\* )?([A-Za-z][\w ]*?) \((\d+)\)", line)
        if m:
            nodes.append((len(m.group(1)), m.group(2), m.group(3)))
    scans = bad = 0
    for i, (col, name, _) in enumerate(nodes):
        if not name.startswith("InMemoryTableScan"):
            continue
        scans += 1
        for pcol, pname, pid in reversed(nodes[:i]):
            if pcol >= col:
                continue
            col = pcol
            if "Join" in pname:
                break
            bad += pname == "Exchange" and args.get(pid, "").startswith("hashpartitioning(u#")
    return scans, bad


def test_graph_loops_probe_cached_edges_without_reexchange(spark):
    """One iteration of each loop with broadcast joins off: the cached
    symmetric edges are read by the u-keyed join or aggregate with no
    hashpartitioning(u) exchange above the scan (persist keeps the
    repartition's partitioning), and no DataFrame cache outlives the
    call (local checkpoints back the returned lineage)."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)], "u long, v long")
    seeds = spark.createDataFrame([(1,)], "node long")
    vertices = spark.range(1, 7).select(F.col("id").alias("v"))
    loops = {
        "cc": lambda: C.connected_components(vertices, edges, max_iter=1, driver_cutoff=0),
        "lpa": lambda: C.label_propagation(edges, 1),
        "kcore": lambda: C.kcore_peel(edges, k=2, rounds=1),
        "pagerank": lambda: C.pagerank_exact(edges, 1),
        "bfs": lambda: C.bfs_distances(edges, seeds, rounds=1),
        "resource_allocation": lambda: C.resource_allocation_links(edges, 10),
    }

    def caches():
        rdds = sc._jsc.getPersistentRDDs().values()
        return sum(1 for r in rdds if not r.rdd().isLocallyCheckpointed())

    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name, loop in loops.items():
            n_caches, first = caches(), store.executionsList().size()
            loop().collect()
            assert caches() == n_caches, name
            execs = store.executionsList()
            counts = [
                _u_exchanges_above_edge_scans(execs.apply(i).physicalPlanDescription())
                for i in range(first, execs.size())
            ]
            assert sum(s for s, _ in counts) > 0, name
            assert sum(b for _, b in counts) == 0, name
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
