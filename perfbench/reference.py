"""Independent references the benchmark checks the engine against.

Everything here is computed from the generated inputs with numpy or
DuckDB and shares no code with the engine: the encoder's md5 token
vectors, the graph loops and the coreference metrics are written again
from their definitions, and the progressive resolver is replayed in
SQL. A reference that agreed with the engine only because it called
the engine would check nothing.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict

import numpy as np

EPS = 1e-13

# --------------------------------------------------------------------------
# clustering metrics (MUC, B-cubed, CEAF-e) over dense label arrays
# --------------------------------------------------------------------------


def _contingency(true: np.ndarray, pred: np.ndarray):
    t_ids, t = np.unique(true, return_inverse=True)
    p_ids, p = np.unique(pred, return_inverse=True)
    cells = defaultdict(int)
    for a, b in zip(t.tolist(), p.tolist()):
        cells[(a, b)] += 1
    return len(t_ids), len(p_ids), np.bincount(t), np.bincount(p), cells


def _max_assignment(score: np.ndarray) -> float:
    """Maximum-weight one-to-one assignment total (Kuhn-Munkres with
    potentials, vectorized over columns)."""
    c = -score if score.shape[0] <= score.shape[1] else -score.T
    n, m = c.shape
    u = np.zeros(n + 1)
    v = np.zeros(m + 1)
    p = np.zeros(m + 1, np.int64)  # row (1-based) assigned to column j; 0 = none
    way = np.zeros(m + 1, np.int64)
    for i in range(1, n + 1):
        p[0] = i
        j0 = 0
        minv = np.full(m + 1, np.inf)
        used = np.zeros(m + 1, bool)
        while True:
            used[j0] = True
            i0 = p[j0]
            free = ~used[1:]
            cur = c[i0 - 1] - u[i0] - v[1:]
            upd = free & (cur < minv[1:])
            minv[1:][upd] = cur[upd]
            way[1:][upd] = j0
            cand = np.where(free, minv[1:], np.inf)
            j1 = int(np.argmin(cand)) + 1
            delta = cand[j1 - 1]
            u[p[used]] += delta
            v[used] -= delta
            minv[~used] -= delta
            j0 = j1
            if p[j0] == 0:
                break
        while j0:
            j1 = way[j0]
            p[j0] = p[j1]
            j0 = j1
    cols = np.nonzero(p[1:])[0]
    return float(-c[p[1:][cols] - 1, cols].sum())


def coref_scores(true: np.ndarray, pred: np.ndarray) -> dict[str, float]:
    """MUC, B-cubed and CEAF-e F1 plus their mean, each rounded to 6 dp
    like the engine's summary. CEAF-e uses phi_4 and divides the
    optimal similarity by #true entities for precision and #predicted
    clusters for recall (the reference implementation's orientation)."""
    n_t, n_p, t_sz, p_sz, cells = _contingency(true, pred)
    parts_p = np.zeros(n_p)
    parts_t = np.zeros(n_t)
    for a, b in cells:
        parts_p[b] += 1
        parts_t[a] += 1
    muc_p = (p_sz - parts_p).sum() / ((p_sz - 1).sum() + EPS)
    muc_r = (t_sz - parts_t).sum() / ((t_sz - 1).sum() + EPS)
    muc = 2 * muc_p * muc_r / (muc_p + muc_r + EPS)
    total = len(true)
    b3_p = sum(o * o / p_sz[b] for (a, b), o in cells.items()) / total
    b3_r = sum(o * o / t_sz[a] for (a, b), o in cells.items()) / total
    b3 = 2 * b3_p * b3_r / (b3_p + b3_r)
    # CEAF-e: the phi_4 matrix is block-diagonal over the connected
    # components of the contingency graph, so solve each block alone
    parent = list(range(n_t + n_p))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in cells:
        ra, rb = find(a), find(n_t + b)
        if ra != rb:
            parent[ra] = rb
    blocks = defaultdict(list)
    for (a, b), o in cells.items():
        blocks[find(a)].append((a, b, 2.0 * o / (t_sz[a] + p_sz[b])))
    num = 0.0
    for cells_b in blocks.values():
        if len(cells_b) == 1:
            num += cells_b[0][2]
            continue
        rows = sorted({a for a, _, _ in cells_b})
        cols = sorted({b for _, b, _ in cells_b})
        ri = {a: i for i, a in enumerate(rows)}
        ci = {b: j for j, b in enumerate(cols)}
        s = np.zeros((len(rows), len(cols)))
        for a, b, x in cells_b:
            s[ri[a], ci[b]] = x
        num += _max_assignment(s)
    ce_p, ce_r = num / n_t, num / n_p
    ceaf = 2 * ce_p * ce_r / (ce_p + ce_r) if ce_p + ce_r else 0.0
    out = {"muc_f1": round(muc, 6), "b3_f1": round(b3, 6), "ceaf_f1": round(ceaf, 6)}
    out["mean_f1"] = round(sum(out.values()) / 3, 6)
    return out


def pair_recall(true: np.ndarray, pred: np.ndarray) -> float:
    """Share of gold coreferent pairs that land in one predicted cluster."""
    n_t, n_p, t_sz, p_sz, cells = _contingency(true, pred)
    gold = float((t_sz * (t_sz - 1) // 2).sum())
    hit = float(sum(o * (o - 1) // 2 for o in cells.values()))
    return hit / gold if gold else 1.0


# --------------------------------------------------------------------------
# batch_resolve: hash encoder -> cosine threshold -> components
# --------------------------------------------------------------------------


def _token_vec(token: str, dim: int, cache: dict) -> np.ndarray:
    v = cache.get(token)
    if v is None:
        v = np.array(
            [
                int(hashlib.md5(f"{token}|{j}".encode()).hexdigest()[:15], 16) / 2**59 - 1.0
                for j in range(dim)
            ]
        )
        cache[token] = v
    return v


def encode(table, dim: int, budget: int) -> np.ndarray:
    """Mean-pooled md5 token vectors over the mention plus a symmetric
    context window of ``budget`` tokens a side, where a short side
    lends its unused budget to the other; rows L2-normalized."""
    cache: dict = {}
    cols = table.to_pydict()
    out = np.zeros((table.num_rows, dim))
    for i, (m, lc, rc) in enumerate(
        zip(cols["mention"], cols["left_context"], cols["right_context"])
    ):
        left, right = (lc or "").split(), (rc or "").split()
        tl = min(len(left), budget + max(0, budget - len(right)))
        tr = min(len(right), budget + max(0, budget - len(left)))
        toks = (left[-tl:] if tl else []) + (m or "").split() + right[:tr]
        vec = np.mean([_token_vec(t, dim, cache) for t in toks], axis=0) if toks else np.zeros(dim)
        nrm = np.linalg.norm(vec)
        out[i] = vec / nrm if nrm > 0 else vec
    return out


def components(n: int, edges: np.ndarray) -> np.ndarray:
    """Component label per vertex 0..n-1 = smallest vertex id in it."""
    parent = np.arange(n)

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges.tolist():
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return np.array([find(x) for x in range(n)])


def threshold_edges(emb: np.ndarray, threshold: float) -> np.ndarray:
    """Pairs u < v with cosine(u, v) > threshold."""
    x = emb / np.maximum(np.linalg.norm(emb, axis=1, keepdims=True), 1e-300)
    zero = np.linalg.norm(emb, axis=1) == 0
    x[zero] = 0.0
    sims = x @ x.T
    u, v = np.nonzero(np.triu(sims > threshold, 1))
    return np.stack([u, v], 1)


# --------------------------------------------------------------------------
# graph_iterate: the five graph loops, from their definitions
# --------------------------------------------------------------------------


def _sym(edges: np.ndarray) -> np.ndarray:
    return np.concatenate([edges, edges[:, ::-1]])


def lpa(edges: np.ndarray, iterations: int) -> dict[int, int]:
    """Each round every vertex takes the most frequent label among its
    neighbours, ties to the smallest label; labels start as ids."""
    sym = _sym(edges)
    labels = {int(x): int(x) for x in np.unique(sym[:, 0])}
    for _ in range(iterations):
        votes: dict[int, dict[int, int]] = defaultdict(lambda: defaultdict(int))
        for u, v in sym.tolist():
            votes[v][labels[u]] += 1
        labels = {v: min(c, key=lambda lb: (-c[lb], lb)) for v, c in votes.items()}
    return labels


def kcore(edges: np.ndarray, k: int, rounds: int) -> dict[int, int]:
    """``rounds`` synchronous peels of vertices with degree < k; returns
    the surviving degree per surviving vertex."""
    alive = _sym(edges)
    for _ in range(rounds):
        ids, deg = np.unique(alive[:, 0], return_counts=True)
        keep = ids[deg >= k]
        alive = alive[np.isin(alive[:, 0], keep) & np.isin(alive[:, 1], keep)]
    ids, deg = np.unique(alive[:, 0], return_counts=True)
    return dict(zip(ids.tolist(), deg.tolist()))


def pagerank_micro(edges: np.ndarray, iterations: int, damping_pct: int = 85,
                   unit: int = 1_000_000) -> dict[int, int]:
    """Damped PageRank in integer micro-units with truncating division,
    so every step is exact."""
    sym = _sym(edges)
    ids, deg = np.unique(sym[:, 0], return_counts=True)
    d = dict(zip(ids.tolist(), deg.tolist()))
    rank = {u: unit for u in d}
    base = (100 - damping_pct) * unit // 100
    for _ in range(iterations):
        s: dict[int, int] = defaultdict(int)
        for u, v in sym.tolist():
            s[v] += rank[u] // d[u]
        rank = {u: base + (damping_pct * s.get(u, 0)) // 100 for u in d}
    return rank


def bfs(edges: np.ndarray, seeds: np.ndarray, rounds: int) -> dict[int, int]:
    """Hop distance from the seed set for vertices within ``rounds`` hops."""
    adj: dict[int, list[int]] = defaultdict(list)
    for u, v in _sym(edges).tolist():
        adj[u].append(v)
    dist = {int(s): 0 for s in seeds}
    frontier = set(dist)
    for r in range(1, rounds + 1):
        nxt = {w for x in frontier for w in adj[x] if w not in dist}
        for w in nxt:
            dist[w] = r
        frontier = nxt
    return dist


# --------------------------------------------------------------------------
# stream_progressive: whole-schedule replay of the budgeted resolver
# --------------------------------------------------------------------------


def _shingles(text: str) -> set[str]:
    t = text.split(" ")
    return {" ".join(t[i : i + 3]) for i in range(max(len(t) - 2, 1))}


def progressive_replay(files, budget: int, df_cap: int, tau: float):
    """Replay bucket by bucket: the corpus visible to bucket k is every
    document of buckets <= k; shingles with visible document frequency
    above ``df_cap`` are dropped; candidate pairs (a < b, b in bucket
    k) are ranked by shared-shingle count (ties by ids) and the top
    ``budget`` verified with Jaccard >= tau over full shingle sets.

    Returns (per-bucket {(cbs, n_pairs, n_matches)}, verified matching
    pairs)."""
    import duckdb
    import pyarrow as pa

    doc_ids, shs, bks, sizes = [], [], [], {}
    for t in files:
        d = t.to_pydict()
        for i, txt, b in zip(d["doc_id"], d["text"], d["bucket"]):
            s = _shingles(txt)
            sizes[i] = len(s)
            doc_ids += [i] * len(s)
            shs += list(s)
            bks += [b] * len(s)
    sbat = pa.table({"doc_id": doc_ids, "shingle": shs, "bk": bks})
    sz = pa.table({"doc_id": list(sizes), "n": list(sizes.values())})
    ks = pa.table({"k": sorted({t["bucket"][0].as_py() for t in files})})
    con = duckdb.connect()
    try:
        con.register("sbat", sbat)
        con.register("sz", sz)
        con.register("ks", ks)
        rows = con.execute(
            f"""
            WITH dfk AS (SELECT ks.k, s.shingle, COUNT(*) AS c
                         FROM ks JOIN sbat s ON s.bk <= ks.k GROUP BY 1, 2),
            keepk AS (SELECT k, shingle FROM dfk WHERE c <= {int(df_cap)}),
            kept AS (SELECT sb.doc_id, sb.shingle, sb.bk
                     FROM sbat sb JOIN keepk kk ON kk.k = sb.bk AND kk.shingle = sb.shingle),
            cand AS (SELECT sb.bk AS batch_id, sa.doc_id AS doc_a, sb.doc_id AS doc_b,
                            COUNT(*) AS cbs
                     FROM kept sb JOIN sbat sa
                       ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
                     GROUP BY 1, 2, 3),
            bud AS (SELECT * FROM (
                        SELECT batch_id, doc_a, doc_b, cbs,
                               ROW_NUMBER() OVER (PARTITION BY batch_id
                                                  ORDER BY cbs DESC, doc_a, doc_b) AS rn
                        FROM cand) WHERE rn <= {int(budget)})
            SELECT batch_id, doc_a, doc_b, cbs,
                   CAST(cbs AS DOUBLE) / (x.n + y.n - cbs) >= {float(tau)} AS m
            FROM bud JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
            """
        ).fetchall()
    finally:
        con.close()
    per_bucket: dict[int, dict[int, list[int]]] = defaultdict(lambda: defaultdict(lambda: [0, 0]))
    matched = []
    for b, a, c, cbs, m in rows:
        cell = per_bucket[b][cbs]
        cell[0] += 1
        cell[1] += int(m)
        if m:
            matched.append((a, c))
    result = {
        b: {(cbs, n, nm) for cbs, (n, nm) in cells.items()} for b, cells in per_bucket.items()
    }
    return result, matched


# --------------------------------------------------------------------------
# stream_link: per-key replay of the bounded-memory linker
# --------------------------------------------------------------------------


def link_replay(files, threshold: float, limit: int) -> dict[int, int]:
    """Per category, in mention order: join the cluster of the most
    similar active mention when any cosine exceeds ``threshold`` (and
    mark every such mention as just used), else start a cluster named
    after the mention; keep at most ``limit`` active mentions, evicting
    the least recently used one (never the newest)."""
    active: dict[str, dict] = defaultdict(
        lambda: {"vecs": [], "clusters": [], "used": [], "tick": 0})
    out = {}
    rows = []
    for t in files:
        d = t.to_pydict()
        rows += zip(d["mention_index"], d["category"], d["embedding"])
    for mid, cat, vec in sorted(rows):
        st = active[cat]
        v = np.asarray(vec, dtype=np.float64)
        nrm = np.linalg.norm(v)
        v = v / nrm if nrm > 0 else v
        cluster = mid
        if st["vecs"]:
            sims = np.array([e @ v for e in st["vecs"]])
            hit = sims > threshold
            if hit.any():
                cluster = st["clusters"][int(np.argmax(sims))]
                for j in np.nonzero(hit)[0]:
                    st["used"][j] = st["tick"]
        out[mid] = cluster
        st["vecs"].append(v)
        st["clusters"].append(cluster)
        st["used"].append(st["tick"])
        if len(st["vecs"]) > limit:
            j = int(np.argmin(st["used"][:-1]))
            for k in ("vecs", "clusters", "used"):
                del st[k][j]
        st["tick"] += 1
    return out
