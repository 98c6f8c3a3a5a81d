"""Seeded input generators and the open-loop file publisher.

Every generator is a pure function of its seed and size: the same
arguments write the same parquet bytes. The engine under test only
ever sees these files; the gold labels the generators also return stay
with the benchmark.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Fixed parquet writer settings: byte-identical output for equal input.
_PQ = dict(compression="zstd", use_dictionary=True, write_statistics=True)


def write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, **_PQ)


def publish_atomically(table: pa.Table, dirpath: str, name: str) -> str:
    """Write under a hidden temp name (the file source skips names that
    start with '.'), then rename into place, so a reader never sees a
    partial file."""
    tmp = os.path.join(dirpath, f".tmp-{name}")
    final = os.path.join(dirpath, name)
    write_parquet(table, tmp)
    os.replace(tmp, final)
    return final


# --------------------------------------------------------------------------
# batch_resolve: mention records with gold entities
# --------------------------------------------------------------------------


@dataclass
class Mentions:
    table: pa.Table  # mention_index, mention, left_context, right_context, entity_id
    gold: np.ndarray  # entity id per mention_index (dense ints)


def gen_mentions(seed: int, n_mentions: int, vocab: int = 1000) -> Mentions:
    """Mentions of gold entities whose sizes follow a Zipf law (mostly
    singletons and small entities), plus one dominant entity holding
    ~6% of all mentions. About a fifth of the entities share their
    surface form with another entity, so the mention string alone
    cannot separate them; the context words (drawn mostly from a
    per-entity topic) can."""
    rng = np.random.default_rng([seed, 1])
    dominant = max(2, n_mentions * 6 // 100)
    sizes = [dominant]
    while sum(sizes) < n_mentions:
        sizes.append(int(min(rng.zipf(2.2), 40)))
    sizes[-1] -= sum(sizes) - n_mentions
    sizes = [s for s in sizes if s > 0]
    n_ent = len(sizes)
    words = np.array([f"w{i}" for i in range(vocab)])
    n_names = max(1, int(n_ent * 0.8))
    name_of = rng.integers(0, n_names, n_ent)  # collisions = shared surface forms
    topics = rng.integers(0, vocab, (n_ent, 12))
    ent = np.repeat(np.arange(n_ent), sizes)
    ent = ent[rng.permutation(len(ent))]  # stream order interleaves entities
    ids, ments, lefts, rights = [], [], [], []
    for i, e in enumerate(ent):
        ctx = np.where(
            rng.random(16) < 0.75,
            topics[e][rng.integers(0, 12, 16)],
            rng.integers(0, vocab, 16),
        )
        ids.append(i)
        ments.append(f"name{name_of[e]} kind{name_of[e] % 7}")
        lefts.append(" ".join(words[ctx[:8]]))
        rights.append(" ".join(words[ctx[8:]]))
    table = pa.table(
        {
            "mention_index": pa.array(ids, pa.int64()),
            "mention": pa.array(ments),
            "left_context": pa.array(lefts),
            "right_context": pa.array(rights),
            "entity_id": pa.array([f"E{e}" for e in ent]),
        }
    )
    return Mentions(table, ent.astype(np.int64))


# --------------------------------------------------------------------------
# graph_iterate: match graph with planted communities, chains and a hub
# --------------------------------------------------------------------------


@dataclass
class Graph:
    n_vertices: int
    edges: np.ndarray  # (E, 2) int64, u < v, unique, sorted
    community: np.ndarray  # planted community per vertex
    seeds: np.ndarray  # BFS seed vertices


def gen_graph(seed: int, n_vertices: int, n_chains: int = 4) -> Graph:
    """Planted communities (Zipf sizes 2..60, intra-edge density ~0.25)
    joined by a few noise edges, ``n_chains`` paths of up to 8 vertices that stretch
    the graph diameter (the iteration count of label-min propagation),
    and one hub adjacent to ~2% of all vertices across communities."""
    rng = np.random.default_rng([seed, 2])
    chain_len = max(3, min(8, n_vertices // 40))
    chain_total = n_chains * chain_len
    sizes = []
    while sum(sizes) < n_vertices - chain_total - 1:
        sizes.append(int(min(max(rng.zipf(1.8), 2), 60)))
    sizes[-1] -= sum(sizes) - (n_vertices - chain_total - 1)
    sizes = [s for s in sizes if s > 0]
    comm = np.repeat(np.arange(len(sizes)), sizes)
    perm = rng.permutation(len(comm))  # community members get scattered ids
    community = np.empty(n_vertices, np.int64)
    community[perm] = comm
    parts = []
    start = 0
    members_by_comm = np.argsort(community[: len(comm)], kind="stable")
    for c, s in enumerate(sizes):
        m = members_by_comm[start : start + s]
        start += s
        if s < 2:
            continue
        a, b = np.triu_indices(s, 1)
        keep = rng.random(len(a)) < max(0.25, 1.5 / s)
        # a spanning path keeps every planted community connected
        path = np.stack([m[:-1], m[1:]], 1)
        parts += [np.stack([m[a[keep]], m[b[keep]]], 1), path]
    base = len(comm)
    for k in range(n_chains):
        ids = np.arange(base + k * chain_len, base + (k + 1) * chain_len)
        community[ids] = len(sizes) + k
        parts.append(np.stack([ids[:-1], ids[1:]], 1))
    hub = n_vertices - 1
    community[hub] = len(sizes) + n_chains
    nbrs = rng.choice(base, max(2, n_vertices // 50), replace=False)
    parts.append(np.stack([np.full(len(nbrs), hub), nbrs], 1))
    noise = rng.integers(0, base, (max(1, n_vertices // 100), 2))
    parts.append(noise)
    e = np.concatenate(parts).astype(np.int64)
    lo, hi = np.minimum(e[:, 0], e[:, 1]), np.maximum(e[:, 0], e[:, 1])
    e = np.unique(np.stack([lo, hi], 1)[lo < hi], axis=0)
    seeds = np.sort(rng.choice(n_vertices, 8, replace=False)).astype(np.int64)
    return Graph(n_vertices, e, community, seeds)


def graph_tables(g: Graph) -> dict[str, pa.Table]:
    return {
        "vertices": pa.table({"v": pa.array(np.arange(g.n_vertices, dtype=np.int64))}),
        "edges": pa.table({"u": pa.array(g.edges[:, 0]), "v": pa.array(g.edges[:, 1])}),
        "seeds": pa.table({"node": pa.array(g.seeds)}),
    }


# --------------------------------------------------------------------------
# stream_progressive: documents with planted near-duplicate families
# --------------------------------------------------------------------------


@dataclass
class Documents:
    files: list[pa.Table]  # one table per bucket: doc_id, text, bucket
    family: np.ndarray  # planted family per doc_id (singleton families too)


HOT_PHRASE = ["breaking", "news", "update", "from", "the", "wire"]


def gen_documents(
    seed: int, n_files: int, docs_per_file: int, vocab: int = 5000
) -> Documents:
    """Documents of 24-40 random words. Every third document is a
    near-duplicate of an earlier fresh document (its family root): a
    copy with 2-5 words replaced and sometimes one word dropped, so
    family members share most word 3-gram shingles. Every fourth fresh
    document starts with the same six-word phrase; its shingles exceed
    any small df cap, so the resolver's df-cap drop fires. Families
    span buckets, so later buckets discover pairs against the stored
    corpus.

    Which documents are near-duplicates, and of which root, depends
    only on the position, so the planted pair count is the same for
    every seed; the seed draws the words."""
    rng = np.random.default_rng([seed, 3])
    words = np.array([f"t{i}" for i in range(vocab)])
    roots: list[tuple[int, np.ndarray]] = []  # (family, tokens)
    n = n_files * docs_per_file
    family = np.empty(n, np.int64)
    files = []
    doc = 0
    for b in range(n_files):
        ids, texts = [], []
        for _ in range(docs_per_file):
            if roots and doc % 3 == 2:
                fam, toks = roots[(doc * 7919) % len(roots)]
                toks = toks.copy()
                pos = rng.integers(0, len(toks), int(rng.integers(2, 6)))
                toks[pos] = words[rng.integers(0, vocab, len(pos))]
                if rng.random() < 0.5:
                    toks = np.delete(toks, int(rng.integers(0, len(toks))))
            else:
                fam = doc
                toks = words[rng.integers(0, vocab, int(rng.integers(24, 41)))]
                if doc % 4 == 0:
                    toks = np.concatenate([HOT_PHRASE, toks])
                roots.append((fam, toks))
            family[doc] = fam
            ids.append(doc)
            texts.append(" ".join(toks))
            doc += 1
        files.append(
            pa.table(
                {
                    "doc_id": pa.array(ids, pa.int64()),
                    "text": pa.array(texts),
                    "bucket": pa.array([b] * len(ids), pa.int32()),
                }
            )
        )
    return Documents(files, family)


# --------------------------------------------------------------------------
# stream_link: embedded mentions keyed by category
# --------------------------------------------------------------------------


@dataclass
class LinkedMentions:
    files: list[pa.Table]  # category, mention_index, embedding
    gold: np.ndarray  # entity per mention_index


def gen_linked_mentions(
    seed: int, n_files: int, per_file: int, n_categories: int = 24, dim: int = 32
) -> LinkedMentions:
    """Mentions embedded near their entity's centroid (same-entity
    cosine ~0.85, unrelated ~0), keyed by one of ``n_categories``
    categories whose shares fall off as 1/rank^0.8, so keys have uneven
    stream lengths. Within a category, entity popularity is Zipf-like
    over 30 entities."""
    rng = np.random.default_rng([seed, 4])
    cat_w = 1.0 / np.arange(1, n_categories + 1) ** 0.8
    ent_w = 1.0 / np.arange(1, 31) ** 1.1
    cent = rng.normal(size=(n_categories, 30, dim))
    cent /= np.linalg.norm(cent, axis=2, keepdims=True)
    n = n_files * per_file
    cats = rng.choice(n_categories, n, p=cat_w / cat_w.sum())
    ents = rng.choice(30, n, p=ent_w / ent_w.sum())
    noise = rng.normal(scale=0.4 / np.sqrt(dim), size=(n, dim))
    emb = cent[cats, ents] + noise
    files = []
    for f in range(n_files):
        s = slice(f * per_file, (f + 1) * per_file)
        files.append(
            pa.table(
                {
                    "category": pa.array([f"cat{c}" for c in cats[s]]),
                    "mention_index": pa.array(np.arange(s.start, s.stop, dtype=np.int64)),
                    "embedding": pa.array(emb[s].tolist(), pa.list_(pa.float64())),
                }
            )
        )
    return LinkedMentions(files, (cats * 30 + ents).astype(np.int64))


# --------------------------------------------------------------------------
# open-loop publisher
# --------------------------------------------------------------------------


@dataclass
class Publication:
    index: int
    due: float  # scheduled publish time (time.time() seconds)
    published: float  # when the rename made the file visible


@dataclass
class OpenLoopPublisher:
    """One thread publishing ``tables[i]`` at ``t0 + i / rate`` until
    ``stop_at``. The schedule is fixed in advance: a late publish does
    not push back the next due time, so a stalled system faces the
    queue an independent source would build."""

    dirpath: str
    tables: list[pa.Table]
    first_index: int
    rate: float
    t0: float
    stop_at: float
    done: list[Publication] = field(default_factory=list)
    _thread: threading.Thread | None = None
    _stop: threading.Event = field(default_factory=threading.Event)

    def start(self) -> None:
        self._thread = threading.Thread(target=self._run, name="open-loop", daemon=True)
        self._thread.start()

    def _run(self) -> None:
        for i, table in enumerate(self.tables):
            due = self.t0 + i / self.rate
            if due >= self.stop_at:
                return
            wait = due - time.time()
            if wait > 0 and self._stop.wait(wait):
                return
            idx = self.first_index + i
            publish_atomically(table, self.dirpath, f"part-{idx:06d}.parquet")
            self.done.append(Publication(idx, due, time.time()))

    def join(self, timeout: float) -> None:
        """Wait for the schedule to run out, then stop the thread."""
        if self._thread is not None:
            self._thread.join(timeout)
            self._stop.set()
            self._thread.join(10)
            if self._thread.is_alive():
                raise RuntimeError("open-loop publisher did not stop")
