"""The benchmark's workloads.

Each workload generates its inputs from the seed, runs a small warm-up,
measures a closed loop (batch workloads) or a backlog drain followed by
an open loop (stream workload), and checks every output against
``reference``. Why each workload exists is in README.md.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import gen, reference
from perfbench.trace import plan_ms


@dataclass
class Measured:
    walls: list[float] = field(default_factory=list)  # s per operation
    latencies_ms: list[float] = field(default_factory=list)
    outputs: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0  # operations that raised
    info: dict = field(default_factory=dict)


def _closed_loop(calls, seconds) -> Measured:
    """One client: each iteration runs every call in ``calls`` (name ->
    function returning sorted output rows) and records one output dict.
    Another iteration starts only if one of median length still ends
    inside ``seconds``; the first always runs."""
    m = Measured()
    t_end = time.perf_counter() + seconds
    while True:
        t0 = time.perf_counter()
        outs = {}
        for name, call in calls.items():
            m.attempted += 1
            try:
                outs[name] = call()
            except Exception as exc:  # a failed operation is a result, not a crash
                m.failed += 1
                m.info.setdefault("errors", []).append(f"{name}: {exc!r}"[:400])
        m.walls.append(time.perf_counter() - t0)
        m.latencies_ms.append(m.walls[-1] * 1e3)
        m.outputs.append(outs)
        if time.perf_counter() + statistics.median(m.walls) > t_end:
            return m


def _read(spark, path):
    return spark.read.parquet(path)


# ==========================================================================
# batch_resolve
# ==========================================================================


class BatchResolve:
    """EP2 batch path: hash encoder -> broadcast cosine kernel ->
    connected components (driver path) -> MUC / B3 / CEAF-e."""

    name = "batch_resolve"
    THRESHOLD = 0.6
    DIM = 64
    BUDGET = 16
    SIZES = {"full": 600, "warm": 100, "tiny": 120}

    def generate(self, seed, size, d):
        m = gen.gen_mentions(seed, self.SIZES[size])
        path = os.path.join(d, "mentions.parquet")
        gen.write_parquet(m.table, path)
        return {"path": path, "mentions": m}

    def measure(self, spark, inp, seconds, tag=None):
        from streaming_cdc_spark.pipelines import ep2_encode_and_cluster

        def ep2():
            out = ep2_encode_and_cluster(
                _read(spark, inp["path"]), self.THRESHOLD, dim=self.DIM,
                context_budget=self.BUDGET, with_metrics=True,
            )
            return out["summary"].first().asDict()

        return _closed_loop({"ep2": ep2}, seconds)

    def reference(self, inp):
        mt = inp["mentions"]
        emb = reference.encode(mt.table, self.DIM, self.BUDGET)
        pred = reference.components(len(emb), reference.threshold_edges(emb, self.THRESHOLD))
        return {"scores": reference.coref_scores(mt.gold, pred),
                "pair_recall": reference.pair_recall(mt.gold, pred)}

    def check(self, inp, m, ref, mutate):
        want = ref["scores"]
        bad = 0
        for i, outs in enumerate(m.outputs):
            if "ep2" not in outs:
                continue  # already counted as failed
            got = dict(outs["ep2"])
            if mutate and i == 0:
                got["mean_f1"] += 0.125
            bad += any(abs(got[k] - want[k]) > 2e-6 for k in want)
        first = next((o["ep2"] for o in m.outputs if "ep2" in o), {"mean_f1": 0.0})
        return bad, {"mean_f1": first["mean_f1"], "pair_recall": ref["pair_recall"]}

    def traced(self, spark, inp, seconds, tr):
        """The same pipeline composed from its layers, each output
        materialized at the layer boundary."""
        from pyspark.sql import functions as F

        from streaming_cdc_spark.metrics.coref import b3_df, ceaf_e_df, muc_df
        from streaming_cdc_spark.operators.clustering import connected_components
        from streaming_cdc_spark.operators.encoder import hash_encode_mentions
        from streaming_cdc_spark.operators.similarity import cosine_self_edges

        acc = {}
        t = time.perf_counter()
        with tr.span("sources"):
            ments = _read(spark, inp["path"]).persist()
            n = ments.count()
        enc = _layer(tr, "encoder", lambda: hash_encode_mentions(
            ments, dim=self.DIM, context_budget=self.BUDGET), acc)
        emb = enc.join(ments.select("mention_index", "entity_id"), "mention_index").persist()
        emb.count()
        edges = _layer(tr, "similarity", lambda: cosine_self_edges(
            emb, self.THRESHOLD, id_col="mention_index", vec_col="embedding"), acc)
        assign = _layer(tr, "cc", lambda: connected_components(
            emb.select("mention_index"), edges.select("u", "v"), id_col="mention_index"), acc)
        pairs = assign.join(emb.select("mention_index", "entity_id"), "mention_index").select(
            F.col("mention_index").alias("mention"), F.col("entity_id").alias("true_id"),
            F.col("cluster_id").alias("pred_id"))
        summary = _layer(tr, "metrics", lambda: muc_df(pairs).crossJoin(b3_df(pairs)).crossJoin(
            ceaf_e_df(pairs)), acc, collect=True)
        for df in (ments, emb, enc, edges, assign):
            df.unpersist()
        wall = time.perf_counter() - t
        got = summary[0].asDict()
        got["mean_f1"] = round((got["muc_f1"] + got["b3_f1"] + got["ceaf_f1"]) / 3, 6)
        want = self.reference(inp)["scores"]
        return {"attempted": 1, "failed": int(any(abs(got[k] - want[k]) > 2e-6 for k in want)),
                "wall": wall, "rows": n, "layers": acc}

    def layer_metrics(self, tr, info):
        out = _layer_metrics(tr, info["layers"])
        n, n_edges = info["rows"], info["layers"]["similarity"]["rows"]
        out["encoder.rows_per_s"] = n / out["encoder.s"]
        # the broadcast kernel scores every pair
        out["similarity.pairs_scored"] = n * (n - 1) / 2
        out["similarity.edges"] = n_edges
        out["similarity.edge_yield"] = n_edges / max(1, n * (n - 1) / 2)
        out["cc.path_distributed"] = 0.0  # edges stay under the driver cutoff
        return out


def _layer(tr, name, build, acc, collect=False):
    """Call a layer's public function (span ``<name>/build``), then
    materialize its output (span ``<name>/exec``)."""
    with tr.span(name):
        with tr.span(f"{name}/build"):
            df = build()
        with tr.span(f"{name}/exec"):
            if collect:
                out = df.collect()
                rows = len(out)
            else:
                out = df.persist()
                rows = out.count()
        acc[name] = {"rows": rows, "plan_ms": plan_ms(df)}
    return out


def _layer_metrics(tr, layers):
    """Time, jobs, stages and shuffle bytes per layer span, plus the
    build/execute split and Catalyst planning time."""
    out = {"sources.read_s": sum(s["end"] - s["start"] for s in tr.find("sources"))}
    for name in layers:
        sp = tr.find(name)[0]
        tot = tr.totals(sp)
        out[f"{name}.s"] = sp["end"] - sp["start"]
        out[f"{name}.jobs"] = tot.get("jobs", 0.0)
        out[f"{name}.stages"] = tot.get("stages", 0.0)
        out[f"{name}.shuffle_bytes"] = tot.get("shuffle_write_bytes", 0.0)
    builds = [s for s in tr.spans if s["name"].endswith("/build")]
    out["build.s"] = sum(s["end"] - s["start"] for s in builds)
    out["build.jobs"] = sum(tr.totals(s).get("jobs", 0.0) for s in builds)
    out["plan.ms"] = sum(v["plan_ms"] for v in layers.values())
    return out


# ==========================================================================
# graph_iterate
# ==========================================================================


class GraphIterate:
    """The five iterative graph loops on a planted-community graph,
    connected components pinned to the distributed path."""

    name = "graph_iterate"
    SIZES = {"full": 4000, "warm": 20, "tiny": 150}
    LOOPS = ("cc", "lpa", "kcore", "pagerank", "bfs")
    K, ROUNDS = 3, 2

    def generate(self, seed, size, d):
        g = gen.gen_graph(seed, self.SIZES[size])
        paths = {}
        for k, t in gen.graph_tables(g).items():
            paths[k] = os.path.join(d, f"{k}.parquet")
            gen.write_parquet(t, paths[k])
        return {"paths": paths, "graph": g}

    def _calls(self, spark, inp):
        from streaming_cdc_spark.operators import clustering as C

        p = inp["paths"]
        edges = _read(spark, p["edges"])
        return {
            "cc": lambda: C.connected_components(
                _read(spark, p["vertices"]), edges, id_col="v", driver_cutoff=0),
            "lpa": lambda: C.label_propagation(edges, iterations=self.ROUNDS),
            "kcore": lambda: C.kcore_peel(edges, k=self.K, rounds=self.ROUNDS),
            "pagerank": lambda: C.pagerank_exact(edges, iterations=self.ROUNDS),
            "bfs": lambda: C.bfs_distances(
                edges, _read(spark, p["seeds"]), id_col="node", rounds=self.ROUNDS),
        }

    def measure(self, spark, inp, seconds, tag=None):
        calls = self._calls(spark, inp)
        return _closed_loop(
            {n: (lambda c=c: sorted(tuple(r) for r in c().collect())) for n, c in calls.items()},
            seconds)

    def reference(self, inp):
        g = inp["graph"]
        e = g.edges
        cc = reference.components(g.n_vertices, e)
        return {
            "cc": sorted(enumerate(cc.tolist())),
            "lpa": sorted(reference.lpa(e, self.ROUNDS).items()),
            "kcore": sorted(reference.kcore(e, self.K, self.ROUNDS).items()),
            "pagerank": sorted(reference.pagerank_micro(e, self.ROUNDS).items()),
            "bfs": sorted(reference.bfs(e, g.seeds, self.ROUNDS).items()),
            "cc_labels": cc,
        }

    def check(self, inp, m, ref, mutate):
        bad = 0
        for i, outs in enumerate(m.outputs):
            for name in self.LOOPS:
                got = outs.get(name)
                if got is None:
                    continue  # already counted as failed
                if mutate and i == 0 and name == "cc":
                    got = [(got[0][0], got[0][1] + 1)] + got[1:]
                bad += got != ref[name]
        community = inp["graph"].community
        labels = ref["cc_labels"]
        if m.outputs and "cc" in m.outputs[0]:
            labels = np.array([lbl for _, lbl in m.outputs[0]["cc"]])
        return bad, {
            "mean_f1": reference.coref_scores(community, labels)["mean_f1"],
            "pair_recall": reference.pair_recall(community, labels),
        }

    def traced(self, spark, inp, seconds, tr):
        acc, out = {}, {}
        t = time.perf_counter()
        with tr.span("sources"):
            _read(spark, inp["paths"]["edges"]).count()
        calls = self._calls(spark, inp)
        for name in self.LOOPS:
            out[name] = sorted(tuple(r) for r in _layer(tr, name, calls[name], acc, collect=True))
        wall = time.perf_counter() - t
        ref = self.reference(inp)
        return {"attempted": len(self.LOOPS), "failed": sum(out[n] != ref[n] for n in self.LOOPS),
                "wall": wall, "layers": acc}

    def layer_metrics(self, tr, info):
        out = _layer_metrics(tr, info["layers"])
        out["cc.path_distributed"] = 1.0  # driver_cutoff=0
        return out


# ==========================================================================
# file-stream workloads: stream_progressive, stream_link
# ==========================================================================


class _FileStream:
    """Two phases over one checkpoint: (a) drain a fixed backlog of
    files one per trigger (``wall_s``), then (b) an open loop that
    publishes one file every 1 / RATE seconds for the run's ``seconds``
    (``latency``: scheduled publish time -> end of the foreachBatch call
    that committed the file). Subclasses supply the query and what a
    batch commits."""

    name = ""
    RATE = 0.0  # files per second in the open loop
    SIZES: dict = {}  # size -> (backlog files, rows per file)
    SCHEMA = ""

    def generate(self, seed, size, d):
        backlog, per_file = self.SIZES[size]
        # enough open-loop files for ~100 s at RATE
        return {"dir": d, "backlog": backlog, "per_file": per_file,
                "data": self._generate(seed, backlog + 16, per_file)}

    def _prepare(self, inp, tag):
        root = os.path.join(inp["dir"], f"run-{tag}")
        shutil.rmtree(root, ignore_errors=True)
        src = os.path.join(root, "src")
        os.makedirs(src)
        now = time.time()
        for i in range(inp["backlog"]):
            path = gen.publish_atomically(inp["data"].files[i], src, f"part-{i:06d}.parquet")
            # distinct mtimes in file order: the file source admits the
            # oldest file first
            os.utime(path, (now - 100 + i, now - 100 + i))
        return root, src

    def measure(self, spark, inp, seconds, tracer=None, tag="m"):
        from streaming_cdc_spark.session import stream_start_conf

        from perfbench.trace import NullTracer

        tr = tracer or NullTracer()
        m = Measured()
        root, src = self._prepare(inp, tag)
        ckpt = os.path.join(root, "ckpt")
        state = self._new_state(spark, root, tr)
        batch_ms, committed = [], {}

        def sink(batch_df, batch_id):
            t = time.perf_counter()
            with tr.span(f"{self.name}/batch", batch=int(batch_id)):
                done = self._apply(state, batch_df, batch_id, inp["per_file"])
            batch_ms.append((time.perf_counter() - t) * 1e3)
            end = time.time()
            for f in done:
                committed.setdefault(f, end)

        def start(max_files, **trigger):
            reader = spark.readStream.schema(self.SCHEMA)
            if max_files:
                reader = reader.option("maxFilesPerTrigger", max_files)
            with stream_start_conf(spark):
                return (self._query(reader.parquet(src)).writeStream.foreachBatch(sink)
                        .option("checkpointLocation", ckpt).trigger(**trigger).start())

        t0 = time.perf_counter()
        with tr.span(f"{self.name}/drain"):
            q = start(1, availableNow=True)
            q.awaitTermination()
        m.walls.append(time.perf_counter() - t0)
        progress = list(q.recentProgress)
        n_back = inp["backlog"]
        with tr.span(f"{self.name}/open_loop"):
            q = start(None, processingTime="0 seconds")
            t_open = time.time() + 0.2
            pub = gen.OpenLoopPublisher(src, inp["data"].files[n_back:], n_back, self.RATE,
                                        t0=t_open, stop_at=t_open + seconds)
            pub.start()
            pub.join(timeout=seconds + 30)
            pending = sum(1 for p in pub.done if p.index not in committed)
            q.processAllAvailable()
            progress += q.recentProgress
            q.stop()
        m.latencies_ms = [(committed[p.index] - p.due) * 1e3 for p in pub.done]
        m.attempted = n_back + len(pub.done)
        m.outputs.append(self._result(spark, state, m.attempted))
        m.info = {
            "progress": [_progress_row(p) for p in progress],
            "batch_ms": batch_ms,
            "gen_lag_ms": [(p.published - p.due) * 1e3 for p in pub.done],
            "backlog_end": pending,
            "drain_capacity_fps": n_back / m.walls[0],
            **self._state_info(state, root),
        }
        shutil.rmtree(root, ignore_errors=True)
        return m

    def reference(self, inp):
        return None  # depends on how many files the run published

    def traced(self, spark, inp, seconds, tr):
        m = self.measure(spark, inp, seconds, tracer=tr, tag="t")
        bad, _ = self.check(inp, m, None, False)
        return {"attempted": m.attempted, "failed": m.failed + bad, "wall": m.walls[0], "m": m}

    def _stream_metrics(self, tr, info):
        i = info["m"].info
        return {
            "gen.lag_p90_ms": percentile(i["gen_lag_ms"], 90),
            "gen.backlog_end": i["backlog_end"],
            # the per-batch DataFrames are built inside the sink; the
            # stream's own planning is what progress reports
            "plan.ms": sum(p["queryPlanning"] for p in i["progress"]),
        }


def _progress_row(p) -> dict:
    d = p["durationMs"]
    ops = p.get("stateOperators") or [{}]
    return {
        "trigger_ms": d.get("triggerExecution", 0), "add_batch_ms": d.get("addBatch", 0),
        "wal_commit_ms": d.get("walCommit", 0), "commit_offsets_ms": d.get("commitOffsets", 0),
        "latest_offset_ms": d.get("latestOffset", 0), "queryPlanning": d.get("queryPlanning", 0),
        "state_commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
        "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
        "state_bytes": sum(o.get("memoryUsedBytes", 0) for o in ops),
        "rows": p.get("numInputRows", 0),
    }


class StreamProgressive(_FileStream):
    """Budgeted progressive resolver fed through foreachBatch, with
    compaction scheduled mid-stream."""

    name = "stream_progressive"
    RATE = 0.15
    BUDGET, DF_CAP, TAU, COMPACT_EVERY = 25, 20, 0.2, 2
    SIZES = {"full": (2, 100), "warm": (1, 40), "tiny": (2, 40)}
    SCHEMA = "doc_id long, text string, bucket int"

    def _generate(self, seed, n_files, per_file):
        return gen.gen_documents(seed, n_files, per_file)

    def _query(self, stream):
        return stream

    def _new_state(self, spark, root, tr):
        from streaming_cdc_spark.streaming.progressive import ProgressiveResolver

        res = ProgressiveResolver(os.path.join(root, "state"), budget=self.BUDGET,
                                  df_cap=self.DF_CAP, tau=self.TAU,
                                  compact_every=self.COMPACT_EVERY)
        compact, compact_ms = res.compact, []

        def timed_compact(*a, **k):
            t = time.perf_counter()
            with tr.span("progressive/compact"):
                compact(*a, **k)
            compact_ms.append((time.perf_counter() - t) * 1e3)

        res.compact = timed_compact
        return {"res": res, "compact_ms": compact_ms}

    def _apply(self, state, batch_df, batch_id, per_file):
        res = state["res"]
        res.apply_batch(batch_df, batch_id)
        # a bucket is committed once its result directory exists
        return [int(d[1:]) for d in os.listdir(res.result_root) if d.startswith("b")]

    def _result(self, spark, state, n_files):
        rows = sorted(tuple(r) for r in state["res"].results(spark).collect())
        return {"results": rows, "n_buckets": n_files}

    def _state_info(self, state, root):
        return {"compact_ms": state["compact_ms"],
                "state": _dir_stats(os.path.join(root, "state"))}

    def check(self, inp, m, ref, mutate):
        out = m.outputs[0]
        files = inp["data"].files[: out["n_buckets"]]
        want, matched = reference.progressive_replay(files, self.BUDGET, self.DF_CAP, self.TAU)
        rows = list(out["results"])
        if mutate and rows:
            b, cbs, n, nm = rows[0]
            rows[0] = (b, cbs, n, nm + 1)
        got: dict[int, set] = {}
        for b, cbs, n, nm in rows:
            got.setdefault(b, set()).add((cbs, n, nm))
        bad = sum(got.get(b, set()) != want.get(b, set()) for b in range(out["n_buckets"]))
        return bad, _pair_quality(inp["data"].family, files, matched)

    def layer_metrics(self, tr, info):
        i = info["m"].info
        batches = tr.find(f"{self.name}/batch")
        # shuffle bytes of each bucket's jobs, writer-pool jobs included
        sb = [tr.totals(s).get("shuffle_write_bytes", 0.0) for s in batches]
        return {
            **self._stream_metrics(tr, info),
            "progressive.s": sum(s["end"] - s["start"] for s in batches),
            "progressive.triggers": len(i["progress"]),
            "progressive.bucket_p50_ms": percentile(i["batch_ms"], 50),
            "progressive.bucket_last_ms": i["batch_ms"][-1],
            "progressive.probe_shuffle_bytes_first": sb[0],
            "progressive.probe_shuffle_bytes_last": sb[-1],
            "progressive.compact_ms": sum(i["compact_ms"]),
            "progressive.state_files": i["state"]["files"],
            "progressive.state_bytes": i["state"]["bytes"],
            "progressive.pairs_verified": sum(r[2] for r in info["m"].outputs[0]["results"]),
        }


class StreamLink(_FileStream):
    """The paper's bounded-memory linker (``streaming_linker``,
    strategy "cache") over category-keyed embedded mentions, with
    ``limit`` below every busy key's stream length so eviction fires."""

    name = "stream_link"
    RATE = 0.28
    THRESHOLD, LIMIT = 0.7, 20
    SIZES = {"full": (2, 400), "warm": (1, 40), "tiny": (2, 40)}
    SCHEMA = "category string, mention_index long, embedding array<double>"

    def _generate(self, seed, n_files, per_file):
        return gen.gen_linked_mentions(seed, n_files, per_file)

    def _query(self, stream):
        from streaming_cdc_spark.streaming.linker import streaming_linker

        return streaming_linker(stream, self.THRESHOLD, limit=self.LIMIT, strategy="cache")

    def _new_state(self, spark, root, tr):
        return {"rows": []}

    def _apply(self, state, batch_df, batch_id, per_file):
        rows = [(r["mention_index"], r["cluster_id"]) for r in batch_df.collect()]
        state["rows"] += rows
        return sorted({mid // per_file for mid, _ in rows})

    def _result(self, spark, state, n_files):
        return {"assign": dict(state["rows"]), "n_files": n_files}

    def _state_info(self, state, root):
        return {}

    def check(self, inp, m, ref, mutate):
        out = m.outputs[0]
        per_file = inp["per_file"]
        files = inp["data"].files[: out["n_files"]]
        want = reference.link_replay(files, self.THRESHOLD, self.LIMIT)
        got = dict(out["assign"])
        if mutate and got:
            k = min(got)
            got[k] += 1
        bad = sum(
            any(got.get(mid) != want[mid] for mid in range(f * per_file, (f + 1) * per_file))
            for f in range(out["n_files"])
        )
        n = out["n_files"] * per_file
        gold = inp["data"].gold[:n]
        pred = np.array([got.get(i, -1 - i) for i in range(n)])
        return bad, {"mean_f1": reference.coref_scores(gold, pred)["mean_f1"],
                     "pair_recall": reference.pair_recall(gold, pred)}

    def layer_metrics(self, tr, info):
        prog = info["m"].info["progress"]
        trig = [p["trigger_ms"] for p in prog if p["rows"]]
        return {
            **self._stream_metrics(tr, info),
            "linker.triggers": len(trig),
            "linker.trigger_p50_ms": percentile(trig, 50),
            "linker.trigger_max_ms": max(trig),
            **{f"linker.{k}": sum(p[k] for p in prog)
               for k in ("add_batch_ms", "wal_commit_ms", "commit_offsets_ms",
                         "latest_offset_ms", "state_commit_ms")},
            "linker.planning_ms": sum(p["queryPlanning"] for p in prog),
            "linker.state_rows": prog[-1]["state_rows"],
            "linker.state_bytes": prog[-1]["state_bytes"],
        }


def _pair_quality(family, files, matched):
    """Recall of planted duplicate pairs among verified matches, and the
    mean F1 of the components of the match graph against families."""
    n = sum(t.num_rows for t in files)
    fam = family[:n]
    hits = sum(1 for a, b in matched if fam[a] == fam[b])
    n_planted = int(sum(c * (c - 1) // 2 for c in np.unique(fam, return_counts=True)[1]))
    pred = reference.components(n, np.array(matched, dtype=np.int64).reshape(-1, 2))
    return {
        "pair_recall": hits / n_planted if n_planted else 1.0,
        "mean_f1": reference.coref_scores(fam, pred)["mean_f1"],
    }


def _dir_stats(root):
    files = size = 0
    for dp, _dn, fns in os.walk(root):
        for f in fns:
            files += 1
            size += os.path.getsize(os.path.join(dp, f))
    return {"files": files, "bytes": size}


WORKLOADS = {w.name: w for w in (BatchResolve(), GraphIterate(), StreamProgressive(), StreamLink())}


def percentile(values, q):
    """Inclusive-method percentile (q in 0..100) of a small sample."""
    if not values:
        return 0.0
    if len(values) == 1:
        return float(values[0])
    return float(statistics.quantiles(values, n=100, method="inclusive")[q - 1])
