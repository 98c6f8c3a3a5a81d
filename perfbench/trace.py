"""Spans recorded around the benchmark's calls into the engine, and the
Spark counters attributed to them.

Spans stay in memory until ``dump``. Counters come from Spark's status
store, which is kept with ``spark.ui.enabled=false``. A job belongs to
the span whose job group it carries; jobs without one of ours (the
streaming thread, the resolver's writer pool) belong to the innermost
span whose interval holds the job's submission time.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
import uuid
from collections import defaultdict


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._lock = threading.Lock()
        self.t0_ms = int(time.time() * 1000)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        with self._lock:
            parent = self._stack[-1]["id"] if self._stack else None
            sp = {
                "id": len(self.spans),
                "run": self.run_id,
                "name": name,
                "parent": parent,
                "start": time.time(),
                "end": None,
                "attrs": attrs,
            }
            self.spans.append(sp)
            self._stack.append(sp)
        # job groups are thread-local in Spark; only the main thread's
        # are ours to set (a foreachBatch callback runs on the stream's
        # thread, whose group Spark uses to cancel the stream's jobs)
        main = threading.current_thread() is threading.main_thread()
        sc = self.spark.sparkContext
        if main:
            sc.setJobGroup(self._group(sp), name)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            with self._lock:
                self._stack.remove(sp)
                outer = self._stack[-1] if self._stack else None
            if main:
                if outer is not None:
                    sc.setJobGroup(self._group(outer), outer["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def _group(self, sp: dict) -> str:
        return f"perfbench-{self.run_id}-{sp['id']}"

    # ------------------------------------------------------------------
    def collect(self) -> None:
        """Attach Spark counters to every span (own jobs only; use
        ``totals`` for a span including its descendants)."""
        sc = self.spark.sparkContext
        jvm = sc._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        store = sc._jsc.sc().statusStore()
        stages = {}
        for s in conv.asJava(
            store.stageList(
                jvm.java.util.ArrayList(),
                False,
                False,
                sc._gateway.new_array(jvm.double, 0),
                jvm.java.util.ArrayList(),
            )
        ):
            st = stages.setdefault(
                s.stageId(),
                {"done": False, "tasks": 0, "sr": 0, "sw": 0, "spill": 0, "run": 0, "cpu": 0, "gc": 0},
            )
            st["done"] |= s.status().toString() == "COMPLETE"
            st["tasks"] += s.numCompleteTasks()
            st["sr"] += s.shuffleReadBytes()
            st["sw"] += s.shuffleWriteBytes()
            st["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            st["run"] += s.executorRunTime()
            st["cpu"] += s.executorCpuTime()
            st["gc"] += s.jvmGcTime()
        by_group = {self._group(sp): sp for sp in self.spans}
        for sp in self.spans:
            sp["counters"] = defaultdict(float)
        for j in conv.asJava(store.jobsList(None)):
            sub = j.submissionTime()
            if not sub.isDefined():
                continue
            t_ms = sub.get().getTime()
            if t_ms < self.t0_ms - 1000:
                continue
            g = j.jobGroup()
            sp = by_group.get(g.get()) if g.isDefined() else None
            if sp is None:
                sp = self._innermost(t_ms / 1000.0)
            if sp is None:
                continue
            c = sp["counters"]
            c["jobs"] += 1
            for sid in conv.asJava(j.stageIds()):
                st = stages.get(sid)
                if st is None or not st["done"]:
                    continue  # skipped: its output was reused
                c["stages"] += 1
                c["tasks"] += st["tasks"]
                c["shuffle_read_bytes"] += st["sr"]
                c["shuffle_write_bytes"] += st["sw"]
                c["spill_bytes"] += st["spill"]
                c["executor_run_s"] += st["run"] / 1e3
                c["executor_cpu_s"] += st["cpu"] / 1e9
                c["gc_s"] += st["gc"] / 1e3
        for sp in self.spans:
            sp["counters"] = dict(sp["counters"])

    def _innermost(self, t: float):
        best = None
        for sp in self.spans:
            if sp["end"] is not None and sp["start"] <= t <= sp["end"]:
                if best is None or sp["start"] >= best["start"]:
                    best = sp
        return best

    def children(self, sp: dict) -> list[dict]:
        return [c for c in self.spans if c["parent"] == sp["id"]]

    def descendants(self, sp: dict) -> list[dict]:
        out, todo = [], [sp]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += kids
        return out

    def totals(self, sp: dict) -> dict[str, float]:
        tot: dict[str, float] = defaultdict(float)
        for s in [sp, *self.descendants(sp)]:
            for k, v in s.get("counters", {}).items():
                tot[k] += v
        return tot

    def self_time(self, sp: dict) -> float:
        """Span duration minus the part of it its children cover."""
        iv = sorted((c["start"], c["end"]) for c in self.children(sp))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (sp["end"] - sp["start"]) - covered

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str, extra: dict | None = None) -> None:
        for sp in self.spans:
            sp["self_s"] = self.self_time(sp)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"run": self.run_id, "spans": self.spans, **(extra or {})}, fh, indent=1)


def plan_ms(df) -> float:
    """Catalyst analysis + optimization + planning time recorded on a
    DataFrame's query execution (phases not yet run count 0)."""
    ph = df._jdf.queryExecution().tracker().phases()
    total = 0
    for name in ("analysis", "optimization", "planning"):
        o = ph.get(name)
        if o.isDefined():
            total += o.get().durationMs()
    return float(total)
