"""Run one workload: fit the session to the host, set up several times,
measure, check, and assemble the metrics named in BENCHMARK.json."""

from __future__ import annotations

import json
import os
import platform
import shutil
import statistics
import subprocess
import threading
import time

from perfbench.trace import Tracer
from perfbench.workloads import WORKLOADS, percentile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 2
SPEC = os.path.join(ROOT, "BENCHMARK.json")


# --------------------------------------------------------------------------
# host fit and environment record
# --------------------------------------------------------------------------


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_ram_gb() -> float:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_gb(ram_gb: float) -> int:
    """A quarter of RAM, at most 4g: enough for these inputs, and the
    host's memory is shared with other work."""
    return max(1, min(4, int(ram_gb / 4)))


def configure_env(work: str) -> dict:
    """Point every temp and spill directory into ``work`` and size Spark
    to the host. Must run before the JVM starts."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    cpus, ram = host_cpus(), host_ram_gb()
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_mem_gb(ram)}g",
        # every JVM, the launcher included: temp files in ``work`` and no
        # hsperfdata file under /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_PYTHON=os.environ.get("PYSPARK_PYTHON", shutil.which("python3") or "python3"),
    )
    tempfile.tempdir = tmp
    return {"cpus": cpus, "ram_gb": round(ram, 2), "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"]}


def environment(seed: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True,
                timeout=10, check=True).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            commit = None
    return {
        "seed": seed, "git_commit": commit, "python": platform.python_version(),
        "pyspark": pyspark.__version__, "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__, "loadavg_before": os.getloadavg(),
    }


# --------------------------------------------------------------------------
# session lifecycle
# --------------------------------------------------------------------------


def start_session(work: str):
    from streaming_cdc_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the traced run reads every job and stage back
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def shutdown_jvm(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class RssSampler:
    """Peak resident memory of the Spark JVM and all its descendants
    (the Python workers), sampled every 50 ms. Per-layer only: JVM heap
    growth makes it vary by more than a tenth between equal runs."""

    def __init__(self, pid: int):
        self.pid = pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True, name="rss")

    def _tree(self):
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
        out, todo = [], [self.pid]
        while todo:
            p = todo.pop()
            out.append(p)
            todo += kids.get(p, [])
        return out

    def _rss_kb(self, pid):
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _run(self):
        while not self._stop.wait(0.05):
            self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in self._tree()))

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=10)
        return False


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


# --------------------------------------------------------------------------
# one run
# --------------------------------------------------------------------------


def load_spec() -> dict:
    with open(SPEC, encoding="utf-8") as fh:
        return json.load(fh)


def run(workload: str, seed: int, seconds: float, trace: bool, size: str = "full",
        mutate: bool = False, work: str | None = None) -> tuple[dict, dict]:
    """Returns (result line, side record)."""
    wl = WORKLOADS[workload]
    spec = load_spec()
    env = {**environment(seed), **configure_env(work)}
    env["loadavg_flag"] = env["loadavg_before"][0] > env["cpus"]
    side = {"env": env}
    spark = None
    try:
        # set-up, several times: session start, input generation and one
        # untimed warm-up operation on a small input of the same shape
        setups, starts, gens, warms = [], [], [], []
        for rep in range(1 if trace else SETUP_REPS):
            if spark is not None:
                spark.stop()  # the JVM stays; the next set-up restarts the context
            t0 = time.perf_counter()
            spark = start_session(work)
            t1 = time.perf_counter()
            d = os.path.join(work, f"inputs-{rep}")
            os.makedirs(os.path.join(d, "warm"))
            inp = wl.generate(seed, size, d)
            warm = wl.generate(seed + 1, "warm" if size == "full" else size,
                               os.path.join(d, "warm"))
            t2 = time.perf_counter()
            wl.measure(spark, warm, 0, tag="warm")
            t3 = time.perf_counter()
            setups.append(t3 - t0)
            starts.append(t1 - t0)
            gens.append(t2 - t1)
            warms.append(t3 - t2)
            if rep:
                shutil.rmtree(os.path.join(work, f"inputs-{rep - 1}"), ignore_errors=True)
        env["setup_reps_s"] = setups
        env["session_cold_start_s"] = starts[0]

        if trace:
            kind = "per_layer"
            names = [m["name"] for m in spec[kind]]
            metrics, attempted, failed = traced_run(wl, spark, inp, seconds, names, seed)
            metrics.update({
                "session.start_s": statistics.median(starts),
                "session.warmup_s": statistics.median(warms),
                "gen.s": statistics.median(gens),
            })
        else:
            kind = "end_to_end"
            m = wl.measure(spark, inp, seconds)
            bad, quality = wl.check(inp, m, wl.reference(inp), mutate)
            attempted, failed = m.attempted, m.failed + bad
            metrics = {
                "setup_s": statistics.median(setups),
                "wall_s": statistics.median(m.walls),
                "mean_f1": quality["mean_f1"],
                "pair_recall": quality["pair_recall"],
                "ok_rate": 1.0 - failed / attempted,
            }
            side.update(walls_s=m.walls, latencies_ms=m.latencies_ms,
                        latency_p50_ms=percentile(m.latencies_ms, 50),
                        latency_p90_ms=percentile(m.latencies_ms, 90), info=m.info)
        units = {x["name"]: x["unit"] for x in spec[kind]}
        missing = [n for n in units if n not in metrics]
        if missing:
            raise RuntimeError(f"metrics not produced: {missing}")
        result = {
            "correct": failed == 0,
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {n: {"value": float(metrics[n]), "unit": u} for n, u in units.items()},
        }
    finally:
        if spark is not None:
            shutdown_jvm(spark)
    env["loadavg_after"] = os.getloadavg()
    return result, side


def traced_run(wl, spark, inp, seconds, names, seed) -> tuple[dict, int, int]:
    """One untraced operation, then the same operation traced layer by
    layer; the difference in wall time is the tracing overhead. A layer
    the workload does not run reports 0."""
    rss = RssSampler(jvm_pid())
    with rss:
        base = wl.measure(spark, inp, seconds, tag="u")
    tr = Tracer(spark)
    with tr.span("pipelines") as top:
        info = wl.traced(spark, inp, seconds, tr)
    tr.collect()
    out = dict.fromkeys(names, 0.0)
    out.update(wl.layer_metrics(tr, info))
    tot = tr.totals(top)
    for k in ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes", "executor_run_s", "executor_cpu_s", "gc_s"):
        out[f"spark.{k}"] = tot.get(k, 0.0)
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    out["spark.busy_frac"] = tot.get("executor_run_s", 0.0) / ((top["end"] - top["start"]) * cpus)
    out["peak_rss_mb"] = rss.peak_kb / 1024.0
    # from the untraced operation: few samples (two open-loop arrivals
    # per stream run), too unsteady across seeds to gate a change
    out["latency_p50_ms"] = percentile(base.latencies_ms, 50)
    out["trace.wall_s"] = info["wall"]
    out["trace.overhead_s"] = info["wall"] - base.walls[0]
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    tr.dump(os.path.join(HERE, "results", f"trace-{wl.name}-s{seed}.json"),
            {"workload": wl.name, "metrics": out})
    return out, info["attempted"], info["failed"]
