"""SparkSession factory tuned for the engine.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; on a real
cluster the same settings (AQE, shuffle partitions sized to cores,
Arrow enabled) are the right defaults — only master/memory change.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession


def ensure_package_on_executors(spark: SparkSession) -> None:
    """Ship streaming_cdc_spark to executor Python workers via
    addPyFile. Required whenever a pickled function references this
    package and the session was created by an external driver whose
    workers don't have /root/repo on PYTHONPATH. Call before any
    mapInPandas / applyInPandas(WithState) that uses package code.
    """
    sc = spark.sparkContext
    if getattr(sc, "_scs_pyfiles_added", False):
        return
    import atexit

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # the zip path MUST be per-process: a fixed shared /tmp name lets a
    # concurrent session (second gate run, probe script, a co-hosted
    # driver process) re-archive the package and change the file's
    # contents AFTER this session's executors cached it — every
    # subsequent task then dies with "File ... exists and does not
    # match contents". The pid suffix also freezes a content snapshot:
    # source edits made while this session runs can't mutate what the
    # executors fetch.
    zip_base = os.path.join(
        tempfile.gettempdir(), f"streaming_cdc_spark_pyfiles_{os.getpid()}"
    )
    zip_path = shutil.make_archive(
        zip_base, "zip", os.path.dirname(pkg_dir), "streaming_cdc_spark"
    )
    atexit.register(lambda p=zip_path: os.path.exists(p) and os.remove(p))
    sc.addPyFile(zip_path)
    sc._scs_pyfiles_added = True


def cached_tmp_dir(prefix: str) -> str:
    """mkdtemp whose removal is registered atexit — for cached SOURCE
    dirs that are reused across calls within one process (replay()'s
    stream splits, batch layout fixtures). Unlike per-run state/ckpt
    dirs these sit outside any ``finally``, so without the atexit hook
    every process run leaked a few parquet temp dirs per sf (ADVICE
    r5)."""
    import atexit

    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def fan_out(df, min_partitions: int | None = None):
    """Pre-step for row-exploding map stages (shingles, n-grams,
    per-bit votes): if the scan yields fewer partitions than the
    cluster has slots — a single small parquet row-group does, both
    locally and on a 1000-executor cluster reading one dimension-sized
    file — hash-repartition first so the explosion parallelizes
    instead of running in ONE task. No-op (no shuffle) when the input
    already has enough partitions; the shuffle it does add moves only
    the small pre-explosion rows."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def get_spark(
    app_name: str = "streaming-cdc-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    AQE is on so runtime statistics re-plan skewed joins and coalesce
    tiny shuffle partitions; Arrow is on so every pandas-UDF boundary
    is vectorized; shuffle partitions default to the core count
    (local mode) rather than Spark's legacy 200.
    """
    # Default 16, not nproc (32): this box's 32 vCPUs are
    # hypervisor-oversubscribed — sustained 32-wide stages suffer
    # random multi-second scheduler stalls (single-thread throughput
    # stays flat, steal% stays low, but identical 32-thread bench
    # runs swing 51s/78s/106s/150s while 16-thread runs repeat at
    # 47.6s/47.1s with no outliers). SPARK_GRAFT_CPUS still wins
    # when set; a real cluster sizes executors, not this knob.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Testdata parquet uses TIMESTAMP(NANOS) which Spark cannot read
        # natively; read as long and convert in the loader (tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # 48g: at 16g a long session (the ~100-query bench) degrades
        # 3-5x per query from GC churn — measured 77.6s -> 51.5s
        # total, with the 8-10s outliers (tfidf_blend, pricing) all
        # collapsing back to their isolated-run times at 48g.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    )
    # extra_conf lands last so callers can override any default above;
    # it only takes effect when this call actually CREATES the session
    # (getOrCreate reuses an existing JVM's confs) — tools that need a
    # non-default conf (e.g. the shuffle-measure harness re-enabling
    # the UI REST API) must run in a fresh process.
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # Only force a master when none is configured (driver may set its own).
    if not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def write_mtime_pinned_splits(parts, base_dir: str) -> None:
    """Write each DataFrame in ``parts`` as one parquet file under
    ``base_dir``/split_i and pin file mtimes to 1_000_000 + i, so a
    file stream with maxFilesPerTrigger=1 admits them oldest-first in
    exactly list order — the micro-batch-order convention every
    streaming-state oracle in this repo depends on (the r6 z-table
    and r7 DDW/SSJ queries each hand-rolled this loop; bug-fixes to
    the pinning belong HERE now). Engine streams call it through
    replay()."""
    for i, part in enumerate(parts):
        path = os.path.join(base_dir, f"split_{i}")
        part.coalesce(1).write.parquet(path)
        for root, _dirs, files in os.walk(path):
            for f_ in files:
                os.utime(os.path.join(root, f_), (1_000_000 + i, 1_000_000 + i))


def id_range_splits(df, col: str, n: int) -> list:
    """Split ``df`` into ``n`` contiguous ranges of integer ``col``:
    frame i holds ``lo + i*step <= col < lo + (i+1)*step`` with
    ``step = (hi - lo + n) // n`` — the bucket formula the streaming
    oracles replay as ``(col - lo) // step``. One min/max job; an
    empty input gives ``n`` empty frames."""
    from pyspark.sql import functions as F

    lo, hi = df.agg(F.min(col), F.max(col)).first()
    if lo is None:
        return [df.limit(0)] * n
    step = (hi - lo + n) // n
    c = F.col(col)
    return [
        df.filter((c >= lo + i * step) & (c < lo + (i + 1) * step))
        for i in range(n)
    ]


_REPLAY_DIRS: dict[tuple, str] = {}


def replay(spark: SparkSession, key: tuple, schema: str, make_parts):
    """A batch fixture as an ordered file stream: the ONE place the
    engine turns DataFrames into a stream source. ``make_parts()``
    returns the list of split frames; split i becomes micro-batch i
    (maxFilesPerTrigger=1 over mtime-pinned files).

    ``key`` names the fixture (its first element, a short string, is
    the temp-dir prefix) and every input that shapes it — sf_dir,
    split count, shifts. The splits are written once per key per
    process into a ``cached_tmp_dir`` (removed at exit) and rebuilt
    only if that directory has gone; repeated calls (bench passes,
    gate + oracle) re-run the stream, not the writes."""
    src = _REPLAY_DIRS.get(key)
    if src is None or not os.path.isdir(src):
        src = cached_tmp_dir(f"{key[0]}_src_")
        write_mtime_pinned_splits(make_parts(), src)
        _REPLAY_DIRS[key] = src
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/split_*/*.parquet")
    )


def stream_shuffle_partitions() -> int:
    """Shuffle-partition count captured by a STREAMING query at start —
    which in Structured Streaming also fixes the number of state-store
    instances per stateful operator for the query's whole lifetime
    (it is baked into the checkpoint). The session default sizes
    shuffle partitions to the core count for BATCH compute, but a
    stateful micro-batch pays a fixed per-instance open+commit cost
    every trigger: at 16 partitions a stream-stream join touches 64
    store instances per batch, and a per-trigger decomposition
    (OPTIMIZATION_r09.md, sixth session) measured 12-67 s of cumulative
    state-commit time per batch under co-tenant load vs 1.2-3.6 s at 4
    partitions — wall time 12.6-30.1 s vs a stable 8.5-9.0 s for the
    same drain, identical output. The engine's availableNow drains hold
    KB-MB of state, so the store count should follow STATE SIZE, not
    the compute core count (guide §2: derive partitioning from the
    data, don't inherit a constant tuned for something else).
    ``SPARK_GRAFT_STREAM_SHUFFLE`` overrides for real deployments,
    where the right value scales with state volume and trigger
    throughput (e.g. cores or higher for TB-scale state; it must be
    chosen before the first checkpoint commit)."""
    return int(os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE", "4"))


class stream_start_conf:
    """Context manager that pins ``spark.sql.shuffle.partitions`` to
    stream_shuffle_partitions() while a streaming query STARTS, then
    restores the session value. StreamExecution clones the session
    state synchronously inside start(), so the reduced value is
    captured by the stream (and by every micro-batch plan and
    foreachBatch handler job, which run on the clone) while batch
    queries planned after the ``with`` block keep the session default.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self._old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set(
            "spark.sql.shuffle.partitions", str(stream_shuffle_partitions())
        )
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self._old)
        return False


DRAIN_COUNT = 0  # drain() calls in this process; bench.py reads it


def drain(
    df,
    prefix: str,
    *,
    foreach_batch=None,
    output_mode: str | None = None,
    checkpoint: str | None = None,
):
    """availableNow-drain a streaming DataFrame: the ONE place the
    engine starts a stream. Runs until the input is exhausted, then
    stops.

    With ``foreach_batch=None`` the stream drains through a memory
    sink and the collected table is returned as a localCheckpointed
    batch DataFrame (the temp view is dropped before returning). Given
    a handler it runs ``foreachBatch(handler)`` and returns None; the
    handler's sink owns its data.

    Owns the crash-safety conventions fixed piecemeal in r4-r6:
    shuffle partitions pinned by stream_start_conf; a fresh uuid query
    name per call (replays must not collide); an UNTIMED
    awaitTermination — a timed one can return False on a slow host,
    and the drain would then read a PARTIAL table and rmtree a LIVE
    checkpoint; checkpoint removal in ``finally`` only when this call
    created it. A caller-supplied ``checkpoint`` is caller-owned and
    survives, so a second drain on it resumes where the first stopped
    (restart/replay). output_mode: None = sink default (append);
    'update' makes the memory sink ACCUMULATE each batch's changed-key
    emissions — the returned table then holds one row per (key,
    batch-that-touched-it), the update-mode evidence surface."""
    import uuid

    global DRAIN_COUNT
    DRAIN_COUNT += 1
    spark = df.sparkSession
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix=f"{prefix}_ckpt_") if checkpoint is None else checkpoint
    q = None
    try:
        w = df.writeStream.queryName(name)
        if foreach_batch is None:
            w = w.format("memory")
        else:
            w = w.foreachBatch(foreach_batch)
        if output_mode is not None:
            w = w.outputMode(output_mode)
        with stream_start_conf(spark):
            q = (
                w.option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        q.awaitTermination()
        if foreach_batch is None:
            return spark.table(name).localCheckpoint()
        return None
    finally:
        if q is not None:
            q.stop()  # no-op once terminated; stops it on interrupt
        if checkpoint is None:
            shutil.rmtree(ckpt, ignore_errors=True)
        if foreach_batch is None:
            spark.catalog.dropTempView(name)
