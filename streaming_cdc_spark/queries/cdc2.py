"""Error-analysis and search-loop queries (P7/P8, R8/A9, C7,
approx aggregates)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from streaming_cdc_spark.queries.registry import query
from streaming_cdc_spark.tables import load

_PAIRS_SQL = "SELECT vec_id AS mention, label AS true_id, vec_id % 7 AS pred_id FROM embeddings"


@query(
    "context_windows",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    SELECT doc_id,
           array_to_string(list_slice(t, greatest(len(t) - 9, 1), len(t)), ' ') AS tail_window,
           upper(regexp_replace(array_to_string(list_slice(t, greatest(len(t) - 9, 1), len(t)), ' '), '[0-9]', '#', 'g')) AS cleaned
    FROM toks
    """,
)
def context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: truncated context windows + escape-style regexp cleaning
    (error_analysis.py:14-22, 34-39: ±10-word windows, char escapes)."""
    docs = load(spark, sf_dir, "documents")
    t = F.split("text", " ")
    toks = docs.select("doc_id", t.alias("t"))
    win = F.array_join(
        F.slice(F.col("t"), F.greatest(F.size("t") - 9, F.lit(1)), 10), " "
    )
    return toks.select(
        "doc_id",
        win.alias("tail_window"),
        F.upper(F.regexp_replace(win, "[0-9]", "#")).alias("cleaned"),
    )


@query(
    "top_conflated_examples",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL}),
    conf AS (SELECT pred_id, COUNT(DISTINCT true_id) - 1 AS conflated
             FROM pairs GROUP BY pred_id),
    worst AS (SELECT pred_id FROM conf ORDER BY conflated DESC, pred_id LIMIT 1)
    SELECT mention, true_id, pred_id FROM pairs
    WHERE pred_id = (SELECT pred_id FROM worst)
    ORDER BY mention LIMIT 5
    """,
)
def top_conflated_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R8/A9: the most-conflated predicted cluster and its first 5
    members (error_analysis.py:80-125 'worst cluster' report), with
    total deterministic ordering."""
    emb = load(spark, sf_dir, "embeddings")
    pairs = emb.select(
        F.col("vec_id").alias("mention"),
        F.col("label").alias("true_id"),
        (F.col("vec_id") % 7).alias("pred_id"),
    )
    conf = pairs.groupBy("pred_id").agg(
        (F.countDistinct("true_id") - 1).alias("conflated")
    )
    worst = conf.orderBy(F.desc("conflated"), F.asc("pred_id")).limit(1).select("pred_id")
    return (
        pairs.join(F.broadcast(worst), "pred_id")
        .orderBy("mention")
        .limit(5)
        .select("mention", "true_id", "pred_id")
    )


@query("approx_stats")  # sketch-based aggregates: no exact SQL twin; rows-only
def approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 at scale: approx_count_distinct (HLL) and percentile_approx
    — the sketches a 100 TB aggregation actually uses (exact
    countDistinct is checked in event_type_stats)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.round(F.percentile_approx("value", F.lit(0.5), F.lit(1000)), 2).alias("approx_median"),
    )


_BISECT_ITERS = 8
_BISECT_MULT = 20


def _bisect_oracle_sql(max_iters: int = _BISECT_ITERS, mult: int = _BISECT_MULT) -> str:
    """DuckDB replay of the WHOLE adaptive bisection (VERDICT r3 #3):
    the search is unrolled as ``max_iters`` chained CTE stages, each
    carrying the (lo, hi, done, result) state forward and owning its
    own recursive transitive closure filtered at that stage's DYNAMIC
    midpoint — a recursive CTE cannot nest another recursion, but a
    fixed-depth unroll of scalar-parameterized closures can. A
    finished search parks dead stages at mid=2.0 so their closures
    see zero edges and cost nothing."""
    prefilter = 1.0 / (1 << max_iters)  # no visited midpoint is lower
    parts = [
        f"""
    WITH RECURSIVE
    consts AS (
        SELECT COUNT(*) / 1000.0 AS eps,
               CAST(COUNT(DISTINCT label) * {mult} AS BIGINT) AS target
        FROM embeddings
    ),
    bedges AS MATERIALIZED (
        SELECT u, v, sim FROM (
            SELECT a.vec_id AS u, b.vec_id AS v,
                   ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                CAST(b.embedding AS DOUBLE[])), 6) AS sim
            FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        ) raw WHERE sim > {prefilter}
    ),
    s0 AS (SELECT 0.0 AS lo, 1.0 AS hi, FALSE AS done,
                  CAST(NULL AS DOUBLE) AS res_mid, CAST(NULL AS BIGINT) AS res_c)"""
    ]
    for i in range(1, max_iters + 1):
        p = i - 1
        parts.append(
            f""",
    m{i} AS MATERIALIZED (SELECT CASE WHEN done THEN 2.0 ELSE (lo + hi) / 2 END AS mid FROM s{p}),
    r{i}(v, l) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT e.v, r.l FROM r{i} r JOIN bedges e
            ON e.u = r.v AND e.sim > (SELECT mid FROM m{i})
    ),
    c{i} AS MATERIALIZED (SELECT COUNT(DISTINCT cl) AS c
             FROM (SELECT v, MIN(l) AS cl FROM r{i} GROUP BY v) q{i}),
    s{i} AS MATERIALIZED (
        SELECT CASE WHEN s.done OR ABS(c.c - t.target) <= t.eps THEN s.lo
                    WHEN c.c < t.target THEN m.mid ELSE s.lo END AS lo,
               CASE WHEN s.done OR ABS(c.c - t.target) <= t.eps THEN s.hi
                    WHEN c.c < t.target THEN s.hi ELSE m.mid END AS hi,
               (s.done OR ABS(c.c - t.target) <= t.eps) AS done,
               CASE WHEN s.done THEN s.res_mid
                    WHEN ABS(c.c - t.target) <= t.eps THEN m.mid END AS res_mid,
               CASE WHEN s.done THEN s.res_c
                    WHEN ABS(c.c - t.target) <= t.eps THEN c.c END AS res_c
        FROM s{p} s, c{i} c, m{i} m, consts t
    )"""
        )
    parts.append(
        f"""
    SELECT CASE WHEN done THEN res_mid ELSE (SELECT mid FROM m{max_iters}) END
               AS threshold,
           CASE WHEN done THEN res_c ELSE (SELECT c FROM c{max_iters}) END
               AS n_clusters
    FROM s{max_iters}"""
    )
    return "".join(parts)


@query("bisect_clusters", oracle=_bisect_oracle_sql())
def bisect_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 bisection (nn_thresh.py:118-135) under a FULL oracle: search
    the cosine threshold whose connected-component count hits the
    target, re-filtering the one cached scored-edge set per iteration.
    The kernel sims are quantized to 6 dp on BOTH engines
    (find_threshold sim_round=6), so every strict `sim > midpoint`
    comparison carries >=2.5e-7 slack against the >=7-decimal dyadic
    midpoints and the adaptive SCHEDULE (which midpoints get visited)
    is bit-replayable; the residual rounding-boundary margin (1.5e-13
    on testdata vs 6e-16 measured cross-engine drift) is pinned by
    tests/test_bisection.py. Output: unrounded dyadic threshold
    (exactly representable, no rounding-rule hazard) + final cluster
    count. Oracle cost: the DuckDB replay pays an O(n^2) recursive
    closure per midpoint whose component graph is near-giant —
    seconds at sf0.01 (the gate + driver scale), impractically slow
    at sf0.1; verified cross-engine at sf0.001 and sf0.01."""
    from streaming_cdc_spark.operators.clustering import find_threshold

    emb = load(spark, sf_dir, "embeddings")
    n_labels = emb.select(F.countDistinct("label")).first()[0]
    threshold, clusters = find_threshold(
        emb, target=n_labels * _BISECT_MULT, max_iters=_BISECT_ITERS, sim_round=6
    )
    n_clusters = clusters.select(F.countDistinct("cluster_id")).first()[0]
    return spark.createDataFrame(
        [(float(threshold), int(n_clusters))], "threshold double, n_clusters long"
    )


def _ep2_stream_summary(spark: SparkSession, sf_dir: str, n_splits: int) -> DataFrame:
    """The embeddings table replayed as ``n_splits`` id-range
    micro-batches through ep2_streaming (cache strategy, keyed by gold
    label), summarized per key as (n_mentions, n_clusters,
    n_singletons)."""
    from streaming_cdc_spark.pipelines import ep2_streaming
    from streaming_cdc_spark.session import id_range_splits, replay

    emb = load(spark, sf_dir, "embeddings")
    stream = replay(
        spark,
        ("ep2s", sf_dir, n_splits),
        "vec_id long, embedding array<float>, label int",
        lambda: id_range_splits(emb, "vec_id", n_splits),
    ).select(
        F.col("label").cast("string").alias("category"),
        F.col("vec_id").alias("mention_index"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    gold = emb.select(
        F.col("vec_id").alias("mention_index"),
        F.col("label").cast("string").alias("entity_id"),
    )
    out = ep2_streaming(
        stream,
        gold,
        # synthetic embeddings are near-orthogonal (within-label p90
        # cosine ~0.16); 0.25 makes the fold actually link and the
        # limit=40 < 50-per-key stream makes eviction actually fire
        threshold=0.25,
        limit=40,
        strategy="cache",
        # checkpoint lifecycle owned (created + removed) by session.drain
        with_metrics=False,
    )
    clus = (
        out["assignments"]
        .join(gold, "mention_index")
        .groupBy("entity_id", "cluster_id")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    return clus.groupBy(F.col("entity_id").alias("key")).agg(
        F.sum("sz").cast("long").alias("n_mentions"),
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum((F.col("sz") == 1).cast("int")).cast("long").alias("n_singletons"),
    )


@query("ep2_streaming_clusters")  # stateful streaming fold; rows-only
def ep2_streaming_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP2 streaming form end to end (nn_thresh.py:155-194 semantics):
    the embeddings table replayed as a parquet FILE STREAM ->
    bounded-memory incremental linker (applyInPandasWithState, cache
    strategy, limit=64, keyed by gold label = the partitionable case)
    -> per-key cluster summary. availableNow drains the stream to
    completion inside the query; each micro-batch folds its rows in
    id order, so the result is deterministic. Output: per key
    (n_mentions, n_clusters, n_singletons). Memory per key is
    O(limit * dim) regardless of stream length — the bounded-memory
    claim the reference's paper makes, here as keyed streaming
    state."""
    return _ep2_stream_summary(spark, sf_dir, n_splits=1)


@query("ep2_streaming_multibatch")  # stateful streaming fold; rows-only
def ep2_streaming_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ep2_streaming_clusters with the stream FORCED through multiple
    micro-batches (maxFilesPerTrigger=1 over four id-range splits), so
    the keyed linker state is written to the state store at each batch
    boundary and reloaded by the next — the carry-over path a real
    24/7 stream exercises, which the single-file availableNow drain
    never leaves Python memory for. The splits are written in id
    order (the file source picks oldest-mtime first), so the global
    fold order equals the single-batch run and the output is
    IDENTICAL to ep2_streaming_clusters — pinned by
    tests/test_streaming.py. Production would point the reader at an
    arriving directory or Kafka topic; the split-write here only
    builds the multi-file fixture. Rows-only BY DESIGN (the greedy
    fold over real-valued cosines is order-dependent state no SQL
    replay can follow); the SAME state machine is driver-hash-
    verified end to end by ep2_streaming_linker_replay, whose
    one-hot fixture makes the fold SQL-replayable."""
    return _ep2_stream_summary(spark, sf_dir, n_splits=4)


@query(
    "approx_distinct_bounds",
    oracle="""
    SELECT col_name, exact_n, TRUE AS within_bound FROM (
        SELECT 'user_id' AS col_name,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_n FROM events
        UNION ALL
        SELECT 'event_type', CAST(COUNT(DISTINCT event_type) AS BIGINT) FROM events
        UNION ALL
        SELECT 'event_id', CAST(COUNT(DISTINCT event_id) AS BIGINT) FROM events
    )
    """,
)
def approx_distinct_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable sketch evidence (the hash-checkable complement
    to rows-only approx_stats): each HLL approx_count_distinct must
    land within 3x its configured rsd (5%) of the exact distinct
    count — the published HLL++ error bound with overwhelming margin.
    The output carries the EXACT count (SQL-verifiable) plus the
    bound-check bit computed FROM the sketch, so a broken or drifting
    sketch implementation flips within_bound and fails the hash,
    while the sketch's platform-specific estimate itself stays out of
    the compared columns — bounding, not faking, determinism."""
    # Narrow to the three probed columns and checkpoint LAZILY
    # (optimization r9): the old form materialized the FULL-width
    # events table in an eager driver job to save three column-pruned
    # parquet scans — the wide materialization cost more than the
    # pruned scans it replaced, and the eager job serialized before
    # the real plan. Now the single final action materializes the
    # 3-column cache once and the three aggregate branches read it.
    ev = (
        load(spark, sf_dir, "events")
        .select("user_id", "event_type", "event_id")
        .localCheckpoint(eager=False)
    )

    def one(col: str) -> DataFrame:
        return ev.agg(
            F.lit(col).alias("_c"),
            F.countDistinct(col).alias("_exact"),
            F.approx_count_distinct(col, 0.05).alias("_approx"),
        ).select(
            F.col("_c").alias("col_name"),
            F.col("_exact").alias("exact_n"),
            (
                F.abs(F.col("_approx") - F.col("_exact"))
                <= F.lit(0.15) * F.col("_exact")
            ).alias("within_bound"),
        )

    return one("user_id").unionByName(one("event_type")).unionByName(one("event_id"))


@query(
    "approx_quantile_bounds",
    oracle="""
    WITH o AS (
      SELECT value, row_number() OVER (ORDER BY value, event_id) AS rn,
             COUNT(*) OVER () AS n
      FROM events WHERE value IS NOT NULL
    ),
    ex AS (SELECT ROUND(value, 2) AS exact_median
           FROM o WHERE rn = (n + 1) // 2)
    SELECT exact_median, TRUE AS within_bound FROM ex
    """,
)
def approx_quantile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantile twin of approx_distinct_bounds: percentile_approx
    (Greenwald-Khanna) at accuracy 1000 must place its median
    estimate within RANK error n/1000 (+1 slack for the discrete
    grid) of the true rank n/2 — the published GK deterministic
    bound. The hash-compared columns carry the EXACT median (replayed
    relationally by the oracle's global row_number — Spark side
    computes it via the rank-based two-pass, no single-partition
    window) plus the bound bit derived from the sketch: a drifting
    sketch flips within_bound and fails the hash while its
    platform-specific estimate stays out of the compared output.
    With heavy duplicates at the median, the estimate's rank is an
    INTERVAL [count(value < apx) + 1, count(value <= apx)] — the GK
    guarantee holds for SOME rank among the equal values, so the
    bound bit passes iff that interval intersects n/2 +- (n/1000 + 1)
    (checking only the max rank could flip a correct sketch). NULLs
    are filtered on both sides (Spark/DuckDB NULL sort order differs;
    re-verify on testdata regen)."""
    from streaming_cdc_spark.operators.ranking import row_number_global

    # LAZY checkpoint (optimization r9): all four references (ranked,
    # n, approx, rank interval) live in the single final plan — the
    # scan+filter caches at first compute inside that action instead
    # of paying an eager driver job at build time.
    ev = (
        load(spark, sf_dir, "events")
        .select("event_id", "value")
        .filter(F.col("value").isNotNull())
        .localCheckpoint(eager=False)
    )
    ranked = row_number_global(ev, ["value", "event_id"], "rn")
    n_df = ev.agg(F.count(F.lit(1)).alias("n"))
    exact = (
        ranked.crossJoin(F.broadcast(n_df))
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select(F.round("value", 2).alias("exact_median"), "n")
    )
    approx = ev.agg(
        F.percentile_approx("value", 0.5, 1000).alias("_apx")
    )
    # rank interval of the approx value among duplicates:
    # [count(value < apx) + 1, count(value <= apx)]; the GK bound
    # holds for SOME rank in it, so pass iff it intersects
    # [n/2 - slack, n/2 + slack] with slack = n/1000 + 1.
    apx_rank = ev.crossJoin(F.broadcast(approx)).agg(
        (F.sum((F.col("value") < F.col("_apx")).cast("long")) + F.lit(1)).alias(
            "_lo"
        ),
        F.sum((F.col("value") <= F.col("_apx")).cast("long")).alias("_hi"),
    )
    out = exact.crossJoin(F.broadcast(approx)).crossJoin(F.broadcast(apx_rank))
    slack = F.expr("n div 1000") + F.lit(1)
    return out.select(
        "exact_median",
        (
            (F.col("_lo") <= F.expr("n div 2") + slack)
            & (F.col("_hi") >= F.expr("n div 2") - slack)
        ).alias("within_bound"),
    )


_LINKREPLAY_LIMIT = 8
_LINKREPLAY_KEYS = 3
_LINKREPLAY_GROUPS = 11

_LINKREPLAY_ORACLE = f"""
    WITH m AS (
      SELECT vec_id,
             CAST(vec_id % {_LINKREPLAY_KEYS} AS VARCHAR) AS key,
             CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % {_LINKREPLAY_GROUPS} AS grp
      FROM embeddings
    ),
    pos AS (
      SELECT key, grp, vec_id,
             ROW_NUMBER() OVER (PARTITION BY key ORDER BY vec_id) AS p
      FROM m
    ),
    lagged AS (
      SELECT key, grp, vec_id, p,
             LAG(p) OVER (PARTITION BY key, grp ORDER BY p) AS prev_p
      FROM pos
    ),
    isl AS (
      SELECT key, grp, vec_id, p,
             SUM(CASE WHEN prev_p IS NULL OR p - prev_p > {_LINKREPLAY_LIMIT}
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY key, grp ORDER BY p) AS island
      FROM lagged
    )
    SELECT key, vec_id AS mention_index,
           MIN(vec_id) OVER (PARTITION BY key, grp, island) AS cluster_id
    FROM isl
"""

@query("ep2_streaming_linker_replay", oracle=_LINKREPLAY_ORACLE)
def ep2_streaming_linker_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE STREAMING LINKER UNDER A FULL ORACLE (VERDICT r8 #4) — the
    bounded-memory incremental linker (nn_thresh.py:27-44 'backwards'
    sliding-window strategy) exercised through REAL multi-batch
    applyInPandasWithState streaming state, on a fixture whose greedy
    fold is SQL-replayable, so the driver hash-verifies the exact
    per-mention cluster assignment the state machine produced — the
    streaming_sessions_custom_state pattern (one oracle, one custom
    state physical), extended to the EP2 namesake operator.

    Why this replays exactly: each mention's embedding is the ONE-HOT
    unit vector of its group g = md5_long(vec_id) % 11, so every
    cosine is EXACTLY 1.0 (same group) or 0.0 (different group) —
    no float boundary anywhere near threshold 0.5. Under the
    'backwards' strategy the active set per key is precisely the
    last `limit` arrivals (FIFO eviction), so a mention links iff
    its nearest same-group predecessor arrived within the last
    `limit` mentions of its key, and chained links give every
    mention the vec_id of its gap-island's FIRST member as
    cluster_id. That is a LAG + gaps-and-islands window computation
    — the oracle replays it in three CTE layers (DuckDB forbids
    nested window FUNCTIONS, not windows across CTEs). With 11
    groups hashed uniformly and limit 8, both branches occur at
    every sf (links ~ P(gap<=8) and island breaks ~ P(gap>8); the
    geometry is pinned by tests/test_streaming.py). Four id-range
    mtime-pinned splits with maxFilesPerTrigger=1 force state
    save/restore at three batch boundaries — the oracle only
    matches if cross-batch state carry-over is exact. At 100 TB the
    state per key is O(limit * dim) regardless of stream length —
    the reference paper's bounded-memory claim (README.md:63) as
    keyed streaming state."""
    from streaming_cdc_spark.functions.hashing import md5_long
    from streaming_cdc_spark.session import drain, id_range_splits, replay
    from streaming_cdc_spark.streaming.linker import streaming_linker

    emb = load(spark, sf_dir, "embeddings").select("vec_id")
    onehot = F.transform(
        F.sequence(F.lit(0), F.lit(_LINKREPLAY_GROUPS - 1)),
        lambda i: F.when(i == F.col("grp"), F.lit(1.0)).otherwise(F.lit(0.0)),
    )
    m = emb.select(
        F.col("vec_id").alias("mention_index"),
        (F.col("vec_id") % _LINKREPLAY_KEYS).cast("string").alias("category"),
        (md5_long(F.col("vec_id").cast("string")) % _LINKREPLAY_GROUPS).alias(
            "grp"
        ),
    ).select("mention_index", "category", onehot.alias("embedding"))

    stream = replay(
        spark,
        ("linkreplay", sf_dir),
        "mention_index long, category string, embedding array<double>",
        lambda: id_range_splits(m, "mention_index", 4),
    )
    out = streaming_linker(
        stream,
        threshold=0.5,
        limit=_LINKREPLAY_LIMIT,
        strategy="backwards",
    )
    return drain(out, "linkreplay")
