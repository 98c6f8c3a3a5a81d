"""session.drain is the engine's one availableNow stream start and
session.replay its one stream source: the sink contract, cleanup on
success and failure, checkpoint ownership, the replay cache and batch
order, and the single-entry-point rules bench.py's streaming count
relies on."""

import ast
import atexit
import json
import shutil
import tempfile
from pathlib import Path

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

import streaming_cdc_spark
from streaming_cdc_spark import session
from test_custom_sessions import SF  # the sf0.001 fixture directory


def _table_names(spark):
    return sorted(t.name for t in spark.catalog.listTables())


def _write(src: Path, name: str, xs) -> None:
    src.mkdir(exist_ok=True)
    (src / name).write_text("\n".join(json.dumps({"x": x}) for x in xs))


def _stream(spark, src: Path):
    return (
        spark.readStream.schema("x long").option("maxFilesPerTrigger", 1).json(str(src))
    )


@pytest.fixture
def owned_tmp(monkeypatch, tmp_path):
    """Redirect tempfile so the checkpoint dirs drain creates land in
    a directory the test can list."""
    d = tmp_path / "tmp"
    d.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(d))
    return d


def _owned_ckpts(d: Path, prefix: str):
    return [p.name for p in d.iterdir() if p.name.startswith(f"{prefix}_ckpt_")]


def _attribute_sites(attr: str, allowed) -> list[str]:
    """Every ``.<attr>`` attribute access under streaming_cdc_spark/
    outside the ``allowed`` paths (an AST check, so comments and
    strings don't count)."""
    pkg = Path(streaming_cdc_spark.__file__).parent
    sites = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg)
        if any(rel == Path(a) or Path(a) in rel.parents for a in allowed):
            continue
        tree = ast.parse(path.read_text(), str(path))
        sites += [
            f"{rel}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Attribute) and node.attr == attr
        ]
    return sites


def test_write_stream_only_in_session():
    """Every engine stream starts through session.drain: no module
    except session.py touches .writeStream."""
    assert _attribute_sites("writeStream", ["session.py"]) == []


def test_read_stream_only_in_session_and_sources():
    """Every engine stream source is a session.replay: .readStream
    appears only there and in sources/ (the reference-format and
    external readers)."""
    assert _attribute_sites("readStream", ["session.py", "sources"]) == []


def test_drain_memory_sink_returns_table_and_cleans_up(spark, tmp_path, owned_tmp):
    src = tmp_path / "src"
    _write(src, "f0.jsonl", [1, 2])
    _write(src, "f1.jsonl", [3])
    tables = _table_names(spark)
    n0 = session.DRAIN_COUNT
    out = session.drain(_stream(spark, src), "dtmem")
    assert sorted(r.x for r in out.collect()) == [1, 2, 3]
    assert session.DRAIN_COUNT == n0 + 1
    assert _owned_ckpts(owned_tmp, "dtmem") == []
    assert _table_names(spark) == tables
    assert spark.streams.active == []


def _raise_in_memory_sink(spark, src):
    session.drain(
        _stream(spark, src).select(
            F.when(F.col("x") > 0, F.raise_error(F.lit("boom")))
            .otherwise(F.col("x"))
            .alias("x")
        ),
        "dtfail",
    )


def _raise_in_handler(spark, src):
    def handler(batch_df, batch_id):
        raise ValueError("boom")

    session.drain(_stream(spark, src), "dtfail", foreach_batch=handler)


@pytest.mark.parametrize(
    "run", [_raise_in_memory_sink, _raise_in_handler], ids=["memory", "foreach_batch"]
)
def test_drain_failure_surfaces_and_cleans_up(spark, tmp_path, owned_tmp, run):
    src = tmp_path / "src"
    _write(src, "f0.jsonl", [1, 2])
    tables = _table_names(spark)
    with pytest.raises(StreamingQueryException, match="boom"):
        run(spark, src)
    assert _owned_ckpts(owned_tmp, "dtfail") == []
    assert _table_names(spark) == tables
    assert spark.streams.active == []


def test_drain_caller_checkpoint_survives_and_resumes(spark, tmp_path, owned_tmp):
    """A caller-supplied checkpoint is caller-owned: it survives the
    drain, and a second drain on it processes only the file added
    since the first."""
    src = tmp_path / "src"
    ckpt = tmp_path / "ckpt"
    seen: list[list[int]] = []

    def handler(batch_df, batch_id):
        seen.append(sorted(r.x for r in batch_df.collect()))

    _write(src, "f0.jsonl", [1, 2])
    assert session.drain(
        _stream(spark, src), "dtres", foreach_batch=handler, checkpoint=str(ckpt)
    ) is None
    assert ckpt.is_dir() and seen == [[1, 2]]
    _write(src, "f1.jsonl", [7])
    session.drain(_stream(spark, src), "dtres", foreach_batch=handler, checkpoint=str(ckpt))
    assert ckpt.is_dir() and seen == [[1, 2], [7]]
    assert _owned_ckpts(owned_tmp, "dtres") == []


@pytest.mark.parametrize(
    "name",
    ["watermarked_daily_counts", "streaming_sessions_finalized", "ep2_streaming_multibatch"],
)
def test_streaming_query_leaves_no_temp_view(spark, name):
    """These three once hand-rolled their memory-sink drain and left
    its temp view registered for the session's lifetime."""
    from streaming_cdc_spark.queries import QUERIES

    tables = _table_names(spark)
    QUERIES[name](spark, SF).collect()
    assert _table_names(spark) == tables


@pytest.fixture
def replay_cache(monkeypatch):
    """An empty replay cache for the test, restored afterwards."""
    monkeypatch.setattr(session, "_REPLAY_DIRS", {})
    return session._REPLAY_DIRS


def _xs(spark, *lists):
    return [spark.createDataFrame([(x,) for x in xs], "x long") for xs in lists]


def test_replay_reuses_its_directory_and_rebuilds_when_gone(spark, replay_cache):
    calls = []

    def make_parts():
        calls.append(1)
        return _xs(spark, [1, 2], [3])

    key = ("rptest", "reuse")
    first = session.replay(spark, key, "x long", make_parts)
    src = replay_cache[key]
    session.replay(spark, key, "x long", make_parts)
    assert len(calls) == 1 and replay_cache[key] == src
    out = session.drain(first, "rpreuse")
    assert sorted(r.x for r in out.collect()) == [1, 2, 3]

    shutil.rmtree(src)
    again = session.replay(spark, key, "x long", make_parts)
    assert len(calls) == 2 and replay_cache[key] != src
    assert sorted(r.x for r in session.drain(again, "rpreuse").collect()) == [1, 2, 3]
    shutil.rmtree(replay_cache[key])


def test_replay_registers_directory_removal_atexit(spark, replay_cache, monkeypatch):
    registered = []
    monkeypatch.setattr(atexit, "register", lambda fn, *a, **kw: registered.append((fn, a)))
    session.replay(spark, ("rptest", "atexit"), "x long", lambda: _xs(spark, [1]))
    src = replay_cache[("rptest", "atexit")]
    assert (shutil.rmtree, (src,)) in registered
    shutil.rmtree(src)


def test_replay_splits_arrive_as_batches_in_list_order(spark, replay_cache):
    seen: dict[int, list[int]] = {}

    def handler(batch_df, batch_id):
        seen[batch_id] = sorted(r.x for r in batch_df.collect())

    # list order deliberately differs from value order
    parts = _xs(spark, [30, 31], [10], [20, 21, 22])
    stream = session.replay(spark, ("rptest", "order"), "x long", lambda: parts)
    session.drain(stream, "rporder", foreach_batch=handler)
    assert seen == {0: [30, 31], 1: [10], 2: [20, 21, 22]}
    shutil.rmtree(replay_cache[("rptest", "order")])


def test_id_range_splits_empty_input(spark):
    empty = spark.createDataFrame([], "x long")
    parts = session.id_range_splits(empty, "x", 3)
    assert len(parts) == 3 and [p.count() for p in parts] == [0, 0, 0]


def test_id_range_splits_match_the_oracle_bucket_formula(spark):
    """Frame i holds exactly the rows the oracles bucket as i with
    (x - lo) // ((hi - lo + n) // n)."""
    import duckdb

    xs = [3, 4, 7, 8, 9, 12, 15, 16, 20, 21]
    df = spark.createDataFrame([(x,) for x in xs], "x long")
    got = [sorted(r.x for r in p.collect()) for p in session.id_range_splits(df, "x", 4)]
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT UNNEST(?) AS x", [xs])
    rows = con.execute(
        """
        WITH b AS (SELECT MIN(x) AS lo, MAX(x) AS hi FROM t)
        SELECT (x - lo) // ((hi - lo + 4) // 4) AS k, x FROM t, b ORDER BY x
        """
    ).fetchall()
    want = [[x for k, x in rows if k == i] for i in range(4)]
    assert got == want
    assert sum(map(len, got)) == len(xs) and all(got)
