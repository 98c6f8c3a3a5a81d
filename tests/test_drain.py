"""session.drain is the engine's one availableNow stream start: its
sink contract, its cleanup on success and failure, checkpoint
ownership, and the single-entry-point rule bench.py's streaming
count relies on."""

import ast
import json
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


def test_write_stream_only_in_session():
    """Every engine stream starts through session.drain: no module
    under streaming_cdc_spark/ except session.py touches .writeStream
    (an AST attribute check, so comments and strings don't count)."""
    pkg = Path(streaming_cdc_spark.__file__).parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pkg / "session.py":
            continue
        tree = ast.parse(path.read_text(), str(path))
        offenders += [
            f"{path.relative_to(pkg)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Attribute) and node.attr == "writeStream"
        ]
    assert offenders == []


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
