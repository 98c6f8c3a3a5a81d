"""Streaming helpers with no oracle-gated query: the chained
multi-stream join, in-stream MinHash dedup and windowed token
counts."""

import json


def test_multi_stream_join_three_tables(spark, tmp_path):
    """Clicks pair with the same user's view AND purchase within the
    lookback; a user missing either stream produces no row."""
    from streaming_cdc_spark.streaming.windows import multi_stream_join

    def write(name, rows):
        d = tmp_path / name
        d.mkdir()
        (d / "a.jsonl").write_text("\n".join(json.dumps(r) for r in rows))
        return spark.readStream.schema(
            "ts timestamp, event_type string, value double, user_id long"
        ).json(str(d))

    clicks = write(
        "clicks",
        [
            {"ts": "2024-01-01 00:10:00", "event_type": "click", "value": 1.0, "user_id": 1},
            {"ts": "2024-01-01 00:10:00", "event_type": "click", "value": 1.0, "user_id": 2},
            {"ts": "2024-01-01 09:00:00", "event_type": "click", "value": 0.0, "user_id": 99},
        ],
    )
    views = write(
        "views",
        [
            {"ts": "2024-01-01 00:05:00", "event_type": "view", "value": 2.0, "user_id": 1},
            {"ts": "2024-01-01 00:06:00", "event_type": "view", "value": 2.0, "user_id": 2},
            {"ts": "2024-01-01 09:00:00", "event_type": "view", "value": 0.0, "user_id": 98},
        ],
    )
    buys = write(
        "buys",
        [
            {"ts": "2024-01-01 00:08:00", "event_type": "buy", "value": 9.0, "user_id": 1},
            # user 2's buy is OUTSIDE the 10-minute lookback
            {"ts": "2024-01-01 23:50:00", "event_type": "buy", "value": 9.0, "user_id": 2},
            {"ts": "2024-01-01 09:00:00", "event_type": "buy", "value": 0.0, "user_id": 97},
        ],
    )
    out = multi_stream_join(clicks, [("view", views), ("buy", buys)])
    q = (
        out.writeStream.format("memory")
        .queryName("msj_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from msj_out").collect()
    assert len(got) == 1
    r = got[0]
    assert r["user_id"] == 1
    assert r["view_lag_seconds"] == 300
    assert r["buy_lag_seconds"] == 120


def test_streaming_minhash_dedup(spark, tmp_path):
    """Near-identical docs (same shingle set) collide in-stream; a
    distinct doc survives."""
    from streaming_cdc_spark.streaming.windows import streaming_minhash_dedup

    src = tmp_path / "mhsrc"
    src.mkdir()
    rows = [
        {"ts": "2024-01-01 00:01:00", "doc_id": 0, "text": "the quick brown fox jumps over the lazy dog"},
        {"ts": "2024-01-01 00:02:00", "doc_id": 1, "text": "the quick brown fox jumps over the lazy dog"},
        {"ts": "2024-01-01 00:03:00", "doc_id": 2, "text": "completely different words entirely here now today"},
    ]
    (src / "a.jsonl").write_text("\n".join(json.dumps(r) for r in rows))
    stream = spark.readStream.schema("ts timestamp, doc_id long, text string").json(str(src))
    out = streaming_minhash_dedup(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("mh_out")
        .option("checkpointLocation", str(tmp_path / "mhck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["doc_id"] for r in spark.sql("select * from mh_out").collect())
    assert got == [0, 2]

    # batch parity: the same signature expression equals the batch
    # minhash_signatures aggregate
    from streaming_cdc_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows], "doc_id long, text string"
    )
    batch = {r["doc_id"]: (r["h0"], r["h1"], r["h2"], r["h3"]) for r in minhash_signatures(docs).collect()}
    stream_sigs = {
        r["doc_id"]: (r["mh0"], r["mh1"], r["mh2"], r["mh3"])
        for r in spark.sql("select * from mh_out").collect()
    }
    for did, sig in stream_sigs.items():
        assert batch[did] == sig


def test_streaming_token_counts(spark, tmp_path):
    from streaming_cdc_spark.streaming.windows import streaming_token_counts

    src = tmp_path / "tok_src"
    src.mkdir()
    rows = [
        {"ts": "2024-01-01 00:01:00", "text": "a b a"},
        {"ts": "2024-01-01 00:05:00", "text": "b c"},
        {"ts": "2024-01-01 09:00:00", "text": "z"},  # advances watermark
    ]
    (src / "a.jsonl").write_text("\n".join(json.dumps(r) for r in rows))
    stream = spark.readStream.schema("ts timestamp, text string").json(str(src))
    out = streaming_token_counts(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("tok_out")
        .option("checkpointLocation", str(tmp_path / "tok_ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r["window_start"]), r["token"]): r["n"]
        for r in spark.sql("select * from tok_out").collect()
    }
    w = "2024-01-01 00:00:00"
    assert got[(w, "a")] == 2 and got[(w, "b")] == 2 and got[(w, "c")] == 1
