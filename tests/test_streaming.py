"""Structured Streaming: micro-batch sources, K1 sink, DLQ split,
hourly alert window, accumulating KPI with batch guard."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
    ParquetUpsertTable,
)
from group_2_shopware_enterprise_data_engineering_project_spark.schemas import (
    CRM_INTERACTION_SCHEMA,
)
from group_2_shopware_enterprise_data_engineering_project_spark.streaming import alerts
from group_2_shopware_enterprise_data_engineering_project_spark.streaming.micro_batch import (
    _stream_app_id,
    accumulating_kpi_sink,
    stream_json_source,
    run_available_now,
)


def _write_jsonl(path, rows):
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _crm_rows(n, start_ts=1.7e9, rating=1, cid=1):
    return [
        {
            "customer_id": cid,
            "interaction_type": "Complaint",
            "timestamp": start_ts + i,
            "channel": "web",
            "rating": rating,
            "message_excerpt": f"m{i}",
        }
        for i in range(n)
    ]


def test_stream_source_micro_batches(spark, tmp_path):
    """maxFilesPerTrigger=1 -> one micro-batch per input file (the
    size-bound flush, ST1)."""
    src_dir = tmp_path / "in"
    _write_jsonl(src_dir / "f1.jsonl", _crm_rows(3))
    _write_jsonl(src_dir / "f2.jsonl", _crm_rows(2, start_ts=1.8e9))

    batches = []
    stream = stream_json_source(spark, str(src_dir), CRM_INTERACTION_SCHEMA)
    run_available_now(
        stream,
        str(tmp_path / "ckpt"),
        lambda df, bid: batches.append((bid, df.count())),
    )
    assert sorted(c for _, c in batches) == [2, 3]


def test_alert_window_batch_and_threshold(spark):
    """Hour-aligned tumbling window; alert iff >= 10 negatives
    (reference threshold)."""
    rows = (
        [(f"2025-01-01 10:{m:02d}:00", 1) for m in range(12)]  # 12 negatives hr 10
        + [(f"2025-01-01 11:{m:02d}:00", 1) for m in range(5)]  # 5 negatives hr 11
        + [("2025-01-01 10:30:00", 5)] * 20  # positives don't count
    )
    df = spark.createDataFrame(rows, "ts string, rating int").withColumn(
        "ingestion_time", F.col("ts").cast("timestamp")
    )
    counts = {
        r.window_start.hour: r.negative_count
        for r in alerts.negative_interaction_counts(df).collect()
    }
    assert counts == {10: 12, 11: 5}
    fired = alerts.alerts(df).collect()
    assert len(fired) == 1 and fired[0].window_start.hour == 10


def test_streaming_alerts_with_watermark(spark, tmp_path):
    """The same alert query runs as a stream (availableNow drain)."""
    src_dir = tmp_path / "in"
    rows = [
        {"customer_id": 1, "interaction_type": "c", "timestamp": 1.7e9 + i, "rating": 1}
        for i in range(15)
    ]
    _write_jsonl(src_dir / "f1.jsonl", rows)
    stream = stream_json_source(spark, str(src_dir), CRM_INTERACTION_SCHEMA)
    stream = stream.withColumn(
        "ingestion_time", F.timestamp_seconds(F.col("timestamp"))
    )
    out = alerts.alerts(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("alerts_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM alerts_test").collect()
    assert len(got) == 1 and got[0].negative_count == 15


def test_accumulating_kpi_batch_guard(spark, tmp_path):
    """ST7: per-batch additive merge accumulates across micro-batches,
    and the batch guard makes replays no-ops."""
    src_dir = tmp_path / "in"
    _write_jsonl(src_dir / "f1.jsonl", _crm_rows(3, cid=1))
    _write_jsonl(src_dir / "f2.jsonl", _crm_rows(2, cid=1, start_ts=1.8e9))

    table = ParquetUpsertTable(spark, str(tmp_path / "kpi"))

    def agg(df):
        return df.groupBy("customer_id").agg(F.count(F.lit(1)).cast("double").alias("n"))

    def run():
        stream = stream_json_source(spark, str(src_dir), CRM_INTERACTION_SCHEMA)
        accumulating_kpi_sink(
            stream, table, ("customer_id",), ("n",), agg, str(tmp_path / "ckpt")
        )

    run()
    assert {r.customer_id: r.n for r in table.read().collect()} == {1: 5.0}

    # Re-running over the same checkpoint: no new batches -> no change.
    run()
    assert {r.customer_id: r.n for r in table.read().collect()} == {1: 5.0}


def test_accumulating_kpi_replay_after_crash_adds_once(spark, tmp_path, monkeypatch):
    """A crash before batch 1's manifest swap fails the stream; the
    restart replays batch 1 from the checkpoint and it adds exactly
    once. The KPI key holds the table's partition column, the shape
    whose merges are otherwise partition-scoped."""
    src_dir = tmp_path / "in"
    _write_jsonl(src_dir / "f1.jsonl", _crm_rows(3, cid=1))
    _write_jsonl(src_dir / "f2.jsonl", _crm_rows(2, cid=1, start_ts=1.8e9))
    t1 = os.path.getmtime(src_dir / "f1.jsonl")
    os.utime(src_dir / "f2.jsonl", (t1 + 10, t1 + 10))  # f1 is batch 0
    path = str(tmp_path / "kpi")
    table = ParquetUpsertTable(spark, path, partition_by=("channel",))

    def agg(df):
        return df.groupBy("customer_id", "channel").agg(
            F.count(F.lit(1)).cast("double").alias("n")
        )

    def run(t):
        stream = stream_json_source(spark, str(src_dir), CRM_INTERACTION_SCHEMA)
        accumulating_kpi_sink(
            stream, t, ("customer_id", "channel"), ("n",), agg, str(tmp_path / "ckpt")
        )

    def totals(t):
        return {(r.customer_id, r.channel): r.n for r in t.read().collect()}

    commit = table._commit

    def crash_on_batch_1(version, dir_name, txn=None):
        if txn is not None and txn[1] == 1:
            raise RuntimeError("injected crash before manifest swap")
        commit(version, dir_name, txn=txn)

    monkeypatch.setattr(table, "_commit", crash_on_batch_1)
    with pytest.raises(Exception, match="injected crash"):
        run(table)
    app_id = _stream_app_id(str(tmp_path / "ckpt"))
    restarted = ParquetUpsertTable(spark, path)
    assert totals(restarted) == {(1, "web"): 3.0}
    assert restarted.last_txn(app_id) == 0
    assert restarted.versions() == [1]

    run(restarted)  # batch 1 replays from the checkpoint
    assert totals(restarted) == {(1, "web"): 5.0}
    assert restarted.last_txn(app_id) == 1
    versions = restarted.versions()
    run(restarted)  # nothing left to replay
    assert totals(restarted) == {(1, "web"): 5.0}
    assert restarted.versions() == versions


def test_stream_app_id_survives_checkpoint_relocation(tmp_path):
    import shutil

    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.micro_batch import (
        _stream_app_id,
    )

    a = str(tmp_path / "run1" / "ckpt")
    id1 = _stream_app_id(a)
    # stable on re-read
    assert _stream_app_id(a) == id1
    # relocated checkpoint keeps the SAME txn lane (id travels with it)
    b = str(tmp_path / "moved" / "ckpt")
    shutil.move(str(tmp_path / "run1"), str(tmp_path / "moved"))
    assert _stream_app_id(b) == id1
    # a genuinely different checkpoint (same leaf name) gets its own lane
    c = str(tmp_path / "run2" / "ckpt")
    assert _stream_app_id(c) != id1


def test_streaming_exact_dedup_across_batches(spark, tmp_path):
    """First occurrence per key is admitted; replays/duplicates in
    LATER micro-batches are dropped by state."""
    from pyspark.sql import types as T

    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.stateful import (
        streaming_exact_dedup,
    )

    src = tmp_path / "in"
    _write_jsonl(src / "f1.jsonl", [{"k": "a", "v": 1}, {"k": "b", "v": 2}])
    _write_jsonl(src / "f2.jsonl", [{"k": "a", "v": 99}, {"k": "c", "v": 3}])
    # batch order follows file mtime; same-millisecond writes tie
    # arbitrarily — pin f1 before f2
    import time as _time

    t0 = _time.time()
    os.utime(src / "f1.jsonl", (t0, t0))
    os.utime(src / "f2.jsonl", (t0 + 10, t0 + 10))

    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(str(src))
    )
    out = streaming_exact_dedup(stream, "k", schema)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_state_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r.k: r.v for r in spark.sql("SELECT * FROM dedup_state_test").collect()}
    assert set(rows) == {"a", "b", "c"}
    # 'a' kept its FIRST value; the batch-2 replay (v=99) was dropped...
    # unless both files landed in one trigger; maxFilesPerTrigger=1
    # guarantees ordered single-file batches.
    assert rows["b"] == 2 and rows["c"] == 3


def test_time_bound_trigger_processing_time(spark, tmp_path):
    """ST1's time-bound flush half (reference api.py:22-23: flush on
    100 records OR 10s): a processingTime trigger drains files on a
    wall-clock cadence rather than per-file. Both flush modes share
    stream_json_source; this pins the time-bound path end to end."""
    import time

    from pyspark.sql import types as T

    src, out, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    for b in range(2):
        _write_jsonl(src / f"b{b}.jsonl", [{"k": b * 10 + i} for i in range(5)])

    schema = T.StructType([T.StructField("k", T.LongType())])
    stream = stream_json_source(spark, str(src), schema, max_files_per_trigger=None)
    q = (
        stream.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            try:
                if spark.read.parquet(str(out)).count() == 10:
                    break
            except Exception:
                pass
            time.sleep(0.5)
        assert spark.read.parquet(str(out)).count() == 10
        # a file arriving BETWEEN triggers is picked up by a later tick
        _write_jsonl(src / "late.jsonl", [{"k": 99}])
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.read.parquet(str(out)).count() == 11:
                break
            time.sleep(0.5)
        assert spark.read.parquet(str(out)).count() == 11
    finally:
        q.stop()


def test_streaming_dedup_ttl_expires_and_readmits(spark, tmp_path):
    """ttl_ms bounds dedup state: an admitted key's flag expires after
    the TTL, after which the key is admissible again. Uses a
    processingTime trigger + manual stop because ProcessingTimeTimeout
    keeps scheduling timeout batches, so availableNow never
    self-terminates (pinned as a documented operator caveat)."""
    import time

    from pyspark.sql import types as T

    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.stateful import (
        streaming_exact_dedup,
    )

    src = tmp_path / "in"
    _write_jsonl(src / "f1.jsonl", [{"k": "a", "v": 1}, {"k": "b", "v": 2}])

    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(str(src))
    )
    out = streaming_exact_dedup(stream, "k", schema, ttl_ms=2_000)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_ttl_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="250 milliseconds")
        .start()
    )

    def _sink():
        return spark.sql("SELECT * FROM dedup_ttl_test").collect()

    try:
        deadline = time.time() + 60
        while time.time() < deadline and len(_sink()) < 2:
            time.sleep(0.25)
        assert {(r.k, r.v) for r in _sink()} == {("a", 1), ("b", 2)}

        # Let the flags expire (timeout batches fire past the 2s TTL),
        # then replay key 'a': it must be admitted AGAIN.
        time.sleep(4)
        _write_jsonl(src / "f2.jsonl", [{"k": "a", "v": 99}])
        deadline = time.time() + 60
        while time.time() < deadline and len(_sink()) < 3:
            time.sleep(0.25)
        assert {(r.k, r.v) for r in _sink()} == {("a", 1), ("b", 2), ("a", 99)}
    finally:
        q.stop()


def test_polling_writer_flushes_on_size_or_age(tmp_path):
    """S6 flush contract (reference api.py:22-23): 100 records OR 10
    seconds, whichever first — pinned with an injected clock, no
    sleeps."""
    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.polling import (
        BufferedNdjsonWriter,
    )

    now = [0.0]
    w = BufferedNdjsonWriter(
        str(tmp_path / "out"),
        reject_dir=str(tmp_path / "rej"),
        batch_size=3,
        batch_seconds=10.0,
        required_fields=("session_id", "user_id"),
        clock=lambda: now[0],
    )
    ok = {"session_id": "s", "user_id": 1}
    # size-bound: 3rd record trips a flush
    w.add(dict(ok, i=1)); w.add(dict(ok, i=2))
    assert os.listdir(tmp_path / "out") == []
    w.add(dict(ok, i=3))
    assert len(os.listdir(tmp_path / "out")) == 1
    # time-bound: one buffered record, clock advances past 10s, next
    # poll tick flushes it even though the size bound is far away
    w.add(dict(ok, i=4))
    now[0] = 11.0
    w.maybe_flush()
    assert len(os.listdir(tmp_path / "out")) == 2
    # reject split: missing identity diverts, never reaches a batch
    w.add({"session_id": None, "user_id": 9})
    paths = w.close()
    assert any("rej" in p for p in paths)
    rej_rows = [
        json.loads(line)
        for p in os.listdir(tmp_path / "rej")
        for line in open(tmp_path / "rej" / p)
    ]
    assert rej_rows == [{"session_id": None, "user_id": 9}]


def test_polling_loop_feeds_micro_batch_source(spark, tmp_path):
    """End to end: poll -> buffered NDJSON flush -> the SAME files
    drain through stream_json_source as micro-batches, rejects
    excluded."""
    from pyspark.sql import types as T

    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.polling import (
        BufferedNdjsonWriter,
        run_polling_loop,
    )

    src = tmp_path / "in"
    ticks = iter(
        [
            [{"session_id": "a", "user_id": 1}, {"session_id": "b", "user_id": 2}],
            [{"session_id": None, "user_id": 3}],  # rejected pre-stream
            [{"session_id": "c", "user_id": 4}],
        ]
    )
    w = BufferedNdjsonWriter(
        str(src),
        reject_dir=str(tmp_path / "rej"),
        batch_size=2,
        required_fields=("session_id", "user_id"),
    )
    run_polling_loop(lambda: next(ticks), w, n_polls=3)

    schema = T.StructType(
        [T.StructField("session_id", T.StringType()), T.StructField("user_id", T.LongType())]
    )
    batches = []
    stream = stream_json_source(spark, str(src), schema)
    run_available_now(
        stream,
        str(tmp_path / "ckpt"),
        lambda df, bid: batches.append(sorted(r.session_id for r in df.collect())),
    )
    assert sorted(s for b in batches for s in b) == ["a", "b", "c"]


def test_watermark_append_mode_drops_late_data(spark, tmp_path):
    """Watermarked windowed agg in APPEND mode: a window's result
    emits only once the watermark passes it, and events arriving
    after that are dropped rather than mutating the emitted row —
    the at-scale contract that bounds streaming state. (The complete-
    mode alert test keeps all state; this pins the bounded path.)"""
    from pyspark.sql import types as T

    src = tmp_path / "in"
    # batch 0: hour-10 events + an hour-12 event that will advance the
    # watermark (delay 30min) past hour 10's window end
    _write_jsonl(
        src / "f1.jsonl",
        [{"ts": f"2025-01-01 10:{m:02d}:00", "rating": 1} for m in range(12)]
        + [{"ts": "2025-01-01 12:00:00", "rating": 1}],
    )
    # batch 1: keeps the stream moving — the watermark computed from
    # batch 0 (11:30) takes EFFECT here (one-batch propagation lag,
    # pinned by this test's structure)
    _write_jsonl(src / "f2.jsonl", [{"ts": "2025-01-01 12:30:00", "rating": 1}])
    # batch 2: a LATE hour-10 event — watermark 11:30 now in force
    _write_jsonl(src / "f3.jsonl", [{"ts": "2025-01-01 10:59:00", "rating": 1}])
    # the file source orders batches by MODIFICATION TIME, and same-
    # millisecond writes tie arbitrarily — pin the intended order
    import time as _time

    t0 = _time.time()
    for i, name in enumerate(["f1.jsonl", "f2.jsonl", "f3.jsonl"]):
        os.utime(src / name, (t0 + 10 * i, t0 + 10 * i))

    schema = T.StructType(
        [T.StructField("ts", T.StringType()), T.StructField("rating", T.IntegerType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
        .withColumn("event_time", F.col("ts").cast("timestamp"))
        .withWatermark("event_time", "30 minutes")
    )
    agg = stream.groupBy(F.window("event_time", "1 hour")).agg(
        F.count(F.lit(1)).alias("n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_append_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.window.start.hour: r.n for r in spark.sql("SELECT * FROM wm_append_test").collect()
    }
    # hour 10 emitted with the ON-TIME count only; the late event never
    # resurfaces it. hour 12 stays open (watermark hasn't passed it).
    assert got == {10: 12}


def test_stream_sessions_merge_across_batches(spark, tmp_path):
    """A session whose events span two micro-batches must emit as ONE
    row (state-store merge), and sessions still extendable at stream
    end must NOT emit (the probed append-mode emission rule)."""
    import time as _time

    from pyspark.sql import types as T

    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.micro_batch import (
        run_available_now,
        stream_json_source,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.sessions import (
        stream_session_metrics,
    )

    src = tmp_path / "in"
    # user 1: events at t=0s (batch 1) and t=600s (batch 2) — within the
    # 30-min gap, so they MERGE across the batch boundary.
    # user 2: event at t=10000s — the max event; its session end
    # (10000 + 1800) exceeds the final watermark, so it must be held.
    _write_jsonl(src / "f1.jsonl", [{"user_id": 1, "ts_us": 0}])
    _write_jsonl(
        src / "f2.jsonl",
        [{"user_id": 1, "ts_us": 600_000_000}, {"user_id": 2, "ts_us": 10_000_000_000}],
    )
    t0 = _time.time()
    os.utime(src / "f1.jsonl", (t0, t0))
    os.utime(src / "f2.jsonl", (t0 + 10, t0 + 10))

    schema = T.StructType(
        [T.StructField("user_id", T.LongType()), T.StructField("ts_us", T.LongType())]
    )
    stream = stream_json_source(spark, str(src), schema, max_files_per_trigger=1)
    sessions = stream_session_metrics(
        stream.withColumn("ts", F.timestamp_micros("ts_us"))
    )
    out = str(tmp_path / "out")
    run_available_now(
        sessions,
        str(tmp_path / "ckpt"),
        lambda df, _bid: df.write.mode("append").parquet(out),
    )
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1  # user 2's open session held in state
    r = rows[0]
    assert r.user_id == 1 and r.n_events == 2
    assert (r.session_end_gap - r.session_start).total_seconds() == 600 + 1800


def test_stream_stream_interval_join_matches_within_window(spark, tmp_path):
    """Clicks joined to purchases arriving within 10 min; outside-
    window and wrong-key purchases never match (ST10)."""
    import json as _json

    from pyspark.sql import types as T

    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.joins import (
        stream_stream_interval_join,
    )

    clicks_dir, buys_dir = tmp_path / "clicks", tmp_path / "buys"
    clicks_dir.mkdir(), buys_dir.mkdir()
    (clicks_dir / "c.jsonl").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"uid": 1, "click_ts": "2024-01-01T10:00:00"},
                {"uid": 2, "click_ts": "2024-01-01T10:00:00"},
            ]
        )
    )
    (buys_dir / "b.jsonl").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"uid": 1, "buy_ts": "2024-01-01T10:05:00"},  # in window
                {"uid": 1, "buy_ts": "2024-01-01T10:20:00"},  # outside
                {"uid": 3, "buy_ts": "2024-01-01T10:01:00"},  # no such click
            ]
        )
    )
    cs = T.StructType(
        [T.StructField("uid", T.LongType()), T.StructField("click_ts", T.TimestampType())]
    )
    bs = T.StructType(
        [T.StructField("uid", T.LongType()), T.StructField("buy_ts", T.TimestampType())]
    )
    clicks = spark.readStream.schema(cs).json(str(clicks_dir))
    buys = spark.readStream.schema(bs).json(str(buys_dir))
    joined = stream_stream_interval_join(
        clicks, buys, on=["uid"], left_ts="click_ts", right_ts="buy_ts",
        watermark_delay="30 minutes", within_seconds=600,
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT uid, buy_ts FROM ss_join_test").collect()
    assert [(r.uid, r.buy_ts.minute) for r in rows] == [(1, 5)]


def test_stream_stream_join_requires_keys_and_bound(spark):
    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.joins import (
        stream_stream_interval_join,
    )

    df = spark.range(1)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        stream_stream_interval_join(df, df, [], "a", "b", "10 minutes", 60)
    with _pytest.raises(ValueError):
        stream_stream_interval_join(df, df, ["k"], "a", "b", "10 minutes", 0)


def test_dedup_within_watermark_bounded_state(spark, tmp_path):
    """Duplicate keys inside the watermark horizon are suppressed;
    the helper wires watermark + dropDuplicatesWithinWatermark so
    dedup state is evictable (vs dropDuplicates' forever-growing
    keys)."""
    import json as _json

    from pyspark.sql import types as T

    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.joins import (
        dedup_within_watermark,
    )

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.jsonl").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"k": "x", "ts": "2024-01-01T10:00:00", "v": 1},
                {"k": "x", "ts": "2024-01-01T10:00:30", "v": 2},  # dup, in horizon
                {"k": "y", "ts": "2024-01-01T10:01:00", "v": 3},
            ]
        )
    )
    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("v", T.LongType()),
        ]
    )
    stream = spark.readStream.schema(schema).json(str(src))
    out = dedup_within_watermark(stream, ["k"], "ts", "10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("wm_dedup_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r.k: r.v for r in spark.sql("SELECT k, v FROM wm_dedup_test").collect()}
    assert set(rows) == {"x", "y"}
    assert rows["x"] == 1  # first arrival won


def test_progress_capture_records_batch_metrics(spark, tmp_path):
    """The listener sees every micro-batch: total captured input rows
    == rows fed, and batch ids are distinct; detach always happens."""
    import json as _json
    import time as _time

    from pyspark.sql import types as T

    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.metrics import (
        capture_progress,
    )

    src = tmp_path / "in"
    src.mkdir()
    (src / "f1.jsonl").write_text(
        "\n".join(_json.dumps({"k": i}) for i in range(7))
    )
    (src / "f2.jsonl").write_text(
        "\n".join(_json.dumps({"k": i}) for i in range(5))
    )
    schema = T.StructType([T.StructField("k", T.LongType())])
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(str(src))
    )
    with capture_progress(spark) as cap:
        q = (
            stream.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # listener bus is async — give it a moment to drain
        deadline = _time.time() + 20
        while cap.total_input_rows() < 12 and _time.time() < deadline:
            _time.sleep(0.2)
    assert cap.total_input_rows() == 12
    data_batches = [b for b in cap.batches if b.num_input_rows > 0]
    assert len({b.batch_id for b in data_batches}) == len(data_batches) >= 2
    # detached: later queries must not be recorded
    n_before = len(cap.batches)
    df = spark.createDataFrame([(1,)], "k long")
    df.count()
    assert len(cap.batches) == n_before


def test_streaming_replace_merge_latest_wins_and_replay_safe(spark, tmp_path):
    """ST: replace-merge dimension maintenance from a stream — later
    batches overwrite matched keys, within-batch the newest row wins,
    and a checkpoint-restart replay is a no-op (batch guard)."""
    import json as _json
    import os as _os
    import time as _time

    from pyspark.sql import types as T

    from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
        ParquetUpsertTable,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.micro_batch import (
        replacing_dim_sink,
    )

    src = tmp_path / "in"
    src.mkdir()
    f1, f2 = src / "b1.jsonl", src / "b2.jsonl"
    f1.write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"sku": 1, "qty": 10, "v": 1},
                {"sku": 1, "qty": 99, "v": 2},  # newer within batch -> wins
                {"sku": 2, "qty": 5, "v": 1},
            ]
        )
    )
    f2.write_text(_json.dumps({"sku": 1, "qty": 42, "v": 3}))
    t0 = _time.time()
    _os.utime(f1, (t0, t0))
    _os.utime(f2, (t0 + 10, t0 + 10))

    schema = T.StructType(
        [
            T.StructField("sku", T.LongType()),
            T.StructField("qty", T.LongType()),
            T.StructField("v", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(str(src))
    )
    table = ParquetUpsertTable(spark, str(tmp_path / "dim"))
    replacing_dim_sink(stream, table, ("sku",), "v", str(tmp_path / "ck"))
    out = {r.sku: r.qty for r in table.read().collect()}
    assert out == {1: 42, 2: 5}  # batch2 replaced sku 1; in-batch latest won

    # replay with the same checkpoint: availableNow re-drain sees no new
    # files; simulate an at-least-once redelivery by re-running the sink
    # with a FRESH checkpoint but the same guard state — batches replay
    # with the same ids and must be skipped
    stream2 = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(str(src))
    )
    replacing_dim_sink(stream2, table, ("sku",), "v", str(tmp_path / "ck2"))
    out2 = {r.sku: r.qty for r in table.read().collect()}
    assert out2 == out
    versions_after = table.versions()
    assert len(versions_after) <= 2  # no extra snapshots from replays


def test_fresh_checkpoint_same_leaf_name_reprocesses(spark, tmp_path):
    """Batch ids are scoped to the checkpoint, so a NEW checkpoint dir
    (even with the same 'ckpt' leaf name) must get a fresh txn lane:
    reprocessing the same input through run2/ckpt must apply again, not
    silently no-op against run1/ckpt's recorded batch ids."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
        ParquetUpsertTable,
    )

    src = tmp_path / "in"
    _write_jsonl(src / "f1.jsonl", [{"customer_id": 1, "amount": 5.0}])
    schema = T.StructType(
        [
            T.StructField("customer_id", T.LongType()),
            T.StructField("amount", T.DoubleType()),
        ]
    )
    table = ParquetUpsertTable(spark, str(tmp_path / "kpi"))

    def agg(df):
        return df.groupBy("customer_id").agg(F.sum("amount").alias("n"))

    def run(ckpt_base):
        stream = spark.readStream.schema(schema).json(str(src))
        accumulating_kpi_sink(
            stream, table, ("customer_id",), ("n",), agg,
            str(tmp_path / ckpt_base / "ckpt"),
        )

    run("run1")
    assert {r.customer_id: r.n for r in table.read().collect()} == {1: 5.0}
    # same leaf name 'ckpt', DIFFERENT checkpoint -> fresh stream,
    # batch ids restart at 0, and the add must APPLY (total doubles)
    run("run2")
    assert {r.customer_id: r.n for r in table.read().collect()} == {1: 10.0}
    # replay over run2's checkpoint stays a no-op
    run("run2")
    assert {r.customer_id: r.n for r in table.read().collect()} == {1: 10.0}


def test_incremental_dedup_sink_replay_and_crash_safety(spark, tmp_path):
    """ST14 semantics: (1) the streamed pair-set union equals the batch
    `minhash_lsh_dedup` over the whole corpus; (2) re-running over the
    same checkpoint is a no-op; (3) a crash AFTER the index append but
    BEFORE the pairs merge (simulated by pre-appending a batch's
    buckets) replays without self-pairs or duplicates — the anti-join
    + duplicate-tolerant-append design."""
    import json as _json

    from group_2_shopware_enterprise_data_engineering_project_spark.operators import minhash
    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.micro_batch import (
        incremental_dedup_sink,
    )

    docs_rows = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "the quick brown fox jumps over the lazy dog today"),
        (3, "completely unrelated text about spark execution plans"),
        (4, "the quick brown fox jumps over the lazy dog tonight"),
    ]
    docs = spark.createDataFrame(docs_rows, "doc_id long, text string")
    expected = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash.minhash_lsh_dedup(docs, threshold=0.4).collect()
    }
    assert expected, "fixture must contain near-dup pairs"

    src = tmp_path / "in"
    src.mkdir()
    # two batches: docs {1,3} then docs {2,4}
    for name, ids in (("b0.json", (1, 3)), ("b1.json", (2, 4))):
        with open(src / name, "w") as f:
            for i, t in docs_rows:
                if i in ids:
                    f.write(_json.dumps({"doc_id": i, "text": t}) + "\n")

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    index_table = ParquetUpsertTable(spark, str(tmp_path / "index"))
    pairs_table = ParquetUpsertTable(spark, str(tmp_path / "pairs"))
    # simulate the crash window: batch b0's buckets already landed in
    # the index, but its pairs never committed
    index_table.append(minhash.bucket_index(docs.filter(F.col("doc_id").isin(1, 3))))

    def run():
        # one file per trigger — the cross-corpus index-probe path only
        # exists when the two files land in SEPARATE micro-batches
        incremental_dedup_sink(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .json(str(src)),
            docs,
            index_table,
            pairs_table,
            str(tmp_path / "ckpt"),
            threshold=0.4,
        )

    run()
    rows = pairs_table.read().collect()
    got = {(r.doc_a, r.doc_b): r.jaccard for r in rows}
    assert got == expected
    # no self-pairs despite the pre-seeded index
    assert all(a != b for a, b in got)
    # the cross-corpus index-probe path actually ran: docs 1 (batch 0)
    # and 4 (batch 1) are identical, so their pair must be flagged as
    # found against the EXISTING index, not the within-batch self-join
    flags = {(r.doc_a, r.doc_b): r.vs_existing for r in rows}
    assert flags[(1, 4)] == 1
    # replay over the same checkpoint: no-op
    run()
    assert {
        (r.doc_a, r.doc_b): r.jaccard for r in pairs_table.read().collect()
    } == expected


def test_running_user_stats_distinct_across_batches(spark, tmp_path):
    """The distinct-type set must accumulate ACROSS micro-batches (the
    part native streaming aggregation can't express), and the cents
    accumulator must be exact."""
    import json

    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.micro_batch import (
        run_available_now,
        stream_json_source,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.stateful import (
        running_user_stats,
    )

    src = tmp_path / "src"
    src.mkdir()
    batches = [
        [{"user_id": 1, "event_id": 1, "event_type": "click", "value": 0.1},
         {"user_id": 1, "event_id": 2, "event_type": "click", "value": 0.2}],
        # same type again (no growth) plus a NEW type, null value
        [{"user_id": 1, "event_id": 3, "event_type": "click", "value": 0.3},
         {"user_id": 1, "event_id": 4, "event_type": "view", "value": None}],
    ]
    for i, rows in enumerate(batches):
        p = src / f"b{i}.json"
        p.write_text("\n".join(json.dumps(r) for r in rows))
        os.utime(p, (p.stat().st_mtime + 10 * i,) * 2)

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    emitted = []
    run_available_now(
        running_user_stats(
            stream_json_source(spark, str(src), schema, max_files_per_trigger=1)
        ),
        str(tmp_path / "ckpt"),
        lambda df, bid: emitted.append((bid, df.collect())),
        output_mode="update",
    )
    rows_by_batch = {bid: rows for bid, rows in emitted if rows}
    r0, r1 = rows_by_batch[0][0], rows_by_batch[1][0]
    assert (r0.n_events, r0.n_types, r0.total_value) == (2, 1, 0.3)
    # 0.1+0.2+0.3 as floats is NOT 0.6; exact cents make it exact
    assert (r1.n_events, r1.n_types, r1.total_value) == (4, 2, 0.6)


def test_late_rows_drop_only_after_window_emitted(spark, tmp_path):
    """Pins the watermark semantics st19's oracle depends on: the late
    filter uses the PREVIOUS trigger's watermark while eviction uses
    the current one, so a late row is dropped iff its window was
    already emitted by an EARLIER batch (window_end <= w1 where w1 =
    max(first batch ts) - delay) — not merely iff it is behind the
    current watermark. A Spark upgrade changing either side of that
    asymmetry must fail here before it silently flips st19's oracle.
    """
    src, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    os.makedirs(src)
    hour = 3600_000_000

    def write(name, hours, off, bump=0):
        p = os.path.join(src, name)
        with open(p, "w") as f:
            for h in hours:
                f.write(json.dumps({"k": 1, "ts_us": h * hour + 1000 + bump}) + "\n")
        t = os.path.getmtime(p)
        os.utime(p, (t + off, t + off))

    write("b0.json", range(5), 0)            # max = 4h -> w1 = 3h
    write("b1.json", range(5, 10), 10)
    write("b2.json", range(6), 20, bump=1)   # late rows at hours 0..5

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("ts_us", T.LongType())]
    )
    stream = (
        stream_json_source(spark, src, schema)
        .withColumn("ts", F.timestamp_micros("ts_us"))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "n")
    )
    acc = []
    sink = lambda df, _b: acc.extend((r.ws.hour, r.n) for r in df.collect())  # noqa: E731
    run_available_now(stream, ckpt, sink)
    write("zz.json", [100], 30)
    run_available_now(stream, ckpt, sink)

    got = dict(sorted(acc))
    # windows 0-2 closed by b1's watermark (end <= 3h): late copies
    # dropped; windows 3-5 still open when b2 arrived: late accepted
    assert got == {0: 1, 1: 1, 2: 1, 3: 2, 4: 2, 5: 2, 6: 1, 7: 1, 8: 1, 9: 1}


def test_streaming_ann_index_is_fresh_after_each_batch(spark, tmp_path):
    """The property st20 sells: a vector is searchable as soon as its
    micro-batch commits — the index table holds exactly the vectors of
    the batches drained so far, with buckets equal to the batch
    derivation."""
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import similarity
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
        ParquetUpsertTable,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.micro_batch import (
        replacing_dim_sink,
    )

    src, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    os.makedirs(src)
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    planes = similarity.hyperplane_signs(similarity.NUM_PLANES)

    def _stage(b, ids):
        stage = str(tmp_path / f"s{b}")
        emb.filter(F.col("vec_id").isin(ids)).repartition(1).write.mode(
            "overwrite"
        ).parquet(stage)
        part = next(n for n in os.listdir(stage) if n.endswith(".parquet"))
        dest = os.path.join(src, f"b{b}.parquet")
        os.rename(os.path.join(stage, part), dest)
        t = os.path.getmtime(dest)
        os.utime(dest, (t + 10 * b, t + 10 * b))

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn(
            "bucket",
            similarity.lsh_bucket(similarity._as_double(F.col("embedding")), planes),
        )
    )
    index = ParquetUpsertTable(spark, str(tmp_path / "idx"))

    _stage(0, list(range(10)))
    replacing_dim_sink(stream, index, ("vec_id",), "vec_id", ckpt)
    assert sorted(r.vec_id for r in index.read().collect()) == list(range(10))

    _stage(1, list(range(10, 20)))
    replacing_dim_sink(stream, index, ("vec_id",), "vec_id", ckpt)
    got = index.read()
    assert sorted(r.vec_id for r in got.collect()) == list(range(20))
    # stored buckets equal the batch derivation over the same vectors
    want = emb.select(
        "vec_id",
        similarity.lsh_bucket(similarity._as_double(F.col("embedding")), planes).alias(
            "bucket"
        ),
    )
    assert {(r.vec_id, r.bucket) for r in got.select("vec_id", "bucket").collect()} == {
        (r.vec_id, r.bucket) for r in want.collect()
    }


def test_state_shuffle_partitions_sizing(spark):
    """Scale-adaptive stateful-shuffle sizing: floor for tiny inputs,
    linear in bytes, capped at the session default (the cap is what
    makes the rule a no-op at cluster scale)."""
    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.micro_batch import (
        state_shuffle_partitions,
    )

    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert state_shuffle_partitions(spark, 0) == min(default, 4)
    assert state_shuffle_partitions(spark, 1) == min(default, 4)
    # 10 * target -> 10 partitions (unless the session default is lower)
    assert state_shuffle_partitions(spark, 10 * (2 << 20)) == min(default, 10)
    # huge input -> capped at the deployment default, never above
    assert state_shuffle_partitions(spark, 1 << 50) == default


def test_run_available_now_scopes_state_partitions(spark, tmp_path):
    """state_partitions overrides spark.sql.shuffle.partitions ONLY for
    the duration of the run (restored even though the stream's own
    checkpoint pins its value), and the stateful plan actually runs
    with the scoped count (observed via the batch frames)."""
    src_dir = tmp_path / "in"
    _write_jsonl(src_dir / "f1.jsonl", _crm_rows(3))

    before = spark.conf.get("spark.sql.shuffle.partitions")
    seen: list[int] = []

    def sink(df, _bid):
        seen.append(int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")))

    stream = stream_json_source(spark, str(src_dir), CRM_INTERACTION_SCHEMA)
    run_available_now(
        stream, str(tmp_path / "ckpt"), sink, state_partitions=3
    )
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert seen and all(n == 3 for n in seen)


def test_scoped_state_partitions_serialize_across_threads(spark, tmp_path):
    """Two overlapping scoped runs from different driver threads must
    never leave the session default drifted (the shared-session
    concurrent-harness hazard: each capturing the other's override as
    its restore value)."""
    from concurrent.futures import ThreadPoolExecutor

    src_dir = tmp_path / "in"
    _write_jsonl(src_dir / "f1.jsonl", _crm_rows(3))
    before = spark.conf.get("spark.sql.shuffle.partitions")

    def run(i):
        stream = stream_json_source(spark, str(src_dir), CRM_INTERACTION_SCHEMA)
        run_available_now(
            stream,
            str(tmp_path / f"ckpt{i}"),
            lambda df, _bid: df.count(),
            state_partitions=2 + i,
        )

    with ThreadPoolExecutor(max_workers=3) as pool:
        list(pool.map(run, range(3)))
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
