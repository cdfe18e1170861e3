"""Structured Streaming tests: file source → memory sink, driven to
completion with processAllAvailable, compared against the batch
equivalents (the oracle strategy for non-SQL-expressible operators,
SURVEY.md §7 phase 3)."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mapreduce_citation_spark.sources.readers import load_table
from mapreduce_citation_spark.streaming.events import (
    EVENTS_SCHEMA,
    dedup_within_watermark,
    read_event_stream,
    running_user_counts,
    session_counts,
    windowed_counts,
)


def _dump_events(df, path, n_files=3):
    """Write events as n_files JSON files → n micro-batches."""
    pdf = df.toPandas().sort_values("ts").reset_index(drop=True)
    chunk = (len(pdf) + n_files - 1) // n_files
    path.mkdir(parents=True, exist_ok=True)
    for i in range(n_files):
        part = pdf.iloc[i * chunk : (i + 1) * chunk]
        with open(path / f"part-{i}.json", "w") as f:
            for _, r in part.iterrows():
                f.write(
                    json.dumps(
                        {
                            "event_id": int(r.event_id),
                            "ts": pd.Timestamp(r.ts).isoformat(),
                            "user_id": int(r.user_id),
                            "event_type": r.event_type,
                            "value": str(r.value),
                            "props": r.props,
                        }
                    )
                    + "\n"
                )
    return str(path)


@pytest.fixture(scope="module")
def stream_dir(spark, sf_dir, tmp_path_factory):
    events = load_table(spark, sf_dir, "events").limit(300)
    return _dump_events(events, tmp_path_factory.mktemp("events_stream"))


def _run(spark, df, name, mode):
    q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def test_windowed_counts_match_batch(spark, stream_dir):
    stream = read_event_stream(spark, stream_dir)
    got = _run(spark, windowed_counts(stream), "wc_out", "complete")
    batch = spark.read.schema(EVENTS_SCHEMA).json(stream_dir)
    want = windowed_counts(batch)
    g = {(r["window_start"], r["event_type"]): r["n"] for r in got.collect()}
    w = {(r["window_start"], r["event_type"]): r["n"] for r in want.collect()}
    assert g == w and len(g) > 0


def test_dedup_within_watermark_drops_duplicates(spark, tmp_path):
    rows = [
        {"event_id": 1, "ts": "2024-01-01T10:00:00", "user_id": 1,
         "event_type": "click", "value": "1.0", "props": "{}"},
        {"event_id": 1, "ts": "2024-01-01T10:05:00", "user_id": 1,
         "event_type": "click", "value": "1.0", "props": "{}"},  # dup id
        {"event_id": 2, "ts": "2024-01-01T10:10:00", "user_id": 1,
         "event_type": "view", "value": "2.0", "props": "{}"},
    ]
    d = tmp_path / "dup_stream"
    d.mkdir()
    (d / "f0.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = read_event_stream(spark, str(d))
    got = _run(spark, dedup_within_watermark(stream), "dd_out", "append")
    ids = sorted(r["event_id"] for r in got.collect())
    assert ids == [1, 2]


def test_session_counts_stream_equals_batch(spark, stream_dir):
    stream = read_event_stream(spark, stream_dir)
    got = _run(spark, session_counts(stream), "sess_out", "complete")
    batch = spark.read.schema(EVENTS_SCHEMA).json(stream_dir)
    want = session_counts(batch)
    key = lambda r: (r["user_id"], r["session_start"], r["n_events"])  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))


def test_running_user_counts_stateful(spark, stream_dir):
    stream = read_event_stream(spark, stream_dir)
    got = _run(spark, running_user_counts(stream), "run_out", "update")
    # last update per user == total event count for that user
    final = (
        got.groupBy("user_id").agg(F.max("n_events").alias("n")).collect()
    )
    batch = spark.read.schema(EVENTS_SCHEMA).json(stream_dir)
    want = {
        r["user_id"]: r["n"]
        for r in batch.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert {r["user_id"]: r["n"] for r in final} == want


def test_foreach_batch_parquet_sink_checkpoint_resume(spark, stream_dir, tmp_path):
    """foreachBatch parquet sink: all input lands exactly once, and a
    restart from the same checkpoint re-processes nothing."""
    from mapreduce_citation_spark.streaming.events import run_to_parquet_sink

    out = str(tmp_path / "sink_out")
    ckpt = str(tmp_path / "sink_ckpt")
    stream = read_event_stream(spark, stream_dir)
    run_to_parquet_sink(dedup_within_watermark(stream), out, ckpt)
    n1 = spark.read.parquet(out).count()
    batch = spark.read.schema(EVENTS_SCHEMA).json(stream_dir)
    assert n1 == batch.select("event_id").distinct().count()
    # second run, same checkpoint, no new files → nothing re-emitted
    run_to_parquet_sink(dedup_within_watermark(read_event_stream(spark, stream_dir)), out, ckpt)
    assert spark.read.parquet(out).count() == n1


def test_foreach_batch_parquet_sink_epoch_replay_idempotent(spark, stream_dir, tmp_path):
    """Crash-recovery idempotence: foreachBatch is at-least-once, so a
    crash after the parquet write but before the checkpoint commit
    REPLAYS the epoch. Simulate the replay by re-writing an epoch that
    already landed — the epoch-keyed overwrite must replace, not
    append, leaving the row count unchanged."""
    from mapreduce_citation_spark.streaming.events import (
        run_to_parquet_sink,
        write_epoch,
    )

    out = str(tmp_path / "sink_out")
    ckpt = str(tmp_path / "sink_ckpt")
    run_to_parquet_sink(
        dedup_within_watermark(read_event_stream(spark, stream_dir)), out, ckpt
    )
    n1 = spark.read.parquet(out).count()
    epochs = [r["epoch_id"] for r in spark.read.parquet(out).select("epoch_id").distinct().collect()]
    replay_epoch = min(epochs)
    replay_src = spark.read.parquet(out).filter(
        F.col("epoch_id") == replay_epoch
    ).drop("epoch_id")
    # materialize before overwriting the directory it reads from
    replay_df = spark.createDataFrame(replay_src.collect(), replay_src.schema)
    write_epoch(replay_df, replay_epoch, out)  # the post-crash second delivery
    assert spark.read.parquet(out).count() == n1


def test_stream_stream_funnel_join_matches_batch(spark, stream_dir):
    """Watermarked stream-stream join (the operator the reference's
    batch-only design can't express) equals the batch funnel join on
    fully-arrived data."""
    from mapreduce_citation_spark.streaming.events import funnel_join

    stream = read_event_stream(spark, stream_dir)
    views = stream.filter(F.col("event_type") == "view").withWatermark(
        "ts", "2 hours"
    )
    purchases = stream.filter(F.col("event_type") == "purchase").withWatermark(
        "ts", "2 hours"
    )
    got = _run(spark, funnel_join(views, purchases), "funnel_out", "append")
    batch = spark.read.schema(EVENTS_SCHEMA).json(stream_dir)
    want = funnel_join(
        batch.filter(F.col("event_type") == "view"),
        batch.filter(F.col("event_type") == "purchase"),
    )
    key = lambda r: (r["user_id"], r["view_id"], r["purchase_id"])  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))


def test_sessions_close_on_processing_timeout(spark, tmp_path):
    """Idle users' sessions are emitted by the timeout path (absence
    of data drives emission — inexpressible as a windowed agg)."""
    import time

    from mapreduce_citation_spark.streaming.events import sessions_with_timeout

    d = tmp_path / "timeout_stream"
    d.mkdir()
    mk = lambda eid, uid, ts: json.dumps(  # noqa: E731
        {"event_id": eid, "ts": ts, "user_id": uid, "event_type": "click",
         "value": "1.0", "props": "{}"}
    )
    (d / "f0.json").write_text(
        "\n".join([mk(1, 1, "2024-01-01T10:00:00"), mk(2, 1, "2024-01-01T10:01:00"),
                   mk(3, 2, "2024-01-01T10:00:30")])
    )
    stream = read_event_stream(spark, str(d))
    q = (
        sessions_with_timeout(stream, timeout_ms=700)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("timeout_out")
        .trigger(processingTime="400 milliseconds")
        .start()
    )
    try:
        # first batch ingests events; subsequent empty triggers fire the
        # processing-time timeout and flush the sessions
        deadline = time.time() + 30
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM timeout_out").collect()
            if len(rows) >= 2:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    got = {r["user_id"]: (r["n_events"], r["closed_by"]) for r in rows}
    assert got == {1: (2, "timeout"), 2: (1, "timeout")}


def test_append_mode_exactly_once_under_late_data(spark, tmp_path):
    """The guarantee append mode + watermark actually gives (verified
    against this Spark version): each window key is emitted AT MOST
    ONCE, no matter how late data arrives. (The classic "too-late rows
    are dropped" is explicitly best-effort in Spark and does NOT hold
    here — a 4-h-late row can still be aggregated if its window's
    state hasn't been flushed yet. Watermark's hard job is bounding
    state and emission-once, which is what we pin.)"""
    d = tmp_path / "late_stream"
    d.mkdir()
    mk = lambda eid, ts: json.dumps(  # noqa: E731
        {"event_id": eid, "ts": ts, "user_id": 1, "event_type": "click",
         "value": "1.0", "props": "{}"}
    )
    import time

    # distinct mtimes pin micro-batch order: f0 → f1 → f2(late)
    for name, row in [
        ("f0.json", mk(1, "2024-01-01T10:00:00")),
        ("f1.json", mk(2, "2024-01-01T14:00:00")),
        ("f2.json", mk(3, "2024-01-01T10:30:00")),  # late into 10:00 window
    ]:
        (d / name).write_text(row)
        time.sleep(1.1)
    stream = read_event_stream(spark, str(d))
    got = _run(spark, windowed_counts(stream), "late_out", "append").collect()
    keys = [str(r["window_start"]) for r in got]
    assert len(keys) == len(set(keys)), f"window emitted twice: {got}"
    ten = [r for r in got if str(r["window_start"]) == "2024-01-01 10:00:00"]
    assert len(ten) == 1  # emitted exactly once (with 1 or 2 rows counted,
    # depending on whether the late row beat the state flush — both allowed)


def test_registered_streaming_query_repeatable_in_one_session(spark):
    """The driver may invoke a registered query several times on one
    session (entry smoke + correctness pass): the memory-sink names
    must not collide and each run must return the same result."""
    from mapreduce_citation_spark.operators.streaming_queries import (
        streaming_tumbling_counts,
    )

    sf_dir = "/root/testdata/sf0.001"
    a = sorted(
        (r["window_start"], r["event_type"], r["n"])
        for r in streaming_tumbling_counts(spark, sf_dir).collect()
    )
    b = sorted(
        (r["window_start"], r["event_type"], r["n"])
        for r in streaming_tumbling_counts(spark, sf_dir).collect()
    )
    assert a and a == b


def test_streaming_dedup_watermark_does_work(spark, sf_dir):
    """The driver-visible streaming dedup plants 1 + (event_id % 2)
    copies per event; the drained sink must equal the distinct batch
    set — i.e. the stateful operator dropped the planted surplus, not
    merely passed rows through."""
    from mapreduce_citation_spark.operators.streaming_queries import (
        streaming_dedup_watermark,
    )
    from mapreduce_citation_spark.sources.readers import load_table

    out = streaming_dedup_watermark(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    n_events = ev.count()
    n_planted = ev.selectExpr(
        "sum(1 + CAST(event_id % 2 AS INT)) AS n"
    ).collect()[0]["n"]
    assert n_planted > n_events  # the stream really saw duplicates
    assert out.count() == n_events
    assert out.select("event_id").distinct().count() == n_events


def test_kafka_shim_plumbing_semantics(spark, tmp_path):
    """The file-backed topic must honor kafka's contract: per-key
    partition co-location, contiguous per-partition offsets from 0,
    byte-faithful value round-trip, and stream == batch view."""
    from pyspark.sql import functions as F

    from mapreduce_citation_spark.sources.kafka_shim import (
        read_topic_batch,
        write_topic,
    )

    records = spark.range(0, 200).selectExpr(
        "id % 17 AS user_id",
        "concat('payload-', id) AS payload",
        "timestamp_micros(CAST(1704067200000000 + id * 1000000 AS LONG)) AS ts",
    )
    write_topic(
        records, str(tmp_path), "t", key_col="user_id",
        value_col="payload", ts_col="ts", n_partitions=4,
    )
    got = read_topic_batch(spark, str(tmp_path), "t")
    assert got.count() == 200
    # keys co-locate: every key maps to exactly one partition
    assert (
        got.select(F.col("key").cast("string").alias("k"), "partition")
        .groupBy("k")
        .agg(F.count_distinct("partition").alias("np"))
        .filter("np != 1")
        .count()
        == 0
    )
    # offsets contiguous per partition: max == count - 1, min == 0
    offs = (
        got.groupBy("partition")
        .agg(
            F.min("offset").alias("lo"),
            F.max("offset").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    for r in offs:
        assert r["lo"] == 0 and r["hi"] == r["n"] - 1
    # value bytes faithful
    vals = {
        r["v"]
        for r in got.select(F.col("value").cast("string").alias("v")).collect()
    }
    assert vals == {f"payload-{i}" for i in range(200)}
    # second produce into the SAME topic: offsets must continue from
    # each partition's max, not restart at 0 (monotone-offset contract)
    more = spark.range(200, 260).selectExpr(
        "id % 17 AS user_id",
        "concat('payload-', id) AS payload",
        "timestamp_micros(CAST(1704067200000000 + id * 1000000 AS LONG)) AS ts",
    )
    write_topic(
        more, str(tmp_path), "t", key_col="user_id",
        value_col="payload", ts_col="ts", n_partitions=4,
    )
    got2 = read_topic_batch(spark, str(tmp_path), "t")
    assert got2.count() == 260
    # still contiguous 0..n-1 per partition, and no duplicate offsets
    offs2 = (
        got2.groupBy("partition")
        .agg(
            F.min("offset").alias("lo"),
            F.max("offset").alias("hi"),
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("offset").alias("nd"),
        )
        .collect()
    )
    for r in offs2:
        assert r["lo"] == 0 and r["hi"] == r["n"] - 1 and r["nd"] == r["n"]


def test_stateful_agg_under_rocksdb_state_store(spark, tmp_path):
    """The RocksDB state-store provider (the at-scale choice: state
    spills to disk instead of living on the executor heap) is bundled
    in Spark — run the tumbling aggregation under it and require (a)
    rocksdb metrics in the query progress, i.e. the provider really
    engaged, and (b) the same final state as the default provider."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    spark.range(0, 500).selectExpr(
        "id",
        "timestamp_micros(CAST(1704067200000000 + id * 60000000 AS LONG)) AS ts",
        "CAST(id % 5 AS STRING) AS k",
    ).write.json(src)

    def run(provider_conf: str | None, sink: str):
        old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        if provider_conf:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", provider_conf
            )
        try:
            ev = spark.readStream.schema("id long, ts timestamp, k string").json(src)
            agg = (
                ev.withWatermark("ts", "10 minutes")
                .groupBy(F.window("ts", "1 hour"), "k")
                .agg(F.count(F.lit(1)).alias("n"))
                .select(F.col("window.start").alias("ws"), "k", "n")
            )
            q = (
                agg.writeStream.outputMode("complete")
                .format("memory")
                .queryName(sink)
                .option("checkpointLocation", str(tmp_path / ("ckpt_" + sink)))
                .start()
            )
            try:
                q.processAllAvailable()
                progress = q.lastProgress
            finally:
                q.stop()
            rows = sorted(
                (str(r["ws"]), r["k"], r["n"]) for r in spark.table(sink).collect()
            )
            return rows, progress
        finally:
            if provider_conf:
                if old is None:
                    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
                else:
                    spark.conf.set(
                        "spark.sql.streaming.stateStore.providerClass", old
                    )

    rocks_rows, rocks_prog = run(
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "rocks_sink",
    )
    plain_rows, _ = run(None, "plain_sink")
    metrics = rocks_prog["stateOperators"][0].get("customMetrics", {})
    assert any("rocksdb" in k.lower() for k in metrics), metrics
    assert rocks_rows == plain_rows and len(rocks_rows) > 0


def test_dedup_state_survives_restart(spark, tmp_path):
    """Checkpointed dropDuplicatesWithinWatermark state must survive a
    stop/start: a duplicate id arriving in a NEW run of the query
    (within the watermark horizon) is still dropped, because the keyed
    state was recovered from the checkpoint, not rebuilt."""
    import json as _json

    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def write_batch(path, rows):
        with open(path, "w") as fh:
            for r in rows:
                fh.write(_json.dumps(r) + "\n")

    def ts(minutes):
        return f"2024-01-01T{minutes // 60:02d}:{minutes % 60:02d}:00.000Z"

    schema = "event_id long, ts timestamp, user_id long"
    out_dir = str(tmp_path / "out")

    def run_until_drained(_run_tag):
        # memory sinks can't recover a checkpoint; a file sink can —
        # each run appends only the NEW deduped rows to out_dir
        ev = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        deduped = ev.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        q = (
            deduped.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return {r["event_id"] for r in spark.read.parquet(out_dir).collect()}

    # run 1: ids 1..5 (id 3 duplicated in-batch)
    write_batch(
        src / "b1.json",
        [{"event_id": i, "ts": ts(i), "user_id": i} for i in [1, 2, 3, 3, 4, 5]],
    )
    got1 = run_until_drained("dedup_restart_a")
    assert got1 == {1, 2, 3, 4, 5}

    # run 2 (fresh query, SAME checkpoint): ids 3,4 re-sent within the
    # watermark horizon plus new ids 6,7 — the re-sends must be dropped
    # by RECOVERED state
    write_batch(
        src / "b2.json",
        [{"event_id": i, "ts": ts(10 + i), "user_id": i} for i in [3, 4, 6, 7]],
    )
    got2 = run_until_drained("dedup_restart_b")
    assert got2 == {1, 2, 3, 4, 5, 6, 7}, got2  # ids 3,4 NOT re-emitted


def _write_jsonl(path, rows):
    import json as _json

    with open(path, "w") as fh:
        for r in rows:
            fh.write(_json.dumps(r) + "\n")


def test_session_window_state_survives_restart(spark, tmp_path):
    """Checkpointed session-window state must survive a stop/start: an
    event arriving in a NEW run of the query within the session gap
    must MERGE into the session opened by the previous run (one final
    session, not two fragments) — i.e. the open-session state was
    recovered from the checkpoint, not rebuilt."""
    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    schema = "event_id long, ts timestamp, user_id long"

    def ts(minutes):
        return f"2024-01-01T{minutes // 60:02d}:{minutes % 60:02d}:00.000Z"

    def run_until_drained():
        ev = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        sessions = (
            ev.withWatermark("ts", "1 hour")
            .groupBy(
                F.session_window("ts", "10 minutes").alias("w"), "user_id"
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id", "w.start", "w.end", "n_events")
        )
        q = (
            sessions.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    # run 1: user 1 events at 0m and 5m — ONE open session [0, 15m),
    # not yet emitted (watermark hasn't passed its end)
    _write_jsonl(
        src / "b1.json",
        [
            {"event_id": 1, "ts": ts(0), "user_id": 1},
            {"event_id": 2, "ts": ts(5), "user_id": 1},
        ],
    )
    run_until_drained()

    # run 2 (fresh query, SAME checkpoint): 12m extends the recovered
    # open session (within the 10m gap of its [.., 15m) end); the
    # 10h event advances the watermark far enough to close + emit it
    _write_jsonl(
        src / "b2.json",
        [
            {"event_id": 3, "ts": ts(12), "user_id": 1},
            {"event_id": 99, "ts": ts(600), "user_id": 2},
        ],
    )
    run_until_drained()

    rows = {
        (r["user_id"], r["start"].isoformat(), r["end"].isoformat(), r["n_events"])
        for r in spark.read.parquet(out_dir).collect()
    }
    # exactly ONE user-1 session covering all three events — a lost
    # checkpoint would have produced two fragments (n=2 and n=1)
    assert rows == {
        (1, "2024-01-01T00:00:00", "2024-01-01T00:22:00", 3)
    }, rows


def test_stream_stream_join_state_survives_restart(spark, tmp_path):
    """Checkpointed stream-stream-join buffers must survive a
    stop/start: a view buffered in run 1 must still match a purchase
    that only arrives in run 2 (same checkpoint) — the join emits from
    RECOVERED buffered state."""
    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    schema = "event_id long, ts timestamp, user_id long, event_type string"

    def ts(minutes):
        return f"2024-01-01T{minutes // 60:02d}:{minutes % 60:02d}:00.000Z"

    def run_until_drained():
        ev = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        views = (
            ev.filter(F.col("event_type") == "view")
            .select(
                F.col("event_id").alias("view_id"),
                F.col("user_id"),
                F.col("ts").alias("view_ts"),
            )
            .withWatermark("view_ts", "2 hours")
        )
        purchases = (
            ev.filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user_id"),
                F.col("ts").alias("purchase_ts"),
            )
            .withWatermark("purchase_ts", "2 hours")
        )
        joined = views.join(
            purchases,
            (views.user_id == purchases.p_user_id)
            & (purchases.purchase_ts >= views.view_ts)
            & (purchases.purchase_ts < views.view_ts + F.expr("INTERVAL 1 HOUR")),
        ).select("user_id", "view_id", "purchase_id")
        q = (
            joined.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    # run 1: a view with no purchase yet — joined output is empty, the
    # view is buffered in join state
    _write_jsonl(
        src / "b1.json",
        [{"event_id": 1, "ts": ts(0), "user_id": 7, "event_type": "view"}],
    )
    run_until_drained()
    import os as _os

    emitted1 = (
        spark.read.parquet(out_dir).count()
        if _os.path.exists(_os.path.join(out_dir, "_spark_metadata"))
        else 0
    )
    assert emitted1 == 0

    # run 2 (SAME checkpoint): the matching purchase arrives 5m after
    # the buffered view — must join against recovered state
    _write_jsonl(
        src / "b2.json",
        [{"event_id": 2, "ts": ts(5), "user_id": 7, "event_type": "purchase"}],
    )
    run_until_drained()
    rows = {
        (r["user_id"], r["view_id"], r["purchase_id"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert rows == {(7, 1, 2)}, rows


def test_latest_event_state_equals_batch_compaction(spark, stream_dir):
    """Live latest-wins CDC state must reduce to the batch window
    compaction: for every user, the final emitted winner equals the
    (ts desc, event_id desc) top-1 of the fully-arrived data."""
    from mapreduce_citation_spark.streaming.events import latest_event_state

    stream = read_event_stream(spark, stream_dir)
    got = _run(
        spark,
        latest_event_state(
            stream.select("user_id", "ts", "event_id", "event_type")
        ),
        "cdc_out",
        "update",
    )
    # last update per user is the global winner (state is monotone)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("last_ts").desc(), F.col("last_event_id").desc()
    )
    final = {
        (r["user_id"]): (r["last_event_id"], r["last_ts"], r["last_type"])
        for r in got.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    batch = spark.read.schema(EVENTS_SCHEMA).json(stream_dir)
    wb = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    want = {
        r["user_id"]: (r["event_id"], r["ts"], r["event_type"])
        for r in batch.withColumn("rn", F.row_number().over(wb))
        .filter("rn = 1")
        .collect()
    }
    assert final == want and len(final) > 0


def test_cdc_compaction_state_survives_restart(spark, tmp_path):
    """applyInPandasWithState CDC state must survive a stop/start: a
    STALE event arriving in a new run of the query still emits the
    winner recovered from the checkpoint (not the stale record), and
    a genuinely newer event replaces it."""
    import json as _json

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    schema = "event_id long, ts timestamp, user_id long, event_type string"

    def write_batch(path, rows):
        with open(path, "w") as fh:
            for r in rows:
                fh.write(_json.dumps(r) + "\n")

    def run_until_drained():
        from mapreduce_citation_spark.streaming.events import (
            latest_event_state,
        )

        ev = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
            .select("user_id", "ts", "event_id", "event_type")
        )
        updates = latest_event_state(ev)

        def sink(df, _epoch):
            df.write.mode("append").parquet(out)

        q = (
            updates.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    write_batch(
        src / "b1.json",
        [
            {"event_id": 10, "ts": "2024-01-01T10:00:00.000Z",
             "user_id": 1, "event_type": "view"},
            {"event_id": 20, "ts": "2024-01-01T10:00:00.000Z",
             "user_id": 2, "event_type": "view"},
        ],
    )
    run_until_drained()
    run1 = {
        (r["user_id"], r["last_event_id"])
        for r in spark.read.parquet(out).collect()
    }
    assert run1 == {(1, 10), (2, 20)}

    # run 2: stale event for user 1, newer event for user 2
    write_batch(
        src / "b2.json",
        [
            {"event_id": 5, "ts": "2024-01-01T09:00:00.000Z",
             "user_id": 1, "event_type": "stale"},
            {"event_id": 21, "ts": "2024-01-01T11:00:00.000Z",
             "user_id": 2, "event_type": "purchase"},
        ],
    )
    run_until_drained()
    all_rows = sorted(
        (r["user_id"], r["last_event_id"], r["last_type"])
        for r in spark.read.parquet(out).collect()
    )
    # user 1: run 2 re-emits the winner RECOVERED from checkpointed
    # state (id 10), never the stale record (id 5); user 2: the newer
    # event replaces the run-1 winner.
    assert all_rows == [
        (1, 10, "view"), (1, 10, "view"),
        (2, 20, "view"), (2, 21, "purchase"),
    ]


def test_streaming_quality_gate_matches_batch(spark, sf_dir):
    """The live quality-gate aggregation must equal the batch gate's
    (source, n_docs, n_keep) projection — same shared predicates."""
    from mapreduce_citation_spark.operators.streaming_queries import (
        streaming_quality_gate_counts,
    )
    from mapreduce_citation_spark.operators.text import corpus_quality_gate

    got = {
        r["source"]: (r["n_docs"], r["n_keep"])
        for r in streaming_quality_gate_counts(spark, sf_dir).collect()
    }
    want = {
        r["source"]: (r["n_docs"], r["n_keep"])
        for r in corpus_quality_gate(spark, sf_dir).collect()
    }
    assert got == want and got


_TASK_RETRY_CHILD = r"""
import json, os, sys
repo, stream_dir, out, ckpt, marker_dir = sys.argv[1:6]
sys.path.insert(0, repo)
from pyspark.sql import SparkSession
from mapreduce_citation_spark.streaming.events import (
    dedup_within_watermark, read_event_stream, write_epoch)

# local[4,2]: 2 task attempts — task retry is REAL, not simulated
# (the session factory's local[n] master defaults to maxFailures=1,
# where any task failure is fatal; retry semantics need a fresh JVM)
spark = (SparkSession.builder.appName("task-retry-exactly-once")
         .master("local[4,2]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")


def flaky(it):
    # deterministic first-attempt failure in the sink stage: partition
    # 0 of every epoch's write job dies once AFTER emitting some rows,
    # leaving a partially-produced task attempt for Spark to discard
    from pyspark import TaskContext
    ctx = TaskContext.get()
    first = True
    for pdf in it:
        if first and ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
            yield pdf.head(1)  # partial output, then die mid-task
            open(os.path.join(
                marker_dir, f"fail_{ctx.stageId()}_{ctx.taskAttemptId()}"
            ), "w").close()
            raise RuntimeError("injected first-attempt task failure")
        first = False
        yield pdf


def write_batch(batch_df, epoch_id):
    wounded = batch_df.repartition(2).mapInPandas(flaky, batch_df.schema)
    write_epoch(wounded, epoch_id, out)


stream = dedup_within_watermark(read_event_stream(spark, stream_dir))
q = (stream.writeStream.outputMode("append")
     .option("checkpointLocation", ckpt)
     .foreachBatch(write_batch).start())
q.processAllAvailable()
q.stop()

ids = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
print(json.dumps({"n": len(ids), "n_distinct": len(set(ids)),
                  "ids_sum": sum(ids)}))
"""


def test_exactly_once_under_midbatch_task_retry(spark, stream_dir, tmp_path):
    """Exactly-once under TASK failure (not just query restart): a
    mapInPandas stage in the sink path emits partial output then dies
    on every first attempt of partition 0; with task retries enabled
    (local[4,2]) the epoch-keyed parquet sink must still land every
    event exactly once — partial attempt output discarded by the
    commit protocol, retried attempts not double-counted."""
    import subprocess
    import sys as _sys

    out = tmp_path / "retry_out"
    ckpt = tmp_path / "retry_ckpt"
    markers = tmp_path / "retry_markers"
    markers.mkdir()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [_sys.executable, "-c", _TASK_RETRY_CHILD, repo, stream_dir,
         str(out), str(ckpt), str(markers)],
        capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    # the injection must actually have fired (else the test is vacuous)
    assert len(os.listdir(markers)) >= 1
    batch = spark.read.schema(EVENTS_SCHEMA).json(stream_dir)
    want_ids = [
        r["event_id"]
        for r in batch.select("event_id").distinct().collect()
    ]
    assert got["n"] == got["n_distinct"] == len(want_ids)
    assert got["ids_sum"] == sum(want_ids)


def test_incremental_mv_replay_idempotent(spark, sf_dir, tmp_path):
    """The MV merge's crash contract: replaying an epoch (crash
    between state write and offset commit) must rewrite its snapshot
    deterministically, not double-count. Apply batch 0, batch 1,
    then batch 1 AGAIN; the final snapshot must equal the one-shot
    aggregate of both batches."""
    from pyspark.sql import functions as F

    from mapreduce_citation_spark.operators.streaming_queries import (
        make_mv_merge,
    )
    from mapreduce_citation_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    b0 = ev.filter(F.col("event_id") % 2 == 0)
    b1 = ev.filter(F.col("event_id") % 2 == 1)
    root = str(tmp_path / "mv")
    import os as _os

    _os.makedirs(root)
    merge, latest = make_mv_merge(root)
    merge(b0, 0)
    merge(b1, 1)
    merge(b1, 1)  # replayed epoch
    assert latest() == 1
    got = sorted(
        map(
            tuple,
            spark.read.parquet(f"{root}/v1")
            .select(
                "user_id", "_n",
                F.expr("CAST(_sv AS DOUBLE)").alias("sv"), "_f", "_l",
            )
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            ev.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("_n"),
                F.expr(
                    "CAST(CAST(SUM(CAST(value AS DECIMAL(18,2)))"
                    " AS DECIMAL(38,2)) AS DOUBLE)"
                ).alias("sv"),
                F.min("ts").alias("_f"),
                F.max("ts").alias("_l"),
            )
            .collect(),
        )
    )
    assert got == want


def test_streaming_heavy_hitters_match_batch_twin(spark, sf_dir):
    """The live MG family must produce exactly the batch twin's
    verified heavy-hitter set — candidate snapshots vary with
    micro-batch boundaries, but the exact verify pass makes the
    output invariant."""
    from mapreduce_citation_spark.operators.events import (
        events_heavy_hitters_mg,
    )
    from mapreduce_citation_spark.operators.streaming_queries import (
        streaming_heavy_hitters_mg,
    )

    live = sorted(map(tuple, streaming_heavy_hitters_mg(spark, sf_dir).collect()))
    batch = sorted(map(tuple, events_heavy_hitters_mg(spark, sf_dir).collect()))
    assert live == batch and len(live) >= 5


def test_streaming_left_outer_funnel_flushes_tail(spark, sf_dir):
    """The left-outer stream-stream join must equal the batch LEFT
    JOIN — including the LAST join-window of unmatched views, which
    only flush because the heartbeat files advance the watermark past
    the end of the real data (the failure signature of a frozen
    watermark is precisely those tail rows missing). Also pins the
    pushdown hazard fix: the heartbeat filter lives on the drained
    batch table, never in the streaming plan."""
    from pyspark.sql import functions as F

    from mapreduce_citation_spark.operators.streaming_queries import (
        streaming_funnel_left_outer,
    )
    from mapreduce_citation_spark.sources.readers import load_table

    live = streaming_funnel_left_outer(spark, sf_dir).toPandas()
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch = (
        v.join(
            p,
            (F.col("v_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("view_ts"))
            & (F.col("purchase_ts") < F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
            "left_outer",
        )
        .select("view_id", "purchase_id", F.col("v_user").alias("user_id"))
        .toPandas()
    )
    key = lambda df: sorted(  # noqa: E731
        (int(r.view_id), -1 if r.purchase_id != r.purchase_id else int(r.purchase_id))
        for r in df.itertuples()
    )
    assert key(live) == key(batch)
    # the tail must include a NULL-extended view at/near the stream's
    # very end — the row a frozen watermark would have swallowed
    last_view = batch["view_id"].max()
    tail_nulls = {
        int(r.view_id)
        for r in live.itertuples()
        if r.purchase_id != r.purchase_id
    }
    batch_tail_nulls = {
        int(r.view_id)
        for r in batch.itertuples()
        if r.purchase_id != r.purchase_id
    }
    assert tail_nulls == batch_tail_nulls and max(batch_tail_nulls) <= last_view
    assert live["user_id"].min() >= 0  # heartbeats never reach the output


def test_transform_with_state_guard_matches_runtime():
    """HAS_TRANSFORM_WITH_STATE is a RUNTIME capability guard, not an
    API-presence check: pyspark 4.x ships the API, but its Python
    state server needs google.protobuf — absent on this image, the
    driver worker crashes at init (observed:
    STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE). The guard must
    equal api-present AND dep-present, so it flips on if the image
    ever gains protobuf and the port goes live in the sweep."""
    import importlib.util

    from pyspark.sql import GroupedData

    from mapreduce_citation_spark.streaming.events import (
        HAS_TRANSFORM_WITH_STATE,
    )

    api = hasattr(GroupedData, "transformWithStateInPandas")
    dep = (
        importlib.util.find_spec("google") is not None
        and importlib.util.find_spec("google.protobuf") is not None
    )
    assert HAS_TRANSFORM_WITH_STATE == (api and dep)


def test_running_user_counts_tws_matches_twin(spark, stream_dir):
    """Where the transformWithState runtime exists, the ported state
    machine must agree with its applyInPandasWithState twin exactly
    (final per-user counts). Skipped — not passed vacuously — on
    images without the protobuf dependency."""
    from mapreduce_citation_spark.streaming.events import (
        HAS_TRANSFORM_WITH_STATE,
        running_user_counts_tws,
    )

    if not HAS_TRANSFORM_WITH_STATE:
        pytest.skip("transformWithState runtime (protobuf) not on image")
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = read_event_stream(spark, stream_dir)
        got = _run(
            spark,
            running_user_counts_tws(stream.select("user_id", "ts")),
            "tws_out",
            "update",
        )
        final = {
            r["user_id"]: r["n"]
            for r in got.groupBy("user_id")
            .agg(F.max("n_events").alias("n"))
            .collect()
        }
    finally:
        if prev is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, prev)
    batch = spark.read.schema(EVENTS_SCHEMA).json(stream_dir)
    want = {
        r["user_id"]: r["n"]
        for r in batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert final == want


def test_streaming_cumulative_users_state_does_work_and_matches_batch(
    spark, sf_dir
):
    """The first-touch family's identity state must (a) collapse the
    planted re-emits — the drained sink is exactly the distinct
    (user, day) set, never larger — and (b) roll up to the same
    growth curve as the batch first-seen derivation."""
    from mapreduce_citation_spark.operators.events import (
        events_cumulative_users,
    )
    from mapreduce_citation_spark.operators.streaming_queries import (
        streaming_cumulative_users,
    )

    got = {
        r["day"]: (r["new_users"], r["cum_users"])
        for r in streaming_cumulative_users(spark, sf_dir).collect()
    }
    want = {
        r["day"]: (r["new_users"], r["cum_users"])
        for r in events_cumulative_users(spark, sf_dir).collect()
    }
    assert got == want
    # state did work: planted input strictly exceeds distinct pairs
    ev = load_table(spark, sf_dir, "events")
    n_pairs = (
        ev.select("user_id", F.date_trunc("day", "ts").alias("d"))
        .distinct()
        .count()
    )
    n_planted = ev.select(
        F.explode(
            F.sequence(
                F.lit(1), F.lit(1) + (F.col("event_id") % 2).cast("int")
            )
        )
    ).count()
    assert n_planted > n_pairs
    assert sum(n for n, _ in got.values()) == ev.select("user_id").distinct().count()


# ---------------------------------------------------------------------------
# Hard-kill + fresh-JVM resume (r7 verdict #7): the other half of
# exactly-once. Mid-batch TASK retry is pinned above; this pins QUERY
# restart from a checkpoint after a hard process kill (os._exit — no
# graceful stop, no commit-log entry for the dying epoch).

_KILL_RESUME_CHILD = """
import json, os, sys
repo, topic_dir, mv_root, ckpt, mode, k = sys.argv[1:7]
k = int(k)
sys.path.insert(0, repo)
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from mapreduce_citation_spark.sources.kafka_shim import read_topic_stream
from mapreduce_citation_spark.operators.streaming_queries import make_mv_merge

spark = (SparkSession.builder.appName("kill-resume")
         .master("local[4]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

os.makedirs(mv_root, exist_ok=True)
merge, latest = make_mv_merge(mv_root)


def merge_or_die(bdf, epoch_id):
    merge(bdf, epoch_id)
    if mode == "kill" and epoch_id >= k:
        # die AFTER the MV write for epoch k but BEFORE structured
        # streaming's commit-log entry: the strongest recovery window
        # (on restart, epoch k MUST be replayed from the offsets WAL
        # and the idempotent merge must rewrite v_k, not double-count)
        os._exit(7)


raw = read_topic_stream(spark, topic_dir, "ev", max_files_per_trigger=1)
parsed = raw.select(
    F.from_json(F.col("value").cast("string"),
                "user_id BIGINT, value STRING, ts TIMESTAMP").alias("e")
).select("e.user_id", "e.value", "e.ts")

q = (parsed.writeStream.option("checkpointLocation", ckpt)
     .foreachBatch(merge_or_die).start())
q.processAllAvailable()
q.stop()
print(json.dumps({"latest": latest()}), flush=True)
"""


def test_hard_kill_and_resume_from_checkpoint_fresh_jvm(spark, sf_dir, tmp_path):
    """Kill after batch k (hard exit inside foreachBatch, post-MV-write,
    pre-commit), restart the SAME query from the SAME checkpoint in a
    FRESH JVM, drain; the final MV state must equal (a) an
    uninterrupted run in its own fresh JVM and (b) the batch aggregate
    over the full topic. Uses the kafka shim's replayable
    (partition, offset) positions — the restart must resume from the
    offsets WAL (continuous epoch ids), replay the uncommitted epoch,
    and the idempotent snapshot merge must not double-count it."""
    import subprocess
    import sys as _sys

    from mapreduce_citation_spark.sources.kafka_shim import (
        read_topic_batch,
        write_topic,
    )

    ev = load_table(spark, sf_dir, "events").orderBy("event_id").limit(400)
    payload = ev.select(
        "user_id",
        F.to_json(F.struct("user_id", "value", "ts")).alias("v"),
        "ts",
    )
    topic_dir = str(tmp_path / "topic")
    # four produces → ≥4 JSON files → ≥4 single-file micro-batches
    for m in range(4):
        write_topic(
            payload.filter(F.col("user_id") % 4 == m),
            topic_dir, "ev", "user_id", "v", "ts",
        )
    n_files = len(
        [f for f in os.listdir(os.path.join(topic_dir, "ev"))
         if not f.startswith(("_", "."))]
    )
    assert n_files >= 4

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    mv, ckpt = str(tmp_path / "mv"), str(tmp_path / "ckpt")

    def run(mode, mv_root, ck, k=1):
        return subprocess.run(
            [_sys.executable, "-c", _KILL_RESUME_CHILD,
             repo, topic_dir, mv_root, ck, mode, str(k)],
            capture_output=True, text=True, timeout=420,
        )

    p1 = run("kill", mv, ckpt)
    assert p1.returncode == 7, (p1.returncode, p1.stderr[-3000:])
    killed_at = max(int(d[1:]) for d in os.listdir(mv))
    assert killed_at == 1  # died right after writing v1

    p2 = run("drain", mv, ckpt)
    assert p2.returncode == 0, p2.stderr[-3000:]
    final_v = json.loads(p2.stdout.strip().splitlines()[-1])["latest"]
    # the resume processed the remaining batches with CONTINUOUS epoch
    # ids (came from the checkpoint, not a fresh batch-0 restart)
    assert final_v > killed_at

    mv2, ckpt2 = str(tmp_path / "mv2"), str(tmp_path / "ckpt2")
    p3 = run("drain", mv2, ckpt2)
    assert p3.returncode == 0, p3.stderr[-3000:]
    ref_v = json.loads(p3.stdout.strip().splitlines()[-1])["latest"]

    def rows(df):
        return sorted(
            (r["user_id"], r["_n"], str(r["_sv"]), r["_f"], r["_l"])
            for r in df.collect()
        )

    snap = spark.read.parquet(os.path.join(mv, f"v{final_v}"))
    ref = spark.read.parquet(os.path.join(mv2, f"v{ref_v}"))
    batch = (
        read_topic_batch(spark, topic_dir, "ev")
        .select(
            F.from_json(
                F.col("value").cast("string"),
                "user_id BIGINT, value STRING, ts TIMESTAMP",
            ).alias("e")
        )
        .select("e.*")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.expr(
                "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2))"
            ).alias("_sv"),
            F.min("ts").alias("_f"),
            F.max("ts").alias("_l"),
        )
    )
    assert rows(snap) == rows(ref)
    assert rows(snap) == rows(batch)



_PARTS = "spark.sql.shuffle.partitions"
_PROVIDER = "spark.sql.streaming.stateStore.providerClass"
_STATE = "org.apache.spark.sql.execution.streaming.state."


def test_drop_memory_sinks_unregisters_every_sink(spark, sf_dir):
    """Each drained family leaves its ``memory_sink_N`` table registered
    until a harness drops it; after two runs of one family and the
    helper, the catalog holds no sink table."""
    from mapreduce_citation_spark.operators.streaming_queries import (
        streaming_dedup_watermark,
    )
    from mapreduce_citation_spark.streaming.events import drop_memory_sinks

    def sinks():
        return [t.name for t in spark.catalog.listTables() if t.name.startswith("memory_sink_")]

    runs = [streaming_dedup_watermark(spark, sf_dir) for _ in range(2)]
    assert runs[0].count() == runs[1].count() > 0
    assert len(sinks()) >= 2
    drop_memory_sinks(spark)
    assert sinks() == []


def test_drain_restores_confs_and_stops_queries(spark, sf_dir, stream_dir):
    """Every live family drains through ``streaming/events.py:_drain``.
    After a family with sized partitions, the provider-conf family and
    a foreachBatch drain whose batch function raises, the session's
    partition count and state-store provider are what they were before
    (an unset provider stays unset) and no query is left running."""
    from mapreduce_citation_spark.operators.streaming_queries import (
        streaming_running_user_counts_tws,
        streaming_tumbling_counts,
    )
    from mapreduce_citation_spark.streaming.events import _drain

    def boom(bdf, epoch_id):
        raise RuntimeError("planted batch failure")

    def failing(s, _sf_dir):
        writer = read_event_stream(s, stream_dir).writeStream.foreachBatch(boom)
        confs = {_PARTS: "3", _PROVIDER: _STATE + "RocksDBStateStoreProvider"}
        with pytest.raises(Exception, match="planted batch failure"):
            _drain(s, writer, confs)

    hdfs = _STATE + "HDFSBackedStateStoreProvider"
    before = spark.conf.get(_PARTS)
    # above the sized rule's floor of 4 at sf0.001, so the drain moves it
    spark.conf.set(_PARTS, "6")
    try:
        for run, provider in (
            (streaming_tumbling_counts, None),
            (streaming_running_user_counts_tws, hdfs),
            (failing, None),
            (failing, hdfs),
        ):
            if provider is None:
                spark.conf.unset(_PROVIDER)
            else:
                spark.conf.set(_PROVIDER, provider)
            run(spark, sf_dir)
            assert spark.conf.get(_PARTS) == "6", run
            assert spark.conf.get(_PROVIDER, None) == provider, run
            assert spark.streams.active == [], run
    finally:
        spark.conf.set(_PARTS, before)
        spark.conf.unset(_PROVIDER)


class _StubSpark:
    """Just the ``spark.conf.get`` the partition rule reads; no JVM."""

    def __init__(self, session_parts: int):
        self.conf = self
        self._parts = str(session_parts)

    def get(self, key):
        assert key == "spark.sql.shuffle.partitions"
        return self._parts


def _sparse(path, mb):
    with open(path, "wb"):
        pass
    os.truncate(path, mb * 1024 * 1024)


def test_stateful_shuffle_partitions_rule(tmp_path, monkeypatch):
    """One partition per 32 MB of source, floored at 4 and capped at
    the session value; the cap wins when the session is below 4."""
    from mapreduce_citation_spark.operators.streaming_queries import (
        _stateful_shuffle_partitions as rule,
    )

    tiny = tmp_path / "tiny"
    tiny.mkdir()
    (tiny / "events.parquet").write_bytes(b"x" * 1024)
    assert rule(_StubSpark(32), str(tiny)) == "4"
    assert rule(_StubSpark(2), str(tiny)) == "2"

    big = tmp_path / "big"
    big.mkdir()
    _sparse(big / "events.parquet", 200)
    assert rule(_StubSpark(32), str(big)) == "7"

    # a directory source counts its parquet parts only (not _SUCCESS,
    # checksums or other side files)
    parts = tmp_path / "dir" / "events.parquet"
    parts.mkdir(parents=True)
    for i in range(3):
        _sparse(parts / f"part-{i}.parquet", 50)
    _sparse(parts / ".part-0.parquet.crc.tmp", 1024)
    assert rule(_StubSpark(32), str(tmp_path / "dir")) == "5"

    assert rule(_StubSpark(32), str(tmp_path / "missing")) is None

    # the rule reads no environment knob: an environment that answers
    # "session" to every name leaves it unchanged
    class _AnyEnv(dict):
        def get(self, key, default=None):
            return "session"

        def __getitem__(self, key):
            return "session"

    with monkeypatch.context() as m:
        m.setattr(os, "environ", _AnyEnv())
        got = rule(_StubSpark(32), str(tiny))
    assert got == "4"
