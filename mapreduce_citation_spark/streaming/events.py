"""Structured Streaming operators over event data.

The reference has no streaming semantics (its poll loops are control
plane — SURVEY.md §2.3), so this is north-star surface: the batch
window aggregations in ``operators/events.py`` re-expressed as
streaming queries with watermarks, late-data handling, stateful
dedup, and a custom stateful operator via ``applyInPandasWithState``.

Each builder takes an input DataFrame (streaming or batch — the
transformations are identical by Structured Streaming's design) so
pytest can drive the same plan from a file source to a memory sink
with ``processAllAvailable`` and compare against the batch oracle.

Scale notes: state is keyed (user_id / event_id hash), so it
partitions across executors; watermarks bound state size — without
them a 100 TB stream accumulates unbounded window state.
"""

from __future__ import annotations

import itertools
import os
import time
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

#: Explicit schema for streaming file sources (no inference on streams).
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", StringType()),  # re-cast downstream
        StructField("props", StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """File-source stream: each file dropped into ``path`` becomes a
    micro-batch (the standard test/backfill source; swap for kafka in
    production — the downstream plan is identical)."""
    return (
        spark.readStream.schema(schema or EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(path)
    )


def windowed_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "30 minutes"
) -> DataFrame:
    """Tumbling-window counts with a watermark: events later than
    ``watermark`` behind the max seen ts are dropped and their windows
    finalized — bounding state. Works unchanged on batch input (where
    the watermark is a no-op), which is how the oracle compares it."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Stateful exact dedup on event_id: duplicates arriving within
    the watermark horizon are dropped; state for ids older than the
    watermark is evicted (the streaming twin of dedup_exact)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Streaming session windows per user (same operator as the batch
    events_session_window query)."""
    return (
        events.withWatermark("ts", gap)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def funnel_join(
    views: DataFrame, purchases: DataFrame, within: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """View→purchase funnel: for each view, the same user's purchases
    within ``within`` after it. Works on batch DataFrames as-is; on
    streams, attach watermarks to both sides first (required for
    stream-stream joins — the watermark + time bound let Spark expire
    join state). The equi-key (user_id) keeps this a keyed join, never
    a cross product. ``how="left_outer"`` emits unconverted views with
    NULL purchase columns — on a stream those rows are finalized only
    once the watermark passes view_ts + ``within`` (the point where no
    future purchase can match)."""
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return (
        v.join(
            p,
            (F.col("v_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("view_ts"))
            & (F.col("purchase_ts") < F.col("view_ts") + F.expr(f"INTERVAL {within}")),
            how,
        )
        .select(
            F.col("v_user").alias("user_id"),
            "view_id",
            "purchase_id",
            "view_ts",
            "purchase_ts",
        )
    )


#: Output/state schemas for the custom stateful operator.
_RUNNING_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("last_ts", TimestampType()),
    ]
)
_STATE_SCHEMA = StructType([StructField("n", LongType())])


def running_user_counts(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: a running
    per-user event counter that emits an updated row per micro-batch —
    the minimal template for bespoke streaming state machines (the
    generalization of the reference's reducer-side accumulation,
    reducer.py:83-108, to unbounded input)."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n = state.get[0] if state.exists else 0
        last_ts = None
        for pdf in pdfs:
            n += len(pdf)
            batch_max = pdf["ts"].max()
            last_ts = batch_max if last_ts is None else max(last_ts, batch_max)
        state.update((n,))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "last_ts": [last_ts]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_RUNNING_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _has_transform_with_state() -> bool:
    """True iff the transformWithState surface can actually RUN here:
    the API landed in pyspark 4.0 (SPARK-49770), but its Python-side
    state server speaks protobuf — on an engine image without
    ``google.protobuf`` the driver worker crashes at init
    (STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE, observed on this
    container), so the guard checks BOTH the API and its runtime
    dependency."""
    import importlib.util

    try:
        from pyspark.sql import GroupedData as _GD
    except ImportError:
        return False
    return (
        hasattr(_GD, "transformWithStateInPandas")
        and importlib.util.find_spec("google") is not None
        and importlib.util.find_spec("google.protobuf") is not None
    )


HAS_TRANSFORM_WITH_STATE = _has_transform_with_state()


def running_user_counts_tws(events: DataFrame) -> DataFrame:
    """The ``running_user_counts`` state machine ported to the
    ``transformWithStateInPandas`` API (SPARK-49770 generation): state
    is a named ValueState on a StatefulProcessor handle instead of the
    single GroupState tuple — the API Spark positions as the successor
    for bespoke streaming operators (per-state-variable schemas,
    timers, TTL, RocksDB-backed). Same contract as the twin: one
    updated (user_id, n_events, last_ts) row per key per micro-batch,
    n_events monotone via the carried count, last_ts the within-batch
    max. Requires the RocksDB state-store provider (the caller sets
    ``spark.sql.streaming.stateStore.providerClass``); guard with
    ``HAS_TRANSFORM_WITH_STATE``."""
    from pyspark.sql.streaming import StatefulProcessor as _SP

    class _RunningCounts(_SP):
        def init(self, handle) -> None:
            self._n = handle.getValueState("n", "n BIGINT")

        def handleInputRows(self, key, rows, timer_values):
            cur = self._n.get()
            n = cur[0] if cur is not None else 0
            last_ts = None
            for pdf in rows:
                n += len(pdf)
                batch_max = pdf["ts"].max()
                last_ts = (
                    batch_max if last_ts is None else max(last_ts, batch_max)
                )
            self._n.update((n,))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "last_ts": [last_ts]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_RunningCounts(),
        outputStructType=_RUNNING_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


#: Output schema of the timeout-closing sessionizer.
_CLOSED_SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("closed_by", StringType()),
    ]
)
_SESSION_STATE_SCHEMA = StructType([StructField("n", LongType())])


def sessions_with_timeout(events: DataFrame, timeout_ms: int = 2000) -> DataFrame:
    """Custom stateful operator with PROCESSING-TIME TIMEOUT: per-user
    event counts are held in state and only emitted when the user goes
    idle for ``timeout_ms`` — the close-session-on-inactivity pattern
    that plain windowed aggregation can't express (emission is driven
    by the *absence* of data). When the timeout fires, the state is
    flushed with ``closed_by='timeout'`` and cleared.

    The closure is self-contained (see operators/multimodal.py on
    cloudpickle + foreign sessions)."""

    def update(key, pdfs, state: GroupState):
        import pandas as _pd

        if state.hasTimedOut:
            (n,) = state.get
            state.remove()
            yield _pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "closed_by": ["timeout"]}
            )
        else:
            n = state.get[0] if state.exists else 0
            for pdf in pdfs:
                n += len(pdf)
            state.update((n,))
            state.setTimeoutDuration(timeout_ms)
            yield _pd.DataFrame(
                {"user_id": [], "n_events": [], "closed_by": []}
            ).astype({"user_id": "int64", "n_events": "int64", "closed_by": "object"})

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_CLOSED_SESSION_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def write_epoch(batch_df: DataFrame, epoch_id: int, out_path: str) -> None:
    """Idempotent micro-batch write: each epoch lands under its own
    ``epoch_id=N`` partition directory with OVERWRITE mode, so a batch
    replayed after a crash-between-write-and-checkpoint-commit
    replaces its own output instead of appending a duplicate copy.
    (``foreachBatch`` is at-least-once per epoch; idempotence here is
    what upgrades the pipeline to exactly-once.)"""
    batch_df.write.mode("overwrite").parquet(
        os.path.join(out_path, f"epoch_id={epoch_id}")
    )


def _drain(spark: SparkSession, writer, confs: dict | None = None) -> None:
    """The one place a streaming query starts, drains and stops.

    ``confs`` are set for the query's start (Spark captures them into
    the query's offset metadata there) and restored in a ``finally``
    once it stops: a key the session had not set is unset again, and a
    ``None`` value keeps the session's own. ``writer.start()`` →
    ``processAllAvailable`` → ``stop``, so no failure leaves a query
    running or a conf changed."""
    confs = {k: v for k, v in (confs or {}).items() if v is not None}
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


#: Memory-sink names must be unique per started query within a session.
_SINK_COUNTER = itertools.count()


def run_to_memory_sink(
    df: DataFrame, output_mode: str, confs: dict | None = None
) -> DataFrame:
    """Drain a streaming DataFrame into an in-memory table (test/dev
    sink) under :func:`_drain` and return the table."""
    name = f"memory_sink_{next(_SINK_COUNTER)}"
    _drain(
        df.sparkSession,
        df.writeStream.outputMode(output_mode).format("memory").queryName(name),
        confs,
    )
    return df.sparkSession.table(name)


def run_epochs(
    stream: DataFrame, report, arts, out: str, ckpt: str
) -> list[float]:
    """Drain ``stream`` through ``foreachBatch`` under :func:`_drain`:
    each non-empty micro-batch runs ``report(batch, arts, caches)`` and
    lands under its own ``epoch_id=N`` directory of ``out``
    (:func:`write_epoch`); the caches the report appended are
    unpersisted at the end of the epoch. Returns the per-epoch walls
    (report + write), in epoch order."""
    walls: list[float] = []

    def merge(bdf: DataFrame, epoch_id: int) -> None:
        if bdf.isEmpty():
            return
        caches: list[DataFrame] = []
        t0 = time.perf_counter()
        try:
            write_epoch(report(bdf, arts, caches), epoch_id, out)
        finally:
            walls.append(time.perf_counter() - t0)
            for c in caches:
                c.unpersist()

    _drain(
        stream.sparkSession,
        stream.writeStream.option("checkpointLocation", ckpt).foreachBatch(merge),
    )
    return walls


def run_to_parquet_sink(df: DataFrame, out_path: str, checkpoint_path: str) -> None:
    """Exactly-once parquet sink: :func:`run_epochs` with the batch
    itself as the report, so each micro-batch lands under its epoch-id
    partition directory with overwrite and a replay after a crash
    between the parquet write and the checkpoint commit is idempotent
    — the standard epoch-keyed pattern when the sink itself isn't
    transactional. Readers ``spark.read.parquet(out_path)`` and see
    ``epoch_id`` as a partition column."""
    run_epochs(df, lambda bdf, _arts, _caches: bdf, None, out_path, checkpoint_path)


#: Output/state schemas for the latest-wins CDC compactor.
_CDC_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("last_event_id", LongType()),
        StructField("last_ts", TimestampType()),
        StructField("last_type", StringType()),
    ]
)
_CDC_STATE_SCHEMA = StructType(
    [
        StructField("ts_ns", LongType()),
        StructField("event_id", LongType()),
        StructField("event_type", StringType()),
    ]
)


def latest_event_state(events: DataFrame) -> DataFrame:
    """LIVE CDC compaction (latest-wins) via applyInPandasWithState:
    per-key state holds only the current winner under the
    deterministic (ts, event_id) order — constant state per key, the
    streaming twin of ``events_cdc_compaction``'s batch window. Each
    micro-batch emits the key's current latest record (update mode);
    the winner is monotone in (ts, event_id), so the last update per
    key in a drained sink IS the global latest."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        best = tuple(state.get) if state.exists else None
        for pdf in pdfs:
            if not len(pdf):
                continue
            top = pdf.sort_values(["ts", "event_id"]).iloc[-1]
            cand = (
                int(pd.Timestamp(top["ts"]).value),
                int(top["event_id"]),
                str(top["event_type"]),
            )
            if best is None or cand[:2] > best[:2]:
                best = cand
        state.update(best)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "last_event_id": [best[1]],
                "last_ts": [pd.Timestamp(best[0])],
                "last_type": [best[2]],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_CDC_SCHEMA,
        stateStructType=_CDC_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: Streaming Misra-Gries: per-bucket candidate snapshots.
_MG_OUT_SCHEMA = StructType(
    [
        StructField("bucket", LongType()),
        StructField("seq", LongType()),
        StructField("cand", LongType()),
    ]
)
_MG_STATE_SCHEMA = StructType(
    [
        StructField("ks", ArrayType(LongType())),
        StructField("vs", ArrayType(LongType())),
        StructField("seq", LongType()),
    ]
)


def streaming_mg_candidates(keyed: DataFrame, k: int = 100) -> DataFrame:
    """STREAMING Misra-Gries heavy-hitter sketch as a custom stateful
    operator: the stream is bucketed (any partition of the key space)
    and each bucket's GroupState holds one MG summary (≤ ``k``
    counters) over the bucket's ENTIRE substream so far — so when the
    stream drains, a key absent from its bucket's final summary has
    frequency ≤ n_bucket/k ≤ N/k: the classic deficit bound, now
    maintained incrementally with O(k) state per bucket forever.
    Each micro-batch emits the bucket's refreshed candidate snapshot
    tagged with a sequence number; the LAST snapshot per bucket is
    the final summary."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        if state.exists:
            ks, vs, seq = state.get
            counters = dict(zip(ks, vs))
        else:
            counters, seq = {}, 0
        for pdf in pdfs:
            for v in pdf["k"]:
                v = int(v)
                if v in counters:
                    counters[v] += 1
                elif len(counters) < k:
                    counters[v] = 1
                else:
                    for c in list(counters):
                        counters[c] -= 1
                        if counters[c] == 0:
                            del counters[c]
        seq += 1
        state.update(
            (list(counters.keys()), list(counters.values()), int(seq))
        )
        yield _pd.DataFrame(
            {
                "bucket": [key[0]] * len(counters),
                "seq": [seq] * len(counters),
                "cand": list(counters.keys()),
            }
        )

    return keyed.groupBy("bucket").applyInPandasWithState(
        update,
        outputStructType=_MG_OUT_SCHEMA,
        stateStructType=_MG_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
