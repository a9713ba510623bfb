"""The continuous-ingest pipeline (SURVEY OP-S7/S8, OP-T1-T4).

Reference write path: Kafka topic → ClickHouse Kafka-engine table
(001_init_spotify_tracks.sql:25-47) → materialized view cleanse per
block (001:50-74) → partitioned MergeTree (001:6-22). Offsets live in
the consumer group (001:43).

Spark rebuild: ``readStream`` (Kafka, or file source in tests — same
plan) → ``cleanse_tracks`` (the IDENTICAL plan builder batch uses —
OP-T2's ingest-time transform is just a streaming select) →
``writeStream`` parquet partitioned by ingest_month with a checkpoint
(offsets in the checkpoint — OP-T1).

Delivery semantics (OP-T3): the reference is at-least-once and its
views tolerate duplicates (argMax / group-by-ingest_ts). The file/
parquet sink here is exactly-once per Spark's sink contract; the
optional ``dedupe_within_watermark`` upgrade drops wire-level
duplicate (track_id, ingest_ts) pairs with bounded state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ravelytics_spark.plans.tracks_pipeline import cleanse_tracks
from ravelytics_spark.schemas import TRACKS_WIRE_SCHEMA


def read_tracks_stream_kafka(
    spark: SparkSession, bootstrap: str, topic: str = "ravelytics.spotify.tracks"
) -> DataFrame:
    """OP-S7: Kafka JSONEachRow consumer (the Kafka-engine table). The
    consumer group of 001:43 is replaced by checkpoint offsets."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load()
    )
    return raw.select(
        F.from_json(F.col("value").cast("string"), TRACKS_WIRE_SCHEMA).alias("r")
    ).select("r.*")


def read_tracks_stream_files(spark: SparkSession, path: str) -> DataFrame:
    """File-source stand-in with the same wire schema — used by the
    harness tests (no Kafka broker in the container) and valid in
    production for landed-JSON replay."""
    return spark.readStream.schema(TRACKS_WIRE_SCHEMA).json(path)


def dedupe_within_watermark(wire: DataFrame, delay: str = "1 hour") -> DataFrame:
    """OP-T3 upgrade: drop at-least-once duplicates with bounded state.
    Keyed on the wire identity (track_id, ingest_ts) — the same pair the
    reference's views group by to tolerate dupes."""
    with_ts = wire.withColumn("__event_ts", F.to_timestamp("ingest_ts"))
    return (
        with_ts.withWatermark("__event_ts", delay)
        .dropDuplicatesWithinWatermark(["track_id", "ingest_ts"])
        .drop("__event_ts")
    )


def start_tracks_ingest(
    wire_stream: DataFrame,
    warehouse_path: str,
    checkpoint_path: str,
    available_now: bool = True,
    dedupe: bool = False,
) -> StreamingQuery:
    """OP-S8: cleanse → partitioned parquet sink with checkpoint.

    ``available_now=True`` reproduces the reference's daily micro-batch
    cadence (OP-T4: Airflow @daily ≈ scheduled Trigger.AvailableNow run);
    ``False`` runs continuously like the ClickHouse Kafka engine.
    """
    if dedupe:
        wire_stream = dedupe_within_watermark(wire_stream)
    cleaned = cleanse_tracks(wire_stream)
    writer = (
        cleaned.writeStream.format("parquet")
        .option("path", warehouse_path)
        .option("checkpointLocation", checkpoint_path)
        .partitionBy("ingest_month")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Tumbling/sliding window aggregation with late-data watermark —
    the streaming form of the t_window_daily batch query."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("win"))
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("win_start"), "n")
    )


def session_windows(events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour") -> DataFrame:
    """Session windows (gap-based) — streaming analog of x6_sessionize."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), F.col("user_id"))
        .agg(F.count("*").alias("n"))
        .select("user_id", F.col("win.start").alias("session_start"), "n")
    )


def start_latest_state_upsert(
    wire_stream: DataFrame,
    warehouse_path: str,
    checkpoint_path: str,
    key: str,
    ts: str,
    partition_col: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming MERGE sink: every micro-batch folds into the
    latest-state warehouse via ``upsert_partitioned`` (partition-pruned
    rewrite) — the Structured-Streaming analog of ClickHouse's
    ReplacingMergeTree (ingest-time collapse to one row per key, which
    the reference's tracks table gets from background merges,
    001_init_spotify_tracks.sql:6-22).

    Exactly-once story: foreachBatch is at-least-once under failures,
    but the latest-state merge is IDEMPOTENT (union → max_by of
    already-applied rows is a no-op), so batch replays converge to the
    same table state — no transactional sink needed. A batch that
    crashed mid-swap is repaired the same way: the replayed upsert
    first restores any partition the crash left in the hidden
    ``_retired`` directory and drops the hidden ``_staging`` copy, then
    re-applies the batch. Readers of ``warehouse_path`` never see those
    hidden copies, but may briefly miss one partition during a swap.
    The contract inherited from upsert_partitioned: ``partition_col``
    immutable per key; one upserting stream per table (partition swaps
    are not multi-writer safe).
    """
    from ravelytics_spark.operators.maintenance import upsert_partitioned

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_partitioned(
            batch_df.sparkSession,
            warehouse_path,
            batch_df,
            key=key,
            ts=ts,
            partition_col=partition_col,
        )

    writer = (
        wire_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# Idempotent foreachBatch (batchId-dedup) for non-idempotent sinks
# ---------------------------------------------------------------------------


class BatchLedger:
    """Committed-batch record for one streaming query: JSONL of
    ``{"job": ..., "batch_id": ...}`` on any shared filesystem.

    foreachBatch is at-least-once: after a crash between sink write
    and checkpoint commit, Spark REPLAYS the last micro-batch with the
    SAME batch_id. Sinks that are naturally idempotent (latest-state
    merge) absorb that; append-style or external-producer sinks do
    not — they need the batch_id dedup this ledger provides (the
    pattern Structured Streaming's own docs prescribe for arbitrary
    sinks). Append-only like ``schedule.RunLedger``: concurrent
    writers can duplicate a line, never lose one, and a duplicate
    line is semantically a no-op.
    """

    def __init__(self, path: str):
        self._path = path

    def committed(self, job: str) -> set[int]:
        import json
        import os

        if not os.path.exists(self._path):
            return set()
        out = set()
        with open(self._path) as fh:
            for line in fh:
                rec = json.loads(line)
                if rec["job"] == job:
                    out.add(int(rec["batch_id"]))
        return out

    def record(self, job: str, batch_id: int) -> None:
        import json

        with open(self._path, "a") as fh:
            fh.write(json.dumps({"job": job, "batch_id": int(batch_id)}) + "\n")


def idempotent_foreach_batch(apply_fn, ledger: BatchLedger, job: str):
    """Wrap a foreachBatch function so replayed batch_ids are skipped.

    Ordering contract: the ledger records AFTER ``apply_fn`` returns,
    so a crash mid-apply replays the batch (at-least-once within the
    batch, exactly-once across completed batches). True atomicity of
    (apply + record) needs a transactional sink (Delta/Iceberg commit
    or an external transaction) — this wrapper closes the common
    failure window (batch fully applied, checkpoint not yet advanced)
    without one.
    """

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in ledger.committed(job):
            return
        apply_fn(batch_df, batch_id)
        ledger.record(job, batch_id)

    return _apply


def start_enriched_ingest(
    wire_stream: DataFrame,
    dim_path: str,
    out_path: str,
    checkpoint_path: str,
    join_key: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Stream enrichment against a slowly-changing dimension that is
    RE-READ each micro-batch — the broadcast-refresh pattern.

    A static DataFrame joined into a streaming query is planned ONCE:
    dimension updates after .start() are invisible until restart.
    foreachBatch re-reads the dim per batch instead, so a refreshed
    artist/genre table (the reference updates artist state daily,
    spotify_artist_genres_to_kafka.py) lands on the next micro-batch
    with no restart. The dim is broadcast per batch — sized for dims;
    a fact-sized right side belongs in a stream-stream join with
    watermarks instead.
    """

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        dim = spark.read.parquet(dim_path)
        batch_df.join(F.broadcast(dim), join_key, "left").write.mode(
            "append"
        ).parquet(out_path)

    writer = wire_stream.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
