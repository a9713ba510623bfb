"""Streaming harness tests (SURVEY §5.4): file-source streams through
the ingest pipeline with Trigger.AvailableNow; duplicate-injection for
the OP-T3 tolerance/upgrade."""

from __future__ import annotations

import json
import tempfile
from pathlib import Path

import pytest

WIRE_RECORDS = [
    {
        "ingest_ts": "2025-07-30T06:00:00Z",
        "track_id": "t1",
        "track_name": "One",
        "artists": ["A"],
        "artist_ids": ["a1"],
        "album_id": "al1",
        "album_name": "Alb",
        "release_date": "2021",
        "popularity": 50,
        "added_at": "2025-07-18T09:27:45Z",
        "external_url": "u",
    },
    {
        "ingest_ts": "2025-08-01T06:00:00Z",
        "track_id": "t2",
        "track_name": "Two",
        "artists": ["B"],
        "artist_ids": ["b1"],
        "album_id": "al2",
        "album_name": "Alb",
        "release_date": "2022-03-04",
        "popularity": None,  # → default 0
        "added_at": "",  # → falls back to ingest_ts
        "external_url": "u",
    },
]


@pytest.fixture()
def stream_dirs():
    with tempfile.TemporaryDirectory() as d:
        src = Path(d) / "src"
        out = Path(d) / "warehouse"
        ckpt = Path(d) / "ckpt"
        src.mkdir()
        yield src, out, ckpt


def _write_batch(src: Path, name: str, records):
    (src / name).write_text("\n".join(json.dumps(r) for r in records))


def test_stream_ingest_end_to_end(spark, stream_dirs):
    from ravelytics_spark.streaming.pipeline import (
        read_tracks_stream_files,
        start_tracks_ingest,
    )

    src, out, ckpt = stream_dirs
    _write_batch(src, "b1.json", WIRE_RECORDS)
    q = start_tracks_ingest(
        read_tracks_stream_files(spark, str(src)), str(out), str(ckpt)
    )
    q.awaitTermination(120)

    got = spark.read.parquet(str(out)).orderBy("track_id").collect()
    assert [r.track_id for r in got] == ["t1", "t2"]
    by_id = {r.track_id: r for r in got}
    assert str(by_id["t1"].release_date) == "2021-01-01"  # YYYY rule
    assert by_id["t2"].popularity == 0  # null default
    assert by_id["t2"].added_at == by_id["t2"].ingest_ts  # fallback
    assert by_id["t1"].ingest_month == "202507"  # partition column
    assert by_id["t2"].ingest_month == "202508"
    # physical layout: hive partition dirs exist (partition pruning works)
    assert (out / "ingest_month=202507").exists()


def test_stream_incremental_and_exactly_once_restart(spark, stream_dirs):
    from ravelytics_spark.streaming.pipeline import (
        read_tracks_stream_files,
        start_tracks_ingest,
    )

    src, out, ckpt = stream_dirs
    _write_batch(src, "b1.json", WIRE_RECORDS)
    q = start_tracks_ingest(read_tracks_stream_files(spark, str(src)), str(out), str(ckpt))
    q.awaitTermination(120)
    # restart with the same checkpoint + one new file: only the new file
    # lands (offset tracking in checkpoint, OP-T1)
    more = [dict(WIRE_RECORDS[0], track_id="t3", ingest_ts="2025-08-02T06:00:00Z")]
    _write_batch(src, "b2.json", more)
    q2 = start_tracks_ingest(read_tracks_stream_files(spark, str(src)), str(out), str(ckpt))
    q2.awaitTermination(120)
    got = spark.read.parquet(str(out)).select("track_id").orderBy("track_id").collect()
    assert [r.track_id for r in got] == ["t1", "t2", "t3"]


def test_duplicate_injection_tolerated_by_views(spark, stream_dirs):
    """OP-T3: at-least-once duplicates don't corrupt the analytics —
    the latest-state view collapses them (same tolerance the reference's
    argMax gives)."""
    from ravelytics_spark.operators.latest_state import latest_state
    from ravelytics_spark.streaming.pipeline import (
        read_tracks_stream_files,
        start_tracks_ingest,
    )

    src, out, ckpt = stream_dirs
    _write_batch(src, "b1.json", WIRE_RECORDS + WIRE_RECORDS)  # inject dupes
    q = start_tracks_ingest(read_tracks_stream_files(spark, str(src)), str(out), str(ckpt))
    q.awaitTermination(120)
    warehouse = spark.read.parquet(str(out))
    assert warehouse.count() == 4  # dupes landed (at-least-once)
    latest = latest_state(
        warehouse, key="track_id", ts="ingest_ts", value_cols=["track_name", "popularity"]
    )
    assert latest.count() == 2  # analytics collapse them


def test_windowed_and_session_aggregations_run_in_streaming(spark, stream_dirs):
    """Watermarked tumbling + session windows execute as streams (file
    source → memory sink) and produce the batch-equivalent rollup."""
    import datetime

    from pyspark.sql import Row

    from ravelytics_spark.streaming.pipeline import session_windows, windowed_event_counts

    src, _, _ = stream_dirs
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        {"ts": (base + datetime.timedelta(minutes=m)).isoformat(), "user_id": 1}
        for m in (0, 5, 90, 95)
    ]
    _write_batch(src, "ev.json", rows)
    schema = "ts timestamp, user_id long"
    stream = spark.readStream.schema(schema).json(str(src))

    out = windowed_event_counts(stream, window="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    wins = {r.win_start.minute: r.n for r in spark.sql("SELECT * FROM win_counts").collect()}
    assert wins == {0: 2, 30: 2}  # 00:00-00:10 → 2; 01:30-01:40 → 2

    sess = session_windows(stream, gap="30 minutes")
    q2 = (
        sess.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    sessions = spark.sql("SELECT * FROM sessions").collect()
    assert len(sessions) == 2  # two sessions split by the 85-min gap
    assert sorted(r.n for r in sessions) == [2, 2]


def test_dedupe_within_watermark_drops_wire_duplicates(spark, stream_dirs):
    """OP-T3 upgrade path: with dedupe=True the sink itself receives
    each (track_id, ingest_ts) once — bounded-state
    dropDuplicatesWithinWatermark, not view-level tolerance. Duplicates
    arriving in a LATER microbatch (still inside the watermark) are
    dropped too."""
    from ravelytics_spark.streaming.pipeline import (
        read_tracks_stream_files,
        start_tracks_ingest,
    )

    src, out, ckpt = stream_dirs
    _write_batch(src, "b1.json", WIRE_RECORDS + [WIRE_RECORDS[0]])  # in-batch dup
    q = start_tracks_ingest(
        read_tracks_stream_files(spark, str(src)), str(out), str(ckpt), dedupe=True
    )
    q.awaitTermination(120)
    assert spark.read.parquet(str(out)).count() == 2  # dup never landed

    # cross-batch dup within the watermark + one genuinely new record
    # (t9 carries an event time ABOVE the advanced watermark — an old
    # timestamp would be dropped as late, which is correct behavior)
    _write_batch(
        src,
        "b2.json",
        [
            WIRE_RECORDS[1],
            dict(WIRE_RECORDS[0], track_id="t9", ingest_ts="2025-08-01T07:00:00Z"),
        ],
    )
    q2 = start_tracks_ingest(
        read_tracks_stream_files(spark, str(src)), str(out), str(ckpt), dedupe=True
    )
    q2.awaitTermination(120)
    got = spark.read.parquet(str(out)).select("track_id").orderBy("track_id").collect()
    assert [r.track_id for r in got] == ["t1", "t2", "t9"]


def test_streaming_latest_state_upsert_sink(spark, tmp_path):
    """foreachBatch + partition-pruned upsert = the ReplacingMergeTree
    analog: two micro-batch rounds over the same checkpoint collapse to
    one row per key, stale updates lose, partitions accrete."""
    import json as _json

    from ravelytics_spark.streaming.pipeline import start_latest_state_upsert

    src = tmp_path / "src"
    src.mkdir()
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    schema = "track_id string, popularity long, ts timestamp, ingest_month string"

    def write_batch(fname, rows):
        (src / fname).write_text(
            "\n".join(_json.dumps(r) for r in rows), encoding="utf-8"
        )

    write_batch(
        "b1.json",
        [
            {"track_id": "a", "popularity": 10, "ts": "2025-01-01T00:00:00", "ingest_month": "202501"},
            {"track_id": "b", "popularity": 20, "ts": "2025-01-02T00:00:00", "ingest_month": "202501"},
        ],
    )
    stream = spark.readStream.schema(schema).json(str(src))
    q = start_latest_state_upsert(
        stream, wh, ckpt, key="track_id", ts="ts", partition_col="ingest_month"
    )
    q.awaitTermination(120)

    write_batch(
        "b2.json",
        [
            # newer update wins
            {"track_id": "a", "popularity": 99, "ts": "2025-01-09T00:00:00", "ingest_month": "202501"},
            # stale update loses
            {"track_id": "b", "popularity": 0, "ts": "2025-01-01T00:00:00", "ingest_month": "202501"},
            # new key, new partition
            {"track_id": "c", "popularity": 30, "ts": "2025-02-01T00:00:00", "ingest_month": "202502"},
        ],
    )
    stream2 = spark.readStream.schema(schema).json(str(src))
    q2 = start_latest_state_upsert(
        stream2, wh, ckpt, key="track_id", ts="ts", partition_col="ingest_month"
    )
    q2.awaitTermination(120)

    got = {
        r["track_id"]: (r["popularity"], r["ingest_month"])
        for r in spark.read.parquet(wh).collect()
    }
    assert got == {
        "a": (99, "202501"),
        "b": (20, "202501"),
        "c": (30, "202502"),
    }


def test_idempotent_foreach_batch_skips_replayed_batch_ids(spark, tmp_path):
    """Simulated at-least-once replay: the same batch_id applied twice
    must reach the sink once; new batch_ids pass through; a second job
    name has its own dedup space."""
    from ravelytics_spark.streaming.pipeline import (
        BatchLedger,
        idempotent_foreach_batch,
    )

    ledger = BatchLedger(str(tmp_path / "batches.jsonl"))
    applied = []
    sink = idempotent_foreach_batch(
        lambda df, bid: applied.append((bid, df.count())), ledger, "jobA"
    )
    df = spark.range(3)
    sink(df, 0)
    sink(df, 0)  # replay after crash-before-checkpoint → skipped
    sink(df, 1)
    assert applied == [(0, 3), (1, 3)]
    # a different query has an independent ledger namespace
    other = idempotent_foreach_batch(
        lambda df, bid: applied.append(("B", bid)), ledger, "jobB"
    )
    other(df, 0)
    assert applied == [(0, 3), (1, 3), ("B", 0)]


def test_idempotent_foreach_batch_end_to_end_append_sink(spark, tmp_path):
    """Drive it through a real writeStream: an APPEND parquet sink
    (non-idempotent by nature) wrapped in the batch ledger; restarting
    the stream over the same source must not duplicate rows."""
    import json

    from ravelytics_spark.streaming.pipeline import (
        BatchLedger,
        idempotent_foreach_batch,
    )

    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    (src / "a.json").write_text(
        "\n".join(json.dumps({"k": i}) for i in range(5)) + "\n"
    )
    ledger = BatchLedger(str(tmp_path / "batches.jsonl"))

    def run_once():
        stream = spark.readStream.schema("k long").json(str(src))
        sink = idempotent_foreach_batch(
            lambda df, bid: df.write.mode("append").parquet(str(out)),
            ledger,
            "append_job",
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert spark.read.parquet(str(out)).count() == 5
    # wipe the checkpoint to force a full re-read (the worst replay):
    # the ledger alone must prevent double-append
    import shutil

    shutil.rmtree(ckpt)
    run_once()
    assert spark.read.parquet(str(out)).count() == 5


def test_enriched_ingest_sees_dim_updates_between_batches(spark, tmp_path):
    """The broadcast-refresh pattern: a dim row updated between
    micro-batches must enrich the NEXT batch without restarting
    anything but the availableNow trigger."""
    import json

    src = tmp_path / "src"
    dim = tmp_path / "dim"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    from ravelytics_spark.streaming.pipeline import start_enriched_ingest

    def run():
        stream = spark.readStream.schema("event_id long, artist_id string").json(
            str(src)
        )
        q = start_enriched_ingest(
            stream, str(dim), str(out), str(ckpt), join_key="artist_id"
        )
        q.awaitTermination(120)

    spark.createDataFrame(
        [("a1", "Detroit Techno")], ["artist_id", "genre"]
    ).write.mode("overwrite").parquet(str(dim))
    (src / "b1.json").write_text(json.dumps({"event_id": 1, "artist_id": "a1"}) + "\n")
    run()

    # dim update lands for the next batch, no restart of anything else
    spark.createDataFrame(
        [("a1", "Minimal Techno")], ["artist_id", "genre"]
    ).write.mode("overwrite").parquet(str(dim))
    (src / "b2.json").write_text(json.dumps({"event_id": 2, "artist_id": "a1"}) + "\n")
    run()

    got = {r.event_id: r.genre for r in spark.read.parquet(str(out)).collect()}
    assert got == {1: "Detroit Techno", 2: "Minimal Techno"}


# ---------------------------------------------------------------------------
# Consumer-side failure injection: the upsert sink's replay contract
# (round-11 verdict item 8 — the producer side got delivery-callback
# failure tests in round 11; this is the ingest half)
# ---------------------------------------------------------------------------


def _upsert_rows(spark, wh):
    return {
        r["track_id"]: (r["popularity"], r["ingest_month"])
        for r in spark.read.parquet(wh).collect()
    }


def _write_json(src, fname, rows):
    import json as _json

    (src / fname).write_text(
        "\n".join(_json.dumps(r) for r in rows), encoding="utf-8"
    )


_UPSERT_SCHEMA = (
    "track_id string, popularity long, ts timestamp, ingest_month string"
)


def test_upsert_sink_replay_after_crash_before_commit(spark, tmp_path, monkeypatch):
    """foreachBatch is at-least-once: crash AFTER the merge fully
    applied but BEFORE the checkpoint commit, restart over the same
    checkpoint — Spark replays batch 0 with the same data, the merge
    runs twice, and the table must converge to exactly one row per key
    with the winning values (the idempotence the docstring promises,
    now executed instead of assumed)."""
    from ravelytics_spark.operators import maintenance as MNT
    from ravelytics_spark.streaming.pipeline import start_latest_state_upsert

    src = tmp_path / "src"
    src.mkdir()
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    _write_json(
        src,
        "b1.json",
        [
            {"track_id": "a", "popularity": 10, "ts": "2025-01-01T00:00:00", "ingest_month": "202501"},
            {"track_id": "a", "popularity": 55, "ts": "2025-01-05T00:00:00", "ingest_month": "202501"},
            {"track_id": "b", "popularity": 20, "ts": "2025-01-02T00:00:00", "ingest_month": "202501"},
            {"track_id": "c", "popularity": 30, "ts": "2025-02-01T00:00:00", "ingest_month": "202502"},
        ],
    )

    real = MNT.upsert_partitioned

    def crash_after_apply(*a, **kw):
        real(*a, **kw)
        raise RuntimeError("injected: crashed before checkpoint commit")

    monkeypatch.setattr(MNT, "upsert_partitioned", crash_after_apply)
    stream = spark.readStream.schema(_UPSERT_SCHEMA).json(str(src))
    q = start_latest_state_upsert(
        stream, wh, ckpt, key="track_id", ts="ts", partition_col="ingest_month"
    )
    with pytest.raises(Exception, match="injected"):
        q.awaitTermination(120)
        raise q.exception() or AssertionError("query should have failed")

    # the merge DID land before the crash (at-least-once, not at-most)
    assert _upsert_rows(spark, wh) == {
        "a": (55, "202501"),
        "b": (20, "202501"),
        "c": (30, "202502"),
    }

    # restart clean over the SAME checkpoint: batch 0 replays
    monkeypatch.setattr(MNT, "upsert_partitioned", real)
    stream2 = spark.readStream.schema(_UPSERT_SCHEMA).json(str(src))
    q2 = start_latest_state_upsert(
        stream2, wh, ckpt, key="track_id", ts="ts", partition_col="ingest_month"
    )
    q2.awaitTermination(120)
    assert _upsert_rows(spark, wh) == {
        "a": (55, "202501"),
        "b": (20, "202501"),
        "c": (30, "202502"),
    }, "replayed merge must be a no-op, not a duplicate"


def test_upsert_sink_replay_after_mid_merge_crash(spark, tmp_path, monkeypatch):
    """Harsher: the crash lands MID-merge — one touched partition
    rewritten, the other not, as a crash between two partitions'
    promotions in one swap leaves it. The restart's replay must repair
    the un-applied partition and leave the applied one unchanged (the
    partition-by-partition swap plus the idempotent fold make partial
    application safe)."""
    from pyspark.sql import functions as F

    from ravelytics_spark.operators import maintenance as MNT
    from ravelytics_spark.streaming.pipeline import start_latest_state_upsert

    src = tmp_path / "src"
    src.mkdir()
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    _write_json(
        src,
        "b1.json",
        [
            {"track_id": "a", "popularity": 10, "ts": "2025-01-01T00:00:00", "ingest_month": "202501"},
            {"track_id": "c", "popularity": 30, "ts": "2025-02-01T00:00:00", "ingest_month": "202502"},
        ],
    )

    real = MNT.upsert_partitioned

    def crash_mid_merge(spark_, path, delta, **kw):
        # apply only the 202501 slice, then die — a crash between
        # two partitions' promotions
        real(spark_, path, delta.filter(F.col("ingest_month") == "202501"), **kw)
        raise RuntimeError("injected: crashed mid-merge")

    monkeypatch.setattr(MNT, "upsert_partitioned", crash_mid_merge)
    stream = spark.readStream.schema(_UPSERT_SCHEMA).json(str(src))
    q = start_latest_state_upsert(
        stream, wh, ckpt, key="track_id", ts="ts", partition_col="ingest_month"
    )
    with pytest.raises(Exception, match="injected"):
        q.awaitTermination(120)
        raise q.exception() or AssertionError("query should have failed")
    assert _upsert_rows(spark, wh) == {"a": (10, "202501")}

    monkeypatch.setattr(MNT, "upsert_partitioned", real)
    stream2 = spark.readStream.schema(_UPSERT_SCHEMA).json(str(src))
    q2 = start_latest_state_upsert(
        stream2, wh, ckpt, key="track_id", ts="ts", partition_col="ingest_month"
    )
    q2.awaitTermination(120)
    assert _upsert_rows(spark, wh) == {
        "a": (10, "202501"),
        "c": (30, "202502"),
    }, "replay must repair the unapplied partition without duping the applied one"
