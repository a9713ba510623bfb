"""applyInPandasWithState sessionizer: state carries across micro-batches."""

from __future__ import annotations

import json
import tempfile
import time
from pathlib import Path

import pytest


@pytest.fixture()
def dirs():
    # ignore_cleanup_errors: the state-store maintenance thread may still
    # be flushing checkpoint files when the query stops
    with tempfile.TemporaryDirectory(ignore_cleanup_errors=True) as d:
        src = Path(d) / "src"
        ckpt = Path(d) / "ckpt"
        src.mkdir()
        yield src, ckpt


def _write(src: Path, name: str, rows):
    (src / name).write_text("\n".join(json.dumps(r) for r in rows))


def _run_batch(spark, src, ckpt, qname):
    from ravelytics_spark.streaming.stateful import user_session_stats

    stream = spark.readStream.schema("user_id long, ts_epoch double").json(str(src))
    out = user_session_stats(stream, gap_s=1800.0)
    collected, data_batches = [], []

    def sink(batch_df, batch_id):
        rows = batch_df.collect()
        if rows:
            data_batches.append(batch_id)
        collected.extend(rows)

    # foreachBatch (unlike the memory sink) supports checkpoint recovery,
    # which the cross-restart state assertion needs.
    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    # availableNow + ProcessingTimeTimeout never self-terminates: once the
    # data batch commits, the engine loops "No new data but cleaning up
    # state" running timeout-eviction batches forever (probed 200s+ with
    # no termination; processAllAvailable blocks on the same loop), so a
    # bare awaitTermination(120) burned its full timeout TWICE per test
    # (~4 min). Wait for the data batch's entry in the checkpoint COMMIT
    # log instead — rows are collected by foreachBatch before the commit
    # is written, and a committed batch is all the cross-restart
    # assertion needs — then stop the cleanup loop.
    _await_data_commit(ckpt, data_batches)
    q.stop()
    q.awaitTermination(60)
    return {r.user_id: (r.session_count, r.current_len) for r in collected}


def _await_data_commit(ckpt: Path, data_batches: list, deadline_s: float = 120.0):
    """Wait until the batch that delivered rows is in the commit log. Any
    new commit is not enough: q.stop() can interrupt a no-data cleanup
    batch, and the restarted query replays and commits that one first."""
    t0 = time.time()
    while time.time() - t0 < deadline_s:
        if data_batches and (ckpt / "commits" / str(data_batches[0])).exists():
            return
        time.sleep(0.2)
    raise AssertionError("streaming data batch never committed")


def test_state_carries_across_microbatches(spark, dirs):
    src, ckpt = dirs
    # batch 1: user 1 → two events 5 min apart (one session)
    _write(src, "b1.json", [
        {"user_id": 1, "ts_epoch": 1000.0},
        {"user_id": 1, "ts_epoch": 1300.0},
        {"user_id": 2, "ts_epoch": 1000.0},
    ])
    got = _run_batch(spark, src, ckpt, "sess_b1")
    assert got[1] == (1, 2)
    assert got[2] == (1, 1)

    # batch 2: user 1 returns after > gap → session_count increments
    # (requires state restored from the checkpointed store)
    _write(src, "b2.json", [{"user_id": 1, "ts_epoch": 1300.0 + 4000.0}])
    got2 = _run_batch(spark, src, ckpt, "sess_b2")
    assert got2[1] == (2, 1)
    assert 2 not in got2  # update mode: untouched users not re-emitted


def test_timeout_evicts_idle_user_state():
    """When ProcessingTimeTimeout fires, the handler must remove the
    state and emit nothing — not re-arm the timeout and emit a spurious
    duplicate row (unbounded state growth for idle users)."""
    from ravelytics_spark.streaming.stateful import _update_user_sessions

    class FakeState:
        hasTimedOut = True
        exists = True
        get = (3, 100.0, 2)

        def __init__(self):
            self.removed = False

        def remove(self):
            self.removed = True

        def update(self, v):
            raise AssertionError("timeout path must not update state")

        def setTimeoutDuration(self, ms):
            raise AssertionError("timeout path must not re-arm the timeout")

    state = FakeState()
    out = list(_update_user_sessions((7,), iter([]), state))
    assert out == []
    assert state.removed
