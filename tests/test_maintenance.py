"""Partition-pruned upsert ≡ full recompute; compaction reduces
files and preserves data; a crash at any step of a partition swap loses
and doubles nothing; audit flags localize defaulted records."""

from __future__ import annotations

import datetime
import itertools
import os
import shutil

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ravelytics_spark.operators.latest_state import latest_state
from ravelytics_spark.operators.maintenance import cleanse_tracks_with_audit, compact_partitions


def _t(day):
    return datetime.datetime(2025, 7, day)


def test_compaction_preserves_rows_and_reduces_files(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"m{i % 2}") for i in range(1000)], ["x", "p"]
    )
    out = str(tmp_path / "wh")
    # write fragmented: many small files per partition
    df.repartition(20).write.partitionBy("p").parquet(out)
    n_before = len([f for f in os.listdir(f"{out}/p=m0") if f.endswith(".parquet")])
    assert n_before > 5

    compact_partitions(spark, out, "p", target_file_rows=10_000)
    n_after = len([f for f in os.listdir(f"{out}/p=m0") if f.endswith(".parquet")])
    assert n_after == 1
    back = spark.read.parquet(out)
    assert back.count() == 1000
    assert back.agg(F.sum("x")).collect()[0][0] == sum(range(1000))


def test_audit_flags_localize_bad_records(spark):
    from ravelytics_spark.schemas import TRACKS_WIRE_SCHEMA

    rows = [
        # clean record: no flags
        Row(ingest_ts="2025-07-30T06:00:00Z", track_id="ok", track_name="n",
            artists=["a"], artist_ids=["i"], album_id="", album_name="",
            release_date="2021-05-05", popularity=1,
            added_at="2025-07-30T06:00:00Z", external_url=""),
        # broken record: garbage everywhere
        Row(ingest_ts="not-a-ts", track_id="bad", track_name="n",
            artists=["a"], artist_ids=["i"], album_id="", album_name="",
            release_date="garbage", popularity=1, added_at="nope",
            external_url=""),
        # redelivery of "ok" (a later ingest_ts, popularity 2) with a
        # garbage release date: its flags are its own, not "ok"'s
        Row(ingest_ts="2025-07-31 06:00:00", track_id="ok", track_name="n",
            artists=["a"], artist_ids=["i"], album_id="", album_name="",
            release_date="soon", popularity=2,
            added_at="2025-07-31T06:00:00Z", external_url=""),
    ]
    wire = spark.createDataFrame(rows, TRACKS_WIRE_SCHEMA)
    audited = cleanse_tracks_with_audit(wire)
    got = audited.collect()
    assert len(got) == len(rows)  # one row per delivery, no fan-out
    by_delivery = {(r.track_id, r.popularity): r for r in got}
    ok, redelivered, bad = by_delivery["ok", 1], by_delivery["ok", 2], by_delivery["bad", 1]
    assert not (ok.ingest_ts_defaulted or ok.release_date_defaulted or ok.added_at_defaulted)
    assert bad.ingest_ts_defaulted and bad.release_date_defaulted and bad.added_at_defaulted
    assert redelivered.release_date_defaulted
    assert not (redelivered.ingest_ts_defaulted or redelivered.added_at_defaulted)
    assert str(bad.release_date) == "1970-01-01"  # still cleansed downstream
    assert str(redelivered.release_date) == "1970-01-01"
    quarantine = audited.filter(
        F.col("ingest_ts_defaulted") | F.col("release_date_defaulted") | F.col("added_at_defaulted")
    )
    assert sorted(r.track_id for r in quarantine.collect()) == ["bad", "ok"]


def test_compaction_refuses_streaming_sink_root(spark, tmp_path):
    """Rewriting part files under a _spark_metadata-managed root would
    invalidate the sink's transaction log — must refuse."""
    import pytest

    out = str(tmp_path / "sinkroot")
    spark.createDataFrame([(1, "m0")], ["x", "p"]).write.partitionBy("p").parquet(out)
    os.makedirs(os.path.join(out, "_spark_metadata"))
    with pytest.raises(ValueError, match="_spark_metadata"):
        compact_partitions(spark, out, "p")


def test_compaction_skips_partitions_inside_ingest_window(spark, tmp_path):
    """min_quiesce_s leaves recently-written partitions untouched (they
    may still be receiving appends)."""
    out = str(tmp_path / "wh2")
    df = spark.createDataFrame([(i, "m0") for i in range(100)], ["x", "p"])
    df.repartition(10).write.partitionBy("p").parquet(out)
    n_before = len([f for f in os.listdir(f"{out}/p=m0") if f.endswith(".parquet")])
    compact_partitions(spark, out, "p", min_quiesce_s=3600)
    n_after = len([f for f in os.listdir(f"{out}/p=m0") if f.endswith(".parquet")])
    assert n_after == n_before  # fresh partition skipped

    compact_partitions(spark, out, "p", min_quiesce_s=0)
    n_final = len([f for f in os.listdir(f"{out}/p=m0") if f.endswith(".parquet")])
    assert n_final == 1  # quiesced (cap lifted) → compacted


def _write_state_table(spark, path):
    rows = [
        Row(track_id="a", ingest_month="202501", popularity=10, ts=_t(1)),
        Row(track_id="b", ingest_month="202501", popularity=20, ts=_t(2)),
        Row(track_id="c", ingest_month="202502", popularity=30, ts=_t(3)),
    ]
    df = spark.createDataFrame(rows).select(
        "track_id", "popularity", "ts", "ingest_month"
    )
    df.write.partitionBy("ingest_month").mode("overwrite").parquet(path)


def test_upsert_rewrites_only_touched_partitions(spark, tmp_path):
    from ravelytics_spark.operators.maintenance import upsert_partitioned

    path = str(tmp_path / "wh")
    _write_state_table(spark, path)
    untouched = os.path.join(path, "ingest_month=202502")
    before = {
        f: os.path.getmtime(os.path.join(untouched, f))
        for f in os.listdir(untouched)
    }

    delta = spark.createDataFrame(
        [
            # update existing key in 202501 (newer ts wins)
            Row(track_id="a", popularity=99, ts=_t(9), ingest_month="202501"),
            # stale update must LOSE to current state
            Row(track_id="b", popularity=0, ts=_t(1), ingest_month="202501"),
            # brand-new key in a brand-new partition
            Row(track_id="d", popularity=40, ts=_t(5), ingest_month="202503"),
        ]
    ).select("track_id", "popularity", "ts", "ingest_month")

    touched = upsert_partitioned(
        spark, path, delta, key="track_id", ts="ts",
        partition_col="ingest_month",
    )
    assert touched == ["202501", "202503"]

    after = {
        f: os.path.getmtime(os.path.join(untouched, f))
        for f in os.listdir(untouched)
    }
    assert before == after  # untouched partition bit-untouched

    got = {
        r["track_id"]: r["popularity"]
        for r in spark.read.parquet(path).collect()
    }
    assert got == {"a": 99, "b": 20, "c": 30, "d": 40}


def test_upsert_equals_full_recompute(spark, tmp_path):
    from ravelytics_spark.operators.maintenance import upsert_partitioned

    path = str(tmp_path / "wh2")
    _write_state_table(spark, path)
    original = spark.read.parquet(path).select(
        "track_id", "popularity", "ts", "ingest_month"
    )
    delta = spark.createDataFrame(
        [
            Row(track_id="a", popularity=77, ts=_t(8), ingest_month="202501"),
            Row(track_id="c", popularity=31, ts=_t(4), ingest_month="202502"),
        ]
    ).select("track_id", "popularity", "ts", "ingest_month")
    expected = {
        (r["track_id"], r["popularity"])
        for r in latest_state(
            original.unionByName(delta), key="track_id", ts="ts"
        ).collect()
    }
    upsert_partitioned(
        spark, path, delta, key="track_id", ts="ts",
        partition_col="ingest_month",
    )
    got = {
        (r["track_id"], r["popularity"])
        for r in spark.read.parquet(path).collect()
    }
    assert got == expected


class _Crash(RuntimeError):
    pass


def _crash_at(m, root, at, steps):
    """Make the ``at``-th filesystem step under ``root`` crash the
    process: a parquet write (after it landed), an ``os.rename`` or a
    ``shutil.rmtree`` (before it runs). Every step seen is appended to
    ``steps``."""
    from pyspark.sql.readwriter import DataFrameWriter

    def step(kind, target):
        if str(target).startswith(root + os.sep) or str(target) == root:
            steps.append(kind)
            if len(steps) - 1 == at:
                raise _Crash(f"injected crash at step {at} ({kind} {target})")

    write, rename, rmtree = DataFrameWriter.parquet, os.rename, shutil.rmtree

    def crashing_write(self, path, *a, **kw):
        write(self, path, *a, **kw)
        step("write", path)

    def crashing_rename(src, dst, *a, **kw):
        step("rename", src)
        return rename(src, dst, *a, **kw)

    def crashing_rmtree(path, *a, **kw):
        step("rmtree", path)
        return rmtree(path, *a, **kw)

    m.setattr(DataFrameWriter, "parquet", crashing_write)
    m.setattr(os, "rename", crashing_rename)
    m.setattr(shutil, "rmtree", crashing_rmtree)


@pytest.mark.parametrize("op", ["upsert", "compact"])
def test_swap_crash_at_every_step_loses_and_doubles_nothing(spark, tmp_path, monkeypatch, op):
    """Crash the operator at each filesystem step of its partition swap
    in turn (the staging write, every rename and every rmtree). Right
    after the crash a reader of the root sees only real partition
    values and at most one row per (partition, key); the next call
    (re-applying the same delta, for the upsert) leaves exactly the
    state a crash-free run leaves."""
    from ravelytics_spark.operators.maintenance import upsert_partitioned

    rows = [("k1", "202401", 1, _t(1)), ("k2", "202401", 2, _t(1)), ("k3", "202402", 3, _t(1))]
    table = spark.createDataFrame(rows, "k string, m string, v long, ts timestamp")
    delta = spark.createDataFrame(
        [("k1", "202401", 10, _t(5)), ("k4", "202402", 4, _t(5)), ("k5", "202403", 5, _t(5))],
        table.schema,
    )
    real_values = {"202401", "202402", "202403"}
    template = str(tmp_path / "template")
    table.repartition(3).write.partitionBy("m").parquet(template)

    def run(root):
        if op == "upsert":
            upsert_partitioned(spark, root, delta, key="k", ts="ts", partition_col="m")
        else:
            compact_partitions(spark, root, "m")

    def state(root):
        files = {
            d: sum(f.endswith(".parquet") for f in os.listdir(os.path.join(root, d)))
            for d in os.listdir(root)
            if op == "compact" and "=" in d
        }
        back = spark.read.parquet(root).select("m", "k", "v", "ts").collect()
        return sorted(back), sorted(os.listdir(root)), files

    ref = shutil.copytree(template, str(tmp_path / "ref"))
    run(ref)
    want = state(ref)

    crashed = []
    for at in itertools.count():
        root = shutil.copytree(template, str(tmp_path / f"crash{at}"))
        steps = []
        with monkeypatch.context() as m:
            _crash_at(m, root, at, steps)
            try:
                run(root)
            except _Crash:
                crashed.append(steps[-1])
            else:
                assert len(steps) == at, "every step was crashed once"
                break
        seen = [(r.m, r.k) for r in spark.read.parquet(root).select("m", "k").collect()]
        where = f"crash at step {at} ({steps[-1]})"
        assert {v for v, _ in seen} <= real_values, f"{where}: reader sees {seen}"
        assert len(seen) == len(set(seen)), f"{where}: doubled rows {sorted(seen)}"
        run(root)
        assert state(root) == want, f"{where} not repaired"
    assert {"write", "rename", "rmtree"} <= set(crashed), crashed
