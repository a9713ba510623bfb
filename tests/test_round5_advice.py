"""Round-5 regression tests for the round-4 ADVICE items.

Covers:
- dataset_fingerprint changes when a parquet file at the same path is
  rewritten, and is stable when nothing changed;
- x30_rp_projection rebuilds its probe + plan after an in-process
  rewrite of the SAME sf_dir (stale dims / stale overflow bound was
  the medium-severity advice item);
- x22_centroid_assign rebuilds its collected-centroid plan after a
  same-path rewrite, and drops malformed (null / wrong-width)
  embeddings instead of assigning them to the lowest-sorting label;
- x86_shard_manifest's shard key never goes negative for doc_ids
  beyond 2^31 (the BIGINT-overflow engine divergence);
- the data-keyed memo (sources.tables.memo) never serves a stale value:
  not for a path os.path cannot stat (a file:// URI), not after a
  same-path rewrite that changes a column's type, and never to another
  SparkSession;
- load_table reads a parquet TIMESTAMP(NANOS) column as microsecond
  timestamps without touching the session's settings.
"""

from __future__ import annotations

import os

import pytest
from conftest import py4j_calls
from pyspark.sql import functions as F

from ravelytics_spark.plans.queries import REGISTRY
from ravelytics_spark.sources.tables import dataset_fingerprint, load_table

SF = "/root/testdata/sf0.001"


def _stage_embeddings(spark, dst_dir: str, dims: int, n: int, labels=("a", "b")):
    """Write a tiny uniform-width embeddings table to dst_dir."""
    rows = [
        (i, labels[i % len(labels)], [float((i + j) % 7) - 3.0 for j in range(dims)])
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, label string, embedding array<double>")
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(dst_dir, "embeddings.parquet")
    )


def test_fingerprint_stable_then_changes_on_rewrite(spark, tmp_path):
    d = str(tmp_path)
    _stage_embeddings(spark, d, dims=4, n=10)
    fp1 = dataset_fingerprint(d, "embeddings")
    fp2 = dataset_fingerprint(d, "embeddings")
    assert fp1 == fp2, "fingerprint must be deterministic with no rewrite"
    _stage_embeddings(spark, d, dims=6, n=12)
    fp3 = dataset_fingerprint(d, "embeddings")
    assert fp3 != fp1, "rewriting the same path must change the fingerprint"


def test_fingerprint_missing_table(tmp_path):
    fp = dataset_fingerprint(str(tmp_path), "embeddings")
    assert fp[1] is None


def _is_prepared_hit(fn, spark, d) -> bool:
    """A registry call that reuses the stored plan makes a handful of
    py4j calls; a build makes hundreds."""
    with py4j_calls() as calls:
        fn(spark, d)
    return calls[0] <= 12


def test_x30_rebuilds_after_same_path_rewrite(spark, tmp_path):
    x30_rp_projection = REGISTRY["x30_rp_projection"].spark

    d = str(tmp_path)
    _stage_embeddings(spark, d, dims=4, n=8)
    out1 = x30_rp_projection(spark, d)
    rows1 = out1.collect()
    assert {len(set(r.vec_id for r in rows1))} == {8}
    # unchanged dataset: the stored plan is reused
    assert _is_prepared_hit(x30_rp_projection, spark, d)

    # rewrite the SAME path with a different vector width — the probe
    # (dims, max|x|) is data, so the plan must be rebuilt, not served
    # stale (stale dims would null/truncate every projection)
    _stage_embeddings(spark, d, dims=6, n=5)
    out2 = x30_rp_projection(spark, d)
    assert out2 is not out1
    rows2 = out2.collect()
    assert len(set(r.vec_id for r in rows2)) == 5
    assert all(r.proj is not None for r in rows2)


def test_x22_rebuilds_after_same_path_rewrite(spark, tmp_path):
    x22_centroid_assign = REGISTRY["x22_centroid_assign"].spark

    d = str(tmp_path)
    _stage_embeddings(spark, d, dims=4, n=20, labels=("a", "b"))
    out1 = x22_centroid_assign(spark, d)
    n1 = out1.agg(F.sum("n")).first()[0]
    assert n1 == 20
    assert _is_prepared_hit(x22_centroid_assign, spark, d)

    _stage_embeddings(spark, d, dims=4, n=30, labels=("a", "b", "c"))
    out2 = x22_centroid_assign(spark, d)
    assert out2 is not out1
    rows2 = out2.collect()
    assert {r.assigned for r in rows2} <= {"a", "b", "c"}
    assert sum(r.n for r in rows2) == 30


def test_x22_drops_malformed_vectors(spark, tmp_path):
    """Null / wrong-width embeddings must be DROPPED before the argmin
    — a NULL d2 struct sorts before every real distance in F.least and
    would silently win the assignment."""
    from ravelytics_spark.plans.round3 import x22_centroid_assign

    d = str(tmp_path)
    good = [
        (i, "a" if i % 2 == 0 else "b", [float(i % 5), 1.0, -2.0, 0.5])
        for i in range(12)
    ]
    bad = [(100, "a", None), (101, "b", [1.0, 2.0])]  # null + short
    df = spark.createDataFrame(
        good + bad, "vec_id long, label string, embedding array<double>"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "embeddings.parquet")
    )
    out = x22_centroid_assign(spark, d)
    # NOTE: the centroid agg itself sees all labels; only well-formed
    # vectors are assigned/counted
    assert out.agg(F.sum("n")).first()[0] == len(good)


def test_x86_shard_nonnegative_beyond_2pow31(spark, tmp_path):
    """doc_id * KNUTH overflows BIGINT for doc_id ≳ 3.47e9; the masked
    form must keep every shard in [0, 16) for ids far beyond 2^31."""
    from ravelytics_spark.plans.queries import REGISTRY

    d = str(tmp_path)
    big_ids = [2**31 - 1, 2**31, 2**33 + 7, 2**40 + 123456789, 2**62]
    rows = [(i, "doc text %d" % (i % 97), "web") for i in big_ids]
    spark.createDataFrame(rows, "doc_id long, text string, source string") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(os.path.join(d, "documents.parquet"))
    out = REGISTRY["x86_shard_manifest"].spark(spark, d).collect()
    assert out, "expected at least one shard row"
    for r in out:
        assert 0 <= r.shard < 16, f"shard out of range: {r.shard}"
    assert sum(r.n_docs for r in out) == len(big_ids)


def test_x30_file_uri_rebuilds_after_rewrite(spark, tmp_path):
    """A file:// URI is readable by Spark but has no os.path fingerprint;
    the memo must rebuild on every call instead of keying on a constant."""
    x30_rp_projection = REGISTRY["x30_rp_projection"].spark

    d = str(tmp_path)
    _stage_embeddings(spark, d, dims=4, n=8)
    out1 = x30_rp_projection(spark, "file://" + d)
    assert len({r.vec_id for r in out1.collect()}) == 8

    _stage_embeddings(spark, d, dims=6, n=5)
    out2 = x30_rp_projection(spark, "file://" + d)
    assert out2 is not out1
    rows2 = out2.collect()
    assert len({r.vec_id for r in rows2}) == 5
    assert all(r.proj is not None for r in rows2)


def test_load_table_schema_follows_type_rewrite(spark, tmp_path):
    d = str(tmp_path)
    path = os.path.join(d, "documents.parquet")
    spark.createDataFrame([(1, "a")], "doc_id long, text string") \
        .coalesce(1).write.mode("overwrite").parquet(path)
    assert dict(load_table(spark, d, "documents").dtypes)["doc_id"] == "bigint"
    # memo hit: same schema, same values
    assert load_table(spark, d, "documents").first().doc_id == 1

    spark.createDataFrame([("x1", "a")], "doc_id string, text string") \
        .coalesce(1).write.mode("overwrite").parquet(path)
    df = load_table(spark, d, "documents")
    assert dict(df.dtypes)["doc_id"] == "string"
    assert df.first().doc_id == "x1"


@pytest.mark.parametrize("name", ["x22_centroid_assign", "x30_rp_projection"])
def test_memo_never_crosses_sessions(spark, tmp_path, name):
    d = str(tmp_path)
    _stage_embeddings(spark, d, dims=4, n=12)
    fn = REGISTRY[name].spark
    out1 = fn(spark, d)
    assert _is_prepared_hit(fn, spark, d)
    other = spark.newSession()
    # another session builds its own plan, which is stored for it in turn
    assert not _is_prepared_hit(fn, other, d)
    assert _is_prepared_hit(fn, other, d)
    out2 = fn(other, d)
    # the staged table is small: other's small sibling
    assert out2.sparkSession._small_sibling_of is other
    assert sorted(out2.collect()) == sorted(out1.collect())


def test_load_table_reads_nanos_timestamps(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999, None]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
        }),
        os.path.join(str(tmp_path), "events.parquet"),
    )
    before = spark.conf.getAll
    df = load_table(spark, str(tmp_path), "events")
    assert spark.conf.getAll == before
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = [r.us for r in df.orderBy("event_id").select(F.unix_micros("ts").alias("us")).collect()]
    assert got == [v // 1000 if v is not None else None for v in ns]
