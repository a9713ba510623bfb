"""Oracle-comparison and semantic tests for the catalog entries in
plans/round34_staged.py (x346-x355): compaction planning, Wilcoxon
signed-rank, split+leakage audit, doc repetition, and the
incremental-dedup contract."""

from __future__ import annotations

import pytest
from conftest import entries_of
from pyspark.sql import functions as F

from ravelytics_spark.plans.round34_staged import (
    _COMPACT_TARGET,
)
from ravelytics_spark.sources.tables import load_table
from ravelytics_spark.testing import compare, duckdb_connection

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
ENTRIES = entries_of("round34_staged")


@pytest.mark.parametrize("name", sorted(ENTRIES))
@pytest.mark.parametrize("sf_dir", SFS)
def test_round34_staged_matches_oracle(spark, name, sf_dir):
    entry = ENTRIES[name]
    assert entry.oracle is not None
    con = duckdb_connection(sf_dir)
    problems = compare(
        entry.spark(spark, sf_dir),
        con,
        entry.oracle,
        name,
        strict_row_order=True,
    )
    assert not problems, problems


# ---------------------------------------------------------------------------
# Semantic properties the oracle twin cannot express
# ---------------------------------------------------------------------------


def test_compaction_bins_hit_target_size(spark):
    """Every bin except the last per source lands in
    [target, target + max_file): the property that makes the plan a
    compaction (no undersized bins mid-partition), plus conservation
    of files and bytes."""
    sf = SFS[1]
    rows = ENTRIES["x346_compaction_plan"].spark(spark, sf).collect()
    docs = (
        load_table(spark, sf, "documents")
        .filter(F.col("n_chars").isNotNull())
        .agg(
            F.count("*").alias("n"),
            F.sum("n_chars").alias("bytes"),
            F.max("n_chars").alias("mx"),
        )
        .collect()[0]
    )
    assert sum(r.n_files for r in rows) == docs.n
    assert sum(r.bytes for r in rows) == docs.bytes
    by_source: dict = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    for source, bins in by_source.items():
        bins.sort(key=lambda r: r.bin)
        for r in bins[:-1]:
            assert _COMPACT_TARGET <= r.bytes < _COMPACT_TARGET + docs.mx, (
                source,
                r.bin,
                r.bytes,
            )


def test_incremental_dedup_matches_full_dedup_on_the_batch(spark):
    """The incremental contract: kept-new == (full-corpus keep-min
    winners that happen to fall in the new generation AND whose hash
    is absent from the old generation). Verified against a direct
    full recomputation."""
    sf = SFS[1]
    kept = {
        r.doc_id
        for r in ENTRIES["x355_incremental_dedup"].spark(spark, sf).collect()
    }
    d = load_table(spark, sf, "documents").filter(F.col("text").isNotNull())
    g = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":gen"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(10),
    )
    rows = d.select("doc_id", F.md5("text").alias("h"), g.alias("g")).collect()
    old_hashes = {r.h for r in rows if r.g < 7}
    batch = [r for r in rows if r.g >= 7]
    expect: dict = {}
    for r in batch:
        if r.h in old_hashes:
            continue
        if r.h not in expect or r.doc_id < expect[r.h]:
            expect[r.h] = r.doc_id
    assert kept == set(expect.values())
    assert kept  # the 30% batch is non-trivial on shipped data


def test_split_fractions_and_leakage_bounds(spark):
    """Split fractions concentrate near 80/10/10 and leakage is
    bounded by the total near-dup pair count."""
    sf = SFS[1]
    row = ENTRIES["x352_split_leakage"].spark(spark, sf).collect()[0]
    n = row.n_train + row.n_val + row.n_test
    assert abs(row.n_train / n - 0.8) < 0.05
    assert abs(row.n_val / n - 0.1) < 0.04
    assert abs(row.n_test / n - 0.1) < 0.04
    from ravelytics_spark.plans.round19 import portable_minhash_pairs

    total_pairs = portable_minhash_pairs(
        spark, load_table(spark, sf, "documents")
    ).count()
    assert 0 <= row.leak_pairs <= total_pairs


def test_wilcoxon_rank_identities(spark):
    """W2+ is bounded by the total doubled rank mass n(n+1), and the
    shipped data's first->second deltas are near-symmetric (|z| small
    relative to a planted one-sided shift)."""
    row = ENTRIES["x349_wilcoxon_signed_rank"].spark(spark, SFS[1]).collect()[0]
    assert 0 <= row.w2p <= row.n * (row.n + 1)
    assert row.tie3 >= 0
    assert abs(row.z_milli) < 10_000


def test_doc_repetition_flags_planted_loop(spark, tmp_path):
    """A document that is one sentence repeated 50 times scores near
    10^6 ppm on both signals; normal docs sit far lower."""
    sf = SFS[0]
    base = ENTRIES["x353_doc_repetition"].spark(spark, sf)
    base_max = base.agg(F.max("dup5_ppm")).collect()[0][0]
    out = str(tmp_path / "looped")
    d = load_table(spark, sf, "documents")
    loop_text = " ".join(["the quick brown fox jumps"] * 50)
    planted = d.limit(1).select(
        F.lit(999_999).cast("long").alias("doc_id"),
        F.lit(loop_text).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("planted").alias("source"),
        F.length(F.lit(loop_text)).cast("long").alias("n_chars"),
    )
    d.unionByName(planted).write.mode("overwrite").parquet(
        f"{out}/documents.parquet"
    )
    rows = {
        r.doc_id: r
        for r in ENTRIES["x353_doc_repetition"].spark(spark, out).collect()
    }
    loop = rows[999_999]
    assert loop.dup_token_ppm > 950_000
    assert loop.dup5_ppm > 950_000
    assert loop.dup5_ppm > base_max
