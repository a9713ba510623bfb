"""Round-2 catalog entries: result sanity + the physical-plan
properties that make each shape survive a 100-TB scale-up."""

from __future__ import annotations

from pyspark.sql import functions as F

from ravelytics_spark.plans.queries import REGISTRY


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_full_outer_keeps_both_unmatched_sides(spark, sf_dir):
    df = REGISTRY["j5_full_outer_join"].spark.__wrapped__(spark, sf_dir)
    rows = df.collect()
    assert any(r.c_name is None for r in rows), "right-only rows lost"
    assert any(r.spend_1996 is None for r in rows), "left-only rows lost"
    assert "FullOuter" in _executed(df)


def test_q10_topk_and_broadcast_nation(spark, sf_dir):
    df = REGISTRY["tpch_q10_returned_items"].spark.__wrapped__(spark, sf_dir)
    plan = _executed(df)
    assert "TakeOrderedAndProject" in plan, "top-20 fell back to a global sort"
    assert "BroadcastHashJoin" in plan, "nation dim not broadcast"
    assert df.count() <= 20


def test_q18_semi_join_on_aggregated_keys(spark, sf_dir):
    df = REGISTRY["tpch_q18_large_volume"].spark.__wrapped__(spark, sf_dir)
    plan = _executed(df)
    assert "LeftSemi" in plan
    rows = df.collect()
    assert all(r.total_qty > 220 for r in rows)


def test_sliding_window_doubles_tumbling_mass(spark, sf_dir):
    """Every event lands in exactly 2 sliding windows, so total n
    across windows is exactly 2x the event count."""
    slide = REGISTRY["w8_sliding_window"].spark(spark, sf_dir)
    total = slide.agg(F.sum("n")).collect()[0][0]
    from ravelytics_spark.sources.tables import load_table

    n_events = load_table(spark, sf_dir, "events").count()
    assert total == 2 * n_events


def test_bigram_plan_has_no_perdoc_window_or_join(spark, sf_dir):
    """Adjacent-pair formation must stay map-side (zip-with-tail), not
    shuffle every token by doc_id through a window or self-join."""
    df = REGISTRY["x16_bigram_topk"].spark.__wrapped__(spark, sf_dir)
    plan = _executed(df)
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    top = df.collect()
    assert len(top) == 40 and all(r.c >= top[-1].c for r in top)


def test_quantize_int8_error_bounded_by_scale(spark, sf_dir):
    """Reconstruction error of a round-to-nearest quantizer is at most
    (scale/2)^2 per dim, so mse <= (scale/2)^2."""
    df = REGISTRY["x15_quantize_int8"].spark(spark, sf_dir)
    rows = df.collect()
    assert rows, "no vectors"
    for r in rows[:200]:
        assert r.mse <= (r.scale / 2.0) ** 2 + 1e-12


def test_l2_topk_agrees_with_brute_force(spark, sf_dir):
    from ravelytics_spark.plans.extensions import _PROBE
    from ravelytics_spark.sources.tables import load_table

    import numpy as np

    got = [r.vec_id for r in REGISTRY["x3_l2_topk"].spark(spark, sf_dir).collect()]
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    p = np.array(_PROBE)
    dists = sorted(
        (float(np.linalg.norm(np.array(r.embedding, dtype="float64") - p)), r.vec_id)
        for r in emb
    )
    want = [v for _, v in dists[:10]]
    assert got == want


def test_chunking_covers_every_token_with_overlap(spark, sf_dir):
    """Chunk invariants: chunk 0 starts at token 1; consecutive chunks
    overlap by exactly size-step tokens (except a short tail); the
    union of chunks covers the whole document."""
    from ravelytics_spark.plans.round2 import _CHUNK_SIZE, _CHUNK_STEP
    from ravelytics_spark.sources.tables import load_table

    chunks = REGISTRY["x17_chunk_tokens"].spark(spark, sf_dir)
    per_doc = (
        chunks.groupBy("doc_id")
        .agg(
            F.max("chunk_id").alias("last_k"),
            F.sum("n_tokens").alias("tok_sum"),
            F.max(F.col("chunk_id") * _CHUNK_STEP + F.col("n_tokens")).alias("covered"),
        )
        .collect()
    )
    d = load_table(spark, sf_dir, "documents")
    ws = F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")
    n_by_doc = {
        r.doc_id: r.n
        for r in d.select("doc_id", F.size(ws).alias("n")).filter(F.col("n") > 0).collect()
    }
    assert len(per_doc) == len(n_by_doc)
    for r in per_doc:
        n = n_by_doc[r.doc_id]
        assert r.covered == n, f"doc {r.doc_id}: covered {r.covered} != {n}"
        # total tokens = n + overlap re-emitted once per later chunk
        assert r.tok_sum == n + r.last_k * (_CHUNK_SIZE - _CHUNK_STEP)


def test_aqe_splits_planted_skew_join(spark, sf_dir):
    """With a hot key carrying ~100x the median partition load, AQE's
    OptimizeSkewedJoin must split the skewed partition (skew=true in
    the final plan) instead of letting one task run 100x long — the
    property that keeps shuffled joins alive at 100 TB."""
    # The hot key is skewed only against the median partition, so the
    # partition count is part of the planted input (at 4 the hot
    # partition is only about 5x the median, AQE's default skew factor).
    skew_conf = {
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in skew_conf}
    try:
        for k, v in skew_conf.items():
            spark.conf.set(k, v)
        left = spark.range(200_000).select(
            F.when(F.col("id") % 2 == 0, 7).otherwise(F.col("id")).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        right = spark.range(5_000).select(F.col("id").alias("k"), F.lit("x").alias("v"))
        j = left.join(right, "k")  # pad column keeps the shuffle heavy
        # collect() executes j's OWN QueryExecution, so the adaptive plan
        # below is the finalized one (count() would spawn a separate QE
        # and leave j's plan un-finalized).
        assert len(j.collect()) == 102_500  # 100k hot rows on k=7 + 2.5k odd ids
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, "AQE did not split the skewed partition"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_normalized_dedup_catches_case_and_punct_variants(spark, sf_dir):
    df = REGISTRY["x1c_dedup_normalized"].spark(spark, sf_dir)
    # normalization is idempotent: re-normalizing the key changes nothing
    renorm = df.select(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower("norm"), "[^a-z0-9]+", " "), r"\s+", " "
            )
        ).alias("again"),
        "norm",
    )
    assert renorm.filter(F.col("again") != F.col("norm")).count() == 0


def test_chunking_edge_cases_match_python_reference(spark):
    """Chunk boundaries at the exact size/stride edges (n = 1, size,
    size+1, size+step, size+step+1, ...) against a pure-Python
    reference of the same contract."""
    from ravelytics_spark.plans import round2 as R2
    from ravelytics_spark.plans.round2 import _CHUNK_SIZE, _CHUNK_STEP
    from ravelytics_spark.sources import tables as TBL

    def py_chunks(n):
        count = 1 if n <= _CHUNK_SIZE else (n - _CHUNK_SIZE + _CHUNK_STEP - 1) // _CHUNK_STEP + 1
        out = []
        toks = [f"w{i}" for i in range(n)]
        for k in range(count):
            out.append((k, toks[k * _CHUNK_STEP : k * _CHUNK_STEP + _CHUNK_SIZE]))
        return out

    sizes = [1, 2, _CHUNK_SIZE - 1, _CHUNK_SIZE, _CHUNK_SIZE + 1,
             _CHUNK_SIZE + _CHUNK_STEP, _CHUNK_SIZE + _CHUNK_STEP + 1, 500]
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(n))) for i, n in enumerate(sizes)],
        "doc_id long, text string",
    )
    orig = TBL.load_table
    try:
        TBL.load_table = lambda s, d, t: docs  # the entry reads `documents`
        import ravelytics_spark.plans.round2 as mod
        mod.load_table = TBL.load_table
        got = REGISTRY["x17_chunk_tokens"].spark(spark, "unused").collect()
    finally:
        TBL.load_table = orig
        import ravelytics_spark.plans.round2 as mod
        mod.load_table = orig
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_id, r.chunk_text.split(" ")))
    for i, n in enumerate(sizes):
        want = py_chunks(n)
        assert sorted(by_doc[i]) == sorted(want), f"n={n}"


def test_sequence_packing_conserves_tokens_and_is_contiguous(spark, sf_dir):
    """Packing moves every token exactly once: sum over packs equals the
    corpus token total, and pack ids are contiguous from 0 per bucket."""
    from ravelytics_spark.sources.tables import load_table

    packs = REGISTRY["x18_sequence_packing"].spark(spark, sf_dir).collect()
    d = load_table(spark, sf_dir, "documents")
    clean = F.trim(F.regexp_replace("text", r"\s+", " "))
    total = (
        d.select(F.size(F.split(clean, " ")).alias("n"), clean.alias("c"))
        .filter(F.length("c") > 0)
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    assert sum(r.pack_tokens for r in packs) == total
    by_bucket = {}
    for r in packs:
        by_bucket.setdefault(r.bucket, []).append(r.pack_id)
    for bucket, ids in by_bucket.items():
        assert sorted(ids) == list(range(len(ids))), f"bucket {bucket} gap"


def test_decontamination_flags_only_real_overlaps(spark, sf_dir):
    """Spot-check: every flagged doc truly shares a 4-gram with the
    probe set, verified in plain Python."""
    from ravelytics_spark.plans.round2 import _DECON_N
    from ravelytics_spark.sources.tables import load_table

    flagged = REGISTRY["x19_decontamination"].spark(spark, sf_dir).collect()
    assert flagged, "screen found nothing — widen the probe or shrink n"
    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").collect()
    }

    def grams(text):
        ws = " ".join(text.lower().split()).split(" ")
        return {
            " ".join(ws[k : k + _DECON_N]) for k in range(len(ws) - _DECON_N + 1)
        }

    probe = set()
    for did, text in docs.items():
        if did % 100 == 0:
            probe |= grams(text)
    for r in flagged[:20]:
        shared = grams(docs[r.doc_id]) & probe
        assert len(shared) == r.n_shared_grams, f"doc {r.doc_id}"


def test_quality_score_agg_matches_expression_form(spark, sf_dir):
    """quality_score_agg (explode + codegen agg) must agree bit-for-bit
    with the per-row HOF expression, including token-free docs."""
    from ravelytics_spark.functions import text as TX
    from ravelytics_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    edge = spark.createDataFrame(
        [(90001, ""), (90002, "   "), (90003, "the the the the the")],
        "doc_id bigint, text string",
    )
    d = docs.unionByName(edge)
    agg = TX.quality_score_agg(d, "doc_id", "text")
    expr = d.select("doc_id", TX.quality_score("text").alias("quality"))
    mism = (
        agg.alias("a")
        .join(expr.alias("e"), "doc_id")
        .where(~F.col("a.quality").eqNullSafe(F.col("e.quality")))
        .count()
    )
    assert mism == 0
