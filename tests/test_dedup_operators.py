"""Winnowing (MOSS) production-operator tests: the guarantee on a
planted span, agreement with the md5-certified portable twin, and the
hot-bucket cap."""

from __future__ import annotations


class TestWinnowing:
    def test_guarantee_on_planted_span(self, spark):
        """Two docs sharing a planted 31-char (w+k-1) run MUST share a
        fingerprint; unrelated docs share none."""
        from ravelytics_spark.operators.dedup import (
            winnow_dup_pairs,
            winnow_fingerprints,
        )

        span = "the quick brown fox jumps over!"  # 31 chars
        assert len(span) == 31
        df = spark.createDataFrame(
            [
                (1, "AAAA " + span + " BBBB padding text here"),
                (2, "CCCCCCC " + span + " DDDDDD other tail words"),
                (3, "completely unrelated content with no overlap at all"),
            ],
            "doc_id long, text string",
        )
        fps = winnow_fingerprints(df, "doc_id", "text")
        f1 = {r["fp"] for r in fps.filter("doc_id = 1").collect()}
        f2 = {r["fp"] for r in fps.filter("doc_id = 2").collect()}
        f3 = {r["fp"] for r in fps.filter("doc_id = 3").collect()}
        assert f1 & f2, "planted 31-char span must share a fingerprint"
        assert not (f1 & f3) and not (f2 & f3)
        pairs = winnow_dup_pairs(df, "doc_id", "text", min_shared=1).collect()
        assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]

    def test_matches_portable_twin_geometry(self, spark):
        """Same corpus, same (k, w) geometry: the xxhash64 production
        pairs and the md5-certified x150 pairs agree on the heavy
        duplicates (different hash functions select different minima,
        so exact fingerprint counts differ, but every pair the
        certified twin reports with >= 10 shared fingerprints must
        surface in the production op at threshold 1)."""
        from ravelytics_spark.operators.dedup import winnow_dup_pairs
        from ravelytics_spark.plans.queries import REGISTRY

        sf = "/root/testdata/sf0.01"
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        prod = {
            (r["id_a"], r["id_b"])
            for r in winnow_dup_pairs(
                docs, "doc_id", "text", min_shared=1, max_bucket_size=None
            ).collect()
        }
        heavy = {
            (r["doc_a"], r["doc_b"])
            for r in REGISTRY["x150_winnow_dup_spans"].spark(spark, sf).collect()
            if r["n_shared"] >= 10
        }
        assert heavy, "corpus is known to contain heavy duplicate spans"
        assert heavy <= prod

    def test_hot_bucket_cap_drops_boilerplate(self, spark):
        """A fingerprint shared by more docs than max_bucket_size is
        excluded from pair generation (the C(bucket,2) guard)."""
        from ravelytics_spark.operators.dedup import winnow_dup_pairs

        boiler = "standard header boilerplate repeated everywhere!"
        rows = [(i, f"{boiler} unique tail {i} " + "x" * (i % 7)) for i in range(12)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        uncapped = winnow_dup_pairs(
            df, "doc_id", "text", min_shared=1, max_bucket_size=None
        ).count()
        capped = winnow_dup_pairs(
            df, "doc_id", "text", min_shared=1, max_bucket_size=5
        ).count()
        assert uncapped > 0
        assert capped < uncapped
