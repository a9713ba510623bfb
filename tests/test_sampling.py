"""Hash-based stratified sampling: partition-layout independence and
per-stratum proportions."""

from __future__ import annotations

from ravelytics_spark.plans.queries import REGISTRY


def test_sample_stable_across_partitioning(spark, sf_dir):
    # the prepared call runs in the small-input profile (one shuffle
    # partition); the fresh build runs in the caller's session at 3
    q = REGISTRY["x9_stratified_sample"]
    a = {r.doc_id for r in q.spark(spark, sf_dir).collect()}
    found = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        b = {r.doc_id for r in q.spark.__wrapped__(spark, sf_dir).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", found)
    assert a == b


def test_sample_proportions(spark, sf_dir):
    from pyspark.sql import functions as F

    from ravelytics_spark.sources.tables import load_table

    q = REGISTRY["x9_stratified_sample"]
    sampled = q.spark(spark, sf_dir).groupBy("lang").count()
    totals = load_table(spark, sf_dir, "documents").groupBy("lang").count()
    s = {r.lang: r["count"] for r in sampled.collect()}
    t = {r.lang: r["count"] for r in totals.collect()}
    expect = {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.25}
    for lang, frac in expect.items():
        if t.get(lang, 0) >= 50:  # enough mass to bound the ratio
            ratio = s.get(lang, 0) / t[lang]
            assert abs(ratio - frac) < 0.15, (lang, ratio, frac)
