"""Round-3 catalog entries: TPC-H completion + LM-scoring/centroid ops.
Each test pins the physical-plan property that matters at 100 TB."""

from __future__ import annotations

from pyspark.sql import functions as F

from ravelytics_spark.plans.queries import REGISTRY


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q6_filters_reach_the_scan(spark, sf_dir):
    df = REGISTRY["tpch_q6_forecast_revenue"].spark.__wrapped__(spark, sf_dir)
    plan = _executed(df)
    assert "PushedFilters:" in plan and "l_shipdate" in plan.split("PushedFilters:")[1][:400], (
        "Q6 predicates did not reach the parquet scan"
    )
    assert df.count() == 1


def test_q7_broadcasts_both_nation_aliases(spark, sf_dir):
    df = REGISTRY["tpch_q7_volume_shipping"].spark.__wrapped__(spark, sf_dir)
    plan = _executed(df)
    assert plan.count("BroadcastHashJoin") >= 2, "nation dims not broadcast twice"
    rows = df.collect()
    assert all(
        {r.supp_nation, r.cust_nation} == {"NATION_1", "NATION_2"} for r in rows
    )


def test_q8_share_bounded_and_dims_broadcast(spark, sf_dir):
    df = REGISTRY["tpch_q8_market_share"].spark.__wrapped__(spark, sf_dir)
    plan = _executed(df)
    assert plan.count("BroadcastHashJoin") >= 3, "region/nation dims not broadcast"
    for r in df.collect():
        assert 0.0 <= r.mkt_share <= 1.0


def test_q17_threshold_join_co_partitioned(spark, sf_dir):
    df = REGISTRY["tpch_q17_small_qty_revenue"].spark.__wrapped__(spark, sf_dir)
    plan = _executed(df)
    assert "BroadcastHashJoin" in plan, "brand-filtered part dim not broadcast"
    assert df.count() == 1


def test_q22_plans_left_anti_not_cartesian(spark, sf_dir):
    df = REGISTRY["tpch_q22_sales_opportunity"].spark.__wrapped__(spark, sf_dir)
    plan = _executed(df)
    assert "LeftAnti" in plan, "NOT EXISTS did not become a left-anti join"
    assert "CartesianProduct" not in plan
    rows = df.collect()
    assert all(r.numcust > 0 for r in rows)


def test_unigram_logprob_is_negative_and_complete(spark, sf_dir):
    df = REGISTRY["x20_unigram_logprob"].spark(spark, sf_dir)
    from ravelytics_spark.sources.tables import load_table

    n_docs = load_table(spark, sf_dir, "documents").count()
    rows = df.collect()
    assert len(rows) == n_docs, "every doc must receive a score"
    assert all(r.mean_logprob < 0.0 for r in rows)
    plan = _executed(df)
    assert plan.count("BroadcastHashJoin") >= 1, "LM table should broadcast"


def test_label_centroids_cover_all_label_dims(spark, sf_dir):
    from ravelytics_spark.sources.tables import load_table

    df = REGISTRY["x21_label_centroids"].spark(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    n_labels = e.select("label").distinct().count()
    dims = e.select(F.size("embedding").alias("d")).first().d
    assert df.count() == n_labels * dims


def test_centroid_assign_partitions_every_vector_once(spark, sf_dir):
    from ravelytics_spark.sources.tables import load_table

    df = REGISTRY["x22_centroid_assign"].spark(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    total = df.agg(F.sum("n")).first()[0]
    assert total == e.count(), "each vector must be assigned exactly once"
    plan = _executed(df)
    assert "CartesianProduct" not in plan


def test_source_balance_keeps_sources_near_min(spark, sf_dir):
    df = REGISTRY["x23_source_balance"].spark(spark, sf_dir)
    rows = df.collect()
    mn = min(r.n_total for r in rows)
    for r in rows:
        assert r.n_kept <= r.n_total
        # permille floor-rate keeps each source within ~15% of the min
        assert abs(r.n_kept - mn) <= max(3, 0.15 * mn), rows


def test_line_dedup_removes_planted_dup_and_preserves_order(spark, sf_dir):
    df = REGISTRY["x24_line_dedup"].spark(spark, sf_dir)
    rows = df.limit(50).collect()
    assert all(r.n_removed >= 1 for r in rows), "planted line-0 repeat must be removed"
    for r in rows[:10]:
        lines = r.text_deduped.split("\n")
        assert len(lines) == len(set(lines)), "dedup left duplicate lines"


def test_token_budget_never_exceeded_per_source(spark, sf_dir):
    df = REGISTRY["x25_token_budget_select"].spark(spark, sf_dir)
    agg = df.groupBy("source").agg(
        F.max("cum_tokens").alias("mx"), F.sum("n_tokens").alias("total")
    )
    for r in agg.collect():
        assert r.mx <= 1500
        assert r.total == r.mx, "cum_tokens must equal the running total kept"
    plan = _executed(df)
    assert "Exchange SinglePartition" not in plan, (
        "budget selection must stay partitioned by source"
    )


def test_fixed_k_sample_is_layout_independent(spark, sf_dir):
    """The sample must not change when the input partitioning changes —
    the property partition-seeded df.sample/sampleBy lacks."""
    from ravelytics_spark.sources.tables import load_table

    df = REGISTRY["x26_fixed_k_sample"].spark(spark, sf_dir)
    ids = sorted(r.doc_id for r in df.collect())

    d = load_table(spark, sf_dir, "documents").repartition(17, "doc_id")
    h = d.select(
        "doc_id", "source",
        ((F.col("doc_id") * 2654435761) % 4294967296).cast("long").alias("hkey"),
    )
    from pyspark.sql import Window
    w = Window.partitionBy("source").orderBy("hkey", "doc_id")
    again = (
        h.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 20)
    )
    ids2 = sorted(r.doc_id for r in again.collect())
    assert ids == ids2
