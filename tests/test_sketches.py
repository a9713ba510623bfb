"""HLL sketch operators: estimate accuracy, EXACT merge associativity
(the uniqState/uniqMerge contract), rollup pattern, small-range
linear counting."""

from __future__ import annotations

from pyspark.sql import functions as F

from ravelytics_spark.operators.sketches import hll_estimate, hll_merge, hll_sketch

SF = "/root/testdata/sf0.01"


def test_estimate_accuracy_large_range(spark):
    df = spark.range(50_000).select((F.col("id") % 20_000).alias("v"))
    est = hll_estimate(hll_sketch(df, "v")).collect()[0].approx_distinct
    assert abs(est - 20_000) / 20_000 < 0.15  # ~2.3σ at m=256


def test_estimate_small_range_linear_counting(spark):
    df = spark.range(1000).select((F.col("id") % 10).alias("v"))
    est = hll_estimate(hll_sketch(df, "v")).collect()[0].approx_distinct
    assert est == 10  # linear counting is near-exact this far below m


def test_merge_equals_sketch_of_union_exactly(spark):
    """Register-level equality, not estimate-level: max is associative,
    so merging per-part sketches must reproduce the whole-data sketch
    bit for bit — the property that makes stored sketch states safe."""
    a = spark.range(0, 3000).select(F.col("id").alias("v"))
    b = spark.range(2000, 5000).select(F.col("id").alias("v"))
    merged = hll_merge(hll_sketch(a, "v").union(hll_sketch(b, "v")))
    whole = hll_sketch(a.union(b), "v")
    assert {(r.register, r.max_rho) for r in merged.collect()} == {
        (r.register, r.max_rho) for r in whole.collect()
    }


def test_day_to_month_rollup_pattern(spark):
    """The warehouse pattern: store day×key sketches, answer month×key
    distinct without rescanning raw data."""
    o = spark.read.parquet(f"{SF}/orders.parquet").select(
        F.date_format("o_orderdate", "yyyyMM").alias("month"),
        F.to_date("o_orderdate").alias("day"),
        "o_custkey",
    )
    daily = hll_sketch(o, "o_custkey", ["month", "day"])
    monthly_est = {
        (r.month, r.approx_distinct)
        for r in hll_estimate(
            hll_merge(daily, ["month"]), ["month"]
        ).collect()
    }
    exact = {
        (r.month, r.n)
        for r in o.groupBy("month")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    em, xm = dict(monthly_est), dict(exact)
    assert set(em) == set(xm)
    for month, x in xm.items():
        assert abs(em[month] - x) / x < 0.2, (month, em[month], x)


def test_nulls_ignored_and_sketch_deterministic_across_layout(spark):
    df = spark.createDataFrame(
        [(1,), (2,), (None,), (2,)], "v int"
    )
    sk = {(r.register, r.max_rho) for r in hll_sketch(df, "v").collect()}
    assert len(sk) == 2  # two distinct non-null values → ≤2 registers
    sk2 = {
        (r.register, r.max_rho)
        for r in hll_sketch(df.repartition(7), "v").collect()
    }
    assert sk == sk2


# ---------------------------------------------------------------------------
# KMV bottom-k
# ---------------------------------------------------------------------------


def test_kmv_distinct_exact_below_k_and_estimate_above(spark):
    from ravelytics_spark.operators.sketches import (
        kmv_distinct_estimate,
        kmv_sketch,
    )

    small = spark.range(1000).select((F.col("id") % 100).alias("v"))
    est = kmv_distinct_estimate(kmv_sketch(small, "v")).collect()[0].approx_distinct
    assert est == 100  # below k=256 → exact
    big = spark.range(80_000).select((F.col("id") % 40_000).alias("v"))
    est = kmv_distinct_estimate(kmv_sketch(big, "v")).collect()[0].approx_distinct
    assert abs(est - 40_000) / 40_000 < 0.2  # ~3σ at k=256


def test_kmv_merge_equals_sketch_of_union(spark):
    from ravelytics_spark.operators.sketches import kmv_merge, kmv_sketch

    a = spark.range(0, 5000).select(F.col("id").alias("v"))
    b = spark.range(3000, 8000).select(F.col("id").alias("v"))
    merged = {
        (r.hash, r.value)
        for r in kmv_merge(kmv_sketch(a, "v").union(kmv_sketch(b, "v"))).collect()
    }
    whole = {(r.hash, r.value) for r in kmv_sketch(a.union(b), "v").collect()}
    assert merged == whole


def test_kmv_grouped_and_quantiles(spark):
    from ravelytics_spark.operators.sketches import (
        kmv_quantile_estimate,
        kmv_sketch,
    )

    df = spark.range(20_000).select(
        (F.col("id") % 2).alias("g"), F.col("id").alias("v")
    )
    sk = kmv_sketch(df, "v", ["g"], k=256)
    assert sk.groupBy("g").count().collect()[0]["count"] == 256
    qs = {
        (r.g, r.p): r.quantile
        for r in kmv_quantile_estimate(sk, [0.5], ["g"]).collect()
    }
    # values 0..19999 uniform; distinct-value median ~10000 (±~1/√256)
    for g in (0, 1):
        assert abs(qs[(g, 0.5)] - 10_000) / 10_000 < 0.2


def test_kmv_estimate_uses_carried_k_not_param(spark):
    """A bottom-64 sketch passed with the default k=256 parameter must
    NOT be treated as an exhaustive census: the carried sketch_k wins,
    so the estimate tracks the true 10k cardinality instead of
    reporting 64."""
    from ravelytics_spark.operators.sketches import kmv_distinct_estimate, kmv_sketch

    df = spark.range(10_000).select(F.col("id").alias("v"))
    sk = kmv_sketch(df, "v", k=64)
    est = kmv_distinct_estimate(sk).collect()[0].approx_distinct  # default k=256
    assert abs(est - 10_000) / 10_000 < 0.35  # ~1/sqrt(64) error regime
    assert est > 1_000  # and nowhere near the saturated-census 64
