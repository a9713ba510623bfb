"""Behavioral tests for the round-12 operators: salted-agg plan shape,
MAD outlier invariants, connected-components convergence/validity.

(Cross-engine value parity is covered by the oracle catalog sweep.)
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ravelytics_spark.plans.queries import REGISTRY

SF = "/root/testdata/sf0.01"


def test_salted_agg_is_two_phase(spark):
    """The plan must contain the salt: two aggregate layers keyed
    differently (key+salt, then key)."""
    plan = (
        REGISTRY["x33_salted_agg"]
        .spark.__wrapped__(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("HashAggregate") >= 4  # partial+final for each phase
    assert "__salt" in plan


def test_mad_outliers_are_extreme_within_their_source(spark):
    rows = REGISTRY["x57_mad_outliers"].spark(spark, SF).collect()
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .groupBy("source")
        .agg(
            F.expr("percentile(n_chars, 0.5)").alias("m"),
            F.min("n_chars").alias("lo"),
            F.max("n_chars").alias("hi"),
        )
        .collect()
    )
    med = {r.source: r.m for r in docs}
    for r in rows:
        assert abs(r.robust_z) > 3.5
        # an outlier must sit far from its source median, on the side
        # its sign says
        assert (r.n_chars > med[r.source]) == (r.robust_z > 0)
    # outliers are rare by construction of the threshold
    total = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert len(rows) < 0.1 * total


def _cc_with_iters(spark, iters):
    import ravelytics_spark.plans.round12 as r12

    old = r12._CC_ITERS
    r12._CC_ITERS = iters
    try:
        return {
            (r.node, r.component)
            for r in r12.x58_connected_components(spark, SF).collect()
        }
    finally:
        r12._CC_ITERS = old


def test_cc_reached_fixed_point_at_certified_iterations(spark):
    """6 rounds must equal 7 rounds at sf0.01 — the certified output is
    the converged labeling, not a truncation."""
    assert _cc_with_iters(spark, 6) == _cc_with_iters(spark, 7)


def test_cc_labels_constant_within_edges_and_canonical(spark):
    labels = {
        r.node: r.component
        for r in REGISTRY["x58_connected_components"].spark(spark, SF).collect()
    }
    import ravelytics_spark.plans.round12 as r12
    from ravelytics_spark.sources.tables import load_table

    o = load_table(spark, SF, "orders")
    edges = (
        o.filter(F.col("o_orderkey") % 29 < 1)
        .select(
            (F.col("o_custkey") % r12._CC_N_MOD).alias("src"),
            (F.col("o_orderkey") % r12._CC_N_MOD).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .collect()
    )
    # every edge joins two nodes of the same component
    for e in edges:
        assert labels[e.src] == labels[e.dst]
    # each component's label is its minimum member (min-label semantics)
    by_comp = {}
    for node, comp in labels.items():
        by_comp.setdefault(comp, []).append(node)
    for comp, members in by_comp.items():
        assert comp == min(members)
