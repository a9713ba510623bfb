"""Generate PLANS.md: formatted physical plans for representative
catalog queries, with the scale-relevant lines (PushedFilters, join
strategies, partial aggregation, TakeOrderedAndProject) annotated.
The plan-shape TESTS live in tests/test_plan_quality.py; this artifact
is the human-readable audit trail. Run: python scripts/gen_plans.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"

# (name, what the plan must show)
SHOWCASE = [
    ("tpch_q6_forecast_revenue", "all predicates pushed to the parquet scan; partial→final agg"),
    ("tpch_q3_shipping_priority", "broadcast dim + AQE sort-merge + TakeOrderedAndProject"),
    ("flagship_techno_stack", "pushdown through a 4-deep view stack; broadcast latest-state dim"),
    ("g1_argmax_latest", "single-shuffle max_by with map-side partial aggregation"),
    ("x1_dedup_exact", "hash-agg dedup: partial_min map-side, one shuffle of (text, id)"),
    ("x2_minhash_lsh", "signature agg + band bucket self-join, shared exchange"),
    ("x3_cosine_topk", "map-only scoring + TakeOrderedAndProject (no global sort)"),
    ("o1_topk", "TakeOrderedAndProject: per-partition heaps, no Exchange for ordering"),
    ("x25_token_budget_select", "partitioned (by source) running-sum window — no SinglePartition"),
    ("x31_window_dedup", "lead-composed windows (doc-partitioned) + md5-digest hash-aggs"),
    ("x36_funnel_steps", "stepwise user-keyed aggs/joins — shrinking sets, no global window"),
    ("x42_bloom_prune_join", "two broadcast semi probes shrink the fact BEFORE the join"),
    ("x41_zorder_layout", "map-side Morton bit math; single hash-agg, no UDF, no sort"),
    ("x47_fuzzy_pairs", "variant-hash equi-join, no CartesianProduct/BroadcastNestedLoop"),
    ("x48_ann_batch", "broadcast queries + Arrow map-side prune; ONE hashpartitioning"),
    ("x58_connected_components", "per-round join+min-agg, integer-only label math"),
    ("x3_ivf_topk", "map-only unrolled centroid argmin (no join/window in assignment) + literal probe-cell IN filter + TakeOrderedAndProject"),
    ("x22_centroid_assign", "unrolled least-over-structs argmin: no join/window/explode; only the k x k confusion agg + output sort exchange"),
    ("x30_rp_projection", "sign matrix unrolled to +-long addition trees: no join, no aggregate, single range-partitioning sort exchange"),
    ("x110_source_pair_jaccard", "bottom-K per source via WindowGroupLimit: partial top-K heaps BEFORE the shuffle, never a full per-group sort"),
    ("x117_bm25_scan", "BM25 of every doc with zero exchanges before TakeOrderedAndProject: tf per term inside the row, 1-row stats broadcast"),
    ("x122_rrf_hybrid_search", "hybrid fusion: two TakeOrderedAndProject(100) candidate lists, windows over 100 rows, full-outer join of two 100-row frames"),
    ("x141_penny_allocation", "largest-remainder rounding: both order-keyed windows + the reconciliation agg share ONE hashpartitioning exchange"),
    ("x150_winnow_dup_spans", "pairs from ONE fingerprint equi-join; deliberately NO checkpoint (2 consumers: recompute beat a disk cut 203.6s vs 259s at 100x)"),
    ("x164_capped_sessions", "bucketed applyInPandas sessionizer: one bucket-keyed exchange into FlatMapGroupsInPandas, bounded group size by construction"),
    ("x172_bfs_hops", "bounded BFS: TakeOrdered(5) seed, per-hop broadcast semi/anti frontier joins, scalar hop stats (whitelisted SinglePartition)"),
    ("x177_ann_recall_eval", "decimal-exact scoring checkpointed once (Scan ExistingRDD), two top-10 windows over TakeOrdered frames, 1-row stat broadcasts"),
    ("x227_winnow_capped", "x150 + hot-fingerprint cap: tiny bucket-size agg broadcast back as a LeftAnti probe; fingerprint frame checkpointed once"),
    ("x230_hubness_audit", "all-pairs as replicated equi-join (no CartesianProduct); PARTIAL WindowGroupLimit top-k heaps run BEFORE the qa shuffle"),
    ("x233_lsh_bucket_balance", "signature mins partial-aggregated map-side; band posexplode feeds two stacked hash-aggs; zero joins anywhere"),
    # round-9 registrations: graph family + SRP-bucketed audit twins
    ("x246_label_propagation", "per-round: ONE edge-keyed join off checkpointed frames (Scan ExistingRDD) + count agg + min-struct argmax; earlier rounds cut away"),
    ("x262_modularity_score", "LPA labels checkpointed once; two label tag joins; 1-row edge-total broadcast is the only nested-loop join"),
    ("x263_adamic_adar", "candidates via shared-neighbor equi self-join; 1/ln(degree) weights BROADCAST; top-50 is TakeOrderedAndProject"),
    ("x264_degree_assortativity", "degree dim broadcast onto both endpoints; moment sums partial-aggregate to one row per partition"),
    ("x265_clustering_coefficient", "oriented two-hop equi-join closed by LEFT SEMI; wedges pure degree agg; 1-row wedge broadcast"),
    ("x230b_hubness_bucketed", "SRP-code equi-join candidates (probe explode + per-bucket cap), WindowGroupLimit heaps before the qa shuffle; nz checkpointed once"),
    ("x245b_twonn_bucketed", "same bucketed candidate shape; top-2 heaps; single-row estimator agg (one partial row per partition)"),
    # round-30 heavies (registered in round 10)
    ("x278_hits_scores", "DISK_ONLY-checkpointed edge list (Scan ExistingRDD); three equi join+agg rounds, no recomputed distinct"),
    ("x283_abc_xyz_matrix", "part-level cumulative ABC window (certifiable global form) + XYZ moment compares; fact table scanned twice, aggregated immediately"),
    ("x293_minhash_calibration", "x91 shape: checkpointed signature store, ONE banded equi-join, 11-row calibration rollup"),
    ("x308_brown_forsythe", "segment-partitioned median rank pick + 1-row ANOVA frame (whitelisted SinglePartition over the 5-row segment frame)"),
    # round-10 codegen fix: the array+HOF SRP form
    ("x102_srp_portable", "map-only scan -> array+HOF code/dot/norm -> literal probe IN filter -> TakeOrderedAndProject; zero exchanges, plan size independent of embedding width"),
    # round-32 staged, pre-wired (skipped until the round-11 footer flips)
    ("x326_state_ttl_projection", "merged coverage intervals off one (ttl, user) lag window -> +1/-1 boundary sweep; no explode+distinct anywhere"),
    ("x339_dim_redundancy", "two scans, no joins: 64-row bounded moment collect, then 28 literal element_at cross-products in ONE agg"),
]

KEY_LINES = re.compile(
    r"PushedFilters: \[[^\]]*[a-zA-Z][^\]]*\]|BroadcastHashJoin|SortMergeJoin"
    r"|TakeOrderedAndProject|partial_|HashAggregate|Window |WindowGroupLimit"
    r"|Exchange hashpartitioning"
    r"|Exchange SinglePartition|PartitionFilters: \[[^\]]*[a-zA-Z][^\]]*\]"
)


def main() -> None:
    from ravelytics_spark.plans.queries import REGISTRY
    from ravelytics_spark.session import get_spark

    spark = get_spark(app_name="gen_plans", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# PLANS — physical-plan audit of representative queries",
        "",
        "Generated by `scripts/gen_plans.py` (sf0.01, AQE final plans).",
        "Each section lists the scale-relevant plan fragments — the full",
        "assertions live in tests/test_plan_quality.py.",
        "",
        "Coverage invariant: every bench.py HEADLINE query has a section",
        "here (the drift protocol's first triage step is diffing a",
        "flagged query's plan against its pin), plus the curated",
        "SHOWCASE set. Enforced by tests/test_plan_quality.py.",
        "",
    ]
    # SHOWCASE (curated annotations) ∪ bench HEADLINE (every headline
    # query needs a pin for the bench-drift protocol's plan-diff
    # triage — round-11 verdict found x342/x343 on the board unpinned)
    import bench as _bench

    pinned = dict(SHOWCASE)
    queries = list(SHOWCASE) + [
        (n, "headline query (auto-pinned); see entry docstring for the plan contract")
        for n in _bench.HEADLINE
        if n not in pinned
    ]
    for name, why in queries:
        if name not in REGISTRY:
            continue  # pre-wired staged entry: activates on registration
        df = REGISTRY[name].spark(spark, SF_DIR)
        # execute so AQE finalizes the adaptive plan
        df.write.format("noop").mode("overwrite").save()
        qe = df._jdf.queryExecution()
        # executed plan for the AQE-final join/agg strategy + formatted
        # explain for scan details (PushedFilters live on the scan nodes)
        plan = qe.executedPlan().toString() + "\n" + qe.explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        hits: list[str] = []
        for ln in plan.splitlines():
            m = KEY_LINES.search(ln)
            if m and len(hits) < 14:
                frag = m.group(0)
                if frag not in hits:
                    hits.append(frag)
        out += [f"## {name}", "", f"*Expected shape:* {why}", "", "```"]
        out += hits or ["(no key fragments matched)"]
        out += ["```", ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote PLANS.md: {len(queries)} plans")


if __name__ == "__main__":
    main()
