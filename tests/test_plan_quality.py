"""Physical-plan assertions: the properties that make these plans hold
at 100 TB — filter pushdown, column pruning, broadcast joins, top-k
without global sort, map-side partial aggregation. A plan regression
here is a scale bug even when results stay correct."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from ravelytics_spark.plans.queries import REGISTRY
from ravelytics_spark.sources.tables import load_table


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    df = REGISTRY["p3_filter_nonempty"].spark.__wrapped__(spark, sf_dir)
    plan = _executed_plan(df)
    assert "PushedFilters: [IsNotNull(o_orderstatus), Not(EqualTo(o_orderstatus,F))" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    df = REGISTRY["p1_projection"].spark.__wrapped__(spark, sf_dir)
    plan = _executed_plan(df)
    # scan reads exactly the 2 projected columns
    assert "ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint>" in plan


def test_pruning_through_view_stack(spark, sf_dir):
    """Predicate + column pruning must flow through the 4-deep techno
    view stack (logical-plan substitution, like ClickHouse view
    inlining)."""
    from ravelytics_spark.plans import views
    from ravelytics_spark.plans.flagship import synth_artists, synth_tracks

    tracks = synth_tracks(spark, sf_dir)
    artists = synth_artists(spark, sf_dir)
    out = views.v_track_is_techno(tracks, artists).filter(F.col("track_id") == "42")
    plan = _optimized_plan(out)
    # the track_id filter must reach below the aggregate, onto the
    # orders-derived side (pushed through groupBy + join + explode)
    agg_pos = plan.index("Aggregate")
    assert "cast(o_orderkey" in plan[agg_pos:], "filter not pushed below the aggregate"


def test_small_dim_join_broadcasts(spark, sf_dir):
    df = REGISTRY["j1_left_join"].spark.__wrapped__(spark, sf_dir)
    assert "BroadcastHashJoin" in _executed_plan(df)


def test_topk_uses_take_ordered_not_global_sort(spark, sf_dir):
    df = REGISTRY["o1_topk"].spark.__wrapped__(spark, sf_dir)
    assert "TakeOrderedAndProject" in _executed_plan(df)


def test_aggregation_is_partial_then_final(spark, sf_dir):
    df = REGISTRY["g3_multikey_group"].spark.__wrapped__(spark, sf_dir)
    plan = _executed_plan(df)
    assert "partial_" in plan, "no map-side partial aggregation"


def test_latest_state_single_shuffle(spark, sf_dir):
    """OP-G1 as max_by: exactly one exchange (the groupBy), with partial
    aggregation before it."""
    from ravelytics_spark.operators.latest_state import latest_state

    ev = load_table(spark, sf_dir, "events")
    out = latest_state(ev, key="user_id", ts="ts", value_cols=["event_type"])
    plan = _executed_plan(out)
    assert plan.count("Exchange") == 1
    assert "partial_max_by" in plan


def test_minhash_signature_partial_aggregation(spark, sf_dir):
    """The 64-min signature aggregate must pre-combine map-side: one row
    per doc crosses the shuffle, not one per shingle."""
    from ravelytics_spark.operators.dedup import minhash_signatures

    d = load_table(spark, sf_dir, "documents")
    plan = _executed_plan(minhash_signatures(d, "doc_id", "text"))
    assert "partial_min" in plan


def test_metadata_only_binary_query_skips_content(spark, tmp_path):
    (tmp_path / "a.bin").write_bytes(b"x" * 100)
    assets = spark.read.format("binaryFile").load(str(tmp_path / "*.bin"))
    plan = _executed_plan(assets.select("path", "length"))
    assert "content" not in plan


def test_partition_pruning_on_warehouse_layout(spark, tmp_path):
    """ingest_month partitioning must prune at the scan (the MergeTree
    PARTITION BY analog)."""
    from pyspark.sql import Row

    import datetime

    from ravelytics_spark.plans.tracks_pipeline import write_tracks_warehouse

    rows = [
        Row(
            ingest_ts=datetime.datetime(2025, m, 1),
            track_id=f"t{m}",
            ingest_month=f"2025{m:02d}",
        )
        for m in (6, 7, 8)
    ]
    df = spark.createDataFrame(rows)
    write_tracks_warehouse(df, str(tmp_path / "wh"))
    back = spark.read.parquet(str(tmp_path / "wh")).filter(F.col("ingest_month") == "202507")
    plan = _executed_plan(back)
    assert "PartitionFilters" in plan and "202507" in plan
    assert back.count() == 1


def test_ivf_centroids_no_single_partition_exchange(spark, sf_dir):
    """Centroid pick must be TakeOrderedAndProject (per-partition heaps),
    never a global-window sort that funnels the whole table through one
    partition to select ~16 rows."""
    from ravelytics_spark.operators.similarity import ivf_centroids

    e = load_table(spark, sf_dir, "embeddings")
    plan = _executed_plan(ivf_centroids(e, "embedding", n_cells=16))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan
    assert "Window" not in plan


def test_enrich_chunking_no_global_sort(spark):
    """Hash-mod chunk assignment must not globally sort the id set (the
    old row_number-over-unbounded-window shape)."""
    from pyspark.sql import types as T

    from ravelytics_spark.sources import rest

    ids = spark.createDataFrame([(f"a{i}",) for i in range(100)], ["id"])
    schema = T.StructType([T.StructField("artist_id", T.StringType())])
    out = rest.enrich_batched(ids, lambda u, p: {"records": []}, "u", schema)
    plan = _executed_plan(out)
    assert "Exchange SinglePartition" not in plan
    assert "Window" not in plan


# Entries allowed to contain Exchange SinglePartition, with the reason.
# Global ungrouped aggregates exchange ONE partial row per upstream
# partition (not data) — scale-fine; the window forms are deliberate
# oracle-determinism shapes whose partitioned twins are the scale path.
_SINGLE_PARTITION_OK = {
    "g5_counts": "global ungrouped agg: one partial row per partition",
    "x7_approx_distinct": "global HLL merge: one sketch per partition",
    "xq_validation_report": "global rule summary: one row per rule",
    "o5_chunking": "oracle shape; scale twin = pmod bucketing (rest.py)",
    "w3_lag": "oracle shape; scale twin = w1/w2 partitioned windows",
    "w4_running_sum": "oracle shape; scale twin = partitioned frame",
    "w5_ntile_percent_rank": "oracle shape; global rank for parity",
    "s5_kafka_wire": "wire-format golden harness, bounded rows",
    "tpch_q14_promo_revenue": "global ratio: one partial row per partition",
    "tpch_q15_top_supplier": "global max over per-supplier aggregate: one partial row per partition, then broadcast",
    "tpch_q6_forecast_revenue": "global ungrouped agg: one partial row per partition",
    "tpch_q17_small_qty_revenue": "global ungrouped agg after per-part join",
    "tpch_q19_disc_revenue": "global ungrouped agg: one partial row per partition",
    "tpch_q22_sales_opportunity": "scalar avg-balance subquery: one partial row per partition, then broadcast",
    "x20_unigram_logprob": "global vocab total: one partial row per partition, then broadcast",
    "x23_source_balance": "global min-source-count scalar: one partial row per partition, then broadcast",
    "x29_ppl_bucket_sample": "modal-bucket scalar over the bucket-count aggregate: one partial row per partition, then broadcast",
    # round7 derived-partsupp entries: the supplier-count scalar S (one
    # partial row per partition, then broadcast into the derivation).
    "tpch_q2_min_cost_supplier": "derived-partsupp S scalar broadcast",
    "tpch_q11_important_stock": "derived-partsupp S scalar + global value total, both broadcast",
    "tpch_q16_supplier_cnt": "derived-partsupp S scalar broadcast",
    "tpch_q20_potential_promotion": "derived-partsupp S scalar broadcast",
    "x40_dsir_weight": "global R/T/V scalars: one partial row per partition, then broadcast",
    "x43_pagerank": "node-count scalar N: one partial row per partition, then broadcast",
    "x44_temperature_mix": "mixture denominator over the ~20-row per-source table: one partial row per partition, then broadcast",
    "x46_pmi_collocations": "unigram/bigram LM totals: one partial row per partition, then broadcast",
    "xs1_backfill_manifest": "orderdate min/max bounds: one partial row per partition, then the day spine explodes from the single bounds row",
    "x50_mix_epochs": "mixture denominator over the per-source weight table: one partial row per partition, then broadcast",
    "x64_kmv_rollup": "global sketch estimate + exact-comparison scalars: ungrouped aggs over the <=k-row merged sketch and one-row joins",
    "x68_calendar_dim": "orderdate min/max bounds: one partial row per partition, then the day spine explodes from the single bounds row",
    "x79_column_profile": "whole-table stats row: every column's partial-aggregatable stats combine to ONE row, then unpivot",
    "x74_mom_growth": "lag over the month-count-sized aggregated frame — the deliberate aggregate-first inversion of a raw-row lag",
    "x77_cumulative_distinct": "running sum over the month-count-sized frame; every corpus-sized step is a hash-agg",
    # round-18/19 registrations (round 5): the same global-scalar
    # broadcast idiom — one partial row per partition combines to a
    # single row, which then broadcasts into the main plan.
    "x83_bm25_score": "corpus N + avgdl scalars: one partial row per partition, then broadcast",
    "x85_jsd_source_drift": "corpus-mixture unigram totals: one partial row per partition, then broadcast",
    "x89_decayed_engagement": "reference-now anchor (global max ts): one partial row per partition, then broadcast",
    "x90_benford_deviation": "global digit-total scalar over the 9-row digit counts, then broadcast",
    "x93_tfidf_cosine_pairs": "subset doc-count scalar N for idf: one partial row per partition, then broadcast",
    "x97_kmv_portable": "the sketch-union merge: input is sources x K rows by construction (per-source K-min sets), the exact shape a KMV rollup ships to one combiner",
    "x103_triangle_count": "four scalar counters (nodes/edges/wedges/triangles): each agg combines to ONE row before the crossJoin assembles the report row",
    "x104_equidepth_histogram": "cumulative window over the FINE-BIN frame (~120 rows at any SF): the x74/x77 aggregate-first idiom — the corpus-sized step is the hash-agg onto bins",
    # round-21/22 registrations (round 5 batch 2): same idioms.
    "x111_rfm_segmentation": "three global ntiles over the CUSTOMER-level aggregate — the certifiable form; rank_method='bucketed' selects operators/ranks.py global_ntile (distributed exact, test_ranks.py proves bit-equality)",
    "x112_pareto_abc": "cumulative window over the PART-level aggregate + revenue-total scalar broadcast",
    "x113_basket_lift": "basket-count scalar N: one partial row per partition, then broadcast into the lift expression",
    "x114_trend_slope": "month-origin scalar (global min month): one partial row per partition, then broadcast",
    "x116_chi2_independence": "grand-total scalar N over the cell aggregate: one partial row per partition, then broadcast",
    "x117_bm25_scan": "corpus N/avgdl/df scalars: one partial row per partition, then broadcast (the x83 idiom)",
    "x120_seasonality_index": "trailing-12 window over the MONTH-level aggregate (x74/x77 aggregate-first idiom)",
    "x122_rrf_hybrid_search": "rank windows over two TakeOrdered(100) frames + corpus-stats scalar broadcast — every SinglePartition input is <=100 rows by construction",
    "x125_cusum_changepoint": "global window over the MONTH-level aggregate + tot/n scalar broadcast (x74/x77 idiom)",
    # round-23 registrations (round 6): same bounded-aggregate idioms.
    "x128_mutual_information": "grand-total scalar N over the lang x source contingency-cell aggregate: one partial row per partition, then broadcast",
    "x135_weekday_index": "overall-mean scalar over the 7-row day-of-week aggregate, then broadcast into the index ratio",
    "x137_share_of_total": "grand-total window over the 25-row NATION aggregate — ratio_to_report is aggregate-first by construction",
    "x138_volatility_bands": "trailing-6 window over the MONTH-level aggregate (x74/x77 aggregate-first idiom)",
    # round-24 staged (registration lands round 7; inert until then).
    "x145_f2_moment": "the sketch contract itself: four register SUMs combine one partial row per partition, then join the exact-F2 scalar",
    "x147_rbo_drift": "rank + cumulative windows over two TakeOrdered(20) frames and a 20-row literal depth table — every SinglePartition input is <=20 rows by construction",
    "x152_eb_smoothed_rate": "global prior scalar (X, N) over the ~25-row brand aggregate: one partial row per partition, then broadcast",
    "x156_knee_point": "cumulative + endpoint/argmax scalars over the MONTH-level aggregate (x74/x77 aggregate-first idiom)",
    "x159_ks_drift": "grand-count scalar + broadcast value lattice (the x116 idiom); cumulative windows run over the sources x distinct-length grid",
    # round-25 staged (registration lands round 7; inert until then).
    "x166_bitmap_retention": "lead window over the DISTINCT-MONTH frame (~84 rows at any corpus size, the x74/x77 aggregate-first idiom); the bitmap words themselves aggregate distributed via bit_or",
    "x172_bfs_hops": "three per-hop count/checksum scalars: each global agg combines one partial row per partition; frontier sets themselves stay distributed through the broadcast semi-joins",
    "x174_u_attribution": "unattributed-bucket scalar (count over the anti-joined purchases): one partial row per partition, then a 1-row union with the per-type aggregate",
    "x177_ann_recall_eval": "rank windows over two TakeOrdered(10) frames + candidate-count scalar — every SinglePartition input is <=10 rows or one partial row per partition",
    "x178_stump_split": "min-error/argmin window over the <=50-row quantity-threshold frame (the value-domain aggregate-first idiom) + nn/np scalar broadcast",
    "x181_fk_integrity": "six per-edge count scalars (rows + anti-join orphans): each global agg combines one partial row per partition into the 6-row report",
    "x183_join_key_skew": "rank-pick windows over the frequency-of-frequency frame (a few hundred rows at any corpus size) + three per-column report scalars",
    "x184_dup_cluster_sizes": "corpus-total scalar over the frequency-of-frequency frame: one partial row per partition, then broadcast into the ppm ratio",
    "x188_embedding_audit": "exact norm2 rank window (the certifiable form; rank_method='bucketed' selects operators/ranks.py global_row_number — distributed exact, test_ranks.py) + report scalars",
    "x191_apriori_triples": "relative-minsup scalar (baskets DIV 200): one partial row per partition, then broadcast into every level filter",
    "x193_vocab_growth": "ntile over the one-row-per-document frame (the certifiable form; rank_method='bucketed' selects operators/ranks.py global_ntile — distributed exact, test_ranks.py) + the 10-row cumulative rollup",
    # round-26 staged (registration lands round 8; swept while staged
    # so anti-patterns can't hide until registration — the x166 lesson).
    "x194_k_anonymity": "global governance rollup over the ~125-row QI equivalence-class aggregate: one partial row per partition",
    "x197_negative_sampling": "brand-dim rank window over the ~25-row distinct-brand frame + n_brands scalar broadcast; the 3-row audit rollup combines one partial row per partition",
    "x199_entity_holdout": "global audit rollup over the per-customer aggregate: one partial row per partition",
    "x200_discrete_hazard": "suffix-sum window over the <=13-row gap-bucket aggregate (the x74/x77 aggregate-first idiom)",
    "x204_class_reweighting": "corpus-total + ESS scalars over the <=|langs x sources| cell table: one partial row per partition, then broadcast",
    "x205_judge_agreement": "global judge-count agg: one partial row per partition combines to the 1-row count frame",
    "x206_gdpr_erasure": "three per-table count rollups: each global agg combines one partial row per partition into the 3-row blast-radius report",
    "x209_temporal_split_audit": "global audit rollup over the per-customer aggregate: one partial row per partition",
    "x212_simpson_reversal": "month-origin scalar (global min month, the x114 idiom) + pooled slope-sign scalar over the <=|months| frame, both broadcast",
    "x215_calibration_ece": "ECE scalar over the <=10-row bin aggregate: one partial row per partition, then broadcast back",
    "x217_contamination_width_curve": "per-width contaminated-doc count + eval-doc count scalars: each global agg combines one partial row per partition into the 3-row curve",
    "x219_quantile_normalization": "pooled reference rank — the certifiable form; rank_method='bucketed' selects operators/ranks.py global_row_number (distributed exact, test proves oracle parity); plus the n_pool scalar broadcast",
    "x220_srm_check": "global allocation count: one partial row per partition combines to the 1-row chi-square frame",
    "x222_mixture_feasibility": "corpus-total scalar over the <=|sources| frame: one partial row per partition, then broadcast into the rate plan",
    "x223_context_length_curve": "four per-length rollups over the 32-bucket token-total frame: each global agg combines one partial row per partition into the 4-row curve",
    # round-28 staged batch (registration lands in round 9)
    "x235_percent_of_parent": "grand-total window over the <=|region x nation x segment| cell frame (~125 rows), never the fact table",
    "x237_hurst_rs": "global day rank + 4-point OLS windows over the bounded daily frame (|days| rows)",
    "x239_gains_table": "global rank over the CUSTOMER aggregate (certifiable form; the x219 bucketed-rank path is the scale twin) + cumulative windows over the 10-row decile frame",
    "x240_brier_decomposition": "global totals window over the 10-row calibration-bin frame",
    "x243_vocab_coverage_curve": "rank window + corpus-total scalar over the bounded TakeOrdered top-10k vocab frame",
    "x245_twonn_intrinsic_dim": "final 1-row estimator agg: one partial row per partition after the keyed NN stages",
    "x257_l28_histogram": "window-anchor scalar (max day) over the deduped user-day table, broadcast back",
    "x259_anova_oneway": "grand moment rollup over the 5-row segment frame: one partial row per partition",
    "x260_extreme_value_gumbel": "1-row Gumbel moment frame over the <=|30-day blocks| maxima",
    "x261_capture_recapture": "global mark counts: one partial row per partition into the 1-row Chapman frame",
    "x262_modularity_score": "global Q window over the <=|communities| term frame; edge total is a 1-row broadcast",
    "x264_degree_assortativity": "global edge-moment frame: one partial row per partition after the keyed degree joins",
    "x265_clustering_coefficient": "1-row triangle and wedge scalars after the keyed two-hop join",
    "x266_kendall_w": "concordance windows over the <=|nations| rank-sum frame; year count is a 1-row broadcast",
    "x267_sax_symbols": "breakpoint rank over the bounded |years| x 16 PAA segment frame",
    "x268_theil_decomposition": "1-row corpus totals broadcast into the <=|nations| term frame",
    "x270_spc_control_chart": "1-row center-line frame over the <=|weeks| subgroup aggregate",
    "x271_kruskal_wallis": "global midrank window over the fact frame (documented certifiable form; the x219 bucketed rank is the scale path) + 5-row scalar frames",
    "x274_cpk_capability": "1-row capability frame over the <=|weeks| subgroup aggregate",
    # round-29 live registrations (round 9)
    "x245b_twonn_bucketed": "final 1-row estimator agg: one partial row per partition after the SRP-bucketed candidate stages (the x245 idiom)",
    # round-30 staged batch (registration lands in round 10; swept
    # while staged per the x166 lesson)
    "x275_ljung_box": "global per-nation frames are nkey-partitioned; the final rollup combines one partial row per partition per nation group",
    "x276_jarque_bera": "global 1-row-per-segment moment agg: one partial row per partition",
    "x277_pr_auc": "cumulative windows partition by SEGMENT over the distinct-score-group frame (5 partitions, certifiable form; the x219 bucketed rank is the scale path)",
    "x279_grubbs_test": "brand-keyed moment agg; scalar algebra on the <=|brands| frame",
    "x280_fd_violations": "three per-FD 1-row rollups: each global agg combines one partial row per partition",
    "x281_benford_second_digit": "segment-partitioned total window over the <=|segments x 10| digit frame",
    "x283_abc_xyz_matrix": "ABC cumulative window over the PART-level aggregate (the x112 certifiable form; x219 bucketed rank is the scale path)",
    "x285_kaplan_meier": "both cumulative windows run over the <=13-row gap-bucket aggregate (the x200 idiom)",
    "x287_pot_gpd": "global rank pick over the bounded DAILY aggregate + 1-row threshold broadcast + 1-row moment frame",
    "x288_lognormal_fit": "segment-keyed agg over per-row integer ln terms: one partial row per partition",
    "x289_dickey_fuller": "global row_number over the bounded DAILY aggregate + 1-row OLS frame",
    "x290_entropy_rate": "global 1-row agg over the |etypes|^2 cell frame: one partial row per partition",
    "x291_cochran_armitage": "global 1-row agg over the 7-row year frame: one partial row per partition",
    "x292_smd_balance": "per-covariate 1-row moment rollup: one partial row per partition",
    "x295_keyness_llr": "corpus token-total scalar (1-row broadcast) + bounded TakeOrdered top-1k vocab broadcast",
    "x296_fleiss_kappa": "global 1-row judge agg over documents: one partial row per partition",
    "x297_cramers_v_matrix": "marginal windows over the bounded contingency cell frames (pair/av/bv partitions)",
    "x298_poisson_dispersion": "nation-keyed moment agg; the (nation, day) count agg partial-aggregates map-side",
    "x299_zipf_slope": "rank window over the bounded TakeOrdered top-1k vocab frame + 1-row OLS agg",
    "x300_turning_points": "lag/lead windows over the bounded DAILY aggregate + 1-row test frame",
    "x301_friedman_test": "1-row k scalar + 1-row Q frame; rank windows partition by MONTH over the <=|segments| frame",
    "x302_gamma_mom": "segment-keyed moment agg: one partial row per partition per segment",
    "x303_hoover_index": "region totals broadcast back into one deviation agg: one partial row per partition",
    "x304_interarrival_cv2": "segment-keyed gap-moment agg after the customer-partitioned lag window",
    "x305_records_test": "running-max + rank windows over the bounded DAILY aggregate + 1-row test frame",
    "x306_skyline_parts": "frontier cumulative-min window over the <=50-row size-domain aggregate, broadcast back as a probe",
    "x307_cronbach_alpha": "one global judge agg over documents: one partial row per partition",
    "x308_brown_forsythe": "segment-partitioned median rank pick (certifiable form; x219 bucketed rank is the scale path) + 1-row ANOVA frame",
    "x309_pacf": "bounded per-nation monthly frames (the x171/x275 shape); the 25-row Durbin-Levinson pivot",
    "x310_cohens_d": "segment moment agg + the 5x5-bounded pair join",
    "x311_binary_segmentation": "prefix windows over the bounded DAILY aggregate + TakeOrdered(1) argmin",
    # round-32 staged batch (tops the round-11 window off at 50)
    "x326_state_ttl_projection": "1-row hour-span broadcasts; interval windows ride (ttl, user) partitioning; boundary cumsum partitions by ttl over the time-bounded hour frame",
    "x327_gap_sensitivity": "4-row gap-limit agg: one partial row per partition per gap",
    "x329_microbatch_profile": "cumulative windows over the bounded DISTINCT-batch-size frame + 1-row quantile agg",
    "x330_neyman_allocation": "weight-total windows over the 5-row segment frame",
    "x331_bh_fdr": "1-row global-moment broadcast; rank + k_max windows over the 25-row nation frame",
    "x332_embedding_energy": "rank/cumulative windows over the 64-row dimension frame",
    "x333_haar_energy": "bounded daily row_number + share window over the 4-row level frame",
    "x334_periodogram_peak": "bounded daily row_number + share/rank windows over the 4-row period frame",
    "x336_permutation_test": "65-row replicate frame -> 1-row p-value agg: one partial row per partition",
    "x339_dim_redundancy": "28 one-row cross-moment aggs off one scan: one partial row per partition each",
    "x340_calibration_slope": "1-row max broadcast + global moment agg: one partial row per partition",
    # round-31 staged batch (targets the round-11 window)
    "x312_bigram_logprob": "corpus vocab scalar V: one partial row per partition, then broadcast into the LM join",
    "x313_taylor_law": "nation moment agg -> 25-row log-log point frame -> 1-row OLS",
    "x315_abc_migration": "two year-scoped part-level cumulative ABC windows (the x112/x283 certifiable form; x219 bucketed rank is the scale path)",
    "x317_confusion_at_threshold": "three global confusion rollups: one partial row per partition each",
    "x318_t_closeness": "1-row corpus total + bounded |qi| x |sens| lattice completion",
    "x319_horvitz_thompson": "one global design-estimator agg: one partial row per partition",
    "x320_qte_deciles": "arm-partitioned rank windows (2 partitions, certifiable form; x219 bucketed rank is the scale path) + 9-row decile join",
    "x321_degree_powerlaw": "bounded TakeOrdered top-100 degree frame + 1-row Hill agg",
    "x322_simpson_diversity": "(source, token) hash-agg -> source rollup; no windows",
    "x323_logrank_test": "suffix-sum windows over the <=13-row bucket frame + 1-row test agg",
    "x324_icc_design_effect": "customer-keyed moment agg -> 1-row random-effects frame",
    "x325_inequality_trend": "year-partitioned rank windows over the customer aggregate (certifiable form; x219 bucketed rank is the scale path) + 1-row slope broadcast",
    # round-34/35 registrations (round 12): reviewed in the sweep's
    # first pass over the glob-discovered staged batches.
    "x349_wilcoxon_signed_rank": "bucket-prefix window over the bounded ~96-row |d|-bucket frame + final scalar agg; corpus-sized ranking is bucket-partitioned",
    "x352_split_leakage": "leak_pairs + split-count scalars: one partial row per partition, then broadcast crossJoin",
    "x356_bloom_prefilter": "scalar member/probe/FPR aggs + the bounded 2048-word filter table: one partial row per partition, then broadcast",
    "x357_file_skipping": "bucket-prefix window over the bounded per-bucket count frame + per-layout scalar aggs; file ids assign with bucket-partitioned row_number, never a global window",
    "x358_wasserstein_w1": "cumulative/lead windows over the bounded <=~5000-cell value-domain grid + n1/n2/W1 scalars broadcast",
    "x359_sequence_match": "n_users/n_with_both/n_matched scalars: one partial row per partition, then broadcast crossJoin",
    "x360_join_cardinality": "TakeOrdered(100) top slice + three scalar aggs over the key histogram; the estimated join never executes",
}


def test_no_catalog_plan_single_partitions_or_goes_cartesian(spark, sf_dir):
    """Sweep EVERY catalog entry's physical plan: no entry outside the
    whitelist may funnel through Exchange SinglePartition, and none may
    plan a CartesianProduct. This is the blanket guard that a future
    entry doesn't reintroduce the global-window anti-pattern."""
    bad = {}
    for name, qy in REGISTRY.items():
        plan = qy.spark.__wrapped__(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            bad[name] = "CartesianProduct"
        elif "Exchange SinglePartition" in plan and name not in _SINGLE_PARTITION_OK:
            bad[name] = "Exchange SinglePartition"
    assert not bad, f"scale anti-patterns planned: {bad}"


def test_ivf_assign_is_map_only(spark, sf_dir):
    """Centroid assignment must be a pure map over the corpus: the
    centroids unroll into a greatest-over-structs expression, so the
    plan may contain NO join and NO exchange. (The previous
    crossJoin + per-id window form materialized n_cells x the corpus
    and shuffled it — 64s vs ~4s at 2M vectors in the scale sweep.)"""
    from ravelytics_spark.operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    cents = SIM.ivf_centroids(emb, "embedding", 8)
    plan = _executed_plan(SIM.ivf_assign(emb, cents, "embedding"))
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert "Window" not in plan


def _final_plan(df) -> str:
    """Executed plan, FINAL section only: once an AQE plan has run
    (an action on the same Dataset, or an eager checkpoint inside the
    build), toString() prints both '== Final Plan ==' and '== Initial
    Plan ==' sections and naive substring counts double."""
    plan = _executed_plan(df)
    return plan.split("== Initial Plan ==")[0]


def test_x22_centroid_assign_argmin_is_map_only(spark, sf_dir):
    """The catalog's nearest-centroid confusion query scores vectors with
    the same unrolled least-over-structs argmin as ivf_assign: no join,
    no window, no explode — the only exchanges are the k x k confusion
    hash-agg and the final order-by range partitioning. (The previous
    posexplode + broadcast-join + per-vector window shuffled
    vectors x k x dims rows — the round-3 scale table's 2.3x entry.)"""
    plan = _final_plan(REGISTRY["x22_centroid_assign"].spark.__wrapped__(spark, sf_dir))
    assert "Join" not in plan
    assert "Window" not in plan
    assert "Generate" not in plan  # no posexplode of the vectors
    # confusion agg + output sort, plus fan_out_scan's round-robin of
    # the single-split test corpus (r12 — a no-op exchange on any
    # well-partitioned input, so the 100 TB plan stays at 2; under a
    # local[1] session fan_out_scan is a no-op too, hence 2 or 3 —
    # ADVICE r12)
    assert plan.count("Exchange") in (2, 3)


def test_x30_rp_projection_has_no_agg_shuffle(spark, sf_dir):
    """Random projection bakes the data-independent sign matrix into the
    plan as literal arrays, so each projection is a per-row fold: no
    join, no aggregate at all, and the single exchange is the output
    sort's range partitioning. (The previous explode x 8 -> (vec_id, j)
    hash-agg shuffled dims x 8 term rows per vector — the round-4 scale
    table's 2.8x entry.)"""
    plan = _final_plan(REGISTRY["x30_rp_projection"].spark.__wrapped__(spark, sf_dir))
    assert "Join" not in plan
    assert "HashAggregate" not in plan
    assert plan.count("Exchange") == 1
    assert "rangepartitioning" in plan


# ---------------------------------------------------------------------------
# x13x-x23x generation shape pins (round 8): the newer heavy entries get
# the same shuffle-count discipline as the original 22 sections.
# ---------------------------------------------------------------------------


def test_x141_penny_windows_share_one_exchange(spark, sf_dir):
    """Largest-remainder rounding runs three order-keyed windows
    (order-total running sum, remainder rank, floor-allocation running
    sum) and the reconciliation agg — all on l_orderkey, so Catalyst
    must plan them over ONE hashpartitioning exchange; a second would
    mean the window specs drifted apart."""
    plan = _final_plan(REGISTRY["x141_penny_allocation"].spark.__wrapped__(spark, sf_dir))
    assert plan.count("Window") == 3
    assert plan.count("Exchange hashpartitioning") == 1


def test_x150_winnow_single_pair_join(spark, sf_dir):
    """Candidate pairs come from the single fingerprint equi-join
    (never all-pairs). The fingerprint pipeline deliberately carries
    NO checkpoint: with only two consumers, the 100x sweep measured a
    DISK_ONLY cut at 259 s vs 203.6 s recomputing twice (and a memory
    cut OOMs the hash aggs) — the cut pays from three consumers up,
    which is x227's shape, not this one."""
    plan = _final_plan(REGISTRY["x150_winnow_dup_spans"].spark.__wrapped__(spark, sf_dir))
    assert plan.count("Join") == 1
    assert "CartesianProduct" not in plan


def test_x227_capped_winnow_anti_probe_shape(spark, sf_dir):
    """The production winnowing form adds only a broadcast LeftAnti
    hot-fingerprint probe on top of x150's shape: still zero
    Generate/Window in the final plan (one checkpoint feeds the cap
    agg and both self-join sides), and no new shuffle of the
    fingerprint stream (the hot list is bucket-size-agg output)."""
    plan = _final_plan(REGISTRY["x227_winnow_capped"].spark.__wrapped__(spark, sf_dir))
    assert "Generate" not in plan
    assert "Window" not in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_x164_capped_sessions_is_one_bucketed_arrow_stage(spark, sf_dir):
    """The capped sessionizer is the sanctioned Arrow path: exactly one
    bucket-keyed exchange into FlatMapGroupsInPandas (bounded groups by
    construction); the only other exchange is the output sort."""
    plan = _final_plan(REGISTRY["x164_capped_sessions"].spark.__wrapped__(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_x172_bfs_frontier_is_semi_anti_joined(spark, sf_dir):
    """Bounded BFS keeps the frontier/visited sets flowing through
    semi/anti joins against the (checkpointed) edge list — no windows,
    no cartesian anywhere, and the seed is a TakeOrdered top-k, not a
    global sort."""
    plan = _final_plan(REGISTRY["x172_bfs_hops"].spark.__wrapped__(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_x177_ann_recall_scores_checkpointed_once(spark, sf_dir):
    """The decimal-exact scored frame feeds the exact top-k, the SRP
    top-k and the candidate count — the eager checkpoint must make all
    three read Scan ExistingRDD instead of re-running the unrolled
    per-dim codegen; ranking stays TakeOrdered + bounded windows."""
    plan = _final_plan(REGISTRY["x177_ann_recall_eval"].spark.__wrapped__(spark, sf_dir))
    assert "Scan ExistingRDD" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_x230_hubness_topk_heaps_before_shuffle(spark, sf_dir):
    """The all-pairs NN scoring must be a replicated EQUI-join (never
    CartesianProduct), and the per-query top-k must run its PARTIAL
    WindowGroupLimit heap pass before the qa shuffle — the row_number
    window itself then ranks only surviving candidates."""
    plan = _final_plan(REGISTRY["x230_hubness_audit"].spark.__wrapped__(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "WindowGroupLimit" in plan
    assert plan.count("Generate") == 1  # the replication explode only


def test_x233_bucket_balance_partial_mins_no_joins(spark, sf_dir):
    """The banding audit is pure aggregation: signature mins partial-
    aggregate map-side before the doc shuffle, the band posexplode
    feeds two stacked hash-aggs, and there is no join anywhere."""
    plan = _final_plan(REGISTRY["x233_lsh_bucket_balance"].spark.__wrapped__(spark, sf_dir))
    assert "Join" not in plan
    assert "partial_min" in plan
    assert plan.count("Generate") == 2  # shingle explode + band posexplode


# ---------------------------------------------------------------------------
# Round-28 graph family (registered round 9): pin the per-round join
# counts and checkpoint discipline the way x127/x172 are pinned, so an
# iterative-rewrite regression (re-deriving the edge list per round,
# lineage blowup across rounds) fails here, not at 100 TB.
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "name", ["x103_triangle_count", "x154_item_cf_topk", "x321_degree_powerlaw"]
)
def test_coorder_graph_dedups_behind_one_exchange_on_order(spark, sf_dir, name):
    """The graph entries whose edge build reaches the final plan (no
    checkpoint cuts it) take (order, part) from ``coorder_pk``: one
    REPARTITION_BY_COL exchange on the order key serves both the
    distinct and the within-order self-join, and no exchange on (o, p)
    remains — the naive ``select(o, p).distinct()`` form's extra full
    shuffle of the relation."""
    plan = _final_plan(REGISTRY[name].spark.__wrapped__(spark, sf_dir))
    assert not re.search(r"Exchange hashpartitioning\(o#\d+L, p#\d+L,", plan)
    assert re.search(
        r"Exchange hashpartitioning\(o#\d+L, \d+\), REPARTITION_BY_COL", plan
    )


def test_x246_lpa_round_is_one_join_off_checkpoints(spark, sf_dir):
    """Every label-propagation round must read the CHECKPOINTED edge
    list (Scan ExistingRDD), never re-derive it: the final plan holds
    exactly one label join PER ROUND (the rounds are lazy — linear
    lineage, r12), the edge build is fully cut away (no parquet scan
    survives the checkpoint), and each round's edge read comes off the
    checkpoint blocks."""
    from ravelytics_spark.plans.round28_staged import _LPA_ROUNDS

    plan = _final_plan(REGISTRY["x246_label_propagation"].spark.__wrapped__(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("Join") == _LPA_ROUNDS, plan.count("Join")
    assert plan.count("Scan ExistingRDD") >= _LPA_ROUNDS
    assert "Scan parquet" not in plan  # edge build cut by the checkpoint


def test_x262_modularity_tags_off_checkpointed_labels(spark, sf_dir):
    """Modularity reuses the LPA machinery: the final plan starts from
    the checkpointed label + edge frames (never re-running the rounds),
    tags edges with two label joins, and the only nested-loop join is
    the 1-row global-edge-count broadcast."""
    plan = _final_plan(REGISTRY["x262_modularity_score"].spark.__wrapped__(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("Scan ExistingRDD") >= 2
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # the m2 scalar only


def test_x263_adamic_adar_candidates_stay_equi_joined(spark, sf_dir):
    """Link-prediction candidates come only through shared neighbors
    (an equi self-join on the checkpointed edge list) with the
    1/ln(degree) weight table BROADCAST into the join; the top-50 is a
    TakeOrderedAndProject heap, never a global sort."""
    plan = _final_plan(REGISTRY["x263_adamic_adar"].spark.__wrapped__(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # the broadcast weight probe
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Scan ExistingRDD") >= 1


def test_x264_assortativity_broadcasts_degree_dims(spark, sf_dir):
    """Degree assortativity joins the (node, degree) dim onto BOTH edge
    endpoints as broadcasts — the big edge frame never shuffles for the
    moment sums (they partial-aggregate map-side to one row per
    partition)."""
    plan = _final_plan(
        REGISTRY["x264_degree_assortativity"].spark.__wrapped__(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("Scan ExistingRDD") >= 1


def test_x265_clustering_triangle_join_is_oriented_semi(spark, sf_dir):
    """Triangle counting must be the oriented two-hop equi-join closed
    by a LEFT SEMI probe (each triangle counted once), with wedges a
    pure degree aggregate — the only nested-loop join is the final
    1-row wedge-scalar broadcast."""
    plan = _final_plan(
        REGISTRY["x265_clustering_coefficient"].spark.__wrapped__(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # wedge scalar only
    assert "LeftSemi" in plan
    assert plan.count("Scan ExistingRDD") >= 1


# ---------------------------------------------------------------------------
# Round-29: the SRP-bucketed production twins.
# ---------------------------------------------------------------------------


def test_x230b_bucketed_candidates_equi_join_and_heaps(spark, sf_dir):
    """The bucketed hubness audit must generate candidates through the
    SRP-code EQUI-join (probe explode on the neighbor side, per-bucket
    row_number cap), never a cartesian; the per-query top-k runs its
    partial WindowGroupLimit heap before the qa shuffle, and the
    fixed-point encode is checkpointed once (the x230 discipline)."""
    plan = _final_plan(
        REGISTRY["x230b_hubness_bucketed"].spark.__wrapped__(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "WindowGroupLimit" in plan
    assert plan.count("Generate") == 1  # the probe explode only
    assert plan.count("Scan ExistingRDD") >= 2  # nz feeds both sides


def test_x245b_bucketed_twonn_shares_candidate_shape(spark, sf_dir):
    """The bucketed TwoNN estimator reuses the same candidate plan:
    equi-join on probe codes, top-2 via WindowGroupLimit heaps, one
    final single-row estimator agg."""
    plan = _final_plan(REGISTRY["x245b_twonn_bucketed"].spark.__wrapped__(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "WindowGroupLimit" in plan
    assert plan.count("Generate") == 1


def test_every_bench_headline_query_has_a_plans_md_pin():
    """The bench-drift protocol's first triage step for a flagged query
    is diffing its current plan against its PLANS.md pin — so every
    HEADLINE query must have a section (the round-11 verdict found the
    x342/x343 headliners on the board unpinned). gen_plans.py now
    derives its set as SHOWCASE ∪ HEADLINE; this guards the artifact
    actually on disk."""
    import os as _os
    import re as _re

    repo = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    import sys as _sys

    if repo not in _sys.path:
        _sys.path.insert(0, repo)
    import bench as _bench

    plans = open(_os.path.join(repo, "PLANS.md")).read()
    sections = set(_re.findall(r"^## ([a-z0-9_]+)$", plans, _re.M))
    missing = [
        n for n in _bench.HEADLINE if n in REGISTRY and n not in sections
    ]
    assert not missing, f"headline queries without a PLANS.md pin: {missing}"


def test_ivf_serve_path_prunes_partitions_statically(spark, tmp_path):
    """The build/serve split's 100 TB claim, pinned as a plan shape: a
    prebuilt assignment table written partitioned by cell_id must be
    probed via a LITERAL cell_id IN filter that lands in the scan's
    PartitionFilters (static pruning — only probed cells' files are
    listed/read), with no join anywhere in the serve plan."""
    import random

    from ravelytics_spark.operators import similarity as SIM

    rng = random.Random(7)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(200)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    built = SIM.ivf_centroids(emb, "embedding", 8)
    cents = spark.createDataFrame(built.collect(), built.schema)
    path = str(tmp_path / "ivf_index")
    SIM.ivf_assign(emb, cents, "embedding").write.partitionBy(
        "cell_id"
    ).parquet(path)
    assigned = spark.read.parquet(path)
    out = SIM.ivf_topk(
        emb,
        "embedding",
        rows[3][1],
        k=5,
        n_probe=2,
        centroids=cents,
        assigned=assigned,
    )
    plan = _executed_plan(out)
    assert "Join" not in plan, "serve path must not join for the probe"
    # the literal IN filter reaches the scan as a partition filter
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:", 1)[1].split("]", 1)[0]
    assert "cell_id" in pf and pf.count("#") >= 1, pf
    # and it actually prunes: 2 of the 8 cell directories survive
    n_parts = out.sparkSession.read.parquet(path).select(
        "cell_id"
    ).distinct().count()
    assert n_parts == 8
    probed = out  # executing collects only probed-cell rows
    ids = {r.vec_id for r in probed.collect()}
    assert ids  # non-empty: the probe found its own cell
