"""Catalog entries x194-x226.

Theme: training-data governance + robust warehouse analytics — the
operational layer around the curation/dedup/similarity stack.

* ``x194_k_anonymity`` — the k-anonymity audit a training-data
  governance pass runs before release: equivalence classes over the
  quasi-identifier pair (nation, market segment), rows in classes
  smaller than k=5, and the at-risk fraction in exact ppm. One
  hash-agg over the QI key (distributed) + one bounded rollup over
  the <=|nations x segments| class table.
* ``x195_winsorized_stats`` — per-brand winsorized mean: values are
  clamped to the exact rank-picked p05/p95 cents before averaging
  (rank thresholds L = n*5 DIV 100 + 1, H = n*95 DIV 100 floored to
  >=L over the total (cents, orderkey, linenumber) order) — the
  robust-mean counterpart of x124's Tukey fences, certified
  integer-exact; milli-cent means keep the 100x sum inside BIGINT
  (the x148/x160 overflow lesson).
* ``x196_feature_hashing`` — the hashing-trick audit: categorical
  features (segment:nation) hash into 64 buckets via the portable
  md5 prefix; per-bucket distinct-feature and row loads quantify
  collision pressure before anyone trains on hashed features.
* ``x197_negative_sampling`` — deterministic negative sampling for
  (customer -> brand) positives: 3 md5-indexed brand draws per
  customer, observed positives removed by ANTI join — the
  contrastive-training pair generator, reproducible across
  partitionings because draws hash (customer, draw index), never
  row position.
* ``x198_profile_drift`` — column-profile drift between the first
  and second calendar halves of orders (split at 1998-05-01, the
  midpoint of the 1995-01..2001-08 corpus): row counts, exact
  distinct customers, cents totals, milli-cent means,
  urgent-priority ppm per side plus the integer deltas — the x79
  single-table profile lifted to the two-snapshot drift report.
* ``x199_entity_holdout`` — leakage-free holdout split at the
  CUSTOMER entity (md5(custkey) % 100 < 10), with the audit that
  explains WHY: the row-hash alternative (md5(orderkey)) is
  replayed side by side and the count of customers straddling
  splits under it is reported — entity split: zero by construction,
  row split: thousands (the train/test contamination x109's row
  split cannot see).
* ``x200_discrete_hazard`` — discrete-time hazard of repeat
  ordering: consecutive order gaps bucketed into 30-day intervals,
  at-risk counts by suffix sum over the <=13-bucket table, hazard
  in exact ppm — the survival-analysis primitive without a single
  float product (no Kaplan-Meier running product to drift).
* ``x201_curation_matrix`` — the curation decision cross-tab:
  length band (n_chars DIV 256 capped at 7) x duplication band
  (normalized-fingerprint cluster size 1/2/3+) with doc and
  char volumes per cell — the policy table a curation run reads to
  decide what to drop first (big dup clusters of short docs).

Second wave: privacy + feature-engineering
audits.

* ``x202_contribution_capping`` — DP-prep per-user contribution
  bounding: per-nation revenue recomputed with each customer clamped
  at a fixed cents cap; clipped counts + exact clipping bias ppm.
* ``x203_l_diversity`` — x194's companion: distinct sensitive values
  (segment) per QI class (nation), classes below l=3 flagged.
* ``x204_class_reweighting`` — inverse-frequency (lang x source)
  weights in capped milli units + the effective sample size
  ESS = (sum n*w)^2 / sum n*w^2, all integer.
* ``x205_judge_agreement`` — Cohen's kappa between two deterministic
  quality judges in exact ppm, with the portable signed-division
  CASE (kappa can be negative; floor vs truncate diverges on
  negative operands across engines).
* ``x206_gdpr_erasure`` — right-to-be-forgotten blast radius:
  deletion cohort cascades customer -> orders -> lineitem via SEMI
  joins; per-table deleted counts + ppm.
* ``x207_near_zero_variance`` — caret's nearZeroVar screen: top1/top2
  frequency ratio + percent-unique per categorical feature, ppm.
* ``x208_loo_target_encoding`` — leave-one-out target encoding
  collapsed to its exact two-values-per-group form, with the
  leak gap 1e6/(n-1) that proves naive LOO leaks the own label.
* ``x209_temporal_split_audit`` — the temporal sibling of x199:
  cold-start eval customers + future-feature contamination counts.
* ``x210_readability`` — per-source Flesch reading ease in exact
  milli units (vowel-group syllable proxy), native regexp counting.

Third wave: evaluation + experiment-design audits.

* ``x211_stratified_kfold`` — deterministic entity-keyed k-fold
  assignment with the per-stratum fold-balance audit (share ppm,
  deviation from 1/k).
* ``x212_simpson_reversal`` — Simpson's-paradox detector: per-nation
  vs pooled monthly trend slope SIGN via x114's exact integer
  numerator (the denominator is always positive, so no division).
* ``x213_churn_label_sensitivity`` — churn under 60d vs 90d label
  windows side by side; the flip count is the definition artifact a
  model would otherwise learn as signal.
* ``x214_mrr_eval`` — Mean Reciprocal Rank for the retrieval stack:
  rank by query-term tf, relevance needs the intent term too; RR in
  exact ppm, MRR the integer mean (x123's NDCG sibling).
* ``x215_calibration_ece`` — reliability diagram + ECE for the
  customer-history urgency predictor, strictly-prior windows (no
  label leakage), all milli-exact.

Fourth wave: corpus-hygiene governance.

* ``x216_boilerplate_score`` — CCNet-style cross-doc boilerplate:
  share of a doc's 6-token lines that >= 3 docs contain, rolled up
  per source with the heavy-doc rate (the within-doc
  x4_repetition_score's corpus-level complement).
* ``x217_contamination_width_curve`` — eval-contamination rate at
  n-gram widths 4/6/8 over an entity-keyed doc split: the
  sensitivity curve that justifies the width x19 ships with.
* ``x218_dedup_spillover_matrix`` — under keep-min survivorship,
  (keeper source, dropped source) counts: who actually loses
  documents in cross-source dedup (x110 measures similarity; this
  measures the casualties).

Fifth wave: experiment-platform + feature-prep primitives.

* ``x219_quantile_normalization`` — per-brand price distributions
  mapped onto the pooled reference by exact rank (the batch-effect
  correction); pooled rank is the whitelisted certifiable window
  with the ranks.py bucketed scale path selectable.
* ``x220_srm_check`` — sample-ratio-mismatch chi-square for the
  x199 entity split in exact ppm (x202's two-stage division
  decomposition keeps the worst-case square in BIGINT), flagged at
  the 95% critical value.

Sixth wave (closing the batch): finance + mix planning.

* ``x221_pvm_bridge`` — exact price-volume decomposition between two
  years on the q0-scaled axis (q0*dR = volume_term + price_term, no
  rational average price), floor-dollar units for the 100x bound.
* ``x222_mixture_feasibility`` — downsample-only mix planner: per
  source the min(1, target/n) rate in ppm, achieved counts, and the
  infeasibility flag that routes small sources to x50's epochs.
* ``x223_context_length_curve`` — the context-length decision table:
  exact offset-packing tail waste (ppm of capacity) and no-split
  truncation costs at budgets 256/512/1024/2048 — the
  sensitivity-curve family applied to training-infra planning.
* ``x224_effective_token_mass`` — dedup-weighted token accounting:
  tokens count 1/cluster-size, so raw vs EFFECTIVE token mass per
  source plus the retention ratio — the number a pretraining mix
  planner budgets with (x218 says who loses docs; this says how
  many unique tokens each source really brings).
* ``x225_diff_in_diff`` — exact difference-in-differences point
  estimate: entity-keyed treatment parity × before/after split,
  milli-cent cell means, DiD by subtraction only — the
  parallel-trends causal estimator for coarse-entity rollouts.
* ``x226_cuped_audit`` — CUPED variance-reduction audit: per nation,
  exact integer covariance/variance numerators of pre-split vs
  post-split customer spend, signed theta in milli, and the variance
  reduction rho^2 in ppm (double-derived from exact integers with an
  identical expression tree, the x114 precedent).

Hash-parity conventions as plans/queries.py: exact cents/BIGINT
arithmetic, md5-derived portable hashes (CAST('0x'||substr(md5 ..)
in DuckDB == conv(substr(md5 ..),16,10) in Spark, both unsigned
32-bit), nonnegative-operand floor divisions only, total ORDER BY on
every output. Every product is bounded at 100x of sf0.1 row counts
before it is written (the x160 overflow rule): cents sums reach
~2.4e13 there, so ratio scalings use x1000 (milli) against raw sums
and x1e6 (ppm) only against counts.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ravelytics_spark.plans.registry import q
from ravelytics_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# x194 — k-anonymity audit over quasi-identifiers
# ---------------------------------------------------------------------------

_KANON_K = 5

_KANON_ORACLE = f"""
WITH cls AS (
    SELECT c_nationkey, c_mktsegment, count(*) AS sz
    FROM customer GROUP BY c_nationkey, c_mktsegment
)
SELECT CAST({_KANON_K} AS BIGINT) AS k,
       CAST(SUM(sz) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(SUM(CASE WHEN sz < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_small_classes,
       CAST(SUM(CASE WHEN sz < {_KANON_K} THEN sz ELSE 0 END) AS BIGINT)
           AS n_risky_rows,
       CAST(SUM(CASE WHEN sz < {_KANON_K} THEN sz ELSE 0 END) * 1000000
            // SUM(sz) AS BIGINT) AS risky_ppm,
       CAST(MIN(sz) AS BIGINT) AS min_class_size
FROM cls
"""


@q(
    "x194_k_anonymity",
    "OP-G5/X-ext",
    "k-anonymity audit over the (nation, market segment) "
    "quasi-identifier pair: every row in an equivalence class smaller "
    "than k=5 is re-identifiable by QI lookup, so the governance gate "
    "reports class counts, at-risk rows and the risky fraction in "
    "exact ppm (risky*1e6 over rows: counts only, BIGINT-safe at any "
    "advertised scale). Scale shape: one map-side-combinable hash-agg "
    "on the QI key; the rollup runs over the <=|nations x segments| "
    "class table (~125 rows regardless of corpus size).",
    _KANON_ORACLE,
)
def x194_k_anonymity(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    cls = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("sz")
    )
    small = F.col("sz") < _KANON_K
    return cls.agg(
        F.lit(_KANON_K).cast("long").alias("k"),
        F.sum("sz").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_classes"),
        F.sum(F.when(small, 1).otherwise(0))
        .cast("long")
        .alias("n_small_classes"),
        F.sum(F.when(small, F.col("sz")).otherwise(0))
        .cast("long")
        .alias("n_risky_rows"),
        F.expr(
            f"CAST(SUM(CASE WHEN sz < {_KANON_K} THEN sz ELSE 0 END) "
            "* 1000000 DIV SUM(sz) AS BIGINT)"
        ).alias("risky_ppm"),
        F.min("sz").cast("long").alias("min_class_size"),
    )


# ---------------------------------------------------------------------------
# x195 — per-brand winsorized mean (rank-exact p05/p95 clamp)
# ---------------------------------------------------------------------------

_WINS_ORACLE = """
WITH v AS (
    SELECT p.p_brand AS brand,
           CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents,
           l.l_orderkey, l.l_linenumber
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
r AS (
    SELECT brand, cents,
           row_number() OVER (PARTITION BY brand
                              ORDER BY cents, l_orderkey, l_linenumber)
               AS i,
           count(*) OVER (PARTITION BY brand) AS n
    FROM v
),
thr AS (
    SELECT brand, max(n) AS n,
           MIN(CASE WHEN i = n * 5 // 100 + 1 THEN cents END) AS lo_cents,
           MIN(CASE WHEN i = GREATEST(n * 95 // 100, n * 5 // 100 + 1)
                    THEN cents END) AS hi_cents
    FROM r GROUP BY brand
)
SELECT r.brand,
       CAST(t.n AS BIGINT) AS n,
       CAST(t.lo_cents AS BIGINT) AS lo_cents,
       CAST(t.hi_cents AS BIGINT) AS hi_cents,
       CAST(SUM(r.cents) * 1000 // t.n AS BIGINT) AS raw_mean_millicents,
       CAST(SUM(LEAST(GREATEST(r.cents, t.lo_cents), t.hi_cents)) * 1000
            // t.n AS BIGINT) AS wins_mean_millicents
FROM r JOIN thr t ON r.brand = t.brand
GROUP BY r.brand, t.n, t.lo_cents, t.hi_cents
ORDER BY r.brand
"""


@q(
    "x195_winsorized_stats",
    "OP-G6/W-ext",
    "Per-brand winsorized mean of line price: every value is clamped "
    "to the exact rank-picked p05/p95 cents (ranks L = n*5 DIV 100 + "
    "1 and H = max(n*95 DIV 100, L) over the total (cents, orderkey, "
    "linenumber) order — rank picks are tie-permutation-invariant, "
    "the x118 argument) before the mean, beside the raw mean for the "
    "outlier-impact read. Integer-exact end to end; means scale by "
    "1000 (milli-cents), not 1e6 — a brand's cents sum reaches "
    "~2.4e13 at 100x and ppm scaling would overflow BIGINT (the x160 "
    "lesson, bounded BEFORE writing). Scale shape: the default "
    "rank_method='window' partitions the rank on brand — ~25 "
    "parallel frames, measured SUBLINEAR over the 1x/10x/100x sweep "
    "(2.4 -> 38 s for 100x rows) because group cardinality ~ "
    "executor-slot count; rank_method='bucketed' "
    "(operators/ranks.py grouped global_row_number, bit-equal by "
    "test) measured 2.7x SLOWER here — its three extra passes only "
    "pay off when groups are FEW relative to slots (x118's 5) or "
    "one group outgrows a task's memory, which 25 brands on a wide "
    "cluster would hit only at petabyte-per-brand volumes. Honest "
    "negative result recorded in SCALING.md; the path stays "
    "selectable code for the regime that needs it.",
    _WINS_ORACLE,
)
def x195_winsorized_stats(spark, sf_dir, rank_method: str = "window"):
    from ravelytics_spark.operators.ranks import global_row_number

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    v = li.join(p, li.l_partkey == p.p_partkey).select(
        F.col("p_brand").alias("brand"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    r = global_row_number(
        v,
        [("cents", "asc"), ("l_orderkey", "asc"), ("l_linenumber", "asc")],
        partition_by=["brand"],
        method=rank_method,
        col_name="i",
        total_name="n",
    ).select("brand", "cents", "i", "n")
    lo_rank = F.expr("n * 5 DIV 100 + 1")
    hi_rank = F.expr("GREATEST(n * 95 DIV 100, n * 5 DIV 100 + 1)")
    thr = r.groupBy("brand").agg(
        F.max("n").alias("n"),
        F.min(F.when(F.col("i") == lo_rank, F.col("cents"))).alias(
            "lo_cents"
        ),
        F.min(F.when(F.col("i") == hi_rank, F.col("cents"))).alias(
            "hi_cents"
        ),
    )
    clamped = r.select("brand", "cents").join(
        F.broadcast(thr), "brand"
    ).select(
        "brand",
        F.col("n"),
        F.col("lo_cents"),
        F.col("hi_cents"),
        F.col("cents"),
        F.least(
            F.greatest(F.col("cents"), F.col("lo_cents")), F.col("hi_cents")
        ).alias("wcents"),
    )
    return (
        clamped.groupBy("brand", "n", "lo_cents", "hi_cents")
        .agg(
            F.expr("CAST(SUM(cents) * 1000 DIV n AS BIGINT)").alias(
                "raw_mean_millicents"
            ),
            F.expr("CAST(SUM(wcents) * 1000 DIV n AS BIGINT)").alias(
                "wins_mean_millicents"
            ),
        )
        .select(
            "brand",
            F.col("n").cast("long").alias("n"),
            F.col("lo_cents").cast("long").alias("lo_cents"),
            F.col("hi_cents").cast("long").alias("hi_cents"),
            "raw_mean_millicents",
            "wins_mean_millicents",
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# x196 — hashing-trick collision audit (64 feature buckets)
# ---------------------------------------------------------------------------

_FH_BUCKETS = 64

_FH_ORACLE = f"""
WITH feat AS (
    SELECT c_mktsegment || ':' || c_nationkey AS feature
    FROM customer
),
hashed AS (
    SELECT feature,
           CAST('0x' || substr(md5('fh:' || feature), 1, 8) AS BIGINT)
               % {_FH_BUCKETS} AS bucket
    FROM feat
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT feature) AS BIGINT) AS n_features
FROM hashed
GROUP BY bucket
ORDER BY bucket
"""


@q(
    "x196_feature_hashing",
    "OP-X-ext/G5",
    "Hashing-trick collision audit: the categorical feature "
    "(segment:nation, ~125 distinct values) hashes into 64 buckets "
    f"via the portable md5 32-bit prefix mod {_FH_BUCKETS}, and the "
    "audit reports per-bucket row load and distinct-feature load — "
    "n_features > 1 is a collision that aliases gradients when "
    "anyone trains on the hashed features. Scale shape: one "
    "map-side-combinable hash-agg on the 64-value bucket key; "
    "distinct-feature counting is a two-level agg on "
    "(bucket, feature) — both corpus-sized steps are hash-aggs, no "
    "window, no collect.",
    _FH_ORACLE,
)
def x196_feature_hashing(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    feature = F.concat(
        F.col("c_mktsegment"), F.lit(":"), F.col("c_nationkey").cast("string")
    )
    hashed = c.select(
        feature.alias("feature"),
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("fh:"), feature)), 1, 8),
                16,
                10,
            ).cast("long")
            % _FH_BUCKETS
        ).alias("bucket"),
    )
    return (
        hashed.groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.countDistinct("feature").cast("long").alias("n_features"),
        )
        .select(F.col("bucket").cast("long").alias("bucket"), "n_rows", "n_features")
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# x197 — deterministic negative sampling for (customer -> brand) positives
# ---------------------------------------------------------------------------

_NEG_DRAWS = 3

_NEG_ORACLE = f"""
WITH brands AS (
    SELECT p_brand,
           CAST(row_number() OVER (ORDER BY p_brand) - 1 AS BIGINT) AS bidx
    FROM (SELECT DISTINCT p_brand FROM part)
),
nb AS (SELECT CAST(count(*) AS BIGINT) AS n_brands FROM brands),
draws AS (
    SELECT c.c_custkey, d.di,
           CAST('0x' || substr(md5('neg:' || c.c_custkey || ':' || d.di),
                               1, 8) AS BIGINT) % nb.n_brands AS bidx
    FROM customer c
    CROSS JOIN (SELECT unnest([0, 1, 2]) AS di) d
    CROSS JOIN nb
),
positives AS (
    SELECT DISTINCT o.o_custkey AS c_custkey, p.p_brand
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN part p ON l.l_partkey = p.p_partkey
),
labeled AS (
    SELECT dr.di, dr.c_custkey, dr.bidx,
           CASE WHEN pos.c_custkey IS NULL THEN 0 ELSE 1 END AS is_pos
    FROM draws dr
    JOIN brands b ON dr.bidx = b.bidx
    LEFT JOIN positives pos
      ON dr.c_custkey = pos.c_custkey AND b.p_brand = pos.p_brand
)
SELECT CAST(di AS BIGINT) AS draw_idx,
       CAST(count(*) AS BIGINT) AS n_draws,
       CAST(SUM(is_pos) AS BIGINT) AS n_dropped_positive,
       CAST(SUM(1 - is_pos) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN is_pos = 0 THEN c_custkey * 31 + bidx
                     ELSE 0 END) AS BIGINT) AS kept_checksum
FROM labeled
GROUP BY di
ORDER BY di
"""


@q(
    "x197_negative_sampling",
    "OP-J4/X-ext",
    "Deterministic negative sampling for contrastive training over "
    "(customer -> brand) positives: each customer gets "
    f"{_NEG_DRAWS} brand draws indexed by the md5 32-bit prefix of "
    "(customer, draw index) mod |brands| — reproducible across "
    "partitionings because draws hash KEYS, never row position — "
    "and draws that collide with an observed positive (the "
    "orders->lineitem->part distinct pair set) are labeled for the "
    "drop. Certified output is the 3-row audit (draw count, "
    "dropped-as-positive, kept, kept checksum) that pins the full "
    "pair set; the pair frame itself is the reusable intermediate. "
    "Scale shape: the ~25-row brand dim broadcasts (its rank window "
    "is bounded by brand cardinality), positives are one distinct "
    "hash-agg, the label join is a LEFT join on (custkey, brand); "
    "checksum bounded: custkey*31 at 100x sf0.1 ~ 4.7e7, summed "
    "over 4.5M draws ~ 2e14 << BIGINT (the x160 rule).",
    _NEG_ORACLE,
)
def x197_negative_sampling(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")

    brands = (
        p.select("p_brand")
        .distinct()
        .select(
            "p_brand",
            (
                F.row_number().over(Window.orderBy("p_brand")) - 1
            )
            .cast("long")
            .alias("bidx"),
        )
    )
    nb = brands.agg(F.count("*").cast("long").alias("n_brands"))

    draws = (
        c.select("c_custkey")
        .crossJoin(F.broadcast(nb))
        .select(
            "c_custkey",
            F.explode(
                F.array(*[F.lit(i) for i in range(_NEG_DRAWS)])
            ).alias("di"),
            "n_brands",
        )
        .select(
            "c_custkey",
            "di",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("neg:"),
                                F.col("c_custkey").cast("string"),
                                F.lit(":"),
                                F.col("di").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % F.col("n_brands")
            ).alias("bidx"),
        )
    )
    positives = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .select(F.col("o_custkey").alias("c_custkey"), "p_brand")
        .distinct()
    )
    labeled = (
        draws.join(F.broadcast(brands), "bidx")
        .join(
            positives.withColumn("is_pos", F.lit(1)),
            ["c_custkey", "p_brand"],
            "left",
        )
        .select(
            "di",
            "c_custkey",
            "bidx",
            F.coalesce(F.col("is_pos"), F.lit(0)).alias("is_pos"),
        )
    )
    return (
        labeled.groupBy("di")
        .agg(
            F.count("*").cast("long").alias("n_draws"),
            F.sum("is_pos").cast("long").alias("n_dropped_positive"),
            F.sum(1 - F.col("is_pos")).cast("long").alias("n_kept"),
            F.sum(
                F.when(
                    F.col("is_pos") == 0,
                    F.col("c_custkey") * 31 + F.col("bidx"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("kept_checksum"),
        )
        .select(F.col("di").cast("long").alias("draw_idx"), "n_draws",
                "n_dropped_positive", "n_kept", "kept_checksum")
        .orderBy("draw_idx")
    )


# ---------------------------------------------------------------------------
# x198 — two-snapshot column-profile drift (orders, calendar halves)
# ---------------------------------------------------------------------------

_DRIFT_SPLIT = "1998-05-01"

_DRIFT_ORACLE = f"""
WITH side AS (
    SELECT CASE WHEN o_orderdate < TIMESTAMP '{_DRIFT_SPLIT}'
                THEN 'a' ELSE 'b' END AS s,
           o_custkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
           CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS urgent
    FROM orders
),
prof AS (
    SELECT s,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(SUM(cents) AS BIGINT) AS cents_total,
           CAST(SUM(cents) * 1000 // count(*) AS BIGINT)
               AS mean_millicents,
           CAST(SUM(urgent) * 1000000 // count(*) AS BIGINT) AS urgent_ppm
    FROM side GROUP BY s
)
SELECT a.n_rows AS a_rows, b.n_rows AS b_rows,
       a.n_customers AS a_customers, b.n_customers AS b_customers,
       a.cents_total AS a_cents, b.cents_total AS b_cents,
       a.mean_millicents AS a_mean_millicents,
       b.mean_millicents AS b_mean_millicents,
       a.urgent_ppm AS a_urgent_ppm, b.urgent_ppm AS b_urgent_ppm,
       CAST(b.n_rows - a.n_rows AS BIGINT) AS d_rows,
       CAST(b.mean_millicents - a.mean_millicents AS BIGINT)
           AS d_mean_millicents,
       CAST(b.urgent_ppm - a.urgent_ppm AS BIGINT) AS d_urgent_ppm
FROM (SELECT * FROM prof WHERE s = 'a') a,
     (SELECT * FROM prof WHERE s = 'b') b
"""


@q(
    "x198_profile_drift",
    "OP-G5/G6-ext",
    "Two-snapshot column-profile drift: orders split at the corpus "
    f"calendar midpoint ({_DRIFT_SPLIT}; span 1995-01..2001-08) into "
    "sides a/b, each profiled with exact counts, exact distinct "
    "customers, cents totals, milli-cent means and urgent-priority "
    "ppm, plus the integer side deltas — x79's single-table profile "
    "lifted to the drift report a feed monitor diffs every load. "
    "Integer bounds at 100x sf0.1 (the x160 rule): 15M orders x "
    "~1.5e7 cents = 2.25e14; x1000 for the milli-cent mean = 2.3e17 "
    "< BIGINT. Scale shape: one pass over orders into a 2-row "
    "profile (count-distinct is the only second shuffle); the a x b "
    "assembly is a 1-row x 1-row join.",
    _DRIFT_ORACLE,
)
def x198_profile_drift(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    side = o.select(
        F.when(F.col("o_orderdate") < F.lit(_DRIFT_SPLIT), "a")
        .otherwise("b")
        .alias("s"),
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("urgent"),
    )
    prof = side.groupBy("s").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct("o_custkey").cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("cents_total"),
        F.expr("CAST(SUM(cents) * 1000 DIV count(*) AS BIGINT)").alias(
            "mean_millicents"
        ),
        F.expr(
            "CAST(SUM(urgent) * 1000000 DIV count(*) AS BIGINT)"
        ).alias("urgent_ppm"),
    )
    a = prof.filter(F.col("s") == "a").drop("s")
    b = prof.filter(F.col("s") == "b").drop("s")
    a = a.select(*[F.col(c).alias(f"a_{c}") for c in a.columns])
    b = b.select(*[F.col(c).alias(f"b_{c}") for c in b.columns])
    return a.crossJoin(b).select(
        F.col("a_n_rows").alias("a_rows"),
        F.col("b_n_rows").alias("b_rows"),
        F.col("a_n_customers").alias("a_customers"),
        F.col("b_n_customers").alias("b_customers"),
        F.col("a_cents_total").alias("a_cents"),
        F.col("b_cents_total").alias("b_cents"),
        F.col("a_mean_millicents").alias("a_mean_millicents"),
        F.col("b_mean_millicents").alias("b_mean_millicents"),
        F.col("a_urgent_ppm").alias("a_urgent_ppm"),
        F.col("b_urgent_ppm").alias("b_urgent_ppm"),
        (F.col("b_n_rows") - F.col("a_n_rows"))
        .cast("long")
        .alias("d_rows"),
        (F.col("b_mean_millicents") - F.col("a_mean_millicents"))
        .cast("long")
        .alias("d_mean_millicents"),
        (F.col("b_urgent_ppm") - F.col("a_urgent_ppm"))
        .cast("long")
        .alias("d_urgent_ppm"),
    )


# ---------------------------------------------------------------------------
# x199 — entity-level holdout split + leakage audit vs the row split
# ---------------------------------------------------------------------------

_HOLD_PCT = 10

_HOLD_ORACLE = f"""
WITH assigned AS (
    SELECT o_custkey, o_orderkey,
           CASE WHEN CAST('0x' || substr(md5('eh:' || o_custkey), 1, 8)
                     AS BIGINT) % 100 < {_HOLD_PCT} THEN 1 ELSE 0 END
               AS ent_test,
           CASE WHEN CAST('0x' || substr(md5('eh:' || o_orderkey), 1, 8)
                     AS BIGINT) % 100 < {_HOLD_PCT} THEN 1 ELSE 0 END
               AS row_test
    FROM orders
),
per_cust AS (
    SELECT o_custkey,
           count(*) AS n,
           SUM(row_test) AS n_row_test,
           MIN(ent_test) AS ent_lo, MAX(ent_test) AS ent_hi
    FROM assigned GROUP BY o_custkey
)
SELECT CAST(SUM(n) AS BIGINT) AS n_orders,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(SUM(CASE WHEN ent_hi = 1 THEN n ELSE 0 END) AS BIGINT)
           AS ent_test_orders,
       CAST(SUM(ent_hi) AS BIGINT) AS ent_test_customers,
       CAST(SUM(n_row_test) AS BIGINT) AS row_test_orders,
       CAST(SUM(CASE WHEN n_row_test > 0 AND n_row_test < n
                     THEN 1 ELSE 0 END) AS BIGINT)
           AS row_straddle_customers,
       CAST(SUM(CASE WHEN ent_lo <> ent_hi THEN 1 ELSE 0 END) AS BIGINT)
           AS ent_straddle_customers
FROM per_cust
"""


@q(
    "x199_entity_holdout",
    "OP-X9/J-ext",
    "Leakage-free holdout split at the CUSTOMER entity "
    f"(md5 32-bit prefix of custkey mod 100 < {_HOLD_PCT}) with the "
    "audit that explains WHY entity beats row: the row-hash "
    "alternative (same hash on orderkey) is replayed side by side "
    "and the customers whose orders STRADDLE the row split — the "
    "train/test contamination a per-row split cannot see — are "
    "counted; the entity straddle count is computed the same honest "
    "way and is zero by construction (the split is a function of "
    "the entity key). Scale shape: split assignment is a pure map "
    "(hash of a key column), the audit is one hash-agg on custkey "
    "plus a global rollup — one partial row per partition.",
    _HOLD_ORACLE,
)
def x199_entity_holdout(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")

    def _test_flag(prefix_col):
        return F.when(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("eh:"), prefix_col.cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 100
            < _HOLD_PCT,
            1,
        ).otherwise(0)

    assigned = o.select(
        "o_custkey",
        "o_orderkey",
        _test_flag(F.col("o_custkey")).alias("ent_test"),
        _test_flag(F.col("o_orderkey")).alias("row_test"),
    )
    per_cust = assigned.groupBy("o_custkey").agg(
        F.count("*").alias("n"),
        F.sum("row_test").alias("n_row_test"),
        F.min("ent_test").alias("ent_lo"),
        F.max("ent_test").alias("ent_hi"),
    )
    return per_cust.agg(
        F.sum("n").cast("long").alias("n_orders"),
        F.count("*").cast("long").alias("n_customers"),
        F.sum(F.when(F.col("ent_hi") == 1, F.col("n")).otherwise(0))
        .cast("long")
        .alias("ent_test_orders"),
        F.sum("ent_hi").cast("long").alias("ent_test_customers"),
        F.sum("n_row_test").cast("long").alias("row_test_orders"),
        F.sum(
            F.when(
                (F.col("n_row_test") > 0) & (F.col("n_row_test") < F.col("n")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("row_straddle_customers"),
        F.sum(F.when(F.col("ent_lo") != F.col("ent_hi"), 1).otherwise(0))
        .cast("long")
        .alias("ent_straddle_customers"),
    )


# ---------------------------------------------------------------------------
# x200 — discrete-time hazard of repeat ordering (30-day buckets)
# ---------------------------------------------------------------------------

_HAZ_BUCKET_DAYS = 30
_HAZ_CAP = 12

_HAZ_ORACLE = f"""
WITH seq AS (
    SELECT o_custkey, o_orderdate, o_orderkey,
           lag(o_orderdate) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey)
               AS prev_d
    FROM orders
),
gaps AS (
    SELECT LEAST(date_diff('day', CAST(prev_d AS DATE),
                           CAST(o_orderdate AS DATE))
                 // {_HAZ_BUCKET_DAYS}, {_HAZ_CAP}) AS bucket
    FROM seq WHERE prev_d IS NOT NULL
),
ev AS (
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_events
    FROM gaps GROUP BY bucket
),
haz AS (
    SELECT bucket, n_events,
           SUM(n_events) OVER (ORDER BY bucket
                               ROWS BETWEEN CURRENT ROW
                               AND UNBOUNDED FOLLOWING) AS at_risk
    FROM ev
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       n_events,
       CAST(at_risk AS BIGINT) AS at_risk,
       CAST(n_events * 1000000 // at_risk AS BIGINT) AS hazard_ppm
FROM haz
ORDER BY bucket
"""


@q(
    "x200_discrete_hazard",
    "OP-W3/G5-ext",
    "Discrete-time hazard of repeat ordering: consecutive per-"
    "customer order gaps (lag over the (custkey; orderdate, orderkey) "
    f"window) bucket into {_HAZ_BUCKET_DAYS}-day intervals capped at "
    f"{_HAZ_CAP}, at-risk counts come from a suffix sum over the "
    "bucket table, and the hazard h(b) = events(b) / at_risk(b) is "
    "emitted in exact ppm — the survival-analysis primitive with no "
    "Kaplan-Meier float running product to drift across engines. "
    "Day gaps use the x135 date-cast idiom (certified under the "
    "non-UTC hostile gate). Scale shape: the lag window partitions "
    "on custkey (parallel across customers), the corpus-sized step "
    f"is one hash-agg onto <= {_HAZ_CAP + 1} buckets, and the "
    "suffix-sum window runs over that bounded frame (the x74/x77 "
    "aggregate-first idiom).",
    _HAZ_ORACLE,
)
def x200_discrete_hazard(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        F.lag("o_orderdate").over(w).alias("prev_d"),
    )
    gaps = seq.filter(F.col("prev_d").isNotNull()).select(
        F.least(
            F.floor(
                F.datediff(
                    F.col("o_orderdate").cast("date"),
                    F.col("prev_d").cast("date"),
                )
                / _HAZ_BUCKET_DAYS
            ),
            F.lit(_HAZ_CAP).cast("long"),
        ).alias("bucket")
    )
    ev = gaps.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_events")
    )
    wS = Window.orderBy("bucket").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    return (
        ev.select(
            F.col("bucket").cast("long").alias("bucket"),
            "n_events",
            F.sum("n_events").over(wS).cast("long").alias("at_risk"),
        )
        .select(
            "bucket",
            "n_events",
            "at_risk",
            F.expr("CAST(n_events * 1000000 DIV at_risk AS BIGINT)").alias(
                "hazard_ppm"
            ),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# x201 — curation decision cross-tab: length band x duplication band
# ---------------------------------------------------------------------------

_CUR_ORACLE = """
WITH n AS (
    SELECT doc_id, n_chars,
           md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9]+', ' ', 'g'), '\\s+', ' ', 'g'))) AS fp
    FROM documents
),
cl AS (
    SELECT fp, count(*) AS sz FROM n GROUP BY fp
),
banded AS (
    SELECT LEAST(n.n_chars // 256, 7) AS len_band,
           CASE WHEN cl.sz = 1 THEN 1 WHEN cl.sz = 2 THEN 2 ELSE 3 END
               AS dup_band,
           n.n_chars
    FROM n JOIN cl ON n.fp = cl.fp
)
SELECT CAST(len_band AS BIGINT) AS len_band,
       CAST(dup_band AS BIGINT) AS dup_band,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM banded
GROUP BY len_band, dup_band
ORDER BY len_band, dup_band
"""


@q(
    "x201_curation_matrix",
    "OP-X1/G3-ext",
    "Curation decision cross-tab: every document lands in a "
    "(length band = n_chars DIV 256 capped at 7) x (duplication band "
    "= normalized-fingerprint cluster size 1 / 2 / 3+) cell with doc "
    "and char volumes — the policy table a curation run reads to "
    "decide what to drop first (big dup clusters of short docs cost "
    "quality; unique long docs are the keep set). Normalization is "
    "x1c's canonical form, fingerprint is its md5 — so the matrix is "
    "consistent with the dedup pass it fronts. Scale shape: cluster "
    "sizes are one hash-agg on the 32-char fingerprint (documents "
    "never shuffle; the fp join back is fingerprint + band only), "
    "final cross-tab is a hash-agg onto <= 8 x 3 cells.",
    _CUR_ORACLE,
)
def x201_curation_matrix(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " "), r"\s+", " "
        )
    )
    n = d.select("doc_id", "n_chars", F.md5(norm).alias("fp"))
    cl = n.groupBy("fp").agg(F.count("*").alias("sz"))
    banded = n.join(cl, "fp").select(
        F.least(
            F.floor(F.col("n_chars") / 256), F.lit(7).cast("long")
        ).alias("len_band"),
        F.when(F.col("sz") == 1, 1)
        .when(F.col("sz") == 2, 2)
        .otherwise(3)
        .alias("dup_band"),
        "n_chars",
    )
    return (
        banded.groupBy("len_band", "dup_band")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .select(
            F.col("len_band").cast("long").alias("len_band"),
            F.col("dup_band").cast("long").alias("dup_band"),
            "n_docs",
            "total_chars",
        )
        .orderBy("len_band", "dup_band")
    )


# ---------------------------------------------------------------------------
# x202 — DP-prep contribution capping bias audit
# ---------------------------------------------------------------------------

_CAP_CENTS = 20_000_000  # 200k$ per-customer cap inside each nation

_CAP_ORACLE = f"""
WITH per_cust AS (
    SELECT c.c_nationkey, o.o_custkey,
           CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cust_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey, o.o_custkey
)
SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(SUM(cust_cents) AS BIGINT) AS true_cents,
       CAST(SUM(LEAST(cust_cents, {_CAP_CENTS})) AS BIGINT) AS capped_cents,
       CAST(SUM(CASE WHEN cust_cents > {_CAP_CENTS} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clipped,
       CAST(((SUM(cust_cents) - SUM(LEAST(cust_cents, {_CAP_CENTS})))
             * 1000 // SUM(cust_cents)) * 1000
            + (((SUM(cust_cents) - SUM(LEAST(cust_cents, {_CAP_CENTS})))
                * 1000 % SUM(cust_cents)) * 1000 // SUM(cust_cents))
            AS BIGINT) AS bias_ppm
FROM per_cust
GROUP BY c_nationkey
ORDER BY nationkey
"""


@q(
    "x202_contribution_capping",
    "OP-G3/X-ext",
    "Differential-privacy preparation: per-user contribution bounding. "
    "Each customer's cents contribution to their nation's revenue is "
    f"clamped at {_CAP_CENTS} cents (the fixed sensitivity bound a DP "
    "mechanism needs BEFORE noise is calibrated), and the audit "
    "reports, per nation, the clipped-customer count and the exact "
    "clipping bias in ppm — the utility-vs-sensitivity trade a privacy "
    "review reads. Everything integer-exact: the bias ppm uses the "
    "two-stage division decomposition floor(d*1e6/t) = "
    "(d*1000 DIV t)*1000 + ((d*1000 % t)*1000 DIV t) — all operands "
    "nonnegative, every intermediate <= t*1000 (~9e15 at 1000x). "
    "The naive d*1e6 product overflowed BIGINT at the 100x replica "
    "sweep (per-nation cents ~9e12 there): caught by "
    "scripts/scale_sweep_r8.py before certification, the x160 "
    "lesson holding. Scale shape: two hash-aggs (custkey then "
    "nationkey), both map-side combinable; no window, no collect.",
    _CAP_ORACLE,
)
def x202_contribution_capping(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    per_cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_nationkey",
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum("cents").cast("long").alias("cust_cents"))
    )
    capped = F.least(F.col("cust_cents"), F.lit(_CAP_CENTS).cast("long"))
    return (
        per_cust.groupBy("c_nationkey")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum("cust_cents").cast("long").alias("true_cents"),
            F.sum(capped).cast("long").alias("capped_cents"),
            F.sum(F.when(F.col("cust_cents") > _CAP_CENTS, 1).otherwise(0))
            .cast("long")
            .alias("n_clipped"),
        )
        .select(
            F.col("c_nationkey").cast("long").alias("nationkey"),
            "n_customers",
            "true_cents",
            "capped_cents",
            "n_clipped",
            # Exact ppm via the two-stage division decomposition:
            # floor(d*1e6/t) = (d*1000 DIV t)*1000
            #                + ((d*1000 % t)*1000 DIV t)
            # — the direct d*1e6 product overflowed BIGINT at the
            # 100x sweep (per-nation true_cents ~9e12 there), while
            # every intermediate here stays <= t*1000 ~ 9e15 even at
            # 1000x. Caught by scripts/scale_sweep_r8.py, not by any
            # certification SF (the x160 lesson again).
            F.expr(
                "CAST(((true_cents - capped_cents) * 1000 "
                "DIV true_cents) * 1000 "
                "+ (((true_cents - capped_cents) * 1000 % true_cents) "
                "* 1000 DIV true_cents) AS BIGINT)"
            ).alias("bias_ppm"),
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# x203 — l-diversity audit (distinct-l over QI classes)
# ---------------------------------------------------------------------------

_LDIV_L = 3

_LDIV_ORACLE = f"""
WITH cls AS (
    SELECT c_nationkey,
           count(*) AS n,
           count(DISTINCT c_mktsegment) AS l
    FROM customer GROUP BY c_nationkey
)
SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
       CAST(n AS BIGINT) AS n_rows,
       CAST(l AS BIGINT) AS l_distinct,
       CAST(CASE WHEN l < {_LDIV_L} THEN 1 ELSE 0 END AS BIGINT)
           AS below_l
FROM cls
ORDER BY nationkey
"""


@q(
    "x203_l_diversity",
    "OP-G5/X-ext",
    "l-diversity audit — x194's k-anonymity companion: a QI class "
    "can be large (k-anonymous) yet still leak if everyone in it "
    "shares the sensitive value, so per QI class (nation) the audit "
    "reports the count of DISTINCT sensitive values (market segment) "
    f"and flags classes below l={_LDIV_L} — distinct-l, the "
    "integer-exact variant (entropy-l needs ln and is the documented "
    "float extension). Scale shape: one two-level hash-agg "
    "(nation, segment) -> nation; the class table is bounded by "
    "|nations| regardless of corpus size.",
    _LDIV_ORACLE,
)
def x203_l_diversity(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    cls = c.groupBy("c_nationkey").agg(
        F.count("*").alias("n"),
        F.countDistinct("c_mktsegment").alias("l"),
    )
    return cls.select(
        F.col("c_nationkey").cast("long").alias("nationkey"),
        F.col("n").cast("long").alias("n_rows"),
        F.col("l").cast("long").alias("l_distinct"),
        F.when(F.col("l") < _LDIV_L, 1)
        .otherwise(0)
        .cast("long")
        .alias("below_l"),
    ).orderBy("nationkey")


# ---------------------------------------------------------------------------
# x204 — inverse-frequency class reweighting + effective sample size
# ---------------------------------------------------------------------------

_RW_CAP_MILLI = 100_000  # cap at 100x the uniform weight (milli units)

_RW_ORACLE = f"""
WITH cells AS (
    SELECT lang, source, count(*) AS n
    FROM documents GROUP BY lang, source
),
tot AS (
    SELECT CAST(SUM(n) AS BIGINT) AS n_total,
           CAST(count(*) AS BIGINT) AS n_cells
    FROM cells
),
w AS (
    SELECT c.lang, c.source, CAST(c.n AS BIGINT) AS n,
           CAST(LEAST(t.n_total * 1000 // (t.n_cells * c.n),
                      {_RW_CAP_MILLI}) AS BIGINT) AS w_milli,
           t.n_total, t.n_cells
    FROM cells c, tot t
),
ess AS (
    SELECT CAST(SUM(n * w_milli) * SUM(n * w_milli)
                // SUM(n * w_milli * w_milli) AS BIGINT) AS ess_rows
    FROM w
)
SELECT w.lang, w.source, w.n, w.w_milli,
       w.n_total, w.n_cells, ess.ess_rows
FROM w, ess
ORDER BY w.lang, w.source
"""


@q(
    "x204_class_reweighting",
    "OP-G3/X9-ext",
    "Class-imbalance reweighting for the (lang x source) training "
    "mix: each cell gets the inverse-frequency 'balanced' weight "
    "w = N / (k * n_c) in exact milli units, capped at "
    f"{_RW_CAP_MILLI} milli (100x uniform — the standard clip that "
    "stops a 3-row cell dominating the loss), plus the effective "
    "sample size ESS = (sum n*w)^2 / sum n*w^2 that tells the "
    "trainer how many 'real' rows the weighted corpus is worth. "
    "Milli (not ppm) weights are the 100x BIGINT bound: "
    "sum(n*w) <= N*1000 ~ 5e8, squared 2.5e17 < BIGINT; per-cell "
    "n*w^2 <= (N*1000/k)*cap = 5e13 (the x160 rule). Scale shape: "
    "one hash-agg onto the bounded cell table; every later step "
    "runs on <= |langs x sources| rows.",
    _RW_ORACLE,
)
def x204_class_reweighting(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("n")
    )
    tot = cells.agg(
        F.sum("n").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("n_cells"),
    )
    w = cells.crossJoin(F.broadcast(tot)).select(
        "lang",
        "source",
        "n",
        F.least(
            F.expr("n_total * 1000 DIV (n_cells * n)"),
            F.lit(_RW_CAP_MILLI).cast("long"),
        )
        .cast("long")
        .alias("w_milli"),
        "n_total",
        "n_cells",
    )
    ess = w.agg(
        F.expr(
            "CAST(SUM(n * w_milli) * SUM(n * w_milli) "
            "DIV SUM(n * w_milli * w_milli) AS BIGINT)"
        ).alias("ess_rows")
    )
    return (
        w.crossJoin(F.broadcast(ess))
        .select("lang", "source", "n", "w_milli", "n_total", "n_cells",
                "ess_rows")
        .orderBy("lang", "source")
    )


# ---------------------------------------------------------------------------
# x205 — inter-judge agreement (Cohen's kappa, exact ppm)
# ---------------------------------------------------------------------------

# Two deterministic document "judges" — stand-ins for the quality
# classifiers an LLM-data pipeline runs in parallel before arbitration:
#   judge A: document length in a sane band (chars)
#   judge B: token count in a sane band (whitespace words)
_KAPPA_ORACLE = """
WITH judged AS (
    SELECT CASE WHEN n_chars BETWEEN 200 AND 5000 THEN 1 ELSE 0 END AS a,
           CASE WHEN length(text) - length(replace(text, ' ', '')) + 1
                     BETWEEN 40 AND 1000 THEN 1 ELSE 0 END AS b
    FROM documents
),
counts AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(a * b) AS BIGINT) AS n11,
           CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00,
           CAST(SUM(a) AS BIGINT) AS a1,
           CAST(SUM(b) AS BIGINT) AS b1
    FROM judged
)
SELECT n, n11, n00, a1, b1,
       CAST((n11 + n00) * 1000000 // n AS BIGINT) AS po_ppm,
       CAST((a1 * b1 + (n - a1) * (n - b1)) * 1000000 // (n * n)
            AS BIGINT) AS pe_ppm,
       CAST(CASE WHEN n * (n11 + n00) >= a1 * b1 + (n - a1) * (n - b1)
                 THEN (n * (n11 + n00) - (a1 * b1 + (n - a1) * (n - b1)))
                      * 1000000
                      // (n * n - (a1 * b1 + (n - a1) * (n - b1)))
                 ELSE -(((a1 * b1 + (n - a1) * (n - b1)) - n * (n11 + n00))
                        * 1000000
                        // (n * n - (a1 * b1 + (n - a1) * (n - b1))))
            END AS BIGINT) AS kappa_ppm
FROM counts
"""


@q(
    "x205_judge_agreement",
    "OP-G5/X4-ext",
    "Inter-judge agreement (Cohen's kappa) between two deterministic "
    "quality judges — the agreement gate a pipeline runs before "
    "trusting parallel LLM/heuristic labelers: observed agreement "
    "po, chance agreement pe from the marginals, and kappa = "
    "(po-pe)/(1-pe), all in exact ppm. Kappa can be negative, and "
    "floor division diverges across engines on negative operands — "
    "so the signed division is spelled as CASE on the numerator "
    "sign with both branches nonnegative (truncation toward zero, "
    "identical in Spark and DuckDB). Bounds at 100x sf0.1 (500k "
    "docs): n*n = 2.5e11, x1e6 = 2.5e17 < BIGINT (the x160 rule). "
    "Scale shape: one map-side-combinable global agg over documents "
    "(one partial row per partition), then pure scalar arithmetic "
    "on the 1-row count frame.",
    _KAPPA_ORACLE,
)
def x205_judge_agreement(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    a = (
        F.when(F.col("n_chars").between(200, 5000), 1).otherwise(0)
    ).alias("a")
    words = (
        F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1
    )
    b = F.when(words.between(40, 1000), 1).otherwise(0).alias("b")
    judged = d.select(a, b)
    counts = judged.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("n11"),
        F.sum((1 - F.col("a")) * (1 - F.col("b")))
        .cast("long")
        .alias("n00"),
        F.sum("a").cast("long").alias("a1"),
        F.sum("b").cast("long").alias("b1"),
    )
    return counts.select(
        "n",
        "n11",
        "n00",
        "a1",
        "b1",
        F.expr("CAST((n11 + n00) * 1000000 DIV n AS BIGINT)").alias(
            "po_ppm"
        ),
        F.expr(
            "CAST((a1 * b1 + (n - a1) * (n - b1)) * 1000000 "
            "DIV (n * n) AS BIGINT)"
        ).alias("pe_ppm"),
        F.expr(
            "CAST(CASE WHEN n * (n11 + n00) >= a1 * b1 + (n - a1) * (n - b1) "
            "THEN (n * (n11 + n00) - (a1 * b1 + (n - a1) * (n - b1))) "
            "     * 1000000 "
            "     DIV (n * n - (a1 * b1 + (n - a1) * (n - b1))) "
            "ELSE -(((a1 * b1 + (n - a1) * (n - b1)) - n * (n11 + n00)) "
            "       * 1000000 "
            "       DIV (n * n - (a1 * b1 + (n - a1) * (n - b1)))) "
            "END AS BIGINT)"
        ).alias("kappa_ppm"),
    )


# ---------------------------------------------------------------------------
# x206 — GDPR erasure cascade audit
# ---------------------------------------------------------------------------

_GDPR_PPT = 5  # erase customers with hash % 1000 < 5 (~0.5%)

_GDPR_ORACLE = f"""
WITH del_cust AS (
    SELECT c_custkey FROM customer
    WHERE CAST('0x' || substr(md5('gdpr:' || c_custkey), 1, 8) AS BIGINT)
          % 1000 < {_GDPR_PPT}
),
del_orders AS (
    SELECT o_orderkey FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM del_cust)
)
SELECT 'customer' AS tbl,
       CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_total,
       CAST((SELECT count(*) FROM del_cust) AS BIGINT) AS n_deleted,
       CAST((SELECT count(*) FROM del_cust) * 1000000
            // (SELECT count(*) FROM customer) AS BIGINT) AS deleted_ppm
UNION ALL
SELECT 'lineitem',
       CAST((SELECT count(*) FROM lineitem) AS BIGINT),
       CAST((SELECT count(*) FROM lineitem
             WHERE l_orderkey IN (SELECT o_orderkey FROM del_orders))
            AS BIGINT),
       CAST((SELECT count(*) FROM lineitem
             WHERE l_orderkey IN (SELECT o_orderkey FROM del_orders))
            * 1000000 // (SELECT count(*) FROM lineitem) AS BIGINT)
UNION ALL
SELECT 'orders',
       CAST((SELECT count(*) FROM orders) AS BIGINT),
       CAST((SELECT count(*) FROM del_orders) AS BIGINT),
       CAST((SELECT count(*) FROM del_orders) * 1000000
            // (SELECT count(*) FROM orders) AS BIGINT)
ORDER BY tbl
"""


@q(
    "x206_gdpr_erasure",
    "OP-J3/X-ext",
    "Right-to-be-forgotten cascade audit: a deterministic deletion "
    f"cohort (md5 32-bit prefix of custkey mod 1000 < {_GDPR_PPT}, "
    "~0.5%) cascades customer -> orders -> lineitem, and the audit "
    "reports per table the total, the rows the erasure would delete, "
    "and the deleted fraction in exact ppm — the blast-radius "
    "estimate a data-protection officer signs off BEFORE the "
    "destructive job runs. Scale shape: the cohort is a pure map "
    "filter; each cascade level is a broadcast-friendly SEMI join "
    "on the parent key (custkey, then orderkey); three global "
    "count rollups combine one partial row per partition.",
    _GDPR_ORACLE,
)
def x206_gdpr_erasure(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    del_cust = c.filter(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("gdpr:"), F.col("c_custkey").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 1000
        < _GDPR_PPT
    ).select("c_custkey")
    del_orders = o.join(
        del_cust, o.o_custkey == del_cust.c_custkey, "left_semi"
    ).select("o_orderkey")
    del_lines = li.join(
        del_orders, li.l_orderkey == del_orders.o_orderkey, "left_semi"
    )

    def report(tbl, total_df, deleted_df):
        t = total_df.agg(F.count("*").cast("long").alias("n_total"))
        dd = deleted_df.agg(F.count("*").cast("long").alias("n_deleted"))
        return (
            t.crossJoin(dd)
            .select(
                F.lit(tbl).alias("tbl"),
                "n_total",
                "n_deleted",
                F.expr(
                    # NULL on an empty table (DuckDB's x // 0 is NULL;
                    # Spark's ANSI DIV throws — round-10 sweep)
                    "CAST(CASE WHEN n_total = 0 THEN NULL"
                    " ELSE n_deleted * 1000000 DIV n_total END AS BIGINT)"
                ).alias("deleted_ppm"),
            )
        )

    return (
        report("customer", c, del_cust)
        .unionAll(report("lineitem", li, del_lines))
        .unionAll(report("orders", o, del_orders))
        .orderBy("tbl")
    )


# ---------------------------------------------------------------------------
# x207 — near-zero-variance feature screen
# ---------------------------------------------------------------------------

_NZV_RATIO_PPM = 19_000_000  # caret default 95/5
_NZV_UNIQUE_PPM = 100_000    # <10% unique

_NZV_ORACLE = f"""
WITH vals AS (
    SELECT 'c_mktsegment' AS feature, c_mktsegment AS val FROM customer
    UNION ALL
    SELECT 'c_nationkey', CAST(c_nationkey AS VARCHAR) FROM customer
    UNION ALL
    SELECT 'o_orderpriority', o_orderpriority FROM orders
    UNION ALL
    SELECT 'o_orderstatus', o_orderstatus FROM orders
),
vc AS (
    SELECT feature, val, count(*) AS cnt
    FROM vals GROUP BY feature, val
),
ranked AS (
    SELECT feature, cnt,
           row_number() OVER (PARTITION BY feature
                              ORDER BY cnt DESC, val) AS rk
    FROM vc
),
prof AS (
    SELECT feature,
           CAST(SUM(cnt) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(MIN(CASE WHEN rk = 1 THEN cnt END) AS BIGINT) AS top1,
           CAST(coalesce(MIN(CASE WHEN rk = 2 THEN cnt END), 0) AS BIGINT)
               AS top2
    FROM ranked GROUP BY feature
)
SELECT feature, n, n_distinct, top1, top2,
       CAST(top1 * 1000000 // GREATEST(top2, 1) AS BIGINT)
           AS freq_ratio_ppm,
       CAST(n_distinct * 1000000 // n AS BIGINT) AS unique_ppm,
       CAST(CASE WHEN top1 * 1000000 // GREATEST(top2, 1)
                      > {_NZV_RATIO_PPM}
                  AND n_distinct * 1000000 // n < {_NZV_UNIQUE_PPM}
                 THEN 1 ELSE 0 END AS BIGINT) AS near_zero_var
FROM prof
ORDER BY feature
"""


@q(
    "x207_near_zero_variance",
    "OP-G5/X-ext",
    "Near-zero-variance feature screen (the caret nearZeroVar rule): "
    "for each candidate categorical feature, the top-value/second-"
    "value frequency ratio and the percent-unique, both in exact ppm; "
    "a feature is flagged when ratio > 19 AND unique < 10% — the "
    "screen a feature pipeline runs before wasting model capacity on "
    "near-constant columns. Ties in the top-2 pick break on "
    "(count DESC, value) — a total order, engine-portable. Scale "
    "shape: the corpus-sized step is one hash-agg per feature onto "
    "its value domain (<= 25 values here); the rank window runs on "
    "the bounded value-count frame.",
    _NZV_ORACLE,
)
def x207_near_zero_variance(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    vals = (
        c.select(
            F.lit("c_mktsegment").alias("feature"),
            F.col("c_mktsegment").alias("val"),
        )
        .unionAll(
            c.select(
                F.lit("c_nationkey"),
                F.col("c_nationkey").cast("string"),
            )
        )
        .unionAll(o.select(F.lit("o_orderpriority"), "o_orderpriority"))
        .unionAll(o.select(F.lit("o_orderstatus"), "o_orderstatus"))
    )
    vc = vals.groupBy("feature", "val").agg(F.count("*").alias("cnt"))
    wR = Window.partitionBy("feature").orderBy(
        F.col("cnt").desc(), F.col("val")
    )
    ranked = vc.select("feature", "cnt", F.row_number().over(wR).alias("rk"))
    prof = ranked.groupBy("feature").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_distinct"),
        F.min(F.when(F.col("rk") == 1, F.col("cnt")))
        .cast("long")
        .alias("top1"),
        F.coalesce(
            F.min(F.when(F.col("rk") == 2, F.col("cnt"))), F.lit(0)
        )
        .cast("long")
        .alias("top2"),
    )
    return prof.select(
        "feature",
        "n",
        "n_distinct",
        "top1",
        "top2",
        F.expr(
            "CAST(top1 * 1000000 DIV GREATEST(top2, 1) AS BIGINT)"
        ).alias("freq_ratio_ppm"),
        F.expr("CAST(n_distinct * 1000000 DIV n AS BIGINT)").alias(
            "unique_ppm"
        ),
        F.expr(
            f"CAST(CASE WHEN top1 * 1000000 DIV GREATEST(top2, 1) "
            f"> {_NZV_RATIO_PPM} "
            f"AND n_distinct * 1000000 DIV n < {_NZV_UNIQUE_PPM} "
            "THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("near_zero_var"),
    ).orderBy("feature")


# ---------------------------------------------------------------------------
# x208 — leave-one-out target encoding (leakage-exact form)
# ---------------------------------------------------------------------------

_LOO_ORACLE = """
WITH rows_y AS (
    SELECT c.c_nationkey,
           CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
grp AS (
    SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS pos
    FROM rows_y GROUP BY c_nationkey
)
SELECT CAST(c_nationkey AS BIGINT) AS nationkey, n, pos,
       CAST(pos * 1000000 // GREATEST(n - 1, 1) AS BIGINT) AS enc0_ppm,
       CAST((pos - 1) * 1000000 // GREATEST(n - 1, 1) AS BIGINT)
           AS enc1_ppm,
       CAST(1000000 // GREATEST(n - 1, 1) AS BIGINT) AS leak_gap_ppm
FROM grp
ORDER BY nationkey
"""


@q(
    "x208_loo_target_encoding",
    "OP-G3/X-ext",
    "Leave-one-out target encoding of nation against the urgent-"
    "priority target: LOO enc(row) = (group positives - own y) / "
    "(group n - 1), which collapses to exactly TWO values per group "
    "(one per target class) — so the certified output is the "
    "per-nation (enc | y=0, enc | y=1) pair in exact ppm plus their "
    "gap, the quantity that proves LOO leaks the row's own label "
    "(gap = 1e6/(n-1) > 0: a model can read y back off the encoding "
    "— why naive LOO needs noise/regularization before training). "
    "pos - 1 >= 0 whenever the y=1 branch is real (pos counts that "
    "row), so operands stay nonnegative. Scale shape: one hash-agg "
    "onto nations; everything after runs on the 25-row group table.",
    _LOO_ORACLE,
)
def x208_loo_target_encoding(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    rows_y = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_nationkey",
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("y"),
    )
    grp = rows_y.groupBy("c_nationkey").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    return grp.select(
        F.col("c_nationkey").cast("long").alias("nationkey"),
        "n",
        "pos",
        F.expr(
            "CAST(pos * 1000000 DIV GREATEST(n - 1, 1) AS BIGINT)"
        ).alias("enc0_ppm"),
        F.expr(
            "CAST((pos - 1) * 1000000 DIV GREATEST(n - 1, 1) AS BIGINT)"
        ).alias("enc1_ppm"),
        F.expr("CAST(1000000 DIV GREATEST(n - 1, 1) AS BIGINT)").alias(
            "leak_gap_ppm"
        ),
    ).orderBy("nationkey")


# ---------------------------------------------------------------------------
# x209 — temporal split audit (cold-start + future-feature leakage)
# ---------------------------------------------------------------------------

_TSPLIT = "2000-01-01"

_TSPLIT_ORACLE = f"""
WITH tagged AS (
    SELECT o_custkey,
           CASE WHEN o_orderdate < TIMESTAMP '{_TSPLIT}' THEN 1 ELSE 0 END
               AS is_train
    FROM orders
),
per_cust AS (
    SELECT o_custkey,
           SUM(is_train) AS n_train,
           SUM(1 - is_train) AS n_eval
    FROM tagged GROUP BY o_custkey
)
SELECT CAST(SUM(n_train) AS BIGINT) AS n_train_rows,
       CAST(SUM(n_eval) AS BIGINT) AS n_eval_rows,
       CAST(SUM(CASE WHEN n_eval > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS eval_customers,
       CAST(SUM(CASE WHEN n_eval > 0 AND n_train = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS cold_start_customers,
       CAST(SUM(CASE WHEN n_eval > 0 AND n_train = 0 THEN 1 ELSE 0 END)
            * 1000000
            // SUM(CASE WHEN n_eval > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS cold_start_ppm,
       CAST(SUM(CASE WHEN n_eval > 0 THEN n_train ELSE 0 END) AS BIGINT)
           AS contaminated_train_rows,
       CAST(SUM(CASE WHEN n_eval > 0 THEN n_train ELSE 0 END) * 1000000
            // SUM(n_train) AS BIGINT) AS contaminated_ppm
FROM per_cust
"""


@q(
    "x209_temporal_split_audit",
    "OP-X9/D-ext",
    "Temporal train/eval split audit (split at "
    f"{_TSPLIT}): cold-start eval customers (no train history — the "
    "rows a recommender can only answer with priors) and the "
    "future-feature contamination count: train rows whose customer "
    "ALSO orders in eval, i.e. exactly the rows a "
    "'customer-lifetime-aggregate' feature computed over the full "
    "corpus would leak eval signal into. x199 audits the entity "
    "split; this is its temporal sibling — the two leakage modes a "
    "training pipeline must check before any fit. Scale shape: one "
    "map-side flag, one hash-agg on custkey, one global rollup (one "
    "partial row per partition).",
    _TSPLIT_ORACLE,
)
def x209_temporal_split_audit(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    tagged = o.select(
        "o_custkey",
        F.when(F.col("o_orderdate") < F.lit(_TSPLIT), 1)
        .otherwise(0)
        .alias("is_train"),
    )
    per_cust = tagged.groupBy("o_custkey").agg(
        F.sum("is_train").alias("n_train"),
        F.sum(1 - F.col("is_train")).alias("n_eval"),
    )
    has_eval = F.col("n_eval") > 0
    return per_cust.agg(
        F.sum("n_train").cast("long").alias("n_train_rows"),
        F.sum("n_eval").cast("long").alias("n_eval_rows"),
        F.sum(F.when(has_eval, 1).otherwise(0))
        .cast("long")
        .alias("eval_customers"),
        F.sum(F.when(has_eval & (F.col("n_train") == 0), 1).otherwise(0))
        .cast("long")
        .alias("cold_start_customers"),
        F.expr(
            "CAST(SUM(CASE WHEN n_eval > 0 AND n_train = 0 THEN 1 ELSE 0 "
            "END) * 1000000 DIV SUM(CASE WHEN n_eval > 0 THEN 1 ELSE 0 "
            "END) AS BIGINT)"
        ).alias("cold_start_ppm"),
        F.sum(F.when(has_eval, F.col("n_train")).otherwise(0))
        .cast("long")
        .alias("contaminated_train_rows"),
        F.expr(
            "CAST(SUM(CASE WHEN n_eval > 0 THEN n_train ELSE 0 END) "
            "* 1000000 DIV SUM(n_train) AS BIGINT)"
        ).alias("contaminated_ppm"),
    )


# ---------------------------------------------------------------------------
# x210 — readability scores (Flesch reading ease, fixed-point)
# ---------------------------------------------------------------------------

_READ_ORACLE = """
WITH per_doc AS (
    SELECT source,
           CAST(length(regexp_extract_all(lower(text), '[a-z]+'))
                AS BIGINT) AS words,
           CAST(GREATEST(length(regexp_extract_all(text, '[.!?]+')), 1)
                AS BIGINT) AS sentences,
           CAST(length(regexp_extract_all(lower(text), '[aeiouy]+'))
                AS BIGINT) AS syllables
    FROM documents
),
agg AS (
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(words) AS BIGINT) AS words,
           CAST(SUM(sentences) AS BIGINT) AS sentences,
           CAST(SUM(syllables) AS BIGINT) AS syllables
    FROM per_doc GROUP BY source
)
SELECT source, n_docs, words, sentences, syllables,
       CAST(words * 1000 // sentences AS BIGINT) AS wps_milli,
       CAST(syllables * 1000 // GREATEST(words, 1) AS BIGINT) AS spw_milli,
       CAST(206835 - 1015 * words // sentences
            - 84600 * syllables // GREATEST(words, 1) AS BIGINT)
           AS flesch_milli
FROM agg
ORDER BY source
"""


@q(
    "x210_readability",
    "OP-X4/G6-ext",
    "Per-source Flesch reading ease in exact milli-units: words = "
    "[a-z]+ runs, sentences = [.!?]+ runs floored at 1, syllables = "
    "the vowel-group proxy [aeiouy]+ (the standard dictionary-free "
    "approximation) — FRE = 206.835 - 1.015*(W/S) - 84.6*(Y/W), each "
    "ratio term floor-divided once from integer corpus totals "
    "(nonnegative operands; the final subtraction may go negative "
    "but divides nothing). The readability band feeds curation "
    "policy beside x27's Gopher rules: very high FRE = fragment "
    "soup, very low = boilerplate/code. Bounds at 100x (500k docs x "
    "~200 words): words ~ 1e8, x84600 = 8.5e12 < BIGINT. Scale "
    "shape: regexp counting is a pure map (native codegen, no UDF); "
    "one hash-agg onto sources.",
    _READ_ORACLE,
)
def x210_readability(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "source",
        F.size(F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
        .cast("long")
        .alias("words"),
        F.greatest(
            F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")),
            F.lit(1),
        )
        .cast("long")
        .alias("sentences"),
        F.size(F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
        .cast("long")
        .alias("syllables"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("words").cast("long").alias("words"),
        F.sum("sentences").cast("long").alias("sentences"),
        F.sum("syllables").cast("long").alias("syllables"),
    )
    return agg.select(
        "source",
        "n_docs",
        "words",
        "sentences",
        "syllables",
        F.expr("CAST(words * 1000 DIV sentences AS BIGINT)").alias(
            "wps_milli"
        ),
        F.expr(
            "CAST(syllables * 1000 DIV GREATEST(words, 1) AS BIGINT)"
        ).alias("spw_milli"),
        F.expr(
            "CAST(206835 - 1015 * words DIV sentences "
            "- 84600 * syllables DIV GREATEST(words, 1) AS BIGINT)"
        ).alias("flesch_milli"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# x211 — stratified k-fold assignment + fold-balance audit
# ---------------------------------------------------------------------------

_KFOLD_K = 5

_KFOLD_ORACLE = f"""
WITH assigned AS (
    SELECT c_mktsegment,
           CAST('0x' || substr(md5('kf:' || c_custkey), 1, 8) AS BIGINT)
               % {_KFOLD_K} AS fold
    FROM customer
),
cell AS (
    SELECT c_mktsegment, fold, count(*) AS n
    FROM assigned GROUP BY c_mktsegment, fold
),
seg AS (
    SELECT c_mktsegment, CAST(SUM(n) AS BIGINT) AS seg_total FROM cell
    GROUP BY c_mktsegment
)
SELECT cell.c_mktsegment AS segment,
       CAST(cell.fold AS BIGINT) AS fold,
       CAST(cell.n AS BIGINT) AS n,
       seg.seg_total,
       CAST(cell.n * 1000000 // seg.seg_total AS BIGINT) AS share_ppm,
       CAST(abs(cell.n * 1000000 // seg.seg_total
                - 1000000 // {_KFOLD_K}) AS BIGINT) AS dev_ppm
FROM cell JOIN seg USING (c_mktsegment)
ORDER BY segment, fold
"""


@q(
    "x211_stratified_kfold",
    "OP-X9-ext",
    f"Deterministic {_KFOLD_K}-fold cross-validation assignment at "
    "the customer entity (md5 32-bit prefix mod k — reproducible "
    "across partitionings, and entity-keyed so folds never split a "
    "customer, the x199 leakage rule) with the stratification audit: "
    "per (segment, fold) cell counts, the cell's share of its "
    "stratum in exact ppm, and the deviation from the ideal 1/k — "
    "the table a CV harness checks before trusting fold variance. "
    "Scale shape: fold assignment is a pure map; one hash-agg onto "
    "the <= |segments| x k cell table; the stratum-total join "
    "broadcasts.",
    _KFOLD_ORACLE,
)
def x211_stratified_kfold(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    assigned = c.select(
        "c_mktsegment",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("kf:"), F.col("c_custkey").cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _KFOLD_K
        ).alias("fold"),
    )
    cell = assigned.groupBy("c_mktsegment", "fold").agg(
        F.count("*").cast("long").alias("n")
    )
    seg = cell.groupBy("c_mktsegment").agg(
        F.sum("n").cast("long").alias("seg_total")
    )
    ideal = 1_000_000 // _KFOLD_K
    return (
        cell.join(F.broadcast(seg), "c_mktsegment")
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.col("fold").cast("long").alias("fold"),
            "n",
            "seg_total",
            F.expr("CAST(n * 1000000 DIV seg_total AS BIGINT)").alias(
                "share_ppm"
            ),
            F.expr(
                f"CAST(abs(n * 1000000 DIV seg_total - {ideal}) AS BIGINT)"
            ).alias("dev_ppm"),
        )
        .orderBy("segment", "fold")
    )


# ---------------------------------------------------------------------------
# x212 — Simpson's-paradox detector (per-nation vs pooled trend sign)
# ---------------------------------------------------------------------------

_SIMPSON_ORACLE = """
WITH m AS (
    SELECT c_nationkey,
           (year(o_orderdate) * 12 + month(o_orderdate))
             - (SELECT min(year(o_orderdate) * 12 + month(o_orderdate))
                FROM orders) AS t,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT) // 100)
                AS BIGINT) AS y
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey, t
),
grp AS (
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) * SUM(t * y) - SUM(t) * SUM(y) AS BIGINT)
               AS slope_num
    FROM m GROUP BY c_nationkey
),
pooled_m AS (
    SELECT t, CAST(SUM(y) AS BIGINT) AS y FROM m GROUP BY t
),
pooled AS (
    SELECT CAST(CASE
                WHEN count(*) * SUM(t * y) - SUM(t) * SUM(y) > 0 THEN 1
                WHEN count(*) * SUM(t * y) - SUM(t) * SUM(y) < 0 THEN -1
                ELSE 0 END AS BIGINT) AS pooled_sign
    FROM pooled_m
)
SELECT CAST(g.c_nationkey AS BIGINT) AS nationkey,
       g.n AS n_months,
       CAST(CASE WHEN g.slope_num > 0 THEN 1
                 WHEN g.slope_num < 0 THEN -1 ELSE 0 END AS BIGINT)
           AS group_sign,
       p.pooled_sign,
       CAST(CASE WHEN g.slope_num > 0 AND p.pooled_sign < 0 THEN 1
                 WHEN g.slope_num < 0 AND p.pooled_sign > 0 THEN 1
                 ELSE 0 END AS BIGINT) AS reversed
FROM grp g, pooled p
ORDER BY nationkey
"""


@q(
    "x212_simpson_reversal",
    "OP-G6/X-ext",
    "Simpson's-paradox detector over the monthly revenue trend: the "
    "OLS slope SIGN per nation vs the pooled slope sign, flagging "
    "nations whose within-group trend contradicts the aggregate — "
    "the aggregation-bias audit that must run before anyone reads a "
    "pooled trend as 'every market is growing'. Only the slope "
    "NUMERATOR n*Sty - St*Sy is needed (the denominator n*Stt - "
    "St^2 is positive for n>=2 distinct months), so the sign is "
    "exact integer arithmetic — x114's portable-regr_slope trick "
    "reduced to its sign. Monthly y uses floor-DOLLARS (cents DIV "
    "100): positive scaling never changes a sign, and it keeps the "
    "pooled n*Sty under ~1.6e16 even at 1000x (the x160 bound, done "
    "BEFORE writing). Scale shape: one (nation, month) hash-agg, "
    "then sums over the bounded |nations| x |months| frame; the "
    "pooled scalar broadcasts.",
    _SIMPSON_ORACLE,
)
def x212_simpson_reversal(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    mon = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    t0 = o.agg(F.min(mon).alias("t0"))
    m = (
        o.join(c, o.o_custkey == c.c_custkey)
        .crossJoin(F.broadcast(t0))
        .select(
            "c_nationkey",
            (mon - F.col("t0")).cast("long").alias("t"),
            F.expr(
                "CAST(round(o_totalprice * 100) AS BIGINT) DIV 100"
            ).alias("dollars"),
        )
        .groupBy("c_nationkey", "t")
        .agg(F.sum("dollars").cast("long").alias("y"))
    )
    slope_num = (
        F.count("*").cast("long") * F.sum(F.col("t") * F.col("y"))
        - F.sum("t") * F.sum("y")
    ).cast("long")
    grp = m.groupBy("c_nationkey").agg(
        F.count("*").cast("long").alias("n"),
        slope_num.alias("slope_num"),
    )
    pooled = (
        m.groupBy("t")
        .agg(F.sum("y").cast("long").alias("y"))
        .agg(slope_num.alias("pnum"))
        .select(F.signum("pnum").cast("long").alias("pooled_sign"))
    )
    gs = F.signum("slope_num").cast("long")
    return (
        grp.crossJoin(F.broadcast(pooled))
        .select(
            F.col("c_nationkey").cast("long").alias("nationkey"),
            F.col("n").alias("n_months"),
            gs.alias("group_sign"),
            "pooled_sign",
            F.when(
                (gs * F.col("pooled_sign")) < 0, 1
            )
            .otherwise(0)
            .cast("long")
            .alias("reversed"),
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# x213 — churn label-definition sensitivity (60d vs 90d windows)
# ---------------------------------------------------------------------------

_CHURN_W1, _CHURN_W2 = 60, 90

_CHURN_ORACLE = f"""
WITH seq AS (
    SELECT o_custkey, o_orderdate, o_orderkey,
           lead(o_orderdate) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey)
               AS next_d
    FROM orders
),
labeled AS (
    SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
           CASE WHEN next_d IS NULL
                  OR date_diff('day', CAST(o_orderdate AS DATE),
                               CAST(next_d AS DATE)) > {_CHURN_W1}
                THEN 1 ELSE 0 END AS churn_a,
           CASE WHEN next_d IS NULL
                  OR date_diff('day', CAST(o_orderdate AS DATE),
                               CAST(next_d AS DATE)) > {_CHURN_W2}
                THEN 1 ELSE 0 END AS churn_b
    FROM seq
)
SELECT yr,
       CAST(count(*) AS BIGINT) AS n_anchors,
       CAST(SUM(churn_a) AS BIGINT) AS churn_{_CHURN_W1}d,
       CAST(SUM(churn_b) AS BIGINT) AS churn_{_CHURN_W2}d,
       CAST(SUM(churn_a - churn_b) AS BIGINT) AS flips,
       CAST(SUM(churn_a - churn_b) * 1000000 // count(*) AS BIGINT)
           AS flip_ppm
FROM labeled
GROUP BY yr
ORDER BY yr
"""


@q(
    "x213_churn_label_sensitivity",
    "OP-W3/D-ext",
    "Label-engineering sensitivity audit: every order is an anchor, "
    f"churn = no next order within W days, and the W={_CHURN_W1} vs "
    f"W={_CHURN_W2} definitions are computed side by side — the flip "
    "count (churn under the tight window, retained under the loose "
    "one: exactly the gap-in-(60,90] anchors, so churn_a >= churn_b "
    "and flips is their nonnegative difference) quantifies how much "
    "of the 'churn' a model would learn is really a DEFINITION "
    "artifact. Next-order gaps use lead over the (custkey; "
    "orderdate, orderkey) window and the x135 date-cast day diff "
    "(certified under the non-UTC hostile gate). Scale shape: the "
    "lead window partitions on custkey; one hash-agg onto years.",
    _CHURN_ORACLE,
)
def x213_churn_label_sensitivity(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey",
        "o_orderdate",
        F.lead("o_orderdate").over(w).alias("next_d"),
    )
    gap = F.datediff(
        F.col("next_d").cast("date"), F.col("o_orderdate").cast("date")
    )
    labeled = seq.select(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.when(F.col("next_d").isNull() | (gap > _CHURN_W1), 1)
        .otherwise(0)
        .alias("churn_a"),
        F.when(F.col("next_d").isNull() | (gap > _CHURN_W2), 1)
        .otherwise(0)
        .alias("churn_b"),
    )
    return (
        labeled.groupBy("yr")
        .agg(
            F.count("*").cast("long").alias("n_anchors"),
            F.sum("churn_a").cast("long").alias(f"churn_{_CHURN_W1}d"),
            F.sum("churn_b").cast("long").alias(f"churn_{_CHURN_W2}d"),
            F.sum(F.col("churn_a") - F.col("churn_b"))
            .cast("long")
            .alias("flips"),
            F.expr(
                "CAST(SUM(churn_a - churn_b) * 1000000 DIV count(*) "
                "AS BIGINT)"
            ).alias("flip_ppm"),
        )
        .orderBy("yr")
    )


# ---------------------------------------------------------------------------
# x214 — MRR retrieval eval (first-relevant reciprocal rank)
# ---------------------------------------------------------------------------

_MRR_AT = 100
# (query term, intent term): ranking scores only the query term;
# relevance requires BOTH — so the first relevant hit is usually not
# rank 1 and the reciprocal rank is informative.
_MRR_QUERIES = (
    ("join", "hash"),
    ("sort", "merge"),
    ("query", "slow"),
    ("stream", "batch"),
)


def _mrr_query_sql(q: str, intent: str) -> str:
    return f"""
SELECT '{q}' AS query,
       CAST(coalesce(MIN(CASE WHEN rel = 1 THEN rn END), 0) AS BIGINT)
           AS first_rel_rank,
       CAST(coalesce(1000000 // MIN(CASE WHEN rel = 1 THEN rn END), 0)
            AS BIGINT) AS rr_ppm
FROM (
    SELECT row_number() OVER (ORDER BY tf DESC, doc_id) AS rn, rel
    FROM (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), x -> x = '{q}'))
                   AS tf,
               CASE WHEN len(list_filter(string_split(text, ' '),
                                          x -> x = '{intent}')) > 0
                    THEN 1 ELSE 0 END AS rel
        FROM documents
    ) WHERE tf > 0
) WHERE rn <= {_MRR_AT}
"""


_MRR_ORACLE = (
    "WITH per_q AS ("
    + " UNION ALL ".join(
        f"({_mrr_query_sql(q, i)})" for q, i in _MRR_QUERIES
    )
    + f"""
)
SELECT query, first_rel_rank, rr_ppm,
       (SELECT CAST(SUM(rr_ppm) // {len(_MRR_QUERIES)} AS BIGINT)
        FROM per_q) AS mrr_ppm
FROM per_q
ORDER BY query
"""
)


@q(
    "x214_mrr_eval",
    "OP-X4/O1-ext",
    "Mean Reciprocal Rank eval for the retrieval stack (x123's NDCG "
    "sibling): four (query, intent) pairs rank documents by exact "
    "query-term frequency (ties broken by doc_id — a total order, "
    f"engine-portable) cut at top-{_MRR_AT}; a hit is relevant when "
    "it also contains the intent term, and RR = 1e6 DIV "
    "first-relevant rank (0 when the cut has no relevant hit). "
    "MRR = integer mean over queries. Scale shape: per query the "
    "corpus-sized step compiles to TakeOrderedAndProject (top-100 "
    "by (tf, doc_id)); the rank window runs over the <= 100-row "
    "cut — bounded by construction, the x122/x147/x177 idiom.",
    _MRR_ORACLE,
)
def x214_mrr_eval(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    per_q = None
    for q, intent in _MRR_QUERIES:
        scored = d.select(
            "doc_id",
            F.size(
                F.expr(f"filter(split(text, ' '), x -> x = '{q}')")
            ).alias("tf"),
            F.when(
                F.size(
                    F.expr(f"filter(split(text, ' '), x -> x = '{intent}')")
                )
                > 0,
                1,
            )
            .otherwise(0)
            .alias("rel"),
        ).filter(F.col("tf") > 0)
        cut = scored.orderBy(F.desc("tf"), "doc_id").limit(_MRR_AT)
        ranked = cut.select(
            "rel",
            F.row_number()
            .over(Window.orderBy(F.desc("tf"), "doc_id"))
            .alias("rn"),
        )
        one = ranked.agg(
            F.lit(q).alias("query"),
            F.coalesce(
                F.min(F.when(F.col("rel") == 1, F.col("rn"))), F.lit(0)
            )
            .cast("long")
            .alias("first_rel_rank"),
        ).select(
            "query",
            "first_rel_rank",
            F.when(
                F.col("first_rel_rank") > 0,
                F.expr("CAST(1000000 DIV first_rel_rank AS BIGINT)"),
            )
            .otherwise(0)
            .cast("long")
            .alias("rr_ppm"),
        )
        per_q = one if per_q is None else per_q.unionAll(one)
    mrr = per_q.agg(
        F.expr(
            f"CAST(SUM(rr_ppm) DIV {len(_MRR_QUERIES)} AS BIGINT)"
        ).alias("mrr_ppm")
    )
    return (
        per_q.crossJoin(F.broadcast(mrr))
        .select("query", "first_rel_rank", "rr_ppm", "mrr_ppm")
        .orderBy("query")
    )


# ---------------------------------------------------------------------------
# x215 — calibration bins + expected calibration error (ECE)
# ---------------------------------------------------------------------------

_ECE_ORACLE = """
WITH hist AS (
    SELECT o_custkey, o_orderdate, o_orderkey,
           CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y,
           count(*) OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prior_n,
           coalesce(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                             THEN 1 ELSE 0 END)
                    OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS prior_pos
    FROM orders
),
scored AS (
    SELECT y, prior_pos * 1000 // prior_n AS conf_milli,
           LEAST(prior_pos * 1000 // prior_n // 100, 9) AS bin
    FROM hist WHERE prior_n >= 1
),
bins AS (
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(conf_milli) // count(*) AS BIGINT) AS conf_milli,
           CAST(SUM(y) * 1000 // count(*) AS BIGINT) AS acc_milli
    FROM scored GROUP BY bin
),
ece AS (
    SELECT CAST(SUM(n * abs(conf_milli - acc_milli)) // SUM(n) AS BIGINT)
        AS ece_milli
    FROM bins
)
SELECT CAST(bins.bin AS BIGINT) AS bin, bins.n, bins.conf_milli,
       bins.acc_milli,
       CAST(abs(bins.conf_milli - bins.acc_milli) AS BIGINT) AS gap_milli,
       ece.ece_milli
FROM bins, ece
ORDER BY bin
"""


@q(
    "x215_calibration_ece",
    "OP-W4/G5-ext",
    "Reliability diagram + expected calibration error for the "
    "naive history predictor 'this customer's past urgent rate "
    "predicts the next order's urgency': per order, the prior rate "
    "over STRICTLY EARLIER orders (cumulative window, 1 PRECEDING — "
    "no label leakage, the x208 lesson applied) in exact milli, "
    "binned into deciles; per bin the mean confidence vs observed "
    "accuracy, and ECE = the n-weighted mean absolute gap — all "
    "integer (the abs difference of two floor divisions divides "
    "nothing afterward). First orders (no history) are excluded. "
    "Scale shape: the cumulative window partitions on custkey; one "
    "hash-agg onto <= 10 bins; the ECE scalar broadcasts back.",
    _ECE_ORACLE,
)
def x215_calibration_ece(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    y = F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hist = o.select(
        y.alias("y"),
        F.count("*").over(w).alias("prior_n"),
        F.coalesce(F.sum(y).over(w), F.lit(0)).alias("prior_pos"),
    )
    scored = hist.filter(F.col("prior_n") >= 1).select(
        "y",
        F.expr("prior_pos * 1000 DIV prior_n").alias("conf_milli"),
        F.expr(
            "LEAST(prior_pos * 1000 DIV prior_n DIV 100, 9)"
        ).alias("bin"),
    )
    bins = scored.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.expr("CAST(SUM(conf_milli) DIV count(*) AS BIGINT)").alias(
            "conf_milli"
        ),
        F.expr("CAST(SUM(y) * 1000 DIV count(*) AS BIGINT)").alias(
            "acc_milli"
        ),
    )
    ece = bins.agg(
        F.expr(
            "CAST(SUM(n * abs(conf_milli - acc_milli)) DIV SUM(n) "
            "AS BIGINT)"
        ).alias("ece_milli")
    )
    return (
        bins.crossJoin(F.broadcast(ece))
        .select(
            F.col("bin").cast("long").alias("bin"),
            "n",
            "conf_milli",
            "acc_milli",
            F.expr("CAST(abs(conf_milli - acc_milli) AS BIGINT)").alias(
                "gap_milli"
            ),
            "ece_milli",
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# x216 — per-source boilerplate score (corpus-common line share)
# ---------------------------------------------------------------------------

_BOIL_LINE_TOKS = 6
_BOIL_DF = 3        # a line is boilerplate when >= 3 docs contain it
_BOIL_HEAVY = 500   # a doc is boilerplate-heavy at >= 50% common lines

_BOIL_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, source,
           string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                        ' ') AS ws
    FROM documents
    WHERE length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) > 0
),
lines AS (
    SELECT DISTINCT doc_id, source,
           array_to_string(
               ws[k * {_BOIL_LINE_TOKS} + 1 : (k + 1) * {_BOIL_LINE_TOKS}],
               ' ') AS line
    FROM tok, unnest(range(CAST(ceil(len(ws) / {_BOIL_LINE_TOKS}.0)
                                AS BIGINT))) AS t(k)
),
df AS (
    SELECT line, count(*) AS n_docs FROM lines GROUP BY line
),
per_doc AS (
    SELECT l.doc_id, l.source,
           count(*) AS n_lines,
           SUM(CASE WHEN df.n_docs >= {_BOIL_DF} THEN 1 ELSE 0 END)
               AS n_common,
           SUM(CASE WHEN df.n_docs >= {_BOIL_DF} THEN 1 ELSE 0 END)
               * 1000 // count(*) AS boiler_milli
    FROM lines l JOIN df ON l.line = df.line
    GROUP BY l.doc_id, l.source
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_lines) AS BIGINT) AS n_lines,
       CAST(SUM(n_common) AS BIGINT) AS n_common_lines,
       CAST(SUM(boiler_milli) // count(*) AS BIGINT) AS mean_boiler_milli,
       CAST(SUM(CASE WHEN boiler_milli >= {_BOIL_HEAVY} THEN 1 ELSE 0 END)
            AS BIGINT) AS heavy_docs,
       CAST(SUM(CASE WHEN boiler_milli >= {_BOIL_HEAVY} THEN 1 ELSE 0 END)
            * 1000000 // count(*) AS BIGINT) AS heavy_ppm
FROM per_doc
GROUP BY source
ORDER BY source
"""


@q(
    "x216_boilerplate_score",
    "OP-X4/X2-ext",
    "CCNet-style boilerplate scoring: documents chunk into "
    f"{_BOIL_LINE_TOKS}-token lines (x24's line framing), a line is "
    f"boilerplate when >= {_BOIL_DF} distinct docs contain it "
    "(corpus document-frequency — cross-doc repetition, the signal "
    "x4_repetition_score's WITHIN-doc n-grams cannot see), and each "
    "doc's boilerplate share in exact milli rolls up per source with "
    f"the >= {_BOIL_HEAVY / 10:.0f}% heavy-doc rate in ppm — the "
    "navigation-chrome/footer detector a web-corpus curation pass "
    "runs before quality scoring. Scale shape: line doc-frequency "
    "is one hash-agg on the line key (docs never move — lines do, "
    "the x24b shape); the join back is line-keyed; final rollup is "
    "per-source.",
    _BOIL_ORACLE,
)
def x216_boilerplate_score(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    tok = d.filter(
        F.length(F.trim(F.regexp_replace("text", r"\s+", " "))) > 0
    ).select("doc_id", "source", F.split(norm, " ").alias("ws"))
    n_lines = F.expr(
        f"CAST(ceil(size(ws) / {_BOIL_LINE_TOKS}.0) AS BIGINT)"
    )
    lines = (
        tok.select(
            "doc_id",
            "source",
            "ws",
            F.explode(F.sequence(F.lit(0).cast("long"), n_lines - 1)).alias(
                "k"
            ),
        )
        .select(
            "doc_id",
            "source",
            F.expr(
                f"array_join(slice(ws, CAST(k * {_BOIL_LINE_TOKS} + 1 AS "
                f"INT), {_BOIL_LINE_TOKS}), ' ')"
            ).alias("line"),
        )
        .distinct()
    )
    df = lines.groupBy("line").agg(F.count("*").alias("n_docs"))
    per_doc = (
        lines.join(df, "line")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(
                F.when(F.col("n_docs") >= _BOIL_DF, 1).otherwise(0)
            ).alias("n_common"),
            F.expr(
                f"SUM(CASE WHEN n_docs >= {_BOIL_DF} THEN 1 ELSE 0 END) "
                "* 1000 DIV count(*)"
            ).alias("boiler_milli"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_lines").cast("long").alias("n_lines"),
            F.sum("n_common").cast("long").alias("n_common_lines"),
            F.expr(
                "CAST(SUM(boiler_milli) DIV count(*) AS BIGINT)"
            ).alias("mean_boiler_milli"),
            F.sum(
                F.when(F.col("boiler_milli") >= _BOIL_HEAVY, 1).otherwise(0)
            )
            .cast("long")
            .alias("heavy_docs"),
            F.expr(
                f"CAST(SUM(CASE WHEN boiler_milli >= {_BOIL_HEAVY} THEN 1 "
                "ELSE 0 END) * 1000000 DIV count(*) AS BIGINT)"
            ).alias("heavy_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# x217 — decontamination width-sensitivity curve
# ---------------------------------------------------------------------------

_CONTAM_WIDTHS = (4, 6, 8)
_CONTAM_EVAL_PCT = 10  # md5(doc_id) % 100 < 10 -> eval split


def _contam_width_sql(n: int) -> str:
    return f"""
SELECT CAST({n} AS BIGINT) AS width,
       (SELECT CAST(count(*) AS BIGINT) FROM split WHERE is_eval = 1)
           AS n_eval_docs,
       CAST(count(DISTINCT g.doc_id) AS BIGINT) AS n_contaminated,
       CAST(count(DISTINCT g.doc_id) * 1000000
            // (SELECT count(*) FROM split WHERE is_eval = 1) AS BIGINT)
           AS contam_ppm
FROM (
    SELECT s.doc_id,
           array_to_string(s.ws[k + 1 : k + {n}], ' ') AS gram
    FROM split s, unnest(range(greatest(len(s.ws) - {n} + 1, 0))) AS t(k)
    WHERE s.is_eval = 1
) g
WHERE g.gram IN (
    SELECT DISTINCT array_to_string(s.ws[k + 1 : k + {n}], ' ')
    FROM split s, unnest(range(greatest(len(s.ws) - {n} + 1, 0))) AS t(k)
    WHERE s.is_eval = 0
)
"""


_CONTAM_ORACLE = (
    f"""
WITH split AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
                                            'g')), ' ') AS ws,
           CASE WHEN CAST('0x' || substr(md5('ct:' || doc_id), 1, 8)
                     AS BIGINT) % 100 < {_CONTAM_EVAL_PCT}
                THEN 1 ELSE 0 END AS is_eval
    FROM documents
    WHERE length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) > 0
)
"""
    + " UNION ALL ".join(f"({_contam_width_sql(n)})" for n in _CONTAM_WIDTHS)
    + "\nORDER BY width"
)


@q(
    "x217_contamination_width_curve",
    "OP-X2/X4-ext",
    "Decontamination width-sensitivity curve — x213's "
    "definition-sensitivity idea applied to eval contamination: the "
    "corpus splits eval/train at the document entity (md5, "
    f"{_CONTAM_EVAL_PCT}%), and for each n-gram width in "
    f"{_CONTAM_WIDTHS} the audit counts eval docs sharing ANY "
    "n-gram with the train side, in exact ppm. Short widths "
    "over-flag (common phrases), long widths under-flag (miss "
    "paraphrase overlap) — the curve is what justifies the width a "
    "decontamination pass (x19) actually ships with. Scale shape: "
    "grams form map-side (sequence + slice, the x19 idiom), the "
    "train gram set DISTINCTs before the semi-join per width, and "
    "the per-width rollups are global count scalars (one partial "
    "row per partition).",
    _CONTAM_ORACLE,
)
def x217_contamination_width_curve(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    split_df = d.filter(
        F.length(F.trim(F.regexp_replace("text", r"\s+", " "))) > 0
    ).select(
        "doc_id",
        F.split(norm, " ").alias("ws"),
        F.when(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit("ct:"), F.col("doc_id").cast("string"))
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 100
            < _CONTAM_EVAL_PCT,
            1,
        )
        .otherwise(0)
        .alias("is_eval"),
    )
    n_eval = split_df.filter(F.col("is_eval") == 1).agg(
        F.count("*").cast("long").alias("n_eval_docs")
    )

    def grams(df, n):
        # Guard + filter, the x19 pattern: Spark's sequence(0, -1)
        # DESCENDS (it would emit k=0 and k=-1 for docs shorter than
        # the width and fabricate partial grams the oracle never
        # sees), so clamp the end at 0 and filter the real bound.
        return (
            df.select(
                "doc_id",
                F.explode(
                    F.sequence(
                        F.lit(0),
                        F.greatest(F.size("ws") - n, F.lit(0)),
                    )
                ).alias("k"),
                "ws",
            )
            .filter(F.col("k") <= F.size("ws") - n)
            .select(
                "doc_id",
                F.expr(
                    f"array_join(slice(ws, CAST(k + 1 AS INT), {n}), ' ')"
                ).alias("gram"),
            )
        )

    out = None
    for n in _CONTAM_WIDTHS:
        ev = grams(split_df.filter(F.col("is_eval") == 1), n)
        tr = grams(split_df.filter(F.col("is_eval") == 0), n).select(
            "gram"
        ).distinct()
        hit = (
            ev.join(tr, "gram", "left_semi")
            .agg(F.countDistinct("doc_id").cast("long").alias("n_contaminated"))
        )
        one = hit.crossJoin(F.broadcast(n_eval)).select(
            F.lit(n).cast("long").alias("width"),
            "n_eval_docs",
            "n_contaminated",
            F.expr(
                # NULL on an empty corpus (DuckDB's x // 0 is NULL;
                # Spark's ANSI DIV throws — round-10 sweep)
                "CAST(CASE WHEN n_eval_docs = 0 THEN NULL"
                " ELSE n_contaminated * 1000000 DIV n_eval_docs END"
                " AS BIGINT)"
            ).alias("contam_ppm"),
        )
        out = one if out is None else out.unionAll(one)
    return out.orderBy("width")


# ---------------------------------------------------------------------------
# x218 — dedup spillover matrix (who loses docs to whom)
# ---------------------------------------------------------------------------

_SPILL_ORACLE = """
WITH n AS (
    SELECT doc_id, source,
           md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9]+', ' ', 'g'), '\\s+', ' ', 'g'))) AS fp
    FROM documents
),
keeper AS (
    SELECT fp, min(doc_id) AS keep_id FROM n GROUP BY fp
),
ks AS (
    SELECT k.fp, k.keep_id, n.source AS keeper_source
    FROM keeper k JOIN n ON k.keep_id = n.doc_id
)
SELECT ks.keeper_source, n.source AS dropped_source,
       CAST(count(*) AS BIGINT) AS n_dropped
FROM n JOIN ks ON n.fp = ks.fp
WHERE n.doc_id <> ks.keep_id
GROUP BY ks.keeper_source, n.source
ORDER BY keeper_source, dropped_source
"""


@q(
    "x218_dedup_spillover_matrix",
    "OP-X1/G3-ext",
    "Dedup spillover matrix: under the keep-min-id survivorship "
    "policy (x1's), every dropped duplicate is attributed to the "
    "(keeper source, dropped source) pair — the governance table "
    "that shows WHICH source's documents survive cross-source "
    "dedup and which source silently shrinks (x110 measures how "
    "similar two sources are; this measures who actually loses). "
    "Normalization and fingerprint are x1c's, so the matrix is "
    "consistent with the dedup pass it audits. Scale shape: one "
    "fingerprint hash-agg (keep-min), keeper-source lookup joins on "
    "the 8-byte-ish keep_id, the member join is fingerprint-keyed; "
    "documents themselves never shuffle; output <= |sources|^2.",
    _SPILL_ORACLE,
)
def x218_dedup_spillover_matrix(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " "), r"\s+", " "
        )
    )
    n = d.select("doc_id", "source", F.md5(norm).alias("fp"))
    keeper = n.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    ks = keeper.join(
        n.select(F.col("doc_id").alias("keep_id"),
                 F.col("source").alias("keeper_source")),
        "keep_id",
    )
    return (
        n.join(ks, "fp")
        .filter(F.col("doc_id") != F.col("keep_id"))
        .groupBy("keeper_source", F.col("source").alias("dropped_source"))
        .agg(F.count("*").cast("long").alias("n_dropped"))
        .orderBy("keeper_source", "dropped_source")
    )


# ---------------------------------------------------------------------------
# x219 — quantile normalization onto the pooled reference
# ---------------------------------------------------------------------------

_QN_ORACLE = """
WITH v AS (
    SELECT p.p_brand AS brand,
           CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents,
           l.l_orderkey, l.l_linenumber
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
pooled AS (
    SELECT cents AS ref_cents,
           row_number() OVER (ORDER BY cents, l_orderkey, l_linenumber)
               AS j
    FROM v
),
npool AS (SELECT CAST(count(*) AS BIGINT) AS n_pool FROM v),
ranked AS (
    SELECT brand, cents,
           row_number() OVER (PARTITION BY brand
                              ORDER BY cents, l_orderkey, l_linenumber)
               AS i,
           count(*) OVER (PARTITION BY brand) AS n_b
    FROM v
),
mapped AS (
    SELECT r.brand, r.cents,
           GREATEST(r.i * np.n_pool // r.n_b, 1) AS j
    FROM ranked r, npool np
)
SELECT m.brand,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(m.cents) AS BIGINT) AS raw_sum_cents,
       CAST(SUM(p.ref_cents) AS BIGINT) AS qn_sum_cents,
       CAST(MIN(p.ref_cents) AS BIGINT) AS qn_min_cents,
       CAST(MAX(p.ref_cents) AS BIGINT) AS qn_max_cents
FROM mapped m JOIN pooled p ON m.j = p.j
GROUP BY m.brand
ORDER BY m.brand
"""


@q(
    "x219_quantile_normalization",
    "OP-W-ext/OP-X-ext",
    "Quantile normalization of per-brand price distributions onto "
    "the pooled reference (the bioinformatics batch-effect "
    "correction, here as the feature-prep primitive): within each "
    "brand, the rank-i value maps to the pooled value at rank "
    "max(1, i*N DIV n_b), so every brand's normalized distribution "
    "is an exact subsample of the pooled one — certified via "
    "per-brand count/sum/min/max of the normalized cents (the full "
    "mapped frame is the reusable intermediate). Rank picks are "
    "tie-permutation-invariant (the x118/x195 argument); i*N "
    "bounded ~1.4e14 at 100x (the x160 rule). Scale shape: the "
    "per-brand window partitions on brand (25-way, the measured-"
    "fine x195 regime); the POOLED rank is the deliberate "
    "whitelisted global window in the certifiable form, with "
    "rank_method='bucketed' selecting operators/ranks.py "
    "global_row_number as the distributed exact scale path (the "
    "x111/x118 convention); the rank-lookup join shuffles on the "
    "8-byte rank key, never on documents.",
    _QN_ORACLE,
)
def x219_quantile_normalization(spark, sf_dir, rank_method: str = "window"):
    from ravelytics_spark.operators.ranks import global_row_number

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    v = li.join(p, li.l_partkey == p.p_partkey).select(
        F.col("p_brand").alias("brand"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    order = [
        ("cents", "asc"),
        ("l_orderkey", "asc"),
        ("l_linenumber", "asc"),
    ]
    pooled = global_row_number(
        v, order, method=rank_method, col_name="j"
    ).select(F.col("cents").alias("ref_cents"), "j")
    n_pool = v.agg(F.count("*").cast("long").alias("n_pool"))
    ranked = global_row_number(
        v,
        order,
        partition_by=["brand"],
        method=rank_method,
        col_name="i",
        total_name="n_b",
    ).select("brand", "cents", "i", "n_b")
    mapped = ranked.crossJoin(F.broadcast(n_pool)).select(
        "brand",
        "cents",
        F.expr("GREATEST(i * n_pool DIV n_b, 1)").alias("j"),
    )
    return (
        mapped.join(pooled, "j")
        .groupBy("brand")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("cents").cast("long").alias("raw_sum_cents"),
            F.sum("ref_cents").cast("long").alias("qn_sum_cents"),
            F.min("ref_cents").cast("long").alias("qn_min_cents"),
            F.max("ref_cents").cast("long").alias("qn_max_cents"),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# x220 — sample-ratio-mismatch (SRM) check for the entity split
# ---------------------------------------------------------------------------

_SRM_PCT = 10
_SRM_CRIT_PPM = 3_841_459  # chi2(1) 95% critical value in ppm

_SRM_ORACLE = f"""
WITH assigned AS (
    SELECT CASE WHEN CAST('0x' || substr(md5('eh:' || o_custkey), 1, 8)
                     AS BIGINT) % 100 < {_SRM_PCT} THEN 1 ELSE 0 END
               AS in_test
    FROM orders
),
counts AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(in_test) AS BIGINT) AS n_test
    FROM assigned
),
d2 AS (
    SELECT n, n_test,
           (100 * n_test - {_SRM_PCT} * n)
           * (100 * n_test - {_SRM_PCT} * n) AS dev2,
           n * {_SRM_PCT} * (100 - {_SRM_PCT}) AS den
    FROM counts
)
SELECT n, n_test,
       CAST(n * {_SRM_PCT} // 100 AS BIGINT) AS expected_test,
       CAST((dev2 // den) * 100 + (dev2 % den) * 100 // den AS BIGINT)
           AS chi2_ppm,
       CAST(CASE WHEN (dev2 // den) * 100 + (dev2 % den) * 100 // den
                      > {_SRM_CRIT_PPM}
                 THEN 1 ELSE 0 END AS BIGINT) AS srm_suspected
FROM d2
"""


@q(
    "x220_srm_check",
    "OP-G5/X-ext",
    "Sample-ratio-mismatch check — the first data-quality gate every "
    "experimentation platform runs: the x199 entity split is "
    f"audited against its designed {_SRM_PCT}% allocation with the "
    "one-df chi-square statistic in exact ppm, "
    "chi2 = (O - Np)^2 / (Np(1-p)) spelled over integers as "
    "(100*O - p*N)^2 over N*p*(100-p), squared deviation so the "
    "operands are nonnegative, flagged against the 95% critical "
    "value 3.841459. A buggy hash, a lossy join or a filter applied "
    "to one arm shows up HERE before anyone reads the experiment. "
    "Bounds (the x160 rule): the deviation can reach 90*N when the "
    "split is maximally broken, so dev^2 <= 8100*N^2 ~ 1.8e18 at "
    "100x — inside BIGINT, but *100 on top is NOT, so the ppm "
    "scaling uses x202's two-stage decomposition "
    "(dev2 DIV den)*100 + (dev2 % den)*100 DIV den: exact floor "
    "ppm, every intermediate <= dev2. Scale shape: one map-side-"
    "combinable global count (one partial row per partition), then "
    "scalar arithmetic.",
    _SRM_ORACLE,
)
def x220_srm_check(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    assigned = o.select(
        F.when(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("eh:"), F.col("o_custkey").cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 100
            < _SRM_PCT,
            1,
        )
        .otherwise(0)
        .alias("in_test")
    )
    counts = assigned.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("in_test").cast("long").alias("n_test"),
    )
    d2 = counts.select(
        "n",
        "n_test",
        F.expr(
            f"(100 * n_test - {_SRM_PCT} * n) "
            f"* (100 * n_test - {_SRM_PCT} * n)"
        ).alias("dev2"),
        F.expr(f"n * {_SRM_PCT} * (100 - {_SRM_PCT})").alias("den"),
    )
    chi2 = "(dev2 DIV den) * 100 + (dev2 % den) * 100 DIV den"
    return d2.select(
        "n",
        "n_test",
        F.expr(f"CAST(n * {_SRM_PCT} DIV 100 AS BIGINT)").alias(
            "expected_test"
        ),
        F.expr(f"CAST({chi2} AS BIGINT)").alias("chi2_ppm"),
        F.expr(
            f"CAST(CASE WHEN {chi2} > {_SRM_CRIT_PPM} THEN 1 ELSE 0 END "
            "AS BIGINT)"
        ).alias("srm_suspected"),
    )


# ---------------------------------------------------------------------------
# x221 — price-volume bridge (exact PVM decomposition, 1996 -> 1997)
# ---------------------------------------------------------------------------

_PVM_Y0, _PVM_Y1 = 1996, 1997

_PVM_ORACLE = f"""
WITH yr AS (
    SELECT p.p_brand AS brand,
           CAST(year(l.l_shipdate) AS BIGINT) AS y,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty,
           CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT) // 100)
                AS BIGINT) AS rev
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE year(l.l_shipdate) IN ({_PVM_Y0}, {_PVM_Y1})
    GROUP BY brand, y
),
wide AS (
    SELECT brand,
           MIN(CASE WHEN y = {_PVM_Y0} THEN qty END) AS q0,
           MIN(CASE WHEN y = {_PVM_Y0} THEN rev END) AS r0,
           MIN(CASE WHEN y = {_PVM_Y1} THEN qty END) AS q1,
           MIN(CASE WHEN y = {_PVM_Y1} THEN rev END) AS r1
    FROM yr GROUP BY brand
    HAVING MIN(CASE WHEN y = {_PVM_Y0} THEN qty END) IS NOT NULL
       AND MIN(CASE WHEN y = {_PVM_Y1} THEN qty END) IS NOT NULL
)
SELECT brand, q0, r0, q1, r1,
       CAST(r1 - r0 AS BIGINT) AS delta_rev,
       CAST((q1 - q0) * r0 AS BIGINT) AS volume_term,
       CAST(q0 * r1 - q1 * r0 AS BIGINT) AS price_term
FROM wide
ORDER BY brand
"""


@q(
    "x221_pvm_bridge",
    "OP-G3/G6-ext",
    "Price-volume bridge (the finance PVM decomposition) between "
    f"{_PVM_Y0} and {_PVM_Y1} per brand, EXACT: on the q0-scaled "
    "axis the identity q0*(r1-r0) = volume_term + price_term holds "
    "with volume_term = (q1-q0)*r0 (growth at old price) and "
    "price_term = q0*r1 - q1*r0 (price change at new volume) — no "
    "rational average price ever materializes, so the decomposition "
    "is hash-stable (the property test pins the identity row by "
    "row). Revenue is floor-DOLLARS: q*r products reach ~1.1e16 at "
    "100x (cents would be 1.1e18 — the x160 bound drove the unit). "
    "Scale shape: one (brand, year) hash-agg with map-side combine "
    "behind a pushed year filter; the pivot runs on the <= |brands| "
    "frame.",
    _PVM_ORACLE,
)
def x221_pvm_bridge(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    yr = (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(F.year("l_shipdate").isin(_PVM_Y0, _PVM_Y1))
        .select(
            F.col("p_brand").alias("brand"),
            F.year("l_shipdate").cast("long").alias("y"),
            F.col("l_quantity").cast("long").alias("q"),
            F.expr(
                "CAST(round(l_extendedprice * 100) AS BIGINT) DIV 100"
            ).alias("d"),
        )
        .groupBy("brand", "y")
        .agg(
            F.sum("q").cast("long").alias("qty"),
            F.sum("d").cast("long").alias("rev"),
        )
    )
    wide = (
        yr.groupBy("brand")
        .agg(
            F.min(F.when(F.col("y") == _PVM_Y0, F.col("qty"))).alias("q0"),
            F.min(F.when(F.col("y") == _PVM_Y0, F.col("rev"))).alias("r0"),
            F.min(F.when(F.col("y") == _PVM_Y1, F.col("qty"))).alias("q1"),
            F.min(F.when(F.col("y") == _PVM_Y1, F.col("rev"))).alias("r1"),
        )
        .filter(F.col("q0").isNotNull() & F.col("q1").isNotNull())
    )
    return wide.select(
        "brand",
        F.col("q0").cast("long").alias("q0"),
        F.col("r0").cast("long").alias("r0"),
        F.col("q1").cast("long").alias("q1"),
        F.col("r1").cast("long").alias("r1"),
        (F.col("r1") - F.col("r0")).cast("long").alias("delta_rev"),
        ((F.col("q1") - F.col("q0")) * F.col("r0"))
        .cast("long")
        .alias("volume_term"),
        (F.col("q0") * F.col("r1") - F.col("q1") * F.col("r0"))
        .cast("long")
        .alias("price_term"),
    ).orderBy("brand")


# ---------------------------------------------------------------------------
# x222 — training-mix feasibility (downsample-only planner)
# ---------------------------------------------------------------------------

_MIX_ORACLE = """
WITH src AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n
    FROM documents GROUP BY source
),
tot AS (
    SELECT CAST(SUM(n) AS BIGINT) AS n_total,
           CAST(count(*) AS BIGINT) AS k
    FROM src
),
plan AS (
    SELECT s.source, s.n, t.n_total, t.k,
           t.n_total // t.k AS target_n,
           LEAST((t.n_total // t.k) * 1000000 // s.n, 1000000) AS rate_ppm
    FROM src s, tot t
)
SELECT source, n, target_n,
       CAST(rate_ppm AS BIGINT) AS rate_ppm,
       CAST(n * rate_ppm // 1000000 AS BIGINT) AS achieved_n,
       CAST(CASE WHEN rate_ppm = 1000000 AND n < target_n
                 THEN 1 ELSE 0 END AS BIGINT) AS infeasible
FROM plan
ORDER BY source
"""


@q(
    "x222_mixture_feasibility",
    "OP-X9/X4-ext",
    "Training-mix feasibility planner under a downsample-only "
    "policy: for the uniform target (n_total/k docs per source), "
    "each source gets the sampling rate min(1, target/n) in exact "
    "ppm, the achieved count under that rate, and an infeasibility "
    "flag — a source SMALLER than its target cannot be upsampled "
    "without repetition, which is precisely the signal that routes "
    "to x50's epoch machinery instead. The report is what a mix "
    "designer reads before committing sampling rates (x44/x50 "
    "execute a mix; this one says whether the target is reachable). "
    "Scale shape: one hash-agg onto sources; everything after runs "
    "on the <= |sources| frame.",
    _MIX_ORACLE,
)
def x222_mixture_feasibility(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    tot = src.agg(
        F.sum("n").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("k"),
    )
    plan = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n",
        F.expr("n_total DIV k").alias("target_n"),
        F.least(
            F.expr("(n_total DIV k) * 1000000 DIV n"),
            F.lit(1_000_000).cast("long"),
        )
        .cast("long")
        .alias("rate_ppm"),
    )
    return plan.select(
        "source",
        "n",
        F.col("target_n").cast("long").alias("target_n"),
        "rate_ppm",
        F.expr("CAST(n * rate_ppm DIV 1000000 AS BIGINT)").alias(
            "achieved_n"
        ),
        F.when(
            (F.col("rate_ppm") == 1_000_000) & (F.col("n") < F.col("target_n")),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("infeasible"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# x223 — context-length planning curve (packing waste + truncation)
# ---------------------------------------------------------------------------

_CTX_BUCKETS = 32
_CTX_LENGTHS = (256, 512, 1024, 2048)


def _ctx_len_sql(length: int) -> str:
    return f"""
SELECT CAST({length} AS BIGINT) AS ctx_len,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(SUM((total + {length} - 1) // {length}) AS BIGINT) AS n_packs,
       CAST(SUM(((total + {length} - 1) // {length}) * {length})
            AS BIGINT) AS capacity,
       CAST(SUM(total) AS BIGINT) AS used_tokens,
       CAST(SUM(((total + {length} - 1) // {length}) * {length} - total)
            AS BIGINT) AS tail_waste,
       CAST(SUM(((total + {length} - 1) // {length}) * {length} - total)
            * 1000000
            // SUM(((total + {length} - 1) // {length}) * {length})
            AS BIGINT) AS tail_waste_ppm,
       CAST(SUM(n_over) AS BIGINT) AS oversize_docs,
       CAST(SUM(trunc_toks) AS BIGINT) AS truncated_tokens
FROM (
    SELECT bucket,
           SUM(n_tok) AS total,
           SUM(CASE WHEN n_tok > {length} THEN 1 ELSE 0 END) AS n_over,
           SUM(GREATEST(n_tok - {length}, 0)) AS trunc_toks
    FROM tok GROUP BY bucket
)
"""


_CTX_ORACLE = (
    f"""
WITH tok AS (
    SELECT doc_id % {_CTX_BUCKETS} AS bucket,
           CAST(len(string_split(trim(regexp_replace(text, '\\s+', ' ',
                'g')), ' ')) AS BIGINT) AS n_tok
    FROM documents
    WHERE length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) > 0
)
"""
    + " UNION ALL ".join(f"({_ctx_len_sql(n)})" for n in _CTX_LENGTHS)
    + "\nORDER BY ctx_len"
)


@q(
    "x223_context_length_curve",
    "OP-X4/X1-ext",
    "Context-length planning curve for x18's offset packing: for "
    f"each candidate budget in {_CTX_LENGTHS}, the exact tail waste "
    "of the concat-and-pack stream (each of the "
    f"{_CTX_BUCKETS} bucket streams fills packs fully except its "
    "last — waste is per-bucket ceil-remainder arithmetic on token "
    "TOTALS, no window at all) in ppm of capacity, PLUS the no-split "
    "regime's costs at the same budget: docs longer than the context "
    "and the tokens truncation would discard. Short contexts waste "
    "little tail but truncate much; long contexts the reverse — the "
    "x213/x217 sensitivity-curve family applied to the "
    "training-infra context-length decision. Scale shape: one "
    "hash-agg onto the 32-bucket frame carrying three sums; the "
    "per-length arithmetic runs on 32 rows regardless of corpus "
    "size.",
    _CTX_ORACLE,
)
def x223_context_length_curve(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace("text", r"\s+", " "))
    tok = d.filter(F.length(norm) > 0).select(
        (F.col("doc_id") % _CTX_BUCKETS).alias("bucket"),
        F.size(F.split(norm, " ")).cast("long").alias("n_tok"),
    )
    out = None
    for L in _CTX_LENGTHS:
        per_bucket = tok.groupBy("bucket").agg(
            F.sum("n_tok").alias("total"),
            F.sum(F.when(F.col("n_tok") > L, 1).otherwise(0)).alias(
                "n_over"
            ),
            F.sum(F.greatest(F.col("n_tok") - L, F.lit(0))).alias(
                "trunc_toks"
            ),
        )
        packs = f"(total + {L} - 1) DIV {L}"
        one = per_bucket.agg(
            F.lit(L).cast("long").alias("ctx_len"),
            F.count("*").cast("long").alias("n_buckets"),
            F.expr(f"CAST(SUM({packs}) AS BIGINT)").alias("n_packs"),
            F.expr(f"CAST(SUM(({packs}) * {L}) AS BIGINT)").alias(
                "capacity"
            ),
            F.sum("total").cast("long").alias("used_tokens"),
            F.expr(
                f"CAST(SUM(({packs}) * {L} - total) AS BIGINT)"
            ).alias("tail_waste"),
            F.expr(
                f"CAST(SUM(({packs}) * {L} - total) * 1000000 "
                f"DIV SUM(({packs}) * {L}) AS BIGINT)"
            ).alias("tail_waste_ppm"),
            F.sum("n_over").cast("long").alias("oversize_docs"),
            F.sum("trunc_toks").cast("long").alias("truncated_tokens"),
        )
        out = one if out is None else out.unionAll(one)
    return out.orderBy("ctx_len")


# ---------------------------------------------------------------------------
# x224 — dedup-weighted effective token mass per source
# ---------------------------------------------------------------------------

_ETM_ORACLE = """
WITH n AS (
    SELECT doc_id, source,
           CAST(len(string_split(trim(regexp_replace(lower(text), '\\s+',
                ' ', 'g')), ' ')) AS BIGINT) AS n_tok,
           md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9]+', ' ', 'g'), '\\s+', ' ', 'g'))) AS fp
    FROM documents
    WHERE length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) > 0
),
cl AS (
    SELECT fp, count(*) AS sz FROM n GROUP BY fp
)
SELECT n.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n.n_tok) AS BIGINT) AS raw_tokens,
       CAST(SUM(n.n_tok * 1000 // cl.sz) AS BIGINT)
           AS effective_millitokens,
       CAST(SUM(n.n_tok * 1000 // cl.sz) // SUM(n.n_tok) AS BIGINT)
           AS retention_milli,
       CAST(SUM(CASE WHEN cl.sz > 1 THEN n.n_tok ELSE 0 END) AS BIGINT)
           AS duplicated_tokens
FROM n JOIN cl ON n.fp = cl.fp
GROUP BY n.source
ORDER BY n.source
"""


@q(
    "x224_effective_token_mass",
    "OP-X1/X4-ext",
    "Dedup-weighted token accounting: each document's tokens count "
    "1/cluster-size (exact milli-tokens, x1c's normalized "
    "fingerprint), so a doc duplicated k times contributes its mass "
    "once, split fairly across the copies — per source the raw vs "
    "EFFECTIVE token mass, the retention ratio in milli, and the "
    "token volume sitting in any duplicate cluster. This is the "
    "number a pretraining mix planner budgets with (raw token "
    "counts over-credit duplicate-heavy sources; x218 says who "
    "loses DOCS, this says how many unique TOKENS each source "
    "really brings). Bounds: tokens*1000 at 100x ~ 1e11 per doc "
    "group, summed ~ 1e14 (the x160 rule). Scale shape: cluster "
    "sizes are one fingerprint hash-agg, the weight join is "
    "fingerprint-keyed (documents never shuffle), final rollup per "
    "source.",
    _ETM_ORACLE,
)
def x224_effective_token_mass(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    clean = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    raw = F.trim(F.regexp_replace("text", r"\s+", " "))
    fp = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " "),
                r"\s+",
                " ",
            )
        )
    )
    n = d.filter(F.length(raw) > 0).select(
        "doc_id",
        "source",
        F.size(F.split(clean, " ")).cast("long").alias("n_tok"),
        fp.alias("fp"),
    )
    cl = n.groupBy("fp").agg(F.count("*").alias("sz"))
    return (
        n.join(cl, "fp")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("raw_tokens"),
            F.expr("CAST(SUM(n_tok * 1000 DIV sz) AS BIGINT)").alias(
                "effective_millitokens"
            ),
            F.expr(
                "CAST(SUM(n_tok * 1000 DIV sz) DIV SUM(n_tok) AS BIGINT)"
            ).alias("retention_milli"),
            F.sum(F.when(F.col("sz") > 1, F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("duplicated_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# x225 — difference-in-differences (exact cell means)
# ---------------------------------------------------------------------------

_DID_SPLIT = "1998-05-01"

_DID_ORACLE = f"""
WITH cells AS (
    SELECT CASE WHEN CAST('0x' || substr(md5('did:' || c.c_nationkey),
                           1, 8) AS BIGINT) % 2 = 1
                THEN 1 ELSE 0 END AS treated,
           CASE WHEN o.o_orderdate < TIMESTAMP '{_DID_SPLIT}'
                THEN 0 ELSE 1 END AS after,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
m AS (
    SELECT treated, after,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(cents) * 1000 // count(*) AS BIGINT)
               AS mean_millicents
    FROM cells GROUP BY treated, after
)
SELECT t0.n AS n_t_before, t1.n AS n_t_after,
       c0.n AS n_c_before, c1.n AS n_c_after,
       t0.mean_millicents AS t_before, t1.mean_millicents AS t_after,
       c0.mean_millicents AS c_before, c1.mean_millicents AS c_after,
       CAST((t1.mean_millicents - t0.mean_millicents)
            - (c1.mean_millicents - c0.mean_millicents) AS BIGINT)
           AS did_millicents
FROM (SELECT * FROM m WHERE treated = 1 AND after = 0) t0,
     (SELECT * FROM m WHERE treated = 1 AND after = 1) t1,
     (SELECT * FROM m WHERE treated = 0 AND after = 0) c0,
     (SELECT * FROM m WHERE treated = 0 AND after = 1) c1
"""


@q(
    "x225_diff_in_diff",
    "OP-G3/X-ext",
    "Difference-in-differences point estimate, exact: a deterministic "
    "nation-level treatment assignment (md5 parity — entity-keyed, "
    "the x199 rule) crossed with the before/after split at "
    f"{_DID_SPLIT}, cell means in exact milli-cents, and DiD = "
    "(t_after - t_before) - (c_after - c_before) — the "
    "parallel-trends causal estimator an experimentation platform "
    "computes when randomization happens at a coarse entity. Pure "
    "integer arithmetic: each mean is one floor division of exact "
    "sums; the DiD is subtraction only (may be negative, divides "
    "nothing — the x205 rule). Scale shape: one hash-agg onto 4 "
    "cells (map-side combinable); the 4-way assembly joins 1-row "
    "frames.",
    _DID_ORACLE,
)
def x225_diff_in_diff(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cells = o.join(c, o.o_custkey == c.c_custkey).select(
        F.when(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("did:"),
                            F.col("c_nationkey").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2
            == 1,
            1,
        )
        .otherwise(0)
        .alias("treated"),
        F.when(F.col("o_orderdate") < F.lit(_DID_SPLIT), 0)
        .otherwise(1)
        .alias("after"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    m = cells.groupBy("treated", "after").agg(
        F.count("*").cast("long").alias("n"),
        F.expr("CAST(SUM(cents) * 1000 DIV count(*) AS BIGINT)").alias(
            "mean_millicents"
        ),
    )

    def cell(t, a, prefix):
        return (
            m.filter((F.col("treated") == t) & (F.col("after") == a))
            .select(
                F.col("n").alias(f"n_{prefix}"),
                F.col("mean_millicents").alias(prefix),
            )
        )

    t0, t1 = cell(1, 0, "t_before"), cell(1, 1, "t_after")
    c0, c1 = cell(0, 0, "c_before"), cell(0, 1, "c_after")
    # broadcast the 1-row cells so the assembly plans as
    # BroadcastNestedLoopJoin, never CartesianProduct
    return (
        t0.crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(c0))
        .crossJoin(F.broadcast(c1))
        .select(
            "n_t_before",
            "n_t_after",
            "n_c_before",
            "n_c_after",
            "t_before",
            "t_after",
            "c_before",
            "c_after",
            (
                (F.col("t_after") - F.col("t_before"))
                - (F.col("c_after") - F.col("c_before"))
            )
            .cast("long")
            .alias("did_millicents"),
        )
    )


# ---------------------------------------------------------------------------
# x226 — CUPED variance-reduction audit (pre-period covariate)
# ---------------------------------------------------------------------------

_CUPED_SPLIT = "1998-05-01"

_CUPED_ORACLE = f"""
WITH per_cust AS (
    SELECT c.c_nationkey,
           CAST(SUM(CASE WHEN o.o_orderdate < TIMESTAMP '{_CUPED_SPLIT}'
                THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                ELSE 0 END) // 100000 AS BIGINT) AS x,
           CAST(SUM(CASE WHEN o.o_orderdate >= TIMESTAMP '{_CUPED_SPLIT}'
                THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                ELSE 0 END) // 100000 AS BIGINT) AS y
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey, o.o_custkey
),
sums AS (
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           CAST(SUM(x * y) AS BIGINT) AS sxy,
           CAST(SUM(y * y) AS BIGINT) AS syy
    FROM per_cust GROUP BY c_nationkey
),
nums AS (
    SELECT c_nationkey, n,
           n * sxy - sx * sy AS cov_num,
           n * sxx - sx * sx AS varx_num,
           n * syy - sy * sy AS vary_num
    FROM sums
)
SELECT CAST(c_nationkey AS BIGINT) AS nationkey, n,
       CAST(cov_num AS BIGINT) AS cov_num,
       CAST(varx_num AS BIGINT) AS varx_num,
       CAST(vary_num AS BIGINT) AS vary_num,
       CAST(CASE WHEN cov_num >= 0
                 THEN cov_num * 1000 // varx_num
                 ELSE -((-cov_num) * 1000 // varx_num) END AS BIGINT)
           AS theta_milli,
       CAST(floor(1000000.0 * CAST(cov_num AS DOUBLE)
                  * CAST(cov_num AS DOUBLE)
                  / (CAST(varx_num AS DOUBLE) * CAST(vary_num AS DOUBLE)))
            AS BIGINT) AS rho2_ppm
FROM nums
WHERE varx_num > 0 AND vary_num > 0
ORDER BY nationkey
"""


@q(
    "x226_cuped_audit",
    "OP-G6/X-ext",
    "CUPED variance-reduction audit — the standard experimentation "
    "trick of regressing the experiment metric on a PRE-period "
    "covariate: per nation, per-customer pre-split spend X vs "
    "post-split spend Y (exact kilo-dollar integers: per-customer "
    "products stay ~2e6, per-nation n*Sxy ~ 8e15 at 100x — the x160 "
    "bound drove the unit), the exact integer covariance/variance "
    "numerators (x114's normal-equation machinery), theta = cov/varX "
    "in signed milli (the x205 signed-division CASE), and the "
    "variance reduction rho^2 = cov^2/(varX*varY) in ppm — CUPED "
    "removes exactly rho^2 of metric variance, so this table says "
    "how much experiment sensitivity the pre-period buys per "
    "segment. rho^2 divides two exact-integer-derived doubles with "
    "an identical expression tree on both engines (the x114 "
    "precedent: IEEE ops on identical inputs are bit-identical). "
    "Scale shape: one custkey hash-agg, one nation 6-sum agg — both "
    "map-side combinable; no window, no collect.",
    _CUPED_ORACLE,
)
def x226_cuped_audit(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    pre = F.when(F.col("o_orderdate") < F.lit(_CUPED_SPLIT), cents).otherwise(
        F.lit(0).cast("long")
    )
    post = F.when(
        F.col("o_orderdate") >= F.lit(_CUPED_SPLIT), cents
    ).otherwise(F.lit(0).cast("long"))
    per_cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.expr(
                f"CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP "
                f"'{_CUPED_SPLIT}' THEN CAST(round(o_totalprice * 100) AS "
                "BIGINT) ELSE 0 END) DIV 100000 AS BIGINT)"
            ).alias("x"),
            F.expr(
                f"CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP "
                f"'{_CUPED_SPLIT}' THEN CAST(round(o_totalprice * 100) AS "
                "BIGINT) ELSE 0 END) DIV 100000 AS BIGINT)"
            ).alias("y"),
        )
    )
    sums = per_cust.groupBy("c_nationkey").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    nums = sums.select(
        "c_nationkey",
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias(
            "cov_num"
        ),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias(
            "varx_num"
        ),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias(
            "vary_num"
        ),
    )
    return (
        nums.filter((F.col("varx_num") > 0) & (F.col("vary_num") > 0))
        .select(
            F.col("c_nationkey").cast("long").alias("nationkey"),
            "n",
            F.col("cov_num").cast("long").alias("cov_num"),
            F.col("varx_num").cast("long").alias("varx_num"),
            F.col("vary_num").cast("long").alias("vary_num"),
            F.expr(
                "CAST(CASE WHEN cov_num >= 0 "
                "THEN cov_num * 1000 DIV varx_num "
                "ELSE -((-cov_num) * 1000 DIV varx_num) END AS BIGINT)"
            ).alias("theta_milli"),
            F.expr(
                "CAST(floor(1000000.0 * CAST(cov_num AS DOUBLE) "
                "* CAST(cov_num AS DOUBLE) "
                "/ (CAST(varx_num AS DOUBLE) * CAST(vary_num AS DOUBLE))) "
                "AS BIGINT)"
            ).alias("rho2_ppm"),
        )
        .orderBy("nationkey")
    )
