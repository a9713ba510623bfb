"""Round-28 operators — staged in round 8, REGISTERED in round 9.

The round-8 driver certification window was fully booked (42 backlog
entries + the 8 round-27 live registrations = exactly 50), so this
batch was built, oracle-twinned and tested in round 8 but kept OUT of
``REGISTRY`` until round 9 — the round-23/24/25/26 staging contract:
entries ship the round after the window they'd overflow. The two-line
self-registration footer at the bottom of this module flipped live in
round 9. Window arithmetic source of truth: COVERAGE.md
'Certification window' (auto-generated by scripts/gen_coverage.py).

Theme: model-evaluation metrology, supply-chain forecasting, corpus
coverage, and the event-engagement layer.

* ``x235_percent_of_parent`` — the hierarchical share report: revenue
  cents per (region, nation, segment) cell with share-of-parent at
  every level (segment within nation, nation within region, region
  within grand total), all in exact ppm. Three parent rollups over
  the <= |region x nation x segment| cell table — the raw fact table
  is touched exactly once.
* ``x236_croston_intermittent`` — Croston's method for intermittent
  demand, per part: the demand-event series (nonzero months) feeds
  two truncated 8-term dyadic EWMAs (x119's exact-BIGINT idiom) —
  one over demand SIZES, one over inter-demand INTERVALS (month
  indices, exact ints) — and the forecast rate is their exact
  rational quotient in micro units. The standard forecaster for
  sparse/lumpy series where plain EWMA (x119) over calendar months
  biases toward zero.
* ``x238_psi_stability`` — Population Stability Index per feature
  (order priority, customer segment) between the pre/post 1998-05-01
  halves: per-bin (p-q)*ln(p/q) terms with counts exact BIGINT and
  ln over exact integer ratios (the x128 round(ln,8) convention).
  THE industry drift scorecard next to x85's JSD and x159's KS.
* ``x241_auc_exact`` — exact ROC AUC via the midrank U statistic,
  per customer segment (does order value predict urgency?):
  2*midrank = 2*rank + tiecount - 1 stays integer, 2U = sum over
  positives - n1*(n1+1), AUC in exact ppm by integer division. The
  threshold-free companion of x168's Mann-Whitney (same statistic,
  re-normalized as classifier quality).
* ``x243_vocab_coverage_curve`` — corpus token-mass coverage at
  vocabulary sizes 100 / 1 000 / 10 000 (count-desc, token-asc total
  tie-break): the vocab-size tradeoff curve behind x234's fixed-size
  OOV rate. Vocab candidates come from a bounded TakeOrdered top-10k;
  ranking and the corpus-total scalar run over that bounded frame.

Second wave — calibration + engagement:

* ``x239_gains_table`` — decile gains/lift table for the
  prior-spend-predicts-repurchase score: customers ranked by
  pre-1999 spend into total-tie-broken deciles, positives = ordered
  in 1999+; per decile cumulative capture ppm and lift in milli.
  The model-eval artifact every targeting campaign reads.
* ``x240_brier_decomposition`` — Brier score with the Murphy
  decomposition (reliability - resolution + uncertainty) for the
  binned prior-urgency predictor: bins on exact ppm rates, every
  component an exact rational over BIGINT counts rendered through
  one shared IEEE expression. Completes x215's ECE with the proper
  scoring-rule view.
* ``x256_active_stickiness`` — DAU / WAU(7) / MAU(28) + the
  DAU/MAU stickiness ratio per day over the events stream: distinct
  user-days joined to a bounded day grid by date-range containment
  (grid x active-days equi-bucketed by day), counts exact, ratio in
  ppm. The engagement headline triple.
* ``x257_l28_histogram`` — the L28 engagement histogram: for the
  28-day window ending at the last event day, the distribution of
  per-user active-day counts (1..28). One user-day dedup + one
  hash-agg; the power-user curve next to x256's time series.
* ``x258_time_decay_attribution`` — exponential time-decay
  attribution with dyadic half-life weights (2^-(age_days DIV 7)):
  each purchase credits prior same-user touches within 28 days,
  weights exact BIGINT, shares in ppm. Completes the attribution
  trio (x142 last-touch, x174 U-shaped).

Third wave — stylometry, compression planning, manifold + graph
structure:

* ``x242_burrows_delta`` — Burrows' Delta stylometric distance
  between source pairs over the top-30 function words: the z-score
  difference reduces to n*|f_a-f_b|/sqrt(n*Sf2-Sf^2) per word, so
  one integer-floored sqrt per word keeps every pair term and the
  pair sum exact BIGINT.
* ``x244_phrase_dictionary_gain`` — top repeated 4-gram phrases
  ranked by dictionary savings (n_occ-1)*bytes: the LZ78-style
  shared-dictionary planning cut.
* ``x245_twonn_intrinsic_dim`` — the TwoNN intrinsic-dimension
  estimator over exact fixed-point squared distances; per-point
  ln(d2^2/d1^2)/2 floored to integer nanos so the corpus sum is
  order-immune.
* ``x246_label_propagation`` — 2-round synchronous MODE-label
  propagation communities on the co-order graph (ties -> smallest
  label; x127's fixed-round unrolled-CTE certification).
* ``x247_link_prediction`` — common-neighbor/Jaccard link scores
  for non-adjacent part pairs, candidates only through shared
  neighbors, top-50 by total order.

Fourth wave — data-quality screens, robust stats, and the two
showcase structural ops:

* ``x248_keyspace_density`` — surrogate-keyspace density per orderkey
  bucket (the CDC completeness screen).
* ``x249_round_number_bias`` — trailing-digit pricing bias per
  segment (Benford's x90 audits leading digits; forgeries trip both).
* ``x250_quota_sample_shortfall`` — md5-deterministic quota sampling
  with per-cell shortfall accounting.
* ``x252_mcnemar_judges`` — McNemar's test on x205's judge pair:
  disagreement DIRECTION, the calibration complement of kappa.
* ``x253_moment_profile`` — exact S1..S4 power sums in overflow-safe
  kilodollar units; skewness/kurtosis through one shared expression.
* ``x254_hill_tail_index`` — Hill estimator per segment over the
  top-100 order values, per-term logs nano-floored before the sum.
* ``x237_hurst_rs`` — rescaled-range Hurst exponent of daily revenue
  at dyadic scales; R*s kept integer by the scaled-cumsum identity,
  the log-log slope regressed on integer k = log2(scale).
* ``x251_fifo_cost_basis`` — FIFO lot matching as cumulative-interval
  overlap: the interval algebra IS the queue; realized cost exact
  milli-cents, no per-row state anywhere.
* ``x255_diag_mahalanobis`` — multi-feature z-outliers via the
  (n*x - S)^2 / (n*S2 - S^2) identity, per-feature integer milli
  terms that add exactly.

Fifth wave — classical inference + graph structure metrology:

* ``x259_anova_oneway`` — one-way ANOVA across segments with exact
  MILLI sums of squares (per-group correction terms S1^2*1000 DIV n
  stay BIGINT); F is the single shared IEEE ratio, eta^2 exact ppm.
* ``x260_extreme_value_gumbel`` — Gumbel method-of-moments fit of
  30-day-block maximum daily revenue + the 12-block return level;
  block maxima and moments exact BIGINT dollars (all mixed literals
  cast to DOUBLE explicitly — Spark parses bare 1.0/12.0 as DECIMAL
  division, DuckDB as double: the one dialect trap this batch hit).
* ``x261_capture_recapture`` — Chapman population estimate from two
  deterministic md5 ~25% probes, signed error vs truth in ppm.
* ``x262_modularity_score`` — Newman modularity of the x246 LPA
  partition via exact directed-edge counts: Q_ppm in one signed
  integer division, reported with per-community structure counts.
* ``x263_adamic_adar`` — log-damped shared-neighbor link scores
  (nano-floored 1/ln(degree) weights sum exactly), completing x247.
* ``x264_degree_assortativity`` — Newman's degree-correlation r over
  directed edges, exact BIGINT moments, one shared IEEE ratio.
* ``x265_clustering_coefficient`` — global 3*triangles/wedges in
  exact ppm (oriented two-hop triangle join, degree-sum wedges).

Sixth wave — rank concordance, series symbolization, decomposable
inequality, distribution-free bands:

* ``x266_kendall_w`` — Kendall's coefficient of concordance across
  the m yearly nation rankings: doubled deviations keep every term
  integer, W in exact ppm (the multi-ranker x170).
* ``x267_sax_symbols`` — SAX discretization of daily revenue: 16
  PAA segments per year quantized by EMPIRICAL quartile breakpoints
  (exact rank picks, no Gaussian table).
* ``x268_theil_decomposition`` — Theil-T inequality with the
  between/within-region split Gini can't do; every ln nano-floored
  before exact integer sums.
* ``x269_dkw_bands`` — exact rank-pick deciles per segment with the
  closed-form DKW 95% ECDF half-width in ppm (the zero-pass
  companion of x153's bootstrap).

Seventh wave — process control, nonparametric k-group inference,
vocabulary completeness:

* ``x270_spc_control_chart`` — Shewhart X-bar/R weekly control chart
  with tabulated n=7 constants and both out-of-control flags (the
  operating-rule form of x125's retrospective CUSUM).
* ``x271_kruskal_wallis`` — tie-corrected Kruskal-Wallis H across
  segments via doubled global midranks; per-group contributions
  nano-floored so the cross-group sum is exact.
* ``x272_chao1_unseen`` — Chao1 richness + Good-Turing unseen mass
  per source: how much vocabulary the sample never surfaced.
* ``x273_mann_kendall`` — distribution-free monotonic-trend test per
  nation: pairwise sign sums exact, tie-corrected variance kept in
  x18 integer units, one continuity-corrected z expression.
* ``x274_cpk_capability`` — Cp/Cpk of weekly revenue vs a +-50% band
  with the SPC sigma estimator Rbar/d2 (x270's subgroup frame).

Hash-parity conventions as plans/queries.py: exact cents/BIGINT
arithmetic until one shared IEEE expression, total ORDER BY, BIGINT
casts on every count.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ravelytics_spark.plans.registry import Query
from ravelytics_spark.plans.round4 import embedding_probe
from ravelytics_spark.sources.tables import load_table

STAGED: dict[str, Query] = {}


def _staged(name: str, op_id: str, doc: str, oracle: str | None = None):
    def deco(fn):
        STAGED[name] = Query(name, op_id, doc, fn, oracle)
        return fn

    return deco


# ---------------------------------------------------------------------------
# x235 — hierarchical percent-of-parent rollup
# ---------------------------------------------------------------------------

_POP_ORACLE = """
WITH cell AS (
    SELECT r.r_name AS region, n.n_name AS nation,
           c.c_mktsegment AS segment,
           CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2, 3
),
lv AS (
    SELECT region, nation, segment, cents,
           SUM(cents) OVER (PARTITION BY region, nation) AS nation_cents,
           SUM(cents) OVER (PARTITION BY region) AS region_cents,
           SUM(cents) OVER () AS grand_cents
    FROM cell
)
SELECT region, nation, segment, cents,
       CAST((cents * 1000 // nation_cents) * 1000 + ((cents * 1000 % nation_cents) * 1000) // nation_cents AS BIGINT) AS seg_share_ppm,
       CAST((nation_cents * 1000 // region_cents) * 1000 + ((nation_cents * 1000 % region_cents) * 1000) // region_cents AS BIGINT)
           AS nation_share_ppm,
       CAST((region_cents * 1000 // grand_cents) * 1000 + ((region_cents * 1000 % grand_cents) * 1000) // grand_cents AS BIGINT)
           AS region_share_ppm
FROM lv ORDER BY region, nation, segment
"""


@_staged(
    "x235_percent_of_parent",
    "OP-G6/W4-ext",
    "Hierarchical percent-of-parent report: revenue cents per "
    "(region, nation, segment) leaf cell with the share of every "
    "ancestor level in exact ppm — segment within nation, nation "
    "within region, region within grand total. The drill-down "
    "artifact x137's flat share-of-total cannot express. Scale: the "
    "fact table aggregates ONCE into the <=|regions x nations x "
    "segments| cell frame (dims broadcast); all three parent rollups "
    "are windows over that metadata-sized frame, so the grand-total "
    "single partition holds ~125 rows, never data.",
    _POP_ORACLE,
)
def x235_percent_of_parent(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    cell = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    wn = Window.partitionBy("region", "nation")
    wr = Window.partitionBy("region")
    wg = Window.partitionBy()
    lv = cell.select(
        "region",
        "nation",
        "segment",
        "cents",
        F.sum("cents").over(wn).alias("nation_cents"),
        F.sum("cents").over(wr).alias("region_cents"),
        F.sum("cents").over(wg).alias("grand_cents"),
    )
    return lv.select(
        "region",
        "nation",
        "segment",
        "cents",
        F.expr("CAST((cents * 1000 DIV nation_cents) * 1000 + ((cents * 1000 % nation_cents) * 1000) DIV nation_cents AS BIGINT)").alias(
            "seg_share_ppm"
        ),
        F.expr(
            "CAST((nation_cents * 1000 DIV region_cents) * 1000 + ((nation_cents * 1000 % region_cents) * 1000) DIV region_cents AS BIGINT)"
        ).alias("nation_share_ppm"),
        F.expr(
            "CAST((region_cents * 1000 DIV grand_cents) * 1000 + ((region_cents * 1000 % grand_cents) * 1000) DIV grand_cents AS BIGINT)"
        ).alias("region_share_ppm"),
    ).orderBy("region", "nation", "segment")


# ---------------------------------------------------------------------------
# x236 — Croston's method for intermittent per-part demand
# ---------------------------------------------------------------------------

_CR_LAGS = 8


def _cr_num(col: str, over: str) -> str:
    return " + ".join(
        f"{1 << (_CR_LAGS - 1 - k)} * COALESCE(lag({col}, {k}) OVER {over}, 0)"
        for k in range(_CR_LAGS)
    )


def _cr_den(col: str, over: str) -> str:
    return " + ".join(
        f"CASE WHEN lag({col}, {k}) OVER {over} IS NULL THEN 0"
        f" ELSE {1 << (_CR_LAGS - 1 - k)} END"
        for k in range(_CR_LAGS)
    )


# DuckDB side names the window; Spark's expr needs it inline.
_CR_W_SPARK = "(PARTITION BY part ORDER BY mi)"
_CR_ZNUM = _cr_num("z", "w")
_CR_ZDEN = _cr_den("z", "w")
_CR_XNUM = _cr_num("gap", "w")
_CR_XDEN = _cr_den("gap", "w")

_CROSTON_ORACLE = f"""
WITH m AS (
    SELECT l_partkey AS part,
           CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT) AS mi,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS z
    FROM lineitem GROUP BY 1, 2
),
g AS (
    SELECT part, mi, z,
           mi - lag(mi) OVER (PARTITION BY part ORDER BY mi) AS gap
    FROM m
),
e AS (
    SELECT part, mi, z, gap,
           {_CR_ZNUM} AS znum, {_CR_ZDEN} AS zden,
           {_CR_XNUM} AS xnum, {_CR_XDEN} AS xden,
           row_number() OVER (PARTITION BY part ORDER BY mi DESC) AS rn,
           CAST(count(*) OVER (PARTITION BY part) AS BIGINT) AS n_demands
    FROM (SELECT * FROM g WHERE gap IS NOT NULL)
    WINDOW w AS (PARTITION BY part ORDER BY mi)
)
SELECT part, n_demands,
       CAST((znum * 1000000) // zden AS BIGINT) AS size_ewma_micro,
       CAST((xnum * 1000000) // xden AS BIGINT) AS interval_ewma_micro,
       CAST((znum * xden * 1000000) // (zden * xnum) AS BIGINT)
           AS croston_rate_micro
FROM e WHERE rn = 1
ORDER BY part
"""


@_staged(
    "x236_croston_intermittent",
    "OP-W3/T-ext",
    "Croston's intermittent-demand forecast per part: the demand "
    "series keeps only months WITH demand (the defining move — "
    "calendar EWMA over mostly-zero months biases toward zero), then "
    "two truncated 8-term dyadic EWMAs (x119's exact-BIGINT idiom) "
    "run over demand sizes and inter-demand month gaps; the Croston "
    "rate is their exact rational quotient znum*xden/(zden*xnum) in "
    "integer micro units (every product bounded well under 2^63 — "
    "sizes < 1e6, weights sum 255, gaps <= 84 months). The first "
    "demand month is dropped (no defined interval), so every row in "
    "the EWMA frame has both a size and a gap; the latest state per "
    "part is selected by row_number DESC = 1. Scale: one (part, "
    "month) hash-agg, then all windows partition on part over the "
    "month-level frame — never raw lineitems.",
    _CROSTON_ORACLE,
)
def x236_croston_intermittent(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    m = li.groupBy(
        F.col("l_partkey").alias("part"),
        (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
        .cast("long")
        .alias("mi"),
    ).agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("z"))
    wlag = Window.partitionBy("part").orderBy("mi")
    g = m.select(
        "part", "mi", "z", (F.col("mi") - F.lag("mi").over(wlag)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    e = g.select(
        "part",
        "mi",
        "z",
        "gap",
        F.expr(_cr_num("z", _CR_W_SPARK)).alias("znum"),
        F.expr(_cr_den("z", _CR_W_SPARK)).alias("zden"),
        F.expr(_cr_num("gap", _CR_W_SPARK)).alias("xnum"),
        F.expr(_cr_den("gap", _CR_W_SPARK)).alias("xden"),
        F.row_number()
        .over(Window.partitionBy("part").orderBy(F.col("mi").desc()))
        .alias("rn"),
        F.count("*")
        .over(Window.partitionBy("part"))
        .cast("long")
        .alias("n_demands"),
    )
    # Spark needs the named window spelled inline: rewrite `OVER w`
    # into the explicit partition/order clause.
    return (
        e.filter(F.col("rn") == 1)
        .select(
            "part",
            "n_demands",
            F.expr("CAST((znum * 1000000) DIV zden AS BIGINT)").alias(
                "size_ewma_micro"
            ),
            F.expr("CAST((xnum * 1000000) DIV xden AS BIGINT)").alias(
                "interval_ewma_micro"
            ),
            F.expr(
                "CAST((znum * xden * 1000000) DIV (zden * xnum) AS BIGINT)"
            ).alias("croston_rate_micro"),
        )
        .orderBy("part")
    )


# ---------------------------------------------------------------------------
# x238 — Population Stability Index between calendar halves
# ---------------------------------------------------------------------------

_PSI_SPLIT = "1998-05-01"

_PSI_TERM = (
    "round((CAST(n_a AS DOUBLE) / CAST(na_tot AS DOUBLE)"
    " - CAST(n_b AS DOUBLE) / CAST(nb_tot AS DOUBLE))"
    " * round(ln((CAST(n_a AS DOUBLE) * CAST(nb_tot AS DOUBLE))"
    " / (CAST(n_b AS DOUBLE) * CAST(na_tot AS DOUBLE))), 8), 8)"
)

_PSI_ORACLE = f"""
WITH labeled AS (
    SELECT CASE WHEN o.o_orderdate < TIMESTAMP '{_PSI_SPLIT}'
                THEN 0 ELSE 1 END AS half,
           o.o_orderpriority AS priority, c.c_mktsegment AS segment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
bins AS (
    SELECT 'priority' AS feature, priority AS bin, half FROM labeled
    UNION ALL
    SELECT 'segment' AS feature, segment AS bin, half FROM labeled
),
counts AS (
    SELECT feature, bin,
           CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
    FROM bins GROUP BY 1, 2
),
tot AS (
    SELECT feature, bin, n_a, n_b,
           SUM(n_a) OVER (PARTITION BY feature) AS na_tot,
           SUM(n_b) OVER (PARTITION BY feature) AS nb_tot
    FROM counts
)
SELECT feature, bin, n_a, n_b, {_PSI_TERM} AS psi_term
FROM tot WHERE n_a > 0 AND n_b > 0
ORDER BY feature, bin
"""


@_staged(
    "x238_psi_stability",
    "OP-G6-ext",
    "Population Stability Index between the pre/post "
    f"{_PSI_SPLIT} halves, per feature (order priority, customer "
    "segment) and bin: psi_term = (p - q) * ln(p/q) with counts "
    "exact BIGINT and the log over an exact integer cross-ratio "
    "n_a*nb_tot / (n_b*na_tot) — identical IEEE inputs -> identical "
    "libm output, the x128 round(ln,8) convention, doubly rounded so "
    "the product is over an already-pinned factor. Bins empty on "
    "either side are excluded (standard scorecard practice). The "
    "industry drift metric completing x85 (JSD) and x159 (KS). "
    "Scale: one categorical hash-agg per feature over the fact scan, "
    "feature-partitioned window totals over the <=|bins| frame.",
    _PSI_ORACLE,
)
def x238_psi_stability(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    labeled = o.join(c, o.o_custkey == c.c_custkey).select(
        F.when(
            F.col("o_orderdate") < F.lit(_PSI_SPLIT).cast("timestamp"), 0
        )
        .otherwise(1)
        .alias("half"),
        F.col("o_orderpriority").alias("priority"),
        F.col("c_mktsegment").alias("segment"),
    )
    bins = labeled.select(
        F.lit("priority").alias("feature"),
        F.col("priority").alias("bin"),
        "half",
    ).unionByName(
        labeled.select(
            F.lit("segment").alias("feature"),
            F.col("segment").alias("bin"),
            "half",
        )
    )
    counts = bins.groupBy("feature", "bin").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    wf = Window.partitionBy("feature")
    tot = counts.select(
        "feature",
        "bin",
        "n_a",
        "n_b",
        F.sum("n_a").over(wf).alias("na_tot"),
        F.sum("n_b").over(wf).alias("nb_tot"),
    )
    return (
        tot.filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
        .select("feature", "bin", "n_a", "n_b", F.expr(_PSI_TERM).alias("psi_term"))
        .orderBy("feature", "bin")
    )


# ---------------------------------------------------------------------------
# x241 — exact ROC AUC via the midrank U statistic
# ---------------------------------------------------------------------------

_AUC_ORACLE = """
WITH base AS (
    SELECT c.c_mktsegment AS segment,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
           CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS pos
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
ranked AS (
    SELECT segment, cents, pos,
           CAST(2 * rank() OVER (PARTITION BY segment ORDER BY cents)
                + count(*) OVER (PARTITION BY segment, cents) - 1
                AS BIGINT) AS mr2
    FROM base
),
agg AS (
    SELECT segment,
           CAST(SUM(CASE WHEN pos = 1 THEN mr2 ELSE 0 END) AS BIGINT) AS r1_2,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(1 - pos) AS BIGINT) AS n_neg
    FROM ranked GROUP BY segment
)
SELECT segment, n_pos, n_neg,
       CAST(((r1_2 - n_pos * (n_pos + 1)) * 1000 // (2 * n_pos * n_neg))
            * 1000
            + (((r1_2 - n_pos * (n_pos + 1)) * 1000 % (2 * n_pos * n_neg))
               * 1000) // (2 * n_pos * n_neg)
            AS BIGINT) AS auc_ppm
FROM agg WHERE n_pos > 0 AND n_neg > 0
ORDER BY segment
"""


@_staged(
    "x241_auc_exact",
    "OP-W2-ext",
    "Exact ROC AUC per customer segment for the 'order value predicts "
    "urgency' probe: midranks handle score ties exactly in integers "
    "(2*midrank = 2*rank + tiecount - 1 — rank() is min-rank, so the "
    "doubled midrank stays BIGINT), 2U = sum(2*midrank over "
    "positives) - n1*(n1+1), and AUC lands in exact ppm by one "
    "integer division over 2*n1*n2. The same U statistic as x168's "
    "Mann-Whitney, renormalized as threshold-free classifier quality "
    "(AUC = P(score_pos > score_neg) + P(tie)/2). Scale: one "
    "segment-partitioned rank window + one (segment, cents) tie "
    "count — both share the segment exchange; the result is "
    "<=|segments| rows.",
    _AUC_ORACLE,
)
def x241_auc_exact(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    base = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("pos"),
    )
    wr = Window.partitionBy("segment").orderBy("cents")
    wt = Window.partitionBy("segment", "cents")
    ranked = base.select(
        "segment",
        "pos",
        (
            2 * F.rank().over(wr)
            + F.count("*").over(wt)
            - 1
        )
        .cast("long")
        .alias("mr2"),
    )
    agg = ranked.groupBy("segment").agg(
        F.sum(F.when(F.col("pos") == 1, F.col("mr2")).otherwise(0))
        .cast("long")
        .alias("r1_2"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum(1 - F.col("pos")).cast("long").alias("n_neg"),
    )
    return (
        agg.filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
        .select(
            "segment",
            "n_pos",
            "n_neg",
            F.expr(
                "CAST(((r1_2 - n_pos * (n_pos + 1)) * 1000"
                " DIV (2 * n_pos * n_neg)) * 1000"
                " + (((r1_2 - n_pos * (n_pos + 1)) * 1000"
                " % (2 * n_pos * n_neg)) * 1000)"
                " DIV (2 * n_pos * n_neg) AS BIGINT)"
            ).alias("auc_ppm"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# x243 — corpus token-mass coverage at vocabulary sizes 100/1k/10k
# ---------------------------------------------------------------------------

_VC_SIZES = [100, 1000, 10000]
_VC_MAX = max(_VC_SIZES)

_VC_ORACLE = f"""
WITH tok AS (
    SELECT w FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ) WHERE w <> ''
),
wc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY w),
total AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM wc),
top AS (
    SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rnk
    FROM wc QUALIFY rnk <= {_VC_MAX}
),
sizes AS (SELECT unnest([{", ".join(str(s) for s in _VC_SIZES)}]) AS vocab_size)
SELECT CAST(s.vocab_size AS BIGINT) AS vocab_size,
       CAST(COALESCE(SUM(t.c), 0) AS BIGINT) AS covered_tokens,
       (SELECT n_total FROM total) AS n_total,
       CAST(COALESCE(SUM(t.c), 0) * 1000000 // (SELECT n_total FROM total)
            AS BIGINT) AS coverage_ppm
FROM sizes s LEFT JOIN top t ON t.rnk <= s.vocab_size
GROUP BY s.vocab_size
ORDER BY vocab_size
"""


@_staged(
    "x243_vocab_coverage_curve",
    "OP-X4-ext",
    "Corpus token-mass coverage at vocabulary sizes "
    f"{_VC_SIZES}: what fraction of all token occurrences the top-N "
    "vocabulary captures (count-desc, token-asc total tie-break) — "
    "the tradeoff curve that justifies x234's fixed 1000-token OOV "
    "cut, and the first number a tokenizer-budget decision reads. "
    "Scale: one token-count shuffle; the candidate vocab is a "
    f"bounded TakeOrdered top-{_VC_MAX} (per-partition heaps), and "
    "ranking + the three cumulative sums run over that bounded "
    "frame, never the full vocabulary.",
    _VC_ORACLE,
)
def x243_vocab_coverage_curve(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("w")).filter(
        F.col("w") != ""
    )
    wc = tok.groupBy("w").agg(F.count("*").cast("long").alias("c"))
    total = wc.agg(F.sum("c").cast("long").alias("n_total"))
    top = (
        wc.orderBy(F.col("c").desc(), "w")
        .limit(_VC_MAX)
        .select(
            "c",
            F.row_number()
            .over(Window.orderBy(F.col("c").desc(), "w"))
            .alias("rnk"),
        )
    )
    sizes = spark.createDataFrame(
        [(s,) for s in _VC_SIZES], "vocab_size long"
    )
    cov = (
        sizes.join(top, top.rnk <= sizes.vocab_size, "left")
        .groupBy("vocab_size")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("covered_tokens"))
    )
    return (
        cov.crossJoin(F.broadcast(total))
        .select(
            "vocab_size",
            "covered_tokens",
            "n_total",
            F.expr(
                "CAST(covered_tokens * 1000000 DIV n_total AS BIGINT)"
            ).alias("coverage_ppm"),
        )
        .orderBy("vocab_size")
    )


# ---------------------------------------------------------------------------
# x239 — decile gains/lift table (prior spend predicts repurchase)
# ---------------------------------------------------------------------------

_GT_SPLIT = "1999-01-01"
_GT_K = 10

_GAINS_ORACLE = f"""
WITH score AS (
    SELECT o_custkey AS custkey,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS spend
    FROM orders WHERE o_orderdate < TIMESTAMP '{_GT_SPLIT}'
    GROUP BY 1
),
label AS (
    SELECT DISTINCT o_custkey AS custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '{_GT_SPLIT}'
),
pop AS (
    SELECT s.custkey, s.spend,
           CASE WHEN l.custkey IS NULL THEN 0 ELSE 1 END AS pos,
           row_number() OVER (ORDER BY s.spend DESC, s.custkey) AS rn,
           CAST(count(*) OVER () AS BIGINT) AS n_tot
    FROM score s LEFT JOIN label l ON s.custkey = l.custkey
),
dec AS (
    SELECT CAST((rn - 1) * {_GT_K} // n_tot + 1 AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(pos) AS BIGINT) AS n_pos
    FROM pop GROUP BY 1
),
cum AS (
    SELECT decile, n, n_pos,
           SUM(n) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cum_n,
           SUM(n_pos) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
               AS cum_pos,
           SUM(n) OVER () AS tot_n, SUM(n_pos) OVER () AS tot_pos
    FROM dec
)
SELECT decile, n, n_pos,
       CAST(cum_pos * 1000000 // tot_pos AS BIGINT) AS capture_ppm,
       CAST((cum_pos * tot_n * 1000) // (cum_n * tot_pos) AS BIGINT)
           AS lift_milli
FROM cum ORDER BY decile
"""


@_staged(
    "x239_gains_table",
    "OP-W2-ext",
    "Decile gains/lift table for the prior-spend-predicts-repurchase "
    f"score: customers with pre-{_GT_SPLIT} spend are ranked by "
    "(spend DESC, custkey) — a total order, so the decile boundary "
    "is engine-reproducible — into ntile-equivalent deciles via the "
    "closed form (rn-1)*k DIV n + 1 (identical to SQL NTILE's "
    "remainder-to-leading-groups rule, but computable from any exact "
    "rank source); per decile the cumulative positive capture (ppm) "
    "and lift vs the base rate (milli). The campaign-targeting "
    "artifact next to x123's NDCG and x241's AUC. Scale: scoring is "
    "one customer hash-agg; the global rank runs over the CUSTOMER "
    "aggregate (not orders), and all cumulative math lives on the "
    "10-row decile frame.",
    _GAINS_ORACLE,
)
def x239_gains_table(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    score = (
        o.filter(F.col("o_orderdate") < F.lit(_GT_SPLIT).cast("timestamp"))
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("spend")
        )
    )
    label = (
        o.filter(F.col("o_orderdate") >= F.lit(_GT_SPLIT).cast("timestamp"))
        .select(F.col("o_custkey").alias("lcust"))
        .distinct()
    )
    pop = score.join(
        label, score.custkey == F.col("lcust"), "left"
    ).select(
        "custkey",
        "spend",
        F.when(F.col("lcust").isNull(), 0).otherwise(1).alias("pos"),
    )
    wr = Window.orderBy(F.col("spend").desc(), "custkey")
    wall = Window.partitionBy()
    ranked = pop.select(
        "pos",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wall).cast("long").alias("n_tot"),
    )
    dec = ranked.groupBy(
        F.expr(f"CAST((rn - 1) * {_GT_K} DIV n_tot + 1 AS BIGINT)").alias(
            "decile"
        )
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = dec.select(
        "decile",
        "n",
        "n_pos",
        F.sum("n").over(wcum).alias("cum_n"),
        F.sum("n_pos").over(wcum).alias("cum_pos"),
        F.sum("n").over(wall).alias("tot_n"),
        F.sum("n_pos").over(wall).alias("tot_pos"),
    )
    return cum.select(
        "decile",
        "n",
        "n_pos",
        F.expr("CAST(cum_pos * 1000000 DIV tot_pos AS BIGINT)").alias(
            "capture_ppm"
        ),
        F.expr(
            "CAST((cum_pos * tot_n * 1000) DIV (cum_n * tot_pos) AS BIGINT)"
        ).alias("lift_milli"),
    ).orderBy("decile")


# ---------------------------------------------------------------------------
# x240 — Brier / Murphy decomposition terms per calibration bin
# ---------------------------------------------------------------------------

_BRIER_REL = (
    "round(((CAST(sum_p_ppm AS DOUBLE) - 1000000.0 * CAST(n_pos AS DOUBLE))"
    " * (CAST(sum_p_ppm AS DOUBLE) - 1000000.0 * CAST(n_pos AS DOUBLE)))"
    " / (CAST(n_b AS DOUBLE) * 1000000000000.0), 6)"
)
_BRIER_RES = (
    "round(CAST(n_b AS DOUBLE)"
    " * ((CAST(n_pos AS DOUBLE) / CAST(n_b AS DOUBLE)"
    "     - CAST(pos_tot AS DOUBLE) / CAST(n_tot AS DOUBLE))"
    "    * (CAST(n_pos AS DOUBLE) / CAST(n_b AS DOUBLE)"
    "       - CAST(pos_tot AS DOUBLE) / CAST(n_tot AS DOUBLE))), 6)"
)

_BRIER_ORACLE = f"""
WITH seq AS (
    SELECT o_custkey AS custkey, o_orderdate, o_orderkey,
           CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS rn,
           count(*) OVER (PARTITION BY o_custkey) AS n_orders,
           SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
               OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS urg_prior
    FROM orders
),
pred AS (
    SELECT custkey, y,
           CAST((COALESCE(urg_prior, 0) + 1) * 1000000 // (rn - 1 + 2)
                AS BIGINT) AS p_ppm
    FROM seq WHERE rn = n_orders AND n_orders >= 2
),
binned AS (
    SELECT least(p_ppm // 100000, 9) AS bin, p_ppm, y FROM pred
),
cell AS (
    SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n_b,
           CAST(SUM(p_ppm) AS BIGINT) AS sum_p_ppm,
           CAST(SUM(y) AS BIGINT) AS n_pos
    FROM binned GROUP BY 1
),
tot AS (
    SELECT bin, n_b, sum_p_ppm, n_pos,
           SUM(n_b) OVER () AS n_tot, SUM(n_pos) OVER () AS pos_tot
    FROM cell
)
SELECT bin, n_b, sum_p_ppm, n_pos,
       {_BRIER_REL} AS rel_term,
       {_BRIER_RES} AS res_term
FROM tot ORDER BY bin
"""


@_staged(
    "x240_brier_decomposition",
    "OP-G6-ext",
    "Murphy decomposition terms of the Brier score per calibration "
    "bin, for the Laplace-smoothed prior-urgency predictor of each "
    "customer's LAST order (strictly-prior running window — no label "
    "leakage, the x215 discipline): p = (urgent_prior+1)/(n_prior+2) "
    "in exact ppm, 10 probability bins, and per bin the reliability "
    "term (sum_p - 1e6*n_pos)^2 / (n_b*1e12) and resolution term "
    "n_b*(ybar_b - ybar)^2 — every operand an exact BIGINT rendered "
    "through ONE shared IEEE expression per term (no cross-bin float "
    "sum: the per-bin grain is the certified contract, the 3-line "
    "decomposition total is reader arithmetic). Completes x215's ECE "
    "with the proper-scoring-rule view. Scale: one customer-keyed "
    "window pass over orders, then a 10-row bin frame.",
    _BRIER_ORACLE,
)
def x240_brier_decomposition(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    y = F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
    wseq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wprior = wseq.rowsBetween(Window.unboundedPreceding, -1)
    wcnt = Window.partitionBy("o_custkey")
    seq = o.select(
        F.col("o_custkey").alias("custkey"),
        y.alias("y"),
        F.row_number().over(wseq).alias("rn"),
        F.count("*").over(wcnt).alias("n_orders"),
        F.sum(y).over(wprior).alias("urg_prior"),
    )
    pred = seq.filter(
        (F.col("rn") == F.col("n_orders")) & (F.col("n_orders") >= 2)
    ).select(
        "y",
        F.expr(
            "CAST((COALESCE(urg_prior, 0) + 1) * 1000000 DIV (rn - 1 + 2)"
            " AS BIGINT)"
        ).alias("p_ppm"),
    )
    binned = pred.select(
        F.expr("least(p_ppm DIV 100000, 9)").alias("bin"), "p_ppm", "y"
    )
    cell = binned.groupBy(F.col("bin").cast("long").alias("bin")).agg(
        F.count("*").cast("long").alias("n_b"),
        F.sum("p_ppm").cast("long").alias("sum_p_ppm"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    wall = Window.partitionBy()
    tot = cell.select(
        "bin",
        "n_b",
        "sum_p_ppm",
        "n_pos",
        F.sum("n_b").over(wall).alias("n_tot"),
        F.sum("n_pos").over(wall).alias("pos_tot"),
    )
    return tot.select(
        "bin",
        "n_b",
        "sum_p_ppm",
        "n_pos",
        F.expr(_BRIER_REL).alias("rel_term"),
        F.expr(_BRIER_RES).alias("res_term"),
    ).orderBy("bin")


# ---------------------------------------------------------------------------
# x256 — DAU / WAU / MAU + stickiness over the events stream
# ---------------------------------------------------------------------------

_STICKY_ORACLE = """
WITH ud AS (
    SELECT DISTINCT user_id,
           CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day_id
    FROM events
),
grid AS (SELECT DISTINCT day_id FROM ud),
j AS (
    SELECT g.day_id AS d, u.user_id, u.day_id AS ud_day
    FROM grid g JOIN ud u
      ON u.day_id BETWEEN g.day_id - 27 AND g.day_id
),
agg AS (
    SELECT d,
           CAST(count(DISTINCT CASE WHEN ud_day = d THEN user_id END)
                AS BIGINT) AS dau,
           CAST(count(DISTINCT CASE WHEN ud_day >= d - 6 THEN user_id END)
                AS BIGINT) AS wau,
           CAST(count(DISTINCT user_id) AS BIGINT) AS mau
    FROM j GROUP BY d
)
SELECT d AS day_id, dau, wau, mau,
       CAST(dau * 1000000 // mau AS BIGINT) AS stickiness_ppm
FROM agg ORDER BY day_id
"""


@_staged(
    "x256_active_stickiness",
    "OP-T/G7-ext",
    "DAU / WAU(7) / MAU(28) and the DAU/MAU stickiness ratio per "
    "observed day over the events stream: user-days dedup once "
    "(epoch floor-division day ids — the x180 convention, immune to "
    "session-timezone date casts), then each grid day counts "
    "distinct users in its trailing 1/7/28-day windows via one "
    "range-bucketed join against the bounded day grid. The "
    "engagement headline triple every product dashboard opens with. "
    "Scale: the grid is |calendar days| (metadata-sized, broadcast); "
    "the fan-out is <=28x the user-DAY table (already deduped, far "
    "smaller than raw events), grouped immediately — and at 100 TB "
    "the same shape runs per-shard with the sketch rollup (x63 HLL) "
    "replacing exact distinct.",
    _STICKY_ORACLE,
)
def x256_active_stickiness(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id",
        F.expr("unix_timestamp(ts) div 86400").alias("day_id"),
    ).distinct()
    grid = ud.select("day_id").distinct().withColumnRenamed("day_id", "d")
    j = F.broadcast(grid).join(
        ud,
        (F.col("day_id") >= F.col("d") - 27) & (F.col("day_id") <= F.col("d")),
    )
    agg = j.groupBy("d").agg(
        F.countDistinct(
            F.when(F.col("day_id") == F.col("d"), F.col("user_id"))
        )
        .cast("long")
        .alias("dau"),
        F.countDistinct(
            F.when(F.col("day_id") >= F.col("d") - 6, F.col("user_id"))
        )
        .cast("long")
        .alias("wau"),
        F.countDistinct("user_id").cast("long").alias("mau"),
    )
    return agg.select(
        F.col("d").alias("day_id"),
        "dau",
        "wau",
        "mau",
        F.expr("CAST(dau * 1000000 DIV mau AS BIGINT)").alias(
            "stickiness_ppm"
        ),
    ).orderBy("day_id")


# ---------------------------------------------------------------------------
# x257 — L28 engagement histogram (days active in the last 28)
# ---------------------------------------------------------------------------

_L28_ORACLE = """
WITH ud AS (
    SELECT DISTINCT user_id,
           CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day_id
    FROM events
),
anchor AS (SELECT max(day_id) AS a FROM ud),
l28 AS (
    SELECT user_id, CAST(count(*) AS BIGINT) AS days_active
    FROM ud, anchor
    WHERE day_id BETWEEN a - 27 AND a
    GROUP BY user_id
)
SELECT days_active, CAST(count(*) AS BIGINT) AS n_users
FROM l28 GROUP BY days_active
ORDER BY days_active
"""


@_staged(
    "x257_l28_histogram",
    "OP-G5-ext",
    "The L28 engagement histogram: for the 28-day window ending at "
    "the last observed event day, how many users were active on "
    "exactly k distinct days (k = 1..28) — the power-user curve "
    "behind x256's DAU/MAU time series (Facebook's classic L28 "
    "metric). Window anchor is an in-plan scalar over the deduped "
    "user-day table (bounded broadcast); epoch-day arithmetic per "
    "the x180 convention. Scale: one user-day dedup + two hash-aggs; "
    "the histogram is <=28 rows.",
    _L28_ORACLE,
)
def x257_l28_histogram(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id",
        F.expr("unix_timestamp(ts) div 86400").alias("day_id"),
    ).distinct()
    anchor = ud.agg(F.max("day_id").alias("a"))
    l28 = (
        ud.crossJoin(F.broadcast(anchor))
        .filter(
            (F.col("day_id") >= F.col("a") - 27)
            & (F.col("day_id") <= F.col("a"))
        )
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("days_active"))
    )
    return (
        l28.groupBy("days_active")
        .agg(F.count("*").cast("long").alias("n_users"))
        .orderBy("days_active")
    )


# ---------------------------------------------------------------------------
# x258 — exponential time-decay attribution with dyadic weights
# ---------------------------------------------------------------------------

_TDA_ORACLE = """
WITH p AS (
    SELECT event_id AS pid, user_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS pts
    FROM events WHERE event_type = 'purchase'
),
t AS (
    SELECT user_id, event_type,
           CAST(floor(epoch(ts)) AS BIGINT) AS tts
    FROM events WHERE event_type IN ('view', 'click')
),
pair AS (
    SELECT p.pid, t.event_type,
           CAST(1 << CAST(3 - ((p.pts - t.tts) // 86400) // 7 AS INT)
                AS BIGINT) AS w
    FROM p JOIN t ON p.user_id = t.user_id
    WHERE t.tts < p.pts AND (p.pts - t.tts) // 86400 <= 27
),
shared AS (
    SELECT pid, event_type, w,
           SUM(w) OVER (PARTITION BY pid) AS sw
    FROM pair
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_touches,
       CAST(SUM(w * 1000000 // sw) AS BIGINT) AS credit_ppm_sum
FROM shared GROUP BY event_type
ORDER BY event_type
"""


@_staged(
    "x258_time_decay_attribution",
    "OP-W4-ext",
    "Exponential time-decay attribution completing the trio (x142 "
    "last-touch, x174 U-shaped): each purchase credits the same "
    "user's prior view/click touches within 28 days, weighted "
    "2^(3 - age_weeks) — dyadic weights 8/4/2/1 stay exact BIGINT, "
    "per-purchase shares are w*1e6 DIV sum(w) (integer), and channel "
    "credit is the exact sum of those integer shares. Epoch-second "
    "arithmetic end to end (the x180 convention). Scale: the "
    "purchase x touch pair join is USER-keyed (bucketed, never "
    "cross), the share window partitions on purchase id, and the "
    "result is <=|channels| rows.",
    _TDA_ORACLE,
)
def x258_time_decay_attribution(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    epoch = F.expr("unix_timestamp(ts)")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("puser"),
        epoch.alias("pts"),
    )
    t = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id", "event_type", epoch.alias("tts")
    )
    pair = (
        p.join(t, p.puser == t.user_id)
        .filter(
            (F.col("tts") < F.col("pts"))
            & (F.expr("(pts - tts) div 86400") <= 27)
        )
        .select(
            "pid",
            "event_type",
            F.expr(
                "CAST(shiftleft(1, CAST(3 - ((pts - tts) div 86400) div 7"
                " AS INT)) AS BIGINT)"
            ).alias("w"),
        )
    )
    wp = Window.partitionBy("pid")
    shared = pair.select(
        "pid", "event_type", "w", F.sum("w").over(wp).alias("sw")
    )
    return (
        shared.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_touches"),
            F.sum(F.expr("w * 1000000 DIV sw")).cast("long").alias(
                "credit_ppm_sum"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# x242 — Burrows' Delta stylometric distance between sources
# ---------------------------------------------------------------------------

_BD_TOPW = 30

_BD_ORACLE = f"""
WITH tok AS (
    SELECT source, w FROM (
        SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ) WHERE w <> ''
),
topw AS (
    SELECT w FROM (SELECT w, count(*) AS c FROM tok GROUP BY w)
    QUALIFY row_number() OVER (ORDER BY c DESC, w) <= {_BD_TOPW}
),
srctot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_tok FROM tok GROUP BY source),
cnt AS (
    SELECT t.source, t.w, CAST(count(*) AS BIGINT) AS c
    FROM tok t JOIN topw v ON t.w = v.w GROUP BY 1, 2
),
dense AS (
    SELECT s.source, v.w,
           CAST(COALESCE(c.c, 0) * 1000000 // s.n_tok AS BIGINT) AS f
    FROM srctot s CROSS JOIN topw v
    LEFT JOIN cnt c ON c.source = s.source AND c.w = v.w
),
stats AS (
    SELECT w, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(f) AS BIGINT) AS sf,
           CAST(SUM(f * f) AS BIGINT) AS sf2
    FROM dense GROUP BY w
),
sd AS (
    SELECT w, n,
           CAST(floor(sqrt(CAST(n * sf2 - sf * sf AS DOUBLE))) AS BIGINT)
               AS isv
    FROM stats WHERE n * sf2 - sf * sf > 0
),
terms AS (
    SELECT a.source AS src_a, b.source AS src_b,
           CAST((s.n * abs(a.f - b.f) * 1000000) // s.isv AS BIGINT) AS term
    FROM dense a
    JOIN dense b ON a.w = b.w AND a.source < b.source
    JOIN sd s ON s.w = a.w
)
SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_words,
       CAST(SUM(term) // count(*) AS BIGINT) AS delta_micro
FROM terms GROUP BY src_a, src_b
ORDER BY src_a, src_b
"""


@_staged(
    "x242_burrows_delta",
    "OP-X4-ext",
    "Burrows' Delta stylometric distance between every source pair "
    f"over the corpus top-{_BD_TOPW} function words: per-source "
    "relative frequencies in exact ppm on a DENSE source x word grid "
    "(absent words are exact zeros), z-differences reduced to the "
    "exact identity n*|f_a - f_b| / sqrt(n*Sf2 - Sf^2) — the "
    "cross-source mean/sd CANCEL, so the only irrational is one "
    "integer-floored sqrt per word (identical double in, identical "
    "floor out), every pair term stays BIGINT and the per-pair sum "
    "is exact. The authorship/contamination signal that flags a "
    "source whose function-word profile was machine-copied from "
    "another. Scale: one token-count shuffle, a bounded top-30 "
    "vocabulary broadcast, and all pair math on the |sources|^2 x 30 "
    "frame.",
    _BD_ORACLE,
)
def x242_burrows_delta(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    topw = (
        tok.groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(_BD_TOPW)
        .select("w")
    )
    srctot = tok.groupBy("source").agg(
        F.count("*").cast("long").alias("n_tok")
    )
    cnt = (
        tok.join(F.broadcast(topw), "w")
        .groupBy("source", "w")
        .agg(F.count("*").cast("long").alias("c"))
    )
    dense = (
        srctot.crossJoin(F.broadcast(topw))
        .join(cnt, ["source", "w"], "left")
        .select(
            "source",
            "w",
            F.expr(
                "CAST(COALESCE(c, 0) * 1000000 DIV n_tok AS BIGINT)"
            ).alias("f"),
        )
    )
    stats = dense.groupBy("w").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("f").cast("long").alias("sf"),
        F.sum(F.col("f") * F.col("f")).cast("long").alias("sf2"),
    )
    sd = stats.filter(
        F.col("n") * F.col("sf2") - F.col("sf") * F.col("sf") > 0
    ).select(
        "w",
        "n",
        F.expr(
            "CAST(floor(sqrt(CAST(n * sf2 - sf * sf AS DOUBLE))) AS BIGINT)"
        ).alias("isv"),
    )
    a = dense.select(
        F.col("source").alias("src_a"), "w", F.col("f").alias("fa")
    )
    b = dense.select(
        F.col("source").alias("src_b"), "w", F.col("f").alias("fb")
    )
    terms = (
        a.join(b, "w")
        .filter(F.col("src_a") < F.col("src_b"))
        .join(F.broadcast(sd), "w")
        .select(
            "src_a",
            "src_b",
            F.expr(
                "CAST((n * abs(fa - fb) * 1000000) DIV isv AS BIGINT)"
            ).alias("term"),
        )
    )
    return (
        terms.groupBy("src_a", "src_b")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.expr("CAST(SUM(term) DIV count(*) AS BIGINT)").alias(
                "delta_micro"
            ),
        )
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# x244 — phrase-dictionary compression gain (top repeated 4-grams)
# ---------------------------------------------------------------------------

_PD_N = 4
_PD_TOPK = 20

_PD_ORACLE = f"""
WITH d AS (
    SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w
    FROM documents
),
grams AS (
    SELECT array_to_string(w[i:i+{_PD_N - 1}], ' ') AS phrase
    FROM (
        SELECT w, unnest(range(1, len(w) - {_PD_N - 2})) AS i
        FROM d WHERE len(w) >= {_PD_N}
    )
),
cnt AS (
    SELECT phrase, CAST(count(*) AS BIGINT) AS n_occ,
           CAST(length(phrase) AS BIGINT) AS bytes
    FROM grams GROUP BY phrase HAVING count(*) >= 2
)
SELECT phrase, n_occ, bytes,
       CAST((n_occ - 1) * bytes AS BIGINT) AS savings
FROM cnt
ORDER BY savings DESC, phrase
LIMIT {_PD_TOPK}
"""


@_staged(
    "x244_phrase_dictionary_gain",
    "OP-X4-ext",
    f"Phrase-dictionary compression planning: every {_PD_N}-gram "
    "token phrase occurring >= 2 times corpus-wide, ranked by the "
    "dictionary savings estimate (n_occ - 1) * bytes — the greedy "
    "first cut of an LZ78-style shared-dictionary build, and a "
    "boilerplate detector at the PHRASE grain between x16's bigram "
    "counts and x216's line-level boilerplate. Total (savings DESC, "
    f"phrase ASC) order makes the top-{_PD_TOPK} engine-"
    "reproducible. Scale: the gram explode is map-side (~|tokens| "
    "rows), one hash-agg with map-side partials, and the ranking is "
    "TakeOrdered per-partition heaps — no global sort.",
    _PD_ORACLE,
)
def x244_phrase_dictionary_gain(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    w = F.filter(F.split("text", " "), lambda x: x != "")
    d = docs.select(w.alias("w")).filter(F.size("w") >= _PD_N)
    grams = d.select(
        F.explode(
            F.expr(
                f"transform(sequence(1, size(w) - {_PD_N - 1}),"
                f" i -> array_join(slice(w, i, {_PD_N}), ' '))"
            )
        ).alias("phrase")
    )
    cnt = (
        grams.groupBy("phrase")
        .agg(F.count("*").cast("long").alias("n_occ"))
        .filter(F.col("n_occ") >= 2)
        .select(
            "phrase",
            "n_occ",
            F.length("phrase").cast("long").alias("bytes"),
        )
    )
    return (
        cnt.select(
            "phrase",
            "n_occ",
            "bytes",
            ((F.col("n_occ") - 1) * F.col("bytes")).cast("long").alias(
                "savings"
            ),
        )
        .orderBy(F.col("savings").desc(), "phrase")
        .limit(_PD_TOPK)
    )


# ---------------------------------------------------------------------------
# x245 — TwoNN intrinsic-dimension estimate of the embedding space
# ---------------------------------------------------------------------------

_ID_G = 8  # replication factor of the all-pairs equi-join (the x230 idiom)

_ID_FX_SQL = (
    "list_transform(embedding, x -> CAST(CAST(CAST(x AS DOUBLE) "
    "AS DECIMAL(9,6)) * 1000000 AS BIGINT))"
)

_TWONN_ORACLE = f"""
WITH fx AS (
    SELECT vec_id, {_ID_FX_SQL} AS f FROM embeddings
    WHERE len(embedding) = (SELECT max(len(embedding)) FROM embeddings)
),
d2 AS (
    SELECT a.vec_id AS qa, b.vec_id AS nb,
           CAST(list_sum(list_transform(list_zip(a.f, b.f),
                p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dsq
    FROM fx a JOIN fx b ON a.vec_id <> b.vec_id
),
nn AS (
    SELECT qa, dsq,
           row_number() OVER (PARTITION BY qa ORDER BY dsq, nb) AS rn
    FROM d2
),
mu AS (
    SELECT a.qa,
           CAST(floor(500000000.0
                * ln(CAST(b.dsq AS DOUBLE) / CAST(a.dsq AS DOUBLE)))
                AS BIGINT) AS lnmu_nano
    FROM (SELECT qa, dsq FROM nn WHERE rn = 1) a
    JOIN (SELECT qa, dsq FROM nn WHERE rn = 2) b USING (qa)
    WHERE a.dsq > 0
)
SELECT CAST(count(*) AS BIGINT) AS n_points,
       CAST(SUM(lnmu_nano) AS BIGINT) AS sum_lnmu_nano,
       CAST(count(*) * 1000000000000 // SUM(lnmu_nano) AS BIGINT)
           AS intrinsic_dim_milli
FROM mu
"""


@_staged(
    "x245_twonn_intrinsic_dim",
    "OP-X3-ext",
    "TwoNN intrinsic-dimension estimate (Facco et al. 2017) of the "
    "embedding space: per point the ratio mu = d2/d1 of its two "
    "nearest-neighbor distances, ID = N / sum(ln mu) — the estimator "
    "that says whether 64 ambient dimensions hide a ~10-dimensional "
    "manifold (IVF/SRP geometry should be tuned to the INTRINSIC "
    "dim). Exactness: squared distances are exact BIGINTs over the "
    "x107 fixed-point longs, ln runs on one exact integer ratio, and "
    "each point's ln(mu) is floored to integer NANOS before the sum "
    "— so the corpus aggregate is an exact BIGINT sum, immune to "
    "float accumulation order. Points with d1 = 0 (exact duplicates) "
    "are excluded per the estimator's definition. Scale: the pair "
    "join is the x230 replicated EQUI-join with PARTIAL top-2 "
    "window-group-limit heaps before the shuffle; at 100 TB the same "
    "plan runs on an SRP-bucketed candidate set.",
    _TWONN_ORACLE,
)
def x245_twonn_intrinsic_dim(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    dims = embedding_probe(spark, sf_dir)[0]
    if dims is None:
        # degenerate empty table: mirror the oracle's UNGROUPED
        # aggregate over an empty mu — ONE (0, NULL, NULL) row, not
        # zero rows (ADVICE r9: filter(lit(False)) would rows-mismatch
        # the oracle on an empty dataset)
        return e.limit(0).agg(
            F.count("*").cast("long").alias("n_points"),
            F.max(F.lit(None).cast("long")).alias("sum_lnmu_nano"),
            F.max(F.lit(None).cast("long")).alias("intrinsic_dim_milli"),
        )
    vec = F.col("embedding").cast("array<double>")
    felems = [
        (F.element_at(vec, i + 1).cast("decimal(9,6)") * F.lit(1_000_000))
        .cast("long")
        for i in range(dims)
    ]
    fx = (
        e.filter(F.size("embedding") == dims)
        .select("vec_id", F.array(*felems).alias("f"))
        .localCheckpoint(eager=True)
    )
    qa = fx.withColumn(
        "g", F.explode(F.sequence(F.lit(0), F.lit(_ID_G - 1)))
    ).select("g", F.col("vec_id").alias("qa"), F.col("f").alias("fa"))
    nb = fx.select(
        F.pmod(F.col("vec_id"), F.lit(_ID_G)).cast("int").alias("g"),
        F.col("vec_id").alias("nb"),
        F.col("f").alias("fb"),
    )
    dsq = (
        "aggregate(zip_with(fa, fb, (x, y) -> (x - y) * (x - y)),"
        " 0L, (a, v) -> a + v)"
    )
    d2 = (
        qa.join(nb, "g")
        .filter(F.col("qa") != F.col("nb"))
        .select("qa", "nb", F.expr(dsq).cast("long").alias("dsq"))
    )
    wk = Window.partitionBy("qa").orderBy("dsq", "nb")
    nn = d2.withColumn("rn", F.row_number().over(wk)).filter(
        F.col("rn") <= 2
    )
    # pivot d1/d2 with ONE conditional agg — the previous rank
    # self-join (rn=1 ⋈ rn=2) recomputed the entire all-pairs distance
    # pipeline per branch (2x the dominant cost; round-9 plan audit)
    both = nn.groupBy("qa").agg(
        F.min(F.when(F.col("rn") == 1, F.col("dsq"))).alias("d1sq"),
        F.min(F.when(F.col("rn") == 2, F.col("dsq"))).alias("d2sq"),
    )
    mu = (
        both.filter((F.col("d1sq") > 0) & F.col("d2sq").isNotNull())
        .select(
            F.expr(
                "CAST(floor(500000000.0"
                " * ln(CAST(d2sq AS DOUBLE) / CAST(d1sq AS DOUBLE)))"
                " AS BIGINT)"
            ).alias("lnmu_nano")
        )
    )
    return mu.agg(
        F.count("*").cast("long").alias("n_points"),
        F.sum("lnmu_nano").cast("long").alias("sum_lnmu_nano"),
        F.expr(
            "CAST(count(*) * 1000000000000 DIV SUM(lnmu_nano) AS BIGINT)"
        ).alias("intrinsic_dim_milli"),
    )


# ---------------------------------------------------------------------------
# x246 — 2-round mode-label propagation communities (co-order graph)
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 2


def _lpa_round_ctes() -> str:
    parts = []
    prev = "l0"
    for r in range(1, _LPA_ROUNDS + 1):
        parts.append(
            f"c{r} AS MATERIALIZED (\n"
            f"    SELECT e.u AS n, p.lab AS lab, count(*) AS cnt\n"
            f"    FROM und e JOIN {prev} p ON e.v = p.n GROUP BY 1, 2)"
        )
        parts.append(
            f"l{r} AS MATERIALIZED (\n"
            f"    SELECT n, lab FROM c{r}\n"
            f"    QUALIFY row_number() OVER (PARTITION BY n\n"
            f"        ORDER BY cnt DESC, lab) = 1)"
        )
        prev = f"l{r}"
    return ",\n".join(parts)


_LPA_ORACLE = f"""
WITH pk AS MATERIALIZED (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
e AS MATERIALIZED (
    SELECT a.p AS u, b.p AS v
    FROM pk a JOIN pk b ON a.o = b.o AND a.p < b.p
    GROUP BY a.p, b.p HAVING count(*) >= 2
),
und AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
l0 AS MATERIALIZED (SELECT DISTINCT u AS n, u AS lab FROM und),
{_lpa_round_ctes()}
SELECT lab AS community, CAST(count(*) AS BIGINT) AS n_members
FROM l{_LPA_ROUNDS} GROUP BY lab
ORDER BY community
"""


@_staged(
    "x246_label_propagation",
    "OP-X2-ext",
    f"{_LPA_ROUNDS}-round synchronous mode-label propagation over the "
    "weight>=2 co-order part graph: labels start as node ids, each "
    "round every node adopts its neighbors' MOST FREQUENT label "
    "(ties -> smallest label, so every round is a deterministic "
    "function of the previous state — the fixed-round contract of "
    "x127/x101, certified against literally-unrolled MATERIALIZED "
    "CTE rounds). Unlike x58's min-label connected components, mode "
    "propagation finds DENSE communities inside one component — the "
    "product-affinity clusters a recommender seeds from. Scale: each "
    "round is one edge-keyed join + one (node, label) count + one "
    "per-node argmax (min-struct, no sort); per-node state is one "
    "label.",
    _LPA_ORACLE,
)
def x246_label_propagation(spark, sf_dir):
    from ravelytics_spark.operators.graph import coorder_edges, maybe_broadcast

    li = load_table(spark, sf_dir, "lineitem")
    e = coorder_edges(li, min_weight=2)
    und = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)
    # |labels| <= |nodes| <= |und| rows, and counting the just-
    # checkpointed edge blocks is one cheap no-recompute job — an exact
    # runtime upper bound for the join-strategy pick (guide §3.1).
    # Below the budget each round's edge pass probes a broadcast label
    # map and the 2|E| frame is never exchanged for the join; above it
    # (the 100 TB regime) the planner's sort-merge path stands.
    lab_cap_bytes = 16 * und.count()
    lab = und.select(F.col("u").alias("n"), F.col("u").alias("lab")).distinct()
    for _ in range(_LPA_ROUNDS):
        lab = maybe_broadcast(lab, lab_cap_bytes)
        # r12: no per-round label checkpoint — lab_r references lab_{r-1}
        # exactly once, so lineage grows LINEARLY over the fixed round
        # count (the exponential-blowup x101 lesson applies to frames
        # referenced twice per round, which is only `und`, and that one
        # IS cut). Both rounds plan as one adaptive query: no per-round
        # materialization barrier or job-launch gap. The explicit
        # repartition on u makes BOTH aggregations of the round
        # partition-local behind one exchange ((node, lab) and (node)
        # grouping are each satisfied by hashpartitioning(u)) instead of
        # exchanging twice. Measured 2.89 s -> 2.15 s at sf0.1.
        cnt = (
            und.join(lab, und.v == lab.n)
            .repartition(F.col("u"))
            .groupBy(und.u.alias("node"), "lab")
            .agg(F.count("*").alias("cnt"))
        )
        lab = (
            cnt.groupBy("node")
            .agg(F.min(F.struct(-F.col("cnt"), F.col("lab"))).alias("best"))
            .select(
                F.col("node").alias("n"), F.col("best.lab").alias("lab")
            )
        )
    return (
        lab.groupBy(F.col("lab").alias("community"))
        .agg(F.count("*").cast("long").alias("n_members"))
        .orderBy("community")
    )


# ---------------------------------------------------------------------------
# x247 — common-neighbor / Jaccard link prediction on the co-order graph
# ---------------------------------------------------------------------------

_LP_TOPK = 50

_LINKPRED_ORACLE = f"""
WITH pk AS MATERIALIZED (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
e AS MATERIALIZED (
    SELECT a.p AS u, b.p AS v
    FROM pk a JOIN pk b ON a.o = b.o AND a.p < b.p
    GROUP BY a.p, b.p HAVING count(*) >= 2
),
und AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
deg AS MATERIALIZED (
    SELECT u AS n, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY u
),
cand AS (
    SELECT a.u AS u, b.u AS v, CAST(count(*) AS BIGINT) AS common
    FROM und a JOIN und b ON a.v = b.v AND a.u < b.u
    GROUP BY a.u, b.u
),
nonedge AS (
    SELECT c.u, c.v, c.common FROM cand c
    LEFT JOIN e ON e.u = c.u AND e.v = c.v
    WHERE e.u IS NULL
),
scored AS (
    SELECT n.u, n.v, n.common,
           CAST(n.common * 1000000 // (du.d + dv.d - n.common) AS BIGINT)
               AS jaccard_ppm
    FROM nonedge n
    JOIN deg du ON du.n = n.u
    JOIN deg dv ON dv.n = n.v
)
SELECT u, v, common, jaccard_ppm
FROM scored
ORDER BY common DESC, u, v
LIMIT {_LP_TOPK}
"""


@_staged(
    "x247_link_prediction",
    "OP-X2-ext",
    "Common-neighbor / Jaccard link prediction on the weight>=2 "
    "co-order part graph: candidate pairs are generated ONLY through "
    "shared neighbors (one neighbor-keyed self-join of the adjacency "
    "list — two parts with no common neighbor are never paired), "
    "existing edges are removed by anti join, and the Jaccard score "
    "common/(deg_u + deg_v - common) lands in exact ppm. Top-"
    f"{_LP_TOPK} by the total (common DESC, u, v) order. The 'next "
    "products bought together' recommender primitive next to x154's "
    "item-CF and x113's basket lift. Scale: the neighbor join is "
    "keyed on the shared node (hub-bounded, the same shape as x103's "
    "triangle count); degrees broadcast from a node-sized aggregate.",
    _LINKPRED_ORACLE,
)
def x247_link_prediction(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    pk = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a, b = pk.alias("a"), pk.alias("b")
    e = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .agg(F.count("*").alias("wt"))
        .filter(F.col("wt") >= 2)
        .select("u", "v")
        .localCheckpoint(eager=True)
    )
    und = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = und.groupBy(F.col("u").alias("n")).agg(
        F.count("*").cast("long").alias("d")
    )
    x, y = und.alias("x"), und.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.v") == F.col("y.v")) & (F.col("x.u") < F.col("y.u")),
        )
        .groupBy(F.col("x.u").alias("cu"), F.col("y.u").alias("cv"))
        .agg(F.count("*").cast("long").alias("common"))
    )
    nonedge = cand.join(
        e,
        (cand.cu == e.u) & (cand.cv == e.v),
        "left_anti",
    )
    du = deg.select(F.col("n").alias("cu"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("cv"), F.col("d").alias("dv"))
    scored = (
        nonedge.join(F.broadcast(du), "cu")
        .join(F.broadcast(dv), "cv")
        .select(
            F.col("cu").alias("u"),
            F.col("cv").alias("v"),
            "common",
            F.expr(
                "CAST(common * 1000000 DIV (du + dv - common) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )
    return scored.orderBy(F.col("common").desc(), "u", "v").limit(_LP_TOPK)


# ---------------------------------------------------------------------------
# x248 — orderkey keyspace-density audit (CDC/backfill completeness)
# ---------------------------------------------------------------------------

_KD_BUCKET = 4096

_KEYDENSITY_ORACLE = f"""
WITH b AS (
    SELECT o_orderkey // {_KD_BUCKET} AS bucket,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM orders GROUP BY 1
)
SELECT CAST(bucket AS BIGINT) AS bucket, n_keys, min_key, max_key,
       CAST(max_key - min_key + 1 AS BIGINT) AS span,
       CAST(n_keys * 1000000 // (max_key - min_key + 1) AS BIGINT)
           AS density_ppm
FROM b ORDER BY bucket
"""


@_staged(
    "x248_keyspace_density",
    "OP-G5-ext",
    f"Surrogate-keyspace density audit over {_KD_BUCKET}-wide "
    "orderkey buckets: keys present, observed span and density in "
    "ppm per bucket — the completeness check a CDC/backfill pipeline "
    "runs to spot swallowed key ranges (a bucket whose density "
    "suddenly halves lost a partition; TPC-H's deliberately sparse "
    "orderkeys give a stable expected density to diff against). "
    "Scale: one hash-agg keyed on the bucket id with map-side "
    "partials; no window, no join, result is |keyspace|/bucket rows.",
    _KEYDENSITY_ORACLE,
)
def x248_keyspace_density(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    b = o.groupBy(
        F.expr(f"o_orderkey DIV {_KD_BUCKET}").cast("long").alias("bucket")
    ).agg(
        F.count("*").cast("long").alias("n_keys"),
        F.min("o_orderkey").cast("long").alias("min_key"),
        F.max("o_orderkey").cast("long").alias("max_key"),
    )
    return b.select(
        "bucket",
        "n_keys",
        "min_key",
        "max_key",
        (F.col("max_key") - F.col("min_key") + 1).cast("long").alias("span"),
        F.expr(
            "CAST(n_keys * 1000000 DIV (max_key - min_key + 1) AS BIGINT)"
        ).alias("density_ppm"),
    ).orderBy("bucket")


# ---------------------------------------------------------------------------
# x249 — round-number pricing bias per segment
# ---------------------------------------------------------------------------

_ROUND_ORACLE = """
WITH base AS (
    SELECT c.c_mktsegment AS segment,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
agg AS (
    SELECT segment, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN cents % 100 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_whole_dollar,
           CAST(SUM(CASE WHEN cents % 1000 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ten_dollar
    FROM base GROUP BY segment
)
SELECT segment, n, n_whole_dollar, n_ten_dollar,
       CAST(n_whole_dollar * 1000000 // n AS BIGINT) AS whole_dollar_ppm,
       CAST(n_ten_dollar * 1000000 // n AS BIGINT) AS ten_dollar_ppm
FROM agg ORDER BY segment
"""


@_staged(
    "x249_round_number_bias",
    "OP-G5-ext",
    "Round-number pricing bias per customer segment: the share of "
    "order totals landing on whole-dollar and ten-dollar boundaries, "
    "in exact ppm. Organic prices hit cents % 100 = 0 at ~1% base "
    "rate; a segment whose rate spikes is showing hand-keyed or "
    "synthetic amounts — the lightweight fraud/data-entry screen "
    "beside x90's Benford digit audit (leading-digit law vs "
    "trailing-digit bias: different forgeries trip different "
    "alarms). Scale: one segment-keyed hash-agg over the fact scan, "
    "everything else is arithmetic on the <=|segments| frame.",
    _ROUND_ORACLE,
)
def x249_round_number_bias(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    base = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    agg = base.groupBy("segment").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("cents") % 100 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_whole_dollar"),
        F.sum(F.when(F.col("cents") % 1000 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_ten_dollar"),
    )
    return agg.select(
        "segment",
        "n",
        "n_whole_dollar",
        "n_ten_dollar",
        F.expr("CAST(n_whole_dollar * 1000000 DIV n AS BIGINT)").alias(
            "whole_dollar_ppm"
        ),
        F.expr("CAST(n_ten_dollar * 1000000 DIV n AS BIGINT)").alias(
            "ten_dollar_ppm"
        ),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# x250 — quota sampling with shortfall accounting
# ---------------------------------------------------------------------------

_QS_QUOTA = 3
_QS_BAND_DIV = 1024
_QS_BAND_CAP = 3

_QUOTA_ORACLE = f"""
WITH banded AS (
    SELECT doc_id, lang,
           least(n_chars // {_QS_BAND_DIV}, {_QS_BAND_CAP}) AS band,
           md5(CAST(doc_id AS VARCHAR)) AS h
    FROM documents
),
ranked AS (
    SELECT lang, band, doc_id,
           row_number() OVER (PARTITION BY lang, band ORDER BY h, doc_id)
               AS rn,
           CAST(count(*) OVER (PARTITION BY lang, band) AS BIGINT)
               AS available
    FROM banded
)
SELECT lang, CAST(band AS BIGINT) AS band,
       CAST({_QS_QUOTA} AS BIGINT) AS quota,
       any_value(available) AS available,
       CAST(SUM(CASE WHEN rn <= {_QS_QUOTA} THEN 1 ELSE 0 END) AS BIGINT)
           AS sampled,
       CAST(greatest({_QS_QUOTA} - any_value(available), 0) AS BIGINT)
           AS shortfall
FROM ranked
GROUP BY lang, band
ORDER BY lang, band
"""


@_staged(
    "x250_quota_sample_shortfall",
    "OP-X9-ext",
    f"Quota sampling with shortfall accounting: {_QS_QUOTA} documents "
    "per (lang, length-band) cell, picked by md5(doc_id) rank — a "
    "pure function of content ids, so the SAMPLE ITSELF is engine- "
    "and partitioning-reproducible (the x109/x197 determinism "
    "discipline) — plus the per-cell availability and shortfall the "
    "curation report needs when a cell cannot fill its quota (the "
    "failure mode plain stratified sampling x9 silently hides). "
    "Scale: one (lang, band)-keyed rank window; cells are metadata-"
    "sized.",
    _QUOTA_ORACLE,
)
def x250_quota_sample_shortfall(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    banded = docs.select(
        "doc_id",
        "lang",
        F.expr(
            f"least(n_chars DIV {_QS_BAND_DIV}, {_QS_BAND_CAP})"
        ).alias("band"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    wcell = Window.partitionBy("lang", "band")
    ranked = banded.select(
        "lang",
        "band",
        F.row_number().over(wcell.orderBy("h", "doc_id")).alias("rn"),
        F.count("*").over(wcell).cast("long").alias("available"),
    )
    return (
        ranked.groupBy("lang", F.col("band").cast("long").alias("band"))
        .agg(
            F.lit(_QS_QUOTA).cast("long").alias("quota"),
            F.first("available").alias("available"),
            F.sum(F.when(F.col("rn") <= _QS_QUOTA, 1).otherwise(0))
            .cast("long")
            .alias("sampled"),
            F.greatest(
                F.lit(_QS_QUOTA) - F.first("available"), F.lit(0)
            )
            .cast("long")
            .alias("shortfall"),
        )
        .orderBy("lang", "band")
    )


# ---------------------------------------------------------------------------
# x252 — McNemar's test on the two quality judges, per language
# ---------------------------------------------------------------------------

_MCNEMAR_ORACLE = """
WITH judged AS (
    SELECT lang,
           CASE WHEN n_chars BETWEEN 200 AND 5000 THEN 1 ELSE 0 END AS a,
           CASE WHEN length(text) - length(replace(text, ' ', '')) + 1
                     BETWEEN 40 AND 1000 THEN 1 ELSE 0 END AS b
    FROM documents
),
counts AS (
    SELECT lang, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
           CAST(SUM((1 - a) * b) AS BIGINT) AS n01
    FROM judged GROUP BY lang
)
SELECT lang, n, n10, n01,
       CAST((n10 - n01) * (n10 - n01) * 1000 // (n10 + n01) AS BIGINT)
           AS chi2_milli
FROM counts WHERE n10 + n01 > 0
ORDER BY lang
"""


@_staged(
    "x252_mcnemar_judges",
    "OP-G6-ext",
    "McNemar's test per language on x205's two deterministic quality "
    "judges (length-band vs word-count-band): the discordant counts "
    "n10/n01 and chi-square (n10-n01)^2/(n10+n01) in exact milli "
    "units — kappa (x205) says whether judges AGREE, McNemar says "
    "whether their DISAGREEMENT is biased toward one judge, which is "
    "what you fix first when calibrating a new quality filter "
    "against an incumbent. All integer; languages with no "
    "discordance are excluded (the statistic is undefined). Scale: "
    "one lang-keyed hash-agg over the document scan.",
    _MCNEMAR_ORACLE,
)
def x252_mcnemar_judges(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    a = F.when(F.col("n_chars").between(200, 5000), 1).otherwise(0)
    wc = (
        F.length("text")
        - F.length(F.regexp_replace("text", " ", ""))
        + 1
    )
    b = F.when(wc.between(40, 1000), 1).otherwise(0)
    judged = docs.select("lang", a.alias("a"), b.alias("b"))
    counts = judged.groupBy("lang").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("long").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("long").alias("n01"),
    )
    return (
        counts.filter(F.col("n10") + F.col("n01") > 0)
        .select(
            "lang",
            "n",
            "n10",
            "n01",
            F.expr(
                "CAST((n10 - n01) * (n10 - n01) * 1000 DIV (n10 + n01)"
                " AS BIGINT)"
            ).alias("chi2_milli"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# x253 — exact higher-moment profile (skewness / kurtosis) per brand
# ---------------------------------------------------------------------------

_SKEW_EXPR = (
    "round(((CAST(s3 AS DOUBLE) - 3.0 * CAST(s1 AS DOUBLE) * CAST(s2 AS"
    " DOUBLE) / CAST(n AS DOUBLE) + 2.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS"
    " DOUBLE) * CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS"
    " DOUBLE))) / CAST(n AS DOUBLE))"
    " / pow((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
    " / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE), 1.5), 6)"
)
_KURT_EXPR = (
    "round(((CAST(s4 AS DOUBLE) - 4.0 * CAST(s1 AS DOUBLE) * CAST(s3 AS"
    " DOUBLE) / CAST(n AS DOUBLE) + 6.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS"
    " DOUBLE) * CAST(s2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS"
    " DOUBLE)) - 3.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1"
    " AS DOUBLE) * CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS"
    " DOUBLE) * CAST(n AS DOUBLE))) / CAST(n AS DOUBLE))"
    " / pow((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
    " / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE), 2.0) - 3.0, 6)"
)

_MOMENTS_ORACLE = f"""
WITH k AS (
    SELECT p.p_brand AS brand,
           CAST(round(l.l_extendedprice * 100) AS BIGINT) // 100000 AS x
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
s AS (
    SELECT brand, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS s1,
           CAST(SUM(x * x) AS BIGINT) AS s2,
           CAST(SUM(x * x * x) AS BIGINT) AS s3,
           CAST(SUM(x * x * x * x) AS BIGINT) AS s4
    FROM k GROUP BY brand
)
SELECT brand, n, s1, s2, s3, s4,
       {_SKEW_EXPR} AS skewness,
       {_KURT_EXPR} AS excess_kurtosis
FROM s WHERE n >= 2 AND n * s2 > s1 * s1
ORDER BY brand
"""


@_staged(
    "x253_moment_profile",
    "OP-G6-ext",
    "Exact higher-moment profile per brand: raw power sums S1..S4 of "
    "line price in KILODOLLAR units (x = cents DIV 100000 keeps "
    "x^4 * rows far under 2^63 — the documented granularity/overflow "
    "trade), skewness and excess kurtosis from the raw-moment "
    "expansions rendered through ONE shared IEEE expression over the "
    "exact BIGINTs. Completes g6/x67's mean/stddev/corr tier with "
    "the tail-shape moments a distribution-drift monitor needs "
    "(x159's KS says distributions differ; these say HOW — lean or "
    "tail). Scale: a single brand-keyed hash-agg with map-side "
    "partials; the moment algebra runs on the <=|brands| frame.",
    _MOMENTS_ORACLE,
)
def x253_moment_profile(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    k = li.join(p, li.l_partkey == p.p_partkey).select(
        F.col("p_brand").alias("brand"),
        F.expr(
            "CAST(round(l_extendedprice * 100) AS BIGINT) DIV 100000"
        ).alias("x"),
    )
    s = k.groupBy("brand").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.expr("x * x")).cast("long").alias("s2"),
        F.sum(F.expr("x * x * x")).cast("long").alias("s3"),
        F.sum(F.expr("x * x * x * x")).cast("long").alias("s4"),
    )
    return (
        s.filter(
            (F.col("n") >= 2)
            & (F.col("n") * F.col("s2") > F.col("s1") * F.col("s1"))
        )
        .select(
            "brand",
            "n",
            "s1",
            "s2",
            "s3",
            "s4",
            F.expr(_SKEW_EXPR).alias("skewness"),
            F.expr(_KURT_EXPR).alias("excess_kurtosis"),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# x254 — Hill tail-index estimator of order values, per segment
# ---------------------------------------------------------------------------

_HILL_K = 100

_HILL_ORACLE = f"""
WITH base AS (
    SELECT c.c_mktsegment AS segment,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
           o.o_orderkey AS ok
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
ranked AS (
    SELECT segment, cents,
           row_number() OVER (PARTITION BY segment
                              ORDER BY cents DESC, ok) AS rn
    FROM base
),
thr AS (
    SELECT segment, cents AS thr_cents FROM ranked WHERE rn = {_HILL_K + 1}
),
terms AS (
    SELECT r.segment,
           CAST(floor(1000000000.0 * ln(CAST(r.cents AS DOUBLE)
                / CAST(t.thr_cents AS DOUBLE))) AS BIGINT) AS ln_nano
    FROM ranked r JOIN thr t ON r.segment = t.segment
    WHERE r.rn <= {_HILL_K}
)
SELECT segment, CAST(count(*) AS BIGINT) AS k,
       CAST(SUM(ln_nano) AS BIGINT) AS sum_ln_nano,
       CAST(count(*) * 1000000000000 // SUM(ln_nano) AS BIGINT)
           AS hill_alpha_milli
FROM terms GROUP BY segment
ORDER BY segment
"""


@_staged(
    "x254_hill_tail_index",
    "OP-G6-ext",
    f"Hill tail-index estimator per segment over the top-{_HILL_K} "
    "order values: alpha = k / sum ln(x_i / x_(k+1)) — the standard "
    "heavy-tail exponent (alpha < 2 means infinite variance: every "
    "mean-based KPI on that segment is unstable). Each ln runs on an "
    "exact integer cents ratio and is floored to integer NANOS "
    "before the sum, so the aggregate is an exact BIGINT sum immune "
    "to accumulation order; alpha lands in milli by one integer "
    "division. The transaction-value sibling of x84's text Zipf "
    "slope. Scale: per-segment top-(k+1) via rank window sharing one "
    "segment exchange; the estimator runs on k rows per segment.",
    _HILL_ORACLE,
)
def x254_hill_tail_index(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    base = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_orderkey").alias("ok"),
    )
    wr = Window.partitionBy("segment").orderBy(F.col("cents").desc(), "ok")
    ranked = base.select(
        "segment", "cents", F.row_number().over(wr).alias("rn")
    )
    thr = ranked.filter(F.col("rn") == _HILL_K + 1).select(
        "segment", F.col("cents").alias("thr_cents")
    )
    terms = (
        ranked.filter(F.col("rn") <= _HILL_K)
        .join(F.broadcast(thr), "segment")
        .select(
            "segment",
            F.expr(
                "CAST(floor(1000000000.0 * ln(CAST(cents AS DOUBLE)"
                " / CAST(thr_cents AS DOUBLE))) AS BIGINT)"
            ).alias("ln_nano"),
        )
    )
    return (
        terms.groupBy("segment")
        .agg(
            F.count("*").cast("long").alias("k"),
            F.sum("ln_nano").cast("long").alias("sum_ln_nano"),
            F.expr(
                "CAST(count(*) * 1000000000000 DIV SUM(ln_nano) AS BIGINT)"
            ).alias("hill_alpha_milli"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# x237 — Hurst exponent of daily revenue via rescaled-range analysis
# ---------------------------------------------------------------------------

_RS_SCALES = [8, 16, 32, 64]  # k = log2(s) in {3,4,5,6}

_HURST_EXPR = (
    "CAST(round(1000.0 * CAST(num AS DOUBLE)"
    " / (CAST(den_k AS DOUBLE) * ln(2.0) * 1000000000.0)) AS BIGINT)"
)

_HURST_ORACLE = f"""
WITH daily AS (
    SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS d,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               // 100000 AS x
    FROM orders GROUP BY 1
),
rn AS (
    SELECT d, x, row_number() OVER (ORDER BY d) AS rn FROM daily
),
ex AS (
    SELECT s.s, (rn.rn - 1) // s.s AS blk, (rn.rn - 1) % s.s + 1 AS t, rn.x
    FROM rn CROSS JOIN (SELECT unnest([{", ".join(str(s) for s in _RS_SCALES)}]) AS s) s
),
wb AS (
    SELECT s, blk, t, x,
           CAST(SUM(x) OVER (PARTITION BY s, blk) AS BIGINT) AS sx,
           CAST(SUM(x * x) OVER (PARTITION BY s, blk) AS BIGINT) AS sx2,
           CAST(count(*) OVER (PARTITION BY s, blk) AS BIGINT) AS cnt,
           CAST(SUM(x) OVER (PARTITION BY s, blk ORDER BY t
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
    FROM ex
),
ws AS (
    SELECT s, blk,
           CAST(MAX(s * cum - t * sx) - MIN(s * cum - t * sx) AS BIGINT)
               AS r_scaled,
           CAST(any_value(s * sx2 - sx * sx) AS BIGINT) AS v
    FROM wb WHERE cnt = s
    GROUP BY s, blk
),
rs AS (
    SELECT s, blk,
           CAST(floor(1000000.0 * CAST(r_scaled AS DOUBLE)
                / sqrt(CAST(v AS DOUBLE))) AS BIGINT) AS rs_micro
    FROM ws WHERE v > 0
),
per_scale AS (
    SELECT CAST(s AS BIGINT) AS scale, CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(SUM(rs_micro) // count(*) AS BIGINT) AS mean_rs_micro
    FROM rs GROUP BY s
),
pts AS (
    SELECT scale, n_blocks, mean_rs_micro,
           CAST(CASE scale WHEN 8 THEN 3 WHEN 16 THEN 4
                           WHEN 32 THEN 5 ELSE 6 END AS BIGINT) AS k,
           CAST(floor(1000000000.0 * ln(CAST(mean_rs_micro AS DOUBLE)))
                AS BIGINT) AS y_nano
    FROM per_scale
),
ols AS (
    SELECT scale, n_blocks, mean_rs_micro,
           CAST(count(*) OVER () * SUM(k * y_nano) OVER ()
                - SUM(k) OVER () * SUM(y_nano) OVER () AS BIGINT) AS num,
           CAST(count(*) OVER () * SUM(k * k) OVER ()
                - SUM(k) OVER () * SUM(k) OVER () AS BIGINT) AS den_k
    FROM pts
)
SELECT scale, n_blocks, mean_rs_micro, {_HURST_EXPR} AS hurst_milli
FROM ols ORDER BY scale
"""


@_staged(
    "x237_hurst_rs",
    "OP-W4/T-ext",
    "Hurst exponent of the daily-revenue series by classical "
    f"rescaled-range analysis at dyadic scales {_RS_SCALES}: the "
    "series (exact BIGINT KILOdollars — dollar units overflowed "
    "s*sx2 at the 10x replica sweep, the x202 catch class; "
    "kilodollar units hold to ~5000x) "
    "splits into complete s-day blocks, the cumulative-"
    "deviation range is computed in the SCALED identity R*s = "
    "max(s*cum_t - t*sumx) - min(...) (exact BIGINT — no per-block "
    "float mean), the block sd enters once as sqrt(s*sx2 - sx^2), "
    "and each block's R/S is floored to micro before the per-scale "
    "integer mean. The log-log slope collapses to a regression of "
    "nano-floored ln(mean R/S) on k = log2(scale) — integer "
    "abscissae, so the OLS sums are exact and ln(2) divides once at "
    "the end. H ~ 0.5 random walk, > 0.5 trending, < 0.5 mean-"
    "reverting — the memory audit x171's ACF hints at, reduced to "
    "one number. Scale: the global day rank is a window over the "
    "bounded daily frame (|days| rows); everything after is keyed on "
    "(scale, block).",
    _HURST_ORACLE,
)
def x237_hurst_rs(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr("unix_timestamp(o_orderdate) div 86400").alias("d")
    ).agg(
        F.expr(
            "CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
            " DIV 100000"
        ).alias("x")
    )
    rn = daily.select(
        "d", "x", F.row_number().over(Window.orderBy("d")).alias("rn")
    )
    scales = spark.createDataFrame([(s,) for s in _RS_SCALES], "s int")
    ex = rn.crossJoin(F.broadcast(scales)).select(
        "s",
        F.expr("(rn - 1) DIV s").alias("blk"),
        F.expr("(rn - 1) % s + 1").alias("t"),
        "x",
    )
    wblk = Window.partitionBy("s", "blk")
    wcum = wblk.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wb = ex.select(
        "s",
        "blk",
        "t",
        "x",
        F.sum("x").over(wblk).cast("long").alias("sx"),
        F.sum(F.expr("x * x")).over(wblk).cast("long").alias("sx2"),
        F.count("*").over(wblk).cast("long").alias("cnt"),
        F.sum("x").over(wcum).cast("long").alias("cum"),
    )
    ws = (
        wb.filter(F.col("cnt") == F.col("s"))
        .groupBy("s", "blk")
        .agg(
            (
                F.max(F.expr("s * cum - t * sx"))
                - F.min(F.expr("s * cum - t * sx"))
            )
            .cast("long")
            .alias("r_scaled"),
            F.first(F.expr("s * sx2 - sx * sx")).cast("long").alias("v"),
        )
    )
    rs = ws.filter(F.col("v") > 0).select(
        "s",
        F.expr(
            "CAST(floor(1000000.0 * CAST(r_scaled AS DOUBLE)"
            " / sqrt(CAST(v AS DOUBLE))) AS BIGINT)"
        ).alias("rs_micro"),
    )
    per_scale = rs.groupBy(F.col("s").cast("long").alias("scale")).agg(
        F.count("*").cast("long").alias("n_blocks"),
        F.expr("CAST(SUM(rs_micro) DIV count(*) AS BIGINT)").alias(
            "mean_rs_micro"
        ),
    )
    pts = per_scale.select(
        "scale",
        "n_blocks",
        "mean_rs_micro",
        F.expr(
            "CAST(CASE scale WHEN 8 THEN 3 WHEN 16 THEN 4"
            " WHEN 32 THEN 5 ELSE 6 END AS BIGINT)"
        ).alias("k"),
        F.expr(
            "CAST(floor(1000000000.0 * ln(CAST(mean_rs_micro AS DOUBLE)))"
            " AS BIGINT)"
        ).alias("y_nano"),
    )
    wall = Window.partitionBy()
    ols = pts.select(
        "scale",
        "n_blocks",
        "mean_rs_micro",
        (
            F.count("*").over(wall) * F.sum(F.expr("k * y_nano")).over(wall)
            - F.sum("k").over(wall) * F.sum("y_nano").over(wall)
        )
        .cast("long")
        .alias("num"),
        (
            F.count("*").over(wall) * F.sum(F.expr("k * k")).over(wall)
            - F.sum("k").over(wall) * F.sum("k").over(wall)
        )
        .cast("long")
        .alias("den_k"),
    )
    return ols.select(
        "scale", "n_blocks", "mean_rs_micro", F.expr(_HURST_EXPR).alias("hurst_milli")
    ).orderBy("scale")


# ---------------------------------------------------------------------------
# x251 — FIFO cost-basis matching (buy lots consumed by later sales)
# ---------------------------------------------------------------------------

_FIFO_SPLIT = "1997-01-01"

_FIFO_ORACLE = f"""
WITH buys AS (
    SELECT l_partkey AS part,
           CAST(l_quantity AS BIGINT) AS q,
           CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
               * 1000 // CAST(l_quantity AS BIGINT) AS unit_milli,
           SUM(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING) AS hi
    FROM lineitem WHERE l_shipdate < TIMESTAMP '{_FIFO_SPLIT}'
),
sells AS (
    SELECT l_partkey AS part,
           CAST(l_quantity AS BIGINT) AS q,
           SUM(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING) AS hi
    FROM lineitem WHERE l_shipdate >= TIMESTAMP '{_FIFO_SPLIT}'
),
m AS (
    SELECT b.part,
           least(s.hi, b.hi) - greatest(s.hi - s.q, b.hi - b.q) AS matched,
           b.unit_milli
    FROM buys b JOIN sells s
      ON b.part = s.part
     AND b.hi - b.q < s.hi AND s.hi - s.q < b.hi
),
per_part AS (
    SELECT part, CAST(SUM(matched) AS BIGINT) AS matched_qty,
           CAST(SUM(matched * unit_milli) AS BIGINT) AS realized_cost_milli
    FROM m GROUP BY part
),
tot AS (
    SELECT part, CAST(SUM(q) AS BIGINT) AS sell_qty FROM sells GROUP BY part
)
SELECT t.part, t.sell_qty,
       COALESCE(p.matched_qty, 0) AS matched_qty,
       CAST(t.sell_qty - COALESCE(p.matched_qty, 0) AS BIGINT)
           AS unmatched_qty,
       COALESCE(p.realized_cost_milli, 0) AS realized_cost_milli
FROM tot t LEFT JOIN per_part p ON t.part = p.part
ORDER BY t.part
"""


@_staged(
    "x251_fifo_cost_basis",
    "OP-W4/J-ext",
    "FIFO cost-basis matching per part: pre-"
    f"{_FIFO_SPLIT} shipments are buy LOTS, later shipments consume "
    "them first-in-first-out, and the realized cost of each sale is "
    "the overlap of the two cumulative-quantity intervals — matched "
    "= least(s_hi,b_hi) - greatest(s_lo,b_lo) over (lot x sale) "
    "pairs whose intervals intersect, priced at the lot's exact "
    "milli-cent unit price. The inventory/accounting primitive "
    "(realized P&L, cost of goods sold) done fully set-based: no "
    "per-row loop, no mutable queue — the interval algebra IS the "
    "FIFO queue. Unmatched sale quantity (demand beyond all lots) "
    "is reported per part. Scale: both cumsums and the interval "
    "join are keyed on partkey (one exchange); per-part streams are "
    "short and the join condition prunes to O(lots + sales) "
    "overlapping pairs per part, not the cross product.",
    _FIFO_ORACLE,
)
def x251_fifo_cost_basis(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    qn = F.col("l_quantity").cast("long")
    wcum = (
        Window.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    split = F.lit(_FIFO_SPLIT).cast("timestamp")
    buys = li.filter(F.col("l_shipdate") < split).select(
        F.col("l_partkey").alias("part"),
        qn.alias("bq"),
        F.expr(
            "CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"
            " * 1000 DIV CAST(l_quantity AS BIGINT)"
        ).alias("unit_milli"),
        F.sum(qn).over(wcum).alias("bhi"),
    )
    sells = li.filter(F.col("l_shipdate") >= split).select(
        F.col("l_partkey").alias("part"),
        qn.alias("sq"),
        F.sum(qn).over(wcum).alias("shi"),
    )
    m = (
        buys.join(sells, "part")
        .filter(
            (F.col("bhi") - F.col("bq") < F.col("shi"))
            & (F.col("shi") - F.col("sq") < F.col("bhi"))
        )
        .select(
            "part",
            (
                F.least("shi", "bhi")
                - F.greatest(
                    F.col("shi") - F.col("sq"), F.col("bhi") - F.col("bq")
                )
            ).alias("matched"),
            "unit_milli",
        )
    )
    per_part = m.groupBy("part").agg(
        F.sum("matched").cast("long").alias("matched_qty"),
        F.sum(F.col("matched") * F.col("unit_milli"))
        .cast("long")
        .alias("realized_cost_milli"),
    )
    tot = sells.groupBy("part").agg(F.sum("sq").cast("long").alias("sell_qty"))
    return (
        tot.join(per_part, "part", "left")
        .select(
            "part",
            "sell_qty",
            F.coalesce("matched_qty", F.lit(0)).cast("long").alias(
                "matched_qty"
            ),
            (F.col("sell_qty") - F.coalesce("matched_qty", F.lit(0)))
            .cast("long")
            .alias("unmatched_qty"),
            F.coalesce("realized_cost_milli", F.lit(0))
            .cast("long")
            .alias("realized_cost_milli"),
        )
        .orderBy("part")
    )


# ---------------------------------------------------------------------------
# x255 — diagonal-Mahalanobis document outliers (per-language stats)
# ---------------------------------------------------------------------------

_DM_TOPK = 20

_DM_TERM = (
    "CAST(floor(1000.0"
    " * (CAST(n AS DOUBLE) * CAST({x} AS DOUBLE) - CAST({s} AS DOUBLE))"
    " * (CAST(n AS DOUBLE) * CAST({x} AS DOUBLE) - CAST({s} AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST({s2} AS DOUBLE)"
    "    - CAST({s} AS DOUBLE) * CAST({s} AS DOUBLE))) AS BIGINT)"
)

_DM_ORACLE = f"""
WITH feat AS (
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS f1,
           CAST(length(text) - length(replace(text, ' ', '')) + 1
                AS BIGINT) AS f2
    FROM documents
),
stats AS (
    SELECT lang, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(f1) AS BIGINT) AS s1, CAST(SUM(f1 * f1) AS BIGINT) AS s1q,
           CAST(SUM(f2) AS BIGINT) AS s2, CAST(SUM(f2 * f2) AS BIGINT) AS s2q
    FROM feat GROUP BY lang
),
scored AS (
    SELECT f.doc_id, f.lang,
           {_DM_TERM.format(x="f.f1", s="s.s1", s2="s.s1q", n="s.n").replace("CAST(n AS DOUBLE)", "CAST(s.n AS DOUBLE)")}
           + {_DM_TERM.format(x="f.f2", s="s.s2", s2="s.s2q", n="s.n").replace("CAST(n AS DOUBLE)", "CAST(s.n AS DOUBLE)")}
               AS m2_milli
    FROM feat f JOIN stats s ON f.lang = s.lang
    WHERE s.n >= 3 AND s.n * s.s1q > s.s1 * s.s1
      AND s.n * s.s2q > s.s2 * s.s2
)
SELECT doc_id, lang, m2_milli
FROM scored
ORDER BY m2_milli DESC, doc_id
LIMIT {_DM_TOPK}
"""


@_staged(
    "x255_diag_mahalanobis",
    "OP-X4-ext",
    "Diagonal-Mahalanobis document outliers: per language, each "
    "document's squared z-distance over two features (chars, words) "
    "using the exact identity (x-mu)^2/var = (n*x - S)^2 / "
    "(n*S2 - S^2) — population moments stay BIGINT, each "
    "feature term is floored to milli from one shared IEEE division, "
    "and the two integer terms ADD exactly (no float accumulation). "
    f"Top-{_DM_TOPK} by (distance DESC, doc_id). The multi-feature "
    "outlier screen between x57's single-feature MAD and a full "
    "covariance Mahalanobis (which needs a matrix inverse no SQL "
    "engine should hand-roll). Scale: one lang-keyed stats agg "
    "broadcast back over the scan + TakeOrdered heaps.",
    _DM_ORACLE,
)
def x255_diag_mahalanobis(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        F.length("text")
        - F.length(F.regexp_replace("text", " ", ""))
        + 1
    )
    feat = docs.select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("long").alias("f1"),
        wc.cast("long").alias("f2"),
    )
    stats = feat.groupBy("lang").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("f1").cast("long").alias("s1"),
        F.sum(F.expr("f1 * f1")).cast("long").alias("s1q"),
        F.sum("f2").cast("long").alias("s2"),
        F.sum(F.expr("f2 * f2")).cast("long").alias("s2q"),
    )
    term1 = _DM_TERM.format(x="f1", s="s1", s2="s1q")
    term2 = _DM_TERM.format(x="f2", s="s2", s2="s2q")
    scored = (
        feat.join(F.broadcast(stats), "lang")
        .filter(
            (F.col("n") >= 3)
            & (F.col("n") * F.col("s1q") > F.col("s1") * F.col("s1"))
            & (F.col("n") * F.col("s2q") > F.col("s2") * F.col("s2"))
        )
        .select(
            "doc_id",
            "lang",
            (F.expr(term1) + F.expr(term2)).alias("m2_milli"),
        )
    )
    return scored.orderBy(F.col("m2_milli").desc(), "doc_id").limit(_DM_TOPK)


# ---------------------------------------------------------------------------
# x259 — one-way ANOVA of order value across segments
# ---------------------------------------------------------------------------

_ANOVA_F = (
    "round((CAST(ssb_milli AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0))"
    " / (CAST(ssw_milli AS DOUBLE) / (CAST(n AS DOUBLE)"
    " - CAST(k AS DOUBLE))), 6)"
)

_ANOVA_ORACLE = f"""
WITH x AS (
    SELECT c.c_mktsegment AS seg,
           CAST(round(o.o_totalprice * 100) AS BIGINT) // 100000 AS v
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
g AS (
    SELECT seg, CAST(count(*) AS BIGINT) AS n_g,
           CAST(SUM(v) AS BIGINT) AS s1, CAST(SUM(v * v) AS BIGINT) AS s2,
           CAST((SUM(v) * SUM(v) // count(*)) * 1000 + ((SUM(v) * SUM(v) % count(*)) * 1000) // count(*) AS BIGINT) AS t_milli
    FROM x GROUP BY seg
),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS k, CAST(SUM(n_g) AS BIGINT) AS n,
           CAST(SUM(s1) AS BIGINT) AS s1_all,
           CAST(SUM(s2) AS BIGINT) AS s2_all,
           CAST(SUM(t_milli) AS BIGINT) AS t_all_milli
    FROM g
),
ss AS (
    SELECT k, n,
           CAST(round(CAST(t_all_milli AS DOUBLE) - CAST(s1_all AS DOUBLE) * CAST(s1_all AS DOUBLE) * 1000.0 / CAST(n AS DOUBLE)) AS BIGINT)
               AS ssb_milli,
           CAST(s2_all * 1000 - t_all_milli AS BIGINT) AS ssw_milli
    FROM tot
)
SELECT k, n, ssb_milli, ssw_milli,
       {{_ANOVA_F}} AS f_stat,
       CAST((ssb_milli * 1000 // (ssb_milli + ssw_milli)) * 1000 + ((ssb_milli * 1000 % (ssb_milli + ssw_milli)) * 1000) // (ssb_milli + ssw_milli) AS BIGINT)
           AS eta2_ppm
FROM ss
"""


@_staged(
    "x259_anova_oneway",
    "OP-G6-ext",
    "One-way ANOVA of order value (kilodollar units, the x253 "
    "overflow discipline) across customer segments: per-group "
    "correction terms S1^2*1000 DIV n_g stay exact BIGINT MILLI "
    "sums (two-stage division; per-group squares hold to ~300x "
    "sf0.1), while the GLOBAL correction T^2*1000/N goes through "
    "one shared IEEE double and rounds back to milli — the 100x "
    "sweep overflowed both the naive and the two-stage integer "
    "forms (T^2 itself breaches BIGINT), the x202 catch class "
    "resolved by the x49 identical-expression convention instead. "
    "SSW stays exact; F and ppm eta-squared derive from the milli "
    "frame. "
    "The does-the-grouping-matter gate x168 (two groups, rank-based) "
    "and x116 (categorical chi-square) both lack for k-group "
    "numeric responses. Scale: one segment hash-agg with map-side "
    "partials; everything else is a 5-row frame.",
    _ANOVA_ORACLE.replace("{_ANOVA_F}", _ANOVA_F),
)
def x259_anova_oneway(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    x = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.expr(
            "CAST(round(o_totalprice * 100) AS BIGINT) DIV 100000"
        ).alias("v"),
    )
    g = x.groupBy("seg").agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum("v").cast("long").alias("s1"),
        F.sum(F.expr("v * v")).cast("long").alias("s2"),
        F.expr(
            "CAST((SUM(v) * SUM(v) DIV count(*)) * 1000"
            " + ((SUM(v) * SUM(v) % count(*)) * 1000) DIV count(*)"
            " AS BIGINT)"
        ).alias("t_milli"),
    )
    tot = g.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s1").cast("long").alias("s1_all"),
        F.sum("s2").cast("long").alias("s2_all"),
        F.sum("t_milli").cast("long").alias("t_all_milli"),
    )
    ss = tot.select(
        "k",
        "n",
        F.expr(
            "CAST(round(CAST(t_all_milli AS DOUBLE) - CAST(s1_all AS DOUBLE) * CAST(s1_all AS DOUBLE) * 1000.0 / CAST(n AS DOUBLE)) AS BIGINT)"
        ).alias("ssb_milli"),
        F.expr("CAST(s2_all * 1000 - t_all_milli AS BIGINT)").alias(
            "ssw_milli"
        ),
    )
    return ss.select(
        "k",
        "n",
        "ssb_milli",
        "ssw_milli",
        F.expr(_ANOVA_F).alias("f_stat"),
        F.expr(
            "CAST((ssb_milli * 1000 DIV (ssb_milli + ssw_milli)) * 1000 + ((ssb_milli * 1000 % (ssb_milli + ssw_milli)) * 1000) DIV (ssb_milli + ssw_milli) AS BIGINT)"
        ).alias("eta2_ppm"),
    )


# ---------------------------------------------------------------------------
# x260 — Gumbel extreme-value fit of monthly-maximum daily revenue
# ---------------------------------------------------------------------------

# Euler-Mascheroni and pi as literal doubles: both engines parse the
# same decimal literal to the same IEEE double.
_EV_LOC = (
    "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)"
    " - 0.5772156649015329 * (sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)"
    " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
    " * 2.449489742783178 / 3.141592653589793))"
)
_EV_SCALE = (
    "(sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)"
    " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
    " * 2.449489742783178 / 3.141592653589793)"
)

_GUMBEL_ORACLE = f"""
WITH daily AS (
    SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS d,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               // 100000 AS x
    FROM orders GROUP BY 1
),
monthly AS (
    SELECT d // 30 AS period, CAST(MAX(x) AS BIGINT) AS mx
    FROM daily GROUP BY 1
),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(mx) AS BIGINT) AS s1,
           CAST(SUM(mx * mx) AS BIGINT) AS s2
    FROM monthly
)
SELECT n, s1, s2,
       CAST(round(1000.0 * {{_EV_LOC}}) AS BIGINT) AS loc_milli,
       CAST(round(1000.0 * {{_EV_SCALE}}) AS BIGINT) AS scale_milli,
       CAST(round(1000.0 * ({{_EV_LOC}} - {{_EV_SCALE}}
            * ln(-ln(CAST(11 AS DOUBLE) / CAST(12 AS DOUBLE))))) AS BIGINT) AS rl12_milli
FROM mom WHERE n >= 2 AND n * s2 > s1 * s1
"""


@_staged(
    "x260_extreme_value_gumbel",
    "OP-G6/T-ext",
    "Gumbel extreme-value fit of 30-day-block maximum daily revenue "
    "(method of moments): scale = sd*sqrt(6)/pi, location = mean - "
    "gamma*scale, and the 12-block return level loc - scale*"
    "ln(-ln(1-1/12)) — the 'how bad is a once-a-year peak' number "
    "capacity planning reads, which mean/quantile profiles (x8, "
    "x104) cannot give because extremes follow their own law. Block "
    "maxima and both moment sums are exact BIGINT KILOdollars (the "
    "replica sweep overflowed the dollar-unit square sums at 10x — "
    "the x202/x237 catch class; kilodollar units hold to ~5000x); the "
    "constants are shared decimal literals, so both engines run the "
    "identical IEEE expression. Scale: day agg -> block-max agg -> "
    "one 1-row moment frame.",
    _GUMBEL_ORACLE.replace("{_EV_LOC}", _EV_LOC).replace(
        "{_EV_SCALE}", _EV_SCALE
    ),
)
def x260_extreme_value_gumbel(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr("unix_timestamp(o_orderdate) div 86400").alias("d")
    ).agg(
        F.expr(
            "CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
            " DIV 100000"
        ).alias("x")
    )
    monthly = daily.groupBy(F.expr("d DIV 30").alias("period")).agg(
        F.max("x").cast("long").alias("mx")
    )
    mom = monthly.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("mx").cast("long").alias("s1"),
        F.sum(F.expr("mx * mx")).cast("long").alias("s2"),
    )
    return mom.filter(
        (F.col("n") >= 2) & (F.col("n") * F.col("s2") > F.col("s1") * F.col("s1"))
    ).select(
        "n",
        "s1",
        "s2",
        F.expr(f"CAST(round(1000.0 * {_EV_LOC}) AS BIGINT)").alias(
            "loc_milli"
        ),
        F.expr(f"CAST(round(1000.0 * {_EV_SCALE}) AS BIGINT)").alias(
            "scale_milli"
        ),
        F.expr(
            f"CAST(round(1000.0 * ({_EV_LOC} - {_EV_SCALE}"
            " * ln(-ln(CAST(11 AS DOUBLE) / CAST(12 AS DOUBLE))))) AS BIGINT)"
        ).alias("rl12_milli"),
    )


# ---------------------------------------------------------------------------
# x261 — capture-recapture (Chapman) estimate of the order population
# ---------------------------------------------------------------------------

_CRC_ORACLE = """
WITH marks AS (
    SELECT o_orderkey,
           CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)
                     IN ('0','1','2','3') THEN 1 ELSE 0 END AS in_a,
           CASE WHEN substr(md5('b' || CAST(o_orderkey AS VARCHAR)), 1, 1)
                     IN ('0','1','2','3') THEN 1 ELSE 0 END AS in_b
    FROM orders
),
counts AS (
    SELECT CAST(count(*) AS BIGINT) AS n_true,
           CAST(SUM(in_a) AS BIGINT) AS n1,
           CAST(SUM(in_b) AS BIGINT) AS n2,
           CAST(SUM(in_a * in_b) AS BIGINT) AS m
    FROM marks
)
SELECT n_true, n1, n2, m,
       CAST((n1 + 1) * (n2 + 1) // (m + 1) - 1 AS BIGINT) AS n_hat,
       CAST(CASE WHEN (n1 + 1) * (n2 + 1) // (m + 1) - 1 >= n_true
                 THEN ((n1 + 1) * (n2 + 1) // (m + 1) - 1 - n_true)
                      * 1000000 // n_true
                 ELSE -((n_true - ((n1 + 1) * (n2 + 1) // (m + 1) - 1))
                        * 1000000 // n_true) END AS BIGINT) AS err_ppm
FROM counts
"""


@_staged(
    "x261_capture_recapture",
    "OP-G5-ext",
    "Capture-recapture population estimate (Chapman's nearly-"
    "unbiased form) from two independent deterministic ~25% md5 "
    "probes of the orderkey space: N_hat = (n1+1)(n2+1)/(m+1) - 1, "
    "compared against the true count with signed error in ppm. The "
    "ecology estimator is the right tool whenever two OVERLAPPING "
    "partial feeds exist but the union is unobservable (two scraped "
    "crawls, two vendor exports) — the audit says how well the "
    "overlap predicts the total, and the md5 marks make both probes "
    "reproducible. Scale: one scan, one global count frame (one "
    "partial row per partition).",
    _CRC_ORACLE,
)
def x261_capture_recapture(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    in_a = F.when(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1).isin(
            "0", "1", "2", "3"
        ),
        1,
    ).otherwise(0)
    in_b = F.when(
        F.substring(
            F.md5(F.concat(F.lit("b"), F.col("o_orderkey").cast("string"))),
            1,
            1,
        ).isin("0", "1", "2", "3"),
        1,
    ).otherwise(0)
    marks = o.select(in_a.alias("in_a"), in_b.alias("in_b"))
    counts = marks.agg(
        F.count("*").cast("long").alias("n_true"),
        F.sum("in_a").cast("long").alias("n1"),
        F.sum("in_b").cast("long").alias("n2"),
        F.sum(F.expr("in_a * in_b")).cast("long").alias("m"),
    )
    return counts.select(
        "n_true",
        "n1",
        "n2",
        "m",
        F.expr("CAST((n1 + 1) * (n2 + 1) DIV (m + 1) - 1 AS BIGINT)").alias(
            "n_hat"
        ),
        F.expr(
            "CAST(CASE WHEN (n1 + 1) * (n2 + 1) DIV (m + 1) - 1 >= n_true"
            " THEN ((n1 + 1) * (n2 + 1) DIV (m + 1) - 1 - n_true)"
            " * 1000000 DIV n_true"
            " ELSE -((n_true - ((n1 + 1) * (n2 + 1) DIV (m + 1) - 1))"
            " * 1000000 DIV n_true) END AS BIGINT)"
        ).alias("err_ppm"),
    )


# ---------------------------------------------------------------------------
# x262 — modularity of the 2-round LPA partition
# ---------------------------------------------------------------------------

_MOD_ORACLE = f"""
WITH pk AS MATERIALIZED (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
e AS MATERIALIZED (
    SELECT a.p AS u, b.p AS v
    FROM pk a JOIN pk b ON a.o = b.o AND a.p < b.p
    GROUP BY a.p, b.p HAVING count(*) >= 2
),
und AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
l0 AS MATERIALIZED (SELECT DISTINCT u AS n, u AS lab FROM und),
{{_LPA_CTES}},
m AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM und),
deg AS (
    SELECT la.lab AS community, CAST(count(*) AS BIGINT) AS d_sum
    FROM und JOIN l{_LPA_ROUNDS} la ON und.u = la.n GROUP BY la.lab
),
internal AS (
    SELECT la.lab AS community, CAST(count(*) AS BIGINT) AS m2_in
    FROM und
    JOIN l{_LPA_ROUNDS} la ON und.u = la.n
    JOIN l{_LPA_ROUNDS} lb ON und.v = lb.n
    WHERE la.lab = lb.lab
    GROUP BY la.lab
),
sz AS (
    SELECT lab AS community, CAST(count(*) AS BIGINT) AS n_members
    FROM l{_LPA_ROUNDS} GROUP BY lab
),
terms AS (
    SELECT s.community, s.n_members,
           COALESCE(i.m2_in, 0) // 2 AS internal_edges, d.d_sum,
           CAST(COALESCE(i.m2_in, 0) * m.m2 - d.d_sum * d.d_sum AS BIGINT)
               AS t_num
    FROM sz s
    JOIN deg d ON d.community = s.community
    LEFT JOIN internal i ON i.community = s.community
    CROSS JOIN m
),
q AS (
    SELECT CAST(SUM(t_num) AS BIGINT) AS q_num,
           CAST(any_value(m.m2) * any_value(m.m2) AS BIGINT) AS q_den
    FROM terms CROSS JOIN m
)
SELECT t.community, t.n_members, t.internal_edges, t.d_sum,
       CAST(CASE WHEN q.q_num >= 0
                 THEN (q.q_num * 1000 // q.q_den) * 1000
                      + ((q.q_num * 1000 % q.q_den) * 1000) // q.q_den
                 ELSE -(((-q.q_num) * 1000 // q.q_den) * 1000
                        + (((-q.q_num) * 1000 % q.q_den) * 1000) // q.q_den)
            END AS BIGINT)
           AS q_ppm
FROM terms t CROSS JOIN q
ORDER BY t.community
"""


@_staged(
    "x262_modularity_score",
    "OP-X2-ext",
    "Newman modularity of the x246 2-round LPA partition over the "
    "co-order graph: Q = sum_c (m_in_c/m - (d_c/2m)^2), computed "
    "from exact directed-edge counts as Q_ppm = sum(2*m_in_c*2m - "
    "d_c^2) / (2m)^2 in one signed integer division — the number "
    "that says whether the communities x246 found are real structure "
    "(Q >> 0) or noise (Q ~ 0), reported per community alongside "
    "member/edge/degree counts. Scale: two label joins against the "
    "checkpointed edge list (the x127 discipline) + community-sized "
    "aggregates; the global edge count is a 1-row broadcast.",
    _MOD_ORACLE.replace("{_LPA_CTES}", _lpa_round_ctes()),
)
def x262_modularity_score(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    pk = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a, b = pk.alias("a"), pk.alias("b")
    e = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .agg(F.count("*").alias("wt"))
        .filter(F.col("wt") >= 2)
        .select("u", "v")
    )
    und = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)
    lab = und.select(F.col("u").alias("n"), F.col("u").alias("lab")).distinct()
    for _ in range(_LPA_ROUNDS):
        # r12: same lazy round shape as x246 (linear lineage over the
        # fixed rounds; one exchange serves both aggs) — the labels are
        # still checkpointed ONCE after the loop for the tag joins.
        cnt = (
            und.join(lab, und.v == lab.n)
            .repartition(F.col("u"))
            .groupBy(und.u.alias("node"), "lab")
            .agg(F.count("*").alias("cnt"))
        )
        lab = (
            cnt.groupBy("node")
            .agg(F.min(F.struct(-F.col("cnt"), F.col("lab"))).alias("best"))
            .select(F.col("node").alias("n"), F.col("best.lab").alias("lab"))
        )
    lab = lab.localCheckpoint(eager=True)
    m = und.agg(F.count("*").cast("long").alias("m2"))
    la = lab.select(F.col("n").alias("u"), F.col("lab").alias("lab_u"))
    lb = lab.select(F.col("n").alias("v"), F.col("lab").alias("lab_v"))
    tagged = und.join(la, "u").join(lb, "v")
    deg = tagged.groupBy(F.col("lab_u").alias("community")).agg(
        F.count("*").cast("long").alias("d_sum")
    )
    internal = (
        tagged.filter(F.col("lab_u") == F.col("lab_v"))
        .groupBy(F.col("lab_u").alias("community"))
        .agg(F.count("*").cast("long").alias("m2_in"))
    )
    sz = lab.groupBy(F.col("lab").alias("community")).agg(
        F.count("*").cast("long").alias("n_members")
    )
    terms = (
        sz.join(deg, "community")
        .join(internal, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            "n_members",
            F.expr("COALESCE(m2_in, 0) DIV 2").cast("long").alias(
                "internal_edges"
            ),
            "d_sum",
            F.expr(
                "CAST(COALESCE(m2_in, 0) * m2 - d_sum * d_sum AS BIGINT)"
            ).alias("t_num"),
            "m2",
        )
    )
    wall = Window.partitionBy()
    q = terms.select(
        "community",
        "n_members",
        "internal_edges",
        "d_sum",
        F.sum("t_num").over(wall).cast("long").alias("q_num"),
        (F.col("m2") * F.col("m2")).cast("long").alias("q_den"),
    )
    return q.select(
        "community",
        "n_members",
        "internal_edges",
        "d_sum",
        F.expr(
            "CAST(CASE WHEN q_num >= 0"
            " THEN (q_num * 1000 DIV q_den) * 1000"
            " + ((q_num * 1000 % q_den) * 1000) DIV q_den"
            " ELSE -(((-q_num) * 1000 DIV q_den) * 1000"
            " + (((-q_num) * 1000 % q_den) * 1000) DIV q_den)"
            " END AS BIGINT)"
        ).alias("q_ppm"),
    ).orderBy("community")


# ---------------------------------------------------------------------------
# x263 — Adamic-Adar link prediction (log-damped shared neighbors)
# ---------------------------------------------------------------------------

_AA_TOPK = 50

_AA_ORACLE = f"""
WITH pk AS MATERIALIZED (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
e AS MATERIALIZED (
    SELECT a.p AS u, b.p AS v
    FROM pk a JOIN pk b ON a.o = b.o AND a.p < b.p
    GROUP BY a.p, b.p HAVING count(*) >= 2
),
und AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
deg AS MATERIALIZED (
    SELECT u AS n, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY u
),
wn AS (
    SELECT n, CAST(floor(1000000000.0 / ln(CAST(d AS DOUBLE))) AS BIGINT)
           AS w_nano
    FROM deg WHERE d >= 2
),
cand AS (
    SELECT a.u AS u, b.u AS v,
           CAST(count(*) AS BIGINT) AS common,
           CAST(SUM(w.w_nano) AS BIGINT) AS aa_nano
    FROM und a
    JOIN und b ON a.v = b.v AND a.u < b.u
    JOIN wn w ON w.n = a.v
    GROUP BY a.u, b.u
),
nonedge AS (
    SELECT c.u, c.v, c.common, c.aa_nano FROM cand c
    LEFT JOIN e ON e.u = c.u AND e.v = c.v
    WHERE e.u IS NULL
)
SELECT u, v, common, aa_nano
FROM nonedge
ORDER BY aa_nano DESC, u, v
LIMIT {_AA_TOPK}
"""


@_staged(
    "x263_adamic_adar",
    "OP-X2-ext",
    "Adamic-Adar link prediction on the co-order graph: each shared "
    "neighbor contributes 1/ln(degree) — rare mutual neighbors count "
    "more than promiscuous hubs, the refinement that beats raw "
    "common-neighbor counts (x247) on hub-heavy graphs. Per-neighbor "
    "weights are nano-floored BIGINTs (identical double in, "
    "identical floor out), so pair scores are exact integer sums "
    "immune to accumulation order; existing edges are anti-joined "
    f"out and the top-{_AA_TOPK} uses the total (score DESC, u, v) "
    "order. Scale: same neighbor-keyed candidate join as x247 with "
    "the weight broadcast from the node-degree aggregate.",
    _AA_ORACLE,
)
def x263_adamic_adar(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    pk = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a, b = pk.alias("a"), pk.alias("b")
    e = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .agg(F.count("*").alias("wt"))
        .filter(F.col("wt") >= 2)
        .select("u", "v")
        .localCheckpoint(eager=True)
    )
    und = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = und.groupBy(F.col("u").alias("n")).agg(
        F.count("*").cast("long").alias("d")
    )
    wn = deg.filter(F.col("d") >= 2).select(
        "n",
        F.expr(
            "CAST(floor(1000000000.0 / ln(CAST(d AS DOUBLE))) AS BIGINT)"
        ).alias("w_nano"),
    )
    x, y = und.alias("x"), und.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.v") == F.col("y.v")) & (F.col("x.u") < F.col("y.u")),
        )
        .join(F.broadcast(wn), F.col("x.v") == F.col("n"))
        .groupBy(F.col("x.u").alias("cu"), F.col("y.u").alias("cv"))
        .agg(
            F.count("*").cast("long").alias("common"),
            F.sum("w_nano").cast("long").alias("aa_nano"),
        )
    )
    nonedge = cand.join(
        e, (cand.cu == e.u) & (cand.cv == e.v), "left_anti"
    )
    return (
        nonedge.select(
            F.col("cu").alias("u"),
            F.col("cv").alias("v"),
            "common",
            "aa_nano",
        )
        .orderBy(F.col("aa_nano").desc(), "u", "v")
        .limit(_AA_TOPK)
    )


# ---------------------------------------------------------------------------
# x264 — degree assortativity of the co-order graph
# ---------------------------------------------------------------------------

_ASSORT_R = (
    "round((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * sqrt(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)"
)

_ASSORT_ORACLE = f"""
WITH pk AS MATERIALIZED (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
e AS MATERIALIZED (
    SELECT a.p AS u, b.p AS v
    FROM pk a JOIN pk b ON a.o = b.o AND a.p < b.p
    GROUP BY a.p, b.p HAVING count(*) >= 2
),
und AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
deg AS MATERIALIZED (
    SELECT u AS n, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY u
),
pairs AS (
    SELECT du.d AS x, dv.d AS y
    FROM und JOIN deg du ON und.u = du.n JOIN deg dv ON und.v = dv.n
),
s AS (
    SELECT CAST(count(*) AS BIGINT) AS m,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * y) AS BIGINT) AS sxy,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           CAST(SUM(y * y) AS BIGINT) AS syy
    FROM pairs
)
SELECT m, sx, sxy, sxx,
       {{_ASSORT_R}} AS assortativity
FROM s WHERE m * sxx > sx * sx AND m * syy > sy * sy
"""


@_staged(
    "x264_degree_assortativity",
    "OP-X2-ext",
    "Degree assortativity of the weight>=2 co-order graph: the "
    "Pearson correlation of endpoint degrees over all DIRECTED "
    "edges (the standard Newman r) — positive r means hubs wire to "
    "hubs (a dense rich-club core that concentrates any keyed "
    "shuffle), negative means hub-and-spoke (broadcast-friendly). "
    "The one number that predicts which join strategy the graph "
    "family (x43 pagerank, x127 k-core, x246 LPA) needs at 100 TB. "
    "All five moment sums are exact BIGINT over the edge list; r is "
    "one shared IEEE expression. By symmetry of the directed edge "
    "set sx = sy and sxx = syy, so the output carries one of each. "
    "Scale: two degree joins against the node aggregate + one global "
    "moment frame (one partial row per partition).",
    _ASSORT_ORACLE.replace("{_ASSORT_R}", _ASSORT_R),
)
def x264_degree_assortativity(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    pk = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a, b = pk.alias("a"), pk.alias("b")
    e = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .agg(F.count("*").alias("wt"))
        .filter(F.col("wt") >= 2)
        .select("u", "v")
    )
    und = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)
    deg = und.groupBy(F.col("u").alias("n")).agg(
        F.count("*").cast("long").alias("d")
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("x"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("y"))
    pairs = und.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    s = pairs.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.expr("x * y")).cast("long").alias("sxy"),
        F.sum(F.expr("x * x")).cast("long").alias("sxx"),
        F.sum(F.expr("y * y")).cast("long").alias("syy"),
    )
    return s.filter(
        (F.col("m") * F.col("sxx") > F.col("sx") * F.col("sx"))
        & (F.col("m") * F.col("syy") > F.col("sy") * F.col("sy"))
    ).select("m", "sx", "sxy", "sxx", F.expr(_ASSORT_R).alias("assortativity"))


# ---------------------------------------------------------------------------
# x265 — global clustering coefficient (triangles / wedges)
# ---------------------------------------------------------------------------

_CLUSTER_ORACLE = """
WITH pk AS MATERIALIZED (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
e AS MATERIALIZED (
    SELECT a.p AS u, b.p AS v
    FROM pk a JOIN pk b ON a.o = b.o AND a.p < b.p
    GROUP BY a.p, b.p HAVING count(*) >= 2
),
und AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
deg AS (
    SELECT u AS n, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY u
),
tri AS (
    SELECT CAST(count(*) AS BIGINT) AS n_tri
    FROM e e1 JOIN e e2 ON e2.u = e1.v AND e2.v > e1.v
              JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
),
wedge AS (
    SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg
)
SELECT t.n_tri, w.n_wedges,
       CAST(3 * t.n_tri * 1000000 // w.n_wedges AS BIGINT)
           AS clustering_ppm
FROM tri t CROSS JOIN wedge w
WHERE w.n_wedges > 0
"""


@_staged(
    "x265_clustering_coefficient",
    "OP-X2-ext",
    "Global clustering coefficient of the weight>=2 co-order graph: "
    "3 * triangles / wedges in exact ppm — triangles from the "
    "oriented two-hop join (each triangle counted exactly once, the "
    "x103 shape), wedges as the exact sum d*(d-1)/2 over the degree "
    "table. High clustering + positive assortativity (x264) is the "
    "signature of a community-structured graph where x246's LPA is "
    "meaningful; near-zero clustering says the co-order signal is "
    "bipartite-ish noise. Scale: the triangle join is keyed on the "
    "shared endpoint with the oriented (u < v) pruning; wedges are "
    "one node-sized aggregate.",
    _CLUSTER_ORACLE,
)
def x265_clustering_coefficient(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    pk = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a, b = pk.alias("a"), pk.alias("b")
    e = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .agg(F.count("*").alias("wt"))
        .filter(F.col("wt") >= 2)
        .select("u", "v")
        .localCheckpoint(eager=True)
    )
    und = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = und.groupBy(F.col("u").alias("n")).agg(
        F.count("*").cast("long").alias("d")
    )
    e1 = e.select(F.col("u").alias("t_u"), F.col("v").alias("t_v"))
    e2 = e.select(F.col("u").alias("w_u"), F.col("v").alias("w_v"))
    e3 = e.select(F.col("u").alias("c_u"), F.col("v").alias("c_v"))
    tri = (
        e1.join(e2, (F.col("w_u") == F.col("t_v")) & (F.col("w_v") > F.col("t_v")))
        .join(
            e3,
            (F.col("c_u") == F.col("t_u")) & (F.col("c_v") == F.col("w_v")),
            "left_semi",
        )
        .agg(F.count("*").cast("long").alias("n_tri"))
    )
    wedge = deg.agg(
        F.sum(F.expr("d * (d - 1) DIV 2")).cast("long").alias("n_wedges")
    )
    return (
        tri.crossJoin(F.broadcast(wedge))
        .filter(F.col("n_wedges") > 0)
        .select(
            "n_tri",
            "n_wedges",
            F.expr(
                "CAST(3 * n_tri * 1000000 DIV n_wedges AS BIGINT)"
            ).alias("clustering_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# x266 — Kendall's W: concordance of yearly nation-revenue rankings
# ---------------------------------------------------------------------------

_KW_ORACLE = """
WITH yr AS (
    SELECT CAST(c.c_nationkey AS BIGINT) AS nationkey,
           CAST(year(o.o_orderdate) AS BIGINT) AS y,
           CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
),
m AS (SELECT CAST(count(DISTINCT y) AS BIGINT) AS m FROM yr),
full_n AS (
    SELECT nationkey FROM yr GROUP BY nationkey
    HAVING count(*) = (SELECT m FROM m)
),
ranked AS (
    SELECT r.nationkey, r.y,
           CAST(row_number() OVER (PARTITION BY r.y
                ORDER BY r.cents DESC, r.nationkey) AS BIGINT) AS rnk
    FROM yr r JOIN full_n f ON r.nationkey = f.nationkey
),
rs AS (
    SELECT nationkey, CAST(SUM(rnk) AS BIGINT) AS rank_sum FROM ranked
    GROUP BY nationkey
),
dims AS (
    SELECT CAST(count(*) AS BIGINT) AS n, (SELECT m FROM m) AS m FROM rs
),
s AS (
    SELECT CAST(SUM((2 * r.rank_sum - d.m * (d.n + 1))
                    * (2 * r.rank_sum - d.m * (d.n + 1))) AS BIGINT) AS s4
    FROM rs r CROSS JOIN dims d
)
SELECT r.nationkey, r.rank_sum, d.m, d.n,
       CAST(3 * s.s4 * 1000000 // (d.m * d.m * (d.n * d.n * d.n - d.n))
            AS BIGINT) AS w_ppm
FROM rs r CROSS JOIN dims d CROSS JOIN s
ORDER BY r.nationkey
"""


@_staged(
    "x266_kendall_w",
    "OP-W2-ext",
    "Kendall's coefficient of concordance W across the m yearly "
    "nation-revenue rankings (nations present in every year; ranks "
    "total-tie-broken on nationkey): with doubled deviations "
    "D = 2*R_i - m*(n+1) every term stays integer even when the mean "
    "rank is half-integral, S*4 = sum(D^2) is an exact BIGINT, and "
    "W = 3*S4 / (m^2*(n^3-n)) lands in exact ppm. W ~ 1 means the "
    "league table is stable year over year (x147's RBO measures "
    "drift of ONE pair of lists; W scores ALL m at once — the "
    "multi-ranker generalization of x170's Kendall tau). Scale: one "
    "(nation, year) hash-agg, year-partitioned rank windows, and "
    "all W math on the <=|nations| frame.",
    _KW_ORACLE,
)
def x266_kendall_w(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    yr = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_nationkey").cast("long").alias("nationkey"),
            F.year("o_orderdate").cast("long").alias("y"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    m_df = yr.agg(F.countDistinct("y").cast("long").alias("m"))
    counts = yr.groupBy("nationkey").agg(F.count("*").alias("ny"))
    full_n = (
        counts.crossJoin(F.broadcast(m_df))
        .filter(F.col("ny") == F.col("m"))
        .select("nationkey")
    )
    ranked = yr.join(F.broadcast(full_n), "nationkey").select(
        "nationkey",
        "y",
        F.row_number()
        .over(
            Window.partitionBy("y").orderBy(
                F.col("cents").desc(), "nationkey"
            )
        )
        .cast("long")
        .alias("rnk"),
    )
    rs = ranked.groupBy("nationkey").agg(
        F.sum("rnk").cast("long").alias("rank_sum")
    )
    wall = Window.partitionBy()
    stats = rs.crossJoin(F.broadcast(m_df)).select(
        "nationkey",
        "rank_sum",
        "m",
        F.count("*").over(wall).cast("long").alias("n"),
    )
    stats = stats.withColumn(
        "s4",
        F.sum(
            (2 * F.col("rank_sum") - F.col("m") * (F.col("n") + 1))
            * (2 * F.col("rank_sum") - F.col("m") * (F.col("n") + 1))
        )
        .over(wall)
        .cast("long"),
    )
    return stats.select(
        "nationkey",
        "rank_sum",
        "m",
        "n",
        F.expr(
            "CAST(3 * s4 * 1000000 DIV (m * m * (n * n * n - n)) AS BIGINT)"
        ).alias("w_ppm"),
    ).orderBy("nationkey")


# ---------------------------------------------------------------------------
# x267 — SAX symbolization of the daily-revenue series (per year)
# ---------------------------------------------------------------------------

_SAX_SEGS = 16
_SAX_SYMS = 4

_SAX_ORACLE = f"""
WITH daily AS (
    SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS d,
           CAST(year(o_orderdate) AS BIGINT) AS y,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               // 100000 AS x
    FROM orders GROUP BY 1, 2
),
rn AS (
    SELECT y, x,
           row_number() OVER (PARTITION BY y ORDER BY d) AS rn,
           CAST(count(*) OVER (PARTITION BY y) AS BIGINT) AS nd
    FROM daily
),
paa AS (
    SELECT y, (rn - 1) * {_SAX_SEGS} // nd AS seg,
           CAST(SUM(x) * 1000 // count(*) AS BIGINT) AS paa_milli
    FROM rn GROUP BY y, (rn - 1) * {_SAX_SEGS} // nd
),
ordered AS (
    SELECT y, seg, paa_milli,
           row_number() OVER (ORDER BY paa_milli, y, seg) AS r,
           CAST(count(*) OVER () AS BIGINT) AS n
    FROM paa
),
sel AS (
    SELECT greatest((SELECT max(n) FROM ordered) * k // {_SAX_SYMS}, 1)
        AS pick
    FROM (SELECT unnest([1, 2, 3]) AS k)
),
thr AS (
    SELECT o.paa_milli AS t FROM ordered o JOIN sel s ON o.r = s.pick
),
sym AS (
    SELECT p.y, CAST(p.seg AS BIGINT) AS seg, p.paa_milli,
           CAST((SELECT count(*) FROM thr WHERE thr.t < p.paa_milli)
                AS BIGINT) AS symbol
    FROM paa p
)
SELECT y, seg, paa_milli, symbol FROM sym ORDER BY y, seg
"""


@_staged(
    "x267_sax_symbols",
    "OP-W4/T-ext",
    f"SAX symbolization of daily revenue: each year's series reduces "
    f"to {_SAX_SEGS} PAA segments (mean kilodollars in exact milli — "
    "ntile-equivalent segment assignment from the closed form), and "
    f"segments quantize to {_SAX_SYMS} symbols by EMPIRICAL quartile "
    "breakpoints (exact rank picks over the bounded segment frame, "
    "not the Gaussian table — no distribution assumption, no "
    "floats). The discretization that turns a numeric series into "
    "words for motif mining/indexing (Lin et al. 2003); two years "
    "with the same symbol word are rhyming seasons. Scale: the "
    "per-year rank window runs over the bounded daily frame; "
    "everything after is the |years| x segments frame.",
    _SAX_ORACLE,
)
def x267_sax_symbols(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr("unix_timestamp(o_orderdate) div 86400").alias("d"),
        F.year("o_orderdate").cast("long").alias("y"),
    ).agg(
        F.expr(
            "CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
            " DIV 100000"
        ).alias("x")
    )
    wyr = Window.partitionBy("y")
    rn = daily.select(
        "y",
        "x",
        F.row_number().over(wyr.orderBy("d")).alias("rn"),
        F.count("*").over(wyr).cast("long").alias("nd"),
    )
    paa = rn.groupBy(
        "y", F.expr(f"(rn - 1) * {_SAX_SEGS} DIV nd").alias("seg")
    ).agg(F.expr("CAST(SUM(x) * 1000 DIV count(*) AS BIGINT)").alias("paa_milli"))
    wall = Window.partitionBy()
    ordered = paa.select(
        "y",
        "seg",
        "paa_milli",
        F.row_number()
        .over(Window.orderBy("paa_milli", "y", "seg"))
        .alias("r"),
        F.count("*").over(wall).cast("long").alias("n"),
    )
    thr = (
        ordered.filter(
            F.expr(
                " OR ".join(
                    f"r = greatest(n * {k} DIV {_SAX_SYMS}, 1)"
                    for k in (1, 2, 3)
                )
            )
        )
        .select(F.col("paa_milli").alias("t"))
    )
    sym = (
        paa.crossJoin(F.broadcast(thr.groupBy().agg(
            F.collect_list("t").alias("ts")
        )))
        .select(
            "y",
            F.col("seg").cast("long").alias("seg"),
            "paa_milli",
            F.expr(
                "CAST(size(filter(ts, t -> t < paa_milli)) AS BIGINT)"
            ).alias("symbol"),
        )
    )
    return sym.orderBy("y", "seg")


# ---------------------------------------------------------------------------
# x268 — Theil inequality index with between/within-region decomposition
# ---------------------------------------------------------------------------

_THEIL_ORACLE = """
WITH nat AS (
    SELECT CAST(n.n_regionkey AS BIGINT) AS regionkey,
           CAST(c.c_nationkey AS BIGINT) AS nationkey,
           CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
),
tot AS (
    SELECT CAST(SUM(cents) AS BIGINT) AS x_all,
           CAST(count(*) AS BIGINT) AS n_all
    FROM nat
),
terms AS (
    SELECT n.regionkey, n.nationkey, n.cents,
           CAST(floor(1000000000.0 * (CAST(n.cents AS DOUBLE)
                / CAST(t.x_all AS DOUBLE))
                * ln(CAST(n.cents AS DOUBLE) * CAST(t.n_all AS DOUBLE)
                     / CAST(t.x_all AS DOUBLE))) AS BIGINT) AS t_nano
    FROM nat n CROSS JOIN tot t WHERE n.cents > 0
),
reg AS (
    SELECT r.regionkey, CAST(SUM(r.cents) AS BIGINT) AS x_r,
           CAST(count(*) AS BIGINT) AS n_r,
           CAST(SUM(r.t_nano) AS BIGINT) AS t_total_nano
    FROM terms r GROUP BY r.regionkey
),
btw AS (
    SELECT g.regionkey, g.x_r, g.n_r, g.t_total_nano,
           CAST(floor(1000000000.0 * (CAST(g.x_r AS DOUBLE)
                / CAST(t.x_all AS DOUBLE))
                * ln((CAST(g.x_r AS DOUBLE) / CAST(t.x_all AS DOUBLE))
                     / (CAST(g.n_r AS DOUBLE) / CAST(t.n_all AS DOUBLE))))
                AS BIGINT) AS t_between_nano
    FROM reg g CROSS JOIN tot t
)
SELECT regionkey, n_r, x_r, t_total_nano, t_between_nano,
       CAST(t_total_nano - t_between_nano AS BIGINT) AS t_within_nano
FROM btw ORDER BY regionkey
"""


@_staged(
    "x268_theil_decomposition",
    "OP-G6-ext",
    "Theil-T inequality of nation revenues with the between/within-"
    "REGION decomposition — the property that makes Theil the "
    "inequality index for hierarchical data (Gini x115 does not "
    "decompose additively): per-region rows carry the region's total "
    "term mass sum((x_i/X) ln(x_i/(X/n))), its between-group term "
    "(X_r/X) ln(share_x/share_n), and the within residual. Every ln "
    "runs over exact BIGINT ratios and is floored to integer NANOS "
    "before any sum, so aggregates are order-immune exact integers "
    "(the x245/x254 discipline); the decomposition identity "
    "T_total = T_between + T_within holds in reader arithmetic to "
    "per-term flooring slack. Scale: one (region, nation) hash-agg, "
    "a 1-row totals broadcast, and all index math on the "
    "<=|nations| frame.",
    _THEIL_ORACLE,
)
def x268_theil_decomposition(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    nat = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_regionkey").cast("long").alias("regionkey"),
            F.col("c_nationkey").cast("long").alias("nationkey"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    tot = nat.agg(
        F.sum("cents").cast("long").alias("x_all"),
        F.count("*").cast("long").alias("n_all"),
    )
    terms = (
        nat.filter(F.col("cents") > 0)
        .crossJoin(F.broadcast(tot))
        .select(
            "regionkey",
            "nationkey",
            "cents",
            "x_all",
            "n_all",
            F.expr(
                "CAST(floor(1000000000.0 * (CAST(cents AS DOUBLE)"
                " / CAST(x_all AS DOUBLE))"
                " * ln(CAST(cents AS DOUBLE) * CAST(n_all AS DOUBLE)"
                " / CAST(x_all AS DOUBLE))) AS BIGINT)"
            ).alias("t_nano"),
        )
    )
    reg = terms.groupBy("regionkey").agg(
        F.sum("cents").cast("long").alias("x_r"),
        F.count("*").cast("long").alias("n_r"),
        F.sum("t_nano").cast("long").alias("t_total_nano"),
    )
    btw = reg.crossJoin(F.broadcast(tot)).select(
        "regionkey",
        "n_r",
        "x_r",
        "t_total_nano",
        F.expr(
            "CAST(floor(1000000000.0 * (CAST(x_r AS DOUBLE)"
            " / CAST(x_all AS DOUBLE))"
            " * ln((CAST(x_r AS DOUBLE) / CAST(x_all AS DOUBLE))"
            " / (CAST(n_r AS DOUBLE) / CAST(n_all AS DOUBLE))))"
            " AS BIGINT)"
        ).alias("t_between_nano"),
    )
    return btw.select(
        "regionkey",
        "n_r",
        "x_r",
        "t_total_nano",
        "t_between_nano",
        (F.col("t_total_nano") - F.col("t_between_nano"))
        .cast("long")
        .alias("t_within_nano"),
    ).orderBy("regionkey")


# ---------------------------------------------------------------------------
# x269 — empirical deciles with DKW confidence bands, per segment
# ---------------------------------------------------------------------------

_DKW_EPS = (
    "CAST(round(1000000.0 * sqrt(ln(2.0 / 0.05)"
    " / (2.0 * CAST(n AS DOUBLE)))) AS BIGINT)"
)

_DKW_ORACLE = f"""
WITH base AS (
    SELECT c.c_mktsegment AS segment,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
           o.o_orderkey AS ok
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
ranked AS (
    SELECT segment, cents,
           row_number() OVER (PARTITION BY segment ORDER BY cents, ok)
               AS r,
           CAST(count(*) OVER (PARTITION BY segment) AS BIGINT) AS n
    FROM base
),
dec AS (
    SELECT segment, n, ks.k AS decile, cents
    FROM ranked
    JOIN (SELECT unnest(range(1, 10)) AS k) ks
      ON ranked.r = greatest(ranked.n * ks.k // 10, 1)
)
SELECT segment, CAST(decile AS BIGINT) AS decile, cents AS value_cents, n,
       {{_DKW_EPS}} AS dkw_eps_ppm
FROM dec ORDER BY segment, decile
"""


@_staged(
    "x269_dkw_bands",
    "OP-G6/W2-ext",
    "Empirical deciles of order value per segment with the "
    "Dvoretzky-Kiefer-Wolfowitz 95% ECDF confidence half-width "
    "eps = sqrt(ln(2/alpha)/(2n)) in ppm — the distribution-free "
    "answer to 'how much can these deciles move on a resample', "
    "complementing x153's hash-bootstrap (simulation) with the "
    "closed-form bound (zero extra passes). Decile values are exact "
    "rank picks over the total (cents, orderkey) order (the x118 "
    "convention); eps is one shared IEEE expression over the exact "
    "group count. Scale: one segment-partitioned rank window; the "
    "decile extraction joins a 9-row literal frame on the rank.",
    _DKW_ORACLE.replace("{_DKW_EPS}", _DKW_EPS),
)
def x269_dkw_bands(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    base = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_orderkey").alias("ok"),
    )
    ws = Window.partitionBy("segment")
    ranked = base.select(
        "segment",
        "cents",
        F.row_number().over(ws.orderBy("cents", "ok")).alias("r"),
        F.count("*").over(ws).cast("long").alias("n"),
    )
    ks = spark.createDataFrame([(k,) for k in range(1, 10)], "k long")
    dec = ranked.join(
        F.broadcast(ks),
        ranked.r == F.greatest(F.expr("n * k DIV 10"), F.lit(1)),
    )
    return dec.select(
        "segment",
        F.col("k").alias("decile"),
        F.col("cents").alias("value_cents"),
        "n",
        F.expr(_DKW_EPS).alias("dkw_eps_ppm"),
    ).orderBy("segment", "decile")


# ---------------------------------------------------------------------------
# x270 — Shewhart X-bar/R control chart over weekly revenue subgroups
# ---------------------------------------------------------------------------

# Standard X-bar/R constants for subgroup size n = 7 (shared decimal
# literals -> identical IEEE doubles in both engines).
_SPC_A2 = "0.419"
_SPC_D3 = "0.076"
_SPC_D4 = "1.924"

_SPC_OOC = (
    "CAST(CASE WHEN CAST(xbar_milli AS DOUBLE)"
    " > CAST(xbb_milli AS DOUBLE) + {a2} * CAST(rbar_milli AS DOUBLE)"
    " OR CAST(xbar_milli AS DOUBLE)"
    " < CAST(xbb_milli AS DOUBLE) - {a2} * CAST(rbar_milli AS DOUBLE)"
    " THEN 1 ELSE 0 END AS BIGINT)"
).format(a2=_SPC_A2)
_SPC_ROOC = (
    "CAST(CASE WHEN CAST(r_range AS DOUBLE) * 1000.0"
    " > {d4} * CAST(rbar_milli AS DOUBLE)"
    " OR CAST(r_range AS DOUBLE) * 1000.0"
    " < {d3} * CAST(rbar_milli AS DOUBLE)"
    " THEN 1 ELSE 0 END AS BIGINT)"
).format(d3=_SPC_D3, d4=_SPC_D4)

_SPC_ORACLE = f"""
WITH daily AS (
    SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS d,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               // 100000 AS x
    FROM orders GROUP BY 1
),
grp AS (
    SELECT d // 7 AS week, CAST(count(*) AS BIGINT) AS n_days,
           CAST(SUM(x) * 1000 // count(*) AS BIGINT) AS xbar_milli,
           CAST(MAX(x) - MIN(x) AS BIGINT) AS r_range
    FROM daily GROUP BY 1 HAVING count(*) = 7
),
ctr AS (
    SELECT CAST(SUM(xbar_milli) // count(*) AS BIGINT) AS xbb_milli,
           CAST(SUM(r_range) * 1000 // count(*) AS BIGINT) AS rbar_milli
    FROM grp
)
SELECT g.week, g.xbar_milli, g.r_range, c.xbb_milli, c.rbar_milli,
       {_SPC_OOC} AS xbar_ooc,
       {_SPC_ROOC} AS range_ooc
FROM grp g CROSS JOIN ctr c
ORDER BY g.week
"""


@_staged(
    "x270_spc_control_chart",
    "OP-G6/T-ext",
    "Shewhart X-bar/R control chart over complete 7-day subgroups of "
    "daily revenue (exact kilodollar means in milli, exact ranges): "
    "center lines are integer means over the subgroup frame, control "
    "limits use the tabulated n=7 constants (A2/D3/D4 as shared "
    "decimal literals), and each week gets the out-of-control flags "
    "for both the mean and the range chart. The SPC primitive that "
    "turns x125's retrospective CUSUM into an operating rule a "
    "monitor evaluates per period. All comparisons are one shared "
    "IEEE expression over exact integers — no accumulation anywhere. "
    "Scale: day agg -> week agg -> 1-row center frame broadcast "
    "back; the chart is |weeks| rows.",
    _SPC_ORACLE,
)
def x270_spc_control_chart(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr("unix_timestamp(o_orderdate) div 86400").alias("d")
    ).agg(
        F.expr(
            "CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
            " DIV 100000"
        ).alias("x")
    )
    grp = (
        daily.groupBy(F.expr("d DIV 7").alias("week"))
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.expr("CAST(SUM(x) * 1000 DIV count(*) AS BIGINT)").alias(
                "xbar_milli"
            ),
            (F.max("x") - F.min("x")).cast("long").alias("r_range"),
        )
        .filter(F.col("n_days") == 7)
    )
    ctr = grp.agg(
        F.expr("CAST(SUM(xbar_milli) DIV count(*) AS BIGINT)").alias(
            "xbb_milli"
        ),
        F.expr("CAST(SUM(r_range) * 1000 DIV count(*) AS BIGINT)").alias(
            "rbar_milli"
        ),
    )
    return (
        grp.crossJoin(F.broadcast(ctr))
        .select(
            "week",
            "xbar_milli",
            "r_range",
            "xbb_milli",
            "rbar_milli",
            F.expr(_SPC_OOC).alias("xbar_ooc"),
            F.expr(_SPC_ROOC).alias("range_ooc"),
        )
        .orderBy("week")
    )


# ---------------------------------------------------------------------------
# x271 — Kruskal-Wallis rank test across segments (tie-corrected)
# ---------------------------------------------------------------------------

_KW_H = (
    "round((CAST(term_sum_nano AS DOUBLE) / 1000000000.0"
    " - 3.0 * (CAST(n_tot AS DOUBLE) + 1.0))"
    " / (1.0 - CAST(tie_sum AS DOUBLE)"
    " / (CAST(n_tot AS DOUBLE) * CAST(n_tot AS DOUBLE)"
    " * CAST(n_tot AS DOUBLE) - CAST(n_tot AS DOUBLE))), 6)"
)

_KRUSKAL_ORACLE = f"""
WITH base AS (
    SELECT c.c_mktsegment AS segment,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
ranked AS (
    SELECT segment, cents,
           CAST(2 * rank() OVER (ORDER BY cents)
                + count(*) OVER (PARTITION BY cents) - 1 AS BIGINT) AS mr2
    FROM base
),
ties AS (
    SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tie_sum
    FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM base GROUP BY cents)
),
g AS (
    SELECT segment, CAST(count(*) AS BIGINT) AS n_g,
           CAST(SUM(mr2) AS BIGINT) AS r2_sum
    FROM ranked GROUP BY segment
),
tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n_tot FROM g),
terms AS (
    SELECT g.segment, g.n_g, g.r2_sum,
           CAST(floor(1000000000.0 * 3.0 * CAST(g.r2_sum AS DOUBLE)
                * CAST(g.r2_sum AS DOUBLE)
                / (CAST(g.n_g AS DOUBLE) * CAST(t.n_tot AS DOUBLE)
                   * (CAST(t.n_tot AS DOUBLE) + 1.0))) AS BIGINT)
               AS term_nano
    FROM g CROSS JOIN tot t
),
h AS (
    SELECT CAST(SUM(term_nano) AS BIGINT) AS term_sum_nano FROM terms
)
SELECT t.segment, t.n_g, t.r2_sum, t.term_nano,
       {_KW_H} AS h_stat
FROM terms t
CROSS JOIN h CROSS JOIN ties CROSS JOIN tot
ORDER BY t.segment
"""


@_staged(
    "x271_kruskal_wallis",
    "OP-W2-ext",
    "Tie-corrected Kruskal-Wallis H across customer segments on "
    "order value: global midranks via the x241 integer identity "
    "(2*midrank = 2*rank + tiecount - 1), per-group rank masses "
    "exact BIGINT, each group's 12/(N(N+1)) * R^2/n contribution "
    "(= 3*R2^2/(n*N*(N+1)) in doubled-rank units) floored to NANOS "
    "so the cross-group sum is exact, and the tie divisor "
    "1 - sum(t^3-t)/(N^3-N) evaluated in doubles (N^3 breaches "
    "BIGINT at replica scale BY DESIGN of the formula — the operands "
    "are exact integers, the expression is shared verbatim). "
    "Completes the inference battery: x168 two-group ranks, x259 "
    "parametric k-group, this the nonparametric k-group. Scale: the "
    "global rank is the documented certifiable form over the fact "
    "frame (the x219 bucketed rank is the selectable scale path for "
    "this exact shape); everything after is the 5-row group frame.",
    _KRUSKAL_ORACLE,
)
def x271_kruskal_wallis(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    base = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    wr = Window.orderBy("cents")
    wt = Window.partitionBy("cents")
    ranked = base.select(
        "segment",
        (2 * F.rank().over(wr) + F.count("*").over(wt) - 1)
        .cast("long")
        .alias("mr2"),
    )
    ties = (
        base.groupBy("cents")
        .agg(F.count("*").cast("long").alias("t"))
        .agg(
            F.sum(F.expr("t * t * t - t")).cast("long").alias("tie_sum")
        )
    )
    g = ranked.groupBy("segment").agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum("mr2").cast("long").alias("r2_sum"),
    )
    tot = g.agg(F.sum("n_g").cast("long").alias("n_tot"))
    terms = g.crossJoin(F.broadcast(tot)).select(
        "segment",
        "n_g",
        "r2_sum",
        "n_tot",
        F.expr(
            "CAST(floor(1000000000.0 * 3.0 * CAST(r2_sum AS DOUBLE)"
            " * CAST(r2_sum AS DOUBLE)"
            " / (CAST(n_g AS DOUBLE) * CAST(n_tot AS DOUBLE)"
            " * (CAST(n_tot AS DOUBLE) + 1.0))) AS BIGINT)"
        ).alias("term_nano"),
    )
    h = terms.agg(F.sum("term_nano").cast("long").alias("term_sum_nano"))
    return (
        terms.crossJoin(F.broadcast(h))
        .crossJoin(F.broadcast(ties))
        .select(
            "segment",
            "n_g",
            "r2_sum",
            "term_nano",
            F.expr(_KW_H).alias("h_stat"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# x272 — Chao1 vocabulary richness + Good-Turing unseen mass per source
# ---------------------------------------------------------------------------

_CHAO_ORACLE = """
WITH tok AS (
    SELECT source, w FROM (
        SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ) WHERE w <> ''
),
wc AS (
    SELECT source, w, CAST(count(*) AS BIGINT) AS c
    FROM tok GROUP BY source, w
),
s AS (
    SELECT source,
           CAST(count(*) AS BIGINT) AS s_obs,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
           CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
           CAST(SUM(c) AS BIGINT) AS n_tokens
    FROM wc GROUP BY source
)
SELECT source, s_obs, f1, f2, n_tokens,
       CAST(CASE WHEN f2 > 0
                 THEN s_obs * 1000 + f1 * f1 * 1000 // (2 * f2)
                 ELSE s_obs * 1000 + f1 * (f1 - 1) * 1000 // 2 END
            AS BIGINT) AS chao1_milli,
       CAST(f1 * 1000000 // n_tokens AS BIGINT) AS unseen_mass_ppm
FROM s ORDER BY source
"""


@_staged(
    "x272_chao1_unseen",
    "OP-X4-ext",
    "Chao1 vocabulary-richness estimate + Good-Turing unseen "
    "probability mass per source: chao1 = S_obs + F1^2/(2*F2) (the "
    "bias-corrected F1*(F1-1)/2 form when no doubletons exist) says "
    "how many word types the source HAS that the sample never "
    "surfaced; P0 = F1/N is the probability the next token is a "
    "never-seen type. The 'how much vocabulary are we missing' "
    "companion to x193's Heaps saturation and x88's hapax ratio — "
    "the number that decides whether a source needs more crawling "
    "before its vocabulary statistics are trustworthy. All integer "
    "milli/ppm (F1^2*1000 stays far under 2^63 at any realistic "
    "vocabulary). Scale: one (source, word) hash-agg with map-side "
    "partials, then a |sources|-row frame.",
    _CHAO_ORACLE,
)
def x272_chao1_unseen(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    wc = tok.groupBy("source", "w").agg(F.count("*").cast("long").alias("c"))
    s = wc.groupBy("source").agg(
        F.count("*").cast("long").alias("s_obs"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("long")
        .alias("f2"),
        F.sum("c").cast("long").alias("n_tokens"),
    )
    return s.select(
        "source",
        "s_obs",
        "f1",
        "f2",
        "n_tokens",
        F.expr(
            "CAST(CASE WHEN f2 > 0"
            " THEN s_obs * 1000 + f1 * f1 * 1000 DIV (2 * f2)"
            " ELSE s_obs * 1000 + f1 * (f1 - 1) * 1000 DIV 2 END"
            " AS BIGINT)"
        ).alias("chao1_milli"),
        F.expr("CAST(f1 * 1000000 DIV n_tokens AS BIGINT)").alias(
            "unseen_mass_ppm"
        ),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# x273 — Mann-Kendall monotonic-trend test on monthly revenue, per nation
# ---------------------------------------------------------------------------

_MK_Z = (
    "round(CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0)"
    " / sqrt(CAST(var18 AS DOUBLE) / 18.0)"
    " WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0)"
    " / sqrt(CAST(var18 AS DOUBLE) / 18.0)"
    " ELSE 0.0 END, 6)"
)

_MK_ORACLE = f"""
WITH m AS (
    SELECT CAST(c.c_nationkey AS BIGINT) AS nationkey,
           CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) AS BIGINT)
               AS mi,
           CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
),
pairs AS (
    SELECT a.nationkey,
           CASE WHEN b.cents > a.cents THEN 1
                WHEN b.cents < a.cents THEN -1 ELSE 0 END AS sg
    FROM m a JOIN m b ON a.nationkey = b.nationkey AND a.mi < b.mi
),
sstat AS (
    SELECT nationkey, CAST(SUM(sg) AS BIGINT) AS s_stat FROM pairs
    GROUP BY nationkey
),
nn AS (
    SELECT nationkey, CAST(count(*) AS BIGINT) AS n FROM m GROUP BY nationkey
),
tie AS (
    SELECT nationkey,
           CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum
    FROM (SELECT nationkey, CAST(count(*) AS BIGINT) AS t FROM m
          GROUP BY nationkey, cents)
    GROUP BY nationkey
)
SELECT s.nationkey, nn.n, s.s_stat,
       CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - tie.tsum AS BIGINT)
           AS var18,
       {_MK_Z} AS z
FROM sstat s JOIN nn ON s.nationkey = nn.nationkey
JOIN tie ON s.nationkey = tie.nationkey
WHERE nn.n >= 4 AND nn.n * (nn.n - 1) * (2 * nn.n + 5) > tie.tsum
ORDER BY s.nationkey
"""


@_staged(
    "x273_mann_kendall",
    "OP-W3-ext",
    "Mann-Kendall monotonic-trend test per nation on monthly revenue: "
    "S = sum of pairwise sign(later - earlier) over all month pairs "
    "(exact integer), the tie-corrected variance kept in x18 units "
    "(var18 = n(n-1)(2n+5) - sum t(t-1)(2t+5), exact BIGINT — no "
    "/18 rational until the single z expression with its continuity "
    "correction). The DISTRIBUTION-FREE trend verdict: x114's OLS "
    "slope and x155's Theil-Sen ESTIMATE a slope, MK says whether "
    "ANY monotonic trend is significant without assuming linearity "
    "or normality — the standard first test on environmental/KPI "
    "series. Scale: the pair join is nation-keyed over the bounded "
    "|nations| x |months| frame (~84 rows per nation), never raw "
    "orders.",
    _MK_ORACLE,
)
def x273_mann_kendall(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    m = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_nationkey").cast("long").alias("nationkey"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("long")
            .alias("mi"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
        .localCheckpoint(eager=True)  # three consumers: pairs x2 + ties
    )
    a = m.select("nationkey", F.col("mi").alias("mi_a"), F.col("cents").alias("ca"))
    b = m.select("nationkey", F.col("mi").alias("mi_b"), F.col("cents").alias("cb"))
    pairs = a.join(b, "nationkey").filter(F.col("mi_a") < F.col("mi_b"))
    sstat = pairs.groupBy("nationkey").agg(
        F.sum(
            F.when(F.col("cb") > F.col("ca"), 1)
            .when(F.col("cb") < F.col("ca"), -1)
            .otherwise(0)
        )
        .cast("long")
        .alias("s_stat")
    )
    nn = m.groupBy("nationkey").agg(F.count("*").cast("long").alias("n"))
    tie = (
        m.groupBy("nationkey", "cents")
        .agg(F.count("*").cast("long").alias("t"))
        .groupBy("nationkey")
        .agg(
            F.sum(F.expr("t * (t - 1) * (2 * t + 5)"))
            .cast("long")
            .alias("tsum")
        )
    )
    out = (
        sstat.join(nn, "nationkey")
        .join(tie, "nationkey")
        .filter(
            (F.col("n") >= 4)
            & (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                > F.col("tsum")
            )
        )
        .select(
            "nationkey",
            "n",
            "s_stat",
            F.expr(
                "CAST(n * (n - 1) * (2 * n + 5) - tsum AS BIGINT)"
            ).alias("var18"),
        )
    )
    return out.select(
        "nationkey", "n", "s_stat", "var18", F.expr(_MK_Z).alias("z")
    ).orderBy("nationkey")


# ---------------------------------------------------------------------------
# x274 — process capability Cp / Cpk of weekly revenue (pairs with x270)
# ---------------------------------------------------------------------------

_CPK_D2 = "2.704"  # d2 constant for subgroup size n = 7

_CPK_SIGMA = (
    f"(CAST(rbar_milli AS DOUBLE) / 1000.0 / {_CPK_D2})"
)
_CPK_CP = (
    "CAST(round(1000.0 * (CAST(usl_milli - lsl_milli AS DOUBLE) / 1000.0)"
    f" / (6.0 * {_CPK_SIGMA})) AS BIGINT)"
)
_CPK_CPK = (
    "CAST(round(1000.0 * least("
    "CAST(usl_milli - xbb_milli AS DOUBLE) / 1000.0,"
    " CAST(xbb_milli - lsl_milli AS DOUBLE) / 1000.0)"
    f" / (3.0 * {_CPK_SIGMA})) AS BIGINT)"
)

_CPK_ORACLE = f"""
WITH daily AS (
    SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS d,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               // 100000 AS x
    FROM orders GROUP BY 1
),
grp AS (
    SELECT d // 7 AS week,
           CAST(SUM(x) * 1000 // count(*) AS BIGINT) AS xbar_milli,
           CAST(MAX(x) - MIN(x) AS BIGINT) AS r_range
    FROM daily GROUP BY 1 HAVING count(*) = 7
),
ctr AS (
    SELECT CAST(count(*) AS BIGINT) AS n_weeks,
           CAST(SUM(xbar_milli) // count(*) AS BIGINT) AS xbb_milli,
           CAST(SUM(r_range) * 1000 // count(*) AS BIGINT) AS rbar_milli
    FROM grp
),
spec AS (
    SELECT n_weeks, xbb_milli, rbar_milli,
           xbb_milli // 2 AS lsl_milli,
           xbb_milli * 3 // 2 AS usl_milli
    FROM ctr
)
SELECT n_weeks, xbb_milli, rbar_milli, lsl_milli, usl_milli,
       {_CPK_CP} AS cp_milli,
       {_CPK_CPK} AS cpk_milli
FROM spec WHERE rbar_milli > 0
"""


@_staged(
    "x274_cpk_capability",
    "OP-G6/T-ext",
    "Process capability Cp / Cpk of weekly revenue against a +-50% "
    "band around the grand mean: within-subgroup sigma from the SPC "
    "estimator Rbar/d2 (d2 = 2.704 for n = 7, shared literal — the "
    "same subgroup frame as x270's control chart), Cp = span/6sigma, "
    "Cpk = nearest-limit margin/3sigma, both in milli from one "
    "shared IEEE expression over exact integers. The capacity-"
    "planning verdict x270's chart feeds: in-control but Cpk < 1 "
    "means the process cannot hold the band even when stable. "
    "Scale: identical frame shape to x270 — day agg, week agg, one "
    "1-row capability frame.",
    _CPK_ORACLE,
)
def x274_cpk_capability(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr("unix_timestamp(o_orderdate) div 86400").alias("d")
    ).agg(
        F.expr(
            "CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
            " DIV 100000"
        ).alias("x")
    )
    grp = (
        daily.groupBy(F.expr("d DIV 7").alias("week"))
        .agg(
            F.count("*").alias("n_days"),
            F.expr("CAST(SUM(x) * 1000 DIV count(*) AS BIGINT)").alias(
                "xbar_milli"
            ),
            (F.max("x") - F.min("x")).cast("long").alias("r_range"),
        )
        .filter(F.col("n_days") == 7)
    )
    ctr = grp.agg(
        F.count("*").cast("long").alias("n_weeks"),
        F.expr("CAST(SUM(xbar_milli) DIV count(*) AS BIGINT)").alias(
            "xbb_milli"
        ),
        F.expr("CAST(SUM(r_range) * 1000 DIV count(*) AS BIGINT)").alias(
            "rbar_milli"
        ),
    )
    spec = ctr.select(
        "n_weeks",
        "xbb_milli",
        "rbar_milli",
        F.expr("xbb_milli DIV 2").cast("long").alias("lsl_milli"),
        F.expr("xbb_milli * 3 DIV 2").cast("long").alias("usl_milli"),
    )
    return spec.filter(F.col("rbar_milli") > 0).select(
        "n_weeks",
        "xbb_milli",
        "rbar_milli",
        "lsl_milli",
        "usl_milli",
        F.expr(_CPK_CP).alias("cp_milli"),
        F.expr(_CPK_CPK).alias("cpk_milli"),
    )


# --- round-9 registration footer (flipped live in round 9) ---
# These two lines register the whole batch into the live catalog; they
# must stay below the final @_staged definition so every entry is in
# STAGED before the update (the round-25 footer-placement lesson).
from ravelytics_spark.plans.registry import REGISTRY as _REGISTRY  # noqa: E402

_REGISTRY.update(STAGED)
