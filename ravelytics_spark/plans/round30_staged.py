"""Catalog entries x275-x311.

Theme: the inference/metrology tail — white-noise and normality tests,
unit roots, tail fits, survival curves, PR-space ranking quality,
categorical association, information rate — plus the operational
domain audits (functional dependencies, Markov transitions, joint
ABC/XYZ, elasticity, newsvendor) and three corpus/text additions
(MATTR lexical diversity, log-likelihood keyness, MinHash calibration).

Wave 1 — time-series + distribution inference:

* ``x275_ljung_box`` — the Ljung-Box white-noise test per nation over
  x171's exact monthly-revenue ACF machinery (lags 1..3): per-lag
  r_k^2/(n-k) terms nano-floored from the exact BIGINT num/den pair,
  Q = n(n+2) * sum, in micro. THE gate before trusting any forecast
  residual diagnostics (x148/x158).
* ``x276_jarque_bera`` — Jarque-Bera normality per customer segment
  from x253's exact kilodollar power sums S1..S4: skewness/kurtosis
  through one shared IEEE chain, JB = n(g1^2/6 + g2^2/24) in milli.
* ``x287_pot_gpd`` — peaks-over-threshold tail fit: threshold = exact
  rank-picked 95th percentile of daily revenue (kilodollars),
  exceedance moments exact BIGINT, GPD method-of-moments xi/beta in
  milli through one shared expression. The tail-shape complement of
  x260's Gumbel block maxima (xi > 0 says the tail is heavier than
  Gumbel assumes).
* ``x288_lognormal_fit`` — lognormal fit of order value per segment:
  per-row ln(dollars) floored to integer MILLIS (milli granularity is
  the documented overflow trade: (ln_milli)^2 * rows stays far under
  2^63 at 100x), mu/sigma from the exact milli sums through one
  shared chain. The first-choice heavy-tail model check next to
  x254's Hill index.
* ``x289_dickey_fuller`` — Dickey-Fuller unit-root t-statistic of the
  observed daily-revenue sequence (constant + lag term, OLS on exact
  kilodollar sums over sequence-adjacent pairs): is the series
  mean-reverting or a random walk — the stationarity gate in front
  of x171/x275/x148.

Wave 2 — ranking quality + categorical inference:

* ``x277_pr_auc`` — exact average precision per segment of the
  prior-spend ranker (distinct-score step groups, nano-floored step
  terms, exact sums): the class-imbalance companion of x241's ROC.
* ``x291_cochran_armitage`` — ordered-categories trend test for the
  urgent-order share across years (x116 ignores order; this doesn't).
* ``x292_smd_balance`` — standardized-mean-difference covariate
  balance for a deterministic md5 50% split: the composition gate
  next to x220's SRM count gate.
* ``x296_fleiss_kappa`` — multi-rater agreement across THREE
  deterministic judges, exact-rational ppm with signed-division CASE.
* ``x297_cramers_v_matrix`` — pairwise Cramér's V across the three
  order/line categoricals: x116's chi-square as a comparable-scale
  association MATRIX.

Wave 3 — operational/forensic domain audits:

* ``x279_grubbs_test`` — is THE most extreme point inconsistent
  (max/min-side G per brand)? The single-outlier complement of x124.
* ``x280_fd_violations`` — functional-dependency audit (does the
  attribute DEPEND on the key), completing x181's does-the-key-exist.
* ``x281_benford_second_digit`` — second-digit Benford conformance by
  pure string indexing; fabricated amounts pass x90 and fail this.
* ``x282_markov_transitions`` — the event-type transition matrix in
  exact ppm, the model under x187's paths and x36's funnel.
* ``x283_abc_xyz_matrix`` — the joint 9-cell ABC x XYZ planning
  matrix x112 and x185 each only halve.
* ``x284_price_elasticity`` — log-log OLS elasticity per brand over
  milli-floored per-row ln terms.

Wave 4 — survival, stocking, information rate, bipartite centrality:

* ``x285_kaplan_meier`` — the KM reorder-survival curve in the log
  domain (nano-floored ln factors, exact cumulative sums) over
  x200's gap buckets.
* ``x286_newsvendor`` — critical-fractile (0.8) order-up-to quantity
  per brand by exact rank pick, with both empirical cost tails.
* ``x290_entropy_rate`` — H(next|current) of the event stream in
  exact micro: the sequential information rate next to x49/x121/x128.
* ``x278_hits_scores`` — 2-iteration HITS on the order-part
  bipartite, exact unnormalized BIGINT scores (the basket-size-aware
  centrality PageRank isn't).

Wave 5 — corpus/text metrology:

* ``x293_minhash_calibration`` — estimate-vs-exact Jaccard
  calibration of the x91 MinHash by exact-Jaccard decile: is 12
  hashes enough (x233 audits the buckets; this audits the estimator).
* ``x294_mattr`` — moving-average type-token ratio (window 50,
  stride 25) per source: the length-robust lexical-diversity rank
  raw TTR can't give.
* ``x295_keyness_llr`` — Dunning G^2 keyness of the first source vs
  the rest over the bounded top-1k vocab: names the tokens behind
  x85's drift number.

Wave 6 — sequence/shape tests, parametric fits, inequality, skyline:

* ``x298_poisson_dispersion`` — var/mean overdispersion of daily
  order counts per nation (the formal x180).
* ``x299_zipf_slope`` — log-log OLS Zipf exponent over the bounded
  top-1k rank-frequency frame.
* ``x300_turning_points`` — local peaks/valleys vs 2(n-2)/3: the
  shape-randomness check x231's sign-runs miss.
* ``x301_friedman_test`` — month-blocked segment rank test (the
  paired complement of x271's pooled Kruskal-Wallis).
* ``x302_gamma_mom`` — Gamma shape/scale MOM fit per segment (the
  positive-support rival of x288; x287 referees the tail).
* ``x303_hoover_index`` — the Robin-Hood share-to-move inequality
  index per region (L1 companion of x115/x268).
* ``x304_interarrival_cv2`` — reorder-gap CV^2 per segment: the
  queueing burstiness number that sizes fulfillment buffers.
* ``x305_records_test`` — running-maxima count vs H_n with the
  harmonic numbers as exact per-position integer sums.
* ``x306_skyline_parts`` — the Pareto-frontier SKYLINE operator
  (price vs size) via a bounded per-size frontier, not an all-pairs
  anti-join.

Wave 7 — psychometrics + robust inference + Box-Jenkins completion:

* ``x307_cronbach_alpha`` — internal consistency of the three-judge
  battery as ONE exact rational in ppm (do the items measure one
  construct — the coherence complement of x296's agreement).
* ``x308_brown_forsythe`` — median-based Levene variance-homogeneity
  F across segments: the equal-variance check x259 silently assumes.
* ``x309_pacf`` — closed-form Durbin-Levinson PACF (lags 1..3) over
  x171's exact ACF integers: where correlation is GENERATED, the
  AR-order pick for x148.
* ``x310_cohens_d`` — the pairwise effect-size matrix x259's F omits
  and x182's power planner consumes.
* ``x311_binary_segmentation`` — the changepoint LOCATOR: two-segment
  SSE argmin over exact prefix sums on the bounded daily frame (x125
  detects; this says WHERE).

Hash-parity conventions as plans/queries.py: exact cents/BIGINT
arithmetic until one shared IEEE expression, total ORDER BY, BIGINT
casts on every count.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ravelytics_spark.operators.graph import coorder_pk
from ravelytics_spark.plans.frames import (
    COORDER_PK_SQL,
    DAILY_CENTS_CTE,
    DAILY_REVENUE_CTE,
    MONTHLY_NATION_KILOS_CTE,
    SEGMENT_ORDER_KILOS_CTE,
    daily_order_cents,
    daily_order_revenue,
    monthly_nation_kilos,
    segment_order_kilos,
)
from ravelytics_spark.plans.registry import q
from ravelytics_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# x275 — Ljung-Box white-noise test over the exact monthly-revenue ACF
# ---------------------------------------------------------------------------

_LB_LAGS = 3

# per-lag term: floor(1e9 * r_k^2 / (n - k)) over the exact num/den
# pair — the same double expression character-for-character in both
# engines (two divides, one multiply, one floor).
_LB_TERM = (
    "CAST(floor(1000000000.0"
    " * (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))"
    " * (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))"
    " / CAST(n - lag_k AS DOUBLE)) AS BIGINT)"
)

_LB_ORACLE = f"""
WITH {MONTHLY_NATION_KILOS_CTE},
s AS (
    SELECT nkey, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(ykd) AS BIGINT) AS tot
    FROM m GROUP BY nkey
),
d AS (
    SELECT m.nkey, s.n, s.n * m.ykd - s.tot AS e,
           row_number() OVER (PARTITION BY m.nkey ORDER BY m.mon) AS t
    FROM m JOIN s ON m.nkey = s.nkey
),
lagged AS (
    SELECT a.nkey, lag.k AS lag_k, a.n,
           CAST(SUM(a.e * b.e) AS BIGINT) AS num
    FROM d a
    JOIN (SELECT unnest(range(1, {_LB_LAGS + 1})) AS k) lag ON TRUE
    JOIN d b ON b.nkey = a.nkey AND b.t = a.t - lag.k
    GROUP BY a.nkey, lag.k, a.n
),
den AS (
    SELECT nkey, CAST(SUM(e * e) AS BIGINT) AS den FROM d GROUP BY nkey
),
terms AS (
    SELECT l.nkey, l.n, {_LB_TERM} AS term_nano
    FROM lagged l JOIN den ON l.nkey = den.nkey
    WHERE den.den > 0 AND l.n > {_LB_LAGS} + 1
)
SELECT nkey, n,
       CAST(count(*) AS BIGINT) AS n_lags,
       CAST(SUM(term_nano) AS BIGINT) AS sum_term_nano,
       CAST(n * (n + 2) * SUM(term_nano) // 1000 AS BIGINT) AS q_micro
FROM terms
GROUP BY nkey, n
ORDER BY nkey
"""


@q(
    "x275_ljung_box",
    "OP-W3/G6-ext",
    "Ljung-Box white-noise test per nation over the x171 exact monthly "
    f"ACF machinery (lags 1..{_LB_LAGS}): deviations cleared by N "
    "(e = N*y - S, exact BIGINT), per-lag r_k^2/(n-k) terms "
    "nano-floored from the exact num/den pair so the lag sum is an "
    "order-immune BIGINT, Q = n(n+2)*sum in exact micro via integer "
    "division. THE portmanteau gate before trusting x148/x158 "
    "residual diagnostics (a significant Q says the series still has "
    "structure an AR term should absorb). Scale: identical frame "
    "shape to x171 — month agg, bounded <=84-month series per nation, "
    "lag alignment an equi-join on the aggregate.",
    _LB_ORACLE,
)
def x275_ljung_box(spark, sf_dir):
    m = monthly_nation_kilos(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "customer")
    )
    s = m.groupBy("nkey").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("ykd").cast("long").alias("tot"),
    )
    wT = Window.partitionBy("nkey").orderBy("mon")
    d = (
        m.join(s, "nkey")
        .select(
            "nkey",
            "mon",
            "n",
            (F.col("n") * F.col("ykd") - F.col("tot"))
            .cast("long")
            .alias("e"),
        )
        .withColumn("t", F.row_number().over(wT))
    )
    lags = spark.range(1, _LB_LAGS + 1).select(
        F.col("id").cast("long").alias("lag_k")
    )
    a = d.select("nkey", "n", "t", F.col("e").alias("e_t"))
    b = d.select(
        F.col("nkey").alias("nkb"),
        F.col("t").alias("tb"),
        F.col("e").alias("e_tk"),
    )
    lagged = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("nkey") == F.col("nkb"))
            & (F.col("tb") == F.col("t") - F.col("lag_k")),
        )
        .groupBy("nkey", "lag_k", "n")
        .agg(F.sum(F.col("e_t") * F.col("e_tk")).cast("long").alias("num"))
    )
    den = d.groupBy("nkey").agg(
        F.sum(F.col("e") * F.col("e")).cast("long").alias("den")
    )
    terms = (
        lagged.join(den, "nkey")
        .filter((F.col("den") > 0) & (F.col("n") > _LB_LAGS + 1))
        .select("nkey", "n", F.expr(_LB_TERM).alias("term_nano"))
    )
    return (
        terms.groupBy("nkey", "n")
        .agg(
            F.count("*").cast("long").alias("n_lags"),
            F.sum("term_nano").cast("long").alias("sum_term_nano"),
            F.expr(
                "CAST(n * (n + 2) * SUM(term_nano) DIV 1000 AS BIGINT)"
            ).alias("q_micro"),
        )
        .orderBy("nkey")
    )


# ---------------------------------------------------------------------------
# x276 — Jarque-Bera normality test per customer segment
# ---------------------------------------------------------------------------

# shared sub-chains over the exact kilodollar power sums (the x253
# raw-moment expansion), then JB = n * (g1^2/6 + g2^2/24) in milli.
_JB_M2 = (
    "((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
    " / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))"
)
_JB_G1 = (
    "(((CAST(s3 AS DOUBLE) - 3.0 * CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)"
    " / CAST(n AS DOUBLE) + 2.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
    " * CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
    f" / CAST(n AS DOUBLE)) / pow({_JB_M2}, 1.5))"
)
_JB_G2 = (
    "(((CAST(s4 AS DOUBLE) - 4.0 * CAST(s1 AS DOUBLE) * CAST(s3 AS DOUBLE)"
    " / CAST(n AS DOUBLE) + 6.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
    " * CAST(s2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))"
    " - 3.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
    " * CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
    f" * CAST(n AS DOUBLE))) / CAST(n AS DOUBLE)) / pow({_JB_M2}, 2.0)"
    " - 3.0)"
)
_JB_STAT = (
    f"CAST(floor(1000.0 * CAST(n AS DOUBLE) * ({_JB_G1} * {_JB_G1} / 6.0"
    f" + {_JB_G2} * {_JB_G2} / 24.0)) AS BIGINT)"
)

_JB_ORACLE = f"""
WITH {SEGMENT_ORDER_KILOS_CTE},
s AS (
    SELECT segment, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS s1,
           CAST(SUM(x * x) AS BIGINT) AS s2,
           CAST(SUM(x * x * x) AS BIGINT) AS s3,
           CAST(SUM(x * x * x * x) AS BIGINT) AS s4
    FROM k GROUP BY segment
)
SELECT segment, n, s1, s2, s3, s4,
       CAST(floor(1000.0 * {_JB_G1}) AS BIGINT) AS skew_milli,
       CAST(floor(1000.0 * {_JB_G2}) AS BIGINT) AS exkurt_milli,
       {_JB_STAT} AS jb_milli
FROM s WHERE n >= 4 AND n * s2 > s1 * s1
ORDER BY segment
"""


@q(
    "x276_jarque_bera",
    "OP-G6-ext",
    "Jarque-Bera normality test per customer segment over order value "
    "in exact KILODOLLAR power sums (the x253 overflow-safe moment "
    "idiom: x^4 * rows stays far under 2^63 at 100x): sample skewness "
    "g1 and excess kurtosis g2 from the raw-moment expansions, "
    "JB = n*(g1^2/6 + g2^2/24), all through ONE shared IEEE chain "
    "floored to milli. The formal yes/no companion of x253's "
    "descriptive moments — the gate before any z-test/CI that assumes "
    "normal order values (x160/x182 power math). Scale: one "
    "segment-keyed hash-agg with map-side partials; the test algebra "
    "runs on the 5-row segment frame.",
    _JB_ORACLE,
)
def x276_jarque_bera(spark, sf_dir):
    k = segment_order_kilos(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "customer")
    )
    s = k.groupBy("segment").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.expr("x * x")).cast("long").alias("s2"),
        F.sum(F.expr("x * x * x")).cast("long").alias("s3"),
        F.sum(F.expr("x * x * x * x")).cast("long").alias("s4"),
    )
    return (
        s.filter(
            (F.col("n") >= 4)
            & (F.col("n") * F.col("s2") > F.col("s1") * F.col("s1"))
        )
        .select(
            "segment",
            "n",
            "s1",
            "s2",
            "s3",
            "s4",
            F.expr(f"CAST(floor(1000.0 * {_JB_G1}) AS BIGINT)").alias(
                "skew_milli"
            ),
            F.expr(f"CAST(floor(1000.0 * {_JB_G2}) AS BIGINT)").alias(
                "exkurt_milli"
            ),
            F.expr(_JB_STAT).alias("jb_milli"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# x287 — peaks-over-threshold GPD tail fit of daily revenue
# ---------------------------------------------------------------------------

# GPD method of moments over the exceedance mean/variance:
#   xi   = (1 - mean^2/var) / 2
#   beta = mean * (mean^2/var + 1) / 2
_POT_MEAN = "(CAST(s1 AS DOUBLE) / CAST(n_exc AS DOUBLE))"
_POT_VAR = (
    "((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
    " / CAST(n_exc AS DOUBLE)) / CAST(n_exc AS DOUBLE))"
)
_POT_XI = (
    f"CAST(floor(1000.0 * (1.0 - {_POT_MEAN} * {_POT_MEAN} / {_POT_VAR})"
    " / 2.0) AS BIGINT)"
)
_POT_BETA = (
    f"CAST(floor(1000.0 * {_POT_MEAN}"
    f" * ({_POT_MEAN} * {_POT_MEAN} / {_POT_VAR} + 1.0) / 2.0) AS BIGINT)"
)

_POT_ORACLE = f"""
WITH {DAILY_REVENUE_CTE},
rk AS (
    SELECT x, row_number() OVER (ORDER BY x, d) AS r,
           CAST(count(*) OVER () AS BIGINT) AS n
    FROM daily
),
thr AS (
    SELECT x AS u, n FROM rk
    WHERE r = CAST(ceil(0.95 * CAST(n AS DOUBLE)) AS BIGINT)
),
exc AS (
    SELECT daily.x - thr.u AS y, thr.u, thr.n
    FROM daily JOIN thr ON daily.x > thr.u
),
s AS (
    SELECT u, n AS n_days, CAST(count(*) AS BIGINT) AS n_exc,
           CAST(SUM(y) AS BIGINT) AS s1,
           CAST(SUM(y * y) AS BIGINT) AS s2
    FROM exc GROUP BY u, n
)
SELECT u AS threshold_kd, n_days, n_exc, s1, s2,
       {_POT_XI} AS xi_milli,
       {_POT_BETA} AS beta_milli
FROM s WHERE n_exc >= 2 AND n_exc * s2 > s1 * s1
"""


@q(
    "x287_pot_gpd",
    "OP-G6/T-ext",
    "Peaks-over-threshold tail fit of daily revenue: the threshold is "
    "the EXACT rank-picked 95th percentile (ceil(0.95n), ties broken "
    "by day — an integer comparison, engine-identical), exceedance "
    "moments are exact BIGINT kilodollars, and the GPD "
    "method-of-moments shape/scale (xi, beta) come out of one shared "
    "IEEE chain in milli. xi > 0 flags a polynomially heavy tail — "
    "the regime where x260's Gumbel block-maxima fit UNDERSTATES "
    "extremes, so the pair together bound the tail honestly. Scale: "
    "day agg -> rank pick on the bounded daily frame -> one "
    "broadcast-threshold filter + moment agg; no corpus-sized "
    "window.",
    _POT_ORACLE,
)
def x287_pot_gpd(spark, sf_dir):
    daily = daily_order_revenue(load_table(spark, sf_dir, "orders"))
    wr = Window.partitionBy().orderBy("x", "d")
    rk = daily.select(
        "x",
        F.row_number().over(wr).alias("r"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("n"),
    )
    thr = rk.filter(
        F.col("r")
        == F.expr("CAST(ceil(0.95 * CAST(n AS DOUBLE)) AS BIGINT)")
    ).select(F.col("x").alias("u"), F.col("n"))
    exc = daily.join(F.broadcast(thr), daily.x > thr.u).select(
        (F.col("x") - F.col("u")).cast("long").alias("y"), "u", "n"
    )
    s = exc.groupBy("u", "n").agg(
        F.count("*").cast("long").alias("n_exc"),
        F.sum("y").cast("long").alias("s1"),
        F.sum(F.expr("y * y")).cast("long").alias("s2"),
    )
    return s.filter(
        (F.col("n_exc") >= 2)
        & (F.col("n_exc") * F.col("s2") > F.col("s1") * F.col("s1"))
    ).select(
        F.col("u").alias("threshold_kd"),
        F.col("n").alias("n_days"),
        "n_exc",
        "s1",
        "s2",
        F.expr(_POT_XI).alias("xi_milli"),
        F.expr(_POT_BETA).alias("beta_milli"),
    )


# ---------------------------------------------------------------------------
# x288 — lognormal fit of order value per segment
# ---------------------------------------------------------------------------

# per-row ln(dollars) floored to integer MILLIS: ln(x) <= ~13 for any
# plausible order, so ln_milli <= ~13000, ln_milli^2 <= 1.7e8, and the
# squared sum stays under 2^63 past 1e10 rows — the documented
# granularity/overflow trade (nano would overflow the square).
_LN_MILLI = (
    "CAST(floor(1000.0 * ln(CAST(cents AS DOUBLE) / 100.0)) AS BIGINT)"
)
_LOGN_MU = "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 1000.0)"
_LOGN_SIGMA = (
    "sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
    " / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) / 1000.0"
)

_LOGN_ORACLE = f"""
WITH k AS (
    SELECT c.c_mktsegment AS segment,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE CAST(round(o.o_totalprice * 100) AS BIGINT) > 0
),
lm AS (
    SELECT segment, {_LN_MILLI} AS ln_milli FROM k
),
s AS (
    SELECT segment, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(ln_milli) AS BIGINT) AS s1,
           CAST(SUM(ln_milli * ln_milli) AS BIGINT) AS s2
    FROM lm GROUP BY segment
)
SELECT segment, n, s1, s2,
       CAST(floor(1000000.0 * {_LOGN_MU}) AS BIGINT) AS mu_micro,
       CAST(floor(1000000.0 * ({_LOGN_SIGMA})) AS BIGINT) AS sigma_micro
FROM s WHERE n >= 2
  AND CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
      > CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
ORDER BY segment
"""


@q(
    "x288_lognormal_fit",
    "OP-G6-ext",
    "Lognormal fit of order value per segment: per-row ln(dollars) "
    "floored to integer MILLIS (the documented granularity/overflow "
    "trade — (ln_milli)^2 * rows stays far under 2^63 at any corpus "
    "size, where nano terms would overflow the square), mu and sigma "
    "of the log domain from the exact milli sums through one shared "
    "IEEE chain in micro. The first-choice heavy-tail MODEL (x254's "
    "Hill index measures the tail; this fits the body+tail in one "
    "two-parameter family, and mu/sigma feed capacity planning "
    "percentile math). Scale: one segment-keyed hash-agg with "
    "map-side partials over per-row integer terms.",
    _LOGN_ORACLE,
)
def x288_lognormal_fit(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    k = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias(
                "cents"
            ),
        )
        .filter(F.col("cents") > 0)
    )
    lm = k.select("segment", F.expr(_LN_MILLI).alias("ln_milli"))
    s = lm.groupBy("segment").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("ln_milli").cast("long").alias("s1"),
        F.sum(F.expr("ln_milli * ln_milli")).cast("long").alias("s2"),
    )
    return (
        s.filter(
            (F.col("n") >= 2)
            & F.expr(
                "CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)"
                " > CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
            )
        )
        .select(
            "segment",
            "n",
            "s1",
            "s2",
            F.expr(
                f"CAST(floor(1000000.0 * {_LOGN_MU}) AS BIGINT)"
            ).alias("mu_micro"),
            F.expr(
                f"CAST(floor(1000000.0 * ({_LOGN_SIGMA})) AS BIGINT)"
            ).alias("sigma_micro"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# x289 — Dickey-Fuller unit-root t-statistic of daily revenue
# ---------------------------------------------------------------------------

# OLS of dy_t on y_{t-1} with constant, over sequence-adjacent pairs:
#   gamma = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)
#   SSE   = Syy - Sy^2/n - gamma^2 * (Sxx - Sx^2/n)
#   t     = gamma / sqrt((SSE/(n-2)) / (Sxx - Sx^2/n))
_DF_NUM = (
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
)
_DF_DEN = (
    "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
)
_DF_GAMMA = f"({_DF_NUM} / {_DF_DEN})"
_DF_VARX = (
    "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
    " / CAST(n AS DOUBLE))"
)
_DF_SSE = (
    "(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)"
    f" / CAST(n AS DOUBLE) - {_DF_GAMMA} * {_DF_GAMMA} * {_DF_VARX})"
)
_DF_T = (
    f"CAST(floor(1000.0 * {_DF_GAMMA}"
    f" / sqrt(({_DF_SSE} / CAST(n - 2 AS DOUBLE)) / {_DF_VARX}))"
    " AS BIGINT)"
)

_DF_ORACLE = f"""
WITH {DAILY_REVENUE_CTE},
seq AS (
    SELECT x, row_number() OVER (ORDER BY d) AS t FROM daily
),
pair AS (
    SELECT b.x AS x_prev, a.x - b.x AS dy
    FROM seq a JOIN seq b ON b.t = a.t - 1
),
s AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(x_prev) AS BIGINT) AS sx,
           CAST(SUM(dy) AS BIGINT) AS sy,
           CAST(SUM(x_prev * x_prev) AS BIGINT) AS sxx,
           CAST(SUM(x_prev * dy) AS BIGINT) AS sxy,
           CAST(SUM(dy * dy) AS BIGINT) AS syy
    FROM pair
)
SELECT n, sx, sy, sxx, sxy, syy,
       CAST(floor(1000000.0 * {_DF_GAMMA}) AS BIGINT) AS gamma_micro,
       {_DF_T} AS df_t_milli
FROM s
WHERE n >= 3 AND {_DF_DEN} > 0 AND {_DF_SSE} > 0
"""


@q(
    "x289_dickey_fuller",
    "OP-W3/G6-ext",
    "Dickey-Fuller unit-root t-statistic of the observed daily-revenue "
    "sequence (constant + lag term): dy_t regressed on y_{t-1} over "
    "sequence-adjacent pairs (row_number alignment — the x171 "
    "convention for gapped calendars), every OLS sum an exact BIGINT "
    "over kilodollar units, gamma and its t through one shared IEEE "
    "chain (micro/milli). A t far below ~-2.9 rejects the random "
    "walk — the stationarity gate in front of x171's ACF, x275's "
    "Ljung-Box and x148's level forecast, all of which assume "
    "mean-reversion to be meaningful. Scale: day agg -> bounded "
    "daily frame; the pair join and OLS sums run on <=|days| rows.",
    _DF_ORACLE,
)
def x289_dickey_fuller(spark, sf_dir):
    daily = daily_order_revenue(load_table(spark, sf_dir, "orders"))
    wt = Window.partitionBy().orderBy("d")
    seq = daily.select("x", F.row_number().over(wt).alias("t"))
    a = seq.select(F.col("x").alias("x_cur"), F.col("t"))
    b = seq.select(F.col("x").alias("x_prev"), F.col("t").alias("tb"))
    pair = a.join(b, F.col("tb") == F.col("t") - 1).select(
        "x_prev", (F.col("x_cur") - F.col("x_prev")).cast("long").alias("dy")
    )
    s = pair.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x_prev").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(F.expr("x_prev * x_prev")).cast("long").alias("sxx"),
        F.sum(F.expr("x_prev * dy")).cast("long").alias("sxy"),
        F.sum(F.expr("dy * dy")).cast("long").alias("syy"),
    )
    return s.filter(
        (F.col("n") >= 3)
        & (F.expr(_DF_DEN) > 0)
        & (F.expr(_DF_SSE) > 0)
    ).select(
        "n",
        "sx",
        "sy",
        "sxx",
        "sxy",
        "syy",
        F.expr(f"CAST(floor(1000000.0 * {_DF_GAMMA}) AS BIGINT)").alias(
            "gamma_micro"
        ),
        F.expr(_DF_T).alias("df_t_milli"),
    )


# ---------------------------------------------------------------------------
# x277 — exact PR-AUC (average precision) of the prior-spend ranker
# ---------------------------------------------------------------------------

# Per distinct-score group k (score desc): term = (dTP/P) * (cumTP/cum)
# nano-floored through one shared double chain (products overflow
# BIGINT at 100x, so the division chain is IEEE; the SUM of nano terms
# is exact).
_PR_TERM = (
    "CAST(floor(1000000000.0 * CAST(dtp AS DOUBLE) * CAST(cump AS DOUBLE)"
    " / (CAST(p AS DOUBLE) * CAST(cum AS DOUBLE))) AS BIGINT)"
)

_PR_ORACLE = f"""
WITH cust AS (
    SELECT c.c_custkey AS ck, c.c_mktsegment AS segment,
           COALESCE(SUM(CASE WHEN o.o_orderdate < DATE '1998-01-01'
                THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                ELSE 0 END), 0) AS score,
           MAX(CASE WHEN o.o_orderdate >= DATE '1998-01-01'
                THEN 1 ELSE 0 END) AS pos
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
),
grp AS (
    SELECT segment, score, CAST(count(*) AS BIGINT) AS cnt,
           CAST(SUM(pos) AS BIGINT) AS dtp
    FROM cust GROUP BY segment, score
),
cum AS (
    SELECT segment, score, cnt, dtp,
           SUM(cnt) OVER (PARTITION BY segment ORDER BY score DESC) AS cum,
           SUM(dtp) OVER (PARTITION BY segment ORDER BY score DESC) AS cump,
           SUM(dtp) OVER (PARTITION BY segment) AS p,
           SUM(cnt) OVER (PARTITION BY segment) AS n
    FROM grp
),
terms AS (
    SELECT segment, n, p,
           CASE WHEN dtp > 0 THEN {_PR_TERM} ELSE 0 END AS term_nano
    FROM cum
)
SELECT segment, CAST(n AS BIGINT) AS n_customers,
       CAST(p AS BIGINT) AS n_pos,
       CAST(SUM(term_nano) AS BIGINT) AS ap_nano
FROM terms WHERE p > 0
GROUP BY segment, n, p
ORDER BY segment
"""


@q(
    "x277_pr_auc",
    "OP-W2-ext",
    "Exact PR-AUC (average precision) per segment of the prior-spend "
    "ranker predicting 1998+ repurchase: customers grouped by DISTINCT "
    "score (ties form one step — the rank-free formulation, no "
    "tie-break needed), per-group term (dTP/P)*(cumTP/cum) "
    "nano-floored through one shared IEEE chain, summed exactly. THE "
    "class-imbalance companion of x241's ROC-AUC (PR-AUC degrades "
    "where ROC-AUC stays optimistic when positives are rare) and the "
    "threshold-free summary over x239's 10-bucket gains table. Scale: "
    "customer agg -> distinct-score-group agg; cumulative windows "
    "partition by SEGMENT over the score-group frame (never the raw "
    "fact table).",
    _PR_ORACLE,
)
def x277_pr_auc(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cust = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy(
            F.col("c_custkey").alias("ck"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("o_orderdate") < F.lit("1998-01-01").cast("date"),
                        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"),
                    ).otherwise(F.lit(0))
                ),
                F.lit(0),
            ).alias("score"),
            F.max(
                F.when(
                    F.col("o_orderdate") >= F.lit("1998-01-01").cast("date"),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).alias("pos"),
        )
    )
    grp = cust.groupBy("segment", "score").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("pos").cast("long").alias("dtp"),
    )
    wc = Window.partitionBy("segment").orderBy(F.col("score").desc())
    wseg = Window.partitionBy("segment")
    cum = grp.select(
        "segment",
        "dtp",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("dtp").over(wc).alias("cump"),
        F.sum("dtp").over(wseg).alias("p"),
        F.sum("cnt").over(wseg).alias("n"),
    )
    terms = cum.select(
        "segment",
        "n",
        "p",
        F.when(F.col("dtp") > 0, F.expr(_PR_TERM))
        .otherwise(F.lit(0))
        .alias("term_nano"),
    )
    return (
        terms.filter(F.col("p") > 0)
        .groupBy("segment", "n", "p")
        .agg(F.sum("term_nano").cast("long").alias("ap_nano"))
        .select(
            "segment",
            F.col("n").cast("long").alias("n_customers"),
            F.col("p").cast("long").alias("n_pos"),
            "ap_nano",
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# x291 — Cochran-Armitage trend test (urgent-order share over years)
# ---------------------------------------------------------------------------

_CA_U = (
    "(CAST(su AS DOUBLE) - CAST(stn AS DOUBLE) * CAST(r AS DOUBLE)"
    " / CAST(nn AS DOUBLE))"
)
_CA_VAR = (
    "(CAST(r AS DOUBLE) / CAST(nn AS DOUBLE)"
    " * (1.0 - CAST(r AS DOUBLE) / CAST(nn AS DOUBLE))"
    " * (CAST(sttn AS DOUBLE) - CAST(stn AS DOUBLE) * CAST(stn AS DOUBLE)"
    " / CAST(nn AS DOUBLE)))"
)
_CA_Z = (
    f"CAST(floor(1000.0 * {_CA_U} / sqrt({_CA_VAR})) AS BIGINT)"
)

_CA_ORACLE = f"""
WITH yr AS (
    SELECT CAST(year(o_orderdate) - 1992 AS BIGINT) AS t,
           CAST(count(*) AS BIGINT) AS n_i,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0
                END) AS BIGINT) AS r_i
    FROM orders GROUP BY 1
),
s AS (
    SELECT CAST(SUM(n_i) AS BIGINT) AS nn,
           CAST(SUM(r_i) AS BIGINT) AS r,
           CAST(SUM(t * r_i) AS BIGINT) AS su,
           CAST(SUM(t * n_i) AS BIGINT) AS stn,
           CAST(SUM(t * t * n_i) AS BIGINT) AS sttn,
           CAST(count(*) AS BIGINT) AS n_years
    FROM yr
)
SELECT nn, r, su, stn, sttn, n_years,
       {_CA_Z} AS z_milli
FROM s WHERE r > 0 AND r < nn
  AND CAST(nn AS DOUBLE) * CAST(sttn AS DOUBLE)
      > CAST(stn AS DOUBLE) * CAST(stn AS DOUBLE)
"""


@q(
    "x291_cochran_armitage",
    "OP-G5/G6-ext",
    "Cochran-Armitage trend test: is the urgent-order share drifting "
    "monotonically across order years? Ordered integer scores t = "
    "year-1992, per-year counts (n_i, r_i) exact BIGINT, the score "
    "moments su/stn/sttn exact, and z through ONE shared IEEE chain "
    "in milli. The ORDERED-categories complement of x116's chi-square "
    "(which ignores order and wastes power on monotone drift) and the "
    "proportions analog of x273's Mann-Kendall. Scale: one year-keyed "
    "hash-agg over orders (map-side partials), then scalar algebra on "
    "the 7-row year frame.",
    _CA_ORACLE,
)
def x291_cochran_armitage(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    yr = o.groupBy(
        (F.year("o_orderdate") - F.lit(1992)).cast("long").alias("t")
    ).agg(
        F.count("*").cast("long").alias("n_i"),
        F.sum(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        )
        .cast("long")
        .alias("r_i"),
    )
    s = yr.agg(
        F.sum("n_i").cast("long").alias("nn"),
        F.sum("r_i").cast("long").alias("r"),
        F.sum(F.expr("t * r_i")).cast("long").alias("su"),
        F.sum(F.expr("t * n_i")).cast("long").alias("stn"),
        F.sum(F.expr("t * t * n_i")).cast("long").alias("sttn"),
        F.count("*").cast("long").alias("n_years"),
    )
    return s.filter(
        (F.col("r") > 0)
        & (F.col("r") < F.col("nn"))
        & F.expr(
            "CAST(nn AS DOUBLE) * CAST(sttn AS DOUBLE)"
            " > CAST(stn AS DOUBLE) * CAST(stn AS DOUBLE)"
        )
    ).select(
        "nn", "r", "su", "stn", "sttn", "n_years",
        F.expr(_CA_Z).alias("z_milli"),
    )


# ---------------------------------------------------------------------------
# x292 — covariate-balance audit (standardized mean differences)
# ---------------------------------------------------------------------------

# SMD = (m1 - m0) / sqrt((v1 + v0) / 2), per covariate, milli-floored
# through one shared chain over the exact per-arm moment sums.
_SMD_MEAN1 = "(CAST(s1_1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
_SMD_MEAN0 = "(CAST(s1_0 AS DOUBLE) / CAST(n0 AS DOUBLE))"
_SMD_V1 = (
    "((CAST(s2_1 AS DOUBLE) - CAST(s1_1 AS DOUBLE) * CAST(s1_1 AS DOUBLE)"
    " / CAST(n1 AS DOUBLE)) / CAST(n1 AS DOUBLE))"
)
_SMD_V0 = (
    "((CAST(s2_0 AS DOUBLE) - CAST(s1_0 AS DOUBLE) * CAST(s1_0 AS DOUBLE)"
    " / CAST(n0 AS DOUBLE)) / CAST(n0 AS DOUBLE))"
)
_SMD_MILLI = (
    f"CAST(floor(1000.0 * ({_SMD_MEAN1} - {_SMD_MEAN0})"
    f" / sqrt(({_SMD_V1} + {_SMD_V0}) / 2.0)) AS BIGINT)"
)

_SMD_ORACLE = f"""
WITH cust AS (
    SELECT c.c_custkey AS ck,
           CASE WHEN substr(md5(CAST(c.c_custkey AS VARCHAR)), 1, 1)
                IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE 0 END
               AS treated,
           CAST(round(c.c_acctbal * 100) AS BIGINT) AS acct_cents,
           COALESCE(CAST(count(o.o_orderkey) AS BIGINT), 0) AS n_orders,
           COALESCE(CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
                AS BIGINT), 0) // 100000 AS spend_kd
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2, 3
),
long_f AS (
    SELECT treated, 'acctbal_cents' AS covariate, acct_cents AS x FROM cust
    UNION ALL
    SELECT treated, 'n_orders', n_orders FROM cust
    UNION ALL
    SELECT treated, 'spend_kd', spend_kd FROM cust
),
arms AS (
    SELECT covariate,
           CAST(SUM(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
           CAST(SUM(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n0,
           CAST(SUM(CASE WHEN treated = 1 THEN x ELSE 0 END) AS BIGINT)
               AS s1_1,
           CAST(SUM(CASE WHEN treated = 0 THEN x ELSE 0 END) AS BIGINT)
               AS s1_0,
           CAST(SUM(CASE WHEN treated = 1 THEN x * x ELSE 0 END)
                AS BIGINT) AS s2_1,
           CAST(SUM(CASE WHEN treated = 0 THEN x * x ELSE 0 END)
                AS BIGINT) AS s2_0
    FROM long_f GROUP BY covariate
)
SELECT covariate, n1, n0, s1_1, s1_0,
       {_SMD_MILLI} AS smd_milli
FROM arms
WHERE n1 >= 2 AND n0 >= 2
  AND CAST(n1 AS DOUBLE) * CAST(s2_1 AS DOUBLE)
      > CAST(s1_1 AS DOUBLE) * CAST(s1_1 AS DOUBLE)
  AND CAST(n0 AS DOUBLE) * CAST(s2_0 AS DOUBLE)
      > CAST(s1_0 AS DOUBLE) * CAST(s1_0 AS DOUBLE)
ORDER BY covariate
"""


@q(
    "x292_smd_balance",
    "OP-G6-ext",
    "Covariate-balance audit for a deterministic md5 ~50% customer "
    "split: standardized mean difference per covariate (account "
    "balance cents, order count, lifetime spend in KILODOLLARS — the "
    "documented unit choice that keeps x^2 sums far under 2^63 at "
    "any scale; spend is nonnegative so the floor-division is "
    "engine-identical; the variance guards compare in DOUBLE because "
    "n*s2 and s1^2 individually overflow BIGINT at 100x), through "
    "one shared IEEE chain in milli. THE "
    "pre-experiment gate in the causal stack: x220's SRM catches "
    "broken allocation counts, this catches broken allocation "
    "COMPOSITION (|SMD| > 0.1 means x225/x226's effect estimates are "
    "confounded). Scale: customer-keyed agg -> 3-row-per-customer "
    "unpivot -> one covariate-keyed moment agg with map-side "
    "partials.",
    _SMD_ORACLE,
)
def x292_smd_balance(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cust = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy(
            F.col("c_custkey").alias("ck"),
            F.when(
                F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 1)
                .isin(*"01234567"),
                1,
            )
            .otherwise(0)
            .alias("treated"),
            F.expr("CAST(round(c_acctbal * 100) AS BIGINT)").alias(
                "acct_cents"
            ),
        )
        .agg(
            F.coalesce(F.count("o_orderkey"), F.lit(0))
            .cast("long")
            .alias("n_orders"),
            F.expr(
                "COALESCE(CAST(SUM(CAST(round(o_totalprice * 100) AS"
                " BIGINT)) AS BIGINT), 0) DIV 100000"
            ).alias("spend_kd"),
        )
    )
    long_f = (
        cust.select(
            "treated",
            F.lit("acctbal_cents").alias("covariate"),
            F.col("acct_cents").alias("x"),
        )
        .unionByName(
            cust.select(
                "treated",
                F.lit("n_orders").alias("covariate"),
                F.col("n_orders").alias("x"),
            )
        )
        .unionByName(
            cust.select(
                "treated",
                F.lit("spend_kd").alias("covariate"),
                F.col("spend_kd").alias("x"),
            )
        )
    )
    t1 = F.when(F.col("treated") == 1, F.col("x")).otherwise(F.lit(0))
    t0 = F.when(F.col("treated") == 0, F.col("x")).otherwise(F.lit(0))
    arms = long_f.groupBy("covariate").agg(
        F.sum(F.when(F.col("treated") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("treated") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n0"),
        F.sum(t1).cast("long").alias("s1_1"),
        F.sum(t0).cast("long").alias("s1_0"),
        F.sum(t1 * F.col("x")).cast("long").alias("s2_1"),
        F.sum(t0 * F.col("x")).cast("long").alias("s2_0"),
    )
    return (
        arms.filter(
            (F.col("n1") >= 2)
            & (F.col("n0") >= 2)
            & F.expr(
                "CAST(n1 AS DOUBLE) * CAST(s2_1 AS DOUBLE)"
                " > CAST(s1_1 AS DOUBLE) * CAST(s1_1 AS DOUBLE)"
            )
            & F.expr(
                "CAST(n0 AS DOUBLE) * CAST(s2_0 AS DOUBLE)"
                " > CAST(s1_0 AS DOUBLE) * CAST(s1_0 AS DOUBLE)"
            )
        )
        .select(
            "covariate", "n1", "n0", "s1_1", "s1_0",
            F.expr(_SMD_MILLI).alias("smd_milli"),
        )
        .orderBy("covariate")
    )


# ---------------------------------------------------------------------------
# x296 — Fleiss' kappa across three deterministic document judges
# ---------------------------------------------------------------------------

# Binary Fleiss with J=3 raters: S = sum r_i, T = sum [r(r-1)+(3-r)(2-r)];
#   kappa = (3nT - 2(S^2+(3n-S)^2)) / (18n^2 - 2(S^2+(3n-S)^2)),
# exact ppm with the x205 signed-division CASE (kappa can be negative).
_FK_NUM = "(3 * n * t - 2 * (s * s + (3 * n - s) * (3 * n - s)))"
_FK_DEN = "(18 * n * n - 2 * (s * s + (3 * n - s) * (3 * n - s)))"
_FK_PPM = (
    f"CAST(CASE WHEN {_FK_NUM} >= 0"
    f" THEN {_FK_NUM} * 1000000 // {_FK_DEN}"
    f" ELSE -((-{_FK_NUM}) * 1000000 // {_FK_DEN}) END AS BIGINT)"
)

_FK_ORACLE = f"""
WITH judged AS (
    SELECT (CASE WHEN n_chars BETWEEN 200 AND 5000 THEN 1 ELSE 0 END
          + CASE WHEN length(text) - length(replace(text, ' ', '')) + 1
                      BETWEEN 40 AND 1000 THEN 1 ELSE 0 END
          + CASE WHEN length(replace(replace(replace(text, '.', ''),
                      ',', ''), '!', '')) * 100 >= length(text) * 95
                 THEN 1 ELSE 0 END) AS r
    FROM documents
),
s AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(r) AS BIGINT) AS s,
           CAST(SUM(r * (r - 1) + (3 - r) * (2 - r)) AS BIGINT) AS t
    FROM judged
)
SELECT n, s, t,
       CAST(t * 1000000 // (6 * n) AS BIGINT) AS pbar_ppm,
       {_FK_PPM.replace('//', '//')} AS kappa_ppm
FROM s WHERE n > 0 AND {_FK_DEN} > 0
"""


@q(
    "x296_fleiss_kappa",
    "OP-G5/X4-ext",
    "Fleiss' kappa across THREE deterministic document judges (x205's "
    "length + token-count judges plus a punctuation-density judge): "
    "per-document positive-rating count r in 0..3, pairwise-agreement "
    "sum T = sum[r(r-1)+(3-r)(2-r)] exact BIGINT, kappa as one exact "
    "rational in ppm with the x205 signed-division CASE (floor vs "
    "truncate diverge on negatives). The MULTI-rater generalization "
    "x205's pairwise kappa and x252's McNemar cannot give: one number "
    "for 'do the J quality classifiers agree beyond chance'. Bounds: "
    "18n^2 * 1e6 at 100x sf0.1 (500k docs) = 4.5e18 < 2^63. Scale: "
    "one map-side-combinable global agg over documents, scalar "
    "algebra on the 1-row frame.",
    _FK_ORACLE,
)
def x296_fleiss_kappa(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    ja = F.when(F.col("n_chars").between(200, 5000), 1).otherwise(0)
    jb = F.when(
        (
            F.length("text")
            - F.length(F.regexp_replace("text", " ", ""))
            + 1
        ).between(40, 1000),
        1,
    ).otherwise(0)
    jc = F.when(
        F.length(
            F.regexp_replace("text", r"[.,!]", "")
        )
        * 100
        >= F.length("text") * 95,
        1,
    ).otherwise(0)
    judged = d.select((ja + jb + jc).alias("r"))
    s = judged.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("r").cast("long").alias("s"),
        F.sum(F.expr("r * (r - 1) + (3 - r) * (2 - r)"))
        .cast("long")
        .alias("t"),
    )
    return s.filter((F.col("n") > 0) & (F.expr(_FK_DEN) > 0)).select(
        "n",
        "s",
        "t",
        F.expr("CAST(t * 1000000 DIV (6 * n) AS BIGINT)").alias("pbar_ppm"),
        F.expr(_FK_PPM.replace("//", "DIV")).alias("kappa_ppm"),
    )


# ---------------------------------------------------------------------------
# x297 — Cramér's V association matrix over order/line categoricals
# ---------------------------------------------------------------------------

# chi^2 via per-cell terms obs^2/(row_tot*col_tot) nano-floored (the
# x116 idiom generalized to a pairwise matrix), then
# chi2 = N * (sum_nano/1e9 - 1), V = sqrt(chi2 / (N * min(r-1, c-1))).
_CV_CELL = (
    "CAST(floor(1000000000.0 * CAST(obs AS DOUBLE) * CAST(obs AS DOUBLE)"
    " / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))) AS BIGINT)"
)
_CV_CHI2 = (
    "(CAST(nn AS DOUBLE) * (CAST(sum_nano AS DOUBLE) / 1000000000.0 - 1.0))"
)
_CV_V = (
    f"CAST(floor(1000.0 * sqrt({_CV_CHI2}"
    " / (CAST(nn AS DOUBLE) * CAST(dof_min AS DOUBLE)))) AS BIGINT)"
)


def _cv_pair_sql(pair: str, a: str, b: str) -> str:
    return f"""
SELECT '{pair}' AS pair, {a} AS av, {b} AS bv,
       CAST(count(*) AS BIGINT) AS obs
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1, 2, 3"""


_CV_ORACLE = f"""
WITH cells AS (
    {_cv_pair_sql("priority_x_returnflag", "o.o_orderpriority", "l.l_returnflag")}
    UNION ALL
    {_cv_pair_sql("priority_x_linestatus", "o.o_orderpriority", "l.l_linestatus")}
    UNION ALL
    {_cv_pair_sql("returnflag_x_linestatus", "l.l_returnflag", "l.l_linestatus")}
),
tot AS (
    SELECT pair, av, bv, obs,
           SUM(obs) OVER (PARTITION BY pair, av) AS rt,
           SUM(obs) OVER (PARTITION BY pair, bv) AS ct,
           SUM(obs) OVER (PARTITION BY pair) AS nn
    FROM cells
),
marg AS (
    SELECT pair, CAST(MAX(nn) AS BIGINT) AS nn,
           CAST(count(DISTINCT av) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT bv) AS BIGINT) AS n_cols,
           CAST(SUM({_CV_CELL}) AS BIGINT) AS sum_nano
    FROM tot GROUP BY pair
),
fin AS (
    SELECT pair, nn, n_rows, n_cols, sum_nano,
           CASE WHEN n_rows <= n_cols THEN n_rows - 1 ELSE n_cols - 1 END
               AS dof_min
    FROM marg
)
SELECT pair, nn, n_rows, n_cols, sum_nano,
       CAST(floor(1000.0 * {_CV_CHI2}) AS BIGINT) AS chi2_milli,
       {_CV_V} AS v_milli
FROM fin WHERE dof_min >= 1 AND sum_nano >= 1000000000
ORDER BY pair
"""


@q(
    "x297_cramers_v_matrix",
    "OP-G5/G6-ext",
    "Cramér's V association matrix over the three order/line "
    "categorical pairs (priority x shipmode, priority x returnflag, "
    "shipmode x returnflag): per-cell obs^2/(row*col) terms "
    "nano-floored (the x116 chi-square idiom generalized to a "
    "matrix), chi2 and V through one shared IEEE chain in milli. "
    "x116 tests ONE pair for independence; this ranks ALL pairs on a "
    "comparable 0..1 effect-size scale — the feature-redundancy "
    "screen a modeler reads before one-hot-encoding correlated "
    "categoricals (x207's near-zero-variance screen's bivariate "
    "sibling). Scale: three cell aggs off ONE fact join (map-side "
    "partials, bounded 5x7-ish cell frames); windows run over the "
    "cell frames only.",
    _CV_ORACLE,
)
def x297_cramers_v_matrix(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority", "l_returnflag", "l_linestatus"
    )

    def pair(name, a, b):
        return (
            j.groupBy(F.col(a).alias("av"), F.col(b).alias("bv"))
            .agg(F.count("*").cast("long").alias("obs"))
            .select(F.lit(name).alias("pair"), "av", "bv", "obs")
        )

    cells = (
        pair("priority_x_returnflag", "o_orderpriority", "l_returnflag")
        .unionByName(
            pair("priority_x_linestatus", "o_orderpriority", "l_linestatus")
        )
        .unionByName(
            pair("returnflag_x_linestatus", "l_returnflag", "l_linestatus")
        )
    )
    tot = cells.select(
        "pair",
        "av",
        "bv",
        "obs",
        F.sum("obs").over(Window.partitionBy("pair", "av")).alias("rt"),
        F.sum("obs").over(Window.partitionBy("pair", "bv")).alias("ct"),
        F.sum("obs").over(Window.partitionBy("pair")).alias("nn"),
    )
    marg = tot.groupBy("pair").agg(
        F.max("nn").cast("long").alias("nn"),
        F.countDistinct("av").cast("long").alias("n_rows"),
        F.countDistinct("bv").cast("long").alias("n_cols"),
        F.sum(F.expr(_CV_CELL)).cast("long").alias("sum_nano"),
    )
    fin = marg.withColumn(
        "dof_min",
        F.expr(
            "CASE WHEN n_rows <= n_cols THEN n_rows - 1 ELSE n_cols - 1 END"
        ),
    )
    return (
        fin.filter(
            (F.col("dof_min") >= 1) & (F.col("sum_nano") >= 1_000_000_000)
        )
        .select(
            "pair",
            "nn",
            "n_rows",
            "n_cols",
            "sum_nano",
            F.expr(f"CAST(floor(1000.0 * {_CV_CHI2}) AS BIGINT)").alias(
                "chi2_milli"
            ),
            F.expr(_CV_V).alias("v_milli"),
        )
        .orderBy("pair")
    )


# ---------------------------------------------------------------------------
# x279 — Grubbs extreme-outlier statistic per brand
# ---------------------------------------------------------------------------

_GR_SD = (
    "sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
    " / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE))"
)
_GR_GMAX = (
    "CAST(floor(1000.0 * (CAST(mx AS DOUBLE) - CAST(s1 AS DOUBLE)"
    f" / CAST(n AS DOUBLE)) / {_GR_SD}) AS BIGINT)"
)
_GR_GMIN = (
    "CAST(floor(1000.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" - CAST(mn AS DOUBLE)) / {_GR_SD}) AS BIGINT)"
)

_GR_ORACLE = f"""
WITH k AS (
    SELECT p.p_brand AS brand,
           CAST(round(l.l_extendedprice * 100) AS BIGINT) // 100000 AS x
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
s AS (
    SELECT brand, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS s1,
           CAST(SUM(x * x) AS BIGINT) AS s2,
           CAST(MAX(x) AS BIGINT) AS mx,
           CAST(MIN(x) AS BIGINT) AS mn
    FROM k GROUP BY brand
)
SELECT brand, n, s1, s2, mx, mn,
       {_GR_GMAX} AS g_max_milli,
       {_GR_GMIN} AS g_min_milli
FROM s WHERE n >= 3
  AND CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
      > CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
ORDER BY brand
"""


@q(
    "x279_grubbs_test",
    "OP-G6-ext",
    "Grubbs extreme-outlier statistic per brand over line price in "
    "exact kilodollars (the x253 unit): G_max = (max - mean)/s and "
    "G_min = (mean - min)/s from the exact moment/extreme BIGINTs "
    "through one shared IEEE chain (sample sd, n-1) in milli. The "
    "single-most-extreme-point test: x124's Tukey fences flag ALL "
    "tail points (many, in a heavy tail); Grubbs asks whether THE "
    "most extreme one is inconsistent with the rest — the right "
    "question for a corrupted-row hunt where exactly one bad record "
    "is suspected. Scale: one brand-keyed hash-agg (sum/sumsq/max/"
    "min all partial-aggregatable map-side), scalar algebra on the "
    "<=|brands| frame.",
    _GR_ORACLE,
)
def x279_grubbs_test(spark, sf_dir):
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
        F.max("x").cast("long").alias("mx"),
        F.min("x").cast("long").alias("mn"),
    )
    return (
        s.filter(
            (F.col("n") >= 3)
            & F.expr(
                "CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)"
                " > CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
            )
        )
        .select(
            "brand",
            "n",
            "s1",
            "s2",
            "mx",
            "mn",
            F.expr(_GR_GMAX).alias("g_max_milli"),
            F.expr(_GR_GMIN).alias("g_min_milli"),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# x280 — functional-dependency audit across candidate warehouse FDs
# ---------------------------------------------------------------------------


def _fd_sql(name: str, table: str, lhs: str, rhs: str) -> str:
    return f"""
SELECT '{name}' AS fd,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violating,
       CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS violation_ppm
FROM (
    SELECT {lhs}, CAST(count(DISTINCT {rhs}) AS BIGINT) AS n_rhs
    FROM {table} GROUP BY {lhs}
)"""


_FD_ORACLE = f"""
{_fd_sql("lineitem_part_to_supp", "lineitem", "l_partkey", "l_suppkey")}
UNION ALL
{_fd_sql("orders_cust_to_priority", "orders", "o_custkey", "o_orderpriority")}
UNION ALL
{_fd_sql("part_brand_to_type", "part", "p_brand", "p_type")}
ORDER BY fd
"""


@q(
    "x280_fd_violations",
    "OP-G5/J-ext",
    "Functional-dependency audit across three candidate warehouse FDs "
    "(l_partkey->l_suppkey, o_custkey->o_orderpriority, "
    "p_brand->p_type): per LHS key the distinct-RHS count, keys with "
    ">1 RHS are violations, violation rate in exact ppm. THE "
    "denormalization/quality screen x181's referential-integrity "
    "audit does not cover — x181 asks 'does the key EXIST', this asks "
    "'does the attribute DEPEND on the key' (a broken ETL that "
    "duplicates keys with divergent attributes trips this first). "
    "Scale: one (lhs)-keyed count-distinct agg per FD (partial "
    "aggregation map-side), then a 1-row-per-FD rollup; no joins, no "
    "windows.",
    _FD_ORACLE,
)
def x280_fd_violations(spark, sf_dir):
    def fd(name, df, lhs, rhs):
        per_key = df.groupBy(lhs).agg(
            F.countDistinct(rhs).cast("long").alias("n_rhs")
        )
        return per_key.agg(
            F.lit(name).alias("fd"),
            F.count("*").cast("long").alias("n_keys"),
            F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_violating"),
            F.expr(
                "CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END)"
                " * 1000000 DIV count(*) AS BIGINT)"
            ).alias("violation_ppm"),
        )

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    return (
        fd("lineitem_part_to_supp", li, "l_partkey", "l_suppkey")
        .unionByName(
            fd("orders_cust_to_priority", o, "o_custkey", "o_orderpriority")
        )
        .unionByName(fd("part_brand_to_type", p, "p_brand", "p_type"))
        .orderBy("fd")
    )


# ---------------------------------------------------------------------------
# x281 — second-digit Benford deviation per segment
# ---------------------------------------------------------------------------

import math as _math

# Benford second-digit distribution, Python-computed ppm LITERALS
# injected into BOTH engines (the x102 compile-time-literal idiom):
# P(d) = sum_{k=1..9} log10(1 + 1/(10k+d)).
_B2_EXP_PPM = {
    d: int(
        1_000_000
        * sum(_math.log10(1.0 + 1.0 / (10 * k + d)) for k in range(1, 10))
    )
    for d in range(10)
}
_B2_EXP_SQL = " ".join(
    f"WHEN {d} THEN {p}" for d, p in _B2_EXP_PPM.items()
)

_B2_ORACLE = f"""
WITH v AS (
    SELECT c.c_mktsegment AS segment,
           CAST(substr(CAST(CAST(round(o.o_totalprice * 100) AS BIGINT)
                AS VARCHAR), 2, 1) AS BIGINT) AS d2
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE CAST(round(o.o_totalprice * 100) AS BIGINT) >= 10
),
dg AS (
    SELECT segment, d2, CAST(count(*) AS BIGINT) AS cnt,
           SUM(count(*)) OVER (PARTITION BY segment) AS n
    FROM v GROUP BY segment, d2
),
dev AS (
    SELECT segment, CAST(MAX(n) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN cnt * 1000000 // n
                         >= CASE d2 {_B2_EXP_SQL} END
                    THEN cnt * 1000000 // n
                         - CASE d2 {_B2_EXP_SQL} END
                    ELSE CASE d2 {_B2_EXP_SQL} END
                         - cnt * 1000000 // n END) AS BIGINT) AS tad_ppm
    FROM dg GROUP BY segment
)
SELECT segment, n, tad_ppm FROM dev ORDER BY segment
"""


@q(
    "x281_benford_second_digit",
    "OP-G5-ext",
    "Second-digit Benford conformance per segment: the second "
    "significant digit extracted by pure STRING indexing over the "
    "exact cents integer (no log/pow boundary risk — a positive "
    "BIGINT's decimal rendering is engine-identical), observed ppm "
    "vs the Python-computed Benford second-digit LITERALS (the x102 "
    "compile-time-literal idiom), total absolute deviation in exact "
    "ppm. Forensics 101: fabricated amounts often pass x90's "
    "first-digit test but fail the flatter second-digit law. Scale: "
    "one (segment, digit)-keyed hash-agg; windows run over the "
    "<=|segments x 10| digit frame.",
    _B2_ORACLE,
)
def x281_benford_second_digit(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    v = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias(
                "cents"
            ),
        )
        .filter(F.col("cents") >= 10)
        .select(
            "segment",
            F.expr(
                "CAST(substr(CAST(cents AS STRING), 2, 1) AS BIGINT)"
            ).alias("d2"),
        )
    )
    dg = (
        v.groupBy("segment", "d2")
        .agg(F.count("*").cast("long").alias("cnt"))
        .withColumn(
            "n", F.sum("cnt").over(Window.partitionBy("segment"))
        )
    )
    exp_case = f"CASE d2 {_B2_EXP_SQL} END"
    dev = dg.groupBy("segment").agg(
        F.max("n").cast("long").alias("n"),
        F.sum(
            F.expr(
                f"CASE WHEN cnt * 1000000 DIV n >= {exp_case}"
                f" THEN cnt * 1000000 DIV n - {exp_case}"
                f" ELSE {exp_case} - cnt * 1000000 DIV n END"
            )
        )
        .cast("long")
        .alias("tad_ppm"),
    )
    return dev.select("segment", "n", "tad_ppm").orderBy("segment")


# ---------------------------------------------------------------------------
# x282 — Markov transition matrix of the event-type stream
# ---------------------------------------------------------------------------

_MKV_ORACLE = """
WITH seq AS (
    SELECT user_id, event_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_type
    FROM events
),
tr AS (
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(count(*) AS BIGINT) AS cnt
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY 1, 2
)
SELECT from_type, to_type, cnt,
       CAST(cnt * 1000000 // SUM(cnt) OVER (PARTITION BY from_type)
            AS BIGINT) AS p_ppm,
       CAST(row_number() OVER (PARTITION BY from_type
                               ORDER BY cnt DESC, to_type) AS BIGINT)
           AS rank_in_row
FROM tr
ORDER BY from_type, to_type
"""


@q(
    "x282_markov_transitions",
    "OP-W3/G5-ext",
    "First-order Markov transition matrix of the per-user event-type "
    "stream: next-event via a user-partitioned lead window (total "
    "order ts, event_id — the x187 convention), transition counts "
    "exact BIGINT, row-conditional probabilities in exact ppm, plus "
    "each row's likelihood rank. The behavioral-model foundation "
    "x187's literal path strings and x36's fixed funnel both sit on "
    "top of — anomalous sessions are exactly the low-p_ppm "
    "transitions. Scale: the lead window partitions by USER (never "
    "global), the matrix agg is |etypes|^2-bounded, and row "
    "normalization windows run over that bounded frame.",
    _MKV_ORACLE,
)
def x282_markov_transitions(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type").over(wu).alias("next_type"),
    )
    tr = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    wrow = Window.partitionBy("from_type")
    wrank = Window.partitionBy("from_type").orderBy(
        F.col("cnt").desc(), "to_type"
    )
    return tr.select(
        "from_type",
        "to_type",
        "cnt",
        F.expr("cnt * 1000000").cast("long").alias("_num"),
        F.sum("cnt").over(wrow).alias("_rowtot"),
        F.row_number().over(wrank).cast("long").alias("rank_in_row"),
    ).select(
        "from_type",
        "to_type",
        "cnt",
        F.expr("CAST(_num DIV _rowtot AS BIGINT)").alias("p_ppm"),
        "rank_in_row",
    ).orderBy("from_type", "to_type")


# ---------------------------------------------------------------------------
# x283 — joint ABC x XYZ part-classification matrix
# ---------------------------------------------------------------------------

_AXM_ORACLE = """
WITH rev AS (
    SELECT l_partkey AS pk,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS cents
    FROM lineitem GROUP BY 1
),
abc AS (
    SELECT pk, cents,
           SUM(cents) OVER (ORDER BY cents DESC, pk
                            ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(cents) OVER () AS tot
    FROM rev
),
abccls AS (
    SELECT pk, cents,
           CASE WHEN cum * 10 <= tot * 7 THEN 'A'
                WHEN cum * 10 <= tot * 9 THEN 'B'
                ELSE 'C' END AS abc
    FROM abc
),
mq AS (
    SELECT l_partkey AS pk,
           CAST(date_trunc('month', l_shipdate) AS DATE) AS mon,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
    FROM lineitem GROUP BY 1, 2
),
xyz AS (
    SELECT pk,
           CASE WHEN 4 * (count(*) * SUM(q * q) - SUM(q) * SUM(q))
                     < SUM(q) * SUM(q) THEN 'X'
                WHEN count(*) * SUM(q * q) - SUM(q) * SUM(q)
                     < SUM(q) * SUM(q) THEN 'Y'
                ELSE 'Z' END AS xyz
    FROM mq GROUP BY pk
)
SELECT a.abc, x.xyz,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(SUM(a.cents) AS BIGINT) AS revenue_cents
FROM abccls a JOIN xyz x ON a.pk = x.pk
GROUP BY a.abc, x.xyz
ORDER BY a.abc, x.xyz
"""


@q(
    "x283_abc_xyz_matrix",
    "OP-G6/W4-ext",
    "Joint ABC x XYZ part-classification matrix: ABC from the "
    "cumulative revenue share over parts ranked revenue-desc "
    "(pure-integer threshold compares cum*10 <= tot*7 / tot*9 — no "
    "division), XYZ from x185's N-cleared demand-variability moment "
    "compares, joined into the 9-cell planning matrix (AX = "
    "forecast-and-automate, CZ = make-to-order) with part counts and "
    "revenue mass. The single artifact inventory planners actually "
    "read, which x112 (ABC alone) and x185 (XYZ alone) only halve. "
    "Scale: two part-keyed aggs; the ABC cumulative window over the "
    "part-level aggregate is the documented certifiable form (the "
    "x112 idiom — the x219 bucketed rank is the selectable scale "
    "path).",
    _AXM_ORACLE,
)
def x283_abc_xyz_matrix(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.expr(
            "CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))"
            " AS BIGINT)"
        ).alias("cents")
    )
    wcum = (
        Window.partitionBy()
        .orderBy(F.col("cents").desc(), "pk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy()
    abccls = rev.select(
        "pk",
        "cents",
        F.sum("cents").over(wcum).alias("cum"),
        F.sum("cents").over(wtot).alias("tot"),
    ).select(
        "pk",
        "cents",
        F.when(F.col("cum") * 10 <= F.col("tot") * 7, "A")
        .when(F.col("cum") * 10 <= F.col("tot") * 9, "B")
        .otherwise("C")
        .alias("abc"),
    )
    mq = li.groupBy(
        F.col("l_partkey").alias("pk"),
        F.date_trunc("month", "l_shipdate").cast("date").alias("mon"),
    ).agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("q"))
    s = mq.groupBy("pk").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("q").cast("long").alias("tot_q"),
        F.sum(F.expr("q * q")).cast("long").alias("sq"),
    )
    varnum = F.col("n") * F.col("sq") - F.col("tot_q") * F.col("tot_q")
    s2 = F.col("tot_q") * F.col("tot_q")
    xyz = s.select(
        "pk",
        F.when(4 * varnum < s2, "X")
        .when(varnum < s2, "Y")
        .otherwise("Z")
        .alias("xyz"),
    )
    return (
        abccls.join(xyz, "pk")
        .groupBy("abc", "xyz")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("abc", "xyz")
    )


# ---------------------------------------------------------------------------
# x284 — log-log price elasticity of demand per brand
# ---------------------------------------------------------------------------

# per-row ln terms floored to integer MILLIS (the x288 trade): exact
# BIGINT sums, slope through one shared chain.
_EL_LX = (
    "CAST(floor(1000.0 * ln(CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(round(l_discount * 100) AS BIGINT))"
    " / CAST(l_quantity AS BIGINT) / 10000.0)) AS BIGINT)"
)
_EL_LY = "CAST(floor(1000.0 * ln(CAST(l_quantity AS BIGINT))) AS BIGINT)"
_EL_SLOPE = (
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
)

_EL_ORACLE = f"""
WITH ln_t AS (
    SELECT p.p_brand AS brand,
           {_EL_LX} AS lx,
           {_EL_LY} AS ly
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_quantity >= 1
      AND CAST(round(l.l_extendedprice * 100) AS BIGINT) > 0
),
s AS (
    SELECT brand, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(lx) AS BIGINT) AS sx,
           CAST(SUM(ly) AS BIGINT) AS sy,
           CAST(SUM(lx * lx) AS BIGINT) AS sxx,
           CAST(SUM(lx * ly) AS BIGINT) AS sxy
    FROM ln_t GROUP BY brand
)
SELECT brand, n, sx, sy, sxx, sxy,
       CAST(floor(1000.0 * ({_EL_SLOPE})) AS BIGINT) AS elasticity_milli
FROM s WHERE n >= 2
  AND CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      > CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
ORDER BY brand
"""


@q(
    "x284_price_elasticity",
    "OP-G6-ext",
    "Log-log price elasticity of demand per brand: ln(discounted unit "
    "price) and ln(quantity) floored to integer MILLIS per line (the "
    "x288 granularity/overflow trade; the unit price is one exact "
    "integer ratio cents*(100-disc)/qty/10000 inside a single ln), "
    "OLS slope d ln q / d ln p from the exact milli sums through one "
    "shared IEEE chain. THE pricing-decision number — x114's trend "
    "slope says demand moved over time, elasticity says what PRICE "
    "did to it (|e| > 1 = revenue lost by raising prices). Scale: "
    "one brand-keyed hash-agg over per-row integer terms, map-side "
    "partials, slope algebra on the <=|brands| frame.",
    _EL_ORACLE,
)
def x284_price_elasticity(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    ln_t = (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(
            (F.col("l_quantity") >= 1)
            & (F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)") > 0)
        )
        .select(
            F.col("p_brand").alias("brand"),
            F.expr(_EL_LX).alias("lx"),
            F.expr(_EL_LY).alias("ly"),
        )
    )
    s = ln_t.groupBy("brand").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("lx").cast("long").alias("sx"),
        F.sum("ly").cast("long").alias("sy"),
        F.sum(F.expr("lx * lx")).cast("long").alias("sxx"),
        F.sum(F.expr("lx * ly")).cast("long").alias("sxy"),
    )
    return (
        s.filter(
            (F.col("n") >= 2)
            & F.expr(
                "CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
                " > CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
            )
        )
        .select(
            "brand", "n", "sx", "sy", "sxx", "sxy",
            F.expr(
                f"CAST(floor(1000.0 * ({_EL_SLOPE})) AS BIGINT)"
            ).alias("elasticity_milli"),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# x285 — Kaplan-Meier reorder-survival curve (log domain)
# ---------------------------------------------------------------------------

_KM_BUCKET_DAYS = 30
_KM_CAP = 12

# per-bucket ln survival factor ln((n-d)/n), nano-floored over the
# exact at-risk/event integers; the cumulative sum of exact nanos IS
# ln S(t) — products never run in floating point.
_KM_TERM = (
    "CAST(floor(1000000000.0 * ln(CAST(at_risk - n_events AS DOUBLE)"
    " / CAST(at_risk AS DOUBLE))) AS BIGINT)"
)

_KM_ORACLE = f"""
WITH seq AS (
    SELECT o_custkey, o_orderdate,
           lag(o_orderdate) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey)
               AS prev_d
    FROM orders
),
gaps AS (
    SELECT least(CAST(floor(date_diff('day', prev_d, o_orderdate)
                 / {_KM_BUCKET_DAYS}) AS BIGINT), {_KM_CAP}) AS bucket
    FROM seq WHERE prev_d IS NOT NULL
),
ev AS (
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_events
    FROM gaps GROUP BY bucket
),
risk AS (
    SELECT bucket, n_events,
           CAST(SUM(n_events) OVER (ORDER BY bucket
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                AS BIGINT) AS at_risk
    FROM ev
),
terms AS (
    SELECT bucket, n_events, at_risk, {_KM_TERM} AS term_nano
    FROM risk WHERE at_risk > n_events
)
SELECT bucket, n_events, at_risk,
       CAST(SUM(term_nano) OVER (ORDER BY bucket
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ln_s_cum_nano
FROM terms
ORDER BY bucket
"""


@q(
    "x285_kaplan_meier",
    "OP-W4/G6-ext",
    "Kaplan-Meier reorder-survival curve over x200's 30-day gap "
    "buckets: per bucket the at-risk suffix sum and event count exact "
    "BIGINT, the survival factor ln((n-d)/n) NANO-FLOORED per bucket "
    "and cumulated as exact integers — the product form never touches "
    "accumulating floats, so S(t) is reported in the log domain "
    "(ln_s_cum_nano; buckets where everyone fails, S=0, drop out per "
    "the estimator's support). x200 reports the per-bucket hazard; "
    "this is the curve a retention chart actually plots (S = "
    "cumulative 'still not reordered'). Scale: user-partitioned lag "
    "window -> bucket agg; both cumulative windows run over the "
    f"<= {_KM_CAP + 1}-row bucket frame.",
    _KM_ORACLE,
)
def x285_kaplan_meier(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey",
        "o_orderdate",
        F.lag("o_orderdate").over(w).alias("prev_d"),
    )
    gaps = seq.filter(F.col("prev_d").isNotNull()).select(
        F.least(
            F.floor(
                F.datediff(
                    F.col("o_orderdate").cast("date"),
                    F.col("prev_d").cast("date"),
                )
                / _KM_BUCKET_DAYS
            ),
            F.lit(_KM_CAP).cast("long"),
        ).alias("bucket")
    )
    ev = gaps.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_events")
    )
    wS = Window.orderBy("bucket").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    risk = ev.select(
        F.col("bucket").cast("long").alias("bucket"),
        "n_events",
        F.sum("n_events").over(wS).cast("long").alias("at_risk"),
    )
    terms = risk.filter(F.col("at_risk") > F.col("n_events")).select(
        "bucket", "n_events", "at_risk", F.expr(_KM_TERM).alias("term_nano")
    )
    wC = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return terms.select(
        "bucket",
        "n_events",
        "at_risk",
        F.sum("term_nano").over(wC).cast("long").alias("ln_s_cum_nano"),
    ).orderBy("bucket")


# ---------------------------------------------------------------------------
# x286 — newsvendor order quantity per brand (critical fractile 0.8)
# ---------------------------------------------------------------------------

_NV_FRACTILE_PCT = 80  # cu/(cu+co) = 0.8: shortage 4x as costly as leftover

_NV_ORACLE = f"""
WITH md AS (
    SELECT p.p_brand AS brand,
           CAST(date_trunc('month', l.l_shipdate) AS DATE) AS mon,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1, 2
),
rk AS (
    SELECT brand, mon, q,
           row_number() OVER (PARTITION BY brand ORDER BY q, mon) AS r,
           CAST(count(*) OVER (PARTITION BY brand) AS BIGINT) AS n
    FROM md
),
qs AS (
    SELECT brand, q AS q_star, n FROM rk
    WHERE r = CAST(ceil({_NV_FRACTILE_PCT} / 100.0
                 * CAST(n AS DOUBLE)) AS BIGINT)
)
SELECT md.brand, CAST(MAX(qs.n) AS BIGINT) AS n_months,
       CAST(MAX(qs.q_star) AS BIGINT) AS q_star,
       CAST(SUM(CASE WHEN qs.q_star > md.q THEN qs.q_star - md.q
                ELSE 0 END) AS BIGINT) AS exp_leftover_units,
       CAST(SUM(CASE WHEN md.q > qs.q_star THEN md.q - qs.q_star
                ELSE 0 END) AS BIGINT) AS exp_shortage_units
FROM md JOIN qs ON md.brand = qs.brand
GROUP BY md.brand
ORDER BY md.brand
"""


@q(
    "x286_newsvendor",
    "OP-G6/W2-ext",
    "Newsvendor stocking decision per brand at critical fractile 0.8 "
    "(shortage 4x as costly as leftover): the order-up-to quantity is "
    "the EXACT rank-picked 80th percentile of monthly demand "
    "(ceil(0.8n), ties by month — integer comparisons, engine-"
    "identical), and the empirical expected leftover/shortage unit "
    "masses vs that Q are exact BIGINT sums over the same month "
    "frame. The inventory DECISION layer on top of x185/x283's "
    "classification and x228's depletion audit — what to actually "
    "order, with both cost tails quantified. Scale: one "
    "(brand,month) agg; rank windows partition by BRAND over the "
    "bounded month frame; the Q join is a broadcast of <=|brands| "
    "rows.",
    _NV_ORACLE,
)
def x286_newsvendor(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    md = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("month", "l_shipdate").cast("date").alias("mon"),
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("q"))
    )
    wr = Window.partitionBy("brand").orderBy("q", "mon")
    wn = Window.partitionBy("brand")
    rk = md.select(
        "brand",
        "q",
        F.row_number().over(wr).alias("r"),
        F.count("*").over(wn).cast("long").alias("n"),
    )
    qs = rk.filter(
        F.col("r")
        == F.expr(
            f"CAST(ceil({_NV_FRACTILE_PCT} / 100.0"
            " * CAST(n AS DOUBLE)) AS BIGINT)"
        )
    ).select("brand", F.col("q").alias("q_star"), "n")
    return (
        md.join(F.broadcast(qs), "brand")
        .groupBy("brand")
        .agg(
            F.max("n").cast("long").alias("n_months"),
            F.max("q_star").cast("long").alias("q_star"),
            F.sum(
                F.when(
                    F.col("q_star") > F.col("q"), F.col("q_star") - F.col("q")
                ).otherwise(0)
            )
            .cast("long")
            .alias("exp_leftover_units"),
            F.sum(
                F.when(
                    F.col("q") > F.col("q_star"), F.col("q") - F.col("q_star")
                ).otherwise(0)
            )
            .cast("long")
            .alias("exp_shortage_units"),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# x290 — conditional entropy rate of the event-type stream
# ---------------------------------------------------------------------------

# per-cell ln(c_x / c_xy) floored to MICRO (micro keeps cnt*term under
# 2^63 at any plausible scale: term <= ~2e7, cnt <= ~1e10); the
# cell-weighted sum is an exact BIGINT, H(Y|X) = sum / N in micro.
_ER_TERM = (
    "CAST(floor(1000000.0 * ln(CAST(cx AS DOUBLE) / CAST(cnt AS DOUBLE)))"
    " AS BIGINT)"
)

_ER_ORACLE = f"""
WITH seq AS (
    SELECT event_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_type
    FROM events
),
tr AS (
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(count(*) AS BIGINT) AS cnt
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY 1, 2
),
cells AS (
    SELECT from_type, to_type, cnt,
           SUM(cnt) OVER (PARTITION BY from_type) AS cx
    FROM tr
)
SELECT CAST(SUM(cnt) AS BIGINT) AS n_transitions,
       CAST(count(DISTINCT from_type) AS BIGINT) AS n_states,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(SUM(cnt * {_ER_TERM}) AS BIGINT) AS sum_micro,
       CAST(SUM(cnt * {_ER_TERM}) // SUM(cnt) AS BIGINT)
           AS h_cond_micro
FROM cells
"""


@q(
    "x290_entropy_rate",
    "OP-G5/W3-ext",
    "Conditional entropy rate H(next | current) of the event-type "
    "stream — how predictable is the next user action given the "
    "current one: per-bigram-cell ln(c_x/c_xy) MICRO-floored (the "
    "documented scale that keeps cnt*term exact BIGINT at any corpus "
    "size), cell-weighted sum exact, the rate one integer division. "
    "Near ln|states| = users wander uniformly (x282's matrix rows "
    "are flat); near 0 = sessions are deterministic. Completes the "
    "information tier: x49 chars, x121 mixture entropy, x128 MI "
    "between static labels — this is the SEQUENTIAL information "
    "rate. Scale: user-partitioned lead window -> |etypes|^2 cell "
    "agg; everything after is on the bounded cell frame.",
    _ER_ORACLE,
)
def x290_entropy_rate(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(wu).alias("next_type")
    )
    tr = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    cells = tr.withColumn(
        "cx", F.sum("cnt").over(Window.partitionBy("from_type"))
    )
    return cells.agg(
        F.sum("cnt").cast("long").alias("n_transitions"),
        F.countDistinct("from_type").cast("long").alias("n_states"),
        F.count("*").cast("long").alias("n_cells"),
        F.sum(F.expr(f"cnt * {_ER_TERM}")).cast("long").alias("sum_micro"),
        F.expr(
            f"CAST(SUM(cnt * {_ER_TERM}) DIV SUM(cnt) AS BIGINT)"
        ).alias("h_cond_micro"),
    )


# ---------------------------------------------------------------------------
# x278 — two-iteration HITS hubs/authorities on the order-part bipartite
# ---------------------------------------------------------------------------

_HITS_TOPK = 20

_HITS_ORACLE = f"""
WITH e AS MATERIALIZED (
    {COORDER_PK_SQL}
),
h1 AS (
    SELECT o, CAST(count(*) AS BIGINT) AS h FROM e GROUP BY o
),
a1 AS (
    SELECT e.p, CAST(SUM(h1.h) AS BIGINT) AS a
    FROM e JOIN h1 ON e.o = h1.o GROUP BY e.p
),
h2 AS (
    SELECT e.o, CAST(SUM(a1.a) AS BIGINT) AS h
    FROM e JOIN a1 ON e.p = a1.p GROUP BY e.o
),
a2 AS (
    SELECT e.p, CAST(SUM(h2.h) AS BIGINT) AS a
    FROM e JOIN h2 ON e.o = h2.o GROUP BY e.p
)
SELECT a2.p AS partkey, a1.a AS auth_1, a2.a AS auth_2
FROM a2 JOIN a1 ON a1.p = a2.p
ORDER BY a2.a DESC, a2.p
LIMIT {_HITS_TOPK}
"""


@q(
    "x278_hits_scores",
    "OP-X2-ext",
    "Two-iteration HITS on the order-part bipartite graph: hub scores "
    "on orders, authority scores on parts, alternating degree-"
    "weighted sums kept as EXACT unnormalized BIGINTs (the bipartite "
    "sums are bounded by deg_order * deg_part products far under "
    "2^63 — normalization is a presentation concern the exact ranks "
    "don't need), top-20 authorities by (score desc, partkey). The "
    "mutually-reinforcing centrality x43's PageRank (random-surfer, "
    "unipartite) does not express: an authoritative part is one "
    "bought in LARGE baskets, not merely often. Fixed-iteration "
    "certification per the x127/x246 contract. Scale: the edge list "
    "is built once and checkpointed; each iteration is one edge-keyed "
    "join + one hash-agg.",
    _HITS_ORACLE,
)
def x278_hits_scores(spark, sf_dir):
    from pyspark.storagelevel import StorageLevel

    li = load_table(spark, sf_dir, "lineitem")
    # DISK_ONLY lineage cut: the edge list is the full distinct
    # (order, part) relation (~60M rows at 100x sf0.1) and an in-memory
    # cut OOMed the 100x sweep; three consumers read the disk blocks
    # instead of recomputing the distinct. r12: localCheckpoint, not
    # persist() — a persisted plan is matched by CANONICAL EQUALITY in
    # the CacheManager, so a later identical invocation in the same
    # session would silently reuse the previous run's materialized
    # blocks (cross-run intermediate caching, which both the bench
    # contract and honest measurement forbid); a checkpoint is keyed to
    # this build's RDD identity and dies with it.
    e = coorder_pk(li).localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY
    )
    h1 = e.groupBy("o").agg(F.count("*").cast("long").alias("h"))
    a1 = (
        e.join(h1, "o")
        .groupBy("p")
        .agg(F.sum("h").cast("long").alias("a"))
    )
    h2 = (
        e.join(a1, "p")
        .groupBy("o")
        .agg(F.sum("a").cast("long").alias("h"))
    )
    a2 = (
        e.join(h2, "o")
        .groupBy("p")
        .agg(F.sum("h").cast("long").alias("a"))
    )
    return (
        a2.select(F.col("p").alias("partkey"), F.col("a").alias("auth_2"))
        .join(
            a1.select(F.col("p").alias("partkey"), F.col("a").alias("auth_1")),
            "partkey",
        )
        .select("partkey", "auth_1", "auth_2")
        .orderBy(F.col("auth_2").desc(), "partkey")
        .limit(_HITS_TOPK)
    )


# ---------------------------------------------------------------------------
# x293 — MinHash-estimate vs exact-Jaccard calibration curve
# ---------------------------------------------------------------------------

from ravelytics_spark.functions import text as TX  # noqa: E402
from ravelytics_spark.plans.round19 import (  # noqa: E402
    _MH_A,
    _MH_B,
    _MH_K,
    _MH_P,
    _MH_R,
    _minhash_pair_ctes,
)

_CAL_MATCHES_SQL = " + ".join(
    f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END" for i in range(_MH_K)
)

_CAL_ORACLE = f"""
WITH {_minhash_pair_ctes("documents")},
est AS (
    SELECT c.id_a, c.id_b,
           CAST({_CAL_MATCHES_SQL} AS BIGINT) AS matches
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.id_a
    JOIN sig sb ON sb.doc_id = c.id_b
),
paired AS (
    SELECT CAST(round(1000000 * j.j) AS BIGINT) AS jac_ppm,
           CAST(e.matches * 1000000 // {_MH_K} AS BIGINT) AS est_ppm
    FROM jac j JOIN est e ON j.id_a = e.id_a AND j.id_b = e.id_b
)
SELECT CAST(jac_ppm // 100000 AS BIGINT) AS jac_decile,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(SUM(est_ppm) // count(*) AS BIGINT) AS mean_est_ppm,
       CAST(SUM(CASE WHEN est_ppm >= jac_ppm THEN est_ppm - jac_ppm
                ELSE jac_ppm - est_ppm END) // count(*) AS BIGINT)
           AS mean_abs_err_ppm
FROM paired
GROUP BY 1 ORDER BY 1
"""


@q(
    "x293_minhash_calibration",
    "OP-X2-ext",
    "MinHash calibration curve: for every x91 banded candidate pair, "
    "the 12-coordinate signature-match ESTIMATE of Jaccard vs the "
    "EXACT hash-set Jaccard, bucketed by exact-Jaccard decile with "
    "pair counts, mean estimate and mean absolute error in exact ppm "
    "(the estimate and both error sums are pure integers; the exact "
    "Jaccard enters once through the x91 shared double rounded to "
    "ppm). x233 audits whether the LSH BUCKETS are balanced; this "
    "audits whether the ESTIMATOR is honest — the k-vs-accuracy "
    "number that justifies (or indicts) 12 hashes before anyone "
    "tunes thresholds on estimated similarity. Scale: identical "
    "shape to x91 (signature agg checkpointed once, one banded "
    "equi-join); the calibration rollup is an 11-row frame.",
    _CAL_ORACLE,
)
def x293_minhash_calibration(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    n_par = spark.sparkContext.defaultParallelism
    d = docs.repartition(n_par, "doc_id")
    base = d.select(
        "doc_id",
        F.explode(F.array_distinct(TX.shingles("text", 3))).alias("sh"),
    ).select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("sh"), 1, 8), 16, 10).cast("long")
            % F.lit(536870912)
        ).alias("h"),
    )
    sig = (
        base.groupBy("doc_id")
        .agg(
            F.collect_set("h").alias("hset"),
            *[
                F.min(
                    (F.lit(_MH_A[i]) * F.col("h") + F.lit(_MH_B[i])) % _MH_P
                ).alias(f"m{i}")
                for i in range(_MH_K)
            ],
        )
        .localCheckpoint(eager=True)
    )
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        *[
                            F.col(f"m{b * _MH_R + r}").alias(f"k{r}")
                            for r in range(_MH_R)
                        ]
                    )
                    for b in range(_MH_K // _MH_R)
                ]
            )
        ).alias("band", "key"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    sa = sig.select(
        F.col("doc_id").alias("id_a"),
        F.col("hset").alias("sa_set"),
        *[F.col(f"m{i}").alias(f"ma{i}") for i in range(_MH_K)],
    )
    sb = sig.select(
        F.col("doc_id").alias("id_b"),
        F.col("hset").alias("sb_set"),
        *[F.col(f"m{i}").alias(f"mb{i}") for i in range(_MH_K)],
    )
    inter = F.size(F.array_intersect("sa_set", "sb_set"))
    matches = sum(
        F.when(F.col(f"ma{i}") == F.col(f"mb{i}"), 1).otherwise(0)
        for i in range(_MH_K)
    )
    paired = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.round(
                inter.cast("double")
                / (F.size("sa_set") + F.size("sb_set") - inter).cast(
                    "double"
                )
                * 1_000_000
            )
            .cast("long")
            .alias("jac_ppm"),
            (matches.cast("long") * 1_000_000 / F.lit(_MH_K))
            .cast("long")
            .alias("est_ppm"),
        )
    )
    return (
        paired.groupBy(
            F.expr("CAST(jac_ppm DIV 100000 AS BIGINT)").alias("jac_decile")
        )
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.expr("CAST(SUM(est_ppm) DIV count(*) AS BIGINT)").alias(
                "mean_est_ppm"
            ),
            F.expr(
                "CAST(SUM(CASE WHEN est_ppm >= jac_ppm THEN est_ppm -"
                " jac_ppm ELSE jac_ppm - est_ppm END) DIV count(*)"
                " AS BIGINT)"
            ).alias("mean_abs_err_ppm"),
        )
        .orderBy("jac_decile")
    )


# ---------------------------------------------------------------------------
# x294 — MATTR lexical diversity per source (window 50, stride 25)
# ---------------------------------------------------------------------------

_MATTR_W = 50
_MATTR_STRIDE = 25

_MATTR_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, source,
           generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
           unnest(string_split(text, ' ')) AS w,
           len(string_split(text, ' ')) AS n_tok
    FROM documents
),
wins AS (
    SELECT doc_id, source, w, win FROM (
        SELECT doc_id, source, w, n_tok,
               unnest([pos // {_MATTR_STRIDE},
                       pos // {_MATTR_STRIDE} - 1]) AS win
        FROM tok
    )
    WHERE win >= 0
      AND win * {_MATTR_STRIDE} + {_MATTR_W} <= n_tok
      AND win * {_MATTR_STRIDE} <= 2147483647
),
perwin AS (
    SELECT doc_id, source, win,
           CAST(count(DISTINCT w) AS BIGINT) AS n_types
    FROM wins GROUP BY doc_id, source, win
)
SELECT source,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(SUM(n_types) * 1000000 // (count(*) * {_MATTR_W}) AS BIGINT)
           AS mattr_ppm
FROM perwin
GROUP BY source ORDER BY source
"""


@q(
    "x294_mattr",
    "OP-X4-ext",
    f"MATTR lexical diversity per source: moving-average type-token "
    f"ratio over {_MATTR_W}-token windows at stride {_MATTR_STRIDE} "
    "(each token lands in exactly 2 windows via the pos DIV stride "
    "explode — no self-join), only COMPLETE windows count, the "
    "per-window distinct-type counts sum exactly and the ratio is "
    "one integer division in ppm. The length-robust diversity "
    "number: raw TTR collapses as documents grow, so x193's "
    "corpus-level vocab curve cannot rank SOURCES by repetitiveness "
    "— MATTR can (template-generated text scores low at any "
    "length). Scale: token posexplode -> 2-window explode -> one "
    "(doc, win) distinct agg -> source rollup; windows partition "
    "NOTHING globally — every group is 50 tokens.",
    _MATTR_ORACLE,
)
def x294_mattr(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "source",
        F.posexplode(F.split("text", " ")).alias("pos", "w"),
        F.size(F.split("text", " ")).alias("n_tok"),
    )
    wins = (
        tok.select(
            "doc_id",
            "source",
            "w",
            "n_tok",
            F.explode(
                F.array(
                    F.expr(f"pos DIV {_MATTR_STRIDE}"),
                    F.expr(f"pos DIV {_MATTR_STRIDE} - 1"),
                )
            ).alias("win"),
        )
        .filter(
            (F.col("win") >= 0)
            & (
                F.col("win") * _MATTR_STRIDE + _MATTR_W
                <= F.col("n_tok")
            )
        )
    )
    perwin = wins.groupBy("doc_id", "source", "win").agg(
        F.countDistinct("w").cast("long").alias("n_types")
    )
    return (
        perwin.groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_windows"),
            F.expr(
                f"CAST(SUM(n_types) * 1000000 DIV (count(*) * {_MATTR_W})"
                " AS BIGINT)"
            ).alias("mattr_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# x295 — log-likelihood (Dunning G^2) keyness of the first source
# ---------------------------------------------------------------------------

_KEY_VOCAB = 1000
_KEY_TOPK = 20

# G^2 = 2 * [a*ln(a*N/(NA*(a+b))) + b*ln(b*N/(NB*(a+b)))], zero-count
# terms drop; one shared double chain floored to milli.
_KEY_G2 = (
    "CAST(floor(2000.0 * ("
    "CASE WHEN a > 0 THEN CAST(a AS DOUBLE)"
    " * ln(CAST(a AS DOUBLE) * CAST(na + nb AS DOUBLE)"
    " / (CAST(na AS DOUBLE) * CAST(a + b AS DOUBLE))) ELSE 0.0 END"
    " + CASE WHEN b > 0 THEN CAST(b AS DOUBLE)"
    " * ln(CAST(b AS DOUBLE) * CAST(na + nb AS DOUBLE)"
    " / (CAST(nb AS DOUBLE) * CAST(a + b AS DOUBLE))) ELSE 0.0 END"
    ")) AS BIGINT)"
)

_KEY_ORACLE = f"""
WITH tok AS (
    SELECT source, w FROM (
        SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ) WHERE w <> ''
),
firstsrc AS (SELECT min(source) AS fs FROM tok),
vocab AS (
    SELECT w FROM (
        SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY w
    ) QUALIFY row_number() OVER (ORDER BY c DESC, w) <= {_KEY_VOCAB}
),
counts AS (
    SELECT tok.w,
           CAST(SUM(CASE WHEN tok.source = firstsrc.fs THEN 1 ELSE 0 END)
                AS BIGINT) AS a,
           CAST(SUM(CASE WHEN tok.source = firstsrc.fs THEN 0 ELSE 1 END)
                AS BIGINT) AS b
    FROM tok CROSS JOIN firstsrc
    JOIN vocab ON vocab.w = tok.w
    GROUP BY tok.w
),
tot AS (
    SELECT CAST(SUM(CASE WHEN source = (SELECT fs FROM firstsrc)
                THEN 1 ELSE 0 END) AS BIGINT) AS na,
           CAST(SUM(CASE WHEN source = (SELECT fs FROM firstsrc)
                THEN 0 ELSE 1 END) AS BIGINT) AS nb
    FROM tok
)
SELECT c.w AS token, c.a, c.b,
       CASE WHEN c.a * tot.nb > c.b * tot.na THEN 1 ELSE 0 END
           AS overused_in_first,
       {_KEY_G2} AS g2_milli
FROM counts c CROSS JOIN tot
WHERE c.a + c.b > 0 AND tot.na > 0 AND tot.nb > 0
ORDER BY g2_milli DESC, token
LIMIT {_KEY_TOPK}
"""


@q(
    "x295_keyness_llr",
    "OP-X4-ext",
    "Dunning log-likelihood (G^2) keyness: which top-vocabulary "
    "tokens are most characteristic of the alphabetically-first "
    "source vs the rest of the corpus — observed-vs-expected "
    "2-cell log-likelihood per token through one shared IEEE chain "
    "floored to milli (zero-count terms drop exactly), with the "
    "exact integer cross-product a*NB > b*NA as the overuse "
    "direction flag. x46's PMI finds collocations WITHIN text; "
    "keyness CONTRASTS corpora — the register/domain fingerprint "
    "used to spot contaminated or off-domain sources before mixing "
    "(x85's JSD says sources differ; keyness names the tokens). "
    "Scale: vocab is the x234 bounded TakeOrdered top-1k broadcast; "
    "counts are one token-keyed hash-agg; the G^2 frame is "
    "vocab-bounded.",
    _KEY_ORACLE,
)
def x295_keyness_llr(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    fs_row = tok.agg(F.min("source").alias("fs"))
    wc = tok.groupBy("w").agg(F.count("*").cast("long").alias("c"))
    vocab = (
        wc.orderBy(F.col("c").desc(), "w")
        .limit(_KEY_VOCAB)
        .select(F.col("w").alias("vw"))
    )
    tagged = tok.crossJoin(F.broadcast(fs_row)).select(
        "w",
        F.when(F.col("source") == F.col("fs"), 1).otherwise(0).alias("in_a"),
    )
    counts = (
        tagged.join(F.broadcast(vocab), tagged.w == F.col("vw"))
        .groupBy("w")
        .agg(
            F.sum("in_a").cast("long").alias("a"),
            F.sum(1 - F.col("in_a")).cast("long").alias("b"),
        )
    )
    tot = tagged.agg(
        F.sum("in_a").cast("long").alias("na"),
        F.sum(1 - F.col("in_a")).cast("long").alias("nb"),
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .filter(
            (F.col("a") + F.col("b") > 0)
            & (F.col("na") > 0)
            & (F.col("nb") > 0)
        )
        .select(
            F.col("w").alias("token"),
            "a",
            "b",
            F.when(
                F.col("a") * F.col("nb") > F.col("b") * F.col("na"), 1
            )
            .otherwise(0)
            .alias("overused_in_first"),
            F.expr(_KEY_G2).alias("g2_milli"),
        )
        .orderBy(F.col("g2_milli").desc(), "token")
        .limit(_KEY_TOPK)
    )


# ---------------------------------------------------------------------------
# x298 — Poisson overdispersion of daily order counts per nation
# ---------------------------------------------------------------------------

_PD_MEAN = "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
_PD_VAR = (
    "((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
    " / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))"
)
_PD_D = f"CAST(floor(1000.0 * {_PD_VAR} / {_PD_MEAN}) AS BIGINT)"
_PD_CHI2 = (
    f"CAST(floor(1000.0 * CAST(n - 1 AS DOUBLE) * {_PD_VAR} / {_PD_MEAN})"
    " AS BIGINT)"
)

_PD_ORACLE = f"""
WITH daily AS (
    SELECT c.c_nationkey AS nkey, o.o_orderdate AS d,
           CAST(count(*) AS BIGINT) AS cnt
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
),
s AS (
    SELECT nkey, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(cnt) AS BIGINT) AS s1,
           CAST(SUM(cnt * cnt) AS BIGINT) AS s2
    FROM daily GROUP BY nkey
)
SELECT nkey, n, s1, s2,
       {_PD_D} AS dispersion_milli,
       {_PD_CHI2} AS chi2_milli
FROM s WHERE n >= 2 AND s1 > 0
ORDER BY nkey
"""


@q(
    "x298_poisson_dispersion",
    "OP-G5/G6-ext",
    "Poisson overdispersion audit of daily order counts per nation "
    "(observed order-days only — the documented support): dispersion "
    "index D = var/mean and the chi-square (n-1)*D from exact BIGINT "
    "count moments through one shared IEEE chain in milli. D >> 1 "
    "means arrivals cluster (marketing pulses, batch ingest) and "
    "every Poisson-assuming capacity/alert threshold is wrong — the "
    "formal version of x180's Fano fingerprint, per nation. Scale: "
    "one (nation, day) count agg then a nation-keyed moment agg, "
    "both with map-side partials.",
    _PD_ORACLE,
)
def x298_poisson_dispersion(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    daily = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nkey"),
            F.col("o_orderdate").alias("d"),
        )
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    s = daily.groupBy("nkey").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cnt").cast("long").alias("s1"),
        F.sum(F.expr("cnt * cnt")).cast("long").alias("s2"),
    )
    return (
        s.filter((F.col("n") >= 2) & (F.col("s1") > 0))
        .select(
            "nkey", "n", "s1", "s2",
            F.expr(_PD_D).alias("dispersion_milli"),
            F.expr(_PD_CHI2).alias("chi2_milli"),
        )
        .orderBy("nkey")
    )


# ---------------------------------------------------------------------------
# x299 — Zipf slope of the token rank-frequency curve
# ---------------------------------------------------------------------------

_ZIPF_VOCAB = 1000

_ZIPF_LR = "CAST(floor(1000.0 * ln(CAST(r AS DOUBLE))) AS BIGINT)"
_ZIPF_LC = "CAST(floor(1000.0 * ln(CAST(c AS DOUBLE))) AS BIGINT)"
_ZIPF_SLOPE = (
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
)

_ZIPF_ORACLE = f"""
WITH tok AS (
    SELECT w FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ) WHERE w <> ''
),
top AS (
    SELECT w, CAST(count(*) AS BIGINT) AS c,
           row_number() OVER (ORDER BY count(*) DESC, w) AS r
    FROM tok GROUP BY w
    QUALIFY row_number() OVER (ORDER BY count(*) DESC, w)
        <= {_ZIPF_VOCAB}
),
lt AS (
    SELECT {_ZIPF_LR} AS lr, {_ZIPF_LC} AS lc FROM top
),
s AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(lr) AS BIGINT) AS sx,
           CAST(SUM(lc) AS BIGINT) AS sy,
           CAST(SUM(lr * lr) AS BIGINT) AS sxx,
           CAST(SUM(lr * lc) AS BIGINT) AS sxy
    FROM lt
)
SELECT n, sx, sy, sxx, sxy,
       CAST(floor(1000.0 * ({_ZIPF_SLOPE})) AS BIGINT) AS zipf_slope_milli
FROM s WHERE n >= 2 AND n * sxx > sx * sx
"""


@q(
    "x299_zipf_slope",
    "OP-X4-ext",
    f"Zipf exponent of the corpus token rank-frequency curve: the "
    f"top-{_ZIPF_VOCAB} vocabulary (count desc, token asc — the x234 "
    "bounded TakeOrdered) in log-log space with per-row ln terms "
    "MILLI-floored, OLS slope from the exact milli sums through one "
    "shared IEEE chain. Natural text sits near -1; template/generated "
    "corpora flatten, boilerplate-heavy ones steepen — the "
    "distributional-shape complement of x193's Heaps curve and "
    "x20's unigram LM. Scale: one token hash-agg, TakeOrdered "
    "top-1k, all regression algebra on the bounded 1000-row frame.",
    _ZIPF_ORACLE,
)
def x299_zipf_slope(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    wc = tok.groupBy("w").agg(F.count("*").cast("long").alias("c"))
    top = (
        wc.orderBy(F.col("c").desc(), "w")
        .limit(_ZIPF_VOCAB)
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy().orderBy(F.col("c").desc(), "w")
            ),
        )
    )
    lt = top.select(
        F.expr(_ZIPF_LR).alias("lr"), F.expr(_ZIPF_LC).alias("lc")
    )
    s = lt.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("lr").cast("long").alias("sx"),
        F.sum("lc").cast("long").alias("sy"),
        F.sum(F.expr("lr * lr")).cast("long").alias("sxx"),
        F.sum(F.expr("lr * lc")).cast("long").alias("sxy"),
    )
    return s.filter(
        (F.col("n") >= 2)
        & (F.col("n") * F.col("sxx") > F.col("sx") * F.col("sx"))
    ).select(
        "n", "sx", "sy", "sxx", "sxy",
        F.expr(f"CAST(floor(1000.0 * ({_ZIPF_SLOPE})) AS BIGINT)").alias(
            "zipf_slope_milli"
        ),
    )


# ---------------------------------------------------------------------------
# x300 — turning-points randomness test of daily revenue
# ---------------------------------------------------------------------------

# E[T] = 2(n-2)/3, Var[T] = (16n-29)/90; z through one shared chain.
_TP_Z = (
    "CAST(floor(1000.0 * (CAST(t_cnt AS DOUBLE)"
    " - 2.0 * CAST(n - 2 AS DOUBLE) / 3.0)"
    " / sqrt((16.0 * CAST(n AS DOUBLE) - 29.0) / 90.0)) AS BIGINT)"
)

_TP_ORACLE = f"""
WITH {DAILY_CENTS_CTE},
seq AS (
    SELECT cents,
           lag(cents) OVER (ORDER BY d) AS prv,
           lead(cents) OVER (ORDER BY d) AS nxt,
           CAST(count(*) OVER () AS BIGINT) AS n
    FROM daily
),
tp AS (
    SELECT n,
           CAST(SUM(CASE WHEN (prv < cents AND cents > nxt)
                          OR (prv > cents AND cents < nxt)
                    THEN 1 ELSE 0 END) AS BIGINT) AS t_cnt
    FROM seq WHERE prv IS NOT NULL AND nxt IS NOT NULL
    GROUP BY n
)
SELECT n, t_cnt, {_TP_Z} AS z_milli
FROM tp WHERE n >= 3
"""


@q(
    "x300_turning_points",
    "OP-W3/G6-ext",
    "Turning-points randomness test of the daily-revenue sequence: "
    "strict local peaks/valleys counted with exact integer compares "
    "(ties are neither — the documented convention), E[T] = 2(n-2)/3 "
    "and Var[T] = (16n-29)/90 in one shared IEEE z chain. Too FEW "
    "turning points = trend/momentum, too MANY = oscillation — the "
    "shape-based randomness check that catches what x231's runs test "
    "(sign-based) misses, e.g. a sawtooth with balanced signs. "
    "Scale: day agg then lag/lead windows over the bounded daily "
    "frame only.",
    _TP_ORACLE,
)
def x300_turning_points(spark, sf_dir):
    daily = daily_order_cents(load_table(spark, sf_dir, "orders"))
    wd = Window.partitionBy().orderBy("d")
    seq = daily.select(
        "cents",
        F.lag("cents").over(wd).alias("prv"),
        F.lead("cents").over(wd).alias("nxt"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("n"),
    )
    tp = (
        seq.filter(F.col("prv").isNotNull() & F.col("nxt").isNotNull())
        .groupBy("n")
        .agg(
            F.sum(
                F.when(
                    (
                        (F.col("prv") < F.col("cents"))
                        & (F.col("cents") > F.col("nxt"))
                    )
                    | (
                        (F.col("prv") > F.col("cents"))
                        & (F.col("cents") < F.col("nxt"))
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("t_cnt")
        )
    )
    return tp.filter(F.col("n") >= 3).select(
        "n", "t_cnt", F.expr(_TP_Z).alias("z_milli")
    )


# ---------------------------------------------------------------------------
# x301 — Friedman rank test: segment revenue ranked within months
# ---------------------------------------------------------------------------

# Q = 12/(n*k*(k+1)) * sum R_j^2 - 3*n*(k+1), exact ranks (total
# tie-break), one shared chain in milli.
_FR_Q = (
    "CAST(floor(1000.0 * (12.0 * CAST(srr AS DOUBLE)"
    " / (CAST(nb AS DOUBLE) * CAST(k AS DOUBLE) * CAST(k + 1 AS DOUBLE))"
    " - 3.0 * CAST(nb AS DOUBLE) * CAST(k + 1 AS DOUBLE))) AS BIGINT)"
)

_FR_ORACLE = f"""
WITH ms AS (
    SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS mon,
           c.c_mktsegment AS segment,
           CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
),
k AS (SELECT CAST(count(DISTINCT segment) AS BIGINT) AS k FROM ms),
full_m AS (
    SELECT mon FROM ms GROUP BY mon
    HAVING CAST(count(*) AS BIGINT) = (SELECT k FROM k)
),
rk AS (
    SELECT ms.mon, ms.segment,
           CAST(row_number() OVER (PARTITION BY ms.mon
                ORDER BY ms.cents, ms.segment) AS BIGINT) AS r
    FROM ms JOIN full_m ON ms.mon = full_m.mon
),
rj AS (
    SELECT segment, CAST(SUM(r) AS BIGINT) AS rank_sum,
           CAST(count(*) AS BIGINT) AS nb
    FROM rk GROUP BY segment
),
s AS (
    SELECT CAST(MAX(nb) AS BIGINT) AS nb,
           CAST(count(*) AS BIGINT) AS k,
           CAST(SUM(rank_sum * rank_sum) AS BIGINT) AS srr
    FROM rj
)
SELECT nb AS n_blocks, k AS n_treatments, srr,
       {_FR_Q} AS q_milli
FROM s WHERE nb >= 2 AND k >= 2
"""


@q(
    "x301_friedman_test",
    "OP-W2/G6-ext",
    "Friedman rank test — do customer segments differ in monthly "
    "revenue once every month is its own block? Within-month ranks "
    "are exact row_numbers (cents, segment total tie-break — the "
    "engine-identical tie-free convention), rank sums exact BIGINT, "
    "Q through one shared IEEE chain in milli; incomplete months "
    "drop per the complete-block design. The PAIRED k-group test the "
    "inference tier lacked: x271's Kruskal-Wallis pools all rows and "
    "a month-level shock drowns the segment signal — blocking "
    "removes it (x266's Kendall W is this statistic's concordance "
    "view). Scale: month-segment agg; rank windows partition by "
    "MONTH over the <=|segments| frame.",
    _FR_ORACLE,
)
def x301_friedman_test(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    ms = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("mon"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.expr(
                "CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))"
                " AS BIGINT)"
            ).alias("cents")
        )
    )
    kf = ms.agg(F.countDistinct("segment").cast("long").alias("k"))
    per_mon = ms.groupBy("mon").agg(F.count("*").cast("long").alias("c"))
    full_m = (
        per_mon.crossJoin(F.broadcast(kf))
        .filter(F.col("c") == F.col("k"))
        .select("mon")
    )
    wr = Window.partitionBy("mon").orderBy("cents", "segment")
    rk = ms.join(full_m, "mon").select(
        "segment", F.row_number().over(wr).cast("long").alias("r")
    )
    rj = rk.groupBy("segment").agg(
        F.sum("r").cast("long").alias("rank_sum"),
        F.count("*").cast("long").alias("nb"),
    )
    s = rj.agg(
        F.max("nb").cast("long").alias("nb"),
        F.count("*").cast("long").alias("k"),
        F.sum(F.expr("rank_sum * rank_sum")).cast("long").alias("srr"),
    )
    return s.filter((F.col("nb") >= 2) & (F.col("k") >= 2)).select(
        F.col("nb").alias("n_blocks"),
        F.col("k").alias("n_treatments"),
        "srr",
        F.expr(_FR_Q).alias("q_milli"),
    )


# ---------------------------------------------------------------------------
# x302 — Gamma method-of-moments fit of order value per segment
# ---------------------------------------------------------------------------

_GA_MEAN = "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
_GA_VAR = (
    "((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
    " / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))"
)
_GA_SHAPE = (
    f"CAST(floor(1000.0 * {_GA_MEAN} * {_GA_MEAN} / {_GA_VAR}) AS BIGINT)"
)
_GA_SCALE = f"CAST(floor(1000.0 * {_GA_VAR} / {_GA_MEAN}) AS BIGINT)"

_GA_ORACLE = f"""
WITH {SEGMENT_ORDER_KILOS_CTE},
s AS (
    SELECT segment, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS s1,
           CAST(SUM(x * x) AS BIGINT) AS s2
    FROM k GROUP BY segment
)
SELECT segment, n, s1, s2,
       {_GA_SHAPE} AS shape_milli,
       {_GA_SCALE} AS scale_milli
FROM s WHERE n >= 2 AND s1 > 0 AND n * s2 > s1 * s1
ORDER BY segment
"""


@q(
    "x302_gamma_mom",
    "OP-G6-ext",
    "Gamma method-of-moments fit of order value per segment "
    "(kilodollar units, the x253 overflow trade): shape k = "
    "mean^2/var and scale theta = var/mean from the exact BIGINT "
    "moments through one shared IEEE chain in milli. The "
    "positive-support two-parameter alternative to x288's lognormal "
    "— when the two families disagree on the tail (they diverge "
    "above the ~97th percentile), x287's POT fit referees. Shape "
    "k ~ 1 means near-exponential spend (memoryless customers); "
    "k >> 1 means a characteristic basket size. Scale: one "
    "segment-keyed moment agg with map-side partials.",
    _GA_ORACLE,
)
def x302_gamma_mom(spark, sf_dir):
    k = segment_order_kilos(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "customer")
    )
    s = k.groupBy("segment").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.expr("x * x")).cast("long").alias("s2"),
    )
    return (
        s.filter(
            (F.col("n") >= 2)
            & (F.col("s1") > 0)
            & (F.col("n") * F.col("s2") > F.col("s1") * F.col("s1"))
        )
        .select(
            "segment", "n", "s1", "s2",
            F.expr(_GA_SHAPE).alias("shape_milli"),
            F.expr(_GA_SCALE).alias("scale_milli"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# x303 — Hoover (Robin Hood) index of customer spend per region
# ---------------------------------------------------------------------------

# H = sum|x_i*n - T| / (2*T*n), per-customer terms exact BIGINT in
# DOLLAR units (the x292 bound), the ratio one shared double chain.
_HV_PPM = (
    "CAST(floor(1000000.0 * CAST(num AS DOUBLE)"
    " / (2.0 * CAST(t AS DOUBLE) * CAST(n AS DOUBLE))) AS BIGINT)"
)

_HV_ORACLE = f"""
WITH cust AS (
    SELECT r.r_name AS region, c.c_custkey AS ck,
           COALESCE(CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
                AS BIGINT), 0) // 100 AS x
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
),
tot AS (
    SELECT region, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS t
    FROM cust GROUP BY region
),
dev AS (
    SELECT cust.region, tot.n, tot.t,
           CAST(SUM(CASE WHEN cust.x * tot.n >= tot.t
                    THEN cust.x * tot.n - tot.t
                    ELSE tot.t - cust.x * tot.n END) AS BIGINT) AS num
    FROM cust JOIN tot ON cust.region = tot.region
    GROUP BY cust.region, tot.n, tot.t
)
SELECT region, n, t AS total_dollars, num,
       {_HV_PPM} AS hoover_ppm
FROM dev WHERE t > 0
ORDER BY region
"""


@q(
    "x303_hoover_index",
    "OP-G6-ext",
    "Hoover (Robin Hood) index of customer lifetime spend per "
    "region: the share of total spend that would have to move to "
    "equalize customers, sum|x_i*n - T|/(2*T*n) with per-customer "
    "deviations exact BIGINT in DOLLAR units (the x292 overflow "
    "bound; spend is nonnegative so the floor division is "
    "engine-identical) and one shared IEEE ratio in ppm. The "
    "plain-language inequality number next to x115's Gini and "
    "x268's Theil — 'move 34% of revenue' briefs better than a "
    "Lorenz integral, and it is the L1 statistic, so single whales "
    "move it less than Gini. Scale: customer agg -> region totals "
    "broadcast back -> one deviation agg; no windows.",
    _HV_ORACLE,
)
def x303_hoover_index(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    cust = (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("c_custkey").alias("ck"),
        )
        .agg(
            F.expr(
                "COALESCE(CAST(SUM(CAST(round(o_totalprice * 100) AS"
                " BIGINT)) AS BIGINT), 0) DIV 100"
            ).alias("x")
        )
    )
    tot = cust.groupBy("region").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("t"),
    )
    dev = (
        cust.join(F.broadcast(tot), "region")
        .groupBy("region", "n", "t")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN x * n >= t THEN x * n - t"
                    " ELSE t - x * n END"
                )
            )
            .cast("long")
            .alias("num")
        )
    )
    return (
        dev.filter(F.col("t") > 0)
        .select(
            "region",
            "n",
            F.col("t").alias("total_dollars"),
            "num",
            F.expr(_HV_PPM).alias("hoover_ppm"),
        )
        .orderBy("region")
    )


# ---------------------------------------------------------------------------
# x304 — interarrival CV^2 (queueing burstiness) per segment
# ---------------------------------------------------------------------------

_CV2_MILLI = (
    "CAST(floor(1000.0 * ((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)"
    " * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))"
    " / ((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    " * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))) AS BIGINT)"
)

_CV2_ORACLE = f"""
WITH seq AS (
    SELECT c.c_mktsegment AS segment,
           date_diff('day',
               lag(o.o_orderdate) OVER (PARTITION BY o.o_custkey
                   ORDER BY o.o_orderdate, o.o_orderkey),
               o.o_orderdate) AS gap
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
s AS (
    SELECT segment, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(gap) AS BIGINT) AS s1,
           CAST(SUM(gap * gap) AS BIGINT) AS s2
    FROM seq WHERE gap IS NOT NULL AND gap > 0
    GROUP BY segment
)
SELECT segment, n, s1, s2,
       {_CV2_MILLI} AS cv2_milli
FROM s WHERE n >= 2 AND s1 > 0
ORDER BY segment
"""


@q(
    "x304_interarrival_cv2",
    "OP-W3/G6-ext",
    "Interarrival CV^2 (squared coefficient of variation of same-"
    "customer reorder gaps in days, zero-gap same-day pairs "
    "excluded) per segment: exact BIGINT gap moments through one "
    "shared IEEE chain in milli. THE queueing burstiness number — "
    "CV^2 = 1 is Poisson, > 1 bursty (G/G/1 waiting time scales "
    "with (CVa^2+CVs^2)/2, so this directly sizes fulfillment "
    "buffers); x180's Fano measures COUNT dispersion, this measures "
    "GAP dispersion, and they disagree exactly when bursts are "
    "regular. Scale: customer-partitioned lag window -> one "
    "segment-keyed moment agg.",
    _CV2_ORACLE,
)
def x304_interarrival_cv2(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.datediff(
                F.col("o_orderdate"),
                F.lag("o_orderdate").over(w),
            ).alias("gap"),
        )
    )
    s = (
        seq.filter(F.col("gap").isNotNull() & (F.col("gap") > 0))
        .groupBy("segment")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("gap").cast("long").alias("s1"),
            F.sum(F.expr("gap * gap")).cast("long").alias("s2"),
        )
    )
    return (
        s.filter((F.col("n") >= 2) & (F.col("s1") > 0))
        .select(
            "segment", "n", "s1", "s2",
            F.expr(_CV2_MILLI).alias("cv2_milli"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# x305 — records test (running maxima) of daily revenue
# ---------------------------------------------------------------------------

# E[records] = H_n and Var = H_n - H_n^(2), both accumulated as EXACT
# nano-floored per-position integer sums (floor(1e9/t), floor(1e9/t^2))
# so the data-dependent harmonic numbers are engine-identical.
_RC_Z = (
    "CAST(floor(1000.0 * (CAST(rec AS DOUBLE)"
    " - CAST(h1_nano AS DOUBLE) / 1000000000.0)"
    " / sqrt((CAST(h1_nano AS DOUBLE) - CAST(h2_nano AS DOUBLE))"
    " / 1000000000.0)) AS BIGINT)"
)

_RC_ORACLE = f"""
WITH {DAILY_CENTS_CTE},
seq AS (
    SELECT cents,
           CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t,
           max(cents) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
    FROM daily
),
s AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN prev_max IS NULL OR cents > prev_max
                    THEN 1 ELSE 0 END) AS BIGINT) AS rec,
           CAST(SUM(1000000000 // t) AS BIGINT) AS h1_nano,
           CAST(SUM(1000000000 // (t * t)) AS BIGINT) AS h2_nano
    FROM seq
)
SELECT n, rec, h1_nano, h2_nano,
       {_RC_Z} AS z_milli
FROM s WHERE n >= 2 AND h1_nano > h2_nano
"""


@q(
    "x305_records_test",
    "OP-W4/G6-ext",
    "Records test of daily revenue: the count of running maxima "
    "(strict new highs; day 1 counts) vs the i.i.d. expectation "
    "E = H_n — with the data-dependent harmonic numbers H_n and "
    "H_n^(2) accumulated as EXACT per-position integer sums "
    "(floor(1e9/t), floor(1e9/t^2)), so no engine ever evaluates a "
    "float series; z is the one shared chain. Way more records than "
    "H_n = secular growth, fewer = an early spike that nothing beat "
    "— the extreme-value-side stationarity check that complements "
    "x289 (mean reversion) and x300 (local shape), and the base "
    "rate behind any 'record day!' alert. Scale: day agg; running "
    "max + rank windows over the bounded daily frame.",
    _RC_ORACLE,
)
def x305_records_test(spark, sf_dir):
    daily = daily_order_cents(load_table(spark, sf_dir, "orders"))
    wd = Window.partitionBy().orderBy("d")
    wprev = (
        Window.partitionBy()
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = daily.select(
        "cents",
        F.row_number().over(wd).cast("long").alias("t"),
        F.max("cents").over(wprev).alias("prev_max"),
    )
    s = seq.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(
            F.when(
                F.col("prev_max").isNull()
                | (F.col("cents") > F.col("prev_max")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("rec"),
        F.sum(F.expr("1000000000 DIV t")).cast("long").alias("h1_nano"),
        F.sum(F.expr("1000000000 DIV (t * t)")).cast("long").alias(
            "h2_nano"
        ),
    )
    return s.filter(
        (F.col("n") >= 2) & (F.col("h1_nano") > F.col("h2_nano"))
    ).select("n", "rec", "h1_nano", "h2_nano", F.expr(_RC_Z).alias("z_milli"))


# ---------------------------------------------------------------------------
# x306 — part skyline (Pareto-optimal price vs size)
# ---------------------------------------------------------------------------

_SKY_ORACLE = """
WITH pp AS (
    SELECT p_partkey, CAST(p_size AS BIGINT) AS size,
           CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents
    FROM part
),
persize AS (
    SELECT size, CAST(MIN(price_cents) AS BIGINT) AS min_price
    FROM pp GROUP BY size
),
frontier AS (
    SELECT size,
           CAST(MIN(min_price) OVER (ORDER BY size DESC
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cm
    FROM persize
)
SELECT pp.p_partkey AS partkey, pp.size, pp.price_cents
FROM pp JOIN frontier f ON pp.size = f.size
WHERE pp.price_cents <= f.cm
ORDER BY pp.size DESC, pp.price_cents, pp.p_partkey
"""


@q(
    "x306_skyline_parts",
    "OP-G6/W4-ext",
    "Part skyline (Pareto frontier) on price-low/size-high: a part "
    "survives iff NO part with size >= its size is strictly cheaper "
    "— computed as a per-size min-price aggregate (<=50 rows) with a "
    "size-descending cumulative min, then one broadcast probe back "
    "(price <= frontier keeps exactly the non-dominated rows, "
    "equal-price ties all kept, deterministically). The classic "
    "SKYLINE operator the catalog lacked — 'best value at every "
    "capacity' — expressed so the only window runs over the bounded "
    "size domain, never the parts table (the naive formulation is "
    "an all-pairs anti-join). Scale: size agg + <=50-row window + "
    "one broadcast-frontier filter on the scan.",
    _SKY_ORACLE,
)
def x306_skyline_parts(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    pp = p.select(
        "p_partkey",
        F.col("p_size").cast("long").alias("size"),
        F.expr("CAST(round(p_retailprice * 100) AS BIGINT)").alias(
            "price_cents"
        ),
    )
    persize = pp.groupBy("size").agg(
        F.min("price_cents").cast("long").alias("min_price")
    )
    wf = (
        Window.partitionBy()
        .orderBy(F.col("size").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    frontier = persize.select(
        "size", F.min("min_price").over(wf).cast("long").alias("cm")
    )
    return (
        pp.join(F.broadcast(frontier), "size")
        .filter(F.col("price_cents") <= F.col("cm"))
        .select(F.col("p_partkey").alias("partkey"), "size", "price_cents")
        .orderBy(F.col("size").desc(), "price_cents", "partkey")
    )


# ---------------------------------------------------------------------------
# x307 — Cronbach's alpha of the three-judge quality battery
# ---------------------------------------------------------------------------

# alpha = k/(k-1) * (1 - sum_i var_i / var_total); with k=3 binary
# items this is the EXACT rational 1.5 * (den - num) / den where
#   num = sum_i a_i*(n-a_i)  (n^2-cleared item variances)
#   den = n*sum(r^2) - (sum r)^2  (n^2-cleared total variance)
# signed CASE division (alpha can be negative).
_CR_NUM3 = "(3 * (den - num))"  # 2*den*alpha = 3*(den-num)
_CR_PPM = (
    f"CAST(CASE WHEN {_CR_NUM3} >= 0"
    f" THEN {_CR_NUM3} * 500000 // den"
    f" ELSE -((-{_CR_NUM3}) * 500000 // den) END AS BIGINT)"
)

_CR_ORACLE = f"""
WITH judged AS (
    SELECT CASE WHEN n_chars BETWEEN 200 AND 5000 THEN 1 ELSE 0 END AS a,
           CASE WHEN length(text) - length(replace(text, ' ', '')) + 1
                     BETWEEN 40 AND 1000 THEN 1 ELSE 0 END AS b,
           CASE WHEN length(replace(replace(replace(text, '.', ''),
                     ',', ''), '!', '')) * 100 >= length(text) * 95
                THEN 1 ELSE 0 END AS c
    FROM documents
),
s AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(a) AS BIGINT) AS a1,
           CAST(SUM(b) AS BIGINT) AS b1,
           CAST(SUM(c) AS BIGINT) AS c1,
           CAST(SUM(a + b + c) AS BIGINT) AS sr,
           CAST(SUM((a + b + c) * (a + b + c)) AS BIGINT) AS srr
    FROM judged
),
v AS (
    SELECT n, a1, b1, c1,
           a1 * (n - a1) + b1 * (n - b1) + c1 * (n - c1) AS num,
           n * srr - sr * sr AS den
    FROM s
)
SELECT n, a1, b1, c1, num, den,
       {_CR_PPM} AS alpha_ppm
FROM v WHERE den > 0
"""


@q(
    "x307_cronbach_alpha",
    "OP-G5/X4-ext",
    "Cronbach's alpha of the three-judge document-quality battery "
    "(x296's judges as scale items): with binary items the item and "
    "total variances clear to n^2-free integers, so alpha = "
    "1.5*(den-num)/den is ONE exact rational in ppm with the x205 "
    "signed-division CASE. The internal-consistency complement of "
    "x296's agreement: kappa asks 'do raters agree per document', "
    "alpha asks 'do the items measure ONE construct' — a high-kappa "
    "low-alpha battery is consistent but incoherent. Bound: den <= "
    "9n^2, x5e5 ppm factor stays under 2^63 past 1e6 docs per the "
    "x205 rule. Scale: one map-side-combinable global agg.",
    _CR_ORACLE,
)
def x307_cronbach_alpha(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    ja = F.when(F.col("n_chars").between(200, 5000), 1).otherwise(0)
    jb = F.when(
        (
            F.length("text")
            - F.length(F.regexp_replace("text", " ", ""))
            + 1
        ).between(40, 1000),
        1,
    ).otherwise(0)
    jc = F.when(
        F.length(F.regexp_replace("text", r"[.,!]", "")) * 100
        >= F.length("text") * 95,
        1,
    ).otherwise(0)
    judged = d.select(ja.alias("a"), jb.alias("b"), jc.alias("c"))
    s = judged.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("a").cast("long").alias("a1"),
        F.sum("b").cast("long").alias("b1"),
        F.sum("c").cast("long").alias("c1"),
        F.sum(F.expr("a + b + c")).cast("long").alias("sr"),
        F.sum(F.expr("(a + b + c) * (a + b + c)")).cast("long").alias(
            "srr"
        ),
    )
    v = s.select(
        "n",
        "a1",
        "b1",
        "c1",
        F.expr(
            "a1 * (n - a1) + b1 * (n - b1) + c1 * (n - c1)"
        ).alias("num"),
        F.expr("n * srr - sr * sr").alias("den"),
    )
    return v.filter(F.col("den") > 0).select(
        "n",
        "a1",
        "b1",
        "c1",
        "num",
        "den",
        F.expr(_CR_PPM.replace("//", "DIV")).alias("alpha_ppm"),
    )


# ---------------------------------------------------------------------------
# x308 — Brown-Forsythe variance-homogeneity test across segments
# ---------------------------------------------------------------------------

# One-way ANOVA F on z = |x - median_g| in kilodollars:
#   SSB = sum S1_g^2/n_g - T^2/N,  SSW = sum S2_g - sum S1_g^2/n_g
#   F = (SSB/(k-1)) / (SSW/(N-k))
_BF_SSB = (
    "(CAST(sq AS DOUBLE) - CAST(t AS DOUBLE) * CAST(t AS DOUBLE)"
    " / CAST(nn AS DOUBLE))"
)
_BF_SSW = "(CAST(s2t AS DOUBLE) - CAST(sq AS DOUBLE))"
_BF_F = (
    f"CAST(floor(1000.0 * ({_BF_SSB} / CAST(k - 1 AS DOUBLE))"
    f" / ({_BF_SSW} / CAST(nn - k AS DOUBLE))) AS BIGINT)"
)

_BF_ORACLE = f"""
WITH k AS (
    SELECT c.c_mktsegment AS segment,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
rk AS (
    SELECT segment, cents,
           row_number() OVER (PARTITION BY segment ORDER BY cents) AS r,
           CAST(count(*) OVER (PARTITION BY segment) AS BIGINT) AS n
    FROM k
),
med AS (
    SELECT segment, cents AS med_cents FROM rk
    WHERE r = (n + 1) // 2
),
z AS (
    SELECT k.segment,
           CASE WHEN k.cents >= m.med_cents
                THEN (k.cents - m.med_cents) // 100000
                ELSE (m.med_cents - k.cents) // 100000 END AS z
    FROM k JOIN med m ON k.segment = m.segment
),
grp AS (
    SELECT segment, CAST(count(*) AS BIGINT) AS n_g,
           CAST(SUM(z) AS BIGINT) AS s1,
           CAST(SUM(z * z) AS BIGINT) AS s2
    FROM z GROUP BY segment
),
tot AS (
    SELECT CAST(SUM(n_g) AS BIGINT) AS nn,
           CAST(count(*) AS BIGINT) AS k,
           CAST(SUM(s1) AS BIGINT) AS t,
           CAST(SUM(s2) AS BIGINT) AS s2t,
           SUM(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
               / CAST(n_g AS DOUBLE)) AS sq
    FROM grp
)
SELECT nn, k, t, s2t,
       CAST(floor(1000.0 * sq) AS BIGINT) AS sq_milli,
       {_BF_F} AS f_milli
FROM tot WHERE nn > k AND k >= 2 AND {_BF_SSW} > 0
"""


@q(
    "x308_brown_forsythe",
    "OP-G6/W2-ext",
    "Brown-Forsythe variance-homogeneity test across segments: "
    "per-segment deviations |x - median_g| in kilodollars (median by "
    "exact rank pick (n+1) DIV 2, segment-partitioned — the "
    "certifiable form, x219's bucketed rank is the scale path; "
    "deviations nonnegative so the kd floor division is "
    "engine-identical), then the one-way ANOVA F on the deviations "
    "through one shared IEEE chain (the median-based Levene variant, "
    "robust to the non-normality x276 demonstrates). THE "
    "check x259's ANOVA silently assumes: equal variances. Scale: "
    "rank window per segment + one broadcast median probe + "
    "group-keyed moment aggs.",
    _BF_ORACLE,
)
def x308_brown_forsythe(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    k = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    wr = Window.partitionBy("segment").orderBy("cents")
    wn = Window.partitionBy("segment")
    rk = k.select(
        "segment",
        "cents",
        F.row_number().over(wr).alias("r"),
        F.count("*").over(wn).cast("long").alias("n"),
    )
    med = rk.filter(
        F.col("r") == F.expr("(n + 1) DIV 2")
    ).select("segment", F.col("cents").alias("med_cents"))
    z = k.join(F.broadcast(med), "segment").select(
        "segment",
        F.expr(
            "CASE WHEN cents >= med_cents"
            " THEN (cents - med_cents) DIV 100000"
            " ELSE (med_cents - cents) DIV 100000 END"
        ).alias("z"),
    )
    grp = z.groupBy("segment").agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum("z").cast("long").alias("s1"),
        F.sum(F.expr("z * z")).cast("long").alias("s2"),
    )
    tot = grp.agg(
        F.sum("n_g").cast("long").alias("nn"),
        F.count("*").cast("long").alias("k"),
        F.sum("s1").cast("long").alias("t"),
        F.sum("s2").cast("long").alias("s2t"),
        F.sum(
            F.expr(
                "CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
                " / CAST(n_g AS DOUBLE)"
            )
        ).alias("sq"),
    )
    return tot.filter(
        (F.col("nn") > F.col("k"))
        & (F.col("k") >= 2)
        & (F.expr(_BF_SSW) > 0)
    ).select(
        "nn",
        "k",
        "t",
        "s2t",
        F.expr("CAST(floor(1000.0 * sq) AS BIGINT)").alias("sq_milli"),
        F.expr(_BF_F).alias("f_milli"),
    )


# ---------------------------------------------------------------------------
# x309 — partial autocorrelation (PACF, lags 1..3) per nation
# ---------------------------------------------------------------------------

# Durbin-Levinson over the exact ACF pair (num_k, den) from the x171
# machinery:  r_k = num_k/den,
#   phi11 = r1
#   phi22 = (r2 - r1^2) / (1 - r1^2)
#   phi21 = r1 * (1 - phi22)
#   phi33 = (r3 - phi21*r2 - phi22*r1) / (1 - phi21*r1 - phi22*r2)
_PACF_R = {
    k: f"(CAST(n{k} AS DOUBLE) / CAST(den AS DOUBLE))" for k in (1, 2, 3)
}
_PACF_P11 = _PACF_R[1]
_PACF_P22 = (
    f"(({_PACF_R[2]} - {_PACF_R[1]} * {_PACF_R[1]})"
    f" / (1.0 - {_PACF_R[1]} * {_PACF_R[1]}))"
)
_PACF_P21 = f"({_PACF_R[1]} * (1.0 - {_PACF_P22}))"
_PACF_P33 = (
    f"(({_PACF_R[3]} - {_PACF_P21} * {_PACF_R[2]}"
    f" - {_PACF_P22} * {_PACF_R[1]})"
    f" / (1.0 - {_PACF_P21} * {_PACF_R[1]} - {_PACF_P22} * {_PACF_R[2]}))"
)

_PACF_ORACLE = f"""
WITH {MONTHLY_NATION_KILOS_CTE},
s AS (
    SELECT nkey, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(ykd) AS BIGINT) AS tot
    FROM m GROUP BY nkey
),
d AS (
    SELECT m.nkey, s.n, s.n * m.ykd - s.tot AS e,
           row_number() OVER (PARTITION BY m.nkey ORDER BY m.mon) AS t
    FROM m JOIN s ON m.nkey = s.nkey
),
lagged AS (
    SELECT a.nkey, lag.k AS lag_k,
           CAST(SUM(a.e * b.e) AS BIGINT) AS num
    FROM d a
    JOIN (SELECT unnest(range(1, 4)) AS k) lag ON TRUE
    JOIN d b ON b.nkey = a.nkey AND b.t = a.t - lag.k
    GROUP BY a.nkey, lag.k
),
den AS (
    SELECT nkey, CAST(SUM(e * e) AS BIGINT) AS den FROM d GROUP BY nkey
),
piv AS (
    SELECT l.nkey, den.den,
           CAST(SUM(CASE WHEN l.lag_k = 1 THEN l.num ELSE 0 END)
                AS BIGINT) AS n1,
           CAST(SUM(CASE WHEN l.lag_k = 2 THEN l.num ELSE 0 END)
                AS BIGINT) AS n2,
           CAST(SUM(CASE WHEN l.lag_k = 3 THEN l.num ELSE 0 END)
                AS BIGINT) AS n3
    FROM lagged l JOIN den ON l.nkey = den.nkey
    WHERE den.den > 0
    GROUP BY l.nkey, den.den
)
SELECT nkey, n1, n2, n3, den,
       CAST(floor(1000000.0 * {_PACF_P11}) AS BIGINT) AS pacf1_micro,
       CAST(floor(1000000.0 * {_PACF_P22}) AS BIGINT) AS pacf2_micro,
       CAST(floor(1000000.0 * {_PACF_P33}) AS BIGINT) AS pacf3_micro
FROM piv
WHERE 1.0 - {_PACF_R[1]} * {_PACF_R[1]} <> 0.0
  AND 1.0 - {_PACF_P21} * {_PACF_R[1]} - {_PACF_P22} * {_PACF_R[2]} <> 0.0
ORDER BY nkey
"""


@q(
    "x309_pacf",
    "OP-W3/G6-ext",
    "Partial autocorrelation (lags 1..3) of monthly revenue per "
    "nation via closed-form Durbin-Levinson over x171's EXACT "
    "num/den ACF integers — every phi is one shared IEEE chain over "
    "the same exact operands in both engines, micro-floored. "
    "Completes the Box-Jenkins identification kit: x171's ACF says "
    "how far correlation REACHES, PACF says where it's GENERATED "
    "(an AR(p) series cuts off after lag p) — the plot a forecaster "
    "reads to pick x148's model order, now a certified operator. "
    "Scale: identical frame shape to x171/x275 — bounded monthly "
    "series, lag equi-joins on the aggregate, a 25-row pivot.",
    _PACF_ORACLE,
)
def x309_pacf(spark, sf_dir):
    m = monthly_nation_kilos(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "customer")
    )
    s = m.groupBy("nkey").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("ykd").cast("long").alias("tot"),
    )
    wT = Window.partitionBy("nkey").orderBy("mon")
    d = (
        m.join(s, "nkey")
        .select(
            "nkey",
            "mon",
            (F.col("n") * F.col("ykd") - F.col("tot"))
            .cast("long")
            .alias("e"),
        )
        .withColumn("t", F.row_number().over(wT))
    )
    lags = spark.range(1, 4).select(F.col("id").cast("long").alias("lag_k"))
    a = d.select("nkey", "t", F.col("e").alias("e_t"))
    b = d.select(
        F.col("nkey").alias("nkb"),
        F.col("t").alias("tb"),
        F.col("e").alias("e_tk"),
    )
    lagged = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("nkey") == F.col("nkb"))
            & (F.col("tb") == F.col("t") - F.col("lag_k")),
        )
        .groupBy("nkey", "lag_k")
        .agg(F.sum(F.col("e_t") * F.col("e_tk")).cast("long").alias("num"))
    )
    den = d.groupBy("nkey").agg(
        F.sum(F.col("e") * F.col("e")).cast("long").alias("den")
    )
    piv = (
        lagged.join(den, "nkey")
        .filter(F.col("den") > 0)
        .groupBy("nkey", "den")
        .agg(
            F.sum(F.when(F.col("lag_k") == 1, F.col("num")).otherwise(0))
            .cast("long")
            .alias("n1"),
            F.sum(F.when(F.col("lag_k") == 2, F.col("num")).otherwise(0))
            .cast("long")
            .alias("n2"),
            F.sum(F.when(F.col("lag_k") == 3, F.col("num")).otherwise(0))
            .cast("long")
            .alias("n3"),
        )
    )
    return (
        piv.filter(
            (
                F.expr(f"1.0 - {_PACF_R[1]} * {_PACF_R[1]}") != 0.0
            )
            & (
                F.expr(
                    f"1.0 - {_PACF_P21} * {_PACF_R[1]}"
                    f" - {_PACF_P22} * {_PACF_R[2]}"
                )
                != 0.0
            )
        )
        .select(
            "nkey",
            "n1",
            "n2",
            "n3",
            "den",
            F.expr(
                f"CAST(floor(1000000.0 * {_PACF_P11}) AS BIGINT)"
            ).alias("pacf1_micro"),
            F.expr(
                f"CAST(floor(1000000.0 * {_PACF_P22}) AS BIGINT)"
            ).alias("pacf2_micro"),
            F.expr(
                f"CAST(floor(1000000.0 * {_PACF_P33}) AS BIGINT)"
            ).alias("pacf3_micro"),
        )
        .orderBy("nkey")
    )


# ---------------------------------------------------------------------------
# x310 — pairwise Cohen's d effect-size matrix across segments
# ---------------------------------------------------------------------------

# d = (m1 - m2) / s_pooled over the exact kilodollar moments;
# s_pooled^2 = ((n1-1)v1 + (n2-1)v2) / (n1+n2-2), sample variances.
_CD_V = (
    "((CAST({p}s2 AS DOUBLE) - CAST({p}s1 AS DOUBLE)"
    " * CAST({p}s1 AS DOUBLE) / CAST({p}n AS DOUBLE))"
    " / CAST({p}n - 1 AS DOUBLE))"
)
_CD_POOLED = (
    "(((CAST(an AS DOUBLE) - 1.0) * " + _CD_V.format(p="a")
    + " + (CAST(bn AS DOUBLE) - 1.0) * " + _CD_V.format(p="b")
    + ") / (CAST(an AS DOUBLE) + CAST(bn AS DOUBLE) - 2.0))"
)
_CD_D = (
    "CAST(floor(1000.0 * (CAST(as1 AS DOUBLE) / CAST(an AS DOUBLE)"
    " - CAST(bs1 AS DOUBLE) / CAST(bn AS DOUBLE))"
    f" / sqrt({_CD_POOLED})) AS BIGINT)"
)

_CD_ORACLE = f"""
WITH {SEGMENT_ORDER_KILOS_CTE},
s AS (
    SELECT segment, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS s1,
           CAST(SUM(x * x) AS BIGINT) AS s2
    FROM k GROUP BY segment
)
SELECT a.segment AS seg_a, b.segment AS seg_b,
       a.n AS an, b.n AS bn, a.s1 AS as1, b.s1 AS bs1,
       {_CD_D.replace('as2', 'a.s2').replace('bs2', 'b.s2')
             .replace('as1', 'a.s1').replace('bs1', 'b.s1')
             .replace('an', 'a.n').replace('bn', 'b.n')} AS d_milli
FROM s a JOIN s b ON a.segment < b.segment
WHERE a.n >= 2 AND b.n >= 2
ORDER BY seg_a, seg_b
"""


@q(
    "x310_cohens_d",
    "OP-G6-ext",
    "Pairwise Cohen's d effect-size matrix across the 5 customer "
    "segments (10 pairs) on order value in exact kilodollar moments: "
    "pooled-sd standardized mean difference through one shared IEEE "
    "chain in milli. The magnitude layer x259's ANOVA omits — a "
    "significant F with all |d| < 0.1 is a big-N nothing, and d is "
    "the number x182's power planner consumes. Same estimator family "
    "as x292's SMD (which audits an ALLOCATION; this ranks REAL "
    "groups). Scale: one segment moment agg; the pair join is "
    "5x5-bounded.",
    _CD_ORACLE,
)
def x310_cohens_d(spark, sf_dir):
    k = segment_order_kilos(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "customer")
    )
    s = k.groupBy("segment").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.expr("x * x")).cast("long").alias("s2"),
    )
    a = s.select(
        F.col("segment").alias("seg_a"),
        F.col("n").alias("an"),
        F.col("s1").alias("as1"),
        F.col("s2").alias("as2"),
    )
    b = s.select(
        F.col("segment").alias("seg_b"),
        F.col("n").alias("bn"),
        F.col("s1").alias("bs1"),
        F.col("s2").alias("bs2"),
    )
    # broadcast the 5-row side: the inequality pair condition would
    # otherwise plan a CartesianProduct (banned by the plan sweep even
    # on bounded frames)
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("seg_a") < F.col("seg_b"))
        .filter((F.col("an") >= 2) & (F.col("bn") >= 2))
        .select(
            "seg_a",
            "seg_b",
            "an",
            "bn",
            "as1",
            "bs1",
            F.expr(_CD_D).alias("d_milli"),
        )
        .orderBy("seg_a", "seg_b")
    )


# ---------------------------------------------------------------------------
# x311 — binary-segmentation changepoint locator over daily revenue
# ---------------------------------------------------------------------------

# objective(t) = SSE(1..t) + SSE(t+1..n) from exact prefix sums,
# through one shared double chain floored to milli; argmin by
# (obj, t) total order.
_BS_OBJ = (
    "((CAST(css AS DOUBLE) - CAST(cs AS DOUBLE) * CAST(cs AS DOUBLE)"
    " / CAST(t AS DOUBLE))"
    " + (CAST(tss - css AS DOUBLE)"
    " - CAST(tt - cs AS DOUBLE) * CAST(tt - cs AS DOUBLE)"
    " / CAST(nn - t AS DOUBLE)))"
)
_BS_OBJ_MILLI = f"CAST(floor(1000.0 * {_BS_OBJ}) AS BIGINT)"
_BS_TOTAL = (
    "(CAST(tss AS DOUBLE) - CAST(tt AS DOUBLE) * CAST(tt AS DOUBLE)"
    " / CAST(nn AS DOUBLE))"
)
_BS_TOTAL_MILLI = f"CAST(floor(1000.0 * {_BS_TOTAL}) AS BIGINT)"
_BS_VE_PPM = (
    f"CAST(floor(1000000.0 * (1.0 - {_BS_OBJ} / {_BS_TOTAL})) AS BIGINT)"
)

_BS_ORACLE = f"""
WITH {DAILY_REVENUE_CTE},
pre AS (
    SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t,
           CAST(SUM(x) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cs,
           CAST(SUM(x * x) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS css,
           CAST(count(*) OVER () AS BIGINT) AS nn,
           CAST(SUM(x) OVER () AS BIGINT) AS tt,
           CAST(SUM(x * x) OVER () AS BIGINT) AS tss
    FROM daily
),
obj AS (
    SELECT nn, t AS split_t,
           {_BS_OBJ_MILLI} AS obj_milli,
           {_BS_TOTAL_MILLI} AS total_sse_milli,
           {_BS_VE_PPM} AS var_explained_ppm
    FROM pre WHERE t >= 2 AND t <= nn - 2 AND {_BS_TOTAL} > 0.0
)
SELECT nn, split_t, obj_milli, total_sse_milli, var_explained_ppm
FROM obj
ORDER BY obj_milli, split_t
LIMIT 1
"""


@q(
    "x311_binary_segmentation",
    "OP-W4/G6-ext",
    "Binary-segmentation changepoint LOCATOR over daily revenue: for "
    "every admissible split t the two-segment SSE objective comes "
    "from exact BIGINT prefix sums (kilodollar units) through one "
    "shared IEEE chain floored to milli, the best split is the "
    "(objective, t) total-order minimum, and variance-explained ppm "
    "says whether the break is real. x125's CUSUM DETECTS drift "
    "against a fixed reference; this finds WHERE the level shifted "
    "(the first recursion step of the binary-segmentation algorithm "
    "every changepoint library runs). Scale: day agg -> prefix "
    "windows over the bounded daily frame -> TakeOrdered(1); no "
    "corpus-sized windows anywhere.",
    _BS_ORACLE,
)
def x311_binary_segmentation(spark, sf_dir):
    daily = daily_order_revenue(load_table(spark, sf_dir, "orders"))
    wcum = (
        Window.partitionBy()
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy()
    pre = daily.select(
        F.row_number().over(Window.partitionBy().orderBy("d"))
        .cast("long")
        .alias("t"),
        F.sum("x").over(wcum).cast("long").alias("cs"),
        F.sum(F.expr("x * x")).over(wcum).cast("long").alias("css"),
        F.count("*").over(wall).cast("long").alias("nn"),
        F.sum("x").over(wall).cast("long").alias("tt"),
        F.sum(F.expr("x * x")).over(wall).cast("long").alias("tss"),
    )
    obj = pre.filter(
        (F.col("t") >= 2)
        & (F.col("t") <= F.col("nn") - 2)
        & (F.expr(_BS_TOTAL) > 0.0)
    ).select(
        "nn",
        F.col("t").alias("split_t"),
        F.expr(_BS_OBJ_MILLI).alias("obj_milli"),
        F.expr(_BS_TOTAL_MILLI).alias("total_sse_milli"),
        F.expr(_BS_VE_PPM).alias("var_explained_ppm"),
    )
    return obj.orderBy("obj_milli", "split_t").limit(1)
