"""Catalog entries x168-x193: rank statistics, graph hops,
attribution, ANN and near-dup evaluation, data-quality audits and
corpus-curation signals.

Reference parity: these extend SURVEY §2.10's mandate (warehouse
analytics + LLM-training-data operators beyond the reference's own
surface — the reference is Airflow DAGs + ClickHouse SQL).

* ``x168_mann_whitney`` — exact Mann-Whitney U rank-sum comparison of
  discounted vs full-price line quantities per return flag: because
  l_quantity has a 50-value domain, the rank sums compile to a
  value-level hash-agg plus a 50-row window — U (doubled to absorb
  tie half-ranks) and the rank-biserial effect numerator/denominator
  are exact BIGINTs; no global sort of the fact table, ever.
* ``x169_spearman_monthly`` — Spearman rank correlation between
  monthly shipped quantity and monthly revenue per part brand:
  doubled average ranks (2*rank + ties - 1, exact integers) over a
  calendar-bounded series (<= 84 months per brand), then the cleared-
  denominator Pearson-on-ranks ingredients (num, denx, deny) as exact
  BIGINTs with one IEEE divide at the edge for rho.
* ``x170_kendall_tau`` — Kendall tau-b ingredients (concordant /
  discordant / tie pair counts) between monthly order count and
  monthly revenue per nation: the all-pairs scan is calendar-bounded
  (<= 84 months -> <= 3486 pairs per nation), exact integers end to
  end, one IEEE divide for tau_b.
* ``x171_acf_lags`` — exact autocorrelation (lags 1..3) of monthly
  revenue per nation: revenue floored to whole kilodollars keeps the
  N-cleared covariance products (N*x_t - S)(N*x_{t-k} - S) inside
  BIGINT through the 100x sweep; ACF emitted as exact num/den plus
  one IEEE divide.
* ``x172_bfs_hops`` — bounded BFS (hops 0/1/2) from the 5 most-
  ordered parts over the co-order graph: per-round broadcast
  semi-join frontier expansion, edge list linear in lineitem
  (within-order fan-out bounded), unrolled so the oracle is plain
  CTEs.
* ``x173_weighted_median`` — exact quantity-weighted median price
  per brand via value-level aggregation + one cumulative-weight
  window; 2*cumw >= W avoids the W/2 division.
* ``x174_u_attribution`` — U-shaped (40/20/40) multi-touch
  attribution with the middle share penny-allocated largest-
  remainder style; every journey sums to exactly 1000
  milli-credits.
* ``x175_cluster_quality`` — per-label cohesion vs nearest-other-
  centroid separation over shift-quantized (nonnegative scale-6)
  embeddings: integer centroids via floor division, exact BIGINT
  separation, DECIMAL-exact cohesion cast once to DOUBLE.
* ``x176_seq_brand_adoption`` — customers whose first brand-A month
  strictly precedes their first brand-B month: the temporal
  association miner, quadratic only over each customer's <= 25
  brand rows.
* ``x177_ann_recall_eval`` — recall@{1,5,10} of the x102 portable
  SRP multiprobe candidates vs the exact cosine top-10, both
  rankings engine-portable so the EVAL itself is hash-certified; a
  lazy localCheckpoint on the ~24-byte/row score table keeps the
  four-consumer DAG from re-inlining the 64-dim projection.
* ``x178_stump_split`` — exact decision stump (best quantity
  threshold predicting returns) by misclassification count:
  min(pos, neg) per side keeps everything in BIGINT addition — no
  Gini squared-count overflow cliff at any scale.
* ``x179_neardup_threshold_curve`` — pair/document counts at each
  cosine cut 0.4..0.9 over the certified x107 SRP candidate pairs:
  the dedup-tau tuning artifact, composed from already-certified
  machinery so even the calibration is hash-checked.
* ``x180_event_burstiness`` — Fano factor (variance/mean of daily
  counts) per event type; days via epoch floor-division (engine
  date casts diverge under non-UTC sessions, epoch arithmetic
  cannot), variance cleared by N, one IEEE divide at the edge.
* ``x181_fk_integrity`` — referential-integrity audit over all six
  declared FK edges: row/orphan counts per edge via left-anti
  joins, orphan rate in exact ppm — the cross-table data-quality
  gate beside xq's column rules.
* ``x182_power_sample_size`` — per-brand sample size per arm to
  detect a 10% relative return-rate lift (alpha=0.05, power 80%):
  the classical formula cleared to one exact BIGINT ceil-division
  (the shared factor x cancelled — the uncancelled form overflowed
  at the 100x sweep scale).
* ``x183_join_key_skew`` — distinct/max/p99 key-frequency and
  max-to-average skew per fact join key, with p99 rank-picked over
  the frequency-of-frequency table so no sort ever sees keys — the
  input to every salting/AQE-threshold decision.
* ``x184_dup_cluster_sizes`` — exact-dup cluster size distribution
  (clusters / docs / exact ppm / keep-one removable count per
  size): the before-action duplication audit behind every "dedup
  saved N%" claim; 16-byte hashes cross the shuffle, not documents.
* ``x185_xyz_classes`` — XYZ demand-variability classes per brand:
  the cv thresholds squared into pure integer N-cleared moment
  compares (no sqrt), the inventory companion to x112's ABC.
* ``x186_growth_accounting`` — per-period new / retained /
  resurrected / churned-next user decomposition over calendar-free
  30-day epoch periods; active = new + retained + resurrected holds
  by construction.
* ``x187_session_paths`` — top first-4-step session journeys
  ('view>click>purchase'), path strings made engine-identical by a
  total per-session event order; the path-mining staple pairwise
  transitions and fixed funnels both miss.
* ``x188_embedding_audit`` — the vector-pipeline admission gate:
  null / wrong-dim / zero-vector counts, modal dimension, and exact
  rank-picked p50/p90 of the integer squared norm (mixed-model-
  version detector); corruption-injection tested.
* ``x189_seasonal_decomp`` — additive classical decomposition:
  centered MA-12 scaled x24 into exact integers, per-calendar-month
  seasonal sums with one IEEE divide — completes the forecasting
  toolkit (Holt, ACF, MASE, conformal, seasonality index).
* ``x190_rolling_market_corr`` — rolling 12-month nation-vs-market
  revenue correlation ('market beta'): fixed window length makes
  every cleared-denominator ingredient exact BIGINT; decoupling
  shows up before level trends move.
* ``x191_apriori_triples`` — Apriori frequent brand triples with
  REAL downward-closure pruning (P2 join P2 candidate generation,
  third sub-pair semi-checked before any triple is counted),
  relative minsup so the query is meaningful at every SF; prune
  losslessness pinned against an unpruned recount.
* ``x192_compression_quality`` — DEFLATE compression-ratio quality
  proxy per source (the DataComp/RedPajama entropy-proxy filter):
  one Arrow-batched mapInPandas zlib pass, exact byte totals, ppm
  ratio, repetitiveness floor count; harness entry (no DEFLATE in
  DuckDB) with pytest-pinned byte lengths.
* ``x193_vocab_growth`` — Heaps-law saturation curve: vocabulary
  attributed to its first document, rolled to corpus deciles with
  cumulative vocab and exact novelty ppm — the stop-scaling-this-
  source curation signal; conservation pinned against the corpus
  distinct-token count.

Hash-parity conventions as plans/queries.py: exact cents/BIGINT
arithmetic, nonnegative-operand floor divisions only, decimal-exact
sums cast to DOUBLE at the edge (the ``_dsum`` discipline), total
ORDER BY on every output.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ravelytics_spark.plans.frames import (
    MONTHLY_NATION_KILOS_CTE,
    monthly_nation_kilos,
)
from ravelytics_spark.plans.registry import q
from ravelytics_spark.plans.round4 import embedding_probe
from ravelytics_spark.sources.tables import load_table
from ravelytics_spark.operators.ranks import (
    global_ntile,
    global_row_number,
)

# ---------------------------------------------------------------------------
# x168 — Mann-Whitney U via value-level counting (50-value domain)
# ---------------------------------------------------------------------------

_MW_ORACLE = """
WITH v AS (
    SELECT l_returnflag AS flag,
           CAST(l_quantity AS BIGINT) AS q,
           CAST(sum(CASE WHEN l_discount > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS a,
           CAST(sum(CASE WHEN l_discount > 0 THEN 0 ELSE 1 END) AS BIGINT)
               AS b
    FROM lineitem
    GROUP BY l_returnflag, CAST(l_quantity AS BIGINT)
),
w AS (
    SELECT flag, q, a, b,
           COALESCE(SUM(b) OVER (PARTITION BY flag ORDER BY q
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS cumb_less
    FROM v
)
SELECT flag,
       CAST(SUM(a) AS BIGINT) AS n_a,
       CAST(SUM(b) AS BIGINT) AS n_b,
       CAST(SUM(a * (2 * cumb_less + b)) AS BIGINT) AS u2_a,
       CAST(2 * SUM(a) * SUM(b) - SUM(a * (2 * cumb_less + b)) AS BIGINT)
           AS u2_b,
       CAST(2 * SUM(a * (2 * cumb_less + b)) - 2 * SUM(a) * SUM(b)
            AS BIGINT) AS rb_num,
       CAST(2 * SUM(a) * SUM(b) AS BIGINT) AS rb_den
FROM w
GROUP BY flag
ORDER BY flag
"""


@q(
    "x168_mann_whitney",
    "OP-G6/X9-ext",
    "Exact Mann-Whitney U rank-sum test ingredients comparing the "
    "quantity distribution of discounted (l_discount > 0) vs "
    "full-price lines, per return flag — the nonparametric two-sample "
    "location test every experimentation platform reaches for when "
    "t-test normality fails. The textbook form ranks all N rows "
    "globally (a full sort); because l_quantity lives on a 50-value "
    "integer domain, U collapses to value-level counting: one "
    "hash-agg to (flag, q, a, b) counts, a 50-row-per-flag window for "
    "the cumulative other-group count, and U_A = sum a*(cumB< + "
    "ties/2). Everything is doubled (u2_* = 2U) so tie half-ranks "
    "stay integral; rank-biserial effect size is emitted as exact "
    "num/den. Scale: the only shuffle is the value-level agg "
    "(map-side combinable to <= 150 groups); the window runs over "
    "<= 50 rows per flag. At 100 TB the plan is one partial-agg pass.",
    _MW_ORACLE,
)
def x168_mann_whitney(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    v = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            F.col("l_quantity").cast("long").alias("q"),
            F.when(F.col("l_discount") > 0, 1).otherwise(0).alias("is_a"),
        )
        .groupBy("flag", "q")
        .agg(
            F.sum("is_a").cast("long").alias("a"),
            F.sum(1 - F.col("is_a")).cast("long").alias("b"),
        )
    )
    wq = (
        Window.partitionBy("flag")
        .orderBy("q")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w = v.withColumn(
        "cumb_less", F.coalesce(F.sum("b").over(wq), F.lit(0))
    )
    u2a = F.sum(F.col("a") * (2 * F.col("cumb_less") + F.col("b")))
    return (
        w.groupBy("flag")
        .agg(
            F.sum("a").cast("long").alias("n_a"),
            F.sum("b").cast("long").alias("n_b"),
            u2a.cast("long").alias("u2_a"),
            (2 * F.sum("a") * F.sum("b") - u2a).cast("long").alias("u2_b"),
            (2 * u2a - 2 * F.sum("a") * F.sum("b"))
            .cast("long")
            .alias("rb_num"),
            (2 * F.sum("a") * F.sum("b")).cast("long").alias("rb_den"),
        )
        .orderBy("flag")
    )


# ---------------------------------------------------------------------------
# x169 — Spearman rank correlation over calendar-bounded monthly series
# ---------------------------------------------------------------------------

_SPEAR_ORACLE = """
WITH m AS (
    SELECT p.p_brand AS brand,
           CAST(date_trunc('month', l.l_shipdate) AS DATE) AS mon,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty,
           CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS cents
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand, CAST(date_trunc('month', l.l_shipdate) AS DATE)
),
r AS (
    SELECT brand, mon,
           2 * rank() OVER (PARTITION BY brand ORDER BY qty)
               + count(*) OVER (PARTITION BY brand, qty) - 1 AS d1,
           2 * rank() OVER (PARTITION BY brand ORDER BY cents)
               + count(*) OVER (PARTITION BY brand, cents) - 1 AS d2
    FROM m
),
s AS (
    SELECT brand,
           CAST(count(*) AS BIGINT) AS n_months,
           CAST(SUM(d1 * d2) AS BIGINT) AS s12,
           CAST(SUM(d1) AS BIGINT) AS s1,
           CAST(SUM(d2) AS BIGINT) AS s2,
           CAST(SUM(d1 * d1) AS BIGINT) AS s11,
           CAST(SUM(d2 * d2) AS BIGINT) AS s22
    FROM r
    GROUP BY brand
)
SELECT brand, n_months,
       CAST(n_months * s12 - s1 * s2 AS BIGINT) AS num,
       CAST(n_months * s11 - s1 * s1 AS BIGINT) AS denx,
       CAST(n_months * s22 - s2 * s2 AS BIGINT) AS deny,
       CASE WHEN n_months * s11 - s1 * s1 = 0
              OR n_months * s22 - s2 * s2 = 0 THEN CAST(0 AS DOUBLE)
            ELSE CAST(n_months * s12 - s1 * s2 AS DOUBLE)
                 / sqrt(CAST(n_months * s11 - s1 * s1 AS DOUBLE)
                        * CAST(n_months * s22 - s2 * s2 AS DOUBLE)) END
           AS rho
FROM s
ORDER BY brand
"""


@q(
    "x169_spearman_monthly",
    "OP-G6/W2-ext",
    "Spearman rank correlation between monthly shipped quantity and "
    "monthly revenue, per part brand — the robust does-volume-track-"
    "revenue monitor (rank correlation ignores outlier months that "
    "wreck Pearson). Ranks use the exact average-rank tie convention, "
    "doubled to stay integral: d = 2*rank + ties - 1. The series is "
    "CALENDAR-BOUNDED (<= 84 months per brand regardless of data "
    "scale), so every cleared-denominator ingredient — num = n*S12 - "
    "S1*S2, denx, deny — fits BIGINT with ~9 digits of headroom at "
    "any corpus size; rho itself is the catalog's one-IEEE-divide-at-"
    "the-edge convention (exact integers in, one correctly-rounded "
    "sqrt+divide out, bit-identical across engines). Scale: one fact "
    "hash-agg to brand x month (map-side combinable), then windows "
    "over <= 84 rows per brand.",
    _SPEAR_ORACLE,
)
def x169_spearman_monthly(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    m = (
        li.join(p, li.l_partkey == p.p_partkey)
        .select(
            F.col("p_brand").alias("brand"),
            F.date_trunc("month", "l_shipdate").cast("date").alias("mon"),
            F.col("l_quantity").cast("long").alias("lq"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("lc"),
        )
        .groupBy("brand", "mon")
        .agg(
            F.sum("lq").cast("long").alias("qty"),
            F.sum("lc").cast("long").alias("cents"),
        )
    )

    def dranks(col, alias):
        wr = Window.partitionBy("brand").orderBy(col)
        wt = Window.partitionBy("brand", col)
        return (
            2 * F.rank().over(wr) + F.count("*").over(wt) - 1
        ).cast("long").alias(alias)

    r = m.select(
        "brand", "mon", dranks("qty", "d1"), dranks("cents", "d2")
    )
    s = r.groupBy("brand").agg(
        F.count("*").cast("long").alias("n_months"),
        F.sum(F.col("d1") * F.col("d2")).cast("long").alias("s12"),
        F.sum("d1").cast("long").alias("s1"),
        F.sum("d2").cast("long").alias("s2"),
        F.sum(F.col("d1") * F.col("d1")).cast("long").alias("s11"),
        F.sum(F.col("d2") * F.col("d2")).cast("long").alias("s22"),
    )
    num = (F.col("n_months") * F.col("s12") - F.col("s1") * F.col("s2")).cast(
        "long"
    )
    denx = (
        F.col("n_months") * F.col("s11") - F.col("s1") * F.col("s1")
    ).cast("long")
    deny = (
        F.col("n_months") * F.col("s22") - F.col("s2") * F.col("s2")
    ).cast("long")
    return (
        s.select(
            "brand",
            "n_months",
            num.alias("num"),
            denx.alias("denx"),
            deny.alias("deny"),
            F.when((denx == 0) | (deny == 0), F.lit(0.0))
            .otherwise(
                num.cast("double")
                / F.sqrt(denx.cast("double") * deny.cast("double"))
            )
            .alias("rho"),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# x170 — Kendall tau-b pair counts over calendar-bounded monthly series
# ---------------------------------------------------------------------------

_KT_ORACLE = """
WITH m AS (
    SELECT c.c_nationkey AS nkey,
           CAST(date_trunc('month', o.o_orderdate) AS DATE) AS mon,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey, CAST(date_trunc('month', o.o_orderdate) AS DATE)
),
pairs AS (
    SELECT a.nkey,
           CASE WHEN (a.n_orders < b.n_orders AND a.cents < b.cents)
                  OR (a.n_orders > b.n_orders AND a.cents > b.cents)
                THEN 1 ELSE 0 END AS conc,
           CASE WHEN (a.n_orders < b.n_orders AND a.cents > b.cents)
                  OR (a.n_orders > b.n_orders AND a.cents < b.cents)
                THEN 1 ELSE 0 END AS disc,
           CASE WHEN a.n_orders = b.n_orders AND a.cents <> b.cents
                THEN 1 ELSE 0 END AS tx,
           CASE WHEN a.cents = b.cents AND a.n_orders <> b.n_orders
                THEN 1 ELSE 0 END AS ty,
           CASE WHEN a.n_orders = b.n_orders AND a.cents = b.cents
                THEN 1 ELSE 0 END AS txy
    FROM m a JOIN m b ON a.nkey = b.nkey AND a.mon < b.mon
)
SELECT nkey,
       CAST(SUM(conc) AS BIGINT) AS concordant,
       CAST(SUM(disc) AS BIGINT) AS discordant,
       CAST(SUM(tx) AS BIGINT) AS ties_x,
       CAST(SUM(ty) AS BIGINT) AS ties_y,
       CAST(SUM(txy) AS BIGINT) AS ties_xy,
       CASE WHEN SUM(conc) + SUM(disc) + SUM(tx) + SUM(txy) = 0
              OR SUM(conc) + SUM(disc) + SUM(ty) + SUM(txy) = 0
            THEN CAST(0 AS DOUBLE)
            ELSE CAST(SUM(conc) - SUM(disc) AS DOUBLE)
                 / sqrt(CAST(SUM(conc) + SUM(disc) + SUM(tx) + SUM(txy)
                             AS DOUBLE)
                        * CAST(SUM(conc) + SUM(disc) + SUM(ty) + SUM(txy)
                               AS DOUBLE)) END AS tau_b
FROM pairs
GROUP BY nkey
ORDER BY nkey
"""


@q(
    "x170_kendall_tau",
    "OP-G6/J2-ext",
    "Kendall tau-b rank correlation between monthly order count and "
    "monthly revenue, per nation — the pair-counting rank statistic "
    "(more robust than Spearman for short, tie-heavy series, and its "
    "C/D counts feed Mann-Kendall trend tests directly). The "
    "quadratic all-pairs scan that makes tau notorious is harmless "
    "here because the series is CALENDAR-BOUNDED: <= 84 months per "
    "nation -> <= 3486 pairs per key, regardless of fact-table scale, "
    "generated by one self-equi-join on the nation key of the monthly "
    "aggregate (not the fact table). Concordant / discordant / tie "
    "counts are exact BIGINTs; tau_b is the one-IEEE-divide "
    "convention. Scale: the fact table sees exactly one map-side-"
    "combinable hash-agg; everything downstream touches <= 84 rows "
    "per nation.",
    _KT_ORACLE,
)
def x170_kendall_tau(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    m = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("c_nationkey").alias("nkey"),
            F.date_trunc("month", "o_orderdate").cast("date").alias("mon"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents0"),
        )
        .groupBy("nkey", "mon")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents0").cast("long").alias("cents"),
        )
    )
    a = m.select(
        "nkey",
        F.col("mon").alias("mon_a"),
        F.col("n_orders").alias("xa"),
        F.col("cents").alias("ya"),
    )
    b = m.select(
        "nkey",
        F.col("mon").alias("mon_b"),
        F.col("n_orders").alias("xb"),
        F.col("cents").alias("yb"),
    )
    pairs = a.join(b, "nkey").filter(F.col("mon_a") < F.col("mon_b"))
    conc = F.when(
        ((F.col("xa") < F.col("xb")) & (F.col("ya") < F.col("yb")))
        | ((F.col("xa") > F.col("xb")) & (F.col("ya") > F.col("yb"))),
        1,
    ).otherwise(0)
    disc = F.when(
        ((F.col("xa") < F.col("xb")) & (F.col("ya") > F.col("yb")))
        | ((F.col("xa") > F.col("xb")) & (F.col("ya") < F.col("yb"))),
        1,
    ).otherwise(0)
    tx = F.when(
        (F.col("xa") == F.col("xb")) & (F.col("ya") != F.col("yb")), 1
    ).otherwise(0)
    ty = F.when(
        (F.col("ya") == F.col("yb")) & (F.col("xa") != F.col("xb")), 1
    ).otherwise(0)
    txy = F.when(
        (F.col("xa") == F.col("xb")) & (F.col("ya") == F.col("yb")), 1
    ).otherwise(0)
    g = pairs.groupBy("nkey").agg(
        F.sum(conc).cast("long").alias("concordant"),
        F.sum(disc).cast("long").alias("discordant"),
        F.sum(tx).cast("long").alias("ties_x"),
        F.sum(ty).cast("long").alias("ties_y"),
        F.sum(txy).cast("long").alias("ties_xy"),
    )
    nx = (
        F.col("concordant")
        + F.col("discordant")
        + F.col("ties_x")
        + F.col("ties_xy")
    )
    ny = (
        F.col("concordant")
        + F.col("discordant")
        + F.col("ties_y")
        + F.col("ties_xy")
    )
    return (
        g.withColumn(
            "tau_b",
            F.when((nx == 0) | (ny == 0), F.lit(0.0)).otherwise(
                (F.col("concordant") - F.col("discordant")).cast("double")
                / F.sqrt(nx.cast("double") * ny.cast("double"))
            ),
        )
        .orderBy("nkey")
    )


# ---------------------------------------------------------------------------
# x171 — exact autocorrelation (lags 1..3) of monthly revenue per nation
# ---------------------------------------------------------------------------

_ACF_LAGS = 3

_ACF_ORACLE = f"""
WITH {MONTHLY_NATION_KILOS_CTE},
s AS (
    SELECT nkey, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(ykd) AS BIGINT) AS tot
    FROM m GROUP BY nkey
),
d AS (
    SELECT m.nkey, m.mon, s.n, s.n * m.ykd - s.tot AS e,
           row_number() OVER (PARTITION BY m.nkey ORDER BY m.mon) AS t
    FROM m JOIN s ON m.nkey = s.nkey
),
lagged AS (
    SELECT a.nkey, lag.k, a.e AS e_t, b.e AS e_tk, a.n
    FROM d a
    JOIN (SELECT unnest(range(1, {_ACF_LAGS + 1})) AS k) lag ON TRUE
    JOIN d b ON b.nkey = a.nkey AND b.t = a.t - lag.k
),
den AS (
    SELECT nkey, CAST(SUM(e * e) AS BIGINT) AS den FROM d GROUP BY nkey
)
SELECT l.nkey, CAST(l.k AS BIGINT) AS lag_k,
       CAST(SUM(l.e_t * l.e_tk) AS BIGINT) AS num,
       den.den AS den,
       CASE WHEN den.den = 0 THEN CAST(0 AS DOUBLE)
            ELSE CAST(SUM(l.e_t * l.e_tk) AS DOUBLE)
                 / CAST(den.den AS DOUBLE) END AS acf
FROM lagged l JOIN den ON l.nkey = den.nkey
GROUP BY l.nkey, l.k, den.den
ORDER BY l.nkey, lag_k
"""


@q(
    "x171_acf_lags",
    "OP-W3/G6-ext",
    "Exact autocorrelation function (lags 1..3) of monthly revenue "
    "per nation — the seasonality/momentum fingerprint behind every "
    "forecast-model choice (AR order selection, seasonal-naive "
    "validity). Mean-centering normally forces floats; here the "
    "deviations are cleared by N (e_t = N*y_t - S, exact BIGINT) so "
    "num_k = sum e_t*e_{{t-k}} and den = sum e_t^2 are exact integers "
    "— monthly revenue is pre-floored to whole kilodollars "
    "(nonnegative floor division, engine-identical) to keep e^2 "
    "inside BIGINT through the 100x sweep (~6e17 at 100x sf0.1, 9.2e18 "
    "ceiling; the bound is documented, not hoped). The series is "
    "calendar-bounded (<= 84 months/nation); lag alignment is an "
    "equi-join on (nation, t-k) over the aggregate, never the fact "
    "table. ACF itself is the one-IEEE-divide convention; its exact "
    "num/den ride along for engine-proof comparison.",
    _ACF_ORACLE,
)
def x171_acf_lags(spark, sf_dir):
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
            (F.col("n") * F.col("ykd") - F.col("tot")).cast("long").alias("e"),
        )
        .withColumn("t", F.row_number().over(wT))
    )
    lags = spark.range(1, _ACF_LAGS + 1).select(
        F.col("id").cast("long").alias("lag_k")
    )
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
        .drop("nkb", "tb")
    )
    den = d.groupBy("nkey").agg(
        F.sum(F.col("e") * F.col("e")).cast("long").alias("den")
    )
    g = (
        lagged.groupBy("nkey", "lag_k")
        .agg(F.sum(F.col("e_t") * F.col("e_tk")).cast("long").alias("num"))
        .join(den, "nkey")
    )
    return (
        g.select(
            "nkey",
            "lag_k",
            "num",
            "den",
            F.when(F.col("den") == 0, F.lit(0.0))
            .otherwise(F.col("num").cast("double") / F.col("den").cast("double"))
            .alias("acf"),
        )
        .orderBy("nkey", "lag_k")
    )


# ---------------------------------------------------------------------------
# x172 — bounded BFS hop distance over the co-order part graph
# ---------------------------------------------------------------------------

_BFS_ORACLE = """
WITH cnt AS (
    SELECT l_partkey, CAST(count(*) AS BIGINT) AS c
    FROM lineitem GROUP BY l_partkey
),
seeds AS (
    SELECT l_partkey AS pk FROM cnt
    ORDER BY c DESC, l_partkey LIMIT 5
),
e AS (
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
h1 AS (
    SELECT DISTINCT e.dst AS pk FROM e
    WHERE e.src IN (SELECT pk FROM seeds)
      AND e.dst NOT IN (SELECT pk FROM seeds)
),
h2 AS (
    SELECT DISTINCT e.dst AS pk FROM e
    WHERE e.src IN (SELECT pk FROM h1)
      AND e.dst NOT IN (SELECT pk FROM seeds)
      AND e.dst NOT IN (SELECT pk FROM h1)
)
SELECT CAST(0 AS BIGINT) AS hop,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(COALESCE(sum(pk), 0) AS BIGINT) AS sum_partkey
FROM seeds
UNION ALL
SELECT CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
       CAST(COALESCE(sum(pk), 0) AS BIGINT) FROM h1
UNION ALL
SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
       CAST(COALESCE(sum(pk), 0) AS BIGINT) FROM h2
ORDER BY hop
"""


@q(
    "x172_bfs_hops",
    "OP-X2/J3-ext",
    "Bounded breadth-first search over the co-order part graph: hop "
    "distance (0/1/2) from the 5 most-ordered parts, where parts are "
    "adjacent when they appear on the same order — the "
    "recommendation-radius / blast-radius primitive (also-bought "
    "expansion, contaminated-lot tracing). Spark-first shape: the "
    "edge list is the within-order self-join (orders hold <= ~7 "
    "lines, so fan-out per order is bounded ~C(7,2) and edge count "
    "is LINEAR in lineitem); each BFS round is one broadcast "
    "semi-join of the tiny frontier against the edge list plus an "
    "anti-join against the visited set — no iteration state on the "
    "driver beyond the frontier row count. Unrolled to 2 hops so the "
    "DuckDB twin is plain unrolled CTEs (no recursion semantics to "
    "match). Output per hop: part count + partkey checksum.",
    _BFS_ORACLE,
)
def x172_bfs_hops(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    cnt = li.groupBy("l_partkey").agg(F.count("*").cast("long").alias("c"))
    seeds = (
        cnt.orderBy(F.desc("c"), F.asc("l_partkey"))
        .limit(5)
        .select(F.col("l_partkey").alias("pk"))
    )
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst")
    )
    e = (
        a.join(b, "ok")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    h1 = (
        e.join(F.broadcast(seeds), e.src == seeds.pk, "semi")
        .select("dst")
        .distinct()
        .join(F.broadcast(seeds), F.col("dst") == seeds.pk, "anti")
        .select(F.col("dst").alias("pk"))
    )
    h2 = (
        e.join(F.broadcast(h1), e.src == h1.pk, "semi")
        .select("dst")
        .distinct()
        .join(F.broadcast(seeds), F.col("dst") == seeds.pk, "anti")
        .join(F.broadcast(h1), F.col("dst") == h1.pk, "anti")
        .select(F.col("dst").alias("pk"))
    )

    def level(df, hop):
        return df.agg(
            F.lit(hop).cast("long").alias("hop"),
            F.count("*").cast("long").alias("n_parts"),
            F.coalesce(F.sum("pk"), F.lit(0)).cast("long").alias(
                "sum_partkey"
            ),
        )

    return (
        level(seeds, 0)
        .unionAll(level(h1, 1))
        .unionAll(level(h2, 2))
        .orderBy("hop")
    )


# ---------------------------------------------------------------------------
# x173 — exact weighted median price per brand (quantity-weighted)
# ---------------------------------------------------------------------------

_WMED_ORACLE = """
WITH v AS (
    SELECT p.p_brand AS brand,
           CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS w
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand, CAST(round(l.l_extendedprice * 100) AS BIGINT)
),
c AS (
    SELECT brand, cents, w,
           SUM(w) OVER (PARTITION BY brand ORDER BY cents
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumw,
           SUM(w) OVER (PARTITION BY brand) AS totw
    FROM v
)
SELECT brand,
       CAST(max(totw) AS BIGINT) AS total_weight,
       CAST(min(CASE WHEN 2 * cumw >= totw THEN cents END) AS BIGINT)
           AS wmedian_cents
FROM c
GROUP BY brand
ORDER BY brand
"""


@q(
    "x173_weighted_median",
    "OP-G6/W4-ext",
    "Exact quantity-weighted median line price per part brand — the "
    "robust 'typical transaction price' (unit-weighted medians "
    "over-represent small orders; revenue dashboards weight by "
    "volume). Exactness trick: aggregate to the (brand, price) VALUE "
    "level first — the price domain is bounded by parts x 50 "
    "quantities, not by fact rows — then one cumulative-weight window "
    "per brand picks the smallest price whose doubled cumulative "
    "weight reaches the total (the lower weighted median, a pure "
    "integer comparison: 2*cumw >= W avoids the W/2 division "
    "entirely). Scale: the fact table sees one map-side-combinable "
    "hash-agg; the window sorts the bounded value-level table, never "
    "the facts. All BIGINT.",
    _WMED_ORACLE,
)
def x173_weighted_median(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    v = (
        li.join(p, li.l_partkey == p.p_partkey)
        .select(
            F.col("p_brand").alias("brand"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("long")
            .alias("cents"),
            F.col("l_quantity").cast("long").alias("lq"),
        )
        .groupBy("brand", "cents")
        .agg(F.sum("lq").cast("long").alias("w"))
    )
    wcum = (
        Window.partitionBy("brand")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("brand")
    c = v.select(
        "brand",
        "cents",
        F.sum("w").over(wcum).alias("cumw"),
        F.sum("w").over(wtot).alias("totw"),
    )
    return (
        c.groupBy("brand")
        .agg(
            F.max("totw").cast("long").alias("total_weight"),
            F.min(
                F.when(2 * F.col("cumw") >= F.col("totw"), F.col("cents"))
            )
            .cast("long")
            .alias("wmedian_cents"),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# x174 — U-shaped (position-based) multi-touch attribution, penny-exact
# ---------------------------------------------------------------------------

_UATTR_ORACLE = """
WITH p AS (
    SELECT user_id, event_id AS p_id, ts AS p_ts
    FROM events WHERE event_type = 'purchase'
),
cand AS (
    SELECT p.p_id, e.event_type, e.ts, e.event_id
    FROM p JOIN events e
      ON e.user_id = p.user_id
     AND e.event_type <> 'purchase'
     AND e.ts < p.p_ts
     AND date_diff('second', e.ts, p.p_ts) <= 604800
),
r AS (
    SELECT p_id, event_type,
           row_number() OVER (PARTITION BY p_id
                              ORDER BY ts, event_id) AS rn,
           count(*) OVER (PARTITION BY p_id) AS m
    FROM cand
),
credit AS (
    SELECT event_type,
           CASE WHEN m = 1 THEN 1000
                WHEN m = 2 THEN 500
                WHEN rn = 1 OR rn = m THEN 400
                ELSE 200 // (m - 2)
                     + CASE WHEN rn - 1 <= 200 % (m - 2) THEN 1 ELSE 0 END
           END AS milli
    FROM r
),
touched AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(SUM(milli) AS BIGINT) AS milli_credits
    FROM credit GROUP BY event_type
),
unattr AS (
    SELECT 'unattributed' AS event_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(1000 * count(*) AS BIGINT) AS milli_credits
    FROM p WHERE p_id NOT IN (SELECT DISTINCT p_id FROM cand)
)
SELECT * FROM touched
UNION ALL
SELECT * FROM unattr WHERE n_touches > 0
ORDER BY event_type
"""


@q(
    "x174_u_attribution",
    "OP-W1/G3-ext",
    "U-shaped (position-based) multi-touch attribution over the "
    "events stream: each purchase distributes exactly 1000 "
    "milli-credits across its prior-7-day touches — 40/20/40 shaped "
    "(first touch 400, last touch 400, middles share 200), with the "
    "middle share allocated PENNY-EXACTLY via the x141 largest-"
    "remainder idiom: floor(200/(m-2)) each plus one extra "
    "milli-credit to the earliest (200 mod (m-2)) middles, so every "
    "journey sums to exactly 1000 and the books balance to "
    "1000 * n_purchases by construction. Degenerate journeys follow "
    "industry convention (single touch 1000, two touches 500/500, "
    "no touches -> 'unattributed'). Complements x142's last-touch: "
    "same candidate join, different credit model. All divisions have "
    "nonnegative operands (engine-identical floor). Scale: one "
    "time-bounded join purchase x prior-events, two windows "
    "partitioned by purchase id (journey-bounded frames).",
    _UATTR_ORACLE,
)
def x174_u_attribution(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"),
    )
    e = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", "event_type", "ts", "event_id"
    )
    cand = p.join(e, "user_id").filter(
        (F.col("ts") < F.col("p_ts"))
        & (F.unix_timestamp("p_ts") - F.unix_timestamp("ts") <= 604800)
    )
    wP = Window.partitionBy("p_id").orderBy("ts", "event_id")
    wC = Window.partitionBy("p_id")
    r = cand.select(
        "p_id",
        "event_type",
        F.row_number().over(wP).alias("rn"),
        F.count("*").over(wC).alias("m"),
    )
    mid_base = F.expr("200 div (m - 2)")
    mid_extra = F.when(
        F.col("rn") - 1 <= F.expr("200 % (m - 2)"), 1
    ).otherwise(0)
    credit = r.select(
        "event_type",
        F.when(F.col("m") == 1, 1000)
        .when(F.col("m") == 2, 500)
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("m")), 400)
        .otherwise(mid_base + mid_extra)
        .cast("long")
        .alias("milli"),
    )
    touched = credit.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_touches"),
        F.sum("milli").cast("long").alias("milli_credits"),
    )
    unattr = (
        p.join(cand.select("p_id").distinct(), "p_id", "anti")
        .agg(
            F.count("*").cast("long").alias("n_touches"),
            (1000 * F.count("*")).cast("long").alias("milli_credits"),
        )
        .select(
            F.lit("unattributed").alias("event_type"),
            "n_touches",
            "milli_credits",
        )
        .filter(F.col("n_touches") > 0)
    )
    return touched.unionAll(unattr).orderBy("event_type")


# ---------------------------------------------------------------------------
# x175 — cluster quality audit: cohesion vs separation per label
# ---------------------------------------------------------------------------

_CQ_Q_SQL = (
    "CAST(CAST(CAST(x AS DOUBLE) + 1 AS DECIMAL(9,6)) * 1000000 AS BIGINT)"
)

_CQ_ORACLE = f"""
WITH ex AS (
    SELECT label, vec_id, generate_subscripts(embedding, 1) AS d,
           {_CQ_Q_SQL.replace("x", "unnest(embedding)")} AS q
    FROM embeddings
),
n AS (
    SELECT label, CAST(count(DISTINCT vec_id) AS BIGINT) AS n
    FROM ex GROUP BY label
),
cent AS (
    SELECT ex.label, ex.d, CAST(SUM(ex.q) AS BIGINT) // max(n.n) AS c
    FROM ex JOIN n ON ex.label = n.label
    GROUP BY ex.label, ex.d
),
intra AS (
    SELECT ex.label,
           CAST(SUM(CAST((ex.q - cent.c) * (ex.q - cent.c)
                         AS DECIMAL(38,0))) AS DOUBLE) AS intra_ss
    FROM ex JOIN cent ON ex.label = cent.label AND ex.d = cent.d
    GROUP BY ex.label
),
sep AS (
    SELECT a.label,
           CAST(min(s.ss) AS BIGINT) AS sep_ss,
           CAST(min(CASE WHEN s.ss = m.mss THEN s.label_b END) AS BIGINT)
               AS nearest_label
    FROM (SELECT DISTINCT label FROM ex) a
    JOIN (
        SELECT ca.label AS label_a, cb.label AS label_b,
               SUM((ca.c - cb.c) * (ca.c - cb.c)) AS ss
        FROM cent ca JOIN cent cb
          ON ca.d = cb.d AND ca.label <> cb.label
        GROUP BY ca.label, cb.label
    ) s ON s.label_a = a.label
    JOIN (
        SELECT ca.label AS label_a, min(ss) AS mss FROM (
            SELECT ca2.label, cb2.label AS lb,
                   SUM((ca2.c - cb2.c) * (ca2.c - cb2.c)) AS ss
            FROM cent ca2 JOIN cent cb2
              ON ca2.d = cb2.d AND ca2.label <> cb2.label
            GROUP BY ca2.label, cb2.label
        ) ca GROUP BY ca.label
    ) m ON m.label_a = a.label
    GROUP BY a.label
)
SELECT n.label, n.n, intra.intra_ss, sep.nearest_label, sep.sep_ss
FROM n JOIN intra ON n.label = intra.label
JOIN sep ON n.label = sep.label
ORDER BY n.label
"""


@q(
    "x175_cluster_quality",
    "OP-X3-ext",
    "Cluster quality audit per embedding label: intra-cluster "
    "cohesion (sum of squared fixed-point distances to the own-label "
    "centroid) vs separation (squared distance to the nearest OTHER "
    "centroid, with the nearest label named) — the Davies-Bouldin-"
    "style health check run after every clustering/labeling job "
    "(collapsed clusters show sep_ss << intra_ss/n). Exactness: "
    "embeddings are shifted +1 then quantized scale-6 (the x107 "
    "DECIMAL(9,6) convention; the shift makes every value NONNEGATIVE "
    "so the centroid floor-division S_d DIV n is engine-identical, "
    "and distances are shift-invariant); centroids are exact integer "
    "vectors, separation is exact BIGINT, and cohesion is a "
    "DECIMAL(38,0)-exact sum cast once to DOUBLE (the _dsum "
    "discipline). Scale: one posexplode pass + two keyed aggs; the "
    "centroid table is labels x dims (tiny, broadcast); nearest-"
    "centroid search is centroid x centroid (bounded by labels^2).",
    _CQ_ORACLE,
)
def x175_cluster_quality(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label",
        "vec_id",
        F.posexplode("embedding").alias("d0", "x"),
    ).select(
        "label",
        "vec_id",
        (F.col("d0") + 1).alias("d"),
        (
            (F.col("x").cast("double") + 1).cast("decimal(9,6)")
            * F.lit(1_000_000)
        )
        .cast("long")
        .alias("q"),
    )
    n = ex.groupBy("label").agg(
        F.count_distinct("vec_id").cast("long").alias("n")
    )
    cent = (
        ex.groupBy("label", "d")
        .agg(F.sum("q").cast("long").alias("s"))
        .join(n, "label")
        .select(
            "label", "d", F.expr("s div n").cast("long").alias("c")
        )
    )
    intra = (
        ex.join(F.broadcast(cent), ["label", "d"])
        .select(
            "label",
            ((F.col("q") - F.col("c")) * (F.col("q") - F.col("c")))
            .cast("decimal(38,0)")
            .alias("dd"),
        )
        .groupBy("label")
        .agg(F.sum("dd").cast("double").alias("intra_ss"))
    )
    ca = cent.select(
        F.col("label").alias("la"), "d", F.col("c").alias("cc_a")
    )
    cb = cent.select(
        F.col("label").alias("lb"), "d", F.col("c").alias("cc_b")
    )
    pair = (
        ca.join(cb, "d")
        .filter(F.col("la") != F.col("lb"))
        .groupBy("la", "lb")
        .agg(
            F.sum(
                (F.col("cc_a") - F.col("cc_b"))
                * (F.col("cc_a") - F.col("cc_b"))
            )
            .cast("long")
            .alias("ss")
        )
    )
    wmin = Window.partitionBy("la")
    sep = (
        pair.withColumn("mss", F.min("ss").over(wmin))
        .groupBy("la")
        .agg(
            F.min(F.when(F.col("ss") == F.col("mss"), F.col("lb")))
            .cast("long")
            .alias("nearest_label"),
            F.min("ss").cast("long").alias("sep_ss"),
        )
        .withColumnRenamed("la", "label")
    )
    return (
        n.join(intra, "label")
        .join(sep, "label")
        .select("label", "n", "intra_ss", "nearest_label", "sep_ss")
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# x176 — sequential brand adoption pairs (A before B) per customer
# ---------------------------------------------------------------------------

_SEQ_ORACLE = """
WITH fm AS (
    SELECT o.o_custkey AS cust, p.p_brand AS brand,
           min(CAST(date_trunc('month', o.o_orderdate) AS DATE)) AS first_mon
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY o.o_custkey, p.p_brand
),
pairs AS (
    SELECT a.brand AS brand_a, b.brand AS brand_b,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM fm a JOIN fm b
      ON a.cust = b.cust AND a.brand <> b.brand
     AND a.first_mon < b.first_mon
    GROUP BY a.brand, b.brand
)
SELECT brand_a, brand_b, n_customers
FROM pairs
ORDER BY n_customers DESC, brand_a, brand_b
LIMIT 20
"""


@q(
    "x176_seq_brand_adoption",
    "OP-G3/J2-ext",
    "Sequential adoption pairs: for each ordered brand pair (A, B), "
    "how many customers first bought brand A in a strictly earlier "
    "month than their first brand-B purchase — the temporal "
    "association signal (gateway products, upgrade paths) that "
    "same-basket lift (x113) cannot see and event-level transitions "
    "(x82) only see inside one session. Spark-first shape: the fact "
    "tables collapse FIRST to the (customer, brand, first_month) "
    "aggregate — bounded by customers x 25 brands, one map-side-"
    "combinable shuffle — and the quadratic pair join runs per "
    "customer over <= 25 rows (<= 600 pairs), never over orders. "
    "Month granularity makes 'before' deterministic and "
    "calendar-stable; ties (same first month) count for neither "
    "direction. Exact BIGINT counts; top-20 with a total tie-break "
    "compiles to TakeOrderedAndProject.",
    _SEQ_ORACLE,
)
def x176_seq_brand_adoption(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    fm = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("p_brand").alias("brand"),
            F.date_trunc("month", "o_orderdate").cast("date").alias("mon"),
        )
        .groupBy("cust", "brand")
        .agg(F.min("mon").alias("first_mon"))
    )
    # Pair generation deliberately stays a cust-keyed self-equi-join:
    # the in-row alternative (collect_list + nested transform/filter
    # HOFs exploding pairs map-side) was measured WORSE — 9.5 s vs
    # 2.7 s at 10x, 91 s vs 28 s at 100x — because nested HOF lambdas
    # run interpreted (~625 evals per customer) while the join + agg
    # stay inside whole-stage codegen and AQE coalesces the one extra
    # exchange. The fuzzy.py in-bucket-explode lesson does NOT
    # transfer when the per-key fan-out is this small.
    a = fm.select(
        "cust", F.col("brand").alias("brand_a"), F.col("first_mon").alias("ma")
    )
    b = fm.select(
        "cust", F.col("brand").alias("brand_b"), F.col("first_mon").alias("mb")
    )
    return (
        a.join(b, "cust")
        .filter(
            (F.col("brand_a") != F.col("brand_b"))
            & (F.col("ma") < F.col("mb"))
        )
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").cast("long").alias("n_customers"))
        .orderBy(F.desc("n_customers"), "brand_a", "brand_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# x177 — ANN recall@k eval: SRP multiprobe candidates vs exact top-k
# ---------------------------------------------------------------------------


def _x177_oracle() -> str:
    from ravelytics_spark.plans.round20 import (
        _SRP_PROBES_SQL,
        _SRP_Q_VALUES_SQL,
        _SRP_QNORM,
        _SRP_SIGN_SQL,
        _SRP_BITS,
    )

    return f"""
WITH ex AS (
    SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
           CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(18,12)) AS dx,
           CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(9,6)) AS fx
    FROM embeddings
    WHERE len(embedding) = (SELECT max(len(embedding)) FROM embeddings)
),
sj AS (
    SELECT ex.vec_id, j.j,
           SUM(CASE WHEN {_SRP_SIGN_SQL} = 0 THEN ex.dx
                    WHEN {_SRP_SIGN_SQL} = 1 THEN -ex.dx
                    ELSE 0 END) AS s
    FROM ex CROSS JOIN (SELECT unnest(range({_SRP_BITS})) AS j) j
    GROUP BY ex.vec_id, j.j
),
code AS (
    SELECT vec_id,
           SUM(CASE WHEN s > 0 THEN (1::BIGINT << CAST(j AS INT))
                    ELSE 0 END) AS code
    FROM sj GROUP BY vec_id
),
qv(i, q) AS (VALUES {_SRP_Q_VALUES_SQL}),
dn AS (
    SELECT ex.vec_id,
           round(CAST(SUM(ex.dx * qv.q) AS DOUBLE) / {_SRP_QNORM!r}
                 / sqrt(CAST(SUM(ex.fx * ex.fx) AS DOUBLE)), 6) AS cosine
    FROM ex JOIN qv ON qv.i = ex.i
    GROUP BY ex.vec_id
),
e10 AS (
    SELECT vec_id, row_number() OVER (ORDER BY cosine DESC, vec_id) AS rn
    FROM dn ORDER BY cosine DESC, vec_id LIMIT 10
),
c10 AS (
    SELECT dn.vec_id,
           row_number() OVER (ORDER BY dn.cosine DESC, dn.vec_id) AS rn
    FROM dn JOIN code ON code.vec_id = dn.vec_id
    WHERE code.code IN ({_SRP_PROBES_SQL})
    ORDER BY dn.cosine DESC, dn.vec_id LIMIT 10
),
ncand AS (
    SELECT CAST(count(*) AS BIGINT) AS n_candidates
    FROM code WHERE code.code IN ({_SRP_PROBES_SQL})
),
ks(k) AS (VALUES (1), (5), (10)),
hits AS (
    SELECT ks.k,
           CAST(COALESCE(SUM(CASE WHEN e10.rn <= ks.k AND c10.rn <= ks.k
                                  THEN 1 ELSE 0 END), 0) AS BIGINT) AS hits
    FROM ks LEFT JOIN e10 ON TRUE
    LEFT JOIN c10 ON c10.vec_id = e10.vec_id
    GROUP BY ks.k
)
SELECT CAST(hits.k AS BIGINT) AS k, hits.hits,
       ncand.n_candidates,
       CAST(hits.hits * 1000 // hits.k AS BIGINT) AS recall_milli
FROM hits CROSS JOIN ncand
ORDER BY k
"""


@q(
    "x177_ann_recall_eval",
    "OP-X3-ext",
    "ANN quality eval, ORACLE-CERTIFIED end to end: recall@{1,5,10} "
    "of the x102 portable SRP-LSH multiprobe candidate set against "
    "the EXACT cosine top-10 for the same literal query — the "
    "measurement loop every ANN deployment needs (an index you can't "
    "score is an index you can't tune), here with both the exact and "
    "the approximate rankings engine-portable (x102's fixed-point "
    "projections, literal query vector, literal Hamming<=2 probe "
    "set), so even the EVAL is hash-certified rather than trusted. "
    "Plan shape: one scan computes each vector's exact score and its "
    "8-bit SRP code; exact top-10 and candidate top-10 both compile "
    "to TakeOrderedAndProject (no global window); the rank-overlap "
    "join touches 10x10 rows. Emits per k: hits, candidate-set size, "
    "and recall in exact milli-units (floor division, nonnegative "
    "operands).",
    _x177_oracle(),
)
def x177_ann_recall_eval(spark, sf_dir):
    from ravelytics_spark.plans.round20 import (
        _SRP_BITS,
        _SRP_PROBES,
        _SRP_Q,
        _SRP_QNORM,
        _srp_sign,
    )

    e = load_table(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    dims = embedding_probe(spark, sf_dir)[0] or 0
    scale = 1_000_000_000_000
    norm_scale = 1_000_000
    # Unrolled fixed-point expressions are built as SQL STRINGS parsed
    # by one expr() each (r12): the per-term Column form costs one py4j
    # round-trip per operator — ~1,300 JVM calls for 64 dims x (encode
    # + dot + norm + 8 SRP planes), measured 2.7 s of driver time per
    # BUILD, re-paid on every bench rebuild. String assembly is
    # microseconds and parses to the IDENTICAL expression tree
    # (schema- and oracle-hash-verified); execution is unchanged.
    vec_sql = "CAST(embedding AS ARRAY<DOUBLE>)"
    elems = [
        f"CAST(CAST(element_at({vec_sql}, {i + 1}) AS DECIMAL(18,12))"
        f" * {scale} AS BIGINT) AS _e{i}"
        for i in range(dims)
    ]
    felems = [
        f"CAST(CAST(element_at({vec_sql}, {i + 1}) AS DECIMAL(9,6))"
        f" * {norm_scale} AS BIGINT) AS _f{i}"
        for i in range(dims)
    ]
    stage1 = e.filter(F.size("embedding") == dims).selectExpr(
        "vec_id", *elems, *felems
    )
    # exact dot with the literal query (scale-12 longs x small ints);
    # dims beyond the literal query's length contribute zero, matching
    # the oracle's qv equi-join
    dot_terms = [
        f"_e{i} * {_SRP_Q[i]}"
        for i in range(min(dims, len(_SRP_Q)))
        if _SRP_Q[i] != 0
    ]
    dot = F.expr(" + ".join(dot_terms)) if dot_terms else None
    nrm2 = (
        F.expr(" + ".join(f"_f{i} * _f{i}" for i in range(dims)))
        if dims
        else None
    )
    # SRP projection sums: sign-weighted scale-12 longs (x102 idiom)
    planes = []
    for j in range(_SRP_BITS):
        terms = [
            f"-_e{i}" if _srp_sign(i, j) == -1 else f"_e{i}"
            for i in range(dims)
            if _srp_sign(i, j) != 0
        ]
        # plane with no support (dims == 0 on an empty table): bit 0,
        # the x102 no-support-plane convention
        planes.append(
            f"(CASE WHEN ({' + '.join(terms)}) > 0"
            f" THEN {1 << j} ELSE 0 END)"
            if terms
            else "0"
        )
    code = F.expr(" + ".join(planes))
    # division ORDER mirrors the oracle exactly: (dot/1e12) is the
    # correctly-rounded double of the exact rational (dot_long < 2^53),
    # then / QNORM, then / sqrt(nrm2/1e12) — IEEE divides in the same
    # sequence on the same doubles are bit-identical across engines
    if dims == 0:
        # degenerate empty table: no projection expressions exist; an
        # empty score table flows through the eval and reproduces the
        # oracle's zero-recall k-frame (round-10 empty-input sweep)
        scored = e.select(
            "vec_id",
            F.lit(0.0).alias("cosine"),
            F.lit(0).cast("long").alias("code"),
        ).filter(F.lit(False))
    else:
        scored = stage1.select(
            "vec_id",
            F.round(
                (dot.cast("double") / F.lit(float(scale)))
                / F.lit(_SRP_QNORM)
                / F.sqrt(nrm2.cast("double") / F.lit(float(norm_scale**2))),
                6,
            ).alias("cosine"),
            code.cast("long").alias("code"),
        )
    # Lineage barrier (lazy — no action here): the eval has FOUR
    # consumers of the score table (exact top-k, candidate top-k,
    # candidate count, overlap join); without the barrier Catalyst
    # re-inlines the 64-dim unrolled fixed-point projection into every
    # branch and the optimizer tree blows the driver heap. The
    # materialized form is ~24 bytes/row (id, cosine, code) — the
    # x48-style build/serve split, here as score-once/eval-many.
    scored = scored.localCheckpoint(eager=False)
    probes = [int(c) for c in _SRP_PROBES]
    cand = scored.filter(F.col("code").isin(probes))
    w10 = Window.orderBy(F.desc("cosine"), "vec_id")
    e10 = (
        scored.orderBy(F.desc("cosine"), "vec_id")
        .limit(10)
        .withColumn("rn", F.row_number().over(w10))
        .select("vec_id", "rn")
    )
    c10 = (
        cand.orderBy(F.desc("cosine"), "vec_id")
        .limit(10)
        .withColumn("rn", F.row_number().over(w10))
        .select(F.col("vec_id").alias("cid"), F.col("rn").alias("crn"))
    )
    ncand = cand.agg(F.count("*").cast("long").alias("n_candidates"))
    ks = spark.range(1, 11).filter(F.col("id").isin([1, 5, 10])).select(
        F.col("id").cast("long").alias("k")
    )
    overlap = e10.join(c10, e10.vec_id == F.col("cid"), "left")
    # LEFT join on TRUE (not crossJoin): every k row must survive an
    # EMPTY overlap so the zero-recall frame still has its 3 rows
    hits = (
        ks.join(F.broadcast(overlap), F.lit(True), "left")
        .groupBy("k")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("rn") <= F.col("k"))
                        & (F.col("crn") <= F.col("k")),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("hits")
        )
    )
    return (
        hits.crossJoin(F.broadcast(ncand))
        .select(
            "k",
            "hits",
            "n_candidates",
            F.expr("CAST(hits * 1000 div k AS BIGINT)").alias(
                "recall_milli"
            ),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# x178 — exact decision stump: best quantity split for return prediction
# ---------------------------------------------------------------------------

_STUMP_ORACLE = """
WITH v AS (
    SELECT CAST(l_quantity AS BIGINT) AS q,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                AS BIGINT) AS pos
    FROM lineitem
    GROUP BY CAST(l_quantity AS BIGINT)
),
tot AS (
    SELECT SUM(n) AS nn, SUM(pos) AS np FROM v
),
c AS (
    SELECT q AS threshold,
           SUM(n) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS n_l,
           SUM(pos) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS pos_l
    FROM v
),
s AS (
    SELECT c.threshold,
           CAST(c.n_l AS BIGINT) AS n_l,
           CAST(c.pos_l AS BIGINT) AS pos_l,
           CAST(tot.nn - c.n_l AS BIGINT) AS n_r,
           CAST(tot.np - c.pos_l AS BIGINT) AS pos_r,
           CAST(least(c.pos_l, c.n_l - c.pos_l)
                + least(tot.np - c.pos_l,
                        (tot.nn - c.n_l) - (tot.np - c.pos_l))
                AS BIGINT) AS errors
    FROM c CROSS JOIN tot
    WHERE c.n_l < tot.nn
),
best AS (
    SELECT min(errors) AS me FROM s
),
best2 AS (
    SELECT min(s.threshold) AS mt FROM s, best WHERE s.errors = best.me
)
SELECT s.threshold, s.n_l, s.pos_l, s.n_r, s.pos_r, s.errors,
       CAST(CASE WHEN s.errors = best.me AND s.threshold = best2.mt
            THEN 1 ELSE 0 END AS BIGINT) AS is_best
FROM s CROSS JOIN best CROSS JOIN best2
ORDER BY s.threshold
"""


@q(
    "x178_stump_split",
    "OP-G5/W4-ext",
    "Exact decision stump over quantity predicting returns: for every "
    "split threshold t, classify lines by q <= t vs q > t, predict "
    "the majority class on each side, and count misclassifications — "
    "the best split (min errors, lowest threshold on ties) is the "
    "1-rule baseline every feature-screening pass starts from. "
    "Misclassification count (min(pos, neg) per side) keeps the "
    "whole computation in pure BIGINT addition — no squared-count "
    "products, so unlike Gini there is NO overflow cliff at any "
    "scale. The 50-value quantity domain collapses the scan to one "
    "value-level hash-agg + a 50-row cumulative window; thresholds "
    "with an empty right side are excluded identically in both "
    "engines. Emits the full split table with the winner flagged.",
    _STUMP_ORACLE,
)
def x178_stump_split(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    v = (
        li.select(
            F.col("l_quantity").cast("long").alias("q"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("p"),
        )
        .groupBy("q")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("p").cast("long").alias("pos"),
        )
    )
    wc = Window.orderBy("q").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = v.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("pos").cast("long").alias("np"),
    )
    c = v.select(
        F.col("q").alias("threshold"),
        F.sum("n").over(wc).cast("long").alias("n_l"),
        F.sum("pos").over(wc).cast("long").alias("pos_l"),
    )
    s = (
        c.crossJoin(F.broadcast(tot))
        .filter(F.col("n_l") < F.col("nn"))
        .select(
            "threshold",
            "n_l",
            "pos_l",
            (F.col("nn") - F.col("n_l")).cast("long").alias("n_r"),
            (F.col("np") - F.col("pos_l")).cast("long").alias("pos_r"),
            (
                F.least(F.col("pos_l"), F.col("n_l") - F.col("pos_l"))
                + F.least(
                    F.col("np") - F.col("pos_l"),
                    (F.col("nn") - F.col("n_l"))
                    - (F.col("np") - F.col("pos_l")),
                )
            )
            .cast("long")
            .alias("errors"),
        )
    )
    wbest = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    s2 = s.withColumn("min_err", F.min("errors").over(wbest)).withColumn(
        "best_thr",
        F.min(
            F.when(F.col("errors") == F.col("min_err"), F.col("threshold"))
        ).over(wbest),
    )
    return (
        s2.select(
            "threshold",
            "n_l",
            "pos_l",
            "n_r",
            "pos_r",
            "errors",
            F.when(
                (F.col("errors") == F.col("min_err"))
                & (F.col("threshold") == F.col("best_thr")),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("is_best"),
        )
        .orderBy("threshold")
    )


# ---------------------------------------------------------------------------
# x179 — near-dup threshold calibration curve over certified SRP pairs
# ---------------------------------------------------------------------------

_TC_TAUS = [400, 500, 600, 700, 800, 900]  # milli-cosine thresholds


def _x179_oracle() -> str:
    from ravelytics_spark.plans.round20 import _ND_ORACLE

    taus = ", ".join(f"({t})" for t in _TC_TAUS)
    return f"""
WITH nd_pairs AS ({_ND_ORACLE}),
taus(tau_milli) AS (VALUES {taus}),
j AS (
    SELECT t.tau_milli, p.id_a, p.id_b
    FROM taus t JOIN nd_pairs p
      ON p.cosine >= CAST(t.tau_milli AS DOUBLE) / 1000.0
),
docs AS (
    SELECT tau_milli, unnest([id_a, id_b]) AS id FROM j
),
agg AS (
    SELECT j.tau_milli,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM j GROUP BY j.tau_milli
),
dagg AS (
    SELECT tau_milli, CAST(count(DISTINCT id) AS BIGINT) AS n_docs
    FROM docs GROUP BY tau_milli
)
SELECT CAST(t.tau_milli AS BIGINT) AS tau_milli,
       COALESCE(agg.n_pairs, 0) AS n_pairs,
       COALESCE(dagg.n_docs, 0) AS n_docs
FROM taus t
LEFT JOIN agg ON agg.tau_milli = t.tau_milli
LEFT JOIN dagg ON dagg.tau_milli = t.tau_milli
ORDER BY tau_milli
"""


@q(
    "x179_neardup_threshold_curve",
    "OP-X2/X3-ext",
    "Near-dup threshold calibration curve: pair count and distinct "
    "documents involved at each candidate cosine cut (0.4 .. 0.9) "
    "over the x107 certified banded-SRP candidate pairs — the tuning "
    "artifact every dedup deployment needs before committing a tau "
    "(too low merges topical neighbors, too high leaves templated "
    "spam; the curve's knee is the decision input, cf. x156). "
    "Composes the already-certified x107 machinery unchanged: its "
    "rounded-6 cosines are engine-identical doubles, so the literal "
    "milli-threshold comparisons are deterministic in both engines; "
    "zero-pair thresholds still emit (LEFT JOIN + coalesce). Scale: "
    "the expensive part IS x107 (bucketed, never all-pairs); the "
    "curve adds one broadcast non-equi join of 6 literal thresholds "
    "against the (small) surviving pair set.",
    _x179_oracle(),
)
def x179_neardup_threshold_curve(spark, sf_dir):
    from ravelytics_spark.plans.registry import REGISTRY

    pairs = REGISTRY["x107_embed_neardup_portable"].spark(spark, sf_dir)
    taus = spark.createDataFrame(
        [(t,) for t in _TC_TAUS], "tau_milli long"
    )
    j = taus.join(
        F.broadcast(pairs),
        F.col("cosine") >= F.col("tau_milli").cast("double") / 1000.0,
        "left",
    )
    agg = j.groupBy("tau_milli").agg(
        F.sum(F.when(F.col("id_a").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_pairs")
    )
    docs = (
        j.filter(F.col("id_a").isNotNull())
        .select(
            "tau_milli",
            F.explode(F.array("id_a", "id_b")).alias("id"),
        )
        .groupBy("tau_milli")
        .agg(F.count_distinct("id").cast("long").alias("n_docs"))
    )
    return (
        agg.join(docs, "tau_milli", "left")
        .select(
            "tau_milli",
            "n_pairs",
            F.coalesce(F.col("n_docs"), F.lit(0)).cast("long").alias(
                "n_docs"
            ),
        )
        .orderBy("tau_milli")
    )


# ---------------------------------------------------------------------------
# x180 — event burstiness (Fano factor of daily counts per type)
# ---------------------------------------------------------------------------

_BURST_ORACLE = """
WITH d AS (
    SELECT event_type,
           CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day_id,
           CAST(count(*) AS BIGINT) AS x
    FROM events
    GROUP BY event_type, CAST(floor(epoch(ts)) AS BIGINT) // 86400
),
s AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(SUM(x) AS BIGINT) AS tot,
           CAST(SUM(x * x) AS BIGINT) AS sq
    FROM d GROUP BY event_type
)
SELECT event_type, n_days, tot,
       CAST(n_days * sq - tot * tot AS BIGINT) AS num,
       CAST(n_days * tot AS BIGINT) AS den,
       CASE WHEN n_days * tot = 0 THEN CAST(0 AS DOUBLE)
            ELSE CAST(n_days * sq - tot * tot AS DOUBLE)
                 / CAST(n_days * tot AS DOUBLE) END AS fano
FROM s
ORDER BY event_type
"""


@q(
    "x180_event_burstiness",
    "OP-G6/D1-ext",
    "Burstiness (Fano factor: variance-to-mean ratio of daily counts) "
    "per event type — the ingest-health fingerprint that separates "
    "steady telemetry (Fano ~ 1, Poisson) from bursty/campaign "
    "traffic and from upstream batching artifacts, the first thing "
    "to check before alerting on volume anomalies. Portability: days "
    "are epoch-second floor-divisions (nonnegative), NOT calendar "
    "to_date() — engine date casts disagree under non-UTC session "
    "timezones, epoch arithmetic cannot. Variance is cleared by N "
    "(num = N*sum(x^2) - S^2, exact BIGINT at any scale since daily "
    "counts are corpus/days sized), Fano is the one-IEEE-divide "
    "convention with exact num/den riding along. Scale: one "
    "map-side-combinable hash-agg to (type, day), one to type.",
    _BURST_ORACLE,
)
def x180_event_burstiness(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.select(
            "event_type",
            F.expr("unix_timestamp(ts) div 86400").alias("day_id"),
        )
        .groupBy("event_type", "day_id")
        .agg(F.count("*").cast("long").alias("x"))
    )
    s = d.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("tot"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sq"),
    )
    num = (F.col("n_days") * F.col("sq") - F.col("tot") * F.col("tot")).cast(
        "long"
    )
    den = (F.col("n_days") * F.col("tot")).cast("long")
    return (
        s.select(
            "event_type",
            "n_days",
            "tot",
            num.alias("num"),
            den.alias("den"),
            F.when(den == 0, F.lit(0.0))
            .otherwise(num.cast("double") / den.cast("double"))
            .alias("fano"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# x181 — referential-integrity audit across every FK edge
# ---------------------------------------------------------------------------

_FK_ORACLE = """
WITH edges AS (
    SELECT 'orders.o_custkey->customer' AS fk_edge,
           (SELECT count(*) FROM orders) AS n_rows,
           (SELECT count(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey)) AS n_orphans
    UNION ALL
    SELECT 'lineitem.l_orderkey->orders',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM part p
                               WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           (SELECT count(*) FROM customer),
           (SELECT count(*) FROM customer c
             WHERE NOT EXISTS (SELECT 1 FROM nation n
                               WHERE n.n_nationkey = c.c_nationkey))
    UNION ALL
    SELECT 'supplier.s_nationkey->nation',
           (SELECT count(*) FROM supplier),
           (SELECT count(*) FROM supplier s
             WHERE NOT EXISTS (SELECT 1 FROM nation n
                               WHERE n.n_nationkey = s.s_nationkey))
    UNION ALL
    SELECT 'nation.n_regionkey->region',
           (SELECT count(*) FROM nation),
           (SELECT count(*) FROM nation n
             WHERE NOT EXISTS (SELECT 1 FROM region r
                               WHERE r.r_regionkey = n.n_regionkey))
)
SELECT fk_edge,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_orphans AS BIGINT) AS n_orphans,
       CAST(CASE WHEN n_rows = 0 THEN 0
                 ELSE n_orphans * 1000000 // n_rows END AS BIGINT)
           AS orphan_ppm
FROM edges
ORDER BY fk_edge
"""


@q(
    "x181_fk_integrity",
    "OP-J4/G5-ext",
    "Referential-integrity audit across every declared FK edge of the "
    "warehouse (orders->customer, lineitem->orders, lineitem->part, "
    "customer->nation, supplier->nation, nation->region): row count, "
    "orphan count (child rows whose key has no parent), and orphan "
    "rate in exact parts-per-million (floor division, nonnegative "
    "operands) — the data-quality gate every ingest pipeline runs "
    "before publishing a snapshot, and the first diagnostic when a "
    "join 'loses' rows. Spark-first shape: each edge is ONE left-anti "
    "join counted (broadcast for the dim-sized parents, shuffle-hash "
    "for fact->fact), unioned into a six-row report; every global agg "
    "combines one partial row per partition. Complements xq's "
    "column-rule validation report with CROSS-TABLE rules.",
    _FK_ORACLE,
)
def x181_fk_integrity(spark, sf_dir):
    def edge(name, child, ckey, parent, pkey):
        c = load_table(spark, sf_dir, child)
        p = load_table(spark, sf_dir, parent).select(pkey)
        orphans = c.join(
            p, c[ckey] == p[pkey], "anti"
        ).agg(F.count("*").cast("long").alias("n_orphans"))
        total = c.agg(F.count("*").cast("long").alias("n_rows"))
        return (
            total.crossJoin(orphans)
            .select(
                F.lit(name).alias("fk_edge"),
                "n_rows",
                "n_orphans",
                F.expr(
                    "CAST(CASE WHEN n_rows = 0 THEN 0 "
                    "ELSE n_orphans * 1000000 div n_rows END AS BIGINT)"
                ).alias("orphan_ppm"),
            )
        )

    edges = [
        edge(
            "orders.o_custkey->customer",
            "orders",
            "o_custkey",
            "customer",
            "c_custkey",
        ),
        edge(
            "lineitem.l_orderkey->orders",
            "lineitem",
            "l_orderkey",
            "orders",
            "o_orderkey",
        ),
        edge(
            "lineitem.l_partkey->part",
            "lineitem",
            "l_partkey",
            "part",
            "p_partkey",
        ),
        edge(
            "customer.c_nationkey->nation",
            "customer",
            "c_nationkey",
            "nation",
            "n_nationkey",
        ),
        edge(
            "supplier.s_nationkey->nation",
            "supplier",
            "s_nationkey",
            "nation",
            "n_nationkey",
        ),
        edge(
            "nation.n_regionkey->region",
            "nation",
            "n_regionkey",
            "region",
            "r_regionkey",
        ),
    ]
    out = edges[0]
    for e in edges[1:]:
        out = out.unionAll(e)
    return out.orderBy("fk_edge")


# ---------------------------------------------------------------------------
# x182 — exact sample-size planning for the x160 two-proportion test
# ---------------------------------------------------------------------------

# (z_{alpha/2} + z_beta)^2 for alpha=0.05, power 80%:
# (1.95996 + 0.84162)^2 = 7.84886... carried as the literal rational
# 78489/10000 (floor at 1e-4 — a PLANNING constant, both engines use
# the identical literal so the output is engine-exact by construction).
_POW_Z2_NUM = 78489
_POW_Z2_DEN = 10000

_POW_ORACLE = f"""
WITH g AS (
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                AS BIGINT) AS x
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
),
ok AS (
    SELECT * FROM g WHERE x > 0 AND 11 * x < 10 * n
)
SELECT p_brand, n, x,
       CAST((
            {_POW_Z2_NUM} * (210 * n - 221 * x)
            + {_POW_Z2_DEN} * x - 1
           ) // ({_POW_Z2_DEN} * x) AS BIGINT) AS required_n_per_arm
FROM ok
ORDER BY p_brand
"""


@q(
    "x182_power_sample_size",
    "OP-G5/G6-ext",
    "Experiment planning, engine-exact: per brand, the sample size "
    "per arm required to detect a 10% relative lift in return rate "
    "at alpha=0.05 with 80% power — the companion every x160-style "
    "significance test needs BEFORE launch (underpowered tests "
    "produce exactly the flip-flopping dashboards they were meant to "
    "prevent). The classical n = z2*(p1*q1 + p2*q2)/(p1-p2)^2 is all "
    "rationals over the observed counts (p1 = x/n, p2 = 1.1*p1): "
    "clearing denominators AND cancelling the shared factor x gives "
    "required_n = ceil(z2_num * (210*n - 221*x) / (z2_den * x)) — "
    "the uncancelled x^2 form would overflow BIGINT at the 100x "
    "sweep (~1.7e19); after cancellation the product peaks ~4e13. "
    "Exact BIGINT ceil-division with nonnegative operands (the "
    "a+b-1 // b form; 221x < 210n follows from the 11x < 10n "
    "filter), z2 carried as the literal rational 78489/10000. Brands "
    "where the lifted rate would exceed 1 (11x >= 10n) or with zero "
    "events are excluded identically. One fact-join hash-agg; the "
    "planning layer is free once the counts exist.",
    _POW_ORACLE,
)
def x182_power_sample_size(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    g = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("long")
            .alias("x"),
        )
    )
    ok = g.filter((F.col("x") > 0) & (11 * F.col("x") < 10 * F.col("n")))
    return ok.select(
        "p_brand",
        "n",
        "x",
        F.expr(
            f"CAST(({_POW_Z2_NUM} * (210 * n - 221 * x) "
            f"+ {_POW_Z2_DEN} * x - 1) "
            f"div ({_POW_Z2_DEN} * x) AS BIGINT)"
        ).alias("required_n_per_arm"),
    ).orderBy("p_brand")


# ---------------------------------------------------------------------------
# x183 — join-key skew report over the fact table's three join keys
# ---------------------------------------------------------------------------


def _skew_sql_one(col: str) -> str:
    return f"""
    SELECT '{col}' AS key_col,
           CAST(SUM(f * nk) AS BIGINT) AS n_rows,
           CAST(SUM(nk) AS BIGINT) AS n_distinct,
           CAST(max(f) AS BIGINT) AS max_freq,
           CAST(min(CASE WHEN 100 * cum_nk >= 99 * tot_nk THEN f END)
                AS BIGINT) AS p99_freq,
           CAST(max(f) * SUM(nk) * 1000 // SUM(f * nk) AS BIGINT)
               AS skew_milli
    FROM (
        SELECT f, nk,
               SUM(nk) OVER (ORDER BY f
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum_nk,
               SUM(nk) OVER () AS tot_nk
        FROM (
            SELECT f, CAST(count(*) AS BIGINT) AS nk
            FROM (
                SELECT {col}, CAST(count(*) AS BIGINT) AS f
                FROM lineitem GROUP BY {col}
            ) GROUP BY f
        )
    )
    """


_SKEW_ORACLE = (
    _skew_sql_one("l_orderkey")
    + " UNION ALL "
    + _skew_sql_one("l_partkey")
    + " UNION ALL "
    + _skew_sql_one("l_suppkey")
    + " ORDER BY key_col"
)


@q(
    "x183_join_key_skew",
    "OP-G5/W4-ext",
    "Join-key skew report for the fact table's three join keys "
    "(orderkey / partkey / suppkey): distinct-key count, max and p99 "
    "per-key frequency, and the max-to-average ratio in exact milli "
    "units — the diagnostic a Spark operator reads BEFORE choosing "
    "salting (x32/x33), AQE skew-join thresholds, or broadcast "
    "strategy; a skew_milli of 1000 means perfectly uniform, and the "
    "p99/max gap separates one hot key from broad skew. Scale shape: "
    "the only fact-table pass is the per-key count (map-side "
    "combinable); p99 is a rank-pick over the FREQUENCY-OF-FREQUENCY "
    "table (a few hundred rows regardless of corpus size — the "
    "x74/x77 aggregate-first idiom taken one level further), so no "
    "global sort ever sees keys, let alone rows. All exact BIGINTs; "
    "the ratio is a nonnegative floor division.",
    _SKEW_ORACLE,
)
def x183_join_key_skew(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")

    def one(col):
        perkey = li.groupBy(col).agg(F.count("*").cast("long").alias("f"))
        fof = perkey.groupBy("f").agg(
            F.count("*").cast("long").alias("nk")
        )
        wc = Window.orderBy("f").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        wt = Window.orderBy(F.lit(1)).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        c = fof.select(
            "f",
            "nk",
            F.sum("nk").over(wc).alias("cum_nk"),
            F.sum("nk").over(wt).alias("tot_nk"),
        )
        return c.agg(
            F.lit(col).alias("key_col"),
            F.sum(F.col("f") * F.col("nk")).cast("long").alias("n_rows"),
            F.sum("nk").cast("long").alias("n_distinct"),
            F.max("f").cast("long").alias("max_freq"),
            F.min(
                F.when(
                    100 * F.col("cum_nk") >= 99 * F.col("tot_nk"),
                    F.col("f"),
                )
            )
            .cast("long")
            .alias("p99_freq"),
            F.expr(
                "CAST(max(f) * sum(nk) * 1000 div sum(f * nk) AS BIGINT)"
            ).alias("skew_milli"),
        )

    return (
        one("l_orderkey")
        .unionAll(one("l_partkey"))
        .unionAll(one("l_suppkey"))
        .orderBy("key_col")
    )


# ---------------------------------------------------------------------------
# x184 — exact-dup cluster size distribution (corpus duplication health)
# ---------------------------------------------------------------------------

_DUPDIST_ORACLE = """
WITH cl AS (
    SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS sz
    FROM documents GROUP BY md5(text)
),
dist AS (
    SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters
    FROM cl GROUP BY sz
),
tot AS (
    SELECT SUM(sz * n_clusters) AS n_docs_total FROM dist
)
SELECT dist.sz AS cluster_size,
       dist.n_clusters,
       CAST(dist.sz * dist.n_clusters AS BIGINT) AS n_docs,
       CAST(dist.sz * dist.n_clusters * 1000000 // tot.n_docs_total
            AS BIGINT) AS corpus_ppm,
       CAST(CASE WHEN dist.sz > 1
                 THEN (dist.sz - 1) * dist.n_clusters ELSE 0 END
            AS BIGINT) AS removable_docs
FROM dist CROSS JOIN tot
ORDER BY cluster_size
"""


@q(
    "x184_dup_cluster_sizes",
    "OP-X1/G5-ext",
    "Exact-duplicate cluster size distribution over document text: "
    "for each cluster size, how many clusters, how many documents "
    "they hold (exact ppm of the corpus), and how many a keep-one "
    "dedup would remove — the corpus-duplication health panel that "
    "decides whether dedup is worth a pipeline stage at all, and the "
    "denominator behind every 'dedup saved N%' claim (sum of "
    "removable_docs / corpus). Distinct from x1 (which PERFORMS the "
    "dedup) and x2 (near-dup): this is the before-action audit. "
    "Shape: one md5-groupBy of the corpus (the 16-byte hash crosses "
    "the shuffle, not documents), then frequency-of-frequency onto a "
    "handful of rows; the total is a scalar broadcast. All exact "
    "BIGINTs; ppm is a nonnegative floor division.",
    _DUPDIST_ORACLE,
)
def x184_dup_cluster_sizes(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    cl = docs.groupBy(F.md5("text").alias("h")).agg(
        F.count("*").cast("long").alias("sz")
    )
    dist = cl.groupBy("sz").agg(
        F.count("*").cast("long").alias("n_clusters")
    )
    tot = dist.agg(
        F.sum(F.col("sz") * F.col("n_clusters")).alias("n_docs_total")
    )
    return (
        dist.crossJoin(F.broadcast(tot))
        .select(
            F.col("sz").alias("cluster_size"),
            "n_clusters",
            (F.col("sz") * F.col("n_clusters")).cast("long").alias("n_docs"),
            F.expr(
                "CAST(sz * n_clusters * 1000000 div n_docs_total AS BIGINT)"
            ).alias("corpus_ppm"),
            F.when(
                F.col("sz") > 1,
                (F.col("sz") - 1) * F.col("n_clusters"),
            )
            .otherwise(0)
            .cast("long")
            .alias("removable_docs"),
        )
        .orderBy("cluster_size")
    )


# ---------------------------------------------------------------------------
# x185 — XYZ demand-variability classes (exact cv^2 threshold compares)
# ---------------------------------------------------------------------------

_XYZ_ORACLE = """
WITH m AS (
    SELECT l.l_partkey AS pk,
           CAST(date_trunc('month', l.l_shipdate) AS DATE) AS mon,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
    FROM lineitem l
    GROUP BY l.l_partkey, CAST(date_trunc('month', l.l_shipdate) AS DATE)
),
s AS (
    SELECT pk,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(q) AS BIGINT) AS tot,
           CAST(SUM(q * q) AS BIGINT) AS sq
    FROM m GROUP BY pk
),
cls AS (
    SELECT s.pk, p.p_brand AS brand,
           CASE WHEN 4 * (s.n * s.sq - s.tot * s.tot) < s.tot * s.tot
                THEN 'X'
                WHEN s.n * s.sq - s.tot * s.tot < s.tot * s.tot
                THEN 'Y'
                ELSE 'Z' END AS xyz
    FROM s JOIN part p ON p.p_partkey = s.pk
)
SELECT brand,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(SUM(CASE WHEN xyz = 'X' THEN 1 ELSE 0 END) AS BIGINT) AS x_cnt,
       CAST(SUM(CASE WHEN xyz = 'Y' THEN 1 ELSE 0 END) AS BIGINT) AS y_cnt,
       CAST(SUM(CASE WHEN xyz = 'Z' THEN 1 ELSE 0 END) AS BIGINT) AS z_cnt
FROM cls
GROUP BY brand
ORDER BY brand
"""


@q(
    "x185_xyz_classes",
    "OP-G6/C3-ext",
    "XYZ demand-variability classification per part, rolled up per "
    "brand — the inventory-planning companion to x112's ABC revenue "
    "classes (X = steady demand, forecastable; Z = erratic, safety-"
    "stock territory). The class boundary is the coefficient of "
    "variation (cv < 0.5 -> X, < 1.0 -> Y), which normally means a "
    "sqrt; squaring the thresholds instead gives pure integer "
    "comparisons on the N-cleared moments: cv^2 = (N*sum(q^2) - "
    "S^2)/S^2, so X is 4*(N*sq - S^2) < S^2 and Y is (N*sq - S^2) < "
    "S^2 — exact BIGINT at any scale (monthly per-part quantities "
    "are calendar-bounded sums). Shape: one fact hash-agg to part x "
    "month, one to part, one dim join, one brand rollup — all "
    "map-side combinable.",
    _XYZ_ORACLE,
)
def x185_xyz_classes(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    m = (
        li.select(
            F.col("l_partkey").alias("pk"),
            F.date_trunc("month", "l_shipdate").cast("date").alias("mon"),
            F.col("l_quantity").cast("long").alias("lq"),
        )
        .groupBy("pk", "mon")
        .agg(F.sum("lq").cast("long").alias("q"))
    )
    s = m.groupBy("pk").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("q").cast("long").alias("tot"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("sq"),
    )
    varnum = F.col("n") * F.col("sq") - F.col("tot") * F.col("tot")
    s2 = F.col("tot") * F.col("tot")
    cls = (
        s.join(p, s.pk == p.p_partkey)
        .select(
            F.col("p_brand").alias("brand"),
            F.when(4 * varnum < s2, "X")
            .when(varnum < s2, "Y")
            .otherwise("Z")
            .alias("xyz"),
        )
    )
    return (
        cls.groupBy("brand")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum(F.when(F.col("xyz") == "X", 1).otherwise(0))
            .cast("long")
            .alias("x_cnt"),
            F.sum(F.when(F.col("xyz") == "Y", 1).otherwise(0))
            .cast("long")
            .alias("y_cnt"),
            F.sum(F.when(F.col("xyz") == "Z", 1).otherwise(0))
            .cast("long")
            .alias("z_cnt"),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# x186 — user growth accounting (new / retained / resurrected / churned)
# ---------------------------------------------------------------------------

_GROWTH_ORACLE = """
WITH up AS (
    SELECT DISTINCT user_id,
           CAST(floor(epoch(ts)) AS BIGINT) // 86400 // 30 AS p
    FROM events
),
lagd AS (
    SELECT user_id, p,
           lag(p) OVER (PARTITION BY user_id ORDER BY p) AS prev_p,
           min(p) OVER (PARTITION BY user_id) AS first_p
    FROM up
),
flags AS (
    SELECT p,
           CASE WHEN p = first_p THEN 1 ELSE 0 END AS is_new,
           CASE WHEN prev_p = p - 1 THEN 1 ELSE 0 END AS is_retained,
           CASE WHEN p > first_p AND (prev_p IS NULL OR prev_p < p - 1)
                THEN 1 ELSE 0 END AS is_resurrected
    FROM lagd
),
per AS (
    SELECT p,
           CAST(count(*) AS BIGINT) AS n_active,
           CAST(SUM(is_new) AS BIGINT) AS n_new,
           CAST(SUM(is_retained) AS BIGINT) AS n_retained,
           CAST(SUM(is_resurrected) AS BIGINT) AS n_resurrected
    FROM flags GROUP BY p
)
SELECT a.p AS period,
       a.n_active, a.n_new, a.n_retained, a.n_resurrected,
       CAST(a.n_active - COALESCE(b.n_retained, 0) AS BIGINT)
           AS n_churned_next
FROM per a LEFT JOIN per b ON b.p = a.p + 1
ORDER BY period
"""


@q(
    "x186_growth_accounting",
    "OP-W3/G3-ext",
    "User growth accounting over the events stream: per 30-day epoch "
    "period, active users split into new (first-ever period), "
    "retained (also active the previous period), resurrected (active "
    "before, but not the previous period), plus churned-next (active "
    "now, not retained into the next period) — the DAU/MAU growth "
    "decomposition (Reforge-style) that explains WHERE growth comes "
    "from, which a plain active-user count cannot. Identity "
    "active = new + retained + resurrected holds per period by "
    "construction (tested). Periods are epoch-day floor-divisions "
    "(calendar-free, timezone-proof — the x180 discipline); the only "
    "corpus-sized steps are one DISTINCT (user, period) agg and "
    "per-user lag windows over <= periods rows each. All exact "
    "BIGINTs.",
    _GROWTH_ORACLE,
)
def x186_growth_accounting(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    up = (
        ev.select(
            "user_id",
            F.expr("unix_timestamp(ts) div 86400 div 30").alias("p"),
        )
        .distinct()
    )
    wU = Window.partitionBy("user_id").orderBy("p")
    wAll = Window.partitionBy("user_id")
    lagd = up.select(
        "user_id",
        "p",
        F.lag("p").over(wU).alias("prev_p"),
        F.min("p").over(wAll).alias("first_p"),
    )
    flags = lagd.select(
        "p",
        F.when(F.col("p") == F.col("first_p"), 1).otherwise(0).alias(
            "is_new"
        ),
        F.when(F.col("prev_p") == F.col("p") - 1, 1)
        .otherwise(0)
        .alias("is_retained"),
        F.when(
            (F.col("p") > F.col("first_p"))
            & (
                F.col("prev_p").isNull()
                | (F.col("prev_p") < F.col("p") - 1)
            ),
            1,
        )
        .otherwise(0)
        .alias("is_resurrected"),
    )
    per = flags.groupBy("p").agg(
        F.count("*").cast("long").alias("n_active"),
        F.sum("is_new").cast("long").alias("n_new"),
        F.sum("is_retained").cast("long").alias("n_retained"),
        F.sum("is_resurrected").cast("long").alias("n_resurrected"),
    )
    nxt = per.select(
        (F.col("p") - 1).alias("p"),
        F.col("n_retained").alias("next_retained"),
    )
    return (
        per.join(nxt, "p", "left")
        .select(
            F.col("p").alias("period"),
            "n_active",
            "n_new",
            "n_retained",
            "n_resurrected",
            (
                F.col("n_active") - F.coalesce(F.col("next_retained"), F.lit(0))
            )
            .cast("long")
            .alias("n_churned_next"),
        )
        .orderBy("period")
    )


# ---------------------------------------------------------------------------
# x187 — top session journey paths (first 4 steps per gap session)
# ---------------------------------------------------------------------------

_PATHS_ORACLE = """
WITH s AS (
    SELECT user_id, event_id, ts, event_type,
           CAST(sum(CASE WHEN gap_s IS NULL OR gap_s > 1800
                         THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
    FROM (
        SELECT user_id, event_id, ts, event_type,
               date_diff('second',
                         lag(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id),
                         ts) AS gap_s
        FROM events
    )
),
paths AS (
    SELECT user_id, session_id,
           array_to_string(
               (list(event_type ORDER BY ts, event_id))[1:4], '>'
           ) AS path
    FROM s
    GROUP BY user_id, session_id
)
SELECT path,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN path LIKE '%purchase%' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_with_purchase
FROM paths
GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 20
"""


@q(
    "x187_session_paths",
    "OP-W3/G2-ext",
    "Top user journey paths: each 30-minute-gap session (the x6 "
    "sessionize idiom) reduced to its first four event types joined "
    "'a>b>c>d', counted across the corpus with a purchase-containing "
    "flag — the path-mining staple behind 'what do users actually do "
    "first' questions that pairwise transitions (x82) and fixed "
    "funnels (x36) both miss, truncated at 4 steps so the path "
    "alphabet stays bounded (<= |types|^4 distinct paths regardless "
    "of corpus size). Determinism: the per-session event order is "
    "total ((ts, event_id) inside an array_sort'ed struct on the "
    "Spark side, ordered list() aggregation in DuckDB), so the path "
    "STRINGS are engine-identical and hash-certifiable. Shape: lag + "
    "running-sum windows per user, one (user, session) agg, one "
    "path-level count, TakeOrdered(20).",
    _PATHS_ORACLE,
)
def x187_session_paths(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    brk = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, 0)
    s = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.sum(brk).over(wsum).cast("long").alias("session_id"),
    )
    paths = (
        s.groupBy("user_id", "session_id")
        .agg(
            F.concat_ws(
                ">",
                F.slice(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("ts", "event_id", "event_type")
                            )
                        ),
                        lambda st: st.event_type,
                    ),
                    1,
                    4,
                ),
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.sum(
                F.when(F.col("path").contains("purchase"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_with_purchase"),
        )
        .orderBy(F.desc("n_sessions"), "path")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# x188 — embedding table quality audit (the vector-pipeline gate)
# ---------------------------------------------------------------------------

_EMB_AUDIT_ORACLE = """
WITH base AS (
    SELECT vec_id, embedding,
           CASE WHEN embedding IS NULL THEN 1 ELSE 0 END AS is_null,
           COALESCE(len(embedding), 0) AS dim
    FROM embeddings
),
md AS (
    SELECT CAST(max(dim) AS BIGINT) AS mode_dim FROM base
),
n2 AS (
    SELECT b.vec_id,
           CAST(COALESCE(SUM(q * q), 0) AS BIGINT) AS norm2
    FROM base b
    LEFT JOIN (
        SELECT vec_id,
               CAST(CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(9,6))
                    * 1000000 AS BIGINT) AS q
        FROM embeddings WHERE embedding IS NOT NULL
    ) e ON e.vec_id = b.vec_id
    GROUP BY b.vec_id
),
flags AS (
    SELECT b.vec_id, b.is_null, b.dim, n2.norm2, md.mode_dim,
           CASE WHEN b.is_null = 0 AND b.dim <> md.mode_dim
                THEN 1 ELSE 0 END AS is_wrong_dim,
           CASE WHEN b.is_null = 0 AND n2.norm2 = 0 THEN 1 ELSE 0 END
               AS is_zero
    FROM base b JOIN n2 ON n2.vec_id = b.vec_id CROSS JOIN md
),
ranked AS (
    SELECT norm2,
           row_number() OVER (ORDER BY norm2, vec_id) AS rn,
           count(*) OVER () AS n_ok
    FROM flags
    WHERE is_null = 0 AND is_wrong_dim = 0 AND is_zero = 0
)
SELECT CAST((SELECT count(*) FROM flags) AS BIGINT) AS n_vectors,
       CAST((SELECT SUM(is_null) FROM flags) AS BIGINT) AS n_null,
       CAST((SELECT SUM(is_wrong_dim) FROM flags) AS BIGINT)
           AS n_wrong_dim,
       CAST((SELECT SUM(is_zero) FROM flags) AS BIGINT) AS n_zero,
       CAST((SELECT max(mode_dim) FROM flags) AS BIGINT) AS mode_dim,
       CAST((SELECT min(norm2) FROM ranked
              WHERE 2 * rn >= n_ok) AS BIGINT) AS p50_norm2,
       CAST((SELECT min(norm2) FROM ranked
              WHERE 10 * rn >= 9 * n_ok) AS BIGINT) AS p90_norm2
"""


@q(
    "x188_embedding_audit",
    "OP-X3/G5-ext",
    "Embedding table quality audit — the admission gate a vector "
    "pipeline runs BEFORE building indexes (null vectors, "
    "wrong-dimension rows and zero vectors each silently corrupt "
    "cosine math downstream; x102/x107's dims filter assumes this "
    "gate ran): counts of null / wrong-dim / all-zero vectors, the "
    "modal dimension, and exact rank-picked p50/p90 of the scale-6 "
    "fixed-point squared norm over the clean subset (integer norm2, "
    "so the quantiles are engine-exact — no float norm, no sqrt; the "
    "exact rank window over per-vector norm2 is the default "
    "rank_method='window' form, and rank_method='bucketed' switches "
    "to operators.ranks.global_row_number — the distributed exact "
    "rank, same output, property-tested in tests/test_ranks.py). "
    "The healthy-corpus signature is p50 ~ p90 (normalized "
    "embeddings); a wide gap flags mixed model versions, THE classic "
    "silent vector-store corruption. Complements x181 (FK edges) "
    "and x79 (scalar columns) as the third data-quality panel. One "
    "posexplode agg + one bounded rank window over norm2 values.",
    _EMB_AUDIT_ORACLE,
)
def x188_embedding_audit(spark, sf_dir, rank_method: str = "window"):
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        "embedding",
        F.when(F.col("embedding").isNull(), 1).otherwise(0).alias(
            "is_null"
        ),
        F.coalesce(F.size("embedding"), F.lit(0)).alias("dim"),
    )
    md = base.agg(F.max("dim").cast("long").alias("mode_dim"))
    q6 = (
        emb.filter(F.col("embedding").isNotNull())
        .select(
            "vec_id",
            F.posexplode("embedding").alias("i", "x"),
        )
        .select(
            "vec_id",
            (
                F.col("x").cast("double").cast("decimal(9,6)")
                * F.lit(1_000_000)
            )
            .cast("long")
            .alias("q"),
        )
        .groupBy("vec_id")
        .agg(F.sum(F.col("q") * F.col("q")).cast("long").alias("norm2"))
    )
    flags = (
        base.join(q6, "vec_id", "left")
        .crossJoin(F.broadcast(md))
        .select(
            "vec_id",
            "is_null",
            "dim",
            F.coalesce(F.col("norm2"), F.lit(0)).alias("norm2"),
            "mode_dim",
            F.when(
                (F.col("is_null") == 0)
                & (F.col("dim") != F.col("mode_dim")),
                1,
            )
            .otherwise(0)
            .alias("is_wrong_dim"),
            F.when(
                (F.col("is_null") == 0)
                & (F.coalesce(F.col("norm2"), F.lit(0)) == 0),
                1,
            )
            .otherwise(0)
            .alias("is_zero"),
        )
    )
    ok = flags.filter(
        (F.col("is_null") == 0)
        & (F.col("is_wrong_dim") == 0)
        & (F.col("is_zero") == 0)
    )
    ranked = global_row_number(
        ok,
        [("norm2", "asc"), ("vec_id", "asc")],
        method=rank_method,
        col_name="rn",
        total_name="n_ok",
    ).select("norm2", "rn", "n_ok")
    stats = flags.agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.sum("is_null").cast("long").alias("n_null"),
        F.sum("is_wrong_dim").cast("long").alias("n_wrong_dim"),
        F.sum("is_zero").cast("long").alias("n_zero"),
        F.max("mode_dim").cast("long").alias("mode_dim"),
    )
    quant = ranked.agg(
        F.min(F.when(2 * F.col("rn") >= F.col("n_ok"), F.col("norm2")))
        .cast("long")
        .alias("p50_norm2"),
        F.min(
            F.when(10 * F.col("rn") >= 9 * F.col("n_ok"), F.col("norm2"))
        )
        .cast("long")
        .alias("p90_norm2"),
    )
    return stats.crossJoin(F.broadcast(quant))


# ---------------------------------------------------------------------------
# x189 — additive seasonal decomposition (centered MA-12, exact integers)
# ---------------------------------------------------------------------------

_DECOMP_ORACLE = """
WITH m AS (
    SELECT c.c_nationkey AS nkey,
           CAST(date_trunc('month', o.o_orderdate) AS DATE) AS mon,
           CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS y
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey, CAST(date_trunc('month', o.o_orderdate) AS DATE)
),
w AS (
    SELECT nkey, mon, y,
           CAST(month(mon) AS BIGINT) AS cal_month,
           count(*) OVER win13 AS n13,
           SUM(y) OVER win11 AS s11,
           first_value(y) OVER win13 AS y_m6,
           last_value(y) OVER win13 AS y_p6
    FROM m
    WINDOW win13 AS (PARTITION BY nkey ORDER BY mon
                     ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING),
           win11 AS (PARTITION BY nkey ORDER BY mon
                     ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)
),
d AS (
    SELECT nkey, cal_month,
           24 * y - (2 * s11 + y_m6 + y_p6) AS dev
    FROM w WHERE n13 = 13
)
SELECT nkey, cal_month,
       CAST(count(*) AS BIGINT) AS n_obs,
       CAST(SUM(dev) AS BIGINT) AS s_num,
       CAST(24 * count(*) AS BIGINT) AS s_den,
       CAST(SUM(dev) AS DOUBLE) / CAST(24 * count(*) AS DOUBLE)
           AS seasonal_cents
FROM d
GROUP BY nkey, cal_month
ORDER BY nkey, cal_month
"""


@q(
    "x189_seasonal_decomp",
    "OP-W3/G6-ext",
    "Additive seasonal decomposition of monthly revenue per nation — "
    "the classical-decomposition seasonal component that tells a "
    "forecaster WHICH months structurally over/under-index before "
    "any model is fit (completes the toolkit: x148 Holt level/trend, "
    "x171 ACF, x120 multiplicative index, x158 MASE, x157 conformal). "
    "The centered 12-month moving average (half weights on the +-6 "
    "endpoints) normally forces floats; scaling by 24 makes it the "
    "exact integer M_t = 2*sum_{-5..+5} y + y_{t-6} + y_{t+6}, so "
    "the detrended deviation dev = 24*y_t - M_t and the per-calendar-"
    "month seasonal sums are exact BIGINTs (peak ~2e14 at 100x — "
    "documented headroom), with one IEEE divide at the edge for the "
    "cents value. Incomplete 13-month windows are excluded exactly "
    "(n13 = 13) in both engines. Windows partition per nation over "
    "calendar-bounded frames; the fact table sees one hash-agg.",
    _DECOMP_ORACLE,
)
def x189_seasonal_decomp(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    m = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("c_nationkey").alias("nkey"),
            F.date_trunc("month", "o_orderdate").cast("date").alias("mon"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("nkey", "mon")
        .agg(F.sum("cents").cast("long").alias("y"))
    )
    win13 = (
        Window.partitionBy("nkey").orderBy("mon").rowsBetween(-6, 6)
    )
    win11 = (
        Window.partitionBy("nkey").orderBy("mon").rowsBetween(-5, 5)
    )
    w = m.select(
        "nkey",
        "mon",
        "y",
        F.month("mon").cast("long").alias("cal_month"),
        F.count("*").over(win13).alias("n13"),
        F.sum("y").over(win11).alias("s11"),
        F.first("y").over(win13).alias("y_m6"),
        F.last("y").over(win13).alias("y_p6"),
    )
    d = w.filter(F.col("n13") == 13).select(
        "nkey",
        "cal_month",
        (
            24 * F.col("y")
            - (2 * F.col("s11") + F.col("y_m6") + F.col("y_p6"))
        ).alias("dev"),
    )
    return (
        d.groupBy("nkey", "cal_month")
        .agg(
            F.count("*").cast("long").alias("n_obs"),
            F.sum("dev").cast("long").alias("s_num"),
            (24 * F.count("*")).cast("long").alias("s_den"),
        )
        .withColumn(
            "seasonal_cents",
            F.col("s_num").cast("double") / F.col("s_den").cast("double"),
        )
        .orderBy("nkey", "cal_month")
    )


# ---------------------------------------------------------------------------
# x190 — rolling 12-month nation-vs-market revenue correlation
# ---------------------------------------------------------------------------

_RCORR_ORACLE = """
WITH m AS (
    SELECT c.c_nationkey AS nkey,
           CAST(date_trunc('month', o.o_orderdate) AS DATE) AS mon,
           CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
                AS BIGINT) // 100000 AS x
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey, CAST(date_trunc('month', o.o_orderdate) AS DATE)
),
mkt AS (
    SELECT mon, CAST(SUM(x) AS BIGINT) AS y FROM m GROUP BY mon
),
j AS (
    SELECT m.nkey, m.mon, m.x, mkt.y
    FROM m JOIN mkt ON mkt.mon = m.mon
),
w AS (
    SELECT nkey, mon,
           count(*) OVER win AS n,
           SUM(x) OVER win AS sx,
           SUM(y) OVER win AS sy,
           SUM(x * x) OVER win AS sxx,
           SUM(y * y) OVER win AS syy,
           SUM(x * y) OVER win AS sxy
    FROM j
    WINDOW win AS (PARTITION BY nkey ORDER BY mon
                   ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
)
SELECT nkey, mon,
       CAST(12 * sxy - sx * sy AS BIGINT) AS num,
       CAST(12 * sxx - sx * sx AS BIGINT) AS denx,
       CAST(12 * syy - sy * sy AS BIGINT) AS deny,
       CASE WHEN 12 * sxx - sx * sx = 0 OR 12 * syy - sy * sy = 0
            THEN CAST(0 AS DOUBLE)
            ELSE CAST(12 * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(12 * sxx - sx * sx AS DOUBLE)
                        * CAST(12 * syy - sy * sy AS DOUBLE)) END
           AS corr
FROM w
WHERE n = 12
ORDER BY nkey, mon
"""


@q(
    "x190_rolling_market_corr",
    "OP-W4/G6-ext",
    "Rolling 12-month correlation between each nation's monthly "
    "revenue and the all-nations market total — the 'market beta' "
    "coupling monitor: a nation whose rolling corr decays is "
    "decoupling from the portfolio (local shock, channel shift) long "
    "before its level trends show it. Exactness: with the window "
    "length FIXED at 12, every cleared-denominator ingredient "
    "(12*Sxy - Sx*Sy etc.) is an exact BIGINT over kilodollar-floored "
    "sums (peak ~1.4e18 at 100x, inside the 9.2e18 ceiling — the "
    "x171 unit discipline); incomplete leading windows are excluded "
    "exactly (n = 12). One IEEE sqrt+divide at the edge with exact "
    "num/denx/deny riding along. Shape: fact hash-agg to nation x "
    "month, a month-keyed market rollup joined back, then fixed "
    "12-row frames per nation.",
    _RCORR_ORACLE,
)
def x190_rolling_market_corr(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    m = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("c_nationkey").alias("nkey"),
            F.date_trunc("month", "o_orderdate").cast("date").alias("mon"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("nkey", "mon")
        .agg(F.expr("sum(cents) div 100000").cast("long").alias("x"))
    )
    mkt = m.groupBy("mon").agg(F.sum("x").cast("long").alias("y"))
    j = m.join(F.broadcast(mkt), "mon")
    win = (
        Window.partitionBy("nkey").orderBy("mon").rowsBetween(-11, 0)
    )
    w = j.select(
        "nkey",
        "mon",
        F.count("*").over(win).alias("n"),
        F.sum("x").over(win).alias("sx"),
        F.sum("y").over(win).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(win).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(win).alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(win).alias("sxy"),
    )
    num = (12 * F.col("sxy") - F.col("sx") * F.col("sy")).cast("long")
    denx = (12 * F.col("sxx") - F.col("sx") * F.col("sx")).cast("long")
    deny = (12 * F.col("syy") - F.col("sy") * F.col("sy")).cast("long")
    return (
        w.filter(F.col("n") == 12)
        .select(
            "nkey",
            "mon",
            num.alias("num"),
            denx.alias("denx"),
            deny.alias("deny"),
            F.when((denx == 0) | (deny == 0), F.lit(0.0))
            .otherwise(
                num.cast("double")
                / F.sqrt(denx.cast("double") * deny.cast("double"))
            )
            .alias("corr"),
        )
        .orderBy("nkey", "mon")
    )


# ---------------------------------------------------------------------------
# x191 — Apriori frequent brand triples (level-wise candidate pruning)
# ---------------------------------------------------------------------------

_APRIORI_ORACLE = """
WITH ob AS (
    SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
ms AS (
    SELECT greatest(3, count(DISTINCT ok) // 200) AS minsup FROM ob
),
l1 AS (
    SELECT b FROM ob CROSS JOIN ms
    GROUP BY b, ms.minsup HAVING count(*) >= ms.minsup
),
ob1 AS (
    SELECT ob.ok, ob.b FROM ob WHERE ob.b IN (SELECT b FROM l1)
),
p2 AS (
    SELECT a.b AS ba, c.b AS bb
    FROM ob1 a JOIN ob1 c ON a.ok = c.ok AND a.b < c.b
    CROSS JOIN ms
    GROUP BY a.b, c.b, ms.minsup HAVING count(*) >= ms.minsup
),
cand AS (
    SELECT x.ba AS a, x.bb AS b, y.bb AS c
    FROM p2 x JOIN p2 y ON x.bb = y.ba
    WHERE EXISTS (SELECT 1 FROM p2 z
                  WHERE z.ba = x.ba AND z.bb = y.bb)
),
tri AS (
    SELECT t1.b AS a, t2.b AS b, t3.b AS c,
           CAST(count(*) AS BIGINT) AS support
    FROM ob1 t1
    JOIN ob1 t2 ON t1.ok = t2.ok AND t1.b < t2.b
    JOIN ob1 t3 ON t2.ok = t3.ok AND t2.b < t3.b
    JOIN cand ON cand.a = t1.b AND cand.b = t2.b AND cand.c = t3.b
    GROUP BY t1.b, t2.b, t3.b
)
SELECT a AS brand_a, b AS brand_b, c AS brand_c, support
FROM tri CROSS JOIN ms
WHERE support >= ms.minsup
ORDER BY support DESC, brand_a, brand_b, brand_c
LIMIT 20
"""


@q(
    "x191_apriori_triples",
    "OP-G3/J3-ext",
    "Apriori frequent-triple mining over order baskets (brand level) "
    "with REAL level-wise pruning — the association-rule workhorse "
    "beyond x113's flat pairs: L1 keeps brands above minsup, P2 "
    "keeps frequent pairs from L1-filtered baskets, and triple "
    "CANDIDATES are generated as P2 join P2 on the shared middle "
    "item with the third sub-pair checked via EXISTS/semi-join (the "
    "downward-closure property: a triple can only be frequent if all "
    "three sub-pairs are) BEFORE any triple is counted — at scale "
    "this prune is what keeps level 3 from touching the "
    "C(|items|,3) lattice. minsup is relative "
    "(greatest(3, baskets DIV 200), integer floor, engine-identical) "
    "so the same query is meaningful at every SF. Basket fan-out is "
    "bounded (<= ~7 lines/order => <= 35 triples/order), so the "
    "3-way self-join is linear in orders. Exact BIGINT supports, "
    "total tie-break, TakeOrdered(20).",
    _APRIORI_ORACLE,
)
def x191_apriori_triples(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    ob = (
        li.join(p, li.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("b"))
        .distinct()
    )
    ms = ob.agg(
        F.greatest(
            F.lit(3), F.expr("count(DISTINCT ok) div 200")
        ).cast("long").alias("minsup")
    )
    l1 = (
        ob.groupBy("b")
        .agg(F.count("*").alias("sup"))
        .crossJoin(F.broadcast(ms))
        .filter(F.col("sup") >= F.col("minsup"))
        .select("b")
    )
    ob1 = ob.join(F.broadcast(l1), "b", "semi")
    a1 = ob1.select("ok", F.col("b").alias("ba"))
    a2 = ob1.select("ok", F.col("b").alias("bb"))
    p2 = (
        a1.join(a2, "ok")
        .filter(F.col("ba") < F.col("bb"))
        .groupBy("ba", "bb")
        .agg(F.count("*").alias("sup"))
        .crossJoin(F.broadcast(ms))
        .filter(F.col("sup") >= F.col("minsup"))
        .select("ba", "bb")
    )
    x = p2.select(F.col("ba").alias("a"), F.col("bb").alias("mid"))
    y = p2.select(F.col("ba").alias("mid"), F.col("bb").alias("c"))
    z = p2.select(F.col("ba").alias("a"), F.col("bb").alias("c"))
    cand = (
        x.join(y, "mid")
        .join(z, ["a", "c"], "semi")
        .select("a", F.col("mid").alias("b"), "c")
    )
    t1 = ob1.select("ok", F.col("b").alias("ta"))
    t2 = ob1.select("ok", F.col("b").alias("tb"))
    t3 = ob1.select("ok", F.col("b").alias("tc"))
    tri = (
        t1.join(t2, "ok")
        .filter(F.col("ta") < F.col("tb"))
        .join(t3, "ok")
        .filter(F.col("tb") < F.col("tc"))
        .join(
            F.broadcast(cand),
            (F.col("ta") == F.col("a"))
            & (F.col("tb") == F.col("b"))
            & (F.col("tc") == F.col("c")),
            "semi",
        )
        .groupBy("ta", "tb", "tc")
        .agg(F.count("*").cast("long").alias("support"))
    )
    return (
        tri.crossJoin(F.broadcast(ms))
        .filter(F.col("support") >= F.col("minsup"))
        .select(
            F.col("ta").alias("brand_a"),
            F.col("tb").alias("brand_b"),
            F.col("tc").alias("brand_c"),
            "support",
        )
        .orderBy(F.desc("support"), "brand_a", "brand_b", "brand_c")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# x192 — compression-ratio quality proxy (zlib, Arrow-batched)
# ---------------------------------------------------------------------------


@q(
    "x192_compression_quality",
    "OP-X4/X5-ext",
    "Compression-ratio quality scoring per source: each document is "
    "DEFLATE-compressed (zlib level 6) in Arrow batches and the "
    "per-source aggregate reports exact byte totals, the compressed/"
    "raw ratio in ppm, and how many documents fall under the "
    "300-permille repetitiveness floor — the DataComp/RedPajama-style "
    "entropy-proxy filter (highly compressible text is template spam "
    "or boilerplate; near-incompressible is binary junk or "
    "high-entropy noise) that complements the char-entropy (x49) and "
    "repetition-score (x4) lexical signals with a whole-document "
    "Kolmogorov proxy. HARNESS entry: DuckDB has no DEFLATE, so the "
    "oracle is pytest-pinned byte lengths (zlib output is fully "
    "deterministic for a fixed level) plus rows-only driver checks; "
    "certified twin: x361_lz78_quality_portable hash-certifies the "
    "metric plumbing (per-source aggregation, ratio ppm, template "
    "floor) with a distinct-4-gram codec proxy both engines compute. "
    "Spark shape: ONE mapInPandas pass (the only Python is the zlib "
    "C call over Arrow-delivered batches), then a map-side-combinable "
    "hash-agg — the multimodal decode-batch pattern applied to text.",
)
def x192_compression_quality(spark, sf_dir):
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")

    def batch(it):
        import zlib

        for pdf in it:
            raw = [
                (t if isinstance(t, str) else "").encode("utf-8")
                for t in pdf["text"]
            ]
            yield pd.DataFrame(
                {
                    "source": pdf["source"],
                    "raw_len": [len(b) for b in raw],
                    "comp_len": [
                        len(zlib.compress(b, 6)) for b in raw
                    ],
                }
            )

    per = docs.select("source", "text").mapInPandas(
        batch, "source string, raw_len long, comp_len long"
    )
    return (
        per.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("raw_len").cast("long").alias("raw_bytes"),
            F.sum("comp_len").cast("long").alias("comp_bytes"),
            F.sum(
                F.when(
                    1000 * F.col("comp_len") < 300 * F.col("raw_len"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_repetitive"),
        )
        .withColumn(
            "ratio_ppm",
            F.expr(
                "CAST(CASE WHEN raw_bytes = 0 THEN 0 "
                "ELSE comp_bytes * 1000000 div raw_bytes END AS BIGINT)"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# x193 — vocabulary growth by corpus decile (Heaps-law saturation)
# ---------------------------------------------------------------------------

_VOCAB_ORACLE = """
WITH tok AS (
    SELECT d.doc_id, unnest(string_split_regex(lower(d.text), '\\s+')) AS w
    FROM documents d
),
tok2 AS (
    SELECT doc_id, w FROM tok WHERE w <> ''
),
first_seen AS (
    SELECT w, min(doc_id) AS first_doc FROM tok2 GROUP BY w
),
per_doc AS (
    SELECT d.doc_id,
           COALESCE(t.n_tokens, 0) AS n_tokens,
           COALESCE(f.new_tokens, 0) AS new_tokens
    FROM documents d
    LEFT JOIN (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
               FROM tok2 GROUP BY doc_id) t ON t.doc_id = d.doc_id
    LEFT JOIN (SELECT first_doc, CAST(count(*) AS BIGINT) AS new_tokens
               FROM first_seen GROUP BY first_doc) f
      ON f.first_doc = d.doc_id
),
dec AS (
    SELECT ntile(10) OVER (ORDER BY doc_id) AS decile,
           n_tokens, new_tokens
    FROM per_doc
),
g AS (
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(new_tokens) AS BIGINT) AS new_tokens
    FROM dec GROUP BY decile
)
SELECT CAST(decile AS BIGINT) AS decile, n_docs, n_tokens, new_tokens,
       CAST(SUM(new_tokens) OVER (ORDER BY decile
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_vocab,
       CAST(new_tokens * 1000000 // n_tokens AS BIGINT) AS novelty_ppm
FROM g
ORDER BY decile
"""


@q(
    "x193_vocab_growth",
    "OP-X4/W4-ext",
    "Vocabulary growth by corpus decile — the Heaps-law saturation "
    "curve that answers 'is more of this source still teaching the "
    "model new words?': tokens are attributed to the FIRST document "
    "(by doc_id) that contains them, documents are cut into ntile(10) "
    "deciles of the doc_id order, and each decile reports docs, "
    "token volume, newly-introduced vocabulary, the cumulative "
    "vocabulary, and novelty in exact ppm (new/total tokens). A "
    "flattening cum_vocab across deciles is the data-curation signal "
    "to stop scaling this source and diversify (x60's n-gram novelty "
    "at document grain, lifted to the corpus-curve view). Exactness: "
    "min-doc attribution and all counts are integers; the ntile runs "
    "over the DOC-level frame (one row per document) under the "
    "default rank_method='window', and rank_method='bucketed' "
    "switches to operators.ranks.global_ntile — the distributed "
    "exact decile cut, same output, property-tested in "
    "tests/test_ranks.py. Shape: one explode + token-min agg (map-side "
    "combinable, tokens hashed across the shuffle), two doc-level "
    "joins, a 10-row rollup.",
    _VOCAB_ORACLE,
)
def x193_vocab_growth(spark, sf_dir, rank_method: str = "window"):
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    first_seen = tok.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    n_tok = tok.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens")
    )
    new_tok = first_seen.groupBy("first_doc").agg(
        F.count("*").cast("long").alias("new_tokens")
    )
    per_doc = (
        docs.select("doc_id")
        .join(n_tok, "doc_id", "left")
        .join(new_tok, docs.doc_id == new_tok.first_doc, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            F.coalesce(F.col("new_tokens"), F.lit(0)).alias("new_tokens"),
        )
    )
    dec = global_ntile(
        per_doc,
        10,
        [("doc_id", "asc")],
        method=rank_method,
        col_name="decile",
    ).select("decile", "n_tokens", "new_tokens")
    g = dec.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum("new_tokens").cast("long").alias("new_tokens"),
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        g.select(
            "decile",
            "n_docs",
            "n_tokens",
            "new_tokens",
            F.sum("new_tokens").over(wc).cast("long").alias("cum_vocab"),
            F.expr(
                "CAST(new_tokens * 1000000 div n_tokens AS BIGINT)"
            ).alias("novelty_ppm"),
        )
        .orderBy("decile")
    )
