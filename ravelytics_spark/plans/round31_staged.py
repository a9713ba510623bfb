"""Catalog entries x312-x325.

Theme: sequence language modeling, ecological scaling laws, inventory
decisions, classification economics, governance closure, and design-
based estimation.

* ``x312_bigram_logprob`` — per-source bigram cross-entropy under the
  corpus add-one-smoothed bigram LM: bigrams from a doc-partitioned
  lead window, per-distinct-bigram log-prob ln((c12+1)/(c1+V))
  micro-floored once, weighted by exact per-source counts. The
  sequence-aware upgrade of x20's unigram logprob — template text
  scores near zero entropy HERE even when its unigram mix looks
  natural.
* ``x313_taylor_law`` — Taylor's power law across nations: ln(var)
  vs ln(mean) OLS over per-nation daily order-count moments (exact
  BIGINT), slope b in milli. b ~ 1 is Poisson-like, b -> 2 means
  aggregation/clumping — the cross-sectional companion of x298's
  per-nation dispersion.
* ``x314_eoq`` — economic order quantity per brand from annual unit
  demand (exact BIGINT) with literal order/holding costs:
  EOQ = sqrt(2DS/H) through one shared IEEE chain, plus the
  lead-time reorder point in exact milli-units. The textbook
  decision layer on top of x185/x283/x286.
* ``x315_abc_migration`` — year-over-year ABC class migration matrix
  (1996 revenue classes x 1997 revenue classes, parts present both
  years): two cumulative-share classifications (the x112/x283
  certifiable window form) joined into the 3x3 churn matrix. ABC is
  only actionable if classes are STABLE — this is the stability
  audit.
* ``x316_stl_strength`` — seasonal-strength F_s per nation: over
  x189's exact x24-scaled detrended deviations, F_s is EXACTLY the
  calendar-month ANOVA R^2 (1 - SSW/SST), computed from exact
  per-month integer sums through one shared chain in ppm. The
  one-number 'is seasonality worth modeling' gate in front of
  x120/x189.

Second wave — eval operating points, governance closure, design-based
estimation:

* ``x317_confusion_at_threshold`` — TP/FP/FN/TN + precision/recall/F1
  at literal spend thresholds: the operating-point layer x241/x277's
  threshold-free metrics hide.
* ``x318_t_closeness`` — variational-distance t per QI class, closing
  the k (x194) / l (x203) / t anonymity trio in exact ppm.
* ``x319_horvitz_thompson`` — HT total under deterministic
  unequal-probability sampling, exact x2/x8 integer weights, signed
  error vs truth.
* ``x320_qte_deciles`` — quantile treatment effects at the nine
  deciles for the md5 50% split; simultaneously estimator and
  falsification harness.
* ``x321_degree_powerlaw`` — Hill alpha of the co-order degree tail:
  the scale-free diagnosis behind every graph-operator choice.

Third wave — diversity, survival comparison, clustering effects,
inequality dynamics:

* ``x322_simpson_diversity`` — token collision probability per source
  (the head-weighted boilerplate detector next to the entropy tier).
* ``x323_logrank_test`` — the two-curve survival comparison x285
  draws but cannot test (BUILDING vs rest reorder gaps).
* ``x324_icc_design_effect`` — ICC(1) of order value within customers
  + the design effect that inflates x182's sample sizes.
* ``x325_inequality_trend`` — per-year spend Gini + the cross-year
  OLS drift: is the business becoming whale-dependent.

Hash-parity conventions as plans/queries.py: exact cents/BIGINT
arithmetic until one shared IEEE expression, total ORDER BY, BIGINT
casts on every count.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ravelytics_spark.operators.graph import coorder_edges, undirected
from ravelytics_spark.plans.frames import (
    COORDER_EDGES_SQL,
    COORDER_PK_SQL,
    UNDIRECTED_SQL,
)
from ravelytics_spark.plans.registry import q
from ravelytics_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# x312 — per-source bigram cross-entropy (add-one-smoothed corpus LM)
# ---------------------------------------------------------------------------

# per-distinct-bigram log-prob, micro-floored once; the per-source sum
# weights it by exact counts, H = -sum / N in micro.
_BG_LP = (
    "CAST(floor(1000000.0 * ln((CAST(c12 AS DOUBLE) + 1.0)"
    " / (CAST(c1 AS DOUBLE) + CAST(v AS DOUBLE)))) AS BIGINT)"
)

_BG_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, source,
           generate_subscripts(string_split(text, ' '), 1) AS pos,
           unnest(string_split(text, ' ')) AS w
    FROM documents
),
bg AS (
    SELECT a.source, a.w AS w1, b.w AS w2
    FROM tok a JOIN tok b
      ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    WHERE a.w <> '' AND b.w <> ''
),
vv AS (
    SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
    FROM tok WHERE w <> ''
),
lm12 AS (
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2
),
lm1 AS (
    SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM lm12 GROUP BY 1
),
lp AS (
    SELECT lm12.w1, lm12.w2, {_BG_LP} AS lp_micro
    FROM lm12 JOIN lm1 ON lm12.w1 = lm1.w1 CROSS JOIN vv
),
src AS (
    SELECT source, w1, w2, CAST(count(*) AS BIGINT) AS cnt
    FROM bg GROUP BY 1, 2, 3
)
SELECT src.source,
       CAST(SUM(src.cnt) AS BIGINT) AS n_bigrams,
       CAST(SUM(src.cnt * lp.lp_micro) AS BIGINT) AS sum_lp_micro,
       CAST(-(SUM(src.cnt * lp.lp_micro) // SUM(src.cnt)) AS BIGINT)
           AS h_micro
FROM src JOIN lp ON src.w1 = lp.w1 AND src.w2 = lp.w2
GROUP BY src.source
ORDER BY src.source
"""


@q(
    "x312_bigram_logprob",
    "OP-X4-ext",
    "Per-source bigram cross-entropy under the corpus add-one-"
    "smoothed bigram LM: bigrams via sequential position pairing "
    "inside each document, ln((c12+1)/(c1+V)) MICRO-floored once per "
    "DISTINCT bigram (the LM table), then weighted by exact "
    "per-source bigram counts — the sum and the final integer "
    "division are order-immune BIGINTs. The sequence-aware upgrade "
    "of x20's unigram logprob: templated/boilerplate text has "
    "near-natural unigram mix but collapsed bigram entropy, so this "
    "is the curation signal x4/x27 heuristics approximate. Scale: "
    "token explode -> bigram pairing (doc-local) -> LM hash-aggs -> "
    "one bigram-keyed join of source counts to LM rows; V is a "
    "1-row broadcast.",
    _BG_ORACLE,
)
def x312_bigram_logprob(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "source",
        F.posexplode(F.split("text", " ")).alias("pos", "w"),
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        tok.select(
            "source", F.col("w").alias("w1"),
            F.lead("w").over(wd).alias("w2"),
        )
        .filter(
            (F.col("w1") != "")
            & F.col("w2").isNotNull()
            & (F.col("w2") != "")
        )
    )
    vv = (
        tok.filter(F.col("w") != "")
        .agg(F.countDistinct("w").cast("long").alias("v"))
    )
    lm12 = bg.groupBy("w1", "w2").agg(
        F.count("*").cast("long").alias("c12")
    )
    lm1 = lm12.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    lp = (
        lm12.join(lm1, "w1")
        .crossJoin(F.broadcast(vv))
        .select("w1", "w2", F.expr(_BG_LP).alias("lp_micro"))
    )
    src = bg.groupBy("source", "w1", "w2").agg(
        F.count("*").cast("long").alias("cnt")
    )
    return (
        src.join(lp, ["w1", "w2"])
        .groupBy("source")
        .agg(
            F.sum("cnt").cast("long").alias("n_bigrams"),
            F.sum(F.expr("cnt * lp_micro")).cast("long").alias(
                "sum_lp_micro"
            ),
            F.expr(
                "CAST(-(SUM(cnt * lp_micro) DIV SUM(cnt)) AS BIGINT)"
            ).alias("h_micro"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# x313 — Taylor's power law across nations (daily order counts)
# ---------------------------------------------------------------------------

_TL_LM = (
    "CAST(floor(1000.0 * ln(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))"
    " AS BIGINT)"
)
_TL_LV = (
    "CAST(floor(1000.0 * ln((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)"
    " * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)))"
    " AS BIGINT)"
)
_TL_SLOPE = (
    "(CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
)

_TL_ORACLE = f"""
WITH daily AS (
    SELECT c.c_nationkey AS nkey, o.o_orderdate AS d,
           CAST(count(*) AS BIGINT) AS cnt
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
),
mo AS (
    SELECT nkey, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(cnt) AS BIGINT) AS s1,
           CAST(SUM(cnt * cnt) AS BIGINT) AS s2
    FROM daily GROUP BY nkey
),
pts AS (
    SELECT nkey, {_TL_LM} AS lm, {_TL_LV} AS lv
    FROM mo
    WHERE n >= 2 AND s1 > 0 AND n * s2 > s1 * s1
),
s AS (
    SELECT CAST(count(*) AS BIGINT) AS k,
           CAST(SUM(lm) AS BIGINT) AS sx,
           CAST(SUM(lv) AS BIGINT) AS sy,
           CAST(SUM(lm * lm) AS BIGINT) AS sxx,
           CAST(SUM(lm * lv) AS BIGINT) AS sxy
    FROM pts
)
SELECT k AS n_nations, sx, sy, sxx, sxy,
       CAST(floor(1000.0 * ({_TL_SLOPE})) AS BIGINT) AS taylor_b_milli
FROM s WHERE k >= 2 AND k * sxx > sx * sx
"""


@q(
    "x313_taylor_law",
    "OP-G6-ext",
    "Taylor's power law across nations: per-nation daily order-count "
    "mean/variance from exact BIGINT moments, ln(mean)/ln(var) "
    "MILLI-floored per nation (25 bounded points), OLS slope b "
    "through one shared IEEE chain in milli. The ecological scaling "
    "law (variance ~ mean^b): b near 1 = independent Poisson "
    "arrivals everywhere, b toward 2 = clumping that scales WITH "
    "volume — which decides whether x298's per-nation dispersion is "
    "a local anomaly or a system-wide law, and how alert thresholds "
    "must scale across markets of different size. Scale: one "
    "(nation, day) agg -> 25-row point frame -> 1-row OLS.",
    _TL_ORACLE,
)
def x313_taylor_law(spark, sf_dir):
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
    mo = daily.groupBy("nkey").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cnt").cast("long").alias("s1"),
        F.sum(F.expr("cnt * cnt")).cast("long").alias("s2"),
    )
    pts = mo.filter(
        (F.col("n") >= 2)
        & (F.col("s1") > 0)
        & (F.col("n") * F.col("s2") > F.col("s1") * F.col("s1"))
    ).select(F.expr(_TL_LM).alias("lm"), F.expr(_TL_LV).alias("lv"))
    s = pts.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("lm").cast("long").alias("sx"),
        F.sum("lv").cast("long").alias("sy"),
        F.sum(F.expr("lm * lm")).cast("long").alias("sxx"),
        F.sum(F.expr("lm * lv")).cast("long").alias("sxy"),
    )
    return s.filter(
        (F.col("k") >= 2)
        & (F.col("k") * F.col("sxx") > F.col("sx") * F.col("sx"))
    ).select(
        F.col("k").alias("n_nations"),
        "sx",
        "sy",
        "sxx",
        "sxy",
        F.expr(f"CAST(floor(1000.0 * ({_TL_SLOPE})) AS BIGINT)").alias(
            "taylor_b_milli"
        ),
    )


# ---------------------------------------------------------------------------
# x314 — economic order quantity per brand
# ---------------------------------------------------------------------------

_EOQ_S = 100  # order (setup) cost, currency units per order — literal
_EOQ_H = 2  # holding cost per unit-year — literal
_EOQ_LEAD_DAYS = 7

_EOQ_MILLI = (
    f"CAST(floor(1000.0 * sqrt(2.0 * CAST(d_units AS DOUBLE) * {_EOQ_S}.0"
    f" / CAST(n_years AS DOUBLE) / {_EOQ_H}.0)) AS BIGINT)"
)

_EOQ_ORACLE = f"""
WITH d AS (
    SELECT p.p_brand AS brand,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS d_units,
           CAST(count(DISTINCT year(l.l_shipdate)) AS BIGINT) AS n_years
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1
)
SELECT brand, d_units, n_years,
       {_EOQ_MILLI} AS eoq_milli,
       CAST(d_units * {_EOQ_LEAD_DAYS} * 1000 // (n_years * 365)
            AS BIGINT) AS reorder_point_milli
FROM d WHERE d_units > 0 AND n_years > 0
ORDER BY brand
"""


@q(
    "x314_eoq",
    "OP-G6-ext",
    "Economic order quantity per brand: annual unit demand from exact "
    f"BIGINT shipped quantities (demand rate = total/years), literal "
    f"order cost S={_EOQ_S} and holding cost H={_EOQ_H}, "
    "EOQ = sqrt(2DS/H) through one shared IEEE chain in milli, plus "
    f"the {_EOQ_LEAD_DAYS}-day lead-time reorder point as an exact "
    "integer division in milli-units. The textbook ordering DECISION "
    "that x185/x283 classify for and x286's newsvendor complements "
    "(EOQ sets the batch, newsvendor the safety level). Scale: one "
    "brand-keyed agg with map-side partials; the decision algebra "
    "runs on the <=|brands| frame.",
    _EOQ_ORACLE,
)
def x314_eoq(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    d = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(F.col("l_quantity").cast("long"))
            .cast("long")
            .alias("d_units"),
            F.countDistinct(F.year("l_shipdate"))
            .cast("long")
            .alias("n_years"),
        )
    )
    return (
        d.filter((F.col("d_units") > 0) & (F.col("n_years") > 0))
        .select(
            "brand",
            "d_units",
            "n_years",
            F.expr(_EOQ_MILLI).alias("eoq_milli"),
            F.expr(
                f"CAST(d_units * {_EOQ_LEAD_DAYS} * 1000"
                " DIV (n_years * 365) AS BIGINT)"
            ).alias("reorder_point_milli"),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# x315 — year-over-year ABC class migration matrix (1996 -> 1997)
# ---------------------------------------------------------------------------


def _abc_year_sql(year: int, alias: str) -> str:
    return f"""{alias}_rev AS (
    SELECT l_partkey AS pk,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS cents
    FROM lineitem WHERE year(l_shipdate) = {year}
    GROUP BY 1
),
{alias} AS (
    SELECT pk,
           CASE WHEN SUM(cents) OVER (ORDER BY cents DESC, pk
                     ROWS UNBOUNDED PRECEDING) * 10
                     <= SUM(cents) OVER () * 7 THEN 'A'
                WHEN SUM(cents) OVER (ORDER BY cents DESC, pk
                     ROWS UNBOUNDED PRECEDING) * 10
                     <= SUM(cents) OVER () * 9 THEN 'B'
                ELSE 'C' END AS abc
    FROM {alias}_rev
)"""


_MIG_ORACLE = f"""
WITH {_abc_year_sql(1996, "y1")},
{_abc_year_sql(1997, "y2")}
SELECT y1.abc AS abc_1996, y2.abc AS abc_1997,
       CAST(count(*) AS BIGINT) AS n_parts
FROM y1 JOIN y2 ON y1.pk = y2.pk
GROUP BY 1, 2
ORDER BY 1, 2
"""


@q(
    "x315_abc_migration",
    "OP-G6/W4-ext",
    "Year-over-year ABC migration matrix: parts classified by 1996 "
    "and by 1997 revenue share (pure-integer cumulative threshold "
    "compares, the x112/x283 idiom), joined into the 3x3 churn "
    "matrix over parts present both years. ABC-driven policies "
    "(x283's planning cells, x314's EOQ batches) only work if "
    "classes are STABLE — heavy A<->C churn means last year's "
    "classification is already fiction. Scale: two year-filtered "
    "part aggs; both cumulative windows are the documented "
    "certifiable global form over PART-level aggregates (the x219 "
    "bucketed rank is the scale path); one pk equi-join.",
    _MIG_ORACLE,
)
def x315_abc_migration(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")

    def abc_year(year, out):
        rev = (
            li.filter(F.year("l_shipdate") == year)
            .groupBy(F.col("l_partkey").alias("pk"))
            .agg(
                F.expr(
                    "CAST(SUM(CAST(round(l_extendedprice * 100) AS"
                    " BIGINT)) AS BIGINT)"
                ).alias("cents")
            )
        )
        wcum = (
            Window.partitionBy()
            .orderBy(F.col("cents").desc(), "pk")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wtot = Window.partitionBy()
        return rev.select(
            "pk",
            F.when(
                F.sum("cents").over(wcum) * 10
                <= F.sum("cents").over(wtot) * 7,
                "A",
            )
            .when(
                F.sum("cents").over(wcum) * 10
                <= F.sum("cents").over(wtot) * 9,
                "B",
            )
            .otherwise("C")
            .alias(out),
        )

    y1 = abc_year(1996, "abc_1996")
    y2 = abc_year(1997, "abc_1997")
    return (
        y1.join(y2, "pk")
        .groupBy("abc_1996", "abc_1997")
        .agg(F.count("*").cast("long").alias("n_parts"))
        .orderBy("abc_1996", "abc_1997")
    )


# ---------------------------------------------------------------------------
# x316 — seasonal strength F_s per nation (ANOVA R^2 of calendar month)
# ---------------------------------------------------------------------------

# over x189's exact x24-scaled detrended deviations d_i:
#   SST = sum d^2 - (sum d)^2/N          (total variance of S+R)
#   SSW = sum_m [sum d^2_m - (sum d_m)^2/n_m]  (residual after seasonal)
#   F_s = max(0, 1 - SSW/SST), exactly the calendar-month eta^2.
_SS_PPM = (
    "CAST(floor(1000000.0 * (CASE WHEN 1.0 - ssw / sst < 0.0 THEN 0.0"
    " ELSE 1.0 - ssw / sst END)) AS BIGINT)"
)

_SS_ORACLE = f"""
WITH m AS (
    SELECT c.c_nationkey AS nkey,
           CAST(date_trunc('month', o.o_orderdate) AS DATE) AS mon,
           CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS y
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
),
w AS (
    SELECT nkey, mon, y, CAST(month(mon) AS BIGINT) AS cal_month,
           CAST(count(*) OVER (PARTITION BY nkey ORDER BY mon
                ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS BIGINT)
               AS n13,
           CAST(SUM(y) OVER (PARTITION BY nkey ORDER BY mon
                ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS BIGINT)
               AS s11,
           CAST(first_value(y) OVER (PARTITION BY nkey ORDER BY mon
                ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS BIGINT)
               AS y_m6,
           CAST(last_value(y) OVER (PARTITION BY nkey ORDER BY mon
                ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS BIGINT)
               AS y_p6
    FROM m
),
d AS (
    SELECT nkey, cal_month,
           (24 * y - (2 * s11 + y_m6 + y_p6)) // 100000 AS dev
    FROM w WHERE n13 = 13
),
per_m AS (
    SELECT nkey, cal_month, CAST(count(*) AS BIGINT) AS n_m,
           CAST(SUM(dev) AS BIGINT) AS s1,
           CAST(SUM(dev * dev) AS BIGINT) AS s2
    FROM d GROUP BY 1, 2
),
tot AS (
    SELECT nkey, CAST(SUM(n_m) AS BIGINT) AS nn,
           CAST(SUM(s1) AS BIGINT) AS t1,
           CAST(SUM(s2) AS BIGINT) AS t2,
           SUM(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
               * CAST(s1 AS DOUBLE) / CAST(n_m AS DOUBLE)) AS ssw
    FROM per_m GROUP BY nkey
),
fin AS (
    SELECT nkey, nn, ssw,
           CAST(t2 AS DOUBLE) - CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE)
               / CAST(nn AS DOUBLE) AS sst
    FROM tot
)
SELECT nkey, nn AS n_obs,
       {_SS_PPM} AS seasonal_strength_ppm
FROM fin WHERE sst > 0.0
ORDER BY nkey
"""


@q(
    "x316_stl_strength",
    "OP-W3/G6-ext",
    "Seasonal strength F_s per nation over x189's classical "
    "decomposition frame: the x24-scaled centered-MA detrended "
    "deviations (floored to kilodollar units for square headroom) "
    "feed the calendar-month one-way ANOVA, and F_s = max(0, "
    "1 - SSW/SST) is EXACTLY the month eta^2 — per-month integer "
    "sums exact, one shared IEEE chain in ppm. Hyndman's "
    "one-number 'is seasonality worth modeling' gate: x120/x189 "
    "ESTIMATE the seasonal shape, this says whether it explains "
    "enough detrended variance to act on. Scale: the x189 bounded "
    "monthly windows (nation-partitioned) + a 12-row-per-nation "
    "month agg.",
    _SS_ORACLE,
)
def x316_stl_strength(spark, sf_dir):
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
    win13 = Window.partitionBy("nkey").orderBy("mon").rowsBetween(-6, 6)
    win11 = Window.partitionBy("nkey").orderBy("mon").rowsBetween(-5, 5)
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
        F.expr(
            "(24 * y - (2 * s11 + y_m6 + y_p6)) DIV 100000"
        ).alias("dev"),
    )
    per_m = d.groupBy("nkey", "cal_month").agg(
        F.count("*").cast("long").alias("n_m"),
        F.sum("dev").cast("long").alias("s1"),
        F.sum(F.expr("dev * dev")).cast("long").alias("s2"),
    )
    tot = per_m.groupBy("nkey").agg(
        F.sum("n_m").cast("long").alias("nn"),
        F.sum("s1").cast("long").alias("t1"),
        F.sum("s2").cast("long").alias("t2"),
        F.sum(
            F.expr(
                "CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)"
                " * CAST(s1 AS DOUBLE) / CAST(n_m AS DOUBLE)"
            )
        ).alias("ssw"),
    )
    fin = tot.select(
        "nkey",
        "nn",
        "ssw",
        F.expr(
            "CAST(t2 AS DOUBLE) - CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE)"
            " / CAST(nn AS DOUBLE)"
        ).alias("sst"),
    )
    return (
        fin.filter(F.col("sst") > 0.0)
        .select(
            "nkey",
            F.col("nn").alias("n_obs"),
            F.expr(_SS_PPM).alias("seasonal_strength_ppm"),
        )
        .orderBy("nkey")
    )


# ---------------------------------------------------------------------------
# x317 — confusion matrix at literal spend thresholds
# ---------------------------------------------------------------------------

_CT_THRESHOLDS = [1_000_000, 5_000_000, 20_000_000]  # cents: 10k/50k/200k


def _ct_sql(thr: int) -> str:
    return f"""
SELECT {thr} AS threshold_cents,
       CAST(SUM(CASE WHEN score >= {thr} AND pos = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS tp,
       CAST(SUM(CASE WHEN score >= {thr} AND pos = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS fp,
       CAST(SUM(CASE WHEN score < {thr} AND pos = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS fn,
       CAST(SUM(CASE WHEN score < {thr} AND pos = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS tn
FROM cust"""


_CT_ORACLE = f"""
WITH cust AS (
    SELECT c.c_custkey AS ck,
           COALESCE(SUM(CASE WHEN o.o_orderdate < DATE '1998-01-01'
                THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                ELSE 0 END), 0) AS score,
           MAX(CASE WHEN o.o_orderdate >= DATE '1998-01-01'
                THEN 1 ELSE 0 END) AS pos
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY 1
),
conf AS (
    {_ct_sql(_CT_THRESHOLDS[0])}
    UNION ALL
    {_ct_sql(_CT_THRESHOLDS[1])}
    UNION ALL
    {_ct_sql(_CT_THRESHOLDS[2])}
)
SELECT threshold_cents, tp, fp, fn, tn,
       CAST(CASE WHEN tp + fp > 0 THEN tp * 1000000 // (tp + fp)
            ELSE 0 END AS BIGINT) AS precision_ppm,
       CAST(CASE WHEN tp + fn > 0 THEN tp * 1000000 // (tp + fn)
            ELSE 0 END AS BIGINT) AS recall_ppm,
       CAST(CASE WHEN 2 * tp + fp + fn > 0
            THEN 2 * tp * 1000000 // (2 * tp + fp + fn)
            ELSE 0 END AS BIGINT) AS f1_ppm
FROM conf
ORDER BY threshold_cents
"""


@q(
    "x317_confusion_at_threshold",
    "OP-G5/W2-ext",
    "Confusion matrix of the prior-spend repurchase classifier at "
    "three LITERAL spend thresholds: TP/FP/FN/TN exact BIGINT, "
    "precision/recall/F1 as exact integer divisions in ppm (F1 "
    "reduces to 2TP/(2TP+FP+FN), no float harmonic mean). The "
    "operating-point layer the threshold-free metrics hide: x241's "
    "AUC and x277's AP rank rankers, but a DEPLOYED classifier runs "
    "at one threshold and eats one column of this table. Scale: one "
    "customer agg + three map-side-combinable global rollups (one "
    "partial row per partition each).",
    _CT_ORACLE,
)
def x317_confusion_at_threshold(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cust = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy(F.col("c_custkey").alias("ck"))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("o_orderdate")
                        < F.lit("1998-01-01").cast("date"),
                        F.expr(
                            "CAST(round(o_totalprice * 100) AS BIGINT)"
                        ),
                    ).otherwise(F.lit(0))
                ),
                F.lit(0),
            ).alias("score"),
            F.max(
                F.when(
                    F.col("o_orderdate")
                    >= F.lit("1998-01-01").cast("date"),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).alias("pos"),
        )
    )

    def conf(thr):
        hit = F.col("score") >= thr
        return cust.agg(
            F.lit(thr).cast("long").alias("threshold_cents"),
            F.sum(F.when(hit & (F.col("pos") == 1), 1).otherwise(0))
            .cast("long")
            .alias("tp"),
            F.sum(F.when(hit & (F.col("pos") == 0), 1).otherwise(0))
            .cast("long")
            .alias("fp"),
            F.sum(F.when(~hit & (F.col("pos") == 1), 1).otherwise(0))
            .cast("long")
            .alias("fn"),
            F.sum(F.when(~hit & (F.col("pos") == 0), 1).otherwise(0))
            .cast("long")
            .alias("tn"),
        )

    out = conf(_CT_THRESHOLDS[0])
    for t in _CT_THRESHOLDS[1:]:
        out = out.unionByName(conf(t))
    return out.select(
        "threshold_cents",
        "tp",
        "fp",
        "fn",
        "tn",
        F.expr(
            "CAST(CASE WHEN tp + fp > 0 THEN tp * 1000000 DIV (tp + fp)"
            " ELSE 0 END AS BIGINT)"
        ).alias("precision_ppm"),
        F.expr(
            "CAST(CASE WHEN tp + fn > 0 THEN tp * 1000000 DIV (tp + fn)"
            " ELSE 0 END AS BIGINT)"
        ).alias("recall_ppm"),
        F.expr(
            "CAST(CASE WHEN 2 * tp + fp + fn > 0"
            " THEN 2 * tp * 1000000 DIV (2 * tp + fp + fn)"
            " ELSE 0 END AS BIGINT)"
        ).alias("f1_ppm"),
    ).orderBy("threshold_cents")


# ---------------------------------------------------------------------------
# x318 — t-closeness audit (variational distance per QI class)
# ---------------------------------------------------------------------------

_TC_ORACLE = """
WITH cell AS (
    SELECT c_nationkey AS qi, c_mktsegment AS sens,
           CAST(count(*) AS BIGINT) AS cnt
    FROM customer GROUP BY 1, 2
),
cls AS (
    SELECT qi, CAST(SUM(cnt) AS BIGINT) AS n_c FROM cell GROUP BY qi
),
gmarg AS (
    SELECT sens, CAST(SUM(cnt) AS BIGINT) AS g FROM cell GROUP BY sens
),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS nn FROM cell),
lattice AS (
    SELECT cls.qi, cls.n_c, tot.nn, gm.g,
           COALESCE(cell.cnt, 0) AS cell_cnt
    FROM gmarg gm
    CROSS JOIN cls
    CROSS JOIN tot
    LEFT JOIN cell ON cell.qi = cls.qi AND cell.sens = gm.sens
),
dev AS (
    SELECT qi, n_c, CAST(MAX(nn) AS BIGINT) AS nn,
           CAST(SUM(CASE WHEN cell_cnt * nn >= g * n_c
                    THEN cell_cnt * nn - g * n_c
                    ELSE g * n_c - cell_cnt * nn END) AS BIGINT) AS num
    FROM lattice GROUP BY qi, n_c
)
SELECT qi, n_c,
       CAST(num * 1000000 // (2 * n_c * nn) AS BIGINT) AS t_ppm
FROM dev
ORDER BY qi
"""


@q(
    "x318_t_closeness",
    "OP-G5-ext",
    "t-closeness audit per QI class (nation) against the sensitive "
    "attribute (market segment): variational distance t = "
    "(1/2) sum |p_i - q_i| in cross-multiplied exact integers "
    "(|cnt_ic*N - g_i*n_c| summed over the FULL sensitive lattice "
    "including absent cells, one exact ppm division). Closes the "
    "anonymity trio: x194's k says classes are big, x203's l says "
    "values are diverse, t says the in-class DISTRIBUTION doesn't "
    "leak (a class can pass k and l while being 90% one segment). "
    "Scale: one (qi, sens) cell agg, the lattice completion is "
    "|qi| x |sens| bounded, one exact rollup per class.",
    _TC_ORACLE,
)
def x318_t_closeness(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    cell = c.groupBy(
        F.col("c_nationkey").alias("qi"),
        F.col("c_mktsegment").alias("sens"),
    ).agg(F.count("*").cast("long").alias("cnt"))
    cls = cell.groupBy("qi").agg(F.sum("cnt").cast("long").alias("n_c"))
    glob = cell.groupBy("sens").agg(F.sum("cnt").cast("long").alias("g"))
    tot = cell.agg(F.sum("cnt").cast("long").alias("nn"))
    lattice = (
        glob.crossJoin(F.broadcast(cls))
        .crossJoin(F.broadcast(tot))
        .join(cell, ["qi", "sens"], "left")
        .select(
            "qi",
            "n_c",
            "nn",
            "g",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cell_cnt"),
        )
    )
    dev = lattice.groupBy("qi", "n_c").agg(
        F.sum(
            F.expr(
                "CASE WHEN cell_cnt * nn >= g * n_c"
                " THEN cell_cnt * nn - g * n_c"
                " ELSE g * n_c - cell_cnt * nn END"
            )
        )
        .cast("long")
        .alias("num"),
        F.max("nn").cast("long").alias("nn"),
    )
    return dev.select(
        "qi",
        "n_c",
        F.expr("CAST(num * 1000000 DIV (2 * n_c * nn) AS BIGINT)").alias(
            "t_ppm"
        ),
    ).orderBy("qi")


# ---------------------------------------------------------------------------
# x319 — Horvitz-Thompson total estimator audit (unequal-probability)
# ---------------------------------------------------------------------------

_HT_BIG_CENTS = 20_000_000  # >= 200k dollars: the high-value stratum

_HT_ORACLE = f"""
WITH marks AS (
    SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
           CASE WHEN CAST(round(o_totalprice * 100) AS BIGINT)
                     >= {_HT_BIG_CENTS} THEN 1 ELSE 0 END AS big,
           substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) AS h
    FROM orders
),
est AS (
    SELECT CAST(SUM(cents) AS BIGINT) AS true_cents,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN big = 1
                AND h IN ('0','1','2','3','4','5','6','7')
                THEN 1 ELSE 0 END) AS BIGINT) AS n_big_sampled,
           CAST(SUM(CASE WHEN big = 0 AND h IN ('0','1')
                THEN 1 ELSE 0 END) AS BIGINT) AS n_small_sampled,
           CAST(SUM(CASE WHEN big = 1
                AND h IN ('0','1','2','3','4','5','6','7')
                THEN cents * 2 ELSE 0 END)
              + SUM(CASE WHEN big = 0 AND h IN ('0','1')
                THEN cents * 8 ELSE 0 END) AS BIGINT) AS ht_cents
    FROM marks
)
SELECT true_cents, n_orders, n_big_sampled, n_small_sampled, ht_cents,
       CAST(CASE WHEN ht_cents >= true_cents
                 THEN (ht_cents - true_cents) * 1000000 // true_cents
                 ELSE -((true_cents - ht_cents) * 1000000 // true_cents)
            END AS BIGINT) AS err_ppm
FROM est WHERE true_cents > 0
"""


@q(
    "x319_horvitz_thompson",
    "OP-X9/G6-ext",
    "Horvitz-Thompson total-revenue estimator audit under "
    "deterministic unequal-probability sampling: high-value orders "
    "(>= 200k dollars) sampled at pi = 1/2 (md5 first hex 0-7), the "
    "rest at pi = 1/8 (hex 0-1), HT total = sum(cents/pi) as EXACT "
    "integer multiples (x2 / x8 — no float weights), signed error vs "
    "the exact truth in ppm (the x261 CASE idiom). THE design-based "
    "estimator behind every size-stratified data audit: x45/x250 "
    "SAMPLE; this says what the sample's reweighted total claims and "
    "how wrong it is. Scale: one map-side-combinable global agg over "
    "orders; no joins, no windows.",
    _HT_ORACLE,
)
def x319_horvitz_thompson(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    marks = o.select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        F.when(
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
            >= _HT_BIG_CENTS,
            1,
        )
        .otherwise(0)
        .alias("big"),
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1).alias(
            "h"
        ),
    )
    big_sampled = (F.col("big") == 1) & F.col("h").isin(*"01234567")
    small_sampled = (F.col("big") == 0) & F.col("h").isin("0", "1")
    est = marks.agg(
        F.sum("cents").cast("long").alias("true_cents"),
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.when(big_sampled, 1).otherwise(0))
        .cast("long")
        .alias("n_big_sampled"),
        F.sum(F.when(small_sampled, 1).otherwise(0))
        .cast("long")
        .alias("n_small_sampled"),
        (
            F.sum(F.when(big_sampled, F.col("cents") * 2).otherwise(0))
            + F.sum(F.when(small_sampled, F.col("cents") * 8).otherwise(0))
        )
        .cast("long")
        .alias("ht_cents"),
    )
    return est.filter(F.col("true_cents") > 0).select(
        "true_cents",
        "n_orders",
        "n_big_sampled",
        "n_small_sampled",
        "ht_cents",
        F.expr(
            "CAST(CASE WHEN ht_cents >= true_cents"
            " THEN (ht_cents - true_cents) * 1000000 DIV true_cents"
            " ELSE -((true_cents - ht_cents) * 1000000 DIV true_cents)"
            " END AS BIGINT)"
        ).alias("err_ppm"),
    )


# ---------------------------------------------------------------------------
# x320 — quantile treatment effects at the deciles (md5 50% split)
# ---------------------------------------------------------------------------

_QTE_ORACLE = """
WITH arms AS (
    SELECT CASE WHEN substr(md5(CAST(o_custkey AS VARCHAR)), 1, 1)
                IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE 0 END
               AS treated,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
           o_orderkey
    FROM orders
),
rk AS (
    SELECT treated, cents,
           row_number() OVER (PARTITION BY treated
               ORDER BY cents, o_orderkey) AS r,
           CAST(count(*) OVER (PARTITION BY treated) AS BIGINT) AS n
    FROM arms
),
dec AS (
    SELECT d.d, rk.treated, rk.cents
    FROM rk
    JOIN (SELECT unnest(range(1, 10)) AS d) d
      ON rk.r = CAST(ceil(CAST(d.d AS DOUBLE) / 10.0
                     * CAST(rk.n AS DOUBLE)) AS BIGINT)
)
SELECT CAST(t.d AS BIGINT) AS decile,
       t.cents AS q_treated_cents,
       c.cents AS q_control_cents,
       CAST(t.cents - c.cents AS BIGINT) AS qte_cents
FROM (SELECT * FROM dec WHERE treated = 1) t
JOIN (SELECT * FROM dec WHERE treated = 0) c ON t.d = c.d
ORDER BY decile
"""


@q(
    "x320_qte_deciles",
    "OP-W2/G6-ext",
    "Quantile treatment effects at the nine deciles for the "
    "deterministic md5 50% customer split: per-arm decile picks are "
    "EXACT ranks (ceil(d/10 * n), ties by orderkey — integer "
    "comparisons), QTE = treated minus control quantile in exact "
    "cents. The distributional view x225/x226's mean effects hide: "
    "a null mean with positive upper-decile QTEs is a whale effect, "
    "not a null. On the as-if-random md5 split every QTE must be "
    "~0 — making this simultaneously the estimator and its "
    "falsification harness (property-tested). Scale: arm-partitioned "
    "rank windows (2 partitions — the documented certifiable form; "
    "x219's bucketed rank is the scale path) + a 9-row decile join.",
    _QTE_ORACLE,
)
def x320_qte_deciles(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    arms = o.select(
        F.when(
            F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 1)
            .isin(*"01234567"),
            1,
        )
        .otherwise(0)
        .alias("treated"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        "o_orderkey",
    )
    wr = Window.partitionBy("treated").orderBy("cents", "o_orderkey")
    wn = Window.partitionBy("treated")
    rk = arms.select(
        "treated",
        "cents",
        F.row_number().over(wr).alias("r"),
        F.count("*").over(wn).cast("long").alias("n"),
    )
    dec = spark.range(1, 10).select(F.col("id").cast("long").alias("d"))
    picks = rk.crossJoin(F.broadcast(dec)).filter(
        F.col("r")
        == F.expr(
            "CAST(ceil(CAST(d AS DOUBLE) / 10.0 * CAST(n AS DOUBLE))"
            " AS BIGINT)"
        )
    )
    t = picks.filter(F.col("treated") == 1).select(
        F.col("d").alias("decile"), F.col("cents").alias("q_treated_cents")
    )
    ctl = picks.filter(F.col("treated") == 0).select(
        F.col("d").alias("decile"), F.col("cents").alias("q_control_cents")
    )
    return (
        t.join(ctl, "decile")
        .select(
            "decile",
            "q_treated_cents",
            "q_control_cents",
            (F.col("q_treated_cents") - F.col("q_control_cents"))
            .cast("long")
            .alias("qte_cents"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# x321 — Hill power-law exponent of the co-order degree distribution
# ---------------------------------------------------------------------------

_PL_TOPK = 100

_PL_ORACLE = f"""
WITH pk AS (
    {COORDER_PK_SQL}
),
e AS (
    {COORDER_EDGES_SQL}
),
und AS ({UNDIRECTED_SQL}),
deg AS (
    SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY u
),
top AS (
    SELECT node, d,
           row_number() OVER (ORDER BY d DESC, node) AS r
    FROM deg
    QUALIFY row_number() OVER (ORDER BY d DESC, node) <= {_PL_TOPK}
),
kd AS (SELECT d AS d_k FROM top WHERE r = {_PL_TOPK}),
terms AS (
    SELECT CAST(floor(1000000000.0
                * ln(CAST(top.d AS DOUBLE) / CAST(kd.d_k AS DOUBLE)))
                AS BIGINT) AS ln_nano
    FROM top CROSS JOIN kd
    WHERE top.r < {_PL_TOPK} AND top.d > kd.d_k
)
SELECT CAST(count(*) AS BIGINT) AS n_terms,
       CAST(SUM(ln_nano) AS BIGINT) AS sum_ln_nano,
       CAST(count(*) * 1000000000000 // SUM(ln_nano) AS BIGINT)
           AS alpha_milli
FROM terms
HAVING SUM(ln_nano) > 0
"""


@q(
    "x321_degree_powerlaw",
    "OP-X2/G6-ext",
    f"Hill power-law exponent of the co-order part-graph degree "
    f"distribution: top-{_PL_TOPK} degrees (desc, node tie-break), "
    "per-node ln(d/d_k) NANO-floored against the k-th degree so the "
    "tail sum is an exact BIGINT, alpha = n/sum in milli (the x254 "
    "estimator applied to GRAPH degrees). Whether the co-purchase "
    "network is scale-free decides every downstream graph choice: "
    "hub-dominated degrees break x246's label propagation and "
    "concentrate x43's PageRank mass — this is the one-number "
    "diagnosis. Scale: the x263 edge/degree aggregates + a bounded "
    "TakeOrdered top-100 frame; the estimator runs on 99 rows.",
    _PL_ORACLE,
)
def x321_degree_powerlaw(spark, sf_dir):
    und = undirected(coorder_edges(load_table(spark, sf_dir, "lineitem")))
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("long").alias("d")
    )
    top = (
        deg.orderBy(F.col("d").desc(), "node")
        .limit(_PL_TOPK)
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy().orderBy(F.col("d").desc(), "node")
            ),
        )
    )
    kd = top.filter(F.col("r") == _PL_TOPK).select(
        F.col("d").alias("d_k")
    )
    terms = (
        top.filter(F.col("r") < _PL_TOPK)
        .crossJoin(F.broadcast(kd))
        .filter(F.col("d") > F.col("d_k"))
        .select(
            F.expr(
                "CAST(floor(1000000000.0"
                " * ln(CAST(d AS DOUBLE) / CAST(d_k AS DOUBLE)))"
                " AS BIGINT)"
            ).alias("ln_nano")
        )
    )
    return (
        terms.agg(
            F.count("*").cast("long").alias("n_terms"),
            F.sum("ln_nano").cast("long").alias("sum_ln_nano"),
            F.expr(
                "CAST(count(*) * 1000000000000 DIV SUM(ln_nano)"
                " AS BIGINT)"
            ).alias("alpha_milli"),
        )
        .filter(F.col("sum_ln_nano") > 0)
    )


# ---------------------------------------------------------------------------
# x322 — Simpson diversity of the token distribution per source
# ---------------------------------------------------------------------------

# D = sum n_i(n_i-1) / (N(N-1)) — the collision probability; diversity
# = 1 - D. Numerator*1e6 overflows BIGINT at scale, so the ratio is
# one shared double chain floored to ppm over the exact sums.
_SD_PPM = (
    "CAST(floor(1000000.0 * CAST(coll AS DOUBLE)"
    " / (CAST(nn AS DOUBLE) * CAST(nn - 1 AS DOUBLE))) AS BIGINT)"
)

_SD_ORACLE = f"""
WITH tok AS (
    SELECT source, w FROM (
        SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ) WHERE w <> ''
),
wc AS (
    SELECT source, w, CAST(count(*) AS BIGINT) AS c
    FROM tok GROUP BY 1, 2
),
s AS (
    SELECT source, CAST(SUM(c) AS BIGINT) AS nn,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(SUM(c * (c - 1)) AS BIGINT) AS coll
    FROM wc GROUP BY source
)
SELECT source, nn AS n_tokens, n_types,
       {_SD_PPM} AS simpson_d_ppm,
       CAST(1000000 - {_SD_PPM} AS BIGINT) AS diversity_ppm
FROM s WHERE nn >= 2
ORDER BY source
"""


@q(
    "x322_simpson_diversity",
    "OP-X4-ext",
    "Simpson diversity of the token distribution per source: the "
    "collision probability D = sum n_i(n_i-1)/(N(N-1)) over exact "
    "BIGINT token counts (one shared IEEE ratio in ppm — the "
    "numerator is exact, only the final division is floating), "
    "diversity = 1 - D. The dominance-weighted companion of the "
    "entropy tier: x49/x121 weight all tokens log-equally, Simpson "
    "is driven by the HEAD — a source whose top token eats 30% of "
    "mass craters here first (boilerplate detector), and D is "
    "exactly the probability two random tokens collide (the "
    "dedup-relevant quantity). Scale: one (source, token) hash-agg "
    "with map-side partials, then a source rollup.",
    _SD_ORACLE,
)
def x322_simpson_diversity(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    wc = tok.groupBy("source", "w").agg(
        F.count("*").cast("long").alias("c")
    )
    s = wc.groupBy("source").agg(
        F.sum("c").cast("long").alias("nn"),
        F.count("*").cast("long").alias("n_types"),
        F.sum(F.expr("c * (c - 1)")).cast("long").alias("coll"),
    )
    return (
        s.filter(F.col("nn") >= 2)
        .select(
            "source",
            F.col("nn").alias("n_tokens"),
            "n_types",
            F.expr(_SD_PPM).alias("simpson_d_ppm"),
            F.expr(f"CAST(1000000 - {_SD_PPM} AS BIGINT)").alias(
                "diversity_ppm"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# x323 — log-rank test: reorder survival, BUILDING segment vs rest
# ---------------------------------------------------------------------------

# per gap bucket t: O-E = d1 - d*n1/n (nano-floored), hypergeometric
# variance v = d*(n1/n)*(1-n1/n)*((n-d)/(n-1)) (nano-floored); both
# sums exact BIGINT, z one shared chain.
_LR_E = (
    "CAST(floor(1000000000.0 * (CAST(d1 AS DOUBLE)"
    " - CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE)))"
    " AS BIGINT)"
)
_LR_V = (
    "CAST(floor(1000000000.0 * CAST(d AS DOUBLE)"
    " * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))"
    " * (1.0 - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))"
    " * (CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE))) AS BIGINT)"
)
_LR_Z = (
    "CAST(floor(1000.0 * (CAST(oe_nano AS DOUBLE) / 1000000000.0)"
    " / sqrt(CAST(v_nano AS DOUBLE) / 1000000000.0)) AS BIGINT)"
)

_LR_ORACLE = f"""
WITH seq AS (
    SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS grp,
           o.o_orderdate,
           lag(o.o_orderdate) OVER (PARTITION BY o.o_custkey
               ORDER BY o.o_orderdate, o.o_orderkey) AS prev_d
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
gaps AS (
    SELECT grp,
           least(CAST(floor(date_diff('day', prev_d, o_orderdate) / 30)
                 AS BIGINT), 12) AS bucket
    FROM seq WHERE prev_d IS NOT NULL
),
ev AS (
    SELECT bucket,
           CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS d1,
           CAST(count(*) AS BIGINT) AS d
    FROM gaps GROUP BY bucket
),
risk AS (
    SELECT bucket, d1, d,
           CAST(SUM(d1) OVER (ORDER BY bucket
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                AS BIGINT) AS n1,
           CAST(SUM(d) OVER (ORDER BY bucket
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                AS BIGINT) AS n
    FROM ev
),
terms AS (
    SELECT {_LR_E} AS e_nano, {_LR_V} AS vt_nano
    FROM risk WHERE n > 1 AND d > 0
),
s AS (
    SELECT CAST(SUM(e_nano) AS BIGINT) AS oe_nano,
           CAST(SUM(vt_nano) AS BIGINT) AS v_nano
    FROM terms
)
SELECT oe_nano, v_nano, {_LR_Z} AS z_milli
FROM s WHERE v_nano > 0
"""


@q(
    "x323_logrank_test",
    "OP-W4/G6-ext",
    "Log-rank test between the BUILDING segment's reorder-survival "
    "curve and everyone else's, over x285's 30-day gap buckets: "
    "per-bucket observed-minus-expected and hypergeometric variance "
    "NANO-floored from exact at-risk/event integers (suffix sums "
    "over the <=13-row bucket frame), both sums exact BIGINT, z one "
    "shared chain in milli. THE two-curve comparison x285 draws but "
    "cannot test — 'does this segment reorder slower' with censoring "
    "handled by construction, the survival complement of x168's "
    "Mann-Whitney. Scale: user-partitioned lag -> bucket agg; every "
    "window runs over the bounded bucket frame.",
    _LR_ORACLE,
)
def x323_logrank_test(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            F.when(F.col("c_mktsegment") == "BUILDING", 1)
            .otherwise(0)
            .alias("grp"),
            "o_orderdate",
            "o_custkey",
            "o_orderkey",
        )
        .select(
            "grp",
            "o_orderdate",
            F.lag("o_orderdate").over(w).alias("prev_d"),
        )
    )
    gaps = seq.filter(F.col("prev_d").isNotNull()).select(
        "grp",
        F.least(
            F.floor(
                F.datediff(
                    F.col("o_orderdate").cast("date"),
                    F.col("prev_d").cast("date"),
                )
                / 30
            ),
            F.lit(12).cast("long"),
        ).alias("bucket"),
    )
    ev = gaps.groupBy("bucket").agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("long")
        .alias("d1"),
        F.count("*").cast("long").alias("d"),
    )
    wS = Window.orderBy("bucket").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    risk = ev.select(
        "bucket",
        "d1",
        "d",
        F.sum("d1").over(wS).cast("long").alias("n1"),
        F.sum("d").over(wS).cast("long").alias("n"),
    )
    terms = risk.filter((F.col("n") > 1) & (F.col("d") > 0)).select(
        F.expr(_LR_E).alias("e_nano"), F.expr(_LR_V).alias("vt_nano")
    )
    s = terms.agg(
        F.sum("e_nano").cast("long").alias("oe_nano"),
        F.sum("vt_nano").cast("long").alias("v_nano"),
    )
    return s.filter(F.col("v_nano") > 0).select(
        "oe_nano", "v_nano", F.expr(_LR_Z).alias("z_milli")
    )


# ---------------------------------------------------------------------------
# x324 — intraclass correlation + design effect (customers as clusters)
# ---------------------------------------------------------------------------

# one-way random-effects ICC(1) with unbalanced clusters:
#   MSB = (sq - T^2/N)/(k-1), MSW = (S2 - sq)/(N-k),
#   k0 = (N - sn2/N)/(k-1),  ICC = (MSB-MSW)/(MSB+(k0-1)*MSW),
#   DEFF = 1 + (N/k - 1)*ICC
_ICC_MSB = (
    "((sq - CAST(t AS DOUBLE) * CAST(t AS DOUBLE) / CAST(nn AS DOUBLE))"
    " / CAST(kk - 1 AS DOUBLE))"
)
_ICC_MSW = "((CAST(s2 AS DOUBLE) - sq) / CAST(nn - kk AS DOUBLE))"
_ICC_K0 = (
    "((CAST(nn AS DOUBLE) - CAST(sn2 AS DOUBLE) / CAST(nn AS DOUBLE))"
    " / CAST(kk - 1 AS DOUBLE))"
)
_ICC_VAL = (
    f"(({_ICC_MSB} - {_ICC_MSW})"
    f" / ({_ICC_MSB} + ({_ICC_K0} - 1.0) * {_ICC_MSW}))"
)
_ICC_MILLI = f"CAST(floor(1000.0 * {_ICC_VAL}) AS BIGINT)"
_ICC_DEFF = (
    "CAST(floor(1000.0 * (1.0 + (CAST(nn AS DOUBLE) / CAST(kk AS DOUBLE)"
    f" - 1.0) * {_ICC_VAL})) AS BIGINT)"
)

_ICC_ORACLE = f"""
WITH y AS (
    SELECT o_custkey AS ck,
           CAST(round(o_totalprice * 100) AS BIGINT) // 100000 AS x
    FROM orders
),
grp AS (
    SELECT ck, CAST(count(*) AS BIGINT) AS n_i,
           CAST(SUM(x) AS BIGINT) AS s1,
           CAST(SUM(x * x) AS BIGINT) AS s2
    FROM y GROUP BY ck
),
tot AS (
    SELECT CAST(SUM(n_i) AS BIGINT) AS nn,
           CAST(count(*) AS BIGINT) AS kk,
           CAST(SUM(s1) AS BIGINT) AS t,
           CAST(SUM(s2) AS BIGINT) AS s2,
           CAST(SUM(n_i * n_i) AS BIGINT) AS sn2,
           SUM(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
               / CAST(n_i AS DOUBLE)) AS sq
    FROM grp
)
SELECT nn, kk, t, s2, sn2,
       CAST(floor(1000.0 * sq) AS BIGINT) AS sq_milli,
       {_ICC_MILLI} AS icc_milli,
       {_ICC_DEFF} AS design_effect_milli
FROM tot
WHERE kk >= 2 AND nn > kk AND {_ICC_MSB} + ({_ICC_K0} - 1.0) * {_ICC_MSW}
      > 0.0
"""


@q(
    "x324_icc_design_effect",
    "OP-G6-ext",
    "Intraclass correlation ICC(1) of order value within customers "
    "(one-way random effects, unbalanced-cluster k0 correction) plus "
    "the design effect 1 + (avg cluster - 1)*ICC, from exact "
    "kilodollar moment sums through one shared IEEE chain in milli. "
    "THE clustering number every customer-randomized experiment "
    "needs: x182 sizes tests assuming independent orders, but orders "
    "cluster within customers — DEFF is exactly how much to inflate "
    "x182's n, and a high ICC says order-level metrics are really "
    "customer-level. Scale: one customer-keyed moment agg (map-side "
    "partials), scalar algebra on the 1-row frame.",
    _ICC_ORACLE,
)
def x324_icc_design_effect(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    y = o.select(
        F.col("o_custkey").alias("ck"),
        F.expr(
            "CAST(round(o_totalprice * 100) AS BIGINT) DIV 100000"
        ).alias("x"),
    )
    grp = y.groupBy("ck").agg(
        F.count("*").cast("long").alias("n_i"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.expr("x * x")).cast("long").alias("s2"),
    )
    tot = grp.agg(
        F.sum("n_i").cast("long").alias("nn"),
        F.count("*").cast("long").alias("kk"),
        F.sum("s1").cast("long").alias("t"),
        F.sum("s2").cast("long").alias("s2"),
        F.sum(F.expr("n_i * n_i")).cast("long").alias("sn2"),
        F.sum(
            F.expr(
                "CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
                " / CAST(n_i AS DOUBLE)"
            )
        ).alias("sq"),
    )
    return tot.filter(
        (F.col("kk") >= 2)
        & (F.col("nn") > F.col("kk"))
        & (
            F.expr(f"{_ICC_MSB} + ({_ICC_K0} - 1.0) * {_ICC_MSW}") > 0.0
        )
    ).select(
        "nn",
        "kk",
        "t",
        "s2",
        "sn2",
        F.expr("CAST(floor(1000.0 * sq) AS BIGINT)").alias("sq_milli"),
        F.expr(_ICC_MILLI).alias("icc_milli"),
        F.expr(_ICC_DEFF).alias("design_effect_milli"),
    )


# ---------------------------------------------------------------------------
# x325 — customer-spend Gini per year + inequality trend
# ---------------------------------------------------------------------------

# Gini by the rank formula over exact kilodollar spend:
#   G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)),   x sorted asc.
# The ppm scaling runs in DOUBLE (numerator * 1e6 overflows BIGINT at
# 100x); double floor is sign-symmetric and engine-identical, unlike
# integer floor-vs-truncate.
_GT_GINI = (
    "CAST(floor(1000000.0 * (2.0 * CAST(six AS DOUBLE)"
    " - CAST(n + 1 AS DOUBLE) * CAST(sx AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))) AS BIGINT)"
)
_GT_SLOPE = (
    "(CAST(ny AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sxx1 AS DOUBLE) * CAST(sy1 AS DOUBLE))"
    " / (CAST(ny AS DOUBLE) * CAST(sxx2 AS DOUBLE)"
    " - CAST(sxx1 AS DOUBLE) * CAST(sxx1 AS DOUBLE))"
)

_GT_ORACLE = f"""
WITH spend AS (
    SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, o_custkey AS ck,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               // 100000 AS x
    FROM orders GROUP BY 1, 2
),
rk AS (
    SELECT yr, x,
           CAST(row_number() OVER (PARTITION BY yr ORDER BY x, ck)
                AS BIGINT) AS i
    FROM spend
),
g AS (
    SELECT yr, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(i * x) AS BIGINT) AS six
    FROM rk GROUP BY yr
),
gin AS (
    SELECT yr, n, {_GT_GINI} AS gini_ppm
    FROM g WHERE sx > 0 AND n >= 2
),
sl AS (
    SELECT CAST(count(*) AS BIGINT) AS ny,
           CAST(SUM(yr) AS BIGINT) AS sxx1,
           CAST(SUM(gini_ppm) AS BIGINT) AS sy1,
           CAST(SUM(yr * yr) AS BIGINT) AS sxx2,
           CAST(SUM(yr * gini_ppm) AS BIGINT) AS sxy
    FROM gin
)
SELECT gin.yr, gin.n AS n_customers, gin.gini_ppm,
       CAST(floor(1000.0 * ({_GT_SLOPE})) AS BIGINT)
           AS trend_ppm_per_year_milli
FROM gin CROSS JOIN sl
WHERE sl.ny >= 2 AND sl.ny * sl.sxx2 > sl.sxx1 * sl.sxx1
ORDER BY gin.yr
"""


@q(
    "x325_inequality_trend",
    "OP-G6/W2-ext",
    "Customer-spend Gini per order-year (rank formula over exact "
    "kilodollar spend, year-partitioned exact ranks, ppm through one "
    "shared double chain — the integer ppm numerator overflows at "
    "100x) plus the cross-year OLS inequality trend in "
    "ppm-per-year (one shared chain over the <=7-point year frame, "
    "broadcast onto every row). x115 gives ONE static Gini; revenue "
    "concentration DRIFTING up is the early warning that the "
    "business is becoming whale-dependent (and that x28-style caps "
    "will bind). Scale: year-customer agg -> year-partitioned rank "
    "windows over the customer aggregate (certifiable form; x219 "
    "bucketed rank is the scale path) -> 7-row Gini frame + 1-row "
    "slope broadcast.",
    _GT_ORACLE,
)
def x325_inequality_trend(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.col("o_custkey").alias("ck"),
    ).agg(
        F.expr(
            "CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
            " DIV 100000"
        ).alias("x")
    )
    wr = Window.partitionBy("yr").orderBy("x", "ck")
    rk = spend.select(
        "yr", "x", F.row_number().over(wr).cast("long").alias("i")
    )
    g = rk.groupBy("yr").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.expr("i * x")).cast("long").alias("six"),
    )
    gin = g.filter((F.col("sx") > 0) & (F.col("n") >= 2)).select(
        "yr", "n", F.expr(_GT_GINI).alias("gini_ppm")
    )
    sl = gin.agg(
        F.count("*").cast("long").alias("ny"),
        F.sum("yr").cast("long").alias("sxx1"),
        F.sum("gini_ppm").cast("long").alias("sy1"),
        F.sum(F.expr("yr * yr")).cast("long").alias("sxx2"),
        F.sum(F.expr("yr * gini_ppm")).cast("long").alias("sxy"),
    )
    return (
        gin.crossJoin(F.broadcast(sl))
        .filter(
            (F.col("ny") >= 2)
            & (F.col("ny") * F.col("sxx2") > F.col("sxx1") * F.col("sxx1"))
        )
        .select(
            "yr",
            F.col("n").alias("n_customers"),
            "gini_ppm",
            F.expr(
                f"CAST(floor(1000.0 * ({_GT_SLOPE})) AS BIGINT)"
            ).alias("trend_ppm_per_year_milli"),
        )
        .orderBy("yr")
    )
