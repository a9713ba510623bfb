"""Catalog entries x127-x143: graph peeling, information measures,
cohort and growth accounting, price and latency distributions.

* ``x127_kcore_peel`` — k-core decomposition (k=3) of the weight>=2
  co-order part graph by 12 unrolled peel rounds (drop degree<k,
  recompute, repeat): Spark iterates join+agg rounds, DuckDB runs the
  same 12 rounds as literal unrolled CTEs — the x101 fixed-iteration
  certification pattern applied to graph peeling (both engines always
  agree because they run the SAME round count; a pytest asserts the
  fixed point is actually reached at sf0.01, where peeling cascades
  through 10 rounds).
* ``x128_mutual_information`` — pointwise and expected mutual
  information between document language and source over observed
  contingency cells (pmi = ln(n*N/(R*C)) on exact-integer operands,
  the x49 round(ln,8) convention) — the information-theoretic
  companion of x116's chi-square and x121's entropy.
* ``x129_cohort_ltv`` — the customer-LTV triangle: cohort = month of
  first order, per (cohort, age) cell active customers and exact-cents
  revenue, cumulative revenue over age, and LTV-per-customer in exact
  integer micro-cents (x119's two-step floor division). Windows run
  over the cohort x age aggregate (months^2 cells).
* ``x130_lorenz_deciles`` — per-source Lorenz curve: docs ranked by
  length within source, decile = ceil(10*i/n) as exact integers, and
  the cumulative length share per decile — the curve whose area x115
  summarizes as the Gini scalar.
* ``x131_funnel_latency`` — time-to-convert: per user the x36 strict
  stepwise funnel timestamps (first view, first click after it, first
  purchase after that), then per step-pair conversion counts and
  p50/p90 latency seconds via exact rank picks.

Batch 2:

* ``x132_segment_migration`` — monetary-quartile transition matrix
  1995 -> 1996 (x111's cube turned into a flow).
* ``x133_shipmode_latency`` — lead-time p50/p90/p99 + late fraction
  per mode group (round7's derived commit/receipt dates).
* ``x134_hhi_revenue`` — per-nation Herfindahl revenue concentration
  from exact DECIMAL moment sums.
* ``x135_weekday_index`` — day-of-week revenue index with PORTABLE
  dow arithmetic (days-since-a-known-Monday mod 7 — engine
  dayofweek() functions disagree on origin and range).
* ``x136_discount_bands`` — discount-band pricing impact with the q1
  decimal-exact double-sum convention.

Batch 3:

* ``x137_share_of_total`` — the BI ratio_to_report primitive: nation
  revenue share within region and of the grand total (windows over
  the 25-row nation aggregate).
* ``x138_volatility_bands`` — trailing-6-month 2-sigma band breaches
  decided ENTIRELY in cleared-denominator integer form
  ((k*y - S1)^2 > 4*(k*S2 - S1^2)) — no sqrt, no float compare.
* ``x139_new_vs_returning`` — monthly growth accounting: customers,
  orders and cents split new vs returning.
* ``x140_char_trigram_profile`` — per-language top-20 character
  trigram profiles (the artifact n-gram lang-id models train on;
  WindowGroupLimit plan shape).

Batch 4:

* ``x141_penny_allocation`` — largest-remainder (Hamilton) proration
  of header totals down to lineitems, all-integer, certified by
  per-order conservation (allocated == header for every order).
* ``x142_last_touch_attribution`` — purchases credited to the most
  recent non-purchase touch within a 7-day lookback (asof-join shape
  keyed on user), explicit 'unattributed' bucket so value totals the
  ledger.
* ``x143_qhist_portable`` — the oracle-certified fixed-bin quantile
  sketch: pure-integer bin geometry (cents DIV 65536), cumulative
  picks at exact ranks over <=1024 bin rows per group.

Hash-parity conventions as plans/queries.py.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ravelytics_spark.operators.graph import (
    coorder_edges,
    maybe_broadcast,
    undirected,
)
from ravelytics_spark.plans.frames import (
    COORDER_GRAPH_CTES,
    MONTHLY_REVENUE_CTE,
    monthly_revenue,
)
from ravelytics_spark.plans.registry import q
from ravelytics_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# x127 — k-core peel of the weight>=2 co-order part graph
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 12


def _kcore_ctes() -> str:
    # Every CTE is MATERIALIZED: DuckDB inlines plain CTEs at each
    # reference, and d_r references a_{r-1} TWICE — unmaterialized,
    # the 12-round chain expands 2^12 copies of the co-order self-join
    # (observed as a too-many-open-files explosion on the lineitem
    # view). Materialization makes each round run exactly once — the
    # same linear-lineage discipline the Spark side gets from its
    # localCheckpoints.
    parts = []
    prev = "a0"
    for r in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f"d{r} AS MATERIALIZED (SELECT e.u AS n, CAST(count(*) AS BIGINT) AS d\n"
            f"          FROM und e JOIN {prev} x ON e.u = x.n\n"
            f"                     JOIN {prev} y ON e.v = y.n GROUP BY e.u)"
        )
        parts.append(
            f"a{r} AS MATERIALIZED (SELECT n FROM d{r} WHERE d >= {_KCORE_K})"
        )
        prev = f"a{r}"
    return ",\n".join(parts)


_KCORE_ORACLE = f"""
WITH {COORDER_GRAPH_CTES},
a0 AS MATERIALIZED (SELECT DISTINCT u AS n FROM und),
{_kcore_ctes()}
SELECT n AS part, d AS core_degree
FROM d{_KCORE_ROUNDS} WHERE d >= {_KCORE_K}
ORDER BY part
"""


@q(
    "x127_kcore_peel",
    "OP-X2-ext",
    "k-core decomposition (k=3) of the weight>=2 co-order part graph "
    "(parts bought together in at least two distinct orders — the "
    "repeat-co-purchase backbone): 12 rounds of peel-and-recompute "
    "(drop nodes with degree < k among still-alive nodes), emitting "
    "the surviving core with its within-core degrees. The iterative "
    "form certified against 12 literally-unrolled DuckDB CTE rounds — "
    "the x101 fixed-round contract for graph algorithms (engines "
    "always agree because they run the same round count; the pytest "
    "fixed-point check proves 12 rounds suffice at the certification "
    "SF, where the cascade needs 10). Scale: each round is two "
    "node-keyed semi-joins + one degree agg over the CHECKPOINTED "
    "edge list (the expensive co-order self-join runs once); per-node "
    "state is one degree. Early fixed-point exit: the alive set "
    "shrinks monotonically (round r's survivors are a subset of round "
    "r-1's), so an unchanged COUNT between consecutive rounds proves "
    "the set itself is unchanged and every remaining round would "
    "recompute the identical degree table — the loop stops there, "
    "bit-identical to the full 12-round unroll (pytest-proved), and "
    "the count action is free because the alive set is already "
    "eagerly checkpointed.",
    _KCORE_ORACLE,
)
def x127_kcore_peel(spark, sf_dir, early_exit: bool = True):
    e = coorder_edges(load_table(spark, sf_dir, "lineitem"))
    # referenced every round x 12 rounds
    und = undirected(e).localCheckpoint(eager=True)
    alive = und.select(F.col("u").alias("n")).distinct()
    deg = None
    prev_n = None
    for _ in range(_KCORE_ROUNDS):
        # checkpoint the (tiny) alive set: it feeds both joins of the
        # round — without the cut the lineage doubles every round (the
        # x101 lesson). With early_exit the checkpoint is LAZY and the
        # count() materializes it — one job per round, not two.
        alive = alive.localCheckpoint(eager=not early_exit)
        if early_exit:
            n = alive.count()
            if prev_n is not None and n == prev_n:
                # alive_r == alive_{r-1} (monotone shrink + equal
                # count), so deg is already the fixed point every
                # remaining round would reproduce.
                break
            prev_n = n
            # n is exact, so the join strategy is picked from data, not
            # estimates (guide §3.1): below the budget the alive set
            # broadcasts and the round's edge pass is map-only.
            al = maybe_broadcast(alive, 16 * n)
        else:
            al = alive
        # r12 one-pass round (guide §2.3/§2.4): count v-alive neighbors
        # per u over the FULL edge list, then keep u-alive rows by one
        # semi-join on the NODE-sized aggregate — identical d table to
        # the old both-sides-first form (rows with dead u are the only
        # ones dropped, and they were dropped before aggregation), but
        # the 2·|E| frame is probed once per round instead of twice and
        # never re-exchanged when the alive set broadcasts.
        cnt = (
            und.join(al, und.v == al["n"], "left_semi")
            .groupBy("u")
            .agg(F.count("*").cast("long").alias("d"))
        )
        deg = cnt.join(al, cnt["u"] == al["n"], "left_semi")
        alive = deg.filter(F.col("d") >= _KCORE_K).select(F.col("u").alias("n"))
    return (
        deg.filter(F.col("d") >= _KCORE_K)
        .select(F.col("u").alias("part"), F.col("d").alias("core_degree"))
        .orderBy("part")
    )


# ---------------------------------------------------------------------------
# x128 — mutual information between language and source
# ---------------------------------------------------------------------------

_MI_ORACLE = """
WITH o AS (
    SELECT lang, source, CAST(count(*) AS BIGINT) AS n
    FROM documents GROUP BY lang, source
),
r AS (SELECT lang, CAST(sum(n) AS BIGINT) AS rn FROM o GROUP BY lang),
c AS (SELECT source, CAST(sum(n) AS BIGINT) AS cn FROM o GROUP BY source),
t AS (SELECT CAST(sum(n) AS BIGINT) AS tn FROM o)
SELECT lang, source, n,
       round(ln(CAST(n AS DOUBLE) * CAST(tn AS DOUBLE)
                / (CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE))), 8) AS pmi,
       round((CAST(n AS DOUBLE) / CAST(tn AS DOUBLE))
             * round(ln(CAST(n AS DOUBLE) * CAST(tn AS DOUBLE)
                        / (CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE))), 8), 8)
           AS mi_term
FROM o JOIN r USING (lang) JOIN c USING (source), t
ORDER BY lang, source
"""


@q(
    "x128_mutual_information",
    "OP-G6-ext",
    "Pointwise and expected mutual information between document "
    "language and source over observed contingency cells: pmi = "
    "ln(n*N/(R*C)) with every operand an exact BIGINT cast to double "
    "(identical IEEE inputs -> identical libm output, the x49 "
    "round(ln,8) convention), mi_term = p*pmi per cell (the global MI "
    "is their sum). Zero cells contribute 0 to MI by definition, so "
    "unlike x116's chi-square the observed-cell join IS the full "
    "statistic. The information-theoretic companion to x116 "
    "(significance) and x121 (diversity) in a corpus-mix report; all "
    "marginals from one map-side-combined agg over "
    "|langs|x|sources| cells.",
    _MI_ORACLE,
)
def x128_mutual_information(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    o = d.groupBy("lang", "source").agg(F.count("*").cast("long").alias("n"))
    r = o.groupBy("lang").agg(F.sum("n").cast("long").alias("rn"))
    c = o.groupBy("source").agg(F.sum("n").cast("long").alias("cn"))
    t = o.agg(F.sum("n").cast("long").alias("tn"))
    cells = (
        o.join(F.broadcast(r), "lang")
        .join(F.broadcast(c), "source")
        .crossJoin(F.broadcast(t))
    )
    pmi = F.round(
        F.log(
            F.col("n").cast("double")
            * F.col("tn").cast("double")
            / (F.col("rn").cast("double") * F.col("cn").cast("double"))
        ),
        8,
    )
    p = F.col("n").cast("double") / F.col("tn").cast("double")
    return cells.select(
        "lang",
        "source",
        "n",
        pmi.alias("pmi"),
        F.round(p * pmi, 8).alias("mi_term"),
    ).orderBy("lang", "source")


# ---------------------------------------------------------------------------
# x129 — cohort LTV triangle
# ---------------------------------------------------------------------------

_LTV_ORACLE = """
WITH f AS (
    SELECT o_custkey,
           CAST(date_trunc('month', min(o_orderdate)) AS DATE) AS cohort
    FROM orders GROUP BY o_custkey
),
base AS (
    SELECT f.cohort,
           (year(o.o_orderdate) * 12 + month(o.o_orderdate))
             - (year(f.cohort) * 12 + month(f.cohort)) AS age,
           o.o_custkey,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
    FROM orders o JOIN f ON o.o_custkey = f.o_custkey
),
cell AS (
    SELECT cohort, CAST(age AS BIGINT) AS age,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_active,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM base GROUP BY cohort, age
),
size_ AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size FROM f GROUP BY cohort),
cum AS (
    SELECT cohort, age, n_active, revenue_cents,
           SUM(revenue_cents) OVER (PARTITION BY cohort ORDER BY age
                                    ROWS UNBOUNDED PRECEDING) AS cum_cents
    FROM cell
)
SELECT cum.cohort AS cohort, age, n_active, revenue_cents,
       CAST(cum_cents AS BIGINT) AS cum_revenue_cents, cohort_size,
       CAST((cum_cents // cohort_size) * 1000000
            + ((cum_cents % cohort_size) * 1000000) // cohort_size AS BIGINT)
           AS ltv_micros
FROM cum JOIN size_ ON cum.cohort = size_.cohort
ORDER BY cum.cohort, age
"""


@q(
    "x129_cohort_ltv",
    "OP-G3/W4/D1-ext",
    "Customer-LTV triangle: cohort = calendar month of each customer's "
    "FIRST order, then per (cohort, months-since) cell the active "
    "customers, exact-cents revenue, running cumulative revenue, and "
    "cumulative LTV per cohort customer in exact integer MICRO-cents "
    "(x119's two-step floor division — no float divide in the "
    "certified columns). The subscription/retention-economics staple "
    "(x37 counts retained users; this follows the money). Scale: "
    "first-order and cell aggs are custkey/cohort-keyed with map-side "
    "combine; the cumulative window runs over the cohort x age "
    "aggregate (months^2 cells, independent of order volume), and the "
    "same cohort-ordered window reads each cohort's size as its age-0 "
    "active count (a first order falls in its cohort month), so no "
    "cohort-size aggregate or join runs.",
    _LTV_ORACLE,
)
def x129_cohort_ltv(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    f = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).cast("date").alias("cohort")
    )
    idx = lambda col: F.year(col) * 12 + F.month(col)  # noqa: E731
    base = o.join(f, "o_custkey").select(
        "cohort",
        (idx(F.col("o_orderdate")) - idx(F.col("cohort"))).cast("long").alias("age"),
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cell = base.groupBy("cohort", "age").agg(
        F.countDistinct("o_custkey").cast("long").alias("n_active"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )
    wC = Window.partitionBy("cohort").orderBy("age").rowsBetween(
        Window.unboundedPreceding, 0
    )
    # cohort_size == n_active at age 0: a customer's FIRST order is by
    # construction in their cohort month, so every cohort member is
    # active in the age-0 cell (and every cohort has one). first() over
    # the same cohort-ordered window that builds cum_cents therefore
    # yields the cohort size from the triangle itself — one Window
    # operator computes both, replacing the r12 plan's SECOND
    # consumption of f (the orders scan + first-order agg subtree ran
    # twice: once under the base join, once under the broadcast
    # cohort-size agg) and the broadcast join that re-attached it.
    # Oracle-verified byte-identical (the DuckDB twin keeps the
    # explicit size_ CTE).
    cum = cell.select(
        "*",
        F.sum("revenue_cents").over(wC).alias("cum_cents"),
        F.first("n_active").over(wC).alias("cohort_size"),
    )
    ltv = F.expr(
        "CAST((cum_cents DIV cohort_size) * 1000000"
        " + ((cum_cents % cohort_size) * 1000000) DIV cohort_size AS BIGINT)"
    )
    return (
        cum
        .select(
            "cohort",
            "age",
            "n_active",
            "revenue_cents",
            F.col("cum_cents").cast("long").alias("cum_revenue_cents"),
            "cohort_size",
            ltv.alias("ltv_micros"),
        )
        .orderBy("cohort", "age")
    )


# ---------------------------------------------------------------------------
# x130 — per-source Lorenz deciles of document length
# ---------------------------------------------------------------------------

_LORENZ_ORACLE = """
WITH r AS (
    SELECT source, n_chars,
           row_number() OVER (PARTITION BY source
                              ORDER BY n_chars, doc_id) AS i,
           count(*) OVER (PARTITION BY source) AS n
    FROM documents
),
dec AS (
    SELECT source, (10 * i + n - 1) // n AS decile,
           n_chars
    FROM r
),
cell AS (
    SELECT source, CAST(decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM dec GROUP BY source, decile
),
tot AS (SELECT source, CAST(sum(chars) AS BIGINT) AS total FROM cell GROUP BY source)
SELECT cell.source AS source, decile, n_docs, chars,
       CAST(SUM(chars) OVER (PARTITION BY cell.source ORDER BY decile
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_chars,
       round(CAST(SUM(chars) OVER (PARTITION BY cell.source ORDER BY decile
                                   ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / CAST(total AS DOUBLE), 8) AS cum_share
FROM cell JOIN tot ON cell.source = tot.source
ORDER BY cell.source, decile
"""


@q(
    "x130_lorenz_deciles",
    "OP-W-ext/OP-G6",
    "Per-source Lorenz curve of document length: docs ranked "
    "ascending within source (tie-broken total), decile = "
    "ceil(10*i/n) computed as the exact integer (10i+n-1) DIV n, then "
    "per-decile doc counts, char mass, and cumulative share (exact "
    "BIGINT operands, one IEEE divide rounded to 8). The curve whose "
    "area x115 reports as the Gini scalar — together they are the "
    "corpus length-concentration report. Same scale shape as x115: "
    "a per-source rank window (the documented few-sources caveat), "
    "then everything runs over 10 rows per source.",
    _LORENZ_ORACLE,
)
def x130_lorenz_deciles(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    wS = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wN = Window.partitionBy("source")
    r = d.select(
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.row_number().over(wS).cast("long").alias("i"),
        F.count("*").over(wN).cast("long").alias("n"),
    )
    dec = r.select(
        "source",
        F.expr("(10 * i + n - 1) DIV n").cast("long").alias("decile"),
        "n_chars",
    )
    cell = dec.groupBy("source", "decile").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )
    tot = cell.groupBy("source").agg(F.sum("chars").cast("long").alias("total"))
    wD = Window.partitionBy("source").orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = F.sum("chars").over(wD)
    return (
        cell.join(F.broadcast(tot), "source")
        .select(
            "source",
            "decile",
            "n_docs",
            "chars",
            cum.cast("long").alias("cum_chars"),
            F.round(cum.cast("double") / F.col("total").cast("double"), 8).alias(
                "cum_share"
            ),
        )
        .orderBy("source", "decile")
    )


# ---------------------------------------------------------------------------
# x131 — funnel step latency (time-to-convert)
# ---------------------------------------------------------------------------

_FUNNEL_LAT_ORACLE = """
WITH s1 AS (
    SELECT user_id, min(ts) AS t1 FROM events
    WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
    SELECT e.user_id, min(e.ts) AS t2 FROM events e
    JOIN s1 ON e.user_id = s1.user_id
    WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id
),
s3 AS (
    SELECT e.user_id, min(e.ts) AS t3 FROM events e
    JOIN s2 ON e.user_id = s2.user_id
    WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id
),
lat AS (
    SELECT 'view_to_click' AS step, s1.user_id,
           CAST(date_diff('second', s1.t1, s2.t2) AS BIGINT) AS lat_s
    FROM s1 JOIN s2 ON s1.user_id = s2.user_id
    UNION ALL
    SELECT 'click_to_purchase', s2.user_id,
           CAST(date_diff('second', s2.t2, s3.t3) AS BIGINT)
    FROM s2 JOIN s3 ON s2.user_id = s3.user_id
    UNION ALL
    SELECT 'view_to_purchase', s1.user_id,
           CAST(date_diff('second', s1.t1, s3.t3) AS BIGINT)
    FROM s1 JOIN s3 ON s1.user_id = s3.user_id
),
r AS (
    SELECT step, lat_s,
           row_number() OVER (PARTITION BY step ORDER BY lat_s, user_id) AS i,
           count(*) OVER (PARTITION BY step) AS n
    FROM lat
)
SELECT step, CAST(max(n) AS BIGINT) AS n_users,
       CAST(max(CASE WHEN i = (n + 1) // 2 THEN lat_s END) AS BIGINT) AS p50_s,
       CAST(max(CASE WHEN i = (9 * n + 9) // 10 THEN lat_s END) AS BIGINT) AS p90_s
FROM r GROUP BY step ORDER BY step
"""


@q(
    "x131_funnel_latency",
    "OP-G1/J3/W-ext",
    "Time-to-convert: per user the x36 strict stepwise funnel "
    "timestamps (first view, first click strictly after it, first "
    "purchase strictly after that — identical stepwise "
    "conditional-min joins), then per step-pair the converted-user "
    "count and p50/p90 latency in whole seconds (instant diffs, "
    "timezone-free) via exact rank picks under a total (latency, "
    "user) order. Completes the funnel pair: x36 reports HOW MANY "
    "convert, this reports HOW FAST. All joins/aggs are user-keyed "
    "and monotonically shrinking; the quantile windows partition on "
    "the 3 step labels over converted users only.",
    _FUNNEL_LAT_ORACLE,
)
def x131_funnel_latency(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2.select("user_id", "t2"), "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    sec = lambda a, b: (  # noqa: E731
        F.unix_timestamp(b) - F.unix_timestamp(a)
    ).cast("long")
    lat = (
        s1.join(s2, "user_id")
        .select(
            F.lit("view_to_click").alias("step"),
            "user_id",
            sec(F.col("t1"), F.col("t2")).alias("lat_s"),
        )
        .unionByName(
            s2.join(s3, "user_id").select(
                F.lit("click_to_purchase").alias("step"),
                "user_id",
                sec(F.col("t2"), F.col("t3")).alias("lat_s"),
            )
        )
        .unionByName(
            s1.join(s3, "user_id").select(
                F.lit("view_to_purchase").alias("step"),
                "user_id",
                sec(F.col("t1"), F.col("t3")).alias("lat_s"),
            )
        )
    )
    wP = Window.partitionBy("step").orderBy("lat_s", "user_id")
    wN = Window.partitionBy("step")
    r = lat.select(
        "step",
        "lat_s",
        F.row_number().over(wP).cast("long").alias("i"),
        F.count("*").over(wN).cast("long").alias("n"),
    )

    def pick(rank_expr, name):
        return F.max(
            F.when(F.col("i") == F.expr(rank_expr), F.col("lat_s"))
        ).cast("long").alias(name)

    return (
        r.groupBy("step")
        .agg(
            F.max("n").cast("long").alias("n_users"),
            pick("(n + 1) DIV 2", "p50_s"),
            pick("(9 * n + 9) DIV 10", "p90_s"),
        )
        .orderBy("step")
    )


# ===========================================================================
# Batch 2: x132-x136
# ===========================================================================


# ---------------------------------------------------------------------------
# x132 — monetary-quartile migration between two years
# ---------------------------------------------------------------------------

_MIGRATION_ORACLE = """
WITH cy AS (
    SELECT o_custkey, year(o_orderdate) AS y,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders WHERE year(o_orderdate) IN (1995, 1996)
    GROUP BY o_custkey, y
),
q AS (
    SELECT o_custkey, y, cents,
           ntile(4) OVER (PARTITION BY y ORDER BY cents DESC, o_custkey) AS mq
    FROM cy
)
SELECT CAST(a.mq AS BIGINT) AS from_q, CAST(b.mq AS BIGINT) AS to_q,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(a.cents) AS BIGINT) AS cents_1995,
       CAST(sum(b.cents) AS BIGINT) AS cents_1996
FROM q a JOIN q b ON a.o_custkey = b.o_custkey AND a.y = 1995 AND b.y = 1996
GROUP BY a.mq, b.mq
ORDER BY from_q, to_q
"""


@q(
    "x132_segment_migration",
    "OP-W-ext/OP-J2",
    "Customer-segment migration matrix: monetary quartile (ntile(4) "
    "on exact-cents yearly spend, TOTAL tie-broken order) in 1995 vs "
    "1996, joined per customer — the segment-transition report that "
    "turns x111's static RFM cube into a flow (who moved up, who "
    "churned down). Output is the 4x4 lattice with customer counts "
    "and exact cents on both sides. The ntiles run over the "
    "customer-year aggregate (x111's documented scale shape); the "
    "migration join is custkey-keyed.",
    _MIGRATION_ORACLE,
)
def x132_segment_migration(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    cy = (
        o.filter(F.year("o_orderdate").isin(1995, 1996))
        .groupBy("o_custkey", F.year("o_orderdate").alias("y"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    wY = Window.partitionBy("y").orderBy(F.desc("cents"), "o_custkey")
    q = cy.withColumn("mq", F.ntile(4).over(wY))
    a = q.filter(F.col("y") == 1995).select(
        "o_custkey", F.col("mq").alias("from_q"), F.col("cents").alias("c95")
    )
    b = q.filter(F.col("y") == 1996).select(
        "o_custkey", F.col("mq").alias("to_q"), F.col("cents").alias("c96")
    )
    return (
        a.join(b, "o_custkey")
        .groupBy(
            F.col("from_q").cast("long").alias("from_q"),
            F.col("to_q").cast("long").alias("to_q"),
        )
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum("c95").cast("long").alias("cents_1995"),
            F.sum("c96").cast("long").alias("cents_1996"),
        )
        .orderBy("from_q", "to_q")
    )


# ---------------------------------------------------------------------------
# x133 — ship→receipt latency quantiles per ship mode
# ---------------------------------------------------------------------------

_SHIPLAT_ORACLE = """
WITH c AS (
    SELECT l_returnflag AS mode_grp,
           CAST((l_orderkey * 17 + l_linenumber * 13) % 30 + 1 AS BIGINT) AS lag_d,
           CASE WHEN (l_orderkey * 17 + l_linenumber * 13) % 30 + 1
                   > (l_orderkey * 31 + l_linenumber * 7) % 60 - 30
                THEN 1 ELSE 0 END AS late,
           l_orderkey, l_linenumber
    FROM lineitem
),
r AS (
    SELECT mode_grp, lag_d, late,
           row_number() OVER (PARTITION BY mode_grp
                              ORDER BY lag_d, l_orderkey, l_linenumber) AS i,
           count(*) OVER (PARTITION BY mode_grp) AS n
    FROM c
)
SELECT mode_grp, CAST(max(n) AS BIGINT) AS n_items,
       CAST(max(CASE WHEN i = (n + 1) // 2 THEN lag_d END) AS BIGINT) AS p50_days,
       CAST(max(CASE WHEN i = (9 * n + 9) // 10 THEN lag_d END) AS BIGINT) AS p90_days,
       CAST(max(CASE WHEN i = (99 * n + 99) // 100 THEN lag_d END) AS BIGINT) AS p99_days,
       CAST(sum(late) AS BIGINT) AS n_late,
       round(CAST(sum(late) AS DOUBLE) / CAST(max(n) AS DOUBLE), 8) AS late_frac
FROM r GROUP BY mode_grp ORDER BY mode_grp
"""


@q(
    "x133_shipmode_latency",
    "OP-G6/OP-W-ext",
    "Logistics lead-time report: ship->receipt lag in whole days per "
    "mode group with exact type-1 rank-pick p50/p90/p99 (the "
    "x124/x126 zero-divide quantile form on pure integer day offsets) "
    "plus the late-delivery count and fraction (receipt after commit, "
    "one IEEE divide). Uses the round7 q12/q21 derivation — the "
    "testdata lineitem carries no shipmode/commit/receipt columns, so "
    "commit/receipt are the same bounded integer-mod day offsets and "
    "l_returnflag stands in for the mode, the established precedent. "
    "q12 counts late lines; this adds the latency distribution a "
    "capacity planner reads. Per-group windows partition on the 3 "
    "mode groups over a 4-column projection.",
    _SHIPLAT_ORACLE,
)
def x133_shipmode_latency(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    receipt_off = (
        (F.col("l_orderkey") * 17 + F.col("l_linenumber") * 13) % 30 + 1
    ).cast("long")
    commit_off = (
        (F.col("l_orderkey") * 31 + F.col("l_linenumber") * 7) % 60 - 30
    ).cast("long")
    c = li.select(
        F.col("l_returnflag").alias("mode_grp"),
        receipt_off.alias("lag_d"),
        F.when(receipt_off > commit_off, 1).otherwise(0).alias("late"),
        "l_orderkey",
        "l_linenumber",
    )
    wP = Window.partitionBy("mode_grp").orderBy(
        "lag_d", "l_orderkey", "l_linenumber"
    )
    wN = Window.partitionBy("mode_grp")
    r = c.select(
        "mode_grp",
        "lag_d",
        "late",
        F.row_number().over(wP).cast("long").alias("i"),
        F.count("*").over(wN).cast("long").alias("n"),
    )

    def pick(rank_expr, name):
        return F.max(
            F.when(F.col("i") == F.expr(rank_expr), F.col("lag_d"))
        ).cast("long").alias(name)

    return (
        r.groupBy("mode_grp")
        .agg(
            F.max("n").cast("long").alias("n_items"),
            pick("(n + 1) DIV 2", "p50_days"),
            pick("(9 * n + 9) DIV 10", "p90_days"),
            pick("(99 * n + 99) DIV 100", "p99_days"),
            F.sum("late").cast("long").alias("n_late"),
            F.round(
                F.sum("late").cast("double") / F.max("n").cast("double"), 8
            ).alias("late_frac"),
        )
        .orderBy("mode_grp")
    )


# ---------------------------------------------------------------------------
# x134 — per-nation customer-revenue HHI concentration
# ---------------------------------------------------------------------------

_HHI_ORACLE = """
WITH cr AS (
    SELECT c_nationkey,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey, o_custkey
),
s AS (
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n_customers,
           SUM(CAST(v AS DECIMAL(38,0))) AS tot,
           SUM(CAST(v AS DECIMAL(19,0)) * v) AS sumsq
    FROM cr GROUP BY c_nationkey
)
SELECT n_name, n_customers, CAST(tot AS BIGINT) AS revenue_cents,
       round(CAST(sumsq AS DOUBLE)
             / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)), 8) AS hhi
FROM s JOIN nation ON c_nationkey = n_nationkey
ORDER BY n_name
"""


@q(
    "x134_hhi_revenue",
    "OP-G6-ext",
    "Herfindahl-Hirschman revenue concentration per nation: HHI = "
    "sum(v_i^2)/(sum v_i)^2 over per-customer exact-cents revenue — "
    "1/n_customers when spend is uniform, ->1 when one customer "
    "dominates. The market-concentration dial that complements x115's "
    "Gini (dispersion) and x112's ABC (classification): squares and "
    "sums stay exact DECIMAL (v^2 up to ~1e18 would sit at BIGINT's "
    "edge; DECIMAL(38) has 20 digits of headroom), one IEEE divide at "
    "the end. Two map-side-combined aggs (customer cents, then "
    "nation moments); the nation dim joins broadcast.",
    _HHI_ORACLE,
)
def x134_hhi_revenue(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    cr = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("v")
        )
    )
    s = cr.groupBy("c_nationkey").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("tot"),
        F.sum(F.col("v").cast("decimal(19,0)") * F.col("v")).alias("sumsq"),
    )
    return (
        s.join(F.broadcast(nat), s.c_nationkey == nat.n_nationkey)
        .select(
            "n_name",
            "n_customers",
            F.col("tot").cast("long").alias("revenue_cents"),
            F.round(
                F.col("sumsq").cast("double")
                / (F.col("tot").cast("double") * F.col("tot").cast("double")),
                8,
            ).alias("hhi"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# x135 — day-of-week revenue index (portable dow)
# ---------------------------------------------------------------------------

_WEEKDAY_ORACLE = """
WITH d AS (
    SELECT ((date_diff('day', DATE '1992-01-06', CAST(o_orderdate AS DATE)) % 7)
            + 7) % 7 AS dow,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
),
g AS (
    SELECT CAST(dow AS BIGINT) AS dow,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM d GROUP BY dow
),
t AS (SELECT CAST(sum(revenue_cents) AS BIGINT) AS tot FROM g)
SELECT dow, n_orders, revenue_cents,
       round(CAST(revenue_cents * 7 AS DOUBLE) / CAST(tot AS DOUBLE), 8)
           AS weekday_index
FROM g, t ORDER BY dow
"""


@q(
    "x135_weekday_index",
    "OP-D-ext/OP-G5",
    "Day-of-week revenue index: each weekday's revenue vs the uniform "
    "1/7 share, computed as 7*rev/total on exact integers (the x120 "
    "idiom at weekly grain). The dow itself is PORTABLE ARITHMETIC — "
    "((days-since-a-known-Monday % 7) + 7) % 7, 0 = Monday — because "
    "engine dayofweek() functions disagree on both origin and range "
    "(Spark 1=Sunday..7, DuckDB 0=Sunday..6) and this is pure DATE "
    "subtraction, immune to session timezones too. One "
    "map-side-combined agg to 7 rows; the total is a 1-row broadcast.",
    _WEEKDAY_ORACLE,
)
def x135_weekday_index(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    dow = (
        (
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-06").cast("date"))
            % 7
        )
        + 7
    ) % 7
    g = (
        o.select(
            dow.cast("long").alias("dow"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("dow")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
    )
    t = g.agg(F.sum("revenue_cents").cast("long").alias("tot"))
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "dow",
            "n_orders",
            "revenue_cents",
            F.round(
                (F.col("revenue_cents") * 7).cast("double")
                / F.col("tot").cast("double"),
                8,
            ).alias("weekday_index"),
        )
        .orderBy("dow")
    )


# ---------------------------------------------------------------------------
# x136 — discount-band pricing impact
# ---------------------------------------------------------------------------

_DISCOUNT_ORACLE = """
SELECT CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS gross,
       CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(28,4))) AS DOUBLE)
           AS forgone,
       round(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(28,4))) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE), 8)
           AS forgone_share
FROM lineitem
GROUP BY disc_pct
ORDER BY disc_pct
"""


@q(
    "x136_discount_bands",
    "OP-G5/OP-G6-ext",
    "Pricing-impact report by discount band: for each whole-percent "
    "discount level, the item count, gross revenue, revenue forgone "
    "to the discount, and the forgone share — the discount-"
    "effectiveness table behind tpch_q6's single-band forecast. "
    "Decimal-exact double sums (the q1 _dsum convention: accumulate "
    "the IEEE products in DECIMAL(28,4), cast back once — float "
    "addition is order-dependent, decimal isn't); the band key is "
    "round(l_discount*100), an exact integer in both engines for the "
    "11 TPC-H discount levels. One map-side-combined agg to 11 rows.",
    _DISCOUNT_ORACLE,
)
def x136_discount_bands(spark, sf_dir):
    from ravelytics_spark.plans.registry import _dsum

    li = load_table(spark, sf_dir, "lineitem")
    gross = _dsum(F.col("l_extendedprice"))
    forgone = _dsum(F.col("l_extendedprice") * F.col("l_discount"))
    return (
        li.groupBy(
            F.round(F.col("l_discount") * 100).cast("long").alias("disc_pct")
        )
        .agg(
            F.count("*").cast("long").alias("n_items"),
            gross.alias("gross"),
            forgone.alias("forgone"),
            F.round(forgone / gross, 8).alias("forgone_share"),
        )
        .orderBy("disc_pct")
    )


# ===========================================================================
# Batch 3: x137-x140
# ===========================================================================


# ---------------------------------------------------------------------------
# x137 — share-of-total contribution report (nation within region/total)
# ---------------------------------------------------------------------------

_SHARE_ORACLE = """
WITH nr AS (
    SELECT n.n_nationkey, n.n_name, r.r_name,
           CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_nationkey, n.n_name, r.r_name
),
w AS (
    SELECT n_name, r_name, cents,
           SUM(cents) OVER (PARTITION BY r_name) AS region_cents,
           SUM(cents) OVER () AS total_cents
    FROM nr
)
SELECT n_name, r_name, cents AS revenue_cents,
       CAST(region_cents AS BIGINT) AS region_cents,
       round(CAST(cents AS DOUBLE) / CAST(region_cents AS DOUBLE), 8)
           AS share_of_region,
       round(CAST(cents AS DOUBLE) / CAST(total_cents AS DOUBLE), 8)
           AS share_of_total
FROM w ORDER BY n_name
"""


@q(
    "x137_share_of_total",
    "OP-W-ext/OP-G3",
    "Contribution report (the BI ratio_to_report primitive): each "
    "nation's exact-cents revenue with its share of its region and of "
    "the grand total, via window sums over the NATION-level aggregate "
    "(25 rows — the aggregate-first idiom makes the unpartitioned "
    "total window a 25-row frame, not a corpus sort). Shares are one "
    "IEEE divide each over exact integers. Dims join broadcast; one "
    "map-side-combined cents agg does the corpus-sized work.",
    _SHARE_ORACLE,
)
def x137_share_of_total(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    nr = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_nationkey", "n_name", "r_name")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    wR = Window.partitionBy("r_name")
    wT = Window.partitionBy()
    return nr.select(
        "n_name",
        "r_name",
        F.col("cents").alias("revenue_cents"),
        F.sum("cents").over(wR).cast("long").alias("region_cents"),
        F.round(
            F.col("cents").cast("double")
            / F.sum("cents").over(wR).cast("double"),
            8,
        ).alias("share_of_region"),
        F.round(
            F.col("cents").cast("double")
            / F.sum("cents").over(wT).cast("double"),
            8,
        ).alias("share_of_total"),
    ).orderBy("n_name")


# ---------------------------------------------------------------------------
# x138 — volatility bands over monthly revenue (exact trailing moments)
# ---------------------------------------------------------------------------

_BANDS_ORACLE = f"""
WITH {MONTHLY_REVENUE_CTE},
w AS (
    SELECT mon, y,
           SUM(y) OVER tw AS s1,
           SUM(CAST(y AS DECIMAL(19,0)) * y) OVER tw AS s2,
           COUNT(*) OVER tw AS k
    FROM m
    WINDOW tw AS (ORDER BY mon ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
)
SELECT mon, y AS revenue_cents,
       CAST((s1 // k) * 1000000 + ((s1 % k) * 1000000) // k AS BIGINT)
           AS mean_micros,
       CAST(k * y - s1 AS BIGINT) AS dev_num,
       CAST(CASE WHEN k * y - s1 > 0
                  AND CAST(k * y - s1 AS DECIMAL(19,0)) * (k * y - s1)
                      > 4 * (k * CAST(s2 AS DECIMAL(38,0))
                             - CAST(s1 AS DECIMAL(19,0)) * s1)
                 THEN 1 ELSE 0 END AS BIGINT) AS breach_high,
       CAST(CASE WHEN k * y - s1 < 0
                  AND CAST(k * y - s1 AS DECIMAL(19,0)) * (k * y - s1)
                      > 4 * (k * CAST(s2 AS DECIMAL(38,0))
                             - CAST(s1 AS DECIMAL(19,0)) * s1)
                 THEN 1 ELSE 0 END AS BIGINT) AS breach_low
FROM w WHERE k = 6 ORDER BY mon
"""


@q(
    "x138_volatility_bands",
    "OP-W4/OP-G6-ext",
    "Volatility bands (the Bollinger shape) over monthly revenue: "
    "trailing-6 exact moment sums (S1 BIGINT, S2 exact DECIMAL of "
    "squares) in one ROWS window; the 2-sigma band breach is decided "
    "ENTIRELY in cleared-denominator integer form — |y - S1/k| > "
    "2*sqrt((k*S2 - S1^2))/k  <=>  (k*y - S1)^2 > 4*(k*S2 - S1^2), "
    "all exact DECIMAL, no sqrt, no float compare (a round(sigma, 6) "
    "output measurably diverged in the last ulp at 9-digit "
    "magnitudes — the x125 lesson applied to second moments). Output: "
    "exact mean micro-cents, the signed deviation numerator k*y - S1, "
    "and high/low breach flags, full windows only. Completes the "
    "time-series battery (x119 level, x120 seasonality, x125 break, "
    "this: volatility); runs over the month-level aggregate "
    "(x74/x77 idiom).",
    _BANDS_ORACLE,
)
def x138_volatility_bands(spark, sf_dir):
    m = monthly_revenue(load_table(spark, sf_dir, "orders"))
    tw = Window.orderBy("mon").rowsBetween(-5, Window.currentRow)
    w = m.select(
        "mon",
        "y",
        F.sum("y").over(tw).alias("s1"),
        F.sum(F.col("y").cast("decimal(19,0)") * F.col("y")).over(tw).alias("s2"),
        F.count("*").over(tw).alias("k"),
    ).filter(F.col("k") == 6)
    dev = F.col("k") * F.col("y") - F.col("s1")
    dev_sq = dev.cast("decimal(19,0)") * dev
    var4 = 4 * (
        F.col("k") * F.col("s2").cast("decimal(38,0)")
        - F.col("s1").cast("decimal(19,0)") * F.col("s1")
    )
    mean_micros = F.expr(
        "CAST((s1 DIV k) * 1000000 + ((s1 % k) * 1000000) DIV k AS BIGINT)"
    )
    return w.select(
        "mon",
        F.col("y").alias("revenue_cents"),
        mean_micros.alias("mean_micros"),
        dev.cast("long").alias("dev_num"),
        F.when((dev > 0) & (dev_sq > var4), 1).otherwise(0).cast("long").alias(
            "breach_high"
        ),
        F.when((dev < 0) & (dev_sq > var4), 1).otherwise(0).cast("long").alias(
            "breach_low"
        ),
    ).orderBy("mon")


# ---------------------------------------------------------------------------
# x139 — new vs returning revenue split per month
# ---------------------------------------------------------------------------

_NEWRET_ORACLE = """
WITH f AS (
    SELECT o_custkey,
           CAST(date_trunc('month', min(o_orderdate)) AS DATE) AS first_mon
    FROM orders GROUP BY o_custkey
),
b AS (
    SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS mon,
           CASE WHEN CAST(date_trunc('month', o.o_orderdate) AS DATE)
                     = f.first_mon
                THEN 'new' ELSE 'returning' END AS segment,
           o.o_custkey,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
    FROM orders o JOIN f ON o.o_custkey = f.o_custkey
)
SELECT mon, segment,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS revenue_cents
FROM b GROUP BY mon, segment ORDER BY mon, segment
"""


@q(
    "x139_new_vs_returning",
    "OP-G3/D1-ext",
    "Growth accounting: each month's customers, orders and exact-cents "
    "revenue split into NEW (first-ever order this month) vs "
    "RETURNING — the monthly growth decomposition every revenue "
    "dashboard leads with (x129's LTV triangle follows cohorts "
    "forward; this reads the same first-order fact as a per-month "
    "mix). Two custkey-keyed aggs with map-side combine; the "
    "first-month frame joins back on the customer key "
    "(co-partitioned).",
    _NEWRET_ORACLE,
)
def x139_new_vs_returning(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    f = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).cast("date").alias("first_mon")
    )
    mon = F.date_trunc("month", "o_orderdate").cast("date")
    b = o.join(f, "o_custkey").select(
        mon.alias("mon"),
        F.when(mon == F.col("first_mon"), "new")
        .otherwise("returning")
        .alias("segment"),
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return (
        b.groupBy("mon", "segment")
        .agg(
            F.countDistinct("o_custkey").cast("long").alias("n_customers"),
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("mon", "segment")
    )


# ---------------------------------------------------------------------------
# x140 — per-language character-trigram profile (top-20)
# ---------------------------------------------------------------------------

_TRIGRAM_ORACLE = """
WITH ch AS (
    SELECT lang, substr(text, i, 3) AS g
    FROM documents,
         LATERAL (SELECT unnest(range(1, len(text) - 1)) AS i)
    WHERE len(text) >= 3
),
cnt AS (
    SELECT lang, g, CAST(count(*) AS BIGINT) AS n
    FROM ch GROUP BY lang, g
),
tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS t FROM cnt GROUP BY lang),
top AS (
    SELECT lang, g, n,
           CAST(row_number() OVER (PARTITION BY lang
                                   ORDER BY n DESC, g) AS BIGINT) AS rnk
    FROM cnt QUALIFY rnk <= 20
)
SELECT top.lang AS lang, rnk, g AS trigram, n,
       round(CAST(n AS DOUBLE) / CAST(t AS DOUBLE), 8) AS freq
FROM top JOIN tot ON top.lang = tot.lang
ORDER BY top.lang, rnk
"""


@q(
    "x140_char_trigram_profile",
    "OP-X4-ext",
    "Per-language character-trigram profile: every sliding 3-char "
    "window of every document, counted per (lang, trigram), then the "
    "top-20 per language with corpus frequencies — the training "
    "artifact behind n-gram language identifiers (x4_lang_id SCORES "
    "with such profiles; this BUILDS them from labeled data). The "
    "top-20 per group compiles to WindowGroupLimit (partial top-K "
    "heaps before the shuffle, the x110 plan shape), so per-language "
    "state in flight is bounded; trigram counting is one explode + "
    "map-side-combined agg. Frequencies are one IEEE divide of exact "
    "BIGINTs.",
    _TRIGRAM_ORACLE,
)
def x140_char_trigram_profile(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    grams = F.expr(
        "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))"
    )
    ch = d.filter(F.length("text") >= 3).select(
        "lang", F.explode(grams).alias("g")
    )
    cnt = ch.groupBy("lang", "g").agg(F.count("*").cast("long").alias("n"))
    tot = cnt.groupBy("lang").agg(F.sum("n").cast("long").alias("t"))
    wL = Window.partitionBy("lang").orderBy(F.desc("n"), "g")
    top = (
        cnt.withColumn("rnk", F.row_number().over(wL).cast("long"))
        .filter(F.col("rnk") <= 20)
    )
    return (
        top.join(F.broadcast(tot), "lang")
        .select(
            "lang",
            "rnk",
            F.col("g").alias("trigram"),
            "n",
            F.round(F.col("n").cast("double") / F.col("t").cast("double"), 8).alias(
                "freq"
            ),
        )
        .orderBy("lang", "rnk")
    )


# ===========================================================================
# Batch 4: x141-x143
# ===========================================================================


# ---------------------------------------------------------------------------
# x141 — penny-exact proportional allocation (largest remainder)
# ---------------------------------------------------------------------------

_ALLOC_ORACLE = """
WITH li AS (
    SELECT l_orderkey,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS line_cents,
           l_linenumber
    FROM lineitem
),
o AS (
    SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS order_cents
    FROM orders
),
base AS (
    SELECT li.l_orderkey, li.l_linenumber, li.line_cents, o.order_cents,
           SUM(li.line_cents) OVER (PARTITION BY li.l_orderkey) AS gross
    FROM li JOIN o ON li.l_orderkey = o.o_orderkey
),
q AS (
    SELECT l_orderkey, l_linenumber, line_cents, order_cents, gross,
           (order_cents * line_cents) // gross AS floor_alloc,
           (order_cents * line_cents) % gross AS rem
    FROM base
),
r AS (
    SELECT *,
           row_number() OVER (PARTITION BY l_orderkey
                              ORDER BY rem DESC, line_cents, l_linenumber) AS rr,
           order_cents - SUM(floor_alloc) OVER (PARTITION BY l_orderkey)
               AS short
    FROM q
),
alloc AS (
    SELECT l_orderkey,
           floor_alloc + CASE WHEN rr <= short THEN 1 ELSE 0 END AS alloc
    FROM r
)
SELECT l_orderkey AS o_orderkey,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(max(r2.order_cents) AS BIGINT) AS order_cents,
       CAST(sum(alloc.alloc) AS BIGINT) AS allocated_cents,
       CAST(min(alloc.alloc) AS BIGINT) AS min_alloc,
       CAST(max(alloc.alloc) AS BIGINT) AS max_alloc
FROM alloc JOIN (SELECT DISTINCT l_orderkey AS k, order_cents FROM r) r2
  ON alloc.l_orderkey = r2.k
GROUP BY l_orderkey
ORDER BY o_orderkey
"""


@q(
    "x141_penny_allocation",
    "OP-G3/W-ext",
    "Penny-exact proportional allocation (largest-remainder / "
    "Hamilton method): each order's header total is allocated down to "
    "its lineitems proportionally to line value, ENTIRELY in integer "
    "arithmetic — floor(total*line/gross) per line plus one extra "
    "cent to the largest remainders until the allocations sum to the "
    "header exactly. The financial-proration primitive (invoice tax/"
    "freight split, budget distribution) where float proration "
    "leaks pennies. Tie-break (remainder DESC, line_cents, linenumber) is swap-safe: the synthetic lineitem has DUPLICATE (order, linenumber) pairs, and rows tying on all three keys have identical floors, so the allocation multiset is invariant. Certified by per-order conservation: "
    "allocated_cents == order_cents for every order (the output IS "
    "the audit). All windows partition on the order key; products "
    "total*line ~ 1e7*1e7 = 1e14 stay far inside BIGINT.",
    _ALLOC_ORACLE,
)
def x141_penny_allocation(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("line_cents"),
        "l_linenumber",
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("order_cents"),
    )
    wO = Window.partitionBy("l_orderkey")
    base = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_linenumber",
        "line_cents",
        "order_cents",
        F.sum("line_cents").over(wO).alias("gross"),
    )
    q = base.select(
        "l_orderkey",
        "l_linenumber",
        "line_cents",
        "order_cents",
        F.expr("(order_cents * line_cents) DIV gross").alias("floor_alloc"),
        F.expr("(order_cents * line_cents) % gross").alias("rem"),
    )
    r = q.select(
        "*",
        F.row_number()
        .over(
            Window.partitionBy("l_orderkey").orderBy(
                F.desc("rem"), "line_cents", "l_linenumber"
            )
        )
        .alias("rr"),
        (F.col("order_cents") - F.sum("floor_alloc").over(wO)).alias("short"),
    )
    alloc = r.select(
        "l_orderkey",
        "order_cents",
        (
            F.col("floor_alloc")
            + F.when(F.col("rr") <= F.col("short"), 1).otherwise(0)
        ).alias("alloc"),
    )
    return (
        alloc.groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.max("order_cents").cast("long").alias("order_cents"),
            F.sum("alloc").cast("long").alias("allocated_cents"),
            F.min("alloc").cast("long").alias("min_alloc"),
            F.max("alloc").cast("long").alias("max_alloc"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# x142 — last-touch attribution of purchases
# ---------------------------------------------------------------------------

_ATTRIB_ORACLE = """
WITH p AS (
    SELECT user_id, event_id AS p_id, ts AS p_ts, value AS p_value
    FROM events WHERE event_type = 'purchase'
),
cand AS (
    SELECT p.p_id, p.p_value, e.event_type, e.ts, e.event_id
    FROM p JOIN events e
      ON e.user_id = p.user_id
     AND e.event_type <> 'purchase'
     AND e.ts < p.p_ts
     AND date_diff('second', e.ts, p.p_ts) <= 604800
),
best AS (
    SELECT p_id, p_value, event_type,
           row_number() OVER (PARTITION BY p_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM cand
),
att AS (
    SELECT p.p_id, p.p_value,
           COALESCE(b.event_type, 'unattributed') AS touch_type
    FROM p LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON p.p_id = b.p_id
)
SELECT touch_type, CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(SUM(CAST(p_value AS DECIMAL(28,6))) AS DOUBLE) AS attributed_value
FROM att GROUP BY touch_type ORDER BY touch_type
"""


@q(
    "x142_last_touch_attribution",
    "OP-J-ext/OP-W3",
    "Last-touch marketing attribution: every purchase is credited to "
    "the user's most recent non-purchase event within a 7-day "
    "lookback (strictly before the purchase, (ts, event_id)-DESC "
    "tie-broken), purchases with no touch falling into an explicit "
    "'unattributed' bucket so the value column always totals the "
    "purchase ledger. The per-purchase argmax is an asof-join shape "
    "keyed on user_id (co-partitioned join + one rank over candidate "
    "touches); attributed value uses the q1 decimal-exact double-sum "
    "convention. Complements the funnel pair (x36 counts, x131 "
    "latency): this assigns CREDIT.",
    _ATTRIB_ORACLE,
)
def x142_last_touch_attribution(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    from ravelytics_spark.plans.registry import _dsum

    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    e = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", "event_type", "ts", "event_id"
    )
    cand = p.join(e, "user_id").filter(
        (F.col("ts") < F.col("p_ts"))
        & (
            F.unix_timestamp("p_ts") - F.unix_timestamp("ts")
            <= 604800
        )
    )
    wP = Window.partitionBy("p_id").orderBy(F.desc("ts"), F.desc("event_id"))
    best = (
        cand.withColumn("rn", F.row_number().over(wP))
        .filter(F.col("rn") == 1)
        .select("p_id", "event_type")
    )
    att = p.join(best, "p_id", "left").select(
        "p_value",
        F.coalesce(F.col("event_type"), F.lit("unattributed")).alias("touch_type"),
    )
    return (
        att.groupBy("touch_type")
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            _dsum(F.col("p_value"), 6).alias("attributed_value"),
        )
        .orderBy("touch_type")
    )


# ---------------------------------------------------------------------------
# x143 — portable fixed-bin quantile sketch (integer bin geometry)
# ---------------------------------------------------------------------------

_QHIST_LO = 0
_QHIST_WIDTH = 65536  # cents per bin; domain [0, 1024*65536)=67.1M covers max o_totalprice (~50M cents)
_QHIST_BINS = 1024
_QHIST_PROBS = (25, 50, 90, 99)  # percent, exact integer ranks


def _qhist_pick_sql(pct: int) -> str:
    return (
        f"CAST(max(CASE WHEN cum >= ({pct} * n + 99) // 100"
        f" AND prev_cum < ({pct} * n + 99) // 100"
        f" THEN {_QHIST_LO} + bin * {_QHIST_WIDTH} END) AS BIGINT) AS p{pct}_lo_edge"
    )


_QHIST_ORACLE = f"""
WITH b AS (
    SELECT o_orderpriority,
           LEAST({_QHIST_BINS - 1},
                 CAST(round(o_totalprice * 100) AS BIGINT) // {_QHIST_WIDTH})
               AS bin
    FROM orders
),
cnt AS (
    SELECT o_orderpriority, bin, CAST(count(*) AS BIGINT) AS cnt
    FROM b GROUP BY o_orderpriority, bin
),
cum AS (
    SELECT o_orderpriority, bin, cnt,
           SUM(cnt) OVER (PARTITION BY o_orderpriority ORDER BY bin
                          ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(cnt) OVER (PARTITION BY o_orderpriority ORDER BY bin
                          ROWS UNBOUNDED PRECEDING) - cnt AS prev_cum,
           SUM(cnt) OVER (PARTITION BY o_orderpriority) AS n
    FROM cnt
)
SELECT o_orderpriority, CAST(max(n) AS BIGINT) AS n_orders,
       CAST(count(*) AS BIGINT) AS n_bins_used,
       {", ".join(_qhist_pick_sql(p) for p in _QHIST_PROBS)}
FROM cum GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@q(
    "x143_qhist_portable",
    "OP-G5/X8-ext",
    "Portable fixed-bin quantile sketch: order values in cents bucket "
    "into 1024 declared 65536-cent bins with PURE INTEGER geometry "
    "(bin = cents DIV width — no float divide anywhere), per-group "
    "cumulative counts over the bin frame (the x104 aggregate-first "
    "idiom), and p25/p50/p90/p99 picks at exact integer ranks "
    "ceil(pct*n/100) — certifying the fixed-bin quantile-sketch "
    "ALGORITHM the way x97/x98 certify KMV/HLL. The sketch rows "
    "are fixed mergeable state (counter addition, the Count-Min "
    "guarantee of x108): day-level sketches roll up to month/year "
    "quantiles without rescanning raw data — the quantileState pattern at "
    "100 TB. One hash-agg with map-side combine; windows run over "
    "<=1024 rows per group.",
    _QHIST_ORACLE,
)
def x143_qhist_portable(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    b = o.select(
        "o_orderpriority",
        F.least(
            F.lit(_QHIST_BINS - 1),
            F.expr(
                f"CAST(round(o_totalprice * 100) AS BIGINT) DIV {_QHIST_WIDTH}"
            ),
        ).alias("bin"),
    )
    cnt = b.groupBy("o_orderpriority", "bin").agg(
        F.count("*").cast("long").alias("cnt")
    )
    wC = (
        Window.partitionBy("o_orderpriority")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wN = Window.partitionBy("o_orderpriority")
    cum = cnt.select(
        "o_orderpriority",
        "bin",
        "cnt",
        F.sum("cnt").over(wC).alias("cum"),
        (F.sum("cnt").over(wC) - F.col("cnt")).alias("prev_cum"),
        F.sum("cnt").over(wN).alias("n"),
    )

    def pick(pct: int):
        rank = F.expr(f"({pct} * n + 99) DIV 100")
        hit = (F.col("cum") >= rank) & (F.col("prev_cum") < rank)
        return F.max(
            F.when(hit, F.lit(_QHIST_LO) + F.col("bin") * _QHIST_WIDTH)
        ).cast("long").alias(f"p{pct}_lo_edge")

    return (
        cum.groupBy("o_orderpriority")
        .agg(
            F.max("n").cast("long").alias("n_orders"),
            F.count("*").cast("long").alias("n_bins_used"),
            *[pick(p) for p in _QHIST_PROBS],
        )
        .orderBy("o_orderpriority")
    )
