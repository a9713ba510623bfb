"""Catalog entries x144-x167: prefix-scan ledgers, streaming sketches,
diversified and collaborative ranking, forecasting and drift tests,
winnowing dedup and the streaming-join / CDC harness entries.

Reference parity: these extend SURVEY §2.10's mandate (warehouse
analytics + LLM-training-data operators beyond the reference's own
surface — the reference is Airflow DAGs + ClickHouse SQL; citations in
per-entry docstrings where a reference construct is echoed).

* ``x144_clamped_balance`` — the non-negative running balance
  (wallet / inventory / credit ledger): the Lindley recursion
  B_t = max(0, B_{t-1} + x_t) looks inherently sequential but has the
  prefix-scan closed form B_t = S_t - min(0, running_min(S_t)), so it
  compiles to TWO window functions over exact cents — no UDF, no
  iteration, no per-key state beyond the window frame.
* ``x145_f2_moment`` — AMS "tug-of-war" second-moment sketch: four
  ±1-sign register sums (signs are disjoint hex nibbles of ONE md5,
  the Kirsch-Mitzenmacher slicing x108 uses) estimate the self-join
  size Σc² of lineitem part frequencies; registers are plain SUMs —
  map-side combinable and mergeable across shards — certified
  side-by-side against the exact F2.
* ``x146_mmr_select`` — Maximal Marginal Relevance diversified top-5
  over embeddings: relevance and pairwise similarity are EXACT
  fixed-point integer dot products (x107's scale-6 quantization);
  the pool is TakeOrdered-bounded at 20 before any pairwise work,
  then the 5 greedy rounds run driver-side over the literal-bounded
  pool (Spark) / as 4 unrolled CTEs (DuckDB), every argmax totally
  tie-broken — the diversity-sampling primitive of training-data
  curation, certified bit-identically.
* ``x147_rbo_drift`` — Rank-Biased Overlap (p=0.9) between one
  year's and the next year's revenue top-20 part rankings, with the
  p^(d-1)(1-p) weights as literal scaled integers (x123's literal-
  discount convention): the ranking-stability / catalog-drift metric.
* ``x148_holt_forecast`` — Brown's double exponential smoothing
  (alpha=1/2) of monthly per-nation revenue: the x119 truncated
  dyadic EWMA applied twice, then level = 2*S1 - S2, trend = S1 - S2
  and the 1-step-ahead forecast 3*S1 - 2*S2 — all exact integer
  milli-cents end to end (scale-3 chosen for 255x-weighted-sum
  headroom; the 100x sweep caught scale-6 overflowing).
* ``x149_rake_keywords`` — RAKE-style keyword phrases: stopword/
  punctuation-delimited candidate phrases (run-grouping via the x6
  prefix-sum sessionize idiom), scored by summed word degree over the
  corpus co-occurrence — exact integer degrees and frequencies.
* ``x150_winnow_dup_spans`` — exact substring near-dup candidates by
  MOSS winnowing: every k=24-char window hashed (48-bit md5 prefix),
  each doc keeps the MIN hash of every w=8-window run (density
  2/(w+1)); doc pairs sharing >= 3 fingerprints are emitted with
  counts. Guarantee: any cross-doc verbatim run of >= w+k-1 = 31
  chars shares a fingerprint — the Lee-et-al-style exact substring
  dedup signal, bucketed (fingerprint equi-join), never all-pairs.
* ``x151_stream_interval_join`` — watermarked stream-stream inner
  interval join (view-to-click attribution) end to end over two
  file-source streams; harness entry (streaming semantics have no
  SQL oracle), with the exact attributed pairs pinned by test.
* ``x152_eb_smoothed_rate`` — empirical-Bayes shrunken return rate
  per part brand: (x + m*p0) / (n + m) with the global prior carried
  as pre-floored micro-units (the scale-safe form — the exact-
  rational prior overflowed BIGINT in the 100x sweep), one integer
  floor-division to millionths — the low-volume-rate stabilizer every
  CTR/return-rate dashboard needs.
* ``x153_hash_bootstrap_ci`` — deterministic online bootstrap
  (Oza-Russell): B=16 resamples weight each order by Binomial(2,1/2)
  md5 bits of (resample, key); each resample is a mergeable weighted
  SUM pair and the confidence band is an exact rank-pick over the
  resample means — uncertainty bars in ONE pass, no data copies.
* ``x154_item_cf_topk`` — item-item collaborative filtering: top-5
  co-order neighbors for the 10 most-ordered parts, ranked by the
  exact squared-cosine integer c_ij^2*1e6/(c_i*c_j) (sqrt-free,
  monotone, engine-exact), candidate pairs bounded by the seed
  basket self-join.
* ``x155_theil_sen`` / ``x156_knee_point`` — robust trend (median of
  pairwise slopes, portable signed floor division) and exact-integer
  elbow detection (cross-product argmax, the Kneedle core).
* ``x157_conformal_band`` — split-conformal prediction interval for
  the naive forecaster: exact rank-9/10 calibration residual + held-
  out coverage, all integers.
* ``x158_mase_eval`` — naive vs seasonal-naive summed-absolute-error
  ratio (the MASE staple), exact cents to one millionths division.
* ``x159_ks_drift`` — per-source two-sample KS distance on document
  lengths via cleared-denominator integers (exact statistic AND
  exact argmax threshold).
* ``x160_ab_significance`` — two-proportion z-test decided entirely
  in DECIMAL(38,0) cross-multiplied form (the x138 no-float-compare
  discipline applied to hypothesis testing).
* ``x161_late_data_watermark`` — append-mode watermark finalization
  driven end to end over three sequential micro-batch runs: late
  event dropped, in-watermark straggler counted, open windows never
  emitted (harness; exact windows pinned by test).
* ``x164_capped_sessions`` — gap + max-span sessionization: the span
  cap makes the recursion genuinely sequential (no prefix-sum closed
  form), so this is the catalog's certified applyInPandas exhibit —
  Arrow-batched per-key scans vs a DuckDB recursive-CTE oracle.
* ``x165_grid_neighbor_join`` — spatial neighbor join by grid
  bucketing: 3x3 cell expansion + one cell-keyed equi-join + exact
  integer squared-distance verify (no trig, no floats; brute-force-
  validated).
* ``x166_bitmap_retention`` — the groupBitmap idiom: monthly activity
  packed 62-bits-per-BIGINT via bit_or (mergeable words), month-over-
  month retention as popcount(a AND b) at O(words) cost.
* ``x167_cdc_apply`` — changelog MERGE into a snapshot: latest-wins
  per key, deletes beating stale rows, inserts surviving — the
  foreachBatch MERGE shape certified declaratively (inverse of
  x80_snapshot_cdc).

Hash-parity conventions as plans/queries.py: exact cents/BIGINT
arithmetic, md5-derived portable hashes, nonnegative-operand floor
divisions only (Spark DIV truncates toward zero, DuckDB // floors —
they agree exactly on nonnegative operands, and every division below
has provably nonnegative operands), total ORDER BY on every output.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ravelytics_spark.operators.graph import coorder_pk
from ravelytics_spark.plans.frames import (
    COORDER_PK_SQL,
    MONTHLY_NATION_REVENUE_CTE,
    MONTHLY_REVENUE_CTE,
    monthly_nation_revenue,
    monthly_revenue,
)
from ravelytics_spark.plans.registry import q
from ravelytics_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# x144 — non-negative running balance (Lindley recursion, closed form)
# ---------------------------------------------------------------------------

_BAL_ORACLE = """
WITH flow AS (
    SELECT o_custkey,
           o_orderdate,
           o_orderkey,
           CASE WHEN o_orderstatus = 'F'
                THEN CAST(round(o_totalprice * 100) AS BIGINT)
                ELSE -CAST(round(o_totalprice * 100) AS BIGINT) END AS x
    FROM orders
),
scan AS (
    SELECT o_custkey, o_orderdate, o_orderkey,
           SUM(x) OVER w AS s,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate DESC, o_orderkey DESC)
               AS rn_desc
    FROM flow
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
bal AS (
    SELECT o_custkey, rn_desc,
           s - least(CAST(0 AS BIGINT),
                     MIN(s) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW)) AS b
    FROM scan
)
SELECT o_custkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(max(CASE WHEN rn_desc = 1 THEN b END) AS BIGINT)
           AS final_balance_cents,
       CAST(max(b) AS BIGINT) AS max_balance_cents,
       CAST(sum(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_at_zero
FROM bal
GROUP BY o_custkey
ORDER BY o_custkey
"""


@q(
    "x144_clamped_balance",
    "OP-W4-ext",
    "Non-negative running balance per customer (orders as a signed "
    "cash-flow ledger: finalized orders credit, open/pending debit): "
    "the Lindley recursion B_t = max(0, B_{t-1} + x_t) — wallets, "
    "inventory on hand, credit exposure — is NOT a plain windowed sum "
    "and looks like it needs per-key sequential state (applyInPandas), "
    "but it has the exact prefix-scan closed form "
    "B_t = S_t - min(0, min_{j<=t} S_j), so it compiles to two "
    "stacked window functions over the same (custkey, date, key) "
    "frame: one running SUM, one running MIN of that sum. Everything "
    "is exact integer cents; windows partition on the customer key "
    "(bounded frames, streams through a single sort); zero Python. "
    "Emitted per customer: order count, final and max balance, and "
    "how often the floor clamped (n_at_zero — the 'would have gone "
    "negative' audit).",
    _BAL_ORACLE,
)
def x144_clamped_balance(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    flow = o.select(
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", cents).otherwise(-cents).alias("x"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wdesc = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    scan = flow.select(
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        F.sum("x").over(w).alias("s"),
        F.row_number().over(wdesc).alias("rn_desc"),
    )
    bal = scan.select(
        "o_custkey",
        "rn_desc",
        (
            F.col("s")
            - F.least(F.lit(0).cast("long"), F.min("s").over(w))
        ).alias("b"),
    )
    return (
        bal.groupBy("o_custkey")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.max(F.when(F.col("rn_desc") == 1, F.col("b")))
            .cast("long")
            .alias("final_balance_cents"),
            F.max("b").cast("long").alias("max_balance_cents"),
            F.sum(F.when(F.col("b") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_at_zero"),
        )
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# x145 — AMS tug-of-war F2 (self-join size) sketch vs exact
# ---------------------------------------------------------------------------

_F2_SIGNS_SQL = ", ".join(
    f"SUM(CASE WHEN CAST('0x' || substr(md5('f2:' || l_partkey), {1 + d}, 1) "
    f"AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END) AS z{d}"
    for d in range(4)
)

_F2_ORACLE = f"""
WITH reg AS (
    SELECT {_F2_SIGNS_SQL} FROM lineitem
),
exact AS (
    SELECT CAST(SUM(c * c) AS BIGINT) AS f2
    FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_partkey)
)
SELECT CAST(z0 AS BIGINT) AS z0, CAST(z1 AS BIGINT) AS z1,
       CAST(z2 AS BIGINT) AS z2, CAST(z3 AS BIGINT) AS z3,
       CAST((z0*z0 + z1*z1 + z2*z2 + z3*z3) // 4 AS BIGINT) AS est_f2,
       exact.f2 AS exact_f2,
       CAST(((z0*z0 + z1*z1 + z2*z2 + z3*z3) // 4) * 1000000 // exact.f2
            AS BIGINT) AS ratio_millionths
FROM reg, exact
"""


@q(
    "x145_f2_moment",
    "OP-G5/X8-ext",
    "AMS 'tug-of-war' second-moment sketch: F2 = sum of squared part "
    "frequencies (= the lineitem-lineitem self-join size on partkey, "
    "the cardinality a join optimizer wants BEFORE running the join). "
    "Four +/-1 sign functions come from four disjoint hex nibbles of "
    "ONE md5 per key (x108's Kirsch-Mitzenmacher slicing — one digest "
    "per row, not four); each register Z_d = SUM(sign_d) over raw "
    "rows, so the sketch state is four BIGINTs built in one map-side-"
    "combinable pass — mergeable across shards/days by plain "
    "addition, which is what makes it the 100 TB join-size probe "
    "(E[Z^2] = F2 exactly; averaging 4 estimators tightens variance). "
    "Emitted: the four registers, the estimate (mean of squares, "
    "floor-div 4), the exact F2 from the per-key agg it replaces at "
    "scale, and their ratio in millionths (nonnegative operands -> "
    "floor division agrees across engines).",
    _F2_ORACLE,
)
def x145_f2_moment(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    digest = F.md5(F.concat(F.lit("f2:"), F.col("l_partkey").cast("string")))
    signs = [
        F.sum(
            F.when(
                F.conv(F.substring(digest, 1 + d, 1), 16, 10).cast("long") % 2
                == 0,
                1,
            ).otherwise(-1)
        ).alias(f"z{d}")
        for d in range(4)
    ]
    reg = li.agg(*signs)
    exact = (
        li.groupBy("l_partkey")
        .agg(F.count("*").alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).cast("long").alias("exact_f2"))
    )
    return reg.crossJoin(exact).select(
        F.col("z0").cast("long").alias("z0"),
        F.col("z1").cast("long").alias("z1"),
        F.col("z2").cast("long").alias("z2"),
        F.col("z3").cast("long").alias("z3"),
        F.expr(
            "CAST((z0*z0 + z1*z1 + z2*z2 + z3*z3) DIV 4 AS BIGINT)"
        ).alias("est_f2"),
        "exact_f2",
        F.expr(
            "CAST(((z0*z0 + z1*z1 + z2*z2 + z3*z3) DIV 4) * 1000000 "
            "DIV exact_f2 AS BIGINT)"
        ).alias("ratio_millionths"),
    )


# ---------------------------------------------------------------------------
# x152 — empirical-Bayes smoothed return rate per brand
# ---------------------------------------------------------------------------

_EB_M = 200  # prior pseudo-count

_EB_ORACLE = f"""
WITH br AS (
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                AS BIGINT) AS x
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
),
g AS (
    SELECT CAST(SUM(n) AS BIGINT) AS big_n, CAST(SUM(x) AS BIGINT) AS big_x
    FROM br
)
SELECT p_brand, n, x,
       CAST(x * 1000000 // n AS BIGINT) AS raw_millionths,
       CAST((x * 1000000 + {_EB_M} * (big_x * 1000000 // big_n))
            // (n + {_EB_M}) AS BIGINT) AS smoothed_millionths
FROM br, g
ORDER BY p_brand
"""


@q(
    "x152_eb_smoothed_rate",
    "OP-G5/G6-ext",
    "Empirical-Bayes shrunken return rate per part brand: "
    "(x + m*p0) / (n + m) with pseudo-count m=200 and the global "
    "prior carried as PRE-FLOORED MICRO-UNITS p0u = X*1e6 DIV N — "
    "the smoothed rate is (x*1e6 + m*p0u) DIV (n+m), every operand "
    "nonnegative BIGINT with ~1e4x headroom beyond the 100x sweep "
    "(the exact-rational form (x*N + m*X)*1e6 overflowed there: "
    "x*N*1e6 ~ 1.4e20 at 6e7 rows), no float prior ever "
    "materialized, both engines emitting identical integers; the "
    "micro-floored prior shifts the result by < 1 millionth. "
    "This is the low-volume stabilizer every return-rate / CTR / "
    "defect-rate dashboard needs: brands with few observations shrink "
    "toward the corpus rate, high-volume brands keep their own. One "
    "hash-agg over the fact join (broadcast part dim at scale), one "
    "tiny global roll-up broadcast back — no second scan.",
    _EB_ORACLE,
)
def x152_eb_smoothed_rate(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    br = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("long")
            .alias("x"),
        )
    )
    g = br.agg(
        F.sum("n").cast("long").alias("big_n"),
        F.sum("x").cast("long").alias("big_x"),
    )
    return (
        br.crossJoin(F.broadcast(g))
        .select(
            "p_brand",
            "n",
            "x",
            F.expr("CAST(x * 1000000 DIV n AS BIGINT)").alias("raw_millionths"),
            F.expr(
                f"CAST((x * 1000000 + {_EB_M} * (big_x * 1000000 DIV big_n)) "
                f"DIV (n + {_EB_M}) AS BIGINT)"
            ).alias("smoothed_millionths"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# x147 — rank-biased overlap between consecutive-year top-20 rankings
# ---------------------------------------------------------------------------

_RBO_DEPTH = 20
# literal scaled weights, p = 0.9: w_d = round(p^(d-1) * (1-p) * 1e9), d = 1..20
_RBO_WEIGHTS = [
    round((0.9 ** (d - 1)) * 0.1 * 1_000_000_000) for d in range(1, _RBO_DEPTH + 1)
]
_RBO_W_SQL = ", ".join(
    f"({d}, CAST({w} AS BIGINT))" for d, w in enumerate(_RBO_WEIGHTS, start=1)
)

_RBO_ORACLE = f"""
WITH rx AS (
    SELECT l_partkey,
           row_number() OVER (
               ORDER BY SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) DESC,
                        l_partkey) AS r
    FROM lineitem WHERE year(l_shipdate) = 1996
    GROUP BY l_partkey
    ORDER BY SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) DESC, l_partkey
    LIMIT {_RBO_DEPTH}
),
ry AS (
    SELECT l_partkey,
           row_number() OVER (
               ORDER BY SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) DESC,
                        l_partkey) AS r
    FROM lineitem WHERE year(l_shipdate) = 1997
    GROUP BY l_partkey
    ORDER BY SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) DESC, l_partkey
    LIMIT {_RBO_DEPTH}
),
m AS (
    SELECT greatest(rx.r, ry.r) AS mind
    FROM rx JOIN ry ON rx.l_partkey = ry.l_partkey
),
w AS (SELECT * FROM (VALUES {_RBO_W_SQL}) AS t(d, wgt)),
ov AS (
    SELECT w.d, w.wgt,
           CAST(count(m.mind) AS BIGINT) AS overlap
    FROM w LEFT JOIN m ON m.mind <= w.d
    GROUP BY w.d, w.wgt
)
SELECT CAST(d AS BIGINT) AS depth, overlap, wgt AS weight_nanos,
       CAST(wgt * overlap // d AS BIGINT) AS term_nanos,
       CAST(SUM(wgt * overlap // d)
            OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS rbo_nanos
FROM ov
ORDER BY depth
"""


@q(
    "x147_rbo_drift",
    "OP-O1/W-ext",
    "Rank-Biased Overlap (Webber et al., p=0.9, depth 20) between the "
    "1996 and 1997 revenue top-20 part rankings — the ranking-"
    "stability / catalog-drift metric that, unlike Kendall tau, is "
    "top-weighted and handles non-conjoint lists. Both top-20 lists "
    "are TakeOrdered-bounded (total tie-break rank keys) BEFORE any "
    "pairwise work, so the overlap join touches <= 20x20 rows no "
    "matter the fact-table size; per-depth agreement A_d = |pairs "
    "with max(rank_x, rank_y) <= d| comes from one LEFT JOIN against "
    "a 20-row literal depth/weight table. The geometric weights "
    "p^(d-1)*(1-p) are LITERAL nano-scaled integers (x123's literal-"
    "discount convention — zero libm calls in either engine), each "
    "term w_d*A_d/d floor-divided on nonnegative operands, and the "
    "cumulative sum is the extrapolation-free RBO_min in nanos.",
    _RBO_ORACLE,
)
def x147_rbo_drift(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")

    def topk(year: int):
        agg = (
            li.filter(F.year("l_shipdate") == year)
            .select("l_partkey", cents.alias("cents"))
            .groupBy("l_partkey")
            .agg(F.sum("cents").alias("rev"))
            .orderBy(F.desc("rev"), "l_partkey")
            .limit(_RBO_DEPTH)
        )
        return agg.select(
            "l_partkey",
            F.row_number()
            .over(Window.orderBy(F.desc("rev"), "l_partkey"))
            .alias("r"),
        )

    rx, ry = topk(1996).alias("rx"), topk(1997).alias("ry")
    m = rx.join(ry, F.col("rx.l_partkey") == F.col("ry.l_partkey")).select(
        F.greatest(F.col("rx.r"), F.col("ry.r")).alias("mind")
    )
    w = spark.createDataFrame(
        [(d, w) for d, w in enumerate(_RBO_WEIGHTS, start=1)], "d INT, wgt LONG"
    )
    ov = (
        w.join(F.broadcast(m), m.mind <= w.d, "left")
        .groupBy("d", "wgt")
        .agg(F.count("mind").cast("long").alias("overlap"))
    )
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return ov.select(
        F.col("d").cast("long").alias("depth"),
        "overlap",
        F.col("wgt").alias("weight_nanos"),
        F.expr("CAST(wgt * overlap DIV d AS BIGINT)").alias("term_nanos"),
        F.sum(F.expr("CAST(wgt * overlap DIV d AS BIGINT)"))
        .over(wcum)
        .cast("long")
        .alias("rbo_nanos"),
    ).orderBy("depth")


# ---------------------------------------------------------------------------
# x148 — Brown's double exponential smoothing (level + trend + forecast)
# ---------------------------------------------------------------------------

_HOLT_LAGS = 8

_HOLT_NUM1 = " + ".join(
    f"{1 << (_HOLT_LAGS - 1 - k)} * COALESCE(lag(y, {k}) OVER w, 0)"
    for k in range(_HOLT_LAGS)
)
_HOLT_DEN1 = " + ".join(
    f"CASE WHEN lag(y, {k}) OVER w IS NULL THEN 0 "
    f"ELSE {1 << (_HOLT_LAGS - 1 - k)} END"
    for k in range(_HOLT_LAGS)
)
_HOLT_NUM2 = " + ".join(
    f"{1 << (_HOLT_LAGS - 1 - k)} * COALESCE(lag(s1, {k}) OVER w, 0)"
    for k in range(_HOLT_LAGS)
)
_HOLT_DEN2 = " + ".join(
    f"CASE WHEN lag(s1, {k}) OVER w IS NULL THEN 0 "
    f"ELSE {1 << (_HOLT_LAGS - 1 - k)} END"
    for k in range(_HOLT_LAGS)
)

_HOLT_ORACLE = f"""
WITH {MONTHLY_NATION_REVENUE_CTE},
e1 AS (
    SELECT c_nationkey, mon, y,
           CAST((({_HOLT_NUM1}) // ({_HOLT_DEN1})) * 1000
                + ((({_HOLT_NUM1}) % ({_HOLT_DEN1})) * 1000)
                  // ({_HOLT_DEN1}) AS BIGINT) AS s1
    FROM m
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY mon)
),
e2 AS (
    SELECT c_nationkey, mon, y, s1,
           CAST(({_HOLT_NUM2}) // ({_HOLT_DEN2}) AS BIGINT) AS s2
    FROM e1
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY mon)
)
SELECT n_name, mon, y AS revenue_cents, s1 AS s1_millis, s2 AS s2_millis,
       CAST(2 * s1 - s2 AS BIGINT) AS level_millis,
       CAST(s1 - s2 AS BIGINT) AS trend_millis,
       CAST(3 * s1 - 2 * s2 AS BIGINT) AS forecast_millis
FROM e2 JOIN nation ON c_nationkey = n_nationkey
ORDER BY n_name, mon
"""


@q(
    "x148_holt_forecast",
    "OP-W3/OP-T-ext",
    "Brown's double exponential smoothing (alpha=1/2) of monthly "
    "per-nation revenue — x119's truncated 8-term dyadic EWMA applied "
    "TWICE (S1 over revenue in exact MILLI-cents via the two-step "
    "floor division; S2 over S1 at the same milli-cent scale — "
    "milli, not micro, is the deliberate headroom choice: the "
    "second smoothing's weighted sum is <= 255*S1, and the 100x "
    "scale sweep showed 255 * micro-scaled spiky months overflowing "
    "BIGINT; at scale-3 the identical pipeline has ~1000x headroom "
    "beyond the 100x sweep), then "
    "the closed-form level = 2*S1 - S2, trend = S1 - S2 (alpha/(1-"
    "alpha) = 1 at alpha=1/2) and the 1-step-ahead forecast "
    "3*S1 - 2*S2 — a complete trend-following forecaster in exact "
    "BIGINT milli-cents end to end: dyadic weights keep every "
    "intermediate exact, all divisions have nonnegative operands "
    "(revenue >= 0 so S1 >= 0), and the possibly-negative trend is "
    "emitted by subtraction only. The lag windows run over the month-"
    "level aggregate (|nations| x |months| rows), never raw orders.",
    _HOLT_ORACLE,
)
def x148_holt_forecast(spark, sf_dir):
    m = monthly_nation_revenue(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "customer")
    )
    nat = load_table(spark, sf_dir, "nation")
    wN = Window.partitionBy("c_nationkey").orderBy("mon")

    def dyadic(col: str):
        num, den = None, None
        for k in range(_HOLT_LAGS):
            wgt = 1 << (_HOLT_LAGS - 1 - k)
            lagv = F.lag(col, k).over(wN)
            nterm = F.coalesce(lagv, F.lit(0)) * wgt
            dterm = F.when(lagv.isNull(), 0).otherwise(wgt)
            num = nterm if num is None else num + nterm
            den = dterm if den is None else den + dterm
        return num, den

    n1, d1 = dyadic("y")
    # two-step floor division keeps every intermediate exact BIGINT
    e1 = m.select(
        "c_nationkey",
        "mon",
        "y",
        n1.cast("long").alias("_n1"),
        d1.cast("long").alias("_d1"),
    )
    e1 = e1.select(
        "c_nationkey",
        "mon",
        "y",
        F.expr(
            "CAST((_n1 DIV _d1) * 1000 + ((_n1 % _d1) * 1000) DIV _d1 "
            "AS BIGINT)"
        ).alias("s1"),
    )
    n2, d2 = dyadic("s1")
    e2 = e1.select(
        "c_nationkey",
        "mon",
        "y",
        "s1",
        n2.cast("long").alias("_n2"),
        d2.cast("long").alias("_d2"),
    ).select(
        "c_nationkey",
        "mon",
        "y",
        "s1",
        F.expr("CAST(_n2 DIV _d2 AS BIGINT)").alias("s2"),
    )
    return (
        e2.join(F.broadcast(nat), e2.c_nationkey == nat.n_nationkey)
        .select(
            "n_name",
            "mon",
            F.col("y").alias("revenue_cents"),
            F.col("s1").alias("s1_millis"),
            F.col("s2").alias("s2_millis"),
            (2 * F.col("s1") - F.col("s2")).cast("long").alias("level_millis"),
            (F.col("s1") - F.col("s2")).cast("long").alias("trend_millis"),
            (3 * F.col("s1") - 2 * F.col("s2"))
            .cast("long")
            .alias("forecast_millis"),
        )
        .orderBy("n_name", "mon")
    )


# ---------------------------------------------------------------------------
# x150 — MOSS winnowing: exact substring near-dup candidate pairs
# ---------------------------------------------------------------------------

_WIN_K = 24  # k-gram length (chars)
_WIN_W = 8  # winnow window (k-grams)
_WIN_MIN_SHARED = 3  # pair emission threshold

_WINNOW_ORACLE = f"""
WITH pos AS (
    SELECT doc_id, text,
           unnest(range(1, greatest(length(text) - {_WIN_K} + 2, 1)::BIGINT))
               AS i
    FROM documents
),
kh AS (
    SELECT doc_id, i,
           CAST('0x' || substr(md5(substr(text, i::INT, {_WIN_K})), 1, 12)
                AS BIGINT) AS h
    FROM pos
),
wm AS (
    SELECT doc_id,
           MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN {_WIN_W - 1} PRECEDING AND CURRENT ROW)
               AS fp
    FROM kh
),
fps AS (SELECT DISTINCT doc_id, fp FROM wm),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_shared
FROM pairs WHERE n_shared >= {_WIN_MIN_SHARED}
ORDER BY doc_a, doc_b
"""


@q(
    "x150_winnow_dup_spans",
    "OP-X1/X2-ext",
    "Exact substring near-dup candidates via MOSS winnowing "
    "(Schleimer/Wilkerson/Aiken): every k=24-char window of every "
    "document is hashed (48-bit md5 prefix — engine-portable), and "
    "each document keeps only the MIN hash of each run of w=8 "
    "consecutive window hashes (expected fingerprint density "
    "2/(w+1) ~ 22% of positions), giving the guarantee that ANY "
    "cross-document verbatim run of >= w+k-1 = 31 characters shares "
    "at least one fingerprint. Document pairs sharing >= 3 "
    "fingerprints are emitted with counts — the Lee-et-al-style "
    "exact-substring dedup signal that catches copied SPANS exact/"
    "whole-doc dedup (x1) and bag-of-shingles MinHash (x2/x91) both "
    "miss. Scale shape: position explosion is linear in corpus "
    "CHARS but the per-doc window-min runs inside one partition-"
    "local sort; candidate pairs come from ONE fingerprint equi-join "
    "(bucketed, never all-pairs), and the shuffle carries 8-byte "
    "hashes, not text. A production corpus adds the x2-style hot-"
    "bucket cap on pathological fingerprints (boilerplate); kept "
    "uncapped here so the oracle certifies completeness.",
    _WINNOW_ORACLE,
)
def x150_winnow_dup_spans(spark, sf_dir):
    from ravelytics_spark.operators.skew import fan_out_scan

    # Round-robin fan-out of the raw docs when the scan is under-
    # parallel (r12: the single-row-group local file serialized the
    # explode+md5 pipeline onto one core — 2.1 s of the query's 3.5 s;
    # measured 3.16 s -> 1.39 s). The expansion's own window exchange
    # stays the ReusedExchange point, so the md5 pass still runs once.
    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    # positions 1 .. len-k+1; Spark sequence(a, b) DESCENDS when a > b,
    # so short docs must yield an empty array, not [1, 0, ...]
    npos = F.length("text") - F.lit(_WIN_K - 1)
    pos = d.select(
        "doc_id",
        "text",
        F.explode(
            F.when(npos >= 1, F.sequence(F.lit(1), npos)).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("i"),
    )
    kh = pos.select(
        "doc_id",
        "i",
        F.conv(
            F.substring(F.md5(F.expr(f"substring(text, i, {_WIN_K})")), 1, 12),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    wWin = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(-(_WIN_W - 1), Window.currentRow)
    )
    fps = (
        kh.select("doc_id", F.min("h").over(wWin).alias("fp"))
        .distinct()
        # NO lineage cut here, deliberately (measured, round 8): with
        # only the two pair-join sides consuming the frame, a
        # DISK_ONLY checkpoint materializes ~0.22 rows/char to disk
        # for 259 s at the 100x sweep vs 203.6 s recomputing the
        # explode+md5+window pipeline twice — the cut only pays from
        # three consumers up (x227, whose capped form also reads it
        # for the hot-bucket agg, runs 72 s at the same scale). A
        # MEMORY-backed cut is worse than either: it starved the hash
        # aggs outright (AGGREGATE_OUT_OF_MEMORY at 100x).
    )
    a, b = fps.alias("a"), fps.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= _WIN_MIN_SHARED)
    )
    return pairs.orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# x149 — RAKE-style keyword phrases (degree-scored, exact integers)
# ---------------------------------------------------------------------------

_RAKE_STOP = (
    "a an and are as at be by for from has he in is it its of on or "
    "that the to was were will with"
).split()
_RAKE_MAX_WORDS = 4
_RAKE_TOPK = 20
_RAKE_STOP_SQL = ", ".join(f"'{w}'" for w in _RAKE_STOP)

_RAKE_ORACLE = f"""
WITH norm AS (
    SELECT doc_id,
           trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g')) AS s
    FROM documents
),
tok AS (
    SELECT doc_id,
           generate_subscripts(string_split(s, ' '), 1) AS pos,
           unnest(string_split(s, ' ')) AS word
    FROM norm
),
marked AS (
    SELECT doc_id, pos, word,
           CASE WHEN word IN ({_RAKE_STOP_SQL}) OR word = ''
                THEN 1 ELSE 0 END AS is_stop
    FROM tok
),
runs AS (
    SELECT doc_id, pos, word, is_stop,
           SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS phrase_id
    FROM marked
),
pw AS (
    SELECT doc_id, phrase_id, pos, word FROM runs WHERE is_stop = 0
),
psz AS (
    SELECT doc_id, phrase_id, CAST(count(*) AS BIGINT) AS n_words
    FROM pw GROUP BY doc_id, phrase_id
    HAVING count(*) BETWEEN 1 AND {_RAKE_MAX_WORDS}
),
kept AS (
    SELECT pw.doc_id, pw.phrase_id, pw.pos, pw.word, psz.n_words
    FROM pw JOIN psz USING (doc_id, phrase_id)
),
wscore AS (
    SELECT word, CAST(SUM(n_words) AS BIGINT) AS degree
    FROM kept GROUP BY word
),
inst AS (
    SELECT k.doc_id, k.phrase_id,
           string_agg(k.word, ' ' ORDER BY k.pos) AS phrase,
           CAST(max(k.n_words) AS BIGINT) AS n_words,
           CAST(SUM(w.degree) AS BIGINT) AS deg_score
    FROM kept k JOIN wscore w ON k.word = w.word
    GROUP BY k.doc_id, k.phrase_id
)
SELECT phrase, n_words,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(max(deg_score) AS BIGINT) AS deg_score
FROM inst
GROUP BY phrase, n_words
ORDER BY deg_score DESC, phrase
LIMIT {_RAKE_TOPK}
"""


@q(
    "x149_rake_keywords",
    "OP-X4-ext",
    "RAKE-style keyword extraction (Rose et al.): candidate phrases "
    "are maximal stopword/punctuation-free word runs (the run id is a "
    "prefix SUM of the stopword indicator — the x6 sessionize idiom "
    "applied to token streams), capped at 4 words; each word's DEGREE "
    "is the summed length of every kept phrase it appears in (freq + "
    "co-occurrence, the RAKE deg(w) = sum of phrase lengths "
    "convention), and a phrase scores the SUM of its words' degrees — "
    "all exact BIGINTs, so the corpus-global score of a phrase string "
    "is instance-invariant and both engines rank identically with the "
    "(score DESC, phrase) total tie-break. The heavy lifting is two "
    "hash-aggs over exploded tokens (word-keyed shuffle carries "
    "short strings) plus one per-doc window over token positions; "
    "top-20 compiles to TakeOrderedAndProject.",
    _RAKE_ORACLE,
)
def x149_rake_keywords(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    norm = d.select(
        "doc_id",
        F.trim(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z]+", " ")
        ).alias("s"),
    )
    tok = norm.select(
        "doc_id", F.posexplode(F.split("s", " ")).alias("pos", "word")
    )
    marked = tok.select(
        "doc_id",
        "pos",
        "word",
        F.when(
            F.col("word").isin(_RAKE_STOP) | (F.col("word") == ""), 1
        )
        .otherwise(0)
        .alias("is_stop"),
    )
    wRun = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = marked.select(
        "doc_id",
        "pos",
        "word",
        "is_stop",
        F.sum("is_stop").over(wRun).alias("phrase_id"),
    )
    pw = runs.filter(F.col("is_stop") == 0).select(
        "doc_id", "phrase_id", "pos", "word"
    )
    psz = (
        pw.groupBy("doc_id", "phrase_id")
        .agg(F.count("*").cast("long").alias("n_words"))
        .filter(F.col("n_words").between(1, _RAKE_MAX_WORDS))
    )
    kept = pw.join(psz, ["doc_id", "phrase_id"])
    wscore = kept.groupBy("word").agg(
        F.sum("n_words").cast("long").alias("degree")
    )
    inst = (
        kept.join(wscore, "word")
        .groupBy("doc_id", "phrase_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda s: s.word,
                ),
                " ",
            ).alias("phrase"),
            F.max("n_words").cast("long").alias("n_words"),
            F.sum("degree").cast("long").alias("deg_score"),
        )
    )
    return (
        inst.groupBy("phrase", "n_words")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.max("deg_score").cast("long").alias("deg_score"),
        )
        .orderBy(F.desc("deg_score"), "phrase")
        .limit(_RAKE_TOPK)
    )


# ---------------------------------------------------------------------------
# x146 — Maximal Marginal Relevance diversified top-5 (unrolled greedy)
# ---------------------------------------------------------------------------

_MMR_POOL = 20
_MMR_PICKS = 5
_MMR_FX_SQL = (
    "list_transform(embedding, x -> CAST(CAST(CAST(x AS DOUBLE) "
    "AS DECIMAL(9,6)) * 1000000 AS BIGINT))"
)


def _mmr_round_ctes() -> str:
    parts = []
    for r in range(2, _MMR_PICKS + 1):
        prev = f"sel{r - 1}"
        parts.append(
            f"""ms{r} AS (
    SELECT c.vec_id, c.rel, CAST(MAX(s.s) AS BIGINT) AS maxsim
    FROM pool c
    JOIN {prev} t ON c.vec_id NOT IN (SELECT vec_id FROM {prev})
    JOIN sim s ON s.ia = c.vec_id AND s.ib = t.vec_id
    GROUP BY c.vec_id, c.rel
),
p{r} AS (
    SELECT vec_id, rel, maxsim FROM ms{r}
    ORDER BY 2 * rel * 1000000 - maxsim DESC, vec_id LIMIT 1
),
sel{r} AS (
    SELECT * FROM {prev}
    UNION ALL
    SELECT vec_id, {r} AS pick_round,
           CAST(rel * 1000000 AS BIGINT) AS rel_e12,
           maxsim AS maxsim_e12
    FROM p{r}
)"""
        )
    return ",\n".join(parts)


_MMR_ORACLE = f"""
WITH fx AS (
    SELECT vec_id, {_MMR_FX_SQL} AS f
    FROM embeddings
    WHERE len(embedding) = (SELECT max(len(embedding)) FROM embeddings)
),
ex AS (
    SELECT vec_id, generate_subscripts(f, 1) - 1 AS i, unnest(f) AS v
    FROM fx
),
rel AS (
    SELECT vec_id, CAST(SUM(v * ((i * 37) % 19 - 9)) AS BIGINT) AS rel
    FROM ex GROUP BY vec_id
),
pool AS (
    SELECT vec_id, rel FROM rel ORDER BY rel DESC, vec_id LIMIT {_MMR_POOL}
),
sim AS (
    SELECT a.vec_id AS ia, b.vec_id AS ib,
           CAST(list_dot_product(fa.f, fb.f) AS BIGINT) AS s
    FROM pool a JOIN pool b ON a.vec_id <> b.vec_id
    JOIN fx fa ON fa.vec_id = a.vec_id
    JOIN fx fb ON fb.vec_id = b.vec_id
),
p1 AS (
    SELECT vec_id, rel FROM pool ORDER BY rel DESC, vec_id LIMIT 1
),
sel1 AS (
    SELECT vec_id, 1 AS pick_round,
           CAST(rel * 1000000 AS BIGINT) AS rel_e12,
           CAST(0 AS BIGINT) AS maxsim_e12
    FROM p1
),
{_mmr_round_ctes()}
SELECT CAST(pick_round AS BIGINT) AS pick_round, vec_id, rel_e12, maxsim_e12,
       CAST(2 * rel_e12 - maxsim_e12 AS BIGINT) AS score_e12
FROM sel{_MMR_PICKS}
ORDER BY pick_round
"""


@q(
    "x146_mmr_select",
    "OP-X3/OP-X9-ext",
    "Maximal Marginal Relevance (Carbonell-Goldstein) diversified "
    "top-5 over the embedding corpus — the diversity-sampling "
    "primitive of training-data curation and search reranking: seed "
    "with the most query-relevant vector, then 4 greedy rounds each "
    "pick argmax of lambda*rel - (1-lambda)*max-sim-to-selected "
    "(lambda = 2/3, folded into integer weights 2:1). Relevance is "
    "the EXACT fixed-point inner product with a literal integer "
    "query pattern c_i = (i*37) % 19 - 9 (no dims probe needed — "
    "the weight is a function of the subscript), similarity the "
    "exact scale-12 integer dot product (x107's quantization: "
    "element products stay under 2^53, so even the oracle's double "
    "list_dot_product is integer-exact). The candidate pool is "
    "TakeOrdered-bounded at 20 BEFORE any pairwise work; the greedy "
    "rounds then run over <= 20x19 candidate/sim rows — driver-side "
    "under the guarded bounded-collect contract on the Spark side "
    "(pool size is a LITERAL, never data-dependent — the ANN-"
    "codebook rule), and as 4 unrolled CTEs in DuckDB (the x127 "
    "fixed-iteration certification pattern). Every argmax carries "
    "the (score DESC, vec_id) total tie-break, making the greedy "
    "trajectory engine-identical.",
    _MMR_ORACLE,
)
def x146_mmr_select(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    mx = e.agg(F.max(F.size("embedding")).alias("L"))
    fx = (
        e.join(F.broadcast(mx), F.size("embedding") == F.col("L"))
        .select(
            "vec_id",
            F.expr(
                "transform(embedding, x -> CAST(CAST(CAST(x AS DOUBLE) "
                "AS DECIMAL(9,6)) * 1000000 AS BIGINT))"
            ).alias("f"),
        )
    )
    rel = (
        fx.select("vec_id", F.posexplode("f").alias("i", "v"))
        .groupBy("vec_id")
        .agg(
            F.sum(F.col("v") * ((F.col("i") * 37) % 19 - 9))
            .cast("long")
            .alias("rel")
        )
    )
    # Distributed part: TakeOrdered pool selection + exact integer
    # dot products. The greedy itself runs driver-side over the
    # HARD-BOUNDED pool (<= 20 candidates, <= 20*19 sim rows) — the
    # same guarded bounded-collect contract as the ANN codebooks
    # (similarity.py): pool size is a literal, never data-dependent.
    # One corpus-scale pass: quantize -> relevance agg -> top-20.
    pool_rows = rel.orderBy(F.desc("rel"), "vec_id").limit(_MMR_POOL).collect()
    assert len(pool_rows) <= _MMR_POOL, "pool must be literal-bounded"
    if not pool_rows:
        # degenerate empty table: the oracle's CTE chain yields zero
        # rows — match it instead of max()-ing an empty pool
        # (round-10 empty-input sweep)
        return spark.createDataFrame(
            [],
            "pick_round LONG, vec_id LONG, rel_e12 LONG, maxsim_e12 LONG, "
            "score_e12 LONG",
        )
    rels = {r["vec_id"]: r["rel"] for r in pool_rows}
    # Second pass fetches ONLY the 20 pool vectors: the literal IN
    # list pushes to the parquet scan, so the embedding column is
    # decoded for matching rows alone. The 20x19 pairwise integer dot
    # products then run driver-side — Python ints are exact on the
    # same scale-6 quantized values the oracle multiplies.
    pf_rows = fx.filter(F.col("vec_id").isin(list(rels))).collect()
    vecs = {r["vec_id"]: r["f"] for r in pf_rows}
    sims = {
        (i, j): sum(x * y for x, y in zip(vecs[i], vecs[j]))
        for i in vecs
        for j in vecs
        if i != j
    }
    remaining = sorted(rels)
    seed = max(remaining, key=lambda v: (rels[v], -v))
    picks = [(1, seed, rels[seed] * 1_000_000, 0)]
    remaining.remove(seed)
    for r in range(2, _MMR_PICKS + 1):
        if not remaining:  # pool smaller than the pick budget
            break
        chosen = [p[1] for p in picks]
        best = max(
            remaining,
            key=lambda v: (
                2 * rels[v] * 1_000_000 - max(sims[(v, t)] for t in chosen),
                -v,
            ),
        )
        picks.append(
            (
                r,
                best,
                rels[best] * 1_000_000,
                max(sims[(best, t)] for t in chosen),
            )
        )
        remaining.remove(best)
    out = spark.createDataFrame(
        [
            (pr, vid, rel, ms, 2 * rel - ms)
            for pr, vid, rel, ms in picks
        ],
        "pick_round LONG, vec_id LONG, rel_e12 LONG, maxsim_e12 LONG, "
        "score_e12 LONG",
    )
    return out.orderBy("pick_round")


# ---------------------------------------------------------------------------
# x151 — watermarked stream-stream interval join (harness)
# ---------------------------------------------------------------------------


@q(
    "x151_stream_interval_join",
    "OP-T-ext",
    "Watermarked stream-stream inner interval join end-to-end: two "
    "file-source streams (views, clicks) through streaming/joins."
    "stream_click_attribution — each click attributed to same-user "
    "views within the preceding 10 minutes, watermarks on BOTH sides "
    "plus a two-sided time bound so join state is droppable (O(window "
    "traffic), not O(history) — the only stream-stream join shape "
    "that survives a 100 TB/day clickstream). Deterministic fixture: "
    "5 views x 4 clicks where exactly 3 (view, click) pairs fall "
    "inside the window, one click is pre-view (dropped by the lower "
    "bound), one click is late-but-in-window for an earlier view. "
    "Returns the attributed pairs with lag seconds; rows/schema "
    "checked by the harness (streaming semantics have no SQL oracle).",
    None,
)
def x151_stream_interval_join(spark, sf_dir):
    import os
    import shutil
    import tempfile

    from ravelytics_spark.streaming.joins import stream_click_attribution

    base = tempfile.mkdtemp(prefix="rvl_ssjoin_")
    vdir, cdir = os.path.join(base, "views"), os.path.join(base, "clicks")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(vdir)
    os.makedirs(cdir)
    t0 = "2024-03-01 12:00:00"

    def ts(minute: int, sec: int = 0) -> str:
        return f"2024-03-01 12:{minute:02d}:{sec:02d}"

    with open(os.path.join(vdir, "v.json"), "w") as fh:
        fh.write(
            "\n".join(
                [
                    f'{{"view_id": 1, "user_id": 7, "view_ts": "{t0}"}}',
                    f'{{"view_id": 2, "user_id": 7, "view_ts": "{ts(8)}"}}',
                    f'{{"view_id": 3, "user_id": 9, "view_ts": "{ts(1)}"}}',
                    f'{{"view_id": 4, "user_id": 9, "view_ts": "{ts(40)}"}}',
                    f'{{"view_id": 5, "user_id": 11, "view_ts": "{ts(5)}"}}',
                ]
            )
        )
    with open(os.path.join(cdir, "c.json"), "w") as fh:
        fh.write(
            "\n".join(
                [
                    # in-window for views 1 AND 2 (user 7, minute 9)
                    f'{{"click_id": 101, "user_id": 7, "click_ts": "{ts(9)}"}}',
                    # pre-view: before user 9's first view -> dropped
                    f'{{"click_id": 102, "user_id": 9, "click_ts": "{ts(0, 30)}"}}',
                    # in-window for view 3 (user 9, minute 10)
                    f'{{"click_id": 103, "user_id": 9, "click_ts": "{ts(10)}"}}',
                    # out-of-window for everything (user 11, minute 30)
                    f'{{"click_id": 104, "user_id": 11, "click_ts": "{ts(30)}"}}',
                ]
            )
        )
    views = spark.readStream.schema(
        "view_id long, user_id long, view_ts timestamp"
    ).json(vdir)
    clicks = spark.readStream.schema(
        "click_id long, user_id long, click_ts timestamp"
    ).json(cdir)
    q = (
        stream_click_attribution(views, clicks)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    res = (
        spark.read.parquet(out)
        .select("user_id", "view_id", "click_id", "lag_s")
        .orderBy("user_id", "view_id", "click_id")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(base, ignore_errors=True)
    return res


# ---------------------------------------------------------------------------
# x153 — deterministic hash-bootstrap confidence band for group means
# ---------------------------------------------------------------------------

_BS_B = 16  # resamples

_BS_ORACLE = f"""
WITH base AS (
    SELECT c_nationkey,
           o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders JOIN customer ON o_custkey = c_custkey
),
w AS (
    SELECT c_nationkey, cents, b.b,
           CAST('0x' || substr(md5('bs:' || b.b || ':' || o_orderkey), 1, 1)
                AS BIGINT) % 2
           + CAST('0x' || substr(md5('bs:' || b.b || ':' || o_orderkey), 2, 1)
                AS BIGINT) % 2 AS wgt
    FROM base, (SELECT unnest(range({_BS_B})) AS b) b
),
rs AS (
    SELECT c_nationkey, b,
           CAST(SUM(wgt) AS BIGINT) AS n_b,
           CAST(SUM(wgt * cents) AS BIGINT) AS s_b
    FROM w GROUP BY c_nationkey, b
),
means AS (
    SELECT c_nationkey, b,
           CAST(s_b * 1000 // n_b AS BIGINT) AS mean_millicents,
           row_number() OVER (PARTITION BY c_nationkey
                              ORDER BY s_b * 1000 // n_b, b) AS rk
    FROM rs WHERE n_b > 0
),
pt AS (
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) * 1000 // count(*) AS BIGINT)
               AS point_mean_millicents
    FROM base GROUP BY c_nationkey
)
SELECT n_name,
       pt.n_orders,
       pt.point_mean_millicents,
       CAST(max(CASE WHEN rk = 2 THEN mean_millicents END) AS BIGINT)
           AS lo_millicents,
       CAST(max(CASE WHEN rk = {_BS_B - 1} THEN mean_millicents END)
            AS BIGINT) AS hi_millicents,
       CAST(min(mean_millicents) AS BIGINT) AS min_millicents,
       CAST(max(mean_millicents) AS BIGINT) AS max_millicents
FROM means
JOIN pt USING (c_nationkey)
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name, pt.n_orders, pt.point_mean_millicents
ORDER BY n_name
"""


@q(
    "x153_hash_bootstrap_ci",
    "OP-G6/X9-ext",
    "Deterministic online bootstrap (Oza-Russell) confidence band for "
    "the per-nation mean order value: each of B=16 resamples weights "
    "every order by Binomial(2, 1/2) drawn from two md5 bits of "
    "(resample, orderkey) — a pure function of the KEY, so resample "
    "membership is reproducible across engines, partitionings and "
    "reruns (df.sample is partition-seeded and is neither). Each "
    "resample is just a weighted SUM pair (n_b, s_b) — map-side "
    "combinable, mergeable across shards, one shuffle carrying "
    "nations x B rows — and the band is an exact rank-pick over the "
    "16 resample means (2nd/15th order statistics ~ an 87% CI, plus "
    "min/max), every mean an exact nonneg floor-division to "
    "millicents. This is how a 100 TB pipeline gets uncertainty "
    "bars: B weighted aggregates in ONE pass, never B data copies.",
    _BS_ORACLE,
)
def x153_hash_bootstrap_ci(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    base = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_nationkey",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    b = spark.range(_BS_B).select(F.col("id").cast("int").alias("b"))
    digest = F.md5(
        F.concat(
            F.lit("bs:"),
            F.col("b").cast("string"),
            F.lit(":"),
            F.col("o_orderkey").cast("string"),
        )
    )
    wgt = (
        F.conv(F.substring(digest, 1, 1), 16, 10).cast("long") % 2
        + F.conv(F.substring(digest, 2, 1), 16, 10).cast("long") % 2
    )
    w = base.crossJoin(F.broadcast(b)).select(
        "c_nationkey", "cents", "b", wgt.alias("wgt")
    )
    rs = w.groupBy("c_nationkey", "b").agg(
        F.sum("wgt").cast("long").alias("n_b"),
        F.sum(F.col("wgt") * F.col("cents")).cast("long").alias("s_b"),
    )
    means = rs.filter(F.col("n_b") > 0).select(
        "c_nationkey",
        "b",
        F.expr("CAST(s_b * 1000 DIV n_b AS BIGINT)").alias("mean_millicents"),
        F.row_number()
        .over(
            Window.partitionBy("c_nationkey").orderBy(
                F.expr("s_b * 1000 DIV n_b"), "b"
            )
        )
        .alias("rk"),
    )
    pt = base.groupBy("c_nationkey").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.expr("CAST(SUM(cents) * 1000 DIV count(*) AS BIGINT)").alias(
            "point_mean_millicents"
        ),
    )
    return (
        means.join(pt, "c_nationkey")
        .join(F.broadcast(nat), F.col("c_nationkey") == nat.n_nationkey)
        .groupBy("n_name", "n_orders", "point_mean_millicents")
        .agg(
            F.max(F.when(F.col("rk") == 2, F.col("mean_millicents")))
            .cast("long")
            .alias("lo_millicents"),
            F.max(
                F.when(F.col("rk") == _BS_B - 1, F.col("mean_millicents"))
            )
            .cast("long")
            .alias("hi_millicents"),
            F.min("mean_millicents").cast("long").alias("min_millicents"),
            F.max("mean_millicents").cast("long").alias("max_millicents"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# x154 — item-item collaborative filtering (co-order cosine top-k)
# ---------------------------------------------------------------------------

_CF_SEEDS = 10
_CF_TOPK = 5

_CF_ORACLE = f"""
WITH pk AS (
    {COORDER_PK_SQL}
),
deg AS (
    SELECT p, CAST(count(*) AS BIGINT) AS c FROM pk GROUP BY p
),
seeds AS (
    SELECT p, c FROM deg ORDER BY c DESC, p LIMIT {_CF_SEEDS}
),
co AS (
    SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS cij
    FROM pk a JOIN pk b ON a.o = b.o AND a.p <> b.p
    WHERE a.p IN (SELECT p FROM seeds)
    GROUP BY a.p, b.p
),
scored AS (
    SELECT co.pa, co.pb, co.cij,
           CAST(co.cij * co.cij * 1000000 // (da.c * db.c) AS BIGINT)
               AS cos2_millionths,
           row_number() OVER (
               PARTITION BY co.pa
               ORDER BY co.cij * co.cij * 1000000 // (da.c * db.c) DESC,
                        co.cij DESC, co.pb) AS rk
    FROM co
    JOIN deg da ON da.p = co.pa
    JOIN deg db ON db.p = co.pb
)
SELECT pa AS seed_part, pb AS rec_part, cij AS n_co_orders,
       cos2_millionths, CAST(rk AS BIGINT) AS rk
FROM scored WHERE rk <= {_CF_TOPK}
ORDER BY seed_part, rk
"""


@q(
    "x154_item_cf_topk",
    "OP-X3/J2-ext",
    "Item-item collaborative filtering: for the 10 most-ordered parts, "
    "the top-5 'customers also ordered' neighbors by co-occurrence "
    "cosine c_ij/sqrt(c_i*c_j) — ranked WITHOUT sqrt via the exact "
    "squared-cosine integer c_ij^2 * 1e6 / (c_i*c_j) (nonneg floor "
    "division; monotone in the true cosine, so the ranking is "
    "identical and engine-exact; ties broken by raw co-count then "
    "part id). Candidate pairs come from the basket self-join "
    "restricted to SEED rows — work is seeds x basket width, bounded "
    "by the x103 wedge argument, never all-pairs over the catalog — "
    "and the seed set itself is a TakeOrdered-10. Integer domain: "
    "c_ij^2 * 1e6 needs c_ij < 3e6 co-orders per pair (fine for any "
    "real basket corpus; beyond that, drop the 1e6 scale or bucket "
    "counts first). The everyday 'frequently bought together' "
    "primitive, exact on both engines.",
    _CF_ORACLE,
)
def x154_item_cf_topk(spark, sf_dir):
    pk = coorder_pk(load_table(spark, sf_dir, "lineitem"))
    deg = pk.groupBy("p").agg(F.count("*").cast("long").alias("c"))
    seeds = deg.orderBy(F.desc("c"), "p").limit(_CF_SEEDS)
    a = pk.join(F.broadcast(seeds.select("p")), "p").select(
        F.col("o"), F.col("p").alias("pa")
    )
    b = pk.select(F.col("o"), F.col("p").alias("pb"))
    co = (
        a.join(b, "o")
        .filter(F.col("pa") != F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").cast("long").alias("cij"))
    )
    da = deg.select(F.col("p").alias("pa"), F.col("c").alias("ca"))
    db = deg.select(F.col("p").alias("pb"), F.col("c").alias("cb"))
    scored = (
        co.join(F.broadcast(da), "pa")
        .join(db, "pb")
        .select(
            "pa",
            "pb",
            "cij",
            F.expr(
                "CAST(cij * cij * 1000000 DIV (ca * cb) AS BIGINT)"
            ).alias("cos2_millionths"),
        )
    )
    ranked = scored.select(
        "*",
        F.row_number()
        .over(
            Window.partitionBy("pa").orderBy(
                F.desc("cos2_millionths"), F.desc("cij"), "pb"
            )
        )
        .alias("rk"),
    )
    return (
        ranked.filter(F.col("rk") <= _CF_TOPK)
        .select(
            F.col("pa").alias("seed_part"),
            F.col("pb").alias("rec_part"),
            F.col("cij").alias("n_co_orders"),
            "cos2_millionths",
            F.col("rk").cast("long").alias("rk"),
        )
        .orderBy("seed_part", "rk")
    )


# ---------------------------------------------------------------------------
# x155 — Theil-Sen robust trend slope (median of pairwise slopes)
# ---------------------------------------------------------------------------

# Portable SIGNED floor division: Spark's DIV truncates toward zero and
# DuckDB's // floors, so they disagree on negative numerators. Both
# engines' % carries the DIVIDEND's sign, so the nonneg remainder
# r = ((a % b) + b) % b is engine-identical for b > 0, and
# (a - r) / b is the exact mathematical floor in both. The final `/`
# returns DOUBLE in both engines, but (a - r) is exactly divisible by
# b, so the quotient is an integer-valued double — exact as long as
# |quotient| < 2^53 (callers must keep the scaled quotient under
# ~9e15; the CAST back to BIGINT is then lossless).
def _fdiv_sql(a: str, b: str) -> str:
    return f"(({a}) - ((({a}) % ({b})) + ({b})) % ({b})) / ({b})"


_TS_ORACLE = f"""
WITH m AS (
    SELECT c_nationkey,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey, mon
),
t AS (
    SELECT c_nationkey, y,
           row_number() OVER (PARTITION BY c_nationkey ORDER BY mon) AS t
    FROM m
),
pairs AS (
    SELECT a.c_nationkey,
           CAST({_fdiv_sql('(b.y - a.y) * 1000000', 'b.t - a.t')} AS BIGINT)
               AS slope_micros,
           a.t AS ti, b.t AS tj
    FROM t a JOIN t b ON a.c_nationkey = b.c_nationkey AND a.t < b.t
),
ranked AS (
    SELECT c_nationkey, slope_micros,
           row_number() OVER (PARTITION BY c_nationkey
                              ORDER BY slope_micros, ti, tj) AS rk,
           count(*) OVER (PARTITION BY c_nationkey) AS np
    FROM pairs
)
SELECT n_name,
       CAST(max(np) AS BIGINT) AS n_pairs,
       CAST(max(CASE WHEN rk = (np + 1) // 2 THEN slope_micros END)
            AS BIGINT) AS theil_sen_micros,
       CAST(min(slope_micros) AS BIGINT) AS min_slope_micros,
       CAST(max(slope_micros) AS BIGINT) AS max_slope_micros
FROM ranked JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""


@q(
    "x155_theil_sen",
    "OP-G6/W-ext",
    "Theil-Sen robust trend: the MEDIAN of all pairwise monthly "
    "revenue slopes per nation — the estimator that shrugs off the "
    "outlier months that bend x114's OLS line (29% breakdown point). "
    "Slopes are exact integer micro-cents/month via a PORTABLE "
    "signed floor division ((a - ((a%b)+b)%b) / b — Spark DIV "
    "truncates toward zero, DuckDB // floors, but both %'s follow "
    "the dividend sign, so the nonneg-remainder form is the exact "
    "mathematical floor in BOTH engines even for negative dy). The "
    "median is an exact rank-pick with a total (slope, i, j) "
    "tie-break. Pair space is months-squared PER NATION (~3k rows "
    "per key at 7 years — the window and self-join run over the "
    "month-level aggregate, never raw orders), which is the "
    "standard Theil-Sen deployment shape: per-series pairs, series "
    "count scales out, pair count per series stays calendar-bounded.",
    _TS_ORACLE,
)
def x155_theil_sen(spark, sf_dir):
    m = monthly_nation_revenue(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "customer")
    )
    nat = load_table(spark, sf_dir, "nation")
    t = m.select(
        "c_nationkey",
        "y",
        F.row_number()
        .over(Window.partitionBy("c_nationkey").orderBy("mon"))
        .alias("t"),
    )
    a, b = t.alias("a"), t.alias("b")
    fdiv = _fdiv_sql("(b.y - a.y) * 1000000", "b.t - a.t")
    pairs = a.join(
        b,
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("a.t") < F.col("b.t")),
    ).select(
        F.col("a.c_nationkey").alias("c_nationkey"),
        F.expr(f"CAST({fdiv} AS BIGINT)").alias("slope_micros"),
        F.col("a.t").alias("ti"),
        F.col("b.t").alias("tj"),
    )
    wN = Window.partitionBy("c_nationkey")
    ranked = pairs.select(
        "c_nationkey",
        "slope_micros",
        F.row_number()
        .over(wN.orderBy("slope_micros", "ti", "tj"))
        .alias("rk"),
        F.count("*").over(wN).alias("np"),
    )
    return (
        ranked.join(F.broadcast(nat), F.col("c_nationkey") == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.max("np").cast("long").alias("n_pairs"),
            F.max(
                F.when(
                    F.col("rk") == F.expr("(np + 1) DIV 2"),
                    F.col("slope_micros"),
                )
            )
            .cast("long")
            .alias("theil_sen_micros"),
            F.min("slope_micros").cast("long").alias("min_slope_micros"),
            F.max("slope_micros").cast("long").alias("max_slope_micros"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# x156 — knee/elbow point of the cumulative revenue curve
# ---------------------------------------------------------------------------

_KNEE_ORACLE = f"""
WITH {MONTHLY_REVENUE_CTE},
cum AS (
    SELECT mon, y,
           SUM(y) OVER (ORDER BY mon ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cy,
           row_number() OVER (ORDER BY mon) AS t,
           count(*) OVER () AS n
    FROM m
),
ends AS (
    SELECT max(CASE WHEN t = 1 THEN cy END) AS y0,
           max(CASE WHEN t = n THEN cy END) AS y1,
           max(n) AS n
    FROM cum
),
cross_d AS (
    SELECT c.mon, c.cy, c.t,
           CAST((e.y1 - e.y0) * (c.t - 1) - (e.n - 1) * (c.cy - e.y0)
                AS BIGINT) AS cross_2a
    FROM cum c, ends e
)
SELECT mon, CAST(cy AS BIGINT) AS cum_cents, cross_2a,
       CASE WHEN abs(cross_2a) = (SELECT max(abs(cross_2a)) FROM cross_d)
                 AND abs(cross_2a) > 0
            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS is_knee
FROM cross_d
ORDER BY mon
"""


@q(
    "x156_knee_point",
    "OP-W4/OP-T-ext",
    "Knee/elbow detection on the cumulative monthly revenue curve "
    "(the Kneedle idea reduced to its exact geometric core): the knee "
    "is the month maximizing the distance to the chord between the "
    "curve's endpoints, and since that distance is |cross product| / "
    "|chord| with a CONSTANT denominator, the argmax needs only the "
    "exact integer cross product (y1-y0)*(t-t0) - (t1-t0)*(cy-y0) — "
    "no sqrt, no floats, engine-exact (ties: every tying month is "
    "flagged). The curve lives on the MONTH-level aggregate (the "
    "x74/x77 aggregate-first idiom — global windows run over tens of "
    "rows at any corpus size). The everyday 'where does growth bend' "
    "/ 'pick k at the elbow' primitive, here over a revenue "
    "timeline.",
    _KNEE_ORACLE,
)
def x156_knee_point(spark, sf_dir):
    m = monthly_revenue(load_table(spark, sf_dir, "orders"))
    wCum = Window.orderBy("mon").rowsBetween(Window.unboundedPreceding, 0)
    wAll = Window.partitionBy()
    cum = m.select(
        "mon",
        "y",
        F.sum("y").over(wCum).alias("cy"),
        F.row_number().over(Window.orderBy("mon")).alias("t"),
        F.count("*").over(wAll).alias("n"),
    )
    ends = cum.agg(
        F.max(F.when(F.col("t") == 1, F.col("cy"))).alias("y0"),
        F.max(F.when(F.col("t") == F.col("n"), F.col("cy"))).alias("y1"),
        F.max("n").alias("n_months"),
    )
    crossed = cum.crossJoin(F.broadcast(ends)).select(
        "mon",
        "cy",
        F.expr(
            "CAST((y1 - y0) * (t - 1) - (n_months - 1) * (cy - y0) AS BIGINT)"
        ).alias("cross_2a"),
    )
    mx = crossed.agg(F.max(F.abs("cross_2a")).alias("mx"))
    return (
        crossed.crossJoin(F.broadcast(mx))
        .select(
            "mon",
            F.col("cy").alias("cum_cents"),
            "cross_2a",
            F.when(
                (F.abs("cross_2a") == F.col("mx")) & (F.abs("cross_2a") > 0),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("is_knee"),
        )
        .orderBy("mon")
    )


# ---------------------------------------------------------------------------
# x157 — split-conformal prediction band for the naive forecaster
# ---------------------------------------------------------------------------

_CONF_CAL_MONTHS = 24  # calibration prefix per nation

_CONF_ORACLE = f"""
WITH {MONTHLY_NATION_REVENUE_CTE},
r AS (
    SELECT c_nationkey, mon, y,
           row_number() OVER w AS t,
           abs(y - lag(y) OVER w) AS ares
    FROM m WINDOW w AS (PARTITION BY c_nationkey ORDER BY mon)
),
cal AS (
    SELECT c_nationkey, ares,
           row_number() OVER (PARTITION BY c_nationkey ORDER BY ares, mon)
               AS rk,
           count(*) OVER (PARTITION BY c_nationkey) AS nc
    FROM r WHERE t BETWEEN 2 AND {_CONF_CAL_MONTHS}
),
q AS (
    SELECT c_nationkey,
           CAST(max(CASE WHEN rk = (9 * nc + 9) // 10 THEN ares END)
                AS BIGINT) AS q90_cents,
           CAST(max(nc) AS BIGINT) AS n_cal
    FROM cal GROUP BY c_nationkey
),
ev AS (
    SELECT r.c_nationkey,
           CAST(count(*) AS BIGINT) AS n_eval,
           CAST(SUM(CASE WHEN r.ares <= q.q90_cents THEN 1 ELSE 0 END)
                AS BIGINT) AS n_covered
    FROM r JOIN q ON r.c_nationkey = q.c_nationkey
    WHERE r.t > {_CONF_CAL_MONTHS}
    GROUP BY r.c_nationkey
)
SELECT n_name, q.n_cal, q.q90_cents, ev.n_eval, ev.n_covered,
       CAST(ev.n_covered * 1000000 // ev.n_eval AS BIGINT)
           AS coverage_millionths
FROM q JOIN ev ON q.c_nationkey = ev.c_nationkey
JOIN nation ON q.c_nationkey = n_nationkey
ORDER BY n_name
"""


@q(
    "x157_conformal_band",
    "OP-W3/G6-ext",
    "Split-conformal prediction band for the naive month-ahead "
    "forecaster: per nation, absolute one-step residuals |y_t - "
    "y_{{t-1}}| on a 24-month calibration prefix give the band "
    "half-width as the EXACT rank-9/10 order statistic (ceil via "
    "(9n+9) DIV 10 on nonneg ints, total (ares, mon) tie-break); "
    "the held-out months then report realized coverage — the "
    "distribution-free ~90% guarantee conformal prediction promises, "
    "checked in exact integers end to end (band in cents, coverage "
    "one floor-division to millionths). Calibration/eval split is by "
    "POSITION in the series (no randomness), windows partition on "
    "nation over the month aggregate. This is the uncertainty "
    "wrapper that upgrades any point forecaster (x148) to intervals "
    "at 100 TB cost: two windows and one rank-pick per series.",
    _CONF_ORACLE,
)
def x157_conformal_band(spark, sf_dir):
    m = monthly_nation_revenue(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "customer")
    )
    nat = load_table(spark, sf_dir, "nation")
    wN = Window.partitionBy("c_nationkey").orderBy("mon")
    r = m.select(
        "c_nationkey",
        "mon",
        F.row_number().over(wN).alias("t"),
        F.abs(F.col("y") - F.lag("y").over(wN)).alias("ares"),
    )
    cal = r.filter(
        (F.col("t") >= 2) & (F.col("t") <= _CONF_CAL_MONTHS)
    ).select(
        "c_nationkey",
        "ares",
        F.row_number()
        .over(Window.partitionBy("c_nationkey").orderBy("ares", "mon"))
        .alias("rk"),
        F.count("*")
        .over(Window.partitionBy("c_nationkey"))
        .alias("nc"),
    )
    q = cal.groupBy("c_nationkey").agg(
        F.max(
            F.when(F.col("rk") == F.expr("(9 * nc + 9) DIV 10"), F.col("ares"))
        )
        .cast("long")
        .alias("q90_cents"),
        F.max("nc").cast("long").alias("n_cal"),
    )
    ev = (
        r.filter(F.col("t") > _CONF_CAL_MONTHS)
        .join(q, "c_nationkey")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").cast("long").alias("n_eval"),
            F.sum(
                F.when(F.col("ares") <= F.col("q90_cents"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_covered"),
        )
    )
    return (
        q.join(ev, "c_nationkey")
        .join(F.broadcast(nat), F.col("c_nationkey") == nat.n_nationkey)
        .select(
            "n_name",
            "n_cal",
            "q90_cents",
            "n_eval",
            "n_covered",
            F.expr(
                "CAST(n_covered * 1000000 DIV n_eval AS BIGINT)"
            ).alias("coverage_millionths"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# x158 — MASE: naive vs seasonal-naive forecast error ratio
# ---------------------------------------------------------------------------

_MASE_ORACLE = f"""
WITH {MONTHLY_NATION_REVENUE_CTE},
r AS (
    SELECT c_nationkey,
           abs(y - lag(y, 1) OVER w) AS e1,
           abs(y - lag(y, 12) OVER w) AS e12
    FROM m WINDOW w AS (PARTITION BY c_nationkey ORDER BY mon)
),
s AS (
    SELECT c_nationkey,
           CAST(count(e12) AS BIGINT) AS n_common,
           CAST(SUM(CASE WHEN e12 IS NOT NULL THEN e1 END) AS BIGINT)
               AS sae_naive,
           CAST(SUM(e12) AS BIGINT) AS sae_seasonal
    FROM r WHERE e1 IS NOT NULL
    GROUP BY c_nationkey
)
SELECT n_name, n_common, sae_naive, sae_seasonal,
       CAST(sae_naive * 1000000 // sae_seasonal AS BIGINT)
           AS mase_millionths
FROM s JOIN nation ON c_nationkey = n_nationkey
WHERE sae_seasonal > 0
ORDER BY n_name
"""


@q(
    "x158_mase_eval",
    "OP-G6/W3-ext",
    "MASE-style forecaster comparison per nation: the summed absolute "
    "error of the NAIVE month-ahead forecast vs the SEASONAL-naive "
    "(lag-12) forecast over the months where both are defined — the "
    "scale-free forecast-accuracy staple (Hyndman-Koehler) that x148/"
    "x157 report against. Ratio < 1 means momentum beats seasonality "
    "on this series. Everything is exact: absolute errors in integer "
    "cents, one floor-division to millionths, the common-support "
    "restriction (e12 defined) applied identically in both engines. "
    "Cost shape: two lag windows over the nation x month aggregate "
    "and one hash-agg — evaluation is as cheap as the forecast.",
    _MASE_ORACLE,
)
def x158_mase_eval(spark, sf_dir):
    m = monthly_nation_revenue(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "customer")
    )
    nat = load_table(spark, sf_dir, "nation")
    wN = Window.partitionBy("c_nationkey").orderBy("mon")
    r = m.select(
        "c_nationkey",
        F.abs(F.col("y") - F.lag("y", 1).over(wN)).alias("e1"),
        F.abs(F.col("y") - F.lag("y", 12).over(wN)).alias("e12"),
    )
    s = (
        r.filter(F.col("e1").isNotNull())
        .groupBy("c_nationkey")
        .agg(
            F.count("e12").cast("long").alias("n_common"),
            F.sum(F.when(F.col("e12").isNotNull(), F.col("e1")))
            .cast("long")
            .alias("sae_naive"),
            F.sum("e12").cast("long").alias("sae_seasonal"),
        )
    )
    return (
        s.filter(F.col("sae_seasonal") > 0)
        .join(F.broadcast(nat), s.c_nationkey == nat.n_nationkey)
        .select(
            "n_name",
            "n_common",
            "sae_naive",
            "sae_seasonal",
            F.expr(
                "CAST(sae_naive * 1000000 DIV sae_seasonal AS BIGINT)"
            ).alias("mase_millionths"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# x159 — two-sample KS drift: each source's length distribution vs rest
# ---------------------------------------------------------------------------

_KS_ORACLE = """
WITH d AS (
    SELECT source, n_chars AS v FROM documents
),
per AS (
    SELECT source, v, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY source, v
),
tot AS (
    SELECT v, CAST(count(*) AS BIGINT) AS ct FROM d GROUP BY v
),
ns AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM d GROUP BY source
),
grand AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
grid AS (
    SELECT s.source, t.v, t.ct, COALESCE(p.c, 0) AS c
    FROM (SELECT DISTINCT source FROM d) s
    CROSS JOIN tot t
    LEFT JOIN per p ON p.source = s.source AND p.v = t.v
),
cum AS (
    SELECT source, v,
           SUM(c) OVER (PARTITION BY source ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cs,
           SUM(ct) OVER (PARTITION BY source ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS call
    FROM grid
),
dd AS (
    SELECT c.source, c.v,
           abs(c.cs * (g.n - ns.n_s) - (c.call - c.cs) * ns.n_s) AS dnum
    FROM cum c JOIN ns ON c.source = ns.source CROSS JOIN grand g
),
mx AS (
    SELECT source AS msource, CAST(max(dnum) AS BIGINT) AS d_num,
           CAST(min(CASE WHEN dnum = m THEN v END) AS BIGINT) AS at_chars
    FROM (SELECT source, v, dnum, max(dnum) OVER (PARTITION BY source) AS m
          FROM dd)
    GROUP BY source
)
SELECT mx.msource AS source, ns.n_s,
       CAST(g.n - ns.n_s AS BIGINT) AS n_rest,
       mx.d_num, mx.at_chars,
       CAST(mx.d_num * 1000000 // (ns.n_s * (g.n - ns.n_s)) AS BIGINT)
           AS ks_millionths
FROM mx JOIN ns ON mx.msource = ns.source CROSS JOIN grand g
ORDER BY source
"""


@q(
    "x159_ks_drift",
    "OP-G6/X9-ext",
    "Two-sample Kolmogorov-Smirnov drift per source: the KS distance "
    "between each source's document-length distribution and the rest "
    "of the corpus, computed EXACTLY — the ECDF difference "
    "|F_s - F_rest| is compared via the cleared-denominator integer "
    "|cum_s * n_rest - cum_rest * n_s| (no float ECDFs, so the "
    "argmax threshold and the distance are engine-identical; the "
    "millionths ratio is one nonneg floor-division at the end). The "
    "ECDF grid is sources x distinct-lengths (a broadcast lattice, "
    "the x116 idiom) with cumulative windows per source over the "
    "VALUE-level aggregate — corpus-sized work is the two hash-aggs. "
    "This is the drift detector a training-mix monitor runs per "
    "ingest batch: distribution shift caught at exact-arithmetic "
    "fidelity, reported with WHERE the gap peaks (at_chars).",
    _KS_ORACLE,
)
def x159_ks_drift(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").alias("v")
    )
    per = d.groupBy("source", "v").agg(F.count("*").cast("long").alias("c"))
    tot = d.groupBy("v").agg(F.count("*").cast("long").alias("ct"))
    ns = d.groupBy("source").agg(F.count("*").cast("long").alias("n_s"))
    grand = d.agg(F.count("*").cast("long").alias("n"))
    srcs = d.select("source").distinct()
    grid = (
        srcs.crossJoin(F.broadcast(tot))
        .join(per, ["source", "v"], "left")
        .select(
            "source", "v", "ct", F.coalesce(F.col("c"), F.lit(0)).alias("c")
        )
    )
    wS = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.select(
        "source",
        "v",
        F.sum("c").over(wS).alias("cs"),
        F.sum("ct").over(wS).alias("call"),
    )
    dd = (
        cum.join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(grand))
        .select(
            "source",
            "v",
            F.abs(
                F.col("cs") * (F.col("n") - F.col("n_s"))
                - (F.col("call") - F.col("cs")) * F.col("n_s")
            ).alias("dnum"),
        )
    )
    wM = Window.partitionBy("source")
    mx = (
        dd.select(
            "source", "v", "dnum", F.max("dnum").over(wM).alias("m")
        )
        .groupBy("source")
        .agg(
            F.max("dnum").cast("long").alias("d_num"),
            F.min(F.when(F.col("dnum") == F.col("m"), F.col("v")))
            .cast("long")
            .alias("at_chars"),
        )
    )
    return (
        mx.join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(grand))
        .select(
            "source",
            "n_s",
            (F.col("n") - F.col("n_s")).cast("long").alias("n_rest"),
            "d_num",
            "at_chars",
            F.expr(
                "CAST(d_num * 1000000 DIV (n_s * (n - n_s)) AS BIGINT)"
            ).alias("ks_millionths"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# x160 — exact-integer two-proportion significance (A/B test decision)
# ---------------------------------------------------------------------------

_AB_CRIT_NUM = 38416  # z^2 critical value 3.8416 (alpha=0.05), scaled 1e4
_AB_CRIT_DEN = 10000

_AB_ORACLE = f"""
WITH g AS (
    SELECT p_brand,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END)
                AS BIGINT) AS n1,
           CAST(SUM(CASE WHEN l_linestatus = 'O' AND l_returnflag = 'R'
                         THEN 1 ELSE 0 END) AS BIGINT) AS x1,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS n2,
           CAST(SUM(CASE WHEN l_linestatus = 'F' AND l_returnflag = 'R'
                         THEN 1 ELSE 0 END) AS BIGINT) AS x2
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
),
ok AS (
    SELECT * FROM g
    WHERE n1 > 0 AND n2 > 0 AND x1 + x2 > 0 AND x1 + x2 < n1 + n2
)
SELECT p_brand, n1, x1, n2, x2,
       CAST(CASE WHEN x1 * n2 > x2 * n1 THEN 1
                 WHEN x1 * n2 < x2 * n1 THEN -1 ELSE 0 END AS BIGINT)
           AS diff_sign,
       CAST(CASE WHEN
                CAST(x1 * n2 - x2 * n1 AS DECIMAL(38, 0))
                * CAST(x1 * n2 - x2 * n1 AS DECIMAL(38, 0))
                * CAST((n1 + n2) * {_AB_CRIT_DEN} AS DECIMAL(38, 0))
                >=
                CAST({_AB_CRIT_NUM} * (x1 + x2) AS DECIMAL(38, 0))
                * CAST(n1 + n2 - x1 - x2 AS DECIMAL(38, 0))
                * CAST(n1 * n2 AS DECIMAL(38, 0))
            THEN 1 ELSE 0 END AS BIGINT) AS significant
FROM ok
ORDER BY p_brand
"""


@q(
    "x160_ab_significance",
    "OP-G5/G6-ext",
    "Two-proportion z-test decided ENTIRELY in exact integer/decimal "
    "arithmetic: per brand, return rates of the 'O' vs 'F' line-"
    "status cohorts are compared at alpha=0.05 by clearing every "
    "denominator out of z^2 = (x1*n2 - x2*n1)^2 * N / (n1*n2*(x1+x2)"
    "*(N-x)) >= 3.8416 — the cross-multiplied inequality runs in "
    "DECIMAL(38,0) (both engines compute it exactly; every factor is "
    "cast to DECIMAL BEFORE multiplication — the 100x sweep caught "
    "the original form squaring the ~1e11 rate-difference in BIGINT "
    "first, an overflow invisible at certification scale; products "
    "now peak ~3e33 at 100x sf0.1, inside 38 digits), so "
    "the significance DECISION has no float rounding to disagree "
    "over, the x138 no-sqrt-no-float-compare discipline applied to "
    "hypothesis testing. Degenerate cohorts (empty side, all-or-no "
    "returns) are excluded identically. One fact-join hash-agg "
    "produces all four cohort counters per brand — the A/B decision "
    "layer is free once the counts exist.",
    _AB_ORACLE,
)
def x160_ab_significance(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    g = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(F.when(F.col("l_linestatus") == "O", 1).otherwise(0))
            .cast("long")
            .alias("n1"),
            F.sum(
                F.when(
                    (F.col("l_linestatus") == "O")
                    & (F.col("l_returnflag") == "R"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("x1"),
            F.sum(F.when(F.col("l_linestatus") == "F", 1).otherwise(0))
            .cast("long")
            .alias("n2"),
            F.sum(
                F.when(
                    (F.col("l_linestatus") == "F")
                    & (F.col("l_returnflag") == "R"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("x2"),
        )
    )
    ok = g.filter(
        (F.col("n1") > 0)
        & (F.col("n2") > 0)
        & (F.col("x1") + F.col("x2") > 0)
        & (F.col("x1") + F.col("x2") < F.col("n1") + F.col("n2"))
    )
    return ok.select(
        "p_brand",
        "n1",
        "x1",
        "n2",
        "x2",
        F.expr(
            "CAST(CASE WHEN x1 * n2 > x2 * n1 THEN 1 "
            "WHEN x1 * n2 < x2 * n1 THEN -1 ELSE 0 END AS BIGINT)"
        ).alias("diff_sign"),
        F.expr(
            f"CAST(CASE WHEN "
            f"CAST(x1 * n2 - x2 * n1 AS DECIMAL(38, 0)) "
            f"* CAST(x1 * n2 - x2 * n1 AS DECIMAL(38, 0)) "
            f"* CAST((n1 + n2) * {_AB_CRIT_DEN} AS DECIMAL(38, 0)) "
            f">= "
            f"CAST({_AB_CRIT_NUM} * (x1 + x2) AS DECIMAL(38, 0)) "
            f"* CAST(n1 + n2 - x1 - x2 AS DECIMAL(38, 0)) "
            f"* CAST(n1 * n2 AS DECIMAL(38, 0)) "
            f"THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("significant"),
    ).orderBy("p_brand")


# ---------------------------------------------------------------------------
# x161 — watermark late-data semantics end-to-end (harness)
# ---------------------------------------------------------------------------


@q(
    "x161_late_data_watermark",
    "OP-T2-ext",
    "Event-time watermark late-data policy driven end to end: a "
    "10-minute tumbling count with a 10-minute watermark consumes "
    "three micro-batches (maxFilesPerTrigger=1 under "
    "Trigger.AvailableNow), where batch 2 advances the watermark "
    "past window W1 and batch 3 then delivers (a) a LATE event for "
    "W1 — dropped, its window already finalized — and (b) a "
    "late-but-within-watermark event for W2 — still counted. Append "
    "mode emits each window exactly once, when the watermark passes "
    "it. This is the §2.8 semantics the reference pipeline simply "
    "lacks (its MV chain has no watermark/late policy at all — "
    "001_init_spotify_tracks.sql:50-74 is pure append): bounded "
    "state + deterministic late-data handling is what makes a "
    "100 TB/day windowed aggregate finalizable. Harness entry "
    "(streaming finalization has no SQL oracle); the exact emitted "
    "windows are pinned by test.",
    None,
)
def x161_late_data_watermark(spark, sf_dir):
    import os
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="rvl_wm_")
    src = os.path.join(base, "src")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(src)

    _mtime = [1_700_000_000]

    def write_batch(name: str, rows: list[str]) -> None:
        path = os.path.join(src, name)
        with open(path, "w") as fh:
            fh.write("\n".join(rows))
        # the file source orders batches by modification time; pin
        # strictly increasing mtimes so b1 < b2 < b3 deterministically
        _mtime[0] += 60
        os.utime(path, (_mtime[0], _mtime[0]))

    # W1 = [12:00, 12:10), W2 = [12:10, 12:20), W3 = [12:20, 12:30)
    write_batch(
        "b1.json",
        [
            '{"event_id": 1, "ts": "2024-03-01 12:01:00"}',
            '{"event_id": 2, "ts": "2024-03-01 12:05:00"}',
            '{"event_id": 3, "ts": "2024-03-01 12:11:00"}',
        ],
    )
    def run_batch() -> None:
        # one AvailableNow run per fixture file, all sharing the
        # checkpoint: each run consumes only the new file, and the
        # watermark persists/advances across runs (the x59 sequential
        # micro-batch pattern — a single run would collapse all files
        # into one batch and never observe "late").
        stream = spark.readStream.schema("event_id long, ts timestamp").json(
            src
        )
        counts = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "10 minutes").alias("w"))
            .agg(F.count("*").cast("long").alias("n"))
            .select(F.col("w.start").alias("w_start"), "n")
        )
        q = (
            counts.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_batch()
    # advances max event time to 12:31 -> watermark 12:21: W1 and W2
    # are both finalized by the NEXT run
    write_batch(
        "b2.json",
        [
            '{"event_id": 4, "ts": "2024-03-01 12:31:00"}',
            '{"event_id": 5, "ts": "2024-03-01 12:12:00"}',
        ],
    )
    run_batch()
    # event 6 is LATE for W1 (watermark long past 12:10) -> dropped;
    # event 7 lands in W3, which is still open
    write_batch(
        "b3.json",
        [
            '{"event_id": 6, "ts": "2024-03-01 12:02:00"}',
            '{"event_id": 7, "ts": "2024-03-01 12:29:00"}',
        ],
    )
    run_batch()
    res = (
        spark.read.parquet(out)
        .orderBy("w_start")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(base, ignore_errors=True)
    return res


# ---------------------------------------------------------------------------
# x164 — capped sessionization: gap AND max-span rules (applyInPandas)
# ---------------------------------------------------------------------------

_SESS_GAP_DAYS = 30
_SESS_SPAN_DAYS = 60

_CAPPED_ORACLE = f"""
WITH RECURSIVE o AS (
    SELECT o_custkey AS ck, CAST(o_orderdate AS DATE) AS d,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS rn
    FROM orders
),
walk AS (
    SELECT ck, rn, d, 1 AS sess_id, d AS sess_start
    FROM o WHERE rn = 1
    UNION ALL
    SELECT o.ck, o.rn, o.d,
           CASE WHEN date_diff('day', w.d, o.d) > {_SESS_GAP_DAYS}
                     OR date_diff('day', w.sess_start, o.d)
                        > {_SESS_SPAN_DAYS}
                THEN w.sess_id + 1 ELSE w.sess_id END,
           CASE WHEN date_diff('day', w.d, o.d) > {_SESS_GAP_DAYS}
                     OR date_diff('day', w.sess_start, o.d)
                        > {_SESS_SPAN_DAYS}
                THEN o.d ELSE w.sess_start END
    FROM walk w JOIN o ON o.ck = w.ck AND o.rn = w.rn + 1
),
sess AS (
    SELECT ck, sess_id, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(date_diff('day', min(d), max(d)) AS BIGINT) AS span_days
    FROM walk GROUP BY ck, sess_id
)
SELECT ck AS o_custkey,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(SUM(n_orders) AS BIGINT) AS n_orders,
       CAST(max(n_orders) AS BIGINT) AS max_session_orders,
       CAST(max(span_days) AS BIGINT) AS max_span_days
FROM sess
GROUP BY ck
ORDER BY o_custkey
"""


@q(
    "x164_capped_sessions",
    "OP-U1/X6-ext",
    "Production sessionization with BOTH rules real systems use: a "
    "new session starts on a gap > 30 days OR when the running "
    "session span would exceed 60 days. The span cap makes this "
    "genuinely sequential — the restart condition depends on the "
    "session-start chosen by earlier decisions, so no window/prefix-"
    "sum closed form exists (unlike x6's gap-only form or x144's "
    "Lindley scan) — making it the catalog's certified exhibit of "
    "the SANCTIONED slow path: applyInPandas over customer groups, "
    "Arrow-batched, sequential only WITHIN a key while keys scale "
    "out across executors. The oracle replays the identical "
    "recursion as a DuckDB recursive CTE (depth = max orders per "
    "customer). Dates cross the Arrow boundary as DATE (never "
    "session-tz timestamps whose DST offsets would corrupt day "
    "arithmetic); all outputs exact integers.",
    _CAPPED_ORACLE,
)
def x164_capped_sessions(spark, sf_dir):
    import pandas as pd

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        "o_orderkey",
    )

    # Arrow-batch by KEY BUCKET, not by key: one pandas call per
    # customer (the first form) spent ~50 s at sf0.1 on 15k UDF
    # invocations + per-row datetime.date arithmetic; grouping on
    # pmod(custkey, 64) hands each call thousands of customers as one
    # int64 frame (results are per-customer, so bucketing cannot
    # change them — certified identical against the same oracle).
    n_buckets = 64

    def sessionize_bucket(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        pdf = pdf.sort_values(["o_custkey", "d", "o_orderkey"])
        cust = pdf["o_custkey"].to_numpy(dtype="int64")
        days = (
            pd.to_datetime(pdf["d"])
            .to_numpy()
            .astype("datetime64[D]")
            .astype("int64")
        )
        out_cust: list[int] = []
        out_rows: list[tuple[int, int, int, int]] = []
        i, n = 0, len(cust)
        while i < n:
            c = cust[i]
            n_sessions = 0
            n_orders = 0
            max_orders = 0
            max_span = 0
            cur_orders = 0
            cur_start = prev = days[i]
            while i < n and cust[i] == c:
                d = days[i]
                if cur_orders and (
                    d - prev > _SESS_GAP_DAYS
                    or d - cur_start > _SESS_SPAN_DAYS
                ):
                    max_orders = max(max_orders, cur_orders)
                    max_span = max(max_span, int(prev - cur_start))
                    n_sessions += 1
                    cur_start = d
                    cur_orders = 0
                cur_orders += 1
                n_orders += 1
                prev = d
                i += 1
            if cur_orders:
                max_orders = max(max_orders, cur_orders)
                max_span = max(max_span, int(prev - cur_start))
                n_sessions += 1
            out_cust.append(int(c))
            out_rows.append((n_sessions, n_orders, max_orders, max_span))
        arr = pd.DataFrame(
            out_rows,
            columns=[
                "n_sessions",
                "n_orders",
                "max_session_orders",
                "max_span_days",
            ],
        )
        arr.insert(0, "o_custkey", out_cust)
        return arr

    return (
        o.withColumn("_b", F.pmod("o_custkey", F.lit(n_buckets)))
        .groupBy("_b")
        .applyInPandas(
            sessionize_bucket,
            "o_custkey long, n_sessions long, n_orders long, "
            "max_session_orders long, max_span_days long",
        )
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# x165 — grid-bucketed spatial neighbor join (exact integer distance)
# ---------------------------------------------------------------------------

_GEO_SPACE = 5000  # integer coordinate space [0, 5000)^2
_GEO_CELL = 500  # grid cell size
_GEO_R = 400  # neighbor radius (< cell size -> 3x3 cells suffice)

_GEO_ORACLE = f"""
WITH pts AS (
    SELECT c_custkey AS id,
           CAST('0x' || substr(md5('gx:' || c_custkey), 1, 8) AS BIGINT)
               % {_GEO_SPACE} AS x,
           CAST('0x' || substr(md5('gy:' || c_custkey), 1, 8) AS BIGINT)
               % {_GEO_SPACE} AS y
    FROM customer
),
cells AS (
    SELECT id, x, y, x // {_GEO_CELL} AS cx, y // {_GEO_CELL} AS cy
    FROM pts
),
bex AS (
    SELECT c.id, c.x, c.y, c.cx + dx.d AS jx, c.cy + dy.d AS jy
    FROM cells c
    CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) dx
    CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) dy
),
pairs AS (
    SELECT a.cx, a.cy, a.id AS id_a, b.id AS id_b,
           (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
    FROM cells a
    JOIN bex b ON b.jx = a.cx AND b.jy = a.cy AND a.id < b.id
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
          <= {_GEO_R * _GEO_R}
)
SELECT cx AS cell_x, cy AS cell_y,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(min(d2) AS BIGINT) AS min_d2,
       CAST(SUM(d2) AS BIGINT) AS sum_d2
FROM pairs
GROUP BY cx, cy
ORDER BY cell_x, cell_y
"""


@q(
    "x165_grid_neighbor_join",
    "OP-J-ext",
    "Spatial neighbor join by grid bucketing: customers get "
    "deterministic integer coordinates (md5-derived, engine-"
    "portable), one side explodes into its 3x3 neighboring cells "
    "(radius < cell size makes that provably sufficient), candidates "
    "meet in ONE cell-keyed equi-join — the standard distributed "
    "spatial-join shape (bucketed, never all-pairs) — and the exact "
    "integer squared distance filters pairs with zero trig and zero "
    "floats. Pairs are attributed to the left point's cell and "
    "reported as per-cell counts with exact distance moments. Scale "
    "contract (stated, not hidden): grid joins are linear in CELLS "
    "and quadratic in per-cell DENSITY — real corpora grow in area, "
    "and a density-growing corpus needs the cell size (or radius) "
    "rescaled, exactly like choosing LSH band geometry.",
    _GEO_ORACLE,
)
def x165_grid_neighbor_join(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")

    def coord(prefix: str):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(prefix), F.col("c_custkey").cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _GEO_SPACE
        )

    pts = c.select(
        F.col("c_custkey").alias("id"),
        coord("gx:").alias("x"),
        coord("gy:").alias("y"),
    )
    cells = pts.select(
        "id",
        "x",
        "y",
        F.expr(f"x DIV {_GEO_CELL}").alias("cx"),
        F.expr(f"y DIV {_GEO_CELL}").alias("cy"),
    )
    d = spark.range(-1, 2).select(F.col("id").cast("int").alias("d"))
    bex = (
        cells.crossJoin(F.broadcast(d.select(F.col("d").alias("dx"))))
        .crossJoin(F.broadcast(d.select(F.col("d").alias("dy"))))
        .select(
            F.col("id").alias("id_b"),
            F.col("x").alias("xb"),
            F.col("y").alias("yb"),
            (F.col("cx") + F.col("dx")).alias("jx"),
            (F.col("cy") + F.col("dy")).alias("jy"),
        )
    )
    d2 = (F.col("x") - F.col("xb")) * (F.col("x") - F.col("xb")) + (
        F.col("y") - F.col("yb")
    ) * (F.col("y") - F.col("yb"))
    pairs = (
        cells.join(
            bex,
            (F.col("jx") == F.col("cx"))
            & (F.col("jy") == F.col("cy"))
            & (F.col("id") < F.col("id_b")),
        )
        .filter(d2 <= _GEO_R * _GEO_R)
        .select("cx", "cy", d2.alias("d2"))
    )
    return (
        pairs.groupBy("cx", "cy")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.min("d2").cast("long").alias("min_d2"),
            F.sum("d2").cast("long").alias("sum_d2"),
        )
        .select(
            F.col("cx").alias("cell_x"),
            F.col("cy").alias("cell_y"),
            "n_pairs",
            "min_d2",
            "sum_d2",
        )
        .orderBy("cell_x", "cell_y")
    )


# ---------------------------------------------------------------------------
# x166 — mergeable bitmap segments (bit_or words + popcount retention)
# ---------------------------------------------------------------------------

_BM_BUCKETS = 4096
_BM_BITS = 62  # bits used per word: stay off the sign bit portably

_BM_ORACLE = f"""
WITH act AS (
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
           CAST('0x' || substr(md5('bm:' || o_custkey), 1, 8) AS BIGINT)
               % {_BM_BUCKETS} AS b
    FROM orders
),
words AS (
    SELECT mon, b // {_BM_BITS} AS w,
           bit_or(1::BIGINT << CAST(b % {_BM_BITS} AS INT)) AS bits
    FROM act GROUP BY mon, b // {_BM_BITS}
),
mons AS (
    SELECT mon, lead(mon) OVER (ORDER BY mon) AS nxt
    FROM (SELECT DISTINCT mon FROM words)
),
joined AS (
    SELECT m.mon, m.nxt,
           a.w, a.bits AS ba, COALESCE(b.bits, 0) AS bb
    FROM mons m
    JOIN words a ON a.mon = m.mon
    LEFT JOIN words b ON b.mon = m.nxt AND b.w = a.w
    WHERE m.nxt IS NOT NULL
)
SELECT mon, nxt,
       CAST(SUM(bit_count(ba)) AS BIGINT) AS active_buckets,
       CAST(SUM(bit_count(ba & bb)) AS BIGINT) AS retained_buckets,
       CAST(SUM(bit_count(ba & bb)) * 1000000 // SUM(bit_count(ba))
            AS BIGINT) AS retention_millionths
FROM joined
GROUP BY mon, nxt
ORDER BY mon
"""


@q(
    "x166_bitmap_retention",
    "OP-G5/X8-ext",
    "Mergeable bitmap segments — the groupBitmap/roaring idiom in "
    "portable form: each month's active customers hash into 4096 "
    "buckets packed 62-per-word into BIGINTs via a bit_or aggregate "
    "(62, not 64: the sign bit and 1<<63 behave differently across "
    "engines, the portable-shift rule), so a month's activity "
    "bitmap is ~66 words of MERGEABLE state (bit_or across shards/"
    "days, the HLL-register story for SET INTERSECTION instead of "
    "cardinality). Month-over-month retention is then "
    "popcount(a AND b) / popcount(a) on the word pairs — bucket-"
    "level inclusion-exclusion at O(words) cost per month pair, "
    "never a customer-level self-join. The estimate's resolution is "
    "the bucket count (4096 here; a production bitmap sizes buckets "
    "to the key cardinality or goes exact-roaring); both engines "
    "emit identical integers because the bitmap content is a pure "
    "function of md5.",
    _BM_ORACLE,
)
def x166_bitmap_retention(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    act = o.select(
        F.date_trunc("month", "o_orderdate").cast("date").alias("mon"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("bm:"), F.col("o_custkey").cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _BM_BUCKETS
        ).alias("b"),
    )
    words = act.select(
        "mon",
        F.expr(f"b DIV {_BM_BITS}").alias("w"),
        F.expr(f"shiftleft(1L, CAST(b % {_BM_BITS} AS INT))").alias("v"),
    ).groupBy("mon", "w").agg(F.expr("bit_or(v)").alias("bits"))
    mons = (
        words.select("mon")
        .distinct()
        .select(
            "mon", F.lead("mon").over(Window.orderBy("mon")).alias("nxt")
        )
        .filter(F.col("nxt").isNotNull())
    )
    a = words.select(
        F.col("mon").alias("amon"), "w", F.col("bits").alias("ba")
    )
    b = words.select(
        F.col("mon").alias("bmon"),
        F.col("w").alias("bw"),
        F.col("bits").alias("bb"),
    )
    joined = (
        F.broadcast(mons)
        .join(a, mons.mon == a.amon)
        .join(
            b,
            (F.col("nxt") == F.col("bmon")) & (F.col("w") == F.col("bw")),
            "left",
        )
        .select(
            "mon",
            "nxt",
            "ba",
            F.coalesce(F.col("bb"), F.lit(0).cast("long")).alias("bb"),
        )
    )
    return (
        joined.groupBy("mon", "nxt")
        .agg(
            F.sum(F.bit_count("ba")).cast("long").alias("active_buckets"),
            F.sum(F.bit_count(F.col("ba").bitwiseAND(F.col("bb"))))
            .cast("long")
            .alias("retained_buckets"),
        )
        .select(
            "mon",
            "nxt",
            "active_buckets",
            "retained_buckets",
            F.expr(
                "CAST(retained_buckets * 1000000 DIV active_buckets "
                "AS BIGINT)"
            ).alias("retention_millionths"),
        )
        .orderBy("mon")
    )


# ---------------------------------------------------------------------------
# x167 — CDC apply: upsert + delete changelog merged into a snapshot
# ---------------------------------------------------------------------------

_CDC_ORACLE = """
WITH base AS (
    SELECT c_custkey AS k, c_name AS name, c_mktsegment AS seg,
           CAST(1 AS BIGINT) AS version, 'U' AS op
    FROM customer
),
h AS (
    SELECT c_custkey AS k, c_name, c_mktsegment,
           CAST('0x' || substr(md5('cdc:' || c_custkey), 1, 4) AS BIGINT)
               % 10 AS r
    FROM customer
),
changelog AS (
    SELECT k, upper(c_name) || '-V2' AS name, c_mktsegment AS seg,
           CAST(2 AS BIGINT) AS version, 'U' AS op
    FROM h WHERE r IN (0, 1, 2)
    UNION ALL
    SELECT k, NULL AS name, NULL AS seg, CAST(2 AS BIGINT), 'D'
    FROM h WHERE r = 3
    UNION ALL
    SELECT k + 10000000, 'NEW-' || k, 'MACHINERY', CAST(2 AS BIGINT), 'U'
    FROM h WHERE r = 4
),
merged AS (
    SELECT *, row_number() OVER (PARTITION BY k
                                 ORDER BY version DESC, op DESC) AS rn
    FROM (SELECT * FROM base UNION ALL SELECT * FROM changelog)
)
SELECT k AS c_custkey, name, seg, version
FROM merged
WHERE rn = 1 AND op <> 'D'
ORDER BY c_custkey
"""


@q(
    "x167_cdc_apply",
    "OP-J5/T3-ext",
    "CDC apply — the MERGE a lakehouse foreachBatch sink performs, "
    "certified declaratively: a deterministic changelog (updates, "
    "deletes and inserts synthesized from md5 buckets so both "
    "engines build the identical log) merges into the base snapshot "
    "by latest-wins per key (version DESC with a total tie-break), "
    "deletes filtered AFTER the winner is chosen (so a delete beats "
    "the stale base row it supersedes — the classic CDC-apply "
    "ordering bug this entry pins down). The plan is one union, one "
    "per-key window, one filter: at 100 TB this is exactly Delta/"
    "Iceberg MERGE's shuffle shape (key-partitioned dedup of "
    "base+delta), and the x80_snapshot_cdc entry is its inverse "
    "(diffing two snapshots back into a changelog).",
    _CDC_ORACLE,
)
def x167_cdc_apply(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    base = c.select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("seg"),
        F.lit(1).cast("long").alias("version"),
        F.lit("U").alias("op"),
    )
    r = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("cdc:"), F.col("c_custkey").cast("string"))
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
        % 10
    )
    h = c.select(
        F.col("c_custkey").alias("k"),
        "c_name",
        "c_mktsegment",
        r.alias("r"),
    )
    updates = h.filter(F.col("r").isin(0, 1, 2)).select(
        "k",
        F.concat(F.upper("c_name"), F.lit("-V2")).alias("name"),
        F.col("c_mktsegment").alias("seg"),
        F.lit(2).cast("long").alias("version"),
        F.lit("U").alias("op"),
    )
    deletes = h.filter(F.col("r") == 3).select(
        "k",
        F.lit(None).cast("string").alias("name"),
        F.lit(None).cast("string").alias("seg"),
        F.lit(2).cast("long").alias("version"),
        F.lit("D").alias("op"),
    )
    inserts = h.filter(F.col("r") == 4).select(
        (F.col("k") + 10000000).alias("k"),
        F.concat(F.lit("NEW-"), F.col("k").cast("string")).alias("name"),
        F.lit("MACHINERY").alias("seg"),
        F.lit(2).cast("long").alias("version"),
        F.lit("U").alias("op"),
    )
    merged = base.unionByName(updates).unionByName(deletes).unionByName(
        inserts
    )
    w = Window.partitionBy("k").orderBy(F.desc("version"), F.desc("op"))
    return (
        merged.select("*", F.row_number().over(w).alias("rn"))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            F.col("k").alias("c_custkey"), "name", "seg", "version"
        )
        .orderBy("c_custkey")
    )
