"""Catalog entries x326-x340.

Theme: the STREAMING-DESIGN surface — the capacity/planning
questions a Structured Streaming deployment answers BEFORE it starts
(state-store sizing, sessionization gap choice, trigger-interval
sizing, peak concurrency) — plus spectral/multiscale time-series analysis with Python-computed
literal trig tables (the x102 literal-probe idiom, so the arithmetic
stays exact BIGINT in both engines), sampling design (Neyman
allocation), multiple-testing control with literal z-quantile
thresholds, embedding-geometry audits (variance spectrum, dimension
redundancy), and rate/calibration inference (Wilson intervals,
calibration slope, deterministic permutation test).

Wave 1 — streaming capacity planning over ``events``:

* ``x326_state_ttl_projection`` — state-store size projection for a
  keyed streaming dedup at TTL 1h/6h/24h: a key is live at hour h iff
  it produced an event in (h-TTL, h]; per TTL the op reports peak and
  average live-key count over the observed hour span. THE sizing
  input for ``dropDuplicatesWithinWatermark`` / stateful-processor
  TTL choices. Scale: merged coverage intervals per (ttl, user)
  from one lag window + a boundary sweep over the bounded hour
  frame; the oracle keeps the explode+distinct algorithm so the
  hash check proves the two equivalent.
* ``x327_gap_sensitivity`` — sessionization gap sensitivity curve at
  5/15/30/60 min: session counts, events-per-session and total
  in-session dwell from ONE user-partitioned lag window (total
  in-session time == sum of sub-gap deltas, so no per-gap session
  assembly is needed). The design curve behind x6/x39's fixed gap.
* ``x328_peak_concurrency`` — hourly session concurrency: 30-min-gap
  sessions assembled once, each session exploded to the hours it
  overlaps, top-5 busiest hours. The executor/state peak-load number
  a sessionizing stream must be provisioned for.
* ``x329_microbatch_profile`` — per-minute arrival batch profile for
  a 1-minute trigger: max and exact type-1 p50/p90/p99 batch sizes
  computed from the DISTINCT-size cumulative frame (never a global
  rank over minutes), plus the mean in milli. Trigger-interval /
  maxOffsetsPerTrigger sizing.

Wave 2 — spectral/multiscale series + sampling/testing design:

* ``x330_neyman_allocation`` — Neyman vs proportional allocation of a
  literal 10k-order sample across market segments: per-stratum exact
  cents moments -> sd through one shared IEEE chain, N_h*S_h weights
  milli-floored, allocations by exact BIGINT floor division.
* ``x331_bh_fdr`` — Benjamini-Hochberg FDR over the 25 per-nation
  mean-order-value z-tests: |z| micro-floored from exact moments; the
  BH p-threshold comparisons run in |z| SPACE against PYTHON-COMPUTED
  literal normal quantiles Phi^-1(1 - i*alpha/(2m)) (bisection on
  math.erf at import — compile-time constants in BOTH engines, the
  x102 literal idiom), so no engine needs a normal CDF.
* ``x333_haar_energy`` — Haar wavelet detail energy of daily revenue
  at scales 2/4/8/16 days: four fixed pair-sum/pair-diff levels over
  the bounded daily frame, exact kilodollar BIGINT throughout; says
  WHICH timescale carries the volatility x138's bands only bound.
* ``x334_periodogram_peak`` — exact periodogram power at candidate
  periods 7/14/30/91 days: angles reduced to t mod p so cos/sin
  become LITERAL milli-floored integer tables (no engine trig at
  all); power = c^2 + s^2 exact BIGINT. The spectral complement of
  x120/x135's calendar indexes: it FINDS the cycle length instead of
  assuming it.

Wave 3 — intervals, embedding geometry, rate/calibration inference:

* ``x335_open_order_backlog`` — month-end open-order backlog (placed
  but not fully received): each order explodes to the months it
  spans (order month .. last-receipt month - 1), exact cents value of
  open orders per month. The WIP/liability curve under x228's
  stockout projection.
* ``x336_permutation_test`` — deterministic permutation test for the
  md5 A/B mean-spend difference: 64 md5-salted re-assignments at the
  CUSTOMER grain (aggregate once, explode customers x 64 — never the
  fact table), replicate diffs through one shared IEEE chain,
  p = (1 + #{|d_r| >= |d_obs|}) / 65. The distribution-free
  companion of x160's z-test.
* ``x337_wilson_intervals`` — Wilson 95% score interval for the
  urgent-order share per segment (literal z = 1.959964), exact
  counts -> one shared IEEE chain -> ppm floors. The per-rate CI
  x269's corpus-level DKW bands don't give.
* ``x332_embedding_energy`` — per-dimension variance spectrum of the
  embedding table: exact 3-dp fixed-point moments per dimension,
  variance in nano, descending cumulative energy share in ppm. Finds
  dead/dominant dimensions; the geometry audit x188's null/dims gate
  doesn't look at.
* ``x339_dim_redundancy`` — pairwise correlation among the top-8
  variance dimensions (chosen by exact integer variance order,
  collected as plan literals — the bounded-collect centroid idiom):
  28 exact cross-moment pairs in ONE scan, |corr| in milli. Redundant
  dimensions mean wasted ANN bits (x102/x30 projections assume
  near-isotropy).
* ``x340_calibration_slope`` — OLS calibration slope/intercept of the
  urgent-order outcome against a deterministic prior-spend score in
  [0,1]: exact ppm-integer score moments; the one-number companion
  of x215's binned ECE (slope < 1 = overconfident score).

Hash-parity conventions as plans/queries.py: exact cents/BIGINT
arithmetic until one shared IEEE expression, total ORDER BY, BIGINT
casts on every count; literal tables are generated ONCE in Python and
embedded in both the Spark plan and the oracle SQL.
"""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from ravelytics_spark.plans.registry import q
from ravelytics_spark.plans.round4 import embedding_probe
from ravelytics_spark.sources.tables import load_table, memo

# DuckDB epoch seconds as exact BIGINT (epoch(ts) returns a DOUBLE
# with fractional seconds; date_diff counts whole second boundaries,
# matching Spark's unix_timestamp truncation).
_DD_EPOCH = "date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts)"


# ---------------------------------------------------------------------------
# x326 — streaming dedup state-store size projection at TTL 1h/6h/24h
# ---------------------------------------------------------------------------

_TTLS_H = (1, 6, 24)

_ST_ORACLE = f"""
WITH uh AS (
    SELECT DISTINCT user_id, CAST({_DD_EPOCH} // 3600 AS BIGINT) AS hb
    FROM events
),
span AS (
    SELECT CAST(min(hb) AS BIGINT) AS h0, CAST(max(hb) AS BIGINT) AS h1
    FROM uh
),
cov AS (
    SELECT DISTINCT t.ttl, uh.user_id, hh.h
    FROM uh
    CROSS JOIN (SELECT unnest([{", ".join(str(t) for t in _TTLS_H)}]) AS ttl) t
    CROSS JOIN span
    CROSS JOIN LATERAL (
        SELECT unnest(range(uh.hb, least(uh.hb + t.ttl, span.h1 + 1))) AS h
    ) hh
),
st AS (
    SELECT ttl, h, CAST(count(*) AS BIGINT) AS live
    FROM cov GROUP BY ttl, h
)
SELECT st.ttl AS ttl_hours,
       CAST(span.h1 - span.h0 + 1 AS BIGINT) AS n_hours,
       CAST(max(st.live) AS BIGINT) AS peak_keys,
       CAST(SUM(st.live) * 1000 // (span.h1 - span.h0 + 1) AS BIGINT)
           AS avg_keys_milli
FROM st CROSS JOIN span
GROUP BY st.ttl, span.h0, span.h1
ORDER BY ttl_hours
"""


@q(
    "x326_state_ttl_projection",
    "OP-T1/X1-ext",
    "State-store size projection for keyed streaming dedup at TTL "
    "1h/6h/24h: a key is live at hour h iff it produced an event in "
    "(h-TTL, h], so per (user, active-hour) each distinct activity "
    "hour covers the next TTL hours (clamped to the observed span); "
    "peak and average live-key counts per TTL are the numbers that "
    "size dropDuplicatesWithinWatermark / stateful-TTL memory BEFORE "
    "the stream starts. avg includes zero-state hours in the "
    "denominator (the full observed span). Scale: (user, hour) "
    "distinct hash-agg, explode factor <= TTL (constant 24), one "
    "more distinct + hour agg — all linear, no windows, no joins "
    "bigger than the 1-row span broadcast.",
    _ST_ORACLE,
)
def x326_state_ttl_projection(spark, sf_dir):
    # MERGED-INTERVAL form (deliberately a DIFFERENT algorithm than
    # the oracle's explode+distinct: the hash certification then
    # proves the two equivalent). Per (ttl, user), activity hours
    # whose coverage windows touch (next - prev <= ttl) merge into
    # one live interval [first, min(last + ttl - 1, h1)]; the summed
    # interval lengths ARE the distinct (user, hour) coverage mass,
    # and the peak comes from a +1/-1 boundary sweep. Shuffle profile
    # at 100x: the explode+distinct form moved ~31x the (user, hour)
    # frame through one shuffle; this moves 3x through a
    # user-partitioned window and aggregates boundaries to the
    # time-bounded hour frame (measured 48.0 s -> see SCALING.md).
    ev = load_table(spark, sf_dir, "events")
    uh = ev.select(
        "user_id",
        # FLOOR(x / 3600), not DIV: DuckDB's // floors while Spark's
        # DIV truncates toward zero — they diverge on pre-1970
        # (negative-epoch) timestamps (ADVICE r10 low).
        F.expr("FLOOR(unix_timestamp(ts) / 3600)").cast("long").alias("hb"),
    ).distinct()
    span = uh.agg(
        F.min("hb").cast("long").alias("h0"),
        F.max("hb").cast("long").alias("h1"),
    )
    ttls = F.explode(
        F.array(*[F.lit(t).cast("long") for t in _TTLS_H])
    ).alias("ttl")
    base = uh.select("user_id", "hb", ttls)
    w = Window.partitionBy("ttl", "user_id").orderBy("hb")
    prev = F.lag("hb").over(w)
    brk = F.when(prev.isNull() | (F.col("hb") - prev > F.col("ttl")), 1)\
        .otherwise(0)
    iv = base.select(
        "ttl",
        "user_id",
        "hb",
        F.sum(brk)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("iid"),
    )
    spans = (
        iv.groupBy("ttl", "user_id", "iid")
        .agg(
            F.min("hb").cast("long").alias("st"),
            F.max("hb").cast("long").alias("mx"),
        )
        .crossJoin(F.broadcast(span))
        .select(
            "ttl",
            "st",
            F.least(F.col("mx") + F.col("ttl") - 1, F.col("h1"))
            .cast("long")
            .alias("en"),
        )
    )
    sums = spans.groupBy("ttl").agg(
        F.sum(F.col("en") - F.col("st") + 1).cast("long").alias("sum_live")
    )
    deltas = (
        spans.select("ttl", F.col("st").alias("h"), F.lit(1).alias("d"))
        .unionAll(
            spans.select(
                "ttl", (F.col("en") + 1).alias("h"), F.lit(-1).alias("d")
            )
        )
        .groupBy("ttl", "h")
        .agg(F.sum("d").alias("d"))
    )
    wcum = (
        Window.partitionBy("ttl")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    peak = (
        deltas.select("ttl", F.sum("d").over(wcum).alias("live"))
        .groupBy("ttl")
        .agg(F.max("live").cast("long").alias("peak_keys"))
    )
    return (
        peak.join(sums, "ttl")
        .crossJoin(F.broadcast(span))
        .select(
            F.col("ttl").alias("ttl_hours"),
            (F.col("h1") - F.col("h0") + 1).cast("long").alias("n_hours"),
            "peak_keys",
            F.expr(
                "CAST(sum_live * 1000 DIV (h1 - h0 + 1) AS BIGINT)"
            ).alias("avg_keys_milli"),
        )
        .orderBy("ttl_hours")
    )


# ---------------------------------------------------------------------------
# x327 — sessionization gap sensitivity curve (5/15/30/60 min)
# ---------------------------------------------------------------------------

_GAPS_S = (300, 900, 1800, 3600)

_GS_ORACLE = f"""
WITH d AS (
    SELECT date_diff('second',
                     lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id),
                     ts) AS gap_s
    FROM events
),
g AS (
    SELECT unnest([{", ".join(str(g) for g in _GAPS_S)}]) AS gap_limit_s
)
SELECT g.gap_limit_s AS gap_limit_s,
       CAST(SUM(CASE WHEN d.gap_s IS NULL OR d.gap_s > g.gap_limit_s
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(*) * 1000
            // SUM(CASE WHEN d.gap_s IS NULL OR d.gap_s > g.gap_limit_s
                        THEN 1 ELSE 0 END) AS BIGINT)
           AS events_per_session_milli,
       CAST(coalesce(SUM(CASE WHEN d.gap_s IS NOT NULL
                               AND d.gap_s <= g.gap_limit_s
                              THEN d.gap_s END), 0) AS BIGINT)
           AS in_session_seconds
FROM d CROSS JOIN g
GROUP BY g.gap_limit_s
ORDER BY gap_limit_s
"""


@q(
    "x327_gap_sensitivity",
    "OP-T1/W3-ext",
    "Sessionization gap sensitivity curve: session count, "
    "events-per-session and total in-session dwell at inactivity "
    "gaps 5/15/30/60 min, all from ONE user-partitioned lag window — "
    "a session starts where the gap is null or exceeds the limit, "
    "and total in-session time is EXACTLY the sum of sub-limit gaps, "
    "so no per-gap session assembly is needed. The curve that "
    "justifies (or indicts) the fixed 30-min gap x6/x39/x126 assume, "
    "and the session_window gap a streaming deployment must commit "
    "to. Scale: one lag window on the natural (user) partitioning, "
    "then a 4x literal explode into a 4-row agg.",
    _GS_ORACLE,
)
def x327_gap_sensitivity(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.select(
        (
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("gap_s")
    )
    gaps = F.explode(
        F.array(*[F.lit(g).cast("long") for g in _GAPS_S])
    ).alias("gap_limit_s")
    brk = F.when(
        F.col("gap_s").isNull() | (F.col("gap_s") > F.col("gap_limit_s")),
        1,
    ).otherwise(0)
    ins = F.when(
        F.col("gap_s").isNotNull()
        & (F.col("gap_s") <= F.col("gap_limit_s")),
        F.col("gap_s"),
    )
    return (
        d.select("gap_s", gaps)
        .groupBy("gap_limit_s")
        .agg(
            F.sum(brk).cast("long").alias("n_sessions"),
            F.count("*").cast("long").alias("n_events"),
            F.expr(
                "CAST(count(*) * 1000 DIV SUM(CASE WHEN gap_s IS NULL"
                " OR gap_s > gap_limit_s THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("events_per_session_milli"),
            F.coalesce(F.sum(ins), F.lit(0))
            .cast("long")
            .alias("in_session_seconds"),
        )
        .orderBy("gap_limit_s")
    )


# ---------------------------------------------------------------------------
# x328 — hourly session concurrency (peak load for a sessionizing stream)
# ---------------------------------------------------------------------------

_PC_ORACLE = f"""
WITH e AS (
    SELECT user_id, event_id, ts,
           CAST({_DD_EPOCH} AS BIGINT) AS es,
           date_diff('second',
                     lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id),
                     ts) AS gap_s
    FROM events
),
s AS (
    SELECT user_id, es,
           CAST(SUM(CASE WHEN gap_s IS NULL OR gap_s > 1800
                         THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
    FROM e
),
spans AS (
    SELECT user_id, sid,
           CAST(min(es) // 3600 AS BIGINT) AS h_start,
           CAST(max(es) // 3600 AS BIGINT) AS h_end
    FROM s GROUP BY user_id, sid
),
conc AS (
    SELECT hh.h, CAST(count(*) AS BIGINT) AS n_concurrent
    FROM spans
    CROSS JOIN LATERAL (
        SELECT unnest(range(spans.h_start, spans.h_end + 1)) AS h
    ) hh
    GROUP BY hh.h
)
SELECT h AS hour_bucket, n_concurrent
FROM conc
ORDER BY n_concurrent DESC, hour_bucket
LIMIT 5
"""


@q(
    "x328_peak_concurrency",
    "OP-T1/G6-ext",
    "Hourly session concurrency: 30-min-gap sessions (the x6 "
    "assembly) reduced to (first-hour, last-hour) spans, each span "
    "exploded to the hours it overlaps, top-5 busiest hours by "
    "concurrent-session count. x106 counts PAIRWISE overlaps of "
    "fixed windows; this is the point-load curve — the number of "
    "simultaneously-open sessions a stateful sessionizing stream "
    "must hold, i.e. its peak state/executor provisioning. Scale: "
    "the lag window rides the natural user partitioning, spans are "
    "one hash-agg, the hour explode is bounded by each session's "
    "real duration, and top-5 is a TakeOrdered — no global windows.",
    _PC_ORACLE,
)
def x328_peak_concurrency(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, 0)
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    brk = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    s = ev.select(
        "user_id",
        F.unix_timestamp("ts").cast("long").alias("es"),
        F.sum(brk).over(wsum).cast("long").alias("sid"),
    )
    spans = s.groupBy("user_id", "sid").agg(
        # FLOOR / not DIV: floor semantics match DuckDB's // on
        # negative epochs (pre-1970 ts) — same guard as x326's hb.
        F.expr("CAST(FLOOR(min(es) / 3600) AS BIGINT)").alias("h_start"),
        F.expr("CAST(FLOOR(max(es) / 3600) AS BIGINT)").alias("h_end"),
    )
    conc = (
        spans.select(
            F.explode(
                F.sequence(F.col("h_start"), F.col("h_end"))
            ).alias("h")
        )
        .groupBy("h")
        .agg(F.count("*").cast("long").alias("n_concurrent"))
    )
    return (
        conc.select(F.col("h").alias("hour_bucket"), "n_concurrent")
        .orderBy(F.col("n_concurrent").desc(), "hour_bucket")
        .limit(5)
    )


# ---------------------------------------------------------------------------
# x329 — per-minute micro-batch profile for a 1-minute trigger
# ---------------------------------------------------------------------------

_MB_ORACLE = f"""
WITH m AS (
    SELECT CAST({_DD_EPOCH} // 60 AS BIGINT) AS mb,
           CAST(count(*) AS BIGINT) AS batch
    FROM events GROUP BY 1
),
sz AS (
    SELECT batch, CAST(count(*) AS BIGINT) AS n_minutes
    FROM m GROUP BY batch
),
cum AS (
    SELECT batch, n_minutes,
           CAST(SUM(n_minutes) OVER (ORDER BY batch
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
           CAST(SUM(n_minutes) OVER () AS BIGINT) AS tot,
           CAST(SUM(batch * n_minutes) OVER () AS BIGINT) AS ev_tot
    FROM sz
)
SELECT CAST(max(tot) AS BIGINT) AS n_active_minutes,
       CAST(max(batch) AS BIGINT) AS max_batch,
       CAST(min(CASE WHEN cum * 2 >= tot THEN batch END) AS BIGINT)
           AS p50_batch,
       CAST(min(CASE WHEN cum * 10 >= tot * 9 THEN batch END) AS BIGINT)
           AS p90_batch,
       CAST(min(CASE WHEN cum * 100 >= tot * 99 THEN batch END) AS BIGINT)
           AS p99_batch,
       CAST(max(ev_tot) * 1000 // max(tot) AS BIGINT)
           AS mean_batch_milli
FROM cum
"""


@q(
    "x329_microbatch_profile",
    "OP-T1/G6-ext",
    "Per-minute arrival batch profile for a 1-minute trigger: max "
    "and exact type-1 p50/p90/p99 batch sizes plus the milli mean "
    "over ACTIVE minutes. Quantiles come from the cumulative window "
    "over the DISTINCT-batch-size frame (bounded by max batch size), "
    "never a rank over the raw minute frame — the x200/x285 bounded-"
    "frame idiom. This is the maxOffsetsPerTrigger / trigger-interval "
    "sizing input: p99 batch vs mean says how bursty the stream is "
    "and how much headroom a fixed trigger needs (x180's Fano factor "
    "is the per-type health fingerprint; this is the global capacity "
    "curve). Scale: minute hash-agg -> size hash-agg -> windows over "
    "the bounded size-distinct frame (whitelisted SinglePartition).",
    _MB_ORACLE,
)
def x329_microbatch_profile(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    m = ev.groupBy(
        F.expr("unix_timestamp(ts) DIV 60").cast("long").alias("mb")
    ).agg(F.count("*").cast("long").alias("batch"))
    sz = m.groupBy("batch").agg(
        F.count("*").cast("long").alias("n_minutes")
    )
    wc = Window.partitionBy().orderBy("batch").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    cum = sz.select(
        "batch",
        F.sum("n_minutes").over(wc).cast("long").alias("cum"),
        F.sum("n_minutes").over(wall).cast("long").alias("tot"),
        F.sum(F.expr("batch * n_minutes")).over(wall).cast("long")
        .alias("ev_tot"),
    )
    return cum.agg(
        F.max("tot").cast("long").alias("n_active_minutes"),
        F.max("batch").cast("long").alias("max_batch"),
        F.min(F.when(F.col("cum") * 2 >= F.col("tot"), F.col("batch")))
        .cast("long")
        .alias("p50_batch"),
        F.min(
            F.when(F.col("cum") * 10 >= F.col("tot") * 9, F.col("batch"))
        )
        .cast("long")
        .alias("p90_batch"),
        F.min(
            F.when(F.col("cum") * 100 >= F.col("tot") * 99, F.col("batch"))
        )
        .cast("long")
        .alias("p99_batch"),
        F.expr("CAST(max(ev_tot) * 1000 DIV max(tot) AS BIGINT)").alias(
            "mean_batch_milli"
        ),
    )


# ---------------------------------------------------------------------------
# x330 — Neyman vs proportional sample allocation across segments
# ---------------------------------------------------------------------------

# per-row order value in exact DOLLARS (cents DIV 100): squares stay
# far under 2^63 through the 100x sweep (6e5^2 * 1.5e6 rows ~ 5e17)
_DOLLARS = "CAST(round(o_totalprice * 100) AS BIGINT) / 100"
_DOLLARS_SPARK = "CAST(round(o_totalprice * 100) AS BIGINT) DIV 100"

# stratum sd through one shared IEEE chain (exact integer moments in,
# one divide/sqrt order), then the N_h * S_h Neyman weight milli-floored
_NY_SD = (
    "sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)"
    " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
)
_NY_W = f"CAST(floor(1000.0 * CAST(n AS DOUBLE) * {_NY_SD}) AS BIGINT)"
_NY_SAMPLE = 10_000

_NY_ORACLE = f"""
WITH mo AS (
    SELECT c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM({_DOLLARS.replace("/ 100", "// 100")}) AS BIGINT) AS s1,
           CAST(SUM(({_DOLLARS.replace("/ 100", "// 100")})
                    * ({_DOLLARS.replace("/ 100", "// 100")})) AS BIGINT)
               AS s2
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
),
w AS (
    SELECT segment, n, CAST(floor(1000.0 * {_NY_SD}) AS BIGINT) AS sd_milli,
           {_NY_W} AS wgt,
           CAST(SUM({_NY_W}) OVER () AS BIGINT) AS wtot,
           CAST(SUM(n) OVER () AS BIGINT) AS ntot
    FROM mo WHERE n >= 2
)
SELECT segment, n AS n_pop, sd_milli,
       CAST({_NY_SAMPLE} * wgt // wtot AS BIGINT) AS neyman_n,
       CAST({_NY_SAMPLE} * n // ntot AS BIGINT) AS proportional_n
FROM w ORDER BY segment
"""


@q(
    "x330_neyman_allocation",
    "OP-X9/G6-ext",
    "Neyman optimal allocation of a literal 10k-order sample across "
    "market segments vs the proportional allocation: per-stratum "
    "exact dollar moments (BIGINT), population sd through one shared "
    "IEEE chain, Neyman weight N_h*S_h milli-floored ONCE so the "
    "final allocations are exact BIGINT floor divisions. Strata with "
    "high value-variance get oversampled — the design layer that "
    "makes x9_stratified_sample's strata COUNTS principled, and the "
    "variance-minimizing counterpart of x319's inclusion-probability "
    "estimator. Scale: one segment hash-agg (5 rows), windows over "
    "the 5-row frame (whitelisted SinglePartition).",
    _NY_ORACLE,
)
def x330_neyman_allocation(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    d = F.expr(_DOLLARS_SPARK)
    mo = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(d).cast("long").alias("s1"),
            F.sum(d * d).cast("long").alias("s2"),
        )
        .filter(F.col("n") >= 2)
    )
    wall = Window.partitionBy()
    w = mo.select(
        "segment",
        "n",
        F.expr(f"CAST(floor(1000.0 * {_NY_SD}) AS BIGINT)").alias(
            "sd_milli"
        ),
        F.expr(_NY_W).alias("wgt"),
    ).select(
        "segment",
        "n",
        "sd_milli",
        "wgt",
        F.sum("wgt").over(wall).cast("long").alias("wtot"),
        F.sum("n").over(wall).cast("long").alias("ntot"),
    )
    return w.select(
        "segment",
        F.col("n").alias("n_pop"),
        "sd_milli",
        F.expr(f"CAST({_NY_SAMPLE} * wgt DIV wtot AS BIGINT)").alias(
            "neyman_n"
        ),
        F.expr(f"CAST({_NY_SAMPLE} * n DIV ntot AS BIGINT)").alias(
            "proportional_n"
        ),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# x331 — Benjamini-Hochberg FDR over per-nation mean-value z-tests
# ---------------------------------------------------------------------------


def _phi_inv(q: float) -> float:
    """Standard normal quantile via bisection on math.erf — pure
    Python, no scipy; called at import to bake literal thresholds
    into BOTH engines' plans (the x102 literal idiom), so neither
    engine needs a normal CDF at query time."""
    lo, hi = 0.0, 10.0
    for _ in range(200):
        mid = (lo + hi) / 2.0
        if 0.5 * (1.0 + math.erf(mid / math.sqrt(2.0))) < q:
            lo = mid
        else:
            hi = mid
    return (lo + hi) / 2.0


_BH_M = 25  # nations
_BH_ALPHA = 0.05
# critical |z| for BH rank i: reject p_(i) <= i*alpha/m  <=>
# |z|_(i) >= Phi^-1(1 - i*alpha/(2m)); micro-floored literals
_BH_CRIT = [
    int(math.floor(1e6 * _phi_inv(1.0 - (i * _BH_ALPHA) / (2 * _BH_M))))
    for i in range(1, _BH_M + 1)
]
_BH_CRIT_VALUES = ", ".join(
    f"({i + 1}, {c})" for i, c in enumerate(_BH_CRIT)
)

# z = (m_h - m_g) * sqrt(n_h) / sd_g through ONE shared IEEE chain
_BH_Z = (
    "((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)"
    " - CAST(gs1 AS DOUBLE) / CAST(gn AS DOUBLE))"
    " * sqrt(CAST(n AS DOUBLE)))"
    " / sqrt((CAST(gn AS DOUBLE) * CAST(gs2 AS DOUBLE)"
    " - CAST(gs1 AS DOUBLE) * CAST(gs1 AS DOUBLE))"
    " / (CAST(gn AS DOUBLE) * CAST(gn AS DOUBLE)))"
)
_BH_ZMICRO = f"CAST(floor(1000000.0 * ({_BH_Z})) AS BIGINT)"
_BH_AZ = f"CAST(abs({_BH_ZMICRO}) AS BIGINT)"

_BH_ORACLE = f"""
WITH mo AS (
    SELECT c.c_nationkey AS nkey,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM({_DOLLARS.replace("/ 100", "// 100")}) AS BIGINT) AS s1,
           CAST(SUM(({_DOLLARS.replace("/ 100", "// 100")})
                    * ({_DOLLARS.replace("/ 100", "// 100")})) AS BIGINT)
               AS s2
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
),
g AS (
    SELECT CAST(SUM(n) AS BIGINT) AS gn, CAST(SUM(s1) AS BIGINT) AS gs1,
           CAST(SUM(s2) AS BIGINT) AS gs2
    FROM mo
),
z AS (
    SELECT mo.nkey, mo.n, {_BH_ZMICRO} AS z_micro, {_BH_AZ} AS az
    FROM mo CROSS JOIN g WHERE mo.n >= 2
),
rk AS (
    SELECT nkey, n, z_micro, az,
           CAST(row_number() OVER (ORDER BY az DESC, nkey) AS BIGINT) AS i
    FROM z
),
crit(i, crit_micro) AS (VALUES {_BH_CRIT_VALUES}),
hit AS (
    SELECT rk.*, crit.crit_micro,
           CAST(coalesce(max(CASE WHEN rk.az >= crit.crit_micro
                                  THEN rk.i END) OVER (), 0) AS BIGINT)
               AS k_max
    FROM rk JOIN crit ON crit.i = rk.i
)
SELECT nkey, n AS n_orders, z_micro, i AS bh_rank, crit_micro,
       CAST(CASE WHEN i <= k_max THEN 1 ELSE 0 END AS BIGINT) AS rejected
FROM hit ORDER BY bh_rank
"""


@q(
    "x331_bh_fdr",
    "OP-G6-ext",
    "Benjamini-Hochberg FDR control over the 25 per-nation "
    "mean-order-value z-tests (vs the global mean, global sd): |z| "
    "micro-floored once from exact dollar moments, ranked "
    "descending, and the BH step-up comparison p_(i) <= i*alpha/m "
    "runs ENTIRELY in |z| space against Python-computed literal "
    "normal quantiles Phi^-1(1 - i*alpha/(2m)) (bisection on "
    "math.erf at import — identical compile-time constants in both "
    "engines, the x102 literal-probe idiom). Every hypothesis up to "
    "the largest qualifying rank is rejected. The multiple-testing "
    "closure x160/x259/x271 all lack: 25 marginal tests at alpha "
    "produce ~1.25 false flags by construction. Scale: one nation "
    "hash-agg, everything after runs on the 25-row frame "
    "(whitelisted SinglePartition).",
    _BH_ORACLE,
)
def x331_bh_fdr(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    d = F.expr(_DOLLARS_SPARK)
    mo = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nkey"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(d).cast("long").alias("s1"),
            F.sum(d * d).cast("long").alias("s2"),
        )
    )
    g = mo.agg(
        F.sum("n").cast("long").alias("gn"),
        F.sum("s1").cast("long").alias("gs1"),
        F.sum("s2").cast("long").alias("gs2"),
    )
    z = (
        mo.filter(F.col("n") >= 2)
        .crossJoin(F.broadcast(g))
        .select(
            "nkey",
            "n",
            F.expr(_BH_ZMICRO).alias("z_micro"),
            F.expr(_BH_AZ).alias("az"),
        )
    )
    wr = Window.partitionBy().orderBy(F.col("az").desc(), "nkey")
    rk = z.withColumn("i", F.row_number().over(wr).cast("long"))
    crit = spark.createDataFrame(
        [(i + 1, c) for i, c in enumerate(_BH_CRIT)], "i long, crit_micro long"
    )
    wall = Window.partitionBy()
    hit = rk.join(F.broadcast(crit), "i").withColumn(
        "k_max",
        F.coalesce(
            F.max(
                F.when(F.col("az") >= F.col("crit_micro"), F.col("i"))
            ).over(wall),
            F.lit(0),
        ).cast("long"),
    )
    return hit.select(
        "nkey",
        F.col("n").alias("n_orders"),
        "z_micro",
        F.col("i").alias("bh_rank"),
        "crit_micro",
        F.when(F.col("i") <= F.col("k_max"), 1)
        .otherwise(0)
        .cast("long")
        .alias("rejected"),
    ).orderBy("bh_rank")


# ---------------------------------------------------------------------------
# x333 — Haar wavelet detail energy of daily revenue at 2/4/8/16 days
# ---------------------------------------------------------------------------

# daily revenue in exact KILODOLLARS (the x311 unit: dollar-squared
# detail sums would graze 2^63 at 100x); share through one shared
# IEEE chain (the ppm integer multiply overflows on energy sums)
_HA_ORACLE = """
WITH daily AS (
    SELECT o_orderdate AS d,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) // 100000 AS x
    FROM orders GROUP BY 1
),
t0 AS (
    SELECT CAST(row_number() OVER (ORDER BY d) - 1 AS BIGINT) AS i, x
    FROM daily
),
l1 AS (
    SELECT i // 2 AS i, CAST(SUM(x) AS BIGINT) AS a,
           CAST(SUM(CASE WHEN i % 2 = 0 THEN x ELSE -x END) AS BIGINT) AS dd
    FROM t0 GROUP BY i // 2 HAVING count(*) = 2
),
l2 AS (
    SELECT i // 2 AS i, CAST(SUM(a) AS BIGINT) AS a,
           CAST(SUM(CASE WHEN i % 2 = 0 THEN a ELSE -a END) AS BIGINT) AS dd
    FROM l1 GROUP BY i // 2 HAVING count(*) = 2
),
l3 AS (
    SELECT i // 2 AS i, CAST(SUM(a) AS BIGINT) AS a,
           CAST(SUM(CASE WHEN i % 2 = 0 THEN a ELSE -a END) AS BIGINT) AS dd
    FROM l2 GROUP BY i // 2 HAVING count(*) = 2
),
l4 AS (
    SELECT i // 2 AS i, CAST(SUM(a) AS BIGINT) AS a,
           CAST(SUM(CASE WHEN i % 2 = 0 THEN a ELSE -a END) AS BIGINT) AS dd
    FROM l3 GROUP BY i // 2 HAVING count(*) = 2
),
e AS (
    SELECT 1 AS lvl, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(SUM(dd * dd) AS BIGINT) AS raw FROM l1
    UNION ALL
    SELECT 2, CAST(count(*) AS BIGINT), CAST(SUM(dd * dd) AS BIGINT) FROM l2
    UNION ALL
    SELECT 3, CAST(count(*) AS BIGINT), CAST(SUM(dd * dd) AS BIGINT) FROM l3
    UNION ALL
    SELECT 4, CAST(count(*) AS BIGINT), CAST(SUM(dd * dd) AS BIGINT) FROM l4
),
nrm AS (
    SELECT lvl, n_pairs, raw,
           CAST(raw // (1 << lvl) AS BIGINT) AS norm_energy
    FROM e WHERE raw IS NOT NULL
)
SELECT CAST(lvl AS BIGINT) AS lvl,
       CAST(1 << lvl AS BIGINT) AS scale_days,
       n_pairs, raw AS detail_energy, norm_energy,
       CAST(floor(1000000.0 * CAST(norm_energy AS DOUBLE)
            / CAST(SUM(norm_energy) OVER () AS DOUBLE)) AS BIGINT)
           AS share_ppm
FROM nrm
ORDER BY lvl
"""


def _haar_level(df):
    """One Haar pair step: (i, a[, dd]) -> (i//2, a', dd') over
    complete pairs only; exact BIGINT throughout."""
    return (
        df.groupBy(F.expr("i DIV 2").alias("p"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum("a").cast("long").alias("na"),
            F.sum(
                F.when(F.expr("i % 2 = 0"), F.col("a")).otherwise(-F.col("a"))
            )
            .cast("long")
            .alias("dd"),
        )
        .filter(F.col("cnt") == 2)
        .select(F.col("p").alias("i"), F.col("na").alias("a"), "dd")
    )


@q(
    "x333_haar_energy",
    "OP-W3/G6-ext",
    "Haar wavelet detail energy of daily revenue at scales 2/4/8/16 "
    "days: four fixed pair-sum/pair-diff levels over the bounded "
    "daily frame (complete pairs only), detail energies exact "
    "kilodollar BIGINT (the x311 overflow unit), normalized by 2^level (the orthonormal Haar scaling, "
    "floor division) so levels are comparable, shares in ppm. Says "
    "WHICH timescale carries the volatility — day-to-day noise vs "
    "week-scale cycles vs fortnight drift — where x138's bands give "
    "one pooled sigma and x120/x135 assume the calendar period. "
    "Scale: day hash-agg, one bounded row_number window, then four "
    "halving hash-aggs on the daily frame (whitelisted "
    "SinglePartition on the bounded frame).",
    _HA_ORACLE,
)
def x333_haar_energy(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.expr(
            "CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
            " DIV 100000"
        ).alias("a")
    )
    t0 = daily.select(
        (F.row_number().over(Window.partitionBy().orderBy("d")) - 1)
        .cast("long")
        .alias("i"),
        "a",
    )
    levels = []
    cur = t0
    for lvl in (1, 2, 3, 4):
        cur = _haar_level(cur)
        levels.append(
            cur.agg(
                F.lit(lvl).cast("long").alias("lvl"),
                F.lit(1 << lvl).cast("long").alias("scale_days"),
                F.count("*").cast("long").alias("n_pairs"),
                F.sum(F.expr("dd * dd")).cast("long").alias("detail_energy"),
            )
        )
    e = levels[0]
    for nxt in levels[1:]:
        e = e.unionAll(nxt)
    nrm = e.filter(F.col("detail_energy").isNotNull()).select(
        "lvl",
        "scale_days",
        "n_pairs",
        "detail_energy",
        F.expr("CAST(detail_energy DIV (1 << lvl) AS BIGINT)").alias(
            "norm_energy"
        ),
    )
    wall = Window.partitionBy()
    return nrm.select(
        "lvl",
        "scale_days",
        "n_pairs",
        "detail_energy",
        "norm_energy",
        F.expr(
            "CAST(floor(1000000.0 * CAST(norm_energy AS DOUBLE)"
            " / CAST(SUM(norm_energy) OVER () AS DOUBLE)) AS BIGINT)"
        ).alias("share_ppm"),
    ).orderBy("lvl")


# ---------------------------------------------------------------------------
# x334 — exact periodogram power at candidate periods 7/14/30/91 days
# ---------------------------------------------------------------------------

_PG_PERIODS = (7, 14, 30, 91)
# angle reduced to t mod p => cos/sin become CENTI-floored literal
# integer tables (no engine trig; C,S sums stay exact BIGINT with
# C <= 365 * daily_count * 100 even at 100x)
_PG_TRIG = [
    (p, k,
     int(math.floor(100.0 * math.cos(2.0 * math.pi * k / p))),
     int(math.floor(100.0 * math.sin(2.0 * math.pi * k / p))))
    for p in _PG_PERIODS
    for k in range(p)
]
_PG_VALUES = ", ".join(f"({p}, {k}, {c}, {s})" for p, k, c, s in _PG_TRIG)

_PG_ORACLE = f"""
WITH daily AS (
    SELECT o_orderdate AS d, CAST(count(*) AS BIGINT) AS x
    FROM orders GROUP BY 1
),
t0 AS (
    SELECT CAST(row_number() OVER (ORDER BY d) - 1 AS BIGINT) AS t, x
    FROM daily
),
trig(p, k, c_centi, s_centi) AS (VALUES {_PG_VALUES}),
cs AS (
    SELECT trig.p,
           CAST(SUM(t0.x * trig.c_centi) AS BIGINT) AS cc,
           CAST(SUM(t0.x * trig.s_centi) AS BIGINT) AS ss
    FROM t0 JOIN trig ON trig.k = t0.t % trig.p
    GROUP BY trig.p
),
pw AS (
    SELECT CAST(p AS BIGINT) AS period_days,
           CAST(cc * cc + ss * ss AS BIGINT) AS power_centi2
    FROM cs
)
SELECT period_days, power_centi2,
       CAST(floor(1000000.0 * CAST(power_centi2 AS DOUBLE)
            / CAST(SUM(power_centi2) OVER () AS DOUBLE)) AS BIGINT)
           AS share_ppm,
       CAST(row_number() OVER (ORDER BY power_centi2 DESC, period_days)
            AS BIGINT) AS power_rank
FROM pw
ORDER BY period_days
"""


@q(
    "x334_periodogram_peak",
    "OP-W3/G6-ext",
    "Exact periodogram power of daily order counts at candidate "
    "periods 7/14/30/91 days: the phase angle reduces to t mod p, so "
    "cos/sin become Python-computed CENTI-floored literal integer "
    "tables (the x102 literal idiom — no engine trig, both engines "
    "run identical integer arithmetic); C and S are exact BIGINT "
    "weighted sums and power = C^2 + S^2 is exact. FINDS the cycle "
    "length x120/x135 assume from the calendar; DC leakage from "
    "partial final cycles is bounded by mean * p * 100 per literal "
    "table and irrelevant to the cross-period ranking. Scale: day "
    "hash-agg -> bounded row_number window -> broadcast join against "
    "the 142-row literal table -> 4-row frame.",
    _PG_ORACLE,
)
def x334_periodogram_peak(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count("*").cast("long").alias("x")
    )
    t0 = daily.select(
        (F.row_number().over(Window.partitionBy().orderBy("d")) - 1)
        .cast("long")
        .alias("t"),
        "x",
    )
    trig = spark.createDataFrame(
        list(_PG_TRIG), "p long, k long, c_centi long, s_centi long"
    )
    cs = (
        t0.join(F.broadcast(trig), F.expr("k = t % p"))
        .groupBy("p")
        .agg(
            F.sum(F.expr("x * c_centi")).cast("long").alias("cc"),
            F.sum(F.expr("x * s_centi")).cast("long").alias("ss"),
        )
    )
    pw = cs.select(
        F.col("p").cast("long").alias("period_days"),
        F.expr("CAST(cc * cc + ss * ss AS BIGINT)").alias("power_centi2"),
    )
    wall = Window.partitionBy()
    wr = Window.partitionBy().orderBy(
        F.col("power_centi2").desc(), "period_days"
    )
    return pw.select(
        "period_days",
        "power_centi2",
        F.expr(
            "CAST(floor(1000000.0 * CAST(power_centi2 AS DOUBLE)"
            " / CAST(SUM(power_centi2) OVER () AS DOUBLE)) AS BIGINT)"
        ).alias("share_ppm"),
        F.row_number().over(wr).cast("long").alias("power_rank"),
    ).orderBy("period_days")


# ---------------------------------------------------------------------------
# x335 — month-end open-order backlog (placed but not fully received)
# ---------------------------------------------------------------------------

_BL_ORACLE = """
WITH oc AS (
    SELECT o.o_orderkey,
           CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) - 1
                AS BIGINT) AS mi_open,
           CAST(year(max(l.l_shipdate)) * 12
                + month(max(l.l_shipdate)) - 1 AS BIGINT) AS mi_close,
           CAST(round(max(o.o_totalprice) * 100) AS BIGINT) AS cents
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_orderdate
),
open_m AS (
    SELECT mm.m, CAST(count(*) AS BIGINT) AS n_open,
           CAST(SUM(oc.cents) AS BIGINT) AS open_value_cents
    FROM oc
    CROSS JOIN LATERAL (
        SELECT unnest(range(oc.mi_open, oc.mi_close)) AS m
    ) mm
    GROUP BY mm.m
)
SELECT CAST((m // 12) * 100 + (m % 12) + 1 AS BIGINT) AS yyyymm,
       n_open, open_value_cents
FROM open_m
ORDER BY yyyymm
"""


@q(
    "x335_open_order_backlog",
    "OP-W4/G6-ext",
    "Month-end open-order backlog: an order is open at month-end m "
    "if it was placed in or before m and its LAST lineitem ship date "
    "lands after m, so each order explodes to exactly the months "
    "[order month, last-ship month) it spans; per month the count "
    "and exact cents value of open orders. The WIP/liability curve "
    "that sits under x228's stockout projection and x133's per-item "
    "latency: how much booked value is in flight at each close. "
    "Scale: one order-keyed agg over lineitem (natural key), month "
    "explode bounded by each order's real shelf life (TPC-H ~3-5 "
    "months), month hash-agg — no windows, no unbounded joins.",
    _BL_ORACLE,
)
def x335_open_order_backlog(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    oc = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.expr(
                "CAST(year(max(l_shipdate)) * 12"
                " + month(max(l_shipdate)) - 1 AS BIGINT)"
            ).alias("mi_close"),
            F.expr(
                "CAST(round(max(o_totalprice) * 100) AS BIGINT)"
            ).alias("cents"),
        )
        .select(
            F.expr(
                "CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1"
                " AS BIGINT)"
            ).alias("mi_open"),
            "mi_close",
            "cents",
        )
        .filter(F.col("mi_close") > F.col("mi_open"))
    )
    open_m = (
        oc.select(
            F.explode(
                F.sequence(F.col("mi_open"), F.col("mi_close") - 1)
            ).alias("m"),
            "cents",
        )
        .groupBy("m")
        .agg(
            F.count("*").cast("long").alias("n_open"),
            F.sum("cents").cast("long").alias("open_value_cents"),
        )
    )
    return open_m.select(
        F.expr("CAST((m DIV 12) * 100 + (m % 12) + 1 AS BIGINT)").alias(
            "yyyymm"
        ),
        "n_open",
        "open_value_cents",
    ).orderBy("yyyymm")


# ---------------------------------------------------------------------------
# x336 — deterministic permutation test for the md5 A/B mean-spend diff
# ---------------------------------------------------------------------------

_PT_R = 64  # null replicates; replicate 0 is the observed md5 split

# replicate diff of mean customer spend (dollars), one shared chain
_PT_D = (
    "(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)"
    " - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))"
)

_PT_ORACLE = f"""
WITH cust AS (
    SELECT o_custkey,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT) // 100)
                AS BIGINT) AS dollars
    FROM orders GROUP BY o_custkey
),
reps AS (
    SELECT r.r, c.o_custkey, c.dollars,
           CASE WHEN substr(md5(CAST(c.o_custkey AS VARCHAR) || ':'
                                || CAST(r.r AS VARCHAR)), 1, 1)
                     IN ('0','1','2','3','4','5','6','7')
                THEN 1 ELSE 0 END AS in_a
    FROM cust c
    CROSS JOIN (SELECT unnest(range(0, {_PT_R + 1})) AS r) r
),
agg AS (
    SELECT r,
           CAST(SUM(in_a) AS BIGINT) AS na,
           CAST(count(*) - SUM(in_a) AS BIGINT) AS nb,
           CAST(SUM(CASE WHEN in_a = 1 THEN dollars ELSE 0 END)
                AS BIGINT) AS sa,
           CAST(SUM(CASE WHEN in_a = 0 THEN dollars ELSE 0 END)
                AS BIGINT) AS sb
    FROM reps GROUP BY r
),
d AS (
    SELECT r, CAST(floor(1000.0 * abs({_PT_D})) AS BIGINT) AS ad_milli
    FROM agg WHERE na > 0 AND nb > 0
),
obs AS (SELECT ad_milli AS obs_milli FROM d WHERE r = 0)
SELECT CAST(count(*) AS BIGINT) AS n_replicates,
       CAST(max(obs.obs_milli) AS BIGINT) AS obs_abs_diff_milli,
       CAST(1 + SUM(CASE WHEN d.ad_milli >= obs.obs_milli
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_as_extreme,
       CAST((1 + SUM(CASE WHEN d.ad_milli >= obs.obs_milli
                          THEN 1 ELSE 0 END)) * 1000000
            // (count(*) + 1) AS BIGINT) AS p_value_ppm
FROM d CROSS JOIN obs
WHERE d.r > 0
"""


@q(
    "x336_permutation_test",
    "OP-G6-ext",
    "Deterministic permutation test for the md5 A/B mean-spend "
    "difference: customer spend aggregated ONCE (exact dollars), "
    "then 64 md5-salted re-assignments of customers to arms "
    "(substr(md5(custkey || ':' || r),1,1) — replicate 0 is the "
    "observed x220/x320 split), each replicate's |mean A - mean B| "
    "milli-floored through one shared IEEE chain, and "
    "p = (1 + #{{|d_r| >= |d_obs|}}) / (R + 1) in exact ppm. The "
    "distribution-free companion of x160's z-test — and since the "
    "observed split is itself as-if-random, p must be ~uniform, "
    "making the op its own falsification harness. Scale: the 65x "
    "explode runs on the CUSTOMER aggregate, never the fact table; "
    "everything after is a 65-row frame.",
    _PT_ORACLE,
)
def x336_permutation_test(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.expr(
            "CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT) DIV 100)"
            " AS BIGINT)"
        ).alias("dollars")
    )
    reps = cust.select(
        "o_custkey",
        "dollars",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(_PT_R).cast("long"))
        ).alias("r"),
    ).withColumn(
        "in_a",
        F.when(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("o_custkey").cast("string"),
                        F.lit(":"),
                        F.col("r").cast("string"),
                    )
                ),
                1,
                1,
            ).isin(*"01234567"),
            1,
        ).otherwise(0),
    )
    agg = reps.groupBy("r").agg(
        F.sum("in_a").cast("long").alias("na"),
        (F.count("*") - F.sum("in_a")).cast("long").alias("nb"),
        F.sum(F.when(F.col("in_a") == 1, F.col("dollars")).otherwise(0))
        .cast("long")
        .alias("sa"),
        F.sum(F.when(F.col("in_a") == 0, F.col("dollars")).otherwise(0))
        .cast("long")
        .alias("sb"),
    )
    d = agg.filter((F.col("na") > 0) & (F.col("nb") > 0)).select(
        "r",
        F.expr(f"CAST(floor(1000.0 * abs({_PT_D})) AS BIGINT)").alias(
            "ad_milli"
        ),
    )
    obs = d.filter(F.col("r") == 0).select(
        F.col("ad_milli").alias("obs_milli")
    )
    return (
        d.filter(F.col("r") > 0)
        .crossJoin(F.broadcast(obs))
        .agg(
            F.count("*").cast("long").alias("n_replicates"),
            F.max("obs_milli").cast("long").alias("obs_abs_diff_milli"),
            F.expr(
                "CAST(1 + SUM(CASE WHEN ad_milli >= obs_milli"
                " THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_as_extreme"),
            F.expr(
                "CAST((1 + SUM(CASE WHEN ad_milli >= obs_milli"
                " THEN 1 ELSE 0 END)) * 1000000 DIV (count(*) + 1)"
                " AS BIGINT)"
            ).alias("p_value_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# x337 — Wilson 95% score interval for the urgent-order share per segment
# ---------------------------------------------------------------------------

_WI_Z = 1.959964  # literal two-sided 95% normal quantile
# Wilson center/halfwidth through ONE shared IEEE chain over exact
# (k, n) counts; ppm floors at the very end
_WI_P = "(CAST(k AS DOUBLE) / CAST(n AS DOUBLE))"
_WI_DEN = f"(1.0 + {_WI_Z!r} * {_WI_Z!r} / CAST(n AS DOUBLE))"
_WI_CTR = (
    f"(({_WI_P} + {_WI_Z!r} * {_WI_Z!r} / (2.0 * CAST(n AS DOUBLE)))"
    f" / {_WI_DEN})"
)
_WI_HALF = (
    f"({_WI_Z!r} * sqrt({_WI_P} * (1.0 - {_WI_P}) / CAST(n AS DOUBLE)"
    f" + {_WI_Z!r} * {_WI_Z!r}"
    f" / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) / {_WI_DEN})"
)

_WI_ORACLE = f"""
WITH kn AS (
    SELECT c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN o.o_orderpriority = '1-URGENT'
                         THEN 1 ELSE 0 END) AS BIGINT) AS k
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
)
SELECT segment, n, k,
       CAST(floor(1000000.0 * {_WI_P}) AS BIGINT) AS share_ppm,
       CAST(floor(1000000.0 * ({_WI_CTR} - {_WI_HALF})) AS BIGINT)
           AS wilson_lo_ppm,
       CAST(floor(1000000.0 * ({_WI_CTR} + {_WI_HALF})) AS BIGINT)
           AS wilson_hi_ppm
FROM kn WHERE n > 0
ORDER BY segment
"""


@q(
    "x337_wilson_intervals",
    "OP-G5/G6-ext",
    "Wilson 95% score interval for the urgent-order share per "
    "segment: exact (k, n) counts, the Wilson center/halfwidth "
    "through one shared IEEE chain with the literal z = 1.959964, "
    "ppm floors at the end. The per-rate CI that stays valid at "
    "extreme shares and small strata where the Wald interval "
    "collapses — the per-segment companion of x269's corpus-level "
    "DKW bands and the uncertainty x116/x291's point tests need. "
    "Scale: one segment hash-agg (5 rows), scalar algebra after.",
    _WI_ORACLE,
)
def x337_wilson_intervals(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    kn = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("k"),
        )
        .filter(F.col("n") > 0)
    )
    return kn.select(
        "segment",
        "n",
        "k",
        F.expr(f"CAST(floor(1000000.0 * {_WI_P}) AS BIGINT)").alias(
            "share_ppm"
        ),
        F.expr(
            f"CAST(floor(1000000.0 * ({_WI_CTR} - {_WI_HALF})) AS BIGINT)"
        ).alias("wilson_lo_ppm"),
        F.expr(
            f"CAST(floor(1000000.0 * ({_WI_CTR} + {_WI_HALF})) AS BIGINT)"
        ).alias("wilson_hi_ppm"),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# x332 — per-dimension variance spectrum of the embedding table
# ---------------------------------------------------------------------------

# 3-dp fixed point: f3^2 <= 1e8 for |x| <= 10, so n*s2 stays under
# 2^63 through the 100x sweep (the 6-dp x107 scale would overflow the
# n*s2 - s1^2 variance key there)
_EE_ORACLE = """
WITH wd AS (
    SELECT max(len(embedding)) AS d FROM embeddings
),
ex AS (
    SELECT e.vec_id, generate_subscripts(e.embedding, 1) - 1 AS i,
           CAST(CAST(CAST(unnest(e.embedding) AS DOUBLE) AS DECIMAL(9,3))
                * 1000 AS BIGINT) AS f
    FROM embeddings e CROSS JOIN wd
    WHERE len(e.embedding) = wd.d
),
mo AS (
    SELECT CAST(i AS BIGINT) AS dim,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(f) AS BIGINT) AS s1,
           CAST(SUM(f * f) AS BIGINT) AS s2,
           CAST(count(*) * SUM(f * f) - SUM(f) * SUM(f) AS BIGINT) AS vkey
    FROM ex GROUP BY i
),
rk AS (
    SELECT dim, n, vkey,
           CAST(floor(1000.0 * CAST(vkey AS DOUBLE)
                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS BIGINT)
               AS var_nano,
           CAST(row_number() OVER (ORDER BY vkey DESC, dim) AS BIGINT)
               AS energy_rank,
           CAST(SUM(vkey) OVER (ORDER BY vkey DESC, dim
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
           CAST(SUM(vkey) OVER () AS BIGINT) AS tot
    FROM mo
)
SELECT dim, n, var_nano, energy_rank,
       CAST(floor(1000000.0 * CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE))
            AS BIGINT) AS cum_energy_ppm
FROM rk WHERE tot > 0
ORDER BY energy_rank
"""


@q(
    "x332_embedding_energy",
    "OP-X3-ext",
    "Per-dimension variance spectrum of the embedding table "
    "(full-width rows): exact 3-dp fixed-point moments per "
    "dimension, the integer variance key n*s2 - s1^2 ordering the "
    "dims EXACTLY, variance in nano and descending cumulative energy "
    "share in ppm through one shared IEEE chain. Dead dimensions "
    "(var ~ 0) waste ANN bits and dominant ones break the isotropy "
    "x30/x102's random projections assume — the geometry audit "
    "x188's null/dims/zero gate never looks at. Scale: posexplode is "
    "a 64x linear map, one dim hash-agg (64 rows), windows over the "
    "64-row frame (whitelisted SinglePartition).",
    _EE_ORACLE,
)
def x332_embedding_energy(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    wd = e.agg(F.max(F.size("embedding")).alias("d"))
    vec = F.col("embedding").cast("array<double>")
    f3 = F.transform(
        vec, lambda x: (x.cast("decimal(9,3)") * F.lit(1000)).cast("long")
    )
    ex = (
        e.crossJoin(F.broadcast(wd))
        .filter(F.size("embedding") == F.col("d"))
        .select(F.posexplode(f3).alias("i", "f"))
    )
    mo = ex.groupBy(F.col("i").cast("long").alias("dim")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("f").cast("long").alias("s1"),
        F.sum(F.expr("f * f")).cast("long").alias("s2"),
        F.expr(
            "CAST(count(*) * SUM(f * f) - SUM(f) * SUM(f) AS BIGINT)"
        ).alias("vkey"),
    )
    wr = Window.partitionBy().orderBy(F.col("vkey").desc(), "dim")
    wc = wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy()
    rk = mo.select(
        "dim",
        "n",
        F.expr(
            "CAST(floor(1000.0 * CAST(vkey AS DOUBLE)"
            " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS BIGINT)"
        ).alias("var_nano"),
        F.row_number().over(wr).cast("long").alias("energy_rank"),
        F.sum("vkey").over(wc).cast("long").alias("cum"),
        F.sum("vkey").over(wall).cast("long").alias("tot"),
    )
    return (
        rk.filter(F.col("tot") > 0)
        .select(
            "dim",
            "n",
            "var_nano",
            "energy_rank",
            F.expr(
                "CAST(floor(1000000.0 * CAST(cum AS DOUBLE)"
                " / CAST(tot AS DOUBLE)) AS BIGINT)"
            ).alias("cum_energy_ppm"),
        )
        .orderBy("energy_rank")
    )


# ---------------------------------------------------------------------------
# x339 — pairwise correlation among the top-8 variance dimensions
# ---------------------------------------------------------------------------

_DR_TOP = 8


def _dr_corr_expr(n, si, sj, vki, vkj) -> str:
    """corr_milli through one shared IEEE chain; the integer inputs
    (Python ints from the exact BIGINT moment collect) embed as
    literals — CAST of the same value is the same double either way,
    so the oracle computing them in SQL lands on identical bits."""
    return (
        f"CAST(floor(1000.0 * (CAST({n} AS DOUBLE) * CAST(sij AS DOUBLE)"
        f" - CAST({si} AS DOUBLE) * CAST({sj} AS DOUBLE))"
        f" / (sqrt(CAST({vki} AS DOUBLE)) * sqrt(CAST({vkj} AS DOUBLE))))"
        f" AS BIGINT)"
    )


_DR_ORACLE = f"""
WITH wd AS (
    SELECT max(len(embedding)) AS d FROM embeddings
),
ex AS (
    SELECT e.vec_id, generate_subscripts(e.embedding, 1) - 1 AS i,
           CAST(CAST(CAST(unnest(e.embedding) AS DOUBLE) AS DECIMAL(9,3))
                * 1000 AS BIGINT) AS f
    FROM embeddings e CROSS JOIN wd
    WHERE len(e.embedding) = wd.d
),
mo AS (
    SELECT CAST(i AS BIGINT) AS dim,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(f) AS BIGINT) AS s1,
           CAST(count(*) * SUM(f * f) - SUM(f) * SUM(f) AS BIGINT) AS vkey
    FROM ex GROUP BY i
),
top8 AS (
    SELECT dim, n, s1, vkey FROM mo
    WHERE vkey > 0
    ORDER BY vkey DESC, dim LIMIT {_DR_TOP}
),
pr AS (
    SELECT a.dim AS da, b.dim AS db, a.n AS n,
           a.s1 AS sa, b.s1 AS sb, a.vkey AS vka, b.vkey AS vkb
    FROM top8 a JOIN top8 b ON a.dim < b.dim
),
xm AS (
    SELECT pr.da, pr.db, pr.n, pr.sa, pr.sb, pr.vka, pr.vkb,
           CAST(SUM(ea.f * eb.f) AS BIGINT) AS sij
    FROM pr
    JOIN ex ea ON ea.i = pr.da
    JOIN ex eb ON eb.i = pr.db AND eb.vec_id = ea.vec_id
    GROUP BY pr.da, pr.db, pr.n, pr.sa, pr.sb, pr.vka, pr.vkb
)
SELECT da AS dim_a, db AS dim_b,
       CAST(floor(1000.0 * (CAST(n AS DOUBLE) * CAST(sij AS DOUBLE)
            - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
            / (sqrt(CAST(vka AS DOUBLE)) * sqrt(CAST(vkb AS DOUBLE))))
            AS BIGINT) AS corr_milli
FROM xm
ORDER BY abs(corr_milli) DESC, dim_a, dim_b
"""


@q(
    "x339_dim_redundancy",
    "OP-X3-ext",
    "Pairwise correlation among the top-8 variance dimensions of the "
    "embedding table: the dims are chosen by the EXACT integer "
    "variance key (n*s2 - s1^2, ties by dim) and pulled to the "
    "driver as plan literals (the bounded-collect centroid idiom — "
    "64 rows), then all 28 cross-moment sums run in ONE scan as "
    "element_at products over the 3-dp fixed-point array; corr "
    "milli-floored through one shared IEEE chain whose integer "
    "inputs embed as literals (CAST of the same value is the same "
    "double, so the SQL-computed oracle lands on identical bits). "
    "Highly correlated dimensions mean the table's effective "
    "dimension is lower than its width — wasted ANN bits and an "
    "x245b intrinsic-dim cross-check. Scale: two scans (one 64-row "
    "agg, one 28-product agg), no joins, no windows.",
    _DR_ORACLE,
)
def x339_dim_redundancy(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")

    def moments():
        vec0 = F.col("embedding").cast("array<double>")
        f30 = F.transform(
            vec0,
            lambda x: (x.cast("decimal(9,3)") * F.lit(1000)).cast("long"),
        )
        d = embedding_probe(spark, sf_dir)[0]  # table max width
        mo = (
            e.filter(F.size("embedding") == F.lit(d))
            .select(F.posexplode(f30).alias("i", "f"))
            .groupBy(F.col("i").cast("long").alias("dim"))
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum("f").cast("long").alias("s1"),
                F.expr(
                    "CAST(count(*) * SUM(f * f) - SUM(f) * SUM(f)"
                    " AS BIGINT)"
                ).alias("vkey"),
            )
            .collect()  # bounded: one row per embedding dimension
        )
        rows = sorted(
            (
                (r.dim, r.n, r.s1, r.vkey)
                for r in mo
                if r.vkey is not None and r.vkey > 0
            ),
            key=lambda t: (-t[3], t[0]),
        )[:_DR_TOP]
        return rows, d

    rows, d = memo(spark, sf_dir, "embeddings", "x339_moments", moments)
    if len(rows) < 2:
        return e.limit(0).select(
            F.lit(0).cast("long").alias("dim_a"),
            F.lit(0).cast("long").alias("dim_b"),
            F.lit(0).cast("long").alias("corr_milli"),
        )
    vec = F.col("embedding").cast("array<double>")
    f3 = F.transform(
        vec, lambda x: (x.cast("decimal(9,3)") * F.lit(1000)).cast("long")
    )
    # == d (the table max width), not >= dmax: the oracle's ex CTE
    # keeps only full-width rows, so a mixed-width table must feed the
    # cross-moment sums the SAME row set as the n/s1/vkey moments
    # (ADVICE r10 medium: |corr| could exceed 1000 otherwise).
    base = e.filter(F.size("embedding") == F.lit(d)).select(f3.alias("f3"))
    pair_sums = []
    meta = []
    for ai in range(len(rows)):
        for bi in range(ai + 1, len(rows)):
            da, n, sa, vka = rows[ai]
            db, _, sb, vkb = rows[bi]
            if da > db:  # rows are variance-ordered; pairs dim-ordered
                da, sa, vka, db, sb, vkb = db, sb, vkb, da, sa, vka
            col = f"sij_{da}_{db}"
            pair_sums.append(
                f"CAST(SUM(element_at(f3, {da + 1})"
                f" * element_at(f3, {db + 1})) AS BIGINT) AS {col}"
            )
            meta.append((da, db, n, sa, sb, vka, vkb, col))
    sums = base.selectExpr(*pair_sums)
    # ONE inline(array(named_struct...)) projection instead of a
    # 28-branch unionAll of single-row selects (r12): each unionAll
    # re-analyzed the growing plan — quadratic driver time, ~1.4 s per
    # build — while the inline form is one analysis pass producing the
    # identical rows (same literals, same IEEE corr chain per pair).
    structs = ", ".join(
        f"named_struct('dim_a', CAST({da} AS BIGINT),"
        f" 'dim_b', CAST({db} AS BIGINT),"
        f" 'corr_milli', {_dr_corr_expr(n, sa, sb, vka, vkb).replace('sij', col)})"
        for da, db, n, sa, sb, vka, vkb, col in meta
    )
    out = sums.selectExpr(f"inline(array({structs}))")
    return out.orderBy(
        F.abs(F.col("corr_milli")).desc(), "dim_a", "dim_b"
    )


# ---------------------------------------------------------------------------
# x340 — calibration slope/intercept of a price-proportional urgency score
# ---------------------------------------------------------------------------

# slope/intercept of y (urgent 0/1) on score p through one shared
# IEEE chain over exact integer sums; p enters as ppm / 1e6
_CS_P = "(CAST(sp AS DOUBLE) / 1000000.0)"
_CS_PP = "(CAST(spp AS DOUBLE) / 1000000.0 / 1000000.0)"
_CS_PY = "(CAST(spy AS DOUBLE) / 1000000.0)"
_CS_SLOPE = (
    f"((CAST(n AS DOUBLE) * {_CS_PY} - {_CS_P} * CAST(sy AS DOUBLE))"
    f" / (CAST(n AS DOUBLE) * {_CS_PP} - {_CS_P} * {_CS_P}))"
)
_CS_ICPT = (
    f"((CAST(sy AS DOUBLE) - {_CS_SLOPE} * {_CS_P}) / CAST(n AS DOUBLE))"
)

_CS_ORACLE = f"""
WITH mx AS (
    SELECT CAST(max(CAST(round(o_totalprice * 100) AS BIGINT) // 100)
                AS BIGINT) AS m
    FROM orders
),
sc AS (
    SELECT CAST(least(999999,
               (CAST(round(o_totalprice * 100) AS BIGINT) // 100)
               * 1000000 // (mx.m + 1)) AS BIGINT) AS p_ppm,
           CAST(CASE WHEN o_orderpriority = '1-URGENT'
                     THEN 1 ELSE 0 END AS BIGINT) AS y
    FROM orders CROSS JOIN mx
),
s AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(p_ppm) AS BIGINT) AS sp,
           CAST(SUM(p_ppm * p_ppm) AS BIGINT) AS spp,
           CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(p_ppm * y) AS BIGINT) AS spy
    FROM sc
)
SELECT n, CAST(sp // n AS BIGINT) AS mean_score_ppm,
       CAST(sy * 1000000 // n AS BIGINT) AS base_rate_ppm,
       CAST(floor(1000.0 * {_CS_SLOPE}) AS BIGINT) AS slope_milli,
       CAST(floor(1000000.0 * ({_CS_ICPT})) AS BIGINT) AS intercept_ppm
FROM s
WHERE n >= 2 AND CAST(n AS DOUBLE) * {_CS_PP} > {_CS_P} * {_CS_P}
"""


@q(
    "x340_calibration_slope",
    "OP-G6-ext",
    "Calibration slope/intercept of the urgent-order outcome against "
    "a deterministic price-proportional score (p = dollars scaled to "
    "[0, 1) ppm by the corpus max): exact ppm-integer score moments "
    "(spp <= 1e12 * rows stays under 2^63 through the 100x sweep), "
    "OLS slope/intercept through one shared IEEE chain. Slope ~ 0 "
    "here is the NEGATIVE control (price should not predict urgency "
    "in TPC-H-like data) — on a real scored table slope < 1 reads "
    "'overconfident', slope > 1 'underconfident'; the one-number "
    "companion of x215's binned ECE. Scale: one 1-row max broadcast "
    "+ one global moment agg (one partial row per partition).",
    _CS_ORACLE,
)
def x340_calibration_slope(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    mx = o.agg(
        F.expr(
            "CAST(max(CAST(round(o_totalprice * 100) AS BIGINT) DIV 100)"
            " AS BIGINT)"
        ).alias("m")
    )
    sc = o.crossJoin(F.broadcast(mx)).select(
        F.expr(
            "CAST(least(999999,"
            " (CAST(round(o_totalprice * 100) AS BIGINT) DIV 100)"
            " * 1000000 DIV (m + 1)) AS BIGINT)"
        ).alias("p_ppm"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .cast("long")
        .alias("y"),
    )
    s = sc.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("p_ppm").cast("long").alias("sp"),
        F.sum(F.expr("p_ppm * p_ppm")).cast("long").alias("spp"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.expr("p_ppm * y")).cast("long").alias("spy"),
    )
    return s.filter(
        (F.col("n") >= 2)
        & (
            F.expr(f"CAST(n AS DOUBLE) * {_CS_PP}")
            > F.expr(f"{_CS_P} * {_CS_P}")
        )
    ).select(
        "n",
        F.expr("CAST(sp DIV n AS BIGINT)").alias("mean_score_ppm"),
        F.expr("CAST(sy * 1000000 DIV n AS BIGINT)").alias(
            "base_rate_ppm"
        ),
        F.expr(f"CAST(floor(1000.0 * {_CS_SLOPE}) AS BIGINT)").alias(
            "slope_milli"
        ),
        F.expr(f"CAST(floor(1000000.0 * ({_CS_ICPT})) AS BIGINT)").alias(
            "intercept_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# x338 — character-class composition profile per source
# ---------------------------------------------------------------------------

# counts via length-difference after class removal; identical ASCII
# class patterns in both engines (Java regex and DuckDB RE2 agree on
# plain ASCII bracket classes; '-' sits last so it stays literal)
_UC_CLASSES = (
    ("letters", "[A-Za-z]"),
    ("digits", "[0-9]"),
    ("spaces", "[ ]"),
    ("punct", "[.,;:!?()-]"),
)

_UC_SEL_SQL = ",\n           ".join(
    f"CAST(SUM(length(text) - length(regexp_replace(text,"
    f" '{pat}', '', 'g'))) AS BIGINT) AS n_{name}"
    for name, pat in _UC_CLASSES
)

_UC_ORACLE = f"""
WITH cc AS (
    SELECT source,
           CAST(SUM(length(text)) AS BIGINT) AS n_chars,
           {_UC_SEL_SQL}
    FROM documents
    GROUP BY source
)
SELECT source, n_chars,
       CAST(n_letters * 1000000 // n_chars AS BIGINT) AS letters_ppm,
       CAST(n_digits * 1000000 // n_chars AS BIGINT) AS digits_ppm,
       CAST(n_spaces * 1000000 // n_chars AS BIGINT) AS spaces_ppm,
       CAST(n_punct * 1000000 // n_chars AS BIGINT) AS punct_ppm,
       CAST((n_chars - n_letters - n_digits - n_spaces - n_punct)
            * 1000000 // n_chars AS BIGINT) AS other_ppm
FROM cc WHERE n_chars > 0
ORDER BY source
"""


@q(
    "x338_unicode_class_profile",
    "OP-X4-ext",
    "Character-class composition per source in exact ppm: letters / "
    "digits / spaces / ASCII punctuation / other, counted as the "
    "length difference after class removal (identical ASCII bracket "
    "classes in both engines — Java regex and RE2 agree there). A "
    "source whose class mix shifts (digit floods, punctuation-free "
    "scrapes, non-ASCII drift into 'other') is the first corpus-"
    "composition smell before x4_quality_score's per-doc gates and "
    "x49's entropy run; per-source ppm rows make it alertable. "
    "Scale: one source hash-agg; the regex work is map-side and "
    "linear in corpus bytes, no joins, no windows.",
    _UC_ORACLE,
)
def x338_unicode_class_profile(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    aggs = [F.sum(F.length("text")).cast("long").alias("n_chars")]
    for cname, pat in _UC_CLASSES:
        aggs.append(
            F.sum(
                F.length("text")
                - F.length(F.regexp_replace("text", pat, ""))
            )
            .cast("long")
            .alias(f"n_{cname}")
        )
    cc = d.groupBy("source").agg(*aggs).filter(F.col("n_chars") > 0)
    return cc.select(
        "source",
        "n_chars",
        F.expr("CAST(n_letters * 1000000 DIV n_chars AS BIGINT)").alias(
            "letters_ppm"
        ),
        F.expr("CAST(n_digits * 1000000 DIV n_chars AS BIGINT)").alias(
            "digits_ppm"
        ),
        F.expr("CAST(n_spaces * 1000000 DIV n_chars AS BIGINT)").alias(
            "spaces_ppm"
        ),
        F.expr("CAST(n_punct * 1000000 DIV n_chars AS BIGINT)").alias(
            "punct_ppm"
        ),
        F.expr(
            "CAST((n_chars - n_letters - n_digits - n_spaces - n_punct)"
            " * 1000000 DIV n_chars AS BIGINT)"
        ).alias("other_ppm"),
    ).orderBy("source")
