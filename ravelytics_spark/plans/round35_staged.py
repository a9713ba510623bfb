"""Catalog entries x356-x360.

Theme: the query-PLANNER'S arithmetic — the statistics, filters and
estimates a 100 TB engine computes ABOUT its data to decide how to
touch it — plus two analytics closers:

* ``x356_bloom_prefilter`` — a Bloom filter over the BUILDING-segment
  customer keys (m = 2^16 bits as 2048 32-bit words built with ONE
  bit_or aggregate; k = 3 portable md5-slice hashes), probed by every
  non-member customer key: emits bits set, true-negative probes,
  false positives and the measured FPR in ppm. This is the runtime-
  filter / semi-join-pushdown primitive (Spark's own
  spark.sql.optimizer.runtimeFilter.bloomFilter) with its mathematics
  hash-certified end to end — build, probe and error rate
  (x42_bloom_prune_join certifies the soundness side by join
  equality; this one measures precision). The fill ratio is an
  output, so the m-vs-n sizing story is visible, not assumed.
* ``x357_file_skipping`` — min/max-statistics file pruning measured:
  documents chunked into 100-row 'files' under two layouts (natural
  doc_id order vs sorted by n_chars), a literal n_chars range
  predicate, and per-layout files_total / files_touched. Certifies
  the planner arithmetic behind every parquet row-group skip and
  QUANTIFIES why sort order is a pruning decision (x41_zorder_layout
  holds the 2-D Morton bucket-stats side).
* ``x358_wasserstein_w1`` — exact-integer 1-D Wasserstein-1 (earth-
  mover) distance between BUILDING-segment and other customers' order
  values on a $100 grid: W1 = sum over grid gaps of
  |n2*cum1 - n1*cum2| * gap / (n1*n2), numerator kept as an exact
  BIGINT over the bounded value-domain frame, ONE final IEEE division
  floored to milli-dollars. The integral-distance drift metric next
  to the sup-distance (x159 KS) and divergence (x85 JSD) tiers —
  W1 responds to HOW FAR mass moved, not just whether it did.
* ``x359_sequence_match`` — the ClickHouse sequenceMatch('(?1).*(?2)')
  analog with a time bound: per user, does a 'view' event precede a
  'purchase' within 7 days; emits users-with-both, matched count and
  ppm. Per-user equi-join keeps candidate pairs bounded by per-user
  event counts (which do NOT grow with corpus size), so the pattern
  scan is shuffle-linear.
* ``x360_join_cardinality`` — the cost-based optimizer's join-size
  estimate certified: the exact self-join cardinality on l_partkey is
  sum(c_k^2) (computed WITHOUT running the join), and the top-100 +
  uniform-tail estimate (the classic histogram+independence
  assumption) lands beside it with its signed error in ppm. This is
  the number a planner uses to pick broadcast vs sort-merge; the
  entry makes its accuracy measurable.

Hash-parity conventions as plans/queries.py: exact BIGINT arithmetic
until one shared IEEE expression, total ORDER BY, BIGINT casts on
every count.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ravelytics_spark.plans.registry import q
from ravelytics_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# x356 — Bloom-filter join prefilter, build + probe + measured FPR
# ---------------------------------------------------------------------------

_BF_M = 1 << 16  # bits

# three 16-bit hash positions from disjoint md5 slices (4 hex chars
# each = exact 16-bit integers; m = 2^16 so no modulo bias)
_BF_POS_SQL = [
    f"CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), {1 + 4 * i}, 4)) AS BIGINT)"
    for i in range(3)
]

_BF_ORACLE = f"""
WITH members AS (
    SELECT DISTINCT c_custkey AS k FROM customer
    WHERE c_mktsegment = 'BUILDING'
),
mpos AS (
    {" UNION ALL ".join(f"SELECT k, {p} AS pos FROM members" for p in _BF_POS_SQL)}
),
words AS (
    -- 32-bit words: DuckDB's << overflow-checks BIGINT, so bit 63 of
    -- a 64-bit word raises; 32 bits per word keeps every shift exact
    SELECT pos // 32 AS w,
           bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS bits
    FROM mpos GROUP BY 1
),
probes AS (
    SELECT DISTINCT c_custkey AS k FROM customer
    WHERE c_mktsegment <> 'BUILDING'
),
checked AS (
    SELECT p.k,
           {" AND ".join(
               f"coalesce((SELECT (w.bits >> CAST(({pos}) % 32 AS INTEGER)) & 1"
               f" FROM words w WHERE w.w = ({pos}) // 32), 0) = 1"
               for pos in (p.replace("(k AS VARCHAR)", "(p.k AS VARCHAR)")
                           for p in _BF_POS_SQL))} AS passes
    FROM probes p
)
SELECT CAST((SELECT count(*) FROM members) AS BIGINT) AS n_members,
       CAST((SELECT coalesce(SUM(bit_count(bits)), 0) FROM words)
            AS BIGINT) AS bits_set,
       CAST((SELECT count(*) FROM probes) AS BIGINT) AS n_probes,
       CAST((SELECT coalesce(SUM(CASE WHEN passes THEN 1 ELSE 0 END), 0)
             FROM checked) AS BIGINT) AS n_false_pos,
       CAST(CASE WHEN (SELECT count(*) FROM probes) > 0
            THEN (SELECT coalesce(SUM(CASE WHEN passes THEN 1 ELSE 0 END), 0)
                  FROM checked) * 1000000
                 // (SELECT count(*) FROM probes)
            ELSE 0 END AS BIGINT) AS fpr_ppm
"""


@q(
    "x356_bloom_prefilter",
    "OP-J3-ext",
    "Bloom-filter join prefilter with its mathematics hash-certified: "
    "m = 2^16 bits as 2048 32-bit words (ONE bit_or aggregate over "
    "3 md5-slice positions per member key), probed by every "
    "non-member customer key through 3 broadcast word lookups; emits "
    "member count, bits set, true-negative probes, false positives "
    "and the measured FPR in ppm (Bloom 1970, public method; Spark's "
    "runtimeFilter.bloomFilter and every semi-join pushdown run this "
    "construction). The fill ratio is visible in bits_set/m, so the "
    "m-vs-n sizing tradeoff is measured, not assumed — the "
    "PRECISION side of x42_bloom_prune_join, which certifies "
    "soundness (no dropped matches) by join equality. Plan: member "
    "agg -> 1024-word bit_or (bounded), broadcast to a map-side "
    "3-lookup probe, scalar counts. 100 TB: the word table is ~8 KB "
    "regardless of corpus size — exactly why Bloom prefilters are "
    "the big-join shuffle reducer.",
    _BF_ORACLE,
)
def x356_bloom_prefilter(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    members = (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("k"))
        .distinct()
    )
    probes = (
        c.filter(F.col("c_mktsegment") != "BUILDING")
        .select(F.col("c_custkey").alias("k"))
        .distinct()
    )

    def pos(i, col="k"):
        return F.conv(
            F.substring(F.md5(F.col(col).cast("string")), 1 + 4 * i, 4),
            16,
            10,
        ).cast("long")

    mpos = None
    for i in range(3):
        part = members.select(pos(i).alias("pos"))
        mpos = part if mpos is None else mpos.unionAll(part)
    words = mpos.groupBy(F.expr("pos DIV 32").alias("w")).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT)))"
        ).alias("bits")
    )
    checked = probes
    for i in range(3):
        wi = words.select(
            F.col("w").alias(f"w{i}"), F.col("bits").alias(f"bits{i}")
        )
        checked = checked.join(
            F.broadcast(wi),
            (pos(i) / F.lit(32)).cast("long") == F.col(f"w{i}"),
            "left",
        ).withColumn(
            f"hit{i}",
            F.coalesce(
                F.expr(
                    f"shiftright(bits{i}, CAST("
                    f"conv(substring(md5(CAST(k AS STRING)), {1 + 4 * i}, 4),"
                    f" 16, 10) % 32 AS INT)) & 1"
                ),
                F.lit(0),
            )
            == 1,
        )
    passes = F.col("hit0") & F.col("hit1") & F.col("hit2")
    fp = checked.agg(
        F.count("*").cast("long").alias("n_probes"),
        F.coalesce(F.sum(F.when(passes, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_false_pos"),
    )
    nm = members.agg(F.count("*").cast("long").alias("n_members"))
    bs = words.agg(
        F.coalesce(F.sum(F.expr("bit_count(bits)")), F.lit(0))
        .cast("long")
        .alias("bits_set")
    )
    return (
        nm.crossJoin(F.broadcast(bs))
        .crossJoin(F.broadcast(fp))
        .select(
            "n_members",
            "bits_set",
            "n_probes",
            "n_false_pos",
            F.when(
                F.col("n_probes") > 0,
                F.expr("n_false_pos * 1000000 DIV n_probes"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("fpr_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# x357 — min/max-statistics file skipping, sorted vs natural layout
# ---------------------------------------------------------------------------

_FS_ROWS_PER_FILE = 100
_FS_LO = 500
_FS_HI = 700  # predicate: n_chars BETWEEN lo AND hi

_FS_ORACLE = f"""
WITH base AS (
    SELECT doc_id, n_chars FROM documents WHERE n_chars IS NOT NULL
),
nat AS (
    SELECT n_chars,
           (row_number() OVER (ORDER BY doc_id) - 1)
               // {_FS_ROWS_PER_FILE} AS f
    FROM base
),
srt AS (
    SELECT n_chars,
           (row_number() OVER (ORDER BY n_chars, doc_id) - 1)
               // {_FS_ROWS_PER_FILE} AS f
    FROM base
),
natf AS (
    SELECT f, min(n_chars) AS lo, max(n_chars) AS hi FROM nat GROUP BY 1
),
srtf AS (
    SELECT f, min(n_chars) AS lo, max(n_chars) AS hi FROM srt GROUP BY 1
)
SELECT 'natural' AS layout,
       CAST(count(*) AS BIGINT) AS files_total,
       CAST(SUM(CASE WHEN hi >= {_FS_LO} AND lo <= {_FS_HI}
                     THEN 1 ELSE 0 END) AS BIGINT) AS files_touched
FROM natf
UNION ALL
SELECT 'sorted',
       CAST(count(*) AS BIGINT),
       CAST(SUM(CASE WHEN hi >= {_FS_LO} AND lo <= {_FS_HI}
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM srtf
ORDER BY layout
"""


@q(
    "x357_file_skipping",
    "OP-S11/P3-ext",
    "Min/max-statistics file pruning, measured: documents chunk into "
    f"{_FS_ROWS_PER_FILE}-row 'files' under two layouts (natural "
    "doc_id order vs sorted by n_chars), each file carries the "
    "min/max stats a parquet footer would, and a literal n_chars "
    "range predicate counts files_touched per layout. The certified "
    "arithmetic IS what every row-group skip and Delta/Iceberg "
    "data-skipping decision runs — and the sorted row quantifies why "
    "layout is a pruning decision (touched files collapse to the "
    "range's quantile span, vs nearly all files under natural "
    "order). Complements x41_zorder_layout: x41 builds the 2-D "
    "Morton bucket stats, this MEASURES files_touched for a "
    "predicate under competing 1-D layouts. "
    "Plan: per layout, the x349 two-level bucket-prefix ranking "
    "(per-bucket counts -> prefix sums over the bounded bucket frame "
    "-> bucket-partitioned row_number) assigns global file ids with "
    "NO corpus-sized single-partition window, then two bounded "
    "per-file aggs; at 100 TB the write path pays this as the "
    "repartitionByRange sort the layout already requires.",
    _FS_ORACLE,
)
def x357_file_skipping(spark, sf_dir):
    base = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
    )

    def layout(name, bucket_expr, order_cols):
        # global rank = rows in earlier buckets (bounded-frame prefix
        # sum) + bucket-partitioned row_number; the bucket key is DIV
        # on the leading sort column, so it is monotone in the sort
        # order and the two-level rank equals the global one
        b = base.withColumn("b", F.expr(bucket_expr))
        bt = b.groupBy("b").agg(F.count("*").alias("bcnt"))
        wprev = Window.orderBy("b").rowsBetween(
            Window.unboundedPreceding, -1
        )
        bprev = bt.select(
            "b",
            F.coalesce(F.sum("bcnt").over(wprev), F.lit(0)).alias("bless"),
        )
        win = Window.partitionBy("b").orderBy(*order_cols)
        ranked = b.withColumn("rn", F.row_number().over(win)).join(
            F.broadcast(bprev), "b"
        )
        files = (
            ranked.select(
                "n_chars",
                F.expr(
                    f"(bless + rn - 1) DIV {_FS_ROWS_PER_FILE}"
                ).alias("f"),
            )
            .groupBy("f")
            .agg(
                F.min("n_chars").alias("lo"), F.max("n_chars").alias("hi")
            )
        )
        return files.agg(
            F.lit(name).alias("layout"),
            F.count("*").cast("long").alias("files_total"),
            F.sum(
                F.when(
                    (F.col("hi") >= _FS_LO) & (F.col("lo") <= _FS_HI), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("files_touched"),
        )

    return (
        layout("natural", "doc_id DIV 4096", ["doc_id"])
        .unionAll(
            layout("sorted", "n_chars DIV 64", ["n_chars", "doc_id"])
        )
        .orderBy("layout")
    )


# ---------------------------------------------------------------------------
# x358 — exact-integer 1-D Wasserstein-1 distance (distribution drift)
# ---------------------------------------------------------------------------

_W1_GRID = 10_000  # cents per grid cell ($100)

_W1_ORACLE = f"""
WITH seg AS (
    SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 2 END AS s,
           CAST(round(o.o_totalprice * 100) AS BIGINT) // {_W1_GRID} AS v
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
vc AS (
    SELECT v,
           CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
           CAST(SUM(CASE WHEN s = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
    FROM seg GROUP BY 1
),
cum AS (
    SELECT v,
           SUM(c1) OVER (ORDER BY v) AS k1,
           SUM(c2) OVER (ORDER BY v) AS k2,
           lead(v) OVER (ORDER BY v) - v AS gap
    FROM vc
),
tot AS (
    SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
    FROM vc
),
num AS (
    SELECT CAST(coalesce(SUM(abs(tot.n2 * cum.k1 - tot.n1 * cum.k2)
                             * cum.gap), 0) AS BIGINT) AS w1_num
    FROM cum, tot WHERE cum.gap IS NOT NULL
)
SELECT tot.n1, tot.n2, num.w1_num,
       CAST(CASE WHEN tot.n1 > 0 AND tot.n2 > 0
            THEN floor(1000.0 * CAST(num.w1_num AS DOUBLE)
                 / (CAST(tot.n1 AS DOUBLE) * CAST(tot.n2 AS DOUBLE)))
            END AS BIGINT) AS w1_milligrid
FROM tot, num
"""


@q(
    "x358_wasserstein_w1",
    "OP-G6-ext",
    "Exact-integer 1-D Wasserstein-1 (earth-mover) distance between "
    "BUILDING-segment and other customers' order-value distributions "
    "on a $100 grid: W1 = sum over grid gaps of |n2*cum1 - n1*cum2| "
    "* gap / (n1*n2), the numerator an exact BIGINT over the bounded "
    "value-domain frame (<= ~5000 grid cells at any corpus size — "
    "the whitelisted bounded-window idiom), ONE final IEEE division "
    "floored to milli grid-units. The integral drift metric next to "
    "the sup-distance (x159 KS) and divergence (x85 JSD) tiers: W1 "
    "measures how FAR probability mass moved, so a uniform $10 shift "
    "registers proportionally where KS saturates. $100 cells keep "
    "n2*cum*gap <= ~1e18 at the 100x sweep scale (overflow-checked "
    "like x349). Plan: one join+agg to grid counts, cumulative + "
    "lead windows over the bounded grid, scalar chain.",
    _W1_ORACLE,
)
def x358_wasserstein_w1(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    seg = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.when(F.col("c_mktsegment") == "BUILDING", 1)
        .otherwise(2)
        .alias("s"),
        F.expr(
            f"CAST(round(o_totalprice * 100) AS BIGINT) DIV {_W1_GRID}"
        ).alias("v"),
    )
    vc = seg.groupBy("v").agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("s") == 2, 1).otherwise(0))
        .cast("long")
        .alias("c2"),
    )
    wv = Window.orderBy("v")
    cum = vc.select(
        "v",
        F.sum("c1").over(wv).alias("k1"),
        F.sum("c2").over(wv).alias("k2"),
        (F.lead("v").over(wv) - F.col("v")).alias("gap"),
    )
    tot = vc.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    num = (
        cum.filter(F.col("gap").isNotNull())
        .crossJoin(F.broadcast(tot))
        .agg(
            F.coalesce(
                F.sum(
                    F.abs(
                        F.col("n2") * F.col("k1")
                        - F.col("n1") * F.col("k2")
                    )
                    * F.col("gap")
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("w1_num")
        )
    )
    return (
        tot.crossJoin(F.broadcast(num))
        .select(
            "n1",
            "n2",
            "w1_num",
            F.when(
                (F.col("n1") > 0) & (F.col("n2") > 0),
                F.floor(
                    F.lit(1000.0)
                    * F.col("w1_num").cast("double")
                    / (
                        F.col("n1").cast("double")
                        * F.col("n2").cast("double")
                    )
                ),
            )
            .cast("long")
            .alias("w1_milligrid"),
        )
    )


# ---------------------------------------------------------------------------
# x359 — sequenceMatch-style pattern: view then purchase within 7 days
# ---------------------------------------------------------------------------

_SM_WINDOW_S = 7 * 86_400

_SM_ORACLE = f"""
WITH ev AS (
    SELECT user_id, event_type,
           date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS es
    FROM events
    WHERE user_id IS NOT NULL AND event_type IN ('view', 'purchase')
),
u AS (
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS nv,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS np
    FROM ev GROUP BY 1
),
both_u AS (SELECT user_id FROM u WHERE nv > 0 AND np > 0),
matched AS (
    SELECT DISTINCT v.user_id
    FROM ev v JOIN ev p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.es >= v.es AND p.es - v.es <= {_SM_WINDOW_S}
)
SELECT CAST((SELECT count(*) FROM u) AS BIGINT) AS n_users,
       CAST((SELECT count(*) FROM both_u) AS BIGINT) AS n_with_both,
       CAST((SELECT count(*) FROM matched) AS BIGINT) AS n_matched,
       CAST(CASE WHEN (SELECT count(*) FROM both_u) > 0
            THEN (SELECT count(*) FROM matched) * 1000000
                 // (SELECT count(*) FROM both_u)
            ELSE 0 END AS BIGINT) AS match_ppm
"""


@q(
    "x359_sequence_match",
    "OP-T/W3-ext",
    "sequenceMatch('(?1).*(?2)') with a time bound — the ClickHouse "
    "event-pattern primitive (ref stack's engine family) expressed "
    "Spark-first: per user, does any 'view' precede a 'purchase' "
    "within 7 days; emits total users, users holding both event "
    "types, matched users and the match rate in ppm. The conversion- "
    "window question behind every funnel cut (x36/x131 measure the "
    "ordered-step funnel; this certifies the bounded-window pattern "
    "EXISTS test). Plan: one per-user equi-join between the view and "
    "purchase sub-streams (candidate pairs bounded by per-user event "
    "counts, which do not grow with corpus size), DISTINCT on "
    "user_id, scalar counts. 100 TB: shuffle-linear in events; no "
    "corpus-wide state.",
    _SM_ORACLE,
)
def x359_sequence_match(spark, sf_dir):
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("event_type").isin("view", "purchase")
        )
        .select(
            "user_id",
            "event_type",
            F.unix_timestamp("ts").cast("long").alias("es"),
        )
    )
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "nv"
        ),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("np"),
    )
    n_users = u.agg(F.count("*").cast("long").alias("n_users"))
    both_u = u.filter((F.col("nv") > 0) & (F.col("np") > 0))
    n_both = both_u.agg(F.count("*").cast("long").alias("n_with_both"))
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("es").alias("ves")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("es").alias("pes")
    )
    matched = (
        v.join(p, "user_id")
        .filter(
            (F.col("pes") >= F.col("ves"))
            & (F.col("pes") - F.col("ves") <= _SM_WINDOW_S)
        )
        .select("user_id")
        .distinct()
    )
    n_m = matched.agg(F.count("*").cast("long").alias("n_matched"))
    return (
        n_users.crossJoin(F.broadcast(n_both))
        .crossJoin(F.broadcast(n_m))
        .select(
            "n_users",
            "n_with_both",
            "n_matched",
            F.when(
                F.col("n_with_both") > 0,
                F.expr("n_matched * 1000000 DIV n_with_both"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("match_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# x360 — join-cardinality estimation (top-k histogram + uniform tail)
# ---------------------------------------------------------------------------

_JC_TOPK = 100

_JC_ORACLE = f"""
WITH h AS (
    SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS c
    FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1
),
actual AS (
    SELECT CAST(SUM(c * c) AS BIGINT) AS pairs FROM h
),
top AS (
    SELECT k, c FROM h ORDER BY c DESC, k LIMIT {_JC_TOPK}
),
tophit AS (
    SELECT CAST(coalesce(SUM(c * c), 0) AS BIGINT) AS tp,
           CAST(coalesce(SUM(c), 0) AS BIGINT) AS tn,
           CAST(count(*) AS BIGINT) AS tk
    FROM top
),
all_h AS (
    SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS d
    FROM h
),
est AS (
    SELECT tophit.tp
           + CASE WHEN all_h.d - tophit.tk > 0
                  THEN (all_h.n - tophit.tn) * (all_h.n - tophit.tn)
                       // (all_h.d - tophit.tk)
                  ELSE 0 END AS est_pairs
    FROM tophit, all_h
)
SELECT actual.pairs AS actual_pairs,
       CAST(est.est_pairs AS BIGINT) AS est_pairs,
       CAST(floor(1000000.0 * (CAST(est.est_pairs AS DOUBLE)
                               - CAST(actual.pairs AS DOUBLE))
                  / CAST(actual.pairs AS DOUBLE)) AS BIGINT) AS err_ppm
FROM actual, est
"""


@q(
    "x360_join_cardinality",
    "OP-G5/J2-ext",
    "The cost-based optimizer's join-size arithmetic, certified: the "
    "exact self-equi-join cardinality of lineitem on l_partkey is "
    "sum(c_k^2) over the key histogram — computed WITHOUT running "
    "the join — and next to it the estimate a planner would make "
    "from a bounded statistic: top-100 keys exact + uniform tail "
    "((n_rest)^2 / d_rest, the classic equal-depth independence "
    "assumption), with the signed error in ppm. This number decides "
    "broadcast vs sort-merge vs skew-salting at 100 TB; the entry "
    "makes its accuracy a measured, hash-certified quantity. Plan: "
    "one map-side-combined key histogram, a TakeOrdered(100) top "
    "slice, three scalar aggs — the join itself never executes "
    "(that is the point).",
    _JC_ORACLE,
)
def x360_join_cardinality(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey").isNotNull()
    )
    h = li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count("*").cast("long").alias("c")
    )
    actual = h.agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("actual_pairs")
    )
    top = h.orderBy(F.desc("c"), "k").limit(_JC_TOPK)
    tophit = top.agg(
        F.coalesce(F.sum(F.col("c") * F.col("c")), F.lit(0))
        .cast("long")
        .alias("tp"),
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("tn"),
        F.count("*").cast("long").alias("tk"),
    )
    all_h = h.agg(
        F.sum("c").cast("long").alias("n"),
        F.count("*").cast("long").alias("d"),
    )
    est = tophit.crossJoin(F.broadcast(all_h)).select(
        (
            F.col("tp")
            + F.when(
                F.col("d") - F.col("tk") > 0,
                F.expr("(n - tn) * (n - tn) DIV (d - tk)"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("est_pairs")
    )
    return (
        actual.crossJoin(F.broadcast(est))
        .select(
            "actual_pairs",
            "est_pairs",
            # floor of one IEEE chain, NOT integer DIV: the error is
            # negative (uniform tail underestimates sum c^2) and
            # Spark's DIV truncates toward zero while DuckDB's //
            # floors — the known negative-operand asymmetry
            F.floor(
                F.lit(1000000.0)
                * (
                    F.col("est_pairs").cast("double")
                    - F.col("actual_pairs").cast("double")
                )
                / F.col("actual_pairs").cast("double")
            )
            .cast("long")
            .alias("err_ppm"),
        )
    )
