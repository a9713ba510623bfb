"""Round-21 operators (round 5): classic warehouse analytics + the
remaining training-pipeline diagnostics, all oracle-certified.

Reference parity: the reference warehouse's dashboard layer (SURVEY.md
§2.10 — ClickHouse materialized rollups consumed by BI) implies the
standard retail-analytics battery (segmentation, Pareto, baskets,
trends) that its SQL surface can express but its DAGs never shipped;
these entries provide them Spark-first, each with a DuckDB oracle:

* ``x108_cms_heavy_hitters`` — portable Count-Min sketch (Cormode &
  Muthukrishnan 2005): d=4 md5-salted hash rows x w=512 counters, the
  estimate for the top-20 exact keys certified as min-over-rows. The
  counter table is FIXED d*w state with map-side combine — the
  mergeable heavy-hitter sketch a 100 TB frequency scan wants.
* ``x109_dataset_split`` — deterministic hash train/val/test split
  (96/2/2) with an order-independent per-split content fingerprint
  (the x86 digest-sum idiom): membership is a pure function of
  doc_id, so the SPLIT ITSELF is engine- and layout-reproducible.
* ``x110_source_pair_jaccard`` — corpus-level bottom-K (K=64) shingle
  sketches per source + pairwise KMV-Jaccard estimates: the
  corpus-overlap diagnostic run before mixing sources into a
  training corpus. Sketches are top-K-per-group (TakeOrdered), pairs
  are bounded by (#sources choose 2), never by document count.
* ``x111_rfm_segmentation`` — recency/frequency/monetary quartile
  segmentation (ntile over total tie-broken orders) — the classic
  customer-analytics cube.
* ``x112_pareto_abc`` — ABC / 80-95 Pareto classification of parts by
  cumulative exact-cents revenue share (integer threshold compares).
* ``x113_basket_lift`` — market-basket brand co-occurrence with exact
  integer lift numerators/denominators; one IEEE divide per pair.
* ``x114_trend_slope`` — per-nation monthly revenue OLS slope by the
  closed-form normal equations in exact integer sums (the portable
  regr_slope: both engines divide the same two exact operands).
* ``x115_gini_concentration`` — per-source Gini coefficient of
  document length from the rank-weighted closed form (2*Sum(i*x) -
  (n+1)*Sum(x)) / (n*Sum(x)), all BIGINT until one divide.
* ``x116_chi2_independence`` — Pearson chi-square test of lang x
  source independence over the FULL contingency lattice (zero cells
  included via a dims cross join), per-cell expected counts and
  contributions as identical IEEE expressions on exact BIGINT
  marginals.
* ``x117_bm25_scan`` — BM25 (k1=1.2, b=0.75) scoring of EVERY
  document for a literal 3-term query as a single scan: tf per term
  computed natively inside the row (filter+size HOFs — no token
  explode, no (doc,term) shuffle), corpus stats a 1-row broadcast.
  The deliberate physical DUAL of ``x83_bm25_score``'s
  explode+inverted-join shape: x83 wins when query terms are
  selective (map-side term filter prunes the token stream), this
  shape wins when every document must be scored (zero exchanges
  before the final TakeOrderedAndProject). Classic Robertson idf
  (no +1 floor), so the two entries also pin down both idf
  conventions.
* ``x118_exact_median`` — exact per-group median without either
  engine's median() (their interpolation rules differ): the
  middle-rank formula in cents, duplicated-middle trick for odd n,
  one exact DECIMAL(38,1)/2.
* ``x119_ewma_revenue`` — truncated 8-term EWMA (alpha=1/2) of
  monthly per-nation revenue: dyadic weights 2^(7-k) keep numerator
  and available-weight denominator exact BIGINT; the result is exact
  integer micro-cents via two-step floor division (no float round).
* ``x120_seasonality_index`` — month-vs-trailing-12-mean revenue
  ratio (only full windows), 12*y vs window sum as exact ints.
* ``x121_entropy_mix`` — Shannon source-mix entropy per language
  (the corpus-diversity dial of a training-mix report), x49's
  portable-entropy convention.

Hash-parity conventions as plans/queries.py: exact cents/BIGINT
arithmetic, md5-derived portable hashes, one IEEE divide of two
deterministic operands (or x49's round(ln,8) for logs), total ORDER
BY on every output.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ravelytics_spark.plans.frames import (
    MONTHLY_NATION_REVENUE_CTE,
    MONTHLY_REVENUE_CTE,
    monthly_nation_revenue,
    monthly_revenue,
)
from ravelytics_spark.plans.registry import q
from ravelytics_spark.sources.tables import load_table
from ravelytics_spark.operators.ranks import (  # noqa: F401
    global_ntile,
    global_row_number,
)

_MOD61 = 2305843009213693952  # 2^61, the x86 fingerprint modulus


def _h48(col, prefix: str = ""):
    """48-bit portable hash: first 12 hex chars of md5 as BIGINT.
    DuckDB twin: CAST('0x' || substr(md5(expr), 1, 12) AS BIGINT)."""
    s = F.concat(F.lit(prefix), col) if prefix else col
    return F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# x108 — portable Count-Min sketch heavy hitters
# ---------------------------------------------------------------------------

_CMS_D = 4
_CMS_W = 512

_CMS_ORACLE = f"""
WITH keys AS (
    SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_exact
    FROM lineitem GROUP BY l_partkey
    ORDER BY n_exact DESC, l_partkey LIMIT 20
),
hashes AS (
    SELECT d,
           CAST('0x' || substr(md5('cms:' || l_partkey), 1 + 3 * d, 3) AS BIGINT)
               % {_CMS_W} AS b
    FROM lineitem, (SELECT unnest([0, 1, 2, 3]) AS d)
),
counters AS (
    SELECT d, b, CAST(count(*) AS BIGINT) AS cnt FROM hashes GROUP BY d, b
),
keyb AS (
    SELECT k.l_partkey, k.n_exact, d,
           CAST('0x' || substr(md5('cms:' || k.l_partkey), 1 + 3 * d, 3) AS BIGINT)
               % {_CMS_W} AS b
    FROM keys k, (SELECT unnest([0, 1, 2, 3]) AS d)
)
SELECT kb.l_partkey, kb.n_exact, CAST(min(c.cnt) AS BIGINT) AS n_cms
FROM keyb kb JOIN counters c USING (d, b)
GROUP BY kb.l_partkey, kb.n_exact
ORDER BY n_exact DESC, l_partkey
"""


@q(
    "x108_cms_heavy_hitters",
    "OP-G5/X8-ext",
    "Portable Count-Min sketch (d=4 hash rows x w=512 counters) over "
    "lineitem part frequencies, certified against the exact top-20: "
    "the CMS estimate (min over rows) is >= exact by construction and "
    "both sides are pure integer state. The 4 row-hashes are DISJOINT "
    "9-of-12-bit slices of ONE md5 per key (the Kirsch-Mitzenmacher "
    "multiple-hashes-from-one-digest construction) — one md5 per "
    "input row instead of d salted digests, which is the dominant "
    "per-row cost of any sketch scan. The counter table is FIXED d*w "
    "cells built in one hash-agg with map-side combine — mergeable "
    "across shards/days like the HLL registers of x98, which is what "
    "makes it the 100 TB heavy-hitter scan (the exact per-key agg it "
    "is checked against is the thing that does NOT scale when keys "
    "are unbounded).",
    _CMS_ORACLE,
)
def x108_cms_heavy_hitters(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    pk = F.col("l_partkey").cast("string")
    digest = F.md5(F.concat(F.lit("cms:"), pk))

    def buckets():
        # 12 hex chars sliced into 4 independent 3-hex (12-bit) words,
        # each reduced mod w=512.
        return [
            F.struct(
                F.lit(d).alias("d"),
                (
                    F.conv(F.substring(digest, 1 + 3 * d, 3), 16, 10).cast("long")
                    % _CMS_W
                ).alias("b"),
            )
            for d in range(_CMS_D)
        ]

    exact = li.groupBy("l_partkey").agg(F.count("*").cast("long").alias("n_exact"))
    top = exact.orderBy(F.desc("n_exact"), "l_partkey").limit(20)

    # Explicit-count repartition before the digest fan-out: the testdata
    # parquet is a single row group, so the scan stage is one task — a
    # ~5 MB key-column shuffle buys full-core parallelism for the md5 +
    # explode CPU (the round-19 hash-stage idiom).
    n_par = spark.sparkContext.defaultParallelism
    keys = li.select("l_partkey").repartition(n_par)
    # r12: materialize the md5 digest ONCE per row in a projection below
    # the explode — inside the Generate's array input the 4 bucket
    # structs each re-evaluate their digest subexpression (codegen CSE
    # does not reach Generate inputs; interleaved noop A/B on this
    # stage: 1.18 -> 0.89 s at sf0.1). Values are unchanged — the
    # buckets() expressions are identical, only evaluated against a
    # projected column.
    def buckets_of(dig):
        return F.array(
            *[
                F.struct(
                    F.lit(d).alias("d"),
                    (
                        F.conv(F.substring(dig, 1 + 3 * d, 3), 16, 10).cast(
                            "long"
                        )
                        % _CMS_W
                    ).alias("b"),
                )
                for d in range(_CMS_D)
            ]
        )

    rows = (
        keys.select(digest.alias("__dig"))
        .select(F.explode(buckets_of(F.col("__dig"))).alias("s"))
        .select("s.d", "s.b")
    )
    counters = rows.groupBy("d", "b").agg(F.count("*").cast("long").alias("cnt"))

    keyb = top.select(
        "l_partkey",
        "n_exact",
        F.explode(F.array(*buckets())).alias("s"),
    ).select("l_partkey", "n_exact", "s.d", "s.b")
    return (
        keyb.join(F.broadcast(counters), ["d", "b"])
        .groupBy("l_partkey", "n_exact")
        .agg(F.min("cnt").cast("long").alias("n_cms"))
        .orderBy(F.desc("n_exact"), "l_partkey")
    )


# ---------------------------------------------------------------------------
# x109 — deterministic train/val/test split with content fingerprints
# ---------------------------------------------------------------------------

_SPLIT_ORACLE = f"""
WITH a AS (
    SELECT CASE WHEN h < 96 THEN 'train' WHEN h < 98 THEN 'val' ELSE 'test' END AS split,
           n_chars,
           CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS fph
    FROM (
        SELECT text, n_chars,
               CAST('0x' || substr(md5('split:' || doc_id), 1, 12) AS BIGINT) % 100 AS h
        FROM documents
    )
)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(fph) % {_MOD61} AS BIGINT) AS fingerprint
FROM a GROUP BY split ORDER BY split
"""


@q(
    "x109_dataset_split",
    "OP-X9/O5-ext",
    "Deterministic hash train/val/test split (96/2/2 permille-free "
    "form): membership is a pure function of doc_id (md5 % 100), so "
    "the split is reproducible across engines, partitionings and "
    "reruns — df.randomSplit is partition-seeded and is not. Each "
    "split publishes the x86 order-independent digest-sum fingerprint "
    "(exact SUM of 60-bit md5 prefixes mod 2^61, O(1) agg state), so "
    "two exports certify they produced identical split CONTENT, not "
    "just identical counts. One hash-agg, map-side combine.",
    _SPLIT_ORACLE,
)
def x109_dataset_split(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    h = _h48(F.col("doc_id").cast("string"), "split:") % 100
    a = d.select(
        F.when(h < 96, "train").when(h < 98, "val").otherwise("test").alias("split"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long").alias("fph"),
    )
    return (
        a.groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            (F.sum(F.col("fph").cast("decimal(38,0)")) % F.lit(_MOD61))
            .cast("long")
            .alias("fingerprint"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# x110 — corpus-level source-pair Jaccard from bottom-K shingle sketches
# ---------------------------------------------------------------------------

_BK_K = 64

_PAIR_JACCARD_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, source, w,
           row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS p
    FROM (
        SELECT doc_id, source, unnest(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ) WHERE w <> ''
),
sh AS (
    SELECT DISTINCT a.source,
           CAST('0x' || substr(md5(a.w || ' ' || b.w || ' ' || c.w), 1, 12) AS BIGINT) AS h
    FROM tok a
    JOIN tok b ON a.doc_id = b.doc_id AND b.p = a.p + 1
    JOIN tok c ON a.doc_id = c.doc_id AND c.p = a.p + 2
),
bk AS (
    SELECT source, h FROM (
        SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS r
        FROM sh
    ) WHERE r <= {_BK_K}
),
srcs AS (SELECT DISTINCT source FROM bk),
memb AS (
    SELECT bk.source AS sa, s.source AS sb, h, 1 AS side
    FROM bk JOIN srcs s ON bk.source < s.source
    UNION ALL
    SELECT s.source AS sa, bk.source AS sb, h, 2 AS side
    FROM bk JOIN srcs s ON s.source < bk.source
),
g AS (SELECT sa, sb, h, count(*) AS nsides FROM memb GROUP BY sa, sb, h),
s2 AS (
    SELECT sa, sb, nsides,
           row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS r
    FROM g
)
SELECT sa AS src_a, sb AS src_b,
       CAST(count(*) AS BIGINT) AS k_used,
       CAST(sum(CASE WHEN nsides = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_inter,
       round(CAST(sum(CASE WHEN nsides = 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 8) AS jaccard_est
FROM s2 WHERE r <= {_BK_K}
GROUP BY sa, sb ORDER BY sa, sb
"""


@q(
    "x110_source_pair_jaccard",
    "OP-X2-ext",
    "Corpus-overlap matrix: per-source bottom-K (K=64) sketch of "
    "48-bit hashed 3-word shingles, then the KMV-Jaccard estimate "
    "per source pair — |bottom-K(union) in both| / |bottom-K(union)| "
    "(Broder 1997). The pre-mix overlap diagnostic for a training "
    "corpus: per-source state is K values regardless of corpus size "
    "(TakeOrdered per group), pair work is bounded by sources^2, and "
    "nothing ever compares documents pairwise. Estimator certified "
    "exactly: both engines derive identical sketches from identical "
    "md5 values, so n_inter/k_used is one IEEE divide of two exact "
    "BIGINTs.",
    _PAIR_JACCARD_ORACLE,
)
def x110_source_pair_jaccard(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.expr("filter(split(text, ' '), x -> x <> '')").alias("w")
    )
    shingles = F.when(
        F.size("w") >= 3,
        F.expr(
            "transform(sequence(0, size(w) - 3),"
            " i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = (
        toks.select("source", F.explode(shingles).alias("s"))
        .select("source", _h48(F.col("s")).alias("h"))
        .distinct()
    )
    wS = Window.partitionBy("source").orderBy("h")
    bk = sh.withColumn("r", F.row_number().over(wS)).filter(F.col("r") <= _BK_K)
    bk = bk.select("source", "h")
    srcs = bk.select("source").distinct()
    left = bk.select(F.col("source").alias("sa"), "h").join(
        F.broadcast(srcs.select(F.col("source").alias("sb"))),
        F.col("sa") < F.col("sb"),
    )
    right = bk.select(F.col("source").alias("sb"), "h").join(
        F.broadcast(srcs.select(F.col("source").alias("sa"))),
        F.col("sa") < F.col("sb"),
    )
    memb = left.select("sa", "sb", "h").unionByName(right.select("sa", "sb", "h"))
    g = memb.groupBy("sa", "sb", "h").agg(F.count("*").alias("nsides"))
    wP = Window.partitionBy("sa", "sb").orderBy("h")
    s2 = g.withColumn("r", F.row_number().over(wP)).filter(F.col("r") <= _BK_K)
    inter = F.sum(F.when(F.col("nsides") == 2, 1).otherwise(0)).cast("long")
    return (
        s2.groupBy("sa", "sb")
        .agg(
            F.count("*").cast("long").alias("k_used"),
            inter.alias("n_inter"),
        )
        .select(
            F.col("sa").alias("src_a"),
            F.col("sb").alias("src_b"),
            "k_used",
            "n_inter",
            F.round(F.col("n_inter") / F.col("k_used"), 8).alias("jaccard_est"),
        )
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# x111 — RFM quartile segmentation
# ---------------------------------------------------------------------------

_RFM_ORACLE = """
WITH cust AS (
    SELECT o_custkey,
           date_diff('day', CAST(max(o_orderdate) AS DATE),
                     (SELECT CAST(max(o_orderdate) AS DATE) FROM orders)) AS recency,
           CAST(count(*) AS BIGINT) AS frequency,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS monetary
    FROM orders GROUP BY o_custkey
),
scored AS (
    SELECT o_custkey, monetary,
           ntile(4) OVER (ORDER BY recency, o_custkey) AS r_q,
           ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_q,
           ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_q
    FROM cust
)
SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
       CAST(m_q AS BIGINT) AS m_q,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(monetary) AS BIGINT) AS monetary_cents
FROM scored GROUP BY r_q, f_q, m_q ORDER BY r_q, f_q, m_q
"""


@q(
    "x111_rfm_segmentation",
    "OP-W-ext/OP-G3",
    "RFM customer segmentation: recency (days since last order vs the "
    "corpus anchor date), frequency (order count) and monetary (exact "
    "cents) quartiles via ntile(4) with TOTAL tie-broken orderings "
    "(metric, custkey) — ntile on a non-total order is nondeterministic "
    "across engines. Segment counts + exact cents per (r,f,m) cell. "
    "Scale: the per-customer agg shuffles once with map-side combine; "
    "the three ntiles run over the customer aggregate (|customers| "
    "rows) under the default rank_method='window' (the certifiable "
    "small-frame form); rank_method='bucketed' switches to "
    "operators.ranks.global_ntile — the distributed exact form "
    "(quantile-bucketed rank, no single-partition exchange), "
    "property-tested bit-identical in tests/test_ranks.py.",
    _RFM_ORACLE,
)
def x111_rfm_segmentation(spark, sf_dir, rank_method: str = "window"):
    o = load_table(spark, sf_dir, "orders")
    anchor = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("anchor"))
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
            F.count("*").cast("long").alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "o_custkey",
            F.datediff("anchor", "last_d").alias("recency"),
            "frequency",
            "monetary",
        )
    )
    scored = cust
    for cname, order in (
        ("r_q", [("recency", "asc"), ("o_custkey", "asc")]),
        ("f_q", [("frequency", "desc"), ("o_custkey", "asc")]),
        ("m_q", [("monetary", "desc"), ("o_custkey", "asc")]),
    ):
        scored = global_ntile(
            scored, 4, order, method=rank_method, col_name=cname
        )
    scored = scored.select("o_custkey", "monetary", "r_q", "f_q", "m_q")
    return (
        scored.groupBy(
            F.col("r_q").cast("long").alias("r_q"),
            F.col("f_q").cast("long").alias("f_q"),
            F.col("m_q").cast("long").alias("m_q"),
        )
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum("monetary").cast("long").alias("monetary_cents"),
        )
        .orderBy("r_q", "f_q", "m_q")
    )


# ---------------------------------------------------------------------------
# x112 — Pareto / ABC classification by cumulative revenue share
# ---------------------------------------------------------------------------

_ABC_ORACLE = """
WITH pr AS (
    SELECT l_partkey,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS c
    FROM lineitem GROUP BY l_partkey
),
w AS (
    SELECT c,
           SUM(c) OVER (ORDER BY c DESC, l_partkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           (SELECT SUM(c) FROM pr) AS tot
    FROM pr
),
cls AS (
    SELECT CASE WHEN cum * 100 <= tot * 80 THEN 'A'
                WHEN cum * 100 <= tot * 95 THEN 'B'
                ELSE 'C' END AS abc_class,
           c, tot
    FROM w
)
SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(c) AS BIGINT) AS revenue_cents,
       round(CAST(sum(c) AS DOUBLE) / CAST(max(tot) AS DOUBLE), 8) AS revenue_share
FROM cls GROUP BY abc_class ORDER BY abc_class
"""


@q(
    "x112_pareto_abc",
    "OP-W4/OP-G3-ext",
    "ABC (Pareto) part classification: parts ranked by exact-cents "
    "revenue, class A while cumulative share <= 80%, B <= 95%, else C "
    "— thresholds compared as exact integers (cum*100 <= tot*80), "
    "never as float shares; the share itself is one final IEEE "
    "divide. The cumulative window runs over the PART-LEVEL aggregate "
    "(bounded by |parts|, not |lineitem|) after a map-side-combined "
    "cents agg; the explicit ROWS frame avoids RANGE's peer-group "
    "semantics so both engines bind ties identically under the total "
    "(c, partkey) order.",
    _ABC_ORACLE,
)
def x112_pareto_abc(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    pr = li.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("c")
    )
    tot = pr.agg(F.sum("c").cast("long").alias("tot"))
    wC = (
        Window.orderBy(F.desc("c"), "l_partkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w = pr.withColumn("cum", F.sum("c").over(wC)).crossJoin(F.broadcast(tot))
    cls = w.select(
        F.when(F.col("cum") * 100 <= F.col("tot") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("tot") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
        "c",
        "tot",
    )
    return (
        cls.groupBy("abc_class")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum("c").cast("long").alias("revenue_cents"),
            F.round(
                F.sum("c").cast("double") / F.max("tot").cast("double"), 8
            ).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


# ---------------------------------------------------------------------------
# x113 — market-basket brand lift
# ---------------------------------------------------------------------------

_LIFT_ORACLE = """
WITH b AS (
    SELECT DISTINCT l_orderkey, p_brand
    FROM lineitem JOIN part ON l_partkey = p_partkey
),
n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM b),
s AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY p_brand),
p AS (
    SELECT x.p_brand AS brand_a, y.p_brand AS brand_b,
           CAST(count(*) AS BIGINT) AS n_ab
    FROM b x JOIN b y ON x.l_orderkey = y.l_orderkey AND x.p_brand < y.p_brand
    GROUP BY x.p_brand, y.p_brand
)
SELECT brand_a, brand_b, n_ab, sa.n AS n_a, sb.n AS n_b,
       round(CAST(n_ab * n_orders AS DOUBLE)
             / CAST(sa.n * sb.n AS DOUBLE), 8) AS lift
FROM p JOIN s sa ON brand_a = sa.p_brand
       JOIN s sb ON brand_b = sb.p_brand, n
WHERE n_ab >= 20
ORDER BY lift DESC, brand_a, brand_b
LIMIT 25
"""


@q(
    "x113_basket_lift",
    "OP-J2/OP-G3-ext",
    "Market-basket association: distinct (order, brand) baskets (part "
    "dim broadcast into the lineitem scan), brand-pair co-occurrence "
    "counts by self-equi-join on the order key, and lift = "
    "P(ab)/(P(a)P(b)) computed as (n_ab*N)/(n_a*n_b) — two exact "
    "BIGINT products, one IEEE divide, support floor n_ab >= 20, "
    "top-25 by (lift, pair) total order. The pair space is bounded by "
    "brands^2 (625), not orders; the self-join shuffles baskets once "
    "on the order key and brand marginals join broadcast.",
    _LIFT_ORACLE,
)
def x113_basket_lift(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    b = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    n = b.agg(F.countDistinct("l_orderkey").cast("long").alias("n_orders"))
    s = b.groupBy("p_brand").agg(F.count("*").cast("long").alias("n"))
    x, y = b.alias("x"), b.alias("y")
    p = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.p_brand") < F.col("y.p_brand")),
        )
        .groupBy(
            F.col("x.p_brand").alias("brand_a"),
            F.col("y.p_brand").alias("brand_b"),
        )
        .agg(F.count("*").cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= 20)
    )
    sa = s.select(F.col("p_brand").alias("brand_a"), F.col("n").alias("n_a"))
    sb = s.select(F.col("p_brand").alias("brand_b"), F.col("n").alias("n_b"))
    return (
        p.join(F.broadcast(sa), "brand_a")
        .join(F.broadcast(sb), "brand_b")
        .crossJoin(F.broadcast(n))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                (F.col("n_ab") * F.col("n_orders")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                8,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "brand_a", "brand_b")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# x114 — per-nation monthly revenue OLS trend slope (portable regr_slope)
# ---------------------------------------------------------------------------

_SLOPE_ORACLE = """
WITH m AS (
    SELECT c_nationkey,
           (year(o_orderdate) * 12 + month(o_orderdate))
             - (SELECT min(year(o_orderdate) * 12 + month(o_orderdate))
                FROM orders) AS t,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey, t
),
sums AS (
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(t) AS BIGINT) AS st,
           CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(t * t) AS BIGINT) AS stt,
           CAST(sum(t * y) AS BIGINT) AS sty
    FROM m GROUP BY c_nationkey
)
SELECT n_name, n AS n_months,
       round(CAST(n * sty - st * sy AS DOUBLE)
             / CAST(n * stt - st * st AS DOUBLE), 6) AS slope_cents_per_month
FROM sums JOIN nation ON c_nationkey = n_nationkey
WHERE n >= 2
ORDER BY n_name
"""


@q(
    "x114_trend_slope",
    "OP-G6/OP-P3-ext",
    "Per-nation revenue trend: OLS slope of monthly exact-cents "
    "revenue on a month index, via the closed-form normal equations "
    "(n*Sxy - Sx*Sy)/(n*Sxx - Sx^2) where every sum is exact integer "
    "arithmetic — the portable regr_slope (engine regr_* functions "
    "accumulate in float and are partition-order-dependent). Both "
    "engines divide the same two exact operands once. Two shuffles "
    "total (month agg with map-side combine, then a per-nation "
    "5-sum agg over |nations|x|months| rows); the nation dim joins "
    "broadcast.",
    _SLOPE_ORACLE,
)
def x114_trend_slope(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    mon = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    t0 = o.agg(F.min(mon).alias("t0"))
    m = (
        o.join(c, o.o_custkey == c.c_custkey)
        .crossJoin(F.broadcast(t0))
        .select(
            "c_nationkey",
            (mon - F.col("t0")).cast("long").alias("t"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("c_nationkey", "t")
        .agg(F.sum("cents").cast("long").alias("y"))
    )
    sums = m.groupBy("c_nationkey").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("sty"),
    )
    num = (F.col("n") * F.col("sty") - F.col("st") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("stt") - F.col("st") * F.col("st")).cast("double")
    return (
        sums.filter(F.col("n") >= 2)
        .join(F.broadcast(nat), sums.c_nationkey == nat.n_nationkey)
        .select(
            "n_name",
            F.col("n").alias("n_months"),
            F.round(num / den, 6).alias("slope_cents_per_month"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# x115 — per-source Gini concentration of document length
# ---------------------------------------------------------------------------

_GINI_ORACLE = """
WITH r AS (
    SELECT source, n_chars,
           row_number() OVER (PARTITION BY source
                              ORDER BY n_chars, doc_id) AS i
    FROM documents
),
s AS (
    SELECT source,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(n_chars) AS BIGINT) AS sx,
           CAST(sum(i * n_chars) AS BIGINT) AS six
    FROM r GROUP BY source
)
SELECT source, n AS n_docs,
       round(CAST(2 * six - (n + 1) * sx AS DOUBLE)
             / CAST(n * sx AS DOUBLE), 8) AS gini
FROM s ORDER BY source
"""


@q(
    "x115_gini_concentration",
    "OP-G6-ext",
    "Per-source Gini coefficient of document length from the "
    "rank-weighted closed form G = (2*Sum(i*x_i) - (n+1)*Sum(x)) / "
    "(n*Sum(x)) over ascending-ranked lengths — the length-"
    "concentration dial of a corpus report (G~0 uniform sizes, G~1 a "
    "few giant docs dominate). All rank products and sums are exact "
    "BIGINT; one IEEE divide. Ranks come from a per-source window "
    "(partition-parallel, tie-broken total by (n_chars, doc_id)); "
    "everything after is a map-side-combined agg per source.",
    _GINI_ORACLE,
)
def x115_gini_concentration(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    wS = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    r = d.select(
        "source",
        F.col("n_chars").cast("long").alias("x"),
        F.row_number().over(wS).cast("long").alias("i"),
    )
    s = r.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("i") * F.col("x")).cast("long").alias("six"),
    )
    num = (2 * F.col("six") - (F.col("n") + 1) * F.col("sx")).cast("double")
    den = (F.col("n") * F.col("sx")).cast("double")
    return s.select(
        "source",
        F.col("n").alias("n_docs"),
        F.round(num / den, 8).alias("gini"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# x116 — chi-square test of lang x source independence
# ---------------------------------------------------------------------------

_CHI2_ORACLE = """
WITH o AS (
    SELECT lang, source, CAST(count(*) AS BIGINT) AS n
    FROM documents GROUP BY lang, source
),
r AS (SELECT lang, CAST(sum(n) AS BIGINT) AS rn FROM o GROUP BY lang),
c AS (SELECT source, CAST(sum(n) AS BIGINT) AS cn FROM o GROUP BY source),
t AS (SELECT CAST(sum(n) AS BIGINT) AS tn FROM o),
cells AS (
    SELECT lang, source, COALESCE(n, 0) AS n_obs, rn, cn, tn
    FROM (SELECT lang, source, rn, cn, tn FROM r CROSS JOIN c CROSS JOIN t)
    LEFT JOIN o USING (lang, source)
)
SELECT lang, source, CAST(n_obs AS BIGINT) AS n_obs,
       round(CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE) / CAST(tn AS DOUBLE), 8)
           AS expected,
       round((CAST(n_obs AS DOUBLE)
              - CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE) / CAST(tn AS DOUBLE))
             * (CAST(n_obs AS DOUBLE)
                - CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE) / CAST(tn AS DOUBLE))
             / (CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE) / CAST(tn AS DOUBLE)), 8)
           AS chi2_contrib
FROM cells
ORDER BY lang, source
"""


@q(
    "x116_chi2_independence",
    "OP-G6/OP-J-ext",
    "Pearson chi-square test of independence between document language "
    "and source: per-cell observed counts, expected counts E = R*C/N "
    "and contributions (O-E)^2/E over the FULL contingency lattice — "
    "zero cells are materialized by a dims cross join (langs x "
    "sources, both tiny aggregates) then left-joined with observed, "
    "because chi-square without its empty cells is a different "
    "statistic. All marginals are exact BIGINTs from one "
    "map-side-combined agg; every float step is the identical IEEE "
    "expression on identical operands in both engines (squares as "
    "explicit x*x, never pow), rounded to 8 places per cell. The "
    "mix-drift significance dial a corpus report pairs with the x85 "
    "JSD distance: cell work is bounded by |langs|x|sources| no "
    "matter the corpus size.",
    _CHI2_ORACLE,
)
def x116_chi2_independence(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    o = d.groupBy("lang", "source").agg(F.count("*").cast("long").alias("n"))
    r = o.groupBy("lang").agg(F.sum("n").cast("long").alias("rn"))
    c = o.groupBy("source").agg(F.sum("n").cast("long").alias("cn"))
    t = o.agg(F.sum("n").cast("long").alias("tn"))
    cells = (
        r.crossJoin(F.broadcast(c))
        .crossJoin(F.broadcast(t))
        .join(o, ["lang", "source"], "left")
        .select(
            "lang",
            "source",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_obs"),
            "rn",
            "cn",
            "tn",
        )
    )
    e = F.col("rn").cast("double") * F.col("cn").cast("double") / F.col(
        "tn"
    ).cast("double")
    diff = F.col("n_obs").cast("double") - e
    return cells.select(
        "lang",
        "source",
        "n_obs",
        F.round(e, 8).alias("expected"),
        F.round(diff * diff / e, 8).alias("chi2_contrib"),
    ).orderBy("lang", "source")


# ---------------------------------------------------------------------------
# x117 — BM25 scoring for a literal query
# ---------------------------------------------------------------------------

_BM25_TERMS = ("join", "vector", "stream")
_BM25_K1 = 1.2
_BM25_B = 0.75

_BM25_TF_SQL = ",\n           ".join(
    f"CAST(len(list_filter(w, x -> x = '{t}')) AS BIGINT) AS tf{i}"
    for i, t in enumerate(_BM25_TERMS)
)
_BM25_DF_SQL = ",\n           ".join(
    f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
    for i in range(len(_BM25_TERMS))
)
_BM25_IDF_SQL = ",\n           ".join(
    f"round(ln((CAST(n_docs AS DOUBLE) - CAST(df{i} AS DOUBLE) + 0.5)"
    f" / (CAST(df{i} AS DOUBLE) + 0.5)), 8) AS idf{i}"
    for i in range(len(_BM25_TERMS))
)
_BM25_TERM_SQL = " + ".join(
    f"CAST(round(idf{i} * (CAST(tf{i} AS DOUBLE) * {_BM25_K1 + 1})"
    f" / (CAST(tf{i} AS DOUBLE) + {_BM25_K1} * (1 - {_BM25_B}"
    f" + {_BM25_B} * CAST(dl AS DOUBLE) / avgdl)), 8) AS DECIMAL(28,12))"
    for i in range(len(_BM25_TERMS))
)

_BM25_ORACLE = f"""
WITH d AS (
    SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
    FROM documents
),
l AS (
    SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
           {_BM25_TF_SQL}
    FROM d
),
s AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(dl) AS BIGINT) AS sum_dl,
           {_BM25_DF_SQL}
    FROM l
),
c AS (
    SELECT n_docs, CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl,
           {_BM25_IDF_SQL}
    FROM s
)
SELECT doc_id, dl,
       CAST({_BM25_TERM_SQL} AS DOUBLE) AS bm25
FROM l, c
ORDER BY bm25 DESC, doc_id
LIMIT 50
"""


@q(
    "x117_bm25_scan",
    "OP-X4/OP-O1-ext",
    "BM25 relevance scoring (k1=1.2, b=0.75) of EVERY document "
    "against a literal 3-term query, top-50 — the deliberate physical "
    "DUAL of x83_bm25_score: x83 explodes tokens and equi-joins the "
    "term list (wins when selective terms prune the token stream "
    "map-side); this entry computes tf per term natively inside the "
    "row (filter+size HOFs — no explode, no (doc,term) shuffle, zero "
    "exchanges before the final TakeOrderedAndProject), the shape "
    "that wins when every document must be scored (reranking, "
    "quality-weighted sampling). Also pins the other idf convention: "
    "classic Robertson ln((N-df+.5)/(df+.5)) without x83's +1 floor, "
    "under the x49 round(ln,8) portability rule; per-term scores "
    "rounded then DECIMAL-summed so term order can't wiggle the "
    "total; corpus stats a 1-row broadcast.",
    _BM25_ORACLE,
)
def x117_bm25_scan(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.expr("filter(split(text, ' '), x -> x <> '')").alias("w")
    )
    tf_cols = [
        F.size(F.expr(f"filter(w, x -> x = '{t}')")).cast("long").alias(f"tf{i}")
        for i, t in enumerate(_BM25_TERMS)
    ]
    lrow = toks.select("doc_id", F.size("w").cast("long").alias("dl"), *tf_cols)
    stats = lrow.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0))
            .cast("long")
            .alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    consts = stats.select(
        (F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")).alias(
            "avgdl"
        ),
        *[
            F.round(
                F.log(
                    (
                        F.col("n_docs").cast("double")
                        - F.col(f"df{i}").cast("double")
                        + 0.5
                    )
                    / (F.col(f"df{i}").cast("double") + 0.5)
                ),
                8,
            ).alias(f"idf{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    scored = lrow.crossJoin(F.broadcast(consts))
    term_sum = None
    for i in range(len(_BM25_TERMS)):
        tf = F.col(f"tf{i}").cast("double")
        t = F.round(
            F.col(f"idf{i}")
            * (tf * (_BM25_K1 + 1))
            / (
                tf
                + _BM25_K1
                * (1 - _BM25_B + _BM25_B * F.col("dl").cast("double") / F.col("avgdl"))
            ),
            8,
        ).cast("decimal(28,12)")
        term_sum = t if term_sum is None else term_sum + t
    return (
        scored.select("doc_id", "dl", term_sum.cast("double").alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# x118 — exact per-group median without engine median()
# ---------------------------------------------------------------------------

_MEDIAN_ORACLE = """
WITH c AS (
    SELECT o_orderpriority,
           CAST(round(o_totalprice * 100) AS BIGINT) AS v,
           o_orderkey
    FROM orders
),
r AS (
    SELECT o_orderpriority, v,
           row_number() OVER (PARTITION BY o_orderpriority
                              ORDER BY v, o_orderkey) AS i,
           count(*) OVER (PARTITION BY o_orderpriority) AS n
    FROM c
)
SELECT o_orderpriority, CAST(max(n) AS BIGINT) AS n_orders,
       CAST(CAST(sum(CASE WHEN i = (n + 1) // 2 THEN v ELSE 0 END)
                 + sum(CASE WHEN i = n // 2 + 1 THEN v ELSE 0 END)
            AS DECIMAL(38,1)) / 2 AS DOUBLE) AS median_cents
FROM r GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@q(
    "x118_exact_median",
    "OP-G6-ext",
    "Exact per-group median of order value in cents WITHOUT either "
    "engine's median() (their even-n interpolation and type rules "
    "differ): middle ranks (n+1)//2 and n//2+1 from a tie-broken "
    "row_number — for odd n both picks land on the same row, counted "
    "twice by two separate CASE sums — then one exact DECIMAL(38,1)/2. "
    "Rank ties on equal values can't change the answer: the VALUE at "
    "a rank is order-invariant under any tie permutation. Per-group "
    "window partitions on the group key (parallel) under the default "
    "rank_method='window'; rank_method='bucketed' switches to "
    "operators.ranks.global_row_number so a single group larger than "
    "one task's window splits across quantile buckets — exact same "
    "output, property-tested in tests/test_ranks.py.",
    _MEDIAN_ORACLE,
)
def x118_exact_median(spark, sf_dir, rank_method: str = "window"):
    o = load_table(spark, sf_dir, "orders")
    c = o.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        "o_orderkey",
    )
    r = global_row_number(
        c,
        [("v", "asc"), ("o_orderkey", "asc")],
        partition_by=["o_orderpriority"],
        method=rank_method,
        col_name="i",
        total_name="n",
    ).select("o_orderpriority", "v", "i", "n")
    lo = F.expr("CAST((n + 1) AS BIGINT) DIV 2")
    hi = F.expr("CAST(n AS BIGINT) DIV 2 + 1")
    return (
        r.groupBy("o_orderpriority")
        .agg(
            F.max("n").cast("long").alias("n_orders"),
            (
                (
                    F.sum(F.when(F.col("i") == lo, F.col("v")).otherwise(0))
                    + F.sum(F.when(F.col("i") == hi, F.col("v")).otherwise(0))
                ).cast("decimal(38,1)")
                / 2
            )
            .cast("double")
            .alias("median_cents"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# x119 — truncated dyadic EWMA of monthly per-nation revenue
# ---------------------------------------------------------------------------

_EWMA_LAGS = 8  # weights 2^(7-k), k = 0..7 (alpha = 1/2, truncated)

_EWMA_NUM_SQL = " + ".join(
    f"{1 << (_EWMA_LAGS - 1 - k)} * COALESCE(lag(y, {k}) OVER w, 0)"
    for k in range(_EWMA_LAGS)
)
_EWMA_DEN_SQL = " + ".join(
    f"CASE WHEN lag(y, {k}) OVER w IS NULL THEN 0 ELSE {1 << (_EWMA_LAGS - 1 - k)} END"
    for k in range(_EWMA_LAGS)
)

_EWMA_ORACLE = f"""
WITH {MONTHLY_NATION_REVENUE_CTE},
e AS (
    SELECT c_nationkey, mon, y,
           {_EWMA_NUM_SQL} AS num,
           {_EWMA_DEN_SQL} AS den
    FROM m
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY mon)
)
SELECT n_name, mon, y AS revenue_cents,
       CAST((num // den) * 1000000 + ((num % den) * 1000000) // den
            AS BIGINT) AS ewma_micros
FROM e JOIN nation ON c_nationkey = n_nationkey
ORDER BY n_name, mon
"""


@q(
    "x119_ewma_revenue",
    "OP-W3/OP-T-ext",
    "Truncated 8-term EWMA (alpha=1/2) of monthly per-nation revenue "
    "over the observed month sequence: dyadic weights 2^(7-k) keep "
    "the weighted numerator exact BIGINT (cents x <=128) and the "
    "available-weight denominator an exact integer; the smoothed "
    "value is emitted in exact integer MICRO-cents via two-step "
    "floor division (quot*1e6 + rem*1e6 DIV den — every intermediate "
    "fits BIGINT, and no float round() whose half-up decimal-vs-"
    "binary tie rules differ across engines is involved at all). "
    "Series startup uses the weights actually available instead of "
    "biasing toward zero. The lag window partitions on nation over "
    "the month-level aggregate (|nations| x |months| rows), never "
    "over raw orders.",
    _EWMA_ORACLE,
)
def x119_ewma_revenue(spark, sf_dir):
    m = monthly_nation_revenue(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "customer")
    )
    nat = load_table(spark, sf_dir, "nation")
    wN = Window.partitionBy("c_nationkey").orderBy("mon")
    num, den = None, None
    for k in range(_EWMA_LAGS):
        wgt = 1 << (_EWMA_LAGS - 1 - k)
        lagv = F.lag("y", k).over(wN)
        nterm = F.coalesce(lagv, F.lit(0)) * wgt
        dterm = F.when(lagv.isNull(), 0).otherwise(wgt)
        num = nterm if num is None else num + nterm
        den = dterm if den is None else den + dterm
    e = m.select("c_nationkey", "mon", "y", num.alias("num"), den.alias("den"))
    micros = F.expr(
        "CAST((num DIV den) * 1000000 + ((num % den) * 1000000) DIV den AS BIGINT)"
    )
    return (
        e.join(F.broadcast(nat), e.c_nationkey == nat.n_nationkey)
        .select(
            "n_name",
            "mon",
            F.col("y").alias("revenue_cents"),
            micros.alias("ewma_micros"),
        )
        .orderBy("n_name", "mon")
    )


# ---------------------------------------------------------------------------
# x120 — seasonality index vs trailing-12-month mean
# ---------------------------------------------------------------------------

_SEASONALITY_ORACLE = f"""
WITH {MONTHLY_REVENUE_CTE},
w AS (
    SELECT mon, y,
           SUM(y) OVER (ORDER BY mon ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS s12,
           COUNT(*) OVER (ORDER BY mon ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS n12
    FROM m
)
SELECT mon, y AS revenue_cents,
       round(CAST(y * 12 AS DOUBLE) / CAST(s12 AS DOUBLE), 8) AS seasonality_index
FROM w WHERE n12 = 12 ORDER BY mon
"""


@q(
    "x120_seasonality_index",
    "OP-W4/OP-T-ext",
    "Seasonality index: each month's revenue vs its trailing-12-month "
    "mean, emitted only for full windows — computed as 12*y / "
    "sum12(y) so both operands stay exact integers until one IEEE "
    "divide (y/avg would divide by an inexact mean). The global "
    "window runs over the MONTH-level aggregate — tens of rows "
    "regardless of order volume (the x74/x77 deliberate-global-window "
    "idiom), after a map-side-combined cents agg.",
    _SEASONALITY_ORACLE,
)
def x120_seasonality_index(spark, sf_dir):
    m = monthly_revenue(load_table(spark, sf_dir, "orders"))
    w12 = Window.orderBy("mon").rowsBetween(-11, Window.currentRow)
    w = m.select(
        "mon",
        "y",
        F.sum("y").over(w12).alias("s12"),
        F.count("*").over(w12).alias("n12"),
    )
    return (
        w.filter(F.col("n12") == 12)
        .select(
            "mon",
            F.col("y").alias("revenue_cents"),
            F.round(
                (F.col("y") * 12).cast("double") / F.col("s12").cast("double"), 8
            ).alias("seasonality_index"),
        )
        .orderBy("mon")
    )


# ---------------------------------------------------------------------------
# x121 — Shannon entropy of the source mix per language
# ---------------------------------------------------------------------------

_ENTROPY_MIX_ORACLE = """
WITH freq AS (
    SELECT lang, source, count(*) AS n,
           SUM(count(*)) OVER (PARTITION BY lang) AS tot
    FROM documents GROUP BY lang, source
),
terms AS (
    SELECT lang, tot,
           round((CAST(n AS DOUBLE) / tot) * ln(CAST(n AS DOUBLE) / tot), 8) AS term
    FROM freq
)
SELECT lang, CAST(max(tot) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_sources,
       CAST(-SUM(CAST(term AS DECIMAL(28,12))) AS DOUBLE) AS entropy_nats
FROM terms GROUP BY lang ORDER BY lang
"""


@q(
    "x121_entropy_mix",
    "OP-G5/OP-X9-ext",
    "Shannon entropy (nats) of the source mix within each language — "
    "the corpus-diversity dial of a training-mix report (low entropy "
    "= one source dominates the language). The x49 portable-entropy "
    "convention: each p*ln(p) term rounded to 8 places (one libm ln "
    "per (lang,source) cell on identical IEEE inputs), then "
    "order-independent exact DECIMAL summation. Two map-side-combined "
    "aggs over |langs|x|sources| cells; no raw-document shuffle.",
    _ENTROPY_MIX_ORACLE,
)
def x121_entropy_mix(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    freq = d.groupBy("lang", "source").agg(F.count("*").alias("n"))
    tot = freq.groupBy("lang").agg(F.sum("n").alias("tot"))
    p = F.col("n").cast("double") / F.col("tot")
    terms = freq.join(F.broadcast(tot), "lang").select(
        "lang",
        "tot",
        F.round(p * F.log(p), 8).cast("decimal(28,12)").alias("term"),
    )
    return (
        terms.groupBy("lang")
        .agg(
            F.max("tot").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_sources"),
            (-F.sum("term")).cast("double").alias("entropy_nats"),
        )
        .orderBy("lang")
    )
