"""Round-27 operators (round 8): the 8 entries that top the round-8
certification window off at exactly 50 — the 42-entry backlog
(x184-x193 leftovers + the round-26 staged batch) plus these.

Closes the last documented 100 TB risk in the dedup family (the x150
docstring's promised hot-bucket cap) and adds supply-chain, index-
number, ANN-operational, statistical and corpus-coverage audits the
catalog lacked:

* ``x227_winnow_capped`` — x150's MOSS winnowing with the x2-style
  hot-bucket cap: fingerprints shared by more than CAP documents
  (boilerplate — license headers, navigation chrome) are dropped
  BEFORE the pair join, so no fingerprint bucket can go quadratic at
  100 TB. Certified against the identical capped form in SQL; recall
  on planted span-dupes is property-tested (the cap only sheds
  corpus-wide boilerplate, never a 2-document overlap).
* ``x228_stockout_projection`` — per-part depletion audit: stock is
  sized to first-year (pre-1996) shipped demand, then the 1996+
  demand stream is cumulated in shipping order and the FIRST crossing
  (date + overshoot) is reported per part. One window cumsum + one
  rank, both keyed on partkey (a single exchange); the classic
  running-total breach detector (stock depletion, credit-limit
  breach, quota exhaustion) as a certified operator.
* ``x229_price_index`` — Laspeyres / Paasche / Fisher monthly price
  indices vs the Jan-1995 basket, on discounted unit prices in exact
  milli-cents (floor division). Index sums stay exact BIGINT (< 2^53,
  so even the final double division is over exactly-represented
  operands); Fisher is the one IEEE sqrt. The econ index-number
  family x221's price-volume-mix bridge does not cover.
* ``x230_hubness_audit`` — the k-occurrence (in-degree) histogram of
  the exact cosine 5-NN graph: how many vectors each vector appears
  among the top-5 of. High-hubness dimensions poison ANN recall
  (Radovanovic et al. 2010); this is the audit that says whether
  IVF/SRP parameters were tuned on a hub-dominated space. Pairing is
  an 8-way replicated equi-join (never CartesianProduct); dots are
  x107's 6-dp fixed-point longs (exact BIGINT through every sum, one
  identical-IEEE cosine per pair at the end).
* ``x231_runs_test`` — Wald-Wolfowitz runs test per year on the
  up/down sequence of daily order counts: n_up, n_down, run count,
  and the z statistic from the closed form — all counts exact BIGINT,
  z one shared double expression over them. The randomness audit for
  "is this daily series trending/mean-reverting or noise".
* ``x232_linear_interpolation`` — calendar-grid gap filling for
  Q1-1996 daily per-nation revenue: missing days are linearly
  interpolated between the previous/next observed anchors in exact
  milli-cents (truncated signed division), anchors pass through
  exactly. The time-series repair primitive between xt_resample_ffill
  (step) and x148 (model-based).
* ``x233_lsh_bucket_balance`` — the operational audit for the x91
  MinHash-LSH geometry: per band, bucket count, max bucket size,
  candidate-pair mass sum c*(c-1)/2, and mega-bucket count over the
  16-doc cap. THE number that says whether banding parameters survive
  a 100 TB corpus before anyone runs the join.
* ``x234_oov_rate`` — per-source out-of-vocabulary rate against the
  corpus top-1000 token vocabulary (count-desc, token-asc tie-break):
  the tokenizer-coverage audit (which source will fragment into
  bytes under a fixed vocab). Vocab is a TakeOrdered top-k (no
  global window), broadcast into one anti-probe.

Hash-parity conventions as plans/queries.py: exact cents/BIGINT
arithmetic until one shared IEEE expression, total ORDER BY, BIGINT
casts on every count.
"""

from __future__ import annotations

from pyspark.storagelevel import StorageLevel

from pyspark.sql import Window
from pyspark.sql import functions as F

from ravelytics_spark.functions import text as TX
from ravelytics_spark.plans.registry import q
from ravelytics_spark.plans.round19 import (
    _MH_A,
    _MH_B,
    _MH_HASH_SQL,
    _MH_K,
    _MH_MINS_SQL,
    _MH_P,
    _MH_R,
    _minhash_pair_ctes,
)
from ravelytics_spark.plans.round24_staged import (
    _WIN_K,
    _WIN_MIN_SHARED,
    _WIN_W,
)
from ravelytics_spark.plans.round4 import embedding_probe
from ravelytics_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# x227 — hot-bucket-capped MOSS winnowing (the x150 production form)
# ---------------------------------------------------------------------------

_WC_CAP = 4  # max documents sharing a fingerprint before it is boilerplate

_WINNOW_CAPPED_ORACLE = f"""
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
kept AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= {_WC_CAP}),
kfps AS (SELECT f.doc_id, f.fp FROM fps f JOIN kept k ON f.fp = k.fp),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM kfps a JOIN kfps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_shared
FROM pairs WHERE n_shared >= {_WIN_MIN_SHARED}
ORDER BY doc_a, doc_b
"""


def winnow_fingerprints(docs):
    """(doc_id, fp) distinct winnowing fingerprints of a (doc_id, text)
    frame — the x150 pipeline through its fingerprint set (k-gram md5
    window-min, density ~2/(w+1)); shared by the uncapped (x150) and
    capped (x227) pair generators. The raw docs are fanned out first
    when the scan is under-parallel (r12: one local row group
    serialized the explode+md5 expansion onto one core)."""
    from ravelytics_spark.operators.skew import fan_out_scan

    docs = fan_out_scan(docs)
    npos = F.length("text") - F.lit(_WIN_K - 1)
    pos = docs.select(
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
    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(-(_WIN_W - 1), Window.currentRow)
    )
    return kh.select("doc_id", F.min("h").over(w).alias("fp")).distinct()


@q(
    "x227_winnow_capped",
    "OP-X1/X2-ext",
    "The production form of x150's MOSS winnowing span-dedup: "
    "fingerprints appearing in more than "
    f"{_WC_CAP} distinct documents are classified boilerplate and "
    "dropped BEFORE the pair join (the operators/dedup.py mega-bucket "
    "discipline applied to winnowing), so no single fingerprint can "
    "generate a quadratic bucket at 100 TB — a license header shared "
    "by a million documents produces zero candidate rows instead of "
    "10^12. The hot list is a tiny aggregate broadcast as an anti-"
    "probe (one extra map-side stage, no extra shuffle of the "
    "fingerprint stream); everything else is x150 verbatim, and the "
    "guarantee that survives is span-dups shared by <= cap documents "
    "— exactly the pairs dedup acts on (recall on planted 2-doc span "
    "dupes is property-tested in tests/test_round27.py).",
    _WINNOW_CAPPED_ORACLE,
)
def x227_winnow_capped(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    # eager lineage cut (the x91 lesson): the fingerprint frame feeds
    # the hot-bucket agg AND both sides of the pair self-join — without
    # it the explode+md5+window pipeline executes three times.
    # DISK_ONLY (the x150 100x-sweep lesson): memory-resident caching
    # of the ~0.22/char fingerprint frame starves the hash aggs at
    # scale; a disk-backed cut keeps execution memory whole.
    fps = winnow_fingerprints(d).localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY
    )
    hot = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > _WC_CAP)
        .select("fp")
    )
    kept = fps.join(F.broadcast(hot), "fp", "left_anti")
    a, b = kept.alias("a"), kept.alias("b")
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
# x228 — per-part stockout projection (running-total breach detector)
# ---------------------------------------------------------------------------

_SO_SPLIT = "1996-01-01"  # stock := demand shipped before this date

_STOCKOUT_ORACLE = f"""
WITH stock AS (
    SELECT l_partkey AS part,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS stock_qty
    FROM lineitem WHERE l_shipdate < TIMESTAMP '{_SO_SPLIT}'
    GROUP BY 1
),
demand AS (
    SELECT l_partkey AS part, l_shipdate, l_orderkey, l_linenumber,
           SUM(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING) AS cum
    FROM lineitem WHERE l_shipdate >= TIMESTAMP '{_SO_SPLIT}'
),
crossing AS (
    SELECT d.part, s.stock_qty,
           CAST(d.l_shipdate AS DATE) AS depletion_date,
           CAST(d.cum - s.stock_qty AS BIGINT) AS overshoot,
           row_number() OVER (
               PARTITION BY d.part
               ORDER BY d.l_shipdate, d.l_orderkey, d.l_linenumber) AS rn
    FROM demand d JOIN stock s USING (part)
    WHERE d.cum > s.stock_qty
)
SELECT part, stock_qty, depletion_date, overshoot
FROM crossing WHERE rn = 1
ORDER BY part
"""


@q(
    "x228_stockout_projection",
    "OP-W4-ext",
    "Per-part stockout projection: stock is sized to first-year "
    "shipped demand (< 1996-01-01), the subsequent demand stream is "
    "cumulated in total shipping order (shipdate, orderkey, "
    "linenumber — unique, so the crossing row is well-defined), and "
    "the FIRST row where cumulative demand exceeds stock yields the "
    "depletion date and overshoot quantity. The general running-"
    "total breach detector (credit-limit breach, quota exhaustion, "
    "budget burn-down) certified end to end. Scale: the stock "
    "aggregate and both windows are all keyed on partkey, so the "
    "whole plan is ONE hash-partition exchange on the natural key; "
    "per-row state through the windows is a single running BIGINT.",
    _STOCKOUT_ORACLE,
)
def x228_stockout_projection(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("long")
    stock = (
        li.filter(F.col("l_shipdate") < F.lit(_SO_SPLIT).cast("timestamp"))
        .groupBy(F.col("l_partkey").alias("part"))
        .agg(F.sum(qty).cast("long").alias("stock_qty"))
    )
    order_cols = [F.col("l_shipdate"), F.col("l_orderkey"), F.col("l_linenumber")]
    wcum = (
        Window.partitionBy("l_partkey")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    demand = li.filter(
        F.col("l_shipdate") >= F.lit(_SO_SPLIT).cast("timestamp")
    ).select(
        F.col("l_partkey").alias("part"),
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        F.sum(qty).over(wcum).alias("cum"),
    )
    crossed = demand.join(stock, "part").filter(
        F.col("cum") > F.col("stock_qty")
    )
    wrank = Window.partitionBy("part").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    return (
        crossed.withColumn("rn", F.row_number().over(wrank))
        .filter(F.col("rn") == 1)
        .select(
            "part",
            "stock_qty",
            F.col("l_shipdate").cast("date").alias("depletion_date"),
            (F.col("cum") - F.col("stock_qty")).alias("overshoot"),
        )
        .orderBy("part")
    )


# ---------------------------------------------------------------------------
# x229 — Laspeyres / Paasche / Fisher monthly price indices
# ---------------------------------------------------------------------------

_PI_BASE = 199501  # base-period basket: Jan 1995, the corpus start month

_PRICE_INDEX_ORACLE = f"""
WITH pm AS (
    SELECT l_partkey AS part,
           CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS m,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS cents
    FROM lineitem GROUP BY 1, 2
),
pr AS (SELECT part, m, qty, cents * 1000 // qty AS p_milli FROM pm),
base AS (
    SELECT part, qty AS q0, p_milli AS p0 FROM pr WHERE m = {_PI_BASE}
),
j AS (
    SELECT pr.m, pr.part, pr.qty, pr.p_milli, base.q0, base.p0
    FROM pr JOIN base USING (part)
),
sums AS (
    SELECT m, CAST(count(*) AS BIGINT) AS n_parts,
           CAST(SUM(p_milli * q0) AS BIGINT) AS lt,
           CAST(SUM(p0 * q0) AS BIGINT) AS lb,
           CAST(SUM(p_milli * qty) AS BIGINT) AS pt,
           CAST(SUM(p0 * qty) AS BIGINT) AS pb
    FROM j GROUP BY m
)
SELECT m, n_parts,
       CAST(round(1000000.0 * CAST(lt AS DOUBLE) / CAST(lb AS DOUBLE))
            AS BIGINT) AS laspeyres_ppm,
       CAST(round(1000000.0 * CAST(pt AS DOUBLE) / CAST(pb AS DOUBLE))
            AS BIGINT) AS paasche_ppm,
       round(sqrt((1000000.0 * CAST(lt AS DOUBLE) / CAST(lb AS DOUBLE))
                  * (1000000.0 * CAST(pt AS DOUBLE) / CAST(pb AS DOUBLE))),
             6) AS fisher_idx
FROM sums ORDER BY m
"""

_PI_L = "1000000.0 * CAST(lt AS DOUBLE) / CAST(lb AS DOUBLE)"
_PI_P = "1000000.0 * CAST(pt AS DOUBLE) / CAST(pb AS DOUBLE)"


@q(
    "x229_price_index",
    "OP-G6-ext",
    "Monthly Laspeyres / Paasche / Fisher price indices against the "
    f"{_PI_BASE} basket: discounted unit prices in exact milli-cents "
    "(cents*1000 floor-div qty — both engines truncate positive "
    "integer division identically), basket sums p*q exact BIGINT "
    "(price < 1e8 milli-cents x qty < 1e5 x 20k parts stays well "
    "under 2^53, so the one double division per index is over "
    "exactly-represented operands), Fisher the single IEEE sqrt of "
    "the two index products. The index-number family (x221's PVM "
    "bridge decomposes revenue; these price the basket). Scale: two "
    "hash aggs (part x month, then month) + one broadcast-sized "
    "base-basket join — no window, no skew (part keys are uniform).",
    _PRICE_INDEX_ORACLE,
)
def x229_price_index(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        F.col("l_partkey").alias("part"),
        (F.year("l_shipdate") * 100 + F.month("l_shipdate"))
        .cast("long")
        .alias("m"),
    ).agg(
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"),
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("long")
        )
        .cast("long")
        .alias("cents"),
    )
    pr = pm.select(
        "part", "m", "qty", F.expr("cents * 1000 DIV qty").alias("p_milli")
    )
    base = pr.filter(F.col("m") == _PI_BASE).select(
        "part", F.col("qty").alias("q0"), F.col("p_milli").alias("p0")
    )
    j = pr.join(F.broadcast(base), "part")
    sums = j.groupBy("m").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum(F.col("p_milli") * F.col("q0")).cast("long").alias("lt"),
        F.sum(F.col("p0") * F.col("q0")).cast("long").alias("lb"),
        F.sum(F.col("p_milli") * F.col("qty")).cast("long").alias("pt"),
        F.sum(F.col("p0") * F.col("qty")).cast("long").alias("pb"),
    )
    return sums.select(
        "m",
        "n_parts",
        F.expr(f"CAST(round({_PI_L}) AS BIGINT)").alias("laspeyres_ppm"),
        F.expr(f"CAST(round({_PI_P}) AS BIGINT)").alias("paasche_ppm"),
        F.expr(f"round(sqrt(({_PI_L}) * ({_PI_P})), 6)").alias("fisher_idx"),
    ).orderBy("m")


# ---------------------------------------------------------------------------
# x230 — ANN hubness audit (k-occurrence histogram of the exact 5-NN graph)
# ---------------------------------------------------------------------------

_HUB_K = 5
_HUB_G = 8  # replication factor of the all-pairs equi-join

_HUB_FX_SQL = (
    "list_transform(embedding, x -> CAST(CAST(CAST(x AS DOUBLE) "
    "AS DECIMAL(9,6)) * 1000000 AS BIGINT))"
)

_HUBNESS_ORACLE = f"""
WITH fx AS (
    SELECT vec_id, {_HUB_FX_SQL} AS f FROM embeddings
    WHERE len(embedding) = (SELECT max(len(embedding)) FROM embeddings)
),
nz AS (
    SELECT vec_id, f, CAST(list_dot_product(f, f) AS BIGINT) AS n2
    FROM fx WHERE CAST(list_dot_product(f, f) AS BIGINT) > 0
),
sc AS (
    SELECT a.vec_id AS qa, b.vec_id AS nb,
           CAST(list_dot_product(a.f, b.f) AS DOUBLE) / 1000000000000.0
               / sqrt(CAST(a.n2 AS DOUBLE) / 1000000000000.0)
               / sqrt(CAST(b.n2 AS DOUBLE) / 1000000000000.0) AS cosine
    FROM nz a JOIN nz b ON a.vec_id <> b.vec_id
),
top AS (
    SELECT qa, nb FROM (
        SELECT qa, nb, row_number() OVER (
            PARTITION BY qa ORDER BY cosine DESC, nb) AS rn
        FROM sc
    ) WHERE rn <= {_HUB_K}
),
ind AS (SELECT nb, CAST(count(*) AS BIGINT) AS indeg FROM top GROUP BY nb)
SELECT COALESCE(i.indeg, 0) AS indeg, CAST(count(*) AS BIGINT) AS n_vecs
FROM nz v LEFT JOIN ind i ON v.vec_id = i.nb
GROUP BY 1 ORDER BY 1
"""


@q(
    "x230_hubness_audit",
    "OP-X3-ext",
    f"ANN hubness audit: the k-occurrence histogram of the exact "
    f"cosine {_HUB_K}-NN graph — for each in-degree value, how many "
    "vectors appear in exactly that many other vectors' top-"
    f"{_HUB_K} lists (antihubs at 0, hubs in the heavy tail; "
    "Radovanovic et al., JMLR 2010). A hub-dominated space degrades "
    "every bucketed ANN structure (IVF cells and SRP buckets "
    "concentrate on hubs), so this runs BEFORE tuning x3_ivf/srp "
    "parameters. Exactness: x107's 6-dp fixed-point longs make every "
    "dot/norm an exact BIGINT; the single cosine division chain is "
    "the same IEEE expression in both engines, and ranking ties "
    "break on neighbor id. Scale: all-pairs is expressed as an "
    f"{_HUB_G}-way replicated EQUI-join (never CartesianProduct) so "
    "it distributes and AQE can size it; at 100 TB the same plan "
    "runs on an SRP-bucketed candidate set or a uniform sample — "
    "the histogram is the audit either way. The exact form certifies "
    "the metric.",
    _HUBNESS_ORACLE,
)
def x230_hubness_audit(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    dims = embedding_probe(spark, sf_dir)[0]
    if dims is None:
        return (
            e.select(
                F.lit(0).cast("long").alias("indeg"),
                F.lit(0).cast("long").alias("n_vecs"),
            )
            .filter(F.lit(False))
            .orderBy("indeg")
        )
    vec = F.col("embedding").cast("array<double>")
    felems = [
        (F.element_at(vec, i + 1).cast("decimal(9,6)") * F.lit(1_000_000))
        .cast("long")
        for i in range(dims)
    ]
    fx = e.filter(F.size("embedding") == dims).select(
        "vec_id", F.array(*felems).alias("f")
    )
    dot_ff = "aggregate(zip_with(f, f, (x, y) -> x * y), 0L, (a, v) -> a + v)"
    # eager cut: the normalized frame feeds the query side, the
    # neighbor side AND the final antihub left-join (the x91 lesson —
    # without it the fixed-point encode runs three times).
    nz = (
        fx.withColumn("n2", F.expr(dot_ff).cast("long"))
        .filter(F.col("n2") > 0)
        .localCheckpoint(eager=True)
    )
    qa = nz.withColumn(
        "g", F.explode(F.sequence(F.lit(0), F.lit(_HUB_G - 1)))
    ).select("g", F.col("vec_id").alias("qa"), F.col("f").alias("fa"),
             F.col("n2").alias("na"))
    nb = nz.select(
        F.pmod(F.col("vec_id"), F.lit(_HUB_G)).cast("int").alias("g"),
        F.col("vec_id").alias("nb"),
        F.col("f").alias("fb"),
        F.col("n2").alias("nb2"),
    )
    dot_ab = (
        "aggregate(zip_with(fa, fb, (x, y) -> x * y), 0L, (a, v) -> a + v)"
    )
    cosine = (
        "CAST(dt AS DOUBLE) / 1000000000000.0"
        " / sqrt(CAST(na AS DOUBLE) / 1000000000000.0)"
        " / sqrt(CAST(nb2 AS DOUBLE) / 1000000000000.0)"
    )
    sc = (
        qa.join(nb, "g")
        .filter(F.col("qa") != F.col("nb"))
        .withColumn("dt", F.expr(dot_ab).cast("long"))
        .select("qa", "nb", F.expr(cosine).alias("cosine"))
    )
    wk = Window.partitionBy("qa").orderBy(F.col("cosine").desc(), "nb")
    top = (
        sc.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= _HUB_K)
        .select("qa", "nb")
    )
    ind = top.groupBy("nb").agg(F.count("*").cast("long").alias("indeg"))
    return (
        nz.select("vec_id")
        .join(ind, nz.vec_id == ind.nb, "left")
        .select(F.coalesce(F.col("indeg"), F.lit(0).cast("long")).alias("indeg"))
        .groupBy("indeg")
        .agg(F.count("*").cast("long").alias("n_vecs"))
        .orderBy("indeg")
    )


# ---------------------------------------------------------------------------
# x231 — Wald-Wolfowitz runs test on daily order-count moves, per year
# ---------------------------------------------------------------------------

# One shared z expression over exact BIGINT inputs: 2*n1*n2 etc. stay
# far under 2^53, so both engines feed identical doubles to identical
# IEEE arithmetic.
_RUNS_Z = (
    "round((CAST(runs AS DOUBLE)"
    " - (1.0 + 2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
    " / CAST(n1 + n2 AS DOUBLE)))"
    " / sqrt((2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
    " * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
    " - CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE)))"
    " / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)"
    " * CAST(n1 + n2 - 1 AS DOUBLE))), 6)"
)

_RUNS_ORACLE = f"""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
    FROM orders GROUP BY 1
),
delta AS (
    SELECT CAST(year(d) AS BIGINT) AS yr, d,
           n - lag(n) OVER (PARTITION BY year(d) ORDER BY d) AS dl
    FROM daily
),
sgn AS (
    SELECT yr, d, CASE WHEN dl > 0 THEN 1 ELSE -1 END AS s
    FROM delta WHERE dl IS NOT NULL AND dl <> 0
),
brk AS (
    SELECT yr, s,
           CASE WHEN lag(s) OVER (PARTITION BY yr ORDER BY d) IS DISTINCT
                     FROM s THEN 1 ELSE 0 END AS b
    FROM sgn
),
agg AS (
    SELECT yr,
           CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           CAST(SUM(b) AS BIGINT) AS runs
    FROM brk GROUP BY yr
)
SELECT yr, n1, n2, runs, {_RUNS_Z} AS z
FROM agg
WHERE n1 > 0 AND n2 > 0 AND 2 * n1 * n2 > n1 + n2
ORDER BY yr
"""


@q(
    "x231_runs_test",
    "OP-W3-ext",
    "Wald-Wolfowitz runs test per calendar year on the up/down "
    "sequence of daily order counts (zero deltas dropped, the "
    "classical dichotomization): n_up, n_down, observed run count "
    "(first element opens run #1 via the null-IS-DISTINCT break "
    "flag), and the z statistic from the closed-form mean/variance — "
    "counts exact BIGINT end to end, z ONE shared IEEE expression "
    "string evaluated identically by both engines. Too few runs => "
    "trending/sticky days, too many => oscillation; the randomness "
    "audit behind x180's burstiness and x125's CUSUM. Scale: one "
    "date-keyed count agg, two year-partitioned windows (same "
    "exchange), and a <=|years| result.",
    _RUNS_ORACLE,
)
def x231_runs_test(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.count("*").cast("long").alias("n")
    )
    wlag = Window.partitionBy(F.year("d")).orderBy("d")
    delta = daily.select(
        F.year("d").cast("long").alias("yr"),
        "d",
        (F.col("n") - F.lag("n").over(wlag)).alias("dl"),
    )
    sgn = delta.filter(
        F.col("dl").isNotNull() & (F.col("dl") != 0)
    ).select("yr", "d", F.when(F.col("dl") > 0, 1).otherwise(-1).alias("s"))
    wyr = Window.partitionBy("yr").orderBy("d")
    brk = sgn.select(
        "yr",
        "s",
        F.expr(
            "CASE WHEN lag(s) OVER (PARTITION BY yr ORDER BY d)"
            " IS DISTINCT FROM s THEN 1 ELSE 0 END"
        ).alias("b"),
    )
    agg = brk.groupBy("yr").agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.sum("b").cast("long").alias("runs"),
    )
    return (
        agg.filter(
            (F.col("n1") > 0)
            & (F.col("n2") > 0)
            & (2 * F.col("n1") * F.col("n2") > F.col("n1") + F.col("n2"))
        )
        .select("yr", "n1", "n2", "runs", F.expr(_RUNS_Z).alias("z"))
        .orderBy("yr")
    )


# ---------------------------------------------------------------------------
# x232 — calendar-grid linear interpolation of daily per-nation revenue
# ---------------------------------------------------------------------------

_LI_FROM = "1996-01-01"
_LI_TO = "1996-03-31"  # inclusive grid end

# Truncated signed division, identical in both engines (the x205
# portable-division CASE: DuckDB // and Spark DIV both truncate, but
# the CASE pins the contract explicitly). The operator is the one
# token the two dialects spell differently, so it is templated.
_LI_INTERP_T = (
    "pv * 1000 + (CASE WHEN (nv - pv) * 1000 * gap >= 0"
    " THEN ((nv - pv) * 1000 * gap) {div} span"
    " ELSE -((-((nv - pv) * 1000 * gap)) {div} span) END)"
)
_LI_INTERP_DUCK = _LI_INTERP_T.format(div="//")
_LI_INTERP_SPARK = _LI_INTERP_T.format(div="DIV")

_INTERP_ORACLE = f"""
WITH grid AS (
    SELECT CAST(n_nationkey AS BIGINT) AS nationkey,
           unnest(generate_series(DATE '{_LI_FROM}', DATE '{_LI_TO}',
                                  INTERVAL 1 DAY))::DATE AS d
    FROM nation
),
rev AS (
    SELECT CAST(c.c_nationkey AS BIGINT) AS nationkey,
           CAST(o.o_orderdate AS DATE) AS d,
           CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderdate >= TIMESTAMP '{_LI_FROM}'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
    GROUP BY 1, 2
),
j AS (
    SELECT g.nationkey, g.d, r.cents
    FROM grid g LEFT JOIN rev r ON g.nationkey = r.nationkey AND g.d = r.d
),
w AS (
    SELECT nationkey, d, cents,
           last_value(cents IGNORE NULLS) OVER (
               PARTITION BY nationkey ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
           last_value(CASE WHEN cents IS NOT NULL THEN d END IGNORE NULLS)
               OVER (PARTITION BY nationkey ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
           first_value(cents IGNORE NULLS) OVER (
               PARTITION BY nationkey ORDER BY d
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
           first_value(CASE WHEN cents IS NOT NULL THEN d END IGNORE NULLS)
               OVER (PARTITION BY nationkey ORDER BY d
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
    FROM j
),
f AS (
    SELECT nationkey, d,
           CAST(date_diff('day', pd, d) AS BIGINT) AS gap,
           CAST(date_diff('day', pd, nd) AS BIGINT) AS span,
           pv, nv, cents
    FROM w WHERE pv IS NOT NULL AND nv IS NOT NULL
)
SELECT nationkey, d AS day,
       CAST(CASE WHEN cents IS NOT NULL THEN cents * 1000
                 ELSE {_LI_INTERP_DUCK} END AS BIGINT) AS value_milli,
       CAST(CASE WHEN cents IS NULL THEN 1 ELSE 0 END AS BIGINT)
           AS is_interp
FROM f ORDER BY nationkey, day
"""


@q(
    "x232_linear_interpolation",
    "OP-W3/D-ext",
    "Calendar-grid linear interpolation of Q1-1996 daily per-nation "
    "revenue: the nation x day grid left-joins observed revenue, "
    "previous/next anchors come from IGNORE NULLS running windows "
    "(anchor DAY columns are CASE-nulled so the window can carry "
    "them), and missing days get pv + (nv-pv)*gap/span in exact "
    "milli-cents with the x205 truncated-signed-division CASE "
    "(deltas can be negative). Anchor days pass through exactly; "
    "days outside a nation's anchor span are dropped (no "
    "extrapolation). The repair primitive between xt_resample_ffill "
    "(step-hold) and x148's model fill. Scale: the grid is "
    "|nations| x |days| (metadata-sized), both windows share one "
    "nation-keyed exchange, and revenue aggregates before the join "
    "so the grid never touches raw orders.",
    _INTERP_ORACLE,
)
def x232_linear_interpolation(spark, sf_dir):
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    grid = nation.select(
        F.col("n_nationkey").cast("long").alias("nationkey"),
        F.explode(
            F.expr(
                f"sequence(DATE '{_LI_FROM}', DATE '{_LI_TO}',"
                " interval 1 day)"
            )
        ).alias("d"),
    )
    rev = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit(_LI_FROM).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy(
            F.col("c_nationkey").cast("long").alias("nationkey"),
            F.col("o_orderdate").cast("date").alias("d"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    j = grid.join(rev, ["nationkey", "d"], "left")
    wb = (
        Window.partitionBy("nationkey")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("nationkey")
        .orderBy("d")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    anchor_day = F.when(F.col("cents").isNotNull(), F.col("d"))
    w = j.select(
        "nationkey",
        "d",
        "cents",
        F.last("cents", ignorenulls=True).over(wb).alias("pv"),
        F.last(anchor_day, ignorenulls=True).over(wb).alias("pd"),
        F.first("cents", ignorenulls=True).over(wf).alias("nv"),
        F.first(anchor_day, ignorenulls=True).over(wf).alias("nd"),
    )
    f = w.filter(F.col("pv").isNotNull() & F.col("nv").isNotNull()).select(
        "nationkey",
        "d",
        "cents",
        F.datediff("d", "pd").cast("long").alias("gap"),
        F.datediff("nd", "pd").cast("long").alias("span"),
        "pv",
        "nv",
    )
    return f.select(
        "nationkey",
        F.col("d").alias("day"),
        F.expr(
            f"CAST(CASE WHEN cents IS NOT NULL THEN cents * 1000"
            f" ELSE {_LI_INTERP_SPARK} END AS BIGINT)"
        ).alias("value_milli"),
        F.expr("CAST(CASE WHEN cents IS NULL THEN 1 ELSE 0 END AS BIGINT)")
        .alias("is_interp"),
    ).orderBy("nationkey", "day")


# ---------------------------------------------------------------------------
# x233 — LSH bucket-balance audit over the x91 MinHash banding
# ---------------------------------------------------------------------------

_BB_MEGA = 16  # bucket size beyond which a bucket is "mega" (capped in prod)
_BB_BANDS = _MH_K // _MH_R

_BB_BANDS_SQL = "\n    UNION ALL\n".join(
    f"    SELECT doc_id, {b} AS band, m{b * _MH_R} AS k0,"
    f" m{b * _MH_R + 1} AS k1 FROM sig"
    for b in range(_BB_BANDS)
)

_BUCKET_BALANCE_ORACLE = f"""
WITH {_minhash_pair_ctes("documents")},
bnd AS (
{_BB_BANDS_SQL}
),
bsz AS (
    SELECT band, k0, k1, CAST(count(*) AS BIGINT) AS c
    FROM bnd GROUP BY 1, 2, 3
)
SELECT CAST(band AS BIGINT) AS band,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(SUM(c) AS BIGINT) AS n_docs,
       CAST(MAX(c) AS BIGINT) AS max_bucket,
       CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS cand_pairs,
       CAST(SUM(CASE WHEN c > {_BB_MEGA} THEN 1 ELSE 0 END) AS BIGINT)
           AS mega_buckets
FROM bsz GROUP BY band ORDER BY band
"""


@q(
    "x233_lsh_bucket_balance",
    "OP-X2-ext",
    "Operational bucket-balance audit of the x91 MinHash-LSH "
    "geometry: per band, the bucket count, total signatures, max "
    "bucket size, the candidate-pair mass SUM c*(c-1)/2 the banded "
    "join will generate, and the count of mega-buckets over the "
    f"{_BB_MEGA}-doc production cap. This is the number that decides "
    "whether (bands x rows) survives a 100 TB corpus BEFORE anyone "
    "runs the pair join — a single mega-bucket dominates the join "
    "cost quadratically, and the audit prices it in one extra "
    "hash-agg over the signature frame (same md5/affine-mix portable "
    "hash family as x91, so the driver certifies the full banding "
    "pipeline by value). Scale: signatures are one doc-keyed agg; "
    "bucket sizing is one (band,key) agg; the report is <=|bands| "
    "rows.",
    _BUCKET_BALANCE_ORACLE,
)
def x233_lsh_bucket_balance(spark, sf_dir):
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
    sig = base.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(_MH_A[i]) * F.col("h") + F.lit(_MH_B[i])) % _MH_P
            ).alias(f"m{i}")
            for i in range(_MH_K)
        ]
    )
    bnd = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        F.col(f"m{b * _MH_R}").alias("k0"),
                        F.col(f"m{b * _MH_R + 1}").alias("k1"),
                    )
                    for b in range(_BB_BANDS)
                ]
            )
        ).alias("band", "key"),
    )
    bsz = bnd.groupBy("band", "key").agg(
        F.count("*").cast("long").alias("c")
    )
    return (
        bsz.groupBy(F.col("band").cast("long").alias("band"))
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.sum("c").cast("long").alias("n_docs"),
            F.max("c").cast("long").alias("max_bucket"),
            F.sum(F.expr("c * (c - 1) DIV 2")).cast("long").alias(
                "cand_pairs"
            ),
            F.sum(F.when(F.col("c") > _BB_MEGA, 1).otherwise(0))
            .cast("long")
            .alias("mega_buckets"),
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# x234 — per-source OOV rate against the corpus top-1000 vocabulary
# ---------------------------------------------------------------------------

_OOV_VOCAB = 1000

_OOV_ORACLE = f"""
WITH tok AS (
    SELECT source, w FROM (
        SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ) WHERE w <> ''
),
wc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY w),
vocab AS (
    SELECT w FROM wc
    QUALIFY row_number() OVER (ORDER BY c DESC, w) <= {_OOV_VOCAB}
),
per AS (
    SELECT t.source, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (WHERE v.w IS NULL) AS BIGINT) AS n_oov
    FROM tok t LEFT JOIN vocab v ON t.w = v.w
    GROUP BY t.source
)
SELECT source, n_tokens, n_oov,
       CAST(n_oov * 1000000 // n_tokens AS BIGINT) AS oov_ppm
FROM per ORDER BY source
"""


@q(
    "x234_oov_rate",
    "OP-X4-ext",
    "Per-source out-of-vocabulary rate against the corpus top-"
    f"{_OOV_VOCAB} token vocabulary (count-desc, token-asc total "
    "tie-break, so the vocab set is engine-reproducible): the "
    "tokenizer-coverage audit that says which source will fragment "
    "into byte-fallback under a fixed vocab — the corpus-level "
    "complement of x55's per-doc fertility and x88's within-source "
    "diversity. Scale: one token-count shuffle builds the vocab via "
    "TakeOrdered top-k (per-partition heaps, NO global window/sort), "
    "which broadcasts into a null-probing left join; the per-source "
    "rollup reuses the token stream without re-tokenizing.",
    _OOV_ORACLE,
)
def x234_oov_rate(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    wc = tok.groupBy("w").agg(F.count("*").cast("long").alias("c"))
    vocab = (
        wc.orderBy(F.col("c").desc(), "w")
        .limit(_OOV_VOCAB)
        .select(F.col("w").alias("vw"))
    )
    per = (
        tok.join(F.broadcast(vocab), tok.w == F.col("vw"), "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.count(F.when(F.col("vw").isNull(), 1))
            .cast("long")
            .alias("n_oov"),
        )
    )
    return per.select(
        "source",
        "n_tokens",
        "n_oov",
        F.expr("CAST(n_oov * 1000000 DIV n_tokens AS BIGINT)").alias(
            "oov_ppm"
        ),
    ).orderBy("source")
