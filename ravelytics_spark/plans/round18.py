"""Catalog entries tpch_q1 and x81-x90: the last TPC-H query plus
corpus-statistics and audit operators. Each entry is a Spark plan, a
DuckDB oracle and a pytest oracle comparison
(tests/test_round18_staged.py).

Entries:

* ``tpch_q1_pricing_summary`` — the ONE missing query of the TPC-H
  q1-q22 set (ref: the reference's ClickHouse SQL exercises the same
  grouped-aggregate shape over fact rows, 002_mv_tracks_agg.sql).
* ``x81_semdedup`` — SemDeDup-style cluster-scoped embedding dedup
  (Abbas et al. 2023, public literature): pairwise cosine ONLY within
  a cluster (here the label partition), greedy keep-lowest-id.
* ``x82_event_transitions`` — first-order Markov transition counts of
  per-user event-type sequences (lag window → pair counts).
* ``x83_bm25_score`` — Okapi BM25 (k1=1.2, b=0.75) for a fixed query
  over the documents table; idf/tf/length-normalization computed
  identically in both engines.
* ``x84_zipf_slope`` — per-source Zipf exponent via log-log OLS over
  the top-ranked vocabulary (regression-aggregate primitive).
* ``x85_jsd_source_drift`` — Jensen-Shannon divergence of each
  source's unigram distribution vs the corpus mixture (training-mix
  drift monitor over the sources × vocab grid).
* ``x86_shard_manifest`` — deterministic Knuth-hash shard assignment
  plus an order-independent per-shard digest-sum fingerprint
  (reproducible-export receipt, O(1) aggregation state).
* ``x87_bigram_logprob`` — bigram-LM mean log-probability per doc
  (the conditional upgrade of x20's unigram perplexity proxy).
* ``x88_lexical_diversity`` — per-source type-token and hapax ratios
  (corpus-health dual of the Zipf slope).
* ``x89_decayed_engagement`` — exponentially time-decayed activity
  score per user (exact integer-microsecond ages, one-week e-folding).
* ``x90_benford_deviation`` — Benford leading-digit audit of order
  totals (integer digit extraction; expected shares as literals).

Hash-parity conventions as plans/queries.py: decimal-exact sums
(_dsum), IEEE-only double division, explicit round() where double
summation order could differ, BIGINT casts, total ORDER BY.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ravelytics_spark.plans.registry import _dsum, _dsum_sql, q
from ravelytics_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# TPC-H Q1 — pricing summary report
# ---------------------------------------------------------------------------

_Q1_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       {_dsum_sql('l_quantity')} AS sum_qty,
       {_dsum_sql('l_extendedprice')} AS sum_base_price,
       {_dsum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {_dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)} AS sum_charge,
       round({_dsum_sql('l_quantity')} / count(*), 6) AS avg_qty,
       round({_dsum_sql('l_extendedprice')} / count(*), 6) AS avg_price,
       round({_dsum_sql('l_discount', 6)} / count(*), 6) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-12-01' - INTERVAL 90 DAY
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@q(
    "tpch_q1_pricing_summary",
    "OP-G3/G5/G6",
    "TPC-H Q1 pricing summary: the canonical grouped full-scan "
    "aggregate — 8 aggregates over one filtered fact scan, 2 grouping "
    "keys with tiny cardinality (RF x LS = ~4 groups), so map-side "
    "partial aggregation reduces the shuffle to groups x partitions "
    "rows no matter the corpus size. Averages are decimal-sum / count "
    "with ONE IEEE division + round (float accumulation order differs "
    "across engines; decimal accumulation does not).",
    _Q1_ORACLE,
)
def tpch_q1_pricing_summary(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # charge = 2dp x 2dp x 2dp -> the EXACT value has 6 decimal places,
    # so its decimal cast must use scale >= 6: at scale 4 a charge like
    # x.123450 is a true rounding MIDPOINT and the engines' rounding
    # modes diverge (measured: sum_charge off by 3e-4 at sf0.001).
    # disc_price (2dp x 2dp = 4dp exact) is safe at the default scale 4.
    charge = disc_price * (1 + F.col("l_tax"))
    n = F.count("*")
    return (
        li.filter(
            F.col("l_shipdate")
            <= F.to_timestamp(F.lit("1998-12-01")) - F.expr("INTERVAL 90 DAYS")
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity").alias("sum_qty"),
            _dsum("l_extendedprice").alias("sum_base_price"),
            _dsum(disc_price).alias("sum_disc_price"),
            _dsum(charge, 6).alias("sum_charge"),
            F.round(_dsum("l_quantity") / n, 6).alias("avg_qty"),
            F.round(_dsum("l_extendedprice") / n, 6).alias("avg_price"),
            F.round(_dsum("l_discount", 6) / n, 6).alias("avg_disc"),
            n.cast("long").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# x81 — SemDeDup: cluster-scoped embedding near-dup pruning
# ---------------------------------------------------------------------------

_SEMDEDUP_THRESHOLD = 0.45

_SEMDEDUP_ORACLE = f"""
WITH ex AS (
    SELECT vec_id, label, generate_subscripts(embedding, 1) AS dim,
           CAST(unnest(embedding) AS DOUBLE) AS x
    FROM embeddings
),
n2 AS (
    SELECT vec_id, SUM(CAST(x * x AS DECIMAL(28,12))) AS nn
    FROM ex GROUP BY vec_id
),
dt AS (
    SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
           SUM(CAST(a.x * b.x AS DECIMAL(28,12))) AS dot
    FROM ex a
    JOIN ex b ON a.dim = b.dim AND a.label = b.label AND a.vec_id < b.vec_id
    GROUP BY 1, 2, 3
),
dups AS (
    SELECT DISTINCT dt.label, dt.id_b AS dropped
    FROM dt
    JOIN n2 na ON na.vec_id = dt.id_a
    JOIN n2 nb ON nb.vec_id = dt.id_b
    WHERE round(CAST(dt.dot AS DOUBLE)
                / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))),
                4) >= {_SEMDEDUP_THRESHOLD}
),
tot AS (SELECT label, CAST(count(*) AS BIGINT) AS n_total FROM embeddings GROUP BY label)
SELECT tot.label, tot.n_total,
       CAST(coalesce(count(dups.dropped), 0) AS BIGINT) AS n_dropped,
       CAST(tot.n_total - count(dups.dropped) AS BIGINT) AS n_kept
FROM tot LEFT JOIN dups ON dups.label = tot.label
GROUP BY tot.label, tot.n_total
ORDER BY tot.label
"""


@q(
    "x81_semdedup",
    "OP-X2/OP-X3-ext",
    "SemDeDup (Abbas et al. 2023): semantic dedup scoped to clusters — "
    "pairwise exact cosine ONLY within a cluster (the label partition "
    "stands in for the k-means cell), drop every vector that has a "
    "lower-id cluster-mate at cos >= threshold, report per-cluster "
    "kept/dropped. The 100 TB contract is the clustering: all-pairs is "
    "O(sum of cluster_size^2), never corpus^2, and the per-cluster "
    "join key (label, dim) keeps candidate generation bucketed exactly "
    "like LSH bands. Decimal-exact dot/norm accumulation -> one IEEE "
    "divide + round, so the verdict is partitioning-independent.",
    _SEMDEDUP_ORACLE,
)
def x81_semdedup(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x"),
    )
    xd = (F.col("x") * F.col("x")).cast("decimal(28,12)")
    n2 = ex.groupBy("vec_id").agg(F.sum(xd).alias("nn"))
    a = ex.select(
        F.col("label").alias("label"),
        F.col("vec_id").alias("id_a"),
        "dim",
        F.col("x").alias("xa"),
    )
    b = ex.select(
        F.col("label").alias("lb"),
        F.col("vec_id").alias("id_b"),
        F.col("dim").alias("db"),
        F.col("x").alias("xb"),
    )
    prod = (F.col("xa") * F.col("xb")).cast("decimal(28,12)")
    dt = (
        a.join(
            b,
            (a.dim == b.db) & (a.label == b.lb) & (F.col("id_a") < F.col("id_b")),
        )
        .groupBy("label", "id_a", "id_b")
        .agg(F.sum(prod).alias("dot"))
    )
    na = n2.select(F.col("vec_id").alias("id_a"), F.col("nn").alias("na"))
    nb = n2.select(F.col("vec_id").alias("id_b"), F.col("nn").alias("nb"))
    cos = F.round(
        F.col("dot").cast("double")
        / (F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))),
        4,
    )
    # no broadcast hint on the norm tables: n2 is one row per VECTOR
    # (corpus-sized, not cluster-bounded) — forcing a broadcast would
    # OOM the driver at exactly the scale the docstring promises; let
    # AQE pick the strategy from runtime stats
    dups = (
        dt.join(na, "id_a")
        .join(nb, "id_b")
        .filter(cos >= _SEMDEDUP_THRESHOLD)
        .select("label", F.col("id_b").alias("dropped"))
        .distinct()
    )
    tot = e.groupBy("label").agg(F.count("*").cast("long").alias("n_total"))
    return (
        tot.join(dups, "label", "left")
        .groupBy("label", "n_total")
        .agg(F.count("dropped").cast("long").alias("n_dropped"))
        .select(
            "label",
            "n_total",
            "n_dropped",
            (F.col("n_total") - F.col("n_dropped")).cast("long").alias("n_kept"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# x82 — per-user event-type transition counts (first-order Markov)
# ---------------------------------------------------------------------------

_TRANSITIONS_ORACLE = """
WITH seq AS (
    SELECT user_id, event_type,
           lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
    FROM events
)
SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
ORDER BY prev_type, next_type
"""


@q(
    "x82_event_transitions",
    "OP-W3/G3-ext",
    "First-order Markov transition matrix of per-user event sequences: "
    "lag window partitioned on user_id (the natural parallel unit — no "
    "global sort), then a tiny (type x type) count rollup. The "
    "behavioral-analytics primitive behind session path analysis; at "
    "100 TB the window shuffle partitions by user and the final agg is "
    "event-type-cardinality-sized. (ts, event_id) ordering makes the "
    "lag deterministic under timestamp ties.",
    _TRANSITIONS_ORACLE,
)
def x82_event_transitions(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("prev_type", "next_type")
    )


# ---------------------------------------------------------------------------
# x83 — Okapi BM25 scoring for a fixed query
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "hash", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75

_BM25_TERMS_SQL = ", ".join(f"('{t}')" for t in _BM25_TERMS)

_BM25_ORACLE = f"""
WITH terms(term) AS (VALUES {_BM25_TERMS_SQL}),
tok AS (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
    FROM documents
),
tok2 AS (SELECT doc_id, w FROM tok WHERE w <> ''),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len FROM tok2 GROUP BY doc_id),
stats AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(len) AS DOUBLE) / count(*) AS avg_len
    FROM dl
),
tf AS (
    SELECT doc_id, w AS term, CAST(count(*) AS BIGINT) AS tf
    FROM tok2 JOIN terms ON w = term GROUP BY doc_id, w
),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
scored AS (
    SELECT tf.doc_id,
           SUM(CAST(round(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1)
               * (tf * ({_BM25_K1} + 1))
               / (tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl.len / avg_len)),
           6) AS DECIMAL(28,6))) AS score
    FROM tf
    JOIN df USING (term)
    JOIN dl ON dl.doc_id = tf.doc_id
    CROSS JOIN stats
    GROUP BY tf.doc_id
)
SELECT doc_id, CAST(score AS DOUBLE) AS bm25
FROM scored ORDER BY bm25 DESC, doc_id LIMIT 20
"""


@q(
    "x83_bm25_score",
    "OP-X4-ext",
    "Okapi BM25 (k1=1.2, b=0.75) over the corpus for a fixed query: "
    "tf per (doc, term) from one tokenize pass (terms filter applied "
    "AT the explode, so only query-term rows survive the map side), "
    "df and corpus stats are term- and scalar-sized broadcasts, and "
    "the per-(doc,term) score is pure codegen arithmetic. The "
    "retrieval/quality-weighting primitive tf-idf (x4_tfidf_terms) "
    "lacks: document-length normalization. Per-term scores are "
    "rounded then decimal-summed so the doc score is addition-order "
    "independent; ln() parity follows the x20_unigram_logprob "
    "precedent.",
    _BM25_ORACLE,
)
def x83_bm25_score(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    dl = tok.groupBy("doc_id").agg(F.count("*").cast("long").alias("len"))
    stats = dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        (F.sum("len").cast("double") / F.count("*")).alias("avg_len"),
    )
    tf = (
        tok.filter(F.col("w").isin(*_BM25_TERMS))
        .groupBy("doc_id", F.col("w").alias("term"))
        .agg(F.count("*").cast("long").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    norm = F.col("tf") + _BM25_K1 * (
        1 - _BM25_B + _BM25_B * F.col("len") / F.col("avg_len")
    )
    term_score = F.round(
        idf * (F.col("tf") * (_BM25_K1 + 1)) / norm, 6
    ).cast("decimal(28,6)")
    return (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(term_score).cast("double").alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# x84 — per-source Zipf slope (log-log OLS over the top-ranked vocab)
# ---------------------------------------------------------------------------

_ZIPF_TOP = 200

_ZIPF_ORACLE = f"""
WITH tok AS (
    SELECT d.source, unnest(string_split(lower(d.text), ' ')) AS w
    FROM documents d
),
wc AS (
    SELECT source, w, CAST(count(*) AS BIGINT) AS n
    FROM tok WHERE w <> '' GROUP BY source, w
),
ranked AS (
    SELECT source, w, n,
           row_number() OVER (
               PARTITION BY source ORDER BY n DESC, w) AS rank
    FROM wc QUALIFY rank <= {_ZIPF_TOP}
),
terms AS (
    SELECT source, ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(n AS DOUBLE)) AS y
    FROM ranked
),
sums AS (
    SELECT source, CAST(count(*) AS BIGINT) AS k,
           CAST(SUM(CAST(round(x, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(round(y, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(round(x * y, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(round(x * x, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sxx
    FROM terms GROUP BY source
)
SELECT source, k,
       round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS zipf_slope
FROM sums ORDER BY source
"""


@q(
    "x84_zipf_slope",
    "OP-G6/X4-ext",
    "Per-source Zipf exponent: OLS slope of ln(freq) on ln(rank) over "
    "each source's top-200 vocabulary — natural text sits near -1; "
    "boilerplate/spam sources drift off it, making this a corpus-level "
    "quality monitor the per-doc filters (x27 Gopher, x4 quality) "
    "cannot see. The regression-aggregate primitive (covar/var shape) "
    "done hash-stably: ln() per distinct (rank|freq), per-term round "
    "to 12 dp then DECIMAL sums (addition order irrelevant), one IEEE "
    "slope division + round. Scale: the (source, word) agg is "
    "vocab-bounded, the rank window is top-k per source over that "
    "bounded set, and the OLS sums are 4 numbers per source.",
    _ZIPF_ORACLE,
)
def x84_zipf_slope(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    wc = tok.groupBy("source", "w").agg(F.count("*").cast("long").alias("n"))
    w_rank = Window.partitionBy("source").orderBy(F.desc("n"), "w")
    ranked = (
        wc.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= _ZIPF_TOP)
    )
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("n").cast("double"))

    def dsum12(col):
        return F.sum(F.round(col, 12).cast("decimal(28,12)")).cast("double")

    sums = ranked.groupBy("source").agg(
        F.count("*").cast("long").alias("k"),
        dsum12(x).alias("sx"),
        dsum12(y).alias("sy"),
        dsum12(x * y).alias("sxy"),
        dsum12(x * x).alias("sxx"),
    )
    k, sx, sy, sxy, sxx = (F.col(c) for c in ("k", "sx", "sy", "sxy", "sxx"))
    return sums.select(
        "source",
        "k",
        F.round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6).alias(
            "zipf_slope"
        ),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# x85 — Jensen-Shannon divergence of each source vs the corpus mix
# ---------------------------------------------------------------------------

_JSD_ORACLE = """
WITH tok AS (
    SELECT d.source, unnest(string_split(lower(d.text), ' ')) AS w
    FROM documents d
),
tok2 AS (SELECT source, w FROM tok WHERE w <> ''),
wc_s AS (SELECT source, w, CAST(count(*) AS BIGINT) AS n_sw
         FROM tok2 GROUP BY source, w),
wc   AS (SELECT w, CAST(count(*) AS BIGINT) AS n_w FROM tok2 GROUP BY w),
tot_s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
          FROM tok2 GROUP BY source),
tot  AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok2),
grid AS (
    SELECT s.source, v.w, v.n_w, coalesce(ws.n_sw, 0) AS n_sw
    FROM tot_s s CROSS JOIN wc v
    LEFT JOIN wc_s ws ON ws.source = s.source AND ws.w = v.w
),
terms AS (
    SELECT g.source,
           CAST(g.n_sw AS DOUBLE) / CAST(ts.n_s AS DOUBLE) AS p,
           CAST(g.n_w AS DOUBLE) / CAST(t.n AS DOUBLE) AS q
    FROM grid g JOIN tot_s ts ON ts.source = g.source CROSS JOIN tot t
),
contrib AS (
    SELECT source,
           CASE WHEN p > 0 THEN round(p * ln(p / ((p + q) / 2)), 12)
                ELSE 0 END AS tp,
           round(q * ln(q / ((p + q) / 2)), 12) AS tq
    FROM terms
)
SELECT source,
       round(0.5 * CAST(SUM(CAST(tp AS DECIMAL(28,12))) AS DOUBLE)
           + 0.5 * CAST(SUM(CAST(tq AS DECIMAL(28,12))) AS DOUBLE), 6)
           AS jsd
FROM contrib GROUP BY source ORDER BY source
"""


@q(
    "x85_jsd_source_drift",
    "OP-X4/G3-ext",
    "Jensen-Shannon divergence between each source's unigram "
    "distribution and the corpus mixture — the standard bounded "
    "(0..ln2) distribution-shift score for training-mix monitoring "
    "(which source is lexically off-mix) and for drift alarms between "
    "corpus snapshots. Absent words matter (p=0 rows still carry the "
    "q*ln(2) mass), so the score runs over the sources x vocab grid — "
    "vocab-bounded, never corpus-bounded: two token hash-aggs, a "
    "broadcast of the per-source totals, one grid join on the word "
    "key. Per-term round-12 + DECIMAL sums make it "
    "partitioning-independent; ln() per grid cell follows the x20 "
    "parity precedent.",
    _JSD_ORACLE,
)
def x85_jsd_source_drift(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    wc_s = tok.groupBy("source", "w").agg(
        F.count("*").cast("long").alias("n_sw")
    )
    wc = tok.groupBy("w").agg(F.count("*").cast("long").alias("n_w"))
    tot_s = tok.groupBy("source").agg(F.count("*").cast("long").alias("n_s"))
    tot = tok.agg(F.count("*").cast("long").alias("n"))
    grid = (
        tot_s.crossJoin(wc)
        .join(wc_s, ["source", "w"], "left")
        .withColumn("n_sw", F.coalesce(F.col("n_sw"), F.lit(0)))
        .crossJoin(F.broadcast(tot))
    )
    p = F.col("n_sw").cast("double") / F.col("n_s").cast("double")
    q = F.col("n_w").cast("double") / F.col("n").cast("double")
    m = (p + q) / 2
    tp = F.when(p > 0, F.round(p * F.log(p / m), 12)).otherwise(F.lit(0.0))
    tq = F.round(q * F.log(q / m), 12)
    return (
        grid.select("source", tp.alias("tp"), tq.alias("tq"))
        .groupBy("source")
        .agg(
            F.round(
                0.5 * F.sum(F.col("tp").cast("decimal(28,12)")).cast("double")
                + 0.5
                * F.sum(F.col("tq").cast("decimal(28,12)")).cast("double"),
                6,
            ).alias("jsd")
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# x86 — deterministic shard manifest (assignment + content fingerprint)
# ---------------------------------------------------------------------------

_N_SHARDS = 16
# Knuth multiplicative hash — exact BIGINT math, identical in DuckDB
# (same constant as x26_fixed_k_sample; xxhash64 has no DuckDB twin)
_KNUTH = 2654435761

_SHARD_ORACLE = f"""
WITH assign AS (
    SELECT doc_id,
           CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS fph,
           length(text) AS n_chars,
           ((doc_id & 2147483647) * {_KNUTH}) % 4294967296 % {_N_SHARDS} AS shard
    FROM documents
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       CAST(SUM(fph) % 2305843009213693952 AS BIGINT) AS manifest_sum
FROM assign GROUP BY shard ORDER BY shard
"""


@q(
    "x86_shard_manifest",
    "OP-X9/O5-ext",
    "Deterministic training-shard planner + manifest: every document "
    "maps to one of 16 shards by exact Knuth-hash BIGINT arithmetic "
    "(layout- and engine-independent — df.sample/rand are partition-"
    "seeded and are not), and each shard publishes a content "
    "fingerprint: the exact SUM of each member's 60-bit md5-prefix "
    "integer. Summation is commutative, so the fingerprint is "
    "order-independent with O(1) aggregation state per shard and "
    "map-side partial combine — a doc_id-ordered digest CHAIN "
    "(collect_list + concat) would hold every member digest of a "
    "shard in ONE agg buffer, the unbounded per-group-state class a "
    "billion-doc shard cannot afford. Two runs (or two engines) "
    "producing equal (n_docs, manifest_sum) certifies shard content "
    "(the exact sum is reduced mod 2^61 so both engines emit BIGINT; "
    "residues stay uniform) with collision odds ~ birthday(2^60) per "
    "shard — the "
    "reproducibility receipt a 100 TB export job needs.",
    _SHARD_ORACLE,
)
def x86_shard_manifest(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    assign = d.select(
        "doc_id",
        # conv(hex, 16, 10) == DuckDB CAST('0x' || hex AS BIGINT): 15
        # hex chars = 60 bits, exact in BIGINT on both engines
        F.conv(F.substring(F.md5("text"), 1, 15), 16, 10)
        .cast("long")
        .alias("fph"),
        F.length("text").cast("long").alias("n_chars"),
        # doc_id is masked to 31 bits BEFORE the multiply: (2^31-1) *
        # KNUTH ≈ 5.7e18 < 2^63, so the product never overflows BIGINT
        # on either engine. The raw doc_id * KNUTH form overflowed for
        # doc_id ≳ 3.47e9 — Spark (non-ANSI) wraps to a negative shard
        # while DuckDB raises, an engine divergence at exactly the
        # billion-doc scale this op targets. Bitwise AND is
        # two's-complement-identical in Spark and DuckDB, including
        # for negative ids.
        (
            (F.col("doc_id").bitwiseAND(F.lit(2147483647)) * _KNUTH)
            % 4294967296
            % _N_SHARDS
        )
        .cast("long")
        .alias("shard"),
    )
    return (
        assign.groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            # exact decimal sum reduced mod 2^61: keeps the digest's
            # full sensitivity (uniform residue) while landing in
            # BIGINT on both engines — DuckDB's HUGEINT/DECIMAL(38,0)
            # sums surface as float64 in pandas and break the dtype
            # contract (the round-3 HUGEINT trap)
            (F.sum(F.col("fph").cast("decimal(38,0)")) % F.lit(2305843009213693952))
            .cast("long")
            .alias("manifest_sum"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# x87 — bigram-LM mean log-probability per document
# ---------------------------------------------------------------------------

_BIGRAM_LM_ORACLE = """
WITH tok AS (
    SELECT doc_id, w, pos FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ) WHERE w <> ''
),
seq AS (
    SELECT doc_id, w,
           row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS p
    FROM tok
),
bg AS (
    SELECT doc_id, w AS w1,
           lead(w) OVER (PARTITION BY doc_id ORDER BY p) AS w2
    FROM seq
),
bg2 AS (SELECT doc_id, w1, w2 FROM bg WHERE w2 IS NOT NULL),
cb AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS cnt
       FROM bg2 GROUP BY w1, w2),
cu AS (SELECT w1, CAST(count(*) AS DOUBLE) AS tot FROM bg2 GROUP BY w1),
lm AS (SELECT cb.w1, cb.w2, ln(cb.cnt / cu.tot) AS lp
       FROM cb JOIN cu ON cb.w1 = cu.w1)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(sum(lp) / count(*), 6) AS mean_bigram_lp
FROM bg2 JOIN lm ON bg2.w1 = lm.w1 AND bg2.w2 = lm.w2
GROUP BY doc_id ORDER BY doc_id
"""


@q(
    "x87_bigram_logprob",
    "OP-X4-ext",
    "Bigram-LM mean log-probability per document — the conditional "
    "upgrade of x20's unigram perplexity proxy (P(w2|w1) = "
    "C(w1,w2)/C(w1,*)): repeated boilerplate scores near 0 while "
    "shuffled/generated word salad scores far below, separating the "
    "two failure modes a unigram LM conflates. One tokenize pass "
    "feeds a doc-partitioned lead() window (bigrams never cross "
    "docs), the LM is (bigram-vocab)-bounded and ln() is computed per "
    "DISTINCT bigram type, and the per-doc mean rounds to 6 dp under "
    "the x20 parity budget. Shuffles: bigram agg + unigram agg + the "
    "LM join-back + per-doc agg — all on vocab- or doc-keyed rows, "
    "never corpus×corpus.",
    _BIGRAM_LM_ORACLE,
)
def x87_bigram_logprob(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    ).filter(F.col("w") != "")
    wseq = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        tok.select(
            "doc_id",
            F.col("w").alias("w1"),
            F.lead("w").over(wseq).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
    )
    cb = bg.groupBy("w1", "w2").agg(F.count("*").cast("double").alias("cnt"))
    cu = bg.groupBy("w1").agg(F.count("*").cast("double").alias("tot"))
    lm = cb.join(cu, "w1").select(
        "w1", "w2", F.log(F.col("cnt") / F.col("tot")).alias("lp")
    )
    return (
        bg.join(lm, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(F.sum("lp") / F.count("*"), 6).alias("mean_bigram_lp"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# x88 — lexical diversity per source (type-token + hapax ratios)
# ---------------------------------------------------------------------------

_DIVERSITY_ORACLE = """
WITH tok AS (
    SELECT d.source, unnest(string_split(lower(d.text), ' ')) AS w
    FROM documents d
),
t AS (SELECT source, w FROM tok WHERE w <> ''),
wc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS n
       FROM t GROUP BY source, w),
agg AS (
    SELECT source,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(count(*) FILTER (WHERE n = 1) AS BIGINT) AS n_hapax
    FROM wc GROUP BY source
)
SELECT source, n_tokens, n_types, n_hapax,
       round(CAST(n_types AS DOUBLE) / n_tokens, 6) AS type_token_ratio,
       round(CAST(n_hapax AS DOUBLE) / n_types, 6) AS hapax_ratio
FROM agg ORDER BY source
"""


@q(
    "x88_lexical_diversity",
    "OP-X4/G5-ext",
    "Lexical-diversity profile per source: type-token ratio and hapax-"
    "legomenon share — the corpus-health dual of x84's Zipf slope "
    "(template/boilerplate sources show low TTR; OCR-noise/spam "
    "sources show inflated hapax share from misspellings). Two "
    "stacked hash-aggs — (source, word) then source — both map-side "
    "combined and vocab-bounded; counts stay BIGINT-exact and the two "
    "ratios are single IEEE divisions rounded to 6 dp.",
    _DIVERSITY_ORACLE,
)
def x88_lexical_diversity(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    wc = t.groupBy("source", "w").agg(F.count("*").cast("long").alias("n"))
    agg = wc.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
    )
    return agg.select(
        "source",
        "n_tokens",
        "n_types",
        "n_hapax",
        F.round(F.col("n_types").cast("double") / F.col("n_tokens"), 6).alias(
            "type_token_ratio"
        ),
        F.round(F.col("n_hapax").cast("double") / F.col("n_types"), 6).alias(
            "hapax_ratio"
        ),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# x89 — exponentially time-decayed engagement score per user
# ---------------------------------------------------------------------------

_DECAY_HOURS = 168.0  # e-folding time: one week

_DECAY_ORACLE = f"""
WITH ref AS (SELECT max(ts) AS mx FROM events),
ages AS (
    SELECT e.user_id,
           date_diff('microsecond', e.ts, ref.mx) // 3600000000 AS age_h
    FROM events e CROSS JOIN ref
),
w AS (
    SELECT user_id, exp(-(CAST(age_h AS DOUBLE)) / {_DECAY_HOURS}) AS wt
    FROM ages
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       round(sum(wt), 6) AS decayed_score
FROM w GROUP BY user_id ORDER BY user_id
"""


@q(
    "x89_decayed_engagement",
    "OP-G6/D-ext",
    "Exponentially time-decayed engagement per user (one-week "
    "e-folding): the recency-weighted activity primitive behind churn "
    "scores and freshness-weighted sampling — a plain count ignores "
    "WHEN activity happened. Age is computed in pure INTEGER "
    "microsecond arithmetic from the corpus max-ts scalar (broadcast "
    "back; timestampdiff/date_diff at MICROSECOND granularity — exact "
    "at the values' own precision, no tz/DST math), floored to hours "
    "so exp() sees "
    "identical small-integer inputs; per-user double sums follow the "
    "x20 ulp-budget precedent (tens of sub-1.0 terms against a 6-dp "
    "round). One scalar agg + one user-keyed agg, map-side combined — "
    "nothing global, nothing corpus×corpus.",
    _DECAY_ORACLE,
)
def x89_decayed_engagement(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    ref = ev.agg(F.max("ts").alias("mx"))
    # timestampdiff at MICROSECOND granularity is the exact difference
    # of the us-precision NTZ values on both engines (the second-level
    # boundary-counting trap of date_diff('second') cannot bite at the
    # values' own granularity) and involves no session-timezone math —
    # unix_micros/epoch_us would need an NTZ->instant conversion whose
    # offset only cancels when no DST boundary sits inside the corpus.
    ages = ev.crossJoin(F.broadcast(ref)).select(
        "user_id",
        F.floor(
            F.expr("timestampdiff(MICROSECOND, ts, mx)") / F.lit(3600000000)
        )
        .cast("long")
        .alias("age_h"),
    )
    wt = F.exp(-(F.col("age_h").cast("double")) / F.lit(_DECAY_HOURS))
    return (
        ages.select("user_id", wt.alias("wt"))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("wt"), 6).alias("decayed_score"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# x90 — Benford leading-digit deviation of order totals
# ---------------------------------------------------------------------------

import math as _math

_BENFORD = {d: _math.log10(1 + 1 / d) for d in range(1, 10)}

_BENFORD_CASE_SQL = " ".join(
    f"WHEN {d} THEN {_BENFORD[d]!r}" for d in range(1, 10)
)

_BENFORD_ORACLE = f"""
WITH cents AS (
    SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
    FROM orders WHERE o_totalprice > 0
),
digit AS (
    SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS d
    FROM cents
),
counts AS (SELECT d, CAST(count(*) AS BIGINT) AS n FROM digit GROUP BY d),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM counts)
SELECT d, n,
       round(CAST(n AS DOUBLE) / t, 6) AS share,
       CASE d {_BENFORD_CASE_SQL} END AS expected,
       round(abs(CAST(n AS DOUBLE) / t - CASE d {_BENFORD_CASE_SQL} END), 6)
           AS abs_dev
FROM counts CROSS JOIN tot ORDER BY d
"""


@q(
    "x90_benford_deviation",
    "OP-G5/X4-ext",
    "Benford's-law leading-digit audit of order totals — the classic "
    "fabricated-data / ingestion-corruption smoke alarm (natural "
    "multi-scale amounts follow P(d)=log10(1+1/d); truncated or "
    "synthesized feeds do not). The leading digit is extracted via "
    "exact integer math (2-dp price → rounded cents LONG → first "
    "char), never log10 (whose ulp at exact powers of ten could flip "
    "the digit between engines); expected shares are PYTHON-computed "
    "literals injected into both the Spark plan and the oracle SQL, "
    "so no transcendental runs in either engine. One 9-group "
    "hash-agg + a scalar total broadcast.",
    _BENFORD_ORACLE,
)
def x90_benford_deviation(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    digit = (
        o.filter(F.col("o_totalprice") > 0)
        .select(
            F.substring(
                F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
                1,
                1,
            )
            .cast("long")
            .alias("d")
        )
    )
    counts = digit.groupBy("d").agg(F.count("*").cast("long").alias("n"))
    tot = counts.agg(F.sum("n").cast("long").alias("t"))
    expected = F.create_map(
        *[F.lit(v) for d in range(1, 10) for v in (d, _BENFORD[d])]
    )[F.col("d")]
    share = F.col("n").cast("double") / F.col("t")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "d",
            "n",
            F.round(share, 6).alias("share"),
            expected.alias("expected"),
            F.round(F.abs(share - expected), 6).alias("abs_dev"),
        )
        .orderBy("d")
    )
