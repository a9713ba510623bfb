"""Round-22 operators (round 5, batch 2): retrieval fusion + ranking
evaluation + the statistical-process-control battery, all
oracle-certified.

Reference parity: the reference's SQL surface (SURVEY.md §3.3) can
express each of these, and its dashboard layer implies the SPC/eval
reports; they complete the retrieval story started by x83/x117 (a
retrieval stack is ranker + fusion + evaluation) and the time-series
story of x119/x120 (smoothing + seasonality + changepoint):

* ``x122_rrf_hybrid_search`` — reciprocal-rank fusion (Cormack et al.
  2009, k=60) of a lexical BM25 top-100 and a vector-cosine top-100
  for the same literal query: the standard hybrid-search serving
  shape. Both candidate lists are TakeOrdered-bounded BEFORE ranks
  are assigned, the fusion is a full outer join of two 100-row
  frames, and each RRF term is one IEEE divide of literals.
* ``x123_ndcg_eval`` — NDCG@1..20 of a term-frequency ranker against
  graded term-coverage relevance: gains are exact ints (2^rel - 1),
  the 1/log2(i+1) discount weights are PYTHON LITERALS shared by both
  engines (the x98 literal-table idiom — no libm log in either
  plan), per-rank terms rounded then decimal-cumsummed.
* ``x124_tukey_outliers`` — per-group exact type-1 quartiles (pure
  rank picks, ZERO divides) + Tukey-fence outlier counts with the
  1.5×IQR fences compared as exact integers (2v < 2q1 - 3iqr).
* ``x125_cusum_changepoint`` — single mean-shift changepoint over the
  monthly revenue series: the scaled two-sample statistic
  |cum_t*(n-t) - (tot-cum_t)*t| = t(n-t)|Δmean| stays exact BIGINT,
  so the argmax month is engine-exact; per-side means in exact
  integer micro-cents (two-step floor division — all-integer output).
* ``x126_session_profile`` — gap-sessionized (30 min, the x6 idiom)
  behavioral profile grouped by each session's FIRST event type:
  session counts, p50/p90 duration via exact rank picks, mean events
  per session. Timezone-free by construction (only instant diffs —
  no wall-clock extraction, which a hostile non-UTC session would
  skew).

Hash-parity conventions as plans/queries.py: exact cents/BIGINT
arithmetic, rank-pick quantiles, literal discount/weight tables,
round(…, 8) on any libm or divide output, total ORDER BY.
"""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from ravelytics_spark.plans.frames import MONTHLY_REVENUE_CTE, monthly_revenue
from ravelytics_spark.plans.registry import q
from ravelytics_spark.sources.tables import load_table

_KNUTH = 2654435761

# ---------------------------------------------------------------------------
# x122 — reciprocal-rank fusion of BM25 and vector-cosine candidates
# ---------------------------------------------------------------------------

_RRF_TERMS = ("merge", "filter", "scan")
_RRF_K1 = 1.2
_RRF_B = 0.75
_RRF_K = 60
_RRF_TOPN = 100

# Literal query embedding: small integers from the Knuth hash family —
# compile-time constants in BOTH engines (the x102 idiom), so the
# vector side has no data-derived plan state.
_RRF_QDIM = 64
_RRF_Q = [((i * _KNUTH) % 9) - 4 for i in range(_RRF_QDIM)]
_RRF_QNORM = math.sqrt(sum(v * v for v in _RRF_Q))

_RRF_TF_SQL = ",\n           ".join(
    f"CAST(len(list_filter(w, x -> x = '{t}')) AS BIGINT) AS tf{i}"
    for i, t in enumerate(_RRF_TERMS)
)
_RRF_DF_SQL = ",\n           ".join(
    f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
    for i in range(len(_RRF_TERMS))
)
_RRF_IDF_SQL = ",\n           ".join(
    f"round(ln((CAST(n_docs AS DOUBLE) - CAST(df{i} AS DOUBLE) + 0.5)"
    f" / (CAST(df{i} AS DOUBLE) + 0.5)), 8) AS idf{i}"
    for i in range(len(_RRF_TERMS))
)
_RRF_TERM_SQL = " + ".join(
    f"CAST(round(idf{i} * (CAST(tf{i} AS DOUBLE) * {_RRF_K1 + 1})"
    f" / (CAST(tf{i} AS DOUBLE) + {_RRF_K1} * (1 - {_RRF_B}"
    f" + {_RRF_B} * CAST(dl AS DOUBLE) / avgdl)), 8) AS DECIMAL(28,12))"
    for i in range(len(_RRF_TERMS))
)
_RRF_QVEC_SQL = ", ".join(f"({i + 1}, {v})" for i, v in enumerate(_RRF_Q))

_RRF_ORACLE = f"""
WITH d AS (
    SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
    FROM documents
),
l AS (
    SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
           {_RRF_TF_SQL}
    FROM d
),
s AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(dl) AS BIGINT) AS sum_dl,
           {_RRF_DF_SQL}
    FROM l
),
c AS (
    SELECT CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl,
           {_RRF_IDF_SQL}
    FROM s
),
lex AS (
    SELECT doc_id, CAST({_RRF_TERM_SQL} AS DOUBLE) AS bm25
    FROM l, c
),
lex_top AS (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS r_lex
    FROM lex
    QUALIFY r_lex <= {_RRF_TOPN}
),
qv AS (SELECT * FROM (VALUES {_RRF_QVEC_SQL}) AS t(dim, qx)),
ex AS (
    SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
           CAST(unnest(embedding) AS DOUBLE) AS x
    FROM embeddings
),
vs AS (
    SELECT vec_id,
           CAST(SUM(CAST(x * qx AS DECIMAL(28,12))) AS DOUBLE) AS dot,
           CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS nn
    FROM ex JOIN qv USING (dim) GROUP BY vec_id
),
vec_top AS (
    SELECT vec_id AS doc_id,
           CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS BIGINT) AS r_vec
    FROM (SELECT vec_id, round(dot / (sqrt(nn) * {_RRF_QNORM!r}), 8) AS cos
          FROM vs)
    QUALIFY r_vec <= {_RRF_TOPN}
),
fused AS (
    SELECT COALESCE(lex_top.doc_id, vec_top.doc_id) AS doc_id, r_lex, r_vec,
           COALESCE(CAST(round(1.0 / ({_RRF_K} + r_lex), 8) AS DECIMAL(28,12)),
                    CAST(0 AS DECIMAL(28,12)))
         + COALESCE(CAST(round(1.0 / ({_RRF_K} + r_vec), 8) AS DECIMAL(28,12)),
                    CAST(0 AS DECIMAL(28,12))) AS rrf
    FROM lex_top FULL OUTER JOIN vec_top ON lex_top.doc_id = vec_top.doc_id
)
SELECT doc_id, r_lex, r_vec, CAST(rrf AS DOUBLE) AS rrf
FROM fused
ORDER BY rrf DESC, doc_id
LIMIT 20
"""


@q(
    "x122_rrf_hybrid_search",
    "OP-X3/OP-X4-ext",
    "Hybrid retrieval: reciprocal-rank fusion (k=60) of a lexical "
    "BM25 top-100 (x117's zero-exchange scan shape, terms "
    "merge/filter/scan) and a vector-cosine top-100 against a literal "
    "query embedding (x102's compile-time-constant idiom; dot and "
    "norm as exact DECIMAL sums, one IEEE sqrt+divide rounded to 8). "
    "Both lists are TakeOrdered-bounded BEFORE ranks are assigned — "
    "the windows run over 100 rows, never the corpus — and the "
    "fusion is a full outer join of two 100-row frames (a doc "
    "missing from one list contributes only its present term, the "
    "standard RRF contract). Each RRF term is round(1/(60+rank), 8), "
    "decimal-summed. This is the shape a hybrid search service runs "
    "at any corpus size: candidate generation scales, fusion is "
    "O(top-N).",
    _RRF_ORACLE,
)
def x122_rrf_hybrid_search(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.expr("filter(split(text, ' '), x -> x <> '')").alias("w")
    )
    tf_cols = [
        F.size(F.expr(f"filter(w, x -> x = '{t}')")).cast("long").alias(f"tf{i}")
        for i, t in enumerate(_RRF_TERMS)
    ]
    lrow = toks.select("doc_id", F.size("w").cast("long").alias("dl"), *tf_cols)
    stats = lrow.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0))
            .cast("long")
            .alias(f"df{i}")
            for i in range(len(_RRF_TERMS))
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
            for i in range(len(_RRF_TERMS))
        ],
    )
    term_sum = None
    for i in range(len(_RRF_TERMS)):
        tf = F.col(f"tf{i}").cast("double")
        t = F.round(
            F.col(f"idf{i}")
            * (tf * (_RRF_K1 + 1))
            / (
                tf
                + _RRF_K1
                * (1 - _RRF_B + _RRF_B * F.col("dl").cast("double") / F.col("avgdl"))
            ),
            8,
        ).cast("decimal(28,12)")
        term_sum = t if term_sum is None else term_sum + t
    lex = (
        lrow.crossJoin(F.broadcast(consts))
        .select("doc_id", term_sum.cast("double").alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_RRF_TOPN)
    )
    lex_top = lex.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), "doc_id"))
        .cast("long")
        .alias("r_lex"),
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qarr = F.array(*[F.lit(float(v)) for v in _RRF_Q])
    dot_terms = F.zip_with(
        F.col("embedding").cast("array<double>"),
        qarr,
        lambda x, y: (x * y).cast("decimal(28,12)"),
    )
    nn_terms = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: (x * x).cast("decimal(28,12)"),
    )
    zero = F.lit(0).cast("decimal(28,12)")
    fold = lambda arr: F.aggregate(  # noqa: E731
        arr, zero, lambda acc, v: (acc + v).cast("decimal(28,12)")
    )
    vs = emb.select(
        "vec_id",
        fold(dot_terms).cast("double").alias("dot"),
        fold(nn_terms).cast("double").alias("nn"),
    )
    cos = F.round(
        F.col("dot") / (F.sqrt(F.col("nn")) * F.lit(_RRF_QNORM)), 8
    ).alias("cos")
    vtop = (
        vs.select("vec_id", cos)
        .orderBy(F.desc("cos"), "vec_id")
        .limit(_RRF_TOPN)
    )
    vec_top = vtop.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.desc("cos"), "vec_id"))
        .cast("long")
        .alias("r_vec"),
    )

    dz = F.lit(0).cast("decimal(28,12)")
    rrf = F.coalesce(
        F.round(F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_lex")), 8).cast(
            "decimal(28,12)"
        ),
        dz,
    ) + F.coalesce(
        F.round(F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_vec")), 8).cast(
            "decimal(28,12)"
        ),
        dz,
    )
    fused = lex_top.join(vec_top, "doc_id", "full_outer").select(
        "doc_id", "r_lex", "r_vec", rrf.alias("rrf_dec")
    )
    return (
        fused.select(
            "doc_id", "r_lex", "r_vec", F.col("rrf_dec").cast("double").alias("rrf")
        )
        .orderBy(F.desc("rrf_dec"), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# x123 — NDCG@1..20 of a term-frequency ranker vs term-coverage relevance
# ---------------------------------------------------------------------------

_NDCG_TERMS = ("merge", "filter", "scan")
_NDCG_AT = 20
# 1/log2(i+1) discount weights as shared literals (the x98 idiom: no
# libm log in either engine's plan).
_NDCG_W = [round(1.0 / math.log2(i + 1), 12) for i in range(1, _NDCG_AT + 1)]

_NDCG_TF_SQL = " + ".join(
    f"len(list_filter(w, x -> x = '{t}'))" for t in _NDCG_TERMS
)
_NDCG_REL_SQL = " + ".join(
    f"CASE WHEN len(list_filter(w, x -> x = '{t}')) > 0 THEN 1 ELSE 0 END"
    for t in _NDCG_TERMS
)
_NDCG_W_SQL = ", ".join(f"({i + 1}, {w!r})" for i, w in enumerate(_NDCG_W))

_NDCG_ORACLE = f"""
WITH d AS (
    SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
    FROM documents
),
g AS (
    SELECT doc_id,
           CAST({_NDCG_TF_SQL} AS BIGINT) AS tf_total,
           CAST({_NDCG_REL_SQL} AS BIGINT) AS rel
    FROM d
),
wt AS (SELECT * FROM (VALUES {_NDCG_W_SQL}) AS t(i, w)),
actual AS (
    SELECT CAST(row_number() OVER (ORDER BY tf_total DESC, doc_id) AS BIGINT) AS i,
           (CAST(1 AS BIGINT) << rel) - 1 AS gain
    FROM g
    QUALIFY i <= {_NDCG_AT}
),
ideal AS (
    SELECT CAST(row_number() OVER (ORDER BY rel DESC, doc_id) AS BIGINT) AS i,
           (CAST(1 AS BIGINT) << rel) - 1 AS gain
    FROM g
    QUALIFY i <= {_NDCG_AT}
),
a2 AS (
    SELECT i, SUM(CAST(round(CAST(gain AS DOUBLE) * w, 8) AS DECIMAL(28,12)))
                  OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) AS dcg
    FROM actual JOIN wt USING (i)
),
i2 AS (
    SELECT i, SUM(CAST(round(CAST(gain AS DOUBLE) * w, 8) AS DECIMAL(28,12)))
                  OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) AS idcg
    FROM ideal JOIN wt USING (i)
)
SELECT a2.i AS k, CAST(a2.dcg AS DOUBLE) AS dcg, CAST(i2.idcg AS DOUBLE) AS idcg,
       round(CAST(a2.dcg AS DOUBLE) / nullif(CAST(i2.idcg AS DOUBLE), 0), 8)
           AS ndcg
FROM a2 JOIN i2 ON a2.i = i2.i
ORDER BY k
"""


@q(
    "x123_ndcg_eval",
    "OP-X4/OP-O1-ext",
    "Ranking-quality evaluation: NDCG@1..20 of a term-frequency "
    "ranker (total query-term tf, tie-broken) against graded "
    "term-coverage relevance (rel = #query terms present, gain = "
    "2^rel - 1 exact ints) — the metric every retrieval/reranking "
    "change ships with; completes the retrieval stack (x83/x117 "
    "rankers, x122 fusion, this evaluates). The 1/log2(i+1) discount "
    "weights are PYTHON LITERALS joined in (x98's literal-table "
    "idiom — zero libm calls in either plan); per-rank terms are "
    "round(gain*w, 8) then decimal-CUMSUMMED over a 20-row frame, so "
    "every DCG prefix is addition-order exact; NDCG is one IEEE "
    "divide per k. Both top-20 lists compile to "
    "TakeOrderedAndProject; everything after runs on 20 rows.",
    _NDCG_ORACLE,
)
def x123_ndcg_eval(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.expr("filter(split(text, ' '), x -> x <> '')").alias("w")
    )
    tf_total = None
    rel = None
    for t in _NDCG_TERMS:
        c = F.size(F.expr(f"filter(w, x -> x = '{t}')")).cast("long")
        tf_total = c if tf_total is None else tf_total + c
        r = F.when(c > 0, 1).otherwise(0).cast("long")
        rel = r if rel is None else rel + r
    g = toks.select(
        "doc_id", tf_total.alias("tf_total"), rel.alias("rel")
    )
    gain = F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(rel AS INT)) - CAST(1 AS BIGINT)"
    ).alias("gain")

    def topk(df, order):
        ranked = df.orderBy(*order).limit(_NDCG_AT)
        return ranked.select(
            F.row_number().over(Window.orderBy(*order)).cast("long").alias("i"),
            gain,
        )

    actual = topk(g, [F.desc("tf_total"), F.col("doc_id")])
    ideal = topk(g, [F.desc("rel"), F.col("doc_id")])
    warr = F.array(*[F.lit(w) for w in _NDCG_W])
    wcum = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)

    def dcg(df, out):
        term = F.round(
            F.col("gain").cast("double") * F.element_at(warr, F.col("i").cast("int")),
            8,
        ).cast("decimal(28,12)")
        return df.select("i", term.alias("t")).select(
            "i", F.sum("t").over(wcum).alias(out)
        )

    a2 = dcg(actual, "dcg")
    i2 = dcg(ideal, "idcg")
    return (
        a2.join(i2, "i")
        .select(
            F.col("i").alias("k"),
            F.col("dcg").cast("double").alias("dcg"),
            F.col("idcg").cast("double").alias("idcg"),
            F.round(
                F.col("dcg").cast("double")
                / F.nullif(F.col("idcg").cast("double"), F.lit(0.0)),
                8,
            ).alias("ndcg"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# x124 — per-group exact quartiles + Tukey-fence outlier counts
# ---------------------------------------------------------------------------

_TUKEY_ORACLE = """
WITH c AS (
    SELECT o_orderpriority AS grp,
           CAST(round(o_totalprice * 100) AS BIGINT) AS v,
           o_orderkey
    FROM orders
),
r AS (
    SELECT grp, v,
           row_number() OVER (PARTITION BY grp ORDER BY v, o_orderkey) AS i,
           count(*) OVER (PARTITION BY grp) AS n
    FROM c
),
qs AS (
    SELECT grp, CAST(max(n) AS BIGINT) AS n_orders,
           CAST(max(CASE WHEN i = (n + 3) // 4 THEN v END) AS BIGINT) AS q1,
           CAST(max(CASE WHEN i = (n + 1) // 2 THEN v END) AS BIGINT) AS q2,
           CAST(max(CASE WHEN i = (3 * n + 3) // 4 THEN v END) AS BIGINT) AS q3
    FROM r GROUP BY grp
)
SELECT qs.grp AS o_orderpriority, n_orders, q1, q2, q3,
       q3 - q1 AS iqr,
       CAST(sum(CASE WHEN 2 * c.v < 2 * q1 - 3 * (q3 - q1) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_low,
       CAST(sum(CASE WHEN 2 * c.v > 2 * q3 + 3 * (q3 - q1) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_high
FROM qs JOIN c ON c.grp = qs.grp
GROUP BY qs.grp, n_orders, q1, q2, q3
ORDER BY o_orderpriority
"""


@q(
    "x124_tukey_outliers",
    "OP-G6/OP-W-ext",
    "Per-group exact type-1 quartiles and Tukey-fence outlier counts "
    "over order values in cents: q_p is the VALUE AT RANK ceil(n*p) "
    "(pure integer rank pick — zero divides, zero interpolation, so "
    "nothing can drift between engines; the x118 median entry is the "
    "interpolating complement), and the 1.5×IQR fences are compared "
    "as exact integers (2v < 2q1 - 3iqr / 2v > 2q3 + 3iqr — the "
    "halves cleared by doubling, never a float 1.5). The box-plot/"
    "data-quality outlier battery. Per-group window partitions on "
    "the group key; the fence pass re-joins the 5-row quartile frame "
    "broadcast, counting with map-side combine.",
    _TUKEY_ORACLE,
)
def x124_tukey_outliers(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        "o_orderkey",
    )
    wP = Window.partitionBy("grp").orderBy("v", "o_orderkey")
    wN = Window.partitionBy("grp")
    r = c.select(
        "grp",
        "v",
        F.row_number().over(wP).cast("long").alias("i"),
        F.count("*").over(wN).cast("long").alias("n"),
    )

    def pick(rank_expr, name):
        return F.max(
            F.when(F.col("i") == F.expr(rank_expr), F.col("v"))
        ).cast("long").alias(name)

    qs = r.groupBy("grp").agg(
        F.max("n").cast("long").alias("n_orders"),
        pick("(n + 3) DIV 4", "q1"),
        pick("(n + 1) DIV 2", "q2"),
        pick("(3 * n + 3) DIV 4", "q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    joined = c.join(F.broadcast(qs), "grp")
    return (
        joined.groupBy("grp", "n_orders", "q1", "q2", "q3")
        .agg(
            F.sum(
                F.when(2 * F.col("v") < 2 * F.col("q1") - 3 * iqr, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_low"),
            F.sum(
                F.when(2 * F.col("v") > 2 * F.col("q3") + 3 * iqr, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_high"),
        )
        .select(
            F.col("grp").alias("o_orderpriority"),
            "n_orders",
            "q1",
            "q2",
            "q3",
            iqr.alias("iqr"),
            "n_low",
            "n_high",
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# x125 — CUSUM mean-shift changepoint over monthly revenue
# ---------------------------------------------------------------------------

_CUSUM_ORACLE = f"""
WITH {MONTHLY_REVENUE_CTE},
w AS (
    SELECT mon, y,
           CAST(row_number() OVER (ORDER BY mon) AS BIGINT) AS t,
           SUM(y) OVER (ORDER BY mon ROWS UNBOUNDED PRECEDING) AS cum,
           (SELECT CAST(sum(y) AS BIGINT) FROM m) AS tot,
           (SELECT CAST(count(*) AS BIGINT) FROM m) AS n
    FROM m
),
s AS (
    SELECT mon, t, y,
           CAST((cum // t) * 1000000 + ((cum % t) * 1000000) // t AS BIGINT)
               AS mean_before_micros,
           CAST(((tot - cum) // (n - t)) * 1000000
                + (((tot - cum) % (n - t)) * 1000000) // (n - t) AS BIGINT)
               AS mean_after_micros,
           abs(cum * (n - t) - (tot - cum) * t) AS stat
    FROM w WHERE t < n
)
SELECT mon, t, y AS revenue_cents, mean_before_micros, mean_after_micros,
       CAST(stat AS BIGINT) AS shift_stat,
       CAST(CASE WHEN row_number() OVER (ORDER BY stat DESC, t) = 1
                 THEN 1 ELSE 0 END AS BIGINT) AS is_peak
FROM s
ORDER BY mon
"""


@q(
    "x125_cusum_changepoint",
    "OP-W4/OP-T-ext",
    "Mean-shift changepoint detection over the monthly revenue "
    "series: for every split month t, the scaled two-sample CUSUM "
    "statistic |cum_t*(n-t) - (tot-cum_t)*t| — algebraically "
    "t(n-t)*|mean_before - mean_after| with the division cleared, so "
    "the statistic (and therefore the argmax month, tie->earliest) "
    "is EXACT BIGINT and engine-identical; the per-side means are "
    "emitted as exact integer MICRO-cents via x119's two-step floor "
    "division (a float round() here measurably diverged in the last "
    "ulp at 10-digit magnitudes), so the whole output is integers "
    "and dates. The series-break alarm that "
    "pairs with x119's smoothing and x120's seasonality. Runs "
    "entirely over the month-level aggregate (the deliberate-global-"
    "window idiom: tens of rows after one map-side-combined cents "
    "agg, whatever the order volume).",
    _CUSUM_ORACLE,
)
def x125_cusum_changepoint(spark, sf_dir):
    m = monthly_revenue(load_table(spark, sf_dir, "orders"))
    tot = m.agg(
        F.sum("y").cast("long").alias("tot"), F.count("*").cast("long").alias("n")
    )
    wM = Window.orderBy("mon")
    w = (
        m.select(
            "mon",
            "y",
            F.row_number().over(wM).cast("long").alias("t"),
            F.sum("y")
            .over(wM.rowsBetween(Window.unboundedPreceding, 0))
            .alias("cum"),
        )
        .crossJoin(F.broadcast(tot))
        .filter(F.col("t") < F.col("n"))
    )
    stat = F.abs(
        F.col("cum") * (F.col("n") - F.col("t"))
        - (F.col("tot") - F.col("cum")) * F.col("t")
    )
    s = w.select(
        "mon",
        "t",
        "y",
        F.expr(
            "CAST((cum DIV t) * 1000000 + ((cum % t) * 1000000) DIV t AS BIGINT)"
        ).alias("mean_before_micros"),
        F.expr(
            "CAST(((tot - cum) DIV (n - t)) * 1000000"
            " + (((tot - cum) % (n - t)) * 1000000) DIV (n - t) AS BIGINT)"
        ).alias("mean_after_micros"),
        stat.cast("long").alias("shift_stat"),
    )
    peak = Window.orderBy(F.desc("shift_stat"), "t")
    return s.select(
        "mon",
        "t",
        F.col("y").alias("revenue_cents"),
        "mean_before_micros",
        "mean_after_micros",
        "shift_stat",
        F.when(F.row_number().over(peak) == 1, 1).otherwise(0).cast("long").alias(
            "is_peak"
        ),
    ).orderBy("mon")


# ---------------------------------------------------------------------------
# x126 — session profile by first event type (gap sessionization)
# ---------------------------------------------------------------------------

_SESSION_PROFILE_ORACLE = """
WITH g AS (
    SELECT user_id, event_id, event_type, ts,
           CASE WHEN date_diff('second',
                    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                    ts) IS NULL
                 OR date_diff('second',
                    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                    ts) > 1800
                THEN 1 ELSE 0 END AS brk
    FROM events
),
sid AS (
    SELECT user_id, event_id, event_type, ts,
           SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM g
),
sess AS (
    SELECT user_id, session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS dur_s
    FROM sid GROUP BY user_id, session_id
),
firsts AS (
    SELECT s.user_id, s.session_id, f.event_type AS first_type,
           s.n_events, s.dur_s
    FROM sess s
    JOIN (
        SELECT user_id, session_id, event_type
        FROM sid QUALIFY row_number() OVER (
            PARTITION BY user_id, session_id ORDER BY ts, event_id) = 1
    ) f ON f.user_id = s.user_id AND f.session_id = s.session_id
),
r AS (
    SELECT first_type, n_events, dur_s,
           row_number() OVER (PARTITION BY first_type
                              ORDER BY dur_s, user_id, session_id) AS i,
           count(*) OVER (PARTITION BY first_type) AS n
    FROM firsts
)
SELECT first_type, CAST(max(n) AS BIGINT) AS n_sessions,
       CAST(max(CASE WHEN i = (n + 1) // 2 THEN dur_s END) AS BIGINT) AS p50_dur_s,
       CAST(max(CASE WHEN i = (9 * n + 9) // 10 THEN dur_s END) AS BIGINT)
           AS p90_dur_s,
       CAST(sum(n_events) AS BIGINT) AS total_events,
       round(CAST(sum(n_events) AS DOUBLE) / CAST(max(n) AS DOUBLE), 6)
           AS mean_events
FROM r GROUP BY first_type ORDER BY first_type
"""


@q(
    "x126_session_profile",
    "OP-W3/OP-X-ext",
    "Behavioral session profile: gap-based sessionization (30-min "
    "inactivity, the certified x6 lag+cumsum idiom), per-session "
    "rollup (duration in whole seconds from instant diffs, event "
    "count), then a profile per session FIRST-event type — entry-"
    "point analysis: sessions opened by which action run how long. "
    "p50/p90 durations are exact type-1 rank picks (x124's zero-"
    "divide quantile form) under a total (dur, user, session) order; "
    "mean events is one IEEE divide of exact BIGINTs. Deliberately "
    "timezone-free: only instant DIFFS, no wall-clock field "
    "extraction a hostile non-UTC session would skew. The session "
    "windows partition on user_id; the profile windows run over the "
    "session-level aggregate.",
    _SESSION_PROFILE_ORACLE,
)
def x126_session_profile(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    wU = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(wU))
    brk = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sid = e.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.sum(brk)
        .over(wU.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_id"),
        F.row_number().over(wU).alias("rn"),
    )
    sess = sid.groupBy("user_id", "session_id").agg(
        F.count("*").cast("long").alias("n_events"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
        .cast("long")
        .alias("dur_s"),
    )
    wS = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    f = (
        sid.withColumn("srn", F.row_number().over(wS))
        .filter(F.col("srn") == 1)
        .select("user_id", "session_id", F.col("event_type").alias("first_type"))
    )
    firsts = sess.join(f, ["user_id", "session_id"])
    wT = Window.partitionBy("first_type").orderBy("dur_s", "user_id", "session_id")
    wN = Window.partitionBy("first_type")
    r = firsts.select(
        "first_type",
        "n_events",
        "dur_s",
        F.row_number().over(wT).cast("long").alias("i"),
        F.count("*").over(wN).cast("long").alias("n"),
    )

    def pick(rank_expr, name):
        return F.max(
            F.when(F.col("i") == F.expr(rank_expr), F.col("dur_s"))
        ).cast("long").alias(name)

    return (
        r.groupBy("first_type")
        .agg(
            F.max("n").cast("long").alias("n_sessions"),
            pick("(n + 1) DIV 2", "p50_dur_s"),
            pick("(9 * n + 9) DIV 10", "p90_dur_s"),
            F.sum("n_events").cast("long").alias("total_events"),
            F.round(
                F.sum("n_events").cast("double") / F.max("n").cast("double"), 6
            ).alias("mean_events"),
        )
        .orderBy("first_type")
    )
