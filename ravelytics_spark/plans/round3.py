"""Round-3 catalog entries.

Two fronts:

* **TPC-H completion** — every remaining TPC-H query shape expressible
  with the testdata's columns (no ``partsupp`` table, no
  ``l_commitdate``/``l_receiptdate``/``c_phone``), adapted per-predicate
  and noted where adapted: Q6, Q7, Q8, Q9-variant, Q17-variant,
  Q19-variant, Q22-variant. Together with Q1/Q3/Q4/Q5/Q10/Q13/Q14/
  Q15/Q18 this covers all join/agg/subquery shapes the suite exercises
  minus the partsupp-only ones (Q2/Q11/Q16/Q20) and the
  commitdate-only ones (Q12/Q21) — those six land in round7.py via
  deterministically DERIVED partsupp/date columns, completing all 22
  TPC-H query shapes.

* **LLM-pipeline scoring** — unigram-LM log-probability per document
  (the classic perplexity-proxy quality filter) and per-label embedding
  centroids + nearest-centroid assignment (the evaluation step of
  k-means / the contamination check for labeled embedding sets).

Hash-parity conventions follow plans/queries.py: decimal-cast sums
(`_dsum`), IEEE-only double division, explicit rounding where an
engine-side ``ln`` ulp could surface, BIGINT casts on counts.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ravelytics_spark.plans.registry import _dsum, _dsum_sql, q
from ravelytics_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# TPC-H Q6 — forecast revenue change (pure scan-filter-agg)
# ---------------------------------------------------------------------------


@q(
    "tpch_q6_forecast_revenue",
    "OP-G5/OP-P3-ext",
    "TPC-H Q6 (forecast revenue): single-table filter + ungrouped agg — "
    "the canonical predicate-pushdown + map-side-partial-agg probe. At "
    "100 TB this is a map-only scan with one row per partition into the "
    "final agg; every filter reaches the parquet reader.",
    "SELECT "
    + _dsum_sql("l_extendedprice * l_discount")
    + " AS revenue FROM lineitem "
    "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
    "AND l_shipdate < TIMESTAMP '1997-01-01' "
    "AND l_discount >= 0.05 AND l_discount <= 0.07 "
    "AND l_quantity < 24",
)
def tpch_q6_forecast_revenue(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(_dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q7 — volume shipping between two nations
# ---------------------------------------------------------------------------

_Q7_ORACLE = (
    "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
    "CAST(year(l_shipdate) AS BIGINT) AS l_year, "
    + _dsum_sql("l_extendedprice * (1 - l_discount)")
    + " AS revenue "
    "FROM supplier "
    "JOIN lineitem ON s_suppkey = l_suppkey "
    "JOIN orders ON o_orderkey = l_orderkey "
    "JOIN customer ON c_custkey = o_custkey "
    "JOIN nation n1 ON s_nationkey = n1.n_nationkey "
    "JOIN nation n2 ON c_nationkey = n2.n_nationkey "
    "WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') "
    "    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) "
    "AND l_shipdate >= TIMESTAMP '1996-01-01' "
    "AND l_shipdate < TIMESTAMP '1998-01-01' "
    "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"
)


@q(
    "tpch_q7_volume_shipping",
    "OP-J2/OP-G3-ext",
    "TPC-H Q7 (volume shipping; nations adapted to the testdata's "
    "NATION_* domain): double-ended nation join — the same dim table "
    "broadcast twice under different aliases, OR'd pair predicate, "
    "group by (supp_nation, cust_nation, year). The nation pair filter "
    "runs AFTER the broadcast joins but prunes before the agg shuffle.",
    _Q7_ORACLE,
)
def tpch_q7_volume_shipping(spark, sf_dir):
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        s.join(li, s.s_suppkey == li.l_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# ---------------------------------------------------------------------------
# TPC-H Q8 — national market share
# ---------------------------------------------------------------------------

_Q8_ORACLE = (
    "WITH vol AS ("
    "  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, "
    "         l_extendedprice * (1 - l_discount) AS volume, "
    "         n2.n_name AS supp_nation "
    "  FROM part "
    "  JOIN lineitem ON p_partkey = l_partkey "
    "  JOIN supplier ON s_suppkey = l_suppkey "
    "  JOIN orders ON l_orderkey = o_orderkey "
    "  JOIN customer ON o_custkey = c_custkey "
    "  JOIN nation n1 ON c_nationkey = n1.n_nationkey "
    "  JOIN region ON n1.n_regionkey = r_regionkey "
    "  JOIN nation n2 ON s_nationkey = n2.n_nationkey "
    "  WHERE r_name = 'AMERICA' AND p_type = 'PROMO' "
    ") "
    "SELECT o_year, "
    + _dsum_sql("CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END")
    + " / " + _dsum_sql("volume") + " AS mkt_share "
    "FROM vol GROUP BY o_year ORDER BY o_year"
)


@q(
    "tpch_q8_market_share",
    "OP-J2/OP-G3/OP-C3-ext",
    "TPC-H Q8 (market share; nation/type adapted to testdata domain): "
    "8-table join with region+nation dims broadcast, conditional "
    "numerator over the same grouped agg (one shuffle for both sums), "
    "IEEE double division of two decimal-exact sums.",
    _Q8_ORACLE,
)
def tpch_q8_market_share(spark, sf_dir):
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        p.join(li, p.p_partkey == li.l_partkey)
        .join(s, s.s_suppkey == li.l_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (
                _dsum(
                    F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0))
                )
                / _dsum(vol)
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# ---------------------------------------------------------------------------
# TPC-H Q9 — product-type profit (variant: no partsupp → no supplycost term)
# ---------------------------------------------------------------------------

_Q9_ORACLE = (
    "SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year, "
    + _dsum_sql("l_extendedprice * (1 - l_discount)")
    + " AS sum_profit "
    "FROM part "
    "JOIN lineitem ON p_partkey = l_partkey "
    "JOIN supplier ON s_suppkey = l_suppkey "
    "JOIN orders ON o_orderkey = l_orderkey "
    "JOIN nation ON s_nationkey = n_nationkey "
    "WHERE p_name LIKE '%widget%' "
    "GROUP BY 1, 2 ORDER BY nation, o_year DESC"
)


@q(
    "tpch_q9_product_profit",
    "OP-J2/OP-G3/OP-F3-ext",
    "TPC-H Q9 variant (testdata has no partsupp, so profit omits the "
    "supplycost term — revenue-profit by nation and year for parts "
    "matching a name infix): LIKE-filtered part dim joined into the "
    "fact, nation broadcast, two-key agg, mixed-direction sort.",
    _Q9_ORACLE,
)
def tpch_q9_product_profit(spark, sf_dir):
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    return (
        p.join(li, p.p_partkey == li.l_partkey)
        .join(s, s.s_suppkey == li.l_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "sum_profit"
            )
        )
        .orderBy("nation", F.desc("o_year"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q17 — small-quantity-order revenue (brand filter adapted)
# ---------------------------------------------------------------------------

_Q17_ORACLE = (
    "WITH pq AS ("
    "  SELECT l_partkey, "
    "         CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) "
    "           / CAST(count(*) AS DOUBLE) AS avg_qty "
    "  FROM lineitem GROUP BY l_partkey"
    ") "
    "SELECT " + _dsum_sql("l_extendedprice") + " / 7.0 AS avg_yearly "
    "FROM lineitem "
    "JOIN part ON p_partkey = l_partkey "
    "JOIN pq ON pq.l_partkey = lineitem.l_partkey "
    "WHERE p_brand = 'Brand#3' AND l_quantity < 0.5 * avg_qty"
)


@q(
    "tpch_q17_small_qty_revenue",
    "OP-G6/OP-J2-ext",
    "TPC-H Q17 (small-quantity orders; container predicate adapted to "
    "brand-only — testdata has no p_container): correlated scalar "
    "subquery decorrelated into a per-part average joined back to the "
    "fact. The per-part avg uses decimal-exact sum/count so both "
    "engines derive the identical threshold. Two shuffles: per-part "
    "agg + the fact join (co-partitioned on l_partkey under AQE).",
    _Q17_ORACLE,
)
def tpch_q17_small_qty_revenue(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    pq = li.groupBy(F.col("l_partkey").alias("pq_partkey")).agg(
        (
            F.sum(F.col("l_quantity").cast("decimal(28,4)")).cast("double")
            / F.count("*").cast("double")
        ).alias("avg_qty")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(pq, li.l_partkey == F.col("pq_partkey"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg((_dsum("l_extendedprice") / 7.0).alias("avg_yearly"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q19 — discounted revenue (OR-of-ANDs; container/shipmode adapted)
# ---------------------------------------------------------------------------

_Q19_ORACLE = (
    "SELECT "
    + _dsum_sql("l_extendedprice * (1 - l_discount)")
    + " AS revenue "
    "FROM lineitem JOIN part ON p_partkey = l_partkey "
    "WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5 "
    "       AND l_quantity >= 1 AND l_quantity <= 11) "
    "   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 "
    "       AND l_quantity >= 10 AND l_quantity <= 20) "
    "   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 "
    "       AND l_quantity >= 20 AND l_quantity <= 30)"
)


@q(
    "tpch_q19_disc_revenue",
    "OP-J2/OP-C3-ext",
    "TPC-H Q19 (discounted revenue; container/shipmode terms adapted to "
    "brand+size — absent columns): disjunctive join predicate. Catalyst "
    "extracts the common p_brand IN (...) / p_size <= 15 / l_quantity "
    "bounds as pushable conjuncts below the join; the full OR runs as "
    "the post-join filter. Part side broadcast.",
    _Q19_ORACLE,
)
def tpch_q19_disc_revenue(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & (F.col("l_quantity") >= 1)
            & (F.col("l_quantity") <= 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & (F.col("l_quantity") >= 10)
            & (F.col("l_quantity") <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & (F.col("l_quantity") >= 20)
            & (F.col("l_quantity") <= 30)
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q22 — global sales opportunity (variant: cntrycode from custkey)
# ---------------------------------------------------------------------------

_Q22_ORACLE = (
    "WITH avg_bal AS ("
    "  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(28,4))) AS DOUBLE) "
    "           / CAST(count(*) AS DOUBLE) AS v "
    "  FROM customer WHERE c_acctbal > 0.0"
    ") "
    "SELECT CAST(c_custkey % 10 AS BIGINT) AS cntrycode, "
    "CAST(count(*) AS BIGINT) AS numcust, "
    + _dsum_sql("c_acctbal")
    + " AS totacctbal "
    "FROM customer, avg_bal "
    "WHERE c_acctbal > avg_bal.v "
    "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) "
    "GROUP BY 1 ORDER BY 1"
)


@q(
    "tpch_q22_sales_opportunity",
    "OP-J4/OP-G3-ext",
    "TPC-H Q22 (global sales opportunity; cntrycode adapted to "
    "custkey%10 — testdata has no c_phone): scalar subquery (decimal-"
    "exact avg of positive balances) broadcast against the customer "
    "table, NOT EXISTS decorrelated to a LEFT ANTI join on orders, "
    "grouped count+sum. The anti-join build side is only the DISTINCT "
    "o_custkey projection.",
    _Q22_ORACLE,
)
def tpch_q22_sales_opportunity(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey").distinct()
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(28,4)")).cast("double")
                / F.count("*").cast("double")
            ).alias("__avg_bal")
        )
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy((F.col("c_custkey") % 10).cast("long").alias("cntrycode"))
        .agg(
            F.count("*").cast("long").alias("numcust"),
            _dsum("c_acctbal").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


# ---------------------------------------------------------------------------
# x20 — unigram-LM log-probability (perplexity-proxy quality filter)
# ---------------------------------------------------------------------------

_UNIGRAM_ORACLE = """
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w
    FROM documents
),
tok2 AS (SELECT doc_id, w FROM tok WHERE w <> ''),
lm AS (
    SELECT w, CAST(count(*) AS DOUBLE) AS cnt,
           CAST(SUM(count(*)) OVER () AS DOUBLE) AS total
    FROM tok2 GROUP BY w
),
logp AS (SELECT w, ln(cnt / total) AS lp FROM lm)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(SUM(lp) / count(*), 6) AS mean_logprob
FROM tok2 JOIN logp USING (w)
GROUP BY doc_id ORDER BY doc_id
"""


@q(
    "x20_unigram_logprob",
    "OP-X4",
    "Unigram-LM mean log-probability per document — the classic "
    "perplexity-proxy quality filter for pre-training corpora "
    "(high-surprisal docs are gibberish candidates, low-surprisal are "
    "boilerplate candidates). Two-pass: corpus unigram counts (one "
    "hash-agg over exploded tokens; vocab is tiny relative to corpus, "
    "so the LM table broadcasts), then a broadcast join back to the "
    "token stream and a per-doc mean. ln() is computed per DISTINCT "
    "token — once per vocab entry, not per occurrence — and the final "
    "mean is rounded to 6 dp (doc-level double summation order differs "
    "across engines at ~1e-14; ulp-level ln differences are below the "
    "rounding budget).",
    _UNIGRAM_ORACLE,
)
def x20_unigram_logprob(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    counts = tok.groupBy("w").agg(F.count("*").cast("double").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    lm = counts.join(F.broadcast(total)).select(
        "w", F.log(F.col("cnt") / F.col("total")).alias("lp")
    )
    return (
        tok.join(F.broadcast(lm), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(F.sum("lp") / F.count("*"), 6).alias("mean_logprob"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# x21 — per-label embedding centroids (order-independent decimal mean)
# ---------------------------------------------------------------------------

_CENTROID_CTE = """
ex AS (
    SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
           CAST(unnest(embedding) AS DOUBLE) AS x
    FROM embeddings
),
cent AS (
    SELECT label, dim,
           CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS c
    FROM ex GROUP BY label, dim
)
"""

_CENTROID_ORACLE = (
    "WITH " + _CENTROID_CTE + ""
    "SELECT label, CAST(dim AS BIGINT) AS dim, round(c, 6) AS centroid "
    "FROM cent ORDER BY label, dim"
)


def _centroids(spark, sf_dir):
    """(label, dim, c): decimal-exact per-dimension mean — summation
    order never matters, so the result is identical on any partitioning
    (and bit-equal to the DuckDB oracle before the display rounding)."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>"))
    ).withColumnRenamed("pos", "dim").withColumnRenamed("col", "x")
    return ex.groupBy("label", "dim").agg(
        (
            F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
            / F.count("*").cast("double")
        ).alias("c")
    )


@q(
    "x21_label_centroids",
    "OP-X3",
    "Per-label embedding centroids: posexplode → (label, dim) hash-agg "
    "with decimal-exact accumulation (addition order irrelevant → "
    "hash-stable on any partitioning). The k-means M-step / per-class "
    "mean-vector primitive. One shuffle of (label, dim, partial-sum) "
    "pairs — map-side combined, so shuffle volume is labels × dims × "
    "partitions regardless of corpus size.",
    _CENTROID_ORACLE,
)
def x21_label_centroids(spark, sf_dir):
    return (
        _centroids(spark, sf_dir)
        .select(
            "label",
            F.col("dim").cast("long").alias("dim"),
            F.round("c", 6).alias("centroid"),
        )
        .orderBy("label", "dim")
    )


# ---------------------------------------------------------------------------
# x22 — nearest-centroid assignment (confusion of label vs assigned)
# ---------------------------------------------------------------------------

_ASSIGN_ORACLE = (
    "WITH " + _CENTROID_CTE + ", "
    """
vx AS (
    SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS dim,
           CAST(unnest(embedding) AS DOUBLE) AS x
    FROM embeddings
),
dist AS (
    SELECT vx.vec_id, vx.label, cent.label AS cand,
           CAST(SUM(CAST((vx.x - cent.c) * (vx.x - cent.c)
                         AS DECIMAL(38,18))) AS DOUBLE) AS d2
    FROM vx JOIN cent ON vx.dim = cent.dim
    GROUP BY 1, 2, 3
),
best AS (
    SELECT vec_id, label, cand AS assigned
    FROM dist
    QUALIFY row_number() OVER (
        PARTITION BY vec_id ORDER BY d2, cand) = 1
)
SELECT label, assigned, CAST(count(*) AS BIGINT) AS n
FROM best GROUP BY 1, 2 ORDER BY 1, 2
"""
)


@q(
    "x22_centroid_assign",
    "OP-X3",
    "Nearest-centroid assignment + label confusion: every vector scored "
    "against every label centroid as a MAP-ONLY argmin (the ivf_assign "
    "idiom — the bounded centroid set is collected and unrolled into a "
    "least() over (d2, cand) structs, so there is NO row blow-up, NO "
    "broadcast join and NO per-(vec,cand) aggregate; the old "
    "posexplode-join-agg form shuffled vectors x k x dims rows and was "
    "the bench's flagged 10x-ratio query). d2 stays DECIMAL-exact "
    "inside a zip_with/aggregate fold, so the argmin and its (d2, "
    "cand) tie-break are bit-identical to the oracle on any "
    "partitioning. The k-means E-step / embedding-space label-purity "
    "check. Shuffles: the centroid agg (labels x dims, map-side "
    "combined) + the k x k confusion agg — nothing else.",
    _ASSIGN_ORACLE,
)
def x22_centroid_assign(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    # bounded driver state: labels × dims rows (10 × 64 here); same
    # eager-collect contract as operators/similarity.ivf_assign
    cent_rows = _centroids(spark, sf_dir).limit(10_001).collect()
    if len(cent_rows) > 10_000:
        raise ValueError(
            "x22 unrolls centroids into the plan; got >10k (label, dim) rows"
        )
    if not cent_rows:
        # empty corpus: schema-correct empty confusion matrix (the old
        # join form returned empty; F.least() with no args would raise)
        return e.select(
            "label",
            F.col("label").alias("assigned"),
            F.lit(0).cast("long").alias("n"),
        ).filter(F.lit(False))
    by_label: dict = {}
    for r in cent_rows:
        by_label.setdefault(r["label"], {})[int(r["dim"])] = float(r["c"])
    n_dims = max(len(d) for d in by_label.values())
    vec = F.col("embedding").cast("array<double>")
    # Drop malformed vectors (null / wrong width) BEFORE the argmin:
    # zip_with on a short array pads with null → d2 = NULL, and a
    # struct whose first field is NULL sorts before every real
    # distance in F.least — the row would be silently assigned to the
    # lowest-sorting label. The oracle's unnest-join drops such rows
    # entirely; match that.
    e = e.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == n_dims)
    )
    # r12 (guide §2.5 input skew): the unrolled argmin is CPU-dense and
    # the test corpus is one parquet split — without a fan-out the whole
    # scoring pass serializes on one core (stage trace: 1 task, ~1.0 s
    # CPU). No-op on any well-partitioned corpus; interleaved A/B at
    # sf0.1: 1.04 -> 0.65 s, confusion matrix identical.
    from ravelytics_spark.operators.skew import fan_out_scan

    e = fan_out_scan(e)
    # decimal(32,18): scale matches the oracle's DECIMAL(38,18) cast
    # (same 18-place rounding of each double term), while the 14
    # integral digits of headroom keep (acc + v).cast back to (32,18)
    # precision-narrowing only — the fold never drops a scale digit the
    # way a (38,18)+(38,18)→(38,17) add would
    zero = F.lit(0).cast("decimal(32,18)")
    structs = []
    for cand in sorted(by_label):
        dims = by_label[cand]
        carr = F.array(*[F.lit(dims[d]) for d in range(len(dims))])
        terms = F.zip_with(
            vec, carr, lambda x, y: ((x - y) * (x - y)).cast("decimal(32,18)")
        )
        d2 = F.aggregate(
            terms, zero, lambda acc, v: (acc + v).cast("decimal(32,18)")
        )
        # compare as DOUBLE like the oracle (decimal-distinct values can
        # collapse to equal doubles, where the cand tie-break must win)
        structs.append(
            F.struct(d2.cast("double").alias("d2"), F.lit(cand).alias("cand"))
        )
    best = structs[0] if len(structs) == 1 else F.least(*structs)
    return (
        e.select("label", best["cand"].alias("assigned"))
        .groupBy("label", "assigned")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("label", "assigned")
    )


# ---------------------------------------------------------------------------
# x23 — source balancing (training-mix rebalancing, derived keep-rates)
# ---------------------------------------------------------------------------

_BALANCE_ORACLE = """
WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY source),
m AS (SELECT min(n) AS mn FROM c),
r AS (SELECT source, n, (mn * 1000) // n AS rate FROM c, m)
SELECT r.source, r.n AS n_total,
       CAST(count(*) FILTER (WHERE d.doc_id % 1000 < r.rate) AS BIGINT) AS n_kept
FROM documents d JOIN r ON d.source = r.source
GROUP BY r.source, r.n ORDER BY r.source
"""


@q(
    "x23_source_balance",
    "OP-X9-ext",
    "Training-mix source balancing: derive a per-source keep-rate "
    "(permille) from the smallest source's count, then keep docs by a "
    "row-deterministic modulus — every source contributes ≈min-source "
    "docs. Unlike sampleBy (partition-seeded rand), membership depends "
    "only on doc_id, so the mix is reproducible across runs, "
    "partitionings and cluster sizes. Rates are exact integer floor-div "
    "(no float thresholds to disagree across engines). Shuffles: the "
    "tiny per-source count agg (broadcast back) + the final rollup.",
    _BALANCE_ORACLE,
)
def x23_source_balance(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count("*").cast("long").alias("n_total"))
    mn = counts.agg(F.min("n_total").alias("__mn"))
    rates = counts.join(F.broadcast(mn)).select(
        "source",
        "n_total",
        F.floor(F.col("__mn") * 1000 / F.col("n_total")).alias("__rate"),
    )
    return (
        d.join(F.broadcast(rates), "source")
        .groupBy("source", "n_total")
        .agg(
            F.count(F.when(F.col("doc_id") % 1000 < F.col("__rate"), 1))
            .cast("long")
            .alias("n_kept")
        )
        .select("source", "n_total", "n_kept")
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# x24 — C4-style within-doc duplicate-line removal
# ---------------------------------------------------------------------------

_LINE_DEDUP_ORACLE = """
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
s AS (
    SELECT doc_id, w, CAST(ceil(len(w) / 6.0) AS BIGINT) AS nl FROM t
),
lines AS (
    SELECT doc_id,
           u.i,
           CASE WHEN u.i < nl
                THEN array_to_string(w[u.i * 6 + 1 : u.i * 6 + 6], ' ')
                ELSE array_to_string(w[1:6], ' ') END AS line
    FROM s, UNNEST(range(0, nl + 1)) AS u(i)
),
firsts AS (
    SELECT doc_id, line, min(i) AS keep_i, CAST(count(*) AS BIGINT) AS cnt
    FROM lines GROUP BY doc_id, line
)
SELECT doc_id,
       string_agg(line, chr(10) ORDER BY keep_i) AS text_deduped,
       CAST(SUM(cnt) - count(*) AS BIGINT) AS n_removed
FROM firsts GROUP BY doc_id ORDER BY doc_id
"""


@q(
    "x24_line_dedup",
    "OP-X1-ext",
    "C4-style within-document duplicate-line removal: split each doc "
    "into 6-token lines (+ a deterministically planted repeat of line 0 "
    "so the oracle certifies actual removal — word-salad testdata has "
    "few natural dup lines), keep the FIRST occurrence of each line, "
    "reassemble in original order, count removals. All line formation "
    "is codegen (explode over a sequence + slice/array_join — no "
    "interpreted lambdas); per-doc reassembly is array_sort + a native "
    "struct-field extract. Doc-local work → one (doc,line) hash-agg + "
    "one per-doc agg; embarrassingly parallel at corpus scale.",
    _LINE_DEDUP_ORACLE,
)
def x24_line_dedup(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", F.split("text", " ").alias("__toks")
    ).withColumn("__nl", F.ceil(F.size("__toks") / F.lit(6.0)).cast("long"))
    lines = base.select(
        "doc_id",
        "__toks",
        "__nl",
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("__nl"))).alias("__i"),
    ).select(
        "doc_id",
        "__i",
        F.when(
            F.col("__i") < F.col("__nl"),
            F.array_join(
                F.slice("__toks", (F.col("__i") * 6 + 1).cast("int"), 6), " "
            ),
        )
        .otherwise(F.array_join(F.slice("__toks", 1, 6), " "))
        .alias("line"),
    )
    firsts = lines.groupBy("doc_id", "line").agg(
        F.min("__i").alias("keep_i"), F.count("*").cast("long").alias("cnt")
    )
    arr = F.array_sort(
        F.collect_list(F.struct(F.col("keep_i").alias("i"), F.col("line")))
    )
    return (
        firsts.groupBy("doc_id")
        .agg(
            F.array_join(arr.getField("line"), "\n").alias("text_deduped"),
            (F.sum("cnt") - F.count("*")).cast("long").alias("n_removed"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# x25 — per-source token-budget selection
# ---------------------------------------------------------------------------

_BUDGET = 1500

_BUDGET_ORACLE = f"""
WITH t AS (
    SELECT doc_id, source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents
),
c AS (
    SELECT doc_id, source, n_tokens,
           SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY n_tokens DESC, doc_id
               ROWS UNBOUNDED PRECEDING) AS cum_tokens
    FROM t
)
SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM c WHERE cum_tokens <= {_BUDGET} ORDER BY source, cum_tokens, doc_id
"""


@q(
    "x25_token_budget_select",
    "OP-W-ext",
    "Per-source token-budget selection: within each source, admit docs "
    "in priority order (here longest-first; the order key is pluggable "
    "— quality, LM log-prob, …) until the source's token budget is "
    "spent. A partitioned running-sum window (source partitions → no "
    "global sort); the deterministic (key, doc_id) order makes the "
    "selected set reproducible. The corpus-assembly primitive for "
    "fixed-token training mixes. Skewed/huge sources: same two-phase "
    "bucketed running-sum as x18_sequence_packing applies.",
    _BUDGET_ORACLE,
)
def x25_token_budget_select(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("n_tokens"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t.withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("long"))
        .filter(F.col("cum_tokens") <= _BUDGET)
        .orderBy("source", "cum_tokens", "doc_id")
    )


# ---------------------------------------------------------------------------
# x26 — fixed-k deterministic per-stratum sample (oracle-able hash order)
# ---------------------------------------------------------------------------

_K_PER_SOURCE = 20
# Knuth multiplicative hash — exact BIGINT arithmetic, so DuckDB computes
# the identical pseudo-random order (unlike xxhash64, which has no DuckDB
# twin and forces x9_stratified_sample to be harness-checked).
_KNUTH = 2654435761

_FIXED_K_ORACLE = f"""
WITH h AS (
    SELECT doc_id, source,
           (doc_id * {_KNUTH}) % 4294967296 AS hkey
    FROM documents
)
SELECT doc_id, source, CAST(hkey AS BIGINT) AS hkey
FROM h
QUALIFY row_number() OVER (PARTITION BY source ORDER BY hkey, doc_id) <= {_K_PER_SOURCE}
ORDER BY source, hkey, doc_id
"""


@q(
    "x26_fixed_k_sample",
    "OP-X9-ext",
    "Fixed-size (k per stratum) deterministic sample: order each stratum "
    "by a Knuth multiplicative hash of the row id and keep the first k. "
    "Exact BIGINT arithmetic → the same sample on any engine, any "
    "partitioning, any cluster size (df.sample/sampleBy are partition-"
    "seeded: resampling changes with layout). Partitioned window, k "
    "rows kept per stratum — at scale, per-partition top-k heaps via "
    "the (source, hkey) sort, no global ordering.",
    _FIXED_K_ORACLE,
)
def x26_fixed_k_sample(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    h = d.select(
        "doc_id",
        "source",
        ((F.col("doc_id") * _KNUTH) % 4294967296).cast("long").alias("hkey"),
    )
    w = Window.partitionBy("source").orderBy("hkey", "doc_id")
    return (
        h.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= _K_PER_SOURCE)
        .drop("__rn")
        .orderBy("source", "hkey", "doc_id")
    )
