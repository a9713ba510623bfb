"""Round-36 operators (round 12): two portable oracle twins that keep
shrinking the harness-only certification class (round-11 verdict item
7 named both candidates).

* ``x361_lz78_quality_portable`` — certified twin of
  ``x192_compression_quality``. x192's codec is zlib (DuckDB has no
  DEFLATE, so it is rows-checked only); the QUALITY METRIC it exists
  for — "how compressible is this document" as a template-spam /
  boilerplate signal — is re-expressed with an engine-portable
  Kolmogorov proxy: the distinct-4-gram (LZ78-phrase-like) novelty of
  each document, exact integers end to end. Per source: doc count,
  total and distinct shingle counts, the novelty ratio in ppm, and
  how many documents fall under the 50%-novelty floor (the
  DataComp/RedPajama-style repetitiveness cut; Rae et al. 2021 use
  the same dup-mass family). Spark plan: per-doc stats are PURE MAP
  expressions (length arithmetic + size(array_distinct(transform(
  sequence)))) — no per-doc shuffle exists at all; the only exchange
  is the per-source hash-agg. The oracle must explode shingles to
  count them, which is exactly why the Spark form is the scale path.

* ``x362_planted_near_pairs`` — certified END-TO-END twin of
  ``x3_near_pairs`` (SRP bucket self-join + exact cosine
  verification, previously rows-checked only; x102 certifies the
  single-query SRP probe, not the pair pipeline). The shipped corpus
  has ZERO organic cos >= 0.9 pairs (measured), so the entry PLANTS
  deterministic near-duplicates inside the query itself: every 10th
  vector gains a copy (vec_id + 1_000_000) with a fixed +-10-milli
  per-dim jitter from the Knuth hash family — both engines construct
  the identical planted corpus, code every vector with the x102
  8-bit SRP sign family over exact 3-dp fixed point, self-join on
  code equality, and verify cos >= 0.9 EXACTLY in integers
  (dot > 0 AND 100*dot^2 >= 81*|a|^2*|b|^2 — no sqrt, no floats).
  The hash match certifies candidate generation, bucketing, and the
  verification algebra of the near-dup pipeline itself. Plan: one
  map-only code pass over corpus+planted union, one code-keyed
  self-join (the LSH bucket join — candidate mass is per-bucket, the
  production x3_near_pairs shape with 10 planes + caps), one exact
  verify projection. 100 TB: identical to x3_near_pairs' cost model;
  the planted rows are a fixed 10% overhead.

Reference parity: the near-dup surface extends the reference's dedup
intent (no reference code exists for either; both are the mandated
LLM-pipeline extension surface). Hash-parity conventions as
plans/queries.py: exact fixed-point BIGINT arithmetic, total ORDER
BY, BIGINT casts on every output.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ravelytics_spark.plans.registry import q
from ravelytics_spark.plans.round20 import _KNUTH, _SRP_BITS, _srp_sign
from ravelytics_spark.plans.round33 import _FX_CTE, _f3
from ravelytics_spark.plans.round4 import embedding_probe
from ravelytics_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# x361 — LZ78-phrase novelty quality (portable twin of x192)
# ---------------------------------------------------------------------------

_LZ_ORACLE = """
WITH base AS (
    SELECT source, doc_id, text, length(text) AS L
    FROM documents WHERE text IS NOT NULL AND length(text) >= 4
),
ix AS (
    SELECT source, doc_id, text,
           unnest(generate_series(1, L - 3)) AS i
    FROM base
),
sh AS (
    SELECT source, doc_id, substr(text, CAST(i AS INT), 4) AS g FROM ix
),
per AS (
    SELECT source, doc_id, CAST(count(*) AS BIGINT) AS t,
           CAST(count(DISTINCT g) AS BIGINT) AS dct
    FROM sh GROUP BY 1, 2
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(t) AS BIGINT) AS shingles,
       CAST(SUM(dct) AS BIGINT) AS novel4,
       CAST(SUM(dct) * 1000000 // SUM(t) AS BIGINT) AS ratio_ppm,
       CAST(SUM(CASE WHEN 2 * dct < t THEN 1 ELSE 0 END) AS BIGINT)
           AS n_template
FROM per GROUP BY source ORDER BY source
"""


@q(
    "x361_lz78_quality_portable",
    "OP-X4/X5-ext",
    "Certified twin of x192_compression_quality: the compressibility "
    "quality signal with an engine-portable codec — per-document "
    "distinct-4-gram (LZ78-phrase) novelty instead of zlib. Per "
    "source: doc count, total/distinct shingle counts, novelty ratio "
    "in ppm, and documents under the 50%-novelty template floor "
    "(2*dct < t — 18 docs at sf0.01, measured), all exact integers. "
    "Certifies the metric plumbing x192's rows-only check cannot "
    "(aggregation, ratio arithmetic, floor count); x192 keeps the "
    "real DEFLATE byte truth under its pytest golden. Spark plan: "
    "per-doc novelty is ONE map expression — "
    "size(array_distinct(transform(sequence(..)))) — so no per-doc "
    "shuffle exists; the only exchange is the per-source agg (the "
    "oracle must explode every shingle to count it, which is exactly "
    "the cost the array-native form avoids). 100 TB: map-only until "
    "a 20-group agg; memory per row bounded by doc length, the same "
    "envelope as tokenization.",
    _LZ_ORACLE,
)
def x361_lz78_quality_portable(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") >= 4)
    )
    per = d.select(
        "source",
        (F.length("text") - 3).cast("long").alias("t"),
        F.expr(
            "CAST(size(array_distinct(transform("
            "sequence(1, length(text) - 3), i -> substring(text, i, 4)"
            "))) AS BIGINT)"
        ).alias("dct"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("t").cast("long").alias("shingles"),
            F.sum("dct").cast("long").alias("novel4"),
            F.sum(
                F.when(2 * F.col("dct") < F.col("t"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_template"),
        )
        .select(
            "source",
            "n_docs",
            "shingles",
            "novel4",
            F.expr("CAST(novel4 * 1000000 DIV shingles AS BIGINT)").alias(
                "ratio_ppm"
            ),
            "n_template",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# x362 — planted near-dup pair pipeline, exact-integer verification
# ---------------------------------------------------------------------------

_NP_OFFSET = 1_000_000
_NP_EVERY = 10
_NP_JITTER = 21  # jitter = (i*K + vec_id) % 21 - 10  ->  +-10 milli

_NP_SIGN_SQL = (
    f"((((al.i * {_SRP_BITS} + j.j) * {_KNUTH} + 40503) "
    "% 4294967296 // 65536) % 8)"
)

_NP_ORACLE = f"""
WITH {_FX_CTE},
pl AS (
    SELECT vec_id + {_NP_OFFSET} AS vec_id, i,
           f + ((i * {_KNUTH} + vec_id) % {_NP_JITTER}) - 10 AS f
    FROM fx WHERE vec_id % {_NP_EVERY} = 0
),
al AS (SELECT * FROM fx UNION ALL SELECT * FROM pl),
sj AS (
    SELECT al.vec_id, j.j,
           SUM(CASE WHEN {_NP_SIGN_SQL} = 0 THEN al.f
                    WHEN {_NP_SIGN_SQL} = 1 THEN -al.f
                    ELSE 0 END) AS s
    FROM al CROSS JOIN (SELECT unnest(range({_SRP_BITS})) AS j) j
    GROUP BY al.vec_id, j.j
),
code AS (
    SELECT vec_id,
           SUM(CASE WHEN s > 0 THEN (1::BIGINT << CAST(j AS INT))
               ELSE 0 END) AS code
    FROM sj GROUP BY vec_id
),
pr AS (
    SELECT a.vec_id AS ia, b.vec_id AS ib
    FROM code a JOIN code b ON a.code = b.code AND a.vec_id < b.vec_id
),
dt AS (
    SELECT pr.ia, pr.ib, CAST(SUM(x.f * y.f) AS BIGINT) AS dot
    FROM pr JOIN al x ON x.vec_id = pr.ia
            JOIN al y ON y.vec_id = pr.ib AND y.i = x.i
    GROUP BY 1, 2
),
n2 AS (SELECT vec_id, CAST(SUM(f * f) AS BIGINT) AS n2 FROM al GROUP BY 1)
SELECT dt.ia AS id_a, dt.ib AS id_b, dt.dot,
       CAST(CASE WHEN dt.ib - dt.ia = {_NP_OFFSET} THEN 1 ELSE 0 END
            AS BIGINT) AS planted
FROM dt JOIN n2 a ON a.vec_id = dt.ia JOIN n2 b ON b.vec_id = dt.ib
WHERE dt.dot > 0 AND 100 * dt.dot * dt.dot >= 81 * a.n2 * b.n2
ORDER BY id_a, id_b
"""


@q(
    "x362_planted_near_pairs",
    "OP-X2/OP-X3-ext",
    "Certified end-to-end twin of x3_near_pairs: the embedding "
    "near-dup PIPELINE (SRP bucket self-join + exact cosine >= 0.9 "
    "verification) over a deterministic planted corpus — every 10th "
    "vector gains a +-10-milli-jittered copy at vec_id + 1e6, built "
    "identically in both engines, because the shipped corpus has zero "
    "organic near pairs (measured: 0 at cos >= 0.9). Codes are the "
    "x102 8-bit Knuth sign family over exact 3-dp fixed point; the "
    "threshold is verified with NO floats: dot > 0 AND 100*dot^2 >= "
    "81*|a|^2*|b|^2, all BIGINT (domain-guarded). x102 certifies the "
    "single-probe SRP scan; THIS certifies candidate generation, "
    "bucket join and verification algebra of the pair pipeline "
    "x3_near_pairs runs with 10 planes + recall property tests. "
    "Spark plan: one map-only code/f3 pass over the corpus+planted "
    "union (8 aggregate(zip_with) sign folds — the x102 packed form), "
    "ONE code-keyed self-join (the LSH bucket join; candidate mass "
    "per-bucket, never N^2), exact verify as a projection. 100 TB: "
    "identical cost model to the production entry; planted rows are "
    "a fixed 10% overhead.",
    _NP_ORACLE,
)
def x362_planted_near_pairs(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    d, mx = embedding_probe(spark, sf_dir)
    empty = e.limit(0).select(
        F.lit(0).cast("long").alias("id_a"),
        F.lit(0).cast("long").alias("id_b"),
        F.lit(0).cast("long").alias("dot"),
        F.lit(0).cast("long").alias("planted"),
    )
    if d is None:
        return empty
    # BIGINT domain guard (the x102 idiom): with maxf3 = 1000*mx
    # + 10 the largest verify operand is 100*(d*maxf3^2)^2, which
    # must stay under 2^63 -> d*maxf3^2 < 3e8. Shipped corpus:
    # d=64, mx~0.53 -> 1.9e7. A corpus past the guard needs a
    # wider-decimal variant, not silent wrap.
    maxf3 = 1000.0 * float(mx or 0.0) + 10.0
    if d * maxf3 * maxf3 >= 3.0e8:
        raise ValueError(
            "x362_planted_near_pairs exact-integer verify needs "
            f"d*maxf3^2 < 3e8 (saw {d * maxf3 * maxf3:g})"
        )
    base = e.filter(F.size("embedding") == F.lit(d)).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        _f3().alias("f3"),
    )
    planted = base.filter(
        F.col("vec_id") % _NP_EVERY == 0
    ).select(
        (F.col("vec_id") + _NP_OFFSET).alias("vec_id"),
        F.expr(
            f"transform(f3, (x, i) -> x + "
            f"(i * {_KNUTH} + vec_id) % {_NP_JITTER} - 10)"
        ).alias("f3"),
    )
    al = base.unionByName(planted)

    # 8 sign folds against literal +-1/0 arrays (density-1/4
    # Achlioptas family, shared with x102): map-only, plan size
    # independent of d
    code = None
    for j in range(_SRP_BITS):
        signs = F.array(
            *[F.lit(_srp_sign(i, j)).cast("long") for i in range(d)]
        )
        sj = F.aggregate(
            F.zip_with(F.col("f3"), signs, lambda x, s: x * s),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        )
        term = F.when(sj > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        code = term if code is None else code + term
    coded = al.select("vec_id", "f3", code.alias("code"))

    a = coded.select(
        F.col("vec_id").alias("id_a"),
        F.col("f3").alias("fa"),
        "code",
    )
    b = coded.select(
        F.col("vec_id").alias("id_b"),
        F.col("f3").alias("fb"),
        F.col("code").alias("code_b"),
    )
    pairs = a.join(
        b,
        (F.col("code") == F.col("code_b"))
        & (F.col("id_a") < F.col("id_b")),
    )

    def fold(expr_col):
        return F.aggregate(
            expr_col, F.lit(0).cast("long"), lambda acc, t: acc + t
        )

    dot = fold(F.zip_with(F.col("fa"), F.col("fb"), lambda x, y: x * y))
    n2a = fold(F.zip_with(F.col("fa"), F.col("fa"), lambda x, y: x * y))
    n2b = fold(F.zip_with(F.col("fb"), F.col("fb"), lambda x, y: x * y))
    return (
        pairs.select(
            "id_a",
            "id_b",
            dot.alias("dot"),
            n2a.alias("n2a"),
            n2b.alias("n2b"),
        )
        .filter(
            (F.col("dot") > 0)
            & (
                100 * F.col("dot") * F.col("dot")
                >= 81 * F.col("n2a") * F.col("n2b")
            )
        )
        .select(
            "id_a",
            "id_b",
            "dot",
            F.when(F.col("id_b") - F.col("id_a") == _NP_OFFSET, 1)
            .otherwise(0)
            .cast("long")
            .alias("planted"),
        )
        .orderBy("id_a", "id_b")
    )
