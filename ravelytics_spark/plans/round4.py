"""Round-4 catalog entries — training-data pipeline completion.

Fills the remaining gaps a 100 TB LLM-corpus pipeline needs on top of
the existing dedup/similarity/curation surface:

* **x27_gopher_rules** — Gopher-style per-document quality-rule flags
  (word count bounds, mean-word-length bounds) computed corpus-scale
  via explode + codegen aggregation (never interpreted HOFs).
* **x28_domain_cap** — per-source document cap (the RefinedWeb
  "max docs per domain" rule) as a source-partitioned window rank.
* **x29_ppl_bucket_sample** — CCNet-style perplexity bucketing:
  unigram-LM mean log-prob → fixed-width buckets → deterministic
  per-bucket keep-rates derived from the modal bucket.
* **x30_rp_projection** — random-projection dimensionality reduction
  with an IMPLICIT deterministic sign matrix (Knuth multiplicative
  hash bit): no matrix to ship, decimal-exact accumulation.
* **x31_window_dedup** — cross-document w-token-window sharing (the
  exact-substring-dup signal of Lee et al. 2022 "Deduplicating
  Training Data"): per-doc shared-window counts via lead()-composed
  windows, grouped on a 128-bit digest.
* **x32_salted_join** — oracle-certifies operators/skew.py
  (salted_left_join + salted_agg) against the plain-join SQL: the
  skew machinery must be result-identical to the unsalted plan.
* **x34_l2_normalize** — embedding unit-normalization (the ANN /
  cosine pre-step), decimal-exact norm.
* **g8_conditional_aggs** — aggregate-surface completion: count_if,
  bool_or/bool_and, deterministic argmax via max(struct).

Hash-parity conventions follow plans/queries.py: decimal-cast sums,
IEEE-only double division/sqrt, explicit rounding where ln/division
ulps could surface, BIGINT casts on counts, total ORDER BY.

Reference parity: these extend the reference's curation surface
(bobbobylev/ravelytics has no LLM-pipeline ops; BASELINE.json declares
them as first-class extension components).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ravelytics_spark.plans.registry import _dsum, _dsum_sql, q
from ravelytics_spark.sources.tables import load_table, memo

# ---------------------------------------------------------------------------
# x27 — Gopher-style quality rules
# ---------------------------------------------------------------------------

_GOPHER_ORACLE = """
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
t AS (SELECT doc_id, w FROM tok WHERE w <> ''),
agg AS (
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           round(CAST(sum(length(w)) AS DOUBLE) / count(*), 4) AS mean_wlen
    FROM t GROUP BY doc_id
)
SELECT doc_id, n_words, mean_wlen,
       CAST(CASE WHEN n_words BETWEEN 10 AND 1000 THEN 1 ELSE 0 END AS INT)
           AS pass_nwords,
       CAST(CASE WHEN mean_wlen >= 3.0 AND mean_wlen <= 10.0 THEN 1 ELSE 0 END
           AS INT) AS pass_wlen,
       CAST(CASE WHEN n_words BETWEEN 10 AND 1000
                  AND mean_wlen >= 3.0 AND mean_wlen <= 10.0
            THEN 1 ELSE 0 END AS INT) AS pass_all
FROM agg ORDER BY doc_id
"""


@q(
    "x27_gopher_rules",
    "OP-X4-ext",
    "Gopher-style quality-rule flags per document (word-count bounds, "
    "mean-word-length bounds, composed pass flag). Tokenizes ONCE via "
    "explode and aggregates in whole-stage codegen — at 100 TB the "
    "per-token work never leaves the JVM and the only shuffle is the "
    "map-side-combined (doc_id) agg. Flags are computed from the "
    "ROUNDED mean on both engines so no rule straddles an ulp.",
    _GOPHER_ORACLE,
)
def x27_gopher_rules(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.explode(F.split("text", " ")).alias("w")).filter(
        F.col("w") != ""
    )
    agg = t.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_words"),
        F.round(
            F.sum(F.length("w")).cast("double") / F.count("*"), 4
        ).alias("mean_wlen"),
    )
    pass_nwords = (F.col("n_words") >= 10) & (F.col("n_words") <= 1000)
    pass_wlen = (F.col("mean_wlen") >= 3.0) & (F.col("mean_wlen") <= 10.0)
    return agg.select(
        "doc_id",
        "n_words",
        "mean_wlen",
        pass_nwords.cast("int").alias("pass_nwords"),
        pass_wlen.cast("int").alias("pass_wlen"),
        (pass_nwords & pass_wlen).cast("int").alias("pass_all"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# x28 — per-source document cap
# ---------------------------------------------------------------------------

_CAP_ORACLE = """
SELECT doc_id, source, CAST(rn AS BIGINT) AS rn FROM (
    SELECT doc_id, source,
           row_number() OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
    FROM documents
) WHERE rn <= 50 ORDER BY doc_id
"""


@q(
    "x28_domain_cap",
    "OP-X9-ext",
    "Per-source document cap (RefinedWeb's max-docs-per-domain rule): "
    "keep the top-50 docs per source by (n_chars DESC, doc_id). The "
    "window partitions on source — one shuffle, each partition ranks "
    "independently, no global sort. At 100 TB a mega-source is the "
    "skew risk; AQE skew-split handles the shuffle and the rank "
    "short-circuits at the cap.",
    _CAP_ORACLE,
)
def x28_domain_cap(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        d.select("doc_id", "source", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 50)
        .select("doc_id", "source", F.col("rn").cast("long").alias("rn"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# x29 — perplexity-bucket sampling (CCNet-style)
# ---------------------------------------------------------------------------

_PPL_ORACLE = """
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
t AS (SELECT doc_id, w FROM tok WHERE w <> ''),
counts AS (SELECT w, CAST(count(*) AS DOUBLE) AS cnt FROM t GROUP BY w),
total AS (SELECT sum(cnt) AS tt FROM counts),
lm AS (SELECT w, ln(cnt / tt) AS lp FROM counts, total),
docs AS (
    SELECT doc_id, round(sum(lp) / count(*), 6) AS m
    FROM t JOIN lm USING (w) GROUP BY doc_id
),
b AS (SELECT doc_id, CAST(floor(m * 4) AS BIGINT) AS bucket FROM docs),
bc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY bucket),
md AS (SELECT bucket AS mb FROM bc ORDER BY n DESC, bucket LIMIT 1),
r AS (
    SELECT bucket, n,
           CAST(1000 // (1 + (bucket - mb) * (bucket - mb)) AS BIGINT) AS rate
    FROM bc, md
)
SELECT r.bucket AS bucket, r.n AS n_total, r.rate AS rate,
       CAST(count(*) FILTER (WHERE b.doc_id % 1000 < r.rate) AS BIGINT)
           AS n_kept
FROM b JOIN r ON b.bucket = r.bucket
GROUP BY r.bucket, r.n, r.rate ORDER BY r.bucket
"""


@q(
    "x29_ppl_bucket_sample",
    "OP-X4/X9-ext",
    "CCNet-style perplexity bucketing: unigram-LM mean log-prob per doc "
    "(x20's decimal/rounding discipline), fixed-width buckets computed "
    "from the ROUNDED mean (floor(m*4) — no min/max pre-pass, no "
    "global sort), keep-rate per bucket derived from the modal bucket "
    "(rate = 1000/(1+dist²) permille) and membership decided by "
    "doc_id modulus — reproducible across runs, partitionings and "
    "cluster sizes. Shuffles: vocab agg + per-doc agg + bucket agg; "
    "the modal bucket is a TakeOrderedAndProject broadcast back.",
    _PPL_ORACLE,
)
def x29_ppl_bucket_sample(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.explode(F.split("text", " ")).alias("w")).filter(
        F.col("w") != ""
    )
    counts = t.groupBy("w").agg(F.count("*").cast("double").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("tt"))
    lm = counts.join(F.broadcast(total)).select(
        "w", F.log(F.col("cnt") / F.col("tt")).alias("lp")
    )
    docs = (
        t.join(F.broadcast(lm), "w")
        .groupBy("doc_id")
        .agg(F.round(F.sum("lp") / F.count("*"), 6).alias("m"))
    )
    b = docs.select(
        "doc_id", F.floor(F.col("m") * 4).cast("long").alias("bucket")
    )
    bc = b.groupBy("bucket").agg(F.count("*").cast("long").alias("n"))
    # Modal bucket as an ungrouped argmax over the (tiny) bucket-count
    # aggregate: one partial row per partition, then broadcast —
    # max(struct(n, -bucket)) ties to the SMALLEST bucket, matching the
    # oracle's ORDER BY n DESC, bucket LIMIT 1.
    md = bc.agg(
        F.max(F.struct(F.col("n"), (-F.col("bucket")).alias("nb"))).alias("s")
    ).select((-F.col("s").getField("nb")).cast("long").alias("mb"))
    dist = F.col("bucket") - F.col("mb")
    r = bc.crossJoin(F.broadcast(md)).select(
        "bucket",
        "n",
        F.floor(F.lit(1000) / (F.lit(1) + dist * dist)).cast("long").alias("rate"),
    )
    return (
        b.join(F.broadcast(r), "bucket")
        .groupBy("bucket", F.col("n").alias("n_total"), "rate")
        .agg(
            F.sum(
                F.when(F.col("doc_id") % 1000 < F.col("rate"), 1).otherwise(0)
            ).cast("long").alias("n_kept")
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# x30 — random-projection dimensionality reduction
# ---------------------------------------------------------------------------

_RP_DIMS = 8
_KNUTH = 2654435761

_RP_ORACLE = f"""
WITH ex AS (
    SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
           CAST(unnest(embedding) AS DOUBLE) AS x
    FROM embeddings
),
pj AS (
    SELECT ex.vec_id, j.j, ex.x,
           CASE WHEN (((ex.i * {_RP_DIMS} + j.j) * {_KNUTH})
                      % 4294967296 // 65536) % 2 = 0
                THEN 1 ELSE -1 END AS s
    FROM ex CROSS JOIN (SELECT unnest(range({_RP_DIMS})) AS j) j
)
SELECT vec_id, CAST(j AS BIGINT) AS j,
       round(CAST(SUM(CAST(x * s AS DECIMAL(38,12))) AS DOUBLE), 6) AS proj
FROM pj GROUP BY vec_id, j ORDER BY vec_id, j
"""


def embedding_probe(spark, sf_dir):
    """``(max width, max |element|)`` of the embeddings table, or
    ``(None, None)`` when it is empty: data properties the fixed-point
    and ANN plans bake in. The probe is a Spark job, memoized per
    dataset state and session."""

    def build():
        vec = F.col("embedding").cast("array<double>")
        row = load_table(spark, sf_dir, "embeddings").agg(
            F.max(F.size("embedding")).alias("d"),
            F.max(F.array_max(F.transform(vec, lambda x: F.abs(x)))).alias(
                "mx"
            ),
        ).first()
        return row["d"], row["mx"]

    return memo(spark, sf_dir, "embeddings", "embedding_probe", build)


def tree_sum(cols):
    """Balanced pairwise sum of Columns: depth log2(n) instead of a
    left-deep chain of n additions."""
    while len(cols) > 1:
        nxt = [cols[k] + cols[k + 1] for k in range(0, len(cols) - 1, 2)]
        if len(cols) % 2:
            nxt.append(cols[-1])
        cols = nxt
    return cols[0]


@q(
    "x30_rp_projection",
    "OP-X3-ext",
    "Random-projection dim reduction (64 → 8) with an IMPLICIT sign "
    "matrix: sign(i,j) = bit 16 of Knuth-multiplicative hash of "
    "(i*8+j) — deterministic, engine-portable integer math, nothing to "
    "broadcast or fit. The sign matrix has NO data dependency, so it "
    "is UNROLLED into the plan at build time: stage 1 converts each "
    "element ONCE to its exact scale-12 unscaled LONG (shared by all "
    "8 projections), and each projection is a MAP-ONLY ±long addition "
    "tree — plain codegen'd expressions, NOT zip_with/aggregate HOFs "
    "(higher-order functions evaluate interpreted per row and "
    "measured 7x slower here) — so there is no per-(dim, j) row "
    "fan-out and no agg shuffle at all (the old explode×8 → "
    "(vec_id, j) hash-agg form shuffled dims×8 term rows and was the "
    "bench's 2.8× 10×-ratio query); the 8 (j, proj) output rows "
    "inline narrowly. Integer addition is exact and order-free, and "
    "the final long/1e12 double divide is bit-identical to the "
    "oracle's decimal→double cast, so the result is hash-stable on "
    "any partitioning. At 100 TB the whole op is one map pass. The "
    "standard sketch front-end for LSH / coarse ANN.",
    _RP_ORACLE,
)
def x30_rp_projection(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    dims, mx = embedding_probe(spark, sf_dir)
    if dims is None:
        # empty table: schema-correct empty result
        return e.select(
            "vec_id",
            F.lit(0).cast("long").alias("j"),
            F.lit(0.0).alias("proj"),
        ).filter(F.lit(False))
    # Overflow guard for the fixed-point domain: each element must fit
    # decimal(18,12) (|x| < 1e6) and the dims-term scaled long sum must
    # stay under 2^63 (|x| < 2^63 / (dims * 1e12)). The oracle's
    # DECIMAL(38,12) computes such inputs exactly, so degrading
    # silently (ANSI off wraps; ANSI on throws mid-job) is not
    # acceptable — raise loudly at plan build instead.
    limit = min(1_000_000.0, 9.2e18 / (max(dims, 1) * 1e12))
    if mx is not None and mx >= limit:
        raise ValueError(
            f"x30_rp_projection fixed-point path needs |element| < "
            f"{limit:g} (saw {mx:g} over {dims} dims); use a "
            f"decimal(38,12)-sum variant for this value range"
        )

    # Exact fixed-point in LONGs: element i converts ONCE (shared by
    # all 8 projections across the stage-1 projection barrier) to its
    # scale-12 unscaled integer — the decimal(18,12) cast applies the
    # identical HALF_UP 12-place rounding as the oracle's
    # DECIMAL(38,12) term cast (the ±sign folds out: rounding is
    # symmetric about zero), and ×10^12 → long is exact because the
    # decimal is integral at that scale. Each projection is then plain
    # 64-term long addition — exact, order-free, and ~6× cheaper for
    # Catalyst to re-optimize per execution than the equivalent
    # decimal tree (measured 4.9 s → 0.8 s per fresh QueryExecution
    # at sf0.1). The final /1e12 in DOUBLE is bit-identical to the
    # oracle's decimal→double cast: both operands are exactly
    # representable (|sum| < 2^53; 1e12 = 2^12·5^12), so the
    # correctly-rounded IEEE quotient IS the nearest double of the
    # true scale-12 value.
    scale = 1_000_000_000_000
    elems = [
        (F.element_at(vec, i + 1).cast("decimal(18,12)") * F.lit(scale))
        .cast("long")
        .alias(f"_e{i}")
        for i in range(dims)
    ]
    stage1 = e.select("vec_id", *elems)

    projs = []
    for j in range(_RP_DIMS):
        terms = [
            F.col(f"_e{i}")
            if ((i * _RP_DIMS + j) * _KNUTH % 4294967296 // 65536) % 2 == 0
            else -F.col(f"_e{i}")
            for i in range(dims)
        ]
        projs.append(
            F.struct(
                F.lit(j).cast("long").alias("j"),
                F.round(
                    tree_sum(terms).cast("double") / F.lit(float(scale)), 6
                ).alias("proj"),
            )
        )
    return (
        stage1.select("vec_id", F.inline(F.array(*projs)))
        .orderBy("vec_id", "j")
    )


# ---------------------------------------------------------------------------
# x31 — cross-document token-window sharing (exact substring dup signal)
# ---------------------------------------------------------------------------

_WIN = 8

_WINDOW_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id ORDER BY pos)
        AS pos
    FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ) WHERE w <> ''
),
win AS (
    SELECT doc_id, pos,
           concat_ws(' ', w,
               {", ".join(f"lead(w, {i}) OVER (PARTITION BY doc_id ORDER BY pos)" for i in range(1, _WIN))})
               AS wstr,
           lead(w, {_WIN - 1}) OVER (PARTITION BY doc_id ORDER BY pos) AS last
    FROM tok
),
rows_ AS (SELECT doc_id, wstr FROM win WHERE last IS NOT NULL),
shared AS (
    SELECT wstr FROM rows_ GROUP BY wstr
    HAVING count(DISTINCT doc_id) >= 2
),
per_doc AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
    FROM rows_ JOIN shared USING (wstr) GROUP BY doc_id
),
totals AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows
    FROM rows_ GROUP BY doc_id
)
SELECT t.doc_id, t.n_windows, coalesce(p.n_shared, 0) AS n_shared
FROM totals t LEFT JOIN per_doc p USING (doc_id)
ORDER BY t.doc_id
"""


@q(
    "x31_window_dedup",
    "OP-X2-ext",
    f"Cross-document {_WIN}-token-window sharing (the exact-substring "
    "duplication signal of Lee et al. 2022): windows materialize via "
    f"{_WIN - 1} lead() calls over a doc-partitioned window (codegen, "
    "no HOF, no per-row array slicing), windows shared by ≥2 docs are "
    "found by grouping on an md5 digest (32-byte shuffle keys, never "
    "the window strings), and each doc reports total vs shared window "
    "counts. At 100 TB: one doc-partitioned window pass + two "
    "digest-keyed hash-aggs + one digest join — no all-pairs step "
    "anywhere. The oracle groups the raw window strings; results are "
    "identical because only per-doc counts are emitted.",
    _WINDOW_ORACLE,
)
def x31_window_dedup(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.posexplode(F.split("text", " ")))
        .withColumnRenamed("pos", "pos")
        .withColumnRenamed("col", "w")
        .filter(F.col("w") != "")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("w")] + [F.lead("w", i).over(w) for i in range(1, _WIN)]
    win = tok.select(
        "doc_id",
        F.concat_ws(" ", *parts).alias("wstr"),
        F.lead("w", _WIN - 1).over(w).alias("last"),
    )
    rows = (
        win.filter(F.col("last").isNotNull())
        .select("doc_id", F.md5("wstr").alias("key"))
        # r12 lineage cut: three consumers key this frame differently
        # (hash(key) agg, hash(key) join probe, hash(doc_id) totals), so
        # no single exchange can be the reuse point and the lead-window
        # + md5 expansion re-executed per branch (stage trace: two
        # identical 3.2 MB exchange writes). The materialized frame is
        # (doc_id, md5) — ~40 B/row. Interleaved A/B: 1.69 -> 1.51 s.
        .localCheckpoint(eager=True)
    )
    shared = (
        rows.groupBy("key")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("key")
    )
    per_doc = (
        rows.join(shared, "key")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    totals = rows.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_windows")
    )
    return (
        totals.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            F.coalesce("n_shared", F.lit(0).cast("long")).alias("n_shared"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# x32 — salted skew join + two-phase agg, certified against plain SQL
# ---------------------------------------------------------------------------

_SALTED_ORACLE = (
    "SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n_orders, "
    + _dsum_sql("o_totalprice")
    + " AS revenue "
    "FROM orders LEFT JOIN customer ON o_custkey = c_custkey "
    "GROUP BY 1 ORDER BY 1"
)


@q(
    "x32_salted_join",
    "OP-J1/G3-ext",
    "Skew machinery certified result-identical to the plain plan: the "
    "orders⋈customer join runs through operators/skew.salted_left_join "
    "(content-hash salt on the big side, explode-replicated small "
    "side) and the aggregation through salted_agg (two-phase: "
    "(key,salt) partials then key merge) — while the ORACLE is the "
    "ordinary LEFT JOIN + GROUP BY SQL. Decimal partials keep the "
    "two-phase revenue sum exact. This is the hot-key escape hatch for "
    "joins too big to broadcast and too skewed for AQE alone.",
    _SALTED_ORACLE,
)
def x32_salted_join(spark, sf_dir):
    from ravelytics_spark.operators.skew import salted_agg, salted_left_join

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    j = salted_left_join(o, c, "o_custkey", buckets=8)
    out = salted_agg(
        j,
        ["c_mktsegment"],
        {
            "n_orders": (F.count("*"), F.sum("n_orders")),
            "revenue": (
                F.sum(F.col("o_totalprice").cast("decimal(28,4)")),
                F.sum("revenue"),
            ),
        },
        buckets=8,
    )
    return out.select(
        F.col("c_mktsegment").alias("segment"),
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("revenue").cast("double").alias("revenue"),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# x34 — embedding L2 unit-normalization
# ---------------------------------------------------------------------------

_NORM_ORACLE = """
WITH ex AS (
    SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
           CAST(unnest(embedding) AS DOUBLE) AS x
    FROM embeddings WHERE vec_id < 200
),
nrm AS (
    SELECT vec_id,
           sqrt(CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE)) AS nn
    FROM ex GROUP BY vec_id
)
SELECT ex.vec_id, CAST(ex.dim AS BIGINT) AS dim,
       round(ex.x / nrm.nn, 6) AS u
FROM ex JOIN nrm USING (vec_id)
ORDER BY vec_id, dim
"""


@q(
    "x34_l2_normalize",
    "OP-X3-ext",
    "L2 unit-normalization of embeddings (the cosine-ANN pre-step: "
    "normalize once, then cosine = dot). Norm accumulates decimal-"
    "exact (order-independent → hash-stable on any partitioning), one "
    "IEEE sqrt, and the normalize join is vec_id-local. At scale this "
    "is one map-side-combined agg + one co-partitioned join; in "
    "practice it fuses into the ingest write so ANN reads pre-"
    "normalized vectors.",
    _NORM_ORACLE,
)
def x34_l2_normalize(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    ex = (
        e.select(
            "vec_id", F.posexplode(F.col("embedding").cast("array<double>"))
        )
        .withColumnRenamed("pos", "dim")
        .withColumnRenamed("col", "x")
    )
    nrm = ex.groupBy("vec_id").agg(
        F.sqrt(
            F.sum((F.col("x") * F.col("x")).cast("decimal(38,18)")).cast(
                "double"
            )
        ).alias("nn")
    )
    return (
        ex.join(nrm, "vec_id")
        .select(
            "vec_id",
            F.col("dim").cast("long").alias("dim"),
            F.round(F.col("x") / F.col("nn"), 6).alias("u"),
        )
        .orderBy("vec_id", "dim")
    )


# ---------------------------------------------------------------------------
# g8 — conditional / positional aggregate surface
# ---------------------------------------------------------------------------

_G8_ORACLE = """
WITH am AS (
    SELECT o_orderstatus, o_orderkey,
           row_number() OVER (
               PARTITION BY o_orderstatus
               ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
    FROM orders
)
SELECT o.o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(count(*) FILTER (WHERE o.o_totalprice > 100000) AS BIGINT)
           AS n_high,
       CAST(CASE WHEN bool_or(o.o_totalprice > 150000) THEN 1 ELSE 0 END
           AS INT) AS any_high,
       CAST(CASE WHEN bool_and(o.o_totalprice > 0) THEN 1 ELSE 0 END
           AS INT) AS all_pos,
       max(am.o_orderkey) FILTER (WHERE am.rn = 1) AS top_order
FROM orders o JOIN am ON o.o_orderkey = am.o_orderkey
GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus
"""


@q(
    "g8_conditional_aggs",
    "OP-G5/G6-ext",
    "Conditional/positional aggregate surface: count_if, bool_or/"
    "bool_and, and a DETERMINISTIC argmax via max(struct(price, key)) "
    "— lexicographic struct max, so ties break on the key instead of "
    "partition order (plain max_by is nondeterministic under ties). "
    "All algebraic → one map-side-combined hash-agg; the oracle "
    "spells argmax as a window rank, proving the struct-max shape "
    "equals the textbook row_number()=1 plan.",
    _G8_ORACLE,
)
def g8_conditional_aggs(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_total"),
            F.expr("count_if(o_totalprice > 100000)").cast("long").alias(
                "n_high"
            ),
            F.expr("bool_or(o_totalprice > 150000)").cast("int").alias(
                "any_high"
            ),
            F.expr("bool_and(o_totalprice > 0)").cast("int").alias("all_pos"),
            F.max(F.struct("o_totalprice", "o_orderkey"))
            .getField("o_orderkey")
            .alias("top_order"),
        )
        .orderBy("o_orderstatus")
    )
