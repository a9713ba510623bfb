"""Round-29 operators (round 9): scale-safe SRP-bucketed twins of the
two all-pairs embedding audits.

The round-8 verdict flagged that ``x230_hubness_audit`` and (staged)
``x245_twonn_intrinsic_dim`` certify their EXACT all-pairs forms — the
8-way replicated equi-join still enumerates ~N^2/2 pairs, so the entry
a 100 TB user would call is the quadratic one. This module registers
the production forms as first-class certified entries:

* ``x230b_hubness_bucketed`` — the k-occurrence (in-degree) histogram
  of the approximate 5-NN graph where candidate pairs come ONLY from
  SRP buckets: every vector gets an 8-bit signed-random-projection
  code from the x102 Knuth-hash sign family (an integer comparison
  over exact fixed-point sums, so bucketing is bit-identical across
  engines), the neighbor side is exploded to its Hamming<=1 multiprobe
  codes (9 per vector) with a deterministic per-bucket cap of 500
  (keep-min vec_id, the x227 hot-bucket idiom), and 5-NN search runs
  inside the matched buckets. Candidate mass is <= 9*N*avg_bucket
  (~N^2/28 here) uncapped and <= N*CAP once the cap binds — linear in
  N at 100 TB where the exact x230 form is quadratic.
* ``x245b_twonn_bucketed`` — the TwoNN intrinsic-dimension estimator
  (Facco et al. 2017) over the same SRP-bucketed candidate set:
  per-point d1/d2 are the two smallest exact fixed-point squared
  distances among bucket candidates, ln(mu) floored to integer nanos
  before the exact BIGINT corpus sum (the x245 convention). Points
  with fewer than 2 candidates or d1 = 0 drop out per the estimator.

Both are DuckDB-oracle certified: the oracle computes the SAME codes,
probes, cap and arithmetic, so the approximation itself is
hash-certified, not just the exact metric it approximates. Recall vs
the exact forms is property-tested in tests/test_round29.py. The exact
all-pairs forms stay registered as certification oracles of the
metric; the bench tracks the bucketed forms (bench.py HEADLINE).

Hash-parity conventions as plans/queries.py: exact fixed-point BIGINT
arithmetic until one shared IEEE expression, total ORDER BY, BIGINT
casts on every count.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ravelytics_spark.plans.registry import q
from ravelytics_spark.plans.round20 import _KNUTH, _SRP_BITS, _srp_sign
from ravelytics_spark.plans.round4 import embedding_probe
from ravelytics_spark.sources.tables import load_table

_BK_K = 5  # 5-NN for the hubness histogram (x230's k)
_BK_CAP = 500  # per-probe-bucket neighbor cap (x227 hot-bucket idiom)

# 6-dp fixed-point encode — the x107/x230 idiom: every element exact in
# a BIGINT, every dot/distance an exact integer.
_BK_FX_SQL = (
    "list_transform(embedding, x -> CAST(CAST(CAST(x AS DOUBLE) "
    "AS DECIMAL(9,6)) * 1000000 AS BIGINT))"
)

# The x102 Knuth-hash sign family over (element index i, plane j),
# re-aliased for this module's oracle CTE names (ex.i / j.j).
_BK_SIGN_SQL = (
    f"((((ex.i * {_SRP_BITS} + j.j) * {_KNUTH} + 40503) "
    "% 4294967296 // 65536) % 8)"
)

# Shared candidate-generation CTE chain: fixed-point encode -> nonzero
# norms -> SRP codes (sign of exact integer +-element sums) -> neighbor
# multiprobe (own code + 8 single-bit flips) -> per-bucket cap ->
# bucket-matched (qa, nb) candidate pairs. Identical in both oracles.
_BK_CAND_CTES = f"""fx AS (
    SELECT vec_id, {_BK_FX_SQL} AS f FROM embeddings
    WHERE len(embedding) = (SELECT max(len(embedding)) FROM embeddings)
),
nz AS (
    SELECT vec_id, f, CAST(list_dot_product(f, f) AS BIGINT) AS n2
    FROM fx WHERE CAST(list_dot_product(f, f) AS BIGINT) > 0
),
ex AS (
    SELECT vec_id, generate_subscripts(f, 1) - 1 AS i, unnest(f) AS fv
    FROM nz
),
sj AS (
    SELECT ex.vec_id, j.j,
           SUM(CASE WHEN {_BK_SIGN_SQL} = 0 THEN ex.fv
                    WHEN {_BK_SIGN_SQL} = 1 THEN -ex.fv
                    ELSE 0 END) AS s
    FROM ex CROSS JOIN (SELECT unnest(range({_SRP_BITS})) AS j) j
    GROUP BY 1, 2
),
code AS (
    SELECT vec_id,
           CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << CAST(j AS INT))
                    ELSE 0 END) AS BIGINT) AS code
    FROM sj GROUP BY 1
),
np AS (
    SELECT c.vec_id,
           CASE WHEN b.b < 0 THEN c.code
                ELSE xor(c.code, (1::BIGINT << CAST(b.b AS INT))) END
               AS pcode
    FROM code c CROSS JOIN (SELECT unnest(range(-1, {_SRP_BITS})) AS b) b
),
ncap AS (
    SELECT vec_id, pcode FROM np
    QUALIFY row_number() OVER (PARTITION BY pcode ORDER BY vec_id)
        <= {_BK_CAP}
),
cand AS (
    SELECT q.vec_id AS qa, n.vec_id AS nb
    FROM code q JOIN ncap n
      ON q.code = n.pcode AND q.vec_id <> n.vec_id
)"""

_BK_COSINE_SQL = (
    "CAST(list_dot_product(a.f, b.f) AS DOUBLE) / 1000000000000.0"
    " / sqrt(CAST(a.n2 AS DOUBLE) / 1000000000000.0)"
    " / sqrt(CAST(b.n2 AS DOUBLE) / 1000000000000.0)"
)

_HUBB_ORACLE = f"""
WITH {_BK_CAND_CTES},
sc AS (
    SELECT cand.qa, cand.nb, {_BK_COSINE_SQL} AS cosine
    FROM cand
    JOIN nz a ON a.vec_id = cand.qa
    JOIN nz b ON b.vec_id = cand.nb
),
top AS (
    SELECT qa, nb FROM (
        SELECT qa, nb, row_number() OVER (
            PARTITION BY qa ORDER BY cosine DESC, nb) AS rn
        FROM sc
    ) WHERE rn <= {_BK_K}
),
ind AS (SELECT nb, CAST(count(*) AS BIGINT) AS indeg FROM top GROUP BY nb)
SELECT COALESCE(i.indeg, 0) AS indeg, CAST(count(*) AS BIGINT) AS n_vecs
FROM nz v LEFT JOIN ind i ON v.vec_id = i.nb
GROUP BY 1 ORDER BY 1
"""

_TWONNB_ORACLE = f"""
WITH {_BK_CAND_CTES},
d2 AS (
    SELECT cand.qa, cand.nb,
           CAST(list_sum(list_transform(list_zip(a.f, b.f),
                p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dsq
    FROM cand
    JOIN nz a ON a.vec_id = cand.qa
    JOIN nz b ON b.vec_id = cand.nb
),
nn AS (
    SELECT qa, dsq,
           row_number() OVER (PARTITION BY qa ORDER BY dsq, nb) AS rn
    FROM d2
),
mu AS (
    SELECT a.qa,
           CAST(floor(500000000.0
                * ln(CAST(b.dsq AS DOUBLE) / CAST(a.dsq AS DOUBLE)))
                AS BIGINT) AS lnmu_nano
    FROM (SELECT qa, dsq FROM nn WHERE rn = 1) a
    JOIN (SELECT qa, dsq FROM nn WHERE rn = 2) b USING (qa)
    WHERE a.dsq > 0
)
SELECT CAST(count(*) AS BIGINT) AS n_points,
       CAST(SUM(lnmu_nano) AS BIGINT) AS sum_lnmu_nano,
       CAST(count(*) * 1000000000000 // SUM(lnmu_nano) AS BIGINT)
           AS intrinsic_dim_milli
FROM mu
"""


# The slim-multiprobe crossover (bytes of the ×9 probe explode above
# which shuffling full vectors through the ≤256-key cap window costs
# more than the extra id-keyed re-attach join). Interleaved A/B at
# sf0.1 (18k probe rows ≈ 10 MB): old 3.19/2.78 s vs slim 4.13/4.73 s —
# below the threshold the two extra stages dominate, so small inputs
# keep the direct form; at 100 TB (9N vector rows vs 16-byte id rows
# through the funnel) slim wins by construction.
_SLIM_MULTIPROBE_BYTES = 256 * 1024 * 1024


def _slim_multiprobe(e) -> bool:
    """True when the ×9 multiprobe explode of the embeddings scan is
    estimated big enough that the cap window must not carry vectors.
    The scan's optimizer estimate is reliable (plain pruned parquet
    read); 9× it approximates the probe-side exchange bytes."""
    size = e._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return int(size) * 9 > _SLIM_MULTIPROBE_BYTES


def _bucketed_candidates(spark, sf_dir):
    """Shared Spark-side candidate generation for x230b/x245b.

    Returns ``(nz, pairs)`` — the nonzero-norm fixed-point frame
    (vec_id, f, n2) and the bucket-matched candidate frame
    (qa, fa, na, nb, fb, nb2) — or ``None`` when the embeddings table
    is empty. ``nz`` is eagerly checkpointed: it feeds the code
    computation on BOTH join sides plus (for x230b) the antihub left
    join, and the fixed-point encode must not run three times (the
    x91/x230 lesson).
    """
    e = load_table(spark, sf_dir, "embeddings")
    dims = embedding_probe(spark, sf_dir)[0]
    if dims is None:
        return None
    # Unrolled fixed-point expressions as SQL STRINGS parsed by one
    # expr() each (r12, the x177 lesson): the Column form pays one py4j
    # round-trip per operator — ~600 JVM calls for the 64-element
    # encode + 8 SRP planes, ~1 s of driver time per BUILD, re-paid on
    # every bench rebuild. Same expression tree (oracle-hash-verified),
    # same execution; integer addition is associative, so the flat
    # left-assoc sum equals the old balanced tree_sum exactly.
    vec_sql = "CAST(embedding AS ARRAY<DOUBLE>)"
    f_sql = ", ".join(
        f"CAST(CAST(element_at({vec_sql}, {i + 1}) AS DECIMAL(9,6))"
        " * 1000000 AS BIGINT)"
        for i in range(dims)
    )
    dot_ff = "aggregate(zip_with(f, f, (x, y) -> x * y), 0L, (a, v) -> a + v)"
    nz = (
        e.filter(F.size("embedding") == dims)
        .selectExpr("vec_id", f"array({f_sql}) AS f")
        .withColumn("n2", F.expr(dot_ff).cast("long"))
        .filter(F.col("n2") > 0)
        .localCheckpoint(eager=True)
    )

    # 8-bit SRP code: sign of the exact integer +-element sum per plane
    # (sparse Achlioptas family, density 1/4 — the x102 machinery over
    # the 6-dp array representation).
    planes = []
    for j in range(_SRP_BITS):
        terms = [
            f"-element_at(f, {i + 1})"
            if _srp_sign(i, j) == -1
            else f"element_at(f, {i + 1})"
            for i in range(dims)
            if _srp_sign(i, j) != 0
        ]
        planes.append(
            f"(CASE WHEN ({' + '.join(terms)}) > 0"
            f" THEN {1 << j} ELSE 0 END)"
            if terms
            else "0"  # plane with no support on this width: bit 0
        )
    coded = nz.withColumn(
        "code", F.expr(" + ".join(planes)).cast("long")
    )

    qa = coded.select(
        F.col("code"),
        F.col("vec_id").alias("qa"),
        F.col("f").alias("fa"),
        F.col("n2").alias("na"),
    )
    # neighbor multiprobe: own code + the 8 single-bit flips = the
    # Hamming<=1 ball, so a (query, neighbor) pair matches iff their
    # codes differ in at most one bit — and matches EXACTLY once (the
    # 9 probe codes of one vector are pairwise distinct).
    probes = F.array(
        F.col("code"),
        *[
            F.col("code").bitwiseXOR(F.lit(1 << b)).cast("long")
            for b in range(_SRP_BITS)
        ],
    )
    if _slim_multiprobe(e):
        # Slim multiprobe (r12, guide §2.3/§8): the cap window's exchange
        # hash-partitions on pcode — an 8-bit code space, so AT MOST 256
        # distinct keys — and previously carried the full fixed-point
        # vector (64×8 B) on every one of the 9N probe rows through that
        # funnel. The cap's semantics need only (nb, pcode); shuffle
        # those 16-byte rows, cap, then re-attach (fb, nb2) from the
        # checkpointed nz by one id-keyed join — the capped output is
        # bounded by 256 buckets × _BK_CAP rows, so the re-attached
        # vector bytes are O(cap), not O(9N). Identical result set: the
        # cap keeps the same first-N-by-nb members either way.
        np_ = coded.select(
            F.col("vec_id").alias("nb"), F.explode(probes).alias("pcode")
        )
        wcap = Window.partitionBy("pcode").orderBy("nb")
        ncap_ids = (
            np_.withColumn("rn", F.row_number().over(wcap))
            .filter(F.col("rn") <= _BK_CAP)
            .drop("rn")
        )
        nbv = nz.select(
            F.col("vec_id").alias("nb"),
            F.col("f").alias("fb"),
            F.col("n2").alias("nb2"),
        )
        ncap = ncap_ids.join(nbv, "nb")
    else:
        np_ = coded.select(
            F.col("vec_id").alias("nb"),
            F.col("f").alias("fb"),
            F.col("n2").alias("nb2"),
            F.explode(probes).alias("pcode"),
        )
        wcap = Window.partitionBy("pcode").orderBy("nb")
        ncap = (
            np_.withColumn("rn", F.row_number().over(wcap))
            .filter(F.col("rn") <= _BK_CAP)
            .drop("rn")
        )
    pairs = qa.join(
        ncap, on=[qa["code"] == ncap["pcode"], qa["qa"] != ncap["nb"]]
    ).select("qa", "fa", "na", "nb", "fb", "nb2")
    return nz, pairs


@q(
    "x230b_hubness_bucketed",
    "OP-X3-ext",
    f"SRP-bucketed ANN hubness audit — the PRODUCTION form of x230: "
    f"the k-occurrence histogram of the {_BK_K}-NN graph where "
    "candidates come only from 8-bit signed-random-projection buckets "
    "with Hamming<=1 multiprobe and a deterministic per-bucket cap of "
    f"{_BK_CAP} (keep-min vec_id, the x227 idiom). Codes are signs of "
    "exact fixed-point integer sums (bit-identical across engines), "
    "cosine re-rank is the x230 IEEE chain, ties break on neighbor "
    "id; the DuckDB oracle runs the SAME bucketed algorithm, so the "
    "approximation itself is hash-certified. Scale: candidate mass is "
    "<= 9*N*avg_bucket uncapped (~N^2/28 at 256 buckets) and <= N*CAP "
    "once the cap binds — linear in N where x230's all-pairs form is "
    "quadratic; recall vs the exact graph is property-tested "
    "(tests/test_round29.py).",
    _HUBB_ORACLE,
)
def x230b_hubness_bucketed(spark, sf_dir):
    got = _bucketed_candidates(spark, sf_dir)
    if got is None:
        e = load_table(spark, sf_dir, "embeddings")
        return (
            e.select(
                F.lit(0).cast("long").alias("indeg"),
                F.lit(0).cast("long").alias("n_vecs"),
            )
            .filter(F.lit(False))
            .orderBy("indeg")
        )
    nz, pairs = got
    dot_ab = (
        "aggregate(zip_with(fa, fb, (x, y) -> x * y), 0L, (a, v) -> a + v)"
    )
    cosine = (
        "CAST(dt AS DOUBLE) / 1000000000000.0"
        " / sqrt(CAST(na AS DOUBLE) / 1000000000000.0)"
        " / sqrt(CAST(nb2 AS DOUBLE) / 1000000000000.0)"
    )
    sc = pairs.withColumn("dt", F.expr(dot_ab).cast("long")).select(
        "qa", "nb", F.expr(cosine).alias("cosine")
    )
    wk = Window.partitionBy("qa").orderBy(F.col("cosine").desc(), "nb")
    top = (
        sc.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= _BK_K)
        .select("qa", "nb")
    )
    ind = top.groupBy("nb").agg(F.count("*").cast("long").alias("indeg"))
    return (
        nz.select("vec_id")
        .join(ind, nz["vec_id"] == ind["nb"], "left")
        .select(F.coalesce(F.col("indeg"), F.lit(0)).alias("indeg"))
        .groupBy("indeg")
        .agg(F.count("*").cast("long").alias("n_vecs"))
        .orderBy("indeg")
    )


@q(
    "x245b_twonn_bucketed",
    "OP-X3-ext",
    "SRP-bucketed TwoNN intrinsic-dimension estimate — the PRODUCTION "
    "form of x245: per point, d1/d2 are the two smallest exact "
    "fixed-point squared distances among SRP-bucket candidates "
    "(8-bit codes, Hamming<=1 multiprobe, per-bucket cap "
    f"{_BK_CAP}); ln(mu) floored to integer nanos before the exact "
    "BIGINT corpus sum, ID = N / sum(ln mu). Points with d1 = 0 or "
    "fewer than 2 candidates drop out. The DuckDB oracle runs the "
    "SAME bucketed algorithm — the approximation is hash-certified. "
    "Scale: candidate mass <= N*CAP once the cap binds, vs x245's "
    "quadratic all-pairs gram (22.6 s at 1x in the round-8 sweep); "
    "estimate quality vs the exact form is property-tested.",
    _TWONNB_ORACLE,
)
def x245b_twonn_bucketed(spark, sf_dir):
    got = _bucketed_candidates(spark, sf_dir)
    if got is None:
        # degenerate empty table: mirror the oracle's UNGROUPED
        # aggregate over an empty mu — ONE (0, NULL, NULL) row, not
        # zero rows (ADVICE r9: filter(lit(False)) would rows-mismatch
        # the oracle on an empty dataset)
        e = load_table(spark, sf_dir, "embeddings")
        return e.limit(0).agg(
            F.count("*").cast("long").alias("n_points"),
            F.max(F.lit(None).cast("long")).alias("sum_lnmu_nano"),
            F.max(F.lit(None).cast("long")).alias("intrinsic_dim_milli"),
        )
    _nz, pairs = got
    dsq = (
        "aggregate(zip_with(fa, fb, (x, y) -> (x - y) * (x - y)),"
        " 0L, (a, v) -> a + v)"
    )
    d2 = pairs.select("qa", "nb", F.expr(dsq).cast("long").alias("dsq"))
    wk = Window.partitionBy("qa").orderBy("dsq", "nb")
    nn = d2.withColumn("rn", F.row_number().over(wk)).filter(
        F.col("rn") <= 2
    )
    # pivot d1/d2 out of the ranked frame with ONE conditional agg — a
    # rank self-join (rn=1 frame ⋈ rn=2 frame) would recompute the
    # whole candidate pipeline per branch (2x the distance work; the
    # round-9 plan audit caught it as a doubled Generate)
    both = nn.groupBy("qa").agg(
        F.min(F.when(F.col("rn") == 1, F.col("dsq"))).alias("d1sq"),
        F.min(F.when(F.col("rn") == 2, F.col("dsq"))).alias("d2sq"),
    )
    mu = (
        both.filter((F.col("d1sq") > 0) & F.col("d2sq").isNotNull())
        .select(
            F.expr(
                "CAST(floor(500000000.0"
                " * ln(CAST(d2sq AS DOUBLE) / CAST(d1sq AS DOUBLE)))"
                " AS BIGINT)"
            ).alias("lnmu_nano")
        )
    )
    return mu.agg(
        F.count("*").cast("long").alias("n_points"),
        F.sum("lnmu_nano").cast("long").alias("sum_lnmu_nano"),
        F.expr(
            "CAST(count(*) * 1000000000000 DIV SUM(lnmu_nano) AS BIGINT)"
        ).alias("intrinsic_dim_milli"),
    )
