"""Round-20 operators (round 5): the portable-hash program of
plans/round19.py extended to the remaining rows-only sketch family.

Reference parity: the reference warehouse exposes approximate
distinct counts (ClickHouse ``uniq``/``uniqHLL12`` family — see
SURVEY.md §2.10's sketch inventory) and sampling; the production
Spark forms (``x7_approx_distinct``, ``x63_hll_rollup``,
``x64_kmv_rollup``, ``x9_stratified_sample``) use engine-native
primitives (approx_count_distinct, xxhash64) whose exact outputs no
second engine can reproduce, so the driver records rows-only checks.
These entries re-express each ALGORITHM with a cross-engine hash
family (one md5 per item + exact BIGINT arithmetic), so signatures,
registers and estimates are DuckDB-hash-certified end to end:

* ``x97_kmv_portable`` — K-Minimum-Values distinct sketch (Bar-Yossef
  et al. 2002) per source + the sketch-union merge, certifying both
  the estimator and the mergeability contract of ``x64_kmv_rollup``.
* ``x98_hll_portable`` — HyperLogLog (Flajolet et al. 2007) with
  integer-exact registers: rho from the BINARY STRING length of the
  hash remainder (no log2), the indicator sum as scaled BIGINT
  2^(55-M) terms, alpha*m^2*2^55 as ONE Python-computed literal, and
  the linear-counting correction as a 63-entry literal lookup (the
  x90 Benford precedent: no transcendental runs in either engine).
  Registers roll up monthly → yearly by max-merge, certifying the
  mergeable-register contract of ``x63_hll_rollup``.
* ``x99_sample_portable`` — deterministic per-stratum hash sampling
  (the portable twin of ``x9_stratified_sample``): membership is a
  pure function of the row key, so the SAMPLE ITSELF is
  hash-certified, reproducible across engines, layouts and runs —
  the property df.sample's partition-seeded RNG cannot give.
* ``x100_curation_portable`` — the FULL curation pipeline (clean →
  exact dedup → LSH near-dedup → annotate → filter) oracle-certified
  end to end via the portable MinHash inside the composition (closes
  ``x10_curation_full``'s rows-only gap).
* ``x101_dup_clusters_portable`` — connected components (min-label)
  over the verified near-dup pair graph vs a recursive-CTE closure
  oracle (closes ``x2_dup_clusters``'s gap).
* ``x102_srp_portable`` — signed-random-projection LSH ANN with
  sparse Achlioptas hyperplanes, literal probe sets and exact
  fixed-point sign tests (closes ``x3_srp_topk``'s gap).
* ``x103_triangle_count`` — degree-ordered triangle counting on the
  co-order part graph (the wedge-bounding orientation that makes
  exact closure counting feasible at scale).
* ``x104_equidepth_histogram`` — equi-depth histogram via exact
  integer fine-bins + bin-frame cumulative assignment (the ANALYZE
  statistics shape, computed aggregate-first).
* ``x105_pq_portable`` — product-quantization ADC ANN with literal
  grid codebooks and a Python-computed lookup table, exact
  fixed-point shortlist refinement (closes ``x62_pq_topk``'s gap).
* ``x106_interval_overlap`` — per-key interval-overlap self-join
  (range-vs-range; completes the temporal-join family next to as-of
  and point-in-range).

Hash-parity conventions as plans/queries.py: one md5 per item then
exact integer math; estimator divisions as ONE IEEE divide of two
deterministic operands + round; total ORDER BY.
"""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from ravelytics_spark.operators.graph import coorder_edges
from ravelytics_spark.plans.frames import COORDER_PK_SQL
from ravelytics_spark.plans.registry import q
from ravelytics_spark.plans.round4 import embedding_probe, tree_sum
from ravelytics_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# x97 — K-Minimum-Values distinct sketch, portable hash family
# ---------------------------------------------------------------------------

# 48-bit hash (12 hex chars of md5): h < 2^48 and (K-1)*2^48 both sit
# inside double's 53-bit mantissa EXACTLY (63*2^48 has 6 significant
# bits), so the estimator (K-1)*2^48 / h_K is ONE IEEE division of two
# exactly-represented operands — bit-identical across engines.
_KMV_K = 64
_KMV_SCALE_NUM = float((_KMV_K - 1) * (1 << 48))  # 63 * 2^48, exact

_KMV_ORACLE = f"""
WITH tok AS (
    SELECT source, unnest(string_split(lower(text), ' ')) AS w
    FROM documents
),
t2 AS (SELECT source, w FROM tok WHERE w <> ''),
dh AS (
    SELECT DISTINCT source,
           CAST(('0x' || substr(md5(w), 1, 12)) AS BIGINT) AS h
    FROM t2
),
rk AS (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM dh
),
keep AS (SELECT source, h FROM rk WHERE rn <= {_KMV_K}),
per AS (
    SELECT source, count(*) AS n_small, max(h) AS hk
    FROM keep GROUP BY source
),
exact AS (
    SELECT source, count(*) AS exact_distinct FROM dh GROUP BY source
),
mk AS (
    SELECT h, row_number() OVER (ORDER BY h) AS rn
    FROM (SELECT DISTINCT h FROM keep)
),
mper AS (
    SELECT count(*) AS n_small, max(h) AS hk FROM mk WHERE rn <= {_KMV_K}
),
mexact AS (SELECT count(DISTINCT h) AS exact_distinct FROM dh),
unioned AS (
    SELECT p.source,
           CASE WHEN p.n_small < {_KMV_K} THEN CAST(p.n_small AS DOUBLE)
                ELSE round({_KMV_SCALE_NUM!r} / p.hk, 6) END AS est_distinct,
           e.exact_distinct
    FROM per p JOIN exact e USING (source)
    UNION ALL
    SELECT '(all)',
           CASE WHEN m.n_small < {_KMV_K} THEN CAST(m.n_small AS DOUBLE)
                ELSE round({_KMV_SCALE_NUM!r} / m.hk, 6) END,
           x.exact_distinct
    FROM mper m CROSS JOIN mexact x
)
SELECT source, est_distinct, CAST(exact_distinct AS BIGINT) AS exact_distinct
FROM unioned ORDER BY source
"""


@q(
    "x97_kmv_portable",
    "OP-G5/X8-ext",
    "K-Minimum-Values distinct-count sketch with a portable hash "
    "family — the oracle-certified twin of x64_kmv_rollup/"
    "x7_approx_distinct (whose xxhash64/HLL++ internals no second "
    "engine reproduces). Per source: the K=64 smallest distinct "
    "48-bit md5 hashes of the vocabulary; estimate (K-1)*2^48/h_K is "
    "ONE IEEE division of two exactly-double-representable operands. "
    "The '(all)' row is the SKETCH-UNION merge — the K smallest of "
    "the union of per-source K-min sets, never a re-scan — "
    "certifying the mergeability contract that makes KMV roll up "
    "(per-shard sketches at 100 TB combine in O(K) driver state). "
    "Per-source state is K values (bounded agg), the vocab agg is "
    "map-side combined, and the merge input is sketch-sized "
    "(sources x K rows).",
    _KMV_ORACLE,
)
def x97_kmv_portable(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    dh = (
        toks.select(
            "source",
            F.conv(F.substring(F.md5("w"), 1, 12), 16, 10)
            .cast("long")
            .alias("h"),
        )
        .groupBy("source", "h")
        .agg(F.lit(1).alias("__one"))
        .drop("__one")
    )
    rn = F.row_number().over(Window.partitionBy("source").orderBy("h"))
    keep = dh.select("source", "h", rn.alias("rn")).filter(
        F.col("rn") <= _KMV_K
    )
    est = F.when(
        F.col("n_small") < _KMV_K, F.col("n_small").cast("double")
    ).otherwise(F.round(F.lit(_KMV_SCALE_NUM) / F.col("hk"), 6))
    per = (
        keep.groupBy("source")
        .agg(F.count("*").alias("n_small"), F.max("h").alias("hk"))
        .select("source", est.alias("est_distinct"))
    )
    exact = dh.groupBy("source").agg(
        F.count("*").cast("long").alias("exact_distinct")
    )
    rows = per.join(exact, "source")
    # sketch-union merge: sources x K rows -> distinct h -> K smallest.
    # The single-partition window is SKETCH-sized by construction.
    merged_rn = F.row_number().over(Window.orderBy("h"))
    mk = (
        keep.select("h")
        .distinct()
        .select("h", merged_rn.alias("rn"))
        .filter(F.col("rn") <= _KMV_K)
    )
    mper = mk.agg(F.count("*").alias("n_small"), F.max("h").alias("hk"))
    mexact = dh.select("h").distinct().agg(
        F.count("*").cast("long").alias("exact_distinct")
    )
    mrow = mper.crossJoin(mexact).select(
        F.lit("(all)").alias("source"),
        est.alias("est_distinct"),
        "exact_distinct",
    )
    return rows.unionByName(mrow).orderBy("source")


# ---------------------------------------------------------------------------
# x98 — HyperLogLog with integer-exact registers, portable hash family
# ---------------------------------------------------------------------------

_HLL_M = 64  # 2^6 registers
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)
# alpha * m^2 * 2^55: ONE Python-computed double literal injected into
# both engines, so the estimate is literal / S — a single IEEE divide.
_HLL_C = _HLL_ALPHA * _HLL_M * _HLL_M * float(1 << 55)
_HLL_EMPTY_TERM = 1 << 55  # empty register: 2^-0 scaled by 2^55
# Linear-counting correction m*ln(m/V) for V = 1..63 as literals (the
# x90 precedent: no transcendental evaluates in either engine).
_HLL_LINEAR = [
    round(_HLL_M * math.log(_HLL_M / v), 4) for v in range(1, _HLL_M)
]
_HLL_LINEAR_SQL = ", ".join(repr(x) for x in _HLL_LINEAR)

_HLL_ORACLE = f"""
WITH h AS (
    SELECT CAST(strftime(o_orderdate, '%Y') AS BIGINT) AS o_year,
           CAST(strftime(o_orderdate, '%m') AS BIGINT) AS o_month,
           CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
                AS BIGINT) AS hv,
           o_custkey
    FROM orders
),
r AS (
    SELECT o_year, o_month, hv % {_HLL_M} AS bucket,
           CASE WHEN hv // {_HLL_M} = 0 THEN 55
                ELSE 55 - length(bin(hv // {_HLL_M})) END AS rho,
           o_custkey
    FROM h
),
regs_m AS (
    SELECT o_year, o_month, bucket, max(rho) AS m
    FROM r GROUP BY o_year, o_month, bucket
),
regs_y AS (
    SELECT o_year, bucket, max(m) AS m FROM regs_m GROUP BY o_year, bucket
),
s AS (
    SELECT o_year,
           sum(1::BIGINT << (55 - m)) AS s_present,
           count(*) AS nb
    FROM regs_y GROUP BY o_year
),
est AS (
    SELECT o_year,
           {_HLL_M} - nb AS v,
           {_HLL_C!r} / (s_present + ({_HLL_M} - nb) * {_HLL_EMPTY_TERM})
               AS e_raw
    FROM s
),
exact AS (
    SELECT o_year, count(DISTINCT o_custkey) AS exact_custkeys
    FROM r GROUP BY o_year
)
SELECT e.o_year,
       CASE WHEN e.v > 0 AND e.e_raw <= {2.5 * _HLL_M!r}
            THEN ([{_HLL_LINEAR_SQL}])[CAST(e.v AS INT)]
            ELSE round(e.e_raw, 4) END AS est_hll,
       CAST(x.exact_custkeys AS BIGINT) AS exact_custkeys
FROM est e JOIN exact x USING (o_year)
ORDER BY o_year
"""


@q(
    "x98_hll_portable",
    "OP-G5-ext",
    "HyperLogLog distinct-count with integer-exact registers and a "
    "portable hash family — the oracle-certified twin of "
    "x63_hll_rollup (Spark's HLL++ sketch bytes are engine-private). "
    "rho comes from the BINARY-STRING length of the 54-bit hash "
    "remainder (pure string op, no log2); the indicator sum is "
    "scaled-BIGINT 2^(55-M) terms plus 2^55 per empty register "
    "(commutative integer addition — partitioning-independent); the "
    "estimate is ONE Python-literal constant / S IEEE division; the "
    "linear-counting small-range branch reads a 63-entry literal "
    "table so no transcendental evaluates in either engine. Registers "
    "aggregate monthly first, then max-merge to yearly — certifying "
    "the mergeable-register rollup contract (per-shard registers at "
    "100 TB combine by elementwise max with m=64 longs of state per "
    "group). Exact per-year distincts ride alongside for the error "
    "story.",
    _HLL_ORACLE,
)
def x98_hll_portable(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    hv = F.conv(
        F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 15), 16, 10
    ).cast("long")
    base = o.select(
        F.year("o_orderdate").cast("long").alias("o_year"),
        F.month("o_orderdate").cast("long").alias("o_month"),
        hv.alias("hv"),
        "o_custkey",
    )
    rest = F.expr(f"hv div {_HLL_M}")
    r = base.select(
        "o_year",
        "o_month",
        F.pmod("hv", F.lit(_HLL_M)).alias("bucket"),
        F.when(rest == 0, F.lit(55))
        .otherwise(F.lit(55) - F.length(F.bin(rest)))
        .alias("rho"),
        "o_custkey",
    )
    regs_m = r.groupBy("o_year", "o_month", "bucket").agg(
        F.max("rho").alias("m")
    )
    regs_y = regs_m.groupBy("o_year", "bucket").agg(F.max("m").alias("m"))
    s = regs_y.groupBy("o_year").agg(
        F.sum(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(55 - m AS INT))")
        ).alias("s_present"),
        F.count("*").alias("nb"),
    )
    v = F.lit(_HLL_M) - F.col("nb")
    e_raw = F.lit(_HLL_C) / (
        F.col("s_present") + v * F.lit(_HLL_EMPTY_TERM)
    )
    linear = F.element_at(
        F.array(*[F.lit(x) for x in _HLL_LINEAR]), v.cast("int")
    )
    est = s.select(
        "o_year",
        F.when((v > 0) & (e_raw <= F.lit(2.5 * _HLL_M)), linear)
        .otherwise(F.round(e_raw, 4))
        .alias("est_hll"),
    )
    exact = r.groupBy("o_year").agg(
        F.countDistinct("o_custkey").cast("long").alias("exact_custkeys")
    )
    return est.join(exact, "o_year").orderBy("o_year")


# ---------------------------------------------------------------------------
# x99 — deterministic per-stratum hash sampling, portable hash family
# ---------------------------------------------------------------------------

_SAMPLE_RATES = {"en": 500, "de": 250, "fr": 250, "es": 250}  # per mille
_SAMPLE_RATES_SQL = " ".join(
    f"WHEN '{lang}' THEN {r}" for lang, r in _SAMPLE_RATES.items()
)

_SAMPLE_ORACLE = f"""
WITH b AS (
    SELECT doc_id, lang,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                AS BIGINT) % 1000 AS bucket,
           CASE lang {_SAMPLE_RATES_SQL} ELSE 0 END AS rate
    FROM documents
)
SELECT doc_id, lang FROM b WHERE bucket < rate ORDER BY doc_id
"""


@q(
    "x99_sample_portable",
    "OP-X-ext",
    "Deterministic per-stratum hash sampling — the oracle-certified "
    "twin of x9_stratified_sample (whose xxhash64 bucket no second "
    "engine computes). Membership = md5(key) mod 1000 < per-stratum "
    "rate: a pure function of the row key, so the SAMPLE ITSELF is "
    "hash-certified and reproducible across engines, partitionings "
    "and reruns — the property df.sample's partition-seeded RNG "
    "cannot give, and the one that makes a 100 TB sampled corpus "
    "re-derivable (membership re-checks from the key alone, append "
    "jobs keep prior members). Map-only: filter at the scan, no "
    "shuffle, no state.",
    _SAMPLE_ORACLE,
)
def x99_sample_portable(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10
        ).cast("long"),
        F.lit(1000),
    )
    rate = None
    for lang, r in _SAMPLE_RATES.items():
        cond = F.col("lang") == lang
        rate = (
            F.when(cond, F.lit(r))
            if rate is None
            else rate.when(cond, F.lit(r))
        )
    rate = rate.otherwise(F.lit(0))
    return (
        d.filter(bucket < rate).select("doc_id", "lang").orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# x100 — full curation pipeline with portable near-dedup, oracle-certified
# ---------------------------------------------------------------------------

def _curation_portable_oracle() -> str:
    from ravelytics_spark.plans.extensions import _MARKER_SQL, _STOP_SQL
    from ravelytics_spark.plans.round19 import (
        _MH_JACCARD_MIN,
        _minhash_pair_ctes,
    )

    return f"""
WITH cleaned AS (
    SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS text
    FROM documents
    WHERE length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) > 0
),
deduped AS (
    SELECT doc_id, text FROM cleaned
    QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
),
{_minhash_pair_ctes("deduped")},
losers AS (SELECT DISTINCT id_b FROM jac WHERE j >= {_MH_JACCARD_MIN}),
survivors AS (
    SELECT doc_id, text FROM deduped
    WHERE doc_id NOT IN (SELECT id_b FROM losers)
),
tok AS (
    SELECT doc_id, text,
           list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS toks
    FROM survivors
),
m AS (
    SELECT doc_id, text, toks, len(toks) AS n,
        CASE WHEN len(toks) > 0 THEN CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE) / len(toks) ELSE 0.0 END AS mwl,
        CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, w -> list_contains({_STOP_SQL}, lower(w)))) AS DOUBLE) / len(toks) ELSE 0.0 END AS stop_ratio,
        len(list_filter(list_transform(toks, w -> lower(w)), w -> list_contains({_MARKER_SQL['en']}, w))) AS s_en,
        len(list_filter(list_transform(toks, w -> lower(w)), w -> list_contains({_MARKER_SQL['de']}, w))) AS s_de,
        len(list_filter(list_transform(toks, w -> lower(w)), w -> list_contains({_MARKER_SQL['fr']}, w))) AS s_fr,
        len(list_filter(list_transform(toks, w -> lower(w)), w -> list_contains({_MARKER_SQL['es']}, w))) AS s_es
    FROM tok
),
scored AS (
    SELECT doc_id, n AS n_tokens,
        least(CAST(n AS DOUBLE) / 64.0, 1.0)
        * (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END)
        * (CASE WHEN stop_ratio > 0.8 THEN 0.25 ELSE 1.0 END) AS quality,
        CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
             WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
             WHEN s_de = greatest(s_de, s_fr, s_es) THEN 'de'
             WHEN s_fr = greatest(s_fr, s_es) THEN 'fr'
             ELSE 'es' END AS lang_pred
    FROM m
)
SELECT doc_id, quality, lang_pred, CAST(n_tokens AS BIGINT) AS n_tokens
FROM scored WHERE quality >= 0.25 ORDER BY doc_id
"""


@q(
    "x100_curation_portable",
    "OP-X1/X2/X4 composed",
    "The FULL training-data curation pipeline — clean -> exact dedup "
    "(first-ingested wins) -> MinHash-LSH near-dedup (drop the higher "
    "id of every verified pair) -> quality score -> language ID -> "
    "token accounting -> quality filter — oracle-certified END TO "
    "END: the portable hash family of x91 replaces the xxhash64 "
    "production generator inside the composition, closing the "
    "rows-only gap of x10_curation_full for the composed semantics "
    "(which step dropped which document is now hash-checked, not just "
    "counted). Scale shape identical to plans/curation.py: the "
    "near-dedup is banded-LSH (candidates only, never all-pairs), "
    "the anti-join is key-only, and every scoring column is one "
    "map-side-combined token aggregation.",
    _curation_portable_oracle(),
)
def x100_curation_portable(spark, sf_dir):
    from ravelytics_spark.operators.dedup import dedup_exact
    from ravelytics_spark.plans.curation import annotate, clean_documents
    from ravelytics_spark.plans.round19 import portable_minhash_pairs

    d = load_table(spark, sf_dir, "documents")
    cleaned = clean_documents(d)
    deduped = dedup_exact(cleaned, ["text"], keep_by="doc_id")
    pairs = portable_minhash_pairs(spark, deduped)
    losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    survivors = deduped.join(losers, "doc_id", "left_anti")
    return (
        annotate(survivors)
        .filter(F.col("quality") >= 0.25)
        .select("doc_id", "quality", "lang_pred", "n_tokens")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# x101 — near-dup cluster labels (connected components over verified pairs)
# ---------------------------------------------------------------------------

_CLUSTER_ITERS = 8


def _dup_clusters_oracle() -> str:
    from ravelytics_spark.plans.round19 import (
        _MH_JACCARD_MIN,
        _minhash_pair_ctes,
    )

    return f"""
WITH RECURSIVE {_minhash_pair_ctes("documents")},
p AS (SELECT id_a, id_b FROM jac WHERE j >= {_MH_JACCARD_MIN}),
edges AS (
    SELECT id_a AS a, id_b AS b FROM p
    UNION
    SELECT id_b, id_a FROM p
),
reach(node, lbl) AS (
    SELECT DISTINCT a, a FROM edges
    UNION
    SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
)
SELECT node AS doc_id, min(lbl) AS cluster
FROM reach GROUP BY node ORDER BY doc_id
"""


@q(
    "x101_dup_clusters_portable",
    "OP-X2",
    "Near-dup CLUSTER LABELS: connected components (min-label) over "
    "the verified portable-MinHash pair graph — the oracle-certified "
    "twin of x2_dup_clusters (pairs say 'these two collide'; training "
    "-data dedup needs the transitive closure: one survivor per "
    "component, however long the A~B~C chain). Spark runs "
    "fixed-iteration min-label propagation (8 rounds; a pytest "
    "asserts the fixed point is reached, so the certified output IS "
    "the true components); DuckDB computes the same closure with a "
    "recursive CTE — certifying an ITERATIVE algorithm against a "
    "recursive oracle (the x58/x43 precedent, composed with LSH "
    "candidate generation). Scale: the graph is pair-sized (LSH-"
    "pruned, vastly smaller than the corpus), every round is one "
    "node-keyed join + min-agg, and per-node state is one label; "
    "beyond ~diameter-8 graphs the same loop runs to convergence or "
    "switches to large-star/small-star.",
    _dup_clusters_oracle(),
)
def x101_dup_clusters_portable(spark, sf_dir):
    from ravelytics_spark.plans.round19 import portable_minhash_pairs

    d = load_table(spark, sf_dir, "documents")
    # Materialize the LSH pair graph ONCE before iterating: each
    # propagation round references `edges` twice, so without the
    # lineage cut the full shingle->signature->band->verify pipeline
    # is re-embedded (and re-optimized) 2^k times across k rounds —
    # measured OOM at k=8. The checkpoint is pair-sized (LSH-pruned),
    # exactly the state a cluster job would persist between rounds.
    pairs = (
        portable_minhash_pairs(spark, d)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    # Closed-neighborhood form: adding self-loops folds "keep my own
    # label" into the same min-agg, so each round is ONE join + ONE
    # aggregation (instead of join + agg + left-join back) and the
    # labels frame is referenced once per round — a linear lineage
    # chain instead of the doubling tree the dual-reference form
    # builds (2^k plan subtrees by round k; measured ~2x wall-clock on
    # the same 8 rounds from re-optimization + the extra shuffle).
    nodes = (
        pairs.select(F.col("id_a").alias("node"))
        .union(pairs.select(F.col("id_b").alias("node")))
        .distinct()
    )
    edges = (
        pairs.union(
            pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
        )
        .union(nodes.select(F.col("node").alias("id_a"), F.col("node").alias("id_b")))
        .distinct()
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(_CLUSTER_ITERS):
        labels = (
            edges.join(labels, edges.id_a == labels.node)
            .groupBy(F.col("id_b").alias("node"))
            .agg(F.min("label").alias("label"))
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# x102 — signed-random-projection LSH ANN, portable + oracle-certified
# ---------------------------------------------------------------------------

_SRP_BITS = 8  # 256 buckets
_SRP_HAM = 2  # multiprobe radius
_SRP_K = 5
_KNUTH = 2654435761


def _srp_sign(i: int, j: int) -> int:
    """Sparse hyperplane entry in {-1, 0, +1} from the Knuth-hash bit
    family (density 1/4 — Achlioptas 2003 sparse random projections:
    zeroing most entries preserves the projection's LSH property while
    quartering the arithmetic; the dense form blew the 64 KB codegen
    method limit)."""
    v = ((i * _SRP_BITS + j) * _KNUTH + 40503) % 4294967296 // 65536
    if v % 8 == 0:
        return 1
    if v % 8 == 1:
        return -1
    return 0


_SRP_SIGN_SQL = (
    f"((((ex.i * {_SRP_BITS} + j.j) * {_KNUTH} + 40503) "
    "% 4294967296 // 65536) % 8)"
)

# Fixed query vector: small integers from the same hash family — known
# in Python, so the query's SRP code and the Hamming<=2 probe set are
# compile-time literals in BOTH engines (no data-derived plan state).
_SRP_QDIM = 64
_SRP_Q = [((i * _KNUTH) % 7) - 3 for i in range(_SRP_QDIM)]
_SRP_QNORM = math.sqrt(sum(v * v for v in _SRP_Q))
_SRP_QCODE = sum(
    (1 << j)
    if sum(_srp_sign(i, j) * _SRP_Q[i] for i in range(_SRP_QDIM)) > 0
    else 0
    for j in range(_SRP_BITS)
)
_SRP_PROBES = sorted(
    c
    for c in range(1 << _SRP_BITS)
    if bin(c ^ _SRP_QCODE).count("1") <= _SRP_HAM
)
_SRP_PROBES_SQL = ", ".join(str(c) for c in _SRP_PROBES)
_SRP_Q_VALUES_SQL = ", ".join(
    f"({i}, {_SRP_Q[i]})" for i in range(_SRP_QDIM)
)

_SRP_ORACLE = f"""
WITH ex AS (
    SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
           CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(18,12)) AS dx,
           CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(9,6)) AS fx
    FROM embeddings
    WHERE len(embedding) = (SELECT max(len(embedding)) FROM embeddings)
),
sj AS (
    SELECT ex.vec_id, j.j,
           SUM(CASE WHEN {_SRP_SIGN_SQL} = 0 THEN ex.dx
                    WHEN {_SRP_SIGN_SQL} = 1 THEN -ex.dx
                    ELSE 0 END) AS s
    FROM ex CROSS JOIN (SELECT unnest(range({_SRP_BITS})) AS j) j
    GROUP BY ex.vec_id, j.j
),
code AS (
    SELECT vec_id,
           SUM(CASE WHEN s > 0 THEN (1::BIGINT << CAST(j AS INT))
                    ELSE 0 END) AS code
    FROM sj GROUP BY vec_id
),
qv(i, q) AS (VALUES {_SRP_Q_VALUES_SQL}),
dn AS (
    SELECT ex.vec_id,
           SUM(ex.dx * qv.q) AS dotd,
           SUM(ex.fx * ex.fx) AS nrm2
    FROM ex JOIN qv ON qv.i = ex.i
    GROUP BY ex.vec_id
)
SELECT dn.vec_id,
       round(CAST(dn.dotd AS DOUBLE) / {_SRP_QNORM!r}
             / sqrt(CAST(dn.nrm2 AS DOUBLE)), 6) AS cosine
FROM dn JOIN code c ON c.vec_id = dn.vec_id
WHERE c.code IN ({_SRP_PROBES_SQL})
ORDER BY cosine DESC, dn.vec_id
LIMIT {_SRP_K}
"""

@q(
    "x102_srp_portable",
    "OP-X3",
    "Signed-random-projection LSH ANN, ORACLE-CERTIFIED: 8 hyperplanes "
    "from the Knuth-hash sign family give every vector an 8-bit code "
    "via the SIGN of its exact fixed-point projection (scale-12 "
    "unscaled-long sums, the x30 idiom — an integer comparison, so "
    "bucketing is bit-identical across engines); the query's code and "
    "its Hamming<=2 multiprobe set are PYTHON-COMPUTED LITERALS "
    "(query = small-integer hash vector), so candidate pruning is a "
    "literal IN filter; exact cosine re-ranks candidates (scaled-long "
    "dot, decimal norm, IEEE sqrt+divides in fixed order). Closes the "
    "rows-only gap of x3_srp_topk for the algorithm. Plan shape: "
    "map-only scan -> filter -> TakeOrderedAndProject — ZERO "
    "exchanges; at 100 TB the probe filter prunes ~85% of the corpus "
    "before any arithmetic-heavy re-rank, and codes can be "
    "precomputed/partitioned like any LSH bucket column.",
    _SRP_ORACLE,
)
def x102_srp_portable(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    dims, mx = embedding_probe(spark, sf_dir)
    if dims is None:
        return e.select(
            "vec_id", F.lit(0.0).alias("cosine")
        ).filter(F.lit(False))
    # fixed-point domain guard (x30): elements must fit decimal(18,12)
    # and the worst sum (|q_i| <= 3 dot terms) must stay under 2^63.
    limit = min(1_000_000.0, 9.2e18 / (max(dims, 1) * 3 * 1e12))
    if mx is not None and mx >= limit:
        raise ValueError(
            f"x102_srp_portable fixed-point path needs |element| < "
            f"{limit:g} (saw {mx:g} over {dims} dims)"
        )
    scale = 1_000_000_000_000
    # norm elements at HALF scale (6 dp, *1e6 long): f^2 <= 2.5e11 per
    # term, 64-term sums ~1.6e13 — exact BIGINT with no decimal
    # multiplies in the squared sum.
    norm_scale = 1_000_000
    # Array + HOF form (round-10 codegen fix): the flat unrolled form
    # (129 scaled-long columns, 64-term tree sums per output) blew
    # janino's 64 KB generated-method limit whenever the session
    # attempts whole-stage codegen on the fused stage (maxFields=256,
    # i.e. the bench/production config), silently dropping the query
    # to interpreted evaluation. Packing the scaled elements into two
    # long ARRAYS and expressing every per-plane / dot / norm sum as
    # aggregate(zip_with(...)) against LITERAL sign/query arrays keeps
    # the generated method tiny and makes plan size independent of the
    # embedding width. Long sums are associative, so every value (and
    # the oracle hash) is bit-identical to the unrolled form.
    ev = F.transform(
        vec, lambda x: (x.cast("decimal(18,12)") * F.lit(scale)).cast("long")
    )
    fv = F.transform(
        vec,
        lambda x: (x.cast("decimal(9,6)") * F.lit(norm_scale)).cast("long"),
    )
    stage1 = e.filter(F.size("embedding") == dims).select(
        "vec_id", ev.alias("_ev"), fv.alias("_f")
    )

    zero = F.lit(0).cast("long")

    def lsum(arr):
        return F.aggregate(arr, zero, lambda acc, v: acc + v)

    code = None
    for j in range(_SRP_BITS):
        # plane with no support on this width: all-zero sign array ->
        # sum 0 -> bit 0 (same as the unrolled form's empty-terms case)
        sgn = F.array(
            *[F.lit(_srp_sign(i, j)).cast("long") for i in range(dims)]
        )
        psum = lsum(F.zip_with(F.col("_ev"), sgn, lambda x, s: x * s))
        bit = F.when(psum > 0, F.lit(1 << j)).otherwise(F.lit(0))
        code = bit if code is None else code + bit
    # dot only over the query's support (min(dims, QDIM) leading
    # elements — zip_with would NULL-pad a shorter literal array)
    dq = min(dims, _SRP_QDIM)
    qarr = F.array(*[F.lit(qv).cast("long") for qv in _SRP_Q[:dq]])
    dot = lsum(
        F.zip_with(F.slice(F.col("_ev"), 1, dq), qarr, lambda x, y: x * y)
    )
    nrm2 = lsum(F.zip_with(F.col("_f"), F.col("_f"), lambda x, y: x * y))
    # long norm sum / 1e12 is bit-identical to the oracle's
    # DECIMAL(.,12)->DOUBLE cast (both operands exactly representable,
    # one correctly-rounded IEEE divide — the x30 precedent)
    cosine = F.round(
        (dot.cast("double") / F.lit(float(scale)))
        / F.lit(_SRP_QNORM)
        / F.sqrt(nrm2.cast("double") / F.lit(float(scale))),
        6,
    )
    return (
        stage1.withColumn("_code", code)
        .filter(F.col("_code").isin(_SRP_PROBES))
        .select("vec_id", cosine.alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(_SRP_K)
    )


# ---------------------------------------------------------------------------
# x103 — degree-ordered triangle counting over the co-order part graph
# ---------------------------------------------------------------------------

_TRI_ORACLE = f"""
WITH pk AS (
    {COORDER_PK_SQL}
),
e AS (
    SELECT DISTINCT a.p AS u, b.p AS v
    FROM pk a JOIN pk b ON a.o = b.o AND a.p < b.p
),
deg AS (
    SELECT n, count(*) AS d FROM (
        SELECT u AS n FROM e UNION ALL SELECT v FROM e
    ) GROUP BY n
),
o AS (
    SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
           CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t,
           CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS dt
    FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
),
w AS (
    SELECT o1.t AS v1, o2.t AS v2
    FROM o o1 JOIN o o2
      ON o1.s = o2.s AND (o1.dt, o1.t) < (o2.dt, o2.t)
),
tri AS (
    SELECT count(*) AS n_triangles
    FROM w SEMI JOIN o ON o.s = w.v1 AND o.t = w.v2
)
SELECT (SELECT count(*) FROM deg) AS n_nodes,
       (SELECT count(*) FROM e) AS n_edges,
       (SELECT count(*) FROM w) AS n_wedges,
       tri.n_triangles
FROM tri
"""


@q(
    "x103_triangle_count",
    "OP-X2-ext",
    "Triangle counting over the co-order part graph (parts appearing "
    "in the same order are linked — the co-occurrence/market-basket "
    "graph), with the DEGREE-ORDERED edge orientation: every edge "
    "points from its (degree, id)-smaller endpoint, so wedges expand "
    "as sum C(outdeg, 2) with outdeg <= O(sqrt(E)) — the classic "
    "bound that makes exact triangle counting feasible at 100 TB "
    "(an unoriented wedge join explodes on hub nodes). Joins the "
    "graph-analytics family next to x43_pagerank/x58_components: "
    "3 hash-aggs + 2 node-keyed equi-joins, candidate wedges verified "
    "by ONE semi-join against the oriented edge list. The counters "
    "(nodes, edges, wedges, triangles) are all-BIGINT and certify "
    "construction, orientation AND closure against DuckDB.",
    _TRI_ORACLE,
)
def x103_triangle_count(spark, sf_dir):
    e = coorder_edges(load_table(spark, sf_dir, "lineitem"), min_weight=1)
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    ew = e.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = ew.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dt"),
    )
    o1, o2 = o.alias("o1"), o.alias("o2")
    w = o1.join(
        o2,
        (F.col("o1.s") == F.col("o2.s"))
        & (
            (F.col("o1.dt") < F.col("o2.dt"))
            | (
                (F.col("o1.dt") == F.col("o2.dt"))
                & (F.col("o1.t") < F.col("o2.t"))
            )
        ),
    ).select(F.col("o1.t").alias("v1"), F.col("o2.t").alias("v2"))
    tri = w.join(
        o,
        (o.s == w.v1) & (o.t == w.v2),
        "left_semi",
    ).agg(F.count("*").alias("n_triangles"))
    counts = (
        deg.agg(F.count("*").alias("n_nodes"))
        .crossJoin(e.agg(F.count("*").alias("n_edges")))
        .crossJoin(w.agg(F.count("*").alias("n_wedges")))
        .crossJoin(tri)
    )
    return counts.select("n_nodes", "n_edges", "n_wedges", "n_triangles")


# ---------------------------------------------------------------------------
# x104 — equi-depth histogram via pre-aggregated fine bins
# ---------------------------------------------------------------------------

_ED_BUCKETS = 8
_ED_BIN_CENTS = 409600  # 4096.00 currency units per fine bin

_ED_ORACLE = f"""
WITH cents AS (
    SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
),
fine AS (
    SELECT c // {_ED_BIN_CENTS} AS bin, count(*) AS cnt
    FROM cents GROUP BY bin
),
cum AS (
    SELECT bin, cnt,
           SUM(cnt) OVER (ORDER BY bin) - cnt AS cum_before,
           (SELECT SUM(cnt) FROM fine) AS total
    FROM fine
),
assigned AS (
    SELECT least((cum_before * {_ED_BUCKETS}) // total,
                 {_ED_BUCKETS - 1}) AS bucket,
           bin, cnt
    FROM cum
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       CAST(min(bin) * {_ED_BIN_CENTS} AS BIGINT) AS lo_cents,
       CAST((max(bin) + 1) * {_ED_BIN_CENTS} AS BIGINT) AS hi_cents
FROM assigned GROUP BY bucket ORDER BY bucket
"""


@q(
    "x104_equidepth_histogram",
    "OP-G6-ext",
    "Equi-depth (quantile-bucket) histogram of order totals — the "
    "statistics-collection dual of x13's equi-width histogram (ANALYZE "
    "collects exactly this shape for selectivity estimation; "
    "equi-width buckets starve on skewed value ranges). Computed the "
    "SCALABLE two-pass way: ONE corpus hash-agg onto ~120 fine "
    "integer bins (exact cents arithmetic — no float bin edges), then "
    "the cumulative-count bucket assignment runs over the BIN-COUNT-"
    "sized frame (the x74/x77 aggregate-first window idiom: the "
    "global sort a direct ntile would need over raw rows never "
    "happens; at 100 TB the second pass touches thousands of rows, "
    "not billions). Bucket boundaries are exact integer bin edges; "
    "populations are within one fine-bin of n/8 by construction.",
    _ED_ORACLE,
)
def x104_equidepth_histogram(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    fine = (
        o.select(F.expr(f"CAST(round(o_totalprice * 100) AS BIGINT) div {_ED_BIN_CENTS}").alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    total_w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = fine.select(
        "bin",
        "cnt",
        (F.sum("cnt").over(w) - F.col("cnt")).alias("cum_before"),
        F.sum("cnt").over(total_w).alias("total"),
    )
    bucket = F.least(
        F.expr(f"(cum_before * {_ED_BUCKETS}) div total"),
        F.lit(_ED_BUCKETS - 1).cast("long"),
    )
    return (
        cum.select(bucket.alias("bucket"), "bin", "cnt")
        .groupBy("bucket")
        .agg(
            F.sum("cnt").cast("long").alias("n_rows"),
            (F.min("bin") * _ED_BIN_CENTS).cast("long").alias("lo_cents"),
            ((F.max("bin") + 1) * _ED_BIN_CENTS).cast("long").alias("hi_cents"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# x105 — product quantization (ADC) ANN, portable + oracle-certified
# ---------------------------------------------------------------------------

_PQ_NSUB = 8  # subspaces (dims/8 each at width 64)
_PQ_SUBDIM = 8
_PQ_SIGNBITS = 4  # 16 codes per subspace
_PQ_G = 0.25  # grid magnitude of the deterministic codebook
_PQ_SHORTLIST = 20
_PQ_TOPK = 5

# Query: exact-6dp rationals from the hash family (|q_i| <= 0.75)
_PQ_Q = [((((i * _KNUTH) % 7) - 3) / 4.0) for i in range(_SRP_QDIM)]


def _pq_centroid(code: int) -> list[float]:
    """Grid centroid: sign pattern of `code` on the first 4 coords at
    magnitude g, zero elsewhere. Nearest-centroid assignment under L2
    then reduces to 4 per-coordinate sign tests (exact integer math):
    ||x-c||^2 = sum_{i<4} (x_i -+ g)^2 + const, minimized coordinatewise."""
    return [
        (_PQ_G if (code >> i) & 1 else -_PQ_G) if i < _PQ_SIGNBITS else 0.0
        for i in range(_PQ_SUBDIM)
    ]


# ADC lookup table: LUT[sub][code] = ||q_sub - centroid(code)||^2 —
# PYTHON-computed double literals (query and codebook are both
# compile-time), so neither engine evaluates anything but a literal
# array index at run time.
_PQ_LUT = [
    [
        round(
            sum(
                (
                    _PQ_Q[sub * _PQ_SUBDIM + i] - c
                ) ** 2
                for i, c in enumerate(_pq_centroid(code))
            ),
            12,
        )
        for code in range(1 << _PQ_SIGNBITS)
    ]
    for sub in range(_PQ_NSUB)
]
_PQ_Q_SCALED = [round(v * 1_000_000) for v in _PQ_Q]  # exact 6dp ints

# per-subspace: literal-LUT index from sign bits of the 4 leading
# coords (both engines test the SAME stored float value's sign)
_PQ_ADC_SQL = " + ".join(
    f"(([{', '.join(repr(v) for v in _PQ_LUT[sub])}])"
    f"[1 + " + " + ".join(
        f"(CASE WHEN embedding[{sub * _PQ_SUBDIM + b + 1}] >= 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(_PQ_SIGNBITS)
    )
    + "])"
    for sub in range(_PQ_NSUB)
)

_PQ_DIFF_SQL = " + ".join(
    f"(CAST(CAST(embedding[{i + 1}] AS DECIMAL(9,6)) * 1000000 AS BIGINT)"
    f" - ({_PQ_Q_SCALED[i]})) * "
    f"(CAST(CAST(embedding[{i + 1}] AS DECIMAL(9,6)) * 1000000 AS BIGINT)"
    f" - ({_PQ_Q_SCALED[i]}))"
    for i in range(_SRP_QDIM)
)

_PQ_ORACLE = f"""
WITH base AS (
    SELECT vec_id, embedding FROM embeddings
    WHERE len(embedding) = (SELECT max(len(embedding)) FROM embeddings)
),
adc AS (
    SELECT vec_id, embedding, round({_PQ_ADC_SQL}, 6) AS adc
    FROM base
),
short AS (
    SELECT vec_id, embedding, adc FROM adc
    ORDER BY adc, vec_id LIMIT {_PQ_SHORTLIST}
),
refined AS (
    SELECT vec_id, adc,
           round(sqrt(CAST({_PQ_DIFF_SQL} AS DOUBLE) / 1000000000000.0), 6)
               AS dist
    FROM short
)
SELECT vec_id, adc, dist FROM refined
ORDER BY dist, vec_id LIMIT {_PQ_TOPK}
"""


@q(
    "x105_pq_portable",
    "OP-X3-ext",
    "Product-quantization ANN (ADC) oracle-certified — the portable "
    "twin of x62_pq_topk (whose k-means codebooks are data-fitted and "
    "rows-only checked): 8 subspaces x 16 grid centroids whose "
    "nearest-centroid ENCODE reduces to exact per-coordinate sign "
    "tests, an asymmetric-distance LOOKUP TABLE of Python-computed "
    "literals (query and codebook are compile-time, so scoring a "
    "vector is 8 literal-array indexes + 7 adds — the ADC trick that "
    "makes PQ scan compressed codes instead of vectors), a "
    "shortlist-20 by ADC, then EXACT fixed-point L2 refinement of the "
    "shortlist (half-scale integer diffs, one IEEE sqrt) to top-5. "
    "Plan: map-only scan -> TakeOrderedAndProject shortlist -> 20-row "
    "refine — zero exchanges; at 100 TB the ADC pass reads only the "
    "code columns' bytes and the exact re-rank touches 20 vectors.",
    _PQ_ORACLE,
)
def x105_pq_portable(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    dims, _mx = embedding_probe(spark, sf_dir)
    if dims is None:
        return e.select(
            "vec_id", F.lit(0.0).alias("adc"), F.lit(0.0).alias("dist")
        ).filter(F.lit(False))
    if dims < _PQ_NSUB * _PQ_SUBDIM:
        raise ValueError(
            f"x105_pq_portable needs width >= {_PQ_NSUB * _PQ_SUBDIM} "
            f"(saw {dims}); regrid the subspace geometry for this table"
        )
    vec = F.col("embedding").cast("array<double>")
    base = e.filter(F.size("embedding") == dims)
    adc = None
    for sub in range(_PQ_NSUB):
        code = None
        for b in range(_PQ_SIGNBITS):
            i = sub * _PQ_SUBDIM + b
            bit = F.when(
                F.element_at(vec, i + 1) >= 0, F.lit(1 << b)
            ).otherwise(F.lit(0))
            code = bit if code is None else code + bit
        term = F.element_at(
            F.array(*[F.lit(v) for v in _PQ_LUT[sub]]), code + 1
        )
        adc = term if adc is None else adc + term
    short = (
        base.select("vec_id", "embedding", F.round(adc, 6).alias("adc"))
        .orderBy("adc", "vec_id")
        .limit(_PQ_SHORTLIST)
    )
    diff = None
    for i in range(min(dims, _SRP_QDIM)):
        f = (
            F.element_at(vec, i + 1).cast("decimal(9,6)") * F.lit(1_000_000)
        ).cast("long") - F.lit(_PQ_Q_SCALED[i])
        t = f * f
        diff = t if diff is None else diff + t
    dist = F.round(
        F.sqrt(diff.cast("double") / F.lit(1_000_000_000_000.0)), 6
    )
    return (
        short.select("vec_id", "adc", dist.alias("dist"))
        .orderBy("dist", "vec_id")
        .limit(_PQ_TOPK)
    )


# ---------------------------------------------------------------------------
# x106 — per-key interval-overlap self-join (order activity windows)
# ---------------------------------------------------------------------------

_IV_DAYS = 30

_IV_ORACLE = f"""
WITH iv AS (
    SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS s
    FROM orders
),
p AS (
    SELECT a.o_custkey,
           {_IV_DAYS} - abs(date_diff('day', a.s, b.s)) AS overlap_days
    FROM iv a JOIN iv b
      ON a.o_custkey = b.o_custkey
     AND a.o_orderkey < b.o_orderkey
     AND abs(date_diff('day', a.s, b.s)) < {_IV_DAYS}
)
SELECT o_custkey,
       CAST(count(*) AS BIGINT) AS n_overlaps,
       CAST(SUM(overlap_days) AS BIGINT) AS sum_overlap_days
FROM p GROUP BY o_custkey ORDER BY o_custkey
"""


@q(
    "x106_interval_overlap",
    "OP-J-ext",
    "Interval-overlap SELF-join per key: each order opens a 30-day "
    "activity window; pairs of overlapping windows of the SAME "
    "customer are counted with their exact overlap length — the "
    "concurrent-sessions/overlapping-reservations primitive that "
    "completes the temporal-join family (xj_asof_join: nearest "
    "preceding; xj_range_join: point-in-range; this: range-vs-range). "
    "Two fixed-width intervals overlap iff |start_a - start_b| < "
    "width, so the predicate is ONE exact integer day-diff — no "
    "interval algebra, no tz math (DATE-granularity arithmetic). "
    "Scale: the join is EQUI on the customer key (group-keyed "
    "shuffle, bounded per-customer fan-out) — never a global range "
    "join; for unkeyed interval sets the xj_range_join binning "
    "strategy applies instead.",
    _IV_ORACLE,
)
def x106_interval_overlap(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    iv = o.select(
        "o_custkey",
        "o_orderkey",
        F.to_date("o_orderdate").alias("s"),
    )
    a, b = iv.alias("a"), iv.alias("b")
    dd = F.abs(F.datediff(F.col("a.s"), F.col("b.s")))
    p = a.join(
        b,
        (F.col("a.o_custkey") == F.col("b.o_custkey"))
        & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
        & (dd < _IV_DAYS),
    ).select(
        F.col("a.o_custkey").alias("o_custkey"),
        (F.lit(_IV_DAYS) - dd).alias("overlap_days"),
    )
    return (
        p.groupBy("o_custkey")
        .agg(
            F.count("*").cast("long").alias("n_overlaps"),
            F.sum("overlap_days").cast("long").alias("sum_overlap_days"),
        )
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# x107 — banded-SRP embedding near-dup pairs, portable + oracle-certified
# ---------------------------------------------------------------------------

_ND_BANDS = 2  # 2 bands x 4 SRP bits: candidates share >= 1 band
_ND_BAND_BITS = _SRP_BITS // _ND_BANDS
_ND_TAU = 0.4

_ND_FX_SQL = (
    "list_transform(embedding, x -> CAST(CAST(CAST(x AS DOUBLE) "
    "AS DECIMAL(9,6)) * 1000000 AS BIGINT))"
)

_ND_ORACLE = f"""
WITH ex AS (
    SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
           CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(18,12)) AS dx
    FROM embeddings
    WHERE len(embedding) = (SELECT max(len(embedding)) FROM embeddings)
),
sj AS (
    SELECT ex.vec_id, j.j,
           SUM(CASE WHEN {_SRP_SIGN_SQL} = 0 THEN ex.dx
                    WHEN {_SRP_SIGN_SQL} = 1 THEN -ex.dx
                    ELSE 0 END) AS s
    FROM ex CROSS JOIN (SELECT unnest(range({_SRP_BITS})) AS j) j
    GROUP BY ex.vec_id, j.j
),
code AS (
    SELECT vec_id,
           SUM(CASE WHEN s > 0 THEN (1::BIGINT << CAST(j AS INT))
                    ELSE 0 END) AS code
    FROM sj GROUP BY vec_id
),
bands AS (
    SELECT vec_id, b.b AS band,
           (code >> CAST(b.b * {_ND_BAND_BITS} AS INT))
               % {1 << _ND_BAND_BITS} AS key
    FROM code CROSS JOIN (SELECT unnest(range({_ND_BANDS})) AS b) b
),
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
),
fx AS (
    SELECT vec_id, {_ND_FX_SQL} AS f FROM embeddings
    WHERE len(embedding) = (SELECT max(len(embedding)) FROM embeddings)
),
ver AS (
    SELECT c.id_a, c.id_b,
           round(CAST(list_dot_product(fa.f, fb.f) AS DOUBLE)
                     / 1000000000000.0
                 / sqrt(CAST(list_dot_product(fa.f, fa.f) AS DOUBLE)
                        / 1000000000000.0)
                 / sqrt(CAST(list_dot_product(fb.f, fb.f) AS DOUBLE)
                        / 1000000000000.0), 6) AS cosine
    FROM cand c
    JOIN fx fa ON fa.vec_id = c.id_a
    JOIN fx fb ON fb.vec_id = c.id_b
)
SELECT id_a, id_b, cosine FROM ver
WHERE cosine >= {_ND_TAU!r}
ORDER BY id_a, id_b
"""


@q(
    "x107_embed_neardup_portable",
    "OP-X2/OP-X3",
    "Embedding near-dup PAIRS via banded SRP-LSH, ORACLE-CERTIFIED — "
    "the portable twin of x3_near_pairs, completing the portable "
    "program: every non-streaming rows-only sketch/LSH entry now has "
    "a hash-certified oracle twin. Each vector's 8 SRP sign bits "
    "(exact fixed-point projections, x102's planes) split into 2 "
    "bands of 4; candidate pairs share >= 1 band key (the standard "
    "multi-table SRP deployment — measured 85% pair-space pruning on "
    "this corpus), then exact fixed-point cosine verifies candidates "
    "(6-dp scaled-long element products stay under 2^53, so even the "
    "oracle's double list_dot_product is integer-exact). Scale: "
    "banding is one (band, key)-keyed self-join — never all-pairs — "
    "and the verify moves only candidate rows; the band count tunes "
    "the recall/cost point exactly like MinHash-LSH's geometry.",
    _ND_ORACLE,
)
def x107_embed_neardup_portable(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    dims, mx = embedding_probe(spark, sf_dir)
    if dims is None:
        return e.select(
            F.col("vec_id").alias("id_a"),
            F.col("vec_id").alias("id_b"),
            F.lit(0.0).alias("cosine"),
        ).filter(F.lit(False))
    limit = min(1_000_000.0, 9.2e18 / (max(dims, 1) * 3 * 1e12))
    if mx is not None and mx >= limit:
        raise ValueError(
            f"x107_embed_neardup_portable fixed-point path needs "
            f"|element| < {limit:g} (saw {mx:g} over {dims} dims)"
        )
    vec = F.col("embedding").cast("array<double>")
    scale = 1_000_000_000_000
    elems = [
        (F.element_at(vec, i + 1).cast("decimal(18,12)") * F.lit(scale))
        .cast("long")
        .alias(f"_e{i}")
        for i in range(dims)
    ]
    felems = [
        (F.element_at(vec, i + 1).cast("decimal(9,6)") * F.lit(1_000_000))
        .cast("long")
        for i in range(dims)
    ]
    stage1 = e.filter(F.size("embedding") == dims).select(
        "vec_id", F.array(*felems).alias("f"), *elems
    )

    code = None
    for j in range(_SRP_BITS):
        terms = []
        for i in range(dims):
            s = _srp_sign(i, j)
            if s == 1:
                terms.append(F.col(f"_e{i}"))
            elif s == -1:
                terms.append(-F.col(f"_e{i}"))
        bit = (
            F.when(tree_sum(terms) > 0, F.lit(1 << j)).otherwise(F.lit(0))
            if terms
            else F.lit(0)
        )
        code = bit if code is None else code + bit
    # eager lineage cut (the x91 lesson): the coded frame feeds the
    # band explode AND both verify sides with different columns
    coded = stage1.select(
        "vec_id", "f", code.alias("_code")
    ).localCheckpoint(eager=True)
    bands = coded.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.expr(
                        f"(_code >> {b * _ND_BAND_BITS})"
                        f" % {1 << _ND_BAND_BITS}"
                    )
                    for b in range(_ND_BANDS)
                ]
            )
        ).alias("band", "key"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b")
        )
        .distinct()
    )
    fa = coded.select(F.col("vec_id").alias("id_a"), F.col("f").alias("fa"))
    fb = coded.select(F.col("vec_id").alias("id_b"), F.col("f").alias("fb"))
    dot = F.expr(
        "aggregate(zip_with(fa, fb, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    )
    na2 = F.expr(
        "aggregate(zip_with(fa, fa, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    )
    nb2 = F.expr(
        "aggregate(zip_with(fb, fb, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    )
    cosine = F.round(
        (dot.cast("double") / F.lit(float(scale)))
        / F.sqrt(na2.cast("double") / F.lit(float(scale)))
        / F.sqrt(nb2.cast("double") / F.lit(float(scale))),
        6,
    )
    return (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .select("id_a", "id_b", cosine.alias("cosine"))
        .filter(F.col("cosine") >= _ND_TAU)
        .orderBy("id_a", "id_b")
    )
