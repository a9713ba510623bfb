"""Extension operators (SURVEY §2.10) registered into the t2 catalog:
dedup, similarity search, text analysis — each oracle-checked where the
semantics are SQL-expressible, harness-checked (rows-only) where
randomized/approximate.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ravelytics_spark.functions import text as TX
from ravelytics_spark.functions.vectors import cosine, dot
from ravelytics_spark.operators import dedup as DD
from ravelytics_spark.operators import similarity as SIM
from ravelytics_spark.plans.registry import REGISTRY, Query, _dsum, _dsum_sql, q
from ravelytics_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# OP-X1 — exact dedup
# ---------------------------------------------------------------------------


@q(
    "x1_dedup_exact",
    "OP-X1",
    "Exact dedup, keep-min-id form (deterministic): one hash-agg shuffle, "
    "map-side combined.",
    "SELECT text, min(doc_id) AS keep_id FROM documents GROUP BY text ORDER BY keep_id",
)
def x1_dedup_exact(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("text").agg(F.min("doc_id").alias("keep_id")).orderBy("keep_id")


@q(
    "x1b_dedup_rows",
    "OP-X1",
    "Exact dedup returning whole surviving rows (first-ingested-wins) via "
    "the dedup_exact operator (window row_number form).",
    "SELECT doc_id, text, lang, source FROM documents "
    "QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1 "
    "ORDER BY doc_id",
)
def x1b_dedup_rows(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return (
        DD.dedup_exact(d, ["text"], keep_by="doc_id")
        .select("doc_id", "text", "lang", "source")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# OP-X2 — n-gram Jaccard (exact pair math; LSH variants are harness+property)
# ---------------------------------------------------------------------------

_JACCARD_ORACLE = """
WITH d AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id % 100 = 0
),
sh AS (
    SELECT doc_id,
           list_distinct(CASE WHEN len(w) >= 5
               THEN list_transform(range(1, len(w) - 3), i -> array_to_string(w[i:i+4], ' '))
               ELSE [array_to_string(w, ' ')] END) AS s
    FROM d
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
           / len(list_distinct(a.s || b.s)) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
ORDER BY id_a, id_b
"""


@q(
    "x2_ngram_jaccard",
    "OP-X2",
    "Exact 5-gram Jaccard similarity over a deterministic document subset "
    "— certifies the pair math that LSH candidates are verified with.",
    _JACCARD_ORACLE,
)
def x2_ngram_jaccard(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 100 == 0)
    sh = d.select(
        "doc_id", F.array_distinct(TX.shingles("text", 5)).alias("s")
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sa", "sb")).cast("double")
                / F.size(F.array_union("sa", "sb")).cast("double")
            ).alias("jaccard"),
        )
        .orderBy("id_a", "id_b")
    )


_CONTAINMENT_ORACLE = """
WITH d AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id % 100 = 0
),
sh AS (
    SELECT doc_id,
           list_distinct(CASE WHEN len(w) >= 5
               THEN list_transform(range(1, len(w) - 3), i -> array_to_string(w[i:i+4], ' '))
               ELSE [array_to_string(w, ' ')] END) AS s
    FROM d
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
           / least(len(a.s), len(b.s)) AS containment
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
ORDER BY id_a, id_b
"""


@q(
    "x2_containment",
    "OP-X2",
    "Shingle containment |A∩B|/min(|A|,|B|) over the deterministic "
    "subset — catches subset-duplication (quotes, partial copies) that "
    "Jaccard under-scores.",
    _CONTAINMENT_ORACLE,
)
def x2_containment(spark, sf_dir):
    # all-pairs form over the tiny subset (mirrors the oracle, which
    # keeps zero-overlap pairs).
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 100 == 0)
    sh = d.select("doc_id", F.array_distinct(TX.shingles("text", 5)).alias("s"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sa", "sb")).cast("double")
                / F.least(F.size("sa"), F.size("sb")).cast("double")
            ).alias("containment"),
        )
        .orderBy("id_a", "id_b")
    )


@q(
    "x2_minhash_lsh",
    "OP-X2",
    "MinHash(64) + LSH(16 bands) near-dup pipeline with exact-Jaccard "
    "verification. Deterministic seeded hashing but recall is probabilistic "
    "→ harness rows-check + planted-duplicate property tests.",
    None,
)
def x2_minhash_lsh(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return DD.minhash_dedup_pairs(d, "doc_id", "text", n=5, threshold=0.5).orderBy(
        "id_a", "id_b"
    )


@q(
    "x2_simhash",
    "OP-X2",
    "SimHash-64 signatures + Hamming≤3 near-pairs via 16-bit block "
    "pigeonhole join. Harness rows-check (bit-level hash not portable).",
    None,
)
def x2_simhash(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    sigs = DD.simhash_signatures(d, "doc_id", "text")
    # Explicit hot-bucket cap: the library default is None (complete
    # for the radius), but this CATALOG/benchmark call site relies on
    # bounded cost — a dense corpus packs ~C(bucket,2) candidate pairs
    # per 16-bit block bucket without it. 2000 never binds at test SFs
    # (buckets are tiny) and the cap's only blind spot — exact-dup
    # clusters larger than the cap — is removed by running exact dedup
    # first (see simhash_near_pairs docstring).
    return DD.simhash_near_pairs(
        sigs, max_hamming=3, max_bucket_size=2000
    ).orderBy("id_a", "id_b")


@q(
    "x2_simhash_multitable",
    "OP-X2",
    "SimHash near-pairs via Manku-style multi-table block-combination "
    "keys (C(6,3)=20 tables of ~32-bit 3-sixth concatenations) — the "
    "dense-corpus (>~10M signatures) candidate generator; complete for "
    "the radius by pigeonhole (up to the hot-bucket cap, which binds "
    "only on exact-dup clusters — dedup exactly first) and "
    "equivalence-tested against the block scheme. Harness rows-check "
    "(bit-level hash not portable).",
    None,
)
def x2_simhash_multitable(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    sigs = DD.simhash_signatures(d, "doc_id", "text")
    # Same explicit cap rationale as x2_simhash: catalog call sites
    # keep the bounded-cost contract; the library default stays None
    # for completeness.
    return DD.simhash_near_pairs_multitable(
        sigs, max_hamming=3, max_bucket_size=2000
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# OP-X3 — vector similarity
# ---------------------------------------------------------------------------


@q(
    "x2_dup_clusters",
    "OP-X2",
    "Transitive near-dup clusters: MinHash pairs → iterative hash-min "
    "connected components → keep min id per cluster. Iterative (non-SQL-"
    "expressible) → harness rows-check + chain-merge property tests.",
    None,
)
def x2_dup_clusters(spark, sf_dir):
    from ravelytics_spark.operators.clusters import dedup_by_clusters

    d = load_table(spark, sf_dir, "documents")
    pairs = DD.minhash_dedup_pairs(d, "doc_id", "text", threshold=0.5)
    return dedup_by_clusters(d, pairs, "doc_id").select("doc_id").orderBy("doc_id")


@q(
    "x3_self_dot",
    "OP-X3",
    "Self dot product in double with sequential fold — certifies the "
    "dot/cosine kernel against DuckDB's list arithmetic; rounded to "
    "escape FP accumulation-order noise.",
    "SELECT vec_id, round(list_sum(list_transform(embedding, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 4) AS self_dot "
    "FROM embeddings ORDER BY vec_id",
)
def x3_self_dot(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", F.round(dot("embedding", "embedding"), 4).alias("self_dot")
    ).orderBy("vec_id")


# Deterministic 64-dim probe vector: 1 in dim 0/16/32/48, else 0.
_PROBE = [1.0 if i % 16 == 0 else 0.0 for i in range(64)]
_PROBE_SQL = "[" + ", ".join(str(x) for x in _PROBE) + "]"

_TOPK_ORACLE = f"""
WITH q AS (SELECT {_PROBE_SQL}::DOUBLE[] AS qv),
scored AS (
    SELECT vec_id,
        round(
            list_sum(list_transform(list_zip(embedding, (SELECT qv FROM q)),
                     p -> CAST(p[1] AS DOUBLE) * p[2]))
            / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)))
               * sqrt(list_sum((SELECT list_transform(qv, x -> x * x) FROM q)))),
        4) AS cos_sim
    FROM embeddings
)
SELECT vec_id, cos_sim FROM scored ORDER BY cos_sim DESC, vec_id LIMIT 10
"""


@q(
    "x3_cosine_topk",
    "OP-X3",
    "Brute-force cosine top-k against a constant probe vector: map-only "
    "score + TakeOrderedAndProject (per-partition heaps, no global sort).",
    _TOPK_ORACLE,
)
def x3_cosine_topk(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    qv = F.array(*[F.lit(x) for x in _PROBE])
    return (
        e.select("vec_id", F.round(cosine("embedding", qv), 4).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


@q(
    "x3_srp_topk",
    "OP-X3",
    "Approximate top-k via signed-random-projection LSH bucket + exact "
    "re-rank. Deterministic hyperplanes but approximate recall → harness "
    "rows-check + property tests.",
    None,
)
def x3_srp_topk(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.srp_topk(e, "embedding", _PROBE, dim=64, k=10, num_planes=6)


@q(
    "x3_ivf_topk",
    "OP-X3",
    "IVF two-stage ANN: deterministic centroids, probe 4/16 cells, exact "
    "re-rank. Harness rows-check + recall property tests.",
    None,
)
def x3_ivf_topk(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.ivf_topk(e, "embedding", _PROBE, k=10, n_cells=16, n_probe=4)


@q(
    "x3_near_pairs",
    "OP-X2/OP-X3",
    "Embedding-cosine near-dup pairs: SRP bucket self-join + exact "
    "verification. Harness rows-check; certified twins: "
    "x107_embed_neardup_portable (banded-SRP algebra over organic "
    "candidates) + x362_planted_near_pairs (end-to-end recall on a "
    "deterministic planted corpus — the shipped data has zero organic "
    "cos>=0.9 pairs, so only planting exercises the find path).",
    None,
)
def x3_near_pairs(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.embedding_near_pairs(e, "embedding", dim=64, threshold=0.9, num_planes=10)


# ---------------------------------------------------------------------------
# OP-X4 — text analysis
# ---------------------------------------------------------------------------


@q(
    "x4_word_count",
    "OP-X4",
    "Corpus word frequencies (explode → count), top-50.",
    "SELECT w, count(*) AS c FROM (SELECT unnest(string_split(lower(text), ' ')) AS w "
    "FROM documents) GROUP BY w HAVING count(*) > 1 ORDER BY c DESC, w LIMIT 50",
)
def x4_word_count(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .groupBy("w")
        .count()
        .withColumnRenamed("count", "c")
        .filter(F.col("c") > 1)
        .orderBy(F.desc("c"), "w")
        .limit(50)
    )


@q(
    "x4_token_stats",
    "OP-X4",
    "Token counting: whitespace and BPE-ish regex tokenizers.",
    "SELECT doc_id, len(list_filter(string_split_regex(text, '\\s+'), w -> w <> '')) AS n_ws, "
    r"len(regexp_extract_all(text, '''?[\p{L}]+|[\p{N}]+|[^\s\p{L}\p{N}]')) AS n_bpe, "
    "CAST(length(text) AS BIGINT) AS n_chars FROM documents ORDER BY doc_id",
)
def x4_token_stats(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.token_count("text").alias("n_ws"),
        F.size(TX.tokenize_bpe_ish("text")).cast("long").alias("n_bpe"),
        F.length("text").cast("long").alias("n_chars"),
    ).orderBy("doc_id")


_STOP_SQL = "['" + "', '".join(TX.ENGLISH_STOPWORDS) + "']"

_QUALITY_ORACLE = f"""
WITH t AS (
    SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS toks
    FROM documents
),
m AS (
    SELECT doc_id,
        len(toks) AS n,
        CASE WHEN len(toks) > 0 THEN CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE) / len(toks) ELSE 0.0 END AS mwl,
        CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, w -> list_contains({_STOP_SQL}, lower(w)))) AS DOUBLE) / len(toks) ELSE 0.0 END AS stop_ratio
    FROM t
)
SELECT doc_id,
    least(CAST(n AS DOUBLE) / 64.0, 1.0)
    * (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END)
    * (CASE WHEN stop_ratio > 0.8 THEN 0.25 ELSE 1.0 END) AS quality
FROM m ORDER BY doc_id
"""


@q(
    "x4_quality_score",
    "OP-X4",
    "Heuristic quality scoring (length/word-shape/stopword density) — "
    "identical rational arithmetic on both engines.",
    _QUALITY_ORACLE,
)
def x4_quality_score(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return TX.quality_score_agg(d, "doc_id", "text").orderBy("doc_id")


@q(
    "x4_fingerprint",
    "OP-X4",
    "Document fingerprint: md5 hex (identical across engines).",
    "SELECT doc_id, md5(text) AS fp FROM documents ORDER BY doc_id",
)
def x4_fingerprint(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", TX.fingerprint_md5("text").alias("fp")).orderBy("doc_id")


_MARKER_SQL = {
    lang: "['" + "', '".join(markers) + "']" for lang, markers in TX.LANG_MARKERS.items()
}

_LANGID_ORACLE = f"""
WITH t AS (
    SELECT doc_id,
           list_transform(list_filter(string_split_regex(text, '\\s+'), w -> w <> ''),
                          w -> lower(w)) AS toks
    FROM documents
),
s AS (
    SELECT doc_id,
        len(list_filter(toks, w -> list_contains({_MARKER_SQL['en']}, w))) AS en,
        len(list_filter(toks, w -> list_contains({_MARKER_SQL['de']}, w))) AS de,
        len(list_filter(toks, w -> list_contains({_MARKER_SQL['fr']}, w))) AS fr,
        len(list_filter(toks, w -> list_contains({_MARKER_SQL['es']}, w))) AS es
    FROM t
)
SELECT doc_id,
    CASE WHEN greatest(en, de, fr, es) = 0 THEN 'und'
         WHEN en = greatest(en, de, fr, es) THEN 'en'
         WHEN de = greatest(de, fr, es) THEN 'de'
         WHEN fr = greatest(fr, es) THEN 'fr'
         ELSE 'es' END AS lang_pred
FROM s ORDER BY doc_id
"""


@q(
    "x4_lang_id",
    "OP-X4",
    "Stopword-marker language ID with deterministic argmax tie-break "
    "(first maximal language in en,de,fr,es order).",
    _LANGID_ORACLE,
)
def x4_lang_id(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return TX.lang_id_agg(d, "doc_id", "text").orderBy("doc_id")


# ---------------------------------------------------------------------------
# As-of / range joins (time-series surface Spark lacks natively)
# ---------------------------------------------------------------------------


@q(
    "xj_asof_join",
    "OP-J-ext",
    "Backward as-of join (latest prior purchase per event) via the "
    "union-window composition: one shuffle on the key, no range "
    "explosion. Oracle: DuckDB native ASOF LEFT JOIN.",
    "SELECT a.event_id, CAST(p.ts AS TIMESTAMP) AS purchase_ts, "
    "p.value AS purchase_value "
    "FROM events a ASOF LEFT JOIN "
    "(SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p "
    "ON a.user_id = p.user_id AND a.ts >= p.ts "
    "ORDER BY a.event_id",
)
def xj_asof_join(spark, sf_dir):
    from ravelytics_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    joined = asof_join(
        ev,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["purchase_ts", "purchase_value"],
    )
    return joined.select("event_id", "purchase_ts", "purchase_value").orderBy("event_id")


@q(
    "xj_range_join",
    "OP-J-ext",
    "Range join (pairs of same-user events within 30 min) as a binned "
    "equi-join: bucket both sides to the window width, probe adjacent "
    "buckets, exact filter after — a theta join becomes one shuffle.",
    # exact MICROSECOND difference, not date_diff('second'):
    # date_diff counts boundary crossings, so with fractional-second
    # timestamps an exact gap of 1800.2s can cross only 1800 boundaries
    # and the oracle would include a pair the exact-seconds Spark filter
    # excludes (same class as the x39 session-gap fix; micros are exact
    # here because the corpus has no sub-microsecond components).
    "SELECT a.event_id AS event_a, b.event_id AS event_b "
    "FROM events a JOIN events b ON a.user_id = b.user_id "
    "AND a.event_id < b.event_id "
    "AND abs(date_diff('microsecond', b.ts, a.ts)) <= 1800000000 "
    "ORDER BY event_a, event_b",
)
def xj_range_join(spark, sf_dir):
    from ravelytics_spark.operators.asof import range_join_binned

    ev = load_table(spark, sf_dir, "events")
    a = ev.select(F.col("event_id").alias("event_a"), "user_id", F.col("ts").alias("ts_a"))
    b = ev.select(F.col("event_id").alias("event_b"), "user_id", F.col("ts").alias("ts_b"))
    joined = range_join_binned(a, b, on="user_id", left_ts="ts_a", right_ts="ts_b", window_s=1800)
    return (
        joined.filter(F.col("event_a") < F.col("event_b"))
        .select("event_a", "event_b")
        .orderBy("event_a", "event_b")
    )


@q(
    "xt_resample_ffill",
    "OP-T-ext",
    "Time-grid resampling with forward-fill (gap filling): per-user "
    "hourly grid, latest at-or-before value on each point — "
    "sequence-explode grid + as-of join. Oracle: generate_series + "
    "native ASOF.",
    "WITH b AS (SELECT user_id, min(ts) AS lo, max(ts) AS hi FROM events GROUP BY user_id), "
    "grid AS (SELECT user_id, unnest(generate_series("
    "CAST(to_timestamp(floor(epoch(lo)/3600)*3600) AS TIMESTAMP), "
    "CAST(to_timestamp(floor(epoch(hi)/3600)*3600) AS TIMESTAMP), "
    "INTERVAL 1 HOUR)) AS grid_ts FROM b) "
    "SELECT g.user_id, g.grid_ts, e.value AS filled_value "
    "FROM grid g ASOF LEFT JOIN events e "
    "ON g.user_id = e.user_id AND g.grid_ts >= e.ts "
    "ORDER BY g.user_id, g.grid_ts",
)
def xt_resample_ffill(spark, sf_dir):
    from ravelytics_spark.operators.resample import resample_ffill

    ev = load_table(spark, sf_dir, "events")
    return resample_ffill(ev, key="user_id", ts="ts", value="value", step_s=3600).orderBy(
        "user_id", "grid_ts"
    )


# ---------------------------------------------------------------------------
# Sessionization (OP-W3 consumer; events stream)
# ---------------------------------------------------------------------------


@q(
    "x6_sessionize",
    "OP-W3/OP-X",
    "Gap-based sessionization (30-min inactivity): lag + running sum of "
    "session-break flags, the batch form of session_window.",
    "SELECT user_id, event_id, CAST(sum(CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1 ELSE 0 END) "
    "OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id "
    "FROM (SELECT user_id, event_id, ts, date_diff('second', lag(ts) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap_s FROM events) "
    "ORDER BY user_id, event_id",
)
def x6_sessionize(spark, sf_dir):
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    brk = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, 0)
    return ev.select(
        "user_id",
        "event_id",
        F.sum(brk).over(wsum).cast("long").alias("session_id"),
    ).orderBy("user_id", "event_id")


# ---------------------------------------------------------------------------
# Composed curation pipeline (the training-data north star, end to end)
# ---------------------------------------------------------------------------

_CURATION_ORACLE = f"""
WITH cleaned AS (
    SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS text
    FROM documents WHERE length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) > 0
),
deduped AS (
    SELECT doc_id, text FROM cleaned
    QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
),
tok AS (
    SELECT doc_id, text,
           list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS toks
    FROM deduped
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
    SELECT doc_id, n AS n_tokens, md5(text) AS fp,
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
SELECT doc_id, quality, lang_pred, n_tokens, fp
FROM scored WHERE quality >= 0.25 ORDER BY doc_id
"""


@q(
    "x10_curation_deterministic",
    "OP-X1/X4 composed",
    "Training-data curation pipeline, deterministic prefix: clean → "
    "exact dedup (keep first) → quality score → language ID → token "
    "count → quality filter, in ONE composed plan.",
    _CURATION_ORACLE,
)
def x10_curation_deterministic(spark, sf_dir):
    from ravelytics_spark.plans.curation import curate_deterministic

    d = load_table(spark, sf_dir, "documents")
    return (
        curate_deterministic(d)
        .select("doc_id", "quality", "lang_pred", "n_tokens", "fp")
        .orderBy("doc_id")
    )


@q(
    "x10_curation_full",
    "OP-X1/X2/X4 composed",
    "Full curation incl. MinHash+LSH near-dedup (keep lowest id per "
    "near-dup pair). LSH step → harness rows-check; the deterministic "
    "prefix is oracle-checked separately.",
    None,
)
def x10_curation_full(spark, sf_dir):
    from ravelytics_spark.plans.curation import curate_full

    d = load_table(spark, sf_dir, "documents")
    return (
        curate_full(d)
        .select("doc_id", "quality", "lang_pred", "n_tokens")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# approx_count_distinct (needed at 100 TB; sketches differ across engines)
# ---------------------------------------------------------------------------


@q(
    "x8_rollup",
    "OP-G-ext",
    "ROLLUP hierarchy totals (BI surface beyond the reference's flat "
    "GROUP BY; grouping-set nulls disambiguated with grouping()).",
    "SELECT coalesce(o_orderpriority, '<all>') AS prio, "
    "coalesce(o_orderstatus, '<all>') AS status, "
    "CASE WHEN GROUPING(o_orderpriority) = 1 THEN 1 ELSE 0 END AS g_prio, "
    "count(*) AS n, " + _dsum_sql("o_totalprice") + " AS sum_price "
    "FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus) "
    # HAVING is a no-op on non-empty input (every materialized group
    # has >= 1 row) and removes ONLY the synthetic grand-total row SQL
    # engines emit over an EMPTY table, where Spark's rollup emits no
    # rows (round-10 empty-input sweep)
    "HAVING count(*) > 0 "
    "ORDER BY prio, status, g_prio",
)
def x8_rollup(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.grouping("o_orderpriority").cast("int").alias("g_prio"),
            F.count("*").alias("n"),
            _dsum("o_totalprice").alias("sum_price"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("prio"),
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("status"),
            "g_prio",
            "n",
            "sum_price",
        )
        .orderBy("prio", "status", "g_prio")
    )


@q(
    "x8_intersect_all",
    "OP-SET",
    "INTERSECT ALL / EXCEPT ALL bag semantics.",
    "SELECT nk FROM (SELECT c_nationkey AS nk FROM customer INTERSECT ALL "
    "SELECT s_nationkey FROM supplier) ORDER BY nk",
)
def x8_intersect_all(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.intersectAll(s).orderBy("nk")


@q(
    "x8_percentiles",
    "OP-G-ext",
    "Exact discrete percentiles per group (median/p90) — the BI quantile "
    "surface; approx_percentile is the 100 TB variant (harness).",
    "SELECT o_orderpriority, "
    "quantile_disc(o_totalprice, 0.5) AS p50, "
    "quantile_disc(o_totalprice, 0.9) AS p90 "
    "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority",
)
def x8_percentiles(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)").alias("p50"),
            F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)").alias("p90"),
        )
        .orderBy("o_orderpriority")
    )


@q(
    "x9_pivot",
    "OP-G-ext",
    "Pivot (status columns per priority) — BI surface; fixed pivot "
    "values keep the schema static, nulls → 0.",
    "SELECT o_orderpriority AS prio, "
    "CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f_cnt, "
    "CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS o_cnt, "
    "CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS p_cnt "
    "FROM orders GROUP BY o_orderpriority ORDER BY prio",
)
def x9_pivot(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_orderpriority").alias("prio"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .select(
            "prio",
            F.coalesce("F", F.lit(0)).alias("f_cnt"),
            F.coalesce("O", F.lit(0)).alias("o_cnt"),
            F.coalesce("P", F.lit(0)).alias("p_cnt"),
        )
        .orderBy("prio")
    )


@q(
    "w5_ntile_percent_rank",
    "OP-W-ext",
    "ntile + percent_rank + cume_dist (BI quantile windows).",
    "SELECT o_orderkey, CAST(ntile(4) OVER w AS BIGINT) AS quartile, "
    "percent_rank() OVER w AS pr, cume_dist() OVER w AS cd "
    "FROM orders WINDOW w AS (ORDER BY o_totalprice, o_orderkey) "
    "ORDER BY o_orderkey",
)
def w5_ntile_percent_rank(spark, sf_dir):
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    ).orderBy("o_orderkey")


@q(
    "x4_levenshtein",
    "OP-X4/OP-X2",
    "Edit-distance pairs over a small deterministic subset — the fuzzy "
    "string-matching primitive for entity dedup.",
    "SELECT a.p_partkey AS id_a, b.p_partkey AS id_b, "
    "CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist "
    "FROM part a JOIN part b ON a.p_partkey < b.p_partkey "
    "WHERE a.p_partkey % 20 = 0 AND b.p_partkey % 20 = 0 "
    "ORDER BY id_a, id_b",
)
def x4_levenshtein(spark, sf_dir):
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 20 == 0)
    a = p.select(F.col("p_partkey").alias("id_a"), F.col("p_name").alias("na"))
    b = p.select(F.col("p_partkey").alias("id_b"), F.col("p_name").alias("nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", F.levenshtein("na", "nb").cast("long").alias("dist")
        )
        .orderBy("id_a", "id_b")
    )


_VALIDATION_ORACLE = """
WITH row_checks AS (
    SELECT * FROM (VALUES
        ('not_null_l_quantity',
         (SELECT count(*) FROM lineitem WHERE l_quantity IS NULL),
         (SELECT count(*) FROM lineitem)),
        ('range_l_discount',
         (SELECT count(*) FROM lineitem WHERE l_discount NOT BETWEEN 0 AND 1 OR l_discount IS NULL),
         (SELECT count(*) FROM lineitem)),
        ('domain_l_returnflag',
         (SELECT count(*) FROM lineitem WHERE l_returnflag NOT IN ('A','N','R') OR l_returnflag IS NULL),
         (SELECT count(*) FROM lineitem)),
        ('unique_l_orderkey_l_linenumber',
         (SELECT coalesce(sum(n - 1), 0) FROM (SELECT count(*) AS n FROM lineitem GROUP BY l_orderkey, l_linenumber)),
         (SELECT count(*) FROM lineitem)),
        ('fk_l_orderkey',
         (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
         (SELECT count(*) FROM lineitem))
    ) AS t(check_name, violations, total)
)
SELECT check_name, CAST(violations AS BIGINT) AS violations, CAST(total AS BIGINT) AS total
FROM row_checks ORDER BY check_name
"""


@q(
    "xq_validation_report",
    "OP-X-ext",
    "Declarative data-quality suite: null/domain/range checks in one "
    "aggregate pass + uniqueness + referential integrity — the "
    "measurable-contract layer the reference's skip-guards lack.",
    _VALIDATION_ORACLE,
)
def xq_validation_report(spark, sf_dir):
    from ravelytics_spark.operators import validation as V

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    row_report = V.validate(
        li,
        [
            V.not_null("l_quantity"),
            V.in_range("l_discount", 0, 1),
            V.in_set("l_returnflag", ["A", "N", "R"]),
        ],
    )
    uniq = V.check_unique(li, ["l_orderkey", "l_linenumber"])
    fk = V.check_referential(li, o, fk="l_orderkey", pk="o_orderkey")
    return (
        row_report.unionByName(uniq)
        .unionByName(fk)
        .withColumnRenamed("check", "check_name")
        .orderBy("check_name")
    )


@q(
    "tpch_q3_shipping_priority",
    "OP-J2/G3/O1 composed",
    "TPC-H Q3 shape: 3-way join, grouped decimal-exact revenue, top-10 "
    "— the canonical multi-join analytics plan (AQE-ordered joins, "
    "partial agg, TakeOrdered).",
    "SELECT l_orderkey, "
    "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue, "
    "CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority "
    "FROM customer JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "WHERE c_mktsegment = 'BUILDING' AND o_orderstatus <> 'F' "
    "GROUP BY l_orderkey, o_orderdate, o_orderpriority "
    "ORDER BY revenue DESC, l_orderkey LIMIT 10",
)
def tpch_q3_shipping_priority(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "F")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


_SQL_SURFACE = """
SELECT
    c.c_mktsegment AS segment,
    count(*) AS n_orders,
    CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name <> 'AFRICA' AND o.o_orderstatus <> 'F'
GROUP BY c.c_mktsegment
ORDER BY segment
"""


@q(
    "sql_surface",
    "OP-S11/§3.3",
    "The SQL entry point (Superset-analog surface): the SAME SQL string "
    "runs on registered Spark temp views and on DuckDB — certifying "
    "dialect-shared multi-join analytics via spark.sql, view expansion "
    "and Catalyst pushdown included.",
    _SQL_SURFACE,
)
def sql_surface(spark, sf_dir):
    from ravelytics_spark.sources.tables import load_tables

    load_tables(spark, sf_dir)  # registers temp views: orders, customer, ...
    return spark.sql(_SQL_SURFACE)


@q(
    "a1b_explode_outer",
    "OP-A1-ext",
    "explode_outer: rows with empty arrays survive with NULL (the "
    "left-join form of arrayJoin). Synthesized empty arrays on a "
    "deterministic subset.",
    "WITH t AS (SELECT vec_id, CASE WHEN vec_id % 10 = 0 THEN [] "
    "ELSE embedding[1:3] END AS arr FROM embeddings WHERE vec_id < 100) "
    "SELECT t.vec_id, CAST(u.u AS DOUBLE) AS u FROM t "
    "LEFT JOIN LATERAL (SELECT unnest(t.arr) AS u) AS u ON TRUE "
    "ORDER BY vec_id, u",
)
def a1b_explode_outer(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    t = e.select(
        "vec_id",
        F.when(F.col("vec_id") % 10 == 0, F.array().cast("array<float>"))
        .otherwise(F.slice("embedding", 1, 3))
        .alias("arr"),
    )
    return (
        t.select("vec_id", F.explode_outer("arr").alias("u"))
        .select("vec_id", F.col("u").cast("double").alias("u"))
        .orderBy("vec_id", "u")
    )


_TFIDF_ORACLE = """
WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
tf AS (
    SELECT doc_id, w, count(*) AS tf FROM words GROUP BY doc_id, w
),
df AS (
    SELECT w, count(DISTINCT doc_id) AS df FROM words GROUP BY w
),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.w,
           round(tf.tf * ln(CAST((SELECT n_docs FROM n) AS DOUBLE) / df.df), 6) AS tfidf
    FROM tf JOIN df ON tf.w = df.w
)
SELECT doc_id, w, tfidf FROM scored
QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, w) <= 3
ORDER BY doc_id, tfidf DESC, w
"""


@q(
    "x4_tfidf_terms",
    "OP-X4",
    "Top-3 TF-IDF terms per document: tf and df exact integer counts, "
    "one ln + one multiply on identical doubles, deterministic "
    "tie-break — the IR term-weighting primitive.",
    _TFIDF_ORACLE,
)
def x4_tfidf_terms(spark, sf_dir):
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    tf = words.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    dfreq = words.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()
    scored = tf.join(dfreq, "w").select(
        "doc_id",
        "w",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("tfidf"),
    )
    w_rank = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "w")
    return (
        scored.withColumn("__rn", F.row_number().over(w_rank))
        .filter(F.col("__rn") <= 3)
        .drop("__rn")
        .orderBy("doc_id", F.desc("tfidf"), "w")
    )


@q(
    "f3b_regexp_extract",
    "OP-F3-ext",
    "regexp_extract with capture group (1-based group index in both "
    "engines).",
    "SELECT p_partkey, regexp_extract(p_brand, 'Brand#([0-9]+)', 1) AS brand_num "
    "FROM part ORDER BY p_partkey",
)
def f3b_regexp_extract(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_brand", r"Brand#([0-9]+)", 1).alias("brand_num"),
    ).orderBy("p_partkey")


@q(
    "w6_first_last_value",
    "OP-W-ext",
    "first_value / last_value with explicit frames per partition.",
    "SELECT o_orderkey, "
    "first_value(o_totalprice) OVER w AS cheapest, "
    "last_value(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS priciest "
    "FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey) "
    "ORDER BY o_orderkey",
)
def w6_first_last_value(spark, sf_dir):
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("cheapest"),
        F.last("o_totalprice").over(w_full).alias("priciest"),
    ).orderBy("o_orderkey")


@q(
    "x9_posexplode",
    "OP-A1-ext",
    "posexplode ≡ unnest WITH ORDINALITY (0-based vs 1-based aligned).",
    "SELECT vec_id, CAST(pos - 1 AS INT) AS pos, CAST(u AS DOUBLE) AS u FROM "
    "(SELECT vec_id, unnest(embedding) AS u, "
    "generate_subscripts(embedding, 1) AS pos FROM embeddings) "
    "WHERE vec_id < 100 ORDER BY vec_id, pos",
)
def x9_posexplode(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    return (
        e.select("vec_id", F.posexplode("embedding").alias("pos", "u"))
        .select("vec_id", "pos", F.col("u").cast("double").alias("u"))
        .orderBy("vec_id", "pos")
    )


@q(
    "x9_stratified_sample",
    "OP-X-ext",
    "Stratified sampling via content hashing: keep row iff "
    "xxhash64(id, salt) mod 1000 < fraction·1000 per stratum. Unlike "
    "sampleBy (per-PARTITION seeded rand — resample changes with "
    "partition layout), this is row-deterministic: reproducible across "
    "runs, partitionings and cluster sizes — the property a curation "
    "pipeline must have. xxhash64 has no DuckDB twin → harness check + "
    "proportion/stability tests.",
    None,
)
def x9_stratified_sample(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    fractions = {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.25}
    frac = None
    for lang, f in fractions.items():
        branch = F.when(F.col("lang") == lang, F.lit(int(f * 1000)))
        frac = branch if frac is None else frac.when(F.col("lang") == lang, F.lit(int(f * 1000)))
    frac = frac.otherwise(F.lit(0))
    bucket = F.pmod(F.xxhash64(F.col("doc_id"), F.lit(42)), F.lit(1000))
    return d.filter(bucket < frac).select("doc_id", "lang").orderBy("doc_id")


@q(
    "x11_feature_norm",
    "OP-X-ext",
    "Per-label z-score normalization of embeddings (training-data "
    "feature preprocessing), exploded scalar output. Moments rounded to "
    "6 decimals → output is bitwise-reproducible across engines.",
    "WITH e AS (SELECT vec_id, label, unnest(embedding) AS v, "
    "generate_subscripts(embedding, 1) - 1 AS dim FROM embeddings), "
    "d AS (SELECT vec_id, label, dim, CAST(v AS DOUBLE) AS v FROM e), "
    "m AS (SELECT label, dim, round(avg(v), 6) AS mu, "
    "round(sqrt(avg(v*v) - avg(v)*avg(v)), 6) AS sigma "
    "FROM d GROUP BY label, dim) "
    "SELECT d.vec_id, d.dim, CASE WHEN m.sigma > 0 THEN (d.v - m.mu) / m.sigma "
    "ELSE 0.0 END AS z FROM d JOIN m ON d.label = m.label AND d.dim = m.dim "
    "WHERE d.vec_id < 200 ORDER BY d.vec_id, d.dim",
)
def x11_feature_norm(spark, sf_dir):
    from ravelytics_spark.operators.feature_norm import normalize_by_group

    e = load_table(spark, sf_dir, "embeddings")
    normed = normalize_by_group(e, "embedding", "label")
    return (
        normed.select("vec_id", F.posexplode("z_embedding").alias("dim", "z"))
        .filter(F.col("vec_id") < 200)
        .orderBy("vec_id", "dim")
    )


@q(
    "x7_approx_distinct",
    "OP-G5-ext",
    "HLL approx_count_distinct — the 100 TB substitute for exact "
    "count(DISTINCT). Sketches differ across engines → harness rows-check; "
    "accuracy property-tested vs exact.",
    None,
)
def x7_approx_distinct(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.approx_count_distinct("o_custkey").alias("approx_custs"),
        F.countDistinct("o_custkey").alias("exact_custs"),
    )


# ---------------------------------------------------------------------------
# Round-2 additions: multidim aggregates, histogram, window completeness,
# pagination, BPE-ish tokenizer parity, forward as-of, TPC-H Q5, exact
# embedding near-dup pairs.
# ---------------------------------------------------------------------------


@q(
    "x12_cube",
    "OP-G3-ext",
    "CUBE aggregate (all grouping sets over 2 dims) — one pass, Spark "
    "Expand + single hash-agg shuffle; the OLAP drill-down companion to "
    "x8_rollup.",
    "SELECT o_orderstatus, o_orderpriority, count(*) AS n, "
    + _dsum_sql("o_totalprice")
    + " AS total FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority) "
    + " HAVING count(*) > 0 "  # empty-input grand-row parity (see x8)
    "ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST",
)
def x12_cube(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), _dsum("o_totalprice").alias("total"))
        .orderBy(F.asc_nulls_first("o_orderstatus"), F.asc_nulls_first("o_orderpriority"))
    )


@q(
    "x13_histogram",
    "OP-G6-ext",
    "Fixed-width histogram (bucket = floor(x/width)): the profile/EDA "
    "primitive — one map-side-combined hash-agg, no sort of the data, "
    "deterministic without a min/max pre-pass.",
    "SELECT CAST(FLOOR(o_totalprice / 1000.0) AS BIGINT) AS bucket, "
    "count(*) AS n FROM orders GROUP BY 1 ORDER BY bucket",
)
def x13_histogram(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / F.lit(1000.0)).cast("bigint").alias("bucket")
        )
        .agg(F.count("*").alias("n"))
        .orderBy("bucket")
    )


@q(
    "w7_nth_cume",
    "OP-W-ext",
    "Window completeness: cume_dist + nth_value per customer order "
    "history — one shuffle on the partition key.",
    "SELECT o_orderkey, o_custkey, "
    "cume_dist() OVER w AS cd, "
    "nth_value(o_totalprice, 2) OVER w AS second_price "
    "FROM orders "
    "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) "
    "ORDER BY o_orderkey",
)
def w7_nth_cume(spark, sf_dir):
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.cume_dist().over(w).alias("cd"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    ).orderBy("o_orderkey")


@q(
    "o6_offset_pagination",
    "OP-O3-ext",
    "LIMIT/OFFSET pagination on a total order — the API-page idiom. "
    "Spark pushes offset+limit into one TakeOrderedAndProject (driver "
    "fetches offset+limit rows, skips offset) — fine for page-depth "
    "offsets; deep pagination should keyset-paginate on o_orderkey > "
    "last_seen instead (stated in the plan contract).",
    "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey "
    "LIMIT 100 OFFSET 200",
)
def o6_offset_pagination(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.select("o_orderkey", "o_totalprice").orderBy("o_orderkey").offset(200).limit(100)


@q(
    "x4_bpe_token_count",
    "OP-X4",
    "BPE-ish regex token counting (contraction-aware letter runs, digit "
    "runs, single punctuation) — the LLM-budget token estimator; native "
    "regexp_extract_all, codegen.",
    "SELECT doc_id, len(regexp_extract_all(text, "
    "'''?[\\p{L}]+|[\\p{N}]+|[^\\s\\p{L}\\p{N}]')) AS n_bpe_tokens "
    "FROM documents ORDER BY doc_id",
)
def x4_bpe_token_count(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.size(TX.tokenize_bpe_ish("text")).cast("long").alias("n_bpe_tokens")
    ).orderBy("doc_id")


@q(
    "xj_asof_forward",
    "OP-J-ext",
    "FORWARD as-of join (next purchase at-or-after each event) — same "
    "one-shuffle union-window shape as the backward form with the frame "
    "flipped. Oracle: DuckDB ASOF with <= (forward direction).",
    "SELECT a.event_id, CAST(p.ts AS TIMESTAMP) AS next_purchase_ts, "
    "p.value AS next_purchase_value "
    "FROM events a ASOF LEFT JOIN "
    "(SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p "
    "ON a.user_id = p.user_id AND a.ts <= p.ts "
    "ORDER BY a.event_id",
)
def xj_asof_forward(spark, sf_dir):
    from ravelytics_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("ts").alias("next_purchase_ts"),
        F.col("value").alias("next_purchase_value"),
    )
    joined = asof_join(
        ev,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["next_purchase_ts", "next_purchase_value"],
        direction="forward",
    )
    return joined.select("event_id", "next_purchase_ts", "next_purchase_value").orderBy(
        "event_id"
    )


@q(
    "tpch_q5_local_supplier",
    "OP-J2/OP-G3-ext",
    "TPC-H Q5 (local supplier volume): 6-table join with broadcast "
    "region/nation dims, AQE sort-merge for the fact joins, one "
    "hash-agg. The multi-join stress test for Catalyst join reordering.",
    "SELECT n_name, "
    + _dsum_sql("l_extendedprice * (1 - l_discount)")
    + " AS revenue "
    "FROM customer "
    "JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
    "JOIN nation ON s_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey "
    "WHERE r_name = 'ASIA' "
    "AND o_orderdate >= TIMESTAMP '1996-01-01' "
    "AND o_orderdate < TIMESTAMP '1997-01-01' "
    "GROUP BY n_name ORDER BY revenue DESC, n_name",
)
def tpch_q5_local_supplier(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


_NEAR_DUP_THRESHOLD = 0.45

_NEAR_DUP_ORACLE = f"""
WITH ex AS (
    SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
           unnest(embedding) AS x
    FROM embeddings
),
n2 AS (
    SELECT vec_id,
           SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,12))) AS nn
    FROM ex GROUP BY vec_id
),
dt AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           SUM(CAST(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE) AS DECIMAL(28,12))) AS dot
    FROM ex a JOIN ex b ON a.dim = b.dim AND a.vec_id < b.vec_id
    GROUP BY 1, 2
),
scored AS (
    SELECT id_a, id_b,
           round(CAST(dt.dot AS DOUBLE)
                 / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))), 4)
               AS cos_sim
    FROM dt JOIN n2 na ON na.vec_id = dt.id_a JOIN n2 nb ON nb.vec_id = dt.id_b
)
SELECT id_a, id_b, cos_sim FROM scored
WHERE cos_sim >= {_NEAR_DUP_THRESHOLD} ORDER BY id_a, id_b
"""


@q(
    "x3_embedding_near_dup",
    "OP-X2/OP-X3",
    "EXACT embedding-cosine near-dup pairs (all-pairs brute force) — the "
    "certified baseline the SRP-LSH path (x3_near_pairs) approximates. "
    "Hash parity via exact DECIMAL accumulation of dot/norm (addition "
    "order irrelevant), one IEEE divide+round at the end. Physical "
    "shape: posexplode → codegen equi-join on dim → hash-agg; all-pairs "
    "is O(N²) by definition — at scale this runs ONLY as the re-rank "
    "inside SRP/IVF buckets, never globally (stated contract).",
    _NEAR_DUP_ORACLE,
)
def x3_embedding_near_dup(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select("vec_id", F.posexplode("embedding").alias("dim", "x"))
    xd = (F.col("x").cast("double") * F.col("x").cast("double")).cast("decimal(28,12)")
    n2 = ex.groupBy("vec_id").agg(F.sum(xd).alias("nn"))
    a = ex.select(F.col("vec_id").alias("id_a"), "dim", F.col("x").alias("xa"))
    b = ex.select(F.col("vec_id").alias("id_b"), "dim", F.col("x").alias("xb"))
    prod = (F.col("xa").cast("double") * F.col("xb").cast("double")).cast("decimal(28,12)")
    dt = (
        a.join(b, (a.dim == b.dim) & (F.col("id_a") < F.col("id_b")))
        .groupBy("id_a", "id_b")
        .agg(F.sum(prod).alias("dot"))
    )
    na = n2.select(F.col("vec_id").alias("id_a"), F.col("nn").alias("na"))
    nb = n2.select(F.col("vec_id").alias("id_b"), F.col("nn").alias("nb"))
    scored = (
        dt.join(F.broadcast(na), "id_a")
        .join(F.broadcast(nb), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na").cast("double"))
                    * F.sqrt(F.col("nb").cast("double"))
                ),
                4,
            ).alias("cos_sim"),
        )
    )
    return scored.filter(F.col("cos_sim") >= _NEAR_DUP_THRESHOLD).orderBy("id_a", "id_b")


_REDACT_ORACLE = r"""
WITH salted AS (
    SELECT doc_id,
           substring(text, 1, 40) || ' reach user' || CAST(doc_id AS VARCHAR)
           || '@example.com or https://ex.com/u?id=' || CAST(doc_id AS VARCHAR)
           || ' or call 555-867-5309 now' AS raw
    FROM documents
)
SELECT doc_id,
       regexp_replace(
           regexp_replace(
               regexp_replace(raw, 'https?://[^\s]+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b', '<PHONE>', 'g') AS redacted
FROM salted ORDER BY doc_id
"""


@q(
    "x4_redact_pii",
    "OP-X4",
    "PII redaction (URL → email → phone placeholders) — the pre-training "
    "scrub pass; all native regexp_replace (codegen), patterns chosen "
    "for Java/RE2 parity. PII is injected deterministically per doc "
    "(testdata has none) so the oracle certifies actual replacement, "
    "not a no-op.",
    _REDACT_ORACLE,
)
def x4_redact_pii(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    salted = d.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40),
            F.lit(" reach user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or https://ex.com/u?id="),
            F.col("doc_id").cast("string"),
            F.lit(" or call 555-867-5309 now"),
        ).alias("raw"),
    )
    return salted.select(
        "doc_id", TX.redact_pii("raw").alias("redacted")
    ).orderBy("doc_id")


_REPETITION_ORACLE = """
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
b AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(w)),
                                 i -> w[i] || ' ' || w[i + 1])) AS bigram
    FROM t
),
counts AS (
    SELECT doc_id, bigram, count(*) AS n FROM b GROUP BY doc_id, bigram
)
SELECT doc_id,
       round(CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6)
           AS top_bigram_frac
FROM counts GROUP BY doc_id ORDER BY doc_id
"""


@q(
    "x4_repetition_score",
    "OP-X4",
    "Gopher-style repetition signal: top-bigram fraction per document "
    "(boilerplate/degenerate-text filter for curation). split → "
    "slice+arrays_zip (native) → explode → two hash-aggs; no "
    "interpreted lambdas in the per-token path.",
    _REPETITION_ORACLE,
)
def x4_repetition_score(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return TX.top_bigram_fraction(d, "doc_id", "text").orderBy("doc_id")
