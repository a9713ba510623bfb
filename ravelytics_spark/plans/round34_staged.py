"""Catalog entries x346-x355: compaction planning, incremental dedup,
a paired rank test, document repetition and split leakage.

* ``x346_compaction_plan`` — the small-files compactor's assignment:
  per source partition, documents packed in doc_id order into target-
  size output bins via a cumulative-size window (the contiguous
  packing real compactors use — preserves sort order, one pass, no
  reshuffle of file contents). Emits per-bin file counts and byte
  loads; the ops answer to the #1 operational failure mode of big
  parquet lakes.
* ``x349_wilcoxon_signed_rank`` — PAIRED location test on each
  customer's first->second order spend delta (doubled ranks of |d|,
  zeros dropped, tie-corrected z): the within-subject companion the
  independent-sample x168/x271 tests cannot replace. The global
  ranking uses two-level bucket prefix counts, so no corpus-sized
  single-partition window exists.
* ``x352_split_leakage`` — train/val/test split + CROSS-SPLIT
  near-dup leakage count via x91's portable MinHash pipeline: the
  third tier of the leakage family next to x199's row-straddle audit
  and x217's exact-n-gram contamination curve — near-duplicates leak
  where exact n-grams don't.
* ``x353_doc_repetition`` — per-document duplicate-token and
  duplicate-5-gram MASS in ppm: complements x4_repetition_score's
  top-bigram SHARE (top-1 statistic catches a dominant pair; total
  dup mass catches long looped spans) — together the Gopher
  repetition pair.
* ``x355_incremental_dedup`` — the append-only dedup contract: a
  deterministic hash split carves the corpus into an already-ingested
  generation and a new batch; the new batch dedups against (corpus +
  itself) WITHOUT re-pairing the old generation (anti-join on content
  hash + keep-min within the batch) — certifying that incremental
  ingestion needs only |new| x index work, never |corpus|^2, which is
  the only dedup shape that survives daily 100 TB appends.

Hash-parity conventions as plans/queries.py: exact cents/BIGINT
arithmetic until one shared IEEE expression, total ORDER BY, BIGINT
casts on every count.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ravelytics_spark.plans.registry import q
from ravelytics_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# x346 — small-files compaction plan (contiguous target-size binning)
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 100_000  # bytes per output bin

_COMPACT_ORACLE = f"""
WITH sized AS (
    SELECT source, doc_id, n_chars,
           SUM(n_chars) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS cum
    FROM documents WHERE n_chars IS NOT NULL
)
SELECT source, CAST((cum - n_chars) // {_COMPACT_TARGET} AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(SUM(n_chars) AS BIGINT) AS bytes
FROM sized GROUP BY 1, 2 ORDER BY source, bin
"""


@q(
    "x346_compaction_plan",
    "OP-S11-ext",
    "Small-files compaction assignment: per source partition, files "
    "(documents, sized by n_chars) pack in doc_id order into "
    f"~{_COMPACT_TARGET}-byte output bins via bin = "
    "(cumulative_size - own_size) DIV target — the contiguous packing "
    "real compactors (Delta OPTIMIZE, Iceberg rewrite_data_files) "
    "use, because it preserves sort order and plans in ONE pass with "
    "no content reshuffle. Emits each bin's file count and byte load "
    "(every bin lands in [target, target + max_file) except the last "
    "per partition — the property tests pin it). Plan: one "
    "per-partition cumulative window + one map-side-combined agg. "
    "100 TB: this is the metadata-only planning query an OPTIMIZE "
    "job runs before touching any data file.",
    _COMPACT_ORACLE,
)
def x346_compaction_plan(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
    )
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sized = d.select(
        "source",
        "n_chars",
        F.sum("n_chars").over(w).alias("cum"),
    )
    return (
        sized.groupBy(
            "source",
            F.expr(f"(cum - n_chars) DIV {_COMPACT_TARGET}")
            .cast("long")
            .alias("bin"),
        )
        .agg(
            F.count("*").cast("long").alias("n_files"),
            F.sum("n_chars").cast("long").alias("bytes"),
        )
        .orderBy("source", "bin")
    )


# ---------------------------------------------------------------------------
# x355 — incremental (append-only) dedup contract
# ---------------------------------------------------------------------------

_INC_ORACLE = """
WITH gen AS (
    SELECT doc_id, md5(text) AS h,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':gen'), 1, 8))
                AS BIGINT) % 10 AS g
    FROM documents WHERE text IS NOT NULL
),
corpus AS (SELECT DISTINCT h FROM gen WHERE g < 7),
batch AS (SELECT doc_id, h FROM gen WHERE g >= 7),
fresh AS (
    SELECT b.doc_id, b.h FROM batch b
    WHERE b.h NOT IN (SELECT h FROM corpus)
)
SELECT doc_id FROM fresh
WHERE doc_id = (SELECT min(f2.doc_id) FROM fresh f2 WHERE f2.h = fresh.h)
ORDER BY doc_id
"""


@q(
    "x355_incremental_dedup",
    "OP-X1-ext",
    "The append-only dedup contract: a deterministic hash split "
    "carves documents into an already-ingested corpus generation "
    "(md5 split 70%) and a new batch (30%); the batch keeps exactly "
    "the rows whose content hash (md5(text)) is absent from the "
    "corpus index AND that win keep-min-doc_id within the batch "
    "itself. This is the ONLY dedup shape that survives daily "
    "appends at 100 TB: each ingest pays |new| hash lookups against "
    "a materialized hash index plus one |new|-sized keep-min agg — "
    "never re-pairing the corpus (x1's full-corpus form is the "
    "bootstrap, this is the steady state). Plan: one anti-join "
    "(batch side small -> broadcastable index probe at scale; here "
    "AQE decides) + one map-side-combined min agg. The hash match "
    "certifies the whole incremental semantics, including the "
    "batch-internal tie-break.",
    _INC_ORACLE,
)
def x355_incremental_dedup(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    g = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col("doc_id").cast("string"), F.lit(":gen"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(10),
    )
    gen = d.select("doc_id", F.md5("text").alias("h"), g.alias("g"))
    corpus = gen.filter(F.col("g") < 7).select("h").distinct()
    batch = gen.filter(F.col("g") >= 7).select("doc_id", "h")
    fresh = batch.join(corpus, "h", "left_anti")
    return (
        fresh.groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# x349 — Wilcoxon signed-rank test on first->second order spend deltas
# ---------------------------------------------------------------------------

_WX_BUCKET = 524_288

_WX_ORACLE = f"""
WITH seq AS (
    SELECT o_custkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS rn
    FROM orders
),
pairs AS (
    SELECT o_custkey,
           max(CASE WHEN rn = 2 THEN cents END)
           - max(CASE WHEN rn = 1 THEN cents END) AS d
    FROM seq WHERE rn <= 2 GROUP BY 1 HAVING count(*) = 2
),
nz AS (SELECT abs(d) AS absd, CASE WHEN d > 0 THEN 1 ELSE 0 END AS pos
       FROM pairs WHERE d <> 0),
dc AS (
    SELECT absd, CAST(count(*) AS BIGINT) AS cnt,
           CAST(SUM(pos) AS BIGINT) AS pcnt
    FROM nz GROUP BY 1
),
rk AS (
    SELECT absd, cnt, pcnt,
           2 * coalesce(SUM(cnt) OVER (ORDER BY absd
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + cnt + 1 AS r2
    FROM dc
),
agg AS (
    SELECT CAST(SUM(cnt) AS BIGINT) AS n,
           CAST(SUM(pcnt * r2) AS BIGINT) AS w2p,
           CAST(coalesce(SUM(CASE WHEN cnt > 1
                                  THEN cnt * cnt * cnt - cnt END), 0)
                AS BIGINT) AS tie3
    FROM rk
)
SELECT n, w2p, CAST(tie3 AS BIGINT) AS tie3,
       CAST(CASE WHEN 2.0 * CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)
                      * CAST(2 * n + 1 AS DOUBLE) - CAST(tie3 AS DOUBLE) > 0.0
            THEN floor(1000.0
                 * CAST(w2p - n * (n + 1) // 2 AS DOUBLE)
                 / sqrt((2.0 * CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)
                         * CAST(2 * n + 1 AS DOUBLE)
                         - CAST(tie3 AS DOUBLE)) / 12.0))
            END AS BIGINT) AS z_milli
FROM agg
"""


@q(
    "x349_wilcoxon_signed_rank",
    "OP-G6/W1-ext",
    "Wilcoxon signed-rank test on each repeat customer's first->second "
    "order spend delta: zero deltas dropped per the estimator, |d| "
    "ranks kept exact as doubled integers, W+ as the doubled BIGINT "
    "rank sum over positive deltas, the exact BIGINT tie term "
    "emitted, and the tie-corrected variance + z through a "
    "pinned-order double chain in milli (the exact-integer 12*Var "
    "form overflowed BIGINT at the 100x sweep; Wilcoxon 1945, public "
    "method). The PAIRED "
    "location test the independent-sample x168/x271 tier cannot "
    "express — 'do customers spend more on their second order' with "
    "each customer as their own control. Plan: one per-customer "
    "window (partitioned — no global sort), one pair pivot, then the "
    "two-level bucket-prefix ranking (bounded ~96-bucket frame + "
    "within-bucket windows; no corpus-sized single partition).",
    _WX_ORACLE,
)
def x349_wilcoxon_signed_rank(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    wseq = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    seq = o.select(
        "o_custkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        F.row_number().over(wseq).alias("rn"),
    ).filter(F.col("rn") <= 2)
    pairs = (
        seq.groupBy("o_custkey")
        .agg(
            (
                F.max(F.when(F.col("rn") == 2, F.col("cents")))
                - F.max(F.when(F.col("rn") == 1, F.col("cents")))
            ).alias("d"),
            F.count("*").alias("k"),
        )
        .filter((F.col("k") == 2) & (F.col("d") != 0))
    )
    dc = (
        pairs.select(
            F.abs("d").alias("absd"),
            F.when(F.col("d") > 0, 1).otherwise(0).alias("pos"),
        )
        .groupBy("absd")
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum("pos").cast("long").alias("pcnt"),
        )
    )
    db = dc.withColumn("bucket", F.expr(f"absd DIV {_WX_BUCKET}"))
    bt = db.groupBy("bucket").agg(F.sum("cnt").alias("bcnt"))
    wprev = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bprev = bt.select(
        "bucket",
        F.coalesce(F.sum("bcnt").over(wprev), F.lit(0)).alias("bless"),
    )
    win = Window.partitionBy("bucket").orderBy("absd").rowsBetween(
        Window.unboundedPreceding, -1
    )
    rk = (
        db.withColumn("wless", F.coalesce(F.sum("cnt").over(win), F.lit(0)))
        .join(F.broadcast(bprev), "bucket")
        .select(
            "cnt",
            "pcnt",
            (2 * (F.col("bless") + F.col("wless")) + F.col("cnt") + 1).alias(
                "r2"
            ),
        )
    )
    agg = rk.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("pcnt") * F.col("r2")).cast("long").alias("w2p"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("cnt") > 1,
                    F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("tie3"),
    )
    # the 12*Var product 2n(n+1)(2n+1) overflows BIGINT past n ~ 1.3M
    # (the 100x sweep caught it pre-registration), so the variance
    # chain runs in DOUBLE with a pinned op order — every *, -, /,
    # sqrt is correctly rounded, so both engines land on the same
    # bits; tie3 stays an exact BIGINT output
    var12d = F.expr(
        "2.0 * CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)"
        " * CAST(2 * n + 1 AS DOUBLE) - CAST(tie3 AS DOUBLE)"
    )
    return agg.select(
        "n",
        "w2p",
        F.col("tie3").cast("long").alias("tie3"),
        F.when(
            var12d > 0.0,
            F.floor(
                F.lit(1000.0)
                * (F.col("w2p") - F.expr("n * (n + 1) DIV 2")).cast("double")
                / F.sqrt(var12d / F.lit(12.0))
            ),
        )
        .cast("long")
        .alias("z_milli"),
    )


# ---------------------------------------------------------------------------
# x353 — per-document repetition profile (Gopher rep signals)
# ---------------------------------------------------------------------------

_REP_ORACLE = """
WITH tok AS (
    SELECT doc_id, w,
           row_number() OVER (PARTITION BY doc_id ORDER BY i) AS pos
    FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS i
        FROM documents WHERE text IS NOT NULL
    ) WHERE w <> ''
),
grams AS (
    SELECT doc_id, w, pos,
           CASE WHEN lead(w, 4) OVER (PARTITION BY doc_id ORDER BY pos)
                     IS NOT NULL
                THEN w || ' '
                     || lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos)
                     || ' '
                     || lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos)
                     || ' '
                     || lead(w, 3) OVER (PARTITION BY doc_id ORDER BY pos)
                     || ' '
                     || lead(w, 4) OVER (PARTITION BY doc_id ORDER BY pos)
                END AS g5
    FROM tok
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST((count(*) - count(DISTINCT w)) * 1000000 // count(*)
            AS BIGINT) AS dup_token_ppm,
       CAST(CASE WHEN count(g5) > 0
                 THEN (count(g5) - count(DISTINCT g5)) * 1000000 // count(g5)
                 ELSE 0 END AS BIGINT) AS dup5_ppm
FROM grams GROUP BY 1 ORDER BY doc_id
"""


@q(
    "x353_doc_repetition",
    "OP-X4-ext",
    "Per-document repetition profile — the Gopher repetition signals "
    "(Rae et al. 2021, public method) x27's length rules deliberately "
    "skip: duplicate-token mass (n - distinct) and duplicate-5-gram "
    "mass as exact ppm of the respective stream — complementing "
    "x4_repetition_score's top-bigram SHARE (the top-1 statistic "
    "catches a dominant pair; total dup mass catches long loops). "
    "Boilerplate and "
    "looped generations score high here while passing every length "
    "rule. Plan: ONE tokenize (posexplode keeps order), per-doc lead "
    "windows build the 5-grams without materializing shingle "
    "explosion rows beyond 1x tokens, then a single map-side-combined "
    "per-doc agg (count distinct per doc is a partial-agg pattern, "
    "not a global one). 100 TB: everything partitions by doc_id; no "
    "corpus-wide state.",
    _REP_ORACLE,
)
def x353_doc_repetition(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    tok = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i", "w")
    ).filter(F.col("w") != "")
    wdoc = Window.partitionBy("doc_id").orderBy("i")
    leads = [F.lead("w", k).over(wdoc) for k in range(1, 5)]
    g5 = F.when(
        leads[3].isNotNull(),
        F.concat(
            F.col("w"),
            F.lit(" "),
            leads[0],
            F.lit(" "),
            leads[1],
            F.lit(" "),
            leads[2],
            F.lit(" "),
            leads[3],
        ),
    )
    grams = tok.select("doc_id", "w", g5.alias("g5"))
    return (
        grams.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.expr(
                "CAST((count(*) - count(DISTINCT w)) * 1000000"
                " DIV count(*) AS BIGINT)"
            ).alias("dup_token_ppm"),
            F.expr(
                "CAST(CASE WHEN count(g5) > 0 THEN"
                " (count(g5) - count(DISTINCT g5)) * 1000000 DIV count(g5)"
                " ELSE 0 END AS BIGINT)"
            ).alias("dup5_ppm"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# x352 — train/val/test split + cross-split near-dup leakage audit
# ---------------------------------------------------------------------------


def _split_oracle() -> str:
    from ravelytics_spark.plans.round19 import (
        _MH_JACCARD_MIN,
        _minhash_pair_ctes,
    )

    return f"""
WITH {_minhash_pair_ctes("documents")},
sp AS (
    SELECT doc_id,
           CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                          || ':split'), 1, 8)) AS BIGINT) % 100 < 80
                THEN 'train'
                WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                          || ':split'), 1, 8)) AS BIGINT) % 100 < 90
                THEN 'val' ELSE 'test' END AS split
    FROM documents
),
leak AS (
    SELECT CAST(count(*) AS BIGINT) AS leak_pairs
    FROM jac JOIN sp a ON jac.id_a = a.doc_id
             JOIN sp b ON jac.id_b = b.doc_id
    WHERE jac.j >= {_MH_JACCARD_MIN} AND a.split <> b.split
),
cnt AS (
    SELECT CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_train,
           CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_val,
           CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_test
    FROM sp
)
SELECT cnt.n_train, cnt.n_val, cnt.n_test, leak.leak_pairs
FROM cnt, leak
"""


@q(
    "x352_split_leakage",
    "OP-X2/X-ext",
    "Train/val/test split + leakage audit in one certified result: "
    "membership is the deterministic md5-mod-100 split (80/10/10 — "
    "re-derivable from the key alone, the x99 property), and the "
    "leakage count is the number of near-duplicate pairs (x91's "
    "portable MinHash-LSH pipeline, Jaccard >= 0.35) that CROSS a "
    "split boundary — the eval-contamination failure mode that makes "
    "benchmark numbers lie (x19's decontamination is vs an external "
    "eval set; this audits the split itself — the third leakage "
    "tier next to x199's row-straddle audit and x217's exact-n-gram "
    "contamination curve). Plan: the x91 pair "
    "generator (bounded banded-LSH candidates, no N^2) + one "
    "broadcastable split map join + two scalar aggs. 100 TB: "
    "leakage cost is the near-dup pair count, not the corpus size; "
    "the split map is a pure expression, never materialized.",
    _split_oracle(),
)
def x352_split_leakage(spark, sf_dir):
    from ravelytics_spark.plans.round19 import portable_minhash_pairs

    d = load_table(spark, sf_dir, "documents")

    def split_col(idcol):
        h = F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col(idcol).cast("string"), F.lit(":split"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(100),
        )
        return (
            F.when(h < 80, F.lit("train"))
            .when(h < 90, F.lit("val"))
            .otherwise(F.lit("test"))
        )

    # portable_minhash_pairs already thresholds on the RAW j (the
    # oracle's predicate); re-filtering on the rounded output column
    # here could diverge on a rounding boundary
    pairs = portable_minhash_pairs(spark, d)
    leak = pairs.select(
        split_col("id_a").alias("sa"), split_col("id_b").alias("sb")
    ).filter(F.col("sa") != F.col("sb")).agg(
        F.count("*").cast("long").alias("leak_pairs")
    )
    cnt = d.select(split_col("doc_id").alias("split")).agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("long")
        .alias("n_train"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
        .cast("long")
        .alias("n_val"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
        .cast("long")
        .alias("n_test"),
    )
    return cnt.crossJoin(F.broadcast(leak))
