"""End-to-end training-data curation pipeline over a document corpus —
the composed form of the OP-X operators (BASELINE.json north star):

    clean → exact dedup (first-ingested wins) → near-dedup
    (MinHash+LSH, keep the lowest doc_id of each dup cluster) →
    quality scoring + filter → language ID → token accounting

Everything before the near-dedup step is deterministic SQL semantics
(oracle-checked as ``x10_curation_deterministic``); the full pipeline
including LSH runs as a harness entry (``x10_curation_full``).

Scale notes: the stages compose into ~4 shuffles total (exact-dedup
group, signature group, LSH bucket join, and nothing else — quality/
lang/token columns are map-side). Near-dup "keep lowest id" uses a
connected-components-free approximation (drop any doc that pairs with a
lower id), which is exactly right for dedup since pair similarity is
transitive enough at high thresholds and dropping strictly-higher ids
can never empty a cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ravelytics_spark.functions import text as TX
from ravelytics_spark.operators.dedup import dedup_exact, minhash_dedup_pairs


def clean_documents(docs: DataFrame) -> DataFrame:
    """Normalize whitespace, drop empty docs."""
    return docs.withColumn(
        "text", F.trim(F.regexp_replace("text", r"\s+", " "))
    ).filter(F.length("text") > 0)


def annotate(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Curation columns (quality, language, token count, fingerprint)
    via explode + codegen'd aggregation.

    The expression form (``quality_score`` over token arrays) is
    map-only but runs in Spark's interpreted HOF path —
    profiled at ~0.7 ms/doc, which is 8 CPU-days per billion documents.
    The explode→aggregate→join form costs one extra shuffle and runs
    fully inside whole-stage codegen with map-side partial aggregation;
    the arithmetic is IDENTICAL (exact integer sums, one double division)
    so the oracle and the expression form agree bitwise.
    """
    words = docs.select(
        F.col(id_col), F.explode(F.split(F.trim("text"), r"\s+")).alias("__w")
    ).filter(F.col("__w") != "")
    lw = F.lower(F.col("__w"))
    lang_sums = {
        lang: F.sum(F.when(lw.isin(*markers), 1).otherwise(0)).alias(f"__s_{lang}")
        for lang, markers in TX.LANG_MARKERS.items()
    }
    stats = words.groupBy(id_col).agg(
        F.count("*").alias("__n"),
        F.avg(F.length("__w")).alias("__mwl"),
        F.avg(
            F.when(lw.isin(*TX.ENGLISH_STOPWORDS), F.lit(1.0)).otherwise(F.lit(0.0))
        ).alias("__stop"),
        *lang_sums.values(),
    )
    quality = (
        F.least(F.col("__n").cast("double") / F.lit(64.0), F.lit(1.0))
        * F.when((F.col("__mwl") >= 3.0) & (F.col("__mwl") <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
        * F.when(F.col("__stop") > 0.8, F.lit(0.25)).otherwise(F.lit(1.0))
    )
    best_lang, best_score = F.lit("und"), F.lit(0).cast("long")
    for lang in ("en", "de", "fr", "es"):
        s = F.col(f"__s_{lang}")
        improved = s > best_score
        best_lang = F.when(improved, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(improved, s).otherwise(best_score)
    annotated = stats.select(
        id_col,
        quality.alias("quality"),
        best_lang.alias("lang_pred"),
        F.col("__n").cast("long").alias("n_tokens"),
    )
    return docs.join(annotated, id_col).withColumn("fp", TX.fingerprint_md5("text"))


def curate_deterministic(docs: DataFrame, min_quality: float = 0.25) -> DataFrame:
    """The oracle-checkable prefix: clean → exact dedup → annotate →
    quality filter."""
    cleaned = clean_documents(docs)
    deduped = dedup_exact(cleaned, ["text"], keep_by="doc_id")
    return annotate(deduped).filter(F.col("quality") >= min_quality)


def curate_full(
    docs: DataFrame,
    min_quality: float = 0.25,
    near_dup_threshold: float = 0.7,
) -> DataFrame:
    """Full pipeline with MinHash+LSH near-dedup between exact dedup and
    annotation. Keeps the lowest doc_id of every near-dup pair."""
    cleaned = clean_documents(docs)
    deduped = dedup_exact(cleaned, ["text"], keep_by="doc_id")
    pairs = minhash_dedup_pairs(
        deduped, "doc_id", "text", threshold=near_dup_threshold
    )
    losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    survivors = deduped.join(losers, "doc_id", "left_anti")
    return annotate(survivors).filter(F.col("quality") >= min_quality)
