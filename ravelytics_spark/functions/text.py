"""Text-analysis expressions for large-scale training-data pipelines:
tokenization, token counting, quality scoring, language ID, document
fingerprinting, shingling.

All native column expressions (split/regexp/aggregate/hash) — these run
inside whole-stage codegen, so a 100 TB corpus pays zero Python cost.
Every function is deterministic (no sampling, no wall clock), so each is
oracle-checkable against equivalent SQL.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A BPE-ish word/number/punctuation splitter: runs of letters (with
# optional leading apostrophe), runs of digits, or single non-space
# punctuation — an approximation of byte-pair pretokenizers.
BPE_ISH_PATTERN = r"'?[\p{L}]+|[\p{N}]+|[^\s\p{L}\p{N}]"

# Minimal per-language stopword marker sets for the n-gram/stopword
# language-ID heuristic. Public knowledge (common function words).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "dans"),
    "es": ("el", "la", "los", "las", "es", "un", "una", "que"),
}

ENGLISH_STOPWORDS = LANG_MARKERS["en"] + ("that", "for", "on", "with", "as", "was")


def tokenize_ws(text: Column | str) -> Column:
    """Whitespace tokenization; empty string → empty array (Spark's
    split('') yields [''], which is not a token)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, r"\s+"), lambda w: w != "")


def tokenize_bpe_ish(text: Column | str) -> Column:
    """Regex pretokenizer approximating BPE-style segmentation."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0)


def token_count(text: Column | str) -> Column:
    return F.size(tokenize_ws(text)).cast("long")


def stopword_ratio_toks(toks: Column, stopwords: tuple[str, ...] = ENGLISH_STOPWORDS) -> Column:
    stop = F.size(F.filter(toks, lambda w: F.lower(w).isin(*stopwords))).cast("double")
    n = F.size(toks)
    return F.when(n > 0, stop / n.cast("double")).otherwise(F.lit(0.0))


def mean_word_length_toks(toks: Column) -> Column:
    n = F.size(toks)
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w).cast("long")
    )
    return F.when(n > 0, total.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def quality_score_toks(toks: Column) -> Column:
    """quality_score over a pre-tokenized array."""
    n = F.size(toks).cast("long")
    len_score = F.least(n.cast("double") / F.lit(64.0), F.lit(1.0))
    mwl = mean_word_length_toks(toks)
    word_score = F.when((mwl >= 3.0) & (mwl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    stop = stopword_ratio_toks(toks)
    stop_score = F.when(stop > 0.8, F.lit(0.25)).otherwise(F.lit(1.0))
    return len_score * word_score * stop_score


def quality_score(text: Column | str) -> Column:
    """Heuristic doc-quality score in [0,1]: rewards mid-length docs with
    word-like tokens and some (but not extreme) stopword density.
    Deterministic integer/rational arithmetic; cross-engine stable."""
    return quality_score_toks(tokenize_ws(text)).alias("quality_score")


def quality_score_agg(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Corpus-scale quality scoring: (id, quality) via explode +
    codegen'd aggregation — same rational arithmetic as
    ``quality_score`` (exact long sums, double division via avg) but no
    interpreted lambda per token. Docs with no tokens score exactly 0.0,
    matching the expression form's 0/64 · 0.5 · 1."""
    words = docs.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("__w"),
    ).filter(F.col("__w") != "")
    lw = F.lower(F.col("__w"))
    stats = words.groupBy(id_col).agg(
        F.count("*").alias("__n"),
        F.avg(F.length("__w")).alias("__mwl"),
        F.avg(
            F.when(lw.isin(*ENGLISH_STOPWORDS), F.lit(1.0)).otherwise(F.lit(0.0))
        ).alias("__stop"),
    )
    # NB: guard on __n, not coalesce(quality, …): least() SKIPS nulls in
    # Spark, so a null __n would otherwise yield least(null/64, 1.0)=1.0
    # and a spurious 0.5 score for token-free docs.
    quality = F.when(
        F.col("__n").isNull(), F.lit(0.0)
    ).otherwise(
        F.least(F.col("__n").cast("double") / F.lit(64.0), F.lit(1.0))
        * F.when(
            (F.col("__mwl") >= 3.0) & (F.col("__mwl") <= 10.0), F.lit(1.0)
        ).otherwise(F.lit(0.5))
        * F.when(F.col("__stop") > 0.8, F.lit(0.25)).otherwise(F.lit(1.0))
    )
    return docs.select(id_col).join(stats, id_col, "left").select(
        id_col, quality.alias("quality")
    )


def lang_id_agg(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Corpus-scale language ID: (id, lang_pred), the argmax over
    per-language marker-hit counts (``LANG_MARKERS``, exact integer
    sums); 'und' when no marker hits, ties broken by the fixed order
    en, de, fr, es. Explode + codegen'd aggregation: whole-stage-codegen
    marker counting with map-side partial aggregation, no interpreted
    lambda per token. Docs with no tokens keep a row ('und') via the
    left join. One shuffle of (id, 4 counters) rows."""
    words = docs.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("__w"),
    ).filter(F.col("__w") != "")
    lw = F.lower(F.col("__w"))
    sums = [
        F.sum(F.when(lw.isin(*markers), 1).otherwise(0)).cast("long").alias(f"__s_{lang}")
        for lang, markers in LANG_MARKERS.items()
    ]
    scores = words.groupBy(id_col).agg(*sums)
    best_lang, best_score = F.lit("und"), F.lit(0).cast("long")
    for lang in ("en", "de", "fr", "es"):
        s = F.coalesce(F.col(f"__s_{lang}"), F.lit(0).cast("long"))
        improved = s > best_score
        best_lang = F.when(improved, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(improved, s).otherwise(best_score)
    return docs.select(id_col).join(scores, id_col, "left").select(
        id_col, best_lang.alias("lang_pred")
    )


def fingerprint_md5(text: Column | str) -> Column:
    """Stable whole-document fingerprint (md5 hex — identical output in
    Spark and DuckDB, so oracle-checkable)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(c)


def shingles(text: Column | str, n: int = 5) -> Column:
    """Word n-gram shingles as strings: the MinHash/Jaccard input unit.
    Documents shorter than n words yield a single whole-doc shingle so
    they still participate in dedup."""
    toks = tokenize_ws(text)
    k = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), k - n),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    return F.when(k >= n, grams).otherwise(F.array(F.array_join(toks, " ")))


# --- PII redaction (training-corpus cleaning) ------------------------------

# Patterns chosen for Java-regex / RE2 parity (no lookaround, no
# backrefs) so the same strings drive Spark and the DuckDB oracle.
URL_PATTERN = r"https?://[^\s]+"
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b"


def redact_pii(text: Column | str) -> Column:
    """Replace URLs, emails, then phone numbers with typed placeholders
    (<URL>/<EMAIL>/<PHONE>) — the standard pre-training scrub pass.
    Order matters: URLs first (they can contain @ and digit runs),
    emails before phones. All three are native regexp_replace —
    codegen, no Python in the path."""
    c = F.col(text) if isinstance(text, str) else text
    c = F.regexp_replace(c, URL_PATTERN, "<URL>")
    c = F.regexp_replace(c, EMAIL_PATTERN, "<EMAIL>")
    return F.regexp_replace(c, PHONE_PATTERN, "<PHONE>")


def top_bigram_fraction(df, id_col: str, text_col: str):
    """Gopher-style repetition signal: fraction of a document's word
    bigrams taken by its single most frequent bigram. High values flag
    boilerplate/degenerate text for curation filtering.

    Physical shape: split → slice+arrays_zip (native, no interpreted
    lambdas) → explode → two hash-aggs keyed on doc id. Documents with
    fewer than 2 tokens have no bigrams and drop out (callers treat
    absent as not-repetitive)."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    pairs = F.arrays_zip(
        F.slice(toks, 1, n - 1).alias("a"),
        F.slice(toks, 2, n - 1).alias("b"),
    )
    exploded = df.select(
        F.col(id_col), F.explode(pairs).alias("p")
    ).select(id_col, F.concat_ws(" ", "p.a", "p.b").alias("bigram"))
    counts = exploded.groupBy(id_col, "bigram").agg(F.count("*").alias("n"))
    return counts.groupBy(id_col).agg(
        F.round(
            F.max("n").cast("double") / F.sum("n").cast("double"), 6
        ).alias("top_bigram_frac")
    )
