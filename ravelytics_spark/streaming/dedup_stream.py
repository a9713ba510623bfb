"""Continuous near-dup ingest: every micro-batch is deduplicated
against BOTH itself and everything already accepted, then survivors
append to the store WITH their MinHash signatures — the streaming form
of the corpus curation dedup (a 100 TB corpus is not deduped once; it
is deduped as it arrives).

Composition, not new math: ``minhash_signatures`` + LSH banding from
``operators/dedup.py`` produce candidates; duplicate verdicts come
from the signature-agreement estimate of Jaccard (mean of per-slot
signature equality — the standard MinHash estimator, so the store
never needs document text for verification); the ``BatchLedger``
wrapper skips replayed batch_ids.

Exactly-once story (two layers, both needed): the ledger closes the
common replay window (batch applied, checkpoint not advanced). If a
crash lands INSIDE the apply — store appended, ledger not written —
the replayed batch re-runs the dedup against a store that now contains
its own rows, every doc matches itself at agreement 1.0, zero
survivors append, and the store is unchanged. That convergence only
holds because docs and signatures live in ONE table (a single append);
split doc/signature tables would leave a half-written state the replay
could not recognize.

Scale shape per batch B against store S: signatures for B only
(O(|B|) shingle work); the candidate join is banded — B's (band,
bucket) rows against S's — so the cross-batch check shuffles
|B|·bands + |S|·bands 16-byte rows, never |B|·|S| pairs. The store's
banded form is a projection of its signature column; a deployment at
very large S persists it partitioned by (band, bucket % P) so each
batch reads only matching partitions instead of re-deriving it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ravelytics_spark.operators.dedup import _banded, minhash_signatures
from ravelytics_spark.streaming.pipeline import BatchLedger, idempotent_foreach_batch

# Document columns, MinHash geometry (5-word shingles, 64 hashes in 16
# bands of 4) and the estimated-Jaccard verdict threshold.
_ID, _TEXT = "doc_id", "text"
_N, _NUM_HASHES, _BANDS = 5, 64, 16
_THRESHOLD = 0.7


def _sig_agreement(a: str, b: str) -> F.Column:
    """Fraction of agreeing signature slots — the MinHash estimate of
    Jaccard similarity (each slot agrees with probability J)."""
    pairs = F.zip_with(F.col(a), F.col(b), lambda x, y: (x == y).cast("int"))
    return F.aggregate(pairs, F.lit(0), lambda acc, v: acc + v) / F.size(F.col(a))


def dedup_batch_against_store(batch: DataFrame, store: DataFrame | None) -> DataFrame:
    """Survivors of one batch of (doc_id, text, ...) rows, with a ``sig``
    column appended — the rows to add to the store.

    A batch doc is dropped when its estimated Jaccard against any
    already-accepted doc, or any batch doc with a smaller id, reaches
    ``_THRESHOLD`` — so replaying already-stored content can only be
    dropped, never double-accepted.
    """
    rows_per_band = _NUM_HASHES // _BANDS
    sigs = minhash_signatures(batch, _ID, _TEXT, n=_N, num_hashes=_NUM_HASHES)
    b_band = _banded(sigs, _BANDS, rows_per_band)

    dup_ids = None
    if store is not None:
        store_sigs = store.select(
            F.col(_ID).alias("__id"), F.col("sig").alias("__sig")
        )
        s_band = _banded(store_sigs, _BANDS, rows_per_band)
        cand = (
            b_band.alias("nb")
            .join(
                s_band.alias("st"),
                (F.col("nb.__band") == F.col("st.__band"))
                & (F.col("nb.__bucket") == F.col("st.__bucket")),
            )
            .select(
                F.col("nb.__id").alias("__bid"), F.col("st.__id").alias("__sid")
            )
            .distinct()
        )
        dup_ids = (
            cand.join(
                sigs.select(F.col("__id").alias("__bid"), F.col("__sig").alias("__bs")),
                "__bid",
            )
            .join(
                store_sigs.select(
                    F.col("__id").alias("__sid"), F.col("__sig").alias("__ss")
                ),
                "__sid",
            )
            .filter(_sig_agreement("__bs", "__ss") >= _THRESHOLD)
            .select(F.col("__bid").alias("__dup"))
            .distinct()
        )

    # in-batch: banded self-join, larger id of a verified pair loses
    a, b = b_band.alias("a"), b_band.alias("b")
    in_cand = (
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__bucket") == F.col("b.__bucket"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    in_dups = (
        in_cand.join(
            sigs.select(F.col("__id").alias("id_a"), F.col("__sig").alias("__sa")),
            "id_a",
        )
        .join(
            sigs.select(F.col("__id").alias("id_b"), F.col("__sig").alias("__sb")),
            "id_b",
        )
        .filter(_sig_agreement("__sa", "__sb") >= _THRESHOLD)
        .select(F.col("id_b").alias("__dup"))
        .distinct()
    )
    dup_ids = in_dups if dup_ids is None else dup_ids.union(in_dups).distinct()

    return (
        batch.join(dup_ids, batch[_ID] == dup_ids.__dup, "left_anti")
        .join(
            sigs.select(F.col("__id").alias(_ID), F.col("__sig").alias("sig")),
            _ID,
        )
    )


_STORE_ABSENT_CONDITIONS = frozenset({"PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"})


def _is_store_absent(exc: Exception) -> bool:
    """True iff the AnalysisException means 'the store path does not
    exist yet' (first batch). Compares the structured error class from
    ``getCondition()`` / ``getErrorClass()`` EXACTLY — substring-matching
    str(exc) misclassifies: message formats vary across Spark versions
    and a transient failure whose chained message happens to contain
    these tokens would silently disable cross-batch dedup for the batch
    (appending duplicates of already-stored docs). Falls back to a
    whole-token message match only when the exception carries no error
    class (pre-error-class Spark builds)."""
    for getter in ("getCondition", "getErrorClass"):
        fn = getattr(exc, getter, None)
        if fn is None:
            continue
        try:
            condition = fn()
        except Exception:
            continue
        if condition is not None:
            # condition may be dotted (e.g. PATH_NOT_FOUND or a
            # sub-classed UNABLE_TO_INFER_SCHEMA.*): compare the head.
            return condition.split(".")[0] in _STORE_ABSENT_CONDITIONS
    # no structured class available: the legacy message either starts
    # with the bracketed class ("[PATH_NOT_FOUND] Path does not exist")
    # or — on pre-error-class builds — is plain prose with no bracket
    # ("Path does not exist: <path>" / "Unable to infer schema for
    # Parquet"). Match PREFIXES only: a transient failure whose chained
    # message merely CONTAINS these tokens deeper in still fails the
    # batch instead of silently disabling cross-batch dedup.
    msg = str(exc).lstrip()
    head = msg.lstrip("[").split("]")[0].split(".")[0]
    if head in _STORE_ABSENT_CONDITIONS:
        return True
    return msg.startswith("Path does not exist") or msg.startswith(
        "Unable to infer schema"
    )


def start_dedup_ingest(
    doc_stream: DataFrame,
    store_path: str,
    checkpoint_path: str,
    ledger_path: str,
) -> StreamingQuery:
    """writeStream driver: per micro-batch, dedup against self + store,
    append survivors (doc columns + sig) exactly once per batch_id. Runs
    as an ``availableNow`` query: it drains what the source holds, then
    stops."""
    ledger = BatchLedger(ledger_path)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # Probe the store through Spark (not os.listdir): works on any
        # Hadoop-visible filesystem (S3/HDFS) and on partitioned layouts,
        # where a driver-local flat *.parquet scan would read as empty and
        # silently disable cross-batch dedup.
        # Only a missing/empty store path means "first batch, no store
        # yet". Any OTHER read error (transient S3 credentials, corrupt
        # footer, permissions) must fail the batch: swallowing it would
        # dedup the batch against itself only and append duplicates of
        # already-stored docs — silently corrupting the store.
        from pyspark.errors import AnalysisException

        try:
            store = spark.read.parquet(store_path)
            store.schema  # force analysis so missing paths raise here
        except AnalysisException as exc:
            if _is_store_absent(exc):
                store = None
            else:
                raise
        survivors = dedup_batch_against_store(batch_df, store)
        survivors.write.mode("append").parquet(store_path)

    return (
        doc_stream.writeStream.foreachBatch(
            idempotent_foreach_batch(_apply, ledger, "dedup_ingest")
        )
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
