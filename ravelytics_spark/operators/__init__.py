"""Relational + extension operators built on DataFrame primitives."""

from ravelytics_spark.operators.asof import asof_join, range_join_binned
from ravelytics_spark.operators.clusters import connected_components, dedup_by_clusters
from ravelytics_spark.operators.dedup import (
    dedup_exact,
    minhash_dedup_pairs,
    minhash_lsh_candidates,
    minhash_signatures,
    simhash_near_pairs,
    simhash_signatures,
)
from ravelytics_spark.operators.feature_norm import normalize_by_group
from ravelytics_spark.operators.latest_state import latest_state
from ravelytics_spark.operators.maintenance import cleanse_tracks_with_audit, compact_partitions
from ravelytics_spark.operators.multimodal import (
    audio_features,
    image_features,
    partition_for_assets,
    sample_frames,
)
from ravelytics_spark.operators.similarity import (
    cosine_knn_join,
    cosine_topk,
    embedding_near_pairs,
    ivf_topk,
    srp_signatures,
    srp_topk,
)
from ravelytics_spark.operators.resample import resample_ffill, time_grid
from ravelytics_spark.operators.skew import salted_agg, salted_left_join, top_keys
from ravelytics_spark.operators.validation import (
    check_referential,
    check_unique,
    validate,
)

__all__ = [
    "connected_components",
    "dedup_by_clusters",
    "resample_ffill",
    "time_grid",
    "validate",
    "check_unique",
    "check_referential",
    "asof_join",
    "range_join_binned",
    "dedup_exact",
    "minhash_dedup_pairs",
    "minhash_lsh_candidates",
    "minhash_signatures",
    "simhash_near_pairs",
    "simhash_signatures",
    "normalize_by_group",
    "latest_state",
    "cleanse_tracks_with_audit",
    "compact_partitions",
    "audio_features",
    "image_features",
    "partition_for_assets",
    "sample_frames",
    "cosine_knn_join",
    "cosine_topk",
    "embedding_near_pairs",
    "ivf_topk",
    "srp_signatures",
    "srp_topk",
    "salted_agg",
    "salted_left_join",
    "top_keys",
]
