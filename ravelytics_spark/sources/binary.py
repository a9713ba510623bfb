"""Binary/multimodal sources and the latest-file / JSON-array readers.

Reference surface:
- OP-S3: whole-JSON-array file → records (spotify_metadata_to_kafka.py:78-84)
- OP-S4: newest file by mtime in a dir (spotify_metadata_to_kafka.py:17-27)
- OP-S9: binary asset landing + pointer records (spotify_audio_ingest.py:24-76
  — NB broken as committed: literal `[...]` at :30; rebuilt correctly here)
- OP-X5: opaque binary columns with typed metadata (BASELINE.json extension)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_json_array(spark: SparkSession, path: str) -> DataFrame:
    """OP-S3: one JSON array file → DataFrame (multiLine handles the
    pretty-printed array-of-objects layout the ingest DAG writes)."""
    return spark.read.option("multiLine", "true").json(path)


def latest_file_df(spark: SparkSession, glob: str) -> DataFrame:
    """OP-S4 distributed form: binaryFile listing (path, modificationTime,
    length) → top-1 by mtime, without reading file contents."""
    listing = (
        spark.read.format("binaryFile")
        .load(glob)
        .select("path", "modificationTime", "length")
    )
    return listing.orderBy(F.desc("modificationTime"), F.desc("path")).limit(1)


def read_binary_assets(spark: SparkSession, glob: str) -> DataFrame:
    """OP-X5 ingestion: opaque binary column + typed metadata struct.

    Schema: (path string, modificationTime timestamp, length long,
    content binary) — Spark's binaryFile source. Column pruning applies:
    a query touching only metadata never reads the bytes.
    """
    return spark.read.format("binaryFile").load(glob)


def audio_pointer_records(assets: DataFrame, fetched_at) -> DataFrame:
    """OP-S9 pointer messages {track_id, audio_path, fetched_at}: derive
    track_id from the landed filename ({track_id}.mp3,
    ref spotify_audio_ingest.py:62-75)."""
    return assets.select(
        F.regexp_extract(F.element_at(F.split("path", "/"), -1), r"^(.*)\.[^.]+$", 1).alias(
            "track_id"
        ),
        F.col("path").alias("audio_path"),
        F.lit(fetched_at).alias("fetched_at"),
    )
