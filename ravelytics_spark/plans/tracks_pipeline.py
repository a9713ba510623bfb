"""Playlist-item normalization and warehouse cleansing — the record pipeline.

Two stages, mirroring the reference's two hops:

1. ``normalize_playlist_items``: nested playlist item → flat wire record.
   Ref: ``spotify_metadata_to_kafka.py:30-49`` (``_record_from_item``) +
   the non-empty filter at ``:86``. All native expressions — the Python
   list comprehension over ``track.artists`` becomes ``transform`` and
   the ``or default`` chain becomes ``coalesce``.
2. ``cleanse_tracks``: stringly wire record → typed warehouse row.
   Ref: the ClickHouse MV ``001_init_spotify_tracks.sql:50-74``.

Both are pure DataFrame→DataFrame plan builders (no actions), so they run
identically in batch and Structured Streaming (the streaming leg reuses
``cleanse_tracks`` as its per-microbatch select — SURVEY OP-T2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ravelytics_spark.functions.cleansing import (
    best_effort_timestamp,
    ingest_month,
    normalize_release_date,
    null_default,
)


def normalize_playlist_items(items: DataFrame, ingest_ts: Column | None = None) -> DataFrame:
    """Flatten nested playlist items into the tracks wire record.

    ``items`` has the Spotify playlist-item shape (``track.id``,
    ``track.artists[]``, ``track.album.*`` — FIXTURES.md §1). The ingest
    stamp is injected (tests pass a literal; production uses now()),
    matching ``spotify_metadata_to_kafka.py:74``.
    """
    if ingest_ts is None:
        ingest_ts = F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    track = F.col("track")
    rec = items.select(
        ingest_ts.alias("ingest_ts"),
        null_default(track["id"], "").alias("track_id"),
        null_default(track["name"], "").alias("track_name"),
        # [a.get("name") for a in artists] → transform(...)  (ref :40-41)
        F.coalesce(
            F.transform(track["artists"], lambda a: F.coalesce(a["name"], F.lit(""))),
            F.array().cast("array<string>"),
        ).alias("artists"),
        F.coalesce(
            F.transform(track["artists"], lambda a: F.coalesce(a["id"], F.lit(""))),
            F.array().cast("array<string>"),
        ).alias("artist_ids"),
        null_default(track["album"]["id"], "").alias("album_id"),
        null_default(track["album"]["name"], "").alias("album_name"),
        null_default(track["album"]["release_date"], "").alias("release_date"),
        null_default(track["popularity"], 0).cast("int").alias("popularity"),
        null_default(F.col("added_at"), "").alias("added_at"),
        null_default(track["external_urls"]["spotify"], "").alias("external_url"),
    )
    # Drop records with empty track_id (ref :86).
    return rec.filter(F.col("track_id") != "")


def normalize_artist_records(raw: DataFrame, ingest_ts: Column | None = None) -> DataFrame:
    """Artist API object → artists record (the artists-pipeline analog of
    ``normalize_playlist_items``). Ref
    ``spotify_artist_genres_to_kafka.py:94-110``: name stripped (:104),
    genres default [] (:105), popularity/followers ``int(x or 0)``
    (:106-107); records without an id are dropped (:100-103).

    ``raw`` rows have the API shape: id, name, genres array,
    popularity, followers.total.
    """
    if ingest_ts is None:
        ingest_ts = F.current_timestamp()
    rec = raw.select(
        ingest_ts.alias("ingest_ts"),
        null_default(F.col("id"), "").alias("artist_id"),
        F.trim(null_default(F.col("name"), "")).alias("artist_name"),
        null_default(F.col("genres"), F.array().cast("array<string>")).alias("genres"),
        null_default(F.col("popularity"), 0).cast("int").alias("popularity"),
        null_default(F.col("followers")["total"], 0).cast("long").alias("followers_total"),
    )
    return rec.filter(F.col("artist_id") != "")


def cleanse_columns() -> list[Column]:
    """The MV body's select list over a wire record (ref 001:50-74).

    - ingest_ts: best-effort parse, fallback now()          (001:54)
    - release_date: YYYY→YYYY-01-01 / left 10 / 1970-01-01  (001:61-70)
    - added_at: best-effort parse, fallback ingest_ts       (001:72)
    """
    ingest_ts = best_effort_timestamp(F.col("ingest_ts"))
    return [
        ingest_ts.alias("ingest_ts"),
        F.col("track_id"),
        F.col("track_name"),
        null_default(F.col("artists"), F.array().cast("array<string>")).alias("artists"),
        null_default(F.col("artist_ids"), F.array().cast("array<string>")).alias(
            "artist_ids"
        ),
        F.col("album_id"),
        F.col("album_name"),
        normalize_release_date(F.col("release_date")).alias("release_date"),
        null_default(F.col("popularity"), 0).cast("int").alias("popularity"),
        best_effort_timestamp(F.col("added_at"), fallback=ingest_ts).alias("added_at"),
        F.col("external_url"),
    ]


def cleanse_tracks(wire: DataFrame) -> DataFrame:
    """Wire record → typed warehouse row (the MV body, ref 001:50-74):
    ``cleanse_columns`` plus the toYYYYMM partition key ``ingest_month``
    (001:21)."""
    return wire.select(*cleanse_columns()).withColumn("ingest_month", ingest_month("ingest_ts"))


def write_tracks_warehouse(df: DataFrame, path: str, mode: str = "append") -> None:
    """Partitioned columnar sink ≡ MergeTree PARTITION BY toYYYYMM /
    ORDER BY (ingest_ts, track_id) (ref 001:21-22).

    ``sortWithinPartitions`` gives the clustering the ClickHouse ORDER BY
    provides: parquet row-group min/max stats on (ingest_ts, track_id)
    make time/key-ranged scans skip, the Spark analog of the sparse
    primary index. Partition pruning on ingest_month is automatic.
    """
    (
        df.sortWithinPartitions("ingest_ts", "track_id")
        .write.mode(mode)
        .partitionBy("ingest_month")
        .parquet(path)
    )
