"""Warehouse maintenance operators: partition-pruned latest-state upsert
and small-file compaction — the operational pieces a continuously-ingesting
warehouse needs (ClickHouse gets both from MergeTree merges; parquet
needs explicit jobs).
"""

from __future__ import annotations

import math
import os
import shutil
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ravelytics_spark.functions.cleansing import ingest_month, parse_release_date, parse_timestamp
from ravelytics_spark.operators.latest_state import latest_state


def _replace_partitions(path: str, stage: Callable[[str], None]) -> None:
    """Replace partitions of the table at ``path`` — the one swap of
    this module. Recovery first: a partition that a crash left only in
    ``_retired`` is renamed back, then ``_staging`` and ``_retired``
    are deleted. Rolling back is correct because callers re-run: the
    upsert's fold is idempotent and its caller re-applies the batch (a
    ``Pipeline`` retry, a foreachBatch replay); compaction rewrites the
    same rows. Then ``stage`` writes ``<col>=<v>`` directories under
    ``_staging``; each live one moves to ``_retired`` and its staged
    copy takes its place; ``_retired`` goes once all are promoted.
    Partition discovery skips a leading ``_``: readers never see staged
    or retired rows, but miss a partition between its two renames (and
    after a crash there, until the next call restores it).
    """
    staging, retired = os.path.join(path, "_staging"), os.path.join(path, "_retired")
    for name in os.listdir(retired) if os.path.isdir(retired) else ():
        if not os.path.isdir(os.path.join(path, name)):
            os.rename(os.path.join(retired, name), os.path.join(path, name))
    for leftover in (staging, retired):
        if os.path.isdir(leftover):
            shutil.rmtree(leftover)
    stage(staging)
    if not os.path.isdir(staging):
        return
    os.makedirs(retired)
    for name in sorted(n for n in os.listdir(staging) if "=" in n):
        live = os.path.join(path, name)
        if os.path.isdir(live):
            os.rename(live, os.path.join(retired, name))
        os.rename(os.path.join(staging, name), live)
    shutil.rmtree(retired)
    shutil.rmtree(staging)


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str,
    partitions: list[str] | None = None,
    target_file_rows: int = 1_000_000,
    min_quiesce_s: float = 0.0,
) -> None:
    """Small-file compaction for a parquet warehouse: a long-running
    ingest leaves thousands of small files per partition (the classic
    streaming-sink pathology; MergeTree background merges are
    ClickHouse's answer).

    Rewrites each listed partition (default: all) into
    ``ceil(rows / target_file_rows)`` files under the hidden
    ``<path>/_staging`` and swaps them in (``_replace_partitions``).
    Each call first recovers from a crashed earlier swap. Readers of
    ``path`` see each partition's old or new files, never both, but may
    miss one partition between its two renames (after a crash there,
    until the next call), or fail on an old file the swap deleted after
    they listed it (retry).

    Concurrency contract: a partition must be quiescent while it is
    compacted — rows appended between the read and the swap would be
    lost. ``min_quiesce_s`` enforces this programmatically: partitions
    containing a file modified more recently than that many seconds ago
    are skipped (run with e.g. 2× the micro-batch interval; ingest-day
    partitions simply wait for the next scheduled pass).

    Filesystem contract: the swap depends on atomic directory
    ``os.rename`` and driver-visible listings, i.e. a POSIX filesystem
    (local disk, NFS). On object stores (S3) rename is copy+delete and
    non-atomic — there, compact through a table format (Delta/Iceberg
    ``rewrite_data_files``) instead of this operator.

    NOT for paths under a Structured Streaming file-sink root: the
    sink's ``_spark_metadata`` transaction log names the original part
    files, and readers of the sink root prefer the log — rewritten
    files would be invisible/dangling. Such sinks must be compacted
    through the sink's own commit protocol or a table format
    (Delta/Iceberg ``rewrite_data_files``). Detected and refused.
    """
    if os.path.isdir(os.path.join(path, "_spark_metadata")):
        raise ValueError(
            f"{path} is a Structured Streaming file-sink root "
            "(_spark_metadata present); compacting part files here would "
            "invalidate the sink's transaction log. Use the sink's commit "
            "protocol or a table format instead."
        )

    def stage(staging: str) -> None:
        if partitions is None:
            names = [d for d in os.listdir(path) if d.startswith(f"{partition_col}=")]
        else:
            names = [f"{partition_col}={v}" for v in partitions]
        now = time.time()
        for name in names:
            part_dir = os.path.join(path, name)
            if min_quiesce_s > 0:
                newest = max(
                    (os.path.getmtime(os.path.join(part_dir, f)) for f in os.listdir(part_dir)),
                    default=0.0,
                )
                if now - newest < min_quiesce_s:
                    continue  # still inside the ingest window — next pass
            df = spark.read.parquet(part_dir)
            files = max(1, math.ceil(df.count() / target_file_rows))
            df.repartition(files).write.parquet(os.path.join(staging, name))

    _replace_partitions(path, stage)


def upsert_partitioned(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    key: str,
    ts: str,
    partition_col: str,
) -> list[str]:
    """Partition-pruned MERGE (upsert) into a hive-partitioned parquet
    warehouse: fold a delta batch into the latest-state table, rewriting
    ONLY the partitions the delta touches — the poor-man's Delta/Iceberg
    ``MERGE INTO`` for plain parquet. (ClickHouse gets this from
    ReplacingMergeTree background merges; the reference's tracks table
    relies on exactly that, 001_init_spotify_tracks.sql:6-22.)

    One pass: the live touched partitions are read together with the
    delta's schema (no inference job) and folded with the delta by
    ``latest_state`` per (partition, key), keeping the winning
    timestamp the next upsert orders by — one shuffle over O(touched
    partitions + delta), not O(table) — then staged by one
    ``partitionBy`` write and swapped in (``_replace_partitions``).
    Untouched partitions are never read, written, or listed. Each call
    first recovers from a crashed earlier swap; a crash may leave some
    touched partitions new and the rest old, and re-applying the delta
    (a ``Pipeline`` retry, a foreachBatch replay) converges because the
    fold is idempotent. The reader contract is ``compact_partitions``'s.

    Contract: ``partition_col`` must be immutable per key (true for
    any ingest-date/month derivation of a key-stable timestamp) — a
    key that changes partition value would duplicate across partitions
    because old partitions are not scanned. The delta must carry the
    table's exact schema. One writer per table. Returns the list of
    partition values rewritten.

    At 100 TB the touched-partition list is the day's ingest window
    (a handful of values), so the rewrite cost is bounded by ingest
    volume, never table size.
    """
    touched = sorted(str(r[0]) for r in delta.select(partition_col).distinct().collect())

    def stage(staging: str) -> None:
        dirs = [os.path.join(path, f"{partition_col}={v}") for v in touched]
        live = [d for d in dirs if os.path.isdir(d)]
        rows = delta
        if live:
            rows = rows.unionByName(
                spark.read.schema(delta.schema).option("basePath", path).parquet(*live)
            )
        others = [c for c in delta.columns if c not in (partition_col, key, ts)]
        if touched:  # ts rides as the last value: max_by(ts, ts) is max(ts)
            latest = latest_state(rows, [partition_col, key], ts, [*others, ts])
            latest.write.partitionBy(partition_col).parquet(staging)

    _replace_partitions(path, stage)
    return touched


def cleanse_tracks_with_audit(wire: DataFrame) -> DataFrame:
    """Cleansing with defaulting-audit flags (dead-letter-queue pattern):
    same output as ``cleanse_tracks`` plus booleans recording which
    fallbacks fired, so bad upstream data is measurable instead of
    silently defaulted (the reference's MV swallows these, 001:54-72).
    Route ``filter(any flag)`` to a quarantine sink for inspection.

    One select over the wire row: a flag is "the cleanse's own parse was
    null", so the audit cannot drift from the cleanse, and each delivery
    of a ``track_id`` keeps its own row and flags.
    """
    from ravelytics_spark.plans.tracks_pipeline import cleanse_columns

    audited = wire.select(
        *cleanse_columns(),
        parse_timestamp("ingest_ts").isNull().alias("ingest_ts_defaulted"),
        parse_release_date("release_date").isNull().alias("release_date_defaulted"),
        parse_timestamp("added_at").isNull().alias("added_at_defaulted"),
    )
    return audited.withColumn("ingest_month", ingest_month("ingest_ts"))
