"""Warehouse-scan source (SURVEY OP-S11): read back columnar tables.

The reference reads its warehouse through ClickHouse MergeTree scans
(`docker-compose.yml:102-120` Superset → clickhouse-connect). Here the
warehouse is parquet; Spark's vectorized reader + Catalyst give column
pruning and predicate pushdown for free — callers should ``select`` and
``filter`` on the returned DataFrame and let pushdown reach the scan.
"""

from __future__ import annotations

import os
from collections.abc import Hashable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Columns written with parquet TIMESTAMP(NANOS) logical type, which Spark's
# reader rejects by default. The session reads them as LongType
# nanos-since-epoch (the nanos-as-long setting in session.py); we convert
# to TimestampType (micros) with an integer DIV (lossy below-microsecond
# only; oracle SQL truncates the same way via CAST(ts_ns AS TIMESTAMP)).
_NANO_TS_COLS = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one warehouse table with a declared schema. Inferring the
    schema is a Spark job; the inferred ``StructType`` is memoized per
    dataset state and session, so a repeat read launches none. Pruning,
    pushdown and vectorization are Catalyst built-ins."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = memo(
        spark, sf_dir, name, "schema", lambda: spark.read.parquet(path).schema
    )
    df = spark.read.schema(schema).parquet(path)
    for c in _NANO_TS_COLS.get(name, ()):
        if c in schema.fieldNames() and isinstance(schema[c].dataType, LongType):
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} DIV 1000)"))
    return df


def dataset_fingerprint(sf_dir: str, name: str) -> tuple:
    """Cheap driver-side fingerprint of one table's on-disk state:
    ``(root, entries)`` with the sorted (relative-path, size, mtime_ns)
    of every data file. An in-process rewrite of the SAME path — a
    regenerated corpus, an appended partition — changes it. ``entries``
    is None when ``os.path`` cannot stat the root (a missing table, a
    ``file://`` URI). Pure ``os.stat``; no Spark job."""
    root = os.path.join(sf_dir, f"{name}.parquet")
    if not os.path.exists(root):
        return (root, None)
    if os.path.isfile(root):
        st = os.stat(root)
        return (root, ((".", st.st_size, st.st_mtime_ns),))
    entries = []
    for dirpath, _dirnames, filenames in os.walk(root):
        for fn in filenames:
            if fn.startswith((".", "_")):
                continue  # _SUCCESS / checksums don't carry data
            p = os.path.join(dirpath, fn)
            st = os.stat(p)
            entries.append((os.path.relpath(p, root), st.st_size, st.st_mtime_ns))
    return (root, tuple(sorted(entries)))


# slot -> (fingerprints, session, value); memo()'s slot is (key, sf_dir,
# table). See memo_at().
_MEMO: dict = {}


def fingerprints(sf_dir: str, table: str | None = None) -> tuple:
    """The data state ``memo`` keys on: the ``dataset_fingerprint`` of
    ``table``, or with ``table=None`` of every ``TABLE_NAMES`` table
    under ``sf_dir``."""
    names = TABLE_NAMES if table is None else (table,)
    return tuple(dataset_fingerprint(sf_dir, n) for n in names)


def fingerprint_bytes(fp: tuple) -> int:
    """Total size of the data files in a tuple of fingerprints."""
    return sum(size for _root, entries in fp for _rel, size, _mtime in entries or ())


def memo(
    spark: SparkSession, sf_dir: str, table: str | None, key: Hashable, build
):
    """Return ``build()``, reusing the value stored under ``(key, sf_dir,
    table)`` while the data it was built from is unchanged and the value
    was built for this same ``spark`` session.

    The data is ``table``'s files, or with ``table=None`` every
    ``TABLE_NAMES`` table under ``sf_dir`` (a whole catalog entry, which
    may read any of them); the check compares their ``fingerprints``.
    For anything derived from the data that costs a Spark
    job or a long plan build: a schema, probed widths, collected
    centroids, a catalog entry's DataFrame (a stored DataFrame holds no
    rows; every action re-executes its scan). A DataFrame that reads a
    checkpoint holds rows its build materialized, so it is returned
    without being stored and every call builds it again. When no table
    has files there is nothing to check a stored value against, so
    ``build()`` runs on every call and nothing is stored. Two threads
    that miss together both build; either stored value is valid."""
    return memo_at(fingerprints(sf_dir, table), spark, (key, sf_dir, table), build)


def memo_at(fp: tuple, spark: SparkSession, slot: Hashable, build):
    """``memo`` for a caller that has taken the ``fingerprints`` already
    (and reads them for something else too): the value stored under
    ``slot`` while ``fp`` and the session are unchanged."""
    if not any(entries for _root, entries in fp):
        return build()
    hit = _MEMO.get(slot)
    if hit is not None and hit[0] == fp and hit[1] is spark:
        return hit[2]
    value = build()
    if not _reads_checkpoint(value):
        _MEMO[slot] = (fp, spark, value)
    return value


def _reads_checkpoint(value) -> bool:
    """Whether ``value`` is a DataFrame with a checkpointed RDD among the
    leaves of its analyzed plan (``localCheckpoint``/``checkpoint``,
    eager or lazy, also behind a temp view). A ``createDataFrame`` of
    local rows is a leaf over an RDD too, but one that holds only
    literals, so it does not count."""
    if not isinstance(value, DataFrame):
        return False
    leaves = value._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "LogicalRDD" and leaf.rdd().checkpointData().isDefined():
            return True
    return False


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every testdata table; also registers each as a temp view so
    ``spark.sql`` works against the same names DuckDB's oracle uses."""
    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = load_table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
