"""Leaf registry module: the Query record, the REGISTRY dict and the
``q``/``_dsum`` helpers, with no imports of any plan module.

Why a leaf: every plan module imports ``q`` at its top, and
``queries.py`` ends in an import footer that loads every plan module.
If these names lived in ``queries``, a plan module imported first would
re-enter ``queries`` mid-initialization and fail on any cross-module
import. ``q`` is the only code that writes REGISTRY. REGISTRY is one
shared dict either way, but only importing ``queries`` guarantees it is
fully populated.

Prepared plans: ``q`` registers, as ``Query.spark``, a wrapper that
builds the entry's DataFrame once per session and dataset state. It is
stored with ``sources.tables.memo_at`` under the entry's name and any
arguments of its own (``rank_method=``), keyed on the session object
and the fingerprint of every warehouse table under ``sf_dir``, so a
rewrite of any table or a call on another session builds it again. A
hit hands out a new Dataset over the stored plan, ``stored.alias(name)``:
each action then optimizes, plans and executes in full under its own
QueryExecution (a Dataset handed out twice would let the second action
reuse the first one's physical plan and materialized shuffle stages).
What a hit saves is the Python-side build: its py4j calls and any
collect it runs. A build whose DataFrame reads a checkpoint (an entry
that cuts its lineage with ``localCheckpoint``) is returned without
being stored: its rows were materialized by that build, and a later
call must not read them, so every call builds it again. ``q`` returns
the undecorated function, reachable from the wrapper as
``__wrapped__``, for callers that need a fresh build in the caller's
own session.

Execution profile: when the warehouse tables under ``sf_dir`` have files
and their bytes sum to at most ``SMALL_INPUT_BYTES``, the entry is
built and stored in the caller's small sibling instead of the caller's
session. The sibling (``small_profile``) is a ``cloneSession`` of the
caller, timezone, nanos reading and every other runtime setting carried
over, with AQE off and one shuffle partition: at that size AQE has
nothing to re-plan, and each query stage it submits as its own job is
scheduling cost. Larger inputs run in the caller's session as built,
AQE on. Session settings are global, hence a second session rather
than settings flipped around an action, which would race with
concurrent callers. There is one sibling per caller; it is cloned
again when the caller's runtime settings change (one JVM-side digest of
them per call), and as the memo is keyed on the session, that rebuilds
the entry. A sibling is its own sibling, so a catalog entry that calls
another through REGISTRY inside its build stays in one session.
"""

from __future__ import annotations

import functools
import threading
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ravelytics_spark.sources.tables import fingerprint_bytes, fingerprints, memo_at


@dataclass(frozen=True)
class Query:
    name: str
    op_id: str  # SURVEY §2 operator id(s) this query certifies
    doc: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None → harness-only (rows check)


REGISTRY: dict[str, Query] = {}


# Total bytes of warehouse files up to which a catalog entry runs in the
# small-input profile (module docstring). scripts/profile_crossover.py
# places it. A pass of the twelve interactive queries on 4 cores takes
# 11-18% less time in the small profile from 1.7 to 10.2 MB, within 3%
# at 13.4-16.6 MB, and 13-30% more from 21 to 63 MB, where one partition
# runs all post-shuffle work on one core. Measured on 4 cores only; rerun
# it on a wider machine before raising the value.
SMALL_INPUT_BYTES = 10 * 1024 * 1024

_SIBLING_LOCK = threading.Lock()


def small_profile(spark: SparkSession) -> SparkSession:
    """A clone of ``spark``, every runtime setting carried over, with AQE
    off and one shuffle partition."""
    sibling = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    sibling.conf.set("spark.sql.adaptive.enabled", "false")
    sibling.conf.set("spark.sql.shuffle.partitions", "1")
    sibling._small_sibling_of = spark
    return sibling


def _session_for(spark: SparkSession, fp: tuple) -> SparkSession:
    """The session to build an entry in over the tables ``fp``
    fingerprints: the caller's small sibling when they have files and
    are small, else the caller (module docstring)."""
    if getattr(spark, "_small_sibling_of", None) is not None:
        return spark  # a sibling is its own sibling
    if not any(entries for _root, entries in fp) or fingerprint_bytes(fp) > SMALL_INPUT_BYTES:
        return spark
    digest = spark.conf._jconf.getAll().hashCode()
    with _SIBLING_LOCK:
        known = getattr(spark, "_small_sibling", None)
        if known is None or known[0] != digest:
            known = spark._small_sibling = (digest, small_profile(spark))
        return known[1]


def q(name: str, op_id: str, doc: str, oracle: str | None = None):
    def deco(fn):
        @functools.wraps(fn)
        def prepared(spark: SparkSession, sf_dir: str, *args, **kwargs):
            fp = fingerprints(sf_dir)
            session = _session_for(spark, fp)
            # an entry's own parameters (rank_method=...) select its plan
            slot = ((name, args, tuple(sorted(kwargs.items()))), sf_dir, None)
            build = functools.partial(fn, session, sf_dir, *args, **kwargs)
            return memo_at(fp, session, slot, build).alias(name)

        REGISTRY[name] = Query(name, op_id, doc, prepared, oracle)
        return fn

    return deco


def _dsum(col: Column | str, scale: int = 4) -> Column:
    """Hash-stable SUM of a double column: exact decimal accumulation,
    one IEEE-rounded cast back to double at the end."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(28,{scale})")).cast("double")


# DuckDB spelling of the same thing.
def _dsum_sql(expr: str, scale: int = 4) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(28,{scale}))) AS DOUBLE)"
