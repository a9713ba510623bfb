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
stored with ``sources.tables.memo`` under the entry's name and any
arguments of its own (``rank_method=``), keyed on the session object
and the fingerprint of every warehouse table under ``sf_dir``, so a
rewrite of any table or a call on another session builds it again. A hit hands out a new Dataset over the stored plan,
``stored.select("*")``: each action then optimizes, plans and executes
in full under its own QueryExecution (a Dataset handed out twice would
let the second action reuse the first one's physical plan and
materialized shuffle stages). What a hit saves is the Python-side
build: its py4j calls and any collect it runs. ``q`` returns the
undecorated function, reachable from the wrapper as ``__wrapped__``,
for callers that need a fresh build.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ravelytics_spark.sources.tables import memo


@dataclass(frozen=True)
class Query:
    name: str
    op_id: str  # SURVEY §2 operator id(s) this query certifies
    doc: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None → harness-only (rows check)


REGISTRY: dict[str, Query] = {}


def q(name: str, op_id: str, doc: str, oracle: str | None = None):
    def deco(fn):
        @functools.wraps(fn)
        def prepared(spark: SparkSession, sf_dir: str, *args, **kwargs):
            # an entry's own parameters (rank_method=...) select its plan
            key = (name, args, tuple(sorted(kwargs.items())))
            build = functools.partial(fn, spark, sf_dir, *args, **kwargs)
            return memo(spark, sf_dir, None, key, build).select("*")

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
