"""Leaf registry module: the Query record, the REGISTRY dict and the
``q``/``_dsum`` helpers, with no imports of any plan module.

Why a leaf: every plan module imports ``q`` at its top, and
``queries.py`` ends in an import footer that loads every plan module.
If these names lived in ``queries``, a plan module imported first would
re-enter ``queries`` mid-initialization and fail on any cross-module
import. ``q`` is the only code that writes REGISTRY. REGISTRY is one
shared dict either way, but only importing ``queries`` guarantees it is
fully populated.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


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
        REGISTRY[name] = Query(name, op_id, doc, fn, oracle)
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
