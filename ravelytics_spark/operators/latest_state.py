"""Latest-state dedup (SURVEY OP-G1) — the reference's ``argMax`` idiom.

Ref: 002_views_techno.sql:9-15 — per ``artist_id``, the value of each
tracked column at max ``ingest_ts`` (SCD-latest).

``groupBy(key).agg(max_by(col, ts))``: Spark's hash aggregate does
partial (map-side) + final combine, so at 100 TB only one pre-combined
row per key per map task crosses the single shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def latest_state(
    df: DataFrame,
    key: str | Sequence[str],
    ts: str,
    value_cols: Sequence[str] | None = None,
) -> DataFrame:
    """One row per key with each value column's state at max(ts)."""
    keys = [key] if isinstance(key, str) else list(key)
    if value_cols is None:
        value_cols = [c for c in df.columns if c not in (*keys, ts)]
    aggs = [F.max_by(c, ts).alias(c) for c in value_cols]
    return df.groupBy(*keys).agg(*aggs)

