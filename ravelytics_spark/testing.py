"""Local differential harness: Spark result ≡ DuckDB oracle.

Mimics the driver's t2 check (row-count + column names + value
comparison after sorting columns by name) so mismatches surface before
the driver runs. Comparison is EXACT — floats must match bitwise, which
the catalog guarantees via decimal-exact aggregation.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from typing import Any

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ravelytics_spark.sources.tables import TABLE_NAMES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Register the testdata parquet tables as DuckDB views (the driver
    pre-registers the same names)."""
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def _norm_cell(v: Any) -> Any:
    if v is None:
        return None
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().replace(tzinfo=None)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, date):
        return datetime(v.year, v.month, v.day)
    if v is pd.NaT:
        return None
    return v


def _normalize(df: pd.DataFrame, sort_rows: bool = True) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    df = df[cols]
    rows = [tuple(_norm_cell(v) for v in row) for row in df.itertuples(index=False, name=None)]
    if sort_rows:
        rows.sort(key=lambda r: tuple((x is None, str(type(x)), x) for x in r))
    return cols, rows


def _dtype_class(df: pd.DataFrame, col: str) -> str:
    """Coarse dtype class of a materialized pandas column — the signal the
    driver's value hash is sensitive to (int64 vs float64 famously differ,
    cf. the round-2 x9_pivot failure: DuckDB HUGEINT → float64 while Spark
    produced int64). ``"any"`` (all-null / empty) matches everything."""
    kind = df[col].dtype.kind
    if kind in "iu":
        return "int"
    if kind == "f":
        return "float"
    if kind == "b":
        return "bool"
    if kind == "M":
        return "datetime"
    # object column: classify by the first non-null value
    for v in df[col]:
        if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
            continue
        if isinstance(v, (bool, np.bool_)):
            return "bool"
        if isinstance(v, (int, np.integer)):
            return "int"
        if isinstance(v, (float, np.floating)):
            return "float"
        if isinstance(v, str):
            return "str"
        if isinstance(v, (bytes, bytearray)):
            return "bytes"
        if isinstance(v, (datetime, pd.Timestamp)):
            return "datetime"
        if isinstance(v, date):
            return "datetime"  # _norm_cell folds date → datetime
        if isinstance(v, (list, tuple, np.ndarray)):
            return "seq"
        return type(v).__name__
    return "any"


def compare(
    spark_df: DataFrame,
    con: duckdb.DuckDBPyConnection,
    oracle_sql: str,
    name: str = "query",
    strict_row_order: bool = False,
) -> list[str]:
    """Return a list of mismatch descriptions (empty = pass).

    ``strict_row_order=True`` compares rows IN RETURNED ORDER instead of
    sorting them first — the harsher standard an external verifier that
    hashes rows positionally would apply. An entry that passes sorted
    but fails strict has a non-total ORDER BY (tie rows free to land in
    either engine's arbitrary order): tighten its sort key."""
    problems: list[str] = []
    sp = spark_df.toPandas()
    dk = con.execute(oracle_sql).fetchdf()

    if len(sp) != len(dk):
        problems.append(f"{name}: row count spark={len(sp)} duckdb={len(dk)}")
    sp_cols, sp_rows = _normalize(sp, sort_rows=not strict_row_order)
    dk_cols, dk_rows = _normalize(dk, sort_rows=not strict_row_order)
    if sp_cols != dk_cols:
        problems.append(f"{name}: columns spark={sp_cols} duckdb={dk_cols}")
        return problems
    for col in sp_cols:
        sc, dc = _dtype_class(sp, col), _dtype_class(dk, col)
        if sc != dc and "any" not in (sc, dc):
            problems.append(
                f"{name}: dtype class mismatch on {col!r}: spark={sc} duckdb={dc} "
                f"(spark dtype={sp[col].dtype}, duckdb dtype={dk[col].dtype})"
            )
    if problems:
        return problems
    for i, (a, b) in enumerate(zip(sp_rows, dk_rows)):
        if a != b:
            problems.append(f"{name}: first value mismatch at sorted row {i}: spark={a!r} duckdb={b!r}")
            break
    return problems

