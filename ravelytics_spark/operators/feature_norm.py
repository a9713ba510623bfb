"""Grouped feature normalization over embedding columns — the
training-data preprocessing step (per-group z-score / centering).

``normalize_by_group`` explodes to (id, label, dim, value), joins
per-(label, dim) moments and re-assembles with ``array_agg`` ordered by
dim. All codegen'd relational ops, so it is oracle-checkable.

Population std (ddof=0); zero-variance dims normalize to 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def normalize_by_group(
    df: DataFrame,
    vec_col: str,
    group_col: str,
    id_col: str = "vec_id",
    round_moments: int | None = 6,
) -> DataFrame:
    """z-score per (group, dimension), native relational form.

    ``round_moments`` rounds μ/σ before applying them: float summation
    order differs across engines (and across partitionings of the same
    engine), so the raw moments carry last-ulp noise; rounding them makes
    the OUTPUT bitwise-reproducible — the property the differential
    harness (and any regression-diff of two pipeline runs) needs. Pass
    None for exact moments.
    """
    exploded = df.select(
        F.col(id_col), F.col(group_col), F.posexplode(F.col(vec_col)).alias("dim", "v")
    ).select(id_col, group_col, "dim", F.col("v").cast("double").alias("v"))
    mu = F.avg("v")
    sigma = F.sqrt(F.avg(F.col("v") * F.col("v")) - F.avg("v") * F.avg("v"))
    if round_moments is not None:
        mu = F.round(mu, round_moments)
        sigma = F.round(sigma, round_moments)
    moments = exploded.groupBy(group_col, "dim").agg(
        mu.alias("mu"), sigma.alias("sigma")
    )
    z = (
        exploded.join(F.broadcast(moments), [group_col, "dim"])
        .select(
            id_col,
            group_col,
            "dim",
            F.when(F.col("sigma") > 0, (F.col("v") - F.col("mu")) / F.col("sigma"))
            .otherwise(F.lit(0.0))
            .alias("z"),
        )
    )
    return (
        z.groupBy(id_col, group_col)
        .agg(F.array_sort(F.collect_list(F.struct("dim", "z"))).alias("__pairs"))
        .select(
            id_col,
            group_col,
            F.transform(F.col("__pairs"), lambda p: p["z"]).alias("z_embedding"),
        )
    )

