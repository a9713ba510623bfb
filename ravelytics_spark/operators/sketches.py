"""Mergeable cardinality sketches (HyperLogLog) in pure relational
form — the ClickHouse ``uniqState`` / ``uniqMerge`` combinator pattern
(the reference's engine family keeps partial aggregate STATES in
tables and merges them at read time; MergeTree rollups depend on it).

Spark's ``approx_count_distinct`` computes an HLL internally but never
exposes the state, so a day×key rollup cannot be combined into
month×key without rescanning raw data. This module keeps the sketch
AS ROWS — (group..., register, max_rho) — which makes every piece of
the pattern ordinary relational algebra:

- build:   one hash + groupBy max          (``hll_sketch``)
- merge:   union + groupBy max             (``hll_merge``) — sketches
           from different days/partitions/clusters combine exactly
           (max is associative/commutative/idempotent)
- read:    harmonic estimator + linear-counting small-range fix
           (``hll_estimate``; Flajolet et al. 2007, public)

Determinism: xxhash64 is seeded and fixed; register math is integer
(``bin()`` string length gives the exact bit length — no float
log2 whose rounding could flip a rho at power-of-two boundaries), so
the same input always yields bit-identical sketches on any cluster
layout. Storage: m rows per group (m=256 default ⇒ ±~6.5% standard
error); a 100 TB warehouse stores day×key sketches (m rows each)
instead of raw ids, and month/year/all-time distinct counts become
sums over tiny tables.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _rho_expr(m: int) -> tuple[F.Column, F.Column]:
    """(register, rho) for xxhash64 of the value column ``__v``.

    bucket = low log2(m) bits; rho = leading-zero count of the
    REMAINING 64−log2(m) bits + 1, computed exactly: shift out the
    bucket bits, take the unsigned bit LENGTH via ``length(bin(w))``
    (bin() prints no leading zeros), rho = (64−p) − bitlen + 1.
    """
    p = int(math.log2(m))
    assert 2**p == m, "m must be a power of two"
    h = F.xxhash64(F.col("__v"))
    bucket = F.pmod(h, F.lit(m)).cast("int")
    w = F.shiftrightunsigned(h, p)
    bitlen = F.when(w == 0, F.lit(0)).otherwise(
        F.length(F.expr(f"bin(shiftrightunsigned(xxhash64(__v), {p}))"))
    )
    rho = (F.lit(64 - p) - bitlen + F.lit(1)).cast("int")
    return bucket, rho


def hll_sketch(
    df: DataFrame, value_col: str, group_cols: list[str] | None = None, m: int = 256
) -> DataFrame:
    """Sketch rows (group..., register int, max_rho int) — the
    ``uniqState`` analog. One hash per row, one map-side-combined
    groupBy max; null values are ignored (matching count distinct)."""
    group_cols = group_cols or []
    bucket, rho = _rho_expr(m)
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, F.col(value_col).alias("__v"))
        .select(*group_cols, bucket.alias("register"), rho.alias("rho"))
        .groupBy(*group_cols, "register")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_merge(
    sketches: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Combine sketch rows into coarser groups (or one global sketch):
    the ``uniqMerge`` analog. Input columns beyond ``group_cols`` +
    (register, max_rho) are dropped — e.g. merge day×key sketches to
    key sketches by passing group_cols=["key"]."""
    group_cols = group_cols or []
    return sketches.groupBy(*group_cols, "register").agg(
        F.max("max_rho").alias("max_rho")
    )


def hll_estimate(
    sketches: DataFrame, group_cols: list[str] | None = None, m: int = 256
) -> DataFrame:
    """Cardinality estimate per group from sketch rows.

    Standard HLL: E = α_m · m² / (Σ 2^−rho over all m registers, with
    absent registers contributing 2⁰ = 1); small-range correction
    switches to linear counting m·ln(m/V) when E ≤ 2.5m and V > 0
    registers are empty. Error ~1.04/√m.
    """
    group_cols = group_cols or []
    alpha = 0.7213 / (1 + 1.079 / m)
    agg = sketches.groupBy(*group_cols).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))).alias("__z_used"),
        F.count("*").alias("__filled"),
    )
    z = F.col("__z_used") + (F.lit(m) - F.col("__filled"))  # empty regs add 1
    raw = F.lit(alpha * m * m) / z
    zeros = F.lit(m) - F.col("__filled")
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return agg.select(
        *group_cols, F.round(est).cast("long").alias("approx_distinct")
    )


# ---------------------------------------------------------------------------
# KMV / bottom-k sketch: mergeable distinct-count AND quantile estimates
# (the quantileState/quantileMerge companion to HLL; Bar-Yossef et al.
# "Counting distinct elements in a data stream", 2002 — public)
# ---------------------------------------------------------------------------


def kmv_sketch(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    k: int = 256,
) -> DataFrame:
    """Bottom-k sketch rows: per group, the k smallest xxhash64 values
    with their payloads — (group..., hash, value).

    Shape: distinct (the same map-side-combined shuffle any exact
    count-distinct pays — needed so duplicate values cannot occupy
    two sketch slots) → hash → per-group bottom-k via row_number over
    (group ORDER BY hash) — keyed on the group, no single-partition
    exchange; an UNGROUPED sketch switches to orderBy+limit
    (TakeOrderedAndProject — per-partition heaps).

    Mergeable exactly like HLL: union two sketches and re-take the
    bottom k (``kmv_merge``). Duplicates hash identically, so the
    sketch is a uniform sample of the DISTINCT values — which is what
    makes both estimators below correct under heavy duplication.
    """
    from pyspark.sql import Window

    group_cols = group_cols or []
    hashed = (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, F.col(value_col).alias("value"))
        .distinct()
        .select(*group_cols, "value", F.xxhash64("value").alias("hash"))
    )
    # Carry k in the sketch so kmv_merge can enforce its coverage
    # precondition (merged k ≤ smallest component k).
    if not group_cols:
        return (
            hashed.orderBy("hash")
            .limit(k)
            .select("hash", "value", F.lit(k).alias("sketch_k"))
        )
    w = Window.partitionBy(*group_cols).orderBy("hash")
    return (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
        .withColumn("sketch_k", F.lit(k))
    )


def kmv_merge(
    sketches: DataFrame, group_cols: list[str] | None = None, k: int = 256
) -> DataFrame:
    """Union of sketches → bottom k again (drop duplicate hashes
    first: the same distinct value may appear in both sides).

    The merged ``k`` must be ≤ the smallest component sketch's k: a
    union of bottom-64 sketches only covers each part's 64 smallest
    hashes, so asking it for a bottom-256 silently under-covers and
    biases the estimator low. Merging at equal k is always safe.

    Enforced when the sketches carry ``sketch_k`` (kmv_sketch emits it):
    any row whose sketch_k is below the requested k fails the merge job
    with a descriptive error. The guard is a per-row conditional woven
    into the hash value path — LAZY, so building the merged plan stays
    free (an eager min() action here would execute the entire upstream
    sketch plan once at construction time and again at real execution,
    doubling the dominant cost). Pre-``sketch_k`` frames skip the check
    (documented contract only)."""
    from pyspark.sql import Window

    group_cols = group_cols or []
    if "sketch_k" in sketches.columns:
        guard_msg = F.concat(
            F.lit(f"kmv_merge: requested k={k} exceeds smallest component sketch_k="),
            F.col("sketch_k").cast("string"),
            F.lit(
                "; a union of bottom-n sketches only covers n hashes per "
                f"part, so the merged estimator would bias low. Merge with k<=n."
            ),
        )
        # Embedded in the kept hash column (not a droppable side column)
        # so column pruning cannot eliminate the check.
        checked_hash = F.when(
            F.col("sketch_k") < F.lit(k), F.raise_error(guard_msg)
        ).otherwise(F.col("hash"))
        sketches = sketches.select(*group_cols, checked_hash.alias("hash"), "value")
    deduped = sketches.select(*group_cols, "hash", "value").distinct()
    if not group_cols:
        return (
            deduped.orderBy("hash")
            .limit(k)
            .select("hash", "value", F.lit(k).alias("sketch_k"))
        )
    w = Window.partitionBy(*group_cols).orderBy("hash")
    return (
        deduped.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
        .withColumn("sketch_k", F.lit(k))
    )


def kmv_distinct_estimate(
    sketches: DataFrame, group_cols: list[str] | None = None, k: int = 256
) -> DataFrame:
    """(k−1) / F(k-th smallest normalized hash): if fewer than k
    hashes exist the count is exact (the sketch holds every distinct
    value). Hashes are signed 64-bit; normalize to (0, 1) over the
    full 2^64 range.

    When the sketch carries ``sketch_k`` (kmv_sketch/kmv_merge emit
    it), the estimator uses THAT per group and ignores the ``k``
    parameter: trusting a caller-passed k=256 against a bottom-64
    sketch would treat every saturated 64-row group as an exhaustive
    census and bias the estimate low with no error — the same silent
    class the merge-k guard exists for. The parameter remains only for
    pre-``sketch_k`` frames."""
    group_cols = group_cols or []
    has_k = "sketch_k" in sketches.columns
    aggs = [F.count("*").alias("__n"), F.max("hash").alias("__hk")]
    if has_k:
        aggs.append(F.min("sketch_k").alias("__k"))
    agg = sketches.groupBy(*group_cols).agg(*aggs)
    k_col = F.col("__k") if has_k else F.lit(k)
    frac = (F.col("__hk").cast("double") + F.lit(2.0**63)) / F.lit(2.0**64)
    est = F.when(F.col("__n") < k_col, F.col("__n").cast("double")).otherwise(
        (k_col.cast("double") - F.lit(1.0)) / frac
    )
    return agg.select(
        *group_cols, F.round(est).cast("long").alias("approx_distinct")
    )


def kmv_quantile_estimate(
    sketches: DataFrame,
    probs: list[float],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Quantiles of the DISTINCT-value distribution from the sketch's
    payloads (a uniform sample of distinct values): exact percentile
    over the ≤k sampled values per group. Returns (group..., p,
    quantile). Sampling error ~1/√k on the rank.

    Only meaningful for NUMERIC-valued sketches: raises TypeError for
    other payload types (a silent cast-to-double would null every
    quantile)."""
    value_type = sketches.schema["value"].dataType
    if not isinstance(
        value_type, (T.NumericType,)
    ):
        raise TypeError(
            "kmv_quantile_estimate: sketch payload column 'value' has type "
            f"{value_type.simpleString()}; quantile estimation applies only "
            "to numeric-valued sketches (distinct-count works for any type)."
        )
    group_cols = group_cols or []
    out = sketches.groupBy(*group_cols).agg(
        *[
            F.percentile(F.col("value").cast("double"), F.lit(p)).alias(f"__q{i}")
            for i, p in enumerate(probs)
        ]
    )
    stacked = out.select(
        *group_cols,
        F.explode(
            F.array(*[
                F.struct(F.lit(p).alias("p"), F.col(f"__q{i}").alias("quantile"))
                for i, p in enumerate(probs)
            ])
        ).alias("__s"),
    )
    return stacked.select(*group_cols, "__s.p", "__s.quantile")
