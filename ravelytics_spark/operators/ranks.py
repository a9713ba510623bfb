"""Exact global / per-group row_number and ntile WITHOUT a
single-partition window — the scale path behind the whitelisted
global-window catalog entries (x111 RFM ntiles, x118 exact median,
x188 norm quantiles, x193 vocabulary deciles).

``Window.orderBy(...)`` with no partitionBy compiles to an Exchange
SinglePartition: every row funnels through ONE task, which is fine for
a |customers|-sized aggregate at certification SF and fatal at 100 TB.
The bucketed method here produces BIT-IDENTICAL output to the global
window (property-tested in tests/test_ranks.py) while staying fully
distributed:

1. sample ~``buckets`` quantile boundaries of the leading sort key
   (``approx_percentile`` — one distributed agg; the collected
   boundary list is O(buckets), bounded driver state behind a loud
   guard, the IVF-codebook idiom from similarity.py);
2. assign each row a bucket with a vectorized array comparison —
   bucket id is monotonic in the total sort order, and rows with equal
   leading keys always share a bucket, so per-bucket local order +
   bucket offsets reconstruct the EXACT global rank no matter how
   lopsided the sampled boundaries are (boundary quality affects only
   load balance, never the answer);
3. count rows per bucket, turn counts into cumulative offsets with a
   window over the ≤buckets-row count table (single partition is fine:
   the table is O(buckets), not O(rows));
4. broadcast-join offsets back and add a row_number over
   ``Window.partitionBy(bucket)`` — each frame holds ~1/buckets of the
   data, so no task sees the whole input.

``ntile`` is then pure arithmetic on (rn, n): Spark/ANSI ntile places
the first ``n % k`` tiles one row larger — the closed form below
reproduces it exactly, including the n < k degenerate case.

Grouped form (``partition_by``): boundaries come from ONE grouped
``approx_percentile`` (boundary table is |groups|×buckets rows,
guarded), and offsets accumulate per (group, bucket). Used by x118's
per-priority median when a single group outgrows one task's window.

When to pick ``bucketed`` — measured, not guessed (SCALING.md round
7): it wins when |groups| ≪ executor slots (x118's 5 priority groups
crossed over at 100×: 14.9 s vs the window's 16.3 s) or when one
group outgrows a task's memory; it LOSES when group cardinality
already matches the machine (x195's 25 brands: 2.7× slower at every
scale — the three extra corpus passes buy parallelism the plain
window already has). The plain partitioned window is not an
anti-pattern at moderate group counts; bucketing exists for the
few-giant-groups regime.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Driver-side boundary state is O(buckets) (global) or
# O(groups*buckets) (grouped); refuse silently-unbounded collects the
# same way similarity.py guards its codebooks.
_MAX_BOUNDARY_ROWS = 10_000

_B = "__rnk_bucket"
_OFF = "__rnk_off"
_N = "__rnk_n"


def _sort_cols(order_by: Sequence[tuple[str, str]]) -> list[Column]:
    cols = []
    for name, direction in order_by:
        if direction not in ("asc", "desc"):
            raise ValueError(f"direction must be asc|desc, got {direction!r}")
        cols.append(F.col(name) if direction == "asc" else F.desc(name))
    return cols


def _join_nullsafe(
    left: DataFrame, right: DataFrame, keys: Sequence[str], how: str
) -> DataFrame:
    """Equi-join that MATCHES null keys (eqNullSafe), keeping exactly
    left's key columns. A plain `.join(right, keys)` silently drops —
    or, on a left join, fails to enrich — every row whose partition_by
    key is null, while the window method ranks null groups normally;
    the bucketed method must honor the same contract (ADVICE r7).

    Broadcast hints on `right` survive: the hint attaches to the plan
    node, not the join syntax."""
    rnames = [f"__rnk_rk{i}" for i in range(len(keys))]
    renamed = right.select(
        *[F.col(k).alias(r) for k, r in zip(keys, rnames)],
        *[c for c in right.columns if c not in keys],
    )
    cond = None
    for k, r in zip(keys, rnames):
        term = left[k].eqNullSafe(renamed[r])
        cond = term if cond is None else cond & term
    return left.join(renamed, cond, how).drop(*rnames)


def _leading_sort_key(order_by: Sequence[tuple[str, str]]) -> Column:
    """Numeric leading key oriented ascending (desc keys negated) so
    bucket ids increase along the total order in both directions.

    The double cast is monotone (non-strictly): BIGINTs beyond 2^53
    may collapse to equal doubles, which only merges their buckets —
    within-bucket ordering uses the ORIGINAL columns, so the rank
    stays exact; precision loss can shift load balance, never the
    answer."""
    name, direction = order_by[0]
    key = F.col(name).cast("double")
    return key if direction == "asc" else -key


def global_row_number(
    df: DataFrame,
    order_by: Sequence[tuple[str, str]],
    *,
    partition_by: Sequence[str] = (),
    method: str = "window",
    buckets: int = 64,
    col_name: str = "rn",
    total_name: str | None = None,
) -> DataFrame:
    """``df`` + 1-based ``col_name`` = row_number over the TOTAL order
    ``order_by`` (within each ``partition_by`` group if given), plus
    optionally ``total_name`` = rows in the (group's) frame.

    ``order_by`` is [(column, "asc"|"desc"), ...] and MUST be a total
    order (tie rows would get nondeterministic ranks on any engine).
    ``method="window"`` is the plain window (certifiable small-frame
    form); ``method="bucketed"`` is the distributed exact form — same
    output, no Exchange SinglePartition. The leading sort column must
    be numeric for the bucketed form (its quantiles drive bucketing).
    The bucketed form also needs a DETERMINISTIC ``df``: it evaluates
    ``df`` several times (quantile probe, bucket offsets, final rows),
    so an input that can differ between evaluations (an unordered
    ``limit``, a random sample) gets ranks above the frame's total.
    Make such an input deterministic first (``orderBy`` before ``limit``).
    """
    if method == "window":
        w = Window.partitionBy(*partition_by).orderBy(*_sort_cols(order_by))
        out = df.withColumn(col_name, F.row_number().over(w).cast("long"))
        if total_name:
            wn = Window.partitionBy(*partition_by)
            out = out.withColumn(
                total_name, F.count("*").over(wn).cast("long")
            )
        return out
    if method != "bucketed":
        raise ValueError(f"method must be window|bucketed, got {method!r}")

    parts = list(partition_by)
    keyed = df.withColumn("__rnk_key", _leading_sort_key(order_by))

    # 1. quantile boundaries of the leading key (per group if grouped)
    qs = [i / buckets for i in range(1, buckets)]
    if parts:
        # localCheckpoint (NOT persist): the count below and the
        # broadcast join both consume this tiny (guarded ≤
        # _MAX_BOUNDARY_ROWS) frame — without the cut the grouped
        # percentile scan over the FULL input runs twice. A persist()
        # here would be matched by canonical plan equality in the
        # CacheManager, silently reusing the materialized scan across
        # REBUILDS of the same query in one session (cross-run
        # intermediate caching, which the bench contract forbids); the
        # checkpoint is keyed to this build's RDD identity.
        bounds = (
            keyed.groupBy(*parts)
            .agg(F.percentile_approx("__rnk_key", qs).alias("__bnds"))
            .localCheckpoint(eager=True)
        )
        n_groups = bounds.count()
        if n_groups * buckets > _MAX_BOUNDARY_ROWS:
            raise RuntimeError(
                f"grouped bucketed rank: {n_groups} groups x {buckets} "
                f"buckets exceeds the {_MAX_BOUNDARY_ROWS}-row boundary "
                "budget — lower `buckets` or rethink the grouping "
                "(a high-cardinality partition_by doesn't need bucketing: "
                "the plain window already parallelizes across groups)"
            )
        withb = _join_nullsafe(keyed, F.broadcast(bounds), parts, "left")
    else:
        row = keyed.agg(
            F.percentile_approx("__rnk_key", qs).alias("__bnds")
        ).first()
        # b == b filters NaN (percentile_approx can surface NaN
        # boundaries from NaN inputs; NaN rows get their own end
        # bucket below, so boundaries must stay finite-ordered)
        bnds = sorted(
            {b for b in (row["__bnds"] or []) if b is not None and b == b}
        )
        withb = keyed.withColumn(
            "__bnds",
            F.array(*[F.lit(float(b)) for b in bnds])
            if bnds
            else F.array().cast("array<double>"),
        )

    # 2. bucket = #boundaries strictly below the key (equal keys share
    #    a bucket -> bucket id monotone in the total order). Null keys
    #    sort FIRST under asc (asc_nulls_first is Spark's default) and
    #    LAST under desc (desc_nulls_last); NaN keys sort LAST under
    #    asc and FIRST under desc (Spark orders NaN above every other
    #    double, and negation — the desc orientation — keeps NaN NaN).
    #    Route both to their orientation-correct end buckets: the four
    #    sentinels (-1, buckets for null; buckets + 1, -2 for NaN) are
    #    outside the 0..buckets-1 range and distinct from each other.
    asc = order_by[0][1] == "asc"
    null_bucket = -1 if asc else buckets
    nan_bucket = buckets + 1 if asc else -2
    bucketed = withb.withColumn(
        _B,
        F.when(F.col("__rnk_key").isNull(), F.lit(null_bucket))
        .when(F.isnan("__rnk_key"), F.lit(nan_bucket))
        .otherwise(
            F.size(
                F.filter(
                    "__bnds",
                    lambda b: b.isNotNull()
                    & ~F.isnan(b)
                    & (b < F.col("__rnk_key")),
                )
            )
        ),
    ).drop("__bnds", "__rnk_key")

    # 3. per-bucket counts -> cumulative offsets (tiny table)
    counts = bucketed.groupBy(*parts, _B).agg(F.count("*").alias("__cnt"))
    woff = (
        Window.partitionBy(*parts)
        .orderBy(_B)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wtot = Window.partitionBy(*parts)
    offsets = counts.select(
        *parts,
        _B,
        F.coalesce(F.sum("__cnt").over(woff), F.lit(0)).alias(_OFF),
        F.sum("__cnt").over(wtot).alias(_N),
    )

    # 4. local row_number within (group, bucket) + offset = global rank
    wloc = Window.partitionBy(*parts, _B).orderBy(*_sort_cols(order_by))
    out = (
        _join_nullsafe(bucketed, F.broadcast(offsets), parts + [_B], "inner")
        .withColumn(
            col_name,
            (F.col(_OFF) + F.row_number().over(wloc)).cast("long"),
        )
    )
    if total_name:
        out = out.withColumn(total_name, F.col(_N).cast("long"))
    return out.drop(_B, _OFF, _N)


def global_ntile(
    df: DataFrame,
    k: int,
    order_by: Sequence[tuple[str, str]],
    *,
    partition_by: Sequence[str] = (),
    method: str = "window",
    buckets: int = 64,
    col_name: str = "tile",
) -> DataFrame:
    """``df`` + ``col_name`` = ntile(k) over the total order — exact
    Spark/ANSI tile placement (first n%k tiles get the extra row),
    via the same window/bucketed switch as :func:`global_row_number`.
    ``method="bucketed"`` inherits its precondition: ``df`` must be
    deterministic, or a rank above the total can divide by zero."""
    if method == "window":
        w = Window.partitionBy(*partition_by).orderBy(*_sort_cols(order_by))
        return df.withColumn(col_name, F.ntile(k).over(w).cast("long"))
    ranked = global_row_number(
        df,
        order_by,
        partition_by=partition_by,
        method=method,
        buckets=buckets,
        col_name="__rnk_rn",
        total_name="__rnk_total",
    )
    # n = q*k + r; tiles 1..r have q+1 rows, tiles r+1..k have q rows.
    tile = F.expr(
        f"""CASE
            WHEN __rnk_rn <= (__rnk_total % {k}) * (__rnk_total DIV {k} + 1)
            THEN (__rnk_rn - 1) DIV (__rnk_total DIV {k} + 1) + 1
            ELSE (__rnk_total % {k})
                 + (__rnk_rn - (__rnk_total % {k}) * (__rnk_total DIV {k} + 1) - 1)
                   DIV (__rnk_total DIV {k}) + 1
        END"""
    )
    return (
        ranked.withColumn(col_name, tile.cast("long"))
        .drop("__rnk_rn", "__rnk_total")
    )
