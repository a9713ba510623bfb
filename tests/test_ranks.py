"""operators/ranks.py — the distributed exact global/grouped rank that
backs the rank_method='bucketed' scale path of the whitelisted
global-window entries (x111, x118, x188, x193).

Two layers: (1) synthetic equivalence against Spark's own window
functions across the nasty axes (desc order, null keys, heavy ties,
constant keys, n < k, grouped frames); (2) the four catalog entries run
with rank_method='bucketed' against their DuckDB oracles at two SFs —
the same hash-strict comparison certification uses, proving the scale
path is output-identical to the certified form, not an approximation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ravelytics_spark.operators.ranks import global_ntile, global_row_number
from ravelytics_spark.plans.queries import REGISTRY
from ravelytics_spark.testing import compare, duckdb_connection

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


@pytest.fixture(scope="module")
def messy(spark):
    """997 rows, null-riddled low-cardinality key (heavy ties), spread
    over 7 input partitions so bucket/offset assembly crosses tasks."""
    import random

    rnd = random.Random(7)
    rows = [
        (i, rnd.choice([None, *range(20)]), rnd.randint(0, 5))
        for i in range(997)
    ]
    return spark.createDataFrame(rows, "id long, v int, grp int").repartition(7)


def _mismatches(got, want):
    g = {r["id"]: r["x"] for r in got.collect()}
    w = {r["id"]: r["x"] for r in want.collect()}
    return {k: (g.get(k), w[k]) for k in w if g.get(k) != w[k]}


@pytest.mark.parametrize("direction", ["asc", "desc"])
def test_bucketed_row_number_matches_window(messy, direction):
    key = F.col("v") if direction == "asc" else F.desc("v")
    want = messy.select(
        "id",
        F.row_number().over(Window.orderBy(key, "id")).cast("long").alias("x"),
    )
    got = global_row_number(
        messy, [("v", direction), ("id", "asc")], method="bucketed", buckets=8
    ).select("id", F.col("rn").alias("x"))
    assert not _mismatches(got, want)


@pytest.mark.parametrize("k", [1, 3, 4, 10])
def test_bucketed_ntile_matches_window(messy, k):
    want = messy.select(
        "id",
        F.ntile(k).over(Window.orderBy("v", "id")).cast("long").alias("x"),
    )
    got = global_ntile(
        messy, k, [("v", "asc"), ("id", "asc")], method="bucketed", buckets=8
    ).select("id", F.col("tile").alias("x"))
    assert not _mismatches(got, want)


def test_bucketed_ntile_n_smaller_than_k(messy):
    # An ordered limit: `want` and `got` evaluate `small` separately, and
    # an unordered limit over 7 partitions may pick different rows each
    # time (it does at local[4]).
    small = messy.orderBy("id").limit(3)
    want = small.select(
        "id",
        F.ntile(10).over(Window.orderBy("v", "id")).cast("long").alias("x"),
    )
    got = global_ntile(
        small, 10, [("v", "asc"), ("id", "asc")], method="bucketed", buckets=8
    ).select("id", F.col("tile").alias("x"))
    assert not _mismatches(got, want)


def test_bucketed_constant_key_single_bucket(messy):
    one = messy.withColumn("v", F.lit(5))
    want = one.select(
        "id",
        F.row_number().over(Window.orderBy("v", "id")).cast("long").alias("x"),
    )
    got = global_row_number(
        one, [("v", "asc"), ("id", "asc")], method="bucketed", buckets=8
    ).select("id", F.col("rn").alias("x"))
    assert not _mismatches(got, want)


def test_bucketed_grouped_rank_and_total(messy):
    w = Window.partitionBy("grp").orderBy(F.desc("v"), "id")
    want = messy.select(
        "id",
        F.concat_ws(
            ":",
            F.row_number().over(w),
            F.count("*").over(Window.partitionBy("grp")),
        ).alias("x"),
    )
    ranked = global_row_number(
        messy,
        [("v", "desc"), ("id", "asc")],
        partition_by=["grp"],
        method="bucketed",
        buckets=8,
        total_name="n",
    )
    got = ranked.select("id", F.concat_ws(":", "rn", "n").alias("x"))
    assert not _mismatches(got, want)


def test_bucketed_grouped_rank_null_group_keys(messy):
    """Rows whose partition_by key is NULL must be ranked in their own
    null group, exactly as the window method does — the old equi-joins
    silently dropped them (ADVICE r7: a 4-row frame with a null group
    returned 2 rows)."""
    withnull = messy.withColumn(
        "grp", F.when(F.col("id") % 5 != 0, F.col("grp"))  # ~200 null rows
    )
    w = Window.partitionBy("grp").orderBy(F.desc("v"), "id")
    want = withnull.select(
        "id",
        F.concat_ws(
            ":",
            F.row_number().over(w),
            F.count("*").over(Window.partitionBy("grp")),
        ).alias("x"),
    )
    ranked = global_row_number(
        withnull,
        [("v", "desc"), ("id", "asc")],
        partition_by=["grp"],
        method="bucketed",
        buckets=8,
        total_name="n",
    )
    got = ranked.select("id", F.concat_ws(":", "rn", "n").alias("x"))
    # row-count parity first: the old bug DROPPED null-group rows
    assert got.count() == withnull.count()
    assert not _mismatches(got, want)


@pytest.mark.parametrize("direction", ["asc", "desc"])
def test_bucketed_nan_leading_key(messy, direction):
    """NaN leading keys sort LAST under asc and FIRST under desc
    (Spark orders NaN above every other double); the bucketed method
    must route them to the orientation-correct end bucket — negating a
    NaN (the desc orientation) leaves it NaN, which compares above
    every boundary and used to land in the wrong end (ADVICE r7)."""
    withnan = messy.withColumn(
        "v",
        F.when(F.col("id") % 7 == 0, F.lit(float("nan"))).otherwise(
            F.col("v").cast("double")
        ),
    )
    key = F.col("v") if direction == "asc" else F.desc("v")
    want = withnan.select(
        "id",
        F.row_number().over(Window.orderBy(key, "id")).cast("long").alias("x"),
    )
    got = global_row_number(
        withnan, [("v", direction), ("id", "asc")], method="bucketed", buckets=8
    ).select("id", F.col("rn").alias("x"))
    assert not _mismatches(got, want)


def test_grouped_boundary_budget_guard(messy):
    """A high-cardinality partition_by must refuse, loudly, instead of
    collecting an unbounded boundary table to the driver."""
    wide = messy.withColumn("grp", F.col("id"))  # 997 groups
    with pytest.raises(RuntimeError, match="boundary budget"):
        global_row_number(
            wide,
            [("v", "asc"), ("id", "asc")],
            partition_by=["grp"],
            method="bucketed",
            buckets=64,
        ).count()


def test_bucketed_plan_partitions_the_row_window(messy):
    """The row-carrying window in the bucketed plan partitions on the
    bucket column — i.e. the scale path really removes the
    single-partition global window rather than hiding one."""
    plan = global_row_number(
        messy, [("v", "asc"), ("id", "asc")], method="bucketed", buckets=8
    )._jdf.queryExecution().executedPlan().toString()
    assert "__rnk_bucket" in plan


# ---------------------------------------------------------------------------
# The four whitelisted entries, scale path vs their certification oracle
# ---------------------------------------------------------------------------

_SCALE_ENTRIES = [
    "x111_rfm_segmentation",
    "x118_exact_median",
    "x188_embedding_audit",
    "x193_vocab_growth",
]


@pytest.mark.parametrize("name", _SCALE_ENTRIES)
@pytest.mark.parametrize("sf_dir", SFS)
def test_scale_path_matches_certification_oracle(spark, name, sf_dir):
    entry = REGISTRY[name]
    con = duckdb_connection(sf_dir)
    df = entry.spark(spark, sf_dir, rank_method="bucketed")
    problems = compare(
        df, con, entry.oracle, name, strict_row_order=True
    )
    assert not problems, problems
