"""Skew utilities match their unsalted equivalents."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ravelytics_spark.operators import skew


@pytest.fixture(scope="module")
def skewed(spark):
    # one hot key (90%) + long tail
    rows = [("hot", float(i % 7)) for i in range(900)] + [
        (f"k{i}", float(i)) for i in range(100)
    ]
    return spark.createDataFrame(rows, ["k", "v"])


def test_salted_agg_equals_plain_agg(spark, skewed):
    plain = {
        (r.k): (r.n, r.s, r.mx)
        for r in skewed.groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"), F.max("v").alias("mx"))
        .collect()
    }
    salted = {
        (r.k): (r.n, r.s, r.mx)
        for r in skew.salted_agg(
            skewed,
            ["k"],
            {
                "n": (F.count("*"), F.sum("n")),
                "s": (F.sum("v"), F.sum("s")),
                "mx": (F.max("v"), F.max("mx")),
            },
        ).collect()
    }
    assert salted == plain


def test_salted_join_equals_plain_join(spark, skewed):
    dim = spark.createDataFrame(
        [("hot", "HOT"), ("k1", "K1"), ("k2", "K2")], ["k", "label"]
    )
    plain = sorted(
        (r.k, r.v, r.label) for r in skewed.join(dim, "k", "left").collect()
    )
    salted = sorted(
        (r.k, r.v, r.label) for r in skew.salted_left_join(skewed, dim, "k").collect()
    )
    assert salted == plain


def test_top_keys_finds_hot_key(spark, skewed):
    hot = skew.top_keys(skewed, "k", min_fraction=0.5)
    rows = hot.collect()
    assert len(rows) == 1 and rows[0].k == "hot" and rows[0]["count"] == 900
