"""Grouped feature normalization z-score semantics; artist-record
normalization edge cases."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ravelytics_spark.operators.feature_norm import normalize_by_group


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (1, "a", [1.0, 10.0]),
        (2, "a", [3.0, 10.0]),  # dim 1 has zero variance in group a
        (3, "b", [0.0, 0.0]),
        (4, "b", [2.0, 4.0]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "label", "embedding"])


def test_native_zscore_semantics(vecs):
    got = {
        r.vec_id: list(r.z_embedding)
        for r in normalize_by_group(vecs, "embedding", "label", round_moments=None).collect()
    }
    # group a dim0: mean 2, std 1 → z = ±1; dim1 zero variance → 0
    assert got[1] == [-1.0, 0.0]
    assert got[2] == [1.0, 0.0]
    # group b dim0: mean 1, std 1 → ±1; dim1: mean 2, std 2 → ±1
    assert got[3] == [-1.0, -1.0]
    assert got[4] == [1.0, 1.0]


def test_normalize_artist_records(spark):
    from ravelytics_spark.plans.tracks_pipeline import normalize_artist_records

    raw = spark.createDataFrame(
        [
            Row(id="a1", name="  Boris  ", genres=["Techno"], popularity=55,
                followers=Row(total=1000)),
            Row(id="a2", name=None, genres=None, popularity=None,
                followers=Row(total=None)),
            Row(id=None, name="Ghost", genres=[], popularity=1,
                followers=Row(total=5)),  # dropped: no id
        ]
    )
    got = normalize_artist_records(raw, ingest_ts=F.lit("2025-07-30").cast("timestamp"))
    rows = {r.artist_id: r for r in got.collect()}
    assert set(rows) == {"a1", "a2"}
    assert rows["a1"].artist_name == "Boris"  # stripped (ref :104)
    assert rows["a2"].artist_name == "" and rows["a2"].genres == []
    assert rows["a2"].popularity == 0 and rows["a2"].followers_total == 0
