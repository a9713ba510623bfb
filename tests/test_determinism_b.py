"""Determinism sweep (odd half): every oracle-backed catalog query must
produce IDENTICAL results under different parallelism (shuffle
partitions / repartitioning change float accumulation order, collect
order, row order — anything unstable shows up as a self-mismatch long
before it shows up as an oracle mismatch). It also ties the two
execution profiles together: a fresh full-profile build at 3 shuffle
partitions must equal the prepared ``REGISTRY`` call, which at test
data runs in the small-input profile at one partition.

The sweep is stride-split across two modules (test_determinism.py holds the other
half) so scripts/run_suite.py can run the halves on different workers
— as ONE module it was the suite's makespan floor (~12 min)."""

from __future__ import annotations

import pytest
from conftest import tier

from ravelytics_spark.plans.queries import REGISTRY
from ravelytics_spark.testing import _normalize

_ALL = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)
# Fast tier: deterministic quarter (RAVELYTICS_FULL=1 restores all).
_NAMES = tier(_ALL[1::2], salt="determinism")


@pytest.mark.parametrize("name", _NAMES)
def test_query_stable_across_parallelism(spark, sf_dir, name):
    # a: a fresh build (__wrapped__) in the caller's session at 3
    # partitions, so its eager checkpoints and collected values run
    # there too; b: the prepared call, which at test data runs in the
    # small-input profile (AQE off, one shuffle partition)
    found = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        a = _normalize(REGISTRY[name].spark.__wrapped__(spark, sf_dir).toPandas())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", found)
    b = _normalize(REGISTRY[name].spark(spark, sf_dir).toPandas())
    assert a[0] == b[0], f"{name}: columns differ across parallelism"
    assert a[1] == b[1], f"{name}: values differ across parallelism"
