"""Prepared catalog plans: ``REGISTRY[name].spark`` builds an entry's
DataFrame once per session and dataset state, and every call hands out
a new Dataset over the stored plan.

The subject is ``registry.q``'s wrapper and the ``table=None`` key of
``sources.tables.memo``: the session object plus the fingerprint of
every warehouse table under ``sf_dir``. The data is a private copy of
the sf0.01 fixture, so the same-path rewrite in one test reaches no
other module.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pytest
from conftest import SF_SMOKE, py4j_calls

from ravelytics_spark.plans import extensions
from ravelytics_spark.plans.queries import REGISTRY

_SRC = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")
# TPC-H q3 reads customer, orders and lineitem; its result moves with
# the orders rows.
_NAME = "tpch_q3_shipping_priority"


@pytest.fixture
def sf_copy(tmp_path):
    d = str(tmp_path / "sf")
    os.makedirs(d)
    for fn in os.listdir(_SRC):
        shutil.copyfile(os.path.join(_SRC, fn), os.path.join(d, fn))
    return d


def test_repeat_call_reuses_the_plan_as_a_new_dataset(spark, sf_copy):
    fn = REGISTRY[_NAME].spark
    first = fn(spark, sf_copy)
    sc = spark.sparkContext
    group = f"prepared-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "prepared plan hit")
    try:
        with py4j_calls() as calls:
            second = fn(spark, sf_copy)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert calls[0] <= 12, f"a prepared hit made {calls[0]} py4j calls"
    # a Dataset handed out twice would share one QueryExecution
    assert not second._jdf.equals(first._jdf)
    assert sorted(second.collect()) == sorted(first.collect())


def test_same_path_rewrite_rebuilds(spark, sf_copy):
    fn = REGISTRY[_NAME].spark
    before = fn(spark, sf_copy).collect()
    path = os.path.join(sf_copy, "orders.parquet")
    staged = os.path.join(sf_copy, "_orders_half")
    spark.read.parquet(path).filter("o_orderkey % 2 = 0").write.parquet(staged)
    spark.read.parquet(staged).write.mode("overwrite").parquet(path)
    shutil.rmtree(staged)

    after = sorted(fn(spark, sf_copy).collect())
    assert after == sorted(fn.__wrapped__(spark, sf_copy).collect())
    assert after != sorted(before)


def test_other_session_misses(spark, sf_copy):
    fn = REGISTRY[_NAME].spark
    first = fn(spark, sf_copy)
    other = spark.newSession()
    with py4j_calls() as calls:
        out = fn(other, sf_copy)
    assert calls[0] > 12, "a call on another session must build afresh"
    assert out.sparkSession is other
    assert sorted(out.collect()) == sorted(first.collect())


def test_entry_arguments_select_their_own_plan(spark, sf_copy):
    fn = REGISTRY["x111_rfm_segmentation"].spark
    window = sorted(fn(spark, sf_copy).collect())
    with py4j_calls() as calls:
        bucketed = fn(spark, sf_copy, rank_method="bucketed")
    assert calls[0] > 12, "rank_method='bucketed' was served the window plan"
    assert sorted(bucketed.collect()) == window


def test_registered_wrapper_keeps_the_plan_function_identity():
    q = REGISTRY[_NAME]
    assert q.spark.__module__ == "ravelytics_spark.plans.extensions"
    assert q.spark.__wrapped__ is extensions.tpch_q3_shipping_priority
    assert q.spark.__name__ == _NAME
