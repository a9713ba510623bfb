"""Prepared catalog plans: ``REGISTRY[name].spark`` builds an entry's
DataFrame once per session and dataset state, and every call hands out
a new Dataset over the stored plan.

The subject is ``registry.q``'s wrapper and the ``table=None`` key of
``sources.tables.memo``: the session object plus the fingerprint of
every warehouse table under ``sf_dir``; and the execution profile the
wrapper picks from those tables' size (the caller's small sibling up
to ``registry.SMALL_INPUT_BYTES``, else the caller's own session). An
entry whose DataFrame reads a checkpoint is never stored. The data is
a private copy of the sf0.01 fixture, so the same-path rewrite in one
test reaches no other module.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pytest
from conftest import SF_SMOKE, py4j_calls
from pyspark.sql import SparkSession
from pyspark.sql.classic.dataframe import DataFrame

from ravelytics_spark.plans import extensions, registry
from ravelytics_spark.plans.queries import REGISTRY

_SRC = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")
# TPC-H q3 reads customer, orders and lineitem; its result moves with
# the orders rows.
_NAME = "tpch_q3_shipping_priority"
_TZ = "spark.sql.session.timeZone"
_NANOS = "spark.sql.legacy.parquet.nanosAsLong"


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
    other.conf.set(_TZ, "America/New_York")
    with py4j_calls() as calls:
        out = fn(other, sf_copy)
    assert calls[0] > 12, "a call on another session must build afresh"
    # the fixture data is small: other's small sibling
    assert out.sparkSession is not first.sparkSession
    assert out.sparkSession._small_sibling_of is other
    assert out.sparkSession.conf.get(_TZ) == "America/New_York"
    assert sorted(out.collect()) == sorted(first.collect())


def test_small_input_runs_in_the_small_profile(spark, sf_copy):
    caller = spark.newSession()
    caller.conf.set(_TZ, "America/New_York")
    caller.conf.set(_NANOS, "true")
    session = REGISTRY[_NAME].spark(caller, sf_copy).sparkSession
    assert session is not caller
    assert session.conf.get("spark.sql.adaptive.enabled") == "false"
    assert session.conf.get("spark.sql.shuffle.partitions") == "1"
    assert session.conf.get(_TZ) == "America/New_York"
    assert session.conf.get(_NANOS) == "true"
    assert caller.conf.get("spark.sql.adaptive.enabled") == "true"


def test_tables_over_small_input_bytes_run_in_the_caller(spark, sf_copy, monkeypatch):
    monkeypatch.setattr(registry, "SMALL_INPUT_BYTES", 64 * 1024)
    caller = spark.newSession()
    out = REGISTRY[_NAME].spark(caller, sf_copy)
    assert out.sparkSession is caller
    assert caller.conf.get("spark.sql.adaptive.enabled") == "true"
    assert sorted(out.collect()) == sorted(REGISTRY[_NAME].spark(spark, sf_copy).collect())


def test_a_caller_setting_change_rebuilds_in_a_fresh_sibling(spark, sf_copy):
    fn = REGISTRY[_NAME].spark
    caller = spark.newSession()
    before = fn(caller, sf_copy).sparkSession
    caller.conf.set(_TZ, "Asia/Tokyo")
    with py4j_calls() as calls:
        after = fn(caller, sf_copy).sparkSession
    assert calls[0] > 12, "a changed caller setting must rebuild"
    assert after is not before and after is not caller
    assert after.conf.get(_TZ) == "Asia/Tokyo"
    assert before.conf.get(_TZ) != "Asia/Tokyo"


def test_a_nested_entry_call_stays_in_the_sibling(spark, monkeypatch):
    # x179 reads x107 through REGISTRY inside its own build; x107 cuts
    # its lineage with a localCheckpoint, whose session shows where the
    # nested build ran
    made, checkpointed = [], []

    def clone(sc, jsession):
        made.append(SparkSession(sc, jsession))
        return made[-1]

    checkpoint = DataFrame.localCheckpoint

    def recording(self, *args, **kwargs):
        checkpointed.append(self.sparkSession)
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(registry, "SparkSession", clone)
    monkeypatch.setattr(DataFrame, "localCheckpoint", recording)
    caller = spark.newSession()
    out = REGISTRY["x179_neardup_threshold_curve"].spark(caller, SF_SMOKE)
    assert len(made) == 1, "the nested call cloned a sibling of the sibling"
    assert out.sparkSession is made[0]
    assert checkpointed and all(s is made[0] for s in checkpointed), (
        "x107 was built outside the sibling during x179's build"
    )
    inner = REGISTRY["x107_embed_neardup_portable"].spark(caller, SF_SMOKE)
    assert inner.sparkSession is made[0]


def test_an_entry_that_checkpoints_builds_on_every_call(spark, monkeypatch):
    # x227 cuts its fingerprint frame with an eager localCheckpoint: a
    # stored build would hand every later call the rows the first call
    # materialized.
    made = []
    checkpoint = DataFrame.localCheckpoint

    def recording(self, *args, **kwargs):
        made.append(checkpoint(self, *args, **kwargs))
        return made[-1]

    monkeypatch.setattr(DataFrame, "localCheckpoint", recording)
    fn = REGISTRY["x227_winnow_capped"].spark
    first = fn(spark, SF_SMOKE).collect()
    second = fn(spark, SF_SMOKE).collect()
    assert len(made) == 2, "the second call read the first call's checkpoint"
    assert second == first


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
