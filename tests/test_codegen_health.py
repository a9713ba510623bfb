"""Codegen-health guard (VERDICT r9 wrong #2 / next-round #3).

A query whose generated method blows janino's 64 KB limit silently
falls back to interpreted evaluation — results stay correct, so every
correctness check passes, but the hot path loses whole-stage codegen
(~10-30x slower at scale) and the ERROR stack trace pollutes the
driver's merged stdout+stderr tail. x102_srp_portable regressed
exactly this way through round 9 (the unrolled per-plane sign
expressions in round20.py); its array+HOF rewrite is pinned green
here.

The guard executes EVERY bench headline plan at sf0.001 under the
production session config (conftest's fixture is get_spark, i.e. the
same spark.sql.codegen.maxFields=256 the bench runs with — the
default 100-field cap would skip codegen on wide stages and mask the
failure) and fails on any compile-failure marker on the JVM's stderr.
capfd captures at the file-descriptor level, so log4j output from the
py4j-launched JVM is visible to the assertion.

A second guard pins the generated-code cache. The benchmark's twelve
interactive queries generate about 200 classes; with Spark's default
100-entry cache (spark.sql.codegen.cache.maxEntries) every pass evicts
them and Janino compiles them all again. get_spark sizes the cache to
1000, so a second pass over the same queries compiles nothing, counted
by the JVM's CodegenMetrics compilation histogram, both for fresh
builds and for the prepared ``REGISTRY`` calls the benchmark makes.
"""

from __future__ import annotations

import importlib.util
import os

from ravelytics_spark.plans.queries import REGISTRY

_SF = "/root/testdata/sf0.001"

# CodeGenerator logs "Error calculating stats of compiled class" /
# "Failed to compile ... processNext()" and janino raises
# InternalCompilerException when a generated method exceeds 64 KB.
_MARKERS = (
    "Failed to compile",
    "InternalCompilerException",
    "grows beyond 64 KB",
)


# perfbench/workloads.INTERACTIVE_QUERIES (tests do not import perfbench).
_INTERACTIVE = (
    "flagship_techno_stack",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "tpch_q10_returned_items",
    "tpch_q18_large_volume",
    "g1_argmax_latest",
    "t_window_daily",
    "x12_cube",
    "w2_rank",
    "a1_explode",
    "x111_rfm_segmentation",
)


def _headline() -> list[str]:
    path = os.path.join(os.path.dirname(__file__), "..", "bench.py")
    spec = importlib.util.spec_from_file_location("bench_for_codegen", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.HEADLINE


def test_headline_plans_compile_clean(spark, capfd):
    assert (
        spark.conf.get("spark.sql.codegen.maxFields") == "256"
    ), "guard needs the production codegen config (get_spark)"
    capfd.readouterr()  # drain anything earlier tests left on the fds
    failures: dict[str, list[str]] = {}
    for name in _headline():
        if name not in REGISTRY:
            continue  # staged entries pre-wired in HEADLINE
        df = REGISTRY[name].spark(spark, _SF)
        df.write.format("noop").mode("overwrite").save()
        err = capfd.readouterr().err
        hits = [
            line
            for line in err.splitlines()
            if any(m in line for m in _MARKERS)
        ]
        if hits:
            failures[name] = hits[:2]
    assert not failures, (
        "whole-stage codegen compile failures (silent interpreted "
        f"fallback): {failures}"
    )


def test_repeated_interactive_queries_compile_nothing(spark):
    assert (
        spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    ), "guard needs the production code cache size (get_spark)"
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    per_pass = {}
    # __wrapped__ builds afresh in the caller's session, as a new session
    # or dataset would; the prepared call is the path perfbench runs (at
    # test data, the small-input profile, whose plans differ)
    for fresh in (True, False):
        counts = []
        for _ in range(2):
            before = compiles.getCount()
            for name in _INTERACTIVE:
                fn = REGISTRY[name].spark
                build = fn.__wrapped__ if fresh else fn
                build(spark, _SF).write.format("noop").mode("overwrite").save()
            counts.append(compiles.getCount() - before)
        per_pass["__wrapped__" if fresh else "prepared"] = counts
    assert all(counts[1] == 0 for counts in per_pass.values()), (
        f"classes compiled per pass {per_pass}: the generated-code cache "
        "evicts the interactive working set"
    )
