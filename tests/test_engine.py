"""Engine facade: warehouse attach + SQL, catalog dispatch, view
stack, and the scheduled-pipeline loop (run → record → idempotent,
failures retried next invocation)."""

from __future__ import annotations

from datetime import datetime

from ravelytics_spark.engine import Engine
from ravelytics_spark.pipeline import Pipeline, SkipStep, Status
from ravelytics_spark.schedule import RunLedger

SF = "/root/testdata/sf0.01"


def _engine(spark) -> Engine:
    return Engine(spark).attach_warehouse(SF)


def test_sql_over_attached_warehouse(spark):
    eng = _engine(spark)
    n = eng.sql("SELECT count(*) AS n FROM orders").collect()[0].n
    assert n == 15000
    assert eng.table("customer").count() == 1500


def test_catalog_dispatch_matches_direct_registry(spark):
    eng = _engine(spark)
    assert "g1_argmax_latest" in eng.catalog()
    got = eng.query("g1_argmax_latest").count()
    from ravelytics_spark.plans.queries import REGISTRY

    assert got == REGISTRY["g1_argmax_latest"].spark(spark, SF).count()


def test_run_scheduled_executes_due_intervals_and_records(spark, tmp_path):
    eng = Engine(spark)
    ledger = RunLedger(str(tmp_path / "runs.jsonl"))
    seen = []

    pipe = Pipeline()

    @pipe.step("extract")
    def extract(ctx):
        seen.append((ctx["interval_start"], ctx["interval_end"]))
        return "ok"

    start, now = datetime(2025, 7, 1), datetime(2025, 7, 4, 12)
    results = eng.run_scheduled("job", pipe, "@daily", start, ledger, now=now)
    assert len(results) == 3 and len(seen) == 3
    # half-open daily bounds ride in the context
    assert seen[0] == (datetime(2025, 7, 1), datetime(2025, 7, 2))
    # second invocation: nothing due
    assert eng.run_scheduled("job", pipe, "@daily", start, ledger, now=now) == {}


def test_run_scheduled_failed_interval_retries_next_time(spark, tmp_path):
    eng = Engine(spark)
    ledger = RunLedger(str(tmp_path / "runs.jsonl"))
    calls = {"n": 0}

    pipe = Pipeline()

    @pipe.step("flaky")
    def flaky(ctx):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient")
        return "ok"

    start, now = datetime(2025, 7, 1), datetime(2025, 7, 2, 6)
    r1 = eng.run_scheduled("job", pipe, "@daily", start, ledger, now=now)
    assert r1[datetime(2025, 7, 1)]["flaky"].status is Status.FAILED
    # unrecorded → due again, now succeeds and records
    r2 = eng.run_scheduled("job", pipe, "@daily", start, ledger, now=now)
    assert r2[datetime(2025, 7, 1)]["flaky"].status is Status.SUCCESS
    assert eng.run_scheduled("job", pipe, "@daily", start, ledger, now=now) == {}


def test_run_scheduled_skip_counts_as_done(spark, tmp_path):
    """SkipStep (the AirflowSkipException analog) must RECORD the run —
    a skipped interval is decided, not pending."""
    eng = Engine(spark)
    ledger = RunLedger(str(tmp_path / "runs.jsonl"))

    pipe = Pipeline()

    @pipe.step("maybe")
    def maybe(ctx):
        raise SkipStep("no new data in interval")

    start, now = datetime(2025, 7, 1), datetime(2025, 7, 2, 6)
    r1 = eng.run_scheduled("job", pipe, "@daily", start, ledger, now=now)
    assert r1[datetime(2025, 7, 1)]["maybe"].status is Status.SKIPPED
    assert eng.run_scheduled("job", pipe, "@daily", start, ledger, now=now) == {}
