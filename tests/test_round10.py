"""Behavioral tests for the round-10 operators: FastSS fuzzy join
recall/precision, batched-ANN layout independence, schedule cadence
semantics (due/catchup/ledger).

(Cross-engine value parity for the four catalog entries is covered by
the oracle catalog sweep in test_oracle_catalog.py / scripts/gate.py.)
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from ravelytics_spark.operators.fuzzy import (
    deletion_variants,
    fuzzy_join,
    fuzzy_self_pairs,
)
from ravelytics_spark.plans.queries import REGISTRY
from ravelytics_spark.schedule import (
    RunLedger,
    due_runs,
    interval_bounds,
    runs_to_do,
)

SF = "/root/testdata/sf0.01"


# ---------------------------------------------------------------------------
# fuzzy join (FastSS)
# ---------------------------------------------------------------------------


def _names_df(spark, rows):
    return spark.createDataFrame(rows, ["id", "s"])


def test_fuzzy_finds_every_distance_one_edit_kind(spark):
    """One pair per edit kind: equal, substitution, deletion,
    insertion — all must surface with the right distance."""
    df = _names_df(
        spark,
        [
            (1, "kraftwerk"),
            (2, "kraftwerk"),   # equal → dist 0
            (3, "craftwerk"),   # substitution vs 1
            (4, "kraftwer"),    # deletion vs 1
            (5, "kraftwerke"),  # insertion vs 1
            (6, "boards of canada"),  # unrelated
        ],
    )
    got = {
        (r.id_a, r.id_b): r.dist
        for r in fuzzy_self_pairs(df, "id", "s").collect()
    }
    assert got[(1, 2)] == 0
    assert got[(1, 3)] == 1
    assert got[(1, 4)] == 1
    assert got[(1, 5)] == 1
    assert all(6 not in pair for pair in got)


def test_fuzzy_rejects_distance_two(spark):
    """Strings two edits apart can still share a deletion variant
    (delete different positions) — the exact-verify step must drop
    them."""
    df = _names_df(spark, [(1, "ab"), (2, "ba")])  # lev = 2, share variants 'a','b'
    assert fuzzy_self_pairs(df, "id", "s").count() == 0


def test_fuzzy_handles_empty_and_single_char(spark):
    df = _names_df(spark, [(1, ""), (2, "x"), (3, "y"), (4, "xy")])
    got = {(r.id_a, r.id_b): r.dist for r in fuzzy_self_pairs(df, "id", "s").collect()}
    # "" ↔ single char: one insertion; "x" ↔ "y": substitution;
    # "x"/"y" ↔ "xy": one insertion
    assert got[(1, 2)] == 1 and got[(1, 3)] == 1
    assert got[(2, 3)] == 1
    assert got[(2, 4)] == 1 and got[(3, 4)] == 1


def test_fuzzy_bucket_cap_drops_mega_cluster_keeps_normal_pairs(spark):
    """A hot variant bucket (many strings sharing a stem) can be capped
    for pair mining; pairs outside the capped bucket must survive."""
    mega = [(i, "aaaa") for i in range(100)]  # a 100-way identical cluster
    normal = [(1000, "zebra"), (1001, "zebrb")]
    df = _names_df(spark, mega + normal)
    capped = fuzzy_self_pairs(df, "id", "s", max_bucket_size=10)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (1000, 1001) in got
    assert not any(a < 100 and b < 100 for a, b in got)  # mega-bucket skipped
    # and WITHOUT the cap the mega-cluster's pairs are all there
    full = fuzzy_self_pairs(df, "id", "s").count()
    assert full == (100 * 99) // 2 + 1


def test_fuzzy_two_sided_join(spark):
    left = _names_df(spark, [(1, "aphex twin"), (2, "autechre")])
    right = _names_df(spark, [(10, "aphex twim"), (11, "orbital")])
    got = [
        (r.left_id, r.right_id, r.dist)
        for r in fuzzy_join(left, right, "id", "s", "id", "s").collect()
    ]
    assert got == [(1, 10, 1)]


def test_deletion_variants_shape(spark):
    df = spark.range(1).select(F.lit("abc").alias("s"))
    (vs,) = df.select(deletion_variants("s").alias("v")).collect()
    assert vs.v == ["abc", "bc", "ac", "ab"]
    df0 = spark.range(1).select(F.lit("").alias("s"))
    (vs0,) = df0.select(deletion_variants("s").alias("v")).collect()
    assert vs0.v == [""]


def test_fuzzy_catalog_entry_no_cartesian(spark):
    """The catalog entry must not fall back to a cross join — the whole
    point is avoiding N²."""
    plan = (
        REGISTRY["x47_fuzzy_pairs"]
        .spark.__wrapped__(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# batched ANN
# ---------------------------------------------------------------------------


def test_ann_batch_layout_independent(spark):
    """The per-partition pre-prune must not change the result: compare
    against the same query run at parallelism 1 (single partition =
    no pruning effect)."""
    df = REGISTRY["x48_ann_batch"].spark(spark, SF)
    base = [tuple(r) for r in df.collect()]
    # force a different input layout through the same plan
    from ravelytics_spark.sources.tables import load_table

    e = load_table(spark, SF, "embeddings").repartition(1)
    e.createOrReplaceTempView("_ann_one_part")
    # simplest layout check: rerun the whole entry (fresh scan) and
    # compare — scan split planning differs run to run only via config,
    # so also assert the rank column is dense 1..k per query
    again = [tuple(r) for r in REGISTRY["x48_ann_batch"].spark(spark, SF).collect()]
    assert base == again
    by_q = {}
    for qid, _vid, _cos, rnk in base:
        by_q.setdefault(qid, []).append(rnk)
    for qid, ranks in by_q.items():
        assert ranks == list(range(1, 11)), qid
    # every query's own vector must be its rank-1 hit (cos = 1.0)
    top = {qid: (vid, cos) for qid, vid, cos, rnk in base if rnk == 1}
    for qid, (vid, cos) in top.items():
        assert vid == qid and abs(cos - 1.0) < 1e-9


def test_ann_batch_single_shuffle(spark):
    """The local prune must be a map operator: exactly one
    hashpartitioning exchange (the final per-query rank) in the whole
    plan — a shuffle-based pre-prune would show a second one."""
    plan = (
        REGISTRY["x48_ann_batch"]
        .spark.__wrapped__(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("hashpartitioning") == 1, plan


# ---------------------------------------------------------------------------
# schedule cadence
# ---------------------------------------------------------------------------


def _d(s: str) -> datetime:
    return datetime.fromisoformat(s)


def test_due_runs_catchup_true_backfills_all_closed_intervals():
    runs = due_runs("@daily", _d("2025-07-01"), _d("2025-07-04T12:00"), catchup=True)
    assert runs == [_d("2025-07-01"), _d("2025-07-02"), _d("2025-07-03")]


def test_due_runs_catchup_false_latest_only():
    runs = due_runs("@daily", _d("2025-07-01"), _d("2025-07-04T12:00"), catchup=False)
    assert runs == [_d("2025-07-03")]


def test_due_runs_open_interval_not_due():
    # now is exactly interval start: the 07-03 interval just opened,
    # so the newest CLOSED interval is 07-02
    runs = due_runs("@daily", _d("2025-07-01"), _d("2025-07-03"), catchup=False)
    assert runs == [_d("2025-07-02")]
    # nothing closed yet → no runs
    assert due_runs("@daily", _d("2025-07-01"), _d("2025-07-01T23:00")) == []


def test_due_runs_mid_interval_start_aligns_forward():
    # start mid-day → first interval starts the NEXT midnight
    runs = due_runs("@daily", _d("2025-07-01T09:30"), _d("2025-07-03T01:00"))
    assert runs == [_d("2025-07-02")]


def test_interval_bounds_half_open():
    b = interval_bounds("@daily", _d("2025-07-02"))
    assert b.start == _d("2025-07-02") and b.end == _d("2025-07-03")


def test_ledger_makes_runs_idempotent(tmp_path):
    ledger = RunLedger(str(tmp_path / "runs.jsonl"))
    job, start, now = "ingest", _d("2025-07-01"), _d("2025-07-05")
    todo = runs_to_do(ledger, job, "@daily", start, now, catchup=True)
    assert len(todo) == 4
    for d in todo[:2]:
        ledger.record(job, d)
    rest = runs_to_do(ledger, job, "@daily", start, now, catchup=True)
    assert rest == todo[2:]
    # other jobs unaffected
    assert len(runs_to_do(ledger, "other", "@daily", start, now)) == 4
    # recovery after outage with catchup=False: only the latest, and
    # once recorded nothing is due
    latest = runs_to_do(ledger, job, "@daily", start, now, catchup=False)
    assert latest == [_d("2025-07-04")]
    ledger.record(job, latest[0])
    assert runs_to_do(ledger, job, "@daily", start, now, catchup=False) == []


def test_hourly_and_weekly_intervals():
    hr = due_runs("@hourly", _d("2025-07-01"), _d("2025-07-01T03:30"))
    assert hr == [_d("2025-07-01T00:00"), _d("2025-07-01T01:00"), _d("2025-07-01T02:00")]
    wk = due_runs("@weekly", _d("2025-07-03"), _d("2025-07-20"))
    # weeks floor to Sunday midnight (anchor 1970-01-04), matching
    # Airflow's '@weekly' = '0 0 * * 0'
    assert wk and all(d.weekday() == 6 for d in wk)


def test_fuzzy_matches_brute_force_on_random_dictionaries(spark):
    """Seeded random dictionaries (small alphabet → dense collisions):
    the neighborhood join must produce EXACTLY the brute-force
    lev<=1 pair set — substitutions, indels, equal strings, empties."""
    import itertools
    import random

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rng = random.Random(42)
    for trial in range(3):
        words = [
            "".join(rng.choice("abc") for _ in range(rng.randint(0, 5)))
            for _ in range(40)
        ]
        df = spark.createDataFrame(list(enumerate(words)), ["id", "s"])
        got = {
            (r.id_a, r.id_b, r.dist)
            for r in fuzzy_self_pairs(df, "id", "s").collect()
        }
        want = {
            (i, j, lev(words[i], words[j]))
            for i, j in itertools.combinations(range(40), 2)
            if lev(words[i], words[j]) <= 1
        }
        assert got == want, f"trial {trial}"
