"""Oracle-comparison and property tests for the catalog entries in
plans/round32_staged.py (x326-x340): DuckDB compare
at two SFs with strict row order, plus the semantics an oracle twin
cannot express."""

from __future__ import annotations

import math

import pytest
from conftest import entries_of

from ravelytics_spark.plans.round32_staged import (
    _BH_CRIT,
    _GAPS_S,
    _PG_PERIODS,
    _PG_TRIG,
    _TTLS_H,
)
from ravelytics_spark.testing import compare, duckdb_connection

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
ENTRIES = entries_of("round32_staged")


@pytest.mark.parametrize("name", sorted(ENTRIES))
@pytest.mark.parametrize("sf_dir", SFS)
def test_round32_staged_matches_oracle(spark, name, sf_dir):
    entry = ENTRIES[name]
    assert entry.oracle is not None, "round-32 batch is fully oracle-backed"
    con = duckdb_connection(sf_dir)
    problems = compare(
        entry.spark(spark, sf_dir),
        con,
        entry.oracle,
        name,
        strict_row_order=True,
    )
    assert not problems, problems


def test_round11_window_arithmetic():
    """The 14 round-31 and 15 round-32 entries plus the 21 harness
    entries fill the driver's 50-entry certification window exactly."""
    from ravelytics_spark.plans.queries import REGISTRY

    S31 = entries_of("round31_staged")
    harness = [n for n, q in REGISTRY.items() if q.oracle is None]
    assert len(S31) + len(ENTRIES) + len(harness) == 50


# ---------------------------------------------------------------------------
# Semantic properties the oracle twin cannot express
# ---------------------------------------------------------------------------


def test_state_projection_monotone_in_ttl(spark):
    """A longer TTL can only keep MORE keys live: peak and average
    state are monotone non-decreasing in TTL, and the peak never
    exceeds the total distinct-user count."""
    rows = {
        r.ttl_hours: r
        for r in ENTRIES["x326_state_ttl_projection"].spark(spark, SFS[1]).collect()
    }
    assert sorted(rows) == sorted(_TTLS_H)
    from ravelytics_spark.sources.tables import load_table

    n_users = (
        load_table(spark, SFS[1], "events").select("user_id").distinct().count()
    )
    for a, b in zip(sorted(_TTLS_H), sorted(_TTLS_H)[1:]):
        assert rows[b].peak_keys >= rows[a].peak_keys
        assert rows[b].avg_keys_milli >= rows[a].avg_keys_milli
    for r in rows.values():
        assert 0 < r.peak_keys <= n_users
        assert r.avg_keys_milli <= r.peak_keys * 1000


def test_gap_sensitivity_monotone(spark):
    """A larger gap limit merges sessions: session count is monotone
    non-increasing, in-session dwell monotone non-decreasing, and the
    30-min point agrees with x6's sessionizer."""
    rows = {
        r.gap_limit_s: r
        for r in ENTRIES["x327_gap_sensitivity"].spark(spark, SFS[1]).collect()
    }
    assert sorted(rows) == sorted(_GAPS_S)
    for a, b in zip(sorted(_GAPS_S), sorted(_GAPS_S)[1:]):
        assert rows[b].n_sessions <= rows[a].n_sessions
        assert rows[b].in_session_seconds >= rows[a].in_session_seconds
    from ravelytics_spark.plans.queries import REGISTRY

    x6 = (
        REGISTRY["x6_sessionize"]
        .spark(spark, SFS[1])
        .groupBy("user_id")
        .agg({"session_id": "max"})
        .agg({"max(session_id)": "sum"})
        .collect()[0][0]
    )
    assert rows[1800].n_sessions == x6


def test_peak_concurrency_bounds(spark):
    """Top-5 is sorted; hourly concurrency can't exceed the distinct
    user count (a user holds one session at a time)."""
    rows = ENTRIES["x328_peak_concurrency"].spark(spark, SFS[1]).collect()
    assert 0 < len(rows) <= 5
    conc = [r.n_concurrent for r in rows]
    assert conc == sorted(conc, reverse=True)
    from ravelytics_spark.sources.tables import load_table

    n_users = (
        load_table(spark, SFS[1], "events").select("user_id").distinct().count()
    )
    assert conc[0] <= n_users


def test_microbatch_quantiles_ordered(spark):
    row = ENTRIES["x329_microbatch_profile"].spark(spark, SFS[1]).collect()[0]
    assert 1 <= row.p50_batch <= row.p90_batch <= row.p99_batch <= row.max_batch
    assert row.mean_batch_milli >= 1000  # every active minute has >= 1 event


def test_neyman_allocations_sum_close_and_track_variance(spark):
    """Floor-divided allocations sum to <= 10000 with < 5-seat loss;
    the stratum with the largest N_h*S_h weight gets the largest
    Neyman allocation."""
    rows = ENTRIES["x330_neyman_allocation"].spark(spark, SFS[1]).collect()
    assert len(rows) == 5
    tot_n = sum(r.neyman_n for r in rows)
    tot_p = sum(r.proportional_n for r in rows)
    assert 10000 - 5 <= tot_n <= 10000
    assert 10000 - 5 <= tot_p <= 10000
    big = max(rows, key=lambda r: r.n_pop * r.sd_milli)
    assert big.neyman_n == max(r.neyman_n for r in rows)


def test_bh_thresholds_monotone_and_rejections_contiguous(spark):
    """The literal BH critical values decrease with rank (step-up
    shape), and rejections are exactly ranks 1..k_max."""
    assert _BH_CRIT == sorted(_BH_CRIT, reverse=True)
    assert _BH_CRIT[-1] == int(
        math.floor(1e6 * 1.9599639845400545)
    )  # i = m: plain alpha = .05 two-sided
    rows = ENTRIES["x331_bh_fdr"].spark(spark, SFS[1]).collect()
    flags = [r.rejected for r in sorted(rows, key=lambda r: r.bh_rank)]
    assert all(f in (0, 1) for f in flags)
    # contiguous prefix: never a rejection after an acceptance
    assert all(
        not (a == 0 and b == 1) for a, b in zip(flags, flags[1:])
    ), flags


def test_haar_shares_sum_to_ppm(spark):
    rows = ENTRIES["x333_haar_energy"].spark(spark, SFS[1]).collect()
    assert [r.lvl for r in rows] == [1, 2, 3, 4]
    assert [r.scale_days for r in rows] == [2, 4, 8, 16]
    # halving pair counts
    for a, b in zip(rows, rows[1:]):
        assert b.n_pairs <= a.n_pairs // 2 + 1
    assert 1_000_000 - 4 <= sum(r.share_ppm for r in rows) <= 1_000_000


def test_periodogram_trig_tables_are_exact_literals():
    """The literal trig tables cover every residue of every candidate
    period and match math.cos/sin centi-floors exactly."""
    by_p: dict = {}
    for p, k, c, s in _PG_TRIG:
        by_p.setdefault(p, set()).add(k)
        assert c == int(math.floor(100.0 * math.cos(2.0 * math.pi * k / p)))
        assert s == int(math.floor(100.0 * math.sin(2.0 * math.pi * k / p)))
        assert -100 <= c <= 100 and -100 <= s <= 100
    assert {p: len(ks) for p, ks in by_p.items()} == {
        p: p for p in _PG_PERIODS
    }


def test_periodogram_shares_and_ranks(spark):
    rows = ENTRIES["x334_periodogram_peak"].spark(spark, SFS[1]).collect()
    assert sorted(r.period_days for r in rows) == sorted(_PG_PERIODS)
    assert sorted(r.power_rank for r in rows) == [1, 2, 3, 4]
    top = min(rows, key=lambda r: r.power_rank)
    assert top.power_centi2 == max(r.power_centi2 for r in rows)
    assert 1_000_000 - 4 <= sum(r.share_ppm for r in rows) <= 1_000_000


def test_backlog_conservation(spark):
    """Sum over months of the open-order count equals the sum over
    orders of the number of months each spans (mass conservation of
    the explode), and every month's open value is positive."""
    from pyspark.sql import functions as F

    from ravelytics_spark.sources.tables import load_table

    rows = ENTRIES["x335_open_order_backlog"].spark(spark, SFS[1]).collect()
    assert rows
    assert all(r.n_open > 0 and r.open_value_cents > 0 for r in rows)
    o = load_table(spark, SFS[1], "orders")
    li = load_table(spark, SFS[1], "lineitem")
    spans = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.expr(
            "CAST(year(max(l_shipdate)) * 12 + month(max(l_shipdate)) - 1"
            " AS BIGINT)").alias("mc"))
        .select(
            F.greatest(
                F.expr(
                    "mc - CAST(year(o_orderdate) * 12 + month(o_orderdate)"
                    " - 1 AS BIGINT)"
                ),
                F.lit(0),
            ).alias("span")
        )
        .agg(F.sum("span"))
        .collect()[0][0]
    )
    assert sum(r.n_open for r in rows) == spans


def test_permutation_p_value_valid(spark):
    row = ENTRIES["x336_permutation_test"].spark(spark, SFS[1]).collect()[0]
    assert row.n_replicates == 64
    assert 1 <= row.n_as_extreme <= 65
    # p in [1/65, 1]; the observed split is itself null, so p should
    # not be degenerate-small
    assert 15_384 <= row.p_value_ppm <= 1_000_000


def test_wilson_interval_contains_share(spark):
    rows = ENTRIES["x337_wilson_intervals"].spark(spark, SFS[1]).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r.wilson_lo_ppm <= r.share_ppm <= r.wilson_hi_ppm <= 1_000_000
        assert r.wilson_hi_ppm - r.wilson_lo_ppm > 0


def test_embedding_energy_is_a_spectrum(spark):
    rows = ENTRIES["x332_embedding_energy"].spark(spark, SFS[1]).collect()
    assert len(rows) == 64
    ranks = [r.energy_rank for r in rows]
    assert ranks == list(range(1, 65))
    vars_ = [r.var_nano for r in rows]
    assert vars_ == sorted(vars_, reverse=True)
    cums = [r.cum_energy_ppm for r in rows]
    assert cums == sorted(cums)
    assert 1_000_000 - 1 <= cums[-1] <= 1_000_000


def test_dim_redundancy_pairs_and_bounds(spark):
    rows = ENTRIES["x339_dim_redundancy"].spark(spark, SFS[1]).collect()
    assert len(rows) == 28  # C(8, 2)
    seen = set()
    for r in rows:
        assert r.dim_a < r.dim_b
        assert (r.dim_a, r.dim_b) not in seen
        seen.add((r.dim_a, r.dim_b))
        assert -1001 <= r.corr_milli <= 1000  # floor can touch -1001
    mags = [abs(r.corr_milli) for r in rows]
    assert mags == sorted(mags, reverse=True)


def test_calibration_slope_near_null(spark):
    """Price does not predict urgency in the synthetic data — the
    negative control: |slope| small and base rate strictly inside
    (0, 1)."""
    row = ENTRIES["x340_calibration_slope"].spark(spark, SFS[1]).collect()[0]
    assert 0 < row.base_rate_ppm < 1_000_000
    assert 0 < row.mean_score_ppm < 1_000_000
    assert abs(row.slope_milli) < 500  # |slope| < 0.5 on null data


def test_unicode_class_shares_sum_to_ppm(spark):
    rows = ENTRIES["x338_unicode_class_profile"].spark(spark, SFS[1]).collect()
    assert rows
    for r in rows:
        total = (
            r.letters_ppm + r.digits_ppm + r.spaces_ppm + r.punct_ppm
            + r.other_ppm
        )
        assert 1_000_000 - 5 <= total <= 1_000_000
        assert r.letters_ppm > r.digits_ppm  # prose corpus sanity


@pytest.fixture(scope="module")
def empty_sf(spark, tmp_path_factory):
    """A dataset directory with every table present but EMPTY — the
    degenerate input that exposed the x245 fallback asymmetry (ADVICE
    r9): an ungrouped SQL aggregate returns one NULL-ish row where a
    filter(lit(False)) Spark side returns zero."""
    import pyarrow.parquet as _pq

    d = str(tmp_path_factory.mktemp("empty_sf"))
    from ravelytics_spark.sources.tables import TABLE_NAMES

    for name in TABLE_NAMES:
        t = _pq.read_table(f"{SFS[0]}/{name}.parquet")
        _pq.write_table(t.slice(0, 0), f"{d}/{name}.parquet")
    return d


@pytest.mark.parametrize("name", sorted(ENTRIES))
def test_round32_empty_tables_match_oracle(spark, name, empty_sf):
    """Every round-32 entry agrees with its oracle on fully EMPTY
    tables — row count, schema and values — so no fallback/ungrouped-
    aggregate shape asymmetry is latent in the batch."""
    entry = ENTRIES[name]
    con = duckdb_connection(empty_sf)
    problems = compare(
        entry.spark(spark, empty_sf),
        con,
        entry.oracle,
        name,
        strict_row_order=True,
    )
    assert not problems, problems
