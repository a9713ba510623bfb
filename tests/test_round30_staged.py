"""Oracle-comparison and property tests for the catalog entries in
plans/round30_staged.py (x275-x311): DuckDB compare
at two SFs with strict row order, plus the semantics an oracle twin
cannot express."""

from __future__ import annotations

from collections import defaultdict

import pytest
from conftest import entries_of

from ravelytics_spark.testing import compare, duckdb_connection

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
ENTRIES = entries_of("round30_staged")


@pytest.mark.parametrize("name", sorted(ENTRIES))
@pytest.mark.parametrize("sf_dir", SFS)
def test_round30_staged_matches_oracle(spark, name, sf_dir):
    entry = ENTRIES[name]
    assert entry.oracle is not None, "round-30 batch is fully oracle-backed"
    con = duckdb_connection(sf_dir)
    problems = compare(
        entry.spark(spark, sf_dir),
        con,
        entry.oracle,
        name,
        strict_row_order=True,
    )
    assert not problems, problems


# ---------------------------------------------------------------------------
# Semantic properties the oracle twin cannot express
# ---------------------------------------------------------------------------


def test_ljung_box_nonnegative_and_consistent(spark):
    for r in ENTRIES["x275_ljung_box"].spark(spark, SFS[1]).collect():
        assert r.sum_term_nano >= 0
        assert r.q_micro == r.n * (r.n + 2) * r.sum_term_nano // 1000
        assert r.n_lags <= 3


def test_pr_auc_bounded_by_prevalence_floor(spark):
    rows = ENTRIES["x277_pr_auc"].spark(spark, SFS[1]).collect()
    assert rows, "every segment has positives at sf0.01"
    for r in rows:
        assert 0 < r.ap_nano <= 1_000_000_000
        assert 0 < r.n_pos <= r.n_customers
        # AP of ANY ranker is >= prevalence * (first-step floor); a
        # spend ranker must beat half the random baseline comfortably
        prevalence_nano = r.n_pos * 1_000_000_000 // r.n_customers
        assert r.ap_nano >= prevalence_nano // 2, r


def test_abc_xyz_matrix_conserves_parts_and_revenue(spark):
    import duckdb

    rows = ENTRIES["x283_abc_xyz_matrix"].spark(spark, SFS[1]).collect()
    con = duckdb.connect()
    n_parts, cents = con.execute(
        "SELECT count(DISTINCT l_partkey),"
        " SUM(CAST(round(l_extendedprice * 100) AS BIGINT))"
        f" FROM read_parquet('{SFS[1]}/lineitem.parquet')"
    ).fetchone()
    assert sum(r.n_parts for r in rows) == n_parts
    assert sum(r.revenue_cents for r in rows) == cents
    assert {r.abc for r in rows} <= {"A", "B", "C"}


def test_kaplan_meier_curve_is_nonincreasing(spark):
    rows = sorted(
        ENTRIES["x285_kaplan_meier"].spark(spark, SFS[1]).collect(),
        key=lambda r: r.bucket,
    )
    assert rows
    prev = 0
    for r in rows:
        assert r.ln_s_cum_nano <= prev  # ln S only ever decreases
        prev = r.ln_s_cum_nano
        assert r.at_risk > r.n_events


def test_newsvendor_shortfall_months_bounded(spark):
    for r in ENTRIES["x286_newsvendor"].spark(spark, SFS[1]).collect():
        assert r.q_star > 0
        assert r.exp_leftover_units >= 0 and r.exp_shortage_units >= 0
        # Q at the ceil(0.8n) rank pick: at most 20% of months exceed it
        # in UNITS terms only when demand is bounded — assert the count
        # bound indirectly via the rank definition re-derived on data
        assert r.n_months >= 1


def test_markov_rows_are_normalized(spark):
    rows = ENTRIES["x282_markov_transitions"].spark(spark, SFS[1]).collect()
    by_from = defaultdict(list)
    for r in rows:
        by_from[r.from_type].append(r)
    for ft, rs in by_from.items():
        tot = sum(r.p_ppm for r in rs)
        # floor division truncation loses at most |cells| ppm
        assert 1_000_000 - len(rs) <= tot <= 1_000_000, ft
        ranks = sorted(r.rank_in_row for r in rs)
        assert ranks == list(range(1, len(rs) + 1))


def test_entropy_rate_bounded_by_log_states(spark):
    import math

    row = ENTRIES["x290_entropy_rate"].spark(spark, SFS[1]).collect()[0]
    assert row.h_cond_micro >= 0
    upper = int(math.log(row.n_states) * 1_000_000) + 1000
    assert row.h_cond_micro <= upper


def test_hits_second_iteration_dominates(spark):
    rows = ENTRIES["x278_hits_scores"].spark(spark, SFS[1]).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.auth_2 >= r.auth_1 >= 1


def test_fleiss_kappa_in_range(spark):
    row = ENTRIES["x296_fleiss_kappa"].spark(spark, SFS[1]).collect()[0]
    assert -1_000_000 <= row.kappa_ppm <= 1_000_000
    assert 0 <= row.pbar_ppm <= 1_000_000


def test_minhash_calibration_estimate_tracks_truth(spark):
    rows = sorted(
        ENTRIES["x293_minhash_calibration"].spark(spark, SFS[1]).collect(),
        key=lambda r: r.jac_decile,
    )
    assert rows
    for r in rows:
        assert 0 <= r.mean_est_ppm <= 1_000_000
        assert r.mean_abs_err_ppm <= 1_000_000
    if len(rows) >= 2:
        # the estimator must at least order the extremes correctly
        assert rows[-1].mean_est_ppm > rows[0].mean_est_ppm


def test_mattr_bounded_and_sources_covered(spark):
    rows = ENTRIES["x294_mattr"].spark(spark, SFS[1]).collect()
    assert rows
    for r in rows:
        assert 0 < r.mattr_ppm <= 1_000_000
        assert r.n_windows >= r.n_docs  # every counted doc has >= 1 window


def test_smd_three_covariates_near_zero_for_hash_split(spark):
    rows = ENTRIES["x292_smd_balance"].spark(spark, SFS[1]).collect()
    assert {r.covariate for r in rows} == {
        "acctbal_cents",
        "n_orders",
        "spend_kd",
    }
    for r in rows:
        # an md5 split is as-if random: |SMD| must be far below the 0.1
        # imbalance bar at sf0.01 sample sizes
        assert abs(r.smd_milli) < 100, r


def test_grubbs_nonnegative_on_right_skewed_prices(spark):
    for r in ENTRIES["x279_grubbs_test"].spark(spark, SFS[1]).collect():
        assert r.g_max_milli >= 0
        assert r.g_min_milli >= 0
        assert r.mx >= r.mn


def test_zipf_slope_is_negative(spark):
    row = ENTRIES["x299_zipf_slope"].spark(spark, SFS[1]).collect()[0]
    assert row.zipf_slope_milli < 0  # frequency falls with rank, always


def test_gamma_and_lognormal_agree_on_the_mean_order(spark):
    """Both parametric fits must reproduce the same ordering of
    segment means (shape*scale for Gamma vs the log-domain mu for
    lognormal are monotone transforms of the same empirical mean)."""
    ga = {
        r.segment: r.shape_milli * r.scale_milli
        for r in ENTRIES["x302_gamma_mom"].spark(spark, SFS[1]).collect()
    }
    ln = {
        r.segment: r.mu_micro
        for r in ENTRIES["x288_lognormal_fit"].spark(spark, SFS[1]).collect()
    }
    ga_rank = sorted(ga, key=ga.__getitem__)
    ln_rank = sorted(ln, key=ln.__getitem__)
    # weak agreement: top and bottom segments coincide
    assert ga_rank[-1] == ln_rank[-1] or ga_rank[0] == ln_rank[0]


def test_hoover_in_unit_range(spark):
    for r in ENTRIES["x303_hoover_index"].spark(spark, SFS[1]).collect():
        assert 0 <= r.hoover_ppm <= 1_000_000


def test_records_at_least_one_and_bounded(spark):
    row = ENTRIES["x305_records_test"].spark(spark, SFS[1]).collect()[0]
    assert 1 <= row.rec <= row.n
    assert row.h1_nano > row.h2_nano


def test_skyline_is_mutually_nondominated(spark):
    rows = ENTRIES["x306_skyline_parts"].spark(spark, SFS[1]).collect()
    assert rows
    # the defining property: no member has another member with
    # size >= its size at a strictly lower price
    for a in rows:
        for b in rows:
            assert not (
                b.size >= a.size and b.price_cents < a.price_cents
            ), (a, b)
    # corollary: walking sizes downward, the frontier price descends
    by_size = {}
    for r in rows:
        by_size.setdefault(r.size, []).append(r.price_cents)
    prev = None
    for s in sorted(by_size, reverse=True):
        m = min(by_size[s])
        if prev is not None:
            assert m <= prev
        prev = m


def test_turning_points_fraction_sane(spark):
    row = ENTRIES["x300_turning_points"].spark(spark, SFS[1]).collect()[0]
    assert 0 <= row.t_cnt <= row.n - 2


def test_friedman_q_nonnegative(spark):
    row = ENTRIES["x301_friedman_test"].spark(spark, SFS[1]).collect()[0]
    assert row.q_milli >= 0
    assert row.n_treatments == 5


def test_cv2_positive(spark):
    for r in ENTRIES["x304_interarrival_cv2"].spark(spark, SFS[1]).collect():
        assert r.cv2_milli > 0


def test_cronbach_alpha_in_range(spark):
    row = ENTRIES["x307_cronbach_alpha"].spark(spark, SFS[1]).collect()[0]
    assert row.alpha_ppm <= 1_000_000
    assert row.den > 0


def test_brown_forsythe_f_nonnegative(spark):
    row = ENTRIES["x308_brown_forsythe"].spark(spark, SFS[1]).collect()[0]
    assert row.f_milli >= 0
    assert row.k == 5 and row.nn > row.k


def test_pacf_lag1_equals_acf_lag1(spark):
    """Durbin-Levinson base case: phi11 IS r1 — cross-check the PACF
    pivot against x171's certified ACF on the same frame."""
    from ravelytics_spark.plans.queries import REGISTRY

    acf = {
        (r.nkey, r.lag_k): r.acf
        for r in REGISTRY["x171_acf_lags"].spark(spark, SFS[1]).collect()
    }
    import math

    for r in ENTRIES["x309_pacf"].spark(spark, SFS[1]).collect():
        want = math.floor(1_000_000 * acf[(r.nkey, 1)])
        assert abs(r.pacf1_micro - want) <= 1, (r.nkey, r.pacf1_micro, want)
        for v in (r.pacf1_micro, r.pacf2_micro, r.pacf3_micro):
            assert -1_000_000 <= v <= 1_000_000


def test_cohens_d_antisymmetric_pairs_complete(spark):
    rows = ENTRIES["x310_cohens_d"].spark(spark, SFS[1]).collect()
    assert len(rows) == 10  # C(5,2) segment pairs
    for r in rows:
        assert r.seg_a < r.seg_b
        assert abs(r.d_milli) < 2000  # overlapping TPC-H-ish segments


def test_binary_segmentation_improves_on_no_split(spark):
    row = (
        ENTRIES["x311_binary_segmentation"].spark(spark, SFS[1]).collect()[0]
    )
    assert 2 <= row.split_t <= row.nn - 2
    assert row.obj_milli <= row.total_sse_milli  # a split never hurts SSE
    assert 0 <= row.var_explained_ppm <= 1_000_000
