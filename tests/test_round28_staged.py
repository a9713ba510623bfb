"""Oracle-comparison and property tests for the catalog entries in
plans/round28_staged.py (x235-x274): DuckDB compare
at two SFs with strict row order, plus the semantics an oracle twin
cannot express."""

from __future__ import annotations

import pytest
from conftest import entries_of

from ravelytics_spark.testing import compare, duckdb_connection

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
ENTRIES = entries_of("round28_staged")


@pytest.mark.parametrize("name", sorted(ENTRIES))
@pytest.mark.parametrize("sf_dir", SFS)
def test_round28_staged_matches_oracle(spark, name, sf_dir):
    entry = ENTRIES[name]
    assert entry.oracle is not None, "round-28 batch is fully oracle-backed"
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


def test_percent_of_parent_shares_sum(spark):
    rows = ENTRIES["x235_percent_of_parent"].spark(spark, SFS[1]).collect()
    # leaf shares within each (region, nation) sum to ~1e6 (floor-division
    # truncation loses at most |segments| ppm per nation)
    from collections import defaultdict

    by_nation = defaultdict(list)
    for r in rows:
        by_nation[(r.region, r.nation)].append(r)
    for (reg, nat), rs in by_nation.items():
        total = sum(r.seg_share_ppm for r in rs)
        assert 1_000_000 - len(rs) <= total <= 1_000_000, (reg, nat)
        # every row of a nation reports the same ancestor shares
        assert len({r.nation_share_ppm for r in rs}) == 1
        assert len({r.region_share_ppm for r in rs}) == 1


def test_croston_rate_bounded_by_size_over_interval(spark):
    # rate = size_ewma / interval_ewma exactly (same numerators), so
    # rate * interval ~ size within integer-division slack
    for r in ENTRIES["x236_croston_intermittent"].spark(spark, SFS[1]).collect():
        assert r.interval_ewma_micro >= 1_000_000  # gaps are >= 1 month
        assert r.croston_rate_micro <= r.size_ewma_micro
        assert r.n_demands >= 1


def test_auc_exact_symmetry_bounds(spark):
    for r in ENTRIES["x241_auc_exact"].spark(spark, SFS[1]).collect():
        assert 0 <= r.auc_ppm <= 1_000_000


def test_gains_table_monotone_capture(spark):
    rows = sorted(
        ENTRIES["x239_gains_table"].spark(spark, SFS[1]).collect(),
        key=lambda r: r.decile,
    )
    assert rows[0].decile == 1 and rows[-1].capture_ppm in (999999, 1000000)
    caps = [r.capture_ppm for r in rows]
    assert caps == sorted(caps), "cumulative capture must be monotone"
    # lift of the full population is exactly 1.0 (cum == tot)
    assert rows[-1].lift_milli == 1000


def test_vocab_coverage_monotone(spark):
    rows = sorted(
        ENTRIES["x243_vocab_coverage_curve"].spark(spark, SFS[1]).collect(),
        key=lambda r: r.vocab_size,
    )
    assert [r.vocab_size for r in rows] == [100, 1000, 10000]
    covs = [r.coverage_ppm for r in rows]
    assert covs == sorted(covs)
    assert all(0 < c <= 1_000_000 for c in covs)


def test_stickiness_dau_wau_mau_ordering(spark):
    for r in ENTRIES["x256_active_stickiness"].spark(spark, SFS[1]).collect():
        assert r.dau <= r.wau <= r.mau
        assert 0 < r.stickiness_ppm <= 1_000_000


def test_l28_total_users_matches_window(spark):
    import duckdb

    rows = ENTRIES["x257_l28_histogram"].spark(spark, SFS[1]).collect()
    total = sum(r.n_users for r in rows)
    con = duckdb.connect()
    expect = con.execute(
        f"""SELECT count(DISTINCT user_id) FROM (
            SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d
            FROM '{SFS[1]}/events.parquet')
        WHERE d >= (SELECT max(CAST(floor(epoch(ts)) AS BIGINT) // 86400) - 27
                    FROM '{SFS[1]}/events.parquet')"""
    ).fetchone()[0]
    assert total == expect
    assert all(1 <= r.days_active <= 28 for r in rows)


def test_time_decay_credit_conserved(spark):
    # per-purchase shares are w*1e6 DIV sum(w): channel totals must sum
    # to ~1e6 per attributed purchase (floor slack < touches per purchase)
    import duckdb

    rows = ENTRIES["x258_time_decay_attribution"].spark(spark, SFS[1]).collect()
    total_credit = sum(r.credit_ppm_sum for r in rows)
    n_touches = sum(r.n_touches for r in rows)
    con = duckdb.connect()
    n_attr = con.execute(
        f"""WITH p AS (SELECT event_id, user_id,
                CAST(floor(epoch(ts)) AS BIGINT) AS pts
            FROM '{SFS[1]}/events.parquet' WHERE event_type = 'purchase'),
        t AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tts
            FROM '{SFS[1]}/events.parquet'
            WHERE event_type IN ('view', 'click'))
        SELECT count(DISTINCT p.event_id) FROM p JOIN t
          ON p.user_id = t.user_id
        WHERE t.tts < p.pts AND (p.pts - t.tts) // 86400 <= 27"""
    ).fetchone()[0]
    assert n_attr * 1_000_000 - n_touches <= total_credit <= n_attr * 1_000_000


def test_burrows_delta_self_consistency(spark):
    rows = ENTRIES["x242_burrows_delta"].spark(spark, SFS[1]).collect()
    n_sources = len({r.src_a for r in rows} | {r.src_b for r in rows})
    assert len(rows) == n_sources * (n_sources - 1) // 2
    assert all(r.delta_micro >= 0 for r in rows)


def test_twonn_dim_plausible(spark):
    row = ENTRIES["x245_twonn_intrinsic_dim"].spark(spark, SFS[1]).collect()[0]
    # 64 ambient dims: the estimate must be positive and can't exceed
    # the ambient dimension by an order of magnitude
    assert row.n_points > 0
    assert 0 < row.intrinsic_dim_milli < 640_000


def test_label_propagation_members_conserved(spark):
    import duckdb

    rows = ENTRIES["x246_label_propagation"].spark(spark, SFS[1]).collect()
    con = duckdb.connect()
    n_nodes = con.execute(
        f"""WITH pk AS (SELECT DISTINCT l_orderkey o, l_partkey p
               FROM '{SFS[1]}/lineitem.parquet'),
        e AS (SELECT a.p u, b.p v FROM pk a JOIN pk b
              ON a.o = b.o AND a.p < b.p
              GROUP BY 1, 2 HAVING count(*) >= 2)
        SELECT count(DISTINCT n) FROM
          (SELECT u AS n FROM e UNION SELECT v FROM e)"""
    ).fetchone()[0]
    assert sum(r.n_members for r in rows) == n_nodes
    assert len(rows) < n_nodes  # propagation must merge SOME labels


def test_link_prediction_excludes_existing_edges(spark):
    import duckdb

    rows = ENTRIES["x247_link_prediction"].spark(spark, SFS[1]).collect()
    assert rows
    con = duckdb.connect()
    edges = set(
        con.execute(
            f"""WITH pk AS (SELECT DISTINCT l_orderkey o, l_partkey p
                   FROM '{SFS[1]}/lineitem.parquet')
            SELECT a.p, b.p FROM pk a JOIN pk b
            ON a.o = b.o AND a.p < b.p
            GROUP BY 1, 2 HAVING count(*) >= 2"""
        ).fetchall()
    )
    for r in rows:
        assert (r.u, r.v) not in edges
        assert 0 < r.jaccard_ppm <= 1_000_000


def test_fifo_matching_conserves_quantity(spark):
    import duckdb

    rows = ENTRIES["x251_fifo_cost_basis"].spark(spark, SFS[1]).collect()
    con = duckdb.connect()
    buy_total = {
        p: q
        for p, q in con.execute(
            f"""SELECT l_partkey, SUM(CAST(l_quantity AS BIGINT))
            FROM '{SFS[1]}/lineitem.parquet'
            WHERE l_shipdate < TIMESTAMP '1997-01-01' GROUP BY 1"""
        ).fetchall()
    }
    for r in rows:
        assert r.matched_qty + r.unmatched_qty == r.sell_qty
        # FIFO can never match more than the part's total lot supply
        assert r.matched_qty <= buy_total.get(r.part, 0)
        assert r.matched_qty == min(r.sell_qty, buy_total.get(r.part, 0)), (
            "FIFO interval overlap must consume exactly "
            "min(total sells, total buys)"
        )


def test_hurst_of_shuffled_series_near_half(spark):
    # The estimator itself: on the real daily series H should land in a
    # plausible (0, 1.2) band and every scale must contribute blocks.
    rows = ENTRIES["x237_hurst_rs"].spark(spark, SFS[1]).collect()
    assert [r.scale for r in rows] == [8, 16, 32, 64]
    assert all(r.n_blocks >= 1 for r in rows)
    h = rows[0].hurst_milli
    assert all(r.hurst_milli == h for r in rows)
    assert 0 < h < 1200


def test_mahalanobis_outliers_are_extreme(spark):
    rows = ENTRIES["x255_diag_mahalanobis"].spark(spark, SFS[1]).collect()
    assert len(rows) == 20
    scores = [r.m2_milli for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert scores[0] >= 2000  # top outlier is > sqrt(2) sd out on average


def test_anova_decomposition_consistent(spark):
    row = ENTRIES["x259_anova_oneway"].spark(spark, SFS[1]).collect()[0]
    assert row.k == 5 and row.n > 0
    assert row.ssb_milli >= 0 and row.ssw_milli > 0
    assert 0 <= row.eta2_ppm <= 1_000_000
    # eta2 must equal SSB/(SSB+SSW) in ppm exactly
    assert row.eta2_ppm == row.ssb_milli * 1_000_000 // (
        row.ssb_milli + row.ssw_milli
    )


def test_gumbel_return_level_dominates_location(spark):
    row = ENTRIES["x260_extreme_value_gumbel"].spark(spark, SFS[1]).collect()[0]
    assert row.scale_milli > 0
    # -ln(-ln(11/12)) > 0, so the 12-block return level sits above loc
    assert row.rl12_milli > row.loc_milli


def test_capture_recapture_close_to_truth(spark):
    row = ENTRIES["x261_capture_recapture"].spark(spark, SFS[1]).collect()[0]
    # two ~25% probes of a 15k population: Chapman lands within ~10%
    assert abs(row.err_ppm) < 100_000
    assert row.m <= min(row.n1, row.n2)


def test_modularity_matches_term_arithmetic(spark):
    rows = ENTRIES["x262_modularity_score"].spark(spark, SFS[1]).collect()
    assert rows
    q = {r.q_ppm for r in rows}
    assert len(q) == 1  # one partition-level Q repeated per community
    # internal edge mass can never exceed half the degree mass
    for r in rows:
        assert 2 * r.internal_edges <= r.d_sum


def test_adamic_adar_ranks_within_common_neighbors(spark):
    rows = ENTRIES["x263_adamic_adar"].spark(spark, SFS[1]).collect()
    assert rows
    for r in rows:
        # each shared neighbor contributes at most 1/ln(2) ~ 1.4427e9 nano
        assert r.aa_nano <= r.common * 1_442_695_041
        assert r.aa_nano > 0


def test_assortativity_is_a_correlation(spark):
    row = ENTRIES["x264_degree_assortativity"].spark(spark, SFS[1]).collect()[0]
    assert -1.0 <= row.assortativity <= 1.0
    assert row.m > 0 and row.m % 2 == 0  # directed edge count is even


def test_clustering_consistent_with_triangle_bound(spark):
    row = (
        ENTRIES["x265_clustering_coefficient"].spark(spark, SFS[1]).collect()[0]
    )
    assert 0 <= row.clustering_ppm <= 1_000_000
    assert 3 * row.n_tri <= row.n_wedges  # every triangle closes 3 wedges


def test_kendall_w_bounds_and_rank_mass(spark):
    rows = ENTRIES["x266_kendall_w"].spark(spark, SFS[1]).collect()
    assert rows
    w = {r.w_ppm for r in rows}
    assert len(w) == 1 and 0 <= rows[0].w_ppm <= 1_000_000
    m, n = rows[0].m, rows[0].n
    # rank sums redistribute the fixed total m * n(n+1)/2
    assert sum(r.rank_sum for r in rows) == m * n * (n + 1) // 2


def test_sax_symbols_quartile_balance(spark):
    rows = ENTRIES["x267_sax_symbols"].spark(spark, SFS[1]).collect()
    assert {r.symbol for r in rows} <= {0, 1, 2, 3}
    from collections import Counter

    c = Counter(r.symbol for r in rows)
    # empirical quartile breakpoints: no symbol hogs over half the mass
    assert max(c.values()) <= len(rows) // 2
    # segments per year are the contract
    years = {r.y for r in rows}
    for y in years:
        segs = sorted(r.seg for r in rows if r.y == y)
        assert segs == list(range(len(segs)))


def test_theil_decomposition_identity(spark):
    rows = ENTRIES["x268_theil_decomposition"].spark(spark, SFS[1]).collect()
    assert rows
    for r in rows:
        # per-region: within = total - between, by construction exact
        assert r.t_within_nano == r.t_total_nano - r.t_between_nano
    # corpus Theil (sum of per-region term masses) is non-negative up
    # to per-nation nano-flooring slack
    total = sum(r.t_total_nano for r in rows)
    n_nations = sum(r.n_r for r in rows)
    assert total >= -n_nations


def test_spc_flags_consistent(spark):
    rows = ENTRIES["x270_spc_control_chart"].spark(spark, SFS[1]).collect()
    assert rows
    xbb = {r.xbb_milli for r in rows}
    rbar = {r.rbar_milli for r in rows}
    assert len(xbb) == 1 and len(rbar) == 1
    for r in rows:
        assert r.xbar_ooc in (0, 1) and r.range_ooc in (0, 1)
        lo = r.xbb_milli - 0.419 * r.rbar_milli
        hi = r.xbb_milli + 0.419 * r.rbar_milli
        assert r.xbar_ooc == (0 if lo <= r.xbar_milli <= hi else 1)


def test_kruskal_wallis_rank_mass_conserved(spark):
    rows = ENTRIES["x271_kruskal_wallis"].spark(spark, SFS[1]).collect()
    n_tot = sum(r.n_g for r in rows)
    # sum of doubled midranks over everyone = 2 * N(N+1)/2 = N(N+1)
    assert sum(r.r2_sum for r in rows) == n_tot * (n_tot + 1)
    h = {r.h_stat for r in rows}
    assert len(h) == 1 and h.pop() >= 0


def test_chao1_dominates_observed_vocab(spark):
    rows = ENTRIES["x272_chao1_unseen"].spark(spark, SFS[1]).collect()
    assert rows
    for r in rows:
        assert r.chao1_milli >= r.s_obs * 1000
        assert r.f1 + r.f2 <= r.s_obs
        assert 0 <= r.unseen_mass_ppm <= 1_000_000


def test_mann_kendall_s_bounds(spark):
    rows = ENTRIES["x273_mann_kendall"].spark(spark, SFS[1]).collect()
    assert rows
    for r in rows:
        # |S| is bounded by the number of comparable pairs
        assert abs(r.s_stat) <= r.n * (r.n - 1) // 2
        assert r.var18 > 0
        # continuity correction keeps |z| <= |S|/sqrt(var)
        import math

        assert abs(r.z) <= abs(r.s_stat) / math.sqrt(r.var18 / 18.0) + 1e-9


def test_cpk_consistent_with_spec_band(spark):
    row = ENTRIES["x274_cpk_capability"].spark(spark, SFS[1]).collect()[0]
    assert row.lsl_milli < row.xbb_milli < row.usl_milli
    # symmetric-band identity: when the mean sits mid-band, Cpk == Cp
    # up to the integer flooring of the two spec limits
    assert abs(row.cp_milli - row.cpk_milli) <= max(2, row.cp_milli // 100)
    assert row.cp_milli > 0


def test_dkw_bands_monotone_and_eps(spark):
    import math

    rows = ENTRIES["x269_dkw_bands"].spark(spark, SFS[1]).collect()
    by_seg: dict = {}
    for r in rows:
        by_seg.setdefault(r.segment, []).append(r)
    for seg, rs in by_seg.items():
        rs.sort(key=lambda r: r.decile)
        assert [r.decile for r in rs] == list(range(1, 10))
        vals = [r.value_cents for r in rs]
        assert vals == sorted(vals)
        n = rs[0].n
        expect = round(1e6 * math.sqrt(math.log(2 / 0.05) / (2 * n)))
        assert rs[0].dkw_eps_ppm == expect
