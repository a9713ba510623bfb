"""Oracle-comparison and property tests for the catalog entries in
plans/round31_staged.py (x312-x325): DuckDB compare
at two SFs with strict row order, plus the semantics an oracle twin
cannot express."""

from __future__ import annotations

import pytest
from conftest import entries_of

from ravelytics_spark.testing import compare, duckdb_connection

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
ENTRIES = entries_of("round31_staged")


@pytest.mark.parametrize("name", sorted(ENTRIES))
@pytest.mark.parametrize("sf_dir", SFS)
def test_round31_staged_matches_oracle(spark, name, sf_dir):
    entry = ENTRIES[name]
    assert entry.oracle is not None, "round-31 batch is fully oracle-backed"
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


def test_bigram_entropy_below_unigram_vocab_bound(spark):
    import math

    rows = ENTRIES["x312_bigram_logprob"].spark(spark, SFS[1]).collect()
    assert rows
    for r in rows:
        assert r.h_micro > 0
        assert r.n_bigrams > 0
        # add-one smoothing bounds every logprob by ln(V+max_c), so the
        # entropy cannot exceed ~ln(V * 2) for any source
        assert r.h_micro < int(math.log(5_000_000) * 1_000_000)


def test_taylor_slope_consistent_with_sums(spark):
    """The synthetic corpus has uniform nation sizes (no ln(mean)
    spread), so the SLOPE VALUE is unconstrained here — assert the
    estimator's internal consistency against its own exact sums
    instead (the oracle certifies cross-engine parity; this certifies
    the algebra)."""
    import math

    row = ENTRIES["x313_taylor_law"].spark(spark, SFS[1]).collect()[0]
    assert row.n_nations >= 20
    k, sx, sy, sxx, sxy = (
        row.n_nations, row.sx, row.sy, row.sxx, row.sxy
    )
    want = math.floor(
        1000.0 * (k * sxy - sx * sy) / (k * sxx - sx * sx)
    )
    assert row.taylor_b_milli == want


def test_eoq_monotone_in_demand(spark):
    rows = ENTRIES["x314_eoq"].spark(spark, SFS[1]).collect()
    assert rows
    by_demand = sorted(rows, key=lambda r: r.d_units / r.n_years)
    eoqs = [r.eoq_milli for r in by_demand]
    assert eoqs == sorted(eoqs)  # EOQ = sqrt(cD): monotone in rate
    for r in rows:
        assert r.eoq_milli > 0 and r.reorder_point_milli > 0


def test_abc_migration_conserves_common_parts(spark):
    import duckdb

    rows = ENTRIES["x315_abc_migration"].spark(spark, SFS[1]).collect()
    con = duckdb.connect()
    common = con.execute(
        "WITH y1 AS (SELECT DISTINCT l_partkey FROM"
        f" read_parquet('{SFS[1]}/lineitem.parquet')"
        " WHERE year(l_shipdate) = 1996),"
        " y2 AS (SELECT DISTINCT l_partkey FROM"
        f" read_parquet('{SFS[1]}/lineitem.parquet')"
        " WHERE year(l_shipdate) = 1997)"
        " SELECT count(*) FROM y1 JOIN y2 USING (l_partkey)"
    ).fetchone()[0]
    assert sum(r.n_parts for r in rows) == common
    # the diagonal (stable classes) must carry real mass
    diag = sum(r.n_parts for r in rows if r.abc_1996 == r.abc_1997)
    assert diag > 0


def test_stl_strength_in_unit_range(spark):
    rows = ENTRIES["x316_stl_strength"].spark(spark, SFS[1]).collect()
    assert rows
    for r in rows:
        assert 0 <= r.seasonal_strength_ppm <= 1_000_000


def test_confusion_rows_partition_population(spark):
    rows = ENTRIES["x317_confusion_at_threshold"].spark(spark, SFS[1]).collect()
    assert len(rows) == 3
    totals = {r.tp + r.fp + r.fn + r.tn for r in rows}
    assert len(totals) == 1  # every threshold partitions the same set
    # raising the threshold can only shrink the predicted-positive set
    by_thr = sorted(rows, key=lambda r: r.threshold_cents)
    pos = [r.tp + r.fp for r in by_thr]
    assert pos == sorted(pos, reverse=True)


def test_t_closeness_bounds_and_coverage(spark):
    rows = ENTRIES["x318_t_closeness"].spark(spark, SFS[1]).collect()
    assert len(rows) == 25  # every nation QI class
    for r in rows:
        assert 0 <= r.t_ppm <= 1_000_000


def test_horvitz_thompson_is_nearly_unbiased(spark):
    row = ENTRIES["x319_horvitz_thompson"].spark(spark, SFS[1]).collect()[0]
    assert row.n_big_sampled >= 0 and row.n_small_sampled > 0
    # md5 is as-if random: the HT estimate must land within 10% of truth
    assert abs(row.err_ppm) < 100_000, row


def test_qte_near_zero_on_hash_split(spark):
    rows = ENTRIES["x320_qte_deciles"].spark(spark, SFS[1]).collect()
    assert len(rows) == 9
    for r in rows:
        # as-if random split: decile differences are small relative to
        # the decile level itself (within 10% — the sf0.01 split is
        # only ~750 customers per arm, so decile picks are chunky)
        assert abs(r.qte_cents) <= max(
            r.q_control_cents // 10, 200_000
        ), r


def test_degree_powerlaw_alpha_positive(spark):
    rows = ENTRIES["x321_degree_powerlaw"].spark(spark, SFS[1]).collect()
    assert len(rows) == 1
    assert rows[0].alpha_milli > 0
    assert rows[0].n_terms <= 99


def test_simpson_diversity_complements(spark):
    for r in ENTRIES["x322_simpson_diversity"].spark(spark, SFS[1]).collect():
        assert 0 <= r.simpson_d_ppm <= 1_000_000
        assert r.simpson_d_ppm + r.diversity_ppm == 1_000_000
        assert r.n_types <= r.n_tokens


def test_logrank_variance_positive(spark):
    row = ENTRIES["x323_logrank_test"].spark(spark, SFS[1]).collect()[0]
    assert row.v_nano > 0
    # O-E sums to ~0 across groups by construction; z is bounded sane
    assert abs(row.z_milli) < 20_000


def test_icc_and_deff_consistent(spark):
    row = ENTRIES["x324_icc_design_effect"].spark(spark, SFS[1]).collect()[0]
    assert -1000 <= row.icc_milli <= 1000
    # DEFF = 1 + (nn/kk - 1) * ICC within rounding of the shared chain
    approx = 1000 + (row.nn / row.kk - 1.0) * row.icc_milli
    assert abs(row.design_effect_milli - approx) <= abs(row.icc_milli) + 2
    assert row.design_effect_milli > 0


def test_gini_rows_share_one_slope(spark):
    rows = ENTRIES["x325_inequality_trend"].spark(spark, SFS[1]).collect()
    assert len(rows) >= 5  # one row per order year
    slopes = {r.trend_ppm_per_year_milli for r in rows}
    assert len(slopes) == 1  # the broadcast slope is constant
    for r in rows:
        assert 0 <= r.gini_ppm <= 1_000_000
