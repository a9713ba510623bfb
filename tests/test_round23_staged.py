"""Oracle-comparison and property tests for the catalog entries in
plans/round23_staged.py (x127-x143): DuckDB compare
at two SFs with strict row order, plus the semantics an oracle twin
cannot express."""

from __future__ import annotations

import pytest
from conftest import entries_of

from ravelytics_spark.plans.round23_staged import (
    _KCORE_K,
    _KCORE_ROUNDS,
)
from ravelytics_spark.testing import compare, duckdb_connection

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
ENTRIES = entries_of("round23_staged")


@pytest.mark.parametrize("name", sorted(ENTRIES))
@pytest.mark.parametrize("sf_dir", SFS)
def test_round23_staged_matches_oracle(spark, name, sf_dir):
    entry = ENTRIES[name]
    con = duckdb_connection(sf_dir)
    problems = compare(
        entry.spark(spark, sf_dir), con, entry.oracle, name, strict_row_order=True
    )
    assert not problems, problems


def test_kcore_matches_pure_python_peel_and_reaches_fixed_point(spark):
    """The 12-round output equals the true k-core computed by an
    in-memory reference peel (which also proves 12 rounds suffice at
    the certification SF — the cascade needs 10)."""
    import duckdb

    con = duckdb.connect()
    edges = con.execute(
        f"""
        WITH pk AS (SELECT DISTINCT l_orderkey o, l_partkey p
                    FROM '{SFS[1]}/lineitem.parquet'),
        e AS (SELECT a.p u, b.p v, count(*) w FROM pk a
              JOIN pk b ON a.o = b.o AND a.p < b.p GROUP BY a.p, b.p)
        SELECT u, v FROM e WHERE w >= 2"""
    ).fetchall()
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    rounds = 0
    while True:
        drop = [n for n, ns in adj.items() if len(ns) < _KCORE_K]
        if not drop:
            break
        rounds += 1
        for n in drop:
            for m in adj[n]:
                adj[m].discard(n)
            del adj[n]
    assert rounds <= _KCORE_ROUNDS, "unrolled round count no longer suffices"
    expect = {(n, len(ns)) for n, ns in adj.items()}
    got = {
        (r.part, r.core_degree)
        for r in ENTRIES["x127_kcore_peel"].spark(spark, SFS[1]).collect()
    }
    assert got == expect
    assert all(d >= _KCORE_K for _, d in got)


def test_kcore_early_exit_matches_full_unroll(spark):
    # The early fixed-point break must be invisible in the result: the
    # alive set shrinks monotonically, so equal consecutive counts
    # prove set equality and the remaining rounds are no-ops. Compare
    # against the full 12-round unroll at both certification SFs
    # (sf0.001 hits the fixed point immediately — nothing peels;
    # sf0.01 needs a 10-round cascade, so the exit saves 2 rounds).
    from ravelytics_spark.plans.round23_staged import x127_kcore_peel

    for sf in (SFS[0], SFS[1]):
        fast = {
            (r.part, r.core_degree)
            for r in x127_kcore_peel(spark, sf, early_exit=True).collect()
        }
        full = {
            (r.part, r.core_degree)
            for r in x127_kcore_peel(spark, sf, early_exit=False).collect()
        }
        assert fast == full, sf


def test_mutual_information_total_matches_python(spark):
    import math

    rows = ENTRIES["x128_mutual_information"].spark(spark, SFS[1]).collect()
    rn: dict[str, int] = {}
    cn: dict[str, int] = {}
    tot = 0
    for r in rows:
        rn[r.lang] = rn.get(r.lang, 0) + r.n
        cn[r.source] = cn.get(r.source, 0) + r.n
        tot += r.n
    expect = sum(
        (r.n / tot) * math.log(r.n * tot / (rn[r.lang] * cn[r.source]))
        for r in rows
    )
    got = sum(r.mi_term for r in rows)
    assert got == pytest.approx(expect, abs=1e-5)
    assert got >= -1e-9  # MI is non-negative


def test_cohort_ltv_triangle_consistency(spark):
    rows = ENTRIES["x129_cohort_ltv"].spark(spark, SFS[1]).collect()
    by_cohort: dict = {}
    for r in rows:
        by_cohort.setdefault(r.cohort, []).append(r)
    for cohort, rs in by_cohort.items():
        rs.sort(key=lambda r: r.age)
        assert rs[0].age == 0  # every cohort starts at its own month
        cum = 0
        for r in rs:
            cum += r.revenue_cents
            assert r.cum_revenue_cents == cum
            assert r.n_active <= r.cohort_size
            assert r.ltv_micros == (cum * 1_000_000) // r.cohort_size


def test_lorenz_deciles_shape(spark):
    rows = ENTRIES["x130_lorenz_deciles"].spark(spark, SFS[1]).collect()
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r.decile)
        assert rs[-1].decile == 10 and rs[-1].cum_share == pytest.approx(1.0)
        shares = [r.cum_share for r in rs]
        assert shares == sorted(shares)
        # ascending-length deciles: later deciles hold at least as much
        # mass per doc as earlier ones
        assert rs[-1].chars / rs[-1].n_docs >= rs[0].chars / rs[0].n_docs


def test_funnel_latency_consistency(spark):
    rows = {r.step: r for r in ENTRIES["x131_funnel_latency"].spark(spark, SFS[1]).collect()}
    assert set(rows) == {"view_to_click", "click_to_purchase", "view_to_purchase"}
    for r in rows.values():
        assert 0 <= r.p50_s <= r.p90_s
    # s3 ⊆ s2 ⊆ s1, so both purchase pairs cover exactly the s3 users
    assert rows["click_to_purchase"].n_users == rows["view_to_purchase"].n_users
    assert rows["view_to_click"].n_users >= rows["view_to_purchase"].n_users
    # end-to-end latency dominates its first leg at the median
    assert rows["view_to_purchase"].p50_s >= rows["view_to_click"].p50_s


def test_staged_nontrivial_rows(spark):
    for name, query in ENTRIES.items():
        assert query.spark(spark, SFS[0]).count() > 0, name
    # x127 peels NOTHING at sf0.001 (min degree 5 >= k) and nearly
    # everything at sf0.1 — the sf0.01 oracle run above is the one
    # with a 10-round cascade; assert the sf0.001 no-op holds too.
    n_nodes = (
        ENTRIES["x127_kcore_peel"].spark(spark, SFS[0]).count()
    )
    assert n_nodes == 200


# ---------------------------------------------------------------------------
# Batch 2 properties (the parametrized oracle tests above already cover
# every entry at two SFs automatically)
# ---------------------------------------------------------------------------


def test_segment_migration_lattice(spark):
    rows = ENTRIES["x132_segment_migration"].spark(spark, SFS[1]).collect()
    assert all(1 <= r.from_q <= 4 and 1 <= r.to_q <= 4 for r in rows)
    assert len(rows) <= 16
    assert all(r.cents_1995 > 0 and r.cents_1996 > 0 for r in rows)


def test_shipmode_latency_quantiles_ordered(spark):
    rows = ENTRIES["x133_shipmode_latency"].spark(spark, SFS[1]).collect()
    for r in rows:
        assert 1 <= r.p50_days <= r.p90_days <= r.p99_days <= 30
        assert 0.0 <= r.late_frac <= 1.0
        assert r.n_late <= r.n_items


def test_hhi_bounds(spark):
    rows = ENTRIES["x134_hhi_revenue"].spark(spark, SFS[1]).collect()
    for r in rows:
        assert 1.0 / r.n_customers - 1e-9 <= r.hhi <= 1.0 + 1e-9, r


def test_weekday_index_covers_week_and_averages_to_one(spark):
    rows = ENTRIES["x135_weekday_index"].spark(spark, SFS[1]).collect()
    assert [r.dow for r in rows] == list(range(7))
    mean_idx = sum(r.weekday_index * r.revenue_cents for r in rows) / sum(
        r.revenue_cents for r in rows
    )
    assert 0.9 < mean_idx < 1.2  # revenue-weighted mean of 7*share


def test_discount_bands_share_tracks_band(spark):
    """forgone/gross within a single-discount band IS that discount."""
    rows = ENTRIES["x136_discount_bands"].spark(spark, SFS[1]).collect()
    for r in rows:
        assert r.forgone_share == pytest.approx(r.disc_pct / 100, abs=1e-6)
    assert {r.disc_pct for r in rows} <= set(range(0, 11))


# ---------------------------------------------------------------------------
# Batch 3 properties
# ---------------------------------------------------------------------------


def test_share_of_total_sums_to_one(spark):
    rows = ENTRIES["x137_share_of_total"].spark(spark, SFS[1]).collect()
    assert sum(r.share_of_total for r in rows) == pytest.approx(1.0, abs=1e-6)
    by_region: dict = {}
    for r in rows:
        by_region.setdefault(r.r_name, []).append(r)
    for reg, rs in by_region.items():
        assert sum(r.share_of_region for r in rs) == pytest.approx(1.0, abs=1e-6)
        assert all(r.region_cents == rs[0].region_cents for r in rs)


def test_volatility_bands_breach_matches_float_sigma(spark):
    """The exact squared-compare breach equals the textbook float
    2-sigma test on the same trailing window."""
    rows = ENTRIES["x138_volatility_bands"].spark(spark, SFS[1]).collect()
    rows.sort(key=lambda r: r.mon)
    ys = [r.revenue_cents for r in rows]
    # reconstruct each row's own 6-month window from the series: rows
    # begin at the 6th month, so row i covers series[i..i+5] where the
    # series also includes the 5 warmup months — recover them from
    # mean_micros instead: mean = S1/k exactly.
    for r in rows:
        s1 = r.revenue_cents * 6 - r.dev_num
        assert r.mean_micros == (s1 * 1_000_000) // 6
        assert not (r.breach_high and r.breach_low)
        if r.breach_high:
            assert r.dev_num > 0
        if r.breach_low:
            assert r.dev_num < 0


def test_new_vs_returning_partitions_the_months(spark):
    import duckdb

    rows = ENTRIES["x139_new_vs_returning"].spark(spark, SFS[1]).collect()
    con = duckdb.connect()
    n_orders = con.execute(
        f"SELECT count(*) FROM '{SFS[1]}/orders.parquet'"
    ).fetchone()[0]
    assert sum(r.n_orders for r in rows) == n_orders
    # every customer's first month contributes them as 'new' exactly once
    n_cust = con.execute(
        f"SELECT count(DISTINCT o_custkey) FROM '{SFS[1]}/orders.parquet'"
    ).fetchone()[0]
    assert sum(r.n_customers for r in rows if r.segment == "new") == n_cust


def test_trigram_profile_shape(spark):
    rows = ENTRIES["x140_char_trigram_profile"].spark(spark, SFS[1]).collect()
    by_lang: dict = {}
    for r in rows:
        assert len(r.trigram) == 3
        assert 0 < r.freq <= 1
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
        ns = [r.n for r in rs]
        assert ns == sorted(ns, reverse=True)


# ---------------------------------------------------------------------------
# Batch 4 properties
# ---------------------------------------------------------------------------


def test_penny_allocation_conserves_every_order(spark):
    """The core claim: integer largest-remainder allocation sums to the
    header total for EVERY order — no leaked pennies anywhere."""
    rows = ENTRIES["x141_penny_allocation"].spark(spark, SFS[1]).collect()
    assert rows
    for r in rows:
        assert r.allocated_cents == r.order_cents, r
        assert r.min_alloc <= r.max_alloc


def test_penny_allocation_matches_python_hamilton(spark):
    """Spot-check one multi-line order against a pure-Python
    largest-remainder allocation."""
    import duckdb

    con = duckdb.connect()
    ok, oc = con.execute(
        f"""
        SELECT li.l_orderkey, CAST(round(o.o_totalprice * 100) AS BIGINT)
        FROM '{SFS[1]}/lineitem.parquet' li
        JOIN '{SFS[1]}/orders.parquet' o ON li.l_orderkey = o.o_orderkey
        GROUP BY 1, 2 HAVING count(*) >= 4 ORDER BY 1 LIMIT 1"""
    ).fetchone()
    lines = con.execute(
        f"""SELECT l_linenumber, CAST(round(l_extendedprice * 100) AS BIGINT)
            FROM '{SFS[1]}/lineitem.parquet' WHERE l_orderkey = ?
            ORDER BY 1""",
        [ok],
    ).fetchall()
    gross = sum(v for _, v in lines)
    # list-based (NOT a dict keyed on linenumber): the synthetic
    # lineitem contains duplicate (order, linenumber) pairs
    floors = [[ln, v, (oc * v) // gross, (oc * v) % gross] for ln, v in lines]
    short = oc - sum(f for _, _, f, _ in floors)
    assert 0 <= short < len(lines)
    for row in sorted(floors, key=lambda t: (-t[3], t[1], t[0]))[:short]:
        row[2] += 1
    allocs = [f for _, _, f, _ in floors]
    got = {
        r.o_orderkey: r
        for r in ENTRIES["x141_penny_allocation"].spark(spark, SFS[1]).collect()
    }[ok]
    assert got.n_lines == len(lines)
    assert got.min_alloc == min(allocs)
    assert got.max_alloc == max(allocs)
    assert sum(allocs) == oc == got.allocated_cents


def test_attribution_totals_the_purchase_ledger(spark):
    import duckdb

    rows = ENTRIES["x142_last_touch_attribution"].spark(spark, SFS[1]).collect()
    con = duckdb.connect()
    n_purchases, total_value = con.execute(
        f"""SELECT count(*), CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
            FROM '{SFS[1]}/events.parquet' WHERE event_type = 'purchase'"""
    ).fetchone()
    assert sum(r.n_purchases for r in rows) == n_purchases
    assert sum(r.attributed_value for r in rows) == pytest.approx(
        total_value, rel=1e-9
    )
    assert all(r.touch_type != "purchase" for r in rows)


def test_qhist_portable_within_one_bin_of_exact(spark):
    import duckdb
    import math

    rows = ENTRIES["x143_qhist_portable"].spark(spark, SFS[1]).collect()
    con = duckdb.connect()
    for r in rows:
        vals = sorted(
            v[0]
            for v in con.execute(
                f"""SELECT CAST(round(o_totalprice * 100) AS BIGINT)
                    FROM '{SFS[1]}/orders.parquet'
                    WHERE o_orderpriority = ?""",
                [r.o_orderpriority],
            ).fetchall()
        )
        for pct in (25, 50, 90, 99):
            exact = vals[max(0, math.ceil(pct * len(vals) / 100) - 1)]
            edge = getattr(r, f"p{pct}_lo_edge")
            assert edge <= exact < edge + 65536, (r.o_orderpriority, pct)
