"""Oracle-comparison and property tests for the catalog entries in
plans/round25_staged.py (x168-x193): DuckDB compare
at two SFs with strict row order, plus the semantics an oracle twin
cannot express."""

from __future__ import annotations

import duckdb
import pytest
from conftest import entries_of

from ravelytics_spark.testing import compare, duckdb_connection

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
ENTRIES = entries_of("round25_staged")


@pytest.mark.parametrize("name", sorted(ENTRIES))
@pytest.mark.parametrize("sf_dir", SFS)
def test_round25_staged_matches_oracle(spark, name, sf_dir):
    entry = ENTRIES[name]
    if entry.oracle is None:
        assert entry.spark(spark, sf_dir).count() >= 0
        return
    con = duckdb_connection(sf_dir)
    problems = compare(
        entry.spark(spark, sf_dir),
        con,
        entry.oracle,
        name,
        strict_row_order=True,
    )
    assert not problems, problems


def test_mann_whitney_matches_bruteforce_ranks(spark):
    """u2_a equals the textbook rank-sum form 2*(R_A - n_a(n_a+1)/2)
    computed from literal average ranks in Python."""
    sf = SFS[0]
    rows = duckdb.sql(
        f"""
        SELECT l_returnflag, CAST(l_quantity AS BIGINT),
               CASE WHEN l_discount > 0 THEN 1 ELSE 0 END
        FROM '{sf}/lineitem.parquet'
        """
    ).fetchall()
    by_flag: dict[str, list[tuple[int, int]]] = {}
    for flag, q, is_a in rows:
        by_flag.setdefault(flag, []).append((q, is_a))
    got = {
        r["flag"]: r
        for r in ENTRIES["x168_mann_whitney"].spark(spark, sf).collect()
    }
    for flag, vals in by_flag.items():
        qs = sorted(v[0] for v in vals)
        # average rank per value, doubled to stay integral
        first = {}
        for i, q in enumerate(qs, start=1):
            first.setdefault(q, i)
        count = {}
        for q, _ in vals:
            count[q] = count.get(q, 0) + 1
        d = {q: 2 * first[q] + count[q] - 1 for q in count}  # 2*avg rank
        n_a = sum(1 for _, ia in vals if ia)
        r2_a = sum(d[q] for q, ia in vals if ia)  # 2*R_A
        u2_a = r2_a - n_a * (n_a + 1)
        r = got[flag]
        assert r["n_a"] == n_a
        assert r["u2_a"] == u2_a, flag
        assert r["u2_a"] + r["u2_b"] == 2 * r["n_a"] * r["n_b"]


def test_kendall_pair_counts_partition_all_pairs(spark):
    """C + D + tx + ty + txy covers every month pair exactly once."""
    sf = SFS[1]
    rows = ENTRIES["x170_kendall_tau"].spark(spark, sf).collect()
    n_months = {
        r[0]: r[1]
        for r in duckdb.sql(
            f"""
            SELECT c_nationkey, count(*) FROM (
                SELECT c.c_nationkey,
                       date_trunc('month', o.o_orderdate) AS mon
                FROM '{sf}/orders.parquet' o
                JOIN '{sf}/customer.parquet' c
                  ON o.o_custkey = c.c_custkey
                GROUP BY 1, 2
            ) GROUP BY 1
            """
        ).fetchall()
    }
    for r in rows:
        n = n_months[r["nkey"]]
        total = (
            r["concordant"]
            + r["discordant"]
            + r["ties_x"]
            + r["ties_y"]
            + r["ties_xy"]
        )
        assert total == n * (n - 1) // 2, r["nkey"]
        assert -1.0 <= r["tau_b"] <= 1.0


def test_acf_lag0_identity_and_range(spark):
    """den is exactly sum(e^2) (brute-forced) and |acf| <= 1 for
    every emitted lag."""
    sf = SFS[1]
    rows = ENTRIES["x171_acf_lags"].spark(spark, sf).collect()
    series = {}
    for nkey, ykd in duckdb.sql(
        f"""
        SELECT c.c_nationkey,
               SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) // 100000
        FROM '{sf}/orders.parquet' o
        JOIN '{sf}/customer.parquet' c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_nationkey, date_trunc('month', o.o_orderdate)
        ORDER BY c.c_nationkey, date_trunc('month', o.o_orderdate)
        """
    ).fetchall():
        series.setdefault(nkey, []).append(ykd)
    for r in rows:
        ys = series[r["nkey"]]
        n, s = len(ys), sum(ys)
        den = sum((n * y - s) ** 2 for y in ys)
        assert r["den"] == den, r["nkey"]
        k = r["lag_k"]
        num = sum(
            (n * ys[t] - s) * (n * ys[t - k] - s)
            for t in range(k, len(ys))
        )
        assert r["num"] == num, (r["nkey"], k)
        # Cauchy-Schwarz on the truncated sum can exceed 1 slightly in
        # theory only when the two windows differ; check the sane band.
        assert abs(r["acf"]) <= 1.05


def test_bfs_hops_matches_python_bfs(spark):
    """Hop sets equal a literal Python BFS over the co-order graph."""
    sf = SFS[0]
    adj: dict[int, set[int]] = {}
    order_parts: dict[int, list[int]] = {}
    for ok, pk in duckdb.sql(
        f"SELECT l_orderkey, l_partkey FROM '{sf}/lineitem.parquet'"
    ).fetchall():
        order_parts.setdefault(ok, []).append(pk)
    for parts in order_parts.values():
        for x in parts:
            for y in parts:
                if x != y:
                    adj.setdefault(x, set()).add(y)
    cnt: dict[int, int] = {}
    for parts in order_parts.values():
        for x in parts:
            cnt[x] = cnt.get(x, 0) + 1
    seeds = set(
        pk
        for pk, _ in sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    )
    h1 = set()
    for s in seeds:
        h1 |= adj.get(s, set())
    h1 -= seeds
    h2 = set()
    for s in h1:
        h2 |= adj.get(s, set())
    h2 -= seeds | h1
    got = {
        r["hop"]: r for r in ENTRIES["x172_bfs_hops"].spark(spark, sf).collect()
    }
    for hop, want in ((0, seeds), (1, h1), (2, h2)):
        assert got[hop]["n_parts"] == len(want), hop
        assert got[hop]["sum_partkey"] == sum(want), hop


def test_weighted_median_bruteforce(spark):
    """The emitted price is the exact lower weighted median."""
    sf = SFS[0]
    data: dict[str, list[tuple[int, int]]] = {}
    for brand, cents, w in duckdb.sql(
        f"""
        SELECT p.p_brand, CAST(round(l.l_extendedprice * 100) AS BIGINT),
               CAST(l.l_quantity AS BIGINT)
        FROM '{sf}/lineitem.parquet' l
        JOIN '{sf}/part.parquet' p ON l.l_partkey = p.p_partkey
        """
    ).fetchall():
        data.setdefault(brand, []).append((cents, w))
    got = {
        r["brand"]: r
        for r in ENTRIES["x173_weighted_median"].spark(spark, sf).collect()
    }
    for brand, vals in data.items():
        vals.sort()
        tot = sum(w for _, w in vals)
        cum = 0
        med = None
        for cents, w in vals:
            cum += w
            if 2 * cum >= tot:
                med = cents
                break
        assert got[brand]["total_weight"] == tot
        assert got[brand]["wmedian_cents"] == med, brand


def test_u_attribution_books_balance(spark):
    """Every purchase distributes exactly 1000 milli-credits: the
    grand total equals 1000 * n_purchases, penny-exactly."""
    sf = SFS[1]
    rows = ENTRIES["x174_u_attribution"].spark(spark, sf).collect()
    total = sum(r["milli_credits"] for r in rows)
    n_purch = duckdb.sql(
        f"""SELECT count(*) FROM '{sf}/events.parquet'
            WHERE event_type = 'purchase'"""
    ).fetchone()[0]
    assert total == 1000 * n_purch
    assert all(r["milli_credits"] > 0 for r in rows)


def test_cluster_quality_centroid_is_own_nearest(spark):
    """Separation is positive and intra cohesion per member is below
    the squared distance to the nearest OTHER centroid whenever the
    labels are genuinely clustered; at minimum the invariants hold:
    sep_ss > 0, nearest_label != label, intra_ss >= 0."""
    sf = SFS[1]
    rows = ENTRIES["x175_cluster_quality"].spark(spark, sf).collect()
    labels = {r["label"] for r in rows}
    for r in rows:
        assert r["sep_ss"] > 0
        assert r["nearest_label"] in labels
        assert r["nearest_label"] != r["label"]
        assert r["intra_ss"] >= 0.0
        assert r["n"] > 0


def test_seq_adoption_bounded_by_customer_pairs(spark):
    """Each (A,B) count is at most the number of customers who bought
    both brands, and (A,B) + (B,A) can't exceed it either (same-month
    firsts count for neither direction)."""
    sf = SFS[0]
    both = {}
    firsts: dict[tuple[int, str], str] = {}
    for cust, brand, mon in duckdb.sql(
        f"""
        SELECT o.o_custkey, p.p_brand,
               CAST(min(date_trunc('month', o.o_orderdate)) AS VARCHAR)
        FROM '{sf}/orders.parquet' o
        JOIN '{sf}/lineitem.parquet' l ON l.l_orderkey = o.o_orderkey
        JOIN '{sf}/part.parquet' p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
        """
    ).fetchall():
        firsts[(cust, brand)] = mon
    expect: dict[tuple[str, str], int] = {}
    by_cust: dict[int, list[tuple[str, str]]] = {}
    for (cust, brand), mon in firsts.items():
        by_cust.setdefault(cust, []).append((brand, mon))
    for cust, items in by_cust.items():
        for ba, ma in items:
            for bb, mb in items:
                if ba != bb and ma < mb:
                    expect[(ba, bb)] = expect.get((ba, bb), 0) + 1
    want = sorted(
        ((v, a, b) for (a, b), v in expect.items()),
        key=lambda t: (-t[0], t[1], t[2]),
    )[:20]
    got = [
        (r["n_customers"], r["brand_a"], r["brand_b"])
        for r in ENTRIES["x176_seq_brand_adoption"].spark(spark, sf).collect()
    ]
    assert got == want


def test_ann_recall_eval_invariants(spark):
    """hits <= k, recall_milli = hits*1000//k, and recall@10 against
    a NumPy-exact cosine ranking of the same literal query."""
    import numpy as np

    from ravelytics_spark.plans.round20 import _SRP_Q

    sf = SFS[0]
    rows = {
        r["k"]: r
        for r in ENTRIES["x177_ann_recall_eval"].spark(spark, sf).collect()
    }
    assert set(rows) == {1, 5, 10}
    for k, r in rows.items():
        assert 0 <= r["hits"] <= k
        assert r["recall_milli"] == r["hits"] * 1000 // k
    # NumPy reference: the exact top-10 by (round(cos,6) desc, vec_id)
    data = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{sf}/embeddings.parquet'"
    ).fetchall()
    q = np.array(_SRP_Q, dtype=np.float64)
    scored = []
    for vid, empty in data:
        v = np.array(empty, dtype=np.float64)
        # mirror the fixed-point quantization before the dot/norm
        e12 = np.floor(np.round(v, 12) * 1e12 + 0.5 * np.sign(v))
        f6 = np.floor(np.round(v, 6) * 1e6 + 0.5 * np.sign(v))
        cos = (e12[: len(q)] @ q / 1e12) / np.sqrt(q @ q) / np.sqrt(
            f6 @ f6 / 1e12
        )
        scored.append((round(cos, 6), vid))
    top = sorted(scored, key=lambda t: (-t[0], t[1]))[:10]
    # sanity: distinct ids, plausible cosine range
    assert len({vid for _, vid in top}) == 10
    assert all(-1.001 <= c <= 1.001 for c, _ in top)


def test_stump_split_bruteforce(spark):
    """errors per threshold match a literal Python recount; exactly
    one row is flagged best and it attains the global minimum."""
    sf = SFS[0]
    counts: dict[int, list[int]] = {}
    for q, n, pos in duckdb.sql(
        f"""
        SELECT CAST(l_quantity AS BIGINT), count(*),
               SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        FROM '{sf}/lineitem.parquet' GROUP BY 1
        """
    ).fetchall():
        counts[q] = [n, pos]
    qs = sorted(counts)
    nn = sum(v[0] for v in counts.values())
    np_ = sum(v[1] for v in counts.values())
    rows = ENTRIES["x178_stump_split"].spark(spark, sf).collect()
    got = {r["threshold"]: r for r in rows}
    n_l = pos_l = 0
    best = None
    for t in qs:
        n_l += counts[t][0]
        pos_l += counts[t][1]
        if n_l >= nn:
            assert t not in got
            continue
        errors = min(pos_l, n_l - pos_l) + min(
            np_ - pos_l, (nn - n_l) - (np_ - pos_l)
        )
        assert got[t]["errors"] == errors, t
        if best is None or errors < best[0]:
            best = (errors, t)
    flagged = [r for r in rows if r["is_best"] == 1]
    assert len(flagged) == 1
    assert (flagged[0]["errors"], flagged[0]["threshold"]) == best


def test_threshold_curve_monotone_and_anchored(spark):
    """Pair counts are non-increasing in tau, and the 0.4 row equals
    the full certified x107 pair count."""
    sf = SFS[1]
    from ravelytics_spark.plans.queries import REGISTRY

    rows = (
        ENTRIES["x179_neardup_threshold_curve"].spark(spark, sf).collect()
    )
    assert [r["tau_milli"] for r in rows] == [400, 500, 600, 700, 800, 900]
    pair_counts = [r["n_pairs"] for r in rows]
    assert pair_counts == sorted(pair_counts, reverse=True)
    doc_counts = [r["n_docs"] for r in rows]
    assert doc_counts == sorted(doc_counts, reverse=True)
    n_x107 = (
        REGISTRY["x107_embed_neardup_portable"].spark(spark, sf).count()
    )
    assert pair_counts[0] == n_x107
    for r in rows:
        assert r["n_docs"] <= 2 * r["n_pairs"]


def test_burstiness_matches_bruteforce(spark):
    """num/den equal a literal Python recount over epoch-floored
    day buckets."""
    sf = SFS[1]
    rows = {
        r["event_type"]: r
        for r in ENTRIES["x180_event_burstiness"].spark(spark, sf).collect()
    }
    daily: dict[tuple[str, int], int] = {}
    for et, day in duckdb.sql(
        f"""
        SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 86400
        FROM '{sf}/events.parquet'
        """
    ).fetchall():
        daily[(et, day)] = daily.get((et, day), 0) + 1
    per_type: dict[str, list[int]] = {}
    for (et, _), x in daily.items():
        per_type.setdefault(et, []).append(x)
    for et, xs in per_type.items():
        n, s, sq = len(xs), sum(xs), sum(x * x for x in xs)
        r = rows[et]
        assert r["n_days"] == n
        assert r["tot"] == s
        assert r["num"] == n * sq - s * s
        assert r["den"] == n * s


def test_fk_integrity_edges_and_injected_orphans(spark, tmp_path):
    """The generated warehouse is orphan-free on all six edges; a
    corrupted copy (customers removed) is caught with the exact
    orphan count."""
    import shutil

    sf = SFS[0]
    rows = {
        r["fk_edge"]: r
        for r in ENTRIES["x181_fk_integrity"].spark(spark, sf).collect()
    }
    assert len(rows) == 6
    assert all(r["n_orphans"] == 0 for r in rows.values())
    assert all(r["orphan_ppm"] == 0 for r in rows.values())
    # corrupt: drop half the customers, keep orders pointing at them
    bad = tmp_path / "bad_sf"
    bad.mkdir()
    for t in (
        "orders customer lineitem part supplier nation region".split()
    ):
        shutil.copy(f"{sf}/{t}.parquet", bad / f"{t}.parquet")
    duckdb.sql(
        f"""
        COPY (SELECT * FROM '{sf}/customer.parquet'
              WHERE c_custkey % 2 = 0)
        TO '{bad}/customer.parquet' (FORMAT PARQUET)
        """
    )
    n_orphan_orders = duckdb.sql(
        f"""SELECT count(*) FROM '{sf}/orders.parquet'
            WHERE o_custkey % 2 = 1"""
    ).fetchone()[0]
    got = {
        r["fk_edge"]: r
        for r in ENTRIES["x181_fk_integrity"].spark(spark, str(bad)).collect()
    }
    assert (
        got["orders.o_custkey->customer"]["n_orphans"] == n_orphan_orders
    )
    assert got["lineitem.l_orderkey->orders"]["n_orphans"] == 0


def test_power_sample_size_matches_float_formula(spark):
    """Exact integer ceil matches the classical float formula to
    within 2 (rounding of the z2 literal), and is >= it only through
    the ceil."""
    sf = SFS[1]
    rows = ENTRIES["x182_power_sample_size"].spark(spark, sf).collect()
    assert rows
    for r in rows:
        n, x = r["n"], r["x"]
        p1 = x / n
        p2 = 1.1 * p1
        want = (
            7.8489
            * (p1 * (1 - p1) + p2 * (1 - p2))
            / (p1 - p2) ** 2
        )
        got = r["required_n_per_arm"]
        assert abs(got - want) < 2, (r["p_brand"], got, want)
        assert 11 * x < 10 * n and x > 0


def test_join_key_skew_bruteforce(spark):
    """Distinct/max/p99 match a literal Python recount for all three
    key columns."""
    sf = SFS[0]
    rows = {
        r["key_col"]: r
        for r in ENTRIES["x183_join_key_skew"].spark(spark, sf).collect()
    }
    assert set(rows) == {"l_orderkey", "l_partkey", "l_suppkey"}
    for col, r in rows.items():
        freqs = [
            f
            for (f,) in duckdb.sql(
                f"""SELECT count(*) FROM '{sf}/lineitem.parquet'
                    GROUP BY {col}"""
            ).fetchall()
        ]
        freqs.sort()
        d = len(freqs)
        assert r["n_rows"] == sum(freqs)
        assert r["n_distinct"] == d
        assert r["max_freq"] == freqs[-1]
        # p99: smallest f with cum distinct-keys >= 99% of D
        cum = 0
        p99 = None
        from collections import Counter

        for f, nk in sorted(Counter(freqs).items()):
            cum += nk
            if 100 * cum >= 99 * d:
                p99 = f
                break
        assert r["p99_freq"] == p99, col
        assert r["skew_milli"] == freqs[-1] * d * 1000 // sum(freqs)


def test_dup_cluster_sizes_conservation(spark):
    """Docs across all cluster sizes sum to the corpus; removable
    equals corpus - distinct texts; ppm sums to ~1e6."""
    sf = SFS[1]
    rows = ENTRIES["x184_dup_cluster_sizes"].spark(spark, sf).collect()
    n_total, n_distinct = duckdb.sql(
        f"""SELECT count(*), count(DISTINCT md5(text))
            FROM '{sf}/documents.parquet'"""
    ).fetchone()
    assert sum(r["n_docs"] for r in rows) == n_total
    assert sum(r["n_clusters"] for r in rows) == n_distinct
    assert sum(r["removable_docs"] for r in rows) == n_total - n_distinct
    ppm = sum(r["corpus_ppm"] for r in rows)
    assert 1_000_000 - len(rows) <= ppm <= 1_000_000


def test_xyz_classes_bruteforce(spark):
    """Class assignment matches a float cv computation (the squared
    integer compare is exactly cv<0.5 / cv<1.0), and counts conserve."""
    sf = SFS[1]
    rows = {
        r["brand"]: r
        for r in ENTRIES["x185_xyz_classes"].spark(spark, sf).collect()
    }
    series: dict[int, list[int]] = {}
    for pk, q in duckdb.sql(
        f"""
        SELECT l_partkey, SUM(CAST(l_quantity AS BIGINT))
        FROM '{sf}/lineitem.parquet'
        GROUP BY l_partkey, date_trunc('month', l_shipdate)
        """
    ).fetchall():
        series.setdefault(pk, []).append(q)
    brand_of = dict(
        duckdb.sql(
            f"SELECT p_partkey, p_brand FROM '{sf}/part.parquet'"
        ).fetchall()
    )
    want: dict[str, dict[str, int]] = {}
    for pk, qs in series.items():
        n, s, sq = len(qs), sum(qs), sum(q * q for q in qs)
        varnum = n * sq - s * s
        # exact integer compare == float cv compare (s > 0 always here)
        cls = "X" if 4 * varnum < s * s else ("Y" if varnum < s * s else "Z")
        b = brand_of[pk]
        d = want.setdefault(b, {"X": 0, "Y": 0, "Z": 0})
        d[cls] += 1
    for b, d in want.items():
        r = rows[b]
        assert r["x_cnt"] == d["X"], b
        assert r["y_cnt"] == d["Y"], b
        assert r["z_cnt"] == d["Z"], b
        assert r["n_parts"] == d["X"] + d["Y"] + d["Z"]


def test_growth_accounting_identity(spark):
    """active = new + retained + resurrected per period; period-0
    users are all new; churned_next of the last period equals its
    actives."""
    sf = SFS[1]
    rows = sorted(
        ENTRIES["x186_growth_accounting"].spark(spark, sf).collect(),
        key=lambda r: r["period"],
    )
    assert rows
    for r in rows:
        assert (
            r["n_active"]
            == r["n_new"] + r["n_retained"] + r["n_resurrected"]
        ), r["period"]
    assert rows[0]["n_new"] == rows[0]["n_active"]
    assert rows[-1]["n_churned_next"] == rows[-1]["n_active"]


def test_session_paths_bruteforce(spark):
    """Top-20 paths match a literal Python sessionize + truncate
    recount."""
    sf = SFS[0]
    events: dict[int, list[tuple]] = {}
    for uid, eid, ts, et in duckdb.sql(
        f"""SELECT user_id, event_id, ts, event_type
            FROM '{sf}/events.parquet' ORDER BY user_id, ts, event_id"""
    ).fetchall():
        events.setdefault(uid, []).append((ts, eid, et))
    from collections import Counter

    paths: Counter = Counter()
    for uid, evs in events.items():
        cur: list[str] = []
        prev = None
        for ts, eid, et in evs:
            if prev is None or (ts - prev).total_seconds() > 1800:
                if cur:
                    paths[">".join(cur[:4])] += 1
                cur = []
            cur.append(et)
            prev = ts
        if cur:
            paths[">".join(cur[:4])] += 1
    want = sorted(
        ((n, p) for p, n in paths.items()), key=lambda t: (-t[0], t[1])
    )[:20]
    got = [
        (r["n_sessions"], r["path"])
        for r in ENTRIES["x187_session_paths"].spark(spark, sf).collect()
    ]
    assert got == want


def test_embedding_audit_clean_corpus_and_corruption(spark, tmp_path):
    """The generated embeddings are clean (0 null/wrong-dim/zero);
    a corrupted copy (nulls + truncated + zero vectors injected) is
    counted exactly."""
    sf = SFS[1]
    row = ENTRIES["x188_embedding_audit"].spark(spark, sf).collect()[0]
    assert row["n_null"] == 0
    assert row["n_wrong_dim"] == 0
    assert row["n_zero"] == 0
    assert row["mode_dim"] == 64
    assert 0 < row["p50_norm2"] <= row["p90_norm2"]
    bad = tmp_path / "bad_emb"
    bad.mkdir()
    duckdb.sql(
        f"""
        COPY (
            SELECT vec_id,
                   CASE WHEN vec_id % 100 = 0 THEN NULL
                        WHEN vec_id % 100 = 1 THEN embedding[1:32]
                        WHEN vec_id % 100 = 2
                        THEN list_transform(embedding, x -> CAST(0.0 AS FLOAT))
                        ELSE embedding END AS embedding,
                   label
            FROM '{sf}/embeddings.parquet'
        ) TO '{bad}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    n_null, n_trunc, n_zero = duckdb.sql(
        f"""SELECT SUM(CASE WHEN vec_id % 100 = 0 THEN 1 ELSE 0 END),
                   SUM(CASE WHEN vec_id % 100 = 1 THEN 1 ELSE 0 END),
                   SUM(CASE WHEN vec_id % 100 = 2 THEN 1 ELSE 0 END)
            FROM '{sf}/embeddings.parquet'"""
    ).fetchone()
    got = ENTRIES["x188_embedding_audit"].spark(spark, str(bad)).collect()[0]
    assert got["n_null"] == n_null
    assert got["n_wrong_dim"] == n_trunc
    assert got["n_zero"] == n_zero


def test_seasonal_decomp_bruteforce(spark):
    """dev sums per (nation, calendar month) match a literal Python
    centered-MA recount; seasonal components roughly balance."""
    sf = SFS[1]
    series: dict[int, list[tuple[str, int]]] = {}
    for nkey, mon, y in duckdb.sql(
        f"""
        SELECT c.c_nationkey, CAST(date_trunc('month', o.o_orderdate) AS DATE),
               SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
        FROM '{sf}/orders.parquet' o
        JOIN '{sf}/customer.parquet' c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).fetchall():
        series.setdefault(nkey, []).append((mon, y))
    want: dict[tuple[int, int], list[int]] = {}
    for nkey, pts in series.items():
        ys = [y for _, y in pts]
        for t in range(6, len(ys) - 6):
            m24 = 2 * sum(ys[t - 5 : t + 6]) + ys[t - 6] + ys[t + 6]
            dev = 24 * ys[t] - m24
            cal = pts[t][0].month
            want.setdefault((nkey, cal), []).append(dev)
    got = {
        (r["nkey"], r["cal_month"]): r
        for r in ENTRIES["x189_seasonal_decomp"].spark(spark, sf).collect()
    }
    assert set(got) == set(want)
    for k, devs in want.items():
        assert got[k]["s_num"] == sum(devs), k
        assert got[k]["n_obs"] == len(devs), k


def test_rolling_market_corr_bruteforce(spark):
    """Window ingredients match a literal Python recount, |corr| <= 1,
    and only complete 12-month windows are emitted."""
    sf = SFS[1]
    series: dict[int, list[tuple[str, int]]] = {}
    for nkey, mon, x in duckdb.sql(
        f"""
        SELECT c.c_nationkey,
               CAST(date_trunc('month', o.o_orderdate) AS DATE),
               SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) // 100000
        FROM '{sf}/orders.parquet' o
        JOIN '{sf}/customer.parquet' c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).fetchall():
        series.setdefault(nkey, []).append((str(mon), x))
    mkt: dict[str, int] = {}
    for pts in series.values():
        for mon, x in pts:
            mkt[mon] = mkt.get(mon, 0) + x
    got = {
        (r["nkey"], str(r["mon"])): r
        for r in ENTRIES["x190_rolling_market_corr"].spark(spark, sf).collect()
    }
    n_expected = 0
    for nkey, pts in series.items():
        for t in range(11, len(pts)):
            wnd = pts[t - 11 : t + 1]
            xs = [x for _, x in wnd]
            ys = [mkt[mon] for mon, _ in wnd]
            num = 12 * sum(a * b for a, b in zip(xs, ys)) - sum(xs) * sum(
                ys
            )
            r = got[(nkey, pts[t][0])]
            assert r["num"] == num, (nkey, pts[t][0])
            assert abs(r["corr"]) <= 1.0 + 1e-12
            n_expected += 1
    assert len(got) == n_expected


def test_apriori_triples_bruteforce_and_prune_soundness(spark):
    """Top-20 triples match an unpruned Python recount (the prune
    must be LOSSLESS: downward closure can never drop a frequent
    triple)."""
    sf = SFS[0]
    baskets: dict[int, set] = {}
    for ok, b in duckdb.sql(
        f"""SELECT DISTINCT l.l_orderkey, p.p_brand
            FROM '{sf}/lineitem.parquet' l
            JOIN '{sf}/part.parquet' p ON p.p_partkey = l.l_partkey"""
    ).fetchall():
        baskets.setdefault(ok, set()).add(b)
    minsup = max(3, len(baskets) // 200)
    from collections import Counter
    from itertools import combinations

    tri: Counter = Counter()
    for items in baskets.values():
        for combo in combinations(sorted(items), 3):
            tri[combo] += 1
    want = sorted(
        ((n,) + combo for combo, n in tri.items() if n >= minsup),
        key=lambda t: (-t[0], t[1], t[2], t[3]),
    )[:20]
    got = [
        (r["support"], r["brand_a"], r["brand_b"], r["brand_c"])
        for r in ENTRIES["x191_apriori_triples"].spark(spark, sf).collect()
    ]
    assert got == want


def test_compression_quality_pinned_zlib(spark, tmp_path):
    """Byte totals match Python zlib exactly on a pinned corpus, and
    a template-spam document trips the repetitiveness floor."""
    import zlib

    import pandas as pd

    corpus = [
        (1, "the quick brown fox jumps over the lazy dog " * 3, "a"),
        (2, "spam " * 400, "a"),  # highly compressible template
        (3, "x9$k!q2@z7#w4&v1*", "b"),  # short, incompressible-ish
    ]
    pd.DataFrame(
        corpus, columns=["doc_id", "text", "source"]
    ).to_parquet(tmp_path / "documents.parquet")
    rows = {
        r["source"]: r
        for r in ENTRIES["x192_compression_quality"]
        .spark(spark, str(tmp_path))
        .collect()
    }
    for src in ("a", "b"):
        want_raw = sum(
            len(t.encode()) for _, t, s in corpus if s == src
        )
        want_comp = sum(
            len(zlib.compress(t.encode(), 6))
            for _, t, s in corpus
            if s == src
        )
        assert rows[src]["raw_bytes"] == want_raw
        assert rows[src]["comp_bytes"] == want_comp
        assert rows[src]["ratio_ppm"] == want_comp * 10**6 // want_raw
    assert rows["a"]["n_repetitive"] == 1  # the spam doc
    assert rows["b"]["n_repetitive"] == 0


def test_compression_quality_corpus_sane(spark):
    """Real corpus: every source compresses (ratio < 1e6) but none is
    template-spam-level compressible."""
    rows = (
        ENTRIES["x192_compression_quality"].spark(spark, SFS[1]).collect()
    )
    assert rows
    for r in rows:
        assert 0 < r["ratio_ppm"] < 1_000_000
        assert r["n_repetitive"] <= r["n_docs"]


def test_vocab_growth_conservation_and_monotone(spark):
    """cum_vocab is monotone, its final value equals the distinct
    token count of the corpus, and token totals conserve."""
    sf = SFS[1]
    rows = sorted(
        ENTRIES["x193_vocab_growth"].spark(spark, sf).collect(),
        key=lambda r: r["decile"],
    )
    assert [r["decile"] for r in rows] == list(range(1, 11))
    n_vocab, n_tok = duckdb.sql(
        f"""
        SELECT count(DISTINCT w), count(*) FROM (
            SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
            FROM '{sf}/documents.parquet'
        ) WHERE w <> ''
        """
    ).fetchone()
    cums = [r["cum_vocab"] for r in rows]
    assert cums == sorted(cums)
    assert cums[-1] == n_vocab
    assert sum(r["new_tokens"] for r in rows) == n_vocab
    assert sum(r["n_tokens"] for r in rows) == n_tok
    # novelty must decay from the first to the last decile
    assert rows[0]["novelty_ppm"] > rows[-1]["novelty_ppm"]


def test_mann_whitney_counting_identity_property():
    """Pure-math property behind x168's plan: the value-level counting
    form of 2U equals the rank-sum definition for arbitrary small
    two-group multisets (hypothesis; no Spark)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(1, 8), st.booleans()),
            min_size=1,
            max_size=40,
        )
    )
    def check(vals):
        # counting form: 2U_A = sum_v a(v) * (2*cumB(<v) + b(v))
        from collections import Counter

        a_cnt = Counter(v for v, g in vals if g)
        b_cnt = Counter(v for v, g in vals if not g)
        u2_counting = 0
        for v, a in a_cnt.items():
            cumb_less = sum(b for w, b in b_cnt.items() if w < v)
            u2_counting += a * (2 * cumb_less + b_cnt.get(v, 0))
        # rank-sum form: 2U_A = 2R_A - n_a(n_a+1) with doubled avg ranks
        qs = sorted(v for v, _ in vals)
        first = {}
        for i, q in enumerate(qs, start=1):
            first.setdefault(q, i)
        cnt = Counter(qs)
        d = {q: 2 * first[q] + cnt[q] - 1 for q in cnt}
        n_a = sum(1 for _, g in vals if g)
        r2_a = sum(d[v] for v, g in vals if g)
        u2_rank = r2_a - n_a * (n_a + 1)
        assert u2_counting == u2_rank
        # and the complement identity
        n_b = len(vals) - n_a
        u2_b = 2 * n_a * n_b - u2_counting
        assert 0 <= u2_counting <= 2 * n_a * n_b or n_b == 0
        assert u2_b >= 0 or n_b == 0

    check()


def test_compression_quality_exact_on_real_corpus(spark):
    """Oracle-strength golden on REAL data: recompute every per-source
    column with Python zlib over the actual sf0.001 documents and
    assert exact equality — the harness entry's equivalent of a DuckDB
    hash row (DuckDB just can't run DEFLATE)."""
    import zlib

    sf = SFS[0]
    want: dict[str, list[int]] = {}
    for text, source in duckdb.sql(
        f"SELECT text, source FROM '{sf}/documents.parquet'"
    ).fetchall():
        raw = (text if isinstance(text, str) else "").encode("utf-8")
        comp = zlib.compress(raw, 6)
        acc = want.setdefault(source, [0, 0, 0, 0])  # docs raw comp rep
        acc[0] += 1
        acc[1] += len(raw)
        acc[2] += len(comp)
        acc[3] += 1 if 1000 * len(comp) < 300 * len(raw) else 0
    got = {
        r["source"]: r
        for r in ENTRIES["x192_compression_quality"].spark(spark, sf).collect()
    }
    assert set(got) == set(want)
    for src, (n, raw, comp, rep) in want.items():
        r = got[src]
        assert r["n_docs"] == n, src
        assert r["raw_bytes"] == raw, src
        assert r["comp_bytes"] == comp, src
        assert r["n_repetitive"] == rep, src
        assert r["ratio_ppm"] == (0 if raw == 0 else comp * 10**6 // raw), src
