"""Oracle-comparison and property tests for the catalog entries in
plans/round24_staged.py (x144-x167): DuckDB compare
at two SFs with strict row order, plus the semantics an oracle twin
cannot express."""

from __future__ import annotations

import pytest
from conftest import entries_of

from ravelytics_spark.testing import compare, duckdb_connection

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
ENTRIES = entries_of("round24_staged")


@pytest.mark.parametrize("name", sorted(ENTRIES))
@pytest.mark.parametrize("sf_dir", SFS)
def test_round24_staged_matches_oracle(spark, name, sf_dir):
    entry = ENTRIES[name]
    if entry.oracle is None:
        assert entry.spark(spark, sf_dir).count() >= 0
        return
    con = duckdb_connection(sf_dir)
    problems = compare(
        entry.spark(spark, sf_dir), con, entry.oracle, name, strict_row_order=True
    )
    assert not problems, problems


def test_clamped_balance_matches_sequential_simulation(spark):
    """The prefix-scan closed form B_t = S_t - min(0, runmin(S))
    equals the literal Lindley recursion B_t = max(0, B_{t-1} + x_t)
    replayed sequentially in Python per customer."""
    import duckdb

    sf = SFS[1]
    rows = duckdb.sql(
        f"""
        SELECT o_custkey,
               CASE WHEN o_orderstatus = 'F'
                    THEN CAST(round(o_totalprice * 100) AS BIGINT)
                    ELSE -CAST(round(o_totalprice * 100) AS BIGINT) END AS x
        FROM '{sf}/orders.parquet'
        ORDER BY o_custkey, o_orderdate, o_orderkey
        """
    ).fetchall()
    sim: dict[int, dict[str, int]] = {}
    for cust, x in rows:
        st = sim.setdefault(
            cust, {"b": 0, "mx": 0, "zero": 0, "n": 0}
        )
        st["b"] = max(0, st["b"] + x)
        st["mx"] = max(st["mx"], st["b"])
        st["zero"] += 1 if st["b"] == 0 else 0
        st["n"] += 1
    got = {
        r["o_custkey"]: r
        for r in ENTRIES["x144_clamped_balance"]
        .spark(spark, sf)
        .collect()
    }
    assert set(got) == set(sim)
    for cust, st in sim.items():
        r = got[cust]
        assert r["n_orders"] == st["n"], cust
        assert r["final_balance_cents"] == st["b"], cust
        assert r["max_balance_cents"] == st["mx"], cust
        assert r["n_at_zero"] == st["zero"], cust


def test_f2_estimate_within_sane_band(spark):
    """The 4-register AMS mean is an unbiased F2 estimator; on this
    deterministic corpus the realized estimate must land within a
    loose multiplicative band of the exact value (catches sign-hash
    or register-merge regressions without pinning the sketch value)."""
    row = ENTRIES["x145_f2_moment"].spark(spark, SFS[1]).collect()[0]
    assert row["exact_f2"] > 0
    assert 0.2 * row["exact_f2"] <= row["est_f2"] <= 5.0 * row["exact_f2"]
    assert row["ratio_millionths"] == row["est_f2"] * 1_000_000 // row["exact_f2"]


def test_rbo_bounds_and_monotone(spark):
    """RBO prefix sums are nondecreasing in depth and bounded by the
    total available weight (sum of the literal nano weights)."""
    from ravelytics_spark.plans.round24_staged import _RBO_WEIGHTS

    rows = ENTRIES["x147_rbo_drift"].spark(spark, SFS[1]).collect()
    assert [r["depth"] for r in rows] == list(range(1, 21))
    cum = [r["rbo_nanos"] for r in rows]
    assert cum == sorted(cum)
    assert 0 <= cum[-1] <= sum(_RBO_WEIGHTS)
    for r in rows:
        assert 0 <= r["overlap"] <= r["depth"]


def test_holt_identities(spark):
    """level/trend/forecast are exact linear combinations of the two
    smoothings, and a flat series yields zero trend."""
    rows = ENTRIES["x148_holt_forecast"].spark(spark, SFS[1]).collect()
    assert rows
    for r in rows:
        assert r["level_millis"] == 2 * r["s1_millis"] - r["s2_millis"]
        assert r["trend_millis"] == r["s1_millis"] - r["s2_millis"]
        assert r["forecast_millis"] == r["level_millis"] + r["trend_millis"]


def test_eb_smoothing_shrinks_toward_global(spark):
    """Each brand's smoothed rate must lie between its raw rate and
    the global rate (the defining property of linear shrinkage),
    up to 1 millionth of floor-division slack."""
    import duckdb

    sf = SFS[1]
    big = duckdb.sql(
        f"""
        SELECT SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS x,
               count(*) AS n
        FROM '{sf}/lineitem.parquet' l
        JOIN '{sf}/part.parquet' p ON l_partkey = p_partkey
        """
    ).fetchone()
    global_millionths = big[0] * 1_000_000 // big[1]
    for r in ENTRIES["x152_eb_smoothed_rate"].spark(spark, sf).collect():
        lo = min(r["raw_millionths"], global_millionths) - 1
        hi = max(r["raw_millionths"], global_millionths) + 1
        assert lo <= r["smoothed_millionths"] <= hi, r


def test_mmr_greedy_trajectory_properties(spark):
    """Picks are distinct pool members; the seed has the maximum
    relevance; marginal scores are nonincreasing by round (selected
    sets only grow, candidate sets only shrink)."""
    rows = (
        ENTRIES["x146_mmr_select"].spark(spark, SFS[1]).orderBy("pick_round").collect()
    )
    assert [r["pick_round"] for r in rows] == [1, 2, 3, 4, 5]
    ids = [r["vec_id"] for r in rows]
    assert len(set(ids)) == 5
    assert rows[0]["maxsim_e12"] == 0
    assert rows[0]["rel_e12"] == max(r["rel_e12"] for r in rows)
    scores = [r["score_e12"] for r in rows]
    assert all(a >= b for a, b in zip(scores, scores[1:]))
    for r in rows:
        assert r["score_e12"] == 2 * r["rel_e12"] - r["maxsim_e12"]


def test_rake_phrases_are_stopword_free_runs(spark):
    """No emitted phrase contains a stopword or empty token; lengths
    respect the cap; the degree score is at least the phrase length
    (each word's degree includes this occurrence's phrase length)."""
    from ravelytics_spark.plans.round24_staged import _RAKE_MAX_WORDS, _RAKE_STOP

    rows = ENTRIES["x149_rake_keywords"].spark(spark, SFS[1]).collect()
    assert rows
    stop = set(_RAKE_STOP)
    for r in rows:
        words = r["phrase"].split(" ")
        assert 1 <= len(words) <= _RAKE_MAX_WORDS
        assert len(words) == r["n_words"]
        assert all(w and w not in stop for w in words)
        assert r["deg_score"] >= r["n_words"]
        assert r["n_occurrences"] >= 1


def test_winnow_pairs_share_verbatim_kgram(spark):
    """Soundness: every emitted candidate pair really shares at least
    one verbatim 24-char substring (fingerprints are window-min
    k-gram hashes, so a shared fingerprint implies a shared k-gram
    modulo 48-bit collisions — none on this corpus)."""
    import duckdb

    from ravelytics_spark.plans.round24_staged import _WIN_K

    sf = SFS[1]
    pairs = ENTRIES["x150_winnow_dup_spans"].spark(spark, sf).collect()
    assert pairs, "corpus is known to contain cross-doc duplicate spans"
    texts = dict(
        duckdb.sql(
            f"SELECT doc_id, text FROM '{sf}/documents.parquet'"
        ).fetchall()
    )
    for p in pairs:
        a, b = texts[p["doc_a"]], texts[p["doc_b"]]
        grams_a = {a[i : i + _WIN_K] for i in range(len(a) - _WIN_K + 1)}
        assert any(
            b[i : i + _WIN_K] in grams_a for i in range(len(b) - _WIN_K + 1)
        ), (p["doc_a"], p["doc_b"])


def test_stream_interval_join_attributes_exact_pairs(spark):
    """The watermarked stream-stream interval join emits exactly the
    3 in-window (view, click) pairs of the deterministic fixture:
    pre-view clicks are dropped by the lower bound, stale clicks by
    the upper bound, and one click fans out to two in-window views."""
    rows = [
        (r["user_id"], r["view_id"], r["click_id"], r["lag_s"])
        for r in ENTRIES["x151_stream_interval_join"].spark(spark, SFS[0]).collect()
    ]
    assert rows == [
        (7, 1, 101, 540),
        (7, 2, 101, 60),
        (9, 3, 103, 540),
    ]


def test_bootstrap_band_brackets_point_mean(spark):
    """Band ordering holds (min <= lo <= hi <= max) and the point mean
    falls inside the resample envelope on this deterministic corpus —
    the Binomial(2,1/2) weights are mean-1, so 16 resample means
    bracket the sample mean."""
    rows = ENTRIES["x153_hash_bootstrap_ci"].spark(spark, SFS[1]).collect()
    assert rows
    for r in rows:
        assert r["n_orders"] > 0
        assert (
            r["min_millicents"]
            <= r["lo_millicents"]
            <= r["hi_millicents"]
            <= r["max_millicents"]
        )
        assert (
            r["min_millicents"]
            <= r["point_mean_millicents"]
            <= r["max_millicents"]
        )


def test_item_cf_recs_are_valid_cosines(spark):
    """Squared cosine is bounded by 1 (c_ij <= min(c_i, c_j)), ranks
    are contiguous from 1, recs are distinct per seed, and the seeds
    are exactly the top-10 parts by distinct-order degree."""
    import duckdb

    sf = SFS[1]
    rows = ENTRIES["x154_item_cf_topk"].spark(spark, sf).collect()
    assert rows
    by_seed: dict[int, list] = {}
    for r in rows:
        assert 0 <= r["cos2_millionths"] <= 1_000_000
        assert r["n_co_orders"] >= 1
        by_seed.setdefault(r["seed_part"], []).append(r)
    expected_seeds = {
        p
        for (p,) in duckdb.sql(
            f"""
            SELECT p FROM (
                SELECT l_partkey AS p, count(DISTINCT l_orderkey) AS c
                FROM '{sf}/lineitem.parquet' GROUP BY 1
            ) ORDER BY c DESC, p LIMIT 10
            """
        ).fetchall()
    }
    assert set(by_seed) <= expected_seeds
    for seed, recs in by_seed.items():
        rks = sorted(r["rk"] for r in recs)
        assert rks == list(range(1, len(recs) + 1))
        assert len({r["rec_part"] for r in recs}) == len(recs)


def test_theil_sen_within_slope_envelope(spark):
    """The median slope lies between the extreme pairwise slopes, and
    the pair count matches m*(m-1)/2 for each nation's month count."""
    import duckdb

    sf = SFS[1]
    months = dict(
        duckdb.sql(
            f"""
            SELECT c_nationkey, count(DISTINCT date_trunc('month', o_orderdate))
            FROM '{sf}/orders.parquet' o
            JOIN '{sf}/customer.parquet' c ON o_custkey = c_custkey
            GROUP BY 1
            """
        ).fetchall()
    )
    names = dict(
        duckdb.sql(
            f"SELECT n_name, n_nationkey FROM '{sf}/nation.parquet'"
        ).fetchall()
    )
    rows = ENTRIES["x155_theil_sen"].spark(spark, sf).collect()
    assert rows
    for r in rows:
        m = months[names[r["n_name"]]]
        assert r["n_pairs"] == m * (m - 1) // 2
        assert (
            r["min_slope_micros"]
            <= r["theil_sen_micros"]
            <= r["max_slope_micros"]
        )


def test_knee_point_flags_exact_argmax(spark):
    """Exactly the months attaining the max |cross product| are
    flagged, the cumulative curve is nondecreasing, and the endpoints
    are never knees (their cross product is zero by construction)."""
    rows = ENTRIES["x156_knee_point"].spark(spark, SFS[1]).orderBy("mon").collect()
    assert rows
    cums = [r["cum_cents"] for r in rows]
    assert cums == sorted(cums)
    assert rows[0]["cross_2a"] == 0 and rows[-1]["cross_2a"] == 0
    mx = max(abs(r["cross_2a"]) for r in rows)
    assert mx > 0
    for r in rows:
        assert r["is_knee"] == (1 if abs(r["cross_2a"]) == mx else 0)
    assert rows[0]["is_knee"] == 0 and rows[-1]["is_knee"] == 0


def test_conformal_coverage_math(spark):
    """Replay the conformal split in Python: band = exact ceil-rank
    9/10 order statistic of calibration residuals, coverage counted
    on the held-out months."""
    import duckdb

    sf = SFS[1]
    rows = duckdb.sql(
        f"""
        SELECT c_nationkey, date_trunc('month', o_orderdate) AS mon,
               SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS y
        FROM '{sf}/orders.parquet' o
        JOIN '{sf}/customer.parquet' c ON o_custkey = c_custkey
        GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).fetchall()
    names = dict(
        duckdb.sql(
            f"SELECT n_nationkey, n_name FROM '{sf}/nation.parquet'"
        ).fetchall()
    )
    series: dict[int, list[int]] = {}
    for nk, _, y in rows:
        series.setdefault(nk, []).append(y)
    got = {
        r["n_name"]: r
        for r in ENTRIES["x157_conformal_band"].spark(spark, sf).collect()
    }
    for nk, ys in series.items():
        res = [abs(b - a) for a, b in zip(ys, ys[1:])]
        cal, ev = res[:23], res[23:]
        if not cal or not ev:
            assert names[nk] not in got or got[names[nk]]["n_eval"] == 0
            continue
        q90 = sorted(cal)[(9 * len(cal) + 9) // 10 - 1]
        r = got[names[nk]]
        assert r["n_cal"] == len(cal)
        assert r["q90_cents"] == q90
        assert r["n_covered"] == sum(1 for e in ev if e <= q90)
        assert r["n_eval"] == len(ev)
        assert 0 <= r["coverage_millionths"] <= 1_000_000


def test_ks_drift_attains_reported_max(spark):
    """Recompute one source's exact KS numerator in Python and match
    the reported (d_num, at_chars, millionths)."""
    import duckdb

    sf = SFS[1]
    rows = duckdb.sql(
        f"SELECT source, n_chars FROM '{sf}/documents.parquet'"
    ).fetchall()
    got = {r["source"]: r for r in ENTRIES["x159_ks_drift"].spark(spark, sf).collect()}
    sources = {s for s, _ in rows}
    n = len(rows)
    for src in sources:
        mine = sorted(v for s, v in rows if s == src)
        rest = sorted(v for s, v in rows if s != src)
        ns_, nr = len(mine), len(rest)
        values = sorted({v for _, v in rows})
        best, at = -1, None
        ci = cj = 0
        for v in values:
            while ci < ns_ and mine[ci] <= v:
                ci += 1
            while cj < nr and rest[cj] <= v:
                cj += 1
            d = abs(ci * nr - cj * ns_)
            if d > best:
                best, at = d, v
        r = got[src]
        assert r["d_num"] == best
        assert r["at_chars"] == at
        assert r["ks_millionths"] == best * 1_000_000 // (ns_ * nr)


def test_ab_significance_matches_float_ztest_on_clear_cases(spark):
    """The exact-integer decision equals the float z^2 >= 3.8416
    decision whenever the float statistic is not razor-edge
    (|z^2 - crit| > 1e-6)."""
    rows = ENTRIES["x160_ab_significance"].spark(spark, SFS[1]).collect()
    assert rows
    saw_sig = saw_insig = False
    for r in rows:
        n1, x1, n2, x2 = r["n1"], r["x1"], r["n2"], r["x2"]
        n = n1 + n2
        x = x1 + x2
        z2 = ((x1 / n1 - x2 / n2) ** 2) / (
            (x / n) * (1 - x / n) * (1 / n1 + 1 / n2)
        )
        if abs(z2 - 3.8416) > 1e-6:
            assert r["significant"] == (1 if z2 >= 3.8416 else 0), r
        saw_sig |= r["significant"] == 1
        saw_insig |= r["significant"] == 0
    assert saw_sig or saw_insig


def test_mase_matches_python_replay(spark):
    """Replay one nation's naive vs seasonal-naive absolute errors."""
    import duckdb

    sf = SFS[1]
    rows = duckdb.sql(
        f"""
        SELECT c_nationkey, date_trunc('month', o_orderdate) AS mon,
               SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS y
        FROM '{sf}/orders.parquet' o
        JOIN '{sf}/customer.parquet' c ON o_custkey = c_custkey
        GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).fetchall()
    names = dict(
        duckdb.sql(
            f"SELECT n_nationkey, n_name FROM '{sf}/nation.parquet'"
        ).fetchall()
    )
    series: dict[int, list[int]] = {}
    for nk, _, y in rows:
        series.setdefault(nk, []).append(y)
    got = {
        r["n_name"]: r for r in ENTRIES["x158_mase_eval"].spark(spark, sf).collect()
    }
    for nk, ys in series.items():
        sae1 = sae12 = ncom = 0
        for t in range(12, len(ys)):
            sae1 += abs(ys[t] - ys[t - 1])
            sae12 += abs(ys[t] - ys[t - 12])
            ncom += 1
        name = names[nk]
        if sae12 > 0 and ncom > 0:
            r = got[name]
            assert r["n_common"] == ncom
            assert r["sae_naive"] == sae1
            assert r["sae_seasonal"] == sae12
            assert r["mase_millionths"] == sae1 * 1_000_000 // sae12


def test_watermark_finalizes_exactly_the_passed_windows(spark):
    """Append-mode watermark semantics, pinned: W1 and W2 are emitted
    once the watermark (12:21) passes them; the batch-3 late event
    for W1 is dropped (not re-emitted, count stays 2); W3 stays open
    and is never emitted."""
    rows = [
        (str(r["w_start"]), r["n"])
        for r in ENTRIES["x161_late_data_watermark"].spark(spark, SFS[0]).collect()
    ]
    assert rows == [
        ("2024-03-01 12:00:00", 2),
        ("2024-03-01 12:10:00", 2),
    ]


def test_capped_sessions_cap_is_binding_and_consistent(spark):
    """The span cap must actually bind on this corpus (more sessions
    than the gap-only rule yields for at least one customer), and
    per-customer session counts are never below the gap-only count."""
    import duckdb

    sf = SFS[1]
    gap_only = dict(
        duckdb.sql(
            f"""
            WITH o AS (
                SELECT o_custkey AS ck, CAST(o_orderdate AS DATE) AS d,
                       lag(CAST(o_orderdate AS DATE)) OVER (
                           PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey) AS pd
                FROM '{sf}/orders.parquet'
            )
            SELECT ck, 1 + SUM(CASE WHEN pd IS NOT NULL
                                         AND date_diff('day', pd, d) > 30
                                    THEN 1 ELSE 0 END)
            FROM o GROUP BY ck
            """
        ).fetchall()
    )
    rows = ENTRIES["x164_capped_sessions"].spark(spark, sf).collect()
    assert rows
    binding = 0
    for r in rows:
        assert r["n_sessions"] >= gap_only[r["o_custkey"]]
        # a split fires BEFORE an order joins the session, so every
        # closed session's span stays within the cap
        assert r["max_span_days"] <= 60
        binding += 1 if r["n_sessions"] > gap_only[r["o_custkey"]] else 0
    assert binding > 0, "span cap never binds — fixture too easy"


def test_grid_neighbor_join_matches_bruteforce(spark):
    """O(n^2) Python replay at the smallest SF: per-cell pair counts
    and distance sums must match exactly (proves the 3x3 cell
    expansion loses nothing for r < cell size)."""
    import duckdb
    import hashlib

    from ravelytics_spark.plans.round24_staged import (
        _GEO_CELL,
        _GEO_R,
        _GEO_SPACE,
    )

    sf = SFS[0]
    keys = [
        k
        for (k,) in duckdb.sql(
            f"SELECT c_custkey FROM '{sf}/customer.parquet'"
        ).fetchall()
    ]

    def coord(prefix, k):
        return int(hashlib.md5(f"{prefix}{k}".encode()).hexdigest()[:8], 16) % _GEO_SPACE

    pts = [(k, coord("gx:", k), coord("gy:", k)) for k in keys]
    cells: dict[tuple, list] = {}
    for i, (ka, xa, ya) in enumerate(pts):
        for kb, xb, yb in pts[i + 1 :]:
            if ka >= kb:
                ka2, xa2, ya2, kb2, xb2, yb2 = kb, xb, yb, ka, xa, ya
            else:
                ka2, xa2, ya2, kb2, xb2, yb2 = ka, xa, ya, kb, xb, yb
            d2 = (xa2 - xb2) ** 2 + (ya2 - yb2) ** 2
            if d2 <= _GEO_R * _GEO_R:
                cell = (xa2 // _GEO_CELL, ya2 // _GEO_CELL)
                cells.setdefault(cell, []).append(d2)
    got = {
        (r["cell_x"], r["cell_y"]): r
        for r in ENTRIES["x165_grid_neighbor_join"].spark(spark, sf).collect()
    }
    assert set(got) == set(cells)
    for cell, d2s in cells.items():
        r = got[cell]
        assert r["n_pairs"] == len(d2s)
        assert r["min_d2"] == min(d2s)
        assert r["sum_d2"] == sum(d2s)


def test_bitmap_retention_matches_exact_bucket_sets(spark):
    """Replay the bucket sets in Python: popcount(AND)/popcount must
    equal exact bucket-set intersection over union-free monthly
    activity."""
    import duckdb
    import hashlib

    from ravelytics_spark.plans.round24_staged import _BM_BUCKETS

    sf = SFS[1]
    rows = duckdb.sql(
        f"""
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE), o_custkey
        FROM '{sf}/orders.parquet'
        """
    ).fetchall()
    months: dict = {}
    for mon, ck in rows:
        b = int(hashlib.md5(f"bm:{ck}".encode()).hexdigest()[:8], 16) % _BM_BUCKETS
        months.setdefault(mon, set()).add(b)
    seq = sorted(months)
    got = {
        str(r["mon"]): r
        for r in ENTRIES["x166_bitmap_retention"].spark(spark, sf).collect()
    }
    for a, b in zip(seq, seq[1:]):
        r = got[str(a)]
        assert r["active_buckets"] == len(months[a])
        assert r["retained_buckets"] == len(months[a] & months[b])


def test_cdc_apply_invariants(spark):
    """Deleted keys are gone, updated keys carry version 2 and the
    rewritten name, untouched keys keep version 1, inserts exist."""
    import duckdb
    import hashlib

    sf = SFS[1]
    base = dict(
        duckdb.sql(
            f"SELECT c_custkey, c_name FROM '{sf}/customer.parquet'"
        ).fetchall()
    )
    got = {
        r["c_custkey"]: r
        for r in ENTRIES["x167_cdc_apply"].spark(spark, sf).collect()
    }
    n_ins = 0
    for k, name in base.items():
        r10 = int(hashlib.md5(f"cdc:{k}".encode()).hexdigest()[:4], 16) % 10
        if r10 == 3:
            assert k not in got
        elif r10 in (0, 1, 2):
            assert got[k]["version"] == 2
            assert got[k]["name"] == name.upper() + "-V2"
        else:
            assert got[k]["version"] == 1
            assert got[k]["name"] == name
        if r10 == 4:
            ins = got[k + 10000000]
            assert ins["version"] == 2 and ins["name"] == f"NEW-{k}"
            n_ins += 1
    assert n_ins > 0
