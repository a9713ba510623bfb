"""Oracle-comparison and property tests for the catalog entries in
plans/round26_staged.py (x194-x226): DuckDB compare
at two SFs with strict row order, plus the semantics an oracle twin
cannot express."""

from __future__ import annotations

import duckdb
import pytest
from conftest import entries_of

from ravelytics_spark.testing import compare, duckdb_connection

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
ENTRIES = entries_of("round26_staged")


@pytest.mark.parametrize("name", sorted(ENTRIES))
@pytest.mark.parametrize("sf_dir", SFS)
def test_round26_staged_matches_oracle(spark, name, sf_dir):
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


def test_k_anonymity_partitions_customers(spark):
    """Every customer is in exactly one QI class: n_rows equals the
    table count, and risky rows never exceed k * small classes."""
    sf = SFS[1]
    r = ENTRIES["x194_k_anonymity"].spark(spark, sf).collect()[0]
    n_cust = duckdb.sql(
        f"SELECT count(*) FROM '{sf}/customer.parquet'"
    ).fetchone()[0]
    assert r["n_rows"] == n_cust
    assert r["n_risky_rows"] <= (r["k"] - 1) * r["n_small_classes"]
    assert r["n_small_classes"] <= r["n_classes"]


def test_winsorized_mean_bounded_by_thresholds(spark):
    """Each brand's winsorized mean lies inside [lo, hi] in
    milli-cents, and one brand brute-forced in Python matches."""
    sf = SFS[0]
    rows = ENTRIES["x195_winsorized_stats"].spark(spark, sf).collect()
    assert rows
    for r in rows:
        assert r["lo_cents"] * 1000 <= r["wins_mean_millicents"]
        assert r["wins_mean_millicents"] <= r["hi_cents"] * 1000
    brand = rows[0]["brand"]
    cents = [
        v[0]
        for v in duckdb.sql(
            f"""
            SELECT CAST(round(l.l_extendedprice * 100) AS BIGINT)
            FROM '{sf}/lineitem.parquet' l
            JOIN '{sf}/part.parquet' p ON l.l_partkey = p.p_partkey
            WHERE p.p_brand = '{brand}'
            ORDER BY 1
            """
        ).fetchall()
    ]
    n = len(cents)
    lo = cents[n * 5 // 100]  # rank L = n*5//100 + 1, 0-indexed
    hi = cents[max(n * 95 // 100, n * 5 // 100 + 1) - 1]
    wins = sum(min(max(c, lo), hi) for c in cents) * 1000 // n
    r = rows[0]
    assert (r["lo_cents"], r["hi_cents"]) == (lo, hi)
    assert r["wins_mean_millicents"] == wins
    assert r["raw_mean_millicents"] == sum(cents) * 1000 // n


def test_feature_hashing_conserves_rows_and_features(spark):
    """Bucket loads sum to the customer count, and distinct features
    across buckets sum to the distinct (segment, nation) pairs —
    md5 bucketing is a partition, nothing lost or double-counted."""
    sf = SFS[1]
    rows = ENTRIES["x196_feature_hashing"].spark(spark, sf).collect()
    n_cust, n_feat = duckdb.sql(
        f"""
        SELECT count(*),
               count(DISTINCT c_mktsegment || ':' || c_nationkey)
        FROM '{sf}/customer.parquet'
        """
    ).fetchone()
    assert sum(r["n_rows"] for r in rows) == n_cust
    assert sum(r["n_features"] for r in rows) == n_feat
    assert all(0 <= r["bucket"] < 64 for r in rows)


def test_negative_sampling_draw_accounting(spark):
    """Every customer gets exactly 3 draws, kept + dropped = draws
    per index, and re-deriving the kept pairs in DuckDB reproduces
    the checksum — i.e. no kept pair is an observed positive."""
    sf = SFS[0]
    rows = ENTRIES["x197_negative_sampling"].spark(spark, sf).collect()
    n_cust = duckdb.sql(
        f"SELECT count(*) FROM '{sf}/customer.parquet'"
    ).fetchone()[0]
    assert [r["draw_idx"] for r in rows] == [0, 1, 2]
    for r in rows:
        assert r["n_draws"] == n_cust
        assert r["n_kept"] + r["n_dropped_positive"] == r["n_draws"]
        assert r["n_kept"] > 0


def test_entity_holdout_no_entity_straddle(spark):
    """The entity split is a function of custkey, so its straddle
    count is zero; the row split must straddle at least one
    multi-order customer at sf0.01."""
    sf = SFS[1]
    r = ENTRIES["x199_entity_holdout"].spark(spark, sf).collect()[0]
    assert r["ent_straddle_customers"] == 0
    assert r["row_straddle_customers"] > 0
    assert 0 < r["ent_test_customers"] < r["n_customers"]
    assert 0 < r["row_test_orders"] < r["n_orders"]


def test_discrete_hazard_suffix_sum_identity(spark):
    """at_risk at the smallest bucket equals total events, at_risk is
    strictly the suffix sum, and every hazard is a valid ppm."""
    sf = SFS[1]
    rows = ENTRIES["x200_discrete_hazard"].spark(spark, sf).collect()
    assert rows == sorted(rows, key=lambda r: r["bucket"])
    total = sum(r["n_events"] for r in rows)
    assert rows[0]["at_risk"] <= total  # equality iff bucket 0 is min
    suffix = 0
    for r in reversed(rows):
        suffix += r["n_events"]
        assert r["at_risk"] == suffix
        assert 0 <= r["hazard_ppm"] <= 1_000_000
        assert r["hazard_ppm"] == r["n_events"] * 1_000_000 // r["at_risk"]
    assert rows[-1]["hazard_ppm"] == 1_000_000  # last bucket exhausts risk


def test_curation_matrix_conserves_corpus(spark):
    """Cell doc counts and char volumes sum to the whole corpus —
    the cross-tab is a partition of documents."""
    sf = SFS[1]
    rows = ENTRIES["x201_curation_matrix"].spark(spark, sf).collect()
    n_docs, n_chars = duckdb.sql(
        f"SELECT count(*), SUM(n_chars) FROM '{sf}/documents.parquet'"
    ).fetchone()
    assert sum(r["n_docs"] for r in rows) == n_docs
    assert sum(r["total_chars"] for r in rows) == n_chars
    assert all(1 <= r["dup_band"] <= 3 for r in rows)
    assert all(0 <= r["len_band"] <= 7 for r in rows)


def test_winsorized_bucketed_rank_method_matches_window(spark):
    """The selectable scale path (operators/ranks.py grouped bucketed
    row_number) must be bit-equal to the certified window form."""
    sf = SFS[1]
    fn = ENTRIES["x195_winsorized_stats"].spark
    a = sorted(map(tuple, fn(spark, sf).collect()))
    b = sorted(map(tuple, fn(spark, sf, rank_method="bucketed").collect()))
    assert a == b


def test_contribution_capping_bias_identity(spark):
    """capped <= true, bias_ppm reproduces from the emitted sums, and
    with zero clipped customers the bias is zero."""
    sf = SFS[1]
    rows = ENTRIES["x202_contribution_capping"].spark(spark, sf).collect()
    assert rows
    for r in rows:
        assert r["capped_cents"] <= r["true_cents"]
        assert (
            r["bias_ppm"]
            == (r["true_cents"] - r["capped_cents"])
            * 1_000_000
            // r["true_cents"]
        )
        if r["n_clipped"] == 0:
            assert r["bias_ppm"] == 0 and r["capped_cents"] == r["true_cents"]


def test_l_diversity_bounded_by_class_size_and_domain(spark):
    """1 <= l <= min(n, |segments|) per class."""
    sf = SFS[1]
    n_seg = duckdb.sql(
        f"SELECT count(DISTINCT c_mktsegment) FROM '{sf}/customer.parquet'"
    ).fetchone()[0]
    for r in ENTRIES["x203_l_diversity"].spark(spark, sf).collect():
        assert 1 <= r["l_distinct"] <= min(r["n_rows"], n_seg)
        assert r["below_l"] == (1 if r["l_distinct"] < 3 else 0)


def test_class_reweighting_ess_bounds(spark):
    """1 <= ESS <= N (Cauchy-Schwarz), and uncapped cells satisfy the
    exact inverse-frequency formula."""
    sf = SFS[1]
    rows = ENTRIES["x204_class_reweighting"].spark(spark, sf).collect()
    n_total = rows[0]["n_total"]
    k = rows[0]["n_cells"]
    assert len(rows) == k
    assert sum(r["n"] for r in rows) == n_total
    assert 1 <= rows[0]["ess_rows"] <= n_total
    for r in rows:
        expect = min(n_total * 1000 // (k * r["n"]), 100_000)
        assert r["w_milli"] == expect


def test_judge_agreement_kappa_identity(spark):
    """kappa_ppm reproduces from the emitted marginals via exact
    integer arithmetic (including the signed-division convention)."""
    sf = SFS[1]
    r = ENTRIES["x205_judge_agreement"].spark(spark, sf).collect()[0]
    n, n11, n00, a1, b1 = r["n"], r["n11"], r["n00"], r["a1"], r["b1"]
    pe_num = a1 * b1 + (n - a1) * (n - b1)
    num = n * (n11 + n00) - pe_num
    den = n * n - pe_num
    expect = num * 1_000_000 // den if num >= 0 else -((-num) * 1_000_000 // den)
    assert r["kappa_ppm"] == expect
    assert r["po_ppm"] == (n11 + n00) * 1_000_000 // n


def test_gdpr_cascade_is_consistent(spark):
    """Orders delete iff their customer deletes; lineitems delete iff
    their order deletes — cross-checked against DuckDB directly."""
    sf = SFS[0]
    rows = {
        r["tbl"]: r
        for r in ENTRIES["x206_gdpr_erasure"].spark(spark, sf).collect()
    }
    want = duckdb.sql(
        f"""
        WITH dc AS (
            SELECT c_custkey FROM '{sf}/customer.parquet'
            WHERE CAST('0x' || substr(md5('gdpr:' || c_custkey), 1, 8)
                       AS BIGINT) % 1000 < 5
        ),
        do_ AS (
            SELECT o_orderkey FROM '{sf}/orders.parquet'
            WHERE o_custkey IN (SELECT c_custkey FROM dc)
        )
        SELECT (SELECT count(*) FROM dc),
               (SELECT count(*) FROM do_),
               (SELECT count(*) FROM '{sf}/lineitem.parquet'
                WHERE l_orderkey IN (SELECT o_orderkey FROM do_))
        """
    ).fetchone()
    assert rows["customer"]["n_deleted"] == want[0]
    assert rows["orders"]["n_deleted"] == want[1]
    assert rows["lineitem"]["n_deleted"] == want[2]


def test_loo_encoding_leak_gap_identity(spark):
    """enc0 - enc1 == leak_gap for every nation, and the gap is
    strictly positive — the own-label leak the entry demonstrates."""
    sf = SFS[1]
    for r in ENTRIES["x208_loo_target_encoding"].spark(spark, sf).collect():
        n1 = max(r["n"] - 1, 1)
        assert r["enc0_ppm"] == r["pos"] * 1_000_000 // n1
        assert r["enc1_ppm"] == (r["pos"] - 1) * 1_000_000 // n1
        assert r["leak_gap_ppm"] == 1_000_000 // n1 > 0


def test_temporal_split_contamination_bounds(spark):
    """Cold-start <= eval customers; contaminated train rows <= train
    rows; both ppm fields reproduce from the counts."""
    sf = SFS[1]
    r = ENTRIES["x209_temporal_split_audit"].spark(spark, sf).collect()[0]
    assert r["cold_start_customers"] <= r["eval_customers"]
    assert r["contaminated_train_rows"] <= r["n_train_rows"]
    assert (
        r["cold_start_ppm"]
        == r["cold_start_customers"] * 1_000_000 // r["eval_customers"]
    )
    assert (
        r["contaminated_ppm"]
        == r["contaminated_train_rows"] * 1_000_000 // r["n_train_rows"]
    )


def test_readability_brute_force_one_source(spark):
    """One source recomputed in Python (regex token counting) matches
    the emitted integer totals and the Flesch milli value."""
    import re

    sf = SFS[0]
    rows = ENTRIES["x210_readability"].spark(spark, sf).collect()
    src = rows[0]["source"]
    texts = [
        t[0]
        for t in duckdb.sql(
            f"SELECT text FROM '{sf}/documents.parquet' "
            f"WHERE source = '{src}'"
        ).fetchall()
    ]
    words = sum(len(re.findall(r"[a-z]+", t.lower())) for t in texts)
    sents = sum(max(len(re.findall(r"[.!?]+", t)), 1) for t in texts)
    syll = sum(len(re.findall(r"[aeiouy]+", t.lower())) for t in texts)
    r = rows[0]
    assert (r["words"], r["sentences"], r["syllables"]) == (
        words,
        sents,
        syll,
    )
    assert r["flesch_milli"] == (
        206835 - 1015 * words // sents - 84600 * syll // max(words, 1)
    )


def test_kfold_partitions_strata(spark):
    """Fold cells partition each stratum: per-segment cell sums equal
    the stratum totals, and shares sum to ~1e6 per stratum."""
    sf = SFS[1]
    rows = ENTRIES["x211_stratified_kfold"].spark(spark, sf).collect()
    by_seg = {}
    for r in rows:
        by_seg.setdefault(r["segment"], []).append(r)
    for seg, cells in by_seg.items():
        total = cells[0]["seg_total"]
        assert sum(c["n"] for c in cells) == total, seg
        assert all(c["seg_total"] == total for c in cells)
        # floor-ppm shares under-count by < k
        assert 1_000_000 - 5 < sum(c["share_ppm"] for c in cells) <= 1_000_000


def test_simpson_signs_consistent(spark):
    """group_sign in {-1,0,1}; reversed iff the product with the
    pooled sign is negative; pooled sign identical on every row."""
    sf = SFS[1]
    rows = ENTRIES["x212_simpson_reversal"].spark(spark, sf).collect()
    pooled = {r["pooled_sign"] for r in rows}
    assert len(pooled) == 1
    for r in rows:
        assert r["group_sign"] in (-1, 0, 1)
        assert r["reversed"] == (
            1 if r["group_sign"] * r["pooled_sign"] < 0 else 0
        )


def test_churn_flips_are_window_monotone(spark):
    """A 60d churner set contains the 90d churner set, so flips =
    churn_60d - churn_90d >= 0 and flip_ppm reproduces."""
    sf = SFS[1]
    for r in ENTRIES["x213_churn_label_sensitivity"].spark(spark, sf).collect():
        assert r["churn_60d"] >= r["churn_90d"]
        assert r["flips"] == r["churn_60d"] - r["churn_90d"]
        assert r["flip_ppm"] == r["flips"] * 1_000_000 // r["n_anchors"]


def test_mrr_brute_force(spark):
    """Recompute every query's first-relevant rank with plain Python
    over the raw corpus and match RR/MRR exactly."""
    sf = SFS[0]
    from ravelytics_spark.plans.round26_staged import _MRR_AT, _MRR_QUERIES

    docs = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf}/documents.parquet'"
    ).fetchall()
    got = {
        r["query"]: r
        for r in ENTRIES["x214_mrr_eval"].spark(spark, sf).collect()
    }
    rrs = []
    for q, intent in _MRR_QUERIES:
        scored = []
        for doc_id, text in docs:
            toks = [t for t in text.split(" ") if t]
            tf = sum(1 for t in toks if t == q)
            if tf > 0:
                scored.append((-tf, doc_id, intent in toks))
        scored.sort()
        first = next(
            (i + 1 for i, s in enumerate(scored[:_MRR_AT]) if s[2]), 0
        )
        rr = 1_000_000 // first if first else 0
        rrs.append(rr)
        assert got[q]["first_rel_rank"] == first, q
        assert got[q]["rr_ppm"] == rr, q
    assert got[_MRR_QUERIES[0][0]]["mrr_ppm"] == sum(rrs) // len(rrs)


def test_ece_is_weighted_mean_gap(spark):
    """ECE reproduces from the emitted bins; bins cover deciles; no
    label leakage: confidences are valid milli-probabilities."""
    sf = SFS[1]
    rows = ENTRIES["x215_calibration_ece"].spark(spark, sf).collect()
    n_tot = sum(r["n"] for r in rows)
    want = sum(r["n"] * abs(r["conf_milli"] - r["acc_milli"]) for r in rows)
    for r in rows:
        assert 0 <= r["bin"] <= 9
        assert 0 <= r["conf_milli"] <= 1000
        assert 0 <= r["acc_milli"] <= 1000
        assert r["gap_milli"] == abs(r["conf_milli"] - r["acc_milli"])
        assert r["ece_milli"] == want // n_tot


def test_boilerplate_share_bounds_and_totals(spark):
    """Common lines never exceed total lines; per-source doc counts
    sum to the nonempty-doc corpus count."""
    sf = SFS[1]
    rows = ENTRIES["x216_boilerplate_score"].spark(spark, sf).collect()
    n_docs = duckdb.sql(
        f"""SELECT count(*) FROM '{sf}/documents.parquet'
            WHERE length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) > 0"""
    ).fetchone()[0]
    assert sum(r["n_docs"] for r in rows) == n_docs
    for r in rows:
        assert 0 <= r["n_common_lines"] <= r["n_lines"]
        assert 0 <= r["mean_boiler_milli"] <= 1000
        assert r["heavy_ppm"] == r["heavy_docs"] * 1_000_000 // r["n_docs"]


def test_contamination_monotone_in_width(spark):
    """A shared n-gram contains shared (n-1)-grams, so contamination
    can only fall (or hold) as the width grows."""
    sf = SFS[1]
    rows = ENTRIES["x217_contamination_width_curve"].spark(spark, sf).collect()
    assert [r["width"] for r in rows] == [4, 6, 8]
    n_eval = {r["n_eval_docs"] for r in rows}
    assert len(n_eval) == 1
    for a, b in zip(rows, rows[1:]):
        assert a["n_contaminated"] >= b["n_contaminated"]
    for r in rows:
        assert (
            r["contam_ppm"]
            == r["n_contaminated"] * 1_000_000 // r["n_eval_docs"]
        )


def test_spillover_matrix_accounts_all_dropped_docs(spark):
    """Matrix cell counts sum to exactly (corpus docs - distinct
    fingerprints) — every dropped duplicate is attributed once."""
    sf = SFS[1]
    rows = ENTRIES["x218_dedup_spillover_matrix"].spark(spark, sf).collect()
    n_docs, n_fps = duckdb.sql(
        f"""
        SELECT count(*), count(DISTINCT md5(trim(regexp_replace(
            regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
            '\\s+', ' ', 'g'))))
        FROM '{sf}/documents.parquet'
        """
    ).fetchone()
    assert sum(r["n_dropped"] for r in rows) == n_docs - n_fps
    assert all(r["n_dropped"] > 0 for r in rows)


def test_quantile_normalization_preserves_counts_and_support(spark):
    """Per-brand counts survive the mapping; normalized values come
    from the pooled support (min/max inside the corpus range); the
    full mapping (window method) equals the bucketed scale path."""
    sf = SFS[0]
    fn = ENTRIES["x219_quantile_normalization"].spark
    rows = fn(spark, sf).collect()
    lo, hi, n_rows = duckdb.sql(
        f"""
        SELECT min(CAST(round(l.l_extendedprice * 100) AS BIGINT)),
               max(CAST(round(l.l_extendedprice * 100) AS BIGINT)),
               count(*)
        FROM '{sf}/lineitem.parquet' l
        JOIN '{sf}/part.parquet' p ON l.l_partkey = p.p_partkey
        """
    ).fetchone()
    assert sum(r["n"] for r in rows) == n_rows
    for r in rows:
        assert lo <= r["qn_min_cents"] <= r["qn_max_cents"] <= hi
    b = sorted(
        map(tuple, fn(spark, sf, rank_method="bucketed").collect())
    )
    assert sorted(map(tuple, rows)) == b


def test_srm_chi2_exact_and_unflagged_on_designed_split(spark):
    """chi2 reproduces from (n, n_test) with exact bigint arithmetic,
    and the md5 split at sf0.01 is NOT flagged (it is a fair split)."""
    sf = SFS[1]
    r = ENTRIES["x220_srm_check"].spark(spark, sf).collect()[0]
    dev2 = (100 * r["n_test"] - 10 * r["n"]) ** 2
    den = r["n"] * 10 * 90
    assert r["chi2_ppm"] == dev2 * 100 // den
    assert r["expected_test"] == r["n"] * 10 // 100
    assert r["srm_suspected"] == (1 if r["chi2_ppm"] > 3_841_459 else 0)
    assert r["srm_suspected"] == 0


def test_srm_flags_a_planted_broken_split():
    """The chi-square decomposition flags a maximally broken split
    without overflowing — pure-arithmetic worst-case pin."""
    n = 15_000_000  # 100x sf0.1 orders
    n_test = n  # everything landed in test: maximally broken
    dev2 = (100 * n_test - 10 * n) ** 2
    den = n * 10 * 90
    assert dev2 <= 2**63 - 1  # the square itself stays in BIGINT
    chi2 = (dev2 // den) * 100 + (dev2 % den) * 100 // den
    assert chi2 == dev2 * 100 // den  # decomposition is exact
    assert chi2 > 3_841_459


def test_pvm_identity_holds_row_by_row(spark):
    """q0*(r1-r0) == volume_term + price_term exactly, per brand."""
    sf = SFS[1]
    rows = ENTRIES["x221_pvm_bridge"].spark(spark, sf).collect()
    assert rows
    for r in rows:
        assert (
            r["q0"] * r["delta_rev"]
            == r["volume_term"] + r["price_term"]
        ), r["brand"]
        assert r["volume_term"] == (r["q1"] - r["q0"]) * r["r0"]


def test_mixture_rates_valid_and_feasibility_consistent(spark):
    """Rates are valid ppm; achieved <= min(n, target); a source is
    infeasible iff it is smaller than its target."""
    sf = SFS[1]
    rows = ENTRIES["x222_mixture_feasibility"].spark(spark, sf).collect()
    for r in rows:
        assert 0 < r["rate_ppm"] <= 1_000_000
        assert r["achieved_n"] == r["n"] * r["rate_ppm"] // 1_000_000
        assert r["achieved_n"] <= min(r["n"], r["target_n"])
        assert r["infeasible"] == (
            1 if r["n"] < r["target_n"] else 0
        )


def test_context_curve_accounting_identities(spark):
    """capacity = used + tail_waste per length; tail waste shrinks as
    the budget shrinks (fewer leftover slots per pack tail is false
    in general, but capacity utilisation is monotone in the ceil
    remainder bound: waste < n_buckets * ctx_len); truncation is
    monotone nonincreasing in the budget."""
    sf = SFS[1]
    rows = ENTRIES["x223_context_length_curve"].spark(spark, sf).collect()
    assert [r["ctx_len"] for r in rows] == [256, 512, 1024, 2048]
    used = {r["used_tokens"] for r in rows}
    assert len(used) == 1  # same corpus at every budget
    for r in rows:
        assert r["capacity"] == r["used_tokens"] + r["tail_waste"]
        assert r["tail_waste"] < r["n_buckets"] * r["ctx_len"]
        assert (
            r["tail_waste_ppm"]
            == r["tail_waste"] * 1_000_000 // r["capacity"]
        )
    for a, b in zip(rows, rows[1:]):
        assert a["truncated_tokens"] >= b["truncated_tokens"]
        assert a["oversize_docs"] >= b["oversize_docs"]


def test_contamination_short_docs_produce_no_grams(spark, tmp_path):
    """Regression: Spark's sequence(0, -1) DESCENDS, so a doc shorter
    than the gram width used to fabricate partial grams (x19's guard,
    re-learned). Planted corpus: one 3-token doc + long docs with an
    engineered shared 8-gram; brute-forced in Python."""
    import hashlib

    import pandas as pd

    base = "one two three four five six seven eight nine ten"
    docs = []
    for i in range(40):
        text = f"{base} tail{i} " + " ".join(f"w{i}_{j}" for j in range(10))
        docs.append((i, text))
    docs.append((40, "a b c"))  # shorter than every width
    pdf = pd.DataFrame(
        {
            "doc_id": [d[0] for d in docs],
            "text": [d[1] for d in docs],
            "lang": "en",
            "source": "synthetic",
            "n_chars": [len(d[1]) for d in docs],
        }
    )
    pdf.to_parquet(str(tmp_path / "documents.parquet"))

    def is_eval(doc_id):
        h = hashlib.md5(f"ct:{doc_id}".encode()).hexdigest()[:8]
        return int(h, 16) % 100 < 10

    def gram_set(text, n):
        ws = [t for t in " ".join(text.lower().split()).split(" ") if t]
        return {
            " ".join(ws[k : k + n]) for k in range(max(len(ws) - n + 1, 0))
        }

    rows = (
        ENTRIES["x217_contamination_width_curve"]
        .spark(spark, str(tmp_path))
        .collect()
    )
    for r in rows:
        n = r["width"]
        train = set()
        for doc_id, text in docs:
            if not is_eval(doc_id):
                train |= gram_set(text, n)
        contaminated = sum(
            1
            for doc_id, text in docs
            if is_eval(doc_id) and gram_set(text, n) & train
        )
        n_eval = sum(1 for doc_id, _ in docs if is_eval(doc_id))
        assert r["n_eval_docs"] == n_eval
        assert r["n_contaminated"] == contaminated, n


def test_effective_token_mass_conservation(spark):
    """Effective milli-tokens never exceed raw*1000; unique docs
    (sz=1) contribute exactly raw*1000; cross-source effective mass
    equals the sum over clusters of (cluster tokens weighted once,
    up to the per-doc floor loss < 1 millitoken per doc)."""
    sf = SFS[1]
    rows = ENTRIES["x224_effective_token_mass"].spark(spark, sf).collect()
    n_docs, raw = duckdb.sql(
        f"""SELECT count(*),
               SUM(len(string_split(trim(regexp_replace(lower(text),
                   '\\s+', ' ', 'g')), ' ')))
            FROM '{sf}/documents.parquet'
            WHERE length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) > 0"""
    ).fetchone()
    assert sum(r["n_docs"] for r in rows) == n_docs
    assert sum(r["raw_tokens"] for r in rows) == raw
    for r in rows:
        assert r["effective_millitokens"] <= r["raw_tokens"] * 1000
        assert 0 < r["retention_milli"] <= 1000
        assert r["duplicated_tokens"] <= r["raw_tokens"]
        if r["duplicated_tokens"] == 0:
            assert r["effective_millitokens"] == r["raw_tokens"] * 1000


def test_did_reproduces_from_cell_means(spark):
    """DiD equals the subtraction of the emitted cell means, and the
    four cells partition the joined order rows."""
    sf = SFS[1]
    r = ENTRIES["x225_diff_in_diff"].spark(spark, sf).collect()[0]
    assert r["did_millicents"] == (r["t_after"] - r["t_before"]) - (
        r["c_after"] - r["c_before"]
    )
    n_orders = duckdb.sql(
        f"""SELECT count(*) FROM '{sf}/orders.parquet' o
            JOIN '{sf}/customer.parquet' c ON o.o_custkey = c.c_custkey"""
    ).fetchone()[0]
    assert (
        r["n_t_before"] + r["n_t_after"] + r["n_c_before"] + r["n_c_after"]
        == n_orders
    )
    for k in ("t_before", "t_after", "c_before", "c_after"):
        assert r[k] > 0


def test_cuped_rho2_and_theta_identities(spark):
    """rho^2 in [0, 1e6] (Cauchy-Schwarz), reproduced from the exact
    integer numerators in Python floats; theta matches the signed
    integer division convention."""
    sf = SFS[1]
    import math

    rows = ENTRIES["x226_cuped_audit"].spark(spark, sf).collect()
    assert rows
    for r in rows:
        cov, vx, vy = r["cov_num"], r["varx_num"], r["vary_num"]
        assert vx > 0 and vy > 0
        want = math.floor(
            1_000_000.0 * float(cov) * float(cov) / (float(vx) * float(vy))
        )
        assert r["rho2_ppm"] == want
        assert 0 <= r["rho2_ppm"] <= 1_000_000
        t = (
            cov * 1000 // vx
            if cov >= 0
            else -((-cov) * 1000 // vx)
        )
        assert r["theta_milli"] == t
