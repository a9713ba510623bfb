"""Oracle-comparison + planted-cluster recall tests for the round-29
live registrations: the SRP-bucketed scale-safe twins (x230b/x245b) of
the all-pairs embedding audits flagged `weak` in the round-8 verdict."""

from __future__ import annotations

import os

import numpy as np
import pytest

from ravelytics_spark.plans import round29
from ravelytics_spark.plans.queries import REGISTRY
from ravelytics_spark.plans.round29 import _bucketed_candidates
from ravelytics_spark.testing import compare, duckdb_connection

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
NAMES = ["x230b_hubness_bucketed", "x245b_twonn_bucketed"]


@pytest.mark.parametrize("name", NAMES)
@pytest.mark.parametrize("sf_dir", SFS)
def test_round29_matches_oracle(spark, name, sf_dir):
    entry = REGISTRY[name]
    assert entry.oracle is not None
    con = duckdb_connection(sf_dir)
    problems = compare(
        entry.spark(spark, sf_dir),
        con,
        entry.oracle,
        name,
        strict_row_order=True,
    )
    assert not problems, problems


def test_histogram_mass_is_conserved(spark):
    """Bucketing changes WHICH vectors are neighbors, never how many
    vectors exist: the histogram masses of the exact and bucketed
    hubness audits are identical (= |nonzero-norm vectors|), and total
    in-degree mass is bounded by k*N in both."""
    sf = SFS[0]
    exact = {
        r.indeg: r.n_vecs
        for r in REGISTRY["x230_hubness_audit"].spark(spark, sf).collect()
    }
    buck = {
        r.indeg: r.n_vecs
        for r in REGISTRY["x230b_hubness_bucketed"].spark(spark, sf).collect()
    }
    assert sum(exact.values()) == sum(buck.values())
    n = sum(buck.values())
    assert sum(d * c for d, c in buck.items()) <= 5 * n
    # exact mass is exactly k*N (every vector emits k edges); bucketed
    # emits at most k per vector (buckets can starve a query)
    assert sum(d * c for d, c in exact.items()) == 5 * n


def _write_planted(tmp_path, n_background=200, n_cluster=20, dim=64):
    """Synthetic embeddings table: isotropic background + one tight
    planted cluster (center + jitter, cosine >= ~0.99 within the
    cluster). Returns (dir, cluster vec_ids)."""
    rng = np.random.default_rng(42)
    bg = rng.standard_normal((n_background, dim))
    center = rng.standard_normal(dim)
    center /= np.linalg.norm(center)
    jitter = rng.standard_normal((n_cluster, dim)) * 0.02
    cl = center[None, :] + jitter
    vecs = np.vstack([bg, cl]).astype(np.float32)
    ids = np.arange(vecs.shape[0], dtype=np.int64)
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "vec_id": ids,
            "embedding": pa.array(
                [list(map(float, v)) for v in vecs],
                type=pa.list_(pa.float32()),
            ),
        }
    )
    out = tmp_path / "planted"
    os.makedirs(out, exist_ok=True)
    pq.write_table(table, str(out / "embeddings.parquet"))
    cluster_ids = set(range(n_background, n_background + n_cluster))
    return str(out), cluster_ids


def test_planted_cluster_recall(spark, tmp_path):
    """The LSH contract: CLOSE pairs land in the same bucket. For a
    planted cluster at cosine >= ~0.99, per-bit SRP agreement is
    ~0.97, so Hamming<=1 multiprobe must surface nearly every
    intra-cluster pair as a candidate (>= 90%); isotropic background
    pairs (cos ~ 0) are legitimately pruned."""
    sf_dir, cluster = _write_planted(tmp_path)
    _nz, pairs = _bucketed_candidates(spark, sf_dir)
    got = {
        (r.qa, r.nb)
        for r in pairs.select("qa", "nb").collect()
        if r.qa in cluster and r.nb in cluster
    }
    want = {(a, b) for a in cluster for b in cluster if a != b}
    recall = len(got & want) / len(want)
    assert recall >= 0.90, f"planted-pair recall {recall:.3f}"


def test_planted_hub_appears_in_histogram(spark, tmp_path):
    """With a 20-vector planted cluster, cluster members fill each
    other's top-5 lists: the bucketed hubness histogram must show a
    heavy tail (vectors with in-degree ~5), not the flat background
    profile."""
    sf_dir, cluster = _write_planted(tmp_path)
    hist = {
        r.indeg: r.n_vecs
        for r in REGISTRY["x230b_hubness_bucketed"]
        .spark(spark, sf_dir)
        .collect()
    }
    heavy = sum(c for d, c in hist.items() if d >= 4)
    assert heavy >= len(cluster) * 0.8, hist


def test_twonn_bucketed_detects_planted_low_dim(spark, tmp_path):
    """TwoNN over bucketed candidates still separates a low-dimensional
    planted structure from the 64-d ambient: on planted data the
    cluster's d2/d1 ratios are driven by the 0.02-sigma jitter ball,
    and the estimator must return a finite positive ID."""
    sf_dir, _cluster = _write_planted(tmp_path)
    row = (
        REGISTRY["x245b_twonn_bucketed"].spark(spark, sf_dir).collect()[0]
    )
    assert row.n_points > 0
    assert row.sum_lnmu_nano > 0
    assert 0 < row.intrinsic_dim_milli < 200_000


def test_twonn_empty_table_matches_oracle_shape(spark, tmp_path):
    """ADVICE r9: on a degenerate EMPTY embeddings table the oracle's
    ungrouped aggregate returns ONE (0, NULL, NULL) row — the Spark
    side must match that shape, not return zero rows. Covers both the
    exact form (x245) and the bucketed twin (x245b)."""
    import duckdb as _duckdb
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    sf = str(tmp_path)
    empty = _pa.table(
        {
            "vec_id": _pa.array([], type=_pa.int64()),
            "embedding": _pa.array([], type=_pa.list_(_pa.float32())),
        }
    )
    _pq.write_table(empty, f"{sf}/embeddings.parquet")

    for name in ("x245_twonn_intrinsic_dim", "x245b_twonn_bucketed"):
        q = REGISTRY[name]
        got = [tuple(r) for r in q.spark(spark, sf).collect()]
        con = _duckdb.connect()
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'"
        )
        exp = [tuple(r) for r in con.execute(q.oracle).fetchall()]
        assert got == exp == [(0, None, None)], (name, got, exp)


@pytest.mark.parametrize("name", NAMES)
def test_slim_multiprobe_path_is_result_identical(spark, name, monkeypatch):
    """The r12 slim-multiprobe form (cap window over (nb, pcode) id
    rows + vector re-attach join) must produce byte-identical results
    to the direct form (vectors carried through the cap window) — the
    size-gated plan choice in _slim_multiprobe may pick either
    depending on input scale, so both must be the same query. Each form
    is forced through the byte threshold and built fresh (``__wrapped__``,
    not the prepared plan a second call would reuse)."""
    sf = SFS[0]
    picked = []
    slim = round29._slim_multiprobe

    def recording(e):
        picked.append(slim(e))
        return picked[-1]

    monkeypatch.setattr(round29, "_slim_multiprobe", recording)
    out = {}
    for form, threshold in (("direct", 1 << 62), ("slim", 0)):
        monkeypatch.setattr(round29, "_SLIM_MULTIPROBE_BYTES", threshold)
        out[form] = [
            tuple(r) for r in REGISTRY[name].spark.__wrapped__(spark, sf).collect()
        ]
    assert picked == [False, True]
    assert out["direct"] == out["slim"]
