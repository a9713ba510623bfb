"""Property tests for the randomized/approximate extension operators
(SURVEY §7 hard-point 4: LSH never oracle-hashed — recall on planted
duplicates instead)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from ravelytics_spark.operators import dedup as DD
from ravelytics_spark.operators import similarity as SIM

random.seed(42)
VOCAB = [f"w{i}" for i in range(500)]


def _doc(n=60):
    return " ".join(random.choice(VOCAB) for _ in range(n))


@pytest.fixture(scope="module")
def corpus(spark):
    """100 random docs + 5 planted near-dup pairs + 1 exact dup pair."""
    docs = [(i, _doc()) for i in range(100)]
    planted = []
    for k in range(5):
        base_id, base = docs[k * 10]
        words = base.split()
        words[3] = "CHANGED"  # one-word edit → jaccard(5-gram) still high
        planted.append((1000 + k, " ".join(words)))
    exact = [(2000, docs[0][1])]
    return spark.createDataFrame(docs + planted + exact, ["doc_id", "text"])


def test_minhash_lsh_finds_planted_dupes(corpus):
    pairs = {
        (r.id_a, r.id_b)
        for r in DD.minhash_dedup_pairs(corpus, "doc_id", "text", threshold=0.5).collect()
    }
    # exact dup always found; ≥4/5 planted near-dupes (LSH is probabilistic
    # but seeded-deterministic, so this is a fixed outcome, not flaky)
    assert (0, 2000) in pairs
    found = sum((k * 10, 1000 + k) in pairs for k in range(5))
    assert found >= 4, f"only {found}/5 planted near-dupes found: {sorted(pairs)}"
    # no false positives among unrelated low-jaccard docs
    for id_a, id_b in pairs:
        assert id_b >= 1000, f"false positive pair {(id_a, id_b)}"


def test_simhash_near_pairs(corpus):
    sigs = DD.simhash_signatures(corpus, "doc_id", "text")
    by_id = {r["__id"]: r["simhash"] for r in sigs.collect()}
    assert by_id[0] == by_id[2000]  # identical text → identical signature
    pairs = {(r.id_a, r.id_b): r.hamming for r in DD.simhash_near_pairs(sigs, 3).collect()}
    assert pairs[(0, 2000)] == 0


@pytest.fixture(scope="module")
def vectors(spark):
    """50 random 16-dim vectors + a planted near-duplicate of vec 0."""
    rng = random.Random(7)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(50)]
    dup = [x + 0.001 for x in rows[0][1]]
    rows.append((999, dup))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_cosine_topk_exact(vectors):
    query = [1.0] + [0.0] * 15
    top = SIM.cosine_topk(vectors, "embedding", query, k=5).collect()
    assert len(top) == 5
    sims = [r.cos_sim for r in top]
    assert sims == sorted(sims, reverse=True)


def test_embedding_near_pairs_finds_planted(vectors):
    pairs = {
        (r.id_a, r.id_b)
        for r in SIM.embedding_near_pairs(
            vectors, "embedding", dim=16, threshold=0.99, num_planes=8
        ).collect()
    }
    assert (0, 999) in pairs
    assert all(b == 999 and a == 0 for a, b in pairs)


def test_srp_topk_recalls_self(vectors):
    q = [x for x in vectors.filter("vec_id = 0").collect()[0].embedding]
    got = SIM.srp_topk(vectors, "embedding", q, dim=16, k=3, num_planes=4).collect()
    ids = [r.vec_id for r in got]
    assert ids[0] in (0, 999)  # itself or its planted near-dup


def test_ivf_topk_recalls_self(vectors):
    q = [x for x in vectors.filter("vec_id = 0").collect()[0].embedding]
    got = SIM.ivf_topk(vectors, "embedding", q, k=5, n_cells=4, n_probe=2).collect()
    assert len(got) == 5
    # the probed cells must contain vec 0's own cell → itself ranks first
    assert got[0].vec_id in (0, 999)


def test_knn_join(vectors):
    small = vectors.filter("vec_id < 5")
    out = SIM.cosine_knn_join(vectors, small, "vec_id", "vec_id", k=2).collect()
    per_left = {}
    for r in out:
        per_left.setdefault(r.l_id, []).append(r)
    assert all(len(v) == 2 for v in per_left.values())
    # vec 0's nearest in the reference set is itself (cos=1)
    self_hit = [r for r in per_left[0] if r.r_id == 0][0]
    assert self_hit.cos_sim == pytest.approx(1.0)


def test_approx_percentile_accuracy(spark, sf_dir):
    from ravelytics_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    row = o.agg(
        F.percentile_approx("o_totalprice", 0.5, 1000).alias("approx"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)").alias("exact"),
    ).collect()[0]
    assert abs(row.approx - row.exact) / row.exact < 0.05


def test_approx_count_distinct_accuracy(spark, sf_dir):
    from ravelytics_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    row = o.agg(
        F.approx_count_distinct("o_custkey").alias("approx"),
        F.countDistinct("o_custkey").alias("exact"),
    ).collect()[0]
    assert abs(row.approx - row.exact) / row.exact < 0.1


def test_lsh_hot_bucket_cap_bounds_pairs(spark, corpus):
    """A planted mega-bucket (40 identical boilerplate docs — same
    signature, same bucket in every band) must not cost |bucket|² pairs
    when capped; recall on the normal planted dupes is unchanged."""
    boiler = " ".join(f"boiler{i % 7}" for i in range(60))
    mega = spark.createDataFrame(
        [(5000 + i, boiler) for i in range(40)], ["doc_id", "text"]
    )
    df = corpus.union(mega)

    capped = {
        (r.id_a, r.id_b)
        for r in DD.minhash_dedup_pairs(
            df, "doc_id", "text", threshold=0.5, max_bucket_size=10
        ).collect()
    }
    mega_pairs = {p for p in capped if p[0] >= 5000}
    # cap 10 → C(10,2)=45 pairs among the boilerplate docs, not C(40,2)=780
    assert len(mega_pairs) == 45
    # normal dupes unaffected (their buckets are far below the cap)
    assert (0, 2000) in capped
    assert sum((k * 10, 1000 + k) in capped for k in range(5)) >= 4

    # dropped-pairs audit: every band sees the 40-doc bucket
    sigs = DD.minhash_signatures(df, "doc_id", "text")
    stats = DD.lsh_bucket_stats(sigs, max_bucket_size=10)
    dropped = stats.agg(F.sum("dropped_pairs")).collect()[0][0]
    assert dropped == 16 * (780 - 45)


def test_lsh_band_geometry_validated(spark, corpus):
    """num_hashes not divisible by bands would silently ignore signature
    positions — must raise instead (same class as the KMV merge-k
    guard)."""
    with pytest.raises(ValueError, match="divisible"):
        DD.minhash_dedup_pairs(corpus, "doc_id", "text", num_hashes=60, bands=16)


def test_pq_geometry_validated(vectors):
    """dim % n_sub != 0 would silently drop trailing dimensions from
    every PQ distance — must raise in codebook build and encode."""
    with pytest.raises(ValueError, match="divisible"):
        SIM.pq_codebooks(vectors, "embedding", dim=15, n_sub=4)
    books = SIM.pq_codebooks(vectors, "embedding", dim=16, n_sub=4)
    with pytest.raises(ValueError, match="divisible"):
        SIM.pq_encode(vectors, books, "embedding", dim=15, n_sub=4)


def test_simhash_radius_validated(spark, corpus):
    """An explicit block count below max_hamming + 1 breaks pigeonhole
    completeness (pairs could differ in every block and silently
    vanish) — must raise; the DEFAULT re-blocks to stay complete."""
    sigs = DD.simhash_signatures(corpus, "doc_id", "text")
    with pytest.raises(ValueError, match="pigeonhole"):
        DD.simhash_near_pairs(sigs, max_hamming=4, n_blocks=4)
    with pytest.raises(ValueError, match="divide"):
        DD.simhash_near_pairs(sigs, max_hamming=4, n_blocks=6)
    # default for radius 4-7 is 8 blocks of 8 bits — runs fine
    assert DD.simhash_near_pairs(sigs, max_hamming=4).count() >= 0


def test_simhash_wide_radius_complete(spark):
    """Pigeonhole completeness at radius 5 (8 blocks of 8 bits): a
    planted signature pair at exact Hamming distance 5 — bits spread so
    that NO 16-bit quarter matches (the 4-block scheme would miss it) —
    must be found with the default re-blocked candidate generation."""
    a = 0x0123456789ABCDEF
    # flip one bit in 5 DIFFERENT 16-bit quarters... only 4 quarters
    # exist, so flip in quarters 0,1,2,3 and a second bit in quarter 0:
    # every 16-bit quarter differs, but 8-bit eighths 1,3,5,7 are clean.
    b = a ^ (1 << 0) ^ (1 << 16) ^ (1 << 32) ^ (1 << 48) ^ (1 << 2)

    def to_i64(v):
        return v - (1 << 64) if v >= (1 << 63) else v

    sigs = spark.createDataFrame(
        [(1, to_i64(a)), (2, to_i64(b))], ["__id", "simhash"]
    )
    # 4 blocks of 16: no block agrees → zero candidates even though
    # hamming(a,b)=5 — the case the n_blocks guard exists for
    assert DD.simhash_near_pairs(sigs, max_hamming=3).count() == 0
    found = DD.simhash_near_pairs(sigs, max_hamming=5).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in found] == [(1, 2, 5)]


def test_query_dim_validated(vectors):
    """A wrong-length query vector silently scores every row 0.0 inside
    the null-padding cosine fold — the dim-taking searches must reject
    it driver-side."""
    q15 = [1.0] * 15
    with pytest.raises(ValueError, match="dimensions"):
        SIM.srp_topk(vectors, "embedding", q15, dim=16)
    with pytest.raises(ValueError, match="dimensions"):
        SIM.pq_topk(vectors, "embedding", q15, dim=16, n_sub=4)
    with pytest.raises(ValueError, match="dimensions"):
        SIM.ivf_pq_topk(vectors, "embedding", q15, dim=16, n_sub=4)


def test_ivf_assign_matches_bruteforce_argmin(vectors):
    """The map-only greatest-over-structs assignment must agree with a
    driver-side brute-force argmax-cosine (ties → lowest cell_id)."""
    import math

    cents = SIM.ivf_centroids(vectors, "embedding", 4)
    got = {
        r.vec_id: r.cell_id
        for r in SIM.ivf_assign(vectors, cents, "embedding").collect()
    }
    cent_rows = sorted(
        ((r.cell_id, list(r.cell_vec)) for r in cents.collect()), key=lambda x: x[0]
    )

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na, nb = math.sqrt(sum(x * x for x in a)), math.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na > 0 and nb > 0 else 0.0

    for r in vectors.collect():
        best = max(cent_rows, key=lambda c: (cos(r.embedding, c[1]), -c[0]))[0]
        assert got[r.vec_id] == best, r.vec_id


def test_ivf_refine_centroids_is_one_exact_lloyd_step(spark):
    """``n_iters=1`` must return, per cell, the exact mean of the rows
    the SEED centroids captured (Lloyd's update by definition), with
    cell ids stable and empty cells keeping their seed vector. Integer
    coordinates make the double sums exact, so the comparison is
    deterministic."""
    # three clusters along near-orthogonal directions, 8 points each
    base = {0: [10.0, 0.0, 1.0], 1: [0.0, 10.0, 1.0], 2: [1.0, 0.0, 10.0]}
    rows = []
    for c, b in base.items():
        for j in range(8):
            rows.append((c * 8 + j, [b[0] + (j % 2), b[1] + (j % 3), b[2]]))
    vectors = spark.createDataFrame(rows, ["vec_id", "embedding"])

    seeds = SIM.ivf_centroids(vectors, "embedding", 3)
    seed_vecs = {r.cell_id: [float(x) for x in r.cell_vec] for r in seeds.collect()}
    assign0 = SIM.ivf_assign(vectors, seeds, "embedding").collect()
    members: dict = {}
    for r in assign0:
        members.setdefault(r.cell_id, []).append(rows[r.vec_id][1])
    expected = {
        cell_id: [sum(col) / len(vecs) for col in zip(*vecs)]
        if (vecs := members.get(cell_id))
        else vec
        for cell_id, vec in seed_vecs.items()
    }

    refined = SIM.ivf_refine_centroids(vectors, "embedding", n_cells=3, n_iters=1)
    cents = {r.cell_id: list(r.cell_vec) for r in refined.collect()}
    assert set(cents) == set(seed_vecs)  # ids stable; only vectors move
    for cell_id in expected:
        assert cents[cell_id] == pytest.approx(expected[cell_id], abs=1e-12), cell_id

    # n_iters=0 returns the seeds unchanged (as doubles)
    seeds0 = SIM.ivf_refine_centroids(vectors, "embedding", n_cells=3, n_iters=0)
    seed_vecs = {
        r.cell_id: [float(x) for x in r.cell_vec]
        for r in SIM.ivf_centroids(vectors, "embedding", 3).collect()
    }
    assert {r.cell_id: list(r.cell_vec) for r in seeds0.collect()} == seed_vecs

    with pytest.raises(ValueError, match="n_iters"):
        SIM.ivf_refine_centroids(vectors, "embedding", n_cells=3, n_iters=-1)
    with pytest.raises(ValueError, match="train_fraction"):
        SIM.ivf_refine_centroids(
            vectors, "embedding", n_cells=3, train_fraction=1.5
        )
    with pytest.raises(ValueError, match="no training rows"):
        SIM.ivf_refine_centroids(
            vectors.filter("vec_id < 0"), "embedding", n_cells=3
        )


def test_pq_refine_codebooks_is_one_exact_lloyd_step(spark):
    """``n_iters=1`` must return, per (sub, code), the exact mean of the
    training subvectors ``pq_encode`` assigned to that code under the
    seed codebooks (empty codes keep their seed vector); and full-corpus
    quantization error must not increase (Lloyd monotonicity)."""
    import random

    rng = random.Random(5)
    DIM, N_SUB, N_CODES = 8, 2, 4
    rows = [
        (i, [float(rng.randint(-8, 8)) for _ in range(DIM)]) for i in range(60)
    ]
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    seeds = SIM.pq_codebooks(vecs, "embedding", DIM, n_sub=N_SUB, n_codes=N_CODES)
    seed_rows = {
        (r.sub, r.code): [float(x) for x in r.code_vec] for r in seeds.collect()
    }
    assign0 = SIM.pq_encode(vecs, seeds, "embedding", DIM, n_sub=N_SUB).collect()
    sub_len = DIM // N_SUB
    members: dict = {}
    for r in assign0:
        full = dict(rows)[r.vec_id]
        for sub, code in enumerate(r.codes):
            members.setdefault((sub, code), []).append(
                full[sub * sub_len : (sub + 1) * sub_len]
            )
    expected = {
        key: [sum(col) / len(vs) for col in zip(*vs)]
        if (vs := members.get(key))
        else vec
        for key, vec in seed_rows.items()
    }

    refined = SIM.pq_refine_codebooks(
        vecs, "embedding", DIM, n_sub=N_SUB, n_codes=N_CODES, n_iters=1
    )
    got = {(r.sub, r.code): list(r.code_vec) for r in refined.collect()}
    assert set(got) == set(seed_rows)
    for key in expected:
        assert got[key] == pytest.approx(expected[key], abs=1e-12), key

    def distortion(books):
        """Mean squared quantization error over the corpus."""
        book = {(r.sub, r.code): [float(x) for x in r.code_vec] for r in books.collect()}
        enc = SIM.pq_encode(vecs, books, "embedding", DIM, n_sub=N_SUB).collect()
        err = 0.0
        for r in enc:
            full = dict(rows)[r.vec_id]
            for sub, code in enumerate(r.codes):
                sv = full[sub * sub_len : (sub + 1) * sub_len]
                cv = book[(sub, code)]
                err += sum((a - b) ** 2 for a, b in zip(sv, cv))
        return err

    assert distortion(refined) <= distortion(seeds) + 1e-9


def test_ivf_refine_improves_recall_on_clustered_data(spark):
    """On cluster-structured vectors (the workload IVF exists for), a
    trained coarse quantizer must not lose recall vs the raw hash seeds
    at the same n_probe — measured 0.983 → 1.0 at 8 clusters. Random
    data shows no gain (nothing to learn), clustered data is the test."""
    import random

    rng = random.Random(13)
    DIM, K, PER = 32, 8, 120
    centers = [[rng.uniform(-1, 1) for _ in range(DIM)] for _ in range(K)]
    rows = []
    for ci, c in enumerate(centers):
        for j in range(PER):
            rows.append((ci * PER + j, [x + rng.gauss(0, 0.15) for x in c]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    probes = [rows[ci * PER + 7][1] for ci in range(4)]

    def recall(cents):
        asg = SIM.ivf_assign(emb, cents, "embedding")
        hits = total = 0
        for q in probes:
            truth = {
                r.vec_id for r in SIM.cosine_topk(emb, "embedding", q, k=10).collect()
            }
            got = {
                r.vec_id
                for r in SIM.ivf_topk(
                    emb, "embedding", q, k=10, n_probe=2,
                    centroids=cents, assigned=asg,
                ).collect()
            }
            hits += len(truth & got)
            total += len(truth)
        return hits / total

    seeds = SIM.ivf_centroids(emb, "embedding", K)
    seeds_local = spark.createDataFrame(seeds.collect(), seeds.schema)
    refined = SIM.ivf_refine_centroids(emb, "embedding", n_cells=K, n_iters=2)
    assert recall(refined) >= recall(seeds_local)


def test_prebuilt_index_probe_matches_inline(vectors):
    """srp_topk/ivf_topk with a prebuilt index must return exactly what
    the inline (build+probe) form returns."""
    q = [x for x in vectors.filter("vec_id = 0").collect()[0].embedding]
    sigs = SIM.srp_signatures(vectors, "embedding", 16, 4)
    inline = SIM.srp_topk(vectors, "embedding", q, dim=16, k=3, num_planes=4).collect()
    pre = SIM.srp_topk(
        vectors, "embedding", q, dim=16, k=3, num_planes=4, signatures=sigs
    ).collect()
    assert [(r.vec_id, r.cos_sim) for r in inline] == [(r.vec_id, r.cos_sim) for r in pre]

    cents = SIM.ivf_centroids(vectors, "embedding", 4)
    asg = SIM.ivf_assign(vectors, cents, "embedding")
    inline = SIM.ivf_topk(vectors, "embedding", q, k=5, n_cells=4, n_probe=2).collect()
    pre = SIM.ivf_topk(
        vectors, "embedding", q, k=5, n_probe=2, centroids=cents, assigned=asg
    ).collect()
    assert [(r.vec_id, r.cos_sim) for r in inline] == [(r.vec_id, r.cos_sim) for r in pre]
    with pytest.raises(ValueError, match="together"):
        SIM.ivf_topk(vectors, "embedding", q, k=5, centroids=cents)


def test_prebuilt_pq_index_probe_matches_inline(spark, vectors):
    """pq_topk / ivf_pq_topk with a prebuilt index must return exactly
    what the inline (build+probe) form returns, and geometry/pairing
    misuse fails loudly."""
    q = [x for x in vectors.filter("vec_id = 0").collect()[0].embedding]

    books = SIM.pq_codebooks(vectors, "embedding", 16, n_sub=4)
    enc = SIM.pq_encode(vectors, books, "embedding", 16, n_sub=4)
    inline = SIM.pq_topk(vectors, "embedding", q, dim=16, k=5, n_sub=4).collect()
    pre = SIM.pq_topk(
        vectors, "embedding", q, dim=16, k=5, n_sub=4,
        codebooks=books, encoded=enc,
    ).collect()
    assert [(r.vec_id, r.cos_sim) for r in inline] == [(r.vec_id, r.cos_sim) for r in pre]
    with pytest.raises(ValueError, match="together"):
        SIM.pq_topk(vectors, "embedding", q, dim=16, k=5, n_sub=4, codebooks=books)
    with pytest.raises(ValueError, match="geometry"):
        SIM.pq_topk(
            vectors, "embedding", q, dim=16, k=5, n_sub=8,
            codebooks=books, encoded=enc,
        )

    # ivf_pq: build the three index pieces exactly as the inline path does
    cents = SIM.ivf_centroids(vectors, "embedding", 4)
    cents_local = spark.createDataFrame(cents.collect(), cents.schema)
    residuals = (
        SIM.ivf_assign(vectors, cents_local, "embedding")
        .join(F.broadcast(cents_local), "cell_id")
        .select(
            "vec_id",
            "cell_id",
            F.zip_with("embedding", "cell_vec", lambda x, y: x - y).alias("__res"),
        )
    )
    rbooks = SIM.pq_codebooks(residuals, "__res", 16, n_sub=4)
    renc = residuals.join(
        SIM.pq_encode(residuals, rbooks, "__res", 16, n_sub=4), "vec_id"
    ).select("vec_id", "cell_id", "codes")
    inline = SIM.ivf_pq_topk(
        vectors, "embedding", q, dim=16, k=5, n_cells=4, n_probe=2, n_sub=4
    ).collect()
    pre = SIM.ivf_pq_topk(
        vectors, "embedding", q, dim=16, k=5, n_probe=2, n_sub=4,
        centroids=cents_local, codebooks=rbooks, encoded=renc,
    ).collect()
    assert [(r.vec_id, r.cos_sim) for r in inline] == [(r.vec_id, r.cos_sim) for r in pre]
    with pytest.raises(ValueError, match="all three"):
        SIM.ivf_pq_topk(
            vectors, "embedding", q, dim=16, k=5, n_sub=4, centroids=cents_local
        )


def test_simhash_hot_bucket_cap_bounds_pairs(spark):
    """40 identical signatures (a boilerplate mega-cluster colliding in
    every block) must cost C(cap,2) pairs, not C(40,2); a distinct near
    pair in the same frame is unaffected."""

    def to_i64(v):
        return v - (1 << 64) if v >= (1 << 63) else v

    boiler = to_i64(0xDEADBEEFCAFEF00D)
    near_a, near_b = to_i64(0x0123456789ABCDEF), to_i64(0x0123456789ABCDEE)
    rows = [(i, boiler) for i in range(40)] + [(100, near_a), (101, near_b)]
    sigs = spark.createDataFrame(rows, ["__id", "simhash"])

    capped = {
        (r.id_a, r.id_b)
        for r in DD.simhash_near_pairs(sigs, max_hamming=3, max_bucket_size=10).collect()
    }
    mega = {p for p in capped if p[0] < 40}
    assert len(mega) == 45  # C(10,2), not C(40,2)=780
    assert (100, 101) in capped  # small-bucket near pair survives

    uncapped = {
        (r.id_a, r.id_b)
        for r in DD.simhash_near_pairs(sigs, max_hamming=3, max_bucket_size=None).collect()
    }
    assert len({p for p in uncapped if p[0] < 40}) == 780


def test_simhash_multitable_complete_and_agrees(spark, corpus):
    """The Manku multi-table scheme must find EXACTLY the same verified
    pairs as the single-block pigeonhole on a real corpus (both are
    complete for the radius; verification is identical)."""
    sigs = DD.simhash_signatures(corpus, "doc_id", "text")
    block = {
        (r.id_a, r.id_b, r.hamming)
        for r in DD.simhash_near_pairs(sigs, max_hamming=3).collect()
    }
    multi = {
        (r.id_a, r.id_b, r.hamming)
        for r in DD.simhash_near_pairs_multitable(sigs, max_hamming=3).collect()
    }
    assert block == multi

    def to_i64(v):
        return v - (1 << 64) if v >= (1 << 63) else v

    # planted adversarial pair: 3 flips spread over 3 different sixths
    a = 0x0123456789ABCDEF
    b = a ^ (1 << 0) ^ (1 << 12) ^ (1 << 24)
    planted = spark.createDataFrame(
        [(1, to_i64(a)), (2, to_i64(b))], ["__id", "simhash"]
    )
    got = DD.simhash_near_pairs_multitable(planted, max_hamming=3).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in got] == [(1, 2, 3)]

    with pytest.raises(ValueError, match="exceed"):
        DD.simhash_near_pairs_multitable(sigs, max_hamming=6, p_blocks=6)


def test_simhash_multitable_hot_bucket_cap(spark):
    """An exact-dup boilerplate cluster collides identically in all 20
    tables; the cap bounds its pair cost to C(cap,2) while distinct
    near pairs in the frame are unaffected (same contract as the
    block-scheme and MinHash caps)."""

    def to_i64(v):
        return v - (1 << 64) if v >= (1 << 63) else v

    boiler = to_i64(0xDEADBEEFCAFEF00D)
    near_a, near_b = to_i64(0x0123456789ABCDEF), to_i64(0x0123456789ABCDEE)
    rows = [(i, boiler) for i in range(40)] + [(100, near_a), (101, near_b)]
    sigs = spark.createDataFrame(rows, ["__id", "simhash"])

    capped = {
        (r.id_a, r.id_b)
        for r in DD.simhash_near_pairs_multitable(
            sigs, max_hamming=3, max_bucket_size=10
        ).collect()
    }
    assert len({p for p in capped if p[0] < 40}) == 45  # C(10,2)
    assert (100, 101) in capped

    uncapped = {
        (r.id_a, r.id_b)
        for r in DD.simhash_near_pairs_multitable(
            sigs, max_hamming=3, max_bucket_size=None
        ).collect()
    }
    assert len({p for p in uncapped if p[0] < 40}) == 780  # C(40,2)


def test_prebuilt_pq_codebook_wrong_dim_raises(vectors):
    """ADVICE r3: a prebuilt codebook whose code_vec length differs from
    dim // n_sub must raise, not silently zip-truncate the ADC table;
    and dim % n_sub != 0 must raise on the prebuilt path too."""
    books = SIM.pq_codebooks(vectors, "embedding", 16, n_sub=4)  # sub_len=4
    enc = SIM.pq_encode(vectors, books, "embedding", 16, n_sub=4)
    q32 = [float(i) for i in range(32)]
    # same n_sub, different dim → sub_len=8 vs codebook's 4-dim entries
    with pytest.raises(ValueError, match="truncate"):
        SIM.pq_topk(
            vectors, "embedding", q32, dim=32, k=5, n_sub=4,
            codebooks=books, encoded=enc,
        )
    # non-tiling geometry is rejected before any collect, prebuilt or not
    q15 = [float(i) for i in range(15)]
    with pytest.raises(ValueError, match="divisible"):
        SIM.pq_topk(
            vectors, "embedding", q15, dim=15, k=5, n_sub=4,
            codebooks=books, encoded=enc,
        )
    with pytest.raises(ValueError, match="divisible"):
        SIM.ivf_pq_topk(vectors, "embedding", q15, dim=15, k=5, n_sub=4)


def test_simhash_default_is_complete_for_radius(spark):
    """ADVICE r3: the default (no hot-bucket cap) must keep the
    pigeonhole completeness contract — a true near pair whose ONLY
    agreeing block shares its bucket with a boilerplate crowd is still
    found by default, and demonstrably LOST when a small cap is opted
    into (the documented trade)."""

    def to_i64(v):
        return v - (1 << 64) if v >= (1 << 63) else v

    # pair differing in bits 0 / 16 / 32 → blocks 0,1,2 dirty; ONLY
    # block 3 (bits 48..63) agrees. hamming = 3 = default radius.
    a = 0x7A7A_5B5B_3C3C_1D1D
    b = a ^ (1 << 0) ^ (1 << 16) ^ (1 << 32)
    # 30 boilerplate sigs share the pair's block-3 value (hot bucket)
    # but differ everywhere else; their ids sort BEFORE the pair's.
    boiler = [
        (i, to_i64((a & 0xFFFF_0000_0000_0000) | (i * 0x0001_0101_0101) | 0x8000_0000))
        for i in range(30)
    ]
    rows = boiler + [(100, to_i64(a)), (101, to_i64(b))]
    sigs = spark.createDataFrame(rows, ["__id", "simhash"])

    default_pairs = {
        (r.id_a, r.id_b) for r in DD.simhash_near_pairs(sigs, max_hamming=3).collect()
    }
    assert (100, 101) in default_pairs  # complete by default

    capped_pairs = {
        (r.id_a, r.id_b)
        for r in DD.simhash_near_pairs(sigs, max_hamming=3, max_bucket_size=10).collect()
    }
    assert (100, 101) not in capped_pairs  # the opt-in cap's honest cost


def test_minhash_pairs_carry_exact_jaccard_and_plan_runs_pipeline_once(spark):
    """Every emitted pair carries the exact 5-gram Jaccard of its two
    documents, recomputed here from the string shingle sets; and the
    plan contains NO shingle-window lineage in its final plan (the
    checkpointed signature store subsumes it, so the tokenize pipeline
    cannot re-execute per consumer branch)."""
    from ravelytics_spark.functions.text import shingles
    from ravelytics_spark.operators.dedup import minhash_dedup_pairs
    from ravelytics_spark.sources.tables import load_table

    d = load_table(spark, "/root/testdata/sf0.01", "documents")
    pairs_df = minhash_dedup_pairs(d, "doc_id", "text", threshold=0.5)
    pairs = pairs_df.collect()
    assert pairs
    shingled = d.select("doc_id", F.array_distinct(shingles("text", 5)).alias("s"))
    sets = {r.doc_id: set(r.s) for r in shingled.collect()}
    for r in pairs:
        sa, sb = sets[r.id_a], sets[r.id_b]
        assert r.jaccard == len(sa & sb) / len(sa | sb), tuple(r)
    plan = pairs_df._jdf.queryExecution().executedPlan().toString()
    assert "lead(__hw" not in plan.split("== Initial Plan ==")[0]
