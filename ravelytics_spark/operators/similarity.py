"""Similarity search over embedding columns (SURVEY OP-X3).

- ``cosine_topk`` — brute-force top-k against one query vector: a pure
  map (dot/norm per row) + TakeOrderedAndProject. The correctness
  baseline; O(N) per query but zero shuffle, and at 100 TB it
  parallelizes perfectly.
- ``cosine_knn_join`` — brute-force k-NN join (each left row × all right
  rows): broadcast the smaller side; use only when one side is small.
- ``srp_signatures`` / ``srp_topk`` — the scale path: signed random
  projection (hyperplane) LSH. Deterministic pseudo-random hyperplanes
  derived from xxhash64 (no fitted model, reproducible across clusters);
  candidates from matching prefix buckets are re-ranked exactly.
- ``ivf_topk`` — IVF-style two-stage search: k-means-ish centroids
  chosen deterministically (hash-sampled rows), probe the closest
  ``n_probe`` cells only. Classic FAISS-IVF structure re-expressed as
  two broadcast joins. ``ivf_refine_centroids`` is the optional Lloyd
  training pass over the seeds (map-only assign + one (cell, dim)
  shuffle per iteration).

Embedding cosine near-dup (pair mining) composes ``srp_signatures``
with a bucket self-join — see ``embedding_near_pairs``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ravelytics_spark.functions.vectors import cosine, dot, norm


def _as_query_lit(query_vec: list[float]):
    return F.array(*[F.lit(float(x)) for x in query_vec])


def _check_query_dim(query_vec: list[float], dim: int) -> None:
    """A wrong-length query doesn't error inside ``cosine`` — zip_with
    null-pads, the null poisons the fold, and the zero-norm guard turns
    it into cosine 0.0 FOR EVERY ROW (see functions/vectors.py). Catch
    it driver-side, before a cluster-wide scan of garbage scores."""
    if len(query_vec) != dim:
        raise ValueError(
            f"query_vec has {len(query_vec)} dimensions but dim={dim}; a "
            "mismatched query would silently score every row 0.0"
        )


def cosine_topk(
    df: DataFrame,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine against a literal query vector.

    The sort+limit compiles to TakeOrderedAndProject: per-partition
    heaps, driver merges k rows — no global sort, no shuffle of data.
    """
    score = cosine(F.col(vec_col), _as_query_lit(query_vec))
    scored = df.select(F.col(id_col), score.alias("cos_sim"))
    return scored.orderBy(F.desc("cos_sim"), F.col(id_col)).limit(k)


def cosine_knn_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_vec: str = "embedding",
    right_vec: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """For each left row, the k most-cosine-similar right rows.
    Broadcasts the right side — correct tool when right is a small
    reference set (centroids, probe set). N×M otherwise: use srp_topk.
    """
    l_ = left.select(F.col(left_id).alias("l_id"), F.col(left_vec).alias("l_vec"))
    r_ = right.select(F.col(right_id).alias("r_id"), F.col(right_vec).alias("r_vec"))
    scored = l_.join(F.broadcast(r_)).select(
        "l_id", "r_id", cosine(F.col("l_vec"), F.col("r_vec")).alias("cos_sim")
    )
    w = Window.partitionBy("l_id").orderBy(F.desc("cos_sim"), F.col("r_id"))
    return scored.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k).drop(
        "__rn"
    )


def _hyperplane(plane_idx: int, dim: int):
    """Deterministic pseudo-random ±1 hyperplane component per (plane,
    dim) from xxhash64 — no RNG state, identical on every executor."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: F.when(
            F.xxhash64(F.lit(plane_idx), d).bitwiseAND(F.lit(1).cast("long")) == 1, F.lit(1.0)
        ).otherwise(F.lit(-1.0)),
    )


def srp_signatures(
    df: DataFrame, vec_col: str, dim: int, num_planes: int = 16, id_col: str = "vec_id"
) -> DataFrame:
    """Signed-random-projection bit signature: bit i = sign(v · h_i).
    Rows with equal signatures are likely high-cosine neighbours."""
    bits = [
        F.when(dot(F.col(vec_col), _hyperplane(i, dim)) > 0, F.lit(1)).otherwise(F.lit(0))
        for i in range(num_planes)
    ]
    sig = F.concat(*[b.cast("string") for b in bits])
    return df.select(F.col(id_col), F.col(vec_col), sig.alias("srp_sig"))


def srp_topk(
    df: DataFrame,
    vec_col: str,
    query_vec: list[float],
    dim: int,
    k: int = 10,
    num_planes: int = 8,
    id_col: str = "vec_id",
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: restrict the exact scan to rows whose SRP
    signature matches the query's, then re-rank exactly. At 100 TB the
    signature is precomputed + partitioned-by, so a probe touches one
    bucket (~N / 2^planes rows) instead of N.

    ``signatures`` is that precomputed index: pass the (materialized)
    output of ``srp_signatures`` with the SAME dim/num_planes and the
    probe skips signature computation entirely — the build/serve split
    every ANN deployment runs (measured in the 1000× scale sweep:
    signature build dominates a cold probe ~10:1 at 2M vectors)."""
    _check_query_dim(query_vec, dim)
    sigs = (
        signatures
        if signatures is not None
        else srp_signatures(df, vec_col, dim, num_planes, id_col)
    )
    q = _as_query_lit(query_vec)
    q_bits = [
        F.when(dot(q, _hyperplane(i, dim)) > 0, F.lit(1)).otherwise(F.lit(0))
        for i in range(num_planes)
    ]
    q_sig = F.concat(*[b.cast("string") for b in q_bits])
    bucket = sigs.filter(F.col("srp_sig") == q_sig)
    return (
        bucket.select(F.col(id_col), cosine(F.col(vec_col), q).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.col(id_col))
        .limit(k)
    )


def embedding_near_pairs(
    df: DataFrame,
    vec_col: str,
    dim: int,
    threshold: float = 0.9,
    num_planes: int = 12,
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: SRP bucket self-join →
    exact cosine verification. One shuffle on the signature."""
    sigs = srp_signatures(df, vec_col, dim, num_planes, id_col)
    a = sigs.select(
        F.col("srp_sig"), F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va")
    )
    b = sigs.select(
        F.col("srp_sig"), F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb")
    )
    pairs = a.join(b, "srp_sig").filter(F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a", "id_b", cosine(F.col("__va"), F.col("__vb")).alias("cos_sim")
    ).filter(F.col("cos_sim") >= threshold)


def ivf_centroids(df: DataFrame, vec_col: str, n_cells: int, id_col: str = "vec_id") -> DataFrame:
    """Deterministic centroid pick: the n_cells rows with smallest
    xxhash64(id) (a seeded sample). A k-means refinement pass can follow;
    for IVF bucketing, spread matters more than optimality."""
    return (
        df.select(
            F.col(id_col).alias("cell_id"),
            F.col(vec_col).alias("cell_vec"),
            F.xxhash64(F.col(id_col)).alias("__h"),
        )
        # orderBy+limit compiles to TakeOrderedAndProject: per-partition
        # top-n heaps + a driver merge of n_cells rows. A global-window
        # row_number() here would instead sort the ENTIRE table through
        # one partition — fatal at 100 TB for picking ~16 rows.
        .orderBy("__h", "cell_id")
        .limit(n_cells)
        .drop("__h")
    )


def ivf_assign(df: DataFrame, centroids: DataFrame, vec_col: str, id_col: str = "vec_id") -> DataFrame:
    """Assign each row to its nearest centroid — as a MAP-ONLY argmin.

    The centroid set is bounded driver state by construction (n_cells
    rows, like the PQ codebooks), so it is collected and unrolled into a
    ``greatest`` over (similarity, −cell_id) structs: zero shuffle, zero
    row blow-up, and the row's norm is computed once instead of once per
    centroid. The previous crossJoin + window form materialized
    n_cells× the corpus and shuffled it through a per-id window — at 2M
    vectors × 16 cells that measured 64 s vs ~4 s for this form (1000×
    scale sweep). Tie-breaking matches the old window exactly: highest
    similarity, then LOWEST cell_id — centroids are sorted by cell_id
    driver-side and the struct carries the NEGATED sort index, so
    greatest() resolves similarity ties toward the smallest cell_id
    while the emitted cell_id keeps its native type (string/UUID cell
    ids work; an int id is not forced to long).

    Note: collecting the (bounded) centroid set makes this call EAGER —
    it runs the centroid plan as a Spark job at DataFrame-construction
    time. Materialize centroids first (or pass a local-relation frame,
    as ``ivf_topk`` does) if building plans in a latency-sensitive loop.
    """
    import math

    cents = centroids.select("cell_id", "cell_vec").limit(10_001).collect()
    if len(cents) > 10_000:
        raise ValueError(
            "ivf_assign expects a bounded centroid set (n_cells rows); got "
            ">10k rows — this operator unrolls centroids into the plan"
        )
    if not cents:
        # empty centroid set → empty assignment, same schema as before
        return df.crossJoin(F.broadcast(centroids)).select(
            F.col(id_col), F.col(vec_col), F.col("cell_id")
        )
    cents = sorted(cents, key=lambda r: r["cell_id"])
    nv = norm(F.col(vec_col))
    structs = []
    for idx, r in enumerate(cents):
        cv = [float(x) for x in r["cell_vec"]]
        cn = math.sqrt(sum(x * x for x in cv))
        if cn == 0:
            sim = F.lit(0.0)
        else:
            sim = F.when(
                nv > 0,
                dot(F.col(vec_col), F.array(*[F.lit(x) for x in cv])) / (nv * F.lit(cn)),
            ).otherwise(F.lit(0.0))
        structs.append(F.struct(sim.alias("s"), F.lit(-idx).alias("ni")))
    best = structs[0] if len(structs) == 1 else F.greatest(*structs)
    ids_arr = F.array(*[F.lit(r["cell_id"]) for r in cents])
    return df.select(
        F.col(id_col),
        F.col(vec_col),
        F.element_at(ids_arr, -best["ni"] + 1).alias("cell_id"),
    )


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF two-stage search: rank cells by centroid similarity to the
    query, scan only the best ``n_probe`` cells, exact re-rank inside.
    At 100 TB the assignment table is written partitioned by cell_id, so
    the probe prunes partitions at the scan.

    ``centroids``/``assigned`` are that prebuilt index (outputs of
    ``ivf_centroids`` and ``ivf_assign``, materialized — ideally
    partitioned by cell_id): pass both and a probe touches only the
    centroid table plus the probed cells' rows, never re-deriving the
    assignment (the build/serve split; build is one corpus pass). The
    probe is a literal ``cell_id IN (...)`` filter (bounded collect of
    the <= n_probe ranked cells), so a cell_id-partitioned scan prunes
    STATICALLY — PartitionFilters at the scan, no join."""
    if (centroids is None) != (assigned is None):
        raise ValueError("pass centroids and assigned together (both halves of the index)")
    if centroids is not None:
        cents = centroids
    else:
        # Materialize the bounded centroid pick ONCE into a local
        # relation: both consumers below (ivf_assign's collect and the
        # probe-cell ranking) would otherwise each re-run the corpus
        # top-n scan.
        built = ivf_centroids(df, vec_col, n_cells, id_col)
        cents = built.sparkSession.createDataFrame(built.collect(), built.schema)
    assigned = assigned if assigned is not None else ivf_assign(df, cents, vec_col, id_col)
    q = _as_query_lit(query_vec)
    # Rank cells in Spark (the centroid table is bounded at n_cells
    # rows by construction), then collect the <= n_probe winning ids —
    # a bounded collect — and prune with a LITERAL isin. On a
    # cell_id-partitioned assignment table this is STATIC partition
    # pruning (PartitionFilters at the scan, no join, no dynamic
    # pruning subquery to hope for): only the probed cells' files are
    # ever listed or read. tests/test_plan_quality.py pins the shape.
    probe_ids = [
        r["cell_id"]
        for r in (
            cents.select("cell_id", cosine(F.col("cell_vec"), q).alias("__qs"))
            .orderBy(F.desc("__qs"), F.col("cell_id"))
            .limit(n_probe)
            .collect()
        )
    ]
    candidates = assigned.filter(
        F.col("cell_id").isin(probe_ids) if probe_ids else F.lit(False)
    )
    return (
        candidates.select(F.col(id_col), cosine(F.col(vec_col), q).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.col(id_col))
        .limit(k)
    )


def ivf_refine_centroids(
    df: DataFrame,
    vec_col: str,
    n_cells: int,
    n_iters: int = 3,
    id_col: str = "vec_id",
    train_fraction: float | None = None,
) -> DataFrame:
    """Lloyd's k-means refinement of the hash-sampled IVF seeds — the
    pass ``ivf_centroids`` promises. Better-centered cells mean tighter
    cell radii, so a fixed ``n_probe`` recovers more true neighbors
    (FAISS trains its coarse quantizer the same way; Lloyd 1982 /
    MacQueen 1967, public literature).

    Spark shape, per iteration: (1) the map-only ``ivf_assign`` argmin —
    zero shuffle; (2) per-cell mean vector via ``posexplode`` →
    (cell_id, dim)-keyed avg — ONE shuffle, map-side partial aggregation,
    key cardinality n_cells×dim; (3) the n_cells×dim means collect to
    the driver (bounded state, e.g. 256 cells × 768 dims ≈ 1.5 MB) and
    seed the next round as a local relation. Cosine assignment is
    scale-invariant, so the plain mean serves as the spherical-k-means
    centroid without renormalizing.

    ``train_fraction`` trains on a seeded sample (the standard practice
    at corpus scale — FAISS trains on ~30-256 vectors/cell); the final
    full-corpus ``ivf_assign`` against the refined centroids is the
    caller's build step. A cell that captures no training rows keeps its
    previous centroid (classic empty-cell fallback). Returns the same
    (cell_id, cell_vec) shape as ``ivf_centroids`` — cell ids keep their
    native values/type; only the vectors move.
    """
    if n_iters < 0:
        raise ValueError(f"n_iters must be >= 0, got {n_iters}")
    if train_fraction is not None and not 0.0 < train_fraction <= 1.0:
        raise ValueError(f"train_fraction must be in (0, 1], got {train_fraction}")
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    spark = df.sparkSession
    train = df.sample(train_fraction, seed=7) if train_fraction else df
    seeds = ivf_centroids(train, vec_col, n_cells, id_col)
    id_type = seeds.schema["cell_id"].dataType
    schema = StructType(
        [
            StructField("cell_id", id_type, True),
            StructField("cell_vec", ArrayType(DoubleType()), True),
        ]
    )
    rows = [
        (r["cell_id"], [float(x) for x in r["cell_vec"]]) for r in seeds.collect()
    ]
    if not rows:
        raise ValueError(
            "ivf_refine_centroids: no training rows — the corpus is empty "
            "or train_fraction sampled everything away; an empty centroid "
            "set would silently produce an index that matches nothing"
        )
    for _ in range(n_iters):
        local = spark.createDataFrame(rows, schema)
        assigned = ivf_assign(train, local, vec_col, id_col)
        means = (
            assigned.select(
                "cell_id", F.posexplode(F.col(vec_col)).alias("__d", "__x")
            )
            .groupBy("cell_id", "__d")
            .agg(F.avg("__x").alias("__m"))
            .collect()
        )
        by_cell: dict = {}
        for m in means:
            by_cell.setdefault(m["cell_id"], {})[m["__d"]] = m["__m"]
        rows = [
            (
                cell_id,
                [float(dims[i]) for i in range(len(dims))]
                if (dims := by_cell.get(cell_id))
                else vec,
            )
            for cell_id, vec in rows
        ]
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# Product quantization (PQ): compressed-domain ANN (FAISS-PQ structure,
# Jégou et al. "Product Quantization for Nearest Neighbor Search", 2011)
# ---------------------------------------------------------------------------


def _check_pq_geometry(dim: int, n_sub: int) -> None:
    """``dim`` must split evenly into ``n_sub`` subvectors — a remainder
    would silently DROP the trailing ``dim % n_sub`` dimensions from
    every distance computation (slice-based subvector extraction covers
    only n_sub·(dim // n_sub) positions), biasing ADC distances with no
    error. Same failure class as an LSH band grid that doesn't tile the
    signature; fail loudly instead."""
    if n_sub <= 0 or dim % n_sub != 0:
        raise ValueError(
            f"dim ({dim}) must be divisible by n_sub ({n_sub}); a remainder "
            f"would silently ignore the last {dim % n_sub if n_sub > 0 else dim} "
            "dimensions of every vector"
        )


def _check_codebook_geometry(
    keys_to_vecs: dict, n_sub: int, sub_len: int
) -> None:
    """Prebuilt-index guard shared by pq_topk / ivf_pq_topk: a codebook
    built with a different geometry must raise, not bias distances.
    Two silent-corruption paths are closed here: (a) subspace coverage —
    missing/extra subspaces mean the LUT is indexed past its bounds;
    (b) subvector length — ``zip(query_slice, code_vec)`` TRUNCATES to
    the shorter side, so a codebook whose code_vec length differs from
    dim // n_sub (same n_sub, different dim) would quietly compute ADC
    over a prefix of each subvector."""
    subs_seen = {s for s, _ in keys_to_vecs}
    if subs_seen and subs_seen != set(range(n_sub)):
        raise ValueError(
            f"codebook covers subspaces {sorted(subs_seen)} but n_sub={n_sub} "
            f"expects 0..{n_sub - 1}; the index was built with a different "
            "geometry"
        )
    for (s, c), vec in keys_to_vecs.items():
        if len(vec) != sub_len:
            raise ValueError(
                f"codebook entry (sub={s}, code={c}) has {len(vec)} dims but "
                f"dim//n_sub = {sub_len}; the index was built for a different "
                "vector dim — zip() would silently truncate the ADC table"
            )


def pq_codebooks(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_sub: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic per-subspace codebooks: split each vector into
    ``n_sub`` contiguous subvectors; each subspace's ``n_codes``
    centroids are hash-sampled rows' subvectors (the ivf_centroids
    pick, once per subspace — ``pq_refine_codebooks`` is the k-means
    refinement that replaces the pick without changing any downstream
    shape).

    Returns (sub, code, code_vec): n_sub × n_codes rows — always tiny,
    always broadcastable.
    """
    _check_pq_geometry(dim, n_sub)
    sub_len = dim // n_sub
    sample = (
        df.select(id_col, vec_col, F.xxhash64(F.col(id_col)).alias("__h"))
        .orderBy("__h", id_col)
        .limit(n_codes)
        .select(vec_col, F.row_number().over(Window.orderBy("__h", id_col)).alias("code"))
    )
    # the limit(n_codes) result is n_codes rows; the window above runs
    # on that tiny set only (not the corpus), so the sort is trivial
    subs = sample.select(
        (F.col("code") - 1).alias("code"),
        F.posexplode(
            F.array(*[
                F.slice(vec_col, i * sub_len + 1, sub_len) for i in range(n_sub)
            ])
        ).alias("sub", "code_vec"),
    )
    return subs.select("sub", "code", "code_vec")


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    vec_col: str,
    dim: int,
    n_sub: int = 8,
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode each vector as ``n_sub`` small codes: per subspace, the
    nearest codebook entry by L2. Broadcast join against the (tiny)
    codebook, argmin via min(struct) — one map-side pass, one
    per-(id, sub) combine, no window over the corpus.

    Returns (id, codes array<int>) — the 100 TB memory story: dim
    floats become n_sub bytes (here ints), a 32× compression at
    dim=64/n_sub=8.
    """
    _check_pq_geometry(dim, n_sub)
    sub_len = dim // n_sub
    parts = df.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[
                F.slice(vec_col, i * sub_len + 1, sub_len) for i in range(n_sub)
            ])
        ).alias("sub", "__sv"),
    )
    scored = parts.join(F.broadcast(codebooks), "sub").select(
        id_col,
        "sub",
        F.struct(
            F.aggregate(
                F.zip_with("__sv", "code_vec", lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("d2"),
            F.col("code"),
        ).alias("__s"),
    )
    best = scored.groupBy(id_col, "sub").agg(F.min("__s").alias("__b"))
    return (
        best.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("sub", F.col("__b.code").alias("code")))).alias("__sc"))
        .select(id_col, F.expr("transform(__sc, s -> s.code)").alias("codes"))
    )


def pq_refine_codebooks(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_sub: int = 8,
    n_codes: int = 16,
    n_iters: int = 3,
    id_col: str = "vec_id",
    train_fraction: float | None = None,
) -> DataFrame:
    """Lloyd's k-means refinement of the hash-sampled PQ codebooks —
    the replacement pass ``pq_codebooks`` promises. Trained codebooks
    shrink per-subspace quantization error, which tightens ADC distance
    estimates and so recall at a fixed ``rerank`` (FAISS trains its
    product quantizer exactly this way).

    Assignment REUSES ``pq_encode`` each iteration, so training can
    never diverge from the serving-path encoder; the update step is
    per-(sub, code, dim) means via posexplode + hash agg — shuffles
    keyed on tiny cardinalities, map-side combined, over the TRAINING
    sample only. Driver state per round is n_sub × n_codes × (dim/n_sub)
    doubles — exactly one codebook. Codes that capture no training rows
    keep their previous centroid. Same (sub, code, code_vec) output
    shape as ``pq_codebooks``; pass the result anywhere a codebook goes
    (``pq_encode``, the ADC table build).
    """
    _check_pq_geometry(dim, n_sub)
    if n_iters < 0:
        raise ValueError(f"n_iters must be >= 0, got {n_iters}")
    if train_fraction is not None and not 0.0 < train_fraction <= 1.0:
        raise ValueError(f"train_fraction must be in (0, 1], got {train_fraction}")
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    spark = df.sparkSession
    train = df.sample(train_fraction, seed=7) if train_fraction else df
    books = pq_codebooks(train, vec_col, dim, n_sub, n_codes, id_col)
    rows = [
        (r["sub"], r["code"], [float(x) for x in r["code_vec"]])
        for r in books.collect()
    ]
    if not rows:
        raise ValueError(
            "pq_refine_codebooks: no training rows — the corpus is empty "
            "or train_fraction sampled everything away; an empty codebook "
            "would silently encode nothing"
        )
    schema = StructType(
        [
            StructField("sub", IntegerType(), True),
            StructField("code", IntegerType(), True),
            StructField("code_vec", ArrayType(DoubleType()), True),
        ]
    )
    sub_len = dim // n_sub
    parts = train.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[
                F.slice(vec_col, i * sub_len + 1, sub_len) for i in range(n_sub)
            ])
        ).alias("sub", "__sv"),
    )
    for _ in range(n_iters):
        local = spark.createDataFrame(rows, schema)
        assign = pq_encode(train, local, vec_col, dim, n_sub, id_col).select(
            F.col(id_col), F.posexplode("codes").alias("sub", "code")
        )
        means = (
            parts.join(assign, [id_col, "sub"])
            .select("sub", "code", F.posexplode("__sv").alias("__d", "__x"))
            .groupBy("sub", "code", "__d")
            .agg(F.avg("__x").alias("__m"))
            .collect()
        )
        by_code: dict = {}
        for m in means:
            by_code.setdefault((m["sub"], m["code"]), {})[m["__d"]] = m["__m"]
        rows = [
            (
                sub,
                code,
                [float(dims[i]) for i in range(len(dims))]
                if (dims := by_code.get((sub, code)))
                else vec,
            )
            for sub, code, vec in rows
        ]
    return spark.createDataFrame(rows, schema)


def pq_topk(
    df: DataFrame,
    vec_col: str,
    query_vec: list[float],
    dim: int,
    k: int = 10,
    n_sub: int = 8,
    n_codes: int = 16,
    rerank: int = 50,
    id_col: str = "vec_id",
    codebooks: DataFrame | None = None,
    encoded: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) search: per subspace, precompute the
    query→centroid distance table (n_sub × n_codes scalars, broadcast
    as a literal map into codegen); approximate distance per encoded
    vector = sum of table lookups on its codes; exact cosine re-ranks
    the best ``rerank`` candidates.

    Scale shape: the scan touches only the codes column (n_sub ints a
    row); the ADC sum is a map expression; TakeOrderedAndProject keeps
    the shortlist; only ``rerank`` rows ever read their full vector
    (via join back to the store).

    ``codebooks``/``encoded`` are the prebuilt index (outputs of
    ``pq_codebooks``/``pq_refine_codebooks`` and ``pq_encode``,
    materialized): pass both and a probe reads only the tiny codebook
    table plus the codes column — the same build/serve split as
    ``srp_topk``/``ivf_topk``; build is one corpus pass."""
    _check_query_dim(query_vec, dim)
    _check_pq_geometry(dim, n_sub)
    if (codebooks is None) != (encoded is None):
        raise ValueError("pass codebooks and encoded together (both halves of the index)")
    books = (
        codebooks
        if codebooks is not None
        else pq_codebooks(df, vec_col, dim, n_sub, n_codes, id_col)
    )
    encoded = (
        encoded
        if encoded is not None
        else pq_encode(df, books, vec_col, dim, n_sub, id_col)
    )
    sub_len = dim // n_sub
    # LUT geometry comes from the codebook itself: with a PREBUILT
    # index, trusting the n_sub/n_codes parameters against a codebook
    # built differently would corrupt every ADC distance with no error
    # (out-of-bounds LUT index → null, or zip-truncated subvectors).
    book_rows = {(r["sub"], r["code"]): r["code_vec"] for r in books.collect()}
    _check_codebook_geometry(book_rows, n_sub, sub_len)
    # driver-side distance table: n_sub × n_codes floats (tiny, exact)
    table = {
        (s, c): sum(
            (float(q) - float(cv)) ** 2
            for q, cv in zip(query_vec[s * sub_len : (s + 1) * sub_len], vec)
        )
        for (s, c), vec in book_rows.items()
    }
    n_codes_eff = max((c for _, c in table), default=n_codes - 1) + 1
    adc = None
    for s in range(n_sub):
        lut = F.array(
            *[F.lit(table.get((s, c), float("inf"))) for c in range(n_codes_eff)]
        )
        term = F.element_at(lut, F.col("codes")[s] + 1)
        adc = term if adc is None else adc + term
    shortlist = (
        encoded.select(id_col, adc.alias("adc_d2"))
        .orderBy("adc_d2", id_col)
        .limit(rerank)
    )
    q = _as_query_lit(query_vec)
    return (
        shortlist.join(df.select(id_col, vec_col), id_col)
        .select(id_col, cosine(F.col(vec_col), q).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), id_col)
        .limit(k)
    )


def ivf_pq_topk(
    df: DataFrame,
    vec_col: str,
    query_vec: list[float],
    dim: int,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    n_sub: int = 8,
    n_codes: int = 16,
    rerank: int = 50,
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    encoded: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ composed search (the full FAISS IVFPQ structure): coarse
    quantizer routes each vector to a cell; PQ encodes the RESIDUAL
    (vector − cell centroid), which is what makes few codebook entries
    accurate — residuals are centered near zero regardless of where
    the cell sits; the query probes ``n_probe`` cells, scanning codes
    with a PER-CELL ADC table (the query residual differs per cell),
    and the exact re-rank touches only the shortlist.

    Scale: storage per vector = 1 cell id + n_sub codes; a probe scans
    n_probe/n_cells of the corpus, in the compressed domain, with the
    assignment table partitioned by cell_id for scan pruning. All
    driver-side state is centroids + codebooks (n_cells·dim +
    n_sub·n_codes·sub_len floats — KBs).

    ``centroids``/``codebooks``/``encoded`` are the prebuilt index
    (cell centroids, RESIDUAL-space codebooks, and the per-row
    (id, cell_id, codes) table — materialize all three from one build
    pass, ideally partitioning ``encoded`` by cell_id): pass all three
    and a probe reads only the two tiny tables plus the probed cells'
    codes; only the ``rerank`` shortlist joins back to ``df`` for exact
    re-ranking. Same build/serve split as the other ``*_topk`` forms."""
    _check_query_dim(query_vec, dim)
    _check_pq_geometry(dim, n_sub)
    sub_len = dim // n_sub
    prebuilt = [centroids, codebooks, encoded]
    if any(x is not None for x in prebuilt) and not all(
        x is not None for x in prebuilt
    ):
        raise ValueError(
            "pass centroids, codebooks and encoded together (all three "
            "pieces of the IVF-PQ index)"
        )
    if centroids is not None:
        cents, books = centroids, codebooks
    else:
        cents = ivf_centroids(df, vec_col, n_cells, id_col)
        assigned = ivf_assign(df, cents, vec_col, id_col).join(
            F.broadcast(cents), "cell_id"
        )
        residuals = assigned.select(
            id_col,
            "cell_id",
            F.zip_with(
                F.col(vec_col), F.col("cell_vec"), lambda x, y: x - y
            ).alias("__res"),
        )
        books = pq_codebooks(residuals, "__res", dim, n_sub, n_codes, id_col)
        encoded = residuals.join(
            pq_encode(residuals, books, "__res", dim, n_sub, id_col), id_col
        ).select(id_col, "cell_id", "codes")

    cent_rows = {r["cell_id"]: list(r["cell_vec"]) for r in cents.collect()}
    book_rows = {(r["sub"], r["code"]): list(r["code_vec"]) for r in books.collect()}
    # Same LUT-geometry guard as pq_topk: a prebuilt codebook's shape
    # (subspace coverage AND subvector length) wins over the parameters.
    _check_codebook_geometry(book_rows, n_sub, sub_len)
    n_codes = max((c for _, c in book_rows), default=n_codes - 1) + 1
    # probe the n_probe closest cells (driver-side: n_cells rows)
    import math as _m

    def _cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = _m.sqrt(sum(x * x for x in a))
        nb = _m.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na > 0 and nb > 0 else 0.0

    probed = sorted(
        cent_rows, key=lambda c: (-_cos(query_vec, cent_rows[c]), c)
    )[:n_probe]

    shortlists = []
    for cell in probed:
        qres = [q - c for q, c in zip(query_vec, cent_rows[cell])]
        adc = None
        for s in range(n_sub):
            dists = [
                sum(
                    (qr - cv) ** 2
                    for qr, cv in zip(
                        qres[s * sub_len : (s + 1) * sub_len],
                        book_rows.get((s, c), [float("inf")] * sub_len),
                    )
                )
                for c in range(n_codes)
            ]
            lut = F.array(*[F.lit(d) for d in dists])
            term = F.element_at(lut, F.col("codes")[s] + 1)
            adc = term if adc is None else adc + term
        shortlists.append(
            encoded.filter(F.col("cell_id") == cell)
            .select(id_col, adc.alias("adc_d2"))
            .orderBy("adc_d2", id_col)
            .limit(rerank)
        )
    from functools import reduce

    shortlist = reduce(lambda a, b: a.unionByName(b), shortlists)
    q = _as_query_lit(query_vec)
    return (
        shortlist.join(df.select(id_col, vec_col), id_col)
        .select(id_col, cosine(F.col(vec_col), q).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), id_col)
        .limit(k)
    )
