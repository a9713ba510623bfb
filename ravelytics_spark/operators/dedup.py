"""Deduplication operators for training-data pipelines (SURVEY OP-X1/X2).

Three strategies, ordered by cost:

- ``dedup_exact`` — hash groupBy on the key columns. One shuffle;
  map-side combine makes it O(distinct) across the wire.
- ``minhash_signatures`` / ``minhash_lsh_candidates`` — MinHash + LSH
  banding: shingle → k hash permutations → per-band buckets →
  bucket-join. Near-linear; the scale path. Hashing is ``xxhash64(seed,
  shingle)`` — deterministic, no fitted model needed (unlike
  pyspark.ml's MinHashLSH, this needs no fit() and the signature is
  reproducible across runs/clusters).
- ``simhash_signatures`` — 64-bit SimHash; near-dups differ in few bits.
  Native bit arithmetic (no UDF).

All operators are deterministic (seeded hashes); LSH recall is
property-tested on planted duplicates rather than oracle-hashed
(SURVEY §7 hard-point 4).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedup_exact(df: DataFrame, cols: Sequence[str], keep_by: str | None = None) -> DataFrame:
    """Keep one row per distinct value of ``cols``.

    With ``keep_by`` the kept row is deterministic (min of that column —
    'first ingested wins'); otherwise ``dropDuplicates`` (arbitrary
    but single-shuffle).
    """
    if keep_by is None:
        return df.dropDuplicates(list(cols))
    w = Window.partitionBy(*cols).orderBy(F.col(keep_by).asc())
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def _hashed_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle-hash) rows without building shingle STRINGS: explode
    word hashes, combine n consecutive ones per doc with window leads.

    String n-gram construction (slice + array_join over a lambda) runs in
    Spark's interpreted higher-order-function path and dominated profile
    (~8s for 250k shingles at sf0.1); hashing word-by-word and combining
    hashes is pure codegen. Docs shorter than n words emit one row
    combining what exists (nulls coalesced to a pad), mirroring the
    whole-doc-shingle fallback of ``shingles``. The window shuffle keys
    on the doc id — the same key every downstream signature/set
    aggregation groups on, so the exchange is reused, not repeated.
    """
    # The explicit isNotNull matters beyond semantics (a null id can't
    # be deduped anyway): downstream joins on the id infer IsNotNull and
    # push it to the scan — if only SOME consumers carry the filter, the
    # scan subtrees stop being canonically equal and AQE's
    # ReusedExchange can't dedupe them (measured: 2× full recompute).
    words = df.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        # trim first: split("  a b", "\s+") yields a "" token at pos 0,
        # which tokenize_ws/shingles (the string path) filter out — the
        # two paths must tokenize whitespace-padded docs identically.
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("__p", "__w"),
    ).select("__id", "__p", F.xxhash64("__w").alias("__hw"))
    w = Window.partitionBy("__id").orderBy("__p")
    leads = [F.col("__hw")] + [F.lead("__hw", i).over(w) for i in range(1, n)]
    keep = F.col(f"__l{n - 1}").isNotNull() | (F.col("__p") == 0)
    with_leads = words.select(
        "__id", "__p", *[c.alias(f"__l{i}") for i, c in enumerate(leads)]
    )
    return (
        with_leads.filter(keep)
        .select(
            "__id",
            F.xxhash64(
                *[F.coalesce(F.col(f"__l{i}"), F.lit(-1)) for i in range(n)]
            ).alias("__shash"),
        )
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 5, num_hashes: int = 64
) -> DataFrame:
    """MinHash signature per document: for seed i in 0..k-1,
    sig[i] = min over shingles of xxhash64(i, shingle).

    Physical shape: hashed shingles (``_hashed_shingles`` — no string
    n-grams, pure codegen) → groupBy(id) with k ``min`` aggregates (the
    k permutations are cheap re-hashes ``h_i(x) = xxhash64(i, h(x))`` of
    the base hash). The k mins are plain aggregate expressions with
    map-side partial aggregation — one pre-combined row per doc crosses
    the shuffle, and MinHash over a multiset equals MinHash over the set,
    so no dedup pass is needed. (A no-shuffle formulation via nested
    array ``transform`` lambdas exists but Spark executes
    higher-order-function lambdas interpreted, measured ~50× slower —
    the explode+hash-agg form is the scale path.)
    """
    hashed = _hashed_shingles(df, id_col, text_col, n)
    # One parsed-SQL expression instead of 64 × (min∘xxhash64∘lit∘col∘alias)
    # Column objects: each F.* call is a py4j round-trip, and the chatter
    # (~320 JVM calls) dominated plan-build time for the whole minhash
    # family (guide §7.3 — driver-side work). An int literal in SQL text is
    # IntegerType exactly like F.lit(i), so the seeded hashes are bit-equal.
    return hashed.groupBy("__id").agg(F.expr(_sig_array_sql(num_hashes)).alias("__sig"))


def _sig_array_sql(num_hashes: int) -> str:
    """SQL text for the k-min signature array aggregate (see
    ``minhash_signatures`` for why parsed SQL rather than Column chains)."""
    return (
        "array("
        + ",".join(f"min(xxhash64({i}, __shash))" for i in range(num_hashes))
        + ")"
    )


def _banded(signatures: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(id, band, bucket) rows: bucket per band = hash of that band's
    signature slice. Literal index access unrolled at plan-build time —
    plain codegen'd expressions, not interpreted higher-order lambdas;
    built as one parsed-SQL string (one py4j call, not ~bands×rows)."""
    buckets = ",".join(
        "hash("
        + ",".join(f"__sig[{b * rows_per_band + j}]" for j in range(rows_per_band))
        + ")"
        for b in range(bands)
    )
    return signatures.select(
        "__id", F.expr(f"posexplode(array({buckets}))").alias("__band", "__bucket")
    )


def minhash_lsh_candidates(
    signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: int | None = 500,
) -> DataFrame:
    """LSH banding over signatures from ``minhash_signatures``.

    Each signature splits into ``bands`` bands of ``rows_per_band``
    values; documents agreeing on ALL values in any band become a
    candidate pair. Emits distinct (id_a, id_b), id_a < id_b.

    Scale: one explode (×bands) + one shuffle on (band, bucket-hash).
    Hot buckets (boilerplate/empty docs colliding into one bucket) would
    otherwise cost |bucket|² in the self-join — a single million-doc
    bucket is 5×10¹¹ pairs. ``max_bucket_size`` caps each (band, bucket)
    to its first N members by id (row_number over the SAME key the join
    shuffles on — the exchange is reused). A true dup pair truncated out
    of a mega-bucket almost always shares one of the other bands'
    (small) buckets, so recall on genuine near-dups is preserved; use
    ``lsh_bucket_stats`` to audit what a cap drops. ``None`` disables.
    """
    banded = _banded(signatures, bands, rows_per_band)
    if max_bucket_size is not None:
        w = Window.partitionBy("__band", "__bucket").orderBy("__id")
        banded = (
            banded.withColumn("__bn", F.row_number().over(w))
            .filter(F.col("__bn") <= max_bucket_size)
            .drop("__bn")
        )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__bucket") == F.col("b.__bucket"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )


def lsh_bucket_stats(
    signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: int | None = 500,
) -> DataFrame:
    """Per-(band, bucket) audit for the hot-bucket cap: member count and
    how many same-bucket pairs the cap drops
    (C(size,2) − C(min(size,cap),2)). Sum ``dropped_pairs`` for the
    dropped-pair counter; rows with dropped_pairs > 0 are the buckets a
    tighter/looser cap would change."""
    sizes = _banded(signatures, bands, rows_per_band).groupBy(
        "__band", "__bucket"
    ).agg(F.count("*").alias("bucket_size"))
    kept = (
        F.least(F.col("bucket_size"), F.lit(max_bucket_size))
        if max_bucket_size is not None
        else F.col("bucket_size")
    )
    pairs = lambda n: (n * (n - F.lit(1))) / F.lit(2)  # noqa: E731
    return sizes.select(
        "__band",
        "__bucket",
        "bucket_size",
        (pairs(F.col("bucket_size")) - pairs(kept)).cast("long").alias("dropped_pairs"),
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket_size: int | None = 500,
) -> DataFrame:
    """Full near-dup pipeline: MinHash → LSH candidates → exact Jaccard
    verification on candidates only. Returns (id_a, id_b, jaccard).

    Single-execution shape: ONE aggregation over the (id, shingle-hash)
    rows builds the signature mins AND the per-doc hash-set array the
    verification intersects, and an eager local checkpoint makes that
    doc-level frame the one input of the banding and both verify sides,
    so the scan → tokenize → sort → lead-window pipeline (the profile's
    dominant cost) runs exactly once (see the comment below)."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands}): "
            f"a remainder would silently ignore {num_hashes % bands} signature "
            "positions the caller paid to compute (and shift the LSH "
            "collision-probability curve away from the requested geometry)"
        )
    rows_per_band = num_hashes // bands
    # Parsed-SQL signature aggregate (see minhash_signatures): one py4j
    # call instead of ~320 for the 64-min Column chain.
    sig_agg = F.expr(_sig_array_sql(num_hashes)).alias("__sig")

    # ONE agg builds signature mins + the verify set, and a lineage cut
    # makes it a single shared RDD. An exchange barrier is not enough:
    # the three consumers (banding, both verify sides) prune DIFFERENT
    # columns (mins vs hset), Catalyst pushes the divergent projections
    # below any repartition, the subtrees stop being canonically equal,
    # and ReusedExchange dies — measured: the scan → tokenize → sort →
    # lead-window → dedup pipeline re-executed per branch. The checkpoint stores the
    # doc-level frame (ids + signatures + hash sets — the signature
    # store a production dedup service persists anyway, ~per-doc
    # shingle count × 8 bytes).
    #
    # Shape (r13, interleaved A/B, all byte-identical):
    # - NO pre-agg (__id,__shash) dedup pass: the window exchange
    #   already clusters by __id so the dedup agg was shuffle-free, and
    #   collect_set dedups its input anyway (MinHash over a multiset ==
    #   over the set) — the extra hash-agg layer only re-walked the
    #   shingle rows.
    # - NO explicit repartition: it was the pre-checkpoint reuse point;
    #   with the checkpoint as the reuse point it is dead weight — the
    #   committed plans (plans/r13/x2_sigstore_before.txt) show the
    #   planner already collapsing it into the window's
    #   hashpartitioning(__id) exchange, and the A/B agrees (A->B med
    #   1.285 vs 1.284: neutral). Dropped as cleanup.
    # - Checkpoint stays EAGER. A lazy checkpoint measured ~5% faster
    #   still (med 1.151 vs 1.207) but the r12 warning proved right at
    #   scale: the three consumer stages race to materialize it inside
    #   one job and the sf1 sweep logged hundreds of ERROR-level
    #   "attempted to access non-existent accumulator" DAGScheduler
    #   stack traces (driver-facing stderr noise + duplicated partition
    #   compute in the race) — reverted after measuring both.
    doc = (
        _hashed_shingles(df, id_col, text_col, n)
        .groupBy("__id")
        .agg(F.collect_set("__shash").alias("__hset"), sig_agg)
        .localCheckpoint(eager=True)
    )
    sigs = doc.select("__id", "__sig")
    cand = minhash_lsh_candidates(sigs, bands, rows_per_band, max_bucket_size)
    sa = doc.select(F.col("__id").alias("id_a"), F.col("__hset").alias("__sa"))
    sb = doc.select(F.col("__id").alias("id_b"), F.col("__hset").alias("__sb"))
    inter = F.size(F.array_intersect("__sa", "__sb"))
    verified = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                inter.cast("double")
                / (F.size("__sa") + F.size("__sb") - inter).cast("double")
            ).alias("jaccard"),
        )
    )
    return verified.filter(F.col("jaccard") >= threshold)


_SIMHASH_MAX_TOKENS = 32767  # 16-bit lane capacity − 1: no lane can overflow


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document, fully native bit arithmetic:

    For bit j: count tokens whose xxhash64 has bit j set vs unset; the
    signature bit is the majority (ties → 0). Near-duplicate docs differ
    in few bits (compare with ``bit_count(sig_a ^ sig_b)``).

    Physical shape — lane-packed vote aggregation: per token, the 64
    hash bits are packed into 16 longs of four 16-bit lanes each
    (bit 4g+l → lane l of long g), so the per-doc aggregation state is
    16 SUM buffers instead of 64. Measured in the 1000× scale sweep
    (SCALING.md): the 64-SUM form went super-linear at 5M docs / 330M
    token rows because its 512-byte aggregation rows blew past the
    map-side partial-agg hash map; packing shrinks the state 4×. Lane
    sums can never carry because the token stream is capped map-side
    (``slice`` before explode — no extra shuffle) at 32,767 tokens per
    document: the signature of a longer doc is computed over its first
    32,767 tokens, which for near-dup detection is indistinguishable in
    practice and keeps every lane strictly below 2^16. Set-bit counts
    come back out of the sums with shift/mask; bit j is set iff
    2·count_ones(j) > n (identical to the ±1-vote majority).
    """
    import functools

    from pyspark.sql import Column

    tokens = F.slice(
        F.split(F.trim(F.col(text_col)), r"\s+"), 1, _SIMHASH_MAX_TOKENS
    )
    hashed = df.select(
        F.col(id_col).alias("__id"), F.explode(tokens).alias("__w")
    ).select("__id", F.xxhash64("__w").alias("__h"))

    one = F.lit(1).cast("long")

    def lane_packed(g: int) -> F.Column:
        # four 16-bit lanes: bit 4g+l of the hash → lane l of long g
        return functools.reduce(
            Column.__add__,
            [
                F.shiftleft(
                    F.shiftright(F.col("__h"), 4 * g + lane).bitwiseAND(one),
                    16 * lane,
                )
                for lane in range(4)
            ],
        )

    sums = [F.sum(lane_packed(g)).alias(f"__s{g}") for g in range(16)]
    agg = hashed.groupBy("__id").agg(F.count("*").alias("__n"), *sums)

    def ones(j: int) -> F.Column:  # count of tokens with hash bit j set
        g, lane = divmod(j, 4)
        return F.shiftright(F.col(f"__s{g}"), 16 * lane).bitwiseAND(
            F.lit(0xFFFF).cast("long")
        )

    bits = [
        F.when(ones(j) * 2 > F.col("__n"), F.shiftleft(one, j)).otherwise(
            F.lit(0).cast("long")
        )
        for j in range(64)
    ]
    sig = functools.reduce(Column.bitwiseOR, bits)
    return agg.select("__id", sig.alias("simhash"))


def simhash_near_pairs(
    signatures: DataFrame,
    max_hamming: int = 3,
    n_blocks: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance.

    Candidate generation uses the pigeonhole trick: split the 64-bit
    signature into ``n_blocks`` pieces; two signatures differing in
    ≤ ``n_blocks`` − 1 bits must agree on at least one whole piece —
    join per piece instead of N². One explode (×n_blocks) + one shuffle.

    ``n_blocks`` defaults to the smallest divisor of 64 that is at
    least ``max_hamming + 1`` — the minimum piece count that makes the
    candidate set COMPLETE for the requested radius while tiling the
    signature evenly: the classic 4 blocks of 16 bits for the default
    radius 3; radius 4-7 → 8 blocks of 8 bits; radius 8-15 → 16 blocks
    of 4 bits. Wider radii shrink the pieces, so each bucket collides
    more signatures — candidate volume grows sharply per halving of
    piece width; beyond ~15 bits of radius, MinHash is the better
    tool. An explicit ``n_blocks`` below ``max_hamming + 1`` raises:
    pairs could spread one flip into every piece, share none, and
    silently vanish from the candidates.

    ``max_bucket_size`` is an OPT-IN hot-bucket cap, exactly as in
    ``minhash_lsh_candidates``: a (block_idx, value) bucket is capped to
    its first N members by id BEFORE the self-join. The default (None)
    preserves the complete-for-the-radius contract above — with a cap, a
    true near-dup pair whose ONLY agreeing block lands in a hot bucket
    (e.g. 3 flips spread across 3 different blocks leave exactly one
    agreeing block) is silently dropped, so enabling it trades
    completeness for bounded cost on dense corpora. The cap bounds the
    DENSE-corpus blowup — 16-bit pieces hold only 65,536 distinct
    values, so at ~5M signatures a random corpus averages ~300 members
    per bucket (~45k candidate pairs each, ~3·10⁹ total) with no
    near-dups at all; the cap turns that into C(cap,2) per bucket. A
    true near-dup pair truncated from one block's bucket almost always
    shares another (small) block bucket, but the guarantee is gone. An
    EXACT-duplicate cluster larger than the cap is the worst case:
    it collides identically in every block, so all blocks keep the same
    first-N members and pairs among the overflow are missed — run exact
    dedup (cheap hash-agg) BEFORE SimHash, which removes that cluster
    shape entirely.
    """
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    if n_blocks is None:
        n_blocks = next(
            b for b in (1, 2, 4, 8, 16, 32, 64) if b > max_hamming
        ) if max_hamming < 64 else 64
    if n_blocks <= max_hamming:
        raise ValueError(
            f"n_blocks={n_blocks} breaks the pigeonhole guarantee for "
            f"max_hamming={max_hamming} (needs >= max_hamming + 1): pairs "
            "could differ in every block and would be silently missed"
        )
    if not 1 <= n_blocks <= 64 or 64 % n_blocks != 0:
        raise ValueError(
            f"n_blocks={n_blocks} must divide the 64-bit signature evenly "
            "(1, 2, 4, 8, 16, 32, or 64)"
        )
    width = 64 // n_blocks
    mask = F.lit((1 << width) - 1).cast("long")
    blocks = signatures.select(
        "__id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), b * width).bitwiseAND(mask)
                    for b in range(n_blocks)
                ]
            )
        ).alias("__block_idx", "__block"),
    )
    if max_bucket_size is not None:
        w = Window.partitionBy("__block_idx", "__block").orderBy("__id")
        blocks = (
            blocks.withColumn("__bn", F.row_number().over(w))
            .filter(F.col("__bn") <= max_bucket_size)
            .drop("__bn")
        )
    a = blocks.alias("a")
    b = blocks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.__block_idx") == F.col("b.__block_idx"))
            & (F.col("a.__block") == F.col("b.__block"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def simhash_near_pairs_multitable(
    signatures: DataFrame,
    max_hamming: int = 3,
    p_blocks: int = 6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SimHash near-pairs for DENSE corpora: multi-table block-combination
    candidate keys (the scheme of Manku, Jain & Das Sarma, "Detecting
    Near-Duplicates for Web Crawling", WWW 2007 — public literature).

    Single-block pigeonhole keys (``simhash_near_pairs``) are 64/p bits
    wide; at millions of signatures a 16-bit key space (65,536 values)
    is DENSE — ~7.5x10^8 spurious candidate pairs at 5M random docs with
    zero true near-dups. This variant splits the signature into
    ``p_blocks`` pieces and keys each of C(p, p-k) tables on the
    CONCATENATION of a distinct (p-k)-subset of pieces: a pair differing
    in <= k bits dirties <= k pieces, leaves >= p-k clean, and therefore
    matches ALL pieces of at least one subset — completeness holds —
    while each key now carries ~64*(p-k)/p bits (32 bits for p=6, k=3),
    making random collisions ~2^16x rarer than 16-bit block keys.

    Cost shape: explode x C(p, p-k) tables (20 for the default) — 5x the
    rows of the 4-block scheme — but the self-join buckets are ~uniform
    and tiny, so the join's PAIR work tracks true near-dup density, not
    corpus density. Measured crossover (local[32], random signatures,
    planted pair recalled by both): at 5M signatures the block scheme
    still wins on wall clock (27s vs 164s — its ~7.5x10^8 spurious
    candidates stream through a count-free distinct faster than this
    scheme's 20x explode shuffles), but block candidates grow as
    N^2/65536 — ~7.5x10^10 at 50M, intractable — while these 32-bit
    keys keep total candidates ~N^2/2^32 per table. Use the block
    scheme to ~5-10M signatures and this one beyond.

    Exact ``bit_count`` verification filters candidates to
    ``hamming <= max_hamming`` as usual. Requires ``p_blocks > max_hamming``.

    ``max_bucket_size`` caps each (table, key) bucket exactly as in the
    sibling generators: even sparse 32-bit keys collapse on an
    exact-duplicate boilerplate cluster (identical in all 20 tables →
    20·C(m,2) join rows before distinct). As there, run exact dedup
    first; ``None`` disables the cap and restores completeness.
    """
    import itertools

    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    if p_blocks <= max_hamming:
        raise ValueError(
            f"p_blocks={p_blocks} must exceed max_hamming={max_hamming} "
            "(a pair may dirty up to max_hamming pieces; at least one "
            "piece per key subset must be guaranteed clean)"
        )
    if p_blocks > 64:
        raise ValueError(f"p_blocks={p_blocks} exceeds the 64-bit signature")
    # nearly-even bit widths, e.g. 64/6 -> [11, 11, 11, 11, 10, 10]
    base, extra = divmod(64, p_blocks)
    widths = [base + (1 if i < extra else 0) for i in range(p_blocks)]
    offsets = [sum(widths[:i]) for i in range(p_blocks)]

    def piece(i: int):
        return F.shiftright(F.col("simhash"), offsets[i]).bitwiseAND(
            F.lit((1 << widths[i]) - 1).cast("long")
        )

    subsets = list(itertools.combinations(range(p_blocks), p_blocks - max_hamming))
    keys = F.array(
        *[
            F.xxhash64(F.lit(t), *[piece(i) for i in subset])
            for t, subset in enumerate(subsets)
        ]
    )
    tabled = signatures.select(
        "__id", "simhash", F.posexplode(keys).alias("__table", "__key")
    )
    if max_bucket_size is not None:
        w = Window.partitionBy("__table", "__key").orderBy("__id")
        tabled = (
            tabled.withColumn("__bn", F.row_number().over(w))
            .filter(F.col("__bn") <= max_bucket_size)
            .drop("__bn")
        )
    a = tabled.alias("a")
    b = tabled.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.__table") == F.col("b.__table"))
            & (F.col("a.__key") == F.col("b.__key"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)
