"""Round-33 operators (round 11): portable oracle twins that close the
gaps the existing twin set (x96-x99, x105) leaves in the harness-only
certification class.

``x3_ivf_topk``, ``x62_pq_topk`` and ``x63_hll_rollup`` /
``x7_approx_distinct`` are rows-checked only, because their production
forms hash with xxhash64 or fit data-dependent float codebooks DuckDB
cannot replicate. Earlier twins certify RELATED algorithms —
x96_grid_ivf_topk's coarse quantizer is closed-form sign bits (not a
centroid table), x105_pq_portable's encode is per-coordinate sign
tests against grid literals (not an argmin against arbitrary
codebooks), x98_hll_portable builds the same month->year construction
on both engines (so the merge ROUTE itself is untested) — this module
certifies the exact structures those entries skip, with the same
engine-portable primitives (one md5 per value, the x91/x92 idiom:
``conv(substr(md5(v),1,k),16,10)`` in Spark ==
``CAST('0x'||substr(md5(v),1,k) AS BIGINT)`` in DuckDB; exact 3-dp
fixed-point BIGINT vector math, the x22/x339 idiom):

* ``x342_ivf_portable`` — the IVF two-stage ANN of
  operators/similarity.ivf_topk with a DATA-DERIVED centroid TABLE
  (the 16 smallest vec_ids' vectors — the structure ivf_centroids
  produces, where x96's quantizer is closed-form), exact-integer
  argmin cell assignment, a 4-cell probe and an exact re-rank, all in
  BIGINT so cell boundaries and tie-breaks are bit-identical across
  engines: the first certification of the centroid-table serving path.
* ``x343_pq_portable`` — product quantization (the x62/FAISS-PQ
  structure) with DATA-DERIVED codebooks (the 16 smallest vec_ids'
  subvectors — the structure pq_codebooks produces) and a TRUE
  argmin encode against them (x105's encode is sign tests), ADC scan
  via a driver-side lookup table, top-50 shortlist, exact re-rank.
* ``x344_hll_portable`` — x63's register math AND its merge route: the
  Spark side builds DAY-level (month, day, register) max-rho sketches
  and max-MERGES them to months without rescanning (x63's
  uniqState/uniqMerge shape), while the oracle computes month-level
  registers directly from raw rows — matching hashes certify merge
  associativity itself, the x326 different-algorithm trick, which
  x98's both-sides-identical construction cannot. Hash = 60-bit md5;
  register = h mod 256; rho = leading-zero rank of the next 32 bits
  (+1) via exact ``bin()`` string length; the estimator's Z kept as an
  EXACT integer so only the final alpha*m^2/Z division is IEEE — one
  shared chain, floored to milli. The linear-counting branch (libm ln,
  not cross-engine bit-stable) is deliberately excluded from the
  certified columns; the empty-register count is emitted instead.

x9_stratified_sample needs no new twin: x99_sample_portable already
certifies md5-mod-1000 per-stratum membership end to end.

Scale notes per entry are in the docstrings; none of the three adds a
shuffle the harness forms don't already pay. Reference parity: the
sketch surface mirrors the reference's ClickHouse uniqState/uniqMerge
usage (ref 001_init_spotify_tracks.sql, rebuilt Spark-first; no
reference code is copied).

Hash-parity conventions as plans/queries.py: exact fixed-point BIGINT
arithmetic until one shared IEEE expression, total ORDER BY, BIGINT
casts on every count.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ravelytics_spark.plans.registry import q
from ravelytics_spark.plans.round4 import embedding_probe
from ravelytics_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# shared fixed-point helpers (the x339 3-dp idiom)
# ---------------------------------------------------------------------------

# Spark: float embedding element -> exact 3-dp BIGINT. A function, not
# a module constant: building a Column requires a live SparkContext,
# which importing this module must not (plan modules load at package
# import, before any session exists).
def _f3():
    return F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: (x.cast("decimal(9,3)") * F.lit(1000)).cast("long"),
    )

# DuckDB spelling of the same element transform, exploded to (i, f)
_FX_CTE = """
wd AS (
    SELECT max(len(embedding)) AS d FROM embeddings
),
fx AS (
    SELECT e.vec_id, generate_subscripts(e.embedding, 1) - 1 AS i,
           CAST(CAST(CAST(unnest(e.embedding) AS DOUBLE) AS DECIMAL(9,3))
                * 1000 AS BIGINT) AS f
    FROM embeddings e CROSS JOIN wd
    WHERE len(e.embedding) = wd.d
)
"""


def _fixed_vectors(spark, sf_dir):
    """(d, rows): the table's max width and the 16 smallest full-width
    vec_ids' fixed-point vectors, collected (bounded: 16 rows). Returns
    (None, []) on an empty table."""
    e = load_table(spark, sf_dir, "embeddings")
    d = embedding_probe(spark, sf_dir)[0]
    if d is None:
        return None, []
    rows = (
        e.filter(F.size("embedding") == F.lit(d))
        .select("vec_id", _f3().alias("f3"))
        .orderBy("vec_id")
        .limit(16)
        .collect()
    )
    return d, [(int(r.vec_id), [int(x) for x in r.f3]) for r in rows]


def _empty_ann(e):
    return e.limit(0).select(
        F.lit(0).cast("long").alias("vec_id"),
        F.lit(0).cast("long").alias("d2"),
    )


# ---------------------------------------------------------------------------
# x342 — IVF ANN with a deterministic, oracle-shared centroid table
# ---------------------------------------------------------------------------

_IVF_ORACLE = f"""
WITH {_FX_CTE},
cent AS (
    SELECT vec_id AS cell_id, i, f FROM fx
    WHERE vec_id IN (SELECT vec_id FROM fx GROUP BY 1 ORDER BY 1 LIMIT 16)
),
probe AS (
    SELECT i, f FROM cent WHERE cell_id = (SELECT min(cell_id) FROM cent)
),
asg0 AS (
    SELECT fx.vec_id, cent.cell_id,
           SUM((fx.f - cent.f) * (fx.f - cent.f)) AS ad2
    FROM fx JOIN cent ON fx.i = cent.i GROUP BY 1, 2
),
asg AS (
    SELECT vec_id, cell_id FROM asg0
    QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ad2, cell_id) = 1
),
pcell AS (
    SELECT cent.cell_id, SUM((cent.f - probe.f) * (cent.f - probe.f)) AS pd2
    FROM cent JOIN probe ON cent.i = probe.i GROUP BY 1
    ORDER BY pd2, cell_id LIMIT 4
),
scored AS (
    SELECT fx.vec_id, CAST(SUM((fx.f - probe.f) * (fx.f - probe.f))
                           AS BIGINT) AS d2
    FROM fx JOIN probe ON fx.i = probe.i
    WHERE fx.vec_id IN (
        SELECT a.vec_id FROM asg a JOIN pcell p ON a.cell_id = p.cell_id
    )
    GROUP BY 1
)
SELECT vec_id, d2 FROM scored ORDER BY d2, vec_id LIMIT 10
"""


def _d2_to_lits(f3_col, lits):
    """Exact BIGINT squared-L2 between a fixed-point array column and a
    literal vector, as ONE aggregate(zip_with()) fold — the x102 packed
    form whose codegen size is independent of how many of these the
    plan holds.

    Built as ONE parsed-SQL expression (r13): the previous
    `F.array(*[F.lit(v).cast("long") ...])` chain was 64 py4j
    round-trips per centroid — ~2.4 s of driver time per fresh x342/
    x343 plan build (16 centroids × 64 dims, measured 3.0 s → 0.6 s
    build), paid by every new session's gate/plan sweep. `NNL` long
    literals are the same Literal(long) the lit().cast('long') chain
    folded to; the fold itself is unchanged, so the analyzed expression
    and results are bit-identical (oracle-verified)."""
    # Only the ARRAY is parsed SQL: the input can be any Column (the
    # tests pass the raw _f3() transform, whose _jc.toString() is not
    # re-parseable SQL), so the fold stays on the Column API — still
    # one py4j call for the 64 literals instead of 64.
    arr = F.expr("array(" + ",".join(f"{int(v)}L" for v in lits) + ")")
    return F.aggregate(
        F.zip_with(f3_col, arr, lambda x, y: (x - y) * (x - y)),
        F.expr("0L"),
        lambda acc, t: acc + t,
    )


@q(
    "x342_ivf_portable",
    "OP-X3-ext",
    "Certified twin of x3_ivf_topk: IVF two-stage ANN where the "
    "centroid table is deterministic and oracle-shared (the 16 "
    "smallest vec_ids' vectors), assignment is an exact-integer "
    "argmin over 3-dp fixed-point squared-L2 (ties by cell_id), the "
    "probe (the min-vec_id centroid) scans only its 4 nearest cells, "
    "and the exact re-rank emits BIGINT distances — every cell "
    "boundary, probe choice and tie-break is bit-identical across "
    "engines, so the driver certifies the APPROXIMATION itself. "
    "Spark plan: bounded 16-row centroid collect, then ONE map-only "
    "pass — unrolled least() argmin over 16 aggregate(zip_with) "
    "folds (the x22 idiom: no join, no explode, no row blow-up) + "
    "probe-membership filter + TakeOrderedAndProject(10). 100 TB: "
    "with the index materialized and partitioned by cell_id the probe "
    "prunes partitions at the scan (operators/similarity.ivf_topk's "
    "build/serve split); this entry certifies the math of that path.",
    _IVF_ORACLE,
)
def x342_ivf_portable(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    d, cents = _fixed_vectors(spark, sf_dir)
    if not cents:
        return _empty_ann(e)
    probe = cents[0][1]  # min-vec_id centroid is the probe

    # driver-side probe->cell distances: exact Python ints
    pd2 = [
        (sum((a - b) * (a - b) for a, b in zip(vec, probe)), cid)
        for cid, vec in cents
    ]
    probe_cells = {cid for _, cid in sorted(pd2)[:4]}

    from ravelytics_spark.operators.skew import fan_out_scan

    # r13 (guide §2.5 input skew): the 16-centroid argmin lives in
    # a FILTER, and a single-split scan serialized it onto ONE task
    # (stage trace: 1 task, 1.25 s of interpreted HOF evaluation,
    # zero shuffle, 31 cores idle). fan_out_scan alone measured
    # neutral here in r12 because predicate pushdown sinks the
    # filter straight through the round-robin exchange back into
    # the scan — so the always-false spark_partition_id() < 0
    # disjunct below pins it above the exchange (a
    # partition-dependent predicate cannot be pushed across a
    # repartition; Spark has no public "don't push" hint). With the
    # pin the argmin runs on all cores: interleaved A/B x6,
    # steady-state 1.32 s med -> 0.31 s, byte-identical. On a
    # well-partitioned corpus fan_out_scan no-ops and the pin
    # merely keeps the filter out of DataFilters, same stage as
    # the scan. (An unrolled-codegen rewrite of the HOF sums was
    # also measured: 1.95 s med, WORSE - the 1024-term tree defeats
    # codegen; the packed HOF form stands.)
    base = fan_out_scan(
        e.filter(F.size("embedding") == F.lit(d))
    ).select("vec_id", _f3().alias("f3"))
    structs = [
        F.struct(
            _d2_to_lits(F.col("f3"), vec).alias("ad2"),
            F.lit(cid).cast("long").alias("cell_id"),
        )
        for cid, vec in cents
    ]
    assigned = F.least(*structs).getField("cell_id")
    keep = assigned.isin(*sorted(probe_cells)) | (
        F.spark_partition_id() < F.lit(0)
    )
    return (
        base.filter(keep)
        .select(
            F.col("vec_id").cast("long").alias("vec_id"),
            _d2_to_lits(F.col("f3"), probe).cast("long").alias("d2"),
        )
        .orderBy("d2", "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# x343 — product-quantization ANN, fully integer, oracle-shared codebooks
# ---------------------------------------------------------------------------

_PQ_NSUB = 8
_PQ_SHORTLIST = 50

_PQ_ORACLE = f"""
WITH {_FX_CTE},
geo AS (
    SELECT d // {_PQ_NSUB} AS sl FROM wd
),
sub AS (
    SELECT fx.vec_id, fx.i // geo.sl AS s, fx.i % geo.sl AS j, fx.f
    FROM fx CROSS JOIN geo
    WHERE fx.i < geo.sl * {_PQ_NSUB}
),
cb AS (
    SELECT vec_id AS code, s, j, f FROM sub
    WHERE vec_id IN (SELECT vec_id FROM sub GROUP BY 1 ORDER BY 1 LIMIT 16)
),
pb AS (
    SELECT s, j, f FROM cb WHERE code = (SELECT min(code) FROM cb)
),
enc0 AS (
    SELECT v.vec_id, v.s, cb.code,
           SUM((v.f - cb.f) * (v.f - cb.f)) AS ed2
    FROM sub v JOIN cb ON v.s = cb.s AND v.j = cb.j
    GROUP BY 1, 2, 3
),
enc AS (
    SELECT vec_id, s, code FROM enc0
    QUALIFY row_number() OVER (
        PARTITION BY vec_id, s ORDER BY ed2, code) = 1
),
adc AS (
    SELECT cb.code, cb.s, SUM((cb.f - pb.f) * (cb.f - pb.f)) AS pd2
    FROM cb JOIN pb ON cb.s = pb.s AND cb.j = pb.j
    GROUP BY 1, 2
),
appx AS (
    SELECT enc.vec_id, SUM(adc.pd2) AS ad2
    FROM enc JOIN adc ON enc.s = adc.s AND enc.code = adc.code
    GROUP BY 1
),
short AS (
    SELECT vec_id FROM appx ORDER BY ad2, vec_id LIMIT {_PQ_SHORTLIST}
),
pfull AS (
    SELECT i, f FROM fx
    WHERE vec_id = (SELECT min(code) FROM cb)
),
rr AS (
    SELECT fx.vec_id, CAST(SUM((fx.f - pfull.f) * (fx.f - pfull.f))
                           AS BIGINT) AS d2
    FROM fx JOIN pfull ON fx.i = pfull.i
    WHERE fx.vec_id IN (SELECT vec_id FROM short)
    GROUP BY 1
)
SELECT vec_id, d2 FROM rr ORDER BY d2, vec_id LIMIT 10
"""


@q(
    "x343_pq_portable",
    "OP-X3-ext",
    "Certified twin of x62_pq_topk: product quantization (the "
    "FAISS-PQ structure) with oracle-shared deterministic codebooks — "
    "8 subspaces x 16 entries (the 16 smallest vec_ids' subvectors), "
    "exact-integer encode argmin per subspace (ties by code id), "
    "asymmetric-distance scan summing a driver-side (subspace, code) "
    "-> probe-distance lookup table, top-50 shortlist, exact BIGINT "
    "re-rank. Every code assignment and ADC value is integer-exact, "
    "so the driver hash-certifies the compressed-domain search "
    "itself. Spark plan: bounded 16-row codebook collect; encode+ADC "
    "as 8 unrolled least() folds over aggregate(zip_with(slice)) — "
    "map-only, no join, codes never materialize as rows — then "
    "TakeOrdered(50) shortlist and a 50-row exact re-rank. 100 TB: "
    "the production pq_topk stores codes (n_sub ints/row, 32x "
    "compression) and reads full vectors only for the shortlist; "
    "this entry certifies that math end to end.",
    _PQ_ORACLE,
)
def x343_pq_portable(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    d, cents = _fixed_vectors(spark, sf_dir)
    if not cents:
        return _empty_ann(e)
    sl = d // _PQ_NSUB
    if sl == 0:
        return _empty_ann(e)
    probe = cents[0][1]

    # driver-side ADC lookup: exact probe->entry distance per
    # (subspace, code) — 8 x 16 Python ints
    adc = {
        (s, cid): sum(
            (a - b) * (a - b)
            for a, b in zip(
                vec[s * sl : (s + 1) * sl], probe[s * sl : (s + 1) * sl]
            )
        )
        for cid, vec in cents
        for s in range(_PQ_NSUB)
    }

    from ravelytics_spark.operators.skew import fan_out_scan

    # r12 (guide §2.5 input skew): the 8-subspace unrolled encode is
    # CPU-dense and the test corpus is one parquet split — fan out
    # so it doesn't serialize on one core (stage trace: 1 task,
    # 1.2 s CPU; interleaved A/B 0.77 -> 0.48 s, output identical).
    # No-op on any well-partitioned corpus.
    base = fan_out_scan(
        e.filter(F.size("embedding") == F.lit(d))
    ).select("vec_id", _f3().alias("f3"))
    # per subspace: least() over (encode_d2, code, adc_d2) structs;
    # lexicographic min on the first two fields IS the encode
    # argmin with the oracle's tie-break, and .getField('pd2')
    # reads the matching ADC entry without materializing the code
    approx = None
    for s in range(_PQ_NSUB):
        sub = F.slice(F.col("f3"), s * sl + 1, sl)
        structs = [
            F.struct(
                _d2_to_lits(sub, vec[s * sl : (s + 1) * sl]).alias("ed2"),
                F.lit(cid).cast("long").alias("code"),
                F.lit(adc[(s, cid)]).cast("long").alias("pd2"),
            )
            for cid, vec in cents
        ]
        term = F.least(*structs).getField("pd2")
        approx = term if approx is None else approx + term
    shortlist = (
        base.select("vec_id", "f3", approx.alias("ad2"))
        .orderBy("ad2", "vec_id")
        .limit(_PQ_SHORTLIST)
    )
    # exact re-rank over ALL d dims (full f3 vs full probe, the
    # x342 form) — the oracle's rr CTE joins fx on every i, so a
    # width-sliced re-rank would diverge whenever d % 8 != 0
    return (
        shortlist.select(
            F.col("vec_id").cast("long").alias("vec_id"),
            _d2_to_lits(F.col("f3"), probe).cast("long").alias("d2"),
        )
        .orderBy("d2", "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# x344 — HLL register math with a portable hash, exact-integer Z
# ---------------------------------------------------------------------------

_HLL_M = 256
# 1000 * alpha_256 * m^2 * 2^33: the whole numerator as ONE double
# literal computed here and embedded identically in both engines, so
# the only IEEE op either side performs is the final division + floor.
_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_M)
_HLL_K = repr(1000.0 * _HLL_ALPHA * _HLL_M * _HLL_M * 8589934592.0)

_HLL_ORACLE = f"""
WITH h AS (
    SELECT strftime(o_orderdate, '%Y%m') AS month,
           CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
                AS BIGINT) AS h60
    FROM orders WHERE o_custkey IS NOT NULL
),
rr AS (
    SELECT month, h60 % {_HLL_M} AS register,
           (h60 // {_HLL_M}) % 4294967296 AS suffix
    FROM h
),
regs AS (
    SELECT month, register,
           max(CASE WHEN suffix = 0 THEN 33
                    ELSE 33 - length(bin(suffix)) END) AS max_rho
    FROM rr GROUP BY 1, 2
),
agg AS (
    SELECT month,
           CAST(count(*) AS BIGINT) AS filled,
           CAST(SUM(CAST(1 AS BIGINT) << (33 - max_rho)) AS BIGINT)
               AS z_used
    FROM regs GROUP BY 1
),
est AS (
    SELECT month, filled,
           z_used + ({_HLL_M} - filled) * CAST(8589934592 AS BIGINT)
               AS z_scaled
    FROM agg
),
ex AS (
    SELECT strftime(o_orderdate, '%Y%m') AS month,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
    FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1
)
SELECT est.month, est.filled, est.z_scaled,
       CAST(FLOOR({_HLL_K} / CAST(est.z_scaled AS DOUBLE)) AS BIGINT)
           AS raw_est_milli,
       ex.exact_distinct
FROM est JOIN ex ON est.month = ex.month
ORDER BY est.month
"""


@q(
    "x344_hll_portable",
    "OP-G5-ext",
    "Certified twin of x63_hll_rollup / x7_approx_distinct — and, "
    "unlike x98_hll_portable (which builds the same month->year "
    "construction on BOTH engines), a certification of the merge "
    "ROUTE itself: Spark builds DAY-level (month, day, register) "
    "max-rho sketches and max-merges them to months without "
    "rescanning raw rows (x63's uniqState/uniqMerge shape, ref "
    "001:41-47), while the oracle computes month registers directly "
    "from raw rows — matching hashes prove merge associativity (the "
    "x326 different-algorithm trick). Register math: h = 60-bit md5 "
    "of o_custkey; register = h mod 256; rho = leading-zero rank of "
    "the next 32 bits + 1, computed as 33 - bit_length via bin() "
    "string length (exact in both engines); the estimator's Z kept as "
    "an EXACT BIGINT (sum of 2^(33-rho), empty registers contributing "
    "2^33), so the ONLY IEEE arithmetic is the final K/Z division + "
    "floor with K a shared double literal — deterministic because "
    "IEEE division is correctly rounded everywhere. The ln-based "
    "linear-counting correction is excluded from the certified "
    "columns (libm ln is not cross-engine bit-stable); (m - filled) "
    "is emitted so a consumer can apply it. Spark plan: one "
    "map-side-combined (month, day, register) hash-agg, one register "
    "merge agg, one month agg, one broadcast join to the exact count. "
    "100 TB: sketch rows are bounded at groups x 256 regardless of "
    "input rows, and the merge step is exactly how per-shard "
    "registers combine on a cluster.",
    _HLL_ORACLE,
)
def x344_hll_portable(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey").isNotNull()
    )
    month = F.date_format("o_orderdate", "yyyyMM").alias("month")
    day = F.to_date("o_orderdate").alias("day")
    h60 = F.conv(
        F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 15), 16, 10
    ).cast("long")
    # h60 >= 0 always (15 hex digits), so DIV == floor division and
    # % == pmod here — and the division MUST stay integral (h60 can
    # exceed 2^53, where double division would lose bits)
    rr = o.select(month, day, h60.alias("h60")).select(
        "month",
        "day",
        F.expr(f"h60 % {_HLL_M}").alias("register"),
        F.expr(f"(h60 DIV {_HLL_M}) % 4294967296").alias("suffix"),
    )
    # DAY-level sketches first, then max-MERGE to months WITHOUT
    # rescanning raw rows — x63's uniqState/uniqMerge route. The
    # oracle computes month registers directly from raw rows, so the
    # hash match certifies merge associativity itself (the x326
    # different-algorithm trick).
    daily = rr.groupBy("month", "day", "register").agg(
        F.max(
            F.when(F.col("suffix") == 0, F.lit(33)).otherwise(
                F.lit(33) - F.length(F.expr("bin(suffix)"))
            )
        ).alias("max_rho")
    )
    regs = daily.groupBy("month", "register").agg(
        F.max("max_rho").alias("max_rho")
    )
    agg = regs.groupBy("month").agg(
        F.count("*").cast("long").alias("filled"),
        F.sum(F.expr("CAST(1 AS BIGINT) << (33 - max_rho)"))
        .cast("long")
        .alias("z_used"),
    )
    est = agg.select(
        "month",
        "filled",
        (
            F.col("z_used")
            + (F.lit(_HLL_M) - F.col("filled")) * F.lit(8589934592)
        )
        .cast("long")
        .alias("z_scaled"),
    )
    exact = o.groupBy(month).agg(
        F.countDistinct("o_custkey").cast("long").alias("exact_distinct")
    )
    return (
        est.join(F.broadcast(exact), "month")
        .select(
            "month",
            "filled",
            "z_scaled",
            F.floor(F.lit(float(_HLL_K)) / F.col("z_scaled").cast("double"))
            .cast("long")
            .alias("raw_est_milli"),
            "exact_distinct",
        )
        .orderBy("month")
    )
