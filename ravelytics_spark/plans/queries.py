"""t2 query catalog: every SURVEY §2 operator as a (Spark plan, DuckDB
oracle SQL) pair.

Each entry's Spark callable takes ``(spark, sf_dir)`` and returns a
DataFrame; ``oracle`` is ANSI SQL DuckDB runs over the same parquet
tables. The driver hash-compares the two at sf0.01, so every query obeys
the determinism rules (SURVEY §5.3):

- total ORDER BY on every result;
- array-valued outputs sorted and serialized to strings
  (``array_join``) — cross-engine array rendering is not hash-stable;
- double aggregates computed in exact DECIMAL then cast to DOUBLE
  (``_dsum``) — float accumulation order differs across engines, decimal
  arithmetic is exact, and the final decimal→double rounding is IEEE in
  both;
- integer-valued functions cast to BIGINT on both sides (Spark
  ``size``/``instr``/``length`` return INT, DuckDB returns BIGINT);
- no wall-clock functions.

Performance notes are attached per query where the plan shape matters at
100 TB (broadcast hints, shuffle counts).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

# Importing REGISTRY from here, not from registry, guarantees that the
# import footer below has populated the whole catalog.
from ravelytics_spark.plans.registry import REGISTRY, _dsum, _dsum_sql, q  # noqa: F401
from ravelytics_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# §2.1 Sources / scans
# ---------------------------------------------------------------------------


@q(
    "s11_scan_lineitem",
    "OP-S11",
    "Warehouse parquet scan, full row; vectorized reader + column pruning.",
    "SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber",
)
def s11_scan_lineitem(spark, sf_dir):
    return load_table(spark, sf_dir, "lineitem").orderBy("l_orderkey", "l_linenumber")


# ---------------------------------------------------------------------------
# §2.2 Projection / filter / cleansing
# ---------------------------------------------------------------------------


@q(
    "p1_projection",
    "OP-P1",
    "Column projection; pruning reaches the scan (ReadSchema shows 2 cols).",
    "SELECT o_orderkey, o_custkey FROM orders ORDER BY o_orderkey",
)
def p1_projection(spark, sf_dir):
    return load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey").orderBy("o_orderkey")


@q(
    "p2_null_default",
    "OP-P2/OP-F7",
    "Null→default projection (ref `x.get(k) or default`).",
    "SELECT event_id, coalesce(value, 0.0) AS v FROM events ORDER BY event_id",
)
def p2_null_default(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.select("event_id", F.coalesce("value", F.lit(0.0)).alias("v")).orderBy("event_id")


@q(
    "p3_filter_nonempty",
    "OP-P3",
    "Predicate filter; pushed to the parquet scan (PushedFilters).",
    "SELECT o_orderkey FROM orders WHERE o_orderstatus <> 'F' ORDER BY o_orderkey",
)
def p3_filter_nonempty(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderstatus") != "F").select("o_orderkey").orderBy("o_orderkey")


@q(
    "p4_filter_notnull",
    "OP-P4/OP-F8",
    "IS NOT NULL filter (ref preview_url skip).",
    "SELECT event_id FROM events WHERE value IS NOT NULL ORDER BY event_id",
)
def p4_filter_notnull(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("value").isNotNull()).select("event_id").orderBy("event_id")


@q(
    "c1_ts_fallback",
    "OP-C1",
    "Timestamp null-fallback chain (ref best_effort parse + now() fallback; "
    "fallback pinned to a literal for determinism).",
    "SELECT event_id, coalesce(CAST(ts AS TIMESTAMP), TIMESTAMP '1970-01-01') AS ts_norm "
    "FROM events ORDER BY event_id",
)
def c1_ts_fallback(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.coalesce("ts", F.lit("1970-01-01").cast("timestamp")).alias("ts_norm"),
    ).orderBy("event_id")


@q(
    "c2_date_norm_shape",
    "OP-C2/OP-F5/OP-F6",
    "Release-date normalization shape: length test + conditional substring "
    "(exact YYYY rule unit-tested on fixtures in tests/).",
    "SELECT p_partkey, CASE WHEN length(p_brand) = 8 THEN p_brand "
    "ELSE substr(p_brand, 1, 10) END AS brand_norm FROM part ORDER BY p_partkey",
)
def c2_date_norm_shape(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.when(F.length("p_brand") == 8, F.col("p_brand"))
        .otherwise(F.substring("p_brand", 1, 10))
        .alias("brand_norm"),
    ).orderBy("p_partkey")


@q(
    "c3_conditional",
    "OP-C3",
    "if(cond, a, b) → when/otherwise.",
    "SELECT o_orderkey, CASE WHEN o_totalprice > 100000 THEN 'big' ELSE 'small' END "
    "AS size_class FROM orders ORDER BY o_orderkey",
)
def c3_conditional(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 100000, "big").otherwise("small").alias("size_class"),
    ).orderBy("o_orderkey")


@q(
    "c4_cast",
    "OP-C4",
    "Numeric cast (quantities are integral so trunc-vs-round cannot diverge).",
    "SELECT l_orderkey, l_linenumber, CAST(l_quantity AS INT) AS q "
    "FROM lineitem ORDER BY l_orderkey, l_linenumber",
)
def c4_cast(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber", F.col("l_quantity").cast("int").alias("q")
    ).orderBy("l_orderkey", "l_linenumber")


# ---------------------------------------------------------------------------
# §2.3 Joins
# ---------------------------------------------------------------------------


@q(
    "j1_left_join",
    "OP-J1",
    "LEFT OUTER equi-join, dim side broadcast (customer ≪ orders at scale; "
    "ClickHouse hash join ≡ Spark broadcast-hash).",
    "SELECT o_orderkey, c_name FROM orders LEFT JOIN customer "
    "ON o_custkey = c_custkey ORDER BY o_orderkey",
)
def j1_left_join(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left")
        .select("o_orderkey", "c_name")
        .orderBy("o_orderkey")
    )


@q(
    "j2_inner_join",
    "OP-J2",
    "INNER equi-join fact⋈fact: both sides large at scale → sort-merge with "
    "AQE; no broadcast hint so Catalyst decides.",
    "SELECT l_orderkey, l_linenumber, o_orderdate FROM lineitem JOIN orders "
    "ON l_orderkey = o_orderkey ORDER BY l_orderkey, l_linenumber",
)
def j2_inner_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey, "inner")
        .select("l_orderkey", "l_linenumber", "o_orderdate")
        .orderBy("l_orderkey", "l_linenumber")
    )


@q(
    "j3_semi_join",
    "OP-J3",
    "LEFT SEMI: keys present in (the id-extraction pattern, ref "
    "spotify_artist_genres_to_kafka.py:147-156).",
    "SELECT c_custkey FROM customer WHERE c_custkey IN "
    "(SELECT o_custkey FROM orders) ORDER BY c_custkey",
)
def j3_semi_join(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


@q(
    "j4_anti_join",
    "OP-J4",
    "LEFT ANTI: complement of the semi-join.",
    "SELECT c_custkey FROM customer WHERE c_custkey NOT IN "
    "(SELECT o_custkey FROM orders) ORDER BY c_custkey",
)
def j4_anti_join(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# §2.4 Aggregations
# ---------------------------------------------------------------------------


@q(
    "g1_argmax_latest",
    "OP-G1",
    "argMax latest-state (ref v_artist_latest 002:9-15). max_by is a "
    "partial-aggregatable function: one combined row per key crosses the "
    "shuffle. ts unique per user in testdata → deterministic.",
    "SELECT user_id, max_by(event_type, ts) AS latest_type, "
    "CAST(max(ts) AS TIMESTAMP) AS latest_ts "
    "FROM events GROUP BY user_id ORDER BY user_id",
)
def g1_argmax_latest(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.max_by("event_type", "ts").alias("latest_type"), F.max("ts").alias("latest_ts"))
        .orderBy("user_id")
    )


@q(
    "g2_collect_sorted",
    "OP-G2",
    "groupArray → collect_list; always sorted + serialized before compare "
    "(order is engine-nondeterministic in both).",
    "SELECT o_custkey, array_to_string(list_sort(list(o_orderstatus)), ',') AS statuses "
    "FROM orders GROUP BY o_custkey ORDER BY o_custkey",
)
def g2_collect_sorted(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.array_join(F.array_sort(F.collect_list("o_orderstatus")), ",").alias("statuses"))
        .orderBy("o_custkey")
    )


@q(
    "g3_multikey_group",
    "OP-G3/OP-G6",
    "Multi-key GROUP BY, TPC-H Q1 core. Decimal-exact sums; partial agg "
    "(map-side combine) makes this shuffle O(groups), not O(rows).",
    "SELECT l_returnflag, l_linestatus, "
    f"{_dsum_sql('l_quantity')} AS sum_qty, "
    f"{_dsum_sql('l_extendedprice')} AS sum_base_price, "
    f"{_dsum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price, "
    "count(*) AS count_order FROM lineitem "
    "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
)
def g3_multikey_group(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity").alias("sum_qty"),
            _dsum("l_extendedprice").alias("sum_base_price"),
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@q(
    "g4_distinct_sort",
    "OP-G4/OP-O2",
    "DISTINCT + lexicographic sort (ref sorted(set(ids))).",
    "SELECT DISTINCT o_orderstatus FROM orders ORDER BY o_orderstatus",
)
def g4_distinct_sort(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.select("o_orderstatus").distinct().orderBy("o_orderstatus")


@q(
    "g5_counts",
    "OP-G5",
    "count(*) + count(DISTINCT key) (exact; approx variant is x7_approx).",
    "SELECT count(*) AS n_orders, count(DISTINCT o_custkey) AS n_custs FROM orders",
)
def g5_counts(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_custs"),
    )


@q(
    "g6_numeric_aggs",
    "OP-G6",
    "min/max/avg/sum per group (BI surface). avg = exact-decimal sum ÷ count "
    "as one double division → bitwise-stable across engines.",
    "SELECT o_orderpriority, min(o_totalprice) AS min_price, max(o_totalprice) AS max_price, "
    f"{_dsum_sql('o_totalprice')} / count(o_totalprice) AS avg_price, "
    f"{_dsum_sql('o_totalprice')} AS sum_price, count(*) AS n "
    "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority",
)
def g6_numeric_aggs(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            (_dsum("o_totalprice") / F.count("o_totalprice")).alias("avg_price"),
            _dsum("o_totalprice").alias("sum_price"),
            F.count("*").alias("n"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# §2.5 Array / higher-order / string / date / JSON functions
# ---------------------------------------------------------------------------


@q(
    "a1_explode",
    "OP-A1",
    "arrayJoin → explode (ref 002:23). Pipelined, no shuffle.",
    "SELECT vec_id, CAST(u AS DOUBLE) AS u FROM "
    "(SELECT vec_id, unnest(embedding) AS u FROM embeddings) ORDER BY vec_id, u",
)
def a1_explode(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("vec_id", F.explode("embedding").alias("u"))
        .select("vec_id", F.col("u").cast("double").alias("u"))
        .orderBy("vec_id", "u")
    )


@q(
    "a2_transform_lower",
    "OP-A2/OP-F1",
    "arrayMap(g -> lowerUTF8(g), xs) → transform (ref 002:33). Spark [0] is "
    "0-based getItem; DuckDB list is 1-based.",
    "SELECT doc_id, list_transform(string_split(text, ' '), w -> lower(w))[1] AS first_word "
    "FROM documents ORDER BY doc_id",
)
def a2_transform_lower(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.transform(F.split("text", " "), lambda w: F.lower(w)).getItem(0).alias("first_word"),
    ).orderBy("doc_id")


@q(
    "a3_filter_hof",
    "OP-A3/OP-F2",
    "arrayFilter(g -> positionCaseInsensitive(g,needle)>0, xs) → filter+instr "
    "(ref 002:50); serialized for compare.",
    "SELECT doc_id, coalesce(array_to_string(list_filter(string_split(text, ' '), "
    "w -> instr(lower(w), 'ar') > 0), ','), '') AS ar_words FROM documents ORDER BY doc_id",
)
def a3_filter_hof(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.array_join(
            F.filter(F.split("text", " "), lambda w: F.instr(F.lower(w), "ar") > 0), ","
        ).alias("ar_words"),
    ).orderBy("doc_id")


@q(
    "a4_a5_flatten_distinct",
    "OP-A4/OP-A5",
    "arrayFlatten + arrayDistinct (+ sort for compare, ref 002:32-34).",
    "SELECT n_nationkey, array_to_string(list_sort(list_distinct("
    "flatten([[n_name, 'x'], [n_name]]))), ',') AS arr FROM nation ORDER BY n_nationkey",
)
def a4_a5_flatten_distinct(spark, sf_dir):
    n = load_table(spark, sf_dir, "nation")
    nested = F.array(F.array(F.col("n_name"), F.lit("x")), F.array(F.col("n_name")))
    return n.select(
        "n_nationkey",
        F.array_join(F.array_sort(F.array_distinct(F.flatten(nested))), ",").alias("arr"),
    ).orderBy("n_nationkey")


@q(
    "a7_array_size",
    "OP-A7",
    "length(arr) → size; cast BIGINT both sides.",
    "SELECT vec_id, len(embedding) AS emb_len FROM embeddings ORDER BY vec_id",
)
def a7_array_size(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    return e.select("vec_id", F.size("embedding").cast("long").alias("emb_len")).orderBy("vec_id")


@q(
    "f1_lower",
    "OP-F1",
    "lowerUTF8 → lower.",
    "SELECT c_custkey, lower(c_name) AS name_lc FROM customer ORDER BY c_custkey",
)
def f1_lower(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    return c.select("c_custkey", F.lower("c_name").alias("name_lc")).orderBy("c_custkey")


@q(
    "f2_instr",
    "OP-F2",
    "positionCaseInsensitive: 1-based, 0 = absent — same convention in "
    "instr for both engines.",
    "SELECT doc_id, CAST(instr(lower(text), 'the') AS BIGINT) AS pos "
    "FROM documents ORDER BY doc_id",
)
def f2_instr(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.instr(F.lower("text"), "the").cast("long").alias("pos")
    ).orderBy("doc_id")


@q(
    "f3_rlike",
    "OP-F3",
    "match(s, re) → rlike (ref 001:64).",
    "SELECT p_partkey FROM part WHERE regexp_matches(p_type, '^(STANDARD|PROMO)') "
    "ORDER BY p_partkey",
)
def f3_rlike(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_type").rlike("^(STANDARD|PROMO)"))
        .select("p_partkey")
        .orderBy("p_partkey")
    )


@q(
    "f4_concat",
    "OP-F4",
    "concat (ref 001:66) over a broadcast dim join.",
    "SELECT concat(n_name, '-', r_name) AS nr FROM nation JOIN region "
    "ON n_regionkey = r_regionkey ORDER BY nr",
)
def f4_concat(spark, sf_dir):
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(F.concat("n_name", F.lit("-"), "r_name").alias("nr"))
        .orderBy("nr")
    )


@q(
    "f5_substr",
    "OP-F5",
    "left(s, n) → substring (ref 001:67).",
    "SELECT p_partkey, substr(p_name, 1, 5) AS name5 FROM part ORDER BY p_partkey",
)
def f5_substr(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    return p.select("p_partkey", F.substring("p_name", 1, 5).alias("name5")).orderBy("p_partkey")


@q(
    "f6_length_trim",
    "OP-F6",
    "length + trim (ref .strip()).",
    "SELECT doc_id, CAST(length(text) AS BIGINT) AS text_len, "
    "trim(concat(' ', text, ' ')) AS trimmed FROM documents ORDER BY doc_id",
)
def f6_length_trim(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("text_len"),
        F.trim(F.concat(F.lit(" "), "text", F.lit(" "))).alias("trimmed"),
    ).orderBy("doc_id")


@q(
    "d1_yyyymm",
    "OP-D1",
    "toYYYYMM partition key (ref 001:21) + monthly rollup.",
    "SELECT strftime(o_orderdate, '%Y%m') AS m, count(*) AS n FROM orders "
    "GROUP BY m ORDER BY m",
)
def d1_yyyymm(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.date_format("o_orderdate", "yyyyMM").alias("m"))
        .agg(F.count("*").alias("n"))
        .orderBy("m")
    )


@q(
    "d2_to_date",
    "OP-D2",
    "toDate / toDateOrNull → to_date.",
    "SELECT event_id, CAST(ts AS DATE) AS d FROM events ORDER BY event_id",
)
def d2_to_date(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.select("event_id", F.to_date("ts").alias("d")).orderBy("event_id")


@q(
    "d4_iso_roundtrip",
    "OP-D4",
    "ISO-8601 `...Z` format→parse round-trip at second precision (the "
    "producer's isoformat()+'Z' wire stamp, ref spotify_metadata_to_kafka.py:74). "
    "Oracle is the equivalent second-truncation.",
    "SELECT event_id, date_trunc('second', ts) AS parsed_ts FROM events ORDER BY event_id",
)
def d4_iso_roundtrip(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    iso = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'")
    return ev.select("event_id", F.to_timestamp(iso).alias("parsed_ts")).orderBy("event_id")


@q(
    "m1_json_extract",
    "OP-M1",
    "Ad-hoc JSON path over a string column (ref JSONEachRow / json.loads).",
    "SELECT event_id, json_extract_string(props, '$.k') AS k FROM events ORDER BY event_id",
)
def m1_json_extract(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.get_json_object("props", "$.k").alias("k")
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# §2.6 Sorts / limits / top-k / set ops
# ---------------------------------------------------------------------------


@q(
    "o1_topk",
    "OP-O1",
    "Top-k by sort desc + limit: Spark runs TakeOrderedAndProject (per-"
    "partition heap + driver merge — no full sort at scale).",
    "SELECT o_orderkey, o_totalprice FROM orders "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
)
def o1_topk(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
    )


@q(
    "o3_limit",
    "OP-O3",
    "LIMIT after total order (ref API page cap).",
    "SELECT c_custkey FROM customer ORDER BY c_custkey LIMIT 100",
)
def o3_limit(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    return c.select("c_custkey").orderBy("c_custkey").limit(100)


@q(
    "o4_union_all",
    "OP-O4",
    "UNION ALL accumulate (ref items.extend(batch)).",
    "SELECT nm FROM (SELECT n_name AS nm FROM nation UNION ALL "
    "SELECT r_name FROM region) ORDER BY nm",
)
def o4_union_all(spark, sf_dir):
    n = load_table(spark, sf_dir, "nation").select(F.col("n_name").alias("nm"))
    r = load_table(spark, sf_dir, "region").select(F.col("r_name").alias("nm"))
    return n.unionByName(r).orderBy("nm")


@q(
    "o5_chunking",
    "OP-O5",
    "Fixed-size batch chunking (ref groups of 50) via row_number.",
    "SELECT c_custkey, CAST(floor((row_number() OVER (ORDER BY c_custkey) - 1) / 50) "
    "AS BIGINT) AS bucket FROM customer ORDER BY c_custkey",
)
def o5_chunking(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    w = Window.orderBy("c_custkey")
    return c.select(
        "c_custkey",
        F.floor((F.row_number().over(w) - 1) / 50).cast("long").alias("bucket"),
    ).orderBy("c_custkey")


@q(
    "set_intersect",
    "OP-SET",
    "INTERSECT (distinct semantics in both engines).",
    "SELECT c_nationkey AS nationkey FROM customer INTERSECT "
    "SELECT s_nationkey FROM supplier ORDER BY nationkey",
)
def set_intersect(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s).orderBy("nationkey")


@q(
    "set_except",
    "OP-SET",
    "EXCEPT (distinct semantics).",
    "SELECT c_nationkey AS nationkey FROM customer EXCEPT "
    "SELECT s_nationkey FROM supplier ORDER BY nationkey",
)
def set_except(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s).orderBy("nationkey")


# ---------------------------------------------------------------------------
# §2.7 Window functions
# ---------------------------------------------------------------------------


@q(
    "w1_row_number",
    "OP-W1",
    "row_number over partition/order (the OP-G1 fallback form).",
    "SELECT user_id, event_id, CAST(row_number() OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn "
    "FROM events ORDER BY user_id, rn",
)
def w1_row_number(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id", "event_id", F.row_number().over(w).cast("long").alias("rn")
    ).orderBy("user_id", "rn")


@q(
    "w2_rank",
    "OP-W2",
    "rank with deterministic tiebreak.",
    "SELECT o_custkey, o_orderkey, CAST(rank() OVER "
    "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk "
    "FROM orders ORDER BY o_custkey, o_orderkey",
)
def w2_rank(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return o.select(
        "o_custkey", "o_orderkey", F.rank().over(w).cast("long").alias("rk")
    ).orderBy("o_custkey", "o_orderkey")


@q(
    "w3_lag",
    "OP-W3",
    "lag (sessionization prereq). Global window: fine at test SF; at scale "
    "sessionization partitions by user first (see x6_sessionize).",
    "SELECT event_id, lag(value) OVER (ORDER BY ts, event_id) AS prev_value "
    "FROM events ORDER BY event_id",
)
def w3_lag(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = Window.orderBy("ts", "event_id")
    return ev.select("event_id", F.lag("value").over(w).alias("prev_value")).orderBy("event_id")


@q(
    "w4_running_sum",
    "OP-W4",
    "Running agg with frame; decimal-exact accumulation for hash stability.",
    "SELECT event_id, CAST(sum(CAST(value AS DECIMAL(28,6))) OVER "
    "(ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_sum "
    "FROM events ORDER BY event_id",
)
def w4_running_sum(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = Window.orderBy("ts", "event_id").rowsBetween(Window.unboundedPreceding, 0)
    return ev.select(
        "event_id",
        F.sum(F.col("value").cast("decimal(28,6)")).over(w).cast("double").alias("running_sum"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# §2.8 Streaming batch-equivalents (tumbling window rollup)
# ---------------------------------------------------------------------------


@q(
    "t_window_daily",
    "OP-T/ext",
    "Tumbling-window rollup — the batch equivalent of the streaming "
    "windowed agg (F.window ≡ DuckDB time_bucket).",
    "SELECT time_bucket(INTERVAL '1 day', ts) AS win_start, count(*) AS n, "
    f"{_dsum_sql('value')} AS sum_value FROM events GROUP BY win_start ORDER BY win_start",
)
def t_window_daily(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("win"))
        .agg(F.count("*").alias("n"), _dsum("value").alias("sum_value"))
        .select(F.col("win.start").alias("win_start"), "n", "sum_value")
        .orderBy("win_start")
    )


# ---------------------------------------------------------------------------
# Flagship: the reference's techno view stack end-to-end (§3.3 / Phase 1)
# ---------------------------------------------------------------------------

from ravelytics_spark.plans.flagship import FLAGSHIP_ORACLE, flagship  # noqa: E402

q(
    "flagship_techno_stack",
    "OP-G1/A1/J1/G2/G3/A2-A5/F1/F2",
    "The 4-deep techno view stack (002_views_techno.sql:9-58) over "
    "synthetic domain tables derived from orders+events.",
    FLAGSHIP_ORACLE,
)(flagship)

# Every plan module registers its entries through ``q`` on import; this
# order is the REGISTRY order.
from ravelytics_spark.plans import extensions as _extensions  # noqa: E402,F401
from ravelytics_spark.plans import harness_ops as _harness_ops  # noqa: E402,F401
from ravelytics_spark.plans import round2 as _round2  # noqa: E402,F401
from ravelytics_spark.plans import round3 as _round3  # noqa: E402,F401
from ravelytics_spark.plans import round4 as _round4  # noqa: E402,F401
from ravelytics_spark.plans import round5 as _round5  # noqa: E402,F401
from ravelytics_spark.plans import round5b as _round5b  # noqa: E402,F401
from ravelytics_spark.plans import round6 as _round6  # noqa: E402,F401
from ravelytics_spark.plans import round7 as _round7  # noqa: E402,F401
from ravelytics_spark.plans import round8 as _round8  # noqa: E402,F401
from ravelytics_spark.plans import round9 as _round9  # noqa: E402,F401
from ravelytics_spark.plans import round10 as _round10  # noqa: E402,F401
from ravelytics_spark.plans import round11 as _round11  # noqa: E402,F401
from ravelytics_spark.plans import round12 as _round12  # noqa: E402,F401
from ravelytics_spark.plans import round13 as _round13  # noqa: E402,F401
from ravelytics_spark.plans import round14 as _round14  # noqa: E402,F401
from ravelytics_spark.plans import round15 as _round15  # noqa: E402,F401
from ravelytics_spark.plans import round16 as _round16  # noqa: E402,F401
from ravelytics_spark.plans import round17 as _round17  # noqa: E402,F401
from ravelytics_spark.plans import round18 as _round18  # noqa: E402,F401
from ravelytics_spark.plans import round19 as _round19  # noqa: E402,F401
from ravelytics_spark.plans import round20 as _round20  # noqa: E402,F401
from ravelytics_spark.plans import round21 as _round21  # noqa: E402,F401
from ravelytics_spark.plans import round22 as _round22  # noqa: E402,F401
from ravelytics_spark.plans import round23_staged as _round23  # noqa: E402,F401
from ravelytics_spark.plans import round24_staged as _round24  # noqa: E402,F401
from ravelytics_spark.plans import round25_staged as _round25  # noqa: E402,F401
from ravelytics_spark.plans import round26_staged as _round26  # noqa: E402,F401
from ravelytics_spark.plans import round27 as _round27  # noqa: E402,F401
from ravelytics_spark.plans import round28_staged as _round28  # noqa: E402,F401
from ravelytics_spark.plans import round29 as _round29  # noqa: E402,F401
from ravelytics_spark.plans import round30_staged as _round30  # noqa: E402,F401
from ravelytics_spark.plans import round31_staged as _round31  # noqa: E402,F401
from ravelytics_spark.plans import round32_staged as _round32  # noqa: E402,F401
from ravelytics_spark.plans import round33 as _round33  # noqa: E402,F401
from ravelytics_spark.plans import round34_staged as _round34  # noqa: E402,F401
from ravelytics_spark.plans import round35_staged as _round35  # noqa: E402,F401
from ravelytics_spark.plans import round36 as _round36  # noqa: E402,F401
