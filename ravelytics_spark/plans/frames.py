"""Shared input frames of the catalog: each frame's Spark builder beside
the DuckDB CTE text its oracles interpolate, so every entry that reads a
frame reads one definition of it (the ``_dsum``/``_dsum_sql`` rule of
``registry.py``, applied to whole frames).

- The co-order part graph. Its Spark side is ``operators.graph``
  (``coorder_pk``, ``coorder_edges``, ``undirected``); the oracle texts
  of the same three relations are here.
- Daily order revenue per epoch day, in cents or in whole thousands of
  currency units ("kilos").
- Monthly order revenue, overall or per customer nation, in cents, and
  per nation in kilos.
- Each order's value in kilos, keyed by its customer's market segment.

A text here is interpolated into an oracle's ``WITH`` list verbatim, so
changing one changes every oracle that reads it (and the pinned catalog
dump in ``tests/test_registry_contract.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Co-order part graph (Spark: operators.graph)
# ---------------------------------------------------------------------------

# Distinct (order, part) rows: ``coorder_pk``.
COORDER_PK_SQL = "SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem"

# Oriented part pairs (u < v) sharing at least two distinct orders of
# ``pk``: ``coorder_edges(li)``.
COORDER_EDGES_SQL = """SELECT a.p AS u, b.p AS v
    FROM pk a JOIN pk b ON a.o = b.o AND a.p < b.p
    GROUP BY a.p, b.p HAVING count(*) >= 2"""

# Both orientations of ``e``: ``undirected``.
UNDIRECTED_SQL = "SELECT u, v FROM e UNION ALL SELECT v, u FROM e"

# The three as materialized CTEs, the way the graph oracles that read
# ``und`` more than once declare them.
COORDER_GRAPH_CTES = f"""pk AS MATERIALIZED (
    {COORDER_PK_SQL}
),
e AS MATERIALIZED (
    {COORDER_EDGES_SQL}
),
und AS MATERIALIZED ({UNDIRECTED_SQL})"""

# ---------------------------------------------------------------------------
# Daily order revenue, keyed by epoch day d
# ---------------------------------------------------------------------------

DAILY_CENTS_CTE = """daily AS (
    SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS d,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders GROUP BY 1
)"""

DAILY_REVENUE_CTE = """daily AS (
    SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS d,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               // 100000 AS x
    FROM orders GROUP BY 1
)"""


def daily_order_cents(orders: DataFrame) -> DataFrame:
    """(d, cents): summed order revenue in cents per epoch day d;
    ``DAILY_CENTS_CTE``."""
    return orders.groupBy(
        F.expr("unix_timestamp(o_orderdate) div 86400").alias("d")
    ).agg(
        F.expr(
            "CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
        ).alias("cents")
    )


def daily_order_revenue(orders: DataFrame) -> DataFrame:
    """(d, x): the daily cents in kilos (cents DIV 100000);
    ``DAILY_REVENUE_CTE``."""
    return daily_order_cents(orders).select(
        "d", F.expr("cents DIV 100000").alias("x")
    )


# ---------------------------------------------------------------------------
# Monthly order revenue, keyed by the month's first day mon
# ---------------------------------------------------------------------------

MONTHLY_REVENUE_CTE = """m AS (
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
    FROM orders GROUP BY mon
)"""

MONTHLY_NATION_REVENUE_CTE = """m AS (
    SELECT c_nationkey, CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey, mon
)"""


def monthly_revenue(orders: DataFrame) -> DataFrame:
    """(mon, y): summed order revenue in cents per month;
    ``MONTHLY_REVENUE_CTE``."""
    return (
        orders.select(
            F.date_trunc("month", "o_orderdate").cast("date").alias("mon"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("mon")
        .agg(F.sum("cents").cast("long").alias("y"))
    )


def monthly_nation_revenue(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """(c_nationkey, mon, y): summed order revenue in cents per month and
    customer nation; ``MONTHLY_NATION_REVENUE_CTE``."""
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_nationkey",
            F.date_trunc("month", "o_orderdate").cast("date").alias("mon"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("c_nationkey", "mon")
        .agg(F.sum("cents").cast("long").alias("y"))
    )

MONTHLY_NATION_KILOS_CTE = """m AS (
    SELECT c.c_nationkey AS nkey,
           CAST(date_trunc('month', o.o_orderdate) AS DATE) AS mon,
           CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
                AS BIGINT) // 100000 AS ykd
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey, CAST(date_trunc('month', o.o_orderdate) AS DATE)
)"""


def monthly_nation_kilos(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """(nkey, mon, ykd): ``monthly_nation_revenue`` with y in kilos
    (y DIV 100000); ``MONTHLY_NATION_KILOS_CTE``."""
    return monthly_nation_revenue(orders, customer).select(
        F.col("c_nationkey").alias("nkey"), "mon", F.expr("y DIV 100000").alias("ykd")
    )


# ---------------------------------------------------------------------------
# Order values by customer market segment
# ---------------------------------------------------------------------------

SEGMENT_ORDER_KILOS_CTE = """k AS (
    SELECT c.c_mktsegment AS segment,
           CAST(round(o.o_totalprice * 100) AS BIGINT) // 100000 AS x
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)"""


def segment_order_kilos(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """(segment, x): one row per order, its value in kilos, keyed by
    its customer's market segment; ``SEGMENT_ORDER_KILOS_CTE``."""
    return orders.join(customer, orders.o_custkey == customer.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT) DIV 100000").alias("x"),
    )
