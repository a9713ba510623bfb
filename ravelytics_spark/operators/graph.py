"""Shared co-order graph construction for the graph-analytics entries:
``coorder_pk`` (x154, x278), ``coorder_edges`` (x103, x127, x246, x247,
x262-x265, x321) and ``undirected`` (the same minus x103). The DuckDB
texts of the same relations are in ``plans/frames.py``.

Two scale lessons live here (round-12 optimization, guide §2.4/§3.1):

- ``coorder_pk``: the (order, part) relation is deduped PARTITION-LOCALLY
  behind one explicit hash exchange on the order key, so the distinct and
  the within-order self-join that every builder runs next share a single
  exchange. The naive ``select(o, p).distinct()`` partitions by (o, p) and
  the join immediately re-shuffles both sides by o — two full exchanges of
  the relation where one suffices. Hash(o) clusters equal (o, p) rows just
  as well (same o ⇒ same partition), and order fan-out is bounded (~7
  lineitems), so keying on o alone cannot skew.

- ``maybe_broadcast``: iterative peels/propagations join a NODE-sized
  frame against the EDGE list every round. The node side's size is known
  exactly at runtime (the early-exit count the loop already takes); below
  the threshold a broadcast hint removes every edge-frame exchange from
  the round (the edge list is probed map-side), above it the planner's
  sort-merge path stands. The threshold is bytes of the broadcast row
  estimate (``_GRAPH_BCAST_BYTES``) — at 100 TB a 200M-node alive set
  stays on the SMJ path by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Broadcast a node-keyed iteration frame only below this estimated size
# (bytes). Default 64 MB ≈ 4M nodes at 16 B/row — comfortably inside
# executor memory, far below the 8 GB broadcast cap.
_GRAPH_BCAST_BYTES = 64 * 1024 * 1024


def maybe_broadcast(df: DataFrame, est_bytes: int) -> DataFrame:
    """Broadcast-hint ``df`` when its measured size estimate fits the
    graph broadcast budget; otherwise return it unchanged (SMJ path)."""
    return F.broadcast(df) if est_bytes <= _GRAPH_BCAST_BYTES else df


def coorder_pk(li: DataFrame) -> DataFrame:
    """Distinct (o, p) = (l_orderkey, l_partkey) rows, deduped
    partition-locally behind ONE exchange on o, so the caller's
    within-order self-join on o adds no further exchange."""
    return (
        li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .repartition(F.col("o"))
        .dropDuplicates(["o", "p"])
    )


def coorder_edges(li: DataFrame, min_weight: int = 2) -> DataFrame:
    """Oriented co-order edges (u < v): part pairs sharing at least
    ``min_weight`` distinct orders — the repeat-co-purchase backbone
    every graph entry builds on."""
    pk = coorder_pk(li)
    a, b = pk.alias("a"), pk.alias("b")
    e = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .agg(F.count("*").alias("w"))
    )
    if min_weight > 1:
        e = e.filter(F.col("w") >= min_weight)
    return e.select("u", "v")


def undirected(e: DataFrame) -> DataFrame:
    """Both orientations of an oriented (u, v) edge list, for the
    entries that walk neighbors from either endpoint."""
    return e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
