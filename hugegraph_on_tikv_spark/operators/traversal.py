"""Graph traversal as DataFrame joins.

The reference serves traversal as adjacency prefix scans: out-edges from the
'o'+edge table keyed by source, in-edges from 'i'+edge keyed by target
(TikvTables.java:128-149) — hugegraph-core composes hops out of those lookups.
In Spark each hop is an equi-join: `edges.join(vertices, dst == id)`; k-hop is
an iterated self-join over a frontier.  The edge table is stored once; the
out/in twin tables were a sorted-KV access-path artifact (SURVEY.md §1.4).

Scale notes:
* the frontier is usually tiny vs. the edge table → broadcast the frontier so
  each hop is a map-side join (no shuffle of the big side);
* distinct() per hop bounds frontier growth;
* localCheckpoint every few hops cuts lineage/plan growth for deep traversals
  (SURVEY.md §7 hard part e).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

OUT, IN, BOTH = "out", "in", "both"


def broadcast_fits(df: DataFrame, rows: int) -> bool:
    """The engine's one broadcast guard: True when `rows` rows of `df`'s
    schema fit the session's `spark.sql.autoBroadcastJoinThreshold`.

    A row is sized as Spark's own estimator sizes it: 8 bytes of row
    overhead plus the schema's `defaultSize` (8 for a long or double, 4
    for an int, 20 for a string).  A (long, long) frame therefore
    broadcasts up to ~2.8M rows under the 64m budget `get_spark` sets,
    and a bare-id frontier up to ~4M.  A threshold of -1 never
    broadcasts.  Callers pass the exact (or a sound upper-bound) row
    count they already hold, so the guard itself runs no job.

    Why the operators need it: iteration state rebuilt by a stats-reset
    checkpoint carries `spark.sql.defaultSizeInBytes`, so Catalyst never
    auto-broadcasts it; an operator that wants a vertex-scale side to
    ship to every task asks this guard and adds the hint, and past the
    budget it keeps the shuffle plan instead of exhausting executor
    heap."""
    budget = (df.sparkSession._jsparkSession.sessionState().conf()
              .autoBroadcastJoinThreshold())
    return budget >= 0 and rows * (8 + df._jdf.schema().defaultSize()) <= budget


def adjacent(edges: DataFrame, direction: str = OUT, label: str | None = None,
             edges_by_dst: DataFrame | None = None) -> DataFrame:
    """(vertex, neighbor) pairs in the given direction — the relational view
    of the reference's out/in adjacency tables.

    `edges_by_dst` optionally supplies the dst-bucketed physical copy of the
    SAME logical edge table (sources/edge_layout.py): in-adjacency is then
    served from it, so a downstream join on `vertex` finds the edge side
    pre-distributed on its key in BOTH directions — the reference's twin
    tables as layout, not as duplicate logic."""
    e = edges.filter(F.col("label") == label) if label else edges
    e_in = edges_by_dst if edges_by_dst is not None else edges
    e_in = e_in.filter(F.col("label") == label) if label else e_in
    out = e.select(F.col("src").alias("vertex"), F.col("dst").alias("neighbor"))
    inn = e_in.select(F.col("dst").alias("vertex"), F.col("src").alias("neighbor"))
    if direction == OUT:
        return out
    if direction == IN:
        return inn
    return out.unionByName(inn)


def out_edges(edges: DataFrame, vertex_ids: Sequence[int], label: str | None = None) -> DataFrame:
    """Adjacency scan: all out-edges of the given vertices (the prefix-scan
    S6 equivalent, edges.filter(src == v))."""
    e = edges.filter(F.col("label") == label) if label else edges
    return e.filter(F.col("src").isin(list(vertex_ids)))


def in_edges(edges: DataFrame, vertex_ids: Sequence[int], label: str | None = None) -> DataFrame:
    e = edges.filter(F.col("label") == label) if label else edges
    return e.filter(F.col("dst").isin(list(vertex_ids)))


def neighbors(edges: DataFrame, vertex_ids: Sequence[int], direction: str = OUT,
              label: str | None = None) -> DataFrame:
    """Distinct neighbor ids of a vertex set."""
    adj = adjacent(edges, direction, label)
    return (
        adj.filter(F.col("vertex").isin(list(vertex_ids)))
        .select(F.col("neighbor").alias("id"))
        .distinct()
    )


def k_hop(edges: DataFrame, start_ids: Sequence[int], k: int, direction: str = OUT,
          labels: Sequence[str] | None = None,
          edges_by_dst: DataFrame | None = None) -> DataFrame:
    """Vertices reachable in exactly <= k hops (excluding the start set),
    with hop distance = first time reached (BFS layering).  Returns
    (id, hops).

    Each iteration joins the frontier against the adjacency view.  While the
    frontier passes `broadcast_fits` it is broadcast so the edge scan never
    shuffles; on a power-law graph the frontier reaches O(|V|) by hop 2-3,
    at which point broadcasting it would OOM every executor — past the
    budget the hop falls back to a plain shuffle join (AQE picks the
    physical strategy).  The frontier of every hop but the last is
    materialized (BFS is inherently iterative) by `analytics._ckpt`, whose
    one action returns the row count the next hop's size check reads, not a
    recompute; the last hop's frontier stays lazy inside the result.

    `edges_by_dst` routes in-direction hops through the dst-bucketed copy of
    the dual edge layout (sources/edge_layout.py): past the broadcast
    budget, the shuffle-join fallback then moves ONLY the frontier — the
    edge side is already distributed on the hop key (the persisted adjacency
    keeps the scan's bucket distribution; tests/test_plans.py pins it)."""
    # analytics imports this module, so its checkpoint primitive is
    # imported at call time
    from hugegraph_on_tikv_spark.operators.analytics import _ckpt

    spark = edges.sparkSession
    e = edges.filter(F.col("label").isin(list(labels))) if labels else edges
    e_dst = (edges_by_dst.filter(F.col("label").isin(list(labels)))
             if edges_by_dst is not None and labels else edges_by_dst)
    # materialize the adjacency projection once — every hop reuses it instead
    # of re-reading and re-unioning the raw edge sources per iteration
    adj = adjacent(e, direction, edges_by_dst=e_dst).persist()

    frontier = spark.createDataFrame([(int(v),) for v in start_ids], "id long")
    frontier_rows = len(start_ids)
    visited = frontier.withColumn("hops", F.lit(0))
    result = None
    for hop in range(1, k + 1):
        f = frontier.withColumnRenamed("id", "vertex")
        if broadcast_fits(f, frontier_rows):
            f = F.broadcast(f)
        nxt = (
            adj.join(f, "vertex")
            .select(F.col("neighbor").alias("id"))
            .distinct()
        )
        frontier = nxt.join(visited.select("id"), "id", "left_anti")
        if hop < k:
            # cut lineage AND materialize: the checkpoint's one action is
            # its row count, which the next hop's broadcast decision reads
            frontier, frontier_rows = _ckpt(frontier)
        layer = frontier.withColumn("hops", F.lit(hop))
        visited = visited.unionByName(layer)
        result = layer if result is None else result.unionByName(layer)
    return result if result is not None else visited.limit(0)


def induced_subgraph(edges: DataFrame, vertex_ids: DataFrame) -> DataFrame:
    """Edges whose BOTH endpoints lie in `vertex_ids` (a one-column `id`
    DataFrame) — the induced subgraph on a vertex set.  Two semi-joins;
    when the vertex set is small (an ego net, a community) it broadcasts
    and the edge table is filtered map-side in one pass."""
    ids = vertex_ids.select(F.col(vertex_ids.columns[0]).alias("id"))
    return (edges
            .join(F.broadcast(ids.withColumnRenamed("id", "src")),
                  "src", "leftsemi")
            .join(F.broadcast(ids.withColumnRenamed("id", "dst")),
                  "dst", "leftsemi"))


def ego_network(edges: DataFrame, center, k: int = 1,
                direction: str = BOTH,
                edges_by_dst: DataFrame | None = None) -> DataFrame:
    """The k-hop ego network around `center`: the induced subgraph on
    {center} ∪ k_hop(center, k).  Composition of the guarded-BFS k_hop
    frontier and induced_subgraph — same scale posture as both."""
    spark = edges.sparkSession
    hood = k_hop(edges, [center], k=k, direction=direction,
                 edges_by_dst=edges_by_dst).select("id")
    ids = hood.unionByName(
        spark.createDataFrame([(int(center),)], "id long")).distinct()
    return induced_subgraph(edges, ids)
