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
* while a hop's raw neighbour ids fit one broadcast, k_hop holds the
  frontier and the visited set in the driver (the reference's chain of
  adjacency lookups): de-duplication is a Python set, so such a hop runs no
  shuffle and no checkpoint;
* past that budget each hop is a distinct() and an anti-join against the
  visited set, and its frontier is a lineage-cutting checkpoint
  (SURVEY.md §7 hard part e).
"""

from __future__ import annotations

from typing import Iterable, Sequence

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

OUT, IN, BOTH = "out", "in", "both"


def broadcast_rows(df: DataFrame) -> int:
    """The engine's one broadcast sizing rule: how many rows of `df`'s
    schema fit the session's `spark.sql.autoBroadcastJoinThreshold`, or -1
    when that threshold is -1 (never broadcast).

    A row is sized as Spark's own estimator sizes it: 8 bytes of row
    overhead plus the schema's `defaultSize` (8 for a long or double, 4
    for an int, 20 for a string).  A (long, long) frame therefore
    broadcasts up to ~2.8M rows under the 64m budget `get_spark` sets,
    and a bare-id frontier up to ~4M."""
    budget = (df.sparkSession._jsparkSession.sessionState().conf()
              .autoBroadcastJoinThreshold())
    return budget // (8 + df._jdf.schema().defaultSize()) if budget >= 0 else -1


def broadcast_fits(df: DataFrame, rows: int) -> bool:
    """The engine's one broadcast guard: True when `rows` rows of `df`'s
    schema fit the broadcast budget (`broadcast_rows`).  A threshold of -1
    never broadcasts.  Callers pass the exact (or a sound upper-bound) row
    count they already hold, so the guard itself runs no job.

    Why the operators need it: iteration state rebuilt by a stats-reset
    checkpoint carries `spark.sql.defaultSizeInBytes`, so Catalyst never
    auto-broadcasts it; an operator that wants a vertex-scale side to
    ship to every task asks this guard and adds the hint, and past the
    budget it keeps the shuffle plan instead of exhausting executor
    heap."""
    return rows <= broadcast_rows(df)


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


def _id_frame(spark: SparkSession, ids: Iterable[int]) -> DataFrame:
    """A one-column `id long` frame over driver-held ids, built from Arrow:
    a LocalRelation, whose `collect()` submits no job (its `toArrow()`
    and `toPandas()` submit one and `count()` two; a frame built from a
    Python list is a LogicalRDD, whose every read is a job)."""
    return spark.createDataFrame(pa.table({"id": pa.array(list(ids), pa.int64())}))


def k_hop(edges: DataFrame, start_ids: Sequence[int], k: int, direction: str = OUT,
          labels: Sequence[str] | None = None,
          edges_by_dst: DataFrame | None = None) -> DataFrame:
    """Vertices reachable in exactly <= k hops (excluding the start set),
    with hop distance = first time reached (BFS layering).  Returns
    (id, hops).

    Held hops: while the frontier is driver-held, a hop ships it as an
    Arrow local relation, broadcast-joins it to the adjacency view and
    reads the hop's raw neighbour ids back, at most `cap + 1` of them,
    where `cap = broadcast_rows` of a bare-id frame, so the driver never
    holds more than one broadcast's worth: two jobs, the broadcast's and
    the read's (a limited `toArrow` reads every partition in one job,
    where `take` would scan them in growing rounds).  Python sets
    then de-duplicate them and drop the visited ids: no distinct, no
    anti-join exchange, no checkpoint.  This is the reference's chain of
    adjacency lookups on the frontier (TikvTables.java:128-149), and the
    regime of every point traversal.

    Handover: the first hop whose raw neighbour ids exceed `cap` (every
    hop when the broadcast threshold is -1) runs distributed, and so does
    every later hop: the frontier joins the adjacency (broadcast while it
    passes `broadcast_fits`, else a shuffle join), `distinct()`, a
    left-anti join against the visited set (broadcast when it fits), and
    the frontier of every hop but the last is cut by `analytics._ckpt`,
    whose one action returns the row count the next hop's size check
    reads.  On a power-law graph that is hop 2-3 from a hub.

    The result is one local relation of the held layers unioned with the
    distributed layers; a traversal that never hands over collects with
    no further job.  Nothing is persisted.

    `edges_by_dst` routes in-direction hops through the dst-bucketed copy of
    the dual edge layout (sources/edge_layout.py): past the broadcast
    budget, the shuffle-join fallback then moves ONLY the frontier — the
    edge side is already distributed on the hop key (tests/test_plans.py
    pins it)."""
    # analytics imports this module, so its checkpoint primitive is
    # imported at call time
    from hugegraph_on_tikv_spark.operators.analytics import _ckpt

    spark = edges.sparkSession
    e = edges.filter(F.col("label").isin(list(labels))) if labels else edges
    e_dst = (edges_by_dst.filter(F.col("label").isin(list(labels)))
             if edges_by_dst is not None and labels else edges_by_dst)
    adj = adjacent(e, direction, edges_by_dst=e_dst)

    seen = {int(v) for v in start_ids}
    frontier = set(seen)           # driver-held frontier
    reached: dict[int, int] = {}   # held layers: id -> hops
    spread = None                  # (frontier, rows, visited, rows) once handed over
    layers = []
    for hop in range(1, k + 1):
        if spread is None:
            if not frontier:
                break
            f = _id_frame(spark, frontier)
            cap = broadcast_rows(f)
            if len(frontier) <= cap:
                raw = (adj.join(F.broadcast(f.withColumnRenamed("id", "vertex")),
                                "vertex")
                       .select("neighbor").limit(cap + 1).toArrow().column(0))
                if len(raw) <= cap:
                    nxt = set(pc.unique(raw).to_pylist()) - seen
                    seen |= nxt
                    reached.update(dict.fromkeys(nxt, hop))
                    frontier = nxt
                    continue
            spread = (f, len(frontier), _id_frame(spark, seen), len(seen))
        front, n_front, visited, n_vis = spread
        fv = front.withColumnRenamed("id", "vertex")
        nxt = (adj.join(F.broadcast(fv) if broadcast_fits(fv, n_front) else fv,
                        "vertex")
               .select(F.col("neighbor").alias("id"))
               .distinct())
        nxt = nxt.join(F.broadcast(visited) if broadcast_fits(visited, n_vis)
                       else visited, "id", "left_anti")
        if hop < k:
            # cut lineage AND materialize: the checkpoint's one action is
            # its row count, which the next hop's broadcast decision reads
            nxt, n = _ckpt(nxt)
            spread = (nxt, n, visited.unionByName(nxt), n_vis + n)
        layers.append(nxt.withColumn("hops", F.lit(hop)))
    result = spark.createDataFrame(pa.table({
        "id": pa.array(list(reached), pa.int64()),
        "hops": pa.array(list(reached.values()), pa.int32())}))
    for layer in layers:
        result = result.unionByName(layer)
    return result


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
