"""One-shot sf1-scale SKEWED-graph datapoint (VERDICT r10 #3).

GRAPH_SF1's multiplicative-ring graph is degree-uniform, so the repo's
hub defenses — greedy_coloring's broadcast-under-guard pick joins,
cc_star's degree-oriented machinery, louvain's min_by argmax proposals,
pagerank's skew posture — are never actually exercised at sf1.  This
probe builds a DETERMINISTIC power-law graph and times the same loop
machinery on it:

* Data: preferential attachment via the classic inverse-square trick —
  vertex i (1..n-1) attaches K edges to targets t = floor(i * u^2) with
  u an md5-derived uniform in [0, 1) per (i, k).  P(t = j) ~ 1/sqrt(i*j)
  gives in-degree ~ i^-0.5 tails (power-law exponent 3, the Barabasi
  regime); vertex 0's degree lands around 2K*sqrt(n) (~8k at n=1M, K=4)
  — a real hub, orders of magnitude above the median degree of ~2K.
  Everything is column arithmetic over md5 (engine-portable,
  replayable); BENCH-ONLY — correctness queries never touch synthetic
  inputs.
* Ops: greedy_coloring and connected_components_star (to compare against
  their ring-graph GRAPH_SF1 twins), plus louvain_full and pagerank —
  the two operators whose hub defenses (argmax proposals, broadcast
  guards) only a skewed degree distribution can stress.
* Each op runs once end-to-end (multi-round actions; round counts
  dominate dispersion); max in-degree rides the artifact.
* Drift honesty: bench.py's twin certificate (the band at
  `bench.DRIFT_TOLERANCE`), as on every SF1 sidecar.

Writes GRAPH_SF1_SKEW.json at the repo root; bench.py embeds it into
BENCH_FULL.json under "graph_sf1_skew" when present.

Run ALONE on an idle box:  python tools/graph_sf1_skew.py
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_VERTICES = 1_000_000
K_EDGES = 4          # attachment edges per vertex ≈ 4M directed edges


def main() -> None:
    from pyspark.sql import functions as F

    import bench
    from hugegraph_on_tikv_spark.functions.hashing import md5_long
    from hugegraph_on_tikv_spark.operators.analytics import (
        connected_components_star,
        greedy_coloring,
        louvain_full,
        maximal_independent_set,
        pagerank,
        spanning_forest,
    )
    from hugegraph_on_tikv_spark.session import get_spark

    spark = get_spark("graph-sf1-skew-probe")
    bench.warm_up(spark)
    twins = {"before": bench.twin_median(spark, "before")}

    # preferential attachment: t = floor(i * u^2), u = md5(i:k)/2^20-ish
    base = spark.range(1, N_VERTICES).select(F.col("id").alias("src"))
    legs = []
    for k in range(K_EDGES):
        u = (md5_long(F.concat_ws(":", F.col("src"), F.lit(k)))
             % 1_048_576) / 1_048_576.0
        legs.append(base.select(
            "src",
            F.floor(F.col("src") * u * u).cast("long").alias("dst")))
    edges = legs[0]
    for leg in legs[1:]:
        edges = edges.unionByName(leg)
    edges = edges.filter(F.col("src") != F.col("dst")) \
        .localCheckpoint(eager=True)
    n_edges = edges.count()
    deg_row = (edges.select(F.col("dst").alias("id"))
               .groupBy("id").agg(F.count(F.lit(1)).alias("d"))
               .agg(F.max("d").alias("mx"),
                    F.expr("percentile_approx(d, 0.5)").alias("med"))
               .collect()[0])
    u_, v_ = F.least("src", "dst"), F.greatest("src", "dst")
    doc: dict = {
        "n_vertices": N_VERTICES,
        "k_edges_per_vertex": K_EDGES,
        "n_directed_edges": n_edges,
        "max_in_degree": int(deg_row["mx"]),
        "median_in_degree": int(deg_row["med"]),
        "note": ("bench-only deterministic preferential-attachment graph "
                 "(t = floor(i*u^2), u md5-derived); correctness inputs "
                 "are untouched"),
    }
    print(f"# graph: {n_edges} edges, max in-deg {doc['max_in_degree']}, "
          f"median {doc['median_in_degree']}", file=sys.stderr)

    def timed(tag, build):
        # the op's build plus its count() job (the same global count
        # aggregate) on the shared isolated timer; cache() keeps the one
        # count row for the untimed read below
        counts = []

        def counted():
            counts.append(build().groupBy().count().cache())
            return counts[0]

        doc[f"{tag}_sec"] = bench.run_isolated(spark, counted)
        doc[f"{tag}_rows"] = counts[0].first()[0]
        print(f"# {tag}: {doc[f'{tag}_sec']}s rows={doc[f'{tag}_rows']}",
              file=sys.stderr)

    # r11: forest + MIS on the skewed graph — Boruvka's per-component
    # root broadcast guard and the min_by pick aggregation only see hub
    # pressure here (a hub's edges all land in one component's pick
    # group); weights md5-derived like the ring twin
    weighted = edges.select(
        "src", "dst",
        (md5_long(F.concat_ws(":", u_, v_)) % 1_000_000)
        .cast("double").alias("weight"))
    timed("spanning_forest", lambda: spanning_forest(weighted, max_rounds=20))
    timed("mis", lambda: maximal_independent_set(edges))
    timed("coloring", lambda: greedy_coloring(edges, max_rounds=80))
    timed("cc_star", lambda: connected_components_star(edges))
    timed("pagerank", lambda: pagerank(edges, iterations=10,
                                       checkpoint_every=2))
    timed("louvain", lambda: louvain_full(edges, level1_rounds=3,
                                          level2_rounds=2))

    bench.settle(spark)
    twins["after"] = bench.twin_median(spark, "after")
    bench.write_artifact(spark, "GRAPH_SF1_SKEW.json", doc, twins)
    print(json.dumps({k: doc.get(k) for k in (
        "n_directed_edges", "max_in_degree", "spanning_forest_sec",
        "mis_sec", "coloring_sec", "cc_star_sec",
        "pagerank_sec", "louvain_sec", "reference_drift")}))


if __name__ == "__main__":
    main()
