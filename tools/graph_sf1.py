"""One-shot sf1-scale datapoint for the round-7 iterative graph operators
(Boruvka spanning forest, Luby maximal independent set, Jones-Plassmann
coloring) next to star-contraction CC on the same graph.

The driver-checked fixtures for these ops (the co-purchase graph) are a
few thousand edges — fine for correctness, silent about scale.  This probe
times the ACTUAL loop machinery (per-round shuffles, pointer doubling,
the _ckpt stats reset) at ~sf1 volume:

* Data: a SYNTHETIC union of multiplicative rings over n vertices —
  edges (i, (a_k * i + k) mod n) for K distinct multipliers — giving a
  connected, cycle-rich, near-regular graph with controlled size (the
  dedup_sf1 lesson applies: a single linear-step formula degenerates; the
  per-ring (a_k, k) scramble keeps rings distinct).  Weights are
  md5-derived integers so the spanning forest is nontrivial.  BENCH-ONLY:
  correctness queries never touch synthetic inputs.
* Each op runs once end-to-end (these are multi-round actions, not single
  plans, so the median-of-3 protocol would triple a multi-minute probe for
  dispersion the round counts already dominate); round counts ride the
  artifact.
* Drift honesty: bench.py's twin certificate (twin medians before and
  after the workload against BENCH_TWIN.json, the band at
  `bench.DRIFT_TOLERANCE`) rides the artifact, as on every SF1 sidecar.

Writes GRAPH_SF1.json at the repo root; bench.py embeds it into
BENCH_FULL.json under "graph_sf1" when present.

Run ALONE on an idle box:  python tools/graph_sf1.py
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_VERTICES = 1_000_000
MULTIPLIERS = (3, 7, 11, 17, 23, 31, 43, 59)   # 8 rings ≈ 8M directed edges


def main() -> None:
    from pyspark.sql import functions as F

    import bench
    from hugegraph_on_tikv_spark.functions.hashing import md5_long
    from hugegraph_on_tikv_spark.operators.analytics import (
        connected_components_star,
        greedy_coloring,
        maximal_independent_set,
        spanning_forest,
    )
    from hugegraph_on_tikv_spark.session import get_spark

    spark = get_spark("graph-sf1-probe")
    bench.warm_up(spark)
    twins = {"before": bench.twin_median(spark, "before")}

    base = spark.range(N_VERTICES).select(F.col("id").alias("src"))
    rings = [
        base.select(
            "src",
            ((F.col("src") * a + k) % N_VERTICES).alias("dst"))
        for k, a in enumerate(MULTIPLIERS)
    ]
    edges = rings[0]
    for r in rings[1:]:
        edges = edges.unionByName(r)
    edges = edges.filter(F.col("src") != F.col("dst"))
    # deterministic integer weights (md5 of the canonical pair, mod 1e6)
    u, v = F.least("src", "dst"), F.greatest("src", "dst")
    weighted = edges.select(
        "src", "dst",
        (md5_long(F.concat_ws(":", u, v)) % 1_000_000)
        .cast("double").alias("weight"))
    n_edges = edges.count()

    doc: dict = {
        "n_vertices": N_VERTICES,
        "multipliers": list(MULTIPLIERS),
        "n_directed_edges": n_edges,
        "note": ("bench-only synthetic multiplicative-ring graph; "
                 "correctness inputs are untouched"),
    }

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

    timed("spanning_forest", lambda: spanning_forest(weighted, max_rounds=20))
    timed("mis", lambda: maximal_independent_set(edges))
    timed("coloring", lambda: greedy_coloring(edges, max_rounds=60))
    timed("cc_star", lambda: connected_components_star(edges))

    bench.settle(spark)
    twins["after"] = bench.twin_median(spark, "after")
    bench.write_artifact(spark, "GRAPH_SF1.json", doc, twins)
    print(json.dumps({k: doc.get(k) for k in (
        "n_directed_edges", "spanning_forest_sec", "mis_sec",
        "coloring_sec", "cc_star_sec", "reference_drift")}))


if __name__ == "__main__":
    main()
