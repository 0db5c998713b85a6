"""Capture the REAL per-iteration plans of the iterative operators, whose
final `.explain` is truncated by their own localCheckpoint calls: hook
DataFrame.localCheckpoint to record the formatted plan of every frame the
operator checkpoints while it runs (the lineage cuts of
`analytics._fixpoint` and `_ckpt` included), then write every one of them,
numbered in call order (the first frames are often setup cuts; the round
plans come after them).

Usage: python tools/capture_iteration_plans.py <suffix> [op ...]
  op: a key of `runners` in main() (default: pagerank katz cc)

Writes $PLANS_DIR/<op>_iteration_<suffix>.txt (default plans/r12).
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hugegraph_on_tikv_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PLANS_DIR = os.environ.get(
    "PLANS_DIR",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "plans", "r12"))


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    ops = sys.argv[2:] or ["pagerank", "katz", "cc"]
    os.makedirs(PLANS_DIR, exist_ok=True)
    spark = get_spark("capture-iteration-plans")

    # Spark 4: instances are pyspark.sql.classic.dataframe.DataFrame, which
    # OVERRIDES localCheckpoint — patching the abstract parent class in
    # pyspark.sql.dataframe intercepts nothing.  Patch the classic class.
    try:
        import pyspark.sql.classic.dataframe as D
    except ImportError:  # Spark 3.x: the one class
        import pyspark.sql.dataframe as D

    from pyspark.sql import functions as F

    from hugegraph_on_tikv_spark.operators import analytics
    from hugegraph_on_tikv_spark.sources.graph import GraphStore

    edges = GraphStore(spark, SF_DIR).edges().filter(
        F.col("label").isin(["placed", "contains"]))

    jvm = spark._jvm
    orig = D.DataFrame.localCheckpoint
    captured: list[str] = []

    def patched(self, eager=True):
        try:
            captured.append(
                jvm.org.apache.spark.sql.api.python.PythonSQLUtils
                .explainString(self._jdf.queryExecution(), "formatted"))
        except Exception as ex:
            captured.append(f"ERROR: {ex}")
        return orig(self, eager)

    runners = {
        "pagerank": lambda: analytics.pagerank(
            edges, iterations=4, checkpoint_every=2, state_partitions=8),
        "katz": lambda: analytics.katz_centrality(
            edges, iterations=4, checkpoint_every=2),
        "cc": lambda: analytics.connected_components(
            edges, max_iterations=6),
        # r11 batch 2/3 iterative targets
        "cc_star": lambda: analytics.connected_components_star(
            edges, max_iterations=6),
        "mis": lambda: analytics.maximal_independent_set(edges),
        "n2v": lambda: analytics.node2vec_walks(
            edges, [1, 2, 3], 5, p=4.0, q=0.25, walks_per_node=2),
        "walks": lambda: analytics.random_walks(
            edges, [1, 2, 3], 8, walks_per_node=2),
        # every 7th edge reversed: cycles, so colouring and marking run
        "scc": lambda: analytics.strongly_connected_components(
            edges.select("src", "dst").unionByName(
                edges.filter(F.col("src") % 7 == 0)
                .select(F.col("dst").alias("src"), F.col("src").alias("dst"))),
            max_rounds=3),
        "ktruss": lambda: analytics.k_truss(edges, k=3, max_iterations=6),
        "betweenness": lambda: analytics.betweenness_centrality(
            edges, [r.src for r in edges.limit(3).collect()], max_depth=4),
        "louvain": lambda: analytics.louvain_full(
            edges, level1_rounds=3, level2_rounds=2, max_levels=3),
        # r12: the VERDICT r11 #6 asks — forest per-round dumps plus the
        # k_core/core_numbers/label_propagation join-strategy probes
        "forest": lambda: analytics.spanning_forest(
            edges.select("src", "dst",
                         (F.col("src") % 97 + 1).cast("double")
                         .alias("weight")),
            max_rounds=8),
        "kcore": lambda: analytics.k_core(edges, k=3, max_iterations=6),
        "corenum": lambda: analytics.core_numbers(edges),
        "lpa": lambda: analytics.label_propagation(edges, iterations=4),
        "hits": lambda: analytics.hits(edges, iterations=4),
        "paths": lambda: analytics.shortest_paths(edges, [1, 2], iterations=3),
        "sssp": lambda: analytics.sssp(
            edges.withColumn("weight", F.lit(1.0)), 1, iterations=3),
        "hyperball": lambda: analytics.hyperball(edges, max_rounds=3),
    }
    for op in ops:
        captured.clear()
        D.DataFrame.localCheckpoint = patched
        try:
            runners[op]().write.format("noop").mode("overwrite").save()
        finally:
            D.DataFrame.localCheckpoint = orig
        out = os.path.join(PLANS_DIR, f"{op}_iteration_{suffix}.txt")
        with open(out, "w") as f:
            for i, p in enumerate(captured):
                f.write(f"===== checkpointed frame {i} of {len(captured)} "
                        f"(plan at its localCheckpoint call) =====\n{p}\n")
        print(f"# wrote {out} ({len(captured)} checkpoints observed)",
              file=sys.stderr)


if __name__ == "__main__":
    main()
