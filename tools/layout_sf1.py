"""One-shot sf1-scale layout datapoint (VERDICT r6 next-round #8).

The dual bucketed edge layout's win is noise-level at sf0.1 (honest
admission in SCALE.md): the graph is small enough that one shuffle of the
edge table costs less than the timing dispersion.  This probe puts a
measured number behind the pinned-plan argument at ~sf1 edge volume:

* Data: the sf0.1 edge view amplified 10x as DISJOINT REPLICAS (ids offset
  by a power-of-two stride per replica) — ~sf1 edge count with the same
  per-vertex degree distribution.  This is a BENCH-ONLY synthetic
  amplification, clearly labeled in the artifact; correctness queries never
  touch it (TESTDATA parquet stays the only correctness input).  Replicas
  are disconnected, so khop2 from the sf0.1 start vertex returns the same
  rows while every scan/join faces 10x the edge volume — isolating exactly
  the cost the layout claims to remove (shuffling the edge side).
* Both sides pay read+join only: the plain side reads pre-materialized
  parquet copies (repartitioned+sorted by src/dst, the same approximation
  GraphStore's /tmp cache uses), the layout side reads the catalog-bucketed
  dual copies.  Same protocol as bench.py's sf0.1 layout series.
* Drift honesty: bench.py's twin certificate (the band at
  `bench.DRIFT_TOLERANCE`), as on every SF1 sidecar.  The "before" twins
  are sampled FIRST, before the 10x materialization churns the heap and
  page cache (measured: twins run 2x calibration when sampled right after
  the writes, even though the box is idle).

Writes LAYOUT_SF1.json at the repo root; bench.py embeds it into
BENCH_FULL.json under "layout_sf1" when present.

Run ALONE on an idle box:  python tools/layout_sf1.py
"""
from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPLICAS = 10


def main() -> None:
    from pyspark.sql import functions as F

    import bench
    from hugegraph_on_tikv_spark.operators.traversal import OUT, k_hop
    from hugegraph_on_tikv_spark.session import get_spark
    from hugegraph_on_tikv_spark.sources.edge_layout import DualEdgeLayout
    from hugegraph_on_tikv_spark.sources.graph import GraphStore, encode_id

    spark = get_spark("layout-sf1-probe")
    bench.warm_up(spark)
    twins = {"before": bench.twin_median(spark, "before")}

    store = GraphStore(spark, bench.SF_DIR)
    base = store.edges()
    # vertex ids are (label_code << 56) + key with keys far below 2^40 at
    # any test SF: replicas offset the KEY part by r * 2^40, preserving the
    # label code and guaranteeing disjointness without long overflow
    stride = 1 << 40
    other_cols = [c for c in base.columns if c not in ("src", "dst")]
    amp = (base.withColumn(
               "_r", F.explode(F.array(*[F.lit(i) for i in range(REPLICAS)])))
           .select((F.col("src") + F.col("_r") * stride).alias("src"),
                   (F.col("dst") + F.col("_r") * stride).alias("dst"),
                   *other_cols))

    tmp = tempfile.mkdtemp(prefix="layout_sf1_")
    layout = None
    doc: dict = {"replicas": REPLICAS, "sf_dir": bench.SF_DIR, "stride": stride,
                 "note": ("bench-only synthetic 10x disjoint-replica "
                          "amplification of the sf0.1 edge view; "
                          "correctness inputs are untouched")}
    try:
        # plain side: pre-materialized parquet, repartitioned+sorted per
        # join key — identical to GraphStore's /tmp cache approximation
        t0 = time.perf_counter()
        (amp.repartition(32, "src").sortWithinPartitions("src")
         .write.mode("overwrite").parquet(f"{tmp}/plain_src"))
        (amp.repartition(32, "dst").sortWithinPartitions("dst")
         .write.mode("overwrite").parquet(f"{tmp}/plain_dst"))
        doc["materialize_plain_copies_sec"] = round(time.perf_counter() - t0, 3)
        plain_src = spark.read.parquet(f"{tmp}/plain_src")
        plain_dst = spark.read.parquet(f"{tmp}/plain_dst")

        t0 = time.perf_counter()
        layout = DualEdgeLayout.materialize(
            amp, "sf1_edges", f"{tmp}/dual", buckets=32)
        doc["materialize_dual_layout_sec"] = round(time.perf_counter() - t0, 3)
        doc["edge_rows"] = plain_src.count()

        start = spark.range(1).select(
            encode_id("customer", F.lit(42).cast("long"))).collect()[0][0]

        def khop_plain():
            return k_hop(plain_src, [start], k=2, direction=OUT,
                         edges_by_dst=plain_dst)

        def khop_layout():
            return k_hop(layout.edges("src"), [start], k=2, direction=OUT,
                         edges_by_dst=layout.edges("dst"))

        # the regime the layout exists for: at 100x scale the frontier
        # exceeds any broadcast budget and the hop join becomes a shuffle
        # join — forced here by running the same thunks with broadcasts
        # off, so the edge side's pre-bucketing is the only difference
        # between sides
        @contextlib.contextmanager
        def no_broadcast():
            key = "spark.sql.autoBroadcastJoinThreshold"
            prev = spark.conf.get(key)
            spark.conf.set(key, "-1")
            try:
                yield
            finally:
                spark.conf.set(key, prev)

        # warm-up (first execution of each plan shape) outside timing,
        # then 3 isolated runs each
        bench.run_isolated(spark, khop_plain)
        bench.run_isolated(spark, khop_layout)
        plain_s, layout_s, plain_sh, layout_sh = [], [], [], []
        for i in range(3):
            plain_s.append(bench.run_isolated(spark, khop_plain))
            layout_s.append(bench.run_isolated(spark, khop_layout))
            with no_broadcast():
                plain_sh.append(bench.run_isolated(spark, khop_plain))
                layout_sh.append(bench.run_isolated(spark, khop_layout))
            print(f"# series[{i}] plain={plain_s[-1]}s layout={layout_s[-1]}s "
                  f"plain_shuffle={plain_sh[-1]}s layout_shuffle={layout_sh[-1]}s",
                  file=sys.stderr)
        doc.update({
            "khop2_plain_runs": plain_s,
            "khop2_layout_runs": layout_s,
            "khop2_plain_median": round(statistics.median(plain_s), 3),
            "khop2_layout_median": round(statistics.median(layout_s), 3),
            "khop2_shuffle_plain_runs": plain_sh,
            "khop2_shuffle_layout_runs": layout_sh,
            "khop2_shuffle_plain_median": round(statistics.median(plain_sh), 3),
            "khop2_shuffle_layout_median": round(statistics.median(layout_sh), 3),
        })
    finally:
        try:
            if layout is not None:
                layout.drop()  # deregister the catalog tables
        except Exception:
            pass
        shutil.rmtree(tmp, ignore_errors=True)

    bench.settle(spark)
    twins["after"] = bench.twin_median(spark, "after")
    bench.write_artifact(spark, "LAYOUT_SF1.json", doc, twins)
    print(json.dumps({"khop2_plain": doc.get("khop2_plain_median"),
                      "khop2_layout": doc.get("khop2_layout_median"),
                      "khop2_shuffle_plain": doc.get("khop2_shuffle_plain_median"),
                      "khop2_shuffle_layout": doc.get("khop2_shuffle_layout_median"),
                      "reference_drift": doc.get("reference_drift")}))


if __name__ == "__main__":
    main()
