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
* Drift honesty: the frozen bench twin probes run before and after at
  sf0.1 against BENCH_TWIN.json — the same machine-state certificate the
  other SF1 artifacts carry.

Writes GRAPH_SF1.json at the repo root; bench.py embeds it into
BENCH_FULL.json under "graph_sf1" when present.

Run ALONE on an idle box:  python tools/graph_sf1.py
"""
from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
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
    spark.range(1).count()

    def twin_pass(tag: str) -> dict[str, float]:
        out = {}
        for pname, pfn in bench._TWIN_PROBES.items():
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            pfn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            out[pname] = round(time.perf_counter() - t0, 3)
            print(f"# twin[{tag}] {pname}: {out[pname]}s", file=sys.stderr)
        return out

    # twin sampling mirrors BENCH_TWIN's calibration shape (median with
    # cold passes absorbed): two throwaway passes cover JIT warmup, then
    # the recorded twin is the per-probe MEDIAN of 3 passes.
    def twin_median(tag: str) -> dict[str, float]:
        ps = [twin_pass(tag) for _ in range(3)]
        return {k: round(statistics.median([p[k] for p in ps]), 3)
                for k in ps[0]}

    for _ in range(2):                        # throwaway: JIT warm-up
        for pfn in bench._TWIN_PROBES.values():
            pfn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    twins = {"before": twin_median("before")}

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

    def timed(tag, fn):
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        n = fn()
        doc[f"{tag}_sec"] = round(time.perf_counter() - t0, 3)
        doc[f"{tag}_rows"] = n
        print(f"# {tag}: {doc[f'{tag}_sec']}s rows={n}", file=sys.stderr)

    timed("spanning_forest",
          lambda: spanning_forest(weighted, max_rounds=20).count())
    timed("mis", lambda: maximal_independent_set(edges).count())
    timed("coloring", lambda: greedy_coloring(edges, max_rounds=60).count())
    timed("cc_star", lambda: connected_components_star(edges).count())

    # settle: let the ContextCleaner drain the workload's
    # checkpoint/broadcast garbage before sampling the box again
    for _ in range(3):
        spark.sparkContext._jvm.System.gc()
        time.sleep(15)
    twin_pass('settle')                  # throwaway: post-workload catchup pass
    twins["after"] = twin_median("after")
    cal = {}
    if os.path.exists(bench.TWIN_FILE):
        with open(bench.TWIN_FILE) as f:
            cal_doc = json.load(f)
        if cal_doc.get("sf_dir") == SF_DIR:
            cal = cal_doc.get("medians", {})
    drift = False
    ratios = {}
    for tag, tp in twins.items():
        for pname, val in tp.items():
            if pname in cal and cal[pname]:
                r = round(val / cal[pname], 3)
                ratios[f"{tag}.{pname}"] = r
                if not (0.7 <= r <= 1 / 0.7):
                    drift = True
    doc.update({
        "twin_runs": twins,
        "twin_ratios_vs_calibration": ratios,
        "reference_drift": drift,
    })

    out_path = os.path.join(REPO, "GRAPH_SF1.json")
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    print(json.dumps({k: doc.get(k) for k in (
        "n_directed_edges", "spanning_forest_sec", "mis_sec",
        "coloring_sec", "cc_star_sec", "reference_drift")}))


if __name__ == "__main__":
    main()
