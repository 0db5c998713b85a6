"""One-shot sf1-scale ANN datapoint: exact cosine vs PQ/ADC vs IVF-PQ.

At sf0.1 the embeddings table is 2000 vectors — every ANN variant
finishes in noise-level time and the compression layouts can't show
their point.  This probe measures the three search layouts at ~sf1
vector volume (50k × 64 dims):

* Data: BENCH-ONLY synthetic vectors, v[id][d] = ((id*31 + d*17) % 1000)
  / 500 - 1 — pure integer arithmetic, deterministic, generated in Spark
  (no fixture dependence; correctness queries never touch it).
* Layouts measured, same queries (50 ids), k=5, median of 3 isolated
  runs each (clearCache + GC, the bench protocol):
  - exact: brute-force cosine_topk over the float parquet;
  - pq: persisted PQ index (m=8), ADC over the codes column only;
  - ivfpq: IVF-PQ (16 cells, probe 4) — partition pruning × code scan.
* Drift honesty: bench.py's twin certificate (the band at
  `bench.DRIFT_TOLERANCE`), as on every SF1 sidecar.

Writes ANN_SF1.json at the repo root; bench.py embeds it into
BENCH_FULL.json under "ann_sf1" when present.

Run ALONE on an idle box:  python tools/ann_sf1.py
"""
from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from hugegraph_on_tikv_spark.session import get_spark  # noqa: E402

N_VECS = 50_000
DIM = 64


def main() -> None:
    from pyspark.sql import functions as F

    from hugegraph_on_tikv_spark.functions.similarity import (
        ann_autotune, cosine_topk, cosine_topk_vectorized,
        ivf_write_index, ivfpq_search_index,
        ivfpq_write_index, pq_adc_vectorized, pq_search_index,
        pq_write_index)

    spark = get_spark("ann-sf1")
    bench.warm_up(spark)
    twins = {"before": bench.twin_median(spark, "before")}

    tmp = tempfile.mkdtemp(prefix="ann_sf1_")
    doc: dict = {"n_vectors": N_VECS, "dim": DIM}
    try:
        dims = F.array(*[
            (((F.col("id") * 31 + d * 17) % 1000) / F.lit(500.0) - 1.0)
            for d in range(DIM)])
        emb = spark.range(N_VECS).select(
            F.col("id").alias("vec_id"), dims.alias("embedding"))
        emb.write.mode("overwrite").parquet(f"{tmp}/emb")
        emb = spark.read.parquet(f"{tmp}/emb")
        queries = emb.filter(F.col("vec_id") % 1000 == 0)

        t0 = time.perf_counter()
        pq_write_index(emb, f"{tmp}/pq", m=8, n_codes=16)
        doc["build_pq_index"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        ivfpq_write_index(emb, f"{tmp}/ivfpq", n_cells=16, m=8, n_codes=16)
        doc["build_ivfpq_index"] = round(time.perf_counter() - t0, 3)

        series = {
            "exact_cosine_topk": lambda: cosine_topk(queries, emb, k=5),
            "exact_vectorized": lambda: cosine_topk_vectorized(
                queries, emb, k=5),
            "pq_adc_relational": lambda: pq_search_index(
                spark, f"{tmp}/pq", queries, k=5),
            "pq_adc_vectorized": lambda: pq_adc_vectorized(
                spark, f"{tmp}/pq", queries, k=5),
            "ivfpq_probe4": lambda: ivfpq_search_index(
                spark, f"{tmp}/ivfpq", queries, k=5, n_probe=4),
        }
        samples: dict = {k: [] for k in series}
        for _ in range(3):
            for name, thunk in series.items():
                samples[name].append(bench.run_isolated(spark, thunk))
        doc["queries"] = {k: round(statistics.median(v), 3)
                          for k, v in samples.items()}
        doc["samples"] = samples

        # r10: the closed recall loop at sf1 volume — build an IVF-flat
        # index and let ann_autotune walk n_probe up to the recall
        # target.  This is a driver-side action loop (returns a dict),
        # so it is timed end-to-end, once, not via bench.run_isolated.
        t0 = time.perf_counter()
        ivf_write_index(emb, f"{tmp}/ivf", n_cells=16, quantize_bits=None)
        doc["build_ivf_index"] = round(time.perf_counter() - t0, 3)
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        tune = ann_autotune(spark, f"{tmp}/ivf", queries,
                            target_recall=0.9, k=5, start_n_probe=1)
        doc["autotune"] = {
            "sec": round(time.perf_counter() - t0, 3),
            "n_probe": tune["n_probe"], "recall": round(tune["recall"], 4),
            "recluster": tune["recluster"],
            "steps": len(tune["history"]),
        }

        # r11 (ADVICE r10): autotune on the QUANTIZED deployment path —
        # an SQ8 index (quantize_bits=8 in index_meta.json) makes
        # ann_autotune probe the int8-codes scan, so the tuned n_probe
        # delivers the target on what production actually runs; the
        # recall it reports is the quantized path's, which can differ
        # from flat at the same n_probe (quantization error).
        t0 = time.perf_counter()
        ivf_write_index(emb, f"{tmp}/ivf_sq8", n_cells=16, quantize_bits=8)
        doc["build_ivf_sq8_index"] = round(time.perf_counter() - t0, 3)
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        tune_q = ann_autotune(spark, f"{tmp}/ivf_sq8", queries,
                              target_recall=0.9, k=5, start_n_probe=1)
        doc["autotune_sq8"] = {
            "sec": round(time.perf_counter() - t0, 3),
            "n_probe": tune_q["n_probe"],
            "recall": round(tune_q["recall"], 4),
            "quantized": tune_q["quantized"],
            "recluster": tune_q["recluster"],
            "steps": len(tune_q["history"]),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    bench.settle(spark)
    twins["after"] = bench.twin_median(spark, "after")
    bench.write_artifact(spark, "ANN_SF1.json", doc, twins)
    print(json.dumps(doc["queries"]))


if __name__ == "__main__":
    main()
