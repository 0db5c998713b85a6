"""One-shot sf1-scale DEDUP datapoint: the corpus-dedup family at 100×
the sf0.01 driver volume.

At sf0.1 the documents table is 5k rows — every dedup variant finishes
in noise-level time.  This probe measures the family at ~sf1 corpus
volume (50k docs × 60 tokens) WITH planted near-duplicates, so it
reports quality-at-scale (planted-pair recall) next to wall time:

* Data: BENCH-ONLY synthetic corpus, token i of doc d =
  'w' + ((base(d)*13 + i*7) % 800) where base(d) = d for d < 45k and
  d - 45k for the 5k planted copies; copies mutate tokens at positions
  10/20/30 (+1 offset) — pure integer column math, deterministic,
  generated in Spark.  Correctness queries never touch it.
* Measured (median of 3 isolated runs each, noop sink):
  - exact_groups: md5-fingerprint duplicate groups (the planted copies
    are NEAR-dups, so this sees none — floor cost of one hash groupBy);
  - minhash_lsh: 32-perm banded candidate pairs + verify;
  - simhash: Arrow signatures + banded Hamming<=3 pairs;
  - spans: cross-document duplicated >=8-token spans (the planted
    copies share long runs).
* Quality: recall of the 5 000 planted (source, copy) pairs in the
  minhash_lsh output (reported, not asserted — it is a property of the
  LSH parameters, ~57-token docs with 3 mutations).
* Drift honesty: bench.py's twin certificate (the band at
  `bench.DRIFT_TOLERANCE`), as on every SF1 sidecar.

Writes DEDUP_SF1.json at the repo root; bench.py embeds it into
BENCH_FULL.json under "dedup_sf1" when present.

Run ALONE on an idle box:  python tools/dedup_sf1.py
"""
from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from hugegraph_on_tikv_spark.session import get_spark  # noqa: E402

N_DOCS = 50_000
N_PLANTED = 5_000
DOC_LEN = 60
VOCAB = 800


def main() -> None:
    from pyspark.sql import functions as F

    from hugegraph_on_tikv_spark.functions import dedup

    spark = get_spark("dedup-sf1")
    bench.warm_up(spark)
    twins = {"before": bench.twin_median(spark, "before")}

    tmp = tempfile.mkdtemp(prefix="dedup_sf1_")
    doc: dict = {"n_docs": N_DOCS, "n_planted": N_PLANTED,
                 "doc_len": DOC_LEN, "vocab": VOCAB}
    try:
        # token = murmur-style multiply-XORSHIFT avalanche of an INJECTIVE
        # pre-image x = base*61 + i (stride 61 > doc length: disjoint
        # x-windows per doc).  THREE fixture designs failed before this
        # one, each by preserving additive structure:
        #   1. linear i-step -> the corpus is one cyclic string;
        #   2. mod-2^31 wrap -> exact pre-image collisions (~80k spurious
        #      J>=0.7 pairs);
        #   3. single Knuth multiply (a linear map) -> doc offsets Delta
        #      with 61*Delta*A mod 2^32 < 2^16 rotate the stream by less
        #      than the >>16 window, giving ~126k mostly-equal-token doc
        #      families.
        # The xor between the two multiplies is what kills linearity.
        # Mutations map to a third disjoint x-range.  All integer column
        # math stays inside int64 (pre-mod to 2^31 before the second
        # multiply: 2^31 * 0x85EBCA6B < 2^63).
        base = F.when(F.col("id") >= N_DOCS - N_PLANTED,
                      F.col("id") - (N_DOCS - N_PLANTED)).otherwise(F.col("id"))

        def _tok(i):
            mut = F.when((F.col("id") >= N_DOCS - N_PLANTED)
                         & i.isin(10, 20, 30), F.lit(1)).otherwise(F.lit(0))
            x = base * 61 + i + mut * (61 * N_DOCS)
            h = F.pmod(x * 0x9E3779B1, F.lit(2**32))
            h = h.bitwiseXOR(F.floor(h / 65536).cast("long"))
            h = F.pmod(F.pmod(h, F.lit(2**31)) * 0x85EBCA6B, F.lit(2**32))
            h = h.bitwiseXOR(F.floor(h / 8192).cast("long"))
            return F.concat(F.lit("w"),
                            F.pmod(h, F.lit(VOCAB)).cast("long")
                            .cast("string"))

        docs = (spark.range(N_DOCS)
                .select(F.col("id").alias("doc_id"),
                        F.concat_ws(" ", F.transform(
                            F.sequence(F.lit(0), F.lit(DOC_LEN - 1)), _tok))
                        .alias("text")))
        docs.write.mode("overwrite").parquet(f"{tmp}/docs")
        docs = spark.read.parquet(f"{tmp}/docs")
        doc["corpus_rows"] = docs.count()

        series = {
            "exact_groups": lambda: dedup.exact_duplicate_groups(docs),
            "minhash_lsh": lambda: dedup.minhash_lsh_duplicates(docs),
            "simhash": lambda: dedup.simhash_near_pairs(
                dedup.simhash_signatures(docs)),
            "spans": lambda: dedup.duplicated_spans(docs, n=8),
        }
        samples: dict = {k: [] for k in series}
        for _ in range(3):
            for name, thunk in series.items():
                samples[name].append(bench.run_isolated(spark, thunk))
        doc["queries"] = {k: round(statistics.median(v), 3)
                          for k, v in samples.items()}
        doc["samples"] = samples

        # planted-pair recall of the minhash path (quality at scale)
        pairs = dedup.minhash_lsh_duplicates(docs).select("doc_a", "doc_b")
        hits = pairs.filter(
            (F.col("doc_b") - F.col("doc_a") == N_DOCS - N_PLANTED)
            & (F.col("doc_a") < N_PLANTED)).count()
        doc["planted_recall_minhash"] = round(hits / N_PLANTED, 4)
        doc["minhash_pairs_total"] = pairs.count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    bench.settle(spark)
    twins["after"] = bench.twin_median(spark, "after")
    bench.write_artifact(spark, "DEDUP_SF1.json", doc, twins)
    print(json.dumps(doc["queries"]))


if __name__ == "__main__":
    main()
