"""One-shot sf1-scale TOKENIZER/ASSEMBLY datapoint: the corpus-to-
training-sequences family at ~100× the sf0.01 driver volume.

Measures the r9 tokenizer and dataset-assembly operators on a 50k-doc ×
60-token synthetic corpus (3M stream tokens — the dedup_sf1 fixture
design: injective avalanche-hash tokens, see tools/dedup_sf1.py for the
three failed linear designs that motivated it, minus the planted copies
which tokenizers don't need):

* bpe_learn+encode : 6 merges learned in one word-table pass + full-corpus
                     token-id emission
* unigram_train+encode : seed vocab + 1 hard-EM round + Viterbi encode
* training_order   : epoch-shuffle permutation of the 50k ids
* token_budget_select : banded greedy selection at a 30% token budget
* pack_ordered     : pack_token_ids over the BPE id stream in the
                     shuffled order (the pipe_assemble tail)

The scale thesis under test: tokenizer cost ≈ corpus-scan cost, because
every statistic collapses to the word-frequency table (800 distinct
tokens here) — the measured numbers should track the corpus passes, not
vocabulary work.  Consistency checks reported next to wall time: encode
coverage (ids emitted == stream tokens × symbols/word) and the
dense-permutation invariant (Σ block_pos == n(n-1)/2).

Drift honesty: bench.py's twin certificate (the band at
`bench.DRIFT_TOLERANCE`), as on every SF1 sidecar.

Writes TOKENIZER_SF1.json at the repo root.
Run ALONE on an idle box:  python tools/tokenizer_sf1.py
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
DOC_LEN = 60
VOCAB = 800
BUDGET_FRAC = 0.30
SEQ_LEN = 2048
SHARDS = 8


def main() -> None:
    from pyspark.sql import functions as F

    from hugegraph_on_tikv_spark.functions import unigram as U
    from hugegraph_on_tikv_spark.functions.bpe import bpe_encode, bpe_learn
    from hugegraph_on_tikv_spark.functions.packing import pack_token_ids
    from hugegraph_on_tikv_spark.functions.sampling import (
        token_budget_select, training_order)
    from hugegraph_on_tikv_spark.functions.text import tokens as _toks

    spark = get_spark("tokenizer-sf1")
    bench.warm_up(spark)
    twins = {"before": bench.twin_median(spark, "before")}

    tmp = tempfile.mkdtemp(prefix="tokenizer_sf1_")
    doc: dict = {"n_docs": N_DOCS, "doc_len": DOC_LEN, "vocab": VOCAB,
                 "seq_len": SEQ_LEN, "shards": SHARDS}
    try:
        def _tok(i):
            x = F.col("id") * 61 + i
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
        doc["stream_tokens"] = N_DOCS * DOC_LEN

        scored = docs.select(
            "doc_id",
            F.size(_toks(F.col("text"))).cast("long").alias("n_tokens"),
            F.size(F.array_distinct(_toks(F.col("text")))).cast("long")
            .alias("n_distinct"),
        ).select("doc_id", "n_tokens",
                 F.expr("div(1000000 * n_distinct, n_tokens)")
                 .alias("quality"))
        budget = int(N_DOCS * DOC_LEN * BUDGET_FRAC)
        doc["budget_tokens"] = budget
        ids = docs.select("doc_id")

        def _bpe():
            merges, words = bpe_learn(docs, n_merges=6)
            return bpe_encode(docs, merges, words=words, char_fallback=False)

        def _uni():
            vocab, _ = U.unigram_train(docs, n_iters=1, max_piece_len=4,
                                       n_multi=200)
            return U.unigram_encode(docs, vocab, max_piece_len=4)

        def _pack_ordered():
            merges, words = bpe_learn(docs, n_merges=6)
            enc = bpe_encode(docs, merges, words=words, char_fallback=False)
            ordr = training_order(ids, n_shards=SHARDS, salt="epoch0")
            return pack_token_ids(enc, seq_len=SEQ_LEN, shards=SHARDS,
                                  order=ordr.select("doc_id", "shard", "pos"))

        series = {
            "bpe_learn_encode": _bpe,
            "unigram_train_encode": _uni,
            "training_order": lambda: training_order(ids, SHARDS, "epoch0"),
            "token_budget_select": lambda: token_budget_select(
                scored, budget=budget, quality_col="quality",
                token_col="n_tokens", id_col="doc_id"),
            "pack_ordered": _pack_ordered,
        }
        samples: dict = {k: [] for k in series}
        for _ in range(3):
            for name, thunk in series.items():
                samples[name].append(bench.run_isolated(spark, thunk))
        doc["queries"] = {k: round(statistics.median(v), 3)
                          for k, v in samples.items()}
        doc["samples"] = samples

        # consistency at scale (reported, the driver checks sf0.01 values)
        enc = _bpe().persist()
        doc["bpe_ids_emitted"] = enc.count()
        doc["bpe_vocab_size"] = enc.select("token_id").distinct().count()
        enc.unpersist()
        ordr = training_order(ids, SHARDS, "epoch0")
        agg = ordr.agg(F.count(F.lit(1)).alias("n"),
                       F.sum("block_pos").alias("s"),
                       F.count_distinct("read_pos").alias("d")).first()
        doc["order_dense_permutation"] = (
            int(agg["s"]) == N_DOCS * (N_DOCS - 1) // 2
            and int(agg["d"]) == N_DOCS and int(agg["n"]) == N_DOCS)
        kept = token_budget_select(scored, budget=budget,
                                   quality_col="quality",
                                   token_col="n_tokens", id_col="doc_id")
        ka = kept.agg(F.count(F.lit(1)).alias("n"),
                      F.sum("tokens").alias("t"),
                      F.max("spent").alias("m")).first()
        doc["budget_kept_docs"] = int(ka["n"])
        doc["budget_spent"] = int(ka["t"])
        doc["budget_respected"] = int(ka["m"]) <= budget
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    bench.settle(spark)
    twins["after"] = bench.twin_median(spark, "after")
    bench.write_artifact(spark, "TOKENIZER_SF1.json", doc, twins)
    print(json.dumps(doc["queries"]))


if __name__ == "__main__":
    main()
