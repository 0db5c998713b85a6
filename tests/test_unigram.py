"""Unigram-LM tokenizer (functions/unigram.py) vs a pure-Python Viterbi
reference, plus structural invariants on the real corpus."""
from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hugegraph_on_tikv_spark.functions import unigram as U

SF_DIR = "/root/testdata/sf0.001"
SCALE = 1_000_000

DOCS = [
    (1, "banana bandana banana"),
    (2, "ana banana nab"),
    (3, "cab cabana banana"),
    (4, "ban cab ana ana"),
]


def _py_viterbi(word: str, scores: dict[str, int], maxp: int):
    """The reference DP: best (score, seg) per prefix, ties on smaller
    seg string — must agree with the JVM fold exactly."""
    best = [(0, "")]
    for i in range(1, len(word) + 1):
        cands = []
        for j in range(max(0, i - maxp), i):
            p = word[j:i]
            if p in scores and best[j] is not None:
                sc = best[j][0] + scores[p]
                seg = p if j == 0 else best[j][1] + " " + p
                cands.append((sc, seg))
        best.append(min(cands, key=lambda t: (-t[0], t[1]))
                    if cands else None)
    return best[len(word)]


def _py_ref(docs, n_iters=1, maxp=4, n_multi=200):
    """Pure-Python replica of seed → hard-EM → final vocab/ids."""
    words: dict[str, int] = {}
    for _, text in docs:
        for w in text.split():
            words[w] = words.get(w, 0) + 1
    pc: dict[str, int] = {}
    for w, f in words.items():
        for s in range(len(w)):
            for l in range(1, min(maxp, len(w) - s) + 1):
                pc[w[s:s + l]] = pc.get(w[s:s + l], 0) + f
    chars = {p: c for p, c in pc.items() if len(p) == 1}
    multi = sorted(((p, c) for p, c in pc.items() if len(p) > 1),
                   key=lambda t: (-t[1], t[0]))[:n_multi]
    vocab = dict(chars)
    vocab.update(dict(multi))
    for _ in range(n_iters):
        tot = sum(vocab.values())
        scores = {p: math.floor(math.log(c / tot) * SCALE)
                  for p, c in vocab.items()}
        used: dict[str, int] = {}
        for w, f in words.items():
            _, seg = _py_viterbi(w, scores, maxp)
            for p in seg.split(" "):
                used[p] = used.get(p, 0) + f
        nxt = dict(used)
        for c in chars:
            nxt[c] = max(nxt.get(c, 0), 1)
        vocab = nxt
    ordered = sorted(vocab.items(), key=lambda t: (-t[1], t[0]))
    ids = {p: i for i, (p, _) in enumerate(ordered)}
    tot = sum(vocab.values())
    scores = {p: math.floor(math.log(c / tot) * SCALE)
              for p, c in vocab.items()}
    return vocab, ids, scores


@pytest.fixture(scope="module")
def toy(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_train_matches_python_reference(spark, toy):
    vocab, _ = U.unigram_train(toy, n_iters=1, max_piece_len=4, n_multi=200)
    got = {r.piece: (r.cnt, r.token_id) for r in vocab.collect()}
    ref_vocab, ref_ids, _ = _py_ref(DOCS)
    assert {p: c for p, (c, _) in got.items()} == ref_vocab
    assert {p: i for p, (_, i) in got.items()} == ref_ids


def test_train_keeps_caller_cached_words(spark, toy):
    """A (word, freq) table the caller persisted is still cached after
    training: unigram_train releases only the caches it created."""
    words = U.word_freqs(toy).persist()
    try:
        vocab, _ = U.unigram_train(toy, n_iters=1, max_piece_len=4,
                                   n_multi=200, words=words)
        vocab.collect()
        assert words.is_cached
    finally:
        words.unpersist()


def test_encode_matches_python_reference(spark, toy):
    vocab, _ = U.unigram_train(toy, n_iters=1, max_piece_len=4, n_multi=200)
    enc = U.unigram_encode(toy, vocab, max_piece_len=4)
    got = sorted((r.doc_id, r.wpos, r.spos, r.token_id) for r in enc.collect())
    _, ids, scores = _py_ref(DOCS)
    want = []
    for doc_id, text in DOCS:
        for wpos, w in enumerate(text.split()):
            _, seg = _py_viterbi(w, scores, 4)
            for spos, p in enumerate(seg.split(" ")):
                want.append((doc_id, wpos, spos, ids[p]))
    assert got == sorted(want)


def test_roundtrip_and_coverage_on_corpus(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    vocab, words = U.unigram_train(docs, n_iters=1, max_piece_len=4,
                                   n_multi=200)
    seg = U.viterbi_segment(words, vocab.select("piece", "sc"),
                            max_piece_len=4)
    # full coverage: every corpus word segments, and pieces respell it
    assert seg.count() == words.count()
    bad = seg.filter(
        F.regexp_replace("seg", " ", "") != F.col("word")).count()
    assert bad == 0
    # ids dense 0..V-1
    v = vocab.agg(F.count("*").alias("n"), F.min("token_id").alias("lo"),
                  F.max("token_id").alias("hi"),
                  F.count_distinct("token_id").alias("d")).first()
    assert (v.lo, v.hi, v.d) == (0, v.n - 1, v.n)


def test_foreign_word_segments_through_char_floor(spark, toy):
    vocab, _ = U.unigram_train(toy, n_iters=1, max_piece_len=4, n_multi=200)
    foreign = spark.createDataFrame([(99, "cbbc nanana")], ["doc_id", "text"])
    enc = U.unigram_encode(foreign, vocab, max_piece_len=4)
    # both words consist of trained characters -> fully covered
    n_pieces = enc.count()
    assert n_pieces > 0
    covered_words = enc.select("wpos").distinct().count()
    assert covered_words == 2


def test_unknown_char_words_drop_not_crash(spark, toy):
    vocab, _ = U.unigram_train(toy, n_iters=1, max_piece_len=4, n_multi=200)
    mixed = spark.createDataFrame([(1, "banana xyzq")], ["doc_id", "text"])
    enc = U.unigram_encode(mixed, vocab, max_piece_len=4)
    # 'xyzq' has chars outside the trained alphabet (no x/y/z/q in corpus):
    # the coverage guard drops it instead of faulting the fold
    assert enc.select("wpos").distinct().count() == 1
