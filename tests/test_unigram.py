"""Unigram-LM tokenizer (functions/unigram.py) vs a pure-Python Viterbi
reference, plus structural invariants on the real corpus, the raw
text_unigram query vs its DuckDB oracle, and its job-count pins."""
from __future__ import annotations

import math
import random
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from hugegraph_on_tikv_spark.functions import unigram as U
from hugegraph_on_tikv_spark.functions.text import tokens
from tests.conftest import jobs_since
from tests.oracle_diff import compare, duck_connection

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
    seg string — must agree with unigram._viterbi exactly."""
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
    training: unigram_train caches and releases nothing."""
    words = U.word_freqs(toy).persist()
    try:
        vocab, _ = U.unigram_train(toy, n_iters=1, max_piece_len=4,
                                   n_multi=200, words=words)
        vocab.collect()
        assert words.is_cached
    finally:
        words.unpersist()


def _py_encode(docs, ids, scores, maxp=4):
    """Sorted (doc_id, wpos, spos, token_id) rows of the reference encode."""
    want = []
    for doc_id, text in docs:
        for wpos, w in enumerate(text.split()):
            _, seg = _py_viterbi(w, scores, maxp)
            for spos, p in enumerate(seg.split(" ")):
                want.append((doc_id, wpos, spos, ids[p]))
    return sorted(want)


def test_encode_matches_python_reference(spark, toy):
    vocab, _ = U.unigram_train(toy, n_iters=1, max_piece_len=4, n_multi=200)
    enc = U.unigram_encode(toy, vocab, max_piece_len=4)
    got = sorted((r.doc_id, r.wpos, r.spos, r.token_id) for r in enc.collect())
    _, ids, scores = _py_ref(DOCS)
    assert got == _py_encode(DOCS, ids, scores)


@pytest.mark.parametrize("n_iters", [1, 2, 3])
def test_driver_em_matches_reference_on_random_corpora(spark, n_iters):
    """Seeded random corpora over a two-letter alphabet, so piece counts
    and Viterbi scores tie often and the small seed cut lands inside a
    tie: training (counts and ids) and encode equal the references for
    several EM rounds."""
    for seed in range(3):
        rng = random.Random(seed * 10 + n_iters)
        docs = [(d, " ".join("".join(rng.choice("ab")
                                     for _ in range(rng.randint(1, 7)))
                             for _ in range(rng.randint(1, 8))))
                for d in range(25)]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        vocab, _ = U.unigram_train(df, n_iters=n_iters, max_piece_len=3,
                                   n_multi=7)
        ref_vocab, ref_ids, ref_scores = _py_ref(docs, n_iters=n_iters,
                                                 maxp=3, n_multi=7)
        rows = vocab.collect()
        assert len(rows) == len(ref_vocab)
        got = {r.piece: (r.cnt, r.sc, r.token_id) for r in rows}
        assert got == {p: (c, ref_scores[p], ref_ids[p])
                       for p, c in ref_vocab.items()}
        enc = U.unigram_encode(df, vocab, max_piece_len=3)
        assert sorted(tuple(r) for r in enc.collect()) == \
            _py_encode(docs, ref_ids, ref_scores, maxp=3)


def test_roundtrip_and_coverage_on_corpus(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    vocab, _ = U.unigram_train(docs, n_iters=1, max_piece_len=4,
                               n_multi=200)
    enc = U.unigram_encode(docs, vocab, max_piece_len=4)
    rows = vocab.collect()
    pieces = {r.token_id: r.piece for r in rows}
    got = defaultdict(list)
    for r in enc.collect():
        got[(r.doc_id, r.wpos)].append((r.spos, pieces[r.token_id]))
    stream = docs.select("doc_id", F.posexplode(tokens(F.col("text")))
                         .alias("wpos", "word"))
    want = {(r.doc_id, r.wpos): r.word for r in stream.collect()}
    # full coverage: every corpus word occurrence is encoded
    assert want and set(got) == set(want)
    # pieces (spos 0..n-1) respell the word
    for key, ps in got.items():
        ps.sort()
        assert [s for s, _ in ps] == list(range(len(ps)))
        assert "".join(p for _, p in ps) == want[key]
    # ids dense 0..V-1, one per vocab row
    ids = [r.token_id for r in rows]
    assert sorted(ids) == list(range(len(rows)))


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
    # the coverage guard drops it instead of failing the encode
    assert enc.select("wpos").distinct().count() == 1


def test_train_jobs_do_not_grow_with_em_rounds(spark, toy):
    """The word table is read once and every EM round runs in the driver,
    so more rounds submit no more jobs."""
    jobs = []
    for n_iters in (1, 3):
        since = jobs_since(spark)
        vocab, _ = U.unigram_train(toy, n_iters=n_iters, max_piece_len=4,
                                   n_multi=200)
        vocab.collect()
        jobs.append(since())
    assert jobs[0] == jobs[1], jobs


def test_text_unigram_matches_oracle_and_job_budget(spark):
    """The raw text_unigram query (fused into the slow-tier
    text_quality_suite row) against its DuckDB oracle, and its job count:
    one word-table pass plus the encode's stream join."""
    fn = E._RAW_QUERIES["text_unigram"]
    since = jobs_since(spark)
    fn(spark, SF_DIR).collect()
    assert since() <= 11
    con = duck_connection(SF_DIR)
    try:
        problems = compare(fn(spark, SF_DIR), con,
                           E._RAW_ORACLES["text_unigram"], "text_unigram")
    finally:
        con.close()
    assert not problems, "\n".join(problems)
