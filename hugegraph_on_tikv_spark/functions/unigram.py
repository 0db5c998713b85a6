"""Unigram language-model tokenizer (Kudo 2018, the SentencePiece unigram
family) — the second tokenizer family next to functions/bpe.py.

Reference parity: the reference engine has no tokenizer ops (north-star
LLM-pipeline surface).  BPE learns a merge list bottom-up; the unigram
model starts from a LARGE seed vocabulary of substrings and fits piece
log-probabilities so each word's best (Viterbi) segmentation under the
model maximizes likelihood, shrinking the vocabulary as pieces fall out
of use.  This module implements hard-EM (Viterbi-EM) training and
Viterbi encoding.

Scale design (the same collapse as BPE): every statistic depends only on
the WORD-FREQUENCY table — one groupBy collapses terabytes of corpus
into a vocab-sized (word, freq) table, and training never touches the
corpus again.  That table is collected ONCE and the whole fit runs in
the driver: the seed vocabulary, every hard-EM round (one Viterbi pass
over the table plus an integer count) and the final ids.  Encoding
segments the stream's word DOMAIN in the driver with the same `_viterbi`
and joins the corpus against one (word, spos, token_id) local relation.
So training submits the word table's jobs alone whatever `n_iters` is.
Scale contract: the word table (or the stream's distinct-word domain)
is held in one process — bpe_learn's contract, and what sentencepiece's
trainer does.

Cross-engine exactness (the driver oracle replays training + encode in
DuckDB): piece scores are INTEGER-scaled log-probs —
``floor(ln(cnt / tot) * 1_000_000)`` — so the DP accumulates and compares
integers bit-exactly in both engines; the only float op is the one
``ln`` per piece, whose floor-boundary sensitivity is the same
measure-zero risk the repo already accepts for round(cos_sim, 6).
Ties on equal integer scores break on the lexicographically-smaller
segmentation string; Python's code-point string order is the UTF-8
byte order Spark and DuckDB compare in, for every code point.

Vocabulary retention rule (deterministic, SQL-replayable): after each
M-step, multi-character pieces keep their Viterbi-usage count (dropped
when unused); single characters are ALWAYS retained with
``max(count, 1)`` so every word over the seed alphabet stays
segmentable — full coverage by construction, the unigram analogue of
bpe_encode's char fallback.
"""

from __future__ import annotations

import heapq
import math
from collections import Counter

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hugegraph_on_tikv_spark.functions.text import tokens

SCALE = 1_000_000


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq): the corpus' word-frequency table (the only corpus
    pass training ever makes)."""
    return (docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
            .groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("freq")))


def _scores(pieces: dict[str, int]) -> dict[str, int]:
    """Integer-scaled log-probabilities floor(ln(cnt / total) * SCALE)."""
    tot = sum(pieces.values())
    return {p: math.floor(math.log(c / tot) * SCALE) for p, c in pieces.items()}


def _viterbi(word: str, scores: dict[str, int],
             max_piece_len: int) -> str | None:
    """The word's best segmentation under the scored pieces, as the
    space-joined pieces: at each end position the argmax by (score DESC,
    seg ASC) over pieces of at most max_piece_len characters.  None when
    a character of the word is not a piece (the word cannot segment)."""
    if not all(c in scores for c in word):
        return None
    best = [(0, "")]
    for i in range(1, len(word) + 1):
        cands = []
        for j in range(max(0, i - max_piece_len), i):
            p = word[j:i]
            if p in scores:
                sc, seg = best[j]
                cands.append((sc + scores[p], f"{seg} {p}" if j else p))
        best.append(min(cands, key=lambda t: (-t[0], t[1])))
    return best[-1][1]


def unigram_train(docs: DataFrame, n_iters: int = 1, max_piece_len: int = 4,
                  n_multi: int = 200,
                  text_col: str = "text",
                  words: DataFrame | None = None) -> tuple[DataFrame, DataFrame]:
    """Fit the unigram model by hard-EM.  Returns (vocab, words): vocab is
    (piece, cnt, sc, token_id) — the tokenizer artifact, ids dense by
    (cnt DESC, piece ASC), an Arrow-built local relation — and words is
    the (word, freq) table.

    The seed vocabulary is EVERY single character (coverage floor) plus
    the top `n_multi` multi-character substrings of length up to
    max_piece_len by freq-weighted count (cnt DESC, piece ASC).  Each EM
    round is one Viterbi E-step over the word table plus one integer
    M-step count, all in the driver over the rows collected once.

    `words`: callers that already hold the corpus' (word, freq) table —
    e.g. one shared with unigram_encode — pass it here so training never
    re-tokenizes the corpus; it must equal word_freqs(docs, text_col).
    """
    if words is None:
        words = word_freqs(docs, text_col)
    table = [(r["word"], r["freq"])
             for r in words.select("word", "freq").collect()]
    counts: Counter = Counter()
    for w, f in table:
        for s in range(len(w)):
            for e in range(s + 1, min(s + max_piece_len, len(w)) + 1):
                counts[w[s:e]] += f
    chars = [p for p in counts if len(p) == 1]
    pieces = {p: counts[p] for p in chars}
    pieces.update(heapq.nsmallest(
        n_multi, ((p, c) for p, c in counts.items() if len(p) > 1),
        key=lambda t: (-t[1], t[0])))
    for _ in range(n_iters):
        scores = _scores(pieces)
        used: Counter = Counter()
        for w, f in table:
            seg = _viterbi(w, scores, max_piece_len)
            if seg is not None:
                for p in seg.split(" "):
                    used[p] += f
        pieces = dict(used)
        for c in chars:
            pieces[c] = max(used[c], 1)
    scores = _scores(pieces)
    ranked = sorted(pieces, key=lambda p: (-pieces[p], p))
    vocab = words.sparkSession.createDataFrame(pa.table({
        "piece": pa.array(ranked, pa.string()),
        "cnt": pa.array([pieces[p] for p in ranked], pa.int64()),
        "sc": pa.array([scores[p] for p in ranked], pa.int64()),
        "token_id": pa.array(range(len(ranked)), pa.int64()),
    }))
    return vocab, words


def unigram_encode(docs: DataFrame, vocab: DataFrame,
                   max_piece_len: int = 4,
                   text_col: str = "text",
                   id_col: str = "doc_id",
                   words: DataFrame | None = None) -> DataFrame:
    """(id_col, wpos, spos, token_id): every document's token-id sequence
    under the trained vocab — Viterbi segmentation of the STREAM's own
    word domain in the driver (foreign words segment through the
    always-retained character floor; a word with an untrained character
    is dropped), then one stream join against the (word, spos, token_id)
    local relation.

    `words`: a precomputed (word, freq) table covering the stream's word
    domain (e.g. word_freqs of the SAME docs, shared with training)
    replaces the stream-distinct pass — the segmentation is a function of
    the word and the piece scores alone, so the emitted token ids are
    identical; one fewer corpus tokenize pass."""
    stream = docs.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("wpos", "word"))
    domain = (stream.select("word").distinct() if words is None
              else words.select("word"))
    vrows = vocab.select("piece", "sc", "token_id").collect()
    scores = {r["piece"]: r["sc"] for r in vrows}
    ids = {r["piece"]: r["token_id"] for r in vrows}
    seg_word, seg_pos, seg_id = [], [], []
    for w in dict.fromkeys(r["word"] for r in domain.collect()):
        seg = _viterbi(w, scores, max_piece_len)
        if seg is not None:
            for spos, p in enumerate(seg.split(" ")):
                seg_word.append(w)
                seg_pos.append(spos)
                seg_id.append(ids[p])
    spieces = docs.sparkSession.createDataFrame(pa.table({
        "word": pa.array(seg_word, pa.string()),
        "spos": pa.array(seg_pos, pa.int64()),
        "token_id": pa.array(seg_id, pa.int64()),
    }))
    return (stream.join(spieces, "word")
            .select(id_col, F.col("wpos").cast("long").alias("wpos"),
                    "spos", "token_id"))
