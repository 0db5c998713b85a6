"""Unigram language-model tokenizer (Kudo 2018, the SentencePiece unigram
family) — the second tokenizer family next to functions/bpe.py.

Reference parity: the reference engine has no tokenizer ops (north-star
LLM-pipeline surface).  BPE learns a merge list bottom-up; the unigram
model starts from a LARGE seed vocabulary of substrings and fits piece
log-probabilities so each word's best (Viterbi) segmentation under the
model maximizes likelihood, shrinking the vocabulary as pieces fall out
of use.  This module implements hard-EM (Viterbi-EM) training and
Viterbi encoding as Spark DataFrame programs.

Scale design (the same collapse as BPE): every statistic depends only on
the WORD-FREQUENCY table — one groupBy collapses terabytes of corpus
into a vocab-sized (word, freq) table, and training never touches the
corpus again.  The per-word Viterbi dynamic program runs JVM-side in a
single ``F.aggregate`` higher-order fold over the word's pre-joined
match array (piece occurrences sorted by end position), so there is no
Python in the loop and no driver-side iteration over rows: one
whole-stage-codegen pass segments the entire word table.

Cross-engine exactness (the driver oracle replays training + encode in
DuckDB): piece scores are INTEGER-scaled log-probs —
``floor(ln(cnt / tot) * 1_000_000)`` as BIGINT — so the DP accumulates
and compares integers bit-exactly in both engines; the only float op is
the one ``ln`` per piece, whose floor-boundary sensitivity is the same
measure-zero risk the repo already accepts for round(cos_sim, 6).
Ties on equal integer scores break on the lexicographically-smaller
segmentation string, identical byte order in both engines for the
[a-z0-9 ] alphabet.

Vocabulary retention rule (deterministic, SQL-replayable): after each
M-step, multi-character pieces keep their Viterbi-usage count (dropped
when unused); single characters are ALWAYS retained with
``greatest(count, 1)`` so every word over the seed alphabet stays
segmentable — full coverage by construction, the unigram analogue of
bpe_encode's char fallback.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hugegraph_on_tikv_spark.functions.text import tokens

SCALE = 1_000_000


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq): the corpus' word-frequency table (the only corpus
    pass training ever makes)."""
    return (docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
            .groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("freq")))


def piece_counts(words: DataFrame, max_piece_len: int = 4) -> DataFrame:
    """(piece, cnt): freq-weighted counts of every substring of length
    1..max_piece_len — the unigram seed-candidate statistics."""
    s = F.explode(F.sequence(F.lit(1), F.length("word"))).alias("s")
    with_s = words.select("word", "freq", s)
    l = F.explode(F.sequence(
        F.lit(1),
        F.least(F.lit(max_piece_len), F.length("word") - F.col("s") + 1),
    )).alias("l")
    return (with_s.select("word", "freq", "s", l)
            .select(F.expr("substring(word, s, l)").alias("piece"), "freq")
            .groupBy("piece").agg(F.sum("freq").cast("long").alias("cnt")))


def seed_pieces(words: DataFrame, max_piece_len: int = 4,
                n_multi: int = 200) -> DataFrame:
    """(piece, cnt): the seed vocabulary — EVERY single character (coverage
    floor) plus the top `n_multi` multi-character substrings by
    (cnt DESC, piece ASC)."""
    pc = piece_counts(words, max_piece_len)
    chars = pc.filter(F.length("piece") == 1)
    w = Window.orderBy(F.col("cnt").desc(), F.col("piece").asc())
    multi = (pc.filter(F.length("piece") > 1)
             .withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") <= n_multi).drop("rn"))
    return chars.unionByName(multi)


def piece_scores(pieces: DataFrame) -> DataFrame:
    """(piece, sc): integer-scaled log-probabilities
    floor(ln(cnt / total) * SCALE).  The unpartitioned window is a
    vocab-sized single-partition total — deliberately tiny."""
    tot = F.sum("cnt").over(Window.partitionBy())
    return pieces.select(
        "piece",
        F.floor(F.log(F.col("cnt").cast("double") / tot) * SCALE)
        .cast("long").alias("sc"))


# The per-word Viterbi fold.  `matches` is the word's piece occurrences as
# struct(i, j, sc, p) — piece p spans characters j+1..i (1-based substr
# semantics), score sc — sorted ascending by (i, j).  The accumulator is
# the DP table: acc[k] (0-based index k = position) holds the best
# (score, segmentation) for the word's first k characters.  Because every
# position has a single-char match, position i's first match arrives when
# size(acc) == i (append); later matches for the same i challenge the
# incumbent (higher score wins; equal scores break on smaller seg string).
_FOLD = """
aggregate(
  matches,
  array(named_struct('sc', CAST(0 AS BIGINT), 'seg', '')),
  (acc, m) -> CASE WHEN size(acc) <= m.i THEN
      concat(acc, array(named_struct(
        'sc', element_at(acc, m.j + 1).sc + m.sc,
        'seg', CASE WHEN m.j = 0 THEN m.p
               ELSE concat(element_at(acc, m.j + 1).seg, ' ', m.p) END)))
    ELSE transform(acc, (x, k) -> CASE WHEN k = m.i AND (
           element_at(acc, m.j + 1).sc + m.sc > x.sc OR (
             element_at(acc, m.j + 1).sc + m.sc = x.sc AND
             CASE WHEN m.j = 0 THEN m.p
                  ELSE concat(element_at(acc, m.j + 1).seg, ' ', m.p) END
             < x.seg))
         THEN named_struct(
           'sc', element_at(acc, m.j + 1).sc + m.sc,
           'seg', CASE WHEN m.j = 0 THEN m.p
                  ELSE concat(element_at(acc, m.j + 1).seg, ' ', m.p) END)
         ELSE x END)
  END
)
"""


def viterbi_segment(words: DataFrame, scored: DataFrame,
                    max_piece_len: int = 4) -> DataFrame:
    """(word, freq, seg, sc): each word's best segmentation under the
    scored pieces (seg = space-joined pieces), via one JVM-side fold.

    Words containing characters absent from the piece table cannot be
    segmented and are dropped (seed_pieces retains every corpus
    character, so this only affects foreign alphabets; callers can union
    a fallback).  One broadcast join (vocab-sized pieces) + one groupBy
    word — no shuffle beyond the word table's own key.
    """
    j = F.explode(F.sequence(F.lit(0), F.length("word") - 1)).alias("j")
    with_j = words.select("word", "freq", j)
    i = F.explode(F.sequence(
        F.col("j") + 1,
        F.least(F.col("j") + max_piece_len, F.length("word")),
    )).alias("i")
    spans = (with_j.select("word", "freq", "j", i)
             .withColumn("p", F.expr("substring(word, j + 1, i - j)")))
    matched = spans.join(F.broadcast(scored), spans.p == scored.piece) \
        .select("word", "freq", "i", "j", "sc", "p")
    per_word = (matched.groupBy("word")
                .agg(F.first("freq").alias("freq"),
                     F.array_sort(F.collect_list(F.struct(
                         F.col("i").cast("int").alias("i"),
                         F.col("j").cast("int").alias("j"),
                         F.col("sc").alias("sc"),
                         F.col("p").alias("p")))).alias("matches"),
                     F.sum((F.col("i") - F.col("j") == 1).cast("long"))
                     .alias("n_char_matches")))
    # coverage guard: every position needs its single-char match or the
    # fold would index past the accumulator (ANSI element_at)
    covered = per_word.filter(F.col("n_char_matches") == F.length("word"))
    best = F.element_at(F.expr(_FOLD), F.length("word") + 1)
    return covered.select("word", "freq", best.getField("seg").alias("seg"),
                          best.getField("sc").alias("sc"))


def mstep_vocab(segmented: DataFrame, prev_pieces: DataFrame) -> DataFrame:
    """(piece, cnt): Viterbi-usage counts with the retention rule —
    multi-char pieces live only while used; single chars always survive
    with greatest(count, 1)."""
    used = (segmented.select("freq", F.explode(F.split("seg", " "))
                             .alias("piece"))
            .groupBy("piece").agg(F.sum("freq").cast("long").alias("cnt")))
    chars = prev_pieces.filter(F.length("piece") == 1).select("piece")
    return (used.join(chars.withColumn("is_char", F.lit(True)),
                      "piece", "full_outer")
            .select("piece",
                    F.when(F.col("is_char").isNotNull(),
                           F.greatest(F.coalesce(F.col("cnt"), F.lit(0)),
                                      F.lit(1)))
                    .otherwise(F.col("cnt")).cast("long").alias("cnt"))
            .filter(F.col("cnt").isNotNull()))


def unigram_train(docs: DataFrame, n_iters: int = 1, max_piece_len: int = 4,
                  n_multi: int = 200,
                  text_col: str = "text",
                  words: DataFrame | None = None) -> tuple[DataFrame, DataFrame]:
    """Fit the unigram model by hard-EM.  Returns (vocab, words): vocab is
    (piece, cnt, sc, token_id) — the tokenizer artifact, ids dense by
    (cnt DESC, piece ASC) — and words is the (word, freq) table.

    Each EM iteration = one Viterbi E-step over the word table (one fold
    pass) + one integer M-step count; n_iters is small (1-2) by design —
    hard-EM converges in very few rounds and each round is vocab-sized.

    `words` (r12, guide §2.4): callers that already hold the corpus'
    (word, freq) table — e.g. one materialized by word_freqs and shared
    with unigram_encode — pass it here so training never re-tokenizes
    the corpus; it must equal word_freqs(docs, text_col).  A `words`
    table the caller has cached stays cached: training persists, and
    later releases, only a table nobody had cached.
    """
    if words is None:
        words = word_freqs(docs, text_col)
    owns_cache = words.storageLevel == StorageLevel.NONE
    if owns_cache:
        words = words.persist()
    pieces = seed_pieces(words, max_piece_len, n_multi).persist()
    for _ in range(n_iters):
        seg = viterbi_segment(words, piece_scores(pieces), max_piece_len)
        nxt = mstep_vocab(seg, pieces).persist()
        pieces.unpersist()
        pieces = nxt
    w = Window.orderBy(F.col("cnt").desc(), F.col("piece").asc())
    vocab = (piece_scores(pieces)
             .join(pieces, "piece")
             .withColumn("token_id",
                         (F.row_number().over(w) - 1).cast("long"))
             .select("piece", "cnt", "sc", "token_id"))
    # cache hygiene (ADVICE r9): vocab is vocab-sized — cut it eagerly
    # to a checkpoint so the iteration caches (words + final pieces) can
    # be released HERE instead of leaking executor cache across repeated
    # train calls in a long-lived session.  A words table this call
    # persisted is returned unpersisted but still valid (it recomputes
    # from docs if used).
    vocab = vocab.localCheckpoint(eager=True)
    pieces.unpersist()
    if owns_cache:
        words.unpersist()
    return vocab, words


def unigram_encode(docs: DataFrame, vocab: DataFrame,
                   max_piece_len: int = 4,
                   text_col: str = "text",
                   id_col: str = "doc_id",
                   words: DataFrame | None = None) -> DataFrame:
    """(id_col, wpos, spos, token_id): every document's token-id sequence
    under the trained vocab — Viterbi segmentation of the STREAM's own
    word table (foreign words segment through the always-retained
    character floor), then one stream join.  The corpus is touched
    exactly twice (word table + stream join), both scale-right.

    `words` (r12, guide §2.4): a precomputed (word, freq) table covering
    the stream's word domain (e.g. word_freqs of the SAME docs, shared
    with training) replaces the stream-distinct pass — the Viterbi
    segmentation is freq-independent (seg/sc are functions of the word
    and the piece scores alone), so the emitted token ids are identical;
    one fewer corpus tokenize pass."""
    stream = docs.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("wpos", "word"))
    swords = (stream.select("word").distinct()
              .withColumn("freq", F.lit(1).cast("long"))
              if words is None else words.select("word", "freq"))
    seg = viterbi_segment(
        swords, vocab.select("piece", "sc"), max_piece_len)
    spieces = (seg.select("word", F.posexplode(F.split("seg", " "))
                          .alias("spos", "piece"))
               .join(F.broadcast(vocab.select("piece", "token_id")), "piece")
               .select("word", F.col("spos").cast("long").alias("spos"),
                       "token_id"))
    return (stream.join(spieces, "word")
            .select(id_col, F.col("wpos").cast("long").alias("wpos"),
                    "spos", "token_id"))
