"""BPE merge learning (Sennrich et al. 2016) — tokenizer training on
the corpus' word-frequency table.

Reference parity: the reference engine has no tokenizer ops (north-star
LLM-pipeline surface, next to text.bpe_token_estimate's fixed ESTIMATOR —
this learns actual merges from the corpus).

The classic trick makes this corpus-scale cheap: BPE statistics depend
only on the WORD FREQUENCY table, not the corpus — one groupBy collapses
terabytes of text into a vocab-sized (word, freq) table, and every merge
is learned from that small table:

    merge r:  pair counts  = adjacent symbol pairs × freq
              best pair    = argmax (count DESC, left ASC, right ASC)
              apply        = replace the pair everywhere it occurs

Symbol sequences are MARKER-PREFIXED STRINGS, not arrays: the word "cat"
is '_c_a_t', and applying merge (a, b) is replace(syms, '_a_b', '_ab').
Because the marker prefixes each symbol (no shared separator between
adjacent pair occurrences), non-overlapping left-to-right string
replacement — the semantics of Python's str.replace, Spark's replace()
and DuckDB's alike — implements exactly the greedy leftmost merge BPE
specifies: '_a_a_a' → '_aa_a', '_a_b_a_b' → '_ab_ab'.  The search string
is anchored on the left only, so '_a_b' also matches inside '_a_bc';
all three engines share that too, which is what makes the whole train
loop SQL-replayable (the driver oracle unrolls the rounds).

Learning is ONE pass over the word table: the corpus groupBy is cut once
and the (syms, freq) rows are read into the driver, where the merge loop
keeps the pair counts incrementally (a merge recounts only the words
whose string contains its search string), as Sennrich's learn_bpe does.
So training submits a fixed number of Spark jobs whatever `n_merges` is.
Scale contract: the word table is held in one process — the
bounded-small-table contract token_ids' single-partition window relies
on, and what learn_bpe, sentencepiece and HF tokenizers do.  No
word-boundary marker (</w>) is added — merges are token-internal;
callers who need word-final symbols can append one to the tokens first.

Tokens follow the engine-wide contract (text.tokens: lower → [a-z0-9]+),
so the '_' marker can never collide with symbol text.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hugegraph_on_tikv_spark.functions.text import tokens

MARK = "_"


def word_freqs(docs: DataFrame, text_col: str = "text",
               min_freq: int = 1) -> DataFrame:
    """(word, freq, syms): the corpus' word-frequency table with initial
    character-level symbol strings ('cat' → '_c_a_t')."""
    w = (docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
         .groupBy("word").agg(F.count(F.lit(1)).alias("freq")))
    if min_freq > 1:
        w = w.filter(F.col("freq") >= min_freq)
    return w.withColumn(
        "syms", F.regexp_replace(F.col("word"), "(.)", MARK + "$1"))


def _pairs(syms: str):
    """Adjacent symbol pairs of a marker-prefixed string, in order."""
    seq = syms.split(MARK)[1:]
    return zip(seq, seq[1:])


def bpe_learn(docs: DataFrame, n_merges: int = 8, min_word_freq: int = 1,
              text_col: str = "text") -> tuple[list, DataFrame]:
    """Learn `n_merges` merges from the corpus.  Returns
    (merges, final_words): merges is a list of (round, left, right, cnt)
    starting at round 1, in learned order — the tokenizer artifact;
    final_words is the (word, freq, syms) table after all merges (feed to
    bpe_vocab for the symbol inventory).  Stops early if no pair is left.

    Plan: the word-frequency table is cut with one eager localCheckpoint
    and its (syms, freq) rows are collected once; every merge is then
    learned in the driver on freq-weighted pair counts kept
    incrementally.  final_words is bpe_apply over the cut, so no consumer
    replays the corpus pass.

    Determinism: the argmax tie-break is (count DESC, left ASC,
    right ASC) — total, so learned merges are identical across runs,
    partitionings, and engines."""
    words = word_freqs(docs, text_col, min_word_freq).localCheckpoint()
    table = [(r["syms"], r["freq"])
             for r in words.select("syms", "freq").collect()]
    counts: Counter = Counter()
    for syms, freq in table:
        for p in _pairs(syms):
            counts[p] += freq
    merges: list = []
    for r in range(1, n_merges + 1):
        counts = +counts  # drop pairs a merge used up
        if not counts:
            break
        (left, right), cnt = min(counts.items(),
                                 key=lambda pc: (-pc[1], pc[0]))
        merges.append((r, left, right, cnt))
        old, new = MARK + left + MARK + right, MARK + left + right
        for i, (syms, freq) in enumerate(table):
            if old in syms:
                merged = syms.replace(old, new)
                for p in _pairs(syms):
                    counts[p] -= freq
                for p in _pairs(merged):
                    counts[p] += freq
                table[i] = (merged, freq)
    return merges, bpe_apply(words, merges)


def bpe_apply(words: DataFrame, merges: list) -> DataFrame:
    """Apply a learned merge list to a (.., syms) table — R chained
    replaces, a pure column expression (codegen; the tokenizer's encode
    step at corpus scale)."""
    syms = F.col("syms")
    for _, left, right, _ in merges:
        syms = F.replace(syms, F.lit(MARK + left + MARK + right),
                         F.lit(MARK + left + right))
    return words.withColumn("syms", syms)


def bpe_vocab(words: DataFrame) -> DataFrame:
    """(symbol, freq): the corpus symbol inventory of a (word, freq, syms)
    table — what the trained tokenizer's vocabulary looks like."""
    arr = F.slice(F.split(F.col("syms"), MARK), 2, 2_000_000)
    return (words.select("freq", F.explode(arr).alias("symbol"))
            .groupBy("symbol")
            .agg(F.sum("freq").cast("long").alias("freq")))


def token_ids(words_encoded: DataFrame) -> DataFrame:
    """(symbol, token_id): deterministic vocabulary-id assignment — dense
    ids from 0 by (corpus frequency DESC, symbol ASC) over the encoded
    word table's symbol inventory.  The window is single-partition but
    VOCAB-sized (the whole point of the word-table formulation), the same
    bounded-small-table contract as bpe_learn's word table."""
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("freq"), F.asc("symbol"))
    return (bpe_vocab(words_encoded)
            .select("symbol",
                    (F.row_number().over(w) - 1).cast("long")
                    .alias("token_id")))


def _char_split(col) -> "F.Column":
    """Character array of a token string via the marker idiom
    ('cat' → ['c','a','t'])."""
    return F.slice(
        F.split(F.regexp_replace(col, "(.)", MARK + "$1"), MARK),
        2, 2_000_000)


ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789"


def bpe_decode(encoded: DataFrame, symbols: DataFrame,
               vocab_size: int | None = None) -> DataFrame:
    """DECODE a (doc_id, wpos, spos, token_id) stream back to words — the
    tokenizer's inverse, completing learn → encode → pack → decode.
    `symbols` is the trained (symbol, token_id) table (token_ids output);
    ids ≥ vocab_size are char-fallback ids (bpe_encode char_fallback) and
    decode to ALPHABET[id − vocab_size].  vocab_size defaults to the
    symbol-table row count (ids are dense from 0 by construction).

    Round-trip contract: for any encode (fallback included),
    decode(encode(docs)) reproduces every normalized stream token exactly
    — pinned by pytest and by the bpef_roundtrip certificate row.

    Plan: one broadcast join (the symbol table is vocab-sized) + one
    keyed aggregation; pieces concatenate in spos order via the
    array_sort(struct) idiom.  Returns (doc_id, wpos, word)."""
    if vocab_size is None:
        vocab_size = symbols.count()
    piece = F.coalesce(
        "symbol",
        F.expr(f"substr('{ALPHABET}', "
               f"CAST(token_id - {int(vocab_size)} AS INT) + 1, 1)"))
    return (encoded.join(F.broadcast(symbols), "token_id", "left")
            .withColumn("piece", piece)
            .groupBy("doc_id", "wpos")
            .agg(F.array_sort(
                F.collect_list(F.struct("spos", "piece"))).alias("ps"))
            .select("doc_id", "wpos",
                    F.expr("array_join(transform(ps, x -> x.piece), '')")
                    .alias("word")))


def bpe_encode(docs: DataFrame, merges: list, words: DataFrame | None = None,
               text_col: str = "text", id_col: str = "doc_id",
               head_size: int = 10_000, char_fallback: bool = True) -> DataFrame:
    """ENCODE the corpus to token-id sequences under a learned merge list —
    the tokenizer's production step (what a training pipeline actually
    ships: ids, not merge tables).  Returns one row per emitted token:

        (doc_id, wpos, spos, token_id)

    ordered within a document by (wpos, spos) — word position in the doc,
    symbol position inside the word.

    Word-table formulation (the same trick as learning): encoding is
    word-local, so the merges are applied ONCE per distinct word (a
    vocab-sized chained-replace column expression, bpe_apply), and the
    corpus-sized work is a single join of the token stream against the
    word→id-sequence table.  That join is Zipf-skewed, so it runs the
    lm_score two-path shape: the top-`head_size` words by corpus
    frequency BROADCAST (nearly all the stream mass joins map-side), and
    only the long tail — every key rarer than the head threshold by
    construction — goes through the shuffle join.

    `words` is the learned word table `bpe_learn` returns, the merges
    already applied, so encoding applies them only to words outside it.
    It defaults to the word-frequency table of `docs` itself with the
    merges applied, so every stream word has an encoding — but note the
    ids are then CORPUS-RELATIVE (assigned from THIS corpus' post-merge
    symbol frequencies), so the same symbol can map to different ids
    across corpora; a fixed trained vocabulary must pass the TRAINING
    table, from which ids are derived (frequency DESC, symbol ASC over
    the trained inventory — stable for a fixed training set).

    With a foreign `words` table, stream words absent from it take the
    CHAR-FALLBACK path (default on): the residue words get the standard
    BPE application treatment — char-split, the trained merges applied in
    order — and resulting symbols map to trained ids where present; a
    symbol still unknown (a char unseen in training, or an intermediate
    merge output absent from the final trained inventory) decomposes to
    its characters with the CLOSED fallback alphabet id

        vocab_size + index(ch)   (a..z → 0..25, 0..9 → 26..35)

    so every stream token always encodes (tokens are [a-z0-9]+ by the
    engine-wide contract — the alphabet is closed by construction).
    Real tokenizers never drop text; `char_fallback=False` restores the
    r8 inner-join semantics (unseen words silently dropped).

    Scale: the residue word table is vocab-shaped (distinct rare words,
    not the corpus), its merge application is the same chained-replace
    column expression, and the residue stream join shuffles only the
    residue slice of the stream."""
    derived = words is None
    if derived:
        words = bpe_apply(word_freqs(docs, text_col), merges)
    # r11 (guide §2.4): enc / ids / wsym are VOCAB-sized but their lineage
    # carries the corpus-scale word_freqs groupBy; without the lazy
    # checkpoints every consumer (the head's TakeOrdered, the tail join,
    # the fallback path's symbol join + vocab_size count) re-ran that
    # corpus pass — 3-5 corpus aggregations per encode instead of one.
    enc = words.localCheckpoint(eager=False)
    ids = token_ids(enc).localCheckpoint(eager=False)

    arr = F.slice(F.split(F.col("syms"), MARK), 2, 2_000_000)
    wsym = (enc.select("word", "freq",
                       F.posexplode(arr).alias("spos", "symbol"))
            .join(F.broadcast(ids), "symbol")
            .groupBy("word", "freq")
            .agg(F.array_sort(
                F.collect_list(F.struct("spos", "token_id"))).alias("seq"))
            .select("word", "freq",
                    F.expr("transform(seq, x -> x.token_id)").alias("tids"))
            .localCheckpoint(eager=False))

    stream = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.col(text_col))).alias("wpos", "word"))

    head = (wsym.orderBy(F.desc("freq"), F.asc("word")).limit(head_size)
            .drop("freq"))
    hit = stream.join(F.broadcast(head), "word", "left")
    matched = hit.filter(F.col("tids").isNotNull())
    rest = hit.filter(F.col("tids").isNull()).drop("tids")
    if derived or not char_fallback:
        # derived words cover every stream word by construction; without
        # fallback, unseen foreign words drop (documented sharp edge)
        tail = rest.join(wsym.drop("freq"), "word")
        out = matched.unionByName(tail)
        return out.select("doc_id", "wpos",
                          F.posexplode("tids").alias("spos", "token_id"))
    tailed = rest.join(wsym.drop("freq"), "word", "left")
    tail = tailed.filter(F.col("tids").isNotNull())
    resid_stream = tailed.filter(F.col("tids").isNull()).drop("tids")
    # residue words: char-split, same trained merges applied (standard
    # BPE application), then trained-id mapping with char decomposition
    # for symbols outside the trained inventory
    vocab_size = ids.count()  # vocab-sized scalar probe (bounded small)
    rwords = (resid_stream.select("word").distinct()
              .withColumn("syms", F.regexp_replace(
                  F.col("word"), "(.)", MARK + "$1")))
    renc = bpe_apply(rwords, merges)
    sym = (renc.select("word", F.posexplode(arr).alias("spos", "symbol"))
           .join(F.broadcast(ids), "symbol", "left"))
    known = (sym.filter(F.col("token_id").isNotNull())
             .select("word", "spos", F.lit(0).alias("cpos"), "token_id"))
    ch = F.col("ch")
    fb_id = (F.lit(int(vocab_size))
             + F.when((ch >= "a") & (ch <= "z"), F.ascii(ch) - 97)
             .otherwise(F.ascii(ch) - 48 + 26)).cast("long")
    unk = (sym.filter(F.col("token_id").isNull())
           .select("word", "spos",
                   F.posexplode(_char_split(F.col("symbol")))
                   .alias("cpos", "ch"))
           .select("word", "spos", "cpos", fb_id.alias("token_id")))
    rtids = (known.unionByName(unk)
             .groupBy("word")
             .agg(F.array_sort(
                 F.collect_list(F.struct("spos", "cpos", "token_id")))
                 .alias("seq"))
             .select("word",
                     F.expr("transform(seq, x -> x.token_id)").alias("tids")))
    resid = resid_stream.join(rtids, "word")
    return (matched.unionByName(tail).unionByName(resid)
            .select("doc_id", "wpos",
                    F.posexplode("tids").alias("spos", "token_id")))
