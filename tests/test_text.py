"""Text-pipeline functions: known-value semantics (the corpus-scale
behavior is oracle-checked through the driver rows)."""

from __future__ import annotations

import pytest

from hugegraph_on_tikv_spark.functions import text


def test_repetition_signals_known_values(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b a b a"),        # 5 tokens, 2 distinct; bigrams all repeats
            (2, "w x y z"),          # fully distinct
            (3, "q"),                # single token: bigram frac 0 by rule
            (4, ""),                 # empty: all zero
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in text.repetition_signals(docs).collect()}

    r1 = got[1]
    assert r1["n_tokens"] == 5
    assert r1["frac_distinct"] == pytest.approx(2 / 5)
    assert r1["top_token_frac"] == pytest.approx(3 / 5)      # 'a' appears 3×
    # bigrams: ab, ba, ab, ba -> 2 distinct of 4 -> dup fraction 1 - 2/4
    assert r1["dup_bigram_frac"] == pytest.approx(0.5)

    r2 = got[2]
    assert r2["frac_distinct"] == 1.0
    assert r2["top_token_frac"] == pytest.approx(1 / 4)
    assert r2["dup_bigram_frac"] == 0.0                      # all bigrams unique

    assert got[3]["n_tokens"] == 1 and got[3]["dup_bigram_frac"] == 0.0
    r4 = got[4]
    assert (r4["n_tokens"], r4["frac_distinct"],
            r4["top_token_frac"], r4["dup_bigram_frac"]) == (0, 0.0, 0.0, 0.0)


def test_repetition_signals_tokenization_contract(spark):
    # same token rule as text.tokens: lower-cased alphanumeric runs
    docs = spark.createDataFrame([(1, "Foo, FOO! bar")], "doc_id long, text string")
    r = text.repetition_signals(docs).collect()[0]
    assert r["n_tokens"] == 3
    assert r["top_token_frac"] == pytest.approx(2 / 3)       # foo twice


def test_pack_sequences_places_contiguously(spark):
    from hugegraph_on_tikv_spark.functions.packing import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(f"tok{j}" for j in range(i % 7 * 3))) for i in range(40)],
        "doc_id long, text string",
    )
    rows = pack_sequences(docs, seq_len=10, shards=4).collect()
    assert len(rows) == 40
    byshard: dict = {}
    for r in rows:
        byshard.setdefault(r["shard"], []).append(r)
    assert set(byshard) <= {0, 1, 2, 3}
    for shard, rs in byshard.items():
        rs.sort(key=lambda r: r["doc_id"])
        pos = 0
        for r in rs:
            # contiguous concatenation: each doc starts where the previous ended
            assert r["start_seq"] * 10 + r["offset_in_seq"] == pos
            assert 0 <= r["offset_in_seq"] < 10
            end_pos = pos + r["n_tokens"]
            expected_end_seq = (end_pos - 1) // 10 if r["n_tokens"] else pos // 10
            assert r["end_seq"] == expected_end_seq
            assert r["end_seq"] >= r["start_seq"]
            pos = end_pos


def test_corpus_df_stats_known_values(spark):
    docs = spark.createDataFrame(
        [(1, "common common rare1"), (2, "common rare2"), (3, "common")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_distinct_tokens"], r["sum_df"], r["mean_df"])
           for r in text.corpus_df_stats(docs).collect()}
    # df: common=3, rare1=1, rare2=1 (distinct per doc — repeats don't count)
    assert got[1] == (2, 4, 2.0)
    assert got[2] == (2, 4, 2.0)
    assert got[3] == (1, 3, 3.0)


def test_phrase_match_semantics(spark):
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (1, "the Spark—JOIN path"),     # punctuation/case-insensitive hit
            (2, "spark slow join"),          # not consecutive
            (3, "sparkjoin"),                # not token-bounded
            (4, "x spark join"),             # hit at end
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["m"] for r in docs.select(
        "doc_id", text.phrase_match(F.col("text"), "Spark  join!").alias("m")
    ).collect()}
    assert got == {1: True, 2: False, 3: False, 4: True}
    with pytest.raises(ValueError):
        text.phrase_match(F.col("text"), "!!!")


def test_pii_counts_and_redaction_order(spark):
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (1, "mail a@b.co and c@d.org; ssn 123-45-6789; tel +1 (555) 123-4567"),
            (2, "no pii here"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in text.pii_counts(docs).collect()}
    r1 = got[1]
    # ssn counted as SSN, not as phone (replacement order shields it)
    assert (r1["n_email"], r1["n_ssn"], r1["n_phone"]) == (2, 1, 1)
    assert (got[2]["n_email"], got[2]["n_phone"]) == (0, 0)
    assert got[3]["n_email"] == 0  # NULL text counts as empty
    red = docs.filter(F.col("doc_id") == 1).select(
        text.redact_pii(F.col("text")).alias("t")).first()["t"]
    assert "[EMAIL]" in red and "[SSN]" in red and "[PHONE]" in red
    assert "a@b.co" not in red and "123-45-6789" not in red


def test_fuzzy_pairs_matches_bruteforce(spark):
    """SymSpell deletion-neighborhood blocking is COMPLETE: blocked+verify
    equals the brute-force cross-join result at d=1 and d=2."""
    import itertools

    from hugegraph_on_tikv_spark.functions.dedup import fuzzy_pairs

    words = ["spark", "spake", "sparks", "park", "spoon", "spurn",
             "shark", "sharp", "apark", "spark", "stark", "karps",
             "", "a", "b", "ab"]
    rows = [(f"{i:02d}", w) for i, w in enumerate(words)]
    df = spark.createDataFrame(rows, "doc_id string, text string")

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[len(b)]

    for d in (1, 2):
        want = {(a[0], b[0], lev(a[1], b[1]))
                for a, b in itertools.combinations(rows, 2)
                if lev(a[1], b[1]) <= d}
        got = {(r["id_a"], r["id_b"], r["distance"])
               for r in fuzzy_pairs(df, max_distance=d).collect()}
        assert got == want, f"d={d}"


def test_fuzzy_join_cross_table(spark):
    from hugegraph_on_tikv_spark.functions.dedup import fuzzy_join

    l = spark.createDataFrame([("l1", "kitten"), ("l2", "flour")],
                              "lid string, text string")
    r = spark.createDataFrame([("r1", "mitten"), ("r2", "floor"),
                               ("r3", "banana")],
                              "rid string, text string")
    got = {(x["lid"], x["rid"], x["distance"])
           for x in fuzzy_join(l, r, "text", "lid", "rid",
                               max_distance=1).collect()}
    assert got == {("l1", "r1", 1), ("l2", "r2", 1)}


def test_chunk_documents_boundaries(spark):
    from hugegraph_on_tikv_spark.functions.text import chunk_documents

    words = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, words),            # 10 tokens: chunks at 0,4,8 (stride 4)
         (2, "a b c"),          # under one chunk: single whole-doc chunk
         (3, ""),               # empty: no rows
         (4, "!!! ...")],       # tokenizes to nothing: no rows
        "doc_id long, text string")
    out = {(r["doc_id"], r["chunk_id"]): r
           for r in chunk_documents(df, chunk_tokens=6, overlap=2).collect()}
    assert set(out) == {(1, 0), (1, 1), (1, 2), (2, 0)}
    assert out[(1, 0)]["chunk_text"] == "w0 w1 w2 w3 w4 w5"
    assert out[(1, 1)]["chunk_text"] == "w4 w5 w6 w7 w8 w9"
    assert out[(1, 2)]["chunk_text"] == "w8 w9"       # tail kept
    assert out[(1, 2)]["n_tokens"] == 2
    assert out[(2, 0)]["chunk_text"] == "a b c"
    # overlap invariant: consecutive chunks share `overlap` tokens
    assert out[(1, 0)]["chunk_text"].split()[-2:] == \
        out[(1, 1)]["chunk_text"].split()[:2]

    import pytest as _pytest
    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=4, overlap=4)


def test_near_dedup_score_keeps_best_not_min(spark):
    """score_col picks each cluster's highest-quality member; min-id stays
    the default."""
    from hugegraph_on_tikv_spark.functions.dedup import near_dedup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [(1, base, 0.2),                   # min id, LOW quality
         (2, base + " extra", 0.9),        # near-dup, best quality
         (10, "a totally different unrelated document about spark plans", 0.5)],
        "doc_id long, text string, quality double")
    kept_default = sorted(r["doc_id"] for r in
                          near_dedup(docs, threshold=0.5).collect())
    assert kept_default == [1, 10]
    kept_scored = sorted(r["doc_id"] for r in
                         near_dedup(docs, threshold=0.5,
                                    score_col="quality").collect())
    assert kept_scored == [2, 10]
    # tie on score -> min id wins (deterministic)
    from pyspark.sql import functions as F
    tied = docs.withColumn("quality", F.lit(1.0))
    kept_tied = sorted(r["doc_id"] for r in
                       near_dedup(tied, threshold=0.5,
                                  score_col="quality").collect())
    assert kept_tied == [1, 10]


def test_set_similarity_join_matches_bruteforce(spark):
    """Prefix filtering is complete: the blocked+verified result equals a
    brute-force all-pairs jaccard at several thresholds."""
    import itertools

    from hugegraph_on_tikv_spark.functions.dedup import set_similarity_join

    rows = [
        ("a", ["x", "y", "z"]),
        ("b", ["x", "y", "z", "w"]),
        ("c", ["x", "y"]),
        ("d", ["p", "q", "r"]),
        ("e", ["p", "q", "r", "x"]),
        ("f", ["z"]),
        ("g", ["x", "y", "z"]),       # exact duplicate set of a
        ("h", []),
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<string>")

    def jac(s1, s2):
        s1, s2 = set(s1), set(s2)
        u = len(s1 | s2)
        return len(s1 & s2) / u if u else 0.0

    for t in (0.4, 0.6, 0.9, 1.0):
        want = {(a[0], b[0], round(jac(a[1], b[1]), 6))
                for a, b in itertools.combinations(rows, 2)
                if jac(a[1], b[1]) >= t}
        got = {(r["id_a"], r["id_b"], r["jaccard"])
               for r in set_similarity_join(df, threshold=t).collect()}
        assert got == want, t


def test_near_dedup_score_string_ids_and_null_scores(spark):
    """ADVICE r6 (low): score_col must work with STRING doc ids (the old
    tie-break negated the id — numeric-only) and a cluster whose members
    all have NULL score must still dedup (min-id representative), not pass
    through untouched."""
    from hugegraph_on_tikv_spark.functions.dedup import near_dedup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [("a1", base, 0.2),
         ("a2", base + " extra", 0.9),       # best quality in the cluster
         ("zz", "a totally different unrelated document about spark plans", None)],
        "doc_id string, text string, quality double")
    kept = sorted(r["doc_id"] for r in
                  near_dedup(docs, threshold=0.5, score_col="quality").collect())
    assert kept == ["a2", "zz"]

    # all-NULL-score cluster: falls back to the min-id representative
    nulls = spark.createDataFrame(
        [(1, base, None), (2, base + " extra", None),
         (10, "a totally different unrelated document about spark plans", None)],
        "doc_id long, text string, quality double")
    kept_null = sorted(r["doc_id"] for r in
                       near_dedup(nulls, threshold=0.5,
                                  score_col="quality").collect())
    assert kept_null == [1, 10]

    # NULL loses to any real score, even a negative one
    neg = spark.createDataFrame(
        [(1, base, None), (2, base + " extra", -5.0),
         (10, "a totally different unrelated document about spark plans", 0.0)],
        "doc_id long, text string, quality double")
    kept_neg = sorted(r["doc_id"] for r in
                      near_dedup(neg, threshold=0.5,
                                 score_col="quality").collect())
    assert kept_neg == [2, 10]


def test_duplicated_spans_planted_copy(spark):
    """A 12-token block copied from doc 1 (tokens 3..14) into doc 2 at
    position 0 must come back as exactly one maximal span — not its five
    constituent 8-gram hits, and not extended beyond the copy."""
    from hugegraph_on_tikv_spark.functions.dedup import duplicated_spans

    base = [f"w{i}" for i in range(30)]          # all-distinct tokens
    copy = base[3:15]                            # 12 tokens
    docs = spark.createDataFrame(
        [(1, " ".join(base)),
         (2, " ".join(copy + [f"z{i}" for i in range(10)])),
         (3, "entirely different words only here")],
        "doc_id long, text string")
    got = duplicated_spans(docs, n=8).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["doc_a"], r["doc_b"], r["start_a"], r["start_b"],
            r["span_len"]) == (1, 2, 3, 0, 12)


def test_duplicated_spans_hot_gram_cap_and_multimatch(spark):
    """An n-gram present in more than max_docs_per_gram documents is
    boilerplate: spans through it are dropped entirely (the documented
    trade).  Two disjoint copies of the same block in one partner doc
    yield two spans on different diagonals."""
    from hugegraph_on_tikv_spark.functions.dedup import duplicated_spans

    block = " ".join(f"b{i}" for i in range(8))   # exactly one 8-gram
    docs = spark.createDataFrame(
        [(i, block) for i in range(1, 6)], "doc_id long, text string")
    # 5 docs share the gram: cap=4 drops it, cap=20 keeps all 10 pairs
    assert duplicated_spans(docs, n=8, max_docs_per_gram=4).count() == 0
    assert duplicated_spans(docs, n=8, max_docs_per_gram=20).count() == 10

    two = spark.createDataFrame(
        [(1, block),
         (2, block + " x0 x1 x2 " + block)],
        "doc_id long, text string")
    got = sorted((r["start_a"], r["start_b"], r["span_len"])
                 for r in duplicated_spans(two, n=8).collect())
    assert got == [(0, 0, 8), (0, 11, 8)]


def test_contamination_report_known_values(spark):
    """Hand-computable fixture: doc 1 contains eval doc 100's 10-token
    sentence verbatim (3 hit 8-grams covering 10 tokens), doc 2 shares
    nothing, doc 3 hits two separate eval docs in two disjoint regions."""
    from hugegraph_on_tikv_spark.functions.dedup import contamination_report

    sent = "e0 e1 e2 e3 e4 e5 e6 e7 e8 e9"          # 10 tokens
    sent2 = "f0 f1 f2 f3 f4 f5 f6 f7"               # 8 tokens: 1 gram
    filler = " ".join(f"w{i}" for i in range(20))   # 20 unique tokens
    corpus = spark.createDataFrame(
        [(1, f"{filler} {sent}"),
         (2, "nothing shared here at all beyond eight tokens of filler"),
         (3, f"{sent} {filler} {sent2}")],
        "doc_id long, text string")
    ev = spark.createDataFrame(
        [(100, sent), (200, sent2), (300, "unrelated eval text entirely")],
        "doc_id long, text string")
    got = {r["doc_id"]: r.asDict()
           for r in contamination_report(corpus, ev, n=8).collect()}

    assert set(got) == {1, 3}
    # doc 1: sentence at positions 20..29 → grams at 20,21,22; union = 10
    assert got[1]["hit_grams"] == 3
    assert got[1]["eval_docs_hit"] == 1
    assert got[1]["contaminated_tokens"] == 10
    assert got[1]["total_tokens"] == 30
    # doc 3: sent at 0..9 (grams 0,1,2) and sent2 at 30..37 (gram 30);
    # two disjoint islands → 10 + 8 tokens, two eval docs
    assert got[3]["hit_grams"] == 4
    assert got[3]["eval_docs_hit"] == 2
    assert got[3]["contaminated_tokens"] == 18
    assert got[3]["total_tokens"] == 38


def test_contamination_overlapping_windows_merge(spark):
    """Adjacent/overlapping hit windows merge into one island: a doc that
    IS an eval doc's text has every position hit; coverage = doc length,
    not n * hits."""
    from hugegraph_on_tikv_spark.functions.dedup import contamination_report

    text = " ".join(f"t{i}" for i in range(15))
    corpus = spark.createDataFrame([(1, text)], "doc_id long, text string")
    ev = spark.createDataFrame([(9, text)], "doc_id long, text string")
    [r] = contamination_report(corpus, ev, n=8).collect()
    assert r["hit_grams"] == 8          # positions 0..7
    assert r["contaminated_tokens"] == 15
    assert r["total_tokens"] == 15


def test_decontaminate_threshold(spark):
    from hugegraph_on_tikv_spark.functions.dedup import decontaminate

    sent = "e0 e1 e2 e3 e4 e5 e6 e7"
    filler = " ".join(f"w{i}" for i in range(72))
    corpus = spark.createDataFrame(
        [(1, f"{filler} {sent}"),     # 8/80 = 10% contaminated
         (2, sent),                   # 100% contaminated
         (3, "clean doc with no overlap at all whatsoever")],
        "doc_id long, text string")
    ev = spark.createDataFrame([(100, sent)], "doc_id long, text string")
    # strict: any hit drops
    assert sorted(r["doc_id"] for r in
                  decontaminate(corpus, ev, n=8).collect()) == [3]
    # 20% tolerance keeps doc 1 (10%), still drops doc 2
    assert sorted(r["doc_id"] for r in
                  decontaminate(corpus, ev, n=8,
                                max_contaminated_fraction=0.2).collect()) == [1, 3]


def test_oov_stats_known_values(spark):
    """vocab_size=2 over a corpus where 'a' (5x) and 'b' (3x) head the
    vocabulary; 'c' and 'd' are OOV."""
    from hugegraph_on_tikv_spark.functions.text import oov_stats

    docs = spark.createDataFrame(
        [(1, "a a b c"), (2, "a b d"), (3, "a a b"), (4, "")],
        "doc_id long, text string")
    got = {r["doc_id"]: r.asDict()
           for r in oov_stats(docs, vocab_size=2).collect()}
    assert set(got) == {1, 2, 3}          # empty doc absent
    # corpus counts: a=5, b=3, c=1, d=1 -> vocab {a,b}
    assert got[1]["n_tokens"] == 4 and got[1]["n_oov"] == 1
    assert got[1]["oov_rate"] == 0.25
    assert got[1]["sum_vocab_cf"] == 5 + 5 + 3     # a,a,b
    assert got[2]["n_oov"] == 1 and got[2]["sum_vocab_cf"] == 8
    assert got[3]["n_oov"] == 0 and got[3]["oov_rate"] == 0.0


def test_oov_vocab_tiebreak_deterministic(spark):
    """Boundary ties resolve by token ascending: with vocab_size=1 and
    counts a=2, b=2, the vocab is {a}."""
    from hugegraph_on_tikv_spark.functions.text import oov_stats

    docs = spark.createDataFrame([(1, "a b a b")], "doc_id long, text string")
    [r] = oov_stats(docs, vocab_size=1).collect()
    assert r["n_oov"] == 2 and r["sum_vocab_cf"] == 4


def test_bpe_learn_hand_computed_merges(spark):
    """Corpus 'aaab'x3 + 'aab'x2: round 1 merges (a,a) [count 8]; round 2
    is a 3-3 tie between (aa,a) and (a,b) broken by left ASC -> (a,b);
    round 3 merges (aa,ab) fusing 'aaab' into one symbol.  Final vocab:
    aaab:3 (from 'aaab'), aa:2 + b:2 (from 'aab')."""
    from hugegraph_on_tikv_spark.functions.bpe import bpe_learn, bpe_vocab

    docs = spark.createDataFrame(
        [(1, "aaab aaab aaab aab aab")], "doc_id long, text string")
    merges, words = bpe_learn(docs, n_merges=3)
    assert merges == [(1, "a", "a", 8), (2, "a", "b", 3),
                      (3, "aa", "ab", 3)]
    vocab = {r["symbol"]: r["freq"] for r in bpe_vocab(words).collect()}
    assert vocab == {"aaab": 3, "aa": 2, "b": 2}


def test_bpe_greedy_leftmost_overlap(spark):
    """'aaaa' under merge (a,a) becomes [aa, aa] — greedy leftmost pairs,
    never three; learning stops early when no pairs remain."""
    from hugegraph_on_tikv_spark.functions.bpe import bpe_learn

    docs = spark.createDataFrame([(1, "aaaa aaaa")], "doc_id long, text string")
    merges, words = bpe_learn(docs, n_merges=10)
    # merge 1: (a,a) count 6 (3 pairs/word x 2 words); then (aa,aa) x2
    assert merges[0] == (1, "a", "a", 6)
    assert merges[1] == (2, "aa", "aa", 2)
    [r] = words.collect()
    assert r["syms"] == "_aaaa"
    assert len(merges) == 2          # nothing left to merge -> early stop


def test_bpe_apply_matches_learn_trajectory(spark):
    """bpe_apply on the initial table with the learned merges reproduces
    the final symbol strings bpe_learn arrived at."""
    from hugegraph_on_tikv_spark.functions.bpe import (
        bpe_apply, bpe_learn, word_freqs)

    docs = spark.createDataFrame(
        [(1, "lower lower lowest newest newest widest")],
        "doc_id long, text string")
    merges, final_words = bpe_learn(docs, n_merges=5)
    replayed = bpe_apply(word_freqs(docs), merges)
    a = {r["word"]: r["syms"] for r in final_words.collect()}
    b = {r["word"]: r["syms"] for r in replayed.collect()}
    assert a == b and len(a) == 4


def _bpe_full_recount(freqs: dict, n_merges: int):
    """Reference BPE learner: every round recounts every word's pairs.
    Returns (merges, final syms by word, events) where events records
    which edge cases the trajectory hit."""
    syms = {w: "".join("_" + c for c in w) for w in freqs}
    merges, events = [], set()
    for r in range(1, n_merges + 1):
        counts: dict = {}
        for w, s in syms.items():
            seq = s.split("_")[1:]
            for p in zip(seq, seq[1:]):
                counts[p] = counts.get(p, 0) + freqs[w]
        if not counts:
            events.add("early_stop")
            break
        ranked = sorted(counts.items(), key=lambda pc: (-pc[1], pc[0]))
        (left, right), cnt = ranked[0]
        if len(ranked) > 1 and ranked[1][1] == cnt:
            events.add("tie")
        merges.append((r, left, right, cnt))
        old, new = f"_{left}_{right}", f"_{left}{right}"
        for w, s in syms.items():
            seq = s.split("_")[1:]
            if left == right and any(seq[i:i + 3] == [left] * 3
                                     for i in range(len(seq))):
                events.add("overlap")
            if old in s and (left, right) not in set(zip(seq, seq[1:])):
                events.add("prefix")
            syms[w] = s.replace(old, new)
    return merges, syms, events


def test_bpe_learn_equals_full_recount(spark):
    """bpe_learn's incremental pair counts learn the same merges and
    final symbol strings as a learner that recounts every word each
    round, on seeded random corpora over {a, b, c}; together the corpora
    hit count ties, 'aaa' overlaps under (a, a), the '_a_b' match inside
    '_a_bc' and the early stop (n_merges exceeds the mergeable pairs)."""
    import random

    from hugegraph_on_tikv_spark.functions.bpe import bpe_learn

    seen: set = set()
    for seed in range(10):
        rng = random.Random(seed)
        freqs: dict = {}
        while len(freqs) < 6:
            w = "".join(rng.choice("abc") for _ in range(rng.randint(1, 6)))
            freqs[w] = rng.randint(1, 3)
        text = " ".join(w for w, f in freqs.items() for _ in range(f))
        docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
        merges, words = bpe_learn(docs, n_merges=40)
        ref_merges, ref_syms, events = _bpe_full_recount(freqs, 40)
        assert merges == ref_merges, seed
        assert {r["word"]: r["syms"] for r in words.collect()} == ref_syms
        seen |= events
    assert seen == {"tie", "overlap", "prefix", "early_stop"}


def test_bpe_learn_jobs_independent_of_merges(spark):
    """Learning reads the word table once: 3 merges and 10 merges submit
    the same number of Spark jobs (a job or two per merge before)."""
    from hugegraph_on_tikv_spark.functions.bpe import bpe_learn
    from tests.conftest import jobs_since

    docs = spark.createDataFrame(
        [(1, "lower lower lowest newest newest widest")],
        "doc_id long, text string")
    jobs = []
    for n in (3, 10):
        since = jobs_since(spark)
        merges, _ = bpe_learn(docs, n_merges=n)
        jobs.append(since())
        assert len(merges) == n
    assert jobs[0] == jobs[1] <= 3, jobs


def test_pack_token_ids_matches_pure_python(spark):
    """pack_token_ids reproduces the pure-Python shard-local GPT-style
    packing of a bpe_encode id stream: contiguous slots, docs running
    across sequence boundaries, (shard, seq, slot) unique and dense."""
    import hashlib

    from hugegraph_on_tikv_spark.functions.bpe import bpe_encode, bpe_learn
    from hugegraph_on_tikv_spark.functions.packing import pack_token_ids

    texts = [(i, "low lower lowest new newer " * (1 + i % 3))
             for i in range(12)]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    merges, _ = bpe_learn(docs, n_merges=3)
    enc = bpe_encode(docs, merges)
    rows = sorted(map(tuple, enc.collect()))
    got = sorted((r["shard"], r["seq"], r["slot"], r["doc_id"], r["token_id"])
                 for r in pack_token_ids(enc, seq_len=7, shards=3).collect())

    def h48(x: int) -> int:
        return int(hashlib.md5(str(x).encode()).hexdigest()[:12], 16)

    streams: dict = {}
    for doc in sorted({r[0] for r in rows}):
        shard = h48(doc) % 3
        for (d, wp, sp, tid) in rows:
            if d == doc:
                streams.setdefault(shard, []).append((doc, tid))
    expect = sorted(
        (shard, g // 7, g % 7, doc, tid)
        for shard, toks in streams.items()
        for g, (doc, tid) in enumerate(toks))
    assert got == expect and len(got) > 20
    # slots dense per sequence
    per_seq: dict = {}
    for shard, seq, slot, _, _ in got:
        per_seq.setdefault((shard, seq), []).append(slot)
    for slots in per_seq.values():
        assert sorted(slots) == list(range(len(slots)))


def test_pack_token_ids_custom_order(spark):
    """pack_token_ids(order=...) concatenates in the SUPPLIED (shard, pos)
    order — the epoch-shuffle hook: the packed stream equals a pure-Python
    pack over the explicit permutation, and docs absent from the order are
    excluded."""
    from hugegraph_on_tikv_spark.functions.bpe import bpe_encode, bpe_learn
    from hugegraph_on_tikv_spark.functions.packing import pack_token_ids

    texts = [(i, "low lower lowest new newer " * (1 + i % 3))
             for i in range(10)]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    merges, _ = bpe_learn(docs, n_merges=3)
    enc = bpe_encode(docs, merges)
    # explicit permutation: reverse order, two shards by parity, doc 0 absent
    perm = [(i, i % 2, 9 - i) for i in range(1, 10)]
    order = spark.createDataFrame(perm, "doc_id long, shard long, pos long")
    got = sorted((r["shard"], r["seq"], r["slot"], r["doc_id"], r["token_id"])
                 for r in pack_token_ids(enc, seq_len=5,
                                         order=order).collect())
    ids = {}
    for (d, wp, sp, tid) in sorted(map(tuple, enc.collect())):
        ids.setdefault(d, []).append(tid)
    expect = []
    for shard in (0, 1):
        stream = [(d, t) for d, s, p in sorted(perm, key=lambda x: x[2])
                  if s == shard for t in ids[d]]
        expect += [(shard, g // 5, g % 5, d, t)
                   for g, (d, t) in enumerate(stream)]
    assert got == sorted(expect)
    assert not any(d == 0 for _, _, _, d, _ in got)


def test_bpe_encode_matches_pure_python(spark):
    """bpe_encode's (wpos, spos, token_id) stream equals a pure-Python
    BPE apply + frequency-ranked id assignment on a tiny corpus."""
    import collections
    import re

    from hugegraph_on_tikv_spark.functions.bpe import bpe_encode, bpe_learn

    texts = ["low lower lowest low low", "new newer newest new", "low newer"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    merges, _ = bpe_learn(docs, n_merges=4)

    toks = [re.findall(r"[a-z0-9]+", t.lower()) for t in texts]
    wf = collections.Counter(w for d in toks for w in d)
    syms = {w: list(w) for w in wf}
    for _, left, right, _ in merges:
        for w, s in syms.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    vocab = collections.Counter()
    for w, c in wf.items():
        for s in syms[w]:
            vocab[s] += c
    order = sorted(vocab.items(), key=lambda kv: (-kv[1], kv[0]))
    tid = {s: i for i, (s, _) in enumerate(order)}
    expect = {
        d: sorted((wp, sp, tid[s])
                  for wp, w in enumerate(ws)
                  for sp, s in enumerate(syms[w]))
        for d, ws in enumerate(toks)
    }

    got: dict = {}
    for r in bpe_encode(docs, merges).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["wpos"], r["spos"], r["token_id"]))
    assert {d: sorted(v) for d, v in got.items()} == expect


def test_bpe_encode_two_path_equals_single(spark):
    """head_size=1 (everything through the tail shuffle join) produces the
    identical id stream as the default head-broadcast path."""
    from hugegraph_on_tikv_spark.functions.bpe import bpe_encode, bpe_learn

    docs = spark.createDataFrame(
        [(1, "low lower lowest low"), (2, "new newer newest low new")],
        "doc_id long, text string")
    merges, _ = bpe_learn(docs, n_merges=3)
    a = sorted(map(tuple, bpe_encode(docs, merges).collect()))
    b = sorted(map(tuple, bpe_encode(docs, merges, head_size=1).collect()))
    assert a == b and len(a) > 0


def test_bpe_encode_applies_learned_merges_once(spark, monkeypatch):
    """bpe_encode takes bpe_learn's table as learned — merges applied — so
    the word table it cuts carries R replace() calls for R merges, not 2R
    (the plans are read as each frame is checkpointed)."""
    from hugegraph_on_tikv_spark.functions.bpe import bpe_encode, bpe_learn

    docs = spark.createDataFrame(
        [(1, "low lower lowest low"), (2, "new newer newest low new")],
        "doc_id long, text string")
    merges, words = bpe_learn(docs, n_merges=3)
    assert len(merges) == 3
    plans = []
    cut = type(words).localCheckpoint

    def spy(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().optimizedPlan().toString())
        return cut(self, *args, **kwargs)

    monkeypatch.setattr(type(words), "localCheckpoint", spy)
    bpe_encode(docs, merges, words=words, char_fallback=False)
    assert plans and sum(p.count("replace(") for p in plans) == len(merges)


def test_bpe_encode_foreign_words_drops_unseen(spark):
    """char_fallback=False keeps the r8 inner-join semantics: words absent
    from the supplied table emit nothing."""
    from hugegraph_on_tikv_spark.functions.bpe import bpe_encode, bpe_learn

    train = spark.createDataFrame(
        [(1, "low lower low")], "doc_id long, text string")
    merges, twords = bpe_learn(train, n_merges=2)
    new = spark.createDataFrame(
        [(9, "low unseen")], "doc_id long, text string")
    rows = bpe_encode(new, merges, words=twords,
                      char_fallback=False).collect()
    assert rows and all(r["wpos"] == 0 for r in rows)  # only "low" encodes


def test_bpe_encode_char_fallback_covers_every_token(spark):
    """Default char-fallback: a foreign-vocab encode covers 100% of stream
    tokens; residue words apply the trained merges and map known symbols
    to trained ids, unknown symbols decompose to vocab_size + char-index
    ids; known-word encodings are unchanged from the no-fallback path."""
    from hugegraph_on_tikv_spark.functions.bpe import (
        bpe_encode, bpe_learn, token_ids)

    train = spark.createDataFrame(
        [(1, "low lower low lowest low")], "doc_id long, text string")
    merges, twords = bpe_learn(train, n_merges=3)
    ids = {r["symbol"]: r["token_id"]
           for r in token_ids(twords).collect()}
    V = len(ids)
    # "low" is trained; "slow" shares the trained 'low' symbol after merge
    # application; "zq9" has chars never seen in training
    new = spark.createDataFrame(
        [(9, "low slow zq9")], "doc_id long, text string")
    rows = bpe_encode(new, merges, words=twords).collect()
    by_word: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["wpos"], r["spos"])):
        by_word.setdefault(r["wpos"], []).append(r["token_id"])
    # 100% coverage: every one of the three word positions emitted ids
    assert sorted(by_word) == [0, 1, 2]
    # trained word unchanged vs the trained path
    low_ids = [r["token_id"] for r in sorted(
        bpe_encode(train, merges, words=twords,
                   char_fallback=False).collect(),
        key=lambda r: (r["doc_id"], r["wpos"], r["spos"]))
        if r["wpos"] == 0][:len(by_word[0])]
    assert by_word[0] == low_ids
    # residue word with trained symbols: every id < V or a char fallback,
    # and spos is contiguous from 0
    assert all(t < V + 36 for t in by_word[1])
    # fully-unseen chars: exactly the closed-alphabet ids
    def fb(ch: str) -> int:
        return V + (ord(ch) - 97 if "a" <= ch <= "z" else ord(ch) - 48 + 26)
    assert by_word[2] == [fb("z"), fb("q"), fb("9")]
    # spos contract: contiguous from 0 within each word
    spos = {}
    for r in rows:
        spos.setdefault(r["wpos"], []).append(r["spos"])
    assert all(sorted(v) == list(range(len(v))) for v in spos.values())


def test_bpe_decode_roundtrips_including_fallback(spark):
    """decode(encode(docs)) reproduces every normalized stream token —
    trained words, residue words with trained symbols, and fully-unseen
    chars through the closed-alphabet fallback ids alike."""
    from hugegraph_on_tikv_spark.functions.bpe import (
        bpe_decode, bpe_encode, bpe_learn, token_ids)
    from hugegraph_on_tikv_spark.functions.text import tokens as _toks
    from pyspark.sql import functions as F

    train = spark.createDataFrame(
        [(1, "low lower low lowest low")], "doc_id long, text string")
    merges, twords = bpe_learn(train, n_merges=3)
    ids_df = token_ids(twords)
    new = spark.createDataFrame(
        [(9, "low slow zq9 lowest")], "doc_id long, text string")
    enc = bpe_encode(new, merges, words=twords)
    dec = {(r["doc_id"], r["wpos"]): r["word"]
           for r in bpe_decode(enc, ids_df).collect()}
    orig = {(r["doc_id"], r["wpos"]): r["w"] for r in new.select(
        "doc_id", F.posexplode(_toks(F.col("text"))).alias("wpos", "w"))
        .collect()}
    assert dec == orig and len(dec) == 4


def test_remove_duplicated_spans_semantics(spark):
    """Lowest-id occurrence survives; later docs lose the span; untouched
    docs keep their ORIGINAL (un-normalized) text; a doc that IS the span
    empties out."""
    from hugegraph_on_tikv_spark.functions.dedup import remove_duplicated_spans

    span = " ".join(f"s{i}" for i in range(10))
    filler_a = " ".join(f"a{i}" for i in range(12))
    filler_b = " ".join(f"b{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, f"{filler_a} {span}"),
         (2, f"{span} {filler_b}"),      # copy of the span at the front
         (3, span),                      # the span and nothing else
         (4, "Totally unrelated, PUNCTUATED text!")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["text"], r["n_removed_tokens"])
           for r in remove_duplicated_spans(docs, n=8).collect()}
    assert got[1] == (f"{filler_a} {span}", 0)     # lowest id untouched
    assert got[2] == (filler_b, 10)                # span excised, rest kept
    assert got[3] == ("", 10)                      # emptied out
    assert got[4] == ("Totally unrelated, PUNCTUATED text!", 0)


def test_remove_duplicated_spans_overlap_union(spark):
    """Two overlapping removal intervals in one doc union (no double
    counting): doc 30 shares [0,10) with doc 10 and [5,15) with doc 20 →
    15 tokens removed, not 20."""
    from hugegraph_on_tikv_spark.functions.dedup import remove_duplicated_spans

    t = [f"t{i}" for i in range(15)]
    pad1 = " ".join(f"p{i}" for i in range(9))
    pad2 = " ".join(f"q{i}" for i in range(9))
    docs = spark.createDataFrame(
        [(10, " ".join(t[0:10]) + " " + pad1),
         (20, pad2 + " " + " ".join(t[5:15])),
         (30, " ".join(t))],
        "doc_id long, text string")
    got = {r["doc_id"]: r["n_removed_tokens"]
           for r in remove_duplicated_spans(docs, n=8).collect()}
    assert got[30] == 15
    assert got[10] == 0                           # lowest id in its pair


def test_collocations_exact_lift_ordering(spark):
    """'zig zag' appears only together -> maximal lift; frequent-but-
    independent pairs rank below; min_count prunes rare pairs."""
    from hugegraph_on_tikv_spark.functions.text import collocations

    docs = [(i, "zig zag common stuff common filler") for i in range(5)]
    # 'here'/'and' are frequent, so their pairs carry lower lift than the
    # exclusive 'zig zag' pairing
    docs += [(100 + i, "here and here and here and") for i in range(5)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = collocations(df, min_count=5, k=5).collect()
    assert rows[0].w1 == "zig" and rows[0].w2 == "zag"
    assert rows[0].rank == 1
    # exact surrogate: lift_scaled = (c_xy * N * 1e6) DIV (c_x * c_y)
    n_total = sum(len(t.split()) for _, t in docs)
    r0 = rows[0]
    assert r0.lift_scaled == (r0.c_xy * n_total * 1_000_000) // (r0.c_x * r0.c_y)
    # every emitted pair meets min_count and ranks are dense from 1
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    assert all(r.c_xy >= 5 for r in rows)


def test_bloom_decontamination_equals_exact_mode(spark):
    """mode='bloom' must give IDENTICAL reports to mode='set' — the
    filter only prunes, the exact verify decides.  Tiny filters (high
    false-positive rate) must not change values either, only cost."""
    from hugegraph_on_tikv_spark.functions.dedup import contamination_report

    shared = " ".join(f"s{i}" for i in range(12))
    corpus = spark.createDataFrame(
        [(1, "a b c " + shared + " tail0 tail1"),
         (2, "clean words only here nothing shared at all x y z w q r"),
         (3, shared + " " + shared)],
        "doc_id long, text string")
    ev = spark.createDataFrame([(100, "pre " + shared + " post")],
                               "doc_id long, text string")
    want = {r.doc_id: r.asDict()
            for r in contamination_report(corpus, ev, n=8).collect()}
    for bits in (1 << 16, 1 << 8):    # 256-bit filter: ~all-positive
        got = {r.doc_id: r.asDict()
               for r in contamination_report(
                   corpus, ev, n=8, mode="bloom",
                   bloom_bits=bits).collect()}
        assert got == want, bits


def test_bloom_words_membership_complete(spark):
    """Every inserted fingerprint tests positive (no false negatives) —
    the property the exactness argument rests on."""
    from pyspark.sql import functions as F

    from hugegraph_on_tikv_spark.functions.dedup import (
        _bloom_positions, bloom_words)

    fps = spark.createDataFrame([(F"{i:032x}",) for i in range(500)],
                                "fp string").select(F.md5("fp").alias("fp"))
    words = bloom_words(fps, n_bits=1 << 12, k=3)
    probes = fps.select(
        "fp", F.posexplode(F.array(*_bloom_positions(
            F.col("fp"), 3, 1 << 12))).alias("j", "p"))
    hits = (probes.withColumn("word_idx", (F.col("p") / 64).cast("long"))
            .join(words, "word_idx")
            .filter(F.expr("shiftright(bits, CAST(p % 64 AS INT)) & 1 = 1"))
            .groupBy("fp").count().filter("count = 3"))
    assert hits.count() == 500


def test_bloom_k_validation(spark):
    from hugegraph_on_tikv_spark.functions.dedup import contamination_report

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="bloom k"):
        contamination_report(df, df, n=2, mode="bloom", bloom_k=5)
    with pytest.raises(ValueError, match="mode"):
        contamination_report(df, df, n=2, mode="wat")


def test_segment_dedup_semantics(spark):
    """Fixed 8-word segment dedup (C4/MassiveText rung): first occurrence
    by (doc_id, seg_idx) wins globally, within-doc repeats drop too, fully
    duplicated docs rebuild to '', short tails are their own segment."""
    from hugegraph_on_tikv_spark.functions.dedup import segment_dedup

    seg0 = " ".join(f"s{i}" for i in range(8))
    segx = " ".join(f"x{i}" for i in range(8))
    docs = spark.createDataFrame(
        [(1, f"{seg0} tail one"),               # seg0 + 2-word tail
         (2, f"{seg0} {segx}"),                 # seg0 drops, segx survives
         (3, seg0),                             # fully duplicated -> ''
         (4, f"{segx} {segx}")],                # within-doc repeat drops
        "doc_id long, text string")
    got = {r["doc_id"]: (r["text"], r["n_segs"], r["n_dropped"])
           for r in segment_dedup(docs, seg_words=8).collect()}
    assert got[1] == (f"{seg0} tail one", 2, 0)
    assert got[2] == (segx, 2, 1)
    assert got[3] == ("", 1, 1)
    assert got[4] == ("", 2, 2)   # doc 2's segx occurrence precedes both
    # determinism / rebuild-order: a longer doc keeps segment order
    long = " ".join(f"w{i}" for i in range(20))
    one = spark.createDataFrame([(9, long)], "doc_id long, text string")
    row = segment_dedup(one, seg_words=8).collect()[0]
    assert row["text"] == long and row["n_segs"] == 3

    import pytest as _pytest
    with _pytest.raises(ValueError):
        segment_dedup(docs, seg_words=0)
