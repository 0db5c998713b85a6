"""Deduplication operators (SURVEY.md §7 phase 4): exact, MinHash+LSH,
SimHash, n-gram Jaccard — the standard near-dup ladder for LLM training
corpora, expressed as DataFrame programs with portable (oracle-checkable)
hashing from functions/hashing.py.

Scale notes (the whole point of these shapes):
* exact dedup is a hash-groupBy — one shuffle on a 32-char key, no text
  comparison;
* MinHash-LSH turns O(n²) similarity into an equi-join on (band, signature):
  shingle → minhash → band → bucket-join.  Band signatures are tiny; the
  candidate join is the only shuffle that touches pairs, and only within
  buckets;
* SimHash bands 48-bit signatures into 4×12-bit chunks — Hamming-≤3
  candidates must collide on ≥1 chunk (pigeonhole), again an equi-join;
* the exact n-gram Jaccard join is kept as the verification/recall-oracle
  path; at 100 TB you run it only on LSH candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hugegraph_on_tikv_spark.functions.hashing import MINHASH_P, md5_long, md5_long48, minhash_seed
from hugegraph_on_tikv_spark.functions.similarity import _index_meta, _merge_index_meta
from hugegraph_on_tikv_spark.functions.text import TOKEN_PATTERN, fingerprint, tokens

# -- exact -------------------------------------------------------------------

def exact_duplicate_groups(docs: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical (post-normalization) documents:
    (fingerprint, n_docs, canonical_id = min doc id)."""
    return (
        docs.select(fingerprint(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("canonical_id"))
        .filter(F.col("n_docs") > 1)
    )


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per normalized-text fingerprint."""
    w_fp = docs.withColumn("fp", fingerprint(F.col(text_col)))
    keep = w_fp.groupBy("fp").agg(F.min(id_col).alias(id_col))
    return w_fp.join(keep, ["fp", id_col], "leftsemi").drop("fp")


# -- shingles ----------------------------------------------------------------

def word_shingles(col: Column, k: int = 3) -> Column:
    """k-word shingles over normalized text (array<string>, possibly with
    duplicates; wrap in array_distinct for set semantics).

    Built as arrays_zip of k shifted slices, NOT transform-over-indices with
    slice(toks, i, k) in the lambda — that form inlines the tokenizer into
    the per-element lambda and re-runs the regex split O(n) times per row
    (measured 3× slower end-to-end on the shingling stage)."""
    toks = tokens(col)
    n_shingles = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    shifted = [F.slice(toks, i + 1, n_shingles) for i in range(k)]
    zipped = F.arrays_zip(*shifted)
    return F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(k)])
    )


def shingle_set_arrow(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      k: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct pairs — the exploded k-word shingle set
    representation the MinHash and n-gram Jaccard ops share — built in
    pandas batches via mapInPandas.  A JVM HOF pipeline over
    `word_shingles` (arrays_zip + transform + concat_ws) runs interpreted,
    not codegen'd — measured ~3s of the minhash pipeline at sf0.1 — while a
    per-batch Python loop over tokenized rows is cheap and transfers only
    the exploded pairs.  Tokenization mirrors text.tokens() exactly: lower →
    split on [^a-z0-9]+ → drop empties (same result as Java's regex for
    this class).  The output doc_id keeps the input id column's type."""
    import re

    import pandas as pd

    id_type = docs.schema[id_col].dataType.simpleString()
    pat = re.compile(TOKEN_PATTERN)

    def run(batches):
        for pdf in batches:
            ids_out: list = []
            sh_out: list = []
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                toks = [t for t in pat.split(("" if txt is None else txt).lower()) if t]
                if len(toks) < k:
                    continue
                seen = set()
                for i in range(len(toks) - k + 1):
                    s = " ".join(toks[i:i + k])
                    if s not in seen:
                        seen.add(s)
                        ids_out.append(did)
                        sh_out.append(s)
            yield pd.DataFrame({"doc_id": ids_out, "shingle": sh_out})

    return docs.select(F.col(id_col), F.col(text_col)) \
        .mapInPandas(run, f"doc_id {id_type}, shingle string")


# -- MinHash + LSH -----------------------------------------------------------

def _hashed_shingles(sh: DataFrame) -> DataFrame:
    """The shingle set plus each shingle's base hash h (portable md5)."""
    return sh.withColumn("h", md5_long(F.col("shingle")) % MINHASH_P)


def _minhash_aggs(num_hashes: int) -> list[Column]:
    """mh_0 .. mh_{n-1}: min over a doc's hashed shingles of
    (a_i * h + b_i) mod P — every permutation a parallel min-aggregate."""
    return [F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_P).alias(f"mh_{i}")
            for i, (a, b) in enumerate(map(minhash_seed, range(num_hashes)))]


def minhash_signatures(docs: DataFrame, num_hashes: int = 32, k: int = 3,
                       text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Wide minhash signatures: (doc_id, mh_0 .. mh_{n-1}) where mh_i = min
    over shingles of (a_i * h(shingle) + b_i) mod P, portable md5-based h.

    ONE groupBy over the shingle set computes all n permutations as parallel
    min-aggregates (map-side partial aggregation); the per-shingle base hash
    is computed once.  This beats the (doc_id, i)-exploded layout by ~n× in
    shuffle volume — the shape that matters at corpus scale."""
    return (_hashed_shingles(shingle_set_arrow(docs, text_col, id_col, k))
            .groupBy("doc_id").agg(*_minhash_aggs(num_hashes)))


def lsh_bands(signatures: DataFrame, rows_per_band: int = 4) -> DataFrame:
    """(doc_id, band, band_sig) from wide signatures: band_sig = md5 of the
    comma-joined minhash values in permutation order (matches the oracle's
    string_agg ... ORDER BY i).  Pure projection + explode — no shuffle."""
    mh_cols = [c for c in signatures.columns if c.startswith("mh_")]
    num = len(mh_cols)
    bands = []
    for band in range(num // rows_per_band):
        cols = [F.col(f"mh_{band * rows_per_band + j}").cast("string")
                for j in range(rows_per_band)]
        bands.append(F.struct(F.lit(band).alias("band"),
                              F.md5(F.concat_ws(",", *cols)).alias("band_sig")))
    return (
        signatures.select("doc_id", F.explode(F.array(*bands)).alias("b"))
        .select("doc_id", F.col("b.band").alias("band"), F.col("b.band_sig").alias("band_sig"))
    )


def _cap_buckets(bands: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """`bands` without the (band, band_sig) buckets holding more than
    max_bucket_size members; unchanged when the cap is None."""
    if max_bucket_size is None:
        return bands
    ok = (bands.groupBy("band", "band_sig")
          .agg(F.count(F.lit(1)).alias("__n"))
          .filter(F.col("__n") <= max_bucket_size)
          .select("band", "band_sig"))
    return bands.join(ok, ["band", "band_sig"], "leftsemi")


def lsh_candidate_pairs(bands: DataFrame, max_bucket_size: int | None = None) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) sharing any band bucket —
    the equi-join that replaces the O(n²) comparison.

    `max_bucket_size` drops buckets with more than that many members before
    the self-join: a degenerate band (boilerplate text shared by 10⁶ docs)
    otherwise makes the candidate join quadratic in that bucket — the one
    scale-killer in an otherwise linear pipeline.  Docs in a dropped bucket
    can still pair through their other bands (and truly near-identical docs
    collide on all bands), so recall loss is confined to the boilerplate
    shingle itself.  The matching oracle applies the identical HAVING cap."""
    bands = _cap_buckets(bands, max_bucket_size)
    a = bands.select("band", "band_sig", F.col("doc_id").alias("doc_a"))
    b = bands.select("band", "band_sig", F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def cross_corpus_contamination(train: DataFrame, test: DataFrame,
                               num_hashes: int = 32, rows_per_band: int = 4,
                               k: int = 3, threshold: float = 0.5,
                               text_col: str = "text", id_col: str = "doc_id",
                               max_bucket_size: int | None = 1000) -> DataFrame:
    """Train/test contamination detection: near-duplicate pairs that CROSS
    the corpus boundary — the eval-integrity check every training pipeline
    needs (a test document whose near-twin sits in the training set
    invalidates the benchmark).

    Runs the one minhash-LSH pipeline over the tagged union ('a:'-prefixed
    train ids, 'b:'-prefixed test ids — string ids flow through shingling
    unchanged), then keeps only cross pairs.  Since 'a:…' < 'b:…' in every
    string collation, a cross pair always lands as (doc_a=train,
    doc_b=test) — no orientation logic.  Same cost shape as single-corpus
    dedup: linear + the banded equi-join; within-corpus duplicate pairs are
    computed and discarded (run near_dedup separately if you want them —
    sharing the shingle scan is the cheaper combined plan anyway).

    Returns (train_id, test_id, jaccard >= threshold)."""
    t = train.select(
        F.concat(F.lit("a:"), F.col(id_col).cast("string")).alias("doc_id"),
        F.col(text_col).alias("text"))
    e = test.select(
        F.concat(F.lit("b:"), F.col(id_col).cast("string")).alias("doc_id"),
        F.col(text_col).alias("text"))
    pairs = minhash_lsh_duplicates(
        t.unionByName(e), num_hashes, rows_per_band, k, threshold,
        max_bucket_size=max_bucket_size)
    # strip the corpus prefix and restore the INPUT id type — string-id
    # corpora keep string ids (an unconditional bigint cast would NULL
    # them out and collapse distinct pairs)
    id_type = train.schema[id_col].dataType.simpleString()
    strip = lambda c: F.expr(f"substring({c}, 3)").cast(id_type)
    return (
        pairs.filter((F.col("doc_a").startswith("a:"))
                     & (F.col("doc_b").startswith("b:")))
        .select(strip("doc_a").alias("train_id"),
                strip("doc_b").alias("test_id"),
                "jaccard")
    )


def minhash_lsh_duplicates(docs: DataFrame, num_hashes: int = 32, rows_per_band: int = 4,
                           k: int = 3, threshold: float = 0.7,
                           text_col: str = "text", id_col: str = "doc_id",
                           max_bucket_size: int | None = 1000) -> DataFrame:
    """Full near-dup pipeline: LSH candidates verified with exact Jaccard
    over shingle sets; returns (doc_a, doc_b, jaccard) above threshold.
    `max_bucket_size` caps degenerate band buckets (see lsh_candidate_pairs)."""
    # one shingle cut feeds the signatures and the verify join: a lazy
    # local checkpoint like sigs, so its blocks go with the returned plan
    sh = shingle_set_arrow(docs, text_col, id_col, k).localCheckpoint(eager=False)
    # r12: the shingle-set size n_sh rides the SAME groupBy as the
    # min-aggregates instead of a second shingle-scale aggregation; sigs
    # is doc-sized, and its lazy cut lets its consumers (bands × the
    # self-join's two sides, sizes) read it instead of replaying that.
    sigs = (_hashed_shingles(sh).groupBy("doc_id")
            .agg(*_minhash_aggs(num_hashes), F.count(F.lit(1)).alias("n_sh"))
            .localCheckpoint(eager=False))
    cands = lsh_candidate_pairs(lsh_bands(sigs, rows_per_band), max_bucket_size)
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        cands.join(sh_a, "doc_a").join(sh_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return _jaccard(common, sigs.select("doc_id", "n_sh"), threshold)


def _jaccard(common: DataFrame, sizes: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard verify: shared-shingle counts (doc_a, doc_b, n_common)
    and set sizes (doc_id, n_sh) → (doc_a, doc_b, jaccard ≥ threshold)."""
    return (
        common
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")), "doc_b")
        .withColumn("jaccard", F.round(F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def near_duplicate_clusters(docs: DataFrame, num_hashes: int = 32, rows_per_band: int = 4,
                            k: int = 3, threshold: float = 0.7,
                            text_col: str = "text", id_col: str = "doc_id",
                            max_bucket_size: int | None = 1000,
                            cc_iterations: int = 8) -> DataFrame:
    """Near-duplicate CLUSTERS: the similarity pairs from minhash_lsh_
    duplicates treated as an undirected graph, resolved to connected
    components (transitive closure — A~B and B~C put A,B,C in one cluster
    even when A~C itself is below threshold, which is what corpus dedup
    wants).  Returns (doc_id, cluster_id) for every clustered doc,
    cluster_id = min doc id of the component.  cc_iterations bounds the
    HashMin rounds; near-dup components are chains of near-identical docs,
    so diameters are tiny."""
    from hugegraph_on_tikv_spark.operators.analytics import connected_components

    pairs = minhash_lsh_duplicates(docs, num_hashes, rows_per_band, k, threshold,
                                   text_col, id_col, max_bucket_size)
    # materialize the (tiny) pair edge list ONCE before iterating: the CC
    # rounds then re-read a checkpointed edge list instead of re-running
    # the whole minhash pipeline per round
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")) \
        .localCheckpoint(eager=True)
    cc = connected_components(edges, max_iterations=cc_iterations)
    return cc.select(F.col("id").alias("doc_id"), F.col("component").alias("cluster_id"))


def near_dedup(docs: DataFrame, num_hashes: int = 32, rows_per_band: int = 4,
               k: int = 3, threshold: float = 0.7,
               text_col: str = "text", id_col: str = "doc_id",
               max_bucket_size: int | None = 1000,
               score_col: str | None = None) -> DataFrame:
    """The end-to-end corpus operation: drop near-duplicates, keeping one
    representative per cluster — shingle → minhash → band → bucket-join
    → verify → cluster → anti-join, all as one DataFrame program.  Docs in
    no cluster pass through untouched.

    Representative choice: min id by default (deterministic, the oracle
    convention); with `score_col` the HIGHEST-scoring member wins (ties by
    min id) — the curation-quality form: near-dup clusters usually hold
    one clean original and several degraded copies, and a quality score
    (functions/text.quality_metrics, df_stats, …) picks the clean one
    where min-id picks arbitrarily.  One extra max_by aggregate per
    cluster — same shuffle key the clustering already used."""
    clusters = near_duplicate_clusters(docs, num_hashes, rows_per_band, k,
                                       threshold, text_col, id_col, max_bucket_size)
    if score_col is None:
        losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")) \
            .select(F.col("doc_id").alias(id_col))
        return docs.join(losers, id_col, "left_anti")
    scored = clusters.join(
        docs.select(F.col(id_col).alias("doc_id"), F.col(score_col)),
        "doc_id")
    # NULL scores coalesce to -inf (an all-NULL cluster still dedups — its
    # min-id member wins, matching the score_col=None convention) and the
    # tie-break is the id's own ascending order inside the struct, which
    # works for string ids too — negating the id only worked for numerics.
    s = F.coalesce(F.col(score_col).cast("double"), F.lit(float("-inf")))
    keep = (scored.groupBy("cluster_id")
            .agg(F.min_by(
                F.col("doc_id"),
                F.struct((-s).alias("neg_s"),
                         F.col("doc_id").alias("id"))).alias("keep_id")))
    losers = (clusters.join(keep, "cluster_id")
              .filter(F.col("doc_id") != F.col("keep_id"))
              .select(F.col("doc_id").alias(id_col)))
    return docs.join(losers, id_col, "left_anti")


# -- SimHash -----------------------------------------------------------------

def simhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """48-bit SimHash over the token multiset: bit j of the signature is the
    sign of sum over tokens of (2*bit_j(h(token)) - 1).

    Arrow-batched: per batch, tokenize (mirrors text.tokens() exactly),
    md5-hash each token (first 48 bits — identical to
    hashing.md5_long48), and compute all 48 majority votes as one
    tokens×48 numpy bit matrix.  Zero-token docs are absent from the
    output.  Transfers only (id, text) in and (id, signature) out — no
    amplified intermediate; measured 17× faster at sf0.1 (0.6s vs 10.2s)
    than `_simhash_signatures_jvm`, the bit-identical reference twin whose
    tokens×48 explode pays interpreted per-row expression evaluation on
    the amplified stream."""
    import hashlib
    import re

    import numpy as np
    import pandas as pd

    id_type = docs.schema[id_col].dataType.simpleString()
    pat = re.compile(TOKEN_PATTERN)

    def run(batches):
        for pdf in batches:
            ids: list = []
            sigs: list = []
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                toks = [t for t in pat.split(("" if txt is None else txt).lower()) if t]
                if not toks:
                    continue
                hs = np.array([int(hashlib.md5(t.encode()).hexdigest()[:12], 16)
                               for t in toks], dtype=np.int64)
                bits = (hs[:, None] >> np.arange(48)) & 1
                w = 2 * bits.sum(axis=0) - len(hs)
                sigs.append(int(((w > 0).astype(np.int64) << np.arange(48)).sum()))
                ids.append(did)
            yield pd.DataFrame({"doc_id": ids, "simhash": sigs})

    return docs.select(id_col, text_col).mapInPandas(
        run, f"doc_id {id_type}, simhash long")


def _simhash_signatures_jvm(docs: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """JVM twin: explodes tokens × 48 bit positions and partial-aggregates.
    Kept as the reference semantics (the SQL oracle mirrors this shape);
    `simhash_signatures` is the measured-faster Arrow form."""
    spark = docs.sparkSession
    bits = spark.range(48).select(F.col("id").cast("int").alias("j"))
    tok = docs.select(F.col(id_col).alias("doc_id"),
                      F.explode(tokens(F.col(text_col))).alias("token"))
    tok = tok.withColumn("h", md5_long48(F.col("token")))
    return (
        tok.crossJoin(F.broadcast(bits))
        .groupBy("doc_id", "j")
        # shiftright with a *column* shift amount needs the SQL form
        .agg(F.sum(F.expr("(shiftright(h, j) & 1) * 2 - 1")).alias("w"))
        .groupBy("doc_id")
        .agg(F.sum(F.expr("CASE WHEN w > 0 THEN shiftleft(CAST(1 AS BIGINT), j) ELSE 0 END")).alias("simhash"))
    )


def simhash_near_pairs(signatures: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Candidate pairs by 4×12-bit band collision, verified by bit_count of
    xor ≤ max_hamming.  Returns (doc_a, doc_b, hamming)."""
    chunks = signatures.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("chunk"),
                     F.shiftright(F.col("simhash"), c * 12).bitwiseAND(F.lit(0xFFF)).alias("bits"))
            for c in range(4)
        ])).alias("cb"),
    ).select("doc_id", "simhash", F.col("cb.chunk").alias("chunk"), F.col("cb.bits").alias("bits"))
    a = chunks.select("chunk", "bits", F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"))
    b = chunks.select("chunk", "bits", F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"))
    return (
        a.join(b, ["chunk", "bits"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# -- exact n-gram Jaccard ----------------------------------------------------

def ngram_jaccard_pairs(docs: DataFrame, k: int = 3, threshold: float = 0.5,
                        text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact all-pairs Jaccard over k-word shingle sets via the inverted
    shingle index (only docs sharing ≥1 shingle ever meet — no cross join).
    Returns (doc_a, doc_b, jaccard ≥ threshold)."""
    sh = shingle_set_arrow(docs, text_col, id_col, k)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return _jaccard(common, sizes, threshold)


# -- incremental corpus dedup index -----------------------------------------
# The streaming-ingest story for text dedup (the ivf_append_index analog
# for documents): resident corpus signatures persist once; each new batch
# probes them by banded equi-join and appends its own — near-dup detection
# against ALL prior data without recomputing a single resident signature.

def _lsh_meta(path: str) -> dict:
    """The index's index_meta.json; FileNotFoundError when there is none."""
    if not (meta := _index_meta(path)):
        raise FileNotFoundError(f"no dedup index at {path}: index_meta.json missing")
    return meta


def _batch_sigs(new_docs: DataFrame, meta: dict, text_col: str, id_col: str) -> DataFrame:
    """A batch's minhash signatures under the index's parameters, cut once
    so the probe (and the append) read them without recomputing."""
    return minhash_signatures(new_docs, meta["num_hashes"], meta["k"],
                              text_col, id_col).localCheckpoint(eager=True)


def lsh_write_index(docs: DataFrame, path: str, num_hashes: int = 32,
                    rows_per_band: int = 4, k: int = 3,
                    text_col: str = "text", id_col: str = "doc_id") -> None:
    """Persist the corpus's dedup state: wide minhash signatures plus the
    banded projection hive-partitioned by `band` (a probe's equi-join then
    reads band-aligned directories).  Texts are NOT stored — signature
    agreement (matching minhashes / num_hashes, the standard unbiased
    Jaccard estimator) scores candidates without touching resident bytes,
    which is what makes the index small enough to keep hot at 100 TB."""
    sigs = minhash_signatures(docs, num_hashes, k, text_col, id_col)
    sigs.write.mode("overwrite").parquet(f"{path}/signatures")
    sigs = docs.sparkSession.read.parquet(f"{path}/signatures")
    (lsh_bands(sigs, rows_per_band).repartition("band")
     .write.mode("overwrite").partitionBy("band").parquet(f"{path}/bands"))
    _merge_index_meta(path, {"num_hashes": num_hashes,
                             "rows_per_band": rows_per_band, "k": k,
                             "last_batch_id": None})


def _sig_agreement(left_prefix: str, right_prefix: str, num_hashes: int):
    matches = None
    for i in range(num_hashes):
        m = F.when(F.col(f"{left_prefix}.mh_{i}") == F.col(f"{right_prefix}.mh_{i}"),
                   F.lit(1)).otherwise(F.lit(0))
        matches = m if matches is None else matches + m
    return matches / F.lit(float(num_hashes))


def lsh_probe_index(spark, path: str, new_docs: DataFrame,
                    threshold: float = 0.5, max_bucket_size: int | None = None,
                    text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Near-dup pairs of `new_docs` against the RESIDENT corpus AND within
    the batch itself: (doc_a, doc_b, est_jaccard, scope) with doc_a the new
    doc, doc_b resident ('cross') or the later of two new docs ('batch';
    doc_a < doc_b there).  est_jaccard = fraction of agreeing minhashes —
    deterministic integer comparisons, so the estimate itself is
    oracle-checkable.  Pure read: nothing is appended."""
    meta = _lsh_meta(path)
    return _probe_sigs(spark, path, meta, _batch_sigs(new_docs, meta, text_col, id_col),
                       threshold, max_bucket_size)


def _probe_sigs(spark, path: str, meta: dict, new_sigs: DataFrame,
                threshold: float, max_bucket_size: int | None) -> DataFrame:
    """lsh_probe_index's body over the batch's already-cut signatures, so
    lsh_append_index computes them once for the probe and the append."""
    n, r = meta["num_hashes"], meta["rows_per_band"]
    new_bands = lsh_bands(new_sigs, r)
    res_bands = _cap_buckets(spark.read.parquet(f"{path}/bands"), max_bucket_size)
    cross = (
        new_bands.select("band", "band_sig", F.col("doc_id").alias("doc_a"))
        .join(res_bands.select("band", "band_sig", F.col("doc_id").alias("doc_b")),
              ["band", "band_sig"])
        .select("doc_a", "doc_b").distinct()
        .withColumn("scope", F.lit("cross"))
    )
    batch = (lsh_candidate_pairs(new_bands, max_bucket_size)
             .withColumn("scope", F.lit("batch")))
    cand = cross.unionByName(batch)
    res_sigs = spark.read.parquet(f"{path}/signatures")
    all_sigs = res_sigs.unionByName(new_sigs)  # doc_b may be new (batch scope)
    est = _sig_agreement("na", "nb", n)
    return (
        cand.join(new_sigs.alias("na"), F.col("doc_a") == F.col("na.doc_id"))
        .join(all_sigs.alias("nb"), F.col("doc_b") == F.col("nb.doc_id"))
        .select("doc_a", "doc_b", "scope",
                F.round(est, 6).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


def lsh_append_index(spark, path: str, new_docs: DataFrame,
                     batch_id: int | None = None, threshold: float = 0.5,
                     max_bucket_size: int | None = None,
                     text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Probe-then-append: returns the batch's near-dup pairs (cross +
    within-batch, see lsh_probe_index) and appends the batch's signatures
    and bands so the NEXT batch sees this one as resident.  The pair result
    is materialized before the append (it must not observe the files it is
    about to add).  Exactly-once by monotonically increasing `batch_id`
    (committed after the append lands; replay returns an empty frame and
    appends nothing).  Append-only id contract as ivf_append_index."""
    meta = _lsh_meta(path)
    if batch_id is not None and meta.get("last_batch_id") is not None \
            and batch_id <= meta["last_batch_id"]:
        return spark.createDataFrame(
            [], "doc_a long, doc_b long, scope string, est_jaccard double")
    new_sigs = _batch_sigs(new_docs, meta, text_col, id_col)
    pairs = _probe_sigs(spark, path, meta, new_sigs, threshold,
                        max_bucket_size).localCheckpoint(eager=True)
    new_sigs.write.mode("append").parquet(f"{path}/signatures")
    (lsh_bands(new_sigs, meta["rows_per_band"]).repartition("band")
     .write.mode("append").partitionBy("band").parquet(f"{path}/bands"))
    if batch_id is not None:
        _merge_index_meta(path, {"last_batch_id": batch_id})
    return pairs


# -- fuzzy (edit-distance) matching: the entity-resolution face ------------

def _single_deletions_sql(e: str) -> str:
    """SQL array<string> of every single-character deletion of `e`
    (empty array for the empty string — branch typed via array_remove)."""
    return (
        f"CASE WHEN length({e}) = 0 THEN array_remove(array(''), '') "
        f"ELSE transform(sequence(1, length({e})), i -> "
        f"concat(substring({e}, 1, i - 1), "
        f"substring({e}, i + 1, length({e})))) END"
    )


def deletion_neighborhood_sql(e: str, max_distance: int = 1) -> str:
    """SQL array<string>: `e` plus every variant reachable by up to
    `max_distance` character deletions (the SymSpell neighborhood).

    Guarantee (SymSpell): edit_distance(a, b) <= d implies the d-deletion
    neighborhoods of a and b intersect — so joining on neighborhood
    members is a COMPLETE blocking scheme for a Levenshtein-bounded join;
    no true pair is lost, unlike prefix/length banding."""
    if max_distance not in (1, 2):
        raise ValueError("max_distance must be 1 or 2")
    v1 = f"array_distinct(concat(array({e}), {_single_deletions_sql(e)}))"
    if max_distance == 1:
        return v1
    inner = _single_deletions_sql("v")
    return (f"array_distinct(flatten(transform({v1}, "
            f"v -> concat(array(v), {inner}))))"
            )


def _deletion_blocks(df: DataFrame, id_col: str, text_col: str,
                     max_distance: int, out_id: str, out_s: str) -> DataFrame:
    """One side of the deletion-neighborhood join: (out_id, out_s, _blk)
    with one row per SymSpell variant `_blk` of the row's text."""
    return df.select(
        F.col(id_col).alias(out_id), F.col(text_col).alias(out_s),
        F.explode(F.expr(deletion_neighborhood_sql(text_col, max_distance))
                  ).alias("_blk"))


def fuzzy_pairs(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", max_distance: int = 1) -> DataFrame:
    """All pairs (id_a < id_b) whose `text_col` values are within
    Levenshtein distance `max_distance` — EXACT, without a cross join:
    SymSpell deletion-neighborhood blocking (complete by the deletion
    lemma) generates candidates through one equi-join on the variant
    string, then the JVM-side levenshtein() verifies.

    Scale: a length-L string emits L+1 variants at d=1 (O(L²) at d=2 —
    keep d=2 for short keys like names/titles/SKUs).  Block sizes track
    near-duplicate density, the same O(cluster²) any pair enumerator
    pays; the candidate join shuffles on the variant string and the
    verify is codegen'd, no Python boundary anywhere.  Ordering of
    (id_a, id_b) follows the id column's own type comparison — pass
    string ids for engine-portable ordering."""
    a = _deletion_blocks(df, id_col, text_col, max_distance, "id_a", "s_a")
    b = _deletion_blocks(df, id_col, text_col, max_distance, "id_b", "s_b")
    # r11 (guide §2.3, shuffle fewer bytes): verify BEFORE the dedup
    # exchange — levenshtein is codegen'd and cheap on short keys, so
    # computing it per candidate occurrence (instead of per distinct
    # candidate) trades a little CPU to shrink the distinct's shuffle
    # from (id, id, string, string) on EVERY candidate to (id, id, int)
    # on only the verified matches.  Result identical: distance is a
    # pure function of the pair, so distinct-then-verify and
    # verify-then-distinct agree.
    return (
        a.join(b, "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("distance", F.levenshtein("s_a", "s_b"))
        .filter(F.col("distance") <= max_distance)
        .select("id_a", "id_b", "distance").distinct()
    )


def fuzzy_join(left: DataFrame, right: DataFrame, text_col: str,
               left_id: str = "id_a", right_id: str = "id_b",
               max_distance: int = 1) -> DataFrame:
    """Cross-table Levenshtein-bounded join (left.text_col ~ right.
    text_col within max_distance): same deletion-neighborhood blocking as
    fuzzy_pairs, keyed across the two tables.  Returns (left_id,
    right_id, distance)."""
    a = _deletion_blocks(left, left_id, text_col, max_distance, "_ida", "_sa")
    b = _deletion_blocks(right, right_id, text_col, max_distance, "_idb", "_sb")
    # verify-then-distinct, same as fuzzy_pairs (r11): the dedup exchange
    # carries (id, id, int) on verified matches only
    return (
        a.join(b, "_blk")
        .withColumn("distance", F.levenshtein("_sa", "_sb"))
        .filter(F.col("distance") <= max_distance)
        .select(F.col("_ida").alias(left_id),
                F.col("_idb").alias(right_id), "distance").distinct()
    )


# -- exact set-similarity join (prefix filtering) ---------------------------

def set_similarity_join(df: DataFrame, set_col: str = "tokens",
                        id_col: str = "doc_id",
                        threshold: float = 0.6) -> DataFrame:
    """EXACT Jaccard-threshold self-join over set-valued rows — the
    deterministic counterpart to MinHash-LSH (which trades exactness for
    fixed-size signatures): every pair with jaccard ≥ threshold, no
    probabilistic recall.

    Prefix filtering (SSJoin): order each set's elements rarest-first by
    corpus frequency (ties by value) and emit only the first
    |s| − floor(t·|s|) + 1 elements as join keys — the prefix-filter
    lemma guarantees two qualifying sets share a prefix element, so the
    candidate join touches pairs sharing a RARE element instead of all
    pairs (hot common elements fall outside every prefix, which is what
    kills the quadratic).  Candidates verify with exact intersection /
    union sizes computed from the original arrays (JVM array_intersect —
    no Python).  Returns (id_a, id_b, jaccard) with id_a < id_b.

    Scale: one frequency aggregate, one per-set sort (window over the
    exploded elements, keyed by id), the prefix equi-join, and an
    array verify on candidates only.  Completeness is certified in the
    driver row by hash-matching a brute-force cross-join oracle."""
    from pyspark.sql.window import Window

    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    sets = df.select(F.col(id_col).alias("_id"),
                     F.array_distinct(F.col(set_col)).alias("_set"))
    toks = sets.select("_id", F.size("_set").alias("_sz"),
                       F.explode("_set").alias("_tok"))
    freq = toks.groupBy("_tok").agg(F.count(F.lit(1)).alias("_f"))
    w = Window.partitionBy("_id").orderBy(F.col("_f").asc(),
                                          F.col("_tok").asc())
    prefix = (toks.join(freq, "_tok")
              .withColumn("_rank", F.row_number().over(w))
              .filter(F.col("_rank") <=
                      F.col("_sz")
                      - F.floor(F.lit(threshold) * F.col("_sz")).cast("int")
                      + 1)
              .select("_id", "_tok"))
    cands = (prefix.select(F.col("_id").alias("id_a"), "_tok")
             .join(prefix.select(F.col("_id").alias("id_b"), "_tok"), "_tok")
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b").distinct())
    verified = (
        cands
        .join(sets.select(F.col("_id").alias("id_a"),
                          F.col("_set").alias("_sa")), "id_a")
        .join(sets.select(F.col("_id").alias("id_b"),
                          F.col("_set").alias("_sb")), "id_b")
        .withColumn("_inter", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn("_union",
                    F.size("_sa") + F.size("_sb") - F.col("_inter"))
        .withColumn("jaccard",
                    F.round(F.col("_inter") / F.col("_union"), 6))
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", "jaccard")


# -- cross-document exact substring (span) dedup ------------------------------

def _gram_fps(docs: DataFrame, n: int, text_col: str, id_col: str) -> DataFrame:
    """Positioned n-gram fingerprints (doc_id, pos, fp): every n-token
    window (NO distinct — position matters), fp = md5 of the space-joined
    window so the join key is 32 chars regardless of n."""
    return (docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(word_shingles(F.col(text_col), n)).alias("pos", "gram"))
        .select("doc_id", "pos", F.md5(F.col("gram")).alias("fp")))


def duplicated_spans(docs: DataFrame, n: int = 8, text_col: str = "text",
                     id_col: str = "doc_id",
                     max_docs_per_gram: int = 20) -> DataFrame:
    """Cross-document EXACT duplicated token spans — the Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better")
    substring-dedup family, re-expressed Spark-first as a sorted n-gram
    fingerprint join instead of a sequential suffix array (a suffix array
    is a single global sort + linear scan — inherently one-machine; the
    fingerprint join is three combinable shuffles).

    Returns maximal shared spans (doc_a, doc_b, start_a, start_b, span_len)
    with doc_a < doc_b: tokens [start_a, start_a+span_len) of doc_a equal
    tokens [start_b, start_b+span_len) of doc_b verbatim (0-based token
    positions, span_len ≥ n).  Completes the dedup ladder one level below
    near-dup: finds a 50-token span copied between otherwise-different
    documents that no whole-document fingerprint can see.

    Plan (nothing all-pairs, nothing per-corpus sorted):
    1. positioned n-gram fingerprints (_gram_fps);
    2. hot-gram cap: fingerprints in < 2 (no partner) or
       > max_docs_per_gram distinct documents (boilerplate headers — the
       quadratic bucket) are dropped BEFORE the join; spans running
       through a dropped gram split/truncate, the standard Lee-et-al
       boilerplate trade, mirrored exactly by the driver oracle;
    3. positional hit join on fingerprint (doc_a < doc_b) — pairs share a
       surviving gram, ≤ max_docs_per_gram² rows per gram;
    4. maximal-span merge: hits on one diagonal (pos_a − pos_b) with
       consecutive pos_a coalesce via gaps-and-islands — the only window,
       partitioned by (doc_a, doc_b, diagonal), bounded by DOCUMENT
       length, never corpus size, so no skew at 100× corpora."""
    if n < 2:
        raise ValueError("span n-gram width must be >= 2")
    from pyspark.sql.window import Window

    fps = _gram_fps(docs, n, text_col, id_col)
    ok = (fps.groupBy("fp")
          .agg(F.countDistinct("doc_id").alias("_nd"))
          .filter((F.col("_nd") >= 2) & (F.col("_nd") <= max_docs_per_gram))
          .select("fp"))
    kept = fps.join(ok, "fp")
    hits = (kept.select("fp", F.col("doc_id").alias("doc_a"),
                        F.col("pos").alias("pos_a"))
            .join(kept.select("fp", F.col("doc_id").alias("doc_b"),
                              F.col("pos").alias("pos_b")), "fp")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .withColumn("diag", F.col("pos_a") - F.col("pos_b")))
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    return (hits.withColumn("_isl", F.col("pos_a") - F.row_number().over(w))
            .groupBy("doc_a", "doc_b", "diag", "_isl")
            .agg(F.min("pos_a").cast("int").alias("start_a"),
                 F.min("pos_b").cast("int").alias("start_b"),
                 (F.max("pos_a") - F.min("pos_a") + n).cast("int")
                 .alias("span_len"))
            .select("doc_a", "doc_b", "start_a", "start_b", "span_len"))


def _bloom_positions(fp_col, k: int, n_bits: int):
    """k deterministic bit positions from an md5-hex fingerprint: the
    j-th position is the j-th 8-hex-char (32-bit) slice mod n_bits —
    portable (md5-only hash rule), no RNG, k <= 4."""
    if not 1 <= k <= 4:
        raise ValueError("bloom k must be in 1..4 (md5 has 4 32-bit slices)")
    return [F.conv(F.substring(fp_col, 1 + 8 * j, 8), 16, 10).cast("long")
            % n_bits for j in range(k)]


def bloom_words(fps: DataFrame, fp_col: str = "fp", n_bits: int = 1 << 20,
                k: int = 3) -> DataFrame:
    """Build a Bloom filter over a fingerprint column as a (word_idx,
    bits) DataFrame — n_bits/64 int64 words populated by a distributed
    BIT_OR aggregate.  Unlike a driver-side bitset, the word TABLE form
    scales to arbitrarily large filters: membership probes equi-join on
    word_idx (map-side once the table broadcasts), so a multi-GB filter
    never has to fit in a plan literal."""
    pos = F.explode(F.array(*_bloom_positions(F.col(fp_col), k, n_bits)))
    return (fps.select(pos.alias("p"))
            .select((F.col("p") / 64).cast("long").alias("word_idx"),
                    F.expr("shiftleft(CAST(1 AS BIGINT), "
                           "CAST(p % 64 AS INT))").alias("b"))
            .groupBy("word_idx")
            .agg(F.bit_or("b").alias("bits")))


def contamination_report(corpus: DataFrame, eval_docs: DataFrame, n: int = 8,
                         text_col: str = "text",
                         id_col: str = "doc_id", mode: str = "set",
                         bloom_bits: int = 1 << 20,
                         bloom_k: int = 3) -> DataFrame:
    """Benchmark decontamination report — the GPT-3 appendix-C / PaLM-style
    exact n-gram overlap scrub: for every TRAINING document sharing at
    least one verbatim n-token window with any EVAL document, report how
    much of it is contaminated.

    Returns (doc_id, hit_grams, eval_docs_hit, contaminated_tokens,
    total_tokens), contaminated docs only:
    * hit_grams — distinct contaminated n-gram positions in the doc;
    * eval_docs_hit — distinct eval documents it collides with;
    * contaminated_tokens — exact token coverage of the union of the hit
      windows [pos, pos+n) (the _union_intervals merge: for one fixed
      width, windows are disjoint iff the position gap exceeds n);
    * total_tokens — the doc's token count, so callers can threshold on
      the contaminated fraction.

    Scale shape: the eval side is small next to a 100 TB corpus, so its
    distinct (eval_id, fingerprint) set is broadcast — the corpus-side
    positioned-gram stream is filtered map-side and NEVER shuffles on the
    gram key.  The only window is per-document (bounded by doc length,
    not corpus size).  Companion to duplicated_spans (within-corpus) —
    this is the cross-corpus eval-set face of the same fingerprint
    machinery.

    mode='bloom': the scale path for when even the eval FINGERPRINT SET
    outgrows a broadcast join table (a full benchmark battery is easily
    10^9 grams).  A Bloom word TABLE (bloom_words — n_bits/64 rows, e.g.
    2^27 bits = 16 MB at any eval-set size) broadcast-joins the gram
    stream's k probe positions; only the bloom-POSITIVE survivors (true
    hits + the ~(1-e^-kn/m)^k false-positive trickle) proceed to the
    exact verify join, now with the TINY positive side broadcast against
    the full eval fingerprints.  Output is IDENTICAL to mode='set' —
    the filter only prunes, the verify decides — so both modes share one
    oracle."""
    if n < 2:
        raise ValueError("decontamination n-gram width must be >= 2")
    if mode not in ("set", "bloom"):
        raise ValueError(f"mode must be 'set' or 'bloom', got {mode!r}")
    toks = corpus.select(F.col(id_col).alias("doc_id"),
                         F.size(tokens(F.col(text_col))).alias("total_tokens"))
    grams = _gram_fps(corpus, n, text_col, id_col)
    ev = (eval_docs.select(
        F.col(id_col).alias("eval_id"),
        F.explode(F.array_distinct(word_shingles(F.col(text_col), n)))
        .alias("gram"))
        .select("eval_id", F.md5(F.col("gram")).alias("fp"))
        .distinct())
    if mode == "bloom":
        words = bloom_words(ev.select("fp").distinct(), n_bits=bloom_bits,
                            k=bloom_k)
        probes = grams.select(
            "doc_id", "pos", "fp",
            F.posexplode(F.array(*_bloom_positions(
                F.col("fp"), bloom_k, bloom_bits))).alias("j", "p"))
        probe_hits = (probes
                      .withColumn("word_idx", (F.col("p") / 64).cast("long"))
                      .join(F.broadcast(words), "word_idx")
                      .filter(F.expr(
                          "shiftright(bits, CAST(p % 64 AS INT)) & 1 = 1")))
        positives = (probe_hits.groupBy("doc_id", "pos", "fp")
                     .agg(F.count(F.lit(1)).alias("_k"))
                     .filter(F.col("_k") == bloom_k)
                     .select("doc_id", "pos", "fp"))
        # exact verify: the positive set is small BY CONSTRUCTION — it is
        # the broadcast side now, the full eval fps stream past it
        hits = F.broadcast(positives).join(ev, "fp")
    else:
        hits = grams.join(F.broadcast(ev), "fp")

    eval_counts = (hits.groupBy("doc_id")
                   .agg(F.countDistinct("eval_id").alias("eval_docs_hit")))
    windows = (hits.select("doc_id", "pos").distinct()
               .select("doc_id", F.col("pos").alias("s"), (F.col("pos") + n).alias("e")))
    cov = (_union_intervals(windows).groupBy("doc_id")
           .agg(F.sum(F.col("e") - F.col("s")).cast("long").alias("contaminated_tokens"),
                F.sum("_n").cast("long").alias("hit_grams")))
    return (cov.join(eval_counts, "doc_id")
            .join(toks, "doc_id")
            .select("doc_id", "hit_grams", "eval_docs_hit",
                    "contaminated_tokens",
                    F.col("total_tokens").cast("long").alias("total_tokens")))


def _union_intervals(iv: DataFrame) -> DataFrame:
    """Per-document union of half-open intervals (doc_id, s, e) → (doc_id,
    s, e, _n), _n = the number of intervals merged.  Gaps-and-islands in
    (s, e) order: an island breaks where s exceeds the running max e of
    the earlier rows.  The only window is per document."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy("s", "e")
    prior_max_e = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    return (iv.withColumn("_new", F.when(
        prior_max_e.isNull() | (F.col("s") > prior_max_e), 1).otherwise(0))
        .withColumn("_isl", F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("doc_id", "_isl")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"),
             F.count(F.lit(1)).alias("_n"))
        .drop("_isl"))


def decontaminate(corpus: DataFrame, eval_docs: DataFrame, n: int = 8,
                  max_contaminated_fraction: float = 0.0,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Drop training documents whose contaminated-token fraction exceeds
    max_contaminated_fraction (default 0.0 = any verbatim n-gram shared
    with the eval set drops the doc — the strict GPT-3 policy).  Returns
    the surviving corpus rows unchanged; pair with contamination_report
    to audit what was removed and why."""
    flagged = (contamination_report(corpus, eval_docs, n=n,
                                    text_col=text_col, id_col=id_col)
               .filter(F.col("contaminated_tokens")
                       > F.col("total_tokens") * F.lit(max_contaminated_fraction))
               .select(F.col("doc_id").alias(id_col)))
    return corpus.join(flagged, id_col, "left_anti")


def remove_duplicated_spans(docs: DataFrame, n: int = 8,
                            text_col: str = "text", id_col: str = "doc_id",
                            max_docs_per_gram: int = 20) -> DataFrame:
    """The REMOVE half of Lee-et-al substring dedup: excise every shared
    ≥n-token span from all but its lowest-id occurrence.  duplicated_spans
    finds the (doc_a < doc_b) maximal shared spans; each pair keeps
    doc_a's copy and marks [start_b, start_b+span_len) for removal in
    doc_b — chains resolve naturally (in a 1-2-3 chain, pair (1,2) clears
    doc 2 and pairs (1,3)/(2,3) clear doc 3).

    Overlapping removal intervals within a doc are unioned
    (_union_intervals), then surviving token positions are re-assembled
    in order.  All windows are per-document.

    Returns every input doc as (doc_id, text, n_removed_tokens):
    untouched docs pass through with their ORIGINAL text; modified docs
    get their surviving tokens rejoined with single spaces — token-level
    surgery is inherently on the normalized stream (case/punctuation
    inside a removed span are gone with it), the standard behavior of
    token-level dedup pipelines."""
    spans = duplicated_spans(docs, n=n, text_col=text_col, id_col=id_col,
                             max_docs_per_gram=max_docs_per_gram)
    merged = _union_intervals(spans.select(
        F.col("doc_b").alias("doc_id"), F.col("start_b").alias("s"),
        (F.col("start_b") + F.col("span_len")).alias("e")))

    toks = docs.select(F.col(id_col).alias("doc_id"),
                       F.posexplode(tokens(F.col(text_col)))
                       .alias("pos", "tok"))
    removed = (toks.join(merged, (toks.doc_id == merged.doc_id)
                         & (F.col("pos") >= F.col("s"))
                         & (F.col("pos") < F.col("e")))
               .select(toks.doc_id.alias("doc_id"), "pos").distinct())
    kept = toks.join(removed, ["doc_id", "pos"], "left_anti")
    rebuilt = (kept.groupBy("doc_id")
               .agg(F.concat_ws(" ", F.transform(
                   F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                   lambda st: st["tok"])).alias("_newtext"),
                    F.count(F.lit(1)).alias("_nkept")))
    counts = (removed.groupBy("doc_id")
              .agg(F.count(F.lit(1)).cast("long")
                   .alias("n_removed_tokens")))
    return (docs.select(F.col(id_col).alias("doc_id"),
                        F.col(text_col).alias("_orig"))
            .join(counts, "doc_id", "left")
            .join(rebuilt, "doc_id", "left")
            .select("doc_id",
                    F.when(F.col("n_removed_tokens").isNotNull(),
                           F.coalesce(F.col("_newtext"), F.lit("")))
                    .otherwise(F.col("_orig")).alias("text"),
                    F.coalesce(F.col("n_removed_tokens"), F.lit(0))
                    .cast("long").alias("n_removed_tokens")))


# -- fixed-segment (paragraph/line) exact dedup ------------------------------

def segment_dedup(docs: DataFrame, seg_words: int = 8,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Cross-document SEGMENT-level exact dedup — the C4 / MassiveText rung
    of the dedup ladder (C4 dedupes three-sentence spans, MassiveText
    repeated lines; this corpus has no sentence or line boundaries, so the
    deterministic unit is the non-overlapping `seg_words`-word chunk).

    Every document is cut into fixed chunks; for each distinct chunk text
    the FIRST occurrence (min (doc_id, seg_idx)) survives and every other
    occurrence — across documents AND within one — is removed; each
    document's text is rebuilt from its surviving chunks in order (a fully
    duplicated document rebuilds to '').  Complements
    remove_duplicated_spans (Lee et al.): spans catch shared substrings at
    ARBITRARY offsets via an n-gram fingerprint join; segment dedup is the
    cheaper fixed-segmentation pass — one md5 groupBy over O(corpus/k)
    chunk rows, no positioned-gram explosion.

    Scale shape (100 TB): segments are one explode (bounded by input size),
    the winner election is a map-side-combinable groupBy on a 32-char md5,
    the keep test one equi-join back on that key (hot boilerplate chunks
    skew the probe side only — the build row per key is unique), and the
    rebuild one per-doc aggregation.  No all-pairs anywhere.

    Returns (id_col, text (rebuilt), n_segs, n_dropped).
    """
    if seg_words < 1:
        raise ValueError("seg_words must be >= 1")
    words = F.split(F.col(text_col), " ")
    nseg = F.ceil(F.size(words) / F.lit(seg_words)).cast("int")
    seg_arr = F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda i: F.array_join(
            F.slice(words, i * seg_words + 1, seg_words), " "))
    segs = docs.select(
        F.col(id_col),
        F.posexplode(seg_arr).alias("seg_idx", "seg"),
    ).withColumn("h", F.md5("seg"))
    winners = segs.groupBy("h").agg(
        F.min(F.struct(id_col, "seg_idx")).alias("w"))
    flagged = segs.join(winners, "h").withColumn(
        "keep", (F.col(f"w.{id_col}") == F.col(id_col))
        & (F.col("w.seg_idx") == F.col("seg_idx")))
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum(F.when(~F.col("keep"), 1).otherwise(0)).alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.when(F.col("keep"),
                               F.struct("seg_idx", "seg")))),
                    lambda s: s["seg"]),
                " ").alias(text_col),
        )
        .select(id_col, text_col, "n_segs", "n_dropped")
    )
