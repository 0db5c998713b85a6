"""Vectorized/ANN similarity paths agree with the exact expression path."""

from __future__ import annotations

import pytest

from hugegraph_on_tikv_spark.functions import similarity
from hugegraph_on_tikv_spark.sources.catalog import load_table
from tests.conftest import SF_DIR


def _pairs(df):
    return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}


def test_vectorized_equals_expression_topk(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter("vec_id % 100 = 0")
    exact = similarity.cosine_topk(queries, emb, k=5)
    vec = similarity.cosine_topk_vectorized(queries, emb, k=5)
    assert _pairs(vec) == _pairs(exact)
    # scores agree to rounding
    e = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in exact.collect()}
    v = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in vec.collect()}
    for key in e:
        assert abs(e[key] - v[key]) < 1e-5


def test_ivf_recall_against_exact(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter("vec_id % 100 = 0")
    exact = _pairs(similarity.cosine_topk(queries, emb, k=5))
    approx = _pairs(similarity.ivf_topk(queries, emb, k=5, n_cells=8, n_probe=4))
    n_queries = queries.count()
    assert len(approx) == 5 * n_queries  # full result set per query
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.3  # random uniform vectors: cells are weak but nontrivial


def test_lsh_bucket_cap_drops_degenerate_bucket(spark):
    """A boilerplate corpus (every doc shares one shingle set) makes a band
    bucket quadratic; the cap must drop it and still complete."""
    from pyspark.sql import functions as F

    from hugegraph_on_tikv_spark.functions import dedup

    boiler = [(i, "lorem ipsum dolor sit amet consectetur") for i in range(200)]
    unique = [(1000 + i, f"document number {i} talks about topic {i} only today")
              for i in range(5)]
    docs = spark.createDataFrame(boiler + unique, "doc_id long, text string")

    sigs = dedup.minhash_signatures(docs, num_hashes=8)
    bands = dedup.lsh_bands(sigs, rows_per_band=4)
    capped = dedup.lsh_candidate_pairs(bands, max_bucket_size=50)
    uncapped = dedup.lsh_candidate_pairs(bands)
    # the 200-doc boilerplate bucket (19900 pairs/band) is gone...
    assert capped.count() < 200
    assert uncapped.count() >= 19_900
    # ...and the capped pipeline still completes end-to-end
    pairs = dedup.minhash_lsh_duplicates(docs, num_hashes=8, rows_per_band=4,
                                         threshold=0.9, max_bucket_size=50)
    assert pairs.count() < 200


def test_vectorized_topk_query_guard_falls_back(spark):
    """Above max_query_rows the vectorized path must fall back to the exact
    join plan instead of collecting an unbounded query set to the driver."""
    from pyspark.sql import functions as F

    from hugegraph_on_tikv_spark.functions import similarity
    from hugegraph_on_tikv_spark.sources.catalog import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    guarded = similarity.cosine_topk_vectorized(q, emb, k=3, max_query_rows=1)
    exact = similarity.cosine_topk(q, emb, k=3)
    assert sorted(guarded.collect()) == sorted(exact.collect())


def test_ivf_recall_vs_exact(spark):
    """IVF with Lloyd-refined centroids must recover most of the exact
    top-k neighbor set when probing n_probe of n_cells."""
    from pyspark.sql import functions as F

    from hugegraph_on_tikv_spark.functions import similarity
    from hugegraph_on_tikv_spark.sources.catalog import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") % 25 == 0)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in similarity.cosine_topk(q, emb, k=5).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in similarity.ivf_topk(q, emb, k=5, n_cells=8, n_probe=4).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall:.2f}"


def test_ivf_index_matches_inline_and_prunes_partitions(spark, tmp_path):
    """The persisted IVF index returns exactly the inline ivf_topk result,
    and the probe scan carries a PartitionFilter on cell (directory-level
    skip of unprobed cells)."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from hugegraph_on_tikv_spark.functions import similarity
    from hugegraph_on_tikv_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    path = str(tmp_path / "ivf")
    similarity.ivf_write_index(emb, path, n_cells=8, refine_iters=1)
    got = similarity.ivf_search_index(spark, path, queries, k=5, n_probe=4)
    want = similarity.ivf_topk(queries, emb, k=5, n_cells=8, n_probe=4)
    key = lambda r: (r["query_id"], r["rank"])
    got_rows = sorted(((r["query_id"], r["rank"], r["neighbor_id"], r["cos_sim"])
                       for r in got.collect()))
    want_rows = sorted(((r["query_id"], r["rank"], r["neighbor_id"], r["cos_sim"])
                        for r in want.collect()))
    assert got_rows == want_rows and len(got_rows) > 0

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters", 1)[1][:300]


def test_simhash_twins_bit_identical(spark):
    """The Arrow SimHash (`simhash_signatures`; measured 17x faster at sf0.1)
    must produce bit-identical signatures to the JVM explode form — same
    tokenization, same md5 48-bit sampling, same majority vote, same
    zero-token-doc absence."""
    from hugegraph_on_tikv_spark.functions.dedup import (
        _simhash_signatures_jvm,
        simhash_signatures,
    )
    from hugegraph_on_tikv_spark.sources.catalog import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    empty = spark.createDataFrame(
        [(10_000_001, ""), (10_000_002, "; -- !!"), (10_000_003, "One token")],
        "doc_id long, text string")
    docs = docs.select("doc_id", "text").unionByName(empty)
    arrow = {r["doc_id"]: r["simhash"]
             for r in simhash_signatures(docs).collect()}
    jvm = {r["doc_id"]: r["simhash"]
           for r in _simhash_signatures_jvm(docs).collect()}
    assert arrow == jvm
    assert len(arrow) > 0
    assert 10_000_001 not in arrow and 10_000_002 not in arrow  # no tokens
    assert 10_000_003 in arrow


def test_cross_corpus_contamination(spark):
    """Only pairs CROSSING the train/test boundary surface; within-corpus
    duplicates are excluded; orientation is always (train, test)."""
    from hugegraph_on_tikv_spark.functions.dedup import cross_corpus_contamination

    base = "the quick brown fox jumps over the lazy dog again and again today"
    other = "completely different text about spark dataframes and shuffles at scale"
    train = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, other)], "doc_id long, text string")
    test = spark.createDataFrame(
        [(100, base + " suffix"), (101, "nothing like anything else in either corpus here")],
        "doc_id long, text string")
    got = {(r["train_id"], r["test_id"])
           for r in cross_corpus_contamination(train, test, threshold=0.4).collect()}
    assert (1, 100) in got          # the contaminated test doc is caught
    assert (2, 100) in got          # via its train near-twin too
    assert all(t in (1, 2, 3) and e in (100, 101) for t, e in got)  # oriented
    assert (1, 2) not in got and (2, 1) not in got  # within-train pair excluded
    assert not any(e == 101 for _, e in got)        # clean test doc untouched


def test_ivf_append_incremental_maintenance(spark, tmp_path):
    """Incremental IVF: appended vectors are assigned against the FROZEN
    centroids and land only in their cells' directories; search sees them
    with no rebuild; batching layout is irrelevant; replays are no-ops."""
    from pyspark.sql import functions as F

    from hugegraph_on_tikv_spark.functions import similarity
    from hugegraph_on_tikv_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    part_a = emb.filter(F.col("vec_id") % 3 != 0)
    part_b = emb.filter(F.col("vec_id") % 3 == 0)
    queries = emb.filter(F.col("vec_id") % 50 == 0)

    # one big append vs two half appends → identical search results
    one, two = str(tmp_path / "one"), str(tmp_path / "two")
    for path in (one, two):
        similarity.ivf_write_index(part_a, path, n_cells=8, refine_iters=1)
    n1 = similarity.ivf_append_index(spark, one, part_b, batch_id=1)
    assert n1 == part_b.count() > 0
    b1 = part_b.filter(F.col("vec_id") % 2 == 0)
    b2 = part_b.filter(F.col("vec_id") % 2 == 1)
    similarity.ivf_append_index(spark, two, b1, batch_id=1)
    similarity.ivf_append_index(spark, two, b2, batch_id=2)

    r_one = {(r["query_id"], r["rank"]): r["neighbor_id"]
             for r in similarity.ivf_search_index(spark, one, queries).collect()}
    r_two = {(r["query_id"], r["rank"]): r["neighbor_id"]
             for r in similarity.ivf_search_index(spark, two, queries).collect()}
    assert r_one == r_two and len(r_one) > 0

    # appended vectors are actually retrievable: a query that IS an
    # appended vector must find appended near-neighbors or at least rank
    # rows (its own id is excluded); sanity: some appended id appears
    appended_ids = {r["vec_id"] for r in part_b.select("vec_id").collect()}
    assert any(nid in appended_ids for nid in r_one.values())

    # replayed batch id is a no-op (exactly-once watermark)
    before = spark.read.parquet(f"{one}/corpus").count()
    assert similarity.ivf_append_index(spark, one, part_b, batch_id=1) == 0
    assert spark.read.parquet(f"{one}/corpus").count() == before


def test_ivf_maybe_compact_refits_drifted_index(spark, tmp_path):
    """IVF recompaction policy: a pile of appended near-identical vectors
    bloats one cell (frozen centroids no longer fit); maybe_compact detects
    the skew from file metadata, re-fits, and the compacted index equals a
    fresh build on the same corpus; the batch watermark survives."""
    from pyspark.sql import functions as F

    from hugegraph_on_tikv_spark.functions import similarity
    from hugegraph_on_tikv_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "idx")
    similarity.ivf_write_index(emb, path, n_cells=8, refine_iters=1)

    # healthy: no compact
    assert similarity.ivf_maybe_compact(spark, path, skew_ratio=3.0) is False

    # append one vector replicated 5000x (tiny per-row perturbation so
    # parquet cannot compress the pile away) -> one bloated cell
    hot = (emb.orderBy("vec_id").limit(1)
           .crossJoin(spark.range(5000).select(F.col("id").alias("k")))
           .select((F.lit(100_000) + F.col("k")).alias("vec_id"),
                   F.expr("transform(embedding, (x, i) -> CAST(x + CASE "
                          "WHEN i = 0 THEN k * 1e-6 ELSE 0 END AS FLOAT))")
                   .alias("embedding")))
    n = similarity.ivf_append_index(spark, path, hot, batch_id=1)
    assert n == 5000
    s = similarity.ivf_cell_stats(path)
    assert s["n_cells"] == 8 and s["max"] / s["median"] > 3.0

    assert similarity.ivf_maybe_compact(spark, path, skew_ratio=3.0) is True

    # compacted index == fresh build over the identical corpus
    fresh = str(tmp_path / "fresh")
    corpus_now = spark.read.parquet(f"{path}/corpus").select("vec_id", "embedding")
    similarity.ivf_write_index(corpus_now, fresh, n_cells=8, refine_iters=1)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    a = {(r["query_id"], r["rank"]): r["neighbor_id"]
         for r in similarity.ivf_search_index(spark, path, queries).collect()}
    b = {(r["query_id"], r["rank"]): r["neighbor_id"]
         for r in similarity.ivf_search_index(spark, fresh, queries).collect()}
    assert a == b and len(a) > 0

    # exactly-once watermark rode through the compact
    assert similarity.ivf_append_index(spark, path, hot, batch_id=1) == 0


def test_quantize_embeddings_roundtrip_and_fidelity(spark):
    from pyspark.sql import functions as F

    from hugegraph_on_tikv_spark.functions import similarity as sim

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(100)
    q = sim.quantize_embeddings(emb)
    rows = q.collect()
    assert all(-127 <= c <= 127 for r in rows for c in r["codes"])
    assert all(r["scale"] >= 0 for r in rows)

    # reconstruction cosine vs the original: int8 keeps >= 0.999
    d = sim.dequantize_embeddings(q).join(emb, "vec_id")
    fid = d.select(
        sim.cosine(F.col("vec"), F.col("embedding")).alias("c")).collect()
    assert all(r["c"] > 0.999 for r in fid)

    # all-zero vector: zero codes, zero scale, zero reconstruction
    z = spark.createDataFrame([(1, [0.0] * 8)], "vec_id long, embedding array<float>")
    zr = sim.dequantize_embeddings(sim.quantize_embeddings(z)).collect()[0]
    assert zr["scale"] == 0.0 and set(zr["codes"]) == {0} and set(zr["vec"]) == {0.0}


def test_quantized_topk_tracks_exact_topk(spark):
    """The quantized scan's top-k overlaps the exact float top-k heavily
    (recall@5 >= 0.8 on fixture embeddings) and scores stay within the
    int8 quantization error of the exact cosine."""
    from pyspark.sql import functions as F

    from hugegraph_on_tikv_spark.functions import similarity as sim

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    exact = sim.cosine_topk(qs, emb, k=5).collect()
    quant = sim.quantized_cosine_topk(qs, emb, k=5).collect()

    ex = {}
    for r in exact:
        ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    qt = {}
    qscore = {}
    for r in quant:
        qt.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        qscore[(r["query_id"], r["neighbor_id"])] = r["qcos_sim"]
    assert set(ex) == set(qt)
    hits = sum(len(ex[q] & qt[q]) for q in ex)
    total = sum(len(ex[q]) for q in ex)
    assert hits / total >= 0.8

    escore = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in exact}
    for key in set(escore) & set(qscore):
        assert abs(escore[key] - qscore[key]) < 0.02


def test_lsh_index_incremental_equals_oneshot(spark, tmp_path):
    """Incremental corpus dedup: write(A) then append(B) finds exactly the
    candidate pairs involving B that the one-shot pipeline over A∪B finds
    — no resident signature is recomputed, and a replayed batch is a
    no-op.  The append cuts B's signatures once: its jobs are the probe's
    plus the signature and band writes (3), no second cut."""
    from hugegraph_on_tikv_spark.functions import dedup
    from tests.conftest import jobs_since

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    a = mk([(1, base), (2, base + " today"),
            (3, "completely different text about spark physical plans")])
    b = mk([(11, base), (12, "another unrelated document entirely about ducks"),
            (13, base + " today")])

    path = str(tmp_path / "lshidx")
    dedup.lsh_write_index(a, path, num_hashes=16, rows_per_band=4, k=3)
    jobs = jobs_since(spark)
    probe = dedup.lsh_probe_index(spark, path, b, threshold=0.0) \
        .localCheckpoint(eager=True)
    probe_jobs = jobs()
    jobs = jobs_since(spark)
    got = dedup.lsh_append_index(spark, path, b, batch_id=1, threshold=0.0)
    append_jobs = jobs()
    assert append_jobs - probe_jobs <= 3, (append_jobs, probe_jobs)
    assert sorted(got.collect()) == sorted(probe.collect())
    got_pairs = {(r["doc_a"], r["doc_b"], r["scope"]) for r in got.collect()}

    # one-shot candidates over A∪B, restricted to pairs touching B
    all_cand = dedup.lsh_candidate_pairs(
        dedup.lsh_bands(dedup.minhash_signatures(
            a.unionByName(b), num_hashes=16), 4))
    expected = set()
    for r in all_cand.collect():
        lo, hi = r["doc_a"], r["doc_b"]
        new = {d for d in (lo, hi) if d >= 11}
        if not new:
            continue
        if len(new) == 2:
            expected.add((lo, hi, "batch"))
        else:
            nw = new.pop()
            expected.add((nw, lo if hi == nw else hi, "cross"))
    assert {(p[0], p[1], p[2]) for p in got_pairs} == expected

    # est_jaccard is 1.0 for the identical pair (11 matches resident 1)
    est = {(r["doc_a"], r["doc_b"]): r["est_jaccard"] for r in got.collect()}
    assert est[(11, 1)] == 1.0

    # replay: no-op, nothing double-appended
    replay = dedup.lsh_append_index(spark, path, b, batch_id=1, threshold=0.0)
    assert replay.count() == 0
    n_sigs = spark.read.parquet(f"{path}/signatures").count()
    assert n_sigs == 6

    # a third batch sees B as resident
    c = mk([(21, base + " today")])
    got2 = dedup.lsh_append_index(spark, path, c, batch_id=2, threshold=0.9)
    partners = {r["doc_b"] for r in got2.collect()}
    assert {2, 13} <= partners          # near-identical "today" docs found
    assert all(r["scope"] == "cross" for r in got2.collect())


def test_lsh_index_missing_meta_raises(spark, tmp_path):
    """Probing or appending to a path that holds no index names the path
    in a FileNotFoundError (not a KeyError on a missing meta key)."""
    from hugegraph_on_tikv_spark.functions import dedup

    batch = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    path = str(tmp_path / "no_index")
    with pytest.raises(FileNotFoundError, match="no_index"):
        dedup.lsh_probe_index(spark, path, batch)
    with pytest.raises(FileNotFoundError, match="no_index"):
        dedup.lsh_append_index(spark, path, batch, batch_id=1)


def test_minhash_pipeline_leaves_no_cached_frame(spark):
    """The MinHash pipeline's shingle cut belongs to the returned plan: a
    collected minhash_lsh_duplicates or cross_corpus_contamination leaves
    the session's cache manager empty."""
    from pyspark.sql import functions as F

    from hugegraph_on_tikv_spark.functions import dedup

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    dedup.minhash_lsh_duplicates(docs, threshold=0.3).collect()
    assert cache.isEmpty()
    dedup.cross_corpus_contamination(
        docs.filter(F.col("doc_id") % 3 != 0), docs.filter(F.col("doc_id") % 3 == 0),
        threshold=0.3).collect()
    assert cache.isEmpty()


@pytest.mark.parametrize("name, max_jobs", [
    ("dedup_minhash_lsh", 10), ("contamination", 11), ("dedup_index_probe", 21)])
def test_minhash_rows_match_oracle_and_job_budget(spark, name, max_jobs):
    """The raw MinHash rows (fused into the slow-tier dedup_pairs roster
    row) against their DuckDB oracles, and their cold job counts."""
    import __spark_entry__ as E
    from tests.conftest import jobs_since
    from tests.oracle_diff import compare, duck_connection

    fn = E._RAW_QUERIES[name]
    since = jobs_since(spark)
    fn(spark, SF_DIR).collect()
    assert since() <= max_jobs
    con = duck_connection(SF_DIR)
    try:
        problems = compare(fn(spark, SF_DIR), con, E._RAW_ORACLES[name], name)
    finally:
        con.close()
    assert not problems, "\n".join(problems)


def test_multi_probe_lsh_recall_knob(spark):
    """n_probe probes Hamming-1 buckets: recall vs the exact top-k is
    monotonically >= the single-probe recall, and n_probe=1 keeps the
    original single-bucket behavior."""
    from pyspark.sql import functions as F

    from hugegraph_on_tikv_spark.functions import similarity as sim

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 25 == 0)

    exact = {}
    for r in sim.cosine_topk(qs, emb, k=5).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def run(n_probe, n_bits=4):
        rows = sim.ann_lsh_topk(qs, emb, k=5, n_bits=n_bits,
                                n_probe=n_probe).collect()
        got = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = sum(len(exact[q] & got.get(q, set())) for q in exact)
        return hits / sum(len(v) for v in exact.values()), len(rows)

    r1, n1 = run(1)
    r3, n3 = run(3)
    assert r3 >= r1          # probing more buckets never loses candidates
    assert n3 >= n1
    assert r3 > 0.3          # 16 buckets over 500 vectors: real recall

    # n_probe=1 == the pre-knob single-bucket result
    a = sorted(map(tuple, sim.ann_lsh_topk(qs, emb, k=5, n_probe=1).collect()))
    base = sim.ann_lsh_topk(qs, emb, k=5)
    b = sorted(map(tuple, base.collect()))
    assert a == b

    import pytest as _pytest
    with _pytest.raises(ValueError, match="n_probe"):
        sim.ann_lsh_topk(qs, emb, n_probe=0)


def test_ivf_sq8_quantized_search_and_refine(spark, tmp_path):
    """IVF-SQ8: the quantized scan ranks on int8 codes only (the float
    column never enters the probe ReadSchema), and refine= recovers the
    flat search's exact results once the candidate window covers the
    probed cells."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from hugegraph_on_tikv_spark.functions import similarity
    from hugegraph_on_tikv_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    path = str(tmp_path / "ivf_sq8")
    similarity.ivf_write_index(emb, path, n_cells=8, refine_iters=1,
                               quantize_bits=8)

    flat = similarity.ivf_search_index(spark, path, queries, k=5, n_probe=4)
    quant = similarity.ivf_search_index(spark, path, queries, k=5, n_probe=4,
                                        quantized=True)
    flat_rows = {(r["query_id"], r["rank"]): r["neighbor_id"]
                 for r in flat.collect()}
    quant_rows = {(r["query_id"], r["rank"]): r["neighbor_id"]
                  for r in quant.collect()}
    assert len(quant_rows) == len(flat_rows) > 0
    # int8 quantization recall: overwhelming top-k agreement
    agree = sum(1 for kk, v in flat_rows.items() if quant_rows.get(kk) == v)
    assert agree / len(flat_rows) >= 0.8, agree / len(flat_rows)

    # refine window covering every probed cell ⇒ EXACTLY the flat result
    refined = similarity.ivf_search_index(
        spark, path, queries, k=5, n_probe=4, quantized=True,
        refine=(n // 5) + 1)
    refined_rows = sorted((r["query_id"], r["rank"], r["neighbor_id"],
                           r["cos_sim"]) for r in refined.collect())
    flat_full = sorted((r["query_id"], r["rank"], r["neighbor_id"],
                        r["cos_sim"]) for r in flat.collect())
    assert refined_rows == flat_full

    # plan: the quantized scan reads codes, never the float embedding
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        quant.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    scan_part = plan.split("Location:")[-1]
    import re
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert any("codes" in s and "embedding" not in s for s in schemas), schemas

    # flat-only index refuses the quantized path loudly
    import pytest as _pytest
    flat_path = str(tmp_path / "ivf_flat")
    similarity.ivf_write_index(emb, flat_path, n_cells=8, quantize_bits=None)
    with _pytest.raises(ValueError, match="quantize_bits"):
        similarity.ivf_search_index(spark, flat_path, queries, quantized=True)


def test_ivf_sq8_append_keeps_codes(spark, tmp_path):
    """Appends into a quantized index quantize themselves — schema stays
    uniform and appended vectors are findable via the codes-only scan."""
    from pyspark.sql import functions as F

    from hugegraph_on_tikv_spark.functions import similarity
    from hugegraph_on_tikv_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    part_a = emb.filter(F.col("vec_id") % 5 != 0)
    part_b = emb.filter(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "ivf_sq8_app")
    similarity.ivf_write_index(part_a, path, n_cells=8, quantize_bits=8)
    assert similarity.ivf_append_index(spark, path, part_b, batch_id=1) > 0

    corpus = spark.read.parquet(f"{path}/corpus")
    assert "codes" in corpus.columns
    assert corpus.filter(F.col("codes").isNull()).count() == 0

    queries = part_b.limit(3)
    got = similarity.ivf_search_index(spark, path, queries, k=3, n_probe=8,
                                      quantized=True, refine=3)
    assert got.count() > 0


def test_ivf_append_preserves_quantize_bits(spark, tmp_path):
    """ADVICE r6 (low): an index written with quantize_bits=4 must append
    4-bit codes, not hardcoded 8-bit — the precision is persisted in
    index_meta.json and read back on append (and survives a compact)."""
    import json

    from pyspark.sql import functions as F

    from hugegraph_on_tikv_spark.functions import similarity
    from hugegraph_on_tikv_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    part_a = emb.filter(F.col("vec_id") % 5 != 0)
    part_b = emb.filter(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "ivf_sq4")
    similarity.ivf_write_index(part_a, path, n_cells=4, quantize_bits=4)
    with open(f"{path}/index_meta.json") as f:
        assert json.load(f)["quantize_bits"] == 4

    assert similarity.ivf_append_index(spark, path, part_b, batch_id=1) > 0
    corpus = spark.read.parquet(f"{path}/corpus")
    # 4-bit codes are bounded by ±(2^3 − 1): EVERY row, appended included
    qmax = corpus.select(
        F.max(F.aggregate("codes", F.lit(0),
                          lambda acc, x: F.greatest(acc, F.abs(x))))
        .alias("m")).collect()[0]["m"]
    assert qmax <= 7, qmax

    # compact preserves the recorded precision and the batch watermark:
    # replaying batch 1 after the compact appends nothing
    similarity.ivf_compact(spark, path)
    with open(f"{path}/index_meta.json") as f:
        assert json.load(f)["quantize_bits"] == 4
    assert similarity.ivf_append_index(spark, path, part_b, batch_id=1) == 0
    corpus2 = spark.read.parquet(f"{path}/corpus")
    qmax2 = corpus2.select(
        F.max(F.aggregate("codes", F.lit(0),
                          lambda acc, x: F.greatest(acc, F.abs(x))))
        .alias("m")).collect()[0]["m"]
    assert qmax2 <= 7, qmax2


def test_mmr_skips_redundant_neighbor(spark):
    # corpus: n1 and n2 nearly identical and both highly relevant; n3 less
    # relevant but orthogonal to them.  Pure relevance ranks (n1, n2, n3);
    # MMR at lambda=0.5 must pick n1 then JUMP to n3 (n2's redundancy
    # penalty sinks it), then n2 last.
    rows = [
        (0, [1.0, 0.0, 0.0]),          # query
        (1, [0.99, 0.14, 0.0]),        # n1: relevant
        (2, [0.995, 0.0999, 0.0]),     # n2: relevant, near-dup of n1
        (3, [0.7, 0.0, 0.71]),         # n3: less relevant, diverse
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.mmr_topk(emb.filter("vec_id = 0"), emb, k=3, fetch_k=3)
    got = {r["mmr_rank"]: r["neighbor_id"] for r in out.collect()}
    assert got[1] in (1, 2)       # most relevant first
    assert got[2] == 3            # diversity beats the near-duplicate
    assert got[3] in (1, 2) and got[3] != got[1]


def test_mmr_matches_reference_on_fixture(spark):
    import math

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter("vec_id % 100 = 0")
    k, fetch_k, lam = 3, 6, 0.5
    out = similarity.mmr_topk(queries, emb, k=k, fetch_k=fetch_k, lambda_=lam)
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], {})[r["mmr_rank"]] = r["neighbor_id"]

    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb), 6)

    for qid in [v for v in vecs if v % 100 == 0]:
        cand = sorted(((cos(vecs[qid], vecs[n]), n)
                       for n in vecs if n != qid),
                      key=lambda t: (-t[0], t[1]))[:fetch_k]
        rel = {n: s for s, n in cand}
        selected = []
        for step in range(1, k + 1):
            best = None
            for n in rel:
                if n in selected:
                    continue
                pen = max((cos(vecs[n], vecs[s]) for s in selected),
                          default=0.0)
                score = lam * rel[n] - (1 - lam) * pen
                if best is None or (score, -n) > best[0]:
                    best = ((score, -n), n)
            selected.append(best[1])
            assert got[qid][step] == best[1], (qid, step)


def test_pq_exact_when_vectors_are_codewords(spark):
    """With n_codes >= n_vectors every subvector becomes its own codeword
    after refinement, so the reconstruction is exact and the
    norm-corrected ADC score equals dot(q, x)/|x| up to the 1e-6 partial
    quantization."""
    import math
    import random

    from hugegraph_on_tikv_spark.functions.similarity import pq_topk

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = pq_topk(df, df, k=5, m=2, n_codes=6).collect()
    true = {(a, b): sum(x * y for x, y in zip(va, vb))
            / math.sqrt(sum(x * x for x in vb))
            for a, va in rows for b, vb in rows if a != b}
    assert len(got) == 6 * 5
    for r in got:
        expect = true[(r["query_id"], r["neighbor_id"])]
        assert abs(r["adc_score"] - expect) < 2e-5


def test_pq_recall_against_exact_topk(spark):
    """Two-stage PQ (ADC shortlist + exact rerank) keeps strong recall vs
    exact cosine top-k, even on the RANDOM fixture vectors (PQ's worst
    case: no cluster structure).  Pure ADC is much weaker here by design —
    the shortlist stage is what production runs."""
    from hugegraph_on_tikv_spark.functions.similarity import cosine_topk, pq_topk
    from hugegraph_on_tikv_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR
    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in cosine_topk(q, emb, k=5).collect()}
    two_stage = {(r["query_id"], r["neighbor_id"])
                 for r in pq_topk(q, emb, k=5, m=8, n_codes=16,
                                  shortlist=100).collect()}
    recall = len(exact & two_stage) / len(exact)
    assert recall >= 0.7, f"two-stage PQ recall collapsed: {recall}"


def test_pq_encode_partitioning_invariant(spark):
    """Codes are identical regardless of input partitioning (the exact-
    integer Lloyd means and deterministic argmax guarantee it)."""
    from hugegraph_on_tikv_spark.functions.similarity import pq_encode, pq_train

    import random
    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    b1 = pq_train(df, m=2, n_codes=4)
    c1 = {(r["vec_id"], r["sub"]): r["code"]
          for r in pq_encode(df, b1, m=2).collect()}
    df2 = df.repartition(13)
    b2 = pq_train(df2, m=2, n_codes=4)
    c2 = {(r["vec_id"], r["sub"]): r["code"]
          for r in pq_encode(df2, b2, m=2).collect()}
    assert c1 == c2 and len(c1) == 80


def _pycos(a, b):
    import math
    return (sum(x * y for x, y in zip(a, b))
            / (math.sqrt(sum(x * x for x in a))
               * math.sqrt(sum(y * y for y in b))))


def test_semantic_dedup_keeps_centroid_farthest(spark):
    """Planted near-dup pair inside one cluster: the survivor must be the
    member LESS similar to its cell centroid (the SemDeDup diversity
    rule); the unrelated cluster is untouched."""
    from hugegraph_on_tikv_spark.functions.similarity import (
        semantic_dedup, semantic_dedup_pairs)

    rows = [
        (1, [1.0, 0.02, 0.0, 0.0]),
        (2, [0.98, 0.12, 0.0, 0.0]),     # near-dup of 1
        (3, [0.8, 0.6, 0.0, 0.0]),       # same cluster, below threshold
        (10, [0.0, 0.0, 1.0, 0.05]),
        (11, [0.0, 0.0, 0.03, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = semantic_dedup_pairs(df, threshold=0.95, n_cells=2).collect()
    kept = sorted(r["id"] for r in semantic_dedup(
        df, threshold=0.95, n_cells=2).collect())
    pair_ids = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in pair_ids
    assert len(kept) == len(rows) - 1
    dropped = ({1, 2} - set(kept)).pop()
    survivor = ({1, 2} & set(kept)).pop()
    # replicate the rule: survivor is the pair member farther from the
    # centroid of its assigned cell (centroid_sim read from the result)
    cs = {r["id"]: r["centroid_sim"] for r in semantic_dedup(
        df, threshold=2.0, n_cells=2).collect()}   # threshold>1: nothing drops
    assert len(cs) == len(rows)
    assert cs[survivor] <= cs[dropped]


def test_semantic_dedup_pairs_cell_scoped(spark):
    """Pairs never cross cells: two identical vectors forced into
    different cells (they ARE the two seeds) produce no pair."""
    from hugegraph_on_tikv_spark.functions.similarity import semantic_dedup_pairs

    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # n_cells=2 seeds with ids 0 and 1; each vector stays nearest its own
    # seed-derived centroid (tie broken by cell asc -> both to cell 0)...
    # with identical vectors both land in ONE cell and the pair is found:
    got = semantic_dedup_pairs(df, threshold=0.9, n_cells=2).collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == {(0, 1)}
    # distinct orthogonal vectors seed distinct cells; no cross-cell pair
    rows2 = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    df2 = spark.createDataFrame(rows2, "vec_id long, embedding array<double>")
    assert semantic_dedup_pairs(df2, threshold=-1.0, n_cells=2).count() == 0


def test_pq_empty_corpus_raises_cleanly(spark):
    import pytest

    from hugegraph_on_tikv_spark.functions.similarity import pq_train

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="dimension"):
        pq_train(empty)


def test_pq_shortlist_must_cover_k(spark):
    import pytest

    from hugegraph_on_tikv_spark.functions.similarity import pq_topk

    df = spark.createDataFrame([(0, [1.0, 0.0])],
                               "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="shortlist"):
        pq_topk(df, df, k=5, shortlist=3)


def test_random_projection_preserves_similarity_structure(spark):
    """JL guarantee, operationally: per-pair cosine error after 64→32
    projection stays in the ~1/√out_dim band ON AVERAGE, and every
    strongly-similar (planted near-dup) pair stays clearly positive.
    (Top-k ORDER on random vectors does not survive — all cosines sit in
    a ±0.12 band narrower than the distortion; that is expected JL
    behavior, not a defect — so the assertions target the error band.)"""
    import statistics

    from pyspark.sql import functions as F

    from hugegraph_on_tikv_spark.functions.similarity import (
        cosine, cosine_topk, random_projection)
    from hugegraph_on_tikv_spark.sources.catalog import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    proj = random_projection(emb, out_dim=32).withColumnRenamed(
        "proj", "embedding")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    top = cosine_topk(q, emb, k=5).select("query_id", "neighbor_id",
                                          "cos_sim")
    pn = proj.selectExpr("vec_id as neighbor_id", "embedding as pv")
    pq = proj.selectExpr("vec_id as query_id", "embedding as qv")
    rows = (top.join(pn, "neighbor_id").join(pq, "query_id")
            .select("cos_sim",
                    F.round(cosine(F.col("qv"), F.col("pv")), 6)
                    .alias("pcos")).collect())
    errs = [abs(r["cos_sim"] - r["pcos"]) for r in rows]
    assert statistics.mean(errs) <= 0.2, statistics.mean(errs)
    strong = [r for r in rows if r["cos_sim"] >= 0.35]
    assert strong and all(r["pcos"] > 0.0 for r in strong)


def test_random_projection_deterministic_and_salted(spark):
    from hugegraph_on_tikv_spark.functions.similarity import random_projection

    import random
    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = {r["vec_id"]: r["proj"] for r in
         random_projection(df, out_dim=4).collect()}
    b = {r["vec_id"]: r["proj"] for r in
         random_projection(df.repartition(3), out_dim=4).collect()}
    assert a == b                                  # partitioning-invariant
    c = {r["vec_id"]: r["proj"] for r in
         random_projection(df, out_dim=4, salt="other").collect()}
    assert c != a                                  # salt changes the matrix


def test_pq_index_matches_inline_and_scans_codes_only(spark, tmp_path):
    """The persisted PQ index reproduces inline pq_topk exactly (both
    modes), and the ADC scan's ReadSchema carries pq_codes but NOT the
    float embedding column — the codes-only I/O contract."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from hugegraph_on_tikv_spark.functions.similarity import (
        pq_search_index, pq_topk, pq_write_index)
    from hugegraph_on_tikv_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    path = str(tmp_path / "pq")
    pq_write_index(emb, path, m=4, n_codes=16)

    got = pq_search_index(spark, path, q, k=5)
    want = pq_topk(q, emb, k=5, m=4, n_codes=16)
    gr = sorted((r["query_id"], r["rank"], r["neighbor_id"],
                 round(r["adc_score"], 9)) for r in got.collect())
    wr = sorted((r["query_id"], r["rank"], r["neighbor_id"],
                 round(r["adc_score"], 9)) for r in want.collect())
    assert gr == wr and len(gr) > 0

    got2 = pq_search_index(spark, path, q, k=5, shortlist=50)
    want2 = pq_topk(q, emb, k=5, m=4, n_codes=16, shortlist=50)
    g2 = sorted((r["query_id"], r["rank"], r["neighbor_id"], r["cos_sim"])
                for r in got2.collect())
    w2 = sorted((r["query_id"], r["rank"], r["neighbor_id"], r["cos_sim"])
                for r in want2.collect())
    assert g2 == w2

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pq_search_index(spark, path, q, k=5).explain(True)
    plan = buf.getvalue()
    import re
    schemas = re.findall(r"ReadSchema: ([^\n]*)", plan)
    code_scans = [sc for sc in schemas if "pq_codes" in sc]
    assert code_scans and all("embedding" not in sc for sc in code_scans)


def test_ivfpq_full_probe_equals_pq_and_prunes(spark, tmp_path):
    """With n_probe = n_cells the IVF-PQ candidate set is the whole
    corpus, so results equal the plain PQ index search exactly; a partial
    probe's plan carries BOTH prunings — a cell PartitionFilter and a
    codes-only ReadSchema."""
    import contextlib
    import io
    import re

    from pyspark.sql import functions as F

    from hugegraph_on_tikv_spark.functions.similarity import (
        ivfpq_search_index, ivfpq_write_index, pq_search_index,
        pq_write_index)
    from hugegraph_on_tikv_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    p1, p2 = str(tmp_path / "ivfpq"), str(tmp_path / "pq")
    ivfpq_write_index(emb, p1, n_cells=8, m=4, n_codes=16)
    pq_write_index(emb, p2, m=4, n_codes=16)

    got = sorted((r["query_id"], r["rank"], r["neighbor_id"],
                  round(r["adc_score"], 9))
                 for r in ivfpq_search_index(spark, p1, q, k=5,
                                             n_probe=8).collect())
    want = sorted((r["query_id"], r["rank"], r["neighbor_id"],
                   round(r["adc_score"], 9))
                  for r in pq_search_index(spark, p2, q, k=5).collect())
    assert got == want and len(got) > 0

    partial = ivfpq_search_index(spark, p1, q, k=5, n_probe=3)
    assert partial.count() > 0
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        partial.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters", 1)[1][:300]
    schemas = re.findall(r"ReadSchema: ([^\n]*)", plan)
    code_scans = [sc for sc in schemas if "pq_codes" in sc]
    assert code_scans and all("embedding" not in sc for sc in code_scans)

    # the shortlist's exact rerank reads floats from the probed cells only:
    # every index-corpus scan (the ones with the `cell` partition column)
    # whose ReadSchema holds the float column carries the cell filter
    short = ivfpq_search_index(spark, p1, q, k=5, n_probe=3, shortlist=10)
    assert short.count() > 0
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        short.explain()
    float_scans = [ln for ln in buf.getvalue().splitlines()
                   if "FileScan" in ln and re.search(r"[\[,]cell#", ln)
                   and "embedding" in ln.split("ReadSchema: ", 1)[1]]
    assert float_scans
    for ln in float_scans:
        assert re.search(r"PartitionFilters: \[[^\]]*cell#", ln), ln


def test_pq_adc_vectorized_equals_relational(spark, tmp_path):
    """The Arrow ADC kernel reproduces the relational pq_search_index
    result bit-for-bit (same quantized-integer LUT arithmetic).  Its
    driver collect is guarded like cosine_topk_vectorized's: a query set
    over the cap runs pq_search_index's joins-only plan, and an empty one
    raises its clear ValueError (not a pandas IndexError)."""
    import pytest
    from pyspark.sql import functions as F

    from hugegraph_on_tikv_spark.functions.similarity import (
        pq_adc_vectorized, pq_search_index, pq_write_index)
    from hugegraph_on_tikv_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    path = str(tmp_path / "pq")
    pq_write_index(emb, path, m=4, n_codes=16)
    got = sorted((r["query_id"], r["rank"], r["neighbor_id"], r["adc_score"])
                 for r in pq_adc_vectorized(spark, path, q, k=5).collect())
    want = sorted((r["query_id"], r["rank"], r["neighbor_id"], r["adc_score"])
                  for r in pq_search_index(spark, path, q, k=5).collect())
    assert got == want and len(got) > 0

    capped = pq_adc_vectorized(spark, path, q, k=5, max_query_rows=1)
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan, plan
    assert sorted((r["query_id"], r["rank"], r["neighbor_id"], r["adc_score"])
                  for r in capped.collect()) == want
    with pytest.raises(ValueError, match="dimension"):
        pq_adc_vectorized(spark, path, q.filter(F.lit(False)), k=5)


def test_ivf_filtered_search_semantics(spark):
    """Metadata-filtered ANN: every neighbor satisfies the predicate, the
    index is filter-agnostic (centroids from the FULL corpus), and with
    n_probe == n_cells the filtered probe equals exact search over the
    filtered corpus — the brute-force flip for selective filters."""
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter("vec_id % 100 = 0")
    pred = (F.col("vec_id") % 7).isin(1, 3)

    out = similarity.ivf_topk(queries, emb, k=5, n_cells=8, n_probe=4,
                              corpus_filter=pred)
    rows = out.collect()
    assert rows and all(r["neighbor_id"] % 7 in (1, 3) for r in rows)

    # full probe == exact top-k over the filtered corpus (self-exclusion
    # never fires here: queries are %100==0, candidates %7 in (1,3))
    full = _pairs(similarity.ivf_topk(queries, emb, k=5, n_cells=8,
                                      n_probe=8, corpus_filter=pred))
    exact = _pairs(similarity.cosine_topk(queries, emb.filter(pred), k=5))
    assert full == exact

    # filter-agnostic index: filtered top-k is a subset of what the SAME
    # cells yield — rerun without the filter and check every filtered
    # (query, neighbor) pair whose neighbor matches the predicate and made
    # the unfiltered top-k is ranked at least as well when filtered
    unf = similarity.ivf_topk(queries, emb, k=50, n_cells=8, n_probe=4)
    unf_pairs = _pairs(unf.filter((F.col("neighbor_id") % 7).isin(1, 3)))
    assert _pairs(out) <= unf_pairs


def test_contrastive_mining_semantics(spark):
    """Positives sit at/above the threshold, negatives strictly inside the
    band below it, negatives are the per-anchor HARDEST (no skipped
    same-cell candidate is more similar than a selected negative), and the
    per-anchor cap holds."""
    emb = load_table(spark, SF_DIR, "embeddings")
    got = similarity.mine_contrastive_pairs(
        emb, pos_threshold=0.4, neg_band=(0.2, 0.35), n_neg=2, n_cells=16)
    rows = got.collect()
    assert rows, "mining produced no pairs at test thresholds"
    pos = [r for r in rows if r["kind"] == "pos"]
    neg = [r for r in rows if r["kind"] == "neg"]
    assert pos and neg
    assert all(r["cos_sim"] >= 0.4 for r in pos)
    assert all(0.2 <= r["cos_sim"] < 0.35 for r in neg)
    # per-anchor negative cap + dense ranks
    from collections import defaultdict
    per = defaultdict(list)
    for r in neg:
        per[r["anchor_id"]].append(r["pair_rank"])
    for ranks in per.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 2
    # hardest-first: rank-1 negative's cos >= rank-2's for the same anchor
    best = {r["anchor_id"]: r["cos_sim"] for r in neg if r["pair_rank"] == 1}
    for r in neg:
        if r["pair_rank"] == 2:
            assert best[r["anchor_id"]] >= r["cos_sim"]
    # positives are symmetric pairs (same-cell relation is symmetric)
    ppairs = {(r["anchor_id"], r["other_id"]) for r in pos}
    assert all((b, a) in ppairs for a, b in ppairs)


def test_ann_recall_report_semantics(spark):
    """recall@k is exact-integer; full probe (n_probe == n_cells) is exact
    search, so every hit count equals k; the totals row sums the sample."""
    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter("vec_id % 100 = 0")
    full = similarity.ann_recall_report(q, emb, k=5, n_cells=8, n_probe=8)
    rows = {r["query_id"]: (r["hits"], r["k"]) for r in full.collect()}
    per = {qid: hk for qid, hk in rows.items() if qid != -1}
    assert per and all(h == 5 and k == 5 for h, k in per.values())
    assert rows[-1] == (sum(h for h, _ in per.values()),
                        sum(k for _, k in per.values()))
    # a 1-cell probe of 8 cells can only lose recall, never exceed k
    part = similarity.ann_recall_report(q, emb, k=5, n_cells=8, n_probe=1)
    prows = {r["query_id"]: r["hits"] for r in part.collect() if r["query_id"] != -1}
    assert prows.keys() == per.keys()
    assert all(0 <= h <= 5 for h in prows.values())


def test_vectorized_topk_float_budget_is_dimension_aware(spark):
    """VERDICT r9 #7: the driver-collect guard bounds rows x dim, not rows.
    A query set that passes the row cap but blows the float budget (wide
    vectors) must fall back to the join plan — no MapInPandas in the
    physical plan — with identical results."""
    from pyspark.sql import functions as F

    from hugegraph_on_tikv_spark.functions import similarity
    from hugegraph_on_tikv_spark.sources.catalog import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    # dim is 64 in the fixture: a 128-float budget caps at 2 query rows,
    # far under the row cap, so the byte guard (not the row guard) trips
    guarded = similarity.cosine_topk_vectorized(
        q, emb, k=3, max_query_rows=100_000, max_query_floats=128)
    plan = guarded._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan, plan
    exact = similarity.cosine_topk(q, emb, k=3)
    assert sorted(guarded.collect()) == sorted(exact.collect())


def test_contrastive_mining_index_path_equals_inline(spark, tmp_path):
    """VERDICT r9 #5 pin: mine_contrastive_pairs over a persisted
    ivf_write_index artifact (no per-call centroid retrain) is
    bit-identical to the inline-trained path at matching
    n_cells/refine_iters."""
    from hugegraph_on_tikv_spark.functions import similarity
    from hugegraph_on_tikv_spark.sources.catalog import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    inline = similarity.mine_contrastive_pairs(
        emb, pos_threshold=0.4, neg_band=(0.2, 0.35), n_neg=2, n_cells=8)
    path = str(tmp_path / "ctr_idx")
    similarity.ivf_write_index(emb, path, n_cells=8, quantize_bits=None)
    indexed = similarity.mine_contrastive_pairs(
        None, pos_threshold=0.4, neg_band=(0.2, 0.35), n_neg=2,
        n_cells=8, spark=spark, index_path=path)
    assert sorted(map(tuple, inline.collect())) \
        == sorted(map(tuple, indexed.collect()))
    # the family shares the helper: semantic_dedup over the same index
    kept_inline = similarity.semantic_dedup(emb, threshold=0.4, n_cells=8)
    kept_idx = similarity.semantic_dedup(
        None, threshold=0.4, n_cells=8, spark=spark, index_path=path)
    assert sorted(map(tuple, kept_inline.collect())) \
        == sorted(map(tuple, kept_idx.collect()))


def test_ann_autotune_restores_recall_after_drift(spark, tmp_path):
    """VERDICT r9 #6: plant centroid drift — index trained on clustered
    corpus A, then ivf_append_index a distribution B the frozen centroids
    never saw (B is near-orthogonal to A's clusters, so B's cell
    assignments are jitter-noise and B-neighbors scatter across cells).
    Recall@k for B-queries at n_probe=1 collapses; ann_autotune must
    raise n_probe until recall >= target, and flag the recluster."""
    import random

    from hugegraph_on_tikv_spark.functions import similarity

    rng = random.Random(7)
    dim = 8

    def jit(base):
        return [b + 0.05 * rng.random() for b in base]

    a_rows = []
    for i in range(120):
        base = [0.0] * dim
        base[i % 3] = 1.0
        a_rows.append((i, jit(base)))
    b_rows = []
    for i in range(120, 240):
        base = [0.0] * dim
        base[4 + i % 4] = 1.0
        base[4 + (i + 1) % 4] = 0.7
        b_rows.append((i, jit(base)))
    schema = "vec_id long, embedding array<double>"
    corpus_a = spark.createDataFrame(a_rows, schema)
    corpus_b = spark.createDataFrame(b_rows, schema)
    path = str(tmp_path / "drift_idx")
    similarity.ivf_write_index(corpus_a, path, n_cells=6,
                               quantize_bits=None)
    similarity.ivf_append_index(spark, path, corpus_b, batch_id=1)
    queries = spark.createDataFrame(b_rows[::6], schema)
    report = similarity.ann_autotune(
        spark, path, queries, target_recall=0.9, k=5, start_n_probe=1)
    assert report["recall"] >= 0.9
    assert report["total"] == len(b_rows[::6]) * 5
    # the drift is real: the first probed setting was NOT enough
    assert report["history"][0]["recall"] < 0.9
    assert report["n_probe"] > 1
    # autotune's escalation is monotone in n_probe
    probes = [h["n_probe"] for h in report["history"]]
    assert probes == sorted(probes)


def test_vectorized_topk_null_probe_vector_falls_back(spark):
    """ADVICE r10: a NULL vector in the probed first row must fall back
    to the joins-only exact plan (like the empty-queries and over-budget
    guards) instead of raising TypeError(len(None))."""
    q = spark.createDataFrame([(1, None)],
                              "vec_id long, embedding array<double>")
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)],
        "vec_id long, embedding array<double>")
    out = similarity.cosine_topk_vectorized(q, emb, k=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan, plan
    out.collect()  # must not raise


def test_ann_autotune_defaults_to_index_scan_path(spark, tmp_path):
    """ADVICE r10: autotune tunes the DEPLOYMENT scan path — on an SQ8
    index (ivf_write_index's default quantize_bits=8, recorded in
    index_meta.json) the walk probes the quantized search unless
    explicitly overridden, and the report says which path it measured."""
    rows = [(i, [float((i * 7 + j) % 5) + 0.1 for j in range(4)])
            for i in range(40)]
    schema = "vec_id long, embedding array<double>"
    corpus = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "sq8_idx")
    similarity.ivf_write_index(corpus, path, n_cells=4)  # default SQ8
    q = spark.createDataFrame(rows[::8], schema)
    rep = similarity.ann_autotune(spark, path, q, target_recall=0.5, k=3)
    assert rep["quantized"] is True
    rep_flat = similarity.ann_autotune(spark, path, q, target_recall=0.5,
                                       k=3, quantized=False)
    assert rep_flat["quantized"] is False
    # both walks terminate and stay within the cell budget
    for r in (rep, rep_flat):
        assert 1 <= r["n_probe"] <= r["n_cells"]
        probes = [h["n_probe"] for h in r["history"]]
        assert probes == sorted(probes)


def test_ann_autotune_history_applies_stop_rule(spark):
    """r11 (VERDICT r10 #8): the artifact walk stops at the first step
    whose exact-integer recall meets the target — no step after a
    success, every earlier step below it — and the full-probe step is
    the unconditional terminator."""
    rows = [(i, [float((i * 13 + j * 3) % 7) + 0.5 for j in range(4)])
            for i in range(60)]
    schema = "vec_id long, embedding array<double>"
    corpus = spark.createDataFrame(rows, schema)
    q = spark.createDataFrame(rows[::10], schema)
    hist = similarity.ann_autotune_history(
        q, corpus, k=3, n_cells=8).collect()
    assert len(hist) >= 1
    for prev in hist[:-1]:
        assert prev["hits"] * 10 < 9 * prev["total"]
    last = hist[-1]
    assert (last["hits"] * 10 >= 9 * last["total"]
            or last["n_probe"] == 8)
