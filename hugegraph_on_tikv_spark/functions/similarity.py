"""Embedding similarity search (SURVEY.md §7 phase 4).

Two paths, as a real 100 TB pipeline would ship them:

* brute-force cosine top-k — the exact baseline.  Query set × corpus with
  the query side broadcast; the dot product runs JVM-side via
  `F.zip_with`/`F.aggregate` (sequential left-to-right fold, which the
  DuckDB oracle reproduces bit-identically with list_dot_product over
  DOUBLE[]);
* sign-LSH bucketed ANN — quantize each vector by the sign pattern of its
  leading dimensions (axis-aligned hyperplanes: deterministic, zero extra
  state, oracle-expressible), equi-join buckets, exact rerank inside the
  bucket.  The candidate join touches only same-bucket pairs; recall is
  tunable via n_bits / multi-probe.

Every top-k operator is one search core fed by a different candidate
generator (exact, LSH, IVF, SQ8, PQ, IVF-PQ), and its parts are written
once: `_topk` (the per-query rank cut), `_probe_cells` (a query's n_probe
nearest IVF cells), `_adc_topk` (the PQ lookup-table scan and its
shortlist), `_rerank` (the exact float-cosine second stage),
`_exact_mean` (the Lloyd mean), `_wide_codes` (the pq_codes column),
`_query_block` (the vectorized kernels' driver-collect guard) and
`_index_meta` / `_merge_index_meta` (the one reader and the one writer
of index_meta.json).  The vectorized kernels' per-batch numpy loops stay
inside their mapInPandas closures: cloudpickle ships a module-level
helper by reference, so a worker that cannot import this package would
fail with ModuleNotFoundError.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (matches DuckDB list_dot_product order)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    a, b = _as_double(a), _as_double(b)
    return dot(a, b) / (norm(a) * norm(b))


def _topk(scored: DataFrame, k: int, score: str = "cos_sim") -> DataFrame:
    """Keep each query's k best rows of (query_id, neighbor_id, score),
    ranked by (score desc, neighbor_id asc) — deterministic under ties.
    Appends `rank`."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.col(score).desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def _rerank(cand: DataFrame, qv: DataFrame, cv: DataFrame, k: int) -> DataFrame:
    """Exact second stage: re-score the (query_id, neighbor_id) candidates
    by float cosine between qv (query_id, q_vec) and cv (neighbor_id,
    c_vec) — float I/O only for the candidate rows — and cut the top k.
    Returns (query_id, neighbor_id, cos_sim, rank)."""
    exact = (cand.join(cv, "neighbor_id").join(F.broadcast(qv), "query_id")
             .select("query_id", "neighbor_id",
                     F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6)
                     .alias("cos_sim")))
    return _topk(exact, k)


def cosine_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k neighbors per query (excluding self): broadcast the query
    set against the corpus scan, rank by (cosine desc, neighbor id asc) for
    determinism.  Returns (query_id, neighbor_id, cos_sim, rank)."""
    # r12 (guide §1.2, the quantized_topk treatment): self-norms and the
    # double-casts are per-VECTOR constants — hoisted into the per-side
    # projections so the per-pair expression is ONE zip_with dot instead
    # of three D-wide aggregates.  Bit-identical: the same doubles feed
    # dot(q,c) / (norm(q) * norm(c)) in the same operand order.
    q = queries.select(F.col(id_col).alias("query_id"),
                       _as_double(F.col(vec_col)).alias("q_vec"),
                       norm(_as_double(F.col(vec_col))).alias("_qn"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      _as_double(F.col(vec_col)).alias("c_vec"),
                      norm(_as_double(F.col(vec_col))).alias("_cn"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                F.round(dot(F.col("q_vec"), F.col("c_vec"))
                        / (F.col("_qn") * F.col("_cn")), 6).alias("cos_sim"))
    )
    return _topk(scored, k)


def mmr_topk(queries: DataFrame, corpus: DataFrame, k: int = 3,
             fetch_k: int = 8, lambda_: float = 0.5,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell & Goldstein):
    greedily select k results balancing relevance against redundancy —
    step t picks argmax over unselected candidates of

        mmr(d) = λ·cos(q, d) − (1−λ)·max_{s∈selected} cos(d, s)

    the standard de-redundancy pass RAG retrieval runs after a similarity
    cut.  Two-phase, scale-shaped like the hybrid retriever: an exact
    cosine top-fetch_k cut first (cosine_topk — TakeOrderedAndProject, the
    corpus never materializes), then the greedy selection over ONLY the
    fetch_k survivors per query: the pairwise-sim table is
    queries·fetch_k² rows by contract and each of the k selection rounds
    is one aggregate + one join on it, all JVM-side — no Python boundary,
    no collect.

    Determinism: relevance and pairwise sims are rounded to 6dp BEFORE the
    λ-combination (both engines then combine identical doubles with
    identical IEEE ops), ties broken by smallest neighbor id via
    max-score-then-min-id two-stage aggregation (no id negation).
    Returns (query_id, neighbor_id, cos_sim, mmr_rank)."""
    if not 0.0 <= lambda_ <= 1.0:
        raise ValueError("lambda_ must be in [0, 1]")
    if k > fetch_k:
        raise ValueError("k must be <= fetch_k")
    cand = cosine_topk(queries, corpus, k=fetch_k,
                       id_col=id_col, vec_col=vec_col)
    emb = corpus.select(F.col(id_col).alias("neighbor_id"),
                        F.col(vec_col).alias("_v"))
    ce = (cand.select("query_id", "neighbor_id", "cos_sim")
          .join(emb, "neighbor_id")
          .localCheckpoint(eager=True))  # queries*fetch_k rows
    a = ce.select("query_id", F.col("neighbor_id").alias("a"),
                  F.col("_v").alias("_va"))
    b = ce.select("query_id", F.col("neighbor_id").alias("b"),
                  F.col("_v").alias("_vb"))
    pairs = (a.join(b, "query_id").filter(F.col("a") != F.col("b"))
             .select("query_id", "a", "b",
                     F.round(cosine(F.col("_va"), F.col("_vb")), 6)
                     .alias("sim"))
             .localCheckpoint(eager=True))  # queries*fetch_k^2 rows
    rel = ce.select("query_id", "neighbor_id", "cos_sim")
    lam, lam1 = F.lit(float(lambda_)), F.lit(1.0 - float(lambda_))
    sel = None
    for step in range(1, k + 1):
        if sel is None:
            scores = rel.withColumn("_mmr", lam * F.col("cos_sim"))
        else:
            rem = rel.join(sel.select("query_id", "neighbor_id"),
                           ["query_id", "neighbor_id"], "left_anti")
            pen = (pairs.join(sel.select("query_id",
                                         F.col("neighbor_id").alias("b")),
                              ["query_id", "b"])
                   .groupBy("query_id", F.col("a").alias("neighbor_id"))
                   .agg(F.max("sim").alias("_pen")))
            scores = (rem.join(pen, ["query_id", "neighbor_id"], "left")
                      .withColumn("_mmr",
                                  lam * F.col("cos_sim")
                                  - lam1 * F.coalesce("_pen", F.lit(0.0))))
        mx = scores.groupBy("query_id").agg(F.max("_mmr").alias("_mx"))
        win = (scores.join(mx, "query_id")
               .filter(F.col("_mmr") == F.col("_mx"))
               .groupBy("query_id")
               .agg(F.min("neighbor_id").alias("neighbor_id"))
               .withColumn("mmr_rank", F.lit(step)))
        sel = (win if sel is None else sel.unionByName(win))
        sel = sel.localCheckpoint(eager=True)
    return (sel.join(rel, ["query_id", "neighbor_id"])
            .select("query_id", "neighbor_id", "cos_sim", "mmr_rank"))


def sign_bucket(vec: Column, n_bits: int = 8) -> Column:
    """LSH bucket id: bit d set iff vec[d] > 0, d in [0, n_bits)."""
    v = _as_double(vec)
    out = F.lit(0).cast("long")
    for d in range(n_bits):
        out = out + F.when(F.element_at(v, d + 1) > 0, F.lit(1 << d)).otherwise(F.lit(0))
    return out


def ann_lsh_topk(queries: DataFrame, corpus: DataFrame, k: int = 5, n_bits: int = 8,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 n_probe: int = 1) -> DataFrame:
    """Approximate top-k: candidates = same sign-bucket, exact cosine rerank
    within the bucket.  The bucket equi-join replaces the cross join — at
    scale the corpus is pre-partitioned by bucket so the probe is
    co-located.

    `n_probe` is the recall knob (multi-probe LSH): each query probes its
    own bucket plus the `n_probe−1` buckets at Hamming distance 1 on the
    lowest hyperplane bits — the most-likely-misassigned dimensions.
    Only the (small, broadcast) query side fans out; the corpus is read
    once, so cost grows with candidates touched, never with corpus
    passes."""
    if not 1 <= n_probe <= n_bits + 1:
        raise ValueError("n_probe must be in [1, n_bits + 1]")
    base = sign_bucket(F.col(vec_col), n_bits)
    probes = [base] + [base.bitwiseXOR(F.lit(1 << i)) for i in range(n_probe - 1)]
    q = (queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("q_vec"),
                        F.explode(F.array(*probes)).alias("bucket")))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"),
                      sign_bucket(F.col(vec_col), n_bits).alias("bucket"))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])  # multi-probe overlaps
        .select("query_id", "neighbor_id",
                F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cos_sim"))
    )
    return _topk(scored, k)


def embedding_near_duplicates(vectors: DataFrame, threshold: float = 0.95, n_bits: int = 6,
                              id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Near-duplicate vector pairs (cosine ≥ threshold) via bucketed self-join
    (near-identical vectors share sign patterns on leading dims).  Returns
    (vec_a, vec_b, cos_sim)."""
    v = vectors.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"),
                       sign_bucket(F.col(vec_col), n_bits).alias("bucket"))
    a = v.select(F.col("vid").alias("vec_a"), F.col("vec").alias("vec_a_v"), "bucket")
    b = v.select(F.col("vid").alias("vec_b"), F.col("vec").alias("vec_b_v"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b",
                F.round(cosine(F.col("vec_a_v"), F.col("vec_b_v")), 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def cosine_topk_vectorized(queries: DataFrame, corpus: DataFrame, k: int = 5,
                           id_col: str = "vec_id", vec_col: str = "embedding",
                           max_query_rows: int = 100_000,
                           max_query_floats: int = 50_000_000) -> DataFrame:
    """Arrow-vectorized brute force: the query block is shipped to every
    executor as a dense numpy matrix; each corpus Arrow batch computes a
    (batch × queries) similarity matmul and emits only its LOCAL top-k per
    query, so the global shuffle sees ~k rows per (query, partition) instead
    of |corpus|×|queries|.  This is the shape that beats the per-row
    expression fold by ~10-100× once vectors are wide.

    Same semantics as cosine_topk (self-matches excluded, ties broken by
    neighbor id): the local cut sorts by (rounded cos_sim desc, neighbor id
    asc) — the exact global ordering — so boundary ties are resolved
    identically regardless of how the corpus is batch-partitioned.

    The query side is collected to the driver (that is the contract — a
    dense broadcast matrix).  The collect is bounded in BYTES, not rows
    (VERDICT r9 #7): the effective row cap is
    min(max_query_rows, max_query_floats // dim) — 100k rows is ~50 MB at
    dim 64 but ~3 GB at dim 4096, so a row-only guard is a driver OOM
    waiting on wide vectors.  The default 50M-float budget (~400 MB of
    f64) keeps the dim-64 behavior unchanged while a dim-4096 query set
    caps near 12k rows; above the cap we fall back to the joins-only
    exact plan rather than OOM the driver."""
    import numpy as np
    import pandas as pd

    qp = _query_block(queries, id_col, vec_col, max_query_rows,
                      max_query_floats)
    if qp is None:
        return cosine_topk(queries, corpus, k, id_col, vec_col)
    q_ids = qp[id_col].to_numpy()
    q_mat = np.stack(qp[vec_col].to_numpy()).astype(np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)

    out_schema = "query_id long, neighbor_id long, cos_sim double"

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c_ids = pdf[id_col].to_numpy()
            c_mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            c_mat /= np.linalg.norm(c_mat, axis=1, keepdims=True)
            sims = np.round(c_mat @ q_mat.T, 6)  # (batch, n_queries); round
            # BEFORE the cut so local order == global window order
            rows = {"query_id": [], "neighbor_id": [], "cos_sim": []}
            top = min(k + 1, len(c_ids))  # +1 in case self is in this batch
            for j in range(len(q_ids)):
                col = sims[:, j]
                # argpartition preselect (O(n)), then exact-order lexsort of
                # only the candidate region: everything scoring >= the top-th
                # value, so boundary ties keep their smallest-id members
                if len(col) > top:
                    cutoff = col[np.argpartition(-col, top - 1)[top - 1]]
                    cand = np.nonzero(col >= cutoff)[0]
                else:
                    cand = np.arange(len(col))
                order = cand[np.lexsort((c_ids[cand], -col[cand]))][:top]
                for i in order:
                    if c_ids[i] == q_ids[j]:
                        continue
                    rows["query_id"].append(q_ids[j])
                    rows["neighbor_id"].append(c_ids[i])
                    rows["cos_sim"].append(float(col[i]))
            yield pd.DataFrame(rows)

    return _topk(corpus.select(id_col, vec_col).mapInPandas(run, out_schema), k)


def _query_block(queries: DataFrame, id_col: str, vec_col: str,
                 max_rows: int, max_floats: int = 50_000_000,
                 dim: int | None = None):
    """The driver-collected query block of a vectorized kernel, as pandas
    (id_col, vec_col) — or None when the dense-matrix contract cannot
    hold, and the caller takes its joins-only plan: no rows, a NULL
    vector, or more than min(max_rows, max_floats // dim) rows (the
    collect is bounded in floats, not rows).  `dim` defaults to a one-row
    probe of `queries`."""
    if dim is None:
        first = queries.select(vec_col).first()
        if first is None or first[0] is None:
            return None
        dim = len(first[0])
    row_cap = min(max_rows, max_floats // max(1, dim))
    if row_cap < 1:
        return None
    qp = queries.select(id_col, vec_col).limit(row_cap + 1).toPandas()
    if qp.empty or len(qp) > row_cap or qp[vec_col].isna().any():
        return None
    return qp


def assign_best_cell(df: DataFrame, cents: DataFrame, ident: str, vec: str) -> DataFrame:
    """Nearest-centroid assignment as ONE aggregate: score df×cells, then
    `groupBy(id).agg(max_by(...))` with a (cell_sim, -cell) struct ordering —
    the same deterministic argmax as a `row_number() OVER (PARTITION BY id
    ORDER BY cell_sim DESC, cell ASC)` window, but computed with map-side
    partial aggregation instead of a full sort shuffle of n_cells× the corpus
    row count.  At index-build scale the assignment dominates cost, so the
    aggregate (no sort, ~n_cells× less shuffle input) is the 100 TB plan;
    tests/test_plans.py pins the physical shape (Aggregate, no Window).
    Returns (ident, cell, vec)."""
    scored = df.crossJoin(F.broadcast(cents)).select(
        ident, vec, "cell", cosine(F.col(vec), F.col("c_vec")).alias("cell_sim"))
    return (
        scored.groupBy(ident)
        .agg(F.max_by(F.struct(F.col("cell"), F.col(vec).alias("v")),
                      F.struct(F.col("cell_sim").alias("s"),
                               (-F.col("cell")).alias("neg_cell"))).alias("best"))
        .select(ident, F.col("best.cell").alias("cell"), F.col("best.v").alias(vec))
    )


def _probe_cells(queries: DataFrame, cents: DataFrame, n_probe: int,
                 id_col: str, vec_col: str) -> DataFrame:
    """Each query's n_probe nearest cells by centroid cosine, ties to the
    lower cell id: (query_id, q_vec, cell).  The query side needs the
    top-n_probe cells, not just assign_best_cell's argmax — a window
    top-n over the (small) query batch is fine there."""
    from pyspark.sql.window import Window

    scored = queries.select(id_col, vec_col).crossJoin(F.broadcast(cents)).select(
        id_col, vec_col, "cell", cosine(F.col(vec_col), F.col("c_vec")).alias("cell_sim"))
    w = Window.partitionBy(id_col).orderBy(F.col("cell_sim").desc(), F.col("cell").asc())
    return (scored.withColumn("crank", F.row_number().over(w))
            .filter(F.col("crank") <= n_probe)
            .select(F.col(id_col).alias("query_id"),
                    F.col(vec_col).alias("q_vec"), "cell"))


def ivf_centroids(corpus: DataFrame, n_cells: int = 16, refine_iters: int = 1,
                  id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF centroids: seeded from the n_cells lowest-id vectors (reproducible
    without randomness), then refined with `refine_iters` Lloyd steps —
    assign every vector to its nearest centroid, recompute each cell's mean.
    One step moves the seeds from arbitrary corpus points to density centers,
    which is what makes n_probe/n_cells pruning actually balanced — measured
    recall@5 vs exact top-k at sf0.001 (8 cells, 4 probes): 0.66 with raw
    seeds, ~0.8 after refinement.
    Returns (cell, c_vec).  Each step is one broadcast-assign + one
    per-dimension aggregate — no iteration-scale state.

    The per-dimension mean is computed as an EXACT integer sum of the
    1e-6-quantized values divided back out (sum(round(x*1e6)) / (1e6 * n)):
    integer addition is order-independent, so the centroids — and therefore
    the whole IVF result — are bit-identical across partitionings, runs, and
    engines (a float-sum mean varies in the last ulp with reduction order,
    which can flip a cell assignment).  The 1e-6 quantization loses nothing
    that matters: cell assignment is a coarse-grained argmax."""
    cents = corpus.orderBy(id_col).limit(n_cells).select(
        F.col(id_col).alias("cell"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("c_vec"),
    )
    for _ in range(refine_iters):
        best = assign_best_cell(corpus.select(id_col, vec_col), cents, id_col, vec_col)
        cents = _exact_mean(best, ["cell"], _as_double(F.col(vec_col)))
    return cents


def _exact_mean(rows: DataFrame, keys: list, vec: Column) -> DataFrame:
    """Lloyd update: (*keys, c_vec) with c_vec the dimension-wise mean of
    each key group's `vec` arrays — posexplode, exact integer sum of the
    1e-6-quantized values divided back out, re-assembled in dimension
    order (see ivf_centroids for why the sum is integer)."""
    return (rows.select(*keys, F.posexplode(vec).alias("pos", "x"))
            .groupBy(*keys, "pos")
            .agg((F.sum(F.round(F.col("x") * 1000000).cast("long"))
                  .cast("double")
                  / (F.lit(1000000.0) * F.count(F.lit(1)))).alias("x"))
            .groupBy(*keys)
            .agg(F.transform(F.array_sort(F.collect_list(F.struct("pos", "x"))),
                             lambda s: s["x"]).alias("c_vec")))


def ivf_write_index(corpus: DataFrame, path: str, n_cells: int = 16,
                    refine_iters: int = 1, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    quantize_bits: int | None = 8) -> None:
    """Persist an IVF index: the corpus parquet-partitioned BY CELL (hive
    layout) plus the centroid table.  This is the physical form behind the
    ivf_topk scale story — a probe then reads n_probe/n_cells of the data
    via directory-level partition pruning, not a full scan.

    `quantize_bits` (default 8 — the IVF-SQ8 layout) additionally stores
    per-vector int codes + scale next to the float column; parquet is
    columnar, so the quantized search path scans ONLY the codes (4× less
    probe I/O than float32) while the float column stays available for
    exact re-ranking.  None writes the flat (float-only) index."""
    cents = ivf_centroids(corpus, n_cells, refine_iters, id_col, vec_col)
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    cents = corpus.sparkSession.read.parquet(f"{path}/centroids")
    assigned = (assign_best_cell(corpus.select(id_col, vec_col), cents, id_col, vec_col)
                .select(id_col, vec_col, "cell"))
    if quantize_bits is not None:
        codes = quantize_embeddings(corpus, vec_col, id_col, quantize_bits)
        assigned = assigned.join(codes, id_col)
    (assigned.repartition("cell").write.mode("overwrite")
     .partitionBy("cell").parquet(f"{path}/corpus"))
    # Record the quantization precision in the index metadata so appends
    # quantize at the SAME bits (mixed-precision codes in one index would
    # silently degrade quantized cosine).  Merge-preserve existing keys —
    # last_batch_id must survive a compact.
    _merge_index_meta(path, {"quantize_bits": quantize_bits})


def _index_meta(path: str) -> dict:
    """{path}/index_meta.json as a dict; {} when the index has none."""
    import json as _json
    import os as _os

    meta_path = f"{path}/index_meta.json"
    if not _os.path.exists(meta_path):
        return {}
    with open(meta_path) as f:
        return _json.load(f)


def _merge_index_meta(path: str, updates: dict) -> None:
    """Atomically merge keys into {path}/index_meta.json."""
    import json as _json
    import os as _os

    meta_path = f"{path}/index_meta.json"
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as f:
        _json.dump({**_index_meta(path), **updates}, f)
    _os.replace(tmp, meta_path)


def ivf_append_index(spark, path: str, new_vectors: DataFrame,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     batch_id: int | None = None) -> int:
    """Incremental IVF maintenance — the streaming-embedding-ingest story:
    assign `new_vectors` to the EXISTING (frozen) centroids and APPEND them
    to the cell-partitioned corpus.  Only the touched cells' directories
    receive new files (hive append), and the next search sees them through
    its normal partition-pruned listing — no rebuild, no rewrite of resident
    cells.  Centroids are intentionally NOT refit per batch: that is the
    standard IVF maintenance contract (assignment quality degrades slowly
    under drift), and `ivf_write_index` is the recluster cadence — the same
    role compact() plays for the dual edge layout.

    Append-only id contract: callers stream NEW vector ids (re-sending an
    id would duplicate it in search results — dedup upstream, e.g.
    stream_dedup).  Exactly-once under at-least-once redelivery via a
    monotonically increasing `batch_id` committed to index_meta.json AFTER
    the append lands; a replayed batch is a no-op.  (Crash between the
    parquet append and the meta write re-appends on replay — the same
    at-least-once seam every file-append sink has; route exact pipelines
    through a staging dir if that matters.)  Returns rows appended."""
    meta = _index_meta(path)
    if batch_id is not None and meta.get("last_batch_id") is not None \
            and batch_id <= meta["last_batch_id"]:
        return 0
    cents = spark.read.parquet(f"{path}/centroids")
    assigned = (assign_best_cell(new_vectors.select(id_col, vec_col), cents,
                                 id_col, vec_col)
                .select(id_col, vec_col, "cell"))
    # schema consistency with the resident index: a quantized (SQ8) index
    # quantizes its appends too, so every file carries the codes columns
    resident = spark.read.parquet(f"{path}/corpus")
    if "codes" in resident.columns:
        # quantize at the precision the index was WRITTEN with (persisted
        # in index_meta.json by ivf_write_index) — appending 8-bit codes
        # into a 4-bit index would mix precisions within one scan
        bits = meta.get("quantize_bits", 8)
        assigned = assigned.join(
            quantize_embeddings(new_vectors, vec_col, id_col, bits), id_col)
    n = assigned.count()
    (assigned.repartition("cell").write.mode("append")
     .partitionBy("cell").parquet(f"{path}/corpus"))
    if batch_id is not None:
        _merge_index_meta(path, {"last_batch_id": batch_id})
    return n


def ivf_cell_stats(path: str) -> dict:
    """Size distribution of the index's cell directories (bytes):
    {'max': .., 'median': .., 'total': .., 'n_cells': ..}.  File metadata
    only — the input to the recompaction decision, zero data reads.  Cell
    imbalance is what erodes IVF's n_probe/n_cells cost model: a probe
    that lands on one bloated cell scans far more than total/n_cells."""
    import os as _os
    import statistics as _stats

    corpus = f"{path}/corpus"
    sizes = []
    for d in _os.listdir(corpus):
        if not d.startswith("cell="):
            continue
        full = _os.path.join(corpus, d)
        sizes.append(sum(_os.path.getsize(_os.path.join(full, f))
                         for f in _os.listdir(full) if f.startswith("part-")))
    if not sizes:
        return {"max": 0, "median": 0, "total": 0, "n_cells": 0}
    return {"max": max(sizes), "median": _stats.median(sizes),
            "total": sum(sizes), "n_cells": len(sizes)}


def ivf_compact(spark, path: str, n_cells: int | None = None,
                refine_iters: int = 1, id_col: str = "vec_id",
                vec_col: str = "embedding") -> None:
    """The IVF recluster cadence: re-fit centroids on the CURRENT corpus
    (which incremental appends have drifted away from the frozen ones) and
    rewrite the cell-partitioned layout — `ivf_write_index` fed by the
    index's own corpus.  `n_cells` defaults to the existing cell count.
    The batch-id watermark survives (appends after a compact keep their
    exactly-once contract): ivf_write_index merges its keys into
    index_meta.json, so last_batch_id rides through."""
    corpus = spark.read.parquet(f"{path}/corpus").select(id_col, vec_col) \
        .localCheckpoint(eager=True)  # cut lineage before overwriting source
    if n_cells is None:
        n_cells = spark.read.parquet(f"{path}/centroids").count()
    # preserve the index's recorded quantization precision across the
    # recluster (a 4-bit or flat index must not come back 8-bit)
    bits = _index_meta(path).get("quantize_bits", 8)
    ivf_write_index(corpus, path, n_cells=n_cells, refine_iters=refine_iters,
                    id_col=id_col, vec_col=vec_col, quantize_bits=bits)


def ivf_maybe_compact(spark, path: str, skew_ratio: float = 4.0,
                      target_cell_bytes: int = 256 * 1024 * 1024,
                      growth_ratio: float = 2.0, refine_iters: int = 1,
                      id_col: str = "vec_id", vec_col: str = "embedding") -> bool:
    """Recompaction POLICY (mirrors edge_layout.maybe_compact): re-fit when
    (a) cell skew — the largest cell outgrew the median by `skew_ratio`
    (appended vectors piled into few cells because the frozen centroids no
    longer fit the distribution; re-fitting rebalances, unlike hash
    buckets), or (b) cell growth — the MEDIAN cell exceeds `growth_ratio`×
    `target_cell_bytes` (doubles the cell count so probes keep their
    n_probe/n_cells cost).  File-metadata decision; returns True if a
    compact ran."""
    s = ivf_cell_stats(path)
    if not s["n_cells"]:
        return False
    if s["median"] > 0 and s["max"] / s["median"] > skew_ratio:
        ivf_compact(spark, path, refine_iters=refine_iters,
                    id_col=id_col, vec_col=vec_col)
        return True
    if s["median"] > growth_ratio * target_cell_bytes:
        ivf_compact(spark, path, n_cells=2 * s["n_cells"],
                    refine_iters=refine_iters, id_col=id_col, vec_col=vec_col)
        return True
    return False


def ivf_stream_appender(spark, path: str, id_col: str = "vec_id",
                        vec_col: str = "embedding"):
    """foreachBatch adapter: stream embeddings straight into a persisted IVF
    index — `writeStream.foreachBatch(ivf_stream_appender(spark, path))`.
    The streaming epoch id doubles as the exactly-once batch id."""
    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        ivf_append_index(spark, path, batch_df, id_col, vec_col,
                         batch_id=epoch_id)
    return _apply


def ivf_search_index(spark, path: str, queries: DataFrame, k: int = 5,
                     n_probe: int = 4, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     quantized: bool = False,
                     refine: int | None = None) -> DataFrame:
    """Search a persisted IVF index.  The probe cell set (at most n_cells
    values) is collected to the driver and pushed into the corpus scan as a
    literal IN-filter on the partition column — `.explain` shows it as a
    PartitionFilter, i.e. unprobed cell directories are never opened.
    Same output contract as ivf_topk.

    `quantized=True` is the IVF-SQ8 scan (index written with
    quantize_bits): the probed cells are scanned reading ONLY the int8
    codes — parquet column pruning keeps the float column on disk, the
    4× I/O cut on top of partition pruning — and ranked by quantized
    cosine (per-vector scales cancel; exact-integer dots).  `refine=r`
    adds the standard two-stage rerank: the top r·k quantized candidates
    per query are re-scored with EXACT float cosine (one candidate-id
    semi-joined scan of the probed cells' float column) and the final
    top-k comes from exact scores — r ≈ 3 recovers exact-search results
    in practice; candidates ⊇ cell membership makes it exactly the flat
    search."""
    cents = spark.read.parquet(f"{path}/centroids")
    q_assigned = _probe_cells(queries, cents, n_probe, id_col, vec_col)
    probe_cells = [r["cell"] for r in q_assigned.select("cell").distinct().collect()]
    raw = spark.read.parquet(f"{path}/corpus").filter(
        F.col("cell").isin(probe_cells))
    if not quantized:
        corpus = raw.select(F.col(id_col).alias("neighbor_id"),
                            F.col(vec_col).alias("c_vec"), "cell")
        scored = (
            corpus.join(F.broadcast(q_assigned), "cell")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id",
                    F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cos_sim"))
            .distinct()
        )
        return _topk(scored, k)
    if "codes" not in raw.columns:
        raise ValueError("index was not written with quantize_bits — "
                         "rebuild via ivf_write_index(quantize_bits=8)")
    # codes-only scan: the float vec_col never leaves disk here
    corpus_q = raw.select(F.col(id_col).alias("neighbor_id"),
                          F.col("codes").alias("c_codes"), "cell")
    qv = q_assigned.select("query_id", "q_vec").distinct()
    qq = quantize_embeddings(qv, "q_vec", "query_id").select(
        "query_id", F.col("codes").alias("q_codes"))
    q_cells = q_assigned.select("query_id", "cell") \
        .join(F.broadcast(qq), "query_id")
    n_q = _int_dot(F.col("q_codes"), F.col("q_codes"))
    n_c = _int_dot(F.col("c_codes"), F.col("c_codes"))
    qscore = F.when((n_q == 0) | (n_c == 0), F.lit(0.0)).otherwise(
        _int_dot(F.col("q_codes"), F.col("c_codes"))
        / (F.sqrt(n_q) * F.sqrt(n_c)))
    scored = (
        corpus_q.join(F.broadcast(q_cells), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                F.round(qscore, 6).alias("cos_sim"))
        .distinct()
    )
    if refine is None:
        return _topk(scored, k)
    cands = _topk(scored, refine * k).select("query_id", "neighbor_id")
    floats = raw.select(F.col(id_col).alias("neighbor_id"),
                        F.col(vec_col).alias("c_vec")).distinct()
    return _rerank(cands, qv, floats, k)


def ivf_topk(queries: DataFrame, corpus: DataFrame, k: int = 5, n_cells: int = 16,
             n_probe: int = 4, id_col: str = "vec_id", vec_col: str = "embedding",
             refine_iters: int = 1, broadcast_max_queries: int = 1_000_000,
             corpus_filter: Column | None = None) -> DataFrame:
    """IVF-flat ANN: partition the corpus into cells around deterministic,
    Lloyd-refined centroids (see ivf_centroids), probe the n_probe nearest
    cells per query, exact-rerank inside.  The scale path: the corpus is
    stored partitioned by cell, a query touches n_probe/n_cells of the data.
    Recall vs the exact top-k is asserted in tests/test_similarity.py.

    `corpus_filter` is METADATA-FILTERED search (the standard vector-DB
    feature): centroids still train on the FULL corpus — the index is
    filter-agnostic, built once and shared by every predicate — and the
    predicate prunes candidates BEFORE the rerank (in a cell-partitioned
    store it pushes down into the probed cells' scans).  Probing semantics
    are unchanged, so a very selective filter can starve a query below k
    survivors; the standard flip for that regime is exact search over the
    filtered corpus (cosine_topk(queries, corpus.filter(pred))), equality
    with n_probe == n_cells pinned in tests.

    The probe join broadcasts the assigned query set only while it is small
    (n_queries * n_probe <= broadcast_max_queries); a large query batch falls
    back to a shuffle join on `cell` — the corpus side is already partitioned
    by cell at scale, so that join is co-located."""
    cents = ivf_centroids(corpus, n_cells, refine_iters, id_col, vec_col) \
        .select("cell", "c_vec")
    cents = cents.persist()
    try:
        # corpus side (the big one): argmax as a max_by AGGREGATE — map-side
        # partial agg, no sort shuffle of corpus×n_cells rows
        cand = corpus.filter(corpus_filter) if corpus_filter is not None \
            else corpus
        c_assigned = assign_best_cell(cand.select(id_col, vec_col), cents,
                                      id_col, vec_col) \
            .select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"), "cell")
        q_assigned = _probe_cells(queries, cents, n_probe, id_col, vec_col)
        if queries.select(id_col).limit(broadcast_max_queries // max(n_probe, 1) + 1) \
                .count() * n_probe <= broadcast_max_queries:
            q_assigned = F.broadcast(q_assigned)

        scored = (
            c_assigned.join(q_assigned, "cell")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id",
                    F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cos_sim"))
            .distinct()
        )
        # materialize before releasing the cached centroids: the returned
        # DataFrame must not reference the unpersisted blocks
        return _topk(scored, k).localCheckpoint(eager=True)
    finally:
        cents.unpersist()


# -- scalar quantization ----------------------------------------------------

def ann_recall_report(queries: DataFrame, corpus: DataFrame, k: int = 5,
                      n_cells: int = 16, n_probe: int = 4,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Index-quality evaluation: recall@k of the IVF probe against the
    exact top-k ground truth — the monitoring operator an ANN deployment
    runs on a query sample to decide when n_probe (or a recluster,
    ivf_maybe_compact) is due.  Both sides share the engine's
    deterministic tie-breaks, so ground truth is unambiguous and the
    report is exact-integer: per query (hits, k), plus a corpus totals
    row (query_id = -1, total hits, total possible).

    Scale: the exact side is the brute-force cosine_topk over the SAMPLE
    of queries only (ground truth is always computed on a sample — that's
    the point of the report); the probe side is the production ivf_topk
    plan.  The intersection is one k·|sample|-sized equi-join."""
    exact = cosine_topk(queries, corpus, k, id_col, vec_col) \
        .select("query_id", "neighbor_id")
    approx = ivf_topk(queries, corpus, k, n_cells, n_probe,
                      id_col, vec_col).select("query_id", "neighbor_id")
    inter = (exact.join(approx, ["query_id", "neighbor_id"])
             .groupBy("query_id")
             .agg(F.count(F.lit(1)).cast("long").alias("hits")))
    per = (exact.select("query_id").distinct()
           .join(inter, "query_id", "left")
           .select("query_id",
                   F.coalesce(F.col("hits"), F.lit(0)).cast("long")
                   .alias("hits"),
                   F.lit(k).cast("long").alias("k")))
    tot = per.agg(F.sum("hits").cast("long").alias("hits"),
                  F.sum("k").cast("long").alias("k")) \
        .select(F.lit(-1).cast("long").alias("query_id"), "hits", "k")
    return per.unionByName(tot)


def ann_autotune(spark, path: str, queries: DataFrame,
                 target_recall: float = 0.9, k: int = 5,
                 start_n_probe: int = 1, skew_ratio: float = 4.0,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 quantized: bool | None = None,
                 refine: int | None = None) -> dict:
    """Close the ANN quality loop (VERDICT r9 #6): measure recall@k of the
    persisted IVF index at `path` against exact ground truth over the
    query SAMPLE, and raise n_probe (doubling) until recall meets
    `target_recall` — the knob-turning a deployment otherwise does by
    hand from `ann_recall_report` output.  Ground truth is the brute-force
    cosine_topk over the INDEX's own corpus, so drift introduced by
    appends under frozen centroids (ivf_append_index's documented
    degradation mode) is exactly what gets measured.

    Tunes the DEPLOYMENT scan path (ADVICE r10): `quantized=None` reads
    index_meta.json and probes with the SQ8 codes path whenever the index
    was written with quantize_bits — so the returned n_probe delivers the
    target on the scan production actually runs, not the flat fallback.
    Pass quantized=False to force flat tuning, and `refine=r` to tune the
    two-stage rerank.  Terminates always: the loop stops once
    n_probe == n_cells.  On the FLAT path that full probe IS the exact
    search (recall 1.0 by construction); on the quantized path without
    refine the full probe can still miss (quantization error), which is
    exactly why `recluster`/low-recall is reported rather than looping.
    Recall arithmetic is exact-integer (hits / k·|sample| as ints in the
    report).

    Returns {'n_probe', 'recall', 'hits', 'total', 'n_cells',
    'recluster', 'history'}: `n_probe` is the smallest probed setting
    meeting target (or n_cells), and `recluster` recommends an
    ivf_compact rebuild when EITHER the cell-size skew trips
    ivf_maybe_compact's trigger (max/median >= skew_ratio) OR target
    recall needed n_probe > n_cells/2 — at that point partition pruning
    reads most of the index anyway, so the centroids no longer reflect
    the data and retraining is the fix, not more probes.  The sample
    pays |sample|·|corpus| exact-scoring once (ground truth is always
    sample-sized — that is the report's contract, same as
    ann_recall_report)."""
    if quantized is None:
        quantized = bool(_index_meta(path).get("quantize_bits"))
    cents_n = spark.read.parquet(f"{path}/centroids").count()
    corpus = (spark.read.parquet(f"{path}/corpus")
              .select(id_col, vec_col).localCheckpoint(eager=True))
    exact = cosine_topk(queries, corpus, k, id_col, vec_col) \
        .select("query_id", "neighbor_id").localCheckpoint(eager=True)
    try:
        total = exact.count()
        history: list[dict] = []
        n_probe = max(1, min(start_n_probe, cents_n))
        while True:
            approx = ivf_search_index(spark, path, queries, k, n_probe,
                                      id_col, vec_col,
                                      quantized=quantized, refine=refine) \
                .select("query_id", "neighbor_id")
            hits = exact.join(approx, ["query_id", "neighbor_id"]).count()
            recall = (hits / total) if total else 1.0
            history.append({"n_probe": n_probe, "hits": hits,
                            "recall": recall})
            if recall >= target_recall or n_probe >= cents_n:
                break
            n_probe = min(cents_n, n_probe * 2)
    finally:
        # cache hygiene (ADVICE r10): the checkpoints are corpus-sized —
        # drop them before returning so repeated autotune calls in a
        # long-lived session don't accumulate executor storage
        corpus.unpersist()
        exact.unpersist()
    stats = ivf_cell_stats(path)
    skewed = (stats.get("median", 0) or 0) > 0 and \
        stats["max"] / stats["median"] >= skew_ratio
    last = history[-1]
    recluster = bool(skewed
                     or last["recall"] < target_recall
                     or last["n_probe"] > cents_n / 2)
    return {"n_probe": last["n_probe"], "recall": last["recall"],
            "hits": last["hits"], "total": total, "n_cells": cents_n,
            "quantized": quantized, "recluster": recluster,
            "history": history}


def ann_autotune_history(queries: DataFrame, corpus: DataFrame,
                         k: int = 5, n_cells: int = 16,
                         target_num: int = 9, target_den: int = 10,
                         start_n_probe: int = 1,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Driver-checkable artifact of the ann_autotune walk (VERDICT r10
    #8): runs the same doubling schedule INLINE — ivf_topk against the
    corpus per probed step, exact cosine_topk ground truth computed once
    — and returns one row per PROBED step, (n_probe, hits, total) as
    exact integers, stopping at the first step whose recall meets the
    target or at n_probe == n_cells.  The recall test is exact-integer
    (hits·target_den ≥ target_num·total, target = target_num/target_den),
    so an ANSI-SQL oracle replays the walk bit-for-bit: compute hits for
    every power-of-two n_probe, keep the prefix no earlier step of which
    already met the target.  `ann_autotune` remains the deployment entry
    (persisted index, recluster recommendation); this is its auditable
    twin on the inline path."""
    spark = queries.sparkSession
    exact = cosine_topk(queries, corpus, k, id_col, vec_col) \
        .select("query_id", "neighbor_id").localCheckpoint(eager=True)
    try:
        total = exact.count()
        history: list[tuple[int, int, int]] = []
        n_probe = max(1, min(start_n_probe, n_cells))
        while True:
            approx = ivf_topk(queries, corpus, k, n_cells, n_probe,
                              id_col, vec_col) \
                .select("query_id", "neighbor_id")
            hits = exact.join(approx, ["query_id", "neighbor_id"]).count()
            history.append((n_probe, hits, total))
            if hits * target_den >= target_num * total or n_probe >= n_cells:
                break
            n_probe = min(n_cells, n_probe * 2)
    finally:
        exact.unpersist()
    return spark.createDataFrame(history,
                                 "n_probe long, hits long, total long")


def quantize_embeddings(df: DataFrame, vec_col: str = "embedding",
                        id_col: str = "vec_id", bits: int = 8) -> DataFrame:
    """Symmetric per-vector scalar quantization: codes[i] =
    round(v[i] · qmax / max|v|) with qmax = 2^(bits−1) − 1 (int8 ⇒ ±127),
    plus the per-vector `scale` = max|v| / qmax that dequantizes them.

    This is the embedding-store compression a 100 TB corpus actually
    ships — float32 → int8 is 4× less scan I/O for ~1% cosine-recall loss,
    and the ANN rerank reads codes, not floats.  Pure column arithmetic
    (whole-stage codegen, zero shuffle); rounding is the explicit
    floor(x + 0.5) so every engine lands on identical codes, and an
    all-zero vector quantizes to zero codes with scale 0.

    Returns (id, scale, codes array<int>)."""
    qmax = float(2 ** (bits - 1) - 1)
    v = _as_double(F.col(vec_col))
    absmax = F.array_max(F.transform(v, F.abs))
    codes = F.when(absmax == 0, F.transform(v, lambda x: F.lit(0))) \
        .otherwise(F.transform(
            v, lambda x: F.floor(x * qmax / absmax + F.lit(0.5)).cast("int")))
    return df.select(
        F.col(id_col),
        (absmax / qmax).alias("scale"),
        codes.alias("codes"),
    )


def dequantize_embeddings(df: DataFrame, codes_col: str = "codes",
                          scale_col: str = "scale") -> Column | DataFrame:
    """Reconstruct approximate float vectors: v̂[i] = codes[i] · scale."""
    return df.withColumn(
        "vec",
        F.transform(F.col(codes_col),
                    lambda c: c.cast("double") * F.col(scale_col)),
    )


def _int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product over code arrays (order-independent)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("long") * y.cast("long"))),
        F.lit(0).cast("long"), lambda acc, v: acc + v)


def quantized_cosine_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
                          id_col: str = "vec_id", vec_col: str = "embedding",
                          bits: int = 8) -> DataFrame:
    """Top-k by QUANTIZED cosine: both sides int8-quantized, the score is
    dot(codes_q, codes_c) / (‖codes_q‖·‖codes_c‖) — per-vector scales
    cancel out of cosine, so no float vector is ever read in the scoring
    loop.  This is the scan path the quantized embedding store exists for:
    4× less I/O than float32 and every intermediate an EXACT integer (the
    one division at the end is deterministic across engines — which also
    makes the approximate score itself oracle-checkable, unlike a
    float-accumulation pipeline).  Same broadcast + window shape as
    cosine_topk; returns (query_id, neighbor_id, qcos_sim, rank)."""
    # r11 (guide §1.2 per-task work): self-norms are per-VECTOR constants —
    # computing them inside the pair-scoring expression re-ran two D-wide
    # integer dots on EVERY (query, corpus) pair, tripling the per-pair
    # aggregate work.  Hoist each side's norm before the join (queries ×1,
    # corpus ×1); the per-pair expression is then the one cross dot.
    # Bit-identical: the same exact integers feed the same division.
    qq = quantize_embeddings(queries, vec_col, id_col, bits).select(
        F.col(id_col).alias("query_id"), F.col("codes").alias("q_codes"),
        _int_dot(F.col("codes"), F.col("codes")).alias("n_q"))
    qc = quantize_embeddings(corpus, vec_col, id_col, bits).select(
        F.col(id_col).alias("neighbor_id"), F.col("codes").alias("c_codes"),
        _int_dot(F.col("codes"), F.col("codes")).alias("n_c"))
    n_q = F.col("n_q")
    n_c = F.col("n_c")
    score = F.when((n_q == 0) | (n_c == 0), F.lit(0.0)).otherwise(
        _int_dot(F.col("q_codes"), F.col("c_codes"))
        / (F.sqrt(n_q) * F.sqrt(n_c)))
    scored = (
        qc.join(F.broadcast(qq), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(score, 6).alias("qcos_sim"))
    )
    return _topk(scored, k, "qcos_sim")


# -- Product Quantization (PQ) ----------------------------------------------
#
# The FAISS-family compression ladder's next rung after IVF-SQ8: split each
# d-dim vector into m subvectors, learn a small per-subspace codebook, and
# store each vector as m small codes.  Search runs by Asymmetric Distance
# Computation (ADC): per query, a lookup table of query-subvector ×
# codeword dot products (m × n_codes entries — broadcastable kilobytes),
# then each corpus vector scores as a SUM OF m TABLE LOOKUPS — no float
# vector is ever read on the scan side.  At 100 TB this is the layout that
# turns an embedding scan into an integer-code scan (64-dim float32 = 256
# bytes → m=4 codes = 4 bytes, 64× less I/O than floats, 16× less than
# SQ8).
#
# Everything is deterministic and engine-portable by the repo's rules:
# codebook seeds are the lowest-id vectors (no RNG), Lloyd refinement uses
# the exact-integer per-dimension mean from ivf_centroids, codeword argmax
# ties break (cosine DESC, code ASC), and the ADC partials are 1e-6
# quantized BIGINTs summed exactly — so the whole train → encode → LUT →
# scan pipeline hash-matches a DuckDB replay (reference has no vector ops;
# north-star surface).


def _pq_slices(df: DataFrame, m: int, dim: int, id_col: str,
               vec_col: str, out_id: str) -> DataFrame:
    """(id, sub, v): the m d/m-wide subvectors of every vector."""
    subdim = dim // m
    arr = F.array(*[
        F.slice(_as_double(F.col(vec_col)), s * subdim + 1, subdim)
        for s in range(m)])
    return df.select(F.col(id_col).alias(out_id),
                     F.posexplode(arr).alias("sub", "v"))


def _pq_assign(slices: DataFrame, books: DataFrame, out_id: str,
               with_vec: bool = True) -> DataFrame:
    """Nearest codeword per (id, sub): the assign_best_cell aggregate-argmax
    (max_by over a (cosine, -code) struct — no per-vector sort window),
    keyed by subspace.  `with_vec=False` (r12, guide §2.3) drops the
    subvector from the argmax payload for callers that only need the code
    — pq_encode otherwise carries d/m doubles per row through the
    corpus-scale aggregation buffers for nothing (the winning code is
    identical either way: same ordering key)."""
    scored = (slices.join(F.broadcast(books), "sub")
              .select(out_id, "sub", "v", "code",
                      cosine(F.col("v"), F.col("c_vec")).alias("sim")))
    key = F.struct(F.col("sim").alias("s"), (-F.col("code")).alias("neg"))
    if not with_vec:
        return (scored.groupBy(out_id, "sub")
                .agg(F.max_by(F.col("code"), key).alias("code")))
    return (scored.groupBy(out_id, "sub")
            .agg(F.max_by(F.struct(F.col("code"), F.col("v")), key)
                 .alias("best"))
            .select(out_id, "sub", F.col("best.code").alias("code"),
                    F.col("best.v").alias("v")))


def _vec_dim(df: DataFrame, vec_col: str) -> int:
    # 1-row metadata probe (bounded-collect contract)
    row = df.select(vec_col).head()
    if row is None or row[0] is None:
        raise ValueError(
            f"cannot infer vector dimension: no non-null {vec_col} row")
    return len(row[0])


def pq_train(corpus: DataFrame, m: int = 4, n_codes: int = 16,
             refine_iters: int = 1, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """Learn per-subspace codebooks (sub, code, c_vec).  Codes are labeled
    by their seed vector's id (dense relabeling would add a join for no
    semantic gain); numeric ids required (the argmax tie-break negates).
    Seeds = the n_codes lowest-id vectors' subvectors; each Lloyd step
    reassigns and recomputes codewords with the exact-integer
    per-dimension mean (order-independent, engine-identical — see
    ivf_centroids)."""
    dim = _vec_dim(corpus, vec_col)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    slices = _pq_slices(corpus, m, dim, id_col, vec_col, "id")
    seed_ids = corpus.select(F.col(id_col).alias("id")).orderBy("id").limit(n_codes)
    books = (slices.join(F.broadcast(seed_ids), "id")
             .select("sub", F.col("id").alias("code"), F.col("v").alias("c_vec")))
    for _ in range(refine_iters):
        books = _exact_mean(_pq_assign(slices, books, "id"), ["sub", "code"],
                            F.col("v"))
    return books


def pq_encode(corpus: DataFrame, books: DataFrame, m: int = 4,
              id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(id, sub, code): each vector's m codebook assignments — the long
    (join-friendly) form of the PQ code; 100 TB storage would pivot to an
    array<tinyint> column, the scan math is identical."""
    dim = _vec_dim(corpus, vec_col)
    slices = _pq_slices(corpus, m, dim, id_col, vec_col, "id")
    return _pq_assign(slices, books, "id", with_vec=False).select(
        F.col("id").alias(id_col), "sub", "code")


def _wide_codes(corpus: DataFrame, books: DataFrame, m: int, id_col: str,
                vec_col: str) -> DataFrame:
    """(id_col, pq_codes): each vector's pq_encode codes as one
    array<int> in sub order — the persisted index column."""
    return (pq_encode(corpus, books, m, id_col, vec_col).groupBy(id_col)
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "code"))),
                lambda s: s["code"]).alias("pq_codes")))


def _adc_topk(codes: DataFrame, queries: DataFrame, books: DataFrame,
              m: int, k: int, shortlist: int | None, floats: DataFrame,
              id_col: str, vec_col: str) -> DataFrame:
    """The ADC search shared by the PQ operators (see pq_topk).  `codes`
    is (neighbor_id, sub, code); IVF-PQ passes codes that already carry
    the probing query_id from the cell join, and the LUT then joins on
    (query_id, sub, code).  `floats` is (neighbor_id, c_vec), read only
    for the shortlist's exact rerank.  Returns (query_id, neighbor_id,
    adc_score, rank), or cos_sim instead of adc_score with a shortlist."""
    dim = _vec_dim(queries, vec_col)
    qslices = _pq_slices(queries, m, dim, id_col, vec_col, "query_id")
    lut = (qslices.join(F.broadcast(books), "sub")
           .select("query_id", "sub", "code",
                   F.round(dot(F.col("v"), F.col("c_vec")) * 1000000)
                   .cast("long").alias("qdot")))
    cnorms = books.select(
        "sub", "code",
        F.round(dot(F.col("c_vec"), F.col("c_vec")) * 1000000)
        .cast("long").alias("cn2"))
    # r12 audit note (guide §1.1 discipline): hoisting Σcn2 to a
    # per-NEIGHBOR norm table (it is a per-neighbor constant — each
    # (neighbor, sub) has exactly one code) was built and MEASURED WORSE
    # (warm 4.0-4.7s → 5.0-5.4s over three alternated pairs): the
    # replacement broadcast probe lands on every aggregated (query,
    # neighbor) row and the codes table needs a checkpoint for its
    # second consumer, costing more than the map-side-combined extra sum
    # column it removed.  Reverted; the in-aggregation cn2 sum stands.
    keys = ["query_id", "sub", "code"] if "query_id" in codes.columns \
        else ["sub", "code"]
    scored = (codes.join(F.broadcast(lut), keys)
              .join(F.broadcast(cnorms), ["sub", "code"])
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .groupBy("query_id", "neighbor_id")
              .agg(((F.sum("qdot").cast("double") / F.lit(1000000.0))
                    / F.sqrt(F.sum("cn2").cast("double") / F.lit(1000000.0)))
                   .alias("adc_score")))
    if shortlist is None:
        return _topk(scored, k, "adc_score")
    cand = _topk(scored, shortlist, "adc_score").select("query_id", "neighbor_id")
    qv = queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("q_vec"))
    return _rerank(cand, qv, floats, k)


def pq_topk(queries: DataFrame, corpus: DataFrame, k: int = 5, m: int = 4,
            n_codes: int = 16, refine_iters: int = 1,
            shortlist: int | None = None,
            id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k by PQ + ADC: train codebooks on the corpus, encode
    the corpus, build each query's (sub, code) → dot-product lookup table,
    and score every corpus vector as the EXACT integer sum of its m LUT
    entries (partials quantized to 1e-6 BIGINTs so the m-way addition is
    order-independent).  The ADC score is norm-corrected —
    (Σqdot/1e6) / sqrt(Σ‖codeword‖²/1e6), i.e. |q|·cos(q, x̂) against the
    reconstructed vector — so ranking matches the cosine the exact
    operators use, not the raw dot product (measured +0.02..+0.16
    recall@5 on the fixtures).

    shortlist=None returns (query_id, neighbor_id, adc_score, rank) —
    pure compressed-domain search.  shortlist=K first cuts the top-K by
    ADC, then reranks those K candidates by EXACT cosine over the float
    vectors — the standard two-stage layout (compressed scan over
    everything, float I/O only for K rows per query); returns
    (query_id, neighbor_id, cos_sim, rank).  Measured recall@5 on the
    sf0.001 RANDOM fixture vectors (PQ's worst case — no cluster
    structure for the codebooks to exploit): 0.14 pure ADC (m=4) → 0.86
    with m=8, shortlist=100; real embedding manifolds cluster and fare
    far better.

    Scale shape: the LUT (n_queries × m × n_codes rows) and per-codeword
    norms broadcast; the codes stream joins map-side and the
    per-(query, neighbor) sum is a map-side-combinable aggregate.  The
    final rank window mirrors cosine_topk's exact form (the contract
    oracle); the production cut is a per-partition top-k as in
    cosine_topk_vectorized."""
    if shortlist is not None and shortlist < k:
        raise ValueError(f"shortlist ({shortlist}) must be >= k ({k})")
    # r12 (guide §2.4, the bpe_encode lazy-checkpoint pattern): books is
    # model-sized (m × n_codes rows) but its lineage is the whole Lloyd
    # training pass over the corpus — without the checkpoint each of its
    # three consumers (codes, lut, cnorms) replayed training (22 parquet
    # scans in the committed before-plan; 3 identical training subtrees)
    books = pq_train(corpus, m, n_codes, refine_iters, id_col, vec_col) \
        .localCheckpoint(eager=False)
    codes = pq_encode(corpus, books, m, id_col, vec_col) \
        .withColumnRenamed(id_col, "neighbor_id")
    floats = corpus.select(F.col(id_col).alias("neighbor_id"),
                           F.col(vec_col).alias("c_vec"))
    return _adc_topk(codes, queries, books, m, k, shortlist, floats,
                     id_col, vec_col)


# -- SemDeDup (semantic deduplication) --------------------------------------

def _assigned_with_cells(corpus: DataFrame | None, n_cells: int,
                         refine_iters: int, id_col: str, vec_col: str,
                         spark=None, index_path: str | None = None):
    """(assigned, cents) for the SemDeDup family: the cell-assigned corpus
    and the centroid table — trained inline by default, or READ from an
    `ivf_write_index` artifact when `index_path` is given (VERDICT r9 #5:
    mining over a persisted index must not re-train centroids per call;
    the index already stores the corpus hive-partitioned by cell, so the
    assignment join is skipped too).  With the same n_cells/refine_iters
    the two paths are bit-identical — ivf_write_index trains with the
    same deterministic ivf_centroids/assign_best_cell machinery."""
    if index_path is not None:
        ss = spark if spark is not None else corpus.sparkSession
        cents = ss.read.parquet(f"{index_path}/centroids")
        assigned = (ss.read.parquet(f"{index_path}/corpus")
                    .select(id_col, vec_col, "cell"))
        return assigned, cents
    cents = ivf_centroids(corpus, n_cells, refine_iters, id_col, vec_col)
    assigned = assign_best_cell(
        corpus.select(id_col, vec_col), cents, id_col, vec_col)
    return assigned, cents


def semantic_dedup_pairs(corpus: DataFrame, threshold: float = 0.4,
                         n_cells: int = 16, refine_iters: int = 1,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         spark=None,
                         index_path: str | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate pairs scoped
    by k-means cluster — assign every embedding to its nearest centroid
    (the deterministic ivf_centroids/assign_best_cell machinery), then
    compare pairs ONLY within a cell.  The cluster scoping is what makes
    semantic dedup feasible at corpus scale: candidate volume drops from
    n²/2 to Σ_c |c|²/2, and each cell's pair join is an equi-join on the
    cell key (skewed giant cells are the recluster policy's job —
    ivf_maybe_compact doubles cells on exactly that trigger).

    Returns (id_a, id_b, cell, cos_sim) with id_a < id_b and
    round(cos, 6) >= threshold.  `index_path` (opt-in) sources cells from
    a persisted ivf_write_index artifact instead of training inline."""
    assigned, _ = _assigned_with_cells(corpus, n_cells, refine_iters,
                                       id_col, vec_col, spark, index_path)
    a = assigned.select(F.col(id_col).alias("id_a"), "cell",
                        F.col(vec_col).alias("va"))
    b = assigned.select(F.col(id_col).alias("id_b"), "cell",
                        F.col(vec_col).alias("vb"))
    return (a.join(b, "cell")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "cell",
                    F.round(cosine(F.col("va"), F.col("vb")), 6)
                    .alias("cos_sim"))
            .filter(F.col("cos_sim") >= threshold))


def mine_contrastive_pairs(corpus: DataFrame | None,
                           pos_threshold: float = 0.4,
                           neg_band: tuple = (0.2, 0.35), n_neg: int = 2,
                           n_cells: int = 16, refine_iters: int = 1,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           spark=None,
                           index_path: str | None = None) -> DataFrame:
    """Contrastive training-pair mining for embedding-model fine-tuning:
    from each anchor's k-means cell (the SemDeDup / IVF scoping — never
    all-pairs), POSITIVES are same-cell items with round(cos, 6) >=
    pos_threshold (paraphrase-grade proximity) and HARD NEGATIVES are the
    `n_neg` most-similar items inside the [lo, hi) band strictly below it
    — hard because they sit as close to the anchor as possible while
    still being negatives, the pairs that carry the gradient signal in a
    triplet/InfoNCE loss (Schroff et al. 2015 semi-hard mining).

    Deterministic throughout: rounded cosines, (cos DESC, id ASC)
    ranking.  Candidate volume is Σ_c |c|² like semantic_dedup_pairs;
    giant skewed cells are ivf_maybe_compact's recluster trigger.

    Returns (anchor_id, other_id, cos_sim, kind, pair_rank) where kind ∈
    {'pos', 'neg'} and pair_rank orders each anchor's pairs per kind.

    `index_path` (opt-in) sources cell assignments from a persisted
    ivf_write_index artifact — the deployment path: mining runs
    repeatedly (new negatives per epoch, refreshed thresholds) against
    ONE trained index, so the per-call centroid retrain is pure waste
    (VERDICT r9 #5).  With matching n_cells/refine_iters the result is
    bit-identical to the inline path (pytest-pinned)."""
    from pyspark.sql.window import Window

    lo, hi = neg_band
    assigned, _ = _assigned_with_cells(corpus, n_cells, refine_iters,
                                       id_col, vec_col, spark, index_path)
    a = assigned.select(F.col(id_col).alias("anchor_id"), "cell",
                        F.col(vec_col).alias("va"))
    b = assigned.select(F.col(id_col).alias("other_id"), "cell",
                        F.col(vec_col).alias("vb"))
    pairs = (a.join(b, "cell")
             .filter(F.col("anchor_id") != F.col("other_id"))
             .select("anchor_id", "other_id",
                     F.round(cosine(F.col("va"), F.col("vb")), 6)
                     .alias("cos_sim")))
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cos_sim").desc(), F.col("other_id").asc())
    pos = (pairs.filter(F.col("cos_sim") >= pos_threshold)
           .withColumn("pair_rank", F.row_number().over(w).cast("long"))
           .withColumn("kind", F.lit("pos")))
    neg = (pairs.filter((F.col("cos_sim") >= lo) & (F.col("cos_sim") < hi))
           .withColumn("pair_rank", F.row_number().over(w).cast("long"))
           .filter(F.col("pair_rank") <= n_neg)
           .withColumn("kind", F.lit("neg")))
    cols = ["anchor_id", "other_id", "cos_sim", "kind", "pair_rank"]
    return pos.select(*cols).unionByName(neg.select(*cols))


def semantic_dedup(corpus: DataFrame, threshold: float = 0.4,
                   n_cells: int = 16, refine_iters: int = 1,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   spark=None,
                   index_path: str | None = None) -> DataFrame:
    """SemDeDup keep-set: drop an item when a same-cell neighbor above the
    similarity threshold has HIGHER keep-priority.  Priority follows the
    paper's rule — keep the item LEAST similar to its cluster centroid
    (maximizes diversity of the surviving corpus) — with the id as the
    deterministic tie-break.  The drop rule is a pure pairwise predicate
    (x drops iff ∃y: sim ≥ t ∧ priority(y) > priority(x)), so survivors
    are the local priority-maxima of the similarity graph: order-free and
    engine-replayable, where the paper's greedy scan is sequential.  Like
    the greedy, a chain a~b~c with b dropped can keep both a and c — the
    threshold bounds their true dissimilarity.

    Returns (id, cell, centroid_sim) for survivors.  `index_path`
    (opt-in) sources cells from a persisted ivf_write_index artifact."""
    assigned, cents = _assigned_with_cells(corpus, n_cells, refine_iters,
                                           id_col, vec_col, spark,
                                           index_path)
    scored = (assigned.join(F.broadcast(cents), "cell")
              .select(F.col(id_col).alias("id"), "cell",
                      F.col(vec_col).alias("v"),
                      F.round(cosine(F.col(vec_col), F.col("c_vec")), 6)
                      .alias("centroid_sim")))
    x = scored.select(F.col("id").alias("x_id"), "cell",
                      F.col("v").alias("xv"),
                      F.col("centroid_sim").alias("x_cs"))
    y = scored.select(F.col("id").alias("y_id"), "cell",
                      F.col("v").alias("yv"),
                      F.col("centroid_sim").alias("y_cs"))
    dropped = (x.join(y, "cell")
               .filter(F.col("x_id") != F.col("y_id"))
               .filter(F.round(cosine(F.col("xv"), F.col("yv")), 6)
                       >= threshold)
               .filter((F.col("y_cs") < F.col("x_cs"))
                       | ((F.col("y_cs") == F.col("x_cs"))
                          & (F.col("y_id") < F.col("x_id"))))
               .select(F.col("x_id").alias("id"))
               .distinct())
    return (scored.join(dropped, "id", "left_anti")
            .select("id", "cell", "centroid_sim"))


# -- Johnson-Lindenstrauss sign random projection ---------------------------

def projection_signs(in_dim: int, out_dim: int, salt: str = "rp") -> list:
    """The deterministic ±1 projection matrix, row-major by output dim:
    sign(j, i) = +1 iff the first hex nibble of md5('{salt}:{j}:{i}') is
    < 8.  Generated driver-side with hashlib and embedded as PLAN
    LITERALS (and verbatim in the SQL oracle) — neither engine computes a
    hash per element, and both see the identical matrix."""
    import hashlib

    return [[1.0 if int(hashlib.md5(f"{salt}:{j}:{i}".encode())
                        .hexdigest()[0], 16) < 8 else -1.0
             for i in range(in_dim)]
            for j in range(out_dim)]


def random_projection(df: DataFrame, out_dim: int = 16,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      salt: str = "rp",
                      round_dp: int | None = 6) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a ±1 sign
    matrix (Achlioptas 2003): y_j = (Σ_i x_i·s_ji) / √out_dim.  Pairwise
    distances/dots are preserved within ~1/√out_dim relative error —
    the standard preprocessing that makes downstream LSH / PQ / brute
    cosine cheaper by in_dim/out_dim in both I/O and math.

    Everything is a pure column expression over plan-literal sign rows
    (no shuffle, no UDF, codegen end to end) and each output coordinate
    is ONE sequential fold — bit-identical across engines, so projected
    vectors are oracle-checkable (round_dp rounds each coordinate for
    the driver hash; None keeps raw doubles).

    Returns (id_col, proj array<double>)."""
    dim = _vec_dim(df, vec_col)
    if out_dim < 1:
        raise ValueError("out_dim must be >= 1")
    signs = projection_signs(dim, out_dim, salt)
    inv = 1.0 / (out_dim ** 0.5)
    v = _as_double(F.col(vec_col))
    coords = []
    for j in range(out_dim):
        row = F.array(*[F.lit(s) for s in signs[j]])
        y = dot(v, row) * F.lit(inv)
        coords.append(F.round(y, round_dp) if round_dp is not None else y)
    return df.select(F.col(id_col), F.array(*coords).alias("proj"))


def projection_sql(in_dim: int, out_dim: int, vec_expr: str,
                   salt: str = "rp", round_dp: int | None = 6) -> str:
    """DuckDB twin of random_projection's proj column: the same literal
    sign rows, list_dot_product folds, √out_dim scale and rounding."""
    signs = projection_signs(in_dim, out_dim, salt)
    inv = 1.0 / (out_dim ** 0.5)
    items = []
    for j in range(out_dim):
        row = "[" + ", ".join(str(s) for s in signs[j]) + "]"
        y = f"(list_dot_product({vec_expr}, {row}) * {inv!r})"
        items.append(f"round({y}, {round_dp})" if round_dp is not None else y)
    return "[" + ", ".join(items) + "]"


def pq_write_index(corpus: DataFrame, path: str, m: int = 4,
                   n_codes: int = 16, refine_iters: int = 1,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> None:
    """Persist a PQ index: codebooks plus the corpus with a WIDE
    `pq_codes` array<int> column (sub-order) NEXT TO the float column.
    Parquet is columnar, so the ADC scan reads only the m-int codes
    (64-dim float32 = 256 B → m=4 ints ≈ 16 B on disk, and the
    conceptual 100 TB layout stores them as m bytes) while the float
    column stays available for the exact rerank — the same
    codes-beside-floats design as the IVF-SQ8 index.  Deterministic
    training makes an index search reproduce inline pq_topk exactly."""
    books = pq_train(corpus, m, n_codes, refine_iters, id_col, vec_col)
    books.write.mode("overwrite").parquet(f"{path}/books")
    books = corpus.sparkSession.read.parquet(f"{path}/books")
    wide = _wide_codes(corpus, books, m, id_col, vec_col)
    (corpus.select(id_col, vec_col).join(wide, id_col)
     .write.mode("overwrite").parquet(f"{path}/corpus"))
    _merge_index_meta(path, {"pq_m": m, "pq_n_codes": n_codes})


def pq_search_index(spark, path: str, queries: DataFrame, k: int = 5,
                    shortlist: int | None = None,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Search a persisted PQ index: the ADC pass scans ONLY the pq_codes
    column (the float column never leaves disk — plan-pinned like the
    IVF-SQ8 codes-only scan); shortlist=K adds the exact-cosine rerank
    reading floats for K candidate rows per query.  Identical output to
    inline pq_topk with the same parameters (training is deterministic;
    equality-tested)."""
    if shortlist is not None and shortlist < k:
        raise ValueError(f"shortlist ({shortlist}) must be >= k ({k})")
    m = int(_index_meta(path).get("pq_m", 4))
    books = spark.read.parquet(f"{path}/books")
    corpus = spark.read.parquet(f"{path}/corpus")
    codes = corpus.select(F.col(id_col).alias("neighbor_id"),
                          F.posexplode("pq_codes").alias("sub", "code"))
    floats = corpus.select(F.col(id_col).alias("neighbor_id"),
                           F.col(vec_col).alias("c_vec"))
    return _adc_topk(codes, queries, books, m, k, shortlist, floats,
                     id_col, vec_col)


def ivfpq_write_index(corpus: DataFrame, path: str, n_cells: int = 16,
                      m: int = 4, n_codes: int = 16,
                      refine_iters: int = 1, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> None:
    """IVF-PQ index: the corpus hive-partitioned BY CELL (ivf_write_index's
    directory pruning) with the wide PQ code column beside the floats
    (pq_write_index's column pruning).  A probe then reads
    n_probe/n_cells of the data AND only m ints of each row — the two
    prunings multiply, which is the FAISS IVFPQ layout.  Codebooks are
    GLOBAL (trained on the whole corpus), not per-cell residual books:
    residual encoding buys precision at the cost of a cell-dependent
    decode, and the exact float rerank already recovers precision here —
    the trade is documented, not hidden."""
    cents = ivf_centroids(corpus, n_cells, refine_iters, id_col, vec_col)
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    cents = corpus.sparkSession.read.parquet(f"{path}/centroids")
    books = pq_train(corpus, m, n_codes, refine_iters, id_col, vec_col)
    books.write.mode("overwrite").parquet(f"{path}/books")
    books = corpus.sparkSession.read.parquet(f"{path}/books")
    assigned = assign_best_cell(corpus.select(id_col, vec_col), cents,
                                id_col, vec_col)
    wide = _wide_codes(corpus, books, m, id_col, vec_col)
    (assigned.join(wide, id_col)
     .select(id_col, vec_col, "pq_codes", "cell")
     .repartition("cell").write.mode("overwrite")
     .partitionBy("cell").parquet(f"{path}/corpus"))
    _merge_index_meta(path, {"pq_m": m, "pq_n_codes": n_codes,
                             "n_cells": n_cells})


def ivfpq_search_index(spark, path: str, queries: DataFrame, k: int = 5,
                       n_probe: int = 4, shortlist: int | None = None,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Search an IVF-PQ index: assign each query to its n_probe nearest
    cells (broadcast centroids), push the probed cell set into the scan
    as a partition filter, ADC-rank the probed rows reading ONLY the
    pq_codes column, and optionally exact-rerank the top `shortlist` by
    float cosine.  With n_probe = n_cells the candidate set is the whole
    corpus and the result equals pq_search_index exactly (equality-
    tested)."""
    if shortlist is not None and shortlist < k:
        raise ValueError(f"shortlist ({shortlist}) must be >= k ({k})")
    cents = spark.read.parquet(f"{path}/centroids")
    books = spark.read.parquet(f"{path}/books")
    m = int(_index_meta(path).get("pq_m", 4))
    q_cells = _probe_cells(queries, cents, n_probe, id_col, vec_col) \
        .select("query_id", "cell")
    probe_cells = [r["cell"] for r in q_cells.select("cell").distinct().collect()]
    corpus = spark.read.parquet(f"{path}/corpus")
    codes = (corpus.filter(F.col("cell").isin(probe_cells))
             .select(F.col(id_col).alias("neighbor_id"), "cell",
                     F.posexplode("pq_codes").alias("sub", "code"))
             .join(F.broadcast(q_cells), "cell"))
    floats = corpus.select(F.col(id_col).alias("neighbor_id"),
                           F.col(vec_col).alias("c_vec"))
    return _adc_topk(codes, queries, books, m, k, shortlist, floats,
                     id_col, vec_col)


def pq_adc_vectorized(spark, path: str, queries: DataFrame, k: int = 5,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      max_query_rows: int = 100_000) -> DataFrame:
    """Arrow-vectorized ADC over a persisted PQ index — the actual FAISS
    kernel shape: the per-query lookup tables (n_queries × m × n_codes
    int64, kilobytes) ship to every executor, and each corpus Arrow
    batch scores ALL queries with m gather-adds per row — no join, no
    per-row expression tree — then emits only its LOCAL top-k per query
    (the cosine_topk_vectorized pattern, so the shuffle sees ~k rows per
    partition).  The relational pq_search_index is the contract twin: it
    replays in SQL and this kernel reproduces its scores BIT-FOR-BIT
    (the LUT entries are the same 1e-6-quantized integers, summed
    exactly, divided with the same expression) — equality-tested.

    Reads ONLY the pq_codes column of the index.  Queries are collected
    to the driver (dense LUT contract) under cosine_topk_vectorized's
    guard — at most min(max_query_rows, 50M // dim) rows, dim taken from
    the codebooks; no rows, a NULL vector or a larger set falls back to
    pq_search_index."""
    import numpy as np
    import pandas as pd

    books = spark.read.parquet(f"{path}/books").toPandas()
    subs = sorted(books["sub"].unique())
    labels = np.array(sorted(books[books["sub"] == subs[0]]["code"]))
    m = len(subs)
    n_codes = len(labels)
    lab_pos = {c: i for i, c in enumerate(labels)}
    subdim = len(books["c_vec"].iloc[0])
    qp = _query_block(queries, id_col, vec_col, max_query_rows,
                      dim=m * subdim)
    if qp is None:
        return pq_search_index(spark, path, queries, k=k,
                               id_col=id_col, vec_col=vec_col)
    cvecs = np.zeros((m, n_codes, subdim))
    for _, r in books.iterrows():
        cvecs[int(r["sub"]), lab_pos[r["code"]]] = np.array(r["c_vec"])

    q_ids = qp[id_col].to_numpy()
    q_mat = np.stack(qp[vec_col].to_numpy()).astype(np.float64)
    # 1e-6-quantized integer LUTs — identical to the relational plan's
    lut = np.zeros((len(q_ids), m, n_codes), dtype=np.int64)
    for s in range(m):
        qs = q_mat[:, s * subdim:(s + 1) * subdim]
        lut[:, s, :] = np.round(qs @ cvecs[s].T * 1e6).astype(np.int64)
    cn2 = np.array([[round(float(cvecs[s, c] @ cvecs[s, c]) * 1e6)
                     for c in range(n_codes)] for s in range(m)],
                   dtype=np.int64)

    out_schema = "query_id long, neighbor_id long, adc_score double"

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c_ids = pdf[id_col].to_numpy()
            codes = np.stack(pdf["pq_codes"].to_numpy())  # (B, m) labels
            idx = np.searchsorted(labels, codes)          # labels sorted
            d = np.zeros((len(q_ids), len(c_ids)), dtype=np.int64)
            n2 = np.zeros(len(c_ids), dtype=np.int64)
            for s in range(m):
                d += lut[:, s, idx[:, s]]
                n2 += cn2[s, idx[:, s]]
            scores = (d / 1e6) / np.sqrt(n2 / 1e6)        # (Q, B)
            rows = {"query_id": [], "neighbor_id": [], "adc_score": []}
            top = min(k + 1, len(c_ids))
            for j in range(len(q_ids)):
                col = scores[j]
                if len(col) > top:
                    cutoff = col[np.argpartition(-col, top - 1)[top - 1]]
                    cand = np.nonzero(col >= cutoff)[0]
                else:
                    cand = np.arange(len(col))
                order = cand[np.lexsort((c_ids[cand], -col[cand]))][:top]
                for i in order:
                    if c_ids[i] == q_ids[j]:
                        continue
                    rows["query_id"].append(q_ids[j])
                    rows["neighbor_id"].append(c_ids[i])
                    rows["adc_score"].append(float(col[i]))
            yield pd.DataFrame(rows)

    partial = (spark.read.parquet(f"{path}/corpus")
               .select(id_col, "pq_codes").mapInPandas(run, out_schema))
    return _topk(partial, k, "adc_score")
