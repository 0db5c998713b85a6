"""Graph traversal/analytics unit tests on a tiny hand-built graph where the
expected answers are computable by eye."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hugegraph_on_tikv_spark.operators import analytics, traversal
from tests.conftest import jobs_since, jvm_log


@pytest.fixture(scope="module")
def tiny(spark):
    #  1 → 2 → 3 → 4,  1 → 3,  5 isolated-ish (5→1)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3), (5, 1)], "src long, dst long"
    ).withColumn("label", F.lit("e"))
    return edges


def test_k_hop_layers(tiny):
    got = {(r["id"], r["hops"]) for r in traversal.k_hop(tiny, [1], k=3).collect()}
    assert got == {(2, 1), (3, 1), (4, 2)}


def test_k_hop_direction_in(tiny):
    got = {(r["id"], r["hops"]) for r in traversal.k_hop(tiny, [3], k=2, direction="in").collect()}
    assert got == {(2, 1), (1, 1), (5, 2)}


def test_neighbors_both(tiny):
    got = {r["id"] for r in traversal.neighbors(tiny, [1], direction="both").collect()}
    assert got == {2, 3, 5}


def test_degrees(tiny):
    d = {r["id"]: (r["out_degree"], r["in_degree"]) for r in analytics.degrees(tiny).collect()}
    assert d[1] == (2, 1)
    assert d[3] == (1, 2)
    assert d[5] == (1, 0)


def test_connected_components_two_islands(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src long, dst long"
    )
    comp = {r["id"]: r["component"] for r in analytics.connected_components(edges).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10


def test_triangle_count_known(spark):
    # one triangle (1,2,3) plus a dangling edge
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
    )
    n = analytics.triangle_count(edges).collect()[0]["n_triangles"]
    assert n == 1


def test_pagerank_sink_gets_reset_only(spark):
    # 1 → 2; vertex 1 has no in-edges: rank(1) = 0.15 exactly
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    ranks = {r["id"]: r["rank"] for r in analytics.pagerank(edges, iterations=5).collect()}
    assert abs(ranks[1] - 0.15) < 1e-12
    assert ranks[2] > ranks[1]


def test_personalized_pagerank_semantics(spark):
    """PPR: reset mass lands only on seeds — vertices unreachable FROM the
    seed set have exactly zero rank, the seed outranks its downstream, and
    teleport_ids=None reduces to the global form."""
    # 1 → 2 → 3, and an isolated pair 10 → 11
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src long, dst long")
    ppr = {r["id"]: r["rank"] for r in
           analytics.pagerank(edges, iterations=6, teleport_ids=[1]).collect()}
    assert ppr[10] == 0.0 and ppr[11] == 0.0   # no seed proximity, ever
    assert abs(ppr[1] - 0.15) < 1e-12          # seed: reset only (no in-edges)
    assert ppr[2] > ppr[3] > 0                 # decays with distance from seed
    # None teleport = the global algorithm, unchanged
    g1 = {r["id"]: r["rank"] for r in
          analytics.pagerank(edges, iterations=4).collect()}
    g2 = {r["id"]: r["rank"] for r in
          analytics.pagerank(edges, iterations=4, teleport_ids=None).collect()}
    assert g1 == g2


def test_katz_centrality_matches_python(spark, no_broadcast):
    """Katz vs the literal recurrence x' = beta + alpha·A^T x on a small
    digraph, plus the no-normalization property that separates it from
    pagerank (a 2-out-edge source passes its FULL score to both heads)."""
    e = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3)]
    edges = spark.createDataFrame(e, "src long, dst long")
    got = {r["id"]: r["katz"] for r in
           analytics.katz_centrality(edges, iterations=6, alpha=0.1).collect()}
    x = {v: 1.0 for v in {1, 2, 3, 4}}
    for _ in range(6):
        nxt = {v: 1.0 for v in x}
        for s, d in e:
            nxt[d] += 0.1 * x[s]
        x = nxt
    assert got.keys() == x.keys()
    assert all(abs(got[v] - x[v]) < 1e-9 for v in x)
    # vertex 3 collects from three full-strength sources -> strictly top
    assert got[3] == max(got.values())
    # shuffle path == broadcast path (plan-only guard)
    with no_broadcast():
        sh = {r["id"]: r["katz"] for r in
              analytics.katz_centrality(edges, iterations=6,
                                        alpha=0.1).collect()}
    assert all(abs(sh[v] - got[v]) < 1e-12 for v in x)


def test_broadcast_guard_sizes_rows_by_schema_width(spark, no_broadcast):
    """The broadcast guard bounds BYTES, not rows: under a 4 KB budget a
    bare-id vertex frame (100 rows x 16 B) broadcasts, while the same rows
    carrying two strings (100 x 56 B) keep the shuffle plan, and both
    joins return the same rows."""
    n = 100
    edges, _ = analytics._ckpt(spark.createDataFrame(
        [(i, (7 * i + 1) % n) for i in range(n)], "src long, dst long"))
    narrow, n_v = analytics._ckpt(edges.select(F.col("src").alias("id")))
    wide = (narrow.withColumn("a", F.lpad(F.col("id").cast("string"), 40, "x"))
            .withColumn("b", F.lpad(F.col("id").cast("string"), 40, "y")))
    assert n_v == n

    def hop(side):
        if traversal.broadcast_fits(side, n_v):
            side = F.broadcast(side)
        return edges.join(side.withColumnRenamed("id", "src"), "src")

    with no_broadcast("4k"):
        assert traversal.broadcast_fits(narrow, n_v)
        assert not traversal.broadcast_fits(wide, n_v)
        on, off = hop(narrow), hop(wide)
        plan = [df._jdf.queryExecution().executedPlan().toString()
                for df in (on, off)]
        assert "BroadcastExchange" in plan[0]
        assert "BroadcastExchange" not in plan[1]
        assert (sorted(on.select("src", "dst").collect())
                == sorted(off.select("src", "dst").collect()))
    with no_broadcast():
        assert not traversal.broadcast_fits(narrow, 0)


def test_ckpt_exact_count_no_extra_jobs_fresh_stats(spark):
    """_ckpt's contract: the exact row count, no more jobs than an eager
    localCheckpoint of the same input, and a frame carrying NO inherited
    size estimate (sizeInBytes == spark.sql.defaultSizeInBytes — what
    keeps pointer doubling out of the compounding-estimate blow-up)."""
    def shuffled():
        return (spark.range(0, 5000, 1, 4)
                .select((F.col("id") % 97).alias("k"), "id")
                .groupBy("k").agg(F.sum("id").alias("s")))

    jobs = jobs_since(spark)
    shuffled().localCheckpoint(eager=True)
    eager_jobs = jobs()
    jobs = jobs_since(spark)
    ck, rows = analytics._ckpt(shuffled())
    ckpt_jobs = jobs()
    assert rows == 97
    assert ckpt_jobs <= eager_jobs
    size = ck._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert int(size) == (spark._jsparkSession.sessionState().conf()
                         .defaultSizeInBytes())
    assert sorted(ck.collect()) == sorted(shuffled().collect())
    # a measure replaces the row count as the materializing action
    _, odd = analytics._ckpt(shuffled(),
                             lambda f: f.filter(F.col("k") % 2 == 1).count())
    assert odd == 48


def test_graph_store_warm_view_runs_no_job(spark):
    """A warm view cache builds no source plan and infers no schema:
    `edges()` and `vertices()` of a fresh GraphStore submit no job (each
    of the six source reads would plan a schema job of its own, and so
    would an inferring cache read), and the declared schema they read
    with is the one the cache files carry."""
    from hugegraph_on_tikv_spark.sources.graph import GraphStore
    from tests.conftest import SF_DIR

    warm = GraphStore(spark, SF_DIR)
    n_e, n_v = warm.edges().count(), warm.vertices().count()
    store = GraphStore(spark, SF_DIR)
    for name, view, rows in (("edges", store.edges, n_e),
                             ("vertices", store.vertices, n_v)):
        jobs = jobs_since(spark)
        df = view()
        assert jobs() == 0
        assert df.schema == spark.read.parquet(store._cache_path(name)).schema
        assert df.count() == rows


def test_fixpoint_driver_contract(spark):
    """_fixpoint's contract: a probe returning True stops the loop at that
    round and the round count is reported; the first probe sees the
    initial state as `prev`; a probed cut costs exactly the probe's own
    jobs; unprobed lazy cuts submit fewer jobs than eager ones and give
    the same rows; a step is handed the cut (a LogicalRDD scan); a
    row-count probe costs one job; a probed loop probes its last round."""
    start = spark.range(0, 50, 1, 2).select("id", F.lit(0).alias("v"))

    def vmax(df):
        return df.agg(F.max("v")).first()[0]

    seen, probe_jobs = [], []

    def probe(ck, prev):
        jobs = jobs_since(spark)
        seen.append((vmax(ck), vmax(prev)))
        probe_jobs.append(jobs())
        return len(seen) == 2

    jobs = jobs_since(spark)
    out, rounds, converged = analytics._fixpoint(
        lambda df, i: df.select("id", (F.col("v") + 1).alias("v")),
        start, 10, every=2, probe=probe)
    loop_jobs = jobs()
    assert (rounds, converged) == (4, True)
    assert seen == [(2, 0), (4, 2)]
    assert loop_jobs == sum(probe_jobs)
    assert vmax(out) == 4

    def shuffled_step(df, i):
        return df.groupBy("id").agg((F.max("v") + i).alias("v"))

    def run(cut):
        jobs = jobs_since(spark)
        rows = sorted(cut().collect())
        return jobs(), rows

    def eager():
        df = start
        for i in range(3):
            df = shuffled_step(df, i).localCheckpoint(eager=True)
        return df

    lazy_jobs, lazy_rows = run(
        lambda: analytics._fixpoint(shuffled_step, start, 3)[0])
    eager_jobs, eager_rows = run(eager)
    assert lazy_jobs < eager_jobs
    assert lazy_rows == eager_rows and lazy_rows[0]["v"] == 3

    # a step's side outputs come from the state it is handed: after a
    # probed round that state is the cut, planned as a bare RDD scan
    handed = []

    def recording_step(df, i):
        handed.append(df)
        return df.select("id", (F.col("v") + 1).alias("v"))

    jobs = jobs_since(spark)
    out, rounds, converged = analytics._fixpoint(
        recording_step, start, 3,
        probe=lambda ck, prev: analytics._rows(ck) < 0)
    assert (rounds, converged) == (3, False)
    # a row-count probe is the cut's one job
    assert jobs() == 3
    assert handed[0] is start
    for df in handed[1:] + [out]:
        plan = df._jdf.queryExecution().optimizedPlan()
        assert plan.getClass().getSimpleName() == "LogicalRDD"
    assert [vmax(df) for df in handed + [out]] == [0, 1, 2, 3]

    # a probed loop also probes its last round, off the `every` grid
    probed = []
    _, rounds, converged = analytics._fixpoint(
        lambda df, i: df.select("id", (F.col("v") + 1).alias("v")),
        start, 5, every=2,
        probe=lambda ck, prev: probed.append(vmax(ck)) or vmax(ck) == 5)
    assert probed == [2, 4, 5]
    assert (rounds, converged) == (5, True)


def test_iteration_ports_job_counts(spark):
    """SCC, k_truss and betweenness run their rounds on `_fixpoint`: each
    probe rides its cut's one job, so a small ring-plus-DAG SCC, a K4
    truss and a 3-path betweenness stay at these job counts (the hand
    loops, with a separate probe action per round, submitted 103, 35 and
    47).  katz_centrality runs pagerank's sum-product round, and
    shortest_paths and hyperball run sssp's relax round: a 4-edge DAG's
    Katz, two-landmark paths on a 3-cycle with a tail, a weighted DAG's
    sssp and the 3-path's HyperBall curve submitted 14, 13, 12 and 18
    jobs when each operator still had its own round body, and stay
    there."""
    def run(op):
        jobs = jobs_since(spark)
        rows = sorted(tuple(r) for r in op().collect())
        return jobs(), rows

    ring = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 10), (10, 11), (12, 0)],
        "src long, dst long")
    jobs, rows = run(lambda: analytics.strongly_connected_components(ring))
    assert rows == [(0, 0), (1, 0), (2, 0), (10, 10), (11, 11), (12, 12)]
    assert jobs <= 50

    k4 = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
         (4, 5), (5, 6), (6, 7), (7, 8), (6, 8)], "src long, dst long")
    jobs, rows = run(lambda: analytics.k_truss(k4, k=4))
    assert rows == [(1, 2, 2), (1, 3, 2), (1, 4, 2), (2, 3, 2), (2, 4, 2),
                    (3, 4, 2)]
    assert jobs <= 31

    path = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    with jvm_log(spark) as log:
        jobs, rows = run(
            lambda: analytics.betweenness_centrality(path, [1, 2, 3]))
    assert rows == [(1, 0.0), (2, 2.0), (3, 0.0)]
    assert jobs <= 30
    # broadcast hints sit on inner-join build sides only
    assert "Hint (strategy=broadcast) is not supported" not in log()

    dag = spark.createDataFrame([(1, 2), (1, 3), (2, 3), (3, 4)],
                                "src long, dst long")
    jobs, rows = run(lambda: analytics.katz_centrality(
        dag, iterations=4, alpha=0.5))
    assert rows == [(1, 1.0), (2, 1.5), (3, 2.25), (4, 2.125)]
    assert jobs <= 14

    cyc = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4)],
                                "src long, dst long")
    jobs, rows = run(lambda: analytics.shortest_paths(cyc, [1, 4],
                                                      iterations=4))
    assert rows == [(1, 1, 0), (1, 4, 3), (2, 1, 2), (2, 4, 2), (3, 1, 1),
                    (3, 4, 1), (4, 4, 0)]
    assert jobs <= 13

    wdag = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 2.0), (1, 3, 5.0), (3, 4, 1.5)],
        "src long, dst long, weight double")
    jobs, rows = run(lambda: analytics.sssp(wdag, 1, iterations=4))
    assert rows == [(1, 0.0), (2, 1.0), (3, 3.0), (4, 4.5)]
    assert jobs <= 12

    jobs, rows = run(lambda: analytics.hyperball(path, max_rounds=4))
    assert rows == [(0, 3.0), (1, 5.0), (2, 6.0), (3, 6.0)]
    assert jobs <= 18


def test_k_hop_shuffle_fallback_matches_broadcast(tiny, no_broadcast):
    """A disabled broadcast budget forces the shuffle-join path; results are
    identical to the broadcast path (the scale-safety guard is plan-only)."""
    bc = {(r["id"], r["hops"]) for r in traversal.k_hop(tiny, [1], k=3).collect()}
    with no_broadcast():
        sh = {(r["id"], r["hops"])
              for r in traversal.k_hop(tiny, [1], k=3).collect()}
    assert bc == sh == {(2, 1), (3, 1), (4, 2)}


# vertex 0 fans out to few vertices and each of those to many, so a hop-1
# frontier fits a 4-row budget while hop 2's raw neighbour ids do not, in
# every direction; the hop-3 edges reach back into visited vertices
_FAN = ([(0, 1, "a"), (0, 2, "a"), (3, 0, "b")]
        + [(1, v, "a") for v in range(10, 18)] + [(1, 30, "a")]
        + [(2, v, "b") for v in range(14, 22)]
        + [(v, 3, "b") for v in range(30, 38)]
        + [(v, 1, "b") for v in range(40, 48)]
        + [(10, 50, "a"), (11, 50, "a"), (14, 0, "a"), (15, 1, "b"),
           (20, 60, "b"), (21, 61, "a"), (70, 30, "a"), (71, 31, "b"),
           (72, 40, "a")])


def _bfs(edges, start, k, direction, labels):
    """Pure-Python BFS layering: {(id, hops)}, start excluded."""
    nbrs: dict = {}
    for s, d, lab in edges:
        if labels and lab not in labels:
            continue
        if direction in ("out", "both"):
            nbrs.setdefault(s, []).append(d)
        if direction in ("in", "both"):
            nbrs.setdefault(d, []).append(s)
    seen, frontier, out = {start}, {start}, set()
    for hop in range(1, k + 1):
        frontier = {n for v in frontier for n in nbrs.get(v, ())} - seen
        seen |= frontier
        out |= {(v, hop) for v in frontier}
    return out


@pytest.fixture
def hop1_budget(spark):
    """A broadcast threshold of 64 bytes (4 bare ids) for the test, the
    previous threshold restored after it."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "64")
    yield
    spark.conf.set(key, prev)


@pytest.mark.parametrize("direction,labels", [
    ("out", None), ("in", None), ("both", None), ("out", ["a"]), ("in", ["b"])])
def test_k_hop_handover_matches_held_and_bfs(spark, request, no_broadcast,
                                             direction, labels):
    """A budget that holds hop 1 but not hop 2 hands the traversal over to
    the distributed step mid-way; its rows equal the all-held run, the
    all-distributed run (no broadcast) and a pure-Python BFS."""
    fan = spark.createDataFrame(_FAN, "src long, dst long, label string")

    def run():
        df = traversal.k_hop(fan, [0], k=3, direction=direction, labels=labels)
        return df, {(r["id"], r["hops"]) for r in df.collect()}

    held_df, held = run()
    with no_broadcast():
        _, spread = run()
    request.getfixturevalue("hop1_budget")
    handed_df, handed = run()

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    assert "Join" not in plan(held_df)    # every hop held in the driver
    assert "Join" in plan(handed_df)      # hop 3 runs distributed
    assert held == spread == handed == _bfs(_FAN, 0, 3, direction, labels)
    assert {h for _, h in held} == {1, 2, 3}


def test_k_hop_held_jobs_and_no_persist(spark, tiny):
    """A 2-hop from one vertex holds both hops in the driver: one job for
    the frontier's broadcast and one for the hop's neighbour ids per hop,
    none for the result, and nothing is left persisted."""
    sc = spark.sparkContext
    pinned = sc._jsc.getPersistentRDDs().size()
    jobs = jobs_since(spark)
    got = {(r["id"], r["hops"]) for r in traversal.k_hop(tiny, [1], k=2).collect()}
    assert got == {(2, 1), (3, 1), (4, 2)}
    assert jobs() <= 4
    assert sc._jsc.getPersistentRDDs().size() == pinned


def test_pagerank_state_partitions_no_conf_mutation(spark):
    """state_partitions sizes the iteration shuffles at plan level; the
    session conf must be untouched afterwards (no cross-query race)."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3)], "src long, dst long")
    small = analytics.pagerank(edges, iterations=4, state_partitions=4)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    default = analytics.pagerank(edges, iterations=4)
    got = {r["id"]: round(r["rank"], 9) for r in small.collect()}
    want = {r["id"]: round(r["rank"], 9) for r in default.collect()}
    assert got == want


def test_near_dedup_keeps_cluster_representatives(spark):
    """near_duplicate_clusters groups transitively-similar docs; near_dedup
    keeps exactly one (min-id) representative per cluster."""
    from hugegraph_on_tikv_spark.functions import dedup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra"),                     # near-dup of 1
            (3, base + " extra padding"),             # near-dup of 2 (chain)
            (10, "completely different text about spark dataframes and shuffles at scale"),
            (11, "completely different text about spark dataframes and shuffles at scale ok"),
            (20, "an unrelated singleton document with no similar partner anywhere"),
        ],
        "doc_id long, text string",
    )
    clusters = {(r["doc_id"], r["cluster_id"])
                for r in dedup.near_duplicate_clusters(docs, threshold=0.5).collect()}
    by_doc = dict(clusters)
    assert by_doc[1] == 1 and by_doc[2] == 1        # transitive chain 1-2-3
    assert by_doc[10] == 10 and by_doc[11] == 10
    assert 20 not in by_doc                          # singleton: no pair row
    kept = sorted(r["doc_id"] for r in dedup.near_dedup(docs, threshold=0.5).collect())
    assert kept == [1, 10, 20] or kept == [1, 3, 10, 20]  # 3 may fall out of the chain at this threshold
    assert 2 not in kept and 11 not in kept


def test_random_walks_deterministic_and_valid(spark):
    """Walks start at their seed, follow only real edges, stop at sinks,
    and are bit-reproducible; different salts walk differently."""
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5)], "src long, dst long")
    out = analytics.random_walks(edges, [1], length=4, walks_per_node=3)
    rows = {(r["wid"], r["step"]): r["vertex"] for r in out.collect()}
    # step 0 = seed for every walk
    assert all(rows[(w, 0)] == 1 for w in range(3))
    # every consecutive pair is an actual edge
    eset = {(1, 2), (1, 3), (2, 4), (3, 4), (4, 5)}
    for (w, s), v in rows.items():
        if s > 0:
            assert (rows[(w, s - 1)], v) in eset, (w, s, v)
    # 5 is a sink: any walk reaching it at step t contributes nothing after
    for (w, s), v in rows.items():
        if v == 5:
            assert (w, s + 1) not in rows
    # reproducible; salted run differs somewhere on this branching graph
    again = {(r["wid"], r["step"]): r["vertex"]
             for r in analytics.random_walks(edges, [1], 4, 3).collect()}
    assert rows == again
    salted = {(r["wid"], r["step"]): r["vertex"]
              for r in analytics.random_walks(edges, [1], 4, 3, salt="v2").collect()}
    assert salted != rows


def test_k_core_peels_to_fixpoint(spark):
    # triangle+tail: 1-2-3 triangle (2-core), 3-4-5 path peels away under k=2
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)], "src long, dst long"
    )
    core2 = {r["id"]: r["degree"]
             for r in analytics.k_core(edges, k=2).collect()}
    assert core2 == {1: 2, 2: 2, 3: 2}     # 4 and 5 peeled (cascade: 5 then 4)
    # k=3: the triangle itself dissolves — empty core
    assert analytics.k_core(edges, k=3).count() == 0
    # k=1: everything survives with its full degree
    core1 = {r["id"]: r["degree"]
             for r in analytics.k_core(edges, k=1).collect()}
    assert core1 == {1: 2, 2: 2, 3: 3, 4: 2, 5: 1}


def test_degree_oriented_wedges_bounded_on_hub(spark):
    """VERDICT r5 #2: a hub of degree d must NOT generate O(d²) wedge rows.
    Star graph, hub 0 with 60 leaves: id-ordered enumeration makes C(60,2)
    = 1770 wedges at the hub; degree-oriented enumeration orients every
    edge leaf→hub (leaves have degree 1), so no vertex has 2 out-edges and
    the wedge count is ZERO — same (empty) triangle set."""
    from pyspark.sql import functions as F

    from hugegraph_on_tikv_spark.operators.analytics import (
        _degree_oriented, _undirected_simple, triangle_count)

    edges = spark.createDataFrame([(0, i) for i in range(1, 61)],
                                  "src long, dst long")
    und = _undirected_simple(edges)
    o = _degree_oriented(und)
    wedge_rows = (o.select("x", F.col("y").alias("b"))
                  .join(o.select("x", F.col("y").alias("c")), "x")
                  .filter(F.col("b") < F.col("c")).count())
    assert wedge_rows == 0
    # id-ordered baseline for contrast: hub 0 is the least id, so every
    # leaf pair forms a wedge through it
    e1 = und.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = und.select(F.col("u").alias("b"), F.col("v").alias("c"))
    id_wedges = e1.join(e2, "b").filter(F.col("a") < F.col("c")).count()
    assert id_wedges == 0  # star: hub is 'u' of every edge; no shared 'b'
    # give the hub a MID-RANGE id: the id-ordered join then enumerates a
    # wedge for every (p < hub < q) leaf pair — 30×30 = 900 rows — while
    # the degree-oriented join still enumerates zero
    edges_mid = spark.createDataFrame(
        [(i, 30) for i in range(0, 30)] + [(30, i) for i in range(31, 61)],
        "src long, dst long")
    und_mid = _undirected_simple(edges_mid)
    e1 = und_mid.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = und_mid.select(F.col("u").alias("b"), F.col("v").alias("c"))
    assert e1.join(e2, "b").filter(F.col("a") < F.col("c")).count() == 900
    o_mid = _degree_oriented(und_mid)
    assert (o_mid.select("x", F.col("y").alias("b"))
            .join(o_mid.select("x", F.col("y").alias("c")), "x")
            .filter(F.col("b") < F.col("c")).count()) == 0
    assert triangle_count(edges_mid).collect()[0]["n_triangles"] == 0


def test_triangle_family_matches_bruteforce_random(spark):
    """Oriented enumeration is exact: triangle count, per-edge support and
    per-vertex triangle counts all match an itertools brute force on a
    pseudo-random graph with a planted hub."""
    import itertools

    from hugegraph_on_tikv_spark.operators.analytics import (
        _edge_support, clustering_coefficient, triangle_count)

    n = 40
    pairs = sorted({(min(a, b), max(a, b))
                    for a, b in ((i, (i * i * 7 + i + 3) % n)
                                 for i in range(n * 4)) if a != b}
                   | {(0, i) for i in range(1, n)})  # hub 0 touches all
    edges = spark.createDataFrame(pairs, "src long, dst long")

    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tris = [t for t in itertools.combinations(sorted(adj), 3)
            if t[1] in adj[t[0]] and t[2] in adj[t[0]] and t[2] in adj[t[1]]]

    assert triangle_count(edges).collect()[0]["n_triangles"] == len(tris)

    want_support = {}
    want_vertex = {}
    for a, b, c in tris:
        for e in ((a, b), (b, c), (a, c)):
            want_support[e] = want_support.get(e, 0) + 1
        for v in (a, b, c):
            want_vertex[v] = want_vertex.get(v, 0) + 1
    from hugegraph_on_tikv_spark.operators.analytics import _undirected_simple
    got_support = {(r["u"], r["v"]): r["support"]
                   for r in _edge_support(_undirected_simple(edges)).collect()}
    assert got_support == want_support
    got_vertex = {r["id"]: r["n_triangles"]
                  for r in clustering_coefficient(edges).collect()
                  if r["n_triangles"] > 0}
    assert got_vertex == want_vertex


def test_clustering_coefficient_known_values(spark):
    # K4 minus one edge: 1-2,1-3,1-4,2-3,2-4 (3-4 missing)
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)], "src long, dst long"
    )
    got = {r["id"]: (r["n_triangles"], r["coeff"])
           for r in analytics.clustering_coefficient(edges).collect()}
    # vertices 1,2: degree 3, 2 triangles each -> 2*2/(3*2) = 2/3
    assert got[1] == (2, pytest.approx(2 / 3))
    assert got[2] == (2, pytest.approx(2 / 3))
    # vertices 3,4: degree 2, 1 triangle -> 2*1/(2*1) = 1.0
    assert got[3] == (1, 1.0)
    assert got[4] == (1, 1.0)
    # degree-1 vertex: coeff 0 by convention
    edges2 = spark.createDataFrame([(7, 8)], "src long, dst long")
    got2 = {r["id"]: r["coeff"]
            for r in analytics.clustering_coefficient(edges2).collect()}
    assert got2 == {7: 0.0, 8: 0.0}


def test_clustering_coefficient_canonical_fastpath_equal(spark):
    # r11: canonical=True skips the edge-scale re-canonicalization; on an
    # input that already satisfies the contract (src < dst, distinct) the
    # result must be row-identical to the canonicalizing path
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6),
         (4, 6), (2, 7)], "src long, dst long"
    )
    base = {(r["id"], r["n_triangles"], r["coeff"])
            for r in analytics.clustering_coefficient(edges).collect()}
    fast = {(r["id"], r["n_triangles"], r["coeff"])
            for r in analytics.clustering_coefficient(
                edges, canonical=True).collect()}
    assert fast == base


def test_k_truss_peels_edges(spark):
    # two triangles sharing edge (1,2) + a pendant triangle chain:
    # K4 on {1,2,3,4}: every edge in >= 2 triangles -> 4-truss
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    # triangle {5,6,7} attached via edge (4,5): its edges have support 1
    extra = [(5, 6), (6, 7), (5, 7), (4, 5)]
    edges = spark.createDataFrame(k4 + extra, "src long, dst long")

    t4 = {(r["u"], r["v"]): r["support"]
          for r in analytics.k_truss(edges, k=4).collect()}
    assert set(t4) == set(k4)                 # pendant triangle peeled
    assert all(s == 2 for s in t4.values())   # K4: each edge in 2 triangles

    t3 = {(r["u"], r["v"]): r["support"]
          for r in analytics.k_truss(edges, k=3).collect()}
    assert set(t3) == set(k4) | {(5, 6), (6, 7), (5, 7)}  # (4,5) has no triangle
    assert t3[(5, 6)] == 1

    # k=5 dissolves everything (need every edge in 3 triangles)
    assert analytics.k_truss(edges, k=5).count() == 0


def test_k_truss_delta_matches_full_recount(spark):
    """The delta-maintained peel (one full _edge_support, then
    removal-neighborhood recounts) must equal the naive
    recount-every-round formulation on random graphs, across k."""
    import random

    from hugegraph_on_tikv_spark.operators.analytics import (
        _edge_support, _undirected_simple)

    def naive_k_truss(edges, k):
        cur = _undirected_simple(edges).localCheckpoint(eager=True)
        n_prev = cur.count()
        for _ in range(20):
            keep = (_edge_support(cur)
                    .filter(F.col("support") >= k - 2).select("u", "v"))
            cur = cur.join(keep, ["u", "v"]).localCheckpoint(eager=True)
            n_now = cur.count()
            if n_now == n_prev:
                break
            n_prev = n_now
        return cur.join(_edge_support(cur), ["u", "v"])

    rng = random.Random(73)
    for trial in range(3):
        n = 18
        pairs = {(a, b) for a in range(n) for b in range(a + 1, n)
                 if rng.random() < 0.28}
        edges = spark.createDataFrame(
            [(a, b) for a, b in pairs], "src long, dst long")
        for k in (3, 4, 5):
            got = {(r["u"], r["v"]): r["support"]
                   for r in analytics.k_truss(edges, k=k).collect()}
            want = {(r["u"], r["v"]): r["support"]
                    for r in naive_k_truss(edges, k).collect()}
            assert got == want, f"trial={trial} k={k}"


def test_modularity_exact_two_triangles(spark):
    # two triangles bridged by one edge, communities = the triangles:
    # m=7, each community has e_c=3, d_c=7 -> contrib = 4*7*3 - 49 = 35,
    # Q = 70/196 = 5/14
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long")
    labels = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 20), (5, 20), (6, 20)],
        "id long, community long")
    rows = {r["community"]: r for r in
            analytics.modularity(edges, labels).collect()}
    assert rows[10]["intra_edges"] == 3 and rows[10]["degree_sum"] == 7
    assert int(rows[10]["contrib"]) == 35 and int(rows[20]["contrib"]) == 35
    assert analytics.modularity_score(edges, labels) == pytest.approx(5 / 14)
    # the all-one-community labeling scores 0 (e_c = m, d_c = 2m)
    one = labels.select("id", F.lit(1).alias("community"))
    assert analytics.modularity_score(edges, one) == pytest.approx(0.0)


def test_modularity_local_move_improves_and_never_decreases(spark):
    import random

    # two K4 cliques bridged by one edge; singleton start: the move round
    # must strictly improve modularity (vertices join neighbor communities)
    k4a = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    k4b = [(a, b) for a in range(5, 9) for b in range(a + 1, 9)]
    edges = spark.createDataFrame(k4a + k4b + [(4, 5)], "src long, dst long")
    singles = spark.createDataFrame(
        [(i, i) for i in range(1, 9)], "id long, community long")
    q0 = analytics.modularity_score(edges, singles)
    moved = analytics.modularity_local_move(edges, singles)
    q1 = analytics.modularity_score(edges, moved)
    assert q1 > q0
    assert moved.columns == ["id", "community"]

    # never-decrease guard on random graphs with random labelings
    rng = random.Random(11)
    for _ in range(2):
        pairs = {(a, b) for a in range(12) for b in range(a + 1, 12)
                 if rng.random() < 0.3}
        e = spark.createDataFrame(sorted(pairs), "src long, dst long")
        lab = spark.createDataFrame(
            [(i, rng.randrange(3)) for i in range(12)],
            "id long, community long")
        q_before = analytics.modularity_score(e, lab)
        q_after = analytics.modularity_score(
            e, analytics.modularity_local_move(e, lab))
        assert q_after >= q_before - 1e-12


def test_four_clique_count(spark):
    import itertools
    import random

    # K5 contains C(5,4) = 5 four-cliques
    k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    e = spark.createDataFrame(k5, "src long, dst long")
    assert analytics.four_clique_count(e).collect()[0]["n_4cliques"] == 5

    # star hub: zero triangles -> zero K4s, zero candidate fan-out
    star = spark.createDataFrame([(0, i) for i in range(1, 40)],
                                 "src long, dst long")
    assert analytics.four_clique_count(star).collect()[0]["n_4cliques"] == 0

    # brute force on random graphs
    rng = random.Random(5)
    for _ in range(2):
        pairs = {(a, b) for a in range(14) for b in range(a + 1, 14)
                 if rng.random() < 0.4}
        want = sum(
            1 for quad in itertools.combinations(range(14), 4)
            if all((x, y) in pairs
                   for x, y in itertools.combinations(quad, 2)))
        e = spark.createDataFrame(sorted(pairs), "src long, dst long")
        got = analytics.four_clique_count(e).collect()[0]["n_4cliques"]
        assert got == want


def test_louvain_finds_planted_cliques(spark):
    # three K5 cliques bridged by single edges: from the singleton start,
    # louvain must converge to exactly the three planted communities
    cliques = []
    for base in (0, 10, 20):
        cliques += [(base + a, base + b) for a in range(5)
                    for b in range(a + 1, 5)]
    bridges = [(4, 10), (14, 20)]
    edges = spark.createDataFrame(cliques + bridges, "src long, dst long")
    out = analytics.louvain(edges)
    got = {r["id"]: r["community"] for r in out.collect()}
    groups = {}
    for vid, c in got.items():
        groups.setdefault(c, set()).add(vid)
    assert sorted(sorted(g) for g in groups.values()) == [
        [0, 1, 2, 3, 4], [10, 11, 12, 13, 14], [20, 21, 22, 23, 24]]
    # and the result scores at least as high as the planted labeling scores
    planted = spark.createDataFrame(
        [(v, v // 10) for v in got], "id long, community long")
    assert analytics.modularity_score(edges, out) == pytest.approx(
        analytics.modularity_score(edges, planted))


def test_louvain_full_contraction_improves_resolution_limit(spark):
    # ring of 12 triangles: synchronous local-move from singletons stalls
    # at pairs (the known parallel-Louvain caveat); the contraction level
    # with parity-alternated weighted rounds must strictly beat it — the
    # classic resolution-limit graph where merging adjacent cliques wins
    edges = []
    for i in range(12):
        b = 3 * i
        edges += [(b, b + 1), (b, b + 2), (b + 1, b + 2),
                  (b + 2, 3 * ((i + 1) % 12))]
    e = spark.createDataFrame(edges, "src long, dst long")
    local = analytics.louvain(e)
    full = analytics.louvain_full(e)
    q_local = analytics.modularity_score(e, local)
    q_full = analytics.modularity_score(e, full)
    assert q_full > q_local
    # labeling covers every vertex exactly once
    assert full.count() == 36
    assert full.select("id").distinct().count() == 36


def test_louvain_full_never_decreases_and_keeps_planted(spark):
    import random

    # full >= local on random graphs (monotone guard across levels)
    rng = random.Random(23)
    for _ in range(2):
        pairs = {(a, b) for a in range(14) for b in range(a + 1, 14)
                 if rng.random() < 0.25}
        e = spark.createDataFrame(sorted(pairs), "src long, dst long")
        q_local = analytics.modularity_score(e, analytics.louvain(e))
        q_full = analytics.modularity_score(e, analytics.louvain_full(e))
        assert q_full >= q_local - 1e-12

    # planted K5 cliques: contraction must NOT merge them (merging two
    # K5s lowers Q here — the guard rejects it)
    cliques = []
    for base in (0, 10, 20):
        cliques += [(base + a, base + b) for a in range(5)
                    for b in range(a + 1, 5)]
    e2 = spark.createDataFrame(cliques + [(4, 10), (14, 20)],
                               "src long, dst long")
    out = analytics.louvain_full(e2)
    groups = {}
    for r in out.collect():
        groups.setdefault(r["community"], set()).add(r["id"])
    assert sorted(sorted(g) for g in groups.values()) == [
        [0, 1, 2, 3, 4], [10, 11, 12, 13, 14], [20, 21, 22, 23, 24]]


def test_graph_summary_and_eccentricity(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3)], "src long, dst long")
    s = analytics.graph_summary(edges).collect()[0]
    assert (s["n_vertices"], s["n_edges"], s["max_degree"]) == (4, 4, 3)
    assert s["avg_degree"] == pytest.approx(2.0)

    ecc = {r["landmark"]: (r["n_reaching"], r["eccentricity"])
           for r in analytics.landmark_eccentricity(edges, [4, 2]).collect()}
    # distances TO landmark 4 along edge direction: 4:0, 3:1, 2:2, 1:2
    assert ecc[4] == (4, 2)
    # to landmark 2: 2:0, 1:1 (3,4 cannot reach 2)
    assert ecc[2] == (2, 1)


def test_weighted_pagerank_shifts_rank_toward_heavy_edges(spark):
    # 1 -> 2 (weight 9), 1 -> 3 (weight 1): weighted rank favors 2;
    # unweighted splits evenly
    edges = spark.createDataFrame(
        [(1, 2, 9.0), (1, 3, 1.0)], "src long, dst long, w double")
    rw = {r["id"]: r["rank"]
          for r in analytics.pagerank(edges, iterations=5,
                                      weight_col="w").collect()}
    ru = {r["id"]: r["rank"]
          for r in analytics.pagerank(edges, iterations=5).collect()}
    assert ru[2] == pytest.approx(ru[3])
    assert rw[2] > rw[3]
    # weights on 1's out-edges sum to 10: the CONTRIBUTION ratio (rank
    # net of the 0.15 reset base) is exactly 9
    assert (rw[2] - 0.15) / (rw[3] - 0.15) == pytest.approx(9.0)

    # NULL weight counts as 1.0 (partially-weighted views)
    edges_null = spark.createDataFrame(
        [(1, 2, None), (1, 3, 1.0)], "src long, dst long, w double")
    rn = {r["id"]: r["rank"]
          for r in analytics.pagerank(edges_null, iterations=5,
                                      weight_col="w").collect()}
    assert rn[2] == pytest.approx(rn[3])


def test_pagerank_tol_early_exit_matches_fixed(spark):
    """VERDICT r5 #5: tol= stops a fast-converging run early, and the
    early-exit ranks equal the fixed-count run within tol."""
    from hugegraph_on_tikv_spark.operators.analytics import pagerank

    # two disjoint 3-cycles: ranks converge to the stationary point after
    # a handful of rounds
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10)],
        "src long, dst long")
    iters: list = []
    fast = {r["id"]: r["rank"]
            for r in pagerank(edges, iterations=40, checkpoint_every=2,
                              tol=1e-9, _iters_out=iters).collect()}
    assert iters[0] < 40, iters
    fixed = {r["id"]: r["rank"]
             for r in pagerank(edges, iterations=40,
                               checkpoint_every=2).collect()}
    assert all(abs(fast[k] - fixed[k]) < 1e-6 for k in fixed)


def test_hits_tol_early_exit_matches_fixed(spark):
    from hugegraph_on_tikv_spark.operators.analytics import hits

    edges = spark.createDataFrame(
        [(1, 4), (2, 4), (3, 4), (4, 5)], "src long, dst long")
    iters: list = []
    fast = {r["id"]: (r["auth"], r["hub"])
            for r in hits(edges, iterations=30, tol=1e-9,
                          _iters_out=iters).collect()}
    assert iters[0] < 30, iters
    fixed = {r["id"]: (r["auth"], r["hub"])
             for r in hits(edges, iterations=30).collect()}
    assert all(abs(fast[k][0] - fixed[k][0]) < 1e-6
               and abs(fast[k][1] - fixed[k][1]) < 1e-6 for k in fixed)


def test_cc_star_equals_hashmin_on_fixtures(spark):
    """VERDICT r5 #4: star contraction must produce exactly HashMin's
    labels (component = min id) on assorted shapes: multi-component blobs,
    a clique, rings, isolated self-loop vertices."""
    from hugegraph_on_tikv_spark.operators.analytics import (
        connected_components, connected_components_star)

    n = 60
    pairs = ([(i, (i * 13 + 5) % n) for i in range(n)]          # tangle
             + [(100 + i, 100 + (i + 1) % 7) for i in range(7)]  # ring
             + [(200, 200), (300, 300)]                          # self-loops
             + [(400 + a, 400 + b) for a in range(5)
                for b in range(a + 1, 5)])                       # clique
    edges = spark.createDataFrame(pairs, "src long, dst long")
    want = {(r["id"], r["component"])
            for r in connected_components(edges, max_iterations=40).collect()}
    got = {(r["id"], r["component"])
           for r in connected_components_star(edges).collect()}
    assert got == want


def test_cc_and_mis_broadcast_fallback_equality(spark, no_broadcast):
    """r11: HashMin components and Luby MIS produce identical results
    whether the vertex-scale side tables broadcast (guard default) or
    fall back to shuffle joins — plan choice only."""
    import random

    from hugegraph_on_tikv_spark.operators.analytics import (
        connected_components, maximal_independent_set)

    rng = random.Random(13)
    rows = [(rng.randint(0, 100), rng.randint(0, 100)) for _ in range(250)]
    rows += [(150 + i, 150 + i + 1) for i in range(30)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    cc_on = {(r["id"], r["component"]) for r in connected_components(
        edges).collect()}
    mis_on = {(r["id"], r["round"]) for r in maximal_independent_set(
        edges).collect()}
    with no_broadcast():
        cc_off = {(r["id"], r["component"]) for r in connected_components(
            edges).collect()}
        mis_off = {(r["id"], r["round"]) for r in maximal_independent_set(
            edges).collect()}
    assert cc_on == cc_off
    assert mis_on == mis_off


def test_label_propagation_broadcast_fallback_equality(spark, no_broadcast):
    """Label propagation gives the same labels whether the labels
    broadcast over the adjacency partitioned on `a` (guard default) or
    every round falls back to shuffle joins, and both equal the literal
    synchronous rule: most frequent neighbour label, ties to the
    smallest."""
    import random
    from collections import Counter

    rng = random.Random(7)
    rows = [(rng.randint(0, 40), rng.randint(0, 40)) for _ in range(90)]
    rows += [(60 + i, 60 + (i + 1) % 6) for i in range(6)] + [(60, 62)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    on = {r["id"]: r["community"] for r in
          analytics.label_propagation(edges, iterations=4).collect()}
    with no_broadcast():
        off = {r["id"]: r["community"] for r in
               analytics.label_propagation(edges, iterations=4).collect()}
    assert on == off
    nbrs: dict[int, set] = {}
    for s, d in rows:
        nbrs.setdefault(s, set()).add(d)
        nbrs.setdefault(d, set()).add(s)
    lab = {v: v for v in nbrs}
    for _ in range(4):
        counts = {v: Counter(lab[u] for u in nbrs[v]) for v in nbrs}
        lab = {v: min(c, key=lambda x: (-c[x], x)) for v, c in counts.items()}
    assert on == lab


def test_cc_star_broadcast_fallback_equality(spark, no_broadcast):
    """r11: labels are identical whether the per-round mins/mins2 tables
    broadcast (guard default) or fall back to shuffle joins — the guard
    changes plans, never results."""
    import random

    from hugegraph_on_tikv_spark.operators.analytics import (
        connected_components_star)

    rng = random.Random(7)
    rows = [(rng.randint(0, 120), rng.randint(0, 120)) for _ in range(300)]
    rows += [(200 + i, 200 + i + 1) for i in range(40)]   # a chain
    edges = spark.createDataFrame(rows, "src long, dst long")
    on = {(r["id"], r["component"]) for r in connected_components_star(
        edges).collect()}
    with no_broadcast():
        off = {(r["id"], r["component"]) for r in connected_components_star(
            edges).collect()}
    assert on == off


def test_cc_star_chain_logarithmic_rounds(spark):
    """A 64-vertex chain: HashMin needs ~n rounds; star contraction must
    finish in O(log n) — assert <= 8 rounds and exact labels."""
    from hugegraph_on_tikv_spark.operators.analytics import (
        connected_components_star)

    n = 64
    chain = [(i, i + 1) for i in range(n - 1)]
    rounds: list = []
    got = {r["id"]: r["component"]
           for r in connected_components_star(
               spark.createDataFrame(chain, "src long, dst long"),
               _rounds_out=rounds).collect()}
    assert got == {i: 0 for i in range(n)}
    assert rounds[0] <= 8, rounds


def test_cc_star_unconverged_raises(spark):
    import pytest as _pytest
    from hugegraph_on_tikv_spark.operators.analytics import (
        connected_components_star)

    chain = [(i, i + 1) for i in range(40)]
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(
            spark.createDataFrame(chain, "src long, dst long"),
            max_iterations=1)


def test_scc_known_components(spark):
    from hugegraph_on_tikv_spark.operators.analytics import (
        strongly_connected_components)

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1),          # 3-cycle
         (10, 11), (11, 10),              # 2-cycle, reachable from the first
         (3, 10),
         (3, 20),                         # out-degree-0 tail: singleton
         (30, 30),                        # self-loop only: singleton
         (2, 1)],                         # extra intra-SCC edge
        "src long, dst long")
    got = sorted((r["id"], r["scc"])
                 for r in strongly_connected_components(edges).collect())
    assert got == [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
                   (20, 20), (30, 30)]


def test_scc_dag_is_all_singletons_via_trim(spark):
    from hugegraph_on_tikv_spark.operators.analytics import (
        strongly_connected_components)

    # pure DAG: trim alone must resolve everything (no coloring rounds)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (2, 4)], "src long, dst long")
    got = {r["id"]: r["scc"]
           for r in strongly_connected_components(edges, max_rounds=1).collect()}
    assert got == {1: 1, 2: 2, 3: 3, 4: 4}


def test_scc_long_cycle_converges(spark):
    from hugegraph_on_tikv_spark.operators.analytics import (
        strongly_connected_components)

    n = 9
    ring = [(i, (i + 1) % n) for i in range(n)]
    got = {r["id"]: r["scc"] for r in
           strongly_connected_components(
               spark.createDataFrame(ring, "src long, dst long"),
               prop_iterations=n + 1).collect()}
    assert got == {i: 0 for i in range(n)}


def test_scc_unconverged_returns_null_not_split(spark):
    """ADVICE r5 (high): a directed cycle longer than the propagation bound
    must come back with scc NULL per the documented contract — never split
    into multiple wrong labels by an unconverged coloring/marking pass."""
    from hugegraph_on_tikv_spark.operators.analytics import (
        strongly_connected_components)

    n = 20  # cycle length > default prop_iterations=12
    ring = [(i, (i + 1) % n) for i in range(n)]
    got = {r["id"]: r["scc"] for r in
           strongly_connected_components(
               spark.createDataFrame(ring, "src long, dst long")).collect()}
    assert set(got) == set(range(n))
    assert all(v is None for v in got.values()), got


def test_scc_unconverged_marking_returns_null(spark):
    """Coloring can converge while backward marking still exceeds its bound
    (marking needs ~cycle-length rounds too).  A long cycle plus a shortcut
    edge colors fast but must still refuse a partial assignment."""
    from hugegraph_on_tikv_spark.operators.analytics import (
        strongly_connected_components)

    n = 20
    ring = [(i, (i + 1) % n) for i in range(n)]
    # shortcuts from 0 to every vertex: coloring converges in ~2 rounds
    # (everyone sees color 0 directly), but marking must still walk the
    # ring backwards ~n steps to certify membership.
    shortcuts = [(0, i) for i in range(2, n)]
    got = {r["id"]: r["scc"] for r in
           strongly_connected_components(
               spark.createDataFrame(ring + shortcuts,
                                     "src long, dst long"),
               prop_iterations=6).collect()}
    assert all(v is None for v in got.values()), got


def test_hits_known_values(spark):
    from hugegraph_on_tikv_spark.operators.analytics import hits

    # star: 1,2,3 all point at 4; 4 points at 5.
    edges = spark.createDataFrame(
        [(1, 4), (2, 4), (3, 4), (4, 5)], "src long, dst long")
    got = {r["id"]: r for r in hits(edges, iterations=6).collect()}
    # 4 is the dominant authority; 1-3 are the dominant hubs
    assert got[4]["auth"] == 1.0
    assert got[1]["hub"] == got[2]["hub"] == got[3]["hub"] == 1.0
    # 5's only in-link is from a weak hub; 4's hub score comes from a weak
    # authority — both strictly inside (0, 1)
    assert 0.0 <= got[5]["auth"] < 1.0
    assert 0.0 <= got[4]["hub"] < 1.0
    # sources have no in-links: zero authority
    assert got[1]["auth"] == 0.0 and got[5]["hub"] == 0.0


def test_link_prediction_known_values(spark):
    from hugegraph_on_tikv_spark.operators.analytics import link_prediction

    # path graph 1-2-3 plus 1-4, 3-4: candidates (1,3) share {2,4}; (2,4)
    # share {1,3}; existing edges excluded
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 4), (3, 4)], "src long, dst long")
    got = {(r["a"], r["b"]): r for r in link_prediction(edges).collect()}
    assert set(got) == {(1, 3), (2, 4)}
    r13 = got[(1, 3)]
    assert r13["common_neighbors"] == 2
    # deg(1)=deg(3)=2 -> jaccard = 2/(2+2-2) = 1.0
    assert r13["jaccard"] == 1.0
    # RA = 1/deg(2) + 1/deg(4) = 0.5 + 0.5
    assert r13["ra_score"] == 1.0


def test_link_prediction_hub_cap_drops_wedges(spark):
    from hugegraph_on_tikv_spark.operators.analytics import link_prediction

    # hub 100 connects 1..5 (deg 5); 1-2 also share low-degree 7
    edges = spark.createDataFrame(
        [(100, i) for i in range(1, 6)] + [(1, 7), (2, 7)],
        "src long, dst long")
    capped = {(r["a"], r["b"]) for r in
              link_prediction(edges, max_neighbor_degree=3).collect()}
    # wedges through the hub (deg 5) are gone: no (3,4)-style pairs; what
    # survives pivots through the low-degree vertices (7, and 1/2 for the
    # (7,100) pair)
    assert capped == {(1, 2), (7, 100)}
    full = {(r["a"], r["b"]) for r in link_prediction(edges).collect()}
    assert (3, 4) in full and len(full) > len(capped)


def test_link_prediction_keep_existing_edges_option(spark):
    from hugegraph_on_tikv_spark.operators.analytics import link_prediction

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "src long, dst long")  # triangle
    none = link_prediction(edges).count()
    assert none == 0                       # every pair already linked
    kept = {(r["a"], r["b"]) for r in
            link_prediction(edges, exclude_existing=False).collect()}
    assert kept == {(1, 2), (1, 3), (2, 3)}


def test_skipgram_pairs_window(spark):
    from hugegraph_on_tikv_spark.operators.analytics import skipgram_pairs

    walks = spark.createDataFrame(
        [(0, 0, 10), (0, 1, 20), (0, 2, 30), (0, 3, 40),
         (1, 0, 10), (1, 1, 50)],
        "wid int, step int, vertex long")
    got = {(r["center"], r["context"], r["step_offset"])
           for r in skipgram_pairs(walks, window=2).collect()}
    # walk 0: 10's contexts are 20 (+1) and 30 (+2) but NOT 40 (+3)
    assert (10, 20, 1) in got and (10, 30, 2) in got
    assert not any(c == 10 and x == 40 for c, x, _ in got)
    # symmetric negative offsets exist
    assert (30, 10, -2) in got
    # walks never mix: walk 1's 50 only pairs with its own 10
    assert (50, 10, -1) in got and (50, 20, -1) not in got
    # total: walk0 has 4 vertices -> 2*(3+2) = 10 pairs; walk1 -> 2
    assert len(got) == 12
    with pytest.raises(ValueError):
        skipgram_pairs(walks, window=0)


def _brandes_reference(adj, sources):
    """Pure-Python Brandes dependency accumulation (per-source BFS),
    returning raw summed deltas — the same convention as
    betweenness_centrality."""
    from collections import deque

    bc = {v: 0.0 for v in adj}
    for s in sources:
        sigma = {v: 0.0 for v in adj}
        dist = {v: -1 for v in adj}
        preds = {v: [] for v in adj}
        sigma[s], dist[s] = 1.0, 0
        order, q = [], deque([s])
        while q:
            u = q.popleft()
            order.append(u)
            for w in adj[u]:
                if dist[w] < 0:
                    dist[w] = dist[u] + 1
                    q.append(w)
                if dist[w] == dist[u] + 1:
                    sigma[w] += sigma[u]
                    preds[w].append(u)
        delta = {v: 0.0 for v in adj}
        for w in reversed(order):
            for u in preds[w]:
                delta[u] += sigma[u] / sigma[w] * (1.0 + delta[w])
            if w != s:
                bc[w] += delta[w]
    return bc


def test_betweenness_exact_on_small_graphs(spark):
    import pytest as _pytest
    from hugegraph_on_tikv_spark.operators.analytics import (
        betweenness_centrality)

    cases = [
        # path: middle vertices carry all pair paths
        [(1, 2), (2, 3), (3, 4), (4, 5)],
        # diamond: two equal shortest paths split sigma
        [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5)],
        # barbell: bridge vertex dominates
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (4, 6)],
    ]
    for pairs in cases:
        adj = {}
        for a, b in pairs:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        want = _brandes_reference(adj, sorted(adj))
        edges = spark.createDataFrame(pairs, "src long, dst long")
        got = {r["id"]: r["betweenness"]
               for r in betweenness_centrality(
                   edges, sorted(adj)).collect()}
        for v, x in want.items():
            assert got.get(v, 0.0) == _pytest.approx(x, abs=1e-5), (pairs, v)


def test_betweenness_sampled_subset_and_directed(spark):
    import pytest as _pytest
    from hugegraph_on_tikv_spark.operators.analytics import (
        betweenness_centrality)

    pairs = [(1, 2), (2, 3), (3, 4), (2, 4)]
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = _brandes_reference(adj, [1, 3])
    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = {r["id"]: r["betweenness"]
           for r in betweenness_centrality(edges, [1, 3]).collect()}
    for v, x in want.items():
        assert got.get(v, 0.0) == _pytest.approx(x, abs=1e-5)

    # directed chain 1->2->3: only vertex 2 mediates, from source 1 only
    dedges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    dgot = {r["id"]: r["betweenness"]
            for r in betweenness_centrality(
                dedges, [1, 2, 3], directed=True).collect()}
    assert dgot[2] == _pytest.approx(1.0)
    assert dgot.get(3, 0.0) == 0.0


def test_diameter_double_sweep(spark):
    from hugegraph_on_tikv_spark.operators.analytics import (
        diameter_double_sweep)

    # path graph 0-1-2-3-4-5: exact diameter 5; starting mid-path the
    # first sweep finds an endpoint, the second measures the full path
    path = [(i, i + 1) for i in range(5)]
    r = diameter_double_sweep(
        spark.createDataFrame(path, "src long, dst long"),
        start_id=2).collect()[0]
    assert r["diameter_lower_bound"] == 5
    assert r["peripheral_id"] in (0, 5)
    assert r["n_reached"] == 6

    # star: diameter 2, exact via any start
    star = [(0, i) for i in range(1, 8)]
    r2 = diameter_double_sweep(
        spark.createDataFrame(star, "src long, dst long")).collect()[0]
    assert r2["diameter_lower_bound"] == 2


def _core_numbers_reference(pairs):
    """Sequential peeling reference: repeatedly remove the min-degree
    vertex, its core number = max(k seen so far, its degree at removal)."""
    adj = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    core = {}
    k = 0
    live = dict(adj)
    while live:
        v = min(live, key=lambda x: (len(live[x]), x))
        k = max(k, len(live[v]))
        core[v] = k
        for u in live[v]:
            live[u].discard(v)
        del live[v]
    return core


def test_core_numbers_match_peeling_reference(spark):
    from hugegraph_on_tikv_spark.operators.analytics import core_numbers

    cases = [
        # K4 + tail + triangle
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
         (4, 5), (5, 6), (6, 7), (5, 7)],
        # star + ring
        [(0, i) for i in range(1, 8)] + [(10, 11), (11, 12), (12, 10)],
        # pseudo-random
        [(i % 23, (i * i * 5 + 1) % 23) for i in range(80)],
    ]
    for pairs in cases:
        want = _core_numbers_reference(pairs)
        edges = spark.createDataFrame(
            [p for p in pairs], "src long, dst long")
        got = {r["id"]: r["core"] for r in core_numbers(edges).collect()}
        for v, k in want.items():
            assert got[v] == k, (pairs, v, got[v], k)


def test_core_numbers_star_hub_and_skewfree_plan(spark):
    """VERDICT r6 #2: the h-index round must never sort a full neighbor
    list in one window partition.  Structurally: the Window in a round's
    plan sits ABOVE an Aggregate (the combinable (id, value) curve
    reduction), not directly on the neighbor join.  Behaviorally: a
    star-hub graph (hub degree 2000) resolves with the degree-sequence
    bound B=1, so every vertex starts (and ends) at core 1 regardless of
    hub fan-in."""
    from hugegraph_on_tikv_spark.operators.analytics import (
        _hindex_of_degree_distribution, _hindex_round, core_numbers)
    from pyspark.sql import functions as F

    # star: degree sequence {2000, 1 x 2000} -> h-index bound B = 1
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 2001)], "src long, dst long")
    deg = (star.select(F.col("src").alias("id"))
           .unionByName(star.select(F.col("dst").alias("id")))
           .groupBy("id").agg(F.count(F.lit(1)).alias("c")))
    assert _hindex_of_degree_distribution(deg) == 1
    got = {r["id"]: r["core"] for r in core_numbers(star).collect()}
    assert set(got.values()) == {1} and len(got) == 2001

    # plan shape: Window's subtree reaches an Aggregate BEFORE any Join —
    # the window consumes the curve, never the raw neighbor stream
    adj = (star.select(F.col("src").alias("a"), F.col("dst").alias("b"))
           .unionByName(star.select(F.col("dst").alias("a"),
                                    F.col("src").alias("b"))))
    c = deg.select("id", F.col("c"))
    plan = str(_hindex_round(adj, c)._jdf.queryExecution().optimizedPlan())
    after_window = plan.split("Window", 1)[1]
    agg_pos = after_window.find("Aggregate")
    join_pos = after_window.find("Join")
    assert agg_pos != -1 and (join_pos == -1 or agg_pos < join_pos), plan

    # the bound helper matches brute force on assorted multisets
    def brute_h(vals):
        return max((h for h in range(0, len(vals) + 1)
                    if sum(1 for v in vals if v >= h) >= h), default=0)
    for vals in ([5, 4, 4, 2, 1], [3, 3, 3], [1], [7], [2, 2, 2, 2, 2, 2],
                 [9, 9, 1, 1, 1, 1]):
        df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                                   "id long, c long")
        assert _hindex_of_degree_distribution(df) == brute_h(vals), vals


def test_core_numbers_consistent_with_k_core(spark):
    """core(v) >= k exactly for the members of k_core(k)."""
    from hugegraph_on_tikv_spark.operators.analytics import (core_numbers,
                                                             k_core)

    pairs = [(i % 17, (i * 7 + 3) % 17) for i in range(60)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    cores = {r["id"]: r["core"] for r in core_numbers(edges).collect()}
    for k in (2, 3):
        members = {r["id"] for r in k_core(edges, k=k).collect()}
        assert members == {v for v, c in cores.items() if c >= k}, k


def test_graph_structure_stats_known(spark):
    import pytest as _pytest

    from hugegraph_on_tikv_spark.operators.analytics import (
        graph_structure_stats)

    # triangle + pendant: 1 triangle; degrees 2,2,3,1
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long")
    r = graph_structure_stats(edges).collect()[0]
    # wedges: d(d-1)/2 = 1+1+3+0 = 5; transitivity = 3*1/5
    assert (r["n_triangles"], r["n_wedges"]) == (1, 5)
    assert r["transitivity"] == _pytest.approx(0.6)
    # star: 0 triangles, hub-degree pairs are maximally DISassortative
    star = spark.createDataFrame([(0, i) for i in range(1, 6)],
                                 "src long, dst long")
    r2 = graph_structure_stats(star).collect()[0]
    assert r2["n_triangles"] == 0 and r2["transitivity"] == 0.0
    assert r2["assortativity"] == _pytest.approx(-1.0)
    # complete graph K4: transitivity 1, assortativity denominator 0 -> 0
    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)],
        "src long, dst long")
    r3 = graph_structure_stats(k4).collect()[0]
    assert r3["transitivity"] == _pytest.approx(1.0)
    assert r3["assortativity"] == 0.0

    # reference check on a pseudo-random graph: numpy Pearson
    import numpy as np
    pairs = sorted({(min(a, b), max(a, b))
                    for a, b in ((i % 13, (i * 5 + 2) % 13)
                                 for i in range(40)) if a != b}
                   | {(0, i) for i in range(1, 9)})   # hub: irregular degrees
    g = spark.createDataFrame(pairs, "src long, dst long")
    deg: dict = {}
    for a, b in pairs:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    xs = [deg[a] for a, b in pairs] + [deg[b] for a, b in pairs]
    ys = [deg[b] for a, b in pairs] + [deg[a] for a, b in pairs]
    want = float(np.corrcoef(xs, ys)[0, 1])
    got = graph_structure_stats(g).collect()[0]["assortativity"]
    assert got == _pytest.approx(want, abs=1e-6)


def test_hyperball_matches_exact_on_chain(spark):
    """Directed chain 0->1->...->31: ball_r(v) = {v..min(v+r, 31)}, so
    N(r) = sum_v min(r+1, n-v) exactly.  At these cardinalities the HLL
    sketches are in their exact (sparse) regime, so the estimate should
    land within a tight tolerance; radii must be monotone."""
    from hugegraph_on_tikv_spark.operators.analytics import hyperball

    n = 32
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "src long, dst long")
    rounds = []
    got = {r["radius"]: r["reachable_pairs"]
           for r in hyperball(edges, max_rounds=6, lg_k=12,
                              _rounds_out=rounds).collect()}
    for r in range(min(6, max(got)) + 1):
        exact = sum(min(r + 1, n - v) for v in range(n))
        assert abs(got[r] - exact) / exact < 0.05, (r, got[r], exact)
    vals = [got[r] for r in sorted(got)]
    assert vals == sorted(vals)


def test_hyperball_early_exit_on_plateau(spark):
    """Two disjoint 3-cliques saturate at radius 1; the round loop must
    stop well before max_rounds."""
    from hugegraph_on_tikv_spark.operators.analytics import hyperball

    tri = [(a, b) for c in (0, 10) for a in (c, c + 1, c + 2)
           for b in (c, c + 1, c + 2) if a != b]
    edges = spark.createDataFrame(tri, "src long, dst long")
    rounds = []
    nf = hyperball(edges, max_rounds=10, _rounds_out=rounds).collect()
    assert rounds[0] <= 3
    last = max(r["radius"] for r in nf)
    sat = {r["radius"]: r["reachable_pairs"] for r in nf}[last]
    # each clique: 3 vertices each reach all 3 -> 9 pairs per clique
    assert abs(sat - 18) / 18 < 0.05


def test_hyperball_summary_chain_diameter(spark):
    """Effective diameter of a 16-chain at quantile 0.9 sits between the
    radius bounds; avg distance is positive and below the diameter."""
    from hugegraph_on_tikv_spark.operators.analytics import hyperball_summary

    n = 16
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "src long, dst long")
    [r] = hyperball_summary(edges, max_rounds=20, quantile=0.9).collect()
    assert abs(r["n_vertices"] - n) / n < 0.05
    assert 0 < r["avg_distance"] < r["effective_diameter"] <= 15.0
    assert r["effective_diameter"] > 8     # 90% of pairs need long radii


def test_pagerank_warm_start_converges_faster(spark):
    """After a small edge delta, warm-starting from the previous ranks
    reaches the tol fixpoint in fewer rounds than a cold start, and the
    final ranks agree with the cold run."""
    from hugegraph_on_tikv_spark.operators.analytics import pagerank
    from pyspark.sql import functions as F

    n = 500
    # reset=0.5 keeps the contraction factor at 1/2 so the tol fixpoint is
    # reachable in tens of rounds (0.85 damping needs ~90 for 1e-7 — the
    # warm-start benefit is identical, the test just runs shorter)
    kw = dict(reset=0.5, tol=1e-6, checkpoint_every=2)
    # NOT a pure permutation: a permutation graph's fixpoint is uniform
    # 1.0 — exactly the cold start — which would make warm == cold by
    # construction.  The partial second out-edge family makes ranks
    # genuinely non-uniform.
    ring = spark.range(n).select(
        F.col("id").alias("src"), ((F.col("id") * 7 + 1) % n).alias("dst"))
    chords = spark.range(n // 3).select(
        F.col("id").alias("src"), ((F.col("id") * 3 + 2) % n).alias("dst"))
    base = ring.unionByName(chords)
    prev = pagerank(base, iterations=40, **kw)

    delta = spark.createDataFrame(
        [(i, (i * 13 + 5) % n) for i in range(5)], "src long, dst long")
    changed = base.unionByName(delta)

    cold_iters, warm_iters = [], []
    cold = pagerank(changed, iterations=60, _iters_out=cold_iters, **kw)
    warm = pagerank(changed, iterations=60, init_ranks=prev,
                    _iters_out=warm_iters, **kw)
    assert warm_iters[0] < cold_iters[0], (warm_iters, cold_iters)
    c = {r["id"]: r["rank"] for r in cold.collect()}
    w = {r["id"]: r["rank"] for r in warm.collect()}
    assert set(c) == set(w)
    assert max(abs(c[i] - w[i]) for i in c) < 1e-4


def test_pagerank_warm_start_handles_new_and_gone_vertices(spark):
    """init_ranks missing a (new) vertex falls back to the cold value;
    stale entries for vertices no longer in the graph are dropped."""
    from hugegraph_on_tikv_spark.operators.analytics import pagerank
    from pyspark.sql import functions as F

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)],
                                  "src long, dst long")
    stale = spark.createDataFrame([(1, 0.9), (2, 1.1), (99, 5.0)],
                                  "id long, rank double")
    got = pagerank(edges, iterations=8, init_ranks=stale)
    ids = sorted(r["id"] for r in got.collect())
    assert ids == [1, 2, 3]          # 99 dropped, 3 initialized cold


def test_hyperball_empty_graph(spark):
    from hugegraph_on_tikv_spark.operators.analytics import (
        hyperball, hyperball_summary)

    empty = spark.createDataFrame([], "src long, dst long")
    assert hyperball(empty).count() == 0
    [r] = hyperball_summary(empty).collect()
    assert (r["n_vertices"], r["avg_distance"],
            r["effective_diameter"]) == (0.0, 0.0, 0.0)


def test_induced_subgraph_and_ego_network(spark, tiny):
    from hugegraph_on_tikv_spark.operators import traversal

    ids = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    got = {(r["src"], r["dst"])
           for r in traversal.induced_subgraph(tiny, ids).collect()}
    assert got == {(1, 2), (2, 3), (1, 3)}     # (3,4) and (5,1) cut

    # ego net of 1 at k=1 (both directions): {1,2,3,5} -> induced edges
    ego = {(r["src"], r["dst"])
           for r in traversal.ego_network(tiny, 1, k=1).collect()}
    assert ego == {(1, 2), (2, 3), (1, 3), (5, 1)}
    # directed out-only 1-hop: {1,2,3} -> (5,1) drops out
    ego_out = {(r["src"], r["dst"])
               for r in traversal.ego_network(tiny, 1, k=1,
                                              direction="out").collect()}
    assert ego_out == {(1, 2), (2, 3), (1, 3)}


def _kruskal_reference(edges):
    """Pure-Python Kruskal with union-find over (u, v, w) tuples; the
    priority order mirrors analytics._edge_priority (w, u, v)."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    forest = []
    for u, v, w in sorted(edges, key=lambda e: (e[2], e[0], e[1])):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
            forest.append((u, v, w))
    return sorted(forest)


def test_spanning_forest_matches_kruskal_random(spark):
    import random

    rng = random.Random(7)
    for trial in range(4):
        n = rng.randint(8, 40)
        seen = set()
        rows = []
        for _ in range(rng.randint(n, 3 * n)):
            u, v = rng.randint(0, n - 1), rng.randint(0, n - 1)
            if u == v:
                continue
            u, v = min(u, v), max(u, v)
            if (u, v) in seen:
                continue
            seen.add((u, v))
            rows.append((u, v, float(rng.randint(1, 6))))  # heavy weight ties
        if not rows:
            continue
        e = spark.createDataFrame(rows, "src long, dst long, weight double")
        got = sorted(
            (r.u, r.v, r.weight)
            for r in analytics.spanning_forest(e).collect())
        assert got == _kruskal_reference(rows), f"trial {trial}"


def test_spanning_forest_chain_and_multigraph(spark):
    # a path graph with strictly increasing weights builds the worst-case
    # pointer chain (every component points left) — exercises the doubling
    rows = [(i, i + 1, float(i + 1)) for i in range(32)]
    e = spark.createDataFrame(rows, "src long, dst long, weight double")
    got = sorted((r.u, r.v, r.weight)
                 for r in analytics.spanning_forest(e).collect())
    assert got == [(i, i + 1, float(i + 1)) for i in range(32)]
    # parallel edges keep only the lightest; reversed duplicates collapse
    rows = [(1, 2, 5.0), (2, 1, 3.0), (1, 2, 9.0), (2, 3, 1.0)]
    e = spark.createDataFrame(rows, "src long, dst long, weight double")
    got = sorted((r.u, r.v, r.weight)
                 for r in analytics.spanning_forest(e).collect())
    assert got == [(1, 2, 3.0), (2, 3, 1.0)]


def test_spanning_forest_two_components(spark):
    rows = [(0, 1, 1.0), (1, 2, 2.0), (0, 2, 3.0),
            (10, 11, 1.0), (11, 12, 1.0), (10, 12, 1.0)]
    e = spark.createDataFrame(rows, "src long, dst long, weight double")
    got = sorted((r.u, r.v, r.weight)
                 for r in analytics.spanning_forest(e).collect())
    # triangle 0-1-2 drops its heaviest edge; tie triangle keeps the two
    # (weight, u, v)-smallest edges
    assert got == [(0, 1, 1.0), (1, 2, 2.0), (10, 11, 1.0), (10, 12, 1.0)]
    # forest size = n_vertices - n_components
    assert len(got) == 6 - 2


def test_mis_is_independent_and_maximal(spark):
    import random

    rng = random.Random(11)
    for trial in range(4):
        n = rng.randint(6, 50)
        rows = sorted({
            (min(u, v), max(u, v))
            for u, v in (
                (rng.randint(0, n - 1), rng.randint(0, n - 1))
                for _ in range(3 * n))
            if u != v})
        if not rows:
            continue
        e = spark.createDataFrame(
            [(u, v) for u, v in rows], "src long, dst long")
        mis = {r.id for r in analytics.maximal_independent_set(e).collect()}
        adj = {}
        for u, v in rows:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        # independence: no edge inside the set
        assert not any(u in mis and v in mis for u, v in rows), f"trial {trial}"
        # maximality: every non-member has a member neighbor
        for x in adj:
            if x not in mis:
                assert adj[x] & mis, f"trial {trial}: {x} addable"


def test_mis_star_and_rounds_deterministic(spark):
    # star: either the hub alone or all leaves — priorities decide, and the
    # result must be identical across runs (determinism contract)
    rows = [(0, i) for i in range(1, 9)]
    e = spark.createDataFrame(rows, "src long, dst long")
    a = sorted((r.id, r.round)
               for r in analytics.maximal_independent_set(e).collect())
    b = sorted((r.id, r.round)
               for r in analytics.maximal_independent_set(e).collect())
    assert a == b
    ids = {i for i, _ in a}
    assert ids == {0} or ids == set(range(1, 9))


def test_greedy_coloring_proper_and_minimal_palette(spark):
    import random

    rng = random.Random(3)
    for trial in range(3):
        n = rng.randint(6, 40)
        rows = sorted({
            (min(u, v), max(u, v))
            for u, v in ((rng.randint(0, n - 1), rng.randint(0, n - 1))
                         for _ in range(3 * n)) if u != v})
        if not rows:
            continue
        e = spark.createDataFrame([(u, v) for u, v in rows],
                                  "src long, dst long")
        col = {r.id: r.color
               for r in analytics.greedy_coloring(e).collect()}
        assert all(col[u] != col[v] for u, v in rows), f"trial {trial}"
        maxdeg = max(
            sum(1 for a, b in rows if v in (a, b)) for v in col)
        assert max(col.values()) <= maxdeg, f"trial {trial}"
        # greedy never skips a color a vertex could have used
        adj = {}
        for u, v in rows:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        for v, c in col.items():
            nb_colors = {col[u] for u in adj[v]}
            assert all(x in nb_colors for x in range(c)), f"{v} skipped"


def test_greedy_coloring_bipartite_two_colors(spark):
    # even cycle: 2-colorable, and greedy on any schedule uses <= 3;
    # a star colors hub+leaves in 2
    rows = [(i, (i + 1) % 8) for i in range(8)]
    e = spark.createDataFrame(rows, "src long, dst long")
    col = {r.id: r.color for r in analytics.greedy_coloring(e).collect()}
    assert all(col[u] != col[v] for u, v in [(i, (i + 1) % 8) for i in range(8)])
    rows = [(0, i) for i in range(1, 7)]
    e = spark.createDataFrame(rows, "src long, dst long")
    col = {r.id: r.color for r in analytics.greedy_coloring(e).collect()}
    assert len(set(col.values())) == 2


def test_node2vec_walks_match_reference(spark):
    import hashlib
    import random

    def md548(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)

    def reference(edges, seeds, length, p, q, per):
        adj = {}
        und = set()
        for s, d in edges:
            adj.setdefault(s, []).append(d)
            und.add((s, d)); und.add((d, s))
        ret_w, far_w = round(1e6 / p), round(1e6 / q)
        rows = []
        for i, v in enumerate(seeds):
            for j in range(per):
                wid = i * per + j
                prev, cur = None, v
                rows.append((wid, 0, cur))
                for t in range(1, length + 1):
                    cands = adj.get(cur, [])
                    if not cands:
                        break
                    best = None
                    for nbr in cands:
                        h = md548(f"{wid}:{t}:{nbr}:")
                        if prev is None:
                            a = 1_000_000
                        elif nbr == prev:
                            a = ret_w
                        elif (prev, nbr) in und:
                            a = 1_000_000
                        else:
                            a = far_w
                        key = (h // a, nbr)
                        if best is None or key < best[0]:
                            best = (key, nbr)
                    prev, cur = cur, best[1]
                    rows.append((wid, t, cur))
        return sorted(rows)

    rng = random.Random(5)
    n = 30
    edges = sorted({(rng.randint(0, n - 1), rng.randint(0, n - 1))
                    for _ in range(120)})
    edges = [(u, v) for u, v in edges if u != v]
    e = spark.createDataFrame(edges, "src long, dst long")
    seeds = [0, 1, 2]
    got = sorted(
        (r.wid, r.step, r.vertex)
        for r in analytics.node2vec_walks(
            e, seeds, length=6, p=4.0, q=0.25, walks_per_node=2).collect())
    assert got == reference(edges, seeds, 6, 4.0, 0.25, 2)


def test_node2vec_bias_steers_walks(spark):
    # triangle fan + long tail: with q tiny (in-out favored), walks leave
    # the clique; with p tiny (return favored), walks bounce — the two
    # settings must produce different trajectories on the same seed
    edges = [(0, 1), (1, 0), (1, 2), (2, 1), (0, 2), (2, 0),
             (2, 3), (3, 4), (4, 5), (5, 6)]
    e = spark.createDataFrame(edges, "src long, dst long")
    a = sorted((r.wid, r.step, r.vertex) for r in
               analytics.node2vec_walks(e, [0], 5, p=100.0, q=0.01).collect())
    b = sorted((r.wid, r.step, r.vertex) for r in
               analytics.node2vec_walks(e, [0], 5, p=0.01, q=100.0).collect())
    assert a != b
    with pytest.raises(ValueError):
        analytics.node2vec_walks(e, [0], 3, p=0.0)


def test_greedy_coloring_shuffle_fallback_same_colors(spark, no_broadcast):
    """The broadcast guard is a PLAN choice, never a semantics choice:
    forcing the shuffle fallback (a disabled broadcast budget — the
    regime of an over-budget pick at 100x scale) yields the identical
    deterministic coloring."""
    rows = [(i, (i * 5 + 2) % 37) for i in range(37) if i != (i * 5 + 2) % 37]
    e = spark.createDataFrame(rows, "src long, dst long")
    a = sorted((r.id, r.color)
               for r in analytics.greedy_coloring(e).collect())
    with no_broadcast():
        b = sorted((r.id, r.color)
                   for r in analytics.greedy_coloring(e).collect())
    assert a == b


def test_numerator_from_sed_equals_original_graph(spark):
    """VERDICT r9 #4 pin: the contracted-graph numerator guard
    (_numerator_from_sed on a super-graph) must equal the original
    graph's numerator for ANY labeling of the super-vertices — random
    graphs, random contractions, random super-labelings.  The reference
    is computed in pure Python from the row lists (Σ 4m·e_c − d_c² over
    communities), and the unit-weight original graph — louvain_full's
    final consistency check — must agree with both."""
    import random
    from collections import Counter

    from pyspark.sql import functions as F

    rng = random.Random(11)
    for trial in range(3):
        n = rng.randint(8, 24)
        rows = sorted({(min(u, v), max(u, v))
                       for u, v in ((rng.randint(0, n - 1),
                                     rng.randint(0, n - 1))
                                    for _ in range(3 * n)) if u != v})
        e = spark.createDataFrame(rows, "src long, dst long")
        und = analytics._undirected_simple(e).localCheckpoint(eager=True)
        m = und.count()
        assert m == len(rows)
        ids = sorted({x for r in rows for x in r})
        # random contraction: vertex -> community of the level below
        lvl1 = {v: rng.choice(ids[: max(2, n // 3)]) for v in ids}
        lab = spark.createDataFrame(list(lvl1.items()), "id long, _c long")
        lu = lab.select(F.col("id").alias("u"), F.col("_c").alias("cu"))
        lv = lab.select(F.col("id").alias("v"), F.col("_c").alias("cv"))
        sed = (und.join(lu, "u").join(lv, "v")
               .select(F.least("cu", "cv").alias("u2"),
                       F.greatest("cu", "cv").alias("v2"))
               .groupBy("u2", "v2").agg(F.count(F.lit(1)).alias("w")))
        sids = sorted({r.u2 for r in sed.collect()}
                      | {r.v2 for r in sed.collect()})
        # random super-labeling on top of the contraction
        sl = {s: rng.choice(sids) for s in sids}
        slab = spark.createDataFrame(list(sl.items()), "sid long, sc long")
        comm = {v: sl[lvl1[v]] for v in ids}
        e_c = Counter(comm[u] for u, v in rows if comm[u] == comm[v])
        d_c = Counter()
        for u, v in rows:
            d_c[comm[u]] += 1
            d_c[comm[v]] += 1
        want = sum(4 * m * e_c[c] - d * d for c, d in d_c.items())
        got = analytics._numerator_from_sed(sed, m, slab)
        assert got == want, (trial, got, want)
        projected = spark.createDataFrame(list(comm.items()),
                                          "sid long, sc long")
        unit = analytics._numerator_from_sed(analytics._unit(und), m,
                                             projected)
        assert unit == want, (trial, unit, want)


def test_louvain_level1_parity_breaks_ring_oscillation(spark):
    """r10 regression pin: on a symmetric cycle a fully synchronous
    local-move sweep oscillates (every vertex swaps at once) and the
    exact-numerator guard rejects every round, leaving all singletons.
    With the md5-parity symmetry breaker at level 1, the local-move
    phase must make REAL progress (strictly fewer communities than
    vertices), and the full two-level run may only merge further."""
    rows = [(i, (i + 1) % 30) for i in range(30)]
    e = spark.createDataFrame(rows, "src long, dst long")
    n_local = analytics.louvain(e).select("community").distinct().count()
    assert n_local < 30, "level-1 local moves accepted nothing"
    n_full = analytics.louvain_full(e).select("community") \
        .distinct().count()
    assert n_full <= n_local


def test_louvain_full_three_level_schedule_is_monotone(spark):
    """r11 (VERDICT r10 #6): max_levels=3 iterates contraction while a
    level accepts; the captured per-level accepted numerators must be
    non-decreasing (strict-improvement guard) and the final numerator
    must match the last accepted level's.  The ring-of-triangles graph
    exercises at least one accepted contraction level."""
    edges = []
    for i in range(12):
        b = 3 * i
        edges += [(b, b + 1), (b, b + 2), (b + 1, b + 2),
                  (b + 2, 3 * ((i + 1) % 12))]
    e = spark.createDataFrame(edges, "src long, dst long")
    cap: dict = {}
    out = analytics.louvain_full(e, max_levels=3, _capture=cap)
    assert out.count() == 36
    seq = [cap["level1_num"]] + cap.get("level_nums", [])
    assert seq == sorted(seq), seq
    assert len(seq) >= 2, "no contraction level accepted"
    assert cap["final_num"] == seq[-1]


def test_louvain_identity_proposal_fastpath_equal(spark):
    """r11: the proposal's identity fast path (taken on rounds where the
    labeling is provably still the singleton identity) must propose
    EXACTLY the generic path's labeling — winner, gain gate and parity
    decisions included — for both parities and none, on the unit-weight
    graph of level 1 (hubs, ties, parallel-ish structure) and on a
    contracted-style super-graph with self-loops."""
    edges = [(i, (i + 1) % 30) for i in range(30)]          # cycle
    edges += [(0, j) for j in range(2, 12)]                  # hub fan
    edges += [(40, 41), (41, 42), (40, 42), (42, 43)]        # triangle+tail
    e = spark.createDataFrame(edges, "src long, dst long")
    und = analytics._undirected_simple(e).localCheckpoint(eager=True)
    unit = (analytics._unit(und), und.count())
    sed = spark.createDataFrame(
        [(1, 2, 3), (1, 3, 1), (2, 3, 2), (1, 1, 4), (3, 4, 1),
         (4, 5, 2), (5, 5, 1)], "u2 long, v2 long, w long")
    weighted = (sed, 14)  # total weight = Σ w
    for g, m in (unit, weighted):
        ident = (g.select(F.col("u2").alias("sid"))
                 .unionByName(g.select(F.col("v2").alias("sid"))).distinct()
                 .select("sid", F.col("sid").alias("sc")))
        for par in (0, 1, None):
            gen = {(r["sid"], r["sc"])
                   for r in analytics._weighted_move_proposal(
                       g, ident, m, parity=par).collect()}
            fast = {(r["sid"], r["sc"])
                    for r in analytics._weighted_move_proposal(
                        g, ident, m, parity=par, identity=True).collect()}
            assert fast == gen, (m, par, fast ^ gen)


def test_louvain_proposal_round_exchange_free(spark):
    """r11 plan pin (the greedy_coloring posture brought to Louvain):
    with the level's persisted adjacency hash-partitioned on `sid`
    (_level_invariants), a broadcast-regime proposal round's two
    edge-scale aggregations — groupBy(sid, cand) and the min_by argmax
    groupBy(sid) — must reuse the cached partitioning: the EXECUTED plan
    may contain no ENSURE_REQUIREMENTS exchange keyed on the vertex sid
    (the only sid-keyed exchange is the one-time REPARTITION_BY_COL
    inside the cached relation).  Community-keyed exchanges (d_c)
    are vertex-scale and allowed."""
    import re

    edges = [(i, (i + 1) % 200) for i in range(200)]
    edges += [(i, (i * 7 + 3) % 200) for i in range(0, 200, 3)]
    e = spark.createDataFrame(edges, "src long, dst long")
    und = analytics._undirected_simple(e).localCheckpoint(eager=True)
    m = und.count()
    sed = analytics._unit(und)
    wdeg, adj = analytics._level_invariants(sed, small=True)
    try:
        adj.count()   # materialize the cache as round 1's job would
        lab = wdeg.select("sid", (F.col("sid") % 7).alias("sc"))
        prop = analytics._weighted_move_proposal(
            sed, lab, m, small=True, wdeg=wdeg, adj=adj, parity=0)
        prop.write.format("noop").mode("overwrite").save()
        txt = prop._jdf.queryExecution().executedPlan().toString()
        # every sid-keyed hashpartitioning exchange must be either the
        # cached REPARTITION_BY_COL or wdeg's one-time cached build
        # (child = the sid-keyed partial_sum aggregate over the edge
        # endpoints, textually repeated per InMemoryTableScan of wdeg) —
        # never a per-round insertion: the removed exchanges were keyed
        # (sid, cand) (the nbr aggregation) and sid-with-a-min_by-child
        # (the argmax)
        lines = txt.splitlines()
        bad = []
        for i, l in enumerate(lines):
            if not re.search(r"Exchange hashpartitioning\(sid#\d+", l):
                continue
            if "REPARTITION_BY_COL" in l:
                continue
            nxt = lines[i + 1] if i + 1 < len(lines) else ""
            is_deg_build = ("partial_sum(w" in nxt
                            and "cand" not in l and "cand" not in nxt)
            if not is_deg_build:
                bad.append((l.strip()[:110], nxt.strip()[:110]))
        assert not bad, bad
    finally:
        wdeg.unpersist()
        adj.unpersist()


def test_edge_priority_struct_order_equals_string_order(spark):
    """r11 keystone for the forest rewrite: lexicographic order on
    struct(kw, u, v) must equal `_edge_priority`'s zero-padded string
    order on the same triples — the SQL oracle replays the STRING form,
    so any divergence would silently pick a different forest.  Randomish
    md5-derived triples, compared by full sort."""
    from pyspark.sql import functions as F

    rows = spark.range(500).select(
        (F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 7),
                16, 10).cast("long") % 997).alias("kw"),
        (F.conv(F.substring(F.md5(F.col("id").cast("string")), 8, 7),
                16, 10).cast("long") % 100_000).alias("u"),
        (F.conv(F.substring(F.md5(F.col("id").cast("string")), 15, 7),
                16, 10).cast("long") % 100_000).alias("v"))
    df = rows.withColumn(
        "skey", analytics._edge_priority(F.col("kw").cast("double") / 100,
                                         F.col("u"), F.col("v")))
    by_struct = [(r["kw"], r["u"], r["v"]) for r in
                 df.orderBy(analytics._edge_priority_struct()).collect()]
    by_string = [(r["kw"], r["u"], r["v"]) for r in
                 df.orderBy("skey").collect()]
    assert by_struct == by_string


def test_spanning_forest_broadcast_fallback_equality(spark, no_broadcast):
    """r11: the forest is identical whether the per-component root table
    broadcasts (guard default) or falls back to shuffle joins — the
    guard changes plans, never results."""
    import random

    rng = random.Random(11)
    rows = [(a, b, float(rng.randint(1, 50)))
            for a in range(30) for b in range(a + 1, 30)
            if rng.random() < 0.2]
    e = spark.createDataFrame(rows, "src long, dst long, weight double")
    on = sorted(analytics.spanning_forest(e).collect())
    with no_broadcast():
        off = sorted(analytics.spanning_forest(e).collect())
    assert on == off and len(on) > 0
