"""Graph analytics (SURVEY.md §7 phase 3 — the project north star).

The reference has no analytics operators (its splits API, TikvTable.java:
284-336, exists precisely so OLAP engines like Spark can scan the graph in
parallel and do this work).  These are GraphX-style algorithms re-expressed
as DataFrame programs: aggregate-messages = groupBy on message destination;
iterative algorithms run their rounds through `_fixpoint`.  Two rounds
are written once each and shared:

* the sum-product round `_sum_product`, x(v) = base(v) + damping ·
  Σ contrib(x(u)) over in-edges — pagerank and katz_centrality;
* the relax round `_relax`, which unions the messages shipped along the
  edges with the state and re-aggregates — min for sssp and
  shortest_paths (one Bellman-Ford loop, `_bellman_ford`),
  hll_union_agg for hyperball.

Scale posture: every iteration joins the edge table with the vertex
state.  While the state fits the broadcast budget, pagerank, katz and
label propagation broadcast it over an edge side partitioned on the key
the round aggregates, so a round moves nothing but the state (the rule is
stated once in pagerank's docstring; tests/test_plans.py pins the round
plans).  Past the budget, persist `edges` as the dual bucketed layout
(sources/edge_layout.py) and pass the by-src copy in — pagerank's
out-degree aggregate and shuffle-path contribution join both key on
`src`, so they run exchange-free on that copy; AQE handles skewed hub
vertices (skew-join splitting).  Degrees/messages use map-side partial
aggregation natively.
"""

from __future__ import annotations

from functools import reduce
from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hugegraph_on_tikv_spark.operators.traversal import broadcast_fits


def degrees(edges: DataFrame) -> DataFrame:
    """(id, out_degree, in_degree, degree) for every vertex appearing in an
    edge.  Endpoint-explode + ONE partial-aggregated groupBy — half the
    shuffles of the groupBy-per-direction + outer-join formulation."""
    endpoints = edges.select(
        F.col("src").alias("id"), F.lit(1).alias("is_out"), F.lit(0).alias("is_in")
    ).unionByName(
        edges.select(F.col("dst").alias("id"), F.lit(0).alias("is_out"), F.lit(1).alias("is_in"))
    )
    return endpoints.groupBy("id").agg(
        F.sum("is_out").alias("out_degree"),
        F.sum("is_in").alias("in_degree"),
        F.count(F.lit(1)).alias("degree"),
    )


def aggregate_messages(edges: DataFrame, vertices: DataFrame | None,
                       msg_to_dst: Column | None = None,
                       msg_to_src: Column | None = None,
                       agg: Column | None = None) -> DataFrame:
    """GraphX aggregateMessages on DataFrames: evaluate message expressions
    over edge (+ joined vertex attrs when `vertices` given), fan them to the
    named endpoint, and aggregate per receiving vertex.

    `msg_to_dst`/`msg_to_src` are Column expressions over the (joined) edge
    row; `agg` aggregates column "msg" (default sum)."""
    agg = agg if agg is not None else F.sum("msg")
    e = edges
    if vertices is not None:
        src_v = vertices.select([F.col(c).alias(f"src_{c}") for c in vertices.columns])
        dst_v = vertices.select([F.col(c).alias(f"dst_{c}") for c in vertices.columns])
        e = (
            e.join(src_v, e.src == F.col("src_id"), "left")
            .join(dst_v, e.dst == F.col("dst_id"), "left")
        )
    parts = []
    if msg_to_dst is not None:
        parts.append(e.select(F.col("dst").alias("id"), msg_to_dst.alias("msg")))
    if msg_to_src is not None:
        parts.append(e.select(F.col("src").alias("id"), msg_to_src.alias("msg")))
    if not parts:
        raise ValueError("at least one of msg_to_dst/msg_to_src required")
    msgs = parts[0]
    for p in parts[1:]:
        msgs = msgs.unionByName(p)
    return msgs.groupBy("id").agg(agg.alias("agg_msg"))


def pagerank(edges: DataFrame, iterations: int = 10, reset: float = 0.15,
             checkpoint_every: int = 3, broadcast_ranks: bool | None = None,
             state_partitions: int | None = None,
             teleport_ids=None, weight_col: str | None = None,
             tol: float | None = None, init_ranks: DataFrame | None = None,
             _iters_out: list | None = None) -> DataFrame:
    """Standard damped PageRank over the directed edge list; dangling mass is
    NOT redistributed (matches GraphX's default behavior).  Returns
    (id, rank).  Ranks start at 1.0 per vertex.

    `teleport_ids` (a small seed sequence) switches to PERSONALIZED
    PageRank: the reset mass lands only on the seed set (teleport vector =
    1.0 on seeds, 0 elsewhere — the unnormalized convention matching the
    global form's all-ones start), so ranks measure proximity to the seeds.
    Same iteration plan, one extra literal isin column; the seed list is a
    query parameter, not data (point-lookup scale, like the multi-id
    lookups).

    `weight_col` switches to WEIGHTED PageRank: contributions ship
    rank·w/Σ_out w instead of rank/out_degree (NULL weights count as 1.0,
    so partially-weighted edge views behave sensibly).  Identical plan
    shape — the normalization aggregate sums weights instead of counting
    rows; the unweighted path keeps its exact count-based arithmetic.

    Each iteration is one round of the sum-product engine `_sum_product`:
    rank(v) = reset·tele(v) + (1 − reset) · Σ_{(u,v)∈E} contrib(u, v),
    contrib = rank(u)/out_degree(u) shipped along the degree-normalized
    edge side, grouped by dst.  katz_centrality runs the same rounds.

    `init_ranks` (opt-in, (id, rank)) warm-starts the iteration from a
    previous run's output — the incremental path after an edge delta:
    combined with `tol`, re-convergence over a slightly-changed graph
    takes a fraction of the cold rounds (power iteration contracts toward
    the new fixpoint from wherever it starts, so the answer is unchanged;
    only the round count moves).  New vertices fall back to the cold
    value; departed vertices' stale entries drop out in the join.

    `tol` (opt-in) adds convergence early-exit: on the checkpoint cadence
    the max |Δrank| since the previous checkpoint — the start vector at the
    first probe, so a start already within tol stops there — is probed by
    the checkpoint's own job (`_fixpoint`), and iteration stops once it
    falls under tol.  The default (None) keeps the exact fixed-iteration
    plan for oracle determinism; at 100× scale a fixed count either wastes
    rounds or under-converges, so production runs pass tol.  `_iters_out`,
    when a list, receives the executed iteration count (test/telemetry hook).

    broadcast_ranks=None (the default) asks `broadcast_fits` with the
    vertex count; explicit True/False overrides the guard.  The verdict
    picks the partitioning of the loop-invariant edge side, which is
    built after it.  This partition rule is `_sum_product`'s, so it holds
    for pagerank and katz_centrality alike; label_propagation keeps its
    own copy keyed on `a`:

    * state broadcast: the edge side is persisted hash-partitioned on the
      round's AGGREGATION key (`dst` here), into `state_partitions`
      partitions or the session's shuffle partitions when None.  The
      broadcast-hash join keeps the edge side's partitioning, so the
      round's group-by runs in place and a round is one job, the state's
      BroadcastExchange.  Only the first round still shuffles its
      contributions: its plan is made before the edge side's cache is
      filled, and AQE reports no partitioning for an unfilled cache.
    * state past the budget: the edge side stays keyed on the JOIN key
      (`src`; repartitioned only when `state_partitions` is given, and
      exchange-free on a bucketed-by-src copy).  Each round shuffles the
      state to `src` for the join and the contributions to `dst` for the
      group-by.
    """
    def tele_of(col: Column) -> Column:
        # teleport vector as a function of an arbitrary id column: the
        # rounds need it on "id" AND on the edge side's "src" for the
        # left-join fill
        if teleport_ids is not None:
            return (F.when(col.isin([int(v) for v in teleport_ids]),
                           F.lit(1.0)).otherwise(F.lit(0.0)))
        return F.lit(1.0)

    if weight_col is None:
        deg, e_sel = F.count(F.lit(1)), edges.select("src", "dst")
    else:
        w = F.coalesce(F.col(weight_col).cast("double"), F.lit(1.0))
        deg, e_sel = F.sum(w), edges.select("src", "dst", w.alias("_w"))
    out_deg = edges.groupBy(F.col("src").alias("id")).agg(
        deg.alias("out_degree"))

    def contrib(rank: Column) -> Column:
        return ((rank if weight_col is None else rank * F.col("_w"))
                / F.col("out_degree"))

    return _sum_product(
        edges, e_sel.join(out_deg.withColumnRenamed("id", "src"), "src"),
        contrib, lambda c: F.lit(reset) * tele_of(c), 1.0 - reset, "rank",
        iterations, start=tele_of(F.col("id")), init=init_ranks,
        broadcast=broadcast_ranks, state_partitions=state_partitions,
        every=checkpoint_every, tol=tol, iters_out=_iters_out)


def katz_centrality(edges: DataFrame, iterations: int = 8,
                    alpha: float = 0.05, beta: float = 1.0,
                    checkpoint_every: int = 3,
                    state_partitions: int | None = None) -> DataFrame:
    """Katz centrality over the directed edge list: x_{t+1}(v) = beta +
    alpha · Σ_{(u,v)∈E} x_t(u), x_0 = beta — i.e. each vertex counts walks
    of every length arriving at it, damped by alpha^length (Katz 1953).
    Unlike PageRank there is NO out-degree normalization: a prolific
    source passes its full score along every edge, so alpha must stay
    below 1/λ_max for the series to converge (the default 0.05 is safe
    for the test graphs; fixed `iterations` bounds the computation either
    way).  Returns (id, katz), unnormalized.

    Runs pagerank's rounds (`_sum_product`, with pagerank's partition
    rule): base beta, damping alpha, and the bare (src, dst) edge side
    shipping the score itself — no degree-normalization join.
    """
    return _sum_product(
        edges, edges.select("src", "dst"), lambda r: r,
        lambda c: F.lit(float(beta)), float(alpha), "katz", iterations,
        start=F.lit(float(beta)), state_partitions=state_partitions,
        every=checkpoint_every)


def _sum_product(edges: DataFrame, side: DataFrame,
                 contrib: Callable[[Column], Column],
                 base: Callable[[Column], Column], damping: float, col: str,
                 iterations: int, *, start: Column,
                 state_partitions: int | None, every: int,
                 init: DataFrame | None = None, broadcast: bool | None = None,
                 tol: float | None = None, iters_out: list | None = None
                 ) -> DataFrame:
    """The sum-product round of pagerank and katz_centrality:
    x(v) = base(v) + damping · Σ_{(u,v)∈side} contrib(x(u)), from x = start
    (or `init`'s (id, col) values, start filling the vertices it lacks);
    returns (id, col) over every endpoint of `edges`.

    `side` is the loop-invariant edge side, (src, dst) plus whatever
    columns `contrib` reads; it is partitioned by pagerank's partition rule
    on the `broadcast_fits` verdict (None asks the guard with the vertex
    count) and persisted for the rounds.  `damping` is the caller's own
    double, never derived, so the arithmetic is bit-identical to the
    operator's formula.

    From round 2 on the state only covers vertices WITH in-edges (the
    group-by's key set): an out-only vertex's value is the constant
    base(v) — base + damping·0.0 ≡ base in IEEE (x + 0.0 = x,
    damping·0.0 = +0.0) — so the contribution join goes LEFT with base as
    the fill, and the full vertex domain is restored ONCE after the loop
    instead of by a vertex-scale completion join every round.  `_fixpoint`
    cuts every `every` rounds and, with `tol`, probes max |Δcol| on those
    cuts; `iters_out`, when a list, receives the rounds run."""
    # state_partitions sizes every round's shuffle to the state's scale
    # instead of the session default: per-task fixed costs dominate
    # iterative jobs when partitions are oversized (measured 2.3x at sf0.1
    # with 32→8).  Sizing is PLAN-LEVEL — explicit repartition(n, key) on
    # the state, which Catalyst recognizes as satisfying the join/agg
    # distribution so no extra exchange is inserted — never a session-conf
    # override (which would race concurrent queries on the same session).
    # The vertex set is materialized once; without it every round's plan
    # re-reads and re-unions the raw edge sources.
    verts = _endpoints(edges)
    if state_partitions:
        verts = verts.repartition(state_partitions, "id")
    verts = verts.persist()
    try:
        if init is None:
            state = verts.withColumn(col, start)
        else:
            state = (verts.join(init.select("id", F.col(col).alias("_i")),
                                "id", "left")
                     .select("id", F.coalesce(F.col("_i"), start).alias(col)))
        if broadcast is None:
            # verts is persisted and needed immediately anyway; the count
            # is one cheap job against the cached state
            broadcast = broadcast_fits(state, verts.count())
        # the partition rule (pagerank's docstring): keyed on the
        # aggregation key under a broadcast state, else on the join key
        if broadcast:
            side = _keyed(side, "dst", state_partitions)
        elif state_partitions:
            side = side.repartition(state_partitions, "src")
        side = side.persist()

        def step(state: DataFrame, i: int) -> DataFrame:
            src_side = state.withColumnRenamed("id", "src")
            if broadcast:
                src_side = F.broadcast(src_side)
            elif state_partitions:
                src_side = src_side.repartition(state_partitions, "src")
            x = F.coalesce(F.col(col), base(F.col("src")))
            contribs = (side.join(src_side, "src", "left")
                        .select(F.col("dst").alias("id"),
                                contrib(x).alias("contrib")))
            if state_partitions and not broadcast:
                contribs = contribs.repartition(state_partitions, "id")
            return (contribs.groupBy("id")
                    .agg(F.sum("contrib").alias("contrib"))
                    .select("id", (base(F.col("id")) + F.lit(damping)
                                   * F.coalesce("contrib", F.lit(0.0)))
                            .alias(col)))

        state, rounds, _ = _fixpoint(
            step, state, iterations, every=every,
            probe=None if tol is None else _within(tol, col))
        if iters_out is not None:
            iters_out.append(rounds)
        if rounds:
            state = verts.join(state, "id", "left").select(
                "id", F.coalesce(F.col(col), base(F.col("id"))).alias(col))
        return state.localCheckpoint(eager=True)
    finally:
        verts.unpersist()
        side.unpersist()


def hits(edges: DataFrame, iterations: int = 8,
         state_partitions: int | None = None,
         tol: float | None = None,
         _iters_out: list | None = None) -> DataFrame:
    """HITS hubs & authorities (Kleinberg): per iteration the authority
    score is the sum of in-neighbor hub scores, then the hub score is the
    sum of out-neighbor NEW authority scores; each vector is normalized by
    its MAX — max is an exact order-independent selection (unlike an L2
    norm's float sum-of-squares), so normalization adds no cross-engine
    wobble beyond the group sums pagerank already lives with (absorbed by
    the caller's final rounding).  Returns (id, authority, hub) scaled to
    [0, 1].

    Plan shape per iteration: two aggregate-messages shuffles + two scalar
    max aggregates broadcast back; iteration-invariant edge list persisted
    once; `_fixpoint` cuts the (id, auth, hub) state every round (a round
    reads its input several times, so a two-round lazy chain re-plans those
    reads at about 3× the Spark jobs) — the same bucketed-by-key
    co-location note as pagerank applies at cluster scale.  `tol` (opt-in,
    like pagerank's) early-exits when the max |Δauth| AND max |Δhub| since
    the previous round both fall under tol, the first probe comparing
    against the start vectors; default None keeps the fixed-iteration
    oracle plan."""
    e = edges.select("src", "dst").distinct()
    if state_partitions:
        e = e.repartition(state_partitions, "src")
    e = e.persist()
    verts = _endpoints(e).persist()
    try:
        def step(ah: DataFrame, i: int) -> DataFrame:
            a = (e.join(ah.select(F.col("id").alias("src"), "hub"), "src")
                 .groupBy(F.col("dst").alias("id"))
                 .agg(F.sum("hub").alias("auth")))
            a = verts.join(a, "id", "left").select(
                "id", F.coalesce("auth", F.lit(0.0)).alias("auth"))
            amax = a.agg(F.max("auth").alias("amax"))
            a = a.join(F.broadcast(amax)).select(
                "id", F.when(F.col("amax") > 0,
                             F.col("auth") / F.col("amax"))
                .otherwise(F.lit(0.0)).alias("auth"))
            h = (e.join(a.withColumnRenamed("id", "dst"), "dst")
                 .groupBy(F.col("src").alias("id"))
                 .agg(F.sum("auth").alias("hub")))
            h = verts.join(h, "id", "left").select(
                "id", F.coalesce("hub", F.lit(0.0)).alias("hub"))
            hmax = h.agg(F.max("hub").alias("hmax"))
            h = h.join(F.broadcast(hmax)).select(
                "id", F.when(F.col("hmax") > 0,
                             F.col("hub") / F.col("hmax"))
                .otherwise(F.lit(0.0)).alias("hub"))
            # one row per vertex; union + group, not a ⋈ h, whose size
            # estimate (product of the sides) would square every round
            return (a.unionByName(h, allowMissingColumns=True)
                    .groupBy("id")
                    .agg(F.max("auth").alias("auth"),
                         F.max("hub").alias("hub")))

        ah, iters_done, _ = _fixpoint(
            step, verts.select("id", F.lit(0.0).alias("auth"),
                               F.lit(1.0).alias("hub")), iterations,
            probe=None if tol is None else _within(tol, "auth", "hub"))
        if _iters_out is not None:
            _iters_out.append(iters_done)
        return ah.select("id", "auth", "hub").localCheckpoint(eager=True)
    finally:
        e.unpersist()
        verts.unpersist()


def connected_components(edges: DataFrame,
                         max_iterations: int = 20) -> DataFrame:
    """Undirected connected components by iterative min-id label propagation
    (HashMin).  Returns (id, component) where component = min vertex id in
    the component.  Converges in O(diameter) rounds; each round is one
    aggregate-messages shuffle.  (Large-star/small-star halves the round
    count for huge graphs — HashMin keeps the plan simple and is fine while
    diameters are small, which holds for our fixture graphs.)"""
    # The symmetric adjacency is iteration-INVARIANT: materialize it once
    # (r11, guide §2.4) — previously this union+distinct subtree, AND the
    # caller's entire upstream lineage (e.g. er_clusters passes the raw
    # linkage pipeline in), re-executed inside every round's message join
    # and the label init.  One edge-scale job up front, which also counts
    # the vertices; every round after reads the checkpointed RDD.
    adj, n_v = _ckpt(_symmetric(edges, "src", "dst").distinct(),
                     lambda ck: ck.select("a").distinct().count())
    labels = (
        adj.select(F.col("a").alias("id")).distinct().withColumn("component", F.col("id"))
    )
    # r11 (guide §3.1, the pagerank/coloring posture): the label table is
    # VERTEX-scale but joins the EDGE-scale adjacency every round, and the
    # checkpointed adj/label frames carry default (huge) size stats
    # (_ckpt contract), so the planner never auto-broadcasts and AQE
    # can only demote AFTER the edge set has already shuffled.  The vertex
    # count from adj's checkpoint decides explicitly; past the guard the
    # shuffle plan stays.
    bcast = broadcast_fits(labels, n_v)

    def step(labels: DataFrame, i: int) -> DataFrame:
        labels = labels.select("id", "component")
        lab_b = labels.withColumnRenamed("id", "b_id")
        if bcast:
            lab_b = F.broadcast(lab_b)
        msgs = (
            adj.join(lab_b, adj.b == F.col("b_id"))
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("component").alias("nbr_min"))
        )
        if bcast:
            msgs = F.broadcast(msgs)
        return (
            labels.join(msgs, "id", "left")
            .select("id",
                    F.least(F.col("component"), F.coalesce("nbr_min", F.col("component"))).alias("component"),
                    # change flag for the fixpoint probe: HashMin labels
                    # only ever decrease, so a row changed iff a strictly
                    # smaller neighbor minimum arrived
                    (F.coalesce("nbr_min", F.col("component")) < F.col("component")).alias("_chg"))
        )

    labels, _, _ = _fixpoint(step, labels, max_iterations, every=3,
                             probe=_settled)
    return labels.drop("_chg")


def connected_components_star(edges: DataFrame, max_iterations: int = 25,
                              _rounds_out: list | None = None) -> DataFrame:
    """Undirected connected components by alternating large-star /
    small-star contraction (Kiveris et al., "Connected Components in
    MapReduce and Beyond") — the opt-in scale path next to HashMin
    (connected_components): HashMin needs O(diameter) rounds, which stalls
    on 100×-scale high-diameter graphs (chains, road networks); star
    contraction converges in O(log² n) rounds regardless of diameter,
    each round two groupBy-join shuffles over the shrinking edge list.

    * large-star: per vertex u with m = min(Γ(u) ∪ {u}), rewire every
      LARGER neighbor v > u to m.
    * small-star: orient edges toward the smaller endpoint; per vertex u
      rewire u and all its smaller neighbors to their minimum.

    Both steps preserve connectivity (paper lemma); the fixed point is a
    forest of stars rooted at each component's MINIMUM id, so the labels
    are identical to HashMin's (component = min vertex id) — equality-
    tested.  Convergence is detected by edge-set fixpoint via ONE aggregate
    per round — (count, two independently-seeded xxhash64 sums in
    decimal(38,0), overflow-free) — instead of the former exceptAll
    anti-join, which cost a full extra pass over the edge set each round.
    Two 64-bit order-insensitive checksums agreeing on equal-size DISTINCT
    edge sets has collision odds ~2^-128 per round; a false "converged"
    additionally requires the colliding set to be a non-fixpoint, so the
    never-wrong contract holds to cosmic-ray precision.  Unconverged after
    max_iterations raises (never wrong labels).  `_rounds_out`, when
    a list, receives the number of rounds used (test/telemetry hook).

    Returns (id, component) for every vertex of the input (isolated
    self-loop-only vertices are their own components)."""
    v0, n_v = _ckpt(_endpoints(edges))

    def _sig(df: DataFrame) -> tuple:
        """(count, hash-sum, seeded-hash-sum) of a DISTINCT canonical edge
        set — order-insensitive, one aggregate pass; decimal(38,0) sums
        cannot overflow (2^63 * n fits comfortably in 38 digits)."""
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h1"),
            F.sum(F.xxhash64(F.lit(0x5EED), "u", "v")
                  .cast("decimal(38,0)")).alias("h2"),
        ).collect()[0]
        return (row["n"], row["h1"], row["h2"])

    # r11 (guide §1.2 action budget): the canonical edge set's checkpoint
    # is materialized by its initial signature aggregate, so setup costs
    # one job instead of two; same fusion per round (the signature IS the
    # round's materializing action, the rule-31 pattern).
    e, sig0 = _ckpt(
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("u"),
                F.greatest("src", "dst").alias("v"))
        .distinct(), _sig)

    # r11 (guide §3.1, the pagerank/coloring broadcast-under-guard
    # posture): `mins` and `mins2` are VERTEX-scale (one row per
    # still-active vertex), yet both per-round joins shuffled their
    # EDGE-scale side (nbrs by a, large by v).  Broadcast them while the
    # vertex count fits: the initial vertex set bounds every round's
    # active set (stars only shrink it), and v0's checkpoint returns its
    # row count (`_ckpt`), so the bound costs no job.  Past the guard
    # the rounds keep the shuffle-join plan.  Plan choice only; inner
    # equi-joins on exact keys, results identical (equality pytest vs
    # HashMin + the fallback pin).
    def step(e: DataFrame, i: int) -> DataFrame:
        # ---- large-star ----
        nbrs = _symmetric(e, "u", "v")
        mins = (nbrs.groupBy("a")
                .agg(F.least(F.min("b"), F.first("a")).alias("m")))
        if broadcast_fits(mins, n_v):
            mins = F.broadcast(mins)
        # NOTE: no distinct here — duplicate (u, v) rows cannot change the
        # min aggregate below and the small-star output dedups anyway, so
        # the extra exchange a distinct would cost per round buys nothing
        # (sf0.1 timing is checkpoint-dominated and unchanged; at scale
        # one fewer full shuffle per round is strictly better)
        # large stays LAZY: it is one join+agg off the checkpointed edge
        # set, so its two consumers (mins2, the small-star join) recompute
        # a bounded plan — measured faster than materializing it
        # (8.7 vs 9.6s warm at sf0.1), and lineage cannot grow because the
        # per-round base is always the checkpointed `e`
        large = (nbrs.join(mins, "a")
                 .filter(F.col("b") > F.col("a"))
                 .select(F.least("b", "m").alias("u"),
                         F.greatest("b", "m").alias("v"))
                 .filter(F.col("u") != F.col("v")))
        # ---- small-star (edges already canonical u < v: group at v) ----
        mins2 = (large.groupBy(F.col("v").alias("a"))
                 .agg(F.min("u").alias("m")))
        if broadcast_fits(mins2, n_v):
            mins2 = F.broadcast(mins2)
        joined = large.join(mins2, large.v == mins2.a)
        return (joined.select(F.col("a").alias("x"), F.col("m"))
                .unionByName(joined.select(F.col("u").alias("x"), F.col("m")))
                .filter(F.col("x") != F.col("m"))
                .select(F.col("m").alias("u"), F.col("x").alias("v"))
                .distinct())

    # fixpoint: same canonical edge set, checked by one aggregate (count +
    # two independent order-insensitive hash sums) — no per-round
    # exceptAll join over the edge set — that is also the cut's job
    sigs = [sig0]

    def same_edges(ck: DataFrame, prev: DataFrame) -> bool:
        sigs.append(_sig(ck))
        return sigs[-1] == sigs[-2]

    empty = sig0[0] == 0
    e, rounds, converged = _fixpoint(
        step, e, 0 if empty else max_iterations, probe=same_edges)
    if _rounds_out is not None:
        _rounds_out.append(rounds)
    if not (converged or empty):
        raise RuntimeError(
            f"connected_components_star did not converge in "
            f"{max_iterations} rounds — raise max_iterations")
    # stars: every non-root is (root=u, child=v); roots + isolated map to
    # themselves
    labels = e.select(F.col("v").alias("id"), F.col("u").alias("component"))
    return (v0.join(labels, "id", "left")
            .select("id", F.coalesce("component", F.col("id"))
                    .alias("component")))


def skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """(center, context) training pairs from random_walks output — the
    step between walks and word2vec-style embedding training: within each
    walk, every ordered pair of vertices at distance 1..window co-occurs.
    Returns (center, context, step_offset) with multiplicity (a pair
    co-occurring at several positions yields several rows, exactly the
    corpus a skip-gram sampler wants).

    One self-join per walk id with a bounded step-distance predicate —
    walks are short (length L), so each walk contributes ≤ 2·L·window
    rows; the join key is wid, pre-partitioned by the walk generator."""
    if window < 1:
        raise ValueError("window must be >= 1")
    l = walks.select(F.col("wid"), F.col("step").alias("s_c"),
                     F.col("vertex").alias("center"))
    r = walks.select(F.col("wid"), F.col("step").alias("s_x"),
                     F.col("vertex").alias("context"))
    return (l.join(r, "wid")
            .filter((F.col("s_x") != F.col("s_c"))
                    & (F.abs(F.col("s_x") - F.col("s_c")) <= window))
            .select("center", "context",
                    (F.col("s_x") - F.col("s_c")).alias("step_offset")))


def link_prediction(edges: DataFrame, max_neighbor_degree: int | None = None,
                    exclude_existing: bool = True,
                    ra_scale: int = 1_000_000) -> DataFrame:
    """Neighborhood-overlap link-prediction scores for every candidate
    pair sharing ≥1 neighbor in the undirected simple graph:
    (a, b [a < b], common_neighbors, jaccard, ra_score).

    * common_neighbors — |N(a) ∩ N(b)| (exact count)
    * jaccard — cn / (deg(a) + deg(b) - cn): ONE integer division, so the
      double is engine-identical
    * ra_score — resource-allocation index Σ_{w∈N(a)∩N(b)} 1/deg(w),
      QUANTIZED: each term is round(ra_scale/deg(w)) summed as integers
      (order-independent) and divided once at the end — the same
      exactification trick as harmonic closeness.  (Adamic-Adar's 1/log
      deg is libm-unportable; RA is its rational sibling.)

    Scale: a shared neighbor of degree d contributes d·(d-1)/2 candidate
    pairs, so one hub makes the pair generation quadratic.
    `max_neighbor_degree` drops wedges through hubs above the cap BEFORE
    any pair is generated (mirrored in any oracle): hubs contribute
    near-zero RA weight (1/deg) and inflate Jaccard denominators anyway,
    so the cap trades negligible signal for the quadratic term — the same
    bounded-bucket posture as LSH's max_bucket_size.

    Plan (r9): with a cap, pairs come from ONE groupBy — each surviving
    shared neighbor collects its sorted neighbor array (≤ cap elements by
    the pre-filter semi-join, so the aggregation buffer is bounded) and
    streams its C(d,2) combinations out through a two-stage explode
    (posexplode × slice, never materializing the pair array) — replacing
    the edge×edge wedge self-join, i.e. one fewer full shuffle of an
    edge-sized relation (measured ~35% at sf0.1; the saving grows with
    the shuffle).  Uncapped falls back to the wedge self-join: an
    unbounded collect_list on a hub is a single-task memory bomb, while
    the join at least distributes the quadratic output."""
    canon = (_undirected_simple(edges)                # (u < v), each once
             .localCheckpoint(eager=True))            # reused 3×
    adj = _symmetric(canon, "u", "v")
    # r11 (guide §2.4): deg is vertex-sized but consumed by THREE separate
    # join subtrees (the hub-cap semi-join plus the final deg_u/deg_v
    # joins) — without the lazy checkpoint each re-ran the edge-scale
    # degree aggregation; the first consumer's job materializes it once.
    deg = (adj.groupBy(F.col("a").alias("id"))
           .agg(F.count(F.lit(1)).alias("deg"))
           .localCheckpoint(eager=False))
    if max_neighbor_degree is not None:
        ok = (deg.filter(F.col("deg") <= max_neighbor_degree)
              .select(F.col("id").alias("b")))
        grp = (adj.join(ok, "b", "semi")
               .groupBy(F.col("b").alias("w"))
               .agg(F.array_sort(F.collect_list("a")).alias("ns")))
        raq = F.round(F.lit(float(ra_scale)) / F.size("ns")).cast("long")
        pairs_raw = (
            grp.select("ns", raq.alias("raq"),
                       F.posexplode("ns").alias("i", "u"))
            .select("raq", "u",
                    F.explode(F.expr("slice(ns, i + 2, size(ns))"))
                    .alias("v")))
        pairs = (pairs_raw.groupBy("u", "v")
                 .agg(F.count(F.lit(1)).alias("common_neighbors"),
                      F.sum("raq").alias("ra_q")))
    else:
        wd = adj.join(deg.withColumnRenamed("id", "b"), "b")
        left = wd.select(F.col("a").alias("u"), F.col("b").alias("w"),
                         F.col("deg").alias("wdeg"))
        right = wd.select(F.col("a").alias("v"), F.col("b").alias("w"))
        pairs = (left.join(right, "w")
                 .filter(F.col("u") < F.col("v"))
                 .groupBy("u", "v")
                 .agg(F.count(F.lit(1)).alias("common_neighbors"),
                      F.sum(F.round(F.lit(float(ra_scale)) / F.col("wdeg"))
                            .cast("long")).alias("ra_q")))
    if exclude_existing:
        pairs = pairs.join(canon, ["u", "v"], "left_anti")
    pairs = (pairs
             .join(deg.select(F.col("id").alias("u"),
                              F.col("deg").alias("deg_u")), "u")
             .join(deg.select(F.col("id").alias("v"),
                              F.col("deg").alias("deg_v")), "v"))
    return pairs.select(
        F.col("u").alias("a"), F.col("v").alias("b"), "common_neighbors",
        (F.col("common_neighbors")
         / (F.col("deg_u") + F.col("deg_v") - F.col("common_neighbors"))
         ).alias("jaccard"),
        (F.col("ra_q") / F.lit(float(ra_scale))).alias("ra_score"))


def strongly_connected_components(edges: DataFrame, max_rounds: int = 4,
                                  prop_iterations: int = 12,
                                  trim_iterations: int = 10) -> DataFrame:
    """Directed strongly connected components: (id, scc), scc = min vertex
    id of the component.  Completes the directed-graph algebra next to the
    undirected HashMin in connected_components (the reference exposes no
    graph algorithms at all; this is north-star surface).

    Algorithm — the standard distributed trim + FW-BW coloring:

    1. **Trim**: a vertex with in-degree 0 or out-degree 0 in the remaining
       graph cannot sit on a cycle — assign it its own singleton SCC and
       peel it.  Iterated, this alone consumes every DAG-shaped region (the
       bulk of real graphs), leaving only the cyclic core for phase 2.
    2. **Color**: forward min-label propagation to fixpoint — color(v) =
       min id over {v} ∪ ancestors(v).  The pivot of color c is vertex c
       itself (c reaches every v colored c).
    3. **Backward membership**: within color c, mark v when an edge v→u has
       u already marked (seeded at the pivot) — marked vertices reach the
       pivot forward, so pivot→v ∧ v→pivot ⇒ SCC(pivot).  Assign, peel,
       back to 1.

    Every step is a join+groupBy on (src|dst), the aggregate-messages
    shuffle shape.  The three loops run on `_fixpoint`: trim and marking
    probe every round, colouring every 3rd and its last.  A vertex
    never marked is a singleton unless it is still in the live edge set
    when the rounds end: vertices unresolved after max_rounds come back
    with scc NULL (bounded-rounds contract, like connected_components'
    bounded iterations — never a wrong merge).  Self-loops are
    SCC-neutral and dropped up front; vertices appearing only in
    self-loops are singletons."""
    v0 = _endpoints(edges)
    e, n_e = _ckpt(edges.filter(F.col("src") != F.col("dst"))
                   .select("src", "dst").distinct())
    assigned = [v0.select("id", F.lit(None).cast("long").alias("scc"))]

    def _b(df: DataFrame) -> DataFrame:
        # vertex-scale join sides: the live edge set has ≤ 2·n_e vertices
        return F.broadcast(df) if broadcast_fits(df, 2 * n_e) else df

    def _peel(e: DataFrame, gone: DataFrame) -> DataFrame:
        gone = _b(gone.select("id"))
        return (e.join(gone.withColumnRenamed("id", "src"), "src", "left_anti")
                .join(gone.withColumnRenamed("id", "dst"), "dst", "left_anti"))

    # trim: a vertex only ever src or only ever dst sits on no cycle
    def trim(e: DataFrame, i: int) -> DataFrame:
        return _peel(e, e.select(F.col("src").alias("id"),
                                 F.lit(True).alias("out"))
                     .unionByName(e.select(F.col("dst").alias("id"),
                                           F.lit(False).alias("out")))
                     .groupBy("id")
                     .agg((F.min("out") == F.max("out")).alias("trivial"))
                     .filter("trivial"))

    def none_trimmed(ck: DataFrame, prev: DataFrame) -> bool:
        nonlocal n_e
        before, n_e = n_e, _rows(ck)
        return n_e == before

    # colouring: color(v) = min id over {v} ∪ ancestors(v); `_chg` marks a
    # vertex whose color fell this round
    def color(c: DataFrame, i: int) -> DataFrame:
        msgs = (e.join(_b(c.select(F.col("id").alias("src"), "color")), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("color").alias("in_min")))
        return (c.join(_b(msgs), "id", "left")
                .select("id", F.least("color", F.coalesce("in_min", "color"))
                        .alias("color"),
                        (F.col("in_min") < F.col("color")).alias("_chg")))

    # backward marking: within color c, v joins when an edge v→u has u
    # marked (seeded at the pivot c); `_chg` marks this round's newcomers
    def mark(m: DataFrame, i: int) -> DataFrame:
        newly = (ce.join(_b(m.select(F.col("id").alias("dst"),
                                     F.col("color").alias("m_color"))), "dst")
                 .filter(F.col("color") == F.col("m_color"))
                 .select(F.col("src").alias("id"), "color").distinct()
                 .join(_b(m.select("id")), "id", "left_anti"))
        return (m.select("id", "color", F.lit(False).alias("_chg"))
                .unionByName(newly.withColumn("_chg", F.lit(True))))

    for _ in range(max_rounds):
        e, _, _ = _fixpoint(trim, e, trim_iterations, probe=none_trimmed)
        if n_e == 0:
            break
        colors, _, converged = _fixpoint(
            color, _endpoints(e).withColumn("color", F.col("id")),
            prop_iterations, every=3, probe=_settled)
        if not converged:
            # Coloring did not reach fixpoint within the bound: colors are
            # mixed inside at least one SCC, so any assignment this round
            # could split a component.  Honor the documented contract —
            # remaining vertices come back NULL — instead of a wrong merge.
            break
        ce, _ = _ckpt(
            e.join(_b(colors.select(F.col("id").alias("src"),
                                    F.col("color").alias("c_src"))), "src")
            .join(_b(colors.select(F.col("id").alias("dst"),
                                   F.col("color").alias("c_dst"))), "dst")
            .filter(F.col("c_src") == F.col("c_dst"))
            .select("src", "dst", F.col("c_src").alias("color")))
        marked, _, converged = _fixpoint(
            mark, colors.filter(F.col("id") == F.col("color")),
            prop_iterations, probe=_settled)
        if not converged:
            # Backward marking stopped early: `marked` holds only a subset
            # of each pivot's SCC.  Assigning and peeling the subset would
            # leave the rest to be trimmed as fake singletons next round —
            # the wrong-split the contract forbids.  Bail; rest come back
            # NULL.
            break
        assigned.append(marked.select("id", F.col("color").alias("scc")))
        e, n_e = _ckpt(_peel(e, marked))

    live = _endpoints(e).withColumn("live", F.lit(True))
    return (_union(assigned).groupBy("id").agg(F.max("scc").alias("scc"))
            .join(live, "id", "left")
            .select("id", F.when(F.col("live").isNull(),
                                 F.coalesce("scc", "id")).alias("scc")))


def _degree_oriented(und: DataFrame) -> DataFrame:
    """Degree-ordered orientation of the canonical undirected edge set:
    each edge points from its LOWER-degree endpoint to the higher (ties by
    id).  Returns (x, y, dx, dy) with (dx, x) < (dy, y) lexicographically.

    Why: the oriented out-degree of every vertex is bounded by O(√m)
    (arboricity bound), so wedge enumeration at the orientation apex is
    hub-proof — a degree-d celebrity vertex contributes O(√m·d) wedge rows
    instead of the O(d²) an id-ordered enumeration pays, with EXACTLY the
    same triangles found.  One degree aggregation + two key joins, all
    shuffle-partitioned on the vertex id."""
    deg = (und.select(F.col("u").alias("id"))
           .unionByName(und.select(F.col("v").alias("id")))
           .groupBy("id").agg(F.count(F.lit(1)).alias("_deg")))
    e = (und
         .join(deg.select(F.col("id").alias("u"), F.col("_deg").alias("du")),
               "u")
         .join(deg.select(F.col("id").alias("v"), F.col("_deg").alias("dv")),
               "v"))
    fwd = (F.col("du") < F.col("dv")) | \
          ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    return e.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("x"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("y"),
        F.when(fwd, F.col("du")).otherwise(F.col("dv")).alias("dx"),
        F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("dy"),
    )


def _oriented_triangles(und: DataFrame, _o: DataFrame | None = None) -> DataFrame:
    """Every triangle of the undirected simple graph, exactly once, as
    (a, b, c) ranked by the (degree, id) total order (a = apex = minimum).

    Wedges are enumerated at the orientation apex — both wedge arms are
    OUT-edges of x, so the fan-out is the O(√m)-bounded oriented
    out-degree — then closed against the oriented edge set: the third edge
    b—c is oriented b→c precisely because order(b) < order(c), so one
    equi-join finds it and no triangle is double-counted.

    The oriented edge set is localCheckpoint'ed: it is referenced three
    times (two wedge arms + the closure), and its lineage may carry an
    arbitrarily expensive edge-view derivation — materialize once, join
    three times (the same reuse rule the pagerank state follows).
    `_o` lets callers that ALSO need the oriented edge set (4-clique
    enumeration) pass the checkpointed copy in instead of re-deriving."""
    o = _o if _o is not None else \
        _degree_oriented(und).localCheckpoint(eager=True)
    e1 = o.select("x", F.col("y").alias("b"), F.col("dy").alias("db"))
    e2 = o.select("x", F.col("y").alias("c"), F.col("dy").alias("dc"))
    wedges = (e1.join(e2, "x")
              .filter((F.col("db") < F.col("dc")) |
                      ((F.col("db") == F.col("dc")) &
                       (F.col("b") < F.col("c")))))
    return (wedges
            .join(o.select(F.col("x").alias("b"), F.col("y").alias("c")),
                  ["b", "c"])
            .select(F.col("x").alias("a"), "b", "c"))


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count over the undirected simple graph via the
    degree-oriented wedge join (_oriented_triangles): two shuffles, each
    triangle counted exactly once, per-vertex wedge fan-out bounded O(√m)
    so one hub vertex can no longer make the join quadratic.
    Returns a 1-row DataFrame (n_triangles)."""
    und = _undirected_simple(edges).localCheckpoint(eager=True)
    return _oriented_triangles(und).agg(F.count(F.lit(1)).alias("n_triangles"))


def four_clique_count(edges: DataFrame) -> DataFrame:
    """Global 4-clique (K4) count over the undirected simple graph —
    triangle_count one level up, on the same degree-oriented machinery.

    A K4 ordered a<b<c<d by the (degree, id) total order decomposes into
    the oriented triangle (a, b, c) plus the vertex d reached by the three
    oriented edges a→d, b→d, c→d.  Enumeration: fan each oriented triangle
    out along c's OUT-edges (c→d implies order(c) < order(d), so each K4
    is produced exactly once and the fan-out is the O(√m)-bounded oriented
    out-degree — hub-proof, like the wedge step), then close with two
    semi-joins on (a, d) and (b, d).  Cost: O(triangles·√m) candidate rows
    shuffled on equi-keys, never a cross join; a star hub contributes zero
    oriented triangles and therefore zero candidate rows.

    Returns a 1-row DataFrame (n_4cliques)."""
    und = _undirected_simple(edges).localCheckpoint(eager=True)
    o = _degree_oriented(und).localCheckpoint(eager=True)
    tri = _oriented_triangles(und, _o=o)
    cand = tri.join(o.select(F.col("x").alias("c"), F.col("y").alias("d")),
                    "c")
    k4 = (cand
          .join(o.select(F.col("x").alias("a"), F.col("y").alias("d")),
                ["a", "d"], "left_semi")
          .join(o.select(F.col("x").alias("b"), F.col("y").alias("d")),
                ["b", "d"], "left_semi"))
    return k4.agg(F.count(F.lit(1)).alias("n_4cliques"))


def _endpoints(edges: DataFrame) -> DataFrame:
    """(id) of every vertex appearing in an edge, once each."""
    return (edges.select(F.col("src").alias("id"))
            .unionByName(edges.select(F.col("dst").alias("id"))).distinct())


def _keyed(df: DataFrame, key: str, partitions: int | None) -> DataFrame:
    """`df` hash-partitioned on `key` into `partitions` partitions, or the
    session's spark.sql.shuffle.partitions when None (pagerank's partition
    rule)."""
    n = partitions or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, key)


def _symmetric(df: DataFrame, x: str, y: str) -> DataFrame:
    """(a, b) for both directions (x, y) and (y, x) of every row."""
    return (df.select(F.col(x).alias("a"), F.col(y).alias("b"))
            .unionByName(df.select(F.col(y).alias("a"), F.col(x).alias("b"))))


def _undirected_simple(edges: DataFrame) -> DataFrame:
    """Canonical undirected simple edges (u < v), self-loops dropped."""
    return (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
    )


def k_core(edges: DataFrame, k: int, max_iterations: int = 30) -> DataFrame:
    """k-core membership over the undirected simple graph: iteratively
    delete vertices with degree < k until fixpoint; returns the survivors
    as (id, degree) with degree measured INSIDE the core subgraph.

    The classic distributed peeling loop: each round is one degree
    aggregation (map-side combinable) plus two semi-joins that restrict the
    adjacency to surviving endpoints — O(rounds × |E|) shuffled, rounds
    bounded by the peeling depth (typically ≪ diameter).  State between
    rounds is only the shrinking adjacency list, cut by `_fixpoint` so the
    lineage stays flat.  The fixpoint is unique, so early exit on a
    no-vertex-removed round is safe regardless of max_iterations."""
    und = _undirected_simple(edges)
    # vertex counts of adj and of the probed cuts; the first bounds every
    # round's `keep` for the broadcast guard (peeling only shrinks it)
    adj, n_v = _ckpt(_symmetric(und, "u", "v"),
                     lambda ck: ck.select("a").distinct().count())
    sizes = [n_v]

    def step(adj: DataFrame, i: int) -> DataFrame:
        keep = (adj.groupBy("a").agg(F.count(F.lit(1)).alias("_d"))
                .filter(F.col("_d") >= k).select("a"))
        if broadcast_fits(keep, n_v):
            keep = F.broadcast(keep)
        return (adj.join(keep, "a")
                .join(keep.withColumnRenamed("a", "b"), "b")
                .select("a", "b"))

    def no_vertex_removed(ck: DataFrame, prev: DataFrame) -> bool:
        sizes.append(ck.select("a").distinct().count())
        return sizes[-1] == sizes[-2]

    adj, _, _ = _fixpoint(step, adj, max_iterations, probe=no_vertex_removed)
    return (adj.groupBy(F.col("a").alias("id"))
            .agg(F.count(F.lit(1)).alias("degree")))


def _hindex_round(adj: DataFrame, c: DataFrame) -> DataFrame:
    """One h-index iteration round, SORT-FREE over the neighbor stream:

    1. the (a, cb) neighbor-value messages are first reduced by a
       map-side-combinable ``groupBy(id, cb).count()`` into each vertex's
       VALUE-DISTRIBUTION CURVE — a degree-10⁸ hub's messages hash-combine
       in parallel instead of piling into one window-sort task;
    2. the per-vertex window (suffix counts, desc by value) then runs over
       the CURVE only: ≤ B+1 rows per vertex, where B bounds every c value
       (see core_numbers — B ≈ O(√m)), a hard cap independent of degree;
    3. H-index = max over curve points of min(value, suffix_count) — for
       distinct values v₁>v₂>… with suffix counts S₁<S₂<…, the optimum
       h = max{h : #{cb ≥ h} ≥ h} is attained at a curve point.
    """
    from pyspark.sql.window import Window

    nbr = (adj.join(c.select(F.col("id").alias("b"),
                             F.col("c").alias("cb")), "b")
           .select(F.col("a").alias("id"), "cb"))
    curve = nbr.groupBy("id", "cb").agg(F.count(F.lit(1)).alias("cnt"))
    w = (Window.partitionBy("id").orderBy(F.col("cb").desc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (curve.withColumn("_s", F.sum("cnt").over(w))
            .groupBy("id")
            .agg(F.max(F.least(F.col("cb"), F.col("_s"))).alias("c")))


def _hindex_of_degree_distribution(deg: DataFrame, val_col: str = "c") -> int:
    """H-index of a degree multiset given per-vertex: max h with ≥ h
    vertices of degree ≥ h.  Aggregates to the (value, count) distribution
    first — a multiset of D distinct nonnegative values sums to at least
    D(D−1)/2, so the distribution has ≤ O(√(Σdeg)) = O(√m) rows and the
    single global suffix-count window runs over that tiny frame, never the
    vertex set.  Returns a driver int (1-row scalar probe by contract)."""
    from pyspark.sql.window import Window

    dist = deg.groupBy(F.col(val_col).alias("v")) \
        .agg(F.count(F.lit(1)).alias("cnt"))
    w = (Window.orderBy(F.col("v").desc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    row = (dist.withColumn("_s", F.sum("cnt").over(w))
           .agg(F.max(F.least(F.col("v"), F.col("_s"))).alias("b"))
           .collect())
    return int(row[0]["b"] or 0)


def core_numbers(edges: DataFrame, max_iterations: int = 30) -> DataFrame:
    """FULL k-core decomposition: (id, core) where core(v) is the largest
    k such that v belongs to the k-core — the whole ladder k_core(k)
    answers one rung of, in one computation.

    Distributed h-index iteration (Lü et al., "The H-index of a network
    node"): each round sets c(v) to the H-index of its neighbors' current
    values (the largest h with ≥ h neighbors at c ≥ h); values are
    non-increasing and converge exactly to the core numbers.

    Skew posture (VERDICT r6): initialization is c(v) = min(degree(v), B)
    with B the h-index of the DEGREE SEQUENCE — B ≥ degeneracy = max core
    (a k-core holds ≥ k+1 vertices of degree ≥ k), and B ≤ O(√m), so
    every c value is globally capped at O(√m) from round 0.  The capped
    start still converges to the exact core numbers: the h-index operator
    T is pointwise monotone and core = T(core), so core = Tᵏ(core) ≤
    Tᵏ(c₀) ≤ Tᵏ(degree) → core.  Each round then reduces the neighbor
    stream by a combinable (id, value) count before any window — see
    _hindex_round; no per-vertex sort ever sees a full neighbor list, so
    a degree-10⁸ celebrity costs a hash-combine, not a straggler task.
    Early exit on an unchanged round is safe (monotone convergence).
    Raises if still changing after max_iterations (never wrong values)."""
    und = _undirected_simple(edges)
    adj, _ = _ckpt(_symmetric(und, "u", "v"))
    deg = (adj.groupBy(F.col("a").alias("id"))
           .agg(F.count(F.lit(1)).alias("c")))
    bound = _hindex_of_degree_distribution(deg)
    c, n_v = _ckpt(deg.select("id", F.least(F.col("c"), F.lit(bound))
                              .alias("c")))
    # every round's state has one row per vertex of adj
    bcast = broadcast_fits(c, n_v)

    def unchanged(ck: DataFrame, prev: DataFrame) -> bool:
        if bcast:
            prev = F.broadcast(prev)
        return (ck.alias("n").join(prev.alias("o"), "id")
                .filter(F.col("n.c") != F.col("o.c"))
                .limit(1).count()) == 0

    c, _, converged = _fixpoint(
        lambda c, i: _hindex_round(adj, F.broadcast(c) if bcast else c),
        c, max_iterations, probe=unchanged)
    if not converged:
        raise RuntimeError(
            f"core_numbers did not converge in {max_iterations} rounds")
    # vertices only in self-loops / isolated: core 0
    v0 = _endpoints(edges)
    c = c.select("id", F.col("c").alias("core"))
    return (v0.join(F.broadcast(c) if bcast else c, "id", "left")
            .select("id", F.coalesce("core", F.lit(0)).alias("core")))


def graph_summary(edges: DataFrame) -> DataFrame:
    """One-row whole-graph statistics: (n_vertices, n_edges, max_degree,
    avg_degree) — the numbers every capacity-planning and
    partitioning-strategy decision starts from.  One endpoint-explode +
    one aggregation (map-side combinable); n_edges falls out of
    sum(degree)/2, so there is no separate edge count pass and no scalar
    cross join.  All inputs exact integers; avg_degree is the single
    final division."""
    ends = (edges.select(F.col("src").alias("id"))
            .unionByName(edges.select(F.col("dst").alias("id"))))
    deg = ends.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))
    return deg.agg(
        F.count(F.lit(1)).alias("n_vertices"),
        (F.sum("degree") / F.lit(2)).cast("long").alias("n_edges"),
        F.max("degree").alias("max_degree"),
        (F.sum("degree") / F.count(F.lit(1))).alias("avg_degree"),
    )


def graph_structure_stats(edges: DataFrame) -> DataFrame:
    """One-row global structure metrics over the undirected simple graph:
    (n_triangles, n_wedges, transitivity, assortativity).

    * transitivity (global clustering) = 3·triangles / wedges, wedges =
      Σ d(d−1)/2 — the closed-wedge fraction;
    * degree assortativity = Pearson r of endpoint degrees over the
      directed double cover.  Both marginals are identical there, so
      r = (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²) — no square roots, and every
      Σ is an EXACT integer sum of small ints (order-independent); the
      single final division runs in doubles on exact inputs, so the
      rounded result is engine-identical.

    Cost: the degree aggregate, the oriented triangle count (hub-proof),
    and one edge⋈degree join — all map-side-combinable aggregates; the
    three 1-row results meet in broadcast cross joins."""
    und = _undirected_simple(edges).localCheckpoint(eager=True)
    deg = (und.select(F.col("u").alias("id"))
           .unionByName(und.select(F.col("v").alias("id")))
           .groupBy("id").agg(F.count(F.lit(1)).alias("d")))
    tri = _oriented_triangles(und).agg(
        F.count(F.lit(1)).alias("n_triangles"))
    wed = deg.agg(F.sum(F.col("d") * (F.col("d") - 1)).alias("two_wedges"))
    dp = (und.join(deg.select(F.col("id").alias("u"),
                              F.col("d").alias("du")), "u")
          .join(deg.select(F.col("id").alias("v"),
                           F.col("d").alias("dv")), "v"))
    both = (dp.select(F.col("du").alias("x"), F.col("dv").alias("y"))
            .unionByName(dp.select(F.col("dv").alias("x"),
                                   F.col("du").alias("y"))))
    st = both.agg(F.count(F.lit(1)).alias("n"),
                  F.sum("x").alias("sx"),
                  F.sum(F.col("x") * F.col("x")).alias("sxx"),
                  F.sum(F.col("x") * F.col("y")).alias("sxy"))
    num = (F.col("n") * F.col("sxy")).cast("double") \
        - (F.col("sx") * F.col("sx")).cast("double")
    den = (F.col("n") * F.col("sxx")).cast("double") \
        - (F.col("sx") * F.col("sx")).cast("double")
    return (tri.join(F.broadcast(wed)).join(F.broadcast(st))
            .select(
                "n_triangles",
                (F.col("two_wedges") / 2).cast("long").alias("n_wedges"),
                F.round(F.when(F.col("two_wedges") > 0,
                               6.0 * F.col("n_triangles")
                               / F.col("two_wedges"))
                        .otherwise(F.lit(0.0)), 6).alias("transitivity"),
                F.round(F.when(den != 0, num / den).otherwise(F.lit(0.0)),
                        6).alias("assortativity")))


def landmark_eccentricity(edges: DataFrame, landmarks: list[int],
                          iterations: int = 10) -> DataFrame:
    """Per-landmark eccentricity estimate: the max hop distance (and the
    count of vertices reaching the landmark) over the landmark-BFS state —
    a free by-product of shortest_paths, and the standard lower-bound
    estimator for graph diameter (diameter >= max eccentricity seen).
    Returns (landmark, n_reaching, eccentricity)."""
    d = shortest_paths(edges, landmarks, iterations)
    return (d.groupBy("landmark")
            .agg(F.count(F.lit(1)).alias("n_reaching"),
                 F.max("distance").alias("eccentricity")))


def _edge_support(und: DataFrame) -> DataFrame:
    """Triangle count per canonical edge (u < v): degree-oriented triangle
    enumeration (_oriented_triangles — hub-proof), each triangle attributed
    to its three edges re-canonicalized to id order (the a/b/c ranking is
    by (degree, id), not id)."""
    tri = _oriented_triangles(und)
    return (
        tri.select(F.explode(F.array(
            F.struct(F.least("a", "b").alias("u"),
                     F.greatest("a", "b").alias("v")),
            F.struct(F.least("b", "c").alias("u"),
                     F.greatest("b", "c").alias("v")),
            F.struct(F.least("a", "c").alias("u"),
                     F.greatest("a", "c").alias("v")))).alias("e"))
        .select("e.u", "e.v")
        .groupBy("u", "v").agg(F.count(F.lit(1)).alias("support"))
    )


def k_truss(edges: DataFrame, k: int, max_iterations: int = 20) -> DataFrame:
    """k-truss of the undirected simple graph: the maximal subgraph in
    which every EDGE participates in at least k−2 triangles — the
    edge-level cohesion ladder above vertex k-core (every k-truss edge set
    is inside the (k−1)-core, but prunes far more aggressively).

    Distributed peeling like k_core, one level up — with DELTA support
    maintenance: the full O(wedges) triangle count (_edge_support, the
    degree-oriented hub-proof enumeration) runs ONCE; each peel round then
    enumerates only the triangles incident to that round's REMOVED edges
    (fan-out from the lower-degree endpoint of each removal — the same
    min-degree pivot that makes the full enumeration hub-proof — closed by
    a semi-join against the surviving edge set) and decrements the
    survivors' support by the destroyed-triangle count.  Support can only
    fall as edges leave, so the fixpoint is unique and the early exit safe;
    rounds are bounded by peeling depth and each costs O(Σ min-degree over
    removals), the changed neighborhood, not O(wedges) again.  The rounds
    run on `_fixpoint`, probed by the count of edges left to remove.
    Returns the surviving canonical edges as (u, v, support) with support
    measured INSIDE the truss."""
    cur = _undirected_simple(edges).localCheckpoint(eager=True)
    thresh = k - 2
    weak = F.col("support") < thresh
    # full edge set with support (0 for triangle-free edges — they peel
    # first): the ONLY full wedge enumeration in the whole call
    sup, (n, n_weak) = _ckpt(
        cur.join(_edge_support(cur), ["u", "v"], "left")
        .select("u", "v",
                F.coalesce("support", F.lit(0).cast("long")).alias("support")),
        lambda ck: ck.agg(F.count(F.lit(1)), F.count(F.when(weak, 1))).first())

    def peel(sup: DataFrame, i: int) -> DataFrame:
        drop = sup.filter(weak).select("u", "v")
        if broadcast_fits(drop, n):  # n bounds every round: peeling shrinks
            drop = F.broadcast(drop)
        survivors = sup.join(drop, ["u", "v"], "left_anti")
        # fan out each removed edge from its LOWER-degree endpoint
        # (degrees over the pre-removal graph) — hub-proof delta wedges
        deg = (sup.select(F.col("u").alias("id"))
               .unionByName(sup.select(F.col("v").alias("id")))
               .groupBy("id").agg(F.count(F.lit(1)).alias("d")))
        du = deg.select(F.col("id").alias("u"), F.col("d").alias("du"))
        dv = deg.select(F.col("id").alias("v"), F.col("d").alias("dv"))
        piv = (drop.join(du, "u").join(dv, "v")
               .select(F.when(F.col("du") <= F.col("dv"), F.col("u"))
                       .otherwise(F.col("v")).alias("p"),
                       F.when(F.col("du") <= F.col("dv"), F.col("v"))
                       .otherwise(F.col("u")).alias("o")))
        adj = (sup.select(F.col("u").alias("p"), F.col("v").alias("w"))
               .unionByName(
                   sup.select(F.col("v").alias("p"), F.col("u").alias("w"))))
        # candidate third vertex w adjacent to the pivot; triangle exists
        # iff (w, other) is also an edge of the pre-removal graph
        cand = (piv.join(adj, "p").filter(F.col("w") != F.col("o"))
                .select("p", "o", "w",
                        F.least("w", "o").alias("cu"),
                        F.greatest("w", "o").alias("cv")))
        destroyed = (cand.join(
                        sup.select(F.col("u").alias("cu"),
                                   F.col("v").alias("cv")),
                        ["cu", "cv"], "left_semi")
                     # a triangle with 2-3 removed edges is found once per
                     # removal: dedupe by the sorted vertex triple
                     .select(F.array_sort(F.array("p", "o", "w")).alias("t"))
                     .distinct()
                     .select(F.col("t")[0].alias("a"), F.col("t")[1].alias("b"),
                             F.col("t")[2].alias("c")))
        dec = (destroyed
               .select(F.explode(F.array(
                   F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
                   F.struct(F.col("b").alias("u"), F.col("c").alias("v")),
                   F.struct(F.col("a").alias("u"), F.col("c").alias("v"))))
                   .alias("e"))
               .select("e.u", "e.v")
               .groupBy("u", "v").agg(F.count(F.lit(1)).alias("dec")))
        return (survivors.join(dec, ["u", "v"], "left")
                .select("u", "v",
                        (F.col("support") - F.coalesce("dec", F.lit(0)))
                        .alias("support")))

    sup, _, _ = _fixpoint(
        peel, sup, max_iterations if n_weak else 0,
        probe=lambda ck, prev: ck.filter(weak).count() == 0)
    out = sup
    if thresh < 1:
        # parity with the recount formulation for k <= 2: only edges that
        # sit in at least one triangle are part of any truss
        out = out.filter(F.col("support") >= 1)
    return out


def clustering_coefficient(edges: DataFrame,
                           canonical: bool = False) -> DataFrame:
    """Per-vertex local clustering coefficient over the undirected simple
    graph: coeff(v) = 2·T(v) / (d(v)·(d(v)−1)), where T(v) is the number of
    triangles through v (0 when d < 2).  Rides the same degree-oriented
    wedge join as triangle_count (hub-proof O(√m) fan-out), then attributes
    each triangle to its three corners (explode — three rows per triangle,
    no re-join) and divides by the degree pair count.  All inputs to the division are exact integers, so
    the double result is bit-identical across engines.

    `canonical=True` (r11, guide §2.4 "a distinct on data that is already
    unique"): the caller asserts `edges` is ALREADY the canonical
    undirected simple set — src < dst on every row, no duplicates — so
    the full edge-scale least/greatest + distinct exchange is skipped
    (the co-purchase builder's `x.l_partkey < y.l_partkey` filter +
    distinct guarantees exactly this).  Equality with the canonicalizing
    path is pytest-pinned.
    Returns (id, n_triangles, coeff) for every vertex of the graph."""
    # materialize the canonical edge set once: it feeds both the triangle
    # enumeration (degree + orientation + closure) and the final degree
    # join, and its lineage may carry an expensive derivation
    und = (edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
           if canonical else _undirected_simple(edges)) \
        .localCheckpoint(eager=True)
    per_vertex = (
        _oriented_triangles(und)
        .select(F.explode(F.array("a", "b", "c")).alias("id"))
        .groupBy("id").agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (und.select(F.col("u").alias("id"))
           .unionByName(und.select(F.col("v").alias("id")))
           .groupBy("id").agg(F.count(F.lit(1)).alias("_d")))
    return (
        deg.join(per_vertex, "id", "left")
        .select(
            "id",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.when(F.col("_d") < 2, F.lit(0.0))
            .otherwise(2.0 * F.coalesce("n_triangles", F.lit(0))
                       / (F.col("_d") * (F.col("_d") - 1.0)))
            .alias("coeff"),
        )
    )


def shortest_paths(edges: DataFrame, landmarks: list[int], iterations: int = 10) -> DataFrame:
    """GraphX-style ShortestPaths: hop distance from every vertex TO each
    landmark, following edge direction (dist(v,l) = 1 + min over
    out-neighbors w of dist(w,l); seed dist(l,l)=0).

    Fixed iteration count (deterministic, oracle-matchable); converges when
    iterations >= graph diameter.  sssp's Bellman-Ford loop (the relax
    round `_relax`) on the reversed unit-weight edge side, with `landmark`
    as one more group key: one aggregate-messages shuffle per round over
    (id, landmark) pairs — state size |V|×|landmarks|, so keep the
    landmark set small (that's the GraphX contract too).
    Returns (id, landmark, distance) for reachable pairs."""
    rev = edges.select(F.col("dst").alias("src"),
                       F.col("src").alias("dst")).distinct()
    seeds = edges.sparkSession.createDataFrame(
        [(int(l), int(l), 0) for l in landmarks],
        "id long, landmark long, distance int")
    return _bellman_ford(rev, seeds, iterations, F.lit(1), ("landmark",))


def label_propagation(edges: DataFrame, iterations: int = 5) -> DataFrame:
    """Synchronous label propagation (community detection): each round every
    vertex adopts the most frequent label among its undirected neighbors,
    ties broken by smallest label — fully deterministic, so a fixed round
    count is oracle-matchable.  Returns (id, community).

    The labels broadcast under `broadcast_fits` with the vertex count;
    the symmetric adjacency then follows pagerank's partition rule keyed
    on `a`, the vertex whose label the round decides, so the join, the
    (a, community) count and the per-`a` window all run in place.  Past
    the budget each round shuffles for the join, the count and the
    window."""
    from pyspark.sql.window import Window

    # every endpoint is an `a` of the symmetric adjacency; the one action
    # of the cut counts the vertices for the broadcast guard
    labels, n_v = _ckpt(_endpoints(edges).withColumn("community", F.col("id")))
    bcast = broadcast_fits(labels, n_v)
    adj = _symmetric(edges, "src", "dst")
    if bcast:
        adj = _keyed(adj, "a", None)
    adj = adj.distinct().persist()
    try:
        w = Window.partitionBy("a").orderBy(F.col("n").desc(), F.col("community").asc())

        def step(labels: DataFrame, i: int) -> DataFrame:
            side = labels.withColumnRenamed("id", "b")
            counts = (
                adj.join(F.broadcast(side) if bcast else side, "b")
                .groupBy("a", "community")
                .agg(F.count(F.lit(1)).alias("n"))
            )
            # vertices with no neighbors keep their label (none here: adj covers all)
            return (
                counts.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select(F.col("a").alias("id"), "community")
            )

        labels, _, _ = _fixpoint(step, labels, iterations)
        return labels.localCheckpoint(eager=True)
    finally:
        adj.unpersist()


def modularity(edges: DataFrame, labels: DataFrame,
               label_col: str = "community") -> DataFrame:
    """Per-community Newman modularity contributions of a labeling, in
    EXACT integers: for community c with e_c intra-community edges and
    degree sum d_c over the undirected simple graph with m edges,

        contrib(c) = 4·m·e_c − d_c²       (so Q = Σ contrib / 4m²)

    All arithmetic runs in decimal(38,0) — overflow-free up to ~10^18
    edges, far past 100 TB graphs, and bit-identical across engines
    (no float sums).  Completes the community family next to
    label_propagation the way core_numbers completed k_core: LPA gives
    labelings, modularity scores them.  The frame is Louvain's own
    contrib frame (`_contrib_from_sed`) on the unit-weight graph.

    Returns (community, intra_edges, degree_sum, contrib, q_share) — one
    row per community that contains at least one non-isolated vertex;
    q_share = contrib / 4m² as a rounded double for human consumption,
    contrib is the exact integer the oracle checks."""
    und = _undirected_simple(edges).localCheckpoint(eager=True)
    m = und.count()  # 1 driver scalar, metadata-sized by contract
    slab = labels.select(F.col("id").alias("sid"),
                         F.col(label_col).alias("sc"))
    denom = float(4 * m * m) if m else 1.0
    return (_contrib_from_sed(_unit(und), m, slab)
            .select(F.col("_c").alias("community"),
                    F.col("_e").alias("intra_edges"),
                    F.col("_ds").alias("degree_sum"), "contrib")
            .withColumn("q_share",
                        F.round(F.col("contrib").cast("double") / F.lit(denom),
                                6)))


def modularity_score(edges: DataFrame, labels: DataFrame,
                     label_col: str = "community") -> float:
    """Scalar modularity Q of a labeling (Σ contrib / 4m²) — exact-integer
    numerator summed distributedly, one final float division."""
    und = _undirected_simple(edges)
    m = und.count()
    if m == 0:
        return 0.0
    num = (modularity(edges, labels, label_col)
           .agg(F.sum("contrib").alias("n")).collect()[0]["n"])
    return float(num or 0) / float(4 * m * m)


# r12 probe, MEASURED NEUTRAL AND REVERTED (guide §1.1): running the
# vertex-keyed joins (side, enriched⋈side, slab⟕best, wdeg⋈slab) as
# plain co-partitioned joins instead of broadcasts did NOT drop the
# job count (136 → 141) or the wall clock (41.9/45.9 → 41.3/41.2
# alternated): the planner does not see the checkpoint/cache hash(id)
# co-partitioning at plan time, inserts exchanges, and AQE then demotes
# them back to broadcast joins — paying a shuffle write on top of the
# broadcast build.  The explicit broadcast-under-guard posture stands.


def _bcast_if(df: DataFrame, small: bool) -> DataFrame:
    """Pagerank's broadcast-under-guard posture as a helper: the Louvain
    machinery's side tables (labelings, degrees, community masses, move
    winners) are all VERTEX- or community-sized, so while the vertex
    count fits the guard they ship to every task and the edge-sized
    frames never shuffle for a join — only the groupBy aggregations
    shuffle.  `small` is one `broadcast_fits` verdict over the vertex
    count, sized by a (long, long) row — the width of the (id,
    label/degree) side tables.  Past the guard the caller leaves
    small=False and every join falls back to the shuffle plan
    (co-locatable via bucketing at deployment scale).  Plan choice only;
    results are identical."""
    return F.broadcast(df) if small else df


def _dec(c: str) -> Column:
    return F.col(c).cast("decimal(38,0)")


def _unit(und: DataFrame) -> DataFrame:
    """The undirected simple graph as a Louvain level: canonical weighted
    edges (u2, v2, w) with w = 1 and no self-loops."""
    return und.select(F.col("u").alias("u2"), F.col("v").alias("v2"),
                      F.lit(1).cast("long").alias("w"))


def _wdeg(sed: DataFrame) -> DataFrame:
    """Weighted degree (sid, _d) of a level: an edge adds w to each
    endpoint, so a self-loop adds 2w (Newman)."""
    return (sed.select(F.col("u2").alias("sid"), "w")
            .unionByName(sed.select(F.col("v2").alias("sid"), "w"))
            .groupBy("sid").agg(F.sum("w").alias("_d")))


def _wadj(sed: DataFrame) -> DataFrame:
    """Symmetric weighted adjacency (sid, b, w) of a level, self-loops
    excluded (they never enter a candidate set — they move with their
    vertex)."""
    plain = sed.filter(F.col("u2") != F.col("v2"))
    return (plain.select(F.col("u2").alias("sid"), F.col("v2").alias("b"),
                         "w")
            .unionByName(plain.select(F.col("v2").alias("sid"),
                                      F.col("u2").alias("b"), "w")))


def _contrib_from_sed(sed: DataFrame, m: int, slab: DataFrame,
                      small: bool = False,
                      wdeg: DataFrame | None = None) -> DataFrame:
    """Per-community modularity terms (_c, _e, _ds, contrib) of the
    labeling `slab` (sid → sc) on a level's weighted edge set `sed`
    (canonical u2 <= v2, u2 == v2 rows are self-loops), with contrib =
    4·m·e_c − d_c² in decimal(38,0).  e_c (`_e`) = Σ w of the edges
    whose endpoints share the community — self-loops included, counted
    once (a self-loop's w IS the intra-super-vertex original-edge
    count); d_c (`_ds`) = Σ of its members' weighted degrees.

    Contraction preserves both terms exactly, so on a contracted
    super-graph this equals the original graph's terms for the projected
    labeling — and on the unit-weight graph (`_unit`) it IS the original
    graph's.  `m` is always the original edge count, so every level
    shares the 4m² denominator.  `wdeg` (opt-in) reuses a persisted
    degree table; `small` broadcasts the vertex-sized sides
    (`_bcast_if`)."""
    su = slab.select(F.col("sid").alias("u2"), F.col("sc").alias("_cu"))
    sv = slab.select(F.col("sid").alias("v2"), F.col("sc").alias("_cv"))
    e_c = (sed.join(_bcast_if(su, small), "u2")
           .join(_bcast_if(sv, small), "v2")
           .filter(F.col("_cu") == F.col("_cv"))
           .groupBy(F.col("_cu").alias("_c"))
           .agg(F.sum("w").alias("_e")))
    if wdeg is None:
        wdeg = _wdeg(sed)
    d_c = (wdeg.join(_bcast_if(slab, small), "sid")
           .groupBy(F.col("sc").alias("_c"))
           .agg(F.sum("_d").alias("_ds")))
    four_m = F.lit(4 * m).cast("decimal(38,0)")
    return (d_c.join(_bcast_if(e_c, small), "_c", "left")
            .select("_c", F.coalesce("_e", F.lit(0).cast("long")).alias("_e"),
                    "_ds")
            .withColumn("contrib",
                        (four_m * _dec("_e") - _dec("_ds") * _dec("_ds"))
                        .cast("decimal(38,0)")))


def _numerator_from_sed(sed: DataFrame, m: int, slab: DataFrame,
                        small: bool = False,
                        wdeg: DataFrame | None = None) -> int:
    """Exact-integer modularity numerator Σ (4·m·e_c − d_c²) of `slab`
    on the level `sed` (see `_contrib_from_sed`) — one action."""
    if m == 0:
        return 0
    contrib = _contrib_from_sed(sed, m, slab, small=small, wdeg=wdeg)
    n = contrib.agg(F.sum("contrib").alias("n")).collect()[0]["n"]
    return int(n or 0)


def _weighted_move_proposal(sedges: DataFrame, slab: DataFrame,
                            m: int, parity: int | None = None,
                            small: bool = False,
                            wdeg: DataFrame | None = None,
                            adj: DataFrame | None = None,
                            identity: bool = False) -> DataFrame:
    """One UNGUARDED synchronous Louvain local-move proposal on a level's
    weighted edge set `sedges` (see `_contrib_from_sed`; level 1 is the
    unit-weight graph, contracted levels carry w = number of original
    edges between two super-vertices).  `slab` maps sid → community sc.
    Every vertex v evaluates moving to each NEIGHBOR community c, scoring
    by the exact integer gain

        ΔQ·4m² = 4m·(k_{v,c} − k_{v,c_v∖v}) − 2·k_v·(d_c − (d_{c_v} − k_v))

    (k_{v,c} = edge weight from v into c, d_c = community degree mass,
    k_v = v's weighted degree; the original m throughout, so a gain here
    IS a gain on the original graph), takes the best strictly-positive
    move (ties → smallest community id, argmax-then-min — no id
    negation, type-safe for any ordered id), and applies all winning
    moves SIMULTANEOUSLY.  Returns (sid, sc); the caller guards it with
    the exact numerator.

    Plan: TWO edge-scale passes — the adj→nbr aggregation, then ONE
    min_by argmax over the partial score p = 4m·k_to − 2·_d·d_cand (the
    per-vertex terms shift every candidate's gain equally, so the winner
    is identical and the exact gain gates only the winner row).  The own
    community rides along ranked strictly last, so a winner equal to sc
    simply does not move.  The per-vertex constants (sc, _d, d_cur) are
    functions of sid and ride the argmax as extra group keys: identical
    groups, and hash(sid) still satisfies the clustered distribution.
    `wdeg`/`adj` reuse the persisted level invariants
    (`_level_invariants`); `small` broadcasts every vertex- or
    community-sized side table, so only the aggregations shuffle.

    `parity` (0 or 1): only vertices whose first md5 hex nibble of the
    id has that parity may move — the parallel-Louvain symmetry breaker.
    A fully synchronous sweep on a symmetric structure (ring, cycle, a
    singleton start) swaps whole neighborhoods at once into a
    permuted-but-no-better labeling the guard rejects; holding half the
    vertices still lets the other half's moves land.  The bit is
    engine-portable, so the SQL oracle replays the same schedule.

    `identity=True`: the caller asserts `slab` IS the singleton labeling
    (sc == sid for every vertex).  Then every label-dependent frame is a
    projection of the invariants — cand = the neighbor itself, k_to = the
    edge weight ((sid, b) is unique in the canonical adjacency), d_c ≡
    side ≡ wdeg — which deletes the label joins and the (sid, cand)
    aggregation exchange; the scoring is shared, so the proposal is
    identical (pinned by test_louvain_identity_proposal_fastpath_equal)."""
    if wdeg is None:
        wdeg = _wdeg(sedges)
    if adj is None:
        adj = _wadj(sedges)
    if identity:
        nbr = adj.select("sid", F.col("b").alias("cand"),
                         F.col("w").alias("k_to"))
        d_c = wdeg.select(F.col("sid").alias("cand"),
                          F.col("_d").alias("d_cand"))
        side = wdeg.select("sid", F.col("sid").alias("sc"), "_d",
                           F.col("_d").alias("d_cur"))
        slab = wdeg.select("sid", F.col("sid").alias("sc"))
    else:
        nbr = (adj.join(_bcast_if(slab.select(F.col("sid").alias("b"),
                                              F.col("sc").alias("cand")),
                                  small), "b")
               .groupBy("sid", "cand").agg(F.sum("w").alias("k_to")))
        d_c = (wdeg.join(_bcast_if(slab, small), "sid")
               .groupBy(F.col("sc").alias("cand"))
               .agg(F.sum("_d").alias("d_cand")))
        side = (slab.join(_bcast_if(wdeg, small), "sid")
                .join(_bcast_if(d_c.select(F.col("cand").alias("sc"),
                                           F.col("d_cand").alias("d_cur")),
                                small), "sc"))

    four_m = F.lit(4 * m).cast("decimal(38,0)")
    two = F.lit(2).cast("decimal(38,0)")
    enriched = (nbr.join(_bcast_if(d_c, small), "cand")
                .join(_bcast_if(side.select("sid", "sc", "_d", "d_cur"),
                                small), "sid"))
    p = four_m * _dec("k_to") - two * _dec("_d") * _dec("d_cand")
    is_own = F.when(F.col("cand") == F.col("sc"), F.lit(1)).otherwise(
        F.lit(0))
    ordk = F.struct(is_own.alias("o"), (-p).alias("np"),
                    F.col("cand").alias("c"))
    agg = (enriched.groupBy("sid", "sc", "_d", "d_cur")
           .agg(F.min_by(F.struct(F.col("cand").alias("c"),
                                  F.col("k_to").alias("kt"),
                                  F.col("d_cand").alias("dc")),
                         ordk).alias("win"),
                F.max(F.when(F.col("cand") == F.col("sc"),
                             F.col("k_to"))).alias("k_own")))
    scored = (agg
              .withColumn(
                  "gain",
                  four_m * (F.col("win.kt").cast("decimal(38,0)")
                            - F.coalesce(F.col("k_own")
                                         .cast("decimal(38,0)"),
                                         F.lit(0).cast("decimal(38,0)")))
                  - two * _dec("_d")
                  * (F.col("win.dc").cast("decimal(38,0)")
                     - (F.col("d_cur").cast("decimal(38,0)")
                        - _dec("_d")))))
    moved = (F.col("win.c") != F.col("sc")) & (F.col("gain") > 0)
    if parity is not None:
        bit = (F.conv(F.substring(F.md5(F.col("sid").cast("string")), 1, 1),
                      16, 10).cast("int") % 2)
        moved = moved & (bit == F.lit(parity))
    best = (scored.filter(moved)
            .select("sid", F.col("win.c").alias("_new")))
    return (slab.join(_bcast_if(best, small), "sid", "left")
            .select("sid", F.coalesce("_new", F.col("sc")).alias("sc")))


def _level_invariants(sed: DataFrame,
                      small: bool) -> tuple[DataFrame, DataFrame]:
    """The labeling-independent invariants of one Louvain level, derived
    once and persisted across its rounds: the weighted degree table
    (`_wdeg`) and the symmetric adjacency (`_wadj`).

    Hash partitioning: under the broadcast regime (`small`) the adjacency
    is repartitioned on `sid` ONCE before the persist, so both edge-scale
    aggregations of every round's proposal — groupBy(sid, cand) and the
    min_by argmax groupBy(sid) — reuse the cached partitioning (hash(sid)
    satisfies both clustered distributions; broadcast joins preserve it)
    instead of paying two exchanges per round.  Past the guard the
    round's joins shuffle by other keys anyway, so the up-front exchange
    would be pure overhead and is skipped.  Results are identical either
    way (exact integer/decimal aggregates, total-order min_by key).
    Executed-plan pin:
    tests/test_graph_ops.py::test_louvain_proposal_round_exchange_free."""
    adj = _wadj(sed)
    return (_wdeg(sed).persist(),
            (adj.repartition("sid") if small else adj).persist())


def _louvain_level(sed: DataFrame, m: int, rounds: int, small: bool,
                   slab: DataFrame | None = None,
                   base: int | None = None) -> tuple[DataFrame, int, bool]:
    """The one guarded Louvain round loop, run once per level on its
    weighted edge set `sed` — level 1 is the unit-weight graph
    (`_unit`), contracted levels the super-graph.  `slab` is the start
    labeling (sid, sc), None for singletons; `base` its numerator when
    the caller already knows it.  Returns (labeling, its numerator,
    whether any round was accepted).

    Guard: each round's proposal (`_weighted_move_proposal`, parity
    alternating 0, 1, 0, …) is accepted only if its exact-integer
    numerator (`_contrib_from_sed`) STRICTLY exceeds the current one —
    so modularity never decreases — and the accepted numerator is
    threaded as the next round's baseline.  A rejected round leaves the
    labeling unchanged and the next parity proposes a different move set;
    two CONSECUTIVE rejections are a fixpoint across both parities, so
    every later round would replay one of them and the loop breaks —
    label-identical to the SQL oracle's unconditional unroll, whose CASE
    makes rejected rounds no-ops.

    Actions: one collect per round, none before.  Round 1's collect also
    sums the baseline numerator when `base` is None — for a singleton
    start as the closed form Σ(4m·w_loop − d²) over the persisted
    weighted degrees (−d² at level 1), else the start labeling's tagged
    contrib frame.  While no round has been accepted from a singleton
    start the labeling is still the identity, so the proposal takes its
    identity fast path.

    Speculation: under the broadcast regime each collect also computes,
    on the accept-assumed branch, the NEXT round's proposal and numerator
    (a deterministic function of (labeling, parity)); when the accept
    lands the next round costs no action.  A rejection discards it, and
    the next round re-derives from the unchanged labeling, so decisions
    are identical to the sequential schedule.  Past the guard the rounds
    are compute-bound edge-scale shuffles where wasted speculative work
    is real money, so it is off.  Proposals are checkpointed lazily: the
    guard's collect materializes them."""
    if m == 0:
        if slab is None:
            slab = sed.select(F.col("u2").alias("sid"),
                              F.col("u2").alias("sc"))
        return slab, 0, False
    wdeg, adj = _level_invariants(sed, small)
    try:
        identity = slab is None
        if identity:
            slab = wdeg.select("sid", F.col("sid").alias("sc"))

        def propose(lab: DataFrame, parity: int, ident: bool) -> DataFrame:
            return _weighted_move_proposal(
                sed, lab, m, parity=parity, small=small, wdeg=wdeg,
                adj=adj, identity=ident).localCheckpoint(eager=False)

        def tagged(tag: str, lab: DataFrame) -> DataFrame:
            return _contrib_from_sed(sed, m, lab, small=small, wdeg=wdeg) \
                .select(F.lit(tag).alias("t"), "contrib")

        def sums(branches: list[DataFrame]) -> dict:
            uni = branches[0]
            for b in branches[1:]:
                uni = uni.unionByName(b)
            return {r["t"]: int(r["n"] or 0)
                    for r in uni.groupBy("t")
                    .agg(F.sum("contrib").alias("n")).collect()}

        num = base
        start: list[DataFrame] = []  # the start labeling's "b" branches
        if num is None:
            if identity:
                four_m = F.lit(4 * m).cast("decimal(38,0)")
                start = [sed.filter(F.col("u2") == F.col("v2"))
                         .select(F.lit("b").alias("t"),
                                 (four_m * _dec("w")).alias("contrib")),
                         wdeg.select(F.lit("b").alias("t"),
                                     (-(_dec("_d") * _dec("_d")))
                                     .alias("contrib"))]
            else:
                start = [tagged("b", slab)]
            if rounds <= 0:
                num = sums(start).get("b", 0)
        improved = False
        rejects = 0
        pending: tuple[DataFrame, int] | None = None
        for r in range(rounds):
            if pending is not None:
                (prop, new), spec, pending = pending, None, None
            else:
                prop = propose(slab, r % 2, identity)
                branches = [tagged("n", prop)]
                if num is None:
                    branches += start
                spec_prop = (propose(prop, (r + 1) % 2, False)
                             if small and r + 1 < rounds else None)
                if spec_prop is not None:
                    branches.append(tagged("s", spec_prop))
                got = sums(branches)
                new = got.get("n", 0)
                if num is None:
                    num = got.get("b", 0)
                spec = ((spec_prop, got.get("s", 0))
                        if spec_prop is not None else None)
            if new <= num:
                rejects += 1
                if rejects >= 2:
                    break
                continue
            rejects = 0
            slab, num, improved, identity = prop, new, True, False
            pending = spec
    finally:
        wdeg.unpersist()
        adj.unpersist()
    return slab, num, improved


def modularity_local_move(edges: DataFrame, labels: DataFrame,
                          label_col: str = "community") -> DataFrame:
    """One GUARDED synchronous Louvain-style local-move round on top of an
    existing labeling (e.g. label_propagation output) — the proposal is
    `_weighted_move_proposal` on the unit-weight graph without a parity
    bit (see its docstring for the exact-integer gain and tie-breaks).

    Synchronous application can oscillate on symmetric graphs (the known
    parallel-Louvain caveat), so the round is guarded: modularity of the
    proposed labeling is compared against the input's — in exact integer
    numerators, same denominator — and the input labeling is returned
    unchanged unless the round strictly improved it.  The returned
    labeling therefore NEVER has lower modularity than the input.

    Cost: three keyed aggregations + small-dimension joins + ONE O(m)
    guard aggregation per labeling (the input's numerator is computed
    here because this is the stateless public entry), nothing quadratic;
    the candidate set is bounded by the neighbor-community count, itself
    bounded by degree.  Returns (id, <label_col>)."""
    out_cols = ["id", label_col]
    und = _undirected_simple(edges).localCheckpoint(eager=True)
    m = und.count()
    if m == 0:
        return labels.select(*out_cols)
    sed = _unit(und)
    lab = (labels.select(F.col("id").alias("sid"),
                         F.col(label_col).alias("sc"))
           .localCheckpoint(eager=True))
    small = broadcast_fits(lab, lab.count())
    proposed = (_weighted_move_proposal(sed, lab, m, small=small)
                .localCheckpoint(eager=True))
    # monotone guard: exact integer numerators, same 4m² denominator
    q_old = _numerator_from_sed(sed, m, lab, small=small)
    q_new = _numerator_from_sed(sed, m, proposed, small=small)
    if q_new > q_old:
        return proposed.select(F.col("sid").alias("id"),
                               F.col("sc").alias(label_col))
    return labels.select(*out_cols)


def louvain(edges: DataFrame, labels: DataFrame | None = None,
            label_col: str = "community", max_rounds: int = 5) -> DataFrame:
    """Louvain-style community refinement: up to max_rounds guarded,
    parity-alternated local-move rounds (`_louvain_level` on the
    unit-weight graph) from an initial labeling — default: singleton
    communities over the undirected simple vertex domain, the classic
    Louvain start (the domain matches `louvain_full` and the SQL oracle,
    so self-loop-only vertices — modularity-neutral by definition — are
    consistently excluded).  The modularity sequence is non-decreasing.

    This is the LOCAL-MOVE phase only — `louvain_full` adds the
    contraction phase.  Returns (id, <label_col>)."""
    und, m, n = _und_stats(edges)
    small = broadcast_fits(und, n)
    slab = None
    if labels is not None:
        slab = (labels.select(F.col("id").alias("sid"),
                              F.col(label_col).alias("sc"))
                .localCheckpoint(eager=True))
    out, _, _ = _louvain_level(_unit(und), m, max_rounds, small, slab=slab)
    return out.select(F.col("sid").alias("id"), F.col("sc").alias(label_col))


def _und_stats(edges: DataFrame) -> tuple[DataFrame, int, int]:
    """Lazy-checkpointed undirected simple edge set plus (m, n) in ONE
    action (r11 action budget): the stats aggregation over the exploded
    endpoint column materializes the checkpoint as a side effect, so
    callers no longer pay a separate eager-checkpoint job + count + a
    vertex-distinct job just to size broadcast decisions."""
    und = _undirected_simple(edges).localCheckpoint(eager=False)
    row = (und.select(F.explode(F.array("u", "v")).alias("id"))
           .agg(F.count(F.lit(1)).alias("c2"),
                F.countDistinct("id").alias("n")).collect()[0])
    return und, int(row["c2"]) // 2, int(row["n"])


def louvain_full(edges: DataFrame, label_col: str = "community",
                 level1_rounds: int = 5, level2_rounds: int = 4,
                 max_levels: int = 3,
                 _capture: dict | None = None) -> DataFrame:
    """FULL Louvain: local-move rounds plus contraction, every level one
    run of `_louvain_level` (rules in its docstring).  Level 1 runs
    level1_rounds on the unit-weight graph from singletons; while a level
    accepts a round and levels remain under `max_levels`, its communities
    contract to super-vertices (one groupBy relabel of the level's edge
    set: super-edge weight = Σ w between two communities, self-loop
    weight = Σ w inside one) and the next level runs level2_rounds from
    singletons on that super-graph — the standard Louvain "loop until no
    level improves" termination, capped for oracle replayability.
    Default max_levels=3 (two contraction levels).  When level 1 accepts
    nothing its contraction is the identity, so level 2 reuses the
    unit-weight graph without the O(m) groupBy.  A contracted level that
    accepts nothing ends the loop: an oracle unrolling deeper levels
    replays its rejected proposals (same identity start, same parities)
    and rejects them again, so the break is label-identical.

    Contracted levels guard on the contracted graph's numerator, provably
    equal to the original graph's for the projected labeling
    (`_contrib_from_sed`; same 4m² denominator throughout), threaded from
    level to level, so accepts never decrease modularity across rounds
    or levels and each contracted round costs a super-graph-sized
    aggregation.  Only level 2's contraction is O(m): level ℓ ≥ 3
    contracts the previous super-graph.  The accepted per-level mappings
    project back to the original vertices ONCE after the loop, followed
    by ONE O(m) unit-weight numerator pass that re-derives the threaded
    numerator — a never-wrong consistency check of the whole contraction
    chain.  The undirected edge set is derived once (`_und_stats`).

    `_capture` (private): when a dict is passed, the already-computed
    exact numerators are recorded into it — "level1_num" (the
    local-move-only labeling's, identical to what a standalone
    `louvain(edges, max_rounds=level1_rounds)` run would re-derive),
    "level_nums" (each accepted contracted level's, non-decreasing) and
    "final_num" (the returned labeling's) — so certificate-emitting
    callers don't re-run level 1 or re-aggregate O(m) numerators.
    Returns (id, <label_col>)."""
    und, m, n = _und_stats(edges)
    small = broadcast_fits(und, n)
    unit = sed = _unit(und)
    # level 1's labeling, then each accepted contracted level's sid → sc
    labs: list[DataFrame] = []
    num: int | None = None
    improved = False
    for level in range(max(max_levels, 1)):
        if improved:
            mu = labs[-1].select(F.col("sid").alias("u2"),
                                 F.col("sc").alias("cu"))
            mv = labs[-1].select(F.col("sid").alias("v2"),
                                 F.col("sc").alias("cv"))
            sed = (sed.join(_bcast_if(mu, small), "u2")
                   .join(_bcast_if(mv, small), "v2")
                   .select(F.least("cu", "cv").alias("u2"),
                           F.greatest("cu", "cv").alias("v2"), "w")
                   .groupBy("u2", "v2").agg(F.sum("w").alias("w"))
                   .localCheckpoint(eager=True))
        slab, num, improved = _louvain_level(
            sed, m, level2_rounds if level else level1_rounds, small,
            base=num)
        if level and not improved:
            break
        labs.append(slab)
        if _capture is not None:
            if level:
                _capture.setdefault("level_nums", []).append(num)
            else:
                _capture["level1_num"] = num
    out = labs[0]
    if len(labs) > 1:
        # left + coalesce: a community absent from a super-edge set
        # (possible only with exotic labelings) keeps its previous label
        for mp in labs[1:]:
            out = (out.join(_bcast_if(mp.select(F.col("sid").alias("sc"),
                                                 F.col("sc").alias("_n")),
                                      small), "sc", "left")
                   .select("sid", F.coalesce("_n", F.col("sc")).alias("sc")))
        out = out.localCheckpoint(eager=False)
        check = _numerator_from_sed(unit, m, out, small=small)
        if check != num:
            raise RuntimeError(
                "louvain_full: contracted-graph numerator diverged from "
                f"the original graph ({num} != {check}) — "
                "contraction invariant violated")
    if _capture is not None:
        _capture["final_num"] = num
    return out.select(F.col("sid").alias("id"), F.col("sc").alias(label_col))


def sssp(weighted_edges: DataFrame, source: int, iterations: int = 8) -> DataFrame:
    """Single-source shortest paths over weighted edges (src, dst, weight):
    Bellman-Ford rounds, d_t(v) = min(d_{t-1}(v), min over in-edges
    (d_{t-1}(u) + w)) — each round is the relax round `_relax`.  Fixed
    round count; converges when iterations >= longest shortest path's hop
    count.  Min-plus is deterministic across engines (each candidate is
    one left-associated sum chain), so results are oracle-matchable
    bit-for-bit.  Returns (id, distance)."""
    seed = weighted_edges.sparkSession.createDataFrame(
        [(int(source), 0.0)], "id long, distance double")
    return _bellman_ford(weighted_edges.select("src", "dst", "weight"),
                         seed, iterations, F.col("weight"))


def _relax(side: DataFrame, val: str, msg: Column,
           agg: Callable[[str], Column], keys: tuple[str, ...] = ()
           ) -> Callable[[DataFrame, int], DataFrame]:
    """The relax round of sssp, shortest_paths and hyperball, as a
    `_fixpoint` step over an (id, *keys, val) state: ship every state row
    along `side`'s (src, dst) edges as `msg` (over the joined row), union
    the messages with the state, and re-aggregate per (id, *keys) with
    `agg` — min for the min-plus distances, hll_union_agg for HyperBall's
    sketches.  One join and one group-by shuffle per round."""
    def step(state: DataFrame, i: int) -> DataFrame:
        msgs = (side.join(state.withColumnRenamed("id", "src"), "src")
                .select(F.col("dst").alias("id"), *keys, msg.alias(val)))
        return (state.unionByName(msgs)
                .groupBy("id", *keys).agg(agg(val).alias(val)))
    return step


def _bellman_ford(side: DataFrame, seed: DataFrame, rounds: int,
                  weight: Column, keys: tuple[str, ...] = ()) -> DataFrame:
    """`rounds` min-plus relax rounds from the (id, *keys, distance) seed
    over the edge side, persisted for the loop, each edge adding `weight`
    (a column of the side, or a literal for unit weights, which then
    never enters the persisted side); the loop of sssp and
    shortest_paths."""
    side = side.persist()
    try:
        dists, _, _ = _fixpoint(
            _relax(side, "distance", F.col("distance") + weight, F.min,
                   keys), seed, rounds)
        return dists.localCheckpoint(eager=True)
    finally:
        side.unpersist()


def harmonic_closeness(edges: DataFrame, landmarks: list[int],
                       iterations: int = 10) -> DataFrame:
    """Landmark-approximated harmonic closeness centrality:
    h(v) = Σ over reached landmarks (distance > 0) of 1/distance — the
    standard scalable centrality estimate (exact closeness needs all-pairs
    BFS; landmark sampling is the textbook approximation, cost = one
    shortest_paths run, state |V|×|landmarks|).

    Determinism contract: the 1/d terms are summed as INTEGERS scaled by
    lcm(1..iterations) (every hop distance divides it), so the sum is
    order-independent — a raw float Σ1/d would be partition-order-dependent
    in the last bits and could flip the rounded value between engines.  One
    final division + round(6) produces the reported double.
    Returns (id, n_reached, harmonic)."""
    import math

    scale = math.lcm(*range(1, iterations + 1))
    d = shortest_paths(edges, landmarks, iterations)
    scaled = F.sum(
        F.when(F.col("distance") > 0,
               (F.lit(scale) / F.col("distance")).cast("long")))
    return d.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_reached"),
        F.round(F.coalesce(scaled, F.lit(0)) / float(scale), 6).alias("harmonic"),
    )


def diameter_double_sweep(edges: DataFrame, start_id: int | None = None,
                          iterations: int = 15) -> DataFrame:
    """Double-sweep diameter estimation over the undirected graph: BFS
    from a start vertex to its farthest reachable vertex u (ties by min
    id), then BFS from u — the second sweep's eccentricity is the classic
    tight LOWER bound on diameter (exact on trees; within a small factor
    on real graphs), at the cost of TWO landmark-BFS runs instead of the
    all-pairs computation exact diameter needs.  The two bridge scalars
    (the farthest vertex, its distance) are driver-side single-row
    lookups; everything else is the shortest_paths shuffle shape.
    Returns one row (start_id, peripheral_id, diameter_lower_bound,
    n_reached) — n_reached counts the second sweep's reach (diameter of
    THAT component)."""
    und = (edges.select("src", "dst")
           .unionByName(edges.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst"))))
    if start_id is None:
        start_id = und.agg(F.min("src")).collect()[0][0]
        if start_id is None:
            raise ValueError("empty edge set")
    d1 = shortest_paths(und, [int(start_id)], iterations)
    far = (d1.agg(F.max_by(F.struct(F.col("id"), F.col("distance")),
                           F.struct(F.col("distance").alias("d"),
                                    (-F.col("id")).alias("neg")))
                  .alias("f"))
           .select("f.id", "f.distance").collect()[0])
    d2 = shortest_paths(und, [int(far["id"])], iterations)
    return (d2.agg(F.max("distance").alias("diameter_lower_bound"),
                   F.count(F.lit(1)).alias("n_reached"))
            .select(F.lit(int(start_id)).cast("long").alias("start_id"),
                    F.lit(int(far["id"])).cast("long").alias("peripheral_id"),
                    "diameter_lower_bound", "n_reached"))


def betweenness_centrality(edges: DataFrame, sources: list[int],
                           max_depth: int = 10,
                           directed: bool = False) -> DataFrame:
    """Sampled-source betweenness centrality (Brandes): for each source s
    in `sources`, a level-synchronous BFS counts shortest paths (σ), then
    the dependency accumulation δ(v) = Σ_{w∈succ(v)} σ_v/σ_w · (1+δ_w)
    runs the levels backward; betweenness(v) = Σ_s δ_s(v) over the sampled
    sources (v ≠ s).  With sources = every vertex this is exact Brandes
    (undirected graphs count each pair in both directions — halve
    externally for the classic normalization); with a sample it is the
    standard scalable estimator (scale by n/|S| for an unbiased estimate).

    Plan shape: the per-level state is keyed (source, vertex) like
    shortest_paths — state size |V|×|sources|, so keep the source sample
    small (that is the estimator's contract anyway).  The forward BFS runs
    on `_fixpoint` over every (source, vertex) reached so far, tagged with
    its depth, and stops when the cut's row count stops growing.  Each
    forward level is one join+groupBy shuffle; each backward level joins
    the level's vertices to their predecessors and aggregates — O(depth)
    rounds total, every frame cut so lineage stays flat.  δ sums are
    float; the output is rounded to 6dp (σ ratios are exact small
    rationals, so 6dp is stable in practice, unlike raw last-bit floats).

    Returns (id, betweenness) for every vertex reached by any BFS."""
    spark = edges.sparkSession
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    if not directed:
        e = e.unionByName(e.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
    e = e.distinct().persist()
    try:
        sizes = [len(sources)]  # row counts of the visited set's cuts

        def _b(df: DataFrame) -> DataFrame:
            return F.broadcast(df) if broadcast_fits(df, sizes[-1]) else df

        def bfs(seen: DataFrame, i: int) -> DataFrame:
            frontier = _b(seen.filter(F.col("depth") == i))
            nxt = (frontier.join(e, frontier.v == e.src)
                   .groupBy("s", F.col("dst").alias("v"))
                   .agg(F.sum("sigma").alias("sigma"))
                   .join(_b(seen.select("s", "v")), ["s", "v"], "left_anti"))
            return seen.unionByName(nxt.withColumn("depth", F.lit(i + 1)))

        def nothing_new(ck: DataFrame, prev: DataFrame) -> bool:
            sizes.append(_rows(ck))
            return sizes[-1] == sizes[-2]

        seen, depth, converged = _fixpoint(
            bfs, spark.createDataFrame(
                [(int(s), int(s), 1.0, 0) for s in sources],
                "s long, v long, sigma double, depth int"),
            max_depth, probe=nothing_new)
        levels = [seen.filter(F.col("depth") == d).drop("depth")
                  for d in range(depth if converged else depth + 1)]
        # backward dependency accumulation, deepest level first; the
        # broadcast hint goes on inner-join build sides only (a left
        # join's preserved side cannot be built, so Spark drops it)
        deltas: list[DataFrame] = [None] * len(levels)
        deltas[-1] = _b(levels[-1]).select(
            "s", "v", F.lit(0.0).alias("delta"))
        for l in range(len(levels) - 1, 0, -1):
            v_lvl = (_b(levels[l]).join(deltas[l], ["s", "v"])
                     .select("s", F.col("v"),
                             F.col("sigma").alias("sigma_v"), "delta"))
            # predecessors: u -> v edge with u one level up
            contrib = (v_lvl.join(e, v_lvl.v == e.dst)
                       .select("s", F.col("src").alias("u"),
                               "sigma_v", "delta"))
            up = levels[l - 1].select(
                "s", F.col("v").alias("u"), F.col("sigma").alias("sigma_u"))
            dep = (contrib.join(_b(up), ["s", "u"])
                   .groupBy("s", "u")
                   .agg(F.sum(F.col("sigma_u") / F.col("sigma_v")
                              * (F.lit(1.0) + F.col("delta")))
                        .alias("delta")))
            deltas[l - 1] = (up.select("s", F.col("u").alias("v"))
                             .join(dep.select("s", F.col("u").alias("v"),
                                              "delta"),
                                   ["s", "v"], "left")
                             .select("s", "v",
                                     F.coalesce("delta", F.lit(0.0))
                                     .alias("delta"))
                             .localCheckpoint(eager=True))
        return (_union(deltas).filter(F.col("s") != F.col("v"))
                .groupBy(F.col("v").alias("id"))
                .agg(F.round(F.sum("delta"), 6).alias("betweenness")))
    finally:
        e.unpersist()


def random_walks(edges: DataFrame, start_ids: list[int], length: int,
                 walks_per_node: int = 1, salt: str = "") -> DataFrame:
    """Deterministic 'random' walks — the node2vec/DeepWalk input stage.
    Walk w at vertex v picks the neighbor minimizing
    md5(walk_id:step:neighbor:salt): uniform-ish among neighbors, but a
    pure function of (walk, step, neighbor), so the corpus of walks is
    reproducible across runs, engines, and partitionings — the same
    property the hash-driven samplers (functions/sampling.py) guarantee,
    and the reason the choice is a FULL md5 hex string comparison (no
    numeric truncation — any engine compares the same 32 chars).

    Returns (wid, step, vertex): step 0 is the seed; a walk reaching a
    sink (no out-edges) simply stops contributing rows.  wid enumerates
    (seed index × walks_per_node + walk index) — small ints, stable.

    Plan: per step, one join of the O(#walks) frontier against the
    adjacency (frontier broadcasts; the edge side never shuffles) and one
    tiny min_by aggregate per walk.  The steps run on `_fixpoint`, cut
    lazily every 4th step; each step's frontier is a walk leg.  At 100 TB
    the edge side is the by-src copy of the dual layout and each step
    stays co-located."""
    spark = edges.sparkSession
    adj = edges.select(F.col("src").alias("cur"), F.col("dst").alias("nbr")).persist()
    try:
        seeds = [(i * walks_per_node + j, int(v), 0)
                 for i, v in enumerate(start_ids) for j in range(walks_per_node)]
        legs: list[DataFrame] = []

        def walk(frontier: DataFrame, i: int) -> DataFrame:
            legs.append(frontier)
            t = i + 1
            choice = F.md5(F.concat_ws(
                ":", F.col("wid").cast("string"), F.lit(str(t)),
                F.col("nbr").cast("string"), F.lit(salt)))
            return (
                F.broadcast(frontier.select("wid", F.col("vertex").alias("cur")))
                .join(adj, "cur")
                .groupBy("wid")
                .agg(F.min_by(F.col("nbr"), choice).alias("vertex"))
                .select("wid", "vertex", F.lit(t).alias("step"))
            )

        last, _, _ = _fixpoint(
            walk, spark.createDataFrame(seeds, "wid int, vertex long, step int"),
            length, every=4)
        # materialize while the adjacency cache is alive (pagerank's rule)
        return (_union(legs + [last]).select("wid", "step", "vertex")
                .localCheckpoint(eager=True))
    finally:
        adj.unpersist()


def hyperball(edges: DataFrame, max_rounds: int = 16, lg_k: int = 12,
              rel_tol: float = 0.001,
              _rounds_out: list | None = None) -> DataFrame:
    """HyperBall (Boldi & Vigna 2013): the neighborhood function N(r) —
    how many (v, u) pairs are within out-distance ≤ r — estimated with one
    HyperLogLog sketch per vertex instead of one BFS per vertex.  Exact
    all-pairs distances are Θ(n·m) (a BFS per vertex — years at 100 TB);
    HyperBall is O(rounds · m) with fixed 2^lg_k-byte state per vertex,
    which is why it's the only way to measure distance structure at scale.

    Per round, ball_{r+1}(v) = ball_r(v) ∪ ⋃_{(v,u)∈E} ball_r(u) — sssp's
    relax round (`_relax`) on the reversed edges with hll_union_agg in
    place of min: one join shipping neighbor sketches plus one
    hll_union_agg, both JVM-side (Spark's datasketches HLL: mergeable,
    fixed-size, exactly the combinable-aggregate shape the 100 TB plan
    needs; the same shuffle key every round, so a bucketed-by-dst edge
    table co-locates it).
    Stops early when N(r) grows by < rel_tol (relative) in a round — the
    1-row convergence probe follows the pagerank/CC collect contract.

    Returns (radius, reachable_pairs): N(0)=|V| through the stopping
    radius.  Estimates carry standard HLL error (~1.04/√2^lg_k ≈ 1.6% at
    the default lg_k=12); rel_tol below that is aspirational — the
    stopping rule compares successive estimates from the SAME sketches,
    whose errors are highly correlated, so in practice it still detects
    the plateau.  For exact small-graph ground truth, BFS via
    shortest_paths remains the oracle (tests do exactly that).

    No SQL oracle can replay datasketches internals, so this operator is
    pytest-covered (exact-BFS tolerance + monotonicity), like the other
    sketch/streaming surfaces."""
    spark = edges.sparkSession
    # reversed: a vertex's ball takes in its out-neighbours' balls
    e = edges.select(F.col("dst").alias("src"),
                     F.col("src").alias("dst")).persist()
    try:
        verts = _endpoints(e)

        def total(df: DataFrame):
            return (df.agg(F.sum(F.hll_sketch_estimate("ball")).alias("t"))
                    .collect()[0]["t"])

        state, t0 = _ckpt(
            verts.groupBy("id")
            .agg(F.hll_sketch_agg("id", F.lit(lg_k)).alias("ball")), total)
        if t0 is None:  # empty edge set: no vertices, no curve
            return spark.createDataFrame(
                [], "radius int, reachable_pairs double")
        totals = [float(t0)]

        def plateau(ck: DataFrame, prev: DataFrame) -> bool:
            totals.append(float(total(ck)))
            return totals[-1] - totals[-2] < rel_tol * totals[-2]

        _, rounds, _ = _fixpoint(
            _relax(e, "ball", F.col("ball"), F.hll_union_agg), state,
            max_rounds, probe=plateau)
        if _rounds_out is not None:
            _rounds_out.append(rounds)
        return spark.createDataFrame(
            [(r, v) for r, v in enumerate(totals)],
            "radius int, reachable_pairs double")
    finally:
        e.unpersist()


def hyperball_summary(edges: DataFrame, max_rounds: int = 16,
                      lg_k: int = 12, quantile: float = 0.9) -> DataFrame:
    """One-row distance-structure summary from the HyperBall curve:
    n_vertices, avg_distance (mean over reachable pairs at distance ≥ 1),
    and the effective diameter — the smallest radius reaching `quantile`
    of all reachable pairs (interpolated between radii, the standard
    Boldi-Vigna convention)."""
    nf = sorted((r["radius"], r["reachable_pairs"])
                for r in hyperball(edges, max_rounds, lg_k).collect())
    ns = [v for _, v in nf]
    spark = edges.sparkSession
    if not ns:  # empty graph
        return spark.createDataFrame(
            [(0.0, 0.0, 0.0)],
            "n_vertices double, avg_distance double, effective_diameter double")
    n0, nmax = ns[0], ns[-1]
    gained = nmax - n0
    avg = (sum(r * (ns[r] - ns[r - 1]) for r in range(1, len(ns))) / gained
           if gained > 0 else 0.0)
    target = quantile * nmax
    eff = float(len(ns) - 1)
    for r in range(len(ns)):
        if ns[r] >= target:
            if r == 0 or ns[r] == ns[r - 1]:
                eff = float(r)
            else:
                eff = (r - 1) + (target - ns[r - 1]) / (ns[r] - ns[r - 1])
            break
    return spark.createDataFrame(
        [(float(n0), avg, eff)],
        "n_vertices double, avg_distance double, effective_diameter double")


def _ckpt(df: DataFrame, measure: Callable[[DataFrame], Any] | None = None
          ) -> tuple[DataFrame, Any]:
    """localCheckpoint materialized by exactly ONE action and rebuilt as a
    bare LogicalRDD with NO inherited size statistics; returns
    (frame, value of that action).

    The action is `measure(ck)` over the lazy checkpoint when given — a
    `_fixpoint` probe or a count the caller needs anyway — and otherwise
    `_rows`, so the caller gets the exact row count for free.

    Why the stats reset: localCheckpoint truncates lineage but copies the
    origin plan's size-in-bytes ESTIMATE into the LogicalRDD, so estimates
    compound across rounds; a pointer-doubling step (root ⨝ root) SQUARES
    the estimate every iteration, and after a handful of rounds the BigInt
    holding it reaches megabytes — Catalyst's stats visitor then burns
    minutes in BigInteger.divide and OOMs the driver (observed at round 3
    on a 3,638-edge graph).  Rebuilding from the checkpoint RDD (JVM-side,
    zero recompute, no Python boundary) resets the estimate to
    spark.sql.defaultSizeInBytes, so the planner never auto-broadcasts
    these frames: operators that want a broadcast ask `broadcast_fits`.

    Supported runtimes: classic py4j-backed Spark 3.4-4.x sessions ONLY.
    Uses private internals (DataFrame._jdf, QueryExecution.toRdd,
    SparkSession.internalCreateDataFrame) that do not exist on Spark
    Connect, so fail fast with a clear error instead of an opaque py4j
    AttributeError."""
    if not hasattr(df, "_jdf"):
        raise RuntimeError(
            "_ckpt requires a classic (py4j) SparkSession; Spark "
            "Connect sessions expose no DataFrame._jdf. Run iterative "
            "graph operators on a non-Connect session.")
    spark = df.sparkSession
    ck = df.localCheckpoint(eager=False)
    jdf = ck._jdf
    value = measure(ck) if measure is not None else _rows(ck)
    fresh = spark._jsparkSession.internalCreateDataFrame(
        jdf.queryExecution().toRdd(), jdf.schema(), False)
    return DataFrame(fresh, spark), value


def _rows(ck: DataFrame) -> int:
    """Exact row count of a lazy checkpoint in its one materializing job:
    the JVM count of the checkpoint RDD (a DataFrame.count() over it would
    plan an aggregate, one job more).  `_ckpt`'s default action, and the
    row-count probe of `_fixpoint` callers."""
    return ck._jdf.queryExecution().toRdd().count()


def _settled(ck: DataFrame, prev: DataFrame) -> bool:
    """`_fixpoint` probe of the change-flag operators: True when no row of
    the cut carries the `_chg` flag its last step set."""
    return ck.filter(F.col("_chg")).count() == 0


def _fixpoint(step: Callable[[DataFrame, int], DataFrame], state: DataFrame,
              rounds: int, *, every: int | None = 1,
              probe: Callable[[DataFrame, DataFrame], bool] | None = None
              ) -> tuple[DataFrame, int, bool]:
    """The round loop of the iterative graph operators: up to `rounds`
    times `state = step(state, i)`, each step building its round lazily;
    returns (state, rounds run, whether the probe reported convergence).

    Every `every` rounds (never if falsy) the lineage is cut, lazy unless
    probed; a probed loop also cuts and probes its last round, so its
    verdict covers the state it returns.  Unprobed, the cut is
    `localCheckpoint(eager=False)`: nothing reads the state between
    rounds, so the cuts ride the caller's final action (pagerank's 10
    rounds at checkpoint_every=2: 5 actions → 1); such a cut keeps the inherited size estimate, so a step must not join
    two frames derived from its state (the estimate would square).
    Probed, the cut is `_ckpt` whose one action is `probe(cut, prev)` —
    `prev` being the previous probed cut, or the initial state at the
    first probe — and True stops the loop.  The probed cut carries no
    inherited size estimate, so its joins ask `broadcast_fits`.  A step
    with side outputs (walk legs, assigned vertices) takes them from the
    state it is handed — the cut, when the previous round was cut — so
    they read materialized rows instead of replaying the round.  Callers
    that persisted inputs end with one `localCheckpoint(eager=True)`
    before releasing them."""
    prev = state
    for i in range(rounds):
        state = step(state, i)
        if not every or ((i + 1) % every and (probe is None or i + 1 < rounds)):
            continue
        if probe is None:
            state = state.localCheckpoint(eager=False)
            continue
        state, stop = _ckpt(state, lambda ck: probe(ck, prev))
        if stop:
            return state, i + 1, True
        prev = state
    return state, rounds, False


def _union(frames: list[DataFrame]) -> DataFrame:
    """unionByName of the frames in order: an operator's side-output legs."""
    return reduce(lambda a, b: a.unionByName(b), frames)


def _within(tol: float, *cols: str) -> Callable[[DataFrame, DataFrame], bool]:
    """`_fixpoint` probe: True when every max |Δcol| between the cut and
    `prev`, joined on id, is under tol — one aggregate job."""
    def probe(ck: DataFrame, prev: DataFrame) -> bool:
        row = (ck.alias("n").join(prev.alias("o"), "id")
               .agg(*(F.max(F.abs(F.col(f"n.{c}") - F.col(f"o.{c}")))
                      for c in cols)).collect()[0])
        return all(d is not None and d < tol for d in row)
    return probe


def _edge_priority(weight: Column, u: Column, v: Column,
                   weight_scale: int = 100) -> Column:
    """Total order on weighted edges as ONE sortable string:
    zero-padded quantized weight, then u, then v.  Distinct priorities make
    the minimum spanning forest unique, so Spark and the SQL oracle agree
    bit-for-bit.  Quantization contract (the corr_pairs precedent): the
    caller guarantees weight*weight_scale is integral and non-negative —
    raw doubles in a MIN() would be fine, but tie-breaking needs the id
    suffix, and string order on a padded integer is engine-portable.

    r11: this is the ORACLE's documented form — spanning_forest itself
    now orders by `_edge_priority_struct` (same total order, 24-byte
    rows); the equivalence is pinned by
    tests/test_graph_ops.py::test_edge_priority_struct_order_equals_string_order."""
    return F.concat_ws(
        ":",
        F.lpad(F.round(weight * weight_scale).cast("long").cast("string"), 18, "0"),
        F.lpad(u.cast("string"), 12, "0"),
        F.lpad(v.cast("string"), 12, "0"),
    )


def _edge_priority_struct() -> Column:
    """The struct twin of `_edge_priority` (r11): lexicographic order on
    struct(kw, u, v) — kw the quantized non-negative weight — equals the
    zero-padded string's order exactly (decimal padding on non-negative
    longs IS numeric order), at 24 bytes a row instead of ~44.  The SQL
    oracle keeps the string form; selections agree bit-for-bit because
    the total orders are identical."""
    return F.struct("kw", "u", "v")


def spanning_forest(weighted_edges: DataFrame, max_rounds: int = 16,
                    jump_steps: int = 24,
                    weight_scale: int = 100) -> DataFrame:
    """Minimum spanning forest by Boruvka contraction — the MapReduce-era
    classic, O(log n) rounds, each round a pair of keyed aggregations (no
    sequential union-find, no sorting the global edge list like Kruskal).

    Round: every component picks its minimum-priority incident cross edge
    (priority = (quantized weight, u, v) — `_edge_priority_struct`, the
    24-byte struct twin of `_edge_priority`'s string whose lexicographic
    order it matches exactly; distinct by construction, so the forest
    is UNIQUE and both engines converge to the same edge set); selected
    edges join the forest; the component-pointer graph they induce (each
    component points at the neighbor its chosen edge reaches) is contracted
    by pointer doubling.  The pick is ONE min_by aggregation over the
    doubled edge list (full payload rides the shuffle).  The
    per-component root table broadcasts while it passes `broadcast_fits`:
    within the budget the pointer-doubling self-joins and the relabel's
    two edge-side joins are broadcast hash joins — the shrinking edge set
    never reshuffles for relabeling — and past it (a 100×-scale round 1)
    the same plans fall back to shuffle joins instead of an executor-heap
    OOM.  With distinct priorities the pointer graph's only
    cycles are mutual pairs, whose smaller id becomes the new root — the
    textbook invariant.

    Orchestration: the live state is the RELABELED cross-edge set — after each
    contraction the edges are rewritten to their component endpoints,
    intra-component edges dropped, and parallel edges between the same
    component pair deduped to the minimum-priority one (safe by the cut
    property: a non-minimum edge between two components can never enter
    the forest while they are separate, and is intra once they merge).
    So the per-round joins run over a GEOMETRICALLY SHRINKING edge set,
    never the full input; the original (u, v, weight) ride along as
    payload.  The rounds run on `_fixpoint`, probed by the cut's row
    count; each round's pointer doubling runs on it too, probed by its
    `_chg` (moved) flag, so it exits at the exact fixpoint step.  The
    forest is the union of the per-round selections.

    Scale: per-round work is keyed aggregations over the shrinking
    cross-edge set plus log-depth pointer doubling over one row PER
    COMPONENT (not per vertex, not per edge).  A 100 TB edge set runs the
    same plan; round 1 dominates and is two shuffles of the edge set.

    Never-wrong contract (the star-CC precedent): raises RuntimeError if
    contraction or the round budget is exhausted before the fixpoint —
    partial forests are never returned.

    Returns (u, v, weight) canonical u<v, one row per forest edge."""
    spark = weighted_edges.sparkSession
    pr = _edge_priority_struct()
    ed, n_ed = _ckpt(
        weighted_edges
        .filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("u"),
                F.greatest("src", "dst").alias("v"), "weight")
        .groupBy("u", "v").agg(F.min("weight").alias("weight"))
        .withColumn("kw",
                    F.round(F.col("weight") * weight_scale).cast("long"))
        .select(F.col("u").alias("cu"), F.col("v").alias("cv"),
                "u", "v", "weight", "kw")
    )
    forest_legs: list[DataFrame] = []

    def boruvka(ed: DataFrame, i: int) -> DataFrame:
        # each component's minimum-priority incident cross edge; map-side
        # partial min_by keeps one candidate per component per partition
        doubled = (ed.select(F.col("cu").alias("c"),
                             "cu", "cv", "u", "v", "weight", "kw")
                   .unionByName(ed.select(F.col("cv").alias("c"),
                                          "cu", "cv", "u", "v",
                                          "weight", "kw")))
        # lazy checkpoint: the pointer-root job below consumes sel twice
        # (ptr + its reverse) and materializes it as a side effect
        sel = (doubled.groupBy("c")
               .agg(F.min_by(F.struct("cu", "cv", "u", "v", "weight"),
                             pr).alias("e"))
               .select("c", "e.cu", "e.cv", "e.u", "e.v", "e.weight")
               .localCheckpoint(eager=False))
        forest_legs.append(sel.select("u", "v", "weight").distinct())
        # component pointer graph: c -> the other endpoint's component
        ptr = sel.select(
            "c",
            F.when(F.col("cu") == F.col("c"), F.col("cv"))
             .otherwise(F.col("cu")).alias("p"))
        # break mutual pairs: the smaller id of a 2-cycle roots itself.
        # Both sides are component-scale; the component count rides this
        # join's own job, so the guard bound is 2·n_ed (every live
        # component has ≥1 incident cross edge).
        other = ptr.select(F.col("c").alias("p"), F.col("p").alias("back"))
        if broadcast_fits(other, 2 * n_ed):
            other = F.broadcast(other)
        root, n_root = _ckpt(
            ptr.join(other, "p", "left")
            .select(
                "c",
                F.when((F.col("back") == F.col("c")) & (F.col("c") < F.col("p")),
                       F.col("c")).otherwise(F.col("p")).alias("p"))
        )

        # root is one row PER COMPONENT: under the guard it ships to every
        # task and the doubling/relabel joins never shuffle the edge set
        def _b(df: DataFrame) -> DataFrame:
            return F.broadcast(df) if broadcast_fits(df, n_root) else df

        def double(root: DataFrame, s: int) -> DataFrame:
            hop = _b(root.select(F.col("c").alias("p"),
                                 F.col("p").alias("pp")))
            return (root.join(hop, "p", "left")
                    .select("c", F.coalesce("pp", "p").alias("p"),
                            (F.col("pp") != F.col("p")).alias("_chg")))

        root, _, converged = _fixpoint(double, root, jump_steps,
                                       probe=_settled)
        if not converged:
            raise RuntimeError(
                "spanning_forest: pointer doubling did not reach the roots "
                f"within {jump_steps} steps — raise jump_steps")
        # relabel endpoints to roots, drop intra edges, dedupe each
        # component pair to its minimum-priority edge (cut property)
        ru = _b(root.select(F.col("c").alias("cu"), F.col("p").alias("ncu")))
        rv = _b(root.select(F.col("c").alias("cv"), F.col("p").alias("ncv")))
        relab = (
            ed.join(ru, "cu", "left").join(rv, "cv", "left")
            .select(F.coalesce("ncu", "cu").alias("a"),
                    F.coalesce("ncv", "cv").alias("b"),
                    "u", "v", "weight", "kw")
            .filter(F.col("a") != F.col("b"))
        )
        return (relab
                .groupBy(F.least("a", "b").alias("cu"),
                         F.greatest("a", "b").alias("cv"))
                .agg(F.min_by(F.struct("u", "v", "weight", "kw"),
                              pr).alias("e"))
                .select("cu", "cv", "e.u", "e.v", "e.weight", "e.kw"))

    def no_cross_edge(ck: DataFrame, prev: DataFrame) -> bool:
        nonlocal n_ed
        n_ed = _rows(ck)
        return n_ed == 0

    _fixpoint(boruvka, ed, max_rounds if n_ed else 0, probe=no_cross_edge)
    if n_ed != 0:
        raise RuntimeError(
            f"spanning_forest: not converged in {max_rounds} rounds")
    return _union([spark.createDataFrame([], "u long, v long, weight double")]
                  + forest_legs)


def maximal_independent_set(edges: DataFrame,
                            max_rounds: int = 24) -> DataFrame:
    """Maximal independent set by Luby's algorithm with DETERMINISTIC
    md5 priorities — the distributed-greedy workhorse behind scheduling,
    coloring seeds, and landmark selection.

    Round t: an active vertex joins the MIS iff its priority is strictly
    below every active neighbor's (priority = md5(id) || ':' || padded id —
    portable, collision-free via the id suffix); selected vertices and
    their neighbors leave the active set.  With random-like priorities the
    active edge set shrinks by a constant factor per round in expectation
    (Luby's lemma), so O(log n) rounds — each round two keyed aggregations
    over the ACTIVE subgraph only, which collapses geometrically.

    Orchestration: the rounds run on `_fixpoint` over the active set,
    probed by the cut's row count, which also bounds the next round's
    broadcasts.  The MIS is the union of each round's `sel`, a `_ckpt`
    cut of its own.  Like every `_ckpt` frame it carries no size
    estimate, so the adj⋈sel neighbor-drop join broadcasts it only
    through `_b` → `broadcast_fits` under the active count; past the
    budget that join shuffles.

    Never-wrong contract: raises RuntimeError if the active set is not
    empty after max_rounds — a prefix of an MIS is not an MIS.

    Returns (id, round) — round = 1-based selection round (deterministic,
    value-checkable)."""
    und = _undirected_simple(edges)
    adj, _ = _ckpt(_symmetric(und, "u", "v"))

    def prio(c: str) -> Column:
        return F.concat_ws(":", F.md5(F.col(c).cast("string")),
                           F.lpad(F.col(c).cast("string"), 12, "0"))

    active, n_act = _ckpt(
        adj.select(F.col("a").alias("id")).distinct()
        .withColumn("prio", prio("id")))
    spark = edges.sparkSession
    mis_legs: list[DataFrame] = []

    # `active`/`sel`/`dropped`/`min_nb` are vertex-scale and n_act bounds
    # each; the guard sizes each frame by its own schema, so min_nb's prio
    # string counts against the budget.  The b-side broadcast carries
    # BARE ids and prio_b is recomputed probe-side (a pure function of the
    # id), not shipped.
    def _b(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if broadcast_fits(df, n_act) else df

    def luby(active: DataFrame, i: int) -> DataFrame:
        act_nb = (
            adj.join(_b(active.select(F.col("id").alias("a"))), "a")
            .join(_b(active.select(F.col("id").alias("b"))), "b")
            .withColumn("prio_b", prio("b"))
        )
        min_nb = act_nb.groupBy("a").agg(F.min("prio_b").alias("mn"))
        sel, _ = _ckpt(
            active.join(_b(min_nb.withColumnRenamed("a", "id")), "id", "left")
            .filter(F.col("mn").isNull() | (F.col("prio") < F.col("mn")))
            .select("id")
        )
        mis_legs.append(sel.select("id", F.lit(i + 1).alias("round")))
        dropped = sel.unionByName(
            adj.join(_b(sel.withColumnRenamed("id", "a")), "a")
            .select(F.col("b").alias("id"))).distinct()
        return active.join(_b(dropped), "id", "left_anti")

    def emptied(ck: DataFrame, prev: DataFrame) -> bool:
        nonlocal n_act
        n_act = _rows(ck)
        return n_act == 0

    _fixpoint(luby, active, max_rounds if n_act else 0, probe=emptied)
    if n_act != 0:
        raise RuntimeError(
            f"maximal_independent_set: active set nonempty after "
            f"{max_rounds} rounds")
    return _union([spark.createDataFrame([], "id long, round int")]
                  + mis_legs)


def greedy_coloring(edges: DataFrame, max_rounds: int = 40,
                    _plan_out: list | None = None) -> DataFrame:
    """Jones-Plassmann greedy graph coloring with deterministic md5
    priorities — register allocation, schedule slotting, conflict-free
    batching.  A vertex colors itself in the round where no SMALLER-
    priority neighbor is still uncolored, taking the smallest color absent
    among its already-colored neighbors; adjacent vertices can never color
    in the same round (one of them has the smaller priority), so the
    coloring is proper by construction and uses ≤ maxdegree+1 colors.

    The "smallest missing color" (mex) is computed WITHOUT a candidate
    explosion: collect_set of the DISTINCT neighbor colors per frontier
    vertex (set size ≤ colors assigned so far, never O(neighbors)), then
    the least value of sequence(0, size(used)) absent from the set —
    pigeonhole guarantees the mex lies in that range, so a hub with 10⁸
    colored neighbors still aggregates to one small array row.

    Rounds = the longest strictly-decreasing-priority path, O(log n) with
    high probability on random-like (md5) priorities.  Never-wrong
    contract: raises if uncolored vertices remain after max_rounds.

    Orchestration (r9 — the 6.7×-cc_star sf1 constant cut to ~2.2×,
    210s → 69s on the sf1 probe graph; fourth design this round, the
    first three measured and rejected at sf1):

    * ONE STATE FRAME holds everything: a row per directed adjacency
      pair of a STILL-UNCOLORED vertex `a`, carrying either the
      neighbor's priority (neighbor uncolored) or its color (neighbor
      colored; prio_b nulled).  One exchange-free aggregation per round
      computes BOTH the frontier condition (min uncolored-neighbor
      priority) and the mex input (distinct neighbor colors); one
      rewrite per round removes picked vertices' rows and converts
      their neighbors' rows to color rows.  Two eager jobs per round,
      and the rewrite's count doubles as an EXACT termination probe.
    * Exchange-free: the state is hash-partitioned on `a` once and kept
      partitioned through a PERSIST chain (broadcast joins and
      projections preserve partitioning, so the per-round groupBy has
      no Exchange — localCheckpoint would drop partitioning at the
      Catalyst level and reshuffle ~m wide rows every round, measured
      5-10s/round at sf1).  Every 8th round the state is
      repartition + localCheckpoint'ed instead: persist does NOT cut
      lineage, and an unbounded plan chain blows up tree
      stringification (measured); the periodic checkpoint bounds plan
      depth at the cost of one amortized shuffle of the SHRINKING
      state.
    * The state shrinks geometrically (rows leave when their vertex
      colors), so late rounds are ~0.3s; priorities are stored only for
      uncolored neighbors and `a`'s own priority is recomputed from the
      group key post-aggregation (group-sized, not edge-sized).

    Never-wrong contract unchanged: raises if state rows remain after
    max_rounds.  The smallest-missing-color (mex) has no candidate
    explosion: `used` holds DISTINCT neighbor colors (≤ colors assigned
    so far, never O(neighbors)), and the least value of
    sequence(0, size(used)) absent from the set is the mex by
    pigeonhole — a hub with 10⁸ colored neighbors still aggregates to
    one small array row.

    The per-round pick joins (anti-join on `a`, color-join on `b`) are
    broadcast UNDER AN EXPLICIT GUARD (pagerank's posture, not AQE
    luck): each round asks `broadcast_fits` with the pick's materialized
    row count — within the session's budget the frontier ships to every
    task and the state's hash-partitioning on `a` survives both joins,
    keeping the next round's groupBy Exchange-free.  Past the budget (an
    early Jones-Plassmann round on a 100×-scale graph can color a large
    vertex fraction at once — a pick too big for any executor heap) the
    round falls back to shuffle joins: the b-join reshuffles the
    SHRINKING state and the round explicitly repartitions its result
    back on `a` before persisting, so one oversized round costs one
    state-sized exchange instead of an OOM — and later rounds return to
    the Exchange-free path.  `_plan_out`, when a list, receives the round-2
    aggregation's executed-plan string (test hook pinning the
    Exchange-free claim).

    Returns (id, color), color ∈ {0, 1, ...} dense from 0."""
    und = _undirected_simple(edges)

    def _prio(c: Column) -> Column:
        return F.concat_ws(":", F.md5(c.cast("string")),
                           F.lpad(c.cast("string"), 12, "0"))

    both = _symmetric(und, "u", "v")
    state = (both.repartition("a")
             .withColumn("prio_b", _prio(F.col("b")))
             .withColumn("color", F.lit(None).cast("int"))).persist()
    n_rows = state.count()
    spark = edges.sparkSession
    colored_legs: list[DataFrame] = []
    prev = state
    try:
        for t in range(1, max_rounds + 1):
            if n_rows == 0:
                break
            agg = (state.groupBy("a")
                   .agg(F.min("prio_b").alias("mn"),
                        F.collect_set("color").alias("used")))
            if _plan_out is not None and t == 2:
                _plan_out.append(
                    agg._jdf.queryExecution().executedPlan().toString())
            pick, n_pick = _ckpt(
                agg.filter(F.col("mn").isNull()
                           | (_prio(F.col("a")) < F.col("mn")))
                .select(F.col("a").alias("id"), F.expr(
                    "CAST(array_min(filter(sequence(0, size(used)), "
                    "c -> NOT array_contains(used, c))) AS INT)")
                    .alias("color")))
            colored_legs.append(pick)
            # explicit broadcast-under-guard: the guard count rode the
            # pick's own materializing job (r11 — one action, not two);
            # pick's (id, color) rows are pick_b's width, the wider side
            bcast = broadcast_fits(pick, n_pick)
            pick_a = pick.select(F.col("id").alias("a"))
            pick_b = pick.select(F.col("id").alias("b"),
                                 F.col("color").alias("nc"))
            if bcast:
                pick_a, pick_b = F.broadcast(pick_a), F.broadcast(pick_b)
            nstate = (
                state.join(pick_a, "a", "left_anti")
                .join(pick_b, "b", "left")
                .select("a", "b",
                        F.when(F.col("nc").isNotNull(),
                               F.lit(None).cast("string"))
                        .otherwise(F.col("prio_b")).alias("prio_b"),
                        F.coalesce("nc", "color").alias("color")))
            if t % 8 == 0:
                nstate = nstate.repartition("a").localCheckpoint(eager=True)
            elif bcast:
                nstate = nstate.persist()
            else:
                # shuffle fallback: the b-join dropped `a`-partitioning;
                # re-establish it NOW so only this round pays the exchange
                nstate = nstate.repartition("a").persist()
            n_rows = nstate.count()
            prev.unpersist(True)
            prev = state = nstate
        if n_rows != 0:
            raise RuntimeError(
                f"greedy_coloring: uncolored vertices after "
                f"{max_rounds} rounds")
    finally:
        prev.unpersist(True)
    out = spark.createDataFrame([], "id long, color int")
    for leg in colored_legs:
        out = out.unionByName(leg)
    return out


def node2vec_walks(edges: DataFrame, start_ids: list[int], length: int,
                   p: float = 1.0, q: float = 2.0,
                   walks_per_node: int = 1, salt: str = "") -> DataFrame:
    """Second-order biased walks (Grover & Leskovec 2016, node2vec) — the
    return/in-out-tunable generalization of `random_walks`: the step from
    cur (having arrived from prev) weighs candidate nbr by α = 1/p if
    nbr == prev (return), 1 if nbr is adjacent to prev (BFS-ish), 1/q
    otherwise (DFS-ish).

    Deterministic weighted choice, engine-exact: candidate priority =
    md5_48(wid:step:nbr:salt) DIV round(10⁶·α) — a larger α divides the
    hash rank harder and wins more often, and both engines compute the
    same integer quotient (never a float division: a double quotient of
    two big ints can round across the truncation boundary).  Ties break
    on the neighbor id inside the padded priority string.  Step 1 has no
    prev and falls back to the uniform md5 choice — exactly
    `random_walks`' first step.

    Plan per step: the O(#walks) frontier broadcasts against the
    adjacency (edge side never shuffles); the distance-1 bias test joins
    the candidates against the O(edges) undirected pair set keyed
    (prev, nbr) — that flag table is NEVER broadcast (it is edge-sized);
    it is repartition-persisted on the join key once, so each step's
    flag join shuffles only the tiny candidate side and reuses the
    cached partitioning.  Broadcast is used only for the frontier side.
    The steps run on `_fixpoint` as in `random_walks`.

    Returns (wid, step, vertex), step 0 = seed."""
    if p <= 0 or q <= 0:
        raise ValueError(f"p and q must be positive, got p={p} q={q}")
    ret_w = round(1_000_000 / p)
    far_w = round(1_000_000 / q)
    if ret_w < 1 or far_w < 1:
        # round(1e6/x) == 0 would make the DIV divisor NULL-producing /
        # zero; the quantized-alpha contract only holds for p, q <= 2e6.
        raise ValueError(
            f"p and q must be <= 2e6 so round(1e6/p|q) >= 1, got p={p} q={q}")
    spark = edges.sparkSession
    adj = edges.select(F.col("src").alias("cur"), F.col("dst").alias("nbr")).persist()
    # the distance-1 flag table is O(edges) — NEVER broadcast it; cache it
    # pre-partitioned on the join key so each step's flag join shuffles
    # only the tiny candidate side (the cached partitioning is reused)
    undp = (
        edges.select(F.col("src").alias("pa"), F.col("dst").alias("pb"))
        .unionByName(edges.select(F.col("dst").alias("pa"), F.col("src").alias("pb")))
        .distinct().withColumn("is_near", F.lit(1))
        .repartition("pa", "pb").persist()
    )
    try:
        seeds = [(i * walks_per_node + j, int(v), 0)
                 for i, v in enumerate(start_ids) for j in range(walks_per_node)]
        legs: list[DataFrame] = []

        def walk(frontier: DataFrame, i: int) -> DataFrame:
            legs.append(frontier.select("wid", "step", "vertex"))
            t = i + 1
            h = F.conv(F.substring(F.md5(F.concat_ws(
                ":", F.col("wid").cast("string"), F.lit(str(t)),
                F.col("nbr").cast("string"), F.lit(salt))), 1, 12), 16, 10) \
                .cast("long")
            alpha = (
                F.when(F.col("nbr") == F.col("prev"), F.lit(ret_w))
                .when(F.col("is_near") == 1, F.lit(1_000_000))
                .otherwise(F.lit(far_w)))
            # step 1 (prev NULL): uniform — divisor 1e6 for every candidate
            alpha = F.when(F.col("prev").isNull(), F.lit(1_000_000)) \
                .otherwise(alpha)
            prio = F.concat_ws(
                ":",
                F.lpad(F.expr("_h DIV _a").cast("string"), 15, "0"),
                F.lpad(F.col("nbr").cast("string"), 12, "0"))
            cand = (
                F.broadcast(frontier.select(
                    "wid", F.col("vertex").alias("cur"), "prev"))
                .join(adj, "cur")
                .join(undp,
                      (F.col("prev") == F.col("pa"))
                      & (F.col("nbr") == F.col("pb")), "left")
                .withColumn("_h", h)
                .withColumn("_a", alpha)
            )
            cand = cand.withColumn("_prio", prio)
            return (
                cand.groupBy("wid")
                .agg(F.min_by(F.col("nbr"), F.col("_prio")).alias("vertex"),
                     F.min("cur").alias("prev"))
                .select("wid", "vertex", F.lit(t).alias("step"), "prev")
            )

        last, _, _ = _fixpoint(
            walk, spark.createDataFrame(seeds, "wid int, vertex long, step int")
            .withColumn("prev", F.lit(None).cast("long")), length, every=4)
        return (_union(legs + [last.select("wid", "step", "vertex")])
                .localCheckpoint(eager=True))
    finally:
        adj.unpersist()
        undp.unpersist()
