"""Physical-plan regression guards: the scale properties SCALE.md claims
must stay visible in the actual plans — pushdown, single-exchange
aggregation, partition pruning, and bucketed exchange-free joins.  A
refactor that silently breaks one of these passes every value-equality
test and then falls over at 1000x the data; these tests are the tripwire.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from hugegraph_on_tikv_spark.sources.catalog import load_table
from tests.conftest import SF_DIR


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(True)
    return buf.getvalue()


def physical(df) -> str:
    # the physical-plan section only (after "== Physical Plan ==")
    return plan_of(df).split("== Physical Plan ==", 1)[-1]


def test_q1_aggregation_is_single_exchange(spark):
    import __spark_entry__ as m

    df = m.raw_queries()["q1_pricing_summary"](spark, SF_DIR)
    phys = physical(df)
    # exactly ONE hash exchange (partial -> final agg); the only other
    # exchange is the range partitioning serving q1's ORDER BY contract
    assert phys.count("Exchange hashpartitioning") == 1, phys
    assert phys.count("Exchange") <= 2, phys
    assert "partial_sum" in phys  # map-side combine in place
    assert "PushedFilters" in phys


def test_point_get_pushes_key_filter(spark):
    li = load_table(spark, SF_DIR, "orders").filter(F.col("o_orderkey") == 42)
    phys = physical(li)
    assert "EqualTo(o_orderkey,42)" in phys.replace(" ", ""), phys


def test_q9_pushes_name_prefix_to_part_scan(spark):
    import __spark_entry__ as m

    phys = physical(m.raw_queries()["q9_product_profit"](spark, SF_DIR))
    assert "StringStartsWith(p_name,red)" in phys.replace(" ", ""), phys
    # dimension joins broadcast at this SF; no sort-merge join should appear
    assert "SortMergeJoin" not in phys


def test_projection_prunes_columns(spark):
    df = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    phys = physical(df)
    rs = phys.split("ReadSchema", 1)[1][:200]
    assert "l_orderkey" in rs and "l_quantity" in rs
    assert "l_extendedprice" not in rs  # unreferenced columns never read


def test_bucketed_join_eliminates_exchange(spark, tmp_path):
    """orders ⋈ lineitem both bucketed on the order key: the sort-merge join
    runs with ZERO exchanges (and no per-side sort); the identical
    unbucketed join needs two."""
    from hugegraph_on_tikv_spark.sources import bucketing

    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, SF_DIR, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity")
    bucketing.write_bucketed(o, "b_orders", str(tmp_path / "bo"), 8, "o_orderkey")
    bucketing.write_bucketed(li, "b_lineitem", str(tmp_path / "bl"), 8, "o_orderkey")
    try:
        bo = bucketing.read_table(spark, "b_orders")
        bl = bucketing.read_table(spark, "b_lineitem")
        bucketed = bo.hint("merge").join(bl, "o_orderkey")
        plain = o.hint("merge").join(li, "o_orderkey")
        phys_b, phys_p = physical(bucketed), physical(plain)
        assert "SortMergeJoin" in phys_b
        assert "Exchange" not in phys_b, phys_b
        # one file per bucket (write_bucketed pre-repartitions) + the
        # bucketed-scan ordering conf ⇒ the sortBy order is trusted and the
        # SMJ sorts are elided too ("Sort " = a Sort node; "SortMergeJoin"
        # doesn't match the trailing space)
        assert "Sort " not in phys_b, phys_b
        assert phys_p.count("Exchange") == 2, phys_p
        # same answer either way
        assert bucketed.count() == plain.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_dual_edge_layout_two_hop_exchange_free(spark, tmp_path):
    """The dual bucketed edge layout (by-src + by-dst copies, the reference's
    out/in twin tables as physical layout): two-hop expansion joins the
    end-bucketed copy against the start-bucketed copy, so the middle sort-
    merge join runs with ZERO exchanges — in BOTH hop directions."""
    from pyspark.sql import functions as FF

    from hugegraph_on_tikv_spark.sources.graph import GraphStore

    store = GraphStore(spark, SF_DIR)
    layout = store.materialize_dual_layout(
        str(tmp_path / "dual"), buckets=8, name="t_dual_edges")
    try:
        for first, second in (("out", "out"), ("in", "in")):
            phys = physical(layout.two_hop(first, second))
            assert "SortMergeJoin" in phys, (first, second, phys)
            assert "Exchange" not in phys, (first, second, phys)
            assert "Sort " not in phys, (first, second, phys)  # sort-free too
        # the layout is a LAYOUT, not different data: same answer as the
        # plain self-join over the raw edge view
        e = store._build_edges()
        plain = (e.select(FF.col("src").alias("a"), FF.col("dst").alias("mid"))
                 .join(e.select(FF.col("src").alias("mid"), FF.col("dst").alias("c")),
                       "mid"))
        assert layout.two_hop("out", "out").count() == plain.count()
    finally:
        layout.drop()


def test_dual_edge_layout_hop_join_moves_only_frontier(spark, tmp_path):
    """A frontier hop against the direction-matching copy shuffles ONLY the
    frontier: one exchange total (vs two for the unbucketed twin), and the
    edge-scan branch carries none — the in-direction proves the by-dst copy
    is doing the work (the by-src copy can't serve dst-keyed adjacency)."""
    from pyspark.sql import functions as FF

    from hugegraph_on_tikv_spark.operators.traversal import IN, adjacent
    from hugegraph_on_tikv_spark.sources.graph import GraphStore

    store = GraphStore(spark, SF_DIR)
    layout = store.materialize_dual_layout(
        str(tmp_path / "dual"), buckets=8, name="t_dual_edges_f")
    try:
        frontier = spark.range(100).select((FF.col("id") + (1 << 56)).alias("vertex"))
        bucketed = layout.adjacency("in").hint("merge").join(frontier, "vertex")
        plain = (adjacent(store._build_edges(), IN).hint("merge")
                 .join(frontier, "vertex"))
        phys_b, phys_p = physical(bucketed), physical(plain)
        assert phys_b.count("Exchange") == 1, phys_b
        # the single exchange feeds from the frontier's Range source, not
        # from the parquet edge scan
        after_exchange = phys_b.split("Exchange", 1)[1][:300]
        assert "Range" in after_exchange, phys_b
        assert "Scan parquet" not in after_exchange.split("Range")[0], phys_b
        assert phys_p.count("Exchange") >= 2, phys_p
    finally:
        layout.drop()


def test_pagerank_static_side_exchange_free_on_bucketed_edges(spark, tmp_path):
    """pagerank's iteration-invariant state (out-degree aggregate + degree-
    normalized edge join, both keyed on src) runs exchange-free on the
    by-src copy — the shape every iteration's contribution join reuses when
    broadcast_ranks=False."""
    from pyspark.sql import functions as FF

    from hugegraph_on_tikv_spark.sources.graph import GraphStore

    store = GraphStore(spark, SF_DIR)
    layout = store.materialize_dual_layout(
        str(tmp_path / "dual"), buckets=8, name="t_dual_edges_pr")
    try:
        e = layout.edges("src")
        out_deg = e.groupBy(FF.col("src").alias("id")).agg(
            FF.count(FF.lit(1)).alias("out_degree"))
        norm = (e.select("src", "dst").hint("merge")
                .join(out_deg.withColumnRenamed("id", "src"), "src"))
        phys = physical(norm)
        assert "Exchange" not in phys, phys
        # and the routed pagerank returns the same ranks as the raw view
        from hugegraph_on_tikv_spark.operators.analytics import pagerank

        routed = pagerank(e, iterations=2, broadcast_ranks=False)
        plain = pagerank(store._build_edges(), iterations=2)
        diff = (routed.withColumnRenamed("rank", "r1")
                .join(plain.withColumnRenamed("rank", "r2"), "id")
                .filter(FF.abs(FF.col("r1") - FF.col("r2")) > 1e-9))
        assert diff.count() == 0
        assert routed.count() == plain.count()
    finally:
        layout.drop()


def _above_cached_scans(tree: str) -> str:
    """A physical-plan tree string without the subtrees under its
    InMemoryTableScan nodes: the cached plan's own exchanges ran once,
    when the cache was filled, not in the frame being planned."""
    kept, skip_below = [], None
    for line in tree.splitlines():
        node = line.lstrip(" :+-")
        depth = len(line) - len(node)
        if skip_below is not None and depth > skip_below:
            continue
        skip_below = depth if node.startswith("InMemoryTableScan") else None
        kept.append(line)
    return "\n".join(kept)


@pytest.mark.parametrize("op", ["pagerank_p8", "pagerank", "katz", "lpa"])
def test_broadcast_rounds_are_exchange_free(spark, monkeypatch, op):
    """pagerank's partition rule: under the default broadcast budget the
    loop-invariant edge side is partitioned on the key the round
    aggregates, so every round after the first (whose plan is made before
    the edge side's cache is filled) broadcasts the state and shuffles
    nothing."""
    from hugegraph_on_tikv_spark.operators import analytics

    edges = spark.createDataFrame(
        [(i, (i * j + 1) % 61) for i in range(61) for j in (2, 5, 7)],
        "src long, dst long")
    run = {
        "pagerank_p8": lambda: analytics.pagerank(
            edges, iterations=3, checkpoint_every=1, state_partitions=8),
        "pagerank": lambda: analytics.pagerank(
            edges, iterations=3, checkpoint_every=1),
        "katz": lambda: analytics.katz_centrality(
            edges, iterations=3, checkpoint_every=1),
        "lpa": lambda: analytics.label_propagation(edges, iterations=3),
    }[op]
    rounds: list[str] = []
    fixpoint = analytics._fixpoint

    def spy(step, state, n, **kw):
        def planned_step(df, i):
            out = step(df, i)
            rounds.append(out._jdf.queryExecution().executedPlan().toString())
            return out
        return fixpoint(planned_step, state, n, **kw)

    monkeypatch.setattr(analytics, "_fixpoint", spy)
    run().collect()
    assert len(rounds) == 3
    for plan in rounds[1:]:
        top = _above_cached_scans(plan)
        assert "BroadcastExchange" in top, plan
        assert not [line for line in top.splitlines()
                    if "Exchange" in line and "BroadcastExchange" not in line], plan


def test_agg_view_bucketed_merge_shuffles_only_delta(spark, tmp_path):
    """Incremental aggregate-view refresh at scale: with the view persisted
    BUCKETED on its group keys, the full-outer merge join leaves the view
    side in place — the plan's single exchange feeds from the micro-batch
    delta, so refresh cost is O(|batch| + |view scan|), not a view
    re-shuffle."""
    from hugegraph_on_tikv_spark.sources import bucketing
    from hugegraph_on_tikv_spark.sources.catalog import load_events
    from hugegraph_on_tikv_spark.streaming import view_maintenance as vm

    events = load_events(spark, SF_DIR).select("event_id", "event_type", "value")
    state = vm.agg_partial(events, ["event_type"], ["value"])
    bucketing.write_bucketed(state, "b_view", str(tmp_path / "bv"), 8,
                             "event_type")
    try:
        view = bucketing.read_table(spark, "b_view")
        delta = vm.agg_partial(
            spark.createDataFrame([(1, "click", 2.5)],
                                  "event_id long, event_type string, value double"),
            ["event_type"], ["value"])
        phys = physical(view.hint("merge").join(
            delta.withColumnRenamed("_n", "_dn"), "event_type", "full_outer"))
        assert phys.count("Exchange") == 1, phys
        # the exchange is on the delta branch (LocalTableScan), never the
        # bucketed view scan
        assert "Scan parquet" not in phys.split("Exchange", 1)[1].split(
            "LocalTableScan")[0], phys
    finally:
        spark.sql("DROP TABLE IF EXISTS b_view")


def test_ivf_assignment_is_aggregate_not_window(spark):
    """The nearest-centroid argmax must stay a max_by AGGREGATE (map-side
    partial agg), never a row_number window — a window sorts a shuffle of
    corpus×n_cells rows, which dominates index-build cost at scale
    (VERDICT r3 finding #1)."""
    from hugegraph_on_tikv_spark.functions import similarity

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = similarity.ivf_centroids(emb, n_cells=8, refine_iters=0)
    assigned = similarity.assign_best_cell(
        emb.select("vec_id", "embedding"), cents, "vec_id", "embedding")
    phys = physical(assigned)
    assert "Window" not in phys, phys
    assert "max_by" in phys, phys
    assert "partial_max_by" in phys, phys  # map-side combine in place


def test_ivf_search_prunes_cell_partitions(spark, tmp_path):
    from hugegraph_on_tikv_spark.functions import similarity

    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "ivf")
    similarity.ivf_write_index(emb, path, n_cells=8)
    got = similarity.ivf_search_index(
        spark, path, emb.filter(F.col("vec_id") % 100 == 0), k=3, n_probe=2)
    phys = physical(got)
    assert "PartitionFilters" in phys
    assert "cell" in phys.split("PartitionFilters", 1)[1][:300]


def test_zorder_tightens_rowgroup_stats_on_both_columns(spark, tmp_path):
    """Z-order vs single-column sort, measured on the actual parquet
    footers: per-row-group min/max spans (the thing row-group pruning
    consumes), as fractions of each column's full range.  A 1-D sort
    leaves the second column near its full range per row group; z-order
    keeps BOTH columns' spans to a fraction."""
    import glob

    import pyarrow.parquet as pq

    from hugegraph_on_tikv_spark.sources.catalog import load_table
    from hugegraph_on_tikv_spark.sources.zorder import zorder_write

    cols = ["l_orderkey", "l_partkey"]
    li = load_table(spark, SF_DIR, "lineitem").select(*cols)
    ranges = {c: (li.agg(F.max(c) - F.min(c))).collect()[0][0] for c in cols}
    z_dir, s_dir = str(tmp_path / "z"), str(tmp_path / "s")
    zorder_write(li, z_dir, cols, bits=10, num_files=16)
    (li.repartitionByRange(16, "l_orderkey").sortWithinPartitions("l_orderkey")
       .write.mode("overwrite").parquet(s_dir))

    def frac_span(path, col):
        total, n = 0, 0
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index(col)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                total += st.max - st.min
                n += 1
        return total / n / ranges[col]

    assert frac_span(s_dir, "l_partkey") > 0.8     # 1-D sort: no help on col 2
    assert frac_span(z_dir, "l_orderkey") < 0.5    # z: both columns prunable
    assert frac_span(z_dir, "l_partkey") < 0.5
    # and the z layout still beats "no sort at all" on its first column
    assert frac_span(z_dir, "l_orderkey") < frac_span(s_dir, "l_partkey")


def test_dsir_plan_broadcast_scoring_and_takeordered(spark):
    """sampling.dsir_select's promised shape: the <=B-row score table
    reaches the doc-side scoring join as a broadcast HASH join (on the
    bucket key — not a nested-loop), and the top-n cut is a TakeOrdered,
    never a global sort."""
    from hugegraph_on_tikv_spark.functions import sampling

    docs = load_table(spark, SF_DIR, "documents")
    out = sampling.dsir_select(docs, docs.filter(F.col("lang") == "en"),
                               n=50)
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in phys
    assert "BroadcastHashJoin" in phys
    assert "CartesianProduct" not in phys  # scalars broadcast, never CP


def test_plan_linter_flags_and_clears(spark):
    """The SCALE.md rules as an executable audit: the linter flags a
    cartesian and a row-at-a-time Python UDF, allowlists documented
    contracts, and passes the engine's clean headline plans."""
    from pyspark.sql.functions import udf
    from pyspark.sql.types import LongType

    import __spark_entry__ as m
    from hugegraph_on_tikv_spark.plans.lint import lint_plan

    a = spark.range(100)
    b = spark.range(100).withColumnRenamed("id", "id2")
    codes = {f.code for f in lint_plan(a.crossJoin(b))}
    assert "cartesian" in codes
    assert lint_plan(a.crossJoin(b), allow={"cartesian"}) == [] or \
        "cartesian" not in {f.code for f in lint_plan(a.crossJoin(b), allow={"cartesian"})}

    slow = udf(lambda x: x + 1, LongType())
    codes = {f.code for f in lint_plan(a.select(slow("id").alias("y")))}
    assert "python-row-udf" in codes

    # clean plans stay clean: q1 (scan+agg) and q3 (joins) lint empty
    for name in ("q1_pricing_summary", "q3_shipping_priority"):
        assert lint_plan(m.raw_queries()[name](spark, SF_DIR)) == [], name
    # the exact cosine baseline is a DOCUMENTED all-pairs contract: flagged
    # without an allowlist, silent with one
    topk = m.raw_queries()["sim_cosine_topk"](spark, SF_DIR)
    assert "cartesian" in {f.code for f in lint_plan(topk)}
    assert "cartesian" not in {f.code for f in lint_plan(topk, allow={"cartesian"})}


def test_plan_linter_scan_checks(spark, tmp_path):
    """The two scan smells run on the FORMATTED plan, so they actually
    fire: (a) unfiltered-scan on a non-pushable predicate (coalesce infers
    no IsNotNull, so nothing reaches the scan); (b) wide-scan on a
    30-column scan feeding a 2-column result — wider than the simple plan
    string's 25-field truncation, which the old substring count undercounted."""
    from pyspark.sql import functions as F

    from hugegraph_on_tikv_spark.plans.lint import lint_plan

    wide = spark.range(50).select(
        "id", *[F.lit(i).alias(f"c{i}") for i in range(30)])
    p = str(tmp_path / "wide")
    wide.write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)

    unpushable = df.filter(F.coalesce(F.col("c1"), F.col("c2")) > 5).select("id")
    assert "unfiltered-scan" in {f.code for f in lint_plan(unpushable)}
    # pushed predicate on the same table: the smell clears
    pushed = df.filter(F.col("c1") > 5).select("id")
    assert "unfiltered-scan" not in {f.code for f in lint_plan(pushed)}

    # mapInPandas blocks column pruning: the scan must read all 31 columns
    # even though the final projection keeps 2
    blocked = df.mapInPandas(lambda it: it, df.schema).select("id", "c1")
    findings = lint_plan(blocked)
    wide_f = [f for f in findings if f.code == "wide-scan"]
    assert wide_f and "31 columns" in wide_f[0].detail
    # and the simple plan string really is truncated here (the old check's
    # failure mode): fewer ':' than real columns in the scan line
    simple = blocked._jdf.queryExecution().executedPlan().toString()
    scan_ln = next(ln for ln in simple.splitlines() if "Scan parquet" in ln)
    if "ReadSchema" in scan_ln:
        assert scan_ln.split("ReadSchema:", 1)[1].count(":") < 31


def test_ttl_stored_column_read_pushes_down(spark, tmp_path):
    """When expire_at is a STORED column (the real 100 TB TTL layout, as
    written by the mutation commit path), TableState.read's liveness filter
    reaches the parquet scan as Or(IsNull, GreaterThan) — the linter's
    unfiltered-scan smell stays silent and PushedFilters is non-empty."""
    import datetime as dt

    from pyspark.sql import functions as F

    from hugegraph_on_tikv_spark.operators.mutations import TableState
    from hugegraph_on_tikv_spark.plans.lint import (_formatted_str,
                                                    _scan_details, lint_plan)

    p = str(tmp_path / "ttl_tbl")
    spark.range(100).select(
        F.col("id").alias("k"),
        (F.lit("2024-01-15 11:00:00").cast("timestamp")
         + F.make_interval(mins=F.col("id").cast("int"))).alias("expire_at"),
    ).write.mode("overwrite").parquet(p)
    live = TableState(spark.read.parquet(p), key="k").read(
        now=dt.datetime(2024, 1, 15, 12, 0, 0))
    assert "unfiltered-scan" not in {f.code for f in lint_plan(live)}
    scans = _scan_details(_formatted_str(live))
    assert scans and any(s["pushed"] for s in scans)


def test_whole_roster_lints_clean(spark):
    """Every raw roster query must lint clean or sit in the explicit
    allowlist below — a new operator that introduces an all-pairs join or
    a row-at-a-time Python UDF fails here before any driver run sees it."""
    import __spark_entry__ as m
    from hugegraph_on_tikv_spark.plans.lint import lint_plan

    # documented bounded all-pairs shapes (1-row scalar broadcasts, the
    # salt-range replication, and the exact-baseline contract):
    ALLOW = {
        "sim_cosine_topk": {"cartesian"},       # exact baseline BY CONTRACT
        # same query-broadcast scan contract as the exact baseline: the
        # quantized path changes WHAT is scanned (int8 codes, 4x fewer
        # bytes), not the pairing; bucketed variants (LSH/IVF) remain the
        # candidate-pruning path at scale
        "sim_quantized_topk": {"cartesian"},
        "j_salted_hub_revenue": {"cartesian"},  # salt-range × small side
        "q11_important_stock": {"cartesian"},   # 1-row scalar subquery
        "q22_global_sales_opportunity": {"cartesian"},  # 1-row avg
        "pipe_curate_corpus": {"cartesian"},    # 1-row stat totals
        "pipe_curate_v2": {"cartesian"},        # 1-row stat totals
        "pipe_curate_v3": {"cartesian"},        # 1-row stat totals
        "pipe_curate_v4": {"cartesian"},        # 1-row stat totals
        "pipe_curate_v5": {"cartesian"},        # 1-row stat totals
        # BM25's corpus stats (N, Σdl, per-term df) come back as a 1-row
        # broadcast join — the same scalar pattern as q11/q22
        "bm25_ranked": {"cartesian"},
        "sim_hybrid_rrf": {"cartesian"},
        # the resample spine: a 1-row min/max aggregate exploded into the
        # bucket sequence, crossed with the distinct group set — both
        # sides bounded by the dense OUTPUT's own dimensions by contract
        "win_gapfill": {"cartesian"},
        # three 1-row aggregates (triangles / wedges / degree-moments)
        # meeting in broadcast cross joins — the scalar pattern
        "g_structure": {"cartesian"},
        "win_interpolate": {"cartesian"},   # same spine as win_gapfill
        # histograms' min/max / percentile-edge scalar rows broadcast back
        # the same way
        "profile_histogram": {"cartesian"},
        "profile_equidepth": {"cartesian"},
        # non-pushable BY DESIGN: a deterministic hash split (md5 % N) can
        # never reach a parquet scan — it must read every row to decide
        "contamination": {"unfiltered-scan"},
        # substring predicate over the case-normalized DERIVED text can
        # never reach a parquet scan (and min/max row-group stats are
        # useless for substring containment anyway); at scale the token
        # index (idx_search) is the candidate pruner, this is the verify
        "text_phrase": {"unfiltered-scan"},
        # the demo derives expire_at inline (ts + interval) so the oracle
        # can see it; the STORED-column TTL read path pushes — proven by
        # test_ttl_stored_column_read_pushes_down
        "m4_ttl_expiry": {"unfiltered-scan"},
        # synthetic upsert-batch generator selects rows by `custkey % 10`,
        # a modulo the scan can't evaluate; harness row selection, not a
        # product read path
        "m_bulk_upsert": {"unfiltered-scan"},
        # the certificate slice (doc_id % 20 == 7) selects rows from the
        # PERSISTED encode output by a modulo — cache scans take no pushed
        # filters and the modulo couldn't push anyway; harness row
        # selection, not a product read path (same as m_bulk_upsert)
        "text_unigram": {"unfiltered-scan"},
        # same certificate-slice modulo over the persisted permutation /
        # the band-cutoff filter over the persisted keep set
        "text_train_order": {"unfiltered-scan"},
        "text_budget_select": {"unfiltered-scan"},
        # shard-0 certificate slice over the persisted packed stream
        "pipe_assemble": {"unfiltered-scan"},
        # SemDeDup's nearest-centroid assignment is the SAME bounded
        # corpus × broadcast(n_cells centroids) cross as assign_best_cell
        # everywhere else — n_cells-bounded fan-out, never corpus²; the
        # pair join itself is an equi-join on the cell key
        "sim_semdedup_pairs": {"cartesian"},
        "sim_semdedup_kept": {"cartesian"},
        "sim_contrastive_pairs": {"cartesian"},   # same assign_best_cell cross
        "sim_ann_recall": {"cartesian"},          # exact side + cell assign
        # the LM smoothing denominator needs V (one count-distinct row)
        # crossed back into the token stream — the 1-row scalar pattern
        "text_lm_score": {"cartesian"},
        # NB scoring crosses the 1-row class-totals aggregate back over
        # the scored docs (nbayes.py nb_score) — same 1-row scalar
        # broadcast pattern as text_lm_score above
        "text_nb_quality": {"cartesian"},
        # collocation lift needs N (one total-count row) against the
        # bigram table; anonymity_level crosses the 1-row min back over
        # the group sizes — both the same scalar pattern
        "text_collocations": {"cartesian"},
        "privacy_level": {"cartesian"},
        # optimizer statistics: 1-row scalar aggregates (key counts,
        # KMV threshold, domain size) recombined via broadcast crosses
        "stats_join_exact": {"cartesian"},
        "stats_join_kmv": {"cartesian"},
        "stats_containment": {"cartesian"},
        "stats_skew_report": {"cartesian"},   # 1-row totals × top-k keys
        # temperature mixing must observe every domain's full count to set
        # the caps — a whole-table aggregate by definition (and the cut
        # itself is a WindowGroupLimit, not a scan predicate)
        "sample_temp_mix": {"unfiltered-scan"},
        # DSIR's two model totals (Tt / Ts) come back as 1-row aggregates
        # crossed into the <=n_buckets-row score table — the same scalar
        # pattern as text_lm_score; the doc-side scoring join itself is a
        # broadcast HASH join on the bucket key (plan-checked above)
        "sample_dsir": {"cartesian"},
        # t-closeness grid: quasi-groups × broadcast(sensitive domain) ×
        # 1-row total — bounded by the sensitive domain's cardinality by
        # the problem's construction (documented in the docstring)
        "privacy_tclose": {"cartesian"},
    }
    unexpected = {}
    for name, fn in sorted(m.raw_queries().items()):
        findings = lint_plan(fn(spark, SF_DIR), allow=ALLOW.get(name, set()))
        if findings:
            unexpected[name] = [f.code for f in findings]
    assert unexpected == {}, unexpected


def test_greedy_coloring_round_agg_exchange_free(spark):
    """VERDICT r9 #2 pin: the per-round Jones-Plassmann aggregation stays
    Exchange-free under the EXPLICIT broadcast-pick guard.  With the pick
    frontier broadcast, both pick joins preserve the state's hash-
    partitioning on `a`, so the round-2 groupBy runs with no Exchange
    above the cached state (the only Exchange in the lineage is the
    round-0 repartition INSIDE the InMemoryRelation)."""
    from hugegraph_on_tikv_spark.operators import analytics

    e = spark.createDataFrame(
        [(i, (i + j) % 97) for i in range(97) for j in (1, 13)],
        "src long, dst long")
    probe: list = []
    res = analytics.greedy_coloring(e, _plan_out=probe)
    assert res.count() == 97
    assert probe, "graph colored in one round; probe needs >=2 rounds"
    above_cache = probe[0].split("InMemoryTableScan", 1)[0]
    assert "HashAggregate" in above_cache, probe[0]
    assert "Exchange" not in above_cache, probe[0]
