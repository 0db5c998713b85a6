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
  left the band stated at `DRIFT_TOLERANCE` — a flagged round's query
  deltas are machine state until proven otherwise.  The same twin
  certificate (warm-up, isolated timer, twin sampler, drift rule, artifact
  writer with its `box` block) is defined once below the frozen probes and
  used by tools/recalibrate_twins.py and the tools/*_sf1.py sidecars.
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
left the `DRIFT_TOLERANCE` band around its BENCH_TWIN.json calibration and
cross-round query deltas are suspect; box names the machine (resolved
master, defaultParallelism, $SPARK_GRAFT_CPUS, SF dir); queries_layout /
queries_layout_plain run the same graph shapes on the dual bucketed layout
vs a pre-materialized plain copy (both pay read+join only); steady_state
is min-of-2 warm repeats of the iterative flagship.
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
REPO = os.path.dirname(os.path.abspath(__file__))
TWIN_FILE = os.path.join(REPO, "BENCH_TWIN.json")

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

# sf1-scale sidecar artifacts embedded into BENCH_FULL.json when present
# (each written by the tools/ script of the same name, lower-cased)
SIDECARS = {
    "layout_sf1": "LAYOUT_SF1.json",
    "ann_sf1": "ANN_SF1.json",
    "dedup_sf1": "DEDUP_SF1.json",
    "graph_sf1": "GRAPH_SF1.json",
    "graph_sf1_skew": "GRAPH_SF1_SKEW.json",
}


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


# ---------------------------------------------------------------------------
# The twin certificate, shared by main() below, tools/recalibrate_twins.py
# and the tools/*_sf1.py sidecars: one warm-up, one isolated timer, one twin
# sampler, one drift rule and one artifact writer.
# ---------------------------------------------------------------------------

# reference_drift: some probe's median divided by its BENCH_TWIN.json
# calibration lies outside [1 - t, 1 / (1 - t)] = [0.70, 1.43].  Only a
# calibration recorded at this SF_DIR is compared against.
DRIFT_TOLERANCE = 0.30


def _med(xs: list[float]) -> float:
    return round(statistics.median(xs), 3)


def run_timed(thunk) -> float:
    """Seconds to build thunk()'s DataFrame and write it to the noop sink:
    full materialization of every column (a bare count() would let
    Catalyst prune the scan down to row counting)."""
    t0 = time.perf_counter()
    thunk().write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 3)


def run_isolated(spark, thunk) -> float:
    """`run_timed` after dropping persisted intermediates and nudging a
    full GC, so the measurement neither pays for nor profits from earlier
    work's cache/heap state (stale localCheckpoint blocks are only freed
    by the ContextCleaner after GC notices they're unreferenced)."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    return run_timed(thunk)


def twin_pass(spark, tag: str) -> dict[str, float]:
    """One isolated sample of every pinned twin probe."""
    out = {}
    for pname, pfn in _TWIN_PROBES.items():
        out[pname] = run_isolated(spark, lambda: pfn(spark, SF_DIR))
        print(f"# twin[{tag}] {pname}: {out[pname]}s", file=sys.stderr)
    return out


def twin_median(spark, tag: str) -> dict[str, float]:
    """Per-probe median of three twin passes."""
    passes = [twin_pass(spark, tag) for _ in range(3)]
    return {p: _med([ps[p] for ps in passes]) for p in passes[0]}


def warm_up(spark) -> None:
    """Session + JIT warm-up before anything is timed: the iterative
    join/agg shape once on a toy graph (first compilation of the codegen
    paths measured ~2x on the iterative queries; a long-lived cluster is
    always past it), then two untimed twin passes (a cold probe measures
    compiler and footer-cache state: pass 0 ran ~5x, pass 1 still ~1.5x
    its steady time)."""
    from pyspark.sql import functions as F

    from hugegraph_on_tikv_spark.operators.analytics import pagerank

    spark.range(1).count()
    toy = spark.range(200).select(
        F.col("id").alias("src"), ((F.col("id") * 7 + 1) % 200).alias("dst"))
    run_timed(lambda: pagerank(toy, iterations=4, checkpoint_every=2))
    for _ in range(2):
        twin_pass(spark, "warm-up")
    spark.catalog.clearCache()


def settle(spark) -> None:
    """Before re-sampling the twins after a heavy workload: let the
    ContextCleaner drain its checkpoint/broadcast garbage, then run one
    throwaway catch-up pass."""
    for _ in range(3):
        spark.sparkContext._jvm.System.gc()
        time.sleep(15)
    twin_pass(spark, "settle")


def load_calibration() -> dict:
    """The BENCH_TWIN.json document, or {} when there is none."""
    if not os.path.exists(TWIN_FILE):
        return {}
    with open(TWIN_FILE) as f:
        return json.load(f)


def twin_drift(medians: dict[str, float],
               calibration: dict) -> tuple[dict[str, float], bool]:
    """(ratio of each twin median to its calibration, reference_drift).
    Keys of `medians` are probe names, optionally prefixed "<tag>."; the
    ratios keep those keys.  The flag is the `DRIFT_TOLERANCE` band; a
    calibration from another SF_DIR yields no ratios and no flag."""
    cal = (calibration.get("medians", {})
           if calibration.get("sf_dir") == SF_DIR else {})
    ratios: dict[str, float] = {}
    drift = False
    for key, m in medians.items():
        c = cal.get(key.rsplit(".", 1)[-1])
        if c:
            ratios[key] = round(m / c, 3)
            drift |= not (1 - DRIFT_TOLERANCE <= m / c
                          <= 1 / (1 - DRIFT_TOLERANCE))
    return ratios, drift


def box(spark) -> dict:
    """Which machine produced an artifact."""
    sc = spark.sparkContext
    return {"master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "sf_dir": SF_DIR}


def write_artifact(spark, name: str, doc: dict,
                   twins: dict[str, dict[str, float]] | None = None) -> None:
    """Write `doc` to <repo>/`name`, stamped with its `box`.  Sidecars pass
    `twins` ({"before": twin_median, "after": twin_median}) to add the twin
    certificate: twin_runs, twin_ratios_vs_calibration, reference_drift."""
    if twins is not None:
        ratios, drift = twin_drift(
            {f"{tag}.{p}": m for tag, tw in twins.items()
             for p, m in tw.items()}, load_calibration())
        doc.update(twin_runs=twins, twin_ratios_vs_calibration=ratios,
                   reference_drift=drift)
    doc["box"] = box(spark)
    with open(os.path.join(REPO, name), "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")


def main() -> None:
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    spark = get_spark("hugegraph-on-tikv-spark-bench")
    warm_up(spark)

    from hugegraph_on_tikv_spark.operators.analytics import pagerank

    # bench individual operators from the pre-fusion registry (queries()
    # exports tagged-union fusions sized for the driver's correctness cap;
    # timing those would double-count work)
    qs = entrymod.raw_queries() if hasattr(entrymod, "raw_queries") else entrymod.queries()
    names = [n for n in HEADLINERS if n in qs]
    for extra in EXTRAS:
        if extra in qs and extra not in names:
            names.append(extra)

    def query(fn):
        return lambda: fn(spark, SF_DIR)

    # ---- round-1-comparable shared-cache pass (FIRST, after warm-up) ------
    shared: dict[str, float] = {}
    for name in names:
        shared[name] = run_timed(query(qs[name]))
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

    def sample_twins(tag: str) -> None:
        for pname, t in twin_pass(spark, tag).items():
            twin_samples[pname].append(t)

    sample_twins("0")
    for series in range(3):
        for name in names:
            t = run_isolated(spark, query(qs[name]))
            samples[name].append(t)
            print(f"# isolated[{series}] {name}: {t}s", file=sys.stderr)
        for name, fn in plain_queries.items():
            t = run_isolated(spark, query(fn))
            plain_samples[name].append(t)
            print(f"# layout-plain[{series}] {name}: {t}s", file=sys.stderr)
        for name, fn in layout_queries.items():
            t = run_isolated(spark, query(fn))
            layout_samples[name].append(t)
            print(f"# layout-on[{series}] {name}: {t}s", file=sys.stderr)
        sample_twins(str(series + 1))

    isolated = {n: _med(v) for n, v in samples.items()}
    dispersion = {n: {"min": min(v), "max": max(v)} for n, v in samples.items()}

    # ---- pinned-twin drift vs calibration ---------------------------------
    cal_doc = load_calibration()
    ratios, drift_flag = twin_drift(
        {p: _med(r) for p, r in twin_samples.items()}, cal_doc)
    twin_out: dict[str, object] = {}
    for pname, runs in twin_samples.items():
        entry = {"runs": runs, "median": _med(runs)}
        if pname in ratios:
            entry["calibration"] = cal_doc["medians"][pname]
            entry["ratio_vs_calibration"] = ratios[pname]
        twin_out[pname] = entry
    if not ratios and SF_DIR.rstrip("/").endswith("sf0.1"):
        # first run at the canonical SF: self-calibrate so the NEXT run has
        # a reference (committed BENCH_TWIN.json pins it across rounds)
        write_artifact(spark, "BENCH_TWIN.json", {
            "medians": {p: _med(r) for p, r in twin_samples.items()},
            "sf_dir": SF_DIR,
            "note": "pinned-twin calibration; delete to recalibrate"})

    # ---- steady-state of the iterative flagship ---------------------------
    steady: dict[str, float] = {}
    if "g_pagerank" in isolated:
        steady["g_pagerank_warm"] = min(
            run_isolated(spark, query(qs["g_pagerank"])) for _ in range(2)
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
            layout_metrics["two_hop_plain_smj"] = run_isolated(
                spark, lambda: plain2h)
            layout_metrics["two_hop_bucketed"] = run_isolated(
                spark, lambda: layout.two_hop("out", "out"))
            for k in ("two_hop_plain_smj", "two_hop_bucketed"):
                print(f"# layout {k}: {layout_metrics[k]}s", file=sys.stderr)
        except Exception as ex:
            layout_metrics["probe_error"] = str(ex)[:200]


    # round-4+ operators, measured OUTSIDE the comparable series (new keys
    # never change "value"/"shared_cache_total" semantics): the Arrow-vs-JVM
    # simhash twins and the as-of join.
    extras: dict[str, float | str] = {}
    try:
        from hugegraph_on_tikv_spark.functions.dedup import (
            _simhash_signatures_jvm, simhash_signatures)
        from hugegraph_on_tikv_spark.sources.catalog import load_table

        docs = load_table(spark, SF_DIR, "documents")
        extras["simhash_arrow"] = run_isolated(
            spark, lambda: simhash_signatures(docs))
        extras["simhash_jvm"] = run_isolated(
            spark, lambda: _simhash_signatures_jvm(docs))
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
                extras[name] = run_isolated(spark, query(qs[name]))
        # the longest extra is also the noisiest across box windows
        # (r11: observed 28.7-38.9s for identical code): take min-of-2 so
        # the artifact reflects the operator, not one window's tenancy
        if "g_louvain" in extras and isinstance(extras["g_louvain"], float):
            extras["g_louvain"] = min(extras["g_louvain"],
                                      run_isolated(spark, query(qs["g_louvain"])))
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
                spark, lambda: _sim.mine_contrastive_pairs(
                    None, pos_threshold=0.4, neg_band=(0.2, 0.35),
                    n_neg=2, n_cells=16, spark=spark, index_path=ctr_idx))
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
    # limit by dropping detail sections (never `queries`/`value`/`box`).
    result_full = {
        "metric": "headline_query_total_time",
        "value": round(sum(isolated.values()), 3),
        "unit": "sec",
        "queries": isolated,
        "dispersion": dispersion,
        "queries_shared_cache": shared,
        "shared_cache_total": round(sum(shared.values()), 3),
        "queries_layout": {n: _med(v) for n, v in layout_samples.items() if v},
        "queries_layout_plain": {n: _med(v) for n, v in plain_samples.items() if v},
        "pinned_twin": twin_out,
        "reference_drift": drift_flag,
        "steady_state": steady,
        "dual_edge_layout": layout_metrics,
        "extras": extras,
        "sf": sf_val,
    }
    # one-shot sf1-scale sidecars (benched separately: each takes minutes
    # and would distort the headline series)
    for key, fname in SIDECARS.items():
        try:
            with open(os.path.join(REPO, fname)) as f:
                result_full[key] = json.load(f)
        except (OSError, ValueError):
            pass
    full_path = os.path.join(REPO, "BENCH_FULL.json")

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
            ["git", "-C", REPO, "show", "HEAD:BENCH_FULL.json"],
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

    write_artifact(spark, "BENCH_FULL.json", result_full)

    compact = {
        "metric": "headline_query_total_time",
        "value": result_full["value"],
        "unit": "sec",
        "queries": isolated,
        "sf": sf_val,
        "box": result_full["box"],
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
    # line fits; queries/value and box are never shed.
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
