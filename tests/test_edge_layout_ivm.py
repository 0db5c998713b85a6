"""Incremental maintenance of the dual bucketed edge layout.

The reference maintains its out/in twin adjacency tables per-mutation
(TikvTables.java:128-149 via TikvStore.mutate, TikvStore.java:176-210).
Spark-side the same contract is per-batch: `DualEdgeLayout.upsert` must
make edge mutations visible in BOTH copies' hop joins while rewriting ONLY
the buckets the mutated keys hash into — untouched bucket files are
hard-linked into the next version, byte-identical and inode-identical.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hugegraph_on_tikv_spark.sources import edge_layout
from hugegraph_on_tikv_spark.sources.edge_layout import (DualEdgeLayout,
                                                         _data_files)
from tests.conftest import jobs_since

EDGE_SCHEMA = ("src long, dst long, label string, linenumber int, "
               "quantity double")


def _edges(spark, rows):
    return spark.createDataFrame(rows, EDGE_SCHEMA)


def _base_rows(n=400):
    # src in [0, 50), dst in [100, 150) — several edges per bucket
    return [(i % 50, 100 + (i * 7) % 50, "e", i, float(i)) for i in range(n)]


def _mk_layout(spark, tmp_path, name, buckets=8):
    return DualEdgeLayout.materialize(
        _edges(spark, _base_rows()), name, str(tmp_path / "dual"), buckets)


def _rows(df):
    return sorted((r.src, r.dst, r.label, r.linenumber, r.quantity)
                  for r in df.collect())


def test_upsert_touches_only_mutated_buckets(spark, tmp_path):
    layout = _mk_layout(spark, tmp_path, "t_ivm_a")
    try:
        v1_src = layout._copy_dir("src", 1)
        files_before = _data_files(v1_src)
        inodes_before = {b: os.stat(os.path.join(v1_src, f)).st_ino
                         for b, f in files_before.items()}

        # one replaced edge (same key, new quantity), one brand-new edge,
        # one deleted edge — three keys, a strict subset of buckets
        ups = _edges(spark, [(3, 121, "e", 3, 999.0),      # replaces row 3
                             (7, 777, "e", 9999, 1.0)])    # new edge
        dels = _edges(spark, [(5, 135, "e", 5, 0.0)]).select(
            "src", "dst", "label", "linenumber")
        stats = layout.upsert(upserts=ups, delete_keys=dels, batch_id=1)
        assert 0 < stats["src"] < layout.buckets
        assert 0 < stats["dst"] < layout.buckets

        # contents: both copies agree and reflect all three mutations
        for key in ("src", "dst"):
            got = _rows(layout.edges(key))
            assert (3, 121, "e", 3, 999.0) in got
            assert (3, 121, "e", 3, 3.0) not in got
            assert (7, 777, "e", 9999, 1.0) in got
            assert (5, 135, "e", 5, 5.0) not in got
        assert _rows(layout.edges("src")) == _rows(layout.edges("dst"))

        # untouched buckets: the NEW version's file is the SAME inode (hard
        # link — no rewrite, no data copy); touched buckets got new files
        v2_src = layout._copy_dir("src", 2)
        files_after = _data_files(v2_src)
        touched_src = {F_row[0] for F_row in
                       ups.select(F.pmod(F.hash("src"), F.lit(layout.buckets)))
                       .union(dels.select(F.pmod(F.hash("src"), F.lit(layout.buckets))))
                       .distinct().collect()}
        untouched = set(files_before) - touched_src
        assert untouched, "fixture too small: every bucket touched"
        for b in untouched:
            assert os.stat(os.path.join(v2_src, files_after[b])).st_ino \
                == inodes_before[b], f"untouched bucket {b} was rewritten"
        for b in touched_src & set(files_after):
            assert os.stat(os.path.join(v2_src, files_after[b])).st_ino \
                != inodes_before.get(b)
    finally:
        layout.drop()


def test_upsert_preserves_exchange_free_hop_plans(spark, tmp_path):
    """Plan guard: after an incremental merge the one-file-per-bucket
    contract still holds, so the two-hop SMJ keeps ZERO exchanges and zero
    sorts in both directions — the whole point of the layout survives
    maintenance."""
    layout = _mk_layout(spark, tmp_path, "t_ivm_b")
    try:
        layout.upsert(upserts=_edges(spark, [(1, 102, "e", 1, 42.0),
                                             (2, 888, "e", 8888, 1.0)]),
                      batch_id=1)
        for first, second in (("out", "out"), ("in", "in")):
            phys = (layout.two_hop(first, second)
                    ._jdf.queryExecution().executedPlan().toString())
            assert "SortMergeJoin" in phys, phys
            assert "Exchange" not in phys, phys
            assert "Sort " not in phys, phys
        # and the new edge participates in hops served by BOTH copies:
        # 1 -> 102 exists; add 102 -> X via dst-copy route
        layout.upsert(upserts=_edges(spark, [(102, 200, "e", 7777, 1.0)]),
                      batch_id=2)
        hops = layout.two_hop("out", "out").filter(
            (F.col("a") == 1) & (F.col("c") == 200)).collect()
        assert any(h.mid == 102 for h in hops)
    finally:
        layout.drop()


def test_upsert_batch_id_exactly_once_and_reader_isolation(spark, tmp_path):
    layout = _mk_layout(spark, tmp_path, "t_ivm_c")
    try:
        old_reader = layout.edges("src")    # planned against v1
        n_before = old_reader.count()

        ups = _edges(spark, [(11, 311, "e", 311, 1.0)])
        assert layout.upsert(upserts=ups, batch_id=5) == {"src": 1, "dst": 1}
        # replay of the same batch id: no-op, version unchanged
        assert layout.upsert(upserts=ups, batch_id=5) == {"src": 0, "dst": 0}
        assert layout._meta()["version"] == 2
        # a stale batch id is also a no-op
        assert layout.upsert(upserts=ups, batch_id=4) == {"src": 0, "dst": 0}

        # the pre-upsert reader still serves version 1 (its file list was
        # resolved before the location swap; v1 files still exist)
        assert old_reader.count() == n_before
        assert layout.edges("src").count() == n_before + 1

        # foreachBatch adapter = the same path keyed by epoch id
        apply = layout.foreach_batch_upserter()
        apply(_edges(spark, [(12, 312, "e", 312, 1.0)]), 6)
        apply(_edges(spark, [(12, 312, "e", 312, 1.0)]), 6)   # redelivery
        assert layout.edges("dst").filter(F.col("dst") == 312).count() == 1
    finally:
        layout.drop()


def test_upsert_crash_between_copies_heals_on_retry(spark, tmp_path):
    """VERDICT r5 #6: crash AFTER the first copy swapped but BEFORE the
    second — meta still points at version N / old batch id; a retried
    upsert with the same batch_id must converge both copies exactly-once."""
    import pytest

    layout = _mk_layout(spark, tmp_path, "t_ivm_crash_a")
    try:
        ups = _edges(spark, [(3, 121, "e", 3, 555.0),     # replace
                             (7, 770, "e", 7000, 2.0)])   # new
        real_merge = layout._merge_copy
        calls = []

        def crashing_merge(key, *rest):
            n = real_merge(key, *rest)
            calls.append(key)
            if len(calls) == 1:
                raise RuntimeError("simulated crash between copy swaps")
            return n

        layout._merge_copy = crashing_merge
        with pytest.raises(RuntimeError, match="simulated crash"):
            layout.upsert(upserts=ups, batch_id=1)
        layout._merge_copy = real_merge

        # the commit pointer never moved
        meta = layout._meta()
        assert meta["version"] == 1 and meta["last_batch_id"] is None

        # retry the SAME batch: applies (not a no-op) and converges
        stats = layout.upsert(upserts=ups, batch_id=1)
        assert all(v > 0 for v in stats.values())
        assert layout._meta() == {**meta, "version": 2, "last_batch_id": 1}
        for key in ("src", "dst"):
            got = _rows(layout.edges(key))
            assert (7, 770, "e", 7000, 2.0) in got
            assert sum(1 for r in got if r[:4] == (3, 121, "e", 3)) == 1
            assert (3, 121, "e", 3, 555.0) in got
        # replay after success: no-op
        assert layout.upsert(upserts=ups, batch_id=1) == {"src": 0, "dst": 0}
    finally:
        layout.drop()


def test_upsert_crash_before_meta_swap_heals_on_retry(spark, tmp_path):
    """Crash with BOTH copies staged+swapped but the layout.json pointer
    swap not yet written: readers opening the layout fresh still see
    version N files; the retried batch re-builds v N+1 and commits."""
    import pytest

    layout = _mk_layout(spark, tmp_path, "t_ivm_crash_b")
    try:
        ups = _edges(spark, [(4, 128, "e", 4, 444.0)])
        real_write = layout._write_meta

        def crashing_write(meta):
            raise RuntimeError("simulated crash before meta swap")

        layout._write_meta = crashing_write
        with pytest.raises(RuntimeError, match="simulated crash"):
            layout.upsert(upserts=ups, batch_id=1)
        layout._write_meta = real_write

        meta = layout._meta()
        assert meta["version"] == 1 and meta["last_batch_id"] is None
        # a fresh layout handle (what a restart constructs) reads v1 dirs
        from hugegraph_on_tikv_spark.sources.edge_layout import (
            DualEdgeLayout, _data_files)
        assert os.path.exists(layout._copy_dir("src", 1))
        assert _data_files(layout._copy_dir("src", 1))

        # retry converges: the partially-built v2 dirs from the failed
        # attempt must not break the rebuild
        stats = layout.upsert(upserts=ups, batch_id=1)
        assert all(v > 0 for v in stats.values())
        assert layout._meta()["version"] == 2
        assert layout._meta()["last_batch_id"] == 1
        for key in ("src", "dst"):
            got = _rows(layout.edges(key))
            assert (4, 128, "e", 4, 444.0) in got
            assert sum(1 for r in got if r[:4] == (4, 128, "e", 4)) == 1
    finally:
        layout.drop()


def test_compact_and_vacuum(spark, tmp_path):
    layout = _mk_layout(spark, tmp_path, "t_ivm_d", buckets=4)
    try:
        layout.upsert(upserts=_edges(spark, [(21, 321, "e", 321, 1.0)]),
                      batch_id=1)
        n = layout.edges("src").count()
        # recluster into more buckets (the bucket-growth escape hatch)
        layout.compact(buckets=8)
        assert layout.buckets == 8
        assert layout.edges("src").count() == n
        assert len(_data_files(layout._copy_dir("src", 3))) <= 8
        phys = (layout.two_hop("out", "out")
                ._jdf.queryExecution().executedPlan().toString())
        assert "Exchange" not in phys

        removed = layout.vacuum(keep=1)
        assert any("v000001" in d for d in removed)
        assert not os.path.exists(layout._copy_dir("src", 1))
        assert layout.edges("src").count() == n    # current version intact
    finally:
        layout.drop()


def test_maybe_compact_policy(spark, tmp_path):
    """The recluster POLICY: file-metadata-only decision, compacts on
    bucket skew (hot-key accretion) or bucket growth, no-ops on a healthy
    layout."""
    layout = _mk_layout(spark, tmp_path, "t_ivm_e", buckets=4)
    try:
        v0 = layout._meta()["version"]
        # healthy layout: balanced buckets -> no compact
        assert layout.maybe_compact(skew_ratio=4.0) is False
        assert layout._meta()["version"] == v0

        # accrete many edges onto ONE hub src so its bucket outgrows the
        # median file size by far
        hub = [(7, 10_000 + i, "hub", 100_000 + i, 0.0) for i in range(6000)]
        layout.upsert(upserts=_edges(spark, hub), batch_id=1)
        s = layout.bucket_stats()
        assert s["max"] / s["median"] > 4.0
        assert layout.maybe_compact(skew_ratio=4.0) is True
        # skew compact doubles the buckets; data intact
        assert layout.buckets == 8
        assert layout.edges("src").filter(F.col("label") == "hub").count() == 6000

        # growth trigger: a tiny target forces the doubling path
        b0 = layout.buckets
        assert layout.maybe_compact(skew_ratio=1e9, target_bucket_bytes=1,
                                    growth_ratio=1.0) is True
        assert layout.buckets == 2 * b0
    finally:
        layout.drop()


# -- VertexLayout: the same per-bucket maintenance for the vertex table ----
# (the reference's id-keyed vertex table, TikvTables.java:114-127)

VERTEX_SCHEMA = "id long, label string, name string, acctbal double"


def _vertices(spark, rows):
    return spark.createDataFrame(rows, VERTEX_SCHEMA)


def _vertex_rows(n=300):
    return [(i, "customer", f"name#{i}", float(i)) for i in range(n)]


def test_vertex_layout_upsert_per_bucket(spark, tmp_path):
    from hugegraph_on_tikv_spark.sources.edge_layout import VertexLayout

    layout = VertexLayout.materialize(
        _vertices(spark, _vertex_rows()), "t_ivm_v", str(tmp_path / "vl"), 8)
    try:
        v1 = layout._copy_dir("id", 1)
        inodes_before = {b: os.stat(os.path.join(v1, f)).st_ino
                         for b, f in _data_files(v1).items()}

        # property update on two ids, one delete — a strict bucket subset
        ups = _vertices(spark, [(3, "customer", "renamed", 999.0),
                                (301, "customer", "new", 1.0)])
        dels = _vertices(spark, [(5, "customer", "x", 0.0)]).select("id")
        stats = layout.upsert(upserts=ups, delete_keys=dels, batch_id=1)
        assert 0 < stats["id"] < layout.buckets

        got = {r.id: (r.name, r.acctbal) for r in layout.vertices().collect()}
        assert got[3] == ("renamed", 999.0)
        assert got[301] == ("new", 1.0)
        assert 5 not in got

        # untouched buckets hard-linked (inode-identical), replay a no-op
        v2 = layout._copy_dir("id", 2)
        files_after = _data_files(v2)
        touched = {r[0] for r in
                   ups.select(F.pmod(F.hash("id"), F.lit(layout.buckets)))
                   .union(dels.select(F.pmod(F.hash("id"), F.lit(layout.buckets))))
                   .distinct().collect()}
        untouched = set(inodes_before) - touched
        assert untouched
        for b in untouched:
            assert os.stat(os.path.join(v2, files_after[b])).st_ino \
                == inodes_before[b], f"untouched bucket {b} was rewritten"
        assert layout.upsert(upserts=ups, batch_id=1) == {"id": 0}
    finally:
        layout.drop()


def test_vertex_property_expand_exchange_free(spark, tmp_path):
    """Plan guard for the dual+vertex layout pair: property expansion
    (`hops ⋈ vertices ON dst = id`) reads the by-dst edge copy against the
    by-id vertex copy — both sides pre-bucketed AND pre-sorted on their
    join key, so the SMJ needs no exchange and no sort on either side,
    and the property survives a vertex upsert."""
    from hugegraph_on_tikv_spark.sources.edge_layout import VertexLayout

    edges = _mk_layout(spark, tmp_path, "t_ivm_ev")
    verts = VertexLayout.materialize(
        _vertices(spark, [(100 + i, "v", f"n{i}", float(i)) for i in range(50)]),
        "t_ivm_vv", str(tmp_path / "vl2"), edges.buckets)
    try:
        verts.upsert(upserts=_vertices(spark, [(121, "v", "hot", 7.0)]),
                     batch_id=1)
        expand = (edges.edges("dst").hint("merge")
                  .join(verts.vertices(), F.col("dst") == F.col("id"))
                  .select("src", "dst", "name", "acctbal"))
        phys = expand._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in phys, phys
        assert "Exchange" not in phys, phys
        assert "Sort " not in phys, phys
        assert expand.filter(F.col("dst") == 121).select("name") \
            .distinct().collect()[0][0] == "hot"
    finally:
        edges.drop()
        verts.drop()


def test_graphstore_vertex_layout_routing(spark, tmp_path):
    """GraphStore.materialize_vertex_layout routes vertices() through the
    bucketed copy and streamed-style property upserts become visible in a
    traversal's property read."""
    from hugegraph_on_tikv_spark.sources.graph import GraphStore
    from tests.conftest import SF_DIR

    store = GraphStore(spark, SF_DIR)
    base = {r.id: r.name for r in
            store.vertices().filter(F.col("label") == "nation").collect()}
    layout = store.materialize_vertex_layout(str(tmp_path / "gvl"), buckets=8)
    try:
        routed = store.vertices()
        assert {r.id: r.name for r in
                routed.filter(F.col("label") == "nation").collect()} == base

        some_id = min(base)
        row = routed.filter(F.col("id") == some_id).collect()[0]
        upd = routed.sparkSession.createDataFrame(
            [row.asDict()], routed.schema) \
            .withColumn("name", F.lit("RENAMED"))
        layout.upsert(upserts=upd, batch_id=1)
        assert store.vertices().filter(F.col("id") == some_id) \
            .select("name").collect()[0][0] == "RENAMED"
    finally:
        layout.drop()
        store.vertex_layout = None


# -- one batch: one touched-set aggregate, one guarded merge per copy ------

def _inodes(layout, version):
    out = {}
    for key in layout.COPY_KEYS:
        d = layout._copy_dir(key, version)
        for b, f in _data_files(d).items():
            out[key, b] = os.stat(os.path.join(d, f)).st_ino
    return out


def test_upsert_broadcast_merge_equals_shuffle_fallback(spark, tmp_path,
                                                        no_broadcast,
                                                        monkeypatch):
    """The merge's fast path (the retracted keys broadcast into the
    anti-join) and its shuffle fallback (broadcast budget -1) leave every
    copy of an edge and a vertex layout with the same rows and the same
    rewritten-bucket counts, and both hard-link every untouched bucket."""
    from hugegraph_on_tikv_spark.sources.edge_layout import VertexLayout

    real_write = edge_layout.write_bucketed
    plans = []

    def spy(df, *args):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        real_write(df, *args)

    monkeypatch.setattr(edge_layout, "write_bucketed", spy)

    def apply(layout, ups, dels):
        before = _inodes(layout, 1)
        plans.clear()
        counts = layout.upsert(upserts=ups, delete_keys=dels, batch_id=1)
        merge_plans = list(plans)
        after = _inodes(layout, 2)
        rows = {k: sorted(layout.copy(k).collect()) for k in layout.COPY_KEYS}
        linked = {kb for kb, ino in before.items() if after[kb] == ino}
        return (counts, rows, linked), merge_plans

    edge_ups = _edges(spark, [(3, 121, "e", 3, 555.0), (7, 770, "e", 7000, 2.0)])
    edge_dels = _edges(spark, [(5, 135, "e", 5, 0.0)]).select(
        "src", "dst", "label", "linenumber")
    vertex_ups = _vertices(spark, [(3, "customer", "renamed", 999.0),
                                   (301, "customer", "new", 1.0)])
    vertex_dels = _vertices(spark, [(5, "customer", "x", 0.0)]).select("id")
    cases = (
        (lambda name, sub: _mk_layout(spark, tmp_path / sub, name),
         edge_ups, edge_dels),
        (lambda name, sub: VertexLayout.materialize(
            _vertices(spark, _vertex_rows()), name, str(tmp_path / sub), 8),
         vertex_ups, vertex_dels),
    )
    for i, (mk, ups, dels) in enumerate(cases):
        fast_layout = mk(f"t_ivm_eq{i}_fast", f"fast{i}")
        slow_layout = mk(f"t_ivm_eq{i}_slow", f"slow{i}")
        try:
            fast, fast_plans = apply(fast_layout, ups, dels)
            with no_broadcast():
                slow, slow_plans = apply(slow_layout, ups, dels)
            assert fast == slow
            counts, _, linked = fast
            b = fast_layout.buckets
            touched = {k: {r[0] for r in
                           ups.select(F.pmod(F.hash(k), F.lit(b)))
                           .union(dels.select(F.pmod(F.hash(k), F.lit(b))))
                           .distinct().collect()}
                       for k in fast_layout.COPY_KEYS}
            assert counts == {k: len(t) for k, t in touched.items()}
            assert linked == {(k, bid) for k in fast_layout.COPY_KEYS
                              for bid in range(b) if bid not in touched[k]}
            assert len(fast_plans) == len(slow_plans) \
                == len(fast_layout.COPY_KEYS)
            assert all("BroadcastHashJoin" in p and "LeftAnti" in p
                       for p in fast_plans), fast_plans
            assert all("Broadcast" not in p and "LeftAnti" in p
                       for p in slow_plans), slow_plans
        finally:
            fast_layout.drop()
            slow_layout.drop()


def test_upsert_batch_job_count(spark, tmp_path):
    """A dual edge layout applies one batch of upserts and deletes in at
    most 9 Spark jobs: one touched-set aggregate for both copies, then per
    copy one broadcast anti-join merge and one bucketed write.  Computing
    each copy's touched set per input and shuffling the anti-join's
    right side cost 19 jobs in this fixture."""
    layout = _mk_layout(spark, tmp_path, "t_ivm_jobs")
    try:
        ups = _edges(spark, [(3, 121, "e", 3, 555.0),
                             (7, 770, "e", 7000, 2.0)])
        dels = _edges(spark, [(5, 135, "e", 5, 0.0)]).select(
            "src", "dst", "label", "linenumber")
        jobs = jobs_since(spark)
        layout.upsert(upserts=ups, delete_keys=dels, batch_id=1)
        assert jobs() <= 9
    finally:
        layout.drop()
