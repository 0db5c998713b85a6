"""The benchmark's three workloads.

All of them are a closed loop with one client and no think time: the next
op starts when the previous one has returned its collected rows.  A pass is
one run over the workload's op sequence; the seed picks the op order of
every pass, and for `graph_rw` also the lookup keys, traversal starts and
mutation batches.

* `graph_iterative` -- iterative graph analytics from the query roster.
  Most of their time is spent while the DataFrame is built, across dozens
  of small Spark jobs (the driver-bound regime of `operators.analytics`).
* `llm_pipeline` -- dedup, similarity and tokenizer ops from the roster:
  action time, shuffles and Python/Arrow UDFs (the executor-bound regime of
  `functions.*`); `operators.analytics` is idle.
* `graph_rw` -- the graph materialized as the dual bucketed edge layout plus
  the vertex layout, under a mix of 70% lookups, 15% traversals and 15%
  writes; the only workload that writes.

Roster ops keep their registered parameters, so each result is checked
against the DuckDB oracle SQL registered for it.  `graph_rw` keeps a ledger
of every mutation it plans and checks each read, each batch (read your
writes, on every copy) and the final edge and vertex sets against it.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections import Counter, defaultdict

import numpy as np

from oracle import Oracle, result_hash, spark_hash
from spans import Recorder

# roster op -> the layer that does its work
GRAPH_ITERATIVE = {
    "g_pagerank": "operators.analytics",
    "g_label_propagation": "operators.analytics",
    "g_khop2": "operators.traversal",
}
LLM_PIPELINE = {
    "dedup_minhash_lsh": "functions.dedup",
    "sim_cosine_topk_vectorized": "functions.similarity",
    "text_bpe_encode": "functions.bpe",
    "text_unigram": "functions.unigram",
    "dedup_fuzzy_names": "functions.dedup",
}

_MB = 1024.0 * 1024.0


class Context:
    """What every workload shares: the session, the recorder, the input
    tables and the seeded generator."""

    def __init__(self, spark, rec: Recorder, data_dir: str, work_dir: str,
                 tables: dict, seed: int):
        self.spark = spark
        self.rec = rec
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.tables = tables
        self.rng = np.random.default_rng(seed)
        self.cache_root = os.path.join(work_dir, "view_cache")


def rebuild_view_caches(ctx: Context, names: tuple[str, ...]) -> tuple[dict[str, bool], float]:
    """Remove every GraphStore view cache and build the named ones again
    (of `edges`, `edges_by_dst`, `vertices`).  Returns each rebuilt cache's
    cold flag (True: absent before the build) and the build seconds."""
    from hugegraph_on_tikv_spark.sources.graph import GraphStore

    shutil.rmtree(ctx.cache_root, ignore_errors=True)
    store = GraphStore(ctx.spark, ctx.data_dir)
    views = {"edges": lambda: store.edges("src"),
             "edges_by_dst": lambda: store.edges("dst"),
             "vertices": store.vertices}
    cold, total = {}, 0.0
    for name in names:
        view = views[name]
        cold[name] = not os.path.exists(
            os.path.join(store._cache_path(name), "_SUCCESS"))
        _, secs = ctx.rec.call(
            "sources.graph", f"cache_build.{name}", view,
            lambda df: df.write.format("noop").mode("overwrite").save())
        total += secs
    return cold, total


class Workload:
    """Interface the runner drives: `prepare` (cold set-up, repeatable),
    `run_pass`, `check` and `report`."""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.attempted = 0
        self.problems: list[str] = []  # one entry per failed op

    def _fail(self, what: str) -> None:
        self.problems.append(what[:300])

    def prepare(self) -> dict:
        raise NotImplementedError

    def run_pass(self, timed: bool) -> tuple[list[tuple[str, float]], float]:
        """One pass; returns ([(op kind, seconds)], seconds spent checking
        results, which the runner leaves out of the pass time)."""
        raise NotImplementedError

    def check(self) -> None:
        """Checks made once, after the timed window."""

    def report(self) -> dict:
        """Workload-specific metrics for the report line."""
        return {}


class RosterWorkload(Workload):
    """Roster ops run by name from `__spark_entry__.raw_queries()`; every
    result is hashed and compared with the hash of its oracle SQL."""

    def __init__(self, ctx: Context, ops: dict[str, str], caches: tuple[str, ...]):
        import __spark_entry__ as entry

        super().__init__(ctx)
        self.ops = ops
        self.caches = caches  # the GraphStore view caches the ops read
        self.fns = entry.raw_queries()
        # the pre-fusion oracle registry: one SQL per raw query
        self.sqls = {n: entry._RAW_ORACLES[n] for n in ops}
        self.hashes: dict[str, list[str]] = defaultdict(list)

    def prepare(self) -> dict:
        if not self.caches:
            return {}
        cold, secs = rebuild_view_caches(self.ctx, self.caches)
        return {"caches_cold": cold, "cache_build_s": secs}

    def plan_pass(self) -> list[str]:
        # a fixed order: a run makes one cold pass, whose first op absorbs
        # the engine's start-up, so a seeded order would move per-op times
        # by far more than any change to the ops themselves
        return list(self.ops)

    def run_pass(self, timed: bool):
        spark, data, rec = self.ctx.spark, self.ctx.data_dir, self.ctx.rec
        lat: list[tuple[str, float]] = []
        checking = 0.0
        for name in self.plan_pass():
            self.attempted += 1
            try:
                with rec.span(f"op:{name}"):
                    (cols, rows), secs = rec.call(
                        self.ops[name], name,
                        lambda n=name: self.fns[n](spark, data),
                        lambda df: (df.columns, df.collect()))
            except Exception as ex:  # counted as failed; the loop goes on
                self._fail(f"{name}: {type(ex).__name__}: {ex}")
                continue
            lat.append((name, secs))
            t0 = time.perf_counter()
            self.hashes[name].append(spark_hash(rows, cols))
            checking += time.perf_counter() - t0
        return lat, checking

    def check(self) -> None:
        from hugegraph_on_tikv_spark.sources.catalog import TABLES

        oracle = Oracle(self.ctx.data_dir, TABLES)
        try:
            for name, got in self.hashes.items():
                want = oracle.hash(self.sqls[name])
                for h in got:
                    if h != want:
                        self._fail(f"{name}: result hash {h} != oracle {want}")
        finally:
            oracle.close()


# ---------------------------------------------------------------------------
# graph_rw
# ---------------------------------------------------------------------------

EDGE_KEY = ("src", "dst", "label", "linenumber")
_CHECKED_EDGE_COLS = EDGE_KEY + ("quantity", "extendedprice")


class Ledger:
    """The expected graph: the base views derived from the generated tables
    by the engine's declarative view specs, plus every planned mutation.
    Mutations touch `contains` edges (their identity includes linenumber)
    and customer properties."""

    def __init__(self, tables: dict):
        from hugegraph_on_tikv_spark.sources.graph import (
            EDGE_PROP_COLUMNS, EDGE_SPECS, ID_BASE, LABEL_CODES,
            VERTEX_PROP_COLUMNS, VERTEX_SPECS)

        def vid(label: str, key) -> int:
            return LABEL_CODES[label] * ID_BASE + int(key)

        self.vid = vid
        cols = {t: tables[t].to_pydict() for t in tables}
        self.vertices: dict[int, dict] = {}
        for label, table, key, props in VERTEX_SPECS:
            c = cols[table]
            for i, k in enumerate(c[key]):
                row = {"id": vid(label, k), "label": label}
                row.update({p: (c[props[p]][i] if p in props else None)
                            for p, _ in VERTEX_PROP_COLUMNS})
                self.vertices[row["id"]] = row
        self.static: Counter = Counter()       # edges no batch touches
        self.contains: dict[tuple, dict] = {}  # key -> row
        for label, table, (sl, sc), (dl, dc), props, distinct in EDGE_SPECS:
            c = cols[table]
            seen = set()
            for i in range(len(c[sc])):
                if distinct:
                    if (c[sc][i], c[dc][i]) in seen:
                        continue
                    seen.add((c[sc][i], c[dc][i]))
                row = {"src": vid(sl, c[sc][i]), "dst": vid(dl, c[dc][i]),
                       "label": label}
                row.update({p: (c[props[p]][i] if p in props else None)
                            for p, _ in EDGE_PROP_COLUMNS})
                if label == "contains":
                    self.contains[self.key(row)] = row
                else:
                    self.static[tuple(row[k] for k in _CHECKED_EDGE_COLS)] += 1
        self.static_out: dict[int, list[int]] = defaultdict(list)
        for (src, dst, *_), n in self.static.items():
            self.static_out[src].extend([dst] * n)
        self.by_src: dict[int, set] = defaultdict(set)
        self.by_dst: dict[int, set] = defaultdict(set)
        self.next_line: dict[int, int] = defaultdict(int)
        for k in self.contains:
            self._index(k)
        self.customers = sorted(i for i, v in self.vertices.items()
                                if v["label"] == "customer")
        self.parts = sorted(i for i, v in self.vertices.items()
                            if v["label"] == "part")
        self.orders = sorted(i for i, v in self.vertices.items()
                             if v["label"] == "order")

    @staticmethod
    def key(row: dict) -> tuple:
        return tuple(row[k] for k in EDGE_KEY)

    def _index(self, k: tuple) -> None:
        self.by_src[k[0]].add(k)
        self.by_dst[k[1]].add(k)
        self.next_line[k[0]] = max(self.next_line[k[0]], k[3])

    def upsert_edge(self, row: dict) -> None:
        k = self.key(row)
        self.contains[k] = row
        self._index(k)

    def delete_edge(self, k: tuple) -> None:
        del self.contains[k]
        self.by_src[k[0]].discard(k)
        self.by_dst[k[1]].discard(k)

    def edge_rows(self, keys) -> list[tuple]:
        return sorted(tuple(self.contains[k][c] for c in _CHECKED_EDGE_COLS)
                      for k in keys)

    def out(self, v: int) -> set[int]:
        return set(self.static_out.get(v, ())) | {k[1] for k in self.by_src.get(v, ())}

    def k_hop(self, start: int, k: int) -> dict[int, int]:
        """BFS layering: vertex -> hop count first reached (start excluded)."""
        seen, frontier, out = {start}, {start}, {}
        for hop in range(1, k + 1):
            nxt = set().union(*(self.out(v) for v in frontier)) - seen
            out.update((v, hop) for v in nxt)
            seen |= nxt
            frontier = nxt
        return out

    def edge_multiset_hash(self) -> str:
        rows = [r for r, n in self.static.items() for _ in range(n)]
        rows += [tuple(r[c] for c in _CHECKED_EDGE_COLS) for r in self.contains.values()]
        return result_hash(list(_CHECKED_EDGE_COLS), rows)

    @property
    def n_edges(self) -> int:
        return sum(self.static.values()) + len(self.contains)


class GraphRW(Workload):
    """Lookups, traversals and batched writes over the materialized layouts.

    A pass is 15 ops in seeded order: 10 lookups (6 single-id, 2 multi-id,
    2 condition queries on `vertices()`), 2 traversals (a 2-hop k_hop from a
    customer, and a two-in-hop path count into a part through the traversal
    API) and 3 writes (an edge batch of 10 rows, one of 1000 rows, and a
    property update of 10 customers).  Edge batches mix 60% updates, 20%
    inserts and 20% deletes of `contains` edges; each batch is followed by
    `maybe_compact()` and `vacuum(keep=2)`.  Lookup keys follow a Zipf law
    over customers and parts; a quarter of single-id lookups read a
    customer from the last property update."""

    KINDS = (["point"] * 6 + ["multi"] * 2 + ["cond"] * 2
             + ["khop2", "in2"] + ["edges10", "edges1000", "vertices"])
    ZIPF_S = 1.1
    BUCKETS = 32

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        rng = ctx.rng
        self.ledger = Ledger(ctx.tables)
        pop = self.ledger.customers + self.ledger.parts
        self.population = [pop[i] for i in rng.permutation(len(pop))]
        w = 1.0 / np.arange(1, len(pop) + 1) ** self.ZIPF_S
        self.weights = w / w.sum()
        self.last_written: list[int] = []
        self.edge_batches = 0
        self.vertex_batches = 0
        self.layout_root = os.path.join(ctx.work_dir, "layouts")
        self.latencies: dict[str, list[float]] = defaultdict(list)
        self.batches: list[tuple[str, list, list]] = []  # timed writes
        self.bytes_written = 0

    # -- set-up ------------------------------------------------------------
    def prepare(self) -> dict:
        from hugegraph_on_tikv_spark.sources.graph import GraphStore

        rec = self.ctx.rec
        # the layouts are written from the views' source plans, so the
        # GraphStore view caches play no part here
        store = GraphStore(self.ctx.spark, self.ctx.data_dir)
        self.layout, s1 = rec.call(
            "sources.edge_layout", "materialize_dual_layout",
            lambda: store.materialize_dual_layout(
                os.path.join(self.layout_root, "edges"), self.BUCKETS, "pb_edges"))
        self.vlayout, s2 = rec.call(
            "sources.edge_layout", "materialize_vertex_layout",
            lambda: store.materialize_vertex_layout(
                os.path.join(self.layout_root, "vertices"), self.BUCKETS,
                "pb_vertices"))
        self.store = store
        self.edge_schema = self.layout.edges("src").schema
        self.vertex_schema = self.vlayout.vertices().schema
        return {"materialize_s": s1 + s2}

    # -- planning (pure Python: same seed, same ops and batches) -----------
    def _zipf(self, n: int = 1) -> list[int]:
        idx = self.ctx.rng.choice(len(self.population), n, replace=False, p=self.weights)
        return [self.population[i] for i in idx]

    def _zipf_of(self, pool: list[int]) -> int:
        allowed = set(pool)
        while True:
            v = self._zipf()[0]
            if v in allowed:
                return v

    def _vertex_view(self, vid: int) -> tuple:
        v = self.ledger.vertices[vid]
        return (v["id"], v["label"], v["name"], v["acctbal"], v["retailprice"])

    def plan_pass(self) -> list[dict]:
        rng = self.ctx.rng
        kinds = [self.KINDS[i] for i in rng.permutation(len(self.KINDS))]
        return [self._plan(k) for k in kinds]

    def _plan(self, kind: str) -> dict:
        rng, led = self.ctx.rng, self.ledger
        if kind == "point":
            if self.last_written and rng.random() < 0.25:
                vid = self.last_written[int(rng.integers(len(self.last_written)))]
            else:
                vid = self._zipf()[0]
            return {"kind": kind, "ids": [vid], "expect": [self._vertex_view(vid)]}
        if kind == "multi":
            ids = self._zipf(5)
            return {"kind": kind, "ids": ids,
                    "expect": [self._vertex_view(i) for i in ids]}
        if kind == "cond":
            seg = str(rng.choice(sorted({led.vertices[c]["mktsegment"]
                                         for c in led.customers})))
            thr = round(float(rng.uniform(0.0, 8000.0)), 2)
            want = sorted(c for c in led.customers
                          if led.vertices[c]["mktsegment"] == seg
                          and led.vertices[c]["acctbal"] > thr)
            return {"kind": kind, "segment": seg, "threshold": thr, "expect": want}
        if kind == "khop2":
            start = self._zipf_of(led.customers)
            return {"kind": kind, "start": start, "k": 2,
                    "expect": sorted(led.k_hop(start, 2).items())}
        if kind == "in2":
            part = self._zipf_of(led.parts)
            # each order has one `placed` in-edge, so every contains edge
            # into the part extends to exactly one path
            return {"kind": kind, "part": part, "expect": len(led.by_dst.get(part, ()))}
        if kind in ("edges10", "edges1000"):
            return self._plan_edges(int(kind[5:]))
        return self._plan_vertices(10)

    def _plan_edges(self, n: int) -> dict:
        rng, led = self.ctx.rng, self.ledger
        keys = list(led.contains)
        n_upd, n_del = n * 6 // 10, n * 2 // 10
        n_ins = n - n_upd - n_del
        pick = rng.choice(len(keys), n_upd + n_del, replace=False)
        rows = []
        for i in pick[:n_upd]:
            row = dict(led.contains[keys[i]])
            q = float(rng.integers(1, 51))
            row["quantity"] = q
            row["extendedprice"] = round(q * led.vertices[row["dst"]]["retailprice"], 2)
            rows.append(row)
        deletes = [keys[i] for i in pick[n_upd:]]
        for _ in range(n_ins):
            order = led.orders[int(rng.integers(len(led.orders)))]
            part = led.parts[int(rng.integers(len(led.parts)))]
            q = float(rng.integers(1, 51))
            line = led.next_line[order] + 1
            led.next_line[order] = line
            row = dict(src=order, dst=part, label="contains", quantity=q,
                       extendedprice=round(q * led.vertices[part]["retailprice"], 2),
                       discount=round(int(rng.integers(0, 11)) / 100.0, 2),
                       linenumber=line, shipdate=None, orderdate=None)
            rows.append(row)
        for k in deletes:
            led.delete_edge(k)
        for row in rows:
            led.upsert_edge(row)
        srcs = sorted({r["src"] for r in rows} | {k[0] for k in deletes})
        dsts = sorted({r["dst"] for r in rows} | {k[1] for k in deletes})
        self.edge_batches += 1
        return {"kind": f"edges{n}", "rows": rows, "deletes": deletes,
                "batch_id": self.edge_batches,
                "srcs": srcs, "dsts": dsts,
                "expect_src": led.edge_rows(set().union(*(led.by_src[s] for s in srcs))),
                "expect_dst": led.edge_rows(set().union(*(led.by_dst[d] for d in dsts)))}

    def _plan_vertices(self, n: int) -> dict:
        rng, led = self.ctx.rng, self.ledger
        ids = sorted({self._zipf_of(led.customers) for _ in range(n)})
        rows = []
        for vid in ids:
            led.vertices[vid] = row = dict(led.vertices[vid])
            row["acctbal"] = round(float(rng.uniform(-999.99, 9999.99)), 2)
            rows.append(row)
        self.last_written = ids
        self.vertex_batches += 1
        return {"kind": "vertices", "rows": rows, "batch_id": self.vertex_batches,
                "expect": sorted((r["id"], r["acctbal"]) for r in rows)}

    # -- execution ---------------------------------------------------------
    def run_pass(self, timed: bool):
        lat: list[tuple[str, float]] = []
        checking = 0.0
        for op in self.plan_pass():
            self.attempted += 1
            kind = op["kind"]
            try:
                with self.ctx.rec.span(f"op:{kind}"):
                    got, secs, aside = self._execute(op, timed)
                t0 = time.perf_counter()
                problem = self._verify(op, got)
                checking += aside + time.perf_counter() - t0
            except Exception as ex:  # counted as failed; the loop goes on
                self._fail(f"{kind}: {type(ex).__name__}: {ex}")
                continue
            if problem:
                self._fail(f"{kind}: {problem}")
            lat.append((kind, secs))
            if timed:
                self.latencies[kind].append(secs)
        return lat, checking

    def _execute(self, op: dict, timed: bool):
        """Run one op; returns (result, op seconds, seconds spent on
        bookkeeping outside the op)."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        from hugegraph_on_tikv_spark.operators.traversal import OUT, k_hop
        from hugegraph_on_tikv_spark.plans import (
            Condition, ConditionQuery, IdQuery, Op, QueryEngine)
        from hugegraph_on_tikv_spark.traversal_api import Graph

        spark, rec, store = self.ctx.spark, self.ctx.rec, self.store
        kind = op["kind"]
        if kind in ("point", "multi", "cond"):
            if kind == "cond":
                q = ConditionQuery(table="vertices", conditions=[
                    Condition("label", Op.EQ, "customer"),
                    Condition("mktsegment", Op.EQ, op["segment"]),
                    Condition("acctbal", Op.GT, op["threshold"])])
            else:
                q = IdQuery(table="vertices", ids=op["ids"])
            rows, secs = rec.call(
                "plans.engine", kind,
                lambda: QueryEngine(store.vertices()).query(q).select(
                    "id", "label", "name", "acctbal", "retailprice"),
                lambda df: df.collect())
            return rows, secs, 0.0
        if kind == "khop2":
            rows, secs = rec.call(
                "operators.traversal", kind,
                lambda: k_hop(store.edges("src"), [op["start"]], k=op["k"],
                              direction=OUT, edges_by_dst=store.edges("dst")),
                lambda df: df.collect())
            return rows, secs, 0.0
        if kind == "in2":
            rows, secs = rec.call(
                "traversal_api", kind,
                lambda: Graph(spark, self.ctx.data_dir, store=store)
                .V(op["part"]).in_("contains").in_("placed").count(),
                lambda df: df.collect())
            return rows, secs, 0.0
        # writes: the batch DataFrames are the input, built before timing
        t_aside = time.perf_counter()
        if kind == "vertices":
            lay = self.vlayout
            up = spark.createDataFrame(
                [tuple(r[c] for c in self.vertex_schema.fieldNames()) for r in op["rows"]],
                self.vertex_schema)
            dk = None
        else:
            lay = self.layout
            up = spark.createDataFrame(
                [tuple(r[c] for c in self.edge_schema.fieldNames()) for r in op["rows"]],
                self.edge_schema)
            dk = (spark.createDataFrame(op["deletes"], StructType(
                [self.edge_schema[c] for c in EDGE_KEY])) if op["deletes"] else None)
        before = self._inodes()
        aside = time.perf_counter() - t_aside
        counts, secs = rec.call(
            "sources.edge_layout", "upsert",
            lambda: lay.upsert(upserts=up, delete_keys=dk, batch_id=op["batch_id"]))
        _, s = rec.call("sources.edge_layout", "maybe_compact", lay.maybe_compact)
        secs += s
        _, s = rec.call("sources.edge_layout", "vacuum", lambda: lay.vacuum(keep=2))
        secs += s
        t_aside = time.perf_counter()
        written = self._new_bytes(before)
        rec.add("sources.edge_layout.buckets_rewritten", sum(counts.values()))
        rec.add("sources.edge_layout.bytes_written_mb", written / _MB)
        if timed:
            self.bytes_written += written
            self.batches.append((kind, op["rows"], op.get("deletes") or []))
        # read your writes, from every copy
        if kind == "vertices":
            got = self.vlayout.vertices().filter(F.col("id").isin(
                [r["id"] for r in op["rows"]])).select("id", "acctbal").collect()
        else:
            cols = list(_CHECKED_EDGE_COLS)
            got = (self.layout.edges("src").filter(F.col("src").isin(op["srcs"]))
                   .select(*cols).collect(),
                   self.layout.edges("dst").filter(F.col("dst").isin(op["dsts"]))
                   .select(*cols).collect())
        return got, secs, aside + time.perf_counter() - t_aside

    def _verify(self, op: dict, got) -> str | None:
        kind = op["kind"]
        if kind in ("point", "multi"):
            rows = [tuple(r) for r in got]
            return None if rows == op["expect"] else f"ids {op['ids']}: got {rows[:3]}"
        if kind == "cond":
            ids = sorted(r["id"] for r in got)
            return None if ids == op["expect"] else f"{len(ids)} ids, want {len(op['expect'])}"
        if kind == "khop2":
            rows = sorted((r["id"], r["hops"]) for r in got)
            return None if rows == op["expect"] else f"{len(rows)} rows, want {len(op['expect'])}"
        if kind == "in2":
            n = got[0][0]
            return None if n == op["expect"] else f"count {n}, want {op['expect']}"
        if kind == "vertices":
            rows = sorted(tuple(r) for r in got)
            return None if rows == op["expect"] else "vertex batch not readable"
        by_src, by_dst = (sorted(tuple(r) for r in g) for g in got)
        if by_src != op["expect_src"]:
            return "edge batch not readable from the by-src copy"
        if by_dst != op["expect_dst"]:
            return "edge batch not readable from the by-dst copy"
        return None

    # -- storage accounting -----------------------------------------------
    def _parquet_files(self):
        for base, _, files in os.walk(self.layout_root):
            for f in files:
                if f.startswith("part-"):
                    yield os.path.join(base, f)

    def _inodes(self) -> set[int]:
        return {os.stat(p).st_ino for p in self._parquet_files()}

    def _new_bytes(self, before: set[int]) -> int:
        """Bytes of parquet files created since `before` (hard links to
        existing files share their inode and are not counted)."""
        seen, total = set(before), 0
        for p in self._parquet_files():
            st = os.stat(p)
            if st.st_ino not in seen:
                seen.add(st.st_ino)
                total += st.st_size
        return total

    def _space_amp(self) -> float:
        on_disk = {}
        for p in self._parquet_files():
            st = os.stat(p)
            on_disk[st.st_ino] = st.st_size
        current = 0
        for lay in (self.layout, self.vlayout):
            with open(os.path.join(lay.path, "layout.json")) as f:
                version = json.load(f)["version"]
            for key in lay.COPY_KEYS:
                d = os.path.join(lay.path, f"by_{key}", f"v{version:06d}")
                current += sum(os.path.getsize(os.path.join(d, f))
                               for f in os.listdir(d) if f.startswith("part-"))
        return sum(on_disk.values()) / current

    def _batch_bytes(self) -> int:
        """Bytes of the timed batches, each written once as parquet."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        def arrow_schema(schema, names):
            types = {"bigint": pa.int64(), "int": pa.int32(), "double": pa.float64(),
                     "string": pa.string(), "timestamp_ntz": pa.timestamp("us")}
            return pa.schema([(n, types[schema[n].dataType.simpleString()]) for n in names])

        path = os.path.join(self.ctx.work_dir, "tmp", "batch.parquet")
        total = 0
        for kind, rows, deletes in self.batches:
            schema = self.vertex_schema if kind == "vertices" else self.edge_schema
            parts = [(rows, schema.fieldNames())]
            if deletes:
                parts.append(([dict(zip(EDGE_KEY, k)) for k in deletes], list(EDGE_KEY)))
            for rs, names in parts:
                pq.write_table(pa.Table.from_pylist(
                    [{n: r[n] for n in names} for r in rs], arrow_schema(schema, names)), path)
                total += os.path.getsize(path)
        os.remove(path)
        return total

    # -- after the window --------------------------------------------------
    def check(self) -> None:
        led = self.ledger
        self.attempted += 1
        try:
            cols = list(_CHECKED_EDGE_COLS)
            got = self.layout.edges("src").select(*cols).collect()
            n_dst = self.layout.edges("dst").count()
            verts = self.vlayout.vertices().select("id", "acctbal").collect()
            problems = []
            if result_hash(cols, got) != led.edge_multiset_hash():
                problems.append(f"by-src edges differ from the ledger ({len(got)} rows, "
                                f"want {led.n_edges})")
            if n_dst != led.n_edges:
                problems.append(f"by-dst copy has {n_dst} edges, want {led.n_edges}")
            want_v = sorted((i, v["acctbal"]) for i, v in led.vertices.items())
            if sorted(tuple(r) for r in verts) != want_v:
                problems.append(f"vertices differ from the ledger ({len(verts)} rows, "
                                f"want {len(want_v)})")
        except Exception as ex:
            problems = [f"final state: {type(ex).__name__}: {ex}"]
        if problems:
            self._fail("; ".join(problems))

    def report(self) -> dict:
        def pct(xs, q):
            return float(np.percentile(xs, q)) * 1000.0 if xs else None

        lookups = [s for k in ("point", "multi", "cond") for s in self.latencies[k]]
        hops = [s for k in ("khop2", "in2") for s in self.latencies[k]]
        writes = [s for k in ("edges10", "edges1000", "vertices") for s in self.latencies[k]]
        batch = self._batch_bytes() if self.batches else 0
        # one pass holds too few lookups for a tail percentile with ten
        # samples beyond it, so only medians are reported
        return {
            "point_p50_ms": pct(lookups, 50), "point_samples": len(lookups),
            "hop_p50_ms": pct(hops, 50), "hop_samples": len(hops),
            "write_p50_ms": pct(writes, 50), "write_samples": len(writes),
            "write_amp": self.bytes_written / batch if batch else None,
            "space_amp": self._space_amp(),
        }


def make(name: str, ctx: Context) -> Workload:
    if name == "graph_iterative":
        return RosterWorkload(ctx, GRAPH_ITERATIVE, caches=("edges",))
    if name == "llm_pipeline":
        return RosterWorkload(ctx, LLM_PIPELINE, caches=())
    if name == "graph_rw":
        return GraphRW(ctx)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("graph_iterative", "llm_pipeline", "graph_rw")

