"""Property-graph store: vertices/edges DataFrames over the fixtures.

The reference stores a HugeGraph property graph in TiKV: a `Vertex` table plus
out/in twin edge tables (TikvTables.java:114-149) registered per graph store
(TikvStore.java:345-381), with all properties packed into one serialized cell
(TikvFeatures.java:91-106).  Spark-first re-expression (SURVEY.md §1.4):

* one `vertices` DataFrame with real typed columns (sparse wide schema —
  columnar storage makes absent properties free), not serialized blobs;
* one LOGICAL `edges` DataFrame — the reference's out/in duplication is an
  access-path artifact of sorted-KV adjacency; in Spark either direction is a
  filter/join on `src` or `dst`.  For 100 TB deployments the physical form is
  the dual BUCKETED layout (sources/edge_layout.py, materialized here via
  `materialize_dual_layout`): two bucketed copies, by src and by dst, so both
  traversal directions get co-located joins — the logical model stays a
  single table.

Graph views are deterministic projections of the TPC-H-ish fixtures
(FIXTURES.md §3), declared ONCE in VERTEX_SPECS/EDGE_SPECS — the DuckDB
oracle SQL (oracles.py) is generated from the same specs, so the Spark view
and its oracle can never drift.

Vertex ids are globally unique BIGINTs: `label_code * 2^56 + business_key`
(the reference keeps ids unique via label-aware binary id encoding upstream).
2^56 leaves headroom for ~7e16 keys per label — enough for 100 TB scale —
while staying pure arithmetic (the same encoding is one multiplication in
the DuckDB oracle SQL).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hugegraph_on_tikv_spark.sources.catalog import load_table

LABEL_CODES = {
    "customer": 1,
    "supplier": 2,
    "part": 3,
    "nation": 4,
    "region": 5,
    "order": 6,
}

ID_BASE = 1 << 56  # 72057594037927936


def encode_id(label: str, key: Column) -> Column:
    """Globally-unique vertex id from (label, business key)."""
    return F.lit(LABEL_CODES[label] * ID_BASE) + key.cast("long")


# Sparse wide property schema shared by all vertex labels.
VERTEX_PROP_COLUMNS: list[tuple[str, str]] = [
    ("name", "string"),
    ("acctbal", "double"),
    ("mktsegment", "string"),
    ("brand", "string"),
    ("type", "string"),
    ("size", "int"),
    ("retailprice", "double"),
    ("status", "string"),
    ("totalprice", "double"),
    ("orderdate", "timestamp_ntz"),
    ("priority", "string"),
]

EDGE_PROP_COLUMNS: list[tuple[str, str]] = [
    ("quantity", "double"),
    ("extendedprice", "double"),
    ("discount", "double"),
    ("linenumber", "int"),
    ("shipdate", "timestamp_ntz"),
    ("orderdate", "timestamp_ntz"),
]

# (vertex label, source table, key column, {prop -> source column})
VERTEX_SPECS: list[tuple[str, str, str, dict[str, str]]] = [
    ("customer", "customer", "c_custkey",
     {"name": "c_name", "acctbal": "c_acctbal", "mktsegment": "c_mktsegment"}),
    ("supplier", "supplier", "s_suppkey", {"name": "s_name", "acctbal": "s_acctbal"}),
    ("part", "part", "p_partkey",
     {"name": "p_name", "brand": "p_brand", "type": "p_type",
      "size": "p_size", "retailprice": "p_retailprice"}),
    ("nation", "nation", "n_nationkey", {"name": "n_name"}),
    ("region", "region", "r_regionkey", {"name": "r_name"}),
    ("order", "orders", "o_orderkey",
     {"status": "o_orderstatus", "totalprice": "o_totalprice",
      "orderdate": "o_orderdate", "priority": "o_orderpriority"}),
]

# (edge label, source table, (src label, src col), (dst label, dst col),
#  {prop -> source column}, distinct: bool)
EDGE_SPECS: list[tuple[str, str, tuple[str, str], tuple[str, str], dict[str, str], bool]] = [
    ("placed", "orders", ("customer", "o_custkey"), ("order", "o_orderkey"),
     {"orderdate": "o_orderdate"}, False),
    ("contains", "lineitem", ("order", "l_orderkey"), ("part", "l_partkey"),
     {"quantity": "l_quantity", "extendedprice": "l_extendedprice",
      "discount": "l_discount", "linenumber": "l_linenumber", "shipdate": "l_shipdate"},
     False),
    ("supplied_by", "lineitem", ("part", "l_partkey"), ("supplier", "l_suppkey"), {}, True),
    ("located_in", "customer", ("customer", "c_custkey"), ("nation", "c_nationkey"), {}, False),
    ("located_in", "supplier", ("supplier", "s_suppkey"), ("nation", "s_nationkey"), {}, False),
    ("part_of", "nation", ("nation", "n_nationkey"), ("region", "n_regionkey"), {}, False),
]


def _ddl(keys: list[tuple[str, str]], props: list[tuple[str, str]]) -> str:
    return ", ".join(f"{c} {t}" for c, t in keys + props)


# the views' schemas, in the column order _build_vertices/_build_edges
# select; their caches are read with them, so a warm read infers nothing
_VERTEX_DDL = _ddl([("id", "long"), ("label", "string")], VERTEX_PROP_COLUMNS)
_EDGE_DDL = _ddl([("src", "long"), ("dst", "long"), ("label", "string")],
                 EDGE_PROP_COLUMNS)


class GraphStore:
    """Loads the graph views.

    By default the views are MATERIALIZED once per fixture dir to a local
    parquet cache, pre-partitioned on the join key (edges by src, vertices
    by id) and sorted within partitions — the single-node analog of the
    bucketed layout a 100 TB deployment would keep.  Every subsequent graph
    query then runs off one columnar scan instead of re-unioning six source
    tables (and re-running the supplied_by DISTINCT) per query.  Set
    materialize=False to keep the pure-view behavior."""

    def __init__(self, spark: SparkSession, sf_dir: str, materialize: bool = True):
        self.spark = spark
        self.sf_dir = sf_dir
        self.materialize = materialize
        self.layout = None  # DualEdgeLayout once materialize_dual_layout ran
        self.vertex_layout = None  # VertexLayout once materialize_vertex_layout ran
        self._vertices: DataFrame | None = None
        self._edges: DataFrame | None = None
        self._edges_by_dst: DataFrame | None = None

    def materialize_dual_layout(self, path: str, buckets: int = 32,
                                name: str = "graph_edges"):
        """Persist the edge view as the dual BUCKETED layout (by-src and
        by-dst catalog tables, sources/edge_layout.py) and route every
        subsequent `edges()` call through it — out-hops read the by-src
        copy, in-hops the by-dst copy, and hop joins find their edge side
        pre-distributed on the join key.  This is the 100 TB deployment
        step; the default /tmp repartitioned cache only approximates it
        (plain parquet reads lose the partitioning metadata)."""
        from hugegraph_on_tikv_spark.sources.edge_layout import DualEdgeLayout

        self.layout = DualEdgeLayout.materialize(
            self._build_edges(), name, path, buckets)
        self._edges = self._edges_by_dst = None
        return self.layout

    def materialize_vertex_layout(self, path: str, buckets: int = 32,
                                  name: str = "graph_vertices"):
        """Persist the vertex view as a single BUCKETED-by-id copy
        (sources/edge_layout.py VertexLayout) and route every subsequent
        `vertices()` call through it.  Property-expansion joins against the
        by-dst edge copy (`hops.dst = vertices.id`) then run exchange-free
        on both sides, and streamed vertex property upserts maintain the
        copy per-bucket (the reference maintains its vertex table
        per-mutation, TikvTables.java:114-127; here per-batch)."""
        from hugegraph_on_tikv_spark.sources.edge_layout import VertexLayout

        self.vertex_layout = VertexLayout.materialize(
            self._build_vertices(), name, path, buckets)
        self._vertices = None
        return self.vertex_layout

    def _cache_path(self, name: str) -> str:
        import hashlib
        import os

        # key includes the view DEFINITIONS (editing VERTEX_SPECS/EDGE_SPECS
        # or the id encoding must invalidate the cache) AND the source files'
        # (mtime, size) fingerprints — regenerating the fixture parquet in
        # place must not silently serve stale vertices/edges from /tmp
        src_tables = sorted({spec[1] for spec in VERTEX_SPECS}
                            | {spec[1] for spec in EDGE_SPECS})
        stamps = []
        for t in src_tables:
            p = os.path.join(self.sf_dir, f"{t}.parquet")
            try:
                st = os.stat(p)
                stamps.append(f"{t}:{st.st_mtime_ns}:{st.st_size}")
            except OSError:
                stamps.append(f"{t}:missing")
        spec = (f"{self.sf_dir.rstrip('/')}|{ID_BASE}|{VERTEX_SPECS!r}|{EDGE_SPECS!r}"
                f"|{VERTEX_PROP_COLUMNS!r}|{EDGE_PROP_COLUMNS!r}|{';'.join(stamps)}")
        key = hashlib.md5(spec.encode()).hexdigest()[:12]
        return f"/tmp/hugegraph_spark_cache/{key}/{name}.parquet"

    def _materialized(self, name: str, build: Callable[[], DataFrame],
                      part_col: str, ddl: str) -> DataFrame:
        """The view `build()` returns, read from its cache when materializing.
        `build` runs only on a cache miss: each source read plans a schema
        job.  The cache is read with the view's declared schema `ddl`, so
        a warm view submits no job at all (`_cache_path` hashes the specs
        the schema comes from, so it cannot drift from the files)."""
        if not self.materialize:
            return build()
        import os

        path = self._cache_path(name)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            df = build()
            try:
                (df.repartition(32, part_col)
                   .sortWithinPartitions(part_col)
                   .write.mode("overwrite").parquet(path))
            except Exception:
                return df  # read-only /tmp etc. — fall back to the live plan
        return self.spark.read.schema(ddl).parquet(path)

    def _build_vertices(self) -> DataFrame:
        parts = []
        for label, table, key, props in VERTEX_SPECS:
            df = load_table(self.spark, self.sf_dir, table)
            cols = [encode_id(label, F.col(key)).alias("id"), F.lit(label).alias("label")]
            for name, typ in VERTEX_PROP_COLUMNS:
                src = props.get(name)
                cols.append((F.col(src) if src else F.lit(None)).cast(typ).alias(name))
            parts.append(df.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def vertices(self) -> DataFrame:
        if self.vertex_layout is not None:
            return self.vertex_layout.vertices()
        if self._vertices is None:
            self._vertices = self._materialized(
                "vertices", self._build_vertices, "id", _VERTEX_DDL)
        return self._vertices

    def _build_edges(self) -> DataFrame:
        parts = []
        for label, table, (sl, sc), (dl, dc), props, distinct in EDGE_SPECS:
            df = load_table(self.spark, self.sf_dir, table)
            if distinct:
                df = df.select(sc, dc).distinct()
            cols = [
                encode_id(sl, F.col(sc)).alias("src"),
                encode_id(dl, F.col(dc)).alias("dst"),
                F.lit(label).alias("label"),
            ]
            for name, typ in EDGE_PROP_COLUMNS:
                src = props.get(name)
                cols.append((F.col(src) if src else F.lit(None)).cast(typ).alias(name))
            parts.append(df.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def edges(self, order_by: str = "src") -> DataFrame:
        """The edge view.  `order_by` picks the physical copy: 'src' (the
        default, serving out-traversals) or 'dst' (in-traversals) — the
        dual layout replacing the reference's out/in twin adjacency tables
        (TikvTables.java:128-149).  Both copies are logically identical;
        the choice only affects partitioning/sort locality."""
        if order_by not in ("src", "dst"):
            raise ValueError("order_by must be 'src' or 'dst'")
        if self.layout is not None:
            return self.layout.edges(order_by)
        if order_by == "src":
            if self._edges is None:
                self._edges = self._materialized(
                    "edges", self._build_edges, "src", _EDGE_DDL)
            return self._edges
        if self._edges_by_dst is None:
            self._edges_by_dst = self._materialized(
                "edges_by_dst", self._build_edges, "dst", _EDGE_DDL)
        return self._edges_by_dst
