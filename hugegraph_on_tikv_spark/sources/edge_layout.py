"""Bucketed graph layouts — the reference's adjacency/vertex tables as Spark
physical layout, with per-bucket incremental maintenance.

The reference stores every edge TWICE: an out-edges table keyed
(src, label, dst) and an in-edges table keyed (dst, label, src)
(TikvTables.java:128-149), so adjacency in either direction is a local
prefix scan; vertices live in their own id-keyed table (TikvTables.java:
114-127).  The Spark-native equivalent of "access is local by construction"
is bucketing: persist each table bucketed (and sorted) by its access key —
edges twice (by `src` and by `dst`), vertices once (by `id`).  A hop join
then finds its build side already hash-distributed on the join key:

* out-hops (`frontier ⋈ edges ON vertex = src`) read the by-src copy —
  the edge side needs NO exchange, only the (small) frontier shuffles;
* in-hops read the by-dst copy — same property on `dst`;
* multi-hop expansion (`e1 ⋈ e2 ON e1.dst = e2.src`) reads the by-dst
  copy for e1 and the by-src copy for e2 — a sort-merge join with ZERO
  exchanges and zero sorts on either side, in both directions;
* property expansion (`hops ⋈ vertices ON dst = id`) reads the by-dst
  edge copy against the by-id vertex copy — again exchange-free on BOTH
  sides (tests/test_edge_layout_ivm.py pins the plan).

Storage cost is 2× the edge table plus 1× vertices, identical to the
reference's twin tables + vertex table; each layout's copies are written
from one logical DataFrame so they cannot drift.

INCREMENTAL MAINTENANCE (the reference maintains its tables per-mutation,
TikvTables.java:128-149 / TikvStore.java:176-210, and flushes a buffered
batch in one commit, TikvStdSessions:239-279; here the same contract is
per-batch):  each copy lives in a VERSIONED directory (`by_src/v000001`,
...).  One batch (`upsert(delta)`) is one touched-set aggregate for all
copies — over `pmod(hash(key), buckets)`, the exact partition-id expression
`bucketBy` and `repartition(n, key)` share — then, per copy, a guarded
anti-join merge of ONLY the touched buckets' files and one bucketed write
of those buckets.  The next version hard-links every untouched bucket file
(no rewrite, no data copy).  The catalog table then swaps to the new
directory with a metadata-only `ALTER TABLE SET LOCATION`: readers planned
against version N keep their file list and are never disturbed (the same
atomic-pointer contract as sources/table_catalog.py).  Work per refresh is
O(touched buckets), not O(table) — at 100 TB a trickle of mutations
touches a few hundred of tens of thousands of buckets.  `compact()` is the
recluster cadence (full rewrite, optionally with a new bucket count, for
when buckets grow past their target size); `vacuum()` retires old version
directories once their readers are gone.

`BucketedLayout` is the copy-count-agnostic machinery; `DualEdgeLayout`
(two copies, src/dst) and `VertexLayout` (one copy, id) are the graph
instantiations GraphStore materializes.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hugegraph_on_tikv_spark.operators.traversal import broadcast_fits
from hugegraph_on_tikv_spark.sources.bucketing import write_bucketed

BY_SRC_SUFFIX = "_by_src"
BY_DST_SUFFIX = "_by_dst"

# edge identity for merges: multi-edges between one (src, dst) pair are
# legal (one `contains` edge per lineitem), distinguished by linenumber
DEFAULT_KEY_COLS = ("src", "dst", "label", "linenumber")

_BUCKET_RE = re.compile(r"_(\d+)(?:\.|$)")


def _bucket_of(fname: str) -> int | None:
    m = _BUCKET_RE.search(fname)
    return int(m.group(1)) if m else None


def _data_files(location: str) -> dict[int, str]:
    """bucket id → file name for one version directory (one file per
    bucket is the layout invariant; enforced at write, asserted here)."""
    out: dict[int, str] = {}
    for f in sorted(os.listdir(location)):
        if not f.startswith("part-"):
            continue
        b = _bucket_of(f)
        if b is None:
            continue
        if b in out:
            raise AssertionError(
                f"bucket {b} has multiple files in {location} — the "
                "one-file-per-bucket contract is broken; run compact()")
        out[b] = f
    return out


class BucketedLayout:
    """Versioned, incrementally-maintained bucketed layout of one logical
    DataFrame as one-or-more bucketed catalog tables (`<name>_by_<key>`,
    one per entry of COPY_KEYS).  Subclasses fix the copy keys and the row
    identity used by merges."""

    COPY_KEYS: tuple[str, ...] = ()
    KEY_COLS: tuple[str, ...] = ()

    def __init__(self, spark: SparkSession, name: str,
                 path: str | None = None, buckets: int | None = None):
        self.spark = spark
        self.name = name
        self.path = path
        self.buckets = buckets
        if path and buckets is None and os.path.exists(self._meta_path(path)):
            with open(self._meta_path(path)) as f:
                self.buckets = json.load(f)["buckets"]

    # -- metadata ----------------------------------------------------------
    @staticmethod
    def _meta_path(path: str) -> str:
        return os.path.join(path, "layout.json")

    def _meta(self) -> dict:
        with open(self._meta_path(self.path)) as f:
            return json.load(f)

    def _write_meta(self, meta: dict) -> None:
        tmp = self._meta_path(self.path) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1)
        os.replace(tmp, self._meta_path(self.path))  # atomic pointer swap

    def _copy_dir(self, key: str, version: int) -> str:
        return os.path.join(self.path, f"by_{key}", f"v{version:06d}")

    @classmethod
    def materialize(cls, df: DataFrame, name: str, path: str,
                    buckets: int = 32) -> "BucketedLayout":
        """Write every bucketed copy of `df` as VERSION 1 of the layout.
        `name` prefixes the catalog table names; `path` holds the versioned
        parquet dirs plus `layout.json` (buckets / current version / last
        applied batch id).

        The input is persisted across the copy writes: it is typically a
        lazy multi-source union (GraphStore's view derivation), and without
        the cache each copy would re-derive the whole view from base
        tables."""
        self = cls(df.sparkSession, name, path, buckets)
        df = df.persist()
        try:
            for key in cls.COPY_KEYS:
                write_bucketed(df, f"{name}_by_{key}",
                               self._copy_dir(key, 1), buckets, key)
        finally:
            df.unpersist()
        self._write_meta({"buckets": buckets, "version": 1,
                          "last_batch_id": None})
        return self

    def copy(self, key: str) -> DataFrame:
        """The copy bucketed on `key`.  Read through the catalog — a plain
        path read would lose the bucket metadata."""
        if key not in self.COPY_KEYS:
            raise ValueError(f"key must be one of {self.COPY_KEYS}")
        return self.spark.table(f"{self.name}_by_{key}")

    # -- incremental maintenance -------------------------------------------
    def _merge_copy(self, key: str, version: int, upserts: DataFrame | None,
                    gone: DataFrame | None, touched: set[int], rows: int) -> int:
        """Build version+1 of one copy from the batch `upsert` prepared:
        read the `touched` buckets, drop every row whose key is in `gone`
        (`rows` rows of key columns) with one anti-join, add `upserts`, and
        write the result as fresh files for those buckets alone; every
        other bucket file is hard-linked.  A left-anti join ignores
        duplicate right-side keys, so `gone` needs no distinct; it is
        broadcast when `broadcast_fits(gone, rows)` and shuffled past the
        budget.  Returns the number of buckets rewritten."""
        spark, b = self.spark, self.buckets
        cur = self._copy_dir(key, version)
        nxt = self._copy_dir(key, version + 1)
        files = _data_files(cur)
        if not touched:
            return 0
        schema = spark.table(f"{self.name}_by_{key}").schema
        touched_files = [os.path.join(cur, files[t]) for t in touched if t in files]
        existing = (spark.read.schema(schema).parquet(*touched_files)
                    if touched_files else
                    spark.createDataFrame([], schema))
        merged = existing.join(F.broadcast(gone) if broadcast_fits(gone, rows)
                               else gone, gone.columns, "left_anti")
        if upserts is not None:
            merged = merged.unionByName(upserts.select(*schema.fieldNames()))
        # stage the touched buckets through a throwaway bucketed table: the
        # writer repartitions on the SAME pmod(hash) the touched-bucket set
        # was computed with, so it emits files ONLY for touched bucket ids,
        # named with the bucket suffix the bucketed reader parses
        stage_tbl = f"{self.name}_stage_{key}"
        stage_dir = os.path.join(self.path, f"stage_{key}_{uuid.uuid4().hex[:8]}")
        write_bucketed(merged, stage_tbl, stage_dir, b, key)
        spark.sql(f"DROP TABLE IF EXISTS {stage_tbl}")
        staged = _data_files(stage_dir)
        unexpected = set(staged) - touched
        if unexpected:
            raise AssertionError(
                f"staged buckets {unexpected} outside the touched set "
                f"{touched} — bucket-hash mismatch, refusing to merge")
        if os.path.exists(nxt):
            # orphan from a crashed earlier attempt: meta still points at
            # `version`, so nothing ever committed v+1 — clear and rebuild
            # (the documented heal-by-retry path; without this the hard
            # links below raise FileExistsError and the retry deadlocks)
            shutil.rmtree(nxt)
        os.makedirs(nxt)
        for bid, fname in files.items():          # untouched: hard links,
            if bid not in touched:                # zero data movement
                os.link(os.path.join(cur, fname), os.path.join(nxt, fname))
        for bid, fname in staged.items():
            os.replace(os.path.join(stage_dir, fname), os.path.join(nxt, fname))
        open(os.path.join(nxt, "_SUCCESS"), "w").close()
        shutil.rmtree(stage_dir, ignore_errors=True)
        spark.sql(f"ALTER TABLE {self.name}_by_{key} "
                  f"SET LOCATION '{nxt}'")       # metadata-only swap
        return len(touched)

    def upsert(self, upserts: DataFrame | None = None,
               delete_keys: DataFrame | None = None,
               key_cols: tuple[str, ...] | None = None,
               batch_id: int | None = None) -> dict[str, int]:
        """Apply one batch of mutations to EVERY copy without a full
        rewrite: rows in `upserts` replace existing rows with the same
        `key_cols` (default: the subclass row identity); `delete_keys` rows
        (key columns only) are removed.

        The batch's retracted keys (`gone`: the upserted keys plus the
        deleted keys) are built once.  One aggregate groups them on the
        bucket id of every copy key and collects one row per distinct
        bucket tuple: each copy's touched buckets and the exact batch row
        count.  `_merge_copy` then rewrites each copy.

        Exactly-once under at-least-once redelivery: pass a monotonically
        increasing `batch_id` and a replayed batch becomes a no-op (the id
        is committed in layout.json only after ALL copies swapped, so a
        crash between copies is healed by re-applying the same batch —
        the merge is idempotent by key).  Returns touched-bucket counts
        per copy."""
        key_cols = key_cols or self.KEY_COLS
        meta = self._meta()
        if batch_id is not None and meta["last_batch_id"] is not None \
                and batch_id <= meta["last_batch_id"]:
            return {k: 0 for k in self.COPY_KEYS}
        if upserts is not None:
            upserts = upserts.persist()
        try:
            keys = [d.select(*key_cols) for d in (upserts, delete_keys)
                    if d is not None]
            gone = reduce(DataFrame.unionByName, keys) if keys else None
            touched = {k: set() for k in self.COPY_KEYS}
            rows = 0
            if gone is not None:
                bucket_of = [F.pmod(F.hash(F.col(k)), F.lit(self.buckets)).alias(k)
                             for k in self.COPY_KEYS]
                for r in gone.groupBy(*bucket_of).count().collect():
                    for k in self.COPY_KEYS:
                        touched[k].add(r[k])
                    rows += r["count"]
            v = meta["version"]
            counts = {k: self._merge_copy(k, v, upserts, gone, touched[k], rows)
                      for k in self.COPY_KEYS}
        finally:
            if upserts is not None:
                upserts.unpersist()
        if any(counts.values()):
            meta["version"] = v + 1
        if batch_id is not None:
            meta["last_batch_id"] = batch_id
        self._write_meta(meta)
        return counts

    def foreach_batch_upserter(self, key_cols: tuple[str, ...] | None = None):
        """`foreachBatch` adapter: stream upserts straight into the
        layout — `writeStream.foreachBatch(layout.foreach_batch_upserter())`.
        The Structured Streaming epoch id doubles as the exactly-once
        batch id."""
        def _apply(batch_df: DataFrame, epoch_id: int) -> None:
            self.upsert(upserts=batch_df, key_cols=key_cols, batch_id=epoch_id)
        return _apply

    def bucket_stats(self) -> dict:
        """Size distribution of the first copy's bucket files (bytes):
        {'max': .., 'median': .., 'total': .., 'n_buckets': ..} — the input
        to the recluster decision.  File size is the honest proxy: a bucket
        that outgrew its siblings makes every hop task ragged (stragglers)
        and its per-bucket merges proportionally slower."""
        import statistics as _stats

        v = self._meta()["version"]
        cur = self._copy_dir(self.COPY_KEYS[0], v)
        sizes = [os.path.getsize(os.path.join(cur, f))
                 for f in _data_files(cur).values()]
        if not sizes:
            return {"max": 0, "median": 0, "total": 0, "n_buckets": 0}
        return {"max": max(sizes), "median": _stats.median(sizes),
                "total": sum(sizes), "n_buckets": len(sizes)}

    def maybe_compact(self, skew_ratio: float = 4.0,
                      target_bucket_bytes: int = 256 * 1024 * 1024,
                      growth_ratio: float = 2.0) -> bool:
        """The recluster cadence as a POLICY: compact with DOUBLED buckets
        when either
        (a) bucket skew — the largest bucket is > `skew_ratio`× the median.
        Doubling splits buckets where several keys' rows collided
        (the common accretion case); a SINGLE hub key whose rows dominate
        its bucket is not hash-splittable by any bucket count — that
        residual skew is the read side's job (AQE skew-split /
        salted_join, see SCALE.md "Skew & memory") — or
        (b) bucket growth — the MEDIAN bucket exceeds `growth_ratio`×
        `target_bucket_bytes` (the whole table outgrew its bucket count;
        doubling keeps per-task work at the size maxPartitionBytes-style
        tuning assumes).  Call it after upsert batches (e.g. every N
        streamed batches); returns True if a compact ran.  Stats are file
        metadata only — no data is read to decide."""
        s = self.bucket_stats()
        if not s["n_buckets"]:
            return False
        if s["median"] > 0 and s["max"] / s["median"] > skew_ratio:
            self.compact(buckets=self.buckets * 2)
            return True
        if s["median"] > growth_ratio * target_bucket_bytes:
            self.compact(buckets=self.buckets * 2)
            return True
        return False

    def compact(self, buckets: int | None = None) -> None:
        """Recluster cadence: full rewrite of the CURRENT data into a fresh
        version — with a new bucket count if the table outgrew the old one
        (bucket growth is the one thing per-bucket merges can't fix)."""
        meta = self._meta()
        v = meta["version"]
        new_b = buckets or self.buckets
        # read the current version DIRECTORY, not the catalog table — Spark
        # refuses to overwrite a table it is also reading from, and the
        # path read is the same files without the metadata self-reference
        cur = self.spark.read.parquet(
            self._copy_dir(self.COPY_KEYS[0], v)).persist()
        try:
            for key in self.COPY_KEYS:
                write_bucketed(cur, f"{self.name}_by_{key}",
                               self._copy_dir(key, v + 1), new_b, key)
        finally:
            cur.unpersist()
        self.buckets = new_b
        meta.update(version=v + 1, buckets=new_b)
        self._write_meta(meta)

    def vacuum(self, keep: int = 2) -> list[str]:
        """Remove version directories older than the newest `keep` (readers
        pinned to a retired version must be done — same contract as
        TableCatalog.vacuum).  Returns removed dirs."""
        removed = []
        cur_version = self._meta()["version"]
        for key in self.COPY_KEYS:
            base = os.path.join(self.path, f"by_{key}")
            for d in sorted(os.listdir(base)):
                if d.startswith("v") and int(d[1:]) <= cur_version - keep:
                    full = os.path.join(base, d)
                    shutil.rmtree(full, ignore_errors=True)
                    removed.append(full)
        return removed

    def drop(self) -> None:
        """Drop the catalog entries (the parquet files remain at `path`)."""
        for key in self.COPY_KEYS:
            self.spark.sql(f"DROP TABLE IF EXISTS {self.name}_by_{key}")


class DualEdgeLayout(BucketedLayout):
    """Handle to a materialized dual edge layout (two bucketed catalog
    tables, by src and by dst — the reference's out/in twin adjacency
    tables, TikvTables.java:128-149).  Use `materialize` to build one,
    `edges(direction_key)` to get the copy whose bucketing matches a join
    key."""

    COPY_KEYS = ("src", "dst")
    KEY_COLS = DEFAULT_KEY_COLS

    def edges(self, order_by: str = "src") -> DataFrame:
        """The copy bucketed on `order_by` ('src' serves out-traversals and
        any join on src; 'dst' serves in-traversals)."""
        if order_by not in ("src", "dst"):
            raise ValueError("order_by must be 'src' or 'dst'")
        return self.copy(order_by)

    def adjacency(self, direction: str = "out") -> DataFrame:
        """(vertex, neighbor) view served from the direction-matching copy,
        so the scan arrives hash-distributed on `vertex`:

        * 'out'  → by-src copy, vertex=src;
        * 'in'   → by-dst copy, vertex=dst;
        * 'both' → union of the two, EACH branch bucket-local on vertex
          (the union itself has no single partitioning — a join against it
          will still exchange the union output; per-direction plans don't).
        """
        out = self.edges("src").select(F.col("src").alias("vertex"),
                                       F.col("dst").alias("neighbor"))
        inn = self.edges("dst").select(F.col("dst").alias("vertex"),
                                       F.col("src").alias("neighbor"))
        if direction == "out":
            return out
        if direction == "in":
            return inn
        if direction == "both":
            return out.unionByName(inn)
        raise ValueError("direction must be 'out', 'in' or 'both'")

    def two_hop(self, first: str = "out", second: str = "out") -> DataFrame:
        """Two-hop expansion (a, mid, c) joining the copies so the middle
        join is exchange-free: the first hop's END side comes from the copy
        bucketed on its end column, the second hop's START side from the
        copy bucketed on its start column — both sides of the mid-join are
        pre-bucketed AND pre-sorted on the join key, so the sort-merge join
        needs no exchange and no sort in EITHER direction combination."""
        ends = {"out": ("src", "dst"), "in": ("dst", "src")}
        if first not in ends or second not in ends:
            raise ValueError("hops must be 'out' or 'in'")
        start1, end1 = ends[first]
        start2, end2 = ends[second]
        e1 = self.edges(end1).select(F.col(start1).alias("a"),
                                     F.col(end1).alias("mid"))
        e2 = self.edges(start2).select(F.col(start2).alias("mid"),
                                       F.col(end2).alias("c"))
        return e1.hint("merge").join(e2, "mid").select("a", "mid", "c")


class VertexLayout(BucketedLayout):
    """Single bucketed vertex copy, keyed and bucketed by `id` — the
    reference's vertex table (TikvTables.java:114-127) as Spark physical
    layout.  Property-expansion joins (`hops ⋈ vertices ON dst = id`)
    against the by-dst edge copy are exchange-free on both sides when the
    bucket counts match; streamed vertex property upserts maintain the
    copy per-bucket exactly like the edge layout."""

    COPY_KEYS = ("id",)
    KEY_COLS = ("id",)

    def vertices(self) -> DataFrame:
        return self.copy("id")
