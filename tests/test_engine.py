"""Unit tests for engine internals (the reference-semantics contracts of
SURVEY.md §5 that the DuckDB differential suite doesn't reach)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from hugegraph_on_tikv_spark.operators.mutations import MutationBatch, TableState
from hugegraph_on_tikv_spark.plans import (
    Aggregate,
    ConditionQuery,
    IdQuery,
    NotSupportedError,
    Query,
    QueryEngine,
    ScanType,
    Shard,
)
from hugegraph_on_tikv_spark.plans.engine import decode_page, encode_page
from hugegraph_on_tikv_spark.plans.ir import AggregateFunc, validate_scan_type
from hugegraph_on_tikv_spark.schema import DataTypeKind, IndexType, SchemaRegistry
from hugegraph_on_tikv_spark.sources.catalog import load_table
from tests.conftest import SF_DIR, jobs_since


@pytest.fixture(scope="module")
def orders_engine(spark):
    return QueryEngine(load_table(spark, SF_DIR, "orders"), key="o_orderkey")


# -- paging (S8/§2.5: resumable keyset cursors) -----------------------------

def test_page_cursor_roundtrip():
    token = encode_page([1000, 3])
    assert decode_page(token) == [1000, 3]


def test_paged_scan_covers_table_without_overlap(orders_engine, spark):
    seen: list[int] = []
    page = ""
    pages = 0
    while True:
        df = orders_engine.query(Query(table="orders", page=page, limit=600))
        rows = df.select("o_orderkey").collect()
        if not rows:
            break
        keys = [r[0] for r in rows]
        seen.extend(keys)
        page = orders_engine.page_after(rows)
        pages += 1
        if pages > 10:
            break
    total = orders_engine.df.count()
    assert len(seen) == total
    assert len(set(seen)) == total  # no overlap between pages
    assert seen == sorted(seen)     # key-ordered, like TiKV byte order


def test_shard_page_before_start_rejected(orders_engine):
    # TikvTable.java:254-260: page position must be >= shard start
    with pytest.raises(ValueError, match="shard start"):
        orders_engine.query(
            ConditionQuery(table="orders", shard=Shard(start=500, end=600),
                           page=encode_page([100]))
        )


def test_limit_zero_short_circuit(orders_engine):
    assert orders_engine.query(Query(table="orders", limit=0)).count() == 0


# -- A1: COUNT-only aggregate path (TikvTable.java:134-148) -----------------

def test_query_number_counts(orders_engine):
    q = Query(table="orders", aggregate=Aggregate(AggregateFunc.COUNT))
    assert orders_engine.query_number(q) == orders_engine.df.count()


def test_query_number_rejects_non_count(orders_engine):
    q = Query(table="orders", aggregate=Aggregate(AggregateFunc.SUM, "o_totalprice"))
    with pytest.raises(NotSupportedError):
        orders_engine.query_number(q)


def test_query_number_rejects_limit(orders_engine):
    q = Query(table="orders", limit=10, aggregate=Aggregate(AggregateFunc.COUNT))
    with pytest.raises(NotSupportedError):
        orders_engine.query_number(q)


# -- F3: scan-type flag validation (TikvStdSessions.java:542-584) -----------

def test_scan_flag_contradictions_rejected():
    with pytest.raises(ValueError):
        validate_scan_type(ScanType.SCAN_PREFIX_BEGIN | ScanType.SCAN_PREFIX_END, b"x", b"y")
    with pytest.raises(ValueError):
        validate_scan_type(ScanType.SCAN_GT_BEGIN, None, None)
    validate_scan_type(ScanType.SCAN_PREFIX_BEGIN, b"x", None)  # ok


# -- S5: input-id order preservation (TikvFeatures.java:61-64) --------------

def test_multi_id_preserves_input_order(spark):
    eng = QueryEngine(load_table(spark, SF_DIR, "nation"), key="n_nationkey")
    ids = [7, 2, 9, 0]
    rows = eng.query(IdQuery(table="nation", ids=ids)).select("n_nationkey").collect()
    assert [r[0] for r in rows] == ids


def test_multi_id_missing_ids_skipped(spark):
    eng = QueryEngine(load_table(spark, SF_DIR, "nation"), key="n_nationkey")
    rows = eng.query(IdQuery(table="nation", ids=[3, 999999, 1])).select("n_nationkey").collect()
    assert [r[0] for r in rows] == [3, 1]


def test_multi_id_lookup_sorts_in_one_partition(spark):
    """A multi-id lookup orders its rows (at most one per id) inside one
    partition: 2 jobs, where a global orderBy's range sort plans 3."""
    eng = QueryEngine(load_table(spark, SF_DIR, "nation"), key="n_nationkey")
    ids = [7, 2, 9, 0, 4]
    df = eng.query(IdQuery(table="nation", ids=ids)).select("n_nationkey")
    jobs = jobs_since(spark)
    assert [r[0] for r in df.collect()] == ids
    assert jobs() <= 2


# -- splits (I1) -------------------------------------------------------------

def test_splits_cover_keyspace(orders_engine):
    shards = orders_engine.splits(4)
    assert len(shards) == 4
    assert shards[0].start is None and shards[-1].end is None
    total = sum(
        orders_engine.query(ConditionQuery(table="orders", shard=s)).count() for s in shards
    )
    assert total == orders_engine.df.count()


# -- mutations ---------------------------------------------------------------

def test_mutation_rollback_clears_all_buffers(spark):
    batch = MutationBatch()
    batch.insert("t", {"id": 1}, ttl=60.0)  # TTL buffer too (reference bug fixed)
    batch.insert("t", {"id": 2})
    batch.delete("t", 3)
    batch.rollback()
    state = TableState(spark.range(5).withColumnRenamed("id", "id"), key="id")
    out = batch.commit({"t": state})
    assert out["t"].df.count() == 5  # nothing applied


def test_ttl_insert_expires_and_vacuums(spark):
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    state = TableState(df, key="id")
    batch = MutationBatch()
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    batch.insert("t", {"id": 2, "v": "b"}, ttl=3600)
    state2 = batch.commit({"t": state}, now=t0)["t"]
    live_before = state2.read(now=t0 + dt.timedelta(minutes=30))
    live_after = state2.read(now=t0 + dt.timedelta(hours=2))
    assert {r["id"] for r in live_before.collect()} == {1, 2}
    assert {r["id"] for r in live_after.collect()} == {1}
    assert state2.vacuum(now=t0 + dt.timedelta(hours=2)).df.count() == 1


def test_upsert_replaces_same_key(spark):
    df = spark.createDataFrame([(1, "old"), (2, "keep")], "id long, v string")
    batch = MutationBatch()
    batch.insert("t", {"id": 1, "v": "new"})
    out = batch.commit({"t": TableState(df, key="id")})["t"].df
    rows = {r["id"]: r["v"] for r in out.collect()}
    assert rows == {1: "new", 2: "keep"}


def test_delete_then_insert_same_batch_wins(spark):
    df = spark.createDataFrame([(1, "old")], "id long, v string")
    batch = MutationBatch()
    batch.delete("t", 1)
    batch.insert("t", {"id": 1, "v": "reborn"})
    out = batch.commit({"t": TableState(df, key="id")})["t"].df
    assert [r["v"] for r in out.collect()] == ["reborn"]


# -- schema registry + counters (A3/A4, §1) ---------------------------------

def test_schema_registry_roundtrip():
    reg = SchemaRegistry()
    pk = reg.create_property_key("age", DataTypeKind.INT)
    vl = reg.create_vertex_label("person", ["age"])
    el = reg.create_edge_label("knows", "person", "person", sort_keys=["since"])
    il = reg.create_index_label("person_by_age", "person", IndexType.RANGE, ["age"])
    assert (pk.id, vl.id, el.id, il.id) == (1, 1, 1, 1)  # per-type counters
    blob = reg.to_json()
    reg2 = SchemaRegistry.from_json(blob)
    assert reg2.get("vertex_label", "person").properties == ["age"]
    assert reg2.get_by_id("index_label", il.id).index_type == IndexType.RANGE
    # counters continue after restore, ids stay monotonic (TikvStore.java:319-330)
    assert reg2.create_property_key("name").id == 2


def test_schema_duplicate_name_rejected():
    reg = SchemaRegistry()
    reg.create_vertex_label("person")
    with pytest.raises(ValueError):
        reg.create_vertex_label("person")


def test_page_cursor_typed_roundtrip():
    """Timestamps/dates/decimals in keyset cursors must round-trip as typed
    values, not stringify (string-vs-typed-column comparison on resume is an
    implicit-cast trap)."""
    import datetime as dt
    import decimal

    from hugegraph_on_tikv_spark.plans.engine import decode_page, encode_page

    vals = [
        42,
        "abc",
        3.5,
        None,
        dt.datetime(2024, 1, 2, 3, 4, 5),
        dt.date(2024, 1, 2),
        decimal.Decimal("12.34"),
    ]
    assert decode_page(encode_page(vals)) == vals


def test_page_cursor_rejects_unsupported_type():
    import pytest as _pytest

    from hugegraph_on_tikv_spark.plans.engine import NotSupportedError, encode_page

    with _pytest.raises(NotSupportedError):
        encode_page([object()])


def test_bulk_upsert_dataframe(spark):
    """DataFrame-valued upsert: one anti-join + union merges a large batch —
    updated rows replace same-key rows, new keys append (100k rows)."""
    from pyspark.sql import functions as F

    from hugegraph_on_tikv_spark.operators.mutations import MutationBatch, TableState

    base = spark.range(100_000).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    )
    # update even ids, insert 100k..150k
    updates = spark.range(0, 150_000).filter(
        (F.col("id") % 2 == 0) | (F.col("id") >= 100_000)
    ).select(F.col("id"), F.lit(-1).cast("long").alias("v"))

    batch = MutationBatch()
    batch.upsert_df("t", updates)
    state = batch.commit({"t": TableState(base, key="id")})["t"]

    assert state.df.count() == 150_000
    # every even or appended id carries the new value; odd originals untouched
    assert state.df.filter((F.col("v") == -1)).count() == updates.count()
    assert state.df.filter((F.col("id") % 2 == 1) & (F.col("id") < 100_000)
                           & (F.col("v") != F.col("id") % 7)).count() == 0


def test_bulk_upsert_missing_column_rejected(spark):
    from pyspark.sql import functions as F

    import pytest as _pytest

    from hugegraph_on_tikv_spark.operators.mutations import MutationBatch, TableState

    base = spark.range(10).select(F.col("id"), F.lit(1).alias("v"))
    batch = MutationBatch()
    batch.upsert_df("t", spark.range(5).select("id"))
    with _pytest.raises(ValueError, match="missing columns"):
        batch.commit({"t": TableState(base, key="id")})
