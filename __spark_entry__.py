"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship 2-hop traversal (smoke check); `queries()`
exposes one named DataFrame-producing callable per implemented operator from
SURVEY.md §2 (+ north-star extensions); `oracle_sql()` gives the equivalent
DuckDB SQL over the same parquet views.  Column names and value determinism
rules:

* every computed column is aliased identically on both sides;
* money aggregates are summed as DECIMAL(18,2) then cast to DOUBLE — exact
  and summation-order-independent in both engines (double-sums differ in the
  last bits between engines and can flip rounded values);
* all hashes feeding results are md5-derived (portable bit-identically);
* timestamps in outputs are formatted to 'yyyy-MM-dd HH:mm:ss' strings.
"""

from __future__ import annotations

import os
import sys

# make the package importable however the driver imports this file
_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hugegraph_on_tikv_spark.operators import analytics, indexes, joins, traversal
from hugegraph_on_tikv_spark.oracles import graph_ctes
from hugegraph_on_tikv_spark.plans import (
    Condition,
    ConditionQuery,
    IdPrefixQuery,
    IdQuery,
    IdRangeQuery,
    Op,
    Query,
    QueryEngine,
    Shard,
)
from hugegraph_on_tikv_spark.plans.engine import encode_page
from hugegraph_on_tikv_spark.sources.catalog import load_events, load_table
from hugegraph_on_tikv_spark.sources.graph import GraphStore, ID_BASE, LABEL_CODES
from hugegraph_on_tikv_spark.streaming import windows


def _vid(label: str, key: int) -> int:
    return LABEL_CODES[label] * ID_BASE + key


def _money(col):
    """Deterministic sum of a 2-dp money column: exact int64-cents sum, then
    one double division.  Identical in both engines regardless of summation
    order, and stays inside whole-stage codegen (no decimal machinery).
    Headroom: sum of cents < 2^63 holds beyond sf1000."""
    return F.sum(F.round(col * 100).cast("long")) / F.lit(100.0)


_FMT = "yyyy-MM-dd HH:mm:ss"


def _ts(col):
    return F.date_format(col, _FMT)


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per market segment, the number + value of lineitem edges
    reachable customer→placed→order→contains — a 2-hop traversal with filter
    and aggregate (SURVEY.md §7 phase 0), all broadcast-friendly joins."""
    g = GraphStore(spark, "/root/testdata/sf0.001")
    v, e = g.vertices(), g.edges()
    customers = v.filter(F.col("label") == "customer").select("id", "mktsegment")
    placed = e.filter(F.col("label") == "placed").select("src", F.col("dst").alias("order_id"))
    contains = e.filter(F.col("label") == "contains").select(
        F.col("src").alias("order_id"), "extendedprice"
    )
    return (
        customers.join(placed, customers.id == placed.src)
        .join(contains, "order_id")
        .groupBy("mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            _money(F.col("extendedprice")).alias("total_price"),
        )
        .orderBy("mktsegment")
    )


# ---------------------------------------------------------------------------
# queries + oracles (kept adjacent per entry so they cannot drift)
# ---------------------------------------------------------------------------

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def _register(name: str, fn: Callable[[SparkSession, str], DataFrame], sql: str | None):
    _QUERIES[name] = fn
    if sql is not None:
        _ORACLES[name] = sql


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)


# -- S1: full-table scan (TikvTable.java:191-200) ---------------------------

_register(
    "s1_scan_all",
    lambda spark, sf: QueryEngine(
        load_table(spark, sf, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity"),
        key=["l_orderkey", "l_linenumber"],
    ).query(Query(table="lineitem")),
    "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
)

# -- S2: point get (TikvTable.java:207-214, TikvTables.java:122-126) --------

_register(
    "s2_point_get",
    lambda spark, sf: QueryEngine(GraphStore(spark, sf).vertices()).query(
        IdQuery(table="vertices", ids=[_vid("customer", 42)])
    ).select("id", "label", "name", "mktsegment"),
    f"""
    WITH {graph_ctes()}
    SELECT id, label, name, mktsegment FROM vertices
    WHERE id = {_vid("customer", 42)}
    """,
)

# -- S5: multi-id lookup preserving input order (TikvTable.java:177-184,
#        TikvFeatures.java:61-64) -------------------------------------------

_S5_IDS = [_vid("customer", 5), _vid("part", 7), _vid("customer", 1), _vid("supplier", 3)]

def _s5(spark: SparkSession, sf: str) -> DataFrame:
    out = QueryEngine(GraphStore(spark, sf).vertices()).query(
        IdQuery(table="vertices", ids=_S5_IDS)
    )
    pos = F.array_position(F.array(*[F.lit(i) for i in _S5_IDS]), F.col("id"))
    return out.select("id", "label", "name", pos.cast("long").alias("input_pos"))

_register(
    "s5_multi_id_ordered",
    _s5,
    f"""
    WITH {graph_ctes()},
    wanted(id, input_pos) AS (VALUES {", ".join(f"({v}, {i + 1})" for i, v in enumerate(_S5_IDS))})
    SELECT v.id, v.label, v.name, CAST(w.input_pos AS BIGINT) AS input_pos
    FROM vertices v JOIN wanted w ON v.id = w.id
    """,
)

# -- S6: prefix scan with exclusive resume point (TikvTable.java:216-223) ---

_register(
    "s6_prefix_scan",
    lambda spark, sf: QueryEngine(load_table(spark, sf, "customer"), key="c_name").query(
        IdPrefixQuery(table="customer", prefix="Customer#00000012",
                      start="Customer#000000124", inclusive_start=False)
    ).select("c_custkey", "c_name"),
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_name LIKE 'Customer#00000012%' AND c_name > 'Customer#000000124'
    """,
)

# -- S7: range scan with per-bound inclusivity (TikvTable.java:225-236) -----

_register(
    "s7_range_scan",
    lambda spark, sf: QueryEngine(load_table(spark, sf, "orders"), key="o_orderkey").query(
        IdRangeQuery(table="orders", start=100, end=200,
                     inclusive_start=True, inclusive_end=False)
    ).select("o_orderkey", F.round(F.col("o_totalprice"), 2).alias("o_totalprice")),
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice FROM orders
    WHERE o_orderkey >= 100 AND o_orderkey < 200
    """,
)

# -- S8: shard scan (TikvTable.java:250-269) --------------------------------

_register(
    "s8_shard_scan",
    lambda spark, sf: QueryEngine(load_table(spark, sf, "orders"), key="o_orderkey").query(
        ConditionQuery(table="orders", shard=Shard(start=500, end=600))
    ).select("o_orderkey", "o_custkey"),
    "SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey >= 500 AND o_orderkey < 600",
)

# -- F5: limit-0 short-circuit (TikvTable.java:151-157) ---------------------

_register(
    "f5_limit0",
    lambda spark, sf: QueryEngine(
        load_table(spark, sf, "lineitem").select("l_orderkey", "l_linenumber"),
        key=["l_orderkey", "l_linenumber"],
    ).query(Query(table="lineitem", limit=0)),
    "SELECT l_orderkey, l_linenumber FROM lineitem WHERE FALSE",
)

# -- S9/S11 + F4: condition query with range/IN/prefix relations ------------

_register(
    "s11_condition_query",
    lambda spark, sf: QueryEngine(load_table(spark, sf, "part"), key="p_partkey").query(
        ConditionQuery(
            table="part",
            conditions=[
                Condition("p_size", Op.GTE, 10),
                Condition("p_size", Op.LT, 20),
                Condition("p_brand", Op.IN, ["Brand#1", "Brand#2"]),
                Condition("p_type", Op.PREFIX, "ECO"),
            ],
        )
    ).select("p_partkey", "p_brand", "p_type", "p_size"),
    """
    SELECT p_partkey, p_brand, p_type, p_size FROM part
    WHERE p_size >= 10 AND p_size < 20
      AND p_brand IN ('Brand#1', 'Brand#2') AND p_type LIKE 'ECO%'
    """,
)

# -- paging: keyset cursor resume (TikvStdSessions.java:687-689,
#            TikvTable.java:192-196) ----------------------------------------

_PAGE = encode_page([1000, 3])

_register(
    "paging_keyset",
    lambda spark, sf: QueryEngine(
        load_table(spark, sf, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity"),
        key=["l_orderkey", "l_linenumber"],
    ).query(Query(table="lineitem", page=_PAGE, limit=100)),
    """
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
    WHERE l_orderkey > 1000 OR (l_orderkey = 1000 AND l_linenumber > 3)
    ORDER BY l_orderkey, l_linenumber LIMIT 100
    """,
)

# -- A1: COUNT aggregate (TikvTable.java:134-148) ---------------------------

_register(
    "a1_count",
    lambda spark, sf: QueryEngine(load_table(spark, sf, "lineitem")).query(
        ConditionQuery(table="lineitem", conditions=[Condition("l_returnflag", Op.EQ, "R")])
    ).agg(F.count(F.lit(1)).alias("n")),
    "SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem WHERE l_returnflag = 'R'",
)

# -- TPC-H-style headliners (extended aggregates; the reference pushes none
#    of these down — supportsAggregateProperty=false, TikvFeatures:118-121 —
#    our engine computes them natively) -------------------------------------

def _q1(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem").filter(F.col("l_shipdate") <= "2000-12-01")
    # exact integer arithmetic: cents * (100 - discount_cents), one division
    disc_price_c = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(100).cast("long") - F.round(F.col("l_discount") * 100).cast("long")
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _money(F.col("l_quantity")).alias("sum_qty"),
            _money(F.col("l_extendedprice")).alias("sum_base_price"),
            (F.sum(disc_price_c) / F.lit(10000.0)).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )

_register(
    "q1_pricing_summary",
    _q1,
    """
    SELECT l_returnflag, l_linestatus,
           SUM(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty,
           SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price,
           SUM(CAST(round(l_extendedprice * 100) AS BIGINT) *
               (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0 AS sum_disc_price,
           round(AVG(l_quantity), 4) AS avg_qty,
           round(AVG(l_discount), 4) AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)


def _q3(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = load_table(spark, sf, "lineitem").filter(F.col("l_shipdate") > "1998-01-01")
    revenue_c = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(100).cast("long") - F.round(F.col("l_discount") * 100).cast("long")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg((F.sum(revenue_c) / F.lit(10000.0)).alias("revenue"))
        .select("l_orderkey", F.col("revenue"), _ts("o_orderdate").alias("o_orderdate"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )

_register(
    "q3_shipping_priority",
    _q3,
    """
    SELECT l_orderkey,
           SUM(CAST(round(l_extendedprice * 100) AS BIGINT) *
               (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0 AS revenue,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)

# -- graph analytics --------------------------------------------------------

_register(
    "g_degree",
    lambda spark, sf: analytics.degrees(GraphStore(spark, sf).edges()),
    f"""
    WITH {graph_ctes()},
    endpoints AS (
      SELECT src AS id, 1 AS is_out, 0 AS is_in FROM edges
      UNION ALL
      SELECT dst AS id, 0 AS is_out, 1 AS is_in FROM edges
    )
    SELECT id, CAST(SUM(is_out) AS BIGINT) AS out_degree,
           CAST(SUM(is_in) AS BIGINT) AS in_degree,
           CAST(count(*) AS BIGINT) AS degree
    FROM endpoints GROUP BY id
    """,
)

_register(
    "g_summary",
    # one-row whole-graph stats (analytics.graph_summary): the numbers
    # partitioning decisions start from; n_edges = sum(degree)/2, no
    # scalar cross join
    lambda spark, sf: analytics.graph_summary(GraphStore(spark, sf).edges()),
    f"""
    WITH {graph_ctes()},
    ends AS (SELECT src AS id FROM edges UNION ALL SELECT dst AS id FROM edges),
    deg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree FROM ends GROUP BY id)
    SELECT CAST(count(*) AS BIGINT) AS n_vertices,
           CAST(SUM(degree) // 2 AS BIGINT) AS n_edges,
           CAST(MAX(degree) AS BIGINT) AS max_degree,
           SUM(degree) / count(*) AS avg_degree
    FROM deg
    """,
)

_KHOP_START = _vid("customer", 42)

_register(
    "g_khop2",
    lambda spark, sf: traversal.k_hop(
        GraphStore(spark, sf).edges(), [_KHOP_START], k=2, direction=traversal.OUT
    ),
    f"""
    WITH {graph_ctes()},
    l1 AS (SELECT DISTINCT dst AS id FROM edges WHERE src = {_KHOP_START}),
    l2 AS (
      SELECT DISTINCT e.dst AS id FROM edges e JOIN l1 ON e.src = l1.id
      WHERE e.dst NOT IN (SELECT id FROM l1) AND e.dst <> {_KHOP_START}
    )
    SELECT id, CAST(1 AS INTEGER) AS hops FROM l1
    UNION ALL
    SELECT id, CAST(2 AS INTEGER) AS hops FROM l2
    """,
)

# -- streaming-shaped windows (batch twins; SURVEY.md §2.9) -----------------

_register(
    "win_tumbling",
    lambda spark, sf: windows.tumbling_counts(load_events(spark, sf), "1 hour")
    .select(_ts("window_start").alias("window_start"), "event_type", "n_events", "sum_value"),
    """
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, CAST(count(*) AS BIGINT) AS n_events,
           round(SUM(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)

_register(
    "win_gapfill",
    # dense-grid resampling (streaming/windows.py resample_gapfill):
    # every bucket×group present, empties n_events=0, forward-filled sum
    lambda spark, sf: windows.resample_gapfill(
        load_events(spark, sf), "1 hour", forward_fill=True)
    .select(_ts("bucket_start").alias("bucket_start"), "event_type",
            "n_events", "sum_value", "filled_value"),
    """
    WITH b AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS bs, event_type AS grp,
             CAST(count(*) AS BIGINT) AS n, round(SUM(value), 4) AS sv
      FROM events GROUP BY 1, 2
    ), mm AS (
      SELECT min(bs) AS lo, max(bs) AS hi FROM b
    ), spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS bs, grp
      FROM mm, (SELECT DISTINCT grp FROM b) g
    ), joined AS (
      SELECT s.bs, s.grp, COALESCE(b.n, 0) AS n_events, b.sv AS sum_value
      FROM spine s LEFT JOIN b ON s.bs = b.bs AND s.grp = b.grp
    )
    SELECT strftime(bs, '%Y-%m-%d %H:%M:%S') AS bucket_start,
           grp AS event_type, n_events, sum_value,
           last_value(sum_value IGNORE NULLS)
             OVER (PARTITION BY grp ORDER BY bs
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS filled_value
    FROM joined
    """,
)

_register(
    "win_interpolate",
    # linear interpolation over the dense grid: row-local blend of
    # window-located neighbors — per-row deterministic, so the doubles
    # hash-match across engines
    lambda spark, sf: windows.resample_interpolate(
        load_events(spark, sf), "1 hour")
    .select(_ts("bucket_start").alias("bucket_start"), "event_type",
            "n_events", "sum_value", "interp_num", "interp_den"),
    """
    WITH b AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS bs, event_type AS grp,
             CAST(count(*) AS BIGINT) AS n, round(SUM(value), 4) AS sv
      FROM events GROUP BY 1, 2
    ), mm AS (
      SELECT min(bs) AS lo, max(bs) AS hi FROM b
    ), spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS bs, grp
      FROM mm, (SELECT DISTINCT grp FROM b) g
    ), joined AS (
      SELECT s.bs, s.grp, COALESCE(b.n, 0) AS n_events, b.sv AS sum_value,
             row_number() OVER (PARTITION BY s.grp ORDER BY s.bs) AS pos
      FROM spine s LEFT JOIN b ON s.bs = b.bs AND s.grp = b.grp
    ), located AS (
      SELECT *,
             last_value(sum_value IGNORE NULLS) OVER
               (PARTITION BY grp ORDER BY bs
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN sum_value IS NOT NULL THEN pos END
                        IGNORE NULLS) OVER
               (PARTITION BY grp ORDER BY bs
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp,
             first_value(sum_value IGNORE NULLS) OVER
               (PARTITION BY grp ORDER BY bs
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN sum_value IS NOT NULL THEN pos END
                         IGNORE NULLS) OVER
               (PARTITION BY grp ORDER BY bs
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS np
      FROM joined
    )
    SELECT strftime(bs, '%Y-%m-%d %H:%M:%S') AS bucket_start,
           grp AS event_type, n_events, sum_value,
           CASE WHEN sum_value IS NOT NULL
                THEN CAST(round(sum_value * 10000) AS BIGINT)
                WHEN pv IS NULL THEN CAST(round(nv * 10000) AS BIGINT)
                WHEN nv IS NULL THEN CAST(round(pv * 10000) AS BIGINT)
                ELSE CAST(round(pv * 10000) AS BIGINT) * (np - pos)
                   + CAST(round(nv * 10000) AS BIGINT) * (pos - pp)
           END AS interp_num,
           CASE WHEN sum_value IS NOT NULL OR pv IS NULL OR nv IS NULL
                THEN CAST(1 AS BIGINT) ELSE CAST(np - pp AS BIGINT)
           END AS interp_den
    FROM located
    """,
)

from hugegraph_on_tikv_spark.functions import events as _events_fns

_register(
    "win_cohort_retention",
    # product-analytics retention triangle (functions/events.py
    # cohort_retention): ISO-week cohorts, exact distinct-user counts
    lambda spark, sf: _events_fns.cohort_retention(load_events(spark, sf), "week")
    .select(_ts("cohort").alias("cohort"), "period_offset", "n_users"),
    """
    WITH firsts AS (
      SELECT user_id AS u, min(date_trunc('week', ts)) AS cohort
      FROM events GROUP BY user_id
    ), acts AS (
      SELECT DISTINCT user_id AS u, date_trunc('week', ts) AS period
      FROM events
    )
    SELECT strftime(f.cohort, '%Y-%m-%d %H:%M:%S') AS cohort,
           CAST(date_diff('day', f.cohort, a.period) // 7 AS INTEGER) AS period_offset,
           CAST(count(DISTINCT a.u) AS BIGINT) AS n_users
    FROM acts a JOIN firsts f ON a.u = f.u
    GROUP BY f.cohort, period_offset
    """,
)

_register(
    "win_transitions",
    # first-order event-transition matrix (functions/events.py
    # event_transitions): per-user time-ordered lead(), (ts, event_id)
    # tie-break, exact counts + one 6dp-rounded row-normalized division
    lambda spark, sf: _events_fns.event_transitions(load_events(spark, sf)),
    """
    WITH pr AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    ), counts AS (
      SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      FROM pr WHERE to_type IS NOT NULL GROUP BY from_type, to_type
    )
    SELECT c.from_type, c.to_type, c.n,
           round(c.n / t.tot, 6) AS p
    FROM counts c
    JOIN (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot
          FROM counts GROUP BY from_type) t USING (from_type)
    """,
)

_register(
    "win_funnel",
    # first-touch funnel (functions/events.py funnel_counts): view ->
    # click -> purchase, each step strictly after the previous step's
    # earliest qualifying event, whole funnel within 7 days of step 0
    lambda spark, sf: _events_fns.funnel_counts(
        load_events(spark, sf), steps=("view", "click", "purchase"),
        horizon_days=7),
    """
    WITH r0 AS (
      SELECT user_id AS u, min(ts) AS t0,
             min(ts) + INTERVAL 7 DAY AS deadline, min(ts) AS prev_t
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), r1 AS (
      SELECT e.user_id AS u, r.t0, r.deadline, min(e.ts) AS prev_t
      FROM events e JOIN r0 r ON e.user_id = r.u
      WHERE e.event_type = 'click' AND e.ts > r.prev_t AND e.ts <= r.deadline
      GROUP BY e.user_id, r.t0, r.deadline
    ), r2 AS (
      SELECT e.user_id AS u, r.t0, r.deadline, min(e.ts) AS prev_t
      FROM events e JOIN r1 r ON e.user_id = r.u
      WHERE e.event_type = 'purchase' AND e.ts > r.prev_t AND e.ts <= r.deadline
      GROUP BY e.user_id, r.t0, r.deadline
    )
    SELECT 0 AS step_index, 'view' AS step, CAST(count(*) AS BIGINT) AS n_users FROM r0
    UNION ALL
    SELECT 1 AS step_index, 'click' AS step, CAST(count(*) AS BIGINT) AS n_users FROM r1
    UNION ALL
    SELECT 2 AS step_index, 'purchase' AS step, CAST(count(*) AS BIGINT) AS n_users FROM r2
    """,
)



# ===========================================================================
# wave 2: mutations, indexes, graph analytics, LLM-pipeline ops, windows
# ===========================================================================

import datetime as _dt

from hugegraph_on_tikv_spark.functions import dedup, similarity, text
from hugegraph_on_tikv_spark.functions.multimodal import (
    extract_features,
    media_byte_simhash,
    media_exact_dup_groups,
    media_near_pairs,
    synthetic_media,
    synthetic_media_with_dups,
)
from hugegraph_on_tikv_spark.operators.mutations import MutationBatch, TableState
from hugegraph_on_tikv_spark.oracles import (
    FINGERPRINT_SQL,
    H48_SQL,
    H60_SQL,
    MINHASH_P_SQL,
    NORM_SQL,
    TOKENS_SQL,
    minhash_seeds_values,
    word_shingles_sql,
)

# -- M1/M9: insert/upsert with per-table atomic commit ----------------------

def _m_insert(spark: SparkSession, sf: str) -> DataFrame:
    state = TableState(load_table(spark, sf, "region"), key="r_regionkey")
    batch = MutationBatch()
    batch.insert("region", {"r_regionkey": 900, "r_name": "TESTREGION"})
    batch.insert("region", {"r_regionkey": 0, "r_name": "AFRICA-REBORN"})  # upsert
    out = batch.commit({"region": state})
    return out["region"].df

_register(
    "m1_insert_upsert",
    _m_insert,
    """
    SELECT r_regionkey, r_name FROM region WHERE r_regionkey NOT IN (900, 0)
    UNION ALL
    SELECT * FROM (VALUES (CAST(900 AS INTEGER), 'TESTREGION'),
                          (CAST(0 AS INTEGER), 'AFRICA-REBORN')) v(r_regionkey, r_name)
    """,
)

# -- M2 + delete-prefix/range (TikvStdSessions.java:407-426) ----------------

def _m_delete(spark: SparkSession, sf: str) -> DataFrame:
    state = TableState(load_table(spark, sf, "nation"), key="n_nationkey")
    batch = MutationBatch()
    batch.delete("nation", 3)
    batch.delete("nation", 4)
    batch.delete_range("nation", 10, 13)
    batch.delete_prefix("nation", "2")  # byte-prefix analog on the stringified key
    out = batch.commit({"nation": state})
    return out["nation"].df

_register(
    "m2_delete",
    _m_delete,
    """
    SELECT * FROM nation
    WHERE n_nationkey NOT IN (3, 4)
      AND NOT (n_nationkey >= 10 AND n_nationkey < 13)
      AND CAST(n_nationkey AS VARCHAR) NOT LIKE '2%'
    """,
)

# -- M3/M4: single-property append / eliminate (TikvTable.java:122-132) -----

def _m_append_eliminate(spark: SparkSession, sf: str) -> DataFrame:
    state = TableState(load_table(spark, sf, "nation"), key="n_nationkey")
    batch = MutationBatch()
    batch.append("nation", 5, "n_name", "RENAMED_NATION")
    batch.eliminate("nation", 7, "n_name")
    out = batch.commit({"nation": state})
    return out["nation"].df

_register(
    "m3_append_eliminate",
    _m_append_eliminate,
    """
    SELECT n_nationkey,
           CASE WHEN n_nationkey = 5 THEN 'RENAMED_NATION'
                WHEN n_nationkey = 7 THEN NULL
                ELSE n_name END AS n_name,
           n_regionkey
    FROM nation
    """,
)

# -- M1 TTL: expire_at read filter (TikvTable.java:95-100) ------------------

_TTL_NOW = _dt.datetime(2024, 1, 15, 12, 0, 0)

def _m_ttl(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_events(spark, sf).withColumn(
        "expire_at", F.col("ts") + F.expr("INTERVAL 1 HOUR")
    )
    state = TableState(ev, key="event_id")
    return state.read(now=_TTL_NOW).select("event_id", "event_type")

_register(
    "m4_ttl_expiry",
    _m_ttl,
    """
    SELECT event_id, event_type FROM events
    WHERE date_trunc('microseconds', ts) + INTERVAL 1 HOUR > TIMESTAMP '2024-01-15 12:00:00'
    """,
)

# -- M7/M8: truncate (TikvTable.java:87-90, TikvStore.java:246-259) ---------

_register(
    "m7_truncate",
    lambda spark, sf: TableState(load_table(spark, sf, "region"), key="r_regionkey")
    .truncate().df,
    "SELECT * FROM region WHERE FALSE",
)

# -- M9 bulk: DataFrame-valued upsert (one anti-join + union per batch; the
#    Spark-native shape of the reference's large write batches,
#    TikvStdSessions.java:380-426) ------------------------------------------

def _m_bulk_upsert(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer")
    updated = cust.filter(F.col("c_custkey") % 10 == 0) \
        .withColumn("c_mktsegment", F.lit("BULKSEG"))
    inserted = cust.filter(F.col("c_custkey") % 97 == 0).select(
        (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
        F.concat(F.lit("NewCustomer#"), F.col("c_custkey")).alias("c_name"),
        "c_nationkey", "c_acctbal", F.lit("NEWSEG").alias("c_mktsegment"),
    )
    batch = MutationBatch()
    batch.upsert_df("customer", updated.unionByName(inserted))
    state = batch.commit({"customer": TableState(cust, key="c_custkey")})["customer"]
    return state.df.filter((F.col("c_custkey") % 10 == 0) | (F.col("c_custkey") > 1_000_000)) \
        .select("c_custkey", "c_name", "c_mktsegment")

_register(
    "m_bulk_upsert",
    _m_bulk_upsert,
    """
    SELECT c_custkey, c_name, 'BULKSEG' AS c_mktsegment
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    SELECT c_custkey + 1000000 AS c_custkey,
           'NewCustomer#' || CAST(c_custkey AS VARCHAR) AS c_name,
           'NEWSEG' AS c_mktsegment
    FROM customer WHERE c_custkey % 97 = 0
    """,
)

# -- incremental view maintenance (streaming/view_maintenance.py): an
#    aggregate view maintained across three deltas — plus one REPLAYED
#    delta that the batch-id watermark must turn into a no-op — equals the
#    one-shot SQL aggregate.  The merge is a full-outer join on the stored
#    partial state (int64 scaled sums), never a base-table recompute. ------

def _ivm_agg_view(spark: SparkSession, sf: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    from hugegraph_on_tikv_spark.sources.table_catalog import TableCatalog
    from hugegraph_on_tikv_spark.streaming import view_maintenance as vm

    ev = load_events(spark, sf).select("event_id", "event_type", "value")
    # one fixed per-process dir, wiped per call and removed at exit — every
    # roster enumeration re-runs the five catalog writes, and mkdtemp per
    # call would leak a parquet-version pile into /tmp for each one
    d = _ivm_agg_view.__dict__.setdefault(
        "_dir", tempfile.mkdtemp(prefix="ivm_view_"))
    if "_cleanup" not in _ivm_agg_view.__dict__:
        _ivm_agg_view.__dict__["_cleanup"] = atexit.register(
            shutil.rmtree, d, ignore_errors=True)
    shutil.rmtree(d, ignore_errors=True)
    catalog = TableCatalog(spark, d)
    vm.agg_view_create(catalog, "events_by_type", ["event_type"], ["value"],
                       ev.filter(F.lit(False)))
    for i in range(3):
        vm.agg_view_apply_delta(
            catalog, "events_by_type", ev.filter(F.col("event_id") % 3 == i), i)
    # at-least-once redelivery: reapplying batch 2 must change nothing
    vm.agg_view_apply_delta(
        catalog, "events_by_type", ev.filter(F.col("event_id") % 3 == 2), 2)
    return vm.agg_view_read(catalog, "events_by_type")

_register(
    "ivm_agg_view",
    _ivm_agg_view,
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) / 10000.0
               AS sum_value
    FROM events GROUP BY event_type
    """,
)

# -- index families (SURVEY.md §1.2) ----------------------------------------

_register(
    "idx_secondary",
    lambda spark, sf: indexes.lookup_elements(
        indexes.secondary_index(load_table(spark, sf, "customer"), "c_mktsegment", "c_custkey")
        .filter(F.col("field_value") == "BUILDING"),
        load_table(spark, sf, "customer"),
        id_col="c_custkey",
    ).select("c_custkey", "c_name", "c_mktsegment"),
    "SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'",
)

_register(
    "idx_label",
    lambda spark, sf: indexes.label_index(GraphStore(spark, sf).vertices())
    .groupBy("label").agg(F.count(F.lit(1)).alias("n_elements")),
    f"""
    WITH {graph_ctes()}
    SELECT label, CAST(count(*) AS BIGINT) AS n_elements FROM vertices GROUP BY label
    """,
)

_register(
    "idx_range_int",
    lambda spark, sf: indexes.range_query(
        indexes.range_index(load_table(spark, sf, "part"), "p_size", "p_partkey"),
        lo=5, hi=25, inclusive_lo=False, inclusive_hi=True,
    ),
    """
    SELECT p_size AS field_value, p_partkey AS element_id FROM part
    WHERE p_size > 5 AND p_size <= 25
    """,
)

_register(
    "idx_range_double",
    lambda spark, sf: indexes.range_query(
        indexes.range_index(load_table(spark, sf, "orders"), "o_totalprice", "o_orderkey"),
        lo=10000.0, hi=50000.0, inclusive_lo=True, inclusive_hi=False,
    ),
    """
    SELECT o_totalprice AS field_value, o_orderkey AS element_id FROM orders
    WHERE o_totalprice >= 10000.0 AND o_totalprice < 50000.0
    """,
)

# float + long close the reference's 4-family typed range set
# (TikvTables.java:282-316).  l_quantity is integral, so the float cast is
# exact on both sides (REAL round-trips identically).
_register(
    "idx_range_float",
    lambda spark, sf: indexes.range_query(
        indexes.range_index(
            load_table(spark, sf, "lineitem")
            .select(F.col("l_quantity").cast("float").alias("qty_f"),
                    (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("line_id")),
            "qty_f", "line_id",
        ),
        lo=float(46.0), hi=float(48.0), inclusive_lo=True, inclusive_hi=True,
    ),
    """
    SELECT CAST(l_quantity AS REAL) AS field_value,
           l_orderkey * 8 + l_linenumber AS element_id
    FROM lineitem
    WHERE CAST(l_quantity AS REAL) >= 46.0 AND CAST(l_quantity AS REAL) <= 48.0
    """,
)

_register(
    "idx_range_long",
    lambda spark, sf: indexes.range_query(
        indexes.range_index(load_table(spark, sf, "orders"), "o_custkey", "o_orderkey"),
        lo=100, hi=200, inclusive_lo=False, inclusive_hi=False,
    ),
    """
    SELECT o_custkey AS field_value, o_orderkey AS element_id FROM orders
    WHERE o_custkey > 100 AND o_custkey < 200
    """,
)

_register(
    "idx_search",
    lambda spark, sf: indexes.search_query(
        indexes.search_index(load_table(spark, sf, "documents"), "text", "doc_id"),
        "spark join",
    ),
    f"""
    WITH tok AS (
      SELECT DISTINCT doc_id AS element_id, unnest({TOKENS_SQL.format(col="text")}) AS token
      FROM documents
    )
    SELECT element_id, CAST(count(DISTINCT token) AS BIGINT) AS matched_tokens
    FROM tok WHERE token IN ('spark', 'join') GROUP BY element_id
    """,
)

def _idx_unique(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer").filter(F.col("c_custkey") < 5)
    dup = c.unionByName(c)
    return indexes.unique_check(dup, ["c_custkey"])

_register(
    "idx_unique",
    _idx_unique,
    """
    SELECT c_custkey, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT * FROM customer WHERE c_custkey < 5
          UNION ALL SELECT * FROM customer WHERE c_custkey < 5)
    GROUP BY c_custkey HAVING count(*) > 1
    """,
)

_register(
    "idx_shard",
    lambda spark, sf: indexes.shard_index(load_table(spark, sf, "part"), ["p_brand"], "p_size", "p_partkey")
    .filter((F.col("p_brand") == "Brand#3") & (F.col("range_value") >= 10) & (F.col("range_value") < 30)),
    """
    SELECT p_brand, p_size AS range_value, p_partkey AS element_id FROM part
    WHERE p_brand = 'Brand#3' AND p_size >= 10 AND p_size < 30
    """,
)

# -- graph analytics (north star phase 3) -----------------------------------

def _g_aggmsg(spark: SparkSession, sf: str) -> DataFrame:
    g = GraphStore(spark, sf)
    placed = g.edges().filter(F.col("label") == "placed")
    out = analytics.aggregate_messages(
        placed, g.vertices().select("id", "totalprice"),
        msg_to_src=F.col("dst_totalprice"),
    )
    return out.select("id", F.round("agg_msg", 2).alias("agg_msg"))

_register(
    "g_aggregate_messages",
    _g_aggmsg,
    f"""
    WITH {graph_ctes()}
    SELECT e.src AS id, round(SUM(v.totalprice), 2) AS agg_msg
    FROM edges e JOIN vertices v ON e.dst = v.id
    WHERE e.label = 'placed' GROUP BY e.src
    """,
)


def _pagerank_sql() -> str:
    iters = 10
    ctes = [
        "de AS MATERIALIZED (SELECT src, dst FROM edges WHERE label IN ('placed', 'contains'))",
        "verts AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id FROM de UNION ALL SELECT dst FROM de))",
        "od AS MATERIALIZED (SELECT src AS id, count(*) AS outd FROM de GROUP BY src)",
        "r0 AS MATERIALIZED (SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM verts)",
    ]
    for t in range(1, iters + 1):
        ctes.append(
            f"r{t} AS MATERIALIZED (SELECT v.id, 0.15 + 0.85 * COALESCE(s.c, 0) AS rank FROM verts v "
            f"LEFT JOIN (SELECT de.dst AS id, SUM(r.rank / od.outd) AS c "
            f"FROM de JOIN r{t-1} r ON de.src = r.id JOIN od ON de.src = od.id "
            f"GROUP BY de.dst) s ON v.id = s.id)"
        )
    return (
        f"WITH {graph_ctes()},\n" + ",\n".join(ctes)
        + f"\nSELECT id, round(rank, 6) AS rank FROM r{iters}"
    )

_register(
    "g_pagerank",
    lambda spark, sf: analytics.pagerank(
        GraphStore(spark, sf).edges().filter(F.col("label").isin(["placed", "contains"])),
        iterations=10,
        checkpoint_every=2,    # lineage growth dominates otherwise
        state_partitions=8,    # shuffle sized to the rank state, not the session
    ).select("id", F.round("rank", 6).alias("rank")),
    _pagerank_sql(),
)

# -- warm-start pagerank (the incremental-recompute contract): 5 cold
#    iterations produce R5; a SECOND run warm-starts from init_ranks=R5 and
#    executes 5 more — power iteration contracts toward the same fixpoint
#    from wherever it starts, so warm(5, init=cold5) == cold10 exactly.
#    The oracle IS the cold 10-iteration unroll — a hash match pins the
#    warm path to the cold answer, making the 100×-scale re-convergence
#    story (re-run with tol= after a delta instead of cold rounds)
#    oracle-checked rather than pytest-only.

def _g_pagerank_warm(spark: SparkSession, sf: str) -> DataFrame:
    e = GraphStore(spark, sf).edges().filter(
        F.col("label").isin(["placed", "contains"]))
    r5 = analytics.pagerank(e, iterations=5, checkpoint_every=2,
                            state_partitions=8)
    return analytics.pagerank(
        e, iterations=5, checkpoint_every=2, state_partitions=8,
        init_ranks=r5,
    ).select("id", F.round("rank", 6).alias("rank"))


_register("g_pagerank_warm", _g_pagerank_warm, _pagerank_sql())


def _pagerank_weighted_sql() -> str:
    iters = 10
    ctes = [
        "de AS MATERIALIZED (SELECT src, dst, COALESCE(quantity, 1.0) AS w "
        "FROM edges WHERE label IN ('placed', 'contains'))",
        "verts AS MATERIALIZED (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM de UNION ALL SELECT dst FROM de))",
        "od AS MATERIALIZED (SELECT src AS id, SUM(w) AS outw FROM de GROUP BY src)",
    ]
    for t in range(1, iters + 1):
        prev = "(SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM verts)" \
            if t == 1 else f"r{t-1}"
        ctes.append(
            f"r{t} AS MATERIALIZED (SELECT v.id, 0.15 + 0.85 * COALESCE(s.c, 0) AS rank "
            f"FROM verts v LEFT JOIN (SELECT de.dst AS id, "
            f"SUM(r.rank * de.w / od.outw) AS c "
            f"FROM de JOIN {prev} r ON de.src = r.id JOIN od ON de.src = od.id "
            f"GROUP BY de.dst) s ON v.id = s.id)"
        )
    return (
        f"WITH {graph_ctes()},\n" + ",\n".join(ctes)
        + f"\nSELECT id, round(rank, 6) AS rank FROM r{iters}"
    )


_register(
    "g_pagerank_weighted",
    # weighted PageRank (analytics.pagerank weight_col): contributions
    # rank*w/sum_out(w); quantity weights the `contains` edges, placed
    # edges default to 1.0 (NULL-as-1 contract)
    lambda spark, sf: analytics.pagerank(
        GraphStore(spark, sf).edges().filter(F.col("label").isin(["placed", "contains"])),
        iterations=10, checkpoint_every=2, state_partitions=8,
        weight_col="quantity",
    ).select("id", F.round("rank", 6).alias("rank")),
    _pagerank_weighted_sql(),
)


# -- Katz centrality (analytics.katz_centrality): beta + alpha·Σ in-neighbor
#    scores per iteration, NO degree normalization (the walk-counting
#    centrality, Katz 1953) — completes the spectral family next to
#    pagerank/HITS.  It runs pagerank's sum-product round
#    (analytics._sum_product) with base beta and damping alpha; same
#    unrolled-CTE oracle shape as pagerank. ---------------------------------

_KATZ_ITERS, _KATZ_ALPHA = 8, 0.05


def _katz_sql() -> str:
    ctes = [
        "ke AS MATERIALIZED (SELECT src, dst FROM edges "
        "WHERE label IN ('placed', 'contains'))",
        "kverts AS MATERIALIZED (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM ke UNION ALL SELECT dst FROM ke))",
    ]
    for t in range(1, _KATZ_ITERS + 1):
        prev = "(SELECT id, CAST(1.0 AS DOUBLE) AS katz FROM kverts)" \
            if t == 1 else f"k{t-1}"
        ctes.append(
            f"k{t} AS MATERIALIZED (SELECT v.id, "
            f"1.0 + {_KATZ_ALPHA} * COALESCE(s.c, 0) AS katz "
            f"FROM kverts v LEFT JOIN (SELECT ke.dst AS id, SUM(r.katz) AS c "
            f"FROM ke JOIN {prev} r ON ke.src = r.id "
            f"GROUP BY ke.dst) s ON v.id = s.id)"
        )
    return (
        f"WITH {graph_ctes()},\n" + ",\n".join(ctes)
        + f"\nSELECT id, round(katz, 6) AS katz FROM k{_KATZ_ITERS}"
    )


_register(
    "g_katz",
    lambda spark, sf: analytics.katz_centrality(
        GraphStore(spark, sf).edges().filter(
            F.col("label").isin(["placed", "contains"])),
        iterations=_KATZ_ITERS, alpha=_KATZ_ALPHA,
        checkpoint_every=2, state_partitions=8,
    ).select("id", F.round("katz", 6).alias("katz")),
    _katz_sql(),
)


# -- deterministic random walks (node2vec/DeepWalk input): neighbor choice
#    = min_by over the FULL md5 hex of (wid:step:neighbor) — the same
#    32-char string comparison in both engines, so whole walk corpora are
#    reproducible and exactly oracle-checkable --------------------------------

_WALK_SEEDS = (_vid("customer", 1), _vid("customer", 7), _vid("customer", 42))
_WALK_LEN, _WALKS_PER = 5, 2


def _g_walks(spark: SparkSession, sf: str) -> DataFrame:
    edges = GraphStore(spark, sf).edges()
    return analytics.random_walks(edges, list(_WALK_SEEDS), _WALK_LEN,
                                  walks_per_node=_WALKS_PER)


def _walks_sql() -> str:
    seeds = ", ".join(
        f"({i * _WALKS_PER + j}, {v})"
        for i, v in enumerate(_WALK_SEEDS) for j in range(_WALKS_PER))
    ctes = [f"w0 AS (SELECT wid, vertex FROM (VALUES {seeds}) AS s(wid, vertex))"]
    for t in range(1, _WALK_LEN + 1):
        ctes.append(
            f"w{t} AS (SELECT w.wid, "
            f"arg_min(e.dst, md5(CAST(w.wid AS VARCHAR) || ':{t}:' "
            f"|| CAST(e.dst AS VARCHAR) || ':')) AS vertex "
            f"FROM w{t-1} w JOIN edges e ON e.src = w.vertex GROUP BY w.wid)"
        )
    selects = "\nUNION ALL\n".join(
        f"SELECT CAST(wid AS INTEGER) AS wid, CAST({t} AS INTEGER) AS step, "
        f"CAST(vertex AS BIGINT) AS vertex FROM w{t}"
        for t in range(_WALK_LEN + 1))
    return f"WITH {graph_ctes()},\n" + ",\n".join(ctes) + "\n" + selects

_register("g_walks", _g_walks, _walks_sql())


# -- node2vec biased walks (analytics.node2vec_walks): the second-order
#    p/q-tunable generalization — candidate priority = H48 DIV the scaled
#    bias weight (integer quotient in BOTH engines; a double quotient can
#    round across the truncation boundary), ties on the neighbor id.
#    p=4, q=0.25 = exploration-biased (DFS-ish).  The walks run on the
#    symmetric edge view: the directed edges form a DAG, on which no
#    candidate is ever the return vertex or a neighbour of the previous
#    vertex, so the bias would never apply and the rows would equal
#    g_walks'.  On the symmetric view both cases occur, and the rows differ
#    from random_walks' on the same view and seeds. ------------------------

_N2V_P, _N2V_Q = 4.0, 0.25


def _g_n2v_walks(spark: SparkSession, sf: str) -> DataFrame:
    e = GraphStore(spark, sf).edges()
    sym = e.select("src", "dst").unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    return analytics.node2vec_walks(
        sym, list(_WALK_SEEDS), _WALK_LEN, p=_N2V_P, q=_N2V_Q,
        walks_per_node=_WALKS_PER)


def _n2v_sql() -> str:
    ret_w = round(1_000_000 / _N2V_P)
    far_w = round(1_000_000 / _N2V_Q)
    seeds = ", ".join(
        f"({i * _WALKS_PER + j}, {v})"
        for i, v in enumerate(_WALK_SEEDS) for j in range(_WALKS_PER))
    # `sym` is the symmetric edge view the walks run on; it is also the
    # undirected pair set of the distance-1 test (symmetric already)
    ctes = [
        "sym AS MATERIALIZED (SELECT src, dst FROM edges "
        "UNION SELECT dst, src FROM edges)",
        f"n0 AS (SELECT wid, vertex, CAST(NULL AS BIGINT) AS prev "
        f"FROM (VALUES {seeds}) AS s(wid, vertex))",
    ]
    for t in range(1, _WALK_LEN + 1):
        h48 = (f"CAST(CAST(('0x' || substr(md5(CAST(w.wid AS VARCHAR) "
               f"|| ':{t}:' || CAST(e.dst AS VARCHAR) || ':'), 1, 12)) "
               f"AS UBIGINT) AS BIGINT)")
        alpha = (f"CASE WHEN w.prev IS NULL THEN 1000000 "
                 f"WHEN e.dst = w.prev THEN {ret_w} "
                 f"WHEN u.src IS NOT NULL THEN 1000000 "
                 f"ELSE {far_w} END")
        # width 15: H48 max is 2^48-1 = 15 digits; a 12-wide lpad would
        # TRUNCATE quotients above 12 digits (divisor 1 when alpha rounds
        # small) and silently corrupt the priority order.
        prio = (f"lpad(CAST(({h48} // ({alpha})) AS VARCHAR), 15, '0') "
                f"|| ':' || lpad(CAST(e.dst AS VARCHAR), 12, '0')")
        ctes.append(
            f"n{t} AS (SELECT w.wid, arg_min(e.dst, {prio}) AS vertex, "
            f"MIN(w.vertex) AS prev "
            f"FROM n{t-1} w JOIN sym e ON e.src = w.vertex "
            f"LEFT JOIN sym u ON u.src = w.prev AND u.dst = e.dst "
            f"GROUP BY w.wid)")
    selects = "\nUNION ALL\n".join(
        f"SELECT CAST(wid AS INTEGER) AS wid, CAST({t} AS INTEGER) AS step, "
        f"CAST(vertex AS BIGINT) AS vertex FROM n{t}"
        for t in range(_WALK_LEN + 1))
    return f"WITH {graph_ctes()},\n" + ",\n".join(ctes) + "\n" + selects


_register("g_n2v_walks", _g_n2v_walks, _n2v_sql())


def _g_skipgram(spark: SparkSession, sf: str) -> DataFrame:
    return analytics.skipgram_pairs(_g_walks(spark, sf), window=2)


_register(
    "g_skipgram_pairs",
    # walks → word2vec training pairs: the node2vec data path end to end
    _g_skipgram,
    f"""
    WITH walks AS MATERIALIZED (
      SELECT * FROM (
      {_walks_sql()}
      ) q
    )
    SELECT l.vertex AS center, r.vertex AS context,
           CAST(r.step - l.step AS INTEGER) AS step_offset
    FROM walks l JOIN walks r ON l.wid = r.wid
    WHERE r.step <> l.step AND abs(r.step - l.step) <= 2
    """,
)

# -- personalized PageRank: reset mass lands only on a seed set, ranks
#    measure proximity to the seeds (same iteration plan, teleport vector
#    as one literal isin column) ------------------------------------------

_PPR_SEEDS = (_vid("customer", 1), _vid("customer", 42))


def _ppr_sql(iters: int = 6) -> str:
    seeds = ", ".join(str(s) for s in _PPR_SEEDS)
    tele = f"CASE WHEN {{col}} IN ({seeds}) THEN 1.0 ELSE 0.0 END"
    ctes = [
        "de AS MATERIALIZED (SELECT src, dst FROM edges WHERE label IN ('placed', 'contains'))",
        "verts AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id FROM de UNION ALL SELECT dst FROM de))",
        "od AS MATERIALIZED (SELECT src AS id, count(*) AS outd FROM de GROUP BY src)",
        f"p0 AS MATERIALIZED (SELECT id, CAST({tele.format(col='id')} AS DOUBLE) AS rank FROM verts)",
    ]
    for t in range(1, iters + 1):
        ctes.append(
            f"p{t} AS MATERIALIZED (SELECT v.id, "
            f"0.15 * {tele.format(col='v.id')} + 0.85 * COALESCE(s.c, 0) AS rank "
            f"FROM verts v LEFT JOIN (SELECT de.dst AS id, SUM(r.rank / od.outd) AS c "
            f"FROM de JOIN p{t-1} r ON de.src = r.id JOIN od ON de.src = od.id "
            f"GROUP BY de.dst) s ON v.id = s.id)"
        )
    return (
        f"WITH {graph_ctes()},\n" + ",\n".join(ctes)
        + f"\nSELECT id, round(rank, 6) AS rank FROM p{iters} WHERE rank > 0"
    )

_register(
    "g_ppr",
    lambda spark, sf: analytics.pagerank(
        GraphStore(spark, sf).edges().filter(F.col("label").isin(["placed", "contains"])),
        iterations=6,
        checkpoint_every=2,
        state_partitions=8,
        teleport_ids=_PPR_SEEDS,
    ).filter(F.col("rank") > 0).select("id", F.round("rank", 6).alias("rank")),
    _ppr_sql(),
)


def _cc_sql(rounds: int = 16) -> str:
    ctes = [
        "adj AS MATERIALIZED (SELECT src AS a, dst AS b FROM edges UNION SELECT dst, src FROM edges)",
        "l0 AS MATERIALIZED (SELECT DISTINCT a AS id, a AS component FROM (SELECT a FROM adj) t(a))",
    ]
    for t in range(1, rounds + 1):
        ctes.append(
            f"l{t} AS MATERIALIZED (SELECT l.id, least(l.component, COALESCE(m.mn, l.component)) AS component "
            f"FROM l{t-1} l LEFT JOIN (SELECT adj.a AS id, MIN(lt.component) AS mn "
            f"FROM adj JOIN l{t-1} lt ON adj.b = lt.id GROUP BY adj.a) m ON l.id = m.id)"
        )
    return f"WITH {graph_ctes()},\n" + ",\n".join(ctes) + f"\nSELECT id, component FROM l{rounds}"

_register(
    "g_connected_components",
    lambda spark, sf: analytics.connected_components(GraphStore(spark, sf).edges(), max_iterations=24),
    _cc_sql(),
)

_register(
    "g_cc_star",
    # the diameter-independent scale path: large-star/small-star
    # contraction must reproduce HashMin's min-id labels exactly, so it
    # shares the oracle
    lambda spark, sf: analytics.connected_components_star(
        GraphStore(spark, sf).edges()),
    _cc_sql(),
)


def _g_triangles(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    copurchase = (
        li.alias("x").join(li.alias("y"), F.col("x.l_orderkey") == F.col("y.l_orderkey"))
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(F.col("x.l_partkey").alias("src"), F.col("y.l_partkey").alias("dst"))
        .distinct()
        .withColumn("label", F.lit("copurchase"))
    )
    return analytics.triangle_count(copurchase)

_register(
    "g_triangle_count",
    _g_triangles,
    """
    WITH cop AS (
      SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
      FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
      WHERE x.l_partkey < y.l_partkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM cop e1 JOIN cop e2 ON e1.v = e2.u JOIN cop e3 ON e3.u = e1.u AND e3.v = e2.v
    """,
)


# -- 4-clique count (analytics.four_clique_count): triangle_count one level
#    up on the same degree-oriented enumeration; oracle = canonical 6-edge
#    join with b<c<d over the same co-purchase graph ------------------------

def _g_four_cliques(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    copurchase = (
        li.alias("x").join(li.alias("y"), F.col("x.l_orderkey") == F.col("y.l_orderkey"))
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(F.col("x.l_partkey").alias("src"), F.col("y.l_partkey").alias("dst"))
        .distinct()
        .withColumn("label", F.lit("copurchase"))
    )
    return analytics.four_clique_count(copurchase)

_register(
    "g_four_cliques",
    _g_four_cliques,
    """
    WITH cop AS MATERIALIZED (
      SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
      FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
      WHERE x.l_partkey < y.l_partkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_4cliques
    FROM cop e1                                      -- (a,b)
    JOIN cop e2 ON e2.u = e1.u AND e1.v < e2.v       -- (a,c), b < c
    JOIN cop e3 ON e3.u = e1.u AND e2.v < e3.v       -- (a,d), c < d
    JOIN cop e4 ON e4.u = e1.v AND e4.v = e2.v       -- (b,c)
    JOIN cop e5 ON e5.u = e1.v AND e5.v = e3.v       -- (b,d)
    JOIN cop e6 ON e6.u = e2.v AND e6.v = e3.v       -- (c,d)
    """,
)


# -- k-core decomposition (operators/analytics.py k_core): iterative
#    peeling over the support>=2 co-purchase graph.  The oracle unrolls the
#    peeling to a fixed round count (AS MATERIALIZED — DuckDB inlines plain
#    CTEs per reference, exponential otherwise); the fixpoint is unique and
#    peeling past it is a no-op, so the Spark side's early exit and the
#    oracle's fixed unroll agree as long as rounds >= peeling depth
#    (measured: 9 rounds at sf0.01; unrolled 14) ---------------------------

def _g_kcore(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    support2 = (
        li.alias("x").join(li.alias("y"), F.col("x.l_orderkey") == F.col("y.l_orderkey"))
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .groupBy(F.col("x.l_partkey").alias("src"), F.col("y.l_partkey").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("src", "dst")
    )
    return analytics.k_core(support2, k=3, max_iterations=30)


def _kcore_sql(k: int = 3, rounds: int = 14) -> str:
    ctes = [
        """sup AS MATERIALIZED (
      SELECT x.l_partkey AS u, y.l_partkey AS v
      FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
      WHERE x.l_partkey < y.l_partkey
      GROUP BY x.l_partkey, y.l_partkey HAVING count(*) >= 2
    )""",
        "a0 AS MATERIALIZED (SELECT u AS a, v AS b FROM sup "
        "UNION ALL SELECT v AS a, u AS b FROM sup)",
    ]
    for t in range(1, rounds + 1):
        ctes.append(
            f"k{t} AS MATERIALIZED (SELECT a FROM a{t-1} "
            f"GROUP BY a HAVING count(*) >= {k})")
        ctes.append(
            f"a{t} AS MATERIALIZED (SELECT a, b FROM a{t-1} "
            f"WHERE a IN (SELECT a FROM k{t}) AND b IN (SELECT a FROM k{t}))")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT a AS id, CAST(count(*) AS BIGINT) AS degree "
          f"FROM a{rounds} GROUP BY a"
    )


_register("g_kcore", _g_kcore, _kcore_sql())


def _g_structure(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    cop = (
        li.alias("x").join(li.alias("y"), F.col("x.l_orderkey") == F.col("y.l_orderkey"))
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(F.col("x.l_partkey").alias("src"), F.col("y.l_partkey").alias("dst"))
        .distinct()
    )
    return analytics.graph_structure_stats(cop)


_register(
    "g_structure",
    # global transitivity + degree assortativity: exact integer sums, one
    # final double division each — engine-identical rounded values
    _g_structure,
    """
    WITH cop AS MATERIALIZED (
      SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
      FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
      WHERE x.l_partkey < y.l_partkey
    ), degs AS MATERIALIZED (
      SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT u AS id FROM cop UNION ALL SELECT v FROM cop) GROUP BY id
    ), tri AS (
      SELECT CAST(count(*) AS BIGINT) AS n_triangles
      FROM cop e1 JOIN cop e2 ON e1.v = e2.u
           JOIN cop e3 ON e3.u = e1.u AND e3.v = e2.v
    ), wed AS (
      SELECT CAST(SUM(d * (d - 1)) AS BIGINT) AS two_wedges FROM degs
    ), dp AS (
      SELECT a.d AS du, b.d AS dv
      FROM cop JOIN degs a ON cop.u = a.id JOIN degs b ON cop.v = b.id
    ), st AS (
      SELECT CAST(count(*) * 2 AS BIGINT) AS n,
             CAST(SUM(du + dv) AS BIGINT) AS sx,
             CAST(SUM(du * du + dv * dv) AS BIGINT) AS sxx,
             CAST(SUM(2 * du * dv) AS BIGINT) AS sxy
      FROM dp
    )
    SELECT n_triangles,
           CAST(two_wedges / 2 AS BIGINT) AS n_wedges,
           round(CASE WHEN two_wedges > 0
                      THEN 6.0 * n_triangles / two_wedges ELSE 0.0 END, 6)
             AS transitivity,
           round(CASE WHEN CAST(n * sxx AS DOUBLE) - CAST(sx * sx AS DOUBLE)
                           <> 0
                      THEN (CAST(n * sxy AS DOUBLE)
                            - CAST(sx * sx AS DOUBLE))
                         / (CAST(n * sxx AS DOUBLE)
                            - CAST(sx * sx AS DOUBLE))
                      ELSE 0.0 END, 6) AS assortativity
    FROM tri, wed, st
    """,
)


def _g_core_numbers(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    support2 = (
        li.alias("x").join(li.alias("y"), F.col("x.l_orderkey") == F.col("y.l_orderkey"))
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .groupBy(F.col("x.l_partkey").alias("src"), F.col("y.l_partkey").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("src", "dst")
    )
    return analytics.core_numbers(support2)


def _core_numbers_sql(rounds: int = 16) -> str:
    """Unrolled h-index iteration (analytics.core_numbers).  Converged
    values are a fixpoint, so unrolling PAST convergence is a no-op —
    same contract as the kcore peel unroll; the H-index window is
    tie-insensitive (max of least(rn, value) over a desc sort does not
    depend on tie order), so row_number's tie arbitrariness is safe."""
    ctes = [
        """sup AS MATERIALIZED (
      SELECT x.l_partkey AS u, y.l_partkey AS v
      FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
      WHERE x.l_partkey < y.l_partkey
      GROUP BY x.l_partkey, y.l_partkey HAVING count(*) >= 2
    )""",
        "adjc AS MATERIALIZED (SELECT u AS a, v AS b FROM sup "
        "UNION ALL SELECT v AS a, u AS b FROM sup)",
        "h0 AS MATERIALIZED (SELECT a AS id, CAST(count(*) AS BIGINT) AS c "
        "FROM adjc GROUP BY a)",
    ]
    for t in range(1, rounds + 1):
        ctes.append(
            f"h{t} AS MATERIALIZED (SELECT a AS id, "
            f"CAST(max(least(rn, cb)) AS BIGINT) AS c FROM ("
            f"SELECT adjc.a, hc.c AS cb, row_number() OVER ("
            f"PARTITION BY adjc.a ORDER BY hc.c DESC) AS rn "
            f"FROM adjc JOIN h{t-1} hc ON adjc.b = hc.id) GROUP BY a)")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT id, c AS core FROM h{rounds}")


_register(
    "g_core_numbers",
    # full k-core decomposition by h-index iteration over the same
    # co-purchase graph g_kcore peels one rung of
    _g_core_numbers,
    _core_numbers_sql(),
)


# -- per-vertex clustering coefficient (operators/analytics.py
#    clustering_coefficient) over the co-purchase graph: same ordered-wedge
#    triangle enumeration as g_triangle_count, attributed to corners; the
#    2T/(d(d-1)) division has exact-integer inputs, so the double is
#    bit-identical across engines ------------------------------------------

def _g_clustering(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    cop = (
        li.alias("x").join(li.alias("y"), F.col("x.l_orderkey") == F.col("y.l_orderkey"))
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(F.col("x.l_partkey").alias("src"), F.col("y.l_partkey").alias("dst"))
        .distinct()
    )
    # canonical=True: the x < y filter + distinct above IS the canonical
    # undirected simple contract, so clustering_coefficient skips its own
    # edge-scale least/greatest + distinct re-canonicalization (r11)
    return analytics.clustering_coefficient(cop, canonical=True)


_register(
    "g_clustering",
    _g_clustering,
    """
    WITH cop AS MATERIALIZED (
      SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
      FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
      WHERE x.l_partkey < y.l_partkey
    ),
    tri AS MATERIALIZED (
      SELECT w.a, w.b, w.c
      FROM (SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM cop e1 JOIN cop e2 ON e1.v = e2.u
            WHERE e1.u < e2.v) w
      JOIN cop e3 ON e3.u = w.a AND e3.v = w.c
    ),
    pv AS (
      SELECT id, CAST(count(*) AS BIGINT) AS n_triangles
      FROM (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
      GROUP BY id
    ),
    deg AS (
      SELECT id, count(*) AS d
      FROM (SELECT u AS id FROM cop UNION ALL SELECT v AS id FROM cop)
      GROUP BY id
    )
    SELECT deg.id, COALESCE(pv.n_triangles, 0) AS n_triangles,
           CASE WHEN deg.d < 2 THEN 0.0
                ELSE (2.0 * COALESCE(pv.n_triangles, 0)) / (deg.d * (deg.d - 1.0))
           END AS coeff
    FROM deg LEFT JOIN pv ON deg.id = pv.id
    """,
)


# -- k-truss (operators/analytics.py k_truss): edge-level cohesion peeling
#    over the same support>=2 co-purchase graph as g_kcore.  The oracle
#    unrolls the peel to a fixed round count (measured fixpoint: 2-3 rounds
#    at sf0.01; unrolled 6) with the padding-is-a-no-op argument as k-core;
#    the final round's support IS the in-truss support because the edge set
#    has stopped changing by then ------------------------------------------

def _g_ktruss(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    support2 = (
        li.alias("x").join(li.alias("y"), F.col("x.l_orderkey") == F.col("y.l_orderkey"))
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .groupBy(F.col("x.l_partkey").alias("src"), F.col("y.l_partkey").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("src", "dst")
    )
    return analytics.k_truss(support2, k=3, max_iterations=20)


def _ktruss_sql(k: int = 3, rounds: int = 6) -> str:
    def tri(src: str, name: str) -> str:
        return (
            f"{name} AS MATERIALIZED ("
            f"SELECT w.a, w.b, w.c FROM "
            f"(SELECT e1.u AS a, e1.v AS b, e2.v AS c "
            f"FROM {src} e1 JOIN {src} e2 ON e1.v = e2.u "
            f"WHERE e1.u < e2.v) w "
            f"JOIN {src} e3 ON e3.u = w.a AND e3.v = w.c)")

    def sup(tname: str, name: str) -> str:
        return (
            f"{name} AS MATERIALIZED ("
            f"SELECT u, v, CAST(count(*) AS BIGINT) AS s FROM ("
            f"SELECT a AS u, b AS v FROM {tname} "
            f"UNION ALL SELECT b AS u, c AS v FROM {tname} "
            f"UNION ALL SELECT a AS u, c AS v FROM {tname}) GROUP BY u, v)")

    ctes = [
        """sup2 AS MATERIALIZED (
      SELECT x.l_partkey AS u, y.l_partkey AS v
      FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
      WHERE x.l_partkey < y.l_partkey
      GROUP BY x.l_partkey, y.l_partkey HAVING count(*) >= 2
    )""",
        "e0 AS MATERIALIZED (SELECT u, v FROM sup2)",
    ]
    for t in range(1, rounds + 1):
        ctes.append(tri(f"e{t-1}", f"t{t}"))
        ctes.append(sup(f"t{t}", f"s{t}"))
        ctes.append(
            f"e{t} AS MATERIALIZED (SELECT e.u, e.v FROM e{t-1} e "
            f"JOIN s{t} s ON e.u = s.u AND e.v = s.v WHERE s.s >= {k - 2})")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT e.u, e.v, s.s AS support FROM e{rounds} e "
          f"JOIN s{rounds} s ON e.u = s.u AND e.v = s.v"
    )


_register("g_ktruss", _g_ktruss, _ktruss_sql())


# -- minimum spanning forest (analytics.spanning_forest): Boruvka
#    contraction over the support>=2 co-purchase graph, weight =
#    1e6 - shared-order count, so the MINIMUM forest is the MAXIMUM-affinity
#    backbone.  Distinct edge priorities (weight, u, v) make the forest
#    unique, so the full edge set value-checks.  The oracle unrolls the
#    same rounds (measured: <=5 rounds / <=4 doubling steps across
#    sf0.001-0.1; unrolled 8x6 — extra rounds are no-ops past the fixpoint,
#    the k-core precedent). -------------------------------------------------

_MSF_SUP_SQL = """sup AS MATERIALIZED (
      SELECT x.l_partkey AS u, y.l_partkey AS v, count(*) AS cnt
      FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
      WHERE x.l_partkey < y.l_partkey
      GROUP BY x.l_partkey, y.l_partkey HAVING count(*) >= 2
    )"""


def _g_msf(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    sup = (
        li.alias("x").join(li.alias("y"), F.col("x.l_orderkey") == F.col("y.l_orderkey"))
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .groupBy(F.col("x.l_partkey").alias("src"), F.col("y.l_partkey").alias("dst"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("src", "dst", (F.lit(1000000.0) - F.col("cnt")).alias("weight"))
    )
    return (
        analytics.spanning_forest(sup)
        .select("u", "v",
                (F.lit(1000000) - F.col("weight").cast("long")).alias("affinity"))
    )


def _msf_sql(rounds: int = 8, jumps: int = 6) -> str:
    ctes = [
        _MSF_SUP_SQL,
        "canon AS MATERIALIZED (SELECT u, v, CAST(1000000 - cnt AS DOUBLE) AS weight, "
        "lpad(CAST(CAST(round((1000000 - cnt) * 100) AS BIGINT) AS VARCHAR), 18, '0') "
        "|| ':' || lpad(CAST(u AS VARCHAR), 12, '0') "
        "|| ':' || lpad(CAST(v AS VARCHAR), 12, '0') AS key FROM sup)",
        "comp0 AS MATERIALIZED (SELECT id, id AS c FROM "
        "(SELECT u AS id FROM canon UNION SELECT v FROM canon))",
        "f0 AS MATERIALIZED (SELECT u, v, weight FROM canon WHERE 1 = 0)",
    ]
    for t in range(1, rounds + 1):
        ctes.append(
            f"cr{t} AS MATERIALIZED (SELECT e.u, e.v, e.weight, e.key, "
            f"ca.c AS cu, cb.c AS cv FROM canon e "
            f"JOIN comp{t-1} ca ON e.u = ca.id JOIN comp{t-1} cb ON e.v = cb.id "
            f"WHERE ca.c <> cb.c)")
        ctes.append(
            f"mink{t} AS MATERIALIZED (SELECT c, MIN(key) AS key FROM ("
            f"SELECT cu AS c, key FROM cr{t} UNION ALL SELECT cv, key FROM cr{t}"
            f") GROUP BY c)")
        ctes.append(
            f"sel{t} AS MATERIALIZED (SELECT m.c, x.u, x.v, x.weight, x.cu, x.cv "
            f"FROM mink{t} m JOIN cr{t} x ON m.key = x.key)")
        ctes.append(
            f"f{t} AS MATERIALIZED (SELECT u, v, weight FROM f{t-1} "
            f"UNION ALL SELECT DISTINCT u, v, weight FROM sel{t})")
        ctes.append(
            f"ptr{t} AS MATERIALIZED (SELECT c, "
            f"CASE WHEN cu = c THEN cv ELSE cu END AS p FROM sel{t})")
        ctes.append(
            f"rt{t}_0 AS MATERIALIZED (SELECT a.c, "
            f"CASE WHEN b.p = a.c AND a.c < a.p THEN a.c ELSE a.p END AS p "
            f"FROM ptr{t} a LEFT JOIN ptr{t} b ON a.p = b.c)")
        for s in range(1, jumps + 1):
            ctes.append(
                f"rt{t}_{s} AS MATERIALIZED (SELECT x.c, COALESCE(y.p, x.p) AS p "
                f"FROM rt{t}_{s-1} x LEFT JOIN rt{t}_{s-1} y ON x.p = y.c)")
        ctes.append(
            f"comp{t} AS MATERIALIZED (SELECT cm.id, COALESCE(r.p, cm.c) AS c "
            f"FROM comp{t-1} cm LEFT JOIN rt{t}_{jumps} r ON cm.c = r.c)")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT u, v, CAST(1000000 - weight AS BIGINT) AS affinity FROM f{rounds}"
    )


_register("g_spanning_forest", _g_msf, _msf_sql())


# -- maximal independent set (analytics.maximal_independent_set): Luby
#    rounds with deterministic md5 priorities over the same support>=2
#    co-purchase graph; (id, selection round) value-checked.  Measured:
#    <=4 rounds across sf0.001-0.1; unrolled 7 (extra rounds no-op on the
#    empty active set). ------------------------------------------------------

def _g_mis(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    sup = (
        li.alias("x").join(li.alias("y"), F.col("x.l_orderkey") == F.col("y.l_orderkey"))
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .groupBy(F.col("x.l_partkey").alias("src"), F.col("y.l_partkey").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("src", "dst")
    )
    return analytics.maximal_independent_set(sup)


def _mis_sql(rounds: int = 7) -> str:
    prio = ("md5(CAST({col} AS VARCHAR)) || ':' || "
            "lpad(CAST({col} AS VARCHAR), 12, '0')")
    ctes = [
        _MSF_SUP_SQL,
        "adj AS MATERIALIZED (SELECT u AS a, v AS b FROM sup "
        "UNION ALL SELECT v, u FROM sup)",
        f"act0 AS MATERIALIZED (SELECT a AS id, {prio.format(col='a')} AS prio "
        f"FROM (SELECT DISTINCT a FROM adj))",
        "mis0 AS MATERIALIZED (SELECT CAST(NULL AS BIGINT) AS id, "
        "0 AS round WHERE 1 = 0)",
    ]
    for t in range(1, rounds + 1):
        ctes.append(
            f"mn{t} AS MATERIALIZED (SELECT n.a, MIN(p.prio) AS mn FROM adj n "
            f"JOIN act{t-1} x ON n.a = x.id JOIN act{t-1} p ON n.b = p.id "
            f"GROUP BY n.a)")
        ctes.append(
            f"sel{t} AS MATERIALIZED (SELECT v.id FROM act{t-1} v "
            f"LEFT JOIN mn{t} m ON v.id = m.a "
            f"WHERE m.mn IS NULL OR v.prio < m.mn)")
        ctes.append(
            f"mis{t} AS MATERIALIZED (SELECT id, round FROM mis{t-1} "
            f"UNION ALL SELECT id, {t} AS round FROM sel{t})")
        ctes.append(
            f"act{t} AS MATERIALIZED (SELECT x.id, x.prio FROM act{t-1} x "
            f"WHERE x.id NOT IN (SELECT id FROM sel{t}) "
            f"AND x.id NOT IN (SELECT n.b FROM adj n "
            f"JOIN sel{t} s ON n.a = s.id))")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT id, CAST(round AS INTEGER) AS round FROM mis{rounds}")


_register("g_mis", _g_mis, _mis_sql())


# -- Jones-Plassmann greedy coloring (analytics.greedy_coloring) over the
#    SPARSER support>=3 co-purchase graph (the support>=2 graph's longest
#    decreasing-priority path runs 44 rounds at sf0.001 — measured — which
#    would bloat the unrolled oracle; support>=3 needs <=11 across
#    sf0.001-0.1, unrolled 14).  (id, color) fully value-checked. ----------

def _g_coloring(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    sup3 = (
        li.alias("x").join(li.alias("y"), F.col("x.l_orderkey") == F.col("y.l_orderkey"))
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .groupBy(F.col("x.l_partkey").alias("src"), F.col("y.l_partkey").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 3)
        .select("src", "dst")
    )
    return analytics.greedy_coloring(sup3)


def _coloring_sql(rounds: int = 14) -> str:
    prio = ("md5(CAST({col} AS VARCHAR)) || ':' || "
            "lpad(CAST({col} AS VARCHAR), 12, '0')")
    ctes = [
        """sup AS MATERIALIZED (
      SELECT x.l_partkey AS u, y.l_partkey AS v
      FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
      WHERE x.l_partkey < y.l_partkey
      GROUP BY x.l_partkey, y.l_partkey HAVING count(*) >= 3
    )""",
        "adj AS MATERIALIZED (SELECT u AS a, v AS b FROM sup "
        "UNION ALL SELECT v, u FROM sup)",
        f"u0 AS MATERIALIZED (SELECT a AS id, {prio.format(col='a')} AS prio "
        f"FROM (SELECT DISTINCT a FROM adj))",
        "col0 AS MATERIALIZED (SELECT CAST(NULL AS BIGINT) AS id, "
        "0 AS color WHERE 1 = 0)",
    ]
    for t in range(1, rounds + 1):
        ctes.append(
            f"mn{t} AS MATERIALIZED (SELECT n.a, MIN(p.prio) AS mn FROM adj n "
            f"JOIN u{t-1} x ON n.a = x.id JOIN u{t-1} p ON n.b = p.id "
            f"GROUP BY n.a)")
        ctes.append(
            f"fr{t} AS MATERIALIZED (SELECT v.id FROM u{t-1} v "
            f"LEFT JOIN mn{t} m ON v.id = m.a "
            f"WHERE m.mn IS NULL OR v.prio < m.mn)")
        ctes.append(
            f"used{t} AS MATERIALIZED (SELECT DISTINCT f.id, c.color "
            f"FROM fr{t} f JOIN adj n ON n.a = f.id "
            f"JOIN col{t-1} c ON c.id = n.b)")
        ctes.append(
            f"pick{t} AS MATERIALIZED (SELECT id, MIN(color) AS color FROM ("
            f"SELECT f.id, 0 AS color FROM fr{t} f WHERE NOT EXISTS ("
            f"SELECT 1 FROM used{t} u WHERE u.id = f.id AND u.color = 0) "
            f"UNION ALL "
            f"SELECT u.id, u.color + 1 FROM used{t} u WHERE NOT EXISTS ("
            f"SELECT 1 FROM used{t} w WHERE w.id = u.id "
            f"AND w.color = u.color + 1)"
            f") GROUP BY id)")
        ctes.append(
            f"col{t} AS MATERIALIZED (SELECT id, color FROM col{t-1} "
            f"UNION ALL SELECT id, color FROM pick{t})")
        ctes.append(
            f"u{t} AS MATERIALIZED (SELECT x.id, x.prio FROM u{t-1} x "
            f"WHERE x.id NOT IN (SELECT id FROM fr{t}))")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT id, CAST(color AS INTEGER) AS color FROM col{rounds}")


_register("g_coloring", _g_coloring, _coloring_sql())

# -- extended aggregates (beyond reference's COUNT-only pushdown) -----------

# -- count-min sketch (functions/sketches.py): the transparent counter
#    table is plain exact sums, so the WHOLE sketch is oracle-checkable
#    (bucket = H48(d ':' value) % width, shared hash contract) --------------

def _cm_sketch(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.functions import sketches
    return sketches.count_min_sketch(
        load_table(spark, sf, "lineitem").select(F.col("l_suppkey").alias("v")),
        "v", width=512, depth=3)

_register(
    "cm_sketch",
    _cm_sketch,
    """
    WITH vals AS (SELECT CAST(l_suppkey AS VARCHAR) AS v FROM lineitem),
    probe AS (
      SELECT d,
             CAST(CAST(('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || v),
                                       1, 12)) AS UBIGINT) AS BIGINT) % 512 AS w
      FROM vals CROSS JOIN (VALUES (0), (1), (2)) AS ds(d)
    )
    SELECT CAST(d AS INTEGER) AS d, w, CAST(count(*) AS BIGINT) AS c
    FROM probe GROUP BY d, w
    """,
)

# -- heavy hitters (functions/sketches.py): Misra-Gries candidates + exact
#    verify — the output is EXACT by construction (the MG pass only bounds
#    which values reach verification, and the superset guarantee makes that
#    lossless), so a plain groupBy-HAVING oracle checks the full pipeline --

def _hh_tokens(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.functions import sketches
    from hugegraph_on_tikv_spark.functions.text import tokens as _tokens
    tok = load_table(spark, sf, "documents").select(
        F.explode(_tokens(F.col("text"))).alias("token"))
    return sketches.heavy_hitters(tok, "token", threshold_frac=0.01) \
        .select("value", F.col("n_occurrences").cast("long").alias("n_occurrences"))

_register(
    "hh_tokens",
    _hh_tokens,
    f"""
    WITH tok AS (
      SELECT unnest({TOKENS_SQL.format(col="text")}) AS value FROM documents
    ), tot AS (SELECT count(*) AS n FROM tok)
    SELECT value, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM tok GROUP BY value
    HAVING count(*) >= CAST(ceiling(0.01 * (SELECT n FROM tot)) AS BIGINT)
    """,
)

_register(
    "agg_extended",
    lambda spark, sf: load_table(spark, sf, "lineitem")
    .groupBy("l_returnflag")
    .agg(
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        _money(F.col("l_quantity")).alias("sum_qty"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
    ),
    """
    SELECT l_returnflag, MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
           SUM(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty,
           round(AVG(l_quantity), 4) AS avg_qty,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
    FROM lineitem GROUP BY l_returnflag
    """,
)

def _q5(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    revenue_c = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(100).cast("long") - F.round(F.col("l_discount") * 100).cast("long")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg((F.sum(revenue_c) / F.lit(10000.0)).alias("revenue"))
    )

_register(
    "q5_local_supplier_volume",
    _q5,
    """
    SELECT n_name,
           SUM(CAST(round(l_extendedprice * 100) AS BIGINT) *
               (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0 AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)

# -- text analysis ----------------------------------------------------------

_register(
    "text_metrics",
    lambda spark, sf: load_table(spark, sf, "documents").select(
        "doc_id",
        text.token_count(F.col("text")).alias("n_tokens"),
        text.lang_id(F.col("text")).alias("lang_pred"),
        text.fingerprint(F.col("text")).alias("fp"),
    ),
    f"""
    WITH t AS (
      SELECT doc_id, {TOKENS_SQL.format(col="text")} AS toks, text FROM documents
    ), scored AS (
      SELECT doc_id, toks, text,
        len(list_intersect(list_distinct(toks), ['der','die','und','das'])) AS s_de,
        len(list_intersect(list_distinct(toks), ['the','a','and','of'])) AS s_en,
        len(list_intersect(list_distinct(toks), ['el','la','los','de'])) AS s_es,
        len(list_intersect(list_distinct(toks), ['le','la','les','des'])) AS s_fr,
        len(list_intersect(list_distinct(toks), ['的','是','了','我'])) AS s_zh
      FROM t
    )
    SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens,
      CASE WHEN greatest(s_de,s_en,s_es,s_fr,s_zh) = 0 THEN 'und'
           WHEN s_de = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'de'
           WHEN s_en = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'en'
           WHEN s_es = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'es'
           WHEN s_fr = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'fr'
           ELSE 'zh' END AS lang_pred,
      {FINGERPRINT_SQL.format(col="text")} AS fp
    FROM scored
    """,
)

_register(
    "text_quality",
    lambda spark, sf: text.quality_metrics(load_table(spark, sf, "documents")),
    f"""
    WITH t AS (
      SELECT doc_id, text, {TOKENS_SQL.format(col="text")} AS toks FROM documents
    )
    SELECT doc_id,
      CAST(len(toks) AS INTEGER) AS n_tokens,
      round(list_sum(list_transform(toks, x -> length(x))) * 1.0
            / greatest(len(toks), 1), 4) AS mean_token_len,
      round((length(text) - length(regexp_replace(text, '[.,!?;:''"()\\[\\]{{}}-]', '', 'g')))
            * 1.0 / greatest(length(text), 1), 4) AS punct_ratio,
      round(len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','it'], x)))
            * 1.0 / greatest(len(toks), 1), 4) AS stopword_ratio
    FROM t
    """,
)

_register(
    "text_chunks",
    # overlapping token-window chunking (functions/text.py
    # chunk_documents): chunk boundaries and assembled chunk text are
    # value-checked — the oracle recomputes the identical slices with
    # DuckDB list algebra (chunk_tokens=24, overlap=8 → stride 16)
    lambda spark, sf: text.chunk_documents(
        load_table(spark, sf, "documents"), chunk_tokens=24, overlap=8),
    f"""
    WITH t AS (
      SELECT doc_id, {TOKENS_SQL.format(col="text")} AS toks FROM documents
    ), nz AS (
      SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
    ), st AS (
      SELECT doc_id, toks,
             unnest(range(0, (n - 1) // 16 * 16 + 1, 16)) AS s
      FROM nz
    ), ch AS (
      SELECT doc_id, CAST(s // 16 AS INTEGER) AS chunk_id,
             toks[s + 1: s + 24] AS c
      FROM st
    )
    SELECT doc_id, chunk_id, CAST(len(c) AS INTEGER) AS n_tokens,
           array_to_string(c, ' ') AS chunk_text
    FROM ch
    """,
)

_register(
    "text_repetition",
    # Gopher-style within-document repetition filters (functions/text.py
    # repetition_signals): distinct-token fraction, top-token share,
    # duplicate-bigram fraction — all single divisions of exact integer
    # counts, so the doubles agree bit-for-bit across engines
    lambda spark, sf: text.repetition_signals(load_table(spark, sf, "documents")),
    f"""
    WITH base AS (
      SELECT doc_id, {TOKENS_SQL.format(col="text")} AS t FROM documents
    ),
    tokpos AS (
      SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS ord
      FROM base
    ),
    bg AS (
      SELECT x.doc_id, count(DISTINCT x.tok || ' ' || y.tok) AS ndb
      FROM tokpos x JOIN tokpos y
        ON y.doc_id = x.doc_id AND y.ord = x.ord + 1
      GROUP BY x.doc_id
    ),
    topt AS (
      SELECT doc_id, max(c) AS topc FROM (
        SELECT doc_id, tok, count(*) AS c FROM tokpos GROUP BY doc_id, tok
      ) GROUP BY doc_id
    )
    SELECT b.doc_id,
      CAST(len(t) AS BIGINT) AS n_tokens,
      CASE WHEN len(t) = 0 THEN 0.0
           ELSE len(list_distinct(t)) / len(t) END AS frac_distinct,
      CASE WHEN len(t) = 0 THEN 0.0
           ELSE COALESCE(topt.topc, 0) / len(t) END AS top_token_frac,
      CASE WHEN len(t) < 2 THEN 0.0
           ELSE 1.0 - COALESCE(bg.ndb, 0) / (len(t) - 1) END AS dup_bigram_frac
    FROM base b
    LEFT JOIN bg ON b.doc_id = bg.doc_id
    LEFT JOIN topt ON b.doc_id = topt.doc_id
    """,
)

_register(
    "text_df_stats",
    # corpus document-frequency scoring (text.corpus_df_stats): the
    # engine-portable stand-in for float-log perplexity — integer df sums,
    # one final division
    lambda spark, sf: text.corpus_df_stats(load_table(spark, sf, "documents")),
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct({TOKENS_SQL.format(col="text")})) AS tok
      FROM documents
    ), freq AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS df FROM toks GROUP BY tok
    ), per_doc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct_tokens,
             CAST(SUM(df) AS BIGINT) AS sum_df
      FROM toks JOIN freq USING (tok) GROUP BY doc_id
    )
    SELECT doc_id, n_distinct_tokens, sum_df,
           sum_df / n_distinct_tokens AS mean_df
    FROM per_doc
    """,
)


_register(
    "text_oov",
    # OOV-rate vs the corpus' own top-V vocabulary (text.oov_stats): the
    # occurrence-weighted Gopher-family companion to text_df_stats.  The
    # vocabulary cut is deterministic (count DESC, token ASC); oov_rate is
    # ONE double division of two exact integers, so it hash-matches raw
    lambda spark, sf: text.oov_stats(load_table(spark, sf, "documents"),
                                     vocab_size=500),
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({TOKENS_SQL.format(col="text")}) AS token
      FROM documents
    ), cnts AS (
      SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY token
    ), vocab AS (
      SELECT token, cnt FROM cnts ORDER BY cnt DESC, token LIMIT 500
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS oov_rate,
           CAST(SUM(COALESCE(v.cnt, 0)) AS BIGINT) AS sum_vocab_cf
    FROM tok LEFT JOIN vocab v USING (token)
    GROUP BY doc_id
    """,
)


# -- bigram-LM quality scoring (functions/lm.py): the CCNet perplexity
#    filter — model trained on the English reference slice, every document
#    scored.  Driver-checked columns are the EXACT-integer aggregates
#    (n_scored + sum of floor-scaled add-1 probabilities); the float
#    log-likelihood/perplexity companions are pytest-pinned instead
#    (libm log is engine-divergent).  Oracle replays train → join → score
#    with the identical integer floor-division.

def _lm_docs(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.functions import lm
    docs = load_table(spark, sf, "documents")
    return (lm.lm_score(docs, docs.filter(F.col("lang") == "en"))
            .select("doc_id", "n_scored", "sum_p_scaled"))

_register(
    "text_lm_score",
    _lm_docs,
    f"""
    WITH rtl AS (
      SELECT doc_id, {TOKENS_SQL.format(col="text")} AS t
      FROM documents WHERE lang = 'en'
    ), rstream AS (
      SELECT doc_id, generate_subscripts(t,1) AS pos, unnest(t) AS tok FROM rtl
    ), rpairs AS (
      SELECT doc_id,
             COALESCE(lag(tok) OVER (PARTITION BY doc_id ORDER BY pos), '<s>') AS h,
             tok AS t
      FROM rstream
    ), c_ht AS (SELECT h, t, CAST(count(*) AS BIGINT) AS c_ht FROM rpairs GROUP BY h, t),
    c_h AS (SELECT h, CAST(count(*) AS BIGINT) AS c_h FROM rpairs GROUP BY h),
    vv AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS v FROM rpairs),
    tl AS (SELECT doc_id, {TOKENS_SQL.format(col="text")} AS t FROM documents),
    stream AS (
      SELECT doc_id, generate_subscripts(t,1) AS pos, unnest(t) AS tok FROM tl
    ), pairs AS (
      SELECT doc_id,
             COALESCE(lag(tok) OVER (PARTITION BY doc_id ORDER BY pos), '<s>') AS h,
             tok AS t
      FROM stream
    ), scored AS (
      SELECT p.doc_id,
             COALESCE(b.c_ht, 0) + 1 AS p_num,
             COALESCE(hh.c_h, 0) + (vv.v + 1) AS p_den
      FROM pairs p LEFT JOIN c_ht b USING (h, t)
      LEFT JOIN c_h hh USING (h) CROSS JOIN vv
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
           CAST(SUM((p_num * 1000000) // p_den) AS BIGINT) AS sum_p_scaled
    FROM scored GROUP BY doc_id
    """,
)


# -- Naive Bayes quality classifier (functions/nbayes.py): the GPT-3-style
#    SUPERVISED corpus-quality rung — trained on a deterministic labeled
#    slice (docs with doc_id % 3 <> 0; label = lang == 'en'), every
#    document scored.  Driver-checked columns are the exact-integer
#    aggregates (n_tokens, score_scaled = Σ floor of the scaled add-1
#    likelihood ratio, and the mean-ratio decision); the float log-odds is
#    pytest-pinned instead (libm log is engine-divergent).  Oracle replays
#    train → two-path-equivalent join → floor-division score identically.

def _nb_docs(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.functions import nbayes
    docs = load_table(spark, sf, "documents")
    labeled = (docs.filter(F.col("doc_id") % 3 != 0)
               .withColumn("label", (F.col("lang") == "en").cast("int")))
    return (nbayes.nb_score(docs, labeled)
            .select("doc_id", "n_tokens", "score_scaled",
                    F.col("pred_mean").cast("int").alias("pred_mean")))


_register(
    "text_nb_quality",
    _nb_docs,
    f"""
    WITH ls AS (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             unnest({TOKENS_SQL.format(col="text")}) AS t
      FROM documents WHERE doc_id % 3 <> 0
    ), stats AS (
      SELECT t, CAST(SUM(y) AS BIGINT) AS c_pos,
             CAST(SUM(1 - y) AS BIGINT) AS c_neg
      FROM ls GROUP BY t
    ), tot AS (
      SELECT CAST(SUM(y) AS BIGINT) AS n_pos,
             CAST(SUM(1 - y) AS BIGINT) AS n_neg,
             CAST(count(DISTINCT t) AS BIGINT) AS v
      FROM ls
    ), ds AS (
      SELECT doc_id, unnest({TOKENS_SQL.format(col="text")}) AS t
      FROM documents
    ), per AS (
      SELECT d.doc_id,
             CAST(COALESCE(s.c_pos, 0) + 1 AS HUGEINT)
               * (tot.n_neg + tot.v) * 1000000 AS rnum,
             CAST(COALESCE(s.c_neg, 0) + 1 AS HUGEINT)
               * (tot.n_pos + tot.v) AS rden
      FROM ds d LEFT JOIN stats s ON d.t = s.t CROSS JOIN tot
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(SUM(rnum // rden) AS BIGINT) AS score_scaled,
           CAST(CASE WHEN CAST(SUM(rnum // rden) AS BIGINT)
                     >= count(*) * 1000000 THEN 1 ELSE 0 END AS INTEGER)
             AS pred_mean
    FROM per GROUP BY doc_id
    """,
)


# -- privacy audits (functions/privacy.py): k-anonymity / l-diversity /
#    suppression over quasi-identifiers — exact integer group sizes and
#    distinct counts.  The l-diversity sensitive attribute is an exact
#    integer balance band ((cents + 1e8) DIV 2e5 — truncation == floor
#    once shifted non-negative, so Spark DIV and DuckDB // agree).

_PRIV_QUASI = ["c_nationkey", "c_mktsegment"]


def _bal_band():
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    return ((cents + F.lit(100_000_000)).cast("long") / F.lit(200_000)) \
        .cast("long")


def _priv_base(spark: SparkSession, sf: str) -> DataFrame:
    return load_table(spark, sf, "customer")


_BAL_BAND_SQL = ("(CAST(round(c_acctbal * 100) AS BIGINT) + 100000000) "
                 "// 200000")

_register(
    "privacy_kanon",
    lambda spark, sf: __import__(
        "hugegraph_on_tikv_spark.functions.privacy",
        fromlist=["k_anonymity_report"]).k_anonymity_report(
        _priv_base(spark, sf), _PRIV_QUASI, k=10),
    """
    SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows
    FROM customer GROUP BY c_nationkey, c_mktsegment
    HAVING count(*) < 10
    """,
)

_register(
    "privacy_level",
    lambda spark, sf: __import__(
        "hugegraph_on_tikv_spark.functions.privacy",
        fromlist=["anonymity_level"]).anonymity_level(
        _priv_base(spark, sf), _PRIV_QUASI),
    """
    WITH sizes AS (
      SELECT CAST(count(*) AS BIGINT) AS n
      FROM customer GROUP BY c_nationkey, c_mktsegment
    )
    SELECT CAST(MIN(n) AS BIGINT) AS k_level,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN n = (SELECT MIN(n) FROM sizes)
                         THEN n ELSE 0 END) AS BIGINT) AS n_rows_at_risk
    FROM sizes
    """,
)

_register(
    "privacy_ldiv",
    lambda spark, sf: __import__(
        "hugegraph_on_tikv_spark.functions.privacy",
        fromlist=["l_diversity_report"]).l_diversity_report(
        _priv_base(spark, sf).withColumn("bal_band", _bal_band()),
        _PRIV_QUASI, "bal_band", l=8),
    f"""
    SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT {_BAL_BAND_SQL}) AS BIGINT)
             AS n_distinct_sensitive
    FROM customer GROUP BY c_nationkey, c_mktsegment
    HAVING count(DISTINCT {_BAL_BAND_SQL}) < 8
    """,
)

_register(
    "privacy_suppress",
    lambda spark, sf: __import__(
        "hugegraph_on_tikv_spark.functions.privacy",
        fromlist=["suppress_to_k"]).suppress_to_k(
        _priv_base(spark, sf), _PRIV_QUASI, k=10).select("c_custkey"),
    """
    SELECT c.c_custkey FROM customer c
    LEFT JOIN (SELECT c_nationkey, c_mktsegment FROM customer
               GROUP BY c_nationkey, c_mktsegment
               HAVING count(*) < 10) b
      ON c.c_nationkey = b.c_nationkey AND c.c_mktsegment = b.c_mktsegment
    WHERE b.c_nationkey IS NULL
    """,
)


_register(
    "privacy_tclose",
    # t-closeness of the segment mix per nation: exact-rational TVD
    # between each nation's mktsegment distribution and the global one
    # (decimal(38,0) cross-multiplied numerators, one final division;
    # the exact pair rides a string past double precision)
    lambda spark, sf: __import__(
        "hugegraph_on_tikv_spark.functions.privacy",
        fromlist=["t_closeness_report"]).t_closeness_report(
        _priv_base(spark, sf)
        .select(F.col("c_nationkey").cast("long").alias("g"),
                F.col("c_mktsegment").alias("s")), ["g"], "s"),
    """
    WITH base AS (SELECT CAST(c_nationkey AS BIGINT) AS g, c_mktsegment AS s
                  FROM customer WHERE c_mktsegment IS NOT NULL),
    gdist AS (SELECT s, count(*) AS n_s FROM base GROUP BY s),
    tot AS (SELECT count(*) AS n FROM base),
    grp AS (SELECT g, count(*) AS n_g FROM base GROUP BY g),
    cells AS (SELECT g, s, count(*) AS n_gs FROM base GROUP BY g, s),
    grid AS (SELECT grp.g, grp.n_g, gdist.s, gdist.n_s, tot.n,
                    COALESCE(c.n_gs, 0) AS n_gs
             FROM grp CROSS JOIN gdist CROSS JOIN tot
             LEFT JOIN cells c ON c.g = grp.g AND c.s = gdist.s)
    SELECT g, CAST(MIN(n_g) AS BIGINT) AS n_rows,
           CAST(SUM(abs(CAST(n_gs AS HUGEINT) * n - CAST(n_s AS HUGEINT) * n_g))
                AS VARCHAR) AS tvd_num,
           CAST(2 * CAST(MIN(n_g) AS HUGEINT) * MIN(n) AS VARCHAR) AS tvd_den,
           CAST(SUM(abs(CAST(n_gs AS HUGEINT) * n - CAST(n_s AS HUGEINT) * n_g))
                AS DOUBLE)
             / CAST(2 * CAST(MIN(n_g) AS HUGEINT) * MIN(n) AS DOUBLE) AS tvd
    FROM grid GROUP BY g
    """,
)


# -- PMI collocation extraction (text.collocations): adjacent-pair lift
#    ranking with the log dropped (monotone) — the order key is the exact
#    integer (c_xy*N*1e6) DIV (c_x*c_y); ties break on counts then the
#    pair, so rank boundaries are engine-exact.

_register(
    "text_collocations",
    lambda spark, sf: text.collocations(
        load_table(spark, sf, "documents"), min_count=5, k=15),
    f"""
    WITH tl AS (SELECT doc_id, {TOKENS_SQL.format(col="text")} AS t FROM documents),
    stream AS (
      SELECT doc_id, generate_subscripts(t,1) AS pos, unnest(t) AS tok FROM tl
    ), uni AS MATERIALIZED (
      SELECT tok, CAST(count(*) AS BIGINT) AS c FROM stream GROUP BY tok
    ), nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM stream),
    pairs AS (
      SELECT doc_id, tok AS w1,
             lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      FROM stream
    ), big AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
      FROM pairs WHERE w2 IS NOT NULL GROUP BY w1, w2
      HAVING count(*) >= 5
    ), scored AS (
      SELECT b.w1, b.w2, b.c_xy, ux.c AS c_x, uy.c AS c_y,
             CAST((b.c_xy * nt.n * 1000000) // (ux.c * uy.c) AS BIGINT)
               AS lift_scaled,
             CAST(b.c_xy * nt.n AS DOUBLE) / (ux.c * uy.c) AS lift
      FROM big b JOIN uni ux ON b.w1 = ux.tok
      JOIN uni uy ON b.w2 = uy.tok CROSS JOIN nt
    ), ranked AS (
      SELECT *, row_number() OVER (ORDER BY lift_scaled DESC, c_xy DESC,
                                   w1 ASC, w2 ASC) AS rank
      FROM scored
    )
    SELECT CAST(rank AS INTEGER) AS rank, w1, w2, c_xy, c_x, c_y,
           lift_scaled, lift
    FROM ranked WHERE rank <= 15
    """,
)


# -- BPE merge learning (functions/bpe.py): tokenizer training on the
#    word-frequency table; 6 merges, each = freq-weighted pair count
#    + deterministic argmax + marker-string replace.  The oracle unrolls
#    all 6 rounds (pair counts via positional twin unnest, argmax via
#    ORDER BY/LIMIT 1, apply via the same prefix-marker replace) and
#    value-checks every learned merge AND the final symbol inventory.

_BPE_ROUNDS = 6


def _text_bpe_learn(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.functions.bpe import bpe_learn, bpe_vocab
    merges, words = bpe_learn(load_table(spark, sf, "documents"),
                              n_merges=_BPE_ROUNDS)
    m_df = spark.createDataFrame(
        merges, "round int, left string, right string, freq long").select(
        "round", F.concat(F.col("left"), F.lit("+"), F.col("right"))
        .alias("sym"), "freq")
    v_df = bpe_vocab(words).select(
        F.lit(99).alias("round"), F.col("symbol").alias("sym"), "freq")
    return m_df.unionByName(v_df)


def _bpe_ctes(rounds: int, source: str = "documents") -> tuple[list[str], list[str]]:
    """The unrolled BPE-learning CTE chain (w0..w{rounds}) shared by the
    learn, encode, and fallback oracles.  `source`: the training relation
    (any parenthesizable SELECT with doc_id/text)."""
    toks = TOKENS_SQL.format(col="text")
    ctes = [f"""w0 AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS freq,
             regexp_replace(word, '(.)', '_\\1', 'g') AS syms
      FROM (SELECT unnest({toks}) AS word FROM {source}) GROUP BY word
    )"""]
    merge_rows = []
    for r in range(1, rounds + 1):
        prev = f"w{r - 1}"
        ctes.append(f"""pc{r} AS (
      SELECT l, r, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
        SELECT freq,
               unnest(arr[1:len(arr) - 1]) AS l,
               unnest(arr[2:len(arr)]) AS r
        FROM (SELECT freq, string_split(syms, '_')[2:] AS arr FROM {prev})
      ) GROUP BY l, r
    )""")
        ctes.append(f"""m{r} AS MATERIALIZED (
      SELECT l, r, cnt FROM pc{r} ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
    )""")
        ctes.append(f"""w{r} AS MATERIALIZED (
      SELECT word, freq,
             replace(syms, '_' || l || '_' || r, '_' || l || r) AS syms
      FROM {prev} CROSS JOIN m{r}
    )""")
        merge_rows.append(
            f"SELECT {r} AS round, l || '+' || r AS sym, cnt AS freq FROM m{r}")
    return ctes, merge_rows


def _bpe_oracle(rounds: int = _BPE_ROUNDS) -> str:
    ctes, merge_rows = _bpe_ctes(rounds)
    merges_sql = "\nUNION ALL\n".join(merge_rows)
    return f"""
    WITH {', '.join(ctes)}
    SELECT * FROM ({merges_sql})
    UNION ALL
    SELECT 99 AS round, symbol AS sym, CAST(SUM(freq) AS BIGINT) AS freq
    FROM (SELECT freq, unnest(string_split(syms, '_')[2:]) AS symbol
          FROM w{rounds})
    GROUP BY symbol
    """


_register("text_bpe_learn", _text_bpe_learn, _bpe_oracle())


# -- BPE corpus ENCODE + training-sequence PACK (functions/bpe.py
#    bpe_encode, functions/packing.py pack_token_ids): the tokenizer's
#    production steps — every document to its token-id sequence under the
#    learned merges (ids dense by vocab frequency DESC, symbol ASC), then
#    the ids materialized into fixed-length GPT-style training sequences
#    (shard-local concatenation in doc_id order, docs run across sequence
#    boundaries).  Per-doc id sequences for a 1/20 slice and every
#    shard-0 training sequence are value-checked via md5-in-tag (the
#    despan precedent); sentinel rows carry corpus totals (emitted ids,
#    vocab size, distinct ids; packed totals, sequence count, full
#    sequences).  The oracle re-learns the merges with the SAME unrolled
#    CTE chain as text_bpe_learn, then replays id assignment, the stream
#    join, and the per-shard cumulative-sum placement.

_PACK_SEQ_LEN = 64
_PACK_SHARDS = 8


def _text_bpe_encode(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.functions.bpe import bpe_encode, bpe_learn
    from hugegraph_on_tikv_spark.functions.packing import pack_token_ids
    docs = load_table(spark, sf, "documents")
    merges, words = bpe_learn(docs, n_merges=_BPE_ROUNDS)
    # words covers every stream word by construction (trained on the same
    # corpus) — char_fallback=False keeps the residue branch out of the plan
    enc = bpe_encode(docs, merges, words=words, char_fallback=False).persist()
    per = (
        enc.filter(F.col("doc_id") % 20 == 0)
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("wpos", "spos", "token_id")).alias("seq"),
             F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            F.concat(F.lit("bpeenc_"), F.md5(F.expr(
                "array_join(transform(array_sort(seq), "
                "x -> CAST(x.token_id AS STRING)), ' ')"))).alias("tag"),
            "doc_id",
            F.col("n").cast("double").alias("n_ids"),
            F.lit(None).cast("double").alias("v1"),
            F.lit(None).cast("double").alias("v2"),
        ))
    tot = (
        enc.agg(F.count(F.lit(1)).cast("double").alias("n_ids"),
                (F.max("token_id") + 1).cast("double").alias("v1"),
                F.count_distinct("token_id").cast("double").alias("v2"))
        .select(F.lit("bpeenc_totals").alias("tag"),
                F.lit(-1).cast("long").alias("doc_id"), "n_ids", "v1", "v2"))
    packed = pack_token_ids(enc, seq_len=_PACK_SEQ_LEN,
                            shards=_PACK_SHARDS).persist()
    pseq = (
        packed.filter(F.col("shard") == 0)
        .groupBy("seq")
        .agg(F.collect_list(F.struct("slot", "token_id")).alias("sl"),
             F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            F.concat(F.lit("pack_"), F.md5(F.expr(
                "array_join(transform(array_sort(sl), "
                "x -> CAST(x.token_id AS STRING)), ' ')"))).alias("tag"),
            F.col("seq").alias("doc_id"),
            F.col("n").cast("double").alias("n_ids"),
            F.lit(None).cast("double").alias("v1"),
            F.lit(None).cast("double").alias("v2"),
        ))
    ptot = (
        packed.agg(
            F.count(F.lit(1)).cast("double").alias("n_ids"),
            F.count_distinct(
                F.col("shard") * 1_000_000 + F.col("seq"))
            .cast("double").alias("v1"),
            F.sum((F.col("slot") == _PACK_SEQ_LEN - 1).cast("long"))
            .cast("double").alias("v2"))
        .select(F.lit("pack_totals").alias("tag"),
                F.lit(-1).cast("long").alias("doc_id"), "n_ids", "v1", "v2"))
    return per.unionByName(tot).unionByName(pseq).unionByName(ptot)


def _bpe_encode_oracle(rounds: int = _BPE_ROUNDS) -> str:
    ctes, _ = _bpe_ctes(rounds)
    toks = TOKENS_SQL.format(col="text")
    last = f"w{rounds}"
    ctes.append(f"""vocab AS MATERIALIZED (
      SELECT symbol, CAST(SUM(freq) AS BIGINT) AS freq
      FROM (SELECT freq, unnest(string_split(syms, '_')[2:]) AS symbol
            FROM {last})
      GROUP BY symbol
    )""")
    ctes.append("""vid AS MATERIALIZED (
      SELECT symbol,
             CAST(row_number() OVER (ORDER BY freq DESC, symbol ASC) - 1
                  AS BIGINT) AS tid
      FROM vocab
    )""")
    ctes.append(f"""wsym AS MATERIALIZED (
      SELECT word, CAST(generate_subscripts(arr, 1) - 1 AS BIGINT) AS spos,
             unnest(arr) AS symbol
      FROM (SELECT word, string_split(syms, '_')[2:] AS arr FROM {last})
    )""")
    ctes.append("""wseq AS MATERIALIZED (
      SELECT ws.word, ws.spos, v.tid FROM wsym ws JOIN vid v USING (symbol)
    )""")
    ctes.append(f"""stream AS (
      SELECT doc_id, CAST(generate_subscripts(arr, 1) - 1 AS BIGINT) AS wpos,
             unnest(arr) AS word
      FROM (SELECT doc_id, {toks} AS arr FROM documents)
    )""")
    ctes.append("""idstream AS MATERIALIZED (
      SELECT s.doc_id, s.wpos, q.spos, q.tid
      FROM stream s JOIN wseq q USING (word)
    )""")
    h48 = H48_SQL.format(x="doc_id")
    L, S = _PACK_SEQ_LEN, _PACK_SHARDS
    ctes.append(f"""placed AS MATERIALIZED (
      SELECT doc_id, shard,
             CAST(SUM(n) OVER (PARTITION BY shard ORDER BY doc_id) - n
                  AS BIGINT) AS strt
      FROM (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
                   {h48} % {S} AS shard
            FROM idstream GROUP BY doc_id)
    )""")
    ctes.append("""gidx AS MATERIALIZED (
      SELECT i.doc_id, p.shard,
             p.strt + row_number() OVER (PARTITION BY i.doc_id
                                         ORDER BY i.wpos, i.spos) - 1 AS g,
             i.tid
      FROM idstream i JOIN placed p USING (doc_id)
    )""")
    ctes.append(f"""packed AS MATERIALIZED (
      SELECT doc_id, shard, g // {L} AS seq, g % {L} AS slot, tid FROM gidx
    )""")
    return f"""
    WITH {', '.join(ctes)}
    SELECT 'bpeenc_' || md5(string_agg(CAST(tid AS VARCHAR), ' '
                                       ORDER BY wpos, spos)) AS tag,
           doc_id, CAST(count(*) AS DOUBLE) AS n_ids,
           CAST(NULL AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2
    FROM idstream WHERE doc_id % 20 = 0 GROUP BY doc_id
    UNION ALL
    SELECT 'bpeenc_totals' AS tag, CAST(-1 AS BIGINT) AS doc_id,
           CAST(count(*) AS DOUBLE) AS n_ids,
           CAST(MAX(tid) + 1 AS DOUBLE) AS v1,
           CAST(count(DISTINCT tid) AS DOUBLE) AS v2
    FROM idstream
    UNION ALL
    SELECT 'pack_' || md5(string_agg(CAST(tid AS VARCHAR), ' '
                                     ORDER BY slot)) AS tag,
           seq AS doc_id, CAST(count(*) AS DOUBLE) AS n_ids,
           CAST(NULL AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2
    FROM packed WHERE shard = 0 GROUP BY seq
    UNION ALL
    SELECT 'pack_totals' AS tag, CAST(-1 AS BIGINT) AS doc_id,
           CAST(count(*) AS DOUBLE) AS n_ids,
           CAST(count(DISTINCT shard * 1000000 + seq) AS DOUBLE) AS v1,
           CAST(SUM(CASE WHEN slot = {L} - 1 THEN 1 ELSE 0 END)
                AS DOUBLE) AS v2
    FROM packed
    """


_register("text_bpe_encode", _text_bpe_encode, _bpe_encode_oracle())


# -- BPE foreign-vocab encode with char fallback (functions/bpe.py
#    bpe_encode char_fallback): merges trained on the EVEN-doc_id half of
#    the corpus, then the FULL corpus encoded — odd docs carry words the
#    trained vocab never saw, which take the fallback path (trained merges
#    applied to the residue word, known symbols → trained ids, unknown
#    symbols → closed-alphabet char ids vocab_size + idx).  Certificates:
#    per-doc id-sequence md5 for doc_id % 20 == 5 (odd slice — guaranteed
#    foreign exposure), a totals row proving 100% coverage (covered word
#    positions == stream token count), and a fallback-stats row (ids ≥ V,
#    V, distinct fallback ids).  The oracle replays the trained chain from
#    the half-corpus source and the full residue decomposition.

def _text_bpe_fallback(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.functions.bpe import (
        bpe_decode, bpe_encode, bpe_learn, token_ids)
    from hugegraph_on_tikv_spark.functions.text import tokens as _toks
    docs = load_table(spark, sf, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    merges, twords = bpe_learn(train, n_merges=_BPE_ROUNDS)
    ids_df = token_ids(twords)  # twords is already merge-applied
    vocab_size = ids_df.count()
    enc = bpe_encode(docs, merges, words=twords).persist()
    per = (
        enc.filter(F.col("doc_id") % 20 == 5)
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("wpos", "spos", "token_id")).alias("seq"),
             F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            F.concat(F.lit("bpef_"), F.md5(F.expr(
                "array_join(transform(array_sort(seq), "
                "x -> CAST(x.token_id AS STRING)), ' ')"))).alias("tag"),
            "doc_id",
            F.col("n").cast("double").alias("n_ids"),
            F.lit(None).cast("double").alias("v1"),
            F.lit(None).cast("double").alias("v2"),
        ))
    # r11 (guide §2.3): v2 (the stream token count) used to be a separate
    # eager corpus tokenize+count pass; with char fallback ON every stream
    # token emits ≥1 enc row, so count_distinct(doc,wpos) over enc — the
    # v1 aggregate this row already computes — IS the stream count.  The
    # coverage certificate stays sound because the ORACLE still computes
    # v2 independently from the raw stream (a coverage break would fail
    # the row's value comparison).
    tot = (
        enc.agg(F.count(F.lit(1)).cast("double").alias("n_ids"),
                F.count_distinct(
                    F.col("doc_id") * 1_000_000 + F.col("wpos"))
                .cast("double").alias("v1"))
        .select(F.lit("bpef_totals").alias("tag"),
                F.lit(-1).cast("long").alias("doc_id"), "n_ids", "v1",
                F.col("v1").alias("v2")))
    fb = (
        enc.filter(F.col("token_id") >= vocab_size)
        .agg(F.count(F.lit(1)).cast("double").alias("n_ids"),
             F.count_distinct("token_id").cast("double").alias("v1"))
        .select(F.lit("bpef_fb").alias("tag"),
                F.lit(-1).cast("long").alias("doc_id"), "n_ids", "v1",
                F.lit(float(vocab_size)).alias("v2")))
    # decode round-trip certificate: decode(encode(docs)) must reproduce
    # every normalized stream token exactly (fallback ids included)
    dec = bpe_decode(enc, ids_df, vocab_size)
    stream = docs.select(
        F.col("doc_id"),
        F.posexplode(_toks(F.col("text"))).alias("wpos", "orig"))
    rt = (
        dec.join(stream, ["doc_id", "wpos"])
        .agg(F.sum((F.col("word") != F.col("orig")).cast("long"))
             .cast("double").alias("n_ids"),
             F.count(F.lit(1)).cast("double").alias("v1"))
        .select(F.lit("bpef_roundtrip").alias("tag"),
                F.lit(-1).cast("long").alias("doc_id"), "n_ids", "v1",
                F.lit(None).cast("double").alias("v2")))
    return per.unionByName(tot).unionByName(fb).unionByName(rt)


def _bpe_fallback_oracle(rounds: int = _BPE_ROUNDS) -> str:
    src = "(SELECT * FROM documents WHERE doc_id % 2 = 0)"
    ctes, _ = _bpe_ctes(rounds, source=src)
    toks = TOKENS_SQL.format(col="text")
    last = f"w{rounds}"
    ctes.append(f"""vocab AS MATERIALIZED (
      SELECT symbol, CAST(SUM(freq) AS BIGINT) AS freq
      FROM (SELECT freq, unnest(string_split(syms, '_')[2:]) AS symbol
            FROM {last})
      GROUP BY symbol
    )""")
    ctes.append("""vid AS MATERIALIZED (
      SELECT symbol,
             CAST(row_number() OVER (ORDER BY freq DESC, symbol ASC) - 1
                  AS BIGINT) AS tid
      FROM vocab
    )""")
    ctes.append("""vsz AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS v FROM vid
    )""")
    ctes.append(f"""wsym AS MATERIALIZED (
      SELECT word, CAST(generate_subscripts(arr, 1) - 1 AS BIGINT) AS spos,
             unnest(arr) AS symbol
      FROM (SELECT word, string_split(syms, '_')[2:] AS arr FROM {last})
    )""")
    ctes.append("""wseq AS MATERIALIZED (
      SELECT ws.word, ws.spos, v.tid FROM wsym ws JOIN vid v USING (symbol)
    )""")
    ctes.append(f"""stream AS MATERIALIZED (
      SELECT doc_id, CAST(generate_subscripts(arr, 1) - 1 AS BIGINT) AS wpos,
             unnest(arr) AS word
      FROM (SELECT doc_id, {toks} AS arr FROM documents)
    )""")
    # residue words: not in the trained word table; char-split then the
    # SAME trained merge replaces (the m{r} CTEs are 1-row each)
    ctes.append("""rw0 AS MATERIALIZED (
      SELECT word, regexp_replace(word, '(.)', '_\\1', 'g') AS syms
      FROM (SELECT DISTINCT word FROM stream
            WHERE word NOT IN (SELECT word FROM w0))
    )""")
    for r in range(1, rounds + 1):
        ctes.append(f"""rw{r} AS MATERIALIZED (
      SELECT word,
             replace(syms, '_' || l || '_' || r, '_' || l || r) AS syms
      FROM rw{r - 1} CROSS JOIN m{r}
    )""")
    ctes.append(f"""rsym AS MATERIALIZED (
      SELECT word, CAST(generate_subscripts(arr, 1) - 1 AS BIGINT) AS spos,
             unnest(arr) AS symbol
      FROM (SELECT word, string_split(syms, '_')[2:] AS arr FROM rw{rounds})
    )""")
    ctes.append("""rknown AS (
      SELECT r.word, r.spos, CAST(0 AS BIGINT) AS cpos, v.tid
      FROM rsym r JOIN vid v USING (symbol)
    )""")
    ctes.append("""runk AS (
      SELECT word, spos, cpos,
             vsz.v + CASE WHEN ch BETWEEN 'a' AND 'z'
                          THEN ascii(ch) - 97
                          ELSE ascii(ch) - 48 + 26 END AS tid
      FROM (SELECT word, spos,
                   CAST(generate_subscripts(chars, 1) - 1 AS BIGINT) AS cpos,
                   unnest(chars) AS ch
            FROM (SELECT word, spos,
                         string_split(regexp_replace(symbol, '(.)',
                                                     '_\\1', 'g'),
                                      '_')[2:] AS chars
                  FROM rsym
                  WHERE symbol NOT IN (SELECT symbol FROM vid)))
      CROSS JOIN vsz
    )""")
    ctes.append("""rseq AS MATERIALIZED (
      SELECT word,
             CAST(row_number() OVER (PARTITION BY word ORDER BY spos, cpos)
                  - 1 AS BIGINT) AS spos, tid
      FROM (SELECT * FROM rknown UNION ALL SELECT * FROM runk)
    )""")
    ctes.append("""idstream AS MATERIALIZED (
      SELECT s.doc_id, s.wpos, q.spos, q.tid
      FROM stream s JOIN wseq q USING (word)
      UNION ALL
      SELECT s.doc_id, s.wpos, q.spos, q.tid
      FROM stream s JOIN rseq q USING (word)
    )""")
    # decode round-trip: id -> trained symbol, fallback id -> alphabet char
    ctes.append("""decw AS MATERIALIZED (
      SELECT doc_id, wpos, string_agg(piece, '' ORDER BY spos) AS w
      FROM (SELECT i.doc_id, i.wpos, i.spos,
                   COALESCE(v.symbol,
                            substr('abcdefghijklmnopqrstuvwxyz0123456789',
                                   CAST(i.tid - vsz.v AS INT) + 1, 1))
                     AS piece
            FROM idstream i LEFT JOIN vid v ON v.tid = i.tid
            CROSS JOIN vsz)
      GROUP BY doc_id, wpos
    )""")
    return f"""
    WITH {', '.join(ctes)}
    SELECT 'bpef_' || md5(string_agg(CAST(tid AS VARCHAR), ' '
                                     ORDER BY wpos, spos)) AS tag,
           doc_id, CAST(count(*) AS DOUBLE) AS n_ids,
           CAST(NULL AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2
    FROM idstream WHERE doc_id % 20 = 5 GROUP BY doc_id
    UNION ALL
    SELECT 'bpef_totals' AS tag, CAST(-1 AS BIGINT) AS doc_id,
           CAST(count(*) AS DOUBLE) AS n_ids,
           CAST(count(DISTINCT doc_id * 1000000 + wpos) AS DOUBLE) AS v1,
           CAST((SELECT count(*) FROM stream) AS DOUBLE) AS v2
    FROM idstream
    UNION ALL
    SELECT 'bpef_fb' AS tag, CAST(-1 AS BIGINT) AS doc_id,
           CAST(SUM(CASE WHEN i.tid >= vsz.v THEN 1 ELSE 0 END)
                AS DOUBLE) AS n_ids,
           CAST(count(DISTINCT CASE WHEN i.tid >= vsz.v THEN i.tid END)
                AS DOUBLE) AS v1,
           CAST(MAX(vsz.v) AS DOUBLE) AS v2
    FROM idstream i CROSS JOIN vsz
    UNION ALL
    SELECT 'bpef_roundtrip' AS tag, CAST(-1 AS BIGINT) AS doc_id,
           CAST(SUM(CASE WHEN d.w <> s.word THEN 1 ELSE 0 END)
                AS DOUBLE) AS n_ids,
           CAST(count(*) AS DOUBLE) AS v1,
           CAST(NULL AS DOUBLE) AS v2
    FROM decw d JOIN stream s USING (doc_id, wpos)
    """


_register("text_bpe_fallback", _text_bpe_fallback, _bpe_fallback_oracle())


# -- Unigram-LM tokenizer (functions/unigram.py, Kudo 2018): the second
#    tokenizer family — seed vocabulary from substring statistics, one
#    hard-EM (Viterbi) round, then corpus encode under the fitted model.
#    Certificates: per-doc id-sequence md5 for the doc_id % 20 == 7 slice,
#    a totals row (ids emitted / vocab size / distinct ids used), and a
#    vocab row whose md5 covers every (piece, count) in token-id order —
#    i.e. the TRAINING itself is value-checked, not just the encode.
#    Scores are integer-scaled log-probs (floor(ln(cnt/tot)*1e6)) so the
#    Viterbi DP is bit-exact across engines; the oracle unrolls the DP
#    per end-position (max word length 8 in the token contract's corpus;
#    the driver-side DP itself is unbounded).

_UNI_MAXP = 4      # max piece length
_UNI_MULTI = 200   # seed multi-char pieces
_UNI_MAXW = 10     # oracle DP unroll bound (corpus max is 8; +2 slack)


def _text_unigram(spark: SparkSession, sf: str) -> DataFrame:
    import pyarrow as pa

    from hugegraph_on_tikv_spark.functions import unigram as U
    docs = load_table(spark, sf, "documents")
    # ONE corpus tokenize pass feeds everything below: the word-frequency
    # table is collected once into an Arrow local relation (whose
    # collect() submits no job) shared by the contract guard, training,
    # and the encoder's word-domain Viterbi (its segmentation is
    # freq-independent; see unigram_encode).  The stream join is the only
    # other corpus pass.
    table = U.word_freqs(docs).collect()
    # contract guard: the DuckDB oracle unrolls the Viterbi DP to
    # _UNI_MAXW end positions while the driver-side DP is unbounded — a
    # corpus word longer than the unroll would silently vanish from the
    # oracle's segmentation and surface as an inscrutable hash mismatch.
    # Fail loudly at the source instead.
    mw = max((len(r["word"]) for r in table), default=0)
    if mw > _UNI_MAXW:
        raise AssertionError(
            f"unigram oracle DP is unrolled to {_UNI_MAXW} chars but the "
            f"corpus has a {mw}-char word; raise _UNI_MAXW to match")
    words = spark.createDataFrame(pa.table({
        "word": pa.array([r["word"] for r in table], pa.string()),
        "freq": pa.array([r["freq"] for r in table], pa.int64()),
    }))
    vocab, _ = U.unigram_train(docs, n_iters=1, max_piece_len=_UNI_MAXP,
                               n_multi=_UNI_MULTI, words=words)
    enc = U.unigram_encode(docs, vocab, max_piece_len=_UNI_MAXP,
                           words=words).persist()
    per = (
        enc.filter(F.col("doc_id") % 20 == 7)
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("wpos", "spos", "token_id")).alias("seq"),
             F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            F.concat(F.lit("uni_"), F.md5(F.expr(
                "array_join(transform(array_sort(seq), "
                "x -> CAST(x.token_id AS STRING)), ' ')"))).alias("tag"),
            "doc_id",
            F.col("n").cast("double").alias("n_ids"),
            F.lit(None).cast("double").alias("v1"),
            F.lit(None).cast("double").alias("v2"),
        ))
    nvocab = len(vocab.collect())
    tot = (
        enc.agg(F.count(F.lit(1)).cast("double").alias("n_ids"),
                F.lit(float(nvocab)).alias("v1"),
                F.count_distinct("token_id").cast("double").alias("v2"))
        .select(F.lit("uni_totals").alias("tag"),
                F.lit(-1).cast("long").alias("doc_id"), "n_ids", "v1", "v2"))
    vrow = (
        vocab.agg(
            F.md5(F.expr(
                "array_join(transform(array_sort("
                "collect_list(struct(token_id, piece, cnt))), "
                "x -> concat(x.piece, ':', CAST(x.cnt AS STRING))), ' ')"))
            .alias("h"),
            F.count(F.lit(1)).cast("double").alias("n_ids"),
            F.sum("cnt").cast("double").alias("v1"))
        .select(F.concat(F.lit("univocab_"), F.col("h")).alias("tag"),
                F.lit(-2).cast("long").alias("doc_id"), "n_ids", "v1",
                F.lit(None).cast("double").alias("v2")))
    return per.unionByName(tot).unionByName(vrow)


def _uni_dp_ctes(prefix: str, scores: str, maxw: int, maxp: int) -> list:
    """Unrolled Viterbi CTEs {prefix}0..{prefix}{maxw} over the uw word
    table with the given score table, plus the final vseg_{prefix}
    segmentation (word, seg).  Mirrors unigram._viterbi: argmax by
    (score DESC, seg ASC) at each end position."""
    ctes = [f"{prefix}0 AS (SELECT word, CAST(0 AS BIGINT) AS sc, "
            f"'' AS seg FROM uw)"]
    for i in range(1, maxw + 1):
        branches = []
        for j in range(max(0, i - maxp), i):
            piece = f"substr(b.word, {j + 1}, {i - j})"
            seg = piece if j == 0 else f"b.seg || ' ' || {piece}"
            branches.append(f"""
        SELECT b.word, b.sc + p.sc AS sc, {seg} AS seg
        FROM {prefix}{j} b JOIN {scores} p ON p.piece = {piece}
        WHERE length(b.word) >= {i}""")
        ctes.append(f"""{prefix}{i} AS MATERIALIZED (
      SELECT word, sc, seg FROM (
        SELECT word, sc, seg, row_number() OVER (
          PARTITION BY word ORDER BY sc DESC, seg ASC) AS rn
        FROM ({' UNION ALL '.join(branches)}))
      WHERE rn = 1)""")
    union = " UNION ALL ".join(
        f"SELECT word, seg FROM {prefix}{i} WHERE length(word) = {i}"
        for i in range(1, maxw + 1))
    ctes.append(f"vseg_{prefix} AS MATERIALIZED ({union})")
    return ctes


def _unigram_oracle(maxw: int = _UNI_MAXW, maxp: int = _UNI_MAXP,
                    n_multi: int = _UNI_MULTI) -> str:
    toks = TOKENS_SQL.format(col="text")
    ctes = [
        f"""ustream AS MATERIALIZED (
      SELECT doc_id, CAST(generate_subscripts(arr, 1) - 1 AS BIGINT) AS wpos,
             unnest(arr) AS word
      FROM (SELECT doc_id, {toks} AS arr FROM documents))""",
        """uw AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS freq FROM ustream
      GROUP BY word)""",
        f"""upc AS MATERIALIZED (
      SELECT substr(word, CAST(s AS INT), CAST(l AS INT)) AS piece,
             CAST(SUM(freq) AS BIGINT) AS cnt
      FROM (SELECT word, freq, s,
                   unnest(range(1, least({maxp}, length(word) - s + 1) + 1))
                   AS l
            FROM (SELECT word, freq,
                         unnest(range(1, length(word) + 1)) AS s FROM uw))
      GROUP BY 1)""",
        "uchars AS (SELECT piece, cnt FROM upc WHERE length(piece) = 1)",
        f"""useed AS MATERIALIZED (
      SELECT piece, cnt FROM uchars
      UNION ALL
      SELECT piece, cnt FROM (
        SELECT piece, cnt, row_number() OVER
          (ORDER BY cnt DESC, piece ASC) AS rn
        FROM upc WHERE length(piece) > 1)
      WHERE rn <= {n_multi})""",
        """usc0 AS MATERIALIZED (
      SELECT piece, CAST(floor(ln(CAST(cnt AS DOUBLE) /
        (SELECT CAST(SUM(cnt) AS DOUBLE) FROM useed)) * 1000000)
        AS BIGINT) AS sc
      FROM useed)""",
    ]
    ctes += _uni_dp_ctes("ub", "usc0", maxw, maxp)
    ctes += [
        """uusd AS MATERIALIZED (
      SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
        SELECT w.freq, unnest(string_split(v.seg, ' ')) AS piece
        FROM vseg_ub v JOIN uw w USING (word))
      GROUP BY piece)""",
        """uv1 AS MATERIALIZED (
      SELECT COALESCE(u.piece, c.piece) AS piece,
             CASE WHEN c.piece IS NOT NULL
                  THEN greatest(COALESCE(u.cnt, CAST(0 AS BIGINT)),
                                CAST(1 AS BIGINT))
                  ELSE u.cnt END AS cnt
      FROM uusd u FULL OUTER JOIN (SELECT piece FROM uchars) c
        ON u.piece = c.piece)""",
        """usc1 AS MATERIALIZED (
      SELECT piece, CAST(floor(ln(CAST(cnt AS DOUBLE) /
        (SELECT CAST(SUM(cnt) AS DOUBLE) FROM uv1)) * 1000000)
        AS BIGINT) AS sc
      FROM uv1)""",
        """uid AS MATERIALIZED (
      SELECT piece, cnt, CAST(row_number() OVER
        (ORDER BY cnt DESC, piece ASC) - 1 AS BIGINT) AS token_id
      FROM uv1)""",
    ]
    ctes += _uni_dp_ctes("uc", "usc1", maxw, maxp)
    ctes += [
        """usegp AS MATERIALIZED (
      SELECT word, CAST(generate_subscripts(arr, 1) - 1 AS BIGINT) AS spos,
             unnest(arr) AS piece
      FROM (SELECT word, string_split(seg, ' ') AS arr FROM vseg_uc))""",
        """uids AS MATERIALIZED (
      SELECT s.doc_id, s.wpos, p.spos, i.token_id
      FROM ustream s JOIN usegp p USING (word) JOIN uid i USING (piece))""",
    ]
    return f"""
    WITH {', '.join(ctes)}
    SELECT 'uni_' || md5(string_agg(CAST(token_id AS VARCHAR), ' '
                                    ORDER BY wpos, spos)) AS tag,
           doc_id, CAST(count(*) AS DOUBLE) AS n_ids,
           CAST(NULL AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2
    FROM uids WHERE doc_id % 20 = 7 GROUP BY doc_id
    UNION ALL
    SELECT 'uni_totals' AS tag, CAST(-1 AS BIGINT) AS doc_id,
           CAST(count(*) AS DOUBLE) AS n_ids,
           CAST((SELECT count(*) FROM uid) AS DOUBLE) AS v1,
           CAST(count(DISTINCT token_id) AS DOUBLE) AS v2
    FROM uids
    UNION ALL
    SELECT 'univocab_' || md5(string_agg(piece || ':' ||
             CAST(cnt AS VARCHAR), ' ' ORDER BY token_id)) AS tag,
           CAST(-2 AS BIGINT) AS doc_id,
           CAST(count(*) AS DOUBLE) AS n_ids,
           CAST(SUM(cnt) AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2
    FROM uid
    """


_register("text_unigram", _text_unigram, _unigram_oracle())


# -- Training-order permutation (sampling.training_order): the epoch-level
#    deterministic shuffle — 48-bit md5 shuffle keys, per-shard positions,
#    round-robin `read_pos` + dense `block_pos` via the shard-offset cumsum
#    (no global single-partition window).  Certificates: per-doc rows on a
#    1/10 slice plus a totals row proving the block order is a DENSE
#    permutation (Σ block_pos == n(n-1)/2) and read_pos is collision-free.

_ORD_SHARDS = 64


def _text_train_order(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.functions.sampling import training_order
    docs = load_table(spark, sf, "documents").select("doc_id")
    ordr = training_order(docs, n_shards=_ORD_SHARDS, salt="",
                          id_col="doc_id").persist()
    per = (ordr.filter(F.col("doc_id") % 10 == 3)
           .select(F.lit("ord").alias("tag"), F.col("doc_id"),
                   F.col("read_pos").cast("double").alias("n_ids"),
                   F.col("block_pos").cast("double").alias("v1"),
                   F.col("shard").cast("double").alias("v2")))
    tot = (ordr.agg(F.count(F.lit(1)).cast("double").alias("n_ids"),
                    F.sum("block_pos").cast("double").alias("v1"),
                    F.count_distinct("read_pos").cast("double").alias("v2"))
           .select(F.lit("ord_totals").alias("tag"),
                   F.lit(-1).cast("long").alias("doc_id"),
                   "n_ids", "v1", "v2"))
    return per.unionByName(tot)


def _train_order_sql(shards: int = _ORD_SHARDS) -> str:
    h = H48_SQL.format(x="doc_id")
    return f"""
    WITH okeys AS MATERIALIZED (
      SELECT doc_id, {h} AS k, {h} % {shards} AS shard FROM documents
    ), opos AS MATERIALIZED (
      SELECT doc_id, shard,
             CAST(row_number() OVER (PARTITION BY shard
               ORDER BY k ASC, doc_id ASC) - 1 AS BIGINT) AS pos
      FROM okeys
    ), ooff AS MATERIALIZED (
      SELECT shard,
             CAST(COALESCE(SUM(n) OVER (ORDER BY shard
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS off
      FROM (SELECT shard, CAST(count(*) AS BIGINT) AS n FROM opos
            GROUP BY shard)
    ), oplaced AS MATERIALIZED (
      SELECT p.doc_id, p.shard, p.pos,
             p.pos * {shards} + p.shard AS read_pos,
             o.off + p.pos AS block_pos
      FROM opos p JOIN ooff o USING (shard)
    )
    SELECT 'ord' AS tag, doc_id,
           CAST(read_pos AS DOUBLE) AS n_ids,
           CAST(block_pos AS DOUBLE) AS v1,
           CAST(shard AS DOUBLE) AS v2
    FROM oplaced WHERE doc_id % 10 = 3
    UNION ALL
    SELECT 'ord_totals' AS tag, CAST(-1 AS BIGINT) AS doc_id,
           CAST(count(*) AS DOUBLE) AS n_ids,
           CAST(SUM(block_pos) AS DOUBLE) AS v1,
           CAST(count(DISTINCT read_pos) AS DOUBLE) AS v2
    FROM oplaced
    """


_register("text_train_order", _text_train_order, _train_order_sql())


# -- Token-budget corpus selection (sampling.token_budget_select): keep the
#    best docs by an exact-integer quality score until the token budget is
#    spent — banded cutoff, no global sort (see the op's docstring).
#    quality = (1e6 · distinct_tokens) DIV n_tokens, tokens = n_tokens.

_BUDGET_TOKENS = 8_000
_BUDGET_BAND = 10_000


def _text_budget_select(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.functions.sampling import token_budget_select
    from hugegraph_on_tikv_spark.functions.text import tokens as _toks
    docs = load_table(spark, sf, "documents")
    scored = docs.select(
        "doc_id",
        F.size(_toks(F.col("text"))).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(_toks(F.col("text")))).cast("long")
        .alias("n_distinct"),
    ).select(
        "doc_id", "n_tokens",
        F.expr("div(1000000 * n_distinct, n_tokens)").alias("quality"))
    kept = token_budget_select(scored, budget=_BUDGET_TOKENS,
                               quality_col="quality", token_col="n_tokens",
                               id_col="doc_id",
                               band_width=_BUDGET_BAND).persist()
    per = kept.select(F.lit("budget").alias("tag"),
                      F.col("id").alias("doc_id"),
                      F.col("quality").cast("double").alias("n_ids"),
                      F.col("tokens").cast("double").alias("v1"),
                      F.col("spent").cast("double").alias("v2"))
    tot = (kept.agg(F.count(F.lit(1)).cast("double").alias("n_ids"),
                    F.sum("tokens").cast("double").alias("v1"),
                    F.max("spent").cast("double").alias("v2"))
           .select(F.lit("budget_totals").alias("tag"),
                   F.lit(-1).cast("long").alias("doc_id"),
                   "n_ids", "v1", "v2"))
    return per.unionByName(tot)


def _budget_ctes(budget: int = _BUDGET_TOKENS,
                 band_width: int = _BUDGET_BAND) -> str:
    """The banded budget-selection CTE chain ending in bkept(id, quality,
    tokens, spent) — shared by text_budget_select and pipe_assemble."""
    toks = TOKENS_SQL.format(col="text")
    return f"""bscore AS MATERIALIZED (
      SELECT doc_id,
             CAST(len(arr) AS BIGINT) AS n_tokens,
             (1000000 * CAST(len(list_distinct(arr)) AS BIGINT))
               // CAST(len(arr) AS BIGINT) AS quality
      FROM (SELECT doc_id, {toks} AS arr FROM documents)
    ), bbase AS MATERIALIZED (
      SELECT doc_id AS id, quality, n_tokens AS tokens,
             quality // {band_width} AS band
      FROM bscore
    ), bcum AS MATERIALIZED (
      SELECT band, bt,
             CAST(COALESCE(SUM(bt) OVER (ORDER BY band DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS before_t
      FROM (SELECT band, CAST(SUM(tokens) AS BIGINT) AS bt FROM bbase
            GROUP BY band)
    ), bsel AS MATERIALIZED (
      SELECT band, before_t AS off,
             (before_t + bt > {budget}) AS is_partial
      FROM bcum WHERE before_t <= {budget}
    ), bspent AS MATERIALIZED (
      SELECT b.id, b.quality, b.tokens, s.is_partial,
             s.off + CAST(SUM(b.tokens) OVER (PARTITION BY b.band
               ORDER BY b.quality DESC, b.id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS spent
      FROM bbase b JOIN bsel s USING (band)
    ), bkept AS MATERIALIZED (
      SELECT id, quality, tokens, spent FROM bspent
      WHERE (NOT is_partial) OR spent <= {budget}
    )"""


def _budget_select_sql(budget: int = _BUDGET_TOKENS,
                       band_width: int = _BUDGET_BAND) -> str:
    return f"""
    WITH {_budget_ctes(budget, band_width)}
    SELECT 'budget' AS tag, id AS doc_id,
           CAST(quality AS DOUBLE) AS n_ids,
           CAST(tokens AS DOUBLE) AS v1,
           CAST(spent AS DOUBLE) AS v2
    FROM bkept
    UNION ALL
    SELECT 'budget_totals' AS tag, CAST(-1 AS BIGINT) AS doc_id,
           CAST(count(*) AS DOUBLE) AS n_ids,
           CAST(SUM(tokens) AS DOUBLE) AS v1,
           CAST(MAX(spent) AS DOUBLE) AS v2
    FROM bkept
    """


_register("text_budget_select", _text_budget_select, _budget_select_sql())


# -- The complete ASSEMBLY program (pipe_assemble): quality-scored corpus →
#    token-budget selection → epoch shuffle (training_order) → BPE learned
#    and applied ON THE KEPT SUBSET → token ids packed into fixed-length
#    training sequences IN SHUFFLED ORDER (pack_token_ids(order=...)).
#    This is the end-to-end "documents in, training sequences out" story:
#    every shard-0 training sequence is value-checked via md5-in-tag, so
#    the hash gate certifies the whole composition — selection set, shuffle
#    permutation, tokenizer train+encode, and placement — in one row.

def _pipe_assemble(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.functions.bpe import bpe_encode, bpe_learn
    from hugegraph_on_tikv_spark.functions.packing import pack_token_ids
    from hugegraph_on_tikv_spark.functions.sampling import (
        token_budget_select, training_order)
    from hugegraph_on_tikv_spark.functions.text import tokens as _toks
    docs = load_table(spark, sf, "documents")
    scored = docs.select(
        "doc_id",
        F.size(_toks(F.col("text"))).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(_toks(F.col("text")))).cast("long")
        .alias("n_distinct"),
    ).select("doc_id", "n_tokens",
             F.expr("div(1000000 * n_distinct, n_tokens)").alias("quality"))
    # r11 (guide §2.4): `kept` is doc-count-sized but its lineage carries
    # the corpus tokenize + the banded running-sum windows; without the
    # lazy checkpoint all three consumers (the kdocs join, the epoch
    # shuffle `ordr`, the budget totals row `bud`) re-ran that pipeline.
    # The first action (bpe_learn's eager word-table checkpoint over kdocs)
    # materializes it as a side effect.
    kept = token_budget_select(scored, budget=_BUDGET_TOKENS,
                               quality_col="quality", token_col="n_tokens",
                               id_col="doc_id", band_width=_BUDGET_BAND
                               ).localCheckpoint(eager=False)
    kdocs = docs.join(kept.select(F.col("id").alias("doc_id")),
                      "doc_id").persist()
    merges, words = bpe_learn(kdocs, n_merges=_BPE_ROUNDS)
    enc = bpe_encode(kdocs, merges, words=words, char_fallback=False)
    ordr = training_order(kept.select(F.col("id").alias("doc_id")),
                          n_shards=_PACK_SHARDS, salt="epoch0")
    packed = pack_token_ids(enc, seq_len=_PACK_SEQ_LEN,
                            shards=_PACK_SHARDS,
                            order=ordr.select("doc_id", "shard", "pos")
                            ).persist()
    pseq = (
        packed.filter(F.col("shard") == 0)
        .groupBy("seq")
        .agg(F.collect_list(F.struct("slot", "token_id")).alias("sl"),
             F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            F.concat(F.lit("asm_"), F.md5(F.expr(
                "array_join(transform(array_sort(sl), "
                "x -> CAST(x.token_id AS STRING)), ' ')"))).alias("tag"),
            F.col("seq").alias("doc_id"),
            F.col("n").cast("double").alias("n_ids"),
            F.lit(None).cast("double").alias("v1"),
            F.lit(None).cast("double").alias("v2"),
        ))
    tot = (
        packed.agg(
            F.count(F.lit(1)).cast("double").alias("n_ids"),
            F.count_distinct("doc_id").cast("double").alias("v1"),
            F.count_distinct(F.col("shard") * 1_000_000 + F.col("seq"))
            .cast("double").alias("v2"))
        .select(F.lit("asm_totals").alias("tag"),
                F.lit(-1).cast("long").alias("doc_id"), "n_ids", "v1", "v2"))
    bud = (
        kept.agg(F.sum("tokens").cast("double").alias("n_ids"),
                 F.lit(float(_BUDGET_TOKENS)).alias("v1"),
                 F.count(F.lit(1)).cast("double").alias("v2"))
        .select(F.lit("asm_budget").alias("tag"),
                F.lit(-2).cast("long").alias("doc_id"), "n_ids", "v1", "v2"))
    return pseq.unionByName(tot).unionByName(bud)


def _assemble_oracle(rounds: int = _BPE_ROUNDS) -> str:
    kdocs_src = ("(SELECT d.doc_id, d.text FROM documents d "
                 "JOIN bkept ON d.doc_id = bkept.id)")
    ctes = [_budget_ctes()]
    bctes, _ = _bpe_ctes(rounds, source=kdocs_src)
    # the bpe chain's w0 needs bkept visible — it follows in the same WITH
    ctes += bctes
    toks = TOKENS_SQL.format(col="text")
    last = f"w{rounds}"
    ctes.append(f"""avocab AS MATERIALIZED (
      SELECT symbol, CAST(SUM(freq) AS BIGINT) AS freq
      FROM (SELECT freq, unnest(string_split(syms, '_')[2:]) AS symbol
            FROM {last})
      GROUP BY symbol
    )""")
    ctes.append("""avid AS MATERIALIZED (
      SELECT symbol,
             CAST(row_number() OVER (ORDER BY freq DESC, symbol ASC) - 1
                  AS BIGINT) AS tid
      FROM avocab
    )""")
    ctes.append(f"""awsym AS MATERIALIZED (
      SELECT word, CAST(generate_subscripts(arr, 1) - 1 AS BIGINT) AS spos,
             unnest(arr) AS symbol
      FROM (SELECT word, string_split(syms, '_')[2:] AS arr FROM {last})
    )""")
    ctes.append("""awseq AS MATERIALIZED (
      SELECT ws.word, ws.spos, v.tid FROM awsym ws JOIN avid v USING (symbol)
    )""")
    ctes.append(f"""astream AS (
      SELECT doc_id, CAST(generate_subscripts(arr, 1) - 1 AS BIGINT) AS wpos,
             unnest(arr) AS word
      FROM (SELECT doc_id, {toks} AS arr FROM {kdocs_src} AS kd)
    )""")
    ctes.append("""aidstream AS MATERIALIZED (
      SELECT s.doc_id, s.wpos, q.spos, q.tid
      FROM astream s JOIN awseq q USING (word)
    )""")
    S, L = _PACK_SHARDS, _PACK_SEQ_LEN
    h = ("CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || "
         "'epoch0'), 1, 12)) AS UBIGINT) AS BIGINT)")
    ctes.append(f"""aord AS MATERIALIZED (
      SELECT doc_id, shard,
             CAST(row_number() OVER (PARTITION BY shard
               ORDER BY k ASC, doc_id ASC) - 1 AS BIGINT) AS pos
      FROM (SELECT id AS doc_id, {h} AS k, {h} % {S} AS shard FROM bkept)
    )""")
    ctes.append("""aplaced AS MATERIALIZED (
      SELECT c.doc_id, o.shard,
             CAST(SUM(c.n) OVER (PARTITION BY o.shard ORDER BY o.pos) - c.n
                  AS BIGINT) AS strt
      FROM (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
            FROM aidstream GROUP BY doc_id) c
      JOIN aord o USING (doc_id)
    )""")
    ctes.append(f"""apacked AS MATERIALIZED (
      SELECT i.doc_id, p.shard,
             (p.strt + row_number() OVER (PARTITION BY i.doc_id
                ORDER BY i.wpos, i.spos) - 1) // {L} AS seq,
             (p.strt + row_number() OVER (PARTITION BY i.doc_id
                ORDER BY i.wpos, i.spos) - 1) % {L} AS slot,
             i.tid
      FROM aidstream i JOIN aplaced p USING (doc_id)
    )""")
    return f"""
    WITH {', '.join(ctes)}
    SELECT 'asm_' || md5(string_agg(CAST(tid AS VARCHAR), ' '
                                    ORDER BY slot)) AS tag,
           seq AS doc_id, CAST(count(*) AS DOUBLE) AS n_ids,
           CAST(NULL AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2
    FROM apacked WHERE shard = 0 GROUP BY seq
    UNION ALL
    SELECT 'asm_totals' AS tag, CAST(-1 AS BIGINT) AS doc_id,
           CAST(count(*) AS DOUBLE) AS n_ids,
           CAST(count(DISTINCT doc_id) AS DOUBLE) AS v1,
           CAST(count(DISTINCT shard * 1000000 + seq) AS DOUBLE) AS v2
    FROM apacked
    UNION ALL
    SELECT 'asm_budget' AS tag, CAST(-2 AS BIGINT) AS doc_id,
           CAST(SUM(tokens) AS DOUBLE) AS n_ids,
           CAST({_BUDGET_TOKENS} AS DOUBLE) AS v1,
           CAST(count(*) AS DOUBLE) AS v2
    FROM bkept
    """


_register("pipe_assemble", _pipe_assemble, _assemble_oracle())


def _text_packing(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.functions.packing import pack_sequences

    return pack_sequences(load_table(spark, sf, "documents"),
                          seq_len=2048, shards=8)


_register(
    "text_packing",
    # sequence packing placements (functions/packing.py): shard-local
    # cumulative token sums -> (start_seq, end_seq, offset).  Exact integer
    # arithmetic end to end; the H48 shard assignment and BPE estimator
    # follow the established hash/token contracts
    _text_packing,
    f"""
    WITH toks AS (
      SELECT doc_id,
        {H48_SQL.format(x="doc_id")} % 8 AS shard,
        CAST(COALESCE(list_sum(list_transform(
              regexp_extract_all(lower(text), '[a-z]+|[0-9]+'),
              p -> CAST(ceil(length(p) / 4.0) AS INTEGER))), 0) AS BIGINT)
          AS n_tokens
      FROM documents
    ),
    cum AS (
      SELECT doc_id, shard, n_tokens,
        SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS c
      FROM toks
    )
    SELECT doc_id, shard, n_tokens,
      (c - n_tokens) // 2048 AS start_seq,
      CASE WHEN n_tokens = 0 THEN (c - n_tokens) // 2048
           ELSE (c - 1) // 2048 END AS end_seq,
      (c - n_tokens) % 2048 AS offset_in_seq
    FROM cum
    """,
)


# -- dedup ladder -----------------------------------------------------------

_DOCS_COPIES_SQL = """
docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, text || ' zzextra' AS text FROM documents
)
"""

def _dedup_index_probe(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental corpus-dedup index (functions/dedup.py lsh_*_index):
    resident corpus = the documents, incoming batch = their near-identical
    copies — every copy must find its original through the PERSISTED band
    index (scored by signature agreement, no resident text or signature
    recomputed), and the replayed-batch path is exercised by the tests."""
    import atexit
    import shutil
    import tempfile

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    batch = docs.select((F.col("doc_id") + 10_000_000).alias("doc_id"),
                        F.concat(F.col("text"), F.lit(" zzextra")).alias("text"))
    d = _dedup_index_probe.__dict__.setdefault(
        "_dir", tempfile.mkdtemp(prefix="lsh_index_"))
    if "_cleanup" not in _dedup_index_probe.__dict__:
        _dedup_index_probe.__dict__["_cleanup"] = atexit.register(
            shutil.rmtree, d, ignore_errors=True)
    shutil.rmtree(d, ignore_errors=True)
    dedup.lsh_write_index(docs, d, num_hashes=16, rows_per_band=4, k=3)
    return dedup.lsh_append_index(spark, d, batch, batch_id=1, threshold=0.5)


_register(
    "dedup_index_probe",
    _dedup_index_probe,
    f"""
    WITH {_DOCS_COPIES_SQL.strip().rstrip()},
    t AS (
      SELECT doc_id, {TOKENS_SQL.format(col="text")} AS toks FROM docs2
    ), sh AS MATERIALIZED (
      SELECT doc_id, unnest(list_distinct({word_shingles_sql("toks", 3)})) AS shingle FROM t
    ), hashed AS (
      SELECT doc_id, shingle,
             {H60_SQL.format(x="shingle")} % {MINHASH_P_SQL} AS h FROM sh
    ), mh AS MATERIALIZED (
      SELECT doc_id, i, MIN((a * h + b) % {MINHASH_P_SQL}) AS minhash
      FROM hashed CROSS JOIN {minhash_seeds_values()}
      WHERE i < 16
      GROUP BY doc_id, i
    ), bands AS MATERIALIZED (
      SELECT doc_id, i // 4 AS band,
             md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY i)) AS band_sig
      FROM mh GROUP BY doc_id, i // 4
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, 'cross' AS scope
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id >= 10000000 AND b.doc_id < 10000000
      UNION
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, 'batch' AS scope
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id >= 10000000 AND b.doc_id >= 10000000
        AND a.doc_id < b.doc_id
    ), est AS (
      SELECT c.doc_a, c.doc_b, c.scope,
             round(SUM(CASE WHEN x.minhash = y.minhash THEN 1 ELSE 0 END)
                   / 16.0, 6) AS est_jaccard
      FROM cand c
      JOIN mh x ON x.doc_id = c.doc_a
      JOIN mh y ON y.doc_id = c.doc_b AND y.i = x.i
      GROUP BY c.doc_a, c.doc_b, c.scope
    )
    SELECT doc_a, doc_b, scope, est_jaccard FROM est
    WHERE est_jaccard >= 0.5
    """,
)


_register(
    "dedup_exact",
    lambda spark, sf: dedup.exact_duplicate_groups(
        load_table(spark, sf, "documents").select("doc_id", "text").unionByName(
            load_table(spark, sf, "documents")
            .select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
        )
    ),
    f"""
    WITH docs2 AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id + 10000000, text FROM documents
    )
    SELECT {FINGERPRINT_SQL.format(col="text")} AS fp,
           CAST(count(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS canonical_id
    FROM docs2 GROUP BY fp HAVING count(*) > 1
    """,
)

# -- fixed-segment (paragraph/line) exact dedup (functions/dedup.py
#    segment_dedup): the C4/MassiveText sub-document rung — non-overlapping
#    8-word chunks, first occurrence (min (doc_id, seg_idx)) wins across the
#    corpus, documents rebuilt from surviving chunks.  The oracle replays
#    segmentation (1-based DuckDB list slices), the row_number winner rule
#    and the ordered rebuild; rebuilt text value-checks via md5.

_register(
    "dedup_segments",
    lambda spark, sf: dedup.segment_dedup(
        load_table(spark, sf, "documents").select("doc_id", "text"),
        seg_words=8),
    """
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), segs AS (
      SELECT doc_id, CAST(t.g AS INTEGER) AS seg_idx,
             array_to_string(w[CAST(t.g * 8 + 1 AS BIGINT)
                              :CAST(t.g * 8 + 8 AS BIGINT)], ' ') AS seg
      FROM ws, unnest(range(CAST(ceil(len(w) / 8.0) AS BIGINT))) t(g)
    ), rk AS (
      SELECT doc_id, seg_idx, seg,
             row_number() OVER (PARTITION BY seg
                                ORDER BY doc_id, seg_idx) AS rn
      FROM segs
    )
    SELECT doc_id,
           COALESCE(string_agg(CASE WHEN rn = 1 THEN seg END,
                               ' ' ORDER BY seg_idx), '') AS text,
           CAST(count(*) AS BIGINT) AS n_segs,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped
    FROM rk GROUP BY doc_id
    """,
)

_register(
    "dedup_ngram_jaccard",
    lambda spark, sf: dedup.ngram_jaccard_pairs(
        load_table(spark, sf, "documents"), k=3, threshold=0.3
    ),
    f"""
    WITH t AS (
      SELECT doc_id, {TOKENS_SQL.format(col="text")} AS toks FROM documents
    ), sh AS MATERIALIZED (
      SELECT doc_id, unnest(list_distinct({word_shingles_sql("toks", 3)})) AS shingle FROM t
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(n_common * 1.0 / (x.n_sh + y.n_sh - n_common), 6) AS jaccard
    FROM common JOIN sizes x ON doc_a = x.doc_id JOIN sizes y ON doc_b = y.doc_id
    WHERE n_common * 1.0 / (x.n_sh + y.n_sh - n_common) >= 0.3
    """,
)


# -- fuzzy (Levenshtein-bounded) pair matching: SymSpell deletion-
#    neighborhood blocking + JVM levenshtein verify (functions/dedup.py
#    fuzzy_pairs).  The oracle is the BRUTE-FORCE cross join — a hash match
#    therefore certifies the blocking scheme is complete on this corpus.

_register(
    "dedup_fuzzy_names",
    lambda spark, sf: dedup.fuzzy_pairs(
        load_table(spark, sf, "customer").select(
            F.col("c_custkey").cast("long").alias("doc_id"),
            F.col("c_name").alias("text")),
        max_distance=1),
    """
    WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS id, c_name AS s
               FROM customer)
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(levenshtein(a.s, b.s) AS INTEGER) AS distance
    FROM c a JOIN c b ON a.id < b.id
    WHERE levenshtein(a.s, b.s) <= 1
    """,
)


# -- Fellegi-Sunter probabilistic record linkage (functions/linkage.py):
#    left = customer as-is; right = deterministically perturbed copy (every
#    5th name uppercased, every 7th phone reversed) so the model sees
#    agree/disagree mixes.  Blocking on nationkey; u-statistics from the
#    right side as exact-integer (Σc², N²); the weight is the fixed-order
#    odds-ratio PRODUCT (log2 is libm — same exactification as BM25's
#    odds-ratio IDF), so every weight hash-matches the SQL replay.

_FS_FIELDS = ["name", "phone", "segment"]
_FS_M = {"name": 0.95, "phone": 0.9, "segment": 0.7}


def _fs_phone():
    # the fixture has no phone column; derive a deterministic phone-like
    # string (md5 prefix of the key — portable across engines)
    return F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 10)


def _fs_left(spark: SparkSession, sf: str) -> DataFrame:
    return load_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_nationkey").alias("nation"),
        F.col("c_name").alias("name"), _fs_phone().alias("phone"),
        F.col("c_mktsegment").alias("segment"))


def _fs_right(spark: SparkSession, sf: str) -> DataFrame:
    return load_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_nationkey").alias("nation"),
        F.when(F.col("c_custkey") % 5 == 0, F.upper(F.col("c_name")))
        .otherwise(F.col("c_name")).alias("name"),
        F.when(F.col("c_custkey") % 7 == 0, F.reverse(_fs_phone()))
        .otherwise(_fs_phone()).alias("phone"),
        F.col("c_mktsegment").alias("segment"))


def _fs_linkage(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.functions import linkage
    return linkage.fs_link(
        _fs_left(spark, sf), _fs_right(spark, sf), block_on=["nation"],
        fields=_FS_FIELDS, m=_FS_M, upper=100.0, lower=2.0)


_FS_RIGHT_SQL = """
      SELECT c_custkey AS id, c_nationkey AS nation,
             CASE WHEN c_custkey % 5 = 0 THEN upper(c_name)
                  ELSE c_name END AS name,
             CASE WHEN c_custkey % 7 = 0
                  THEN reverse(substr(md5(CAST(c_custkey AS VARCHAR)), 1, 10))
                  ELSE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 10)
                  END AS phone,
             c_mktsegment AS segment
      FROM customer
"""


def _fs_oracle() -> str:
    factors = []
    for f, m in [("name", 0.95), ("phone", 0.9), ("segment", 0.7)]:
        factors.append(
            f"(CASE WHEN l.{f} IS NOT NULL AND r.{f} IS NOT NULL "
            f"AND l.{f} = r.{f} "
            f"THEN ({m} * u.nn) / u.s_{f} "
            f"ELSE ({1.0 - m} * u.nn) / (u.nn - u.s_{f}) END)")
    weight = "1.0 * " + " * ".join(factors)
    agr = ", ".join(
        f"CAST(CASE WHEN l.{f} IS NOT NULL AND r.{f} IS NOT NULL "
        f"AND l.{f} = r.{f} THEN 1 ELSE 0 END AS INTEGER) AS agr_{f}"
        for f in _FS_FIELDS)
    return f"""
    WITH l AS (
      SELECT c_custkey AS id, c_nationkey AS nation, c_name AS name,
             substr(md5(CAST(c_custkey AS VARCHAR)), 1, 10) AS phone,
             c_mktsegment AS segment FROM customer
    ), r AS ({_FS_RIGHT_SQL}
    ), u AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) * CAST(count(*) AS BIGINT)
              FROM r) AS nn,
             (SELECT CAST(SUM(c * c) AS BIGINT) FROM (
                SELECT count(*) AS c FROM r WHERE name IS NOT NULL
                GROUP BY name)) AS s_name,
             (SELECT CAST(SUM(c * c) AS BIGINT) FROM (
                SELECT count(*) AS c FROM r WHERE phone IS NOT NULL
                GROUP BY phone)) AS s_phone,
             (SELECT CAST(SUM(c * c) AS BIGINT) FROM (
                SELECT count(*) AS c FROM r WHERE segment IS NOT NULL
                GROUP BY segment)) AS s_segment
    ), scored AS (
      SELECT l.id AS l_id, r.id AS r_id,
             l.name AS l_name, r.name AS r_name,
             l.phone AS l_phone, r.phone AS r_phone,
             l.segment AS l_segment, r.segment AS r_segment,
             {agr}, {weight} AS weight
      FROM l JOIN r ON l.nation = r.nation CROSS JOIN u
    )
    SELECT *, CASE WHEN weight >= 100.0 THEN 'match'
                   WHEN weight >= 2.0 THEN 'possible'
                   ELSE 'non_match' END AS decision
    FROM scored WHERE weight >= 2.0
    """


_register("dedup_fs_linkage", _fs_linkage, _fs_oracle())


# -- ER resolution on top of the linkage (linkage.er_resolve): 'match'
#    pairs -> connected components over the bipartite match graph (node =
#    2*id left / 2*id+1 right; cluster = min encoded node) -> golden-record
#    survivorship (most frequent non-NULL per field, ties to MIN value).
#    The oracle embeds the fslink oracle verbatim, unrolls 4 HashMin
#    rounds (linkage components are near-pairs), and replays the
#    count-then-min survivorship — every canonical field value is inside
#    the fused detail string, so survivorship divergence breaks the hash.

def _er_golden(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.functions import linkage
    return linkage.er_resolve(
        _fs_left(spark, sf), _fs_right(spark, sf), block_on=["nation"],
        fields=_FS_FIELDS, m=_FS_M, upper=100.0, lower=2.0)


def _er_oracle() -> str:
    cc = ["c0 AS MATERIALIZED (SELECT DISTINCT a AS id, a AS component FROM adj)"]
    for t in range(1, 5):
        cc.append(
            f"c{t} AS MATERIALIZED (SELECT c.id, least(c.component, "
            f"COALESCE(m.mn, c.component)) AS component FROM c{t-1} c "
            f"LEFT JOIN (SELECT adj.a AS id, MIN(ct.component) AS mn "
            f"FROM adj JOIN c{t-1} ct ON adj.b = ct.id GROUP BY adj.a) m "
            f"ON c.id = m.id)")
    per_field = []
    joins = []
    for f in _FS_FIELDS:
        per_field.append(f"""
    cnts_{f} AS MATERIALIZED (
      SELECT cluster_id, {f} AS v, CAST(count(*) AS BIGINT) AS cnt
      FROM recs WHERE {f} IS NOT NULL GROUP BY cluster_id, {f}),
    canon_{f} AS (
      SELECT c.cluster_id, MIN(c.v) AS {f}
      FROM cnts_{f} c JOIN (SELECT cluster_id, MAX(cnt) AS mc
                            FROM cnts_{f} GROUP BY cluster_id) b
        ON c.cluster_id = b.cluster_id AND c.cnt = b.mc
      GROUP BY c.cluster_id)""")
        joins.append(f"LEFT JOIN canon_{f} USING (cluster_id)")
    return f"""
    WITH matches AS MATERIALIZED (
      SELECT l_id, r_id FROM ({_fs_oracle()}) WHERE decision = 'match'
    ), adj AS MATERIALIZED (
      SELECT 2 * l_id AS a, 2 * r_id + 1 AS b FROM matches
      UNION SELECT 2 * r_id + 1, 2 * l_id FROM matches
    ),
    {", ".join(cc)},
    clus AS MATERIALIZED (
      SELECT CASE WHEN id % 2 = 0 THEN 'L' ELSE 'R' END AS side,
             id // 2 AS rec_id, CAST(component AS BIGINT) AS cluster_id
      FROM c4
    ), lrec AS (
      SELECT 'L' AS side, c_custkey AS rec_id, c_name AS name,
             substr(md5(CAST(c_custkey AS VARCHAR)), 1, 10) AS phone,
             c_mktsegment AS segment FROM customer
    ), rrec AS (
      SELECT 'R' AS side, id AS rec_id, name, phone, segment
      FROM ({_FS_RIGHT_SQL})
    ), recs AS MATERIALIZED (
      SELECT clus.cluster_id, u.name, u.phone, u.segment
      FROM (SELECT * FROM lrec UNION ALL SELECT * FROM rrec) u
      JOIN clus ON u.side = clus.side AND u.rec_id = clus.rec_id
    ), members AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
      FROM clus GROUP BY cluster_id
    ),{", ".join(per_field)}
    SELECT cluster_id, n_members, name, phone, segment
    FROM members {" ".join(joins)}
    """


_register("dedup_er_golden", _er_golden, _er_oracle())


# -- exact set-similarity join (prefix filtering; functions/dedup.py
#    set_similarity_join).  Oracle = brute-force all-pairs jaccard — the
#    hash match certifies prefix-filter completeness, like dedup_fuzzy.

_register(
    "dedup_setsim_names",
    lambda spark, sf: dedup.set_similarity_join(
        load_table(spark, sf, "part").filter(F.col("p_size") <= 5).select(
            F.col("p_partkey").cast("long").alias("doc_id"),
            F.split(F.col("p_name"), " ").alias("tokens")),
        threshold=0.4),
    """
    WITH p AS (
      SELECT CAST(p_partkey AS BIGINT) AS id,
             list_distinct(string_split(p_name, ' ')) AS s
      FROM part WHERE p_size <= 5
    )
    SELECT a.id AS id_a, b.id AS id_b,
           round(len(list_intersect(a.s, b.s)) * 1.0 /
                 (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6)
             AS jaccard
    FROM p a JOIN p b ON a.id < b.id
    WHERE round(len(list_intersect(a.s, b.s)) * 1.0 /
                (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6)
          >= 0.4
    """,
)


# -- cross-document exact substring dedup (functions/dedup.duplicated_spans):
#    positioned n-gram fingerprint join + gaps-and-islands maximal-span
#    merge — the Lee et al. substring-dedup family.  The oracle replays the
#    same pipeline (positions via generate_subscripts, md5 gram
#    fingerprints, the 2..max_docs hot-gram cap, the diagonal-island merge)
#    so every (doc_a, doc_b, start_a, start_b, span_len) value is checked.

_register(
    "dedup_spans",
    lambda spark, sf: dedup.duplicated_spans(
        load_table(spark, sf, "documents"), n=8, max_docs_per_gram=20),
    f"""
    WITH t AS (
      SELECT doc_id, {TOKENS_SQL.format(col="text")} AS toks FROM documents
    ), g AS MATERIALIZED (
      SELECT doc_id, generate_subscripts(gr, 1) - 1 AS pos,
             md5(unnest(gr)) AS fp
      FROM (SELECT doc_id, {word_shingles_sql("toks", 8)} AS gr FROM t)
    ), ok AS (
      SELECT fp FROM g GROUP BY fp
      HAVING count(DISTINCT doc_id) BETWEEN 2 AND 20
    ), f AS MATERIALIZED (
      SELECT g.* FROM g JOIN ok USING (fp)
    ), hits AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos AS pos_a, b.pos AS pos_b, a.pos - b.pos AS diag
      FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
    ), isl AS (
      SELECT *, pos_a - row_number()
        OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS grp
      FROM hits
    )
    SELECT doc_a, doc_b,
           CAST(min(pos_a) AS INTEGER) AS start_a,
           CAST(min(pos_b) AS INTEGER) AS start_b,
           CAST(max(pos_a) - min(pos_a) + 8 AS INTEGER) AS span_len
    FROM isl GROUP BY doc_a, doc_b, diag, grp
    """,
)


# -- eval-set decontamination (functions/dedup.contamination_report): the
#    GPT-3 appendix-C exact n-gram overlap scrub.  Eval set = every 7th
#    doc_id (deterministic); corpus = the rest.  Because the fixtures'
#    natural cross-split 8-gram overlap is thin, a FROZEN 12-token sentinel
#    sentence is appended to corpus docs doc_id%10=3 and eval docs
#    doc_id%35=0 (disjoint sets: %35=0 ⇒ id ends in 0/5, never 3) — the
#    text_pii injection pattern — giving hundreds of value-checked rows.
#    The oracle replays the whole pipeline — injection, positioned corpus
#    grams, distinct eval fingerprints, hit join, per-doc interval-union
#    coverage — so hit_grams / eval_docs_hit / contaminated_tokens /
#    total_tokens are all value-checked.

_DECONTAM_SENT = ("zq0 zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8 zq9 zq10 zq11")


def _decontam_docs(spark: SparkSession, sf: str) -> DataFrame:
    inj = (F.when((F.col("doc_id") % 10 == 3) | (F.col("doc_id") % 35 == 0),
                  F.concat(F.col("text"), F.lit(" " + _DECONTAM_SENT)))
           .otherwise(F.col("text")))
    return load_table(spark, sf, "documents").select(
        "doc_id", inj.alias("text"))


_DECONTAM_INJ_SQL = f"""
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 3 OR doc_id % 35 = 0
                  THEN text || ' {_DECONTAM_SENT}' ELSE text END AS text
      FROM documents
"""

_DECONTAM_ORACLE = f"""
    WITH inj AS ({_DECONTAM_INJ_SQL}
    ), corpus AS (
      SELECT doc_id, text FROM inj WHERE doc_id % 7 <> 0
    ), ev AS (
      SELECT doc_id, text FROM inj WHERE doc_id % 7 = 0
    ), tc AS (
      SELECT doc_id, {TOKENS_SQL.format(col="text")} AS toks FROM corpus
    ), g AS MATERIALIZED (
      SELECT doc_id, generate_subscripts(gr, 1) - 1 AS pos,
             md5(unnest(gr)) AS fp
      FROM (SELECT doc_id, {word_shingles_sql("toks", 8)} AS gr FROM tc)
    ), ef AS (
      SELECT DISTINCT eval_id, md5(unnest(gr)) AS fp
      FROM (SELECT doc_id AS eval_id,
                   {word_shingles_sql(TOKENS_SQL.format(col="text"), 8)} AS gr
            FROM ev)
    ), hits AS MATERIALIZED (
      SELECT g.doc_id, g.pos, ef.eval_id FROM g JOIN ef USING (fp)
    ), p AS (
      SELECT DISTINCT doc_id, pos FROM hits
    ), l AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       IS NULL
                    OR pos - lag(pos)
                       OVER (PARTITION BY doc_id ORDER BY pos) > 8
                  THEN 1 ELSE 0 END AS newf
      FROM p
    ), i AS (
      SELECT doc_id, pos,
             SUM(newf) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
      FROM l
    ), c AS (
      SELECT doc_id, isl, MAX(pos) - MIN(pos) + 8 AS len,
             COUNT(*) AS np
      FROM i GROUP BY doc_id, isl
    ), cov AS (
      SELECT doc_id, CAST(SUM(np) AS BIGINT) AS hit_grams,
             CAST(SUM(len) AS BIGINT) AS contaminated_tokens
      FROM c GROUP BY doc_id
    ), ed AS (
      SELECT doc_id, CAST(COUNT(DISTINCT eval_id) AS BIGINT) AS eval_docs_hit
      FROM hits GROUP BY doc_id
    ), tt AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS total_tokens FROM tc
    )
    SELECT doc_id, hit_grams, eval_docs_hit, contaminated_tokens,
           total_tokens
    FROM cov JOIN ed USING (doc_id) JOIN tt USING (doc_id)
    """

_register(
    "dedup_decontam",
    lambda spark, sf: dedup.contamination_report(
        _decontam_docs(spark, sf).filter(F.col("doc_id") % 7 != 0),
        _decontam_docs(spark, sf).filter(F.col("doc_id") % 7 == 0),
        n=8),
    _DECONTAM_ORACLE,
)

# the Bloom-pruned scale path MUST give the identical answer (the filter
# only prunes; the exact verify decides), so it shares the oracle string
# verbatim — a driver hash match here certifies bloom-prune + verify ==
# plain broadcast-set join, end to end
_register(
    "dedup_decontam_bloom",
    lambda spark, sf: dedup.contamination_report(
        _decontam_docs(spark, sf).filter(F.col("doc_id") % 7 != 0),
        _decontam_docs(spark, sf).filter(F.col("doc_id") % 7 == 0),
        n=8, mode="bloom", bloom_bits=1 << 18),
    _DECONTAM_ORACLE,
)


# -- duplicated-span REMOVAL (dedup.remove_duplicated_spans): the Lee-et-al
#    excise step.  The oracle embeds the dedup_spans oracle verbatim as its
#    span source (one definition, both rows move together), unions removal
#    intervals with the same running-max-end islands pass, and rebuilds the
#    surviving token stream.  Only MODIFIED docs are driver-checked (the
#    rebuilt text rides the tag as md5).

_register(
    "dedup_despan",
    lambda spark, sf: dedup.remove_duplicated_spans(
        load_table(spark, sf, "documents"), n=8, max_docs_per_gram=20)
    .filter(F.col("n_removed_tokens") > 0),
    f"""
    WITH spans AS MATERIALIZED (
      {_ORACLES["dedup_spans"]}
    ), iv AS (
      SELECT doc_b AS doc_id, start_b AS s, start_b + span_len AS e
      FROM spans
    ), l AS (
      SELECT *, MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS pme
      FROM iv
    ), mrg AS (
      SELECT doc_id, s, e,
             SUM(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s, e) AS isl
      FROM l
    ), mi AS MATERIALIZED (
      SELECT doc_id, isl, MIN(s) AS s, MAX(e) AS e
      FROM mrg GROUP BY doc_id, isl
    ), toks AS MATERIALIZED (
      SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok
      FROM (SELECT doc_id, {TOKENS_SQL.format(col="text")} AS t
            FROM documents)
    ), removed AS MATERIALIZED (
      SELECT DISTINCT toks.doc_id, pos
      FROM toks JOIN mi ON toks.doc_id = mi.doc_id
                       AND pos >= mi.s AND pos < mi.e
    ), kept AS (
      SELECT t.doc_id, t.pos, t.tok FROM toks t
      WHERE NOT EXISTS (SELECT 1 FROM removed r
                        WHERE r.doc_id = t.doc_id AND r.pos = t.pos)
    ), reb AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS newtext
      FROM kept GROUP BY doc_id
    ), cnt AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed_tokens
      FROM removed GROUP BY doc_id
    )
    SELECT c.doc_id, COALESCE(r.newtext, '') AS text, c.n_removed_tokens
    FROM cnt c LEFT JOIN reb r USING (doc_id)
    """,
)


def _minhash_lsh_sql(num_hashes: int = 32, r: int = 4, k: int = 3, thr: float = 0.3,
                     max_bucket: int = 1000,
                     source_sql: str = "SELECT doc_id, text FROM documents") -> str:
    h60 = H60_SQL.format(x="shingle")
    return f"""
    WITH src AS ({source_sql}),
    t AS (
      SELECT doc_id, {TOKENS_SQL.format(col="text")} AS toks FROM src
    ), sh AS MATERIALIZED (
      SELECT doc_id, unnest(list_distinct({word_shingles_sql("toks", k)})) AS shingle FROM t
    ), hashed AS (
      SELECT doc_id, shingle, {h60} % {MINHASH_P_SQL} AS h FROM sh
    ), mh AS (
      SELECT doc_id, i, MIN((a * h + b) % {MINHASH_P_SQL}) AS minhash
      FROM hashed CROSS JOIN {minhash_seeds_values()}
      GROUP BY doc_id, i
    ), bands AS (
      SELECT doc_id, i // {r} AS band,
             md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY i)) AS band_sig
      FROM mh GROUP BY doc_id, i // {r}
    ), ok_buckets AS (
      -- mirror of the Spark-side max_bucket_size cap on degenerate buckets
      SELECT band, band_sig FROM bands GROUP BY band, band_sig
      HAVING count(*) <= {max_bucket}
    ), capped AS (
      SELECT bands.* FROM bands JOIN ok_buckets USING (band, band_sig)
    ), cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM capped a JOIN capped b ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id < b.doc_id
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), common AS (
      SELECT doc_a, doc_b, count(*) AS n_common
      FROM cands JOIN sh a ON a.doc_id = doc_a JOIN sh b ON b.doc_id = doc_b
           AND a.shingle = b.shingle
      GROUP BY doc_a, doc_b
    )
    SELECT doc_a, doc_b,
           round(n_common * 1.0 / (x.n_sh + y.n_sh - n_common), 6) AS jaccard
    FROM common JOIN sizes x ON doc_a = x.doc_id JOIN sizes y ON doc_b = y.doc_id
    WHERE n_common * 1.0 / (x.n_sh + y.n_sh - n_common) >= {thr}
    """

_register(
    "dedup_minhash_lsh",
    lambda spark, sf: dedup.minhash_lsh_duplicates(
        load_table(spark, sf, "documents"), num_hashes=32, rows_per_band=4, k=3, threshold=0.3
    ),
    _minhash_lsh_sql(),
)

# -- train/test contamination: hash-split the corpus (functions/sampling.py)
#    then find near-dup pairs CROSSING the split — the eval-integrity check;
#    composes the sampler and the LSH pipeline in one program ----------------

def _contamination(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.functions import sampling
    docs = load_table(spark, sf, "documents")
    split = sampling.split_assign(docs, {"train": 0.7, "test": 0.3})
    return dedup.cross_corpus_contamination(
        split.filter(F.col("split") == "train"),
        split.filter(F.col("split") == "test"),
        num_hashes=32, rows_per_band=4, k=3, threshold=0.3)


def _contamination_sql() -> str:
    from hugegraph_on_tikv_spark.functions import sampling
    split = sampling.split_sql({"train": 0.7, "test": 0.3})
    source = (
        f"SELECT 'a:' || CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents "
        f"WHERE ({split}) = 'train' "
        f"UNION ALL SELECT 'b:' || CAST(doc_id AS VARCHAR) AS doc_id, text "
        f"FROM documents WHERE ({split}) = 'test'"
    )
    inner = _minhash_lsh_sql(source_sql=source)
    return f"""
    SELECT CAST(substr(doc_a, 3) AS BIGINT) AS train_id,
           CAST(substr(doc_b, 3) AS BIGINT) AS test_id, jaccard
    FROM ({inner})
    WHERE substr(doc_a, 1, 2) = 'a:' AND substr(doc_b, 1, 2) = 'b:'
    """

_register("contamination", _contamination, _contamination_sql())


def _near_clusters_sql(rounds: int = 8,
                       source_sql: str = "SELECT doc_id, text FROM documents") -> str:
    """Minhash pairs (nested WITH) → unrolled HashMin connected components:
    the oracle for near_duplicate_clusters.  Fixed round count; the Spark
    side may early-stop once converged, which by definition matches."""
    ctes = [
        f"pairs AS MATERIALIZED (\n{_minhash_lsh_sql(source_sql=source_sql)}\n)",
        "adjd AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM pairs "
        "UNION SELECT doc_b, doc_a FROM pairs)",
        "c0 AS MATERIALIZED (SELECT DISTINCT a AS id, a AS component FROM adjd)",
    ]
    for t in range(1, rounds + 1):
        ctes.append(
            f"c{t} AS MATERIALIZED (SELECT l.id, least(l.component, COALESCE(m.mn, l.component)) AS component "
            f"FROM c{t-1} l LEFT JOIN (SELECT adjd.a AS id, MIN(lt.component) AS mn "
            f"FROM adjd JOIN c{t-1} lt ON adjd.b = lt.id GROUP BY adjd.a) m ON l.id = m.id)"
        )
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT id AS doc_id, component AS cluster_id FROM c{rounds}")

_register(
    "dedup_near_clusters",
    lambda spark, sf: dedup.near_duplicate_clusters(
        load_table(spark, sf, "documents"), num_hashes=32, rows_per_band=4,
        k=3, threshold=0.3,
    ),
    _near_clusters_sql(),
)


def _simhash_sql() -> str:
    h48 = H48_SQL.format(x="token")
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({TOKENS_SQL.format(col="text")}) AS token FROM documents
    ), bits AS (
      SELECT doc_id, j,
             SUM(((({h48}) >> j) & 1) * 2 - 1) AS w
      FROM tok CROSS JOIN (SELECT unnest(range(48)) AS j) js
      GROUP BY doc_id, j
    )
    SELECT doc_id,
           -- CAST: DuckDB SUM(BIGINT) yields HUGEINT, which pandas renders as
           -- float64 and the driver's value-hash then diverges from Spark's
           -- long (root cause of the round-1 hash_match=false).
           CAST(SUM(CASE WHEN w > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """

_register(
    "dedup_simhash",
    lambda spark, sf: dedup.simhash_signatures(load_table(spark, sf, "documents"))
    .select("doc_id", F.col("simhash").cast("long").alias("simhash")),
    _simhash_sql(),
)

# -- similarity search ------------------------------------------------------

_COS_SQL = (
    "round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) / "
    "(sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))) * "
    "sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 6)"
)

_COS_TOPK_SQL = f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_COS_SQL} AS cos_sim
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id % 50 = 0
    ), ranked AS (
      SELECT *, CAST(row_number() OVER
        (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS INTEGER) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """

_register(
    "sim_cosine_topk",
    lambda spark, sf: similarity.cosine_topk(
        load_table(spark, sf, "embeddings").filter(F.col("vec_id") % 50 == 0),
        load_table(spark, sf, "embeddings"),
        k=5,
    ),
    _COS_TOPK_SQL,
)


# -- MMR diversified retrieval (similarity.mmr_topk): greedy de-redundancy
#    over the exact top-fetch_k cut.  The oracle unrolls the k selection
#    steps as CTEs (precedent: pagerank/LPA unrolls); relevance and
#    pairwise sims are rounded to 6dp in BOTH engines before the 0.5-
#    combination, so the per-step argmax agrees bit-for-bit ---------------

def _mmr_sql(k: int = 3, fetch_k: int = 8) -> str:
    pair_cos = (
        "round(list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])) / "
        "(sqrt(list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(ea.embedding AS DOUBLE[]))) * "
        "sqrt(list_dot_product(CAST(eb.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])))), 6)"
    )
    ctes = [
        f"""mscored AS MATERIALIZED (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_COS_SQL} AS cos_sim
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id % 50 = 0)""",
        f"""cand AS MATERIALIZED (
      SELECT query_id, neighbor_id, cos_sim FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cos_sim DESC, neighbor_id ASC) AS rn FROM mscored)
      WHERE rn <= {fetch_k})""",
        f"""prs AS MATERIALIZED (
      SELECT x.query_id, x.neighbor_id AS a, y.neighbor_id AS b, {pair_cos} AS sim
      FROM cand x JOIN cand y
        ON x.query_id = y.query_id AND x.neighbor_id <> y.neighbor_id
      JOIN embeddings ea ON ea.vec_id = x.neighbor_id
      JOIN embeddings eb ON eb.vec_id = y.neighbor_id)""",
        """sel1 AS MATERIALIZED (
      SELECT query_id, neighbor_id, 1 AS mmr_rank FROM (
        SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
          ORDER BY 0.5 * cos_sim DESC, neighbor_id ASC) AS rn FROM cand)
      WHERE rn = 1)""",
    ]
    for t in range(2, k + 1):
        ctes.append(f"""s{t} AS MATERIALIZED (
      SELECT query_id, neighbor_id, {t} AS mmr_rank FROM (
        SELECT c.query_id, c.neighbor_id, row_number() OVER (PARTITION BY c.query_id
          ORDER BY 0.5 * c.cos_sim - 0.5 * COALESCE(p.mx, 0) DESC,
                   c.neighbor_id ASC) AS rn
        FROM cand c
        LEFT JOIN (SELECT pr.query_id, pr.a, MAX(pr.sim) AS mx
                   FROM prs pr JOIN sel{t-1} s
                     ON pr.query_id = s.query_id AND pr.b = s.neighbor_id
                   GROUP BY pr.query_id, pr.a) p
          ON p.query_id = c.query_id AND p.a = c.neighbor_id
        WHERE NOT EXISTS (SELECT 1 FROM sel{t-1} s2
                          WHERE s2.query_id = c.query_id
                            AND s2.neighbor_id = c.neighbor_id))
      WHERE rn = 1)""")
        ctes.append(f"sel{t} AS MATERIALIZED (SELECT * FROM sel{t-1} "
                    f"UNION ALL SELECT * FROM s{t})")
    return ("WITH " + ",\n".join(ctes) + f"""
    SELECT s.query_id, s.neighbor_id, c.cos_sim, s.mmr_rank
    FROM sel{k} s JOIN cand c
      ON s.query_id = c.query_id AND s.neighbor_id = c.neighbor_id
    """)

_register(
    "sim_mmr_topk",
    lambda spark, sf: similarity.mmr_topk(
        load_table(spark, sf, "embeddings").filter(F.col("vec_id") % 50 == 0),
        load_table(spark, sf, "embeddings"),
        k=3, fetch_k=8,
    ),
    _mmr_sql(),
)

_SIGN_BUCKET_SQL = (
    "(SELECT COALESCE(SUM(CASE WHEN CAST({v}.embedding[d + 1] AS DOUBLE) > 0 "
    "THEN (1 << d) ELSE 0 END), 0) FROM (SELECT unnest(range(8)) AS d))"
)

_register(
    "sim_ann_lsh",
    lambda spark, sf: similarity.ann_lsh_topk(
        load_table(spark, sf, "embeddings").filter(F.col("vec_id") % 50 == 0),
        load_table(spark, sf, "embeddings"),
        k=5, n_bits=8,
    ),
    f"""
    WITH b AS (
      SELECT vec_id, embedding,
             CAST({_SIGN_BUCKET_SQL.format(v="e")} AS BIGINT) AS bucket
      FROM embeddings e
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_COS_SQL} AS cos_sim
      FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
      WHERE q.vec_id % 50 = 0
    ), ranked AS (
      SELECT *, CAST(row_number() OVER
        (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS INTEGER) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """,
)

def _sim_quantize(spark: SparkSession, sf: str) -> DataFrame:
    # int8 scalar quantization (functions/similarity.py quantize_embeddings):
    # the full code array is checked through an md5-48 fingerprint of its
    # comma-joined form (same repr both engines); scale rides as a double
    from hugegraph_on_tikv_spark.functions.hashing import md5_long48

    q = similarity.quantize_embeddings(load_table(spark, sf, "embeddings"))
    return q.select(
        "vec_id",
        md5_long48(F.concat_ws(
            ",", F.transform(F.col("codes"), lambda c: c.cast("string")))
        ).alias("codes_fp"),
        "scale",
    )


_register(
    "sim_quantize",
    _sim_quantize,
    f"""
    WITH am AS (
      SELECT vec_id,
        list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
      FROM embeddings
    ), q AS (
      SELECT e.vec_id,
        am.m / 127 AS scale,
        CASE WHEN am.m = 0
          THEN list_transform(e.embedding, x -> 0)
          ELSE list_transform(e.embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 127 / am.m + 0.5) AS INTEGER))
        END AS codes
      FROM embeddings e JOIN am USING (vec_id)
    )
    SELECT vec_id,
      {H48_SQL.format(x="array_to_string(codes, ',')")} AS codes_fp,
      scale
    FROM q
    """,
)


_register(
    "sim_quantized_topk",
    # the quantized store's scan path: top-k by int8-code cosine — every
    # intermediate an exact integer, so even the approximate score is
    # oracle-checkable (similarity.quantized_cosine_topk)
    lambda spark, sf: similarity.quantized_cosine_topk(
        load_table(spark, sf, "embeddings").filter(F.col("vec_id") % 50 == 0),
        load_table(spark, sf, "embeddings"), k=5),
    """
    WITH am AS (
      SELECT vec_id,
        list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
      FROM embeddings
    ), q AS (
      SELECT e.vec_id,
        CASE WHEN am.m = 0
          THEN list_transform(e.embedding, x -> 0)
          ELSE list_transform(e.embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 127 / am.m + 0.5) AS INTEGER))
        END AS codes
      FROM embeddings e JOIN am USING (vec_id)
    ), scored AS (
      SELECT qa.vec_id AS query_id, qb.vec_id AS neighbor_id,
        list_sum(list_transform(list_zip(qa.codes, qb.codes),
                                p -> CAST(p[1] AS BIGINT) * p[2])) AS d,
        list_sum(list_transform(qa.codes, x -> CAST(x AS BIGINT) * x)) AS nq,
        list_sum(list_transform(qb.codes, x -> CAST(x AS BIGINT) * x)) AS nc
      FROM q qa JOIN q qb ON qa.vec_id <> qb.vec_id
      WHERE qa.vec_id % 50 = 0
    ), qcos AS (
      SELECT query_id, neighbor_id,
        round(CASE WHEN nq = 0 OR nc = 0 THEN 0.0
              ELSE d / (sqrt(nq) * sqrt(nc)) END, 6) AS qcos_sim
      FROM scored
    ), ranked AS (
      SELECT query_id, neighbor_id, qcos_sim,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY qcos_sim DESC, neighbor_id ASC) AS INTEGER) AS rank
      FROM qcos
    )
    SELECT query_id, neighbor_id, qcos_sim, rank FROM ranked WHERE rank <= 5
    """,
)


_register(
    "sim_embedding_neardup",
    lambda spark, sf: similarity.embedding_near_duplicates(
        load_table(spark, sf, "embeddings"), threshold=0.4, n_bits=6
    ),
    f"""
    WITH b AS (
      SELECT vec_id, embedding,
             CAST((SELECT COALESCE(SUM(CASE WHEN CAST(e.embedding[d + 1] AS DOUBLE) > 0
                   THEN (1 << d) ELSE 0 END), 0) FROM (SELECT unnest(range(6)) AS d))
                  AS BIGINT) AS bucket
      FROM embeddings e
    ), pairs AS (
      SELECT q.vec_id AS vec_a, c.vec_id AS vec_b, {_COS_SQL} AS cos_sim
      FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id < c.vec_id
    )
    SELECT vec_a, vec_b, cos_sim FROM pairs WHERE cos_sim >= 0.4
    """,
)

# -- multimodal plumbing ----------------------------------------------------
# The decode stub is deterministic (byte-histogram of the sha256-seeded
# payload, multimodal.py) — so the oracle can recompute the full feature
# vector from sha256 hex: payload = digest×8, byte % 16 = the low nibble =
# every second hex char, hence feature[v] = count(low nibble == v)/32.
# Histogram values k/32 are exact binary fractions: float32 → double is
# lossless and both engines round identically.

def _mm_features(spark: SparkSession, sf: str) -> DataFrame:
    feats = extract_features(synthetic_media(spark, 64))
    cols = [F.round(F.element_at("feature", v + 1).cast("double"), 6).alias(f"f{v}")
            for v in range(16)]
    return feats.select("media_id", "kind", "n_bytes", *cols)

_HEXD = "0123456789abcdef"
_MM_FEATURE_COLS = ",\n           ".join(
    f"round(COALESCE(MAX(CASE WHEN c = '{_HEXD[v]}' THEN k END), 0) / 32.0, 6) AS f{v}"
    for v in range(16)
)

_register(
    "mm_extract_features",
    _mm_features,
    f"""
    WITH m AS (
      SELECT CAST(i AS BIGINT) AS media_id,
             CASE CAST(i % 3 AS INTEGER) WHEN 0 THEN 'image'
                  WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             sha256(CAST(i AS VARCHAR)) AS hex
      FROM range(64) t(i)
    ), nib AS (
      SELECT media_id, substr(hex, CAST(2 * (j + 1) AS INTEGER), 1) AS c
      FROM m CROSS JOIN (SELECT unnest(range(32)) AS j)
    ), hist AS (
      SELECT media_id, c, count(*) AS k FROM nib GROUP BY 1, 2
    )
    SELECT m.media_id, m.kind, CAST(256 AS BIGINT) AS n_bytes,
           {_MM_FEATURE_COLS}
    FROM m LEFT JOIN hist ON m.media_id = hist.media_id
    GROUP BY m.media_id, m.kind
    """,
)

# -- byte-level media dedup (codec-free; functions/multimodal.py) -----------
# Every hash is over the payload's LOWERCASE HEX string, so the oracle
# rebuilds the identical corpus from sha256 hex (payload = digest×8 ⇒
# hex = repeat(sha256_hex, 8)) and recomputes md5 fingerprints, 48-bit
# byte-n-gram SimHash signatures, and the 4×12-bit banded near-pairs
# bit-identically.  Three tagged parts: per-media signature, exact
# byte-duplicate groups, near-duplicate pairs (hamming ≤ 8).

def _mm_media_dedup(spark: SparkSession, sf: str) -> DataFrame:
    media = synthetic_media_with_dups(spark)
    sig = media_byte_simhash(media).selectExpr(
        "'sig' AS tag", "CAST(media_id AS DOUBLE) AS a",
        "CAST(NULL AS DOUBLE) AS b", "CAST(simhash AS DOUBLE) AS v",
        "CAST(NULL AS STRING) AS s")
    ex = media_exact_dup_groups(media).selectExpr(
        "'exact' AS tag", "CAST(canonical_id AS DOUBLE) AS a",
        "CAST(NULL AS DOUBLE) AS b", "CAST(n_copies AS DOUBLE) AS v",
        "fp AS s")
    pr = media_near_pairs(media, max_hamming=8).selectExpr(
        "'pair' AS tag", "CAST(media_a AS DOUBLE) AS a",
        "CAST(media_b AS DOUBLE) AS b", "CAST(hamming AS DOUBLE) AS v",
        "CAST(NULL AS STRING) AS s")
    return sig.unionByName(ex).unionByName(pr)

_register(
    "mm_media_dedup",
    _mm_media_dedup,
    f"""
    WITH base AS (
      SELECT CAST(i AS BIGINT) AS media_id,
             repeat(sha256(CAST(i AS VARCHAR)), 8) AS hx
      FROM range(64) t(i)
    ), media AS (
      SELECT media_id, hx FROM base
      UNION ALL
      SELECT 1000 + media_id, hx || substr(hx, 1, 8) FROM base WHERE media_id < 16
      UNION ALL
      SELECT 2000 + media_id, hx FROM base WHERE media_id < 8
    ), grams AS (
      SELECT media_id, substr(hx, CAST(2 * p + 1 AS INTEGER), 16) AS gram
      FROM (SELECT media_id, hx,
                   unnest(range(0, length(hx) // 2 - 7, 4)) AS p
            FROM media)
    ), bits AS (
      SELECT media_id, j, SUM(((({H48_SQL.format(x="gram")}) >> j) & 1) * 2 - 1) AS w
      FROM grams CROSS JOIN (SELECT unnest(range(48)) AS j) js
      GROUP BY media_id, j
    ), sig AS (
      SELECT media_id,
             CAST(SUM(CASE WHEN w > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM bits GROUP BY media_id
    ), fps AS (
      SELECT media_id, md5(hx) AS f FROM media
    ), exact AS (
      SELECT f, count(*) AS n_copies, min(media_id) AS canonical
      FROM fps GROUP BY f HAVING count(*) > 1
    ), chunks AS (
      SELECT media_id, simhash, c, (simhash >> CAST(c * 12 AS INTEGER)) & 4095 AS cb
      FROM sig CROSS JOIN (SELECT unnest(range(4)) AS c) cs
    ), pairs AS (
      SELECT DISTINCT a.media_id AS pa, b.media_id AS pb,
             bit_count(xor(a.simhash, b.simhash)) AS hamming
      FROM chunks a JOIN chunks b
        ON a.c = b.c AND a.cb = b.cb AND a.media_id < b.media_id
    )
    SELECT 'sig' AS tag, CAST(media_id AS DOUBLE) AS a, CAST(NULL AS DOUBLE) AS b,
           CAST(simhash AS DOUBLE) AS v, CAST(NULL AS VARCHAR) AS s FROM sig
    UNION ALL
    SELECT 'exact', CAST(canonical AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(n_copies AS DOUBLE), f FROM exact
    UNION ALL
    SELECT 'pair', CAST(pa AS DOUBLE), CAST(pb AS DOUBLE), CAST(hamming AS DOUBLE),
           CAST(NULL AS VARCHAR) FROM pairs WHERE hamming <= 8
    """,
)

# -- REAL codec round-trip stats (functions/multimodal.py image_stats /
#    audio_frames over the pure-Python BMP/WAV codecs).  Payloads are
#    synthesized from integer FORMULAS; the oracle recomputes every frame
#    statistic directly from the same formulas in SQL — so a hash match
#    certifies the entire encode → decode → stats path reproduces the
#    formula bit-exactly (byte layout, row padding, channel fold, frame
#    split), with no decoder on the oracle side at all.

def _mm_real_codec_stats(spark: SparkSession, sf: str) -> DataFrame:
    import numpy as np

    from hugegraph_on_tikv_spark.functions.multimodal import (
        audio_frames, encode_bmp, encode_png, encode_wav, image_stats)

    rows = []
    for i, n in ((0, 1500), (1, 2200)):
        j = np.arange(n, dtype=np.int64)
        s = ((j * (3 + 2 * i) + i) % 19) * 50 - 450
        rows.append((100 + i, bytearray(encode_wav(s.astype(np.int16)))))
    # IMA ADPCM (r9): REAL compressed audio — 4-bit adaptive-differential
    # blocks (3 blocks: two full + one padded partial, fact-chunk crop).
    # The codec is lossy but an EXACT integer state machine, so the oracle
    # replays encoder+decoder per sample with a recursive CTE and the
    # frame stats hash-match certifies the whole encode → decode path.
    from hugegraph_on_tikv_spark.functions.multimodal import encode_wav_adpcm
    j = np.arange(2200, dtype=np.int64)
    s = ((j * 7 + 3) % 23) * 120 - 1300
    rows.append((102, bytearray(encode_wav_adpcm(s.astype(np.int16),
                                                 block_samples=1017))))
    # Rice-coded LOSSLESS audio (r9, the FLAC recipe: fixed predictors +
    # Golomb-Rice residuals).  decode(encode(s)) == s exactly, so the
    # oracle computes frame stats straight from the sample formula — the
    # hash match certifies the entire entropy-coded round trip.
    from hugegraph_on_tikv_spark.functions.multimodal import encode_wav_rice
    j = np.arange(2000, dtype=np.int64)
    s = ((j * 11 + 5) % 29) * 90 - 1250
    rows.append((103, bytearray(encode_wav_rice(s.astype(np.int16),
                                                block_samples=512))))
    for i, (h, w) in ((0, (5, 7)), (1, (6, 6))):
        t = np.arange(h * w * 3, dtype=np.int64)
        rgb = ((t * 37 + 11 + i) % 256).astype(np.uint8).reshape(h, w, 3)
        rows.append((200 + i, bytearray(encode_bmp(rgb))))
    # PNG: the REAL inflate+unfilter path — RGB cycling ALL five row
    # filters, and grayscale (luma of a replicated gray g is exactly g).
    # Same contract as BMP: oracle recomputes from the pixel formulas.
    t = np.arange(7 * 5 * 3, dtype=np.int64)
    rgb = ((t * 53 + 7) % 256).astype(np.uint8).reshape(7, 5, 3)
    rows.append((300, bytearray(encode_png(rgb, filters=[0, 1, 2, 3, 4]))))
    t = np.arange(9 * 4, dtype=np.int64)
    gray = ((t * 29 + 3) % 256).astype(np.uint8).reshape(9, 4)
    rows.append((301, bytearray(encode_png(gray, filters=[4, 3, 2, 1, 0]))))
    # GIF: the multi-frame REAL LZW path — 3 formula frames over a formula
    # palette, per-frame luma stats recomputed by the oracle
    from hugegraph_on_tikv_spark.functions.multimodal import (
        encode_gif, video_frame_stats)
    i = np.arange(256, dtype=np.int64)
    pal = np.stack([(i * 7 + 1) % 256, (i * 11 + 3) % 256,
                    (i * 13 + 5) % 256], axis=1).astype(np.uint8)
    p = np.arange(6 * 5, dtype=np.int64)
    gif_frames = [((p * 5 + f * 9 + 2) % 256).astype(np.uint8).reshape(6, 5)
                  for f in range(3)]
    rows.append((400, bytearray(encode_gif(gif_frames, pal))))
    # JPEG: the REAL entropy-coded path (r9) — block-constant grayscale
    # mosaics are DC-only in DCT space, so the all-ones-quant round trip is
    # BIT-EXACT (Huffman + DPCM + stuffing all exercised) and the oracle
    # recomputes luma from the block formula with no decoder; 501 also
    # exercises the non-multiple-of-8 edge-replication padding path.
    from hugegraph_on_tikv_spark.functions.multimodal import encode_jpeg
    ones = np.ones((8, 8), dtype=np.int64)
    for mid, (h, w, per_row, mul, add) in ((500, (16, 24, 3, 40, 23)),
                                           (501, (11, 13, 2, 60, 17))):
        r, c = np.mgrid[0:h, 0:w]
        gray = (((r // 8) * per_row + (c // 8)) * mul + add).astype(np.uint8)
        rows.append((mid, bytearray(encode_jpeg(gray, quant_luma=ones))))
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    vf = video_frame_stats(media).select(
        F.lit("video").alias("kind"), "media_id", "frame",
        F.col("sum_luma").alias("v1"),
        F.col("min_luma").cast("long").alias("v2"),
        F.col("max_luma").cast("long").alias("v3"))
    af = audio_frames(media, frame_len=1024).select(
        F.lit("audio").alias("kind"), "media_id", "frame",
        F.col("sum_abs").alias("v1"),
        F.col("max_abs").cast("long").alias("v2"),
        F.col("zero_crossings").cast("long").alias("v3"))
    ist = image_stats(media)
    im = ist.select(
        F.lit("image").alias("kind"), "media_id",
        F.lit(-1).alias("frame"), F.col("sum_luma").alias("v1"),
        F.col("min_luma").cast("long").alias("v2"),
        F.col("max_luma").cast("long").alias("v3"))
    dim = ist.select(
        F.lit("imagedim").alias("kind"), "media_id",
        F.lit(-1).alias("frame"), F.col("width").cast("long").alias("v1"),
        F.col("height").cast("long").alias("v2"), F.col("n_pixels").alias("v3"))
    return af.unionByName(im).unionByName(dim).unionByName(vf)

# 89-entry IMA ADPCM step table (shared by the recursive decode replay)
_IMA_STEPS_SQL = (
    "7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,"
    "73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,"
    "408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,"
    "1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,"
    "7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,"
    "22385,24623,27086,29794,32767")

_register(
    "mm_real_codec_stats",
    _mm_real_codec_stats,
    f"""
    WITH RECURSIVE am(i, n) AS (VALUES (0, 1500), (1, 2200)),
    asamp AS (
      SELECT am.i, t.range AS j,
             ((t.range * (3 + 2 * am.i) + am.i) % 19) * 50 - 450 AS s
      FROM am, range(2200) t WHERE t.range < am.n
    ),
    af AS (
      SELECT i, CAST(j // 1024 AS INTEGER) AS frame, s,
             lag(s) OVER (PARTITION BY i, j // 1024 ORDER BY j) AS ps
      FROM asamp
    ),
    audio_rows AS (
      SELECT 'audio' AS kind, CAST(100 + i AS BIGINT) AS media_id, frame,
             CAST(SUM(abs(s)) AS BIGINT) AS v1,
             CAST(MAX(abs(s)) AS BIGINT) AS v2,
             CAST(SUM(CASE WHEN ps IS NOT NULL AND ((s < 0) <> (ps < 0))
                           THEN 1 ELSE 0 END) AS BIGINT) AS v3
      FROM af GROUP BY i, frame
    ),
    im(i, h, w) AS (VALUES (0, 5, 7), (1, 6, 6)),
    pix AS (
      SELECT im.i,
             (299 * (((t.range * 3 + 0) * 37 + 11 + im.i) % 256)
            + 587 * (((t.range * 3 + 1) * 37 + 11 + im.i) % 256)
            + 114 * (((t.range * 3 + 2) * 37 + 11 + im.i) % 256)) // 1000
             AS luma
      FROM im, range(42) t WHERE t.range < im.h * im.w
    ),
    image_rows AS (
      SELECT 'image' AS kind, CAST(200 + i AS BIGINT) AS media_id,
             CAST(-1 AS INTEGER) AS frame,
             CAST(SUM(luma) AS BIGINT) AS v1,
             CAST(MIN(luma) AS BIGINT) AS v2,
             CAST(MAX(luma) AS BIGINT) AS v3
      FROM pix GROUP BY i
    ),
    dim_rows AS (
      SELECT 'imagedim' AS kind, CAST(200 + i AS BIGINT) AS media_id,
             CAST(-1 AS INTEGER) AS frame,
             CAST(w AS BIGINT) AS v1, CAST(h AS BIGINT) AS v2,
             CAST(h * w AS BIGINT) AS v3
      FROM im
    ),
    png_pix AS (
      SELECT (299 * (((t.range * 3 + 0) * 53 + 7) % 256)
            + 587 * (((t.range * 3 + 1) * 53 + 7) % 256)
            + 114 * (((t.range * 3 + 2) * 53 + 7) % 256)) // 1000 AS luma
      FROM range(35) t
    ),
    png_gray AS (
      SELECT (t.range * 29 + 3) % 256 AS luma FROM range(36) t
    ),
    png_rows AS (
      SELECT 'image' AS kind, CAST(300 AS BIGINT) AS media_id,
             CAST(-1 AS INTEGER) AS frame,
             CAST(SUM(luma) AS BIGINT) AS v1,
             CAST(MIN(luma) AS BIGINT) AS v2,
             CAST(MAX(luma) AS BIGINT) AS v3
      FROM png_pix
      UNION ALL
      SELECT 'image', CAST(301 AS BIGINT), CAST(-1 AS INTEGER),
             CAST(SUM(luma) AS BIGINT), CAST(MIN(luma) AS BIGINT),
             CAST(MAX(luma) AS BIGINT)
      FROM png_gray
    ),
    gif_px AS (
      SELECT f.f AS frame,
             (299 * ((((t.range * 5 + f.f * 9 + 2) % 256) * 7 + 1) % 256)
            + 587 * ((((t.range * 5 + f.f * 9 + 2) % 256) * 11 + 3) % 256)
            + 114 * ((((t.range * 5 + f.f * 9 + 2) % 256) * 13 + 5) % 256))
             // 1000 AS luma
      FROM range(30) t, (SELECT unnest(range(3)) AS f) f
    ),
    gif_rows AS (
      SELECT 'video' AS kind, CAST(400 AS BIGINT) AS media_id,
             CAST(frame AS INTEGER) AS frame,
             CAST(SUM(luma) AS BIGINT) AS v1,
             CAST(MIN(luma) AS BIGINT) AS v2,
             CAST(MAX(luma) AS BIGINT) AS v3
      FROM gif_px GROUP BY frame
    ),
    png_dims AS (
      SELECT 'imagedim' AS kind, CAST(300 AS BIGINT) AS media_id,
             CAST(-1 AS INTEGER) AS frame, CAST(5 AS BIGINT) AS v1,
             CAST(7 AS BIGINT) AS v2, CAST(35 AS BIGINT) AS v3
      UNION ALL
      SELECT 'imagedim', CAST(301 AS BIGINT), CAST(-1 AS INTEGER),
             CAST(4 AS BIGINT), CAST(9 AS BIGINT), CAST(36 AS BIGINT)
    ),
    jpeg_imgs(id, h, w, pr, mul, ad) AS (
      VALUES (500, 16, 24, 3, 40, 23), (501, 11, 13, 2, 60, 17)
    ),
    jpeg_px AS (
      SELECT id,
             ((((t.range // w) // 8) * pr + ((t.range % w) // 8)) * mul + ad)
               % 256 AS luma
      FROM jpeg_imgs, range(384) t WHERE t.range < h * w
    ),
    jpeg_rows AS (
      SELECT 'image' AS kind, CAST(id AS BIGINT) AS media_id,
             CAST(-1 AS INTEGER) AS frame,
             CAST(SUM(luma) AS BIGINT) AS v1,
             CAST(MIN(luma) AS BIGINT) AS v2,
             CAST(MAX(luma) AS BIGINT) AS v3
      FROM jpeg_px GROUP BY id
    ),
    jpeg_dims AS (
      SELECT 'imagedim' AS kind, CAST(id AS BIGINT) AS media_id,
             CAST(-1 AS INTEGER) AS frame, CAST(w AS BIGINT) AS v1,
             CAST(h AS BIGINT) AS v2, CAST(h * w AS BIGINT) AS v3
      FROM jpeg_imgs
    ),
    rsamp AS (
      SELECT t.range AS j, ((t.range * 11 + 5) % 29) * 90 - 1250 AS s
      FROM range(2000) t
    ),
    rfr AS (
      SELECT j // 1024 AS frame, s,
             lag(s) OVER (PARTITION BY j // 1024 ORDER BY j) AS ps
      FROM rsamp
    ),
    rice_rows AS (
      SELECT 'audio' AS kind, CAST(103 AS BIGINT) AS media_id,
             CAST(frame AS INTEGER) AS frame,
             CAST(SUM(abs(s)) AS BIGINT) AS v1,
             CAST(MAX(abs(s)) AS BIGINT) AS v2,
             CAST(SUM(CASE WHEN ps IS NOT NULL AND ((s < 0) <> (ps < 0))
                           THEN 1 ELSE 0 END) AS BIGINT) AS v3
      FROM rfr GROUP BY frame
    ),
    adsig AS (
      SELECT CAST(t.range AS BIGINT) AS j,
             ((t.range * 7 + 3) % 23) * 120 - 1300 AS x
      FROM range(2200) t
    ),
    addec(j, p, idx) AS (
      SELECT CAST(0 AS BIGINT), (SELECT x FROM adsig WHERE j = 0), 0
      UNION ALL
      SELECT s.j,
        CASE WHEN s.j % 1017 = 0 THEN s.x
             ELSE greatest(-32768, least(32767,
                  d.p + CASE WHEN s.x < d.p THEN -l3.vp ELSE l3.vp END))
        END,
        CASE WHEN s.j % 1017 = 0 THEN d.idx
             ELSE greatest(0, least(88,
                  d.idx + ([-1,-1,-1,-1,2,4,6,8])[l3.n3 + 1]))
        END
      FROM addec d
      JOIN adsig s ON s.j = d.j + 1,
      LATERAL (SELECT ([{_IMA_STEPS_SQL}])[d.idx + 1] AS step,
                      abs(s.x - d.p) AS ad) l1,
      LATERAL (SELECT CASE WHEN l1.ad >= l1.step THEN 1 ELSE 0 END AS b4,
                      l1.ad - (CASE WHEN l1.ad >= l1.step THEN 1 ELSE 0 END)
                            * l1.step AS r1) l2,
      LATERAL (SELECT CASE WHEN l2.r1 >= l1.step // 2 THEN 1 ELSE 0 END AS b2,
                      l1.step // 8 + l2.b4 * l1.step
                        + (CASE WHEN l2.r1 >= l1.step // 2 THEN 1 ELSE 0 END)
                          * (l1.step // 2)
                        + (CASE WHEN l2.r1 - (CASE WHEN l2.r1 >= l1.step // 2
                             THEN 1 ELSE 0 END) * (l1.step // 2)
                             >= l1.step // 4 THEN 1 ELSE 0 END)
                          * (l1.step // 4) AS vp,
                      l2.b4 * 4
                        + (CASE WHEN l2.r1 >= l1.step // 2
                           THEN 1 ELSE 0 END) * 2
                        + (CASE WHEN l2.r1 - (CASE WHEN l2.r1 >= l1.step // 2
                             THEN 1 ELSE 0 END) * (l1.step // 2)
                             >= l1.step // 4 THEN 1 ELSE 0 END) AS n3) l3
    ),
    adframes AS (
      SELECT j // 1024 AS frame, p,
             lag(p) OVER (PARTITION BY j // 1024 ORDER BY j) AS ps
      FROM addec
    ),
    adpcm_rows AS (
      SELECT 'audio' AS kind, CAST(102 AS BIGINT) AS media_id,
             CAST(frame AS INTEGER) AS frame,
             CAST(SUM(abs(p)) AS BIGINT) AS v1,
             CAST(MAX(abs(p)) AS BIGINT) AS v2,
             CAST(SUM(CASE WHEN ps IS NOT NULL AND ((p < 0) <> (ps < 0))
                           THEN 1 ELSE 0 END) AS BIGINT) AS v3
      FROM adframes GROUP BY frame
    )
    SELECT * FROM audio_rows
    UNION ALL SELECT * FROM adpcm_rows
    UNION ALL SELECT * FROM rice_rows
    UNION ALL SELECT * FROM image_rows
    UNION ALL SELECT * FROM dim_rows
    UNION ALL SELECT * FROM png_rows
    UNION ALL SELECT * FROM png_dims
    UNION ALL SELECT * FROM gif_rows
    UNION ALL SELECT * FROM jpeg_rows
    UNION ALL SELECT * FROM jpeg_dims
    """,
)

# -- perceptual (decoded-pixel) image dedup (functions/multimodal.py
#    image_dhash / image_near_pairs): the planted pair 500 (BMP) / 501 (PNG)
#    encodes the SAME formula pixels in different containers — byte-level
#    dedup provably misses it (disjoint bytes; pytest-pinned), the dHash
#    pair lands at hamming 0.  502 perturbs the first pixel row (hamming 2,
#    band-colliding); 503 is a distinct formula (hamming 21, no pair).  The
#    oracle recomputes every 48-bit signature FROM THE PIXEL FORMULAS
#    (integer luma -> block sums -> cross-multiplied comparisons) with no
#    decoder at all, then replays the 4×12-bit banded pair join — a hash
#    match certifies the whole encode -> decode -> dhash path. -------------

def _mm_phash_dedup(spark: SparkSession, sf: str) -> DataFrame:
    import numpy as np

    from hugegraph_on_tikv_spark.functions.multimodal import (
        encode_bmp, encode_png, image_dhash, image_near_pairs)

    t = np.arange(11 * 13 * 3, dtype=np.int64)
    base = ((t * 37 + 11) % 256).astype(np.uint8).reshape(11, 13, 3)
    pert = base.copy()
    pert.reshape(-1)[:39] = 255
    t2 = np.arange(10 * 12 * 3, dtype=np.int64)
    other = ((t2 * 53 + 7) % 256).astype(np.uint8).reshape(10, 12, 3)
    media = spark.createDataFrame(
        [(500, bytearray(encode_bmp(base))),
         (501, bytearray(encode_png(base, filters=[0, 1, 2, 3, 4]))),
         (502, bytearray(encode_bmp(pert))),
         (503, bytearray(encode_png(other, filters=[4, 2])))],
        "media_id long, payload binary")
    sig = image_dhash(media).selectExpr(
        "'phash_sig' AS tag", "CAST(media_id AS DOUBLE) AS a",
        "CAST(NULL AS DOUBLE) AS b", "CAST(dhash AS DOUBLE) AS v",
        "CAST(width AS DOUBLE) AS w", "CAST(height AS DOUBLE) AS h")
    pr = image_near_pairs(media, max_hamming=6).selectExpr(
        "'phash_pair' AS tag", "CAST(media_a AS DOUBLE) AS a",
        "CAST(media_b AS DOUBLE) AS b", "CAST(hamming AS DOUBLE) AS v",
        "CAST(NULL AS DOUBLE) AS w", "CAST(NULL AS DOUBLE) AS h")
    return sig.unionByName(pr)


_register(
    "mm_phash_dedup",
    _mm_phash_dedup,
    """
    WITH imgs(id, h, w) AS (VALUES (500, 11, 13), (501, 11, 13),
                                   (502, 11, 13), (503, 10, 12)),
    px AS (
      SELECT id, h, w, t.range AS k,
             CAST(t.range // w AS BIGINT) AS r,
             CAST(t.range % w AS BIGINT) AS c
      FROM imgs, range(143) t WHERE t.range < h * w
    ),
    luma AS (
      SELECT id, h, w, r, c,
             (299 * rv + 587 * gv + 114 * bv) // 1000 AS y
      FROM (
        SELECT id, h, w, r, c,
               CASE WHEN id IN (500, 501) THEN ((3 * k + 0) * 37 + 11) % 256
                    WHEN id = 502 THEN CASE WHEN 3 * k + 0 < 39 THEN 255
                         ELSE ((3 * k + 0) * 37 + 11) % 256 END
                    ELSE ((3 * k + 0) * 53 + 7) % 256 END AS rv,
               CASE WHEN id IN (500, 501) THEN ((3 * k + 1) * 37 + 11) % 256
                    WHEN id = 502 THEN CASE WHEN 3 * k + 1 < 39 THEN 255
                         ELSE ((3 * k + 1) * 37 + 11) % 256 END
                    ELSE ((3 * k + 1) * 53 + 7) % 256 END AS gv,
               CASE WHEN id IN (500, 501) THEN ((3 * k + 2) * 37 + 11) % 256
                    WHEN id = 502 THEN CASE WHEN 3 * k + 2 < 39 THEN 255
                         ELSE ((3 * k + 2) * 37 + 11) % 256 END
                    ELSE ((3 * k + 2) * 53 + 7) % 256 END AS bv
        FROM px)
    ),
    bsum AS (
      SELECT id, (r * 6) // h AS br, (c * 9) // w AS bc,
             CAST(SUM(y) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
      FROM luma GROUP BY id, (r * 6) // h, (c * 9) // w
    ),
    bits AS (
      SELECT a.id, a.br, a.bc,
             CASE WHEN a.s * b.n > b.s * a.n THEN 1 ELSE 0 END AS bit
      FROM bsum a JOIN bsum b ON a.id = b.id AND a.br = b.br
                             AND b.bc = a.bc + 1
      WHERE a.bc < 8
    ),
    sig AS (
      SELECT id, CAST(SUM(CAST(bit AS BIGINT)
                           << CAST(br * 8 + bc AS INTEGER)) AS BIGINT) AS dh
      FROM bits GROUP BY id
    ),
    dims AS (SELECT id, h, w FROM imgs),
    chunks AS (
      SELECT id, dh, cs.c, (dh >> CAST(cs.c * 12 AS INTEGER)) & 4095 AS cb
      FROM sig CROSS JOIN (SELECT unnest(range(4)) AS c) cs
    ),
    pairs AS (
      SELECT DISTINCT a.id AS pa, b.id AS pb,
             bit_count(xor(a.dh, b.dh)) AS hamming
      FROM chunks a JOIN chunks b
        ON a.c = b.c AND a.cb = b.cb AND a.id < b.id
    )
    SELECT 'phash_sig' AS tag, CAST(s.id AS DOUBLE) AS a,
           CAST(NULL AS DOUBLE) AS b, CAST(s.dh AS DOUBLE) AS v,
           CAST(d.w AS DOUBLE) AS w, CAST(d.h AS DOUBLE) AS h
    FROM sig s JOIN dims d ON s.id = d.id
    UNION ALL
    SELECT 'phash_pair', CAST(pa AS DOUBLE), CAST(pb AS DOUBLE),
           CAST(hamming AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE)
    FROM pairs WHERE hamming <= 6
    """,
)

# -- stream-stream interval join (batch twin; streaming form + state-bound
#    watermark semantics in streaming/stream_joins.py, equality tested in
#    tests/test_streaming.py) ------------------------------------------------

from hugegraph_on_tikv_spark.streaming import stream_joins as _stream_joins

_register(
    "win_attribution_join",
    lambda spark, sf: _stream_joins.attribution_join(
        load_events(spark, sf).filter(F.col("event_type") == "click"),
        load_events(spark, sf).filter(F.col("event_type") == "view"),
        within="10 minutes",
    ),
    """
    WITH ev AS (
      SELECT event_id, user_id, event_type, date_trunc('microseconds', ts) AS ts
      FROM events
    )
    SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id,
           CAST(date_diff('microsecond', v.ts, c.ts) AS BIGINT) AS lag_us
    FROM ev c JOIN ev v ON c.user_id = v.user_id
    WHERE c.event_type = 'click' AND v.event_type = 'view'
      AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL '10 minutes'
    """,
)

_register(
    "win_attribution_outer",
    # left-outer interval join: every click, NULL view when no view fell in
    # its 10-minute window (the streaming twin's watermark-expiry emission,
    # stream_joins.stream_attribution_join(how='leftOuter'))
    lambda spark, sf: _stream_joins.attribution_join_outer(
        load_events(spark, sf).filter(F.col("event_type") == "click"),
        load_events(spark, sf).filter(F.col("event_type") == "view"),
        within="10 minutes",
    ),
    """
    WITH ev AS (
      SELECT event_id, user_id, event_type, date_trunc('microseconds', ts) AS ts
      FROM events
    ),
    c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
          FROM ev WHERE event_type = 'click'),
    v AS (SELECT event_id AS view_id, user_id AS v_user_id, ts AS view_ts
          FROM ev WHERE event_type = 'view')
    SELECT c.click_id, v.view_id, c.user_id,
           CAST(date_diff('microsecond', v.view_ts, c.click_ts) AS BIGINT) AS lag_us
    FROM c LEFT JOIN v
      ON c.user_id = v.v_user_id AND v.view_ts <= c.click_ts
     AND v.view_ts >= c.click_ts - INTERVAL '10 minutes'
    """,
)

_register(
    "win_attribution_full",
    # FULL-OUTER interval join: + never-attributed views with NULL click
    # columns (stream twin: stream_attribution_join(how='fullOuter'))
    lambda spark, sf: _stream_joins.attribution_join_full(
        load_events(spark, sf).filter(F.col("event_type") == "click"),
        load_events(spark, sf).filter(F.col("event_type") == "view"),
        within="10 minutes",
    ),
    """
    WITH ev AS (
      SELECT event_id, user_id, event_type, date_trunc('microseconds', ts) AS ts
      FROM events
    ),
    c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
          FROM ev WHERE event_type = 'click'),
    v AS (SELECT event_id AS view_id, user_id AS v_user_id, ts AS view_ts
          FROM ev WHERE event_type = 'view')
    SELECT c.click_id, v.view_id,
           COALESCE(c.user_id, v.v_user_id) AS user_id,
           CAST(date_diff('microsecond', v.view_ts, c.click_ts) AS BIGINT) AS lag_us
    FROM c FULL JOIN v
      ON c.user_id = v.v_user_id AND v.view_ts <= c.click_ts
     AND v.view_ts >= c.click_ts - INTERVAL '10 minutes'
    """,
)

# -- as-of join (operators/joins.py): last view at-or-before each click per
#    user — the time-series lookup Spark lacks natively, built as
#    union+window carry-forward (one shuffle).  The view side pre-aggregates
#    to one row per (user_id, ts) so 'the' as-of row is well-defined; the
#    oracle is DuckDB's native ASOF JOIN. ------------------------------------

def _asof_last_view(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_events(spark, sf)
    clicks = ev.filter(F.col("event_type") == "click") \
        .select("event_id", "user_id", "ts")
    views = (ev.filter(F.col("event_type") == "view")
             .groupBy("user_id", "ts").agg(F.max("event_id").alias("view_id")))
    out = joins.asof_join(clicks, views, "user_id", "ts", ["view_id"])
    return out.select(
        F.col("event_id").alias("click_id"), "user_id",
        _ts(F.col("ts")).alias("click_ts"),
        _ts(F.col("ts_right")).alias("view_ts"),
        F.col("view_id_right").alias("view_id"),
    )

_register(
    "asof_last_view",
    _asof_last_view,
    """
    WITH ev AS (
      SELECT event_id, user_id, event_type, date_trunc('microseconds', ts) AS ts
      FROM events
    ),
    c AS (SELECT event_id, user_id, ts FROM ev WHERE event_type = 'click'),
    v AS (SELECT user_id, ts, max(event_id) AS view_id
          FROM ev WHERE event_type = 'view' GROUP BY 1, 2)
    SELECT c.event_id AS click_id, c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
           v.view_id
    FROM c ASOF JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts
    """,
)

# -- windows (batch twins of the streaming operators) -----------------------

_register(
    "win_sliding",
    lambda spark, sf: windows.sliding_counts(load_events(spark, sf), "1 hour", "15 minutes")
    .select(_ts("window_start").alias("window_start"), "n_events"),
    """
    WITH w AS (
      SELECT time_bucket(INTERVAL '15 minutes', ts)
               - CAST(i AS INTEGER) * INTERVAL '15 minutes' AS window_start
      FROM events CROSS JOIN (SELECT unnest(range(4)) AS i)
    )
    SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           CAST(count(*) AS BIGINT) AS n_events
    FROM w GROUP BY window_start
    """,
)

_register(
    "win_session",
    lambda spark, sf: windows.session_windows(load_events(spark, sf), "5 minutes")
    .select(
        _ts("session_start").alias("session_start"),
        _ts("session_end").alias("session_end"),
        "user_id",
        "n_events",
    ),
    """
    WITH ev AS (
      SELECT user_id, date_trunc('microseconds', ts) AS ts FROM events
    ), flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       <= INTERVAL '5 minutes' THEN 0 ELSE 1 END AS new_session
      FROM ev
    ), numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts) + INTERVAL '5 minutes', '%Y-%m-%d %H:%M:%S') AS session_end,
           user_id, CAST(count(*) AS BIGINT) AS n_events
    FROM numbered GROUP BY user_id, session_id
    """,
)

# ===========================================================================
# wave 3: adjacency scans, residual-filter semantics, collection predicates,
# set operations, rollup, more TPC-H, labeled traversal, splits metadata
# ===========================================================================

# -- S6 as the reference really uses it: adjacency prefix scan
#    (out-edges of one vertex = prefix scan on the 'o'+edge table,
#    TikvTables.java:128-140) ------------------------------------------------

_ADJ_V = _vid("customer", 7)

_register(
    "s6_adjacency_scan",
    lambda spark, sf: traversal.out_edges(
        GraphStore(spark, sf).edges(), [_ADJ_V], label="placed"
    ).select("src", "dst", _ts("orderdate").alias("orderdate")),
    f"""
    WITH {graph_ctes()}
    SELECT src, dst, strftime(orderdate, '%Y-%m-%d %H:%M:%S') AS orderdate
    FROM edges WHERE label = 'placed' AND src = {_ADJ_V}
    """,
)

# -- F2: the ≤-prefix-truncation residual semantic (TikvStdSessions.java:
#    622-658): inclusive upper bound on the indexed VALUE, any element id ---

_register(
    "f2_lte_prefix_bound",
    lambda spark, sf: indexes.range_query(
        indexes.range_index(load_table(spark, sf, "customer"), "c_acctbal", "c_custkey"),
        lo=1000.0, hi=5000.0, inclusive_lo=False, inclusive_hi=True,
    ),
    """
    SELECT c_acctbal AS field_value, c_custkey AS element_id FROM customer
    WHERE c_acctbal > 1000.0 AND c_acctbal <= 5000.0
    """,
)

# -- TEXT_CONTAINS condition (search-index relation; TikvFeatures declares
#    it unsupported at the KV layer — our engine evaluates it natively) -----

_register(
    "f_text_contains",
    lambda spark, sf: QueryEngine(load_table(spark, sf, "documents"), key="doc_id").query(
        ConditionQuery(table="documents",
                       conditions=[Condition("text", Op.TEXT_CONTAINS, "vector")])
    ).select("doc_id"),
    """
    SELECT doc_id FROM documents
    WHERE list_contains(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                    x -> x <> ''), 'vector')
    """,
)

# -- CONTAINS_KEY + map-value condition on parsed JSON props
#    (TikvFeatures.java:71-79: unsupported in the reference backend,
#    evaluated upstream — native here) --------------------------------------

def _f_contains_key(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_events(spark, sf).withColumn(
        "props_map", F.from_json(F.col("props"), "map<string,int>")
    )
    eng = QueryEngine(ev, key="event_id")
    out = eng.query(ConditionQuery(table="events",
                                   conditions=[Condition("props_map", Op.CONTAINS_KEY, "k")]))
    return (
        out.withColumn("k_value", F.element_at("props_map", "k"))
        .filter(F.col("k_value") >= 95)
        .select("event_id", "k_value")
    )

_register(
    "f_contains_key",
    _f_contains_key,
    """
    SELECT event_id, CAST(json_extract(props, '$.k') AS INTEGER) AS k_value
    FROM events
    WHERE json_extract(props, '$.k') IS NOT NULL
      AND CAST(json_extract(props, '$.k') AS INTEGER) >= 95
    """,
)

# -- set operations (absent in the reference, SURVEY §2.6; Spark-native) ----

_register(
    "set_intersect",
    lambda spark, sf: load_table(spark, sf, "customer")
    .filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    .intersect(
        load_table(spark, sf, "customer").filter(F.col("c_acctbal") > 5000).select("c_custkey")
    ),
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    """,
)

_register(
    "set_except",
    lambda spark, sf: load_table(spark, sf, "orders").select(F.col("o_custkey").alias("c_custkey"))
    .distinct()
    .exceptAll(
        load_table(spark, sf, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    ),
    """
    SELECT DISTINCT o_custkey AS c_custkey FROM orders
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)

# -- ROLLUP (absent in reference; free in Spark/DuckDB) ---------------------

_register(
    "agg_rollup",
    lambda spark, sf: load_table(spark, sf, "lineitem")
    .rollup("l_returnflag", "l_linestatus")
    .agg(F.count(F.lit(1)).alias("n"), _money(F.col("l_extendedprice")).alias("sum_base_price")),
    """
    SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
           SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)

# -- PIVOT (relational crosstab; absent in reference).  The wide pivot plan
#    executes (groupBy().pivot() with an explicit value list — no extra
#    distinct-values job), then stack() melts it back to long form so the
#    row fuses into agg_grouping_sets and value-checks — a NULL cell
#    (empty group) melts to a NULL sum, also checked. ------------------------

def _agg_pivot(spark: SparkSession, sf: str) -> DataFrame:
    wide = (
        load_table(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(_money(F.col("l_extendedprice")))
    )
    return wide.select(
        "l_returnflag",
        F.expr("stack(2, 'F', `F`, 'O', `O`) AS (l_linestatus, sum_base_price)"))

_register(
    "agg_pivot",
    _agg_pivot,
    """
    WITH wide AS (
      SELECT l_returnflag,
             SUM(CASE WHEN l_linestatus = 'F'
                 THEN CAST(round(l_extendedprice * 100) AS BIGINT) END) / 100.0 AS v_f,
             SUM(CASE WHEN l_linestatus = 'O'
                 THEN CAST(round(l_extendedprice * 100) AS BIGINT) END) / 100.0 AS v_o
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'F' AS l_linestatus, v_f AS sum_base_price FROM wide
    UNION ALL
    SELECT l_returnflag, 'O' AS l_linestatus, v_o AS sum_base_price FROM wide
    """,
)

# -- TPC-H Q6 (pure scan+filter+agg — the pushdown showcase) ----------------

_register(
    "q6_forecast_revenue",
    lambda spark, sf: load_table(spark, sf, "lineitem")
    .filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
        & (F.col("l_discount") >= 0.02) & (F.col("l_discount") <= 0.04)
        & (F.col("l_quantity") < 24)
    )
    .agg(
        (F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")
               * F.round(F.col("l_discount") * 100).cast("long")) / F.lit(10000.0))
        .alias("revenue")
    ),
    """
    SELECT SUM(CAST(round(l_extendedprice * 100) AS BIGINT) *
               CAST(round(l_discount * 100) AS BIGINT)) / 10000.0 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 24
    """,
)

# -- TPC-H Q10-style: top returned-revenue customers ------------------------

def _q10(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    revenue_c = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(100).cast("long") - F.round(F.col("l_discount") * 100).cast("long")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg((F.sum(revenue_c) / F.lit(10000.0)).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )

_register(
    "q10_returned_revenue",
    _q10,
    """
    SELECT c_custkey, c_name,
           SUM(CAST(round(l_extendedprice * 100) AS BIGINT) *
               (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0 AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)

# -- labeled k-hop (edge-label-restricted traversal) ------------------------

_register(
    "g_khop2_labeled",
    lambda spark, sf: traversal.k_hop(
        GraphStore(spark, sf).edges(), [_KHOP_START], k=2,
        direction=traversal.OUT, labels=["placed", "contains"],
    ),
    f"""
    WITH {graph_ctes()},
    de AS MATERIALIZED (SELECT src, dst FROM edges WHERE label IN ('placed', 'contains')),
    l1 AS (SELECT DISTINCT dst AS id FROM de WHERE src = {_KHOP_START}),
    l2 AS (
      SELECT DISTINCT de.dst AS id FROM de JOIN l1 ON de.src = l1.id
      WHERE de.dst NOT IN (SELECT id FROM l1) AND de.dst <> {_KHOP_START}
    )
    SELECT id, CAST(1 AS INTEGER) AS hops FROM l1
    UNION ALL
    SELECT id, CAST(2 AS INTEGER) AS hops FROM l2
    """,
)

# -- I1: splits metadata.  Boundaries are EXACT discrete quantiles
#    (engine.splits default), so the shard table is fully reproducible in
#    ANSI SQL — the driver checks it like any data query.  Boundary columns
#    are DOUBLE (exact for orderkeys << 2^53): a nullable integer column
#    round-trips as float/NaN from DuckDB but object/None from Spark, which
#    breaks the driver's stringified value hash. --------------------------

def _splits(spark: SparkSession, sf: str) -> DataFrame:
    eng = QueryEngine(load_table(spark, sf, "orders"), key="o_orderkey")
    shards = eng.splits(8)
    return spark.createDataFrame(
        [(i,
          None if s.start is None else float(s.start),
          None if s.end is None else float(s.end))
         for i, s in enumerate(shards)],
        "shard_idx int, start_key double, end_key double",
    )

_SPLITS_SQL = """
    WITH q AS (
      SELECT quantile_disc(o_orderkey, [{probs}]) AS b FROM orders
    ), idx AS (SELECT unnest(range(8)) AS i)
    SELECT CAST(i AS INTEGER) AS shard_idx,
           CASE WHEN i = 0 THEN NULL ELSE CAST(b[CAST(i AS INTEGER)] AS DOUBLE) END AS start_key,
           CASE WHEN i = 7 THEN NULL ELSE CAST(b[CAST(i + 1 AS INTEGER)] AS DOUBLE) END AS end_key
    FROM idx, q
    """.format(probs=", ".join(str(i / 8) for i in range(1, 8)))

_register("i1_splits", _splits, _SPLITS_SQL)


# -- optimizer statistics (functions/stats.py): exact join cardinality,
#    DETERMINISTIC KMV join-size estimation (md5 bottom-k — the estimate
#    itself hash-checks, not just its error band), FK-candidate
#    containment.  The reference's metrics surface is a stub (I2); this
#    is the Spark-first planner-statistics replacement.

def _stats_exact(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.functions import stats
    li = load_table(spark, sf, "lineitem")
    return stats.join_size_exact(li, li, "l_partkey")

_register(
    "stats_join_exact",
    _stats_exact,
    """
    WITH c AS (
      SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS c
      FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY l_partkey
    )
    SELECT CAST(SUM(c * c) AS BIGINT) AS join_rows,
           (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_keys_a,
           (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_keys_b,
           CAST(count(*) AS BIGINT) AS n_keys_both
    FROM c
    """,
)


def _stats_kmv(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.functions import stats
    li = load_table(spark, sf, "lineitem")
    return stats.join_size_kmv(li, li, "l_partkey", k=256)

_register(
    "stats_join_kmv",
    _stats_kmv,
    f"""
    WITH c AS MATERIALIZED (
      SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS c
      FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY l_partkey
    ), domain AS MATERIALIZED (
      SELECT k, {H60_SQL.format(x="k")} AS r FROM c
    ), kth AS (
      SELECT MAX(r) AS r_max, CAST(count(*) AS BIGINT) AS n_sampled
      FROM (SELECT r FROM domain ORDER BY r LIMIT 256)
    ), nd AS (SELECT CAST(count(*) AS BIGINT) AS n_domain FROM domain),
    prod AS (
      SELECT CAST(COALESCE(SUM(c.c * c.c), 0) AS BIGINT) AS sampled_product
      FROM domain d JOIN c ON d.k = c.k CROSS JOIN kth
      WHERE d.r <= kth.r_max
    )
    SELECT CAST((prod.sampled_product * nd.n_domain * 1000000)
                // kth.n_sampled AS BIGINT) AS estimate_scaled,
           prod.sampled_product, kth.n_sampled,
           CAST(kth.r_max AS BIGINT) AS threshold_rank
    FROM prod CROSS JOIN kth CROSS JOIN nd
    """,
)


# -- z-order (Morton) values (sources/zorder.py): the multi-dimensional
#    data-skipping layout key.  Bit interleave is exact integer math; the
#    min/max normalization is IEEE-double arithmetic mirrored TEXTUALLY in
#    the oracle (the profile_histogram precedent).  The layout's pruning
#    effect on real parquet footers is pinned by tests/test_plans.py.

_Z_BITS = 8


def _zorder_values(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.sources.zorder import _normalize, z_value
    o = load_table(spark, sf, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("x"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("y"))
    stats = o.agg(F.min("x"), F.max("x"), F.min("y"), F.max("y")).collect()[0]
    nx = _normalize(F.col("x"), F.lit(stats[0]), F.lit(stats[1]), _Z_BITS)
    ny = _normalize(F.col("y"), F.lit(stats[2]), F.lit(stats[3]), _Z_BITS)
    return o.select("o_orderkey",
                    z_value([nx, ny], _Z_BITS).cast("long").alias("zval"))


def _zorder_oracle() -> str:
    interleave = " + ".join(
        f"((n{j} >> {i}) & 1) * {1 << (i * 2 + j)}"
        for j in range(2) for i in range(_Z_BITS))
    top = (1 << _Z_BITS) - 1
    return f"""
    WITH base AS (
      SELECT o_orderkey, o_custkey AS x,
             CAST(round(o_totalprice * 100) AS BIGINT) AS y
      FROM orders
    ), mm AS (
      SELECT MIN(x) AS lox, MAX(x) AS hix, MIN(y) AS loy, MAX(y) AS hiy
      FROM base
    ), norm AS (
      SELECT o_orderkey,
             CAST(floor(CASE WHEN hix > lox THEN
               ((CAST(x AS DOUBLE) - CAST(lox AS DOUBLE))
                / CAST(hix - lox AS DOUBLE)) * {top} ELSE 0.0 END)
               AS BIGINT) AS n0,
             CAST(floor(CASE WHEN hiy > loy THEN
               ((CAST(y AS DOUBLE) - CAST(loy AS DOUBLE))
                / CAST(hiy - loy AS DOUBLE)) * {top} ELSE 0.0 END)
               AS BIGINT) AS n1
      FROM base CROSS JOIN mm
    )
    SELECT o_orderkey, CAST({interleave} AS BIGINT) AS zval FROM norm
    """


_register("zorder_values", _zorder_values, _zorder_oracle())


def _stats_skew(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.functions import stats
    return stats.skew_report(load_table(spark, sf, "lineitem"), "l_suppkey",
                             top=5, shuffle_partitions=32)

_register(
    "stats_skew_report",
    _stats_skew,
    """
    WITH c AS MATERIALIZED (
      SELECT CAST(l_suppkey AS VARCHAR) AS key_str,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM lineitem WHERE l_suppkey IS NOT NULL GROUP BY l_suppkey
    ), tot AS (
      SELECT CAST(SUM(n_rows) AS BIGINT) AS n_total,
             CAST(count(*) AS BIGINT) AS n_keys,
             CAST(MAX(n_rows) AS BIGINT) AS max_rows
      FROM c
    ), hot AS (
      SELECT key_str, n_rows FROM c
      ORDER BY n_rows DESC, key_str ASC LIMIT 5
    )
    SELECT 'hot' AS tag, h.key_str, h.n_rows,
           CAST((h.n_rows * 1000000) // t.n_total AS BIGINT) AS share_ppm,
           CAST((h.n_rows + (t.n_total + 31) // 32 - 1)
                // ((t.n_total + 31) // 32) AS BIGINT) AS salt_factor
    FROM hot h CROSS JOIN tot t
    UNION ALL
    SELECT 'summary', CAST(n_keys AS VARCHAR), n_total,
           CAST((max_rows * 1000000) // n_total AS BIGINT),
           CAST((max_rows + (n_total + 31) // 32 - 1)
                // ((n_total + 31) // 32) AS BIGINT)
    FROM tot
    """,
)


def _stats_containment(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.functions import stats
    return stats.key_containment(
        load_table(spark, sf, "lineitem"), load_table(spark, sf, "orders"),
        "l_orderkey", "o_orderkey")

_register(
    "stats_containment",
    _stats_containment,
    """
    WITH da AS (SELECT DISTINCT l_orderkey AS k FROM lineitem
                WHERE l_orderkey IS NOT NULL),
    db AS (SELECT DISTINCT o_orderkey AS k FROM orders
           WHERE o_orderkey IS NOT NULL)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM da) AS n_keys_a,
           CAST(count(*) AS BIGINT) AS n_contained,
           CAST(count(*) AS DOUBLE)
             / (SELECT count(*) FROM da) AS containment
    FROM da JOIN db USING (k)
    """,
)

# ===========================================================================
# wave 4: shortest paths, label propagation, motif matching, BPE estimation
# ===========================================================================

_LANDMARKS = [_vid("nation", 0), _vid("region", 2)]


def _shortest_paths_sql(iterations: int = 10) -> str:
    seeds = ", ".join(f"({v}, {v}, 0)" for v in _LANDMARKS)
    ctes = [
        "adjsp AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges)",
        f"d0 AS MATERIALIZED (SELECT * FROM (VALUES {seeds}) t(id, landmark, distance))",
    ]
    for t in range(1, iterations + 1):
        ctes.append(
            f"d{t} AS MATERIALIZED (SELECT id, landmark, CAST(MIN(distance) AS INTEGER) AS distance FROM ("
            f"SELECT id, landmark, distance FROM d{t-1} "
            f"UNION ALL "
            f"SELECT a.src AS id, d.landmark, d.distance + 1 AS distance "
            f"FROM adjsp a JOIN d{t-1} d ON a.dst = d.id"
            f") GROUP BY id, landmark)"
        )
    return (
        f"WITH {graph_ctes()},\n" + ",\n".join(ctes)
        + f"\nSELECT id, landmark, distance FROM d{iterations}"
    )

_register(
    "g_shortest_paths",
    lambda spark, sf: analytics.shortest_paths(
        GraphStore(spark, sf).edges(), _LANDMARKS, iterations=10
    ),
    _shortest_paths_sql(),
)


def _diameter_sql(iters: int = 12) -> str:
    """Double-sweep diameter oracle: two unrolled BFS passes over the
    UNDIRECTED adjacency, the second seeded by a scalar subquery on the
    first's argmax (distance DESC, id ASC — the max_by tiebreak)."""
    ctes = [
        "adj2 AS MATERIALIZED (SELECT DISTINCT src, dst FROM ("
        "SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges))",
        "b0 AS MATERIALIZED (SELECT (SELECT min(src) FROM adj2) AS id, "
        "0 AS distance)",
    ]
    for t in range(1, iters + 1):
        ctes.append(
            f"b{t} AS MATERIALIZED (SELECT id, CAST(MIN(distance) AS INTEGER)"
            f" AS distance FROM (SELECT id, distance FROM b{t-1} UNION ALL "
            f"SELECT a.src, d.distance + 1 FROM adj2 a JOIN b{t-1} d "
            f"ON a.dst = d.id) GROUP BY id)")
    ctes.append(f"far AS MATERIALIZED (SELECT id FROM b{iters} "
                f"ORDER BY distance DESC, id ASC LIMIT 1)")
    ctes.append("c0 AS MATERIALIZED (SELECT id, 0 AS distance FROM far)")
    for t in range(1, iters + 1):
        ctes.append(
            f"c{t} AS MATERIALIZED (SELECT id, CAST(MIN(distance) AS INTEGER)"
            f" AS distance FROM (SELECT id, distance FROM c{t-1} UNION ALL "
            f"SELECT a.src, d.distance + 1 FROM adj2 a JOIN c{t-1} d "
            f"ON a.dst = d.id) GROUP BY id)")
    return (
        f"WITH {graph_ctes()},\n" + ",\n".join(ctes)
        + f"""
    SELECT (SELECT min(src) FROM adj2) AS start_id,
           (SELECT id FROM far) AS peripheral_id,
           CAST(MAX(distance) AS INTEGER) AS diameter_lower_bound,
           CAST(count(*) AS BIGINT) AS n_reached
    FROM c{iters}
    """)


_register(
    "g_diameter",
    lambda spark, sf: analytics.diameter_double_sweep(
        GraphStore(spark, sf).edges(), iterations=12),
    _diameter_sql(12),
)


# landmark-approximated harmonic closeness: rides the same unrolled-BFS
# oracle; the 1/d sum is integer-scaled by lcm(1..10)=2520 in BOTH engines
# (order-independent — see analytics.harmonic_closeness determinism note)

_register(
    "g_closeness",
    lambda spark, sf: analytics.harmonic_closeness(
        GraphStore(spark, sf).edges(), _LANDMARKS, iterations=10
    ),
    _shortest_paths_sql().replace(
        "\nSELECT id, landmark, distance FROM d10",
        """
    SELECT id, CAST(count(*) AS BIGINT) AS n_reached,
           round(COALESCE(SUM(CASE WHEN distance > 0
                 THEN CAST(2520 / distance AS BIGINT) END), 0) / 2520.0, 6)
           AS harmonic
    FROM d10 GROUP BY id
    """),
)


_register(
    "g_eccentricity",
    # landmark eccentricity (analytics.landmark_eccentricity): diameter
    # lower bound as a by-product of the landmark BFS
    lambda spark, sf: analytics.landmark_eccentricity(
        GraphStore(spark, sf).edges(), _LANDMARKS, iterations=10),
    _shortest_paths_sql().replace(
        "\nSELECT id, landmark, distance FROM d10",
        """
    SELECT landmark, CAST(count(*) AS BIGINT) AS n_reaching,
           CAST(MAX(distance) AS INTEGER) AS eccentricity
    FROM d10 GROUP BY landmark
    """),
)



def _label_propagation_sql(iterations: int = 5) -> str:
    ctes = [
        "adjlp AS MATERIALIZED (SELECT src AS a, dst AS b FROM edges UNION SELECT dst, src FROM edges)",
        "lp0 AS MATERIALIZED (SELECT DISTINCT a AS id, a AS community FROM adjlp)",
    ]
    for t in range(1, iterations + 1):
        ctes.append(
            f"lp{t} AS MATERIALIZED (SELECT id, community FROM ("
            f"SELECT a AS id, community, row_number() OVER ("
            f"PARTITION BY a ORDER BY n DESC, community ASC) AS rn FROM ("
            f"SELECT adjlp.a, l.community, count(*) AS n "
            f"FROM adjlp JOIN lp{t-1} l ON adjlp.b = l.id GROUP BY adjlp.a, l.community"
            f")) WHERE rn = 1)"
        )
    return f"WITH {graph_ctes()},\n" + ",\n".join(ctes) + f"\nSELECT id, community FROM lp{iterations}"

_register(
    "g_label_propagation",
    lambda spark, sf: analytics.label_propagation(GraphStore(spark, sf).edges(), iterations=5),
    _label_propagation_sql(),
)


# -- modularity of the LPA labeling (analytics.modularity): per-community
#    exact-integer contributions contrib(c) = 4·m·e_c − d_c², so
#    Q = Σ contrib / 4m².  The oracle re-derives the SAME labels by
#    splicing the modularity computation onto the unrolled LPA CTEs. ------

def _modularity_sql(iterations: int = 5) -> str:
    return _label_propagation_sql(iterations).replace(
        f"\nSELECT id, community FROM lp{iterations}",
        f""",
undm AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM edges WHERE src <> dst),
mm AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS m FROM undm),
degm AS MATERIALIZED (
  SELECT id, count(*) AS d
  FROM (SELECT u AS id FROM undm UNION ALL SELECT v FROM undm) t
  GROUP BY id),
labm AS MATERIALIZED (SELECT id, community FROM lp{iterations}),
ecm AS (SELECT la.community, count(*) AS e
        FROM undm JOIN labm la ON undm.u = la.id
                  JOIN labm lb ON undm.v = lb.id
        WHERE la.community = lb.community GROUP BY la.community),
dcm AS (SELECT labm.community, CAST(SUM(degm.d) AS BIGINT) AS ds
        FROM degm JOIN labm ON degm.id = labm.id GROUP BY labm.community)
SELECT dcm.community,
       CAST(COALESCE(ecm.e, 0) AS BIGINT) AS intra_edges,
       dcm.ds AS degree_sum,
       CAST(4 * mm.m * COALESCE(ecm.e, 0) - dcm.ds * dcm.ds AS BIGINT)
         AS contrib
FROM dcm CROSS JOIN mm LEFT JOIN ecm ON dcm.community = ecm.community
""")


def _g_modularity(spark: SparkSession, sf: str) -> DataFrame:
    e = GraphStore(spark, sf).edges()
    labels = analytics.label_propagation(e, iterations=5)
    return (analytics.modularity(e, labels)
            .select("community", "intra_edges", "degree_sum",
                    F.col("contrib").cast("long").alias("contrib")))

_register("g_modularity", _g_modularity, _modularity_sql())


# -- full Louvain (analytics.louvain_full): parity-alternated guarded
#    local-move rounds from singletons (r10: the md5 symmetry breaker at
#    BOTH levels), then ITERATED contraction levels (r11, VERDICT r10 #6:
#    max_levels=3 → two contraction levels; communities ->
#    super-vertices, inter-community edge counts as weights, intra counts
#    as self-loops) with parity-alternating weighted local-move rounds,
#    every proposal accept/rejected by the exact-integer modularity
#    numerator; every level is one run of analytics._louvain_level
#    (_weighted_move_proposal + _contrib_from_sed; level 1 on unit
#    weights, contracted levels on the contracted graph — provably
#    equal to the original graph's numerator).  The oracle unrolls the
#    identical schedule with the same md5-bit predicates; a rejected
#    round is a CASE no-op, which makes unconditional unrolling exact
#    (Spark's two-consecutive-rejections break is label-identical, and
#    so is its stop-when-a-level-accepts-nothing break: the oracle's
#    deeper levels then replay the same rejected proposals — identity
#    start, same parities — and reject them again).  Spark contracts
#    level ≥3 from the PREVIOUS super-graph while the oracle re-contracts
#    the original edge set by the projected labeling — provably equal
#    (each super-edge's weight sums original edges sharing one community
#    pair), and louvain_full's final O(m) consistency check enforces it.
#    Certificate rows: id=-1 carries the full labeling's numerator,
#    id=-2 the local-move-only labeling's — the driver value-checks
#    both, and full >= local is pytest-pinned (monotone contraction). ----

_LOUV_L1, _LOUV_L2, _LOUV_LEVELS = 3, 2, 3


def _g_louvain(spark: SparkSession, sf: str) -> DataFrame:
    e = GraphStore(spark, sf).edges()
    # the capture hook hands back the guard loop's own exact numerators:
    # level1_num IS the labeling a standalone louvain(e, max_rounds=L1)
    # would produce (same _louvain_level schedule), so the -2 cert needs
    # no second level-1 run and neither cert re-aggregates O(m)
    cap: dict = {}
    full = analytics.louvain_full(
        e, level1_rounds=_LOUV_L1, level2_rounds=_LOUV_L2,
        max_levels=_LOUV_LEVELS, _capture=cap)
    cert = spark.createDataFrame(
        [(-1, cap["final_num"]), (-2, cap["level1_num"])],
        "id long, community long")
    return (full.select("id", F.col("community").cast("long"))
            .unionByName(cert))


def _louvain_sql(l1: int = _LOUV_L1, l2: int = _LOUV_L2,
                 levels: int = _LOUV_LEVELS) -> str:
    def qnum(lab: str, out: str) -> str:
        return (
            f"{out} AS MATERIALIZED (SELECT CAST(4 * mm.m * ei.e - dd.s "
            f"AS BIGINT) AS q FROM mm "
            f"CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS e FROM und "
            f"JOIN {lab} la ON und.u = la.id JOIN {lab} lb ON und.v = lb.id "
            f"WHERE la.c = lb.c) ei "
            f"CROSS JOIN (SELECT CAST(COALESCE(SUM(ds * ds), 0) AS BIGINT) "
            f"AS s FROM (SELECT CAST(SUM(dg.d) AS BIGINT) AS ds FROM degv dg "
            f"JOIN {lab} l ON dg.id = l.id GROUP BY l.c)) dd)")

    ctes = [
        "und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, "
        "greatest(src, dst) AS v FROM edges WHERE src <> dst)",
        "mm AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS m FROM und)",
        "degv AS MATERIALIZED (SELECT id, CAST(count(*) AS BIGINT) AS d "
        "FROM (SELECT u AS id FROM und UNION ALL SELECT v FROM und) "
        "GROUP BY id)",
        "adj AS MATERIALIZED (SELECT u AS id, v AS b FROM und "
        "UNION ALL SELECT v, u FROM und)",
        "lab0 AS MATERIALIZED (SELECT id, id AS c FROM degv)",
        qnum("lab0", "num0"),
    ]
    # level-1: guarded synchronous local-move rounds, parity-alternated
    # (r10: the level-2 md5 symmetry breaker now applies at level 1 too —
    # without it a synchronous sweep from singletons swaps whole
    # neighborhoods at once and the guard rejects every round)
    for t in range(1, l1 + 1):
        p = t - 1
        par1 = (t - 1) % 2
        ctes += [
            f"nbr{t} AS MATERIALIZED (SELECT a.id, lb.c AS cand, "
            f"CAST(count(*) AS BIGINT) AS k FROM adj a "
            f"JOIN lab{p} lb ON a.b = lb.id GROUP BY a.id, lb.c)",
            f"dc{t} AS MATERIALIZED (SELECT l.c AS cand, "
            f"CAST(SUM(dg.d) AS BIGINT) AS dc FROM degv dg "
            f"JOIN lab{p} l ON dg.id = l.id GROUP BY l.c)",
            f"cand{t} AS MATERIALIZED (SELECT n.id, n.cand, "
            f"4 * mm.m * (n.k - COALESCE(o.k, 0)) "
            f"- 2 * dg.d * (dcc.dc - (dcu.dc - dg.d)) AS gain "
            f"FROM nbr{t} n JOIN lab{p} l ON n.id = l.id AND n.cand <> l.c "
            f"LEFT JOIN nbr{t} o ON o.id = n.id AND o.cand = l.c "
            f"JOIN degv dg ON dg.id = n.id "
            f"JOIN dc{t} dcc ON dcc.cand = n.cand "
            f"JOIN dc{t} dcu ON dcu.cand = l.c CROSS JOIN mm)",
            f"best{t} AS MATERIALIZED (SELECT id, MIN(cand) AS newc FROM ("
            f"SELECT id, cand, gain, MAX(gain) OVER (PARTITION BY id) AS mg "
            f"FROM cand{t}) WHERE gain = mg AND gain > 0 "
            f"AND CAST(CAST(('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 1)) "
            f"AS UBIGINT) AS BIGINT) % 2 = {par1} GROUP BY id)",
            f"prop{t} AS MATERIALIZED (SELECT l.id, "
            f"COALESCE(b.newc, l.c) AS c FROM lab{p} l "
            f"LEFT JOIN best{t} b ON l.id = b.id)",
            qnum(f"prop{t}", f"pnum{t}"),
            f"lab{t} AS MATERIALIZED (SELECT l.id, "
            f"CASE WHEN pn.q > n0.q THEN pr.c ELSE l.c END AS c "
            f"FROM lab{p} l JOIN prop{t} pr ON l.id = pr.id "
            f"CROSS JOIN pnum{t} pn CROSS JOIN num{p} n0)",
            f"num{t} AS MATERIALIZED (SELECT greatest(pn.q, n0.q) AS q "
            f"FROM pnum{t} pn CROSS JOIN num{p} n0)",
        ]
    # iterated contraction levels (r11): labP{v} is the level-v labeling
    # projected onto the ORIGINAL vertices; each level re-contracts und
    # by it (equal to Spark's contract-the-previous-super-graph — see
    # the roster comment above) and unrolls l2 weighted rounds, guarded
    # on the original graph's numerator via the projected labeling
    ctes.append(
        f"labP1 AS MATERIALIZED (SELECT id, c FROM lab{l1})")
    prev_num = f"num{l1}"
    for v in range(2, levels + 1):
        P = f"labP{v - 1}"
        ctes += [
            f"sed{v} AS MATERIALIZED (SELECT least(la.c, lb.c) AS u2, "
            f"greatest(la.c, lb.c) AS v2, CAST(count(*) AS BIGINT) AS w "
            f"FROM und JOIN {P} la ON und.u = la.id "
            f"JOIN {P} lb ON und.v = lb.id GROUP BY least(la.c, lb.c), "
            f"greatest(la.c, lb.c))",
            f"splain{v} AS MATERIALIZED (SELECT u2, v2, w FROM sed{v} "
            f"WHERE u2 <> v2)",
            f"swdeg{v} AS MATERIALIZED (SELECT sid, "
            f"CAST(SUM(w) AS BIGINT) AS d "
            f"FROM (SELECT u2 AS sid, w FROM splain{v} "
            f"UNION ALL SELECT v2, w FROM splain{v} "
            f"UNION ALL SELECT u2, 2 * w FROM sed{v} WHERE u2 = v2) "
            f"GROUP BY sid)",
            f"sadj{v} AS MATERIALIZED (SELECT u2 AS sid, v2 AS b, w "
            f"FROM splain{v} UNION ALL SELECT v2, u2, w FROM splain{v})",
            f"slab{v}_0 AS MATERIALIZED (SELECT sid, sid AS sc "
            f"FROM swdeg{v})",
            f"snum{v}_0 AS MATERIALIZED (SELECT q FROM {prev_num})",
        ]
        for r in range(1, l2 + 1):
            p = r - 1
            par = (r - 1) % 2
            ctes += [
                f"snbr{v}_{r} AS MATERIALIZED (SELECT a.sid, lb.sc AS cand, "
                f"CAST(SUM(a.w) AS BIGINT) AS k FROM sadj{v} a "
                f"JOIN slab{v}_{p} lb ON a.b = lb.sid GROUP BY a.sid, lb.sc)",
                f"sdc{v}_{r} AS MATERIALIZED (SELECT l.sc AS cand, "
                f"CAST(SUM(wd.d) AS BIGINT) AS dc FROM swdeg{v} wd "
                f"JOIN slab{v}_{p} l ON wd.sid = l.sid GROUP BY l.sc)",
                f"scand{v}_{r} AS MATERIALIZED (SELECT n.sid, n.cand, "
                f"4 * mm.m * (n.k - COALESCE(o.k, 0)) "
                f"- 2 * wd.d * (dcc.dc - (dcu.dc - wd.d)) AS gain "
                f"FROM snbr{v}_{r} n JOIN slab{v}_{p} l ON n.sid = l.sid "
                f"AND n.cand <> l.sc "
                f"LEFT JOIN snbr{v}_{r} o ON o.sid = n.sid "
                f"AND o.cand = l.sc "
                f"JOIN swdeg{v} wd ON wd.sid = n.sid "
                f"JOIN sdc{v}_{r} dcc ON dcc.cand = n.cand "
                f"JOIN sdc{v}_{r} dcu ON dcu.cand = l.sc CROSS JOIN mm)",
                f"sbest{v}_{r} AS MATERIALIZED (SELECT sid, MIN(cand) "
                f"AS newc FROM ("
                f"SELECT sid, cand, gain, MAX(gain) OVER (PARTITION BY sid) "
                f"AS mg FROM scand{v}_{r}) WHERE gain = mg AND gain > 0 "
                f"AND CAST(CAST(('0x' || substr(md5(CAST(sid AS VARCHAR)), "
                f"1, 1)) AS UBIGINT) AS BIGINT) % 2 = {par} GROUP BY sid)",
                f"sprop{v}_{r} AS MATERIALIZED (SELECT l.sid, "
                f"COALESCE(b.newc, l.sc) AS sc FROM slab{v}_{p} l "
                f"LEFT JOIN sbest{v}_{r} b ON l.sid = b.sid)",
                f"sproj{v}_{r} AS MATERIALIZED (SELECT l.id, sp.sc AS c "
                f"FROM {P} l JOIN sprop{v}_{r} sp ON l.c = sp.sid)",
                qnum(f"sproj{v}_{r}", f"spnum{v}_{r}"),
                f"slab{v}_{r} AS MATERIALIZED (SELECT l.sid, "
                f"CASE WHEN pn.q > n0.q THEN pr.sc ELSE l.sc END AS sc "
                f"FROM slab{v}_{p} l JOIN sprop{v}_{r} pr ON l.sid = pr.sid "
                f"CROSS JOIN spnum{v}_{r} pn CROSS JOIN snum{v}_{p} n0)",
                f"snum{v}_{r} AS MATERIALIZED (SELECT greatest(pn.q, n0.q) "
                f"AS q FROM spnum{v}_{r} pn CROSS JOIN snum{v}_{p} n0)",
            ]
        ctes.append(
            f"labP{v} AS MATERIALIZED (SELECT l.id, sp.sc AS c FROM {P} l "
            f"JOIN slab{v}_{l2} sp ON l.c = sp.sid)")
        prev_num = f"snum{v}_{l2}"
    return (
        f"WITH {graph_ctes()},\n" + ",\n".join(ctes)
        + f"\nSELECT id, CAST(c AS BIGINT) AS community FROM labP{levels}"
        + f"\nUNION ALL SELECT -1, (SELECT q FROM {prev_num})"
        + f"\nUNION ALL SELECT -2, (SELECT q FROM num{l1})"
    )


_register("g_louvain", _g_louvain, _louvain_sql())

# -- motif/pattern matching: customer→order→part→supplier path counts -------

def _g_motif(spark: SparkSession, sf: str) -> DataFrame:
    e = GraphStore(spark, sf).edges()
    placed = e.filter(F.col("label") == "placed").select(
        F.col("src").alias("cust"), F.col("dst").alias("ord"))
    contains = e.filter(F.col("label") == "contains").select(
        F.col("src").alias("ord"), F.col("dst").alias("prt"))
    supplied = e.filter(F.col("label") == "supplied_by").select(
        F.col("src").alias("prt"), F.col("dst").alias("supp"))
    return (
        placed.join(contains, "ord").join(supplied, "prt")
        .groupBy("supp")
        .agg(F.countDistinct("cust").alias("n_customers"), F.count(F.lit(1)).alias("n_paths"))
    )

_register(
    "g_motif_paths",
    _g_motif,
    f"""
    WITH {graph_ctes()}
    SELECT s.dst AS supp,
           CAST(count(DISTINCT p.src) AS BIGINT) AS n_customers,
           CAST(count(*) AS BIGINT) AS n_paths
    FROM (SELECT src, dst FROM edges WHERE label = 'placed') p
    JOIN (SELECT src, dst FROM edges WHERE label = 'contains') c ON p.dst = c.src
    JOIN (SELECT src, dst FROM edges WHERE label = 'supplied_by') s ON c.dst = s.src
    GROUP BY s.dst
    """,
)

# -- BPE-ish token counting (north-star text op) ----------------------------

_register(
    "text_bpe_tokens",
    lambda spark, sf: load_table(spark, sf, "documents").select(
        "doc_id",
        text.token_count(F.col("text")).alias("ws_tokens"),
        text.bpe_token_estimate(F.col("text")).alias("bpe_tokens"),
    ),
    f"""
    SELECT doc_id,
      CAST(len({TOKENS_SQL.format(col="text")}) AS INTEGER) AS ws_tokens,
      CAST(list_sum(list_transform(regexp_extract_all(lower(text), '[a-z]+|[0-9]+'),
                                   p -> CAST(ceil(length(p) / 4.0) AS INTEGER)))
           AS INTEGER) AS bpe_tokens
    FROM documents
    """,
)

# -- end-to-end corpus curation: the LLM-pipeline ops COMPOSED --------------
# near-dedup (minhash → LSH → verify → CC clusters → keep representative)
# → cheap quality filters → BPE-budget accounting, as ONE DataFrame program
# with one driver-checked stats row.  This is the shape a training-data
# pass actually runs; every stage reuses an operator that also has its own
# driver row.

def _pipe_curate(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    survivors = dedup.near_dedup(docs, num_hashes=32, rows_per_band=4,
                                 k=3, threshold=0.3)
    qm = text.quality_metrics(survivors)
    kept_ids = qm.filter((F.col("n_tokens") >= 20) & (F.col("stopword_ratio") <= 0.30)
                         & (F.col("mean_token_len") >= 3.0)).select("doc_id")
    kept = survivors.join(kept_ids, "doc_id")
    stats = kept.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(text.bpe_token_estimate(F.col("text")).cast("long")).alias("total_bpe_tokens"),
    )
    total = docs.agg(F.count(F.lit(1)).alias("n_total"))
    surv_n = survivors.agg(F.count(F.lit(1)).alias("n_surv"))
    return (
        stats.crossJoin(F.broadcast(total)).crossJoin(F.broadcast(surv_n))
        .select(
            "n_docs",
            (F.col("n_total") - F.col("n_surv")).alias("n_dropped_neardup"),
            (F.col("n_surv") - F.col("n_docs")).alias("n_dropped_quality"),
            "total_bpe_tokens",
        )
    )

_register(
    "pipe_curate_corpus",
    _pipe_curate,
    f"""
    WITH clusters AS MATERIALIZED (
      {_near_clusters_sql()}
    ), survivors AS MATERIALIZED (
      SELECT d.doc_id, d.text FROM documents d
      WHERE d.doc_id NOT IN (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
    ), m AS (
      SELECT doc_id,
        len(toks) AS n_tokens,
        round(list_sum(list_transform(toks, x -> length(x))) * 1.0
              / greatest(len(toks), 1), 4) AS mean_token_len,
        round(len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','it'], x)))
              * 1.0 / greatest(len(toks), 1), 4) AS stopword_ratio
      FROM (SELECT doc_id, text, {TOKENS_SQL.format(col="text")} AS toks FROM survivors)
    ), kept AS MATERIALIZED (
      SELECT s.doc_id, s.text FROM survivors s JOIN m USING (doc_id)
      WHERE n_tokens >= 20 AND stopword_ratio <= 0.30 AND mean_token_len >= 3.0
    )
    SELECT CAST((SELECT count(*) FROM kept) AS BIGINT) AS n_docs,
           CAST((SELECT count(*) FROM documents) - (SELECT count(*) FROM survivors)
                AS BIGINT) AS n_dropped_neardup,
           CAST((SELECT count(*) FROM survivors) - (SELECT count(*) FROM kept)
                AS BIGINT) AS n_dropped_quality,
           CAST((SELECT SUM(list_sum(list_transform(
                    regexp_extract_all(lower(text), '[a-z]+|[0-9]+'),
                    p -> CAST(ceil(length(p) / 4.0) AS INTEGER)))) FROM kept)
                AS BIGINT) AS total_bpe_tokens
    """,
)

# -- curation pipeline v2: near-dedup → quality → PER-SOURCE CAP → BPE
#    budget, still ONE declarative program with ONE differential oracle ------

_CURATE_CAP = 15


def _pipe_curate_v2(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.functions import sampling
    docs = load_table(spark, sf, "documents")
    survivors = dedup.near_dedup(docs, num_hashes=32, rows_per_band=4,
                                 k=3, threshold=0.3)
    qm = text.quality_metrics(survivors)
    kept_ids = qm.filter((F.col("n_tokens") >= 20) & (F.col("stopword_ratio") <= 0.30)
                         & (F.col("mean_token_len") >= 3.0)).select("doc_id")
    kept = survivors.join(kept_ids, "doc_id")
    capped = sampling.cap_per_group(kept, "source", _CURATE_CAP)
    stats = capped.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(text.bpe_token_estimate(F.col("text")).cast("long")).alias("total_bpe_tokens"),
    )
    total = docs.agg(F.count(F.lit(1)).alias("n_total"))
    surv_n = survivors.agg(F.count(F.lit(1)).alias("n_surv"))
    kept_n = kept.agg(F.count(F.lit(1)).alias("n_kept"))
    return (
        stats.crossJoin(F.broadcast(total)).crossJoin(F.broadcast(surv_n))
        .crossJoin(F.broadcast(kept_n))
        .select(
            "n_docs",
            (F.col("n_total") - F.col("n_surv")).alias("n_dropped_neardup"),
            (F.col("n_surv") - F.col("n_kept")).alias("n_dropped_quality"),
            (F.col("n_kept") - F.col("n_docs")).alias("n_dropped_cap"),
            "total_bpe_tokens",
        )
    )

_register(
    "pipe_curate_v2",
    _pipe_curate_v2,
    f"""
    WITH clusters AS MATERIALIZED (
      {_near_clusters_sql()}
    ), survivors AS MATERIALIZED (
      SELECT d.doc_id, d.text, d.source FROM documents d
      WHERE d.doc_id NOT IN (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
    ), m AS (
      SELECT doc_id,
        len(toks) AS n_tokens,
        round(list_sum(list_transform(toks, x -> length(x))) * 1.0
              / greatest(len(toks), 1), 4) AS mean_token_len,
        round(len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','it'], x)))
              * 1.0 / greatest(len(toks), 1), 4) AS stopword_ratio
      FROM (SELECT doc_id, text, {TOKENS_SQL.format(col="text")} AS toks FROM survivors)
    ), kept AS MATERIALIZED (
      SELECT s.doc_id, s.text, s.source FROM survivors s JOIN m USING (doc_id)
      WHERE n_tokens >= 20 AND stopword_ratio <= 0.30 AND mean_token_len >= 3.0
    ), capped AS MATERIALIZED (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               row_number() OVER (
                 PARTITION BY source
                 ORDER BY CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                          || ''), 1, 12)) AS UBIGINT) AS BIGINT) % 10000,
                          doc_id) AS rn
        FROM kept) WHERE rn <= {_CURATE_CAP}
    )
    SELECT CAST((SELECT count(*) FROM capped) AS BIGINT) AS n_docs,
           CAST((SELECT count(*) FROM documents) - (SELECT count(*) FROM survivors)
                AS BIGINT) AS n_dropped_neardup,
           CAST((SELECT count(*) FROM survivors) - (SELECT count(*) FROM kept)
                AS BIGINT) AS n_dropped_quality,
           CAST((SELECT count(*) FROM kept) - (SELECT count(*) FROM capped)
                AS BIGINT) AS n_dropped_cap,
           CAST((SELECT SUM(list_sum(list_transform(
                    regexp_extract_all(lower(text), '[a-z]+|[0-9]+'),
                    p -> CAST(ceil(length(p) / 4.0) AS INTEGER)))) FROM capped)
                AS BIGINT) AS total_bpe_tokens
    """,
)

# ===========================================================================
# wave 5: more TPC-H-shaped headliners (join/predicate diversity)
# ===========================================================================

# -- Q7-style: shipping volume between two nation pairs ---------------------

def _q7(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    s = load_table(spark, sf, "supplier")
    n1 = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("supp_nk"), F.col("n_name").alias("supp_nation"))
    n2 = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("cust_nk"), F.col("n_name").alias("cust_nation"))
    revenue_c = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(100).cast("long") - F.round(F.col("l_discount") * 100).cast("long")
    )
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2") | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("supp_nk"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("cust_nk"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate").cast("int"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg((F.sum(revenue_c) / F.lit(10000.0)).alias("revenue"))
    )

_register(
    "q7_nation_volume",
    _q7,
    """
    SELECT supp_nation, cust_nation, l_year,
           SUM(CAST(round(l_extendedprice * 100) AS BIGINT) *
               (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0 AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INTEGER) AS l_year,
             l_extendedprice, l_discount
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation n1 ON s_nationkey = n1.n_nationkey
           JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)

# -- Q12-style: late shipments by order priority class ----------------------

_register(
    "q12_priority_shipping",
    lambda spark, sf: load_table(spark, sf, "lineitem")
    .join(load_table(spark, sf, "orders"),
          F.col("l_orderkey") == F.col("o_orderkey"))
    .filter((F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01"))
    .groupBy("o_orderpriority")
    .agg(
        F.sum(F.when(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"), 1)
              .otherwise(0)).alias("late_count"),
        F.count(F.lit(1)).alias("line_count"),
    ),
    """
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS late_count,
           CAST(count(*) AS BIGINT) AS line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o_orderpriority
    """,
)

# -- Q14-style: promo (type-prefix) revenue share ---------------------------

def _q14(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-09-01") & (F.col("l_shipdate") < "1997-10-01"))
    p = load_table(spark, sf, "part")
    revenue_c = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(100).cast("long") - F.round(F.col("l_discount") * 100).cast("long")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (F.sum(F.when(F.col("p_type").startswith("ECONOMY"), revenue_c).otherwise(0))
             / F.lit(10000.0)).alias("promo_revenue"),
            (F.sum(revenue_c) / F.lit(10000.0)).alias("total_revenue"),
        )
    )

_register(
    "q14_promo_share",
    _q14,
    """
    SELECT SUM(CASE WHEN p_type LIKE 'ECONOMY%'
                    THEN CAST(round(l_extendedprice * 100) AS BIGINT) *
                         (100 - CAST(round(l_discount * 100) AS BIGINT)) ELSE 0 END) / 10000.0
             AS promo_revenue,
           SUM(CAST(round(l_extendedprice * 100) AS BIGINT) *
               (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0 AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
    """,
)

# -- Q18-style: large-volume orders (groupBy-HAVING semi-join) --------------

def _q18(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(_money(F.col("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "l_orderkey",
                _ts("o_orderdate").alias("o_orderdate"),
                F.round("o_totalprice", 2).alias("o_totalprice"), "total_qty")
    )

_register(
    "q18_large_orders",
    _q18,
    """
    WITH big AS (
      SELECT l_orderkey, SUM(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 > 150
    )
    SELECT c_custkey, c_name, l_orderkey,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
           round(o_totalprice, 2) AS o_totalprice, total_qty
    FROM big JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
    """,
)

# -- Q19-style: disjunctive brand/size/quantity predicates (Catalyst's
#    constant-folding + predicate-normalization showcase) -------------------

def _q19(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part")
    revenue_c = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(100).cast("long") - F.round(F.col("l_discount") * 100).cast("long")
    )
    cond = (
        ((F.col("p_brand") == "Brand#12") & (F.col("p_size").between(1, 15))
         & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 20))
        | ((F.col("p_brand") == "Brand#23") & (F.col("p_size").between(1, 25))
           & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 30))
        | ((F.col("p_brand") == "Brand#34") & (F.col("p_size").between(1, 35))
           & (F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 40))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg((F.sum(revenue_c) / F.lit(10000.0)).alias("revenue"),
             F.count(F.lit(1)).alias("n_lines"))
    )

_register(
    "q19_brand_disjunction",
    _q19,
    """
    SELECT SUM(CAST(round(l_extendedprice * 100) AS BIGINT) *
               (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0 AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 40)
    """,
)

# -- Arrow-vectorized + IVF similarity.  The vectorized path now checks
#    against the SAME exact-topk oracle: after 6-dp rounding the normalized
#    matmul agrees with the sequential fold (a flip needs the true cosine
#    within ~1e-15 of a rounding boundary), and the local cut uses the
#    global (rounded cos desc, neighbor asc) order so ties resolve
#    identically.  IVF stays rows-only (probe-set recall is approximate by
#    design; equivalence asserted in tests/test_similarity.py). ------------

_register(
    "sim_cosine_topk_vectorized",
    lambda spark, sf: similarity.cosine_topk_vectorized(
        load_table(spark, sf, "embeddings").filter(F.col("vec_id") % 50 == 0),
        load_table(spark, sf, "embeddings"), k=5,
    ),
    _COS_TOPK_SQL,
)

# IVF is fully deterministic end-to-end: seeds are the 16 lowest-id vectors,
# the Lloyd step's per-dimension mean is an exact integer sum of 1e-6
# quantized values (order-independent — see similarity.ivf_centroids), and
# every cosine is the same sequential fold the other similarity oracles
# reproduce with list_dot_product.  So the whole pipeline — seed → assign →
# refine → probe → rerank — is expressible in ANSI SQL and driver-checked.

_IVF_COS = ("(list_dot_product({a}, {b}) / "
            "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))")

# Shared IVF training replay (seed -> assign -> exact-integer Lloyd mean ->
# final assignment `ca`), reused by the IVF probe and SemDeDup oracles.
_IVF_TRAIN_CTES = f"""emb AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), cents0 AS MATERIALIZED (
      SELECT vec_id AS cell, v AS c FROM emb ORDER BY vec_id LIMIT 16
    ), a0 AS MATERIALIZED (
      SELECT vec_id, v, cell FROM (
        SELECT e.vec_id, e.v, c.cell,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 {_IVF_COS.format(a="e.v", b="c.c")} DESC, c.cell ASC) AS r
        FROM emb e CROSS JOIN cents0 c
      ) WHERE r = 1
    ), dims AS MATERIALIZED (
      SELECT cell, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM a0
    ), cents1 AS MATERIALIZED (
      SELECT cell, list(m ORDER BY pos) AS c FROM (
        SELECT cell, pos,
               CAST(SUM(CAST(round(x * 1000000) AS BIGINT)) AS DOUBLE)
                 / (1000000.0 * COUNT(*)) AS m
        FROM dims GROUP BY cell, pos
      ) GROUP BY cell
    ), ca AS MATERIALIZED (
      SELECT vec_id AS neighbor_id, v AS cv, cell FROM (
        SELECT e.vec_id, e.v, c.cell,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 {_IVF_COS.format(a="e.v", b="c.c")} DESC, c.cell ASC) AS r
        FROM emb e CROSS JOIN cents1 c
      ) WHERE r = 1
    )"""

_IVF_TOPK_SQL = f"""
    WITH {_IVF_TRAIN_CTES}, qa AS MATERIALIZED (
      SELECT vec_id AS query_id, v AS qv, cell FROM (
        SELECT e.vec_id, e.v, c.cell,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 {_IVF_COS.format(a="e.v", b="c.c")} DESC, c.cell ASC) AS r
        FROM emb e CROSS JOIN cents1 c
        WHERE e.vec_id % 50 = 0
      ) WHERE r <= 4
    ), scored AS (
      SELECT DISTINCT qa.query_id, ca.neighbor_id,
             round({_IVF_COS.format(a="qa.qv", b="ca.cv")}, 6) AS cos_sim
      FROM ca JOIN qa USING (cell)
      WHERE qa.query_id <> ca.neighbor_id
    ), ranked AS (
      SELECT *, CAST(row_number() OVER
        (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS INTEGER) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """

_register(
    "sim_ivf_topk",
    lambda spark, sf: similarity.ivf_topk(
        load_table(spark, sf, "embeddings").filter(F.col("vec_id") % 50 == 0),
        load_table(spark, sf, "embeddings"), k=5, n_cells=16, n_probe=4,
    ),
    _IVF_TOPK_SQL,
)

# ANN recall report (similarity.ann_recall_report): recall@k of the IVF
# probe vs the exact ground truth on the query sample — the index-quality
# monitor that tells a deployment when n_probe / a recluster is due.
# Exact-integer hits; the oracle replays BOTH sides and intersects.

_register(
    "sim_ann_recall",
    lambda spark, sf: similarity.ann_recall_report(
        load_table(spark, sf, "embeddings").filter(F.col("vec_id") % 50 == 0),
        load_table(spark, sf, "embeddings"), k=5, n_cells=16, n_probe=4,
    ),
    f"""
    WITH {_IVF_TRAIN_CTES}, rqa AS MATERIALIZED (
      SELECT vec_id AS query_id, v AS qv, cell FROM (
        SELECT e.vec_id, e.v, c.cell,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 {_IVF_COS.format(a="e.v", b="c.c")} DESC, c.cell ASC) AS r
        FROM emb e CROSS JOIN cents1 c
        WHERE e.vec_id % 50 = 0
      ) WHERE r <= 4
    ), raset AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id, row_number() OVER
          (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC)
          AS rank
        FROM (SELECT DISTINCT qa.query_id, ca.neighbor_id,
                     round({_IVF_COS.format(a="qa.qv", b="ca.cv")}, 6)
                       AS cos_sim
              FROM ca JOIN rqa qa USING (cell)
              WHERE qa.query_id <> ca.neighbor_id))
      WHERE rank <= 5
    ), reset AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 {_COS_SQL} DESC, c.vec_id ASC) AS rank
        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id % 50 = 0)
      WHERE rank <= 5
    ), rinter AS (
      SELECT e.query_id, CAST(count(*) AS BIGINT) AS hits
      FROM reset e JOIN raset a USING (query_id, neighbor_id)
      GROUP BY e.query_id
    ), rper AS MATERIALIZED (
      SELECT q.query_id, COALESCE(i.hits, CAST(0 AS BIGINT)) AS hits,
             CAST(5 AS BIGINT) AS k
      FROM (SELECT DISTINCT query_id FROM reset) q
      LEFT JOIN rinter i USING (query_id)
    )
    SELECT query_id, hits, k FROM rper
    UNION ALL
    SELECT CAST(-1 AS BIGINT) AS query_id, CAST(SUM(hits) AS BIGINT) AS hits,
           CAST(SUM(k) AS BIGINT) AS k
    FROM rper
    """,
)

# ANN autotune walk (r11, VERDICT r10 #8): the doubling-n_probe schedule
# as a driver-checkable artifact — one row per PROBED step with
# exact-integer (n_probe, hits, total), stop rule hits·10 ≥ 9·total (the
# 0.9 target as a rational, so no float compare crosses engines).  The
# oracle computes hits for EVERY power-of-two n_probe over the same
# deterministic IVF training replay and keeps the prefix no earlier step
# of which already met the target — exactly the walk Spark executes.


def _ann_autotune_sql(k: int = 5, n_cells: int = 16,
                      num: int = 9, den: int = 10) -> str:
    probes = []
    p = 1
    while p < n_cells:
        probes.append(p)
        p *= 2
    probes.append(n_cells)
    ctes = [f"""gt AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 {_COS_SQL} DESC, c.vec_id ASC) AS rank
        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id % 50 = 0)
      WHERE rank <= {k}
    )""",
            "tot AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) "
            "AS total FROM gt)"]
    hit_parts = []
    for p in probes:
        ctes.append(f"""aqa{p} AS MATERIALIZED (
      SELECT vec_id AS query_id, v AS qv, cell FROM (
        SELECT e.vec_id, e.v, c.cell,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 {_IVF_COS.format(a="e.v", b="c.c")} DESC, c.cell ASC) AS r
        FROM emb e CROSS JOIN cents1 c
        WHERE e.vec_id % 50 = 0
      ) WHERE r <= {p}
    )""")
        ctes.append(f"""aset{p} AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id, row_number() OVER
          (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC)
          AS rank
        FROM (SELECT DISTINCT qa.query_id, ca.neighbor_id,
                     round({_IVF_COS.format(a="qa.qv", b="ca.cv")}, 6)
                       AS cos_sim
              FROM ca JOIN aqa{p} qa USING (cell)
              WHERE qa.query_id <> ca.neighbor_id))
      WHERE rank <= {k}
    )""")
        hit_parts.append(
            f"SELECT CAST({p} AS BIGINT) AS n_probe, "
            f"CAST(count(*) AS BIGINT) AS hits "
            f"FROM gt JOIN aset{p} USING (query_id, neighbor_id)")
    ctes.append("steps AS MATERIALIZED (\n"
                + "\nUNION ALL\n".join(hit_parts) + "\n)")
    return (
        f"WITH {_IVF_TRAIN_CTES}, " + ",\n".join(ctes) + f"""
    SELECT s.n_probe, s.hits, t.total
    FROM steps s CROSS JOIN tot t
    WHERE NOT EXISTS (
      SELECT 1 FROM steps s2 CROSS JOIN tot t2
      WHERE s2.n_probe < s.n_probe AND s2.hits * {den} >= {num} * t2.total)
    """)


_register(
    "sim_ann_autotune",
    lambda spark, sf: similarity.ann_autotune_history(
        load_table(spark, sf, "embeddings").filter(F.col("vec_id") % 50 == 0),
        load_table(spark, sf, "embeddings"), k=5, n_cells=16),
    _ann_autotune_sql(),
)

# Metadata-FILTERED ANN (r9): same index (centroids trained on the FULL
# corpus — filter-agnostic), candidates pruned by the predicate before the
# rerank.  The oracle reuses the identical training replay and adds the
# predicate to the probe join's candidate side, so a hash match certifies
# the filter applies post-assignment / pre-rerank, exactly as documented.

_IVF_FILTERED_SQL = f"""
    WITH {_IVF_TRAIN_CTES}, qa AS MATERIALIZED (
      SELECT vec_id AS query_id, v AS qv, cell FROM (
        SELECT e.vec_id, e.v, c.cell,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 {_IVF_COS.format(a="e.v", b="c.c")} DESC, c.cell ASC) AS r
        FROM emb e CROSS JOIN cents1 c
        WHERE e.vec_id % 50 = 0
      ) WHERE r <= 4
    ), scored AS (
      SELECT DISTINCT qa.query_id, ca.neighbor_id,
             round({_IVF_COS.format(a="qa.qv", b="ca.cv")}, 6) AS cos_sim
      FROM ca JOIN qa USING (cell)
      WHERE qa.query_id <> ca.neighbor_id
        AND ca.neighbor_id % 7 IN (1, 3)
    ), ranked AS (
      SELECT *, CAST(row_number() OVER
        (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS INTEGER) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """

_register(
    "sim_ivf_filtered",
    lambda spark, sf: similarity.ivf_topk(
        load_table(spark, sf, "embeddings").filter(F.col("vec_id") % 50 == 0),
        load_table(spark, sf, "embeddings"), k=5, n_cells=16, n_probe=4,
        corpus_filter=(F.col("vec_id") % 7).isin(1, 3),
    ),
    _IVF_FILTERED_SQL,
)

# Product Quantization + ADC (similarity.pq_topk): like IVF, deterministic
# end-to-end — seeds = lowest-id vectors' subvectors, exact-integer Lloyd
# means, (cosine DESC, code ASC) assignment argmax, and ADC partials
# quantized to 1e-6 BIGINTs so the m-way per-pair sum is order-independent.
# The oracle replays train → encode → LUT → scan in full: 64-dim vectors,
# m=4 subspaces of 16 dims, 16 codes, queries = vec_id % 50.

_PQ_TOPK_SQL = f"""
    WITH emb AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), sl AS MATERIALIZED (
      SELECT vec_id AS id, sub, v[sub * 16 + 1 : sub * 16 + 16] AS sv
      FROM emb CROSS JOIN (VALUES (0), (1), (2), (3)) AS subs(sub)
    ), seeds AS (
      SELECT vec_id AS id FROM emb ORDER BY vec_id LIMIT 16
    ), b0 AS MATERIALIZED (
      SELECT sub, id AS code, sv AS c FROM sl JOIN seeds USING (id)
    ), a0 AS MATERIALIZED (
      SELECT id, sub, code, sv FROM (
        SELECT sl.id, sl.sub, b.code, sl.sv,
               row_number() OVER (PARTITION BY sl.id, sl.sub ORDER BY
                 {_IVF_COS.format(a="sl.sv", b="b.c")} DESC, b.code ASC) AS r
        FROM sl JOIN b0 b ON sl.sub = b.sub
      ) WHERE r = 1
    ), dims AS MATERIALIZED (
      SELECT sub, code, generate_subscripts(sv, 1) AS pos, unnest(sv) AS x
      FROM a0
    ), b1 AS MATERIALIZED (
      SELECT sub, code, list(mx ORDER BY pos) AS c FROM (
        SELECT sub, code, pos,
               CAST(SUM(CAST(round(x * 1000000) AS BIGINT)) AS DOUBLE)
                 / (1000000.0 * COUNT(*)) AS mx
        FROM dims GROUP BY sub, code, pos
      ) GROUP BY sub, code
    ), codes AS MATERIALIZED (
      SELECT id AS neighbor_id, sub, code FROM (
        SELECT sl.id, sl.sub, b.code,
               row_number() OVER (PARTITION BY sl.id, sl.sub ORDER BY
                 {_IVF_COS.format(a="sl.sv", b="b.c")} DESC, b.code ASC) AS r
        FROM sl JOIN b1 b ON sl.sub = b.sub
      ) WHERE r = 1
    ), lut AS MATERIALIZED (
      SELECT sl.id AS query_id, sl.sub, b.code,
             CAST(round(list_dot_product(sl.sv, b.c) * 1000000) AS BIGINT)
               AS qdot
      FROM sl JOIN b1 b ON sl.sub = b.sub
      WHERE sl.id % 50 = 0
    ), cn AS MATERIALIZED (
      SELECT sub, code,
             CAST(round(list_dot_product(c, c) * 1000000) AS BIGINT) AS cn2
      FROM b1
    ), scored AS (
      SELECT query_id, neighbor_id,
             (CAST(SUM(qdot) AS DOUBLE) / 1000000.0)
               / sqrt(CAST(SUM(cn2) AS DOUBLE) / 1000000.0) AS adc_score
      FROM codes JOIN lut USING (sub, code) JOIN cn USING (sub, code)
      WHERE query_id <> neighbor_id
      GROUP BY query_id, neighbor_id
    ), ranked AS (
      SELECT *, CAST(row_number() OVER
        (PARTITION BY query_id ORDER BY adc_score DESC, neighbor_id ASC)
        AS INTEGER) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, adc_score, rank FROM ranked WHERE rank <= 5
    """

_register(
    "sim_pq_topk",
    lambda spark, sf: similarity.pq_topk(
        load_table(spark, sf, "embeddings").filter(F.col("vec_id") % 50 == 0),
        load_table(spark, sf, "embeddings"), k=5, m=4, n_codes=16,
    ),
    _PQ_TOPK_SQL,
)

# Johnson-Lindenstrauss sign random projection (similarity.random_projection):
# the deterministic ±1 matrix is generated driver-side (hashlib md5) and
# embedded as literals in BOTH the Spark plan and the SQL oracle, so the
# projected coordinates are bit-identical folds.  Checked exploded per
# coordinate (8000 values at 500 vectors × 16 dims).

_register(
    "sim_random_projection",
    lambda spark, sf: similarity.random_projection(
        load_table(spark, sf, "embeddings"), out_dim=16)
    .select("vec_id", F.posexplode("proj").alias("dim", "value")),
    f"""
    SELECT vec_id, generate_subscripts(p, 1) - 1 AS dim, unnest(p) AS value
    FROM (SELECT vec_id,
                 {{proj}} AS p
          FROM embeddings)
    """.format(proj=similarity.projection_sql(
        64, 16, "CAST(embedding AS DOUBLE[])")),
)

# SemDeDup (similarity.semantic_dedup_pairs / semantic_dedup): k-means-cell-
# scoped semantic near-dup pairs and the diversity-keeping survivor set
# (drop x iff a same-cell neighbor above threshold is FARTHER from the
# centroid, id tie-break).  The oracle replays the shared IVF training CTEs
# then the pair join and the pairwise drop predicate.

_register(
    "sim_semdedup_pairs",
    lambda spark, sf: similarity.semantic_dedup_pairs(
        load_table(spark, sf, "embeddings"), threshold=0.4, n_cells=16),
    f"""
    WITH {_IVF_TRAIN_CTES}
    SELECT x.neighbor_id AS id_a, y.neighbor_id AS id_b, x.cell,
           round({_IVF_COS.format(a="x.cv", b="y.cv")}, 6) AS cos_sim
    FROM ca x JOIN ca y ON x.cell = y.cell AND x.neighbor_id < y.neighbor_id
    WHERE round({_IVF_COS.format(a="x.cv", b="y.cv")}, 6) >= 0.4
    """,
)

_register(
    "sim_semdedup_kept",
    lambda spark, sf: similarity.semantic_dedup(
        load_table(spark, sf, "embeddings"), threshold=0.4, n_cells=16),
    f"""
    WITH {_IVF_TRAIN_CTES}, scored AS MATERIALIZED (
      SELECT ca.neighbor_id AS id, ca.cell, ca.cv,
             round({_IVF_COS.format(a="ca.cv", b="c1.c")}, 6) AS cs
      FROM ca JOIN cents1 c1 USING (cell)
    ), dropped AS (
      SELECT DISTINCT x.id
      FROM scored x JOIN scored y
        ON x.cell = y.cell AND x.id <> y.id
      WHERE round({_IVF_COS.format(a="x.cv", b="y.cv")}, 6) >= 0.4
        AND (y.cs < x.cs OR (y.cs = x.cs AND y.id < x.id))
    )
    SELECT id, cell, cs AS centroid_sim
    FROM scored WHERE id NOT IN (SELECT id FROM dropped)
    """,
)

# Contrastive pair mining (similarity.mine_contrastive_pairs): cell-scoped
# positives (cos >= 0.4) and per-anchor hardest negatives (top-2 by cos in
# the [0.2, 0.35) band) for embedding-model fine-tuning — semi-hard mining
# (Schroff et al. 2015) over the shared IVF cell machinery.  The oracle
# replays the IVF training CTEs, the cell pair join, and both rankings.

_register(
    "sim_contrastive_pairs",
    lambda spark, sf: similarity.mine_contrastive_pairs(
        load_table(spark, sf, "embeddings"), pos_threshold=0.4,
        neg_band=(0.2, 0.35), n_neg=2, n_cells=16),
    f"""
    WITH {_IVF_TRAIN_CTES}, cpair AS MATERIALIZED (
      SELECT x.neighbor_id AS anchor_id, y.neighbor_id AS other_id,
             round({_IVF_COS.format(a="x.cv", b="y.cv")}, 6) AS cos_sim
      FROM ca x JOIN ca y
        ON x.cell = y.cell AND x.neighbor_id <> y.neighbor_id
    )
    SELECT anchor_id, other_id, cos_sim, 'pos' AS kind,
           CAST(row_number() OVER (PARTITION BY anchor_id
             ORDER BY cos_sim DESC, other_id ASC) AS BIGINT) AS pair_rank
    FROM cpair WHERE cos_sim >= 0.4
    UNION ALL
    SELECT anchor_id, other_id, cos_sim, 'neg' AS kind, pair_rank FROM (
      SELECT anchor_id, other_id, cos_sim,
             CAST(row_number() OVER (PARTITION BY anchor_id
               ORDER BY cos_sim DESC, other_id ASC) AS BIGINT) AS pair_rank
      FROM cpair WHERE cos_sim >= 0.2 AND cos_sim < 0.35)
    WHERE pair_rank <= 2
    """,
)

# ===========================================================================
# wave 6: Gremlin-flavored traversal DSL queries (the reference's user-facing
# query surface is Gremlin via hugegraph-core; these prove the fluent API
# compiles to correct plans)
# ===========================================================================

from hugegraph_on_tikv_spark.traversal_api import Graph as _GremlinGraph


_register(
    "dsl_segment_2hop_count",
    lambda spark, sf: _GremlinGraph(spark, sf)
    .V().has_label("customer").has("mktsegment", "BUILDING")
    .out("placed").out("contains").count(),
    """
    SELECT CAST(count(*) AS BIGINT) AS n
    FROM customer JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
    WHERE c_mktsegment = 'BUILDING'
    """,
)

_register(
    "dsl_group_count",
    lambda spark, sf: _GremlinGraph(spark, sf)
    .V().has_label("customer").out("placed").group_count("status"),
    """
    SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY o_orderstatus
    """,
)

_register(
    "dsl_has_predicate_values",
    lambda spark, sf: _GremlinGraph(spark, sf)
    .V().has_label("part").has("size", (">=", 40)).has("brand", ("prefix", "Brand#1"))
    .values("name", "brand", "size"),
    f"""
    WITH {graph_ctes()}
    SELECT id, name, brand, size FROM vertices
    WHERE label = 'part' AND size >= 40 AND brand LIKE 'Brand#1%'
    """,
)

_register(
    "dsl_in_dedup",
    lambda spark, sf: _GremlinGraph(spark, sf)
    .V().has_label("order").in_("placed").dedup().count(),
    "SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n FROM orders",
)

# -- DSL repeat(): 2-hop via repeated step ----------------------------------

_register(
    "dsl_repeat_2hop",
    lambda spark, sf: _GremlinGraph(spark, sf)
    .V(_KHOP_START).repeat(lambda t: t.out("placed", "contains"), 2).dedup().count(),
    f"""
    WITH {graph_ctes()},
    de AS MATERIALIZED (SELECT src, dst FROM edges WHERE label IN ('placed', 'contains')),
    h1 AS (SELECT DISTINCT dst AS id FROM de WHERE src = {_KHOP_START}),
    h2 AS (SELECT DISTINCT de.dst AS id FROM de JOIN h1 ON de.src = h1.id)
    SELECT CAST(count(*) AS BIGINT) AS n FROM h2
    """,
)

# -- DSL long-tail steps: where(P.neq(label)) and order().by() --------------

_register(
    "dsl_where_neq",
    lambda spark, sf: _GremlinGraph(spark, sf)
    .V().has_label("part").as_("p").out("supplied_by").in_("supplied_by")
    .where_("p").count(),
    """
    WITH sb AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem)
    SELECT CAST(count(*) AS BIGINT) AS n
    FROM sb a JOIN sb b ON a.s = b.s AND a.p <> b.p
    """,
)

_register(
    "dsl_not_count",
    lambda spark, sf: _GremlinGraph(spark, sf)
    .V().has_label("customer").not_(lambda t: t.out("placed")).count(),
    """
    SELECT CAST(count(*) AS BIGINT) AS n FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)

_register(
    "dsl_order_values",
    lambda spark, sf: _GremlinGraph(spark, sf)
    .V().has_label("part").order_by("retailprice", ascending=False).limit(10)
    .values("name", "retailprice"),
    f"""
    SELECT (3 * {ID_BASE} + p_partkey) AS id, p_name AS name,
           p_retailprice AS retailprice
    FROM part ORDER BY p_retailprice DESC, p_partkey LIMIT 10
    """,
)

# -- DSL long-tail: union(), simplePath(), group().by(k).by(agg) ------------

_register(
    "dsl_union_count",
    lambda spark, sf: _GremlinGraph(spark, sf)
    .V().has_label("customer")
    .union_(lambda t: t.out("placed"), lambda t: t.out("located_in")).count(),
    # each customer union-emits its orders plus its single nation hop
    """
    SELECT CAST((SELECT count(*) FROM orders)
              + (SELECT count(*) FROM customer) AS BIGINT) AS n
    """,
)

_register(
    "dsl_simple_path_count",
    # customer → its nation → everything located there; simplePath removes
    # exactly the backtracking traverser (the origin customer itself)
    lambda spark, sf: _GremlinGraph(spark, sf)
    .V().has_label("customer").with_path()
    .out("located_in").in_("located_in").simple_path().count(),
    """
    WITH loc AS (SELECT c_nationkey AS nk FROM customer
                 UNION ALL SELECT s_nationkey FROM supplier),
         pern AS (SELECT nk, count(*) AS m FROM loc GROUP BY nk)
    SELECT CAST(SUM(m - 1) AS BIGINT) AS n
    FROM customer JOIN pern ON c_nationkey = pern.nk
    """,
)

_register(
    "dsl_group_by_agg",
    # group().by('brand').by(values('size').sum()) — integer sum, exact and
    # summation-order-independent in both engines
    lambda spark, sf: _GremlinGraph(spark, sf)
    .V().has_label("part").group_by("brand", "sum", "size"),
    """
    SELECT p_brand AS brand, CAST(SUM(p_size) AS BIGINT) AS value
    FROM part GROUP BY p_brand
    """,
)

# -- DSL projection sugar: valueMap(), project(), choose() ------------------

_register(
    "dsl_value_map",
    # valueMap('name','acctbal') over suppliers: per-traverser property
    # projection (traversal_api.value_map)
    lambda spark, sf: _GremlinGraph(spark, sf)
    .V().has_label("supplier").value_map("name", "acctbal"),
    f"""
    WITH {graph_ctes()}
    SELECT id, name, acctbal FROM vertices WHERE label = 'supplier'
    """,
)

_register(
    "dsl_project",
    # project('cust','nm','n_orders').by(id).by('name').by(out('placed')
    # .count()): the per-traverser sub-step count idiom
    lambda spark, sf: _GremlinGraph(spark, sf)
    .V().has_label("customer").has("mktsegment", "MACHINERY")
    .project_(cust="id", nm="name",
              n_orders=lambda t: t.out("placed")),
    f"""
    SELECT (1 * {ID_BASE} + c_custkey) AS id,
           (1 * {ID_BASE} + c_custkey) AS cust, c_name AS nm,
           CAST((SELECT count(*) FROM orders WHERE o_custkey = c_custkey)
                AS BIGINT) AS n_orders
    FROM customer WHERE c_mktsegment = 'MACHINERY'
    """,
)

_register(
    "dsl_choose_count",
    # choose(mktsegment = BUILDING, out('placed'), identity): per-traverser
    # branch routing — BUILDING customers become their orders, the rest
    # stay put
    lambda spark, sf: _GremlinGraph(spark, sf)
    .V().has_label("customer")
    .choose_(("mktsegment", "BUILDING"), lambda t: t.out("placed")).count(),
    """
    SELECT CAST((SELECT count(*) FROM customer JOIN orders
                 ON o_custkey = c_custkey
                 WHERE c_mktsegment = 'BUILDING')
              + (SELECT count(*) FROM customer
                 WHERE c_mktsegment <> 'BUILDING') AS BIGINT) AS n
    """,
)

# -- DSL long-tail: repeat().emit() and match()-lite ------------------------

_register(
    "dsl_repeat_emit_count",
    # repeat(out).emit().times(2): the union of BOTH frontiers (orders of
    # customer 42, then per-lineitem parts), multiplicity preserved — the
    # neighborhood, not the 2nd frontier
    lambda spark, sf: _GremlinGraph(spark, sf)
    .V(_KHOP_START).repeat(lambda t: t.out("placed", "contains"), 2, emit=True)
    .count(),
    f"""
    WITH {graph_ctes()},
    de AS MATERIALIZED (SELECT src, dst FROM edges WHERE label IN ('placed', 'contains')),
    h1 AS (SELECT dst AS id FROM de WHERE src = {_KHOP_START}),
    h2 AS (SELECT de.dst AS id FROM de JOIN h1 ON de.src = h1.id)
    SELECT CAST((SELECT count(*) FROM h1) + (SELECT count(*) FROM h2) AS BIGINT) AS n
    """,
)

_register(
    "dsl_match_count",
    # match()-lite: customer a placed order b, b contains part c,
    # a located_in nation n — one row per satisfying (a, b, c, n) assignment
    lambda spark, sf: _GremlinGraph(spark, sf)
    .V().has_label("customer").has("mktsegment", "MACHINERY")
    .has("acctbal", (">", 9000.0))
    .match_(
        ("a", lambda t: t.out("placed"), "b"),
        ("b", lambda t: t.out("contains"), "c"),
        ("a", lambda t: t.out("located_in"), "n"),
    ).count(),
    """
    SELECT CAST(count(*) AS BIGINT) AS n
    FROM customer JOIN orders ON o_custkey = c_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'MACHINERY' AND c_acctbal > 9000
    """,
)

# -- DSL long-tail: sack() accumulator and local(limit) ---------------------

_register(
    "dsl_sack_quantity",
    # withSack(0).out('placed').outE('contains').sack(sum).by('quantity')
    # .inV().sack(): per-lineitem part traversers for customer 42's orders,
    # each carrying the folded quantity
    lambda spark, sf: _GremlinGraph(spark, sf)
    .V(_KHOP_START).out("placed").with_sack(0.0)
    .out_e("contains").sack_by("quantity").in_v().sack()
    .selectExpr("CAST(id AS DOUBLE) AS id", "sack"),
    f"""
    SELECT CAST(3 * {ID_BASE} + l_partkey AS DOUBLE) AS id,
           CAST(l_quantity AS DOUBLE) AS sack
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_custkey = 42
    """,
)

_register(
    "dsl_sack_merge",
    # withSack(1.0, mergeOperator=sum): Gremlin's bulking merge as exact
    # path counting — traversers reaching the same 2-hop part collapse,
    # sacks summed, so the sack IS the number of (order, lineitem) routes
    # from customer 42 (integer-valued doubles: the sum is exact)
    lambda spark, sf: _GremlinGraph(spark, sf)
    .V(_KHOP_START).with_sack(1.0).out("placed").out("contains")
    .merge_sacks("sum").sack()
    .selectExpr("CAST(id AS DOUBLE) AS id", "sack"),
    f"""
    SELECT CAST(3 * {ID_BASE} + l_partkey AS DOUBLE) AS id,
           CAST(count(*) AS DOUBLE) AS sack
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_custkey = 42
    GROUP BY l_partkey
    """,
)

_register(
    "dsl_local_limit",
    # local(out('placed').limit(3)): each AUTOMOBILE customer's first 3
    # orders by vertex id — the per-traverser scoped cut
    lambda spark, sf: _GremlinGraph(spark, sf)
    .V().has_label("customer").has("mktsegment", "AUTOMOBILE")
    .local_limit(lambda t: t.out("placed"), 3).count(),
    f"""
    WITH ranked AS (
      SELECT o_custkey,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS r
      FROM orders JOIN customer ON c_custkey = o_custkey
      WHERE c_mktsegment = 'AUTOMOBILE'
    )
    SELECT CAST(count(*) AS BIGINT) AS n FROM ranked WHERE r <= 3
    """,
)

# -- window function over joined relations (rank within group) --------------

def _q_rank_in_nation(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    n = load_table(spark, sf, "nation")
    rev = (
        o.groupBy("o_custkey").agg(_money(F.col("o_totalprice")).alias("revenue"))
    )
    joined = (
        c.join(rev, c.c_custkey == rev.o_custkey, "inner")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    w = Window.partitionBy("n_name").orderBy(F.col("revenue").desc(), F.col("c_custkey"))
    return (
        joined.withColumn("rank_in_nation", F.row_number().over(w))
        .filter(F.col("rank_in_nation") <= 5)
        .select("n_name", "c_custkey", "revenue", "rank_in_nation")
    )

_register(
    "q_rank_in_nation",
    _q_rank_in_nation,
    """
    WITH rev AS (
      SELECT o_custkey, SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT n_name, c_custkey, revenue,
             CAST(row_number() OVER (PARTITION BY n_name
                  ORDER BY revenue DESC, c_custkey) AS INTEGER) AS rank_in_nation
      FROM customer JOIN rev ON c_custkey = o_custkey
           JOIN nation ON c_nationkey = n_nationkey
    )
    SELECT n_name, c_custkey, revenue, rank_in_nation FROM ranked
    WHERE rank_in_nation <= 5
    """,
)

# analytic-function long tail over the same ranked set: lag (revenue gap to
# the customer above), lead (next customer id), ntile halves.  Nullable
# lead/ntile ids are cast DOUBLE (nullable-int None/NaN hash divergence);
# prev_revenue stays a nullable double (NaN renders identically in both
# engines' pandas frames).

def _q_window_analytics(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    n = load_table(spark, sf, "nation")
    rev = o.groupBy("o_custkey").agg(_money(F.col("o_totalprice")).alias("revenue"))
    joined = (
        c.join(rev, c.c_custkey == rev.o_custkey, "inner")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    w = Window.partitionBy("n_name").orderBy(F.col("revenue").desc(), F.col("c_custkey"))
    top = (joined.withColumn("rank_in_nation", F.row_number().over(w))
           .filter(F.col("rank_in_nation") <= 5)
           .select("n_name", "c_custkey", "revenue"))
    w2 = Window.partitionBy("n_name").orderBy(F.col("revenue").desc(), F.col("c_custkey"))
    return top.select(
        "n_name", "c_custkey",
        F.lag("revenue").over(w2).alias("prev_revenue"),
        F.lead("c_custkey").over(w2).cast("double").alias("next_custkey"),
        F.ntile(2).over(w2).cast("double").alias("half"),
    )

_register(
    "q_window_analytics",
    _q_window_analytics,
    """
    WITH rev AS (
      SELECT o_custkey, SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT n_name, c_custkey, revenue,
             CAST(row_number() OVER (PARTITION BY n_name
                  ORDER BY revenue DESC, c_custkey) AS INTEGER) AS rank_in_nation
      FROM customer JOIN rev ON c_custkey = o_custkey
           JOIN nation ON c_nationkey = n_nationkey
    ), top5 AS (
      SELECT n_name, c_custkey, revenue FROM ranked WHERE rank_in_nation <= 5
    )
    SELECT n_name, c_custkey,
           lag(revenue) OVER w AS prev_revenue,
           CAST(lead(c_custkey) OVER w AS DOUBLE) AS next_custkey,
           CAST(ntile(2) OVER w AS DOUBLE) AS half
    FROM top5
    WINDOW w AS (PARTITION BY n_name ORDER BY revenue DESC, c_custkey)
    """,
)

# -- CUBE (multi-dimensional aggregate; absent in reference, free here) -----

_register(
    "agg_cube",
    lambda spark, sf: load_table(spark, sf, "lineitem")
    .cube("l_returnflag", "l_linestatus")
    .agg(F.count(F.lit(1)).alias("n")),
    """
    SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)

# -- weighted single-source shortest paths (Bellman-Ford rounds) ------------

def _sssp_edges(spark: SparkSession, sf: str) -> DataFrame:
    e = GraphStore(spark, sf).edges()
    return (
        e.filter(F.col("label").isin(["placed", "contains"]))
        .select("src", "dst",
                F.when(F.col("label") == "placed", F.lit(1.0))
                 .otherwise(F.col("quantity")).alias("weight"))
    )

_SSSP_SOURCE = _vid("customer", 42)


def _sssp_sql(iterations: int = 4) -> str:
    ctes = [
        "we AS MATERIALIZED (SELECT src, dst, CASE WHEN label = 'placed' THEN 1.0 "
        "ELSE quantity END AS weight FROM edges WHERE label IN ('placed', 'contains'))",
        f"sp0 AS MATERIALIZED (SELECT CAST({_SSSP_SOURCE} AS BIGINT) AS id, "
        f"CAST(0.0 AS DOUBLE) AS distance)",
    ]
    for t in range(1, iterations + 1):
        ctes.append(
            f"sp{t} AS MATERIALIZED (SELECT id, MIN(distance) AS distance FROM ("
            f"SELECT id, distance FROM sp{t-1} "
            f"UNION ALL "
            f"SELECT we.dst AS id, s.distance + we.weight AS distance "
            f"FROM we JOIN sp{t-1} s ON we.src = s.id"
            f") GROUP BY id)"
        )
    return (
        f"WITH {graph_ctes()},\n" + ",\n".join(ctes)
        + f"\nSELECT id, round(distance, 4) AS distance FROM sp{iterations}"
    )

_register(
    "g_sssp_weighted",
    lambda spark, sf: analytics.sssp(_sssp_edges(spark, sf), _SSSP_SOURCE, iterations=4)
    .select("id", F.round("distance", 4).alias("distance")),
    _sssp_sql(),
)

# -- end-to-end pipeline shapes: dedup-and-keep-canonical, quality filter ---

def _dedup_canonicalize(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    pairs = dedup.minhash_lsh_duplicates(docs, num_hashes=32, rows_per_band=4,
                                         k=3, threshold=0.3)
    # survivors: drop the higher id of every near-dup pair
    losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return docs.join(losers, "doc_id", "left_anti").select("doc_id")

_register(
    "dedup_canonicalize",
    _dedup_canonicalize,
    f"""
    WITH pairs AS ({_minhash_lsh_sql()})
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT DISTINCT doc_b FROM pairs)
    """,
)

# -- deterministic corpus sampling (functions/sampling.py): hash-driven
#    train/val/test split and per-source cap — the dataset-assembly step
#    after dedup/quality.  Pure md5 arithmetic, exact DuckDB twins. ---------

def _sample_split(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.functions import sampling
    return sampling.split_assign(
        load_table(spark, sf, "documents"),
        {"train": 0.8, "val": 0.1, "test": 0.1}).select("doc_id", "split")

def _sample_cap(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.functions import sampling
    return sampling.cap_per_group(
        load_table(spark, sf, "documents"), "source", 50).select("doc_id")

def _sampling_oracles():
    from hugegraph_on_tikv_spark.functions import sampling
    split = f"""
    SELECT doc_id,
           {sampling.split_sql({"train": 0.8, "val": 0.1, "test": 0.1})} AS split
    FROM documents
    """
    h = ("CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ''), 1, 12))"
         f" AS UBIGINT) AS BIGINT) % {sampling.BUCKETS}")
    cap = f"""
    SELECT doc_id FROM (
      SELECT doc_id,
             row_number() OVER (PARTITION BY source ORDER BY {h}, doc_id) AS rn
      FROM documents) WHERE rn <= 50
    """
    return split, cap

_SAMPLE_SPLIT_SQL, _SAMPLE_CAP_SQL = _sampling_oracles()
_register("sample_split", _sample_split, _SAMPLE_SPLIT_SQL)
_register("sample_cap", _sample_cap, _SAMPLE_CAP_SQL)


# -- deterministic corpus mixing (sampling.mix_corpus): assemble a dataset
#    to target domain proportions ("40% web / 30% code / 30% books") by
#    per-domain hash-order caps.  src0's cap (30) exceeds its supply (25
#    at sf0.01), so the no-silent-backfill contract is value-checked too --

_MIX_WEIGHTS = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
_MIX_TOTAL = 60

def _sample_mix(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.functions import sampling
    return sampling.mix_corpus(
        load_table(spark, sf, "documents"), "source", _MIX_WEIGHTS,
        _MIX_TOTAL).select("doc_id", "source")

def _mix_oracle() -> str:
    from hugegraph_on_tikv_spark.functions import sampling
    inner = sampling.mix_sql("source", _MIX_WEIGHTS, _MIX_TOTAL)
    return f"SELECT doc_id, source FROM ({inner}) q"

_register("sample_mix", _sample_mix, _mix_oracle())


# -- temperature-flattened mixture (sampling.temperature_mix, alpha=0.5):
#    the mT5/XLM-R p^alpha domain rebalance.  The fixture's 20 uniform
#    sources are folded into a SKEWED 3-domain mapping (web 275 / code 175
#    / books 50 at sf0.01) so the isqrt flattening is visible: caps become
#    floor(120·isqrt(c)/Σisqrt) = 16:13:7-proportioned, between natural
#    and uniform.  Exact integer weights + floor division = engine-replayable.

_TEMPMIX_DOMAIN_SQL = ("CASE WHEN source LIKE 'src1%' THEN 'web' "
                       "WHEN source IN ('src0', 'src2') THEN 'books' "
                       "ELSE 'code' END")


def _sample_temp_mix(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.functions import sampling
    docs = load_table(spark, sf, "documents").withColumn(
        "domain",
        F.when(F.col("source").startswith("src1"), "web")
        .when(F.col("source").isin("src0", "src2"), "books")
        .otherwise("code"))
    return sampling.temperature_mix(docs, "domain", total=120) \
        .select("doc_id", "domain")


def _temp_mix_oracle() -> str:
    from hugegraph_on_tikv_spark.functions import sampling
    inner = sampling.temperature_mix_sql(
        "domain", 120,
        table=f"(SELECT doc_id, {_TEMPMIX_DOMAIN_SQL} AS domain "
              "FROM documents) tt")
    return f"SELECT doc_id, domain FROM ({inner}) q"


_register("sample_temp_mix", _sample_temp_mix, _temp_mix_oracle())


# -- DSIR importance resampling (sampling.dsir_select, Xie et al. 2023):
#    pick the pool docs whose hashed unigram+bigram distribution best
#    matches the English-subset target, Gumbel-top-k over exact-integer
#    floored log-ratio weights.  Both the weight and the Gumbel draw are
#    value-checked (fp / n_docs in the fused row), so the whole model —
#    bucket counts, add-k smoothing, 1e-6-floored log-probs, noise, cut —
#    replays bit-for-bit in DuckDB (sampling.dsir_sql)

_DSIR_N = 120


def _sample_dsir(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.functions import sampling
    docs = load_table(spark, sf, "documents")
    return sampling.dsir_select(docs, docs.filter(F.col("lang") == "en"),
                                n=_DSIR_N)


def _dsir_oracle() -> str:
    from hugegraph_on_tikv_spark.functions import sampling
    return sampling.dsir_sql(_DSIR_N, "lang = 'en'")


_register("sample_dsir", _sample_dsir, _dsir_oracle())


def _sample_weighted(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.functions import sampling
    docs = load_table(spark, sf, "documents").withColumn(
        "w", F.least(F.length("text") / F.lit(1000.0), F.lit(1.0)))
    return sampling.weighted_sample(docs, "w").select("doc_id")


def _sample_weighted_sql() -> str:
    from hugegraph_on_tikv_spark.functions import sampling
    h = ("CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ''), 1, "
         f"12)) AS UBIGINT) AS BIGINT) % {sampling.BUCKETS}")
    # floor(), not CAST: Spark's cast truncates where DuckDB's rounds
    return (f"SELECT doc_id FROM documents WHERE {h} < CAST(floor("
            f"least(length(text) / 1000.0, 1.0) * {sampling.BUCKETS}) "
            f"AS BIGINT)")


# quality-weighted Bernoulli keep (functions/sampling.weighted_sample):
# keep-probability = a per-doc weight, draw = the fixed id-hash bucket
_register("sample_weighted", _sample_weighted, _sample_weighted_sql())

_register(
    "text_quality_filter",
    lambda spark, sf: text.quality_metrics(load_table(spark, sf, "documents"))
    .filter((F.col("n_tokens") >= 20) & (F.col("stopword_ratio") <= 0.30)
            & (F.col("mean_token_len") >= 3.0))
    .select("doc_id"),
    f"""
    WITH t AS (
      SELECT doc_id, text, {TOKENS_SQL.format(col="text")} AS toks FROM documents
    ), m AS (
      SELECT doc_id,
        len(toks) AS n_tokens,
        round(list_sum(list_transform(toks, x -> length(x))) * 1.0
              / greatest(len(toks), 1), 4) AS mean_token_len,
        round(len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','it'], x)))
              * 1.0 / greatest(len(toks), 1), 4) AS stopword_ratio
      FROM t
    )
    SELECT doc_id FROM m
    WHERE n_tokens >= 20 AND stopword_ratio <= 0.30 AND mean_token_len >= 3.0
    """,
)


# ===========================================================================
# wave 7: TPC-H tail shapes — EXISTS semi-join, outer-join count
# distribution, distinct-count grouping, correlated scalar threshold,
# anti-join + global-average filter.  Adapted to the reduced fixture schema
# (no partsupp/commitdate/receiptdate/phone) the way q12 already is.
# ===========================================================================

# q4-shaped: orders in a quarter having >=1 late lineitem (EXISTS semi-join)

_register(
    "q4_priority_exists",
    lambda spark, sf: load_table(spark, sf, "orders")
    .filter((F.col("o_orderdate") >= F.expr("TIMESTAMP_NTZ '1996-07-01 00:00:00'"))
            & (F.col("o_orderdate") < F.expr("TIMESTAMP_NTZ '1996-10-01 00:00:00'")))
    .join(
        load_table(spark, sf, "lineitem")
        .join(load_table(spark, sf, "orders").select("o_orderkey", F.col("o_orderdate").alias("od")),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("od") + F.expr("INTERVAL 60 DAYS"))
        .select(F.col("l_orderkey").alias("o_orderkey")).distinct(),
        "o_orderkey", "leftsemi",
    )
    .groupBy("o_orderpriority")
    .agg(F.count(F.lit(1)).alias("order_count")),
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)

# q13-shaped: distribution of order counts per customer (left outer join
# keeps zero-order customers, then a second aggregation histograms them)

_register(
    "q13_custdist",
    lambda spark, sf: load_table(spark, sf, "customer")
    .join(load_table(spark, sf, "orders")
          .filter(~F.col("o_orderpriority").startswith("1"))
          .select("o_orderkey", "o_custkey"),
          F.col("c_custkey") == F.col("o_custkey"), "left")
    .groupBy("c_custkey")
    .agg(F.count("o_orderkey").alias("c_count"))
    .groupBy("c_count")
    .agg(F.count(F.lit(1)).alias("custdist")),
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '1%'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)

# q16-shaped: distinct suppliers per (brand, type, size) via lineitem
# (fixture has no partsupp; the lineitem pairs carry the same relationship)

_register(
    "q16_supplier_cnt",
    lambda spark, sf: load_table(spark, sf, "lineitem")
    .select("l_partkey", "l_suppkey")
    .join(load_table(spark, sf, "part")
          .filter(~F.col("p_type").startswith("ECONOMY") & F.col("p_size").isin([5, 15, 25, 35])),
          F.col("l_partkey") == F.col("p_partkey"))
    .groupBy("p_brand", "p_type", "p_size")
    .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")),
    """
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_type NOT LIKE 'ECONOMY%' AND p_size IN (5, 15, 25, 35)
    GROUP BY p_brand, p_type, p_size
    """,
)

# q17-shaped: revenue share of small-quantity lines (correlated scalar
# threshold per part, expressed as a per-part average join; exact money sum)

def _q17(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    # per-part threshold in exact integer domain: qty*5*n_part < sum_qty
    # (l_quantity is integral in the fixture; 0.2*avg = sum/(5*n))
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_li"),
    )
    small = (
        li.join(per_part, li.l_partkey == per_part.pk)
        .filter(F.col("l_quantity").cast("long") * 5 * F.col("n_li") < F.col("sum_qty"))
    )
    return small.agg((_money(F.col("l_extendedprice")) / F.lit(7.0)).alias("avg_yearly"))

_register(
    "q17_small_qty",
    _q17,
    """
    WITH per_part AS (
      SELECT l_partkey AS pk,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             CAST(count(*) AS BIGINT) AS n_li
      FROM lineitem GROUP BY l_partkey
    )
    SELECT SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 / 7.0 AS avg_yearly
    FROM lineitem JOIN per_part ON l_partkey = pk
    WHERE CAST(l_quantity AS BIGINT) * 5 * n_li < sum_qty
    """,
)

# q22-shaped: well-funded customers with no RECENT orders (every fixture
# customer has some order, so "inactive since 1998" plays q22's no-orders
# role), grouped by nation code.
# The global-average threshold compares in exact cents*count integer domain
# so no double-summation-order boundary can flip a customer.

def _q22(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer")
    pos = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias("total_cents"),
        F.count(F.lit(1)).alias("n_pos"),
    )
    rich = (
        cust.crossJoin(F.broadcast(pos))
        .filter(F.round(F.col("c_acctbal") * 100).cast("long") * F.col("n_pos")
                > F.col("total_cents"))
        .join(load_table(spark, sf, "orders")
              .filter(F.col("o_orderdate") >= F.expr("TIMESTAMP_NTZ '1998-01-01 00:00:00'"))
              .select(F.col("o_custkey").alias("c_custkey")).distinct(),
              "c_custkey", "left_anti")
    )
    return (
        rich.groupBy(F.col("c_nationkey").cast("string").alias("cntrycode"))
        .agg(F.count(F.lit(1)).alias("numcust"),
             _money(F.col("c_acctbal")).alias("totacctbal"))
    )

_register(
    "q22_global_sales_opportunity",
    _q22,
    """
    WITH pos AS (
      SELECT CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS total_cents,
             CAST(count(*) AS BIGINT) AS n_pos
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT CAST(c_nationkey AS VARCHAR) AS cntrycode,
           CAST(count(*) AS BIGINT) AS numcust,
           SUM(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0 AS totacctbal
    FROM customer, pos
    WHERE CAST(round(c_acctbal * 100) AS BIGINT) * n_pos > total_cents
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
    GROUP BY c_nationkey
    """,
)

# q8-shaped: a nation's market share of region revenue by year.  The share
# is a ratio of two exact cents sums — one double division, rounded 6dp
# identically on both sides.

def _q8(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    nat = load_table(spark, sf, "nation")
    reg = load_table(spark, sf, "region")
    rev_c = (F.round(F.col("l_extendedprice") * 100).cast("long")
             * (100 - F.round(F.col("l_discount") * 100).cast("long")))
    supp = load_table(spark, sf, "supplier")
    base = (
        li.join(orders.select("o_orderkey", "o_custkey", "o_orderdate"),
                li.l_orderkey == F.col("o_orderkey"))
        .join(cust.select("c_custkey", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat.select(F.col("n_nationkey").alias("cn_key"),
                                     F.col("n_regionkey").alias("cn_region"))),
              F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(reg.filter(F.col("r_name") == "ASIA")),
              F.col("cn_region") == F.col("r_regionkey"))
        .join(supp.select("s_suppkey", "s_nationkey"), li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(nat.select(F.col("n_nationkey").alias("sn_key"),
                                     F.col("n_name").alias("supp_nation"))),
              F.col("s_nationkey") == F.col("sn_key"))
        .filter(F.col("o_orderdate").between(F.expr("TIMESTAMP_NTZ '1995-01-01 00:00:00'"),
                                             F.expr("TIMESTAMP_NTZ '1996-12-31 23:59:59'")))
        .select(F.year("o_orderdate").alias("o_year"), rev_c.alias("rev_c"), "supp_nation")
    )
    return (
        base.groupBy("o_year")
        .agg(F.round(
            F.sum(F.when(F.col("supp_nation") == "NATION_2", F.col("rev_c")).otherwise(F.lit(0)))
            / F.sum("rev_c"), 6).alias("mkt_share"))
    )

_register(
    "q8_market_share",
    _q8,
    """
    WITH base AS (
      SELECT EXTRACT(year FROM o_orderdate) AS o_year,
             CAST(round(l_extendedprice * 100) AS BIGINT) *
             (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_c,
             sn.n_name AS supp_nation
      FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region   ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                            AND TIMESTAMP '1996-12-31 23:59:59'
    )
    SELECT CAST(o_year AS INTEGER) AS o_year,
           round(SUM(CASE WHEN supp_nation = 'NATION_2' THEN rev_c ELSE 0 END) * 1.0
                 / SUM(rev_c), 6) AS mkt_share
    FROM base GROUP BY o_year
    """,
)

# q15-shaped: top supplier(s) by revenue in a quarter (revenue view + max)

def _q15(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'"))
        & (F.col("l_shipdate") < F.expr("TIMESTAMP_NTZ '1996-04-01 00:00:00'")))
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        _money(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue"))
    top = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(top)).filter(F.col("total_revenue") == F.col("mx"))
        .join(load_table(spark, sf, "supplier"),
              F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )

_register(
    "q15_top_supplier",
    _q15,
    """
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) / 100.0
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM rev JOIN supplier ON supplier_no = s_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
)

# q21-shaped: suppliers with a late shipment in a multi-supplier order where
# every OTHER supplier shipped on time (EXISTS + NOT EXISTS correlation,
# adapted to l_shipdate vs o_orderdate since the fixture has no
# commit/receipt dates)

def _q21(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem").join(
        load_table(spark, sf, "orders").select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"))
    lines = li.select(
        "l_orderkey", "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("late"),
    )
    per_supp_order = lines.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.col("late").cast("int")).alias("was_late"))
    order_stats = per_supp_order.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supps"),
        F.sum("was_late").alias("n_late_supps"))
    waiting = (
        per_supp_order.filter(F.col("was_late") == 1)
        .join(order_stats, "l_orderkey")
        .filter((F.col("n_supps") > 1) & (F.col("n_late_supps") == 1))
    )
    return (
        waiting.join(load_table(spark, sf, "supplier"),
                     F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )

_register(
    "q21_waiting_supplier",
    _q21,
    """
    WITH lines AS (
      SELECT l_orderkey, l_suppkey,
             CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY THEN 1 ELSE 0 END AS late
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), per_supp AS (
      SELECT l_orderkey, l_suppkey, MAX(late) AS was_late
      FROM lines GROUP BY l_orderkey, l_suppkey
    ), order_stats AS (
      SELECT l_orderkey, count(*) AS n_supps, SUM(was_late) AS n_late_supps
      FROM per_supp GROUP BY l_orderkey
    )
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM per_supp
      JOIN order_stats USING (l_orderkey)
      JOIN supplier ON l_suppkey = s_suppkey
    WHERE was_late = 1 AND n_supps > 1 AND n_late_supps = 1
    GROUP BY s_name
    """,
)

# -- DSL path(): per-traverser visited-vertex history ----------------------

_register(
    "dsl_path_count",
    lambda spark, sf: _GremlinGraph(spark, sf)
    .V(_KHOP_START).with_path().out("placed").out("contains").path()
    .agg(F.count(F.lit(1)).alias("n")),
    f"""
    WITH {graph_ctes()}
    SELECT CAST(count(*) AS BIGINT) AS n
    FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
    WHERE e1.label = 'placed' AND e1.src = {_KHOP_START} AND e2.label = 'contains'
    """,
)

# -- schema-by-name lookup (the reference's schema-name secondary index,
#    TikvTables.java:176-183; declared unsupported at the KV layer by
#    TikvFeatures.java:41-44 and handled upstream — here the registry IS the
#    upstream).  Both the Spark rows and the oracle VALUES are generated
#    from the same graph specs, so they cannot drift. -----------------------

from hugegraph_on_tikv_spark.schema import SchemaRegistry
from hugegraph_on_tikv_spark.sources.graph import EDGE_SPECS, VERTEX_PROP_COLUMNS, VERTEX_SPECS


def _schema_demo_rows() -> list[tuple[str, str, int, str]]:
    reg = SchemaRegistry()
    created: list[tuple[str, str, str]] = []
    for pname, ptyp in VERTEX_PROP_COLUMNS:
        reg.create_property_key(pname)
        created.append(("property_key", pname, ptyp))
    for vlabel, _tbl, _key, _props in VERTEX_SPECS:
        reg.create_vertex_label(vlabel)
        created.append(("vertex_label", vlabel, ""))
    seen: set[str] = set()
    for espec in EDGE_SPECS:
        elabel, esrc, edst = espec[0], espec[2][0], espec[3][0]
        if elabel in seen:  # located_in appears for two source tables
            continue
        seen.add(elabel)
        reg.create_edge_label(elabel, esrc, edst)
        created.append(("edge_label", elabel, f"{esrc}->{edst}"))
    rows = []
    for stype, sname, detail in created:
        el = reg.get(stype, sname)  # the name→schema lookup under test
        rows.append((stype, sname, el.id, detail))
    for stype in ("property_key", "vertex_label", "edge_label"):
        # A3 counter read: last allocated id per schema type
        rows.append(("counter", stype, reg.get_counter(stype), ""))
    return rows


_register(
    "schema_by_name",
    lambda spark, sf: spark.createDataFrame(
        _schema_demo_rows(), "schema_type string, name string, id long, detail string"
    ),
    "SELECT * FROM (VALUES "
    + ", ".join(
        f"('{t}', '{n}', CAST({i} AS BIGINT), '{d}')" for t, n, i, d in _schema_demo_rows()
    )
    + ") AS t(schema_type, name, id, detail)",
)


# ===========================================================================
# wave 8: partsupp-derived TPC-H tail (q2/q9/q11/q20) + skew-toolkit rows
#
# The fixture has no partsupp table; partsupp is DERIVED deterministically
# from data that does exist: the distinct (l_partkey, l_suppkey) pairs —
# exactly the supplied_by edge view (sources/graph.py EDGE_SPECS) — enriched
# with arithmetic ps_supplycost / ps_availqty computed from the keys.  The
# SAME expression strings build the Spark DataFrame and the DuckDB oracle
# CTE, so the two sides can never drift (the VERTEX_SPECS discipline).
# These four close the last missing relational shape: correlated scalar
# subqueries over an aggregate (MIN supplycost, fraction-of-SUM thresholds).
# ===========================================================================

_PS_COST = "(((ps_partkey * 7 + ps_suppkey * 13) % 80000) + 100) / 100.0"
_PS_AVAIL = "((ps_partkey * 31 + ps_suppkey * 17) % 9999) + 1"

_PARTSUPP_CTE = (
    "partsupp AS MATERIALIZED (\n"
    "  SELECT ps_partkey, ps_suppkey,\n"
    f"         CAST({_PS_COST} AS DOUBLE) AS ps_supplycost,\n"
    f"         CAST({_PS_AVAIL} AS BIGINT) AS ps_availqty\n"
    "  FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey\n"
    "        FROM lineitem) AS pairs\n"
    ")"
)


def _partsupp(spark: SparkSession, sf: str) -> DataFrame:
    """The derived partsupp view (see wave-8 header).  At 100 TB this is a
    one-shuffle distinct over lineitem that a deployment would materialize
    once, bucketed by ps_partkey, alongside the other graph views."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.select(F.col("l_partkey").alias("ps_partkey"),
                  F.col("l_suppkey").alias("ps_suppkey")).distinct()
        .selectExpr("ps_partkey", "ps_suppkey",
                    f"CAST({_PS_COST} AS DOUBLE) AS ps_supplycost",
                    f"CAST({_PS_AVAIL} AS BIGINT) AS ps_availqty")
    )


def _q2(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 shape: min-cost supplier per part within a region.  The
    correlated scalar subquery (MIN over the part's regional suppliers)
    becomes a window MIN over the regional partsupp — one shuffle on
    ps_partkey instead of a per-row subquery."""
    from pyspark.sql.window import Window

    ps = _partsupp(spark, sf)
    p = load_table(spark, sf, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD"))
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        ps.join(s, ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    w = Window.partitionBy("ps_partkey")
    best = eu.withColumn("min_cost", F.min("ps_supplycost").over(w)) \
        .filter(F.col("ps_supplycost") == F.col("min_cost"))
    return (
        best.join(F.broadcast(p), F.col("ps_partkey") == F.col("p_partkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "ps_supplycost", "s_suppkey")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey", "s_suppkey")
        .limit(100)
    )

_register(
    "q2_min_cost_supplier",
    _q2,
    f"""
    WITH {_PARTSUPP_CTE},
    eu AS (
      SELECT ps_partkey, ps_supplycost, s_suppkey, s_name, s_acctbal, n_name
      FROM partsupp JOIN supplier ON ps_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ), best AS (
      SELECT *, MIN(ps_supplycost) OVER (PARTITION BY ps_partkey) AS min_cost FROM eu
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, ps_supplycost, s_suppkey
    FROM best JOIN part ON ps_partkey = p_partkey
    WHERE ps_supplycost = min_cost AND p_size = 15 AND p_type = 'STANDARD'
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, s_suppkey
    LIMIT 100
    """,
)


def _q9(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 shape: product-type profit by nation and year.  Profit is
    computed in exact 1e-4 currency units (scaled-integer sums) so the
    rounded doubles agree across engines."""
    ps = _partsupp(spark, sf)
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    p = load_table(spark, sf, "part").filter(F.col("p_name").startswith("red"))
    amount_4dp = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (F.lit(100).cast("long") - F.round(F.col("l_discount") * 100).cast("long"))
        - F.round(F.col("ps_supplycost") * 100).cast("long")
        * F.col("l_quantity").cast("long") * F.lit(100).cast("long")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(ps, (li.l_partkey == ps.ps_partkey) & (li.l_suppkey == ps.ps_suppkey))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").cast("int").alias("o_year"))
        .agg((F.sum(amount_4dp) / F.lit(10000.0)).alias("profit"))
    )

_register(
    "q9_product_profit",
    _q9,
    f"""
    WITH {_PARTSUPP_CTE}
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
           SUM(CAST(round(l_extendedprice * 100) AS BIGINT) *
               (100 - CAST(round(l_discount * 100) AS BIGINT))
               - CAST(round(ps_supplycost * 100) AS BIGINT)
                 * CAST(l_quantity AS BIGINT) * 100) / 10000.0 AS profit
    FROM lineitem JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN partsupp ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE 'red%'
    GROUP BY n_name, year(o_orderdate)
    """,
)


def _q11(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 shape: important stock — per-part inventory value above a
    fraction of the national total.  The scalar-subquery threshold becomes a
    broadcast of the 1-row total; values stay exact scaled integers until
    the final division."""
    ps = _partsupp(spark, sf)
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation").filter(F.col("n_name") == "NATION_7")
    scoped = (
        ps.join(s, ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("ps_partkey",
                (F.round(F.col("ps_supplycost") * 100).cast("long")
                 * F.col("ps_availqty")).alias("v_c"))
    )
    total = scoped.agg(F.sum("v_c").alias("t"))
    return (
        scoped.groupBy("ps_partkey").agg(F.sum("v_c").alias("v_c"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("v_c") > F.col("t") * F.lit(0.001))
        .select("ps_partkey", (F.col("v_c") / F.lit(100.0)).alias("value"))
    )

_register(
    "q11_important_stock",
    _q11,
    f"""
    WITH {_PARTSUPP_CTE},
    scoped AS MATERIALIZED (
      SELECT ps_partkey,
             CAST(round(ps_supplycost * 100) AS BIGINT) * ps_availqty AS v_c
      FROM partsupp JOIN supplier ON ps_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_7'
    )
    SELECT ps_partkey, CAST(SUM(v_c) AS BIGINT) / 100.0 AS value
    FROM scoped
    GROUP BY ps_partkey
    HAVING CAST(SUM(v_c) AS BIGINT) > (SELECT CAST(SUM(v_c) AS BIGINT) FROM scoped) * 0.001
    """,
)


def _q20(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers whose stock of a part family exceeds half
    of what they shipped in a year (nested aggregate threshold)."""
    ps = _partsupp(spark, sf)
    p = load_table(spark, sf, "part").filter(F.col("p_name").startswith("blue"))
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01"))
    s = load_table(spark, sf, "supplier")
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("qty"))
    qualified = (
        ps.join(F.broadcast(p), ps.ps_partkey == F.col("p_partkey"))
        .join(shipped, (ps.ps_partkey == shipped.l_partkey)
              & (ps.ps_suppkey == shipped.l_suppkey))
        .filter(F.col("ps_availqty") > F.lit(0.5) * F.col("qty"))
        .select("ps_suppkey").distinct()
    )
    return qualified.join(s, F.col("ps_suppkey") == s.s_suppkey).select("s_suppkey", "s_name")

_register(
    "q20_potential_promotion",
    _q20,
    f"""
    WITH {_PARTSUPP_CTE},
    shipped AS (
      SELECT l_partkey, l_suppkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_partkey, l_suppkey
    )
    SELECT DISTINCT s_suppkey, s_name
    FROM partsupp JOIN part ON ps_partkey = p_partkey
         JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
         JOIN supplier ON ps_suppkey = s_suppkey
    WHERE p_name LIKE 'blue%' AND ps_availqty > 0.5 * qty
    """,
)

# -- skew-join toolkit, driver-checked: the salted join and range-bucket
#    assignment produce results identical to their plain formulations ------


def _j_salted(spark: SparkSession, sf: str) -> DataFrame:
    """Hub-style aggregation through salted_join: lineitem (probe, salted)
    against orders (build, replicated per salt digit) — the explicit tool
    for broadcast-ineligible skewed joins (operators/joins.py)."""
    li = load_table(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice", "l_discount")
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    revenue_c = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(100).cast("long") - F.round(F.col("l_discount") * 100).cast("long"))
    return (
        joins.salted_join(li, o, "o_orderkey", salt=8)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg((F.sum(revenue_c) / F.lit(10000.0)).alias("revenue"))
    )

_register(
    "j_salted_hub_revenue",
    _j_salted,
    """
    SELECT o_orderpriority AS priority,
           SUM(CAST(round(l_extendedprice * 100) AS BIGINT) *
               (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0 AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)

# -- interval overlap join (operators/joins.py interval_overlap_join):
#    bucket-decomposed range join — candidates meet in an equi-join on
#    (key, bucket), each true pair kept exactly once in the later start's
#    bucket; never a cross join.  Fixture: per-supplier overlapping transit
#    windows [shipdate, shipdate + quantity days] over 1997Q1, epoch-day
#    integers from a fixed origin so the bucket arithmetic is portable. ---

def _j_interval(spark: SparkSession, sf: str) -> DataFrame:
    li = (
        load_table(spark, sf, "lineitem")
        .filter((F.col("l_shipdate") >= "1997-01-01")
                & (F.col("l_shipdate") < "1997-04-01"))
        .select(
            F.col("l_suppkey").alias("k"),
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("iid"),
            F.datediff(F.col("l_shipdate"), F.lit("1992-01-01").cast("date"))
            .cast("long").alias("s"),
            (F.datediff(F.col("l_shipdate"), F.lit("1992-01-01").cast("date"))
             + F.col("l_quantity").cast("int")).cast("long").alias("e"))
    )
    left = li.select("k", F.col("iid").alias("lid"), F.col("s").alias("ls"),
                     F.col("e").alias("le"))
    right = li.select("k", F.col("iid").alias("rid"), F.col("s").alias("rs"),
                      F.col("e").alias("re"))
    return (
        joins.interval_overlap_join(left, right, "ls", "le", "rs", "re",
                                    on=["k"], bucket_width=32)
        .filter(F.col("lid") < F.col("rid"))
        .select("k", "lid", "rid",
                (F.least("le", "re") - F.greatest("ls", "rs") + 1)
                .alias("overlap_days"))
    )

_register(
    "j_interval_overlap",
    _j_interval,
    """
    WITH iv AS (
      SELECT l_suppkey AS k, l_orderkey * 10 + l_linenumber AS iid,
             date_diff('day', DATE '1992-01-01', l_shipdate) AS s,
             date_diff('day', DATE '1992-01-01', l_shipdate)
               + CAST(l_quantity AS INTEGER) AS e
      FROM lineitem
      WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-04-01'
    )
    SELECT a.k, a.iid AS lid, b.iid AS rid,
           CAST(least(a.e, b.e) - greatest(a.s, b.s) + 1 AS BIGINT)
             AS overlap_days
    FROM iv a JOIN iv b
      ON a.k = b.k AND a.s <= b.e AND b.s <= a.e AND a.iid < b.iid
    """,
)

_register(
    "j_range_bucket_counts",
    lambda spark, sf: joins.range_bucket_join(
        load_table(spark, sf, "orders"), [50000.0, 150000.0, 300000.0], "o_totalprice"
    ).groupBy("bucket").agg(F.count(F.lit(1)).alias("n")),
    """
    SELECT CASE WHEN o_totalprice < 50000 THEN 0
                WHEN o_totalprice < 150000 THEN 1
                WHEN o_totalprice < 300000 THEN 2
                ELSE 3 END AS bucket,
           CAST(count(*) AS BIGINT) AS n
    FROM orders GROUP BY 1
    """,
)

# -- scored retrieval: exactified BM25 + RRF hybrid (functions/ranking.py).
#    The score expression string is generated ONCE (ranking.bm25_score_expr /
#    ranking.rrf_expr) and embedded verbatim in both the Spark plan and the
#    DuckDB oracle, so the IEEE-754 expression trees are textually identical
#    and the unrounded doubles hash-match. --------------------------------

from hugegraph_on_tikv_spark.functions import ranking as _ranking

_BM25_TERMS = ["spark", "vector", "scan"]


def _bm25_ranked_sql(terms: list[str], k: int) -> str:
    tf_cols = ", ".join(
        f"len(list_filter(t, x -> x = '{t}')) AS tf_{i}"
        for i, t in enumerate(terms))
    df_cols = ", ".join(
        f"CAST(SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{i}"
        for i in range(len(terms)))
    return f"""
    WITH toks AS (
      SELECT doc_id, {TOKENS_SQL.format(col="coalesce(text, '')")} AS t
      FROM documents
    ), per_doc AS (
      SELECT doc_id, len(t) AS dl, {tf_cols} FROM toks
    ), stats AS (
      SELECT CAST(count(*) AS BIGINT) AS N, CAST(SUM(dl) AS BIGINT) AS sumdl,
             {df_cols}
      FROM per_doc
    ), scored AS (
      SELECT doc_id, dl, {_ranking.bm25_score_expr(terms)} AS score
      FROM per_doc, stats
    ), ranked AS (
      SELECT doc_id, dl, score,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
                  AS INTEGER) AS rank
      FROM scored WHERE score > 0.0
    )
    SELECT doc_id, dl, score, rank FROM ranked WHERE rank <= {k}
    """


_register(
    "bm25_ranked",
    lambda spark, sf: _ranking.bm25_topk(
        load_table(spark, sf, "documents"), _BM25_TERMS, k=10),
    _bm25_ranked_sql(_BM25_TERMS, 10),
)


def _sim_hybrid_rrf(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    out = _ranking.hybrid_search(
        load_table(spark, sf, "documents"), emb, _BM25_TERMS,
        emb.filter(F.col("vec_id") == 100), k=10, per_list_k=20)
    # nullable rank columns travel as DOUBLE (oracle NULL-int rule)
    return out.select(
        "doc_id",
        F.col("rank_0").cast("double").alias("rank_kw"),
        F.col("rank_1").cast("double").alias("rank_vec"),
        "rrf_score",
        "rank",
    )


_register(
    "sim_hybrid_rrf",
    _sim_hybrid_rrf,
    f"""
    WITH kw AS (
    {_bm25_ranked_sql(_BM25_TERMS, 20)}
    ), vscored AS (
      SELECT c.vec_id AS doc_id, {_COS_SQL} AS cos_sim
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id = 100
    ), vranked AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id ASC)
                          AS INTEGER) AS rank
      FROM vscored
    ), v AS (
      SELECT doc_id, rank FROM vranked WHERE rank <= 20
    ), fused AS (
      SELECT COALESCE(kw.doc_id, v.doc_id) AS doc_id,
             kw.rank AS rank_0, v.rank AS rank_1
      FROM kw FULL OUTER JOIN v ON kw.doc_id = v.doc_id
    ), rs AS (
      SELECT doc_id, rank_0, rank_1,
             {_ranking.rrf_expr(["rank_0", "rank_1"])} AS rrf_score
      FROM fused
    ), rr AS (
      SELECT doc_id, CAST(rank_0 AS DOUBLE) AS rank_kw,
             CAST(rank_1 AS DOUBLE) AS rank_vec, rrf_score,
             CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC)
                  AS INTEGER) AS rank
      FROM rs
    )
    SELECT doc_id, rank_kw, rank_vec, rrf_score, rank FROM rr WHERE rank <= 10
    """,
)


# -- one-pass column profiling (functions/profiling.py) --------------------

from hugegraph_on_tikv_spark.functions.profiling import (
    expectations_report as _expectations_report,
)
from hugegraph_on_tikv_spark.functions.profiling import profile_table as _profile_table

_EXPECT_CHECKS = {
    "totalprice_positive": "o_totalprice > 0",
    "status_domain": "o_orderstatus IN ('O', 'F', 'P')",
    "orderdate_nonnull": "o_orderdate IS NOT NULL",
    "all_urgent": "o_orderpriority = '1-URGENT'",   # mostly violated
}

_register(
    "quality_expectations",
    # declarative CHECK-constraint audit: one aggregate pass, strict
    # TRUE-only semantics (NULL counts as a violation)
    lambda spark, sf: _expectations_report(
        load_table(spark, sf, "orders"), _EXPECT_CHECKS),
    "\nUNION ALL\n".join(
        f"SELECT '{name}' AS check_name, CAST(count(*) AS BIGINT) AS n_rows, "
        f"CAST(SUM(CASE WHEN NOT COALESCE(({expr}), false) THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS n_violations FROM orders"
        for name, expr in _EXPECT_CHECKS.items()),
)

_register(
    "profile_orders",
    # exact mode (driver-checkable); approx=True is the no-Expand scale
    # path — the dichotomy test_profile_approx_single_pass pins
    lambda spark, sf: _profile_table(
        load_table(spark, sf, "orders"),
        ["o_orderkey", "o_custkey", "o_totalprice"]),
    """
    SELECT 'o_orderkey' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(o_orderkey) AS BIGINT) AS n_nonnull,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(min(o_orderkey) AS DOUBLE) AS min_value,
           CAST(max(o_orderkey) AS DOUBLE) AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(count(*) AS BIGINT), CAST(count(o_custkey) AS BIGINT),
           CAST(count(DISTINCT o_custkey) AS BIGINT),
           CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(count(*) AS BIGINT), CAST(count(o_totalprice) AS BIGINT),
           CAST(count(DISTINCT o_totalprice) AS BIGINT),
           CAST(min(o_totalprice) AS DOUBLE), CAST(max(o_totalprice) AS DOUBLE)
    FROM orders
    """,
)

# -- versioned-catalog CDC (TableCatalog.table_changes) --------------------
#    v1 = the nation fixture; v2 = ONE commit carrying updates (%5),
#    a no-op replay row (key 1 — must NOT appear), inserts (+100 for %7)
#    and a delete (key 3).  The diff of the two immutable snapshots is
#    oracle-reconstructed straight from the fixture.

def _cdc_table_changes(spark: SparkSession, sf: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    from hugegraph_on_tikv_spark.sources.table_catalog import TableCatalog

    d = _cdc_table_changes.__dict__.setdefault(
        "_dir", tempfile.mkdtemp(prefix="cdc_changes_"))
    if "_cleanup" not in _cdc_table_changes.__dict__:
        _cdc_table_changes.__dict__["_cleanup"] = atexit.register(
            shutil.rmtree, d, ignore_errors=True)
    shutil.rmtree(d, ignore_errors=True)

    nation = load_table(spark, sf, "nation")
    cat = TableCatalog(spark, d)
    cat.create_table("nation", nation, key="n_nationkey")
    updated = nation.filter(F.col("n_nationkey") % 5 == 0).withColumn(
        "n_name", F.concat(F.lit("RENAMED_"), F.col("n_name")))
    noop = nation.filter(F.col("n_nationkey") == 1)
    inserted = nation.filter(F.col("n_nationkey") % 7 == 0).select(
        (F.col("n_nationkey") + 100).alias("n_nationkey"),
        F.concat(F.lit("NewNation#"), F.col("n_nationkey")).alias("n_name"),
        "n_regionkey",
    )
    batch = MutationBatch()
    batch.upsert_df("nation", updated.unionByName(noop).unionByName(inserted))
    batch.delete("nation", 3)
    cat.commit(batch)
    return cat.table_changes("nation", 1, 2)

_register(
    "cdc_table_changes",
    _cdc_table_changes,
    """
    SELECT n_nationkey, 'update' AS _change_type,
           'RENAMED_' || n_name AS n_name, n_regionkey
    FROM nation WHERE n_nationkey % 5 = 0
    UNION ALL
    SELECT n_nationkey + 100, 'insert',
           'NewNation#' || CAST(n_nationkey AS VARCHAR), n_regionkey
    FROM nation WHERE n_nationkey % 7 = 0
    UNION ALL
    SELECT n_nationkey, 'delete', n_name, n_regionkey
    FROM nation WHERE n_nationkey = 3
    """,
)


# -- PII scrubbing, phrase search, leakage-safe splits ---------------------

def _pii_inject_spark(docs: DataFrame) -> DataFrame:
    # fixtures are clean alnum text; inject deterministic PII on every
    # 10th doc so the counts/redaction actually exercise the patterns
    return docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 10 == 0,
               F.concat(F.col("text"), F.lit(_PII_SUFFIX)))
        .otherwise(F.col("text")))

_PII_SUFFIX = (" contact bob@example.com or +1 (555) 123-4567"
               " ssn 123-45-6789")


def _pii_chain_sql(cur: str) -> tuple[list[str], str]:
    """(per-pattern count selects, fully-redacted expr) for a text expr —
    the DuckDB twin of text.pii_counts' fixed-order chain."""
    from hugegraph_on_tikv_spark.functions.text import PII_PATTERNS

    sels = []
    for name, pat, repl in PII_PATTERNS:
        p = pat.replace("'", "''")
        sels.append(f"len(regexp_extract_all({cur}, '{p}')) AS n_{name}")
        cur = f"regexp_replace({cur}, '{p}', '{repl}', 'g')"
    return sels, cur


def _pii_counts_sql() -> str:
    injected = ("CASE WHEN doc_id % 10 = 0 THEN text || '" + _PII_SUFFIX
                + "' ELSE text END")
    sels, cur = _pii_chain_sql(f"coalesce({injected}, '')")
    return (f"SELECT doc_id, {', '.join(sels)}, md5({cur}) AS redacted_fp "
            "FROM documents")


_register(
    "text_pii",
    # counts are taken in replacement order (email → ssn → phone) on the
    # text as it stands at that step — the shared contract in
    # text.PII_PATTERNS; oracle regexes are the same strings
    lambda spark, sf: text.pii_counts(
        _pii_inject_spark(load_table(spark, sf, "documents"))),
    _pii_counts_sql(),
)

_register(
    "text_phrase",
    # exact token-sequence search: space-padded substring containment on
    # the normalized form — no token explode, one Contains per row
    lambda spark, sf: load_table(spark, sf, "documents")
    .filter(text.phrase_match(F.col("text"), "spark join"))
    .select("doc_id", "n_chars"),
    f"""
    SELECT doc_id, n_chars FROM documents
    WHERE contains(' ' || {NORM_SQL.format(col="text")} || ' ', ' spark join ')
    """,
)


def _cluster_safe_split(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.functions.sampling import cluster_safe_split

    docs = load_table(spark, sf, "documents")
    clusters = dedup.near_duplicate_clusters(
        docs, num_hashes=32, rows_per_band=4, k=3, threshold=0.3)
    return cluster_safe_split(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, clusters)


from hugegraph_on_tikv_spark.functions.sampling import split_sql as _split_sql_oracle

_register(
    "cluster_safe_split",
    _cluster_safe_split,
    f"""
    WITH nc AS MATERIALIZED (
      SELECT * FROM (
      {_near_clusters_sql()}
      ) q
    )
    SELECT d.doc_id, nc.cluster_id,
           {_split_sql_oracle({"train": 0.8, "val": 0.1, "test": 0.1},
                              id_col="COALESCE(nc.cluster_id, d.doc_id)")} AS split
    FROM documents d LEFT JOIN nc ON d.doc_id = nc.doc_id
    """,
)


# -- strongly connected components (operators/analytics.py) ----------------
#    Directed test graph with real cycles: customer → supplier for every
#    ordered item; supplier → customer when the item came back returned.
#    Oracle: recursive reachability closure + mutual-reachability min.

def _g_scc(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders").filter(F.col("o_custkey") % 10 == 0)
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    fwd = j.select(F.col("o_custkey").cast("long").alias("src"),
                   (F.col("l_suppkey") + 1_000_000).cast("long").alias("dst"))
    bwd = j.filter(F.col("l_returnflag") == "R").select(
        (F.col("l_suppkey") + 1_000_000).cast("long").alias("src"),
        F.col("o_custkey").cast("long").alias("dst"))
    edges = fwd.unionByName(bwd).distinct()
    return analytics.strongly_connected_components(
        edges, max_rounds=6, prop_iterations=20)


_register(
    "g_scc",
    _g_scc,
    """
    WITH e AS MATERIALIZED (
      SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
             CAST(l_suppkey + 1000000 AS BIGINT) AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_custkey % 10 = 0
      UNION
      SELECT DISTINCT CAST(l_suppkey + 1000000 AS BIGINT),
             CAST(o_custkey AS BIGINT)
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_custkey % 10 = 0 AND l_returnflag = 'R'
    ), v AS MATERIALIZED (
      SELECT src AS id FROM e UNION SELECT dst FROM e
    ), r AS MATERIALIZED (
      SELECT * FROM (
        WITH RECURSIVE rr(a, b) AS (
          SELECT src, dst FROM e
          UNION
          SELECT rr.a, e.dst FROM rr JOIN e ON rr.b = e.src
        ) SELECT a, b FROM rr
      ) t
    ), mutual AS MATERIALIZED (
      SELECT r1.a AS vv, MIN(r1.b) AS mn
      FROM r r1 JOIN r r2 ON r1.b = r2.a AND r2.b = r1.a
      GROUP BY r1.a
    )
    SELECT v.id, least(v.id, COALESCE(m.mn, v.id)) AS scc
    FROM v LEFT JOIN mutual m ON m.vv = v.id
    """,
)


# -- exact-integer Pearson correlation (functions/profiling.py) ------------

def _stats_corr(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.functions.profiling import corr_pairs

    return corr_pairs(load_table(spark, sf, "lineitem"),
                      ["l_quantity", "l_extendedprice", "l_discount"],
                      scale=100)


def _stats_corr_sql() -> str:
    from hugegraph_on_tikv_spark.functions.profiling import corr_expr

    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    qs = {c: f"CAST(round({c} * 100) AS DECIMAL(18,0))" for c in cols}
    aggs = ["CAST(count(*) AS BIGINT) AS n_pairs"]
    for i, c in enumerate(cols):
        aggs.append(f"SUM({qs[c]}) AS s_{i}")
        aggs.append(f"SUM({qs[c]} * {qs[c]}) AS ss_{i}")
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            aggs.append(f"SUM({qs[cols[i]]} * {qs[cols[j]]}) AS sp_{i}_{j}")
    where = " AND ".join(f"{c} IS NOT NULL" for c in cols)
    sels = " UNION ALL ".join(
        f"SELECT '{cols[i]}' AS col_a, '{cols[j]}' AS col_b, "
        f"{corr_expr(i, j)} AS corr FROM s"
        for i in range(len(cols)) for j in range(i + 1, len(cols)))
    return (f"WITH s AS (SELECT {', '.join(aggs)} FROM lineitem "
            f"WHERE {where})\n{sels}")


_register(
    "stats_corr",
    # exact Pearson r of the 100x-quantized values: integer DECIMAL sums
    # (order-independent), one double conversion per sum, IEEE formula —
    # bit-identical across engines by construction (corr_expr shared)
    _stats_corr,
    _stats_corr_sql(),
)

# -- SCD2 dimension history from a change log (mutations.scd2_from_changes)

def _scd2_history(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.operators.mutations import scd2_from_changes

    cust = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    b1 = cust.withColumn("batch_id", F.lit(1)) \
        .withColumn("_change_type", F.lit("insert"))
    b2 = cust.filter(F.col("c_custkey") % 7 == 0) \
        .withColumn("c_mktsegment", F.lit("UPG1")) \
        .withColumn("batch_id", F.lit(2)) \
        .withColumn("_change_type", F.lit("update"))
    b3 = cust.filter(F.col("c_custkey") % 14 == 0) \
        .withColumn("c_mktsegment", F.lit("UPG2")) \
        .withColumn("batch_id", F.lit(3)) \
        .withColumn("_change_type", F.lit("update"))
    b4 = cust.filter(F.col("c_custkey") % 21 == 0) \
        .withColumn("c_mktsegment", F.lit(None).cast("string")) \
        .withColumn("batch_id", F.lit(4)) \
        .withColumn("_change_type", F.lit("delete"))
    changes = b1.unionByName(b2).unionByName(b3).unionByName(b4)
    out = scd2_from_changes(changes, ["c_custkey"])
    return out.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", "c_mktsegment",
        F.col("valid_from").cast("int").alias("valid_from"),
        F.col("valid_to").cast("double").alias("valid_to"),
        F.col("is_current").cast("int").alias("is_current"),
    )


_register(
    "scd2_history",
    _scd2_history,
    """
    WITH ch AS (
      SELECT c_custkey, c_mktsegment, 1 AS batch_id, 'insert' AS op FROM customer
      UNION ALL
      SELECT c_custkey, 'UPG1', 2, 'update' FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey, 'UPG2', 3, 'update' FROM customer WHERE c_custkey % 14 = 0
      UNION ALL
      SELECT c_custkey, CAST(NULL AS VARCHAR), 4, 'delete' FROM customer
      WHERE c_custkey % 21 = 0
    ), seg AS (
      SELECT c_custkey, c_mktsegment, batch_id,
             lead(batch_id) OVER (PARTITION BY c_custkey ORDER BY batch_id)
                 AS valid_to, op
      FROM ch
    )
    SELECT c_custkey, c_mktsegment, CAST(batch_id AS INTEGER) AS valid_from,
           CAST(valid_to AS DOUBLE) AS valid_to,
           CAST(valid_to IS NULL AS INTEGER) AS is_current
    FROM seg WHERE op <> 'delete' AND c_custkey % 7 = 0
    """,
)


# -- anti-entropy table checksums (functions/profiling.py) -----------------

def _checksum_canon_sql(col: str) -> str:
    """DuckDB mirror of table_checksum's injective value encoding:
    escape backslash, the '|' separator, and the NUL sentinel, then
    COALESCE NULL to bare NUL (profiling.py _canon)."""
    return ("COALESCE(replace(replace(replace(CAST(" + col +
            " AS VARCHAR), '\\', '\\\\'), '|', '\\|'), chr(0), '\\0'), "
            "chr(0))")


def _integrity_checksum(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.functions.profiling import table_checksum

    return table_checksum(
        load_table(spark, sf, "customer"),
        cols=["c_custkey", "c_name", "c_nationkey", "c_mktsegment"],
        buckets=16, id_col="c_custkey")


_register(
    "integrity_checksum",
    # per-bucket BIT_XOR of 60-bit row hashes: order/partitioning
    # independent, mergeable — the cheap-compare primitive for replicas
    _integrity_checksum,
    f"""
    WITH enc AS (
      SELECT concat_ws('|',
               {_checksum_canon_sql('c_custkey')},
               {_checksum_canon_sql('c_name')},
               {_checksum_canon_sql('c_nationkey')},
               {_checksum_canon_sql('c_mktsegment')}) AS e,
             c_custkey
      FROM customer
    ), hashed AS (
      SELECT {H60_SQL.format(x="e")} AS h,
             {H48_SQL.format(x="c_custkey")} % 16 AS bucket
      FROM enc
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows, bit_xor(h) AS checksum
    FROM hashed GROUP BY bucket
    """,
)


_register(
    "profile_histogram",
    # equi-width bins over o_totalprice: exact min/max selections feed
    # IEEE-double bin arithmetic mirrored textually in the oracle
    lambda spark, sf: __import__(
        "hugegraph_on_tikv_spark.functions.profiling",
        fromlist=["histogram"]).histogram(
        load_table(spark, sf, "orders"), "o_totalprice", nbins=8),
    """
    WITH base AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
      WHERE o_totalprice IS NOT NULL
    ), mm AS (
      SELECT min(x) AS mn, max(x) AS mx FROM base
    ), binned AS (
      SELECT CASE WHEN mx = mn THEN 0
                  ELSE CAST(least(floor((x - mn) / ((mx - mn) / 8.0)), 7)
                       AS INTEGER) END AS bin,
             mn, mx
      FROM base, mm
    )
    SELECT bin, mn + bin * ((mx - mn) / 8.0) AS bin_lo,
           mn + (bin + 1) * ((mx - mn) / 8.0) AS bin_hi,
           CAST(count(*) AS BIGINT) AS n
    FROM binned GROUP BY bin, mn, mx
    """,
)


# -- MAD-based robust anomaly detection (profiling.mad_outliers): per
#    event-type median/MAD over cent-scaled values, outliers by the exact
#    integer rule dev * k_den > k_num * MAD; robust_z is the single float
#    division.  quantile_disc == Spark percentile_disc (both lower
#    discrete) — verified semantics, no interpolation ambiguity.

_register(
    "events_mad_outliers",
    lambda spark, sf: __import__(
        "hugegraph_on_tikv_spark.functions.profiling",
        fromlist=["mad_outliers"]).mad_outliers(
        load_events(spark, sf), "value", ["event_type"], "event_id",
        k=(3, 1)),
    """
    WITH base AS (
      SELECT event_type, event_id AS row_id,
             CAST(round(value * 100) AS BIGINT) AS v FROM events
    ), med AS (
      SELECT event_type, CAST(quantile_disc(v, 0.5) AS BIGINT) AS med
      FROM base GROUP BY event_type
    ), dev AS (
      SELECT b.event_type, b.row_id, b.v, m.med, abs(b.v - m.med) AS dev
      FROM base b JOIN med m USING (event_type)
    ), mad AS (
      SELECT event_type, CAST(quantile_disc(dev, 0.5) AS BIGINT) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type, d.row_id, d.v, d.med, a.mad, d.dev,
           CASE WHEN a.mad > 0 THEN CAST(d.dev AS DOUBLE) / a.mad END
             AS robust_z
    FROM dev d JOIN mad a USING (event_type)
    WHERE d.dev * 1 > 3 * a.mad
    """,
)


# -- HITS hubs & authorities (analytics.hits) ------------------------------

def _hits_sql(iters: int = 8) -> str:
    ctes = [
        "de AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges "
        "WHERE label IN ('placed', 'contains'))",
        "verts AS MATERIALIZED (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM de UNION ALL SELECT dst FROM de))",
        "h0 AS MATERIALIZED (SELECT id, CAST(1.0 AS DOUBLE) AS hub FROM verts)",
    ]
    for t in range(1, iters + 1):
        ctes.append(
            f"a{t}r AS MATERIALIZED (SELECT v.id, COALESCE(s.c, 0.0) AS auth "
            f"FROM verts v LEFT JOIN (SELECT de.dst AS id, SUM(h.hub) AS c "
            f"FROM de JOIN h{t-1} h ON de.src = h.id GROUP BY de.dst) s "
            f"ON v.id = s.id)")
        ctes.append(
            f"a{t} AS MATERIALIZED (SELECT id, CASE WHEN m.mx > 0 "
            f"THEN auth / m.mx ELSE 0.0 END AS auth FROM a{t}r, "
            f"(SELECT MAX(auth) AS mx FROM a{t}r) m)")
        ctes.append(
            f"h{t}r AS MATERIALIZED (SELECT v.id, COALESCE(s.c, 0.0) AS hub "
            f"FROM verts v LEFT JOIN (SELECT de.src AS id, SUM(a.auth) AS c "
            f"FROM de JOIN a{t} a ON de.dst = a.id GROUP BY de.src) s "
            f"ON v.id = s.id)")
        ctes.append(
            f"h{t} AS MATERIALIZED (SELECT id, CASE WHEN m.mx > 0 "
            f"THEN hub / m.mx ELSE 0.0 END AS hub FROM h{t}r, "
            f"(SELECT MAX(hub) AS mx FROM h{t}r) m)")
    return (
        f"WITH {graph_ctes()},\n" + ",\n".join(ctes)
        + f"\nSELECT aa.id, round(aa.auth, 6) AS auth, round(hh.hub, 6) AS hub"
        f"\nFROM a{iters} aa JOIN h{iters} hh ON aa.id = hh.id"
    )


_register(
    "g_hits",
    # same damped-iteration posture as pagerank; max-normalization keeps
    # every engine inside [0,1] with an exact (order-independent) scalar
    lambda spark, sf: analytics.hits(
        GraphStore(spark, sf).edges()
        .filter(F.col("label").isin(["placed", "contains"])),
        iterations=8,
    ).select("id", F.round("auth", 6).alias("auth"),
             F.round("hub", 6).alias("hub")),
    _hits_sql(),
)


# -- link prediction (analytics.link_prediction) ---------------------------

_register(
    "g_link_prediction",
    # top-1000 co-purchase candidates on the order-part graph; hub pivot
    # cap 50 bounds the wedge join (the LSH-bucket-cap posture)
    lambda spark, sf: analytics.link_prediction(
        GraphStore(spark, sf).edges().filter(F.col("label") == "contains"),
        max_neighbor_degree=50)
    .orderBy(F.col("ra_score").desc(), F.col("a").asc(), F.col("b").asc())
    .limit(1000),
    f"""
    WITH {graph_ctes()},
    canon AS MATERIALIZED (
      SELECT least(src, dst) AS u, greatest(src, dst) AS v
      FROM edges WHERE label = 'contains' AND src <> dst GROUP BY 1, 2
    ), adj AS MATERIALIZED (
      SELECT u AS a, v AS b FROM canon UNION ALL SELECT v, u FROM canon
    ), deg AS MATERIALIZED (
      SELECT a AS id, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY a
    ), wd AS MATERIALIZED (
      SELECT adj.a, adj.b, deg.deg FROM adj JOIN deg ON adj.b = deg.id
      WHERE deg.deg <= 50
    ), pairs AS MATERIALIZED (
      SELECT l.a AS u, r.a AS v, CAST(count(*) AS BIGINT) AS common_neighbors,
             CAST(SUM(CAST(round(1000000.0 / l.deg) AS BIGINT)) AS BIGINT) AS ra_q
      FROM wd l JOIN wd r ON l.b = r.b AND l.a < r.a
      GROUP BY l.a, r.a
    ), pp AS MATERIALIZED (
      SELECT p.* FROM pairs p LEFT JOIN canon c ON p.u = c.u AND p.v = c.v
      WHERE c.u IS NULL
    )
    SELECT pp.u AS a, pp.v AS b, common_neighbors,
           common_neighbors / (du.deg + dv.deg - common_neighbors) AS jaccard,
           ra_q / 1000000.0 AS ra_score
    FROM pp JOIN deg du ON pp.u = du.id JOIN deg dv ON pp.v = dv.id
    ORDER BY ra_score DESC, a ASC, b ASC LIMIT 1000
    """,
)


# -- pipe_curate_v3: the complete corpus-assembly program ------------------
#    near-dedup → quality filter → per-source cap → PII scrub (injected
#    deterministically, counts + redacted-BPE budget) → leakage-safe
#    cluster split.  Every stage's drop/assignment count is value-checked;
#    one tagged-union row carries the whole program.

def _pipe_curate_v3(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.functions import sampling

    docs = load_table(spark, sf, "documents")
    clusters = dedup.near_duplicate_clusters(
        docs, num_hashes=32, rows_per_band=4, k=3, threshold=0.3)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")) \
        .select("doc_id")
    survivors = docs.join(losers, "doc_id", "left_anti")
    qm = text.quality_metrics(survivors)
    kept_ids = qm.filter(
        (F.col("n_tokens") >= 20) & (F.col("stopword_ratio") <= 0.30)
        & (F.col("mean_token_len") >= 3.0)).select("doc_id")
    kept = survivors.join(kept_ids, "doc_id")
    capped = sampling.cap_per_group(kept, "source", _CURATE_CAP)

    injected = capped.withColumn(
        "text",
        F.when(F.col("doc_id") % 10 == 0,
               F.concat(F.col("text"), F.lit(_PII_SUFFIX)))
        .otherwise(F.col("text")))
    pii = text.pii_counts(injected)
    redacted = injected.withColumn("text", text.redact_pii(F.col("text")))
    split = sampling.cluster_safe_split(
        capped, {"train": 0.8, "val": 0.1, "test": 0.1}, clusters)

    stats = redacted.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(text.bpe_token_estimate(F.col("text")).cast("long"))
        .alias("total_bpe_tokens"))
    total = docs.agg(F.count(F.lit(1)).alias("n_total"))
    surv_n = survivors.agg(F.count(F.lit(1)).alias("n_surv"))
    kept_n = kept.agg(F.count(F.lit(1)).alias("n_kept"))
    pii_n = pii.agg(F.sum(F.col("n_email") + F.col("n_ssn")
                          + F.col("n_phone")).alias("n_pii"))
    split_n = split.agg(
        F.sum((F.col("split") == "train").cast("long")).alias("n_train"),
        F.sum((F.col("split") == "val").cast("long")).alias("n_val"),
        F.sum((F.col("split") == "test").cast("long")).alias("n_test"))
    return (
        stats.crossJoin(F.broadcast(total)).crossJoin(F.broadcast(surv_n))
        .crossJoin(F.broadcast(kept_n)).crossJoin(F.broadcast(pii_n))
        .crossJoin(F.broadcast(split_n))
        .select(
            "n_docs",
            (F.col("n_total") - F.col("n_surv")).alias("n_dropped_neardup"),
            (F.col("n_surv") - F.col("n_kept")).alias("n_dropped_quality"),
            (F.col("n_kept") - F.col("n_docs")).alias("n_dropped_cap"),
            "total_bpe_tokens", "n_pii", "n_train", "n_val", "n_test",
        )
    )


def _pipe_curate_v3_sql() -> str:
    pii_sels, pii_red = _pii_chain_sql("inj.text")
    split_case = _split_sql_oracle(
        {"train": 0.8, "val": 0.1, "test": 0.1},
        id_col="COALESCE(cl.cluster_id, c.doc_id)")
    return f"""
    WITH clusters AS MATERIALIZED (
      {_near_clusters_sql()}
    ), survivors AS MATERIALIZED (
      SELECT d.doc_id, d.text, d.source FROM documents d
      WHERE d.doc_id NOT IN (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
    ), m AS (
      SELECT doc_id,
        len(toks) AS n_tokens,
        round(list_sum(list_transform(toks, x -> length(x))) * 1.0
              / greatest(len(toks), 1), 4) AS mean_token_len,
        round(len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','it'], x)))
              * 1.0 / greatest(len(toks), 1), 4) AS stopword_ratio
      FROM (SELECT doc_id, text, {TOKENS_SQL.format(col="text")} AS toks FROM survivors)
    ), kept AS MATERIALIZED (
      SELECT s.doc_id, s.text, s.source FROM survivors s JOIN m USING (doc_id)
      WHERE n_tokens >= 20 AND stopword_ratio <= 0.30 AND mean_token_len >= 3.0
    ), capped AS MATERIALIZED (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               row_number() OVER (
                 PARTITION BY source
                 ORDER BY CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                          || ''), 1, 12)) AS UBIGINT) AS BIGINT) % 10000,
                          doc_id) AS rn
        FROM kept) WHERE rn <= {_CURATE_CAP}
    ), inj AS MATERIALIZED (
      SELECT doc_id, CASE WHEN doc_id % 10 = 0 THEN text || '{_PII_SUFFIX}'
                          ELSE text END AS text
      FROM capped
    ), pii AS MATERIALIZED (
      SELECT doc_id, {', '.join(pii_sels)}, {pii_red} AS rtext FROM inj
    ), sp AS MATERIALIZED (
      SELECT c.doc_id, {split_case} AS split
      FROM capped c LEFT JOIN clusters cl ON c.doc_id = cl.doc_id
    )
    SELECT CAST((SELECT count(*) FROM capped) AS BIGINT) AS n_docs,
           CAST((SELECT count(*) FROM documents) - (SELECT count(*) FROM survivors)
                AS BIGINT) AS n_dropped_neardup,
           CAST((SELECT count(*) FROM survivors) - (SELECT count(*) FROM kept)
                AS BIGINT) AS n_dropped_quality,
           CAST((SELECT count(*) FROM kept) - (SELECT count(*) FROM capped)
                AS BIGINT) AS n_dropped_cap,
           CAST((SELECT SUM(list_sum(list_transform(
                    regexp_extract_all(lower(rtext), '[a-z]+|[0-9]+'),
                    p -> CAST(ceil(length(p) / 4.0) AS INTEGER)))) FROM pii)
                AS BIGINT) AS total_bpe_tokens,
           CAST((SELECT SUM(n_email + n_ssn + n_phone) FROM pii) AS BIGINT)
                AS n_pii,
           CAST((SELECT count(*) FROM sp WHERE split = 'train') AS BIGINT)
                AS n_train,
           CAST((SELECT count(*) FROM sp WHERE split = 'val') AS BIGINT)
                AS n_val,
           CAST((SELECT count(*) FROM sp WHERE split = 'test') AS BIGINT)
                AS n_test
    """


_register("pipe_curate_v3", _pipe_curate_v3, _pipe_curate_v3_sql())


# -- pipe_curate_v4: v3 + the r7 stages — eval-set DECONTAMINATION after the
#    quality filter and TEMPERATURE MIXING after the per-source cap.  The
#    corpus excludes the benchmark docs (doc_id % 37 = 0) which form the
#    eval set; every stage's drop count is value-checked (neardup/quality/
#    cap ride the doubles, decontam/mix/splits/pii ride the tag string).

_V4_MIX_TOTAL = 150


def _pipe_curate_v4(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.functions import sampling

    alldocs = load_table(spark, sf, "documents")
    docs = alldocs.filter(F.col("doc_id") % 37 != 0)
    evaldocs = alldocs.filter(F.col("doc_id") % 37 == 0)

    clusters = dedup.near_duplicate_clusters(
        docs, num_hashes=32, rows_per_band=4, k=3, threshold=0.3)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")) \
        .select("doc_id")
    survivors = docs.join(losers, "doc_id", "left_anti")
    qm = text.quality_metrics(survivors)
    kept_ids = qm.filter(
        (F.col("n_tokens") >= 20) & (F.col("stopword_ratio") <= 0.30)
        & (F.col("mean_token_len") >= 3.0)).select("doc_id")
    kept = survivors.join(kept_ids, "doc_id")
    clean = dedup.decontaminate(kept, evaldocs, n=8)
    capped = sampling.cap_per_group(clean, "source", _CURATE_CAP)
    # distinct salts per hash-driven stage: cap, mix and split all rank by
    # the id hash, and with a shared salt each stage would keep exactly the
    # previous stage's smallest-bucket prefix (e.g. every mixed doc lands
    # in 'train').  Decorrelating the stages is the documented practice.
    mixed = sampling.temperature_mix(capped, "source", total=_V4_MIX_TOTAL,
                                     salt="mix")

    injected = mixed.withColumn(
        "text",
        F.when(F.col("doc_id") % 10 == 0,
               F.concat(F.col("text"), F.lit(_PII_SUFFIX)))
        .otherwise(F.col("text")))
    pii = text.pii_counts(injected)
    redacted = injected.withColumn("text", text.redact_pii(F.col("text")))
    split = sampling.cluster_safe_split(
        mixed, {"train": 0.8, "val": 0.1, "test": 0.1}, clusters,
        salt="v4split")

    stats = redacted.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(text.bpe_token_estimate(F.col("text")).cast("long"))
        .alias("total_bpe_tokens"))
    total = docs.agg(F.count(F.lit(1)).alias("n_total"))
    surv_n = survivors.agg(F.count(F.lit(1)).alias("n_surv"))
    kept_n = kept.agg(F.count(F.lit(1)).alias("n_kept"))
    clean_n = clean.agg(F.count(F.lit(1)).alias("n_clean"))
    capped_n = capped.agg(F.count(F.lit(1)).alias("n_capped"))
    pii_n = pii.agg(F.sum(F.col("n_email") + F.col("n_ssn")
                          + F.col("n_phone")).alias("n_pii"))
    split_n = split.agg(
        F.sum((F.col("split") == "train").cast("long")).alias("n_train"),
        F.sum((F.col("split") == "val").cast("long")).alias("n_val"),
        F.sum((F.col("split") == "test").cast("long")).alias("n_test"))
    return (
        stats.crossJoin(F.broadcast(total)).crossJoin(F.broadcast(surv_n))
        .crossJoin(F.broadcast(kept_n)).crossJoin(F.broadcast(clean_n))
        .crossJoin(F.broadcast(capped_n)).crossJoin(F.broadcast(pii_n))
        .crossJoin(F.broadcast(split_n))
        .select(
            "n_docs",
            (F.col("n_total") - F.col("n_surv")).alias("n_dropped_neardup"),
            (F.col("n_surv") - F.col("n_kept")).alias("n_dropped_quality"),
            (F.col("n_kept") - F.col("n_clean")).alias("n_dropped_decontam"),
            (F.col("n_clean") - F.col("n_capped")).alias("n_dropped_cap"),
            (F.col("n_capped") - F.col("n_docs")).alias("n_dropped_mix"),
            "total_bpe_tokens", "n_pii", "n_train", "n_val", "n_test",
        )
    )


def _pipe_curate_v4_sql() -> str:
    from hugegraph_on_tikv_spark.functions import sampling

    pii_sels, pii_red = _pii_chain_sql("inj.text")
    split_case = _split_sql_oracle(
        {"train": 0.8, "val": 0.1, "test": 0.1},
        id_col="COALESCE(cl.cluster_id, c.doc_id)", salt="v4split")
    mix_sql = sampling.temperature_mix_sql(
        "source", _V4_MIX_TOTAL, table="capped", salt="mix")
    toks = TOKENS_SQL.format(col="text")
    return f"""
    WITH corpus AS MATERIALIZED (
      SELECT * FROM documents WHERE doc_id % 37 <> 0
    ), clusters AS MATERIALIZED (
      {_near_clusters_sql(source_sql="SELECT doc_id, text FROM corpus")}
    ), survivors AS MATERIALIZED (
      SELECT d.doc_id, d.text, d.source FROM corpus d
      WHERE d.doc_id NOT IN (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
    ), m AS (
      SELECT doc_id,
        len(toks) AS n_tokens,
        round(list_sum(list_transform(toks, x -> length(x))) * 1.0
              / greatest(len(toks), 1), 4) AS mean_token_len,
        round(len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','it'], x)))
              * 1.0 / greatest(len(toks), 1), 4) AS stopword_ratio
      FROM (SELECT doc_id, text, {toks} AS toks FROM survivors)
    ), kept AS MATERIALIZED (
      SELECT s.doc_id, s.text, s.source FROM survivors s JOIN m USING (doc_id)
      WHERE n_tokens >= 20 AND stopword_ratio <= 0.30 AND mean_token_len >= 3.0
    ), evg AS MATERIALIZED (
      SELECT DISTINCT md5(unnest(gr)) AS fp
      FROM (SELECT {word_shingles_sql(toks, 8)} AS gr
            FROM documents WHERE doc_id % 37 = 0)
    ), contaminated AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id, md5(unnest(gr)) AS fp
        FROM (SELECT doc_id, {word_shingles_sql(toks, 8)} AS gr FROM kept)
      ) g JOIN evg USING (fp)
    ), clean AS MATERIALIZED (
      SELECT * FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    ), capped AS MATERIALIZED (
      SELECT doc_id, text, source FROM (
        SELECT doc_id, text, source,
               row_number() OVER (
                 PARTITION BY source
                 ORDER BY CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                          || ''), 1, 12)) AS UBIGINT) AS BIGINT) % 10000,
                          doc_id) AS rn
        FROM clean) WHERE rn <= {_CURATE_CAP}
    ), mixed AS MATERIALIZED (
      SELECT doc_id, text FROM ({mix_sql}) q
    ), inj AS MATERIALIZED (
      SELECT doc_id, CASE WHEN doc_id % 10 = 0 THEN text || '{_PII_SUFFIX}'
                          ELSE text END AS text
      FROM mixed
    ), pii AS MATERIALIZED (
      SELECT doc_id, {', '.join(pii_sels)}, {pii_red} AS rtext FROM inj
    ), sp AS MATERIALIZED (
      SELECT c.doc_id, {split_case} AS split
      FROM mixed c LEFT JOIN clusters cl ON c.doc_id = cl.doc_id
    )
    SELECT CAST((SELECT count(*) FROM mixed) AS BIGINT) AS n_docs,
           CAST((SELECT count(*) FROM corpus) - (SELECT count(*) FROM survivors)
                AS BIGINT) AS n_dropped_neardup,
           CAST((SELECT count(*) FROM survivors) - (SELECT count(*) FROM kept)
                AS BIGINT) AS n_dropped_quality,
           CAST((SELECT count(*) FROM kept) - (SELECT count(*) FROM clean)
                AS BIGINT) AS n_dropped_decontam,
           CAST((SELECT count(*) FROM clean) - (SELECT count(*) FROM capped)
                AS BIGINT) AS n_dropped_cap,
           CAST((SELECT count(*) FROM capped) - (SELECT count(*) FROM mixed)
                AS BIGINT) AS n_dropped_mix,
           CAST((SELECT SUM(list_sum(list_transform(
                    regexp_extract_all(lower(rtext), '[a-z]+|[0-9]+'),
                    p -> CAST(ceil(length(p) / 4.0) AS INTEGER)))) FROM pii)
                AS BIGINT) AS total_bpe_tokens,
           CAST((SELECT SUM(n_email + n_ssn + n_phone) FROM pii) AS BIGINT)
                AS n_pii,
           CAST((SELECT count(*) FROM sp WHERE split = 'train') AS BIGINT)
                AS n_train,
           CAST((SELECT count(*) FROM sp WHERE split = 'val') AS BIGINT)
                AS n_val,
           CAST((SELECT count(*) FROM sp WHERE split = 'test') AS BIGINT)
                AS n_test
    """


_register("pipe_curate_v4", _pipe_curate_v4, _pipe_curate_v4_sql())


# -- pipe_curate_v5: v4 + the session-3 stages — bigram-LM QUALITY FILTER
#    after decontamination (keep docs with mean scaled probability >=
#    LM_THRESH under the corpus' own English-reference model: the
#    exact-integer rule sum_p_scaled >= n_scored * THRESH — the monotone
#    arithmetic-mean stand-in for a perplexity cut, no libm anywhere) and
#    PRIVACY SUPPRESSION after mixing (drop (lang, source) groups smaller
#    than k=2 — the k-anonymity residue rule on release metadata).  Docs
#    that tokenize to nothing have no LM score and drop at the LM stage
#    (inner-join semantics, mirrored by the oracle).

_V5_LM_THRESH = 33_000


def _pipe_curate_v5(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.functions import lm, privacy, sampling

    alldocs = load_table(spark, sf, "documents")
    docs = alldocs.filter(F.col("doc_id") % 37 != 0)
    evaldocs = alldocs.filter(F.col("doc_id") % 37 == 0)

    clusters = dedup.near_duplicate_clusters(
        docs, num_hashes=32, rows_per_band=4, k=3, threshold=0.3)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")) \
        .select("doc_id")
    survivors = docs.join(losers, "doc_id", "left_anti")
    qm = text.quality_metrics(survivors)
    kept_ids = qm.filter(
        (F.col("n_tokens") >= 20) & (F.col("stopword_ratio") <= 0.30)
        & (F.col("mean_token_len") >= 3.0)).select("doc_id")
    kept = survivors.join(kept_ids, "doc_id")
    clean = dedup.decontaminate(kept, evaldocs, n=8)

    lm_ids = (lm.lm_score(clean, clean.filter(F.col("lang") == "en"))
              .filter(F.col("sum_p_scaled")
                      >= F.col("n_scored") * _V5_LM_THRESH)
              .select("doc_id"))
    lmkept = clean.join(lm_ids, "doc_id")

    capped = sampling.cap_per_group(lmkept, "source", _CURATE_CAP)
    mixed = sampling.temperature_mix(capped, "source", total=_V4_MIX_TOTAL,
                                     salt="mix")
    suppressed = privacy.suppress_to_k(mixed, ["lang", "source"], 2)

    injected = suppressed.withColumn(
        "text",
        F.when(F.col("doc_id") % 10 == 0,
               F.concat(F.col("text"), F.lit(_PII_SUFFIX)))
        .otherwise(F.col("text")))
    pii = text.pii_counts(injected)
    redacted = injected.withColumn("text", text.redact_pii(F.col("text")))
    split = sampling.cluster_safe_split(
        suppressed, {"train": 0.8, "val": 0.1, "test": 0.1}, clusters,
        salt="v5split")

    stats = redacted.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(text.bpe_token_estimate(F.col("text")).cast("long"))
        .alias("total_bpe_tokens"))
    total = docs.agg(F.count(F.lit(1)).alias("n_total"))
    surv_n = survivors.agg(F.count(F.lit(1)).alias("n_surv"))
    kept_n = kept.agg(F.count(F.lit(1)).alias("n_kept"))
    clean_n = clean.agg(F.count(F.lit(1)).alias("n_clean"))
    lm_n = lmkept.agg(F.count(F.lit(1)).alias("n_lm"))
    capped_n = capped.agg(F.count(F.lit(1)).alias("n_capped"))
    mixed_n = mixed.agg(F.count(F.lit(1)).alias("n_mixed"))
    pii_n = pii.agg(F.sum(F.col("n_email") + F.col("n_ssn")
                          + F.col("n_phone")).alias("n_pii"))
    split_n = split.agg(
        F.sum((F.col("split") == "train").cast("long")).alias("n_train"),
        F.sum((F.col("split") == "val").cast("long")).alias("n_val"),
        F.sum((F.col("split") == "test").cast("long")).alias("n_test"))
    return (
        stats.crossJoin(F.broadcast(total)).crossJoin(F.broadcast(surv_n))
        .crossJoin(F.broadcast(kept_n)).crossJoin(F.broadcast(clean_n))
        .crossJoin(F.broadcast(lm_n)).crossJoin(F.broadcast(capped_n))
        .crossJoin(F.broadcast(mixed_n)).crossJoin(F.broadcast(pii_n))
        .crossJoin(F.broadcast(split_n))
        .select(
            "n_docs",
            (F.col("n_total") - F.col("n_surv")).alias("n_dropped_neardup"),
            (F.col("n_surv") - F.col("n_kept")).alias("n_dropped_quality"),
            (F.col("n_kept") - F.col("n_clean")).alias("n_dropped_decontam"),
            (F.col("n_clean") - F.col("n_lm")).alias("n_dropped_lm"),
            (F.col("n_lm") - F.col("n_capped")).alias("n_dropped_cap"),
            (F.col("n_capped") - F.col("n_mixed")).alias("n_dropped_mix"),
            (F.col("n_mixed") - F.col("n_docs")).alias("n_dropped_privacy"),
            "total_bpe_tokens", "n_pii", "n_train", "n_val", "n_test",
        )
    )


def _pipe_curate_v5_sql() -> str:
    from hugegraph_on_tikv_spark.functions import sampling

    pii_sels, pii_red = _pii_chain_sql("inj.text")
    split_case = _split_sql_oracle(
        {"train": 0.8, "val": 0.1, "test": 0.1},
        id_col="COALESCE(cl.cluster_id, c.doc_id)", salt="v5split")
    mix_sql = sampling.temperature_mix_sql(
        "source", _V4_MIX_TOTAL, table="capped", salt="mix")
    toks = TOKENS_SQL.format(col="text")
    return f"""
    WITH corpus AS MATERIALIZED (
      SELECT * FROM documents WHERE doc_id % 37 <> 0
    ), clusters AS MATERIALIZED (
      {_near_clusters_sql(source_sql="SELECT doc_id, text FROM corpus")}
    ), survivors AS MATERIALIZED (
      SELECT d.doc_id, d.text, d.source, d.lang FROM corpus d
      WHERE d.doc_id NOT IN (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
    ), m AS (
      SELECT doc_id,
        len(toks) AS n_tokens,
        round(list_sum(list_transform(toks, x -> length(x))) * 1.0
              / greatest(len(toks), 1), 4) AS mean_token_len,
        round(len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','it'], x)))
              * 1.0 / greatest(len(toks), 1), 4) AS stopword_ratio
      FROM (SELECT doc_id, text, {toks} AS toks FROM survivors)
    ), kept AS MATERIALIZED (
      SELECT s.doc_id, s.text, s.source, s.lang
      FROM survivors s JOIN m USING (doc_id)
      WHERE n_tokens >= 20 AND stopword_ratio <= 0.30 AND mean_token_len >= 3.0
    ), evg AS MATERIALIZED (
      SELECT DISTINCT md5(unnest(gr)) AS fp
      FROM (SELECT {word_shingles_sql(toks, 8)} AS gr
            FROM documents WHERE doc_id % 37 = 0)
    ), contaminated AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id, md5(unnest(gr)) AS fp
        FROM (SELECT doc_id, {word_shingles_sql(toks, 8)} AS gr FROM kept)
      ) g JOIN evg USING (fp)
    ), clean AS MATERIALIZED (
      SELECT * FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    ), lmrtl AS (
      SELECT doc_id, {toks} AS t FROM clean WHERE lang = 'en'
    ), lmrstream AS (
      SELECT doc_id, generate_subscripts(t,1) AS pos, unnest(t) AS tok FROM lmrtl
    ), lmrpairs AS MATERIALIZED (
      SELECT doc_id,
             COALESCE(lag(tok) OVER (PARTITION BY doc_id ORDER BY pos), '<s>') AS h,
             tok AS t
      FROM lmrstream
    ), lmc_ht AS MATERIALIZED (
      SELECT h, t, CAST(count(*) AS BIGINT) AS c_ht FROM lmrpairs GROUP BY h, t
    ), lmc_h AS MATERIALIZED (
      SELECT h, CAST(count(*) AS BIGINT) AS c_h FROM lmrpairs GROUP BY h
    ), lmvv AS (
      SELECT CAST(count(DISTINCT t) AS BIGINT) AS v FROM lmrpairs
    ), lmtl AS (
      SELECT doc_id, {toks} AS t FROM clean
    ), lmstream AS (
      SELECT doc_id, generate_subscripts(t,1) AS pos, unnest(t) AS tok FROM lmtl
    ), lmpairs AS (
      SELECT doc_id,
             COALESCE(lag(tok) OVER (PARTITION BY doc_id ORDER BY pos), '<s>') AS h,
             tok AS t
      FROM lmstream
    ), lmscore AS MATERIALIZED (
      SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_scored,
             CAST(SUM(((COALESCE(b.c_ht, 0) + 1) * 1000000)
                      // (COALESCE(hh.c_h, 0) + (lmvv.v + 1))) AS BIGINT)
               AS sum_p_scaled
      FROM lmpairs p LEFT JOIN lmc_ht b USING (h, t)
      LEFT JOIN lmc_h hh USING (h) CROSS JOIN lmvv
      GROUP BY p.doc_id
    ), lmkept AS MATERIALIZED (
      SELECT c.* FROM clean c JOIN lmscore l USING (doc_id)
      WHERE l.sum_p_scaled >= l.n_scored * {_V5_LM_THRESH}
    ), capped AS MATERIALIZED (
      SELECT doc_id, text, source, lang FROM (
        SELECT doc_id, text, source, lang,
               row_number() OVER (
                 PARTITION BY source
                 ORDER BY CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                          || ''), 1, 12)) AS UBIGINT) AS BIGINT) % 10000,
                          doc_id) AS rn
        FROM lmkept) WHERE rn <= {_CURATE_CAP}
    ), mixed AS MATERIALIZED (
      SELECT q.doc_id, q.text, c2.source, c2.lang
      FROM ({mix_sql}) q JOIN capped c2 USING (doc_id)
    ), suppressed AS MATERIALIZED (
      SELECT mx.* FROM mixed mx
      JOIN (SELECT lang, source FROM mixed GROUP BY lang, source
            HAVING count(*) >= 2) ok USING (lang, source)
    ), inj AS MATERIALIZED (
      SELECT doc_id, CASE WHEN doc_id % 10 = 0 THEN text || '{_PII_SUFFIX}'
                          ELSE text END AS text
      FROM suppressed
    ), pii AS MATERIALIZED (
      SELECT doc_id, {', '.join(pii_sels)}, {pii_red} AS rtext FROM inj
    ), sp AS MATERIALIZED (
      SELECT c.doc_id, {split_case} AS split
      FROM suppressed c LEFT JOIN clusters cl ON c.doc_id = cl.doc_id
    )
    SELECT CAST((SELECT count(*) FROM suppressed) AS BIGINT) AS n_docs,
           CAST((SELECT count(*) FROM corpus) - (SELECT count(*) FROM survivors)
                AS BIGINT) AS n_dropped_neardup,
           CAST((SELECT count(*) FROM survivors) - (SELECT count(*) FROM kept)
                AS BIGINT) AS n_dropped_quality,
           CAST((SELECT count(*) FROM kept) - (SELECT count(*) FROM clean)
                AS BIGINT) AS n_dropped_decontam,
           CAST((SELECT count(*) FROM clean) - (SELECT count(*) FROM lmkept)
                AS BIGINT) AS n_dropped_lm,
           CAST((SELECT count(*) FROM lmkept) - (SELECT count(*) FROM capped)
                AS BIGINT) AS n_dropped_cap,
           CAST((SELECT count(*) FROM capped) - (SELECT count(*) FROM mixed)
                AS BIGINT) AS n_dropped_mix,
           CAST((SELECT count(*) FROM mixed) - (SELECT count(*) FROM suppressed)
                AS BIGINT) AS n_dropped_privacy,
           CAST((SELECT SUM(list_sum(list_transform(
                    regexp_extract_all(lower(rtext), '[a-z]+|[0-9]+'),
                    p -> CAST(ceil(length(p) / 4.0) AS INTEGER)))) FROM pii)
                AS BIGINT) AS total_bpe_tokens,
           CAST((SELECT SUM(n_email + n_ssn + n_phone) FROM pii) AS BIGINT)
                AS n_pii,
           CAST((SELECT count(*) FROM sp WHERE split = 'train') AS BIGINT)
                AS n_train,
           CAST((SELECT count(*) FROM sp WHERE split = 'val') AS BIGINT)
                AS n_val,
           CAST((SELECT count(*) FROM sp WHERE split = 'test') AS BIGINT)
                AS n_test
    """


_register("pipe_curate_v5", _pipe_curate_v5, _pipe_curate_v5_sql())


# -- equi-depth histogram + corpus top n-grams -----------------------------

def _equidepth_sql(nbins: int = 8) -> str:
    edges = ", ".join(
        f"percentile_disc({i / nbins}) WITHIN GROUP (ORDER BY x) AS q{i}"
        for i in range(1, nbins + 1))
    bin_case = ("CASE " + " ".join(
        f"WHEN x <= q{i} THEN {i - 1}" for i in range(1, nbins))
        + f" ELSE {nbins - 1} END")
    hi_case = ("CASE " + " ".join(
        f"WHEN bin = {i - 1} THEN q{i}" for i in range(1, nbins + 1))
        + " END")
    qcols = ", ".join(f"q{i}" for i in range(1, nbins + 1))
    return f"""
    WITH base AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
      WHERE o_totalprice IS NOT NULL
    ), e AS (
      SELECT {edges} FROM base
    ), binned AS (
      SELECT {bin_case} AS bin, {qcols} FROM base, e
    )
    SELECT bin, {hi_case} AS bin_hi, CAST(count(*) AS BIGINT) AS n
    FROM binned GROUP BY bin, {qcols}
    """


_register(
    "profile_equidepth",
    # exact percentile_disc edges -> engine-reproducible equi-depth bins
    lambda spark, sf: __import__(
        "hugegraph_on_tikv_spark.functions.profiling",
        fromlist=["histogram_equidepth"]).histogram_equidepth(
        load_table(spark, sf, "orders"), "o_totalprice", nbins=8),
    _equidepth_sql(8),
)

_register(
    "text_top_ngrams",
    # corpus catchphrase detector: top-20 bigrams, multiset counts
    lambda spark, sf: text.corpus_top_ngrams(
        load_table(spark, sf, "documents"), n=2, k=20),
    f"""
    WITH grams AS (
      SELECT unnest({word_shingles_sql(TOKENS_SQL.format(col="coalesce(text, '')"), 2)}) AS ngram
      FROM documents
    ), counts AS (
      SELECT ngram, CAST(count(*) AS BIGINT) AS n_occurrences
      FROM grams GROUP BY ngram
    ), ranked AS (
      SELECT ngram, n_occurrences,
             CAST(row_number() OVER (ORDER BY n_occurrences DESC, ngram ASC)
                  AS INTEGER) AS rank
      FROM counts
    )
    SELECT ngram, n_occurrences, rank FROM ranked WHERE rank <= 20
    """,
)


# -- market-basket association rules (functions/affinity.py): support /
#    confidence / lift over the order->part facts, apriori-pruned ----------

def _q_basket_rules(spark: SparkSession, sf: str) -> DataFrame:
    from hugegraph_on_tikv_spark.functions.affinity import pair_association
    return pair_association(load_table(spark, sf, "lineitem"),
                            "l_orderkey", "l_partkey", min_support=3)

_register(
    "q_basket_rules",
    _q_basket_rules,
    """
    WITH facts AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
    tot AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM facts),
    item_n AS MATERIALIZED (
      SELECT i, CAST(count(*) AS BIGINT) AS n FROM facts GROUP BY i),
    freq AS (SELECT i FROM item_n WHERE n >= 3),
    kept AS MATERIALIZED (SELECT f.b, f.i FROM facts f JOIN freq USING (i)),
    pairs AS (
      SELECT a.i AS item_a, b2.i AS item_b, CAST(count(*) AS BIGINT) AS n_ab
      FROM kept a JOIN kept b2 ON a.b = b2.b AND a.i < b2.i
      GROUP BY a.i, b2.i HAVING count(*) >= 3)
    SELECT p.item_a, p.item_b, na.n AS n_a, nb.n AS n_b, p.n_ab,
           round(p.n_ab / na.n, 6) AS confidence,
           round(p.n_ab * tot.n / (na.n * nb.n), 6) AS lift
    FROM pairs p JOIN item_n na ON na.i = p.item_a
    JOIN item_n nb ON nb.i = p.item_b CROSS JOIN tot
    """,
)



# ===========================================================================
# FINAL ROSTER — driver-visible queries()/oracle_sql()
#
# Everything above this line is the RAW registry (raw_queries()), one entry
# per operator.  The exported surface below is exactly 50 rows that cover
# every raw query: a raw query is either published under its own name or
# fused with its same-family variants into one tagged union, where each
# part keeps its full value set under a `tag` column.  Each part's
# projection is one expression list that both engines read; `_compose`
# states the SQL dialect rule for it.
#
# Type rule for fused projections: a column that is NULL for some part is
# typed STRING or DOUBLE, never integer — a nullable int column round-trips
# as object/None on the Spark side but float/NaN from DuckDB, which breaks
# the driver's stringified value hash.  Values cast int→double here are all
# far below 2^53, so the cast is exact.

_RAW_QUERIES, _RAW_ORACLES = _QUERIES, _ORACLES
_QUERIES, _ORACLES = {}, {}
_USED_RAW: set[str] = set()


def _publish(name: str) -> None:
    _USED_RAW.add(name)
    _QUERIES[name] = _RAW_QUERIES[name]
    if name in _RAW_ORACLES:
        _ORACLES[name] = _RAW_ORACLES[name]


def _compose(name: str, parts) -> None:
    """Fuse raw queries into one tagged union.  parts: [(raw_name, exprs)].
    One expression list projects each part in both engines:
    `raw(spark, sf).alias("_part").selectExpr(*exprs)` in Spark and
    `SELECT exprs FROM (raw oracle) AS _part` in DuckDB; the parts are then
    UNION ALL'd by column name.  So the expressions keep to the SQL both
    engines parse alike:
      - types are STRING, INT, BIGINT and DOUBLE; never VARCHAR (Spark
        rejects a bare VARCHAR), INTEGER or LONG;
      - strings join with `a || b`, never concat(...): on a NULL argument
        Spark's concat returns NULL and DuckDB's skips it, while `||` is
        NULL on both;
      - a column whose name DuckDB reserves is written `_part.column`."""
    _USED_RAW.update(rn for rn, _ in parts)
    specs = [(_RAW_QUERIES[rn], exprs) for rn, exprs in parts]

    def fn(spark: SparkSession, sf: str, _specs=specs) -> DataFrame:
        dfs = [f(spark, sf).alias("_part").selectExpr(*ex) for f, ex in _specs]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    _QUERIES[name] = fn
    _ORACLES[name] = "\nUNION ALL\n".join(
        f"SELECT {', '.join(exprs)} FROM (\n{_RAW_ORACLES[rn]}\n) AS _part"
        for rn, exprs in parts
    )


# -- 1-5: new / previously-red surfaces first -------------------------------

_publish("dedup_simhash")

# multimodal: Arrow feature extraction + byte-level dedup (signatures, exact
# groups, near-pairs), one fused row.  The dedup parts carry NULL f-columns;
# the feature part carries NULL pair columns (fusion type rule: DOUBLE/STRING).
_F_NULLS = [f"CAST(NULL AS DOUBLE) AS f{i}" for i in range(16)]
_compose("mm_extract_features", [
    ("mm_extract_features",
     ["'feat' AS tag", "CAST(media_id AS DOUBLE) AS a",
      "CAST(n_bytes AS DOUBLE) AS b", "CAST(NULL AS DOUBLE) AS v",
      "kind AS s"] + [f"f{i}" for i in range(16)]),
    ("mm_media_dedup",
     ["tag", "a", "b", "v", "s"] + _F_NULLS),
    # real-codec round-trip stats: v1..v3 ride f0..f2
    ("mm_real_codec_stats",
     ["'codec_' || kind AS tag", "CAST(media_id AS DOUBLE) AS a",
      "CAST(frame AS DOUBLE) AS b", "CAST(NULL AS DOUBLE) AS v", "kind AS s",
      "CAST(v1 AS DOUBLE) AS f0", "CAST(v2 AS DOUBLE) AS f1",
      "CAST(v3 AS DOUBLE) AS f2"] + _F_NULLS[3:]),
    # perceptual dHash dedup: width/height ride f0/f1
    ("mm_phash_dedup",
     ["tag", "a", "b", "v", "CAST(NULL AS STRING) AS s",
      "w AS f0", "h AS f1"] + _F_NULLS[2:]),
])

_compose("idx_range_typed", [
    ("idx_range_int",
     ["'int' AS tag", "CAST(field_value AS DOUBLE) AS field_value", "element_id"]),
    ("idx_range_double",
     ["'double' AS tag", "CAST(field_value AS DOUBLE) AS field_value", "element_id"]),
    ("idx_range_float",
     ["'float' AS tag", "CAST(field_value AS DOUBLE) AS field_value", "element_id"]),
    ("idx_range_long",
     ["'long' AS tag", "CAST(field_value AS DOUBLE) AS field_value", "element_id"]),
])

# bulk mutation + incremental-view-maintenance surfaces, fused (fused
# NULL-able columns are STRING/DOUBLE per the fusion type rule)
_compose("m_bulk_upsert", [
    ("m_bulk_upsert",
     ["'bulk' AS tag", "CAST(c_custkey AS DOUBLE) AS k", "c_name AS s1",
      "c_mktsegment AS s2", "CAST(NULL AS DOUBLE) AS v"]),
    ("ivm_agg_view",
     ["'ivm_by_type' AS tag", "CAST(n_rows AS DOUBLE) AS k", "event_type AS s1",
      "CAST(NULL AS STRING) AS s2", "sum_value AS v"]),
    # versioned-catalog CDC: the snapshot diff as (op, key, after/before)
    ("cdc_table_changes",
     ["'cdc' AS tag", "CAST(n_nationkey AS DOUBLE) AS k", "_change_type AS s1",
      "n_name AS s2", "CAST(n_regionkey AS DOUBLE) AS v"]),
    # SCD2 segments: s2 = "valid_from:is_current", v = valid_to (NULL open)
    ("scd2_history",
     ["'scd2' AS tag", "CAST(c_custkey AS DOUBLE) AS k", "c_mktsegment AS s1",
      "CAST(valid_from AS STRING) || ':' || CAST(is_current AS STRING) AS s2",
      "valid_to AS v"]),
])
_publish("sim_cosine_topk_vectorized")

# -- 6-12: TPC-H extensions (previously past the driver cap) ----------------

_compose("q_scalars", [
    ("q6_forecast_revenue",
     ["'q6' AS tag", "revenue AS v1", "CAST(NULL AS DOUBLE) AS v2",
      "CAST(NULL AS DOUBLE) AS n"]),
    ("q14_promo_share",
     ["'q14' AS tag", "promo_revenue AS v1", "total_revenue AS v2",
      "CAST(NULL AS DOUBLE) AS n"]),
    ("q19_brand_disjunction",
     ["'q19' AS tag", "revenue AS v1", "CAST(NULL AS DOUBLE) AS v2",
      "CAST(n_lines AS DOUBLE) AS n"]),
    ("q17_small_qty",
     ["'q17' AS tag", "avg_yearly AS v1", "CAST(NULL AS DOUBLE) AS v2",
      "CAST(NULL AS DOUBLE) AS n"]),
    ("q8_market_share",
     ["'q8' AS tag", "mkt_share AS v1", "CAST(NULL AS DOUBLE) AS v2",
      "CAST(o_year AS DOUBLE) AS n"]),
])

_compose("q5_q7_volume", [
    ("q5_local_supplier_volume",
     ["'q5' AS tag", "n_name AS n1", "CAST(NULL AS STRING) AS n2",
      "CAST(NULL AS DOUBLE) AS l_year", "revenue"]),
    ("q7_nation_volume",
     ["'q7' AS tag", "supp_nation AS n1", "cust_nation AS n2",
      "CAST(l_year AS DOUBLE) AS l_year", "revenue"]),
    ("q22_global_sales_opportunity",
     ["'q22' AS tag", "cntrycode AS n1", "CAST(NULL AS STRING) AS n2",
      "CAST(numcust AS DOUBLE) AS l_year", "totacctbal AS revenue"]),
    ("q15_top_supplier",
     ["'q15' AS tag", "s_name AS n1", "CAST(NULL AS STRING) AS n2",
      "CAST(s_suppkey AS DOUBLE) AS l_year", "total_revenue AS revenue"]),
])

_publish("q10_returned_revenue")

_compose("q4_q12_priority", [
    ("q12_priority_shipping",
     ["'q12' AS tag", "o_orderpriority", "CAST(late_count AS DOUBLE) AS v1",
      "CAST(line_count AS DOUBLE) AS v2"]),
    ("q4_priority_exists",
     ["'q4' AS tag", "o_orderpriority", "CAST(order_count AS DOUBLE) AS v1",
      "CAST(NULL AS DOUBLE) AS v2"]),
])

_compose("q13_q18_customers", [
    ("q18_large_orders",
     ["'q18' AS tag", "CAST(c_custkey AS DOUBLE) AS k", "c_name AS name",
      "CAST(l_orderkey AS DOUBLE) AS l_orderkey", "o_orderdate",
      "o_totalprice", "total_qty AS v"]),
    ("q13_custdist",
     ["'q13' AS tag", "CAST(c_count AS DOUBLE) AS k", "CAST(NULL AS STRING) AS name",
      "CAST(NULL AS DOUBLE) AS l_orderkey", "CAST(NULL AS STRING) AS o_orderdate",
      "CAST(NULL AS DOUBLE) AS o_totalprice", "CAST(custdist AS DOUBLE) AS v"]),
    ("q21_waiting_supplier",
     ["'q21' AS tag", "CAST(NULL AS DOUBLE) AS k", "s_name AS name",
      "CAST(NULL AS DOUBLE) AS l_orderkey", "CAST(NULL AS STRING) AS o_orderdate",
      "CAST(NULL AS DOUBLE) AS o_totalprice", "CAST(numwait AS DOUBLE) AS v"]),
])

# rank + analytic-function (lag/lead/ntile) windows over the same ranked set
_compose("q_rank_in_nation", [
    ("q_rank_in_nation",
     ["'rank' AS tag", "n_name", "c_custkey", "revenue AS v1",
      "CAST(rank_in_nation AS DOUBLE) AS v2", "CAST(NULL AS DOUBLE) AS v3"]),
    ("q_window_analytics",
     ["'analytic' AS tag", "n_name", "c_custkey", "prev_revenue AS v1",
      "next_custkey AS v2", "half AS v3"]),
])

_compose("agg_grouping_sets", [
    ("agg_rollup",
     ["'rollup' AS tag", "l_returnflag", "l_linestatus", "n", "sum_base_price"]),
    ("agg_cube",
     ["'cube' AS tag", "l_returnflag", "l_linestatus", "n",
      "CAST(NULL AS DOUBLE) AS sum_base_price"]),
    # crosstab: wide pivot plan melted back to long form (n rides NULL
    # DOUBLE; the union widens the other parts' BIGINT n identically in
    # both engines — the attr_outer precedent)
    ("agg_pivot",
     ["'pivot' AS tag", "l_returnflag", "l_linestatus",
      "CAST(NULL AS DOUBLE) AS n", "sum_base_price"]),
])

# -- 13-14: Gremlin DSL surface ---------------------------------------------

_compose("dsl_counts", [
    ("dsl_segment_2hop_count", ["'segment_2hop' AS tag", "n"]),
    ("dsl_in_dedup", ["'in_dedup' AS tag", "n"]),
    ("dsl_repeat_2hop", ["'repeat_2hop' AS tag", "n"]),
    ("dsl_path_count", ["'path_2hop' AS tag", "n"]),
    ("dsl_where_neq", ["'where_neq' AS tag", "n"]),
    ("dsl_not_count", ["'not_placed' AS tag", "n"]),
    ("dsl_union_count", ["'union' AS tag", "n"]),
    ("dsl_repeat_emit_count", ["'repeat_emit' AS tag", "n"]),
    ("dsl_match_count", ["'match' AS tag", "n"]),
    ("dsl_local_limit", ["'local_limit' AS tag", "n"]),
    ("dsl_simple_path_count",
     ["'simple_path' AS tag", "n"]),
    ("dsl_choose_count", ["'choose' AS tag", "n"]),
])

_compose("dsl_rows", [
    ("dsl_value_map",
     ["'value_map' AS tag", "name AS k", "CAST(id AS DOUBLE) AS id",
      "CAST(NULL AS STRING) AS brand", "acctbal AS size",
      "CAST(NULL AS DOUBLE) AS n"]),
    ("dsl_project",
     ["'project' AS tag", "nm AS k", "CAST(cust AS DOUBLE) AS id",
      "CAST(NULL AS STRING) AS brand", "CAST(NULL AS DOUBLE) AS size",
      "CAST(n_orders AS DOUBLE) AS n"]),
    ("dsl_group_count",
     ["'group_count' AS tag", "status AS k", "CAST(NULL AS DOUBLE) AS id",
      "CAST(NULL AS STRING) AS brand", "CAST(NULL AS DOUBLE) AS size",
      "CAST(n AS DOUBLE) AS n"]),
    ("dsl_has_predicate_values",
     ["'has_values' AS tag", "name AS k", "CAST(id AS DOUBLE) AS id", "brand",
      "CAST(size AS DOUBLE) AS size", "CAST(NULL AS DOUBLE) AS n"]),
    ("dsl_order_values",
     ["'order_values' AS tag", "name AS k", "CAST(id AS DOUBLE) AS id",
      "CAST(NULL AS STRING) AS brand", "retailprice AS size",
      "CAST(NULL AS DOUBLE) AS n"]),
    ("dsl_group_by_agg",
     ["'group_by_sum' AS tag", "brand AS k", "CAST(NULL AS DOUBLE) AS id",
      "CAST(NULL AS STRING) AS brand", "CAST(NULL AS DOUBLE) AS size",
      "CAST(value AS DOUBLE) AS n"]),
    ("dsl_sack_quantity",
     ["'sack_qty' AS tag", "CAST(NULL AS STRING) AS k", "id",
      "CAST(NULL AS STRING) AS brand", "sack AS size",
      "CAST(NULL AS DOUBLE) AS n"]),
    ("dsl_sack_merge",
     ["'sack_merge' AS tag", "CAST(NULL AS STRING) AS k", "id",
      "CAST(NULL AS STRING) AS brand", "sack AS size",
      "CAST(NULL AS DOUBLE) AS n"]),
])

# -- 15-19: graph analytics -------------------------------------------------

_compose("g_paths", [
    ("g_shortest_paths",
     ["'landmark' AS tag", "id", "CAST(landmark AS DOUBLE) AS landmark",
      "CAST(distance AS DOUBLE) AS distance"]),
    ("g_sssp_weighted",
     ["'sssp' AS tag", "id", "CAST(NULL AS DOUBLE) AS landmark", "distance"]),
    # closeness rides (landmark=n_reached, distance=harmonic)
    ("g_closeness",
     ["'closeness' AS tag", "id", "CAST(n_reached AS DOUBLE) AS landmark",
      "harmonic AS distance"]),
    # local clustering coefficient rides (landmark=triangles, distance=coeff)
    ("g_clustering",
     ["'clustering' AS tag", "CAST(id AS BIGINT) AS id",
      "CAST(n_triangles AS DOUBLE) AS landmark", "coeff AS distance"]),
    # landmark eccentricity rides (id=landmark, landmark=n_reaching)
    ("g_eccentricity",
     ["'ecc' AS tag", "CAST(landmark AS BIGINT) AS id",
      "CAST(n_reaching AS DOUBLE) AS landmark",
      "CAST(eccentricity AS DOUBLE) AS distance"]),
    # k-truss edges ride (id=u, landmark=v, distance=in-truss support)
    ("g_ktruss",
     ["'ktruss3' AS tag", "CAST(u AS BIGINT) AS id",
      "CAST(v AS DOUBLE) AS landmark", "CAST(support AS DOUBLE) AS distance"]),
])

_compose("g_components", [
    ("g_connected_components",
     ["'hashmin' AS tag", "id", "component"]),
    ("g_label_propagation",
     ["'lpa' AS tag", "id", "community AS component"]),
    # k-core membership rides (component = in-core degree)
    ("g_kcore",
     ["'kcore3' AS tag", "CAST(id AS BIGINT) AS id",
      "CAST(degree AS BIGINT) AS component"]),
    # directed SCCs over the customer<->supplier return-loop graph
    ("g_scc",
     ["'scc' AS tag", "id", "scc AS component"]),
    # star contraction: same labels as hashmin by construction
    ("g_cc_star",
     ["'ccstar' AS tag", "id", "component"]),
    # full core decomposition: component carries the core number
    ("g_core_numbers",
     ["'corenum' AS tag", "CAST(id AS BIGINT) AS id",
      "CAST(core AS BIGINT) AS component"]),
    # modularity of the LPA labeling: one row per community, component
    # carries the exact-integer contribution 4·m·e_c − d_c²
    ("g_modularity",
     ["'modularity' AS tag", "community AS id", "contrib AS component"]),
    # full Louvain (local-move + contraction level): component = community;
    # certificate rows id=-1/-2 carry the exact modularity numerators of
    # the full vs local-move-only labelings (full >= local, pytest-pinned)
    ("g_louvain",
     ["'louvain' AS tag", "id", "community AS component"]),
    # Boruvka max-affinity spanning forest: (v, affinity) pack into
    # component losslessly (affinity = shared-order count < 100000)
    ("g_spanning_forest",
     ["'msf' AS tag", "CAST(u AS BIGINT) AS id",
      "CAST(v AS BIGINT) * 100000 + affinity AS component"]),
    # Luby maximal independent set: component = 1-based selection round
    ("g_mis",
     ["'mis' AS tag", "CAST(id AS BIGINT) AS id",
      "CAST(round AS BIGINT) AS component"]),
    # Jones-Plassmann coloring: component carries the color
    ("g_coloring",
     ["'coloring' AS tag", "CAST(id AS BIGINT) AS id",
      "CAST(color AS BIGINT) AS component"]),
    # double-sweep diameter: one row; (diameter, n_reached) pack into
    # component losslessly (diameter < 100000; precedent: wid*100+step)
    ("g_diameter",
     ["'diameter' AS tag", "peripheral_id AS id",
      "CAST(diameter_lower_bound AS BIGINT) * 100000000 + n_reached"
      " AS component"]),
])

_compose("g_khop2", [
    ("g_khop2", ["'plain' AS tag", "id", "hops"]),
    ("g_khop2_labeled", ["'labeled' AS tag", "id", "hops"]),
    # walk rows ride the (id, hops) projection: id=visited vertex,
    # hops=wid*100+step (wid is a small enumeration, so this is lossless —
    # the full trajectory of every walk is value-checked)
    ("g_walks",
     ["'walk' AS tag", "vertex AS id", "CAST(wid * 100 + step AS INT) AS hops"]),
    # node2vec biased walks: same lossless (wid, step) packing
    ("g_n2v_walks",
     ["'n2v_walk' AS tag", "vertex AS id",
      "CAST(wid * 100 + step AS INT) AS hops"]),
    # skip-gram pairs: hops packs (context, step_offset) losslessly — it is
    # in [-2,2] so context*10 + (offset+2) stays inside int64
    ("g_skipgram_pairs",
     ["'skipgram' AS tag", "center AS id",
      "CAST(context * 10 + (step_offset + 2) AS BIGINT) AS hops"]),
])

_compose("g_neighborhood", [
    ("g_degree",
     ["'degree' AS tag", "CAST(id AS DOUBLE) AS id", "CAST(out_degree AS DOUBLE) AS out_degree",
      "CAST(in_degree AS DOUBLE) AS in_degree", "CAST(degree AS DOUBLE) AS metric",
      "CAST(NULL AS DOUBLE) AS agg_msg"]),
    ("g_triangle_count",
     ["'triangles' AS tag", "CAST(NULL AS DOUBLE) AS id", "CAST(NULL AS DOUBLE) AS out_degree",
      "CAST(NULL AS DOUBLE) AS in_degree", "CAST(n_triangles AS DOUBLE) AS metric",
      "CAST(NULL AS DOUBLE) AS agg_msg"]),
    ("g_four_cliques",
     ["'k4' AS tag", "CAST(NULL AS DOUBLE) AS id", "CAST(NULL AS DOUBLE) AS out_degree",
      "CAST(NULL AS DOUBLE) AS in_degree", "CAST(n_4cliques AS DOUBLE) AS metric",
      "CAST(NULL AS DOUBLE) AS agg_msg"]),
    # link-prediction pairs: id/out_degree carry (a, b); in_degree the
    # common-neighbor count; metric jaccard; agg_msg the quantized RA score
    ("g_link_prediction",
     ["'linkpred' AS tag", "CAST(a AS DOUBLE) AS id",
      "CAST(b AS DOUBLE) AS out_degree",
      "CAST(common_neighbors AS DOUBLE) AS in_degree", "jaccard AS metric",
      "ra_score AS agg_msg"]),
    # global structure: wedges/triangles exact ints, transitivity and
    # assortativity in metric/agg_msg
    ("g_structure",
     ["'structure' AS tag", "CAST(NULL AS DOUBLE) AS id",
      "CAST(n_wedges AS DOUBLE) AS out_degree",
      "CAST(n_triangles AS DOUBLE) AS in_degree",
      "transitivity AS metric", "assortativity AS agg_msg"]),
    ("g_summary",
     ["'summary' AS tag", "CAST(n_vertices AS DOUBLE) AS id",
      "CAST(n_edges AS DOUBLE) AS out_degree",
      "CAST(max_degree AS DOUBLE) AS in_degree", "avg_degree AS metric",
      "CAST(NULL AS DOUBLE) AS agg_msg"]),
    ("g_aggregate_messages",
     ["'agg_messages' AS tag", "CAST(id AS DOUBLE) AS id", "CAST(NULL AS DOUBLE) AS out_degree",
      "CAST(NULL AS DOUBLE) AS in_degree", "CAST(NULL AS DOUBLE) AS metric", "agg_msg"]),
])

_publish("g_motif_paths")

# -- 20-28: sets, text, dedup, similarity, meta -----------------------------

_compose("set_ops", [
    ("set_intersect", ["'intersect' AS tag", "c_custkey"]),
    ("set_except", ["'except' AS tag", "c_custkey"]),
])


def _text_features(spark: SparkSession, sf: str) -> DataFrame:
    m = _RAW_QUERIES["text_metrics"](spark, sf)
    b = _RAW_QUERIES["text_bpe_tokens"](spark, sf)
    return m.join(b, "doc_id")


_USED_RAW.update({"text_metrics", "text_bpe_tokens"})
_QUERIES["text_features"] = _text_features
_ORACLES["text_features"] = f"""
    SELECT m.doc_id, m.n_tokens, m.lang_pred, m.fp, b.ws_tokens, b.bpe_tokens
    FROM (
{_RAW_ORACLES["text_metrics"]}
    ) m JOIN (
{_RAW_ORACLES["text_bpe_tokens"]}
    ) b ON m.doc_id = b.doc_id
    """

_compose("text_quality_suite", [
    ("text_quality",
     ["'metrics' AS tag", "doc_id", "CAST(n_tokens AS DOUBLE) AS n_tokens",
      "mean_token_len", "punct_ratio", "stopword_ratio"]),
    # chunking: the chunk TEXT is value-checked via its md5 riding the
    # tag (the pii-part pattern); chunk_id rides mean_token_len
    ("text_chunks",
     ["'chunk_' || md5(chunk_text) AS tag", "doc_id",
      "CAST(n_tokens AS DOUBLE) AS n_tokens",
      "CAST(chunk_id AS DOUBLE) AS mean_token_len",
      "CAST(NULL AS DOUBLE) AS punct_ratio",
      "CAST(NULL AS DOUBLE) AS stopword_ratio"]),
    ("text_quality_filter",
     ["'kept' AS tag", "doc_id", "CAST(NULL AS DOUBLE) AS n_tokens",
      "CAST(NULL AS DOUBLE) AS mean_token_len", "CAST(NULL AS DOUBLE) AS punct_ratio",
      "CAST(NULL AS DOUBLE) AS stopword_ratio"]),
    # NB quality classifier: score_scaled rides mean_token_len (48-bit-ish
    # integers are double-exact), the mean-ratio decision rides punct_ratio
    ("text_nb_quality",
     ["'nb' AS tag", "doc_id", "CAST(n_tokens AS DOUBLE) AS n_tokens",
      "CAST(score_scaled AS DOUBLE) AS mean_token_len",
      "CAST(pred_mean AS DOUBLE) AS punct_ratio",
      "CAST(NULL AS DOUBLE) AS stopword_ratio"]),
    # BPE corpus encode: per-doc id-sequence md5 rides the tag, id count
    # on n_tokens; the totals sentinel carries vocab size / distinct ids
    ("text_bpe_encode",
     ["tag", "doc_id", "n_ids AS n_tokens", "v1 AS mean_token_len",
      "v2 AS punct_ratio", "CAST(NULL AS DOUBLE) AS stopword_ratio"]),
    # epoch-level deterministic shuffle: read_pos/block_pos/shard on a 1/10
    # slice; the totals row proves the dense-permutation + no-collision
    # invariants (r9)
    ("text_train_order",
     ["tag", "doc_id", "n_ids AS n_tokens", "v1 AS mean_token_len",
      "v2 AS punct_ratio", "CAST(NULL AS DOUBLE) AS stopword_ratio"]),
    # the complete assembly program: budget-select -> epoch shuffle -> BPE
    # train+encode on the kept subset -> pack in shuffled order; every
    # shard-0 training sequence md5-checked, composition-wide (r9)
    ("pipe_assemble",
     ["tag", "doc_id", "n_ids AS n_tokens", "v1 AS mean_token_len",
      "v2 AS punct_ratio", "CAST(NULL AS DOUBLE) AS stopword_ratio"]),
    # token-budget selection: quality/tokens/running-spend per kept doc +
    # the utilization totals row (r9)
    ("text_budget_select",
     ["tag", "doc_id", "n_ids AS n_tokens", "v1 AS mean_token_len",
      "v2 AS punct_ratio", "CAST(NULL AS DOUBLE) AS stopword_ratio"]),
    # unigram-LM tokenizer (Kudo 2018): per-doc id-sequence md5 tags on the
    # %20==7 slice, encode totals, and the vocab-certificate row whose md5
    # value-checks the trained (piece, count) table itself
    ("text_unigram",
     ["tag", "doc_id", "n_ids AS n_tokens", "v1 AS mean_token_len",
      "v2 AS punct_ratio", "CAST(NULL AS DOUBLE) AS stopword_ratio"]),
    # foreign-vocab encode with char fallback: per-doc md5 tags on the odd
    # slice, the 100%-coverage totals row, the fallback-id stats row
    ("text_bpe_fallback",
     ["tag", "doc_id", "n_ids AS n_tokens", "v1 AS mean_token_len",
      "v2 AS punct_ratio", "CAST(NULL AS DOUBLE) AS stopword_ratio"]),
    # curated-corpus stats mapped onto the suite's projection: doc_id carries
    # n_docs, n_tokens the BPE budget, mean/punct the two drop counts
    ("pipe_curate_corpus",
     ["'curated' AS tag", "n_docs AS doc_id",
      "CAST(total_bpe_tokens AS DOUBLE) AS n_tokens",
      "CAST(n_dropped_neardup AS DOUBLE) AS mean_token_len",
      "CAST(n_dropped_quality AS DOUBLE) AS punct_ratio",
      "CAST(NULL AS DOUBLE) AS stopword_ratio"]),
    # v2 adds the per-source cap stage; stopword_ratio carries its drop count
    ("pipe_curate_v2",
     ["'curated_v2' AS tag", "n_docs AS doc_id",
      "CAST(total_bpe_tokens AS DOUBLE) AS n_tokens",
      "CAST(n_dropped_neardup AS DOUBLE) AS mean_token_len",
      "CAST(n_dropped_quality AS DOUBLE) AS punct_ratio",
      "CAST(n_dropped_cap AS DOUBLE) AS stopword_ratio"]),
    # repetition signals mapped onto the suite's projection: mean/punct/
    # stopword carry frac_distinct / top_token_frac / dup_bigram_frac
    ("text_repetition",
     ["'repetition' AS tag", "doc_id", "CAST(n_tokens AS DOUBLE) AS n_tokens",
      "frac_distinct AS mean_token_len", "top_token_frac AS punct_ratio",
      "dup_bigram_frac AS stopword_ratio"]),
    # packing placements: mean/punct/stopword carry start_seq / end_seq /
    # offset_in_seq (shard is implicit — any shard-assignment divergence
    # breaks the per-doc cumulative sums these derive from)
    ("text_packing",
     ["'packing' AS tag", "doc_id", "CAST(n_tokens AS DOUBLE) AS n_tokens",
      "CAST(start_seq AS DOUBLE) AS mean_token_len",
      "CAST(end_seq AS DOUBLE) AS punct_ratio",
      "CAST(offset_in_seq AS DOUBLE) AS stopword_ratio"]),
    # corpus df scoring: mean/punct carry sum_df / mean_df
    ("text_df_stats",
     ["'df_stats' AS tag", "doc_id",
      "CAST(n_distinct_tokens AS DOUBLE) AS n_tokens",
      "CAST(sum_df AS DOUBLE) AS mean_token_len", "mean_df AS punct_ratio",
      "CAST(NULL AS DOUBLE) AS stopword_ratio"]),
    # v3 = the complete program; the split/PII counts ride the tag string,
    # the doubles carry the same stage-drop layout as v2 (BPE budget is
    # post-redaction)
    ("pipe_curate_v3",
     ["'curated_v3_' || CAST(n_train AS STRING) || '_' || "
      "CAST(n_val AS STRING) || '_' || CAST(n_test AS STRING) || '_' || "
      "CAST(n_pii AS STRING) AS tag",
      "n_docs AS doc_id", "CAST(total_bpe_tokens AS DOUBLE) AS n_tokens",
      "CAST(n_dropped_neardup AS DOUBLE) AS mean_token_len",
      "CAST(n_dropped_quality AS DOUBLE) AS punct_ratio",
      "CAST(n_dropped_cap AS DOUBLE) AS stopword_ratio"]),
    # v4 = v3 + decontamination + temperature mixing; the two new stages'
    # drop counts join the splits/PII counts inside the tag string
    ("pipe_curate_v4",
     ["'curated_v4_' || CAST(n_train AS STRING) || '_' || "
      "CAST(n_val AS STRING) || '_' || CAST(n_test AS STRING) || '_' || "
      "CAST(n_pii AS STRING) || '_' || CAST(n_dropped_decontam AS STRING) "
      "|| '_' || CAST(n_dropped_mix AS STRING) AS tag",
      "n_docs AS doc_id", "CAST(total_bpe_tokens AS DOUBLE) AS n_tokens",
      "CAST(n_dropped_neardup AS DOUBLE) AS mean_token_len",
      "CAST(n_dropped_quality AS DOUBLE) AS punct_ratio",
      "CAST(n_dropped_cap AS DOUBLE) AS stopword_ratio"]),
    # v5 = v4 + the bigram-LM quality filter and privacy suppression; the
    # two new stages' drop counts join the tag string
    ("pipe_curate_v5",
     ["'curated_v5_' || CAST(n_train AS STRING) || '_' || "
      "CAST(n_val AS STRING) || '_' || CAST(n_test AS STRING) || '_' || "
      "CAST(n_pii AS STRING) || '_' || CAST(n_dropped_decontam AS STRING) "
      "|| '_' || CAST(n_dropped_lm AS STRING) || '_' || "
      "CAST(n_dropped_mix AS STRING) || '_' || "
      "CAST(n_dropped_privacy AS STRING) AS tag",
      "n_docs AS doc_id", "CAST(total_bpe_tokens AS DOUBLE) AS n_tokens",
      "CAST(n_dropped_neardup AS DOUBLE) AS mean_token_len",
      "CAST(n_dropped_quality AS DOUBLE) AS punct_ratio",
      "CAST(n_dropped_cap AS DOUBLE) AS stopword_ratio"]),
    # PII scrubbing: counts ride the doubles, the redacted-text fingerprint
    # rides inside the tag (the value-hash then pins the full redaction)
    ("text_pii",
     ["'pii_' || redacted_fp AS tag", "doc_id",
      "CAST(n_email AS DOUBLE) AS n_tokens",
      "CAST(n_ssn AS DOUBLE) AS mean_token_len",
      "CAST(n_phone AS DOUBLE) AS punct_ratio",
      "CAST(NULL AS DOUBLE) AS stopword_ratio"]),
    # exact phrase search: the hit set, n_chars along for the ride
    ("text_phrase",
     ["'phrase' AS tag", "doc_id", "CAST(n_chars AS DOUBLE) AS n_tokens",
      "CAST(NULL AS DOUBLE) AS mean_token_len",
      "CAST(NULL AS DOUBLE) AS punct_ratio",
      "CAST(NULL AS DOUBLE) AS stopword_ratio"]),
    # BPE merge learning: the merge pair / vocab symbol rides the tag
    # (pii/chunk pattern); doc_id carries the round (99 = final vocab)
    ("text_bpe_learn",
     ["'bpe_' || CAST(round AS STRING) || '_' || sym AS tag",
      "CAST(round AS BIGINT) AS doc_id", "CAST(freq AS DOUBLE) AS n_tokens",
      "CAST(NULL AS DOUBLE) AS mean_token_len",
      "CAST(NULL AS DOUBLE) AS punct_ratio",
      "CAST(NULL AS DOUBLE) AS stopword_ratio"]),
    # OOV scoring: mean/punct/stopword carry n_oov / oov_rate / sum_vocab_cf
    ("text_oov",
     ["'oov' AS tag", "doc_id", "CAST(n_tokens AS DOUBLE) AS n_tokens",
      "CAST(n_oov AS DOUBLE) AS mean_token_len",
      "oov_rate AS punct_ratio",
      "CAST(sum_vocab_cf AS DOUBLE) AS stopword_ratio"]),
    # eval-set decontamination: mean/punct/stopword carry hit_grams /
    # eval_docs_hit / contaminated_tokens; n_tokens carries total_tokens
    ("dedup_decontam",
     ["'decontam' AS tag", "doc_id", "CAST(total_tokens AS DOUBLE) AS n_tokens",
      "CAST(hit_grams AS DOUBLE) AS mean_token_len",
      "CAST(eval_docs_hit AS DOUBLE) AS punct_ratio",
      "CAST(contaminated_tokens AS DOUBLE) AS stopword_ratio"]),
    # Bloom-pruned decontamination: identical values under a different
    # physical plan (word-table bloom prune -> tiny-side exact verify)
    ("dedup_decontam_bloom",
     ["'decontam_bloom' AS tag", "doc_id",
      "CAST(total_tokens AS DOUBLE) AS n_tokens",
      "CAST(hit_grams AS DOUBLE) AS mean_token_len",
      "CAST(eval_docs_hit AS DOUBLE) AS punct_ratio",
      "CAST(contaminated_tokens AS DOUBLE) AS stopword_ratio"]),
    # bigram-LM (CCNet) quality scoring: n_tokens carries n_scored,
    # mean_token_len the exact-integer sum_p_scaled (< 1e8 — double-exact)
    ("text_lm_score",
     ["'lm' AS tag", "doc_id", "CAST(n_scored AS DOUBLE) AS n_tokens",
      "CAST(sum_p_scaled AS DOUBLE) AS mean_token_len",
      "CAST(NULL AS DOUBLE) AS punct_ratio",
      "CAST(NULL AS DOUBLE) AS stopword_ratio"]),
])

_compose("dedup_exact_canonical", [
    ("dedup_exact",
     ["'exact_groups' AS tag", "fp", "CAST(n_docs AS DOUBLE) AS n_docs",
      "canonical_id AS id"]),
    ("dedup_canonicalize",
     ["'survivors' AS tag", "CAST(NULL AS STRING) AS fp", "CAST(NULL AS DOUBLE) AS n_docs",
      "doc_id AS id"]),
    ("dedup_near_clusters",
     ["'near_clusters' AS tag", "CAST(NULL AS STRING) AS fp",
      "CAST(cluster_id AS DOUBLE) AS n_docs", "doc_id AS id"]),
    ("sample_split",
     ["'sample_split' AS tag", "split AS fp", "CAST(NULL AS DOUBLE) AS n_docs",
      "doc_id AS id"]),
    ("sample_cap",
     ["'cap_kept' AS tag", "CAST(NULL AS STRING) AS fp",
      "CAST(NULL AS DOUBLE) AS n_docs", "doc_id AS id"]),
    ("sample_weighted",
     ["'weighted_kept' AS tag", "CAST(NULL AS STRING) AS fp",
      "CAST(NULL AS DOUBLE) AS n_docs", "doc_id AS id"]),
    # corpus mixture: fp carries the domain, the per-domain kept counts
    # value-check the target proportions AND the undersupply contract
    ("sample_mix",
     ["'mix_kept' AS tag", "source AS fp", "CAST(NULL AS DOUBLE) AS n_docs",
      "doc_id AS id"]),
    # temperature-flattened mixture: fp carries the derived skewed domain
    ("sample_temp_mix",
     ["'temp_mix' AS tag", "domain AS fp", "CAST(NULL AS DOUBLE) AS n_docs",
      "doc_id AS id"]),
    # DSIR importance resample: fp carries the exact-integer scaled log
    # importance weight, n_docs the scaled Gumbel draw (< 2^26, double-exact)
    ("sample_dsir",
     ["'dsir' AS tag", "CAST(logw_scaled AS STRING) AS fp",
      "CAST(gumbel_scaled AS DOUBLE) AS n_docs", "doc_id AS id"]),
    # leakage-safe split: fp carries the split name, n_docs the cluster id
    ("cluster_safe_split",
     ["'cluster_split' AS tag", "split AS fp",
      "CAST(cluster_id AS DOUBLE) AS n_docs", "doc_id AS id"]),
    # fixed-segment (C4/MassiveText) sub-document dedup: rebuilt text
    # value-checks via md5-in-tag, fp carries n_segs, n_docs the drop count
    ("dedup_segments",
     ["'segdedup_' || md5(text) AS tag",
      "CAST(n_segs AS STRING) AS fp",
      "CAST(n_dropped AS DOUBLE) AS n_docs", "doc_id AS id"]),
])

_compose("dedup_pairs", [
    ("dedup_ngram_jaccard",
     ["'ngram' AS tag", "doc_a", "doc_b", "jaccard",
      "CAST(NULL AS STRING) AS detail"]),
    ("dedup_minhash_lsh",
     ["'minhash_lsh' AS tag", "doc_a", "doc_b", "jaccard",
      "CAST(NULL AS STRING) AS detail"]),
    ("contamination",
     ["'contamination' AS tag", "train_id AS doc_a", "test_id AS doc_b",
      "jaccard", "CAST(NULL AS STRING) AS detail"]),
    # incremental index probe: tag carries the pair scope (cross|batch),
    # jaccard carries the signature-agreement estimate
    ("dedup_index_probe",
     ["'idx_' || scope AS tag", "doc_a", "doc_b",
      "est_jaccard AS jaccard", "CAST(NULL AS STRING) AS detail"]),
    # fuzzy entity-resolution pairs: jaccard carries the edit distance
    ("dedup_fuzzy_names",
     ["'fuzzy' AS tag", "id_a AS doc_a", "id_b AS doc_b",
      "CAST(distance AS DOUBLE) AS jaccard", "CAST(NULL AS STRING) AS detail"]),
    # exact set-similarity via prefix filtering vs brute-force oracle
    ("dedup_setsim_names",
     ["'setsim' AS tag", "id_a AS doc_a", "id_b AS doc_b", "jaccard",
      "CAST(NULL AS STRING) AS detail"]),
    # Fellegi-Sunter linkage: jaccard carries the odds-ratio weight,
    # detail value-checks decision + the per-field agreement vector
    ("dedup_fs_linkage",
     ["'fslink' AS tag", "l_id AS doc_a", "r_id AS doc_b",
      "weight AS jaccard",
      "decision || ':' || CAST(agr_name AS STRING) || "
      "CAST(agr_phone AS STRING) || CAST(agr_segment AS STRING) AS detail"]),
    # ER golden records: doc_a = cluster id, doc_b = member count, the
    # canonical field values all ride the detail string (survivorship
    # divergence breaks the hash)
    ("dedup_er_golden",
     ["'er' AS tag", "cluster_id AS doc_a", "n_members AS doc_b",
      "CAST(NULL AS DOUBLE) AS jaccard",
      "name || '|' || phone || '|' || segment AS detail"]),
    # span REMOVAL: the rebuilt text's md5 rides the tag, removed-token
    # count rides jaccard; doc_b slot carries the doc id again (type rule)
    ("dedup_despan",
     ["'despanned_' || md5(text) AS tag", "doc_id AS doc_a",
      "doc_id AS doc_b", "CAST(n_removed_tokens AS DOUBLE) AS jaccard",
      "CAST(NULL AS STRING) AS detail"]),
    # cross-document exact substring spans: jaccard carries span_len,
    # detail value-checks the positions as 'start_a:start_b:span_len'
    ("dedup_spans",
     ["'spans' AS tag", "doc_a", "doc_b", "CAST(span_len AS DOUBLE) AS jaccard",
      "CAST(start_a AS STRING) || ':' || CAST(start_b AS STRING) || ':' || "
      "CAST(span_len AS STRING) AS detail"]),
])

_compose("sim_ann_neardup", [
    ("sim_ann_lsh",
     ["'ann_lsh' AS tag", "query_id AS a", "neighbor_id AS b", "cos_sim",
      "CAST(rank AS DOUBLE) AS rank"]),
    ("sim_embedding_neardup",
     ["'neardup' AS tag", "vec_a AS a", "vec_b AS b", "cos_sim",
      "CAST(NULL AS DOUBLE) AS rank"]),
    # int8 quantization rides (b = md5-48 code fingerprint, cos_sim = scale)
    ("sim_quantize",
     ["'quantized' AS tag", "vec_id AS a", "codes_fp AS b", "scale AS cos_sim",
      "CAST(NULL AS DOUBLE) AS rank"]),
    # quantized-scan top-k rides with its exact-integer cosine scores
    ("sim_quantized_topk",
     ["'q_topk' AS tag", "query_id AS a", "neighbor_id AS b",
      "qcos_sim AS cos_sim", "CAST(rank AS DOUBLE) AS rank"]),
    # JL projection coordinates: b = dim index, cos_sim = coordinate
    ("sim_random_projection",
     ["'rp' AS tag", "vec_id AS a", "CAST(dim AS DOUBLE) AS b",
      "value AS cos_sim", "CAST(NULL AS DOUBLE) AS rank"]),
    # SemDeDup: cell rides the rank slot; kept rows carry centroid_sim
    ("sim_semdedup_pairs",
     ["'semdd_pair' AS tag", "id_a AS a", "id_b AS b", "cos_sim",
      "CAST(cell AS DOUBLE) AS rank"]),
    ("sim_semdedup_kept",
     ["'semdd_kept' AS tag", "id AS a", "CAST(NULL AS DOUBLE) AS b",
      "centroid_sim AS cos_sim", "CAST(cell AS DOUBLE) AS rank"]),
    # contrastive mining: kind rides the tag, per-anchor rank in rank (r9)
    ("sim_contrastive_pairs",
     ["'ctr_' || kind AS tag", "anchor_id AS a", "other_id AS b",
      "cos_sim", "CAST(pair_rank AS DOUBLE) AS rank"]),
])

# IVF probe + PQ/ADC share one roster row (tag ivf / pq); score carries
# cos_sim for the IVF part and the ADC dot-product approximation for PQ
_compose("sim_ivf_topk", [
    ("sim_ivf_topk",
     ["'ivf' AS tag", "query_id", "neighbor_id", "cos_sim AS score",
      "CAST(rank AS DOUBLE) AS rank"]),
    ("sim_pq_topk",
     ["'pq' AS tag", "query_id", "neighbor_id", "adc_score AS score",
      "CAST(rank AS DOUBLE) AS rank"]),
    # metadata-filtered ANN over the SAME index (r9)
    ("sim_ivf_filtered",
     ["'ivf_filt' AS tag", "query_id", "neighbor_id", "cos_sim AS score",
      "CAST(rank AS DOUBLE) AS rank"]),
    # recall@k of the probe vs exact ground truth, exact-integer hits (r9)
    ("sim_ann_recall",
     ["'recall' AS tag", "query_id", "CAST(NULL AS DOUBLE) AS neighbor_id",
      "CAST(hits AS DOUBLE) AS score", "CAST(k AS DOUBLE) AS rank"]),
    # autotune walk (r11): n_probe rides query_id, exact-integer hits in
    # score, total in rank — the doubling schedule + stop rule replayed
    ("sim_ann_autotune",
     ["'autotune' AS tag", "n_probe AS query_id",
      "CAST(NULL AS DOUBLE) AS neighbor_id", "CAST(hits AS DOUBLE) AS score",
      "CAST(total AS DOUBLE) AS rank"]),
])
_compose("i1_splits", [
    ("i1_splits",
     ["'splits' AS tag", "CAST(shard_idx AS DOUBLE) AS a", "start_key AS b",
      "end_key AS c", "CAST(NULL AS DOUBLE) AS d", "CAST(NULL AS STRING) AS s"]),
    # optimizer statistics: exact join cardinality / deterministic KMV
    # estimate (threshold rank rides the string - 2^60 exceeds double
    # precision) / FK containment
    ("stats_join_exact",
     ["'join_exact' AS tag", "CAST(join_rows AS DOUBLE) AS a",
      "CAST(n_keys_a AS DOUBLE) AS b", "CAST(n_keys_b AS DOUBLE) AS c",
      "CAST(n_keys_both AS DOUBLE) AS d", "CAST(NULL AS STRING) AS s"]),
    ("stats_join_kmv",
     ["'join_kmv' AS tag", "CAST(estimate_scaled AS DOUBLE) AS a",
      "CAST(sampled_product AS DOUBLE) AS b", "CAST(n_sampled AS DOUBLE) AS c",
      "CAST(NULL AS DOUBLE) AS d", "CAST(threshold_rank AS STRING) AS s"]),
    ("stats_containment",
     ["'containment' AS tag", "CAST(n_keys_a AS DOUBLE) AS a",
      "CAST(n_contained AS DOUBLE) AS b", "CAST(NULL AS DOUBLE) AS c",
      "containment AS d", "CAST(NULL AS STRING) AS s"]),
    # z-order layout keys: every order's Morton value over
    # (custkey, price-cents) — the data-skipping sort key, value-checked
    ("zorder_values",
     ["'zorder' AS tag", "CAST(o_orderkey AS DOUBLE) AS a",
      "CAST(zval AS DOUBLE) AS b", "CAST(NULL AS DOUBLE) AS c",
      "CAST(NULL AS DOUBLE) AS d", "CAST(NULL AS STRING) AS s"]),
    # skew diagnosis: hot keys + summary, salt-factor recommendation
    ("stats_skew_report",
     ["'skew_' || tag AS tag", "CAST(n_rows AS DOUBLE) AS a",
      "CAST(share_ppm AS DOUBLE) AS b", "CAST(salt_factor AS DOUBLE) AS c",
      "CAST(NULL AS DOUBLE) AS d", "key_str AS s"]),
    # t-closeness: per-nation TVD of the segment mix vs global; the exact
    # rational rides the string (num:den), the double division rides d
    ("privacy_tclose",
     ["'tclose' AS tag", "CAST(g AS DOUBLE) AS a",
      "CAST(n_rows AS DOUBLE) AS b", "CAST(NULL AS DOUBLE) AS c",
      "tvd AS d", "tvd_num || ':' || tvd_den AS s"]),
])

_compose("win_windows", [
    ("win_tumbling",
     ["'tumbling' AS tag", "window_start AS t1", "CAST(NULL AS STRING) AS t2",
      "event_type AS s", "CAST(NULL AS DOUBLE) AS user_id", "n_events", "sum_value"]),
    # gap-filled resampling: raw per-bucket sum rides the user_id double
    # slot, forward-filled sum rides sum_value — both value-checked
    ("win_gapfill",
     ["'gapfill' AS tag", "bucket_start AS t1", "CAST(NULL AS STRING) AS t2",
      "event_type AS s", "sum_value AS user_id", "n_events",
      "filled_value AS sum_value"]),
    # exact-rational interpolation: numerator rides sum_value, the
    # denominator rides the user_id double slot — both exact integers
    ("win_interpolate",
     ["'interp' AS tag", "bucket_start AS t1", "CAST(NULL AS STRING) AS t2",
      "event_type AS s", "CAST(interp_den AS DOUBLE) AS user_id", "n_events",
      "CAST(interp_num AS DOUBLE) AS sum_value"]),
    # Markov transition matrix: s carries from_type, t2 to_type,
    # n_events the exact pair count, sum_value the row-normalized p
    ("win_transitions",
     ["'transitions' AS tag", "CAST(NULL AS STRING) AS t1", "to_type AS t2",
      "from_type AS s", "CAST(NULL AS DOUBLE) AS user_id", "n AS n_events",
      "p AS sum_value"]),
    ("win_sliding",
     ["'sliding' AS tag", "window_start AS t1", "CAST(NULL AS STRING) AS t2",
      "CAST(NULL AS STRING) AS s", "CAST(NULL AS DOUBLE) AS user_id", "n_events",
      "CAST(NULL AS DOUBLE) AS sum_value"]),
    ("win_session",
     ["'session' AS tag", "session_start AS t1", "session_end AS t2",
      "CAST(NULL AS STRING) AS s", "CAST(user_id AS DOUBLE) AS user_id", "n_events",
      "CAST(NULL AS DOUBLE) AS sum_value"]),
    ("win_attribution_join",
     ["'attrib' AS tag", "CAST(NULL AS STRING) AS t1", "CAST(NULL AS STRING) AS t2",
      "CAST(click_id AS STRING) AS s", "CAST(user_id AS DOUBLE) AS user_id",
      "view_id AS n_events", "CAST(lag_us AS DOUBLE) AS sum_value"]),
    ("asof_last_view",
     ["'asof' AS tag", "click_ts AS t1", "view_ts AS t2",
      "CAST(click_id AS STRING) AS s", "CAST(user_id AS DOUBLE) AS user_id",
      "view_id AS n_events", "CAST(NULL AS DOUBLE) AS sum_value"]),
    # nullable view_id/lag_us are cast DOUBLE (fusion type rule); the union
    # then coerces the whole n_events column long→double identically in
    # Spark (unionByName) and DuckDB (UNION ALL)
    ("win_attribution_outer",
     ["'attr_outer' AS tag", "CAST(NULL AS STRING) AS t1",
      "CAST(NULL AS STRING) AS t2", "CAST(click_id AS STRING) AS s",
      "CAST(user_id AS DOUBLE) AS user_id",
      "CAST(view_id AS DOUBLE) AS n_events",
      "CAST(lag_us AS DOUBLE) AS sum_value"]),
    # full outer adds never-attributed views: click_id now nullable too
    ("win_attribution_full",
     ["'attr_full' AS tag", "CAST(NULL AS STRING) AS t1",
      "CAST(NULL AS STRING) AS t2", "CAST(click_id AS STRING) AS s",
      "CAST(user_id AS DOUBLE) AS user_id",
      "CAST(view_id AS DOUBLE) AS n_events",
      "CAST(lag_us AS DOUBLE) AS sum_value"]),
    # cohort retention rides (t1=cohort week, sum_value=period offset)
    ("win_cohort_retention",
     ["'cohort' AS tag", "cohort AS t1", "CAST(NULL AS STRING) AS t2",
      "CAST(NULL AS STRING) AS s", "CAST(NULL AS DOUBLE) AS user_id",
      "n_users AS n_events", "CAST(period_offset AS DOUBLE) AS sum_value"]),
    # funnel completion rides (s=step, sum_value=step index)
    ("win_funnel",
     ["'funnel' AS tag", "CAST(NULL AS STRING) AS t1",
      "CAST(NULL AS STRING) AS t2", "step AS s",
      "CAST(NULL AS DOUBLE) AS user_id", "n_users AS n_events",
      "CAST(step_index AS DOUBLE) AS sum_value"]),
])

# -- 29-50: core scan/filter/agg/index/mutation surfaces --------------------

_compose("s1_scan_paging", [
    ("s1_scan_all",
     ["'scan_all' AS tag", "l_orderkey", "l_linenumber", "l_quantity"]),
    ("paging_keyset",
     ["'page_resume' AS tag", "l_orderkey", "l_linenumber", "l_quantity"]),
])

_compose("s2_point_multi", [
    ("s2_point_get",
     ["'point' AS tag", "id", "label", "name", "mktsegment",
      "CAST(NULL AS DOUBLE) AS input_pos"]),
    ("s5_multi_id_ordered",
     ["'multi' AS tag", "id", "label", "name", "CAST(NULL AS STRING) AS mktsegment",
      "CAST(input_pos AS DOUBLE) AS input_pos"]),
])

_compose("s6_prefix_adjacency", [
    ("s6_prefix_scan",
     ["'prefix' AS tag", "CAST(c_custkey AS BIGINT) AS k1", "CAST(NULL AS DOUBLE) AS k2",
      "c_name AS s"]),
    ("s6_adjacency_scan",
     ["'adjacency' AS tag", "src AS k1", "CAST(dst AS DOUBLE) AS k2", "orderdate AS s"]),
])

_compose("s7_range_limit0", [
    ("s7_range_scan",
     ["'range' AS tag", "o_orderkey AS k", "o_totalprice AS v"]),
    ("f5_limit0",
     ["'limit0' AS tag", "l_orderkey AS k", "CAST(l_linenumber AS DOUBLE) AS v"]),
])

_publish("s8_shard_scan")

_compose("s11_q16_parts", [
    ("s11_condition_query",
     ["'condition' AS tag", "CAST(p_partkey AS DOUBLE) AS k", "p_brand", "p_type",
      "CAST(p_size AS DOUBLE) AS p_size", "CAST(NULL AS DOUBLE) AS n"]),
    ("q16_supplier_cnt",
     ["'q16' AS tag", "CAST(NULL AS DOUBLE) AS k", "p_brand", "p_type",
      "CAST(p_size AS DOUBLE) AS p_size", "CAST(supplier_cnt AS DOUBLE) AS n"]),
])

_publish("f2_lte_prefix_bound")

_compose("f_predicates", [
    ("f_text_contains",
     ["'text_contains' AS tag", "doc_id AS id", "CAST(NULL AS DOUBLE) AS v"]),
    ("f_contains_key",
     ["'contains_key' AS tag", "event_id AS id", "CAST(k_value AS DOUBLE) AS v"]),
])

# a1_count + agg_extended share one fused slot (freed for q_partsupp_suite)
_compose("a1_agg_counts", [
    ("a1_count",
     ["'count' AS tag", "CAST(NULL AS STRING) AS k", "CAST(NULL AS DOUBLE) AS v_min",
      "CAST(NULL AS DOUBLE) AS v_max", "CAST(NULL AS DOUBLE) AS v_sum",
      "CAST(NULL AS DOUBLE) AS v_avg", "CAST(n AS DOUBLE) AS n"]),
    # expectation audit: n_rows rides v_sum, violations ride n
    ("quality_expectations",
     ["'expect' AS tag", "check_name AS k", "CAST(NULL AS DOUBLE) AS v_min",
      "CAST(NULL AS DOUBLE) AS v_max", "CAST(n_rows AS DOUBLE) AS v_sum",
      "CAST(NULL AS DOUBLE) AS v_avg", "CAST(n_violations AS DOUBLE) AS n"]),
    ("agg_extended",
     ["'agg' AS tag", "l_returnflag AS k", "CAST(min_qty AS DOUBLE) AS v_min",
      "CAST(max_qty AS DOUBLE) AS v_max", "CAST(sum_qty AS DOUBLE) AS v_sum",
      "CAST(avg_qty AS DOUBLE) AS v_avg", "CAST(n_suppliers AS DOUBLE) AS n"]),
    # privacy audits: k-anonymity violations / table level / l-diversity
    # violations / post-suppression survivors, all exact integers
    ("privacy_kanon",
     ["'kanon' AS tag",
      "CAST(c_nationkey AS STRING) || ':' || c_mktsegment AS k",
      "CAST(NULL AS DOUBLE) AS v_min", "CAST(NULL AS DOUBLE) AS v_max",
      "CAST(NULL AS DOUBLE) AS v_sum", "CAST(NULL AS DOUBLE) AS v_avg",
      "CAST(n_rows AS DOUBLE) AS n"]),
    ("privacy_level",
     ["'anon_level' AS tag", "CAST(NULL AS STRING) AS k",
      "CAST(k_level AS DOUBLE) AS v_min", "CAST(NULL AS DOUBLE) AS v_max",
      "CAST(n_groups AS DOUBLE) AS v_sum", "CAST(NULL AS DOUBLE) AS v_avg",
      "CAST(n_rows_at_risk AS DOUBLE) AS n"]),
    ("privacy_ldiv",
     ["'ldiv' AS tag",
      "CAST(c_nationkey AS STRING) || ':' || c_mktsegment AS k",
      "CAST(NULL AS DOUBLE) AS v_min", "CAST(NULL AS DOUBLE) AS v_max",
      "CAST(n_rows AS DOUBLE) AS v_sum", "CAST(NULL AS DOUBLE) AS v_avg",
      "CAST(n_distinct_sensitive AS DOUBLE) AS n"]),
    ("privacy_suppress",
     ["'ksup' AS tag", "CAST(c_custkey AS STRING) AS k",
      "CAST(NULL AS DOUBLE) AS v_min", "CAST(NULL AS DOUBLE) AS v_max",
      "CAST(NULL AS DOUBLE) AS v_sum", "CAST(NULL AS DOUBLE) AS v_avg",
      "CAST(NULL AS DOUBLE) AS n"]),
    # MAD anomaly detection: k = "event_type:row_id", v_min/v_max carry
    # med/mad, v_sum the scaled value, v_avg robust_z, n the deviation
    ("events_mad_outliers",
     ["'mad' AS tag", "event_type || ':' || CAST(row_id AS STRING) AS k",
      "CAST(med AS DOUBLE) AS v_min", "CAST(mad AS DOUBLE) AS v_max",
      "CAST(v AS DOUBLE) AS v_sum", "robust_z AS v_avg",
      "CAST(dev AS DOUBLE) AS n"]),
    # the count-min COUNTER TABLE, value-checked cell by cell (k = "d:w")
    ("cm_sketch",
     ["'cm' AS tag", "CAST(d AS STRING) || ':' || CAST(w AS STRING) AS k",
      "CAST(NULL AS DOUBLE) AS v_min", "CAST(NULL AS DOUBLE) AS v_max",
      "CAST(NULL AS DOUBLE) AS v_sum", "CAST(NULL AS DOUBLE) AS v_avg",
      "CAST(c AS DOUBLE) AS n"]),
    # exact heavy hitters over the token stream (MG candidates + verify)
    ("hh_tokens",
     ["'hh' AS tag", "value AS k",
      "CAST(NULL AS DOUBLE) AS v_min", "CAST(NULL AS DOUBLE) AS v_max",
      "CAST(NULL AS DOUBLE) AS v_sum", "CAST(NULL AS DOUBLE) AS v_avg",
      "CAST(n_occurrences AS DOUBLE) AS n"]),
    # anti-entropy checksums: the 60-bit XOR rides the k string so no
    # double rounding can soften the check
    ("integrity_checksum",
     ["'cksum' AS tag",
      "CAST(bucket AS STRING) || ':' || CAST(checksum AS STRING) AS k",
      "CAST(NULL AS DOUBLE) AS v_min", "CAST(NULL AS DOUBLE) AS v_max",
      "CAST(NULL AS DOUBLE) AS v_sum", "CAST(NULL AS DOUBLE) AS v_avg",
      "CAST(n_rows AS DOUBLE) AS n"]),
    # equi-width histogram (k = bin, v_min/v_max = edges, n = count)
    ("profile_histogram",
     ["'hist' AS tag", "CAST(bin AS STRING) AS k", "bin_lo AS v_min",
      "bin_hi AS v_max", "CAST(NULL AS DOUBLE) AS v_sum",
      "CAST(NULL AS DOUBLE) AS v_avg", "CAST(n AS DOUBLE) AS n"]),
    # equi-depth histogram (k = bin, v_max = exact percentile edge)
    ("profile_equidepth",
     ["'eqdepth' AS tag", "CAST(bin AS STRING) AS k",
      "CAST(NULL AS DOUBLE) AS v_min", "bin_hi AS v_max",
      "CAST(NULL AS DOUBLE) AS v_sum", "CAST(NULL AS DOUBLE) AS v_avg",
      "CAST(n AS DOUBLE) AS n"]),
    # corpus top bigrams (k = ngram, v_avg = rank, n = count)
    ("text_top_ngrams",
     ["'ngrams' AS tag", "ngram AS k", "CAST(NULL AS DOUBLE) AS v_min",
      "CAST(NULL AS DOUBLE) AS v_max", "CAST(NULL AS DOUBLE) AS v_sum",
      "CAST(rank AS DOUBLE) AS v_avg", "CAST(n_occurrences AS DOUBLE) AS n"]),
    # PMI collocations: k = the pair, v_min/v_max = unigram counts,
    # v_sum = exact lift surrogate, v_avg = rank, n = pair count
    ("text_collocations",
     ["'colloc' AS tag", "w1 || ' ' || w2 AS k",
      "CAST(c_x AS DOUBLE) AS v_min", "CAST(c_y AS DOUBLE) AS v_max",
      "CAST(lift_scaled AS DOUBLE) AS v_sum", "CAST(rank AS DOUBLE) AS v_avg",
      "CAST(c_xy AS DOUBLE) AS n"]),
    # exact-integer Pearson pairs (k = "col_a:col_b", v_avg = corr)
    ("stats_corr",
     ["'corr' AS tag", "col_a || ':' || col_b AS k",
      "CAST(NULL AS DOUBLE) AS v_min", "CAST(NULL AS DOUBLE) AS v_max",
      "CAST(NULL AS DOUBLE) AS v_sum", "corr AS v_avg",
      "CAST(NULL AS DOUBLE) AS n"]),
    # one-pass column profile (k = column name; v_sum/v_avg carry
    # n_distinct / n_nonnull)
    ("profile_orders",
     ["'profile' AS tag", "_part.column AS k", "min_value AS v_min",
      "max_value AS v_max", "CAST(n_distinct AS DOUBLE) AS v_sum",
      "CAST(n_nonnull AS DOUBLE) AS v_avg", "CAST(n_rows AS DOUBLE) AS n"]),
])

# the partsupp-derived TPC-H tail + skew-join toolkit (wave 8): six raw
# queries fused into the slot freed above
_compose("q_partsupp_suite", [
    ("q2_min_cost_supplier",
     ["'q2' AS tag", "s_name AS c1", "n_name AS c2",
      "CAST(p_partkey AS DOUBLE) AS d1", "ps_supplycost AS d2", "s_acctbal AS d3"]),
    # association rules: c1 packs the item pair, c2 the three exact counts
    # (injective '|' packing over integers), d1/d2 the rounded ratios
    ("q_basket_rules",
     ["'basket' AS tag",
      "CAST(item_a AS STRING) || '|' || CAST(item_b AS STRING) AS c1",
      "CAST(n_a AS STRING) || '|' || CAST(n_b AS STRING) || '|' || "
      "CAST(n_ab AS STRING) AS c2",
      "confidence AS d1", "lift AS d2", "CAST(NULL AS DOUBLE) AS d3"]),
    ("q9_product_profit",
     ["'q9' AS tag", "nation AS c1", "CAST(NULL AS STRING) AS c2",
      "CAST(o_year AS DOUBLE) AS d1", "profit AS d2", "CAST(NULL AS DOUBLE) AS d3"]),
    # interval overlap join: per-supplier overlapping transit windows;
    # c1 carries the overlap length, d1-d3 the key and the pair ids
    ("j_interval_overlap",
     ["'overlap' AS tag", "CAST(overlap_days AS STRING) AS c1",
      "CAST(NULL AS STRING) AS c2", "CAST(k AS DOUBLE) AS d1",
      "CAST(lid AS DOUBLE) AS d2", "CAST(rid AS DOUBLE) AS d3"]),
    ("q11_important_stock",
     ["'q11' AS tag", "CAST(NULL AS STRING) AS c1", "CAST(NULL AS STRING) AS c2",
      "CAST(ps_partkey AS DOUBLE) AS d1", "value AS d2", "CAST(NULL AS DOUBLE) AS d3"]),
    ("q20_potential_promotion",
     ["'q20' AS tag", "s_name AS c1", "CAST(NULL AS STRING) AS c2",
      "CAST(s_suppkey AS DOUBLE) AS d1", "CAST(NULL AS DOUBLE) AS d2",
      "CAST(NULL AS DOUBLE) AS d3"]),
    ("j_salted_hub_revenue",
     ["'jsalt' AS tag", "priority AS c1", "CAST(NULL AS STRING) AS c2",
      "CAST(NULL AS DOUBLE) AS d1", "revenue AS d2", "CAST(NULL AS DOUBLE) AS d3"]),
    ("j_range_bucket_counts",
     ["'jrange' AS tag", "CAST(NULL AS STRING) AS c1", "CAST(NULL AS STRING) AS c2",
      "CAST(bucket AS DOUBLE) AS d1", "CAST(n AS DOUBLE) AS d2",
      "CAST(NULL AS DOUBLE) AS d3"]),
])
_publish("schema_by_name")

_compose("idx_equality", [
    ("idx_secondary",
     ["'secondary' AS tag", "CAST(c_custkey AS DOUBLE) AS id", "c_name AS s1",
      "c_mktsegment AS s2", "CAST(NULL AS DOUBLE) AS n"]),
    ("idx_label",
     ["'label' AS tag", "CAST(NULL AS DOUBLE) AS id", "label AS s1",
      "CAST(NULL AS STRING) AS s2", "CAST(n_elements AS DOUBLE) AS n"]),
])

# text-retrieval family: token search index + scored retrieval (BM25 and
# the BM25+cosine RRF hybrid) in one row
_compose("idx_search", [
    ("idx_search",
     ["'tok' AS tag", "CAST(element_id AS DOUBLE) AS id",
      "CAST(matched_tokens AS DOUBLE) AS v1", "CAST(NULL AS DOUBLE) AS v2",
      "CAST(NULL AS DOUBLE) AS v3", "CAST(NULL AS DOUBLE) AS v4"]),
    ("bm25_ranked",
     ["'bm25' AS tag", "CAST(doc_id AS DOUBLE) AS id", "score AS v1",
      "CAST(rank AS DOUBLE) AS v2", "CAST(dl AS DOUBLE) AS v3",
      "CAST(NULL AS DOUBLE) AS v4"]),
    ("sim_hybrid_rrf",
     ["'rrf' AS tag", "CAST(doc_id AS DOUBLE) AS id", "rrf_score AS v1",
      "CAST(rank AS DOUBLE) AS v2", "rank_kw AS v3", "rank_vec AS v4"]),
    # MMR diversified retrieval: v3 carries the query id so every
    # (query, step) selection is value-checked
    ("sim_mmr_topk",
     ["'mmr' AS tag", "CAST(neighbor_id AS DOUBLE) AS id", "cos_sim AS v1",
      "CAST(mmr_rank AS DOUBLE) AS v2", "CAST(query_id AS DOUBLE) AS v3",
      "CAST(NULL AS DOUBLE) AS v4"]),
])

_compose("idx_unique_shard", [
    ("idx_unique",
     ["'unique' AS tag", "c_custkey AS k", "CAST(NULL AS STRING) AS s",
      "CAST(n AS BIGINT) AS v"]),
    ("idx_shard",
     ["'shard' AS tag", "element_id AS k", "p_brand AS s", "CAST(range_value AS BIGINT) AS v"]),
])

_publish("q1_pricing_summary")
_publish("q3_shipping_priority")
_publish("m1_insert_upsert")

_compose("m2_m7_delete_truncate", [
    ("m2_delete",
     ["'delete' AS tag", "CAST(n_nationkey AS INT) AS k", "n_name AS name",
      "CAST(n_regionkey AS INT) AS extra"]),
    ("m7_truncate",
     ["'truncate' AS tag", "CAST(r_regionkey AS INT) AS k", "r_name AS name",
      "CAST(NULL AS INT) AS extra"]),
])

_publish("m3_append_eliminate")
_publish("m4_ttl_expiry")
_compose("g_pagerank", [
    ("g_pagerank",
     ["'global' AS tag", "id", "rank", "CAST(NULL AS DOUBLE) AS rank2"]),
    ("g_ppr",
     ["'personalized' AS tag", "id", "rank", "CAST(NULL AS DOUBLE) AS rank2"]),
    ("g_pagerank_weighted",
     ["'weighted' AS tag", "id", "rank", "CAST(NULL AS DOUBLE) AS rank2"]),
    # HITS: one raw run carries both vectors (rank = authority, rank2 = hub)
    ("g_hits",
     ["'hits' AS tag", "id", "auth AS rank", "hub AS rank2"]),
    # Katz: walk-counting centrality, no degree normalization (r9)
    ("g_katz",
     ["'katz' AS tag", "id", "katz AS rank", "CAST(NULL AS DOUBLE) AS rank2"]),
    # warm-start == cold fixpoint: the oracle is the cold 10-iter unroll
    ("g_pagerank_warm",
     ["'warm' AS tag", "id", "rank", "CAST(NULL AS DOUBLE) AS rank2"]),
])
_publish("sim_cosine_topk")

assert len(_QUERIES) == 50, f"roster must be exactly 50, got {len(_QUERIES)}"
# every raw query must be reachable from the roster — a raw registration
# not published or fused anywhere would silently lose driver coverage
_unused = set(_RAW_QUERIES) - _USED_RAW
assert not _unused, f"raw queries missing from the roster: {sorted(_unused)}"


def raw_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Pre-fusion registry (one entry per individual operator) — used by
    bench.py so per-operator timings aren't distorted by tagged-union
    fusion, and handy for debugging a single fused part."""
    return dict(_RAW_QUERIES)
