"""Query engine: compiles the Query IR to DataFrame plans.

Mirror of the reference's dispatch chain — `TikvStore.query`
(TikvStore.java:212-219) → `TikvTable.query` limit-0 short-circuit
(TikvTable.java:151-157) → `queryBy` routing on query class
(TikvTable.java:159-189) → key-range scan + client-side residual filter
(TikvStdSessions.java:435-469, 622-658).  Here every branch emits a
declarative DataFrame plan; Catalyst handles pushdown/pruning natively,
so the "residual filter" machinery disappears.

Paging: the reference resumes scans from a raw key position
(ColumnIterator.position(), TikvStdSessions.java:687-689; consumed at
TikvTable.java:192-196) and base64-encodes shard positions
(TikvTable.java:290-298).  We implement the same contract as keyset
pagination: cursor = base64(JSON of last-seen key values), resume =
`WHERE key > cursor ORDER BY key LIMIT n` — never OFFSET, which rescans
at scale.
"""

from __future__ import annotations

import base64
import json
from typing import Any, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hugegraph_on_tikv_spark.plans.ir import (
    Aggregate,
    AggregateFunc,
    Condition,
    ConditionQuery,
    IdPrefixQuery,
    IdQuery,
    IdRangeQuery,
    Op,
    Query,
    Shard,
)


class NotSupportedError(Exception):
    """Analog of the reference's NotSupportException (TikvTable.java:137-139,
    TikvTable.java:246-248)."""


# ---------------------------------------------------------------------------
# paging cursors
# ---------------------------------------------------------------------------

def encode_page(key_values: Sequence[Any]) -> str:
    """Serialize a keyset cursor.  Values are type-tagged so non-JSON-native
    key types (timestamps, dates, decimals) round-trip as typed values, not
    as strings that would then be compared against typed key columns on
    resume (string '2024-01-02' > TIMESTAMP col is an implicit-cast trap)."""
    import datetime as _dt
    import decimal as _dec

    tagged = []
    for v in key_values:
        if isinstance(v, _dt.datetime):
            tagged.append(["ts", v.isoformat(sep=" ")])
        elif isinstance(v, _dt.date):
            tagged.append(["date", v.isoformat()])
        elif isinstance(v, _dec.Decimal):
            tagged.append(["dec", str(v)])
        elif v is None or isinstance(v, (bool, int, float, str)):
            tagged.append(["", v])
        else:
            raise NotSupportedError(f"unsupported paging key type: {type(v).__name__}")
    return base64.b64encode(json.dumps(tagged).encode()).decode()


def decode_page(page: str) -> list[Any]:
    import datetime as _dt
    import decimal as _dec

    out = []
    for tag, v in json.loads(base64.b64decode(page.encode()).decode()):
        if tag == "ts":
            out.append(_dt.datetime.fromisoformat(v))
        elif tag == "date":
            out.append(_dt.date.fromisoformat(v))
        elif tag == "dec":
            out.append(_dec.Decimal(v))
        else:
            out.append(v)
    return out


def _after_cursor(key_cols: Sequence[str], cursor: Sequence[Any]):
    """Lexicographic (k1,k2,...) > (c1,c2,...) as a Catalyst predicate."""
    pred = F.lit(False)
    for i in range(len(key_cols) - 1, -1, -1):
        eq_prefix = F.lit(True)
        for j in range(i):
            eq_prefix = eq_prefix & (F.col(key_cols[j]) == F.lit(cursor[j]))
        pred = (eq_prefix & (F.col(key_cols[i]) > F.lit(cursor[i]))) | pred
    return pred


class QueryEngine:
    """Executes Query-IR against one logical table (a DataFrame).

    `key` is the ordered key-column list — the analog of the reference's
    TiKV key (which gave it free byte-order iteration,
    TikvFeatures.java:66-69).  Spark has no free order, so paging and
    ordered scans sort on these columns explicitly.
    """

    def __init__(self, df: DataFrame, key: str | Sequence[str] = "id"):
        self.df = df
        self.key: list[str] = [key] if isinstance(key, str) else list(key)

    # -- front door (S11 dispatcher, TikvTable.java:159-189) ---------------
    def query(self, q: Query) -> DataFrame:
        # limit==0 short-circuit (F5, TikvTable.java:151-157)
        if q.limit == 0:
            return self.df.limit(0)
        if isinstance(q, IdQuery):
            out = self._by_ids(q)
        elif isinstance(q, IdPrefixQuery):
            out = self._by_prefix(q)
        elif isinstance(q, IdRangeQuery):
            out = self._by_range(q)
        elif isinstance(q, ConditionQuery):
            out = self._by_condition(q)
        else:
            out = self._scan_all(q)
        if q.limit is not None and not isinstance(q, IdQuery):
            out = out.limit(q.limit)
        return out

    def query_number(self, q: Query) -> int:
        """COUNT-only aggregate path (A1, TikvTable.java:134-148): rejects any
        other aggregate, requires no limit."""
        if q.aggregate is None or q.aggregate.func is not AggregateFunc.COUNT:
            raise NotSupportedError(f"only COUNT is supported, got {q.aggregate}")
        if q.limit is not None:
            raise NotSupportedError("aggregate query must not have limit")
        agg = q.aggregate
        q.aggregate = None
        try:
            return self.query(q).count()
        finally:
            q.aggregate = agg

    def aggregate(self, q: Query, agg: Aggregate) -> DataFrame:
        """Extension beyond the reference (supportsAggregateProperty=false,
        TikvFeatures.java:118-121): MIN/MAX/SUM/AVG pushed into Spark's
        native partial-aggregation."""
        base = self.query(q)
        col = agg.column or self.key[0]
        fn = {
            AggregateFunc.COUNT: F.count,
            AggregateFunc.MIN: F.min,
            AggregateFunc.MAX: F.max,
            AggregateFunc.SUM: F.sum,
            AggregateFunc.AVG: F.avg,
        }[agg.func]
        return base.agg(fn(col).alias(agg.func.value))

    # -- branches ----------------------------------------------------------
    def _scan_all(self, q: Query) -> DataFrame:
        """S1: full scan; with paging, a deterministic key-ordered resumable
        scan (TikvTable.java:191-200)."""
        out = self.df
        if q.page is not None:
            if q.page != "":
                cursor = decode_page(q.page)
                out = out.filter(_after_cursor(self.key, cursor))
            out = out.orderBy(*self.key)
        return out

    def _by_ids(self, q: IdQuery) -> DataFrame:
        """S2 point get / S5 multi-id lookup preserving input id order
        (TikvFeatures.java:61-64 → sort by position in the input list)."""
        kc = self.key[0]
        ids = list(q.ids)
        if not ids:
            return self.df.limit(0)
        if len(ids) == 1:
            return self.df.filter(F.col(kc) == F.lit(ids[0]))
        out = self.df.filter(F.col(kc).isin(ids))
        pos = F.array_position(F.array(*[F.lit(i) for i in ids]), F.col(kc))
        # at most len(ids) rows: one partition sorts them locally, with no
        # range-sampling job a global orderBy would plan
        out = out.repartition(1).sortWithinPartitions(pos)
        if q.limit is not None:
            out = out.limit(q.limit)
        return out

    def _by_prefix(self, q: IdPrefixQuery) -> DataFrame:
        """S6: prefix scan with optional (in|ex)clusive resume point
        (TikvTable.java:216-223).  String keys only — numeric 'prefixes'
        don't exist once keys are typed values instead of bytes."""
        kc = F.col(self.key[0])
        out = self.df.filter(kc.startswith(str(q.prefix)))
        if q.start is not None:
            out = out.filter(kc >= q.start if q.inclusive_start else kc > q.start)
        return out

    def _by_range(self, q: IdRangeQuery) -> DataFrame:
        """S7: range scan with per-bound inclusivity flags
        (TikvTable.java:225-236)."""
        kc = F.col(self.key[0])
        out = self.df
        if q.start is not None:
            out = out.filter(kc >= q.start if q.inclusive_start else kc > q.start)
        if q.end is not None:
            out = out.filter(kc <= q.end if q.inclusive_end else kc < q.end)
        return out

    def _by_condition(self, q: ConditionQuery) -> DataFrame:
        """S9 + F4: condition scan.  Shard conditions route to the shard
        range (TikvTable.java:238-269); everything else compiles to filters.
        The reference's exclusive-min via byte-successor (increaseOne,
        TikvTables.java:267) is re-expressed as a value-level `>`."""
        out = self.df
        if q.shard is not None:
            out = self._shard_slice(out, q.shard, q.page)
        for cond in q.conditions:
            out = out.filter(self._condition_expr(cond))
        if q.page is not None and q.shard is None:
            if q.page != "":
                out = out.filter(_after_cursor(self.key, decode_page(q.page)))
            out = out.orderBy(*self.key)
        return out

    def _shard_slice(self, df: DataFrame, shard: Shard, page: str | None) -> DataFrame:
        """S8: scan one shard's key range, optionally resuming from a page
        position, which must be >= the shard start (TikvTable.java:250-269)."""
        kc = F.col(self.key[0])
        out = df
        start = shard.start
        if page:
            cursor = decode_page(page)[0]
            if start is not None and cursor < start:
                raise ValueError(f"page position {cursor!r} < shard start {start!r}")
            out = out.filter(kc > cursor)
        elif start is not None:
            out = out.filter(kc >= start)
        if shard.end is not None:
            out = out.filter(kc < shard.end)
        return out.orderBy(*self.key)

    def _condition_expr(self, cond: Condition):
        c = F.col(cond.column)
        if cond.op is Op.EQ:
            return c == F.lit(cond.value)
        if cond.op is Op.NEQ:
            return c != F.lit(cond.value)
        if cond.op is Op.GT:
            return c > F.lit(cond.value)
        if cond.op is Op.GTE:
            return c >= F.lit(cond.value)
        if cond.op is Op.LT:
            return c < F.lit(cond.value)
        if cond.op is Op.LTE:
            return c <= F.lit(cond.value)
        if cond.op is Op.IN:
            return c.isin(list(cond.value))
        if cond.op is Op.PREFIX:
            return c.startswith(str(cond.value))
        if cond.op is Op.CONTAINS:
            return F.array_contains(c, cond.value)
        if cond.op is Op.CONTAINS_KEY:
            return F.map_contains_key(c, cond.value)
        if cond.op is Op.TEXT_CONTAINS:
            return F.array_contains(
                F.split(F.lower(c), "[^a-z0-9]+"), str(cond.value).lower()
            )
        raise NotSupportedError(f"unsupported relation {cond.op}")

    # -- parallel-scan splits (I1, TikvTable.java:284-336) -----------------
    def splits(self, count: int, exact: bool = True) -> list[Shard]:
        """Shard boundaries for parallel scans.  The reference asks TiKV for
        region boundaries (TikvStdSessions.java:294-355); we compute
        quantiles of the leading key column — same contract (cover the
        keyspace, ~equal weight), no collect of data rows.

        Default is EXACT quantiles (percentile_disc): one distributed
        aggregate returning `count-1` boundary values, fully deterministic
        and reproducible by any ANSI engine — the property that makes shard
        metadata verifiable.  The aggregate's state is bounded by the key's
        distinct-value count on one reducer; for extreme-cardinality keys
        pass exact=False to use approxQuantile (bounded-memory sketch, same
        coverage contract, boundaries engine-specific)."""
        kc = self.key[0]
        if count <= 1:
            return [Shard(None, None)]
        probs = [i / count for i in range(1, count)]
        if exact:
            row = self.df.agg(*[
                F.expr(f"percentile_disc({p}) WITHIN GROUP (ORDER BY {kc})").alias(f"q{i}")
                for i, p in enumerate(probs)
            ]).first()
            bounds = [row[f"q{i}"] for i in range(len(probs))]
        else:
            bounds = self.df.approxQuantile(kc, probs, 0.01)
        shards: list[Shard] = []
        prev: Any = None
        for b in bounds:
            shards.append(Shard(prev, b))
            prev = b
        shards.append(Shard(prev, None))
        return shards

    def page_after(self, rows: Sequence[Any]) -> str | None:
        """Next-page token from the last returned row (Row objects)."""
        if not rows:
            return None
        last = rows[-1]
        return encode_page([last[k] for k in self.key])
