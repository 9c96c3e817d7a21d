"""GraphKB ``/query`` filter-DSL compiler -> Catalyst Column expressions.

The reference client composes a recursive JSON filter language and ships
it to the GraphKB server (reference: src/graphkb.js:114-123
``convertRecordToQueryFilters``, :341-372 ``getRecords``; nested OR at
src/graphkb.js:429-434; link subqueries like
``{source: {target: 'Source', filters: {name: 'oncokb'}}}`` at
src/graphkb.js:492; IN-lists at src/civic/statement.js:189-198; null
filters at src/entrez/util.js:176-182).

Here that DSL is first-class: ``run_query(tables, query)`` compiles the
JSON into a DataFrame plan. Scalar predicates become Column expressions
(so Catalyst pushes them into the parquet scan); link subqueries become
joins against the linked table's key set — small dimension key-sets are
eligible for broadcast, so at 100 TB the fact-table scan is never
shuffled just to evaluate a subquery.

Grammar (one dict per node):

- ``{"AND": [node, ...]}`` / ``{"OR": [node, ...]}`` / ``{"NOT": node}``
- ``{prop: scalar}``            -> equality
- ``{prop: [v, ...]}``          -> IN list
- ``{prop: None}``              -> IS NULL
- ``{prop: {"operator": OP, "value": v}}`` -> comparison; OP one of
  ``= != > >= < <= CONTAINSTEXT LIKE IN``
- ``{prop: {"target": tbl, "filters": node, "key": pk, "on": fk}}``
  -> link subquery: keep rows whose ``fk`` (default ``prop``) appears in
  ``SELECT pk FROM tbl WHERE node``
- multiple keys in one dict are an implicit AND (mirrors
  ``convertRecordToQueryFilters``).

Query envelope: ``{"target": tbl, "filters": node, "neighbors": n,
"returnProperties": [...], "orderBy": [...], "orderByDirection":
"ASC|DESC", "skip": n, "limit": n}`` (reference src/graphkb.js:341-372).
``skip`` requires a total order — we require ``orderBy`` with it so
pagination is deterministic under distributed execution.

``neighbors: n`` (the reference's graph-neighborhood serialization
depth) is re-expressed set-wise: the result is the filtered records
PLUS every record of the target table within ``n`` undirected hops of
them over the ``edges`` table, each annotated with its hop distance in
``_hop`` (0 = direct match). Requires an ``edges`` table and a
registered key for the target.
"""

from __future__ import annotations

from typing import Any, Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BOOL_KEYS = ("AND", "OR", "NOT")
_OPS = {"=", "!=", ">", ">=", "<", "<=", "CONTAINSTEXT", "LIKE", "IN"}


class FilterDSLError(ValueError):
    pass


def _is_subquery(value: Any) -> bool:
    return isinstance(value, Mapping) and "target" in value


def _is_operator_node(value: Any) -> bool:
    return isinstance(value, Mapping) and "operator" in value


class _Compiler:
    """Compiles a filter tree against ``df``.

    Link subqueries cannot be a pure Column, so each one is rewritten to
    a boolean marker column produced by a left join against the linked
    table's (distinct) matching key set. The marker composes inside any
    AND/OR/NOT tree, and when the subquery is a top-level conjunct
    Catalyst still prunes with it after the (broadcastable) join.
    """

    def __init__(self, df: DataFrame, tables: Mapping[str, DataFrame], keys: Mapping[str, str]):
        self.df = df
        self.tables = dict(tables or {})
        self.keys = dict(keys or {})
        self._n_sub = 0

    def compile(self, node: Any) -> Column:
        if node is None:
            return F.lit(True)
        if not isinstance(node, Mapping):
            raise FilterDSLError(f"filter node must be a mapping, got {type(node)}")
        parts: list[Column] = []
        for key, value in node.items():
            if key == "AND":
                parts.append(self._combine(value, "and"))
            elif key == "OR":
                parts.append(self._combine(value, "or"))
            elif key == "NOT":
                parts.append(~self.compile(value))
            else:
                parts.append(self._leaf(key, value))
        if not parts:
            return F.lit(True)
        out = parts[0]
        for p in parts[1:]:
            out = out & p
        return out

    def _combine(self, children: Any, how: str) -> Column:
        if not isinstance(children, (list, tuple)) or not children:
            raise FilterDSLError(f"{how.upper()} expects a non-empty list")
        cols = [self.compile(c) for c in children]
        out = cols[0]
        for c in cols[1:]:
            out = (out & c) if how == "and" else (out | c)
        return out

    def _leaf(self, prop: str, value: Any) -> Column:
        col = F.col(prop)
        if value is None:
            return col.isNull()
        if isinstance(value, (list, tuple)):
            return col.isin(list(value))
        if _is_subquery(value):
            return self._subquery(prop, value)
        if _is_operator_node(value):
            return self._operator(col, value["operator"], value.get("value"))
        return col == F.lit(value)

    def _operator(self, col: Column, op: str, value: Any) -> Column:
        op = str(op).upper()
        if op not in _OPS:
            raise FilterDSLError(f"unsupported operator {op!r}")
        if op == "=":
            return col == F.lit(value)
        if op == "!=":
            return col != F.lit(value)
        if op == ">":
            return col > F.lit(value)
        if op == ">=":
            return col >= F.lit(value)
        if op == "<":
            return col < F.lit(value)
        if op == "<=":
            return col <= F.lit(value)
        if op == "CONTAINSTEXT":
            # OrientDB CONTAINSTEXT is a case-insensitive substring match
            return F.lower(col).contains(str(value).lower())
        if op == "LIKE":
            return col.like(str(value))
        if op == "IN":
            return col.isin(list(value))
        raise AssertionError(op)

    def _subquery(self, prop: str, spec: Mapping[str, Any]) -> Column:
        target = spec["target"]
        if target not in self.tables:
            raise FilterDSLError(f"unknown subquery target {target!r}")
        linked = self.tables[target]
        pk = spec.get("key") or self.keys.get(target)
        if pk is None:
            raise FilterDSLError(f"no key registered for subquery target {target!r}")
        fk = spec.get("on", prop)
        inner = _Compiler(linked, self.tables, self.keys)
        predicate = inner.compile(spec.get("filters"))
        # filter inner.df, not linked: a nested link subquery joins its
        # marker column onto inner.df, and the predicate refers to it
        key_set = (
            inner.df.filter(predicate)
            .select(F.col(pk).alias(f"__sq_key_{self._n_sub}"))
            .distinct()
        )
        marker = f"__sq_{self._n_sub}"
        self._n_sub += 1
        key_set = key_set.withColumn(marker, F.lit(True))
        # dimension key-sets are small -> AQE/threshold turns this into a
        # broadcast hash join; no shuffle of the fact side.
        self.df = self.df.join(
            key_set, on=F.col(fk) == key_set[key_set.columns[0]], how="left"
        ).drop(key_set.columns[0])
        return F.col(marker).isNotNull()


def compile_filters(
    df: DataFrame,
    filters: Any,
    tables: Mapping[str, DataFrame] | None = None,
    keys: Mapping[str, str] | None = None,
) -> DataFrame:
    """Apply a filter-DSL tree to ``df``; returns the filtered DataFrame."""
    comp = _Compiler(df, tables or {}, keys or {})
    predicate = comp.compile(filters)
    out = comp.df.filter(predicate)
    drop = [c for c in out.columns if c.startswith("__sq_")]
    return out.drop(*drop) if drop else out


def run_query(
    tables: Mapping[str, DataFrame],
    query: Mapping[str, Any],
    keys: Mapping[str, str] | None = None,
) -> DataFrame:
    """Execute a full ``/query`` envelope (reference src/graphkb.js:341-372)."""
    target = query["target"]
    if target not in tables:
        raise FilterDSLError(f"unknown target {target!r}")
    df = compile_filters(tables[target], query.get("filters"), tables, keys)

    neighbors = int(query.get("neighbors", 0) or 0)
    if neighbors:
        if "edges" not in tables:
            raise FilterDSLError("neighbors expansion requires an 'edges' table")
        pk = (keys or {}).get(target)
        if pk is None:
            raise FilterDSLError(
                f"neighbors expansion requires a registered key for {target!r}"
            )
        from graphkb_spark.operators.graph import expand_neighbors

        closure = expand_neighbors(
            df, tables["edges"], pk, n=neighbors, directed=False
        ).withColumnsRenamed({"rid": pk, "hop": "_hop"})
        # re-attach full records for the closure; the frontier BFS is
        # checkpointed per hop inside expand_neighbors, and this join is
        # broadcastable whenever the neighborhood is small
        df = tables[target].join(closure, pk)

    order_by = query.get("orderBy")
    direction = str(query.get("orderByDirection", "ASC")).upper()
    skip = int(query.get("skip", 0) or 0)
    if order_by:
        if isinstance(order_by, str):
            order_by = [order_by]
        cols = [F.col(c).desc() if direction == "DESC" else F.col(c).asc() for c in order_by]
        df = df.orderBy(*cols)
    elif skip:
        raise FilterDSLError("skip-pagination requires orderBy for a deterministic order")

    props = query.get("returnProperties")
    if props:
        df = df.select(*props)
    if skip:
        # offset() keeps pagination inside the plan (no driver collect)
        df = df.offset(skip)
    limit = query.get("limit")
    if limit is not None:
        df = df.limit(int(limit))
    return df
