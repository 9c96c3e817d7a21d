"""Filter-DSL compiler semantics (the reference's /query contract,
src/graphkb.js:114-123, :341-372)."""

import pytest

from graphkb_spark.plans import compile_filters, run_query
from graphkb_spark.plans.filter_dsl import FilterDSLError


@pytest.fixture()
def tables(spark):
    people = spark.createDataFrame(
        [
            (1, "alice", 30, "US", None),
            (2, "bob", 25, "CA", "x"),
            (3, "carol", 35, "US", None),
            (4, "dave", 40, "DE", "y"),
        ],
        ["id", "name", "age", "country", "note"],
    )
    countries = spark.createDataFrame(
        [("US", "americas"), ("CA", "americas"), ("DE", "europe")],
        ["code", "continent"],
    )
    return {"people": people, "countries": countries}


def ids(df):
    return sorted(r.id for r in df.select("id").collect())


def test_equality_and_implicit_and(tables):
    out = compile_filters(tables["people"], {"country": "US", "age": 30})
    assert ids(out) == [1]


def test_nested_and_or_not(tables):
    f = {"AND": [{"OR": [{"country": "US"}, {"country": "CA"}]},
                 {"NOT": {"name": "bob"}}]}
    assert ids(compile_filters(tables["people"], f)) == [1, 3]


def test_in_list_and_null(tables):
    assert ids(compile_filters(tables["people"], {"name": ["alice", "dave"]})) == [1, 4]
    assert ids(compile_filters(tables["people"], {"note": None})) == [1, 3]


def test_operators(tables):
    assert ids(compile_filters(tables["people"], {"age": {"operator": ">=", "value": 35}})) == [3, 4]
    assert ids(compile_filters(tables["people"], {"name": {"operator": "CONTAINSTEXT", "value": "ARO"}})) == [3]
    assert ids(compile_filters(tables["people"], {"name": {"operator": "LIKE", "value": "d%"}})) == [4]


def test_link_subquery(tables):
    f = {"country": {"target": "countries", "key": "code",
                     "filters": {"continent": "americas"}, "on": "country"}}
    out = compile_filters(tables["people"], f, tables, {"countries": "code"})
    assert ids(out) == [1, 2, 3]
    # NOT over a subquery
    f2 = {"NOT": f}
    assert ids(compile_filters(tables["people"], f2, tables, {"countries": "code"})) == [4]


def test_nested_link_subquery(spark, tables):
    """A link subquery inside another subquery's filters: the inner
    predicate reads the marker column joined onto the linked table."""
    continents = spark.createDataFrame(
        [("americas", "west"), ("europe", "east")], ["cname", "side"]
    )
    tbls = {**tables, "continents": continents}
    keys = {"countries": "code", "continents": "cname"}

    def by_side(side):
        return {"target": "continents", "filters": {"side": side}}

    f = {"country": {"target": "countries",
                     "filters": {"continent": by_side("east")}}}
    assert ids(compile_filters(tables["people"], f, tbls, keys)) == [4]
    f2 = {"country": {"target": "countries", "filters": {"AND": [
        {"code": {"operator": "!=", "value": "CA"}},
        {"continent": by_side("west")},
    ]}}}
    assert ids(compile_filters(tables["people"], f2, tbls, keys)) == [1, 3]
    assert ids(compile_filters(tables["people"], {"NOT": f2}, tbls, keys)) == [2, 4]


def test_run_query_envelope(tables):
    q = {
        "target": "people",
        "filters": {"age": {"operator": ">", "value": 20}},
        "returnProperties": ["id", "name"],
        "orderBy": ["age"],
        "orderByDirection": "DESC",
        "skip": 1,
        "limit": 2,
    }
    rows = run_query(tables, q).collect()
    assert [r.id for r in rows] == [3, 1]
    assert rows[0].asDict().keys() == {"id", "name"}


def test_skip_without_order_rejected(tables):
    with pytest.raises(FilterDSLError):
        run_query(tables, {"target": "people", "skip": 5})


def test_unknown_operator_rejected(tables):
    with pytest.raises(FilterDSLError):
        compile_filters(tables["people"], {"age": {"operator": "BETWEEN", "value": 1}})


def test_neighbors_envelope(spark, tables):
    """neighbors: n expands the filtered set over the edges table with
    hop distances (reference /query body src/graphkb.js:341-372)."""
    edges = spark.createDataFrame(
        [("p1", "p2", "KnowsOf", None), ("p2", "p3", "KnowsOf", None),
         ("p3", "p4", "KnowsOf", None)],
        "out_rid string, in_rid string, edge_class string, source_rid string",
    )
    people = spark.createDataFrame(
        [("p1", "alice"), ("p2", "bob"), ("p3", "carol"), ("p4", "dave")],
        ["rid", "name"],
    )
    t = {"people": people, "edges": edges}
    out = run_query(
        t,
        {"target": "people", "filters": {"name": "alice"}, "neighbors": 2,
         "returnProperties": ["rid", "name", "_hop"]},
        keys={"people": "rid"},
    ).collect()
    hops = {r.rid: r._hop for r in out}
    assert hops == {"p1": 0, "p2": 1, "p3": 2}


def test_neighbors_requires_edges_and_key(spark, tables):
    with pytest.raises(FilterDSLError):
        run_query(tables, {"target": "people", "neighbors": 1})
