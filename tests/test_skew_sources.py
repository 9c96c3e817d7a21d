"""Salted-join skew utility, the exchange-width policy, + the
source-reader paths not covered elsewhere (batched REST prefetch,
XLSX), + hypothesis property tests for the two hand-written grammars
(DNF, HGVS)."""

import pytest
from pyspark.sql import functions as F

from graphkb_spark.operators.skew import exchange_width, salted_join
from graphkb_spark.sources.readers import fetch_rest_batched


def test_salted_join_matches_plain_join(spark):
    fact = spark.createDataFrame(
        [(i, "hot" if i % 10 else "cold") for i in range(1000)], ["fid", "key"]
    )
    dim = spark.createDataFrame(
        [("hot", "H"), ("cold", "C"), ("unused", "U")], ["key", "val"]
    )
    plain = fact.join(dim, "key").select("fid", "val")
    salted = salted_join(fact, dim, ["key"], salt=4).select("fid", "val")
    assert sorted((r.fid, r.val) for r in salted.collect()) == sorted(
        (r.fid, r.val) for r in plain.collect()
    )


def test_salted_join_left_keeps_unmatched(spark):
    fact = spark.createDataFrame([(1, "a"), (2, "zz")], ["fid", "key"])
    dim = spark.createDataFrame([("a", 10)], ["key", "v"])
    out = salted_join(fact, dim, ["key"], salt=3, how="left").collect()
    got = {r.fid: r.v for r in out}
    assert got == {1: 10, 2: None}


def test_exchange_width_is_max_of_cores_and_shuffle_partitions(spark):
    """The engine's one width source follows shuffle.partitions upward
    and never drops below the core count."""
    df = spark.range(1)
    dp = spark.sparkContext.defaultParallelism
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, str(2 * dp))
        assert exchange_width(df) == 2 * dp
        spark.conf.set(key, "1")
        assert exchange_width(df) == dp
    finally:
        spark.conf.set(key, prev)


def test_fetch_rest_batched_chunks_and_dedups(spark):
    calls = []

    def fake_fetch(ids):
        calls.append(list(ids))
        return [{"id": i, "payload": f"rec-{i}"} for i in ids]

    ids = spark.createDataFrame([(i % 7,) for i in range(100)], ["gene_id"])
    out = fetch_rest_batched(spark, ids, "gene_id", fake_fetch, batch_size=3)
    rows = {r.id: r.payload for r in out.collect()}
    assert len(rows) == 7  # deduped before fetching (C1 cache semantics)
    assert rows[0] == "rec-0"
    assert all(len(c) <= 3 for c in calls)
    assert sum(len(c) for c in calls) == 7  # each distinct id fetched once


def test_read_xlsx(spark, tmp_path):
    pd = pytest.importorskip("pandas")
    try:
        import openpyxl  # noqa: F401
    except ImportError:
        pytest.skip("openpyxl not installed")
    p = str(tmp_path / "t.xlsx")
    pd.DataFrame({"gene": ["KRAS", "TP53"], "pos": [12, 273]}).to_excel(p, index=False)
    from graphkb_spark.sources.readers import read_xlsx

    out = read_xlsx(spark, p)
    assert sorted((r.gene, r.pos) for r in out.collect()) == [("KRAS", 12), ("TP53", 273)]


# ---------------------------------------------------------------------------
# property-based tests (hypothesis) for the pure grammars
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

from graphkb_spark.functions.hgvs import parse_variant
from graphkb_spark.operators.expand import dnf_expand

ids = st.sampled_from(["a", "b", "c", "d", "e"])


@st.composite
def bool_exprs(draw, depth=0):
    if depth >= 3 or draw(st.booleans()):
        return draw(ids)
    op = draw(st.sampled_from(["AND", "OR"]))
    lhs = draw(bool_exprs(depth=depth + 1))
    rhs = draw(bool_exprs(depth=depth + 1))
    if draw(st.booleans()):
        return f"({lhs}) {op} ({rhs})"
    return f"{lhs} {op} {rhs}"


def eval_expr(expr: str, true_set: set[str]) -> bool:
    py = expr.replace("AND", "and").replace("OR", "or")
    for v in ["a", "b", "c", "d", "e"]:
        py = __import__("re").sub(rf"\b{v}\b", str(v in true_set), py)
    return eval(py)  # noqa: S307 — test-only, inputs generated here


@given(bool_exprs(), st.sets(ids, max_size=5))
@settings(max_examples=200, deadline=None)
def test_dnf_equivalent_to_boolean_eval(expr, true_set):
    """DNF semantics: the expression is true iff some conjunct-set is a
    subset of the true variables."""
    dnf = dnf_expand(expr)
    via_dnf = any(set(conj) <= true_set for conj in dnf)
    assert via_dnf == eval_expr(expr, true_set)


@given(
    st.sampled_from("ACDEFGHIKLMNPQRSTVWY"),
    st.integers(min_value=1, max_value=99999),
    st.sampled_from("ACDEFGHIKLMNPQRSTVWY*"),
)
@settings(max_examples=100, deadline=None)
def test_hgvs_protein_sub_roundtrip(ref, pos, alt):
    out = parse_variant(f"p.{ref}{pos}{alt}")
    assert out["error"] is None
    assert out["prefix"] == "p"
    assert out["break1_start"] == pos
    assert out["ref_aa"] == ref and out["alt_aa"] == alt


@given(st.text(max_size=30))
@settings(max_examples=200, deadline=None)
def test_hgvs_never_raises(s):
    out = parse_variant(s)
    assert (out["error"] is None) or isinstance(out["error"], str)


def test_pagination_protocols(spark):
    """S9-S13: the four pagination contracts drain whole result sets."""
    from graphkb_spark.sources.readers import (
        fetch_paginated,
        paginate_cursor,
        paginate_next_link,
        paginate_offset_total,
        paginate_skip_limit,
    )

    data = [{"id": i} for i in range(25)]

    def by_skip(skip, limit):
        return data[skip : skip + limit]

    assert list(paginate_skip_limit(by_skip, limit=10)) == data

    def by_cursor(cursor):
        start = cursor or 0
        page = data[start : start + 10]
        nxt = start + 10 if start + 10 < len(data) else None
        return page, nxt

    assert list(paginate_cursor(by_cursor)) == data

    def by_link(url):
        start = int(url.rsplit("=", 1)[1])
        page = data[start : start + 10]
        nxt = f"x?start={start + 10}" if start + 10 < len(data) else None
        return page, nxt

    assert list(paginate_next_link(by_link, "x?start=0")) == data

    def by_offset(start, rows):
        return data[start : start + rows], len(data)

    assert list(paginate_offset_total(by_offset, page_size=10)) == data

    df = fetch_paginated(spark, paginate_skip_limit(by_skip, limit=7))
    assert df.count() == 25 and df.columns == ["id"]
