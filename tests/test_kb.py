"""End-to-end KB slice (SURVEY §7.2): ontology load -> terms + edges ->
vocabulary query through the filter DSL -> idempotent re-load.

Mirrors the reference flow: generic ontology loader
(/root/reference/src/ontology/index.js) feeding ``getVocabularyTerm``
(/root/reference/src/graphkb.js:484-498)."""

import pytest
from pyspark.sql import functions as F

from graphkb_spark.kb import (
    empty_kb,
    get_vocabulary_term,
    load_ontology_records,
    upsert_source,
)
from graphkb_spark.operators.resolve import RESOLVE_ERROR_COL

VOCAB = [
    # sourceId, name, description, deprecated, alias, subclassof, aliasof
    ("v1", "resistance", "no response to treatment", False, False, [], []),
    ("v2", "sensitivity", "responds to treatment", False, False, ["v1"], []),
    ("v3", "responsive", None, False, True, [], ["v2"]),
    # duplicate name, deprecated -> preference ranking must skip it
    ("v4", "resistance", "old copy", True, False, [], []),
    ("v5", "gain of function", "increased activity", False, False, [], []),
]


@pytest.fixture(scope="module")
def kb(spark):
    kb = empty_kb(spark)
    kb = upsert_source(
        spark, kb, {"name": "graphkb", "displayName": "GraphKB", "sort": 0}
    )
    records = spark.createDataFrame(
        VOCAB,
        "sourceId string, name string, description string, deprecated boolean,"
        " alias boolean, subclassof array<string>, aliasof array<string>",
    )
    return load_ontology_records(spark, kb, records, "graphkb", cls="Vocabulary")


def test_terms_loaded(kb):
    terms = kb.terms.collect()
    assert len(terms) == 5
    assert all(r.rid is not None and len(r.rid) == 32 for r in terms)
    assert all(r.cls == "Vocabulary" for r in terms)
    assert kb.counts["Vocabulary"]["create"] == 5


def test_edges_built(kb):
    edges = {(r.edge_class,) for r in kb.edges.collect()}
    assert edges == {("SubClassOf",), ("AliasOf",)}
    rid = {r.sourceId: r.rid for r in kb.terms.collect()}
    sub = kb.edges.filter(F.col("edge_class") == "SubClassOf").collect()
    assert len(sub) == 1 and sub[0].out_rid == rid["v2"] and sub[0].in_rid == rid["v1"]


def test_vocabulary_query_prefers_non_deprecated(spark, kb):
    names = spark.createDataFrame([("Resistance",), ("unknown term",)], ["name"])
    out = get_vocabulary_term(kb, names)
    got = {r.name: r for r in out.collect()}
    hit = got["Resistance"]
    assert hit[RESOLVE_ERROR_COL] is None
    assert hit.sourceId == "v1"  # not the deprecated v4
    assert got["unknown term"][RESOLVE_ERROR_COL] == "not found"
    # one `name` column: selecting it is not ambiguous
    assert sorted(r.name for r in out.select("name").collect()) == [
        "Resistance",
        "unknown term",
    ]


def test_dsl_query_over_kb(kb):
    out = kb.query(
        {
            "target": "terms",
            "filters": {
                "AND": [
                    {"deprecated": False},
                    {"source_rid": {"target": "sources", "filters": {"name": "graphkb"}}},
                ]
            },
            "returnProperties": ["sourceId", "name"],
            "orderBy": ["sourceId"],
        }
    )
    assert [r.sourceId for r in out.collect()] == ["v1", "v2", "v3", "v5"]


def test_reload_is_idempotent(spark, kb):
    records = spark.createDataFrame(
        VOCAB,
        "sourceId string, name string, description string, deprecated boolean,"
        " alias boolean, subclassof array<string>, aliasof array<string>",
    )
    kb2 = load_ontology_records(spark, kb, records, "graphkb", cls="Vocabulary")
    assert kb2.terms.count() == 5
    assert kb2.counts["Vocabulary"].get("noop", 0) == 5
    assert kb2.edges.count() == 2


def test_update_detected_on_changed_description(spark, kb):
    changed = [("v5", "gain of function", "CHANGED", False, False, [], [])]
    records = spark.createDataFrame(
        changed,
        "sourceId string, name string, description string, deprecated boolean,"
        " alias boolean, subclassof array<string>, aliasof array<string>",
    )
    kb2 = load_ontology_records(spark, kb, records, "graphkb", cls="Vocabulary")
    assert kb2.counts["Vocabulary"].get("update", 0) == 1
    row = kb2.terms.filter(F.col("sourceId") == "v5").collect()[0]
    assert row.description == "CHANGED"


def test_load_variants_typed_rows_and_infers(spark):
    """Batch addVariant (src/graphkb.js:631-660): typed position
    structs, reference/vocabulary resolution with per-row quarantine,
    Infers edges to the protein form (src/cosmic/resistance.js:102-107)."""
    from pyspark.sql import Row

    from graphkb_spark.kb import load_variants

    notes = spark.createDataFrame(
        [("r1", "KRAS:p.G12D"), ("r1", "KRAS:c.35G>A"),
         ("r2", "(BCR,ABL1):fusion(e.13,e.3)"),
         ("r3", "BAD:!!"), ("r4", "NOPE:p.G1D")],
        "grp string, notation string",
    )
    feats = spark.createDataFrame(
        [Row(name="KRAS", rid="f-kras"), Row(name="BCR", rid="f-bcr"),
         Row(name="ABL1", rid="f-abl1")]
    )
    vocab = spark.createDataFrame(
        [Row(name=n, rid=f"v-{n}") for n in ("missense", "substitution", "fusion")]
    )
    out = load_variants(notes, "t", features=feats, vocabulary=vocab, group_col="grp")
    v = {r["displayName"]: r for r in out["variants"].collect()}
    assert v["KRAS:p.G12D"]["break1_start"].asDict() == {
        "cls": "ProteinPosition", "pos": 12, "ref_aa": "G"}
    assert v["KRAS:p.G12D"]["type_rid"] == "v-missense"
    assert v["(BCR,ABL1):fusion(e.13,e.3)"]["reference2_rid"] == "f-abl1"
    errs = {r["notation"]: r["_error"] for r in out["errors"].collect()}
    assert "unparseable" in errs["BAD:!!"]
    assert errs["NOPE:p.G1D"] == "reference1 not found: NOPE"
    edges = out["edges"].collect()
    assert len(edges) == 1 and edges[0]["edge_class"] == "Infers"
    assert edges[0]["in_rid"] == v["KRAS:p.G12D"]["rid"]
    assert edges[0]["out_rid"] == v["KRAS:c.35G>A"]["rid"]


def test_source_registry_seed(spark):
    """Bundled source registry (src/sources.js) seeds in one batch and
    carries the sort ranks the preference comparator uses."""
    from graphkb_spark.kb import empty_kb
    from graphkb_spark.sources.registry import SOURCE_REGISTRY, seed_sources

    kb = seed_sources(spark, empty_kb(spark))
    rows = {r.name: r for r in kb.sources.collect()}
    assert len(rows) == len(SOURCE_REGISTRY) == 39
    assert rows["civic"].sort == 4 and rows["civic"].displayName == "CIViC"
    assert rows["oncotree"].sort == 0
    assert rows["chembl"].sort == 1
    # idempotent: re-seeding changes nothing
    kb = seed_sources(spark, kb)
    assert kb.sources.count() == 39
