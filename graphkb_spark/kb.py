"""The knowledge base as DataFrame tables + the generic ontology loader.

Reference architecture: every loader POSTs records one-by-one to the
GraphKB REST API (OrientDB property graph). Here the KB is a set of
DataFrame-backed tables (SURVEY §1.5) and a load is ONE batch pipeline:

    read -> validate -> normalize -> hash rids -> MERGE terms + edges

This replaces the reference's sequential create-then-link (records
before the edges that reference their server-generated @rids —
SURVEY §7 "what's hard"): rids are *deterministic content hashes*
(mirroring ``hashRecordToId`` /root/reference/src/util.js:186-193), so
vertices and edges are computed independently in the same batch with no
ordering dependency and no driver round-trips.

The generic ontology JSON loader mirrors
/root/reference/src/ontology/index.js:108-243 (records keyed by
sourceId; scalar term properties; link arrays per edge class; a
``source`` registry row) and the vocabulary read path mirrors
``getVocabularyTerm`` /root/reference/src/graphkb.js:484-498.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from graphkb_spark.core.materialize import materialize

from graphkb_spark.core.schemas import (
    EDGE_SCHEMA,
    ONTOLOGY_TERM_SCHEMA,
    SOURCE_SCHEMA,
    VARIANT_ROW_SCHEMA,
    canonical_edge_class,
)
from graphkb_spark.functions.hashing import stable_hash_id, stable_hash_named
from graphkb_spark.operators.merge import merge_upsert
from graphkb_spark.operators.resolve import preference_order, resolve_unique
from graphkb_spark.plans import run_query

# term natural key: (class, source, sourceId, sourceIdVersion, name) —
# the same fields the reference's addRecord fetchConditions use for
# ontology classes (e.g. /root/reference/src/ontology/index.js:153-176)
TERM_KEY_COLS = ("cls", "source_rid", "sourceId", "sourceIdVersion", "name")


@dataclass
class KnowledgeBase:
    """In-memory KB: one DataFrame per table (Delta-ready shape —
    swapping ``merge_upsert`` for ``DeltaTable.merge`` is the only
    change needed for a persistent cluster deployment)."""

    sources: DataFrame
    terms: DataFrame
    edges: DataFrame
    features: DataFrame | None = None
    variants: DataFrame | None = None
    statements: DataFrame | None = None
    counts: dict[str, dict[str, int]] = field(default_factory=dict)

    @property
    def tables(self) -> dict[str, DataFrame]:
        out = {"sources": self.sources, "terms": self.terms, "edges": self.edges}
        if self.features is not None:
            out["features"] = self.features
        if self.variants is not None:
            out["variants"] = self.variants
        if self.statements is not None:
            out["statements"] = self.statements
        return out

    def query(self, query: Mapping) -> DataFrame:
        """The reference's ``/query`` endpoint (src/graphkb.js:341-372)
        over KB tables, via the filter-DSL compiler."""
        return run_query(self.tables, query, keys={"sources": "rid", "terms": "rid"})


def empty_kb(spark: SparkSession) -> KnowledgeBase:
    from graphkb_spark.operators.merge import mark_known_empty

    return KnowledgeBase(
        sources=mark_known_empty(spark.createDataFrame([], SOURCE_SCHEMA)),
        terms=mark_known_empty(spark.createDataFrame([], ONTOLOGY_TERM_SCHEMA)),
        edges=mark_known_empty(spark.createDataFrame([], EDGE_SCHEMA)),
    )


def source_rid(name) -> Column:
    """Deterministic Source rid from the source name."""
    name_col = F.lit(name) if isinstance(name, str) else name
    return stable_hash_named(cls=F.lit("Source"), name=name_col)


def upsert_source(spark: SparkSession, kb: KnowledgeBase, source: Mapping) -> KnowledgeBase:
    """Register a data source (reference source registry
    src/sources.js + addRecord upsert). rid = hash of the name."""
    from pyspark.sql import types as T

    fields = [f for f in SOURCE_SCHEMA.fields if f.name != "rid"]
    row = {f.name: source.get(f.name) for f in fields}
    src_df = (
        spark.createDataFrame([row], T.StructType(fields))
        .withColumn("rid", source_rid(F.col("name")))
        .select([f.name for f in SOURCE_SCHEMA.fields])
    )
    merged = merge_upsert(kb.sources, src_df, ["rid"])
    kb.sources = merged.drop("_action").select([f.name for f in SOURCE_SCHEMA.fields])
    return kb


def load_ontology_records(
    spark: SparkSession,
    kb: KnowledgeBase,
    records: DataFrame,
    source_name: str,
    cls: str = "Vocabulary",
    collect_counts: bool = True,
) -> KnowledgeBase:
    """Generic ontology loader (reference src/ontology/index.js:108-243).

    ``records`` columns: ``sourceId`` (required), optional ``name``,
    ``displayName``, ``description``, ``deprecated``, ``alias``,
    ``subsets`` (array<string>), ``url``, ``comment``,
    ``sourceIdVersion``, ``cls`` (overrides the default class), and one
    array column per edge class (e.g. ``subclassof: ['parent-id', ...]``
    — class names matched case-insensitively, SURVEY §1.3).

    Batch shape: one narrow projection for terms, one explode+join for
    each edge column; all rids are content hashes so the term MERGE and
    edge MERGE are independent. At scale: terms MERGE shuffles on rid
    once; edge building broadcasts nothing and joins only exploded
    links against the (small) per-source term key set.
    """
    src_rid_col = source_rid(source_name)

    cols = dict.fromkeys(records.columns)
    edge_cols = [c for c in cols if _is_edge_col(c)]

    term_cls = F.col("cls") if "cls" in cols else F.lit(cls)
    norm = records.withColumn("__cls", term_cls).withColumn("__source_rid", src_rid_col)

    def opt(name: str, dtype: str):
        return (F.col(name) if name in cols else F.lit(None)).cast(dtype).alias(name)

    terms = norm.select(
        F.col("__cls").alias("cls"),
        F.col("sourceId").cast("string").alias("sourceId"),
        opt("sourceIdVersion", "string"),
        (F.coalesce(F.col("name"), F.col("sourceId")) if "name" in cols
         else F.col("sourceId")).cast("string").alias("name"),
        opt("displayName", "string"),
        opt("description", "string"),
        F.coalesce(opt("deprecated", "boolean"), F.lit(False)).alias("deprecated"),
        F.coalesce(opt("alias", "boolean"), F.lit(False)).alias("alias"),
        opt("dependency", "string"),
        (F.col("subsets") if "subsets" in cols else F.lit(None))
        .cast("array<string>")
        .alias("subsets"),
        opt("url", "string"),
        opt("biotype", "string"),
        opt("comment", "string"),
        F.col("__source_rid").alias("source_rid"),
    ).withColumn(
        # subsets compare order-insensitively (src/graphkb.js:78-86)
        "subsets",
        F.array_sort("subsets"),
    ).withColumn(
        "rid", stable_hash_id(*TERM_KEY_COLS)
    ).select([f.name for f in ONTOLOGY_TERM_SCHEMA.fields])

    merged_terms = merge_upsert(
        kb.terms,
        terms,
        ["rid"],
        # comment excluded from change detection, mirroring
        # upsertCheckExclude (/root/reference/src/ncit/index.js:385-387)
        exclude=["comment"],
    )
    if collect_counts:
        counts = {
            r["_action"]: r["n"]
            for r in merged_terms.groupBy("_action").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        kb.counts.setdefault(cls, {}).update(counts)
    kb.terms = merged_terms.drop("_action").select(
        [f.name for f in ONTOLOGY_TERM_SCHEMA.fields]
    )

    if edge_cols:
        # edges point at rids of rows in THIS batch (ontology files are
        # self-contained, like the reference's data/*.json); both edge
        # ends resolve through the same sourceId -> rid map, so the rid
        # hash expression lives in exactly one place.
        # SINGLE-PASS explode: all edge columns are stacked into one
        # (edge_class, targets) struct array and exploded once, so an
        # N-edge-class record set costs ONE scan + 2 broadcast joins —
        # not N scans each with their own joins and a union cascade.
        key_map = terms.select(F.col("sourceId").alias("__sid"), "rid")
        new_edges = (
            norm.select(
                F.col("sourceId").cast("string").alias("__from_sid"),
                F.col("__source_rid").alias("source_rid"),
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(canonical_edge_class(c)).alias("edge_class"),
                                F.col(c).cast("array<string>").alias("targets"),
                            )
                            for c in edge_cols
                        ]
                    )
                ).alias("__e"),
            )
            .select(
                "__from_sid",
                "source_rid",
                F.col("__e.edge_class").alias("edge_class"),
                F.explode("__e.targets").alias("__to_sid"),
            )
            .join(
                F.broadcast(
                    key_map.withColumnsRenamed({"__sid": "__from_sid", "rid": "out_rid"})
                ),
                "__from_sid",
            )
            .join(
                F.broadcast(
                    key_map.withColumnsRenamed({"__sid": "__to_sid", "rid": "in_rid"})
                ),
                "__to_sid",
            )
            .select([f.name for f in EDGE_SCHEMA.fields])
        )
        merged_edges = merge_upsert(
            kb.edges, new_edges, ["out_rid", "in_rid", "edge_class"]
        )
        kb.edges = merged_edges.drop("_action").select(
            [f.name for f in EDGE_SCHEMA.fields]
        )
    return kb


def _is_edge_col(name: str) -> bool:
    try:
        canonical_edge_class(name)
        return True
    except ValueError:
        return False


def get_vocabulary_term(
    kb: KnowledgeBase, names: DataFrame, name_col: str = "name", cls: str = "Vocabulary"
) -> DataFrame:
    """Batch ``getVocabularyTerm`` (/root/reference/src/graphkb.js:484-498):
    resolve each input name to the preferred Vocabulary term — match on
    name OR listed-alias, prefer non-deprecated/non-alias via the
    ``orderPreferredOntologyTerms`` comparator; per-row error columns
    instead of throws."""
    dim = (
        kb.terms.filter(F.col("cls") == cls)
        .join(
            F.broadcast(
                kb.sources.select(
                    F.col("rid").alias("source_rid"),
                    F.col("sort").alias("source_sort"),
                    F.col("version").alias("source_version"),
                )
            ),
            "source_rid",
            "left",
        )
        .withColumn("__match_name", F.lower(F.col("name")))
    )
    if name_col == "name":
        # the lookup already carries `name`: keep the caller's one
        dim = dim.drop("name")
    lookups = names.withColumn("__match_name", F.lower(F.col(name_col)))
    return resolve_unique(
        lookups,
        dim,
        {"__match_name": "__match_name"},
        prefer=preference_order(),
        strict=True,
    ).drop("__match_name")


# ---------------------------------------------------------------------------
# variants table: batch addVariant (/root/reference/src/graphkb.js:631-660)
# ---------------------------------------------------------------------------

_POSITION_CLASS_MAP = None  # built lazily from hgvs.PREFIX_CLASS


def load_variants(
    notations: DataFrame,
    source_name: str,
    features: DataFrame | None = None,
    vocabulary: DataFrame | None = None,
    notation_col: str = "notation",
    group_col: str | None = None,
) -> dict[str, DataFrame]:
    """Batch ``addVariant`` (/root/reference/src/graphkb.js:631-660):
    parse each notation, resolve its references and type, and emit typed
    ``VARIANT_ROW_SCHEMA`` rows plus Infers edges between alternate
    representations — replacing the reference's per-variant POSTs with
    one scan + three broadcast joins.

    - ``notations``: a DataFrame with ``notation_col`` (gene-prefixed
      HGVS-like strings) and optional passthrough columns.
    - ``features``: (name, rid) dimension for reference1/reference2
      resolution (case-insensitive); unresolved references land in
      ``_error`` (the reference throws per record — here per-row
      quarantine).
    - ``vocabulary``: (name, rid) dimension for the variant-type link
      (``getVocabularyTerm``); unresolved types land in ``_error``.
    - ``group_col``: when given, every non-protein variant in a group
      gets an ``Infers`` edge to the group's protein variant — the
      alternate-representation links of
      /root/reference/src/cosmic/resistance.js:102-107 (protein <- cds
      <- genomic chains) and src/entrez/snp.js:132-158.

    rid is the content hash of (cls, displayName=the normalized
    notation, source) — identical notations dedupe to one row, and
    edges referencing the rid can be built in the same batch.
    """
    from graphkb_spark.functions.hgvs import PREFIX_CLASS, parse_variant_udf

    src_rid = source_rid(source_name)
    keep = [c for c in notations.columns if c != notation_col]
    flat = notations.select(
        *keep,
        F.col(notation_col).alias("__notation"),
        parse_variant_udf(F.col(notation_col)).alias("__v"),
    ).select(*keep, "__notation", "__v.*")

    pos_cls = F.create_map(
        *[F.lit(x) for kv in PREFIX_CLASS.items() for x in kv]
    )[F.col("prefix")]

    def pos_struct(start_col: str) -> Column:
        return F.when(
            F.col(start_col).isNotNull(),
            F.struct(
                pos_cls.alias("cls"),
                F.col(start_col).alias("pos"),
                (F.col("ref_aa") if start_col == "break1_start" else F.lit(None))
                .cast("string")
                .alias("ref_aa"),
            ),
        )

    out = flat.select(
        *keep,
        "__notation",
        "error",
        F.lit("PositionalVariant").alias("cls"),
        F.col("variant_type"),
        F.col("reference1"),
        F.col("reference2"),
        pos_struct("break1_start").alias("break1_start"),
        pos_struct("break2_start").alias("break2_start"),
        F.col("ref_seq"),
        F.col("alt_seq"),
        F.col("prefix"),
    )

    def resolve(dim: DataFrame | None, name_col: str, out_col: str, what: str):
        nonlocal out
        if dim is None:
            out = out.withColumn(out_col, F.lit(None).cast("string"))
            return None
        d = F.broadcast(
            dim.select(
                F.lower(F.col("name")).alias(f"__k_{out_col}"),
                F.col("rid").alias(out_col),
            ).dropDuplicates([f"__k_{out_col}"])
        )
        out = out.join(
            d, F.lower(F.col(name_col)).eqNullSafe(F.col(f"__k_{out_col}")), "left"
        ).drop(f"__k_{out_col}")
        return F.when(
            F.col(name_col).isNotNull() & F.col(out_col).isNull(),
            F.concat(F.lit(f"{what} not found: "), F.col(name_col)),
        )

    errs = [
        resolve(features, "reference1", "reference1_rid", "reference1"),
        resolve(features, "reference2", "reference2_rid", "reference2"),
        resolve(vocabulary, "variant_type", "type_rid", "variant type"),
    ]
    out = out.withColumn(
        "_error", F.coalesce(F.col("error"), *[e for e in errs if e is not None])
    )

    rows = out.withColumn(
        "rid",
        stable_hash_named(
            cls="cls", displayName="__notation", source=F.lit(source_name)
        ),
    ).withColumn("displayName", F.col("__notation")).withColumn(
        "source_rid", src_rid
    )
    # fan-out point: variants, the protein dimension, and the edge
    # out-side all read this frame — without materializing it each
    # consumer re-runs the parse UDF + resolution joins (3-4x the whole
    # pipeline in one plan; Catalyst only reuses identical exchange
    # subtrees, and the consumers filter differently before any
    # exchange). localCheckpoint over persist: blocks free on GC, so
    # repeated loads in a long-lived session don't pin cache entries.
    rows = rows.transform(materialize)

    variants = (
        rows.filter(F.col("_error").isNull())
        .select([f.name for f in VARIANT_ROW_SCHEMA.fields])
        .dropDuplicates(["rid"])
    )
    quarantine = rows.filter(F.col("_error").isNotNull()).select(
        *keep, F.col("__notation").alias(notation_col), "_error"
    )

    edges = None
    if group_col is not None:
        proteins = (
            rows.filter((F.col("_error").isNull()) & (F.col("prefix") == "p"))
            .select(F.col(group_col).alias("__g"), F.col("rid").alias("__p_rid"))
            .dropDuplicates(["__g"])
        )
        edges = (
            rows.filter((F.col("_error").isNull()) & (F.col("prefix") != "p"))
            .select(F.col(group_col).alias("__g"), F.col("rid").alias("out_rid"))
            .join(F.broadcast(proteins), "__g")
            .select(
                "out_rid",
                F.col("__p_rid").alias("in_rid"),
                F.lit("Infers").alias("edge_class"),
                src_rid.alias("source_rid"),
            )
            .filter(F.col("out_rid") != F.col("in_rid"))
            .dropDuplicates(["out_rid", "in_rid"])
        )
    result = {"variants": variants, "errors": quarantine}
    if edges is not None:
        result["edges"] = edges
    return result
