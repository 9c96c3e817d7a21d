"""Seeded input generator for the perfbench workloads.

Every table is derived from ``numpy.random.default_rng(seed)`` alone and
written as parquet with ONE row group per file (the testdata layout, so
scan-parallelism decisions in the engine see what registry queries see).
The same seed gives byte-identical files; a different seed gives
different ones (``test_gen.py`` checks both).

Tables (one file each):

- ``disease_v1`` / ``therapy_v1``: ontology releases loaded into the KB
  snapshot (sourceId, name, description, deprecated, alias, subsets,
  url, subclassof).
- ``disease_v2``: the next release of the disease ontology — the seed
  picks the share of new, changed, unchanged and deleted records
  (deleted = absent from the release).
- ``vocab``: Vocabulary terms, some names carried by two terms that
  differ only in ``deprecated``/``alias`` (the preference order picks).
- ``pubmed``, ``abstracts``: publication dimensions for the civic loader.
- ``civic_v1`` / ``civic_v2``: a CIViC evidence batch and its next sync,
  with seeded new / changed / unchanged / deleted evidence items.
- ``documents``, ``benchmarks``, ``dup_pairs``: the dedup corpus, a
  held-out set of evaluation docs (some quoting corpus spans) and a
  near-duplicate pair graph for connected components.
- ``queries.json``: the seeded ``/query`` request sequence.
- ``kb/``: the KB snapshot both KB workloads start from, in the layout
  ``kb_io.save_kb`` writes (``terms`` partitioned by ``cls``, ``edges``
  by ``edge_class``): sources, the v1 ontologies, the vocabulary and the
  statements of the v1 civic batch. Record ids are the engine's
  content hashes (md5 of the key-sorted JSON of the natural key), so
  the v2 releases resolve against them exactly as against a KB the
  engine wrote itself; the kb_sync checks fail loudly if they do not.

Usage: ``python3 perfbench/gen.py --seed 7 --out DIR``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark scan join sort hash merge window group filter table column row "
    "batch stream query index vector value key part order line data small "
    "big fast slow agg plan stage task shuffle cache block page file graph "
    "node edge term gene drug tumor cell dose trial cohort study signal "
    "path protein variant allele exon codon frame site region marker panel "
    "assay sample tissue growth response"
).split()

# (evidence_type, direction, significance) combos the relevance table
# translates (graphkb_spark.functions.variant_names.RELEVANCE_ROWS)
RELEVANCE = [
    ("PREDICTIVE", "SUPPORTS", "SENSITIVITYRESPONSE", "sensitivity"),
    ("PREDICTIVE", "SUPPORTS", "RESISTANCE", "resistance"),
    ("PREDICTIVE", "DOES_NOT_SUPPORT", "SENSITIVITYRESPONSE", "no response"),
    ("DIAGNOSTIC", "SUPPORTS", "POSITIVE", "favours diagnosis"),
    ("PROGNOSTIC", "SUPPORTS", "POOR_OUTCOME", "unfavourable prognosis"),
    ("PROGNOSTIC", "SUPPORTS", "BETTER_OUTCOME", "favourable prognosis"),
    ("FUNCTIONAL", "SUPPORTS", "GAIN_OF_FUNCTION", "gain of function"),
    ("FUNCTIONAL", "SUPPORTS", "LOSS_OF_FUNCTION", "loss of function"),
]

# KB and CIViC sizes and the release shares (_shares) are not taken
# from a real GraphKB, ontology or CIViC release; they are picked so one
# kb_sync pass (8 ops) takes about 7 s at local[4]
N_DISEASE = 1200
N_THERAPY = 700
N_VOCAB = 160
N_PUBMED = 1500
N_ABSTRACT = 300
N_EVIDENCE = 300  # civic v1

# The corpus has the shape of the sf0.1 ``documents`` table that the
# repo's bench.py reads, at 1/10 of its 5000 rows. Measured there:
# 10..100 words per doc, uniform (median 54); a vocabulary of 31 words;
# 256 pairs with word-3-gram Jaccard >= 0.5 (5.1 per 100 docs, 9.5 % of
# docs in a pair), every containment >= 0.7 pair among them; 0.16 % of
# docs exact copies. Partial copies (containment without Jaccard) have
# no counterpart there: they give the containment join pairs of its own.
N_DOCS = 500
DOC_WORDS = (10, 100)
CORPUS_WORDS = WORDS[:31]
NEAR_SHARE = 0.051
EXACT_SHARE = 0.0016
PART_SHARE = 0.02
# held-out sets for the contamination op (no counterpart in sf0.1)
N_BENCH_SETS = 3
N_BENCH_DOCS = 30  # per set
# the read-after-write requests of one kb_sync pass: a filter tree, a
# link subquery (children over the edges table), a vocabulary lookup, a
# skip/limit page and neighbor expansions with n = 2 and n = 3
QUERY_MIX = ["tree", "neighbors", "children", "vocab", "page", "neighbors"]

ONTOLOGY_SCHEMA = pa.schema(
    [
        ("sourceId", pa.string()),
        ("name", pa.string()),
        ("description", pa.string()),
        ("deprecated", pa.bool_()),
        ("alias", pa.bool_()),
        ("subsets", pa.list_(pa.string())),
        ("url", pa.string()),
        ("subclassof", pa.list_(pa.string())),
    ]
)

EVIDENCE_SCHEMA = pa.schema(
    [
        ("sourceId", pa.string()),
        ("source_type", pa.string()),
        ("citation_id", pa.int64()),
        ("asco_abstract_id", pa.int32()),
        ("publication_year", pa.int32()),
        ("source_title", pa.string()),
        ("source_url", pa.string()),
        ("evidence_level", pa.string()),
        ("evidence_rating", pa.int32()),
        ("disease", pa.string()),
        ("doid", pa.int32()),
        ("profile_expr", pa.string()),
        ("therapies", pa.list_(pa.string())),
        ("therapyInteractionType", pa.string()),
        ("evidence_type", pa.string()),
        ("direction", pa.string()),
        ("significance", pa.string()),
    ]
)


def write_table(table: pa.Table, path: str) -> None:
    """One row group per file, fixed writer settings (byte-stable)."""
    pq.write_table(
        table,
        path,
        row_group_size=max(1, table.num_rows),
        compression="snappy",
        use_dictionary=True,
        write_statistics=True,
    )


def _text(rng: np.random.Generator, lo: int, hi: int) -> list[str]:
    return [WORDS[i] for i in rng.integers(0, len(WORDS), rng.integers(lo, hi))]


def _shares(rng: np.random.Generator) -> dict[str, float]:
    """Seeded release shares: changed / deleted / new (unchanged is the rest)."""
    return {
        "changed": float(rng.uniform(0.08, 0.16)),
        "deleted": float(rng.uniform(0.03, 0.08)),
        "new": float(rng.uniform(0.05, 0.12)),
    }


def _ontology_v1(rng, n: int, prefix: str, kind: str) -> list[dict]:
    recs = []
    for i in range(n):
        # forest of depth ~log(n): parent among the earlier ids nearby
        parent = [] if i < 8 else [f"{prefix}{int(rng.integers(max(0, i - 60), i))}"]
        recs.append(
            {
                "sourceId": f"{prefix}{i}",
                "name": f"{kind} {' '.join(_text(rng, 1, 3))} {i}",
                "description": " ".join(_text(rng, 4, 12)),
                "deprecated": bool(rng.random() < 0.04),
                "alias": False,
                "subsets": sorted({f"s{int(x)}" for x in rng.integers(0, 6, rng.integers(0, 3))}),
                "url": f"https://example.org/{kind}/{i}",
                "subclassof": parent,
            }
        )
    return recs


def _ontology_v2(rng, v1: list[dict], prefix: str, kind: str) -> tuple[list[dict], dict]:
    sh = _shares(rng)
    u = rng.random(len(v1))
    out = []
    for r, x in zip(v1, u):
        if x < sh["deleted"]:
            continue
        if x < sh["deleted"] + sh["changed"]:
            r = dict(r, description=r["description"] + " revised " + " ".join(_text(rng, 1, 3)))
        out.append(r)
    n_new = int(round(sh["new"] * len(v1)))
    base = len(v1)
    for j in range(n_new):
        i = base + j
        out.append(
            {
                "sourceId": f"{prefix}{i}",
                "name": f"{kind} {' '.join(_text(rng, 1, 3))} {i}",
                "description": " ".join(_text(rng, 4, 12)),
                "deprecated": False,
                "alias": False,
                "subsets": [],
                "url": f"https://example.org/{kind}/{i}",
                "subclassof": [f"{prefix}{int(rng.integers(0, base))}"],
            }
        )
    return out, sh


def _vocab(rng) -> list[dict]:
    recs = []
    for i in range(N_VOCAB):
        name = f"vocab {WORDS[i % len(WORDS)]} {i}"
        recs.append(
            {
                "sourceId": f"v{i}", "name": name,
                "description": " ".join(_text(rng, 2, 6)),
                "deprecated": False, "alias": False, "subsets": [],
                "url": None, "subclassof": [],
            }
        )
        if rng.random() < 0.15:
            # a second term under the same name, losing on preference
            recs.append(
                {
                    "sourceId": f"v{i}x", "name": name.upper(),
                    "description": " ".join(_text(rng, 2, 6)),
                    "deprecated": bool(rng.random() < 0.5), "alias": True,
                    "subsets": [], "url": None, "subclassof": [],
                }
            )
    return recs


def _evidence(rng, eid: int, n_dis: int, n_th: int) -> dict:
    et, di, sig, _rel = RELEVANCE[int(rng.integers(0, len(RELEVANCE)))]
    pubmed = rng.random() < 0.7
    aid = int(rng.integers(0, N_ABSTRACT))
    v = int(rng.integers(0, 400))
    prof = f"V{v}" if rng.random() < 0.7 else f"V{v} AND V{int(rng.integers(0, 400))}"
    nt = int(rng.choice([0, 1, 1, 2]))
    ther = [f"therapy{int(x)}" for x in rng.choice(n_th, nt, replace=False)]
    d = int(rng.integers(0, n_dis))
    by_doid = rng.random() < 0.6
    return {
        "sourceId": f"EID{eid}",
        "source_type": "PUBMED" if pubmed else "ASCO",
        "citation_id": int(rng.integers(0, N_PUBMED)) if pubmed else None,
        "asco_abstract_id": None if pubmed else aid,
        "publication_year": None if pubmed else 2010 + aid % 10,
        "source_title": None if pubmed else f"Abstract {aid}.",
        "source_url": None if pubmed else f"https://meetings.asco.org/abstracts/asco-{aid}",
        "evidence_level": "ABCDE"[int(rng.integers(0, 5))],
        "evidence_rating": int(rng.integers(1, 6)),
        # name-resolved rows carry the disease NAME; the generator and
        # the reference agree on names through the shared _ontology_v1
        "disease": None,
        "doid": d if by_doid else None,
        "_disease_idx": d,
        "profile_expr": prof,
        "therapies": ther,
        "therapyInteractionType": "COMBINATION" if nt == 2 else None,
        "evidence_type": et,
        "direction": di,
        "significance": sig,
    }


def _civic(rng, disease_names: list[str], n_th: int):
    n_dis = len(disease_names)
    v1 = []
    for j in range(N_EVIDENCE):
        e = _evidence(rng, j, n_dis, n_th)
        e["disease"] = disease_names[e["_disease_idx"]]
        v1.append(e)
    sh = _shares(rng)
    u = rng.random(len(v1))
    v2 = []
    for e, x in zip(v1, u):
        if x < sh["deleted"]:
            continue
        if x < sh["deleted"] + sh["changed"]:
            et, di, sig, _ = RELEVANCE[int(rng.integers(0, len(RELEVANCE)))]
            e = dict(e, evidence_type=et, direction=di, significance=sig,
                     profile_expr=f"V{int(rng.integers(400, 800))}")
        v2.append(e)
    for j in range(int(round(sh["new"] * N_EVIDENCE))):
        e = _evidence(rng, N_EVIDENCE + j, n_dis, n_th)
        e["disease"] = disease_names[e["_disease_idx"]]
        v2.append(e)
    return v1, v2, sh


def _evidence_table(rows: list[dict]) -> pa.Table:
    return pa.Table.from_pylist(
        [{k: r[k] for k in EVIDENCE_SCHEMA.names} for r in rows], EVIDENCE_SCHEMA
    )


def _doc(rng: np.random.Generator, lo: int, hi: int) -> list[str]:
    """``lo``..``hi`` words (inclusive) over the corpus vocabulary."""
    return [CORPUS_WORDS[i] for i in rng.integers(0, len(CORPUS_WORDS), rng.integers(lo, hi + 1))]


def _corpus(rng):
    docs: list[list[str]] = []
    parent: list[int] = []
    originals: list[int] = []
    # exact mix in seeded order after 20 originals, so every seed does
    # the same amount of work
    n = N_DOCS - 20
    copies = {k: int(round(share * N_DOCS)) for k, share in
              (("near", NEAR_SHARE), ("exact", EXACT_SHARE), ("part", PART_SHARE))}
    kinds = ["orig"] * 20 + list(rng.permutation(
        [k for k, c in copies.items() for _ in range(c)] + ["orig"] * (n - sum(copies.values()))
    ))
    for i, kind in enumerate(kinds):
        if kind in ("near", "exact"):
            # near-duplicate: copy an original doc, mutate a few words
            src = originals[int(rng.integers(max(0, len(originals) - 100), len(originals)))]
            w = list(docs[src])
            n_mut = 0 if kind == "exact" else max(1, int(len(w) * rng.uniform(0.01, 0.08)))
            for p in rng.choice(len(w), n_mut, replace=False):
                w[int(p)] = CORPUS_WORDS[int(rng.integers(0, len(CORPUS_WORDS)))]
            docs.append(w)
            parent.append(src)
        elif kind == "part":
            # partial copy: a contiguous slice of an original doc
            src = originals[int(rng.integers(max(0, len(originals) - 100), len(originals)))]
            w = docs[src]
            a = int(rng.integers(0, max(1, len(w) // 3)))
            docs.append(list(w[a:a + max(8, int(len(w) * rng.uniform(0.4, 0.8)))]))
            parent.append(src)
        else:
            docs.append(_doc(rng, *DOC_WORDS))
            parent.append(-1)
            originals.append(i)
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
            "text": pa.array([" ".join(w) for w in docs]),
        }
    )
    bench_rows = []
    for s in range(N_BENCH_SETS):
        quoting = set(rng.choice(N_BENCH_DOCS, N_BENCH_DOCS * 2 // 5, replace=False).tolist())
        for j in range(N_BENCH_DOCS):
            w = _doc(rng, 20, 50)
            if j in quoting:
                # quote a corpus span: the leak the flag must find
                src = docs[int(rng.integers(0, N_DOCS))]
                if len(src) >= 16:
                    a = int(rng.integers(0, len(src) - 15))
                    w = w[:5] + src[a:a + int(rng.integers(13, 20))] + w[5:]
            bench_rows.append({"set_id": f"bench{s}", "text": " ".join(w)})
    benchmarks = pa.Table.from_pylist(
        bench_rows, pa.schema([("set_id", pa.string()), ("text", pa.string())])
    )
    # pair graph for connected components: the copy lineage (stars
    # around originals, each source older than its copies) plus three
    # chains over docs outside it, ids ascending along each chain, so
    # every seed's graph has the same depth and label propagation needs
    # the same number of rounds
    a_ids, b_ids = [], []
    lineage = set()
    for i, p in enumerate(parent):
        if p >= 0:
            a_ids.append(min(i, p))
            b_ids.append(max(i, p))
            lineage.update((i, p))
    free = [i for i in range(N_DOCS) if i not in lineage]
    chain_len = 4
    picked = rng.choice(len(free), 3 * chain_len, replace=False)
    for c in range(3):
        chain = sorted(free[int(j)] for j in picked[c * chain_len:(c + 1) * chain_len])
        a_ids.extend(chain[:-1])
        b_ids.extend(chain[1:])
    pairs = sorted(set(zip(a_ids, b_ids)))
    dup_pairs = pa.table(
        {
            "id_a": pa.array([p[0] for p in pairs], pa.int64()),
            "id_b": pa.array([p[1] for p in pairs], pa.int64()),
        }
    )
    return documents, benchmarks, dup_pairs


def _queries(rng, disease: list[dict], therapy: list[dict], vocab: list[dict]) -> list[dict]:
    """Seeded /query requests: filter trees, link subqueries, pages,
    neighbor expansions and vocabulary lookups, in a fixed mix."""
    out = []
    hops = 0
    for q, kind in enumerate(QUERY_MIX):
        pick = lambda recs, k: [recs[int(i)]["sourceId"] for i in rng.choice(len(recs), k, replace=False)]  # noqa: E731
        if kind == "tree":
            w = WORDS[int(rng.integers(0, len(WORDS)))]
            body = {
                "target": "terms",
                "filters": {
                    "AND": [
                        {"cls": ["Disease", "Therapy"][q % 2]},
                        {
                            "OR": [
                                {"sourceId": pick(disease if q % 2 == 0 else therapy, 6)},
                                {"description": {"operator": "CONTAINSTEXT", "value": f" {w} {WORDS[int(rng.integers(0, len(WORDS)))]}"}},
                                {"AND": [{"deprecated": True}, {"url": {"operator": ">", "value": f"https://example.org/disease/{int(rng.integers(0, 9))}"}}]},
                            ]
                        },
                    ]
                },
                "returnProperties": ["rid", "sourceId", "name", "deprecated"],
            }
        elif kind == "children":
            # children of 20 diseases: terms whose rid is the out-end of
            # a SubClassOf edge into one of the parents
            parents = [disease[int(i)] for i in rng.choice(len(disease), 20, replace=False)]
            body = {
                "target": "terms",
                "filters": {
                    "rid": {
                        "target": "edges",
                        "key": "out_rid",
                        "filters": {
                            "AND": [
                                {"edge_class": "SubClassOf"},
                                {"in_rid": [term_rid("Disease", "disease-ontology", r["sourceId"], r["name"])
                                            for r in parents]},
                            ]
                        },
                    }
                },
                "returnProperties": ["rid", "sourceId", "name"],
            }
        elif kind == "page":
            body = {
                "target": "terms",
                "filters": {"cls": "Disease", "deprecated": False},
                "returnProperties": ["sourceId", "name", "description"],
                "orderBy": ["name"],
                "orderByDirection": ["ASC", "DESC"][int(rng.integers(0, 2))],
                "skip": int(rng.integers(0, 20)) * 50,
                "limit": 50,
            }
        elif kind == "neighbors":
            hops += 1
            body = {
                "target": "terms",
                "filters": {"sourceId": pick(disease, 3)},
                "neighbors": 1 + hops % 3,
                "returnProperties": ["rid", "sourceId", "_hop"],
            }
        else:
            names = [vocab[int(i)]["name"] for i in rng.choice(len(vocab), 12, replace=False)]
            names += [f"missing term {int(rng.integers(0, 1000))}"]
            body = {"vocab": sorted(set(n.lower() for n in names))}
        out.append({"id": f"q{q:02d}_{kind}", "kind": kind, "body": body})
    return out


SOURCES = [("disease-ontology", 1), ("ncit", 2), ("vocab", 3), ("civic", 4)]
REL = {(e, d, s): r for e, d, s, r in RELEVANCE}


def stable_hash(**fields) -> str:
    """md5 of the key-sorted compact JSON, nulls kept — the engine's
    ``stable_hash_named`` for ASCII strings."""
    return hashlib.md5(
        json.dumps(dict(sorted(fields.items())), separators=(",", ":")).encode()
    ).hexdigest()


def source_rid(name: str) -> str:
    return stable_hash(cls="Source", name=name)


def term_rid(cls: str, source: str, sid: str, name: str) -> str:
    return stable_hash(
        cls=cls, name=name, sourceId=sid, sourceIdVersion=None, source_rid=source_rid(source)
    )


def statement_conditions(e: dict, dis_by_sid: dict, dis_by_name: dict) -> list[str]:
    """The condition set the civic loader builds for a single-conjunct
    evidence item: variants, therapy combination, disease rid."""
    conds = sorted({v.strip() for v in e["profile_expr"].split(" AND ")})
    if e["therapies"]:
        conds.append(" + ".join(sorted(e["therapies"])))
    if e["doid"] is not None:
        conds.append(dis_by_sid[f"doid:{e['doid']}"])
    else:
        conds.append(dis_by_name[e["disease"].lower()])
    return sorted(conds)


def _write_partitioned(rows: list[dict], schema: pa.Schema, key: str, path: str) -> None:
    """One file per partition value under ``<key>=<value>/`` (the
    layout ``partitionBy`` writes; the key column lives in the path)."""
    groups: dict[str, list[dict]] = {}
    for r in rows:
        groups.setdefault(r[key], []).append(r)
    sub = pa.schema([f for f in schema if f.name != key])
    for value in sorted(groups):
        d = os.path.join(path, f"{key}={value}")
        os.makedirs(d)
        write_table(pa.Table.from_pylist(groups[value], sub), os.path.join(d, "part-00000.parquet"))


TERM_SCHEMA = pa.schema(
    [(c, pa.string()) for c in ("rid", "cls", "sourceId", "sourceIdVersion", "name",
                                "displayName", "description")]
    + [("deprecated", pa.bool_()), ("alias", pa.bool_()), ("dependency", pa.string()),
       ("subsets", pa.list_(pa.string()))]
    + [(c, pa.string()) for c in ("url", "biotype", "comment", "source_rid")]
)
EDGE_SCHEMA = pa.schema(
    [(c, pa.string()) for c in ("out_rid", "in_rid", "edge_class", "source_rid")]
)


def write_kb_snapshot(out: str, ontologies: dict, civic_v1: list[dict]) -> None:
    """The KB both KB workloads start from (see module docstring)."""
    kb = os.path.join(out, "kb")
    terms, edges = [], []
    by_source = {"disease-ontology": ("Disease", ontologies["disease"]),
                 "ncit": ("Therapy", ontologies["therapy"]),
                 "vocab": ("Vocabulary", ontologies["vocab"])}
    for source, (cls, recs) in by_source.items():
        rid = {r["sourceId"]: term_rid(cls, source, r["sourceId"], r["name"]) for r in recs}
        for r in recs:
            terms.append({
                "rid": rid[r["sourceId"]], "cls": cls, "sourceId": r["sourceId"],
                "sourceIdVersion": None, "name": r["name"], "displayName": None,
                "description": r["description"], "deprecated": r["deprecated"],
                "alias": r["alias"], "dependency": None, "subsets": sorted(r["subsets"]),
                "url": r["url"], "biotype": None, "comment": None,
                "source_rid": source_rid(source),
            })
            for parent in r["subclassof"]:
                edges.append({"out_rid": rid[r["sourceId"]], "in_rid": rid[parent],
                              "edge_class": "SubClassOf", "source_rid": source_rid(source)})
    _write_partitioned(terms, TERM_SCHEMA, "cls", os.path.join(kb, "terms"))
    _write_partitioned(edges, EDGE_SCHEMA, "edge_class", os.path.join(kb, "edges"))
    os.makedirs(os.path.join(kb, "sources"))
    write_table(
        pa.Table.from_pylist(
            [{"rid": source_rid(n), "name": n, "displayName": None, "url": None,
              "usage": None, "version": "1", "sort": s} for n, s in SOURCES],
            pa.schema([(c, pa.string()) for c in ("rid", "name", "displayName", "url",
                                                  "usage", "version")]
                      + [("sort", pa.int32())]),
        ),
        os.path.join(kb, "sources", "part-00000.parquet"),
    )
    dis = [t for t in terms if t["cls"] == "Disease"]
    by_sid = {t["sourceId"]: t["rid"] for t in dis}
    by_name = {t["name"].lower(): t["rid"] for t in dis}
    stmts = []
    for e in civic_v1:
        conds = statement_conditions(e, by_sid, by_name)
        rel = REL[(e["evidence_type"], e["direction"], e["significance"])]
        stmts.append({"rid": stable_hash(sourceId=e["sourceId"], conditions=conds, relevance=rel),
                      "sourceId": e["sourceId"], "conditions": conds, "relevance": rel})
    os.makedirs(os.path.join(kb, "statements"))
    write_table(
        pa.Table.from_pylist(stmts, pa.schema(
            [("rid", pa.string()), ("sourceId", pa.string()),
             ("conditions", pa.list_(pa.string())), ("relevance", pa.string())])),
        os.path.join(kb, "statements", "part-00000.parquet"),
    )


def generate(seed: int, out: str) -> dict:
    """Write every input table for ``seed`` under ``out``; returns the
    manifest (shares and per-table rows/bytes)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    disease = _ontology_v1(rng, N_DISEASE, "doid:", "disease")
    therapy = _ontology_v1(rng, N_THERAPY, "therapy", "therapy")
    # therapy names double as the civic therapy strings
    for r in therapy:
        r["name"] = r["sourceId"]
    disease_v2, dis_sh = _ontology_v2(rng, disease, "doid:", "disease")
    vocab = _vocab(rng)
    tables = {
        "disease_v1": pa.Table.from_pylist(disease, ONTOLOGY_SCHEMA),
        "therapy_v1": pa.Table.from_pylist(therapy, ONTOLOGY_SCHEMA),
        "disease_v2": pa.Table.from_pylist(disease_v2, ONTOLOGY_SCHEMA),
        "vocab": pa.Table.from_pylist(vocab, ONTOLOGY_SCHEMA),
        "pubmed": pa.table(
            {
                "sourceId": pa.array([str(i) for i in range(N_PUBMED)]),
                "rid": pa.array([f"pm_{i}" for i in range(N_PUBMED)]),
            }
        ),
        "abstracts": pa.table(
            {
                "abstract_id": pa.array(list(range(N_ABSTRACT)), pa.int32()),
                "year": pa.array([2010 + a % 10 for a in range(N_ABSTRACT)], pa.int32()),
                "name": pa.array([f"Abstract {a}" for a in range(N_ABSTRACT)]),
                "sourceId": pa.array([f"asco-{a}" for a in range(N_ABSTRACT)]),
                "rid": pa.array([f"ab_{a}" for a in range(N_ABSTRACT)]),
            }
        ),
    }
    disease_names = [r["name"] for r in disease]
    civic_v1, civic_v2, civic_shares = _civic(rng, disease_names, N_THERAPY)
    tables["civic_v1"] = _evidence_table(civic_v1)
    tables["civic_v2"] = _evidence_table(civic_v2)
    documents, benchmarks, dup_pairs = _corpus(rng)
    tables["documents"] = documents
    tables["benchmarks"] = benchmarks
    tables["dup_pairs"] = dup_pairs
    sizes = {}
    for name, t in tables.items():
        path = os.path.join(out, f"{name}.parquet")
        write_table(t, path)
        sizes[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    write_kb_snapshot(out, {"disease": disease, "therapy": therapy, "vocab": vocab}, civic_v1)
    queries = _queries(rng, disease, therapy, vocab)
    qpath = os.path.join(out, "queries.json")
    with open(qpath, "w") as f:
        json.dump(queries, f, indent=1, sort_keys=True)
    sizes["queries"] = {"rows": len(queries), "bytes": os.path.getsize(qpath)}
    for table in sorted(os.listdir(os.path.join(out, "kb"))):
        files = [
            os.path.join(root, f)
            for root, _dirs, fs in os.walk(os.path.join(out, "kb", table)) for f in fs
        ]
        sizes[f"kb/{table}"] = {
            "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
            "bytes": sum(os.path.getsize(f) for f in files),
        }
    manifest = {
        "seed": seed,
        "shares": {"disease": dis_sh, "civic": civic_shares},
        "tables": sizes,
    }
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.seed, a.out)["tables"]))


if __name__ == "__main__":
    main()
