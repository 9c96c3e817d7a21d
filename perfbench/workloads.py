"""The perfbench workloads: set-up, the seeded op sequence, and an
independent reference check for every op's output.

Each op is a ``build`` callable returning the DataFrame the action
consumes; everything the op writes (KB tables) happens inside ``build``.
Package modules are referenced through their module objects
(``civic.build_statements``, not a bare name) so the traced run's
wrappers see every call.

References never use Spark: they recompute the expected result with
pyarrow/pandas/plain Python from the generated input files and, for
``kb_sync``, from the KB parquet as the op found or left it.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Callable

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphkb_spark import kb as kbmod
from graphkb_spark import kb_io
from graphkb_spark.core import materialize as matmod
from graphkb_spark.loaders import civic
from graphkb_spark.operators import dedup

import gen


@dataclass
class Op:
    name: str
    fn: str  # the public function the op exercises (per-layer key)
    build: Callable[[], DataFrame]
    check: Callable[[list], str | None]  # error message, None when correct
    stats: dict = field(default_factory=dict)


def _read(spark: SparkSession, inputs: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(inputs, f"{name}.parquet"))


def _arrow(inputs: str, name: str) -> list[dict]:
    return pq.read_table(os.path.join(inputs, f"{name}.parquet")).to_pylist()


def _diff(got: list, want: list, what: str) -> str | None:
    g, w = sorted(got, key=repr), sorted(want, key=repr)
    if g == w:
        return None
    extra = [x for x in g if x not in w][:3]
    missing = [x for x in w if x not in g][:3]
    return f"{what}: {len(g)} rows vs {len(w)} expected; extra {extra} missing {missing}"


def _kb_frame(path: str, table: str) -> pd.DataFrame:
    df = pq.read_table(os.path.join(path, table)).to_pandas()
    for c in ("cls", "edge_class"):
        if c in df.columns:
            df[c] = df[c].astype(str)
    return df


# ---------------------------------------------------------------------------
# kb_sync: the write path, then reads of what it wrote
# ---------------------------------------------------------------------------

class KbSync:
    """The KB write path, then reads of what it wrote. Sync ops load
    one source batch each into a parquet KB: ontology releases through
    ``kb.load_ontology_records`` + ``save_kb``, civic evidence batches
    through the civic loader stages, ``sync_statements`` and
    ``kb_io.upsert_kb_table``. Query ops then serve seeded ``/query``
    requests and vocabulary lookups from the synced KB. Every pass
    starts from the same snapshot (restored outside the timed window)."""

    name = "kb_sync"

    def __init__(self, inputs: str, work: str):
        self.inputs = inputs
        self.snapshot = os.path.join(inputs, "kb")
        self.kb = os.path.join(work, "kb_live")
        # reference state: the snapshot's statement rids and disease rids
        st = _kb_frame(self.snapshot, "statements")
        self.stored_rid = dict(zip(st["sourceId"], st["rid"]))
        terms = _kb_frame(self.snapshot, "terms")
        dis = terms[terms["cls"] == "Disease"]
        self.dis_by_sid = dict(zip(dis["sourceId"], dis["rid"]))
        self.dis_by_name = dict(zip(dis["name"].str.lower(), dis["rid"]))

    # -- set-up ----------------------------------------------------------
    def setup(self, spark: SparkSession) -> dict:
        self.before_pass()
        t0 = time.perf_counter()
        kb_io.load_kb(spark, self.kb)
        return {"kb.load_s": time.perf_counter() - t0}

    def before_pass(self) -> None:
        shutil.rmtree(self.kb, ignore_errors=True)
        shutil.copytree(self.snapshot, self.kb)
        self._served = None  # the KB the query ops read, once synced
        self._tables = None

    # -- ops -------------------------------------------------------------
    def ops(self, spark: SparkSession) -> list[Op]:
        out = [
            self._ontology_op(spark, "disease", "disease-ontology", "Disease"),
            Op("civic", "civic_sync", lambda: self._civic_sync(spark), self._check_civic),
        ]
        with open(os.path.join(self.inputs, "queries.json")) as f:
            for q in json.load(f):
                out.append(self._query_op(spark, q))
        return out

    def _query_op(self, spark, q: dict) -> Op:
        """One /query request (``KnowledgeBase.query`` ->
        ``plans.filter_dsl.run_query``) or vocabulary lookup against the
        KB as the sync ops of this pass left it."""
        if q["kind"] == "vocab":
            names = q["body"]["vocab"]

            def build() -> DataFrame:
                lookups = spark.createDataFrame([(n,) for n in names], "term string")
                return kbmod.get_vocabulary_term(self._serve(spark), lookups, "term").select(
                    "term", "sourceId", "_resolve_error"
                )

            return Op(q["id"], "get_vocabulary_term", build,
                      lambda rows: self._check_vocab(rows, names))
        body = q["body"]
        return Op(q["id"], "query", lambda: self._serve(spark).query(body),
                  lambda rows: self._check_query(rows, body))

    def _serve(self, spark):
        """The synced KB, loaded by the first query op of the pass."""
        if self._served is None:
            self._served = kb_io.load_kb(spark, self.kb)
        return self._served

    def _live_tables(self) -> dict:
        if self._tables is None:
            self._tables = {t: _kb_frame(self.kb, t) for t in ("terms", "edges", "sources")}
        return self._tables

    def _check_query(self, rows, body) -> str | None:
        want = _ref_query(self._live_tables(), body)
        props = body["returnProperties"]
        got = [tuple(r[p] for p in props) for r in rows]
        return _diff(got, want, body["target"] + " query")

    def _check_vocab(self, rows, names) -> str | None:
        t = self._live_tables()["terms"]
        voc = t[t["cls"] == "Vocabulary"]
        want = []
        for n in names:
            m = voc[voc["name"].str.lower() == n]
            if m.empty:
                want.append((n, None, "not found"))
            else:
                best = m.sort_values(["deprecated", "alias"]).iloc[0]
                want.append((n, best["sourceId"], None))
        got = [(r["term"], r["sourceId"], r["_resolve_error"]) for r in rows]
        return _diff(got, want, "vocabulary lookup")

    def _ontology_op(self, spark, table, source, cls) -> Op:
        counts: dict = {}

        def build() -> DataFrame:
            kb = kb_io.load_kb(spark, self.kb)
            kb = kbmod.load_ontology_records(
                spark, kb, _read(spark, self.inputs, f"{table}_v2"), source, cls=cls
            )
            counts.clear()
            counts.update(kb.counts.get(cls, {}))
            kb.statements = None  # an ontology release leaves statements as they are
            kb_io.save_kb(kb, self.kb)
            return (
                spark.read.parquet(os.path.join(self.kb, "terms"))
                .filter(F.col("source_rid") == gen.source_rid(source))
                .select("rid", "cls", "sourceId", "name", "description",
                        "deprecated", "subsets")
            )

        v1 = {r["sourceId"]: r for r in _arrow(self.inputs, f"{table}_v1")}
        v2 = {r["sourceId"]: r for r in _arrow(self.inputs, f"{table}_v2")}

        def check(rows) -> str | None:
            final = dict(v1)
            final.update(v2)
            want = [(s, r["description"], bool(r["deprecated"])) for s, r in final.items()]
            got = [(r["sourceId"], r["description"], r["deprecated"]) for r in rows]
            err = _diff(got, want, f"{table} terms")
            if err:
                return err
            exp = {
                "create": len(set(v2) - set(v1)),
                "update": sum(1 for s in v2 if s in v1 and v2[s]["description"] != v1[s]["description"]),
                "noop": sum(1 for s in v2 if s in v1 and v2[s]["description"] == v1[s]["description"]),
            }
            got_c = {k: counts.get(k, 0) for k in exp}
            if got_c != exp:
                return f"{table} merge counts {got_c} != {exp}"
            return None

        return Op(f"ontology_{table}", "load_ontology_records", build, check)

    def _civic_sync(self, spark) -> DataFrame:
        kb = kb_io.load_kb(spark, self.kb)
        ev = _read(spark, self.inputs, "civic_v2")
        diseases = kb.terms.filter(F.col("cls") == "Disease").select(
            "sourceId", "name", "rid", "deprecated"
        )
        ev = civic.resolve_publications(
            ev, _read(spark, self.inputs, "pubmed"), _read(spark, self.inputs, "abstracts")
        )
        ev = civic.resolve_diseases(ev, diseases)
        ev, created = civic.get_or_create_evidence_levels(
            ev, kb.terms.filter(F.col("cls") == "EvidenceLevel")
        )
        cand = civic.build_statements(spark, ev)
        actions = civic.sync_statements(spark, kb.statements, candidates=cand).transform(
            matmod.materialize
        )
        kb_io.upsert_kb_table(
            spark, self.kb, "terms",
            created.select(
                "rid", "cls", "sourceId", F.lit(None).cast("string").alias("sourceIdVersion"),
                "name", "displayName", "description", "url",
                kbmod.source_rid("civic").alias("source_rid"),
            ),
        )
        statements = civic.apply_statement_actions(kb.statements, actions).transform(
            matmod.materialize, eager=True
        )
        statements.write.mode("overwrite").parquet(os.path.join(self.kb, "statements"))
        return actions.select(
            "sourceId", "rid", "relevance",
            F.concat_ws("|", "conditions").alias("conditions_str"), "_action",
        )

    def _check_civic(self, rows) -> str | None:
        v1 = {r["sourceId"]: r for r in _arrow(self.inputs, "civic_v1")}
        v2 = {r["sourceId"]: r for r in _arrow(self.inputs, "civic_v2")}
        want = []
        for sid in set(v1) | set(v2):
            e = v2.get(sid) or v1[sid]
            action = "update" if sid in v1 and sid in v2 else ("create" if sid in v2 else "delete")
            rel = gen.REL[(e["evidence_type"], e["direction"], e["significance"])]
            want.append((sid, action, rel, "|".join(self._conditions(e))))
        got = [(r["sourceId"], r["_action"], r["relevance"], r["conditions_str"]) for r in rows]
        err = _diff(got, want, "civic actions")
        if err:
            return err
        for r in rows:
            if r["_action"] != "create" and r["rid"] != self.stored_rid.get(r["sourceId"]):
                return f"civic: {r['sourceId']} lost its stored rid"
        return None

    def _conditions(self, e: dict) -> list[str]:
        return gen.statement_conditions(e, self.dis_by_sid, self.dis_by_name)


# ---------------------------------------------------------------------------
# read-after-write /query requests and their pandas reference
# ---------------------------------------------------------------------------

def _ref_mask(tables: dict, df: pd.DataFrame, node) -> pd.Series:
    """Boolean row mask of a filter-DSL node (rows the engine would keep)."""
    mask = pd.Series(True, index=df.index)
    for key, value in node.items():
        if key in ("AND", "OR"):
            parts = [_ref_mask(tables, df, c) for c in value]
            m = parts[0]
            for p in parts[1:]:
                m = (m & p) if key == "AND" else (m | p)
        elif isinstance(value, list):
            m = df[key].isin(value)
        elif isinstance(value, dict) and "target" in value:
            linked = tables[value["target"]]
            pk = value.get("key") or "rid"
            keys = set(linked[_ref_mask(tables, linked, value.get("filters") or {})][pk])
            m = df[value.get("on", key)].isin(keys)
        elif isinstance(value, dict):
            col, op, v = df[key], value["operator"].upper(), value["value"]
            ok = col.notna()
            if op == "CONTAINSTEXT":
                m = ok & col.fillna("").str.lower().str.contains(v.lower(), regex=False)
            elif op == ">":
                m = ok & col.fillna("").map(lambda s: s > v)
            else:
                raise ValueError(f"reference has no operator {op}")
        else:
            m = df[key] == value
        mask = mask & m.astype(bool)
    return mask


def _ref_query(tables: dict, body: dict) -> list[tuple]:
    df = tables[body["target"]]
    hit = df[_ref_mask(tables, df, body.get("filters") or {})]
    if body.get("neighbors"):
        e = tables["edges"]
        adj = defaultdict(set)
        for a, b in zip(e["out_rid"], e["in_rid"]):
            adj[a].add(b)
            adj[b].add(a)
        hop = {r: 0 for r in hit["rid"]}
        frontier = set(hop)
        for h in range(1, body["neighbors"] + 1):
            nxt = {m for r in frontier for m in adj[r]} - set(hop)
            hop.update({r: h for r in nxt})
            frontier = nxt
        hit = df[df["rid"].isin(hop)].assign(_hop=lambda d: d["rid"].map(hop))
    if body.get("orderBy"):
        hit = hit.sort_values(body["orderBy"], ascending=body.get("orderByDirection", "ASC") == "ASC")
    skip = body.get("skip", 0)
    if skip or body.get("limit") is not None:
        hit = hit.iloc[skip: skip + body["limit"] if body.get("limit") is not None else None]
    return [tuple(_py(x) for x in r) for r in hit[body["returnProperties"]].itertuples(index=False)]


def _py(x):
    return x.item() if hasattr(x, "item") else x


# ---------------------------------------------------------------------------
# corpus_dedup: shuffle-dense, iterative dedup operators
# ---------------------------------------------------------------------------

JACCARD_T = 0.5
CONTAIN_T = 0.7
MINHASH_T = 0.8
GRAM_K = 13
# large enough never to trip; passing a budget makes the operators
# report their candidate estimate through ``stats=``
CANDIDATE_BUDGET = 10**12


class CorpusDedup:
    """Each op runs one dedup operator over the seeded corpus:
    PPJoin Jaccard and containment joins, MinHash-LSH, connected
    components over the near-duplicate pair graph, and multi-benchmark
    contamination against the held-out sets."""

    name = "corpus_dedup"

    def __init__(self, inputs: str, work: str):
        self.inputs = inputs

    def setup(self, spark: SparkSession) -> dict:
        self.docs = _read(spark, self.inputs, "documents")
        self.bench = _read(spark, self.inputs, "benchmarks")
        self.pairs = _read(spark, self.inputs, "dup_pairs")
        self.nodes = self.docs.select(F.col("doc_id").alias("id"))
        texts = _arrow(self.inputs, "documents")
        self.words = {r["doc_id"]: _words(r["text"]) for r in texts}
        self.shingles = {i: _shingles(w, 3) for i, w in self.words.items()}
        return {"kb.load_s": 0.0}

    def before_pass(self) -> None:
        pass

    def ops(self, spark: SparkSession) -> list[Op]:
        jac = Op("ngram_jaccard", "ngram_jaccard_pairs", None, self._check_jaccard)
        jac.build = lambda: dedup.ngram_jaccard_pairs(
            self.docs, "text", "doc_id", shingle_n=3, threshold=JACCARD_T,
            candidate_budget=CANDIDATE_BUDGET, stats=_reset(jac.stats),
        )
        con = Op("ngram_containment", "ngram_containment_pairs", None, self._check_containment)
        con.build = lambda: dedup.ngram_containment_pairs(
            self.docs, "text", "doc_id", shingle_n=3, threshold=CONTAIN_T,
            candidate_budget=CANDIDATE_BUDGET, stats=_reset(con.stats),
        )
        mh = Op("minhash_lsh", "minhash_lsh_pairs",
                lambda: dedup.minhash_lsh_pairs(
                    self.docs, "text", "doc_id", jaccard_threshold=MINHASH_T),
                self._check_minhash)
        cc = Op("connected_components", "connected_components", None, self._check_cc)
        cc.build = lambda: dedup.connected_components(
            self.pairs, self.nodes, id_col="id", stats=_reset(cc.stats)
        )
        mb = Op("contamination", "multi_benchmark_contamination",
                lambda: dedup.multi_benchmark_contamination(
                    self.docs, self.bench, "text", "doc_id", "set_id", k=GRAM_K),
                self._check_contamination)
        return [jac, con, mh, cc, mb]

    # -- reference -------------------------------------------------------
    def _candidates(self):
        index = defaultdict(list)
        for i, sh in self.shingles.items():
            for s in sh:
                index[s].append(i)
        cand = set()
        for ids in index.values():
            for x in range(len(ids)):
                for y in range(x + 1, len(ids)):
                    cand.add((ids[x], ids[y]) if ids[x] < ids[y] else (ids[y], ids[x]))
        return cand

    def _jaccard_ref(self, t: float) -> dict:
        if not hasattr(self, "_cand"):
            self._cand = self._candidates()
        out = {}
        for a, b in self._cand:
            sa, sb = self.shingles[a], self.shingles[b]
            i = len(sa & sb)
            j = i / (len(sa) + len(sb) - i)
            if j >= t:
                out[(a, b)] = j
        return out

    def _check_jaccard(self, rows) -> str | None:
        want = self._jaccard_ref(JACCARD_T)
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}
        if set(got) != set(want):
            return f"jaccard pairs: {len(got)} vs {len(want)} expected"
        bad = [k for k in got if abs(got[k] - want[k]) > 1e-9]
        return f"jaccard values differ on {bad[:3]}" if bad else None

    def _check_containment(self, rows) -> str | None:
        if not hasattr(self, "_cand"):
            self._cand = self._candidates()
        want = {}
        for a, b in self._cand:
            for x, y in ((a, b), (b, a)):
                sx, sy = self.shingles[x], self.shingles[y]
                c = round(len(sx & sy) / len(sx), 6)
                if c >= CONTAIN_T:
                    want[(x, y)] = c
        got = {(r["id_a"], r["id_b"]): r["containment"] for r in rows}
        if set(got) != set(want):
            return f"containment pairs: {len(got)} vs {len(want)} expected"
        bad = [k for k in got if abs(got[k] - want[k]) > 1e-6]
        return f"containment values differ on {bad[:3]}" if bad else None

    def _check_minhash(self, rows) -> str | None:
        """LSH is approximate: every reported pair must be a true pair
        (Jaccard on hashed shingles may differ in the 4th decimal), and
        recall on the exact pairs must stay near the banding S-curve."""
        exact = self._jaccard_ref(MINHASH_T - 1e-3)
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}
        bad = [k for k in got if k not in exact or abs(got[k] - exact[k]) > 1e-3]
        if bad:
            return f"minhash reported non-pairs {bad[:3]}"
        strong = [k for k, j in exact.items() if j >= MINHASH_T + 0.02]
        recall = sum(1 for k in strong if k in got) / max(1, len(strong))
        return None if recall >= 0.95 else f"minhash recall {recall:.3f} < 0.95"

    def _check_cc(self, rows) -> str | None:
        parent = {i: i for i in self.words}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in _arrow(self.inputs, "dup_pairs"):
            a, b = find(r["id_a"]), find(r["id_b"])
            if a != b:
                parent[max(a, b)] = min(a, b)
        comp = defaultdict(list)
        for i in parent:
            comp[find(i)].append(i)
        want = [(i, min(ids)) for ids in comp.values() for i in ids]
        got = [(r["node"], r["comp"]) for r in rows]
        return _diff(got, want, "components")

    def _check_contamination(self, rows) -> str | None:
        sets = defaultdict(set)
        for r in _arrow(self.inputs, "benchmarks"):
            w = _words(r["text"])
            if len(w) >= GRAM_K:
                sets[r["set_id"]].update(_grams(w, GRAM_K))
        want = []
        for i, w in self.words.items():
            grams = _grams(w, GRAM_K) if len(w) >= GRAM_K else []
            per = {s: sum(1 for g in grams if g in gs) for s, gs in sets.items()}
            per = {s: c for s, c in per.items() if c}
            hits = sum(1 for g in grams if any(g in gs for gs in sets.values()))
            want.append((i, max(len(w) - GRAM_K + 1, 0), hits, hits >= 1, len(per),
                         ",".join(f"{s}={c}" for s, c in sorted(per.items()))))
        got = [(r["doc_id"], r["n_grams"], r["k_gram_hits"], r["contaminated"],
                r["n_leak_sets"], r["leak_attribution"]) for r in rows]
        return _diff(got, want, "contamination flags")


def _reset(d: dict) -> dict:
    d.clear()
    return d


def _words(text: str) -> list[str]:
    return [w for w in re.split(r"\s+", re.sub(r"[^a-z0-9 ]", " ", text.strip().lower())) if w]


def _shingles(w: list[str], n: int) -> frozenset:
    if len(w) < n:
        return frozenset([" ".join(w)])
    return frozenset(" ".join(w[i:i + n]) for i in range(len(w) - n + 1))


def _grams(w: list[str], k: int) -> list[str]:
    return [" ".join(w[i:i + k]) for i in range(len(w) - k + 1)]


WORKLOADS = {w.name: w for w in (KbSync, CorpusDedup)}
