"""Dedup + similarity operators: exactness of the Jaccard join vs
brute force, MinHash/LSH recall on known near-dups, SimHash, ANN."""

import warnings

import pytest
from pyspark.sql import functions as F

from graphkb_spark.operators.dedup import (
    CandidateBudgetExceeded,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dups,
    word_shingles,
    words,
)
from graphkb_spark.operators.similarity import cosine_topk, ivf_topk, lsh_topk

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank now"),  # near-dup of 1
    (3, "completely different content about spark dataframes and shuffles here"),
    (4, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
    (5, "another unrelated document mentioning catalyst optimizer and codegen"),
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def brute_jaccard_pairs(spark, docs, n, threshold):
    base = docs.select(
        "doc_id", F.array_distinct(word_shingles(words("text"), n)).alias("sh")
    ).collect()
    out = set()
    for i, a in enumerate(base):
        for b in base[i + 1:]:
            sa, sb = set(a.sh), set(b.sh)
            if sa and sb and len(sa & sb) / len(sa | sb) >= threshold:
                out.add((min(a.doc_id, b.doc_id), max(a.doc_id, b.doc_id)))
    return out


def test_exact_dedup(spark, docs):
    out = exact_dedup(docs, "text", "doc_id")
    rows = {r.doc_id: r.n_copies for r in out.collect()}
    assert rows[1] == 2  # 1 and 4 collapse, min id kept
    assert len(rows) == 4


def test_ngram_jaccard_matches_bruteforce(spark, docs):
    got = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, "text", "doc_id", 3, 0.5).collect()
    }
    assert got == brute_jaccard_pairs(spark, docs, 3, 0.5)


@pytest.mark.parametrize("threshold", [0.3, 0.5, 0.7, 0.75, 0.8, 1.0])
def test_ngram_jaccard_filters_lossless(spark, threshold):
    """VERDICT r10 #1 done-criterion: the PPJoin prefix, length and
    positional filters must be lossless, for the Jaccard join and the
    containment join built from the same stages. A 40-doc corpus drawn
    from a 12-word vocabulary makes every posting list long (the worst
    case the filters exist for) and produces many doc pairs straddling
    each threshold; doc lengths 4..14 hit integral t*n for t in
    {0.5, 0.75, 0.8, 1.0} (the float-rounding edge the epsilon
    guards). Output must equal brute force exactly at every t."""
    import random

    from graphkb_spark.operators.dedup import ngram_containment_pairs

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(12)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 14))))
        for i in range(40)
    ]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            corpus, "text", "doc_id", 2, threshold
        ).collect()
    }
    assert got == brute_jaccard_pairs(spark, corpus, 2, threshold)
    contained = {
        (r.id_a, r.id_b): r.containment
        for r in ngram_containment_pairs(
            corpus, "text", "doc_id", 2, threshold
        ).collect()
    }
    assert contained == brute_containment_pairs(spark, corpus, 2, threshold)


def test_ppjoin_lossless_under_digest_collisions(spark):
    """Property (hypothesis, VERDICT r18 #5): the PPJoin stages stay
    exact when the per-doc shingle digests collide. The base's __shh
    digests come from a drawn table over the 64 possible bigrams
    (values in 0..63, so collisions are common), which makes distinct
    shingles share a digest across docs (inflating the hash-domain
    overlap the verify prefilter bounds) and within one doc (shrinking
    it, so such rows must pass the prefilter unconditionally). The
    pinned examples collide two SHARED bigrams inside each doc: the
    hash-domain Jaccard (1/3) and containment (1/2) fall below the
    string values (1/2, 2/3) and below t. No pair whose string Jaccard or
    containment reaches t may be dropped: both joins must equal brute
    force."""
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from graphkb_spark.operators import dedup

    real_base = dedup._shingle_base
    vocab = [f"w{i}" for i in range(8)]
    bigrams = [f"{a} {b}" for a in vocab for b in vocab]

    def colliding_base(digests):
        table = F.create_map(
            *[F.lit(x) for g, d in zip(bigrams, digests) for x in (g, d)]
        )

        def build(*args):
            return (
                real_base(*args)
                .select(
                    "__id",
                    "__sh",
                    F.transform(
                        "__sh", lambda s: F.element_at(table, s).cast("bigint")
                    ).alias("__shh"),
                )
                .withColumn("__nh", F.size(F.array_distinct("__shh")))
            )

        return build

    # "w0 w1" (index 1) and "w1 w2" (index 10) share digest 1
    pinned = list(range(64))
    pinned[10] = 1

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(
            st.lists(st.integers(0, 7), min_size=3, max_size=12),
            min_size=2,
            max_size=12,
        ),
        st.lists(st.integers(0, 63), min_size=64, max_size=64),
        st.sampled_from([0.3, 0.5, 0.6, 0.75, 1.0]),
    )
    @example(docs=[[0, 1, 2, 3], [0, 1, 2, 4]], digests=pinned, t=0.5)
    @example(docs=[[0, 1, 2, 3], [0, 1, 2, 4]], digests=pinned, t=0.6)
    def inner(docs, digests, t):
        rows = [
            (i, " ".join(vocab[w] for w in ws)) for i, ws in enumerate(docs)
        ]
        corpus = spark.createDataFrame(rows, ["doc_id", "text"])
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(dedup, "_shingle_base", colliding_base(digests))
            jac = {
                (r.id_a, r.id_b)
                for r in dedup.ngram_jaccard_pairs(
                    corpus, "text", "doc_id", 2, t
                ).collect()
            }
            cont = {
                (r.id_a, r.id_b): r.containment
                for r in dedup.ngram_containment_pairs(
                    corpus, "text", "doc_id", 2, t
                ).collect()
            }
        assert jac == brute_jaccard_pairs(spark, corpus, 2, t)
        assert cont == brute_containment_pairs(spark, corpus, 2, t)

    inner()


def test_np_minhash_udf_matches_jvm_signatures(spark):
    """Property (hypothesis): the vectorized numpy signature UDF returns,
    row for row, the pure-JVM ``minhash_signature_from_hashes`` value.
    Null and empty hash arrays both get the empty-set signature (every
    family at the prime), which is what the JVM path gives an empty
    array. The pinned example holds more hashes than one numpy chunk
    (``max_flat`` = 8M // num_hashes), so ``flush()`` runs mid-batch
    between null/empty rows and again at the end."""
    import random

    import pandas as pd
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from graphkb_spark.operators.dedup import (
        _MH_PRIME,
        _np_minhash_udf,
        minhash_signature_from_hashes,
    )

    def jvm_signatures(rows, k):
        df = spark.createDataFrame(
            list(enumerate(rows)), "i long, h array<bigint>"
        )
        h = F.coalesce("h", F.array().cast("array<bigint>"))
        return [
            r.sig
            for r in df.select(
                "i", minhash_signature_from_hashes(h, k).alias("sig")
            )
            .orderBy("i")
            .collect()
        ]

    rng = random.Random(11)
    big = lambda n: [rng.randrange(_MH_PRIME) for _ in range(n)]  # noqa: E731
    # 64 families: max_flat = 125_000, crossed by the second big row
    chunked = [big(70_000), None, [], big(70_000), big(5), None]

    @settings(max_examples=20, deadline=None)
    @given(
        st.lists(
            st.one_of(
                st.none(),
                st.lists(st.integers(0, _MH_PRIME - 1), max_size=12),
            ),
            min_size=1,
            max_size=12,
        ),
        st.sampled_from([1, 3, 16, 64]),
    )
    @example(rows=chunked, k=64)
    def inner(rows, k):
        got = _np_minhash_udf(k).func(pd.Series(rows, dtype=object))
        assert [list(s) for s in got] == jvm_signatures(rows, k)

    inner()


class TestCandidateBudgetGuard:
    """VERDICT r11 #1: the exact-Jaccard path must detect the
    fixed-vocabulary regime (prefix-join candidate bound from the
    posting frequencies) and warn / error / route to MinHash."""

    def _fixed_vocab_corpus(self, spark):
        # every doc drawn from 6 words -> every posting list is long,
        # the candidate bound is large relative to the corpus
        import random

        rng = random.Random(7)
        vocab = [f"v{i}" for i in range(6)]
        rows = [
            (i, " ".join(rng.choice(vocab) for _ in range(10)))
            for i in range(30)
        ]
        return spark.createDataFrame(rows, ["doc_id", "text"])

    def test_estimate_is_upper_bound_and_warns(self, spark):
        corpus = self._fixed_vocab_corpus(spark)
        stats = {}
        with pytest.warns(RuntimeWarning, match="candidate_budget"):
            out = ngram_jaccard_pairs(
                corpus, "text", "doc_id", 2, 0.5,
                candidate_budget=10, budget_action="warn", stats=stats,
            ).collect()
        # warn path stays EXACT
        got = {(r.id_a, r.id_b) for r in out}
        assert got == brute_jaccard_pairs(spark, corpus, 2, 0.5)
        # the estimate bounds the true pre-filter candidate count: with
        # 30 docs it can never exceed sum over prefix shingles of
        # C(30,2) but must be >= the number of surviving exact pairs
        assert stats["candidate_estimate"] >= len(got)
        assert stats["routed"] is False

    def test_under_budget_no_warning(self, spark):
        corpus = self._fixed_vocab_corpus(spark)
        stats = {}
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            ngram_jaccard_pairs(
                corpus, "text", "doc_id", 2, 0.5,
                candidate_budget=10_000_000, budget_action="minhash",
                stats=stats,
            ).collect()
        assert stats["routed"] is False

    def test_error_action_raises(self, spark):
        corpus = self._fixed_vocab_corpus(spark)
        with pytest.raises(CandidateBudgetExceeded):
            ngram_jaccard_pairs(
                corpus, "text", "doc_id", 2, 0.5,
                candidate_budget=10, budget_action="error",
            )

    def test_minhash_action_routes(self, spark, docs):
        stats = {}
        with pytest.warns(RuntimeWarning, match="routing to minhash"):
            out = ngram_jaccard_pairs(
                docs, "text", "doc_id", 3, 0.5,
                candidate_budget=0, budget_action="minhash", stats=stats,
            )
        assert stats["routed"] is True
        pairs = {(r.id_a, r.id_b) for r in out.collect()}
        # the routed path is the MinHash pipeline: exact dup + near dup
        # still surface, schema identical
        assert (1, 4) in pairs
        assert out.columns == ["id_a", "id_b", "jaccard"]

    def test_bad_action_rejected(self, spark, docs):
        with pytest.raises(ValueError, match="budget_action"):
            ngram_jaccard_pairs(
                docs, "text", "doc_id", 3, 0.5,
                candidate_budget=1, budget_action="nope",
            )

    def test_no_budget_no_extra_job(self, spark, docs):
        # default path: estimate never computed, stats untouched
        stats = {}
        ngram_jaccard_pairs(
            docs, "text", "doc_id", 3, 0.5, stats=stats
        ).collect()
        assert stats == {}


def brute_containment_pairs(spark, docs, n, threshold):
    base = docs.select(
        "doc_id", F.array_distinct(word_shingles(words("text"), n)).alias("sh")
    ).collect()
    out = {}
    for a in base:
        for b in base:
            if a.doc_id == b.doc_id:
                continue
            sa, sb = set(a.sh), set(b.sh)
            if sa and round(len(sa & sb) / len(sa), 6) >= threshold:
                out[(a.doc_id, b.doc_id)] = round(len(sa & sb) / len(sa), 6)
    return out


class TestContainmentBudgetGuard:
    """VERDICT r12 #3: the containment join shares the Jaccard join's
    prefix-posting architecture, so it gets the same budget guard —
    exact Sum(df-1) bound over the prefix rows, warn / error / route
    to the banded containment approximation."""

    def _fixed_vocab_corpus(self, spark):
        import random

        rng = random.Random(7)
        vocab = [f"v{i}" for i in range(6)]
        rows = [
            (i, " ".join(rng.choice(vocab) for _ in range(10)))
            for i in range(30)
        ]
        return spark.createDataFrame(rows, ["doc_id", "text"])

    def test_estimate_is_upper_bound_and_warns(self, spark):
        from graphkb_spark.operators.dedup import ngram_containment_pairs

        corpus = self._fixed_vocab_corpus(spark)
        stats = {}
        with pytest.warns(RuntimeWarning, match="candidate_budget"):
            out = ngram_containment_pairs(
                corpus, "text", "doc_id", 2, 0.5,
                candidate_budget=10, budget_action="warn", stats=stats,
            ).collect()
        # warn path stays EXACT (directed pairs + values vs brute force)
        got = {(r.id_a, r.id_b): r.containment for r in out}
        assert got == brute_containment_pairs(spark, corpus, 2, 0.5)
        assert stats["candidate_estimate"] >= len(got)
        assert stats["routed"] is False

    def test_under_budget_no_warning(self, spark):
        from graphkb_spark.operators.dedup import ngram_containment_pairs

        corpus = self._fixed_vocab_corpus(spark)
        stats = {}
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            ngram_containment_pairs(
                corpus, "text", "doc_id", 2, 0.5,
                candidate_budget=10_000_000, budget_action="minhash",
                stats=stats,
            ).collect()
        assert stats["routed"] is False

    def test_error_action_raises(self, spark):
        from graphkb_spark.operators.dedup import ngram_containment_pairs

        corpus = self._fixed_vocab_corpus(spark)
        with pytest.raises(CandidateBudgetExceeded):
            ngram_containment_pairs(
                corpus, "text", "doc_id", 2, 0.5,
                candidate_budget=10, budget_action="error",
            )

    def test_route_action_routes_to_banded_containment(self, spark):
        from graphkb_spark.operators.dedup import ngram_containment_pairs

        small = "alpha beta gamma delta epsilon"
        big = small + " zeta eta theta iota kappa lam mu nu xi omicron pi rho"
        df = spark.createDataFrame(
            [(1, small), (2, big), (3, "totally unrelated text body here"),
             (4, small)],
            ["doc_id", "text"],
        )
        stats = {}
        with pytest.warns(RuntimeWarning, match="routing to containment"):
            out = ngram_containment_pairs(
                df, "text", "doc_id", 3, 0.5,
                candidate_budget=0, budget_action="minhash", stats=stats,
            )
        assert stats["routed"] is True
        assert out.columns == ["id_a", "id_b", "containment"]
        got = {(r.id_a, r.id_b): r.containment for r in out.collect()}
        # exact dup pair always collides in the bands, both directions,
        # containment 1.0 on the hashed domain
        assert got[(1, 4)] == 1.0 and got[(4, 1)] == 1.0
        # directed: whenever the small-in-big pair survives banding it
        # must appear as (1, 2) with containment 1.0, never (2, 1)
        assert (2, 1) not in got
        assert all(a != 3 and b != 3 for a, b in got)

    def test_bad_action_rejected(self, spark, docs):
        from graphkb_spark.operators.dedup import ngram_containment_pairs

        with pytest.raises(ValueError, match="budget_action"):
            ngram_containment_pairs(
                docs, "text", "doc_id", 3, 0.5,
                candidate_budget=1, budget_action="nope",
            )

    def test_no_budget_no_extra_job(self, spark, docs):
        from graphkb_spark.operators.dedup import ngram_containment_pairs

        stats = {}
        ngram_containment_pairs(
            docs, "text", "doc_id", 3, 0.5, stats=stats
        ).collect()
        assert stats == {}


def test_containment_lsh_matches_exact_on_near_same_size(spark):
    """The routed path's keep-case: near-same-size partial copies
    (high containment AND moderate jaccard) must survive banding and
    verify with the same directed containment values as the exact
    join computes on the hashed domain."""
    from graphkb_spark.operators.dedup import containment_lsh_pairs

    rows = [
        (1, "one two three four five six seven eight nine ten"),
        (2, "one two three four five six seven eight nine eleven"),
        (3, "spark catalyst tungsten arrow parquet shuffle codegen"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b): r.containment
        for r in containment_lsh_pairs(
            df, "text", "doc_id", num_hashes=64, bands=32, shingle_n=2,
            containment_threshold=0.5,
        ).collect()
    }
    # docs 1/2 share 8 of 9 distinct 2-shingles each -> containment
    # 8/9 both ways (hashed domain, no collisions at this scale)
    assert got[(1, 2)] == round(8 / 9, 6)
    assert got[(2, 1)] == round(8 / 9, 6)
    assert all(a != 3 and b != 3 for a, b in got)


def test_minhash_finds_near_dups(spark, docs):
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            docs, "text", "doc_id", num_hashes=64, bands=16, jaccard_threshold=0.5
        ).collect()
    }
    assert (1, 4) in pairs  # exact dup always collides
    assert (1, 2) in pairs  # near dup
    assert (2, 4) in pairs
    # verified jaccard filter keeps unrelated docs out
    assert all(a in (1, 2, 4) and b in (1, 2, 4) for a, b in pairs)


def test_soft_dedup_sample_weights_and_mass(spark):
    """Muennighoff-style soft dedup: weight = 1/n_copies, so each
    duplicate cluster contributes exactly one document-equivalent of
    probability mass; the hash-Bernoulli keep is deterministic."""
    from graphkb_spark.operators.dedup import soft_dedup_sample

    rows = (
        [(i, "common boilerplate page") for i in range(3)]
        + [(10, "unique doc ten"), (11, "unique doc eleven")]
        + [(20, "pair text"), (21, "pair text")]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in soft_dedup_sample(df, "text", "doc_id").collect()}
    assert len(out) == 7  # one row per input doc, none dropped
    assert all(out[i].n_copies == 3 for i in range(3))
    assert out[10].n_copies == 1 and out[10].weight == 1.0 and out[10].keep
    assert out[20].n_copies == 2 and out[20].weight == 0.5
    # per-cluster mass sums to one doc-equivalent
    assert abs(sum(out[i].weight for i in range(3)) - 1.0) < 1e-5
    # deterministic across reruns
    rerun = {r.doc_id: r.keep for r in soft_dedup_sample(df, "text", "doc_id").collect()}
    assert rerun == {k: v.keep for k, v in out.items()}


def test_simhash_near_dups(spark, docs):
    pairs = {
        (r.id_a, r.id_b)
        for r in simhash_near_dups(docs, "text", "doc_id", max_hamming=10).collect()
    }
    assert (1, 4) in pairs


@pytest.fixture()
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.9, 0.1]),
        (4, [0.0, 0.0, 1.0]),
        (5, [0.1, 0.0, 0.9]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_cosine_topk_exact(spark, vectors):
    out = cosine_topk(vectors, vectors.filter("vec_id = 0"), k=2)
    got = [(r.neighbor_id, r.rank) for r in out.orderBy("rank").collect()]
    assert got[0] == (1, 1)  # closest to [1,0,0]


def test_lsh_and_ivf_return_ranked_neighbors(spark, vectors):
    for fn in (lsh_topk, ivf_topk):
        kwargs = {"n_planes": 2} if fn is lsh_topk else {"n_centroids": 3, "nprobe": 3}
        out = fn(vectors, vectors.filter("vec_id = 0"), k=2, **kwargs).collect()
        assert all(r.query_id == 0 and r.neighbor_id != 0 for r in out)
        assert len(out) <= 2


def test_connected_components(spark):
    """Near-dup clustering: min-label propagation over the pair graph;
    singletons map to themselves, chains collapse to the min id."""
    from graphkb_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 1)], "id_a int, id_b int"
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 5, 6, 8, 9]], "id int")
    out = {r.node: r.comp for r in connected_components(pairs, nodes).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 8: 1, 5: 5, 6: 5, 9: 9}


def test_stratified_sample_and_cap(spark):
    """Deterministic hash sampling: md5-keyed buckets (stable across
    runs/engines), per-stratum rates, per-stratum top-k cap."""
    from graphkb_spark.operators.sampling import (
        hash_bucket,
        stratified_sample,
        stratum_cap,
    )
    import pyspark.sql.functions as F
    import hashlib

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "zh", i * 10) for i in range(40)],
        "id int, lang string, size int",
    )
    out = stratified_sample(df, "id", "lang", rates={"en": 30}, default_rate=100)
    got = {r.id for r in out.collect()}
    for i in range(40):
        bucket = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 100
        expect = bucket < (30 if i % 2 == 0 else 100)
        assert (i in got) == expect, (i, bucket)
    # determinism: second run identical
    assert {r.id for r in out.collect()} == got

    capped = stratum_cap(df, ["lang"], [F.col("size").desc()], k=2)
    rows = capped.collect()
    assert len(rows) == 4
    assert {r.id for r in rows if r.lang == "en"} == {38, 36}
    assert {r.id for r in rows if r.lang == "zh"} == {39, 37}


def test_bm25_scores(spark):
    """BM25: rarer terms weigh more; longer docs are length-penalized;
    docs without any query term are omitted."""
    from graphkb_spark.operators.sampling import bm25_scores

    df = spark.createDataFrame(
        [
            (1, "spark spark query table"),
            (2, "spark table row value line batch window merge"),
            (3, "table row value"),
        ],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r.bm25 for r in
            bm25_scores(df, "text", "doc_id", ["spark", "merge"]).collect()}
    assert set(rows) == {1, 2}          # doc 3 has no query term
    assert rows[1] > 0 and rows[2] > 0
    # doc 2 matches the rarer term 'merge' as well -> higher total
    assert rows[2] > rows[1]


def test_quantize_embeddings(spark):
    """int8 symmetric quantization: q = round(x/scale), scale =
    max|x|/127; max element maps to +-127 and reconstruction error is
    bounded by scale/2."""
    from graphkb_spark.operators.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id int, embedding array<float>",
    )
    rows = {r.vec_id: r for r in quantize_embeddings(df).collect()}
    assert rows[1].qvec == [127, -64, 32]
    assert abs(rows[1].qscale - 1.0 / 127) < 1e-12
    assert rows[1].recon_err <= rows[1].qscale / 2 + 1e-12
    assert rows[2].qvec == [0, 0, 0]  # zero vector guarded by the eps floor


def test_embedding_near_dups(spark):
    """A planted duplicate / near-duplicate vector pair must be found
    (identical vectors always share every sign-LSH bucket); orthogonal
    vectors must never be compared as dups."""
    from graphkb_spark.operators.similarity import embedding_near_dups

    base = [1.0, 2.0, -3.0, 0.5] * 4
    near = [x * 1.02 + (0.01 if i % 3 == 0 else 0.0) for i, x in enumerate(base)]
    ortho = [(1.0 if i % 2 == 0 else -1.0) * (i + 1) for i in range(16)]
    vecs = spark.createDataFrame(
        [(1, base), (2, near), (3, ortho), (4, list(base))],
        "vec_id long, embedding array<double>",
    )
    pairs = {
        (r.id_a, r.id_b): r.cos_sim
        for r in embedding_near_dups(vecs, threshold=0.95, n_planes=4).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.99
    assert (1, 4) in pairs and pairs[(1, 4)] == pytest.approx(1.0)
    assert not any(3 in p for p in pairs)


def test_ivf_nprobe_tuning_matches_direct_runs(spark):
    """The one-pass curve must equal running ivf_topk once per nprobe
    and measuring recall against the brute-force truth directly — any
    candidate outranking a truth neighbor inside a probed cell is
    itself a truth pair, so within-candidate top-k never drops a
    reachable truth neighbor (ties break neighbor_id asc in both).
    Also pins monotonicity and the recall=1.0 endpoint."""
    from graphkb_spark.operators.similarity import (
        cosine_topk,
        ivf_nprobe_tuning,
        ivf_topk,
    )

    import math

    vecs = spark.createDataFrame(
        [
            (i, [math.sin(0.7 * i + d * 1.3) + (i % 5) for d in range(8)])
            for i in range(40)
        ],
        "vec_id long, embedding array<double>",
    )
    queries = vecs.filter(F.col("vec_id") < 3)
    k, C = 3, 4
    curve = {
        r.nprobe: r
        for r in ivf_nprobe_tuning(
            vecs, queries, k=k, n_centroids=C
        ).collect()
    }
    assert set(curve) == set(range(1, C + 1))
    truth = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(vecs, queries, k=k).collect()
    }
    assert all(r.n_truth == len(truth) for r in curve.values())
    recalls = [curve[p].avg_recall for p in range(1, C + 1)]
    assert recalls == sorted(recalls)  # monotone
    assert recalls[-1] == pytest.approx(1.0)  # full probe = exact
    for p in range(1, C + 1):
        got = {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk(vecs, queries, k=k, n_centroids=C, nprobe=p).collect()
        }
        direct = round(len(got & truth) / len(truth), 4)
        assert curve[p].avg_recall == pytest.approx(direct), (
            f"nprobe={p}: curve {curve[p].avg_recall} vs direct {direct}"
        )


def test_semantic_decontaminate(spark):
    """Verbatim-embedded corpus doc flags against its eval twin; an
    orthogonal doc stays clean; a doc equidistant from two eval items
    attributes the LOWEST eval id (the max(struct(cos,-id)) tie
    contract); every corpus doc appears exactly once (report shape)."""
    from graphkb_spark.operators.similarity import semantic_decontaminate

    e1 = [1.0, 0.0, 0.0, 0.0]
    e2 = [0.0, 1.0, 0.0, 0.0]
    evals = spark.createDataFrame(
        [(100, e1), (200, e2)], "vec_id long, embedding array<double>"
    )
    corpus = spark.createDataFrame(
        [
            (1, [2.0, 0.0, 0.0, 0.0]),   # colinear with eval 100 -> cos 1
            (2, [0.0, 0.0, 3.0, 4.0]),   # orthogonal to both -> cos 0
            (3, [1.0, 1.0, 0.0, 0.0]),   # tie: cos 1/sqrt(2) to both
        ],
        "vec_id long, embedding array<double>",
    )
    rows = {
        r.doc_id: r
        for r in semantic_decontaminate(corpus, evals, threshold=0.9).collect()
    }
    assert set(rows) == {1, 2, 3}
    assert rows[1].contaminated and rows[1].max_cos == pytest.approx(1.0)
    assert rows[1].nearest_eval_id == 100
    assert not rows[2].contaminated and rows[2].max_cos == pytest.approx(0.0)
    assert not rows[3].contaminated  # 0.7071 < 0.9
    assert rows[3].nearest_eval_id == 100  # tie -> lowest eval id
    assert rows[3].max_cos == pytest.approx(0.7071, abs=1e-4)


def test_quantized_topk_matches_exact(spark, vectors):
    """int8 candidate generation + full-precision rerank must agree
    with the exact brute-force ranking when m covers the corpus."""
    from graphkb_spark.operators.similarity import quantized_topk

    queries = vectors.filter("vec_id = 0")
    exact = [
        (r.neighbor_id, r.rank)
        for r in cosine_topk(vectors, queries, k=3).orderBy("rank").collect()
    ]
    quant = [
        (r.neighbor_id, r.rank)
        for r in quantized_topk(vectors, queries, k=3, m=10).orderBy("rank").collect()
    ]
    assert quant == exact


def test_edit_distance_pairs_exact_recall(spark):
    """Deletion-neighborhood blocking recalls every distance<=1 pair
    (substitution, deletion, insertion, exact dup) and nothing farther."""
    from graphkb_spark.operators.dedup import edit_distance_pairs

    rows = [
        (1, "imatinib"), (2, "imatinyb"),   # substitution -> 1
        (3, "imatini"),                     # deletion of 1 -> 1
        (4, "imatinib"),                    # exact dup of 1 -> 0
        (5, "dasatinib"),                   # ed 2+ from imatinib family
    ]
    df = spark.createDataFrame(rows, ["pid", "name"])
    got = {(r.id_a, r.id_b): r.dist for r in edit_distance_pairs(df, "name", "pid").collect()}
    assert got[(1, 2)] == 1 and got[(1, 3)] == 1 and got[(1, 4)] == 0
    assert (2, 4) in got and got[(2, 4)] == 1
    assert (3, 4) in got and got[(3, 4)] == 1
    assert not any(5 in p for p in got)
    # (2,3) is distance 2 (substitution + deletion) -> excluded
    assert (2, 3) not in got


def test_edit_distance_pairs_k2_recall(spark):
    """The 2-deletion neighborhood recalls every distance<=2 pair —
    verified against brute-force levenshtein over all pairs — and the
    API rejects unsupported depths instead of silently under-recalling."""
    import itertools

    import pytest

    from graphkb_spark.operators.dedup import edit_distance_pairs

    rows = [
        (1, "imatinib"), (2, "imatinyb"), (3, "imatini"), (4, "imatinib"),
        (5, "imatynyb"),      # 2 substitutions from 1
        (6, "imatin"),        # 2 deletions from 1
        (7, "ximatinibz"),    # 2 insertions from 1
        (8, "matinyb"),       # deletion + substitution from 1
        (9, "dasatinib"), (10, "nilotinib"), (11, ""),
    ]

    def ed(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[len(b)]

    want = {
        (i, j): ed(a, b)
        for (i, a), (j, b) in itertools.combinations(rows, 2)
        if ed(a, b) <= 2
    }
    df = spark.createDataFrame(rows, ["pid", "name"])
    got = {
        (r.id_a, r.id_b): r.dist
        for r in edit_distance_pairs(df, "name", "pid", max_dist=2).collect()
    }
    assert got == want

    with pytest.raises(ValueError, match="max_dist=3"):
        edit_distance_pairs(df, "name", "pid", max_dist=3)


def test_contamination_flags(spark, docs):
    """Docs sharing their shingles with the benchmark set get flagged;
    disjoint docs don't."""
    from graphkb_spark.operators.dedup import contamination_flags

    bench = docs.filter("doc_id = 1")  # doc 4 is its exact dup, 2 near-dup
    out = {r.doc_id: r for r in
           contamination_flags(docs, bench, "text", "doc_id", threshold=0.5).collect()}
    assert out[4].contaminated and out[4].hit_frac == 1.0
    assert out[1].contaminated  # the benchmark doc itself overlaps fully
    assert out[2].contaminated  # near-dup: most shingles shared
    assert not out[3].contaminated and out[3].n_hit == 0
    assert not out[5].contaminated


def test_contamination_flags_null_text(spark, docs):
    """A null-text document still gets a report row (contaminated=false,
    n_shingles=0) instead of silently dropping out."""
    from pyspark.sql import functions as F

    from graphkb_spark.operators.dedup import contamination_flags

    with_null = docs.withColumn(
        "text", F.when(F.col("doc_id") == 3, F.lit(None)).otherwise(F.col("text"))
    )
    out = {r.doc_id: r for r in
           contamination_flags(with_null, docs.filter("doc_id = 1"),
                               "text", "doc_id", threshold=0.5).collect()}
    assert set(out) == {r.doc_id for r in docs.select("doc_id").collect()}
    row = out[3]
    assert not row.contaminated
    assert row.n_shingles == 0 and row.n_hit == 0 and row.hit_frac == 0.0


def test_star_cc_matches_label_prop_bruteforce(spark):
    """The alternating large/small-star variant must produce the exact
    (node, min-reachable-id) labeling of the default algorithm on an
    assorted graph: chains, a cycle, a clique, singletons."""
    from graphkb_spark.operators.dedup import connected_components

    edges = [(1, 2), (2, 3), (5, 6), (8, 1), (10, 11), (11, 12),
             (12, 10), (20, 21), (20, 22), (21, 22)]
    node_ids = sorted({n for e in edges for n in e} | {9, 99})
    pairs = spark.createDataFrame(edges, "id_a int, id_b int")
    nodes = spark.createDataFrame([(i,) for i in node_ids], "id int")
    want = {
        r.node: r.comp
        for r in connected_components(pairs, nodes).collect()
    }
    got = {
        r.node: r.comp
        for r in connected_components(
            pairs, nodes, algorithm="star"
        ).collect()
    }
    assert got == want
    assert got[12] == 10 and got[22] == 20 and got[9] == 9


def test_star_cc_path_graph_logarithmic_rounds(spark):
    """A 100-link chain is the pathological case for min-label
    propagation (O(diameter) ~ 100 rounds); the star contraction must
    label it correctly in O(log n) rounds — the reason the flag
    exists."""
    from graphkb_spark.operators.dedup import connected_components

    n = 100
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a int, id_b int"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id int")
    stats = {}
    out = connected_components(
        pairs, nodes, algorithm="star", max_iter=25, stats=stats
    )
    labels = {r.node: r.comp for r in out.collect()}
    assert labels == {i: 0 for i in range(n)}
    assert stats["rounds"] <= 10, stats


def brute_repeated_spans(rows, k, min_count):
    """Literal ExactSubstr reference: normalize, k-grams with
    positions, corpus-wide counts, merge duplicated positions whose
    gap <= k into maximal spans."""
    import re
    from collections import Counter

    toks = {
        i: [w for w in re.sub(r"[^a-z0-9 ]", " ", t.lower().strip()).split() if w]
        for i, t in rows
    }
    grams = {
        i: [" ".join(w[p:p + k]) for p in range(len(w) - k + 1)]
        for i, w in toks.items() if len(w) >= k
    }
    counts = Counter(g for gs in grams.values() for g in gs)
    out = set()
    for i, gs in grams.items():
        dup = [p for p, g in enumerate(gs) if counts[g] >= min_count]
        start = prev = None
        for p in dup:
            if start is None:
                start = prev = p
            elif p - prev > k:
                out.add((i, start, prev + k - 1, prev + k - start))
                start = prev = p
            else:
                prev = p
        if start is not None:
            out.add((i, start, prev + k - 1, prev + k - start))
    return out


def test_repeated_spans_matches_bruteforce(spark):
    """Cross-doc shared passages, a within-doc repeat, docs shorter
    than k, and a random small-vocab corpus — spans must equal the
    literal reference exactly."""
    import random

    from graphkb_spark.operators.dedup import repeated_spans

    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(9)]
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "x y alpha beta gamma delta epsilon q r s t u v w"),
        (3, "one two three four five six seven eight nine ten"),
        (4, "p q one two three four five p q one two three four five"),
        (5, "too short"),
    ] + [
        (10 + i, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 20))))
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for k, mc in [(5, 2), (3, 2), (3, 3)]:
        got = {
            (r.doc_id, r.span_start, r.span_end, r.span_tokens)
            for r in repeated_spans(df, "text", "doc_id", k=k, min_count=mc).collect()
        }
        assert got == brute_repeated_spans(rows, k, mc), (k, mc)


def test_cut_repeated_spans_matches_bruteforce(spark):
    """The cleaning pass must keep exactly the tokens outside the
    brute-force spans, in order; fully-duplicated docs come back
    empty, sub-k docs untouched."""
    import re

    from graphkb_spark.operators.dedup import cut_repeated_spans

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "x y alpha beta gamma delta epsilon q r s t u v w"),
        (3, "one two three four five six seven eight nine ten"),
        (4, "p q one two three four five p q one two three four five"),
        (5, "too short"),
    ]
    k, mc = 5, 2
    spans = brute_repeated_spans(rows, k, mc)
    want = {}
    for i, t in rows:
        w = [x for x in re.sub(r"[^a-z0-9 ]", " ", t.lower().strip()).split() if x]
        cov = set()
        for (d, s, e, _n) in spans:
            if d == i:
                cov.update(range(s, e + 1))
        kept = [x for p, x in enumerate(w) if p not in cov]
        want[i] = (len(w), len(w) - len(kept), " ".join(kept))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_tokens, r.removed_tokens, r.clean_text)
        for r in cut_repeated_spans(df, "text", "doc_id", k=k, min_count=mc).collect()
    }
    assert got == want
    assert got[4][2] == "" and got[5][1] == 0


def test_exact_substring_contamination_bruteforce(spark):
    """GPT-3-style k-gram decontamination vs a literal reference:
    verbatim leaked span -> contaminated; fuzzy similarity below a
    full k-gram -> clean; short docs never contaminated."""
    import re

    from graphkb_spark.operators.dedup import exact_substring_contamination

    corpus_rows = [
        (1, "the quick brown fox jumps over the lazy dog today morning"),
        (2, "completely different text about catalyst and tungsten engines"),
        (3, "prefix words then the secret eval passage appears here verbatim ok"),
        (4, "short doc"),
        (5, "the secret eval passage appears here but truncated"),
    ]
    bench_rows = [
        (100, "the secret eval passage appears here verbatim and more"),
        (101, "the quick brown fox jumps over the lazy dog today evening"),
    ]
    k, mh = 6, 1

    def toks(t):
        return [w for w in re.sub(r"[^a-z0-9 ]", " ", t.lower().strip()).split() if w]

    bgrams = set()
    for _, t in bench_rows:
        w = toks(t)
        bgrams.update(" ".join(w[p:p + k]) for p in range(len(w) - k + 1))
    want = {}
    for i, t in corpus_rows:
        w = toks(t)
        gs = [" ".join(w[p:p + k]) for p in range(len(w) - k + 1)]
        hits = sum(1 for g in gs if g in bgrams)
        want[i] = (max(len(w) - k + 1, 0), hits, hits >= mh)
    corpus = spark.createDataFrame(corpus_rows, ["doc_id", "text"])
    bench = spark.createDataFrame(bench_rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_grams, r.k_gram_hits, r.contaminated)
        for r in exact_substring_contamination(
            corpus, bench, "text", "doc_id", k=k, min_hits=mh
        ).collect()
    }
    assert got == want
    assert got[1][2] and got[3][2]        # leaked spans flagged
    assert got[2][2] is False             # unrelated doc clean
    assert got[4] == (0, 0, False)        # sub-k doc never contaminated


def test_exact_substring_contamination_broadcast_off_identical(spark):
    """ADVICE r11: broadcast=False (the oversized-benchmark escape)
    must change only the join strategy, never the result."""
    from graphkb_spark.operators.dedup import exact_substring_contamination

    corpus = spark.createDataFrame(
        [(i, f"filler w{i} the secret eval passage appears here verbatim t{i}")
         for i in range(8)] + [(99, "tiny")],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(0, "the secret eval passage appears here verbatim")],
        ["doc_id", "text"],
    )
    on = sorted(map(tuple, exact_substring_contamination(
        corpus, bench, "text", "doc_id", k=6, broadcast=True).collect()))
    off = sorted(map(tuple, exact_substring_contamination(
        corpus, bench, "text", "doc_id", k=6, broadcast=False).collect()))
    assert on == off
    assert any(r[3] for r in on)  # the leaked span is flagged either way


def test_benchmark_leak_report_bruteforce(spark):
    """Reverse-direction decontamination report vs a literal Python
    reference: per eval item, distinct-gram totals, leaked-gram and
    leaking-doc counts; sub-k items report zeros and never leak."""
    import re

    from graphkb_spark.operators.dedup import benchmark_leak_report

    corpus_rows = [
        (1, "aa bb the secret eval passage appears here verbatim xx"),
        (2, "cc dd the secret eval passage appears here verbatim yy"),
        (3, "completely different text about catalyst and tungsten engines"),
    ]
    bench_rows = [
        (100, "pad the secret eval passage appears here verbatim pad2"),
        (101, "an uncompromised question about quantum chromodynamics today"),
        (102, "tiny"),
    ]
    k = 6

    def toks(t):
        return [w for w in re.sub(r"[^a-z0-9 ]", " ", t.lower().strip()).split() if w]

    cg = {}
    for i, t in corpus_rows:
        w = toks(t)
        cg[i] = {tuple(w[p:p + k]) for p in range(len(w) - k + 1)}
    want = {}
    for i, t in bench_rows:
        w = toks(t)
        bg = {tuple(w[p:p + k]) for p in range(max(len(w) - k + 1, 0))}
        leaked = {g for g in bg if any(g in s for s in cg.values())}
        docs = {c for c, s in cg.items() if s & bg}
        frac = round(len(leaked) / len(bg), 6) if bg else 0.0
        want[i] = (len(bg), len(leaked), len(docs), frac, len(docs) >= 1)
    corpus = spark.createDataFrame(corpus_rows, ["doc_id", "text"])
    bench = spark.createDataFrame(bench_rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_distinct_grams, r.leaked_grams, r.leaking_docs,
                   r.leaked_frac, r.leaked)
        for r in benchmark_leak_report(
            corpus, bench, "text", "doc_id", k=k
        ).collect()
    }
    assert got == want
    assert got[100][2] == 2 and got[100][4]      # both leaking docs counted
    assert got[101] == (2, 0, 0, 0.0, False)     # clean item (7 tokens -> 2 grams)
    assert got[102] == (0, 0, 0, 0.0, False)     # sub-k item
    # broadcast modes identical
    off = {
        r.doc_id: (r.n_distinct_grams, r.leaked_grams, r.leaking_docs,
                   r.leaked_frac, r.leaked)
        for r in benchmark_leak_report(
            corpus, bench, "text", "doc_id", k=k, broadcast=False
        ).collect()
    }
    assert off == got


def test_benchmark_leak_spans_bruteforce(spark):
    """Per-span leak attribution vs a literal Python reference: for
    every (eval item, corpus doc) pair sharing a verbatim k-gram, the
    maximal merged spans in the corpus doc's token coordinates —
    separated leaks stay separate rows, adjacent/overlapping ones
    merge, non-leaking pairs emit nothing."""
    import re

    from graphkb_spark.operators.dedup import benchmark_leak_spans

    corpus_rows = [
        (1, "aa bb cc the secret eval passage appears here verbatim xx yy"),
        (2, "completely different text about catalyst and tungsten engines"),
        (3, "one two the secret eval passage appears here verbatim three "
            "four five six seven eight nine the secret eval passage appears "
            "here verbatim ten"),
        (4, "an uncompromised question about quantum chromodynamics today"),
    ]
    bench_rows = [
        (100, "pad the secret eval passage appears here verbatim pad2"),
        (101, "an uncompromised question about quantum chromodynamics today"),
        (102, "tiny"),
    ]
    k = 6

    def toks(t):
        return [w for w in re.sub(r"[^a-z0-9 ]", " ", t.lower().strip()).split() if w]

    bgrams = {
        b: {tuple(toks(t)[p:p + k])
            for p in range(max(len(toks(t)) - k + 1, 0))}
        for b, t in bench_rows
    }
    want = set()
    for cid, t in corpus_rows:
        w = toks(t)
        for bid, bg in bgrams.items():
            hitp = sorted(
                p for p in range(max(len(w) - k + 1, 0))
                if tuple(w[p:p + k]) in bg
            )
            spans, cur = [], None
            for p in hitp:
                if cur is not None and p - cur[1] <= k:
                    cur = (cur[0], p)
                else:
                    if cur is not None:
                        spans.append(cur)
                    cur = (p, p)
            if cur is not None:
                spans.append(cur)
            for s, e in spans:
                want.add((bid, cid, s, e + k - 1, e + k - 1 - s + 1))
    got = {
        (r.bench_id, r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in benchmark_leak_spans(
            spark.createDataFrame(corpus_rows, ["doc_id", "text"]),
            spark.createDataFrame(bench_rows, ["doc_id", "text"]),
            "text", "doc_id", k=k,
        ).collect()
    }
    assert got == want
    # item 100 leaks into docs 1 and 3; doc 3 has TWO separate spans
    assert len([r for r in got if r[0] == 100 and r[1] == 3]) == 2
    # item 101 attributes only to its verbatim copy, doc 4
    assert {r[1] for r in got if r[0] == 101} == {4}
    # sub-k item 102 and clean doc 2 never appear
    assert not any(r[0] == 102 or r[1] == 2 for r in got)
    # broadcast modes identical
    off = {
        (r.bench_id, r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in benchmark_leak_spans(
            spark.createDataFrame(corpus_rows, ["doc_id", "text"]),
            spark.createDataFrame(bench_rows, ["doc_id", "text"]),
            "text", "doc_id", k=k, broadcast=False,
        ).collect()
    }
    assert off == got
    with pytest.raises(ValueError, match="broadcast"):
        benchmark_leak_spans(
            spark.createDataFrame(corpus_rows, ["doc_id", "text"]),
            spark.createDataFrame(bench_rows, ["doc_id", "text"]),
            "text", "doc_id", k=k, broadcast="always",
        )


def test_benchmark_leak_spans_consistent_with_report(spark):
    """Cross-operator invariant: the set of (item, doc) pairs with at
    least one attributed span must equal the pairs the leak REPORT
    counts — leaking_docs per item == distinct docs attributed, and
    items with leaked=false attribute nothing."""
    from graphkb_spark.operators.dedup import (
        benchmark_leak_report,
        benchmark_leak_spans,
    )

    corpus = spark.createDataFrame(
        [(i, f"w{i} the secret eval passage appears here verbatim t{i}")
         for i in range(5)] + [(9, "nothing in common with anything here at all")],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "pad the secret eval passage appears here verbatim pad2"),
         (101, "an uncompromised question about quantum chromodynamics today")],
        ["doc_id", "text"],
    )
    spans = benchmark_leak_spans(corpus, bench, "text", "doc_id", k=6).collect()
    report = {r.doc_id: r for r in benchmark_leak_report(
        corpus, bench, "text", "doc_id", k=6).collect()}
    docs_per_item: dict = {}
    for r in spans:
        docs_per_item.setdefault(r.bench_id, set()).add(r.doc_id)
    for bid, rep in report.items():
        assert rep.leaking_docs == len(docs_per_item.get(bid, set()))
        assert rep.leaked == (bid in docs_per_item)


def test_benchmark_leak_report_oversized_gates_fillin_hints(spark):
    """ADVICE r13: when the auto size check declines to broadcast the
    digest side, the eval-bounded fill-in joins must NOT keep forced
    broadcast hints — the oversized case degrades to AQE planning
    everywhere, with identical results."""
    from graphkb_spark.operators.dedup import benchmark_leak_report

    corpus = spark.createDataFrame(
        [(i, f"w{i} the secret eval passage appears here verbatim t{i}")
         for i in range(6)],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(0, "the secret eval passage appears here verbatim")],
        ["doc_id", "text"],
    )
    over = benchmark_leak_report(
        corpus, bench, "text", "doc_id", k=6, broadcast_max_digests=0
    )
    # no forced hint survives in the analyzed plan when the check says no
    assert "ResolvedHint" not in over._jdf.queryExecution().analyzed().toString()
    normal = benchmark_leak_report(corpus, bench, "text", "doc_id", k=6)
    assert sorted(map(tuple, over.collect())) == sorted(
        map(tuple, normal.collect())
    )


def test_leakage_safe_split_invariants(spark):
    """The whole point of the construction, asserted: (1) every
    member of a near-dup component gets the SAME split (zero clusters
    straddle a boundary); (2) components match connected_components
    over the same pair input; (3) the split of a component equals
    split_assign of its component id (determinism — membership can
    never migrate between dataset versions); (4) every input doc
    appears exactly once, singletons included."""
    from graphkb_spark.operators.dedup import (
        connected_components,
        leakage_safe_split,
        minhash_lsh_pairs,
    )
    from graphkb_spark.operators.sampling import split_assign

    # 3 exact-dup families + distinct singletons: LSH finds the dup
    # pairs at threshold 0.6 regardless of banding luck
    fam = [
        "the quick brown fox jumps over the lazy dog again and again",
        "entirely different second family text about spark catalyst "
        "optimizer internals and shuffles",
        "third family discusses minhash banding and jaccard estimates "
        "at some length for the test",
    ]
    rows = [(fi * 100 + c, t) for fi, t in enumerate(fam) for c in range(3)]
    rows += [(9000 + i, f"unique singleton document number {i} with "
                        f"totally unshared words w{i}a w{i}b w{i}c")
             for i in range(4)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = leakage_safe_split(docs, "text", "doc_id").collect()
    assert len(out) == len(rows)
    assert {r.doc_id for r in out} == {i for i, _ in rows}
    by_comp: dict = {}
    for r in out:
        by_comp.setdefault(r.component, set()).add(r.split)
    # (1) zero straddling clusters
    assert all(len(s) == 1 for s in by_comp.values()), by_comp
    # (2) components match the standalone CC over the same pairs
    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id",
        num_hashes=32, bands=16, jaccard_threshold=0.6, hasher="md5",
    )
    cc = {
        r.node: r.comp
        for r in connected_components(
            pairs.select("id_a", "id_b"), docs.select("doc_id"),
            id_col="doc_id",
        ).collect()
    }
    assert {r.doc_id: r.component for r in out} == cc
    # the dup families actually clustered (not all singletons)
    assert sum(1 for c, _ in [(r.component, r) for r in out]) == len(rows)
    assert len(by_comp) == 3 + 4
    # (3) split == split_assign(component id)
    comp_df = spark.createDataFrame(
        [(c,) for c in by_comp], ["comp"]
    )
    expect = {
        r.comp: r.split
        for r in split_assign(comp_df, "comp").collect()
    }
    for r in out:
        assert r.split == expect[r.component]


def test_benchmark_overlap_matrix_bruteforce(spark):
    """Cross-benchmark matrix vs a literal Python reference: per
    ordered set pair, distinct-gram sizes, shared distinct grams,
    directed containment and Jaccard; a gram-less (all sub-k) set
    reports zeros everywhere, never NULL."""
    import re

    from graphkb_spark.operators.dedup import benchmark_overlap_matrix

    rows = [
        ("qa1", 1, "the shared question about entropy appears here today"),
        ("qa1", 2, "a question unique to the first benchmark set only"),
        ("qa2", 3, "the shared question about entropy appears here today"),
        ("qa2", 4, "completely different second set material entirely here"),
        ("qa3", 5, "tiny"),
    ]
    k = 6

    def toks(t):
        return [w for w in re.sub(r"[^a-z0-9 ]", " ", t.lower().strip()).split() if w]

    grams: dict = {}
    for s, _, t in rows:
        w = toks(t)
        grams.setdefault(s, set()).update(
            tuple(w[p:p + k]) for p in range(max(len(w) - k + 1, 0))
        )
    want = set()
    for a in grams:
        for b in grams:
            if a == b:
                continue
            ga, gb = grams[a], grams[b]
            sh = len(ga & gb)
            cont = round(sh / len(ga), 6) if ga else 0.0
            jac = round(sh / len(ga | gb), 6) if ga | gb else 0.0
            want.add((a, b, len(ga), len(gb), sh, cont, jac))
    df = spark.createDataFrame(
        [(s, i, t) for s, i, t in rows], ["bench_set", "doc_id", "text"]
    )
    got = {
        tuple(r)
        for r in benchmark_overlap_matrix(df, "text", "bench_set", k=k).collect()
    }
    assert got == want
    # qa1/qa2 genuinely overlap via the shared question; qa3 is zeros
    byab = {(r[0], r[1]): r for r in got}
    assert byab[("qa1", "qa2")][4] > 0
    assert byab[("qa3", "qa1")] == ("qa3", "qa1", 0, byab[("qa1", "qa2")][2], 0, 0.0, 0.0)
    with pytest.raises(ValueError, match="k must be"):
        benchmark_overlap_matrix(df, "text", "bench_set", k=0)


def test_cut_contaminated_spans_bruteforce(spark):
    """Decontamination surgery vs a literal Python reference: leaked
    k-gram positions merge into maximal spans (gap <= k) and exactly
    those tokens are cut; clean docs and sub-k docs pass through."""
    import re

    from graphkb_spark.operators.dedup import cut_contaminated_spans

    corpus_rows = [
        (1, "aa bb cc the secret eval passage appears here verbatim xx yy zz"),
        (2, "completely different text about catalyst and tungsten engines"),
        (3, "the secret eval passage appears here verbatim"),  # fully leaked
        (4, "tiny doc"),
        (5, "one two the secret eval passage appears here verbatim three "
            "four five six seven eight nine the secret eval passage appears "
            "here verbatim ten"),
    ]
    bench_rows = [(100, "pad the secret eval passage appears here verbatim pad2")]
    k = 6

    def toks(t):
        return [w for w in re.sub(r"[^a-z0-9 ]", " ", t.lower().strip()).split() if w]

    bgrams = set()
    for _, t in bench_rows:
        w = toks(t)
        bgrams.update(tuple(w[p:p + k]) for p in range(len(w) - k + 1))
    want = {}
    for i, t in corpus_rows:
        w = toks(t)
        hitp = [p for p in range(max(len(w) - k + 1, 0))
                if tuple(w[p:p + k]) in bgrams]
        covered = set()
        for p in hitp:
            covered.update(range(p, p + k))
        # island merge is implicit: coverage union == merged spans
        kept = [w[j] for j in range(len(w)) if j not in covered]
        want[i] = (len(w), len(w) - len(kept), " ".join(kept))
    corpus = spark.createDataFrame(corpus_rows, ["doc_id", "text"])
    bench = spark.createDataFrame(bench_rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_tokens, r.removed_tokens, r.clean_text)
        for r in cut_contaminated_spans(
            corpus, bench, "text", "doc_id", k=k
        ).collect()
    }
    assert got == want
    assert got[3][1] == got[3][0]          # fully leaked doc fully cut
    assert got[2][1] == 0 and got[4][1] == 0  # clean + sub-k untouched
    assert got[5][1] > 0                    # two separated leaks both cut


def test_cut_contaminated_spans_broadcast_modes_identical(spark):
    from graphkb_spark.operators.dedup import cut_contaminated_spans

    corpus = spark.createDataFrame(
        [(i, f"w{i} the secret eval passage appears here verbatim t{i}")
         for i in range(6)],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(0, "the secret eval passage appears here verbatim")],
        ["doc_id", "text"],
    )
    outs = [
        sorted(map(tuple, cut_contaminated_spans(
            corpus, bench, "text", "doc_id", k=6, broadcast=b,
            **extra).collect()))
        for b, extra in [
            (True, {}), (False, {}), ("auto", {}),
            ("auto", {"broadcast_max_digests": 0}),
        ]
    ]
    assert outs[0] == outs[1] == outs[2] == outs[3]
    assert all(r[2] > 0 for r in outs[0])  # every doc loses the leak


def test_cut_multi_benchmark_spans_bruteforce(spark):
    """Suite-level surgery vs a literal Python reference: spans are
    cut against the UNION of the sets' k-grams (a token covered by any
    set is removed exactly once), and attribution counts matched
    positions PER SET — a position leaking into two sets appears in
    both sets' hit counts but is cut once. Clean and sub-k docs pass
    through with empty attribution."""
    import re

    from graphkb_spark.operators.dedup import cut_multi_benchmark_spans

    k = 6
    corpus_rows = [
        # leaks set "a" only
        (1, "aa bb the secret eval passage appears here verbatim xx"),
        # leaks set "b" only
        (2, "pp qq another hidden test question shows up intact rr"),
        # leaks BOTH sets (one passage each)
        (3, "the secret eval passage appears here verbatim mid gap pad "
            "another hidden test question shows up intact"),
        (4, "completely different text about catalyst and tungsten"),
        (5, "tiny doc"),
    ]
    bench_rows = [
        ("a", "x the secret eval passage appears here verbatim y"),
        ("b", "z another hidden test question shows up intact w"),
        # duplicate doc inside set a: digests are distinct per set
        ("a", "the secret eval passage appears here verbatim"),
    ]

    def toks(t):
        return [w for w in re.sub(r"[^a-z0-9 ]", " ", t.lower().strip()).split() if w]

    set_grams: dict[str, set] = {}
    for s, t in bench_rows:
        w = toks(t)
        set_grams.setdefault(s, set()).update(
            tuple(w[p:p + k]) for p in range(len(w) - k + 1)
        )
    want = {}
    for i, t in corpus_rows:
        w = toks(t)
        covered = set()
        hits: dict[str, int] = {}
        for p in range(max(len(w) - k + 1, 0)):
            g = tuple(w[p:p + k])
            matched = [s for s, gs in sorted(set_grams.items()) if g in gs]
            if matched:
                covered.update(range(p, p + k))
            for s in matched:
                hits[s] = hits.get(s, 0) + 1
        kept = [w[j] for j in range(len(w)) if j not in covered]
        attribution = ",".join(f"{s}={n}" for s, n in sorted(hits.items()))
        want[i] = (len(w), len(w) - len(kept), " ".join(kept),
                   len(hits), attribution)
    corpus = spark.createDataFrame(corpus_rows, ["doc_id", "text"])
    bench = spark.createDataFrame(bench_rows, ["bench_set", "text"])
    got = {
        r.doc_id: (r.n_tokens, r.removed_tokens, r.clean_text,
                   r.n_leak_sets, r.leak_attribution)
        for r in cut_multi_benchmark_spans(
            corpus, bench, "text", "doc_id", "bench_set", k=k
        ).collect()
    }
    assert got == want
    assert got[3][3] == 2 and "a=" in got[3][4] and "b=" in got[3][4]
    assert got[4] == (got[4][0], 0, got[4][2], 0, "")
    assert got[5][3] == 0 and got[5][4] == ""


def test_cut_multi_benchmark_spans_matches_single_set_union_cut(spark):
    """The cut half must equal cut_contaminated_spans run against the
    union of the sets (same spans, same clean text) — the suite pass
    changes attribution, never surgery."""
    from graphkb_spark.operators.dedup import (
        cut_contaminated_spans,
        cut_multi_benchmark_spans,
    )

    corpus = spark.createDataFrame(
        [(i, f"w{i} the secret eval passage appears here verbatim t{i} "
             f"another hidden test question shows up intact u{i}")
         for i in range(5)] + [(9, "clean text only here")],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(0, "the secret eval passage appears here verbatim"),
         (1, "another hidden test question shows up intact")],
        ["bench_set", "text"],
    )
    multi = cut_multi_benchmark_spans(
        corpus, bench, "text", "doc_id", "bench_set", k=6
    ).select("doc_id", "n_tokens", "removed_tokens", "clean_text")
    single = cut_contaminated_spans(
        corpus, bench, "text", "doc_id", k=6
    )
    assert sorted(map(tuple, multi.collect())) == sorted(
        map(tuple, single.collect())
    )


def test_cut_multi_benchmark_spans_broadcast_modes_identical(spark):
    from graphkb_spark.operators.dedup import cut_multi_benchmark_spans

    corpus = spark.createDataFrame(
        [(i, f"w{i} the secret eval passage appears here verbatim t{i}")
         for i in range(6)],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [("s0", "the secret eval passage appears here verbatim"),
         ("s1", "passage appears here verbatim and trailing words too")],
        ["bench_set", "text"],
    )
    outs = [
        sorted(map(tuple, cut_multi_benchmark_spans(
            corpus, bench, "text", "doc_id", "bench_set", k=6,
            broadcast=b, **extra).collect()))
        for b, extra in [
            (True, {}), (False, {}), ("auto", {}),
            ("auto", {"broadcast_max_digests": 0}),
        ]
    ]
    assert outs[0] == outs[1] == outs[2] == outs[3]
    assert all(r[1] > 0 for r in outs[0])  # every doc loses the leak
    with pytest.raises(ValueError, match="broadcast"):
        cut_multi_benchmark_spans(
            corpus, bench, "text", "doc_id", "bench_set", k=6,
            broadcast="always",
        )
    with pytest.raises(ValueError, match="k"):
        cut_multi_benchmark_spans(
            corpus, bench, "text", "doc_id", "bench_set", k=0
        )


def test_multi_benchmark_contamination_bruteforce(spark):
    """Suite-level flag vs a literal Python reference: k_gram_hits
    counts DISTINCT matched positions against the UNION of sets (a
    position leaking into two sets counts once), while attribution
    counts per set (the same position counts in both sets' hits)."""
    import re

    from graphkb_spark.operators.dedup import multi_benchmark_contamination

    k = 6
    corpus_rows = [
        (1, "aa bb the secret eval passage appears here verbatim xx"),
        (2, "pp qq another hidden test question shows up intact rr"),
        (3, "the secret eval passage appears here verbatim gap pad "
            "another hidden test question shows up intact"),
        (4, "completely different text about catalyst and tungsten"),
        (5, "tiny doc"),
    ]
    bench_rows = [
        ("a", "x the secret eval passage appears here verbatim y"),
        ("b", "z another hidden test question shows up intact w"),
        # the same passage ALSO in set b: positions matching it leak
        # into both sets — hits counts them once, attribution twice
        ("b", "the secret eval passage appears here verbatim"),
    ]

    def toks(t):
        return [w for w in re.sub(r"[^a-z0-9 ]", " ", t.lower().strip()).split() if w]

    set_grams: dict[str, set] = {}
    for s, t in bench_rows:
        w = toks(t)
        set_grams.setdefault(s, set()).update(
            tuple(w[p:p + k]) for p in range(len(w) - k + 1)
        )
    want = {}
    for i, t in corpus_rows:
        w = toks(t)
        n = max(len(w) - k + 1, 0)
        hits = 0
        per: dict[str, int] = {}
        for p in range(n):
            g = tuple(w[p:p + k])
            matched = [s for s in sorted(set_grams) if g in set_grams[s]]
            if matched:
                hits += 1
            for s in matched:
                per[s] = per.get(s, 0) + 1
        attribution = ",".join(f"{s}={c}" for s, c in sorted(per.items()))
        want[i] = (n, hits, hits >= 1, len(per), attribution)
    corpus = spark.createDataFrame(corpus_rows, ["doc_id", "text"])
    bench = spark.createDataFrame(bench_rows, ["bench_set", "text"])
    got = {
        r.doc_id: (r.n_grams, r.k_gram_hits, r.contaminated,
                   r.n_leak_sets, r.leak_attribution)
        for r in multi_benchmark_contamination(
            corpus, bench, "text", "doc_id", "bench_set", k=k
        ).collect()
    }
    assert got == want
    # doc 1's passage is in sets a AND b: hits counted once, both
    # sets attributed with equal counts
    assert got[1][3] == 2
    a_hits = dict(p.split("=") for p in got[1][4].split(","))
    assert a_hits["a"] == a_hits["b"]
    assert int(a_hits["a"]) == got[1][1]
    assert got[4] == (got[4][0], 0, False, 0, "")
    assert got[5] == (0, 0, False, 0, "")


def test_multi_benchmark_contamination_broadcast_modes_identical(spark):
    from graphkb_spark.operators.dedup import multi_benchmark_contamination

    corpus = spark.createDataFrame(
        [(i, f"w{i} the secret eval passage appears here verbatim t{i}")
         for i in range(6)],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [("s0", "the secret eval passage appears here verbatim"),
         ("s1", "passage appears here verbatim and trailing words too")],
        ["bench_set", "text"],
    )
    outs = [
        sorted(map(tuple, multi_benchmark_contamination(
            corpus, bench, "text", "doc_id", "bench_set", k=6,
            broadcast=b, **extra).collect()))
        for b, extra in [
            (True, {}), (False, {}), ("auto", {}),
            ("auto", {"broadcast_max_digests": 0}),
        ]
    ]
    assert outs[0] == outs[1] == outs[2] == outs[3]
    assert all(r[3] for r in outs[0])  # every doc contaminated
    with pytest.raises(ValueError, match="broadcast"):
        multi_benchmark_contamination(
            corpus, bench, "text", "doc_id", "bench_set", k=6,
            broadcast="always",
        )


def test_streaming_multi_decontaminate_equals_batch(spark, tmp_path):
    """The streaming suite gate is value-equal to the batch flag over
    the same corpus — stateless per batch, per-doc columns only."""
    from graphkb_spark.operators.dedup import multi_benchmark_contamination
    from graphkb_spark.streaming.incremental import (
        streaming_multi_decontaminate,
    )

    corpus = spark.createDataFrame(
        [(i, f"w{i} the secret eval passage appears here verbatim t{i}"
             + (" another hidden test question shows up intact" if i % 3 == 0
                else ""))
         for i in range(12)] + [(99, "tiny")],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [("a", "the secret eval passage appears here verbatim"),
         ("b", "another hidden test question shows up intact")],
        ["bench_set", "text"],
    )
    got = streaming_multi_decontaminate(
        spark, corpus, bench, "bench_set", "doc_id", "text", k=6,
        n_batches=3, query_name="t_smd",
        stage_dir=str(tmp_path / "smd"),
    )
    want = multi_benchmark_contamination(
        corpus, bench, "text", "doc_id", "bench_set", k=6
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_exact_substring_contamination_auto_broadcast_size_check(spark):
    """VERDICT r12 #5: the default is a SIZE-CHECKED broadcast, not a
    forced hint — an oversized digest side (e.g. a swapped
    corpus/benchmark argument order) must fall back to an AQE-planned
    equi-join with identical results, while a normal eval set still
    broadcasts."""
    from graphkb_spark.operators.dedup import exact_substring_contamination

    corpus = spark.createDataFrame(
        [(i, f"filler w{i} the secret eval passage appears here verbatim t{i}")
         for i in range(8)] + [(99, "tiny")],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(0, "the secret eval passage appears here verbatim")],
        ["doc_id", "text"],
    )
    # small benchmark: auto keeps the broadcast hint in the plan
    small = exact_substring_contamination(
        corpus, bench, "text", "doc_id", k=6
    )
    assert "BroadcastHashJoin" in small._jdf.queryExecution().executedPlan().toString()
    # "oversized" benchmark: a 1-digest budget trips the fallback —
    # no forced broadcast reaches the plan, results identical
    over = exact_substring_contamination(
        corpus, bench, "text", "doc_id", k=6, broadcast_max_digests=0
    )
    forced = exact_substring_contamination(
        corpus, bench, "text", "doc_id", k=6, broadcast=True
    )
    assert sorted(map(tuple, over.collect())) == sorted(map(tuple, forced.collect()))
    assert any(r.contaminated for r in over.collect())
    with pytest.raises(ValueError, match="broadcast"):
        exact_substring_contamination(
            corpus, bench, "text", "doc_id", k=6, broadcast="always"
        )


def test_soft_dedup_mass_conservation_property(spark):
    """Property (hypothesis): for ANY corpus, soft dedup emits one row
    per input doc and the per-cluster weight mass is exactly one
    doc-equivalent (within the 6-decimal weight rounding)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from graphkb_spark.operators.dedup import soft_dedup_sample

    @settings(max_examples=6, deadline=None)
    @given(st.lists(st.integers(0, 5), min_size=1, max_size=40))
    def inner(picks):
        rows = [(i, f"text variant {p}") for i, p in enumerate(picks)]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = soft_dedup_sample(df, "text", "doc_id").collect()
        assert len(out) == len(rows)
        by_text = {}
        for (i, t), r in zip(rows, sorted(out, key=lambda r: r.doc_id)):
            by_text.setdefault(t, []).append(r)
        for t, rs in by_text.items():
            assert all(r.n_copies == len(rs) for r in rs)
            assert abs(sum(r.weight for r in rs) - 1.0) < 1e-4

    inner()


def test_multi_benchmark_family_consistency_property(spark):
    """Property (hypothesis): for ANY corpus/suite, the three
    suite-level members agree with each other and with the single-set
    operator on the union —

    - flag's (n_grams, k_gram_hits, contaminated) equal
      exact_substring_contamination against the unlabeled union;
    - flag and cut report IDENTICAL (n_leak_sets, leak_attribution)
      per doc (same definition, two different plans);
    - a doc is contaminated iff the cut removed tokens, and a cut
      removes at least k tokens."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from graphkb_spark.operators.dedup import (
        cut_multi_benchmark_spans,
        exact_substring_contamination,
        multi_benchmark_contamination,
    )

    k = 4
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(
            st.lists(st.integers(0, 5), min_size=0, max_size=14),
            min_size=1,
            max_size=8,
        ),
        st.lists(
            st.tuples(st.integers(0, 2), st.lists(st.integers(0, 5),
                                                  min_size=k, max_size=9)),
            min_size=1,
            max_size=4,
        ),
    )
    def inner(corpus_words, bench_rows):
        corpus = spark.createDataFrame(
            [(i, " ".join(vocab[w] for w in ws))
             for i, ws in enumerate(corpus_words)],
            "doc_id int, text string",
        )
        bench = spark.createDataFrame(
            [(s, " ".join(vocab[w] for w in ws)) for s, ws in bench_rows],
            "bench_set int, text string",
        )
        flag = {
            r.doc_id: r
            for r in multi_benchmark_contamination(
                corpus, bench, "text", "doc_id", "bench_set", k=k
            ).collect()
        }
        single = {
            r.doc_id: r
            for r in exact_substring_contamination(
                corpus, bench, "text", "doc_id", k=k
            ).collect()
        }
        cut = {
            r.doc_id: r
            for r in cut_multi_benchmark_spans(
                corpus, bench, "text", "doc_id", "bench_set", k=k
            ).collect()
        }
        assert set(flag) == set(single) == set(cut)
        for i, f in flag.items():
            s, c = single[i], cut[i]
            assert (f.n_grams, f.k_gram_hits, f.contaminated) == (
                s.n_grams, s.k_gram_hits, s.contaminated,
            )
            assert (f.n_leak_sets, f.leak_attribution) == (
                c.n_leak_sets, c.leak_attribution,
            )
            assert f.contaminated == (c.removed_tokens > 0)
            if f.contaminated:
                assert c.removed_tokens >= k

    inner()


def test_repeated_spans_rejects_bad_params(spark):
    from graphkb_spark.operators.dedup import repeated_spans

    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        repeated_spans(df, "text", "doc_id", k=0)
    with pytest.raises(ValueError):
        repeated_spans(df, "text", "doc_id", min_count=1)


def test_auto_cc_path_graph_escalates(spark):
    """VERDICT r10 #7: algorithm='auto' must converge on the 100-link
    chain WITHOUT the caller knowing to pass the star flag — label-prop
    for escalate_after rounds, then star contraction on the
    label-contracted graph. Exact same labeling, bounded total
    rounds."""
    from graphkb_spark.operators.dedup import connected_components

    n = 100
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a int, id_b int"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id int")
    stats = {}
    out = connected_components(
        pairs, nodes, algorithm="auto", escalate_after=8, stats=stats
    )
    labels = {r.node: r.comp for r in out.collect()}
    assert labels == {i: 0 for i in range(n)}
    assert stats["escalated"] is True
    assert stats["rounds"] == 8
    assert stats["star_rounds"] <= 10, stats


def test_auto_cc_escalation_mixed_components(spark):
    """Escalation must be correct on a MIXED graph: two long chains
    (forcing the star pass), a dense triangle, and singletons — every
    node labeled with its component minimum, one row per node."""
    from graphkb_spark.operators.dedup import connected_components

    edges = (
        [(i, i + 1) for i in range(0, 39)]          # chain 0..39
        + [(i, i + 1) for i in range(100, 129)]     # chain 100..129
        + [(200, 201), (201, 202), (200, 202)]      # triangle
    )
    node_ids = sorted({n for e in edges for n in e} | {300, 301})
    pairs = spark.createDataFrame(edges, "id_a int, id_b int")
    nodes = spark.createDataFrame([(i,) for i in node_ids], "id int")
    stats = {}
    got = {
        r.node: r.comp
        for r in connected_components(
            pairs, nodes, algorithm="auto", escalate_after=4, stats=stats
        ).collect()
    }
    want = {i: 0 for i in range(0, 40)}
    want.update({i: 100 for i in range(100, 130)})
    want.update({200: 200, 201: 200, 202: 200, 300: 300, 301: 301})
    assert got == want
    assert stats["escalated"] is True
    assert len(got) == len(node_ids)


def test_auto_cc_short_diameter_no_escalation(spark):
    """auto on a dense short-diameter graph (the common near-dup case)
    must stay on the propagation path — no star pass, same labels."""
    from graphkb_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 1)], "id_a int, id_b int"
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 5, 6, 8, 9]], "id int")
    stats = {}
    out = {
        r.node: r.comp
        for r in connected_components(
            pairs, nodes, algorithm="auto", stats=stats
        ).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 8: 1, 5: 5, 6: 5, 9: 9}
    assert stats["escalated"] is False
    assert "star_rounds" not in stats


def test_star_cc_unconverged_keeps_one_row_per_node(spark):
    """ADVICE r10: exhausting max_iter before the edge set contracts to
    a star forest must not emit conflicting duplicate (node, comp)
    rows — the output contract is one row per node regardless of
    convergence (labels may be partial, never duplicated)."""
    from graphkb_spark.operators.dedup import connected_components

    n = 60
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a int, id_b int"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id int")
    out = connected_components(pairs, nodes, algorithm="star", max_iter=1)
    rows = out.collect()
    assert len(rows) == n
    assert len({r.node for r in rows}) == n


def test_star_cc_rejects_unknown_algorithm(spark):
    import pytest as _pytest

    from graphkb_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(1, 2)], "id_a int, id_b int")
    nodes = spark.createDataFrame([(1,), (2,)], "id int")
    with _pytest.raises(ValueError):
        connected_components(pairs, nodes, algorithm="bogus")


def test_multi_benchmark_leak_report_matches_per_set_singles(spark):
    """r16: the suite-level leak report's one-corpus-pass rows must
    equal N independent benchmark_leak_report passes (one per set) on
    the shared columns, and the worst-doc attribution must match a
    literal Python argmax (max shared distinct grams, ties to the
    smallest corpus id)."""
    import re

    from graphkb_spark.operators.dedup import (
        benchmark_leak_report,
        multi_benchmark_leak_report,
    )

    k = 6
    corpus_rows = [
        (1, "aa bb the secret eval passage appears here verbatim xx"),
        (2, "pp qq another hidden test question shows up intact rr"),
        (3, "the secret eval passage appears here verbatim gap pad "
            "another hidden test question shows up intact"),
        (4, "completely different text about catalyst and tungsten"),
        (5, "tiny doc"),
    ]
    bench_rows = [
        (101, "a", "x the secret eval passage appears here verbatim y"),
        (102, "b", "z another hidden test question shows up intact w"),
        (103, "b", "the secret eval passage appears here verbatim"),
        (104, "a", "short item"),  # sub-k: 0 grams, never leaked
    ]
    corpus = spark.createDataFrame(corpus_rows, ["doc_id", "text"])
    bench = spark.createDataFrame(bench_rows, ["doc_id", "bench_set", "text"])

    multi = {
        r.doc_id: r
        for r in multi_benchmark_leak_report(
            corpus, bench, "text", "doc_id", "bench_set", k=k
        ).collect()
    }
    assert set(multi) == {101, 102, 103, 104}

    # shared columns == the per-set single-report union
    for s in ("a", "b"):
        single = {
            r.doc_id: r
            for r in benchmark_leak_report(
                corpus, bench.filter(F.col("bench_set") == s), "text",
                "doc_id", k=k,
            ).collect()
        }
        for bid, r in single.items():
            m = multi[bid]
            assert m.bench_set == s
            assert (
                m.n_distinct_grams, m.leaked_grams, m.leaking_docs,
                m.leaked_frac, m.leaked,
            ) == (
                r.n_distinct_grams, r.leaked_grams, r.leaking_docs,
                r.leaked_frac, r.leaked,
            )

    # worst-doc vs literal Python argmax
    def toks(t):
        return [w for w in re.sub(r"[^a-z0-9 ]", " ", t.lower().strip()).split() if w]

    def grams(t):
        w = toks(t)
        return {tuple(w[p:p + k]) for p in range(max(len(w) - k + 1, 0))}

    corpus_g = {i: grams(t) for i, t in corpus_rows}
    for bid, _s, t in bench_rows:
        bg = grams(t)
        shared = {
            cid: len(bg & cg) for cid, cg in corpus_g.items() if bg & cg
        }
        m = multi[bid]
        if not shared:
            assert m.worst_doc is None and m.worst_doc_shared == 0
        else:
            best = min(shared, key=lambda c: (-shared[c], c))
            assert (m.worst_doc, m.worst_doc_shared) == (best, shared[best])
    # item 103's passage is verbatim inside corpus docs 1 and 3; the
    # tie (all of 103's grams in both) breaks to the smaller id
    assert multi[103].worst_doc == 1
    assert multi[104].n_distinct_grams == 0 and not multi[104].leaked


def test_multi_benchmark_leak_report_broadcast_modes_identical(spark):
    from graphkb_spark.operators.dedup import multi_benchmark_leak_report

    corpus = spark.createDataFrame(
        [(i, f"w{i} common shared passage tail{i % 3} pad pad pad")
         for i in range(12)],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100 + j, j % 2, "common shared passage tail0 pad pad")
         for j in range(4)],
        ["doc_id", "bench_set", "text"],
    )
    outs = [
        sorted(map(tuple, multi_benchmark_leak_report(
            corpus, bench, "text", "doc_id", "bench_set", k=3, broadcast=b
        ).collect()))
        for b in (True, False, "auto")
    ]
    assert outs[0] == outs[1] == outs[2]


def test_multi_benchmark_leak_spans_matches_per_set_singles(spark):
    """r16: the suite-level span attribution from one corpus pass must
    equal the union of N per-set benchmark_leak_spans runs, with the
    item's set label carried through."""
    from graphkb_spark.operators.dedup import (
        benchmark_leak_spans,
        multi_benchmark_leak_spans,
    )

    k = 6
    corpus = spark.createDataFrame(
        [
            (1, "aa bb the secret eval passage appears here verbatim xx"),
            (2, "pp qq another hidden test question shows up intact rr"),
            (3, "the secret eval passage appears here verbatim gap pad "
                "another hidden test question shows up intact"),
            (4, "completely different text about catalyst and tungsten"),
            (5, "tiny doc"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [
            (101, "a", "x the secret eval passage appears here verbatim y"),
            (102, "b", "z another hidden test question shows up intact w"),
            (103, "b", "the secret eval passage appears here verbatim"),
        ],
        ["doc_id", "bench_set", "text"],
    )
    multi = sorted(
        map(tuple, multi_benchmark_leak_spans(
            corpus, bench, "text", "doc_id", "bench_set", k=k
        ).collect())
    )
    singles = []
    for s in ("a", "b"):
        for r in benchmark_leak_spans(
            corpus, bench.filter(F.col("bench_set") == s), "text",
            "doc_id", k=k,
        ).collect():
            singles.append(
                (r.bench_id, s, r.doc_id, r.span_start, r.span_end,
                 r.span_tokens)
            )
    assert multi == sorted(singles)
    assert multi  # the fixture leaks — non-empty by construction
    # item 103 is verbatim inside corpus docs 1 and 3 — both
    # attributed under set 'b'
    got_103 = {(r[2]) for r in multi if r[0] == 103}
    assert got_103 == {1, 3}


def test_multi_benchmark_leak_spans_broadcast_modes_identical(spark):
    from graphkb_spark.operators.dedup import multi_benchmark_leak_spans

    corpus = spark.createDataFrame(
        [(i, f"w{i} common shared passage tail{i % 3} pad pad pad")
         for i in range(10)],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100 + j, j % 2, "common shared passage tail0 pad pad")
         for j in range(4)],
        ["doc_id", "bench_set", "text"],
    )
    outs = [
        sorted(map(tuple, multi_benchmark_leak_spans(
            corpus, bench, "text", "doc_id", "bench_set", k=3, broadcast=b
        ).collect()))
        for b in (True, False, "auto")
    ]
    assert outs[0] == outs[1] == outs[2]
