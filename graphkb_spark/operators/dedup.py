"""Document deduplication operators for large-scale training-data
pipelines: exact, MinHash+LSH, SimHash, and n-gram Jaccard.

Design for 100 TB:
- exact dedup is a single hash-groupBy (one shuffle on the digest);
- MinHash signatures are computed entirely JVM-side with higher-order
  array functions (``transform``/``array_min`` over ``xxhash64``) — no
  Python in the hot path; LSH banding turns the O(n^2) pair problem
  into an equi-join on (band, band_hash), i.e. one shuffle keyed by
  bucket, with skewed mega-buckets handled by AQE skew-join;
- candidate pairs are verified with exact Jaccard on the shingle sets
  (array_intersect/array_union), still JVM-side;
- SimHash is pure Column algebra: 4 ``conv`` calls per token extract
  the 16-bit chunks, per-bit votes are shiftright+mask inside
  whole-stage codegen, and the 64 vote sums partial-agg map-side.
"""

from __future__ import annotations

import warnings
from collections.abc import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graphkb_spark.core.materialize import materialize
from graphkb_spark.operators.skew import exchange_width


class CandidateBudgetExceeded(RuntimeError):
    """Raised by ngram_jaccard_pairs / ngram_containment_pairs
    (budget_action='error') when the prefix-join candidate bound
    exceeds the caller's budget — the corpus is in the
    fixed-vocabulary regime where the exact set-similarity join pays
    its Sum(df^2) lower bound."""


def normalized_text(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), r"[^a-z0-9 ]", " ")


def words(col: str | Column) -> Column:
    return F.filter(F.split(normalized_text(col), r"\s+"), lambda w: w != "")


def word_shingles(col: str | Column, n: int = 3) -> Column:
    """n-word shingles as strings (JVM-side higher-order functions).

    PERF: only pass a *materialized column* (attribute) of type
    array<string> — or accept that the expression re-evaluates per
    shingle position. Expressions referenced inside a HOF lambda are
    re-evaluated per element, so an inline split/regex pipeline here
    turns O(words) into O(words^2). Use ``with_words`` first."""
    w = F.col(col) if isinstance(col, str) else col
    return F.when(F.size(w) < n, F.array(F.concat_ws(" ", w))).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(w) - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice(w, i, n)),
        )
    )


def with_words(df: DataFrame, text_col: str, out: str = "__w") -> DataFrame:
    """Materialize the normalized word array as a column so downstream
    shingle lambdas read an attribute, not a re-evaluated expression."""
    return df.withColumn(out, words(text_col))


def _doc_tokens(df: DataFrame, text_col: str, id_col: str, key: str) -> DataFrame:
    """(key, __w): one row per document with its normalized word array,
    tokenized AFTER the doc-keyed exchange (opt r17, guide §2.5):
    words() on the scan side serializes the regex tokenization onto the
    scan's partitions (one row group at small SF = one task); raw text
    crosses the exchange (fewer bytes than the word array) and the
    tokenize+shingle+digest chain runs at the operator's parallelism.
    The select stays un-collapsed downstream (words() is multiply
    referenced inside the shingle HOF, so CollapseProject keeps it an
    attribute — verified against the optimized plan)."""
    return (
        df.select(F.col(id_col).alias(key), F.col(text_col).alias("__t"))
        .repartition(exchange_width(df), key)
        .select(key, words("__t").alias("__w"))
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: keep the lowest-id row per content digest.

    One shuffle on the md5 digest; at scale, partial agg keeps the
    shuffle small (only digest+min id move)."""
    return (
        df.withColumn("__digest", F.md5(F.col(text_col)))
        .groupBy("__digest")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .drop("__digest")
    )


def soft_dedup_sample(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Soft deduplication (Muennighoff et al. 2023, "Scaling
    Data-Constrained Language Models", arXiv:2305.16264): instead of
    DROPPING duplicate copies, keep every copy with sampling weight
    1/n_copies, so each duplicate cluster contributes exactly one
    document-equivalent of probability mass to the training mix —
    the repeated-data regime's replacement for hard dedup, preserving
    natural-frequency signal (popular boilerplate still appears, just
    never over-weighted). Returns one row per input doc:
    (id, n_copies, weight, keep) — weight = round(1/n_copies, 6), and
    ``keep`` the deterministic hash-Bernoulli draw u(id) < 1/n_copies
    (so filtering on keep yields an expected one copy per cluster and
    the kept set is stable across runs/retries/engines — the
    ``domain_rebalance`` md5-uniform contract).

    Scale shape: one partial-aggregating shuffle for the per-digest
    counts (digest-cardinality output, only digest+count move), one
    equi-join back on the digest (AQE-planned; both sides hash the
    same key), scan-speed weight/draw columns. No window ever sees a
    duplicate cluster's full row set."""
    withd = df.select(
        F.col(id_col).alias(id_col), F.md5(F.col(text_col)).alias("__digest")
    )
    counts = withd.groupBy("__digest").agg(
        F.count(F.lit(1)).alias("n_copies")
    )
    u = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("double")
        / F.lit(float(2**32))
    )
    return (
        withd.join(counts, "__digest")
        .select(
            id_col,
            "n_copies",
            F.round(F.lit(1.0) / F.col("n_copies"), 6).alias("weight"),
            (u * F.col("n_copies") < F.lit(1.0)).alias("keep"),
        )
    )


# 31-bit Mersenne-prime field keeps a*h+b within int64 (no ANSI
# overflow); deterministic LCG-derived (a, b) per hash family
_MH_PRIME = (1 << 31) - 1


def _mh_params(num_hashes: int) -> list[tuple[int, int]]:
    params = []
    x = 0x9E3779B97F4A7C15
    for _ in range(num_hashes):
        a = (x % (_MH_PRIME - 1)) + 1
        x = (x * 6364136223846793005 + 1442695040888963407) & ((1 << 64) - 1)
        b = x % _MH_PRIME
        x = (x * 6364136223846793005 + 1442695040888963407) & ((1 << 64) - 1)
        params.append((a, b))
    return params


def minhash_signature_from_hashes(hashes: str | Column, num_hashes: int = 64) -> Column:
    """MinHash signature from a pre-hashed shingle array (array<bigint>).

    One ``aggregate`` pass over the hashes: the accumulator is the
    running per-family minimum vector; each element updates all k
    families via an affine transform (a_j*h + b_j mod 2^31-1) against a
    literal parameter array. Single traversal, all codegen'd, no UDF —
    the shingle strings are hashed exactly once upstream.
    """
    h = F.col(hashes) if isinstance(hashes, str) else hashes
    params = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in _mh_params(num_hashes)
        ]
    )
    init = F.array_repeat(F.lit(_MH_PRIME).cast("bigint"), num_hashes)
    return F.aggregate(
        h,
        init,
        lambda acc, x: F.zip_with(
            acc,
            params,
            lambda m, p: F.least(m, F.pmod(x * p["a"] + p["b"], F.lit(_MH_PRIME))),
        ),
    )


def _np_minhash_udf(num_hashes: int):
    """Arrow-batched numpy MinHash: (h*a + b) mod p min-reduced over all
    shingle hashes per row. Benchmarks ~2.6x faster than the interpreted
    ``aggregate``/``zip_with`` tree (HOFs are not codegen'd), so this is
    the default signature path; ``minhash_signature_from_hashes`` remains
    for pure-JVM deployments.

    Whole-batch vectorization (opt r18, guide §4.2): the previous body
    looped rows in Python, paying numpy call overhead per ~50-element
    array — profiled as the dominant executor-run slice of the
    signature stage at x10 scale (and the reason minhash_lsh ran
    SLOWER on 32 cores than 8: per-task Python overhead, not data,
    filled the cores). Now all rows of a chunk concatenate into one
    flat vector, the affine family evaluates as a single (total, k)
    numpy expression, and per-row minima come from
    ``np.minimum.reduceat`` over the row offsets — identical int64
    arithmetic (h < p, a < p ⇒ h*a < 2^62 never overflows), identical
    minima, bit-identical signatures. Chunked so the (total, k)
    intermediate stays ~64 MB regardless of Arrow batch size."""
    import numpy as np

    params = np.array(_mh_params(num_hashes), dtype=np.int64)
    a, b = params[:, 0][None, :], params[:, 1][None, :]
    # rows per numpy chunk bounded by flat-shingle volume: the (total,
    # k) product matrix is the memory hog, cap it at ~8M int64 cells
    max_flat = max(1, 8_000_000 // num_hashes)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def udf(hashes: pd.Series) -> pd.Series:
        empty = [int(_MH_PRIME)] * num_hashes
        vals = hashes.to_numpy()
        n = len(vals)
        out = np.empty(n, dtype=object)
        arrs = []          # per-row int64 arrays of the current chunk
        idxs = []          # their row indexes
        flat_len = 0

        def flush():
            nonlocal arrs, idxs, flat_len
            if not arrs:
                return
            flat = np.concatenate(arrs)
            lens = np.fromiter(
                (len(x) for x in arrs), dtype=np.int64, count=len(arrs)
            )
            starts = np.zeros(len(arrs), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            sig = (flat[:, None] * a + b) % _MH_PRIME
            mins = np.minimum.reduceat(sig, starts, axis=0).tolist()
            for i, m in zip(idxs, mins):
                out[i] = m
            arrs, idxs, flat_len = [], [], 0

        for i in range(n):
            v = vals[i]
            if v is None or len(v) == 0:
                out[i] = empty
                continue
            arrs.append(np.asarray(v, dtype=np.int64))
            idxs.append(i)
            flat_len += len(v)
            if flat_len >= max_flat:
                flush()
        flush()
        return pd.Series(out)

    return udf


def shingle_hashes(col: str | Column, shingle_n: int = 3) -> Column:
    """xxhash64 of each word shingle, folded into the 31-bit MinHash
    field (array<bigint>)."""
    return F.transform(
        word_shingles(col, shingle_n), lambda s: F.pmod(F.xxhash64(s), F.lit(_MH_PRIME))
    )


def md5_shingle_hashes(shingles: str | Column) -> Column:
    """ONE md5 digest per shingle, folded into the 31-bit MinHash field
    (array<bigint>): bigint of the first 15 hex chars (60 bits) mod p.

    Fully ANSI-replicable — an external oracle computes the identical
    value as ``('0x' || substr(md5(s), 1, 15))::BIGINT % p`` — so every
    downstream affine-family minimum is auditable bit-for-bit. 15 hex
    chars (not 16) so the intermediate never overflows a signed int64.
    Pass a *materialized* array<string> column (HOF lambdas re-evaluate
    expression arguments per element)."""
    sh = F.col(shingles) if isinstance(shingles, str) else shingles
    return F.transform(
        sh,
        lambda s: F.pmod(
            F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"),
            F.lit(_MH_PRIME),
        ),
    )


def minhash_signature_md5(shingles: str | Column, num_hashes: int = 32) -> Column:
    """Auditable MinHash signature (array<bigint>): one md5 digest per
    shingle, then the k family minima via the affine transform
    (a_i*h + b_i mod 2^31-1) — plain ANSI arithmetic an external engine
    (the DuckDB oracle) replicates exactly. Earlier rounds seeded md5
    PER FAMILY (k digests per shingle); the affine family needs just
    one digest per shingle — ~k× less hashing for the same guarantee."""
    return minhash_signature_from_hashes(md5_shingle_hashes(shingles), num_hashes)


def minhash_signature(col: str | Column, num_hashes: int = 64, shingle_n: int = 3) -> Column:
    """MinHash signature as array<bigint> of length ``num_hashes``."""
    return minhash_signature_from_hashes(shingle_hashes(col, shingle_n), num_hashes)


def _minhash_state(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    hasher: str,
) -> tuple[DataFrame, DataFrame]:
    """The shared MinHash-LSH state tables: ``base`` = one row per doc
    (__id, __sh hashed shingle set, __sig signature), materialized
    once (it feeds both the band join and the verify join); ``banded``
    = (__id, band, bhash) band keys only, so shingle arrays never ride
    the band exchange. Used by the batch pair join
    (``minhash_lsh_pairs``) and the streaming suppressor
    (``streaming/incremental.py:streaming_minhash_dedup``)."""
    rows_per_band = num_hashes // bands
    if hasher == "md5":
        # one md5 digest per shingle; the affine family minima are the
        # same integers whether computed by the numpy UDF (used here)
        # or the pure-JVM aggregate — the oracle replicates both
        digest = lambda s: F.pmod(  # noqa: E731
            F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"),
            F.lit(_MH_PRIME),
        )
        band_hash = lambda band_slice: F.md5(  # noqa: E731
            F.concat_ws(",", F.transform(band_slice, lambda x: x.cast("string")))
        )
    else:
        digest = lambda s: F.pmod(F.xxhash64(s), F.lit(_MH_PRIME))  # noqa: E731
        band_hash = lambda band_slice: F.xxhash64(F.concat_ws(",", band_slice))  # noqa: E731
    shingled = _doc_tokens(df, text_col, id_col, "__id").select(
        "__id",
        F.array_distinct(
            F.transform(word_shingles("__w", shingle_n), digest)
        ).alias("__sh"),
    )
    sig_udf = _np_minhash_udf(num_hashes)
    base = (
        shingled.select("__id", "__sh", sig_udf("__sh").alias("__sig"))
        # materialize once: the signature scan feeds BOTH the band join
        # and the verify join — without it the shingle+signature
        # pipeline re-executes per consumer. localCheckpoint (not
        # persist): blocks are freed by the ContextCleaner when the
        # plan is garbage-collected, so repeated calls in a long-lived
        # session don't accumulate cache entries. At cluster scale this
        # is the "write signatures to a staging table" step, which also
        # restores fault-tolerance (localCheckpoint trades lineage
        # recovery for speed).
        .transform(materialize)
    )
    # band keys only — never shuffle the shingle arrays through the
    # 16-way band join; they are joined back for the verify step
    banded = base.select(
        "__id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    band_hash(
                        F.slice("__sig", b * rows_per_band + 1, rows_per_band)
                    ).alias("bhash"),
                ),
            )
        ).alias("__b"),
    ).select("__id", F.col("__b.band").alias("band"), F.col("__b.bhash").alias("bhash"))
    return base, banded


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.8,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding, verified with
    exact Jaccard over the HASHED shingle sets. Returns
    (id_a, id_b, jaccard), id_a<id_b.

    Plan: signature scan (no shuffle) -> explode bands -> shuffle on
    (band, hash) -> within-bucket self-join -> distinct pairs ->
    broadcast-free verify join back to shingle sets.

    The staged per-doc state is the hashed shingle set
    (array<bigint>, distinct AFTER hashing) — never the shingle
    strings: 3-4x smaller localCheckpoint blocks and Arrow batches,
    and the verify ``array_intersect``/``array_union`` compares longs
    instead of strings. Verify Jaccard is therefore defined on the
    hash domain; a 31-bit digest collision (p ~ 2^-31 per in-doc pair)
    can merge two shingles and perturb a Jaccard in the 4th decimal —
    irrelevant for near-dup detection, and the external oracle
    replicates the identical hashed-set definition, so results still
    match bit-for-bit.

    ``hasher``: ``"xxhash64"`` (fastest digest) or ``"md5"``
    (hex-fold digest — plain ANSI arithmetic, so an external oracle
    can verify the exact candidate set and banding, not just the
    verified pairs). Both feed the same Arrow-batched numpy affine
    family minima; the pure-JVM alternatives were measured and kept
    non-default (docs/FLOORS.md): the interpreted ``aggregate`` HOF is
    ~2.6x slower, and an explode + 32-way codegen'd min-agg is ~0.3 s
    slower end-to-end at sf0.1 (one extra job + re-shuffle, since a
    localCheckpoint boundary drops the partitioning info the agg could
    have reused).
    """
    base, banded = _minhash_state(
        df, text_col, id_col, num_hashes, bands, shingle_n, hasher
    )

    a = banded.select("band", "bhash", F.col("__id").alias("id_a"))
    b = banded.select("band", "bhash", F.col("__id").alias("id_b"))
    pairs = (
        a.join(b, ["band", "bhash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sh = base.select("__id", "__sh")
    pairs = pairs.join(
        sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a")), "id_a"
    ).join(sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b")), "id_b")
    # |A ∪ B| = |A| + |B| - |A ∩ B| on the distinct hashed sets —
    # identical integers to size(array_union), hence a bit-identical
    # Jaccard double, for ONE set-op per pair instead of two (opt r18,
    # guide §1.2 per-task work)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = (
        inter / (F.size("sh_a") + F.size("sh_b") - inter)
    ).alias("jaccard")
    return (
        pairs.select("id_a", "id_b", jac)
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


def _shingle_base(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int
) -> DataFrame:
    """PPJoin stage 1, the materialized shingle base: one row per doc,
    (__id, __sh distinct shingle strings, __shh, __nh).

    __shh holds per-doc 64-bit digests of the shingles, POSITIONALLY
    parallel to __sh (dups survive under a digest collision); __nh is
    the hash-distinct size. Both are computed once per doc here, not
    once per candidate pair, for the verify-stage digest prefilter (opt
    r18, guide §1.2/§4 — the verify join's string set-ops were the
    largest data-plane CPU left, and 98-99.9% of candidates FAIL
    verification, so proving failure on 8-byte longs is the whole
    win). The base feeds the posting list AND both verify joins;
    localCheckpoint over persist so blocks free on GC (no cache
    accumulation across calls in a long-lived session)."""
    return (
        _doc_tokens(df, text_col, id_col, "__id")
        .select("__id", F.array_distinct(word_shingles("__w", shingle_n)).alias("__sh"))
        .select(
            "__id",
            "__sh",
            F.transform("__sh", lambda s: F.xxhash64(s)).alias("__shh"),
        )
        .withColumn("__nh", F.size(F.array_distinct("__shh")))
        .transform(materialize)
    )


def _prefix_len(frac: float, n: str) -> Column:
    """PPJoin prefix length ``n - ceil(frac*n) + 1`` for a required
    overlap of ``frac * n``. Computing it as floor((1-frac)*n)+1 loses
    pairs when frac*n is integral (float rounding: 0.7*10 = 6.999... ->
    floor 6 where the exact prefix is 8); the epsilon inside ceil
    guards the same artifact on the other side."""
    return (
        F.col(n)
        - F.ceil(F.lit(frac) * F.col(n) - F.lit(1e-9)).cast("int")
        + F.lit(1)
    )


def _prefix_postings(
    base: DataFrame, threshold: float, *cols: str
) -> tuple[DataFrame, DataFrame]:
    """PPJoin stage 2: the digest posting list (__id, __n, shingle) and
    its prefix rows — each doc's |x| - ceil(t*|x|) + 1 globally rarest
    shingles, ranked by (df_ asc, shingle asc) — projected to ``cols``
    from (__id, __n, shingle, df_, __rk).

    The posting/prefix pipeline runs on 64-bit shingle DIGESTS, not the
    strings (opt r17, guide §2.3 "narrower types"): the shingle only
    serves as (a) the freq/candidate equi-join key and (b) the global
    total order for the prefix ranking — both survive hashing. The
    prefix, index-prefix and positional filters are lossless under ANY
    consistent total order of the shingle universe, and a digest
    collision can only MERGE posting lists (slightly inflating df_ and
    the candidate set — a superset, never a loss); verification
    recomputes the exact measure on the full string sets, so the output
    is bit-identical. 8-byte longs cross the posting exchange instead
    of ~25-char UTF8 strings, and every sort/join on the hot path
    compares longs. The digests come precomputed from the base (__shh
    is positionally parallel to __sh, so exploding it yields the same
    multiset as explode-then-hash did) — the posting stage reads longs
    straight off the checkpoint instead of re-hashing every shingle
    occurrence (opt r18).

    The rank-window exchange is pinned (opt r18, same anti-coalesce
    rationale as the verify pin in ``_verify_pairs``): the window
    requires hashpartitioning(__id); left to EnsureRequirements, AQE
    byte-coalesced the ~4 MB exchange to 3 partitions and serialized
    the rank + prefix filter + candidate-feed stage onto 3 cores
    (profiled ~0.8 s run over 3 tasks inside canonical_docs). The
    explicit same-key repartition satisfies the window's
    ClusteredDistribution, so the exchange COUNT is unchanged — it is
    just AQE-exempt and runs at the operator's width."""
    posting = base.select(
        "__id", F.size("__sh").alias("__n"), F.explode("__shh").alias("shingle")
    )
    freq = posting.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
    ranked = posting.join(freq, "shingle").repartition(
        exchange_width(base), "__id"
    ).withColumn(
        "__rk",
        F.row_number().over(
            Window.partitionBy("__id").orderBy(
                F.col("df_").asc(), F.col("shingle").asc()
            )
        ),
    )
    prefix = ranked.filter(F.col("__rk") <= _prefix_len(threshold, "__n"))
    return posting, prefix.select(*cols)


def _check_budget_action(budget_action: str) -> None:
    if budget_action not in ("warn", "error", "minhash"):
        raise ValueError(
            f"budget_action={budget_action!r}: expected 'warn', 'error' or 'minhash'"
        )


def _budget_route(
    prefix: DataFrame,
    candidate_budget: int | None,
    budget_action: str,
    stats: dict | None,
    op_name: str,
    estimate: Callable[[DataFrame], DataFrame],
    route_name: str,
    route: Callable[[], DataFrame],
) -> tuple[DataFrame, DataFrame | None]:
    """PPJoin stage 3, the candidate-budget guard. Returns ``(prefix,
    routed)``: ``routed`` is ``route()`` when the caller must take its
    banded/approximate escape path, else None.

    ``candidate_budget=None`` skips the estimate entirely (no extra
    job, the prefix stays lazy). Otherwise the prefix postings are
    materialized so the estimate job and the candidate join share the
    computed posting/rank lineage instead of recomputing it (ADVICE
    r12); the routed escape still pays this one posting pass — that's
    the price of an EXACT bound before abandoning the exact join.
    ``estimate(prefix)`` is the measure's one-row ``__est`` upper bound
    on candidate rows. Over budget, ``stats`` records the telemetry,
    'error' raises ``CandidateBudgetExceeded``, 'minhash' warns and
    routes, 'warn' warns and proceeds exact."""
    if candidate_budget is None:
        return prefix, None
    prefix = prefix.transform(materialize)
    est = int(estimate(prefix).collect()[0]["__est"] or 0)
    routed = est > candidate_budget
    if stats is not None:
        stats["candidate_estimate"] = est
        stats["routed"] = routed and budget_action == "minhash"
    if not routed:
        return prefix, None
    msg = (
        f"{op_name}: prefix-join candidate bound {est:,} exceeds "
        f"candidate_budget {candidate_budget:,} — the corpus is in the "
        "fixed-vocabulary regime where the exact join pays Sum(df^2); "
        f"consider the {route_name} path"
    )
    if budget_action == "error":
        raise CandidateBudgetExceeded(msg)
    if budget_action == "minhash":
        warnings.warn(msg + f" (routing to {route_name})", RuntimeWarning)
        return prefix, route()
    warnings.warn(msg, RuntimeWarning)
    return prefix, None


def _verify_pairs(
    cand: DataFrame,
    base: DataFrame,
    digest_bound: Column,
    name: str,
    value: Column,
    threshold: float,
) -> DataFrame:
    """PPJoin stage 4: dedup the (id_a, id_b) candidate rows, pin the
    verify exchange, join both sides' shingle sets and keep the pairs
    whose exact ``value`` (aliased ``name``) reaches ``threshold``.

    Verify-stage parallelism (opt r17, guide §2.5/§8): the verify
    join's cost is per-pair CPU (set-ops over full shingle sets), not
    bytes — but AQE coalesces the tiny deduped pair exchange by BYTES
    (1 MB at sf0.1 -> 1 post-shuffle partition -> the whole verify
    stage single-threaded: measured 6.0 s on one core inside
    lsh_band_tuning while 31 idled, and 8.4 s of containment CPU on 5
    coalesced tasks). An explicit user repartition is exempt from AQE
    coalescing, so the verify stage always runs at the operator's
    parallelism. It rides AFTER the dedup aggregation so the map-side
    partial dedup (the scale lever against duplicate candidate rows)
    still reduces the first exchange. Keyed on xxhash64 of the pair,
    NOT (id_a, id_b): the dedup exchange already hash-partitions by the
    raw pair, so EnsureRequirements would elide a same-key repartition
    as redundant and AQE would coalesce the surviving exchange right
    back to one partition (verified against the executed plan); the
    hashed key also spreads a hot id_a across partitions.

    Digest prefilter (opt r18, guide §1.2 per-task work — exact): when
    xxhash64 is injective on each doc's shingle set separately (__nh ==
    __n, true for every real row; a within-doc collision is a ~2^-51
    event even at 100 TB doc sizes), every hash value in h(A) ∩ h(B)
    has exactly one preimage in A and one in B, so |h(A) ∩ h(B)| =
    |A ∩ B| + c and |h(A) ∪ h(B)| = |A ∪ B| - c where c >= 0 counts
    cross-document collisions — hash-domain Jaccard and containment are
    monotonically >= their string values. ``digest_bound`` is the
    measure's hash-domain test against the threshold (with slack for
    the double divisions and any rounding of the declared value); a
    pair failing it is PROVABLY below threshold on strings and is
    dropped having paid only one long-array intersect. Rows with a
    within-doc collision pass through unconditionally. Measured at
    sf0.1: 98-99.9% of candidates fail verify, so the expensive string
    set-op runs on ~1% of pairs. Conjunct order is load-bearing: And
    short-circuits in codegen, so ``value`` never evaluates for
    digest-rejected pairs. Columns in scope for ``digest_bound`` and
    ``value``: sh_*/shh_* (string/digest sets), n_*/nh_* (their
    sizes), for sides a and b."""
    cand = cand.dropDuplicates(["id_a", "id_b"]).repartition(
        exchange_width(base), F.xxhash64(F.col("id_a"), F.col("id_b"))
    )
    sh = base.select(
        "__id", "__sh", "__shh", "__nh", F.size("__sh").alias("__n")
    )
    joined = cand.join(
        sh.toDF("id_a", "sh_a", "shh_a", "nh_a", "n_a"), "id_a"
    ).join(sh.toDF("id_b", "sh_b", "shh_b", "nh_b", "n_b"), "id_b")
    collision = (F.col("nh_a") < F.col("n_a")) | (F.col("nh_b") < F.col("n_b"))
    return (
        joined.filter(collision | digest_bound)
        .select("id_a", "id_b", value.alias(name))
        .filter(F.col(name) >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    candidate_budget: int | None = None,
    budget_action: str = "warn",
    stats: dict | None = None,
    route_kwargs: dict | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join with the full PPJoin filter
    stack (Xiao et al., "Efficient Similarity Joins for Near Duplicate
    Detection", WWW'08) — all three filters are lossless, so the output
    is the exact all-pairs Jaccard join:

    - **prefix filter, asymmetric (index/probe)**: order each pair by
      (set size, id); the larger (probe) side x must share a shingle
      among its |x| - ceil(t*|x|) + 1 globally rarest shingles, and
      the smaller (indexed) side y among only its
      |y| - ceil(2t/(1+t)*|y|) + 1 rarest — valid because the required
      overlap is both >= ceil(t*|x|) (I >= t*U >= t*max) and
      >= ceil(2t/(1+t)*|y|) (I >= t/(1+t)*(|x|+|y|)), and for ANY two
      overlap lower bounds a_x, a_y <= I the smallest shared element
      must sit inside BOTH truncated prefixes (if it fell outside
      prefix_{|x|-a_x+1}(x), all shared elements would sit in x's last
      a_x - 1 positions, capping I < a_x — contradiction; same on y).
      The shorter index prefix is PPJoin's inverted-index asymmetry,
      re-expressed as a size-ordered hash join;
    - **length filter**: jaccard >= t forces
      min(|x|,|y|) >= t * max(|x|,|y|) (the intersection is at most
      the smaller set and at least t * the union) — applied inside the
      candidate join condition, so out-of-band pairs never reach the
      dedup shuffle;
    - **positional filter**: overlap >= alpha = ceil(t/(1+t) *
      (|x|+|y|)) is required for jaccard >= t. For the candidate row
      whose shared shingle s is the pair's *smallest* shared prefix
      shingle in the global (df asc, shingle asc) order, every other
      shared shingle ranks after s in BOTH docs (anything smaller and
      shared would itself be a shared prefix shingle), so
      overlap <= 1 + min(|x| - pos_x(s), |y| - pos_y(s)). Pruning rows
      where that bound can't reach alpha is lossless: a truly-similar
      pair's minimal-s row always survives, and one surviving row is
      enough (candidates are deduped before verification). Rows for
      non-minimal shared shingles may be over-pruned — that only
      *removes* duplicate candidate rows, never a pair.

    VERDICT r10 #1: the prefix filter alone let candidates grow
    quadratically under fixed-vocabulary corpus growth (every posting
    list scales with the corpus); the length + positional predicates
    prune at join time, before the candidate dedup shuffle. The
    residual Sum(df^2) term is inherent to *exact* set-similarity
    joins on corpora whose vocabulary doesn't grow (Heaps-law corpora
    keep prefixes rare) — the scale path for near-dup clustering is
    ``minhash_lsh_pairs`` (see ``connected_components`` callers).

    **Candidate-budget guard** (VERDICT r11 #1): at 100 TB a
    templated/code-heavy shard can recreate the fixed-vocabulary
    regime and the exact join quietly pays the Sum(df^2) bill. Pass
    ``candidate_budget`` to bound it: before the join, the guard
    computes the exact upper bound on candidate rows — per prefix
    shingle with c prefix occurrences at most C(c,2) pairs, one
    partial-agg and a scalar collect over the prefix postings, which
    the guard localCheckpoints so the estimate job and the candidate
    join share one computed posting pass (on the routed escape that
    pass is the sunk cost of an exact bound) — and if the estimate
    exceeds the budget applies ``budget_action``:

    - ``"warn"`` (default): ``warnings.warn`` and proceed exact;
    - ``"error"``: raise ``CandidateBudgetExceeded`` — for pipelines
      that must not silently run a quadratic stage;
    - ``"minhash"``: route to ``minhash_lsh_pairs`` with the same
      shingle_n/threshold — candidate generation becomes banded
      (linear), recall becomes the banding S-curve (approximate),
      and verify Jaccard is defined on the hashed-shingle domain
      (see minhash_lsh_pairs; values can differ from exact string
      Jaccard in the 4th decimal).

    ``candidate_budget=None`` skips the estimate entirely (no extra
    job — the default path is plan-identical to round 11). ``stats``,
    when passed with a budget, receives ``{"candidate_estimate": n,
    "routed": bool}`` for tests and pipeline telemetry.
    ``route_kwargs`` forwards extra arguments (num_hashes, bands,
    hasher) to ``minhash_lsh_pairs`` on the routed path — pass
    ``hasher="md5"`` when the routed output must be replicable by an
    ANSI-SQL oracle (the ``ngram_jaccard_routed`` registry query
    checks the escape hatch end-to-end that way)."""
    _check_budget_action(budget_action)
    base = _shingle_base(df, text_col, id_col, shingle_n)
    _, prefix = _prefix_postings(base, threshold, "__id", "__n", "__rk", "shingle")
    prefix, routed = _budget_route(
        prefix, candidate_budget, budget_action, stats,
        "ngram_jaccard_pairs",
        lambda p: p.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__c"))
        .agg(
            F.sum(F.col("__c") * (F.col("__c") - 1) / 2)
            .cast("bigint")
            .alias("__est")
        ),
        "minhash_lsh_pairs",
        lambda: minhash_lsh_pairs(
            df,
            text_col,
            id_col,
            shingle_n=shingle_n,
            jaccard_threshold=threshold,
            **(route_kwargs or {}),
        ),
    )
    if routed is not None:
        return routed
    x = prefix.select(
        F.col("__id").alias("__il"),
        F.col("__n").alias("__nl"),
        F.col("__rk").alias("__pl"),
        "shingle",
    )
    y = prefix.select(
        F.col("__id").alias("__is"),
        F.col("__n").alias("__ns"),
        F.col("__rk").alias("__ps"),
        "shingle",
    )
    # index-prefix bound for the smaller side, evaluated INSIDE the
    # join (not as a y-side pre-filter): both join inputs stay
    # plan-identical, so the shingle exchange is computed once and
    # reused — the asymmetric pruning still kills the candidate row
    # before it reaches the dedup shuffle, which is the quadratic term
    index_len_s = _prefix_len(2.0 * threshold / (1.0 + threshold), "__ns")
    # required overlap for jaccard >= t: I/(nl+ns-I) >= t  <=>
    # I >= t*(nl+ns)/(1+t); the epsilon guards integral t*(nl+ns)
    # against float rounding inside ceil (same artifact as _prefix_len)
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("__nl") + F.col("__ns"))
        - F.lit(1e-9)
    )
    cand = (
        x.join(y, "shingle")
        # size-ordered orientation: y is the indexed (smaller) side —
        # strict (n, id) lexicographic order dedups orientation and is
        # what licenses y's shorter index prefix
        .filter(
            (F.col("__ns") < F.col("__nl"))
            | ((F.col("__ns") == F.col("__nl")) & (F.col("__is") < F.col("__il")))
        )
        .filter(F.col("__ps") <= index_len_s)
        # length filter: small side >= t * large side (Catalyst folds
        # these into the join condition — out-of-band rows die inside
        # the hash join)
        .filter(F.col("__ns") >= F.lit(threshold) * F.col("__nl") - F.lit(1e-9))
        # positional filter: 1 + min(remaining suffix) must reach alpha
        .filter(
            F.lit(1)
            + F.least(
                F.col("__nl") - F.col("__pl"), F.col("__ns") - F.col("__ps")
            )
            >= alpha
        )
        .select(
            F.least("__il", "__is").alias("id_a"),
            F.greatest("__il", "__is").alias("id_b"),
        )
    )
    # |A ∪ B| = |A| + |B| - |A ∩ B| on the distinct sets — identical
    # integers to size(array_union), hence a bit-identical double, for
    # one set-op instead of two (opt r18); the 1e-9 slack covers the
    # double division in the digest bound
    inter_h = F.size(F.array_intersect("shh_a", "shh_b"))
    inter_s = F.size(F.array_intersect("sh_a", "sh_b"))
    return _verify_pairs(
        cand,
        base,
        inter_h / (F.col("nh_a") + F.col("nh_b") - inter_h)
        >= F.lit(threshold) - F.lit(1e-9),
        "jaccard",
        inter_s / (F.col("n_a") + F.col("n_b") - inter_s),
        threshold,
    )


def _gram_digest(g) -> Column:
    """The decontamination family's 60-bit ANSI md5-prefix digest —
    shared by the batch flag/cut operators and the streaming filter so
    every flavor probes the identical digest domain (oracle-replicable;
    60 bits keeps collisions negligible where the 31-bit minhash field
    would not)."""
    return F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("bigint")


def _gram_stream(
    tokens: DataFrame, k: int, *keys: str, positions: bool = False
) -> DataFrame:
    """(*keys, [__p,] __d): one row per k-token gram of a tokenized
    (*keys, __w) frame — its digest, plus its 0-based start position
    when ``positions``. Docs shorter than k tokens emit no grams."""
    gen, out = (F.posexplode, ("__p", "__g")) if positions else (F.explode, ("__g",))
    return (
        tokens.filter(F.size("__w") >= k)
        .select(*keys, gen(word_shingles(F.col("__w"), k)).alias(*out))
        .select(*keys, *out[:-1], _gram_digest(F.col("__g")).alias("__d"))
    )


def _gram_digests(
    df: DataFrame, text_col: str, k: int, *key_cols: Column
) -> DataFrame:
    """Distinct (*keys, __d) k-gram digests of an evaluation set — the
    bounded probe side of every decontamination flavor. ``key_cols``
    are aliased columns (item id, set label) carried beside each
    digest; none gives the set-wide digest table."""
    tokens = df.select(*key_cols, words(text_col).alias("__w"))
    return _gram_stream(tokens, k, *tokens.columns[:-1]).distinct()


def _resolve_broadcast(
    digests: DataFrame,
    broadcast: bool | str,
    max_digests: int,
    multi_consumer: bool = False,
) -> tuple[DataFrame, bool]:
    """The decontamination family's broadcast contract for its bounded
    digest side; returns ``(digests, broadcast)`` with the decision
    resolved to a bool.

    A forced hint bypasses autoBroadcastJoinThreshold, so it carries a
    size contract: the digests must fit an executor (~8 bytes/gram; a
    1M-question eval set is tens of MB — fine; a swapped
    corpus/benchmark argument order is NOT). ``"auto"`` (VERDICT r12
    #5) lets one count job over the distinct digests decide: the hint
    applies only at or below ``max_digests`` (default 4M digests ~
    32 MB payload); above it the join falls back to a plain equi-join
    and AQE picks the strategy from the measured size, so an
    argument-order mistake degrades to a shuffle instead of an
    executor OOM. ``True`` forces the hint, ``False`` never hints.

    Staging: a ``multi_consumer`` table (read by the probe AND another
    branch) is staged unconditionally with eager=False, so the
    benchmark tokenize+distinct runs exactly once per call while
    CONSTRUCTION stays lazy (ADVICE r14): plan-only callers with an
    explicit True/False trigger no Spark job, and the auto count (or
    the first consumer action) materializes it — parquet checkpoint
    mode excepted, whose staging write is inherently eager (ADVICE
    r15, see materialize()). A single-consumer table is staged only on
    the auto path, where the count job would otherwise replay the
    lineage the probe join repeats (VERDICT r13 #3); elsewhere staging
    would only add a checkpoint write (VERDICT r14 #7). Erasing
    Catalyst's static size stats at the checkpoint is safe: the
    consumer join is either explicitly hinted or AQE-planned from the
    measured runtime size."""
    if broadcast not in (True, False, "auto"):
        raise ValueError(
            f"broadcast={broadcast!r}: expected True, False or 'auto'"
        )
    if multi_consumer:
        digests = digests.transform(materialize, eager=False)
    elif broadcast == "auto":
        digests = digests.transform(materialize)
    if broadcast == "auto":
        broadcast = digests.count() <= max_digests
    return digests, broadcast


def _probe_rows(
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """(__id, __n, __d): the corpus gram stream of the whole-doc
    probes, on which every doc rides exactly once — sub-k docs
    contribute one null-digest row via ``explode_outer`` (a null digest
    never matches the probe), and the doc's gram count ``__n`` travels
    arithmetically beside its grams, so one doc-keyed aggregation
    yields hits AND fill-in zeros with no join back to the doc list."""
    tokens = _doc_tokens(corpus, text_col, id_col, "__id")
    return tokens.select(
        "__id",
        F.greatest(F.size("__w") - F.lit(k - 1), F.lit(0))
        .cast("bigint")
        .alias("__n"),
        F.explode_outer(
            F.when(F.size("__w") >= k, word_shingles(F.col("__w"), k))
        ).alias("__g"),
    ).select("__id", "__n", _gram_digest(F.col("__g")).alias("__d"))


# The reserved set column under which a single evaluation set runs as
# the one-member suite of its multi-set twin; the single-set functions
# project it (and the attribution columns) away.
_ONE_SET = "__one_set"


def _one_set(benchmark: DataFrame) -> DataFrame:
    return benchmark.withColumn(_ONE_SET, F.lit(""))


def repeated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring repeated-passage detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499 — the ExactSubstr pass): every token position
    whose k-token gram occurs >= ``min_count`` times in the WHOLE
    corpus (within-document repeats count too — boilerplate repeating
    inside one page is still boilerplate) is duplicated; overlapping or
    adjacent duplicated grams merge into maximal per-document spans.
    Returns (id, span_start, span_end, span_tokens), 0-based inclusive
    token indexes — the spans a cleaning pass would cut.

    Spark shape instead of the paper's suffix array: a suffix array is
    a single-machine construction; the distributed equivalent is the
    k-gram postings profile. posexplode the k-grams WITH start
    positions, hash each gram to a 60-bit md5-prefix digest (8 bytes
    cross the count shuffle per gram, not the gram string — and 60
    bits keeps digest collisions negligible where the 31-bit minhash
    field would not), partial-agg count per digest (map-side combine,
    one shuffle), semi-join the >= min_count digests back, then
    gaps-and-islands the surviving positions per document (window by
    id; a new island starts when the gap to the previous duplicated
    position exceeds k, since equal-length intervals sorted by start
    merge exactly when start_next <= start_prev + k). All Column
    algebra; the digest is ANSI-replicable so the DuckDB oracle
    reproduces spans bit-for-bit. Documents shorter than k tokens emit
    no spans (whole-document duplicates are ``exact_dedup``'s job)."""
    if k < 1 or min_count < 2:
        raise ValueError("k must be >= 1 and min_count >= 2")
    base = _doc_tokens(df, text_col, id_col, "__id")
    return _repeated_spans_from_tokens(base, id_col, k, min_count)


def _repeated_spans_from_tokens(
    base: DataFrame, id_col: str, k: int, min_count: int
) -> DataFrame:
    """Span computation over a pre-tokenized (__id, __w) frame, shared
    by ``repeated_spans`` and ``cut_repeated_spans`` so the cut path
    normalizes/tokenizes the corpus ONCE (ADVICE r11)."""
    # positions feed the count AND the join-back; materialize once so
    # the normalize/shingle/md5 scan doesn't run twice
    grams = _gram_stream(base, k, "__id", positions=True).transform(materialize)
    dup_digests = (
        grams.groupBy("__d")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("__d")
    )
    pos = grams.join(dup_digests, "__d").select("__id", "__p")
    return _positions_to_spans(pos, id_col, k)


def _positions_to_spans(pos: DataFrame, id_col: str, k: int) -> DataFrame:
    """Gaps-and-islands merge of flagged k-gram start positions
    (__id, __p) into maximal per-document token spans — shared by the
    repeated-passage profile and the benchmark-decontamination cut.
    Equal-length k-token intervals sorted by start merge exactly when
    start_next <= start_prev + k."""
    win = Window.partitionBy("__id").orderBy("__p")
    brk = F.when(F.col("__p") - F.lag("__p").over(win) > k, F.lit(1)).otherwise(
        F.lit(0)
    )
    isl = pos.withColumn("__b", brk).withColumn(
        "__isl",
        F.sum("__b").over(win.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        isl.groupBy("__id", "__isl")
        .agg(
            F.min("__p").cast("bigint").alias("span_start"),
            (F.max("__p") + F.lit(k - 1)).cast("bigint").alias("span_end"),
        )
        .select(
            F.col("__id").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def _cut_spans(base: DataFrame, spans: DataFrame, id_col: str) -> DataFrame:
    """Cut every span out of the tokenized corpus ``base`` (__id, __w)
    and return (id, n_tokens, removed_tokens, clean_text) — the shared
    cleaning step of ``cut_repeated_spans`` / ``cut_contaminated_
    spans``. Spans collapse to one array per doc (disjoint by
    construction), and an indexed ``filter`` HOF keeps token i iff no
    span covers it; docs with no spans pass through unchanged (the
    exists() over the null span array coalesces to false — no fill-in
    join)."""
    slist = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    j = base.withColumnRenamed("__id", id_col).join(slist, id_col, "left")
    covered = lambda i: F.coalesce(  # noqa: E731
        F.exists(
            F.col("__spans"),
            lambda s: (s["span_start"] <= i) & (i <= s["span_end"]),
        ),
        F.lit(False),
    )
    kept = F.filter(F.col("__w"), lambda x, i: ~covered(i))
    return j.select(
        id_col,
        F.size("__w").cast("bigint").alias("n_tokens"),
        (F.size("__w") - F.size(kept)).cast("bigint").alias("removed_tokens"),
        F.array_join(kept, " ").alias("clean_text"),
    )


def cut_repeated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """The cleaning half of ExactSubstr (companion to
    ``repeated_spans``): remove every repeated-passage span from each
    document and return (id, n_tokens, removed_tokens, clean_text) —
    clean_text over the NORMALIZED token stream (the span indexes are
    token positions in that stream, so the cut is exact there; callers
    needing raw-text surgery map token indexes back through their own
    tokenizer offsets).

    Pure Column algebra: spans collapse to one array per doc
    (collect_list of disjoint-by-construction intervals), and an
    indexed ``filter`` HOF keeps token i iff no span covers it —
    per-token work is O(spans-per-doc), spans are maximal-merged and
    few. Docs with no spans pass through unchanged (the exists() over
    the null span array coalesces to false — no fill-in join). The
    tokenized base is computed ONCE (materialized) and shared between
    the span profile and the cut join — the normalize/tokenize scan of
    the corpus is the dominant linear term and must not run twice
    (ADVICE r11)."""
    if k < 1 or min_count < 2:
        raise ValueError("k must be >= 1 and min_count >= 2")
    # the checkpoint stores tokens, not raw text
    base = _doc_tokens(df, text_col, id_col, "__id").transform(materialize)
    spans = _repeated_spans_from_tokens(base, id_col, k, min_count)
    return _cut_spans(base, spans, id_col)


def _cut_probe(
    corpus: DataFrame,
    benchmarks: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    broadcast: bool | str,
    broadcast_max_digests: int,
    *key_cols: Column,
) -> tuple[DataFrame, DataFrame]:
    """The shared front half of the two benchmark cutters: ``(base,
    matched)`` — the staged corpus tokens (__id, __w) and the corpus
    positional gram stream joined to the benchmark digest table
    (__d, __id, __p, *keys), keyed by ``key_cols`` beside each digest.
    The digest side follows ``_resolve_broadcast``; the probe never
    shuffles the corpus. Each cutter keeps its own plan after the
    probe join (the multi cutter stages ``matched``, which would hide
    the single cutter's probe broadcast inside the checkpoint)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    bench_d, broadcast = _resolve_broadcast(
        _gram_digests(benchmarks, text_col, k, *key_cols),
        broadcast,
        broadcast_max_digests,
    )
    # the checkpoint stores tokens, not raw text
    base = _doc_tokens(corpus, text_col, id_col, "__id").transform(materialize)
    grams = _gram_stream(base, k, "__id", positions=True)
    return base, grams.join(F.broadcast(bench_d) if broadcast else bench_d, "__d")


def cut_contaminated_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 13,
    broadcast: bool | str = "auto",
    broadcast_max_digests: int = 4_000_000,
) -> DataFrame:
    """Benchmark-decontamination SURGERY (the cut companion to
    ``exact_substring_contamination``, which only flags): every corpus
    token position whose k-token gram appears verbatim in the
    evaluation set is cut, with overlapping/adjacent leaked grams
    merged into maximal spans first — the FineWeb-style recipe that
    keeps an otherwise-good document and removes just the leaked
    passage, instead of dropping the whole doc the way the GPT-3
    appendix-C filter does. Returns (id, n_tokens, removed_tokens,
    clean_text) over the NORMALIZED token stream — the
    ``cut_repeated_spans`` output contract, and the same island-merge
    + indexed-filter machinery (``_positions_to_spans`` /
    ``_cut_spans``), so span semantics are identical between the
    within-corpus and against-benchmark cleaners.

    Scale shape: the benchmark digest side follows the family's
    size-checked broadcast contract (``_resolve_broadcast``); the corpus-side
    positional gram stream probes that join and never shuffles, and
    the only corpus-keyed exchanges are the island window and the
    span join-back, both on the already-co-partitioned doc id. Docs
    shorter than k tokens emit no grams and pass through uncut."""
    base, matched = _cut_probe(
        corpus, benchmark, text_col, id_col, k, broadcast, broadcast_max_digests
    )
    spans = _positions_to_spans(matched.select("__id", "__p"), id_col, k)
    return _cut_spans(base, spans, id_col)


def cut_multi_benchmark_spans(
    corpus: DataFrame,
    benchmarks: DataFrame,
    text_col: str,
    id_col: str,
    set_col: str,
    k: int = 13,
    broadcast: bool | str = "auto",
    broadcast_max_digests: int = 4_000_000,
) -> DataFrame:
    """Suite-level decontamination SURGERY — production-shape
    multi-benchmark span cutting, the way FineWeb/Dolma actually run
    it: ONE corpus scan against the UNION of N evaluation sets'
    k-gram digest tables, cutting every leaked span once, with
    per-benchmark ATTRIBUTION so the report stage can say which eval
    set each document leaked (running ``cut_contaminated_spans`` N
    times would scan and re-shuffle the corpus N times and cut
    overlapping spans N times). ``benchmarks`` carries a ``set_col``
    labeling each eval doc's suite membership; spans are merged and
    cut against the union (a token covered by ANY set's gram is
    removed exactly once), and attribution is tallied per set.

    Returns one row per corpus doc (the ``cut_contaminated_spans``
    contract plus two attribution columns): (id, n_tokens,
    removed_tokens, clean_text, n_leak_sets, leak_attribution) —
    ``n_leak_sets`` = distinct benchmark sets with at least one
    verbatim k-gram match in this doc, ``leak_attribution`` =
    ``"set=hits"`` pairs joined by commas, sorted by the set id's
    STRING form (deterministic, engine-neutral), where ``hits``
    counts the corpus token positions whose k-gram appears in that
    set's digest table (a position leaking into multiple sets counts
    once PER SET here, once TOTAL in the cut). Unleaked docs pass
    through uncut with ``n_leak_sets`` 0 and an empty attribution.

    Scale shape: the (set, digest) table is the bounded side and
    follows the family's size-checked ``broadcast="auto"`` contract
    (the hint cap applies to the union's ROW count — per-set digest
    duplicates included, since that is what ships to executors); the
    corpus-side positional gram stream probes it and never shuffles,
    and it runs ONCE regardless of how many benchmarks are in the
    suite — the probe output (matched positions x sets, leak-sized)
    is staged, so the island window and the attribution aggregations
    both read the checkpoint instead of replaying the gram scan. The
    corpus text itself crosses the wire exactly like
    ``cut_contaminated_spans``: once into the doc-keyed staging
    repartition and once into the span/attribution join-back — never
    per benchmark; every other exchange (island window, span
    collapse, both attribution aggs) carries leak-sized rows.
    Matched positions are NOT pre-deduped across sets before the
    island window: duplicate positions merge into the same island for
    free (min/max/lag are duplicate-insensitive), and a distinct
    would cost an extra exchange to save leak x sets rows. Same
    60-bit ANSI md5-prefix digest as the rest of the family
    (oracle-replicable)."""
    # one data consumer: attribution reads the probe's OUTPUT, not the
    # digest table again
    base, matched = _cut_probe(
        corpus, benchmarks, text_col, id_col, k, broadcast,
        broadcast_max_digests, F.col(set_col).cast("string").alias("__s"),
    )
    # staged: TWO consumers (island window + attribution) read the
    # matched positions, and without the checkpoint each would replay
    # the corpus gram stream — the dominant scan+digest CPU — through
    # its own probe join. The staged table is leak-volume-sized
    # (matched positions x sets), not corpus-sized; eager=False keeps
    # construction lazy (parquet checkpoint mode excepted — its
    # staging write is inherently eager; see materialize())
    matched = matched.select("__id", "__p", "__s").transform(
        materialize, eager=False
    )
    spans = _positions_to_spans(matched.select("__id", "__p"), id_col, k)
    attr = (
        matched.groupBy("__id", "__s")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__hits"))
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_leak_sets"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__s", "__hits"))
                    ),
                    lambda r: F.concat(
                        r["__s"], F.lit("="), r["__hits"].cast("string")
                    ),
                ),
                ",",
            ).alias("leak_attribution"),
        )
        .withColumnRenamed("__id", id_col)
    )
    return (
        _cut_spans(base, spans, id_col)
        .join(attr, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            "removed_tokens",
            "clean_text",
            F.coalesce("n_leak_sets", F.lit(0)).alias("n_leak_sets"),
            F.coalesce("leak_attribution", F.lit("")).alias(
                "leak_attribution"
            ),
        )
    )


def benchmark_leak_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 13,
    broadcast: bool | str = "auto",
    broadcast_max_digests: int = 4_000_000,
) -> DataFrame:
    """Eval-integrity report — the REVERSE direction of
    ``exact_substring_contamination``: for each BENCHMARK document,
    how badly it leaked into the training corpus. The corpus-side
    flag decides which training docs to drop; this one decides which
    EVAL ITEMS are compromised (the standard practice when a
    benchmark can't be re-collected: report per-item leak rates and
    score the clean subset separately). Returns one row per benchmark
    doc: (id, n_distinct_grams, leaked_grams, leaking_docs,
    leaked_frac, leaked) — distinct k-gram digests of the item, how
    many of them appear verbatim anywhere in the corpus, how many
    DISTINCT corpus documents share at least one, the leaked
    fraction (6 decimals), and the any-leak flag. Benchmark docs
    shorter than k tokens report 0 grams and are never leaked.

    N=1 call of ``multi_benchmark_leak_report`` (scale shape there);
    projecting away its worst-document columns lets Catalyst drop
    that unique-key fill-in join."""
    return multi_benchmark_leak_report(
        corpus, _one_set(benchmark), text_col, id_col, _ONE_SET, k,
        broadcast, broadcast_max_digests,
    ).select(
        id_col,
        "n_distinct_grams",
        "leaked_grams",
        "leaking_docs",
        "leaked_frac",
        "leaked",
    )


def benchmark_leak_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 13,
    broadcast: bool | str = "auto",
    broadcast_max_digests: int = 4_000_000,
) -> DataFrame:
    """Per-span leak ATTRIBUTION — the forensic join between the two
    directions of the decontamination family: ``benchmark_leak_report``
    says WHICH eval items leaked and how badly; this one says WHERE —
    for every (benchmark item, corpus document) pair that shares at
    least one verbatim k-token gram, the maximal leaked span(s) in the
    CORPUS document's normalized token stream. This is the view
    FineWeb/Dolma publish when they adjudicate a contaminated eval
    item: the exact training passages that contain it, so a human can
    distinguish a true leak from a famous quote or boilerplate.
    Returns (bench_id, <id_col>, span_start, span_end, span_tokens) —
    one row per maximal span, span indexes in the corpus doc's token
    coordinates (the ``repeated_spans`` contract), spans merged per
    (item, doc).

    N=1 call of ``multi_benchmark_leak_spans`` (scale shape there)."""
    return multi_benchmark_leak_spans(
        corpus, _one_set(benchmark), text_col, id_col, _ONE_SET, k,
        broadcast, broadcast_max_digests,
    ).select("bench_id", id_col, "span_start", "span_end", "span_tokens")


def multi_benchmark_leak_spans(
    corpus: DataFrame,
    benchmarks: DataFrame,
    text_col: str,
    id_col: str,
    set_col: str,
    k: int = 13,
    broadcast: bool | str = "auto",
    broadcast_max_digests: int = 4_000_000,
) -> DataFrame:
    """Suite-level per-span leak attribution (r16 — completes the
    multi-benchmark matrix: flag / cut / report / streaming gate were
    already N-set, spans was the last single-set member): for every
    (benchmark item, corpus document) pair sharing a verbatim k-gram,
    the maximal leaked span(s) in the corpus doc's normalized token
    stream, with the item's benchmark-set label carried through — N
    eval sets adjudicated from ONE corpus tokenize+digest pass where
    ``benchmark_leak_spans`` run per set would pay the corpus scan N
    times. Returns (bench_id, <set_col>, <id_col>, span_start,
    span_end, span_tokens) — one row per maximal span in corpus-doc
    token coordinates (the ``repeated_spans`` contract; spans merged
    per (item, doc) via the shared gaps-and-islands machinery).
    An item leaking into several sets' shared passage reports under
    ITS OWN set only — the set is the item's label, not a match
    attribute.

    Scale shape: the suite (item, set, digest — distinct) table
    follows the size-checked ``broadcast="auto"`` contract and is
    staged before the auto count (staged-once, VERDICT r13 #3); the
    corpus positional gram stream probes it, and corpus text crosses
    the wire only in the doc-keyed tokenize exchange (``_doc_tokens``).
    The island merge is keyed by the (item, set, doc) triple — the set
    label is functionally dependent on the item, so the window keys
    keep the (item, doc) cardinality: finer than the doc-keyed
    exchange of ``cut_contaminated_spans`` but output-bounded, since
    only positions that matched an eval gram reach the window —
    leak-volume, not corpus-volume."""
    if k < 1:
        raise ValueError("k must be >= 1")
    # one data consumer: the probe join
    bench_g, broadcast = _resolve_broadcast(
        _gram_digests(
            benchmarks,
            text_col,
            k,
            F.col(id_col).alias("__bid"),
            F.col(set_col).alias("__set"),
        ),
        broadcast,
        broadcast_max_digests,
    )
    # the island window keys by (item, set, doc), so the doc-keyed
    # exchange is a local parallelism aid only
    grams = _gram_stream(
        _doc_tokens(corpus, text_col, id_col, "__cid"),
        k,
        "__cid",
        positions=True,
    )
    # one matched corpus position per (item, set, doc, p): the digest
    # is a function of the position and bench_g is distinct per (item,
    # set, digest), so the island input needs no dedup before the window
    pos = grams.join(
        F.broadcast(bench_g) if broadcast else bench_g, "__d"
    ).select(F.struct("__bid", "__set", "__cid").alias("__id"), "__p")
    spans = _positions_to_spans(pos, "__key", k)
    return spans.select(
        F.col("__key.__bid").alias("bench_id"),
        F.col("__key.__set").alias(set_col),
        F.col("__key.__cid").alias(id_col),
        "span_start",
        "span_end",
        "span_tokens",
    )


def leakage_safe_split(
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    splits=None,
    salt: str = "split",
    num_hashes: int = 32,
    bands: int = 16,
    jaccard_threshold: float = 0.6,
    hasher: str = "md5",
    algorithm: str = "auto",
) -> DataFrame:
    """Near-dup-cluster-aware train/val/test assignment — the split
    recipe The Stack / StarCoder data prep uses: hash-splitting
    INDIVIDUAL documents leaks near-duplicates across the test
    boundary (measured by this package's ``split_leakage`` detector);
    the leakage-safe construction splits by CLUSTER instead. Pipeline:
    MinHash-LSH verified pairs -> connected components (the
    ``dedup_components`` contract: component = min reachable id;
    singletons map to themselves) -> deterministic md5 split of the
    COMPONENT id (the ``split_assign`` per-mille thresholds), so every
    member of a near-dup cluster lands in the same split by
    construction and membership can never migrate between dataset
    versions. Returns (id, component, split).

    Scale shape: inherits its three stages' proven shapes — the
    banded minhash join (probe-linear), the checkpointed CC rounds
    (auto label-prop/star escalation), and a scan-speed md5 bucket
    projection; the split step adds ZERO exchanges on top of the
    component output."""
    from graphkb_spark.operators.sampling import split_assign

    pairs = minhash_lsh_pairs(
        corpus,
        text_col,
        id_col,
        num_hashes=num_hashes,
        bands=bands,
        jaccard_threshold=jaccard_threshold,
        hasher=hasher,
    )
    comp = connected_components(
        pairs.select("id_a", "id_b"),
        corpus.select(id_col),
        id_col=id_col,
        algorithm=algorithm,
    )
    assigned = split_assign(comp, "comp", splits=splits, salt=salt)
    return assigned.select(
        F.col("node").alias(id_col),
        F.col("comp").alias("component"),
        "split",
    )


def benchmark_overlap_matrix(
    benchmarks: DataFrame,
    text_col: str,
    set_col: str,
    k: int = 13,
) -> DataFrame:
    """Cross-benchmark contamination MATRIX — the audit HELM/Dolma-
    style eval reports publish before trusting a suite: for every
    ordered pair of benchmark SETS, how much of set A's verbatim
    k-gram surface already appears in set B. Two benchmarks that
    share questions (TriviaQA/NQ-style) double-count capability and
    leak through each other's decontamination filters; this matrix is
    the one-job way to find that before training. Returns one row per
    ordered pair (set_a != set_b): (set_a, set_b, grams_a, grams_b,
    shared_grams, containment, jaccard) — distinct-gram set sizes,
    the distinct shared grams, directed containment
    shared/grams_a (how much of A is inside B, 6 decimals), and the
    symmetric Jaccard. Sets whose docs are all shorter than k tokens
    report 0 grams and 0.0 overlap (never NULL).

    Scale shape: the per-set distinct digest table (set, digest) is
    built ONCE (materialized — it feeds the sizes aggregate and both
    sides of the pair join); the pair join is a digest-keyed
    equi-self-join, so both sides share one exchange and a hot
    boilerplate gram fans out at most sets^2 rows; the final matrix
    assembly is a bounded cross join of the set list (sets are few by
    definition) with every lookup broadcast. Same 60-bit ANSI
    md5-prefix digest as the rest of the decontamination family
    (oracle-replicable)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    sets = benchmarks.select(F.col(set_col).alias("__sa")).distinct()
    # three consumers (sizes + both sides of the pair join), staged
    # lazily: the first action materializes the checkpoint and the
    # other consumers scan it (parquet checkpoint mode excepted — its
    # staging write is inherently eager; see materialize())
    g = _gram_digests(
        benchmarks, text_col, k, F.col(set_col).alias("__s")
    ).transform(materialize, eager=False)
    sizes = g.groupBy("__s").agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    shared = (
        g.select(F.col("__s").alias("__sa"), "__d")
        .join(g.select(F.col("__s").alias("__sb"), "__d"), "__d")
        .filter(F.col("__sa") != F.col("__sb"))
        .groupBy("__sa", "__sb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__shared"))
    )
    pairs = sets.crossJoin(
        sets.select(F.col("__sa").alias("__sb"))
    ).filter(F.col("__sa") != F.col("__sb"))
    ga = F.coalesce("__na", F.lit(0))
    gb = F.coalesce("__nb", F.lit(0))
    sh = F.coalesce("__shared", F.lit(0))
    return (
        pairs.join(
            F.broadcast(sizes.select(F.col("__s").alias("__sa"),
                                     F.col("__n").alias("__na"))),
            "__sa", "left",
        )
        .join(
            F.broadcast(sizes.select(F.col("__s").alias("__sb"),
                                     F.col("__n").alias("__nb"))),
            "__sb", "left",
        )
        .join(F.broadcast(shared), ["__sa", "__sb"], "left")
        .select(
            F.col("__sa").alias("set_a"),
            F.col("__sb").alias("set_b"),
            ga.cast("bigint").alias("grams_a"),
            gb.cast("bigint").alias("grams_b"),
            sh.cast("bigint").alias("shared_grams"),
            F.when(ga > 0, F.round(sh / ga, 6))
            .otherwise(F.lit(0.0))
            .alias("containment"),
            F.when(ga + gb - sh > 0, F.round(sh / (ga + gb - sh), 6))
            .otherwise(F.lit(0.0))
            .alias("jaccard"),
        )
    )


def exact_substring_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 13,
    min_hits: int = 1,
    broadcast: bool | str = "auto",
    broadcast_max_digests: int = 4_000_000,
) -> DataFrame:
    """Exact k-gram benchmark decontamination (the GPT-3 appendix-C /
    FineWeb recipe: a training document is contaminated if it shares
    ANY k-token exact span with the evaluation set; k=13 is the
    canonical choice). Complements ``contamination_flags`` (distinct-
    shingle overlap FRACTION): the fraction test scores fuzzy overlap,
    this one trips on a single verbatim leaked passage regardless of
    document length. Returns one row per corpus doc: (id, n_grams,
    k_gram_hits, contaminated). Corpus docs shorter than k tokens have
    n_grams 0 and are never contaminated.

    N=1 call of ``multi_benchmark_contamination`` (scale shape and the
    ``broadcast`` contract are documented there)."""
    return multi_benchmark_contamination(
        corpus, _one_set(benchmark), text_col, id_col, _ONE_SET, k,
        min_hits, broadcast, broadcast_max_digests,
    ).select(id_col, "n_grams", "k_gram_hits", "contaminated")


def _multi_contamination_probe(
    corpus: DataFrame,
    bench_g: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    min_hits: int,
    broadcast: bool,
) -> DataFrame:
    """The corpus-side probe of ``multi_benchmark_contamination``
    against a prepared (set, digest) table — factored out so the
    streaming gate reuses it per micro-batch with the broadcast
    decision made once up front.

    Zero joins after the broadcast probe (the r14 flag rewrite): the
    r13 shape computed hits on the gram stream and LEFT-JOINED them
    back onto the doc list, which shuffled the tokenized corpus TWICE
    (measured by the consume() probe: 107 MB vs 53 MB of corpus at
    x30). Now doc-keyed aggregations over ``_probe_rows`` produce the
    full contract, fill-in zeros included: the LEFT join against the
    per-set digests emits unmatched positions once with a null set
    and matched positions once PER MATCHING SET, so the distinct
    matched-position count needs no countDistinct —
    ``k_gram_hits = n_grams - (unmatched positions)`` — and the
    per-(doc, set) group sizes ARE the attribution hit counts. Two
    chained doc-keyed aggregations ride the repartition's one
    partitioning, so the corpus text crosses the wire once, in the
    doc-keyed tokenize exchange, and the rows entering the second are
    (docs x sets)-bounded."""
    rows = _probe_rows(corpus, text_col, id_col, k)
    probed = rows.join(
        F.broadcast(bench_g) if broadcast else bench_g, "__d", "left"
    )
    per_set = probed.groupBy("__id", "__s").agg(
        F.first("__n").alias("__n"),
        F.count(F.lit(1)).cast("bigint").alias("__cnt"),
        # sub-k docs contribute one (id, null-set) row whose digest is
        # null — not a position, so it must not count as unmatched
        F.sum(
            F.when(F.col("__s").isNull() & F.col("__d").isNotNull(), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("__unmatched"),
    )
    agg = per_set.groupBy("__id").agg(
        F.first("__n").alias("n_grams"),
        (F.first("__n") - F.sum("__unmatched")).alias("__h"),
        F.count(F.when(F.col("__s").isNotNull(), 1))
        .cast("bigint")
        .alias("n_leak_sets"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__s").isNotNull(),
                            F.struct("__s", "__cnt"),
                        )
                    )
                ),
                lambda r: F.concat(
                    r["__s"], F.lit("="), r["__cnt"].cast("string")
                ),
            ),
            ",",
        ).alias("leak_attribution"),
    )
    return agg.select(
        F.col("__id").alias(id_col),
        "n_grams",
        F.col("__h").alias("k_gram_hits"),
        (F.col("__h") >= min_hits).alias("contaminated"),
        "n_leak_sets",
        "leak_attribution",
    )


def multi_benchmark_contamination(
    corpus: DataFrame,
    benchmarks: DataFrame,
    text_col: str,
    id_col: str,
    set_col: str,
    k: int = 13,
    min_hits: int = 1,
    broadcast: bool | str = "auto",
    broadcast_max_digests: int = 4_000_000,
) -> DataFrame:
    """Suite-level exact k-gram decontamination FLAG — the whole-doc
    companion to ``cut_multi_benchmark_spans``: one corpus pass
    against the UNION of N evaluation sets' digest tables, flagging
    each training document and attributing its leaks per benchmark
    (the GPT-3 appendix-C drop filter, run the way FineWeb/Dolma run
    it: N eval sets, one scan). Returns one row per corpus doc:
    (id, n_grams, k_gram_hits, contaminated, n_leak_sets,
    leak_attribution) — the ``exact_substring_contamination``
    contract (hits = DISTINCT leaked positions, counted once even
    when a position leaks into several sets) plus the
    ``cut_multi_benchmark_spans`` attribution columns ("set=hits"
    pairs sorted by the set id's string form; per-set counts DO
    double-count shared positions, that is what attribution means).

    Scale shape: the (set, digest) union follows the family's
    size-checked ``broadcast="auto"`` contract (staged before the
    count so tokenize+distinct runs once); the corpus gram stream
    probes it without a further corpus exchange; zero joins after the
    probe — the hit count and the
    attribution come out of one chained doc-keyed aggregation pair
    riding one partitioning (see ``_multi_contamination_probe``)."""
    if k < 1 or min_hits < 1:
        raise ValueError("k must be >= 1 and min_hits >= 1")
    bench_g, broadcast = _resolve_broadcast(
        _gram_digests(
            benchmarks, text_col, k, F.col(set_col).cast("string").alias("__s")
        ),
        broadcast,
        broadcast_max_digests,
    )
    return _multi_contamination_probe(
        corpus, bench_g, text_col, id_col, k, min_hits, broadcast
    )


def multi_benchmark_leak_report(
    corpus: DataFrame,
    benchmarks: DataFrame,
    text_col: str,
    id_col: str,
    set_col: str,
    k: int = 13,
    broadcast: bool | str = "auto",
    broadcast_max_digests: int = 4_000_000,
) -> DataFrame:
    """Suite-level eval-integrity REPORT (r16 — closes the
    multi-benchmark family's reverse direction): for every item of N
    labeled evaluation sets, how badly it leaked into the training
    corpus, from ONE corpus scan. ``benchmark_leak_report`` run per
    set re-scans (tokenize + digest) the corpus N times; a user
    auditing a whole eval suite wants the per-item forensics in one
    pass — the production FineWeb/Dolma audit shape, mirroring how
    ``multi_benchmark_contamination`` unified the corpus-side flag.

    Returns one row per benchmark item: (id, set, n_distinct_grams,
    leaked_grams, leaking_docs, leaked_frac, leaked) — the
    ``benchmark_leak_report`` contract with the set label carried
    through — plus the worst-document attribution: ``worst_doc`` is
    the corpus document sharing the MOST distinct k-grams with the
    item (smallest id wins ties; NULL when nothing leaked) and
    ``worst_doc_shared`` its shared-distinct-gram count, the first
    document a forensic audit should read. Items shorter than k
    tokens report 0 grams and are never leaked.

    Scale shape: the per-item (item, digest — distinct, set-label
    free) table is the bounded side and follows the family's
    size-checked ``broadcast="auto"`` contract (staged once — probe join,
    per-item totals, and the auto size check all read the staging
    table; eager=False keeps construction lazy, parquet checkpoint
    mode excepted per materialize()'s contract). The corpus gram
    stream probes it; corpus text crosses the wire only in the
    doc-keyed tokenize exchange, and every exchange after the probe
    carries matched (item, doc, digest) triples — leak-volume,
    not corpus-volume. The distinct-triples table is staged once and
    feeds both rollups (per-item distinct counts via the Expand
    pipeline, and the per-(item, doc) worst-document argmax whose
    tie-break is a min over (-shared, doc) structs — plain Column
    algebra an oracle replicates). Fill-in joins over the
    suite-bounded totals broadcast only when the size check licensed
    broadcasting the digests (the ADVICE-r13 gate). Same 60-bit ANSI
    md5-prefix digest as the rest of the family."""
    if k < 1:
        raise ValueError("k must be >= 1")
    # (__bid, __d) WITHOUT the set label: every consumer here (probe
    # join, per-item totals, size check) keys by item, and the report
    # re-attaches the label from all_items at the end — so an item
    # listed under two set labels contributes its digests ONCE
    # (keeping the per-set label in this distinct would double-count
    # n_distinct_grams for such items, ADVICE r16)
    bench_g, broadcast = _resolve_broadcast(
        _gram_digests(benchmarks, text_col, k, F.col(id_col).alias("__bid")),
        broadcast,
        broadcast_max_digests,
        multi_consumer=True,
    )
    # the downstream aggs key by benchmark item: the doc-keyed
    # exchange is a local parallelism aid only
    grams = _gram_stream(
        _doc_tokens(corpus, text_col, id_col, "__cid"), k, "__cid"
    )
    # distinct (item, corpus doc, digest) triples — the per-pair hit
    # table both rollups read; staged once (leak-volume-sized). The
    # distinct partial-aggregates map-side, so a boilerplate gram
    # repeated through one corpus doc collapses before the shuffle.
    hits = (
        grams.join(
            F.broadcast(bench_g.select("__bid", "__d")) if broadcast
            else bench_g.select("__bid", "__d"),
            "__d",
        )
        .select("__bid", "__cid", "__d")
        .distinct()
        .transform(materialize, eager=False)
    )
    per_item = hits.groupBy("__bid").agg(
        F.countDistinct("__d").cast("bigint").alias("leaked_grams"),
        F.countDistinct("__cid").cast("bigint").alias("leaking_docs"),
    )
    # worst document per item: max shared distinct grams, ties to the
    # smallest corpus id — min over (-shared, cid) structs
    worst = (
        hits.groupBy("__bid", "__cid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__shared"))
        .groupBy("__bid")
        .agg(
            F.min(
                F.struct(
                    (-F.col("__shared")).alias("__neg"),
                    F.col("__cid").alias("__doc"),
                )
            ).alias("__top")
        )
        .select(
            "__bid",
            F.col("__top.__doc").alias("worst_doc"),
            (-F.col("__top.__neg")).cast("bigint").alias("worst_doc_shared"),
        )
    )
    # a plain row count is exact: bench_g is distinct on (__bid, __d)
    # by construction (set-label-free — see its comment), so no
    # Expand-pipeline countDistinct (and its extra exchange) is needed
    totals = bench_g.groupBy("__bid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_grams")
    )
    # fill-in joins over ALL benchmark items, including sub-k ones; the
    # per-item aggregates are eval-set-bounded, so when the size check
    # licensed broadcasting the digests it licenses these hints too —
    # but when it DECLINED (oversized or swapped benchmark argument),
    # forcing them would re-introduce the OOM the auto check exists to
    # prevent (one row per benchmark item), so the hints are gated on
    # the same resolved decision and AQE plans the oversized case
    # (ADVICE r13)
    hint = F.broadcast if broadcast else (lambda d: d)
    all_items = benchmarks.select(
        F.col(id_col).alias("__bid"), F.col(set_col).alias("__set")
    ).distinct()
    return (
        all_items.join(hint(totals), "__bid", "left")
        .join(hint(per_item), "__bid", "left")
        .join(hint(worst), "__bid", "left")
        .select(
            F.col("__bid").alias(id_col),
            F.col("__set").alias(set_col),
            F.coalesce("n_distinct_grams", F.lit(0)).alias("n_distinct_grams"),
            F.coalesce("leaked_grams", F.lit(0)).alias("leaked_grams"),
            F.coalesce("leaking_docs", F.lit(0)).alias("leaking_docs"),
            F.when(
                F.coalesce("n_distinct_grams", F.lit(0)) > 0,
                F.round(
                    F.coalesce("leaked_grams", F.lit(0))
                    / F.col("n_distinct_grams"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("leaked_frac"),
            (F.coalesce("leaking_docs", F.lit(0)) >= 1).alias("leaked"),
            "worst_doc",
            F.coalesce("worst_doc_shared", F.lit(0)).alias("worst_doc_shared"),
        )
    )


def simhash_chunks(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash as 4 x 16-bit chunk columns (c0..c3), entirely in
    JVM Column algebra over md5 token hashes — no Python in the path,
    and every step (md5 -> hex-nibble -> bit-vote -> chunk pack) is
    ANSI-SQL so an external oracle replicates the signature exactly.

    Bit convention: token hash = first 16 hex chars of md5(token); bit
    j (0..63, MSB-first across the hex string) lives in chunk j//16
    with weight 2^(15 - j%16). A doc votes +1/-1 per token per bit;
    bit set iff the vote sum is > 0. Docs with no tokens are dropped
    (no signature). One shuffle (the groupBy); 64 sums partial-agg
    map-side, so only 64 ints per doc cross the wire."""
    tok = df.select(
        F.col(id_col).alias("__id"), F.explode(words(text_col)).alias("__t")
    ).select("__id", F.md5("__t").alias("__h"))
    # materialize the 4 16-bit chunk values ONCE per token (4 conv calls,
    # not 64 conv+substring trees); each per-bit vote is then a cheap
    # shiftright+mask on an int column inside whole-stage codegen
    # The 64 vote aggregates and 4 chunk-pack expressions are built as
    # SQL strings (one parser call each) rather than Column-by-Column:
    # object-by-object construction costs ~10 py4j round trips per
    # expression and measured 1.1-1.5 s of pure DRIVER time per call at
    # any data size (opt r17, guide §7.3 "very large expression trees").
    # F.expr parses to the identical Catalyst expressions (shiftright/
    # &/CASE WHEN), so the plan and results are byte-identical.
    tok = tok.selectExpr(
        "__id",
        *[
            f"cast(conv(substring(__h, {c * 4 + 1}, 4), 16, 10) as int) as __n{c}"
            for c in range(4)
        ],
    )
    vote_aggs = [
        F.expr(
            f"sum((shiftright(__n{j // 16}, {15 - j % 16}) & 1) * 2 - 1) as v{j}"
        )
        for j in range(64)
    ]
    votes = tok.groupBy("__id").agg(*vote_aggs)
    chunk_sqls = []
    for c in range(4):
        terms = " + ".join(
            f"(case when v{c * 16 + jj} > 0 then {2 ** (15 - jj)} else 0 end)"
            for jj in range(16)
        )
        chunk_sqls.append(f"cast(0 + {terms} as bigint) as c{c}")
    return votes.selectExpr("__id", *chunk_sqls)


def simhash_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: block on 4 x 16-bit chunks (a pair within
    hamming distance 3 must agree on at least one chunk), verify with
    bit_count(xor) summed over the chunks."""
    df = df.repartition(exchange_width(df), id_col)
    # the signature table feeds both sides of the self-join;
    # localCheckpoint materializes it once AND frees the blocks on GC
    # (persist leaked cache entries across calls; measured faster too —
    # the join sides read shuffle-free local blocks)
    sh = simhash_chunks(df, text_col, id_col).transform(materialize)
    chunks = sh.select(
        "__id",
        "c0",
        "c1",
        "c2",
        "c3",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("chunk"), F.col(f"c{i}").alias("ckey"))
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select("__id", "c0", "c1", "c2", "c3", "b.chunk", "b.ckey")
    a = chunks.select(
        "chunk", "ckey", F.col("__id").alias("id_a"),
        *[F.col(f"c{i}").alias(f"a{i}") for i in range(4)],
    )
    b = chunks.select(
        "chunk", "ckey", F.col("__id").alias("id_b"),
        *[F.col(f"c{i}").alias(f"b{i}") for i in range(4)],
    )
    hamming = sum(
        F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"b{i}"))) for i in range(4)
    )
    return (
        a.join(b, ["chunk", "ckey"])
        .filter(F.col("id_a") < F.col("id_b"))
        # verify BEFORE the distinct: the hamming check is a narrow
        # per-row expression, so only true near-dups reach the
        # dropDuplicates shuffle (a pair within distance 3 that agrees
        # on two chunks would otherwise cross the wire twice)
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "hamming")
    )


def contamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    bench_text_col: str | None = None,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Benchmark DECONTAMINATION: flag corpus documents whose word
    ``shingle_n``-gram sets overlap a benchmark/eval set — the
    leakage guard every training-data pipeline runs before a corpus
    ships. Returns (id, n_shingles, n_hit, hit_frac, contaminated).

    Plan: benchmark shingles -> distinct (a SMALL set: eval suites are
    tiny next to the corpus) -> broadcast; the corpus side explodes
    its shingles and LEFT SEMI-counts hits per doc in one aggregation.
    One shuffle on the doc id; the benchmark never shuffles the
    corpus. At 100 TB the corpus-side scan dominates and the
    broadcast is megabytes."""
    bench_col = bench_text_col or text_col
    bench_sh = (
        benchmark.select(words(bench_col).alias("__w"))
        .select(F.explode(F.array_distinct(word_shingles("__w", shingle_n))).alias("shingle"))
        .distinct()
    )
    # explode_outer: a null-text doc has a null shingle array; it must
    # still appear in the report (contaminated=false), not vanish
    doc_sh = (
        docs.select(F.col(id_col).alias("__id"), words(text_col).alias("__w"))
        .select("__id", F.array_distinct(word_shingles("__w", shingle_n)).alias("__sh"))
        .select(
            "__id",
            F.when(F.col("__sh").isNotNull(), F.size("__sh"))
            .otherwise(F.lit(0))
            .alias("n_shingles"),
            F.explode_outer("__sh").alias("shingle"),
        )
    )
    hits = (
        doc_sh.join(F.broadcast(bench_sh.withColumn("__hit", F.lit(1))), "shingle", "left")
        .groupBy("__id", "n_shingles")
        .agg(F.sum(F.coalesce("__hit", F.lit(0))).alias("n_hit"))
    )
    frac = F.when(
        F.col("n_shingles") > 0, F.col("n_hit") / F.col("n_shingles")
    ).otherwise(F.lit(0.0))
    return hits.select(
        F.col("__id").alias(id_col),
        "n_shingles",
        "n_hit",
        F.round(frac, 6).alias("hit_frac"),
        (frac >= threshold).alias("contaminated"),
    )


def _deletions(c) -> F.Column:
    """Every string obtained by deleting exactly one character of ``c``
    (a Column or lambda variable)."""
    return F.transform(
        F.sequence(F.lit(1), F.length(c)),
        lambda i: F.concat(
            c.substr(F.lit(1), i - 1),
            c.substr(i + 1, F.length(c)),
        ),
    )


def edit_distance_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_dist: int = 1,
) -> DataFrame:
    """Exact edit-distance similarity join for SHORT strings (titles,
    names, codes) via deletion-neighborhood blocking (SymSpell-style):
    block on the ≤``max_dist``-deletion neighborhood of each string —
    if ``ed(a, b) <= k`` then deleting at most k chars from each side
    reaches a common string, so every qualifying pair shares a
    neighborhood element (no false negatives) — then verify candidates
    with exact ``levenshtein``. Returns (id_a, id_b, dist),
    id_a < id_b, dist <= max_dist.

    ``max_dist`` in {1, 2}: the neighborhood is O(|s|) resp. O(|s|^2)
    variants per string, exact either way. Larger k is rejected rather
    than silently under-recalling (the k-deletion set must match the
    requested distance for the recall guarantee to hold).

    Scale shape: the expensive neighborhood self-join runs on DISTINCT
    strings only — real corpora are dup-heavy, and identical strings
    would otherwise multiply every candidate bucket quadratically. The
    resulting (sa, sb, dist) string pairs expand back to id pairs with
    two keyed joins, and the dist-0 pairs come from a same-string
    self-join — all output-bound. Never an all-pairs product; hot
    variant buckets are bounded by string length, AQE skew-join splits
    residual mega-buckets. The 1-deletion array is materialized as a
    column before the nested transform so the HOF argument is not
    re-evaluated per element."""
    if max_dist not in (1, 2):
        raise ValueError(
            f"max_dist={max_dist} unsupported: the deletion neighborhood "
            "is generated for k in {1, 2}; deeper k would silently lose "
            "recall"
        )
    s = F.col(text_col)
    ids = df.select(F.col(id_col).alias("__id"), s.alias("__s")).filter(
        s.isNotNull()
    )
    staged = (
        ids.select("__s")
        .distinct()
        .withColumn("__d1", F.array_distinct(_deletions(F.col("__s"))))
    )
    variants = F.array_union(F.array(F.col("__s")), F.col("__d1"))
    if max_dist == 2:
        variants = F.array_union(
            variants,
            F.array_distinct(F.flatten(F.transform(F.col("__d1"), _deletions))),
        )
    base = staged.select("__s", F.explode(variants).alias("__v"))
    a = base.select(F.col("__s").alias("sa"), "__v")
    b = base.select(F.col("__s").alias("sb"), "__v")
    spairs = (
        a.join(b, "__v")
        .filter(F.col("sa") < F.col("sb"))
        .dropDuplicates(["sa", "sb"])
        .withColumn("dist", F.levenshtein("sa", "sb"))
        .filter(F.col("dist") <= max_dist)
        .select("sa", "sb", "dist")
    )
    pa = ids.select(F.col("__id").alias("__ida"), F.col("__s").alias("sa"))
    pb = ids.select(F.col("__id").alias("__idb"), F.col("__s").alias("sb"))
    cross = (
        spairs.join(pa, "sa")
        .join(pb, "sb")
        .select(
            F.least("__ida", "__idb").alias("id_a"),
            F.greatest("__ida", "__idb").alias("id_b"),
            "dist",
        )
    )
    same = (
        pa.join(pb.withColumnRenamed("sb", "sa"), "sa")
        .filter(F.col("__ida") < F.col("__idb"))
        .select(
            F.col("__ida").alias("id_a"),
            F.col("__idb").alias("id_b"),
            F.lit(0).alias("dist"),
        )
    )
    return cross.unionByName(same)


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    pair_cols: tuple[str, str] = ("id_a", "id_b"),
    max_iter: int = 25,
    algorithm: str = "auto",
    stats: dict | None = None,
    escalate_after: int = 8,
) -> DataFrame:
    """Near-dup CLUSTERING: collapse a similarity-pair list into
    canonical groups — ``(node, component)`` where component is the
    minimum id reachable through the pair graph (singletons map to
    themselves). The canonical-doc-per-cluster step every large-scale
    dedup pipeline needs after pair generation (minhash/simhash/ngram).

    Three flag-selected algorithms, identical output contract:

    - ``label_prop``: comp(n) <- min(comp(n), min over
      neighbors comp(m)) until fixpoint. 2 shuffles per round,
      O(graph diameter) rounds — right for near-dup
      graphs, whose dup clusters are dense and short-diameter.
    - ``star``: alternating large-star / small-star contraction
      (Kiveris et al., "Connected Components in MapReduce and
      Beyond", SoCC'14). Each round re-wires every node toward its
      neighborhood minimum, halving component height — O(log^2 n)
      rounds REGARDLESS of diameter, so a 10k-link chain (pathological
      for propagation) converges in ~a dozen rounds. Costs more per
      round (two grouped re-wirings + dedup vs one), so it's the
      escape hatch for high-diameter graphs, not the default.
    - ``auto`` (default; VERDICT r10 #7): run label-prop for ``escalate_after``
      rounds; if unconverged (a high-diameter graph snuck in), contract
      the graph onto the partial labels — each label is an id *inside*
      its own component, so label-edges preserve exactly the original
      connectivity between label groups — and finish the (much
      smaller) contracted graph with star contraction. Composition is
      exact: the component minimum m always satisfies comp(m) = m
      (labels only decrease and never leave the component), so m
      survives contraction and the star pass maps every label to it.
      Callers get propagation speed on the common short-diameter case
      and the O(log^2 n) guarantee on pathological chains, no flag
      required.

    Every round is ``materialize()``-d to truncate lineage; per-round
    convergence checks are driver actions on aggregated/limited
    frames, never data collects. ``stats``, when passed, receives
    ``{"rounds": n}`` (plus ``star_rounds``/``escalated`` under
    ``auto``) for round-count assertions in tests.
    """
    if algorithm == "star":
        return _cc_star(pairs, nodes, id_col, pair_cols, max_iter, stats)
    if algorithm == "auto":
        # materialize the pair list ONCE up front: label-prop consumes
        # it to build its edge set, and the escalation path re-reads it
        # for label_edges — without this, an expensive un-materialized
        # pair lineage (e.g. the MinHash pipeline) recomputes end-to-end
        # on escalation (ADVICE r11)
        pairs = pairs.transform(materialize)
        comp, converged, rounds = _cc_label_prop(
            pairs, nodes, id_col, pair_cols, min(escalate_after, max_iter)
        )
        if stats is not None:
            stats["rounds"] = rounds
            stats["escalated"] = not converged
        if converged:
            return comp
        # contract onto partial labels and finish with star contraction
        comp = comp.transform(materialize)
        a, b = pair_cols
        la = comp.select(F.col("node").alias("__u"), F.col("comp").alias("__ca"))
        lb = comp.select(F.col("node").alias("__v"), F.col("comp").alias("__cb"))
        label_edges = (
            pairs.select(F.col(a).alias("__u"), F.col(b).alias("__v"))
            .join(la, "__u")
            .join(lb, "__v")
            .select(F.col("__ca").alias("id_a"), F.col("__cb").alias("id_b"))
            .filter(F.col("id_a") != F.col("id_b"))
            .distinct()
        )
        label_nodes = comp.select(F.col("comp").alias("id")).distinct()
        star_stats: dict = {}
        roots = _cc_star(
            label_edges, label_nodes, "id", ("id_a", "id_b"), max_iter, star_stats
        ).select(F.col("node").alias("comp"), F.col("comp").alias("__root"))
        if stats is not None:
            stats["star_rounds"] = star_stats.get("rounds", 0)
        return comp.join(roots, "comp", "left").select(
            "node", F.coalesce("__root", F.col("comp")).alias("comp")
        )
    if algorithm != "label_prop":
        raise ValueError(
            f"algorithm={algorithm!r}: expected 'label_prop', 'star' or 'auto'"
        )
    comp, _converged, rounds = _cc_label_prop(pairs, nodes, id_col, pair_cols, max_iter)
    if stats is not None:
        stats["rounds"] = rounds
    return comp


def _cc_label_prop(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str,
    pair_cols: tuple[str, str],
    max_iter: int,
) -> tuple[DataFrame, bool, int]:
    """Min-label propagation loop shared by ``label_prop`` and the
    ``auto`` escalation path: returns (labels, converged, rounds)."""
    a, b = pair_cols
    edges = (
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .unionByName(pairs.select(F.col(b).alias("u"), F.col(a).alias("v")))
        .distinct()
        .persist()
    )
    comp = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("comp")
    ).transform(materialize)
    converged = False
    rounds = 0
    try:
        for _ in range(max_iter):
            rounds += 1
            neighbor_min = (
                edges.join(comp, edges["v"] == comp["node"])
                .groupBy("u")
                .agg(F.min("comp").alias("__nc"))
            )
            nxt = (
                comp.join(neighbor_min, comp["node"] == neighbor_min["u"], "left")
                .select(
                    "node",
                    F.least(
                        F.col("comp"), F.coalesce(F.col("__nc"), F.col("comp"))
                    ).alias("comp"),
                    (F.col("__nc") < F.col("comp")).alias("__changed"),
                )
            )
            # lazy checkpoint + one full-scan aggregate: the
            # convergence probe is the action that materializes the
            # round's blocks, so each round costs ONE job instead of
            # two (eager checkpoint + separate changed-count) — r17,
            # guide §1.2 "remove passes". max over the boolean ignores
            # NULLs exactly as the old filter(__changed) did.
            nxt = nxt.transform(materialize, eager=False)
            changed = nxt.agg(F.max("__changed")).first()[0]
            comp = nxt.drop("__changed")
            if not changed:
                converged = True
                break
    finally:
        # unpersist on every exit path — a mid-iteration failure must
        # not leave the edge list pinned in the block manager
        edges.unpersist()
    return comp, converged, rounds


def _cc_star(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str,
    pair_cols: tuple[str, str],
    max_iter: int,
    stats: dict | None,
) -> DataFrame:
    """Alternating large-star/small-star connected components (see
    connected_components docstring). State is an undirected edge set;
    each round:

    - large-star: every node u computes m = min(N(u) + {u}) and every
      STRICTLY LARGER neighbor v > u is re-wired to (v, m) — tall
      branches collapse toward local minima;
    - small-star: edges directed large->small; every node u computes
      m = min of its smaller neighborhood (+ itself) and rewires those
      neighbors AND itself to m — flattening each partial star.

    Both steps preserve connectivity exactly (each replaces edges
    within one node's closed neighborhood by a star on the same
    vertex set), and the fixpoint is a forest of stars rooted at
    component minima. Convergence = the small-star output equals the
    previous round's — both frames are distinct, so set equality is
    ONE full-outer join probed for one-sided rows (a single-row
    aggregate per round that doubles as the round's materializing
    action, never a collect)."""
    a, b = pair_cols
    e = (
        pairs.select(
            F.least(F.col(a), F.col(b)).alias("lo"),
            F.greatest(F.col(a), F.col(b)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
        .transform(materialize)
    )
    rounds = 0
    prev = None
    for _ in range(max_iter):
        # ---- large-star ----
        sym = e.select(F.col("lo").alias("u"), F.col("hi").alias("v")).unionByName(
            e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        )
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("__m")
        )
        e = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.least(F.col("v"), F.col("__m")).alias("lo"),
                F.greatest(F.col("v"), F.col("__m")).alias("hi"),
            )
            .filter(F.col("lo") != F.col("hi"))
            .distinct()
        )
        # ---- small-star ----
        # direct large -> small; group the small neighborhood of each u
        dirn = e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        smin = dirn.groupBy("u").agg(F.min("v").alias("__m"))
        rewired = dirn.join(smin, "u").select(
            F.col("v").alias("x"), F.col("__m").alias("m")
        )
        selfed = smin.select(F.col("u").alias("x"), F.col("__m").alias("m"))
        e = (
            rewired.unionByName(selfed)
            .filter(F.col("x") != F.col("m"))
            .select(
                F.least(F.col("x"), F.col("m")).alias("lo"),
                F.greatest(F.col("x"), F.col("m")).alias("hi"),
            )
            .distinct()
            .transform(materialize, eager=False)
        )
        rounds += 1
        if prev is not None:
            # single-job set-equality probe (r17): both frames are
            # distinct, so e == prev iff the full-outer join has no
            # one-sided row. The lazy checkpoint above makes this the
            # materializing action — one job per round where the old
            # eager checkpoint + two exceptAll().limit(1) probes cost
            # three.
            row = (
                e.withColumn("__l", F.lit(1))
                .join(prev.withColumn("__r", F.lit(1)), ["lo", "hi"], "full_outer")
                .agg(F.max(F.col("__l").isNull() | F.col("__r").isNull()))
                .first()
            )
            if not row[0]:
                break
        prev = e
    if stats is not None:
        stats["rounds"] = rounds
    # fixpoint: stars (hi -> lo=root). comp(hi) = lo, comp(root) = root,
    # singletons (no edges) = themselves. The min-agg is a no-op at
    # fixpoint (each hi has exactly one star edge) but preserves the
    # one-row-per-node output contract if max_iter exhausts before the
    # edge set contracts to a star forest (ADVICE r10).
    labels = e.groupBy(F.col("hi").alias("node")).agg(F.min("lo").alias("comp"))
    return (
        nodes.select(F.col(id_col).alias("node"))
        .join(labels, "node", "left")
        .select("node", F.coalesce("comp", F.col("node")).alias("comp"))
    )


def _minhash_sig_base(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    shingle_n: int,
) -> DataFrame:
    """(__id, __sh hashed-shingle set, __sig) with the md5-fold digest —
    the auditable staging table shared by the cross-corpus operators."""
    digest = lambda s: F.pmod(  # noqa: E731
        F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"),
        F.lit(_MH_PRIME),
    )
    shingled = _doc_tokens(df, text_col, id_col, "__id").select(
        "__id",
        F.array_distinct(
            F.transform(word_shingles("__w", shingle_n), digest)
        ).alias("__sh"),
    )
    sig_udf = _np_minhash_udf(num_hashes)
    return shingled.select(
        "__id", "__sh", sig_udf("__sh").alias("__sig")
    ).transform(materialize)


def _band_keys(base: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    rpb = num_hashes // bands
    return base.select(
        "__id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice("__sig", b * rpb + 1, rpb),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("bhash"),
                ),
            )
        ).alias("__b"),
    ).select("__id", F.col("__b.band").alias("band"), F.col("__b.bhash").alias("bhash"))


def dedup_against(
    corpus: DataFrame,
    reference: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.6,
) -> DataFrame:
    """CROSS-corpus near-dup flagging: which ``corpus`` documents are
    near-duplicates of anything in ``reference`` — the incremental-
    ingest dedup every growing training set runs (new crawl vs the
    data already trained on), and the near-dup flavor of benchmark
    decontamination. Returns one row per flagged corpus doc:
    (id, n_ref_matches, best_jaccard).

    Same MinHash machinery as ``minhash_lsh_pairs`` (auditable md5
    digests, hashed shingle sets), but the band join is corpus x
    reference instead of a self-join, so cost is candidate-bound, not
    pairs-bound: each side shuffles once on (band, bhash), candidates
    verify with exact hashed-set Jaccard, and the per-corpus-doc
    rollup is one keyed aggregation. The reference side is typically
    the smaller/static side — at scale its banded keys come from a
    precomputed signature table, and AQE broadcasts it when small."""
    cb = _minhash_sig_base(corpus, text_col, id_col, num_hashes, shingle_n)
    rb = _minhash_sig_base(reference, text_col, id_col, num_hashes, shingle_n)
    cand = (
        _band_keys(cb, num_hashes, bands)
        .join(
            _band_keys(rb, num_hashes, bands)
            .withColumnRenamed("__id", "__rid"),
            ["band", "bhash"],
        )
        .select("__id", "__rid")
        .dropDuplicates(["__id", "__rid"])
    )
    verified = (
        cand.join(cb.select("__id", F.col("__sh").alias("sh_c")), "__id")
        .join(
            rb.select(F.col("__id").alias("__rid"), F.col("__sh").alias("sh_r")),
            "__rid",
        )
        # arithmetic union on the distinct hashed sets — bit-identical
        # Jaccard for one set-op instead of two (see minhash_lsh_pairs)
        .withColumn(
            "__ih", F.size(F.array_intersect("sh_c", "sh_r"))
        )
        .withColumn(
            "jaccard",
            F.col("__ih")
            / (F.size("sh_c") + F.size("sh_r") - F.col("__ih")),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
    )
    return verified.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_ref_matches"),
        F.round(F.max("jaccard"), 4).alias("best_jaccard"),
    ).select(F.col("__id").alias(id_col), "n_ref_matches", "best_jaccard")


def split_leakage(
    df: DataFrame,
    text_col: str,
    id_col: str,
    splits=None,
    salt: str = "split",
    num_hashes: int = 32,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.6,
) -> DataFrame:
    """Train/eval LEAKAGE audit: near-duplicate pairs that STRADDLE a
    deterministic split boundary — the integrity check a pipeline runs
    after ``split_assign``, because exact-dedup-then-split still
    leaves near-dups of training docs sitting in val/test and
    inflating eval. Returns (id_a, id_b, jaccard, split_a, split_b)
    with split_a != split_b.

    The split is a pure function of the id (md5 per-mille buckets,
    identical to ``split_assign``) so NO join attaches it — the pair
    table gains two scan-speed columns and a filter. Cost is exactly
    one ``minhash_lsh_pairs`` run."""
    from graphkb_spark.operators.sampling import hash_bucket

    splits = dict(splits or {"train": 980, "val": 10, "test": 10})
    total = sum(splits.values())

    def split_of(col: str) -> Column:
        bucket = hash_bucket(
            F.concat(F.lit(salt + ":"), F.col(col).cast("string")), total
        )
        expr = None
        hi = 0
        for name, width in splits.items():
            hi += width
            cond = bucket < hi
            expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        return expr

    pairs = minhash_lsh_pairs(
        df,
        text_col,
        id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        jaccard_threshold=jaccard_threshold,
        hasher="md5",
    )
    return (
        pairs.withColumn("split_a", split_of("id_a"))
        .withColumn("split_b", split_of("id_b"))
        .filter(F.col("split_a") != F.col("split_b"))
    )


def canonical_per_cluster(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    order_cols,
    pair_cols: tuple[str, str] = ("id_a", "id_b"),
) -> DataFrame:
    """The KEEP decision that closes a dedup pipeline: collapse the
    near-dup pair list into clusters (min-label connected components)
    and keep the best row of each cluster by ``order_cols`` (quality
    score, length, recency — caller's policy). Returns one row per
    cluster: (comp, <id>, cluster_size); singletons are their own
    cluster of size 1, so ``sum(cluster_size) == |df|`` and the kept
    ids are exactly the post-dedup corpus.

    Scale shape: component labels from the iterative min-label
    propagation (2 shuffles/round, diameter-bounded rounds on the
    short-diameter near-dup graph), ONE join of labels onto the corpus
    rows, and one keyed window for the argmax + size — no all-pairs
    step beyond the pair list the caller already produced."""
    comp = connected_components(
        pairs, df.select(F.col(id_col)), id_col=id_col, pair_cols=pair_cols
    )
    joined = df.join(comp, df[id_col] == comp["node"]).drop("node")
    w = Window.partitionBy("comp").orderBy(*order_cols)
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .withColumn("cluster_size", F.count(F.lit(1)).over(Window.partitionBy("comp")))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    sort_key_col: str,
    window: int = 5,
    n_buckets: int | None = None,
) -> DataFrame:
    """Sorted-neighborhood blocking for entity resolution (Hernandez &
    Stolfo 1995): order all records by a blocking key and emit every
    candidate pair within ``window`` positions — O(n * w) pairs against
    LSH's hash-bucket blocking, and the method of choice when
    near-duplicates share a PREFIX (names, addresses, normalized
    titles) rather than token sets. Returns (id_a, id_b, key_a, key_b,
    rank_distance) with id_a's rank strictly below id_b's.

    Scale shape — the global sort is the trap, and it is avoided: the
    total order (key, id) is ranked in TWO PHASES — a
    ``repartitionByRange`` on (key, id) spreads the data over
    order-aligned range buckets (sampled boundaries, so ANY key
    distribution disperses — an earlier key-prefix bucketing
    degenerated to one bucket when all keys shared a prefix, exactly
    the common ER case), a row_number within each bucket, and
    cumulative bucket offsets from a broadcast triangular join over
    the bucket-count table (one row per bucket). Bucket boundaries
    only shape the plan, never the output: the global rank is
    identical whatever the sampling picked. Pair generation is an
    equi-join on floor(rank / window) blocks (each rank joins its own
    and the previous block — every pair at distance <= window falls in
    some shared-or-adjacent block pair), filtered to the exact
    distance; never an all-pairs product."""
    if window <= 0:
        raise ValueError("window must be positive")
    n_buckets = n_buckets or exchange_width(df)
    key = F.col(sort_key_col).cast("string")
    base = (
        df.select(F.col(id_col).alias("__id"), key.alias("__key"))
        .repartitionByRange(n_buckets, F.col("__key").asc(), F.col("__id").asc())
        .withColumn("__b", F.spark_partition_id())
        # pin the sampled range assignment: every downstream branch must
        # see the SAME bucket ids (a re-evaluated sample could differ)
        .transform(materialize, eager=False)
    )
    counts = base.groupBy("__b").agg(F.count(F.lit(1)).alias("__n"))
    # cumulative bucket offsets WITHOUT a global window: the count table
    # is one row per prefix bucket (bounded, tiny), so a broadcast
    # triangular self-join aggregation computes the prefix sum with no
    # single-partition funnel anywhere in the plan
    prior = counts.select(F.col("__b").alias("__pb"), F.col("__n").alias("__pn"))
    offsets = (
        counts.join(F.broadcast(prior), F.col("__pb") < F.col("__b"), "left")
        .groupBy("__b")
        .agg(F.coalesce(F.sum("__pn"), F.lit(0)).alias("__off"))
    )
    w_in = Window.partitionBy("__b").orderBy(F.col("__key").asc(), F.col("__id").asc())
    ranked = (
        base.withColumn("__rn", F.row_number().over(w_in))
        .join(F.broadcast(offsets), "__b")
        .select(
            "__id", "__key", (F.col("__off") + F.col("__rn")).alias("__rank")
        )
    )
    blk = F.floor((F.col("__rank") - 1) / F.lit(window))
    left = ranked.select(
        F.col("__id").alias("id_a"),
        F.col("__key").alias("key_a"),
        F.col("__rank").alias("__ra"),
        F.explode(F.array(blk, blk + 1)).alias("__blk"),
    )
    right = ranked.select(
        F.col("__id").alias("id_b"),
        F.col("__key").alias("key_b"),
        F.col("__rank").alias("__rb"),
        blk.alias("__blk"),
    )
    dist = F.col("__rb") - F.col("__ra")
    return (
        left.join(right, "__blk")
        .filter((dist >= 1) & (dist <= window))
        .select(
            "id_a", "id_b", "key_a", "key_b", dist.cast("bigint").alias("rank_distance")
        )
    )
    # no dedup needed: a's two exploded blocks are distinct and b sits
    # in exactly one, so each qualifying pair joins exactly once


def containment_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    containment_threshold: float = 0.7,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Banded (approximate) containment join — the scale escape hatch
    for ``ngram_containment_pairs``: MinHash-LSH band buckets generate
    the candidate pairs (linear in the corpus, never Sum(df^2)), then
    DIRECTED containment |A ∩ B| / |A| is verified exactly over the
    hashed shingle sets, both orientations per candidate. Returns
    (id_a, id_b, containment) with the threshold applied to the
    6-digit-rounded value — the exact join's schema.

    Recall caveat, by construction: LSH banding recall follows the
    JACCARD S-curve, so a doc-inside-doc pair with containment 1.0
    but tiny resemblance (a paragraph inside a book) can miss the
    band buckets. That is the documented trade of the routed path —
    it keeps near-same-size partial copies (the fixed-vocabulary
    blowup case that triggers routing) and gives up the extreme
    size-skew pairs the exact join would have caught. Containment is
    defined on the hashed shingle domain (see ``minhash_lsh_pairs``
    on 31-bit digest collisions); ``hasher="md5"`` keeps the whole
    pipeline ANSI-replicable for external oracles."""
    base, banded = _minhash_state(
        df, text_col, id_col, num_hashes, bands, shingle_n, hasher
    )
    a = banded.select("band", "bhash", F.col("__id").alias("id_a"))
    b = banded.select("band", "bhash", F.col("__id").alias("id_b"))
    pairs = (
        a.join(b, ["band", "bhash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sh = base.select("__id", "__sh")
    pairs = pairs.join(
        sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a")), "id_a"
    ).join(sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b")), "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    # one undirected candidate row fans out to its two directed
    # orientations via an inline explode — the intersection is
    # computed once per pair, not once per direction
    both = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("id_a"),
                    F.col("id_b").alias("id_b"),
                    F.round(inter / F.size("sh_a"), 6).alias("containment"),
                ),
                F.struct(
                    F.col("id_b").alias("id_a"),
                    F.col("id_a").alias("id_b"),
                    F.round(inter / F.size("sh_b"), 6).alias("containment"),
                ),
            )
        ).alias("__e")
    ).select("__e.id_a", "__e.id_b", "__e.containment")
    return both.filter(F.col("containment") >= containment_threshold)


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.7,
    candidate_budget: int | None = None,
    budget_action: str = "warn",
    stats: dict | None = None,
    route_kwargs: dict | None = None,
) -> DataFrame:
    """Directed n-gram CONTAINMENT join: emit (id_a, id_b) when
    |A ∩ B| / |A| >= t — the asymmetric cousin of ``ngram_jaccard_
    pairs`` for catching quotes, partial copies, and doc-inside-doc
    duplication that resemblance misses (a paragraph fully contained
    in a book has tiny Jaccard but containment 1.0). Directed: both
    (a in b) and (b in a) can appear. Returns (id_a, id_b,
    containment), threshold applied to the 6-digit-rounded value.

    Scale shape (PPJoin prefix logic, containment form): a pair with
    containment >= t must share one of A's |A| - ceil(t|A|) + 1
    globally RAREST shingles — so candidates come from joining A-side
    prefixes against the full posting list, keyed on the rare
    shingle; the hot-shingle quadratic bucket never forms. Exact
    verification on the checkpointed shingle sets.

    **Candidate-budget guard** (VERDICT r12 #3): the prefix x posting
    join shares the Jaccard join's fixed-vocabulary Sum(df^2)
    exposure — when every posting list scales with the corpus, so
    does every prefix, and candidates grow quadratically. Pass
    ``candidate_budget`` to bound it: the guard computes the exact
    candidate-row count BEFORE the join — each prefix row (doc d,
    shingle s) meets the df(s) posting rows for s, minus d's own, so
    the bound is one partial-agg Sum(df(s) - 1) over the prefix rows
    (which already carry df from the ranking join; the guard
    localCheckpoints them so the estimate and the join share one
    posting pass) and a scalar collect. Over budget, applies
    ``budget_action``: ``"warn"`` (default) proceeds exact,
    ``"error"`` raises ``CandidateBudgetExceeded``, ``"minhash"``
    routes to ``containment_lsh_pairs`` — banded candidates (linear),
    directed containment verified on the hashed-shingle domain, with
    that path's documented Jaccard-S-curve recall. ``route_kwargs``
    forwards (num_hashes, bands, hasher) to the routed path;
    ``candidate_budget=None`` skips the estimate entirely (the
    default plan is unchanged)."""
    _check_budget_action(budget_action)
    base = _shingle_base(df, text_col, id_col, shingle_n)
    posting, prefix = _prefix_postings(base, threshold, "__id", "shingle", "df_")
    prefix, routed = _budget_route(
        prefix, candidate_budget, budget_action, stats,
        "ngram_containment_pairs",
        lambda p: p.agg(F.sum(F.col("df_") - 1).cast("bigint").alias("__est")),
        "containment_lsh_pairs",
        lambda: containment_lsh_pairs(
            df,
            text_col,
            id_col,
            shingle_n=shingle_n,
            containment_threshold=threshold,
            **(route_kwargs or {}),
        ),
    )
    if routed is not None:
        return routed
    cand = (
        prefix.select("__id", "shingle").alias("x")
        .join(posting.select("__id", "shingle").alias("y"), "shingle")
        .filter(F.col("x.__id") != F.col("y.__id"))
        .select(F.col("x.__id").alias("id_a"), F.col("y.__id").alias("id_b"))
    )
    # with no within-doc collisions |h(A)| = |A|, so hash containment
    # >= string containment; the 1e-6 slack covers the 6-digit rounding
    # of the declared value (round(x, 6) >= t requires x >= t - 5e-7)
    # plus double rounding, so a dropped pair is provably below
    # threshold AFTER rounding
    inter_h = F.size(F.array_intersect("shh_a", "shh_b"))
    return _verify_pairs(
        cand,
        base,
        inter_h / F.col("nh_a") >= F.lit(threshold) - F.lit(1e-6),
        "containment",
        F.round(F.size(F.array_intersect("sh_a", "sh_b")) / F.col("n_a"), 6),
        threshold,
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    rounds: int = 2,
    tau: float = 0.7,
    assignment: str = "flat",
    k_coarse: int | None = None,
) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023): cluster
    the corpus embeddings with k-means, then inside each cluster mark
    every document whose cosine similarity to a LOWER-id cluster-mate
    reaches ``tau`` as a duplicate of the smallest such mate —
    keep-lowest-id, the deterministic form of the paper's
    keep-one-per-epsilon-ball policy. Returns one row per vector:
    (id, cluster, keep, dup_of, dup_sim) with dup_of/dup_sim NULL for
    keepers; dup_sim rounded to 4.

    Scale shape — the whole point of clustering first: the pairwise
    cosine join is an EQUI-join on the cluster id, never an all-pairs
    product; k grows with the corpus (the paper uses ~100k clusters
    for billions of docs) so per-cluster membership — and the
    quadratic term — stays bounded, and AQE skew-split handles a hot
    cluster. Norms are computed once per row BEFORE the join (the
    cosine_topk contract: 2 array aggregates per row, not 3 per
    pair). Training is ``kmeans_train`` (deterministic md5 init,
    integer-scaled centroid sums, fixed rounds).

    ``assignment`` (VERDICT r11 #2): under the k-grows-with-N contract
    flat Lloyd assignment is N*k flops per round — N^2 total, the one
    quadratic left in the pipeline even though it's map-only.
    ``assignment="two_level"`` trains hierarchically instead
    (``kmeans_train_two_level``): k_coarse coarse cells (default
    ceil(sqrt(k))), then ceil(k/k_coarse) fine centroids per cell —
    2*N*sqrt(k) flops per round, same deterministic discipline, at the
    standard hierarchical-k-means cost that the partition is a
    blocking heuristic rather than the flat Lloyd optimum (exactly
    SemDeDup's use of clustering). Dedup semantics downstream of the
    assignment are IDENTICAL: within-cluster cosine pairs,
    keep-lowest-id."""
    from graphkb_spark.operators.cluster import kmeans_train, kmeans_train_two_level

    if assignment == "flat":
        asn = kmeans_train(df, id_col, vec_col, k=k, rounds=rounds)
    elif assignment == "two_level":
        import math

        kc = k_coarse or max(1, math.ceil(math.sqrt(k)))
        kf = max(1, math.ceil(k / kc))
        asn = kmeans_train_two_level(
            df, id_col, vec_col, k_coarse=kc, k_fine=kf, rounds=rounds
        )
    else:
        raise ValueError(
            f"assignment={assignment!r}: expected 'flat' or 'two_level'"
        )
    vecs = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).withColumn(
        "__nrm",
        F.sqrt(
            F.aggregate(
                F.transform(F.col("__v"), lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
    )
    memb = asn.select(
        F.col(id_col).alias("__id"), "cluster"
    ).join(vecs, "__id")
    a = memb.select(
        F.col("cluster"),
        F.col("__id").alias("__ia"),
        F.col("__v").alias("__va"),
        F.col("__nrm").alias("__na"),
    )
    b = memb.select(
        F.col("cluster"),
        F.col("__id").alias("__ib"),
        F.col("__v").alias("__vb"),
        F.col("__nrm").alias("__nb"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("__va"), F.col("__vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(b, "cluster")
        .filter(F.col("__ia") < F.col("__ib"))
        .select(
            "cluster",
            "__ia",
            "__ib",
            F.round(dot / (F.col("__na") * F.col("__nb")), 4).alias("__sim"),
        )
        .filter(F.col("__sim") >= tau)
    )
    dup = pairs.groupBy("__ib").agg(
        F.min(F.struct(F.col("__ia"), F.col("__sim"))).alias("__m")
    )
    return (
        memb.join(dup, memb["__id"] == dup["__ib"], "left")
        .select(
            F.col("__id").alias(id_col),
            "cluster",
            F.col("__ib").isNull().alias("keep"),
            F.col("__m.__ia").alias("dup_of"),
            F.col("__m.__sim").alias("dup_sim"),
        )
    )


def lsh_band_tuning(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    shingle_n: int = 3,
    sim_floor: float = 0.5,
) -> DataFrame:
    """MinHash-LSH band planning against the corpus's OWN similarity
    mass: for every (bands, rows_per_band) factorization of the
    signature budget, the expected recall of the banding S-curve
    P(candidate | s) = 1 - (1 - s^r)^b over the corpus's actual
    near-duplicate pairs (exact n-gram Jaccard >= ``sim_floor``).
    Returns one row per config: (bands, rows_per_band, s50 — the
    similarity where collision probability crosses 1/2 —, n_pairs,
    exp_recall, n_likely — pairs with collision prob >= 0.9).
    This is how ``minhash_lsh_pairs``'s (bands, rows) should be
    chosen instead of folklore defaults: pick the cheapest config
    whose exp_recall on the corpus sample meets the target.

    Scale shape: the pair table comes from the PPJoin prefix-filter
    join (linear candidate generation); the config table is a handful
    of rows cross-joined broadcast; one partial-agg per config."""
    pairs = ngram_jaccard_pairs(
        df, text_col, id_col, shingle_n=shingle_n, threshold=sim_floor
    ).select(F.round("jaccard", 4).alias("__s"))
    configs = [
        (b, num_hashes // b)
        for b in range(1, num_hashes + 1)
        if num_hashes % b == 0
    ]
    spark = df.sparkSession
    cfg = spark.createDataFrame(configs, ["bands", "rows_per_band"])
    p = 1.0 - F.pow(
        1.0 - F.pow(F.col("__s"), F.col("rows_per_band")), F.col("bands")
    )
    s50 = F.pow(
        1.0 - F.pow(F.lit(0.5), 1.0 / F.col("bands")),
        1.0 / F.col("rows_per_band"),
    )
    return (
        pairs.crossJoin(F.broadcast(cfg))
        .groupBy("bands", "rows_per_band")
        .agg(
            F.round(F.max(s50), 4).alias("s50"),
            F.count(F.lit(1)).alias("n_pairs"),
            # 9-digit-rounded DECIMAL sum (zipf_fit contract) so the
            # mean is summation-order-independent across engines
            F.round(
                F.sum(F.round(p, 9).cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("exp_recall"),
            F.sum(F.when(p >= 0.9, 1).otherwise(0)).cast("bigint").alias("n_likely"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-gated paragraph/segment dedup (the Dolma / BFF pipeline staple)
# ---------------------------------------------------------------------------

def bloom_segment_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_words: int = 16,
    num_bits: int = 1 << 20,
    num_hashes: int = 3,
    broadcast: bool | str = "auto",
    broadcast_max_digests: int = 5_000_000,
) -> DataFrame:
    """Bloom-gated EXACT duplicate-segment removal — the Dolma/BFF
    paragraph-dedup shape (Soldaini et al. 2024 "Dolma"; Allen AI's
    Big Friendly Filter), state-bounded like BFF but with NO
    probabilistic drops: the Bloom filter prunes the plan, never
    changes the answer (the ``bloom_prefilter_join`` contract).

    Output contract is IDENTICAL to ``corpus.dedup_segments`` (first
    global occurrence of each distinct ``seg_words``-word segment wins,
    ordered by (id, position); documents rebuilt from surviving
    segments; returns (id, n_segments, kept_segments, dedup_text)) —
    the ``dedup_components_star`` precedent: same oracle, different
    physical strategy.

    Plan (two corpus scans, the BFF two-pass shape, vs
    ``dedup_segments``'s one scan + full-text window shuffle):
    1. duplicate-digest table: groupBy(md5(segment)) with map-side
       partial aggregation — the ONLY corpus-wide exchange before the
       rebuild carries 16-byte digests + partial counts, never text
       (``dedup_segments`` shuffles and sorts the full corpus text for
       its first-occurrence window). Keeps only digests with count>=2
       plus their argmin keeper (id, position) — the boilerplate set,
       typically a small fraction of the corpus.
    2. driver Bloom filter over the duplicate digests: ``num_bits/8``
       bytes of driver state (ONE shared BinaryType plan literal on
       the executors — never a per-row array build), collect bounded
       by ``num_bits``
       (distinct positions, not rows — the ``bloom.py`` contract). A
       saturated filter (too many dupes for the bit budget) degrades
       to more verify traffic, never to a wrong answer.
    3. probe pass: segments whose digest MISSES the filter are kept
       outright at scan speed (no false negatives — the common case:
       unique segments never join anything); hits go through the
       exact join against the duplicate table (broadcast when the
       auto size check allows, AQE otherwise) where a Bloom false
       positive resolves to keep (left join, null keeper) and a true
       duplicate keeps only its argmin occurrence. On the broadcast
       path the miss bypass is a CONDITIONAL JOIN KEY
       (``when(hit, digest)`` — null never matches), not a filter:
       a filter on the hit bit would be pushed below the segment
       projection and re-evaluate the split/slice/md5 chain per
       bloom hash (measured 5x wall at x100, r17).
    4. one doc-keyed re-aggregation rebuilds surviving text (shared
       with ``dedup_segments`` — both pay exactly one corpus-text
       shuffle here; flags-only callers should aggregate counts off
       the flagged stream instead).

    Exactness caveat: grouping is by the full 128-bit md5 digest, not
    the text — the same collision assumption the gram-digest family
    documents (a collision needs ~2^64 distinct segments).

    Reference anchor: complements the ExactSubstr family
    (repeated_spans / repeated_span_cut) — Dolma dedupes at paragraph
    granularity with a Bloom filter where Lee et al. cut exact
    substrings; both are standard large-corpus cleaning passes."""
    from graphkb_spark.operators.bloom import bloom_hit, build_bloom_bytes

    if seg_words <= 0:
        raise ValueError("seg_words must be positive")

    def segments() -> DataFrame:
        w = F.split(F.col(text_col), " ")
        n_seg = F.floor((F.size(w) - F.lit(1)) / F.lit(seg_words)) + 1
        base = df.filter(F.length(F.col(text_col)) > 0).select(
            F.col(id_col).alias("__id"),
            w.alias("__w"),
            F.explode(
                F.sequence(F.lit(0).cast("bigint"), n_seg - 1)
            ).alias("__idx"),
        )
        seg_text = F.array_join(
            F.slice(
                base["__w"],
                F.col("__idx").cast("int") * seg_words + 1,
                seg_words,
            ),
            " ",
        )
        return base.select(
            "__id",
            "__idx",
            seg_text.alias("__seg"),
            F.md5(seg_text).alias("__d"),
        )

    # pass 1: the duplicate-digest table (digests only on the wire —
    # column pruning drops __seg from this branch's scan)
    dup = (
        segments()
        .groupBy("__d")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.min(F.struct(F.col("__id"), F.col("__idx"))).alias("__keeper"),
        )
        .filter(F.col("__n") >= 2)
        .select("__d", "__keeper")
        # consumed 2-3x: bloom build, auto size check, probe join
        .transform(materialize, eager=False)
    )
    if broadcast == "auto":
        broadcast = dup.count() <= broadcast_max_digests
    bits_lit = F.lit(
        bytes(build_bloom_bytes(dup, F.col("__d"), num_bits, num_hashes))
    )

    # pass 2: probe — misses bypass the lookup entirely
    hit = bloom_hit(F.col("__d"), bits_lit, num_bits, num_hashes)
    keep = F.col("__keeper").isNull() | (
        (F.col("__id") == F.col("__keeper.__id"))
        & (F.col("__idx") == F.col("__keeper.__idx"))
    )
    cols = ["__id", "__idx", "__seg", "__keep"]
    if broadcast:
        # Single scan, ZERO filters: a filter on the hit bit gets
        # pushed below the segment projection by Catalyst
        # (PushDownPredicate substitutes the alias), re-evaluating the
        # split/slice/array_join/md5 chain once per bloom hash inside
        # the filter condition AND forcing a second corpus scan for
        # the miss branch — measured 5x the whole operator's wall at
        # x100 (152 s -> ~50 s after this rewrite). Instead the hit
        # bit gates the JOIN KEY: misses carry NULL, which a
        # broadcast left join passes through without probing (null
        # keys never match), so the miss bypass costs nothing and the
        # bloom + digest work lives in ONE projection that
        # codegen/CSE evaluates once per segment.
        flagged = (
            segments()
            .withColumn("__jk", F.when(hit, F.col("__d")))
            .drop("__d")
            .join(
                F.broadcast(dup.withColumnRenamed("__d", "__jk")),
                "__jk",
                "left",
            )
            .withColumn("__keep", keep)
            .select(*cols)
        )
    else:
        # Shuffled verify join (dup side too big to broadcast): the
        # conditional-key trick would shuffle every miss into the
        # null-key partition (catastrophic skew at scale), so the
        # hit/miss split keeps its two filters here — the known cost
        # is the pushdown re-evaluation above, paid only on this
        # path, where the exchange (not scan CPU) is the bottleneck.
        segs = segments().withColumn("__hit", hit)
        keeper_t = dup.schema["__keeper"].dataType.simpleString()
        hits = segs.filter(F.col("__hit")).join(dup, "__d", "left")
        misses = segs.filter(~F.col("__hit")).withColumn(
            "__keeper", F.lit(None).cast(keeper_t)
        )
        flagged = (
            hits.withColumn("__keep", keep).select(*cols)
            .unionByName(misses.withColumn("__keep", F.lit(True)).select(*cols))
        )

    kept_struct = F.when(
        F.col("__keep"), F.struct(F.col("__idx"), F.col("__seg"))
    )
    return (
        flagged.groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.col("__keep").cast("long")).alias("kept_segments"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s.getField("__seg"),
                ),
                " ",
            ).alias("dedup_text"),
        )
        .select(
            F.col("__id").alias(id_col),
            F.col("n_segments").cast("bigint").alias("n_segments"),
            F.col("kept_segments").cast("bigint").alias("kept_segments"),
            "dedup_text",
        )
    )
