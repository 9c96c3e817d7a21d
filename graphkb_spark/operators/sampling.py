"""Deterministic sampling + relevance scoring for training-data
curation (SURVEY LLM-pipeline family).

Large-scale corpus curation needs repeatable sampling: the same doc
must land in the same split on every run, across retries and cluster
sizes — so sampling is keyed on a content/id hash, never ``rand()``.
Per-stratum rates (e.g. downsample English, keep low-resource
languages) and per-(stratum) caps (top-k per domain by quality) are the
two standard shapes. BM25 gives corpus-statistics relevance scoring
against a term set (idf from document frequency, length-normalized tf).

All pure Column algebra: the hash bucket is md5-prefix arithmetic
(ANSI-SQL replicable, so oracles can verify the exact selected set),
caps are windows, BM25 is two aggregations — no Python anywhere.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from graphkb_spark.operators.dedup import words


def hash_bucket(col: Column | str, buckets: int = 100) -> Column:
    """Deterministic bucket 0..buckets-1 from the md5 of the value —
    stable under retries, repartitioning, and engine (first 8 hex chars
    as an int, same in any md5 implementation)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long")
        % buckets
    )


def stratified_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    rates: Mapping[str, int],
    default_rate: int = 100,
) -> DataFrame:
    """Keep a deterministic ``rates[stratum]``% of each stratum
    (hash-Bernoulli on the id). Unlisted strata keep ``default_rate``%.
    One scan, zero shuffles — the filter pushes to the read."""
    rate = F.lit(default_rate)
    for key, pct in sorted(rates.items()):
        rate = F.when(F.col(stratum_col) == key, F.lit(pct)).otherwise(rate)
    return df.filter(hash_bucket(F.col(id_col)) < rate)


def stratum_cap(
    df: DataFrame,
    strata: Sequence[str],
    order: Sequence[Column],
    k: int,
) -> DataFrame:
    """Keep at most ``k`` rows per stratum in ``order`` (per-domain /
    per-source caps). One shuffle on the strata keys; Spark pushes a
    WindowGroupLimit so only k rows per group survive the partial
    sort."""
    w = Window.partitionBy(*strata).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def bm25_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    terms: Sequence[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of each document against a term set.

    idf(t) = ln(1 + (N - df_t + 0.5)/(df_t + 0.5)); tf is
    length-normalized by dl/avgdl. Two aggregations (per-(doc, term)
    tf, then per-doc sum) + one corpus-stats scalar broadcast; docs
    containing no query term are omitted (score 0).
    """
    toks = df.select(
        F.col(id_col).alias("__id"), words(text_col).alias("__w")
    ).select("__id", F.size("__w").alias("__dl"), F.explode("__w").alias("__t"))
    tf = (
        toks.filter(F.col("__t").isin(list(terms)))
        .groupBy("__id", "__t")
        .agg(F.count(F.lit(1)).alias("__tf"), F.max("__dl").alias("__dl"))
    )
    stats = df.select(F.size(words(text_col)).alias("__dl")).agg(
        F.count(F.lit(1)).alias("__N"), F.avg("__dl").alias("__avgdl")
    )
    dfreq = tf.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    idf = F.log(
        F.lit(1.0) + (F.col("__N") - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
    )
    term_score = (
        idf
        * F.col("__tf")
        * (k1 + 1)
        / (F.col("__tf") + k1 * (1 - b + b * F.col("__dl") / F.col("__avgdl")))
    )
    return (
        tf.join(F.broadcast(dfreq), "__t")
        .crossJoin(F.broadcast(stats))
        .groupBy(F.col("__id").alias(id_col))
        .agg(F.round(F.sum(term_score), 4).alias("bm25"))
    )


def token_budget_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    text_col: str,
    budget_tokens: int,
) -> DataFrame:
    """Per-stratum token-budget mixture sampling: within each stratum
    (source/domain/language), take documents in a deterministic
    hash-shuffled order until the cumulative whitespace-token count
    reaches ``budget_tokens`` — the standard way a training-mix recipe
    ("50 B tokens of web, 10 B of code") is materialized. A document is
    kept iff the budget is not yet exhausted INCLUDING itself
    (cum <= budget), so reruns and stragglers select the identical set.

    Returns (stratum, id, n_tokens, cum_tokens) for the selected docs.

    Scale shape: ONE shuffle keyed on the stratum for the running-sum
    window; the order inside each stratum is md5(id) — content-free,
    uniform, and replicable by any engine — so the selection is a true
    random sample yet bit-deterministic. Skewed strata (one giant
    source) stay a single partition's window scan, which is linear and
    early-terminable; for pathological single-stratum corpora, shard
    the stratum first like ``pack_sequences`` does."""
    n_tokens = F.size(F.split(F.col(text_col), " ")).cast("bigint")
    key = F.md5(F.col(id_col).cast("string"))
    base = df.select(
        F.col(stratum_col),
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        key.alias("__k"),
    )
    w = (
        Window.partitionBy(stratum_col)
        .orderBy(F.col("__k").asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget_tokens)
        .select(stratum_col, id_col, "n_tokens", "cum_tokens")
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document: tf = in-document count,
    idf = (N + 1) / (df_t + 1) as an EXACT rational (integer numerator
    and denominator, one IEEE-correctly-rounded double division — no
    transcendental, so DuckDB and Spark produce bit-identical scores,
    unlike ln-based idf where libm implementations can differ in the
    last ulp). Rank ties break on the term text ascending.

    Returns (id, term, tf, doc_freq, score, rank), rank 1..k.

    Scale shape: explode -> partial-agg (doc, term) counts (one keyed
    shuffle), term -> doc-frequency agg over the distinct-term table
    (small; shuffle keyed on term), corpus size N as a broadcast
    scalar, and a per-document top-k window (one keyed shuffle with a
    WindowGroupLimit so only k rows per doc survive the partial sort).
    Linear in corpus size; no all-pairs, no global sort."""
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy("__id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    n_docs = df.agg(F.count(F.lit(1)).alias("__N"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            (F.col("tf") * (F.col("__N") + F.lit(1))).cast("double")
            / (F.col("doc_freq") + F.lit(1)).cast("double"),
        )
    )
    w = Window.partitionBy("__id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__id").alias(id_col),
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("doc_freq").cast("bigint").alias("doc_freq"),
            "score",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def split_assign(
    df: DataFrame,
    id_col: str,
    splits: Mapping[str, int] | None = None,
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: adds a ``split`` column
    from the md5 of (salt, id) against cumulative per-mille thresholds
    (default train 980 / val 10 / test 10).

    The assignment is a pure function of the id — stable across runs,
    retries, repartitioning, and engines (md5-prefix arithmetic, so an
    external system puts every id in the same split) — which is the
    property a training pipeline needs so examples can NEVER migrate
    from test into train between dataset versions. ``salt`` namespaces
    independent splits of the same corpus. A narrow projection: zero
    shuffles, computed at scan speed."""
    splits = dict(splits or {"train": 980, "val": 10, "test": 10})
    total = sum(splits.values())
    bucket = hash_bucket(
        F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")), total
    )
    expr = None
    hi = 0
    for name, width in splits.items():
        hi += width
        cond = bucket < hi
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn("split", expr)


def priority_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str | Column,
    n: int,
) -> DataFrame:
    """Weight-proportional sample of ``n`` rows WITHOUT replacement via
    priority sampling (Duffield, Lund & Thorup, "Priority sampling for
    estimation of arbitrary subset sums", JACM 2007): each row gets
    priority = weight / u with u a deterministic uniform from the id
    hash; the n largest priorities are the sample.

    Engine-determinism note: u is an md5-derived 31-bit integer and the
    priority is ONE IEEE double division — division is correctly
    rounded, so any engine computes the bit-identical priority (this is
    why the textbook exponential formulation, whose log() is NOT
    correctly rounded and can differ across libms, is avoided).

    Scale shape: priorities are computed at scan speed; the top-n cut
    is a distributed ``orderBy().limit()`` (per-partition TakeOrdered +
    n-row merge) — no global sort, no single-task window. Returns the
    sampled rows with their ``__priority`` dropped."""
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    # 31-bit uniform in (0, 2^31]: +1 keeps u > 0 so priority is finite
    u = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("long")
        % F.lit(2**31)
        + F.lit(1)
    )
    pri = w.cast("double") / u.cast("double")
    return (
        df.withColumn("__priority", pri)
        .orderBy(F.col("__priority").desc(), F.col(id_col).asc())
        .limit(n)
        .drop("__priority")
    )


def domain_rebalance(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    cap: int,
) -> DataFrame:
    """Cap every domain's contribution at ``cap`` rows by deterministic
    per-domain downsampling — the web-corpus rebalancing pass that stops
    a handful of boilerplate-heavy domains from dominating the training
    mix. Domains under the cap keep everything; a domain with N > cap
    rows keeps each row with probability cap/N via hash-Bernoulli on
    the id (so the EXPECTED kept count is the cap and the kept set is
    stable across runs — no per-domain global ordering anywhere).

    Scale shape: one partial-aggregating shuffle for the per-domain
    counts (domain-cardinality-sized output), one join to attach the
    keep-rate, and a scan-speed filter. Unlike a row_number cap
    (``stratum_cap``), no window ever sees a hot domain's full row set
    — the filter is embarrassingly parallel, which is what survives a
    domain with 10^9 pages.

    The count join carries no broadcast hint: the count table is one
    row per domain, and a web corpus has tens of millions of domains,
    where a forced hint fails the job instead of degrading to a
    shuffle join."""
    counts = df.groupBy(F.col(domain_col)).agg(F.count(F.lit(1)).alias("__n"))
    # md5-uniform in [0, 1): 8 hex chars / 2^32
    u = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("double")
        / F.lit(float(2**32))
    )
    return (
        df.join(counts, domain_col)
        .filter((F.col("__n") <= cap) | (u * F.col("__n") < F.lit(cap)))
        .drop("__n")
    )


def temperature_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    alpha_pct: int = 50,
    target_total: int | None = None,
) -> DataFrame:
    """Temperature-based mixture rebalancing: stratum s is kept at a
    rate proportional to n_s^alpha / n_s (alpha = ``alpha_pct``/100),
    the standard recipe for flattening a skewed multilingual/domain
    mix (alpha=1 keeps the natural distribution, alpha=0 equalizes
    strata). ``target_total`` scales the rates so the EXPECTED kept
    total is that many rows (capped at keep-everything per stratum);
    None normalizes so the stratum with the highest keep-rate — the
    SMALLEST one, since rate ∝ n^(alpha-1) — keeps everything and
    larger strata are thinned toward it.

    Engine-determinism: the per-stratum weight n^alpha uses
    exp/ln — NOT correctly-rounded IEEE ops — so instead the weight is
    computed as round(pow(n, alpha), 6) once per STRATUM (stratum
    cardinality is tiny, and rounding to 6 digits absorbs any libm
    ulp), after which rate comparison against the md5-uniform is exact
    double division/multiplication. Selection is hash-Bernoulli on the
    id: stable across runs, retries, and engines.

    Scale shape: one partial-aggregating count shuffle (stratum-sized
    output), an unhinted join of the rate table (an unbounded stratum
    column can exceed the broadcast limit — the ``domain_rebalance``
    rationale), and a scan-speed filter."""
    counts = df.groupBy(F.col(stratum_col)).agg(
        F.count(F.lit(1)).alias("__n")
    )
    w = F.round(
        F.pow(F.col("__n").cast("double"), F.lit(alpha_pct / 100.0)), 6
    )
    weights = counts.select(F.col(stratum_col), F.col("__n"), w.alias("__w"))
    if target_total is None:
        # normalize so the highest-rate (smallest) stratum keeps all
        norm = weights.agg(
            F.max(F.col("__w") / F.col("__n")).alias("__max_rate")
        )
        rates = weights.crossJoin(F.broadcast(norm)).select(
            F.col(stratum_col),
            ((F.col("__w") / F.col("__n")) / F.col("__max_rate")).alias("__rate"),
        )
    else:
        tot_w = weights.agg(F.sum("__w").alias("__tot_w"))
        rates = weights.crossJoin(F.broadcast(tot_w)).select(
            F.col(stratum_col),
            F.least(
                F.lit(1.0),
                F.lit(float(target_total))
                * (F.col("__w") / F.col("__tot_w"))
                / F.col("__n"),
            ).alias("__rate"),
        )
    u = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("double")
        / F.lit(float(2**32))
    )
    return (
        df.join(rates, stratum_col)
        .filter(u < F.col("__rate"))
        .drop("__rate")
    )


def mixture_interleave(
    df: DataFrame,
    id_col: str,
    source_col: str,
    weights: Mapping[str, float] | None = None,
    default_weight: float = 1.0,
    limit: int | None = None,
) -> DataFrame:
    """Deterministic weighted interleave of sources into ONE training
    order — weighted fair queueing (Demers et al. 1989) applied to
    data mixing: each source's docs get a deterministic md5 shuffle
    rank r, a virtual time r / weight, and the global order reads
    ascending virtual time, so a weight-4 source contributes ~4 docs
    for every 1 of a weight-1 source at EVERY prefix of the stream
    (prefix-proportional mixing — what curriculum/mixture schedules
    need, and what a concat-then-shuffle does only in expectation).
    Returns (position, id, source, vtime) for the first ``limit`` rows
    (or all, position omitted-scale warning below).

    Scale shape: one per-source ranking window (keyed shuffle), the
    virtual-time projection is narrow, and the global order is a
    distributed ``orderBy().limit(n)`` (TakeOrdered) when ``limit`` is
    set — never a global single-task window. For a full-corpus
    manifest, write sorted by vtime (range partition) instead of
    asking for a global position column."""
    weights = dict(weights or {})
    if default_weight <= 0 or any(w <= 0 for w in weights.values()):
        raise ValueError("interleave weights must be > 0")
    w_expr = F.lit(float(default_weight))
    for src, wt in weights.items():
        w_expr = F.when(F.col(source_col) == src, F.lit(float(wt))).otherwise(w_expr)
    rank_w = Window.partitionBy(source_col).orderBy(
        F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
    )
    vt = (
        df.select(F.col(id_col), F.col(source_col))
        .withColumn("__r", F.row_number().over(rank_w))
        .withColumn("vtime", F.round(F.col("__r") / w_expr, 6))
        .drop("__r")
    )
    ordered = vt.orderBy(
        F.col("vtime").asc(), F.col(source_col).asc(), F.col(id_col).asc()
    )
    if limit is not None:
        ordered = ordered.limit(limit)
    pos_w = Window.orderBy(
        F.col("vtime").asc(), F.col(source_col).asc(), F.col(id_col).asc()
    )
    # the position window runs over at most `limit` rows (post-TakeOrdered)
    return ordered.withColumn("position", F.row_number().over(pos_w)).select(
        "position", id_col, source_col, "vtime"
    )


def kfold_assign(
    df: DataFrame,
    id_col: str,
    k: int = 5,
    salt: str = "fold",
) -> DataFrame:
    """Deterministic k-fold cross-validation assignment: adds ``fold``
    (0..k-1) from the md5 of (salt, id) — the same contract as
    ``split_assign`` (pure function of the id: stable across runs,
    engines, and repartitioning, so fold membership can never drift
    between a trainer and an evaluator). Narrow, zero shuffles."""
    if k < 2:
        raise ValueError("k must be >= 2")
    return df.withColumn(
        "fold",
        hash_bucket(
            F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")), k
        ).cast("int"),
    )


def priority_sample_grouped(
    df: DataFrame,
    group_cols: Sequence[str],
    id_col: str,
    weight_col: str | Column,
    n_per_group: int,
) -> DataFrame:
    """Per-GROUP weight-proportional sampling without replacement: the
    ``n_per_group`` largest priorities (weight / md5-uniform —
    Duffield-Lund-Thorup, same construction as ``priority_sample``)
    within each group. The per-language / per-domain quota sampler:
    deterministic, engine-replicable, and the ranking window carries a
    WindowGroupLimit so only n rows per group survive the partial
    sort — one keyed shuffle regardless of group sizes."""
    wcol = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    u = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(2**32))
    pri = wcol.cast("double") / u
    w = Window.partitionBy(*group_cols).orderBy(
        pri.desc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_group)
        .drop("__rn")
    )


def dsir_log_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    is_target: Column,
    n_buckets: int = 1024,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, Data Selection
    via Importance Resampling): score every document by how much its
    hashed-unigram distribution looks like a TARGET slice of the
    corpus vs the corpus overall — log w(d) = sum over tokens of
    log p_target(bucket) - log p_raw(bucket), with add-1 smoothing
    over ``n_buckets`` hashed buckets. Sampling proportional to
    exp(log_weight) then upweights target-like general-web data.
    Returns (id, n_tokens, log_weight), log_weight rounded to 6.

    Scale shape: token explode (narrow, linear), ONE partial-agg
    shuffle building the 2 x ``n_buckets`` bucket-count table, the
    per-bucket log-ratio broadcast back onto the token stream (a
    bucket-key equi-join against a <= n_buckets-row side), and ONE
    keyed re-aggregation to documents. The per-bucket log-ratio is
    rounded to 9 digits and carried as DECIMAL so the per-doc sum is
    exact and partitioning-independent — the float-sum-order trap the
    decimal-exact aggregations elsewhere in this repo avoid."""
    w = F.explode(F.split(F.col(text_col), " ")).alias("__tok")
    toks = df.filter(F.length(F.col(text_col)) > 0).select(
        F.col(id_col), is_target.alias("__t"), w
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("__tok")), 1, 8), 16, 10).cast("bigint"),
        F.lit(n_buckets),
    )
    tb = toks.select(id_col, "__t", bucket.alias("__b"))
    counts = tb.groupBy("__b").agg(
        F.sum(F.col("__t").cast("long")).alias("__ct"),
        F.count(F.lit(1)).alias("__cr"),
    )
    totals = counts.agg(
        F.sum("__ct").alias("__tt"), F.sum("__cr").alias("__tr")
    )
    ratio = counts.crossJoin(F.broadcast(totals)).select(
        "__b",
        F.round(
            F.log((F.col("__ct") + 1) / (F.col("__tt") + F.lit(n_buckets)))
            - F.log((F.col("__cr") + 1) / (F.col("__tr") + F.lit(n_buckets))),
            9,
        )
        .cast("decimal(20,9)")
        .alias("__lr"),
    )
    return (
        tb.join(F.broadcast(ratio), "__b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(F.sum("__lr"), 6).cast("double").alias("log_weight"),
        )
    )


def neyman_stratified_sample(
    df: DataFrame,
    stratum_col: str,
    id_col: str,
    value_col: str,
    budget: int,
) -> DataFrame:
    """Neyman-allocation stratified sampling (Neyman 1934): the
    variance-optimal split of a sampling ``budget`` across strata,
    n_h proportional to N_h * sigma_h — high-variance strata get more
    rows than proportional allocation would give, minimizing the
    variance of the estimated mean. Selection inside each stratum is
    md5-ranked (content-free, bit-deterministic, the split_assign
    contract). Returns the selected rows (stratum, id, value,
    alloc_n); per-stratum allocation floors (total can undershoot the
    budget by < n_strata; callers needing exact totals top up from
    the largest remainders).

    Engine-determinism: sigma_h comes from DECIMAL(38,10) moments
    (population form), so allocations are bit-stable; the per-stratum
    cut is a rank over md5 order. Scale shape: one keyed moment
    aggregation (partial-agg), a broadcast of the per-stratum
    allocation table, and ONE keyed ranking window."""
    if budget < 1:
        raise ValueError("budget must be >= 1")
    v = F.col(value_col).cast("double")
    stats = df.groupBy(stratum_col).agg(
        F.count(F.lit(1)).alias("__N"),
        F.sum(v.cast("decimal(38,10)")).cast("double").alias("__s"),
        F.sum((v * v).cast("decimal(38,10)")).cast("double").alias("__ss"),
    )
    sigma = F.sqrt(
        F.greatest(
            F.col("__ss") / F.col("__N")
            - (F.col("__s") / F.col("__N")) * (F.col("__s") / F.col("__N")),
            F.lit(0.0),
        )
    )
    weights = stats.select(
        stratum_col, "__N", (F.col("__N") * sigma).alias("__w")
    )
    total = weights.agg(
        F.sum("__w").alias("__tw"), F.sum("__N").alias("__tN")
    )
    # all-zero-variance corpus => N_h*sigma_h weights sum to 0; fall
    # back to proportional allocation instead of a NaN (empty) result
    share = F.when(
        F.col("__tw") > 0, F.lit(budget) * F.col("__w") / F.col("__tw")
    ).otherwise(F.lit(budget) * F.col("__N") / F.col("__tN"))
    alloc = weights.crossJoin(F.broadcast(total)).select(
        stratum_col,
        F.least(F.floor(share), F.col("__N")).cast("int").alias("alloc_n"),
    )
    h = F.md5(F.concat_ws(":", F.col(stratum_col), F.col(id_col).cast("string")))
    w = Window.partitionBy(stratum_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.join(F.broadcast(alloc), stratum_col)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= F.col("alloc_n"))
        .select(stratum_col, id_col, value_col, "alloc_n")
    )


def unimax_budget(
    df: DataFrame,
    stratum_col: str,
    tokens_col: str,
    budget: int,
    max_epochs: float = 4.0,
) -> DataFrame:
    """UniMax training-mixture budget allocation (Chung et al. 2023,
    "UniMax: Fairer and More Effective Language Sampling for
    Large-Scale Multilingual Pretraining", arXiv:2304.09151):
    distribute a total token ``budget`` over mixture strata
    (languages/domains/sources) so that no stratum is repeated more
    than ``max_epochs`` times and the budget left over after capping
    the small strata spreads UNIFORMLY over the rest — the fairness
    recipe that replaces temperature sampling when epoch caps matter.

    The paper's greedy loop has a closed form under ascending
    available-token order c_1 <= ... <= c_n: once the equal share
    B_rem/(n-i+1) first drops below c_i * E at some crossover rank k,
    it stays constant for every later stratum (each takes exactly one
    share), so

    - rank i < k: alloc = c_i * E (fully repeated at the epoch cap);
    - rank i >= k: alloc = (B - E * prefix_sum_{k-1}) / (n - k + 1),
      where k is the first rank with c_k * E * (n-k+1) > B - E *
      prefix_sum_{k-1} (no crossover => every stratum caps; any
      remaining budget is reported via ``alloc`` summing below B).

    Computed exactly with no global window: per-stratum token counts
    (partial-agg shuffle), then rank + inclusive prefix sum via a
    triangular broadcast self-join on the strict (tokens, stratum)
    order over the bounded stratum table (the ``kmeans_train`` init
    idiom — O(strata^2) pairs, fine because UniMax strata are
    languages/sources, bounded hundreds by construction; this is not
    a per-domain op — cap unbounded domains with ``domain_rebalance``
    first), the crossover flag per row, and a 1-row global min-rank
    broadcast back. Prefix sums are exact integer sums; divisions are
    quantized by flooring (alloc 4 decimals, epochs 6) so an external
    engine reproduces them bit-for-bit AND the hard constraints hold
    unconditionally: flooring never rounds a share up, so
    sum(alloc_tokens) <= budget and epochs <= max_epochs even when the
    exact uniform share has a half-up 5th decimal (round-half-up at 4
    decimals overshot a budget of 97 by 1e-4 on avail [1,9,9,9],
    E=3.5 — the VERDICT r12 counterexample, now a pinned @example).

    Returns (stratum, avail_tokens, alloc_tokens, epochs) with
    epochs = alloc/avail <= max_epochs."""
    from graphkb_spark.core.materialize import materialize

    if budget <= 0 or max_epochs <= 0:
        raise ValueError("budget and max_epochs must be positive")
    # materialized: the corpus-sized aggregation feeds the triangular
    # join (both sides) AND the 1-row total — without this the full
    # corpus scan would run three times
    counts = (
        df.groupBy(F.col(stratum_col).alias("stratum"))
        .agg(F.sum(F.col(tokens_col)).cast("bigint").alias("avail_tokens"))
        .transform(materialize)
    )
    # rank + cumulative sum WITHOUT a global window (the kmeans_train
    # triangular idiom): broadcast the bounded stratum table against
    # itself on the strict (avail, stratum) total order — rk and the
    # inclusive prefix sum fall out of one grouped count/sum, fully
    # distributed, no single-partition WindowExec
    rhs = counts.select(
        F.col("stratum").alias("__s2"), F.col("avail_tokens").alias("__a2")
    )
    tri = counts.join(
        F.broadcast(rhs),
        (F.col("__a2") < F.col("avail_tokens"))
        | (
            (F.col("__a2") == F.col("avail_tokens"))
            & (F.col("__s2") <= F.col("stratum"))
        ),
    )
    total = counts.agg(F.count(F.lit(1)).alias("__n"))
    ranked = (
        tri.groupBy("stratum", "avail_tokens")
        .agg(
            F.count("__s2").cast("int").alias("__rk"),
            F.sum("__a2").cast("bigint").alias("__pref"),
        )
        .crossJoin(F.broadcast(total))
    )
    e = F.lit(float(max_epochs))
    b = F.lit(float(budget))
    # crossover: the equal share of what's left BEFORE this rank can't
    # cover this stratum's full epoch-capped demand
    flagged = ranked.withColumn(
        "__x",
        F.col("avail_tokens") * e * (F.col("__n") - F.col("__rk") + 1)
        > b - (F.col("__pref") - F.col("avail_tokens")) * e,
    )
    kr = flagged.filter(F.col("__x")).agg(
        F.min("__rk").alias("__k"),
        # prefix sum strictly below the crossover rank, recovered from
        # the crossover row itself (exact integers)
        F.min(F.struct(F.col("__rk"), (F.col("__pref") - F.col("avail_tokens")).alias("__p")))["__p"].alias("__pk"),
    )
    # floor, not round-half-up: quantizing DOWN keeps every stratum at
    # or below its exact share, so the totals never overshoot the hard
    # budget / epoch cap (sum-of-floors <= sum-of-exacts <= B)
    floor_q = lambda c, s: F.floor(c * F.lit(s)) / F.lit(s)  # noqa: E731
    alloc = F.when(
        F.col("__k").isNull() | (F.col("__rk") < F.col("__k")),
        floor_q(F.col("avail_tokens") * e, 10000.0),
    ).otherwise(
        floor_q(
            (b - F.col("__pk") * e) / (F.col("__n") - F.col("__k") + 1),
            10000.0,
        )
    )
    return (
        flagged.crossJoin(F.broadcast(kr))
        .select(
            F.col("stratum").alias(stratum_col),
            "avail_tokens",
            alloc.alias("alloc_tokens"),
            floor_q(alloc / F.col("avail_tokens"), 1000000.0).alias("epochs"),
        )
    )


def unimax_sample(
    df: DataFrame,
    stratum_col: str,
    tokens_col: str,
    id_col: str,
    budget: int,
    max_epochs: float = 4.0,
) -> DataFrame:
    """Materialize a UniMax allocation (``unimax_budget``) into the
    actual per-document training mixture: each stratum's allocated
    token budget is spent as floor(alloc/avail) FULL passes over the
    stratum plus one partial pass — documents taken in the
    deterministic md5(id) hash order (the ``token_budget_sample``
    cut: a doc is in the partial pass iff the cumulative token count
    including itself fits the leftover). Returns one row per document
    with ``n_repeats`` = full passes + (1 if in the partial pass),
    dropping docs with n_repeats = 0 — exactly how a mixture recipe
    feeds a dataloader (repeat counts, not physically duplicated
    rows).

    Scale shape: the allocation runs on the bounded stratum aggregate
    (see unimax_budget); applying it is one broadcast join of the
    stratum-sized allocation table plus ONE window shuffle keyed on
    the stratum for the running sum — the same plan as
    token_budget_sample, with per-stratum budgets instead of a global
    constant. Token counts and prefix sums are exact integers; epochs
    land within max_epochs by construction."""
    from graphkb_spark.core.materialize import materialize

    alloc = unimax_budget(df, stratum_col, tokens_col, budget, max_epochs).select(
        F.col(stratum_col).alias("__st"),
        "avail_tokens",
        "alloc_tokens",
    ).transform(materialize)
    key = F.md5(F.col(id_col).cast("string"))
    base = df.select(
        F.col(stratum_col),
        F.col(id_col),
        F.col(tokens_col).cast("bigint").alias("n_tokens"),
        key.alias("__k"),
    )
    w = (
        Window.partitionBy(stratum_col)
        .orderBy(F.col("__k").asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    full = F.floor(F.col("alloc_tokens") / F.col("avail_tokens")).cast("int")
    partial = (
        F.col("alloc_tokens") - full.cast("double") * F.col("avail_tokens")
    )
    joined = (
        base.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .join(
            F.broadcast(alloc),
            base[stratum_col] == F.col("__st"),
        )
    )
    n_rep = (
        full
        + F.when(F.col("cum_tokens") <= partial, F.lit(1)).otherwise(F.lit(0))
    ).cast("int")
    return (
        joined.select(
            stratum_col,
            id_col,
            "n_tokens",
            n_rep.alias("n_repeats"),
        )
        .filter(F.col("n_repeats") >= 1)
    )
