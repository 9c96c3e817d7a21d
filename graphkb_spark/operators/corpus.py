"""Corpus-preparation operators for LLM training pipelines: vocabulary
building, sequence packing, retrieval chunking, and cross-document
segment-level deduplication.

All are pure DataFrame algebra with deterministic, oracle-replicable
semantics:

- ``build_vocab``: global token frequencies -> the top-V vocabulary
  with rank ids (count desc, token asc tie-break). One shuffle for the
  count, one top-V sort over the (small) distinct-token table.
- ``pack_sequences``: the standard concat-and-cut packing — documents
  are laid end-to-end in a deterministic order and cut every
  ``capacity`` tokens; a document crossing a boundary is split across
  consecutive packed sequences. Emitted as a MANIFEST (shard, seq,
  doc, doc_offset, span_len) a packed-dataset writer consumes.
  Packing is per-shard (deterministic hash of the id), so the
  prefix-sum window never funnels the corpus through one task — the
  100 TB-safe layout; waste is at most one partial sequence per shard.
- ``chunk_documents``: fixed-stride sliding-window chunking for
  retrieval/RAG indexing. A NARROW operator: explode over a computed
  offset sequence, zero shuffles — the 100 TB plan is scan-speed.
- ``dedup_segments``: cross-document duplicate-segment removal in the
  style of Lee et al., "Deduplicating Training Data Makes Language
  Models Better" (exact-substring dedup at fixed word-segment
  granularity): every repeated segment keeps only its first global
  occurrence (doc id, then position), and documents are rebuilt from
  the surviving segments. One shuffle keyed on the segment hash, one
  keyed re-aggregation — linear in corpus size, no all-pairs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from graphkb_spark.core.materialize import materialize

from graphkb_spark.operators.dedup import word_shingles
from graphkb_spark.operators.skew import exchange_width
from graphkb_spark.operators.text import TOKEN_REGEX


def tokens(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(TOKEN_REGEX), F.lit(0))


def build_vocab(
    df: DataFrame,
    text_col: str,
    vocab_size: int = 1000,
    min_freq: int = 1,
) -> DataFrame:
    """Top-``vocab_size`` token vocabulary: (token, token_id, freq),
    token_id = dense rank by (freq desc, token asc) starting at 0.

    Scale shape: explode -> partial-agg count (one shuffle on token);
    the top-V cut is a DISTRIBUTED ``orderBy().limit()`` (TakeOrdered:
    per-partition top-V, then a V-row driver merge) — at 100 TB the
    distinct-token table is 10^8-10^9 rows and must never funnel
    through one task. Only the V surviving rows pass through the
    ranking window (single explicit partition, by construction tiny).
    (token, freq) is a total order — token is unique — so the limit
    boundary is deterministic and tie-free."""
    counts = (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= min_freq)
        .orderBy(F.col("freq").desc(), F.col("token").asc())
        .limit(vocab_size)
    )
    # constant-valued but non-foldable partition key: declares the
    # post-limit table single-partition (Catalyst folds a bare lit()
    # out of the spec, re-triggering the unpartitioned-window warn)
    w = Window.partitionBy(F.pmod(F.col("freq"), F.lit(1))).orderBy(
        F.col("freq").desc(), F.col("token").asc()
    )
    return counts.select(
        "token", (F.row_number().over(w) - 1).alias("token_id"), "freq"
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    n_tokens_col: str,
    capacity: int = 2048,
    shards: int = 16,
) -> DataFrame:
    """Concat-and-cut sequence packing manifest: within each shard,
    documents are concatenated in ``id_col`` order and cut every
    ``capacity`` tokens. Returns one row per (document x packed
    sequence it lands in): (shard, seq, <id_col>, doc_offset,
    seq_offset, span_len). Zero-token documents are dropped.

    Shard = md5-derived hash of the id (deterministic under retries
    AND ANSI-replicable, like stratified_sample); the running prefix
    sum is per-shard, so no global single-task sort exists anywhere in
    the plan."""
    sid = F.col(id_col).cast("string")
    shard = F.pmod(
        F.conv(F.substring(F.md5(sid), 1, 8), 16, 10).cast("bigint"), F.lit(shards)
    )
    nt = F.col(n_tokens_col).cast("bigint")
    base = df.select(
        F.col(id_col), nt.alias("__nt"), shard.alias("shard")
    ).filter(F.col("__nt") > 0)
    w = Window.partitionBy("shard").orderBy(F.col(id_col).asc())
    base = base.withColumn("__end", F.sum("__nt").over(w)).withColumn(
        "__start", F.col("__end") - F.col("__nt")
    )
    first_seq = (F.col("__start") / capacity).cast("bigint")
    last_seq = ((F.col("__end") - 1) / capacity).cast("bigint")
    exploded = base.select(
        "shard",
        id_col,
        "__nt",
        "__start",
        "__end",
        F.explode(F.sequence(first_seq, last_seq)).alias("seq"),
    )
    seq_lo = F.col("seq") * capacity
    span_start = F.greatest(F.col("__start"), seq_lo)
    span_end = F.least(F.col("__end"), seq_lo + capacity)
    return exploded.select(
        "shard",
        "seq",
        F.col(id_col),
        (span_start - F.col("__start")).alias("doc_offset"),
        (span_start - seq_lo).alias("seq_offset"),
        (span_end - span_start).alias("span_len"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size: int = 120,
    step: int = 90,
) -> DataFrame:
    """Sliding-window retrieval chunks: one row per (document, chunk)
    with chunks starting at character offsets 0, step, 2*step, ... while
    the offset is inside the text (``overlap = size - step`` characters
    shared between consecutive chunks). The final chunk may be shorter
    than ``size``; empty texts produce no chunks.

    Scale shape: NARROW — ``explode(sequence(...))`` over a per-row
    computed bound, no shuffle, no window; chunking 100 TB is a single
    scan-speed map stage and composes with a downstream embedding UDF
    without a repartition. LLM-pipeline extension (retrieval indexing),
    not a reference-surface operator."""
    if step <= 0 or size <= 0:
        raise ValueError("size and step must be positive")
    n = F.length(F.col(text_col))
    n_chunks = F.floor((n - F.lit(1)) / F.lit(step)) + 1
    base = df.filter(n > 0).select(
        F.col(id_col),
        F.col(text_col).alias("__text"),
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)).alias(
            "chunk_id"
        ),
    )
    start = F.col("chunk_id") * step
    chunk = F.col("__text").substr(start + 1, F.lit(size))
    return base.select(
        F.col(id_col),
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        start.cast("bigint").alias("chunk_start"),
        chunk.alias("chunk_text"),
        F.length(chunk).cast("bigint").alias("chunk_len"),
    )


def dedup_segments(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_words: int = 16,
) -> DataFrame:
    """Cross-document duplicate-segment removal (Lee et al. exact
    dedup at fixed segment granularity): split each document into
    consecutive ``seg_words``-word segments, keep only the FIRST global
    occurrence of every distinct segment (ordered by document id, then
    segment position), and rebuild each document from its surviving
    segments. Returns (id, n_segments, kept_segments, dedup_text) —
    one row per input document; a fully-duplicated document survives
    with kept_segments = 0 and dedup_text = ''.

    Scale shape: explode to one row per segment (linear), ONE shuffle
    keyed on the segment text for the first-occurrence window (dedup of
    a popular segment is a skewed key — AQE skew-join/partition
    splitting handles the reduce side), then one keyed re-aggregation
    back to documents. No all-pairs comparison exists anywhere; the
    plan is two exchanges regardless of corpus size. Words split on a
    single space so the DuckDB oracle replicates byte-for-byte."""
    if seg_words <= 0:
        raise ValueError("seg_words must be positive")
    w = F.split(F.col(text_col), " ")
    n_seg = F.floor((F.size(w) - F.lit(1)) / F.lit(seg_words)) + 1
    segs = df.filter(F.length(F.col(text_col)) > 0).select(
        F.col(id_col),
        w.alias("__w"),
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_seg - 1)).alias(
            "seg_idx"
        ),
    )
    seg_text = F.array_join(
        F.slice(segs["__w"], F.col("seg_idx").cast("int") * seg_words + 1, seg_words),
        " ",
    )
    segs = segs.select(F.col(id_col), "seg_idx", seg_text.alias("seg_text"))
    first = Window.partitionBy("seg_text").orderBy(
        F.col(id_col).asc(), F.col("seg_idx").asc()
    )
    flagged = segs.withColumn(
        "__keep", F.row_number().over(first) == F.lit(1)
    )
    kept_struct = F.when(
        F.col("__keep"), F.struct(F.col("seg_idx"), F.col("seg_text"))
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.col("__keep").cast("long")).alias("kept_segments"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s.seg_text,
                ),
                " ",
            ).alias("dedup_text"),
        )
        .select(
            F.col(id_col),
            F.col("n_segments").cast("bigint").alias("n_segments"),
            F.col("kept_segments").cast("bigint").alias("kept_segments"),
            "dedup_text",
        )
    )


def ngram_counts(
    df: DataFrame,
    text_col: str,
    n: int = 3,
    min_count: int = 2,
    top: int | None = None,
) -> DataFrame:
    """Corpus-wide n-gram frequency table (the KenLM-style count pass
    that backs perplexity filters and contamination checks). Tokenizes
    with the shared ``TOKEN_REGEX``, slides an ``n``-token window over
    every document, and counts each distinct n-gram across the corpus.

    Scale shape: the n-gram generation is NARROW (``transform`` over a
    computed ``sequence`` + ``explode``, all whole-stage codegen —
    no Python); counting is one partial-aggregating shuffle keyed on
    the n-gram, exactly the word-count shape Spark map-side combines.
    The optional ``top`` cut is a distributed ``orderBy().limit()``
    (TakeOrdered) — never a global window over the distinct-n-gram
    table, which at 100 TB is itself huge. Returns (ngram, freq)
    ordered nowhere — callers sort if they page.
    """
    if n <= 0:
        raise ValueError("n must be positive")
    # materialize the token array as an ATTRIBUTE before the slice
    # lambda reads it (r15 — the word_shingles PERF note applies here
    # too): an inline regexp_extract_all referenced inside a
    # higher-order-function lambda re-evaluates PER GRAM POSITION,
    # turning tokenization O(words) into O(words^2) per document
    # (measured at sf0.1: 6.0 s -> the fix makes the gen actually
    # narrow-scan-speed as the docstring claims)
    base = df.select(tokens(text_col).alias("__t"))
    toks = F.col("__t")
    # guard: Spark's sequence(1, 0) yields a DESCENDING [1, 0], not an
    # empty list, so short/null documents must short-circuit to []
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i, n), " ")
    )
    counted = (
        base.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= min_count)
    )
    if top is not None:
        counted = counted.orderBy(
            F.col("freq").desc(), F.col("ngram").asc()
        ).limit(top)
    return counted


def lm_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Per-document average bigram conditional log-probability under
    the corpus's own bigram model — the KenLM-style perplexity proxy
    used to quality-filter web corpora (a document whose word
    transitions are atypical for the corpus scores low). Score =
    mean over bigrams of log2(count(w1 w2) / count(w1 as prefix)).

    Scale shape: bigram generation is narrow; the two count tables are
    vocab-sized (Zipf: far smaller than the corpus) built by
    partial-aggregating shuffles; attaching the two counts is two
    keyed equi-joins AQE can demote to broadcast when the vocab fits;
    the final per-document mean is one more keyed agg. Everything is
    linear in corpus size — no all-pairs, no windows over the corpus.
    Documents with fewer than two tokens produce no row (they have no
    bigrams to score)."""
    toks = tokens(text_col)
    base = df.select(
        F.col(id_col), toks.alias("__t")
    ).filter(F.size("__t") >= 2)
    bg = base.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.lit(1), F.size("__t") - F.lit(1))
        ).alias("__i"),
        F.col("__t"),
    ).select(
        F.col(id_col),
        F.element_at("__t", F.col("__i")).alias("w1"),
        F.array_join(F.slice("__t", F.col("__i"), 2), " ").alias("bigram"),
    )
    c2 = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("__c2"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("__c1"))
    scored = (
        bg.join(c2, "bigram")
        .join(c1, "w1")
        .withColumn(
            "__lp",
            F.log2(F.col("__c2").cast("double") / F.col("__c1")),
        )
    )
    return scored.groupBy(id_col).agg(
        F.round(F.avg("__lp"), 6).alias("avg_log2_prob"),
        F.count(F.lit(1)).alias("n_bigrams"),
    )


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int = 8,
) -> DataFrame:
    """Learn byte-pair-encoding merge rules over a corpus — the
    tokenizer-training pass of an LLM data pipeline. Standard BPE
    (Sennrich et al. 2016): pre-tokenize into whitespace words with
    counts, start from single characters, and repeatedly merge the
    globally most frequent adjacent symbol pair (ties broken by
    (left, right) ascending — deterministic). Returns the merge table
    (step, left, right, merged, pair_count).

    Scale shape: the corpus is touched ONCE to build the word-count
    table; every merge round then runs on the DISTINCT-WORD table
    (vocab-sized, Zipf — millions of rows at 100 TB corpus scale, not
    corpus-sized), with one partial-aggregating shuffle for the
    weighted pair counts, a 1-row argmax collect (the only driver
    traffic), and a narrow codegen re-segmentation. Symbol arrays are
    localCheckpointed each round so lineage stays flat. The per-word
    merge application is an ``aggregate`` lambda implementing exact
    left-to-right non-overlapping pair replacement.

    Iterative + data-dependent argmax per round, so there is no single
    static SQL equivalent — the driver records a rows-only check;
    tests/test_graph_closure_corpus.py verifies the merge sequence
    against a pure-Python reference BPE."""
    words = (
        df.select(
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    syms = words.select(
        "freq", F.split("w", "").alias("syms")
    ).transform(materialize, eager=True)

    merges: list[tuple[int, str, str, str, int]] = []
    # Both per-round expression trees are built as SQL strings (one
    # parser call each) instead of Column-by-Column: the HOF-lambda
    # construction cost ~55 ms of driver py4j churn per round twice
    # over — ~0.9 s of the query's ~2 s wall at any data size (opt
    # r17, guide §7.3). F.expr parses to the identical Catalyst
    # expressions, so plans and results are unchanged.
    pair_expr = (
        "explode(zip_with(slice(syms, 1, size(syms) - 1), "
        "slice(syms, 2, size(syms) - 1), "
        "(a, b) -> struct(a as l, b as r))) as p"
    )

    def _sq(s: str) -> str:
        # SQL string literal under the default parser (backslash
        # escapes active): escape backslashes then quotes
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

    for step in range(n_merges):
        pairs = syms.filter(F.size("syms") >= 2).selectExpr("freq", pair_expr)
        best = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.col("c").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        l, r, c = best[0].l, best[0].r, int(best[0].c)
        merged = l + r
        merges.append((step, l, r, merged, c))
        # left-to-right non-overlapping replacement: append each symbol
        # unless it is `r` AND the accumulator currently ends in an
        # UNMERGED `l` (a just-merged tail cannot chain into a new pair)
        apply_merge = (
            f"aggregate(syms, cast(array() as array<string>), (acc, x) -> "
            f"if(x = {_sq(r)} and get(acc, size(acc) - 1) = {_sq(l)}, "
            f"concat(slice(acc, 1, size(acc) - 1), array({_sq(merged)})), "
            f"concat(acc, array(x)))) as syms"
        )
        # lazy checkpoint: the next round's argmax collect triggers the
        # materialization anyway — eager would add one extra job per
        # round (16 jobs for 8 merges) purely to block earlier
        syms = syms.selectExpr("freq", apply_merge).transform(
            materialize, eager=False
        )
    spark = df.sparkSession
    return spark.createDataFrame(
        merges, "step int, left string, right string, merged string, pair_count bigint"
    )


def bpe_train_sampled(
    df: DataFrame,
    text_col: str,
    n_merges: int = 8,
    sample_docs: int = 100_000,
) -> DataFrame:
    """Sample-based BPE training — the 100-TB story for ``bpe_train``
    (VERDICT r11 #6). Full training costs V merges x a full-corpus
    word-count pass plus V argmax rounds over the distinct-word table;
    at 100 TB that first pass alone is the whole corpus. But BPE merge
    rules depend only on RELATIVE pair frequencies, which a uniform
    document sample preserves: this trains on the ``sample_docs``
    documents with the lowest md5-prefix digest of their text (a
    deterministic, engine-replicable uniform draw — md5 of the content
    is uniform on [0, 2^60) and independent of corpus order), then the
    learned table encodes the FULL corpus via ``bpe_encode``, which
    never re-trains.

    Sampling bound (why the merge table transfers): for a sample of n
    docs from N, each pair count c concentrates around (n/N)*C with
    multiplicative error O(sqrt(ln(P) / ((n/N) * C))) whp over the P
    candidate pairs (Chernoff + union bound). The argmax at each step
    is preserved whenever the relative gap between the top-2 pair
    counts exceeds that error — Zipfian pair distributions have
    constant-factor gaps at the head, so n in the millions fixes the
    early (high-impact) merges with overwhelming probability, exactly
    the regime production tokenizers train in (GPT-2's BPE trained on
    a curated subcorpus, not the crawl). Ties and near-ties deep in
    the tail may reorder — equivalence on a structured corpus is
    pinned by test, not assumed.

    This is how sampling composes with the engine: the top-n draw is a
    distributed TakeOrdered (partial top-n per partition, no full
    sort), the sample is respread over ``exchange_width`` partitions
    before the explode, and training proceeds on the bounded
    subcorpus — driver traffic stays the per-merge 1-row argmax."""
    if sample_docs < 1:
        raise ValueError("sample_docs must be >= 1")
    rank = F.conv(F.substring(F.md5(F.col("__t")), 1, 15), 16, 10).cast(
        "bigint"
    )
    sample = (
        df.select(F.col(text_col).alias("__t"))
        .withColumn("__h", rank)
        .orderBy(F.col("__h").asc(), F.col("__t").asc())
        .limit(sample_docs)
        .repartition(exchange_width(df))
        .select(F.col("__t").alias(text_col))
    )
    return bpe_train(sample, text_col, n_merges)


# The shipped tokenizer artifact: 8 merge rules trained once on the
# documents corpus (bpe_train at sf0.01) and frozen — exactly how
# production tokenizers ship (GPT-2's merges.txt). Encoding must NOT
# re-train: the artifact is a constant, the encode is pure scan-speed
# string algebra. Note rule 6 ("m"+"er") consumes rule 1's output —
# real BPE sequencing, so application order matters and is preserved.
PRETRAINED_BPE_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"),
    ("s", "t"), ("m", "er"), ("a", "t"), ("l", "u"),
]


def bpe_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Apply trained BPE merge rules to a corpus — the tokenize pass
    that pairs with ``bpe_train``. Returns (id, n_tokens) with the
    symbol count after applying every merge in order.

    The segmentation state is a sentinel-delimited string: every
    symbol is wrapped chr(31)..chr(30) and words are separated by
    chr(29), so a merge ``(l, r)`` is ONE literal ``replace`` of
    "\\x1f l \\x1e \\x1f r \\x1e" — left-to-right non-overlapping,
    exactly BPE's greedy application, and a match can never straddle a
    symbol or word boundary. The whole encode is a chain of
    ``len(merges)`` narrow string replaces (whole-stage codegen, zero
    shuffles, no Python) — at 100 TB this runs at scan speed, and the
    merge table is a driver-side constant exactly like a broadcast
    tokenizer artifact. Token count = surviving chr(31) markers."""
    S, E, W = "\x1f", "\x1e", "\x1d"
    s = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", W)
    s = F.regexp_replace(s, f"([^{W}])", S + "$1" + E)
    for left, right in merges:
        s = F.replace(
            s,
            F.lit(S + left + E + S + right + E),
            F.lit(S + left + right + E),
        )
    n = F.length(s) - F.length(F.replace(s, F.lit(S), F.lit("")))
    return df.select(F.col(id_col), n.cast("bigint").alias("n_tokens"))


def strip_boilerplate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    seg_words: int = 8,
    max_doc_frac: float = 0.5,
    min_docs: int = 2,
) -> DataFrame:
    """Per-source boilerplate removal (CCNet-style, Wenzek et al. 2020:
    drop the nav-bars/footers/cookie-banners that repeat across a
    site's pages): split each document into consecutive
    ``seg_words``-word segments; a segment that occurs in at least
    ``min_docs`` documents AND in more than ``max_doc_frac`` of its
    SOURCE's documents is boilerplate, and every occurrence is dropped.
    Returns (id, source, n_segments, kept_segments, clean_text) — one
    row per input document, segments rejoined in original order.

    Differs from ``dedup_segments`` (first occurrence survives,
    corpus-global) in both policy and scope: boilerplate is defined
    per source and ALL its occurrences are dropped — the segment is
    template chrome, not content.

    Scale shape: one explode to segment rows (linear), one
    partial-aggregating shuffle on (source, segment) for the
    document-frequency count, a source-count aggregate
    (source-cardinality-sized), a join of the (small) boilerplate set
    back to the segment rows — broadcast-able, left to AQE, never a
    forced hint — and one keyed re-aggregation to documents. No
    all-pairs; a hot segment is one partial-agg'd count row, and the
    reduce side of a skewed (source, segment) key is split by AQE.
    Words split on a single space so the DuckDB oracle replicates
    byte-for-byte."""
    if seg_words <= 0:
        raise ValueError("seg_words must be positive")
    w = F.split(F.col(text_col), " ")
    n_seg = F.floor((F.size(w) - F.lit(1)) / F.lit(seg_words)) + 1
    segs = df.filter(F.length(F.col(text_col)) > 0).select(
        F.col(id_col),
        F.col(source_col),
        w.alias("__w"),
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_seg - 1)).alias("seg_idx"),
    )
    seg_text = F.array_join(
        F.slice(segs["__w"], F.col("seg_idx").cast("int") * seg_words + 1, seg_words),
        " ",
    )
    segs = segs.select(F.col(id_col), F.col(source_col), "seg_idx", seg_text.alias("seg_text"))
    src_docs = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("__src_docs"))
    seg_df_counts = (
        segs.select(id_col, source_col, "seg_text")
        .dropDuplicates([id_col, source_col, "seg_text"])
        .groupBy(source_col, "seg_text")
        .agg(F.count(F.lit(1)).alias("__docs_with"))
    )
    boiler = (
        seg_df_counts.join(src_docs, source_col)
        .filter(
            (F.col("__docs_with") >= min_docs)
            & (F.col("__docs_with") > F.lit(max_doc_frac) * F.col("__src_docs"))
        )
        .select(source_col, "seg_text", F.lit(True).alias("__boiler"))
    )
    flagged = segs.join(boiler, [source_col, "seg_text"], "left")
    kept_struct = F.when(
        F.col("__boiler").isNull(), F.struct(F.col("seg_idx"), F.col("seg_text"))
    )
    return (
        flagged.groupBy(id_col, source_col)
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.col("__boiler").isNull().cast("long")).alias("kept_segments"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s.seg_text,
                ),
                " ",
            ).alias("clean_text"),
        )
        .select(
            F.col(id_col),
            F.col(source_col),
            F.col("n_segments").cast("bigint").alias("n_segments"),
            F.col("kept_segments").cast("bigint").alias("kept_segments"),
            "clean_text",
        )
        # honor the one-row-per-input-document contract: empty/NULL-text
        # docs have zero segments but must still appear, or downstream
        # joins on the cleaned corpus silently lose their ids
        .unionByName(
            df.filter(
                F.col(text_col).isNull() | (F.length(F.col(text_col)) == 0)
            ).select(
                F.col(id_col),
                F.col(source_col),
                F.lit(0).cast("bigint").alias("n_segments"),
                F.lit(0).cast("bigint").alias("kept_segments"),
                F.lit("").alias("clean_text"),
            )
        )
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str,
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Top-k adjacent-bigram collocations by pointwise mutual
    information — the classic phrase-mining signal (Church & Hanks
    1990): pmi(a,b) = log2( p(ab) / (p(a) p(b)) ) with p(ab) over all
    adjacent bigrams and p(a) over all tokens. Returns
    (w1, w2, n, pmi) ordered by pmi desc (w1, w2 tie-break), bigrams
    with n >= ``min_count`` only.

    Scale shape: one partial-aggregating shuffle for bigram counts,
    one for unigram counts (vocabulary-sized output), two joins of the
    bigram table against the unigram table (vocab-sized — AQE
    broadcasts it; no forced hint), 1-row count totals as broadcast
    scalars, and a distributed ``orderBy().limit(k)`` (TakeOrdered) —
    no global window, no single-task funnel. Words split on a single
    space; pmi is one log2 over correctly-rounded divisions, rounded
    to 6 digits so any engine agrees."""
    w = F.split(F.col(text_col), " ")
    base = df.filter(F.length(F.col(text_col)) > 0).select(w.alias("__w"))
    bigrams = base.select(
        F.explode(
            F.when(F.size("__w") < 2, F.array()).otherwise(
                F.transform(
                    F.sequence(F.lit(1), F.size("__w") - 1),
                    lambda i: F.struct(
                        F.element_at("__w", i).alias("w1"),
                        F.element_at("__w", i + 1).alias("w2"),
                    ),
                )
            )
        ).alias("__b")
    ).select("__b.w1", "__b.w2")
    big = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    uni = (
        base.select(F.explode("__w").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_tok"))
    )
    t_uni = uni.agg(F.sum("n_tok").alias("__t_uni"))
    t_big = big.agg(F.sum("n").alias("__t_big"))
    joined = (
        big.filter(F.col("n") >= min_count)
        .join(uni.select(F.col("tok").alias("w1"), F.col("n_tok").alias("__na")), "w1")
        .join(uni.select(F.col("tok").alias("w2"), F.col("n_tok").alias("__nb")), "w2")
        .crossJoin(F.broadcast(t_uni))
        .crossJoin(F.broadcast(t_big))
    )
    p_ab = F.col("n") / F.col("__t_big")
    p_a = F.col("__na") / F.col("__t_uni")
    p_b = F.col("__nb") / F.col("__t_uni")
    return (
        joined.select(
            "w1", "w2", "n", F.round(F.log2(p_ab / (p_a * p_b)), 6).alias("pmi")
        )
        .orderBy(F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(top_k)
    )


def diversity_report(
    df: DataFrame,
    source_col: str,
    text_col: str,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-source corpus diversity report — the mixture health metrics
    a training-data run reports next to token counts: document and
    token volume, type-token ratio (lexical diversity), and the
    distinct-n-gram fraction (low values = templated/repetitive
    sources; the aggregate cousin of the per-doc dup_ngram_frac).
    Returns (source, n_docs, n_tokens, distinct_tokens, ttr,
    n_shingles, distinct_shingles, distinct_shingle_frac).

    Scale shape: one explode per granularity with a two-level
    partial-aggregating rollup — (source, token) distinct collapses
    map-side before the per-source count, so the shuffle carries at
    most vocabulary x sources rows, never the corpus. Words split on
    a single space for oracle parity."""
    w = F.split(F.col(text_col), " ")
    base = df.filter(F.length(F.col(text_col)) > 0).select(
        F.col(source_col), w.alias("__w")
    )
    docs = base.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("__w")).cast("bigint").alias("n_tokens"),
    )
    toks = (
        base.select(source_col, F.explode("__w").alias("__t"))
        .groupBy(source_col)
        .agg(F.countDistinct("__t").alias("distinct_tokens"))
    )
    sh = base.select(
        source_col,
        F.explode(word_shingles("__w", shingle_n)).alias("__s"),
    ).groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.countDistinct("__s").alias("distinct_shingles"),
    )
    return (
        docs.join(toks, source_col)
        .join(sh, source_col)
        .select(
            source_col,
            "n_docs",
            "n_tokens",
            "distinct_tokens",
            F.round(F.col("distinct_tokens") / F.col("n_tokens"), 6).alias("ttr"),
            "n_shingles",
            "distinct_shingles",
            F.round(
                F.col("distinct_shingles") / F.col("n_shingles"), 6
            ).alias("distinct_shingle_frac"),
        )
    )


def perplexity_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score
    every document with the corpus bigram LM (``lm_score``) and label
    it head / middle / tail by exact score tertiles — the standard
    first curation cut of a web corpus (keep head+middle, drop or
    down-weight tail). Returns (id, avg_log2_prob, n_bigrams, bucket).

    Scale shape: ``lm_score`` is linear (vocab-sized count tables,
    keyed joins); the tertile cutoffs are ONE scalar aggregate
    broadcast back over the scored table — no global sort, no
    corpus-sized window (an ``ntile(3)`` over all docs would funnel
    the corpus through one partition; the cutoff-join shape is the
    100-TB answer). Cutoffs are exact linear-interpolation
    percentiles rounded to 6 so the bucket boundary is
    engine-stable."""
    # two consumers (tertile cutoffs + the bucket projection) — stage
    # the scored table once or the full bigram-LM pipeline (two joins,
    # three shuffles) runs twice
    scored = materialize(lm_score(df, id_col, text_col), eager=False)
    cuts = scored.agg(
        F.round(F.percentile("avg_log2_prob", F.lit(1.0 / 3)), 6).alias("__p33"),
        F.round(F.percentile("avg_log2_prob", F.lit(2.0 / 3)), 6).alias("__p67"),
    )
    return scored.crossJoin(F.broadcast(cuts)).select(
        id_col,
        "avg_log2_prob",
        "n_bigrams",
        F.when(F.col("avg_log2_prob") >= F.col("__p67"), F.lit("head"))
        .when(F.col("avg_log2_prob") >= F.col("__p33"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def heaps_fit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_checkpoints: int = 16,
    shingle_n: int = 1,
) -> DataFrame:
    """Heaps'-law fit of vocabulary growth V(N) = K * N^beta over the
    corpus read in ``id_col`` order — the planning number for
    tokenizer vocab sizing and dedup-state budgets (how fast does the
    distinct-unit table grow as the corpus scales? natural text sits
    near beta ~ 0.5; beta near 1 means unbounded junk vocabulary,
    beta near 0 means heavy repetition). ``shingle_n > 1`` fits the
    n-gram-shingle vocabulary instead of single tokens — that IS the
    MinHash/exact-dedup state table, so its growth exponent is the
    number that sizes dedup state at 100 TB. Returns one row
    (n_tokens, vocab, beta, ln_k, r2), rounded to 6.

    Scale shape: the curve is NOT built by re-scanning a growing
    prefix (quadratic) or by a corpus-wide window. Each token's FIRST
    global position is a groupBy-min over (token, doc_offset +
    in-doc position), where per-doc offsets come from the
    sorted-neighborhood two-phase prefix sum (range-bucketed
    row_number + broadcast triangular bucket offsets — no
    single-partition funnel). Each distinct token then maps to its
    checkpoint bucket with EXACT integer arithmetic — j = (fp-1)*c
    DIV N + 1 against checkpoints cp_j = ceil(N*j/c) — so V(cp_j) is
    a c-row cumulative sum, never a c-fold replication of the vocab
    table. The OLS moments are 9-digit-rounded DECIMAL sums (the
    ``zipf_fit`` engine-determinism contract)."""
    unit = tokens(text_col)
    if shingle_n > 1:
        toks = (
            df.select(F.col(id_col).alias("__id"), unit.alias("__w"))
            .filter(F.size("__w") > 0)
            .select("__id", word_shingles("__w", shingle_n).alias("__t"))
        )
    else:
        toks = df.select(F.col(id_col).alias("__id"), unit.alias("__t"))
    # feeds the size table AND the position explode — compute once
    toks = materialize(toks, eager=False)
    docs = toks.select("__id", F.size("__t").alias("__n")).filter(
        F.col("__n") > 0
    )
    base = (
        docs.repartitionByRange(exchange_width(df), F.col("__id").asc())
        .withColumn("__b", F.spark_partition_id())
        .transform(materialize, eager=False)
    )
    counts = base.groupBy("__b").agg(F.sum("__n").alias("__bn"))
    prior = counts.select(F.col("__b").alias("__pb"), F.col("__bn").alias("__pn"))
    offsets = (
        counts.join(F.broadcast(prior), F.col("__pb") < F.col("__b"), "left")
        .groupBy("__b")
        .agg(F.coalesce(F.sum("__pn"), F.lit(0)).alias("__off"))
    )
    w_in = Window.partitionBy("__b").orderBy(F.col("__id").asc())
    doc_off = (
        base.withColumn("__cum", F.sum("__n").over(w_in))
        .join(F.broadcast(offsets), "__b")
        .select("__id", (F.col("__off") + F.col("__cum") - F.col("__n")).alias("__doff"))
    )
    first = (
        toks.join(doc_off, "__id")
        .select(
            F.col("__doff"),
            F.posexplode("__t").alias("__p", "token"),
        )
        .select("token", (F.col("__doff") + F.col("__p") + 1).alias("__gp"))
        .groupBy("token")
        .agg(F.min("__gp").alias("__fp"))
    )
    total = docs.agg(F.sum("__n").cast("bigint").alias("__N"))
    c = n_checkpoints
    # exact-integer bucket: the smallest j with ceil(N*j/c) >= fp
    buckets = (
        first.crossJoin(F.broadcast(total))
        .select(F.expr(f"((__fp - 1) * {c}) DIV __N + 1").alias("__j"))
        .groupBy("__j")
        .agg(F.count(F.lit(1)).alias("__bc"))
    )
    cps = total.select(
        "__N", F.explode(F.sequence(F.lit(1), F.lit(c))).alias("__j")
    ).select(
        "__N", "__j", F.expr(f"(__N * __j + {c - 1}) DIV {c}").alias("__cp")
    )
    # c-row cumulative sum on a declared single partition (tiny by
    # construction — the zipf_fit ranking-window pattern)
    w_c = Window.partitionBy(F.pmod(F.col("__j"), F.lit(1))).orderBy("__j")
    curve = (
        cps.join(F.broadcast(buckets), "__j", "left")
        .withColumn(
            "__v",
            F.sum(F.coalesce("__bc", F.lit(0))).over(w_c).cast("double"),
        )
        .select("__j", "__cp", "__N", "__v")
    )
    x, y = F.log(F.col("__cp").cast("double")), F.log("__v")

    def dsum(c: Column, alias: str) -> Column:
        return F.sum(F.round(c, 9).cast("decimal(38,12)")).cast("double").alias(alias)

    g = curve.groupBy("__N").agg(
        F.count(F.lit(1)).cast("double").alias("__c"),
        F.max(F.col("__v")).cast("bigint").alias("__vocab"),
        dsum(x, "__sx"),
        dsum(y, "__sy"),
        dsum(x * x, "__sxx"),
        dsum(x * y, "__sxy"),
        dsum(y * y, "__syy"),
    )
    num = F.col("__c") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    den = F.col("__c") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    deny = F.col("__c") * F.col("__syy") - F.col("__sy") * F.col("__sy")
    # degenerate fits: a flat vocabulary curve (deny = 0, e.g. a
    # single-token corpus) has slope 0 by definition and no meaningful
    # r2; a degenerate x-range (den = 0) has no fit at all
    beta = F.when(deny == 0, F.lit(0.0)).otherwise(
        F.when(den != 0, num / den)
    )
    ln_k = (F.col("__sy") - beta * F.col("__sx")) / F.col("__c")
    r2 = F.when((den != 0) & (deny != 0), (num * num) / (den * deny))
    return g.select(
        F.col("__N").alias("n_tokens"),
        F.col("__vocab").alias("vocab"),
        F.round(beta, 6).alias("beta"),
        F.round(ln_k, 6).alias("ln_k"),
        F.round(r2, 6).alias("r2"),
    )
