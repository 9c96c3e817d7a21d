"""Physical-plan REGRESSION tests: shuffle/scan-shape budgets for the
operators whose scale story depends on a specific plan. A correctness
suite catches wrong answers; this one catches a silently-degraded plan
(a lost broadcast, a new exchange, a window swallowing the corpus)
before it ships — the perf contract expressed as assertions, using the
same tree-walk as tools/audit_plans.py.

Budgets are UPPER bounds: a plan may get cheaper, never quietly more
expensive.
"""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from audit_plans import audit  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def _audit(spark, name):
    return audit(entrymod.queries()[name](spark, SF_DIR))


# (query, max exchanges, max python ops, require zero SMJ)
BUDGETS = [
    # narrow / zero-shuffle operators: any exchange is a regression
    ("split_assign", 0, 0, True),
    ("bpe_encode", 0, 0, True),
    ("chunk_documents", 0, 0, True),
    ("priority_sample", 0, 0, True),
    ("classifier_score", 0, 0, True),
    # single-shuffle aggregation shapes
    ("dedup_exact", 1, 0, True),
    # +1 intentional exchange (opt r17): ensure_scan_parallelism
    # repartitions the 4 projected columns when the scan is starved
    # (single parquet row group serialized the 9 decimal moment sums
    # on 1 core); plan-time no-op — and back to 1 exchange — when the
    # scan splits naturally at scale
    ("multiple_regression", 2, 0, True),
    ("multiple_regression_fast", 2, 0, True),  # same shape, int64 sums
    ("pricing_summary", 1, 0, True),
    ("sequence_pack", 1, 0, True),
    ("vocab_build", 2, 0, True),
    # broadcast-dimension joins: no sort-merge allowed
    ("broadcast_dim_join", 1, 0, True),
    ("salted_skew_join", 1, 0, True),
    ("domain_rebalance", 2, 0, True),
    # reconcile's exchange-budget: r17 tightened 3 -> 2 — ONE pinned
    # group-key repartition now serves all three tier windows (subset
    # hash-partitioning satisfies their ClusteredDistribution), plus
    # the pairing aggregation exchange
    ("reconcile", 2, 0, True),
    # python boundary only where declared; +1 intentional exchange
    # (opt r17): the starved-scan repartition spreads the Arrow parse
    # across cores and ships only the 3 numeric source columns (the
    # notation strings are built post-exchange); no-op at scale
    ("hgvs_parse", 1, 1, True),
    ("minhash_lsh", 2, 2, True),
    # round-7 additions
    ("gopher_quality", 0, 0, True),   # narrow scan-speed quality gate
    ("winsorize", 2, 0, True),        # percentile agg + join back
    # bigram+unigram aggs, 2 vocab joins (statically SMJ — no forced
    # hint on the unbounded vocab table; AQE converts to broadcast at
    # runtime, pinned by the skew tests), 1-row totals, TakeOrdered
    ("pmi_collocations", 7, 0, False),
    ("boilerplate_strip", 5, 0, True),
    ("expectations", 2, 0, True),      # ONE agg scan + global gather
    ("scd2", 1, 0, True),              # both windows share the key exchange
    ("kmv_distinct", 2, 0, True),      # distinct + rank share partitioning
    ("mixture_interleave", 3, 0, True),# source rank + TakeOrdered + position
    ("linear_attribution", 2, 0, True),# user window + rollup reuse exchange
    # +1 intentional exchange (opt r17): ensure_scan_parallelism
    # spreads the pure-map quantize+4-dot projection when the scan is
    # one row group (profiled 485 ms single-task stage); plan-time
    # no-op — and back to 0 exchanges — when the scan splits at scale
    ("embedding_project", 1, 0, True),
    ("pcm_energy", 0, 2, True),        # synth UDF + decoder; zero shuffles
    # broadcast-nested-loop IS the plan for a broadcast crossJoin
    # (the audit's smj counter includes BNLJ), so no_smj=False
    ("hard_negatives", 1, 0, False),
    ("rolling_distinct", 2, 0, True),  # contribute-explode distinct + count
    ("priority_sample_grouped", 1, 0, True),  # one quota window
    ("top_paths", 3, 0, True),         # sessionize + collect + TakeOrdered
    ("survivorship", 4, 0, False),     # base agg + per-mode-field aggs+joins
    ("interpolate", 3, 0, False),      # probe build + union + keyed windows
    ("embedding_dim_stats", 1, 0, True),  # posexplode + one dim agg
    ("kfold_assign", 1, 0, True),      # narrow assign + count rollup
    # round-8 additions
    ("zorder_stats", 1, 0, True),      # narrow Morton projection + one agg
    ("tokenizer_fertility", 1, 0, True),  # narrow counts + one group agg
    ("cdc_replay", 1, 0, True),        # single keyed window, no joins
    ("gap_fill", 2, 0, True),          # span agg + union-fill window
    ("scd2_lookup", 2, 0, True),       # scd2 window + union-fill window
    ("kmv_set_ops", 2, 0, True),       # distinct-hash agg + rank window
    ("cms_counts", 2, 0, True),        # counter agg + probe agg, bcast join
    ("kcore", 2, 0, True),             # post-checkpoint: degree agg rounds
    ("mad_outliers", 3, 0, True),      # two percentile aggs + AQE bcasts
    ("bloom_join", 0, 0, True),        # narrow bit-test + broadcast join
    ("dsir_weights", 4, 0, False),     # token agg, ratio bcast, doc agg
    ("sorted_neighborhood", 6, 0, False),  # two-phase rank + block join
    ("rrf_fusion", 5, 0, False),       # two TakeOrdered lists + fuse
    # round-8 batch 4-7 (checkpoint-truncated plans audit small)
    ("k_anonymity", 1, 0, True),       # one QI-tuple agg
    ("prefix_rollup", 1, 0, True),     # narrow prefix explode + one agg
    ("zipf_fit", 1, 0, True),          # TakeOrdered + 1-partition rank
    ("table_profile", 2, 0, True),     # one expand-agg scan + stack
    ("compaction_plan", 2, 0, True),   # part-keyed pack + bin windows
    # 1-row stats broadcast crossJoins plan as BNLJ (desired), no_smj=False
    ("cuped", 3, 0, False),            # units agg + pooled/variant aggs
    ("ab_delta", 3, 0, False),         # units agg + two variant sides
    ("join_size_estimate", 3, 0, True),  # two sampled counts + key join
    ("containment_pairs", 4, 0, True),   # post-checkpoint posting join
    ("kmeans_train", 2, 0, False),     # k-row centroid broadcast = BNLJ
    # round-8 batch 8-11
    ("changepoint", 1, 0, True),       # three windows share one exchange
    ("benford", 1, 0, False),          # digit agg + 1-row total BNLJ
    ("json_props", 1, 0, True),        # narrow JSON extract + one agg
    ("psi_drift", 2, 0, False),        # stats bcast + shared period agg
    ("rfm", 2, 0, False),              # user agg + 1-row edges broadcast
    ("negative_edges", 3, 0, True),    # distinct srcs/edges + anti-join
    ("rolling_zscore", 1, 0, True),    # one keyed window exchange
    ("lag_features", 1, 0, True),      # one keyed window exchange
    ("topn_other", 2, 0, True),        # post-checkpoint TakeOrdered + other
    # round-9 additions
    ("semantic_dedup", 6, 0, False),   # kmeans + cluster equi-join pairs
    # two-level assignment: +1 exchange for the per-cell fine-codebook
    # aggregation; fine assignment itself is broadcast (bounded k rows)
    ("semantic_dedup_two", 7, 0, False),
    # round-12 additions: soft dedup is one digest-count shuffle + an
    # AQE-broadcast join back; unimax runs entirely on the materialized
    # stratum aggregate (triangular broadcast self-join, no window)
    ("soft_dedup", 1, 0, True),
    ("unimax_budget", 5, 0, False),
    # allocation broadcast onto one stratum-keyed window shuffle
    ("unimax_sample", 2, 0, True),
    # the guard's minhash escape hatch: estimate agg + the banding
    # pipeline (2 python = the minhash Arrow UDF stages, as minhash_lsh)
    ("ngram_jaccard_routed", 3, 2, True),
    # containment guard's escape hatch (r13): same banding pipeline,
    # directed-containment verify fans out post-join (no extra shuffle)
    ("ngram_containment_routed", 3, 2, True),
    # PPJoin pairs + bcast config agg; +1 in round 11: the asymmetric
    # index/probe prefix orientation broke one exchange reuse inside
    # the pair feed (all 6 are AQE-broadcast at this SF) — accepted,
    # it bought the 2.2x candidate cut measured at x10 in SCALING.md;
    # +1 in r17: the verify-stage xxhash64(pair) repartition (see
    # ngram_jaccard note) — 8.3 s -> 3.0 s at sf0.1
    ("lsh_band_tuning", 7, 0, False),
    ("perplexity_buckets", 7, 0, False),  # lm_score joins + 1-row cutoffs
    ("heaps_fit", 7, 0, False),        # two-phase offsets + first-pos agg
    # round-11 additions
    # gram-count agg + per-doc window; the duplicated-digest set comes
    # back as a broadcast join, never a second full-table shuffle
    ("repeated_spans", 2, 0, True),
    ("repeated_span_cut", 2, 0, True),  # span bcast onto docs + same core
    # r14 single-aggregation rewrite: bench-digest distinct (staged
    # once, checkpoint-truncated) + explode_outer gram stream probing
    # the broadcast + ONE doc-keyed agg riding the repartition — the
    # r13 fill-in join (and its second corpus pass) is gone, so the
    # pin tightened 3 -> 1 exchange and zero joins besides the probe.
    # The corpus text crosses the wire exactly once, in the doc-keyed
    # tokenize exchange, which is always taken.
    ("exactsubstr_decontaminate", 1, 0, True),
    # r15 suite-level flag: same single-aggregation contract — the
    # (set, digest) union probes as ONE broadcast, the flag AND the
    # per-set attribution come out of two chained aggs riding the one
    # staging repartition (hash(id) satisfies both (id, set) and (id)
    # groupings), zero joins after the probe
    ("multi_benchmark_flag", 1, 0, True),
    # r13 decontamination surgery: bench-digest distinct + leaked-
    # position island window + span join-back. The one sort-merge is
    # the join-back of the (leak-volume-sized) span list onto the
    # CHECKPOINTED base — checkpoint preserves the doc-id
    # partitioning, so only the span side shuffles; broadcasting the
    # base side is corpus-sized and forbidden at scale
    ("decontaminate_cut", 2, 0, False),
    # r15 unique-owner rewrite: ONE partial-agg groupBy on the
    # exploded shingles (hot boilerplate keys collapse map-side — no
    # skew path needed) + a doc-sized unique rollup + the doc-sized
    # fill-in join onto the staged doc table; the old join-back shape
    # (3 stream shuffles, stream computed twice) measured 21.6 s vs
    # 1.0 s oracle at sf0.1, this one 1.77 s
    ("dup_ngram_frac", 2, 0, True),
    # r15 attribute fix: the token array is materialized before the
    # slice lambda reads it (inline regex re-evaluated per gram
    # position = O(words^2)/doc — 6.0 s -> 0.86 s at sf0.1); the one
    # exchange is the word-count shuffle, the top cut is TakeOrdered
    ("ngram_counts", 1, 0, True),
    # r15 suite-level surgery: the probe join + its broadcast live
    # INSIDE the staged matched-positions checkpoint (invisible to
    # this tree walk — its broadcast behavior is pinned by the
    # broadcast-modes equivalence test in test_dedup_similarity.py);
    # the visible plan is the corpus staging scan re-exchanged into
    # the two doc-keyed join-backs (spans + attribution, the 2 SMJs)
    # plus the leak-sized island window and attribution agg exchanges
    ("multi_benchmark_decontaminate", 4, 0, False),
    # eval-side leak report, the N=1 call of multi_benchmark_leak_report:
    # the staged digest and distinct-triples tables are
    # checkpoint-truncated, and projecting away worst_doc drops the
    # worst-document rollup and its fill-in join (budget 5 -> 4). Left:
    # the item-list distinct, the per-item totals agg and the two
    # Expand-pipeline countDistinct exchanges, plus the two size-gated
    # broadcast fill-ins
    ("benchmark_leak_report", 4, 0, True),
    # r16 suite-level leak report: staged per-item digest distinct +
    # broadcast probe + staged distinct-triples table feeding three
    # leak-volume rollups (per-item Expand countDistincts, the
    # per-(item, doc) worst-doc argmax pair, suite-bounded totals) +
    # size-gated broadcast fill-ins; corpus text crosses the wire
    # exactly once, in the doc-keyed tokenize exchange
    ("multi_benchmark_leak_report", 6, 0, True),
    # r14 per-span leak attribution: staged digest probe + one
    # (item, doc)-keyed island window + span agg — the window
    # exchange is leak-volume-sized, not corpus-sized
    ("benchmark_leak_spans", 2, 0, True),
    # r16 suite-level span attribution: identical shape — the set
    # label rides the (item, doc) island key (functionally dependent
    # on the item), so the budget is the single-set pin's
    ("multi_benchmark_leak_spans", 2, 0, True),
    # r14 cross-benchmark matrix: staged per-set digests + one
    # digest-keyed self-join (the SMJ — both sides shuffle the
    # bounded digest table once) + broadcast matrix assembly
    ("benchmark_overlap_matrix", 5, 0, False),
    # full PPJoin stack: posting freq agg + rank window + asymmetric
    # prefix join + two verify joins, all broadcast-hash at this SF;
    # +1 in r17: the xxhash64(pair) repartition before the verify
    # join — AQE's byte-based coalescing collapsed the ~1 MB deduped
    # pair exchange to 1 partition, single-threading the per-pair-CPU
    # verify stage (measured 6.0 s on one core inside lsh_band_tuning)
    ("ngram_jaccard", 6, 0, True),
    # r17 Bloom-gated segment dedup (Dolma/BFF shape): the
    # duplicate-digest partial agg lives inside the staged checkpoint
    # (invisible to this walk); the visible plan is ONE scan whose
    # bloom-gated conditional join key feeds the broadcast verify
    # join (misses carry NULL and bypass the probe — no filter, so
    # Catalyst can't push the hit predicate below the segment
    # projection and re-evaluate the md5 chain per hash) + the ONE
    # doc-keyed rebuild exchange — the full-text window shuffle
    # dedup_segments pays is gone
    ("bloom_segment_dedup", 1, 0, True),
    # r17 IVF nprobe tuning curve: brute-force truth behind the
    # checkpoint, then q*k-sized tables only — ncell argmax partial
    # agg, qc centroid-rank window, cumulative-count agg, grid join;
    # crossJoins are broadcast nested-loop against <=C-row sides
    # (no_smj=False: BNLJ counts in the smj bucket)
    ("ivf_nprobe_tuning", 6, 0, False),
    # r17 semantic decontamination: broadcast eval side, scored pairs
    # reduced map-side — the ONE exchange is the per-doc argmax
    # partial agg (never the n*m pair set), no window over pairs.
    # no_smj=False: the keyless broadcast crossJoin compiles to
    # BroadcastNestedLoopJoin (the intended physical op — the audit
    # lumps BNLJ with SMJ); the broadcast exchange is asserted below
    ("semantic_decontaminate", 1, 0, False),
]


@pytest.mark.parametrize(
    "name,max_exchanges,max_python,no_smj",
    BUDGETS,
    ids=[b[0] for b in BUDGETS],
)
def test_plan_budget(spark, name, max_exchanges, max_python, no_smj):
    a = _audit(spark, name)
    assert a["exchange"] <= max_exchanges, (
        f"{name}: {a['exchange']} exchanges > budget {max_exchanges} — "
        f"a shuffle crept into the plan ({a})"
    )
    assert a["python"] <= max_python, (
        f"{name}: Python boundary count {a['python']} > {max_python} ({a})"
    )
    if no_smj:
        assert a["smj"] == 0, (
            f"{name}: sort-merge/nested-loop join appeared — a broadcast "
            f"was lost ({a})"
        )


def test_semantic_decontaminate_broadcasts_eval(spark):
    """The r17 semantic-decon contract: the eval side rides a
    broadcast exchange (bexchange >= 1) into a BroadcastNestedLoopJoin
    — if the cross join ever degrades to a non-broadcast cartesian the
    n*m pair set would shuffle, which at 100 TB is fatal."""
    a = _audit(spark, "semantic_decontaminate")
    assert a["bexchange"] >= 1, f"eval-side broadcast lost ({a})"
    assert a["exchange"] <= 1, f"pair set leaked into an exchange ({a})"


def test_quantized_topk_vectors_never_shuffle(spark):
    """The round-6 rewrite's contract: the top-m window sees only
    (ids, score) — no HASH exchange may carry a vector column. Since
    the r17 starved-scan spread, the plan may ALSO contain conditional
    RoundRobin repartitions at the scan root (plan-time no-ops on
    splittable inputs, so they never move vectors on the 100 TB path);
    those are exempt here, every data-moving hash exchange is not.
    Plus the original cheap proxies: bounded exchange count and at
    least one broadcast join."""
    import re

    df = entrymod.queries()["embedding_quantized_topk"](spark, SF_DIR)
    a = audit(df)
    # 2 window exchanges + up to 4 plan copies of the conditional
    # scan-spread RoundRobin (2 per side; reused at execution)
    assert a["exchange"] <= 6, a
    assert a["bexchange"] >= 1, a
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # formatted blocks: "(n) Exchange\nInput [k]: [cols]\nArguments: ..."
    for m in re.finditer(
        r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]\nArguments: (\S+)",
        plan,
    ):
        cols, args = m.group(1), m.group(2)
        if args.startswith("hashpartitioning"):
            assert not re.search(r"__[cq]v#|embedding#", cols), (
                f"vector column rides a hash exchange: {cols} / {args}"
            )


def test_decontamination_probe_stays_broadcast(spark):
    """The decontamination family's load-bearing invariant after the
    r14 staged-once digest + single-aggregation changes: the corpus
    gram stream must still probe a BROADCAST of the benchmark digests
    (bexchange >= 1); the flag path has NO join besides that probe
    (smj == 0 — the fill-in join was removed in r14), and the cut
    path's only sort-merge is the span join-back onto the
    checkpoint-partitioned base (smj <= 1, span side shuffles only).
    A second SMJ or a vanished broadcast means the probe join itself
    degraded."""
    flag = _audit(spark, "exactsubstr_decontaminate")
    assert flag["bexchange"] >= 1, f"probe broadcast lost ({flag})"
    assert flag["smj"] == 0, f"flag path grew a join ({flag})"
    cut = _audit(spark, "decontaminate_cut")
    assert cut["bexchange"] >= 1, f"probe broadcast lost ({cut})"
    assert cut["smj"] <= 1, f"extra sort-merge join ({cut})"


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """The 100 TB co-location story: two tables bucketed+sorted on the
    join key join with ZERO exchanges (and zero extra sorts) — the
    write-once-shuffle-never layout for repeated fact-to-fact joins.
    Asserted on the physical plan of the bucketed join."""
    # managed tables land in the session's default warehouse (static
    # conf — cannot be redirected per-test); dropped in the finally
    li = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
    )
    orders = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .select("o_orderkey", "o_custkey")
    )
    for df, name, key in (
        (li, "t_li_bucketed", "l_orderkey"),
        (orders, "t_ord_bucketed", "o_orderkey"),
    ):
        (
            df.write.mode("overwrite")
            .bucketBy(8, key)
            .sortBy(key)
            .format("parquet")
            .saveAsTable(name)
        )
    try:
        # force the merge strategy: at sf0.001 the sides fit the
        # broadcast threshold, which would hide the bucketing property
        joined = spark.table("t_li_bucketed").hint("merge").join(
            spark.table("t_ord_bucketed"),
            spark.table("t_li_bucketed")["l_orderkey"]
            == spark.table("t_ord_bucketed")["o_orderkey"],
        )
        a = audit(joined)
        assert a["exchange"] == 0, f"bucketed join still shuffles: {a}"
        assert a["bexchange"] == 0, f"bucketed join broadcast instead: {a}"
        assert a["smj"] >= 1, f"expected a sort-merge join: {a}"
        n = joined.count()
        assert n > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS t_li_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_ord_bucketed")


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """The other half of the 100 TB layout story (with the bucketed
    join): a date-partitioned write + a date predicate must show
    partition PRUNING at the scan — only matching directories read,
    the rest never touched."""
    out = str(tmp_path / "events_by_day")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").withColumn(
        "day", __import__("pyspark.sql.functions", fromlist=["F"]).date_format(
            "ts", "yyyy-MM-dd"
        )
    )
    ev.write.mode("overwrite").partitionBy("day").parquet(out)
    n_days = ev.select("day").distinct().count()
    pruned = spark.read.parquet(out).filter("day = '2024-01-03'")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day" in plan and "day" in plan, plan[:500]
    assert "(day#" in plan.split("PartitionFilters:", 1)[1][:200], (
        "day predicate not pushed to partition pruning"
    )
    # and the pruned read really returns only that day
    import pyspark.sql.functions as SF

    full = spark.read.parquet(out)
    expect = full.filter(SF.col("day") == "2024-01-03").count()
    assert n_days > 1 and pruned.count() == expect
