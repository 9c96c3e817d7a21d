"""Reliable-checkpoint abstraction: every iterative operator must
produce bit-identical results whether its per-round materialization is
localCheckpoint (single JVM), a reliable RDD checkpoint (cluster
fault-tolerant), or a parquet staging table — and the materialized
plan must actually truncate lineage in every mode."""
import pytest


@pytest.fixture(scope="module")
def spark():
    from graphkb_spark.session import get_spark

    return get_spark()


@pytest.fixture()
def reliable(spark, tmp_path):
    """Context: flip the session into a fault-tolerant mode, restore."""
    from graphkb_spark.core.materialize import (
        disable_reliable_checkpoints,
        enable_reliable_checkpoints,
    )

    def _enter(mode):
        enable_reliable_checkpoints(spark, str(tmp_path / "ckpt"), mode=mode)

    yield _enter
    disable_reliable_checkpoints(spark)


def _edges(spark):
    # two components: a 4-cycle and a 3-chain, plus an isolated self-pair
    rows = [(1, 2), (2, 3), (3, 4), (4, 1), (10, 11), (11, 12), (20, 21)]
    return spark.createDataFrame(rows, ["src", "dst"])


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("mode", ["reliable", "parquet"])
def test_iterative_operators_identical_under_reliable_modes(
    spark, reliable, mode
):
    from graphkb_spark.operators.dedup import connected_components
    from graphkb_spark.operators.graph import kcore, pagerank

    edges = _edges(spark)
    pairs = edges.toDF("id_a", "id_b")
    nodes = (
        pairs.selectExpr("id_a AS id")
        .union(pairs.selectExpr("id_b AS id"))
        .distinct()
    )
    local_cc = _rows(connected_components(pairs, nodes, max_iter=6))
    local_pr = _rows(pagerank(edges, n_iter=4))
    local_kc = _rows(kcore(edges, k=2, rounds=4))

    reliable(mode)
    assert _rows(connected_components(pairs, nodes, max_iter=6)) == local_cc
    assert _rows(pagerank(edges, n_iter=4)) == local_pr
    assert _rows(kcore(edges, k=2, rounds=4)) == local_kc


def test_transitive_closure_identical_under_reliable_mode(spark, reliable):
    from graphkb_spark.operators.graph import transitive_closure

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8)], ["src", "dst"]
    )
    local = _rows(transitive_closure(edges, rounds=4))
    reliable("reliable")
    assert _rows(transitive_closure(edges, rounds=4)) == local


def test_reliable_mode_truncates_lineage(spark, reliable):
    """The materialized plan must be a checkpoint/table scan, not the
    original join tree — that IS the lineage cut executor recovery
    replays from."""
    from graphkb_spark.core.materialize import materialize

    df = spark.range(100).toDF("id")
    other = spark.range(100).toDF("id2")
    joined = df.join(other, df.id == 99 - other.id2)

    reliable("reliable")
    plan = materialize(joined)._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan and ("Checkpoint" in plan or "LogicalRDD" in plan)

    reliable("parquet")
    from graphkb_spark.core.materialize import materialize as mat

    plan2 = mat(joined)._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan2 and "Relation" in plan2


def test_parquet_mode_requires_dir(spark):
    from graphkb_spark.core.materialize import (
        DIR_CONF,
        MODE_CONF,
        disable_reliable_checkpoints,
        materialize,
    )

    spark.conf.set(MODE_CONF, "parquet")
    spark.conf.unset(DIR_CONF)
    try:
        with pytest.raises(ValueError, match="checkpoint.dir"):
            materialize(spark.range(3).toDF("id"))
    finally:
        disable_reliable_checkpoints(spark)


def test_bad_mode_rejected(spark):
    from graphkb_spark.core.materialize import (
        MODE_CONF,
        checkpoint_mode,
        disable_reliable_checkpoints,
    )

    spark.conf.set(MODE_CONF, "bogus")
    try:
        with pytest.raises(ValueError, match="bogus"):
            checkpoint_mode(spark)
    finally:
        disable_reliable_checkpoints(spark)


def test_clear_parquet_staging(spark, tmp_path):
    from graphkb_spark.core.materialize import (
        clear_parquet_staging,
        disable_reliable_checkpoints,
        enable_reliable_checkpoints,
        materialize,
    )

    enable_reliable_checkpoints(spark, str(tmp_path / "ckpt"), mode="parquet")
    try:
        a = materialize(spark.range(10).toDF("id"))
        b = materialize(spark.range(5).toDF("id"))
        assert a.count() == 10 and b.count() == 5
        removed = clear_parquet_staging(spark)
        assert removed == 2
        assert clear_parquet_staging(spark) == 0
    finally:
        disable_reliable_checkpoints(spark)


# ------------------------------------------------------------------ #
# Streaming paths under reliable checkpoint mode (VERDICT r9 #6):     #
# the state stores + foreachBatch MERGE had only ever executed with   #
# localCheckpoint materialization. The streaming machinery itself is  #
# mode-independent; what reliable mode reroutes is every per-batch    #
# snapshot/state materialize() — so outputs must be identical.        #
# ------------------------------------------------------------------ #

def _events(spark):
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        # (user, ts-offset-minutes, event_id, type, value)
        (1, 0, 100, "a", 1.0),
        (1, 30, 101, "b", 2.0),
        (2, 5, 102, "a", 3.0),
        (2, 5, 103, "c", 4.0),   # same ts: higher event_id wins
        (3, 50, 104, "b", 5.0),
        (1, 10, 105, "c", 6.0),  # older than 101: must NOT win
    ]
    import datetime as dt

    return spark.createDataFrame(
        [(u, t0 + dt.timedelta(minutes=m), e, ty, v)
         for u, m, e, ty, v in rows],
        ["user_id", "ts", "event_id", "event_type", "value"],
    )


def test_stream_upsert_identical_under_reliable_mode(spark, reliable):
    from graphkb_spark.streaming.incremental import (
        streaming_upsert_foreachbatch,
    )

    ev = _events(spark)
    local = _rows(
        streaming_upsert_foreachbatch(
            spark, ev, query_name="rt_upsert_local"
        ).select("user_id", "ts", "event_id", "event_type", "value")
    )
    reliable("reliable")
    got = _rows(
        streaming_upsert_foreachbatch(
            spark, ev, query_name="rt_upsert_rel"
        ).select("user_id", "ts", "event_id", "event_type", "value")
    )
    assert got == local
    # sanity: latest-per-key semantics actually exercised
    assert any(r[2] == 101 for r in got)          # user 1 kept event 101
    assert not any(r[2] == 105 for r in got)      # stale update lost


def test_stream_minhash_dedup_identical_under_reliable_mode(spark, reliable):
    from graphkb_spark.streaming.incremental import streaming_minhash_dedup

    texts = [
        "the quick brown fox jumps over the lazy dog again and again",
        "the quick brown fox jumps over the lazy dog again and again!",  # near-dup of 0
        "completely different content about spark shuffle partitions",
        "the quick brown fox jumps over the lazy dog again and again",   # exact dup of 0
        "another unrelated document mentioning parquet row groups",
        "completely different content about spark shuffle partitions ok",  # near-dup of 2
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    local = _rows(
        streaming_minhash_dedup(
            spark, docs, "doc_id", "text", n_batches=3,
            query_name="rt_mhd_local",
        )
    )
    reliable("reliable")
    got = _rows(
        streaming_minhash_dedup(
            spark, docs, "doc_id", "text", n_batches=3,
            query_name="rt_mhd_rel",
        )
    )
    assert got == local
    keep = dict(got)
    assert keep[0] is True and keep[3] is False   # exact dup suppressed


def _decon_frames(spark):
    corpus = spark.createDataFrame(
        [
            (1, "prefix words the secret eval passage appears here verbatim ok"),
            (2, "the quick brown fox jumps over the lazy dog this morning"),
            (3, "completely different text about catalyst and tungsten"),
            (4, "short doc"),  # sub-k: no grams, never flagged
            (5, "the secret eval passage appears then the quick brown fox jumps over"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [
            (100, "the secret eval passage appears here verbatim and more", "a"),
            (101, "the quick brown fox jumps over the lazy dog at noon", "b"),
            (102, "tiny item", "b"),  # sub-k eval item: 0 grams
        ],
        ["doc_id", "text", "suite"],
    )
    return corpus, bench


@pytest.mark.parametrize("mode", ["reliable", "parquet"])
def test_decontamination_family_identical_under_reliable_modes(
    spark, reliable, mode
):
    """Every single-set decontamination function (an N=1 call of its
    multi-set twin, or the cut with its own plan) and every twin must
    return the local-mode rows when its staging tables are reliable
    checkpoints or eager parquet writes."""
    from graphkb_spark.operators import dedup
    from graphkb_spark.streaming.incremental import (
        streaming_decontaminate,
        streaming_multi_decontaminate,
    )

    corpus, bench = _decon_frames(spark)
    single = bench.drop("suite")
    k = 5
    batch = {
        "flag": lambda: dedup.exact_substring_contamination(
            corpus, single, "text", "doc_id", k=k),
        "report": lambda: dedup.benchmark_leak_report(
            corpus, single, "text", "doc_id", k=k),
        "spans": lambda: dedup.benchmark_leak_spans(
            corpus, single, "text", "doc_id", k=k),
        "cut": lambda: dedup.cut_contaminated_spans(
            corpus, single, "text", "doc_id", k=k),
        "multi_flag": lambda: dedup.multi_benchmark_contamination(
            corpus, bench, "text", "doc_id", "suite", k=k),
        "multi_report": lambda: dedup.multi_benchmark_leak_report(
            corpus, bench, "text", "doc_id", "suite", k=k),
        "multi_spans": lambda: dedup.multi_benchmark_leak_spans(
            corpus, bench, "text", "doc_id", "suite", k=k),
        "multi_cut": lambda: dedup.cut_multi_benchmark_spans(
            corpus, bench, "text", "doc_id", "suite", k=k),
    }

    def run_all(tag):
        out = {name: _rows(fn()) for name, fn in batch.items()}
        out["stream"] = _rows(streaming_decontaminate(
            spark, corpus, single, k=k, n_batches=2,
            query_name=f"rt_decon_{tag}"))
        out["multi_stream"] = _rows(streaming_multi_decontaminate(
            spark, corpus, bench, "suite", k=k, n_batches=2,
            query_name=f"rt_mdecon_{tag}"))
        return out

    local = run_all("local")
    reliable(mode)
    assert run_all(mode) == local
    # the corpus exercises leaks, clean docs and the sub-k doc
    flags = {r[0]: r[1:] for r in local["flag"]}
    assert flags[1][2] and flags[2][2] and not flags[3][2]
    assert flags[4] == (0, 0, False)
    assert any(r[0] == 102 and r[1] == 0 for r in local["report"])
    assert local["spans"] and local["multi_spans"]
