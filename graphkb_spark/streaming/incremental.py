"""Incremental / streaming operators.

The reference is batch-only; its incremental pattern is a
high-watermark window (clinicaltrials.gov ``--days N`` on
LastUpdatePostDate run from cron, upserting by sourceId with
``sourceIdVersion = lastUpdatePosted`` as the change cursor —
src/clinicaltrialsgov/index.js:301-371, package.json:58).

Spark-first equivalents:
- ``incremental_merge``: filter the source to rows past the stored
  watermark, MERGE by key keeping the newest version — idempotent, so
  re-runs/backfills are safe;
- ``sessionize``: gap-based sessionization via lag+cumsum (batch) —
  the standard Structured Streaming demo shape for the events table;
- ``streaming_windowed_counts``: a true Structured Streaming query
  (watermark + tumbling window) for late-data-tolerant counts.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graphkb_spark.core.materialize import materialize

from graphkb_spark.operators.merge import merge_upsert
from graphkb_spark.session import normalize_ntz


def _epoch_seconds(col: Column | str) -> Column:
    """Seconds-since-epoch for any timestamp flavor. TIMESTAMP_NTZ
    cannot cast straight to BIGINT in Spark 4; staging through
    timestamp_ltz (a no-op for already-LTZ columns under the UTC
    session tz) makes the epoch math type-robust."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp_ltz").cast("long")


def incremental_merge(
    target: DataFrame,
    source: DataFrame,
    on: Sequence[str],
    cursor_col: str,
    watermark,
) -> DataFrame:
    """High-watermark incremental upsert: only source rows with
    ``cursor_col > watermark`` are considered; within a key the newest
    cursor wins; unchanged rows are no-ops (change detection from
    merge_upsert)."""
    fresh = source.filter(F.col(cursor_col) > F.lit(watermark))
    w = Window.partitionBy(*[F.col(c) for c in on]).orderBy(F.col(cursor_col).desc())
    latest = fresh.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    ).drop("__rn")
    return merge_upsert(target, latest, on)


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
) -> DataFrame:
    """Gap-based sessionization: lag + cumulative sum of gap-breaks.
    One shuffle on ``user_col``; window frames stay within partitions."""
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col).asc(), F.col("event_id").asc())
    gap = _epoch_seconds(ts_col) - F.lag(_epoch_seconds(ts_col)).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    return events.withColumn("__new", is_new).withColumn(
        "session_id",
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).drop("__new")


def streaming_upsert(
    spark: SparkSession,
    events: DataFrame,
    on: Sequence[str] = ("user_id",),
    cursor_col: str = "ts",
    stage_dir: str | None = None,
    query_name: str = "stream_upsert",
) -> DataFrame:
    """§2.10 idiom end-to-end as a real Structured Streaming query:
    ``readStream`` over a parquet landing zone -> ``foreachBatch`` that
    MERGEs each micro-batch into the target state by key, newest cursor
    wins (the clinicaltrials --days cron re-expressed; in production the
    target is a Delta table and this is ``DeltaTable.merge`` inside the
    same foreachBatch).

    Returns the final target state after draining all available input.
    """
    import tempfile

    stage_dir = stage_dir or tempfile.mkdtemp(prefix=f"gks_stream_{query_name}_")
    events.write.mode("overwrite").parquet(stage_dir)

    state = {"target": None}

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy(*[F.col(c) for c in on]).orderBy(F.col(cursor_col).desc())
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if state["target"] is None:
            state["target"] = latest.transform(materialize, eager=True)
        else:
            # newest-cursor-wins across batches: micro-batch order is not
            # event order (a late file can carry older rows), so the
            # merge condition is the cursor, not mere difference
            combined = state["target"].unionByName(latest)
            w2 = Window.partitionBy(*[F.col(c) for c in on]).orderBy(
                F.col(cursor_col).desc()
            )
            state["target"] = (
                combined.withColumn("__rn", F.row_number().over(w2))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
                .transform(materialize, eager=True)
            )

    stream = spark.readStream.schema(events.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(stage_dir)
    q = stream.writeStream.foreachBatch(merge_batch).queryName(query_name).start()
    q.processAllAvailable()
    q.stop()
    return state["target"]


def streaming_windowed_counts(
    spark: SparkSession,
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    query_name: str = "event_counts",
    stage_dir: str | None = None,
):
    """Structured Streaming demo over the events table: parquet source,
    event-time tumbling window with a late-data watermark, memory sink
    driven to completion for deterministic local testing.

    ``events`` is staged to a parquet *directory* first (the file
    stream source requires a directory; the staging also normalizes
    nano-timestamps) — in production this would be the landing zone a
    collector writes into."""
    import tempfile

    stage_dir = stage_dir or tempfile.mkdtemp(prefix=f"gks_stream_{query_name}_")
    # withWatermark rejects TIMESTAMP_NTZ event-time columns; normalize
    # before staging so the re-read schema is already LTZ
    events = normalize_ntz(events)
    events.write.mode("overwrite").parquet(stage_dir)
    stream = spark.readStream.schema(events.schema).parquet(stage_dir)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(
        f"SELECT window.start AS window_start, event_type, n, total_value FROM {query_name}"
    )


def streaming_dedup(
    spark: SparkSession,
    events: DataFrame,
    key_cols: Sequence[str] = ("user_id", "event_id"),
    watermark: str = "2 hours",
    ts_col: str = "ts",
    query_name: str = "stream_dedup",
    stage_dir: str | None = None,
):
    """Streaming exact dedup within the watermark horizon
    (``dropDuplicatesWithinWatermark``) — the ingestion-side guard
    against at-least-once sources replaying rows.

    Scale shape: dedup state is BOUNDED — keys expire once the
    watermark passes them, unlike a streaming ``dropDuplicates`` whose
    state grows without limit. Replays inside the horizon (the
    realistic failure mode: a retried producer batch) collapse to one
    row; replays older than the watermark are assumed already
    compacted downstream by the batch exact-dedup pass.
    """
    import tempfile

    stage_dir = stage_dir or tempfile.mkdtemp(prefix=f"gks_stream_{query_name}_")
    events = normalize_ntz(events)
    events.write.mode("overwrite").parquet(stage_dir)
    stream = spark.readStream.schema(events.schema).parquet(stage_dir)
    deduped = stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table(query_name)


def streaming_interval_join(
    spark: SparkSession,
    events: DataFrame,
    left_type: str = "click",
    right_type: str = "purchase",
    window_minutes: int = 10,
    watermark: str = "1 hour",
    query_name: str = "stream_ij",
    stage_dir: str | None = None,
):
    """Stream-STREAM interval join: attribute each ``right_type`` event
    to the same user's ``left_type`` events in the preceding
    ``window_minutes`` (the click->purchase attribution shape; for a
    training pipeline, joining a log stream to its labels stream).

    Both sides are genuine streams with event-time watermarks; the
    range predicate bounds the join state on BOTH sides — Spark drops a
    buffered left row once the right watermark passes left.ts +
    window, so state is O(events inside the window horizon), never the
    full history. Inner join + append mode => every match is emitted
    exactly once, which makes the operator's complete output
    SQL-expressible (a plain self-join with the same time predicate)
    and hence oracle-checkable.
    """
    import tempfile

    stage_dir = stage_dir or tempfile.mkdtemp(prefix=f"gks_stream_{query_name}_")
    events = normalize_ntz(events)
    events.write.mode("overwrite").parquet(stage_dir)

    def side(tag: str, etype: str) -> DataFrame:
        s = (
            spark.readStream.schema(events.schema)
            .parquet(stage_dir)
            .filter(F.col("event_type") == etype)
            .withWatermark("ts", watermark)
        )
        return s.select(
            F.col("event_id").alias(f"{tag}_event_id"),
            F.col("user_id").alias(f"{tag}_user"),
            F.col("ts").alias(f"{tag}_ts"),
            F.col("value").alias(f"{tag}_value"),
        )

    left, right = side("l", left_type), side("r", right_type)
    joined = left.join(
        right,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {window_minutes} MINUTES")),
        "inner",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(
        f"SELECT l_event_id, r_event_id, l_user AS user_id, l_ts, r_ts, "
        f"r_value FROM {query_name}"
    )


def streaming_enrich(
    spark: SparkSession,
    events: DataFrame,
    dim: DataFrame,
    on: str,
    segment_col: str,
    window: str = "1 hour",
    query_name: str = "stream_enrich",
    stage_dir: str | None = None,
):
    """STREAM-STATIC enrichment: the event stream joins a static
    dimension (broadcast — re-read per micro-batch, so a dimension
    refresh is picked up without restarting the query) and aggregates
    per (event-time window, segment). The standard ingest-enrich-agg
    layout: the unbounded side never shuffles for the join, state is
    bounded by windows x segments, and complete-mode output makes the
    result deterministic (equal to the batch plan over the same data,
    which is exactly what the oracle asserts)."""
    import tempfile

    stage_dir = stage_dir or tempfile.mkdtemp(prefix=f"gks_stream_{query_name}_")
    events = normalize_ntz(events)
    events.write.mode("overwrite").parquet(stage_dir)
    stream = spark.readStream.schema(events.schema).parquet(stage_dir)
    enriched = stream.join(F.broadcast(dim), on)
    agg = (
        enriched.groupBy(F.window("ts", window), F.col(segment_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(
        f"SELECT window.start AS window_start, {segment_col}, n, total_value "
        f"FROM {query_name}"
    )


def streaming_windowed_topk(
    spark: SparkSession,
    events: DataFrame,
    group_col: str = "event_type",
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    k: int = 3,
    query_name: str = "stream_topk",
    stage_dir: str | None = None,
):
    """Streaming trending-items: tumbling event-time windows with a
    late-data watermark count each group, and the top ``k`` per closed
    window are ranked — the "what's hot this hour" feed. Returns
    (window_start, group, n, rank), rank <= k, ties to the smaller
    group value.

    Scale shape: the windowed count is the STREAM's stateful operator
    (state bounded by watermark expiry; append mode emits only closed
    windows). The top-k rank runs as a tiny batch window over the
    emitted per-window aggregates — cardinality = windows x groups,
    never the event stream — so no per-event ranking state exists
    anywhere."""
    import tempfile

    stage_dir = stage_dir or tempfile.mkdtemp(prefix=f"gks_stream_{query_name}_")
    events = normalize_ntz(events)
    events.write.mode("overwrite").parquet(stage_dir)
    stream = spark.readStream.schema(events.schema).parquet(stage_dir)
    counted = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col(group_col))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        counted.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    agg = spark.table(query_name)
    w = Window.partitionBy("window").orderBy(
        F.col("n").desc(), F.col(group_col).asc()
    )
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            F.col(group_col),
            F.col("n"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def streaming_hopping_counts(
    spark: SparkSession,
    events: DataFrame,
    group_col: str = "event_type",
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
    query_name: str = "stream_hopping",
    stage_dir: str | None = None,
):
    """Hopping (sliding) event-time windows: each event lands in
    window/slide overlapping windows (2 here), counted per group with
    late-data tolerance — the smoothing variant of the tumbling count
    when a dashboard wants hourly totals refreshed every half hour.

    Scale shape: the overlap factor multiplies STATE, not input — the
    stream is scanned once and each row updates window/slide window
    states; watermark expiry bounds the state exactly as in the
    tumbling case."""
    import tempfile

    stage_dir = stage_dir or tempfile.mkdtemp(prefix=f"gks_stream_{query_name}_")
    events = normalize_ntz(events)
    events.write.mode("overwrite").parquet(stage_dir)
    stream = spark.readStream.schema(events.schema).parquet(stage_dir)
    counted = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window, slide), F.col(group_col))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        counted.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table(query_name).select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        F.col(group_col),
        F.col("n"),
    )


def streaming_upsert_foreachbatch(
    spark: SparkSession,
    mutations: DataFrame,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    seq_col: str = "event_id",
    attr_cols: Sequence[str] = ("event_type", "value"),
    query_name: str = "stream_upsert",
    stage_dir: str | None = None,
):
    """Streaming MERGE: a mutation stream applied to a keyed snapshot
    via ``foreachBatch`` — every micro-batch reduces to its latest row
    per key, then upserts into the target state (the pattern behind
    every streaming-into-Delta/Iceberg MERGE pipeline; here the target
    is an in-memory keyed snapshot for testability). Returns the final
    snapshot: one row per key carrying the latest attrs by (ts,
    arrival).

    Scale shape: per batch, ONE keyed window over the batch (latest
    per key) + one keyed outer-merge against the snapshot — the
    incremental-merge shape; history is never rescanned. The snapshot
    is checkpointed per batch to truncate lineage across batches."""
    import tempfile

    stage_dir = stage_dir or tempfile.mkdtemp(prefix=f"gks_stream_{query_name}_")
    mutations = normalize_ntz(mutations)
    # key-partitioned staging: a key's history lives in ONE file, so
    # every (ts, seq) tie is resolved inside a single batch's window
    # and the final snapshot is independent of batch arrival order
    mutations.repartition(4, *[F.col(k) for k in key_cols]).write.mode(
        "overwrite"
    ).parquet(stage_dir)
    stream = (
        spark.readStream.schema(mutations.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
    )
    state = {"df": None}
    all_cols = list(key_cols) + [ts_col, seq_col] + list(attr_cols)

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy(*key_cols).orderBy(
            F.col(ts_col).desc(), F.col(seq_col).desc()
        )
        latest = (
            batch.select(*all_cols)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if state["df"] is None:
            state["df"] = latest.transform(materialize)
            return
        tgt = state["df"]
        # keep target rows not superseded, add the batch's latest rows
        # that win on ts (ties: the newer batch wins)
        joined = tgt.alias("t").join(
            latest.alias("s"), list(key_cols), "full_outer"
        )
        take_src = F.col(f"s.{ts_col}").isNotNull() & (
            F.col(f"t.{ts_col}").isNull()
            | (F.col(f"s.{ts_col}") >= F.col(f"t.{ts_col}"))
        )
        merged = joined.select(
            *[
                F.coalesce(F.col(f"s.{k}"), F.col(f"t.{k}")).alias(k)
                for k in key_cols
            ],
            *[
                F.when(take_src, F.col(f"s.{c}"))
                .otherwise(F.col(f"t.{c}"))
                .alias(c)
                for c in [ts_col, seq_col, *attr_cols]
            ],
        )
        state["df"] = merged.transform(materialize)

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return state["df"]


def _replay_id_ordered(
    spark: SparkSession,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_batches: int,
    query_name: str,
    stage_dir: str | None,
    apply_batch: Callable[[DataFrame, int], None],
) -> None:
    """The batch-ARRIVAL SIMULATOR of the document-stream operators
    below, not part of any operator's dataflow: stage ``docs`` as
    (__did, __text) into ``n_batches`` id-ordered ntile range files
    with ascending mtimes, then run ``apply_batch`` over a file stream
    that reads one file per trigger — in mtime order, i.e. id order —
    until every batch is processed."""
    import os
    import tempfile

    stage_dir = stage_dir or tempfile.mkdtemp(prefix=f"gks_{query_name}_")
    docs = normalize_ntz(docs).select(
        F.col(id_col).alias("__did"), F.col(text_col).alias("__text")
    )
    w = Window.partitionBy(F.lit(1)).orderBy(F.col("__did").asc())
    staged = docs.withColumn("__bk", F.ntile(n_batches).over(w))
    for b in range(1, n_batches + 1):
        part_dir = os.path.join(stage_dir, f"b{b:04d}")
        staged.filter(F.col("__bk") == b).drop("__bk").coalesce(1).write.mode(
            "overwrite"
        ).parquet(part_dir)
    for b in range(1, n_batches + 1):
        d = os.path.join(stage_dir, f"b{b:04d}")
        fs = [f for f in os.listdir(d) if f.endswith(".parquet")]
        src = os.path.join(d, fs[0])
        dst = os.path.join(stage_dir, f"batch-{b:04d}.parquet")
        os.replace(src, dst)
        os.utime(dst, (1_000_000 + b, 1_000_000 + b))
    schema = spark.read.parquet(os.path.join(stage_dir, "batch-0001.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage_dir, "batch-*.parquet"))
    )
    q = stream.writeStream.foreachBatch(apply_batch).queryName(query_name).start()
    q.processAllAvailable()
    q.stop()


def streaming_minhash_dedup(
    spark: SparkSession,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.6,
    hasher: str = "md5",
    n_batches: int = 4,
    query_name: str = "stream_minhash_dedup",
    stage_dir: str | None = None,
) -> DataFrame:
    """Streaming near-duplicate suppression — the incremental-corpus-
    ingestion pattern of an LLM data pipeline: documents arrive in
    micro-batches; each batch is MinHash-banded, band-joined against
    the ACCUMULATED band state (plus itself), exact-verified on the
    hashed shingle sets, and every document's bands are appended to
    state whether it survived or not. A document is suppressed iff
    some earlier-arriving (or same-batch lower-id) document is a
    verified near-dup — with id-ordered arrival this equals the static
    keep-lowest-id rule, so the WHOLE streaming pipeline is verified
    against the batch ``minhash_lsh`` oracle. Returns one row per
    document: (id, keep).

    Scale shape per batch: the band join is an equi-join on
    (band, bhash) between the batch's bands (small) and the state
    table (corpus-sized but keyed — at cluster scale a bucketed
    staging table, here materialize()); shingle arrays never ride the
    band exchange (the ``_minhash_state`` contract); state grows
    linearly with corpus (bands + hashed shingle sets — the same
    footprint the batch join materializes). ``_replay_id_ordered`` is
    the batch-arrival simulator for a file stream, not part of the
    operator's dataflow."""
    from graphkb_spark.operators.dedup import _minhash_state

    state: dict[str, DataFrame | None] = {"bands": None, "sh": None, "out": None}

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        base, banded = _minhash_state(
            batch, "__text", "__did", num_hashes, bands, shingle_n, hasher
        )
        sh = base.select(F.col("__id"), F.col("__sh"))
        # within-batch candidates: lower id suppresses higher
        cand = (
            banded.select("band", "bhash", F.col("__id").alias("id_a"))
            .join(
                banded.select("band", "bhash", F.col("__id").alias("id_b")),
                ["band", "bhash"],
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        sh_a = sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a"))
        if state["bands"] is not None:
            # cross-batch: every state doc arrived earlier (id-ordered
            # ranges), so it is the suppressing side unconditionally
            cand_x = (
                state["bands"]
                .select("band", "bhash", F.col("__id").alias("id_a"))
                .join(
                    banded.select("band", "bhash", F.col("__id").alias("id_b")),
                    ["band", "bhash"],
                )
                .select("id_a", "id_b")
            )
            cand = cand.unionByName(cand_x)
            sh_a = sh_a.unionByName(
                state["sh"].select(
                    F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a")
                )
            )
        pairs = cand.dropDuplicates(["id_a", "id_b"])
        # arithmetic union on the distinct hashed sets — identical
        # Jaccard for one set-op per pair instead of two (opt r18, see
        # minhash_lsh_pairs)
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        verified = (
            pairs.join(sh_a, "id_a")
            .join(
                sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b")),
                "id_b",
            )
            .filter(
                inter / (F.size("sh_a") + F.size("sh_b") - inter)
                >= jaccard_threshold
            )
            .select("id_b")
            .distinct()
        )
        out = base.join(
            verified, base["__id"] == verified["id_b"], "left"
        ).select(
            F.col("__id").alias(id_col),
            F.col("id_b").isNull().alias("keep"),
        )
        # accumulate: ALL docs' bands/shingles enter state (a suppressed
        # doc still suppresses later twins — the pairwise lower-id rule)
        state["bands"] = (
            banded
            if state["bands"] is None
            else state["bands"].unionByName(banded)
        ).transform(materialize)
        state["sh"] = (
            sh if state["sh"] is None else state["sh"].unionByName(sh)
        ).transform(materialize)
        state["out"] = (
            out if state["out"] is None else state["out"].unionByName(out)
        ).transform(materialize)

    _replay_id_ordered(
        spark, docs, id_col, text_col, n_batches, query_name, stage_dir,
        apply_batch,
    )
    return state["out"]


def streaming_decontaminate(
    spark: SparkSession,
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_hits: int = 1,
    n_batches: int = 4,
    broadcast_max_digests: int = 4_000_000,
    query_name: str = "stream_decontaminate",
    stage_dir: str | None = None,
) -> DataFrame:
    """Streaming ingestion-side benchmark decontamination — the
    cleaning gate of an incremental LLM data pipeline: documents
    arrive in micro-batches and each batch is k-gram digested and
    probed against the STATIC evaluation-set digest table before
    anything lands in the lake. Returns one row per document:
    (id, n_grams, k_gram_hits, contaminated) — byte-identical to the
    batch ``exact_substring_contamination`` over the same corpus.

    N=1 call of ``streaming_multi_decontaminate`` (scale shape and the
    no-cross-batch-state argument are documented there)."""
    from graphkb_spark.operators.dedup import _ONE_SET, _one_set

    return streaming_multi_decontaminate(
        spark, docs, _one_set(benchmark), _ONE_SET, id_col, text_col, k,
        min_hits, n_batches, broadcast_max_digests, query_name, stage_dir,
    ).select(id_col, "n_grams", "k_gram_hits", "contaminated")


def streaming_multi_decontaminate(
    spark: SparkSession,
    docs: DataFrame,
    benchmarks: DataFrame,
    set_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_hits: int = 1,
    n_batches: int = 4,
    broadcast_max_digests: int = 4_000_000,
    query_name: str = "stream_multi_decontaminate",
    stage_dir: str | None = None,
) -> DataFrame:
    """Streaming SUITE-level decontamination gate (r15): documents
    arrive in micro-batches and each batch is probed against the
    STATIC union of N labeled evaluation sets' k-gram digest tables,
    flagging each doc AND attributing its leaks per benchmark before
    anything lands in the lake — the production shape where one
    ingestion gate serves every eval set at once. Returns one row per
    document: (id, n_grams, k_gram_hits, contaminated, n_leak_sets,
    leak_attribution) — byte-identical to the batch
    ``multi_benchmark_contamination`` over the same corpus, because
    every column is a per-document property (each doc arrives whole
    in one micro-batch) and the operator keeps NO cross-batch state:
    the state store is never touched, exactly-once per document is
    trivial, restarts are free.

    Scale shape: the (set, digest) table is built, size-checked (the
    family's auto-broadcast contract) and materialized ONCE before
    the stream starts, so micro-batches share the computed digest
    table instead of re-tokenizing the benchmarks per trigger; per
    batch the gram stream probes that staged table (broadcast under
    ``broadcast_max_digests``, AQE-planned above) and never shuffles,
    and the flag + attribution come out of the shared probe
    (``dedup._multi_contamination_probe`` — zero joins after the
    probe). ``_replay_id_ordered`` is the batch-arrival simulator for
    a file stream, not part of the operator's dataflow."""
    from graphkb_spark.operators.dedup import (
        _gram_digests,
        _multi_contamination_probe,
        _resolve_broadcast,
    )

    bench_g, broadcast = _resolve_broadcast(
        _gram_digests(
            benchmarks, text_col, k, F.col(set_col).cast("string").alias("__s")
        ),
        "auto",
        broadcast_max_digests,
    )

    state: dict[str, DataFrame | None] = {"out": None}

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        flags = _multi_contamination_probe(
            batch, bench_g, "__text", "__did", k, min_hits, broadcast
        ).withColumnRenamed("__did", id_col)
        state["out"] = (
            flags
            if state["out"] is None
            else state["out"].unionByName(flags)
        ).transform(materialize)

    _replay_id_ordered(
        spark, docs, id_col, text_col, n_batches, query_name, stage_dir,
        apply_batch,
    )
    return state["out"]
