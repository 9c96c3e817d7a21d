"""Materialization boundary for iterative / multi-consumer plans.

Every iterative operator in this package (PageRank, connected
components, k-core, transitive closure, EM fits, BPE training,
sorted-neighborhood ER) needs to cut lineage each round — otherwise
the lazy plan doubles per iteration — and every multi-consumer
staging table needs to be computed once, not once per consumer.

``localCheckpoint`` is the right primitive on a single machine (no
external storage, blocks free on GC) but it trades away fault
tolerance: the materialized blocks live only in executor storage, so
on a real cluster one lost executor kills the job mid-iteration. On
1000 executors processing 100 TB, executor loss is routine, not
exceptional — the materialization primitive has to survive it.

``materialize(df)`` is the single switch point. Mode is read from the
session conf ``spark.graphkb.checkpoint.mode``:

- ``local`` (default): ``DataFrame.localCheckpoint`` — fastest, for
  single-JVM runs and tests.
- ``reliable``: ``DataFrame.checkpoint`` — writes the materialized
  RDD to ``sparkContext.setCheckpointDir`` (HDFS/S3 on a cluster),
  so recomputation after executor loss reads the checkpoint instead
  of replaying the (truncated) lineage.
- ``parquet``: write/read a parquet staging table under the same
  checkpoint dir — like ``reliable`` but columnar (smaller, readable
  by other engines, survives even driver restart for manual
  recovery). Inherently eager.

Call sites use the Spark-idiomatic chain form::

    df.groupBy(...).agg(...).transform(materialize, eager=False)

so the plan shape reads the same as the raw primitive. ``eager=False``
keeps the old lazy-localCheckpoint behavior in local mode; reliable
mode honors it via ``checkpoint(eager=...)``; parquet mode ignores it
(a parquet write cannot be lazy).

Reference behavior note: the reference engine runs single-node and
holds iteration state in process memory (e.g. the recursive ontology
traversals in src/ontology loaders); this module is the
cluster-durable equivalent of that state.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

MODE_CONF = "spark.graphkb.checkpoint.mode"
DIR_CONF = "spark.graphkb.checkpoint.dir"

_VALID_MODES = ("local", "reliable", "parquet", "none")


def checkpoint_mode(spark: SparkSession) -> str:
    """Current materialization mode for the session (default local)."""
    mode = spark.conf.get(MODE_CONF, "local")
    if mode not in _VALID_MODES:
        raise ValueError(
            f"{MODE_CONF}={mode!r}: expected one of {_VALID_MODES}"
        )
    return mode


def enable_reliable_checkpoints(
    spark: SparkSession, checkpoint_dir: str, mode: str = "reliable"
) -> None:
    """Switch every materialize() site in the session to fault-tolerant
    checkpointing rooted at ``checkpoint_dir`` (an HDFS/S3 path on a
    real cluster). ``mode`` may be ``reliable`` (RDD checkpoint files)
    or ``parquet`` (columnar staging tables)."""
    if mode not in ("reliable", "parquet"):
        raise ValueError("mode must be 'reliable' or 'parquet'")
    spark.sparkContext.setCheckpointDir(checkpoint_dir)
    spark.conf.set(DIR_CONF, checkpoint_dir)
    spark.conf.set(MODE_CONF, mode)


def disable_reliable_checkpoints(spark: SparkSession) -> None:
    """Back to single-machine localCheckpoint materialization."""
    spark.conf.set(MODE_CONF, "local")


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut lineage and pin ``df``'s current result, honoring the
    session's fault-tolerance mode (see module docstring). Returns a
    DataFrame whose plan is a scan of the materialized result.

    ``eager`` is honored in ``local`` and ``reliable`` modes (the
    checkpoint defers to the first action). In ``parquet`` mode it is
    NECESSARILY ignored: the returned plan is a scan of the staging
    table, which must exist before the scan can be planned, so the
    write runs at construction time — plan-only callers that pass
    ``eager=False`` (e.g. ``benchmark_leak_report``'s explicit
    broadcast branches) still trigger a full Spark job under
    parquet-mode ``enable_reliable_checkpoints`` (ADVICE r15,
    documented exception)."""
    spark = df.sparkSession
    mode = checkpoint_mode(spark)
    if mode == "none":
        # Plan-inspection escape hatch (tools/dump_plans.py --nockpt):
        # a checkpoint truncates .explain() at `Scan ExistingRDD`, so
        # dumping the full optimized shape needs the boundary gone.
        # NEVER set this mode for execution — iterative operators rely
        # on materialize() to cut lineage and to compute multi-consumer
        # stages once; without it their plans double per round. Worse,
        # materialize() is also a correctness pin: executing in this
        # mode can return WRONG results, not just larger plans.
        # sorted_neighborhood_pairs relies on it to freeze the sampled
        # repartitionByRange boundaries, so every plan branch sees the
        # same bucket ids; re-evaluated per branch, the sample can
        # differ and pairs are silently lost or invented.
        return df
    if mode == "reliable":
        return df.checkpoint(eager=eager)
    if mode == "parquet":
        root = spark.conf.get(DIR_CONF, None)
        if not root:
            raise ValueError(
                f"parquet checkpoint mode needs {DIR_CONF} "
                "(call enable_reliable_checkpoints)"
            )
        path = f"{root.rstrip('/')}/stage-{uuid.uuid4().hex}"
        df.write.mode("error").parquet(path)
        return spark.read.parquet(path)
    return df.localCheckpoint(eager=eager)


def clear_parquet_staging(spark: SparkSession) -> int:
    """Delete all ``stage-*`` directories under the checkpoint dir.

    Parquet-mode staging tables are intentionally never deleted while
    a job runs (open plans still scan them; surviving a driver restart
    for manual recovery is the point of the mode). Call this BETWEEN
    jobs — the same lifecycle as Spark's own cleaned-on-exit RDD
    checkpoint files. Returns the number of stage dirs removed; uses
    the JVM's Hadoop FileSystem so it works for hdfs://, s3a://, and
    local paths alike."""
    root = spark.conf.get(DIR_CONF, None)
    if not root:
        return 0
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(root)
    fs = path.getFileSystem(hconf)
    if not fs.exists(path):
        return 0
    removed = 0
    for status in fs.listStatus(path):
        p = status.getPath()
        if p.getName().startswith("stage-"):
            fs.delete(p, True)
            removed += 1
    return removed
