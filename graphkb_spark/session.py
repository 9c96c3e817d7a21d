"""SparkSession factory tuned for both local testing and cluster scale.

Local mode is a single JVM; on a real cluster the same configs hold:
AQE re-plans shuffles at runtime (skew-join splitting, partition
coalescing), and the broadcast threshold keeps dimension lookups
(ontology tables in the reference are <=170k rows, src/ncit) on the
map side with no shuffle.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# Directory holding the graphkb_spark package. Python workers unpickle
# module-level UDFs (pandas UDFs such as hgvs.parse_variant_udf) by
# importing the package, so it goes on their PYTHONPATH: without it a
# driver whose cwd is not the repo root fails in the workers with
# ModuleNotFoundError.
_PACKAGE_PARENT = str(Path(__file__).resolve().parent.parent)


def get_spark(app_name: str = "graphkb_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # one shuffle partition per core locally; on a cluster AQE coalesces
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # testdata parquet carries TIMESTAMP(NANOS) which vanilla Spark
        # rejects; read as long and convert in load_tables
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Opt-in fault-tolerant materialization for EVERY materialize() site
    # (iterative operators, multi-consumer staging) without code edits:
    #   GRAPHKB_CHECKPOINT_MODE=reliable|parquet  [GRAPHKB_CHECKPOINT_DIR=...]
    # On a cluster GRAPHKB_CHECKPOINT_DIR would be an HDFS/S3 path.
    ckpt_mode = os.environ.get("GRAPHKB_CHECKPOINT_MODE", "")
    if ckpt_mode:
        from graphkb_spark.core.materialize import enable_reliable_checkpoints

        ckpt_dir = os.environ.get(
            "GRAPHKB_CHECKPOINT_DIR", f"/tmp/graphkb_ckpt_{os.getpid()}"
        )
        enable_reliable_checkpoints(spark, ckpt_dir, mode=ckpt_mode)
    return spark


def _nanos_ts_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) (which Spark reads as
    long under nanosAsLong)."""
    import pyarrow.parquet as pq

    schema = pq.read_schema(path)
    out = []
    for field in schema:
        t = field.type
        if str(t).startswith("timestamp[ns"):
            out.append(field.name)
    return out


def normalize_ntz(df):
    """Cast every TIMESTAMP_NTZ column to session-local TimestampType.

    Parquet ``timestamp[us]`` (no tz) columns read as TIMESTAMP_NTZ in
    Spark 4, which rejects ``cast(ts as long)`` and ``withWatermark``.
    With the session timezone pinned to UTC the cast preserves the
    wall-clock value bit-for-bit, so downstream epoch math and
    date_format match what DuckDB computes on the same file."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for field in df.schema.fields:
        if isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp_ltz"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one testdata parquet table, restoring nano-timestamp columns
    to proper TimestampType (truncated to microseconds) and normalizing
    TIMESTAMP_NTZ columns to session-local timestamps. The conversion
    is a narrow projection — no shuffle, pushdown still applies to the
    untouched columns."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    # the driver may hand us ITS OWN SparkSession without the legacy
    # flag; it is a dynamic SQLConf, so set it here — without it any
    # TIMESTAMP(NANOS) table fails with PARQUET_TYPE_ILLEGAL
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # NTZ->LTZ below is value-preserving only under a fixed session tz;
    # pin it in case the driver's session was built without one.
    # SIDE EFFECT: this mutates the caller's session for the rest of its
    # lifetime — later NTZ<->LTZ casts and date_format calls anywhere in
    # the same session will use UTC. Warn (don't fail: the driver's
    # session must still load tables) when overriding a differing value.
    prev_tz = spark.conf.get("spark.sql.session.timeZone", None)
    if prev_tz not in (None, "UTC"):
        import warnings

        warnings.warn(
            f"load_table pins spark.sql.session.timeZone to UTC for the "
            f"whole session (was {prev_tz!r}); NTZ->LTZ casts and "
            f"date_format elsewhere in this session are affected",
            stacklevel=2,
        )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(path)
    from pyspark.sql import functions as F

    for c in _nanos_ts_columns(path):
        # integer DIV, not `/`: epoch nanos (~1.7e18) overflow a double's
        # 53-bit mantissa, so float division rounds the microsecond while
        # parquet readers (DuckDB included) truncate
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return normalize_ntz(df)


def load_tables(spark: SparkSession, sf_dir: str, *names: str):
    """Read testdata parquet tables and register them as temp views.

    Returns a dict name -> DataFrame. Parquet scans get predicate
    pushdown + column pruning from Catalyst for free.
    """
    out = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
