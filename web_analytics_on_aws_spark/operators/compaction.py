"""Hourly small-file compaction — the engine-side replacement for the
MergeSmallFiles Athena-CTAS job (SURVEY §3.2; /root/reference/
web-analytics-parquet/src/main/python/MergeSmallFiles/athena_ctas.py).

Reference lifecycle (athena_ctas.py:141-170): at :10 every hour, compact hour
T−1 from the raw JSON zone into one Snappy-Parquet partition of the curated
zone via ``CREATE TABLE tmp_... WITH (external_location=..., format='PARQUET',
parquet_compression='SNAPPY') AS SELECT {cols} FROM web_log_json WHERE
year=.. AND month=.. AND day=.. AND hour=..`` (:30-38), plus ADD PARTITION
registration for a 3-hour window (:54-59) and a delayed temp-table drop.

Spark-first: no temp table, no sleeps, no fire-and-forget — one synchronous
job per hour partition:

  read raw hour dir → project columns → coalesce(k) → overwrite curated hour

Idempotency comes from dynamic partition overwrite (the reference fakes it
with its drop-then-recreate dance — SURVEY §3.2 note). At 100 TB the job is
embarrassingly parallel per hour and the coalesce target is sized from the
input bytes so output files land near the 128 MB Firehose buffer size the
reference tunes for (BASELINE.md).
"""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from web_analytics_on_aws_spark.schema import PARTITION_COLUMNS

TARGET_FILE_BYTES = 128 * 1024 * 1024  # reference Firehose buffer (BASELINE.md)


def hour_path(base: str, when: dt.datetime) -> str:
    """Hive layout with zero-padded directory names — matching the Firehose
    prefix shape (month=01), while partition *values* stay ints (the
    reference's same padded-path/unpadded-value duality, athena_ctas.py:41-76)."""
    return (
        f"{base}/year={when.year}/month={when.month:02d}/"
        f"day={when.day:02d}/hour={when.hour:02d}"
    )


def compact_hour(
    spark: SparkSession,
    raw_base: str,
    curated_base: str,
    when: dt.datetime,
    wire_schema: StructType,
    columns: list[str] | None = None,
    target_file_bytes: int = TARGET_FILE_BYTES,
) -> int:
    """Compact one arrival-hour partition of JSON-lines into Snappy parquet.

    Returns the row count written. Declared schema, never inferred
    (SURVEY §1.5); ``columns`` reproduces the CTAS configurable projection
    (athena_ctas.py:35, default = all data columns).
    """
    src = hour_path(raw_base, when)
    df = spark.read.schema(wire_schema).json(src)
    if columns:
        df = df.select(*columns)

    # Size the output files from the input: JSON→parquet+snappy shrinks ~5×;
    # aim for files near the reference's 128 MB flush size.
    try:
        import pyspark.sql.functions as _F

        in_bytes = (
            spark.read.format("binaryFile").load(src)
            .agg(_F.sum("length"))
            .first()[0]
            or 0
        )
    except Exception:
        in_bytes = 0
    n_files = max(1, int(in_bytes / 5 / target_file_bytes))

    out = hour_path(curated_base, when)
    df.coalesce(n_files).write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).count()


def compact_previous_hour(
    spark: SparkSession,
    raw_base: str,
    curated_base: str,
    now: dt.datetime,
    wire_schema: StructType,
    **kw,
) -> int:
    """The scheduled entry point: compact hour T−1, exactly as the EventBridge
    cron target does (athena_ctas.py:142-143 computes basic_dt = T−1h)."""
    prev = (now.replace(minute=0, second=0, microsecond=0) - dt.timedelta(hours=1))
    return compact_hour(spark, raw_base, curated_base, prev, wire_schema, **kw)


def read_curated(spark: SparkSession, curated_base: str) -> DataFrame:
    """Read the curated zone with hive partition discovery — partition
    columns come back as ints, identical to the reference's
    ``web_log_parquet`` table (athena_named_query.py:70-92)."""
    df = spark.read.option("basePath", curated_base).parquet(curated_base)
    for c in PARTITION_COLUMNS:
        if c in df.columns:
            df = df.withColumn(c, F.col(c).cast("int"))
    return df


def partition_file_stats(spark: SparkSession, root: str) -> list[dict]:
    """Per-hive-partition file statistics (n_files, total/avg bytes) from a
    recursive Hadoop FileSystem listing — a metadata-only pass (the same
    listing a scan's file index does; works on local/HDFS/S3 URIs alike),
    no data read. The input to `plan_compaction`."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(root)
    fs = path.getFileSystem(conf)
    if not fs.exists(path):
        return []
    stats: dict[str, dict] = {}
    it = fs.listFiles(path, True)
    root_str = fs.makeQualified(path).toString()
    while it.hasNext():
        f = it.next()
        p = f.getPath().toString()
        if not p.endswith(".parquet"):
            continue
        part = p[len(root_str):].rsplit("/", 1)[0].strip("/")
        s = stats.setdefault(part, {"partition": part, "n_files": 0, "bytes": 0})
        s["n_files"] += 1
        s["bytes"] += f.getLen()
    return sorted(stats.values(), key=lambda s: s["partition"])


def plan_compaction(
    spark: SparkSession,
    root: str,
    min_files: int = 10,
    small_file_bytes: int = 32 * 1024 * 1024,
) -> list[dict]:
    """Partitions due for compaction: ≥ ``min_files`` files AND average file
    below ``small_file_bytes``. The incremental version of the reference's
    blanket hourly CTAS (athena_ctas.py compacts hour T−1 unconditionally;
    this compacts only where small files actually accumulated — at 100 TB
    the difference is rewriting GBs instead of re-touching every partition).
    Thresholds mirror Iceberg's `optimize_rewrite_delete_file_threshold`
    dial (web-analytics-iceberg/README.md:187)."""
    return [
        s
        for s in partition_file_stats(spark, root)
        if s["n_files"] >= min_files and s["bytes"] / s["n_files"] < small_file_bytes
    ]


def compact_partition_path(
    spark: SparkSession,
    root: str,
    partition: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite one partition directory to ~target-sized files (the
    reference's 128 MB Firehose buffer is the default target). Returns the
    output file count. The rewrite stages to a sibling temp dir and swaps
    (can't lazily read the directory being truncated); overwrite is scoped
    to the one directory."""
    import math

    path = f"{root}/{partition}"
    stats = [s for s in partition_file_stats(spark, root) if s["partition"] == partition]
    n_out = max(1, math.ceil((stats[0]["bytes"] if stats else 1) / target_file_bytes))
    tmp = f"{path}__compacting"
    spark.read.parquet(path).coalesce(n_out).write.mode("overwrite").parquet(tmp)
    _swap_dirs(tmp, path)
    return n_out


def _swap_dirs(new: str, target: str) -> None:
    import os
    import shutil
    import uuid

    if os.path.isdir(target):
        old = target.rstrip("/") + f".__old__{uuid.uuid4().hex[:8]}"
        os.rename(target, old)
        os.rename(new, target)
        shutil.rmtree(old, ignore_errors=True)
    else:
        os.rename(new, target)
