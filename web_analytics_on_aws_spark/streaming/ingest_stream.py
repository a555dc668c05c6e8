"""Structured Streaming ingest — the engine-side replacement for the
API GW → Kinesis → Firehose → Lambda chain (SURVEY §3.1, §2.7 T1-T3).

Mapping (SURVEY §2.1):

- S1/S2 HTTP ingest → producers append JSON-lines files to a **landing
  directory** (or a Kafka topic in production; the file source keeps this
  repo self-contained). The landing dir *is* the durable buffer (S5).
- S6 shard scan → ``readStream`` file source; ``maxFilesPerTrigger`` ≅ the
  consumer's ``get_records(Limit=...)`` fetch size.
- T1 micro-batch trigger → ``trigger(processingTime='60 seconds')`` (the
  iceberg variant's 60 s flush, firehose_to_iceberg.py:102-105); tests use
  ``availableNow`` for determinism.
- T2/T3 per-batch transform & routing → ``foreachBatch`` running the
  validation operator and the split writer; Spark task retries + the
  checkpoint give the redelivery semantics Firehose gets from
  ``NumberOfRetries`` (firehose.py:131-133).
- A2 metrics → ``observe`` on the validated stream.

Exactly-once story: the file-source checkpoint records which input files
each batch consumed; ``write_split`` overwrites per (batch, partition), so a
re-run of a failed batch converges (idempotent) — reproducing Firehose's
at-least-once delivery + downstream dedup posture.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from web_analytics_on_aws_spark.operators.ingest import write_split
from web_analytics_on_aws_spark.operators.validate import validate


def read_landing_stream(
    spark: SparkSession,
    landing_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream raw JSON lines from the landing zone as a single `value`
    column — framing only, no parsing (P4 is a no-op for a line source)."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(landing_dir)


def start_validated_stream(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    dialect: str,
    handle_batch: Callable[[DataFrame, int], None],
    available_now: bool = False,
    trigger_seconds: int | None = 60,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """The skeleton every landing-zone sink shares: each micro-batch of
    landing lines is validated in ``dialect``, persisted for the
    handler's several passes, handed to ``handle_batch(validated,
    batch_id)`` and unpersisted. Trigger: ``available_now`` drains what
    has landed and stops, else every ``trigger_seconds``."""
    lines = read_landing_stream(spark, landing_dir, max_files_per_trigger)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        validated = validate(batch_df, value_col="value", dialect=dialect)
        validated.persist()
        try:
            handle_batch(validated, batch_id)
        finally:
            validated.unpersist()

    writer = lines.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def start_ingest(
    spark: SparkSession,
    landing_dir: str,
    raw_path: str,
    error_path: str,
    checkpoint_dir: str,
    dialect: str = "parquet",
    trigger_seconds: int | None = 60,
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
    metrics_path: str | None = None,
) -> StreamingQuery:
    """Start the validated ingest stream (landing → raw/error zones).

    ``metrics_path``: optional dir receiving one JSON line per micro-batch
    with the Counter(total, valid, invalid) tally — parity with the
    validator Lambda's per-batch log line (A2, schema_validator.py:145).
    """

    def handle_batch(validated: DataFrame, batch_id: int) -> None:
        write_split(validated, raw_path, error_path)
        if metrics_path:
            import json
            import os

            from web_analytics_on_aws_spark.operators.validate import (
                validity_metrics,
            )

            m = validity_metrics(validated).first()
            os.makedirs(metrics_path, exist_ok=True)
            with open(os.path.join(metrics_path, f"batch-{batch_id}.json"), "w") as f:
                f.write(
                    json.dumps(
                        {
                            "batch_id": batch_id,
                            "total": m["total"],
                            "valid": m["valid"],
                            "invalid": m["invalid"],
                        }
                    )
                    + "\n"
                )

    return start_validated_stream(
        spark, landing_dir, checkpoint_dir, dialect, handle_batch,
        available_now=available_now, trigger_seconds=trigger_seconds,
        max_files_per_trigger=max_files_per_trigger,
    )


def run_ingest_once(
    spark: SparkSession,
    landing_dir: str,
    raw_path: str,
    error_path: str,
    checkpoint_dir: str,
    dialect: str = "parquet",
    metrics_path: str | None = None,
) -> None:
    """Drain everything currently in the landing zone and stop — the
    deterministic test/replay entry point (Trigger.AvailableNow)."""
    q = start_ingest(
        spark,
        landing_dir,
        raw_path,
        error_path,
        checkpoint_dir,
        dialect=dialect,
        available_now=True,
        metrics_path=metrics_path,
    )
    q.awaitTermination()


def cleanup_landing(
    landing_dir: str,
    older_than_hours: float = 24.0,
    now: float | None = None,
) -> int:
    """Retention enforcement for the landing zone — the maintenance job the
    reference gets from Kinesis' 24 h stream retention
    (web-analytics-parquet/cdk_stacks/kds.py:28-31): landing files older
    than ``older_than_hours`` are deleted; everything else (including the
    separate raw/error zones — retention applies to the BUFFER, never the
    quarantine) is untouched. Safe to run any time after the stream's
    checkpoint has consumed the files: the file-source checkpoint tracks
    processed paths by name, so removing aged inputs never re-triggers or
    loses data. Returns the number of files deleted.

    Scale: one directory walk, metadata-only — schedule it like the
    compaction tick (T6)."""
    import os
    import time

    cutoff = (now if now is not None else time.time()) - older_than_hours * 3600.0
    deleted = 0
    for root, _dirs, files in os.walk(landing_dir):
        for name in files:
            p = os.path.join(root, name)
            try:
                if os.path.getmtime(p) < cutoff:
                    os.remove(p)
                    deleted += 1
            except FileNotFoundError:
                continue  # concurrent cleaner — already gone
    return deleted


def replay_errors(
    spark: SparkSession,
    error_path: str,
    raw_path: str,
    new_error_path: str,
    dialect: str = "parquet",
) -> None:
    """Re-validate the quarantine zone (e.g. after widening the schema or
    fixing the producer) and re-route: recovered records land in the raw
    zone under a fresh arrival hour, still-invalid ones re-quarantine.
    The replay equivalent of Firehose error-prefix reprocessing (S8)."""
    from web_analytics_on_aws_spark.operators.validate import validate as _validate
    from web_analytics_on_aws_spark.operators.ingest import write_split as _split

    lines = spark.read.text(error_path).select("value")
    _split(_validate(lines, dialect=dialect), raw_path, new_error_path)
