"""Streaming → ACID snapshot table: exactly-once micro-batch commits.

The reference's iceberg variants get exactly-once from Firehose committing
each buffered batch into an Iceberg table — appends without unique keys,
upserts with them (SURVEY §2.1 S9, §3.1 iceberg delta, §2.7 T4/T5). This
sink reproduces the guarantee on the jar-free snapshot format
(sources/snapshots.py): ``foreachBatch`` hands each validated micro-batch
to ``operators.upsert.merge_snapshot`` stamped with ``(app_id,
batch_id)``, and every commit refuses batches at-or-below the app's last
committed id — so a replayed micro-batch (checkpoint rollback,
at-least-once redelivery) is a durable no-op, not a duplicate.

The result composes with the rest of the snapshot surface: time travel sees
each micro-batch as one version, `snapshot_changelog` (CDC) diffs them,
`delete_where` applies retention on top, `vacuum` ages old versions out.

Scale: one manifest write per micro-batch; the dedup check reads manifests
newest-first and stops at the first stamp from this app — O(1) for a steady
stream. Data files are whatever the batch writes — ``maintain_table`` and
the compaction planner (operators/compaction.py) handle small-file
pressure.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from web_analytics_on_aws_spark.operators.upsert import check_mode, merge_snapshot
from web_analytics_on_aws_spark.operators.validate import RESULT_OK
from web_analytics_on_aws_spark.schema import WEB_LOG_ICEBERG_FIELDS
from web_analytics_on_aws_spark.sources.partitioning import steady_state_writes
from web_analytics_on_aws_spark.streaming.ingest_stream import start_validated_stream


def start_snapshot_upsert(
    spark: SparkSession,
    landing_dir: str,
    table: str,
    error_path: str,
    checkpoint_dir: str,
    unique_keys: list[str] | None = None,
    app_id: str = "snapshot-upsert",
    available_now: bool = False,
    trigger_seconds: int | None = 60,
    mode: str = "cow",
) -> StreamingQuery:
    """Landing JSON-lines → validate (iceberg dialect) → one atomic
    EXACTLY-ONCE commit per micro-batch into the snapshot table at
    ``table``; invalid records quarantine to ``error_path`` (record
    granularity, T3).

    The reference's Firehose→Iceberg configuration switch (T4,
    firehose_to_iceberg_transformer.py:114-138): ``unique_keys=None``
    appends every valid record; with keys, each batch is upserted
    (last write wins within the batch) through ``merge_snapshot`` — the
    snapshot format's CoW MERGE, or with ``mode="mor"`` one commit of an
    equality-delete sidecar plus the batch's rows (Iceberg v2 / Flink
    upsert writer shape): zero read, zero rewrite per batch, which keeps a
    60 s-trigger upsert stream O(|batch|) however large the table grows.
    Schedule ``compact_deletes`` to fold sidecars back in."""
    check_mode(mode)
    data_cols = [n for n, _ in WEB_LOG_ICEBERG_FIELDS]

    def handle_batch(validated: DataFrame, batch_id: int) -> None:
        invalid = validated.filter(F.col("result") != RESULT_OK).select("value")
        if invalid.limit(1).count() > 0:
            from web_analytics_on_aws_spark.operators.ingest import (
                with_ingest_partitions,
            )

            # batch-keyed subdir + overwrite → a replayed micro-batch
            # (checkpoint rollback) REPLACES its own quarantine output
            # instead of appending duplicates; the error zone inherits
            # the data zone's exactly-once property without txn state.
            (
                with_ingest_partitions(invalid)
                .write.mode("overwrite")
                .partitionBy("year", "month", "day", "hour")
                .format("text")
                .save(os.path.join(error_path, f"batch={batch_id}"))
            )
        typed = validated.filter(F.col("result") == RESULT_OK).select(*data_cols)
        # steady-state scope: once batches prove self-similar, the
        # partitioned write sizes its exchange from the write-bytes EMA
        # instead of running a per-trigger sizing job (VERDICT r7 #4)
        with steady_state_writes(table):
            merge_snapshot(
                spark, typed, table, unique_keys, mode=mode,
                txn=(app_id, batch_id),
            )

    return start_validated_stream(
        spark, landing_dir, checkpoint_dir, "iceberg", handle_batch,
        available_now=available_now, trigger_seconds=trigger_seconds,
    )
