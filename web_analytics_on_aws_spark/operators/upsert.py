"""Keyed upsert (MERGE) over snapshot tables — the engine-side replacement
for Firehose's Iceberg ``unique_keys`` path (SURVEY §2.7 T4/T5).

Reference semantics: when ``unique_keys = ["user_id", "timestamp"]`` is
configured (web-analytics-datafirehose-iceberg/.example.cdk.context.json
:22-24), every incoming record is tagged
``operation: 'update'`` (firehose_to_iceberg_transformer.py:114-115) and
Firehose commits a MERGE into the Iceberg table: matched keys are replaced,
unmatched inserted. Without unique keys, plain append.

The engine's table format (sources/snapshots.py) has its own MERGE, so
``merge_snapshot`` is the one upsert: batch callers call it directly and
the streaming sink (streaming/snapshot_sink.py) calls it per micro-batch.
It picks the commit:

  1. keys given → last write wins within the batch (``dedup_batch`` over
     the arrival order),
  2. no keys, or no table yet → ``commit_append`` (T4's insert mode),
  3. ``mode="cow"`` → ``snapshots.merge_into``: only the data files that
     hold a matched key are rewritten,
  4. ``mode="mor"`` → ``snapshots.upsert_keys_mor``: one commit of an
     equality-delete sidecar plus the batch's rows, no read, no rewrite.

Every commit is atomic (readers pinned to older versions are unaffected; a
crash leaves only unreferenced files for ``vacuum``) and
``txn=(app_id, batch_id)`` makes it exactly-once under micro-batch replay.
Both MERGE paths route the written rows through the table's partition
spec, so the reference's ``PARTITIONED BY (event)`` layout survives
upserts. With an Iceberg/Delta catalog the same operation is a literal
``MERGE INTO`` (``merge_into_sql``).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

DEFAULT_UNIQUE_KEYS = ["user_id", "timestamp"]


def check_mode(mode: str) -> None:
    if mode not in ("cow", "mor"):
        raise ValueError(
            f"mode must be 'cow' or 'mor', got {mode!r} — a silent "
            "fall-through to CoW would defeat the point of the flag"
        )


def dedup_batch(
    batch: DataFrame,
    keys: list[str],
    order_col: str,
) -> DataFrame:
    """Last-write-wins within a micro-batch: the row with the max
    ``order_col`` (arrival sequence) per key."""
    w = Window.partitionBy(*keys).orderBy(F.desc(order_col))
    return (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_into_sql(
    table: str, keys: list[str] = DEFAULT_UNIQUE_KEYS, source: str = "batch"
) -> str:
    """The literal MERGE INTO statement for catalogs with a table format
    (Iceberg/Delta) — what Firehose executes on our behalf in the reference
    (firehose_to_iceberg.py:111-117). `timestamp` stays backticked — the
    reference quotes it in DDL too (athena_named_query.py:31)."""
    on = " AND ".join(f"t.`{k}` = s.`{k}`" for k in keys)
    return (
        f"MERGE INTO {table} t USING {source} s ON {on} "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )


def merge_snapshot(
    spark: SparkSession,
    batch: DataFrame,
    table: str,
    keys: list[str] | None = DEFAULT_UNIQUE_KEYS,
    order_col: str | None = None,
    mode: str = "cow",
    txn: tuple[str, int] | None = None,
) -> int | None:
    """Upsert ``batch`` into the snapshot table at ``table`` keyed on
    ``keys`` (module docstring): ``keys=None`` appends. ``order_col``
    orders duplicate keys within a keyed batch (highest wins; default the
    row's arrival position) and is not stored. ``mode="cow"`` refuses a
    table with outstanding MOR deletes, as ``merge_into`` does.

    Returns the committed version, or None for an empty batch."""
    from web_analytics_on_aws_spark.sources import snapshots

    check_mode(mode)
    if keys is not None:
        if order_col is None:
            order_col = "__seq"
            batch = batch.withColumn(order_col, F.monotonically_increasing_id())
        batch = dedup_batch(batch, keys, order_col).drop(order_col)
    if batch.limit(1).count() == 0:
        return None
    if keys is None or snapshots.current_version(table) is None:
        return snapshots.commit_append(batch, table, txn=txn)
    commit = snapshots.upsert_keys_mor if mode == "mor" else snapshots.merge_into
    return commit(spark, table, batch, keys, txn=txn)["version"]
