"""Named-query script parity and the full streaming-upsert pipeline
(datafirehose-iceberg variant, SURVEY §3.1 delta)."""

from __future__ import annotations

import datetime as dt
import json
import os

import pyspark.sql.functions as F

from web_analytics_on_aws_spark.plans.named_queries import (
    named_query_statements,
    run_named_query,
)
from web_analytics_on_aws_spark.schema import WEB_LOG_ICEBERG_SCHEMA
from web_analytics_on_aws_spark.sources.partitioning import set_partition_spec
from web_analytics_on_aws_spark.sources.snapshots import (
    _read_manifest,
    commit_append,
    current_version,
    read_snapshot,
)
from web_analytics_on_aws_spark.streaming.snapshot_sink import start_snapshot_upsert


def test_named_query_scripts_run_end_to_end(spark, tmp_path):
    """The reference user's exact workflow: run the shipped named-query
    scripts (CREATE DATABASE → CREATE TABLE → MSCK → SHOW PARTITIONS →
    COUNT(*)) against populated zones."""
    from tests.test_pipeline_e2e import INGEST_HOUR, _ingest
    from web_analytics_on_aws_spark.operators.compaction import compact_previous_hour
    from web_analytics_on_aws_spark.schema import WEB_LOG_SCHEMA

    tmp = str(tmp_path)
    n, _ = _ingest(spark, tmp)
    compact_previous_hour(
        spark, f"{tmp}/raw", f"{tmp}/curated",
        INGEST_HOUR + dt.timedelta(hours=1, minutes=10), WEB_LOG_SCHEMA,
    )
    stmts = named_query_statements("mydatabase", f"{tmp}/raw", f"{tmp}/curated")
    try:
        for script in ("web_log_json", "web_log_parquet"):
            result = run_named_query(spark, stmts[script])
            assert result.first()[0] == n, script
    finally:
        spark.sql("DROP DATABASE IF EXISTS mydatabase CASCADE")


def _rec(user: str, ts: str, event: str, uri: str) -> str:
    return json.dumps(
        {
            "user_id": user, "session_id": "s" * 24, "event": event,
            "referrer": None, "user_agent": "UA", "ip": "10.0.0.1",
            "hostname": "h.example", "os": "Linux", "timestamp": ts, "uri": uri,
        }
    )


def _land(landing: str, name: str, lines: list[str]) -> None:
    os.makedirs(landing, exist_ok=True)
    with open(os.path.join(landing, name), "w") as f:
        f.write("\n".join(lines) + "\n")


def _event_partitioned_table(spark, table: str) -> None:
    """The iceberg variant's DDL (S12): an empty web_log table
    ``PARTITIONED BY (event)``."""
    commit_append(spark.createDataFrame([], WEB_LOG_ICEBERG_SCHEMA), table)
    set_partition_spec(spark, table, [("event", "identity")])


def _every_file_has_event_tuple(table: str) -> bool:
    """Every data file carries an ``event`` partition tuple (the DDL's
    empty create-table commit records the schema and publishes no file)."""
    m = _read_manifest(table, current_version(table))
    fp = m.get("file_partitions", {})
    return bool(m["files"]) and all(
        "event" in fp.get(f, {}).get("values", {}) for f in m["files"]
    )


def test_streaming_upsert_pipeline_last_write_wins(spark, tmp_path):
    tmp = str(tmp_path)
    landing = f"{tmp}/landing"
    table = f"{tmp}/web_log_iceberg"
    _event_partitioned_table(spark, table)

    bad = _rec("u9", "not-a-timestamp", "view", "/bad")
    _land(landing, "b1.jsonl", [
        _rec("u1", "2026-03-02T10:00:00Z", "view", "/first"),
        _rec("u2", "2026-03-02T10:00:00Z", "cart", "/keep"),
        bad,
    ])

    def run():
        q = start_snapshot_upsert(
            spark, landing, table, f"{tmp}/error", f"{tmp}/ckpt",
            unique_keys=["user_id", "timestamp"], available_now=True,
        )
        q.awaitTermination()

    run()
    t = read_snapshot(spark, table)
    assert {r["user_id"]: r["uri"] for r in t.collect()} == {"u1": "/first", "u2": "/keep"}
    assert spark.read.text(f"{tmp}/error", recursiveFileLookup=True).count() == 1

    # batch 2: same (user_id, timestamp) key with new uri+event → replaces;
    # new key → inserts
    _land(landing, "b2.jsonl", [
        _rec("u1", "2026-03-02T10:00:00Z", "purchase", "/updated"),
        _rec("u3", "2026-03-02T11:00:00Z", "visit", "/new"),
    ])
    run()
    t = read_snapshot(spark, table)
    got = {r["user_id"]: (r["uri"], r["event"]) for r in t.collect()}
    assert got == {
        "u1": ("/updated", "purchase"),
        "u2": ("/keep", "cart"),
        "u3": ("/new", "visit"),
    }
    # event-partitioned layout (S12) and typed timestamp survive the pipeline
    assert _every_file_has_event_tuple(table)
    assert t.schema["timestamp"].dataType.typeName() == "timestamp"


def test_streaming_append_mode_without_keys(spark, tmp_path):
    """unique_keys=None → reference keyless config: plain append, duplicate
    keys accumulate (operation='insert' path)."""
    tmp = str(tmp_path)
    landing = f"{tmp}/landing"
    table = f"{tmp}/web_log_append"
    _event_partitioned_table(spark, table)
    _land(landing, "b1.jsonl", [_rec("u1", "2026-03-02T10:00:00Z", "view", "/a")])
    _land(landing, "b2.jsonl", [_rec("u1", "2026-03-02T10:00:00Z", "view", "/a")])
    q = start_snapshot_upsert(
        spark, landing, table, f"{tmp}/error", f"{tmp}/ckpt",
        unique_keys=None, available_now=True,
    )
    q.awaitTermination()
    assert read_snapshot(spark, table).count() == 2
    assert _every_file_has_event_tuple(table)
