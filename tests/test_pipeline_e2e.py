"""End-to-end pipeline tests (FIXTURES.md §4): N events → validated ingest →
hive-partitioned raw zone → hourly compaction → counts and contents match.
Mirrors the reference's manual smoke procedure
(web-analytics-parquet/README.md:152-161,250-255)."""

from __future__ import annotations

import datetime as dt
import json

import pyspark.sql.functions as F
import pytest

from web_analytics_on_aws_spark.operators.compaction import (
    compact_previous_hour,
    hour_path,
    read_curated,
)
from web_analytics_on_aws_spark.operators.ingest import write_split
from web_analytics_on_aws_spark.operators.upsert import merge_snapshot
from web_analytics_on_aws_spark.operators.validate import validate
from web_analytics_on_aws_spark.schema import WEB_LOG_SCHEMA
from web_analytics_on_aws_spark.sources import catalog
from web_analytics_on_aws_spark.sources.snapshots import read_snapshot


def _make_record(i: int, ts: dt.datetime) -> dict:
    return {
        "userId": f"user-{i:04d}",
        "sessionId": f"sess{i % 7:020x}",
        "referrer": "ref.example" if i % 3 else None,
        "userAgent": "Mozilla/5.0",
        "ip": f"10.0.{i % 256}.{(i * 7) % 256}",
        "hostname": "web.example",
        "os": "Linux",
        "timestamp": ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
        "uri": f"https://web.example/page/{i % 5}?q={i}",
    }


INGEST_HOUR = dt.datetime(2026, 3 if True else 1, 2, 14, 0, 0)


def _ingest(spark, tmp, n=40, n_bad=5):
    """Send n valid + n_bad invalid records 'arriving' in INGEST_HOUR."""
    base_ts = dt.datetime(2026, 3, 2, 13, 45, 0)
    lines = [
        (json.dumps(_make_record(i, base_ts + dt.timedelta(seconds=30 * i))),)
        for i in range(n)
    ]
    for i in range(n_bad):
        bad = _make_record(1000 + i, base_ts)
        bad["timestamp"] = "2026/03/02 13:45:00"  # wire-format violation
        lines.append((json.dumps(bad),))
    df = spark.createDataFrame(lines, "value string")
    validated = validate(df, dialect="parquet")
    write_split(
        validated,
        f"{tmp}/raw",
        f"{tmp}/error",
        ingest_ts=F.lit(INGEST_HOUR).cast("timestamp"),
    )
    return n, n_bad


def test_ingest_split_and_partition_layout(spark, tmp_path):
    tmp = str(tmp_path)
    n, n_bad = _ingest(spark, tmp)

    raw = spark.read.text(hour_path(f"{tmp}/raw", INGEST_HOUR))
    err = spark.read.text(hour_path(f"{tmp}/error", INGEST_HOUR))
    assert raw.count() == n
    assert err.count() == n_bad
    # hive layout: zero-padded dirs, int partition values on discovery
    disc = spark.read.text(f"{tmp}/raw")
    import os

    assert os.path.isdir(f"{tmp}/raw/year=2026/month=03/day=02/hour=14")
    # raw zone preserves the exact wire payload
    one = json.loads(raw.first()["value"])
    assert set(one) >= {"userId", "sessionId", "ip", "timestamp", "uri"}


def test_compaction_roundtrip_counts_and_content(spark, tmp_path):
    """The reference smoke test: COUNT(*) on curated hour == events sent in
    that hour; per-row contents equal under the 9-column projection."""
    tmp = str(tmp_path)
    n, _ = _ingest(spark, tmp)

    now = INGEST_HOUR + dt.timedelta(hours=1, minutes=10)  # cron fires at :10
    written = compact_previous_hour(
        spark, f"{tmp}/raw", f"{tmp}/curated", now, WEB_LOG_SCHEMA
    )
    assert written == n

    curated = read_curated(spark, f"{tmp}/curated")
    assert curated.count() == n
    raw_parsed = spark.read.schema(WEB_LOG_SCHEMA).json(
        hour_path(f"{tmp}/raw", INGEST_HOUR)
    )
    cols = [f.name for f in WEB_LOG_SCHEMA.fields]
    assert (
        raw_parsed.select(cols).exceptAll(curated.select(cols)).count() == 0
    )
    assert (
        curated.select(cols).exceptAll(raw_parsed.select(cols)).count() == 0
    )
    # partition columns discovered as ints
    assert dict(curated.select("year", "month", "day", "hour").first().asDict()) == {
        "year": 2026,
        "month": 3,
        "day": 2,
        "hour": 14,
    }
    # idempotent re-run (reference fakes this with drop-then-recreate)
    assert (
        compact_previous_hour(spark, f"{tmp}/raw", f"{tmp}/curated", now, WEB_LOG_SCHEMA)
        == n
    )
    assert read_curated(spark, f"{tmp}/curated").count() == n


def test_catalog_ddl_surface(spark, tmp_path):
    """D1-D7: database, external tables, MSCK, ADD PARTITION, SHOW PARTITIONS,
    COUNT(*) — the reference's named-query set (athena_named_query.py)."""
    tmp = str(tmp_path)
    n, n_bad = _ingest(spark, tmp)
    now = INGEST_HOUR + dt.timedelta(hours=1, minutes=10)
    compact_previous_hour(spark, f"{tmp}/raw", f"{tmp}/curated", now, WEB_LOG_SCHEMA)

    db = "mydatabase"
    catalog.create_database(spark, db)
    try:
        catalog.create_web_log_json(spark, db, "web_log_json", f"{tmp}/raw")
        catalog.create_web_log_parquet(spark, db, "web_log_parquet", f"{tmp}/curated")
        catalog.msck_repair(spark, db, "web_log_json")
        catalog.add_hour_partitions(
            spark, db, "web_log_parquet", f"{tmp}/curated", INGEST_HOUR
        )
        parts = {r[0] for r in catalog.show_partitions(spark, db, "web_log_json").collect()}
        # MSCK registers the zero-padded directory spec (as Athena does);
        # the partition COLUMN is still int-typed, so unpadded predicates work.
        assert parts == {"year=2026/month=03/day=02/hour=14"}
        assert catalog.count_star(spark, db, "web_log_json") == n
        assert (
            spark.sql(
                f"SELECT COUNT(*) c FROM {db}.web_log_json "
                "WHERE year=2026 AND month=3 AND day=2 AND hour=14"
            ).first()["c"]
            == n
        )
        assert catalog.count_star(spark, db, "web_log_parquet") == n
        # the declared-schema JSON table parses timestamps
        ts = spark.sql(f"SELECT MIN(`timestamp`) t FROM {db}.web_log_json").first()["t"]
        assert ts == dt.datetime(2026, 3, 2, 13, 45, 0)
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_upsert_last_write_wins(spark, tmp_path):
    """FIXTURES §2 upsert fixture: ≥2 records sharing (user_id, timestamp)
    with different uri → one row per key, last write wins."""
    tmp = str(tmp_path)
    table = f"{tmp}/iceberg_table"

    def mk(user, ts, uri, seq):
        return ("u" + user, ts, uri, seq)

    schema = "user_id string, timestamp string, uri string, seq long"
    b1 = spark.createDataFrame(
        [
            mk("1", "2026-03-02T10:00:00Z", "/old", 1),
            mk("2", "2026-03-02T10:00:00Z", "/keep", 2),
        ],
        schema,
    )
    merge_snapshot(spark, b1, table, keys=["user_id", "timestamp"], order_col="seq")
    b2 = spark.createDataFrame(
        [
            mk("1", "2026-03-02T10:00:00Z", "/new-a", 3),
            mk("1", "2026-03-02T10:00:00Z", "/new-b", 4),  # dup within batch
            mk("3", "2026-03-02T11:00:00Z", "/ins", 5),
        ],
        schema,
    )
    merge_snapshot(spark, b2, table, keys=["user_id", "timestamp"], order_col="seq")

    out = {r["user_id"]: r["uri"] for r in read_snapshot(spark, table).collect()}
    assert out == {"u1": "/new-b", "u2": "/keep", "u3": "/ins"}
    assert read_snapshot(spark, table).count() == 3


def test_upsert_event_partitioned_iceberg_layout(spark, tmp_path):
    """S12/T4: the iceberg-flavor table is PARTITIONED BY (event)
    (web-analytics-iceberg/README.md:181); upserts land in per-event
    files and only touched partitions change."""
    from web_analytics_on_aws_spark.sources.partitioning import (
        set_partition_spec,
    )
    from web_analytics_on_aws_spark.sources.snapshots import (
        _read_manifest,
        commit_append,
        current_version,
    )

    def event_of_files():
        m = _read_manifest(table, current_version(table))
        return {f: m["file_partitions"][f]["values"]["event"] for f in m["files"]}

    tmp = str(tmp_path)
    table = f"{tmp}/web_log_iceberg"
    schema = "user_id string, timestamp string, event string, uri string, seq long"
    b1 = spark.createDataFrame(
        [
            ("u1", "2026-03-02T10:00:00Z", "view", "/a", 1),
            ("u2", "2026-03-02T10:00:00Z", "cart", "/b", 2),
        ],
        schema,
    )
    commit_append(b1.drop("seq").limit(0), table)
    set_partition_spec(spark, table, [("event", "identity")])
    merge_snapshot(
        spark, b1, table, keys=["user_id", "timestamp"], order_col="seq"
    )
    before = event_of_files()
    assert sorted(set(before.values())) == ["cart", "view"]
    b2 = spark.createDataFrame(
        [("u1", "2026-03-02T10:00:00Z", "purchase", "/a2", 3)], schema
    )
    merge_snapshot(
        spark, b2, table, keys=["user_id", "timestamp"], order_col="seq"
    )
    rows = {(r["user_id"], r["event"]) for r in read_snapshot(spark, table).collect()}
    assert rows == {("u1", "purchase"), ("u2", "cart")}
    after = event_of_files()
    assert {f for f, e in before.items() if e == "cart"} <= set(after)


def test_curated_scan_partition_pruned(spark, tmp_path):
    """A one-hour predicate on the curated zone must reach the scan as a
    PartitionFilter (directory pruning) — the property the whole arrival-
    time layout exists for (SURVEY §1.4). At 100 TB this is the difference
    between scanning one hour and scanning the lake."""
    import datetime as dt

    import pyspark.sql.functions as F

    from web_analytics_on_aws_spark.operators.compaction import (
        compact_hour,
        read_curated,
    )
    from web_analytics_on_aws_spark.schema import WEB_LOG_SCHEMA

    tmp = str(tmp_path)
    _ingest(spark, tmp)
    # also land a second hour so pruning has something to skip
    other = INGEST_HOUR + dt.timedelta(hours=1)
    spark.createDataFrame(
        [(json.dumps(_make_record(9999, other)),)], "value string"
    ).transform(lambda d: validate(d, dialect="parquet")).transform(
        lambda d: write_split(
            d, f"{tmp}/raw", f"{tmp}/error", ingest_ts=F.lit(other).cast("timestamp")
        )
        or d
    )
    for when in (INGEST_HOUR, other):
        compact_hour(spark, f"{tmp}/raw", f"{tmp}/curated", when, WEB_LOG_SCHEMA)

    pruned = read_curated(spark, f"{tmp}/curated").filter(
        (F.col("year") == INGEST_HOUR.year)
        & (F.col("month") == INGEST_HOUR.month)
        & (F.col("day") == INGEST_HOUR.day)
        & (F.col("hour") == INGEST_HOUR.hour)
    )
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part_lines and "hour" in part_lines[0], plan
    # and the filter actually prunes: only the one hour's rows are read
    assert pruned.count() == 40
