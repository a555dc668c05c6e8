"""Sources parity: synthetic generator (S13), HTTP ingest shim (S1-S4),
catalog listing ops (S3) — end-to-end through the streaming ingest where
applicable."""

from __future__ import annotations

import datetime as dt
import json
import urllib.request

from tests.conftest import SF_SMOKE
from web_analytics_on_aws_spark.operators.validate import validate, validity_metrics
from web_analytics_on_aws_spark.sources.generator import fake_events, write_landing_batch
from web_analytics_on_aws_spark.sources.http_shim import IngestShim
from web_analytics_on_aws_spark.streaming.ingest_stream import run_ingest_once


def test_load_table_memo_invalidates_on_rewrite(spark, tmp_path):
    """load_table memoizes the resolved handle + schema per session (driver
    metadata caching, r13) keyed by file identity — a REWRITTEN file must
    re-resolve, never serve the stale handle, and its new entry REPLACES
    the stale one (one entry per path, so the memo stays bounded)."""
    import os
    import shutil

    from web_analytics_on_aws_spark.sources.tables import (
        _session_memo,
        load_table,
    )

    sf = tmp_path / "sf"
    sf.mkdir()
    src = os.path.join(SF_SMOKE, "nation.parquet")
    shutil.copy(src, sf / "nation.parquet")
    first = load_table(spark, str(sf), "nation")
    # same session + unchanged file: the identical handle comes back
    assert load_table(spark, str(sf), "nation") is first
    n_first = first.count()

    # rewrite with fewer rows (mtime_ns may tie on fast copies — bump it)
    spark.read.parquet(src).limit(3).write.mode("overwrite").parquet(
        str(sf / "tmp_rewrite")
    )
    part = next(p for p in os.listdir(sf / "tmp_rewrite") if p.endswith(".parquet"))
    shutil.copy(sf / "tmp_rewrite" / part, sf / "nation.parquet")
    os.utime(sf / "nation.parquet")
    again = load_table(spark, str(sf), "nation")
    assert again is not first
    assert again.count() == 3 and n_first != 3
    path = os.path.join(str(sf), "nation.parquet")
    for kind in ("schema", "handle"):
        memo = _session_memo(spark, kind)
        # the stale entry was replaced, not kept beside the new one
        assert [k for k in memo if str(sf) in str(k)] == [path]
    assert _session_memo(spark, "handle")[path][1] is again


def test_generator_deterministic_and_valid(spark):
    a = [r["value"] for r in fake_events(spark, 50, seed=47).collect()]
    b = [r["value"] for r in fake_events(spark, 50, seed=47).collect()]
    assert a == b  # deterministic given (n, seed)
    c = [r["value"] for r in fake_events(spark, 50, seed=48).collect()]
    assert a != c

    recs = [json.loads(v) for v in a]
    assert all(set(r) == {
        "userId", "sessionId", "referrer", "userAgent", "ip", "hostname",
        "os", "timestamp", "uri",
    } for r in recs)
    m = validity_metrics(validate(fake_events(spark, 50), dialect="parquet")).first()
    assert (m["total"], m["valid"], m["invalid"]) == (50, 50, 0)


def test_generator_iceberg_dialect_and_invalids(spark):
    df = fake_events(spark, 30, dialect="iceberg", invalid_every=10)
    recs = [json.loads(r["value"]) for r in df.collect()]
    assert all("event" in r and "user_id" in r for r in recs)
    m = validity_metrics(validate(df, dialect="iceberg")).first()
    assert (m["total"], m["valid"], m["invalid"]) == (30, 27, 3)


def test_http_shim_roundtrip_to_streaming_ingest(spark, tmp_path):
    """The full reference ingest lifecycle (SURVEY §3.1) in one box:
    HTTP PUT records → landing dir → streaming validate/split → raw zone."""
    tmp = str(tmp_path)
    shim = IngestShim(f"{tmp}/streams").start()
    try:
        base = shim.url
        rec = {
            "userId": "u1", "sessionId": "s" * 24, "referrer": None,
            "userAgent": "UA", "ip": "10.0.0.1", "hostname": "h.example",
            "os": "Linux", "timestamp": "2026-03-02T10:00:00Z", "uri": "/p/1",
        }
        # S1 single record
        req = urllib.request.Request(
            f"{base}/streams/weblogs/record",
            data=json.dumps({"data": json.dumps(rec), "partition-key": "u1"}).encode(),
            method="PUT",
        )
        assert json.load(urllib.request.urlopen(req))["ShardId"] == "shardId-0"
        # S2 batch
        batch = {
            "records": [
                {"data": json.dumps({**rec, "userId": f"u{i}"}), "partition-key": f"u{i}"}
                for i in range(2, 7)
            ]
        }
        req = urllib.request.Request(
            f"{base}/streams/weblogs/records", data=json.dumps(batch).encode(), method="PUT"
        )
        assert json.load(urllib.request.urlopen(req))["FailedRecordCount"] == 0
        # S3 catalog ops
        streams = json.load(urllib.request.urlopen(f"{base}/streams"))
        assert streams == {"StreamNames": ["weblogs"]}
        desc = json.load(urllib.request.urlopen(f"{base}/streams/weblogs"))
        assert desc["StreamDescription"]["StreamStatus"] == "ACTIVE"

        # landing → validated raw zone (S6/T1-T3)
        run_ingest_once(
            spark, f"{tmp}/streams/weblogs", f"{tmp}/raw", f"{tmp}/error",
            f"{tmp}/ckpt", dialect="parquet",
        )
        assert spark.read.text(f"{tmp}/raw").count() == 6
    finally:
        shim.stop()


def test_write_landing_batch_and_ingest(spark, tmp_path):
    tmp = str(tmp_path)
    write_landing_batch(
        spark, f"{tmp}/landing", 25,
        base_hour=dt.datetime(2026, 1, 1, 12), invalid_every=5,
    )
    run_ingest_once(
        spark, f"{tmp}/landing", f"{tmp}/raw", f"{tmp}/error", f"{tmp}/ckpt",
    )
    assert spark.read.text(f"{tmp}/raw").count() == 20
    assert spark.read.text(f"{tmp}/error").count() == 5


def test_all_formats_roundtrip_losslessly(spark, tmp_path):
    """events (timestamps, doubles, nulls in props) survives a write+read
    through every supported format bit-for-bit."""
    from web_analytics_on_aws_spark.sources.formats import (
        FORMATS,
        read_table,
        write_table,
    )
    from web_analytics_on_aws_spark.sources.tables import load_table

    ev = load_table(spark, SF_SMOKE, "events").limit(200)
    want = sorted(map(tuple, ev.collect()))
    for fmt in FORMATS:
        path = f"{tmp_path}/{fmt}"
        write_table(ev, path, fmt=fmt)
        back = read_table(spark, path, fmt=fmt, schema=ev.schema)
        assert sorted(map(tuple, back.collect())) == want, fmt


def test_partitioned_format_write_prunes(spark, tmp_path):
    """Hive layout works identically for orc; partition filter prunes the
    scan to one directory."""
    import glob

    import pyspark.sql.functions as F

    from web_analytics_on_aws_spark.sources.formats import read_table, write_table
    from web_analytics_on_aws_spark.sources.tables import load_table

    ev = load_table(spark, SF_SMOKE, "events").withColumn(
        "day", F.dayofmonth("ts")
    )
    write_table(ev, f"{tmp_path}/orc", fmt="orc", partition_by=["day"])
    assert len(glob.glob(f"{tmp_path}/orc/day=*")) > 1
    back = read_table(spark, f"{tmp_path}/orc", fmt="orc")
    one_day = back.filter(F.col("day") == 5)
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert one_day.count() == ev.filter(F.col("day") == 5).count()
    # partition filter reached the scan (pruned directories, not a full read)
    assert "day" in plan


def test_create_view_accepts_athena_dialect(spark, tmp_path):
    """Views — the Athena console workflow's catalog object: an Athena-
    dialect body (strpos, url_extract_host, day_of_week) is rewritten
    through the trino shim at CREATE time and queryable thereafter."""
    from web_analytics_on_aws_spark.sources import catalog

    catalog.create_database(spark, "viewdb")
    # persistent source table (a permanent view may not reference temp views)
    loc = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "https://a.example.com/x?k=1"), (2, "https://b.example.com/y?k=2")],
        "id long, url string",
    ).write.parquet(loc)
    spark.sql(f"CREATE TABLE viewdb.src USING parquet LOCATION '{loc}'")
    try:
        catalog.create_view(
            spark,
            "viewdb",
            "hosts",
            "SELECT id, url_extract_host(url) AS host, "
            "strpos(url, 'example') AS p FROM viewdb.src",
        )
        rows = {
            r["id"]: (r["host"], r["p"])
            for r in spark.sql("SELECT * FROM viewdb.hosts").collect()
        }
        assert rows[1] == ("a.example.com", 11)
        assert rows[2] == ("b.example.com", 11)
        views = [r["viewName"] for r in catalog.list_views(spark, "viewdb").collect()]
        assert "hosts" in views
        catalog.drop_view(spark, "viewdb", "hosts")
        assert "hosts" not in [
            r["viewName"] for r in catalog.list_views(spark, "viewdb").collect()
        ]
    finally:
        spark.sql("DROP TABLE IF EXISTS viewdb.src")
        spark.sql("DROP DATABASE IF EXISTS viewdb CASCADE")
