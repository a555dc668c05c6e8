"""Streaming → snapshot-table sink: exactly-once micro-batch commits
(txn-stamped appends survive checkpoint loss / batch replay without
duplicating rows)."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from web_analytics_on_aws_spark.sources.snapshots import (
    commit_append,
    current_version,
    history,
    last_committed_batch,
    read_snapshot,
)
from web_analytics_on_aws_spark.streaming.snapshot_sink import start_snapshot_upsert


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


def _drain(spark, landing, table, err, ckpt):
    q = start_snapshot_upsert(
        spark, landing, table, err, ckpt, unique_keys=None, available_now=True
    )
    q.awaitTermination(120)


def test_snapshot_sink_commits_and_quarantines(spark, tmp_path):
    t = str(tmp_path)
    landing, table = f"{t}/landing", f"{t}/table"
    good = [_rec(f"u{i}", "2026-03-02T13:45:00Z", "view", f"/p/{i}") for i in range(5)]
    bad = [_rec("ux", "2026-03-02 13:45:00", "view", "/bad"), "not json"]
    _land(landing, "b1.jsonl", good + bad)

    _drain(spark, landing, table, f"{t}/err", f"{t}/ckpt")
    assert read_snapshot(spark, table).count() == 5
    assert spark.read.text(f"{t}/err", recursiveFileLookup=True).count() == 2
    assert history(table)[-1]["operation"] == "append"
    assert last_committed_batch(table, "snapshot-upsert") == 0


@pytest.mark.parametrize(
    "unique_keys,rows", [(None, 2), (["user_id", "timestamp"], 1)]
)
def test_sink_keys_switch_append_vs_upsert(spark, tmp_path, unique_keys, rows):
    """T4's insert-vs-upsert switch: the same valid record drained in two
    micro-batches is appended twice without unique keys (the reference's
    keyless configuration) and kept once with them."""
    t = str(tmp_path)
    landing, table = f"{t}/landing", f"{t}/table"
    rec = _rec("u1", "2026-03-02T13:45:00Z", "view", "/p/1")
    for name in ("b1.jsonl", "b2.jsonl"):
        _land(landing, name, [rec])
        q = start_snapshot_upsert(
            spark, landing, table, f"{t}/err", f"{t}/ckpt",
            unique_keys=unique_keys, available_now=True,
        )
        q.awaitTermination(120)
    assert read_snapshot(spark, table).count() == rows
    assert last_committed_batch(table, "snapshot-upsert") == 1


def test_snapshot_sink_replay_is_exactly_once(spark, tmp_path):
    """Checkpoint loss → the source redelivers batch 0 → the txn stamp makes
    the re-commit a durable no-op (count and version unchanged)."""
    t = str(tmp_path)
    landing, table = f"{t}/landing", f"{t}/table"
    _land(landing, "b1.jsonl",
          [_rec(f"u{i}", "2026-03-02T13:45:00Z", "view", f"/p/{i}") for i in range(4)])

    _drain(spark, landing, table, f"{t}/err", f"{t}/ckpt")
    v1 = current_version(table)
    assert read_snapshot(spark, table).count() == 4

    shutil.rmtree(f"{t}/ckpt")  # lose the checkpoint → full replay
    _drain(spark, landing, table, f"{t}/err", f"{t}/ckpt2")
    assert read_snapshot(spark, table).count() == 4  # no duplicates
    assert current_version(table) == v1  # no new version published

    # genuinely new data still lands (next batch id under the fresh ckpt
    # is 1 > last committed 0)
    _land(landing, "b2.jsonl", [_rec("u9", "2026-03-02T14:00:00Z", "like", "/p/9")])
    _drain(spark, landing, table, f"{t}/err", f"{t}/ckpt2")
    assert read_snapshot(spark, table).count() == 5


def test_txn_stamps_survive_optimize_and_vacuum(spark, tmp_path):
    """ADVICE r1: exactly-once must not depend on vacuum-able history. Every
    manifest carries the per-app txn map forward, so commit → rewrite
    (optimize) → vacuum(retain_last=1) → replay of the same batch id is
    still a durable no-op."""
    from web_analytics_on_aws_spark.sources.snapshots import optimize, vacuum

    table = str(tmp_path / "t")
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    commit_append(df, table, txn=("app", 0))
    commit_append(spark.range(5).selectExpr("id", "id AS v"), table,
                  txn=("app", 1))
    optimize(spark, table, small_file_mb=64.0, min_small_files=2)
    vacuum(table, retain_last=1)  # only the optimize manifest survives
    assert last_committed_batch(table, "app") == 1
    v = current_version(table)
    commit_append(df, table, txn=("app", 1))  # replay after vacuum
    assert current_version(table) == v  # no-op, no duplicate rows
    assert read_snapshot(spark, table).count() == 15


def test_quarantine_replay_does_not_duplicate_errors(spark, tmp_path):
    """ADVICE r1: a replayed micro-batch must not re-append its invalid
    records to the error zone (batch-keyed overwrite)."""
    t = str(tmp_path)
    landing, table = f"{t}/landing", f"{t}/table"
    good = [_rec("u1", "2026-03-02T13:45:00Z", "view", "/p/1")]
    bad = ["not json", _rec("u2", "2026-03-02 13:45:00", "view", "/bad")]
    _land(landing, "b1.jsonl", good + bad)

    _drain(spark, landing, table, f"{t}/err", f"{t}/ckpt")
    assert spark.read.text(f"{t}/err", recursiveFileLookup=True).count() == 2

    shutil.rmtree(f"{t}/ckpt")  # checkpoint loss → batch 0 replays
    _drain(spark, landing, table, f"{t}/err", f"{t}/ckpt2")
    assert spark.read.text(f"{t}/err", recursiveFileLookup=True).count() == 2
    assert read_snapshot(spark, table).count() == 1


def test_commit_append_txn_api_skips_stale_batches(spark, tmp_path):
    table = str(tmp_path / "t")
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    v1 = commit_append(df, table, txn=("app", 0))
    v2 = commit_append(df, table, txn=("app", 0))  # replay → skipped
    assert v1 == v2 == current_version(table)
    assert read_snapshot(spark, table).count() == 10
    # another app is independent; a later batch from app commits
    assert commit_append(df, table, txn=("other", 0)) == v1 + 1
    assert commit_append(df, table, txn=("app", 1)) == v1 + 2
    assert read_snapshot(spark, table).count() == 30


def test_snapshot_upsert_stream_merges_and_replays_exactly_once(spark, tmp_path):
    """Streaming MERGE sink: a second drain carrying an updated record for
    an existing key REPLACES it (no duplicate key), new keys insert, and a
    full checkpoint-loss replay re-applies nothing."""
    import shutil

    from web_analytics_on_aws_spark.sources.snapshots import read_snapshot
    from web_analytics_on_aws_spark.streaming.snapshot_sink import (
        start_snapshot_upsert,
    )

    t = str(tmp_path)
    landing, table = f"{t}/landing", f"{t}/table"

    def rec(user, ts, uri):
        return json.dumps(
            {
                "user_id": user, "session_id": "s" * 24, "event": "view",
                "referrer": None, "user_agent": "UA", "ip": "10.0.0.1",
                "hostname": "h.example", "os": "Linux", "timestamp": ts,
                "uri": uri,
            }
        )

    def drain():
        q = start_snapshot_upsert(
            spark, landing, table, f"{t}/err", f"{t}/ckpt",
            unique_keys=["user_id", "timestamp"], available_now=True,
        )
        q.awaitTermination(120)

    _land(landing, "b1.jsonl", [
        rec("u1", "2026-03-01T10:00:00Z", "/old"),
        rec("u2", "2026-03-01T10:00:00Z", "/a"),
    ])
    drain()
    # same key arrives again with a new uri + a brand-new key
    _land(landing, "b2.jsonl", [
        rec("u1", "2026-03-01T10:00:00Z", "/new"),
        rec("u3", "2026-03-01T11:00:00Z", "/b"),
    ])
    drain()
    rows = {
        (r["user_id"], str(r["timestamp"])): r["uri"]
        for r in read_snapshot(spark, table).collect()
    }
    assert len(rows) == 3  # u1 replaced, not duplicated
    assert rows[("u1", "2026-03-01 10:00:00")] == "/new"

    shutil.rmtree(f"{t}/ckpt")  # checkpoint loss → full landing replay
    drain()
    assert read_snapshot(spark, table).count() == 3  # txn stamps no-op it


def test_snapshot_sink_into_partitioned_sorted_table(spark, tmp_path):
    """Round 7 end-to-end: a streaming ingest into an identity-partitioned,
    write-ordered table routes every micro-batch through the spec — each
    data file carries its tuple, a tiny micro-batch writes ONE file per
    event value (bytes-driven fanout, no 8x small-file inflation), and
    exactly-once replay still holds."""
    from web_analytics_on_aws_spark.sources.partitioning import (
        set_partition_spec,
    )
    from web_analytics_on_aws_spark.sources.snapshots import (
        _read_manifest,
        current_version,
        set_sort_order,
    )

    t = str(tmp_path)
    landing, table = f"{t}/landing", f"{t}/table"
    # batch 0 creates the table with the sink's typed schema; the layout
    # is declared between triggers (ALTER on a live streaming table)
    _land(landing, "b0.jsonl",
          [_rec("seed", "2026-03-02T13:00:00Z", "view", "/seed")])
    _drain(spark, landing, table, f"{t}/err", f"{t}/ckpt")
    set_partition_spec(spark, table, [("event", "identity")])
    set_sort_order(spark, table, ["timestamp"])

    lines = [
        _rec(f"u{i}", f"2026-03-02T13:{45 + i % 10}:00Z",
             "view" if i % 4 else "click", f"/p/{i}")
        for i in range(40)
    ]
    _land(landing, "b1.jsonl", lines)
    _drain(spark, landing, table, f"{t}/err", f"{t}/ckpt")

    m = _read_manifest(table, current_version(table))
    fp = m.get("file_partitions", {})
    fs = m.get("file_stats", {})
    tupled = [f for f in m["files"] if f in fp]
    # every post-spec data file carries its tuple; only the pre-spec seed
    # batch is untupled
    assert len(tupled) >= 2
    assert len(m["files"]) - len(tupled) <= 2
    by_val: dict[str, int] = {}
    for f in tupled:
        if fs.get(f, {}).get("rows"):
            v = fp[f]["values"]["event"]
            by_val[v] = by_val.get(v, 0) + 1
    assert by_val == {"view": 1, "click": 1}  # one file per value
    assert read_snapshot(spark, table).count() == 41
    # replay (fresh checkpoint) is a durable no-op
    v_before = current_version(table)
    _drain(spark, landing, table, f"{t}/err", f"{t}/ckpt2")
    assert current_version(table) == v_before
    assert read_snapshot(spark, table).count() == 41
    # the census (scan fallback for the untupled seed) matches the stream
    from web_analytics_on_aws_spark.sources.partitioning import (
        partition_value_census,
    )

    counts = partition_value_census(spark, table, "event")
    assert counts == {"view": 31, "click": 10}
