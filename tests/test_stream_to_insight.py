"""End-to-end stream→insight parity: records stream through the validated
snapshot sink across multiple micro-batch drains, and event-time
engagement aggregates computed on the resulting ACID table must equal the
ground truth computed directly from the landed records — i.e. the
streaming path loses nothing, duplicates nothing, and preserves event
time well enough for day-grain analytics."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F

from web_analytics_on_aws_spark.sources.snapshots import read_snapshot
from web_analytics_on_aws_spark.streaming.snapshot_sink import start_snapshot_upsert


def _rec(user: str, ts: str, uri: str) -> str:
    return json.dumps(
        {
            "user_id": user, "session_id": "s" * 24, "event": "view",
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
    assert q.awaitTermination(120), "drain did not finish within 120 s"


def test_streamed_table_matches_batch_engagement_truth(spark, tmp_path):
    t = str(tmp_path)
    landing, table = f"{t}/landing", f"{t}/table"

    # ground truth: (user, day) activity across two drains
    plan = [
        ("u1", "2026-03-01"), ("u2", "2026-03-01"),
        ("u1", "2026-03-02"), ("u3", "2026-03-02"),
        # second drain: day-2 stragglers + day 3
        ("u2", "2026-03-02"), ("u1", "2026-03-03"),
        ("u4", "2026-03-03"), ("u4", "2026-03-03"),  # same user twice
    ]
    batch1 = [
        _rec(u, f"{d}T0{i % 10}:15:00Z", f"/p/{i}")
        for i, (u, d) in enumerate(plan[:4])
    ]
    batch2 = [
        _rec(u, f"{d}T1{i % 10}:45:00Z", f"/p/{i}")
        for i, (u, d) in enumerate(plan[4:])
    ] + ["not json", _rec("ubad", "2026-03-03 10:00:00", "/bad")]  # quarantine

    _land(landing, "b1.jsonl", batch1)
    _drain(spark, landing, table, f"{t}/err", f"{t}/ckpt")
    _land(landing, "b2.jsonl", batch2)
    _drain(spark, landing, table, f"{t}/err", f"{t}/ckpt")

    snap = read_snapshot(spark, table)
    assert snap.count() == len(plan)  # all valid rows, nothing else

    # DAU from the streamed table == python ground truth
    got = {
        (str(r["day"]), r["dau"])
        for r in snap.select(
            F.to_date("timestamp").alias("day"), "user_id"
        )
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("dau"))
        .collect()
    }
    truth: dict[str, set] = {}
    for u, d in plan:
        truth.setdefault(d, set()).add(u)
    assert got == {(d, len(us)) for d, us in truth.items()}

    # quarantine holds exactly the two invalid lines
    assert spark.read.text(f"{t}/err", recursiveFileLookup=True).count() == 2

    # per-user totals survive the multi-drain append path
    per_user = {
        r["user_id"]: r["n"]
        for r in snap.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    from collections import Counter

    assert per_user == dict(Counter(u for u, _ in plan))
