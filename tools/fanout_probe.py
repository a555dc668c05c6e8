"""Measured contrast for the partitioned-write fanout (VERDICT r5 #1) and
manifest column stats (round 6).

1. Fanout: append a 90%-hot-value batch to an identity-spec'd table with
   SPARK_GRAFT_WRITE_FANOUT=1 (one write task per partition value — the
   old behavior) vs the default salted fanout, and report wall time +
   files-per-value. The hot value serializes through ONE task at n=1.
2. Stats: plan a pushed-filter scan over a many-file table and time
   `SnapshotReader.partitions()` with manifest stats present vs stripped
   (footer fallback) — the ~O(files) footer-read planning cost the
   manifest stats remove.

Usage: python tools/fanout_probe.py [rows] [files]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 400

    import pyspark.sql.functions as F

    from web_analytics_on_aws_spark.session import get_spark
    from web_analytics_on_aws_spark.sources import partitioning, snapshots

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {}

    # ---- 1. fanout contrast -------------------------------------------
    # bytes-driven (VERDICT r6 #1): a 90%-hot identity batch at a target
    # file size sized below the hot value's bytes gets ceil(bytes/target)
    # writers (vs ONE at fanout=1); n must GROW with planted bytes; and a
    # tiny batch at the default target writes exactly one file per value.
    df = spark.range(rows).select(
        F.col("id"),
        F.when(F.col("id") % 10 < 9, "view").otherwise("click").alias("event"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    df.count()  # materialize input plan once

    def append_with_env(data, env: dict[str, str]) -> tuple[float, dict]:
        base = tempfile.mkdtemp(prefix="fanout-probe-") + "/t"
        snapshots.commit_append(data.limit(0), base)
        partitioning.set_partition_spec(spark, base, [("event", "identity")])
        saved = {
            k: os.environ.pop(k, None)
            for k in ("SPARK_GRAFT_WRITE_FANOUT", "SPARK_GRAFT_TARGET_FILE_MB")
        }
        os.environ.update(env)
        try:
            t0 = time.time()
            snapshots.commit_append(data, base)
            wall = time.time() - t0
        finally:
            for k in ("SPARK_GRAFT_WRITE_FANOUT", "SPARK_GRAFT_TARGET_FILE_MB"):
                os.environ.pop(k, None)
                if saved[k] is not None:
                    os.environ[k] = saved[k]
        m = snapshots._read_manifest(base, snapshots.current_version(base))
        per_value: dict[str, int] = {}
        for e in m.get("file_partitions", {}).values():
            v = e["values"]["event"]
            per_value[v] = per_value.get(v, 0) + 1
        shutil.rmtree(os.path.dirname(base), ignore_errors=True)
        return wall, per_value

    wall, per_value = append_with_env(df, {"SPARK_GRAFT_WRITE_FANOUT": "1"})
    out["task_per_value"] = {"wall_s": round(wall, 2),
                             "files_per_value": per_value}
    wall, per_value = append_with_env(df, {"SPARK_GRAFT_TARGET_FILE_MB": "6"})
    out["bytes_driven"] = {"wall_s": round(wall, 2),
                           "files_per_value": per_value, "target_mb": 6}
    # n grows with planted hot-value bytes (same target, 4x the rows)
    growth = {}
    for frac, tag in ((4, "quarter"), (1, "full")):
        _w, pv = append_with_env(
            df.filter(F.col("id") % frac == 0),
            {"SPARK_GRAFT_TARGET_FILE_MB": "6"},
        )
        growth[tag] = pv.get("view", 0)
    out["hot_value_files_grow_with_bytes"] = growth
    # tiny batch at the DEFAULT target: one file per value, no salt
    _w, pv = append_with_env(df.limit(5000), {})
    out["tiny_batch_files_per_value"] = pv

    # ---- 2. manifest-stats planning contrast --------------------------
    base = tempfile.mkdtemp(prefix="stats-probe-") + "/t"
    small = spark.range(n_files).select(F.col("id").alias("k"))
    # n_files single-row files → n_files footers at plan time without stats
    snapshots.commit_append(small.repartition(n_files, "k"), base)
    from pyspark.sql.datasource import GreaterThan

    from web_analytics_on_aws_spark.sources.snapshot_datasource import (
        SnapshotReader,
        planned_files,
    )

    def plan_once() -> tuple[float, int]:
        r = SnapshotReader({"path": base}, None)
        r.pushFilters([GreaterThan(("k",), n_files - 3)])
        t0 = time.time()
        kept = len(planned_files(r.partitions()))
        return time.time() - t0, kept

    with_stats, kept_a = plan_once()
    # strip the stats → footer fallback: re-home the head's entries,
    # minus their stats, into one stats-less segment
    v = snapshots.current_version(base)
    head = snapshots._read_manifest_head(base, v)
    entries = {}
    for seg in snapshots._effective_segments(base, head):
        for p, e in snapshots._read_segment(base, seg["path"])["entries"].items():
            e.pop("stats", None)
            entries[p] = e
    rel = snapshots._write_segment_entries(base, entries)
    head.pop("groups", None)
    head["segments"] = [snapshots._summarize_segment(rel, entries)]
    with open(snapshots._manifest_path(base, v), "w") as fh:
        json.dump(head, fh)
    footer_fallback, kept_b = plan_once()
    assert kept_a == kept_b, (kept_a, kept_b)
    out["planning"] = {
        "n_files": n_files,
        "kept": kept_a,
        "manifest_stats_s": round(with_stats, 3),
        "footer_fallback_s": round(footer_fallback, 3),
        "speedup": round(footer_fallback / max(with_stats, 1e-9), 1),
    }
    shutil.rmtree(os.path.dirname(base), ignore_errors=True)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
