"""Columnar (parquet) manifest segments — round 12.

The r9/r10-documented next tier of the metadata plane (SCALE.md: the
10M-file vacuum was ONE stdlib-JSON parse of 2.76 GB — 399 s): segments
are parquet with ``part``/``stats`` as compact-JSON string columns, and
the vacuum live-set fold reads the dictionary-encoded ``path`` column
alone. It is the only segment format.

Reference parity note: Iceberg stores manifests as Avro for the same
reason (column-skippable, compact); the reference's managed-Iceberg
tables (web-analytics-iceberg/README.md) get this for free from AWS.
"""

from __future__ import annotations

import glob
import os

import pyspark.sql.functions as F
import pytest

import web_analytics_on_aws_spark.sources.snapshots as S
from web_analytics_on_aws_spark.sources import partitioning as P
from web_analytics_on_aws_spark.sources.snapshot_datasource import (
    SnapshotDataSource,
)
from web_analytics_on_aws_spark.sources.snapshots import (
    commit_append,
    current_version,
    read_snapshot,
)


@pytest.fixture()
def registered(spark):
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SnapshotDataSource)
    return spark


@pytest.fixture()
def seg4(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MANIFEST_SEGMENT_FILES", "4")


def _events(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") % 5).alias("ev"),
        F.col("id").cast("double").alias("v"),
    )


def _build_sharded(spark, t, n_appends=3):
    commit_append(_events(spark, 0, 200).coalesce(1), t)
    P.set_partition_spec(spark, t, [("ev", "identity")])
    for i in range(n_appends):
        commit_append(_events(spark, 200 + i * 100, 300 + i * 100), t)
    return current_version(t)


def _segs(t):
    return glob.glob(os.path.join(t, "manifests", "segs", "seg-*.parquet"))


def _hydrated_maps(t, v):
    m = S._read_manifest(t, v)
    return {
        k: m.get(k)
        for k in ("files", "file_seq", "file_partitions", "file_stats")
    }


def test_parquet_default_roundtrips_exactly(registered, tmp_path, seg4):
    """Every segment is parquet, and the entry maps survive the columnar
    hop byte-exactly: re-writing each segment's entries yields identical
    entries (partition tuples, stats, per-file types — all of it)."""
    spark = registered
    t = str(tmp_path / "t")
    v = _build_sharded(spark, t)
    segdir = os.path.join(t, "manifests", "segs")
    assert _segs(t) and all(
        f.endswith(".parquet") for f in os.listdir(segdir) if f.startswith("seg-")
    )
    before = _hydrated_maps(t, v)
    assert before["file_partitions"] and before["file_stats"]
    head = S._read_manifest_head(t, v)
    for seg in S._effective_segments(t, head):
        entries = S._read_segment(t, seg["path"])["entries"]
        rel = S._write_segment_entries(t, entries)
        assert S._read_segment(t, rel)["entries"] == entries
    assert read_snapshot(spark, t).count() == 500


def test_vacuum_fold_reads_only_path_column(registered, tmp_path, seg4):
    """The 100 TB claim of the format: the live-set fold over columnar
    segments requests the ``path`` column alone — per-file stats bytes
    are never decompressed, let alone JSON-decoded."""
    import pyarrow.parquet as pq

    spark = registered
    t = str(tmp_path / "t")
    _build_sharded(spark, t)
    head = S._read_manifest_head(t, current_version(t))
    rels = [s["path"] for s in head.get("segments", [])]
    assert rels

    seen_cols = []
    real = pq.ParquetFile.read

    def guard(self, *a, **k):
        seen_cols.append(k.get("columns") or (a[0] if a else None))
        return real(self, *a, **k)

    pq.ParquetFile.read = guard
    try:
        keys = S._fold_segment_keys(t, rels)
    finally:
        pq.ParquetFile.read = real
    assert seen_cols and all(c == ["path"] for c in seen_cols)
    assert keys == {
        p for r in rels for p in S._read_segment(t, r)["entries"]
    }


def test_missing_parquet_segment_raises_filenotfound(
    registered, tmp_path, seg4
):
    """The commit-safety contract of _segmentize._entries depends on
    missing segments surfacing as FileNotFoundError (pyarrow raises it
    for absent paths like open() does)."""
    spark = registered
    t = str(tmp_path / "t")
    _build_sharded(spark, t, n_appends=1)
    (rel,) = [
        s["path"]
        for s in S._read_manifest_head(t, current_version(t))["segments"]
    ][:1]
    os.remove(S._segment_abspath(t, rel))
    with pytest.raises(FileNotFoundError):
        S._read_segment(t, rel)


def test_entries_without_part_or_stats_survive_the_hop(tmp_path):
    """Null columns reconstruct to ABSENT keys, not explicit Nones — the
    entry shape every writer builds, so reused and rewritten segments
    compare equal."""
    t = str(tmp_path / "t")
    entries = {
        "/d/a.parquet": {"seq": 1},
        "/d/b.parquet": {"seq": 2, "part": {"spec_id": 0, "values": {}}},
        "/d/c.parquet": {
            "seq": 3,
            "stats": {"rows": 5, "cols": {"id": [0, 4]}},
        },
    }
    rel = S._write_segment_entries(t, entries)
    assert rel.endswith(".parquet")
    assert S._read_segment(t, rel)["entries"] == entries
    assert S._segment_entry_paths(t, rel) == list(entries)


def test_metadata_table_manifests(registered, tmp_path, seg4):
    """Iceberg's ``table$manifests`` analog: one row per manifest
    segment of the current head with its member count, on-disk bytes and
    recorded path range — summaries only (the head/group layer carries
    everything)."""
    spark = registered
    t = str(tmp_path / "t")
    _build_sharded(spark, t, n_appends=1)
    commit_append(_events(spark, 300, 400), t)

    seen = []
    real = S._read_segment

    def count(tb, r):
        seen.append(r)
        return real(tb, r)

    S._read_segment = count
    try:
        rows = S.metadata_table(spark, t, "manifests").collect()
    finally:
        S._read_segment = real
    assert seen == []  # summaries only, zero segment opens
    assert len(rows) > 1
    assert all(r["path"].endswith(".parquet") for r in rows)
    assert sum(r["n_files"] for r in rows) == len(
        S._read_manifest(t, current_version(t))["files"]
    )
    for r in rows:
        assert r["size_bytes"] > 0 and r["lo_path"] <= r["hi_path"]
        assert r["record_count"] is not None  # every member carries stats
