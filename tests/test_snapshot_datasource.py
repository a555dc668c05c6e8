"""`spark.read.format("snapshot")` Python DataSource: correctness vs
read_snapshot, time travel via option, schema evolution padding, and
filter-driven file skipping."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from web_analytics_on_aws_spark.sources.evolution import evolve_add_column
from web_analytics_on_aws_spark.sources.snapshot_datasource import (
    planned_files,
    SnapshotDataSource,
    SnapshotReader,
)
from web_analytics_on_aws_spark.sources.snapshots import (
    commit_append,
    read_snapshot,
)


@pytest.fixture()
def registered(spark):
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SnapshotDataSource)
    return spark


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_format_read_matches_read_snapshot(registered, tmp_path):
    spark = registered
    t = str(tmp_path / "t")
    commit_append(spark.range(0, 50).selectExpr("id", "id * 2 AS v"), t)
    commit_append(spark.range(50, 100).selectExpr("id", "id * 2 AS v"), t)

    via_ds = spark.read.format("snapshot").option("path", t).load()
    assert _rows(via_ds) == _rows(read_snapshot(spark, t))

    old = spark.read.format("snapshot").option("path", t).option("version", "1").load()
    assert old.count() == 50  # time travel through the option


def test_format_read_pads_evolved_schema(registered, tmp_path):
    spark = registered
    t = str(tmp_path / "t")
    commit_append(spark.range(0, 10).selectExpr("id"), t)
    evolve_add_column(spark, t, "v", "bigint")
    commit_append(spark.range(10, 20).selectExpr("id", "id * 2 AS v"), t)

    df = spark.read.format("snapshot").option("path", t).load()
    assert set(df.columns) == {"id", "v"}
    got = {r["id"]: r["v"] for r in df.collect()}
    assert got[5] is None and got[15] == 30  # old files read as null


def test_format_read_keeps_struct_field_case(registered, tmp_path):
    """Struct field names keep their case through the schema block: the
    file's struct column must cast onto the declared arrow type, which a
    lowercased ``struct<userid:...>`` does not match."""
    spark = registered
    t = str(tmp_path / "t")
    commit_append(
        spark.createDataFrame(
            [(1, (7, "a"))], "id bigint, s struct<UserId:bigint,Tag:string>"
        ),
        t,
    )
    df = spark.read.format("snapshot").option("path", t).load()
    assert df.schema["s"].dataType.fieldNames() == ["UserId", "Tag"]
    assert _rows(df) == _rows(read_snapshot(spark, t))


def test_pushed_filters_skip_files_by_footer_stats(registered, tmp_path):
    spark = registered
    t = str(tmp_path / "t")
    # two commits with disjoint id ranges → disjoint file-level min/max
    commit_append(spark.range(0, 100).selectExpr("id", "id * 2 AS v"), t)
    commit_append(spark.range(1000, 1100).selectExpr("id", "id * 2 AS v"), t)

    df = (
        spark.read.format("snapshot")
        .option("path", t)
        .load()
        .filter(F.col("id") >= 1000)
    )
    assert df.count() == 100  # correctness first

    # the reader must plan only the file(s) that can contain id >= 1000
    from pyspark.sql.datasource import GreaterThanOrEqual

    reader = SnapshotReader({"path": t}, None)
    kept = reader.pushFilters([GreaterThanOrEqual(("id",), 1000)])
    assert list(kept)  # all filters handed back to Spark
    parts = planned_files(reader.partitions())
    all_parts = planned_files(SnapshotReader({"path": t}, None).partitions())
    assert 0 < len(parts) < len(all_parts)


def test_filter_on_absent_column_keeps_file(registered, tmp_path):
    spark = registered
    t = str(tmp_path / "t")
    commit_append(spark.range(0, 10).selectExpr("id"), t)
    evolve_add_column(spark, t, "v", "bigint")
    commit_append(spark.range(10, 20).selectExpr("id", "id * 2 AS v"), t)
    # v is absent in file 1 → skipping must not drop it (its v reads null,
    # and null-safe Spark evaluation decides, not our stats)
    df = spark.read.format("snapshot").option("path", t).load().filter("v >= 0")
    assert df.count() == 10


def test_reader_honors_explicit_schema_order_and_subset(registered, tmp_path):
    """ADVICE r1: the reader must emit batches in the schema Spark passes it
    (explicit .schema(...) with reordered / subset columns), not the
    manifest-union order."""
    spark = registered
    t = str(tmp_path / "t")
    commit_append(spark.range(0, 10).selectExpr("id", "id * 2 AS v"), t)

    df = (
        spark.read.format("snapshot")
        .schema("v BIGINT, id BIGINT")  # reversed order
        .option("path", t)
        .load()
    )
    assert df.columns == ["v", "id"]
    got = {r["id"]: r["v"] for r in df.collect()}
    assert got == {i: i * 2 for i in range(10)}

    only_v = (
        spark.read.format("snapshot")
        .schema("v BIGINT")
        .option("path", t)
        .load()
    )
    assert only_v.columns == ["v"]
    assert sorted(r["v"] for r in only_v.collect()) == [i * 2 for i in range(10)]


def test_all_files_pruned_returns_empty_not_crash(registered, tmp_path):
    """When footer-stats skipping prunes EVERY file, the scan must return
    an empty result (pyspark hands read() a None partition in that case)."""
    spark = registered
    t = str(tmp_path / "t")
    commit_append(spark.range(0, 100).selectExpr("id", "id * 2 AS v"), t)
    out = (
        spark.read.format("snapshot")
        .option("path", t)
        .load()
        .filter(F.col("id") > 10_000)
    )
    assert out.count() == 0


def test_version_pinned_across_schema_and_reader(registered, tmp_path):
    """The unpinned read resolves the snapshot version ONCE at source
    construction — a commit landing after .load() must not leak into the
    already-planned scan (snapshot isolation)."""
    spark = registered
    t = str(tmp_path / "t")
    commit_append(spark.range(0, 10).selectExpr("id"), t)
    df = spark.read.format("snapshot").option("path", t).load()
    evolve_add_column(spark, t, "extra", "bigint")
    commit_append(spark.range(10, 30).selectExpr("id", "id AS extra"), t)
    # planned against v1: old rows only, old schema only
    assert df.count() == 10
    assert "extra" not in df.columns


def test_vacuum_refuses_retain_zero(registered, tmp_path):
    spark = registered
    t = str(tmp_path / "t")
    commit_append(spark.range(5).selectExpr("id"), t)
    from web_analytics_on_aws_spark.sources.snapshots import vacuum

    with pytest.raises(ValueError, match="retain_last"):
        vacuum(t, retain_last=0)


def test_uri_qualified_path_option_normalized(registered, tmp_path):
    """A file:-scheme path option (what URI-centric callers pass) resolves
    to the same snapshot as the plain path. (Catalog registration via
    CREATE TABLE ... USING snapshot is NOT supported: Spark 4.1 constructs
    the query-time Python DataSource with empty options, so table options
    never reach the reader — verified empirically; use
    spark.read.format("snapshot") or read_snapshot instead.)"""
    from web_analytics_on_aws_spark.sources.snapshots import commit_append

    spark = registered
    t = str(tmp_path / "t")
    commit_append(spark.range(0, 10).selectExpr("id", "id * 2 AS v"), t)
    df = spark.read.format("snapshot").option("path", f"file:{t}").load()
    assert df.count() == 10

def test_columns_option_prunes_schema_and_matches_full_read(registered, tmp_path):
    """r12: the `columns` option is the datasource's column-pruning hook
    (the Python DataSource API has none — the engine's Project lands above
    the scan). The pruned read must equal the full read projected, keep
    evolution padding, and reject unknown names."""
    spark = registered
    t = str(tmp_path / "t")
    commit_append(spark.range(0, 10).selectExpr("id", "id * 2 AS v"), t)
    # evolution: a third column the first file predates
    evolve_add_column(spark, t, "w", "bigint")
    commit_append(
        spark.range(10, 20).selectExpr("id", "id * 2 AS v", "id + 100 AS w"), t
    )

    pruned = (
        spark.read.format("snapshot")
        .option("path", t)
        .option("columns", "w,id")
        .load()
    )
    assert pruned.columns == ["w", "id"]  # order honored
    full = spark.read.format("snapshot").option("path", t).load()
    key = lambda r: r[1]  # id is unique; w is null on pre-evolution rows
    assert sorted(map(tuple, pruned.collect()), key=key) == sorted(
        map(tuple, full.select("w", "id").collect()), key=key
    )

    with pytest.raises(Exception, match="unknown column"):
        (
            spark.read.format("snapshot")
            .option("path", t)
            .option("columns", "nope")
            .load()
            .collect()
        )

    # duplicate names would yield an ambiguous twin column downstream
    with pytest.raises(Exception, match="repeats column"):
        (
            spark.read.format("snapshot")
            .option("path", t)
            .option("columns", "id,id")
            .load()
            .collect()
        )


def test_columns_option_eq_deletes_apply_without_key_column(registered, tmp_path):
    """MOR equality deletes must still drop rows when the delete KEY column
    is not in the pruned `columns` set (read() decodes key columns as
    key_extra and drops them before yield)."""
    from web_analytics_on_aws_spark.sources.snapshots import delete_keys_mor

    spark = registered
    t = str(tmp_path / "t")
    commit_append(spark.range(0, 20).selectExpr("id", "id * 2 AS v"), t)
    delete_keys_mor(spark, t, spark.createDataFrame([(5,), (17,)], "id long"))

    only_v = (
        spark.read.format("snapshot")
        .option("path", t)
        .option("columns", "v")
        .load()
    )
    assert sorted(r["v"] for r in only_v.collect()) == [
        i * 2 for i in range(20) if i not in (5, 17)
    ]


def test_scan_partitions_bin_pack_files(registered, tmp_path):
    """r13 (guide §2.2/§6): one Python task per PARTITION, so tiny files
    must bin-pack into few partitions (Spark's maxPartitionBytes/
    openCostInBytes parity) — per-file partitions made task count, and the
    per-task Python-boundary fixed cost, grow with file count. Planning
    (the survivor FILE list) is unaffected; `target_partition_bytes`
    re-splits."""
    from web_analytics_on_aws_spark.sources.snapshot_datasource import (
        SnapshotReader,
        planned_files,
    )

    spark = registered
    t = str(tmp_path / "t")
    commit_append(spark.range(0, 64).selectExpr("id").repartition(8), t)

    parts = SnapshotReader({"path": t}, None).partitions()
    assert len(planned_files(parts)) == 8
    assert len(parts) == 1  # 8 tiny files ≪ the 128 MB default target

    # a target below one file's open cost forces one partition per file
    split = SnapshotReader(
        {"path": t, "target_partition_bytes": "1"}, None
    ).partitions()
    assert len(split) == 8
    # and the packed read returns exactly the full row set
    got = sorted(
        r["id"]
        for r in spark.read.format("snapshot").option("path", t).load().collect()
    )
    assert got == list(range(64))
