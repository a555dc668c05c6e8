"""ALTER TABLE schema evolution (sources/evolution.py): rename / drop /
add with column mapping over the snapshot format — metadata-only commits,
physical names in files, per-version logical rendering.

Reference parity: the reference's Iceberg tables evolve schemas in place
(web-analytics-iceberg/README.md); this is the jar-free equivalent with
Iceberg's field-id semantics (no resurrection on re-add, rename never
rewrites data).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from web_analytics_on_aws_spark.sources import evolution as E
from web_analytics_on_aws_spark.sources import snapshots as S


def _mk(spark, tmp_path, name="t"):
    t = str(tmp_path / name)
    S.commit_append(
        spark.range(5).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ),
        t,
    )
    return t


def test_rename_is_metadata_only_and_reads_back(spark, tmp_path):
    t = _mk(spark, tmp_path)
    files_before = set(S._read_manifest(t, 1)["files"])
    v = E.evolve_rename_column(spark, t, "v", "val")
    assert v == 2
    assert set(S._read_manifest(t, 2)["files"]) == files_before  # no rewrite
    out = S.read_snapshot(spark, t)
    assert out.columns == ["k", "val"]
    assert sorted(r.val for r in out.collect()) == [0, 10, 20, 30, 40]


def test_time_travel_renders_each_versions_schema(spark, tmp_path):
    t = _mk(spark, tmp_path)
    E.evolve_rename_column(spark, t, "v", "val")
    assert S.read_snapshot(spark, t, version=1).columns == ["k", "v"]
    assert S.read_snapshot(spark, t, version=2).columns == ["k", "val"]


def test_add_column_null_fills_and_append_carries_it(spark, tmp_path):
    t = _mk(spark, tmp_path)
    E.evolve_add_column(spark, t, "note", "string")
    assert [r.note for r in S.read_snapshot(spark, t).collect()] == [None] * 5
    S.commit_append(
        spark.createDataFrame([(9, 90, "hi")], "k long, v long, note string"),
        t,
    )
    got = {r.k: r.note for r in S.read_snapshot(spark, t).collect()}
    assert got[9] == "hi" and got[0] is None


def test_drop_then_readd_never_resurrects(spark, tmp_path):
    t = _mk(spark, tmp_path)
    E.evolve_add_column(spark, t, "note", "string")
    S.commit_append(
        spark.createDataFrame([(9, 90, "old")], "k long, v long, note string"),
        t,
    )
    E.evolve_drop_column(spark, t, "note")
    assert S.read_snapshot(spark, t).columns == ["k", "v"]
    E.evolve_add_column(spark, t, "note", "string")
    # Iceberg id contract: the re-added column is a NEW field — the old
    # 'old' value must NOT come back
    assert {r.note for r in S.read_snapshot(spark, t).collect()} == {None}


def test_unknown_column_write_refused_on_mapped_table(spark, tmp_path):
    t = _mk(spark, tmp_path)
    E.evolve_rename_column(spark, t, "v", "val")
    with pytest.raises(ValueError, match="evolve_add_column"):
        S.commit_append(
            spark.createDataFrame([(1, 1, "x")], "k long, val long, extra string"),
            t,
        )


def test_mistyped_write_refused_and_table_still_reads(spark, tmp_path):
    """A write whose column type is neither the declared type nor one the
    reader up-casts to it would publish a file every later read fails on
    (PARQUET_COLUMN_DATA_TYPE_MISMATCH): refuse it, naming both types."""
    t = str(tmp_path / "t")
    S.commit_append(
        spark.createDataFrame([(1, "view")], "uid bigint, event string"), t
    )
    E.evolve_rename_column(spark, t, "uid", "user_id")
    v = S.current_version(t)
    with pytest.raises(ValueError, match=r"user_id: string written, bigint declared"):
        S.commit_append(
            spark.createDataFrame(
                [("x", "buy")], "user_id string, event string"
            ),
            t,
        )
    assert S.current_version(t) == v  # nothing published
    # a narrower type the reader up-casts is accepted
    S.commit_append(
        spark.createDataFrame([(2, "buy")], "user_id int, event string"), t
    )
    out = S.read_snapshot(spark, t)
    assert dict(out.dtypes)["user_id"] == "bigint"
    assert sorted((r.user_id, r.event) for r in out.collect()) == [
        (1, "view"), (2, "buy"),
    ]


def test_rename_refused_while_constraint_references(spark, tmp_path):
    t = _mk(spark, tmp_path)
    S.set_constraints(spark, t, {"v_nonneg": "v >= 0"})
    with pytest.raises(ValueError, match="CHECK constraint"):
        E.evolve_rename_column(spark, t, "v", "val")
    with pytest.raises(ValueError, match="CHECK constraint"):
        E.evolve_drop_column(spark, t, "v")
    # un-constrained column still evolves
    E.evolve_rename_column(spark, t, "k", "key")
    assert S.read_snapshot(spark, t).columns == ["key", "v"]


def test_constraints_enforced_on_logical_names_post_rename(spark, tmp_path):
    t = _mk(spark, tmp_path)
    E.evolve_rename_column(spark, t, "v", "val")
    S.set_constraints(spark, t, {"val_nonneg": "val >= 0"})
    with pytest.raises(S.ConstraintViolation):
        S.commit_append(
            spark.createDataFrame([(99, -5)], "k long, val long"), t
        )


def test_cow_dml_on_logical_names(spark, tmp_path):
    t = _mk(spark, tmp_path)
    E.evolve_rename_column(spark, t, "v", "val")
    S.update_where(spark, t, "k = 3", {"val": "val + 1"})
    S.delete_where(spark, t, "val >= 40")
    got = {r.k: r.val for r in S.read_snapshot(spark, t).collect()}
    assert got == {0: 0, 1: 10, 2: 20, 3: 31}


def test_mor_upsert_and_change_feed_logical(spark, tmp_path):
    t = _mk(spark, tmp_path)
    E.evolve_rename_column(spark, t, "v", "val")
    E.evolve_add_column(spark, t, "note", "string")
    S.upsert_keys_mor(
        spark,
        t,
        spark.createDataFrame([(0, 111, "up")], "k long, val long, note string"),
        ["k"],
    )
    got = {r.k: (r.val, r.note) for r in S.read_snapshot(spark, t).collect()}
    assert got[0] == (111, "up") and got[1] == (10, None)
    cur = S.current_version(t)
    ch = S.table_changes(spark, t, cur - 1, cur)
    assert ch.columns == ["k", "val", "note", "_change_type"]
    ev = sorted((r.k, r.val, r._change_type) for r in ch.collect())
    assert ev == [(0, 0, "delete"), (0, 111, "insert")]


def test_mor_delete_by_predicate_and_maintenance_preserve_mapping(
    spark, tmp_path
):
    t = _mk(spark, tmp_path)
    E.evolve_rename_column(spark, t, "v", "val")
    S.delete_where_mor(spark, t, "val = 20")
    assert sorted(r.k for r in S.read_snapshot(spark, t).collect()) == [0, 1, 3, 4]
    S.maintain_table(spark, t, max_delete_files=0)
    out = S.read_snapshot(spark, t)
    assert out.columns == ["k", "val"]
    assert sorted(r.k for r in out.collect()) == [0, 1, 3, 4]


def test_merge_into_on_logical_keys_keeps_added_column(spark, tmp_path):
    t = _mk(spark, tmp_path)
    E.evolve_rename_column(spark, t, "v", "val")
    E.evolve_add_column(spark, t, "note", "string")
    S.merge_into(
        spark,
        t,
        spark.createDataFrame(
            [(1, 222, "m1"), (7, 777, "m7")], "k long, val long, note string"
        ),
        ["k"],
    )
    got = {r.k: (r.val, r.note) for r in S.read_snapshot(spark, t).collect()}
    assert got[1] == (222, "m1") and got[7] == (777, "m7")
    assert got[0] == (0, None)


def test_restore_to_pre_evolution_clears_mapping(spark, tmp_path):
    t = _mk(spark, tmp_path)
    E.evolve_rename_column(spark, t, "v", "val")
    S.restore_version(spark, t, 1)
    assert S.read_snapshot(spark, t).columns == ["k", "v"]
    # and restoring the evolved version brings the mapping back
    S.restore_version(spark, t, 2)
    assert S.read_snapshot(spark, t).columns == ["k", "val"]


def test_zorder_on_logical_column(spark, tmp_path):
    t = _mk(spark, tmp_path)
    E.evolve_rename_column(spark, t, "v", "val")
    res = S.cluster_zorder(spark, t, ["val"])
    assert res["files_out"] >= 1
    out = S.read_snapshot(spark, t)
    assert out.columns == ["k", "val"]
    assert sorted(r.val for r in out.collect()) == [0, 10, 20, 30, 40]


def test_snapshot_datasource_logical_schema_and_pushdown(spark, tmp_path):
    from web_analytics_on_aws_spark.sources.snapshot_datasource import (
        SnapshotDataSource,
    )

    spark.dataSource.register(SnapshotDataSource)
    t = _mk(spark, tmp_path)
    E.evolve_rename_column(spark, t, "v", "val")
    E.evolve_add_column(spark, t, "note", "string")
    S.commit_append(
        spark.createDataFrame(
            [(100, 1000, "x")], "k long, val long, note string"
        ),
        t,
    )
    ds = spark.read.format("snapshot").option("path", t).load()
    assert ds.columns == ["k", "val", "note"]
    # filter on the RENAMED name must still hit footer stats (physical)
    assert sorted(r.k for r in ds.filter(F.col("val") >= 90).collect()) == [100]
    assert {r.note for r in ds.filter(F.col("k") < 3).collect()} == {None}


def test_changes_stream_emits_logical_names(spark, tmp_path):
    from web_analytics_on_aws_spark.sources.changes_stream_datasource import (
        SnapshotChangesDataSource,
    )

    spark.dataSource.register(SnapshotChangesDataSource)
    t = _mk(spark, tmp_path)
    E.evolve_rename_column(spark, t, "v", "val")
    S.commit_append(spark.createDataFrame([(50, 500)], "k long, val long"), t)
    q = (
        spark.readStream.format("snapshot_changes")
        .option("path", t)
        .option("startingVersion", "2")
        .load()
        .writeStream.format("memory")
        .queryName("evo_stream_tbl")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    mem = spark.sql("SELECT * FROM evo_stream_tbl")
    assert mem.columns == ["k", "val", "_change_type", "_commit_version"]
    assert [(r.k, r.val, r._change_type) for r in mem.collect()] == [
        (50, 500, "insert")
    ]


def test_refs_carry_mapping_branch_ff_clone_wap(spark, tmp_path):
    from web_analytics_on_aws_spark.sources import refs as R

    t = _mk(spark, tmp_path)
    E.evolve_rename_column(spark, t, "v", "val")
    # branch: evolves independently, fast-forward adopts its schema
    R.create_branch(t, "dev")
    bp = R.branch_path(t, "dev")
    E.evolve_rename_column(spark, bp, "val", "value")
    S.commit_append(
        spark.createDataFrame([(200, 2000)], "k long, value long"), bp
    )
    assert R.read_ref(spark, t, "dev").columns == ["k", "value"]
    assert S.read_snapshot(spark, t).columns == ["k", "val"]  # main untouched
    R.fast_forward(t, "dev")
    out = S.read_snapshot(spark, t)
    assert out.columns == ["k", "value"] and out.count() == 6
    # WAP on the evolved head: logical payload, logical audit view
    R.commit_append_wap(
        spark.createDataFrame([(300, 3000)], "k long, value long"), t, "w1"
    )
    assert R.read_wap(spark, t, "w1").count() == 7
    R.publish_wap(t, "w1", spark=spark)
    assert S.read_snapshot(spark, t).count() == 7
    # shallow clone carries the mapping into its v1
    c = str(tmp_path / "clone")
    R.clone_table(t, c)
    assert S.read_snapshot(spark, c).columns == ["k", "value"]


def test_logical_name_swap(spark, tmp_path):
    """a→tmp, b→a, tmp→b: a full swap through a temp name — the acid test
    that reads key off field ids, not name matching."""
    t = _mk(spark, tmp_path)  # columns k, v
    E.evolve_rename_column(spark, t, "k", "tmp")
    E.evolve_rename_column(spark, t, "v", "k")
    E.evolve_rename_column(spark, t, "tmp", "v")
    out = S.read_snapshot(spark, t)
    assert out.columns == ["v", "k"]
    # v now holds the ORIGINAL k values (ids), k holds the ORIGINAL v
    rows = sorted((r.v, r.k) for r in out.collect())
    assert rows == [(i, i * 10) for i in range(5)]


def test_vacuum_safe_on_mapped_table(spark, tmp_path):
    t = _mk(spark, tmp_path)
    E.evolve_rename_column(spark, t, "v", "val")
    S.commit_append(spark.createDataFrame([(9, 90)], "k long, val long"), t)
    removed = S.vacuum(t, retain_last=1)
    assert removed >= 0
    out = S.read_snapshot(spark, t)
    assert out.columns == ["k", "val"] and out.count() == 6


def test_eq_delete_sidecar_stores_physical_keys(spark, tmp_path):
    """delete_keys_mor on a renamed key: the sidecar must store the stable
    physical name so resolution over old files works."""
    t = _mk(spark, tmp_path)
    E.evolve_rename_column(spark, t, "k", "key")
    S.delete_keys_mor(
        spark, t, spark.createDataFrame([(2,)], "key long")
    )
    assert sorted(r.key for r in S.read_snapshot(spark, t).collect()) == [0, 1, 3, 4]
    m = S._read_manifest(t, S.current_version(t))
    assert m["eq_deletes"][0]["keys"] == ["k"]  # physical name in sidecar
    # and maintenance folds it fine
    S.maintain_table(spark, t, max_delete_files=0)
    assert sorted(r.key for r in S.read_snapshot(spark, t).collect()) == [0, 1, 3, 4]


# ---------------------------------------------------------------------------
# type widening (VERDICT r5 #5) — evolve_widen_column
# ---------------------------------------------------------------------------


def test_widen_int_to_bigint_metadata_only(spark, tmp_path):
    t = str(tmp_path / "t")
    S.commit_append(
        spark.createDataFrame([(1, 7), (2, 8)], "k int, v int"), t
    )
    # the first commit recorded the identity mapping; widening edits it
    v = E.evolve_widen_column(spark, t, "v", "bigint")
    files_before = set(S._read_manifest(t, v - 1)["files"])
    assert set(S._read_manifest(t, v)["files"]) == files_before  # no rewrite
    # old int bytes read back as bigint
    out = S.read_snapshot(spark, t)
    assert dict(out.dtypes)["v"] == "bigint"
    assert sorted((r.k, r.v) for r in out.collect()) == [(1, 7), (2, 8)]
    # appends of the WIDE type land next to the narrow files
    S.commit_append(
        spark.createDataFrame([(3, 2**40)], "k int, v long"), t
    )
    out = S.read_snapshot(spark, t)
    assert sorted(r.v for r in out.collect()) == [7, 8, 2**40]
    # time travel renders each version's type
    assert dict(S.read_snapshot(spark, t, version=1).dtypes)["v"] == "int"
    assert dict(S.read_snapshot(spark, t, version=v).dtypes)["v"] == "bigint"
    # the snapshot DataSource renders the widened type too
    spark.dataSource.register(__import__(
        "web_analytics_on_aws_spark.sources.snapshot_datasource",
        fromlist=["SnapshotDataSource"],
    ).SnapshotDataSource)
    ds = spark.read.format("snapshot").option("path", t).load()
    assert dict(ds.dtypes)["v"] == "bigint"
    assert sorted(r.v for r in ds.collect()) == [7, 8, 2**40]


def test_widen_float_double_and_decimal(spark, tmp_path):
    t = str(tmp_path / "t")
    S.commit_append(
        spark.sql(
            "select cast(1.5 as float) f, cast(1.50 as decimal(5,2)) d"
        ),
        t,
    )
    E.evolve_widen_column(spark, t, "f", "double")
    E.evolve_widen_column(spark, t, "d", "decimal(12,2)")
    out = S.read_snapshot(spark, t)
    assert dict(out.dtypes) == {"f": "double", "d": "decimal(12,2)"}
    r = out.collect()[0]
    assert abs(r.f - 1.5) < 1e-9 and str(r.d) == "1.50"


def test_widen_refuses_lossy_promotions(spark, tmp_path):
    t = str(tmp_path / "t")
    S.commit_append(spark.createDataFrame([(1, "x")], "k long, s string"), t)
    for bad in [("k", "int"), ("k", "double"), ("s", "bigint")]:
        with pytest.raises(ValueError, match="not a safe promotion"):
            E.evolve_widen_column(spark, t, *bad)


def test_widen_carries_through_dml_and_cdf(spark, tmp_path):
    t = str(tmp_path / "t")
    S.commit_append(
        spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k int, v int"), t
    )
    E.evolve_widen_column(spark, t, "v", "bigint")
    v0 = S.current_version(t)
    # CoW update touches the narrow files and writes wide bytes
    S.update_where(spark, t, "k = 2", {"v": "cast(2199023255552 as bigint)"})
    out = {r.k: r.v for r in S.read_snapshot(spark, t).collect()}
    assert out == {1: 10, 2: 2199023255552, 3: 30}
    # CDF across the widening renders one consistent wide type
    ch = S.table_changes(spark, t, v0, S.current_version(t))
    assert dict(ch.dtypes)["v"] == "bigint"
    kinds = {(r.k, r._change_type): r.v for r in ch.collect()}
    assert kinds[(2, "insert")] == 2199023255552 and kinds[(2, "delete")] == 20
    # maintenance compaction across mixed-width files stays readable
    S.optimize(spark, t, small_file_mb=8.0, min_small_files=2)
    assert {r.k: r.v for r in S.read_snapshot(spark, t).collect()} == out


def test_drop_refused_while_in_sort_order_or_partition_spec(
    spark, tmp_path
):
    """ADVICE r6: dropping a column named by the write sort order (or
    transformed by the current partition spec) would brick every later
    write — _sorted_for_write / write_partitioned_files repartition on a
    column to_physical no longer produces. Refused until the user clears
    the order/spec; clearing unblocks the drop."""
    from web_analytics_on_aws_spark.sources.partitioning import (
        set_partition_spec,
    )

    t = _mk(spark, tmp_path)
    S.set_sort_order(spark, t, ["v"])
    with pytest.raises(ValueError, match="sort order"):
        E.evolve_drop_column(spark, t, "v")
    S.set_sort_order(spark, t, [])

    set_partition_spec(spark, t, [("v", "bucket[4]")])
    with pytest.raises(ValueError, match="partition spec"):
        E.evolve_drop_column(spark, t, "v")
    # retired specs don't block: evolve the spec away, then drop
    set_partition_spec(spark, t, [])
    E.evolve_drop_column(spark, t, "v")
    assert [c for c, _ in S.read_snapshot(spark, t).dtypes] == ["k"]
    # writes still work after the drop
    S.commit_append(spark.createDataFrame([(99,)], "k long"), t)
    assert S.read_snapshot(spark, t).count() == 6
