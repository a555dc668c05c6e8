"""Named refs: tags, branches, shallow clones, write-audit-publish.

Models Iceberg's ref spec (tags/branches as named snapshot pointers,
WAP staged commits via `spark.wap.id`) and Delta SHALLOW CLONE — the
managed-Iceberg semantics the reference's tables rely on
(web-analytics-iceberg/README.md), re-created jar-free."""

from __future__ import annotations

import glob
import os

import pytest

from web_analytics_on_aws_spark.sources.refs import (
    branch_path,
    clone_table,
    commit_append_wap,
    create_branch,
    create_tag,
    discard_wap,
    drop_branch,
    drop_tag,
    fast_forward,
    list_refs,
    publish_wap,
    read_ref,
    read_wap,
    resolve_tag,
)
from web_analytics_on_aws_spark.sources.snapshots import (
    CommitConflict,
    commit_append,
    current_version,
    delete_keys_mor,
    history,
    metadata_table,
    read_snapshot,
    vacuum,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS v")


def _ids(df):
    return {r.id for r in df.collect()}


def _parquet_under(path):
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)


# ------------------------------------------------------------------ tags


def test_tag_pins_version_and_survives_vacuum(spark, tmp_path):
    from web_analytics_on_aws_spark.sources.snapshots import commit_overwrite

    t = str(tmp_path / "t")
    commit_append(_df(spark, 0, 10), t)
    assert create_tag(t, "v1-audit") == 1
    # overwrite: v1's files become unreferenced by the head — without the
    # tag, vacuum(retain_last=1) would collect manifest AND files
    commit_overwrite(_df(spark, 20, 30), t)

    assert _ids(read_ref(spark, t, "v1-audit")) == set(range(10))
    assert resolve_tag(t, "v1-audit") == 1

    # the tag keeps both alive (Iceberg tag retention)
    assert vacuum(t, retain_last=1) == 0
    assert _ids(read_ref(spark, t, "v1-audit")) == set(range(10))
    assert _ids(read_snapshot(spark, t)) == set(range(20, 30))

    # dropping the tag releases retention: the next vacuum collects v1
    drop_tag(t, "v1-audit")
    assert vacuum(t, retain_last=1) > 0
    assert _ids(read_snapshot(spark, t)) == set(range(20, 30))


def test_tag_validation(spark, tmp_path):
    t = str(tmp_path / "t")
    commit_append(_df(spark, 0, 5), t)
    create_tag(t, "rel")
    with pytest.raises(ValueError, match="already exists"):
        create_tag(t, "rel")
    with pytest.raises(FileNotFoundError):
        create_tag(t, "ghost", version=99)
    with pytest.raises(ValueError, match="invalid ref name"):
        create_tag(t, "../escape")
    with pytest.raises(FileNotFoundError):
        drop_tag(t, "never")
    with pytest.raises(FileNotFoundError):
        read_ref(spark, t, "never")


# ------------------------------------------------------------- clones


def test_shallow_clone_is_zero_copy_and_isolated(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    commit_append(_df(spark, 0, 100), src)
    assert clone_table(src, dst) == 1

    # zero-copy: the clone wrote NO parquet of its own
    assert _parquet_under(os.path.join(dst, "data")) == []
    assert _ids(read_snapshot(spark, dst)) == set(range(100))

    # writes to the clone are invisible to src, and vice versa
    commit_append(_df(spark, 100, 110), dst)
    commit_append(_df(spark, 500, 505), src)
    assert _ids(read_snapshot(spark, dst)) == set(range(110))
    assert 500 not in _ids(read_snapshot(spark, dst))
    assert 100 not in _ids(read_snapshot(spark, src))

    # clone vacuum never touches src data files
    n_src = len(_parquet_under(os.path.join(src, "data")))
    vacuum(dst, retain_last=1)
    assert len(_parquet_under(os.path.join(src, "data"))) == n_src
    assert _ids(read_snapshot(spark, src)) == set(range(100)) | {
        500, 501, 502, 503, 504
    }
    with pytest.raises(ValueError, match="already has snapshots"):
        clone_table(src, dst)


def test_clone_carries_mor_deletes_and_sequences(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    commit_append(_df(spark, 0, 10), src)
    delete_keys_mor(spark, src, spark.createDataFrame([(3,), (7,)], "id long"))
    clone_table(src, dst)
    assert _ids(read_snapshot(spark, dst)) == set(range(10)) - {3, 7}
    # appends to the clone stay OUT of the carried eq delete's scope
    commit_append(spark.createDataFrame([(3, 99)], "id long, v long"), dst)
    assert 3 in _ids(read_snapshot(spark, dst))


def test_clone_of_deep_source_preserves_eq_sequence_scope(spark, tmp_path):
    """r9 regression: the fork's first manifest publishes AT the source's
    version number. A clone restarting at v1 would let a carried eq
    delete (seq = src head, here 5) wrongly reach the clone's own future
    appends — their sequences would restart below the sidecar's."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    for i in range(4):  # v1..v4
        commit_append(_df(spark, i * 10, (i + 1) * 10).coalesce(1), src)
    delete_keys_mor(spark, src, spark.createDataFrame([(3,)], "id long"))
    base = clone_table(src, dst)  # src head v5, eq delete seq 5
    assert base == 5 and current_version(dst) == 5
    assert _ids(read_snapshot(spark, dst)) == set(range(40)) - {3}
    # the clone's append commits at seq 6 > 5 — its re-insert of key 3
    # must survive the carried sidecar
    commit_append(spark.createDataFrame([(3, 99)], "id long, v long"), dst)
    assert 3 in _ids(read_snapshot(spark, dst))


# ------------------------------------------------------------ branches


def test_branch_write_isolation_and_fast_forward(spark, tmp_path):
    t = str(tmp_path / "t")
    commit_append(_df(spark, 0, 50), t)
    bp = create_branch(t, "backfill")
    assert bp == branch_path(t, "backfill")

    commit_append(_df(spark, 50, 60), bp)
    assert _ids(read_ref(spark, t, "backfill")) == set(range(60))
    assert _ids(read_snapshot(spark, t)) == set(range(50))  # main unchanged

    assert fast_forward(t, "backfill") == 2
    assert _ids(read_snapshot(spark, t)) == set(range(60))
    assert history(t)[-1]["operation"] == "fast_forward"

    drop_branch(t, "backfill")
    with pytest.raises(FileNotFoundError):
        fast_forward(t, "backfill")
    # branch-local data files were adopted by main at fast_forward — the
    # drop must not have broken main
    assert _ids(read_snapshot(spark, t)) == set(range(60))


def test_fast_forward_refuses_diverged_main(spark, tmp_path):
    t = str(tmp_path / "t")
    commit_append(_df(spark, 0, 10), t)
    bp = create_branch(t, "exp")
    commit_append(_df(spark, 10, 15), bp)
    commit_append(_df(spark, 100, 105), t)  # main advances
    with pytest.raises(CommitConflict, match="diverged"):
        fast_forward(t, "exp")
    with pytest.raises(ValueError, match="already exists"):
        create_branch(t, "exp")


def test_parent_vacuum_protects_branch_referenced_files(spark, tmp_path):
    t = str(tmp_path / "t")
    commit_append(_df(spark, 0, 10), t)
    create_branch(t, "keep")
    # overwrite main: without the branch, v1's files would be collected
    from web_analytics_on_aws_spark.sources.snapshots import commit_overwrite

    commit_overwrite(_df(spark, 100, 103), t)
    vacuum(t, retain_last=1)
    assert _ids(read_ref(spark, t, "keep")) == set(range(10))
    # after dropping the branch the files genuinely collect
    drop_branch(t, "keep")
    assert vacuum(t, retain_last=1) > 0


# ---------------------------------------------------------------- WAP


def test_wap_stage_audit_publish(spark, tmp_path):
    t = str(tmp_path / "t")
    commit_append(_df(spark, 0, 10), t)
    commit_append_wap(_df(spark, 10, 20), t, "batch-42")

    # staged but invisible
    assert _ids(read_snapshot(spark, t)) == set(range(10))
    assert current_version(t) == 1
    # the audit view sees head + staged
    assert _ids(read_wap(spark, t, "batch-42")) == set(range(20))

    # main advances between stage and publish → publish rebases (append)
    commit_append(_df(spark, 100, 103), t)
    v = publish_wap(t, "batch-42")
    assert v == 3
    assert _ids(read_snapshot(spark, t)) == set(range(20)) | {100, 101, 102}
    assert history(t)[-1]["operation"] == "publish_wap"
    with pytest.raises(FileNotFoundError, match="published, or discarded"):
        publish_wap(t, "batch-42")


def test_wap_discard_and_vacuum(spark, tmp_path):
    t = str(tmp_path / "t")
    commit_append(_df(spark, 0, 10), t)
    commit_append_wap(_df(spark, 10, 20), t, "bad-batch")
    with pytest.raises(ValueError, match="already staged"):
        commit_append_wap(_df(spark, 10, 20), t, "bad-batch")

    # staged files are vacuum-protected while the stage exists
    n = len(_parquet_under(os.path.join(t, "data")))
    assert vacuum(t, retain_last=1) == 0
    assert len(_parquet_under(os.path.join(t, "data"))) == n

    discard_wap(t, "bad-batch")
    assert _ids(read_snapshot(spark, t)) == set(range(10))
    assert vacuum(t, retain_last=1) > 0  # audit-failed files collected
    with pytest.raises(FileNotFoundError):
        read_wap(spark, t, "bad-batch")


# ------------------------------------------------------ metadata/refs


def test_refs_metadata_table_and_cli(spark, tmp_path, capsys):
    from web_analytics_on_aws_spark.__main__ import main

    t = str(tmp_path / "t")
    commit_append(_df(spark, 0, 10), t)
    create_tag(t, "rel-1")
    create_branch(t, "exp")
    commit_append_wap(_df(spark, 10, 12), t, "w1")

    refs = {(r["kind"], r["name"]) for r in list_refs(t)}
    assert refs == {("tag", "rel-1"), ("branch", "exp"), ("wap", "w1")}
    rows = metadata_table(spark, t, "refs").collect()
    assert {(r["kind"], r["name"]) for r in rows} == refs
    by = {r["kind"]: r for r in rows}
    assert by["tag"]["version"] == 1
    assert by["branch"]["base_version"] == 1
    assert by["wap"]["base_version"] == 1

    assert main(["snapshot", t, "refs"]) == 0
    assert "rel-1" in capsys.readouterr().out

    # empty-refs table still renders (schema-stable)
    t2 = str(tmp_path / "t2")
    commit_append(_df(spark, 0, 3), t2)
    assert metadata_table(spark, t2, "refs").count() == 0


# ----------------------------------------------- ADVICE r4 regressions


def test_vacuum_protects_branch_files_with_relative_table_path(
    spark, tmp_path
):
    """ADVICE r4 (high): branch manifests store ABSOLUTE paths while a
    relative table path makes vacuum's data-dir walk relative — a literal
    string compare GC'd ref-protected files. Liveness must compare
    normalized paths. (No chdir: Spark's JVM resolves relative writes
    against ITS cwd, so build the relative spelling from the real one.)"""
    t = os.path.relpath(str(tmp_path / "t"))  # deliberately relative
    assert not os.path.isabs(t)
    commit_append(_df(spark, 0, 10).coalesce(1), t)
    create_branch(t, "exp")
    # advance main twice so v1's file leaves the retained window
    from web_analytics_on_aws_spark.sources.snapshots import commit_overwrite

    commit_overwrite(_df(spark, 100, 110).coalesce(1), t)
    commit_overwrite(_df(spark, 200, 210).coalesce(1), t)
    vacuum(t, retain_last=1)
    # the branch still reads its fork of v1 — its referenced files survive
    assert _ids(read_ref(spark, t, "exp")) == set(range(10))
    # and head reads stay intact after the walk-path normalization
    assert _ids(read_snapshot(spark, t)) == set(range(200, 210))


def test_vacuum_after_fast_forward_keeps_adopted_files(spark, tmp_path):
    """After fast_forward the head manifest references ABSOLUTE adopted
    paths; vacuum with a relative table path must not GC them."""
    t = os.path.relpath(str(tmp_path / "fftab"))
    assert not os.path.isabs(t)
    commit_append(_df(spark, 0, 5).coalesce(1), t)
    create_branch(t, "b")
    commit_append(_df(spark, 5, 8).coalesce(1), branch_path(t, "b"))
    fast_forward(t, "b")
    drop_branch(t, "b")
    vacuum(t, retain_last=1)
    assert _ids(read_snapshot(spark, t)) == set(range(8))


def test_wap_stage_validates_check_constraints(spark, tmp_path):
    """ADVICE r4 (medium): the WAP path must not bypass CHECK constraints —
    staging validates the written bytes exactly like commit_append."""
    from web_analytics_on_aws_spark.sources.snapshots import (
        ConstraintViolation,
        set_constraints,
    )

    t = str(tmp_path / "t")
    commit_append(_df(spark, 0, 5), t)
    set_constraints(spark, t, {"v_nonneg": "v >= 0"})
    with pytest.raises(ConstraintViolation):
        commit_append_wap(
            spark.range(1).selectExpr("id + 90 AS id", "-1 AS v"), t, "bad"
        )
    # valid rows stage and publish fine under the constraint
    commit_append_wap(_df(spark, 5, 7), t, "good")
    publish_wap(t, "good")
    assert _ids(read_snapshot(spark, t)) == set(range(7))


def test_wap_publish_revalidates_when_constraints_changed(spark, tmp_path):
    """Constraints added AFTER staging: publish refuses without a session,
    re-validates (and rejects violating stages) with one."""
    from web_analytics_on_aws_spark.sources.snapshots import (
        ConstraintViolation,
        set_constraints,
    )

    t = str(tmp_path / "t")
    commit_append(_df(spark, 0, 5), t)
    commit_append_wap(
        spark.range(1).selectExpr("id + 90 AS id", "-1 AS v"), t, "w1"
    )
    set_constraints(spark, t, {"v_nonneg": "v >= 0"})
    with pytest.raises(ValueError, match="re-validate"):
        publish_wap(t, "w1")
    with pytest.raises(ConstraintViolation):
        publish_wap(t, "w1", spark=spark)
    # the stage survives a failed publish; a clean stage publishes
    discard_wap(t, "w1")
    commit_append_wap(_df(spark, 5, 6), t, "w2")
    publish_wap(t, "w2", spark=spark)
    assert _ids(read_snapshot(spark, t)) == set(range(6))


def test_wap_append_applies_write_sort_order(spark, tmp_path):
    """ADVICE r6: staged (WAP) appends honor the table's declared write
    order exactly like commit_append — otherwise WAP-published files skip
    the range exchange and their manifest column stats stay overlapping
    envelopes instead of disjoint bands."""
    import pyspark.sql.functions as F

    from web_analytics_on_aws_spark.sources.snapshots import (
        _read_manifest,
        current_version,
        set_sort_order,
    )

    t = str(tmp_path / "t")
    commit_append(_df(spark, 0, 1).limit(0), t)
    set_sort_order(spark, t, ["id"])
    shuffled = (
        spark.range(3000)
        .select((F.col("id") * 1315423911 % 3000).alias("id"))
        .withColumn("v", F.col("id") * 2)
        .repartition(4)
    )
    coalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        commit_append_wap(shuffled, t, "ordered-batch")
    finally:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", coalesce
        )
    publish_wap(t, "ordered-batch")
    m = _read_manifest(t, current_version(t))
    fs = m.get("file_stats", {})
    bands = sorted(tuple(fs[f]["cols"]["id"]) for f in m["files"])
    assert len(bands) >= 4
    assert all(bands[i][1] < bands[i + 1][0] for i in range(len(bands) - 1))


# ----------------------------------------------- ADVICE r11 regressions


def test_list_refs_tolerates_null_base_version_marker(spark, tmp_path):
    """ADVICE r11: a clone marker carrying an explicit JSON-null
    ``base_version`` (legacy or externally written) made ``list_refs``
    raise ``TypeError`` on ``int(None)``, breaking ref listing for the
    whole table; and ``drop_clone`` promotion re-emitted that null into
    the promoted grandchild marker. The reader now treats null like the
    absent key, and promotion omits the key entirely when it has no pin."""
    import json as _json

    from web_analytics_on_aws_spark.sources.refs import drop_clone

    a = str(tmp_path / "A")
    b = str(tmp_path / "B")
    c = str(tmp_path / "C")
    commit_append(_df(spark, 0, 10), a)
    clone_table(a, b)
    clone_table(b, c)
    # rewrite A's marker for B as a legacy null-pin marker
    rdir = os.path.join(a, "refs")
    (marker,) = [f for f in os.listdir(rdir) if f.startswith("clone-")]
    mp = os.path.join(rdir, marker)
    with open(mp) as f:
        m = _json.load(f)
    m["base_version"] = None
    with open(mp, "w") as f:
        _json.dump(m, f)

    refs = list_refs(a)  # used to raise TypeError
    assert [(r["kind"], r["base_version"]) for r in refs] == [
        ("clone", None)
    ]

    # promotion under a null pin: grandchild marker omits the key, and
    # listing the promoted state still works
    assert drop_clone(a, b) == 1
    markers = [
        _json.load(open(os.path.join(rdir, f)))
        for f in os.listdir(rdir)
        if f.startswith("clone-")
    ]
    assert [m["dst"] for m in markers] == [os.path.abspath(c)]
    assert "base_version" not in markers[0]
    assert [r["base_version"] for r in list_refs(a)] == [None]
    # the promoted grandchild still reads (marker alone protects it here)
    assert _ids(read_snapshot(spark, c)) == set(range(10))
