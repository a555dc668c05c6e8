"""Property-based storage-lifecycle fuzz: for ARBITRARY commit sequences
(append / CoW merge / CoW delete / MOR position delete / MOR key delete /
MOR upsert / restore / maintenance), three independent readers of the
snapshot table must agree with a pure-Python model:

1. the head read (`read_snapshot`) equals the model state;
2. the streaming change feed drained from version 1 FOLDS to the model
   (insert/delete events applied to the v1 state) — crossing every MOR
   and maintenance commit in the sequence;
3. `table_statistics` reports the exact live row count whenever it
   claims exactness.

This is the composition the hand-written pins can't cover: interleavings
like mor-upsert → restore → compact → stream are exactly where change
feeds historically break (the ADVICE r3 equality-delete refusal was one
such). CoW ops refuse while sidecars are outstanding, so the driver
compacts first — modeled as a no-op maintenance commit, exactly the
production discipline.
"""

from __future__ import annotations

import tempfile

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from web_analytics_on_aws_spark.sources.snapshots import (
    _manifest_deletes,
    _manifest_eq_deletes,
    _read_manifest,
    commit_append,
    current_version,
    delete_keys_mor,
    delete_where,
    delete_where_mor,
    maintain_table,
    merge_into,
    read_snapshot,
    restore_version,
    table_statistics,
    upsert_keys_mor,
)

OPS = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.integers(1, 4)),
        st.tuples(st.just("merge"), st.integers(1, 3)),
        st.tuples(st.just("cow_delete"), st.integers(0, 2)),
        st.tuples(st.just("mor_delete"), st.integers(0, 2)),
        st.tuples(st.just("del_keys"), st.integers(1, 3)),
        st.tuples(st.just("upsert_mor"), st.integers(1, 3)),
        st.tuples(st.just("restore"), st.integers(1, 2)),
        st.tuples(st.just("maintain"), st.just(0)),
        # round-6 metadata/layout ops — rows must be bit-identical across
        # any interleaving of partition-spec changes, write sort orders,
        # and type widening (each bumps a version but never changes data)
        st.tuples(st.just("set_spec"), st.integers(0, 3)),
        st.tuples(st.just("sort"), st.integers(0, 1)),
        st.tuples(st.just("widen"), st.just(0)),
    ),
    min_size=2,
    max_size=5,
)

# 3 (round 7): a coarse IDENTITY spec — appends route through the
# bytes-driven fanout plan, and with a sort order set, through the
# range-exchange sorted partitioned write
_SPECS = {0: [("id", "bucket[4]")], 1: [("id", "truncate[8]")], 2: [],
          3: [("val", "identity")]}


def _df(spark, rows):
    # val is INT so the widen op (int→bigint, metadata-only) is reachable;
    # post-widen appends keep writing int bytes — the reader up-casts
    return spark.createDataFrame(
        [(int(i), int(v)) for i, v in rows], "id long, val int"
    ).coalesce(1)


def _dirty(t):
    m = _read_manifest(t, current_version(t))
    return bool(_manifest_deletes(m) or _manifest_eq_deletes(m))


@settings(
    # env-tunable so round-end deep hunts can crank the budget without a
    # code edit (default stays CI-cheap)
    max_examples=int(__import__("os").environ.get("SNAP_FUZZ_EXAMPLES", "4")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
# r4 falsifier #1: restore crossing a MOR upsert left the upsert's file
# fully eq-dead — changes_rows' dv branch called t.take([]) and pyarrow
# raised ArrowNotImplementedError (fixed: empty-alive guard mirrors the
# only_positions branch).
@example(ops=[("append", 1), ("upsert_mor", 1), ("restore", 2)])
# r4 falsifier #2: maintain_table advances up to 3 versions per call
# (convert → fold → optimize) but the model recorded only final-version
# state, so a restore targeting an intermediate version KeyError'd the
# TEST's model (product restore was fine). Fixed: restore targets are
# drawn from recorded versions only.
@example(ops=[("upsert_mor", 1), ("merge", 1), ("restore", 2)])
# round-6 seed shapes: spec + widen + restore crossing each other, widened
# types crossing MOR + the change feed, sorted writes crossing compaction
@example(ops=[("set_spec", 0), ("append", 2), ("widen", 0), ("append", 2),
              ("restore", 1)])
@example(ops=[("widen", 0), ("upsert_mor", 2), ("maintain", 0),
              ("append", 1)])
@example(ops=[("sort", 1), ("append", 3), ("mor_delete", 0),
              ("set_spec", 1), ("merge", 1)])
# round-7 seed shapes: sorted IDENTITY-partitioned writes (range-exchange
# path) crossing MOR + maintenance (sort-aware optimize), and spec+sort
# metadata crossing a restore
@example(ops=[("set_spec", 3), ("sort", 1), ("append", 4),
              ("upsert_mor", 2), ("maintain", 0)])
@example(ops=[("sort", 1), ("set_spec", 3), ("append", 3),
              ("restore", 1), ("append", 2)])
@pytest.mark.slow  # deep lifecycle sweep; default run must fit the driver budget
@given(ops=OPS)
def test_any_commit_sequence_reads_and_streams_consistently(spark, ops):
    t = tempfile.mkdtemp(prefix="snap-prop-") + "/t"
    model: dict[int, int] = {i: i * 10 for i in range(4)}
    next_id = 4
    commit_append(_df(spark, model.items()), t)
    history = {current_version(t): dict(model)}

    def clean():
        nonlocal model
        if _dirty(t):
            maintain_table(spark, t, max_delete_files=0)
            history[current_version(t)] = dict(model)

    for op, arg in ops:
        if op == "append":
            rows = {next_id + j: (next_id + j) * 10 for j in range(arg)}
            next_id += arg
            commit_append(_df(spark, rows.items()), t)
            model.update(rows)
        elif op == "merge":
            clean()
            ups = {i: model[i] + 7 for i in sorted(model)[:arg]}
            ups[next_id] = next_id * 10
            model.update(ups)
            next_id += 1
            merge_into(spark, t, _df(spark, ups.items()), ["id"])
        elif op == "cow_delete":
            clean()
            delete_where(spark, t, f"id % 3 = {arg}")
            model = {i: v for i, v in model.items() if i % 3 != arg}
        elif op == "mor_delete":
            delete_where_mor(spark, t, f"id % 5 = {arg}")
            model = {i: v for i, v in model.items() if i % 5 != arg}
        elif op == "del_keys":
            keys = sorted(model)[:arg]
            if keys:
                delete_keys_mor(
                    spark, t, _df(spark, [(k, 0) for k in keys]).select("id")
                )
                model = {i: v for i, v in model.items() if i not in keys}
        elif op == "upsert_mor":
            ups = {i: model[i] + 3 for i in sorted(model)[-arg:]}
            ups[next_id] = next_id * 10
            next_id += 1
            model.update(ups)
            upsert_keys_mor(spark, t, _df(spark, ups.items()), ["id"])
        elif op == "restore":
            # Multi-commit ops (maintain_table: convert → fold → optimize,
            # up to 3 versions per call) leave gaps in `history` — restore
            # targets must come from RECORDED versions, walking `arg` steps
            # back through them (the product handles intermediates fine;
            # the model deliberately only tracks op boundaries).
            recorded = sorted(history)
            target = recorded[max(0, len(recorded) - 1 - arg)]
            restore_version(spark, t, target)
            model = dict(history[target])
        elif op == "maintain":
            maintain_table(spark, t, max_delete_files=0)
        elif op == "set_spec":
            from web_analytics_on_aws_spark.sources.partitioning import (
                set_partition_spec,
            )

            set_partition_spec(spark, t, _SPECS[arg])
        elif op == "sort":
            from web_analytics_on_aws_spark.sources.snapshots import (
                set_sort_order,
            )

            set_sort_order(spark, t, ["val"] if arg else [])
        elif op == "widen":
            from web_analytics_on_aws_spark.sources.evolution import (
                evolve_widen_column,
            )

            sch = _read_manifest(t, current_version(t)).get("schema")
            cur_type = (
                next(f["type"] for f in sch["fields"] if f["name"] == "val")
                if sch
                else "int"
            )
            if cur_type == "int":
                evolve_widen_column(spark, t, "val", "bigint")
        history[current_version(t)] = dict(model)

    # 1. head read ≡ model
    head = {r["id"]: r["val"] for r in read_snapshot(spark, t).collect()}
    assert head == model

    # 2. stream fold from v1 ≡ model (exercises eq-delete resolution,
    # restore undeletes, maintenance no-ops in ONE feed)
    from web_analytics_on_aws_spark.sources.changes_stream_datasource import (
        changes_rows,
    )

    state = dict(history[1])
    hv = current_version(t)
    for v in range(1, hv):
        evs = list(changes_rows(t, v, v + 1, ["id", "val"]))
        # retract-then-add within a commit: an update is delete(old) +
        # insert(new) of the same key, unordered within the batch
        for rid, val, kind, _v in evs:
            if kind == "delete":
                assert state.pop(rid) == val
        for rid, val, kind, _v in evs:
            if kind == "insert":
                state[rid] = val
    assert state == model

    # 3. statistics exactness claim holds
    st_ = table_statistics(t)
    if st_["exact"]:
        assert st_["row_count"] == len(model)


# ---------------------------------------------------------------------------
# VERDICT r4 #3: the SAME consistency contract with the NAMED-REFS surface
# interleaved — branch adoption (hardlinked files), WAP rebase-publish, and
# vacuum crossing a change feed is exactly the interleaving class where the
# r4 bug lived.
# ---------------------------------------------------------------------------

REF_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.integers(1, 3)),
        st.tuples(st.just("upsert_mor"), st.integers(1, 2)),
        st.tuples(st.just("mor_delete"), st.integers(0, 2)),
        st.tuples(st.just("branch_create"), st.just(0)),
        st.tuples(st.just("branch_append"), st.integers(1, 2)),
        st.tuples(st.just("fast_forward"), st.just(0)),
        st.tuples(st.just("wap_stage"), st.integers(1, 2)),
        st.tuples(st.just("wap_publish"), st.just(0)),
        st.tuples(st.just("wap_discard"), st.just(0)),
        st.tuples(st.just("vacuum"), st.just(0)),
        st.tuples(st.just("maintain"), st.just(0)),
    ),
    min_size=3,
    max_size=5,
)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
# seed shapes that exercise each cross-surface interleaving at least once
@example(ops=[("branch_create", 0), ("branch_append", 2), ("fast_forward", 0),
              ("fast_forward", 0)])
@example(ops=[("wap_stage", 2), ("upsert_mor", 1), ("wap_publish", 0),
              ("vacuum", 0)])
@example(ops=[("branch_create", 0), ("mor_delete", 0), ("vacuum", 0),
              ("branch_append", 1), ("fast_forward", 0)])
@example(ops=[("upsert_mor", 1), ("maintain", 0), ("vacuum", 0),
              ("append", 1)])
@pytest.mark.slow  # deep lifecycle sweep; default run must fit the driver budget
@given(ops=REF_OPS)
def test_refs_lifecycle_reads_and_streams_consistently(spark, ops):
    from web_analytics_on_aws_spark.sources.changes_stream_datasource import (
        changes_rows,
    )
    from web_analytics_on_aws_spark.sources.refs import (
        branch_path,
        commit_append_wap,
        create_branch,
        discard_wap,
        fast_forward,
        publish_wap,
    )
    from web_analytics_on_aws_spark.sources.snapshots import (
        CommitConflict,
        _versions,
        delete_where_mor,
        vacuum,
    )

    t = tempfile.mkdtemp(prefix="refs-prop-") + "/t"
    model: dict[int, int] = {i: i * 10 for i in range(4)}
    next_id = 4
    commit_append(_df(spark, model.items()), t)
    history = {current_version(t): dict(model)}
    fold_start = 1  # oldest version the change feed can still start from
    bmodel: dict[int, int] | None = None
    branch_base: int | None = None
    staged: dict[int, int] | None = None

    for op, arg in ops:
        if op == "append":
            rows = {next_id + j: (next_id + j) * 10 for j in range(arg)}
            next_id += arg
            commit_append(_df(spark, rows.items()), t)
            model.update(rows)
        elif op == "upsert_mor":
            ups = {i: model[i] + 3 for i in sorted(model)[-arg:]}
            ups[next_id] = next_id * 10
            next_id += 1
            model.update(ups)
            upsert_keys_mor(spark, t, _df(spark, ups.items()), ["id"])
        elif op == "mor_delete":
            delete_where_mor(spark, t, f"id % 5 = {arg}")
            model = {i: v for i, v in model.items() if i % 5 != arg}
        elif op == "branch_create":
            if bmodel is None:
                create_branch(t, "b")
                bmodel = dict(model)
                branch_base = current_version(t)
        elif op == "branch_append":
            if bmodel is not None:
                rows = {next_id + j: (next_id + j) * 10 for j in range(arg)}
                next_id += arg
                commit_append(_df(spark, rows.items()), branch_path(t, "b"))
                bmodel.update(rows)
        elif op == "fast_forward":
            if bmodel is not None:
                if current_version(t) == branch_base:
                    fast_forward(t, "b")
                    model = dict(bmodel)
                else:
                    # Iceberg contract: target must be branch's ancestor
                    with pytest.raises(CommitConflict):
                        fast_forward(t, "b")
        elif op == "wap_stage":
            if staged is None:
                rows = {next_id + j: (next_id + j) * 10 for j in range(arg)}
                next_id += arg
                commit_append_wap(_df(spark, rows.items()), t, "w1")
                staged = rows
                continue  # no commit happened on main
        elif op == "wap_publish":
            if staged is not None:
                publish_wap(t, "w1")
                model.update(staged)
                staged = None
        elif op == "wap_discard":
            if staged is not None:
                discard_wap(t, "w1")
                staged = None
        elif op == "vacuum":
            # retain back to the previous RECORDED version so the feed's
            # replay window stays aligned with the model's op boundaries
            recorded = sorted(v for v in history if v >= fold_start)
            target = recorded[-2] if len(recorded) >= 2 else recorded[-1]
            vacuum(t, retain_last=current_version(t) - target + 1)
            fold_start = min(
                v for v in _versions(t) if v >= target
            )
        elif op == "maintain":
            maintain_table(spark, t, max_delete_files=0)
        history[current_version(t)] = dict(model)

    # 1. head read ≡ model
    head = {r["id"]: r["val"] for r in read_snapshot(spark, t).collect()}
    assert head == model

    # 2. branch read ≡ branch model (vacuum on main must never have
    # collected files the branch still references)
    if bmodel is not None:
        bh = {
            r["id"]: r["val"]
            for r in read_snapshot(spark, branch_path(t, "b")).collect()
        }
        assert bh == bmodel

    # 3. change feed folds to the model from the oldest surviving
    # recorded version — crossing fast-forward adoptions, WAP rebases,
    # MOR upserts, and maintenance
    state = dict(history[fold_start])
    hv = current_version(t)
    for v in range(fold_start, hv):
        evs = list(changes_rows(t, v, v + 1, ["id", "val"]))
        for rid, val, kind, _v in evs:
            if kind == "delete":
                assert state.pop(rid) == val
        for rid, val, kind, _v in evs:
            if kind == "insert":
                state[rid] = val
    assert state == model

    # 4. statistics exactness claim holds
    st_ = table_statistics(t)
    if st_["exact"]:
        assert st_["row_count"] == len(model)


@pytest.mark.slow  # deep lifecycle sweep; default run must fit the driver budget
def test_lifecycle_property_over_sharded_manifests(spark, monkeypatch):
    """Round 8: the full lifecycle property suite re-runs with a ONE-file
    segment target, so every commit shape in the strategy — appends, CoW
    merge/delete, MOR position/equality deletes, upserts, restores,
    maintenance, spec/sort/widen metadata commits, refs — crosses the
    SHARDED manifest path (delta publishes, sight-unseen segment reuse,
    tiny-segment folding, hydration) at its most fragmented. Same
    three-reader agreement contract; the manifest layout must be
    invisible."""
    monkeypatch.setenv("SPARK_GRAFT_MANIFEST_SEGMENT_FILES", "1")
    test_any_commit_sequence_reads_and_streams_consistently(spark)
    test_refs_lifecycle_reads_and_streams_consistently(spark)


@pytest.mark.slow  # deep lifecycle sweep; default run must fit the driver budget
def test_lifecycle_property_over_grouped_manifests(spark, monkeypatch):
    """Round 9: the same lifecycle property suite with a one-file segment
    target AND a two-segment group target, so every commit shape also
    crosses the TWO-LEVEL head path (group spills, sight-unseen group
    reuse, dirty-hit group dissolution, grouped hydration, grouped ref
    forks). Same three-reader agreement contract; the extra manifest
    level must be invisible."""
    monkeypatch.setenv("SPARK_GRAFT_MANIFEST_SEGMENT_FILES", "1")
    monkeypatch.setenv("SPARK_GRAFT_MANIFEST_SEGMENTS_PER_GROUP", "2")
    test_any_commit_sequence_reads_and_streams_consistently(spark)
    test_refs_lifecycle_reads_and_streams_consistently(spark)
