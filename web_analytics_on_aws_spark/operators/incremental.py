"""Incremental aggregate maintenance: merge partial rollups, never re-scan.

The reference recomputes everything per query (Athena re-scans the curated
zone; SURVEY §3.3). At 100 TB the viable pattern is the one Spark's own
partial aggregation uses, lifted to table granularity: keep a **rollup
table** of decomposable partial aggregates (count/sum/min/max — and avg as
sum+count), and when an hour/day of new data lands, aggregate *only the
delta* and merge it into the base with a key-wise reduce. The merged result
is bit-identical to a full recompute (decomposable aggregates are
associative and commutative), which is exactly what the driver's DuckDB
oracle checks: the Spark side answers from base ⊎ delta, the oracle from
one flat GROUP BY over all rows.

Cost model: maintaining a daily rollup over N new rows touches O(N + G)
rows (G = affected groups), versus O(total history) for recompute — the
same asymmetry that makes the sketch rollups in operators/sketches.py
viable; this module is their exact-measure counterpart.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

MERGE_FNS = {"sum": F.sum, "min": F.min, "max": F.max}


def daily_event_rollup(events: DataFrame) -> DataFrame:
    """The canonical (day, event_type) rollup: decomposable measures only.
    The money sum stays DECIMAL in the rollup table — partials must keep
    exact arithmetic until the *final* merge, or two-level double addition
    could drift from a flat recompute; readers cast to double at the end."""
    return events.groupBy(
        F.to_date("ts").alias("day"), F.col("event_type")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
        F.max("value").alias("max_value"),
    )


def merge_rollups(
    base: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    measures: dict[str, str],
) -> DataFrame:
    """Merge two partial-rollup tables with identical schemas into one.
    ``measures`` maps measure column → merge function name: counts and sums
    merge by 'sum', extrema by 'min'/'max'. Non-decomposable aggregates
    (median, distinct) don't belong here — use the sketch rollups
    (operators/sketches.py) for those. One shuffle over O(groups) rows."""
    unknown = set(measures.values()) - MERGE_FNS.keys()
    if unknown:
        raise ValueError(f"unmergeable measure fns: {unknown}")
    unioned = base.unionByName(delta)
    aggs = [MERGE_FNS[fn](c).alias(c) for c, fn in measures.items()]
    return unioned.groupBy(*keys).agg(*aggs)


def incremental_join_delta(
    a_old: DataFrame,
    a_delta: DataFrame,
    b_old: DataFrame,
    b_delta: DataFrame,
    on: Sequence[str] | str,
) -> DataFrame:
    """Insert-delta incremental JOIN maintenance (counting IVM, the
    insert-only case): the new rows of ``(a_old ∪ Δa) ⋈ (b_old ∪ Δb)``
    are exactly

        ΔJ  =  Δa ⋈ b_old  ∪ᴬᴸᴸ  a_old ⋈ Δb  ∪ᴬᴸᴸ  Δa ⋈ Δb

    so a materialized join view is maintained by appending ΔJ — cost
    ∝ |Δ|·(join hit rate), never |a|+|b|. Each Δ-side join broadcasts the
    delta when it is micro-batch-sized (AQE does this from runtime stats),
    so the big tables are probed map-side and never reshuffled; this is
    the table-granularity analog of ``merge_rollups`` for joins, and
    composes with it (maintain join view → maintain rollup of the view).

    Multiset-exact for inner equi-joins (duplicates included); deletes
    need the counting generalization and are out of scope here.
    """
    keys = [on] if isinstance(on, str) else list(on)
    return (
        a_delta.join(b_old, keys)
        .unionByName(a_old.join(b_delta, keys))
        .unionByName(a_delta.join(b_delta, keys))
    )


def maintain_join_view(
    view_old: DataFrame,
    a_old: DataFrame,
    a_delta: DataFrame,
    b_old: DataFrame,
    b_delta: DataFrame,
    on: Sequence[str] | str,
) -> DataFrame:
    """New view contents: old view ⊎ ΔJ (append-only maintenance)."""
    return view_old.unionByName(
        incremental_join_delta(a_old, a_delta, b_old, b_delta, on)
    )


def apply_change_feed(
    base_rollup: DataFrame,
    changes: DataFrame,
    rollup_fn,
    keys: Sequence[str],
    sum_measures: Sequence[str],
    count_col: str | None = None,
) -> DataFrame:
    """Maintain a rollup from a snapshot change feed
    (``snapshots.table_changes``): counting incremental view maintenance
    with DELETE support.

    Inserts contribute their partial rollup; deletes contribute the same
    partial NEGATED — valid exactly for sum-decomposable measures (counts,
    sums), which is why ``sum_measures`` is explicit: extrema and
    distincts are not subtractable (a deleted max needs a rescan; use the
    sketch/recompute path for those). ``count_col`` names the measure that
    is a ROW COUNT — groups where it reaches zero drop out (a signed sum
    hitting zero is a real value, not an empty group; relying on position 0
    dropped such groups — ADVICE r2). Defaults to ``sum_measures[0]`` for
    back-compat, but pass it explicitly when the first measure is not a
    count. Raises if the base rollup carries measure columns outside
    ``keys`` + ``sum_measures`` — those would be silently dropped by the
    merge (extrema/distincts need the recompute path).

    Cost: one rollup over |changes| + one O(groups) merge — never a
    base-table rescan, completing the CDF consumer loop (table_changes
    reads only changed files; this folds them into the materialized
    view)."""
    count_col = count_col if count_col is not None else sum_measures[0]
    if count_col not in sum_measures:
        raise ValueError(
            f"count_col {count_col!r} must be one of sum_measures "
            f"{list(sum_measures)}"
        )
    extra = set(base_rollup.columns) - set(keys) - set(sum_measures)
    if extra:
        raise ValueError(
            f"base rollup has measure columns {sorted(extra)} not listed in "
            "sum_measures — the merge would silently discard them; list them "
            "(if sum-decomposable) or maintain them via the recompute path"
        )
    ins = rollup_fn(changes.filter(F.col("_change_type") == "insert"))
    del_ = rollup_fn(changes.filter(F.col("_change_type") == "delete"))
    for m in sum_measures:
        del_ = del_.withColumn(m, -F.col(m))
    delta = ins.unionByName(del_)
    measures = {m: "sum" for m in sum_measures}
    merged = merge_rollups(base_rollup, delta, keys, measures)
    return merged.filter(F.col(count_col) != 0)


def follow_table_rollup(
    spark,
    table: str,
    view_table: str,
    rollup_fn,
    keys: Sequence[str],
    sum_measures: Sequence[str],
    app_id: str = "follow-rollup",
    count_col: str | None = None,
) -> dict:
    """One maintenance tick of a rollup VIEW that follows an ACID snapshot
    table: fold every source version committed since the last tick into
    the view via the change feed, and publish the new view state as one
    atomic overwrite — itself a snapshot table, so the view time-travels
    and its consumers get snapshot isolation.

    Exactly-once by construction: the view's commit carries
    ``txn=(app_id, source_head_version)``, so a re-driven tick (scheduler
    retry, crash between data write and manifest publish) no-ops instead
    of double-applying — the same stamp protocol the streaming sinks use,
    with the SOURCE version as the batch id.

    Cost per tick: table_changes reads only the files the source versions
    disagree on; apply_change_feed aggregates only |changes|; the view
    overwrite is O(groups). The source is never rescanned after the
    bootstrap tick. Returns {from, to, bootstrap, applied}."""
    from web_analytics_on_aws_spark.sources import snapshots

    src_head = snapshots.current_version(table)
    if src_head is None:
        raise FileNotFoundError(f"no snapshots at {table}")
    have_view = snapshots.current_version(view_table) is not None
    last = snapshots.last_committed_batch(view_table, app_id) if have_view else None
    if last is None:
        base = rollup_fn(snapshots.read_snapshot(spark, table, version=src_head))
        snapshots.commit_append(base, view_table, txn=(app_id, src_head))
        return {"from": None, "to": src_head, "bootstrap": True, "applied": True}
    if src_head <= last:
        return {"from": last, "to": src_head, "bootstrap": False, "applied": False}
    changes = snapshots.table_changes(spark, table, last, src_head)
    base = snapshots.read_snapshot(spark, view_table)
    new_view = apply_change_feed(
        base, changes, rollup_fn, keys, sum_measures, count_col=count_col
    )
    # folding can widen a measure (a decimal SUM of sums gains precision);
    # writes never change the view's schema implicitly, so declare the
    # wider type first
    from web_analytics_on_aws_spark.sources import evolution

    declared = {
        f["name"]: f["type"]
        for f in evolution.table_schema(view_table)["fields"]
    }
    for c, t in new_view.dtypes:
        if c in declared and evolution._widenable(declared[c], t):
            evolution.evolve_widen_column(spark, view_table, c, t)
    snapshots.commit_overwrite(new_view, view_table, txn=(app_id, src_head))
    return {"from": last, "to": src_head, "bootstrap": False, "applied": True}
