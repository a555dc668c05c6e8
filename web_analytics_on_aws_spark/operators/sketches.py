"""Re-aggregatable sketch rollups (DataSketches HLL / KLL / theta).

The reference's only aggregate is COUNT(*) (SURVEY §2.4,
web-analytics-parquet/cdk_stacks/athena_named_query.py:53,100); its query
engine (Athena v3 = Trino) exposes approx_distinct / approx_percentile over
the same DataSketches lineage. This module is the 100 TB-native version of
those: instead of re-scanning raw events per question, aggregate once into a
**sketch rollup table** (one small binary per group) and answer every coarser
question by *merging sketches* — unions are associative and commutative, so
rollups compose across partitions, days, and clusters without touching raw
data again.

Why this matters at 100 TB: exact COUNT(DISTINCT) expands rows before the
shuffle (two-phase aggregate over the full key set); an HLL sketch is a
fixed ~2^lgK bytes per group regardless of cardinality, so the shuffle is
O(groups), not O(distinct values). The daily rollup becomes a tiny table you
can keep forever; month/quarter/all-time uniques are sketch unions over it.

Determinism: HLL registers are per-bucket maxima of a fixed hash — building
a sketch over A∪B yields byte-identical registers to union(sketch(A),
sketch(B)), so merge-vs-direct equality is EXACT (pinned in
tests/test_sketches.py, not just within-epsilon).
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def hll_rollup(
    df: DataFrame, keys: Sequence[str], col: str, lgk: int = 12
) -> DataFrame:
    """Per-group HLL sketch of ``col`` (binary, ~2^lgk bytes; rel. err ≈
    1.04/sqrt(2^lgk) ≈ 1.6% at the default lgk=12)."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(F.col(col), F.lit(lgk)).alias("uniq_sketch"),
        F.count("*").alias("rows"),
    )


def hll_merge(
    rollup: DataFrame, keys: Sequence[str], estimate_col: str = "uniq_estimate"
) -> DataFrame:
    """Merge a sketch rollup to a coarser grain (fewer keys): union the
    group sketches and estimate. ``keys=[]`` gives the global estimate."""
    agg = [
        F.hll_sketch_estimate(F.hll_union_agg("uniq_sketch")).alias(estimate_col),
        F.sum("rows").alias("rows"),
    ]
    return rollup.groupBy(*keys).agg(*agg) if keys else rollup.agg(*agg)


def hll_estimate(rollup: DataFrame) -> DataFrame:
    """Estimate per existing rollup group (no merge)."""
    return rollup.withColumn(
        "uniq_estimate", F.hll_sketch_estimate("uniq_sketch")
    ).drop("uniq_sketch")


def kll_rollup(
    df: DataFrame, keys: Sequence[str], col: str, k: int = 200
) -> DataFrame:
    """Per-group KLL quantile sketch of a double ``col`` (rank error ≈1.65%
    at k=200, independent of group size)."""
    return df.groupBy(*keys).agg(
        F.kll_sketch_agg_double(F.col(col), F.lit(k)).alias("q_sketch"),
        F.count("*").alias("rows"),
    )


def kll_merge(rollup: DataFrame, keys: Sequence[str] | None = None) -> DataFrame:
    """Merge KLL rollup groups to a coarser grain. PySpark exposes KLL merge
    as a *binary scalar* (`kll_sketch_merge_double`), not an aggregate, so
    the union is a fold over the collected sketch array — fine at rollup
    grain (the array is |fine groups| small binaries, never raw rows)."""
    keys = list(keys or [])
    arr = F.collect_list("q_sketch")
    agg = [arr.alias("sketches"), F.sum("rows").alias("rows")]
    grouped = rollup.groupBy(*keys).agg(*agg) if keys else rollup.agg(*agg)
    merged = F.aggregate(
        F.slice(F.col("sketches"), 2, F.greatest(F.size("sketches") - 1, F.lit(0))),
        F.element_at("sketches", 1),
        lambda acc, x: F.kll_sketch_merge_double(acc, x),
    )
    return grouped.select(*keys, merged.alias("q_sketch"), "rows")


def kll_quantiles(
    rollup: DataFrame, probs: Sequence[float], prefix: str = "p"
) -> DataFrame:
    """Extract quantile estimates from a KLL rollup, one column per prob
    (p50, p90, …)."""
    out = rollup
    for p in probs:
        name = f"{prefix}{int(round(p * 100))}"
        out = out.withColumn(
            name, F.kll_sketch_get_quantile_double("q_sketch", F.lit(float(p)))
        )
    return out.drop("q_sketch")


def within_tolerance(est: Column, exact: Column, rel: float) -> Column:
    """Audit predicate: |est − exact| ≤ rel · exact (TRUE on both engines
    when the sketch honors its error bound — the oracle side emits literal
    TRUE, so a drifting estimate hash-mismatches the driver compare)."""
    return F.abs(est - exact) <= F.lit(rel) * exact


# ---------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan, "An improved data stream
# summary: the count-min sketch and its applications", J. Algorithms 2005)


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = 5,
    width: int = 1024,
    seed: int = 7,
) -> DataFrame:
    """Count-min sketch as a tiny DataFrame of (r, c, cnt) cells.

    Each input row increments ``depth`` cells (row r, col = xxhash64(key,
    r+seed) mod width). The explode happens map-side and the groupBy
    partial-aggregates, so the shuffle carries at most depth×width cells
    per map partition — the sketch is O(depth·width) regardless of input
    cardinality, and cell-wise SUM of two sketches equals the sketch of
    the union (linearity; pinned in pytest)."""
    cells = df.select(
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("r"),
        F.col(key_col).alias("__k"),
    ).select(
        "r",
        F.pmod(F.xxhash64(F.col("__k"), F.col("r") + F.lit(seed)), F.lit(width)).alias(
            "c"
        ),
    )
    return cells.groupBy("r", "c").agg(F.count("*").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 5,
    width: int = 1024,
    seed: int = 7,
) -> DataFrame:
    """Point-estimate counts for ``keys`` from a CMS: min over the key's
    depth cells. The sketch (≤ depth×width rows) broadcasts; estimates are
    min-aggregated per key. CMS never undercounts; overcount ≤ e/width · N
    with prob. 1−e^−depth per key."""
    probes = keys.select(
        F.col(key_col),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("r"),
    ).withColumn(
        "c",
        F.pmod(F.xxhash64(F.col(key_col), F.col("r") + F.lit(seed)), F.lit(width)),
    )
    return (
        probes.join(F.broadcast(sketch), ["r", "c"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("cms_estimate"))
    )
