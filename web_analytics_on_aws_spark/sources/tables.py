"""Loaders for the driver-provided parquet tables (TESTDATA.md).

Parquet scan ≅ the reference's `web_log_parquet` external table
(/root/reference/web-analytics-parquet/cdk_stacks/athena_named_query.py:70-92,
SURVEY §2.1 S11). Loading is declarative — `spark.read.parquet` — so Catalyst
gets predicate pushdown + column pruning for free.

One normalization: the driver stores ``events.ts`` as parquet
TIMESTAMP(NANOS), which Spark reads only as a raw long (session config
``spark.sql.legacy.parquet.nanosAsLong=true``, set in session.py). We convert
nanos → microseconds by integer division (truncation — the same thing DuckDB
does when narrowing ns → its µs TIMESTAMP), keeping Spark and the DuckDB
oracle bit-identical on timestamps.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# when set (>0), load_table round-robins each table into this many
# partitions — see the comment at the use site. Bench-only knob.
INPUT_PARTITIONS = 0

# Bytes-derived scan splitting (r13, guide §2.6/§6): when >0 (and
# INPUT_PARTITIONS is unset), each table is repartitioned to
# ceil(expanded_bytes / split) — a function of DATA SIZE only, never of
# core count. Rounds 2–12 set INPUT_PARTITIONS = cpus, which made every
# map stage `cpus` tasks wide regardless of input size; per-task fixed
# costs (scheduling, and for Python-boundary stages the worker round-trip
# + Arrow ser/de) then grew with the core count while per-task compute
# shrank — measured as 32-core runs LOSING to 8-core runs on every
# Python-kernel query (PERF_r12 scaling block). A real cluster derives map
# parallelism from input bytes / split size (128 MB–1 GB per task, guide
# §6); this mirrors that rule at toy scale. Bench-only knob.
INPUT_SPLIT_MB = 0.0

# Decoded/exploded work per on-disk snappy-parquet byte, by table — the
# split is sized against the work a map task DOES, not the compressed
# bytes it reads: text tables fan out into token/window explodes
# (documents: ~10 windows × ~60 chars per token position), embedding
# tables decode float arrays into f64 numpy and per-component explodes,
# and the events log decompresses ~8× (snappy over near-duplicate
# UA/URL/session strings) into rows its queries then regex-parse,
# sessionize and explode. Estimates, not measurements — they only steer
# partition counts.
_EXPANSION = {"documents": 16.0, "embeddings": 8.0, "events": 8.0}
_DEFAULT_EXPANSION = 2.0


def _split_partitions(sf_dir: str, name: str) -> int:
    """Bytes-derived partition count for one table (≥1)."""
    import math

    try:
        raw = os.path.getsize(os.path.join(sf_dir, f"{name}.parquet"))
    except OSError:
        return 1
    work = raw * _EXPANSION.get(name, _DEFAULT_EXPANSION)
    return max(1, math.ceil(work / (INPUT_SPLIT_MB * 1024 * 1024)))


# Per-session metadata memo (r13, guide §1/§5 driver overheads), two
# kinds of entry:
#
# - "schema": `spark.read.parquet(path)` re-infers the schema on every
#   call — a footer read + several driver JVM round-trips, ~0.1 s each in
#   the r13 measurement — and the bench's 53 queries construct ~63 load_table
#   calls per timed pass, all re-inferring schemas that cannot have
#   changed. The inferred StructType is passed back explicitly.
# - "handle": beyond schema inference, each `spark.read...parquet(path)`
#   call re-creates the DataSource relation and re-lists the file (~0.04 s
#   of driver JVM round-trips). A catalog-backed engine resolves a table
#   ONCE per session and reuses the binding; this is that resolution for
#   the function-call API. DataFrames are immutable lazy plans, so sharing
#   the handle is safe.
#
# This is catalog-style METADATA caching: no row data or query result is
# cached, and every execution still plans and scans the parquet file.
# Each kind maps path → (file identity, value), so a rewritten file
# REPLACES its entry instead of adding a key beside the stale one — the
# memo holds at most one entry per path. The memo is stored ON the session
# object: it lives and dies with the session (the cached DataFrames point
# back at the session, so a module-level weak-keyed map could never
# evict), and sessions with different parquet-reader configs
# (nanosAsLong) can never see each other's inference.
#
# Limitation: file identity is (mtime_ns, size). A same-size rewrite that
# lands within the filesystem's timestamp granularity keeps the old
# mtime, so it serves the stale entry until the session ends. The inputs
# cached here are written once per run; a content fingerprint would close
# the gap.


def _session_memo(spark: SparkSession, kind: str) -> dict:
    """The ``kind`` ("schema" | "handle") memo of this session:
    ``{path: (identity, value)}``."""
    memo = getattr(spark, "_table_memo", None)
    if memo is None:
        memo = {"schema": {}, "handle": {}}
        spark._table_memo = memo
    return memo[kind]


def _memo_get(memo: dict, path: str, ident):
    hit = memo.get(path)
    return hit[1] if hit is not None and hit[0] == ident else None


def _table_schema(spark: SparkSession, path: str, ident):
    memo = _session_memo(spark, "schema")
    schema = _memo_get(memo, path, ident)
    if schema is None:
        schema = spark.read.parquet(path).schema
        memo[path] = (ident, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalizing nano-timestamps to TimestampType."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(path)
    ident = (st.st_mtime_ns, st.st_size)
    # the partitioning knobs ride the handle's identity: a re-tuned bench
    # re-resolves
    handle_ident = (ident, INPUT_PARTITIONS, INPUT_SPLIT_MB)
    memo = _session_memo(spark, "handle")
    memoized = _memo_get(memo, path, handle_ident)
    if memoized is not None:
        return memoized
    df = spark.read.schema(_table_schema(spark, path, ident)).parquet(path)
    for field in df.schema.fields:
        if name == "events" and field.name == "ts" and field.dataType.typeName() in ("long", "bigint"):
            # Integer DIV, not `/`: ns-epoch longs (~1.7e18) exceed double's
            # 53-bit mantissa, so float division drifts by ±1µs.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif field.name == "ts" and field.dataType.typeName() == "timestamp_ntz":
            # Testdata may store ts as TIMESTAMP(MICROS) isAdjustedToUTC=false
            # → Spark reads TIMESTAMP_NTZ. The session timezone is pinned UTC,
            # so casting to TimestampType keeps every instant/extraction
            # bit-identical to the DuckDB oracle's naive-UTC interpretation
            # while restoring the epoch-math surface (unix_micros etc.).
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if INPUT_PARTITIONS:
        # Scan-parallelism floor for single-row-group inputs: parquet can
        # split only at row-group boundaries, and the bench testdata is one
        # file with ONE row group per table — without this every map-heavy
        # stage (window explodes, normalization) runs on a single core. A
        # real deployment's tables are many files/row groups and never set
        # this. Round-robin, no key assumptions; enabled by bench.py only.
        df = df.repartition(INPUT_PARTITIONS)
    elif INPUT_SPLIT_MB:
        # Bytes-derived variant (r13): same single-row-group compensation,
        # but the count follows expanded input bytes (see INPUT_SPLIT_MB
        # above) so it is identical at every core count — more cores must
        # never mean more (tinier) map tasks. n == 1 skips the exchange
        # entirely: a sub-split table IS one task, as it would be on a
        # cluster.
        n = _split_partitions(sf_dir, name)
        if n > 1:
            df = df.repartition(n)
    memo[path] = (handle_ident, df)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so `spark.sql` works over them —
    the Spark-session-catalog equivalent of the reference's Glue catalog
    (SURVEY §3.3)."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
