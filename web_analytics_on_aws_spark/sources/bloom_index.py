"""File-level Bloom-filter index for snapshot tables: point-lookup file
skipping where footer min/max stats cannot help.

Footer stats prune RANGE predicates on clustered data (see
`snapshots.cluster_zorder`), but an equality probe on a high-cardinality,
uniformly-spread column (user_id, session_id) matches every file's
[min, max] envelope — a 100 TB "find this user" scan reads everything. A
per-(file, column) Bloom filter answers "provably absent from this file"
for EqualTo/In probes at ~10 bits/distinct-value (1% fpp), so the scan
opens ~fpp of the files instead of all of them. This is the jar-free
analog of Parquet's optional bloom pages / Iceberg puffin blobs, held as a
table-sidecar so the reader can consult it during PLANNING (before any
task launches), not per-row-group at read time.

Staleness-free by construction: snapshot data files are immutable, so an
index row stays valid for as long as its file exists. New files appended
after a build simply have no entry and are never skipped — rebuilding
(cheap: distinct values only) restores full coverage. No version pinning
needed.

Hashing is double-hashed SHA-1 (Kirsch-Mitzenmacher): position_i =
(h1 + i*h2) mod m. The SAME pure-Python function runs at build time
(Arrow-batched applyInPandas over JVM-deduplicated (file, value) pairs —
index builds are rare maintenance, probes are the hot path) and at probe
time (one value on the driver), so build and probe can never disagree on
hash semantics.
"""

from __future__ import annotations

import hashlib
import math
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

INDEX_DIR = "_index/bloom"

#: Bloom geometry per file: sized for the file's own distinct count.
DEFAULT_FPP = 0.01


def _hashes(value: str, m: int, k: int) -> list[int]:
    d = hashlib.sha1(value.encode("utf-8")).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:16], "big") | 1  # odd → full-period stepping
    return [(h1 + i * h2) % m for i in range(k)]


#: Column types the index supports: exactly those whose Spark
#: ``cast(col AS STRING)`` rendering the probe can reproduce from a Python
#: value byte-for-byte. Floats/decimals/timestamps are REFUSED at build
#: time — Spark renders 1e20 as "1.0E20" and Decimal(5.00) as "5.00" while
#: Python says "1e+20"/"5", so a probe would hash a different string and
#: silently skip files that DO contain matches (ADVICE r2).
_SUPPORTED_TYPES = {
    "string", "tinyint", "smallint", "int", "bigint", "boolean", "date",
}


def _render(value) -> str | None:
    """Python replica of Spark's string cast for supported probe types.
    Returns None for anything else → the probe must conservatively keep
    the file (never skip on a rendering we can't reproduce)."""
    import datetime

    if isinstance(value, bool):  # before int: bool is an int subclass
        return "true" if value else "false"
    if isinstance(value, (str, int)):
        return str(value)
    if isinstance(value, datetime.date) and not isinstance(
        value, datetime.datetime
    ):
        return value.isoformat()
    return None


def _geometry(n: int, fpp: float) -> tuple[int, int]:
    n = max(n, 1)
    m = max(64, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    k = max(1, round(m / n * math.log(2)))
    return m, k


def build_bloom_index(
    spark: SparkSession,
    table: str,
    cols: list[str],
    fpp: float = DEFAULT_FPP,
) -> dict:
    """Build (or rebuild) the bloom sidecar for the CURRENT snapshot's
    files over ``cols``. Returns {col: files_indexed}.

    Plan shape: one scan projecting (file, value), a distinct (the only
    shuffle — keyed on (file, value), so it partial-aggregates map-side),
    then an Arrow-grouped bitset fold per file. The sidecar is a tiny
    parquet dataset: one row per (file, col) with the packed bitset."""
    import pandas as pd

    from web_analytics_on_aws_spark.sources.snapshots import (
        _read_manifest,
        _scan_files,
        current_version,
    )

    cur = current_version(table)
    if cur is None:
        raise FileNotFoundError(f"no snapshots at {table}")
    m = _read_manifest(table, cur)
    files = m["files"]
    out: dict[str, int] = {}
    for col in cols:
        src = _scan_files(spark, files, m["schema"])
        dtype = dict(src.dtypes).get(col)
        if dtype not in _SUPPORTED_TYPES:
            raise TypeError(
                f"bloom index on {col!r}: type {dtype!r} unsupported — only "
                f"{sorted(_SUPPORTED_TYPES)} render identically in Spark's "
                "string cast and the Python probe (floats/decimals would "
                "cause silent wrong skips)"
            )
        pairs = (
            src
            .select(
                F.input_file_name().alias("file"),
                F.col(col).cast("string").alias("v"),
            )
            .filter(F.col("v").isNotNull())
            .distinct()
        )

        def _fold(pdf: pd.DataFrame) -> pd.DataFrame:
            from web_analytics_on_aws_spark.sources.snapshots import (
                _normalize_file,
            )

            m, k = _geometry(len(pdf), fpp)
            bits = bytearray((m + 7) // 8)
            for v in pdf["v"]:
                for pos in _hashes(v, m, k):
                    bits[pos >> 3] |= 1 << (pos & 7)
            return pd.DataFrame(
                {
                    "file": [_normalize_file(pdf["file"].iloc[0])],
                    "m": [m],
                    "k": [k],
                    "bits": [bytes(bits)],
                }
            )

        per_file = pairs.groupBy("file").applyInPandas(
            _fold, "file string, m long, k long, bits binary"
        )
        dest = os.path.join(table, INDEX_DIR, f"col={col}")
        per_file.write.mode("overwrite").parquet(dest)
        out[col] = len(files)
    return out


def load_bloom_index(table: str) -> dict[str, dict[str, tuple[int, int, bytes]]]:
    """Read the sidecar into {col: {file: (m, k, bits)}} — a few KB per
    thousand files; loaded once per scan plan on the driver."""
    import pyarrow.parquet as pq

    root = os.path.join(table, INDEX_DIR)
    if not os.path.isdir(root):
        return {}
    index: dict[str, dict[str, tuple[int, int, bytes]]] = {}
    for entry in os.listdir(root):
        if not entry.startswith("col="):
            continue
        col = entry[len("col=") :]
        t = pq.read_table(os.path.join(root, entry))
        index[col] = {
            f: (int(m), int(k), bts)
            for f, m, k, bts in zip(
                t["file"].to_pylist(),
                t["m"].to_pylist(),
                t["k"].to_pylist(),
                t["bits"].to_pylist(),
            )
        }
    return index


def may_contain(entry: tuple[int, int, bytes], value) -> bool:
    """Probe one file's bloom: False = provably absent (safe to skip).
    Values whose Spark-cast rendering the probe cannot reproduce return
    True (keep the file) — skipping is only ever allowed on an exact
    rendering match (ADVICE r2)."""
    rendered = _render(value)
    if rendered is None:
        return True
    m, k, bits = entry
    for pos in _hashes(rendered, m, k):
        if not bits[pos >> 3] & (1 << (pos & 7)):
            return False
    return True


def indexed_columns(table: str) -> list[str]:
    root = os.path.join(table, INDEX_DIR)
    if not os.path.isdir(root):
        return []
    return [e[len("col=") :] for e in os.listdir(root) if e.startswith("col=")]


def refresh_if_present(spark: SparkSession, table: str) -> dict:
    """Rebuild the sidecar for the current snapshot IF one exists — called
    by layout rewrites (optimize / cluster_zorder), which replace the file
    set: old entries are merely dead weight, but the NEW files would
    otherwise be unindexed and never skipped. No-op on unindexed tables."""
    cols = indexed_columns(table)
    return build_bloom_index(spark, table, cols) if cols else {}
