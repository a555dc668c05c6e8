"""`spark.read.format("snapshot")` — the snapshot table format as a native
Spark 4 Python DataSource, with manifest-driven scan planning and file-level
min/max data skipping.

The snapshot layer (sources/snapshots.py) already gives ACID commits, time
travel, DML, and OPTIMIZE; this adapter plugs its read path into Spark's
planner-facing plug-in API so the format composes with plain `spark.read`:

    spark.dataSource.register(SnapshotDataSource)
    spark.read.format("snapshot").option("path", t).load()
    spark.read.format("snapshot").option("path", t).option("version", "3")…

Scan planning is Iceberg-shaped, in miniature:
- the file list comes from the pinned manifest (no directory listing);
- `pushFilters` (Spark ≥ 4.1) receives the query's conjunctive predicates;
  comparison filters on top-level columns are evaluated against each file's
  parquet footer min/max — files that cannot contain a match are dropped
  from `partitions()` BEFORE any task launches (file-level skip, the same
  contract as Iceberg manifest stats). Every filter is also returned to
  Spark, which re-applies it post-scan — skipping is a pure optimization,
  never a correctness dependency;
- one `InputPartition` per surviving file; `read` streams Arrow record
  batches (zero row-by-row Python) under the head's schema block, padding
  columns a file predates with nulls and up-casting widened ones, so
  schema evolution reads exactly like `read_snapshot`.

Sharp edge (Spark-level, pinned in tests/test_manifest_groups.py::
test_snapshot_datasource_reuse_sharp_edge): the Python DataSource layer
caches the most recent pushdown plan per LOADED DataFrame, so an
unfiltered action on a DataFrame that already executed a filtered action
reuses the filtered partition list and under-scans. Load fresh per query
(`spark.read.format("snapshot")...load()` is cheap — planning is
manifest-head metadata only); every repo call site does.

This is the interoperability path; `snapshots.read_snapshot` (JVM parquet
reader on the same manifest) remains the raw-throughput path. At 100 TB the
win of THIS path is planning: pruning thousands of files via footer stats
costs metadata reads only, and a clustered table (`cluster_rewrite` /
z-order) makes the min/max envelopes tight enough that point queries open
O(1) files.
"""

from __future__ import annotations

import os
from typing import Any, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

from web_analytics_on_aws_spark.sources.snapshots import (
    _read_manifest_head,
    current_version,
)


class _FilePartition(InputPartition):
    def __init__(
        self,
        path: str,
        deleted_positions: tuple = (),
        eq_deletes: tuple = (),
    ):
        self.path = path
        # merge-on-read position deletes for THIS file only (each task
        # ships just its own positions, not the table-wide sidecar)
        self.deleted_positions = deleted_positions
        # equality-delete sidecars whose sequence POSTDATES this file's
        # commit sequence: (sidecar path, physical key tuple, delete seq,
        # inline Arrow-IPC key payload | None).
        # Plan-scoped (VERDICT r8 #1): the file's seq came from its own
        # (predicate-surviving) segment entry, so an eq-delete read never
        # hydrates a manifest-wide (path → seq) map — the Iceberg v2
        # sequence rule is resolved per partition at planning and applied
        # per task in read(). Under the planning byte budget the sidecar
        # KEY tuples ride here inline (VERDICT r9 #2: per-task sidecar
        # re-reads were ~1M redundant GETs at 100k tasks); a None payload
        # keeps the per-task parquet-read fallback.
        self.eq_deletes = eq_deletes


class _ScanPartition(InputPartition):
    """One scan task covering SEVERAL survivor files (r13, guide §2.2/§6):
    the engine launches one Python-worker task per partition, so a
    per-file partitioning made task count — and the per-task fixed cost of
    the Python boundary (worker round-trip, reader unpickle, Arrow ser/de)
    — grow with file count. Files are bin-packed by manifest byte size
    plus a per-file open cost, mirroring Spark's own
    maxPartitionBytes/openCostInBytes split packing (~32 tiny files per
    128 MB split). Pruning is unaffected: packing runs AFTER planning
    drops non-matching files."""

    def __init__(self, files: tuple):
        self.files = files  # tuple[_FilePartition, ...]


# Spark scan-split parity: pack files into ≤ target-byte partitions,
# charging each file an open cost so thousands of tiny files still fan
# out. Overridable per read via the `target_partition_bytes` option.
_SCAN_TARGET_BYTES = 128 * 1024 * 1024
_SCAN_OPEN_COST = 4 * 1024 * 1024


def planned_files(parts: list) -> list[_FilePartition]:
    """Flatten ``partitions()`` output to the per-file plan — the survivor
    list pruning tests/probes assert on (packing is a task-count concern,
    not a planning one)."""
    return [fp for p in parts for fp in p.files]


def _resolve_head(options: dict) -> dict:
    """The pinned version's manifest HEAD — raw, segments un-hydrated (the
    head is O(segments), never O(files))."""
    table = options["path"]
    cur = current_version(table)
    if cur is None:
        raise FileNotFoundError(f"no snapshots at {table}")
    v = int(options["version"]) if "version" in options else cur
    return _read_manifest_head(table, v)


def _dv_map(table: str, head: dict) -> dict[str, tuple]:
    """{file: sorted deleted positions} from the head's position-delete
    sidecars (merge-on-read `delete_where_mor`), folded on the driver —
    sidecars are KBs-per-deleted-row; each scan task later receives only
    its own file's positions via its partition object."""
    from web_analytics_on_aws_spark.sources.snapshots import (
        _manifest_deletes,
        _normalize_file,
    )

    dv: dict[str, set] = {}
    for dvf in _manifest_deletes(head):
        import pyarrow.parquet as pq

        t = pq.read_table(dvf, columns=["file", "pos"])
        for f, p in zip(t.column("file").to_pylist(), t.column("pos").to_pylist()):
            dv.setdefault(_normalize_file(f), set()).add(int(p))
    return {f: tuple(sorted(ps)) for f, ps in dv.items()}


def _logical_arrow_schema(m: dict):
    """(arrow schema under LOGICAL names, {logical: physical}) from a
    manifest head's schema block. Each field renders at its DECLARED type —
    the manifest schema is the contract, and after evolve_widen_column
    files legitimately store a narrower physical type than the table
    declares (read() casts each file's arrow column up to the declared
    type, mirroring snapshots._scan_files on the JVM path)."""
    import pyarrow as pa

    fields, mapping = [], {}
    for f in m["schema"]["fields"]:
        mapping[f["name"]] = f["phys"]
        fields.append(pa.field(f["name"], _arrow_type(f["type"]), nullable=True))
    return pa.schema(fields), mapping


def _split_top(s: str) -> list[str]:
    """Split on commas at bracket depth 0 (array<struct<a:int,b:int>>…)."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(s[start:i])
            start = i + 1
    out.append(s[start:])
    return out


def _arrow_type(ddl: str):
    """Spark simpleString → arrow type WITHOUT a SparkContext — the
    DataSource's ``schema()`` runs during planning, where
    ``_parse_datatype_string`` would raise SESSION_OR_CONTEXT_NOT_EXISTS.
    Covers every type df.dtypes can emit for parquet-backed tables. Type
    keywords match case-insensitively; struct field names keep their case
    (the file's struct column must cast onto the result)."""
    import re

    import pyarrow as pa

    s = ddl.strip()
    low = s.lower()
    prim = {
        "boolean": pa.bool_(), "tinyint": pa.int8(), "byte": pa.int8(),
        "smallint": pa.int16(), "short": pa.int16(), "int": pa.int32(),
        "integer": pa.int32(), "bigint": pa.int64(), "long": pa.int64(),
        "float": pa.float32(), "real": pa.float32(), "double": pa.float64(),
        "string": pa.string(), "binary": pa.binary(), "date": pa.date32(),
        "timestamp": pa.timestamp("us", tz="UTC"),
        "timestamp_ltz": pa.timestamp("us", tz="UTC"),
        "timestamp_ntz": pa.timestamp("us"),
    }
    if low in prim:
        return prim[low]
    m = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", low)
    if m:
        return pa.decimal128(int(m.group(1)), int(m.group(2)))
    flags = re.DOTALL | re.IGNORECASE
    m = re.fullmatch(r"array<(.+)>", s, flags)
    if m:
        return pa.list_(_arrow_type(m.group(1)))
    m = re.fullmatch(r"map<(.+)>", s, flags)
    if m:
        k, v = _split_top(m.group(1))
        return pa.map_(_arrow_type(k), _arrow_type(v))
    m = re.fullmatch(r"struct<(.+)>", s, flags)
    if m:
        fields = []
        for part in _split_top(m.group(1)):
            name, _, t = part.partition(":")
            fields.append(pa.field(name.strip(), _arrow_type(t)))
        return pa.struct(fields)
    raise ValueError(f"unsupported type in schema block: {ddl!r}")


def _decode_stat(v):
    """Inverse of snapshots.collect_file_stats' JSON encoding: tagged
    lists back to datetime/date/Decimal, scalars pass through."""
    if isinstance(v, list) and len(v) == 2 and v[0] in ("t", "d", "n"):
        import datetime
        import decimal

        if v[0] == "t":
            return datetime.datetime.fromisoformat(v[1])
        if v[0] == "d":
            return datetime.date.fromisoformat(v[1])
        return decimal.Decimal(v[1])
    return v


def _eq_inline_budget() -> int:
    """Aggregate sidecar bytes under which eq-delete KEY tuples are decoded
    once at planning and shipped inline on the partition objects.
    ``SPARK_GRAFT_EQ_INLINE_BUDGET`` tunes it (0 disables — every task
    reads the sidecars itself, the pre-r10 behavior). A non-integer value
    degrades to 0 (per-task fallback) instead of failing the scan."""
    env = os.environ.get("SPARK_GRAFT_EQ_INLINE_BUDGET")
    if env is None:
        return 4 << 20
    try:
        return int(env)
    except ValueError:
        return 0


def _eq_ship_cap() -> int:
    """TOTAL driver→executor bytes the inline eq-delete path may ship
    across ALL task pickles of one scan (VERDICT r10 #1). PySpark pickles
    one ``InputPartition`` per task, so an inline payload is REPLICATED
    onto every carrying partition — the aggregate-sidecar budget alone
    bounds per-copy size, not the replication factor, and a near-budget
    payload on a 100k-task scan would funnel ~400 GB through one driver
    (strictly worse than the per-task GETs it replaced, which at least
    fan out). ``SPARK_GRAFT_EQ_SHIP_CAP`` tunes it; default 64 MB; a
    non-integer degrades to 0 (never inline)."""
    env = os.environ.get("SPARK_GRAFT_EQ_SHIP_CAP")
    if env is None:
        return 64 << 20
    try:
        return int(env)
    except ValueError:
        return 0


def _inline_eq_payloads(eq_entries) -> dict[str, bytes]:
    """{sidecar path: Arrow-IPC key-column bytes}, decoded ONCE on the
    driver at planning (VERDICT r9 #2): the reference's own maintenance
    mirror (optimize_rewrite_delete_file_threshold='10') keeps outstanding
    sidecars ≤10 tiny files, yet the per-task read re-fetched the same
    handful for EVERY surviving task — ~1M redundant GETs at 100k tasks on
    an object store. Under the byte budget the key tuples ride the task
    pickle instead; over it (or on any stat/read failure, e.g. remote
    schemes) returns {} and read() keeps the per-task fallback."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    budget = _eq_inline_budget()
    if budget <= 0:
        return {}
    try:
        total = 0
        for e in eq_entries:
            total += os.path.getsize(e["path"])
            if total > budget:
                return {}
        out: dict[tuple, bytes] = {}
        for e in eq_entries:
            k = (e["path"], tuple(e["keys"]))  # keyed by path AND key set
            if k in out:
                continue
            t = pq.read_table(e["path"], columns=list(e["keys"]))
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, t.schema) as w:
                w.write_table(t)
            out[k] = sink.getvalue().to_pybytes()
        return out
    except Exception:
        # ANY stat/read/decode failure — remote scheme, corrupt sidecar
        # (pyarrow ArrowInvalid is not an OSError) — keeps the per-task
        # fallback instead of failing the whole scan at planning
        return {}


def _eq_sidecar_table(path: str, payload: bytes | None, keys):
    """One sidecar's key columns: from the planning-attached inline
    payload when present, else a per-task parquet read (large-sidecar /
    remote fallback)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if payload is not None:
        return pa.ipc.open_stream(payload).read_all()
    return pq.read_table(path, columns=list(keys))


def _apply_eq_deletes_arrow(table, eq_entries):
    """Per-task equality-delete application (the executor half of the
    Iceberg v2 read contract — planning already kept only the sidecars
    whose sequence postdates this file): drop every row whose key tuple
    appears in a sidecar.

    Null-safe to match the JVM path's ``eqNullSafe`` (a sidecar null key
    matches a null cell): null-free delete tuples go through ONE
    vectorized Acero hash anti-join (distinct right side); null-bearing
    tuples — rare, a CDC tombstone with a null key component — fall back
    to a per-distinct-tuple vectorized mask. File key columns written
    before a type widening up-cast to the sidecar's declared type first.
    Cost: O(file rows + outstanding delete keys) per task, no shuffle, no
    driver relation — at 1M files the old plan built a manifest-wide
    (path → seq) createDataFrame per read; this path never sees more than
    its own file."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    by_keys: dict[tuple, list[tuple]] = {}
    for entry in eq_entries:
        path, keys = entry[0], entry[1]
        payload = entry[3] if len(entry) > 3 else None
        by_keys.setdefault(tuple(keys), []).append((path, payload))
    for keys, sidecars in by_keys.items():
        if len(table) == 0:
            break
        dele = pa.concat_tables(
            [_eq_sidecar_table(p, pl, keys) for p, pl in sidecars],
            promote_options="permissive",
        )
        if len(dele) == 0:
            continue
        left_cols = []
        for k in keys:
            typ = dele.schema.field(k).type
            if k in table.column_names:
                left_cols.append(table.column(k).cast(typ))
            else:
                # evolution: key column absent in this older file → null
                left_cols.append(pa.chunked_array([pa.nulls(len(table), type=typ)]))
        null_any = None
        for k in keys:
            nm = pc.is_null(dele.column(k))
            null_any = nm if null_any is None else pc.or_(null_any, nm)
        clean = dele.filter(pc.invert(null_any))
        nully = dele.filter(null_any)
        keep = np.ones(len(table), dtype=bool)
        if len(clean):
            names = [f"__k{i}" for i in range(len(keys))]
            left = pa.table(
                dict(zip(names, left_cols))
                | {"__idx": pa.array(np.arange(len(table)), type=pa.int64())}
            )
            right = (
                pa.table({n: clean.column(k) for n, k in zip(names, keys)})
                .group_by(names)
                .aggregate([])  # distinct key tuples
            )
            hit = left.join(right, keys=names, join_type="left semi")
            keep[hit.column("__idx").to_numpy()] = False
        if len(nully):
            seen: set = set()
            for row in nully.to_pylist():
                tup = tuple(row[k] for k in keys)
                if tup in seen:
                    continue
                seen.add(tup)
                cond = None
                for c, v in zip(left_cols, tup):
                    one = (
                        pc.is_null(c)
                        if v is None
                        else pc.fill_null(
                            pc.equal(c, pa.scalar(v, type=c.type)), False
                        )
                    )
                    cond = one if cond is None else pc.and_(cond, one)
                keep &= np.invert(cond.to_numpy(zero_copy_only=False))
        if not keep.all():
            table = table.filter(pa.array(keep))
    return table


_COMPARES = {
    EqualTo: lambda lo, hi, v: lo <= v <= hi,
    GreaterThan: lambda lo, hi, v: hi > v,
    GreaterThanOrEqual: lambda lo, hi, v: hi >= v,
    LessThan: lambda lo, hi, v: lo < v,
    LessThanOrEqual: lambda lo, hi, v: lo <= v,
    # In: keep the file if ANY listed value falls in [lo, hi] — the probe
    # shape (`centroid_id IN (cells)`) an IVF index read pushes down.
    In: lambda lo, hi, vs: any(lo <= v <= hi for v in vs),
}


class SnapshotReader(DataSourceReader):
    def __init__(self, options: dict, schema):
        table = options["path"]
        self._table = table
        head = _resolve_head(options)
        self._head = head
        self._schema = schema
        self._pushed: list[Filter] = []
        self._target_bytes = int(
            options.get("target_partition_bytes", _SCAN_TARGET_BYTES)
        )
        self._deletes = _dv_map(table, head)
        # outstanding equality deletes (upsert_keys_mor / delete_keys_mor):
        # the entry list is head metadata (bounded by maintenance — the
        # reference pins optimize_rewrite_delete_file_threshold='10');
        # per-file commit sequences resolve lazily (_plan_files fills _seqs
        # from the predicate-surviving segments — never a manifest-wide
        # hydration)
        from web_analytics_on_aws_spark.sources.snapshots import (
            _manifest_eq_deletes,
        )

        self._eq = _manifest_eq_deletes(head)
        self._seqs: dict = {}
        # hidden partitioning (sources/partitioning.py): the spec registry
        # rides the head; per-file tuples ride the segments
        self._specs = (head.get("partitioning") or {}).get("specs", {})
        # column mapping (sources/evolution.py): Spark plans/pushes against
        # LOGICAL names; files store PHYSICAL names — translate at the
        # segment check, the footer-stats check, the bloom probe, and the
        # batch read
        self._map = {f["name"]: f["phys"] for f in head["schema"]["fields"]}
        # per-file partition tuples + manifest column stats: filled in
        # partitions() from the PREDICATE-SURVIVING segments only — the
        # whole point of the manifest-list split is that planning never
        # materializes the full per-file maps
        self._parts: dict = {}
        self._stats: dict = {}
        # planning telemetry for probes/tests: how much manifest metadata
        # this read actually parsed (segments_read < segments_total under
        # a selective predicate is the manifest-level skip working)
        self.plan_stats: dict | None = None
        self._planned = False
        # Bloom sidecar (sources/bloom_index.py): consulted at planning for
        # EqualTo/In probes where min/max envelopes can't prune (high-
        # cardinality equality lookups). Files without an entry are never
        # skipped, so a partially-built index is only ever conservative.
        from web_analytics_on_aws_spark.sources.bloom_index import (
            load_bloom_index,
        )

        self._bloom = load_bloom_index(table)
        # Resolve the OUTPUT arrow schema once, on the driver: honor the
        # schema Spark hands the reader (explicit .schema(...) / the
        # ``columns`` option), falling back to the head's schema block.
        # Serialized into the pickled reader → each task reuses it instead
        # of re-reading every file's footer per partition (which was
        # O(files²) metadata reads per scan).
        want = None
        if schema is not None and len(schema.fields) > 0:
            try:
                from pyspark.sql.pandas.types import to_arrow_schema

                want = to_arrow_schema(schema)
            except Exception:
                want = None
        if want is None:
            want, _ = _logical_arrow_schema(head)
        self._want = want

    def pushFilters(self, filters: list[Filter]):
        """Keep every comparison filter on a top-level column for file-level
        min/max skipping; return ALL filters so Spark still evaluates them
        (skipping may only ever drop files that provably contain no match)."""
        self._pushed = [
            f
            for f in filters
            if type(f) in _COMPARES and len(f.attribute) == 1
        ]
        return filters

    def _file_may_match(self, path: str) -> bool:
        import pyarrow.parquet as pq

        if not self._pushed:
            return True
        entry = self._parts.get(path)
        if entry is not None:
            from web_analytics_on_aws_spark.sources.partitioning import (
                file_may_match as _partition_may_match,
            )

            if not _partition_may_match(
                self._pushed, entry, self._specs, self._map
            ):
                return False
        if self._bloom:
            from web_analytics_on_aws_spark.sources.bloom_index import (
                may_contain,
            )

            for f in self._pushed:
                attr = self._map.get(f.attribute[0], f.attribute[0])
                entry = self._bloom.get(attr, {}).get(path)
                if entry is None:
                    continue
                if type(f) is EqualTo and not may_contain(entry, f.value):
                    return False
                if type(f) is In and not any(
                    may_contain(entry, v) for v in f.value
                ):
                    return False
        stats = self._stats.get(path)
        if stats is not None:
            # manifest column stats: the entry was computed from THIS
            # file's footer at commit time, so planning decides from the
            # manifest alone — zero footer I/O. A column missing from the
            # entry (all-null, long strings, unsupported type) keeps the
            # file, same contract as footer stats being absent.
            bounds = stats.get("cols", {})
            for f in self._pushed:
                col = self._map.get(f.attribute[0], f.attribute[0])
                ent = bounds.get(col)
                if ent is None:
                    continue
                lo, hi = _decode_stat(ent[0]), _decode_stat(ent[1])
                try:
                    if not _COMPARES[type(f)](lo, hi, f.value):
                        return False
                except TypeError:
                    continue  # incomparable literal/stat → keep the file
            return True
        meta = pq.ParquetFile(path).metadata
        names = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
        for f in self._pushed:
            col = self._map.get(f.attribute[0], f.attribute[0])
            if col not in names:
                continue  # evolution: column absent in this file → all-null
            lo: Any = None
            hi: Any = None
            ok = True
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(names[col]).statistics
                if st is None or not st.has_min_max:
                    ok = False  # no stats → cannot skip on this filter
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if not ok or lo is None:
                continue
            try:
                if not _COMPARES[type(f)](lo, hi, f.value):
                    return False  # provably no matching row in this file
            except TypeError:
                continue  # incomparable literal/stat types → keep the file
        return True

    def _segment_may_match(self, seg: dict) -> bool:
        """Manifest-LIST-level skipping (the layer Iceberg gets from its
        manifest list): decide from a segment's recorded ranges alone
        whether any member file could satisfy the pushed filters — only
        intersecting segments are ever opened. Conservative on both axes:
        a column is bounds-checked only if the summary lists it (i.e.
        every member file bounds it), and partition-value sets are checked
        through the same ``file_may_match`` transform logic files use."""
        if not self._pushed:
            return True
        for f in self._pushed:
            col = self._map.get(f.attribute[0], f.attribute[0])
            ent = seg.get("cols", {}).get(col)
            if ent is None:
                continue
            lo, hi = _decode_stat(ent[0]), _decode_stat(ent[1])
            try:
                if not _COMPARES[type(f)](lo, hi, f.value):
                    return False
            except TypeError:
                continue
        sid = seg.get("part_spec")
        if sid is not None:
            from web_analytics_on_aws_spark.sources.partitioning import (
                file_may_match as _pmm,
            )

            for fname, vals in (seg.get("parts") or {}).items():
                for flt in self._pushed:
                    if not any(
                        _pmm(
                            [flt],
                            {"spec_id": sid, "values": {fname: v}},
                            self._specs,
                            self._map,
                        )
                        for v in vals
                    ):
                        return False
        return True

    def _plan_files(self) -> list[str]:
        """The candidate file list for this read, hydrating only the
        predicate-intersecting segments (and filling ``self._parts`` /
        ``self._stats`` for the per-file checks). Records ``plan_stats``
        for probes."""
        from web_analytics_on_aws_spark.sources.snapshots import (
            _REMOTE_SCHEMES,
            _manifest_path,
            _read_groups,
            _read_segments,
            _segment_abspath,
        )

        import os

        # plan_stats byte accounting is local-only: on remote-scheme
        # tables a getsize per manifest path would be one HEAD round-trip
        # each (ADVICE r9) — and os.path.getsize on a URI raises anyway.
        # Probes that read plan_stats run on local fixtures.
        _size = (
            (lambda p: 0)
            if self._table.startswith(_REMOTE_SCHEMES)
            else os.path.getsize
        )
        v = int(self._head["version"])
        bytes_read = _size(_manifest_path(self._table, v))
        # group layer first: a group summary carries the same merged
        # bounds/partition-value shape as a segment summary, so the same
        # check prunes whole groups — only intersecting groups are opened
        # and contribute their member segments to the segment-layer check
        groups = self._head.get("groups", [])
        g_surv = [g for g in groups if self._segment_may_match(g)]
        segs: list[dict] = []
        for g in g_surv:
            bytes_read += _size(_segment_abspath(self._table, g["path"]))
        for member in _read_groups(self._table, g_surv):
            segs.extend(member)
        segs += self._head.get("segments", [])
        segs_total = (
            sum(int(g.get("n_segs", 0)) for g in groups)
            + len(self._head.get("segments", []))
        )
        survivors = [s for s in segs if self._segment_may_match(s)]
        for seg in survivors:
            bytes_read += _size(_segment_abspath(self._table, seg["path"]))
        files: list[str] = []
        parts: dict = {}
        stats: dict = {}
        seqs: dict = {}
        # thread-pooled reads — wide scans over many segments stay
        # latency-bound on object stores (see snapshots._read_segments)
        for entries in _read_segments(self._table, survivors):
            for p, e in entries.items():
                files.append(p)
                seqs[p] = int(e["seq"])
                if e.get("part") is not None:
                    parts[p] = e["part"]
                if e.get("stats") is not None:
                    stats[p] = e["stats"]
        self._parts = parts
        self._stats = stats
        self._seqs = seqs
        self.plan_stats = {
            "groups_total": len(groups),
            "groups_read": len(g_surv),
            "segments_total": segs_total,
            "segments_read": len(survivors),
            "manifest_bytes_read": bytes_read,
        }
        return sorted(files)

    def partitions(self):
        # pass 1 — plan survivors and resolve the v2 sequence rule: only
        # sidecars whose sequence postdates a file's commit ride its
        # partition (an upsert's own data files postdate their sidecar and
        # carry nothing). Pre-sequence legacy files default 0 = provably
        # older than any eq delete — the same rule as the change-feed
        # resolver.
        planned: list[tuple[str, tuple]] = []
        for f in self._plan_files():
            if not self._file_may_match(f):
                continue
            surv: tuple = ()
            if self._eq:
                fseq = int(self._seqs.get(f, 0))
                surv = tuple(
                    e for e in self._eq if int(e["seq"]) > fseq
                )
            planned.append((f, surv))
        # pass 2 — the inline decision is made AFTER planning (VERDICT r10
        # #1): each carrying partition ships its own COPY of the payload
        # in its task pickle, so the real driver→executor volume is
        # Σ_partition Σ_sidecar bytes. Bound THAT by the ship cap, not
        # just the per-copy aggregate (which _inline_eq_payloads still
        # enforces); over either cap, every task falls back to reading
        # the sidecars itself — which at least fans out across executors.
        payloads: dict[tuple, bytes] = {}
        needed = {
            (e["path"], tuple(e["keys"])): e
            for _f, surv in planned
            for e in surv
        }
        if needed:
            try:
                sizes = {
                    p: os.path.getsize(p) for p, _k in needed
                }
                shipped = sum(
                    sizes[e["path"]]
                    for _f, surv in planned
                    for e in surv
                )
            except OSError:
                shipped = None  # remote scheme — per-task fallback
            if shipped is not None and shipped <= _eq_ship_cap():
                # decode only what a surviving partition will carry — an
                # all-postdated sidecar never counts against the budget
                payloads = _inline_eq_payloads(list(needed.values()))
                if payloads:
                    # parquet size is a compressed proxy; re-check the cap
                    # against the ACTUAL Arrow-IPC bytes each task ships
                    real = sum(
                        len(payloads[k])
                        for _f, surv in planned
                        for e in surv
                        for k in ((e["path"], tuple(e["keys"])),)
                        if k in payloads
                    )
                    if real > _eq_ship_cap():
                        payloads = {}
        out = []
        for f, surv in planned:
            eq = tuple(
                (
                    e["path"],
                    tuple(e["keys"]),
                    int(e["seq"]),
                    payloads.get((e["path"], tuple(e["keys"]))),
                )
                for e in surv
            )
            out.append(_FilePartition(f, self._deletes.get(f, ()), eq))
        # bin-pack survivors into ≤ target-byte scan partitions (guide
        # §2.2/§6: fewer, larger map tasks — one Python task per PARTITION,
        # so per-file partitions made task count grow with file count).
        # Manifest byte sizes when present (zero extra I/O), else a flat
        # open cost; packing preserves planning order so reads stay
        # deterministic.
        stats = self._stats
        packed: list[_ScanPartition] = []
        cur: list[_FilePartition] = []
        cur_bytes = 0
        for fp in out:
            sz = _SCAN_OPEN_COST + int(
                (stats.get(fp.path) or {}).get("bytes", 0)
            )
            if cur and cur_bytes + sz > self._target_bytes:
                packed.append(_ScanPartition(tuple(cur)))
                cur, cur_bytes = [], 0
            cur.append(fp)
            cur_bytes += sz
        if cur:
            packed.append(_ScanPartition(tuple(cur)))
        # everything read() needs now rides the partition objects +
        # _want/_map — flag the planning state droppable for the NEXT
        # pickle hop (__getstate__)
        self._planned = True
        return packed

    def __getstate__(self):
        """Executor tasks only run ``read()``, which touches ``_want`` and
        ``_map`` — but pyspark pickles the WHOLE reader into the task
        binary after ``partitions()`` runs. Without this, a 100k-file
        table ships its entire per-file stats/tuple maps (tens of MB) to
        every python worker. Planning state is dropped once planning has
        happened; the pre-planning pickle hop (driver → planning worker)
        keeps everything it still needs."""
        d = dict(self.__dict__)
        if d.get("_planned"):
            d["_parts"] = {}
            d["_stats"] = {}
            d["_seqs"] = {}
            d["_deletes"] = {}
            d["_bloom"] = {}
            d["_head"] = {}
            d["_eq"] = []
        return d

    def read(self, partition: _ScanPartition) -> Iterator:
        if partition is None:
            # every file was pruned by pushFilters → partitions() returned
            # [] and pyspark substitutes a single None partition; an empty
            # scan is a legitimate result, not an error
            return
        for fp in partition.files:
            yield from self._read_file(fp)

    def _read_file(self, partition: _FilePartition) -> Iterator:
        import pyarrow as pa
        import pyarrow.parquet as pq

        want = self._want
        # column pruning at the file read: only the requested columns that
        # this file actually has are decoded; the rest are padded below.
        # want names are LOGICAL; the file stores physical names. Equality
        # deletes match on their (physical) key columns — decode those too
        # even when the query didn't select them; the final projection
        # drops them again.
        phys = {n: self._map.get(n, n) for n in want.names}
        have = set(pq.read_schema(partition.path).names)
        cols_read = [phys[n] for n in want.names if phys[n] in have]
        key_extra = sorted(
            {k for entry in partition.eq_deletes for k in entry[1]}
            & have - set(cols_read)
        )
        table = pq.read_table(partition.path, columns=cols_read + key_extra)
        # merge-on-read position deletes: mask this file's deleted row
        # positions (row order within a parquet file is stable, so the
        # i-th row of read_table is position i)
        if partition.deleted_positions:
            import numpy as np

            mask = np.ones(len(table), dtype=bool)
            pos = np.asarray(partition.deleted_positions, dtype=np.int64)
            mask[pos[pos < len(table)]] = False
            table = table.filter(pa.array(mask))
        # merge-on-read equality deletes: drop rows whose key tuple appears
        # in a sidecar that postdates this file (planning attached only
        # those — the v2 sequence rule already resolved)
        if partition.eq_deletes:
            table = _apply_eq_deletes_arrow(table, partition.eq_deletes)
        # evolution: pad columns this file predates with nulls, up-cast
        # widened ones, project to the schema's column order
        cols = []
        for field in want:
            p = phys[field.name]
            if p in table.column_names:
                cols.append(table.column(p).cast(field.type))
            else:
                cols.append(pa.nulls(len(table), type=field.type))
        yield from pa.table(dict(zip(want.names, cols))).to_batches()


class SnapshotDataSource(DataSource):
    """Register with ``spark.dataSource.register(SnapshotDataSource)``."""

    def __init__(self, options):
        super().__init__(options)
        # Catalog-registered tables (`CREATE TABLE x USING snapshot
        # OPTIONS (path ...)`) hand the path back URI-qualified
        # (file:/...); normalize to the plain local path the manifest
        # layer stores.
        from web_analytics_on_aws_spark.sources.snapshots import (
            _normalize_file,
        )

        if "path" not in self.options:
            # Catalog-table resolution constructs the source a second time
            # with EMPTY options (observed on CREATE TABLE ... USING
            # snapshot); that instance never serves schema()/reader(), so
            # defer all path work instead of failing the whole query.
            return
        self.options["path"] = _normalize_file(self.options["path"])
        # Pin the snapshot version ONCE at source construction: schema()
        # and reader() are separate calls, and a commit landing between
        # them would otherwise mix version N's schema with version N+1's
        # file list (a snapshot-isolation violation on unpinned reads).
        if "version" not in self.options:
            cur = current_version(self.options["path"])
            if cur is None:
                raise FileNotFoundError(
                    f"no snapshots at {self.options['path']}"
                )
            self.options["version"] = str(cur)

    @classmethod
    def name(cls) -> str:
        return "snapshot"

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema

        # resolved from the head's schema block alone (O(1))
        arrow, _ = _logical_arrow_schema(_resolve_head(self.options))
        return self._project_columns(from_arrow_schema(arrow))

    def _project_columns(self, full):
        """Honor an explicit ``columns`` option (comma-separated LOGICAL
        names): the Python DataSource API has no column-pruning hook (the
        engine's Project lands ABOVE the scan, r12 plan audit), so without
        this every snapshot scan decoded and shipped every column across
        the Arrow boundary. Callers that know their projection pass it
        here; the reader then resolves ``_want`` from the pruned schema —
        eq-delete key columns are still decoded per-file when needed
        (``read()``'s key_extra) and dropped before yield, so MOR
        semantics are unchanged."""
        cols = self.options.get("columns")
        if not cols:
            return full
        keep = [c.strip() for c in cols.split(",") if c.strip()]
        dupes = sorted({c for c in keep if keep.count(c) > 1})
        if dupes:
            raise ValueError(
                f"columns option repeats column(s) {dupes}; a duplicate "
                "field would make every downstream reference ambiguous"
            )
        by_name = {f.name: f for f in full.fields}
        missing = [c for c in keep if c not in by_name]
        if missing:
            raise ValueError(
                f"columns option names unknown column(s) {missing}; "
                f"table has {list(by_name)}"
            )
        from pyspark.sql.types import StructType

        return StructType([by_name[c] for c in keep])

    def reader(self, schema) -> SnapshotReader:
        return SnapshotReader(self.options, schema)
