"""`spark.readStream.format("snapshot_changes")` — stream an ACID snapshot
table's change feed (the Delta `readChangeFeed` streaming analog, jar-free).

The offset IS the snapshot version: each micro-batch carries the
row-level insert/delete events of every commit pending at trigger time
(bounded by ``maxVersionsPerBatch``), computed per commit the same way as
`snapshots.table_changes` — data files are immutable, so the diff of two
manifests' disagreeing files IS the commit's change set — and every row
is stamped with its OWN ``_commit_version``, so commit granularity
survives coarse batches. Replay (``readBetweenOffsets`` after a failure)
recomputes the same multiset from the same immutable files, so a
restarted query never duplicates or loses a change — the exactly-once
contract every downstream incremental consumer (counting IVM, exactly-once
sinks) builds on.

Driver-side reader by design: `SimpleDataSourceStreamReader` prefetches on
the driver, and a change feed is bounded by |changed data per commit|, not
table size — this is a maintenance/consumer stream, not a bulk-scan path
(use the batch `table_changes` + a distributed plan for huge backfills).
Vacuum interplay: versions older than the retained window lose their
manifests; starting a stream from a vacuumed offset fails loudly rather
than silently skipping commits.

Options: ``path`` (table root, required), ``startingVersion`` (default:
current head — i.e. only NEW commits stream; pass 0-based earlier versions
to backfill).
"""

from __future__ import annotations

import collections
import json
import os
from typing import Iterator, Tuple

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader


def _versions(table: str) -> list[int]:
    mdir = os.path.join(table, "manifests")
    if not os.path.isdir(mdir):
        return []
    return sorted(
        int(n[1:-5])
        for n in os.listdir(mdir)
        if n.startswith("v") and n.endswith(".json")
    )


def _manifest(table: str, version: int) -> dict:
    # snapshots._read_manifest, not a raw json.load: sharded (format-2)
    # manifests keep per-file maps in segment files the hydrator folds in
    from web_analytics_on_aws_spark.sources.snapshots import _read_manifest

    return _read_manifest(table, version)


def _files(table: str, version: int) -> list[str]:
    return _manifest(table, version)["files"]


def _dv_positions(table: str, version: int) -> dict:
    """{normalized data-file path: set of deleted row positions} from the
    version's merge-on-read sidecars (empty pre-MOR)."""
    import pyarrow.parquet as pq

    from web_analytics_on_aws_spark.sources.snapshots import _normalize_file

    dv: dict = {}
    for dvf in _manifest(table, version).get("delete_files", []):
        t = pq.read_table(dvf, columns=["file", "pos"])
        for f, p in zip(t.column("file").to_pylist(), t.column("pos").to_pylist()):
            dv.setdefault(_normalize_file(f), set()).add(int(p))
    return dv


def _eq_positions(table: str, version: int, files: set[str]) -> dict:
    """{data-file path: set of row positions} killed by the version's
    EQUALITY-delete sidecars, resolved driver-side with the same sequence
    rule as the Spark read path (`snapshots._apply_equality_deletes`): a
    sidecar committed at sequence s deletes matching rows only in files
    with sequence < s, so an upsert's own appended rows survive. Only the
    key columns of the files in ``files`` are read (ADVICE r3: historical
    manifests are immutable, so refusing on eq_deletes made mode="mor"
    tables permanently unconsumable — resolve instead)."""
    import pyarrow.parquet as pq

    m = _manifest(table, version)
    entries = m.get("eq_deletes", [])
    if not entries:
        return {}
    fseq = {f: int(s) for f, s in m.get("file_seq", {}).items()}
    target = [f for f in m["files"] if f in files]
    out: dict = {}
    for e in entries:
        keys = list(e["keys"])
        dseq = int(e["seq"])
        sidecar = pq.read_table(e["path"], columns=keys)
        dead = set(zip(*(sidecar.column(k).to_pylist() for k in keys)))
        if not dead:
            continue
        for f in target:
            # files from pre-sequence manifests default older than any
            # eq delete (eq deletes postdate the file_seq format)
            if fseq.get(f, 0) >= dseq:
                continue
            t = pq.read_table(f, columns=[k for k in keys])
            have = set(t.column_names)
            cols = [
                t.column(k).to_pylist() if k in have else [None] * len(t)
                for k in keys
            ]
            for i, tup in enumerate(zip(*cols)):
                if tup in dead:
                    out.setdefault(f, set()).add(i)
    return out


def _merged_deletes(table: str, version: int, files: set[str]) -> dict:
    """Effective per-file deleted-position sets at ``version`` over the
    listed ``files``: position sidecars ∪ resolved equality deletes."""
    dv = _dv_positions(table, version)
    for p, ps in _eq_positions(table, version, files).items():
        dv.setdefault(p, set()).update(ps)
    return dv


def _read_rows(
    paths: list[str], names: list[str], dv: dict | None = None,
    only_positions: dict | None = None,
) -> collections.Counter:
    """Multiset of row tuples (projected to the stream's columns) across
    ``paths`` — pyarrow only, no Spark session (the reader runs driver-
    side outside one). ``dv`` masks each file's merge-on-read deleted
    positions; ``only_positions`` instead KEEPS only the listed positions
    (used to materialize the rows a delete-vector addition removed)."""
    import pyarrow.parquet as pq

    bag: collections.Counter = collections.Counter()
    for p in paths:
        t = pq.read_table(p)
        keep = None
        if only_positions is not None:
            keep = sorted(q for q in only_positions.get(p, ()) if q < len(t))
            t = t.take(keep) if keep else t.slice(0, 0)
        elif dv:
            dead = dv.get(p, ())
            if dead:
                alive = [i for i in range(len(t)) if i not in dead]
                # a fully MOR-dead file yields an empty alive list —
                # pyarrow infers a null-typed index array for [] and
                # take() raises, so mirror the only_positions guard
                t = t.take(alive) if alive else t.slice(0, 0)
        have = set(t.column_names)
        cols = []
        for n in names:
            if n in have:
                # nanosecond parquet timestamps (Spark's INT96 default)
                # surface as pandas.Timestamp from to_pylist —
                # createDataFrame and the stream's row codec want plain
                # datetime, so normalize at the source
                cols.append(
                    [
                        v.to_pydatetime() if hasattr(v, "to_pydatetime") else v
                        for v in t.column(n).to_pylist()
                    ]
                )
            else:
                cols.append([None] * len(t))
        bag.update(zip(*cols) if len(t) else [])
    return bag


def changes_rows(
    table: str, v_from: int, v_to: int, names: list[str]
) -> Iterator[Tuple]:
    """Row-level change events between two versions, driver-side (pyarrow
    only): yields (*data columns, change_type, v_to). The engine behind
    both the streaming reader (per-commit) and `snapshots.table_changes`'
    equality-delete fallback (arbitrary spans). Each endpoint applies ITS
    version's merge-on-read deletes — position sidecars AND resolved
    equality deletes — so MOR upserts diff as delete(old)+insert(new) and
    compaction/convert maintenance commits diff as no-ops."""
    vs = _versions(table)
    for v in (v_from, v_to):
        if v not in vs:
            raise FileNotFoundError(
                f"version {v} not present at {table} "
                "(vacuumed past the stream's offset?)"
            )
    f_old, f_new = set(_files(table, v_from)), set(_files(table, v_to))
    # eq resolution reads key columns of the in-play files once per
    # crossed eq-delete commit — bounded maintenance-stream cost, same
    # class as convert_equality_deletes' one scan
    dv_old = _merged_deletes(table, v_from, f_old)
    dv_new = _merged_deletes(table, v_to, f_new)
    old = _read_rows(sorted(f_old - f_new), names, dv=dv_old)
    new = _read_rows(sorted(f_new - f_old), names, dv=dv_new)
    for row, n in (new - old).items():
        for _ in range(n):
            yield (*row, "insert", v_to)
    for row, n in (old - new).items():
        for _ in range(n):
            yield (*row, "delete", v_to)
    # MOR effective-delete diffs on files present in BOTH versions:
    # positions newly dead → delete events; positions revived
    # (restore_version) → insert events
    for change_type, lhs, rhs in (
        ("delete", dv_new, dv_old),
        ("insert", dv_old, dv_new),
    ):
        diff = {
            p: lhs.get(p, set()) - rhs.get(p, set())
            for p in (f_old & f_new)
        }
        diff = {p: ps for p, ps in diff.items() if ps}
        if diff:
            rows2 = _read_rows(sorted(diff), names, only_positions=diff)
            for row, n in rows2.items():
                for _ in range(n):
                    yield (*row, change_type, v_to)


class SnapshotChangesStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict, names: list[str]):
        self._table = options["path"]
        self._names = names
        start = options.get("startingversion")
        self._max_versions = int(options.get("maxversionsperbatch", 1 << 30))
        vs = _versions(self._table)
        if not vs:
            raise FileNotFoundError(f"no snapshots at {self._table}")
        self._start = int(start) if start is not None else vs[-1]

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def _changes(self, v_from: int, v_to: int) -> Iterator[Tuple]:
        return changes_rows(self._table, v_from, v_to, self._names)

    def read(self, start: dict) -> Tuple[Iterator[Tuple], dict]:
        v = int(start["version"])
        head = _versions(self._table)[-1]
        hi = min(head, v + self._max_versions)
        if hi <= v:
            return iter([]), {"version": v}
        # a batch carries every pending commit (bounded by
        # maxVersionsPerBatch); each row is tagged with its OWN commit
        # version, so granularity is preserved even in coarse batches —
        # and availableNow drains everything in one trigger. Materialized
        # (not a lazy generator): the prefetch cache is pickled.
        rows: list[Tuple] = []
        for x in range(v, hi):
            rows.extend(self._changes(x, x + 1))
        return iter(rows), {"version": hi}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[Tuple]:
        lo, hi = int(start["version"]), int(end["version"])
        rows: list[Tuple] = []
        for v in range(lo, hi):
            rows.extend(self._changes(v, v + 1))
        return iter(rows)

    def commit(self, end: dict) -> None:
        pass  # manifests/files are the table's own durability


class SnapshotChangesDataSource(DataSource):
    """Register with ``spark.dataSource.register(SnapshotChangesDataSource)``."""

    def __init__(self, options):
        super().__init__(options)
        if "path" in self.options:
            from web_analytics_on_aws_spark.sources.snapshots import (
                _normalize_file,
            )

            self.options["path"] = _normalize_file(self.options["path"])

    @classmethod
    def name(cls) -> str:
        return "snapshot_changes"

    def _data_schema(self):
        """(arrow schema under LOGICAL names, per-field PHYSICAL read
        names). Column mapping (sources/evolution.py): the stream's output
        schema shows logical names, while ``_read_rows`` projects each
        immutable data file by the stable physical names — a rename
        mid-history changes neither the bytes nor the events."""
        from web_analytics_on_aws_spark.sources.snapshot_datasource import (
            _logical_arrow_schema,
        )
        from web_analytics_on_aws_spark.sources.snapshots import (
            _read_manifest_head,
        )

        vs = _versions(self.options["path"])
        if not vs:
            raise FileNotFoundError(f"no snapshots at {self.options['path']}")
        arrow, mapping = _logical_arrow_schema(
            _read_manifest_head(self.options["path"], vs[-1])
        )
        phys_names = [mapping[n] for n in arrow.names]
        return arrow, phys_names

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema
        from pyspark.sql.types import LongType, StringType, StructField

        base = from_arrow_schema(self._data_schema()[0])
        return base.add(StructField("_change_type", StringType())).add(
            StructField("_commit_version", LongType())
        )

    def simpleStreamReader(self, schema) -> SnapshotChangesStreamReader:
        return SnapshotChangesStreamReader(
            self.options, self._data_schema()[1]
        )
