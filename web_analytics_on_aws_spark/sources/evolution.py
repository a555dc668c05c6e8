"""Schema evolution for snapshot tables — rename / drop / add / widen
with Delta-style column mapping (Iceberg field-ID semantics), jar-free.

The reference commits to managed Iceberg tables whose schema can evolve in
place (web-analytics-iceberg/README.md — Iceberg's headline feature set);
this module closes that gap for the hand-rolled snapshot format. Like an
Iceberg table's metadata, every head manifest carries a ``schema`` block
from the table's FIRST commit on::

    {"fields": [{"id": 1, "name": "logical", "phys": "physical",
                 "type": "bigint"}, ...],
     "next_id": N}

The first ``commit_append``/``commit_overwrite`` writes the identity
mapping of the written DataFrame (``identity_schema``: ids in column
order, ``phys`` equal to the name, types from ``df.dtypes``), so an empty
table is a head with a schema and no data files. The invariant is:
**parquet data files always store PHYSICAL names; the logical schema
exists only in table metadata.** Consequences:

- RENAME is a metadata-only commit (logical name changes, ``phys`` stays —
  no data file is ever rewritten, exactly like Iceberg field IDs / Delta
  ``columnMapping.mode=name``);
- DROP is metadata-only (the field leaves the schema; the physical bytes
  stay until files are naturally rewritten — reads never project them);
- ADD allocates a fresh field id with a collision-proof physical name
  ``_f{id}_{name}``; re-adding a dropped name gets a NEW id, so the old
  column's data is never resurrected (Iceberg's id-based contract). It is
  the only way to add a column: writes refuse columns the schema lacks;
- WIDEN changes a field's declared type along Iceberg's safe promotions;
  writes must carry each column at its declared type or a type the
  reader up-casts to it (``to_physical``);
- every manifest carries the schema that was current AT THAT COMMIT, so
  time travel / VERSION AS OF reads automatically render each version
  under its own schema — a read of v3 shows v3's column names;
- all engine internals (maintenance rewrites, MOR sidecars, position
  deletes, file diffs) keep operating on physical names; translation
  happens once at the user boundary (``read_snapshot``, ``commit_append``,
  DML predicates, change feeds, the ``snapshot`` DataSource).

Schema history is per-manifest and carried forward like constraints and
txn stamps (vacuum-safe).
"""

from __future__ import annotations

import copy
import re

from pyspark.sql import DataFrame, SparkSession

SCHEMA_KEY = "schema"


def manifest_schema(m: dict) -> dict:
    return m[SCHEMA_KEY]


def identity_schema(df: DataFrame) -> dict:
    """The schema block a table's first commit records: one field per
    column of ``df`` in order, its physical name equal to its name and
    its type ``df.dtypes`` renders."""
    fields = [
        {"id": i + 1, "name": n, "phys": n, "type": t}
        for i, (n, t) in enumerate(df.dtypes)
    ]
    return {"fields": fields, "next_id": len(fields) + 1}


def phys_for(schema: dict) -> dict[str, str]:
    """{logical name: physical name}."""
    return {f["name"]: f["phys"] for f in schema["fields"]}


def logical_projection(df: DataFrame, schema: dict, keep: tuple = ()):
    """Project a PHYSICAL DataFrame to the logical schema: rename mapped
    columns, null-fill added columns no file carries yet, hide dropped
    physical columns. ``keep`` appends pass-through helper columns
    (``__f``/``__p`` position keys in DML paths)."""
    import pyspark.sql.functions as F

    cols = set(df.columns)
    out = []
    for f in schema["fields"]:
        if f["phys"] in cols:
            out.append(F.col(f["phys"]).alias(f["name"]))
        else:
            out.append(F.lit(None).cast(f["type"]).alias(f["name"]))
    out.extend(F.col(k) for k in keep)
    return df.select(*out)


def to_physical(df: DataFrame, schema: dict, op: str) -> DataFrame:
    """Rename a LOGICAL DataFrame's columns to their physical storage
    names before writing. Refused loudly: a column the schema lacks
    (widening the schema is an explicit ``evolve_add_column``, never a
    side effect of a write — it would bypass id allocation), and a column
    whose type is neither its declared type nor one the reader up-casts
    to it (``_widenable``) — such a file would fail every later read."""
    import pyspark.sql.functions as F

    mapping = phys_for(schema)
    unknown = sorted(set(df.columns) - set(mapping))
    if unknown:
        raise ValueError(
            f"{op}: columns {unknown} not in table schema — run "
            "evolve_add_column first (writes never widen the schema)"
        )
    declared = {f["name"]: f["type"] for f in schema["fields"]}
    bad = [
        f"{c}: {t} written, {declared[c]} declared"
        for c, t in df.dtypes
        if t != declared[c] and not _widenable(t, declared[c])
    ]
    if bad:
        raise ValueError(
            f"{op}: column type mismatch against the table schema "
            f"({'; '.join(bad)}) — cast the columns, or evolve_widen_column "
            "for a safe promotion"
        )
    return df.select(*[F.col(c).alias(mapping[c]) for c in df.columns])


def translate_keys(schema: dict, keys: list[str], op: str) -> list[str]:
    mapping = phys_for(schema)
    missing = sorted(set(keys) - set(mapping))
    if missing:
        raise ValueError(f"{op}: key columns {missing} not in table schema")
    return [mapping[k] for k in keys]


def table_schema(table: str, version: int | None = None) -> dict:
    """The column-mapping schema at ``version`` (default head)."""
    from web_analytics_on_aws_spark.sources.snapshots import (
        _read_manifest_head,
        current_version,
    )

    v = current_version(table) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no snapshots at {table}")
    return manifest_schema(_read_manifest_head(table, v))


def _constraint_mentions(m: dict, column: str) -> list[str]:
    pat = re.compile(rf"\b{re.escape(column)}\b")
    return sorted(
        name
        for name, expr in m.get("constraints", {}).items()
        if pat.search(expr)
    )


def _evolve(spark: SparkSession, table: str, op: str, mutate) -> int:
    from web_analytics_on_aws_spark.sources.snapshots import (
        _manifest_deletes,
        _manifest_eq_deletes,
        _publish,
        _read_manifest_head,
        current_version,
    )

    cur = current_version(table)
    if cur is None:
        raise FileNotFoundError(f"no snapshots at {table}")
    m = _read_manifest_head(table, cur)
    schema = copy.deepcopy(manifest_schema(m))
    mutate(schema, m)
    # metadata-only commit: same files, same sidecars, same sequences —
    # only the schema block changes, so it publishes as an empty delta
    # over the head
    _publish(
        table, cur + 1, None, op,
        delete_files=_manifest_deletes(m),
        eq_deletes=_manifest_eq_deletes(m),
        schema=schema,
        new_files=[], removed_files=[],
    )
    return cur + 1


def evolve_add_column(
    spark: SparkSession, table: str, name: str, dtype: str
) -> int:
    """ALTER TABLE ADD COLUMN (metadata-only): existing rows read as NULL;
    the physical name embeds the fresh field id, so a later drop + re-add
    of the same name can never resurrect this column's bytes."""
    from pyspark.sql.types import _parse_datatype_string

    # fail fast on an unparseable type; store it as df.dtypes renders it,
    # the form writes are checked against (to_physical)
    dtype = _parse_datatype_string(dtype).simpleString()

    def mutate(schema: dict, m: dict) -> None:
        if name in phys_for(schema):
            raise ValueError(f"column {name!r} already exists")
        fid = schema["next_id"]
        schema["fields"].append(
            {"id": fid, "name": name, "phys": f"_f{fid}_{name}",
             "type": dtype}
        )
        schema["next_id"] = fid + 1

    return _evolve(spark, table, "evolve-add", mutate)


def evolve_rename_column(
    spark: SparkSession, table: str, old: str, new: str
) -> int:
    """ALTER TABLE RENAME COLUMN (metadata-only): the physical name is
    immutable, so no data file is touched and every old file remains
    readable. Refused while a CHECK constraint references the column —
    constraint expressions are stored against logical names and a silent
    rename would orphan them (Iceberg has the same restriction)."""

    def mutate(schema: dict, m: dict) -> None:
        mapping = phys_for(schema)
        if old not in mapping:
            raise ValueError(f"column {old!r} does not exist")
        if new in mapping:
            raise ValueError(f"column {new!r} already exists")
        cons = _constraint_mentions(m, old)
        if cons:
            raise ValueError(
                f"cannot rename {old!r}: referenced by CHECK constraint(s) "
                f"{cons} — drop or rewrite them first"
            )
        for f in schema["fields"]:
            if f["name"] == old:
                f["name"] = new

    return _evolve(spark, table, "evolve-rename", mutate)


_INT_ORDER = ["tinyint", "smallint", "int", "bigint"]
_DECIMAL = re.compile(r"^decimal\((\d+),\s*(\d+)\)$")


def _widenable(old: str, new: str) -> bool:
    """Iceberg's safe type promotions (spec §Schemas: int→long,
    float→double, decimal precision growth at fixed scale) — exactly the
    set Spark 4's vectorized parquet reader up-casts when handed an
    explicit wider read schema, so old files stay readable byte-for-byte
    (probed: INT32→long, FLOAT→double, DECIMAL(5,2)→(10,2) all read;
    long→double does NOT and is refused here)."""
    old, new = old.strip().lower(), new.strip().lower()
    if old in _INT_ORDER and new in _INT_ORDER:
        return _INT_ORDER.index(new) > _INT_ORDER.index(old)
    if old == "float" and new == "double":
        return True
    mo, mn = _DECIMAL.match(old), _DECIMAL.match(new)
    if mo and mn:
        return (
            int(mn.group(2)) == int(mo.group(2))
            and int(mn.group(1)) > int(mo.group(1))
        )
    return False


def evolve_widen_column(
    spark: SparkSession, table: str, name: str, dtype: str
) -> int:
    """ALTER TABLE ALTER COLUMN ... TYPE (metadata-only type widening):
    the field keeps its id and physical name; only its declared type
    changes. Existing files are NEVER rewritten — the explicit-schema scan
    (snapshots._scan_files) up-casts their narrower bytes in the parquet
    reader, new appends write the wide type, and time travel renders each
    version under the type it declared THEN. Only Iceberg's safe
    promotions are accepted (int→long, float→double, decimal precision
    growth); anything lossy raises."""
    from pyspark.sql.types import _parse_datatype_string

    dtype = _parse_datatype_string(dtype).simpleString()

    def mutate(schema: dict, m: dict) -> None:
        mapping = phys_for(schema)
        if name not in mapping:
            raise ValueError(f"column {name!r} does not exist")
        cons = _constraint_mentions(m, name)
        if cons:
            raise ValueError(
                f"cannot widen {name!r}: referenced by CHECK constraint(s) "
                f"{cons} — drop or rewrite them first"
            )
        for f in schema["fields"]:
            if f["name"] == name:
                if not _widenable(f["type"], dtype):
                    raise ValueError(
                        f"cannot widen {name!r}: {f['type']} → {dtype} is "
                        "not a safe promotion (int→long, float→double, "
                        "decimal precision growth only)"
                    )
                f["type"] = dtype

    return _evolve(spark, table, "evolve-widen", mutate)


def evolve_drop_column(spark: SparkSession, table: str, name: str) -> int:
    """ALTER TABLE DROP COLUMN (metadata-only): reads stop projecting the
    field immediately; physical bytes age out as files are rewritten by
    normal maintenance. Refused while a CHECK constraint references it,
    while it is in the table's declared write sort order, or while the
    CURRENT partition spec transforms it (ADVICE r6: either would brick
    every subsequent write — ``_sorted_for_write`` /
    ``write_partitioned_files`` reference the physical column — loudly
    but unrecoverably until the user clears the order/spec by hand).
    Iceberg has the same restriction for partition sources; clear with
    ``set_sort_order(spark, table, [])`` / ``set_partition_spec(spark,
    table, [])`` first."""

    def mutate(schema: dict, m: dict) -> None:
        if name not in phys_for(schema):
            raise ValueError(f"column {name!r} does not exist")
        cons = _constraint_mentions(m, name)
        if cons:
            raise ValueError(
                f"cannot drop {name!r}: referenced by CHECK constraint(s) "
                f"{cons} — drop or rewrite them first"
            )
        phys = phys_for(schema)[name]
        if phys in ((m.get("sort_order") or {}).get("cols") or ()):
            raise ValueError(
                f"cannot drop {name!r}: it is in the table's write sort "
                "order — clear it first (set_sort_order(spark, table, []))"
            )
        pblock = m.get("partitioning") or {}
        cur_spec = str(pblock.get("current") or 0)
        if cur_spec != "0":
            srcs = {f["source"] for f in pblock["specs"][cur_spec]}
            if phys in srcs:
                raise ValueError(
                    f"cannot drop {name!r}: the current partition spec "
                    "transforms it — evolve the spec first "
                    "(set_partition_spec(spark, table, []))"
                )
        schema["fields"] = [
            f for f in schema["fields"] if f["name"] != name
        ]
        if not schema["fields"]:
            raise ValueError("cannot drop the last column")

    return _evolve(spark, table, "evolve-drop", mutate)
