"""ALTER TABLE column DDL for commitlog tables — metadata-only RENAME /
DROP / ADD COLUMN via column mapping (Delta's column-mapping *name*
mode; Iceberg's field-id evolution re-expressed over plain parquet).

The core rule that makes every verb O(1 log bytes) at any table size:
**physical (in-file) column names are immutable once assigned**.

* RENAME changes only the LOGICAL name in table metadata; every data
  file — written before or after — keeps the same physical column, so
  nothing is rewritten and in-flight concurrent writers stay valid
  (their staged files already carry the immutable physical names).
* DROP removes the logical field and retires its physical name; old
  files keep the bytes (readers project them out; they are dead weight
  until a compaction naturally rewrites the file).
* ADD appends a nullable logical field and mints a FRESH physical name
  (never a retired one — re-using it would resurrect a dropped
  column's stale values out of old files); files written before the
  ADD read NULL for it via the declared-schema scan.

The first ALTER activates mapping (an identity logical→physical map
over the current schema) and ratchets the `column-mapping`
reader+writer table feature IN THE SAME COMMIT, so builds that would
misread physical files or land logically-named files refuse the whole
table (PROTOCOL.md feature gating) instead of corrupting it.

Time travel composes for free: reads AS OF version v use the schema
AND mapping recorded at v, so pre-rename snapshots show pre-rename
names. RESTORE rolls schema+mapping back with the data (the protocol
ratchet, as always, survives).

Reference parity: the reference renames/prunes response-dataset
columns eagerly per run (dataset rewrite); here the same surface is a
versioned metadata operation because at 100 TB a rewrite-for-rename is
not an operation, it is an outage.
"""

from __future__ import annotations

import re

from .checkpoint import (
    _evolve_meta, _protocol_action, column_mapping, make_ledger)

__all__ = ["add_column", "drop_column", "rename_column"]

_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _ledger_and_meta(out_dir: str, ledger=None):
    ledger = ledger or make_ledger(out_dir)
    meta = ledger.table_meta()
    if not meta.get("schema"):
        raise ValueError("table has no recorded schema yet — ALTER "
                         "needs at least one committed write")
    return ledger, meta


def _guard_column(meta: dict, col: str, verb: str) -> None:
    """Refusals shared by RENAME and DROP: the bucket-spec column
    anchors partition pruning by its recorded name, and any CHECK
    constraint expression references columns by logical name — both
    would silently stop matching after the change (Delta refuses the
    constraint case identically; we refuse both loudly)."""
    bucket = meta.get("bucket") or {}
    if bucket.get("col") == col:
        raise ValueError(
            f"cannot {verb} {col!r}: it is the table's bucket-partition "
            f"column ({bucket}); partition pruning resolves it by name")
    pat = re.compile(rf"\b{re.escape(col)}\b")
    hit = [n for n, expr in (meta.get("constraints") or {}).items()
           if pat.search(expr)]
    if hit:
        raise ValueError(
            f"cannot {verb} {col!r}: CHECK constraint(s) {sorted(hit)} "
            "reference it; DROP CONSTRAINT first")


def _activate_mapping(meta: dict) -> dict:
    """Identity map over the current schema the first time ALTER
    touches the table — every already-written file's physical names
    equal the logical names of that moment, by construction."""
    cm = column_mapping(meta)
    if cm:
        return cm
    return {f["name"]: f["name"] for f in meta["schema"]["fields"]}


def _commit(ledger, meta: dict, meta_patch: dict) -> int:
    """One atomic commit: the table_meta change, plus the
    column-mapping protocol ratchet when the patch maps columns on a
    table not yet gated (two actions, one version — a reader never
    observes a mapped table that is not feature-gated)."""
    return ledger.set_table_meta(meta_patch, protocol=_protocol_action(
        meta, reader_features=["column-mapping"],
        writer_features=["column-mapping"])
        if meta_patch.get("column_mapping") else None)


def rename_column(out_dir: str, old: str, new: str, ledger=None) -> int:
    """ALTER TABLE RENAME COLUMN old TO new — one metadata commit, zero
    data I/O, valid against every existing and in-flight file. Returns
    the commit version."""
    ledger, meta = _ledger_and_meta(out_dir, ledger)
    if not _IDENT.match(new or ""):
        raise ValueError(f"invalid column name {new!r}")
    fields = [dict(f) for f in meta["schema"]["fields"]]
    names = [f["name"] for f in fields]
    if old not in names:
        raise ValueError(f"no column {old!r}; table has {names}")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    if old == "part" or new == "part":
        raise ValueError("`part` is the directory-derived partition "
                         "column, not a data column — it cannot be "
                         "renamed or shadowed")
    _guard_column(meta, old, "rename")
    cm = _activate_mapping(meta)
    cm[new] = cm.pop(old)
    for f in fields:
        if f["name"] == old:
            f["name"] = new
    return _commit(ledger, meta, {
        "schema": {"type": "struct", "fields": fields},
        "column_mapping": cm})


def drop_column(out_dir: str, col: str, ledger=None) -> int:
    """ALTER TABLE DROP COLUMN — metadata-only: readers stop projecting
    the physical column; its bytes remain in existing files until
    compaction naturally rewrites them. The physical name is RETIRED so
    a later ADD of the same logical name can never read the dropped
    column's stale values. Returns the commit version."""
    ledger, meta = _ledger_and_meta(out_dir, ledger)
    fields = [dict(f) for f in meta["schema"]["fields"]]
    names = [f["name"] for f in fields]
    if col not in names:
        raise ValueError(f"no column {col!r}; table has {names}")
    if len(fields) == 1:
        raise ValueError("cannot drop the table's only column")
    if col == "part":
        raise ValueError("`part` is the partition column; drop is a "
                         "table re-layout, not a column DDL")
    _guard_column(meta, col, "drop")
    cm = _activate_mapping(meta)
    retired = list(meta.get("retired_physical") or [])
    retired.append(cm.pop(col))
    return _commit(ledger, meta, {
        "schema": {"type": "struct",
                   "fields": [f for f in fields if f["name"] != col]},
        "column_mapping": cm,
        "retired_physical": sorted(set(retired))})


def add_column(out_dir: str, col: str, ddl_type: str, ledger=None) -> int:
    """ALTER TABLE ADD COLUMN col ddl_type — the explicit-DDL face of
    the additive evolution (`_evolve_meta`) every widened write
    performs implicitly. Always nullable (existing files hold
    no values; they read NULL). Returns the commit version."""
    from pyspark.sql.types import (
        BinaryType, BooleanType, DataType, DateType, DoubleType,
        FloatType, IntegerType, LongType, StringType, StructField,
        TimestampType)

    ledger, meta = _ledger_and_meta(out_dir, ledger)
    if not _IDENT.match(col or ""):
        raise ValueError(f"invalid column name {col!r}")
    fields = [dict(f) for f in meta["schema"]["fields"]]
    if col in [f["name"] for f in fields] or col == "part":
        raise ValueError(f"column {col!r} already exists")
    atomic = {"string": StringType(), "int": IntegerType(),
              "integer": IntegerType(), "bigint": LongType(),
              "long": LongType(), "double": DoubleType(),
              "float": FloatType(), "boolean": BooleanType(),
              "timestamp": TimestampType(), "date": DateType(),
              "binary": BinaryType()}
    if isinstance(ddl_type, DataType):
        dt = ddl_type
    elif str(ddl_type).strip().lower() in atomic:
        dt = atomic[str(ddl_type).strip().lower()]
    else:
        # complex DDL (array<...>, struct<...>) — parsed by Spark,
        # which needs an active session; atomic types above do not
        from pyspark.sql.types import _parse_datatype_string
        dt = _parse_datatype_string(str(ddl_type))
    fields.append(StructField(col, dt, True).jsonValue())
    # ADD alone does not activate mapping: identity still holds for
    # every column (the new physical name equals the logical name and
    # cannot collide with a retired one — none exist pre-activation);
    # on a mapped table the patch mints the new physical name
    return _commit(ledger, meta, _evolve_meta(
        meta, {"type": "struct", "fields": fields}))
