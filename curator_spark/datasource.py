"""`curator_table` — a PySpark Python Data Source (Spark 4 DataSource
API) exposing the commitlog table to plain `spark.read` /
`spark.readStream`, no library calls needed at the consumption site:

    spark.dataSource.register(CuratorTableDataSource)
    df = spark.read.format("curator_table").load(table_dir)
    s  = (spark.readStream.format("curator_table").load(table_dir)
          .writeStream.foreachBatch(train_on).trigger(availableNow=True)
          .option("checkpointLocation", ckpt).start())

Batch read = the pinned snapshot (the manifests' exact file set, like
`read_committed`). Streaming read = Delta's streaming-source
semantics re-expressed on this log: OFFSETS ARE TABLE VERSIONS, each
micro-batch is the rows INSERTED in (start, end] as `table_changes`
defines them (compaction/delete rewrites and restores are never fed —
`skipChangeCommits` behavior), so Spark's own offset checkpoint makes
consumption exactly-once end to end across restarts. Planning is
driver-side log metadata; executors read ONLY their assigned parquet
files (one input partition per committed file — cluster-parallel by
construction, and at 100 TB each micro-batch plans O(window) metadata,
never a table scan).

The batch reader implements FILTER PUSHDOWN (`pushFilters`): the
pushable conjuncts of a `.where(...)` become manifest-stats file
skipping + bucket-transform partition pruning via the same
`_snapshot_plan` the library reader uses, so a conv_id point probe or
a ts/ppl range scan on a 100 TB table schedules only the surviving
files — decided on the driver from the log alone, zero data I/O. All
filters are also returned to Spark for post-scan re-evaluation:
skipping is a pure scan reduction, never a correctness dependency.

Write side (`df.write` / `df.writeStream.format("curator_table")`):
tasks stage parquet files directly under their final partition dirs
(invisible until committed — manifests govern visibility), the driver
then publishes ONE atomic log commit covering every partition the job
touched: Delta's add-file commit protocol as a native Spark sink.
`mode("overwrite")` swaps the whole table in the same single commit
(remove-all + add, readers never see a half state). The streaming
writer is EXACTLY-ONCE: each epoch's commit carries an idempotent-
writer txn action `(txnAppId, batchId)`; a replayed epoch (sink
crashed after commit, before Spark's own offset advanced) is detected
from the log and skipped, its re-staged files deleted as orphans.

Readers yield and writers accept Arrow record batches (not Python
tuples), so rows never pass through per-row Python; files written
before an additive schema evolution surface the later columns as
nulls, exactly like the snapshot reader.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource, DataSourceArrowWriter, DataSourceReader,
    DataSourceStreamArrowWriter, DataSourceStreamReader, EqualTo,
    GreaterThan, GreaterThanOrEqual, InputPartition, LessThan,
    LessThanOrEqual, WriterCommitMessage)
from pyspark.sql.types import IntegerType, StructField, StructType


@dataclass
class _FilePartition(InputPartition):
    part: int
    path: str
    # deletion-vector positions of this file (row indexes masked out
    # at read — the file itself is immutable)
    dv: tuple = ()


def _declared_schema(table_dir: str) -> StructType:
    from .checkpoint import make_ledger
    from . import schema as _schema
    meta = make_ledger(table_dir).table_meta()
    st = StructType.fromJson(meta["schema"]) if meta.get("schema") \
        else _schema.OUTPUT_SCHEMA
    # partition column LAST, matching Spark's partitioned-parquet read
    # order (so this source is schema-identical to read_committed)
    fields = [f for f in st.fields if f.name != "part"] \
        + [f for f in st.fields if f.name == "part"]
    return StructType(fields)


def _read_file_as_arrow(partition: _FilePartition, schema: StructType,
                        cm: dict | None = None):
    """Executor-side: one committed parquet file → arrow batches cast
    to the table schema (partition column materialized from the
    assignment; evolution-missing columns filled with nulls). `cm` is
    the table's logical→physical column map when column mapping is
    active: the schema Spark sees is logical, the file holds the
    immutable physical names."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    target = to_arrow_schema(schema)
    cm = cm or {}
    table = pq.read_table(partition.path)
    if partition.dv:
        # apply the deletion vector: mask the marked row positions out
        mask = [True] * table.num_rows
        for r in partition.dv:
            mask[int(r)] = False
        table = table.filter(pa.array(mask))
    n = table.num_rows
    arrays = []
    for field in target:
        phys = cm.get(field.name, field.name)
        if field.name == "part" and "part" not in table.column_names:
            arrays.append(pa.array([partition.part] * n,
                                   type=pa.int32()).cast(field.type))
        elif phys in table.column_names:
            arrays.append(table.column(phys).cast(field.type))
        else:  # pre-evolution file: later-added column reads as null
            arrays.append(pa.nulls(n, type=field.type))
    yield from pa.Table.from_arrays(arrays, schema=target).to_batches()


# Spark Filter classes whose semantics map 1:1 onto the library's
# (col, op, literal) skipping triples. In/IsNull/string matches stay
# Spark-side (returning them unpushed is always sound).
_PUSHABLE = {EqualTo: "=", GreaterThan: ">", GreaterThanOrEqual: ">=",
             LessThan: "<", LessThanOrEqual: "<="}


class _SnapshotReader(DataSourceReader):
    def __init__(self, schema: StructType, table_dir: str) -> None:
        from .checkpoint import make_ledger
        self._schema = schema
        self._dir = table_dir
        self._where: list[tuple] = []
        # pin the snapshot VERSION at plan time (driver): the scan
        # stays consistent even if writers commit mid-job
        ledger = make_ledger(table_dir)
        self._version = ledger.latest_version()
        meta = ledger.table_meta()
        self._cm = dict(meta.get("column_mapping") or {})

    def pushFilters(self, filters):
        """Record the pushable conjuncts for manifest-stats file
        skipping + bucket/partition pruning in partitions(). EVERY
        filter is returned for Spark-side re-evaluation — pushdown
        here only shrinks the scheduled file set (min/max skipping is
        conservative by construction), it never claims exactness."""
        for f in filters:
            op = _PUSHABLE.get(type(f))
            if op is None or len(f.attribute) != 1:
                continue
            v = f.value
            if isinstance(v, (list, tuple, dict, bytes)):
                continue  # array/struct literals: no stats semantics
            self._where.append((f.attribute[0], op, v))
        return filters

    def partitions(self):
        import os
        from .checkpoint import _snapshot_plan
        paths, _meta, dv = _snapshot_plan(
            self._dir, self._version, self._where or None)
        out = []
        for p in paths:
            d = os.path.basename(os.path.dirname(p))
            out.append(_FilePartition(int(d.split("=", 1)[1]), p,
                                      dv=tuple(dv.get(p) or ())))
        return out

    def read(self, partition: _FilePartition):
        return _read_file_as_arrow(partition, self._schema, self._cm)


class _ChangeStreamReader(DataSourceStreamReader):
    """Micro-batch source: offset = {'version': N}. partitions(start,
    end) plans the window's inserted files from the log (pure
    metadata); immutable files + deterministic planning make every
    batch replayable, which is what Spark's offset checkpoint needs
    for exactly-once."""

    def __init__(self, schema: StructType, table_dir: str,
                 options=None) -> None:
        self._schema = schema
        self._dir = table_dir
        options = options or {}
        # Delta-parity stream options:
        # * startingVersion: first offset — attach a NEW consumer
        #   without re-bootstrapping the whole table ('latest' = head
        #   at stream start, i.e. only future commits);
        # * maxVersionsPerTrigger: admission control — each micro-batch
        #   advances the offset by at most this many log versions, so a
        #   backlogged stream catches up in bounded bites instead of
        #   one giant batch (the log-version analogue of Delta's
        #   maxFilesPerTrigger).
        sv = options.get("startingversion")
        self._max_versions = int(options.get("maxversionspertrigger")
                                 or 0) or None
        from .checkpoint import make_ledger
        _led = make_ledger(table_dir)
        self._cm = dict(_led.table_meta().get("column_mapping") or {})
        if sv is None:
            self._start = 0
        elif str(sv).lower() == "latest":
            self._start = int(_led.latest_version() or 0)
        else:
            self._start = int(sv)

    def _ledger(self):
        from .checkpoint import make_ledger
        return make_ledger(self._dir)

    def initialOffset(self) -> dict:
        return {"version": int(self._start)}

    def latestOffset(self) -> dict:
        head = int(self._ledger().latest_version() or 0)
        if self._max_versions:
            # rate-limited catch-up: cap the ADVANCE, not the head, so
            # a backlogged stream drains in bounded, replayable bites.
            # The high-water mark is re-synced from Spark's OWN
            # checkpointed offsets (partitions()/commit() below), so a
            # restart resumes from the committed offset, never below it
            cur = getattr(self, "_hwm", int(self._start))
            nxt = min(head, cur + int(self._max_versions))
            self._hwm = nxt
            return {"version": nxt}
        return {"version": head}

    def partitions(self, start: dict, end: dict):
        import os
        from .checkpoint import table_changes
        lo, hi = int(start["version"]), int(end["version"])
        # Spark hands us its checkpointed offset: sync the rate
        # limiter's high-water mark so a restarted stream never plans
        # below (or idles behind) what was already committed
        self._hwm = max(getattr(self, "_hwm", 0), lo, hi)
        if hi <= lo:
            return []
        ch = table_changes(self._dir, lo, hi)
        data = os.path.join(self._dir, "data")
        return [
            _FilePartition(int(p), os.path.join(data, f"part={int(p)}", fn),
                           dv=tuple(fs[fn].get("dv") or ()))
            for p, fs in sorted(ch["inserts"].items())
            for fn in sorted(fs)]

    def read(self, partition: _FilePartition):
        return _read_file_as_arrow(partition, self._schema, self._cm)

    def commit(self, end: dict) -> None:
        # Spark's checkpoint owns progress; the log is immutable. Keep
        # the rate limiter's mark in step with the committed offset.
        self._hwm = max(getattr(self, "_hwm", 0), int(end["version"]))


@dataclass
class _StagedFiles(WriterCommitMessage):
    """One task's staged output: [(part, filename, n_rows, n_bytes,
    stats)] — everything the driver needs to publish the manifest
    entries without reopening any file."""
    entries: list = field(default_factory=list)


class _LedgerWriter(DataSourceArrowWriter):
    """Executor tasks stage parquet files straight into their final
    `data/part=N/` locations under job-unique names — staged files are
    INVISIBLE (manifests govern visibility), so no temp-dir dance and
    no rename fan-out; the driver's commit() publishes one atomic log
    version referencing them all (Delta's add-file commit protocol).

    Row → partition routing, in order of preference: an explicit
    `part` column in the dataframe (the fast path — compute it
    JVM-side upstream, e.g. ingest.part_expr), else the table's
    recorded bucket spec, else a `bucketBy`/`buckets` option pair
    (which creates the spec on a new table, enabling bucket-transform
    partition pruning for every later equality probe). The bucket
    fallback hashes per row in task Python — fine for an I/O-bound
    sink, but the `part` column is the 100 TB path."""

    def __init__(self, schema: StructType, table_dir: str, options,
                 overwrite: bool = False) -> None:
        from .checkpoint import BUCKET_FNS, make_ledger
        self._schema = schema
        self._dir = table_dir
        self._overwrite = overwrite
        ledger = make_ledger(table_dir)
        existing = bool(ledger.committed())
        meta = ledger.table_meta()
        # column mapping (ALTER history): tasks stage files under the
        # immutable PHYSICAL names. New columns this write introduces
        # get physical names minted ONCE here on the driver (tasks must
        # agree), committed alongside the widened schema.
        from .checkpoint import _mint_physical, stats_columns
        self._cm = dict(meta.get("column_mapping") or {})
        self._cm_patch = False
        if self._cm:
            taken = set(self._cm.values()) | set(
                meta.get("retired_physical") or [])
            for f in schema.fields:
                if f.name != "part" and f.name not in self._cm:
                    self._cm[f.name] = _mint_physical(f.name, taken)
                    taken.add(self._cm[f.name])
                    self._cm_patch = True
        self._stats_cols = stats_columns(
            {**meta, "column_mapping": self._cm} if self._cm else meta)
        self._bucket = meta.get("bucket")
        self._new_bucket = False
        if "part" in schema.fieldNames():
            self._route = "column"
        else:
            if not self._bucket:
                col = options.get("bucketby")
                n = int(options.get("buckets") or 0)
                if not (col and n):
                    raise ValueError(
                        "cannot route rows to partitions: give the "
                        "dataframe a `part` column, or set "
                        ".option('bucketBy', <col>).option('buckets', "
                        "<n>) to (create and) use a bucket spec")
                self._bucket = {"col": col, "n_parts": n, "fn": "md5full"}
                self._new_bucket = not existing
                if existing:
                    raise ValueError(
                        "table exists without a bucket spec; appends "
                        "must carry an explicit `part` column")
            if self._bucket["fn"] not in BUCKET_FNS:
                raise ValueError(f"unknown bucket fn {self._bucket['fn']}")
            self._route = "bucket"

    # -- executor side -------------------------------------------------
    def write(self, iterator):
        import os
        import uuid
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from .checkpoint import BUCKET_FNS, file_column_stats
        acc: dict[int, list] = {}
        for batch in iterator:
            tbl = pa.Table.from_batches([batch])
            if self._route == "column":
                parts = pa.array(
                    [int(v) if v is not None else None
                     for v in tbl.column("part").to_pylist()],
                    type=pa.int64())
                if parts.null_count:
                    raise ValueError("`part` routing column holds nulls")
                tbl = tbl.drop_columns(["part"])
            else:
                fn = BUCKET_FNS[self._bucket["fn"]]
                n = int(self._bucket["n_parts"])
                parts = pa.array(
                    [fn(v, n) for v in
                     tbl.column(self._bucket["col"]).to_pylist()],
                    type=pa.int64())
            for p in pc.unique(parts).to_pylist():
                acc.setdefault(int(p), []).append(
                    tbl.filter(pc.equal(parts, p)))
        out = []
        token = uuid.uuid4().hex  # job+task-unique staging name
        for p, chunks in sorted(acc.items()):
            merged = pa.concat_tables(chunks)
            if self._cm:  # mapped table: files hold physical names
                merged = merged.rename_columns(
                    [self._cm.get(c, c) for c in merged.column_names])
            d = os.path.join(self._dir, "data", f"part={p}")
            os.makedirs(d, exist_ok=True)
            fn_ = f"ds-{token}-{p:05d}.parquet"
            fp = os.path.join(d, fn_)
            pq.write_table(merged, fp)
            out.append((p, fn_, merged.num_rows, os.path.getsize(fp),
                        file_column_stats(fp, self._stats_cols)))
        return _StagedFiles(entries=out)

    # -- driver side ----------------------------------------------------
    def _actions(self, messages) -> tuple[list, int]:
        """Manifest actions for one atomic commit, + rows staged."""
        from datetime import datetime, timezone
        import uuid
        by_part: dict[int, dict] = {}
        for m in messages:
            for p, fn_, n_rows, n_bytes, stats in (m.entries if m else []):
                slot = by_part.setdefault(
                    int(p), {"files": {}, "stats": {}, "n_rows": 0})
                slot["files"][fn_] = {"n_rows": int(n_rows),
                                      "n_bytes": int(n_bytes)}
                slot["stats"][fn_] = stats
                slot["n_rows"] += int(n_rows)
        run_id = uuid.uuid4().hex[:16]
        now = datetime.now(timezone.utc).isoformat()
        actions = [{"type": "add_files", "part": p, "files": s["files"],
                    "n_rows": s["n_rows"], "run_id": run_id,
                    "stats": s["stats"], "updated_at": now}
                   for p, s in sorted(by_part.items())]
        return actions, sum(s["n_rows"] for s in by_part.values())

    def _ledger(self):
        from .checkpoint import make_ledger, record_table_schema
        ledger = make_ledger(self._dir)
        if self._new_bucket:
            ledger.set_table_meta({"bucket": dict(self._bucket)})
            self._new_bucket = False
        if self._cm_patch:
            # publish the driver-minted physical names BEFORE the
            # schema widens (inert for columns not yet in the schema;
            # record_table_schema then skips re-minting them)
            ledger.set_table_meta({"column_mapping": dict(self._cm)})
            self._cm_patch = False
        declared = StructType(
            [f for f in self._schema.fields if f.name != "part"]
            + [StructField("part", IntegerType(), False)])
        record_table_schema(ledger, declared)
        return ledger

    def _enforce_constraints(self, ledger, messages) -> None:
        """CHECK enforcement at the sink: staged files validate before
        the commit publishes; a violation unlinks them and raises, so
        the table never holds a row failing a committed constraint."""
        cons = dict(ledger.table_meta().get("constraints") or {})
        if not cons:
            return
        import os

        from pyspark.sql import SparkSession

        from .constraints import ConstraintViolation, check_files
        paths = [os.path.join(self._dir, "data", f"part={int(p)}", fn_)
                 for m in messages or []
                 for p, fn_, *_rest in (m.entries if m else [])]
        spark = SparkSession.getActiveSession()
        try:
            check_files(spark, paths, cons, where=" by write",
                        mapping=self._cm or None)
        except ConstraintViolation:
            _unlink_staged(self._dir, messages)
            raise

    def commit(self, messages) -> None:
        ledger = self._ledger()
        self._enforce_constraints(ledger, messages)
        actions, _ = self._actions(messages)
        if self._overwrite:
            # remove-all + add in the SAME log version: readers see the
            # old table or the new one, never a mix (Delta's overwrite)
            actions = [{"type": "remove", "part": int(p)}
                       for p in sorted(ledger.committed())] + actions
        if actions:
            ledger._append(actions)

    def abort(self, messages) -> None:
        _unlink_staged(self._dir, messages)


class _LedgerStreamWriter(_LedgerWriter, DataSourceStreamArrowWriter):
    """Exactly-once streaming sink: each epoch's staged files and an
    idempotent-writer txn action `(txnAppId, batchId)` land in ONE log
    commit. If the sink crashed after that commit but before Spark's
    offset checkpoint advanced, the replayed epoch finds its batchId
    already recorded, deletes the re-staged files as orphans and
    commits nothing — Delta's txn dedup, wired into writeStream."""

    def __init__(self, schema, table_dir, options,
                 overwrite: bool = False) -> None:
        super().__init__(schema, table_dir, options, overwrite=False)
        self._app_id = options.get("txnappid")
        if not self._app_id:
            raise ValueError(
                "streaming writes need .option('txnAppId', <stable "
                "unique id per query>) — the idempotence key that "
                "makes epoch replays exactly-once (Delta's txnAppId)")

    def commit(self, messages, batchId: int) -> None:
        ledger = self._ledger()
        last = ledger.last_txn(self._app_id)
        if last is not None and int(batchId) <= last:
            # replayed epoch: the log already carries this batch —
            # this attempt's staged files are orphans
            _unlink_staged(self._dir, messages)
            return
        self._enforce_constraints(ledger, messages)
        actions, _ = self._actions(messages)
        ledger._append(
            [{"type": "txn", "app_id": str(self._app_id),
              "txn_version": int(batchId)}] + actions)

    def abort(self, messages, batchId: int) -> None:
        _unlink_staged(self._dir, messages)


def _unlink_staged(table_dir: str, messages) -> None:
    import os
    for m in messages or []:
        for p, fn_, *_rest in (m.entries if m else []):
            try:
                os.unlink(os.path.join(table_dir, "data",
                                       f"part={int(p)}", fn_))
            except OSError:
                pass


class CuratorTableDataSource(DataSource):
    """USING curator_table — batch snapshot + streaming change source
    over a commitlog table directory (`load(path)` or `path` option)."""

    @classmethod
    def name(cls) -> str:
        return "curator_table"

    def _path(self) -> str:
        p = self.options.get("path")
        if not p:
            raise ValueError("curator_table requires a table path: "
                             ".load(dir) or .option('path', dir)")
        return p

    def schema(self) -> StructType:
        return _declared_schema(self._path())

    def reader(self, schema: StructType) -> DataSourceReader:
        return _SnapshotReader(schema, self._path())

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return _ChangeStreamReader(schema, self._path(), self.options)

    def writer(self, schema: StructType, overwrite: bool):
        return _LedgerWriter(schema, self._path(), self.options,
                             overwrite=overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):
        return _LedgerStreamWriter(schema, self._path(), self.options,
                                   overwrite=overwrite)
