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

This module is also the ONE SCAN CORE of both Python data sources
(`delta_source.delta_feed` plans from a Delta log and reuses it): one
input partition type `(path, part_values, dv)`, one executor reader
that streams a file in Arrow batches (`ParquetFile.iter_batches`)
applying the deletion-vector mask, the logical→physical column map,
the partition values and evolution nulls, one filter pushdown
(`_PlannedReader`) and one version-offset policy with the
`maxVersionsPerTrigger` rate limiter (`_VersionStreamReader`). Each
source only plans: which files a snapshot or a version window holds.

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
tuples), so rows never pass through per-row Python.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource, DataSourceArrowWriter, DataSourceReader,
    DataSourceStreamArrowWriter, DataSourceStreamReader, EqualTo,
    GreaterThan, GreaterThanOrEqual, InputPartition, LessThan,
    LessThanOrEqual, WriterCommitMessage)
from pyspark.sql.types import IntegerType, StructField, StructType


@dataclass
class _FilePartition(InputPartition):
    """One immutable data file to scan: its absolute path, the
    partition values its location carries (not the file) as
    ((col, raw), ...), and its deletion-vector row positions."""
    path: str
    part_values: tuple = ()
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


def _coerce_partition_value(raw, dtype):
    """A partition value → its declared type: Delta's partitionValues
    are strings, the commit log's `part` is an int. None/'' is the
    NULL encoding."""
    if raw in (None, ""):
        return None
    t = dtype.typeName()
    if t in ("integer", "long", "short", "byte"):
        return int(raw)
    if t in ("double", "float"):
        return float(raw)
    if t == "boolean":
        return str(raw).lower() == "true"
    if t == "string":
        return raw
    raise NotImplementedError(
        f"partition column type {t} not supported by the data sources")


#: rows per Arrow batch handed to Spark (Spark's own default for
#: spark.sql.execution.arrow.maxRecordsPerBatch): a file is streamed,
#: never loaded whole
_BATCH_ROWS = 10_000


def _read_file(partition: _FilePartition, schema: StructType,
               phys: dict):
    """Executor-side: one data file → Arrow batches cast to `schema`.
    Deletion-vector positions are masked out with a running row offset
    across batches; `phys` maps logical to physical column names (the
    commit log's column mapping and Delta's name-mode physicalName map
    alike); partition columns come from `part_values`; a column that a
    later schema evolution added reads as nulls."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    target = to_arrow_schema(schema)
    raw = dict(partition.part_values)
    consts = {f.name: _coerce_partition_value(raw[f.name], f.dataType)
              for f in schema.fields if f.name in raw}
    pf = pq.ParquetFile(partition.path)
    present = set(pf.schema_arrow.names)
    cols = [phys.get(f.name, f.name) for f in schema.fields
            if f.name not in consts and phys.get(f.name, f.name) in present]
    dv = np.unique(np.asarray(partition.dv, dtype=np.int64))
    row0 = 0
    for batch in pf.iter_batches(batch_size=_BATCH_ROWS, columns=cols):
        n = batch.num_rows
        hit = dv[(dv >= row0) & (dv < row0 + n)] - row0
        row0 += n
        if hit.size:
            keep = np.ones(n, dtype=bool)
            keep[hit] = False
            batch = batch.filter(pa.array(keep))
        m = batch.num_rows
        arrays = []
        for sf, field in zip(schema.fields, target):
            p = phys.get(sf.name, sf.name)
            if sf.name in consts:
                val = consts[sf.name]
                arrays.append(
                    pa.nulls(m, type=field.type) if val is None
                    else pa.repeat(pa.scalar(val).cast(field.type), m))
            elif p in present:
                arrays.append(batch.column(p).cast(field.type))
            else:  # pre-evolution file: later-added column reads null
                arrays.append(pa.nulls(m, type=field.type))
        yield pa.RecordBatch.from_arrays(arrays, schema=target)


# Spark Filter classes whose semantics map 1:1 onto the library's
# (col, op, literal) skipping triples. In/IsNull/string matches stay
# Spark-side (returning them unpushed is always sound).
_PUSHABLE = {EqualTo: "=", GreaterThan: ">", GreaterThanOrEqual: ">=",
             LessThan: "<", LessThanOrEqual: "<="}


class _PlannedReader(DataSourceReader):
    """Batch read of a file set planned on the driver from a log.
    Subclasses plan `partitions()` (honouring `self._where`); filter
    pushdown and the executor read are shared."""

    def __init__(self, schema: StructType, phys: dict) -> None:
        self._schema = schema
        self._phys = phys
        self._where: list[tuple] = []

    def pushFilters(self, filters):
        """Record the pushable conjuncts for log-stats file skipping
        and partition pruning in partitions(). EVERY filter is
        returned for Spark-side re-evaluation — pushdown here only
        shrinks the scheduled file set (min/max skipping is
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

    def read(self, partition: _FilePartition):
        return _read_file(partition, self._schema, self._phys)


class _VersionStreamReader(DataSourceStreamReader):
    """Micro-batch source whose offsets are log versions: {'version':
    N} = 'versions <= N are consumed'. Planning is driver-side log
    metadata; immutable files + deterministic planning make every
    batch replayable, which is what Spark's offset checkpoint needs
    for exactly-once. Subclasses give the initial offset, `_head()`
    (the log's newest version) and `_window(lo, hi)` (the input
    partitions of versions (lo, hi])."""

    def __init__(self, schema: StructType, phys: dict, start: int,
                 options) -> None:
        self._schema = schema
        self._phys = phys
        self._start = int(start)
        # maxVersionsPerTrigger: admission control — each micro-batch
        # advances the offset by at most this many log versions, so a
        # backlogged stream catches up in bounded bites instead of one
        # giant batch (the log-version analogue of Delta's
        # maxFilesPerTrigger)
        self._max_versions = int(options.get("maxversionspertrigger")
                                 or 0) or None
        self._hwm = None  # the rate limiter's high-water mark

    def _sync(self, *versions: int) -> None:
        self._hwm = max(v for v in (self._hwm, *versions) if v is not None)

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        head = self._head()
        if not self._max_versions:
            return {"version": head}
        # rate-limited catch-up: cap the ADVANCE, not the head. The
        # high-water mark is re-synced from Spark's OWN checkpointed
        # offsets (partitions()/commit()), so a restart resumes from
        # the committed offset, never below it
        cur = self._start if self._hwm is None else self._hwm
        self._hwm = min(head, cur + self._max_versions)
        return {"version": self._hwm}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["version"]), int(end["version"])
        # a restarted query first replans its last committed batch:
        # that is where the rate limiter learns Spark's offset before
        # its first latestOffset
        self._sync(lo, hi)
        return self._window(lo, hi) if hi > lo else []

    def read(self, partition: _FilePartition):
        return _read_file(partition, self._schema, self._phys)

    def commit(self, end: dict) -> None:
        # Spark's checkpoint owns progress; the log is immutable
        self._sync(int(end["version"]))


def _table_phys(ledger) -> dict:
    return dict(ledger.table_meta().get("column_mapping") or {})


class _SnapshotReader(_PlannedReader):
    """Batch read = the pinned snapshot's manifests, pruned by the
    pushed filters through the library reader's `_snapshot_plan`."""

    def __init__(self, schema: StructType, table_dir: str) -> None:
        from .checkpoint import make_ledger
        # pin the snapshot VERSION at plan time (driver): the scan
        # stays consistent even if writers commit mid-job
        ledger = make_ledger(table_dir)
        super().__init__(schema, _table_phys(ledger))
        self._dir = table_dir
        self._version = ledger.latest_version()

    def partitions(self):
        from .checkpoint import _snapshot_plan
        files, _meta, dv = _snapshot_plan(
            self._dir, self._version, self._where or None)
        data_dir = os.path.join(self._dir, "data")
        return [_FilePartition(
            os.path.join(data_dir, f"part={p}", fn), (("part", p),),
            dv=tuple(int(r) for r in dv[p].get(fn) or ()))
            for p, fns in sorted(files.items()) for fn in fns]


class _ChangeStreamReader(_VersionStreamReader):
    """Each micro-batch = the files `table_changes` reports INSERTED in
    the window (rewrites and restores are never fed)."""

    def __init__(self, schema: StructType, table_dir: str,
                 options=None) -> None:
        from .checkpoint import make_ledger
        options = options or {}
        ledger = make_ledger(table_dir)
        # startingVersion: attach a NEW consumer without
        # re-bootstrapping the whole table ('latest' = head at stream
        # start, i.e. only future commits)
        sv = options.get("startingversion")
        if sv is None:
            start = 0
        elif str(sv).lower() == "latest":
            start = int(ledger.latest_version() or 0)
        else:
            start = int(sv)
        super().__init__(schema, _table_phys(ledger), start, options)
        self._dir = table_dir

    def _head(self) -> int:
        from .checkpoint import make_ledger
        return int(make_ledger(self._dir).latest_version() or 0)

    def _window(self, lo: int, hi: int) -> list:
        from .checkpoint import table_changes
        ch = table_changes(self._dir, lo, hi)
        data = os.path.join(self._dir, "data")
        return [
            _FilePartition(os.path.join(data, f"part={int(p)}", fn),
                           (("part", int(p)),),
                           dv=tuple(fs[fn].get("dv") or ()))
            for p, fs in sorted(ch["inserts"].items())
            for fn in sorted(fs)]


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
        existing, _success, meta, _txns = ledger.snapshot()
        self._bucket = meta.get("bucket")
        new_bucket = None
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
                self._bucket = new_bucket = {"col": col, "n_parts": n,
                                             "fn": "md5full"}
                if existing:
                    raise ValueError(
                        "table exists without a bucket spec; appends "
                        "must carry an explicit `part` column")
            if self._bucket["fn"] not in BUCKET_FNS:
                raise ValueError(f"unknown bucket fn {self._bucket['fn']}")
            self._route = "bucket"
        # the write's table_meta patch (widened schema, physical names
        # minted ONCE here, before any task runs, so every task agrees,
        # a new bucket spec), committed in the data version: tasks stage
        # files under the patched table's immutable PHYSICAL names
        from .checkpoint import _evolve_meta, column_mapping, stats_columns
        declared = StructType(
            [f for f in schema.fields if f.name != "part"]
            + [StructField("part", IntegerType(), False)])
        self._base = meta
        self._patch = _evolve_meta(meta, declared, new_bucket)
        self._cm = column_mapping({**meta, **self._patch})
        self._stats_cols = stats_columns({**meta, **self._patch})

    # -- executor side -------------------------------------------------
    def write(self, iterator):
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
    def _actions(self, messages) -> list:
        """The staged files' add-file actions, one per partition."""
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
        return [{"type": "add_files", "part": p, "files": s["files"],
                 "n_rows": s["n_rows"], "run_id": run_id,
                 "stats": s["stats"], "updated_at": now}
                for p, s in sorted(by_part.items())]

    def _enforce_constraints(self, meta: dict, messages) -> None:
        """CHECK enforcement at the sink: staged files validate before
        the commit publishes; a violation unlinks them and raises, so
        the table never holds a row failing a committed constraint."""
        cons = dict(meta.get("constraints") or {})
        if not cons:
            return
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

    def commit(self, messages, batchId: int | None = None) -> None:
        """One version, after the CHECK gate: the table_meta patch, an
        overwrite's `remove`s (readers see the old table or the new
        one, never a mix — Delta's overwrite), a streaming epoch's txn
        and every staged file's add-file action."""
        from .checkpoint import _meta_actions, _meta_precondition, make_ledger
        ledger = make_ledger(self._dir)
        committed, _success, meta, txns = ledger.snapshot()
        head = []
        if batchId is not None:
            last = txns.get(str(self._app_id))
            if last is not None and int(batchId) <= last:
                # replayed epoch: the log already carries this batch —
                # this attempt's staged files are orphans
                _unlink_staged(self._dir, messages)
                return
            head = [{"type": "txn", "app_id": str(self._app_id),
                     "txn_version": int(batchId)}]
        self._enforce_constraints(meta, messages)
        actions = self._actions(messages)
        if self._overwrite:
            actions = [{"type": "remove", "part": int(p)}
                       for p in sorted(committed)] + actions
        actions = _meta_actions(self._patch) + head + actions
        if actions:
            ledger._append(actions, precondition=_meta_precondition(
                ledger, self._base, self._patch))

    def abort(self, messages, batchId: int | None = None) -> None:
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


def _unlink_staged(table_dir: str, messages) -> None:
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
