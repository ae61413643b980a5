"""`delta_feed` Spark 4 Python Data Source: plain `spark.read` /
`spark.readStream` over any Delta Lake table directory — foreign
writers' tables included — with NO Delta jar on the classpath.

    spark.dataSource.register(DeltaFeedDataSource)
    df = spark.read.format("delta_feed").load("/mnt/upstream")
    q  = (spark.readStream.format("delta_feed")
          .option("startingVersion", "latest")
          .option("maxVersionsPerTrigger", 4)
          .option("onChanges", "skip")
          .load("/mnt/upstream")
          .writeStream.foreachBatch(ingest).start())

Batch read = the live add-set of the log's head snapshot (or
`versionAsOf`), planned purely from the log. Streaming read = Delta's
streaming-source semantics with log versions as offsets: each
micro-batch plans the `add` files of versions (start, end] — cost ∝
change. Options mirror Delta's: `startingVersion` (int or 'latest'),
`maxVersionsPerTrigger` (bounded catch-up), `onChanges` =
error|skip|include for rewrite versions (failOnDataLoss /
ignoreChanges stances).

This module is only the Delta PLAN PROVIDER: log replay, the
readability refusals (reader protocol > 2, live deletion vectors,
non-name column mapping) and the window planner all come from
`export_delta` (`read_delta` / `delta_inserts` run the same code), and
the scan itself — file reader, filter pushdown, version-offset policy
— is the one core in `datasource.py` that `curator_table` runs too.
Use the function API for driver-side polling with a custom durable
cursor, this source when the consumer is a Structured Streaming
pipeline that wants Spark's own checkpoint to own progress.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    DataSourceStreamReader)
from pyspark.sql.types import StructType

from .datasource import _FilePartition, _PlannedReader, _VersionStreamReader
from .export_delta import (_check_readable, _delta_add_admits,
                           _delta_window_adds, _replay_delta_log)


class _DeltaPlan:
    """One replay of `root`'s log (at `version`, or the head), refused
    unless readable → the logical schema, the logical→physical name
    map (name-mode column mapping), the live adds and the input
    partitions for any of the log's adds."""

    def __init__(self, root: str, version: int | None = None) -> None:
        state = _replay_delta_log(os.path.join(root, "_delta_log"),
                                  upto=version)
        if state["version"] is None:
            raise ValueError(f"{root} has no _delta_log")
        _check_readable(state)
        fields = json.loads(state["schema_str"])["fields"]
        self.root = root
        self.version = state["version"]
        self.part_cols = state["partition_columns"] or []
        self.live = list(state["live"].values())
        self.phys = {f["name"]: (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName", f["name"])
            for f in fields}
        self.schema = StructType.fromJson(
            {"type": "struct",
             "fields": [dict(f, metadata={}) for f in fields]})

    def files(self, adds) -> list[_FilePartition]:
        return [_FilePartition(
            os.path.join(self.root, a["path"]),
            tuple((c, (a.get("partitionValues") or {}).get(c))
                  for c in self.part_cols)) for a in adds]


class _DeltaSnapshotReader(_PlannedReader):
    def __init__(self, schema: StructType, table_root: str,
                 options=None) -> None:
        v = (options or {}).get("versionasof")
        self._plan = _DeltaPlan(table_root,
                                int(v) if v is not None else None)
        super().__init__(schema, self._plan.phys)

    def partitions(self):
        plan = self._plan
        return plan.files(
            a for a in plan.live if not self._where
            or _delta_add_admits(a, self._where, plan.part_cols))


class _DeltaFeedStreamReader(_VersionStreamReader):
    """Offsets start at -1 (bootstrap includes version 0) unless
    startingVersion says otherwise."""

    def __init__(self, schema: StructType, table_root: str,
                 options=None) -> None:
        options = options or {}
        self._on_changes = str(options.get("onchanges", "error")).lower()
        if self._on_changes not in ("error", "skip", "include"):
            raise ValueError(f"bad onChanges {self._on_changes!r}")
        self._plan = _DeltaPlan(table_root)
        # windows are planned from version JSON: the snapshot's add
        # set must not ride along with every pickled read task
        self._plan.live = []
        sv = options.get("startingversion")
        if sv is None:
            start = -1
        elif str(sv).lower() == "latest":
            start = self._plan.version
        else:
            start = int(sv) - 1  # consume FROM startingVersion
        super().__init__(schema, self._plan.phys, start, options)
        self._log_dir = os.path.join(table_root, "_delta_log")

    def _head(self) -> int:
        vs = [int(fn[:-5]) for fn in os.listdir(self._log_dir)
              if fn.endswith(".json") and fn[:-5].isdigit()]
        return max(vs, default=-1)

    def _window(self, lo: int, hi: int) -> list:
        return self._plan.files(_delta_window_adds(
            self._log_dir, lo, hi, self._on_changes))


class DeltaFeedDataSource(DataSource):
    """USING delta_feed — batch snapshot + streaming insert feed over
    a Delta Lake table directory (`load(path)` or `path` option)."""

    @classmethod
    def name(cls) -> str:
        return "delta_feed"

    def _path(self) -> str:
        p = self.options.get("path")
        if not p:
            raise ValueError("delta_feed requires a table path: "
                             ".load(dir) or .option('path', dir)")
        return p

    def schema(self) -> StructType:
        return _DeltaPlan(self._path()).schema

    def reader(self, schema: StructType) -> DataSourceReader:
        return _DeltaSnapshotReader(schema, self._path(), self.options)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return _DeltaFeedStreamReader(schema, self._path(), self.options)
