"""Commitlog snapshot → Delta Lake transaction log (`_delta_log`).

The open-format EXIT DOOR for the table layer: any engine that speaks
the Delta protocol (Spark+delta, DuckDB `delta_scan`, Trino, Polars,
delta-rs, ...) can read a curated table without this package on the
path — the same interoperability point the reference hits by leaving
its final dataset as a plain Arrow/parquet directory anyone can open
(base_request_processor.py:430-436). Our commitlog is already
Delta-shaped (versioned atomic commits, add/remove file actions,
snapshot isolation), so the export is a mechanical translation of ONE
snapshot into Delta protocol v1 actions:

* `protocol`  — minReader 1 / minWriter 2 (plain parquet + adds); the
  export opts into reader 2 / writer 5 ONLY when the table carries a
  non-identity column mapping (Delta name-mapping metadata).
* `metaData`  — the commitlog's declared Spark schema serialized as
  Delta's `schemaString` (the formats are the same JSON dialect), with
  `part` declared a partition column — files hold no `part` column on
  either side, the directory layout carries it.
* `add`       — one per manifest file: relative path `part=N/<file>`,
  byte size, `partitionValues {"part": "N"}`, and per-file stats
  (numRecords + min/max/nullCount from the manifest's footer stats)
  so downstream engines file-skip without opening footers.

Exports are INCREMENTAL and versioned like any Delta writer: the first
export writes `00...0.json`, a re-export after table mutations replays
the existing `_delta_log`, diffs the live file set against the new
snapshot, and appends ONE new log version of add/remove actions (plus
a fresh `metaData` when the schema evolved). `metaData.id` is minted
once and carried across versions, as the protocol requires. Every
CHECKPOINT_INTERVAL versions the exporter also writes a Delta parquet
CHECKPOINT (`<v>.checkpoint.parquet` + `_last_checkpoint`), so
readers of a long-re-exported table bootstrap from one parquet file
plus the JSON tail instead of replaying every version — the same
O(1)-planning design as the commitlog's own ckpt files; `read_delta`
consumes checkpoints too (including foreign writers').

Zero data movement by default: `dest=None` writes `_delta_log/` INSIDE
`<out_dir>/data`, so the existing data directory itself becomes a
readable Delta table (Spark/DuckDB readers ignore `_`-prefixed
subdirs, so this package's own parquet scans are unaffected). With
`dest=` the data files are hard-linked (atomic-copy fallback) into a
standalone Delta table directory.

Deletion vectors are the one commitlog feature Delta protocol v1
cannot carry (Delta DVs need reader v3 + the binary DV file format).
An export of a snapshot with live DV masks REFUSES with instructions
to materialize first (compact/OPTIMIZE rewrites masked files) —
exporting the raw files would silently resurrect deleted rows.

Exported tables are READ-ONLY for foreign writers. The commit log stays
the table's one source of truth: re-exports diff the commitlog snapshot
against the Delta log and never read a foreign writer's commits back,
and the Delta parquet checkpoints carry no `remove` tombstones (they
exist for VACUUM coordination, which exported tables delegate to the
commitlog's own `vacuum`), so a foreign writer's concurrent VACUUM
could not see which files are still needed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

from .checkpoint import get_atomic_store, make_ledger

#: Delta stats are emitted only for these JSON-native stat types; a
#: timestamp min/max is stored as epoch-micros in the commitlog but
#: Delta expects ISO strings with engine-specific rounding rules, so
#: timestamp columns are (soundly) left unstated rather than risking
#: a bound a reader interprets in the wrong unit.
_STATS_JSON_TYPES = (bool, int, float, str)


def _delta_schema(meta: dict) -> tuple[dict, dict, int]:
    """Commitlog table_meta → (Delta schema JSON, configuration,
    minReaderVersion). Appends the `part` partition column and, when a
    non-identity column mapping is live, Delta name-mapping metadata."""
    schema = json.loads(json.dumps(meta["schema"]))  # deep copy
    names = {f["name"] for f in schema["fields"]}
    if "part" not in names:
        schema["fields"].append({"name": "part", "type": "integer",
                                 "nullable": True, "metadata": {}})
    cm = dict(meta.get("column_mapping") or {})
    if not any(cm.get(k, k) != k for k in
               [f["name"] for f in schema["fields"]]):
        return schema, {}, 1
    # non-identity mapping → Delta columnMapping mode=name: logical
    # names live in the schema, physical file names ride per-field
    # metadata (exactly this package's logical/physical split)
    for i, f in enumerate(schema["fields"], start=1):
        f["metadata"] = dict(f.get("metadata") or {})
        f["metadata"]["delta.columnMapping.id"] = i
        f["metadata"]["delta.columnMapping.physicalName"] = \
            cm.get(f["name"], f["name"])
    conf = {"delta.columnMapping.mode": "name",
            "delta.columnMapping.maxColumnId":
                str(len(schema["fields"]))}
    return schema, conf, 2


def _file_stats_json(finfo: dict, fstats: dict | None) -> str:
    """Manifest entry → Delta per-add `stats` JSON string."""
    out: dict = {"numRecords": int(finfo.get("n_rows", 0))}
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    for col, st in (fstats or {}).items():
        if not isinstance(st, dict):
            continue  # "__unbounded__" poison — no sound bound exists
        mn, mx = st.get("min"), st.get("max")
        if isinstance(mn, _STATS_JSON_TYPES) and \
                isinstance(mx, _STATS_JSON_TYPES):
            # epoch-micros ints would be timestamps in disguise, but
            # the caller already stripped timestamp-typed columns
            mins[col] = mn
            maxs[col] = mx
        if st.get("nulls") is not None:
            nulls[col] = int(st["nulls"])
    if mins:
        out["minValues"] = mins
        out["maxValues"] = maxs
    if nulls:
        out["nullCount"] = nulls
    return json.dumps(out, sort_keys=True)


def _apply_action(state: dict, action: dict) -> None:
    if "add" in action:
        state["live"][action["add"]["path"]] = action["add"]
    elif "remove" in action:
        state["live"].pop(action["remove"]["path"], None)
    elif "metaData" in action:
        md = action["metaData"]
        state["table_id"] = md["id"]
        state["schema_str"] = md["schemaString"]
        state["partition_columns"] = md.get("partitionColumns") or []
        state["configuration"] = md.get("configuration") or {}
    elif "protocol" in action:
        state["protocol"] = action["protocol"]


def _read_checkpoint_parquet(path: str) -> list[dict]:
    """One Delta checkpoint parquet → the action dicts it carries
    (each row holds exactly one non-null action struct column)."""
    import pyarrow.parquet as pq
    tbl = pq.read_table(path)
    out: list[dict] = []
    cols = {n: tbl.column(n).to_pylist() for n in tbl.column_names
            if n in ("add", "remove", "metaData", "protocol", "txn")}
    n = tbl.num_rows
    for i in range(n):
        for name, vals in cols.items():
            v = vals[i]
            if v is None:
                continue
            if isinstance(v, dict):
                # pyarrow map types come back as lists of (k, v)
                # pairs — normalize the map-typed fields
                for mk in ("partitionValues", "configuration"):
                    if isinstance(v.get(mk), list):
                        v[mk] = dict(v[mk])
                fmt = v.get("format")
                if isinstance(fmt, dict) and \
                        isinstance(fmt.get("options"), list):
                    fmt["options"] = dict(fmt["options"])
                # drop nulled optional fields so replay matches JSON
                v = {k: x for k, x in v.items() if x is not None}
            out.append({name: v})
    return out


def _checkpoint_files(names) -> dict[int, list[str]]:
    """Log dir listing → {version: the parquet files of a complete
    classic checkpoint at that version}: `<v>.checkpoint.parquet`, or
    all n parts of a multi-part `<v>.checkpoint.<i>.<n>.parquet` (a
    part set with any part missing is not a checkpoint yet — a writer
    may still be producing it)."""
    out: dict[int, list[str]] = {}
    multi: dict[tuple[int, int], dict[int, str]] = {}
    for fn in names:
        bits = fn.split(".")
        if not (bits[0].isdigit() and bits[1:2] == ["checkpoint"]
                and bits[-1] == "parquet"):
            continue
        if len(bits) == 3:
            out[int(bits[0])] = [fn]
        elif len(bits) == 5 and bits[2].isdigit() and bits[3].isdigit():
            multi.setdefault((int(bits[0]), int(bits[3])),
                             {})[int(bits[2])] = fn
    for (v, n), parts in sorted(multi.items()):
        if v not in out and sorted(parts) == list(range(1, n + 1)):
            out[v] = [parts[i] for i in range(1, n + 1)]
    return out


def _replay_delta_log(log_dir: str, upto: int | None = None) -> dict:
    """Replay a Delta `_delta_log` (any writer's) up to `upto` →
    {version, live: {path: add}, table_id, schema_str,
    partition_columns, configuration, protocol}. The same state
    machine every Delta reader runs before planning a scan: bootstrap
    from the newest complete parquet checkpoint (single-file or
    multi-part) at or below `upto`, then fold the JSON
    commits after it. A log whose JSON tail starts after the requested
    point with no usable checkpoint raises rather than silently
    reading a partial table."""
    state = {"version": None, "live": {}, "table_id": None,
             "schema_str": None, "partition_columns": None,
             "configuration": {}, "protocol": None}
    if not os.path.isdir(log_dir):
        return state
    names = os.listdir(log_dir)
    versions = sorted(fn for fn in names
                      if fn.endswith(".json") and fn[:-5].isdigit())
    ckpts = _checkpoint_files(names)
    start_after = None
    usable = sorted(c for c in ckpts if upto is None or c <= upto)
    if usable:
        c = usable[-1]
        for fn in ckpts[c]:
            for action in _read_checkpoint_parquet(
                    os.path.join(log_dir, fn)):
                _apply_action(state, action)
        state["version"] = c
        start_after = c
    if versions:
        nums = [int(fn[:-5]) for fn in versions]
        first_needed = 0 if start_after is None else start_after + 1
        replay = [n for n in nums
                  if n >= first_needed
                  and (upto is None or n <= upto)]
        want_head = max((n for n in nums
                         if upto is None or n <= upto),
                        default=start_after)
        if want_head is not None and want_head >= first_needed and \
                replay != list(range(first_needed, want_head + 1)):
            raise NotImplementedError(
                f"JSON commits {first_needed}..{want_head} are not "
                "contiguous and no parquet checkpoint covers the gap "
                "— refusing to read a partial table")
        for v in replay:
            state["version"] = v
            with open(os.path.join(log_dir, f"{v:020d}.json")) as f:
                for line in f:
                    if line.strip():
                        _apply_action(state, json.loads(line))
    if upto is not None and (state["version"] is None
                             or state["version"] < upto):
        raise ValueError(f"version {upto} not in the log "
                         f"(head is {state['version']})")
    return state


def _stage_file(sp: str, dp: str) -> None:
    """Hard-link `sp` to `dp`; atomic copy-to-temp+rename fallback for
    cross-device destinations (same crash-safety rule as WAP publish:
    an existing destination must always be a COMPLETE file)."""
    if os.path.exists(dp):
        return
    try:
        os.link(sp, dp)
    except FileExistsError:
        pass
    except OSError:
        tmp = dp + f".export-tmp-{os.getpid()}"
        try:
            shutil.copy2(sp, tmp)
            os.rename(tmp, dp)
        finally:
            if os.path.exists(tmp):
                try:
                    os.remove(tmp)
                except OSError:
                    pass


#: write a Delta checkpoint parquet every N exported versions — the
#: same O(1)-bootstrap design as the commitlog's own ckpt files, so a
#: table re-exported after every ingestion wave never makes readers
#: replay an unbounded JSON tail
CHECKPOINT_INTERVAL = 10


def _write_delta_checkpoint(log_dir: str, version: int,
                            state: dict) -> None:
    """Write `<v>.checkpoint.parquet` + `_last_checkpoint` for the
    replayed state at `version`: one row per action (live adds +
    metaData + protocol), nullable struct columns per the Delta
    checkpoint schema. Tombstoned removes are not carried — they exist
    for VACUUM coordination, which exported tables delegate to the
    commitlog's own vacuum."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    add_t = pa.struct([
        ("path", pa.string()),
        ("partitionValues", pa.map_(pa.string(), pa.string())),
        ("size", pa.int64()),
        ("modificationTime", pa.int64()),
        ("dataChange", pa.bool_()),
        ("stats", pa.string()),
    ])
    meta_t = pa.struct([
        ("id", pa.string()),
        ("format", pa.struct([("provider", pa.string()),
                              ("options",
                               pa.map_(pa.string(), pa.string()))])),
        ("schemaString", pa.string()),
        ("partitionColumns", pa.list_(pa.string())),
        ("configuration", pa.map_(pa.string(), pa.string())),
        ("createdTime", pa.int64()),
    ])
    proto_t = pa.struct([("minReaderVersion", pa.int32()),
                         ("minWriterVersion", pa.int32())])

    adds, metas, protos = [], [], []
    proto = state["protocol"] or {"minReaderVersion": 1,
                                  "minWriterVersion": 2}
    protos.append(proto)
    metas.append(None)
    adds.append(None)
    metas.append({
        "id": state["table_id"],
        "format": {"provider": "parquet", "options": []},
        "schemaString": state["schema_str"],
        "partitionColumns": state["partition_columns"] or [],
        "configuration": list((state["configuration"] or {}).items()),
        "createdTime": 0})
    protos.append(None)
    adds.append(None)
    for rel in sorted(state["live"]):
        a = state["live"][rel]
        adds.append({
            "path": a["path"],
            "partitionValues":
                list((a.get("partitionValues") or {}).items()),
            "size": int(a.get("size") or 0),
            "modificationTime": int(a.get("modificationTime") or 0),
            "dataChange": bool(a.get("dataChange", True)),
            "stats": a.get("stats")})
        metas.append(None)
        protos.append(None)
    tbl = pa.table({
        "protocol": pa.array(protos, type=proto_t),
        "metaData": pa.array(metas, type=meta_t),
        "add": pa.array(adds, type=add_t),
    })
    path = os.path.join(log_dir, f"{version:020d}.checkpoint.parquet")
    tmp = path + f".tmp-{os.getpid()}"
    pq.write_table(tbl, tmp)
    os.rename(tmp, path)
    last = os.path.join(log_dir, "_last_checkpoint")
    tmp = last + f".tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump({"version": version, "size": tbl.num_rows}, f)
    os.rename(tmp, last)


def export_delta_log(out_dir: str, dest: str | None = None,
                     version: int | None = None) -> dict:
    """Export a commitlog table snapshot as a Delta Lake table.

    dest=None (default): write `_delta_log/` inside `<out_dir>/data` —
    the data directory becomes the Delta table, zero bytes moved at
    any table size. dest=<dir>: hard-link the snapshot's files into a
    standalone Delta table at `dest` (metadata-sized on one device;
    atomic copies across devices).

    Re-exporting after table mutations appends ONE new Delta version
    containing only the add/remove delta (and a refreshed `metaData`
    if the schema evolved). Returns {delta_version, table_root, adds,
    removes, files_live, n_rows, linked}.
    """
    sl = make_ledger(out_dir)
    committed, _success, meta, _txns = sl.snapshot(version=version)
    if not (meta or {}).get("schema"):
        raise ValueError("table has no declared schema in its log — "
                         "nothing to put in Delta's schemaString")

    # live DV masks cannot ride protocol-v1 adds; refuse loudly rather
    # than export files whose deleted rows would silently come back
    dv_parts = sorted(int(p) for p, m in (committed or {}).items()
                      if m and m.get("status") == "COMMITTED"
                      and any((m.get("dv") or {}).values()))
    if dv_parts:
        raise ValueError(
            f"partitions {dv_parts[:8]} carry live deletion vectors, "
            "which Delta protocol v1 cannot express — materialize "
            "them first (compact_partitions / maintenance OPTIMIZE "
            "rewrites masked files), then export")

    standalone = dest is not None
    table_root = os.path.abspath(dest) if standalone \
        else os.path.join(os.path.abspath(out_dir), "data")
    log_dir = os.path.join(table_root, "_delta_log")
    prev = _replay_delta_log(log_dir)
    prev_version, live = prev["version"], prev["live"]
    table_id, prev_schema = prev["table_id"], prev["schema_str"]

    schema, conf, min_reader = _delta_schema(meta)
    # timestamp columns carry epoch-micros stats internally — strip
    # them from the emitted per-file stats (see _STATS_JSON_TYPES)
    ts_cols = {f["name"] for f in schema["fields"]
               if f.get("type") == "timestamp"}
    cm = dict(meta.get("column_mapping") or {})
    ts_cols |= {cm.get(c, c) for c in ts_cols}
    schema_str = json.dumps(schema, sort_keys=True)

    # desired live set from the snapshot
    desired: dict[str, dict] = {}
    n_rows = 0
    linked = 0
    for p, m in sorted((committed or {}).items()):
        if not m or m.get("status") != "COMMITTED":
            continue
        pstats = m.get("stats") or {}
        for fn, finfo in sorted((m.get("files") or {}).items()):
            rel = f"part={int(p)}/{fn}"
            src = os.path.join(out_dir, "data", f"part={int(p)}", fn)
            fstats = {c: st for c, st in (pstats.get(fn) or {}).items()
                      if c not in ts_cols}
            size = int((finfo or {}).get("n_bytes") or 0)
            if not size and os.path.exists(src):
                size = os.path.getsize(src)
            desired[rel] = {
                "path": rel,
                "partitionValues": {"part": str(int(p))},
                "size": size,
                "modificationTime": int(os.path.getmtime(src) * 1000)
                if os.path.exists(src) else 0,
                "dataChange": True,
                "stats": _file_stats_json(finfo or {}, fstats),
            }
            n_rows += int((finfo or {}).get("n_rows") or 0)

    if standalone:
        for rel in desired:
            sp = os.path.join(out_dir, "data", rel)
            dp = os.path.join(table_root, rel)
            os.makedirs(os.path.dirname(dp), exist_ok=True)
            _stage_file(sp, dp)
            linked += 1

    adds = [desired[r] for r in sorted(set(desired) - set(live))]
    removes = sorted(set(live) - set(desired))
    schema_changed = prev_schema is None or (
        json.dumps(json.loads(prev_schema), sort_keys=True) != schema_str)
    if not adds and not removes and not schema_changed:
        return {"delta_version": None, "table_root": table_root,
                "adds": 0, "removes": 0, "files_live": len(desired),
                "n_rows": n_rows, "linked": linked}

    if table_id is None:
        # minted once per exported table, stable across re-exports (a
        # content hash of the table root keeps it deterministic —
        # uniqueness per table path is what the protocol needs)
        h = hashlib.sha256(table_root.encode()).hexdigest()
        table_id = (f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-"
                    f"{h[20:32]}")
    commit_ts = max([a["modificationTime"] for a in adds] or [0])
    actions: list[dict] = [
        {"commitInfo": {
            "operation": "WRITE" if prev_version is None else "REPLACE",
            "operationParameters": {"source": "curator_spark.commitlog",
                                    "snapshotVersion":
                                        sl.latest_version()
                                        if version is None else version},
            "timestamp": commit_ts}},
    ]
    if prev_version is None or schema_changed:
        # protocol persists across versions; re-state it only when it
        # could have changed (a later ALTER can introduce the column-
        # mapping feature and with it the reader-2 requirement)
        actions.append(
            {"protocol": {"minReaderVersion": min_reader,
                          "minWriterVersion":
                              5 if min_reader == 2 else 2}})
    if schema_changed:
        actions.append({"metaData": {
            "id": table_id,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_str,
            "partitionColumns": ["part"],
            "configuration": conf,
            "createdTime": commit_ts}})
    for rel in removes:
        actions.append({"remove": {"path": rel,
                                   "deletionTimestamp": commit_ts,
                                   "dataChange": True}})
    for a in adds:
        actions.append({"add": a})

    next_version = 0 if prev_version is None else prev_version + 1
    os.makedirs(log_dir, exist_ok=True)
    final = os.path.join(log_dir, f"{next_version:020d}.json")
    # create-exclusive publish through the commit log's atomic store: a
    # concurrent exporter that took this version first keeps it intact
    payload = "".join(json.dumps(action, sort_keys=True) + "\n"
                      for action in actions).encode()
    if not get_atomic_store().put_if_absent(final, payload):
        raise FileExistsError(
            f"{final} already exists — a concurrent export raced this "
            "one; re-run to diff against the new log head")
    checkpointed = False
    if next_version > 0 and next_version % CHECKPOINT_INTERVAL == 0:
        _write_delta_checkpoint(
            log_dir, next_version,
            _replay_delta_log(log_dir, upto=next_version))
        checkpointed = True
    return {"delta_version": next_version, "table_root": table_root,
            "adds": len(adds), "removes": len(removes),
            "files_live": len(desired), "n_rows": n_rows,
            "linked": linked, "checkpointed": checkpointed}


def delta_live_files(table_root: str,
                     version: int | None = None) -> list[dict]:
    """Replay `<table_root>/_delta_log` → the live add-actions, each
    with an absolute `abs_path`. The verification half of the export
    (and what any Delta reader computes before scanning)."""
    state = _replay_delta_log(os.path.join(table_root, "_delta_log"),
                              upto=version)
    live = state["live"]
    out = []
    for rel in sorted(live):
        a = dict(live[rel])
        a["abs_path"] = os.path.join(table_root, rel)
        out.append(a)
    return out


def _delta_add_admits(a: dict, conj: list, part_cols: list) -> bool:
    """False only when the add's stats (minValues/maxValues/nullCount)
    or its partitionValues PROVE no row satisfies the conjunction —
    the file-skipping half of Delta scan planning, same soundness rule
    as the commitlog's (`checkpoint._file_may_match`): missing or
    foreign-kind stats always keep the file."""
    from .checkpoint import _file_may_match
    try:
        st = json.loads(a.get("stats") or "{}")
    except (TypeError, ValueError):
        st = {}
    mins = st.get("minValues") or {}
    maxs = st.get("maxValues") or {}
    shaped = {c: {"min": mins[c], "max": maxs[c]}
              for c in mins if c in maxs}
    pv = a.get("partitionValues") or {}
    for col, op, val in conj:
        if col not in part_cols:
            if not _file_may_match(shaped, col, op, val):
                return False
            continue
        raw = pv.get(col)
        if raw in (None, ""):
            return False  # partition value is NULL: no comparison
        for v in (val if op == "in" else [val]):
            try:  # coerce the string partition value to each literal's
                  # kind; un-coercible → keep the file (sound)
                p = raw if isinstance(v, str) else type(v)(raw)
            except (TypeError, ValueError):
                break
            if _file_may_match({col: {"min": p, "max": p}}, col,
                               "=" if op == "in" else op, v):
                break
        else:
            return False  # no literal admits the partition value
    return True


def read_delta(spark, table_root: str, version: int | None = None,
               where=None):
    """Read a Delta Lake table (this package's exports OR a foreign
    writer's JSON log) as a DataFrame — the IMPORT half of the open-
    format door, so a corpus curated elsewhere and published as Delta
    ingests with no extra dependency: replay the log to the live
    add-set (optionally AS OF `version`), scan exactly those parquet
    files with the log's declared schema, and attach partition columns
    from each add's `partitionValues` (they are not in the files).

    Scale shape: planning is metadata-only (one log replay); the scan
    is one parquet job per distinct partition-value tuple unioned
    together — for bucket-partitioned tables that is k bounded scans,
    and Catalyst prunes/pushes into each as usual.

    Honest refusals (never a silently wrong table): reader protocol
    > 2, deletion vectors on live files, and column-mapping modes
    other than the name-mode this package writes.

    `where` — one (col, op, literal) triple or a list (ANDed, ops
    = < <= > >=, and `in` with a non-empty list) — is applied BOTH as
    log-stats file skipping (adds whose minValues/maxValues or
    partitionValues cannot match are never handed to Spark — planned
    from the log alone, zero data I/O) and as a residual DataFrame
    filter, so the result is exactly the predicate's rows while the
    scan touches only surviving files."""
    from .checkpoint import _normalize_where, _where_column

    log_dir = os.path.join(table_root, "_delta_log")
    state = _replay_delta_log(log_dir, upto=version)
    if state["version"] is None:
        raise ValueError(f"{table_root} has no _delta_log")
    _check_readable(state)
    conj = _normalize_where(where)
    part_cols = state["partition_columns"] or []
    adds = [a for a in state["live"].values()
            if not conj or _delta_add_admits(a, conj, part_cols)]
    df = _scan_adds(spark, table_root, state, adds)
    cond = _where_column(conj)  # exactness: residual filter on top
    return df if cond is None else df.filter(cond)


def _check_readable(state: dict) -> None:
    proto = state["protocol"] or {}
    if int(proto.get("minReaderVersion", 1)) > 2:
        raise NotImplementedError(
            f"table requires Delta reader {proto['minReaderVersion']} "
            "(features beyond column mapping); not supported")
    for a in state["live"].values():
        if a.get("deletionVector"):
            raise NotImplementedError(
                "live deletion vectors in the source table; "
                "materialize them before import")
    cm_mode = (state["configuration"] or {}).get(
        "delta.columnMapping.mode", "none")
    if cm_mode not in ("none", "name"):
        raise NotImplementedError(
            f"column mapping mode {cm_mode!r} not supported")


def _scan_adds(spark, table_root: str, state: dict, adds: list[dict]):
    """Scan exactly `adds` with the state's declared schema, partition
    columns attached from each add's partitionValues (they are not in
    the files), physical→logical names resolved under name-mode
    column mapping. One parquet job per distinct partition tuple,
    unioned — k bounded scans for bucket-partitioned tables."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    schema = json.loads(state["schema_str"])
    part_cols = state["partition_columns"] or []

    def field_type(f):
        return StructType.fromJson(
            {"type": "struct", "fields": [dict(f, metadata={})]}
        ).fields[0].dataType

    data_fields = [f for f in schema["fields"]
                   if f["name"] not in part_cols]
    phys = {f["name"]: (f.get("metadata") or {}).get(
        "delta.columnMapping.physicalName", f["name"])
        for f in schema["fields"]}
    file_schema = StructType.fromJson(
        {"type": "struct",
         "fields": [dict(f, name=phys[f["name"]], metadata={})
                    for f in data_fields]})
    ptypes = {f["name"]: field_type(f) for f in schema["fields"]
              if f["name"] in part_cols}
    pnullable = {f["name"]: f.get("nullable", True)
                 for f in schema["fields"] if f["name"] in part_cols}

    groups: dict[tuple, list[str]] = {}
    for a in adds:
        pv = a.get("partitionValues") or {}
        key = tuple(pv.get(c) for c in part_cols)
        groups.setdefault(key, []).append(
            os.path.join(table_root, a["path"]))
    if not groups:
        out_schema = StructType.fromJson(
            {"type": "struct",
             "fields": [dict(f, metadata={}) for f in schema["fields"]]})
        return spark.createDataFrame([], out_schema)
    parts = []
    for key, files in sorted(
            groups.items(),
            key=lambda kv: tuple((v is None, v or "") for v in kv[0])):
        df = spark.read.schema(file_schema).parquet(*sorted(files))
        df = df.select([F.col(phys[f["name"]]).alias(f["name"])
                        for f in data_fields])
        for c, raw in zip(part_cols, key):
            # Delta renders partition NULL as missing/empty in the map
            val = (F.lit(None) if raw in (None, "")
                   else F.lit(raw)).cast(ptypes[c])
            if pnullable[c]:
                # a CASE without ELSE is nullable, as the log declares
                # the column; a bare literal would read non-nullable
                val = F.when(val.isNotNull(), val)
            df = df.withColumn(c, val)
        # restore the DECLARED column order (partition columns sit
        # wherever schemaString puts them, not appended at the end)
        parts.append(df.select([f["name"] for f in schema["fields"]]))
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out


def _delta_window_adds(log_dir: str, lo: int, hi: int,
                       on_changes: str) -> list[dict]:
    """The add actions that versions (lo, hi] of a Delta log feed —
    the one window planner behind `delta_inserts` and the `delta_feed`
    stream. A version carrying `remove` actions is a rewrite:
    `on_changes` "error" refuses it, "skip" feeds none of its adds,
    "include" feeds them all. Refused too: a version whose JSON has
    expired (the consumer is past retention) and a fed add carrying a
    deletion vector (its masked rows would come back)."""
    adds: list[dict] = []
    for v in range(lo + 1, hi + 1):
        fp = os.path.join(log_dir, f"{v:020d}.json")
        if not os.path.exists(fp):
            raise NotImplementedError(
                f"version {v} JSON expired from the log — the consumer "
                "(feed cursor or stream checkpoint) is past retention; "
                "re-bootstrap it (a fresh stream checkpoint + "
                "startingVersion)")
        with open(fp) as f:
            actions = [json.loads(line) for line in f if line.strip()]
        if any("remove" in a for a in actions):
            if on_changes == "error":
                raise ValueError(
                    f"version {v} rewrites files (remove+add) — not an "
                    "append; choose on_changes (onChanges) 'skip' or "
                    "'include'")
            if on_changes == "skip":
                continue
        v_adds = [a["add"] for a in actions if "add" in a]
        if any(a.get("deletionVector") for a in v_adds):
            raise NotImplementedError(
                f"version {v} adds files with deletion vectors; the "
                "insert feed cannot mask them")
        adds.extend(v_adds)
    return adds


def delta_inserts(spark, table_root: str, since: int,
                  until: int | None = None,
                  on_changes: str = "error"):
    """The INSERT FEED over a Delta log — Delta's streaming-source
    semantics for incremental ingestion of an upstream Delta-published
    corpus: rows added in versions (since, until], read from exactly
    the new files (cost ∝ change, never a table re-scan).

    A version carrying `remove` actions is a REWRITE (delete /
    compaction / merge), where new-adds cannot be told apart from
    rewritten old rows without diffing data. `on_changes` picks the
    Delta option: "error" (default — the streaming source's
    failOnDataLoss stance), "skip" (ignoreChanges: rewritten versions
    contribute nothing; downstream must tolerate missing updates), or
    "include" (their adds are fed; downstream dedups).

    Returns (DataFrame, head_version)."""
    return _delta_inserts(spark, table_root, since, until, on_changes)[:2]


def _delta_inserts(spark, table_root: str, since: int, until: int | None,
                   on_changes: str):
    """delta_inserts plus the window's add actions: (df, head, adds)."""
    if on_changes not in ("error", "skip", "include"):
        raise ValueError(f"bad on_changes {on_changes!r}")
    log_dir = os.path.join(table_root, "_delta_log")
    state = _replay_delta_log(log_dir, upto=until)
    if state["version"] is None:
        raise ValueError(f"{table_root} has no _delta_log")
    _check_readable(state)
    head = state["version"]
    adds = _delta_window_adds(log_dir, since, head, on_changes)
    return _scan_adds(spark, table_root, state, adds), head, adds


def consume_delta_inserts(spark, table_root: str, consumer_id: str,
                          fn, on_changes: str = "error",
                          state_dir: str | None = None) -> dict:
    """Exactly-once consumption of a Delta table's insert feed with a
    durable cursor (feed.py's protocol pointed at a Delta log): each
    poll reads (cursor, head], hands the batch to `fn(df, since,
    until)`, and only THEN commits the cursor — a crash in between
    replays the same window (exactly-once end to end when the sink is
    idempotent). `state_dir` holds the cursor files (default: inside
    the table dir; pass a local dir for a read-only upstream).
    `rows_fed` comes from the window adds' numRecords, so the window
    is scanned only by the sink; a window with an add lacking stats is
    counted with one extra scan."""
    from .feed import _commit_cursor, consumer_position

    sd = state_dir or table_root
    # Delta versions start at 0 (the commitlog's start at 1), so the
    # cursor stores head+1 = "the next version to read"; an absent
    # cursor (position 0) then correctly bootstraps version 0
    since = consumer_position(sd, consumer_id) - 1
    df, head, adds = _delta_inserts(spark, table_root, since, None,
                                    on_changes)
    if head <= since:
        return {"since": since, "until": since, "rows_fed": 0}
    stats = [json.loads(a.get("stats") or "{}") for a in adds]
    n = (sum(int(st["numRecords"]) for st in stats)
         if all("numRecords" in st for st in stats) else df.count())
    fn(df, since, head)
    _commit_cursor(sd, consumer_id, head + 1, n)
    return {"since": since, "until": head, "rows_fed": n}


def vacuum_delta(table_root: str, min_age_s: float = 3600.0,
                 dry_run: bool = False) -> dict:
    """Reclaim data files under `table_root` that the Delta log no
    longer references (removed by incremental re-exports) and that are
    older than `min_age_s` — Delta's VACUUM, for standalone exported
    tables (in-place exports delegate to the commitlog's own vacuum,
    which owns the data directory; this verb REFUSES there rather than
    fight it). The retention window is the crash-safety margin: a
    reader planning against an older snapshot keeps its files until
    the window passes, exactly as in Delta. Never touches `_delta_log`
    or non-parquet names. Returns {reclaimed, kept_recent, live,
    bytes_reclaimed}."""
    import time as _time

    log_dir = os.path.join(table_root, "_delta_log")
    if not os.path.isdir(log_dir):
        raise ValueError(f"{table_root} has no _delta_log")
    # in-place export? the commitlog governs this directory's files
    parent = os.path.dirname(os.path.abspath(table_root))
    if os.path.basename(os.path.abspath(table_root)) == "data" and \
            os.path.isdir(os.path.join(parent, "_commitlog")):
        raise ValueError(
            "this Delta table is an IN-PLACE export of a commitlog "
            "table — its data dir is governed by the commitlog; run "
            "checkpoint.vacuum on the table (then re-export) instead")
    live = {a["path"] for a in delta_live_files(table_root)}
    now = _time.time()
    reclaimed = kept = 0
    bytes_reclaimed = 0
    for root, dirs, files in os.walk(table_root):
        dirs[:] = [d for d in dirs if d != "_delta_log"]
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            fp = os.path.join(root, fn)
            rel = os.path.relpath(fp, table_root)
            if rel in live:
                continue
            try:
                age = now - os.path.getmtime(fp)
            except OSError:
                continue  # already gone (concurrent vacuum)
            if age < float(min_age_s):
                kept += 1
                continue
            size = os.path.getsize(fp)
            if not dry_run:
                try:
                    os.remove(fp)
                except OSError:
                    continue
            reclaimed += 1
            bytes_reclaimed += size
    return {"reclaimed": reclaimed, "kept_recent": kept,
            "live": len(live), "bytes_reclaimed": bytes_reclaimed,
            "dry_run": bool(dry_run)}
