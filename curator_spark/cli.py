"""spark-submit entrypoint for the quality-filter pipeline.

Cluster usage (the north_rule ship shape):

    cd /path/to/repo && zip -r curator_spark.zip curator_spark
    spark-submit --py-files curator_spark.zip \
        --master <cluster-master> \
        -m curator_spark.cli  # or: path/to/cli.py
        --input  s3://bucket/transcripts/           \
        --output s3://bucket/curated/run1/          \
        --partitions 4096

Local smoke:

    python -m curator_spark.cli --input /tmp/t.parquet --output /tmp/out \
        --local-cores 8

The job is the checkpointed runner (per-partition commit ledger, resume,
lineage, metrics — curator_spark.checkpoint.run_checkpointed), so
re-submitting after any failure resumes from the last committed
partition. Identical submission at N and 4N executors is how the
scaling criterion is exercised on a real cluster; bench.py is the
sandbox's local[k] stand-in.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="curator-spark",
        description="PySpark quality-filter pipeline over conversation transcripts")
    p.add_argument("--input", default=None,
                   help="transcripts table path (parquet/Iceberg dir); "
                        "required unless --status")
    p.add_argument("--status", action="store_true",
                   help="print the run-status tracker table for --output "
                        "(ledger commit state + counter totals; reads the "
                        "durable artifacts directly, no Spark session) "
                        "and exit")
    p.add_argument("--output", required=True,
                   help="output table dir (data/ + _commitlog/ + _metrics/ "
                        "+ _meta/)")
    p.add_argument("--partitions", type=int, default=None,
                   help="override spark.sql.shuffle.partitions")
    p.add_argument("--only-parts", type=str, default=None,
                   help="comma-separated subset of `part` buckets (sharded runs)")
    p.add_argument("--broadcast-aggs", dest="broadcast", action="store_true",
                   help="force broadcast of conv aggregates (default: AQE "
                        "picks the join)")
    p.add_argument("--local-cores", type=int, default=None,
                   help="run on local[k] instead of an existing cluster session")
    p.add_argument("--strict", action="store_true",
                   help="fail the run (committing nothing) if any error "
                        "rows are produced — require_all_responses analogue")
    p.add_argument("--append", action="store_true",
                   help="incremental ingestion: score and append ONLY "
                        "the --input conversations whose content "
                        "fingerprint the committed --output table has "
                        "never seen")
    p.add_argument("--upsert", action="store_true",
                   help="MERGE: like --append, but a batch conv_id that "
                        "exists with DIFFERENT content REPLACES its old "
                        "rows (corrected re-delivery / redaction re-run)")
    p.add_argument("--merge", action="store_true",
                   help="MERGE INTO: treat --input as an arbitrary "
                        "source table (any schema matching --output) "
                        "and conditionally upsert it on --merge-key — "
                        "matched rows update (or delete with "
                        "--merge-matched delete), unmatched rows "
                        "insert, one atomic commit")
    p.add_argument("--merge-key", type=str, default="conv_id",
                   help="MERGE join key column (default conv_id)")
    p.add_argument("--merge-matched", choices=["update", "delete", "none"],
                   default="update",
                   help="WHEN MATCHED clause for --merge")
    p.add_argument("--merge-not-matched", choices=["insert", "none"],
                   default="insert",
                   help="WHEN NOT MATCHED clause for --merge")
    p.add_argument("--merge-condition", type=str, default=None,
                   metavar="EXPR",
                   help="extra WHEN MATCHED AND <expr> condition over "
                        "aliases s (source) / t (target), e.g. "
                        "'s.ts > t.ts'")
    p.add_argument("--merge-evolve-schema", action="store_true",
                   help="schema autoMerge: extra source columns become "
                        "nullable table columns, widened in the same "
                        "atomic commit as the merge")
    p.add_argument("--add-constraint", type=str, default=None,
                   metavar="NAME=EXPR",
                   help="ALTER TABLE ADD CONSTRAINT: register a CHECK "
                        "invariant (validated against existing rows "
                        "first; enforced at every subsequent write; "
                        "ratchets the check-constraints writer "
                        "feature) and exit — no --input needed")
    p.add_argument("--drop-constraint", type=str, default=None,
                   metavar="NAME",
                   help="ALTER TABLE DROP CONSTRAINT and exit")
    p.add_argument("--rename-column", type=str, default=None,
                   metavar="OLD=NEW",
                   help="ALTER TABLE RENAME COLUMN: one metadata "
                        "commit, zero data I/O at any table size "
                        "(column mapping — physical in-file names are "
                        "immutable; ratchets the column-mapping "
                        "reader+writer feature) and exit — no Spark "
                        "session, no --input needed")
    p.add_argument("--drop-column", type=str, default=None,
                   metavar="COL",
                   help="ALTER TABLE DROP COLUMN (metadata-only; the "
                        "physical name is retired so a re-add never "
                        "resurrects old values) and exit")
    p.add_argument("--add-column", type=str, default=None,
                   metavar="COL:TYPE",
                   help="ALTER TABLE ADD COLUMN (nullable; existing "
                        "files read NULL), e.g. quality:double, and "
                        "exit")
    p.add_argument("--replace-where", type=str, default=None,
                   metavar="EXPR",
                   help="INSERT OVERWRITE WHERE (Delta's replaceWhere): "
                        "atomically replace exactly the rows matching "
                        "<Spark SQL boolean> with --input's rows — the "
                        "backfill idiom; every input row must itself "
                        "satisfy the predicate; one atomic commit")
    p.add_argument("--delete-where", type=str, default=None,
                   metavar="EXPR",
                   help="DELETE FROM --output WHERE <Spark SQL "
                        "boolean> and exit (stats-pruned, probe-exact "
                        "rewrite, one atomic commit; NULL-predicate "
                        "rows survive) — no --input "
                        "needed")
    p.add_argument("--update-set", type=str, default=None,
                   metavar="COL=EXPR[;COL=EXPR...]",
                   help="UPDATE --output SET assignments (Spark SQL "
                        "expressions over the row), requires "
                        "--update-where; one atomic commit; no "
                        "--input needed")
    p.add_argument("--update-where", type=str, default=None,
                   metavar="EXPR",
                   help="WHERE predicate for --update-set")
    p.add_argument("--delete-ids", type=str, default=None, metavar="IDS",
                   help="comma-separated conv_ids to delete from "
                        "--output (right-to-be-forgotten; physical "
                        "after --vacuum) and exit — "
                        "no --input needed")
    p.add_argument("--delete-mode", choices=["rewrite", "dv"],
                   default="rewrite",
                   help="--delete-ids strategy: 'rewrite' swaps the "
                        "touched files for filtered rewrites; 'dv' "
                        "marks row positions deleted in the log "
                        "(deletion vectors — O(k) for k rows, "
                        "protocol-gated, materialized by --compact)")
    p.add_argument("--build-bloom", type=str, default=None,
                   metavar="COL",
                   help="build a per-file BLOOM FILTER INDEX for this "
                        "column and exit: equality probes (reads, "
                        "--delete-ids with --delete-key, dv deletes) "
                        "then skip files the bloom proves clean — the "
                        "point-lookup path min/max stats cannot serve "
                        "(one column-pruned scan; advisory add_stats "
                        "commit; rebuild after --compact)")
    p.add_argument("--delete-key", type=str, default="conv_id",
                   help="key column for --delete-ids (default conv_id; "
                        "pair a non-bucket key with --build-bloom for "
                        "pruned GDPR deletes)")
    p.add_argument("--vacuum", action="store_true",
                   help="after the run, reclaim data files no commit "
                        "manifest references")
    p.add_argument("--compact", type=int, default=None, metavar="N",
                   help="after the run, rewrite any committed partition "
                        "holding more than N files into N (small-file "
                        "OPTIMIZE)")
    p.add_argument("--zorder-by", type=str, default=None, metavar="COLS",
                   help="with --compact: cluster every rewrite by these "
                        "comma-separated columns — one column range-sorts "
                        "(disjoint per-file key ranges), 2+ interleave as "
                        "a Morton/Z-order key (OPTIMIZE ... ZORDER BY), "
                        "so manifest-stats probes prune on ANY listed "
                        "column")
    p.add_argument("--consume", type=str, default=None, metavar="ID",
                   help="poll --output's change feed as consumer ID and "
                        "write the new rows to --consume-out/"
                        "batch-v<since+1>-v<until> (durable cursor: each "
                        "row delivered once across polls and crashes) "
                        "— no --input needed")
    p.add_argument("--consume-out", type=str, default=None, metavar="DIR",
                   help="destination directory for --consume batches")
    p.add_argument("--restore", type=int, default=None, metavar="V",
                   help="roll --output back to commit version V and "
                        "exit (RESTORE TABLE ... VERSION AS OF; one new "
                        "commit, history preserved, no Spark session) "
                        "— no --input needed")
    p.add_argument("--restore-asof", type=str, default=None,
                   metavar="ISO8601",
                   help="RESTORE TABLE ... TIMESTAMP AS OF: roll "
                        "--output back to the latest commit at or "
                        "before this datetime and exit (one new "
                        "commit, history preserved, no Spark session)")
    p.add_argument("--rebucket", type=str, default=None,
                   metavar="JSON",
                   help="change the table's bucket spec and exit "
                        "(Iceberg's REPLACE PARTITION SPEC, eager): "
                        "rewrite every live row into the new layout in "
                        "one atomic commit, e.g. "
                        "'{\"col\": \"conv_id\", \"n_parts\": 8, "
                        "\"fn\": \"md5full\"}' — no --input needed")
    p.add_argument("--expect", action="append", default=None,
                   metavar="NAME=EXPR",
                   help="expectations gate (repeatable): apply the "
                        "named PASS condition (Spark SQL expression) "
                        "to --input, write survivors to --output and "
                        "violators to --quarantine-out, print per-rule "
                        "metrics; policy via --expect-mode")
    p.add_argument("--expect-mode",
                   choices=["warn", "drop", "quarantine", "fail"],
                   default="quarantine",
                   help="violation policy for --expect (default "
                        "quarantine; fail exits 3 naming the count)")
    p.add_argument("--quarantine-out", type=str, default=None,
                   metavar="DIR",
                   help="where --expect quarantine rows go (default "
                        "<output>_quarantine)")
    p.add_argument("--diff", type=str, default=None, metavar="FROM[:TO]",
                   help="semantic diff of the --output table between "
                        "commit versions FROM and TO (default TO=head): "
                        "prints added/removed/updated counts and "
                        "per-column update attribution; --diff-out "
                        "writes the keyed row-level diff as parquet")
    p.add_argument("--diff-out", type=str, default=None, metavar="DIR",
                   help="where --diff writes the row-level diff")
    p.add_argument("--diff-key", type=str, default="conv_id,turn_idx",
                   help="comma-separated key columns identifying a row "
                        "for --diff (default conv_id,turn_idx)")
    p.add_argument("--drift", type=str, default=None,
                   metavar="FROM[:TO]",
                   help="distribution-drift report between versions: "
                        "per --drift-dims cell, counts before/after, "
                        "delta, and corpus share in exact permille "
                        "(printed as JSON rows)")
    p.add_argument("--drift-dims", type=str, default="role",
                   help="comma-separated dimension columns for --drift "
                        "(default role)")
    p.add_argument("--export-shards", type=str, default=None,
                   metavar="DIR",
                   help="export --input (parquet) as deterministic "
                        "JSONL training shards under DIR (+ _manifest."
                        "json with per-shard counts/fingerprints); "
                        "shard count via --n-shards, membership key "
                        "via --shard-key (stable under any input "
                        "partitioning)")
    p.add_argument("--n-shards", type=int, default=64,
                   help="shard count for --export-shards (default 64)")
    p.add_argument("--shard-key", type=str, default="conv_id",
                   help="membership key column for --export-shards; "
                        "rows sharing it never split across shards")
    p.add_argument("--export-version", type=int, default=None,
                   metavar="V",
                   help="with --export-shards (no --input): export the "
                        "table AS OF commit version V instead of the "
                        "head — reproducible training snapshots from "
                        "time travel")
    p.add_argument("--verify-shards", type=str, default=None,
                   metavar="DIR",
                   help="re-derive every shard's count+fingerprint "
                        "from the files in DIR and compare to its "
                        "_manifest.json; exit 3 on mismatch")
    p.add_argument("--clone", type=str, default=None, metavar="DST",
                   help="SHALLOW CLONE --output into DST and exit: "
                        "zero-copy fork (hard-linked data files, fresh "
                        "commit log at the snapshot; no Spark session); "
                        "combine with --clone-version or --clone-asof "
                        "for a time-travel clone")
    p.add_argument("--clone-version", type=int, default=None, metavar="V",
                   help="clone the snapshot at commit version V instead "
                        "of the head")
    p.add_argument("--clone-asof", type=str, default=None,
                   metavar="ISO8601",
                   help="clone the latest snapshot at or before this "
                        "datetime instead of the head")
    p.add_argument("--vacuum-delta", type=str, default=None,
                   metavar="DIR",
                   help="VACUUM a STANDALONE exported Delta table: "
                        "reclaim parquet files its log no longer "
                        "references, older than --maintain-retention "
                        "seconds (in-place exports refuse — the "
                        "commitlog's own --vacuum owns that data dir); "
                        "no Spark session")
    p.add_argument("--consume-delta", type=str, default=None,
                   metavar="ID",
                   help="poll the INSERT FEED of the Delta table at "
                        "--input as consumer ID: reads versions "
                        "(cursor, head] from exactly the new files, "
                        "appends them as parquet under --consume-out, "
                        "then commits the durable cursor (exactly-once "
                        "end to end)")
    p.add_argument("--export-delta", nargs="?", const="__inplace__",
                   default=None, metavar="DEST",
                   help="export --output's commitlog snapshot as a "
                        "Delta Lake table and exit (no Spark session). "
                        "Without DEST: writes _delta_log/ inside "
                        "--output/data so the data dir itself becomes "
                        "a Delta table (zero copy); with DEST: builds "
                        "a standalone Delta table of hard-linked "
                        "files. Re-running appends one incremental "
                        "Delta version (add/remove diff). Combine "
                        "with --export-version for a time-travel "
                        "export")
    p.add_argument("--maintain", action="store_true",
                   help="auto-pilot maintenance on --output: compact "
                        "over-filed partitions (per-partition atomic "
                        "commits), vacuum aged orphans, print the "
                        "before/after health report; --maintain-report "
                        "for report-only")
    p.add_argument("--maintain-report", action="store_true",
                   help="print the metadata-only maintenance health "
                        "report for --output and exit (no Spark job)")
    p.add_argument("--maintain-target-files", type=int, default=4,
                   metavar="N",
                   help="compact partitions holding more than N live "
                        "files (default 4)")
    p.add_argument("--maintain-retention", type=float, default=3600.0,
                   metavar="SECONDS",
                   help="vacuum retention window (default 3600; pass 0 "
                        "only with no concurrent writers)")
    p.add_argument("--branch", type=str, default=None, metavar="DIR",
                   help="fork --output at its head into a WAP branch "
                        "at DIR and exit (zero-copy; write/audit there, "
                        "then --publish it back)")
    p.add_argument("--publish", type=str, default=None, metavar="DIR",
                   help="atomically fast-forward --output with the net "
                        "changes of WAP branch DIR and exit; fails with "
                        "exit 4 if the table advanced past the fork "
                        "point (re-branch and replay)")
    p.add_argument("--drop-branch", type=str, default=None, metavar="DIR",
                   help="delete WAP branch DIR and exit (refuses a "
                        "primary table; source data is never touched)")
    p.add_argument("--history", action="store_true",
                   help="print the commit history (version, timestamp, "
                        "operations, partitions) for --output and exit — "
                        "DESCRIBE HISTORY from the transaction log, no "
                        "Spark session")
    p.add_argument("--vacuum-dry-run", action="store_true",
                   help="like --vacuum but deletes nothing: report how "
                        "many files a real pass would reclaim (VACUUM "
                        "DRY RUN)")
    p.add_argument("--vacuum-min-age-sec", type=float, default=3600.0,
                   help="vacuum retention window: only orphans older "
                        "than this are reclaimed (protects files a "
                        "concurrent shard placed ahead of its commit). "
                        "Pass 0 when no writer can be concurrent — e.g. "
                        "this single-writer invocation just finished")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    if args.status:
        from curator_spark.status import format_run_status
        print(format_run_status(args.output))
        return 0
    if args.history:
        from curator_spark.checkpoint import table_history
        for h in table_history(args.output):
            print(json.dumps(h))
        return 0
    if args.restore is not None:
        from curator_spark.checkpoint import restore_table
        print(json.dumps(restore_table(args.output, version=args.restore)))
        return 0
    if args.restore_asof is not None:
        from datetime import datetime

        from curator_spark.checkpoint import restore_table
        ts = datetime.fromisoformat(args.restore_asof)
        print(json.dumps(restore_table(args.output, as_of=ts)))
        return 0
    if args.clone is not None:
        from curator_spark.clone import clone_table
        asof = None
        if args.clone_asof is not None:
            from datetime import datetime
            asof = datetime.fromisoformat(args.clone_asof)
        print(json.dumps(clone_table(args.output, args.clone,
                                     version=args.clone_version,
                                     asof=asof)))
        return 0
    if args.export_delta is not None:
        from curator_spark.export_delta import export_delta_log
        dest = None if args.export_delta == "__inplace__" \
            else args.export_delta
        print(json.dumps(export_delta_log(
            args.output, dest=dest, version=args.export_version)))
        return 0
    if args.vacuum_delta is not None:
        from curator_spark.export_delta import vacuum_delta
        print(json.dumps(vacuum_delta(
            args.vacuum_delta,
            min_age_s=args.maintain_retention)))
        return 0
    if args.consume_delta is not None:
        if not args.input or not args.consume_out:
            build_parser().error(
                "--consume-delta requires --input (the Delta table "
                "dir) and --consume-out")
        import os

        from curator_spark.export_delta import consume_delta_inserts
        from curator_spark.session import get_spark
        spark = get_spark("consume-delta")

        def sink(df, since, until):
            # window-keyed path: a replayed window (crash before the
            # cursor commit) overwrites the same directory — idempotent
            (df.write.mode("overwrite")
             .parquet(os.path.join(args.consume_out,
                                   f"window-{since + 1}-{until}")))

        print(json.dumps(consume_delta_inserts(
            spark, args.input, args.consume_delta, sink,
            on_changes="skip", state_dir=args.consume_out)))
        return 0
    if args.maintain_report:
        from curator_spark.maintenance import maintenance_report
        print(json.dumps(maintenance_report(
            args.output, target_files=args.maintain_target_files,
            min_age_s=args.maintain_retention)))
        return 0
    if args.maintain:
        from curator_spark.maintenance import run_maintenance
        from curator_spark.session import get_spark
        print(json.dumps(run_maintenance(
            get_spark("maintain"), args.output,
            target_files=args.maintain_target_files,
            min_age_s=args.maintain_retention)))
        return 0
    if args.branch is not None:
        from curator_spark.wap import create_branch
        print(json.dumps(create_branch(args.output, args.branch)))
        return 0
    if args.publish is not None:
        from curator_spark.wap import PublishConflict, publish_branch
        audit = None
        spark = None
        if args.expect:
            # WAP audit gate from the same --expect NAME=EXPR rules the
            # ingestion gate uses: ANY violating row on the branch
            # aborts the publish (mode=fail semantics)
            from pyspark.sql import functions as F

            from curator_spark.expectations import apply_expectations
            from curator_spark.session import get_spark
            spark = get_spark("wap-audit")  # F.expr needs the session
            rules = []
            for spec in args.expect:
                name, expr = spec.split("=", 1)
                rules.append((name.strip(), F.expr(expr)))

            def audit(df):
                apply_expectations(df, rules, mode="fail")

        try:
            print(json.dumps(publish_branch(args.output, args.publish,
                                            audit=audit, spark=spark)))
        except PublishConflict as e:
            print(json.dumps({"error": "publish_conflict",
                              "detail": str(e)}))
            return 4
        except Exception as e:
            from curator_spark.expectations import ExpectationViolation
            if isinstance(e, ExpectationViolation):
                print(json.dumps({"error": "audit_failed",
                                  "detail": str(e)}))
                return 3
            raise
        return 0
    if args.drop_branch is not None:
        from curator_spark.wap import drop_branch
        drop_branch(args.drop_branch)
        print(json.dumps({"dropped": args.drop_branch}))
        return 0
    if args.rename_column or args.drop_column or args.add_column:
        # metadata-only column DDL: pure log commits, no Spark session
        from curator_spark import alter
        out = {}
        if args.rename_column:
            old, new = args.rename_column.split("=", 1)
            out["version"] = alter.rename_column(
                args.output, old.strip(), new.strip())
            out["renamed"] = [old.strip(), new.strip()]
        if args.drop_column:
            out["version"] = alter.drop_column(args.output,
                                               args.drop_column)
            out["dropped"] = args.drop_column
        if args.add_column:
            col, typ = args.add_column.split(":", 1)
            out["version"] = alter.add_column(
                args.output, col.strip(), typ.strip())
            out["added"] = [col.strip(), typ.strip()]
        print(json.dumps(out))
        return 0
    if args.consume and not args.consume_out:
        build_parser().error("--consume requires --consume-out")
    if args.update_set and not args.update_where:
        build_parser().error("--update-set requires --update-where")
    if not args.input and not args.delete_ids and not args.consume \
            and not args.delete_where and not args.update_set \
            and not args.add_constraint and not args.drop_constraint \
            and not args.build_bloom and not args.rebucket \
            and not args.export_shards and not args.verify_shards \
            and not args.diff and not args.drift:
        build_parser().error(
            "--input is required unless --status/--history/--restore/"
            "--delete-ids/--delete-where/--update-set/"
            "--add-constraint/--drop-constraint/--consume/--rebucket/"
            "--rename-column/--drop-column/--add-column/--build-bloom/"
            "--export-shards/--verify-shards")

    if args.local_cores:
        from curator_spark.session import get_spark
        spark = get_spark("curator-spark-cli", parallelism=args.local_cores,
                          shuffle_partitions=args.partitions)
    else:
        # under spark-submit the session/config comes from the submit args
        b = SparkSession.builder.appName("curator-spark-cli")
        if args.partitions:
            b = b.config("spark.sql.shuffle.partitions", str(args.partitions))
        spark = b.getOrCreate()

    if args.rebucket:
        from curator_spark.checkpoint import rebucket_table
        try:
            spec = json.loads(args.rebucket)
        except json.JSONDecodeError as e:
            build_parser().error(f"--rebucket needs a JSON spec: {e}")
        print(json.dumps(rebucket_table(spark, args.output, spec)))
        return 0

    if args.diff:
        from curator_spark.diff import diff_summary, table_diff
        spec = args.diff.split(":")
        v_from = int(spec[0])
        v_to = int(spec[1]) if len(spec) > 1 else None
        key = tuple(c.strip() for c in args.diff_key.split(","))
        d = table_diff(spark, args.output, v_from, v_to, key_cols=key)
        if args.diff_out:
            d.write.mode("overwrite").parquet(args.diff_out)
        out = diff_summary(d)
        out["from"] = v_from
        if v_to is not None:
            out["to"] = v_to
        print(json.dumps(out))
        return 0

    if args.drift:
        from curator_spark.diff import drift_report
        spec = args.drift.split(":")
        v_from = int(spec[0])
        v_to = int(spec[1]) if len(spec) > 1 else None
        dims = tuple(c.strip() for c in args.drift_dims.split(","))
        rows = drift_report(spark, args.output, v_from, v_to,
                            dims=dims).collect()
        print(json.dumps({"from": v_from, "dims": list(dims),
                          "cells": [r.asDict() for r in rows]}))
        return 0

    if args.export_shards:
        from curator_spark.export import export_jsonl_shards
        # source = --input parquet when given, else the committed
        # table at --output (the curate-then-export workflow)
        if args.input:
            df = spark.read.parquet(args.input)
        else:
            from curator_spark.checkpoint import read_committed
            df = read_committed(spark, args.output,
                                version=args.export_version)
        order = [args.shard_key] + [c for c in ("turn_idx",)
                                    if c in df.columns]
        man = export_jsonl_shards(df, args.export_shards, args.n_shards,
                                  args.shard_key, order_cols=order)
        print(json.dumps({"total_rows": man["total_rows"],
                          "n_shards": man["n_shards"],
                          "out": args.export_shards}))
        return 0

    if args.verify_shards:
        from curator_spark.export import verify_export
        rep = verify_export(spark, args.verify_shards)
        print(json.dumps(rep))
        return 0 if rep["all_ok"] else 3

    if args.expect:
        # expectations gate: a standalone stage BEFORE (or instead of)
        # the pipeline run — read --input, split by the named PASS
        # conditions, write survivors to --output (parquet), violators
        # to --quarantine-out, print per-rule metrics
        from pyspark.sql import functions as F

        from curator_spark.expectations import (ExpectationViolation,
                                                apply_expectations,
                                                expectation_metrics)
        rules = []
        for spec in args.expect:
            if "=" not in spec:
                build_parser().error(
                    f"--expect needs NAME=EXPR, got {spec!r}")
            name, expr = spec.split("=", 1)
            rules.append((name.strip(), F.expr(expr)))
        df = spark.read.parquet(args.input)
        try:
            r = apply_expectations(df, rules, mode=args.expect_mode)
        except ExpectationViolation as e:
            print(json.dumps({"error": str(e), "mode": "fail"}))
            return 3
        r["passed"].write.mode("overwrite").parquet(args.output)
        out = {"mode": args.expect_mode,
               "rows_passed": spark.read.parquet(args.output).count()}
        if r["quarantined"] is not None:
            qdir = args.quarantine_out or (args.output.rstrip("/")
                                           + "_quarantine")
            r["quarantined"].write.mode("overwrite").parquet(qdir)
            out["rows_quarantined"] = spark.read.parquet(qdir).count()
            out["quarantine_out"] = qdir
        out["metrics"] = [row.asDict() for row in
                          expectation_metrics(df, rules).collect()]
        print(json.dumps(out))
        return 0

    # absolute import: under `spark-submit cli.py` this file runs as a
    # top-level script; the package itself ships via --py-files
    from curator_spark.checkpoint import run_checkpointed, vacuum
    only_parts = ([int(x) for x in args.only_parts.split(",")]
                  if args.only_parts else None)
    if args.consume:
        import os as _os

        from curator_spark.feed import consume_changes

        def _sink(df, since, until):
            # window-keyed path: a replayed window (crash before the
            # cursor commit) overwrites the same directory — idempotent
            df.write.mode("overwrite").parquet(_os.path.join(
                args.consume_out, f"batch-v{since + 1}-v{until}"))
        summary = consume_changes(spark, args.output, args.consume, _sink)
    elif args.delete_ids:
        from curator_spark.checkpoint import (delete_conversations,
                                              delete_rows_dv)
        fn = delete_rows_dv if args.delete_mode == "dv" \
            else delete_conversations
        summary = fn(spark, args.output, args.delete_ids.split(","),
                     key=args.delete_key)
    elif args.build_bloom:
        from curator_spark.checkpoint import build_bloom_index
        summary = build_bloom_index(spark, args.output, args.build_bloom)
    elif args.add_constraint:
        from curator_spark.constraints import add_constraint
        name, expr = args.add_constraint.split("=", 1)
        summary = {"constraint": name.strip(),
                   "version": add_constraint(spark, args.output,
                                             name.strip(), expr)}
    elif args.drop_constraint:
        from curator_spark.constraints import drop_constraint
        summary = {"constraint": args.drop_constraint,
                   "version": drop_constraint(args.output,
                                              args.drop_constraint)}
    elif args.delete_where:
        from curator_spark.dml import delete_where
        summary = delete_where(spark, args.output, args.delete_where)
    elif args.update_set:
        from curator_spark.dml import update_where
        sets = dict(kv.split("=", 1)
                    for kv in args.update_set.split(";") if kv)
        summary = update_where(spark, args.output, sets,
                               args.update_where)
    elif args.replace_where:
        from curator_spark.dml import insert_overwrite_where
        summary = insert_overwrite_where(
            spark, args.output, spark.read.parquet(args.input),
            where=args.replace_where)
    elif args.merge:
        from curator_spark.merge import merge_into
        summary = merge_into(
            spark, args.output, spark.read.parquet(args.input),
            key=args.merge_key,
            when_matched=None if args.merge_matched == "none"
            else args.merge_matched,
            when_not_matched=None if args.merge_not_matched == "none"
            else args.merge_not_matched,
            matched_condition=args.merge_condition,
            evolve_schema=args.merge_evolve_schema,
        )
    elif args.upsert:
        from curator_spark.incremental import upsert_conversations
        summary = upsert_conversations(
            spark, args.input, args.output,
            params={"cli": True},
            broadcast_conv_aggs=args.broadcast,
        )
    elif args.append:
        from curator_spark.incremental import append_new_conversations
        summary = append_new_conversations(
            spark, args.input, args.output,
            params={"cli": True},
            broadcast_conv_aggs=args.broadcast,
        )
    else:
        summary = run_checkpointed(
            spark, args.input, args.output,
            params={"cli": True},
            only_parts=only_parts,
            broadcast_conv_aggs=args.broadcast,
            strict=args.strict,
        )
    if args.compact is not None:
        from curator_spark.checkpoint import optimize_table
        sort_by = args.zorder_by.split(",") if args.zorder_by else None
        opt = optimize_table(spark, args.output,
                             target_files=args.compact,
                             sort_by=sort_by,
                             zorder=bool(sort_by) and len(sort_by) >= 2)
        summary["parts_compacted"] = len(opt["parts_compacted"])
    elif args.zorder_by:
        build_parser().error("--zorder-by requires --compact")
    if args.vacuum or args.vacuum_dry_run:
        key = "files_vacuumable" if args.vacuum_dry_run else "files_vacuumed"
        summary[key] = vacuum(args.output, min_age_s=args.vacuum_min_age_sec,
                              dry_run=args.vacuum_dry_run)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
