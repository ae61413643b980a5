"""Deterministic sharded export (curator_spark/export.py): stable
shard membership under re-partitioning, byte-deterministic shard
content, manifest fingerprints that verify from the files alone."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from curator_spark import fixtures
from curator_spark.export import export_jsonl_shards, verify_export


def _docs(spark, tmp_path, n=3000, seed=11):
    pdf = fixtures.generate_transcripts(n, seed=seed, n_parts=8)
    p = str(tmp_path / f"t{seed}.parquet")
    fixtures.to_spark_parquet(pdf, p)
    from curator_spark import schema
    return spark.read.schema(schema.TRANSCRIPTS_SCHEMA).parquet(p)


def test_export_roundtrip_and_manifest(spark, tmp_path):
    df = _docs(spark, tmp_path)
    out = str(tmp_path / "shards")
    man = export_jsonl_shards(
        df, out, n_shards=8, key_col="conv_id",
        order_cols=["conv_id", "turn_idx"],
        columns=["conv_id", "turn_idx", "role", "text"])
    assert man["total_rows"] == df.count()
    assert len(man["shards"]) == 8
    # manifest on disk matches the returned dict (minus the run-report
    # shards_written field, which describes the write not the content)
    assert man.pop("shards_written") == 8
    with open(os.path.join(out, "_manifest.json")) as fh:
        assert json.load(fh) == json.loads(json.dumps(man))
    # every line is valid JSON with the declared field order
    lines = spark.read.text(os.path.join(out, "shard=*")).collect()
    assert len(lines) == man["total_rows"]
    first = json.loads(lines[0]["value"])
    assert list(first) == ["conv_id", "turn_idx", "role", "text"]
    # files alone re-derive the manifest
    rep = verify_export(spark, out)
    assert rep["all_ok"], rep


def test_shard_membership_stable_under_input_partitioning(spark, tmp_path):
    df = _docs(spark, tmp_path)
    out_a = str(tmp_path / "a")
    out_b = str(tmp_path / "b")
    man_a = export_jsonl_shards(df, out_a, 8, "conv_id",
                                order_cols=["conv_id", "turn_idx"])
    man_b = export_jsonl_shards(df.repartition(3), out_b, 8, "conv_id",
                                order_cols=["conv_id", "turn_idx"])
    assert man_a["shards"] == man_b["shards"]
    # byte-identical shard content, not just matching hashes
    for k in range(8):
        a = sorted(r["value"] for r in
                   spark.read.text(f"{out_a}/shard={k}").collect())
        b = sorted(r["value"] for r in
                   spark.read.text(f"{out_b}/shard={k}").collect())
        assert a == b


def test_conversations_never_split_across_shards(spark, tmp_path):
    """key_col=conv_id ⇒ every turn of a conversation lands in ONE
    shard — the property trainers need for packing/SFT."""
    df = _docs(spark, tmp_path)
    out = str(tmp_path / "c")
    export_jsonl_shards(df, out, 8, "conv_id",
                        order_cols=["conv_id", "turn_idx"])
    got = (spark.read.json(os.path.join(out, "shard=*"))
           .withColumn("shard", F.regexp_extract(F.input_file_name(),
                                                 r"shard=(\d+)", 1)))
    per_conv = (got.groupBy("conv_id")
                .agg(F.countDistinct("shard").alias("n_shards")).toPandas())
    assert (per_conv["n_shards"] == 1).all()


def test_tamper_detection(spark, tmp_path):
    df = _docs(spark, tmp_path, n=600, seed=12)
    out = str(tmp_path / "d")
    export_jsonl_shards(df, out, 4, "conv_id")
    # corrupt one shard file
    for root, _, files in os.walk(out):
        for f in files:
            if "shard=" in root and f.endswith(".txt"):
                p = os.path.join(root, f)
                with open(p, "a") as fh:
                    fh.write('{"conv_id":"evil","x":1}\n')
                # drop Hadoop's local-FS checksum so the tamper reaches
                # the manifest verifier (object stores have no .crc)
                crc = os.path.join(root, f".{f}.crc")
                if os.path.exists(crc):
                    os.remove(crc)
                break
        else:
            continue
        break
    rep = verify_export(spark, out)
    assert not rep["all_ok"]
    assert sum(1 for k, v in rep.items() if k != "all_ok" and not v) == 1


def test_cli_export_and_verify_verbs(spark, tmp_path, capsys):
    """--export-shards exports the committed table at --output;
    --verify-shards re-derives the manifest from the files (exit 0),
    and exits 3 after tampering."""
    from curator_spark.checkpoint import run_checkpointed
    from curator_spark.cli import main

    p = str(tmp_path / "t.parquet")
    fixtures.write_transcripts_parquet(p, 800, seed=13, n_parts=4)
    out = str(tmp_path / "table")
    run_checkpointed(spark, p, out)

    shards = str(tmp_path / "shards")
    assert main(["--output", out, "--export-shards", shards,
                 "--n-shards", "4"]) == 0
    info = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert info["n_shards"] == 4 and info["total_rows"] > 0

    assert main(["--output", out, "--verify-shards", shards]) == 0
    capsys.readouterr()
    # tamper → exit 3
    for root, _, files in os.walk(shards):
        for f in files:
            if "shard=" in root and f.endswith(".txt"):
                with open(os.path.join(root, f), "a") as fh:
                    fh.write("x\n")
                crc = os.path.join(root, f".{f}.crc")
                if os.path.exists(crc):
                    os.remove(crc)
                break
        else:
            continue
        break
    assert main(["--output", out, "--verify-shards", shards]) == 3


def test_incremental_reexport_touches_only_changed_shards(spark, tmp_path):
    """Append rows for ONE key-cluster, re-export with incremental=True:
    only the affected shard directories are rewritten — untouched shard
    files keep their inodes — and the result equals a full re-export."""
    df = _docs(spark, tmp_path, n=2000, seed=14)
    out = str(tmp_path / "inc")
    man1 = export_jsonl_shards(df, out, 8, "conv_id",
                               order_cols=["conv_id", "turn_idx"])
    assert man1["shards_written"] == 8
    inodes_before = {}
    for k in range(8):
        d = os.path.join(out, f"shard={k}")
        inodes_before[k] = sorted(
            os.stat(os.path.join(d, f)).st_ino
            for f in os.listdir(d) if not f.startswith("."))

    # second delivery: ONE new conversation (hashes into one shard)
    extra = fixtures.generate_transcripts(120, seed=15, n_parts=8)
    extra = extra[extra["conv_id"] == sorted(extra["conv_id"].unique())[0]]
    extra = extra.copy()
    # keep the all-null tool column typed as string (an all-NaN slice
    # would otherwise write as a non-string parquet type)
    import pandas as pd
    extra["tool"] = extra["tool"].astype(pd.StringDtype())
    p = str(tmp_path / "extra.parquet")
    fixtures.to_spark_parquet(extra, p)
    from curator_spark import schema
    df2 = df.unionByName(
        spark.read.schema(schema.TRANSCRIPTS_SCHEMA).parquet(p))

    man2 = export_jsonl_shards(df2, out, 8, "conv_id",
                               order_cols=["conv_id", "turn_idx"],
                               incremental=True)
    assert man2["shards_written"] == 1
    assert man2["total_rows"] == df2.count()
    # untouched shards kept their exact files
    changed = {k for k in range(8)
               if man1["shards"][str(k)] != man2["shards"][str(k)]}
    assert len(changed) == man2["shards_written"]
    for k in range(8):
        d = os.path.join(out, f"shard={k}")
        now = sorted(os.stat(os.path.join(d, f)).st_ino
                     for f in os.listdir(d) if not f.startswith("."))
        if k in changed:
            assert now != inodes_before[k]
        else:
            assert now == inodes_before[k]
    # and the incremental result verifies + equals a fresh full export
    assert verify_export(spark, out)["all_ok"]
    full = str(tmp_path / "full")
    man_full = export_jsonl_shards(df2, full, 8, "conv_id",
                                   order_cols=["conv_id", "turn_idx"])
    man_full.pop("shards_written")
    with open(os.path.join(out, "_manifest.json")) as fh:
        assert json.load(fh) == json.loads(json.dumps(man_full))


def test_incremental_with_spec_change_falls_back_to_full(spark, tmp_path):
    df = _docs(spark, tmp_path, n=600, seed=16)
    out = str(tmp_path / "spec")
    export_jsonl_shards(df, out, 4, "conv_id")
    man = export_jsonl_shards(df, out, 8, "conv_id", incremental=True)
    assert man["shards_written"] == 8  # n_shards changed → full rewrite
    assert verify_export(spark, out)["all_ok"]


def test_incremental_noop_writes_nothing(spark, tmp_path):
    df = _docs(spark, tmp_path, n=600, seed=17)
    out = str(tmp_path / "noop")
    export_jsonl_shards(df, out, 4, "conv_id")
    man = export_jsonl_shards(df, out, 4, "conv_id", incremental=True)
    assert man["shards_written"] == 0
    assert verify_export(spark, out)["all_ok"]


def test_cli_export_as_of_version(spark, tmp_path, capsys):
    """--export-version exports the snapshot at that commit — the
    reproducible-training-set workflow: append after v1, export v1,
    get exactly the v1 rows."""
    from curator_spark.checkpoint import make_ledger, run_checkpointed
    from curator_spark.cli import main
    from curator_spark.incremental import append_new_conversations

    p = str(tmp_path / "t.parquet")
    base = fixtures.write_transcripts_parquet(p, 500, seed=18, n_parts=2)
    out = str(tmp_path / "table")
    run_checkpointed(spark, p, out)
    v1 = make_ledger(out).latest_version()
    p2 = str(tmp_path / "t2.parquet")
    fixtures.to_spark_parquet(
        fixtures.generate_transcripts(200, seed=19, n_parts=2), p2)
    append_new_conversations(spark, p2, out)

    shards = str(tmp_path / "asof")
    assert main(["--output", out, "--export-shards", shards,
                 "--n-shards", "2", "--export-version", str(v1)]) == 0
    info = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert info["total_rows"] == len(base)  # v1 only, not the append


def test_webdataset_tar_export(spark, tmp_path):
    """Tar shards: per-sample member files in the WebDataset layout,
    deterministic bytes (manifest sha256 reproducible offline), stable
    membership, text + binary fields round-trip."""
    import hashlib
    import tarfile

    from curator_spark.export import export_webdataset
    rows = [(f"k{i:03d}", f"text body {i}", bytes([i % 251]) * (10 + i))
            for i in range(40)]
    df = spark.createDataFrame(rows, "key string, text string, payload binary")
    out = str(tmp_path / "wds")
    man = export_webdataset(df, out, n_shards=4, key_col="key",
                            text_cols=["text"], binary_cols=["payload"],
                            order_cols=["key"])
    assert man["total_samples"] == 40
    assert set(man["shards"]) <= {str(k) for k in range(4)}
    # offline verification: sha256 of each tar matches the manifest
    seen = 0
    for k, info in man["shards"].items():
        p = os.path.join(out, f"shard-{int(k):05d}.tar")
        assert hashlib.sha256(open(p, "rb").read()).hexdigest() \
            == info["tar_sha256"]
        with tarfile.open(p) as t:
            names = t.getnames()
            assert len(names) == 2 * info["n_samples"]
            # contiguous per-sample groups, sorted by key
            keys = [n.split(".")[0] for n in names[::2]]
            assert keys == sorted(keys)
            # round-trip one sample
            key = keys[0]
            txt = t.extractfile(f"{key}.text.txt").read().decode()
            blob = t.extractfile(f"{key}.payload.bin").read()
            i = int(key[1:])
            assert txt == f"text body {i}"
            assert blob == bytes([i % 251]) * (10 + i)
        seen += info["n_samples"]
    assert seen == 40
    # deterministic: re-export produces identical tar hashes
    out2 = str(tmp_path / "wds2")
    man2 = export_webdataset(df.repartition(5), out2, 4, "key",
                             text_cols=["text"], binary_cols=["payload"],
                             order_cols=["key"])
    assert {k: v["tar_sha256"] for k, v in man["shards"].items()} \
        == {k: v["tar_sha256"] for k, v in man2["shards"].items()}
