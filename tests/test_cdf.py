"""Row-level change-data feed (cdf.py): read-time CDC row images.

The governing identity — for ANY window and ANY interleaving of
append / recompute / delete / drop / restore / compact:

    live(since)  exceptAll deletes  unionAll inserts  ==  live(until)

as MULTISETS. Exercised directly, across cursor splits (window
additivity — what a durable-cursor consumer actually relies on), under
a seeded random action soup, and through the incremental-view
maintainer (view == recompute at every poll).
"""

from __future__ import annotations

import random

import pytest

from conftest import copy_table, multi_file_parts, part_file_counts
from curator_spark import fixtures
from curator_spark.cdf import (
    CHANGE_COL, _changed_file_sets, apply_row_changes, consume_into_view,
    consume_row_changes, read_view, row_changes)
from curator_spark.checkpoint import (
    compact_partition, delete_conversations, make_ledger, read_committed,
    restore_table, run_checkpointed, vacuum)
from curator_spark.incremental import append_new_conversations


def _multiset(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols)
                  for r in df.select(*cols).collect())


def _assert_window_identity(spark, out, since, until=None):
    """live(since) ∖ deletes ⊎ inserts == live(until), multiset-exact."""
    led = make_ledger(out)
    until = until if until is not None else led.latest_version()
    before = read_committed(spark, out, version=since) if since else None
    if before is None:
        from curator_spark import schema as _schema
        meta = led.table_meta(version=until)
        from pyspark.sql.types import StructType
        sch = StructType.fromJson(meta["schema"]) if meta.get("schema") \
            else _schema.OUTPUT_SCHEMA
        before = spark.createDataFrame([], sch)
    delta = row_changes(spark, out, since, until)
    rebuilt = apply_row_changes(before, delta)
    after = read_committed(spark, out, version=until)
    assert _multiset(rebuilt) == _multiset(after)
    return delta


@pytest.fixture(scope="module")
def built_table(spark, tmp_path_factory):
    tmp_path = tmp_path_factory.mktemp("cdf")
    p1 = str(tmp_path / "b1.parquet")
    fixtures.write_transcripts_parquet(p1, 700, seed=91, n_parts=4)
    out = str(tmp_path / "out")
    # several files per part: the compaction-only window needs a part
    # that compaction actually rewrites
    with multi_file_parts(spark):
        run_checkpointed(spark, p1, out)
    v1 = make_ledger(out).latest_version()
    p2 = str(tmp_path / "b2.parquet")
    fixtures.to_spark_parquet(
        fixtures.generate_transcripts(300, seed=92, n_parts=4), p2)
    append_new_conversations(spark, p2, out)
    return {"out": out, "v1": v1, "p1": p1}


@pytest.fixture()
def table(built_table, tmp_path):
    """A private copy of the module's table for each test."""
    return dict(built_table,
                out=copy_table(built_table["out"], tmp_path / "out"))


def test_pure_append_window_is_insert_only(spark, table):
    out, v1 = table["out"], table["v1"]
    delta = _assert_window_identity(spark, out, v1)
    kinds = {r[0] for r in delta.select(CHANGE_COL).distinct().collect()}
    assert kinds == {"insert"}
    # and the planner read nothing from the before side
    removed, added, _, _dvb, _dva = _changed_file_sets(
        make_ledger(out), v1,
        make_ledger(out).latest_version())
    assert removed == {} and added


def test_delete_emits_exact_row_images(spark, table):
    out = table["out"]
    head0 = make_ledger(out).latest_version()
    live = read_committed(spark, out)
    victims = [r.conv_id for r in
               live.select("conv_id").distinct().limit(3).collect()]
    victim_rows = _multiset(live.filter(live.conv_id.isin(victims)))
    s = delete_conversations(spark, out, victims)
    assert s["rows_deleted"] == len(victim_rows)
    delta = _assert_window_identity(spark, out, head0)
    dels = delta.filter(f"{CHANGE_COL} = 'delete'").drop(CHANGE_COL)
    ins = delta.filter(f"{CHANGE_COL} = 'insert'").drop(CHANGE_COL)
    # net change == exactly the victims' rows (rewrite survivors cancel)
    assert _multiset(dels.exceptAll(ins)) == victim_rows
    assert ins.exceptAll(dels).count() == 0


def test_compaction_only_window_plans_zero_files(spark, table):
    out = table["out"]
    led = make_ledger(out)
    head0 = led.latest_version()
    part = max(led.committed(), key=lambda p: len(led.committed()[p]["files"]))
    assert compact_partition(spark, out, part)["compacted"]
    removed, added, skipped, _dvb, _dva = _changed_file_sets(
        led, head0, led.latest_version())
    assert removed == {} and added == {} and skipped == [part]
    delta = row_changes(spark, out, head0)
    assert delta.count() == 0
    _assert_window_identity(spark, out, head0)


def test_restore_window_nets_out_and_rollback_emits_deletes(spark, table):
    out, v1 = table["out"], table["v1"]
    restore_table(out, version=v1)
    # full window (append then roll it back): net zero changes
    delta = _assert_window_identity(spark, out, v1)
    assert delta.count() == 0
    # but a cursor parked AFTER the append sees the rollback as deletes
    led = make_ledger(out)
    mid = led.latest_version() - 1  # the pre-restore head
    delta2 = _assert_window_identity(spark, out, mid)
    kinds = {r[0] for r in delta2.select(CHANGE_COL).distinct().collect()}
    assert kinds == {"delete"}


def test_vacuum_bounds_the_row_feed(spark, table):
    out = table["out"]
    led = make_ledger(out)
    head0 = led.latest_version()
    victims = [r.conv_id for r in read_committed(spark, out)
               .select("conv_id").distinct().limit(2).collect()]
    delete_conversations(spark, out, victims)
    assert vacuum(out, min_age_s=0) > 0
    with pytest.raises(FileNotFoundError, match="vacuum"):
        row_changes(spark, out, head0).count()


def test_random_interleaving_and_cursor_splits(spark, tmp_path):
    """Seeded action soup; the identity holds over every window between
    consecutive observation points AND composes across them (folding
    the per-window deltas reconstructs the head — the durable-cursor
    consumer's exact code path)."""
    rng = random.Random(4)
    p1 = str(tmp_path / "b1.parquet")
    fixtures.write_transcripts_parquet(p1, 500, seed=93, n_parts=3)
    out = str(tmp_path / "out")
    run_checkpointed(spark, p1, out)
    led = make_ledger(out)
    marks = [0, led.latest_version()]
    for step in range(6):
        op = rng.choice(["append", "delete", "compact", "restore"])
        if op == "append":
            pa = str(tmp_path / f"a{step}.parquet")
            fixtures.to_spark_parquet(fixtures.generate_transcripts(
                120, seed=200 + step, n_parts=3), pa)
            append_new_conversations(spark, pa, out)
        elif op == "delete":
            ids = [r.conv_id for r in read_committed(spark, out)
                   .select("conv_id").distinct().limit(2).collect()]
            if ids:
                delete_conversations(spark, out, ids)
        elif op == "compact":
            cm = led.committed()
            multi = [p for p, m in cm.items() if len(m["files"]) > 1]
            if multi:
                compact_partition(spark, out, rng.choice(multi))
        else:
            lo = marks[max(1, len(marks) - 3)]
            restore_table(out, version=rng.randint(lo, led.latest_version()))
        marks.append(led.latest_version())
    # every consecutive window satisfies the identity…
    for since, until in zip(marks, marks[1:]):
        if until > since:
            _assert_window_identity(spark, out, since, until)
    # …and folding the windows from zero reconstructs the head
    from curator_spark import schema as _schema
    state = spark.createDataFrame([], read_committed(spark, out).schema)
    for since, until in zip(marks, marks[1:]):
        if until > since:
            state = apply_row_changes(
                state, row_changes(spark, out, since, until))
    assert _multiset(state) == _multiset(read_committed(spark, out))


def test_consume_into_view_matches_recompute_every_poll(spark, table,
                                                        tmp_path):
    """Per-language (turns, kept) view maintained from the row feed ==
    GROUP BY recompute from the live table, at every poll, across
    appends, deletes, and a rollback; replayed windows are idempotent;
    empty windows carry the snapshot forward."""
    from pyspark.sql import functions as F
    out = table["out"]
    view = str(tmp_path / "view")
    keys, measures = ["lang"], {"n_turns": "1", "n_kept": "CAST(keep AS INT)"}

    def recompute():
        df = (read_committed(spark, out).groupBy("lang")
              .agg(F.count("*").cast("long").alias("n_turns"),
                   F.sum(F.col("keep").cast("long")).alias("n_kept")))
        return _multiset(df)

    def poll():
        return consume_into_view(spark, out, "viewer", view, keys, measures)

    r = poll()
    assert r["advanced"] and _multiset(read_view(spark, view)) == recompute()
    # idempotent replay: re-running the same window rewrites the same
    # snapshot (simulate the crash-before-cursor case by calling the
    # sink path again via a second consumer at the same position)
    r2 = poll()
    assert not r2["advanced"]
    # mutate: delete + append, poll again
    ids = [x.conv_id for x in read_committed(spark, out)
           .select("conv_id").distinct().limit(4).collect()]
    delete_conversations(spark, out, ids)
    pa = str(tmp_path / "extra.parquet")
    fixtures.to_spark_parquet(
        fixtures.generate_transcripts(150, seed=94, n_parts=4), pa)
    append_new_conversations(spark, pa, out)
    assert poll()["advanced"]
    assert _multiset(read_view(spark, view)) == recompute()
    # rollback to the very first version and poll: the view follows
    restore_table(out, version=table["v1"])
    assert poll()["advanced"]
    assert _multiset(read_view(spark, view)) == recompute()
    # compaction-only window: cursor advances with zero planned files,
    # snapshot carried forward
    led = make_ledger(out)
    part = max(led.committed(), key=lambda p: len(led.committed()[p]["files"]))
    assert part_file_counts(out)[part] >= 2  # compaction rewrites it
    compact_partition(spark, out, part)
    r3 = poll()
    assert r3["advanced"] and r3["planned_files"] == 0
    assert _multiset(read_view(spark, view)) == recompute()


def test_row_feed_requires_commitlog(spark, legacy_markers_table):
    with pytest.raises(ValueError, match="adopt_markers"):
        row_changes(spark, legacy_markers_table, 0)
    with pytest.raises(ValueError, match="adopt_markers"):
        consume_row_changes(spark, legacy_markers_table, "c",
                            lambda d, s, u: None)
