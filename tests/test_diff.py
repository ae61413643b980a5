"""Semantic table diff (curator_spark/diff.py): keyed add/remove/
update classification with changed-column attribution between two
commit versions."""

from __future__ import annotations

import pytest

from curator_spark import fixtures
from curator_spark.checkpoint import (delete_conversations, make_ledger,
                                      read_committed, run_checkpointed)
from curator_spark.diff import diff_summary, table_diff
from curator_spark.incremental import (append_new_conversations,
                                       upsert_conversations)


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    # every test here only reads the table: build it once per module
    tmp_path = tmp_path_factory.mktemp("diff")
    p1 = str(tmp_path / "b1.parquet")
    base = fixtures.write_transcripts_parquet(p1, 700, seed=71, n_parts=4)
    out = str(tmp_path / "out")
    run_checkpointed(spark, p1, out)
    led = make_ledger(out)
    v1 = led.latest_version()

    # version window applies all three change kinds:
    # 1) append fresh turns (adds)
    p2 = str(tmp_path / "b2.parquet")
    fresh = fixtures.generate_transcripts(200, seed=72, n_parts=4)
    fixtures.to_spark_parquet(fresh, p2)
    append_new_conversations(spark, p2, out)
    # 2) upsert: re-deliver 2 existing convs with edited text (updates)
    convs = sorted(base["conv_id"].unique())[:2]
    revised = base[base["conv_id"].isin(convs)].copy()
    revised["text"] = "REVISED " + revised["text"]
    p3 = str(tmp_path / "b3.parquet")
    fixtures.to_spark_parquet(revised, p3)
    upsert_conversations(spark, p3, out)
    # 3) delete one other conversation (removes)
    victim = sorted(base["conv_id"].unique())[5]
    delete_conversations(spark, out, [victim])

    return {"out": out, "v1": v1, "base": base, "revised_convs": convs,
            "victim": victim, "n_fresh": len(fresh),
            "n_revised_turns": len(revised)}


def test_diff_classifies_all_three_kinds(spark, table):
    d = table_diff(spark, table["out"], table["v1"]).toPandas()
    s = diff_summary(table_diff(spark, table["out"], table["v1"]))
    by = d.groupby("change")["conv_id"].count().to_dict()
    assert s["added"] == by.get("add", 0) == table["n_fresh"]
    assert s["removed"] == by.get("remove", 0) == len(
        table["base"][table["base"]["conv_id"] == table["victim"]])
    assert s["updated"] == by.get("update", 0) == table["n_revised_turns"]
    # update attribution: text changed on every revised turn, and the
    # DERIVED score columns changed with it (the table stores scored
    # output) — while key/identity columns did not
    assert s["updated_by_column"]["text"] == table["n_revised_turns"]
    assert s["updated_by_column"]["ppl"] == table["n_revised_turns"]
    for untouched in ("role", "ts", "part"):
        assert untouched not in s["updated_by_column"]
    ups = d[d["change"] == "update"]
    assert set(ups["conv_id"].unique()) == set(table["revised_convs"])
    assert all("text" in list(c) for c in ups["changed_cols"])
    # before/after images carry the actual values
    row = ups.iloc[0]
    assert row["after"]["text"].startswith("REVISED ")
    assert not row["before"]["text"].startswith("REVISED ")
    # adds have null before, removes null after
    assert d[d["change"] == "add"]["before"].isna().all()
    assert d[d["change"] == "remove"]["after"].isna().all()


def test_diff_of_identical_versions_is_empty(spark, table):
    led = make_ledger(table["out"])
    head = led.latest_version()
    assert table_diff(spark, table["out"], head, head).count() == 0


def test_diff_consistent_with_snapshots(spark, table):
    """Applying the diff's semantics to the before snapshot yields the
    after snapshot: (before ∖ removed-or-updated-keys) ⊎ after-images."""
    out, v1 = table["out"], table["v1"]
    d = table_diff(spark, out, v1)
    before = read_committed(spark, out, version=v1).toPandas()
    after = read_committed(spark, out).toPandas()
    dp = d.toPandas()
    gone = {(r["conv_id"], r["turn_idx"])
            for _, r in dp[dp["change"].isin(["remove", "update"])].iterrows()}
    kept = before[~before.apply(
        lambda r: (r["conv_id"], r["turn_idx"]) in gone, axis=1)]
    n_new = (dp["change"] != "remove").sum()
    assert len(kept) + n_new == len(after)


def test_duplicate_key_refused(spark, table):
    with pytest.raises(ValueError, match="not unique"):
        table_diff(spark, table["out"], table["v1"],
                   key_cols=("role",))  # wildly non-unique


def test_cli_diff_verb(spark, table, capsys):
    import json

    from curator_spark.cli import main
    assert main(["--output", table["out"],
                 "--diff", str(table["v1"])]) == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["from"] == table["v1"]
    assert s["added"] == table["n_fresh"]
    assert s["updated"] == table["n_revised_turns"]
    assert s["updated_by_column"]["text"] == table["n_revised_turns"]


def test_drift_report_shares_and_deltas(spark, table):
    """Per-source drift between v1 and head equals a pandas recompute
    from the two snapshots, permille-exact; sources only in one side
    surface with zero counts on the other."""
    from curator_spark.diff import drift_report
    out, v1 = table["out"], table["v1"]
    d = drift_report(spark, out, v1, dims=("role",)).toPandas() \
        .set_index("role").sort_index()
    before = read_committed(spark, out, version=v1).toPandas()
    after = read_committed(spark, out).toPandas()
    nb = before.groupby("role")["conv_id"].count()
    na = after.groupby("role")["conv_id"].count()
    for role, row in d.iterrows():
        b = int(nb.get(role, 0)); a = int(na.get(role, 0))
        assert row["n_before"] == b and row["n_after"] == a
        assert row["delta"] == a - b
        assert row["share_before_pm"] == b * 1000 // max(1, len(before))
        assert row["share_after_pm"] == a * 1000 // max(1, len(after))
    assert set(d.index) == set(nb.index) | set(na.index)


def test_cli_drift_verb(spark, table, capsys):
    import json

    from curator_spark.cli import main
    assert main(["--output", table["out"], "--drift", str(table["v1"]),
                 "--drift-dims", "role"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["dims"] == ["role"]
    assert sum(c["n_after"] - c["n_before"] for c in out["cells"]) \
        == sum(c["delta"] for c in out["cells"])
    assert any(c["delta"] != 0 for c in out["cells"])
