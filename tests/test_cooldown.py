"""Rate-limit cooldown (streaming/cooldown.py, SURVEY §2.a A20): a
throttled micro-batch sink pauses the stream with exponential backoff
and retries the SAME epoch; exactly-once survives a half-applied
throttled attempt because the epoch sink is idempotent by content."""

from __future__ import annotations

import pytest

from curator_spark import fixtures
from curator_spark.checkpoint import read_committed, run_checkpointed
from curator_spark.incremental import append_batch_df
from curator_spark.streaming.cooldown import (
    CooldownPolicy, RateLimitedError, default_is_transient, with_cooldown)


# ---------------------------------------------------------------- unit

def test_transient_failure_sleeps_with_backoff_then_succeeds():
    calls, sleeps = [], []
    pol = CooldownPolicy(seconds=2.0, backoff=3.0, max_sleep=10.0,
                         max_retries=5)

    def sink(df, epoch):
        calls.append(epoch)
        if len(calls) < 4:
            raise RateLimitedError("429 slow down")
        return "ok"

    wrapped = with_cooldown(sink, pol, sleep=sleeps.append)
    assert wrapped(None, 7) == "ok"
    assert calls == [7, 7, 7, 7]            # same epoch re-run in place
    assert sleeps == [2.0, 6.0, 10.0]       # 2, 2*3, capped at 10
    assert [p["attempt"] for p in pol.pauses] == [0, 1, 2]
    assert all(p["epoch"] == 7 for p in pol.pauses)


def test_non_transient_failure_propagates_immediately():
    sleeps = []

    def sink(df, epoch):
        raise ValueError("schema mismatch")  # a data bug, not throttling

    wrapped = with_cooldown(sink, CooldownPolicy(), sleep=sleeps.append)
    with pytest.raises(ValueError):
        wrapped(None, 0)
    assert sleeps == []                      # fail fast, no pause


def test_retry_budget_exhausted_reraises_last_error():
    pol = CooldownPolicy(seconds=0.1, max_retries=2)
    n = [0]

    def sink(df, epoch):
        n[0] += 1
        raise RateLimitedError("throttled")

    wrapped = with_cooldown(sink, pol, sleep=lambda s: None)
    with pytest.raises(RateLimitedError):
        wrapped(None, 3)
    assert n[0] == 3                         # initial + 2 retries
    assert len(pol.pauses) == 2


def test_default_transient_classifier():
    assert default_is_transient(RateLimitedError("x"))
    assert default_is_transient(RuntimeError("HTTP 429 Too Many Requests"))
    assert default_is_transient(OSError("503 Service Unavailable"))
    assert not default_is_transient(ValueError("bad schema"))


# ------------------------------------------- integration (exactly-once)

def test_throttled_half_applied_epoch_converges_to_clean_table(
        spark, tmp_path):
    """Attempt 0 appends only HALF the batch, then throws a rate-limit
    error mid-epoch; the cooldown retry re-runs the whole epoch. The
    committed table must equal one clean run — the half-applied rows
    are absorbed by content dedup, not duplicated."""
    base = fixtures.generate_transcripts(800, seed=31, n_parts=4)
    p1 = str(tmp_path / "base.parquet")
    fixtures.to_spark_parquet(base, p1)
    out = str(tmp_path / "out")
    run_checkpointed(spark, p1, out)

    delivery = fixtures.generate_transcripts(400, seed=32, n_parts=4)
    p2 = str(tmp_path / "delivery.parquet")
    fixtures.to_spark_parquet(delivery, p2)
    from curator_spark import schema as cs_schema
    ddf = spark.read.schema(cs_schema.TRANSCRIPTS_SCHEMA).parquet(p2)
    half_convs = sorted(delivery["conv_id"].unique())[:10]

    attempts = []
    pol = CooldownPolicy(seconds=1.0, max_retries=3)

    def sink(batch_df, epoch_id):
        attempts.append(epoch_id)
        run_id = f"cooldown-test-{epoch_id}-a{len(attempts)}"
        if len(attempts) == 1:
            # throttled mid-write: half the conversations land, then 429
            part = batch_df.filter(batch_df.conv_id.isin(half_convs))
            append_batch_df(batch_df.sparkSession, part, out,
                            run_id=run_id, input_desc="partial")
            raise RateLimitedError("429: store throttled the commit")
        return append_batch_df(batch_df.sparkSession, batch_df, out,
                               run_id=run_id, input_desc="retry")

    wrapped = with_cooldown(sink, pol, sleep=lambda s: None)
    summary = wrapped(ddf, 0)

    assert attempts == [0, 0] and len(pol.pauses) == 1
    # retry appended only what the throttled half-attempt hadn't landed
    assert summary["convs_dup_prior"] >= len(half_convs)
    table = read_committed(spark, out).toPandas()
    assert len(table) == len(base) + len(delivery)  # no duplicated rows
    n_convs = table["conv_id"].nunique()
    assert n_convs == base["conv_id"].nunique() + delivery["conv_id"].nunique()
