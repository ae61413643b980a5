"""The benchmark's workloads. Each is a closed loop with one client: the
next operation starts when the previous one returns.

A workload gets a `Run` (live session, tracer, scratch directory, seed,
measuring window) and fills in `run.op_walls` (the end-to-end sample),
`run.detail` (named end-to-end figures for the report) and, when
traced, `run.layer` (per-layer metrics). Correctness gates run after
the measured window. `run.ops` and `run.raised` count the operations
that returned and raised, `run.checks` the checks made on outputs, and
`run.failed` the raised operations plus the failed checks.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import statistics
import time

from checks import oracle_facts, table_matches, write_fixture
from collector import StatusCollector, tree_cpu_s, uncovered

BULK_TURNS, BULK_PARTS = 6_000, 8
BULK_WARMUPS = 2  # durable runs before the window
SHARD_TURNS, SHARD_PARTS, MEMO_REPS = 9_000, 18, 5
SHARD_WARMUPS = 5  # one-part invocations before the window
MIN_OPS = 2  # a measured window holds at least this many operations
PAYLOAD_SAMPLE = 5_000  # turns timed in-process for the payload layers
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "query_expect.json")  # see run.py --record-queries
PINNED = ["q00", "q01", "q03", "q05", "q09", "q11", "q17", "q19", "q21",
          "q84", "q113"]


class Run:
    def __init__(self, spark, tracer, work: str, oracle_dir: str,
                 data_dir: str, seed: int, seconds: float) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.oracle_dir = oracle_dir
        self.data_dir = data_dir
        self.seed = seed
        self.seconds = seconds
        self.ops = 0
        self.raised = 0
        self.checks = 0
        self.failed = 0
        self.errors: list[str] = []
        self.op_walls: list[float] = []
        # CPU seconds of each operation outside the JIT compiler
        # threads, and inside them
        self.op_cpu: list[float] = []
        self.op_jit: list[float] = []
        self.op_windows: list[tuple[float, float]] = []
        self.detail: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.phases: dict[str, float] = {}  # wall time of each run phase
        self.collector = StatusCollector(spark) if tracer.enabled else None

    def check(self, ok: bool, what: str) -> None:
        self.checks += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def _raised(self, tag: str, e: Exception) -> None:
        self.raised += 1
        self.failed += 1
        self.errors.append(f"{tag}: {type(e).__name__}: {e}")

    @contextlib.contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = (self.phases.get(name, 0.0)
                                 + time.perf_counter() - t0)

    def once(self, tag: str, op):
        """One operation outside the measured window; a raise counts
        as a failed operation. Returns its wall time or None."""
        self.tracer.run = tag
        t0 = time.perf_counter()
        try:
            op()
        except Exception as e:  # noqa: BLE001 — counted and reported
            self._raised(tag, e)
            return None
        finally:
            self.phases[tag] = time.perf_counter() - t0
        self.ops += 1
        return self.phases[tag]

    def loop(self, op, max_ops: int | None = None,
             min_ops: int = MIN_OPS) -> None:
        """Closed loop over op(i) for `seconds`, and for at least
        `min_ops` operations; an operation started inside the window
        runs to completion. Stops at the first raise, which counts as a
        failed operation."""
        deadline = time.perf_counter() + self.seconds
        i = 0
        while ((time.perf_counter() < deadline or i < min_ops)
               and (max_ops is None or i < max_ops)):
            self.tracer.run = f"op{i}"
            c0, j0 = tree_cpu_s()
            w0, t0 = time.time(), time.perf_counter()
            try:
                op(i)
            except Exception as e:  # noqa: BLE001 — counted and reported
                self._raised(f"op{i}", e)
                return
            self.ops += 1
            self.op_walls.append(time.perf_counter() - t0)
            c1, j1 = tree_cpu_s()
            self.op_cpu.append((c1 - c0) - (j1 - j0))
            self.op_jit.append(j1 - j0)
            self.op_windows.append((w0, time.time()))
            i += 1

    def mark(self):
        return self.collector.mark() if self.collector else None

    def spark_layers(self, mark) -> None:
        """Status-store deltas since `mark` and the median part of an
        operation's wall time (one run_checkpointed call) that no Spark
        job covered."""
        if mark is None:
            return
        d = self.collector.delta(mark)
        for k in ("executor_run_s", "executor_cpu_s", "gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes",
                  "input_bytes", "output_bytes", "spill_bytes", "jobs",
                  "tasks", "failed_tasks"):
            self.layer[f"spark.{k}"] = d[k]
        self.layer["pipeline.python_bytes_sent"] = d["python_bytes_sent"]
        self.layer["pipeline.python_exec_s"] = d["python_exec_s"]
        jobs = self.collector.job_intervals(mark)
        if self.op_windows:
            self.layer["checkpoint.driver_gap_s"] = statistics.median(
                uncovered(w, jobs) for w in self.op_windows)


def _tail(samples: list[float]):
    """The highest percentile with at least ten samples beyond it:
    (value, rank, n), or None below 11 samples."""
    xs = sorted(samples)
    if len(xs) < 11:
        return None
    return xs[len(xs) - 11], len(xs) - 10, len(xs)


def _table_shape(out_dir: str) -> dict:
    from curator_spark.checkpoint import snapshot_files
    files = snapshot_files(out_dir)
    log_dir = os.path.join(out_dir, "_commitlog")
    log = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    parts = {os.path.basename(os.path.dirname(p)) for p in files}
    return {"data_bytes": sum(os.path.getsize(p) for p in files),
            "log_bytes": sum(os.path.getsize(p) for p in log),
            "log_versions": sum(1 for p in log
                                if os.path.basename(p).startswith("v")),
            "files": len(files), "parts": len(parts)}


def _ledger_layers(run: Run, out_dir: str, n_turns: int) -> None:
    shape = _table_shape(out_dir)
    run.detail["table_bytes_per_turn"] = (
        (shape["data_bytes"] + shape["log_bytes"]) / n_turns)
    if not run.tracer.enabled:
        return
    from curator_spark.checkpoint import make_ledger, revalidate_committed
    ledger = make_ledger(out_dir, "commitlog")
    t0 = time.perf_counter()
    with run.tracer.span("checkpoint.revalidate_committed"):
        _valid, invalid = revalidate_committed(out_dir, ledger)
    run.layer["checkpoint.revalidate_s"] = time.perf_counter() - t0
    run.check(not invalid, f"revalidation dropped parts {sorted(invalid)}")
    run.layer["checkpoint.log_versions"] = shape["log_versions"]
    run.layer["checkpoint.log_bytes"] = shape["log_bytes"]
    run.layer["checkpoint.table_files"] = shape["files"]
    run.layer["checkpoint.files_per_part"] = shape["files"] / max(
        shape["parts"], 1)


def _payload_layers(run: Run, texts) -> None:
    """Time each payload step in-process, on one core, on a fixed
    sample of the workload's texts."""
    import pandas as pd

    from curator_spark import rules, scoring
    from curator_spark.models import langid, ngram_lm
    text = pd.Series(list(texts[:PAYLOAD_SAMPLE]), dtype="object")
    lang_model, lm = langid.get_model(), ngram_lm.get_model()
    steps = {}

    def timed(name, fn):
        t0 = time.perf_counter()
        with run.tracer.span(name):
            out = fn()
        steps[name] = time.perf_counter() - t0
        return out

    lang, _conf = timed("models.langid", lambda: lang_model.classify_series(text))
    ppl = timed("models.ngram_lm", lambda: lm.perplexity_series(text))
    scrubbed, scrub_flags = timed("rules.scrub", lambda: rules.scrub_series(text))
    heur = timed("rules.heuristic_flags",
                 lambda: rules.heuristic_flags(text, lang, ppl))
    timed("rules.flags_to_list", lambda: rules.flags_to_list(heur, scrub_flags))
    timed("scoring.score_text_series", lambda: scoring.score_text_series(text))
    run.layer.update({
        "models.langid_s": steps["models.langid"],
        "models.ngram_lm_s": steps["models.ngram_lm"],
        "rules.scrub_s": steps["rules.scrub"],
        "rules.heuristic_flags_s": steps["rules.heuristic_flags"],
        "rules.flags_to_list_s": steps["rules.flags_to_list"],
        "rules.scrub_changed_frac": float((scrubbed != text).mean()),
        "scoring.turns_per_core_s":
            len(text) / steps["scoring.score_text_series"],
    })


def _pipeline_layers(run: Run, input_path: str) -> None:
    """score_turns and conversation_aggregates, each into a noop sink."""
    from curator_spark import pipeline, schema
    spark = run.spark
    transcripts = spark.read.schema(schema.TRANSCRIPTS_SCHEMA).parquet(
        input_path)
    t0 = time.perf_counter()
    with run.tracer.span("pipeline.score_turns"):
        (pipeline.score_turns(transcripts).write.format("noop")
         .mode("overwrite").save())
    run.layer["pipeline.score_turns_s"] = time.perf_counter() - t0
    scored_path = os.path.join(run.work, "scored")
    pipeline.score_turns(transcripts).write.parquet(scored_path)
    scored = spark.read.parquet(scored_path)
    t0 = time.perf_counter()
    with run.tracer.span("pipeline.conversation_aggregates"):
        (pipeline.conversation_aggregates(scored).write.format("noop")
         .mode("overwrite").save())
    run.layer["pipeline.conversation_aggregates_s"] = (
        time.perf_counter() - t0)


# -- bulk_curate -------------------------------------------------------------

def bulk_curate(run: Run) -> None:
    """One durable run over a fresh natural-mix fixture per operation."""
    from curator_spark.api import QualityFilter
    inp = os.path.join(run.work, "input")
    with run.phase("inputs"):
        pdf = write_fixture(inp, BULK_TURNS, run.seed, BULK_PARTS)
    with run.phase("oracle"):
        facts = oracle_facts(run.oracle_dir, pdf, run.seed)
    outs: list[str] = []

    def op(tag):
        qf = QualityFilter(cache_dir=os.path.join(run.work, f"run-{tag}"),
                           ledger_backend="commitlog")
        with run.tracer.span("api.QualityFilter"):
            qf(input_path=inp, spark=run.spark)
        outs.append(os.path.join(qf.cache_dir, qf.last_run["run_id"]))

    for i in range(BULK_WARMUPS):  # JIT and codegen caches
        run.once(f"warmup{i}", lambda: op(f"warmup{i}"))
    mark = run.mark()
    with run.phase("window"):
        run.loop(op)
    run.spark_layers(mark)
    with run.phase("checks"):
        for out in outs:
            run.check(table_matches(out, facts),
                      f"bulk_curate: {out} differs from the oracle")
    if not run.op_walls:
        return
    p50 = statistics.median(run.op_walls)
    run.detail["turns_per_s"] = BULK_TURNS / p50
    run.layer["checkpoint.run_checkpointed_s"] = p50
    _ledger_layers(run, outs[-1], BULK_TURNS)
    if run.tracer.enabled:
        _payload_layers(run, pdf["text"])
        _pipeline_layers(run, inp)
        _query_layers(run)


# -- sharded_commit ----------------------------------------------------------

def sharded_commit(run: Run) -> None:
    """Successive one-part `only_parts` invocations, a resume that
    commits the rest, then memoized reruns. Traced runs then read the
    table back (see _read_layers)."""
    from curator_spark.checkpoint import run_checkpointed, table_history
    inp = os.path.join(run.work, "input")
    out = os.path.join(run.work, "table")
    with run.phase("inputs"):
        pdf = write_fixture(inp, SHARD_TURNS, run.seed, SHARD_PARTS)
    with run.phase("oracle"):
        facts = oracle_facts(run.oracle_dir, pdf, run.seed)
    parts = sorted(int(p) for p in pdf["part"].unique())
    bucket = {"col": "conv_id", "n_parts": SHARD_PARTS, "fn": "md5full"}
    summaries: list[dict] = []

    def invoke(only):
        with run.tracer.span("checkpoint.run_checkpointed"):
            summaries.append(run_checkpointed(
                run.spark, inp, out, only_parts=only,
                ledger_backend="commitlog", bucket=bucket))

    for p in parts[:SHARD_WARMUPS]:
        run.once(f"warmup{p}", lambda: invoke([p]))
    mark = run.mark()
    with run.phase("window"):
        run.loop(lambda i: invoke([parts[SHARD_WARMUPS + i]]),
                 max_ops=len(parts) - SHARD_WARMUPS - 1)
    run.spark_layers(mark)
    sharded = parts[: len(summaries)]
    run.check(all(s["parts_committed"] == 1 for s in summaries),
              "sharded_commit: an invocation did not commit its one part")
    v_sharded = table_history(out)[-1]["version"]
    resume_s = run.once("resume", lambda: invoke(None))
    if resume_s is not None:
        run.check(summaries[-1]["parts_committed"]
                  == len(parts) - len(sharded),
                  "sharded_commit: the resume left parts uncommitted")
        run.detail["resume_s"] = resume_s
    memo = []
    for i in range(MEMO_REPS):
        w = run.once(f"memo{i}", lambda: invoke(None))
        if w is None:
            break
        memo.append(w)
        run.check(summaries[-1]["memoized"],
                  "sharded_commit: a rerun of a finished run recomputed")
    run.check(table_matches(out, facts),
              "sharded_commit: table differs from the oracle")
    if not run.op_walls:
        return
    timed_parts = parts[SHARD_WARMUPS: SHARD_WARMUPS + len(run.op_walls)]
    run.detail["invocation_p50_s"] = statistics.median(run.op_walls)
    run.detail["turns_per_s"] = (int(pdf["part"].isin(timed_parts).sum())
                                 / sum(run.op_walls))
    run.layer["checkpoint.run_checkpointed_s"] = statistics.median(
        run.op_walls)
    if memo:
        run.detail["memo_s"] = statistics.median(memo)
    _ledger_layers(run, out, SHARD_TURNS)
    if run.tracer.enabled:
        rows_sharded = int(pdf["part"].isin(sharded).sum())
        _read_layers(run, out, facts, v_sharded, rows_sharded)


def _read_layers(run: Run, out: str, facts: dict, v_mid: int,
                 rows_mid: int) -> None:
    """A seeded mix of reads against a committed table: conv_id point
    probes, keep counts, AS OF reads at version `v_mid` (which holds
    `rows_mid` rows) and the change window after it. Each read's row
    count must equal the oracle's."""
    from curator_spark.checkpoint import (read_committed, snapshot_files,
                                          table_changes, table_history)
    v_head = table_history(out)[-1]["version"]
    convs = sorted(facts["conv_rows"])
    rng = random.Random(f"reads-{run.seed}")
    kinds = ["probe"] * 24 + ["keep"] * 4 + ["asof"] * 4 + ["changes"] * 4
    rng.shuffle(kinds)
    walls: list[float] = []
    plan_s: list[float] = []
    exec_s: list[float] = []
    changes_s: list[float] = []
    for i, kind in enumerate(kinds):
        run.tracer.run = f"read{i}"
        t0 = time.perf_counter()
        if kind == "changes":
            with run.tracer.span("checkpoint.table_changes"):
                got = table_changes(out, v_mid, v_head)["rows_inserted"]
            want = facts["rows"] - rows_mid
            changes_s.append(time.perf_counter() - t0)
        else:
            with run.tracer.span("checkpoint.read_committed"):
                if kind == "probe":
                    cid = rng.choice(convs)
                    df = read_committed(run.spark, out,
                                        where=("conv_id", "=", cid))
                    want = facts["conv_rows"][cid]
                elif kind == "keep":
                    df = read_committed(run.spark, out).filter("keep")
                    want = facts["keep"]
                else:
                    df = read_committed(run.spark, out, version=v_mid)
                    want = rows_mid
            t1 = time.perf_counter()
            with run.tracer.span("spark.count"):
                got = df.count()
            plan_s.append(t1 - t0)
            exec_s.append(time.perf_counter() - t1)
        walls.append(time.perf_counter() - t0)
        run.check(got == want, f"read {kind}: {got} rows, oracle {want}")
    run.detail["read_p50_s"] = statistics.median(walls)
    (run.detail["read_tail_s"], run.detail["read_tail_rank"],
     run.detail["read_tail_n"]) = _tail(walls)
    run.layer["checkpoint.read_plan_s"] = statistics.median(plan_s)
    run.layer["checkpoint.read_exec_s"] = statistics.median(exec_s)
    run.layer["checkpoint.table_changes_s"] = statistics.median(changes_s)
    n_all = len(snapshot_files(out))
    kept = [len(snapshot_files(out, where=("conv_id", "=", c)))
            for c in convs[:: max(1, len(convs) // 20)]]
    run.layer["checkpoint.probe_files_kept_frac"] = (
        statistics.mean(kept) / n_all)


# -- the query pass (traced bulk_curate runs) -----------------------------

def _query_layers(run: Run) -> None:
    """One pass over the pinned headline queries, in a seed-chosen
    order, in the run's session after its curation work. Each result
    must match its oracle."""
    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    from checks import frame_digest
    with open(EXPECTED) as f:
        expected = {q: tuple(v) for q, v in json.load(f).items()}
    expected["q00"] = frame_digest(pq.read_table(os.path.join(
        entry.GOLDEN_DIR, "q00_sf0.01.parquet")).to_pandas())
    registry = entry.queries()
    names = {q: next(n for n in registry if n.startswith(q + "_"))
             for q in PINNED}
    order = list(PINNED)
    random.Random(f"queries-{run.seed}").shuffle(order)
    sc = run.spark.sparkContext
    mark = run.mark()
    run.tracer.run = "queries"
    got: dict = {}
    t_pass = time.perf_counter()
    for q in order:
        sc.setJobGroup(f"queries.{q}", q)  # attributes each query's stages
        t0 = time.perf_counter()
        try:
            with run.tracer.span(f"queries.{q}"):
                got[q] = registry[names[q]](run.spark, run.data_dir).toPandas()
        except Exception as e:  # noqa: BLE001 — counted and reported
            run._raised(f"queries.{q}", e)
            continue
        run.ops += 1
        run.layer[f"queries.{q}_s"] = time.perf_counter() - t0
    run.detail["query_suite_s"] = time.perf_counter() - t_pass
    sc.setLocalProperty("spark.jobGroup.id", None)
    for group, b in run.collector.shuffle_write_by_job_group(mark).items():
        run.layer[f"{group}_shuffle_bytes"] = b
    for q, pdf in got.items():
        run.check(frame_digest(pdf) == expected[q],
                  f"queries: {q} differs from its oracle")


WORKLOADS = {
    "bulk_curate": bulk_curate,
    "sharded_commit": sharded_commit,
}

# local[k] of each workload, with k capped at nproc. Each leaves at
# least one core of a 4-core host to the driver process, the JIT
# compiler and the garbage collector, so the run measures the program
# rather than the scheduler. A one-part invocation is mostly fixed cost
# (scheduling, planning, commit) and runs faster at local[2] than at
# local[4]; a bulk run spreads its per-task costs over its k threads.
CORES = {"bulk_curate": 3, "sharded_commit": 2}
