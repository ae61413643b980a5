"""curator_spark benchmark.

One run:
    python3 perfbench/run.py --workload bulk_curate --seed 1 --seconds 15 --trace 0

prints JSON lines on stdout; the last is the result
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. The line before
it is {"detail": ...}: the run's environment and the named figures of
its workload (perfbench/README.md lists them).

Steadiness and report mode (every workload, several seeds, spreads
against the bounds in BENCHMARK.json, then one traced run each):
    python3 perfbench/run.py --steady 10 [--workloads a,b] [--seed-base 1] [--traced]

Record the query suite's oracle digests (needs duckdb):
    python3 perfbench/run.py --record-queries

Run from the repository root. Everything the benchmark writes goes
under perfbench/_work/.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
DATA = os.path.join(HERE, "data", "sf0.01")

SETUP_TURNS = 1024  # rows of the first scored batch

END_TO_END = {"setup_s": "s", "op_cpu_s": "s"}

LAYERS = ["session", "api", "checkpoint", "pipeline", "scoring", "models",
          "rules", "queries", "spark"]


def per_layer_units() -> dict[str, str]:
    from workloads import PINNED
    units = {
        "scoring.turns_per_core_s": "turns/s",
        "models.langid_s": "s", "models.ngram_lm_s": "s",
        "rules.scrub_s": "s", "rules.heuristic_flags_s": "s",
        "rules.flags_to_list_s": "s", "rules.scrub_changed_frac": "ratio",
        "pipeline.score_turns_s": "s", "pipeline.python_bytes_sent": "B",
        "pipeline.python_exec_s": "s",
        "pipeline.conversation_aggregates_s": "s",
        "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
        "spark.gc_s": "s", "spark.shuffle_read_bytes": "B",
        "spark.shuffle_write_bytes": "B", "spark.input_bytes": "B",
        "spark.output_bytes": "B", "spark.spill_bytes": "B",
        "spark.jobs": "count", "spark.tasks": "count",
        "spark.failed_tasks": "count",
        "checkpoint.run_checkpointed_s": "s", "checkpoint.driver_gap_s": "s",
        "checkpoint.revalidate_s": "s", "checkpoint.log_versions": "count",
        "checkpoint.log_bytes": "B", "checkpoint.table_files": "count",
        "checkpoint.files_per_part": "files/part",
        "checkpoint.read_plan_s": "s", "checkpoint.read_exec_s": "s",
        "checkpoint.probe_files_kept_frac": "ratio",
        "checkpoint.table_changes_s": "s",
    }
    for q in PINNED:
        units[f"queries.{q}_s"] = "s"
        units[f"queries.{q}_shuffle_bytes"] = "B"
    units.update({"session.get_spark_s": "s", "session.first_job_s": "s"})
    units.update(DETAIL_UNITS)
    units.update({"trace.setup_s": "s", "trace.op_cpu_s": "s"})
    for layer in LAYERS:
        units[f"selftime.{layer}_s"] = "s"
    return units


# named end-to-end figures of each workload, reported in the detail line
# (and, from traced runs, among the per-layer metrics)
DETAIL_UNITS = {
    "workload.op_p50_s": "s",
    "workload.op_jit_s": "s",
    "workload.turns_per_s": "turns/s",
    "workload.invocation_p50_s": "s",
    "workload.memo_s": "s",
    "workload.resume_s": "s",
    "workload.read_p50_s": "s",
    "workload.read_tail_s": "s",
    "workload.read_tail_rank": "count",
    "workload.read_tail_n": "count",
    "workload.query_suite_s": "s",
    "workload.table_bytes_per_turn": "B/turn",
    "workload.failed_op_frac": "ratio",
}


def _prepare_process_env() -> str:
    """Make the program importable here and in Spark's Python workers,
    and keep every temporary file inside the checkout."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    tempfile.tempdir = tmp
    return tmp


def _cores(workload: str) -> int:
    """local[k] of the workload: its k (workloads.CORES), at most nproc."""
    from workloads import CORES
    return max(1, min(CORES[workload], len(os.sched_getaffinity(0))))


def _setup(seed: int, k: int, tracer, tmp: str):
    """get_spark plus the first scored batch, on all k cores so every
    Python worker spawns and builds its models. Returns the session and
    (total, get_spark, first job) seconds."""
    from curator_spark import fixtures, pipeline
    from curator_spark.session import get_spark
    texts = fixtures.generate_transcripts(SETUP_TURNS, seed=seed)[["text"]]
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench", parallelism=k, **{
            "spark.local.dir": tmp,
            # a fixed set of JIT compiler threads, so the compiler's CPU
            # can be told apart from the operations' (collector.tree_cpu_s)
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} "
                "-XX:-UseDynamicNumberOfCompilerThreads",
            "spark.ui.showConsoleProgress": "false"})
    t1 = time.perf_counter()
    with tracer.span("pipeline.score_turns"):
        df = spark.createDataFrame(texts).repartition(k)
        pipeline.score_turns(df).write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, (t2 - t0, t1 - t0, t2 - t1)


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=120)


def _env(seed: int, k: int) -> dict:
    import pandas
    import pyarrow
    import pyspark
    return {"nproc": len(os.sched_getaffinity(0)), "k": k,
            "seed": seed, "loadavg_start": os.getloadavg(),
            "python": platform.python_version(), "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "pandas": pandas.__version__}


def run_once(args) -> int:
    tmp = _prepare_process_env()
    try:
        import curator_spark
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(curator_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: curator_spark comes from {curator_spark.__file__}, "
              f"not from this checkout ({ROOT})", file=sys.stderr)
        return 2
    if not os.path.isdir(DATA):
        print(f"perfbench: missing benchmark data {DATA}", file=sys.stderr)
        return 2
    from spans import Tracer

    import workloads
    from collector import cpu_ticks
    k = _cores(args.workload)
    env = _env(args.seed, k)
    steal0, ticks0 = cpu_ticks()
    tracer = Tracer(bool(args.trace))
    spark, setup = _setup(args.seed, k, tracer, tmp)
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = workloads.Run(spark, tracer, work, os.path.join(WORK, "oracle"),
                        DATA, args.seed, args.seconds)
    try:
        workloads.WORKLOADS[args.workload](run)
    except Exception as e:  # noqa: BLE001 — reported as a failed run
        run.check(False, f"{args.workload}: {type(e).__name__}: {e}")
    finally:
        with run.phase("stop"):
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    run.phases["setup"] = setup[0]

    op_cpu = statistics.median(run.op_cpu) if run.op_cpu else None
    attempted = run.ops + run.raised + run.checks
    detail = {f"workload.{k}": v for k, v in run.detail.items()}
    if run.op_walls:
        detail["workload.op_p50_s"] = statistics.median(run.op_walls)
        detail["workload.op_jit_s"] = statistics.median(run.op_jit)
    detail["workload.failed_op_frac"] = run.failed / max(attempted, 1)
    env["loadavg_end"] = os.getloadavg()
    steal1, ticks1 = cpu_ticks()
    # share of the host's CPU time the hypervisor gave to other guests
    env["steal_share"] = (steal1 - steal0) / max(ticks1 - ticks0, 1)
    print(json.dumps({"detail": {
        "workload": args.workload, "trace": args.trace, "env": env,
        "op_walls_s": run.op_walls, "op_cpu_s": run.op_cpu,
        "op_jit_s": run.op_jit,
        "phases_s": run.phases,
        "metrics": detail, "errors": run.errors[:20]}}))

    if args.trace:
        units = per_layer_units()
        values = dict.fromkeys(units, 0.0)
        values.update(run.layer)
        values.update(detail)
        values["session.get_spark_s"] = setup[1]
        values["session.first_job_s"] = setup[2]
        values["trace.setup_s"] = setup[0]
        values["trace.op_cpu_s"] = op_cpu or 0.0
        for layer, s in tracer.self_times().items():
            if f"selftime.{layer}_s" in values:
                values[f"selftime.{layer}_s"] = s
        spans = os.path.join(WORK, "spans")
        os.makedirs(spans, exist_ok=True)
        tracer.write(os.path.join(
            spans, f"{args.workload}-{args.seed}-{os.getpid()}.jsonl"))
    else:
        units = END_TO_END
        values = {"setup_s": setup[0], "op_cpu_s": op_cpu}
    correct = run.failed == 0 and op_cpu is not None
    print(json.dumps({
        "correct": correct, "attempted": max(attempted, 1),
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": units[k]}
                    for k in units}}))
    return 0 if correct else 1


# -- steadiness / report mode ------------------------------------------------

def _one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace",
         str(trace)], capture_output=True, text=True, timeout=900, cwd=ROOT)
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines else {}
    detail = json.loads(lines[-2])["detail"] if len(lines) > 1 else {}
    return {"rc": p.returncode, "wall_s": time.monotonic() - t0,
            "result": res, "detail": detail,
            "stderr": p.stderr[-1500:] if p.returncode else ""}


def _spread(values: list[float]) -> tuple[float, float, float]:
    """(median, q1, q3) as statistics.quantiles(n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, q1, q3


def steady(args) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = args.workloads.split(",") if args.workloads else \
        [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]
    report: dict = {"workloads": {}}
    ok = True
    for w in names:
        runs = []
        for i in range(args.steady):
            r = _one(w, args.seed_base + i, seconds, 0)
            runs.append(r)
            m = r["result"].get("metrics", {})
            print(f"  {w} seed={args.seed_base + i} rc={r['rc']} "
                  f"wall={r['wall_s']:.1f}s "
                  + " ".join(f"{k}={v['value']}" for k, v in m.items()),
                  file=sys.stderr, flush=True)
            if r["rc"] != 0:
                ok = False
                print(r["stderr"], file=sys.stderr)
        good = [r for r in runs if r["rc"] == 0]
        summary: dict = {"runs": len(runs), "failed_runs": len(runs) - len(good),
                         "wall_s": [round(r["wall_s"], 1) for r in runs],
                         "end_to_end": {}, "detail": {},
                         "run_details": [r["detail"] for r in runs]}
        print(f"\n{w}: {len(good)}/{len(runs)} runs correct, "
              f"mean run wall {statistics.mean(summary['wall_s']):.1f} s")
        for name, spec in bounds.items():
            vals = [r["result"]["metrics"][name]["value"] for r in good]
            if len(vals) < 2:
                continue
            med, q1, q3 = _spread(vals)
            spread = (q3 - q1) / med
            summary["end_to_end"][name] = {
                "median": med, "q1": q1, "q3": q3, "spread": spread,
                "bound": spec["bound"], "unit": spec["unit"]}
            flag = "ok" if spread <= spec["bound"] / 3 else (
                "within bound" if spread <= spec["bound"] else "TOO WIDE")
            print(f"  {name:<12} {med:10.4f} {spec['unit']:<6} "
                  f"IQR [{q1:.4f}, {q3:.4f}] spread {spread:6.3f} "
                  f"bound {spec['bound']:.2f}  {flag}")
        keys = sorted({k for r in good for k in r["detail"].get("metrics", {})})
        for k in keys:
            vals = [r["detail"]["metrics"][k] for r in good
                    if k in r["detail"].get("metrics", {})]
            med = statistics.median(vals)
            summary["detail"][k] = med
            print(f"  {k:<34} {med:12.5g} {DETAIL_UNITS.get(k, '')}")
        if args.traced:
            t = _one(w, args.seed_base, seconds, 1)
            summary["traced"] = t["result"]
            tm = t["result"].get("metrics", {})
            if tm and good:
                over = {
                    "setup_s": tm["trace.setup_s"]["value"]
                    - summary["end_to_end"]["setup_s"]["median"],
                    "op_cpu_s": tm["trace.op_cpu_s"]["value"]
                    - summary["end_to_end"]["op_cpu_s"]["median"]}
                summary["tracing_overhead"] = over
                print(f"  traced run rc={t['rc']}; tracing overhead "
                      + ", ".join(f"{k} {v:+.4f} s" for k, v in over.items()))
                for k, v in tm.items():
                    if v["value"]:
                        print(f"    {k:<38} {v['value']:12.5g} {v['unit']}")
            ok = ok and t["rc"] == 0
        report["workloads"][w] = summary
    os.makedirs(WORK, exist_ok=True)
    path = os.path.join(WORK, f"steady-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    print(f"\nreport written to {path}")
    return 0 if ok else 1


def record_queries() -> int:
    """Row counts and digests of the pinned queries' DuckDB oracles over
    the benchmark's copy of the sf0.01 tables."""
    import duckdb
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry
    from checks import frame_digest
    from workloads import EXPECTED, PINNED
    con = duckdb.connect()
    for fn in sorted(os.listdir(DATA)):
        con.execute(f"CREATE VIEW {fn[:-8]} AS SELECT * FROM "
                    f"'{os.path.join(DATA, fn)}'")
    oracles = entry.oracle_sql()
    out = {}
    for q in PINNED:
        if q == "q00":
            continue  # checked against its committed golden directly
        name = next(n for n in oracles if n.startswith(q + "_"))
        out[q] = list(frame_digest(con.sql(oracles[name]).df()))
    with open(EXPECTED, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"recorded {len(out)} query digests in {EXPECTED}")
    return 0


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["bulk_curate", "sharded_commit"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--steady", type=int, metavar="N",
                    help="run every workload N times and report spreads")
    ap.add_argument("--workloads", help="comma list for --steady")
    ap.add_argument("--seed-base", type=int, default=1)
    ap.add_argument("--traced", action="store_true",
                    help="with --steady: add one traced run per workload")
    ap.add_argument("--record-queries", action="store_true")
    args = ap.parse_args(argv)
    if args.record_queries:
        return record_queries()
    if args.steady:
        return steady(args)
    if not args.workload:
        ap.error("--workload is required")
    return run_once(args)


if __name__ == "__main__":
    sys.exit(main())
