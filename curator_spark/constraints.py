"""Table CHECK constraints (Delta's ALTER TABLE ADD CONSTRAINT):
declarative row invariants stored in the commit log and ENFORCED at
every write verb — a violating batch aborts before its commit ever
publishes, so readers can rely on the invariant holding for every
committed row.

Semantics are SQL CHECK: a constraint passes when its expression is
TRUE **or NULL** (unknown never fails a CHECK); it fails only on
FALSE. `add_constraint` first verifies the EXISTING table satisfies
the expression (one column-pruned scan) — so the invariant is total,
not forward-only — and ratchets the `check-constraints` WRITER
feature, making builds that would not enforce the invariant refuse to
write the table (reads stay open): Delta's exact feature-gating for
constraints.

Enforcement points (all validate STAGED parquet before the atomic
commit, so a violation costs an aborted job and some vacuum-able
orphans, never a bad table):
* `curator_table` batch + streaming writers (datasource.py);
* MERGE INTO (merge.py) — updated, deleted-leg survivors, and
  inserted files alike (the table is fully valid by induction, so
  re-validating rewritten survivors is sound and free of false
  alarms);
* predicate UPDATE/DELETE (dml.py).

Reference parity: the reference validates response rows against the
declared schema/format before shipping a dataset
(base_request_processor.py:398-426 require_all_responses and the
invalid-finish checks); CHECK constraints are that validation as a
durable, engine-enforced table property.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .checkpoint import make_ledger, read_committed

__all__ = ["ConstraintViolation", "add_constraint", "check_df",
           "check_files", "drop_constraint", "table_constraints"]


class ConstraintViolation(ValueError):
    """A write would commit rows failing a table CHECK constraint;
    nothing was committed (staged files are vacuum-able orphans)."""


def _failed(expr: str):
    # SQL CHECK: NULL passes, only FALSE fails
    return ~F.coalesce(F.expr(expr), F.lit(True))


def check_df(df: DataFrame, constraints: dict, where: str = "") -> None:
    """ONE aggregation pass over `df` counting violations per
    constraint; raises ConstraintViolation naming every violated
    constraint with its row count."""
    if not constraints:
        return
    names = sorted(constraints)
    row = df.agg(*[F.sum(F.when(_failed(constraints[n]), 1)
                         .otherwise(0)).alias(n) for n in names]) \
        .collect()[0]
    bad = {n: int(row[n] or 0) for n in names if int(row[n] or 0)}
    if bad:
        raise ConstraintViolation(
            f"CHECK constraint(s) violated{where}: " + ", ".join(
                f"{n!r} ({constraints[n]}) fails on {c} row(s)"
                for n, c in sorted(bad.items())))


def check_files(spark: SparkSession | None, paths: list,
                constraints: dict, where: str = "",
                mapping: dict | None = None) -> None:
    """Validate staged parquet files before their commit publishes.
    With a SparkSession: one Spark aggregation. Without one (the
    Python data source's commit() runs in a sessionless process):
    DuckDB evaluates the same expressions over the same files —
    constraint expressions are therefore required to be
    engine-portable ANSI boolean expressions, the repo's established
    oracle discipline.

    mapping: the table's logical→physical column map when column
    mapping is active — constraint expressions speak LOGICAL names,
    staged files hold PHYSICAL ones, so both engines evaluate through
    the renaming projection."""
    if not constraints or not paths:
        return
    renames = {p: l for l, p in (mapping or {}).items() if p != l}
    if spark is not None:
        df = spark.read.parquet(*paths)
        if renames:
            df = df.select([F.col(c).alias(renames.get(c, c))
                            for c in df.columns])
        check_df(df, constraints, where)
        return
    import duckdb
    con = duckdb.connect()
    src = "read_parquet($paths)"
    if renames:
        # explicit aliasing projection (DuckDB 1.0 has no RENAME star
        # modifier): physical column names come from the staged files
        # themselves — every staged file of one write shares a schema
        import pyarrow.parquet as pq
        phys_cols = pq.read_schema(paths[0]).names
        sel = ", ".join(f'"{c}" AS "{renames[c]}"' if c in renames
                        else f'"{c}"' for c in phys_cols)
        src = f"(SELECT {sel} FROM read_parquet($paths))"
    bad = {}
    for name in sorted(constraints):
        expr = constraints[name]
        n = con.execute(
            f"SELECT count(*) FROM {src} "
            f"WHERE NOT coalesce(({expr}), TRUE)",
            {"paths": list(paths)}).fetchone()[0]
        if n:
            bad[name] = int(n)
    if bad:
        raise ConstraintViolation(
            f"CHECK constraint(s) violated{where}: " + ", ".join(
                f"{n!r} ({constraints[n]}) fails on {c} row(s)"
                for n, c in sorted(bad.items())))


def table_constraints(out_dir: str) -> dict:
    ledger = make_ledger(out_dir)
    return dict(ledger.table_meta().get("constraints") or {})


def add_constraint(spark: SparkSession, out_dir: str, name: str,
                   expr: str) -> int:
    """ALTER TABLE ADD CONSTRAINT name CHECK (expr): verifies the
    existing table satisfies `expr` (raises ConstraintViolation
    otherwise — the invariant must be total), then commits the
    constraint into table_meta with the `check-constraints` writer
    feature ratchet in the same version. Returns that version."""
    from .checkpoint import _protocol_action

    ledger = make_ledger(out_dir)
    meta = ledger.table_meta()
    cons = dict(meta.get("constraints") or {})
    if name in cons:
        raise ValueError(f"constraint {name!r} already exists "
                         f"({cons[name]}); drop it first")
    # resolvability check against the declared schema (fail fast on a
    # typo'd column before scanning anything)
    read_committed(spark, out_dir).limit(0) \
        .filter(_failed(expr)).collect()
    check_df(read_committed(spark, out_dir), {name: expr},
             where=" by existing rows")
    cons[name] = str(expr)
    # writers that would not enforce must refuse the table
    return ledger.set_table_meta({"constraints": cons}, protocol=(
        _protocol_action(meta, writer_features=["check-constraints"])))


def drop_constraint(out_dir: str, name: str) -> int:
    """ALTER TABLE DROP CONSTRAINT: one table_meta commit (the
    `check-constraints` feature stays ratcheted — feature removal is
    not a thing, exactly as in Delta)."""
    ledger = make_ledger(out_dir)
    cons = dict(ledger.table_meta().get("constraints") or {})
    if name not in cons:
        raise ValueError(f"no constraint named {name!r}; have "
                         f"{sorted(cons)}")
    cons.pop(name)
    return ledger.set_table_meta({"constraints": cons})
