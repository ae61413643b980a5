"""Inputs and correctness gates for the workloads.

Every gate runs outside the timed windows. The curation gate compares
an order-free hash of the committed table with the hash of the pandas
oracle (`oracle.pipeline_pandas.run_oracle`) on the same generated
rows; oracle results are cached by seed, size and row digest, because
the oracle is single-threaded (about 8k turns/s).
"""

from __future__ import annotations

import json
import os

import pandas as pd

HASH_COLS = ["conv_id", "turn_idx", "keep", "scrubbed_text", "lang",
             "rule_flags"]


def write_fixture(path: str, n_turns: int, seed: int, n_parts: int
                  ) -> pd.DataFrame:
    """Exactly `n_turns` generated transcript rows, written as one
    parquet file per bucket directory (`part=K/`) so the runner lists
    its parts without a Spark job. Returns the rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from curator_spark import fixtures
    pdf = fixtures.generate_transcripts(n_turns, seed=seed, n_parts=n_parts)
    pdf = pdf.iloc[:n_turns].reset_index(drop=True)
    # explicit types: a part with no tool turns must not infer `tool`
    schema = pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()),
                        ("role", pa.string()), ("text", pa.string()),
                        ("tool", pa.string()), ("ts", pa.timestamp("us"))])
    for part, rows in pdf.groupby("part"):
        d = os.path.join(path, f"part={int(part)}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.Table.from_pandas(rows.drop(columns=["part"]),
                                            schema=schema,
                                            preserve_index=False),
                       os.path.join(d, "rows.parquet"))
    return pdf


def table_hash(pdf: pd.DataFrame) -> tuple[int, int]:
    """(rows, sum of per-row hashes mod 2**64) over HASH_COLS."""
    flags = pdf["rule_flags"].map(
        lambda v: "\x00" if v is None else "\x1f".join(v))
    canon = pd.DataFrame({
        "conv_id": pdf["conv_id"].astype(str),
        "turn_idx": pdf["turn_idx"].astype("int64"),
        "keep": pdf["keep"].astype(bool),
        "scrubbed_text": pdf["scrubbed_text"].fillna("\x00").astype(str),
        "lang": pdf["lang"].fillna("\x00").astype(str),
        "rule_flags": flags,
    })
    h = pd.util.hash_pandas_object(canon, index=False).to_numpy("uint64")
    return len(canon), int(h.sum(dtype="uint64"))


def committed_hash(out_dir: str) -> tuple[int, int]:
    """table_hash of a committed table, read from its snapshot files
    with pyarrow (no Spark job)."""
    import pyarrow.parquet as pq

    from curator_spark.checkpoint import snapshot_files
    frames = [pq.read_table(p, columns=HASH_COLS).to_pandas()
              for p in snapshot_files(out_dir)]
    if not frames:
        return 0, 0
    return table_hash(pd.concat(frames, ignore_index=True))


def oracle_facts(cache_dir: str, pdf: pd.DataFrame, seed: int) -> dict:
    """Oracle hash, keep count and per-conversation row counts (what
    the table and read gates compare), cached by seed, size and a
    digest of the rows."""
    rows = pdf.drop(columns=["part"])
    digest = int(pd.util.hash_pandas_object(rows, index=False)
                 .to_numpy("uint64").sum(dtype="uint64"))
    path = os.path.join(cache_dir,
                        f"oracle-{seed}-{len(pdf)}-{digest:016x}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    from curator_spark.oracle.pipeline_pandas import run_oracle
    out = run_oracle(rows)
    rows, h = table_hash(out)
    facts = {"rows": rows, "hash": str(h),
             "keep": int(out["keep"].sum()),
             "conv_rows": {str(k): int(v) for k, v in
                           out["conv_id"].value_counts().items()}}
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(facts, f)
    os.replace(tmp, path)
    return facts


def table_matches(out_dir: str, facts: dict) -> bool:
    rows, h = committed_hash(out_dir)
    return rows == facts["rows"] and str(h) == facts["hash"]


# -- query suite -----------------------------------------------------------

def frame_digest(pdf: pd.DataFrame) -> tuple[int, str]:
    """(rows, exact dtype-sensitive digest) of a query result, under the
    repository's query self-check canonicalization, so a DuckDB frame and
    a Spark frame of the same values digest alike."""
    from tools.selfcheck import canon, value_hash
    return len(pdf), value_hash(canon(pdf))
