"""curator_spark — a PySpark-native rebuild of curator-style data curation.

A brand-new quality-filter engine over conversation-transcript tables:
language ID, n-gram perplexity, Gopher/C4 heuristic rules, and
compiled-regex PII/toxicity scrubbing, executed as vectorized
pandas/Arrow UDFs on Spark DataFrames, with per-partition checkpointing,
lineage, and counter metrics.

Capability parity target: alchemz/curator (bespokelabs-curator 0.1.16);
see SURVEY.md for the operator-by-operator mapping. This is a
Spark-first re-expression, not a port: the reference's per-row asyncio
dataflow (reference: src/bespokelabs/curator/request_processor/online/
base_online_request_processor.py:237-370) becomes a declarative
DataFrame plan whose physical strategy Catalyst picks.
"""

__version__ = "0.1.0"

# first, so a Python worker's later tasks skip the zip-directory re-read
from . import worker_hook as _worker_hook               # noqa: E402

_worker_hook.install()

# Public API — the stable user-facing surface. Deeper internals
# (pipeline stages, checkpoint internals, query batteries) are
# importable from their modules but may change shape between versions.
from .alter import (                                    # noqa: E402,F401
    add_column, drop_column, rename_column,
)
from .api import QualityFilter                          # noqa: E402,F401
from .checkpoint import (                               # noqa: E402,F401
    build_bloom_index,
    cancel_run, compact_partition, delete_conversations, read_changes,
    read_committed, restore_table, run_checkpointed, snapshot_files,
    table_changes, table_column_minmax, table_history, table_row_count,
    vacuum,
)
from .dml import (                                      # noqa: E402,F401
    delete_where, insert_overwrite_where, update_where,
)
from .feed import (                                     # noqa: E402,F401
    consume_changes, consumer_position,
)
from .incremental import (                              # noqa: E402,F401
    append_new_conversations, upsert_conversations,
)
from .ingest import (                                   # noqa: E402,F401
    coerce_to_transcripts, docs_to_transcripts,
    read_jsonl, read_transcripts_jsonl, write_transcripts_jsonl,
)
from .status import format_run_status, run_status       # noqa: E402,F401

__all__ = [
    "QualityFilter", "rename_column", "drop_column", "add_column",
    "run_checkpointed", "read_committed", "vacuum",
    "compact_partition", "cancel_run", "append_new_conversations",
    "snapshot_files", "table_history", "table_row_count",
    "table_column_minmax",
    "delete_conversations", "upsert_conversations", "restore_table",
    "delete_where", "update_where", "insert_overwrite_where",
    "build_bloom_index",
    "read_changes", "table_changes", "consume_changes",
    "consumer_position",
    "coerce_to_transcripts", "docs_to_transcripts",
    "read_jsonl", "read_transcripts_jsonl", "write_transcripts_jsonl",
    "run_status", "format_run_status",
]
