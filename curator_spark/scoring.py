"""Turn-level scoring: one Arrow-batch function shared verbatim by the
Spark Arrow UDF (`pipeline.score_turns`) and the pandas oracle.

This is the analogue of the reference's per-row payload execution
(reference: src/bespokelabs/curator/request_processor/online/
base_online_request_processor.py call_single_request), re-expressed as
a vectorized Arrow-batch transform: models are loaded once per Python
worker process (executor-singleton via lru_cache) and score whole
batches — zero per-row Spark UDF calls. The text column arrives as a
`pa.Array` and the scores leave as one `pa.StructArray`; the rules run
on `pyarrow.compute` (see rules.py), and only langid and the n-gram LM
read the batch as Python strings.

Conversation-level logic deliberately does NOT live here: the oracle
computes it with pandas groupby, the Spark pipeline with salted
two-phase groupBy — independent implementations checked against each
other by the tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

from . import rules
from .models import langid, ngram_lm

# Output columns appended to each turn by score_turn_batch, with dtypes.
SCORE_COLUMNS = [
    ("lang", "object"),
    ("lang_conf", "float64"),
    ("ppl", "float64"),
    ("scrubbed_text", "object"),
    ("rule_flags", "object"),   # list[str]
    ("turn_pass", "bool"),
    ("n_tokens", "int64"),      # whitespace token count (metrics + rules)
]
# The same columns as the Arrow type score_text_array returns.
SCORE_TYPE = pa.struct([
    ("lang", pa.string()),
    ("lang_conf", pa.float64()),
    ("ppl", pa.float64()),
    ("scrubbed_text", pa.string()),
    ("rule_flags", pa.list_(pa.string())),
    ("turn_pass", pa.bool_()),
    ("n_tokens", pa.int64()),
])


def score_text_array(text) -> pa.StructArray:
    """Score a batch of turn texts → StructArray with SCORE_COLUMNS.

    Pure function of the `text` column only — no cross-row state — so
    results are invariant to Spark partitioning/batching (SURVEY.md §7).
    This exact function runs as the Spark Arrow UDF (only the text
    column crosses the Arrow boundary; every other column stays
    JVM-side) AND inside the pandas oracle.
    """
    s = rules.text_array(text)
    texts = pd.Series(s.to_pylist(), dtype="object")
    lang, lang_conf = langid.get_model().classify_series(texts)
    ppl = ngram_lm.get_model().perplexity_series(texts)
    lang, ppl = lang.to_numpy(), ppl.to_numpy()
    scrubbed, scrub_flags = rules.scrub_array(s)
    heur, n_tokens = rules.heuristic_matrix(s, lang, ppl)
    return pa.StructArray.from_arrays([
        pa.array(lang, type=pa.string()),
        pa.array(lang_conf.to_numpy(), type=pa.float64()),
        pa.array(ppl, type=pa.float64()),
        scrubbed,
        rules.flag_lists(np.hstack([heur, scrub_flags])),
        pa.array(~heur.any(axis=1)),
        pa.array(n_tokens, type=pa.int64()),
    ], fields=list(SCORE_TYPE))


def score_text_series(text: pd.Series) -> pd.DataFrame:
    """pandas adapter over score_text_array → DataFrame with
    SCORE_COLUMNS on `text`'s index (rule_flags as Python lists)."""
    scores = score_text_array(text)
    return pd.DataFrame({
        col: (scores.field(col).to_pylist() if col == "rule_flags"
              else scores.field(col).to_numpy(zero_copy_only=False))
        for col, _ in SCORE_COLUMNS}, index=text.index)


def score_turn_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Append per-turn score columns to a batch of transcript rows
    (the pandas-oracle / whole-row entrypoint)."""
    out = pdf.copy()
    scores = score_text_series(pdf["text"])
    for col, _ in SCORE_COLUMNS:
        out[col] = scores[col]
    return out
