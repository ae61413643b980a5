"""Shared curation rules: PII/toxicity scrub patterns and Gopher/C4-style
heuristic quality rules.

One module imported by BOTH the Spark pandas-UDF path and the pandas
oracle, so the two sides cannot drift except through execution semantics
(SURVEY.md §5). All scrubbing is Python `re` via pandas `.str` ops on
both sides — never JVM `regexp_replace` — to guarantee byte-for-byte
scrubbed-text equality (SURVEY.md §7 "Hard parts").

Patterns deliberately avoid lookaround/backrefs so they are also valid
RE2, letting the DuckDB correctness oracle replicate a subset of them
in SQL (__spark_entry__.oracle_sql).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from .models.corpus import EN_STOPWORDS

# --------------------------------------------------------------------------
# PII / toxicity scrub patterns. Applied in this exact order on both sides.
# Analogue of the reference's per-row validation/transform payload
# (reference: examples/.../combine_data.py:132-185 format validators).
# --------------------------------------------------------------------------

# Fake slur lexicon — placeholder tokens embedded by the fixture generator.
SLUR_LEXICON = ("frakkit", "glorbax", "smeghead", "zarking")

SCRUB_PATTERNS: list[tuple[str, str, str]] = [
    # (flag_name, regex, replacement)
    ("pii_email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("pii_ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("pii_cc", r"\b[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}\b", "<CC>"),
    ("pii_phone", r"\b\+?1?[-. ]?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}\b", "<PHONE>"),
    ("pii_apikey", r"\b(?:sk-[A-Za-z0-9]{16,}|AKIA[0-9A-Z]{16})\b", "<APIKEY>"),
    ("pii_ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    # (?i: ) scoped flag so the pattern stays embeddable in _ANY_SCRUB
    ("tox_slur", r"\b(?i:" + "|".join(SLUR_LEXICON) + r")\b", "<SLUR>"),
]

_COMPILED = [(name, re.compile(pat), repl) for name, pat, repl in SCRUB_PATTERNS]
# one alternation over all patterns: rows that don't match it need no
# per-pattern work at all (the common case in a clean corpus)
_ANY_SCRUB = re.compile("|".join(f"(?:{pat})" for _, pat, _ in SCRUB_PATTERNS))
SCRUB_FLAG_NAMES = [name for name, _, _ in SCRUB_PATTERNS]


def scrub_series(text: pd.Series) -> tuple[pd.Series, pd.DataFrame]:
    """Vectorized scrub of a text Series.

    Returns (scrubbed_text, flags_df) where flags_df has one boolean
    column per SCRUB_FLAG_NAMES entry (True = pattern fired in that row).
    One combined-alternation pass finds candidate rows; the sequential
    per-pattern detect+replace (order-sensitive!) runs only on those.
    """
    s = text.fillna("").astype("object").astype("string")
    cand = s.str.contains(_ANY_SCRUB, regex=True).fillna(False).astype(bool)
    flags = pd.DataFrame(False, index=text.index,
                         columns=SCRUB_FLAG_NAMES)
    out = s.astype("object").fillna("")
    if cand.any():
        sub = s[cand]
        for name, rx, repl in _COMPILED:
            hit = sub.str.contains(rx, regex=True)
            flags.loc[cand, name] = hit.fillna(False).astype(bool).to_numpy()
            sub = sub.str.replace(rx, repl, regex=True)
        out.loc[cand] = sub.astype("object")
    return out, flags


# --------------------------------------------------------------------------
# Heuristic quality rules (Gopher / C4 style), turn level.
# --------------------------------------------------------------------------

MIN_WORDS = 3
MAX_CHARS = 20_000
MAX_SYMBOL_RATIO = 0.30
MAX_DIGIT_RATIO = 0.30
MIN_MEAN_WORD_LEN = 2.0
MAX_MEAN_WORD_LEN = 12.0
MAX_DUP_LINE_FRAC = 0.30
MIN_STOPWORD_FRAC = 0.04  # applied to English turns only
MAX_PPL = 40.0            # turn-level perplexity bound (char-LM scale)
ALLOWED_LANGS = frozenset({"en", "fr", "de", "es"})
VALID_ROLES = frozenset({"system", "user", "assistant", "tool"})

# Conversation-level thresholds.
CONV_MAX_MEAN_PPL = 35.0
CONV_MIN_TURNS = 2
CONV_ROLE_BALANCE_RANGE = (0.15, 0.85)  # assistant-turn fraction
# structure_ok tolerates a small fraction of invalid-role turns (those
# turns are still dropped individually via role_valid).
MAX_INVALID_ROLE_FRAC = 0.05

HEURISTIC_FLAG_NAMES = [
    "too_short", "too_long", "symbol_ratio", "digit_ratio",
    "word_len", "dup_lines", "stopword", "high_ppl", "bad_lang",
]


def _dup_line_frac(text: str) -> float:
    lines = [ln.strip() for ln in text.split("\n") if ln.strip()]
    if len(lines) < 2:
        return 0.0
    return 1.0 - len(set(lines)) / len(lines)


def heuristic_flags(text: pd.Series, lang: pd.Series,
                    ppl: pd.Series) -> pd.DataFrame:
    """Vectorized turn-level rule evaluation → boolean DataFrame with one
    column per HEURISTIC_FLAG_NAMES entry (True = rule VIOLATED)."""
    s = text.fillna("").astype("object").astype("string")
    n_chars = s.str.len().astype("int64")
    words = s.str.split()
    n_words = words.str.len().fillna(0).astype("int64")
    alpha_chars = s.str.count(r"[A-Za-zÀ-ÿ]").astype("int64")
    digit_chars = s.str.count(r"[0-9]").astype("int64")
    space_chars = s.str.count(r"\s").astype("int64")
    symbol_chars = n_chars - alpha_chars - digit_chars - space_chars
    denom = n_chars.clip(lower=1).astype("float64")
    word_chars = (n_chars - space_chars).astype("float64")
    mean_word_len = word_chars / n_words.clip(lower=1)

    # dup-line fraction: only multi-line texts can violate — loop over
    # just those (a few % of rows); everything else is 0 by definition
    dup_frac = pd.Series(0.0, index=s.index, dtype="float64")
    multiline = s.str.contains("\n", regex=False).fillna(False).astype(bool)
    if multiline.any():
        dup_frac.loc[multiline] = [
            _dup_line_frac(t) for t in s[multiline]]

    # stopword fraction, vectorized: explode words → strip punctuation →
    # set membership → per-row mean (identical to the per-row loop)
    ex = s.str.lower().str.split().explode()
    hit = ex.str.strip(".,!?;:").isin(EN_STOPWORDS)
    stop_frac = hit.groupby(level=0).mean().reindex(s.index).fillna(0.0) \
        .astype("float64")

    out = pd.DataFrame(index=text.index)
    out["too_short"] = (n_words < MIN_WORDS).to_numpy(dtype=bool)
    out["too_long"] = (n_chars > MAX_CHARS).to_numpy(dtype=bool)
    out["symbol_ratio"] = ((symbol_chars / denom) > MAX_SYMBOL_RATIO).to_numpy(dtype=bool)
    out["digit_ratio"] = ((digit_chars / denom) > MAX_DIGIT_RATIO).to_numpy(dtype=bool)
    out["word_len"] = (
        (mean_word_len < MIN_MEAN_WORD_LEN) | (mean_word_len > MAX_MEAN_WORD_LEN)
    ).to_numpy(dtype=bool)
    out["dup_lines"] = (dup_frac > MAX_DUP_LINE_FRAC).to_numpy(dtype=bool)
    out["stopword"] = (
        (lang.to_numpy() == "en") & (stop_frac.to_numpy() < MIN_STOPWORD_FRAC)
    )
    out["high_ppl"] = (ppl > MAX_PPL).to_numpy(dtype=bool)
    out["bad_lang"] = ~lang.isin(ALLOWED_LANGS).to_numpy()
    return out


def flags_to_list(heur: pd.DataFrame, scrub: pd.DataFrame) -> pd.Series:
    """Collapse boolean flag frames into a sorted array<string> column."""
    all_flags = pd.concat([heur, scrub], axis=1)
    names = np.array(all_flags.columns)
    mat = all_flags.to_numpy(dtype=bool)
    return pd.Series([sorted(names[row].tolist()) for row in mat],
                     index=all_flags.index, dtype="object")


def turn_pass(heur: pd.DataFrame) -> pd.Series:
    """Turn-level keep predicate: no heuristic rule violated.

    Scrub flags do NOT drop a turn — PII is redacted, not removed
    (mirrors the reference's scrub-and-keep semantics)."""
    return pd.Series(~heur.to_numpy(dtype=bool).any(axis=1), index=heur.index)
