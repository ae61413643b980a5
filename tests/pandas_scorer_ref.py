"""Frozen pandas `.str` turn scorer: the reference the Arrow scorer
(curator_spark.scoring.score_text_array) is checked against byte for
byte by tests/test_scorer_equivalence.py.

This is the scorer as it stood before the payload moved onto
pyarrow.compute, kept verbatim apart from imports. Only the rule
constants and the models are shared with the package, so a drift in
the Arrow implementation of the scrub, the heuristics or the flag
assembly shows up as a mismatch here. Do not route production code
through this module.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from curator_spark.models import langid, ngram_lm
from curator_spark.models.corpus import EN_STOPWORDS
from curator_spark.rules import (
    ALLOWED_LANGS, MAX_CHARS, MAX_DIGIT_RATIO, MAX_DUP_LINE_FRAC,
    MAX_MEAN_WORD_LEN, MAX_PPL, MAX_SYMBOL_RATIO, MIN_MEAN_WORD_LEN,
    MIN_STOPWORD_FRAC, MIN_WORDS, SCRUB_FLAG_NAMES, SCRUB_PATTERNS,
)

_COMPILED = [(name, re.compile(pat), repl) for name, pat, repl in SCRUB_PATTERNS]
_ANY_SCRUB = re.compile("|".join(f"(?:{pat})" for _, pat, _ in SCRUB_PATTERNS))


def scrub_series(text: pd.Series) -> tuple[pd.Series, pd.DataFrame]:
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


def _dup_line_frac(text: str) -> float:
    lines = [ln.strip() for ln in text.split("\n") if ln.strip()]
    if len(lines) < 2:
        return 0.0
    return 1.0 - len(set(lines)) / len(lines)


def heuristic_flags(text: pd.Series, lang: pd.Series,
                    ppl: pd.Series) -> pd.DataFrame:
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

    dup_frac = pd.Series(0.0, index=s.index, dtype="float64")
    multiline = s.str.contains("\n", regex=False).fillna(False).astype(bool)
    if multiline.any():
        dup_frac.loc[multiline] = [
            _dup_line_frac(t) for t in s[multiline]]

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
    all_flags = pd.concat([heur, scrub], axis=1)
    names = np.array(all_flags.columns)
    mat = all_flags.to_numpy(dtype=bool)
    return pd.Series([sorted(names[row].tolist()) for row in mat],
                     index=all_flags.index, dtype="object")


def turn_pass(heur: pd.DataFrame) -> pd.Series:
    return pd.Series(~heur.to_numpy(dtype=bool).any(axis=1), index=heur.index)


def score_text_series(text: pd.Series) -> pd.DataFrame:
    lang_model = langid.get_model()
    lm = ngram_lm.get_model()

    lang, lang_conf = lang_model.classify_series(text)
    ppl = lm.perplexity_series(text)
    scrubbed, scrub_flags = scrub_series(text)
    heur = heuristic_flags(text, lang, ppl)

    out = pd.DataFrame(index=text.index)
    out["lang"] = lang
    out["lang_conf"] = lang_conf
    out["ppl"] = ppl
    out["scrubbed_text"] = scrubbed
    out["rule_flags"] = flags_to_list(heur, scrub_flags)
    out["turn_pass"] = turn_pass(heur)
    out["n_tokens"] = (
        text.fillna("").astype("object").astype("string").str.split().str.len()
        .fillna(0).astype("int64")
    )
    return out
