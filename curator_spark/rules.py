r"""Shared curation rules: PII/toxicity scrub patterns and Gopher/C4-style
heuristic quality rules, evaluated over Arrow arrays.

One module used by BOTH the Spark Arrow-UDF path and the pandas oracle,
so the two sides cannot drift except through execution semantics
(SURVEY.md §5). The payload works on `pyarrow.compute` over whole
batches; the pandas-Series functions (`scrub_series`,
`heuristic_flags`, `flags_to_list`, `turn_pass`) are thin adapters over
the same Arrow core.

Scrubbing is never JVM `regexp_replace`. It runs in two stages:

1. An RE2 prefilter (`pc.match_substring_regex`) over one alternation
   of every pattern, rewritten so that it matches a SUPERSET of the
   rows Python `re` matches. Rows it rejects need no further work (the
   common case in a clean corpus).
2. On candidate rows only, the exact, order-sensitive per-pattern
   detect+replace in Python `re` — so the scrubbed text is byte-equal
   to a pure Python `re` scrub (SURVEY.md §7 "Hard parts").

Unicode traps between RE2/Arrow and Python `str`/`re`, each handled
here and pinned by tests/test_scorer_equivalence.py:

* RE2's `\b` is ASCII-only, Python's is Unicode, so they disagree next
  to a non-ASCII letter. `é123-45-6789` has an RE2 boundary and no
  Python one (RE2 over-matches: harmless for a prefilter), but
  `ſmeghead` — long s, which `(?i)` folds to `s` — has a Python
  boundary and no RE2 one, so an RE2 `\b` would miss that slur. The
  prefilter drops every `\b`; dropping a zero-width assertion can only
  add matches.
* Python's case-insensitive `i` also matches `İ` (U+0130) and `ı`
  (U+0131); RE2's does not. The prefilter spells the slur lexicon's
  `i` as `[iİı]`.
* `utf8_lower` maps `İ` to `i`, `str.lower` to `i̇` (i + U+0307);
  that is the only single-code-point difference, so `İ` is replaced
  before lowering.
* `str.split()` splits on runs of the 29 `str.isspace` code points and
  drops empty edge tokens. `utf8_split_whitespace` splits on the same
  set, but keeps empty edge tokens and, under the property test,
  intermittently returned whitespace-only tokens; words are split by
  `split_pattern_regex` over a run of exactly those 29 code points, and
  only non-empty tokens count.
* Python `re`'s `\s` is `str.isspace`, and `[À-ÿ]` includes `×` and
  `÷`; the character-class counts use a code-point table built from
  exactly those definitions, not RE2 classes.

Patterns deliberately avoid lookaround/backrefs so they are also valid
RE2, letting the DuckDB correctness oracle replicate a subset of them
in SQL (__spark_entry__.oracle_sql).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

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
    # (?i: ) scoped flag so the pattern stays embeddable in an alternation
    ("tox_slur", r"\b(?i:" + "|".join(SLUR_LEXICON) + r")\b", "<SLUR>"),
]

_COMPILED = [(name, re.compile(pat), repl) for name, pat, repl in SCRUB_PATTERNS]
SCRUB_FLAG_NAMES = [name for name, _, _ in SCRUB_PATTERNS]


def _re2_superset(pat: str) -> str:
    """An RE2 pattern that matches every string Python `re` finds `pat`
    in (see the module docstring for the two traps it removes)."""
    return pat.replace(r"\b", "").replace(
        "|".join(SLUR_LEXICON),
        "|".join(w.replace("i", "[iİı]") for w in SLUR_LEXICON))


# the candidate scan: rows it rejects match no Python pattern
SCRUB_PREFILTER = "|".join(
    f"(?:{_re2_superset(pat)})" for _, pat, _ in SCRUB_PATTERNS)


def text_array(text) -> pa.Array:
    """The batch as a null-free Arrow string array (null → "")."""
    if not isinstance(text, pa.Array):
        text = pa.array(text, type=pa.string(), from_pandas=True)
    return pc.fill_null(text, "")


def scrub_array(text) -> tuple[pa.Array, np.ndarray]:
    """Scrub a batch → (scrubbed string array, (n, 7) bool flag matrix
    ordered as SCRUB_FLAG_NAMES, True = pattern fired in that row).

    The RE2 prefilter picks candidate rows; the sequential per-pattern
    detect+replace (order-sensitive!) runs in Python `re` on those only.
    """
    s = text_array(text)
    flags = np.zeros((len(s), len(_COMPILED)), dtype=bool)
    cand = np.flatnonzero(
        pc.match_substring_regex(s, SCRUB_PREFILTER).to_numpy(
            zero_copy_only=False))
    if not cand.size:
        return s, flags
    sub = s.take(pa.array(cand)).to_pylist()
    for j, (_, rx, repl) in enumerate(_COMPILED):
        for k, t in enumerate(sub):
            sub[k], hits = rx.subn(repl, t)
            flags[cand[k], j] = hits > 0
    mask = np.zeros(len(s), dtype=bool)
    mask[cand] = True
    return pc.replace_with_mask(s, pa.array(mask),
                                pa.array(sub, type=s.type)), flags


def scrub_series(text: pd.Series) -> tuple[pd.Series, pd.DataFrame]:
    """pandas adapter over scrub_array → (scrubbed_text, flags_df) with
    one boolean column per SCRUB_FLAG_NAMES entry."""
    scrubbed, flags = scrub_array(text)
    return (pd.Series(scrubbed.to_numpy(zero_copy_only=False),
                      index=text.index, dtype="object"),
            pd.DataFrame(flags, index=text.index, columns=SCRUB_FLAG_NAMES))


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


# code point → character class, with Python `re` semantics:
# 1 = [A-Za-zÀ-ÿ], 2 = [0-9], 3 = \s (exactly the str.isspace points,
# all below U+3001); everything else, astral included, clamps to 0
_CLASS_CLAMP = 0x3001
_CHAR_CLASS = np.zeros(_CLASS_CLAMP + 1, dtype=np.int64)
_CHAR_CLASS[[*range(ord("A"), ord("Z") + 1), *range(ord("a"), ord("z") + 1),
             *range(0xC0, 0x100)]] = 1
_CHAR_CLASS[ord("0"):ord("9") + 1] = 2
_CHAR_CLASS[[c for c in range(_CLASS_CLAMP) if chr(c).isspace()]] = 3

_STOPWORDS = pa.array(sorted(EN_STOPWORDS))
# one run of `str.isspace` code points: the `str.split()` separator
_SPACE_RUN = "[" + "".join(
    f"\\x{{{c:x}}}" for c in range(_CLASS_CLAMP) if chr(c).isspace()) + "]+"


def _class_counts(s: pa.Array, n_chars: np.ndarray) -> np.ndarray:
    """(n, 4) per-row code-point counts by _CHAR_CLASS: the batch's
    UTF-8 bytes are decoded to UTF-32 once and looked up in the table."""
    n = len(s)
    if not n_chars.sum():
        return np.zeros((n, 4), dtype=np.int64)
    _, offsets, data = s.buffers()
    width = np.int64 if pa.types.is_large_string(s.type) else np.int32
    offs = np.frombuffer(offsets, dtype=width)[s.offset:s.offset + n + 1]
    raw = str(memoryview(data)[offs[0]:offs[-1]], "utf-8")
    cps = np.frombuffer(raw.encode("utf-32-le"), dtype=np.uint32)
    cls = _CHAR_CLASS[np.minimum(cps, _CLASS_CLAMP)]
    rows = np.repeat(np.arange(n, dtype=np.int64) * 4, n_chars)
    return np.bincount(rows + cls, minlength=4 * n).reshape(n, 4)


def _word_stats(s: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(n_words, stopword hits) per row: `str.split()` words of the
    lowered text, punctuation-trimmed words looked up in EN_STOPWORDS."""
    n = len(s)
    low = pc.utf8_lower(pc.replace_substring(s, "\u0130", "i\u0307"))
    words = pc.split_pattern_regex(low, _SPACE_RUN)
    parents = pc.list_parent_indices(words).to_numpy()
    flat = pc.list_flatten(words)
    real = pc.greater(pc.binary_length(flat), 0).to_numpy(zero_copy_only=False)
    stop = pc.is_in(pc.utf8_trim(flat, ".,!?;:"), value_set=_STOPWORDS)
    n_words = np.bincount(parents[real], minlength=n)
    hits = np.bincount(parents[stop.to_numpy(zero_copy_only=False)],
                       minlength=n)
    return n_words, hits


def heuristic_matrix(text, lang: np.ndarray,
                     ppl: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Turn-level rule evaluation over a batch → ((n, 9) bool matrix
    ordered as HEURISTIC_FLAG_NAMES, True = rule VIOLATED; whitespace
    token count per row)."""
    s = text_array(text)
    lang = np.asarray(lang, dtype=object)
    n_chars = pc.utf8_length(s).to_numpy().astype(np.int64)
    n_words, stop_hits = _word_stats(s)
    counts = _class_counts(s, n_chars)
    alpha_chars, digit_chars, space_chars = counts[:, 1], counts[:, 2], counts[:, 3]
    symbol_chars = n_chars - alpha_chars - digit_chars - space_chars
    denom = np.maximum(n_chars, 1).astype(np.float64)
    word_chars = (n_chars - space_chars).astype(np.float64)
    mean_word_len = word_chars / np.maximum(n_words, 1)

    # dup-line fraction: only multi-line texts can violate — loop over
    # just those (a few % of rows); everything else is 0 by definition
    dup_frac = np.zeros(len(s), dtype=np.float64)
    multiline = np.flatnonzero(
        pc.match_substring(s, "\n").to_numpy(zero_copy_only=False))
    if multiline.size:
        dup_frac[multiline] = [_dup_line_frac(t) for t in
                               s.take(pa.array(multiline)).to_pylist()]

    stop_frac = np.zeros(len(s), dtype=np.float64)
    np.divide(stop_hits, n_words, out=stop_frac, where=n_words > 0)

    return np.column_stack([
        n_words < MIN_WORDS,                                   # too_short
        n_chars > MAX_CHARS,                                   # too_long
        (symbol_chars / denom) > MAX_SYMBOL_RATIO,             # symbol_ratio
        (digit_chars / denom) > MAX_DIGIT_RATIO,               # digit_ratio
        (mean_word_len < MIN_MEAN_WORD_LEN)
        | (mean_word_len > MAX_MEAN_WORD_LEN),                 # word_len
        dup_frac > MAX_DUP_LINE_FRAC,                          # dup_lines
        (lang == "en") & (stop_frac < MIN_STOPWORD_FRAC),      # stopword
        np.asarray(ppl, dtype=np.float64) > MAX_PPL,           # high_ppl
        ~np.isin(lang, list(ALLOWED_LANGS)),                   # bad_lang
    ]), n_words


def heuristic_flags(text: pd.Series, lang: pd.Series,
                    ppl: pd.Series) -> pd.DataFrame:
    """pandas adapter over heuristic_matrix → boolean DataFrame with one
    column per HEURISTIC_FLAG_NAMES entry (True = rule VIOLATED)."""
    mat, _ = heuristic_matrix(text, lang.to_numpy(), ppl.to_numpy())
    return pd.DataFrame(mat, index=text.index, columns=HEURISTIC_FLAG_NAMES)


FLAG_NAMES = HEURISTIC_FLAG_NAMES + SCRUB_FLAG_NAMES
_FLAG_ORDER = sorted(range(len(FLAG_NAMES)), key=FLAG_NAMES.__getitem__)
_SORTED_FLAGS = pa.array([FLAG_NAMES[i] for i in _FLAG_ORDER])


def flag_lists(flags: np.ndarray) -> pa.ListArray:
    """(n, 16) bool matrix ordered as FLAG_NAMES → list<string> of the
    fired flag names per row, each list sorted."""
    rows, cols = np.nonzero(flags[:, _FLAG_ORDER])
    offsets = np.zeros(len(flags) + 1, dtype=np.int32)
    np.cumsum(np.bincount(rows, minlength=len(flags)), out=offsets[1:])
    return pa.ListArray.from_arrays(pa.array(offsets),
                                    _SORTED_FLAGS.take(pa.array(cols)))


def flags_to_list(heur: pd.DataFrame, scrub: pd.DataFrame) -> pd.Series:
    """pandas adapter over flag_lists: collapse the boolean flag frames
    into a Series of sorted flag-name lists."""
    mat = np.hstack([heur[HEURISTIC_FLAG_NAMES].to_numpy(dtype=bool),
                     scrub[SCRUB_FLAG_NAMES].to_numpy(dtype=bool)])
    return pd.Series(flag_lists(mat).to_pylist(), index=heur.index,
                     dtype="object")


def turn_pass(heur: pd.DataFrame) -> pd.Series:
    """Turn-level keep predicate: no heuristic rule violated.

    Scrub flags do NOT drop a turn — PII is redacted, not removed
    (mirrors the reference's scrub-and-keep semantics)."""
    return pd.Series(~heur.to_numpy(dtype=bool).any(axis=1), index=heur.index)
