"""Checksum-validated PII detection — credit-card numbers via Luhn.

The flagship scrub (rules.py) is pattern-only: a regex either fires or
it doesn't. Card numbers need more — 13-19 digit runs are everywhere
(ids, timestamps, phone numbers), and masking every one of them
destroys data. The industry rule (and the reference's scrub-category
analogue, SURVEY §2 payload ops) is: extract candidates by shape, keep
only those passing the Luhn mod-10 checksum, mask exactly those.

Everything here is built from JVM-side column expressions —
regexp_extract_all, a sequence/substr integer fold for the checksum,
an aggregate fold for the masking — so the whole operator lives inside
whole-stage codegen: no Python boundary, no UDF, scales as a narrow
map at any corpus size (contrast rules.scrub_array, which pays the
Arrow hop because byte-exact reference parity pins it to Python `re`).

Cross-engine determinism notes (the oracle replays this in DuckDB):
* the candidate pattern avoids lookarounds (RE2 has none) — both
  engines do leftmost-greedy non-overlapping extraction, so a >19-digit
  run deterministically yields its 19-digit prefix as the candidate
  (which then fails Luhn or not; either way both engines agree);
* masking folds over the SORTED DISTINCT valid candidates
  (array_sort ∘ array_distinct ⇔ list_sort ∘ list_distinct), because
  DuckDB's list_distinct does not promise input order;
* replacement is plain substring replace of the matched span text —
  a candidate whose text recurs elsewhere in the row masks there too
  (conservative over-masking, never under-masking).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# 13-19 digits, optionally single-space/dash separated. No lookarounds.
CC_PATTERN = r"[0-9](?:[ -]?[0-9]){12,18}"
CC_MASK = "<CC>"


def _luhn_sum_expr(digits: Column, shift: int = 0) -> Column:
    """Luhn sum over a digit-string column: positions counted from the
    right, offset by `shift` (the check-digit generator computes the
    payload's sum as if one more digit followed). The single shared
    fold — the validator and the generator differ ONLY in `shift`,
    mirroring the oracle-side _luhn_sum_sql(digits, shift)."""
    rev = F.reverse(digits)

    def term(i: Column) -> Column:
        d = F.substr(rev, i, F.lit(1)).cast("int")
        return F.when((i + shift) % 2 == 0,
                      F.when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)
                      ).otherwise(d)

    return F.aggregate(F.sequence(F.lit(1), F.length(rev)),
                       F.lit(0), lambda acc, i: acc + term(i))


def luhn_ok_expr(digits: Column) -> Column:
    """True iff `digits` (a pure digit string, 13-19 long) passes the
    Luhn mod-10 checksum: from the right, double every second digit,
    subtract 9 when the double exceeds 9, total ≡ 0 (mod 10).
    Integer fold — exact on every engine."""
    return (F.length(digits).between(13, 19)
            & (_luhn_sum_expr(digits) % 10 == 0))


def cc_scrub(df: DataFrame, text_col: str = "text",
             out_col: str = "text_scrubbed",
             n_col: str = "n_cc") -> DataFrame:
    """Mask Luhn-valid card numbers in `text_col`.

    Adds `n_col` = number of DISTINCT valid card strings found (int)
    and `out_col` = the text with each masked to CC_MASK. One narrow
    projection; candidates that fail the checksum are left untouched."""
    cands = F.array_sort(F.array_distinct(
        F.regexp_extract_all(F.col(text_col), F.lit(CC_PATTERN), 0)))
    valid = F.filter(
        cands, lambda c: luhn_ok_expr(F.regexp_replace(c, "[^0-9]", "")))
    scrubbed = F.aggregate(
        valid, F.col(text_col),
        lambda acc, c: F.replace(acc, c, F.lit(CC_MASK)))
    return (df.withColumn(n_col, F.size(valid))
            .withColumn(out_col, scrubbed))


def luhn_check_digit_expr(digits15: Column) -> Column:
    """The Luhn check digit that makes `digits15 || d` valid — the
    generator used by tests/oracles to synthesize valid cards. A
    payload digit at position i sits at position i+1 of the full
    number, hence shift=1 into the shared fold."""
    s = _luhn_sum_expr(digits15, shift=1)
    return (10 - (s % 10)) % 10


# ---------------------------------------------------------------------------
# Consistent pseudonymization: entity -> stable per-group alias.
# ---------------------------------------------------------------------------

EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


def pseudonymize(df: DataFrame, group_col: str, order_col: str,
                 text_col: str = "text",
                 pattern: str = EMAIL_PATTERN,
                 label: str = "EMAIL") -> DataFrame:
    """Rewrite every PII entity as a STABLE per-group alias
    (``<EMAIL_1>``, ``<EMAIL_2>`` …), numbered by first occurrence in
    (order_col, position-within-text) order — so the same address
    maps to the same alias in every turn of a conversation, and two
    different addresses never collapse. Uniform masking (rules.py's
    ``<EMAIL>``) destroys exactly the who-said-what-to-whom structure
    that conversation analytics and SFT exports need; consistent
    pseudonymization removes the identifier and keeps the structure
    (the k-anonymity-style trade GDPR literature calls
    pseudonymisation, and the reference's scrub category implies for
    multi-turn payloads).

    All column expressions (regexp_extract_all / posexplode / window /
    aggregate-fold + replace) — whole-stage codegen, no UDF. Plan:
    one groupBy on (group, entity) + ONE window per group over the
    DISTINCT ENTITIES of that group (bounded by vocabulary, not by
    turns — a million-turn conversation with 40 addresses ranks 40
    rows, so the per-group sort is skew-immune where ranking TURNS
    would not be), a broadcast-size pairs table joined back, and a
    fold over ≤ n_entities replacements per row.

    Replacements fold longest-entity-first, so an entity that is a
    substring of another can never corrupt the longer one's alias.
    Adds `pseudo_text`; other columns pass through.

    The replacement pairs are encoded as `entity|alias` strings, so
    `pattern` must not be able to match '|' (true for emails, phones,
    SSNs, API keys — identifiers don't contain pipes; pick another
    separator before reusing this for free-text entities).
    """
    g, o, t = F.col(group_col), F.col(order_col), F.col(text_col)
    ents = df.select(
        g.alias("_g"), o.alias("_o"),
        F.posexplode(F.regexp_extract_all(t, F.lit(pattern), F.lit(0)))
        .alias("_pos", "_entity"))
    # first occurrence, encoded as one orderable integer (position
    # within a text is < 1000 entities; order_col is the turn index)
    first = (ents.groupBy("_g", "_entity")
             .agg(F.min(F.col("_o") * 1000 + F.col("_pos") + 1)
                  .alias("_fo")))
    from pyspark.sql import Window
    w = Window.partitionBy("_g").orderBy("_fo", "_entity")
    aliased = first.withColumn("_k", F.row_number().over(w))
    pair = F.concat(F.col("_entity"), F.lit("|<" + label + "_"),
                    F.col("_k").cast("string"), F.lit(">"))
    pairs = (aliased.groupBy("_g")
             .agg(F.transform(
                 F.sort_array(F.collect_list(F.struct(
                     (-F.length("_entity")).alias("nl"),
                     F.col("_k").alias("k"), pair.alias("p")))),
                 lambda s: s["p"]).alias("_pairs")))
    joined = df.join(pairs, on=df[group_col] == pairs["_g"], how="left")
    rewritten = F.aggregate(
        F.coalesce(F.col("_pairs"), F.array().cast("array<string>")),
        t,
        lambda acc, p: F.replace(acc, F.split_part(p, F.lit("|"), F.lit(1)),
                                 F.split_part(p, F.lit("|"), F.lit(2))))
    return (joined.withColumn("pseudo_text", rewritten)
            .drop("_g", "_pairs"))
