"""Text-analysis column expressions for the `documents` table.

All JVM-side (`pyspark.sql.functions` higher-order functions) — no
Python UDFs in the hot path, so the same expressions run unchanged over
100 TB of documents. Higher-order functions are interpreted, outside
whole-stage codegen, with no common-subexpression elimination inside a
lambda: bind a shared subtree once (see `shingles`) rather than
repeating it in a lambda body.

Capability extension beyond the reference (BASELINE.json north-star):
language-ID, quality scoring, token counting, fingerprinting for a
training-data pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Keep these lists in sync with the oracle SQL in queries/documents.py.
STOPWORDS_EN = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "that", "it", "for", "on", "with", "as")
STOPWORDS_ES = ("el", "la", "los", "de", "que", "y", "en", "un", "una", "es", "por", "con", "para", "su", "no")
STOPWORDS_DE = ("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von", "mit", "auf", "für", "im", "nicht")
STOPWORDS_FR = ("le", "la", "les", "de", "des", "et", "est", "un", "une", "que", "pour", "dans", "qui", "sur", "pas")

# Word-ish tokens: letter runs, digit runs, or single punctuation —
# a BPE-style pre-tokenization regex (identical syntax in DuckDB RE2).
WORD_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def _tokens_sql(text_sql: str) -> str:
    """SQL text of the tokenizer — expression-string assembly (see
    functions/hashing._col_sql: one JVM parse instead of per-HOF py4j
    round-trips; the parsed tree is identical to the Column build)."""
    return f"filter(split(lower({text_sql}), '\\\\s+'), __tk_t -> __tk_t != '')"


def tokens(text: Column | str) -> Column:
    """Lowercased whitespace tokens, empties removed."""
    from filesystemagent_spark.functions.hashing import _col_sql

    return F.expr(_tokens_sql(_col_sql(text)))


def word_tokens(text: Column) -> Column:
    """BPE-ish pre-tokenization: letter/digit runs + punctuation marks."""
    return F.regexp_extract_all(F.lower(text), F.lit(WORD_RE), F.lit(0))


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are ASCII punctuation."""
    stripped = F.regexp_replace(text, "[!-/:-@\\[-`{-~]", "")
    n = F.length(text)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        (n - F.length(stripped)).cast("double") / n.cast("double")
    )


def _hits(toks: Column, words: tuple[str, ...]) -> Column:
    vocab = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(vocab, t)))


def stopword_ratio(text: Column, words: tuple[str, ...] = STOPWORDS_EN) -> Column:
    toks = tokens(text)
    n = F.size(toks)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        _hits(toks, words).cast("double") / n.cast("double")
    )


def quality_score(text: Column) -> Column:
    """Heuristic document quality in [0,1]: rewards mid-length docs and
    a plausible stopword rate, penalizes punctuation soup. A training-
    data filter, not a linguistic truth."""
    n_tok = token_count(text).cast("double")
    length_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    sw = stopword_ratio(text)
    sw_score = F.least(sw * F.lit(4.0), F.lit(1.0))
    punct_penalty = F.least(punct_ratio(text) * F.lit(2.0), F.lit(1.0))
    return F.round(
        F.lit(0.4) * length_score + F.lit(0.4) * sw_score + F.lit(0.2) * (F.lit(1.0) - punct_penalty),
        6,
    )


def lang_guess(text: Column) -> Column:
    """N-gram-free language ID: argmax of stopword hits over four
    languages, 'und' (undetermined) when nothing matches. Tie-break is
    the fixed order en > es > de > fr (mirrored in the oracle SQL)."""
    toks = tokens(text)
    en, es, de, fr = (_hits(toks, w) for w in (STOPWORDS_EN, STOPWORDS_ES, STOPWORDS_DE, STOPWORDS_FR))
    best = F.greatest(en, es, de, fr)
    return (
        F.when(best == 0, F.lit("und"))
        .when(en == best, F.lit("en"))
        .when(es == best, F.lit("es"))
        .when(de == best, F.lit("de"))
        .otherwise(F.lit("fr"))
    )


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 over the normalized
    token stream. Whitespace/case-insensitive exact-dup key — the
    first stage of a dedup cascade (cheap, collision-negligible)."""
    return F.md5(F.concat_ws(" ", tokens(text)))


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles (overlapping), for Jaccard/MinHash dedup.

    Pure expression: sequence over token positions + slice + join.
    Returns an empty array when the doc has fewer than ``n`` tokens.

    The tokenizer runs once per row: it is bound to the lambda variable
    ``__sh_t`` by a one-element ``transform``, and the size checks and
    the per-position slices read that variable. Spark interprets
    higher-order-function lambdas and neither eliminates common
    subexpressions nor hoists them out of a lambda, so a token subtree
    pasted into the per-position lambda would re-split the document at
    every position (quadratic in its length)."""
    from filesystemagent_spark.functions.hashing import _col_sql

    toks = _tokens_sql(_col_sql(text))
    return F.expr(
        f"transform(array({toks}), __sh_t -> "
        f"CASE WHEN size(__sh_t) < {n} "
        f"THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE transform(sequence(1, greatest(size(__sh_t) - {n - 1}, 0)), "
        f"__sh_i -> concat_ws(' ', slice(__sh_t, __sh_i, {n}))) END)[0]"
    )
