"""Text-analysis scalar functions — pure ``pyspark.sql.functions`` compositions.

North-star surface (BASELINE.json): language-ID, quality scoring, token
counting, document fingerprinting. All JVM-side (codegen'd, no Python), so
they scan 100 TB at parquet-reader speed. Each has an equivalent DuckDB SQL
formulation (see ``plans.north_star``) so results are oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny per-language stopword lists for the n-gram/stopword-overlap heuristic
#: language ID. Deliberately small & deterministic — the point is the operator
#: shape (token-set intersection, argmax with stable tie-break), not lexical
#: coverage; swap in real lists in production.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "se", "no"],
    "de": ["der", "die", "und", "das", "in", "von", "zu", "mit", "den", "ist"],
    "fr": ["le", "la", "et", "les", "des", "en", "un", "du", "une", "est"],
}
#: CASE-evaluation order for argmax ties — alphabetical for determinism.
LANG_ORDER = sorted(STOPWORDS)


def tokens(text: Column | str) -> Column:
    """Whitespace tokens, lowercased, empties dropped.

    Generalizes the reference's ``Tokenizer`` (COMP5349_2.py:151) as a plain
    SQL expression.
    """
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(F.trim(c)), r"\s+"), lambda t: t != "")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def word_ngrams(toks: Column, n: int) -> Column:
    """Word n-grams of a token-array column (space-joined strings).

    Built from ``sequence`` + ``slice`` + ``concat_ws`` — stays JVM-side
    (the pyspark.ml ``NGram`` transformer is the Pipeline-flavored twin).
    Empty result when the document is shorter than ``n``.
    """
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def alpha_ratio(text: Column | str) -> Column:
    """Fraction of characters that are ASCII letters — a quality signal."""
    c = F.col(text) if isinstance(text, str) else text
    return F.length(F.regexp_replace(c, "[^a-zA-Z]", "")) / F.nullif(F.length(c), F.lit(0))


def avg_token_len(text: Column | str) -> Column:
    toks = tokens(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return total / F.nullif(F.size(toks), F.lit(0))


def stopword_hits(toks: Column, lang: str) -> Column:
    """Distinct stopwords of ``lang`` present in the token array."""
    return F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in STOPWORDS[lang]])))


def lang_guess(text: Column | str) -> Column:
    """Argmax-stopword-overlap language guess with alphabetical tie-break;
    'und' (undetermined) when no stopword of any language appears."""
    toks = tokens(text)
    hits = {lang: stopword_hits(toks, lang) for lang in LANG_ORDER}
    best = F.greatest(*hits.values())
    expr = F.lit("und")
    # Build CASE lang-by-lang in reverse order so earlier langs win ties.
    for lang in reversed(LANG_ORDER):
        expr = F.when((best > 0) & (hits[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def normalized_text(text: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, non-alphanumeric runs
    collapsed to single spaces, trimmed."""
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "))


def fingerprint(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    (The rolling-hash / shingle fingerprints live in operators.dedup.)"""
    return F.md5(normalized_text(text))


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality heuristic: rewards letter-dominated text of
    reasonable length with sane word lengths. All JVM-side arithmetic."""
    c = F.col(text) if isinstance(text, str) else text
    n = F.length(c).cast("double")
    len_score = F.least(n / F.lit(200.0), F.lit(1.0))
    alpha = F.coalesce(alpha_ratio(c), F.lit(0.0))
    awl = F.coalesce(avg_token_len(c), F.lit(0.0))
    wordlen_score = F.when((awl >= 3) & (awl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round((len_score + alpha + wordlen_score) / F.lit(3.0), 6)


#: Scrub patterns — the common Java/RE2 regex subset (no lookaround, no
#: group references in pattern or replacement) so the SAME string runs on
#: Spark (Java regex) and the DuckDB oracle (RE2).
URL_RE = r"https?://[^\s]+"
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
HANDLE_RE = r"@[A-Za-z0-9_]+"


def scrub_text(text: Column | str) -> Column:
    """PII/link scrubbing for LLM training text: URLs, then emails, then
    bare @handles are replaced with typed placeholder tokens. Order
    matters — emails contain ``@`` so they must be consumed before the
    handle pattern, and URLs may contain ``@`` (userinfo) so they go
    first. Pure ``regexp_replace`` chain: codegen'd, no Python, scans at
    parquet-reader speed."""
    c = F.col(text) if isinstance(text, str) else text
    c = F.regexp_replace(c, URL_RE, "<url>")
    c = F.regexp_replace(c, EMAIL_RE, "<email>")
    return F.regexp_replace(c, HANDLE_RE, "<user>")
