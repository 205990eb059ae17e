"""Text-analysis column functions (JVM-side, no Python UDFs).

Every function here has a DuckDB-SQL mirror in __spark_entry__.py's
oracle_sql() — the tokenization contract is shared:
``tokens = non-empty pieces of lower(text) split on [^a-z0-9]+``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = "[^a-z0-9]+"

# Tiny per-language stopword lists for the n-gram/lexicon language-ID
# heuristic. Order matters for deterministic tie-breaking.
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "les", "et", "des", "un"],
}


def tokens(text: Column) -> Column:
    """Lower-cased alphanumeric tokens."""
    return F.filter(F.split(F.lower(text), TOKEN_SPLIT_RE), lambda x: x != "")


def _hits(toks: Column, ws) -> Column:
    # NB: bind ws via a factory — a 2-arg lambda would be read by
    # F.filter as (element, index).
    return F.size(F.filter(toks, lambda x: x.isin(*ws)))


def lang_id_column(toks: Column) -> Column:
    """Deterministic lexicon-overlap language ID with fixed tie order."""
    scores = {lang: _hits(toks, ws) for lang, ws in LANG_STOPWORDS.items()}
    s = scores
    return (
        F.when(
            (s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] >= s["fr"]), "en"
        )
        .when((s["es"] >= s["de"]) & (s["es"] >= s["fr"]), "es")
        .when(s["de"] >= s["fr"], "de")
        .otherwise("fr")
    )


def quality_columns(text: Column, toks: Column) -> dict:
    """Deterministic quality metrics (mirrored in SQL)."""
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    punct = F.length(F.regexp_replace(text, r"[^.!?,;:]", ""))
    stop = F.size(F.filter(toks, lambda x: x.isin("the", "and", "of", "to", "in")))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": F.round(punct / F.greatest(n_chars, F.lit(1)), 4),
        "stopword_ratio": F.round(stop / F.greatest(n_tokens, F.lit(1)), 4),
    }
