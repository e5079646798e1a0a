"""Text-processing column expressions shared by text analysis and dedup.

All pure built-in compositions (split/transform/filter/aggregate) so they
run JVM-side; the same token definition is mirrored in every DuckDB oracle
(``string_split_regex(lower(trim(text)), '\\s+')``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny high-frequency English function-word list for the lang-id heuristic
# and quality scoring. Public knowledge (classic stopword lists).
EN_STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is", "it", "for")

TOKEN_PATTERN = r"\s+"

# BPE-ish pre-tokenizer: letter runs / digit runs / single punctuation.
# Shared by the C4 token-count queries and their DuckDB oracles (Java
# regex and RE2 agree on this subset).
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of lowercased, trimmed text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(F.trim(c)), TOKEN_PATTERN)


def sql_tokens(expr: str) -> str:
    """DuckDB spelling of :func:`tokens`."""
    return f"string_split_regex(lower(trim({expr})), '\\s+')"


def n_tokens(col: Column | str) -> Column:
    return F.size(tokens(col))


def stopword_count(tok: Column) -> Column:
    """Number of tokens that are in the EN stopword list."""
    return F.size(F.filter(tok, lambda t: t.isin(*EN_STOPWORDS)))


def sql_stopword_count(tokens_expr: str) -> str:
    inlist = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    return f"len(list_filter({tokens_expr}, t -> t IN ({inlist})))"


def word_shingles(tok: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of a token array (for Jaccard / MinHash).

    Built with sequence+transform+slice — no explode until the caller
    chooses to, so shingling itself adds no rows.
    """
    idx = F.sequence(F.lit(1), F.size(tok) - (k - 1))
    shingled = F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(tok, i, k), " "))
    )
    # sequence(1, n) counts DOWN when n < 1 — docs shorter than k tokens
    # must yield an empty shingle set, not slice(_, 0, _) errors.
    return F.when(F.size(tok) >= k, shingled).otherwise(
        F.array().cast("array<string>")
    )


def sql_word_shingles(tokens_expr: str, k: int = 3) -> str:
    """DuckDB spelling of :func:`word_shingles` (1-based list slicing)."""
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(len({tokens_expr}) - {k - 1}, 0) + 1), "
        f"i -> array_to_string({tokens_expr}[i:i+{k - 1}], ' ')))"
    )


def quality_expr(n_tokens: Column, n_stop: Column, n_chars: Column) -> Column:
    """Pretraining-quality heuristic ∈ [0, 1]: length, stopword density,
    and average word length, weighted 0.4/0.3/0.3. Shared by the per-doc
    text panel (c04_text_metrics) and the corpus-prep pipeline
    (c09_prep_pipeline) so both gates score identically."""
    nt = n_tokens.cast("double")
    ns = n_stop.cast("double")
    nc = n_chars.cast("double")
    return (
        0.4 * F.least(nt / 100.0, F.lit(1.0))
        + 0.3 * (ns / n_tokens)
        + 0.3 * F.least(nc / n_tokens / 10.0, F.lit(1.0))
    )


def sql_quality_expr(n_tokens: str, n_stop: str, n_chars: str) -> str:
    """DuckDB spelling of :func:`quality_expr`."""
    return (
        f"(0.4 * least(CAST({n_tokens} AS DOUBLE) / 100.0, 1.0)"
        f" + 0.3 * (CAST({n_stop} AS DOUBLE) / {n_tokens})"
        f" + 0.3 * least(CAST({n_chars} AS DOUBLE) / {n_tokens} / 10.0, 1.0))"
    )
