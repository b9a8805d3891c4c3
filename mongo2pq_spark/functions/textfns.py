"""Portable text primitives: tokenization, word shingles, stopword
sets. Each helper has a Spark-column form and a DuckDB-SQL form that
produce identical values (the dedup/text operators are oracle-checked
value-for-value).

Tokenization contract: split on runs of whitespace, drop empty tokens.
Spark ``split(col, '\\\\s+')`` and DuckDB ``regexp_split_to_array``
agree on that for non-empty trimmed input.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: tiny multilingual stopword sets for the language-ID heuristic
#: (public common-word lists; deliberately small and fixed so the
#: heuristic is a pure deterministic function of the text)
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "für"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "en", "para", "que"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "这", "他"],
}


# -- Spark column expressions ------------------------------------------------

def tokens(col: Column) -> Column:
    """array<string> of whitespace tokens, empties removed."""
    return F.filter(F.split(F.trim(col), r"\s+"), lambda t: t != "")


def word_shingles(tokens_col: Column, n: int = 3) -> Column:
    """array<string> of n-word shingles joined by single spaces.
    Texts shorter than n tokens yield an empty array.

    Built from n shifted slices folded with zip_with, NOT per-index
    element_at in a transform lambda: Catalyst inlines ``tokens_col``
    into every reference, so an element_at-per-position formulation
    re-tokenizes the text O(tokens) times per row (measured 100×
    slowdown at sf0.1); the slice/zip_with form references it a
    constant ~2n times."""
    length = F.greatest(F.size(tokens_col) - (n - 1), F.lit(0))
    shingles = F.slice(tokens_col, 1, length)
    for j in range(1, n):
        shifted = F.slice(tokens_col, j + 1, length)
        shingles = F.zip_with(
            shingles, shifted, lambda acc, tok: F.concat(acc, F.lit(" "), tok)
        )
    return shingles


def stopword_hits(tokens_col: Column, words: list[str]) -> Column:
    """count of tokens that are in the stopword list."""
    wordset = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens_col, lambda t: F.array_contains(wordset, t)))


# -- Spark SQL text ----------------------------------------------------------
# The Column forms' arrays from one regex scan, without lambdas (so the
# projection is generated code), as one selectExpr string instead of a
# py4j call per Column node.

def spark_ident(name: str) -> str:
    """A column name as a quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def spark_tokens(expr: str) -> str:
    """``tokens(expr)``: every maximal run of non-whitespace (Java
    ``\\S``; ``trim`` strips only spaces, and ``split`` + the empty
    filter leave exactly these runs)."""
    return f"regexp_extract_all({expr}, r'\\S+', 0)"


def spark_word_shingles(expr: str, n: int = 3) -> str:
    """``word_shingles(tokens(expr), n)``: whitespace runs collapse to
    one space, then a lookahead anchored at each token start captures
    the next ``n`` tokens. Overlapping matches are what the zero-width
    match buys; texts shorter than ``n`` tokens yield an empty array."""
    words = " ".join([r"\S+"] * n)
    return (
        f"regexp_extract_all(regexp_replace({expr}, r'\\s+', ' '), "
        f"r'(?<!\\S)(?=({words}))', 1)"
    )


# -- DuckDB SQL fragments ----------------------------------------------------

def sql_tokens(expr: str) -> str:
    return (
        f"list_filter(regexp_split_to_array(trim({expr}), '\\s+'), t -> t <> '')"
    )


def sql_word_shingles(tokens_expr: str, n: int = 3) -> str:
    """DuckDB list comprehension over 1-based list indexing; callers
    pass a CTE alias (e.g. ``toks``) as ``tokens_expr``."""
    parts = " || ' ' || ".join(f"{tokens_expr}[i + {j}]" for j in range(n))
    return (
        f"CASE WHEN len({tokens_expr}) >= {n} THEN "
        f"[{parts} FOR i IN generate_series(1, len({tokens_expr}) - {n - 1})] "
        f"ELSE [] END"
    )


def sql_stopword_hits(tokens_expr: str, words: list[str]) -> str:
    quoted = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({tokens_expr}, t -> list_contains([{quoted}], t)))"
