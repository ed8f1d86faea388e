"""Scalar string/regex/URL functions (reference F1-F13 family).

Each maps one of the reference's scalar R idioms (SURVEY.md section
2.7) to a built-in Catalyst expression — JVM-side, codegen-friendly,
never a Python UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def strip_punct(col: Column) -> Column:
    """F1: collapse punctuation/whitespace runs to single spaces.

    Reference: ``gsub('[[:punct:] ]+', ' ', x)`` (hi-csa-db.Rmd:76).
    """
    return F.regexp_replace(col, r"[^a-zA-Z0-9]+", " ")


def tokenize(col: Column) -> Column:
    """F2: whitespace tokenization to array<string>, empties removed.

    Reference: ``strsplit(x, ' ')`` (hi-csa-db.Rmd:77,404,408,451).
    """
    return F.filter(F.split(F.trim(col), " "), lambda t: t != F.lit(""))


def word_ngrams(toks: Column, n: int) -> Column:
    """Space-joined word n-grams of a token array, one per window start
    (a higher-order ``transform`` over token indices — no UDF). An
    array shorter than ``n`` yields one gram of all its tokens; an
    empty array yields one empty string."""
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )


def absolutize_url(col: Column, base: str) -> Column:
    """F5: relative -> absolute URL unless already absolute.

    Reference: prefix base URL unless ``grepl('http', a)``
    (hi-csa-db.Rmd:275-279).
    """
    return F.when(col.rlike("^https?://"), col).otherwise(F.concat(F.lit(base), col))


def slugify(col: Column) -> Column:
    """F8: spaces -> hyphens for URL synthesis (hi-csa-db.Rmd:462)."""
    return F.regexp_replace(col, " ", "-")


def extract_code(col: Column, pattern: str = r"(E\d{3}[A-Za-z])") -> Column:
    """F7: first token matching a practice-code pattern.

    Reference: ``get.codes`` scans concatenated row text for
    ``E[0-9]{3}[A-Za-z]`` and keeps the first (hi-csa-db.Rmd:449-457).
    """
    return F.regexp_extract(col, pattern, 1)


def strip_brackets(col: Column) -> Column:
    """F6: remove bracketed footnote markers, collapse double spaces.

    Reference: ``gsub("\\\\[.*?\\\\]", "", x)`` then double-space
    collapse (hi-csa-db.Rmd:437-441).
    """
    return F.regexp_replace(F.regexp_replace(col, r"\[.*?\]", ""), "  ", " ")
