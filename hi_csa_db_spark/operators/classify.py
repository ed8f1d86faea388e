"""Keyword-dictionary multi-label classifier (reference J2/X3).

``detect.csa`` (hi-csa-db.Rmd:75-88) punct-strips and tokenizes text,
case-insensitively matches each of the 21 keyword patterns, and emits
one label per matching keyword — NA if none (a one-to-many
contains-join doubling as a multi-label classifier; dictionary at
hi-csa-db.Rmd:497-509, applied at hi-csa-db.Rmd:513).

Two physical strategies with identical semantics (word-boundary phrase
match on punct-stripped, lowercased text):

- ``keyword_classify`` (default): explode each document into word
  n-gram shingles (n = 1..longest keyword phrase) and broadcast-hash
  equi-join shingle == keyword. This is the 100 TB path: narrow map +
  broadcast join + one distinct shuffle, no nested loop. (The rewrite
  SURVEY.md section 4 calls out for dictionary scale.)
- ``keyword_classify_nlj``: broadcast nested-loop rlike join — simpler
  plan, fine when docs x dict is small.

Both keep unmatched rows with a NULL label (reference keep-NA branch,
hi-csa-db.Rmd:515-536 explode_outer semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hi_csa_db_spark.functions.text import normalized_text, word_ngrams, word_tokens


def keyword_classify(
    docs: DataFrame,
    keywords: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keyword_col: str = "keyword",
    label_col: str = "label",
    max_phrase_words: int | None = None,
) -> DataFrame:
    """Shingle equi-join strategy. Returns (id_col, label_col) with one
    row per matched label, plus a NULL-label row for unmatched docs.

    ``max_phrase_words`` bounds the shingle sizes to emit (the longest
    keyword phrase). Pass it when known; when None it is derived with
    one aggregate over the dictionary — broadcast-small by definition,
    so the driver-side fetch is a scalar, never the dictionary rows."""
    dict_df = keywords.select(
        F.lower(F.col(keyword_col)).alias("__kw"), F.col(label_col)
    )
    max_n = max_phrase_words or int(
        dict_df.agg(
            F.max(F.size(F.split("__kw", " ", -1)))
        ).collect()[0][0]
    )
    toks = docs.select(
        F.col(id_col),
        word_tokens(F.col(text_col)).alias("__toks"),
    )
    shingle_arrays = [word_ngrams(F.col("__toks"), n) for n in range(1, max_n + 1)]
    shingled = toks.select(
        F.col(id_col),
        F.explode(F.flatten(F.array(*shingle_arrays))).alias("__tok"),
    ).filter(F.col("__tok") != "")
    matched = (
        shingled.join(F.broadcast(dict_df), F.col("__tok") == F.col("__kw"))
        .select(id_col, label_col)
        .distinct()
    )
    return (
        docs.select(id_col)
        .join(matched, id_col, "left")
        .select(id_col, label_col)
    )


def keyword_classify_literal(
    docs: DataFrame,
    keyword_pairs: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "label",
) -> DataFrame:
    """Shingle strategy for a PLAN-TIME dictionary: when the keyword
    dictionary is a Python literal (the registry queries' case), the
    whole classifier compiles to narrow per-row expressions — filter
    the shingle array against the literal keyword set, map survivors
    to labels through a literal map, array_distinct, explode_outer.
    Zero joins, zero shuffles; same (id, label) rows as
    ``keyword_classify`` including the NULL-label row for unmatched
    docs (explode_outer of an empty array).

    Requires unique lowercased keywords (duplicate keywords with
    conflicting labels need the join strategy); falls back is the
    caller's job — this raises to make the precondition loud.
    """
    pairs = [(k.lower(), v) for k, v in keyword_pairs if k and k.lower()]
    if len({k for k, _ in pairs}) != len(pairs):
        raise ValueError("duplicate keywords: use keyword_classify")
    max_n = max(len(k.split(" ")) for k, _ in pairs)
    toks = docs.select(
        F.col(id_col),
        word_tokens(F.col(text_col)).alias("__toks"),
    )
    # n=1 shingles ARE the token array — skip the sequence/slice/
    # concat_ws rebuild the generic operator pays per token
    shingles = F.col("__toks")
    if max_n > 1:
        shingles = F.flatten(
            F.array(
                shingles,
                *[word_ngrams(F.col("__toks"), n) for n in range(2, max_n + 1)],
            )
        )
    kws = [k for k, _ in pairs]
    label_map = F.create_map(
        *[F.lit(x) for pair in pairs for x in pair]
    )
    matched = F.array_distinct(
        F.transform(
            F.filter(shingles, lambda s: s.isin(*kws)),
            lambda s: F.element_at(label_map, s),
        )
    )
    # a NULL id never matched the join-back in the generic strategy,
    # so it always carried a NULL label — reproduce that exactly
    labels = F.when(F.col(id_col).isNull(), F.lit(None).cast("array<string>")).otherwise(
        matched
    )
    return toks.select(
        F.col(id_col), F.explode_outer(labels).alias(label_col)
    )


def keyword_classify_nlj(
    docs: DataFrame,
    keywords: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keyword_col: str = "keyword",
    label_col: str = "label",
) -> DataFrame:
    """Broadcast nested-loop rlike strategy (small corpora only)."""
    cleaned = docs.select(
        F.col(id_col), normalized_text(F.col(text_col)).alias("__txt")
    )
    dict_df = keywords.select(
        F.lower(F.col(keyword_col)).alias("__kw"), F.col(label_col)
    )
    pattern = F.concat(F.lit("\\b"), F.col("__kw"), F.lit("\\b"))
    matched = (
        cleaned.join(F.broadcast(dict_df), F.rlike(F.col("__txt"), pattern))
        .select(id_col, label_col)
        .distinct()
    )
    return (
        docs.select(id_col)
        .join(matched, id_col, "left")
        .select(id_col, label_col)
    )
