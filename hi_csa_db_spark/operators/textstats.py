"""Text analysis operators: language-ID, quality scoring, token stats,
document fingerprinting.

Extension surface mandated by BASELINE.json. All pure Catalyst
expressions (regex + higher-order array functions) — the hot path
never leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hi_csa_db_spark.functions.text import strip_punct, tokenize

# tiny marker-word dictionaries for the n-gram/stopword language
# heuristic; deterministic and engine-portable (the point is the
# distributed scoring shape, not linguistic accuracy).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "value"),
    "fr": ("le", "la", "et", "des", "une"),
    "es": ("el", "los", "una", "por", "que"),
    "de": ("der", "die", "und", "ein", "nicht"),
    "zh": ("zh0", "zh1", "zh2", "zh3", "zh4"),
}

STOPWORDS = ("a", "the", "of", "and", "in", "to", "is")


def lang_id(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Marker-token language scoring: (id, predicted_lang).

    LANG_MARKERS is a plan-time constant (a handful of words per
    language), so the whole classifier compiles to narrow per-row
    expressions: filter the token array down to marker tokens, count
    per-language occurrences over that (tiny) array, and take the
    deterministic argmax as array_min over (-hits, lang) structs —
    max hits, ties broken by lexicographically smallest lang, zero
    hits -> 'und'. No explode, no join, no shuffle (the r11 shape
    shuffled every (doc, lang) hit row through a broadcast join plus
    two aggregations for the same answer).
    """
    all_markers = sorted({w for ws in LANG_MARKERS.values() for w in ws})
    staged = docs.select(
        F.col(id_col),
        F.filter(
            tokenize(F.lower(strip_punct(F.col(text_col)))),
            lambda x: x.isin(*all_markers),
        ).alias("__mk"),
    )
    def _hits(ws: tuple[str, ...]):
        # NB: the lambda must take exactly one arg — F.filter treats a
        # second parameter (even a default) as the element index
        return F.size(F.filter(F.col("__mk"), lambda x: x.isin(*ws)))

    cands = F.array(
        *[
            F.struct(
                (-_hits(ws)).alias("nh"),
                F.lit(lang).alias("lang"),
            )
            for lang, ws in sorted(LANG_MARKERS.items())
        ]
    )
    best = F.array_min(F.filter(cands, lambda c: c["nh"] < 0))["lang"]
    # a NULL id row can never match the old argmax left-join back to
    # docs, so it always predicted 'und' — reproduce that exactly
    return staged.select(
        id_col,
        F.when(F.col(id_col).isNull(), F.lit("und"))
        .otherwise(F.coalesce(best, F.lit("und")))
        .alias("predicted_lang"),
    )


def quality_score(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Heuristic quality features + composite score per document.

    Features follow the standard pretraining-data recipe (length,
    punctuation density, stopword ratio, mean word length); the
    composite is a fixed linear blend. Narrow map, no shuffle.

    r12: the token array and the scalar counts are STAGED as their own
    projection columns before the ratio/score projection. Inlined, the
    ratio expressions referenced the tokenize chain ~8x and
    higher-order-function lambdas run interpreted with no codegen CSE
    (the x80/x82 gram-wall mechanism), so the full
    regexp_replace->split->filter pipeline re-ran per reference —
    measured 1.40 s -> 0.60 s at sf0.1 with identical values.
    CollapseProject keeps the stage boundaries because each staged
    column is referenced more than once.
    """
    staged = docs.select(
        F.col(id_col),
        F.col(text_col).alias("__t"),
        tokenize(F.lower(strip_punct(F.col(text_col)))).alias("__toks"),
    )
    t = F.col("__t")
    toks = F.col("__toks")
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[^a-zA-Z0-9\s]", ""))
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    mean_wlen = F.when(
        n_tokens > 0,
        F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
        / n_tokens.cast("double"),
    ).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars.cast("double")).otherwise(0.0)
    stop_ratio = F.when(n_tokens > 0, n_stop / n_tokens.cast("double")).otherwise(0.0)
    score = (
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.4
        + (1 - punct_ratio) * 0.3
        + stop_ratio * 0.2
        + F.least(mean_wlen / F.lit(10.0), F.lit(1.0)) * 0.1
    )
    return staged.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        # scale 9: the blend of small-denominator ratios can land
        # exactly on a 6-dp rounding tie (engines disagree on ties);
        # at 9 dp those terminating decimals sit on lattice points.
        F.round(score, 9).alias("quality_score"),
    )


def token_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Token counting: whitespace tokens, BPE-ish regex pieces, distinct.

    The regex piece count splits words / digits / other symbols — a
    cheap proxy for subword token counts used in data budgeting.
    """
    t = F.col(text_col)
    ws_tokens = tokenize(t)
    pieces = F.expr(
        f"regexp_extract_all({text_col}, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\\\s]', 0)"
    )
    return docs.select(
        F.col(id_col),
        F.size(ws_tokens).alias("ws_tokens"),
        F.size(pieces).alias("regex_tokens"),
        F.size(F.array_distinct(ws_tokens)).alias("distinct_tokens"),
    )


def fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    keep: int = 5,
) -> DataFrame:
    """k-min content fingerprints: the ``keep`` smallest POLYNOMIAL
    ROLLING HASHES (base-31 mod 1e9+7 over character codepoints) of
    all character k-grams, exploded to (id, fp) rows — the winnowing
    fingerprint construction (Schleimer et al. 2003, SIGMOD).

    r4: the hash moved from md5-per-gram to the polynomial form — the
    actual rolling-hash definition (and ~10x cheaper: k integer
    multiply-adds per gram inside whole-stage codegen vs a full md5,
    plus bigint array sorts instead of 32-char-string sorts). The
    arithmetic is pure bigint, bit-identical on every engine, and the
    DuckDB oracle replays it term for term. Two docs sharing
    fingerprints share content blocks."""
    # Decompose to a codepoint array ONCE (substring(text, i, 1) inside
    # the gram loop is O(i) per access on UTF8 strings -> O(len^2) per
    # doc; element_at on the array is O(1)). Texts shorter than k are
    # space-padded so every index is in bounds under ANSI element_at,
    # mirrored exactly in the oracle.
    inner = "element_at(__cps, i)"
    for j in range(1, k):
        inner = f"({inner} * 31 + element_at(__cps, i+{j}))"
    # rpad TRUNCATES when the target length is shorter than the text
    # (both engines!), so pad to greatest(length, k) — identity for
    # normal docs, k spaces-padded for short ones.
    cps = (
        f"transform(split(rpad({text_col},"
        f" greatest(length({text_col}), {k}), ' '), ''),"
        " c -> CAST(ascii(c) AS BIGINT))"
    )
    grams = F.expr(
        f"transform(sequence(1, size(__cps) - {k - 1}),"
        f" i -> {inner} % 1000000007)"
    )
    return docs.select(
        F.col(id_col), F.expr(cps).alias("__cps")
    ).select(
        F.col(id_col),
        F.explode(F.slice(F.array_sort(grams), 1, keep)).alias("fp"),
    )


# PII patterns (the scrub pass every public training corpus runs).
# Both regexes use only syntax shared by Spark and DuckDB/RE2.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"
PHONE_RE = r"[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]"


def pii_scrub(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Redact emails and phone-shaped digit runs, keeping redaction
    counts: (id, scrubbed, n_emails, n_phones). Pure regexp_replace /
    regexp_extract_all — JVM-side, embarrassingly parallel, no shuffle.
    Count emails BEFORE phones so an address like user555-1234@x.org
    is classified once (email wins), matching the replace order."""
    emails = F.size(F.regexp_extract_all(F.col(text_col), F.lit(EMAIL_RE), 0))
    scrub1 = F.regexp_replace(F.col(text_col), EMAIL_RE, "<EMAIL>")
    phones = F.size(F.regexp_extract_all(scrub1, F.lit(PHONE_RE), 0))
    return docs.select(
        F.col(id_col),
        F.regexp_replace(scrub1, PHONE_RE, "<PHONE>").alias("scrubbed"),
        emails.alias("n_emails"),
        phones.alias("n_phones"),
    )


def gopher_keep(n_words: Column, mean_word_len: Column, frac_alpha: Column) -> Column:
    """The Gopher rule gate: 10-100000 words, mean word length 3-10,
    at least 80% of words alphabetic."""
    return (
        (n_words >= 10)
        & (n_words <= 100000)
        & (mean_word_len >= 3)
        & (mean_word_len <= 10)
        & (frac_alpha >= 0.8)
    )


def quality_rules(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style document quality gates: (id, n_words,
    mean_word_len, frac_alpha_words, keep). One explode + one groupBy
    (partial aggregation map-side); ``keep`` is ``gopher_keep`` on the
    6-dp rounded means, the form the x12 oracle pins."""
    toks = docs.select(
        F.col(id_col),
        F.explode(tokenize(F.lower(strip_punct(F.col(text_col))))).alias("w"),
    ).filter(F.col("w") != "")
    stats = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.round(F.avg(F.length("w")), 6).alias("mean_word_len"),
        F.round(
            F.avg(F.when(F.col("w").rlike("[a-z]"), 1.0).otherwise(0.0)), 6
        ).alias("frac_alpha_words"),
    )
    keep = gopher_keep(
        F.col("n_words"), F.col("mean_word_len"), F.col("frac_alpha_words")
    )
    return stats.select(
        id_col, "n_words", "mean_word_len", "frac_alpha_words",
        keep.cast("int").alias("keep"),
    )


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Repetition signals used to drop boilerplate/TV-static docs:
    (id, dup_sentence_frac, top_bigram_frac).

    dup_sentence_frac = 1 - distinct/total sentences ('. ' split);
    top_bigram_frac = occurrences of the most frequent word bigram /
    total bigrams. Two explode+groupBy legs joined on id — both
    map-side combinable; no per-doc collect."""
    sents = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), r"\. ", -1)).alias("s"),
    ).filter(F.col("s") != "")
    sent_stats = sents.groupBy(id_col).agg(
        F.round(
            1.0 - F.countDistinct("s") / F.count(F.lit(1)), 6
        ).alias("dup_sentence_frac")
    )
    toks = docs.select(
        F.col(id_col),
        tokenize(F.lower(strip_punct(F.col(text_col)))).alias("__toks"),
    )
    bigrams = toks.select(
        id_col,
        F.explode(
            F.filter(
                F.transform(
                    F.sequence(F.lit(0), F.greatest(F.size("__toks") - 2, F.lit(0))),
                    lambda i: F.concat_ws(" ", F.slice("__toks", i + 1, 2)),
                ),
                lambda s: s.rlike(" "),  # drop the ragged tail 1-grams
            )
        ).alias("bg"),
    )
    per_bigram = bigrams.groupBy(id_col, "bg").agg(F.count(F.lit(1)).alias("c"))
    bigram_stats = per_bigram.groupBy(id_col).agg(
        F.round(F.max("c") / F.sum("c"), 6).alias("top_bigram_frac")
    )
    return (
        docs.select(id_col)
        .join(sent_stats, id_col, "left")
        .join(bigram_stats, id_col, "left")
        .select(
            id_col,
            F.coalesce("dup_sentence_frac", F.lit(0.0)).alias("dup_sentence_frac"),
            F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
        )
    )


def tokenizer_fertility(
    docs: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenizer fertility per language — the tokenizer-evaluation
    stat (subword tokens per whitespace word, bytes per subword
    token) that decides whether a tokenizer under-serves a language
    before any training run. Ratios are exact integer micro-units
    (sum*1e6 div sum — floor division over bigint sums, no float).

    Shape: one narrow per-doc projection (counts inside whole-stage
    codegen) + one hash aggregate on the tiny language key."""
    t = F.col(text_col)
    per_doc = docs.select(
        F.col(lang_col),
        F.size(tokenize(t)).cast("bigint").alias("__ws"),
        F.size(
            F.expr(
                f"regexp_extract_all({text_col}, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\\\s]', 0)"
            )
        )
        .cast("bigint")
        .alias("__rt"),
        F.octet_length(t).cast("bigint").alias("__b"),
    )
    return (
        per_doc.groupBy(lang_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__ws").alias("ws_tokens"),
            F.sum("__rt").alias("regex_tokens"),
            F.sum("__b").alias("bytes_total"),
        )
        .select(
            lang_col,
            "n_docs",
            "ws_tokens",
            "regex_tokens",
            "bytes_total",
            F.expr("(regex_tokens * 1000000) div nullif(ws_tokens, 0)")
            .cast("bigint")
            .alias("fertility_micro"),
            F.expr("(bytes_total * 1000000) div nullif(regex_tokens, 0)")
            .cast("bigint")
            .alias("bytes_per_token_micro"),
        )
    )
