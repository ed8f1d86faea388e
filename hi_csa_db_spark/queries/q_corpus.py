"""LLM training-data corpus text ops (x*): tokens, quality, PII, contamination, BPE, fingerprints, decontamination.

Importing this module registers its queries in the package registry
(``hi_csa_db_spark.queries``) in source order."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hi_csa_db_spark.catalog import load_table, local_frame, spread_input
from hi_csa_db_spark.functions.hashing import hex_to_long, md5_hex
from hi_csa_db_spark.functions.text import tokenize, word_tokens
from hi_csa_db_spark.operators import dedup, ordered, textstats

from hi_csa_db_spark.queries import _ORACLES, _register
from hi_csa_db_spark.queries._shared import (
    _BUCKET_LADDER_SQL,
    _CLS_STOPWORDS_SQL,
    _EVAL_GRAMS_SQL,
    _MARKER_VALUES,
    _SHINGLE_SQL,
    _TOKS_SQL,
    _X20_SCORED_SQL,
    _bpe_train_oracle_sql,
    _cos_sql,
    _eval_split_hits,
    _lang_quantile_gate,
    _text_block_key,
    _x27_oracle,
)


@_register(
    "x1_token_explode_topk",
    """
    WITH toks AS (
      SELECT unnest(list_filter(
        string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '')) AS token
      FROM documents
    )
    SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token
    ORDER BY cnt DESC, token ASC LIMIT 20
    """,
)
def x1_token_explode_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/X2: nested explode + aggregation (the reference's per-
    paragraph link expansion, hi-csa-db.Rmd:197-211, re-expressed as
    explode -> groupBy; the nested dict never materializes)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.explode(word_tokens(F.col("text"))).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(20)
    )


@_register(
    "x2_lang_id",
    f"""
    WITH markers AS (SELECT * FROM (VALUES {_MARKER_VALUES}) t(tok, lang)),
    toks AS (
      SELECT doc_id, unnest(list_filter(
        string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '')) AS tok
      FROM documents
    ),
    scores AS (
      SELECT t.doc_id, m.lang, COUNT(*) AS hits
      FROM toks t JOIN markers m ON t.tok = m.tok
      GROUP BY t.doc_id, m.lang
    ),
    best AS (
      SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang ASC) AS rn
        FROM scores
      ) WHERE rn = 1
    )
    SELECT d.doc_id, COALESCE(b.lang, 'und') AS predicted_lang
    FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
    """,
)
def x2_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language identification (broadcast join + argmax)."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.lang_id(docs)


@_register(
    "x3_quality_score",
    f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS_SQL} AS toks,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS n_punct
      FROM documents
    ),
    f AS (
      SELECT doc_id, n_chars, len(toks) AS n_tokens,
             CASE WHEN n_chars > 0 THEN n_punct / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS punct_ratio,
             CASE WHEN len(toks) > 0 THEN
               len(list_filter(toks, x -> x IN ('a','the','of','and','in','to','is')))
               / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS stop_ratio,
             CASE WHEN len(toks) > 0 THEN
               list_aggregate(list_transform(toks, x -> length(x)), 'sum')
               / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS mean_wlen
      FROM t
    )
    SELECT doc_id, n_chars, n_tokens,
           ROUND(punct_ratio, 6) AS punct_ratio,
           ROUND(stop_ratio, 6) AS stopword_ratio,
           ROUND(mean_wlen, 6) AS mean_word_len,
           ROUND(least(n_tokens / 100.0, 1.0) * 0.4 + (1 - punct_ratio) * 0.3
                 + stop_ratio * 0.2 + least(mean_wlen / 10.0, 1.0) * 0.1, 9) AS quality_score
    FROM f
    """,
)
def x3_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining-style document quality features + composite score."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.quality_score(docs)


@_register(
    "x4_token_stats",
    r"""
    SELECT doc_id,
           len(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]')) AS regex_tokens,
           len(list_distinct(list_filter(string_split(trim(text), ' '), x -> x <> ''))) AS distinct_tokens
    FROM documents
    """,
)
def x4_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, BPE-ish regex pieces,
    distinct tokens — the data-budgeting primitives."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.token_stats(docs)


@_register(
    "x5_fingerprints",
    """
    WITH fcp AS (
      SELECT doc_id,
             list_transform(string_split(rpad(text, CAST(greatest(length(text), 8) AS INT), ' '), ''),
                            c -> CAST(ascii(c) AS BIGINT)) AS cps
      FROM documents
    )
    SELECT doc_id, unnest(list_sort(
      list_transform(range(1, len(cps) - 7 + 1),
                     i -> (((((((cps[i] * 31 + cps[i+1]) * 31 + cps[i+2]) * 31 + cps[i+3]) * 31 + cps[i+4]) * 31 + cps[i+5]) * 31 + cps[i+6]) * 31 + cps[i+7]) % 1000000007)
    )[1:5]) AS fp
    FROM fcp
    """,
)
def x5_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-min ROLLING-HASH fingerprints (winnowing, Schleimer 2003)
    over char 8-grams — base-31 polynomial mod 1e9+7, pure bigint
    arithmetic on both engines (r4: was md5-per-gram).

    The per-char hash transform runs after ``spread_input`` (SCALE.md
    "THE partition-sizing rule")."""
    docs = spread_input(load_table(spark, sf_dir, "documents"), "doc_id")
    return textstats.fingerprints(docs, k=8, keep=5)


@_register(
    "x10_sparse_cosine_topk",
    """
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(
        string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '')) AS tok
      FROM documents
    ),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
    df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY tok),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM tf),
    w AS (
      SELECT tf.doc_id, tf.tok, tf.tf * ln((SELECT n_docs FROM n) / df.df) AS w
      FROM tf JOIN df ON tf.tok = df.tok WHERE df.df > 1 AND df.df <= 100
    ),
    norms AS (SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM w GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.w * b.w) AS dot
      FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(dot / (na.nrm * nb.nrm), 6) AS cos_sim
    FROM dots JOIN norms na ON na.doc_id = id_a
              JOIN norms nb ON nb.doc_id = id_b
    WHERE na.nrm > 0 AND nb.nrm > 0
    ORDER BY cos_sim DESC, id_a ASC, id_b ASC LIMIT 20
    """,
)
def x10_sparse_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARSE-vector cosine similarity over TF-IDF document vectors:
    inverted-index token join computes only the nonzero dot-product
    terms — the all-pairs text-similarity path when documents are bags
    of words, complementing the dense-embedding tier (s1/s2).
    Zero-df-weight tokens (df == 1 contribute to no pair) are pruned
    BEFORE the join, and so are stopword-like tokens (df > 100): a
    token in m docs emits m^2 dot-product rows, so the df cap bounds
    the join fan-out regardless of corpus skew — those tokens carry
    near-zero IDF weight anyway. Mirrored exactly in the oracle.

    The corpus size n_docs enters the plan as a broadcast 1-row
    aggregate (crossJoin), NOT a driver-side ``.count()``: no extra
    Spark job before the action, no scheduling barrier at fleet scale,
    and the whole thing stays one lazy plan."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(word_tokens(F.col("text"))).alias("tok"),
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n = tf.agg(F.countDistinct("doc_id").cast("double").alias("n_docs"))
    w = (
        tf.join(df_, "tok")
        .filter((F.col("df") > 1) & (F.col("df") <= 100))
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias("w"),
        )
    )
    norms = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    a = w.select(F.col("doc_id").alias("id_a"), "tok", F.col("w").alias("wa"))
    b = w.select(F.col("doc_id").alias("id_b"), "tok", F.col("w").alias("wb"))
    dots = (
        a.join(b, "tok")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("id_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("id_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            "id_a",
            "id_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("id_a").asc(), F.col("id_b").asc())
        .limit(20)
    )


@_register(
    "x9_udtf_sentences",
    """
    WITH parts AS (
      SELECT doc_id,
             generate_subscripts(string_split(text, '. '), 1) - 1 AS pos,
             unnest(string_split(text, '. ')) AS sentence
      FROM documents
    )
    SELECT doc_id, pos, sentence FROM parts WHERE sentence <> ''
    """,
)
def x9_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) via LATERAL join: one row per
    sentence with its ordinal — the UDTF third of the UDF/UDAF/UDTF
    surface (SURVEY section 2.9), value-checked against a SQL
    re-derivation."""
    from hi_csa_db_spark.functions.udxf import SplitSentences

    spark.udtf.register("split_sentences", SplitSentences)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("__docs_udtf")
    return spark.sql(
        "SELECT d.doc_id, s.pos, s.sentence "
        "FROM __docs_udtf d, LATERAL split_sentences(d.text) s"
    )


@_register(
    "x8_bigram_counts",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(
        string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '') AS t
      FROM documents
    ),
    bg AS (
      SELECT unnest(list_transform(range(1, len(t)), i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1])) AS bigram
      FROM toks WHERE len(t) >= 2
    )
    SELECT bigram, COUNT(*) AS n
    FROM bg GROUP BY bigram
    ORDER BY n DESC, bigram ASC LIMIT 30
    """,
)
def x8_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram counts, top-30 (count-desc, bigram tie-break) —
    the n-gram LM statistics pass; ALL occurrences counted (unlike the
    dedup tier's distinct shingles)."""
    docs = load_table(spark, sf_dir, "documents")
    t = word_tokens(F.col("text"))
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("__t") - 1),
        lambda i: F.concat_ws(
            " ", F.element_at("__t", i), F.element_at("__t", i + 1)
        ),
    )
    return (
        docs.select(t.alias("__t"))
        .filter(F.size("__t") >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(30)
    )


@_register(
    "x7_posexplode",
    """
    WITH t AS (
      SELECT doc_id, list_filter(
        string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '') AS toks
      FROM documents
    )
    SELECT doc_id,
           generate_subscripts(toks, 1) - 1 AS pos,
           unnest(toks) AS tok
    FROM t WHERE len(toks) > 0
    """,
)
def x7_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: token stream WITH ordinal positions — the ordered
    flatten every sequence-model featurizer needs (explicit position,
    SURVEY section 7 step 3 design rule)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = word_tokens(F.col("text"))
    return (
        docs.select("doc_id", toks.alias("__toks"))
        .filter(F.size("__toks") > 0)
        .select("doc_id", F.posexplode("__toks").alias("pos", "tok"))
    )


@_register(
    "x6_tfidf_topk",
    """
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(
        string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '')) AS tok
      FROM documents
    ),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
    df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             ROUND(tf.tf * ln((SELECT n_docs FROM n) / df.df), 6) AS tfidf
      FROM tf JOIN df ON tf.tok = df.tok
    ),
    ranked AS (
      SELECT doc_id, tok, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) AS rnk
      FROM scored
    )
    SELECT doc_id, tok, tfidf, rnk FROM ranked WHERE rnk <= 3
    """,
)
def x6_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document: token explode -> TF (map-side
    combined) -> DF join -> log weighting -> per-doc top-k window.
    Scores rounded BEFORE ranking with a term tie-break, so the top-k
    set is engine-stable. The core text-featurization op of a training
    pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(word_tokens(F.col("text"))).alias("tok"),
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    # Corpus size as a broadcast 1-row aggregate, not an eager driver
    # action: keeps the whole query a single lazy plan (no extra job /
    # scheduling barrier before the real action).
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(df_, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias(
                "tfidf"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("tok").asc())
    return (
        scored.select("doc_id", "tok", "tfidf", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 3)
    )


# ---------------------------------------------------------------------------
# Training-corpus hygiene tier 2 (round 2): PII scrub, Gopher-style
# quality gates, repetition filters, binary-embedding ANN
# ---------------------------------------------------------------------------


@_register(
    "x11_pii_scrub",
    """
    WITH noisy AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR) ||
             '@example.org or call 555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
      FROM documents
    ),
    e AS (
      SELECT doc_id,
             len(regexp_extract_all(raw,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+', 0)) AS n_emails,
             regexp_replace(raw,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+',
                 '<EMAIL>', 'g') AS s1
      FROM noisy
    )
    SELECT doc_id,
           regexp_replace(s1, '[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]',
                          '<PHONE>', 'g') AS scrubbed,
           n_emails,
           len(regexp_extract_all(s1,
               '[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]', 0)) AS n_phones
    FROM e
    """,
)
def x11_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails, phone-shaped digit runs) with counts —
    the scrub pass every public training corpus runs before release.
    Deterministic synthetic PII is appended per doc so the fixtures
    exercise both patterns; pure regexp expressions, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.org or call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    noisy = docs.select("doc_id", raw.alias("text"))
    return textstats.pii_scrub(noisy)


@_register(
    "x12_quality_rules",
    """
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(
        string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '')) AS w
      FROM documents
    ),
    stats AS (
      SELECT doc_id, COUNT(*) AS n_words,
             ROUND(AVG(length(w)), 6) AS mean_word_len,
             ROUND(AVG(CASE WHEN regexp_matches(w, '[a-z]') THEN 1.0 ELSE 0.0 END), 6)
               AS frac_alpha_words
      FROM toks GROUP BY doc_id
    )
    SELECT doc_id, n_words, mean_word_len, frac_alpha_words,
           CAST(n_words >= 10 AND n_words <= 100000
                AND mean_word_len >= 3 AND mean_word_len <= 10
                AND frac_alpha_words >= 0.8 AS INT) AS keep
    FROM stats
    """,
)
def x12_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality gates (word-count window, mean word
    length, alphabetic-word fraction) with a keep flag — the
    rule-based filter stage of a training pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.quality_rules(docs)


@_register(
    "x13_repetition_stats",
    """
    WITH sents AS (
      SELECT doc_id, s FROM (
        SELECT doc_id, unnest(string_split(text, '. ')) AS s FROM documents
      ) WHERE s <> ''
    ),
    ss AS (
      SELECT doc_id,
             ROUND(1.0 - CAST(COUNT(DISTINCT s) AS DOUBLE) / COUNT(*), 6)
               AS dup_sentence_frac
      FROM sents GROUP BY doc_id
    ),
    toks AS (
      SELECT doc_id, list_filter(
        string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '') AS ws
      FROM documents
    ),
    bgs AS (
      SELECT doc_id, w || ' ' || lead_w AS bg FROM (
        SELECT doc_id, w, pos,
               LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS lead_w
        FROM (SELECT doc_id, generate_subscripts(ws, 1) AS pos,
                     unnest(ws) AS w FROM toks)
      ) WHERE lead_w IS NOT NULL
    ),
    pb AS (SELECT doc_id, bg, COUNT(*) AS c FROM bgs GROUP BY doc_id, bg),
    bs AS (
      SELECT doc_id, ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_bigram_frac
      FROM pb GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(ss.dup_sentence_frac, 0.0) AS dup_sentence_frac,
           COALESCE(bs.top_bigram_frac, 0.0) AS top_bigram_frac
    FROM documents d
    LEFT JOIN ss ON ss.doc_id = d.doc_id
    LEFT JOIN bs ON bs.doc_id = d.doc_id
    """,
)
def x13_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals (duplicate-sentence fraction, top-bigram
    dominance) — the boilerplate/spam detector stage of corpus
    curation."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.repetition_stats(docs)


@_register(
    "x14_contamination",
    """
    WITH evald AS (SELECT * FROM documents WHERE doc_id % 97 = 0),
    corpus AS (SELECT * FROM documents WHERE doc_id % 97 <> 0),
    eg AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id, unnest(list_transform(
          range(1, greatest(len(ws) - 4, 0) + 1),
          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS g
        FROM (SELECT doc_id, list_filter(
                string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
                x -> x <> '') AS ws
              FROM evald)
        WHERE len(ws) >= 5
      )
    ),
    cg AS (
      SELECT DISTINCT g FROM (
        SELECT unnest(list_transform(
          range(1, greatest(len(ws) - 4, 0) + 1),
          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS g
        FROM (SELECT list_filter(
                string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
                x -> x <> '') AS ws
              FROM corpus)
        WHERE len(ws) >= 5
      )
    )
    SELECT eg.doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN cg.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           ROUND(CAST(SUM(CASE WHEN cg.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS contamination_frac
    FROM eg LEFT JOIN cg ON cg.g = eg.g
    GROUP BY eg.doc_id
    """,
)
def x14_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: fraction of an eval doc's
    distinct word 5-grams that appear anywhere in the training corpus
    (the decontamination check every LLM data pipeline runs before a
    release). Eval set = doc_id % 97 == 0 (deterministic holdout).

    Scale shape: membership is a semi-style join against the DISTINCT
    corpus-gram set — never a doc-pair explosion, so hot grams cost
    one row each; two map-side-combinable aggregations total."""
    docs = load_table(spark, sf_dir, "documents")
    evald = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    eg = dedup.shingles(evald, n=5).withColumnRenamed("shingle", "g")
    cg = dedup.shingles(corpus, n=5).select("shingle").distinct().select(
        F.col("shingle").alias("g"), F.lit(1).alias("__hit")
    )
    return (
        eg.join(cg, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("long")
            .alias("n_hit"),
            F.round(
                F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                / F.count(F.lit(1)),
                6,
            ).alias("contamination_frac"),
        )
    )


@_register(
    "x15_bigram_logprob",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(
        string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '') AS ws
      FROM documents
    ),
    bgs AS (
      SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
      FROM toks, LATERAL (SELECT unnest(range(1, len(ws))) AS i)
      WHERE len(ws) >= 2
    ),
    bc AS (SELECT w1, w2, COUNT(*) AS c2 FROM bgs GROUP BY w1, w2),
    uc AS (SELECT w1, COUNT(*) AS c1 FROM bgs GROUP BY w1)
    SELECT g.doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(AVG(ln(CAST(bc.c2 AS DOUBLE) / uc.c1)), 6) AS avg_logprob
    FROM bgs g JOIN bc ON bc.w1 = g.w1 AND bc.w2 = g.w2
               JOIN uc ON uc.w1 = g.w1
    GROUP BY g.doc_id
    """,
)
def x15_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM fluency scoring: average log P(w2|w1) per document
    under the corpus's own bigram MLE — the cheap statistical-quality
    signal (gibberish and boilerplate score far from the mode) used to
    rank documents before expensive model-based filtering.

    Two count aggregations + two equi-joins on token keys; every
    aggregate is map-side combinable and the count tables are
    Zipf-small relative to the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        word_tokens(F.col("text")).alias("__toks"),
    ).filter(F.size("__toks") >= 2)
    bgs = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("__toks") - 2),
                lambda i: F.struct(
                    F.element_at("__toks", i + 1).alias("w1"),
                    F.element_at("__toks", i + 2).alias("w2"),
                ),
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    bc = bgs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    uc = bgs.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    return (
        bgs.join(bc, ["w1", "w2"])
        .join(uc, "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.avg(F.log(F.col("c2").cast("double") / F.col("c1"))), 6
            ).alias("avg_logprob"),
        )
    )


@_register(
    "x19_chunk_dedup",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(
        string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '') AS toks
      FROM documents
    ),
    nc AS (
      SELECT doc_id, toks,
             greatest(CAST(ceil(len(toks) / 8.0) AS BIGINT), 1) AS n_chunks
      FROM toks
    ),
    chunks AS (
      SELECT doc_id,
             unnest(range(0, n_chunks)) AS chunk_idx,
             unnest(list_transform(range(0, n_chunks),
                    i -> array_to_string(toks[i*8+1:i*8+8], ' '))) AS chunk
      FROM nc
    ),
    flagged AS (
      SELECT doc_id, chunk_idx, chunk,
             ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) = 1 AS keep
      FROM chunks WHERE chunk <> ''
    )
    SELECT doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(COALESCE(string_agg(CASE WHEN keep THEN chunk END, '|' ORDER BY chunk_idx), '')) AS kept_md5
    FROM flagged GROUP BY doc_id
    """,
)
def x19_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level (CCNet-style) dedup: repeated fixed-width token
    chunks are dropped except their corpus-global first occurrence
    (min (doc_id, position) — deterministic survivor rule), then each
    document reports (n_chunks, n_kept, md5 of the surviving text).
    The span granularity catches boilerplate shared across otherwise
    distinct documents — the case whole-document dedup (d1/d2) misses.

    Scale: one shuffle partitioned by chunk content for the
    first-occurrence window, one by document for reassembly — see
    operators/dedup.py::chunk_dedup."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.chunk_dedup(docs, width=8)


@_register(
    "x20_quality_classifier",
    f"WITH {_X20_SCORED_SQL} SELECT doc_id, n_words, logit_micro, keep FROM scored",
)
def x20_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering: a broadcast LINEAR classifier
    (fixed logistic-regression weights over the Gopher-style features)
    scored entirely in Catalyst — the fastText-classifier stage of a
    training pipeline reduced to its distributed-execution shape:
    per-doc feature aggregation (one explode + one map-combined
    groupBy) followed by a narrow scoring projection.

    ENVIRONMENT-PROOF scoring (r4): the logit is a rational with
    denominator 50*n_words, so p50n = 50n*logit is an exact bigint of
    the four integer feature sums; keep = (p50n >= 0) and logit_micro
    = floor(1e6*logit) are pure integer arithmetic — no double ROUND,
    no libm, identical on every host. Weights would arrive as a
    broadcast side input at fleet scale; scoring cost is independent
    of model delivery."""
    docs = load_table(spark, sf_dir, "documents")
    # explode an expression, not the bare column: over a bare column
    # Catalyst infers size(__toks) > 0 and pushes it, tokenizer and
    # all, below the tokenizer's spread exchange onto the scan's task
    toks = dedup._doc_tokens(docs, "doc_id", "text").select(
        "doc_id", F.explode(F.filter("__toks", lambda w: w != "")).alias("w")
    )
    feats = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.length("w")).cast("long").alias("sum_len"),
        F.sum(F.when(F.col("w").rlike("[a-z]"), 1).otherwise(0))
        .cast("long")
        .alias("n_alpha"),
        F.sum(F.when(F.col("w").isin(*textstats.STOPWORDS), 1).otherwise(0))
        .cast("long")
        .alias("n_stop"),
    )
    p50n = (
        F.col("n_words") * F.col("n_words")
        - 150 * F.col("n_words")
        + 30 * F.col("sum_len")
        + 100 * F.col("n_alpha")
        - 200 * F.col("n_stop")
    )
    return feats.withColumn("p50n", p50n).select(
        "doc_id",
        "n_words",
        F.expr(
            "CAST((p50n * 20000 + 10000000L * n_words) div n_words"
            " - 10000000L AS BIGINT)"
        ).alias("logit_micro"),
        (F.col("p50n") >= 0).cast("int").alias("keep"),
    )


def _quality_survivor_drops(
    spark: SparkSession, sf_dir: str, docs: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """The one implementation of d10-style best-quality survivorship,
    shared by the pipe_v3/v4/v5 composites and
    Corpus.dedup_near_keep_best: x20 quality scores + the ids
    survivorship DROPS from each near-dup cluster of ``docs`` (the
    member with the max logit survives, min id on ties). Returns
    (scored, drops); scored is (doc_id, n_words, logit_micro, keep).

    Every frame consumed by more than one downstream stage is lazily
    checkpointed ONCE (scored: survivor selection + final kept join;
    labels: membership + drop list; mem: per-cluster max + join-back)
    — without this the composite re-derives the whole
    LSH -> components -> scoring lineage per consumer (45 Exchanges /
    9 parquet scans in pipe_v3's r6 plan; VERDICT r6 item 4). At
    cluster scale each checkpoint is a doc- or cluster-sized frame
    that must materialize anyway for its first consumer."""
    scored = (
        x20_quality_classifier(spark, sf_dir)
        .select("doc_id", "n_words", "logit_micro", "keep")
        .localCheckpoint(eager=False)
    )
    labels = dedup.near_dup_clusters(dedup.minhash_lsh_dedup(docs)).localCheckpoint(
        eager=False
    )
    mem = (
        labels.join(
            scored.select(F.col("doc_id").alias("id"), "logit_micro"), "id"
        )
        .select("id", "lbl", "logit_micro")
        .localCheckpoint(eager=False)
    )
    m = mem.groupBy("lbl").agg(F.max("logit_micro").alias("mx"))
    surv = (
        mem.join(m, "lbl")
        .filter(F.col("logit_micro") == F.col("mx"))
        .groupBy("lbl")
        .agg(F.min("id").alias("survivor_id"))
    )
    drops = (
        labels.join(surv, "lbl")
        .filter(F.col("id") != F.col("survivor_id"))
        .select("id")
    )
    return scored, drops


@_register(
    "x25_classifier_auc",
    f"""
    WITH {_X20_SCORED_SQL},
    lab AS (
      SELECT s.doc_id, s.logit_micro,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
      FROM scored s JOIN documents d USING (doc_id)
    ),
    ranked AS (
      SELECT y, ROW_NUMBER() OVER (ORDER BY logit_micro, doc_id) AS rank
      FROM lab
    )
    SELECT CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(SUM(1 - y) AS BIGINT) AS n_neg,
           CAST((SUM(CASE WHEN y = 1 THEN rank ELSE 0 END)
                 - (SUM(y) * (SUM(y) + 1)) // 2) * 1000000
                // (SUM(y) * SUM(1 - y)) AS BIGINT) AS auc_micro
    FROM ranked
    """,
)
def x25_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval harness for the model-based filter: deterministic rank-sum
    (Mann-Whitney) AUC of x20's logit against a weak label (lang='en').
    Ties on the integer logit_micro break by doc_id — a fixed
    convention mirrored on both engines (standard midrank AUC would
    need avg-rank ties; the convention difference is O(ties/n^2) and
    irrelevant for a drift monitor). The metric itself is emitted as
    auc_micro = floor(1e6 * U / (n_pos*n_neg)) — rank sums and the
    division are pure integers (numerator is non-negative since the
    minimum possible positive-rank sum is n_pos(n_pos+1)/2), so no
    float ever crosses the engine boundary (r4 environment-proofing,
    VERDICT r3 item 1).

    Scale shape: the global rank uses ordered.global_row_numbers
    (range-partition + broadcast per-partition offsets), NOT a
    single-partition ORDER BY window — ranking cost stays parallel at
    any corpus size; the final reduction is one scalar aggregate.
    A filtering pipeline runs this continuously to catch classifier
    drift against cheap weak labels."""
    from hi_csa_db_spark.operators import ordered

    docs = load_table(spark, sf_dir, "documents")
    scored = x20_quality_classifier(spark, sf_dir).select("doc_id", "logit_micro")
    lab = scored.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        "logit_micro",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    keyed = lab.withColumn("__k", F.struct(F.col("logit_micro"), F.col("doc_id")))
    ranked = ordered.global_row_numbers(keyed, "__k")
    n_pos = F.sum("y").cast("long")
    n_neg = F.sum(1 - F.col("y")).cast("long")
    sum_rank_pos = (
        F.sum(F.when(F.col("y") == 1, F.col("rank")).otherwise(0)).cast("long")
    )
    return ranked.agg(
        n_pos.alias("n_pos"),
        n_neg.alias("n_neg"),
        sum_rank_pos.alias("__srp"),
    ).select(
        "n_pos",
        "n_neg",
        F.expr(
            "CAST((__srp - (n_pos * (n_pos + 1)) div 2) * 1000000"
            " div (n_pos * n_neg) AS BIGINT)"
        ).alias("auc_micro"),
    )


@_register("x27_bpe_tokenize")
def x27_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BPE tokenizer application (Sennrich et al. 2016): per doc,
    whitespace token count vs count after greedy merge-list
    segmentation — the actual token-budget number a training pipeline
    plans against. Iterative per-word kernel (functions/bpe.py) in
    Arrow-batched mapInPandas with a per-executor distinct-word cache.
    Value-oracled since r4: the greedy apply loop replays in DuckDB as
    a recursive CTE over piece lists (see _x27_oracle), so the
    mapInPandas kernel is hash-checked like every Catalyst query."""
    from hi_csa_db_spark.functions.bpe import bpe_token_counts

    return bpe_token_counts(load_table(spark, sf_dir, "documents"))


_ORACLES["x27_bpe_tokenize"] = _x27_oracle()


@_register(
    "x28_bpe_first_merges",
    """
    WITH words AS (
      SELECT unnest(list_filter(
        string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '')) AS w
      FROM documents
    ),
    pairs AS (
      SELECT unnest(list_transform(range(1, length(w)),
                                   i -> substring(w, CAST(i AS INT), 2))) AS pair
      FROM words WHERE length(w) >= 2
    )
    SELECT pair, COUNT(*) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair ASC LIMIT 20
    """,
)
def x28_bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The counting half of BPE TRAINING: the first merge round picks
    the most frequent adjacent symbol pair — over a corpus that's one
    explode + one map-combined aggregation (later rounds re-count over
    re-segmented text; each round is this same shape). Top-20 pairs,
    count-desc with pair tie-break."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(word_tokens(F.col("text"))).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(20)
    )


@_register(
    "x30_bpe_training_round2",
    """
    WITH words AS (
      SELECT unnest(list_filter(
        string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '')) AS w
      FROM documents
    ),
    pairs1 AS (
      SELECT unnest(list_transform(range(1, length(w)),
                                   i -> substring(w, CAST(i AS INT), 2))) AS pair
      FROM words WHERE length(w) >= 2
    ),
    top1 AS (
      SELECT pair FROM pairs1 GROUP BY pair
      ORDER BY COUNT(*) DESC, pair ASC LIMIT 1
    ),
    reseg AS (
      SELECT replace(w, (SELECT pair FROM top1), chr(1)) AS w2 FROM words
    ),
    sym2 AS (
      SELECT unnest(list_transform(range(1, length(w2)),
                                   i -> substring(w2, CAST(i AS INT), 2))) AS sp
      FROM reseg WHERE length(w2) >= 2
    )
    SELECT replace(sp, chr(1), (SELECT pair FROM top1)) AS pair, COUNT(*) AS n
    FROM sym2 GROUP BY 1
    ORDER BY n DESC, pair ASC LIMIT 20
    """,
)
def x30_bpe_training_round2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE TRAINING round 2, fully in-plan: learn round 1's top merge
    (x28's aggregation, here as a 1-row broadcast), re-segment every
    word by applying it (left-to-right non-overlapping replace — the
    standard BPE application for a single pair), and count adjacent
    SYMBOL pairs of the re-segmented text (the merged pair travels as
    a sentinel char, decoded back in the output). Each further
    training round is exactly this shape — re-segment with the merges
    so far, re-count, take the max — so pinning round 2 value-exactly
    against the oracle pins the loop's step function.

    Scale: two corpus aggregations + one 1-row broadcast per round;
    the re-segmentation is a narrow map."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(word_tokens(F.col("text"))).alias("w"))
    pairs1 = words.filter(F.length("w") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    top1 = (
        pairs1.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(1)
        .select(F.col("pair").alias("__top"))
    )
    reseg = words.crossJoin(F.broadcast(top1)).select(
        F.replace(F.col("w"), F.col("__top"), F.expr("chr(1)")).alias("w2"),
        "__top",
    )
    sym2 = reseg.filter(F.length("w2") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, length(w2) - 1), i -> substring(w2, i, 2))")
        ).alias("sp"),
        "__top",
    )
    return (
        sym2.select(
            F.replace(F.col("sp"), F.expr("chr(1)"), F.col("__top")).alias("pair")
        )
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(20)
    )


@_register("x34_bpe_train_4rounds", _bpe_train_oracle_sql(4))
def x34_bpe_train_4rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL BPE training loop, 4 rounds (generalizes x28's round-1
    count and x30's round-2 step into the actual sequential trainer —
    functions/bpe.bpe_train): per round, count adjacent symbol pairs
    over the re-segmented corpus, take the winner (count desc, decoded
    tie-break), re-segment with a sentinel. Output = the learned merge
    list (round, merge, n), the artifact apply-side BPE (x27) consumes.
    The oracle replays all 4 rounds as one nested-CTE DuckDB query, so
    the whole training trajectory is value-checked, not just one step."""
    from hi_csa_db_spark.functions.bpe import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(word_tokens(F.col("text"))).alias("w"))
    return bpe_train(words, rounds=4)


@_register(
    "x26_quality_quantile_filter",
    f"""
    WITH {_X20_SCORED_SQL},
    lab AS (
      SELECT s.doc_id, s.logit_micro, s.n_words, d.lang
      FROM scored s JOIN documents d USING (doc_id)
    ),
    rk AS (
      SELECT doc_id, lang, logit_micro, n_words,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY logit_micro DESC, doc_id ASC)
               AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM lab
    )
    SELECT lang,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN rn * 10 <= n * 4 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN rn * 10 <= n * 4 THEN n_words ELSE 0 END)
                AS BIGINT) AS kept_tokens
    FROM rk GROUP BY lang
    """,
)
def x26_quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-based quality filtering: keep the top 40% of each
    language slice by classifier logit — the threshold real pipelines
    use (an absolute logit cutoff drifts as the corpus mix shifts; a
    per-slice quantile self-calibrates). The keep test is the pure
    integer rank*1000 <= slice_count*400 of _lang_quantile_gate, over a
    deterministic per-slice rank (logit desc, doc_id ties) — no float
    percentile boundary to disagree across engines.

    Scale: one window pass partitioned by lang (parallel in slices,
    never global) + a 5-group audit aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    scored = x20_quality_classifier(spark, sf_dir).select(
        "doc_id", "logit_micro", "n_words"
    )
    lab = scored.join(docs.select("doc_id", "lang"), "doc_id")
    rk, kept = _lang_quantile_gate(lab)
    return rk.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(kept, F.col("n_words")).otherwise(0)).alias("kept_tokens"),
    )


@_register(
    "x36_syllable_complexity",
    """
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_words,
           len(regexp_extract_all(text, '[aeiouy]+')) AS n_syllables,
           ROUND(CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS DOUBLE)
                 / len(string_split(text, ' ')), 6) AS syll_per_word,
           ROUND(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                 / len(string_split(text, ' ')), 6) AS avg_word_len
    FROM documents
    """,
)
def x36_syllable_complexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Syllable-based lexical complexity (the Flesch-Kincaid numerator
    family): vowel-group count as the standard syllable heuristic,
    syllables-per-word and mean word length per document — quality
    signals orthogonal to x3's length/stopword ratios (they proxy
    READING difficulty, used e.g. for curriculum ordering x33).

    Vowel groups cannot span the space delimiter, so the per-doc
    syllable count is ONE regexp_extract_all over the full text — a
    narrow projection, no explode, no shuffle; integer counts and a
    single rounded division are engine-exact."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split(F.col("text"), " "))
    n_syll = F.size(F.expr("regexp_extract_all(text, '[aeiouy]+', 0)"))
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_syll.alias("n_syllables"),
        F.round(n_syll.cast("double") / n_words, 6).alias("syll_per_word"),
        F.round(
            (F.length(F.col("text")) - (n_words - F.lit(1))).cast("double") / n_words,
            6,
        ).alias("avg_word_len"),
    )


@_register(
    "x37_density_filter",
    f"""
    WITH cents AS (
      SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 8
    ),
    assigned AS (
      SELECT vec_id, centroid_id, cos_c FROM (
        SELECT e.vec_id, c.centroid_id,
               ROUND({_cos_sql('e.embedding', 'c.cv')}, 6) AS cos_c,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY ROUND({_cos_sql('e.embedding', 'c.cv')}, 6) DESC,
                          c.centroid_id ASC
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    ranked AS (
      SELECT vec_id, centroid_id, cos_c,
             ROW_NUMBER() OVER (
               PARTITION BY centroid_id ORDER BY cos_c DESC, vec_id ASC
             ) AS r,
             COUNT(*) OVER (PARTITION BY centroid_id) AS n
      FROM assigned
    )
    SELECT vec_id, centroid_id, cos_c
    FROM ranked WHERE 4 * r > n
    """,
)
def x37_density_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-based curation pruning (the SemDeDup/D4 family's
    PROTOTYPE filter): assign each embedding to its nearest centroid,
    then DROP the top quarter most-prototypical members of every
    cluster (highest cosine to centroid = densest region = most
    redundant), keeping the diverse tail. Complements sem1 (which
    removes near-duplicate PAIRS) — this prunes by cluster density.

    The keep rule is the pure-integer quantile test 4*r > n (no float
    percentile cross-engine). Scale shape: centroid table broadcasts;
    one shuffle on centroid_id for the per-cluster rank window; at
    fleet scale clusters are balanced by construction (k chosen so
    n/k fits a partition), the same layout SCALE.md uses for IVF."""
    from hi_csa_db_spark.functions.vectors import cosine
    from hi_csa_db_spark.operators.similarity import ivf_assign

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding")
    )
    assigned = ivf_assign(emb, cents).join(emb, "vec_id")
    cents_b = cents.select(
        F.col("centroid_id"), F.col("embedding").alias("__cv")
    )
    scored = assigned.join(F.broadcast(cents_b), "centroid_id").select(
        "vec_id",
        "centroid_id",
        F.round(cosine(F.col("embedding"), F.col("__cv")), 6).alias("cos_c"),
    )
    w = Window.partitionBy("centroid_id").orderBy(
        F.col("cos_c").desc(), F.col("vec_id").asc()
    )
    wn = Window.partitionBy("centroid_id")
    ranked = scored.select(
        "vec_id",
        "centroid_id",
        "cos_c",
        F.row_number().over(w).alias("r"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return ranked.filter(4 * F.col("r") > F.col("n")).select(
        "vec_id", "centroid_id", "cos_c"
    )


@_register(
    "x40_source_normalized_quality",
    """
    WITH s AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS x,
             COUNT(*) OVER (PARTITION BY source) AS n,
             SUM(CAST(n_chars AS BIGINT)) OVER (PARTITION BY source) AS sx,
             SUM(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT))
               OVER (PARTITION BY source) AS sxx
      FROM documents
    )
    SELECT doc_id, source, x AS n_chars,
           ROUND(CAST(x * n - sx AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)), 6) AS z
    FROM s WHERE n * sxx > sx * sx
    """,
)
def x40_source_normalized_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE standardization of a quality metric (z-score of
    document length within its source): corpora mix sources with
    wildly different length distributions, so absolute thresholds
    (x12) over-prune some sources — normalizing within source is the
    standard fix before a global cutoff.

    z = (x*n - sum) / sqrt(n*sumsq - sum^2): every term inside the
    final division is an exact BIGINT (integer metric), so both
    engines divide the same two numbers — no float-accumulation
    drift. One shuffle on source for the window aggregates; zero-
    variance sources are excluded by the integer guard. At petabyte
    scale the bigint sumsq accumulator bounds the metric at ~3e9 per
    row for 1e10-row sources; wider metrics go through DECIMAL(38)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source")
    x = F.col("n_chars").cast("bigint")
    s = docs.select(
        "doc_id",
        "source",
        x.alias("x"),
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(x).over(w).alias("sx"),
        F.sum(x * x).over(w).alias("sxx"),
    )
    return (
        s.filter(F.col("n") * F.col("sxx") > F.col("sx") * F.col("sx"))
        .select(
            "doc_id",
            "source",
            F.col("x").alias("n_chars"),
            F.round(
                (F.col("x") * F.col("n") - F.col("sx")).cast("double")
                / F.sqrt(
                    (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                        "double"
                    )
                ),
                6,
            ).alias("z"),
        )
    )


@_register(
    "x41_winsorize",
    """
    WITH r AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS x,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM documents
    ),
    lims AS (
      SELECT source,
             MIN(CASE WHEN rk * 10 >= n THEN x END) AS p10,
             MIN(CASE WHEN rk * 10 >= 9 * n THEN x END) AS p90
      FROM r GROUP BY source
    )
    SELECT r.doc_id, r.source, r.x AS n_chars,
           greatest(lims.p10, least(lims.p90, r.x)) AS clipped
    FROM r JOIN lims ON lims.source = r.source
    """,
)
def x41_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group WINSORIZATION: clip the document-length metric to its
    source's [p10, p90] band — the outlier treatment a robust
    normalization pipeline applies before z-scoring (x40) so a few
    giant documents can't dominate a source's statistics.

    The decile boundaries are pure-INTEGER rank tests (first value
    with rank*10 >= n / >= 9n), never a float percentile — identical
    on both engines and on any executor count. One shuffle on source
    serves the rank window, the boundary aggregate, and the re-join
    (same key throughout)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("source")
    r = docs.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("bigint").alias("x"),
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    lims = r.groupBy("source").agg(
        F.min(F.when(F.col("rk") * 10 >= F.col("n"), F.col("x"))).alias("p10"),
        F.min(F.when(F.col("rk") * 10 >= 9 * F.col("n"), F.col("x"))).alias(
            "p90"
        ),
    )
    return r.join(lims, "source").select(
        "doc_id",
        "source",
        F.col("x").alias("n_chars"),
        F.greatest(
            F.col("p10"), F.least(F.col("p90"), F.col("x"))
        ).alias("clipped"),
    )


@_register(
    "x42_perplexity_buckets",
    """
    WITH toks AS (
      SELECT doc_id, source, list_filter(
        string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '') AS ws
      FROM documents
    ),
    bgs AS (
      SELECT doc_id, source, ws[i] AS w1, ws[i+1] AS w2
      FROM toks, LATERAL (SELECT unnest(range(1, len(ws))) AS i)
      WHERE len(ws) >= 2
    ),
    bc AS (SELECT w1, w2, COUNT(*) AS c2 FROM bgs GROUP BY w1, w2),
    uc AS (SELECT w1, COUNT(*) AS c1 FROM bgs GROUP BY w1),
    scored AS (
      SELECT g.doc_id, MIN(g.source) AS source,
             ROUND(AVG(ln(CAST(bc.c2 AS DOUBLE) / uc.c1)), 6) AS avg_logprob
      FROM bgs g JOIN bc ON bc.w1 = g.w1 AND bc.w2 = g.w2
                 JOIN uc ON uc.w1 = g.w1
      GROUP BY g.doc_id
    ),
    ranked AS (
      SELECT doc_id, source, avg_logprob,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY avg_logprob DESC, doc_id ASC) AS r,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM scored
    )
    SELECT doc_id, source, avg_logprob,
           CASE WHEN r * 3 <= n THEN 'head'
                WHEN r * 3 <= 2 * n THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM ranked
    """,
)
def x42_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: score every document with the
    corpus bigram LM (x15's fluency machinery), then split EACH SOURCE
    into head/middle/tail terciles by score rank — the standard
    curation signal where 'head' feeds training first. Rank windows
    are PARTITIONED by source (CCNet buckets per language the same
    way), so no global single-partition window exists at any scale;
    the integer rank rule (3r <= n, 3r <= 2n) needs no float quantile
    boundaries."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        word_tokens(F.col("text")).alias("__toks"),
    ).filter(F.size("__toks") >= 2)
    bgs = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("__toks") - 2),
                lambda i: F.struct(
                    F.element_at("__toks", i + 1).alias("w1"),
                    F.element_at("__toks", i + 2).alias("w2"),
                ),
            )
        ).alias("bg"),
    ).select("doc_id", "source", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    bc = bgs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    uc = bgs.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    scored = (
        bgs.join(bc, ["w1", "w2"])
        .join(uc, "w1")
        .groupBy("doc_id")
        .agg(
            F.min("source").alias("source"),
            F.round(
                F.avg(F.log(F.col("c2").cast("double") / F.col("c1"))), 6
            ).alias("avg_logprob"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.col("avg_logprob").desc(), F.col("doc_id").asc()
    )
    wn = Window.partitionBy("source")
    ranked = scored.select(
        "doc_id",
        "source",
        "avg_logprob",
        F.row_number().over(w).alias("__r"),
        F.count(F.lit(1)).over(wn).alias("__n"),
    )
    return ranked.select(
        "doc_id",
        "source",
        "avg_logprob",
        F.when(F.col("__r") * 3 <= F.col("__n"), "head")
        .when(F.col("__r") * 3 <= 2 * F.col("__n"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


@_register(
    "x43_cdc_chunk_dedup",
    """
    WITH chunked AS (
      SELECT doc_id,
             list_filter(
               list_transform(range(1, len(bs)),
                              j -> substr(text, bs[j], bs[j+1] - bs[j])),
               c -> c <> '') AS chunks
      FROM (
        SELECT doc_id, text,
               list_concat(list_concat([1], list_filter(
                 range(2, greatest(len(text) - 7, 2) + 1),
                 i -> len(text) >= 9 AND
                      CAST('0x' || substr(md5(substr(text, i, 8)), 1, 4) AS BIGINT)
                      % 16 = 0)), [len(text) + 1]) AS bs
        FROM documents
      )
    ),
    occ AS (SELECT doc_id, md5(unnest(chunks)) AS content_hash FROM chunked)
    SELECT content_hash, COUNT(*) AS n_occ,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM occ GROUP BY content_hash
    ORDER BY n_occ DESC, content_hash ASC LIMIT 20
    """,
)
def x43_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (the rsync/LBFS/storage-dedup
    technique): chunk boundaries are set where a rolling 8-gram
    content hash ≡ 0 (mod 16) — so an INSERTION only reshapes the
    chunks it touches, where x19's fixed-width chunking shifts every
    boundary after the edit point. Top-20 most-repeated chunks across
    the corpus (occurrences + distinct docs). The whole chunker is
    narrow Catalyst array expressions (filter/transform over
    sequence) — no explode until chunks exist, no shuffle before the
    final hash aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.length("text")
    bs = F.concat(
        F.array(F.lit(1)),
        F.filter(
            F.sequence(F.lit(2), F.greatest(n - 7, F.lit(2))),
            lambda i: (n >= 9)
            & (hex_to_long(F.md5(F.substring("text", i, 8)), 4) % 16 == 0),
        ),
        F.array(n + 1),
    )
    chunks = F.expr(
        "filter(transform(sequence(1, size(__bs) - 1),"
        "                 j -> substring(text, element_at(__bs, j),"
        "                                element_at(__bs, j + 1)"
        "                                - element_at(__bs, j))),"
        "       c -> c <> '')"
    )
    occ = (
        docs.select("doc_id", "text", bs.alias("__bs"))
        .select("doc_id", F.explode(chunks).alias("__c"))
        .select("doc_id", F.md5("__c").alias("content_hash"))
    )
    return (
        occ.groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occ").desc(), F.col("content_hash").asc())
        .limit(20)
    )


@_register(
    "x53_span_corruption",
    """
    WITH toks AS (
      SELECT doc_id, t.tok, t.pos
      FROM documents,
      LATERAL (
        SELECT unnest(list_filter(string_split(trim(text), ' '), x -> x <> ''))
                 AS tok,
               generate_subscripts(list_filter(string_split(trim(text), ' '),
                                               x -> x <> ''), 1) - 1 AS pos
      ) t
    ),
    m AS (
      SELECT doc_id, tok, pos,
             CAST('0x' || substring(md5(doc_id || ':' || pos), 1, 2)
                  AS INT) % 5 = 0 AS masked
      FROM toks
    ),
    s AS (
      SELECT doc_id, tok, pos, masked,
             CASE WHEN masked AND NOT COALESCE(
                    LAG(masked) OVER (PARTITION BY doc_id ORDER BY pos), FALSE)
                  THEN 1 ELSE 0 END AS span_start
      FROM m
    ),
    sid AS (
      SELECT doc_id, tok, pos, masked,
             span_start,
             SUM(span_start) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) - 1 AS span_id
      FROM s
    )
    SELECT doc_id,
           string_agg(CASE WHEN NOT masked THEN tok
                           WHEN span_start = 1 THEN '<X' || span_id || '>'
                      END, ' ' ORDER BY pos) AS input_text,
           string_agg(CASE WHEN masked AND span_start = 1
                           THEN '<X' || span_id || '> ' || tok
                           WHEN masked THEN tok
                      END, ' ' ORDER BY pos) AS target_text,
           CAST(COALESCE(MAX(span_id) + 1, 0) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
             AS n_masked_tokens
    FROM sid GROUP BY doc_id
    """,
)
def x53_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption data prep (Raffel et al. 2020): mask
    ~20% of tokens by a DETERMINISTIC md5 keep rule on (doc_id, pos)
    — the same hash both engines compute bit-for-bit — merge adjacent
    masked tokens into spans, and emit the (input_text with <Xn>
    sentinels, target_text with sentinel-prefixed spans) training
    pair plus span/mask counts. The denoising-objective twin of x27's
    BPE tokenize: x27 makes the tokens, this makes the objective.

    Scale shape: one explode + two doc-partitioned window passes
    (parallel in docs) + one per-doc ordered aggregate — the t8
    sequence-materialization shape; nothing global, no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(tokenize(F.col("text"))).alias("pos", "tok"),
    )
    masked = (
        hex_to_long(md5_hex(F.concat_ws(":", F.col("doc_id"), F.col("pos"))), 2) % 5
        == 0
    )
    m = toks.select("doc_id", "tok", "pos", masked.alias("masked"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    span_start = F.when(
        F.col("masked") & ~F.coalesce(F.lag("masked").over(w), F.lit(False)), 1
    ).otherwise(0)
    s = m.select("doc_id", "tok", "pos", "masked", span_start.alias("span_start"))
    sid = s.select(
        "doc_id",
        "tok",
        "pos",
        "masked",
        "span_start",
        (
            F.sum("span_start").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            - 1
        ).alias("span_id"),
    )
    inp_piece = F.when(~F.col("masked"), F.col("tok")).when(
        F.col("span_start") == 1,
        F.concat(F.lit("<X"), F.col("span_id").cast("string"), F.lit(">")),
    )
    tgt_piece = (
        F.when(
            F.col("masked") & (F.col("span_start") == 1),
            F.concat(
                F.lit("<X"), F.col("span_id").cast("string"), F.lit("> "), F.col("tok")
            ),
        )
        .when(F.col("masked"), F.col("tok"))
    )
    grouped = sid.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct("pos", inp_piece.alias("ip"), tgt_piece.alias("tp"))
            )
        ).alias("__raw"),
        (F.coalesce(F.max("span_id") + 1, F.lit(0))).cast("bigint").alias("n_spans"),
        F.sum(F.when(F.col("masked"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_masked_tokens"),
    )
    join_pieces = lambda fld: F.array_join(  # noqa: E731
        F.filter(
            F.transform(F.col("__raw"), lambda x: x[fld]), lambda p: p.isNotNull()
        ),
        " ",
    )
    return grouped.select(
        "doc_id",
        F.when(F.size("__raw") > 0, join_pieces("ip")).alias("input_text"),
        F.when(F.col("n_masked_tokens") > 0, join_pieces("tp")).alias("target_text"),
        "n_spans",
        "n_masked_tokens",
    )


@_register(
    "x50_tokenizer_fertility",
    r"""
    WITH d AS (
      SELECT lang,
             len(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS wst,
             len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]')) AS rt,
             strlen(text) AS b
      FROM documents
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(wst) AS BIGINT) AS ws_tokens,
           CAST(SUM(rt) AS BIGINT) AS regex_tokens,
           CAST(SUM(b) AS BIGINT) AS bytes_total,
           CAST((SUM(rt) * 1000000) // NULLIF(SUM(wst), 0) AS BIGINT)
             AS fertility_micro,
           CAST((SUM(b) * 1000000) // NULLIF(SUM(rt), 0) AS BIGINT)
             AS bytes_per_token_micro
    FROM d GROUP BY lang
    """,
)
def x50_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language (textstats.tokenizer_fertility):
    subword-proxy tokens per whitespace word and bytes per token, as
    exact integer micro-ratios of bigint sums — the
    which-languages-does-the-tokenizer-under-serve report that gates
    tokenizer/vocab choices before a training run."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.tokenizer_fertility(docs)


@_register(
    "x47_priority_dedup",
    """
    WITH k AS (
      SELECT doc_id, source,
             substr(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), 1, 24) AS key,
             CAST(substr(source, 4) AS INTEGER) AS prio
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, source, md5(key) AS group_hash,
             ROW_NUMBER() OVER (PARTITION BY key
                                ORDER BY prio ASC, doc_id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY key) AS n_members
      FROM k
    )
    SELECT group_hash, doc_id AS survivor_id, source AS survivor_source,
           CAST(n_members AS BIGINT) AS n_members
    FROM ranked WHERE rn = 1
    """,
)
def x47_priority_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority-source dedup: within each content group (d15's
    normalized blocking key), keep the document from the MOST TRUSTED
    source (numeric source priority, id tie-break) — the curation rule
    that prefers the curated copy over the crawl copy when both carry
    the same content. One key shuffle; the priority rule is a pure
    window, no joins."""
    docs = load_table(spark, sf_dir, "documents")
    k = docs.select(
        "doc_id",
        "source",
        _text_block_key().alias("key"),
        F.expr("CAST(substr(source, 4) AS INT)").alias("prio"),
    )
    w = Window.partitionBy("key").orderBy(F.col("prio").asc(), F.col("doc_id").asc())
    wn = Window.partitionBy("key")
    return (
        k.select(
            F.md5("key").alias("group_hash"),
            F.col("doc_id").alias("survivor_id"),
            F.col("source").alias("survivor_source"),
            F.row_number().over(w).alias("__rn"),
            F.count(F.lit(1)).over(wn).cast("bigint").alias("n_members"),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


@_register(
    "x46_ngram_novelty",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(
        string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '') AS ws
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
      FROM toks, LATERAL (SELECT unnest(range(1, len(ws) - 1)) AS i)
      WHERE len(ws) >= 3
    ),
    first_seen AS (SELECT g, MIN(doc_id) AS fs FROM grams GROUP BY g)
    SELECT grams.doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN f.fs = grams.doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           ROUND(SUM(CASE WHEN f.fs = grams.doc_id THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
    FROM grams JOIN first_seen f ON f.g = grams.g
    GROUP BY grams.doc_id
    """,
)
def x46_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty curve: per document, the fraction of its
    DISTINCT token 3-grams first seen in THIS document (first
    occurrence = min doc_id over the corpus) — the
    diversity-vs-redundancy signal used to order or downsample a
    corpus so training sees novel content early instead of the
    hundredth near-copy. One gram aggregate (min doc_id, map-side
    combined over the Zipf-small distinct-gram keyspace) re-joined to
    the per-doc gram sets; integer ratio rounded once at the end."""
    docs = load_table(spark, sf_dir, "documents")
    grams = (
        docs.select("doc_id", word_tokens(F.col("text")).alias("ws"))
        .filter(F.size("ws") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 2),"
                    " i -> concat_ws(' ', element_at(ws, i),"
                    "               element_at(ws, i + 1), element_at(ws, i + 2)))"
                )
            ).alias("g"),
        )
        .distinct()
    )
    first_seen = grams.groupBy("g").agg(F.min("doc_id").alias("fs"))
    novel = F.when(F.col("fs") == F.col("doc_id"), 1).otherwise(0)
    return (
        grams.join(first_seen, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(novel).cast("bigint").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_grams").cast("double"), 6).alias(
                "novelty"
            ),
        )
    )


@_register(
    "x56_heaps_law",
    f"""
    WITH d AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    rk AS (
      SELECT doc_id, len(toks) AS n_toks,
             ROW_NUMBER() OVER (ORDER BY doc_id) AS r
      FROM d
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM d),
    dd AS (
      SELECT doc_id, n_toks, CAST((10 * r + nd - 1) // nd AS INT) AS dec
      FROM rk CROSS JOIN nn
    ),
    firsts AS (
      SELECT tok, MIN(dec) AS first_dec
      FROM (
        SELECT unnest(list_distinct(toks)) AS tok, dec
        FROM d JOIN dd USING (doc_id)
      ) GROUP BY tok
    ),
    newv AS (SELECT first_dec AS dec, CAST(COUNT(*) AS BIGINT) AS nv
             FROM firsts GROUP BY first_dec),
    dt AS (SELECT dec, CAST(SUM(n_toks) AS BIGINT) AS toks,
                  CAST(COUNT(*) AS BIGINT) AS docs
           FROM dd GROUP BY dec)
    SELECT a.dec AS decile,
           CAST(SUM(b.docs) AS BIGINT) AS cum_docs,
           CAST(SUM(b.toks) AS BIGINT) AS cum_tokens,
           CAST(SUM(COALESCE(nb.nv, 0)) AS BIGINT) AS cum_vocab
    FROM dt a JOIN dt b ON b.dec <= a.dec
    LEFT JOIN newv nb ON nb.dec = b.dec
    GROUP BY a.dec
    """,
)
def x56_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth curve: stream the corpus in doc_id
    order and report, at each tenth of the corpus, cumulative
    documents, cumulative tokens, and cumulative DISTINCT vocabulary —
    the sublinear vocab-vs-tokens curve that tells a tokenizer-training
    pipeline when vocabulary has saturated.

    Determinism: a token's first occurrence is attributed to the
    decile of its minimum doc rank; every output is an exact integer.

    Scale shape: doc ranks ride ordered.global_row_numbers (range
    partition + broadcast offsets); first-occurrence is one
    groupBy(token) MIN over per-doc DISTINCT tokens (array_distinct
    before explode — the d3 idiom that keeps the shuffle narrow); the
    cumulative step is a triangular join over the 10-row decile frame
    (broadcast), never a global window."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.array_distinct(word_tokens(F.col("text"))).alias("dtoks"),
        F.size(word_tokens(F.col("text"))).alias("n_toks"),
        # tokenized once, fanned out to the rank branch, the count,
        # and the first-occurrence explode — materialize the tokenize
        # pass instead of re-running it per consumer.
    ).localCheckpoint(eager=False)
    rk = ordered.global_row_numbers(d.select("doc_id", "n_toks"), "doc_id")
    nn = d.agg(F.count(F.lit(1)).alias("nd"))
    dd = rk.crossJoin(F.broadcast(nn)).select(
        "doc_id",
        "n_toks",
        F.expr("CAST((10 * rank + nd - 1) div nd AS INT)").alias("dec"),
    )
    firsts = (
        d.select("doc_id", F.explode("dtoks").alias("tok"))
        .join(dd.select("doc_id", "dec"), "doc_id")
        .groupBy("tok")
        .agg(F.min("dec").alias("dec"))
    )
    newv = firsts.groupBy("dec").agg(F.count(F.lit(1)).alias("nv"))
    per_dec = (
        dd.groupBy("dec")
        .agg(
            F.sum("n_toks").cast("bigint").alias("toks"),
            F.count(F.lit(1)).alias("docs"),
        )
        .join(newv, "dec", "left")
        .select(
            "dec", "toks", "docs", F.coalesce(F.col("nv"), F.lit(0)).alias("nv")
        )
    )
    a = per_dec.select(F.col("dec").alias("decile"))
    b = per_dec.select(
        F.col("dec").alias("bdec"), "toks", "docs", "nv"
    )
    return (
        a.join(F.broadcast(b), F.col("bdec") <= F.col("decile"))
        .groupBy("decile")
        .agg(
            F.sum("docs").cast("bigint").alias("cum_docs"),
            F.sum("toks").cast("bigint").alias("cum_tokens"),
            F.sum("nv").cast("bigint").alias("cum_vocab"),
        )
    )


@_register(
    "x57_term_lift",
    f"""
    WITH d AS (
      SELECT doc_id, list_distinct({_TOKS_SQL}) AS toks FROM documents
    ),
    t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
    df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_docs FROM t GROUP BY tok),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
    co AS (
      SELECT a.tok AS ta, b.tok AS tb, CAST(COUNT(*) AS BIGINT) AS n_co
      FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY a.tok, b.tok HAVING COUNT(*) >= 5
    )
    SELECT ta, tb, n_co,
           CAST(n_co * n * 1000000 // (fa.n_docs * fb.n_docs) AS BIGINT)
             AS lift_micro
    FROM co JOIN df fa ON fa.tok = ta JOIN df fb ON fb.tok = tb CROSS JOIN nn
    ORDER BY lift_micro DESC, ta ASC, tb ASC LIMIT 20
    """,
)
def x57_term_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-association mining (market-basket lift over document
    vocabularies): for co-occurring token pairs with support >= 5
    docs, lift = P(a,b)/(P(a)P(b)) as the exact integer
    lift_micro = floor(1e6 * co*N / (df_a*df_b)) — the association
    signal PMI ranks by, WITHOUT the log (log is monotone, so the
    lift ordering IS the PMI ordering and no libm crosses the engine
    boundary). Top-20 associated pairs.

    Scale shape: per-doc DISTINCT tokens (array_distinct before
    explode), pair generation via ONE self-equi-join on doc_id
    (fan-out bounded by per-doc vocabulary, the d2 candidate
    discipline), support filter BEFORE the lift join; doc frequencies
    broadcast back onto the surviving pairs."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.array_distinct(word_tokens(F.col("text"))).alias("toks"),
    ).localCheckpoint(eager=False)
    t = d.select("doc_id", F.explode("toks").alias("tok"))
    df_ = t.groupBy("tok").agg(F.count(F.lit(1)).alias("n_docs"))
    nn = d.agg(F.count(F.lit(1)).alias("n"))
    a = t.select("doc_id", F.col("tok").alias("ta"))
    b = t.select("doc_id", F.col("tok").alias("tb"))
    co = (
        a.join(b, "doc_id")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("n_co"))
        .filter(F.col("n_co") >= 5)
    )
    return (
        co.join(
            F.broadcast(df_.select(F.col("tok").alias("ta"), F.col("n_docs").alias("fa"))),
            "ta",
        )
        .join(
            F.broadcast(df_.select(F.col("tok").alias("tb"), F.col("n_docs").alias("fb"))),
            "tb",
        )
        .crossJoin(F.broadcast(nn))
        .select(
            "ta",
            "tb",
            "n_co",
            F.expr("CAST(n_co * n * 1000000 div (fa * fb) AS BIGINT)").alias(
                "lift_micro"
            ),
        )
        .orderBy(F.col("lift_micro").desc(), F.col("ta").asc(), F.col("tb").asc())
        .limit(20)
    )


@_register(
    "x58_calibration_bins",
    f"""
    WITH {_X20_SCORED_SQL},
    lab AS (
      SELECT s.doc_id, s.logit_micro,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
      FROM scored s JOIN documents d USING (doc_id)
    ),
    rk AS (
      SELECT y, logit_micro,
             ROW_NUMBER() OVER (ORDER BY logit_micro DESC, doc_id ASC) AS rn,
             COUNT(*) OVER () AS n
      FROM lab
    ),
    binned AS (
      SELECT CAST((10 * rn + n - 1) // n AS INT) AS score_decile, y, logit_micro
      FROM rk
    )
    SELECT score_decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT) AS pos_rate_micro,
           CAST(MIN(logit_micro) AS BIGINT) AS min_logit_micro,
           CAST(MAX(logit_micro) AS BIGINT) AS max_logit_micro
    FROM binned GROUP BY score_decile
    """,
)
def x58_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier calibration (reliability) table: x20's logit ranked
    into score deciles (best first), each reporting its positive rate
    against the weak label (lang='en') plus its logit range — the
    monotone-calibration audit that pairs with x25's AUC (AUC says
    the ranking discriminates; this table says WHERE the scores are
    over/under-confident). Pure integer outputs (rank deciles,
    counts, micro rates) — no probability transform, no libm.

    Scale shape: the global score rank rides
    ordered.global_row_numbers (range partition + broadcast offsets,
    never a single-partition window); the rest is one 10-group
    map-combined aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    scored = x20_quality_classifier(spark, sf_dir).select(
        "doc_id", "logit_micro"
    )
    lab = scored.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        "logit_micro",
        (F.col("lang") == "en").cast("int").alias("y"),
        # DESC rank via an order-reversing struct key, the x52 idiom:
        F.struct(
            (-F.col("logit_micro")).alias("neg"), F.col("doc_id").alias("id")
        ).alias("__k"),
    )
    rk = ordered.global_row_numbers(lab, "__k")
    nn = lab.agg(F.count(F.lit(1)).alias("n"))
    binned = rk.crossJoin(F.broadcast(nn)).select(
        "y",
        "logit_micro",
        F.expr("CAST((10 * rank + n - 1) div n AS INT)").alias("score_decile"),
    )
    return binned.groupBy("score_decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("y").cast("bigint").alias("n_pos"),
        F.expr("CAST(SUM(y) * 1000000 div COUNT(1) AS BIGINT)").alias(
            "pos_rate_micro"
        ),
        F.min("logit_micro").alias("min_logit_micro"),
        F.max("logit_micro").alias("max_logit_micro"),
    )


@_register(
    "x59_length_buckets",
    f"""
    WITH t AS (
      SELECT len(list_filter(string_split(trim(text), ' '), x -> x <> ''))
               AS n_tokens
      FROM documents
    ),
    b AS (
      SELECT n_tokens, {_BUCKET_LADDER_SQL} AS bucket
      FROM t
    )
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(bucket * COUNT(*) AS BIGINT) AS padded_tokens,
           CAST((bucket * COUNT(*) - SUM(n_tokens)) * 1000000
                // (bucket * COUNT(*)) AS BIGINT) AS waste_micro,
           CAST((COUNT(*) + 31) // 32 AS BIGINT) AS n_batches_b32
    FROM b GROUP BY bucket
    """,
)
def x59_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit: docs assigned to power-of-two
    token-length buckets (the dynamic-batching layout trainers use to
    bound padding), reporting per bucket the doc count, real vs
    padded token totals, the padding-waste rate in integer micros,
    and how many batches of 32 the bucket fills. Pure integers
    end-to-end (floor-div waste rate — no float anywhere).

    Scale shape: a narrow per-row token count + CASE ladder, then ONE
    map-combined aggregate over <= 8 groups; nothing shuffles more
    than 8 rows. The bucket ladder is shared text between both
    dialects, so the assignment rule cannot drift."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(F.size(tokenize(F.col("text"))).alias("n_tokens"))
    b = t.select("n_tokens", F.expr(_BUCKET_LADDER_SQL).alias("bucket"))
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            "total_tokens",
            (F.col("bucket") * F.col("n_docs"))
            .cast("bigint")
            .alias("padded_tokens"),
            # numerator can be NEGATIVE in the overflow 2048 bucket
            # (docs longer than the cap): offset rule so Spark's
            # truncating `div` equals the oracle's floor
            F.expr(
                "CAST(((bucket * n_docs - total_tokens) * 1000000"
                " + 1000000000000 * (bucket * n_docs))"
                " div (bucket * n_docs) - 1000000000000 AS BIGINT)"
            ).alias("waste_micro"),
            F.expr("CAST((n_docs + 31) div 32 AS BIGINT)").alias(
                "n_batches_b32"
            ),
        )
    )


@_register(
    "x61_rouge_bigram_recall",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(
        string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '') AS t
      FROM documents
    ),
    bg AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t)),
               i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1])) AS b
      FROM toks WHERE len(t) >= 2
    )
    SELECT a.doc_id AS ref_id, c.doc_id AS cand_id,
           CAST(len(a.b) AS INT) AS ref_bigrams,
           CAST(len(c.b) AS INT) AS cand_bigrams,
           CAST(len(list_intersect(a.b, c.b)) AS INT) AS overlap,
           CAST(len(list_intersect(a.b, c.b)) * 1000000 // len(a.b) AS BIGINT)
             AS recall_micro
    FROM bg a JOIN bg c ON c.doc_id = a.doc_id + 1
    """,
)
def x61_rouge_bigram_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-2-style distinct-bigram recall between id-adjacent docs
    (ref = doc i, candidate = doc i+1) — the n-gram
    overlap metric summarization/eval pipelines compute between
    references and generations (Lin 2004), here value-checked over
    the fixture's adjacent-id pairing. Pure integers: distinct-bigram
    counts, intersection size, and a floor-div micro recall.

    Scale shape: pairing is a narrow equi-join on doc_id+1 — no
    window, no single-partition sort (the d15 adjacent-pair idiom); bigram sets stay inside per-row arrays
    (array_distinct before any comparison), and the intersection is
    array_intersect on the joined row — no explode, no shuffle beyond
    the one pair join."""
    docs = load_table(spark, sf_dir, "documents")
    t = word_tokens(F.col("text"))
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("__t") - 1),
        lambda i: F.concat_ws(
            " ", F.element_at("__t", i), F.element_at("__t", i + 1)
        ),
    )
    bg = (
        docs.select("doc_id", t.alias("__t"))
        .filter(F.size("__t") >= 2)
        .select("doc_id", F.array_distinct(bigrams).alias("b"))
    )
    a = bg.select(F.col("doc_id").alias("ref_id"), F.col("b").alias("ba"))
    c = bg.select(F.col("doc_id").alias("cand_id"), F.col("b").alias("bc"))
    inter = F.size(F.array_intersect(F.col("ba"), F.col("bc")))
    return (
        a.join(c, F.col("cand_id") == F.col("ref_id") + 1)
        .select(
            "ref_id",
            "cand_id",
            F.size("ba").cast("int").alias("ref_bigrams"),
            F.size("bc").cast("int").alias("cand_bigrams"),
            inter.cast("int").alias("overlap"),
            (inter.cast("bigint") * 1000000)
            .cast("bigint")
            .alias("__num"),
        )
        .select(
            "ref_id",
            "cand_id",
            "ref_bigrams",
            "cand_bigrams",
            "overlap",
            F.expr("CAST(__num div ref_bigrams AS BIGINT)").alias(
                "recall_micro"
            ),
        )
    )


@_register(
    "x63_source_diversity",
    """
    WITH c AS (SELECT source, COUNT(*) AS ct FROM documents GROUP BY source),
    t AS (SELECT SUM(ct) AS n, SUM(ct * ct) AS sq, COUNT(*) AS k FROM c)
    SELECT CAST(k AS BIGINT) AS n_sources,
           CAST(n AS BIGINT) AS n_docs,
           CAST((n * n - sq) * 1000000 // (n * n) AS BIGINT)
             AS gini_simpson_micro,
           CAST(n * n * 1000 // sq AS BIGINT) AS effective_sources_milli
    FROM t
    """,
)
def x63_source_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture diversity: Gini-Simpson index (probability two
    random docs come from different sources, 1 - Σp²) and the inverse
    Simpson "effective source count" — the log-free diversity metrics
    for a training mixture (entropy needs libm; these are exact
    integer rationals of source counts, the stats_benford/x57 idiom).
    A corpus dominated by one crawl shows effective_sources ≈ 1
    however many sources nominally exist — the signal x51's domain
    cap acts on.

    Scale shape: one map-combined groupBy(source) then a 1-row
    integer reduction."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(F.count(F.lit(1)).alias("ct"))
    return c.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ct").alias("n"),
        F.sum(F.col("ct") * F.col("ct")).alias("sq"),
    ).select(
        F.col("k").cast("bigint").alias("n_sources"),
        F.col("n").cast("bigint").alias("n_docs"),
        F.expr(
            "CAST((n * n - sq) * 1000000 div (n * n) AS BIGINT)"
        ).alias("gini_simpson_micro"),
        F.expr("CAST(n * n * 1000 div sq AS BIGINT)").alias(
            "effective_sources_milli"
        ),
    )


@_register(
    "x65_quality_length_bias",
    f"""
    WITH {_X20_SCORED_SQL},
    b AS (
      SELECT logit_micro, n_words AS n_tokens,
             {_BUCKET_LADDER_SQL} AS bucket
      FROM scored
    )
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST((SUM(logit_micro) + 10000000000 * COUNT(*)) // COUNT(*)
                - 10000000000 AS BIGINT) AS mean_logit_micro,
           CAST(MIN(logit_micro) AS BIGINT) AS min_logit_micro,
           CAST(MAX(logit_micro) AS BIGINT) AS max_logit_micro,
           CAST(SUM(CASE WHEN logit_micro >= 0 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS keep_rate_micro
    FROM b GROUP BY bucket
    """,
)
def x65_quality_length_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-bias audit: x20's quality logit profiled across the
    x59 length buckets — if mean logit (or keep rate) climbs
    monotonically with length, the "quality" classifier is mostly a
    length detector and will skew the surviving corpus long (the
    companion diagnostic to x58's calibration bins, cutting by an
    input feature instead of by score rank). All-integer outputs;
    means of SIGNED logits use the positive-offset floor-div (t28's
    rule: Spark `div` truncates, DuckDB `//` floors — offset keeps
    numerators positive where they agree; |mean logit| < 1e10 micro
    by the x20 construction).

    Scale shape: x20's one explode + map-combined feature aggregate,
    then ONE <= 8-group aggregate. Nothing new shuffles."""
    scored = x20_quality_classifier(spark, sf_dir).select(
        "logit_micro", F.col("n_words").alias("n_tokens")
    )
    b = scored.select("logit_micro", F.expr(_BUCKET_LADDER_SQL).alias("bucket"))
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr(
            "CAST((SUM(logit_micro) + 10000000000 * COUNT(1)) div COUNT(1)"
            " - 10000000000 AS BIGINT)"
        ).alias("mean_logit_micro"),
        F.min("logit_micro").cast("bigint").alias("min_logit_micro"),
        F.max("logit_micro").cast("bigint").alias("max_logit_micro"),
        F.expr(
            "CAST(SUM(CASE WHEN logit_micro >= 0 THEN 1 ELSE 0 END) * 1000000"
            " div COUNT(1) AS BIGINT)"
        ).alias("keep_rate_micro"),
    ).select(
        F.col("bucket").cast("int").alias("bucket"),
        "n_docs",
        "mean_logit_micro",
        "min_logit_micro",
        "max_logit_micro",
        "keep_rate_micro",
    )


@_register(
    "x66_threshold_sensitivity",
    f"""
    WITH {_SHINGLE_SQL},
    seeds AS (SELECT unnest(range(0, 16)) AS seed),
    hh AS (
      SELECT doc_id,
             CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) AS h1,
             CAST('0x' || substring(md5(shingle), 16, 12) AS BIGINT) * 2 + 1 AS h2
      FROM sh
    ),
    mh AS (
      SELECT doc_id, seed,
             MIN((h1 + seed * h2) % 1152921504606846976) AS mh
      FROM hh CROSS JOIN seeds GROUP BY doc_id, seed
    ),
    bands AS (
      SELECT doc_id, band,
             md5(band::VARCHAR || '|' || string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS bkey
      FROM (SELECT doc_id, seed, mh, seed // 2 AS band FROM mh)
      GROUP BY doc_id, band
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                               AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ic
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jp AS (
      SELECT c.id_a, c.id_b,
             i.ic * 1000000 // (sa.sz + sb.sz - i.ic) AS j_micro
      FROM cand c JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
                  JOIN sizes sa ON sa.doc_id = c.id_a
                  JOIN sizes sb ON sb.doc_id = c.id_b
    ),
    thr AS (SELECT unnest([50000, 100000, 200000, 400000]) AS thr_micro)
    SELECT CAST(thr_micro AS BIGINT) AS thr_micro,
           CAST(COUNT(CASE WHEN j_micro >= thr_micro THEN 1 END) AS BIGINT)
             AS n_pairs,
           CAST(COUNT(DISTINCT CASE WHEN j_micro >= thr_micro THEN id_a END)
                + COUNT(DISTINCT CASE WHEN j_micro >= thr_micro THEN id_b END)
                AS BIGINT) AS doc_slots
    FROM thr LEFT JOIN jp ON true
    GROUP BY thr_micro
    """,
)
def x66_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold sensitivity: how many near-dup pairs (and how
    many affected doc slots) survive at Jaccard thresholds 0.05 /
    0.1 / 0.2 / 0.4 — computed from ONE LSH candidate table scored
    once in integer micro-Jaccard, then bucketed against a broadcast
    threshold list. The tuning table you read before committing to a
    threshold corpus-wide (d14 calibrates the ESTIMATOR; this shows
    the decision's blast radius).

    Scale shape: d2's banded candidate generation + one scoring pass;
    the threshold fan-out is a 4-row broadcast over the scored pairs
    (never re-scoring per threshold)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs_micro(docs).withColumnRenamed(
        "j_micro", "__jm"
    )
    thr = local_frame(
        spark, [(50000,), (100000,), (200000,), (400000,)], "thr_micro bigint"
    )
    lab = pairs.crossJoin(F.broadcast(thr))
    agg = lab.groupBy("thr_micro").agg(
        F.count(F.when(F.col("__jm") >= F.col("thr_micro"), 1)).cast(
            "bigint"
        ).alias("n_pairs"),
        (
            F.countDistinct(
                F.when(F.col("__jm") >= F.col("thr_micro"), F.col("id_a"))
            )
            + F.countDistinct(
                F.when(F.col("__jm") >= F.col("thr_micro"), F.col("id_b"))
            )
        ).cast("bigint").alias("doc_slots"),
    )
    # a pair-free corpus must still report every threshold row (the
    # oracle's thr LEFT JOIN pairs shape): re-anchor on the threshold
    # list and zero-fill
    return thr.join(agg, "thr_micro", "left").select(
        F.col("thr_micro").cast("bigint").alias("thr_micro"),
        F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
        F.coalesce("doc_slots", F.lit(0)).cast("bigint").alias("doc_slots"),
    )


@_register(
    "x67_token_frequency_spectrum",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(
        string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '') AS toks
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                                     i -> array_to_string(toks[i:i+2], ' '))) AS shingle
        FROM toks
      ) WHERE shingle <> ''
    ),
    tf AS (SELECT shingle AS w, COUNT(*) AS c FROM sh GROUP BY shingle),
    spec AS (
      SELECT CASE WHEN c <= 5 THEN CAST(c AS VARCHAR) ELSE '6+' END AS freq_class,
             COUNT(*) AS n_types, SUM(c) AS n_tokens
      FROM tf GROUP BY 1
    ),
    tot AS (SELECT SUM(n_types) AS v, SUM(n_tokens) AS t FROM spec)
    SELECT freq_class,
           CAST(n_types AS BIGINT) AS n_types,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_types * 1000000 // v AS BIGINT) AS type_share_micro,
           CAST(n_tokens * 1000000 // t AS BIGINT) AS token_share_micro
    FROM spec CROSS JOIN tot
    """,
)
def x67_token_frequency_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle frequency-of-frequencies spectrum (Zipf companion to
    x56's Heaps growth): how many distinct 3-gram shingle types have
    document frequency exactly 1..5 (hapax, dis legomena, ...) vs the
    6+ head, with each class's share of types and of occurrence mass —
    the table behind Good-Turing smoothing, and the empirical basis
    for d3/d12's hot-shingle df caps (how much of the index the rare
    tail really is). All integers and floor-div micro shares.

    Scale shape: the d2 shingle index aggregated once (map-combined),
    one <= 6-group spectrum aggregate, a 1-row total broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingles(docs, "doc_id", "text", 3)
    tf = sh.groupBy(F.col("shingle").alias("w")).agg(
        F.count(F.lit(1)).alias("c")
    )
    spec = tf.groupBy(
        F.when(F.col("c") <= 5, F.col("c").cast("string"))
        .otherwise(F.lit("6+"))
        .alias("freq_class")
    ).agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("c").alias("n_tokens"),
    )
    tot = spec.agg(
        F.sum("n_types").alias("v"), F.sum("n_tokens").alias("t")
    )
    return spec.crossJoin(F.broadcast(tot)).select(
        "freq_class",
        F.col("n_types").cast("bigint").alias("n_types"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.expr("CAST(n_types * 1000000 div v AS BIGINT)").alias(
            "type_share_micro"
        ),
        F.expr("CAST(n_tokens * 1000000 div t AS BIGINT)").alias(
            "token_share_micro"
        ),
    )


@_register(
    "x68_prefix_cache_stats",
    """
    WITH t AS (
      SELECT doc_id,
             md5(array_to_string(
               list_filter(string_split(trim(text), ' '), x -> x <> '')[1:16],
               ' ')) AS pfx
      FROM documents
    ),
    g AS (SELECT pfx, COUNT(*) AS n FROM t GROUP BY pfx),
    tot AS (
      SELECT SUM(n) AS docs, COUNT(*) AS prefixes,
             SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS docs_in_shared,
             MAX(n) AS max_cluster
      FROM g
    )
    SELECT CAST(docs AS BIGINT) AS n_docs,
           CAST(prefixes AS BIGINT) AS n_prefixes,
           CAST(docs_in_shared AS BIGINT) AS docs_in_shared,
           CAST(max_cluster AS BIGINT) AS max_cluster,
           CAST((docs - prefixes) * 1000000 // docs AS BIGINT)
             AS cache_hit_micro
    FROM tot
    """,
)
def x68_prefix_cache_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-cache planning: group documents by the md5 of their
    first 16 whitespace tokens — the shared-prefix clusters a
    KV-cache/prefix-caching serving layer can reuse. cache_hit_micro
    = (docs − distinct prefixes)/docs is the upper-bound hit rate if
    every repeated prefix is served from cache; max_cluster flags the
    template prefix worth pinning. All integers.

    Scale shape: one narrow per-row slice+hash, one
    groupBy(prefix-hash) with map-side combine, one 1-row reduction —
    the d1 exact-dedup shape applied to prefixes instead of whole
    docs."""
    docs = load_table(spark, sf_dir, "documents")
    pfx = F.md5(
        F.concat_ws(
            " ", F.slice(tokenize(F.col("text")), 1, 16)
        )
    )
    g = docs.select(pfx.alias("pfx")).groupBy("pfx").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = g.agg(
        F.sum("n").alias("docs"),
        F.count(F.lit(1)).alias("prefixes"),
        F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(0)).alias(
            "docs_in_shared"
        ),
        F.max("n").alias("max_cluster"),
    )
    return tot.select(
        F.col("docs").cast("bigint").alias("n_docs"),
        F.col("prefixes").cast("bigint").alias("n_prefixes"),
        F.col("docs_in_shared").cast("bigint").alias("docs_in_shared"),
        F.col("max_cluster").cast("bigint").alias("max_cluster"),
        F.expr(
            "CAST((docs - prefixes) * 1000000 div docs AS BIGINT)"
        ).alias("cache_hit_micro"),
    )


@_register(
    "x70_vocab_coverage",
    """
    WITH toks AS (
      SELECT unnest(list_filter(
        string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '')) AS w
      FROM documents
    ),
    tf AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
    rk AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w ASC) AS rnk,
             SUM(c) OVER () AS tot
      FROM tf
    ),
    cum AS (
      SELECT rnk, tot, SUM(c) OVER (ORDER BY rnk) AS cc FROM rk
    ),
    ns AS (SELECT unnest([1, 2, 5, 10, 20]) AS topn)
    SELECT CAST(n.topn AS INT) AS topn,
           CAST(MAX(CASE WHEN cum.rnk <= n.topn THEN cum.cc END) AS BIGINT)
             AS covered_tokens,
           CAST(MAX(cum.tot) AS BIGINT) AS total_tokens,
           CAST(MAX(CASE WHEN cum.rnk <= n.topn THEN cum.cc END) * 1000000
                // MAX(cum.tot) AS BIGINT) AS coverage_micro
    FROM ns n JOIN cum ON cum.rnk <= n.topn
    GROUP BY n.topn
    """,
)
def x70_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what share of all token occurrences
    the top-N most frequent types cover (N = 1/2/5/10/20) — the
    how-big-must-the-vocab-be table tokenizer training reads first
    (x67's spectrum shows the tail's shape; this shows the head's
    reach). Integer occurrence counts, rank via the count-desc
    (count, word) total order, floor-div micro coverage.

    Scale shape: one token-count aggregate, a global rank over
    DISTINCT TYPES (bounded by vocabulary, not corpus — rides
    ordered.global_row_numbers with a struct key), cumulative counts
    via global_prefix_sums, then a 5-row broadcast threshold probe."""
    docs = load_table(spark, sf_dir, "documents")
    t = word_tokens(F.col("text"))
    tf = (
        docs.select(F.explode(t).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    keyed = tf.select(
        F.struct((-F.col("c")).alias("nc"), F.col("w").alias("w")).alias(
            "__k"
        ),
        "c",
    )
    cum = ordered.global_prefix_sums(keyed, "__k", ["c"])
    tot = tf.agg(F.sum("c").alias("tot"))
    rk = ordered.global_row_numbers(
        cum.select("__k", F.col("cum_c").alias("cc")), "__k"
    )
    ns = local_frame(spark, [(1,), (2,), (5,), (10,), (20,)], "topn bigint")
    probe = (
        ns.crossJoin(F.broadcast(rk.filter(F.col("rank") <= 20)))
        .filter(F.col("rank") <= F.col("topn"))
        .groupBy("topn")
        .agg(F.max("cc").alias("covered_tokens"))
    )
    return probe.crossJoin(F.broadcast(tot)).select(
        F.col("topn").cast("int").alias("topn"),
        F.col("covered_tokens").cast("bigint").alias("covered_tokens"),
        F.col("tot").cast("bigint").alias("total_tokens"),
        F.expr(
            "CAST(covered_tokens * 1000000 div tot AS BIGINT)"
        ).alias("coverage_micro"),
    )


@_register(
    "x73_langid_confusion",
    f"""
    WITH markers AS (SELECT * FROM (VALUES {_MARKER_VALUES}) t(tok, lang)),
    toks AS (
      SELECT doc_id, unnest(list_filter(
        string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '')) AS tok
      FROM documents
    ),
    scores AS (
      SELECT t.doc_id, m.lang, COUNT(*) AS hits
      FROM toks t JOIN markers m ON t.tok = m.tok
      GROUP BY t.doc_id, m.lang
    ),
    best AS (
      SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang ASC) AS rn
        FROM scores
      ) WHERE rn = 1
    ),
    lab AS (
      SELECT d.lang AS declared, COALESCE(b.lang, 'und') AS predicted
      FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
    ),
    tot AS (SELECT COUNT(*) AS n FROM lab)
    SELECT declared, predicted,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN declared = predicted THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           (SELECT CAST(SUM(CASE WHEN l2.declared = l2.predicted THEN 1
                                 ELSE 0 END) * 1000000 // MAX(t.n) AS BIGINT)
            FROM lab l2 CROSS JOIN tot t) AS overall_accuracy_micro
    FROM lab GROUP BY declared, predicted
    """,
)
def x73_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: x2's marker-token predictor
    cross-tabulated against the fixture's DECLARED language label,
    with the overall accuracy (integer micro) repeated on every cell
    — the eval table that turns x2 from a feature into a measured
    classifier (which languages it confuses, and how often). The
    per-cell n_correct column doubles as the diagonal indicator.

    Scale shape: x2's broadcast marker join + per-doc argmax, one
    |langs|² confusion aggregate, a 1-row accuracy broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    pred = textstats.lang_id(docs).select(
        "doc_id", F.col("predicted_lang").alias("predicted")
    )
    lab = docs.select("doc_id", F.col("lang").alias("declared")).join(
        pred, "doc_id"
    )
    acc = lab.agg(
        F.expr(
            "CAST(SUM(CASE WHEN declared = predicted THEN 1 ELSE 0 END)"
            " * 1000000 div COUNT(1) AS BIGINT)"
        ).alias("overall_accuracy_micro")
    )
    return (
        lab.groupBy("declared", "predicted")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(
                (F.col("declared") == F.col("predicted")).cast("bigint")
            )
            .cast("bigint")
            .alias("n_correct"),
        )
        .crossJoin(F.broadcast(acc))
    )


@_register(
    "x74_crosslingual_vocab_overlap",
    """
    WITH v AS (
      SELECT DISTINCT lang, w FROM (
        SELECT lang, unnest(list_filter(
          string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
          x -> x <> '')) AS w
        FROM documents
      )
    ),
    sizes AS (SELECT lang, COUNT(*) AS sz FROM v GROUP BY lang),
    inter AS (
      SELECT a.lang AS lang_a, b.lang AS lang_b, COUNT(*) AS ic
      FROM v a JOIN v b ON a.w = b.w AND a.lang < b.lang
      GROUP BY 1, 2
    )
    SELECT i.lang_a, i.lang_b,
           CAST(sa.sz AS BIGINT) AS vocab_a,
           CAST(sb.sz AS BIGINT) AS vocab_b,
           CAST(i.ic AS BIGINT) AS shared,
           CAST(i.ic * 1000000 // (sa.sz + sb.sz - i.ic) AS BIGINT)
             AS jaccard_micro
    FROM inter i JOIN sizes sa ON sa.lang = i.lang_a
                 JOIN sizes sb ON sb.lang = i.lang_b
    """,
)
def x74_crosslingual_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lingual vocabulary overlap: distinct-type Jaccard between
    every language pair — the shared-subword signal that decides
    whether languages can share a tokenizer vocabulary (high overlap
    = one multilingual vocab; low = per-language budgets, the x17/x51
    mixture decisions upstream). Integer type counts and floor-div
    micro Jaccard; pair generation is the d2-style shared-token
    equi-join over per-language DISTINCT vocabularies (bounded by
    vocab, not corpus), never a lang x lang cross join."""
    docs = load_table(spark, sf_dir, "documents")
    t = word_tokens(F.col("text"))
    v = (
        docs.select("lang", F.explode(t).alias("w"))
        .distinct()
    )
    sizes = v.groupBy("lang").agg(F.count(F.lit(1)).alias("sz"))
    a = v.select(F.col("lang").alias("lang_a"), "w")
    b = v.select(F.col("lang").alias("lang_b"), "w")
    inter = (
        a.join(b, "w")
        .filter(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(F.count(F.lit(1)).alias("ic"))
    )
    sa = sizes.select(F.col("lang").alias("lang_a"), F.col("sz").alias("vocab_a"))
    sb = sizes.select(F.col("lang").alias("lang_b"), F.col("sz").alias("vocab_b"))
    return (
        inter.join(sa, "lang_a")
        .join(sb, "lang_b")
        .select(
            "lang_a",
            "lang_b",
            F.col("vocab_a").cast("bigint").alias("vocab_a"),
            F.col("vocab_b").cast("bigint").alias("vocab_b"),
            F.col("ic").cast("bigint").alias("shared"),
            F.expr(
                "CAST(ic * 1000000 div (vocab_a + vocab_b - ic) AS BIGINT)"
            ).alias("jaccard_micro"),
        )
    )


@_register(
    "x75_rake_keyphrases",
    f"""
    WITH t AS (
      SELECT doc_id, list_filter(
        string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '') AS ws
      FROM documents
    ),
    tk AS (
      SELECT doc_id, s['p'] AS p, s['w'] AS w
      FROM (
        SELECT doc_id, unnest(list_transform(
          range(1, len(ws) + 1), i -> {{'p': i, 'w': ws[i]}})) AS s
        FROM t
      )
    ),
    ns AS (
      SELECT doc_id, p, w,
             p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS grp
      FROM tk WHERE w NOT IN ({_CLS_STOPWORDS_SQL})
    ),
    phr AS (
      SELECT doc_id, grp, string_agg(w, ' ' ORDER BY p) AS phrase,
             COUNT(*) AS len
      FROM ns GROUP BY doc_id, grp
    ),
    words AS (
      SELECT ns.doc_id, ns.grp, ns.w, phr.len
      FROM ns JOIN phr USING (doc_id, grp)
    ),
    wsc AS (
      SELECT w, CAST(SUM(len) * 1000 // COUNT(*) AS BIGINT) AS score_milli
      FROM words GROUP BY w
    ),
    occ AS (
      SELECT words.doc_id, words.grp,
             CAST(SUM(wsc.score_milli) AS BIGINT) AS ps
      FROM words JOIN wsc ON wsc.w = words.w
      GROUP BY words.doc_id, words.grp
    ),
    fin AS (
      SELECT phr.phrase,
             CAST(MIN(phr.len) AS BIGINT) AS n_words,
             CAST(COUNT(*) AS BIGINT) AS n_occurrences,
             CAST(MIN(occ.ps) AS BIGINT) AS score_milli
      FROM occ JOIN phr USING (doc_id, grp) GROUP BY phr.phrase
    )
    SELECT phrase, n_words, n_occurrences, score_milli
    FROM fin ORDER BY score_milli DESC, phrase ASC LIMIT 10
    """,
)
def x75_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al.'s Rapid Automatic
    Keyword Extraction) — the unsupervised corpus-labeling primitive:
    candidate phrases are maximal runs of non-stopword tokens
    (gaps-and-islands segmentation: position minus per-doc rank of
    non-stop tokens — one window pass, no UDF), each word scores
    degree/frequency (degree = total length of phrases it appears in),
    and a phrase scores the sum of its words. Top-10 phrases
    corpus-wide by score, with occurrence counts — the tag cloud /
    topic-seed table next to x6's TF-IDF terms (RAKE rewards
    multi-word collocations where TF-IDF scores words alone).

    Determinism: integer milli word scores (SUM(len)*1000 div count);
    phrase assembly is position-ordered on both engines; final order
    (score desc, phrase asc) over distinct phrase text.

    Scale: one tokenize+posexplode stream, one per-doc window for
    segmentation, two map-combined aggregates (phrase build, word
    stats), a vocab-keyed join, and a global top-10 —
    TakeOrderedAndProject, never a full sort."""
    docs = load_table(spark, sf_dir, "documents")
    arr = word_tokens(F.col("text"))
    tk = docs.select(
        "doc_id", F.posexplode(arr).alias("p", "w")
    )
    ns = tk.filter(~F.col("w").isin(*textstats.STOPWORDS)).withColumn(
        "grp",
        F.col("p")
        - F.row_number().over(
            Window.partitionBy("doc_id").orderBy(F.col("p").asc())
        ),
    )
    phr = ns.groupBy("doc_id", "grp").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("p", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).alias("len"),
    )
    words = ns.select("doc_id", "grp", "w").join(
        phr.select("doc_id", "grp", "len"), ["doc_id", "grp"]
    )
    wsc = words.groupBy("w").agg(
        F.expr("CAST(SUM(len) * 1000 div COUNT(1) AS BIGINT)").alias(
            "score_milli"
        )
    )
    occ = (
        words.join(wsc, "w")
        .groupBy("doc_id", "grp")
        .agg(F.sum("score_milli").cast("bigint").alias("ps"))
    )
    fin = (
        occ.join(phr, ["doc_id", "grp"])
        .groupBy("phrase")
        .agg(
            F.min("len").cast("bigint").alias("n_words"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.min("ps").cast("bigint").alias("score_milli"),
        )
    )
    return fin.orderBy(
        F.col("score_milli").desc(), F.col("phrase").asc()
    ).limit(10)


@_register(
    "x76_boilerplate_strip",
    """
    WITH lines AS (
      SELECT doc_id, md5(l) AS lh, length(l) AS chars FROM (
        SELECT doc_id, unnest(string_split(text, '. ')) AS l FROM documents
      ) WHERE l <> ''
    ),
    df_ AS (SELECT lh, COUNT(DISTINCT doc_id) AS df FROM lines GROUP BY lh),
    per_doc AS (
      SELECT l.doc_id,
             CAST(SUM(l.chars) AS BIGINT) AS chars_before,
             CAST(SUM(CASE WHEN d.df < 3 THEN l.chars ELSE 0 END) AS BIGINT)
               AS chars_after
      FROM lines l JOIN df_ d ON d.lh = l.lh
      GROUP BY l.doc_id
    )
    SELECT doc.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(p.chars_before) AS BIGINT) AS chars_before,
           CAST(SUM(p.chars_after) AS BIGINT) AS chars_after,
           CAST((SUM(p.chars_before) - SUM(p.chars_after)) * 1000000
                // SUM(p.chars_before) AS BIGINT) AS saved_micro
    FROM per_doc p JOIN documents doc ON doc.doc_id = p.doc_id
    GROUP BY doc.source
    """,
)
def x76_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate REMOVAL (the action to d17's detection): lines
    appearing in >= 3 distinct documents are stripped, and the
    per-source savings audit reports exactly how many characters the
    cleanup reclaims (saved_micro = exact integer millionths) — the
    CCNet/corpus-cleanup step that runs between scraping and
    training, sized per source so the noisiest feeds are visible.

    Scale: d17's contract — one line-hash aggregate over the
    Zipf-small distinct-line keyspace, a doc rollup, and a <= |sources|
    audit aggregate; the cleaned text itself is a filter over the
    same exploded stream at write time (never materialized here)."""
    docs = load_table(spark, sf_dir, "documents")
    lines = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), "\\. ")).alias("l")
        )
        .filter(F.col("l") != "")
        .select("doc_id", F.md5("l").alias("lh"), F.length("l").alias("chars"))
    )
    df_ = lines.groupBy("lh").agg(F.countDistinct("doc_id").alias("df"))
    per_doc = (
        lines.join(df_, "lh")
        .groupBy("doc_id")
        .agg(
            F.sum("chars").cast("bigint").alias("chars_before"),
            F.sum(F.when(F.col("df") < 3, F.col("chars")).otherwise(0))
            .cast("bigint")
            .alias("chars_after"),
        )
    )
    return (
        per_doc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("chars_before").cast("bigint").alias("chars_before"),
            F.sum("chars_after").cast("bigint").alias("chars_after"),
        )
        .select(
            "source",
            "n_docs",
            "chars_before",
            "chars_after",
            F.expr(
                "CAST((chars_before - chars_after) * 1000000 "
                "div chars_before AS BIGINT)"
            ).alias("saved_micro"),
        )
    )


@_register(
    "x79_gate_length_grid",
    f"""
    WITH {_X20_SCORED_SQL},
    b AS (
      SELECT s.keep, s.n_words AS n_tokens FROM scored s
    )
    SELECT CAST({_BUCKET_LADDER_SQL} AS INT) AS bucket,
           CAST(keep AS INT) AS keep,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM b GROUP BY {_BUCKET_LADDER_SQL}, keep
    """,
)
def x79_gate_length_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the quality gate removes, BY LENGTH: the x20 keep/drop
    decision crossed with x59's power-of-two token buckets — the
    audit that catches a classifier silently nuking one length band
    (length-correlated features make gates length-biased; a training
    mix needs long documents to survive). Each (bucket, keep) cell
    carries doc and token counts, so both the document-level and the
    token-mass view of the bias are read off one table.

    Scale: x20's one explode + map-combined groupBy, then a narrow
    bucket map and a <= 16-group aggregate — nothing new shuffles."""
    scored = x20_quality_classifier(spark, sf_dir).select(
        "keep", F.col("n_words").alias("n_tokens")
    )
    return (
        scored.select(
            F.expr(_BUCKET_LADDER_SQL).cast("int").alias("bucket"),
            F.col("keep").cast("int").alias("keep"),
            "n_tokens",
        )
        .groupBy("bucket", "keep")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )


@_register(
    "x80_eval_decontam",
    f"""
    WITH {_EVAL_GRAMS_SQL}
    SELECT c.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
             AS n_removed,
           CAST(SUM(CASE WHEN h.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END) * 1000000
                // COUNT(*) AS BIGINT) AS removed_micro
    FROM corpus c LEFT JOIN hits h ON h.doc_id = c.doc_id
    GROUP BY c.source
    """,
)
def x80_eval_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set DECONTAMINATION (the action to x14's measurement):
    corpus documents sharing ANY 5-gram with the held-out eval split
    (doc_id % 97 == 0, x14's split) are dropped, and the per-source
    removal audit reports how much each feed loses in exact integer
    millionths — the GPT-3-style n-gram decontamination pass every
    training corpus runs so benchmark numbers stay meaningful. x14
    measures eval-side contamination fractions; this executes the
    corpus-side drop and sizes its cost.

    Scale: both sides shingle once (x14's 5-gram stream); the overlap
    is an equi-join on the gram keyed by the (small) DISTINCT
    eval-gram set — broadcast at fleet scale — followed by a distinct
    on hit doc ids and a <= |sources| audit aggregate. Nothing is
    quadratic; the corpus text is never compared pairwise."""
    docs = load_table(spark, sf_dir, "documents")
    corpus, hits = _eval_split_hits(docs)
    tagged = corpus.select("doc_id", "source").join(
        hits.withColumnRenamed("doc_id", "hid"),
        F.col("doc_id") == F.col("hid"),
        "left",
    )
    return tagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("hid").isNull(), 0).otherwise(1))
        .cast("bigint")
        .alias("n_removed"),
        F.sum(F.when(F.col("hid").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.expr(
            "CAST(SUM(CASE WHEN hid IS NULL THEN 0 ELSE 1 END) * 1000000 "
            "div COUNT(1) AS BIGINT)"
        ).alias("removed_micro"),
    )


@_register(
    "x83_hot_fingerprints",
    """
    WITH fcp AS (
      SELECT doc_id,
             list_transform(string_split(rpad(text, CAST(greatest(length(text), 8) AS INT), ' '), ''),
                            c -> CAST(ascii(c) AS BIGINT)) AS cps
      FROM documents
    ),
    fps AS (
      SELECT doc_id, unnest(list_sort(
        list_transform(range(1, len(cps) - 7 + 1),
                       i -> (((((((cps[i] * 31 + cps[i+1]) * 31 + cps[i+2]) * 31 + cps[i+3]) * 31 + cps[i+4]) * 31 + cps[i+5]) * 31 + cps[i+6]) * 31 + cps[i+7]) % 1000000007)
      )[1:5]) AS fp
      FROM fcp
    )
    SELECT fp, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS example_doc
    FROM fps GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2
    ORDER BY n_docs DESC, fp ASC LIMIT 10
    """,
)
def x83_hot_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-COPIED content blocks across the corpus: x5's winnowed
    rolling-hash fingerprints grouped by VALUE — a fingerprint shared
    by many docs is a license header / boilerplate block / mirrored
    passage, the cross-corpus complement to d17's per-line dedup and
    d13's within-doc spans (and the cheap preview of what a Lee-et-al
    suffix-array pass would surface). Top-10 by distinct-doc count
    with an example doc id to pull the actual text from.

    Scale: the fingerprint stream is 5 longs per doc (already bounded
    by winnowing); one map-combined distinct-count per fp and a
    top-10 — the inverted index is never pair-expanded."""
    docs = load_table(spark, sf_dir, "documents")
    fps = textstats.fingerprints(docs, k=8, keep=5)
    return (
        fps.groupBy("fp")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("example_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), F.col("fp").asc())
        .limit(10)
    )


@_register(
    "x96_kneser_ney_mass",
    """
    WITH w AS (
      SELECT string_split(text, ' ') AS ws FROM documents
      WHERE source = 'src0' AND len(string_split(text, ' ')) >= 2
    ),
    pairs AS (
      SELECT w.ws[i] AS w1, w.ws[i + 1] AS w2
      FROM w, UNNEST(range(1, len(w.ws))) AS t(i)
    ),
    c12 AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM pairs GROUP BY 1, 2
    ),
    c1 AS (
      SELECT w1, CAST(SUM(c) AS BIGINT) AS c1,
             CAST(COUNT(*) AS BIGINT) AS n1p_w1
      FROM c12 GROUP BY 1
    ),
    cont AS (
      SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1p_cont FROM c12 GROUP BY 1
    ),
    tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM c12),
    vocab AS (
      SELECT DISTINCT tok AS w2
      FROM w, UNNEST(w.ws) AS u(tok)
    ),
    grid AS (
      SELECT a.w1, a.c1, a.n1p_w1, v.w2,
             COALESCE(b.c, 0) AS c12,
             COALESCE(n.n1p_cont, 0) AS n1p_cont,
             tt.t
      FROM c1 a
      CROSS JOIN vocab v
      CROSS JOIN tt
      LEFT JOIN c12 b ON b.w1 = a.w1 AND b.w2 = v.w2
      LEFT JOIN cont n ON n.w2 = v.w2
    ),
    scored AS (
      SELECT w1, c1, n1p_w1, c12,
             greatest(c12 * 1000000 - 750000, 0) // c1
             + (750000 * n1p_w1 // c1)
               * (n1p_cont * 1000000 // t) // 1000000 AS p_micro
      FROM grid
    )
    SELECT w1, CAST(MAX(c1) AS BIGINT) AS c1,
           CAST(MAX(n1p_w1) AS BIGINT) AS n_seen_continuations,
           CAST(SUM(CASE WHEN c12 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unseen_pairs,
           CAST(SUM(CASE WHEN c12 = 0 THEN p_micro ELSE 0 END) AS BIGINT)
             AS unseen_mass_micro,
           CAST(SUM(p_micro) AS BIGINT) AS sum_pkn_micro
    FROM scored
    GROUP BY w1
    ORDER BY w1
    """,
)
def x96_kneser_ney_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram smoothing (Kneser & Ney 1995,
    absolute discount D=0.75) -- the smoothing stage x15's MLE
    fluency score lacks: unseen bigrams receive discounted mass
    routed through CONTINUATION probability (how many contexts a
    word completes, not how often it occurs -- the 'San Francisco'
    correction). Trained on the src0 sub-corpus (where a real
    unseen-pair mass exists at every sf) and scored over the full
    vocab x vocab grid in exact integer micros with a FIXED
    operation order; the output is the per-context AUDIT row: seen
    continuations, unseen pair count, the mass KN moves to unseen
    pairs, and sum_pkn_micro ~ 1e6 -- the normalization proof
    (sum over w2 of P_KN(w2|w1) = 1 up to floor-division rounding),
    which a mis-implemented smoother fails immediately.

    Scale shape: bigram/context/continuation counts are Zipf-small
    map-combined aggregates; the scoring grid is vocab^2 --
    dimension-bounded (31x31 here; even a 100k-type vocab keeps the
    grid independent of corpus row count, and a real deployment
    prunes it to the probe set). No global windows, no Python UDFs."""
    docs = load_table(spark, sf_dir, "documents")
    w = (
        docs.where(F.col("source") == "src0")
        .select(F.split(F.col("text"), " ").alias("ws"))
        .where(F.size("ws") >= 2)
        .localCheckpoint(eager=False)  # pair counts + vocab share it
    )
    pairs = w.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1),"
                " i -> struct(element_at(ws, i) AS w1,"
                " element_at(ws, i + 1) AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    c12 = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).localCheckpoint(eager=False)  # c1/cont/types/grid share it
    c1 = c12.groupBy("w1").agg(
        F.sum("c").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n1p_w1"),
    )
    cont = c12.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n1p_cont")
    )
    tt = c12.agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    vocab = (
        w.select(F.explode("ws").alias("w2")).distinct()
    )
    grid = (
        c1.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(tt))
        .join(F.broadcast(c12.withColumnRenamed("c", "c12v")), ["w1", "w2"], "left")
        .join(F.broadcast(cont), "w2", "left")
        .select(
            "w1",
            "c1",
            "n1p_w1",
            "w2",
            F.expr("COALESCE(c12v, 0)").alias("c12"),
            F.expr("COALESCE(n1p_cont, 0)").alias("n1p_cont"),
            "t",
        )
    )
    scored = grid.select(
        "w1",
        "c1",
        "n1p_w1",
        "c12",
        F.expr(
            "greatest(c12 * 1000000 - 750000, 0) div c1"
            " + (750000 * n1p_w1 div c1)"
            " * (n1p_cont * 1000000 div t) div 1000000"
        ).alias("p_micro"),
    )
    return (
        scored.groupBy("w1")
        .agg(
            F.max("c1").cast("bigint").alias("c1"),
            F.max("n1p_w1").cast("bigint").alias("n_seen_continuations"),
            F.sum(F.when(F.col("c12") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_unseen_pairs"),
            F.sum(F.when(F.col("c12") == 0, F.col("p_micro")).otherwise(0))
            .cast("bigint")
            .alias("unseen_mass_micro"),
            F.sum("p_micro").cast("bigint").alias("sum_pkn_micro"),
        )
        .orderBy("w1")
    )
