"""LLM training-data mixture/budget ops (x*): packing, domain mixtures, temperature/budget sampling, dataset cards, shards, train/eval splits, ablations.

Importing this module registers its queries in the package registry
(``hi_csa_db_spark.queries``) in source order."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hi_csa_db_spark.catalog import load_table
from hi_csa_db_spark.functions.hashing import (
    KNUTH_HASH32_SQL,
    hex_to_long,
    id_shard16,
    knuth_hash32,
    md5_hex,
    row_checksum,
    stable_long_hash,
)
from hi_csa_db_spark.functions.text import strip_punct, tokenize
from hi_csa_db_spark.operators import dedup, ordered
from hi_csa_db_spark.operators.packing import pack_prefix

from hi_csa_db_spark.queries import _ORACLES, _register
from hi_csa_db_spark.queries._shared import (
    _D6_LABELS_SQL,
    _DSIR_W_SQL,
    _EVAL_GRAMS_SQL,
    _PACK_BUDGET,
    _SHINGLE_SQL,
    _X20_SCORED_SQL,
    _dsir_keep,
    _dsir_weight_frame,
    _eval_split_hits,
    _md5_nibble_split,
    _mixture_keep,
    _split_80_10_10,
    _x49_oracle,
)
from hi_csa_db_spark.queries.q_corpus import x12_quality_rules, x20_quality_classifier


@_register(
    "x32_source_overlap",
    """
    WITH st AS (
      SELECT DISTINCT source, unnest(list_filter(
        string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '')) AS tok
      FROM documents
    ),
    sizes AS (SELECT source, COUNT(*) AS sz FROM st GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS ic
      FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b,
           ROUND(CAST(ic AS DOUBLE) / (sa.sz + sb.sz - ic), 6) AS vocab_jaccard
    FROM inter JOIN sizes sa ON sa.source = src_a
               JOIN sizes sb ON sb.source = src_b
    ORDER BY vocab_jaccard DESC, src_a ASC, src_b ASC LIMIT 20
    """,
)
def x32_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-structure audit: vocabulary Jaccard between every source
    pair — which feeds publish (near-)identical content and would
    double-count in a mixture. The (source, token) index is distinct
    per source, and source cardinality is tiny, so the token-keyed
    self-join fans out by shared-token source pairs (bounded by
    n_sources^2), nothing like a doc-level pair explosion."""
    docs = load_table(spark, sf_dir, "documents")
    st = docs.select(
        "source",
        F.explode(tokenize(F.lower(strip_punct(F.col("text"))))).alias("tok"),
    ).distinct()
    sizes = st.groupBy("source").agg(F.count(F.lit(1)).alias("sz"))
    a = st.alias("a")
    b = st.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok")) & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("ic"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("sz").alias("szb"))
    return (
        inter.join(sa, "src_a")
        .join(sb, "src_b")
        .select(
            "src_a",
            "src_b",
            F.round(
                F.col("ic").cast("double")
                / (F.col("sza") + F.col("szb") - F.col("ic")),
                6,
            ).alias("vocab_jaccard"),
        )
        .orderBy(F.col("vocab_jaccard").desc(), F.col("src_a").asc(), F.col("src_b").asc())
        .limit(20)
    )


@_register(
    "x31_dataset_card",
    """
    WITH toks AS (
      SELECT doc_id, lang, source, n_chars,
             len(list_filter(
               string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
               x -> x <> '')) AS n_toks
      FROM documents
    )
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT lang) AS n_langs,
           COUNT(DISTINCT source) AS n_sources,
           CAST(SUM(n_toks) AS BIGINT) AS total_ws_tokens,
           ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 2) AS mean_doc_chars,
           ROUND(CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 4) AS frac_en,
           MIN(n_toks) AS min_toks, MAX(n_toks) AS max_toks
    FROM toks
    """,
)
def x31_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card: the one-row corpus summary every published
    training set documents (counts, language/source diversity, token
    budget, length extremes, target-language fraction) — one
    map-combined aggregation pass, the cheapest query in the pipeline
    and the one that runs after every build."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(tokenize(F.lower(strip_punct(F.col("text")))))
    base = docs.select("lang", "source", "n_chars", toks.alias("n_toks"))
    return base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_toks").alias("total_ws_tokens"),
        F.round(F.sum("n_chars").cast("double") / F.count(F.lit(1)), 2).alias(
            "mean_doc_chars"
        ),
        F.round(
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("frac_en"),
        F.min("n_toks").alias("min_toks"),
        F.max("n_toks").alias("max_toks"),
    )


@_register(
    "x29_weighted_sample",
    """
    WITH u AS (
      SELECT doc_id, lang, n_chars,
             (CAST(strpos('0123456789abcdef',
                          substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
                   AS BIGINT) * 65536
              + CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 2, 4)
                     AS BIGINT)) % 1000000 AS h
      FROM documents WHERE n_chars > 0
    ),
    keyed AS (
      SELECT doc_id, lang,
             ROUND(ln((h + CAST(0.5 AS DOUBLE)) / 1000000) / n_chars, 9) AS es_key
      FROM u
    )
    SELECT doc_id, lang, es_key FROM keyed
    ORDER BY es_key DESC, doc_id ASC LIMIT 50
    """,
)
def x29_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via Efraimidis-Spirakis
    (2006) exponential keys: key = ln(u)/w with u uniform per row; the
    global top-k by key is exactly a weight-proportional sample drawn
    without replacement — embarrassingly parallel (one narrow map +
    TakeOrderedAndProject), where naive sequential WRS can't
    distribute at all. Here w = n_chars (longer docs proportionally
    likelier), u is a deterministic md5-derived uniform so the sample
    is reproducible and oracle-checkable; keys are rounded to 9dp
    before ranking with doc_id tie-break (the ln() 1-ulp class)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    h = hex_to_long(md5_hex(F.col("doc_id")), 5) % 1000000
    u = (h + F.lit(0.5)) / 1000000
    key = F.round(F.log(u) / F.col("n_chars"), 9)
    return (
        docs.select("doc_id", "lang", key.alias("es_key"))
        .orderBy(F.col("es_key").desc(), F.col("doc_id").asc())
        .limit(50)
    )


@_register(
    "x16_context_packing",
    f"""
    WITH toks AS (
      SELECT source, doc_id,
             len(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS n_tokens
      FROM documents
    ),
    cum AS (
      SELECT source, doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
      FROM toks
    )
    SELECT source,
           CAST(FLOOR(tokens_before / {_PACK_BUDGET}.0) AS BIGINT) AS bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
    FROM cum
    GROUP BY source, bin_id
    """,
)
def x16_context_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-context packing: concatenate each corpus slice's docs in
    a deterministic order and split at a fixed token budget — the
    chunked sequence-packing used to fill fixed-length training
    contexts. bin = floor(cumulative-tokens-before / budget), i.e. a
    document straddling a boundary starts in the earlier bin (streaming
    chunking, not bin packing — no sequential dependence beyond one
    prefix sum).

    Scale: ONE shuffle (repartition by source + in-partition sort for
    the window), then the groupBy re-uses the same partitioning; per-doc
    token counts never leave the executor. A greedy first-fit packer
    would serialize per slice; the prefix-sum formulation is
    embarrassingly parallel and what 100 TB pipelines actually run."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", "doc_id", F.size(tokenize(F.col("text"))).alias("n_tokens")
    )
    return (
        pack_prefix(toks, _PACK_BUDGET)
        .groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
        )
    )


@_register(
    "x17_domain_mixture",
    """
    WITH toks AS (
      SELECT source, doc_id,
             len(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS n_tokens
      FROM documents
    ),
    totals AS (
      SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
      FROM toks GROUP BY source
    ),
    floor_t AS (SELECT MIN(src_tokens) AS min_tokens FROM totals)
    SELECT t.source,
           COUNT(*) AS n_kept,
           CAST(SUM(t.n_tokens) AS BIGINT) AS kept_tokens
    FROM toks t
    JOIN totals s ON t.source = s.source
    CROSS JOIN floor_t m
    WHERE ((t.doc_id * 2654435761) % 4294967296) * s.src_tokens
          < m.min_tokens * 4294967296
    GROUP BY t.source
    """,
)
def x17_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture balancing: downsample every corpus slice to the
    token budget of the smallest slice, so the training mixture is
    uniform across sources. The keep/drop decision is a deterministic
    multiplicative hash of doc_id (Knuth 2654435761 mod 2^32) compared
    in PURE INTEGER arithmetic (hash * src_tokens < min_tokens * 2^32)
    — no float thresholds, so Spark and the oracle agree exactly and a
    re-run keeps the identical document set (reproducible mixtures).

    Scale: per-source totals are one map-combined aggregation over a
    handful of groups; both the totals and the global min broadcast;
    the corpus itself is filtered in place with zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", "doc_id", F.size(tokenize(F.col("text"))).alias("n_tokens")
    )
    return (
        _mixture_keep(toks)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_tokens").alias("kept_tokens"),
        )
    )


@_register(
    "x18_global_shuffle_order",
    """
    SELECT doc_id,
           ROW_NUMBER() OVER (
             ORDER BY md5('seed42:' || CAST(doc_id AS VARCHAR))
           ) AS shuffle_rank,
           (ROW_NUMBER() OVER (
             ORDER BY md5('seed42:' || CAST(doc_id AS VARCHAR))
           ) - 1) % 8 AS shard
    FROM documents
    """,
)
def x18_global_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle into training order + shard
    assignment: seed-keyed md5 gives a reproducible pseudo-random total
    order; ordered.global_row_numbers enumerates it WITHOUT the
    single-partition window (range-partition + broadcast offsets), so
    the op scales to any corpus size; round-robin over ranks yields
    size-balanced shards (max spread 1, vs hash-mod sharding's
    statistical spread). The oracle is the naive global window — same
    result, plan that would die at 100 TB; ours is the scale-safe
    rewrite of it."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(F.concat(F.lit("seed42:"), F.col("doc_id").cast("string"))).alias(
            "__k"
        ),
    )
    return (
        ordered.global_row_numbers(keyed, "__k")
        .select(
            "doc_id",
            F.col("rank").alias("shuffle_rank"),
            ((F.col("rank") - 1) % 8).alias("shard"),
        )
    )


# ---------------------------------------------------------------------------
# Round-2 additions: span-level dedup, semantic dedup, model-based
# quality filtering, temperature mixtures, stratified sampling, CDC
# snapshot diff, URL canonicalization
# ---------------------------------------------------------------------------


@_register(
    "x35_shard_manifest",
    """
    WITH sh AS (
      SELECT CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                  AS BIGINT) AS shard,
             doc_id,
             length(text) AS n_chars,
             CAST('0x' || substring(md5(text), 1, 15) AS BIGINT)
               % 2147483647 AS fp
      FROM documents
    )
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id,
           CAST(SUM(fp) AS BIGINT) AS content_checksum
    FROM sh GROUP BY shard
    """,
)
def x35_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard EXPORT manifest: every document is
    assigned to one of 16 shards by an id-hash (a pure function of the
    id — stable across engines, re-runs, and cluster sizes, the same
    contract as sample_hash_bucket), and each shard reports row count,
    byte budget, id range, and an ORDER-INSENSITIVE content checksum
    (commutative sum of 60-bit md5 fingerprints — f15's anti-entropy
    trick). This is the manifest a sharded JSONL/parquet training
    export writes next to its files so a consumer can verify every
    shard without re-reading the corpus; at fleet scale the shard
    column doubles as the partitionBy key of the actual write. One
    narrow map + one 16-group aggregation; no shuffle beyond the
    map-combined groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            id_shard16(F.col("doc_id")).alias("shard"),
            F.col("doc_id"),
            F.length("text").alias("n_chars"),
            row_checksum(F.col("text")).alias("fp"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
            F.sum("fp").alias("content_checksum"),
        )
    )


@_register(
    "x33_curriculum_phases",
    f"""
    WITH {_X20_SCORED_SQL},
    lab AS (
      SELECT s.doc_id, s.logit_micro, s.n_words, d.lang
      FROM scored s JOIN documents d USING (doc_id)
    ),
    phased AS (
      SELECT lang, n_words,
             NTILE(4) OVER (PARTITION BY lang ORDER BY logit_micro DESC, doc_id ASC)
               AS phase
      FROM lab
    )
    SELECT lang, phase, COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS phase_tokens
    FROM phased GROUP BY lang, phase
    """,
)
def x33_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum scheduling: each language slice split into 4
    quality-ordered phases (highest-logit docs first — the
    clean-to-noisy curriculum ordering), with per-phase token budgets
    for the training scheduler. Deterministic: ntile over the rounded
    logit with doc_id ties, partitioned per slice (parallel across
    languages, never a global sort)."""
    docs = load_table(spark, sf_dir, "documents")
    scored = x20_quality_classifier(spark, sf_dir).select(
        "doc_id", "logit_micro", "n_words"
    )
    lab = scored.join(docs.select("doc_id", "lang"), "doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.col("logit_micro").desc(), F.col("doc_id").asc()
    )
    return (
        lab.select("lang", "n_words", F.ntile(4).over(w).alias("phase"))
        .groupBy("lang", "phase")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("phase_tokens"),
        )
    )


@_register(
    "x21_temperature_mixture",
    """
    WITH toks AS (
      SELECT source, doc_id,
             len(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS n_tokens
      FROM documents
    ),
    totals AS (
      SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
      FROM toks GROUP BY source
    ),
    wts AS (
      SELECT source, src_tokens,
             CAST(ROUND(sqrt(src_tokens), 6) AS DECIMAL(24,6)) AS w
      FROM totals
    ),
    gl AS (
      SELECT CAST(SUM(w) AS DECIMAL(30,6)) AS sum_w,
             CAST(SUM(src_tokens) AS BIGINT) AS grand
      FROM wts
    ),
    rates AS (
      SELECT source, src_tokens,
             least(1.0::DOUBLE,
                   (CAST(w AS DOUBLE) / CAST(sum_w AS DOUBLE))
                   * (0.5::DOUBLE * grand) / src_tokens) AS r
      FROM wts CROSS JOIN gl
    ),
    thr AS (
      SELECT source, r,
             CAST(floor(r * 4294967296.0::DOUBLE) AS BIGINT) AS thr
      FROM rates
    )
    SELECT t.source,
           COUNT(*) AS n_kept,
           CAST(SUM(t.n_tokens) AS BIGINT) AS kept_tokens,
           ROUND(MAX(h.r), 6) AS keep_rate
    FROM toks t JOIN thr h ON t.source = h.source
    WHERE (t.doc_id * 2654435761) % 4294967296 < h.thr
    GROUP BY t.source
    """,
)
def x21_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted mixture sampling (alpha = 0.5): each
    domain's sampling share is proportional to src_tokens^alpha —
    upweighting small domains relative to raw proportions — against a
    global budget of half the corpus tokens. Where x17 flattens every
    domain to the smallest's budget, this is the standard
    temperature-T resampling between the two extremes.

    Determinism: per-domain keep rate r_i = min(1, p_i * B / tokens_i)
    is derived from an EXACT decimal sum of 6dp-rounded sqrt weights
    (so the normalizing constant is bit-identical on both engines),
    converted once to double; the keep decision compares the Knuth
    multiplicative hash of doc_id against floor(r_i * 2^32) in pure
    integer arithmetic.

    Scale: per-source totals are one map-combined aggregation over a
    handful of groups; weights/rates broadcast; the corpus filter is
    narrow — zero extra shuffles, same contract as x17."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", "doc_id", F.size(tokenize(F.col("text"))).alias("n_tokens")
    )
    totals = toks.groupBy("source").agg(F.sum("n_tokens").alias("src_tokens"))
    wts = totals.select(
        "source",
        "src_tokens",
        F.round(F.sqrt("src_tokens"), 6).cast("decimal(24,6)").alias("w"),
    )
    gl = wts.agg(
        F.sum("w").cast("decimal(30,6)").alias("sum_w"),
        F.sum("src_tokens").alias("grand"),
    )
    r = F.least(
        F.lit(1.0),
        (F.col("w").cast("double") / F.col("sum_w").cast("double"))
        * (F.lit(0.5) * F.col("grand"))
        / F.col("src_tokens"),
    )
    thr = (
        wts.join(F.broadcast(gl))
        .select("source", r.alias("r"))
        .select(
            "source",
            "r",
            F.floor(F.col("r") * F.lit(4294967296.0)).cast("bigint").alias("thr"),
        )
    )
    u = knuth_hash32(F.col("doc_id"))
    return (
        toks.join(F.broadcast(thr), "source")
        .filter(u < F.col("thr"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_tokens").alias("kept_tokens"),
            F.round(F.max("r"), 6).alias("keep_rate"),
        )
    )


@_register(
    "x22_stratified_sample",
    """
    SELECT doc_id, lang, rn FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 5
    """,
)
def x22_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: EXACTLY n=5 documents per
    language stratum, drawn by ranking each stratum in md5(doc_id)
    order — a seedless, engine-portable pseudo-random order that is a
    pure function of the id, so the sample is reproducible and
    membership is decidable per-row (unlike reservoir sampling, which
    depends on scan order). One shuffle on the stratum key.

    At fleet scale the full sort-per-stratum is avoided the same way
    x18 does global ordering: TakeOrderedAndProject per stratum via
    the rank window is already partial-agg'd (each partition keeps
    only its local top-n before the shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 5)
    )


@_register(
    "x23_dsir_weights",
    """
    WITH toks AS (
      SELECT doc_id, lang, unnest(list_filter(
        string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '')) AS tok
      FROM documents
    ),
    cs AS (
      SELECT tok, COUNT(*) AS c_s,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_t
      FROM toks GROUP BY tok
    ),
    scal AS (SELECT SUM(c_s) AS t_s, SUM(c_t) AS t_t, COUNT(*) AS v FROM cs),
    llr AS (
      SELECT tok,
             CAST(floor((ln(CAST(c_t + 1 AS DOUBLE) / CAST(t_t + v AS DOUBLE))
                         - ln(CAST(c_s + 1 AS DOUBLE) / CAST(t_s + v AS DOUBLE)))
                        * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS illr
      FROM cs CROSS JOIN scal
    ),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok)
    SELECT doc_id,
           CAST((SUM(tf * illr) + 100000000 * SUM(tf)) // SUM(tf)
                - 100000000 AS BIGINT) AS dsir_microweight
    FROM tf JOIN llr USING (tok)
    GROUP BY doc_id
    ORDER BY dsir_microweight DESC, doc_id ASC LIMIT 20
    """,
)
def x23_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights for data selection (Xie et al.
    2023, 'Data Selection for Language Models via Importance
    Resampling', arXiv:2302.03169 — public method): score each doc by the
    average log-likelihood ratio of its tokens under a TARGET unigram
    LM (here: the lang='en' slice) vs the SOURCE LM (whole corpus),
    add-one smoothed over the shared vocabulary. Docs that look like
    the target domain get high weights; resampling by these weights
    steers a mixture toward the target. Top-20 by weight.

    Scale shape: two aggregations of the token index (per-term corpus
    counts, per-doc tf) + one broadcast 1-row scalar row — no pair
    explosion anywhere; per-term contributions are rounded and summed
    as DECIMAL so the per-doc reduction is order-independent on both
    engines."""
    return (
        _dsir_weight_frame(spark, sf_dir)
        .orderBy(F.col("dsir_microweight").desc(), F.col("doc_id").asc())
        .limit(20)
    )


@_register(
    "x24_dsir_resample",
    f"""
    WITH {_DSIR_W_SQL},
    keep AS (
      SELECT doc_id, dsir_microweight AS wi,
             greatest(0, least(1000000, 500000 + 10 * dsir_microweight)) AS p,
             (doc_id * 2654435761) % 4294967296 AS u
      FROM w
    )
    SELECT d.lang,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN u * 1000000 < p * 4294967296 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN u * 1000000 < p * 4294967296 THEN wi ELSE 0 END)
                AS BIGINT) AS kept_microweight_sum
    FROM keep JOIN documents d USING (doc_id)
    GROUP BY d.lang
    """,
)
def x24_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resampling half of DSIR: turn each doc's importance weight
    into a keep probability (linear ramp centered at p=0.5, saturating
    at [0, 1]) and make the keep/drop decision with x17's PURE-INTEGER
    deterministic rule — micro-weight = round(w * 1e6) as BIGINT, keep
    iff knuth_hash(doc_id) * 1e6 < p_micro * 2^32. No float threshold
    ever crosses an engine boundary, so a re-run (or the oracle)
    selects the IDENTICAL document set. Per-lang audit aggregates out;
    target-language docs keep at visibly higher rates.

    Scale: the weight frame is two token-index aggregations (x23);
    the decision is a narrow map over docs; the audit is a 5-group
    aggregate. Nothing new shuffles beyond the weight computation."""
    w = _dsir_weight_frame(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    keep = w.select(
        "doc_id", F.col("dsir_microweight").alias("wi"), _dsir_keep().alias("__k")
    )
    kept = F.col("__k")
    return (
        keep.join(docs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(kept, F.col("wi")).otherwise(0)).alias(
                "kept_microweight_sum"
            ),
        )
    )


@_register(
    "x38_k_anonymity",
    """
    WITH qi AS (
      SELECT lang, source, CAST(n_chars // 100 AS BIGINT) AS size_bucket
      FROM documents
    ),
    g AS (
      SELECT lang, source, size_bucket, COUNT(*) AS n_docs
      FROM qi GROUP BY lang, source, size_bucket
    )
    SELECT lang, source, size_bucket, n_docs FROM g WHERE n_docs >= 5
    UNION ALL
    SELECT '*' AS lang, '*' AS source, CAST(-1 AS BIGINT) AS size_bucket,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs
    FROM g WHERE n_docs < 5
    HAVING COUNT(*) > 0
    """,
)
def x38_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release gate (k=5) over the quasi-identifier
    projection (lang, source, size bucket): publishable group counts
    only for groups of at least k documents; all smaller groups are
    SUPPRESSED into one generalized ('*','*',-1) row so no rare
    combination is disclosed — the privacy aggregation a corpus
    datasheet release runs (complements x11's content-level PII
    scrub with cohort-level protection).

    One hash aggregate (map-side combined) + a broadcast-sized
    post-filter on the group table; the suppressed-remainder row is a
    second tiny aggregate of the same grouped frame — Spark reuses
    the exchange via AQE plan reuse."""
    docs = load_table(spark, sf_dir, "documents")
    g = (
        docs.select(
            "lang",
            "source",
            F.expr("CAST(n_chars div 100 AS BIGINT)").alias("size_bucket"),
        )
        .groupBy("lang", "source", "size_bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    ok = g.filter(F.col("n_docs") >= 5)
    suppressed = (
        g.filter(F.col("n_docs") < 5)
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).alias("__g"),
        )
        .filter(F.col("__g") > 0)
        .select(
            F.lit("*").alias("lang"),
            F.lit("*").alias("source"),
            F.lit(-1).cast("bigint").alias("size_bucket"),
            "n_docs",
        )
    )
    return ok.unionByName(suppressed)


@_register(
    "x44_ffd_packing",
    """
    WITH RECURSIVE
    fsized AS (
      SELECT source, doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n
      FROM documents
    ),
    ford AS (
      SELECT source, n,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, doc_id ASC) AS i
      FROM fsized
    ),
    fcnt AS (SELECT source, COUNT(*) AS m FROM ford GROUP BY source),
    fst AS (
      SELECT source, CAST(0 AS BIGINT) AS i,
             CAST([] AS BIGINT[]) AS fills, CAST([] AS BIGINT[]) AS ndocs
      FROM fcnt
      UNION ALL
      SELECT source, i + 1,
             CASE WHEN bpos = 0 THEN list_append(fills, n)
                  ELSE list_concat(list_concat(fills[1:bpos-1], [fills[bpos] + n]),
                                   fills[bpos+1:len(fills)]) END,
             CASE WHEN bpos = 0 THEN list_append(ndocs, CAST(1 AS BIGINT))
                  ELSE list_concat(list_concat(ndocs[1:bpos-1], [ndocs[bpos] + 1]),
                                   ndocs[bpos+1:len(ndocs)]) END
      FROM (
        SELECT fst.source, fst.i, fst.fills, fst.ndocs, o.n,
               CASE WHEN o.n <= 512 THEN
                 COALESCE(list_position(
                   list_transform(range(1, len(fst.fills) + 1),
                                  j -> CASE WHEN fst.fills[j] + o.n <= 512
                                       THEN 1 ELSE 0 END), 1), 0)
               ELSE 0 END AS bpos
        FROM fst JOIN ford o ON o.source = fst.source AND o.i = fst.i + 1
      ) step
    ),
    ffinal AS (
      SELECT fst.source, fst.fills, fst.ndocs
      FROM fst JOIN fcnt USING (source) WHERE fst.i = fcnt.m
    )
    SELECT source, j - 1 AS bin_id, ndocs[CAST(j AS INT)] AS n_docs,
           fills[CAST(j AS INT)] AS bin_tokens
    FROM ffinal, LATERAL (SELECT unnest(range(1, len(fills) + 1)) AS j) r
    """,
)
def x44_ffd_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing sequence packing (operators/packing.py):
    per-source FFD bin assignment via applyInPandas — the sequential-
    per-group packer that beats x16's prefix-sum chunking on stranded
    budget (FFD <= 11/9·OPT + 1 bins). Value-oracled since r4 (was
    rows-only): the loop-carried bin state replays in DuckDB as a
    recursive CTE over (fills, ndocs) list pairs — one step per item
    in (n desc, doc_id) order, first-fit via list_position over the
    fills list (see the x27 recursive-replay idiom). The exact
    assignment is additionally pinned against a brute-force Python
    twin in tests/test_r3_ops.py. Output: per (source, bin) doc count
    and fill."""
    from hi_csa_db_spark.operators.packing import pack_ffd

    docs = load_table(spark, sf_dir, "documents")
    packed = pack_ffd(docs, budget=512)
    return (
        packed.groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
        )
        .orderBy("source", "bin_id")
    )


@_register("x49_gate_ablation", None)
def x49_gate_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-gate ablation report: the per-language 2x2
    contingency of the rule gate (x12) x the model gate (x20) with
    document AND token counts per cell — the analysis that tells a curator whether the
    two filters are redundant or complementary, and what each
    marginal gate costs in tokens. Composes the two gate queries
    as subplans; the oracle composes their oracle SQL verbatim (the
    ret2 idiom), so the ablation is pinned to the exact stage
    definitions already verified individually."""
    rule = x12_quality_rules(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("rule_keep")
    )
    model = x20_quality_classifier(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("model_keep")
    )
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.size(tokenize(F.lower(strip_punct(F.col("text"))))).alias("n_tokens"),
    )
    return (
        rule.join(model, "doc_id")
        .join(toks, "doc_id")
        .groupBy("lang", "rule_keep", "model_keep")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )


_ORACLES["x49_gate_ablation"] = _x49_oracle()


@_register(
    "x51_domain_cap",
    """
    WITH r AS (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id ASC) AS rnk
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rnk <= 40 THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
           CAST(SUM(CASE WHEN rnk > 40 THEN 1 ELSE 0 END) AS BIGINT) AS dropped_docs,
           CAST(SUM(CASE WHEN rnk <= 40 THEN n_chars ELSE 0 END) AS BIGINT)
             AS kept_chars
    FROM r GROUP BY source
    """,
)
def x51_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain contribution cap — the CommonCrawl-style curation
    rule that stops one prolific domain dominating the mix: rank each
    source's documents by quality proxy (n_chars DESC, doc_id
    tie-break) and keep at most 40; report kept/dropped counts and
    kept volume per source. Deterministic integer ranking — no float.

    Scale shape: ONE window pass partitioned by source (parallel in
    domains; a skewed mega-domain is bounded by the cap itself at the
    output, and the rank-window's group is the domain's doc count —
    salt or pre-aggregate per (domain, shard) if one domain exceeds a
    partition at 100 TB) + one per-source aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    r = docs.select("source", "n_chars", F.row_number().over(w).alias("rnk"))
    return r.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("rnk") <= 40, 1).otherwise(0))
        .cast("bigint")
        .alias("kept_docs"),
        F.sum(F.when(F.col("rnk") > 40, 1).otherwise(0))
        .cast("bigint")
        .alias("dropped_docs"),
        F.sum(F.when(F.col("rnk") <= 40, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("kept_chars"),
    )


@_register(
    "x52_token_budget_select",
    """
    WITH t AS (
      SELECT doc_id, source,
             len(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS toks,
             len(list_distinct(list_filter(string_split(trim(text), ' '),
                                           x -> x <> ''))) AS dtoks
      FROM documents
    ),
    q AS (SELECT doc_id, source, toks,
                 (dtoks * 1000000) // toks AS qm
          FROM t WHERE toks > 0),
    b AS (SELECT CAST(SUM(toks) // 5 AS BIGINT) AS budget FROM q),
    r AS (SELECT source, toks,
                 SUM(toks) OVER (ORDER BY qm DESC, doc_id ASC
                                 ROWS UNBOUNDED PRECEDING) AS cum
          FROM q)
    SELECT r.source, CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
           CAST(SUM(r.toks) AS BIGINT) AS tokens_kept,
           b.budget AS budget_tokens
    FROM r CROSS JOIN b WHERE r.cum <= b.budget
    GROUP BY r.source, b.budget
    """,
)
def x52_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget-aware corpus selection: order documents by an
    integer quality key (lexical diversity, distinct-tokens-per-token
    in exact micro-units) and keep the prefix whose cumulative token
    count fits a 20%-of-corpus budget — the compute-budget curation
    step that picks WHICH documents to spend training tokens on.

    Scale shape: the cumulative-token rule runs on
    ordered.global_prefix_sums (range partition + broadcast offsets —
    never a single-partition running-sum window); the budget is a
    1-row broadcast; the keep test and the quality key are pure
    integer, so the selected set is engine- and host-exact."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    q = docs.select(
        "doc_id",
        "source",
        F.size(toks).cast("bigint").alias("toks"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("dtoks"),
    ).filter(F.col("toks") > 0)
    q = q.select(
        "doc_id",
        "source",
        "toks",
        F.expr("(dtoks * 1000000) div toks").alias("qm"),
    )
    budget = q.agg(F.expr("CAST(SUM(toks) div 5 AS BIGINT)").alias("budget"))
    # descending quality via a negated struct component (struct keys
    # range-partition lexicographically; global_prefix_sums orders ASC)
    keyed = q.select(
        "source",
        "toks",
        F.struct((-F.col("qm")).alias("nq"), F.col("doc_id").alias("k")).alias(
            "__key"
        ),
    )
    cum = ordered.global_prefix_sums(keyed, "__key", ["toks"])
    return (
        cum.crossJoin(F.broadcast(budget))
        .filter(F.col("cum_toks") <= F.col("budget"))
        .groupBy("source", "budget")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs_kept"),
            F.sum("toks").cast("bigint").alias("tokens_kept"),
        )
        .select(
            "source",
            "n_docs_kept",
            "tokens_kept",
            F.col("budget").alias("budget_tokens"),
        )
    )


@_register(
    "x55_stratified_sample",
    """
    WITH r AS (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
             ) AS rk
      FROM documents
    )
    SELECT lang, doc_id, CAST(rk AS BIGINT) AS sample_rank
    FROM r WHERE rk <= 40
    """,
)
def x55_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with exact per-stratum counts: keep the
    first min(40, |stratum|) documents of each language by md5(doc_id)
    rank — the deterministic equivalent of per-stratum uniform
    sampling (the hash is the uniform variate, as in x29's weighted
    sampler), used to build evaluation slices with guaranteed
    per-language representation.

    Scale shape: one window pass PARTITIONED by stratum (parallel
    across strata, never global) + a rank filter; no sort of the full
    corpus, no collect. Skewed strata parallelize at the partition
    level; within a hot stratum the window is a single partition —
    for pathological single-stratum corpora, switch to
    ordered.global_row_numbers keyed on the hash."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        docs.select("lang", "doc_id", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 40)
        .select("lang", "doc_id", F.col("rk").cast("bigint").alias("sample_rank"))
    )


@_register(
    "x62_split_leakage",
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
    pairs AS (
      SELECT c.id_a, c.id_b, ROUND(i.ic / (sa.sz + sb.sz - i.ic), 6) AS jaccard
      FROM cand c JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
                  JOIN sizes sa ON sa.doc_id = c.id_a
                  JOIN sizes sb ON sb.doc_id = c.id_b
      WHERE i.ic / (sa.sz + sb.sz - i.ic) >= 0.05
    ),
    sp AS (
      SELECT doc_id,
             CASE
               WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7','8','9','a','b') THEN 'train'
               WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'val'
               ELSE 'test'
             END AS split
      FROM documents
    )
    SELECT p.id_a, p.id_b, p.jaccard, sa.split AS split_a, sb.split AS split_b,
           CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END AS leaks
    FROM pairs p JOIN sp sa ON sa.doc_id = p.id_a
                 JOIN sp sb ON sb.doc_id = p.id_b
    """,
)
def x62_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test LEAKAGE audit: every MinHash-LSH near-dup pair (the
    d2 chain, threshold 0.05) labelled with the hash-split membership
    (sample_train_split's md5-nibble rule) of BOTH sides — a pair
    whose members land in different splits leaks eval signal into
    training (the contamination mode n-gram decontamination x14
    can't see once docs are paraphrased). The output is the full
    labelled pair table; `leaks=1` rows are the audit hits a real
    pipeline would quarantine before publishing a split manifest.

    Scale shape: exactly d2's banded LSH candidate generation +
    candidate-only verification (never all-pairs), then two narrow
    equi-joins against the (doc_id, split) projection — the split
    label is a pure md5 function of the id, so the join adds no new
    shuffle key."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_dedup(docs)
    sp = docs.select("doc_id", _md5_nibble_split(F.col("doc_id")).alias("split"))
    sa = sp.select(
        F.col("doc_id").alias("__ida"), F.col("split").alias("split_a")
    )
    sb = sp.select(
        F.col("doc_id").alias("__idb"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(sa, pairs["id_a"] == F.col("__ida"))
        .join(sb, pairs["id_b"] == F.col("__idb"))
        .select(
            "id_a",
            "id_b",
            "jaccard",
            "split_a",
            "split_b",
            (F.col("split_a") != F.col("split_b")).cast("int").alias("leaks"),
        )
    )


@_register(
    "x69_mixture_drift",
    """
    WITH d AS (
      SELECT source,
             CAST(epoch_us(ts) // 86400000000 // 7 AS BIGINT) AS week_n
      FROM events e JOIN documents doc ON doc.doc_id = e.event_id % 500
    ),
    sw AS (SELECT source, week_n, COUNT(*) AS n FROM d GROUP BY 1, 2),
    wt AS (SELECT week_n, SUM(n) AS wn FROM sw GROUP BY week_n),
    sh AS (
      SELECT sw.source, sw.week_n,
             sw.n * 1000000 // wt.wn AS share_micro
      FROM sw JOIN wt USING (week_n)
    ),
    pairs AS (
      SELECT a.source,
             abs(a.share_micro - b.share_micro) AS swing
      FROM sh a JOIN sh b ON b.source = a.source AND b.week_n = a.week_n - 1
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_transitions,
           CAST(MAX(swing) AS BIGINT) AS max_swing_micro,
           CAST(SUM(swing) // COUNT(*) AS BIGINT) AS mean_swing_micro
    FROM pairs GROUP BY source
    """,
)
def x69_mixture_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture stationarity audit: each source's weekly share of the
    event-linked corpus, and its week-over-week swing (max + mean, in
    integer micros) — the drift alarm for a training mixture that is
    supposed to be stationary (dq2's PSI compares two snapshots; this
    tracks the full weekly trajectory). Events are linked to
    documents by the fixture's id rule, making the share series
    deterministic.

    Scale shape: one (source, week) aggregate, a |weeks|-row total
    join, and a week-minus-one self equi-join — no windows."""
    ev = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    d = ev.select((F.col("event_id") % 500).alias("doc_id"),
                  F.expr("ts_ns div 1000 div 86400000000 div 7").alias("week_n")
                  ).join(docs, "doc_id")
    sw = d.groupBy("source", "week_n").agg(F.count(F.lit(1)).alias("n"))
    wt = sw.groupBy("week_n").agg(F.sum("n").alias("wn"))
    sh = sw.join(wt, "week_n").select(
        "source",
        "week_n",
        F.expr("n * 1000000 div wn").alias("share_micro"),
    )
    b = sh.select(
        F.col("source").alias("source"),
        (F.col("week_n") + 1).alias("week_n"),
        F.col("share_micro").alias("prev_share"),
    )
    pairs = sh.join(b, ["source", "week_n"]).select(
        "source",
        F.abs(F.col("share_micro") - F.col("prev_share")).alias("swing"),
    )
    return pairs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
        F.max("swing").cast("bigint").alias("max_swing_micro"),
        F.expr("CAST(SUM(swing) div COUNT(1) AS BIGINT)").alias(
            "mean_swing_micro"
        ),
    )


@_register(
    "x78_dedup_mixture_shift",
    f"""
    WITH {_D6_LABELS_SQL},
    drops AS (SELECT id FROM l3 WHERE id <> lbl),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM documents),
    keptt AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS na
      FROM documents d LEFT JOIN drops x ON x.id = d.doc_id
      WHERE x.id IS NULL
    ),
    per AS (
      SELECT d.source,
             CAST(COUNT(*) AS BIGINT) AS n_before,
             CAST(SUM(CASE WHEN x.id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_after
      FROM documents d LEFT JOIN drops x ON x.id = d.doc_id
      GROUP BY d.source
    )
    SELECT per.source, per.n_before, per.n_after,
           CAST(per.n_before * 1000000 // tot.nb AS BIGINT)
             AS share_before_micro,
           CAST(per.n_after * 1000000 // keptt.na AS BIGINT)
             AS share_after_micro,
           CAST(per.n_after * 1000000 // keptt.na
                - per.n_before * 1000000 // tot.nb AS BIGINT)
             AS shift_micro
    FROM per CROSS JOIN tot CROSS JOIN keptt
    """,
)
def x78_dedup_mixture_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How dedup RESHAPES the training mixture: per-source corpus
    shares before vs after d6's hard near-dup collapse, with the
    signed shift in exact integer millionths — the audit that catches
    dedup silently starving a domain (duplicate-heavy sources lose
    share by construction; the training-mix owner needs to see by how
    much BEFORE x17's mixture weights are fit on the deduped corpus).
    Composes the proven d2/d6 cluster machinery (survivor = cluster
    min id; singletons untouched) with a two-sided share audit.

    Scale: inherits d6's banded-LSH contract; the audit adds one
    anti-join-shaped left join, a <= |sources| aggregate, and two
    1-row total broadcasts."""
    docs = load_table(spark, sf_dir, "documents")
    labels = dedup.near_dup_clusters(dedup.minhash_lsh_dedup(docs))
    drops = labels.filter(F.col("id") != F.col("lbl")).select("id")
    # two consumers (per-source rollup + kept total) would re-run the
    # whole LSH+components derivation; truncate once (the er3 pattern)
    tagged = (
        docs.select("doc_id", "source")
        .join(drops, docs["doc_id"] == drops["id"], "left")
        .localCheckpoint(eager=False)
    )
    per = tagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_before"),
        F.sum(F.when(F.col("id").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_after"),
    )
    tot = docs.agg(F.count(F.lit(1)).cast("bigint").alias("nb"))
    kept = tagged.filter(F.col("id").isNull()).agg(
        F.count(F.lit(1)).cast("bigint").alias("na")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(kept))
        .select(
            "source",
            "n_before",
            "n_after",
            F.expr("CAST(n_before * 1000000 div nb AS BIGINT)").alias(
                "share_before_micro"
            ),
            F.expr("CAST(n_after * 1000000 div na AS BIGINT)").alias(
                "share_after_micro"
            ),
            F.expr(
                "CAST(n_after * 1000000 div na "
                "- n_before * 1000000 div nb AS BIGINT)"
            ).alias("shift_micro"),
        )
    )


@_register(
    "x81_cluster_safe_split",
    f"""
    WITH {_D6_LABELS_SQL},
    eff AS (
      SELECT d.doc_id, COALESCE(l3.lbl, d.doc_id) AS lbl
      FROM documents d LEFT JOIN l3 ON l3.id = d.doc_id
    ),
    sp AS (
      SELECT doc_id, lbl,
             CASE WHEN {KNUTH_HASH32_SQL.format(key='lbl')} < 3435973836
                  THEN 'train'
                  WHEN {KNUTH_HASH32_SQL.format(key='lbl')} < 3865470566
                  THEN 'val' ELSE 'test' END AS split,
             CASE WHEN {KNUTH_HASH32_SQL.format(key='doc_id')} < 3435973836
                  THEN 'train'
                  WHEN {KNUTH_HASH32_SQL.format(key='doc_id')} < 3865470566
                  THEN 'val' ELSE 'test' END AS naive_split
      FROM eff
    ),
    leaks AS (
      SELECT
        CAST(SUM(CASE WHEN a.naive_split <> b.naive_split THEN 1 ELSE 0 END)
          AS BIGINT) AS naive_leaked,
        CAST(SUM(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END)
          AS BIGINT) AS cluster_leaked
      FROM pairs p
      JOIN sp a ON a.doc_id = p.id_a
      JOIN sp b ON b.doc_id = p.id_b
    )
    SELECT s.split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT s.lbl) AS BIGINT) AS n_clusters,
           l.naive_leaked AS naive_leaked_pairs,
           l.cluster_leaked AS cluster_leaked_pairs
    FROM sp s CROSS JOIN leaks l
    GROUP BY s.split, l.naive_leaked, l.cluster_leaked
    """,
)
def x81_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment under NEAR-DUP structure:
    the split key is the near-dup CLUSTER label (d6's components;
    singletons label themselves), so every member of a duplicate
    cluster lands in the same split by construction — the eval-leak
    class x14/x80 measure after the fact is prevented at assignment
    time. The audit quantifies the counterfactual: the same 80/10/10
    integer-hash rule applied naively per doc_id leaks
    ``naive_leaked_pairs`` near-dup pairs across splits, while the
    cluster-keyed rule's ``cluster_leaked_pairs`` is structurally 0.

    Determinism: splits come from the Knuth multiplicative hash
    against fixed 2^32 thresholds (floor(0.8/0.9 * 2^32)) — the
    x24/x21 keep-rule idiom; all counts are exact integers. The hash
    is the overflow-safe 16-bit-halves form (functions/hashing.py
    knuth_hash32), total-range correct for doc_ids/labels past
    ~3.47e9 where the naive product throws under ANSI (ADVICE r7).

    Scale: inherits d2/d6's banded LSH + bounded label propagation;
    the split rule is a narrow projection, the leak audit joins the
    (already bounded) verified pair set against doc-level splits, and
    the report is a 3-group aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_dedup(docs).localCheckpoint(eager=False)
    labels = dedup.near_dup_clusters(pairs)
    eff = (
        docs.select("doc_id")
        .join(labels, docs["doc_id"] == labels["id"], "left")
        .select("doc_id", F.coalesce("lbl", F.col("doc_id")).alias("lbl"))
    )
    sp = eff.select(
        "doc_id",
        "lbl",
        _split_80_10_10(F.col("lbl")).alias("split"),
        _split_80_10_10(F.col("doc_id")).alias("naive_split"),
    ).localCheckpoint(eager=False)
    a = sp.select(
        F.col("doc_id").alias("id_a"),
        F.col("split").alias("sa"),
        F.col("naive_split").alias("na"),
    )
    b = sp.select(
        F.col("doc_id").alias("id_b"),
        F.col("split").alias("sb"),
        F.col("naive_split").alias("nb"),
    )
    leaks = (
        pairs.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, "id_b")
        .agg(
            F.sum(F.when(F.col("na") != F.col("nb"), 1).otherwise(0))
            .cast("bigint")
            .alias("naive_leaked_pairs"),
            F.sum(F.when(F.col("sa") != F.col("sb"), 1).otherwise(0))
            .cast("bigint")
            .alias("cluster_leaked_pairs"),
        )
    )
    return (
        sp.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("lbl").cast("bigint").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(leaks))
        .select(
            "split",
            "n_docs",
            "n_clusters",
            "naive_leaked_pairs",
            "cluster_leaked_pairs",
        )
    )


@_register(
    "x82_ablation_grid",
    f"""
    WITH {_D6_LABELS_SQL},
    {_X20_SCORED_SQL},
    {_EVAL_GRAMS_SQL},
    flags AS (
      SELECT c.doc_id, s.n_words,
             s.keep AS q_keep,
             CASE WHEN l3.id IS NOT NULL AND l3.id <> l3.lbl
                  THEN 0 ELSE 1 END AS dedup_keep,
             CASE WHEN h.doc_id IS NULL THEN 1 ELSE 0 END AS decontam_keep
      FROM corpus c
      JOIN scored s ON s.doc_id = c.doc_id
      LEFT JOIN l3 ON l3.id = c.doc_id
      LEFT JOIN hits h ON h.doc_id = c.doc_id
    )
    SELECT q_keep, dedup_keep, decontam_keep,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_tokens
    FROM flags GROUP BY q_keep, dedup_keep, decontam_keep
    """,
)
def x82_ablation_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-recipe ABLATION GRID: every corpus doc flagged by the
    three independent gates a training-data build composes — x20's
    quality keep, d6-style near-dup survivorship (non-survivor
    cluster members drop), and x80's eval decontamination — with
    doc and token mass per cell of the 2x2x2 grid. This is the table
    a data-recipe ablation reads before choosing which gates to ship:
    pipe_v3 applies one fixed path through this grid; the grid prices
    every path (including the gates' OVERLAP, which per-gate audits
    like x79/x78 can't see).

    Scale: composes three proven stages (banded LSH + bounded label
    propagation; one scored join; one broadcastable gram join) plus
    doc-level left joins and an 8-group aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    corpus, hits = _eval_split_hits(docs)
    scored = x20_quality_classifier(spark, sf_dir).select(
        "doc_id", "n_words", "keep"
    )
    labels = dedup.near_dup_clusters(dedup.minhash_lsh_dedup(docs))
    flags = (
        corpus.select("doc_id")
        .join(scored, "doc_id")
        .join(labels, F.col("doc_id") == labels["id"], "left")
        .join(
            hits.withColumnRenamed("doc_id", "hid"),
            F.col("doc_id") == F.col("hid"),
            "left",
        )
        .select(
            F.col("keep").alias("q_keep"),
            F.when(
                F.col("id").isNotNull() & (F.col("id") != F.col("lbl")), 0
            )
            .otherwise(1)
            .alias("dedup_keep"),
            F.when(F.col("hid").isNull(), 1).otherwise(0).alias(
                "decontam_keep"
            ),
            "n_words",
        )
    )
    return flags.groupBy("q_keep", "dedup_keep", "decontam_keep").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("n_tokens"),
    )


@_register(
    "x86_temperature_sweep",
    """
    WITH toks AS (
      SELECT source,
             len(list_filter(string_split(trim(text), ' '), x -> x <> ''))
               AS n_tokens
      FROM documents
    ),
    totals AS (
      SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
      FROM toks GROUP BY source
    ),
    wts AS (
      SELECT source, src_tokens,
             CAST(ROUND(sqrt(sqrt(CAST(src_tokens AS DOUBLE))) * 1000000)
               AS BIGINT) AS w25,
             CAST(ROUND(sqrt(CAST(src_tokens AS DOUBLE)) * 1000000)
               AS BIGINT) AS w50,
             CAST(ROUND(sqrt(CAST(src_tokens AS DOUBLE))
                        * sqrt(sqrt(CAST(src_tokens AS DOUBLE))) * 1000000)
               AS BIGINT) AS w75,
             src_tokens * 1000000 AS w100
      FROM totals
    ),
    un AS (
      SELECT 25 AS alpha_centi, source, src_tokens, w25 AS w_micro FROM wts
      UNION ALL SELECT 50, source, src_tokens, w50 FROM wts
      UNION ALL SELECT 75, source, src_tokens, w75 FROM wts
      UNION ALL SELECT 100, source, src_tokens, w100 FROM wts
    )
    SELECT CAST(alpha_centi AS BIGINT) AS alpha_centi, source, src_tokens,
           CAST(w_micro AS BIGINT) AS w_micro,
           CAST(w_micro * 10000 //
                SUM(w_micro) OVER (PARTITION BY alpha_centi) AS BIGINT)
             AS share_bps
    FROM un
    """,
)
def x86_temperature_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-sweep mixture planner: per-source sampling SHARES
    at alpha = 0.25 / 0.5 / 0.75 / 1.0 (share proportional to
    src_tokens^alpha) in one planning table — the grid the d21/t38/t39
    planners established, applied to the mixture knob x21 fixes at
    0.5: read across a row to see how hard each alpha flattens the
    domain imbalance before committing a training run to one.
    Fractional powers come from composed EXACTLY-ROUNDED sqrt ops
    (x^0.25 = sqrt(sqrt(x)), x^0.75 = sqrt(x)*sqrt(sqrt(x)) — IEEE
    basic ops, no libm pow), quantized once to integer micro, so the
    shares are pure integer floor division on both engines.

    Scale: one map-combined per-source token aggregate; everything
    downstream runs over the |sources| x 4 grid."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.size(
            F.filter(F.split(F.trim(F.col("text")), " "), lambda x: x != "")
        ).alias("n_tokens"),
    )
    totals = toks.groupBy("source").agg(
        F.sum("n_tokens").cast("bigint").alias("src_tokens")
    )
    t = F.col("src_tokens").cast("double")
    wts = totals.select(
        "source",
        "src_tokens",
        F.round(F.sqrt(F.sqrt(t)) * 1000000).cast("bigint").alias("w25"),
        F.round(F.sqrt(t) * 1000000).cast("bigint").alias("w50"),
        F.round(F.sqrt(t) * F.sqrt(F.sqrt(t)) * 1000000)
        .cast("bigint")
        .alias("w75"),
        (F.col("src_tokens") * 1000000).alias("w100"),
    )
    un = None
    for centi, col in ((25, "w25"), (50, "w50"), (75, "w75"), (100, "w100")):
        part = wts.select(
            F.lit(centi).alias("alpha_centi"),
            "source",
            "src_tokens",
            F.col(col).alias("w_micro"),
        )
        un = part if un is None else un.unionByName(part)
    wsum = Window.partitionBy("alpha_centi")
    return un.select(
        F.col("alpha_centi").cast("bigint").alias("alpha_centi"),
        "source",
        "src_tokens",
        F.col("w_micro").cast("bigint").alias("w_micro"),
        F.expr(
            "CAST(w_micro * 10000 div SUM(w_micro)"
            " OVER (PARTITION BY alpha_centi) AS BIGINT)"
        ).alias("share_bps"),
    )


@_register(
    "x87_embedding_drift",
    """
    WITH e AS (
      SELECT vec_id % 2 AS h,
             generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(FLOOR(unnest(embedding)::DOUBLE * 1000000 + 0.5) AS BIGINT)
               AS q
      FROM embeddings
    ),
    m AS (
      SELECT h, dim,
             (SUM(q) + 100000000 * COUNT(*)) // COUNT(*) - 100000000
               AS mean_micro
      FROM e GROUP BY h, dim
    ),
    p AS (
      SELECT a.dim, a.mean_micro AS mean_even_micro,
             b.mean_micro AS mean_odd_micro,
             ABS(a.mean_micro - b.mean_micro) AS abs_delta_micro
      FROM m a JOIN m b ON a.dim = b.dim AND a.h = 0 AND b.h = 1
    ),
    r AS (
      SELECT dim, mean_even_micro, mean_odd_micro, abs_delta_micro,
             SUM(abs_delta_micro) OVER () AS l1_total_micro,
             ROW_NUMBER() OVER (ORDER BY abs_delta_micro DESC, dim ASC)
               AS rnk
      FROM p
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(mean_even_micro AS BIGINT) AS mean_even_micro,
           CAST(mean_odd_micro AS BIGINT) AS mean_odd_micro,
           CAST(abs_delta_micro AS BIGINT) AS abs_delta_micro,
           CAST(l1_total_micro AS BIGINT) AS l1_total_micro,
           CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 10
    """,
)
def x87_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift audit: per-dimension centroid of the even
    half of the corpus vs the odd half (the split standing in for
    yesterday-vs-today or shard-vs-shard), top-10 dims by centroid
    shift plus the total L1 drift — dq2's PSI idea lifted from one
    scalar to the embedding space, the check that catches a silently
    swapped or re-normalized encoder before any retrieval metric
    moves. Means use the kmeans quantized-exact idiom: quantize each
    element once to integer micro (identical floor of identical
    doubles), sum as bigint, and floor-divide with the
    positive-offset trick so negative sums floor identically on both
    engines.

    Scale: one posexplode (narrow), one (half, dim)-keyed
    map-combined aggregate — 2 x dims groups; everything after is a
    dims-sized report."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        (F.col("vec_id") % 2).alias("h"),
        F.posexplode("embedding").alias("dim", "val"),
    ).select(
        "h",
        "dim",
        F.floor(F.col("val").cast("double") * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("q"),
    )
    m = e.groupBy("h", "dim").agg(
        F.expr(
            "(SUM(q) + 100000000L * COUNT(1)) div COUNT(1) - 100000000L"
        ).alias("mean_micro")
    )
    a = m.filter(F.col("h") == 0).select(
        "dim", F.col("mean_micro").alias("mean_even_micro")
    )
    b = m.filter(F.col("h") == 1).select(
        F.col("dim").alias("__d"), F.col("mean_micro").alias("mean_odd_micro")
    )
    p = a.join(b, a["dim"] == b["__d"]).select(
        "dim",
        "mean_even_micro",
        "mean_odd_micro",
        F.abs(F.col("mean_even_micro") - F.col("mean_odd_micro")).alias(
            "abs_delta_micro"
        ),
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    wr = Window.orderBy(F.col("abs_delta_micro").desc(), F.col("dim").asc())
    return (
        p.select(
            F.col("dim").cast("bigint").alias("dim"),
            F.col("mean_even_micro").cast("bigint").alias("mean_even_micro"),
            F.col("mean_odd_micro").cast("bigint").alias("mean_odd_micro"),
            F.col("abs_delta_micro").cast("bigint").alias("abs_delta_micro"),
            F.sum("abs_delta_micro").over(wall).cast("bigint").alias(
                "l1_total_micro"
            ),
            F.row_number().over(wr).cast("bigint").alias("rnk"),
        )
        .filter(F.col("rnk") <= 10)
    )


@_register(
    "x91_budget_apportionment",
    """
    WITH w AS (
      SELECT source,
             CAST(SUM(len(list_filter(string_split(trim(text), ' '),
                                      x -> x <> ''))) AS BIGINT) AS toks
      FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(toks) AS BIGINT) AS W FROM w),
    q AS (
      SELECT source, toks,
             CAST((p - p % W) / W AS BIGINT) AS floor_alloc,
             CAST(p % W AS BIGINT) AS remainder
      FROM (SELECT source, toks, CAST(100000 AS DECIMAL(38,0)) * toks AS p,
                   t.W AS W
            FROM w CROSS JOIN tot t)
    ),
    s AS (
      SELECT q.*,
             ROW_NUMBER() OVER (ORDER BY remainder DESC, source ASC)
               AS rrank,
             (SELECT 100000 - SUM(floor_alloc) FROM q) AS seats_left
      FROM q
    )
    SELECT source, toks, floor_alloc,
           CAST(floor_alloc + CASE WHEN rrank <= seats_left THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_tokens,
           CAST(SUM(floor_alloc + CASE WHEN rrank <= seats_left
                    THEN 1 ELSE 0 END) OVER () AS BIGINT) AS total_check
    FROM s
    ORDER BY alloc_tokens DESC, source ASC
    """,
)
def x91_budget_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a 100k-token
    training budget across sources: mixture WEIGHTS must become
    INTEGER token allocations that sum EXACTLY to the budget — floor
    division leaves seats_left = B - sum(floor(B*w/W)) tokens, handed
    to the largest remainders (source tie-break). The total_check
    column proves the invariant (= 100000 in every row). Exact
    integers end to end; complements x17 (uniform downsample) and
    x21/x86 (temperature weights) by closing the weights-to-counts
    gap every sampler actually needs.

    Scale shape: one map-combined per-source token sum; everything
    after runs on the SOURCE DIMENSION (5 rows here, hundreds at
    fleet scale) — the remainder rank and the proof window are
    dimension-bounded by construction."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.trim(F.col("text")), " "), lambda x: x != "")
    w = docs.groupBy("source").agg(
        F.sum(F.size(ws)).cast("bigint").alias("toks")
    )
    tot = w.agg(F.sum("toks").cast("bigint").alias("W"))
    # 100000*toks through DECIMAL(38,0): the bigint product overflows
    # once a source holds >9.2e13 tokens (the x81/ADVICE overflow
    # class). The quotient is <= 100000 and p%W exactly divides, so
    # (p - p%W)/W is an exact small integer on both engines.
    q = (
        w.crossJoin(F.broadcast(tot))
        .withColumn("p", F.expr("CAST(100000 AS DECIMAL(38,0)) * toks"))
        .select(
            "source",
            "toks",
            F.expr("CAST((p - p % W) / W AS BIGINT)").alias("floor_alloc"),
            F.expr("CAST(p % W AS BIGINT)").alias("remainder"),
        )
    )
    q = q.localCheckpoint(eager=False)  # ranked + seats_left share it
    seats = q.agg(
        (F.lit(100000) - F.sum("floor_alloc")).cast("bigint").alias("seats_left")
    )
    wr = Window.orderBy(F.col("remainder").desc(), F.col("source").asc())
    ranked = q.withColumn("rrank", F.row_number().over(wr)).crossJoin(
        F.broadcast(seats)
    )
    alloc = F.col("floor_alloc") + F.when(
        F.col("rrank") <= F.col("seats_left"), 1
    ).otherwise(0)
    out = ranked.select(
        "source",
        "toks",
        "floor_alloc",
        alloc.cast("bigint").alias("alloc_tokens"),
    )
    total = out.agg(F.sum("alloc_tokens").cast("bigint").alias("total_check"))
    return (
        out.crossJoin(F.broadcast(total))
        .orderBy(F.col("alloc_tokens").desc(), F.col("source").asc())
    )


@_register(
    "x95_source_overlap_matrix",
    """
    WITH vt AS (
      SELECT DISTINCT source, tok
      FROM (SELECT source,
                   unnest(list_filter(string_split(regexp_replace(
                     lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
                     x -> x <> '')) AS tok
            FROM documents)
    ),
    h AS (
      SELECT source, tok,
             CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT) AS hv
      FROM vt
    ),
    mins AS (
      SELECT source, hv % 64 AS stratum, MIN(hv) AS mn
      FROM h GROUP BY source, hv % 64
    ),
    est AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS strata,
             CAST(SUM(CASE WHEN a.mn = b.mn THEN 1 ELSE 0 END) AS BIGINT)
               AS agree
      FROM mins a JOIN mins b
        ON a.stratum = b.stratum AND a.source < b.source
      GROUP BY a.source, b.source
    ),
    sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS v FROM vt
              GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS vi
      FROM vt a JOIN vt b ON a.tok = b.tok AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT e.source_a, e.source_b,
           CAST(e.agree * 1000000 // e.strata AS BIGINT)
             AS jaccard_est_micro,
           CAST(i.vi * 1000000 // (sa.v + sb.v - i.vi) AS BIGINT)
             AS jaccard_exact_micro,
           i.vi AS vocab_intersection
    FROM est e
    JOIN inter i ON i.source_a = e.source_a AND i.source_b = e.source_b
    JOIN sizes sa ON sa.source = e.source_a
    JOIN sizes sb ON sb.source = e.source_b
    ORDER BY jaccard_exact_micro DESC, e.source_a ASC, e.source_b ASC
    LIMIT 20
    """,
)
def x95_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary-overlap MATRIX across corpus sources from
    a20's one-permutation MinHash sketches: each source keeps one min
    hash per 64 strata (a fully map-combined 64-row sketch), and
    EVERY source pair's Jaccard estimate comes from one 64-rows-per-
    source stratum equi-join — the all-pairs question costs
    O(sources^2 x 64), independent of vocabulary size. The exact
    pairwise vocab Jaccard rides along as calibration (the token-
    cooccurrence join production drops — its cost grows with shared
    vocabulary, which is exactly what the sketch avoids). Top-20
    most-overlapping source pairs; integer micros throughout.

    Scale shape: sketch side is (source, stratum) MIN — 64 rows per
    source survive regardless of corpus size; the dim x dim sketch
    join replaces any doc- or token-sized pair explosion. This is
    the contamination/mixture-planning matrix (which sources are
    near-copies of each other) priced for hundreds of sources.

    vs a17_audience_matrix: a17's pairwise matrix is EXACT via
    user bitmaps (state grows with the universe); this is the
    constant-state sketch tier over an unbounded token vocabulary —
    same matrix question, opposite state class."""
    docs = load_table(spark, sf_dir, "documents")
    vt = (
        docs.select(
            "source",
            F.explode(
                tokenize(F.lower(strip_punct(F.col("text"))))
            ).alias("tok"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # sketch + exact + sizes share it
    )
    h = vt.select("source", stable_long_hash(F.col("tok")).alias("hv"))
    mins = h.groupBy("source", (F.col("hv") % 64).alias("stratum")).agg(
        F.min("hv").alias("mn")
    )
    a = mins.select(
        F.col("source").alias("source_a"), "stratum", F.col("mn").alias("ma")
    )
    b = mins.select(
        F.col("source").alias("source_b"), "stratum", F.col("mn").alias("mb")
    )
    est = (
        a.join(b, "stratum")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("strata"),
            F.sum(F.when(F.col("ma") == F.col("mb"), 1).otherwise(0))
            .cast("bigint")
            .alias("agree"),
        )
    )
    sizes = vt.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("v")
    )
    inter = (
        vt.select(F.col("source").alias("source_a"), "tok")
        .join(
            vt.select(F.col("source").alias("source_b"), "tok"), "tok"
        )
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("vi"))
    )
    return (
        est.join(inter, ["source_a", "source_b"])
        .join(
            sizes.select(F.col("source").alias("source_a"), F.col("v").alias("va")),
            "source_a",
        )
        .join(
            sizes.select(F.col("source").alias("source_b"), F.col("v").alias("vb")),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            F.expr("CAST(agree * 1000000 div strata AS BIGINT)").alias(
                "jaccard_est_micro"
            ),
            F.expr("CAST(vi * 1000000 div (va + vb - vi) AS BIGINT)").alias(
                "jaccard_exact_micro"
            ),
            F.col("vi").alias("vocab_intersection"),
        )
        .orderBy(
            F.col("jaccard_exact_micro").desc(),
            F.col("source_a").asc(),
            F.col("source_b").asc(),
        )
        .limit(20)
    )
