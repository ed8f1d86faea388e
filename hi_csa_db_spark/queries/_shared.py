"""Helpers and SQL fragments shared across query-family modules.

Registers no query. The ``_*_oracle*`` composers read ``_ORACLES``
when called, so the queries they compose must already be registered."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hi_csa_db_spark.catalog import load_table
from hi_csa_db_spark.functions.hashing import knuth_hash32, md5_hex
from hi_csa_db_spark.functions.text import strip_punct, tokenize
from hi_csa_db_spark.operators import textstats

from hi_csa_db_spark.queries import _ORACLES


def _dsum(col: Column, scale: int = 2, precision: int = 28) -> Column:
    """Exact decimal sum of a double column, returned as double."""
    return F.sum(col.cast(f"decimal({precision},{scale})")).cast("double")


def _disc_price() -> Column:
    """l_extendedprice * (1 - l_discount) in exact decimal arithmetic.

    Casting a computed double product to a high-scale decimal is NOT
    portable (engines differ in sub-ulp rounding of the cast); casting
    each 2-decimal factor first keeps every multiply exact.
    """
    e = F.col("l_extendedprice").cast("decimal(14,2)")
    one = F.lit("1.00").cast("decimal(3,2)")
    d = F.col("l_discount").cast("decimal(3,2)")
    return e * (one - d)


def _charge() -> Column:
    one = F.lit("1.00").cast("decimal(3,2)")
    t = F.col("l_tax").cast("decimal(3,2)")
    return _disc_price() * (one + t)


_KEYWORD_DICT = [
    ("join", "Join Tuning"),
    ("scan", "Scan Planning"),
    ("stream", "Stream Processing"),
    ("vector", "Vectorization"),
    ("window", "Windowing"),
    ("hash", "Hash Strategies"),
]

_KEYWORD_VALUES = ", ".join(f"('{k}', '{v}')" for k, v in _KEYWORD_DICT)


_TIER_VALUES = "(1,'alpha'),(2,'beta'),(3,'gamma'),(4,'delta'),(5,'epsilon')"


_SHINGLE_SQL = """
    toks AS (
      SELECT doc_id, list_filter(
        string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '') AS toks
      FROM documents
    ),
    sh AS MATERIALIZED (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                                     i -> array_to_string(toks[i:i+2], ' '))) AS shingle
        FROM toks
      ) WHERE shingle <> ''
    )
"""


# d6's LSH -> verify -> label-propagation pipeline as reusable oracle
# CTEs (through `l3`: one (id, lbl) row per clustered doc) — shared
# with d10_quality_survivors.
_D6_LABELS_SQL = f"""
    {_SHINGLE_SQL},
    seeds AS (SELECT unnest(range(0, 16)) AS seed),
    hh AS (
      -- Kirsch-Mitzenmacher double hashing: one md5 per shingle,
      -- hash_i = (h1 + i*h2) mod 2^60 (mirrors minhash_signatures)
      SELECT doc_id,
             CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) AS h1,
             CAST('0x' || substring(md5(shingle), 16, 12) AS BIGINT) * 2 + 1 AS h2
      FROM sh
    ),
    -- AS MATERIALIZED on every multiply-referenced stage: DuckDB
    -- inlines plain CTEs at each reference, and the l1/l2/l3 label
    -- chain references its predecessor twice while the composite
    -- pipelines reference l3 three times — without the fences the
    -- minhash/intersection subtree is re-evaluated up to ~24x
    -- (observed: 74 GB of temp spill at sf0.1; with fences the whole
    -- sweep fits in memory). Values are unchanged — materialization
    -- is an evaluation fence, not a semantic change.
    mh AS MATERIALIZED (
      SELECT doc_id, seed,
             MIN((h1 + seed * h2) % 1152921504606846976) AS mh
      FROM hh CROSS JOIN seeds GROUP BY doc_id, seed
    ),
    bands AS MATERIALIZED (
      SELECT doc_id, band,
             md5(band::VARCHAR || '|' || string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS bkey
      FROM (SELECT doc_id, seed, mh, seed // 2 AS band FROM mh)
      GROUP BY doc_id, band
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                               AND a.doc_id < b.doc_id
    ),
    sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS MATERIALIZED (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ic
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS MATERIALIZED (
      SELECT c.id_a, c.id_b
      FROM cand c JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
                  JOIN sizes sa ON sa.doc_id = c.id_a
                  JOIN sizes sb ON sb.doc_id = c.id_b
      WHERE i.ic / (sa.sz + sb.sz - i.ic) >= 0.05
    ),
    ud AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
           UNION ALL SELECT id_b, id_a FROM pairs),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM ud),
    l0 AS MATERIALIZED (SELECT id, id AS lbl FROM nodes),
    l1 AS MATERIALIZED (SELECT n.id, least(s.lbl, COALESCE(MIN(nb.lbl), s.lbl)) AS lbl
           FROM nodes n JOIN l0 s ON s.id = n.id
           LEFT JOIN ud e ON e.src = n.id LEFT JOIN l0 nb ON nb.id = e.dst
           GROUP BY n.id, s.lbl),
    l2 AS MATERIALIZED (SELECT n.id, least(s.lbl, COALESCE(MIN(nb.lbl), s.lbl)) AS lbl
           FROM nodes n JOIN l1 s ON s.id = n.id
           LEFT JOIN ud e ON e.src = n.id LEFT JOIN l1 nb ON nb.id = e.dst
           GROUP BY n.id, s.lbl),
    l3 AS MATERIALIZED (SELECT n.id, least(s.lbl, COALESCE(MIN(nb.lbl), s.lbl)) AS lbl
           FROM nodes n JOIN l2 s ON s.id = n.id
           LEFT JOIN ud e ON e.src = n.id LEFT JOIN l2 nb ON nb.id = e.dst
           GROUP BY n.id, s.lbl)
"""


# ---------------------------------------------------------------------------
# Extension surface: similarity search
# ---------------------------------------------------------------------------

_DOT = (
    "list_aggregate(list_transform(range(1, 65), "
    "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), 'sum')"
)


def _cos_sql(a: str, b: str) -> str:
    return (
        f"{_DOT.format(a=a, b=b)} / "
        f"(sqrt({_DOT.format(a=a, b=a)}) * sqrt({_DOT.format(a=b, b=b)}))"
    )


# ---------------------------------------------------------------------------
# Extension surface: text analysis
# ---------------------------------------------------------------------------

_MARKER_VALUES = ", ".join(
    f"('{w}', '{lang}')"
    for lang, ws in textstats.LANG_MARKERS.items()
    for w in ws
)


_TOKS_SQL = (
    "list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '), "
    "x -> x <> '')"
)


_EWMA_W = [str(__import__("decimal").Decimal(1) / (2 ** (k + 1))) for k in range(10)]


def _kmeans_oracle() -> str:
    """Both Lloyd rounds unrolled as chained CTEs, mirroring
    kmeans_iterate's quantized-exact mean and ivf_assign's
    (cos desc, cid asc) argmax — same _cos_sql macro the green s1/s2
    oracles use, so the cosine fold parity is already driver-proven."""

    def assign(src_emb, cents, out):
        return f"""
    {out}_s AS (
      SELECT e.vec_id, c.cid,
             ROUND({_cos_sql('e.embedding', 'c.cv')}, 6) AS cs
      FROM {src_emb} e CROSS JOIN {cents} c
    ),
    {out} AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cs DESC, cid ASC) AS rn
        FROM {out}_s) t
      WHERE rn = 1
    )"""

    def recompute(assign_cte, out):
        return f"""
    {out}_d AS (
      SELECT a.cid, r.dim,
             CAST(floor(CAST(e.embedding[CAST(r.dim AS INT)] AS DOUBLE)
                        * 1000000 + 0.5) AS BIGINT) AS q
      FROM {assign_cte} a JOIN emb e USING (vec_id),
           LATERAL (SELECT unnest(range(1, 65)) AS dim) r
    ),
    {out}_m AS (
      SELECT cid, dim,
             CAST((SUM(q) + 100000000 * COUNT(*)) // COUNT(*)
                  - 100000000 AS DOUBLE) / 1000000 AS mv
      FROM {out}_d GROUP BY cid, dim
    ),
    {out} AS (
      SELECT cid, list(mv ORDER BY dim) AS cv FROM {out}_m GROUP BY cid
    )"""

    return f"""
    WITH emb AS (SELECT vec_id, embedding FROM embeddings),
    c0 AS (SELECT vec_id AS cid, embedding AS cv FROM emb WHERE vec_id < 8),
    {assign('emb', 'c0', 'a1')},
    {recompute('a1', 'c1')},
    {assign('emb', 'c1', 'a2')},
    {recompute('a2', 'c2')},
    {assign('emb', 'c2', 'a3')}
    SELECT cid AS cluster_id, COUNT(*) AS n_members
    FROM a3 GROUP BY cid
    """


# ---------------------------------------------------------------------------
# Multimodal columns (BASELINE.json mandate): binary payloads + typed
# metadata; decode stubs, real Spark plumbing (operators/multimodal.py)
# ---------------------------------------------------------------------------

# DuckDB-side hex-nibble -> int (md5 is the portable content hash; the
# fake feature is md5-byte/255 cast to float32 on BOTH engines so the
# Arrow FloatType round-trip is bit-identical).
_NIB = "strpos('0123456789abcdef', substr(md5(text), {pos}, 1)) - 1"
_FEAT_SQL = (
    "list_transform(range(1, 9), i -> CAST(("
    "  (strpos('0123456789abcdef', substr(md5(text), 2*CAST(i AS INT)-1, 1)) - 1) * 16"
    "  + strpos('0123456789abcdef', substr(md5(text), 2*CAST(i AS INT), 1)) - 1"
    ") / 255.0 AS REAL))"
)


_PACK_BUDGET = 512  # tokens per training context


_CLS_STOPWORDS_SQL = ", ".join(f"'{w}'" for w in textstats.STOPWORDS)

# x20's scoring pipeline as reusable oracle CTEs (through `scored`) —
# shared with x25_classifier_auc so the evaluated scores are, by
# construction, the scores the filter actually produces.
#
# ENVIRONMENT-PROOF (r4, VERDICT r3 item 1): the logit is a RATIONAL
# with denominator 50*n_words — logit = (-3 + 0.02n + 0.6*sum_len/n
# + 2*n_alpha/n - 4*n_stop/n) so 50n*logit = n^2 - 150n + 30*sum_len
# + 100*n_alpha - 200*n_stop, an EXACT BIGINT (p50n). keep = p50n >= 0
# and logit_micro = floor(1e6*logit) = floor(20000*p50n / n) are then
# pure integer arithmetic: no double ROUND(), no libm, nothing a
# driver-host duckdb/libm can compute differently. The floor division
# adds a +1e7*n offset first so the numerator is provably positive
# (p50n >= -320n, see pytest boundary test) and trunc-vs-floor
# semantics of `//`/`div` can never matter.
_X20_SCORED_SQL = f"""
    qtoks AS (
      SELECT doc_id, unnest(list_filter(
        string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '')) AS w
      FROM documents
    ),
    qfeats AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(length(w)) AS BIGINT) AS sum_len,
             CAST(SUM(CASE WHEN regexp_matches(w, '[a-z]') THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha,
             CAST(SUM(CASE WHEN w IN ({_CLS_STOPWORDS_SQL}) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
      FROM qtoks GROUP BY doc_id
    ),
    scored AS MATERIALIZED (
      SELECT doc_id, n_words,
             CAST((p50n * 20000 + 10000000 * n_words) // n_words
                  - 10000000 AS BIGINT) AS logit_micro,
             CASE WHEN p50n >= 0 THEN 1 ELSE 0 END AS keep
      FROM (
        SELECT doc_id, n_words,
               n_words * n_words - 150 * n_words + 30 * sum_len
               + 100 * n_alpha - 200 * n_stop AS p50n
        FROM qfeats
      ) qp
    )
"""


# x27's oracle: replay the greedy BPE apply loop in SQL (VERDICT r3
# item 4 — was rows-only). A WITH RECURSIVE CTE carries each distinct
# word's piece list; every step finds the lowest-rank adjacent pair
# (list_position over the inline merge list = 1-based rank, leftmost
# tie exactly like the Python kernel's strict <) and merges it; the
# final segmentation is the min-length state per word. Built from the
# SAME DEFAULT_MERGES constant the Spark kernel broadcasts, so the two
# sides cannot drift.
def _x27_oracle() -> str:
    from hi_csa_db_spark.functions.bpe import DEFAULT_MERGES

    rl = "[" + ", ".join(f"'{a}|{b}'" for a, b in DEFAULT_MERGES) + "]"
    return f"""
    WITH RECURSIVE
    wtoks AS (
      SELECT doc_id, unnest(list_filter(
        regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')) AS w
      FROM documents
    ),
    dw AS (SELECT DISTINCT w FROM wtoks),
    seg AS (
      SELECT w, string_split(w, '') AS p FROM dw
      UNION ALL
      SELECT w,
             list_concat(list_concat(p[1:bi-1], [p[bi] || p[bi+1]]),
                         p[bi+2:len(p)]) AS p
      FROM (
        SELECT w, p,
               list_position(cr,
                 list_aggregate(list_filter(cr, x -> x > 0), 'min')) AS bi
        FROM (
          SELECT w, p,
                 list_transform(range(1, len(p)), i ->
                   list_position({rl}, p[i] || '|' || p[i+1])) AS cr
          FROM seg
        ) t1
      ) t2
      WHERE bi IS NOT NULL AND bi > 0
    ),
    flen AS (SELECT w, MIN(len(p)) AS bl FROM seg GROUP BY w),
    agg AS (
      SELECT t.doc_id, CAST(COUNT(*) AS INT) AS ws_tokens,
             CAST(SUM(f.bl) AS INT) AS bpe_tokens
      FROM wtoks t JOIN flen f USING (w)
      GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           COALESCE(a.ws_tokens, 0) AS ws_tokens,
           COALESCE(a.bpe_tokens, 0) AS bpe_tokens
    FROM documents d
    LEFT JOIN agg a USING (doc_id)
    """


def _bpe_train_oracle_sql(rounds: int = 4) -> str:
    """Generate the nested-CTE DuckDB twin of bpe.bpe_train: round r's
    top pair feeds round r's re-segmentation, with the decoded
    tie-break replayed via chained replace() of the earlier rounds'
    decoded merges (fully-decoded expansions contain no sentinels, so
    replace order is irrelevant)."""
    ctes = [
        """words0 AS (
      SELECT unnest(list_filter(
        string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '')) AS w
      FROM documents
    )"""
    ]
    for r in range(1, rounds + 1):
        dec = "sp"
        for i in range(1, r):
            dec = f"replace({dec}, chr({i}), (SELECT dec FROM top{i}))"
        ctes.append(
            f"""sym{r} AS (
      SELECT unnest(list_transform(range(1, length(w)),
                                   i -> substring(w, CAST(i AS INT), 2))) AS sp
      FROM words{r - 1} WHERE length(w) >= 2
    )"""
        )
        ctes.append(
            f"""top{r} AS (
      SELECT sp AS raw, {dec} AS dec, COUNT(*) AS n
      FROM sym{r} GROUP BY sp
      ORDER BY COUNT(*) DESC, {dec} ASC LIMIT 1
    )"""
        )
        if r < rounds:
            ctes.append(
                f"""words{r} AS (
      SELECT replace(w, (SELECT raw FROM top{r}), chr({r})) AS w FROM words{r - 1}
    )"""
            )
    selects = " UNION ALL ".join(
        f"SELECT {r} AS round, dec AS merge, n FROM top{r}"
        for r in range(1, rounds + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + selects


def _ret2_oracle_sql() -> str:
    """Compose ret1's BM25 and s1's cosine oracles (verbatim, as scoped
    subqueries) into a reciprocal-rank-fusion twin."""
    return f"""
    WITH bm0 AS (SELECT * FROM ({_ORACLES["ret1_bm25_topk"]}) t),
    bm AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r_bm25
      FROM bm0
    ),
    cs0 AS (SELECT * FROM ({_ORACLES["s1_cosine_topk"]}) t),
    cs AS (
      SELECT vec_id AS doc_id,
             ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id ASC) AS r_cos
      FROM cs0
    )
    SELECT COALESCE(bm.doc_id, cs.doc_id) AS doc_id,
           r_bm25, r_cos,
           ROUND(COALESCE(1e0/(60 + r_bm25), 0e0)
                 + COALESCE(1e0/(60 + r_cos), 0e0), 6) AS rrf
    FROM bm FULL OUTER JOIN cs ON bm.doc_id = cs.doc_id
    """


def _dsir_weight_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dsir_microweight BIGINT) for every document — the
    shared weight computation behind x23 (inspect top-k) and x24
    (resample). See x23_dsir_weights for semantics and scale notes.

    ENVIRONMENT-PROOF (r4, VERDICT r3 item 1): ln() is the one
    unavoidable libm call, and its result is quantized to integer
    micro-nats IMMEDIATELY (illr = floor(llr*1e6 + 0.5)) — everything
    downstream (tf-weighted sum, per-doc average, the x24 keep rule)
    is pure bigint arithmetic, so a driver host whose libm differs by
    an ulp produces the identical result unless a token's llr*1e6+0.5
    sits within that ulp of an integer; tests/test_determinism.py
    asserts every fixture token clears the boundary by >1e-6 (the
    cross-libm envelope is ~4e-9). The ln() ARGUMENTS are exact:
    int-to-double casts and one IEEE division, bit-identical on every
    engine. The per-doc floor division adds a +1e8*sum(tf) offset so
    the numerator is provably positive (|illr| < 1e8 always) and
    trunc-vs-floor `div` semantics can never matter."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(tokenize(F.lower(strip_punct(F.col("text"))))).alias("tok"),
    )
    cs = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("c_s"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("c_t"),
    )
    scal = cs.agg(
        F.sum("c_s").alias("t_s"), F.sum("c_t").alias("t_t"), F.count(F.lit(1)).alias("v")
    )
    llr = cs.crossJoin(F.broadcast(scal)).select(
        "tok",
        F.floor(
            (
                F.log(
                    (F.col("c_t") + 1).cast("double")
                    / (F.col("t_t") + F.col("v")).cast("double")
                )
                - F.log(
                    (F.col("c_s") + 1).cast("double")
                    / (F.col("t_s") + F.col("v")).cast("double")
                )
            )
            * 1000000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("illr"),
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    return (
        tf.join(llr, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * F.col("illr")).alias("__s"),
            F.sum("tf").alias("__m"),
        )
        .select(
            "doc_id",
            F.expr(
                "CAST((__s + 100000000L * __m) div __m - 100000000L AS BIGINT)"
            ).alias("dsir_microweight"),
        )
    )


def _dsir_keep() -> Column:
    """x24's DSIR keep decision over a ``_dsir_weight_frame`` row: keep
    probability p = clamp(500000 + 10 * dsir_microweight, 0, 1e6) in
    micro units; the doc is kept iff knuth_hash32(doc_id) * 1e6 <
    p * 2^32. Pure bigint arithmetic (the hash is the overflow-safe
    form), so a re-run or the oracle keeps the identical set."""
    p = F.greatest(
        F.lit(0),
        F.least(F.lit(1000000), F.lit(500000) + 10 * F.col("dsir_microweight")),
    )
    return knuth_hash32(F.col("doc_id")) * 1000000 < p * F.lit(4294967296)


def _lang_quantile_gate(
    lab: DataFrame, keep_permille: int = 400
) -> tuple[DataFrame, Column]:
    """x26's per-language quantile gate over ``lab`` (lang, logit_micro,
    doc_id, ...): ``lab`` with ``__rn``, the rank within its lang slice
    on (logit_micro desc, doc_id asc), and ``__n``, the slice count;
    plus the keep test __rn*1000 <= __n*keep_permille (the top
    ``keep_permille``/1000 of each slice). Pure integer rule over a
    deterministic rank, so no float percentile boundary exists; the
    threshold self-calibrates as the corpus mix shifts, where an
    absolute logit cutoff drifts. One window pass partitioned by lang:
    parallel in slices, never global."""
    w = Window.partitionBy("lang").orderBy(
        F.col("logit_micro").desc(), F.col("doc_id").asc()
    )
    ranked = lab.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy("lang"))
    )
    return ranked, F.col("__rn").cast("bigint") * 1000 <= F.col("__n") * keep_permille


def _split_80_10_10(key: Column) -> Column:
    """x81's train/val/test split of ``key``: knuth_hash32(key) against
    floor(0.8 * 2^32) and floor(0.9 * 2^32)."""
    u = knuth_hash32(key)
    return (
        F.when(u < 3435973836, "train")
        .when(u < 3865470566, "val")
        .otherwise("test")
    )


def _md5_nibble_split(key: Column) -> Column:
    """sample_train_split's 75/12.5/12.5 train/val/test split of
    ``key``: the first hex digit of its md5, 0-b / c-d / e-f."""
    nib = F.substring(md5_hex(key), 1, 1)
    return (
        F.when(nib.isin(*"0123456789ab"), F.lit("train"))
        .when(nib.isin("c", "d"), F.lit("val"))
        .otherwise(F.lit("test"))
    )


def _mixture_keep(toks: DataFrame) -> DataFrame:
    """x17's domain-mixture keep: each source's docs (``source``,
    ``doc_id``, ``n_tokens``) downsampled to the smallest source's token
    total by the pure-integer test
    knuth_hash32(doc_id) * src_tokens < min_tokens * 2^32."""
    totals = toks.groupBy("source").agg(F.sum("n_tokens").alias("src_tokens"))
    floor_t = totals.agg(F.min("src_tokens").alias("min_tokens"))
    u = knuth_hash32(F.col("doc_id"))
    return (
        toks.join(F.broadcast(totals), "source")
        .join(F.broadcast(floor_t))
        .filter(u * F.col("src_tokens") < F.col("min_tokens") * F.lit(4294967296))
    )


# the x23 weight pipeline as reusable oracle CTEs (through `w`)
_DSIR_W_SQL = """
    dtoks AS MATERIALIZED (
      SELECT doc_id, lang, unnest(list_filter(
        string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '')) AS tok
      FROM documents
    ),
    dcs AS (
      SELECT tok, COUNT(*) AS c_s,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_t
      FROM dtoks GROUP BY tok
    ),
    dscal AS (SELECT SUM(c_s) AS t_s, SUM(c_t) AS t_t, COUNT(*) AS v FROM dcs),
    dllr AS (
      SELECT tok,
             CAST(floor((ln(CAST(c_t + 1 AS DOUBLE) / CAST(t_t + v AS DOUBLE))
                         - ln(CAST(c_s + 1 AS DOUBLE) / CAST(t_s + v AS DOUBLE)))
                        * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS illr
      FROM dcs CROSS JOIN dscal
    ),
    dtf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM dtoks GROUP BY doc_id, tok),
    w AS MATERIALIZED (
      SELECT doc_id,
             CAST((SUM(tf * illr) + 100000000 * SUM(tf)) // SUM(tf)
                  - 100000000 AS BIGINT) AS dsir_microweight
      FROM dtf JOIN dllr USING (tok)
      GROUP BY doc_id
    )
"""


def _srp_planes_values_sql(bands: int = 4, band_bits: int = 8, dim: int = 64) -> str:
    from hi_csa_db_spark.operators.similarity import srp_planes

    rows = []
    for j, pl in enumerate(srp_planes(bands * band_bits, dim)):
        lst = ", ".join("1.0" if s > 0 else "-1.0" for s in pl)
        rows.append(f"({j}, [{lst}])")
    return ",\n      ".join(rows)


# ---------------------------------------------------------------------------
# TPC-H completion batch (r3): the 8 remaining queries of the 22,
# adapted to the fixture schema — there is no partsupp table and no
# commit/receipt dates, so (a) the part-supplier relation `ps` is
# DERIVED from lineitem (distinct (l_partkey, l_suppkey) pairs with
# exact-decimal cost/availability proxies) and (b) "late delivery"
# is l_shipdate > o_orderdate + k days. Every adaptation preserves
# the query SHAPE the original exercises (correlated min subquery,
# EXISTS/NOT EXISTS pairs, global-total thresholds, NOT-IN
# exclusion), which is what matters for engine coverage.
# ---------------------------------------------------------------------------


def _ps_pairs(li: DataFrame) -> DataFrame:
    """Derived part-supplier relation: one row per (partkey, suppkey)
    pair observed in lineitem, with exact-decimal proxies for the
    missing partsupp columns: ``cost`` = MIN line extendedprice (exact
    decimal, stands in for ps_supplycost) and ``avail`` = total
    quantity supplied (stands in for ps_availqty). One map-side
    combined hash aggregate — at 100 TB this is the standard
    "build the dimension from the fact" pattern and shuffles only the
    distinct-pair keyspace, never the fact rows."""
    return li.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(
        F.min(F.col("l_extendedprice").cast("decimal(14,2)")).alias("cost"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("avail"),
    )


_PS_SQL = """
    SELECT l_partkey AS pk, l_suppkey AS sk,
           MIN(CAST(l_extendedprice AS DECIMAL(14,2))) AS cost,
           SUM(CAST(l_quantity AS DECIMAL(18,2))) AS avail
    FROM lineitem GROUP BY 1, 2
"""


def _pq_oracle_tail(dist_where: str = "") -> str:
    """The PQ codebook/encode/ADC/candidate/rerank CTE block, shared
    VERBATIM by the plain (s8) and bucket-restricted (s10) oracles —
    one definition, so the two replays cannot drift (mirrors the
    shared _pq_encode/_pq_adc_rank helpers on the Spark side)."""
    return f"""cb AS (
      SELECT list(v ORDER BY i) AS cbs FROM (
        SELECT vec_id AS i, embedding AS v FROM embeddings
        WHERE vec_id > 0 ORDER BY vec_id LIMIT 16)
    ),
    dist AS (
      SELECT e.vec_id, t.m, t.j,
        CAST(floor(list_aggregate(list_transform(range(1, 9), i ->
            (e.embedding[t.m*8+i]::DOUBLE - cb.cbs[t.j+1][t.m*8+i]::DOUBLE)
          * (e.embedding[t.m*8+i]::DOUBLE - cb.cbs[t.j+1][t.m*8+i]::DOUBLE)),
          'sum') * 1000000) AS BIGINT) AS dmic
      FROM embeddings e CROSS JOIN cb,
           LATERAL (SELECT m.x AS m, j.x AS j
                    FROM (SELECT unnest(range(0, 8)) AS x) m,
                         (SELECT unnest(range(0, 16)) AS x) j) t
      {dist_where}
    ),
    codes AS (
      SELECT vec_id, m, j AS code FROM (
        SELECT vec_id, m, j,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                  ORDER BY dmic ASC, j ASC) AS rn
        FROM dist) WHERE rn = 1
    ),
    adc AS (SELECT m, j, dmic FROM dist WHERE vec_id = 0),
    approx AS (
      SELECT c.vec_id, SUM(a.dmic) AS approx_dist_micro
      FROM codes c JOIN adc a ON a.m = c.m AND a.j = c.code
      WHERE c.vec_id <> 0
      GROUP BY c.vec_id
    ),
    cand AS (SELECT vec_id, approx_dist_micro FROM approx
             ORDER BY approx_dist_micro ASC, vec_id ASC LIMIT 50),
    qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT cand.vec_id,
           CAST(cand.approx_dist_micro AS BIGINT) AS approx_dist_micro,
           ROUND({_cos_sql('e.embedding', 'qv.qe')}, 6) AS cos_sim
    FROM cand JOIN embeddings e ON e.vec_id = cand.vec_id CROSS JOIN qv
    ORDER BY cos_sim DESC, cand.vec_id ASC LIMIT 10"""


def _ret5_oracle_sql() -> str:
    """Compose ret1 (BM25 pool) and s1 (dense positives) verbatim into
    the hard-negative mining twin."""
    return f"""
    WITH bm AS (SELECT * FROM ({_ORACLES["ret1_bm25_topk"]}) t),
    pos AS (SELECT vec_id AS doc_id FROM ({_ORACLES["s1_cosine_topk"]}) t
            ORDER BY cos_sim DESC, vec_id ASC LIMIT 3),
    neg AS (SELECT doc_id, bm25 FROM bm
            WHERE doc_id NOT IN (SELECT doc_id FROM pos))
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS BIGINT)
             AS neg_rank,
           doc_id, bm25
    FROM neg
    """


def _s9_oracle_sql() -> str:
    """Compose the brute-force (s1), IVF (s2), SQ8 (s7), and PQ (s8)
    oracles (verbatim, as scoped subqueries) into a recall@10 report —
    the ret2/x49 composition idiom, so the audit's ground truth IS the
    already-proven per-family oracle."""
    return f"""
    WITH exact AS (SELECT vec_id FROM ({_ORACLES["s1_cosine_topk"]}) t),
    fam AS (
      SELECT 'ivf' AS family, vec_id FROM ({_ORACLES["s2_ivf_topk"]}) t
      UNION ALL
      SELECT 'sq8' AS family, vec_id FROM ({_ORACLES["s7_sq8_topk"]}) t
      UNION ALL
      SELECT 'pq' AS family, vec_id FROM ({_ORACLES["s8_pq_topk"]}) t
    )
    SELECT f.family, COUNT(*) AS k_returned,
           CAST(COALESCE(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 END), 0)
                AS BIGINT) AS n_hits,
           CAST(COALESCE(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 END), 0)
                * 10 AS BIGINT) AS recall_pct
    FROM fam f LEFT JOIN exact e ON e.vec_id = f.vec_id
    GROUP BY f.family
    """


def _s10_oracle_sql() -> str:
    """IVFPQ oracle: s2's coarse assign/probe/bucket CTEs prepended to
    the SHARED PQ tail (_pq_oracle_tail) with the ADC scan restricted
    to bucket members — the same two proven stages the engine
    composes, from the same SQL definitions."""
    return f"""
    WITH cents AS (SELECT vec_id AS centroid_id, embedding AS cv
                   FROM embeddings WHERE vec_id < 8),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    assigned AS (
      SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY ROUND({_cos_sql('e.embedding', 'c.cv')}, 6) DESC,
                          c.centroid_id ASC
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    probe AS (
      SELECT centroid_id FROM (
        SELECT c.centroid_id, ROUND({_cos_sql('c.cv', 'q.qv')}, 6) AS cs
        FROM cents c CROSS JOIN q
      ) ORDER BY cs DESC, centroid_id ASC LIMIT 2
    ),
    bucket AS (SELECT vec_id FROM assigned JOIN probe USING (centroid_id)),
    {_pq_oracle_tail(
        "WHERE e.vec_id = 0 OR e.vec_id IN (SELECT vec_id FROM bucket)"
    )}
    """


_ER1_CLUSTER_SQL = """
    k AS (
      SELECT doc_id, n_chars,
             substr(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), 1, 24) AS key
      FROM documents
    ),
    r AS (
      SELECT doc_id, key, ROW_NUMBER() OVER (ORDER BY key, doc_id) AS rnk FROM k
    ),
    e0 AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk <= a.rnk + 3
      WHERE levenshtein(a.key, b.key) <= 6
    ),
    ud AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
    nodes AS (SELECT doc_id AS id FROM k),
    l0 AS (SELECT id, id AS lbl FROM nodes),
    l1 AS (SELECT n.id, least(s.lbl, COALESCE(MIN(nb.lbl), s.lbl)) AS lbl
           FROM nodes n JOIN l0 s ON s.id = n.id
           LEFT JOIN ud e ON e.src = n.id LEFT JOIN l0 nb ON nb.id = e.dst
           GROUP BY n.id, s.lbl),
    l2 AS (SELECT n.id, least(s.lbl, COALESCE(MIN(nb.lbl), s.lbl)) AS lbl
           FROM nodes n JOIN l1 s ON s.id = n.id
           LEFT JOIN ud e ON e.src = n.id LEFT JOIN l1 nb ON nb.id = e.dst
           GROUP BY n.id, s.lbl),
    l3 AS (SELECT n.id, least(s.lbl, COALESCE(MIN(nb.lbl), s.lbl)) AS lbl
           FROM nodes n JOIN l2 s ON s.id = n.id
           LEFT JOIN ud e ON e.src = n.id LEFT JOIN l2 nb ON nb.id = e.dst
           GROUP BY n.id, s.lbl)
"""


def _x49_oracle() -> str:
    # compose the rule-gate and model-gate oracles VERBATIM (the ret2
    # idiom): the ablation is then pinned to exactly the stage
    # definitions the driver already verifies one by one.
    return f"""
    WITH rule AS (SELECT doc_id, keep AS rule_keep
                  FROM ({_ORACLES["x12_quality_rules"]})),
    model AS (SELECT doc_id, keep AS model_keep
              FROM ({_ORACLES["x20_quality_classifier"]})),
    toks AS (
      SELECT doc_id, len(list_filter(
        string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '')) AS n_tokens
      FROM documents
    )
    SELECT d.lang, r.rule_keep, m.model_keep,
           COUNT(*) AS n_docs,
           CAST(SUM(t.n_tokens) AS BIGINT) AS n_tokens
    FROM rule r
    JOIN model m ON m.doc_id = r.doc_id
    JOIN toks t ON t.doc_id = r.doc_id
    JOIN documents d ON d.doc_id = r.doc_id
    GROUP BY d.lang, r.rule_keep, m.model_keep
    """


# Benford first-digit expectation, micro-probabilities of log10(1+1/d)
# for d=1..9 hardcoded as LITERALS (public constants; no runtime libm).
_BENFORD_MICRO = (301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757)
_BENFORD_VALUES_SQL = ", ".join(
    f"({d + 1}, {p})" for d, p in enumerate(_BENFORD_MICRO)
)


# Shared gap-filled daily event-count series (t27/t28/t30/t31/
# stats_runs_test/stats_theil_sen): missing calendar days materialize
# as zeros so every temporal statistic windows the same series. The
# oracle twin is _DAILY_SQL; this is the Spark side.
_DAILY_SQL = """
    d AS (
      SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_n FROM events
    ),
    counts AS (SELECT day_n, COUNT(*) AS n FROM d GROUP BY day_n),
    span AS (SELECT MIN(day_n) AS d0, MAX(day_n) AS d1 FROM d),
    grid AS (SELECT unnest(generate_series(d0, d1)) AS day_n FROM span),
    daily AS (
      SELECT g.day_n, CAST(COALESCE(c.n, 0) AS BIGINT) AS v
      FROM grid g LEFT JOIN counts c USING (day_n)
    )
"""


def _daily_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(F.expr("ts_ns div 1000 div 86400000000").alias("day_n"))
    counts = d.groupBy("day_n").agg(F.count(F.lit(1)).alias("n"))
    span = d.agg(F.min("day_n").alias("d0"), F.max("day_n").alias("d1"))
    grid = span.select(F.explode(F.sequence("d0", "d1")).alias("day_n"))
    return grid.join(counts, ["day_n"], "left").select(
        "day_n", F.coalesce("n", F.lit(0)).cast("bigint").alias("v")
    )


# Shared power-of-two length-bucket ladder (x59 / x65 / pipe_v6 /
# Corpus.plan_length_batches): ONE text for both dialects so the
# bucket boundaries can never drift between the batching table, the
# bias audit, and the composite.
_BUCKET_LADDER_SQL = (
    "CASE WHEN n_tokens <= 16 THEN 16 WHEN n_tokens <= 32 THEN 32"
    " WHEN n_tokens <= 64 THEN 64 WHEN n_tokens <= 128 THEN 128"
    " WHEN n_tokens <= 256 THEN 256 WHEN n_tokens <= 512 THEN 512"
    " WHEN n_tokens <= 1024 THEN 1024 ELSE 2048 END"
)


_STL_SQL = f"""
{_DAILY_SQL},
    contrib AS (
      SELECT day_n + i AS anchor, v
      FROM daily, UNNEST([-3, -2, -1, 0, 1, 2, 3]) AS t(i)
    ),
    win AS (
      SELECT anchor, SUM(v) AS sum7, COUNT(*) AS n7 FROM contrib GROUP BY anchor
    ),
    det AS (
      SELECT daily.day_n, daily.v,
             CAST(sum7 * 1000000 // 7 AS BIGINT) AS trend_micro,
             CAST(daily.v * 1000000 - sum7 * 1000000 // 7 AS BIGINT) AS det_micro
      FROM daily JOIN win ON win.anchor = daily.day_n
      WHERE n7 = 7
    ),
    seas AS (
      SELECT day_n % 7 AS dow,
             CAST((SUM(det_micro) + 1000000000000 * COUNT(*)) // COUNT(*)
                  - 1000000000000 AS BIGINT) AS seasonal_micro
      FROM det GROUP BY 1
    ),
    stl AS (
      SELECT det.day_n, det.v, det.trend_micro, s.seasonal_micro,
             CAST(det.det_micro - s.seasonal_micro AS BIGINT) AS resid_micro
      FROM det JOIN seas s ON s.dow = det.day_n % 7
    )
"""


_DOT65 = (
    "list_aggregate(list_transform(range(1, 66), "
    "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), 'sum')"
)


def _cos65_sql(a: str, b: str) -> str:
    return (
        f"{_DOT65.format(a=a, b=b)} / "
        f"(sqrt({_DOT65.format(a=a, b=a)}) * sqrt({_DOT65.format(a=b, b=b)}))"
    )


_S15_BUCKET_SQL = f"""
    d2 AS (
      SELECT vec_id, embedding,
             ROUND({_DOT.format(a='embedding', b='embedding')}, 6) AS d2
      FROM embeddings
    ),
    m AS (SELECT MAX(d2) AS m2 FROM d2),
    aug AS (
      SELECT vec_id, embedding,
             list_append(list_transform(embedding, x -> x::DOUBLE),
                         ROUND(sqrt(greatest(m.m2 - d2.d2, 0.0)), 6)) AS av
      FROM d2 CROSS JOIN m
    ),
    cents AS (SELECT vec_id AS centroid_id, av AS cv FROM aug WHERE vec_id < 8),
    qa AS (
      SELECT list_append(list_transform(embedding, x -> x::DOUBLE),
                         0.0::DOUBLE) AS qv
      FROM embeddings WHERE vec_id = 0
    ),
    q0 AS (SELECT embedding AS qv0 FROM embeddings WHERE vec_id = 0),
    assigned AS (
      SELECT vec_id, centroid_id FROM (
        SELECT a.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY ROUND({_cos65_sql('a.av', 'c.cv')}, 6) DESC,
                          c.centroid_id ASC
               ) AS rn
        FROM aug a CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    probe AS (
      SELECT centroid_id FROM (
        SELECT c.centroid_id, ROUND({_cos65_sql('c.cv', 'qa.qv')}, 6) AS cs
        FROM cents c CROSS JOIN qa
      ) ORDER BY cs DESC, centroid_id ASC LIMIT 2
    ),
    bucket AS (SELECT vec_id FROM assigned JOIN probe USING (centroid_id))
"""


def _eval_split_hits(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shared by x80 (decontamination audit) and x82 (ablation grid):
    (corpus docs, contaminated corpus doc ids) under the doc_id % 97
    held-out split — contaminated = shares ANY 5-gram with the eval
    side. Eval grams are DISTINCT (broadcastable at fleet scale); the
    overlap is one equi-join on the gram, never pairwise."""
    evald = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)

    def grams(df: DataFrame, with_id: bool):
        # The token array is MATERIALIZED as a projection column
        # before the sliding-window transform. Higher-order functions
        # run interpreted (no whole-stage codegen), so codegen's
        # common-subexpression elimination never sees them: with the
        # tokenize expression inlined, every ``toks[i]`` access inside
        # the lambda re-ran the full punct-strip+split regex over the
        # text — ~5 re-tokenizations per gram, measured 128.6 s for
        # the 248 k corpus grams at sf0.1 vs 4.7 s with the boundary
        # (r12; the x82/x80 sweep wall). CollapseProject keeps the
        # boundary because ``__ws`` is referenced more than once.
        toks = F.filter(
            tokenize(F.lower(strip_punct(F.col("text")))), lambda x: x != ""
        )
        base = df.select(
            *((["doc_id"] if with_id else []) + [toks.alias("__ws")])
        ).filter(F.size("__ws") >= 5)
        ws = F.col("__ws")
        # rows are pre-filtered to size >= 5, so 0..size-5 is the full
        # 5-gram start range
        g = F.transform(
            F.sequence(F.lit(0), F.size(ws) - 5),
            lambda i: F.concat_ws(
                " ",
                ws[i],
                ws[i + 1],
                ws[i + 2],
                ws[i + 3],
                ws[i + 4],
            ),
        )
        cols = (["doc_id"] if with_id else []) + [F.explode(g).alias("g")]
        return base.select(*cols)

    eg = grams(evald, with_id=False).distinct()
    cg = grams(corpus, with_id=True)
    hits = cg.join(eg, "g").select("doc_id").distinct()
    return corpus, hits


# Shared by x80 (decontamination audit) and x82 (ablation grid):
# held-out split, distinct eval 5-grams, corpus grams, contaminated
# corpus doc ids.
_EVAL_GRAMS_SQL = """
    evald AS (SELECT * FROM documents WHERE doc_id % 97 = 0),
    corpus AS (SELECT * FROM documents WHERE doc_id % 97 <> 0),
    eg AS (
      SELECT DISTINCT g FROM (
        SELECT unnest(list_transform(
          range(1, greatest(len(ws) - 4, 0) + 1),
          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
               || ws[i+3] || ' ' || ws[i+4])) AS g
        FROM (SELECT list_filter(
                string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
                x -> x <> '') AS ws
              FROM evald)
        WHERE len(ws) >= 5
      )
    ),
    cg AS (
      SELECT doc_id, g FROM (
        SELECT doc_id, unnest(list_transform(
          range(1, greatest(len(ws) - 4, 0) + 1),
          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
               || ws[i+3] || ' ' || ws[i+4])) AS g
        FROM (SELECT doc_id, list_filter(
                string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
                x -> x <> '') AS ws
              FROM corpus)
        WHERE len(ws) >= 5
      )
    ),
    hits AS (SELECT DISTINCT cg.doc_id FROM cg JOIN eg ON eg.g = cg.g)
"""


def _trunc_cos_sql(a: str, b: str, k: int) -> str:
    """Cosine over only the first ``k`` dims of two list columns —
    the _DOT/_cos_sql macro with range(1, k+1); same left fold, so
    parity holds for every prefix the Spark side slices."""
    d = (
        f"list_aggregate(list_transform(range(1, {k + 1}), "
        "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), 'sum')"
    )
    return (
        f"{d.format(a=a, b=b)} / "
        f"(sqrt({d.format(a=a, b=a)}) * sqrt({d.format(a=b, b=b)}))"
    )


def _s18_oracle() -> str:
    fams = []
    for k in (8, 16, 32, 64):
        fams.append(f"""
    fam{k} AS (
      SELECT vec_id FROM (
        SELECT e.vec_id,
               ROUND({_trunc_cos_sql('e.embedding', 'q.qv', k)}, 6) AS cs
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> 0
        ORDER BY cs DESC, e.vec_id ASC LIMIT 10
      )
    )""")
    unions = "\n      UNION ALL\n".join(
        f"""      SELECT CAST({k} AS BIGINT) AS dims,
             CAST((SELECT COUNT(*) FROM fam{k} f
                   JOIN exact x ON x.vec_id = f.vec_id) AS BIGINT) AS hits"""
        for k in (8, 16, 32, 64)
    )
    return f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    exact AS (
      SELECT vec_id FROM (
        SELECT e.vec_id,
               ROUND({_cos_sql('e.embedding', 'q.qv')}, 6) AS cs
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> 0
        ORDER BY cs DESC, e.vec_id ASC LIMIT 10
      )
    ),{",".join(fams)}
    SELECT dims, hits, CAST(hits * 10 AS BIGINT) AS recall_pct
    FROM ({unions})
    """


def _ret6_oracle() -> str:
    """Compose ret1's BM25 oracle as the SEED retrieval, mine feedback
    terms from its top-10, and re-run the identical BM25 formula over
    the expanded term set (term list via join, not IN-literal)."""
    return f"""
    WITH seed AS (SELECT * FROM ({_ORACLES["ret1_bm25_topk"]}) t),
    toks AS (
      SELECT doc_id, unnest(list_filter(
        string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '')) AS tok
      FROM documents
    ),
    fb AS (
      SELECT DISTINCT t.doc_id, t.tok
      FROM toks t JOIN seed s ON s.doc_id = t.doc_id
    ),
    cand AS (
      SELECT tok, COUNT(*) AS dfb FROM fb
      WHERE tok NOT IN ('spark', 'hash', 'merge')
        AND tok NOT IN ({_CLS_STOPWORDS_SQL})
        AND LENGTH(tok) >= 3
      GROUP BY tok
    ),
    expn AS (SELECT tok FROM cand ORDER BY dfb DESC, tok ASC LIMIT 3),
    qterms AS (
      SELECT unnest(['spark', 'hash', 'merge']) AS tok
      UNION ALL SELECT tok FROM expn
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    corpus AS (SELECT CAST(SUM(dl) AS DOUBLE) AS total_dl,
                      CAST(COUNT(*) AS DOUBLE) AS n_docs FROM dl),
    tf AS (
      SELECT t.doc_id, t.tok, COUNT(*) AS tf
      FROM toks t JOIN qterms q ON q.tok = t.tok
      GROUP BY t.doc_id, t.tok
    ),
    df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY tok),
    contrib AS (
      SELECT tf.doc_id,
             CAST(ROUND(
               ln((n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE))
                  + CAST(1.0 AS DOUBLE))
               * (tf * CAST(2.2 AS DOUBLE))
               / (tf + CAST(1.2 AS DOUBLE)
                  * (CAST(0.25 AS DOUBLE)
                     + CAST(0.75 AS DOUBLE) * dl * n_docs / total_dl)),
             8) AS DECIMAL(20,8)) AS c
      FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN corpus
    ),
    scored AS (
      SELECT doc_id, ROUND(CAST(SUM(c) AS DOUBLE), 6) AS bm25
      FROM contrib GROUP BY doc_id
      ORDER BY bm25 DESC, doc_id ASC LIMIT 10
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY sc.bm25 DESC, sc.doc_id ASC)
             AS BIGINT) AS rnk,
           sc.doc_id, sc.bm25,
           CAST(CASE WHEN s.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
             AS was_seed
    FROM scored sc LEFT JOIN seed s ON s.doc_id = sc.doc_id
    """


def _ktruss_oracle(rounds: int = 3) -> str:
    """Unroll the 4-truss peel: each round keeps edges in >= 2
    triangles OF THE CURRENT edge set (support from the wedge join
    against current adjacency), mirroring the Spark loop round for
    round."""
    ctes = [
        """
    op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_partkey < 120
    ),
    e0 AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )"""
    ]
    for i in range(rounds):
        ctes.append(f"""
    a{i} AS (
      SELECT p1 AS ctr, p2 AS nbr FROM e{i}
      UNION ALL SELECT p2, p1 FROM e{i}
    ),
    e{i + 1} AS (
      SELECT e.p1, e.p2
      FROM e{i} e
      JOIN a{i} x ON x.ctr = e.p1
      JOIN a{i} y ON y.ctr = e.p2 AND y.nbr = x.nbr
      GROUP BY e.p1, e.p2
      HAVING COUNT(*) >= 2
    )""")
    unions = "\n    UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS round, "
        f"CAST((SELECT COUNT(*) FROM e{i}) AS BIGINT) AS n_edges"
        for i in range(rounds + 1)
    )
    return "WITH " + ",".join(ctes) + "\n    " + unions
