"""Statistics and ML-adjacent queries (stats_*/ml_*/profile/sample_*).

Importing this module registers its queries in the package registry
(``hi_csa_db_spark.queries``) in source order."""

from __future__ import annotations

import glob

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hi_csa_db_spark.catalog import load_table, load_tables, local_frame
from hi_csa_db_spark.functions.hashing import (
    KNUTH_HASH32_SQL,
    hex_to_long,
    knuth_hash32,
    md5_hex,
)
from hi_csa_db_spark.functions.text import word_tokens
from hi_csa_db_spark.operators import ordered, similarity

from hi_csa_db_spark.queries import _ORACLES, _register
from hi_csa_db_spark.queries._shared import (
    _BENFORD_MICRO,
    _BENFORD_VALUES_SQL,
    _DAILY_SQL,
    _X20_SCORED_SQL,
    _cos_sql,
    _daily_series,
    _dsum,
    _kmeans_oracle,
    _md5_nibble_split,
)
from hi_csa_db_spark.queries.q_corpus import x12_quality_rules, x20_quality_classifier


@_register(
    "stats_chi2_assoc",
    """
    WITH o AS (
      SELECT lang, source, COUNT(*) AS obs FROM documents GROUP BY lang, source
    ),
    r AS (SELECT lang, SUM(obs) AS rn FROM o GROUP BY lang),
    c AS (SELECT source, SUM(obs) AS cn FROM o GROUP BY source),
    t AS (SELECT SUM(obs) AS n FROM o),
    cells AS (
      SELECT o.obs,
             CAST(r.rn AS DOUBLE) * c.cn / t.n AS exp
      FROM o JOIN r USING (lang) JOIN c USING (source) CROSS JOIN t
    )
    SELECT COUNT(*) AS n_cells,
           ROUND(CAST(SUM(CAST(ROUND((obs - exp) * (obs - exp) / exp, 8)
                               AS DECIMAL(24,8))) AS DOUBLE), 6) AS chi2
    FROM cells
    """,
)
def stats_chi2_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of association between lang and source — the
    corpus-audit statistic for 'is my language mix independent of my
    source mix' (a skewed cell means one source over-contributes one
    language to the training mixture). Expected counts from exact
    integer marginals; per-cell terms rounded and DECIMAL-summed so
    the reduction is order-independent cross-engine."""
    docs = load_table(spark, sf_dir, "documents")
    o = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("obs"))
    r = o.groupBy("lang").agg(F.sum("obs").alias("rn"))
    c = o.groupBy("source").agg(F.sum("obs").alias("cn"))
    t = o.agg(F.sum("obs").alias("n"))
    cells = (
        o.join(r, "lang")
        .join(c, "source")
        .crossJoin(F.broadcast(t))
        .select(
            "obs",
            (F.col("rn").cast("double") * F.col("cn") / F.col("n")).alias("exp"),
        )
    )
    term = F.round(
        (F.col("obs") - F.col("exp")) * (F.col("obs") - F.col("exp")) / F.col("exp"), 8
    ).cast("decimal(24,8)")
    return cells.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum(term).cast("double"), 6).alias("chi2"),
    )


@_register(
    "stats_ks_test",
    """
    WITH s AS (
      SELECT o_totalprice AS v,
             CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    vals AS (SELECT v, SUM(g) AS c1, SUM(1 - g) AS c2 FROM s GROUP BY v),
    cum AS (
      SELECT v,
             SUM(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum1,
             SUM(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum2
      FROM vals
    ),
    n AS (SELECT SUM(g) AS n1, SUM(1 - g) AS n2 FROM s)
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(MAX(ABS(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_num,
           ROUND(CAST(MAX(ABS(cum1 * n2 - cum2 * n1)) AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) AS d
    FROM cum, n GROUP BY n1, n2
    """,
)
def stats_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between BUILDING-segment
    and other-segment order totals — the distribution-drift test a
    data pipeline runs between corpus snapshots. The supremum is
    maximized over INTEGERS (|cum1*n2 - cum2*n1|, the cross-multiplied
    CDF gap), so the argmax never compares floats cross-engine; only
    the final reported D divides.

    Scale shape: the CDF prefix sums use ordered.global_prefix_sums
    (range-partition + per-partition running sums + broadcast offsets)
    — NOT a single-partition ORDER BY window — so the cumulation is
    parallel at any cardinality; the final step is one scalar max."""
    from hi_csa_db_spark.operators import ordered

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("o_totalprice").alias("v"),
        F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("g"),
    )
    vals = s.groupBy("v").agg(
        F.sum("g").alias("c1"), F.sum(1 - F.col("g")).alias("c2")
    )
    cum = ordered.global_prefix_sums(vals, "v", ["c1", "c2"])
    n = s.agg(F.sum("g").alias("n1"), F.sum(1 - F.col("g")).alias("n2"))
    gap = F.abs(F.col("cum_c1") * F.col("n2") - F.col("cum_c2") * F.col("n1"))
    return (
        cum.crossJoin(F.broadcast(n))
        .agg(F.max(gap).alias("__d_num"), F.first("n1").alias("n1"), F.first("n2").alias("n2"))
        .select(
            "n1",
            "n2",
            F.col("__d_num").alias("d_num"),
            F.round(
                F.col("__d_num").cast("double")
                / (F.col("n1").cast("double") * F.col("n2").cast("double")),
                6,
            ).alias("d"),
        )
    )


@_register("ml_kmeans")
def ml_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=8, 2 iterations) over the embeddings table,
    expressed in DataFrame ops: posexplode to (vec, dim, val), cosine
    assignment against broadcast centroids, per-(cluster, dim)
    QUANTIZED-EXACT means (integer micro-units, no float accumulation
    order) rebuilt into centroid arrays. Value-oracled since r4 (was
    rows-only while the means were float avg()): the oracle unrolls
    both Lloyd rounds as chained CTEs with the identical quantized
    mean and the identical (cos desc, cid asc) argmax."""
    from hi_csa_db_spark.operators.similarity import kmeans_clusters

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_clusters(emb, k=8, iterations=2)


_ORACLES["ml_kmeans"] = _kmeans_oracle()


@_register(
    "stats_moments",
    """
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_quantity AS DECIMAL(14,2)) * CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(14,2)) * CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           ROUND(sx / n, 6) AS mean_qty,
           ROUND(sxx / n - (sx / n) * (sx / n), 6) AS var_qty,
           ROUND((sxy / n - (sx / n) * (sy / n)) /
                 (sqrt(sxx / n - (sx / n) * (sx / n)) * sqrt(syy / n - (sy / n) * (sy / n))), 6) AS corr_qty_price
    FROM s
    """,
)
def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean / population variance / Pearson correlation, derived from
    DECIMAL-EXACT power sums (n, Σx, Σx², Σxy) so the statistics are
    identical regardless of partition count or engine — the built-in
    var_pop/corr aggregate over doubles is NOT order-stable at scale.
    This is the map-side-combinable moments pattern: each partition
    emits 6 exact numbers, merge is exact addition."""
    li = load_table(spark, sf_dir, "lineitem")
    q14 = F.col("l_quantity").cast("decimal(14,2)")
    p14 = F.col("l_extendedprice").cast("decimal(14,2)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        _dsum(F.col("l_quantity")).alias("sx"),
        F.sum(q14 * q14).cast("double").alias("sxx"),
        _dsum(F.col("l_extendedprice")).alias("sy"),
        F.sum(p14 * p14).cast("double").alias("syy"),
        F.sum(q14 * p14).cast("double").alias("sxy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    var_x = sxx / n - (sx / n) * (sx / n)
    var_y = syy / n - (sy / n) * (sy / n)
    cov = sxy / n - (sx / n) * (sy / n)
    return s.select(
        "l_returnflag",
        F.round(sx / n, 6).alias("mean_qty"),
        F.round(var_x, 6).alias("var_qty"),
        F.round(cov / (F.sqrt(var_x) * F.sqrt(var_y)), 6).alias("corr_qty_price"),
    )


@_register(
    "stats_spearman",
    """
    WITH p AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) AS xc,
             CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS yc
      FROM orders JOIN customer ON c_custkey = o_custkey
    ),
    vx AS (SELECT xc, COUNT(*) AS cnt FROM p GROUP BY xc),
    cx AS (SELECT xc,
                  2 * SUM(cnt) OVER (ORDER BY xc ROWS UNBOUNDED PRECEDING)
                  - cnt + 1 AS drx
           FROM vx),
    vy AS (SELECT yc, COUNT(*) AS cnt FROM p GROUP BY yc),
    cy AS (SELECT yc,
                  2 * SUM(cnt) OVER (ORDER BY yc ROWS UNBOUNDED PRECEDING)
                  - cnt + 1 AS dry
           FROM vy),
    r AS (SELECT cx.drx, cy.dry FROM p JOIN cx USING (xc) JOIN cy USING (yc)),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(drx) AS HUGEINT) AS sx,
             CAST(SUM(dry) AS HUGEINT) AS sy,
             CAST(SUM(CAST(drx AS HUGEINT) * drx) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(dry AS HUGEINT) * dry) AS HUGEINT) AS syy,
             CAST(SUM(CAST(drx AS HUGEINT) * dry) AS HUGEINT) AS sxy
      FROM r
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS spearman_rho
    FROM m
    """,
)
def stats_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of order value vs the customer's
    account balance — the monotone-association statistic (rank-based,
    outlier-robust) beside stats_linreg's value-based Pearson. Ties
    are EXACT: each value carries its DOUBLED average rank
    (2*cum - cnt + 1 over the per-value count table — an integer even
    for .5 average ranks), so all five moment sums are exact integers
    on both engines; floats appear only in the single final
    division/sqrt (IEEE correctly-rounded ops, not libm), rounded
    once to 6dp.

    Scale shape: the per-value count tables ride
    ordered.global_prefix_sums (range partition + broadcast offsets —
    never a single-partition window over the pair table); rank
    lookup is two equi-joins on the value key; the moment pass is one
    map-combined aggregate. Integer envelope: bigint moment sums are
    exact to ~6e7 pairs, then the decimal(38,0) cross products to
    ~1e8 (document per-SF before raising)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    pairs = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)").alias(
            "xc"
        ),
        F.expr("CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
            "yc"
        ),
    )

    def dranks(col: str, out: str) -> DataFrame:
        vals = pairs.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        cum = ordered.global_prefix_sums(vals, col, ["cnt"])
        return cum.select(
            col, (2 * F.col("cum_cnt") - F.col("cnt") + 1).alias(out)
        )

    r = pairs.join(dranks("xc", "drx"), "xc").join(dranks("yc", "dry"), "yc")
    m = r.agg(
        F.count(F.lit(1)).cast("decimal(9,0)").alias("n"),
        F.sum("drx").cast("decimal(16,0)").alias("sx"),
        F.sum("dry").cast("decimal(16,0)").alias("sy"),
        F.sum(F.col("drx") * F.col("drx")).cast("decimal(25,0)").alias("sxx"),
        F.sum(F.col("dry") * F.col("dry")).cast("decimal(25,0)").alias("syy"),
        F.sum(F.col("drx") * F.col("dry")).cast("decimal(25,0)").alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    d1 = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    d2 = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return m.select(
        F.col("n").cast("bigint").alias("n_pairs"),
        F.round(num / (F.sqrt(d1) * F.sqrt(d2)), 6).alias("spearman_rho"),
    )


@_register(
    "stats_linreg",
    """
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_quantity AS DECIMAL(14,2)) * CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(14,2)) * CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS syy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           ROUND((sxy / n - (sx / n) * (sy / n)) / (sxx / n - (sx / n) * (sx / n)), 6) AS slope,
           ROUND((sy / n) - ((sxy / n - (sx / n) * (sy / n)) / (sxx / n - (sx / n) * (sx / n))) * (sx / n), 6) AS intercept,
           ROUND(((sxy / n - (sx / n) * (sy / n)) * (sxy / n - (sx / n) * (sy / n)))
                 / ((sxx / n - (sx / n) * (sx / n)) * (syy / n - (sy / n) * (sy / n))), 6) AS r2
    FROM s
    """,
)
def stats_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares fit (slope/intercept/R^2 of
    price on quantity) from decimal-exact power sums — the built-in
    regr_slope/regr_r2 over doubles is not order-stable at scale; this
    is, and it's one map-side-combined pass."""
    li = load_table(spark, sf_dir, "lineitem")
    q14 = F.col("l_quantity").cast("decimal(14,2)")
    p14 = F.col("l_extendedprice").cast("decimal(14,2)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        _dsum(F.col("l_quantity")).alias("sx"),
        F.sum(q14 * q14).cast("double").alias("sxx"),
        _dsum(F.col("l_extendedprice")).alias("sy"),
        F.sum(q14 * p14).cast("double").alias("sxy"),
        F.sum(p14 * p14).cast("double").alias("syy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, sxy, syy = F.col("sy"), F.col("sxy"), F.col("syy")
    cov = sxy / n - (sx / n) * (sy / n)
    var_x = sxx / n - (sx / n) * (sx / n)
    var_y = syy / n - (sy / n) * (sy / n)
    slope = cov / var_x
    return s.select(
        "l_returnflag",
        F.round(slope, 6).alias("slope"),
        F.round((sy / n) - slope * (sx / n), 6).alias("intercept"),
        F.round((cov * cov) / (var_x * var_y), 6).alias("r2"),
    )


@_register(
    "stats_histogram",
    """
    SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bin,
           COUNT(*) AS n_orders,
           ROUND(MIN(o_totalprice), 6) AS lo,
           ROUND(MAX(o_totalprice), 6) AS hi
    FROM orders GROUP BY bin
    """,
)
def stats_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram binning (floor arithmetic — portable,
    unlike engine-specific width_bucket variants); one map-side-
    combined aggregation."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.floor(F.col("o_totalprice") / 25000).cast("bigint").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 6).alias("lo"),
            F.round(F.max("o_totalprice"), 6).alias("hi"),
        )
    )


@_register(
    "profile_columns",
    """
    SELECT 'o_totalprice' AS col,
           COUNT(*) AS n_rows,
           COUNT(o_totalprice) AS n_nonnull,
           COUNT(DISTINCT o_totalprice) AS n_distinct,
           ROUND(MIN(o_totalprice), 6) AS min_v,
           ROUND(MAX(o_totalprice), 6) AS max_v
    FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*), COUNT(o_custkey), COUNT(DISTINCT o_custkey),
           ROUND(MIN(o_custkey), 6), ROUND(MAX(o_custkey), 6)
    FROM orders
    """,
)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (null rate / cardinality / range) — the data-
    quality pass every ingest tier runs; one scan per profiled batch,
    all aggregates map-side combined."""
    orders = load_table(spark, sf_dir, "orders")

    def prof(c: str):
        return orders.agg(
            F.lit(c).alias("col"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count(c).alias("n_nonnull"),
            F.countDistinct(c).alias("n_distinct"),
            F.round(F.min(c).cast("double"), 6).alias("min_v"),
            F.round(F.max(c).cast("double"), 6).alias("max_v"),
        )

    return prof("o_totalprice").unionByName(prof("o_custkey"))


@_register(
    "sample_train_split",
    """
    WITH b AS (
      SELECT doc_id, source,
             CASE
               WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7','8','9','a','b') THEN 'train'
               WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'val'
               ELSE 'test'
             END AS split
      FROM documents
    )
    SELECT split, source, COUNT(*) AS n_docs FROM b GROUP BY split, source
    """,
)
def sample_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 75/12.5/12.5 train/val/test assignment from the
    id's md5 prefix — stable across engines, runs, and shards (no
    rand(); membership is a pure function of the row id)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(_md5_nibble_split(F.col("doc_id")).alias("split"), "source")
        .groupBy("split", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@_register(
    "sample_hash_bucket",
    """
    SELECT source, COUNT(*) AS n_sampled, MIN(doc_id) AS min_id
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
    GROUP BY source
    """,
)
def sample_hash_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucket sampling (~2/16 of rows): the
    reproducible way to sample training data — the sample is a pure
    function of the id, stable across engines, re-runs, and cluster
    sizes (unlike rand()/TABLESAMPLE). Pushes down as a cheap filter."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    return (
        docs.filter(bucket.isin("0", "1"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"), F.min("doc_id").alias("min_id"))
    )


@_register(
    "stats_percentiles",
    """
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.25), 6) AS p25,
           ROUND(quantile_cont(o_totalprice, 0.50), 6) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.75), 6) AS p75,
           ROUND(MIN(o_totalprice), 6) AS lo,
           ROUND(MAX(o_totalprice), 6) AS hi
    FROM orders GROUP BY o_orderpriority
    """,
)
def stats_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile aggregation (linear interpolation — identical
    semantics to SQL quantile_cont); distribution profiling for data
    pipelines. Spark's sort-based exact percentile, not the sketch."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(o_totalprice, 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.75)"), 6).alias("p75"),
        F.round(F.min("o_totalprice"), 6).alias("lo"),
        F.round(F.max("o_totalprice"), 6).alias("hi"),
    )


@_register(
    "stats_cohen_kappa",
    f"""
    WITH rtoks AS (
      SELECT doc_id, unnest(list_filter(
        string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '')) AS w
      FROM documents
    ),
    rstats AS (
      SELECT doc_id, COUNT(*) AS n_words,
             ROUND(AVG(length(w)), 6) AS mean_word_len,
             ROUND(AVG(CASE WHEN regexp_matches(w, '[a-z]') THEN 1.0 ELSE 0.0 END), 6)
               AS frac_alpha_words
      FROM rtoks GROUP BY doc_id
    ),
    rules AS (
      SELECT doc_id,
             CAST(n_words >= 10 AND n_words <= 100000
                  AND mean_word_len >= 3 AND mean_word_len <= 10
                  AND frac_alpha_words >= 0.8 AS INT) AS keep_a
      FROM rstats
    ),
    {_X20_SCORED_SQL},
    cells AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(keep_a * keep) AS BIGINT) AS n11,
             CAST(SUM(keep_a * (1 - keep)) AS BIGINT) AS n10,
             CAST(SUM((1 - keep_a) * keep) AS BIGINT) AS n01,
             CAST(SUM((1 - keep_a) * (1 - keep)) AS BIGINT) AS n00
      FROM rules JOIN scored USING (doc_id)
    )
    SELECT n, n11, n10, n01, n00,
           CASE WHEN n * n
                     - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) = 0
                THEN NULL
                ELSE ROUND(CAST(n * (n11 + n00)
                      - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
                   AS DOUBLE)
                 / (n * n
                    - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))),
                 6) END AS kappa
    FROM cells
    """,
)
def stats_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-rater agreement (Cohen's kappa) between the RULE-based
    quality gate (x12, Gopher thresholds) and the MODEL-based
    classifier (x20, linear logit sign) — the filter-agreement audit
    a curation pipeline runs before swapping one gate for another.

    Kappa is computed from the 2x2 contingency via pure-INTEGER cross
    multiplication — numerator n*(po_count) - pe_products and the
    matching denominator stay exact bigints; ONE final double
    division is rounded 6dp, so no float accumulation can diverge
    between engines. Scale: both inputs are per-doc aggregates
    already proven green (x12/x20); the contingency is a 1-row
    map-combined reduction."""
    rules = x12_quality_rules(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("keep_a")
    )
    model = x20_quality_classifier(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("keep_b")
    )
    cells = rules.join(model, "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("keep_a") * F.col("keep_b")).cast("bigint").alias("n11"),
        F.sum(F.col("keep_a") * (1 - F.col("keep_b"))).cast("bigint").alias("n10"),
        F.sum((1 - F.col("keep_a")) * F.col("keep_b")).cast("bigint").alias("n01"),
        F.sum((1 - F.col("keep_a")) * (1 - F.col("keep_b")))
        .cast("bigint")
        .alias("n00"),
    )
    pe_prod = (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01")) + (
        F.col("n01") + F.col("n00")
    ) * (F.col("n10") + F.col("n00"))
    return cells.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.when(
            F.col("n") * F.col("n") - pe_prod != 0,
            F.round(
                (
                    F.col("n") * (F.col("n11") + F.col("n00")) - pe_prod
                ).cast("double")
                / (F.col("n") * F.col("n") - pe_prod),
                6,
            ),
        ).alias("kappa"),
    )


@_register(
    "stats_gini",
    """
    WITH cents AS (
      SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) AS c
      FROM orders
    ),
    ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c ASC, o_orderkey ASC) AS i
      FROM cents
    ),
    s AS (SELECT COUNT(*) AS n, SUM(c) AS s0, SUM(i * c) AS s1 FROM ranked)
    SELECT ROUND((2.0 * s1 - (n + 1.0) * s0) / (CAST(n AS DOUBLE) * s0), 6)
      AS gini
    FROM s
    """,
)
def stats_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of order values — the inequality statistic of
    the spend distribution, via the rank formula
    G = (2·Σ i·x_(i) − (n+1)·Σ x) / (n·Σ x). Every accumulation is an
    exact BIGINT (integer cents × integer ranks); floats appear only
    in the single final division, rounded once. The global rank uses
    ``ordered.global_row_numbers`` (range partition + broadcast
    offsets) — never a single-partition ORDER BY window."""
    o = load_table(spark, sf_dir, "orders")
    cents = o.select(
        F.col("o_orderkey").alias("k"),
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)").alias(
            "c"
        ),
    )
    # global_row_numbers ranks by one key column; a STRUCT key orders
    # lexicographically by (cents, orderkey) directly — no packed
    # scalar, so there is no orderkey-magnitude ceiling to corrupt the
    # rank at large SF (ADVICE r3: the previous c*2^24+k packing broke
    # silently at orderkey >= 2^24, ~sf3 TPC-H).
    keyed = cents.select(
        "k",
        "c",
        F.struct(F.col("c").alias("c"), F.col("k").alias("k")).alias("__key"),
    )
    ranked = ordered.global_row_numbers(keyed, "__key")
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s0"),
        F.sum(F.col("rank") * F.col("c")).alias("s1"),
    )
    return s.select(
        F.round(
            (2.0 * F.col("s1") - (F.col("n") + F.lit(1.0)) * F.col("s0"))
            / (F.col("n").cast("double") * F.col("s0")),
            6,
        ).alias("gini")
    )


@_register(
    "stats_chi2_independence",
    """
    WITH p AS (
      SELECT c_mktsegment AS seg, o_orderpriority AS pri
      FROM orders JOIN customer ON c_custkey = o_custkey
    ),
    ob AS (SELECT seg, pri, CAST(COUNT(*) AS BIGINT) AS obs FROM p GROUP BY seg, pri),
    rt AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS r FROM p GROUP BY seg),
    ct AS (SELECT pri, CAST(COUNT(*) AS BIGINT) AS c FROM p GROUP BY pri),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM p),
    terms AS (
      SELECT CAST(ROUND(
               CAST(CAST(obs AS HUGEINT) * n - CAST(r AS HUGEINT) * c AS DOUBLE)
               * CAST(CAST(obs AS HUGEINT) * n - CAST(r AS HUGEINT) * c AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * r * c AS DOUBLE), 8)
             AS DECIMAL(28,8)) AS term
      FROM ob JOIN rt USING (seg) JOIN ct USING (pri) CROSS JOIN nn
    ),
    dof AS (
      SELECT ((SELECT COUNT(*) FROM rt) - 1) * ((SELECT COUNT(*) FROM ct) - 1) AS d
    )
    SELECT (SELECT n FROM nn) AS n_pairs,
           CAST((SELECT d FROM dof) AS BIGINT) AS dof,
           ROUND(CAST(SUM(term) AS DOUBLE), 6) AS chi2_stat
    FROM terms
    """,
)
def stats_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between customer market
    segment and order priority — the categorical-association statistic
    beside stats_linreg (Pearson) and stats_spearman (rank).

    Cross-engine determinism: every contingency count is an exact
    integer; the per-cell statistic (O*N - R*C)^2 / (N*R*C) touches
    floats only in one IEEE multiply and one IEEE division of exactly
    rounded integer-valued doubles (no libm), each term is rounded to
    8dp and summed as DECIMAL (order-independent), and the statistic
    is rounded once at the end.

    Scale shape: ONE map-combined aggregate over the joined fact
    (the 25-group contingency cells, localCheckpoint'd); row margins,
    column margins, and N re-aggregate the CELLS — the cube trick —
    so the row-scale join is scanned exactly once (the r10-item-7
    scan-count pager flagged the four-consumer form re-deriving the
    orders ⋈ customer join 14 scans' worth). Integer envelope:
    HUGEINT/DECIMAL(38) cross products hold to ~1e19 pairs."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    p = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("seg"), F.col("o_orderpriority").alias("pri")
    )
    ob = (
        p.groupBy("seg", "pri")
        .agg(F.count(F.lit(1)).alias("obs"))
        .localCheckpoint(eager=False)  # 4 consumers: terms, rt, ct, nn
    )
    rt = ob.groupBy("seg").agg(F.sum("obs").alias("r"))
    ct = ob.groupBy("pri").agg(F.sum("obs").alias("c"))
    nn = ob.agg(F.sum("obs").alias("n"))
    num = (
        F.col("obs").cast("decimal(38,0)") * F.col("n")
        - F.col("r").cast("decimal(38,0)") * F.col("c")
    ).cast("double")
    den = (
        F.col("n").cast("decimal(38,0)") * F.col("r") * F.col("c")
    ).cast("double")
    terms = (
        ob.join(F.broadcast(rt), "seg")
        .join(F.broadcast(ct), "pri")
        .crossJoin(F.broadcast(nn))
        .select(F.round(num * num / den, 8).cast("decimal(28,8)").alias("term"))
    )
    dof = (
        rt.agg(F.count(F.lit(1)).alias("nr"))
        .crossJoin(F.broadcast(ct.agg(F.count(F.lit(1)).alias("nc"))))
        .select(((F.col("nr") - 1) * (F.col("nc") - 1)).cast("bigint").alias("dof"))
    )
    return (
        terms.agg(F.sum("term").alias("s"))
        .crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(dof))
        .select(
            F.col("n").alias("n_pairs"),
            "dof",
            F.round(F.col("s").cast("double"), 6).alias("chi2_stat"),
        )
    )


@_register(
    "stats_kendall_grid",
    """
    WITH p AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) AS xc,
             CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS yc
      FROM orders JOIN customer ON c_custkey = o_custkey
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM p),
    vx AS (SELECT xc, COUNT(*) AS cnt FROM p GROUP BY xc),
    cx AS (SELECT xc, SUM(cnt) OVER (ORDER BY xc ROWS UNBOUNDED PRECEDING) AS cum
           FROM vx),
    bx AS (SELECT xc, CAST((10 * cum + n - 1) // n AS INT) AS dx
           FROM cx CROSS JOIN nn),
    vy AS (SELECT yc, COUNT(*) AS cnt FROM p GROUP BY yc),
    cy AS (SELECT yc, SUM(cnt) OVER (ORDER BY yc ROWS UNBOUNDED PRECEDING) AS cum
           FROM vy),
    by_ AS (SELECT yc, CAST((10 * cum + n - 1) // n AS INT) AS dy
            FROM cy CROSS JOIN nn),
    g AS (
      SELECT dx, dy, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM p JOIN bx USING (xc) JOIN by_ USING (yc) GROUP BY dx, dy
    ),
    conc AS (
      SELECT COALESCE(CAST(SUM(CAST(a.cnt AS HUGEINT) * b.cnt) AS HUGEINT),
                      0) AS cc
      FROM g a JOIN g b ON b.dx > a.dx AND b.dy > a.dy
    ),
    disc AS (
      SELECT COALESCE(CAST(SUM(CAST(a.cnt AS HUGEINT) * b.cnt) AS HUGEINT),
                      0) AS dd
      FROM g a JOIN g b ON b.dx > a.dx AND b.dy < a.dy
    ),
    mx AS (SELECT dx, CAST(SUM(cnt) AS HUGEINT) AS tx FROM g GROUP BY dx),
    my AS (SELECT dy, CAST(SUM(cnt) AS HUGEINT) AS ty FROM g GROUP BY dy),
    tt AS (
      SELECT (SELECT CAST(n AS HUGEINT) * (n - 1) // 2 FROM nn) AS n0,
             (SELECT SUM(tx * (tx - 1) // 2) FROM mx) AS n1,
             (SELECT SUM(ty * (ty - 1) // 2) FROM my) AS n2,
             (SELECT cc FROM conc) AS c, (SELECT dd FROM disc) AS d
    )
    SELECT (SELECT n FROM nn) AS n_pairs,
           ROUND(CAST(c - d AS DOUBLE)
                 / (sqrt(CAST(n0 - n1 AS DOUBLE))
                    * sqrt(CAST(n0 - n2 AS DOUBLE))), 6) AS kendall_tau_b
    FROM tt
    """,
)
def stats_kendall_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b of order value vs customer balance over
    DECILE-BUCKETED values — the concordance statistic made
    shuffle-bounded: raw Kendall needs all O(n^2) pair comparisons
    (or a distributed merge-sort inversion count); bucketing each
    axis to 10 rank-deciles reduces concordant/discordant counting to
    an exact computation over a <=100-cell contingency grid (tau-b of
    the bucketed variables, with the bucket-tie correction in the
    denominator). Every grid count, concordant product sum, and tie
    term is an exact integer on both engines; floats appear only in
    the final sqrt/division (IEEE, no libm), rounded once to 6dp.

    Scale shape: decile assignment rides the per-value count table +
    ordered.global_prefix_sums (range partition + broadcast offsets,
    never a global single-partition window); the grid is built by one
    map-combined groupBy; the grid self-joins are broadcast joins of
    a 100-row frame. Integer envelope: concordant/discordant product
    sums ride DECIMAL(38); the bigint tie terms n0/n1/n2 are exact to
    ~4e9 rows (n*(n-1) < 2^63) — widen to decimal beyond."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    pairs = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            F.expr(
                "CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)"
            ).alias("xc"),
            F.expr(
                "CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)"
            ).alias("yc"),
        )
        # The pair frame fans out to five consumers (count, two bucket
        # branches, the grid join's probe); materialize it once so the
        # join/scan subtree isn't re-evaluated per branch (the
        # global_row_numbers branch-fan-out rule).
        .localCheckpoint(eager=False)
    )
    nn = pairs.agg(F.count(F.lit(1)).alias("n"))

    def buckets(col: str, out: str) -> DataFrame:
        vals = pairs.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        cum = ordered.global_prefix_sums(vals, col, ["cnt"])
        return cum.crossJoin(F.broadcast(nn)).select(
            col,
            F.expr("CAST((10 * cum_cnt + n - 1) div n AS INT)").alias(out),
        )

    g = (
        pairs.join(buckets("xc", "dx"), "xc")
        .join(buckets("yc", "dy"), "yc")
        .groupBy("dx", "dy")
        .agg(F.count(F.lit(1)).alias("cnt"))
        # <=100-row grid, referenced by four consumers (conc, disc,
        # and both tie-term margins) — materialize instead of
        # re-deriving the bucket joins per reference.
        .localCheckpoint(eager=False)
    )
    a, b = g.alias("a"), g.alias("b")
    prod = (F.col("a.cnt").cast("decimal(38,0)") * F.col("b.cnt")).alias("pr")
    conc = (
        a.join(
            F.broadcast(b),
            (F.col("b.dx") > F.col("a.dx")) & (F.col("b.dy") > F.col("a.dy")),
        )
        .select(prod)
        .agg(F.coalesce(F.sum("pr"), F.lit(0).cast("decimal(38,0)")).alias("c"))
    )
    disc = (
        a.join(
            F.broadcast(b),
            (F.col("b.dx") > F.col("a.dx")) & (F.col("b.dy") < F.col("a.dy")),
        )
        .select(prod)
        .agg(F.coalesce(F.sum("pr"), F.lit(0).cast("decimal(38,0)")).alias("d"))
    )
    n1 = (
        g.groupBy("dx")
        .agg(F.sum("cnt").cast("bigint").alias("tx"))
        .agg(F.sum(F.expr("tx * (tx - 1) div 2")).cast("bigint").alias("n1"))
    )
    n2 = (
        g.groupBy("dy")
        .agg(F.sum("cnt").cast("bigint").alias("ty"))
        .agg(F.sum(F.expr("ty * (ty - 1) div 2")).cast("bigint").alias("n2"))
    )
    n0 = nn.select(
        F.expr("CAST(n * (n - 1) div 2 AS BIGINT)").alias("n0"),
        F.col("n"),
    )
    return (
        conc.crossJoin(F.broadcast(disc))
        .crossJoin(F.broadcast(n0))
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select(
            F.col("n").alias("n_pairs"),
            F.round(
                (F.col("c") - F.col("d")).cast("double")
                / (
                    F.sqrt((F.col("n0") - F.col("n1")).cast("double"))
                    * F.sqrt((F.col("n0") - F.col("n2")).cast("double"))
                ),
                6,
            ).alias("kendall_tau_b"),
        )
    )


@_register(
    "stats_benford",
    f"""
    WITH exp_p AS (SELECT * FROM (VALUES {_BENFORD_VALUES_SQL}) t(digit, p_micro)),
    obs AS (
      SELECT CAST(substring(CAST(CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100
                                   AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
             CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM orders GROUP BY 1
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders)
    SELECT e.digit,
           COALESCE(o.n_obs, 0) AS n_obs,
           CAST(n * e.p_micro AS BIGINT) AS expected_micro,
           CAST(COALESCE(o.n_obs, 0) * 1000000 - n * e.p_micro AS BIGINT)
             AS deviation_micro
    FROM exp_p e LEFT JOIN obs o ON o.digit = e.digit CROSS JOIN nn
    """,
)
def stats_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals: observed leading-
    digit counts vs the Benford expectation — the classic anomaly/
    fraud screen for monetary columns in a DQ suite. The expected
    probabilities log10(1+1/d) are PUBLIC CONSTANTS embedded as
    integer micro-probability literals in both dialects, so no libm
    call exists at runtime and every output column is an exact
    integer (deviation_micro = 1e6*obs - n*p_micro).

    Scale shape: first digit extracted from the exact cents integer
    (never float formatting); one 9-group map-combined aggregate +
    a broadcast join against the 9-row constant table."""
    o = load_table(spark, sf_dir, "orders")
    exp_p = local_frame(
        spark, [(d + 1, p) for d, p in enumerate(_BENFORD_MICRO)], "digit int, p_micro long"
    )
    obs = (
        o.select(
            F.expr(
                "CAST(substring(CAST(CAST(CAST(o_totalprice AS DECIMAL(15,2)) "
                "* 100 AS BIGINT) AS STRING), 1, 1) AS INT)"
            ).alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    nn = o.agg(F.count(F.lit(1)).alias("n"))
    return (
        exp_p.join(F.broadcast(obs), "digit", "left")
        .crossJoin(F.broadcast(nn))
        .select(
            "digit",
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("bigint").alias("n_obs"),
            (F.col("n") * F.col("p_micro")).cast("bigint").alias("expected_micro"),
            (
                F.coalesce(F.col("n_obs"), F.lit(0)) * F.lit(1000000)
                - F.col("n") * F.col("p_micro")
            )
            .cast("bigint")
            .alias("deviation_micro"),
        )
    )


@_register(
    "stats_mannwhitney",
    """
    WITH o AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) AS cents,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS g1
      FROM orders
    ),
    byv AS (SELECT cents, SUM(g1) AS c1, COUNT(*) AS ct FROM o GROUP BY cents),
    cum AS (
      SELECT c1, ct, SUM(ct) OVER (ORDER BY cents) AS cum_ct FROM byv
    ),
    agg AS (
      SELECT SUM(c1) AS n1, SUM(ct) AS n,
             SUM(c1 * (2 * (cum_ct - ct) + ct + 1)) AS two_r1,
             SUM(ct * ct * ct - ct) AS tie
      FROM cum
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n - n1 AS BIGINT) AS n2,
           CAST(two_r1 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
           ROUND((CAST(two_r1 - n1 * (n1 + 1) AS DOUBLE) - CAST(n1 * (n - n1) AS DOUBLE))
                 / (2 * sqrt(CAST(n1 * (n - n1) AS DOUBLE) / CAST(12 AS DOUBLE)
                             * (CAST(n + 1 AS DOUBLE)
                                - CAST(tie AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)))), 6)
             AS z_score
    FROM agg
    """,
)
def stats_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum test: do finished ('F') orders have a
    different totalprice distribution than open ones? The
    nonparametric two-sample sibling of x25's rank-sum AUC (U and AUC
    share the rank-sum core; this emits the test statistic + normal
    z with the exact tie correction).

    Determinism: money goes through the _disc_price cents rule
    (DECIMAL(15,2)*100 — Spark's double->long cast truncates, DuckDB
    rounds); average ranks over ties are carried DOUBLED so every
    rank sum is an exact integer (2·R1 = Σ c1·(2·cum_before + ct + 1));
    U is emitted as the integer 2·U1; the z-score's sqrt/divides run
    on exact integers — IEEE-identical on both engines before the
    6dp ROUND.

    Scale shape: one groupBy(cents) (bounded by distinct prices),
    then the cumulative tie-ladder rides ordered.global_prefix_sums —
    range partition + broadcast offsets, never a single-partition
    window (the oracle's OVER (ORDER BY cents) is the semantic spec
    only). Public method: Mann & Whitney 1947; tie correction per
    standard texts."""
    o = load_table(spark, sf_dir, "orders").select(
        (F.col("o_totalprice").cast("decimal(15,2)") * 100)
        .cast("bigint")
        .alias("cents"),
        (F.col("o_orderstatus") == "F").cast("bigint").alias("g1"),
    )
    byv = o.groupBy("cents").agg(
        F.sum("g1").alias("c1"), F.count(F.lit(1)).alias("ct")
    )
    cum = ordered.global_prefix_sums(byv, "cents", ["ct"])
    agg = cum.agg(
        F.sum("c1").alias("n1"),
        F.sum("ct").alias("n"),
        F.sum(
            F.col("c1")
            * (2 * (F.col("cum_ct") - F.col("ct")) + F.col("ct") + 1)
        ).alias("two_r1"),
        F.sum(
            F.col("ct") * F.col("ct") * F.col("ct") - F.col("ct")
        ).alias("tie"),
    )
    return agg.select(
        F.col("n1").cast("bigint").alias("n1"),
        (F.col("n") - F.col("n1")).cast("bigint").alias("n2"),
        (F.col("two_r1") - F.col("n1") * (F.col("n1") + 1))
        .cast("bigint")
        .alias("u1_x2"),
        F.expr(
            "ROUND((CAST(two_r1 - n1 * (n1 + 1) AS DOUBLE) - CAST(n1 * (n - n1) AS DOUBLE))"
            " / (2 * sqrt(CAST(n1 * (n - n1) AS DOUBLE) / CAST(12 AS DOUBLE)"
            " * (CAST(n + 1 AS DOUBLE)"
            " - CAST(tie AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)))), 6)"
        ).alias("z_score"),
    )


@_register(
    "stats_runs_test",
    f"""
    WITH{_DAILY_SQL},
    dirs AS (
      SELECT a.day_n, CASE WHEN a.v > b.v THEN 1 ELSE 0 END AS up
      FROM daily a JOIN daily b ON b.day_n = a.day_n - 1
      WHERE a.v <> b.v
    ),
    flips AS (
      SELECT COUNT(*) AS r FROM dirs a JOIN dirs b ON b.day_n = (
        SELECT MAX(day_n) FROM dirs WHERE day_n < a.day_n
      ) WHERE a.up <> b.up
    ),
    m AS (SELECT SUM(up) AS n1, COUNT(*) - SUM(up) AS n2 FROM dirs)
    SELECT CAST(n1 AS BIGINT) AS n_up, CAST(n2 AS BIGINT) AS n_down,
           CAST(r + 1 AS BIGINT) AS n_runs,
           ROUND((CAST(r + 1 AS DOUBLE)
                  - (2 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                     / CAST(n1 + n2 AS DOUBLE) + 1))
                 / sqrt(2 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                        * (2 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                           - CAST(n1 + n2 AS DOUBLE))
                        / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
                           * CAST(n1 + n2 - 1 AS DOUBLE))), 6) AS z_score
    FROM flips CROSS JOIN m
    """,
)
def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the daily up/down sign sequence
    (flat days removed, the standard treatment): too FEW runs means
    trending, too MANY means oscillation — the randomness check
    behind t30's streak report. Runs are counted as sign flips
    between CONSECUTIVE surviving days + 1 (a nearest-predecessor
    self-join, no window); n1/n2/R are exact integers and the normal
    z is IEEE ops on exact integers rounded at 6dp.

    Scale shape: calendar-bounded series; the predecessor lookup is
    a correlated min/max over the tiny dirs frame on the oracle side
    and a prefix-rank equi-join on the Spark side — both linear."""
    daily = _daily_series(spark, sf_dir)
    prev = daily.select(
        (F.col("day_n") + 1).alias("day_n"), F.col("v").alias("pv")
    )
    dirs = (
        daily.join(prev, "day_n")
        .filter(F.col("v") != F.col("pv"))
        .select(
            "day_n", (F.col("v") > F.col("pv")).cast("bigint").alias("up")
        )
    )
    ranked = ordered.global_row_numbers(dirs, "day_n")
    succ = ranked.select(
        (F.col("rank") - 1).alias("rank"), F.col("up").alias("up_next")
    )
    flips = (
        ranked.join(succ, "rank")
        .agg(
            F.coalesce(
                F.sum((F.col("up") != F.col("up_next")).cast("bigint")),
                F.lit(0),
            ).alias("r")
        )
    )
    m = dirs.agg(
        F.sum("up").alias("n1"),
        (F.count(F.lit(1)) - F.sum("up")).alias("n2"),
    )
    return flips.crossJoin(F.broadcast(m)).select(
        F.col("n1").cast("bigint").alias("n_up"),
        F.col("n2").cast("bigint").alias("n_down"),
        (F.col("r") + 1).cast("bigint").alias("n_runs"),
        F.expr(
            "ROUND((CAST(r + 1 AS DOUBLE)"
            " - (2 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
            " / CAST(n1 + n2 AS DOUBLE) + 1))"
            " / sqrt(2 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
            " * (2 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
            " - CAST(n1 + n2 AS DOUBLE))"
            " / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)"
            " * CAST(n1 + n2 - 1 AS DOUBLE))), 6)"
        ).alias("z_score"),
    )


@_register(
    "stats_poisson_bootstrap",
    """
    WITH o AS (
      SELECT o_orderkey AS id,
             CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) AS cents
      FROM orders
    ),
    reps AS (SELECT unnest(range(0, 16)) AS b),
    m AS (
      SELECT b, SUM(w) AS n_eff, SUM(w * cents) AS sum_cents
      FROM (
        SELECT b, cents,
               CASE
                 WHEN CAST('0x' || substring(
                   md5(CAST(b AS VARCHAR) || '|' || CAST(id AS VARCHAR)), 1, 8)
                   AS BIGINT) % 1000 < 368 THEN 0
                 WHEN CAST('0x' || substring(
                   md5(CAST(b AS VARCHAR) || '|' || CAST(id AS VARCHAR)), 1, 8)
                   AS BIGINT) % 1000 < 736 THEN 1
                 WHEN CAST('0x' || substring(
                   md5(CAST(b AS VARCHAR) || '|' || CAST(id AS VARCHAR)), 1, 8)
                   AS BIGINT) % 1000 < 920 THEN 2
                 ELSE 3 END AS w
        FROM o CROSS JOIN reps
      ) GROUP BY b
    )
    SELECT CAST(b AS INT) AS replicate,
           CAST(n_eff AS BIGINT) AS n_eff,
           CAST(sum_cents * 1000 // n_eff AS BIGINT) AS mean_milli_cents
    FROM m
    """,
)
def stats_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON bootstrap (the cluster-scale bootstrap: per-row
    replicate weights instead of with-replacement draws, so each
    replicate is one weighted aggregate over a single scan — the
    standard trick for resampling data too big to sample by index):
    16 deterministic replicates of the mean order value, each row's
    weight drawn from an integer-threshold Poisson(1) approximation
    (P(0)=P(1)=.368, P(2)=.184, P(3)=.08) seeded by
    md5(replicate|id). The replicate spread is the uncertainty
    estimate a significance gate (t7/t9/stats_* family) consumes.

    All-integer outputs (exact cents sums, floor-div milli means);
    membership is a pure hash function of (replicate, id) — stable
    across engines, runs, and partitionings (the x29/sample_* idiom).

    Scale shape: ONE scan fanned 16x by a tiny broadcast (or
    equivalently 16 conditional aggregates); no shuffle bigger than
    16 groups."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        (F.col("o_totalprice").cast("decimal(15,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    reps = spark.range(0, 16).select(F.col("id").alias("b"))
    key = F.concat_ws("|", F.col("b").cast("string"), F.col("id").cast("string"))
    h = hex_to_long(md5_hex(key), 8) % 1000
    w = (
        F.when(h < 368, 0)
        .when(h < 736, 1)
        .when(h < 920, 2)
        .otherwise(3)
    )
    lab = o.crossJoin(F.broadcast(reps)).select(
        "b", "cents", w.alias("w")
    )
    return (
        lab.groupBy("b")
        .agg(
            F.sum("w").alias("n_eff"),
            F.sum(F.col("w") * F.col("cents")).alias("sum_cents"),
        )
        .select(
            F.col("b").cast("int").alias("replicate"),
            F.col("n_eff").cast("bigint").alias("n_eff"),
            F.expr("CAST(sum_cents * 1000 div n_eff AS BIGINT)").alias(
                "mean_milli_cents"
            ),
        )
    )


@_register(
    "stats_theil_sen",
    f"""
    WITH{_DAILY_SQL},
    slopes AS (
      SELECT CAST((b.v - a.v) * 1000000 AS HUGEINT)
               // CAST(b.day_n - a.day_n AS HUGEINT) AS s
      FROM daily a JOIN daily b ON b.day_n > a.day_n
    ),
    byv AS (SELECT s, COUNT(*) AS ct FROM slopes GROUP BY s),
    cum AS (SELECT s, ct, SUM(ct) OVER (ORDER BY s) AS cw,
                   SUM(ct) OVER () AS tot
            FROM byv)
    SELECT CAST(MIN(tot) AS BIGINT) AS n_pairs,
           CAST(MIN(CASE WHEN 2 * cw >= tot THEN s END) AS BIGINT)
             AS slope_micro_per_day
    FROM cum
    """,
)
def stats_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend: the MEDIAN of all pairwise day-slopes
    of the daily event-count series — the outlier-proof alternative
    to stats_linreg's least squares (one corrupted day moves OLS,
    not the slope median). Slopes are integer micro/day floor-divs;
    negative numerators make `div` vs `//` diverge, so BOTH sides
    use true floor semantics (HUGEINT `//` in the oracle; Spark
    floor-div via the offset rule on the signed numerator). The
    median is the a9/a14 integer rank rule (2·cw >= total), an
    actual slope value — no interpolation.

    Scale shape: the daily series is calendar-bounded, so pairwise
    slopes are |days|²/2 — bounded by the calendar, not the corpus;
    the median rank rides global_prefix_sums, never a
    single-partition window."""
    daily = _daily_series(spark, sf_dir)
    a = daily.select(F.col("day_n").alias("da"), F.col("v").alias("va"))
    b = daily.select(F.col("day_n").alias("db"), F.col("v").alias("vb"))
    # floor division with a possibly-negative numerator: offset by a
    # large positive multiple of the denominator so truncation == floor
    # on both engines (the t28 rule, per-pair denominator)
    slopes = (
        a.join(F.broadcast(b), F.col("db") > F.col("da"))
        .select(
            F.expr(
                "((vb - va) * 1000000 + 1000000000000 * (db - da))"
                " div (db - da) - 1000000000000"
            ).alias("s")
        )
    )
    byv = slopes.groupBy("s").agg(F.count(F.lit(1)).alias("ct"))
    cum = ordered.global_prefix_sums(byv, "s", ["ct"])
    tot = byv.agg(F.sum("ct").alias("tot"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .filter(2 * F.col("cum_ct") >= F.col("tot"))
        .agg(
            F.min("tot").cast("bigint").alias("n_pairs"),
            F.min("s").cast("bigint").alias("slope_micro_per_day"),
        )
    )
@_register(
    "stats_wilcoxon",
    f"""
    WITH{_DAILY_SQL},
    pairs AS (
      SELECT a.v - b.v AS d
      FROM daily a JOIN daily b ON b.day_n = a.day_n - 7
    ),
    nz AS (
      SELECT abs(d) AS ad, CASE WHEN d > 0 THEN 1 ELSE 0 END AS pos
      FROM pairs WHERE d <> 0
    ),
    byv AS (
      SELECT ad, SUM(pos) AS cpos, COUNT(*) AS ct FROM nz GROUP BY ad
    ),
    cum AS (
      SELECT cpos, ct, SUM(ct) OVER (ORDER BY ad) AS cw FROM byv
    ),
    agg AS (
      SELECT SUM(ct) AS n,
             SUM(cpos * (2 * (cw - ct) + ct + 1)) AS w2,
             SUM(ct * ct * ct - ct) AS tie
      FROM cum
    )
    SELECT CAST(n AS BIGINT) AS n_nonzero,
           CAST(w2 AS BIGINT) AS w_plus_x2,
           ROUND(CAST(2 * w2 - n * (n + 1) AS DOUBLE)
                 / (4 * sqrt(CAST(2 * n * (n + 1) * (2 * n + 1) - tie AS DOUBLE)
                             / CAST(48 AS DOUBLE))), 6) AS z_score
    FROM agg
    """,
)
def stats_wilcoxon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on the week-over-week daily-count
    differences (paired samples: each day vs itself 7 days earlier) —
    is the series systematically shifting, beyond what t31's WAPE
    magnitude says? Completes the nonparametric pair with
    stats_mannwhitney (unpaired) using the identical doubled-rank
    construction: zero differences drop (standard treatment),
    |d| ranks carry DOUBLED average ranks so the positive rank sum
    W+ is the exact integer w2 = 2·W+, ties corrected exactly, and z
    is IEEE ops on exact integers at 6dp.

    Scale shape: the pairing is the t31 lag-7 self equi-join over the
    calendar-bounded series; the rank ladder rides
    ordered.global_prefix_sums (the oracle window is the semantic
    spec)."""
    daily = _daily_series(spark, sf_dir)
    prev = daily.select(
        (F.col("day_n") + 7).alias("day_n"), F.col("v").alias("pv")
    )
    nz = (
        daily.join(prev, "day_n")
        .select((F.col("v") - F.col("pv")).alias("d"))
        .filter(F.col("d") != 0)
        .select(
            F.abs(F.col("d")).alias("ad"),
            (F.col("d") > 0).cast("bigint").alias("pos"),
        )
    )
    byv = nz.groupBy("ad").agg(
        F.sum("pos").alias("cpos"), F.count(F.lit(1)).alias("ct")
    )
    cum = ordered.global_prefix_sums(byv, "ad", ["ct"])
    agg = cum.agg(
        F.sum("ct").alias("n"),
        F.sum(
            F.col("cpos")
            * (2 * (F.col("cum_ct") - F.col("ct")) + F.col("ct") + 1)
        ).alias("w2"),
        F.sum(
            F.col("ct") * F.col("ct") * F.col("ct") - F.col("ct")
        ).alias("tie"),
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n_nonzero"),
        F.col("w2").cast("bigint").alias("w_plus_x2"),
        F.expr(
            "ROUND(CAST(2 * w2 - n * (n + 1) AS DOUBLE)"
            " / (4 * sqrt(CAST(2 * n * (n + 1) * (2 * n + 1) - tie AS DOUBLE)"
            " / CAST(48 AS DOUBLE))), 6)"
        ).alias("z_score"),
    )


@_register(
    "ml_naive_bayes_model",
    """
    WITH toks AS (
      SELECT d.lang, unnest(list_filter(
        string_split(regexp_replace(lower(d.text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '')) AS w
      FROM documents d
    ),
    cnt_wc AS (SELECT lang, w, COUNT(*) AS c FROM toks GROUP BY lang, w),
    tot_c AS (SELECT lang, COUNT(*) AS tc FROM toks GROUP BY lang),
    cnt_w AS (SELECT w, COUNT(*) AS cw FROM toks GROUP BY w),
    gl AS (SELECT COUNT(*) AS tot, COUNT(DISTINCT w) AS v FROM toks),
    prior AS (
      SELECT lang, CAST(COUNT(*) * 1000000 //
               (SELECT COUNT(*) FROM documents) AS BIGINT) AS prior_micro
      FROM documents GROUP BY lang
    ),
    p AS (
      SELECT wc.lang, wc.w, wc.c, cw.cw, tc.tc, g.tot, g.v,
             CAST((wc.c + 1) * 1000000 // (tc.tc + g.v) AS BIGINT)
               AS p_wc_micro
      FROM cnt_wc wc
      JOIN tot_c tc ON tc.lang = wc.lang
      JOIN cnt_w cw ON cw.w = wc.w
      CROSS JOIN gl g
    ),
    ranked AS (
      SELECT lang, w, p_wc_micro,
             CAST(CAST(c + 1 AS HUGEINT) * (tot + v) * 1000
                  // (CAST(cw + 1 AS HUGEINT) * (tc + v)) AS BIGINT)
               AS lift_milli,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY CAST(c + 1 AS HUGEINT) * (tot + v) * 1000
                  // (CAST(cw + 1 AS HUGEINT) * (tc + v)) DESC, w ASC) AS rk
      FROM p
    )
    SELECT r.lang, CAST(r.rk AS INT) AS rk, r.w AS token,
           r.p_wc_micro, r.lift_milli, pr.prior_micro
    FROM ranked r JOIN prior pr ON pr.lang = r.lang
    WHERE r.rk <= 5
    """,
)
def ml_naive_bayes_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes TRAINING as pure distributed
    aggregates — the quality/domain-classifier training step of a data
    pipeline (the fastText stage) reduced to its Spark shape: class
    priors, Laplace-smoothed token likelihoods p(w|lang) =
    (c_wc+1)/(tot_c+V), and per-class discriminative vocabulary
    (top-5 tokens by lift = p(w|c)/p(w)). The model IS the output
    table — scoring new docs is a broadcast join of exactly this
    relation (x20 demonstrates the scoring shape with fixed weights).

    Determinism: every probability is an exact integer micro (bigint
    floor division of count ratios — no libm log on either engine);
    ranking is (lift desc, token asc), so top-5 sets are stable.

    Scale: three map-combined count aggregates over one tokenize +
    explode (the x2/x20 stream), a likelihood join keyed on (token)
    bounded by vocab x classes, one 1-row (total, vocab) broadcast,
    and a per-class window over vocab-sized slices."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.explode(word_tokens(F.col("text"))).alias("w"),
    ).filter(F.col("w") != "")
    cnt_wc = toks.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("c"))
    tot_c = toks.groupBy("lang").agg(F.count(F.lit(1)).alias("tc"))
    cnt_w = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    glob = toks.agg(
        F.count(F.lit(1)).alias("tot"), F.countDistinct("w").alias("v")
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("nd"))
    prior = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("nc"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "lang",
            F.expr("CAST(nc * 1000000 div nd AS BIGINT)").alias(
                "prior_micro"
            ),
        )
    )
    p = (
        cnt_wc.join(F.broadcast(tot_c), "lang")
        .join(cnt_w, "w")
        .crossJoin(F.broadcast(glob))
        .select(
            "lang",
            "w",
            "c",
            "cw",
            "tc",
            "tot",
            "v",
            F.expr("CAST((c + 1) * 1000000 div (tc + v) AS BIGINT)").alias(
                "p_wc_micro"
            ),
        )
    )
    # lift = p(w|c)/p(w) with CLEARED denominators (ADVICE r6): the
    # old p_wc_micro*1000 div p_w_micro floors p_w_micro to 0 for
    # hapax tokens once corpus tokens exceed ~1e6/(cw+1) -- ANSI Spark
    # then throws DIVIDE_BY_ZERO while DuckDB //0 yields NULL. The
    # exact form (c+1)(tot+v)*1000 div ((cw+1)(tc+v)) has no
    # intermediate that can floor to a zero divisor; int128
    # (DECIMAL(38,0) here, HUGEINT in the oracle) keeps the product
    # exact at any corpus size, final value cast back to BIGINT.
    lift = F.expr(
        "CAST(CAST(c + 1 AS DECIMAL(38,0)) * (tot + v) * 1000"
        " div (CAST(cw + 1 AS DECIMAL(38,0)) * (tc + v)) AS BIGINT)"
    )
    w = Window.partitionBy("lang").orderBy(
        lift.desc(), F.col("w").asc()
    )
    ranked = p.select(
        "lang",
        "w",
        "p_wc_micro",
        lift.alias("lift_milli"),
        F.row_number().over(w).alias("rk"),
    ).filter(F.col("rk") <= 5)
    return ranked.join(F.broadcast(prior), "lang").select(
        "lang",
        F.col("rk").cast("int").alias("rk"),
        F.col("w").alias("token"),
        "p_wc_micro",
        "lift_milli",
        "prior_micro",
    )


@_register(
    "ml_auc_ranking",
    f"""
    WITH {_X20_SCORED_SQL},
    lab AS (
      SELECT s.logit_micro AS sc,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
      FROM scored s JOIN documents d ON d.doc_id = s.doc_id
    ),
    g AS (
      SELECT sc, SUM(y) AS pos, SUM(1 - y) AS neg
      FROM lab GROUP BY sc
    ),
    cum AS (
      SELECT pos, neg,
             COALESCE(SUM(neg) OVER (ORDER BY sc ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cneg
      FROM g
    ),
    agg AS (
      SELECT SUM(2 * pos * cneg + pos * neg) AS num2,
             SUM(pos) AS p, SUM(neg) AS n
      FROM cum
    )
    SELECT CAST(p AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n_neg,
           CAST(num2 * 1000000 // (2 * p * n) AS BIGINT) AS auc_micro
    FROM agg
    """,
)
def ml_auc_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-integer AUC (Mann-Whitney formulation) of x20's quality
    logit against an external binary label (lang = 'en') — the
    ranking-quality eval every trained data-filter ships with, next
    to x73's confusion matrix and stats_mannwhitney's z: AUC =
    P(score_pos > score_neg) + P(equal)/2, computed from per-score
    GROUP counts — 2*AUC*P*N = sum over score groups of
    2*pos_s*（negatives strictly below) + pos_s*neg_s — so ties are
    handled exactly and no float enters until the final micro ratio
    (floor division, engine-identical).

    Scale: one doc-level label join + a groupBy on the score; the
    prefix window runs over DISTINCT score values (x20's logit is a
    ratio of small integer features — bounded cardinality), never the
    corpus; a 1-row final aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    scored = x20_quality_classifier(spark, sf_dir).select(
        "doc_id", "logit_micro"
    )
    lab = scored.join(docs.select("doc_id", "lang"), "doc_id").select(
        F.col("logit_micro").alias("sc"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    g = lab.groupBy("sc").agg(
        F.sum("y").alias("pos"), F.sum(1 - F.col("y")).alias("neg")
    )
    w = Window.orderBy(F.col("sc").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = g.withColumn("cneg", F.coalesce(F.sum("neg").over(w), F.lit(0)))
    return cum.agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("neg").cast("bigint").alias("n_neg"),
        F.expr(
            "CAST(SUM(2 * pos * cneg + pos * neg) * 1000000 "
            "div (2 * SUM(pos) * SUM(neg)) AS BIGINT)"
        ).alias("auc_micro"),
    ).select("n_pos", "n_neg", "auc_micro")


@_register(
    "ml_calibration_table",
    f"""
    WITH {_X20_SCORED_SQL},
    lab AS (
      SELECT s.logit_micro, s.keep,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
      FROM scored s JOIN documents d ON d.doc_id = s.doc_id
    ),
    b AS (
      SELECT CAST(floor(logit_micro / 250000.0) AS BIGINT) AS bucket,
             keep, y
      FROM lab
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(keep) AS BIGINT) AS n_keep,
           CAST(SUM(y) AS BIGINT) AS n_label,
           CAST(SUM(keep) * 1000000 // COUNT(*) AS BIGINT) AS keep_micro,
           CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT) AS label_micro
    FROM b GROUP BY bucket
    """,
)
def ml_calibration_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table for x20's quality classifier: docs bucketed
    by logit (0.25-logit-wide integer bins), each bin reporting the
    model's keep rate next to an external label's rate (lang = 'en',
    ml_auc_ranking's probe) — the calibration curve read alongside
    AUC before a filter threshold ships (a well-ranked but
    mis-calibrated model gates the wrong volume). Bucket boundaries
    use float floor on EXACT double operands (a mathematically
    integral ratio of exact doubles is exact, so no boundary can
    round differently cross-engine); rates are floor millionths.

    Scale: one doc-level label join + a bounded-cardinality bucket
    aggregate; nothing global."""
    docs = load_table(spark, sf_dir, "documents")
    scored = x20_quality_classifier(spark, sf_dir).select(
        "doc_id", "logit_micro", "keep"
    )
    lab = scored.join(docs.select("doc_id", "lang"), "doc_id").select(
        "logit_micro",
        "keep",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    b = lab.select(
        F.floor(F.col("logit_micro") / F.lit(250000.0))
        .cast("bigint")
        .alias("bucket"),
        "keep",
        "y",
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("keep").cast("bigint").alias("n_keep"),
        F.sum("y").cast("bigint").alias("n_label"),
        F.expr("CAST(SUM(keep) * 1000000 div COUNT(1) AS BIGINT)").alias(
            "keep_micro"
        ),
        F.expr("CAST(SUM(y) * 1000000 div COUNT(1) AS BIGINT)").alias(
            "label_micro"
        ),
    )


@_register(
    "ml_knn_classifier",
    f"""
    WITH seeds AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0
    ),
    cents AS (
      SELECT vec_id AS centroid_id, embedding AS cv
      FROM seeds WHERE vec_id < 40
    ),
    q AS (
      SELECT vec_id AS qid, embedding AS qv
      FROM embeddings WHERE vec_id % 5 <> 0
    ),
    assigned AS (
      SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY ROUND({_cos_sql('e.embedding', 'c.cv')}, 6) DESC,
                          c.centroid_id ASC
               ) AS rn
        FROM seeds e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT qid, centroid_id FROM (
        SELECT q.qid, c.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.qid
                 ORDER BY ROUND({_cos_sql('c.cv', 'q.qv')}, 6) DESC,
                          c.centroid_id ASC
               ) AS rn
        FROM q CROSS JOIN cents c
      ) WHERE rn <= 2
    ),
    cand AS (
      SELECT p.qid, a.vec_id
      FROM probes p JOIN assigned a USING (centroid_id)
      WHERE a.vec_id <> p.qid
    ),
    nn AS (
      SELECT qid, vec_id FROM (
        SELECT c.qid, c.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY c.qid
                 ORDER BY ROUND({_cos_sql('e.embedding', 'q.qv')}, 6) DESC,
                          c.vec_id ASC
               ) AS rk
        FROM cand c
        JOIN embeddings e ON e.vec_id = c.vec_id
        JOIN q ON q.qid = c.qid
      ) WHERE rk <= 3
    ),
    votes AS (
      SELECT nn.qid, d.lang AS n_lang, COUNT(*) AS c
      FROM nn JOIN documents d ON d.doc_id = nn.vec_id
      GROUP BY nn.qid, d.lang
    ),
    pred AS (
      SELECT qid, n_lang AS pred_lang FROM (
        SELECT qid, n_lang,
               ROW_NUMBER() OVER (
                 PARTITION BY qid ORDER BY c DESC, n_lang ASC) AS rn
        FROM votes
      ) WHERE rn = 1
    )
    SELECT t.lang AS true_lang, p.pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred p JOIN documents t ON t.doc_id = p.qid
    GROUP BY t.lang, p.pred_lang
    """,
)
def ml_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised kNN CLASSIFICATION over the embedding space —
    the weak-supervision labeling step of a data pipeline (label a
    corpus from a small labeled seed set): every 5th doc keeps its
    lang label as a SEED; each unlabeled doc takes the majority lang
    of its top-3 seed neighbors (IVF-bucketed, s11's machinery with
    the seed set as corpus), mode broken by (count desc, lang asc);
    output is the confusion matrix against the held-back true labels
    — the accuracy audit that decides whether embedding-space
    labeling is trustworthy for the next stage (x73's idiom with a
    LEARNED classifier instead of the marker heuristic).

    Determinism: neighbor ranks use the rounded-cosine + id-tiebreak
    idiom; the vote mode has a total order.

    Scale: inherits ivf_knn_join's contract — one seed-side
    assignment, per-query probe windows over the broadcast (40-row)
    centroid table, one candidate equi-join; votes/confusion are
    |langs|-bounded aggregates. Never query x corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    seeds = emb.filter(F.col("vec_id") % 5 == 0)
    queries = emb.filter(F.col("vec_id") % 5 != 0)
    nn = similarity.ivf_knn_join(
        seeds, queries, k=3, n_centroids=40, n_probe=2
    )
    votes = (
        nn.join(
            docs.select(
                F.col("doc_id").alias("neighbor_id"),
                F.col("lang").alias("n_lang"),
            ),
            "neighbor_id",
        )
        .groupBy("qid", "n_lang")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("c").desc(), F.col("n_lang").asc()
    )
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("qid", F.col("n_lang").alias("pred_lang"))
    )
    return (
        pred.join(
            docs.select(
                F.col("doc_id").alias("qid"), F.col("lang").alias("true_lang")
            ),
            "qid",
        )
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


@_register(
    "stats_srm",
    """
    WITH u AS (SELECT DISTINCT user_id FROM events),
    arms AS (
      SELECT CASE WHEN (user_id * 2654435761) % 4294967296 < 2147483648
                  THEN 'A' ELSE 'B' END AS arm
      FROM u
    ),
    c AS (
      SELECT CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS o_a,
             CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS o_b,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM arms
    )
    SELECT n, o_a, o_b,
           CAST((o_a - o_b) * (o_a - o_b) * 1000000 // n AS BIGINT)
             AS srm_chi2_micro,
           CAST(CASE WHEN (o_a - o_b) * (o_a - o_b) * 1000000 // n >= 3841459
                THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
    FROM c
    """,
)
def stats_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail: users assigned to A/B by the
    Knuth multiplicative hash (the x17/x81 keep-rule idiom, 50/50),
    then the one-df chi-square against the expected even split —
    which for E = n/2 collapses to (o_a - o_b)^2 / n, computed in
    exact integer micro with the 3.841459 critical value as an
    integer threshold. The experimentation health check that runs
    before anyone reads a metric: a flagged split means the
    assignment or logging pipeline is biased and every downstream
    result is suspect. Distinct from stats_chi2_assoc (association of
    two observed columns): SRM tests observed vs DESIGNED allocation.

    Scale: one distinct on the user key (the only shuffle), one
    map-combined 1-row aggregate."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.select("user_id").distinct()
    arm = F.when(
        knuth_hash32(F.col("user_id")) < F.lit(2147483648), "A"
    ).otherwise("B")
    c = u.select(arm.alias("arm")).agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
        .cast("bigint")
        .alias("o_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0))
        .cast("bigint")
        .alias("o_b"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return c.select(
        "n",
        "o_a",
        "o_b",
        F.expr(
            "CAST((o_a - o_b) * (o_a - o_b) * 1000000 div n AS BIGINT)"
        ).alias("srm_chi2_micro"),
        F.expr(
            "CAST(CASE WHEN (o_a - o_b) * (o_a - o_b) * 1000000 div n"
            " >= 3841459 THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("srm_flag"),
    )


@_register(
    "opt1_join_order_costs",
    """
    WITH stats AS (
      SELECT
        (SELECT COUNT(*) FROM customer) AS n_c,
        (SELECT COUNT(*) FROM orders)   AS n_o,
        (SELECT COUNT(*) FROM lineitem) AS n_l,
        (SELECT COUNT(DISTINCT c_custkey) FROM customer)    AS ndv_c_ck,
        (SELECT COUNT(DISTINCT o_custkey) FROM orders)      AS ndv_o_ck,
        (SELECT COUNT(DISTINCT o_orderkey) FROM orders)     AS ndv_o_ok,
        (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem)   AS ndv_l_ok
    ),
    actual AS (
      SELECT
        (SELECT COUNT(*) FROM customer c JOIN orders o
           ON c.c_custkey = o.o_custkey) AS a_co,
        (SELECT COUNT(*) FROM orders o JOIN lineitem l
           ON o.o_orderkey = l.l_orderkey) AS a_ol
    ),
    plans AS (
      SELECT 'customer_first' AS plan_order,
             CAST(n_c * n_o // greatest(ndv_c_ck, ndv_o_ck) AS BIGINT)
               AS est_first_join_rows,
             CAST(a_co AS BIGINT) AS actual_first_join_rows
      FROM stats CROSS JOIN actual
      UNION ALL
      SELECT 'lineitem_first',
             CAST(n_o * n_l // greatest(ndv_o_ok, ndv_l_ok) AS BIGINT),
             CAST(a_ol AS BIGINT)
      FROM stats CROSS JOIN actual
    )
    SELECT plan_order, est_first_join_rows, actual_first_join_rows,
           CAST(abs(est_first_join_rows - actual_first_join_rows)
                * 1000000 // greatest(actual_first_join_rows, 1)
                AS BIGINT) AS est_error_micro,
           CASE WHEN est_first_join_rows =
                     (SELECT MIN(est_first_join_rows) FROM plans)
                THEN 1 ELSE 0 END AS recommended
    FROM plans
    ORDER BY est_first_join_rows ASC, plan_order ASC
    """,
)
def opt1_join_order_costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based join-order ranking from column statistics — the CBO
    primitive (Selinger 1979) run AS A QUERY: for the 3-table chain
    customer x orders x lineitem, estimate each candidate first
    join's cardinality with the textbook uniform-NDV formula
    |A join B| = |A|x|B| / max(ndv_A(k), ndv_B(k)), rank plans by
    estimate, and audit the estimator against the EXACT join sizes
    (est_error_micro). Everything is exact integer arithmetic
    (counts, distincts, floor divisions) — no float cost model.

    This is what a 100 TB submit does with table-stats metadata
    BEFORE shuffling anything: the stats side costs one
    count+countDistinct pass per key column (map-combined), after
    which plan choice is free. The exact-join audit column is the
    expensive calibration run production omits.

    Scale shape: three count/NDV aggregates; the audit joins are the
    engine's own shuffled equi-joins, counted without materializing
    payload columns (key-only projections).

    vs dq9_join_fanout: dq9 predicts ONE join's cardinality exactly
    from per-key counts (a per-key aggregate); this ranks PLAN
    ORDERS from coarse table stats — the decision CBO makes before
    any per-key pass is affordable."""
    t = load_tables(spark, sf_dir)
    c, o, l = t["customer"], t["orders"], t["lineitem"]
    stats = (
        c.agg(
            F.count(F.lit(1)).alias("n_c"),
            F.countDistinct("c_custkey").alias("ndv_c_ck"),
        )
        .crossJoin(
            o.agg(
                F.count(F.lit(1)).alias("n_o"),
                F.countDistinct("o_custkey").alias("ndv_o_ck"),
                F.countDistinct("o_orderkey").alias("ndv_o_ok"),
            )
        )
        .crossJoin(
            l.agg(
                F.count(F.lit(1)).alias("n_l"),
                F.countDistinct("l_orderkey").alias("ndv_l_ok"),
            )
        )
    )
    a_co = (
        c.select("c_custkey")
        .join(o.select("o_custkey"), F.col("c_custkey") == F.col("o_custkey"))
        .agg(F.count(F.lit(1)).alias("a_co"))
    )
    a_ol = (
        o.select("o_orderkey")
        .join(l.select("l_orderkey"), F.col("o_orderkey") == F.col("l_orderkey"))
        .agg(F.count(F.lit(1)).alias("a_ol"))
    )
    base = stats.crossJoin(F.broadcast(a_co)).crossJoin(F.broadcast(a_ol))
    p1 = base.select(
        F.lit("customer_first").alias("plan_order"),
        F.expr("CAST(n_c * n_o div greatest(ndv_c_ck, ndv_o_ck) AS BIGINT)")
        .alias("est_first_join_rows"),
        F.col("a_co").cast("bigint").alias("actual_first_join_rows"),
    )
    p2 = base.select(
        F.lit("lineitem_first").alias("plan_order"),
        F.expr("CAST(n_o * n_l div greatest(ndv_o_ok, ndv_l_ok) AS BIGINT)")
        .alias("est_first_join_rows"),
        F.col("a_ol").cast("bigint").alias("actual_first_join_rows"),
    )
    plans = p1.unionByName(p2).localCheckpoint(eager=False)
    best = plans.agg(F.min("est_first_join_rows").alias("best_est"))
    return (
        plans.crossJoin(F.broadcast(best))
        .select(
            "plan_order",
            "est_first_join_rows",
            "actual_first_join_rows",
            F.expr(
                "CAST(abs(est_first_join_rows - actual_first_join_rows) "
                "* 1000000 div greatest(actual_first_join_rows, 1) AS BIGINT)"
            ).alias("est_error_micro"),
            F.when(F.col("est_first_join_rows") == F.col("best_est"), 1)
            .otherwise(0)
            .alias("recommended"),
        )
        .orderBy(F.col("est_first_join_rows").asc(), F.col("plan_order").asc())
    )


@_register(
    "opt2_histogram_selectivity",
    """
    WITH o AS (
      SELECT CAST(floor(o_totalprice) AS BIGINT) AS pc FROM orders
    ),
    b AS (
      SELECT MIN(pc) AS pmin, MAX(pc) AS pmax,
             CAST((MAX(pc) - MIN(pc) + 32) // 32 AS BIGINT) AS w
      FROM o
    ),
    hist AS (
      SELECT CAST((o.pc - b.pmin) // b.w AS BIGINT) AS cell,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM o, b GROUP BY 1
    ),
    specs AS (
      SELECT * FROM (VALUES
        ('narrow_low', 0, 1), ('mid_band', 2, 4),
        ('wide_band', 1, 7), ('upper_half', 4, 8)
      ) AS t(predicate, a8, b8)
    ),
    preds AS (
      SELECT s.predicate,
             CAST(b.pmin + (b.pmax - b.pmin + 1) * s.a8 // 8 AS BIGINT) AS lo,
             CAST(b.pmin + (b.pmax - b.pmin + 1) * s.b8 // 8 AS BIGINT) AS hi
      FROM specs s, b
    ),
    est AS (
      SELECT p.predicate, p.lo, p.hi,
             CAST(SUM(h.cnt * (greatest(
                    least(b.pmin + (h.cell + 1) * b.w, p.hi)
                    - greatest(b.pmin + h.cell * b.w, p.lo), 0)
                  * 1000000 // b.w)) AS BIGINT) AS est_rows_micro
      FROM hist h, b, preds p
      GROUP BY 1, 2, 3
    ),
    actual AS (
      SELECT p.predicate, CAST(COUNT(*) AS BIGINT) AS actual_rows
      FROM o JOIN preds p ON o.pc >= p.lo AND o.pc < p.hi
      GROUP BY 1
    )
    SELECT e.predicate, e.lo, e.hi, e.est_rows_micro, a.actual_rows,
           CAST(abs(e.est_rows_micro - a.actual_rows * 1000000) * 10000
                // greatest(a.actual_rows * 1000000, 1) AS BIGINT) AS err_bps
    FROM est e JOIN actual a ON e.predicate = a.predicate
    ORDER BY e.predicate
    """,
)
def opt2_histogram_selectivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width-histogram selectivity estimation audited against the
    exact counts -- the SCAN-side CBO primitive beside opt1's join
    ranking: a 32-cell histogram on floor(o_totalprice) (whole
    dollars; floor of a double is bit-identical cross-engine, unlike
    rounding) estimates each range predicate's row count by full
    cells + linearly-interpolated edge cells (Selinger 1979 sec 4),
    and err_bps prices the estimator per predicate shape
    (narrow/mid/wide/half, defined as data-driven eighths of the
    observed domain so the query is sf-invariant).

    Everything is exact integer arithmetic in a FIXED operation
    order: frac_micro = overlap*1e6 div w first, then cnt *
    frac_micro (keeps every intermediate under ~1.5e12 at any sf --
    no overflow and no cross-engine product-order drift).

    Scale shape: one map-combined 32-group aggregate + one 1-row
    bounds aggregate over a single-column projection of orders; the
    estimate itself is a 32x4 broadcast grid. The exact `actual`
    pass (one more scan against a 4-row broadcast) is the
    calibration run production omits -- at 100 TB the histogram IS
    the metadata and only the grid math runs.

    vs a18_log_histogram_quantiles: a18 inverts a histogram into
    quantiles; this runs the planner direction -- predicate ->
    estimated cardinality -> error audit."""
    o = (
        load_table(spark, sf_dir, "orders")
        .select(F.expr("CAST(floor(o_totalprice) AS BIGINT)").alias("pc"))
        .localCheckpoint(eager=False)  # bounds, hist, actual share it
    )
    b = o.agg(
        F.min("pc").alias("pmin"),
        F.max("pc").alias("pmax"),
    ).select(
        "pmin",
        "pmax",
        F.expr("CAST((pmax - pmin + 32) div 32 AS BIGINT)").alias("w"),
    )
    hist = (
        o.crossJoin(F.broadcast(b))
        .groupBy(F.expr("CAST((pc - pmin) div w AS BIGINT)").alias("cell"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    specs = local_frame(
        spark,
        [("narrow_low", 0, 1), ("mid_band", 2, 4), ("wide_band", 1, 7), ("upper_half", 4, 8)],
        "predicate string, a8 bigint, b8 bigint",
    )
    preds = specs.crossJoin(F.broadcast(b)).select(
        "predicate",
        F.expr("CAST(pmin + (pmax - pmin + 1) * a8 div 8 AS BIGINT)").alias("lo"),
        F.expr("CAST(pmin + (pmax - pmin + 1) * b8 div 8 AS BIGINT)").alias("hi"),
    ).localCheckpoint(eager=False)  # est grid + actual pass share it
    est = (
        hist.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(preds))
        .groupBy("predicate", "lo", "hi")
        .agg(
            F.expr(
                "CAST(SUM(cnt * (greatest(least(pmin + (cell + 1) * w, hi)"
                " - greatest(pmin + cell * w, lo), 0)"
                " * 1000000 div w)) AS BIGINT)"
            ).alias("est_rows_micro")
        )
    )
    actual = (
        o.crossJoin(F.broadcast(preds))
        .where((F.col("pc") >= F.col("lo")) & (F.col("pc") < F.col("hi")))
        .groupBy("predicate")
        .agg(F.count(F.lit(1)).cast("bigint").alias("actual_rows"))
    )
    return (
        est.join(F.broadcast(actual), "predicate")
        .select(
            "predicate",
            "lo",
            "hi",
            "est_rows_micro",
            "actual_rows",
            F.expr(
                "CAST(abs(est_rows_micro - actual_rows * 1000000) * 10000"
                " div greatest(actual_rows * 1000000, 1) AS BIGINT)"
            ).alias("err_bps"),
        )
        .orderBy("predicate")
    )


@_register(
    "ml_decision_stump",
    """
    WITH d AS (
      SELECT CAST(n_chars AS BIGINT) AS x,
             CASE WHEN list_contains(string_split(text, ' '), 'spark')
                  THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    b AS (SELECT MIN(x) AS xmin, MAX(x) AS xmax, COUNT(*) AS n FROM d),
    thr AS (
      SELECT CAST(b.xmin + (b.xmax - b.xmin + 1) * g.i // 16 AS BIGINT) AS thr
      FROM b CROSS JOIN (
        SELECT UNNEST([1,2,3,4,5,6,7,8,9,10,11,12,13,14,15]) AS i) g
    ),
    split AS (
      SELECT t.thr,
             CAST(SUM(CASE WHEN d.x < t.thr THEN 1 ELSE 0 END) AS BIGINT)
               AS n_left,
             CAST(SUM(CASE WHEN d.x < t.thr THEN d.y ELSE 0 END) AS BIGINT)
               AS pos_left,
             CAST(SUM(CASE WHEN d.x >= t.thr THEN 1 ELSE 0 END) AS BIGINT)
               AS n_right,
             CAST(SUM(CASE WHEN d.x >= t.thr THEN d.y ELSE 0 END) AS BIGINT)
               AS pos_right
      FROM d CROSS JOIN thr t GROUP BY 1
    ),
    scored AS (
      SELECT thr, n_left, pos_left, n_right, pos_right,
             CAST((2 * (pos_left * 1000000 // greatest(n_left, 1))
                     * (1000000 - pos_left * 1000000 // greatest(n_left, 1))
                     // 1000000 * n_left
                   + 2 * (pos_right * 1000000 // greatest(n_right, 1))
                     * (1000000 - pos_right * 1000000 // greatest(n_right, 1))
                     // 1000000 * n_right)
                  // (n_left + n_right) AS BIGINT) AS gini_micro,
             CAST((greatest(pos_left, n_left - pos_left)
                   + greatest(pos_right, n_right - pos_right)) * 10000
                  // (n_left + n_right) AS BIGINT) AS acc_bps
      FROM split
    )
    SELECT thr, n_left, pos_left, n_right, pos_right, gini_micro, acc_bps,
           CASE WHEN gini_micro = (SELECT MIN(gini_micro) FROM scored)
                THEN 1 ELSE 0 END AS is_best
    FROM scored
    ORDER BY thr
    """,
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump training AS A QUERY -- the CART split search
    (Breiman 1984) that gradient-boosted trees and feature-importance
    audits run millions of times, here once over a real learnable
    relationship: predict whether a doc contains 'spark' from
    n_chars (longer docs are more likely to contain any fixed vocab
    word, so the threshold is genuinely informative -- the best split
    beats the majority baseline, visible in acc_bps). 15 candidate
    thresholds at data-driven sixteenths of the feature domain; per
    threshold the weighted binary Gini impurity 2p(1-p) in
    MICRO-QUANTIZED exact integers (p_micro = pos*1e6 div n first,
    then the product -- every intermediate under 1e12, identical in
    both engines; the quantization IS the metric's definition) and
    the majority-vote accuracy; is_best flags the argmin.

    Scale shape: one 1-row bounds aggregate, then ONE conditional-agg
    pass over the fact against a 15-row broadcast threshold grid --
    the split search never shuffles the data per candidate (the
    groupBy carries 15 groups, map-combined). The weighted-gini
    product g*n stays in int64 up to ~9e12 rows.

    vs ml_naive_bayes_model / ml_knn_classifier: those score with
    FIXED parameters; this row SEARCHES parameter space -- the
    training step stated declaratively."""
    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.col("n_chars").cast("bigint").alias("x"),
            F.when(
                F.array_contains(F.split(F.col("text"), " "), "spark"), 1
            )
            .otherwise(0)
            .alias("y"),
        )
        .localCheckpoint(eager=False)  # bounds + split pass share it
    )
    b = d.agg(F.min("x").alias("xmin"), F.max("x").alias("xmax"))
    grid = local_frame(spark, [(i,) for i in range(1, 16)], "i: bigint")
    thr = grid.crossJoin(F.broadcast(b)).select(
        F.expr("CAST(xmin + (xmax - xmin + 1) * i div 16 AS BIGINT)").alias("thr")
    )
    split = (
        d.crossJoin(F.broadcast(thr))
        .groupBy("thr")
        .agg(
            F.sum(F.when(F.col("x") < F.col("thr"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_left"),
            F.sum(F.when(F.col("x") < F.col("thr"), F.col("y")).otherwise(0))
            .cast("bigint")
            .alias("pos_left"),
            F.sum(F.when(F.col("x") >= F.col("thr"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_right"),
            F.sum(F.when(F.col("x") >= F.col("thr"), F.col("y")).otherwise(0))
            .cast("bigint")
            .alias("pos_right"),
        )
    )
    scored = split.select(
        "thr",
        "n_left",
        "pos_left",
        "n_right",
        "pos_right",
        F.expr(
            "CAST((2 * (pos_left * 1000000 div greatest(n_left, 1))"
            " * (1000000 - pos_left * 1000000 div greatest(n_left, 1))"
            " div 1000000 * n_left"
            " + 2 * (pos_right * 1000000 div greatest(n_right, 1))"
            " * (1000000 - pos_right * 1000000 div greatest(n_right, 1))"
            " div 1000000 * n_right)"
            " div (n_left + n_right) AS BIGINT)"
        ).alias("gini_micro"),
        F.expr(
            "CAST((greatest(pos_left, n_left - pos_left)"
            " + greatest(pos_right, n_right - pos_right)) * 10000"
            " div (n_left + n_right) AS BIGINT)"
        ).alias("acc_bps"),
    ).localCheckpoint(eager=False)  # best-flag join shares it
    best = scored.agg(F.min("gini_micro").alias("best_gini"))
    return (
        scored.crossJoin(F.broadcast(best))
        .select(
            "thr",
            "n_left",
            "pos_left",
            "n_right",
            "pos_right",
            "gini_micro",
            "acc_bps",
            F.when(F.col("gini_micro") == F.col("best_gini"), 1)
            .otherwise(0)
            .alias("is_best"),
        )
        .orderBy("thr")
    )


@_register(
    "stats_cuped",
    f"""
    WITH e AS (
      SELECT user_id,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
      FROM events
    ),
    b AS (SELECT MAX(day) - 7 AS sd FROM e),
    u AS (
      SELECT e.user_id,
             CAST(SUM(CASE WHEN e.day <= b.sd THEN 1 ELSE 0 END) AS BIGINT)
               AS x,
             CAST(SUM(CASE WHEN e.day > b.sd THEN 1 ELSE 0 END) AS BIGINT)
               AS y,
             CAST(({KNUTH_HASH32_SQL.format(key='e.user_id')}) % 2 AS BIGINT)
               AS arm
      FROM e CROSS JOIN b GROUP BY e.user_id
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM u
    ),
    th AS (
      SELECT n, sx, sy,
             CAST((n * sxy - sx * sy) * 1000000
                  // greatest(n * sxx - sx * sx, 1) AS BIGINT) AS theta_micro,
             CAST(sx * 1000 // n AS BIGINT) AS xbar_milli,
             CAST(sy * 1000 // n AS BIGINT) AS ybar_milli
      FROM s
    ),
    adj AS (
      SELECT u.arm, u.y * 1000 AS y_milli,
             u.y * 1000
               - t.theta_micro * (u.x * 1000 - t.xbar_milli) // 1000000
               AS yadj_milli,
             t.theta_micro, t.ybar_milli, t.n
      FROM u CROSS JOIN th t
    ),
    am AS (
      SELECT CAST(SUM(yadj_milli) // MAX(n) AS BIGINT) AS yadjbar_milli
      FROM adj
    ),
    vtot AS (
      SELECT CAST(SUM((a.y_milli - a.ybar_milli)
                      * (a.y_milli - a.ybar_milli)) // MAX(a.n) AS BIGINT)
               AS var_y_milli2,
             CAST(SUM((a.yadj_milli - m.yadjbar_milli)
                      * (a.yadj_milli - m.yadjbar_milli)) // MAX(a.n)
                  AS BIGINT) AS var_yadj_milli2
      FROM adj a CROSS JOIN am m
    )
    SELECT a.arm,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(a.y_milli) // COUNT(*) AS BIGINT) AS mean_y_milli,
           CAST(SUM(a.yadj_milli) // COUNT(*) AS BIGINT) AS mean_yadj_milli,
           CAST(MAX(a.theta_micro) AS BIGINT) AS theta_micro,
           CAST(MAX(v.var_y_milli2) AS BIGINT) AS var_y_milli2,
           CAST(MAX(v.var_yadj_milli2) AS BIGINT) AS var_yadj_milli2,
           CAST((MAX(v.var_y_milli2) - MAX(v.var_yadj_milli2)) * 10000
                // greatest(MAX(v.var_y_milli2), 1) AS BIGINT)
             AS var_reduction_bps
    FROM adj a CROSS JOIN vtot v
    GROUP BY a.arm
    ORDER BY a.arm
    """,
)
def stats_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013, WSDM) -- the
    experimentation workhorse between stats_srm's assignment guard
    and the metric read-out: per user, the POST-period metric (last
    7 days' events) is adjusted by the PRE-period covariate
    (theta = cov(X,Y)/var(X), the regression adjustment that removes
    between-user variance the experiment didn't cause), arms assigned
    by the same portable knuth hash stats_srm uses. Everything is
    exact integer arithmetic: theta in micro from raw bigint moment
    sums, adjusted values in MILLI so squared deviations stay in
    int64 (two-pass deviation variance -- never n*Sxx - Sx^2 on
    milli-scaled values, whose square overflows first), floor
    divisions in a fixed order both engines repeat bit-identically.
    var_reduction_bps is the payoff number: the share of metric
    variance the covariate explains (= squared pre/post correlation).
    On this fixture it reads ~0 -- per-user event rates are
    homogeneous Poisson, so there IS no persistent user effect to
    remove, and the audit says so: the guard against cargo-culting
    CUPED onto a metric whose covariate carries no signal (the same
    honest-zero posture as opt1's estimator error columns).

    Scale shape: one (user) map-combined aggregate builds the panel,
    a 1-row moment/theta broadcast adjusts it, two more 1-row
    broadcasts carry the means -- three passes over the USER panel
    (not the event log), no window functions at all."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("CAST(ts_ns div 1000 div 86400000000 AS BIGINT)").alias("day"),
    )
    b = e.agg(F.expr("CAST(MAX(day) - 7 AS BIGINT)").alias("sd"))
    u = (
        e.crossJoin(F.broadcast(b))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("day") <= F.col("sd"), 1).otherwise(0))
            .cast("bigint")
            .alias("x"),
            F.sum(F.when(F.col("day") > F.col("sd"), 1).otherwise(0))
            .cast("bigint")
            .alias("y"),
        )
        .select(
            "user_id",
            "x",
            "y",
            (knuth_hash32(F.col("user_id")) % 2).cast("bigint").alias("arm"),
        )
        .localCheckpoint(eager=False)  # moments + adjusted panel share it
    )
    s = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    th = s.select(
        "n",
        F.expr(
            "CAST((n * sxy - sx * sy) * 1000000"
            " div greatest(n * sxx - sx * sx, 1) AS BIGINT)"
        ).alias("theta_micro"),
        F.expr("CAST(sx * 1000 div n AS BIGINT)").alias("xbar_milli"),
        F.expr("CAST(sy * 1000 div n AS BIGINT)").alias("ybar_milli"),
    )
    adj = (
        u.crossJoin(F.broadcast(th))
        .select(
            "arm",
            (F.col("y") * 1000).alias("y_milli"),
            F.expr(
                "y * 1000 - theta_micro * (x * 1000 - xbar_milli) div 1000000"
            ).alias("yadj_milli"),
            "theta_micro",
            "ybar_milli",
            "n",
        )
        .localCheckpoint(eager=False)  # adj-mean, variances, arm rows share it
    )
    am = adj.agg(
        F.expr("CAST(SUM(yadj_milli) div MAX(n) AS BIGINT)").alias(
            "yadjbar_milli"
        )
    )
    vtot = adj.crossJoin(F.broadcast(am)).agg(
        F.expr(
            "CAST(SUM((y_milli - ybar_milli) * (y_milli - ybar_milli))"
            " div MAX(n) AS BIGINT)"
        ).alias("var_y_milli2"),
        F.expr(
            "CAST(SUM((yadj_milli - yadjbar_milli)"
            " * (yadj_milli - yadjbar_milli)) div MAX(n) AS BIGINT)"
        ).alias("var_yadj_milli2"),
    )
    return (
        adj.crossJoin(F.broadcast(vtot))
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.expr("CAST(SUM(y_milli) div COUNT(1) AS BIGINT)").alias(
                "mean_y_milli"
            ),
            F.expr("CAST(SUM(yadj_milli) div COUNT(1) AS BIGINT)").alias(
                "mean_yadj_milli"
            ),
            F.max("theta_micro").cast("bigint").alias("theta_micro"),
            F.max("var_y_milli2").cast("bigint").alias("var_y_milli2"),
            F.max("var_yadj_milli2").cast("bigint").alias("var_yadj_milli2"),
            F.expr(
                "CAST((MAX(var_y_milli2) - MAX(var_yadj_milli2)) * 10000"
                " div greatest(MAX(var_y_milli2), 1) AS BIGINT)"
            ).alias("var_reduction_bps"),
        )
        .orderBy("arm")
    )


@_register(
    "ml_gbdt_round",
    """
    WITH d AS (
      SELECT CAST(n_chars AS BIGINT) AS x,
             CASE WHEN list_contains(string_split(text, ' '), 'spark')
                  THEN 1000 ELSE 0 END AS y_milli
      FROM documents
    ),
    b AS (
      SELECT MIN(x) AS xmin, MAX(x) AS xmax,
             CAST(SUM(y_milli * y_milli) AS BIGINT) AS syy
      FROM d
    ),
    thr AS (
      SELECT CAST(b.xmin + (b.xmax - b.xmin + 1) * g.i // 16 AS BIGINT) AS t
      FROM b CROSS JOIN (
        SELECT UNNEST([1,2,3,4,5,6,7,8,9,10,11,12,13,14,15]) AS i) g
    ),
    r1 AS (
      SELECT t.t,
             CAST(SUM(CASE WHEN d.x < t.t THEN 1 ELSE 0 END) AS BIGINT) AS nl,
             CAST(SUM(CASE WHEN d.x < t.t THEN d.y_milli ELSE 0 END)
                  AS BIGINT) AS syl,
             CAST(SUM(CASE WHEN d.x >= t.t THEN 1 ELSE 0 END) AS BIGINT) AS nr,
             CAST(SUM(CASE WHEN d.x >= t.t THEN d.y_milli ELSE 0 END)
                  AS BIGINT) AS syr
      FROM d CROSS JOIN thr t GROUP BY 1
    ),
    r1s AS (
      SELECT r1.*, b.syy,
             b.syy - syl * syl // greatest(nl, 1)
                   - syr * syr // greatest(nr, 1) AS sse1
      FROM r1 CROSS JOIN b
    ),
    best1 AS (
      SELECT t AS t1,
             CAST(syl // greatest(nl, 1) AS BIGINT) AS pl_milli,
             CAST(syr // greatest(nr, 1) AS BIGINT) AS pr_milli,
             CAST(sse1 AS BIGINT) AS sse_round1_milli2
      FROM r1s
      ORDER BY sse1 ASC, t ASC LIMIT 1
    ),
    res AS (
      SELECT d.x,
             d.y_milli,
             d.y_milli - CASE WHEN d.x < w.t1 THEN w.pl_milli
                              ELSE w.pr_milli END AS r_milli,
             w.t1, w.pl_milli, w.pr_milli, w.sse_round1_milli2
      FROM d CROSS JOIN best1 w
    ),
    rb AS (SELECT CAST(SUM(r_milli * r_milli) AS BIGINT) AS srr FROM res),
    r2 AS (
      SELECT t.t,
             CAST(SUM(CASE WHEN res.x < t.t THEN 1 ELSE 0 END) AS BIGINT)
               AS nl,
             CAST(SUM(CASE WHEN res.x < t.t THEN res.r_milli ELSE 0 END)
                  AS BIGINT) AS srl,
             CAST(SUM(CASE WHEN res.x >= t.t THEN 1 ELSE 0 END) AS BIGINT)
               AS nr,
             CAST(SUM(CASE WHEN res.x >= t.t THEN res.r_milli ELSE 0 END)
                  AS BIGINT) AS srr_side
      FROM res CROSS JOIN thr t GROUP BY 1
    ),
    r2s AS (
      SELECT r2.*, rb.srr,
             rb.srr - srl * srl // greatest(nl, 1)
                    - srr_side * srr_side // greatest(nr, 1) AS sse2
      FROM r2 CROSS JOIN rb
    ),
    best2 AS (
      SELECT t AS t2,
             (srl + 2000000 * nl) // greatest(2 * nl, 1) - 1000000
               AS shrunk_l_milli,
             (srr_side + 2000000 * nr) // greatest(2 * nr, 1) - 1000000
               AS shrunk_r_milli,
             CAST(sse2 AS BIGINT) AS sse_round2_milli2
      FROM r2s
      ORDER BY sse2 ASC, t ASC LIMIT 1
    )
    SELECT CASE WHEN res.x < res.t1 THEN 'L' ELSE 'R' END
             || CASE WHEN res.x < w2.t2 THEN 'l' ELSE 'r' END AS leaf,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(res.y_milli) // COUNT(*) AS BIGINT) AS mean_y_milli,
           CAST(MAX(CASE WHEN res.x < res.t1 THEN res.pl_milli
                         ELSE res.pr_milli END)
                + MAX(CASE WHEN res.x < w2.t2 THEN w2.shrunk_l_milli
                           ELSE w2.shrunk_r_milli END) AS BIGINT) AS f2_milli,
           CAST(MAX(res.t1) AS BIGINT) AS t1,
           CAST(MAX(w2.t2) AS BIGINT) AS t2,
           CAST(MAX(res.sse_round1_milli2) AS BIGINT) AS sse_round1_milli2,
           CAST(MAX(w2.sse_round2_milli2) AS BIGINT) AS sse_round2_milli2,
           CAST((MAX(res.sse_round1_milli2) - MAX(w2.sse_round2_milli2))
                * 10000 // greatest(MAX(res.sse_round1_milli2), 1)
                AS BIGINT) AS sse_reduction_bps
    FROM res CROSS JOIN best2 w2
    GROUP BY 1
    ORDER BY 1
    """,
)
def ml_gbdt_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One gradient-boosting round ON TOP of ml_decision_stump
    (L2Boost, Buhlmann & Yu 2003; shrinkage 0.5): round 1 fits the
    best SSE stump to y (for binary y the SSE argmin IS the Gini
    argmin, so this is the same split the stump row finds), round 2
    fits a second stump to the RESIDUALS and the 2x2 leaf table
    carries the boosted prediction f2 = p1 + 0.5 * rbar(leaf2) --
    the additive-model step every GBDT library runs thousands of
    times, stated as two declarative aggregate passes with the
    improvement priced in sse_reduction_bps. Exactness discipline:
    labels/residuals in MILLI so every square stays in int64 at any
    fixture sf; residual means use the positive-offset floor
    division ((s + k*n) div (k'*n) - c) so negative sums floor
    identically in both engines (the x87 rule); both argmins
    tie-break on the smaller threshold.

    Scale shape: two conditional-agg passes over the fact against
    the SAME 15-row broadcast threshold grid (the split search never
    shuffles per candidate), two 1-row argmin broadcasts, and a
    4-group leaf aggregate. A k-round booster is k such passes --
    delta-proportional, no driver-side state beyond the 1-row model."""
    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.col("n_chars").cast("bigint").alias("x"),
            F.when(
                F.array_contains(F.split(F.col("text"), " "), "spark"), 1000
            )
            .otherwise(0)
            .alias("y_milli"),
        )
        .localCheckpoint(eager=False)  # bounds + both split passes share it
    )
    b = d.agg(
        F.min("x").alias("xmin"),
        F.max("x").alias("xmax"),
        F.sum(F.col("y_milli") * F.col("y_milli")).cast("bigint").alias("syy"),
    )
    grid = local_frame(spark, [(i,) for i in range(1, 16)], "i: bigint")
    thr = grid.crossJoin(F.broadcast(b.select("xmin", "xmax"))).select(
        F.expr("CAST(xmin + (xmax - xmin + 1) * i div 16 AS BIGINT)").alias("t")
    ).localCheckpoint(eager=False)  # both rounds share the grid
    r1 = (
        d.crossJoin(F.broadcast(thr))
        .groupBy("t")
        .agg(
            F.sum(F.when(F.col("x") < F.col("t"), 1).otherwise(0))
            .cast("bigint")
            .alias("nl"),
            F.sum(F.when(F.col("x") < F.col("t"), F.col("y_milli")).otherwise(0))
            .cast("bigint")
            .alias("syl"),
            F.sum(F.when(F.col("x") >= F.col("t"), 1).otherwise(0))
            .cast("bigint")
            .alias("nr"),
            F.sum(
                F.when(F.col("x") >= F.col("t"), F.col("y_milli")).otherwise(0)
            )
            .cast("bigint")
            .alias("syr"),
        )
    )
    r1s = r1.crossJoin(F.broadcast(b.select("syy"))).select(
        "*",
        F.expr(
            "syy - syl * syl div greatest(nl, 1)"
            " - syr * syr div greatest(nr, 1)"
        ).alias("sse1"),
    )
    best1 = (
        r1s.orderBy(F.col("sse1").asc(), F.col("t").asc())
        .limit(1)
        .select(
            F.col("t").alias("t1"),
            F.expr("CAST(syl div greatest(nl, 1) AS BIGINT)").alias("pl_milli"),
            F.expr("CAST(syr div greatest(nr, 1) AS BIGINT)").alias("pr_milli"),
            F.col("sse1").cast("bigint").alias("sse_round1_milli2"),
        )
    )
    res = d.crossJoin(F.broadcast(best1)).select(
        "x",
        "y_milli",
        F.expr(
            "y_milli - CASE WHEN x < t1 THEN pl_milli ELSE pr_milli END"
        ).alias("r_milli"),
        "t1",
        "pl_milli",
        "pr_milli",
        "sse_round1_milli2",
    ).localCheckpoint(eager=False)  # residual moments + round-2 + leaves share it
    rb = res.agg(
        F.sum(F.col("r_milli") * F.col("r_milli")).cast("bigint").alias("srr")
    )
    r2 = (
        res.crossJoin(F.broadcast(thr))
        .groupBy("t")
        .agg(
            F.sum(F.when(F.col("x") < F.col("t"), 1).otherwise(0))
            .cast("bigint")
            .alias("nl"),
            F.sum(F.when(F.col("x") < F.col("t"), F.col("r_milli")).otherwise(0))
            .cast("bigint")
            .alias("srl"),
            F.sum(F.when(F.col("x") >= F.col("t"), 1).otherwise(0))
            .cast("bigint")
            .alias("nr"),
            F.sum(
                F.when(F.col("x") >= F.col("t"), F.col("r_milli")).otherwise(0)
            )
            .cast("bigint")
            .alias("srr_side"),
        )
    )
    r2s = r2.crossJoin(F.broadcast(rb)).select(
        "*",
        F.expr(
            "srr - srl * srl div greatest(nl, 1)"
            " - srr_side * srr_side div greatest(nr, 1)"
        ).alias("sse2"),
    )
    best2 = (
        r2s.orderBy(F.col("sse2").asc(), F.col("t").asc())
        .limit(1)
        .select(
            F.col("t").alias("t2"),
            F.expr(
                "(srl + 2000000 * nl) div greatest(2 * nl, 1) - 1000000"
            ).alias("shrunk_l_milli"),
            F.expr(
                "(srr_side + 2000000 * nr) div greatest(2 * nr, 1) - 1000000"
            ).alias("shrunk_r_milli"),
            F.col("sse2").cast("bigint").alias("sse_round2_milli2"),
        )
    )
    return (
        res.crossJoin(F.broadcast(best2))
        .groupBy(
            F.concat(
                F.when(F.col("x") < F.col("t1"), F.lit("L")).otherwise(
                    F.lit("R")
                ),
                F.when(F.col("x") < F.col("t2"), F.lit("l")).otherwise(
                    F.lit("r")
                ),
            ).alias("leaf")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.expr("CAST(SUM(y_milli) div COUNT(1) AS BIGINT)").alias(
                "mean_y_milli"
            ),
            F.expr(
                "CAST(MAX(CASE WHEN x < t1 THEN pl_milli ELSE pr_milli END)"
                " + MAX(CASE WHEN x < t2 THEN shrunk_l_milli"
                " ELSE shrunk_r_milli END) AS BIGINT)"
            ).alias("f2_milli"),
            F.max("t1").cast("bigint").alias("t1"),
            F.max("t2").cast("bigint").alias("t2"),
            F.max("sse_round1_milli2").cast("bigint").alias("sse_round1_milli2"),
            F.max("sse_round2_milli2").cast("bigint").alias("sse_round2_milli2"),
            F.expr(
                "CAST((MAX(sse_round1_milli2) - MAX(sse_round2_milli2)) * 10000"
                " div greatest(MAX(sse_round1_milli2), 1) AS BIGINT)"
            ).alias("sse_reduction_bps"),
        )
        .orderBy("leaf")
    )


@_register(
    "stats_power_mde",
    """
    WITH e AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_obs,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM e
    ),
    v AS (
      SELECT n_obs,
             CAST(sy * 1000000 // n_obs AS BIGINT) AS mean_y_micro,
             (CAST(n_obs AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
               / (CAST(n_obs AS DOUBLE) * n_obs) AS var_y
      FROM s
    ),
    grid AS (
      SELECT CAST(n AS BIGINT) AS n_per_arm
      FROM (VALUES (100), (1000), (10000), (100000)) AS t(n)
    )
    SELECT g.n_per_arm, v.n_obs, v.mean_y_micro,
           CAST(ROUND(v.var_y * 1000000) AS BIGINT) AS var_y_micro,
           CAST(ROUND(2.801585 * sqrt(2.0 * v.var_y / g.n_per_arm)
                      * 1000000) AS BIGINT) AS mde_micro,
           CAST(CAST(ROUND(2.801585 * sqrt(2.0 * v.var_y / g.n_per_arm)
                           * 1000000) AS BIGINT) * 10000
                // greatest(v.mean_y_micro, 1) AS BIGINT) AS mde_rel_bps,
           CAST(ceil(2.0 * v.var_y * 2.801585 * 2.801585
                     / ((0.05 * v.mean_y_micro / 1000000.0)
                        * (0.05 * v.mean_y_micro / 1000000.0)))
                AS BIGINT) AS n_needed_5pct
    FROM grid g CROSS JOIN v
    ORDER BY g.n_per_arm
    """,
)
def stats_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power analysis / minimal-detectable-effect table -- the sizing
    read an experimenter does BEFORE stats_srm guards the assignment
    and stats_cuped tightens the metric: from the per-user metric's
    exact moment sums, the two-sided alpha=0.05 / power=0.80 MDE
    (z_0.975 + z_0.80 = 2.801585, a precomputed constant -- no
    normal-quantile function crosses the engine boundary) is priced
    at candidate per-arm sizes 100..100k, absolute (mde_micro) and
    relative to the metric mean (mde_rel_bps), plus the inverse
    read: users needed per arm to detect a 5 % lift. The only float
    ops are one sqrt and one division on IEEE doubles, ROUNDed to
    integer micros before output (the x86/stats_linreg discipline:
    both engines' sqrt is correctly rounded, so the rounded value is
    bit-identical).

    Scale shape: one map-combined per-user aggregate, one 1-row
    moment reduction, then a 4-row literal grid -- the whole table
    costs one pass over events regardless of corpus size."""
    e = load_table(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("y")
    )
    s = e.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    v = s.select(
        "n_obs",
        F.expr("CAST(sy * 1000000 div n_obs AS BIGINT)").alias("mean_y_micro"),
        F.expr(
            "(CAST(n_obs AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)"
            " / (CAST(n_obs AS DOUBLE) * n_obs)"
        ).alias("var_y"),
    )
    grid = local_frame(
        spark, [(100,), (1000,), (10000,), (100000,)], "n_per_arm: bigint"
    )
    return (
        grid.crossJoin(F.broadcast(v))
        .select(
            "n_per_arm",
            "n_obs",
            "mean_y_micro",
            F.expr("CAST(ROUND(var_y * 1000000) AS BIGINT)").alias(
                "var_y_micro"
            ),
            F.expr(
                "CAST(ROUND(2.801585 * sqrt(2.0 * var_y / n_per_arm)"
                " * 1000000) AS BIGINT)"
            ).alias("mde_micro"),
            F.expr(
                "CAST(CAST(ROUND(2.801585 * sqrt(2.0 * var_y / n_per_arm)"
                " * 1000000) AS BIGINT) * 10000"
                " div greatest(mean_y_micro, 1) AS BIGINT)"
            ).alias("mde_rel_bps"),
            F.expr(
                "CAST(ceil(2.0 * var_y * 2.801585 * 2.801585"
                " / ((0.05 * mean_y_micro / 1000000.0)"
                " * (0.05 * mean_y_micro / 1000000.0))) AS BIGINT)"
            ).alias("n_needed_5pct"),
        )
        .orderBy("n_per_arm")
    )


@_register(
    "ml_pca_power",
    """
    WITH q AS (
      SELECT vec_id, t.i - 1 AS i,
             CAST(ROUND(CAST(embedding[t.i] AS DOUBLE) * 1000) AS BIGINT) AS q
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ),
    nn AS (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n FROM q),
    sq AS (SELECT i, CAST(SUM(q) AS BIGINT) AS sq FROM q GROUP BY 1),
    s AS (
      SELECT a.i AS i, b.i AS j, CAST(SUM(a.q * b.q) AS BIGINT) AS s
      FROM q a JOIN q b ON a.vec_id = b.vec_id
      GROUP BY 1, 2
    ),
    cov AS (
      SELECT s.i, s.j,
             s.s * nn.n - si.sq * sj.sq AS c
      FROM s
      JOIN sq si ON si.i = s.i
      JOIN sq sj ON sj.i = s.j
      CROSS JOIN nn
    ),
    sc AS (
      SELECT CAST(MAX(abs(c)) // 1000000 + 1 AS BIGINT) AS scale FROM cov
    ),
    covs AS (
      SELECT i, j,
             (c + 4000000 * sc.scale) // sc.scale - 4000000 AS cs
      FROM cov CROSS JOIN sc
    ),
    y1 AS (
      SELECT i, CAST(SUM(cs) * 1000000 AS BIGINT) AS y FROM covs GROUP BY 1
    ),
    n1 AS (
      SELECT CAST(greatest(MAX(abs(y)) // 1000000, 1) AS BIGINT) AS nrm
      FROM y1
    ),
    x1 AS (
      SELECT y1.i,
             (y1.y + 4000000 * n1.nrm) // n1.nrm - 4000000 AS x
      FROM y1 CROSS JOIN n1
    ),
    y2 AS (
      SELECT covs.i, CAST(SUM(covs.cs * x1.x) AS BIGINT) AS y
      FROM covs JOIN x1 ON x1.i = covs.j
      GROUP BY 1
    ),
    n2 AS (
      SELECT CAST(greatest(MAX(abs(y)) // 1000000, 1) AS BIGINT) AS nrm
      FROM y2
    )
    SELECT y2.i AS dim,
           sq.sq AS sum_q_milli,
           cd.cs AS cov_diag_scaled,
           CAST((y2.y + 4000000 * n2.nrm) // n2.nrm - 4000000 AS BIGINT)
             AS v_micro
    FROM y2
    CROSS JOIN n2
    JOIN sq ON sq.i = y2.i
    JOIN covs cd ON cd.i = y2.i AND cd.j = y2.i
    ORDER BY dim
    """,
)
def ml_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA top principal component by TWO power-method iterations
    (von Mises iteration) over the embedding covariance, quantized
    EXACT end to end: embeddings quantize to milli ints (float32 ->
    double *1000 -> ROUND is bit-identical cross-engine), the 64x64
    covariance is the integer n*S - sq_i*sq_j (no floor means --
    scaled by n^2, exact), matrix entries rescale through a
    DATA-ADAPTIVE integer scale (max|cov| div 1e6 + 1, so the same
    query is overflow-safe at sf0.001 and sf100), and every signed
    floor division uses the positive-offset form ((a + K*b) div b -
    K, the x87 rule) so both engines floor identically. Output: the
    micro-scaled eigenvector estimate after iteration 2, with the
    per-dim moment columns it derives from.

    Scale shape: the corpus-sized work is ONE posexplode (64n rows,
    each carrying its quantized 64-array) and ONE groupBy(i) whose
    aggregate builds the 64-wide moment row ARRAY-wise (64 sum
    expressions) -- the second moment never self-joins the vector
    table (the oracle's |v|x64^2 join is the naive mirror, fine for
    DuckDB at sf0.01; the Spark plan ships 64 rows per vector, not
    4096). Power iterations then run on the 64x64 grid -- free at
    any corpus size. The k-iteration/k-component extension is k such
    grid passes (deflation), still corpus-free after the one moment
    pass."""
    emb = load_table(spark, sf_dir, "embeddings")
    qarr = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " v -> CAST(ROUND(CAST(v AS DOUBLE) * 1000) AS BIGINT))"
        ).alias("qarr"),
    )
    rows = qarr.select(
        "vec_id", F.posexplode("qarr").alias("i", "q"), "qarr"
    )
    nn = qarr.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    sq = rows.groupBy("i").agg(F.sum("q").cast("bigint").alias("sq"))
    sarr = rows.groupBy("i").agg(
        F.array(
            *[
                F.sum(F.col("q") * F.element_at(F.col("qarr"), j + 1))
                .cast("bigint")
                for j in range(64)
            ]
        ).alias("srow")
    )
    s = sarr.select("i", F.posexplode("srow").alias("j", "s"))
    cov = (
        s.join(F.broadcast(sq.withColumnRenamed("sq", "sqi")), s["i"] == sq["i"])
        .drop(sq["i"])
        .join(
            F.broadcast(
                sq.select(F.col("i").alias("j2"), F.col("sq").alias("sqj"))
            ),
            F.col("j") == F.col("j2"),
        )
        .crossJoin(F.broadcast(nn))
        .select(
            "i", "j", (F.col("s") * F.col("n") - F.col("sqi") * F.col("sqj")).alias("c")
        )
        .localCheckpoint(eager=False)  # scale + both iterations share it
    )
    sc = cov.agg(
        F.expr("CAST(MAX(abs(c)) div 1000000 + 1 AS BIGINT)").alias("scale")
    )
    covs = (
        cov.crossJoin(F.broadcast(sc))
        .select(
            "i",
            "j",
            F.expr("(c + 4000000 * scale) div scale - 4000000").alias("cs"),
        )
        .localCheckpoint(eager=False)  # y1, y2, diag share it
    )
    y1 = covs.groupBy("i").agg(
        (F.sum("cs") * F.lit(1000000)).cast("bigint").alias("y")
    )
    n1 = y1.agg(
        F.expr("CAST(greatest(MAX(abs(y)) div 1000000, 1) AS BIGINT)").alias(
            "nrm"
        )
    )
    x1 = y1.crossJoin(F.broadcast(n1)).select(
        "i", F.expr("(y + 4000000 * nrm) div nrm - 4000000").alias("x")
    )
    y2 = (
        covs.join(
            F.broadcast(x1.select(F.col("i").alias("j"), "x")), "j"
        )
        .groupBy("i")
        .agg(F.sum(F.col("cs") * F.col("x")).cast("bigint").alias("y"))
    )
    n2 = y2.agg(
        F.expr("CAST(greatest(MAX(abs(y)) div 1000000, 1) AS BIGINT)").alias(
            "nrm"
        )
    )
    diag = covs.where(F.col("i") == F.col("j")).select(
        "i", F.col("cs").alias("cov_diag_scaled")
    )
    return (
        y2.crossJoin(F.broadcast(n2))
        .join(F.broadcast(sq), "i")
        .join(F.broadcast(diag), "i")
        .select(
            F.col("i").alias("dim"),
            F.col("sq").alias("sum_q_milli"),
            "cov_diag_scaled",
            F.expr(
                "CAST((y + 4000000 * nrm) div nrm - 4000000 AS BIGINT)"
            ).alias("v_micro"),
        )
        .orderBy("dim")
    )


@_register(
    "ml_bandit_replay",
    """
    WITH e AS (
      SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             event_type AS arm,
             CASE WHEN value >= 50.0 THEN 1 ELSE 0 END AS reward
      FROM events
    ),
    da AS (
      SELECT day, arm, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(reward) AS BIGINT) AS r
      FROM e GROUP BY 1, 2
    ),
    cum AS (
      SELECT day, arm,
             SUM(n) OVER (PARTITION BY arm ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS cn,
             SUM(r) OVER (PARTITION BY arm ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS cr
      FROM da
    ),
    rate AS (
      SELECT day, arm,
             CAST(COALESCE(cr, 0) * 1000000
                  // greatest(COALESCE(cn, 0), 1) AS BIGINT) AS rate_micro
      FROM cum
    ),
    pol AS (
      SELECT day, arm AS policy_arm FROM (
        SELECT day, arm,
               ROW_NUMBER() OVER (PARTITION BY day
                                  ORDER BY rate_micro DESC, arm ASC) AS rn
        FROM rate) t WHERE rn = 1
    ),
    matched AS (
      SELECT d.day, p.policy_arm, d.n, d.r
      FROM da d JOIN pol p ON p.day = d.day AND d.arm = p.policy_arm
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(r) AS BIGINT) AS tr
      FROM da
    )
    SELECT m.day, m.policy_arm,
           CAST(m.n AS BIGINT) AS n_matched,
           CAST(m.r AS BIGINT) AS matched_reward,
           CAST(m.r * 1000000 // greatest(m.n, 1) AS BIGINT)
             AS replay_ctr_micro,
           CAST(t.tr * 1000000 // t.tn AS BIGINT) AS logged_ctr_micro
    FROM matched m CROSS JOIN tot t
    ORDER BY m.day
    """,
)
def ml_bandit_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline bandit policy evaluation by REPLAY (Li et al., WSDM
    2011 -- the unbiased counterfactual estimator behind every
    recommender A/B that never ran): the logged arm is the event
    type, reward is a fixed outcome rule (value >= 50), and a greedy
    policy picks each day's arm from STRICTLY-PRIOR cumulative
    reward rates (the 1-PRECEDING window frame is the leakage guard
    -- same-day rewards never inform the same day's choice; day 1
    falls back to the lexicographic arm at rate 0). Replay keeps
    exactly the logged events whose arm matches the policy's choice;
    their reward rate IS the policy's estimated online CTR, read
    beside the logged-policy CTR. On this uniform fixture the two
    agree (the honest-null again); the machinery -- leakage-guarded
    state, deterministic tie-breaks, matched-subset estimation -- is
    what the oracle certifies.

    Scale shape: one (day, arm) map-combined aggregate (5x|days|
    rows), cumulative windows PARTITIONED BY ARM over the bounded
    day dimension, a per-day argmax over 5 rows, and a broadcast
    1-row total. The event log is read once."""
    e = load_table(spark, sf_dir, "events").select(
        F.expr("CAST(ts_ns div 1000 div 86400000000 AS BIGINT)").alias("day"),
        F.col("event_type").alias("arm"),
        F.when(F.col("value") >= 50.0, 1).otherwise(0).alias("reward"),
    )
    da = e.groupBy("day", "arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("reward").cast("bigint").alias("r"),
    ).localCheckpoint(eager=False)  # rates, matching, totals share it
    warm = (
        Window.partitionBy("arm")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rate = (
        da.withColumn("cn", F.sum("n").over(warm))
        .withColumn("cr", F.sum("r").over(warm))
        .select(
            "day",
            "arm",
            F.expr(
                "CAST(COALESCE(cr, 0) * 1000000"
                " div greatest(COALESCE(cn, 0), 1) AS BIGINT)"
            ).alias("rate_micro"),
        )
    )
    wd = Window.partitionBy("day").orderBy(
        F.col("rate_micro").desc(), F.col("arm").asc()
    )
    pol = (
        rate.withColumn("rn", F.row_number().over(wd))
        .where(F.col("rn") == 1)
        .select("day", F.col("arm").alias("policy_arm"))
    )
    matched = (
        da.alias("d")
        .join(
            F.broadcast(pol.select(F.col("day").alias("pday"), "policy_arm")),
            (F.col("d.day") == F.col("pday"))
            & (F.col("d.arm") == F.col("policy_arm")),
        )
        .select(F.col("d.day").alias("day"), "policy_arm", "n", "r")
    )
    tot = da.agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("r").cast("bigint").alias("tr"),
    )
    return (
        matched.crossJoin(F.broadcast(tot))
        .select(
            "day",
            "policy_arm",
            F.col("n").cast("bigint").alias("n_matched"),
            F.col("r").cast("bigint").alias("matched_reward"),
            F.expr("CAST(r * 1000000 div greatest(n, 1) AS BIGINT)").alias(
                "replay_ctr_micro"
            ),
            F.expr("CAST(tr * 1000000 div tn AS BIGINT)").alias(
                "logged_ctr_micro"
            ),
        )
        .orderBy("day")
    )


@_register(
    "ml_permutation_importance",
    f"""
    WITH d AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS x,
             CASE WHEN list_contains(string_split(text, ' '), 'spark')
                  THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    ra AS (
      SELECT doc_id, y, ROW_NUMBER() OVER (ORDER BY doc_id ASC) AS rnk
      FROM d
    ),
    rb AS (
      SELECT x, ROW_NUMBER() OVER (
               ORDER BY ({KNUTH_HASH32_SQL.format(key='doc_id')}) ASC,
                        doc_id ASC) AS rnk
      FROM d
    ),
    perm AS (
      SELECT ra.y, rb.x FROM ra JOIN rb ON ra.rnk = rb.rnk
    ),
    b AS (SELECT MIN(x) AS xmin, MAX(x) AS xmax FROM d),
    thr AS (
      SELECT CAST(b.xmin + (b.xmax - b.xmin + 1) * g.i // 16 AS BIGINT) AS t
      FROM b CROSS JOIN (
        SELECT UNNEST([1,2,3,4,5,6,7,8,9,10,11,12,13,14,15]) AS i) g
    ),
    acc_i AS (
      SELECT t.t,
             (SUM(CASE WHEN d.x < t.t THEN d.y ELSE 0 END)
              + SUM(CASE WHEN d.x >= t.t THEN 1 - d.y ELSE 0 END)) AS c1,
             (SUM(CASE WHEN d.x < t.t THEN 1 - d.y ELSE 0 END)
              + SUM(CASE WHEN d.x >= t.t THEN d.y ELSE 0 END)) AS c2,
             COUNT(*) AS n
      FROM d CROSS JOIN thr t GROUP BY 1
    ),
    best_i AS (
      SELECT t AS best_thr,
             CAST(greatest(c1, c2) * 10000 // n AS BIGINT) AS acc_bps
      FROM acc_i ORDER BY greatest(c1, c2) DESC, t ASC LIMIT 1
    ),
    acc_p AS (
      SELECT t.t,
             (SUM(CASE WHEN p.x < t.t THEN p.y ELSE 0 END)
              + SUM(CASE WHEN p.x >= t.t THEN 1 - p.y ELSE 0 END)) AS c1,
             (SUM(CASE WHEN p.x < t.t THEN 1 - p.y ELSE 0 END)
              + SUM(CASE WHEN p.x >= t.t THEN p.y ELSE 0 END)) AS c2,
             COUNT(*) AS n
      FROM perm p CROSS JOIN thr t GROUP BY 1
    ),
    best_p AS (
      SELECT t AS best_thr,
             CAST(greatest(c1, c2) * 10000 // n AS BIGINT) AS acc_bps
      FROM acc_p ORDER BY greatest(c1, c2) DESC, t ASC LIMIT 1
    )
    SELECT v.variant, v.best_thr, v.acc_bps,
           CAST(i.acc_bps - p.acc_bps AS BIGINT) AS importance_bps
    FROM (
      SELECT 'a_intact' AS variant, best_thr, acc_bps FROM best_i
      UNION ALL
      SELECT 'b_permuted', best_thr, acc_bps FROM best_p
    ) v
    CROSS JOIN best_i i CROSS JOIN best_p p
    ORDER BY v.variant
    """,
)
def ml_permutation_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation feature importance (Breiman 2001) with a
    DETERMINISTIC permutation: the feature column is re-paired with
    labels by matching rank-by-doc_id against rank-by-portable-hash
    -- a fixed, engine-reproducible shuffle (no RNG crosses the
    boundary), built on ordered.global_row_numbers so BOTH rankings
    run range-partitioned (never a single-partition sort; the oracle
    mirrors with plain windows). The stump search (best
    majority-vote accuracy over the 15-threshold grid, either
    polarity) runs on the intact and permuted pairings;
    importance_bps = the accuracy the feature's PAIRING carries.
    Here n_chars drops to the majority baseline when permuted --
    real importance -- while a useless feature would drop ~0: the
    model-agnostic audit between x20's trained classifier and
    x25's AUC.

    Scale shape: two global_row_numbers passes (range partition +
    local window + broadcast offsets), one rank equi-join, and two
    conditional-agg grid passes -- every stage parallel, the
    permutation never materializes driver-side."""
    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.col("n_chars").cast("bigint").alias("x"),
            F.when(
                F.array_contains(F.split(F.col("text"), " "), "spark"), 1
            )
            .otherwise(0)
            .alias("y"),
        )
        .localCheckpoint(eager=False)  # ranks, bounds, intact pass share it
    )
    ra = ordered.global_row_numbers(
        d.select("doc_id", "y"), key_col="doc_id"
    ).select("y", F.col("rank").alias("rnk"))
    hkey = F.concat(
        F.lpad(knuth_hash32(F.col("doc_id")).cast("string"), 10, "0"),
        F.lpad(F.col("doc_id").cast("string"), 12, "0"),
    )
    rb = ordered.global_row_numbers(
        d.select(hkey.alias("hk"), "x"), key_col="hk"
    ).select("x", F.col("rank").alias("rnk"))
    perm = ra.join(rb, "rnk").select("x", "y")
    b = d.agg(F.min("x").alias("xmin"), F.max("x").alias("xmax"))
    grid = local_frame(spark, [(i,) for i in range(1, 16)], "i: bigint")
    thr = grid.crossJoin(F.broadcast(b)).select(
        F.expr("CAST(xmin + (xmax - xmin + 1) * i div 16 AS BIGINT)").alias("t")
    ).localCheckpoint(eager=False)  # both grid passes share it

    def _best(df: DataFrame) -> DataFrame:
        acc = (
            df.crossJoin(F.broadcast(thr))
            .groupBy("t")
            .agg(
                (
                    F.sum(F.when(F.col("x") < F.col("t"), F.col("y")).otherwise(0))
                    + F.sum(
                        F.when(F.col("x") >= F.col("t"), 1 - F.col("y")).otherwise(0)
                    )
                ).alias("c1"),
                (
                    F.sum(
                        F.when(F.col("x") < F.col("t"), 1 - F.col("y")).otherwise(0)
                    )
                    + F.sum(F.when(F.col("x") >= F.col("t"), F.col("y")).otherwise(0))
                ).alias("c2"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        return (
            acc.orderBy(
                F.greatest(F.col("c1"), F.col("c2")).desc(), F.col("t").asc()
            )
            .limit(1)
            .select(
                F.col("t").alias("best_thr"),
                F.expr(
                    "CAST(greatest(c1, c2) * 10000 div n AS BIGINT)"
                ).alias("acc_bps"),
            )
        )

    best_i = _best(d.select("x", "y")).localCheckpoint(eager=False)
    best_p = _best(perm).localCheckpoint(eager=False)
    v = best_i.select(
        F.lit("a_intact").alias("variant"), "best_thr", "acc_bps"
    ).unionByName(
        best_p.select(F.lit("b_permuted").alias("variant"), "best_thr", "acc_bps")
    )
    return (
        v.crossJoin(F.broadcast(best_i.select(F.col("acc_bps").alias("ai"))))
        .crossJoin(F.broadcast(best_p.select(F.col("acc_bps").alias("ap"))))
        .select(
            "variant",
            "best_thr",
            "acc_bps",
            F.expr("CAST(ai - ap AS BIGINT)").alias("importance_bps"),
        )
        .orderBy("variant")
    )


@_register(
    "stats_diff_in_diff",
    f"""
    WITH e AS (
      SELECT user_id,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             CASE WHEN value >= 50.0 THEN 1 ELSE 0 END AS conv
      FROM events
    ),
    b AS (SELECT MAX(day) - 7 AS cutover FROM e),
    panel AS (
      SELECT e.user_id,
             CAST(({KNUTH_HASH32_SQL.format(key='e.user_id')}) % 2 AS BIGINT)
               AS treated,
             CASE WHEN e.day > b.cutover THEN 1 ELSE 0 END AS post,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(e.conv) AS BIGINT) AS conv
      FROM e CROSS JOIN b
      GROUP BY e.user_id, treated, post
    ),
    cells AS (
      SELECT treated, post,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
             CAST(SUM(n) AS BIGINT) AS n_events,
             CAST(SUM(conv) * 1000000 // SUM(n) AS BIGINT) AS rate_micro
      FROM panel GROUP BY 1, 2
    ),
    wide AS (
      SELECT
        MAX(CASE WHEN treated = 1 AND post = 1 THEN rate_micro END) AS t1,
        MAX(CASE WHEN treated = 1 AND post = 0 THEN rate_micro END) AS t0,
        MAX(CASE WHEN treated = 0 AND post = 1 THEN rate_micro END) AS c1,
        MAX(CASE WHEN treated = 0 AND post = 0 THEN rate_micro END) AS c0
      FROM cells
    )
    SELECT c.treated, c.post, c.n_users, c.n_events, c.rate_micro,
           CAST((w.t1 - w.t0) - (w.c1 - w.c0) AS BIGINT) AS did_micro,
           CAST(w.t0 - w.c0 AS BIGINT) AS pre_gap_micro
    FROM cells c CROSS JOIN wide w
    ORDER BY c.treated, c.post
    """,
)
def stats_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences -- the causal estimator for when
    randomization is NOT available (Card & Krueger 1994), closing
    the experimentation tier (stats_srm guards assignment,
    stats_power_mde sizes, stats_cuped tightens, ml_bandit_replay
    evaluates policies; this estimates effects from observational
    pre/post x treated/control structure): the 2x2 cell table of
    conversion rates in exact integer micros, the DiD estimate
    (t1-t0)-(c1-c0) on every row, and the PARALLEL-TRENDS diagnostic
    the method stands or falls on (pre_gap_micro: the pre-period
    treated-control gap a reader must judge before believing
    did_micro). Hash-assigned 'treatment' on this uniform fixture
    reads did ~ 0 with pre_gap ~ 0 -- the honest-null posture, and
    exactly what a correctly-implemented DiD must say when nothing
    happened at the cutover.

    Scale shape: one (user, treated, post) map-combined aggregate,
    a 4-row cell table, and 1-row wide/estimate broadcasts -- the
    event log is read once."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("CAST(ts_ns div 1000 div 86400000000 AS BIGINT)").alias("day"),
        F.when(F.col("value") >= 50.0, 1).otherwise(0).alias("conv"),
    )
    b = e.agg(F.expr("CAST(MAX(day) - 7 AS BIGINT)").alias("cutover"))
    panel = (
        e.crossJoin(F.broadcast(b))
        .groupBy(
            "user_id",
            (knuth_hash32(F.col("user_id")) % 2).cast("bigint").alias("treated"),
            F.expr("CASE WHEN day > cutover THEN 1 ELSE 0 END").alias("post"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("conv").cast("bigint").alias("conv"),
        )
    )
    cells = panel.groupBy("treated", "post").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.sum("n").cast("bigint").alias("n_events"),
        F.expr("CAST(SUM(conv) * 1000000 div SUM(n) AS BIGINT)").alias(
            "rate_micro"
        ),
    ).localCheckpoint(eager=False)  # wide pivot + output share it
    wide = cells.agg(
        F.max(F.when((F.col("treated") == 1) & (F.col("post") == 1), F.col("rate_micro"))).alias("t1"),
        F.max(F.when((F.col("treated") == 1) & (F.col("post") == 0), F.col("rate_micro"))).alias("t0"),
        F.max(F.when((F.col("treated") == 0) & (F.col("post") == 1), F.col("rate_micro"))).alias("c1"),
        F.max(F.when((F.col("treated") == 0) & (F.col("post") == 0), F.col("rate_micro"))).alias("c0"),
    )
    return (
        cells.crossJoin(F.broadcast(wide))
        .select(
            "treated",
            "post",
            "n_users",
            "n_events",
            "rate_micro",
            F.expr("CAST((t1 - t0) - (c1 - c0) AS BIGINT)").alias("did_micro"),
            F.expr("CAST(t0 - c0 AS BIGINT)").alias("pre_gap_micro"),
        )
        .orderBy("treated", "post")
    )
