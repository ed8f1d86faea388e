"""Scalar/function-suite queries: string/array/map/date/bitwise suites, sketches, as-of and range joins, ordered-slice ops.

Importing this module registers its queries in the package registry
(``hi_csa_db_spark.queries``) in source order."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hi_csa_db_spark.catalog import load_table, local_frame
from hi_csa_db_spark.functions.hashing import row_checksum
from hi_csa_db_spark.functions.text import (
    absolutize_url,
    slugify,
    word_tokens,
)
from hi_csa_db_spark.operators import ordered

from hi_csa_db_spark.queries import _register


@_register(
    "p6_ordered_slice",
    """
    SELECT o_orderkey FROM orders
    WHERE o_orderkey >= (SELECT MIN(o_orderkey) FROM orders WHERE o_totalprice > 450000)
    """,
)
def p6_ordered_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: ordered row-range slice from the first marker row to the end
    (hi-csa-db.Rmd:444-446), keyed on an explicit order column."""
    orders = load_table(spark, sf_dir, "orders")
    return ordered.ordered_slice_from_marker(
        orders, F.col("o_totalprice") > 450000, order_by=["o_orderkey"]
    ).select("o_orderkey")


@_register(
    "p7_conditional_update",
    """
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'DELINQUENT' ELSE c_mktsegment END AS segment
    FROM customer
    """,
)
def p7_conditional_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: conditional overwrite (the reference's stop-gap UPDATEs,
    hi-csa-db.Rmd:575-585) as when/otherwise — pure projection."""
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, F.lit("DELINQUENT"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
    )


# ---------------------------------------------------------------------------
# Scalar-function family (SURVEY.md section 2.7) + nested data (2.8)
# ---------------------------------------------------------------------------


@_register(
    "f1_regex_tokenize",
    """
    WITH t AS (
      SELECT doc_id, list_filter(
        string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '') AS toks
      FROM documents
    )
    SELECT doc_id, len(toks) AS n_tokens, toks[1] AS first_token,
           replace(array_to_string(toks[1:5], ' '), ' ', '-') AS slug5
    FROM t
    """,
)
def f1_regex_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2/F8: punctuation strip, whitespace tokenize, slugify."""
    docs = load_table(spark, sf_dir, "documents")
    toks = word_tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.element_at(toks, 1).alias("first_token"),
        slugify(F.concat_ws(" ", F.slice(toks, 1, 5))).alias("slug5"),
    )


@_register(
    "f5_url_absolutize",
    """
    WITH u AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'https://cdn.example.org/' || source
                  ELSE '/assets/' || source END AS raw_url
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN regexp_matches(raw_url, '^https?://') THEN raw_url
                ELSE 'https://www.example.org' || raw_url END AS resource
    FROM u
    """,
)
def f5_url_absolutize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: relative->absolute URL rewrite (hi-csa-db.Rmd:275-279)."""
    docs = load_table(spark, sf_dir, "documents")
    raw = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.lit("https://cdn.example.org/"), F.col("source")),
    ).otherwise(F.concat(F.lit("/assets/"), F.col("source")))
    return docs.select(
        "doc_id", absolutize_url(raw, "https://www.example.org").alias("resource")
    )


@_register(
    "f7_json_extract",
    """
    SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS k FROM events
    """,
)
def f7_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured scalar access: JSON property extraction (the
    engine's schema-on-read path for the reference's dynamic-schema
    sheet ingestion, SURVEY.md section 1.5)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.get_json_object("props", "$.k").cast("int").alias("k")
    )


@_register(
    "f_date_suite",
    """
    SELECT o_orderkey,
           EXTRACT(year FROM o_orderdate) AS yr,
           EXTRACT(month FROM o_orderdate) AS mo,
           EXTRACT(day FROM o_orderdate) AS dy,
           strftime(o_orderdate, '%a') AS dow_name,
           DATEDIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since
    FROM orders
    """,
)
def f_date_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar functions (absent from the reference — its
    dates live inside strings — but part of the engine surface)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dy"),
        F.date_format("o_orderdate", "E").alias("dow_name"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since"
        ),
    )


@_register(
    "f_math_suite",
    """
    SELECT c_custkey,
           ROUND(ABS(c_acctbal), 2) AS abs_bal,
           CAST(CEIL(c_acctbal) AS BIGINT) AS ceil_bal,
           CAST(FLOOR(c_acctbal) AS BIGINT) AS floor_bal,
           ROUND(SQRT(ABS(c_acctbal)), 6) AS sqrt_bal,
           ROUND(LN(ABS(c_acctbal) + 1.0), 6) AS ln_bal,
           c_custkey % 7 AS mod7
    FROM customer
    """,
)
def f_math_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar functions. Every float output is rounded and
    ceil/floor cast to BIGINT on both engines (Spark's ceil(double)
    is LONG, DuckDB's is DOUBLE) — raw doubles diverge under the
    driver's canonicalizer even when numerically equal (round-1
    hash_match failure; NOTES.md rule)."""
    cust = load_table(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    return cust.select(
        "c_custkey",
        F.round(F.abs(bal), 2).alias("abs_bal"),
        F.ceil(bal).cast("long").alias("ceil_bal"),
        F.floor(bal).cast("long").alias("floor_bal"),
        F.round(F.sqrt(F.abs(bal)), 6).alias("sqrt_bal"),
        F.round(F.log(F.abs(bal) + 1.0), 6).alias("ln_bal"),
        (F.col("c_custkey") % 7).alias("mod7"),
    )


@_register(
    "f_string_suite",
    """
    SELECT p_partkey,
           UPPER(p_name) AS uname,
           LOWER(p_brand) AS lbrand,
           LENGTH(p_name) AS name_len,
           SUBSTRING(p_name, 1, 5) AS name5,
           LPAD(p_brand, 12, '*') AS padded,
           REVERSE(p_type) AS rtype,
           REPLACE(p_name, ' ', '_') AS snake
    FROM part
    """,
)
def f_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar functions (F4/F8 family breadth)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("uname"),
        F.lower("p_brand").alias("lbrand"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name5"),
        F.lpad("p_brand", 12, "*").alias("padded"),
        F.reverse("p_type").alias("rtype"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("snake"),
    )


@_register(
    "f6f7_brackets_and_codes",
    """
    WITH noisy AS (
      SELECT doc_id,
             text || ' [' || source || '] ref E' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || 'X' AS raw
      FROM documents
    )
    SELECT doc_id,
           replace(regexp_replace(raw, '\\[.*?\\]', '', 'g'), '  ', ' ') AS cleaned,
           regexp_extract(raw, '(E[0-9][0-9][0-9][A-Za-z])', 1) AS code
    FROM noisy
    """,
)
def f6f7_brackets_and_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 bracket-stripping + F7 practice-code extraction
    (hi-csa-db.Rmd:437-441, 449-457) over a synthesized noisy column."""
    from hi_csa_db_spark.functions.text import extract_code, strip_brackets

    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" ["),
        F.col("source"),
        F.lit("] ref E"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("X"),
    )
    noisy = docs.select("doc_id", raw.alias("raw"))
    return noisy.select(
        "doc_id",
        strip_brackets(F.col("raw")).alias("cleaned"),
        extract_code(F.col("raw"), r"(E[0-9][0-9][0-9][A-Za-z])").alias("code"),
    )


@_register(
    "f9f10_path_segments",
    """
    WITH u AS (
      SELECT doc_id,
             'https://x.org/cat/' || source || '/' || lang || '/' || CAST(doc_id % 5 AS VARCHAR) AS url
      FROM documents
    ),
    s AS (SELECT doc_id, string_split(string_split(url, 'https://x.org/')[2], '/') AS segs FROM u)
    SELECT doc_id,
           segs[1] AS level1, segs[2] AS level2, segs[3] AS level3,
           COALESCE(segs[4], '') AS level4,
           len(segs) AS n_segs
    FROM s
    """,
)
def f9f10_path_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 path-segment split + F10 ragged padding
    (hi-csa-db.Rmd:404-415): URL -> fixed-width category levels."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://x.org/cat/"),
        F.col("source"),
        F.lit("/"),
        F.col("lang"),
        F.lit("/"),
        (F.col("doc_id") % 5).cast("string"),
    )
    segs = F.split(F.split(url, "https://x\\.org/").getItem(1), "/")
    return docs.select(
        "doc_id",
        segs.getItem(0).alias("level1"),
        segs.getItem(1).alias("level2"),
        segs.getItem(2).alias("level3"),
        F.coalesce(F.element_at(segs, 4), F.lit("")).alias("level4"),
        F.size(segs).alias("n_segs"),
    )


@_register(
    "f_array_suite",
    """
    WITH t AS (SELECT p_partkey, string_split(p_name, ' ') AS words FROM part)
    SELECT p_partkey,
           len(words) AS n_words,
           list_contains(words, 'green') AS has_green,
           list_aggregate(words, 'min') AS first_alpha,
           list_aggregate(words, 'max') AS last_alpha,
           array_to_string(list_sort(list_distinct(words)), ',') AS sorted_distinct
    FROM t
    """,
)
def f_array_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order function family over tokenized part names."""
    part = load_table(spark, sf_dir, "part")
    words = F.split(F.col("p_name"), " ")
    return part.select(
        "p_partkey",
        F.size(words).alias("n_words"),
        F.array_contains(words, "green").alias("has_green"),
        F.array_min(words).alias("first_alpha"),
        F.array_max(words).alias("last_alpha"),
        F.concat_ws(",", F.array_sort(F.array_distinct(words))).alias(
            "sorted_distinct"
        ),
    )


@_register(
    "f15_table_checksum",
    """
    SELECT
      (SELECT CAST(SUM(CAST('0x' || substring(md5(
                 CAST(c_custkey AS VARCHAR) || '|' || c_name || '|' || c_mktsegment
               ), 1, 15) AS BIGINT) % 2147483647) AS BIGINT)
       FROM customer) AS customer_checksum,
      (SELECT CAST(SUM(CAST('0x' || substring(md5(
                 CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)
                 || '|' || o_orderstatus
               ), 1, 15) AS BIGINT) % 2147483647) AS BIGINT)
       FROM orders) AS orders_checksum
    """,
)
def f15_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table content checksum: per row, a 60-bit
    md5-derived integer over the key columns; SUM is commutative, so
    two replicas agree iff the fingerprints agree regardless of row
    order or partitioning — the anti-entropy check replicated stores
    run (and the same integer-sum trick the engine's partition-
    invariance suite relies on). Pure map + one aggregate per table."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    ccol = row_checksum(
        F.concat_ws("|", F.col("c_custkey").cast("string"), "c_name", "c_mktsegment")
    )
    ocol = row_checksum(
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            "o_orderstatus",
        )
    )
    cc = c.agg(F.sum(ccol).alias("customer_checksum"))
    oc = o.agg(F.sum(ocol).alias("orders_checksum"))
    return cc.crossJoin(oc)


@_register(
    "f_conditional_suite",
    """
    SELECT c_custkey,
           GREATEST(c_acctbal, 0.0) AS bal_floor0,
           LEAST(c_acctbal, 5000.0) AS bal_cap5k,
           IF(c_acctbal >= 0, 'ok', 'neg') AS flag,
           CASE c_mktsegment WHEN 'BUILDING' THEN 1 WHEN 'MACHINERY' THEN 2 ELSE 0 END AS seg_code
    FROM customer
    """,
)
def f_conditional_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional expression family: greatest/least clamps, IF, simple
    CASE dispatch."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("bal_floor0"),
        F.least(F.col("c_acctbal"), F.lit(5000.0)).alias("bal_cap5k"),
        F.when(F.col("c_acctbal") >= 0, F.lit("ok"))
        .otherwise(F.lit("neg"))
        .alias("flag"),
        F.when(F.col("c_mktsegment") == "BUILDING", F.lit(1))
        .when(F.col("c_mktsegment") == "MACHINERY", F.lit(2))
        .otherwise(F.lit(0))
        .alias("seg_code"),
    )


@_register(
    "f_null_suite",
    """
    SELECT c_custkey,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_masked,
           CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal_or_null,
           COALESCE(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END, 0.0) AS bal_filled,
           (c_acctbal IS NULL) AS is_null_bal,
           IFNULL(NULL, c_custkey) AS ifnull_demo
    FROM customer
    """,
)
def f_null_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling family: nullif/coalesce/ifnull/IS NULL — the F13
    surface (hi-csa-db.Rmd:62,67,458...) as one projection."""
    cust = load_table(spark, sf_dir, "customer")
    bal_or_null = F.when(F.col("c_acctbal") < 0, F.lit(None)).otherwise(
        F.col("c_acctbal")
    )
    return cust.select(
        "c_custkey",
        F.coalesce(
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")
        ).alias("seg_masked"),
        bal_or_null.alias("bal_or_null"),
        F.coalesce(bal_or_null, F.lit(0.0)).alias("bal_filled"),
        F.col("c_acctbal").isNull().alias("is_null_bal"),
        F.ifnull(F.lit(None), F.col("c_custkey")).alias("ifnull_demo"),
    )


@_register(
    "f7b_extract_all",
    """
    WITH noisy AS (
      SELECT doc_id,
             'ref E' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || 'X and E' ||
             lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0') || 'B done' AS raw
      FROM documents
    )
    SELECT doc_id,
           array_to_string(regexp_extract_all(raw, '(E[0-9][0-9][0-9][A-Za-z])', 1), ',') AS codes,
           len(regexp_extract_all(raw, '(E[0-9][0-9][0-9][A-Za-z])', 1)) AS n_codes
    FROM noisy
    """,
)
def f7b_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 generalized: ALL practice-code matches per row (the
    reference keeps only the first, hi-csa-db.Rmd:453-457)."""
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("ref E"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("X and E"),
        F.lpad(((F.col("doc_id") * 7) % 1000).cast("string"), 3, "0"),
        F.lit("B done"),
    )
    codes = F.regexp_extract_all(raw, F.lit(r"(E[0-9][0-9][0-9][A-Za-z])"), 1)
    return docs.select(
        "doc_id",
        F.concat_ws(",", codes).alias("codes"),
        F.size(codes).alias("n_codes"),
    )


@_register(
    "agg_pandas_median",
    """
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.5), 6) AS med_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_pandas_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized pandas UDAF (grouped-agg pandas_udf): per-group
    median, Arrow batch per group — the UDAF third of the surface;
    matches SQL quantile_cont(0.5) exactly (same interpolation)."""
    from hi_csa_db_spark.functions.udxf import pandas_median

    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(pandas_median("o_totalprice"), 6).alias("med_price")
    )


@_register(
    "sketch_hll_merge",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           COUNT(DISTINCT l_orderkey % 4) AS n_shards,
           CAST(1 AS INT) AS ok_merge
    FROM lineitem GROUP BY l_returnflag
    """,
)
def sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (hll_sketch_agg/hll_union_agg): distinct
    orders estimated from PER-SHARD sketches merged at read time — the
    incremental-aggregation pattern for approximate distinct counts.

    BOUNDS-CHECKED oracle (r12, VERDICT r11 item 5): the raw estimate
    is engine-specific, so the hashed output carries the exact twin
    plus ``ok_merge`` = [merged-sketch estimate within 5 % relative
    error of the exact distinct count]. Datasketches HLL at the
    default lgK=12 has sigma ~ 1.04/sqrt(4096) ~ 1.6 %; 5 % is ~3
    sigma, and union-mode promotions only tighten per-register error.
    The oracle asserts the flag as the constant 1, so a drifting
    estimate flips the flag and FAILS the driver's value hash —
    rows-only no longer."""
    li = load_table(spark, sf_dir, "lineitem")
    shards = li.select(
        "l_returnflag", "l_orderkey", (F.col("l_orderkey") % 4).alias("shard")
    )
    per_shard = shards.groupBy("l_returnflag", "shard").agg(
        F.hll_sketch_agg("l_orderkey").alias("sk")
    )
    merged = per_shard.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_orders"),
        F.count_distinct("shard").alias("n_shards"),
    )
    exact = shards.groupBy("l_returnflag").agg(
        F.count_distinct("l_orderkey").alias("exact_orders")
    )
    joined = exact.join(F.broadcast(merged), "l_returnflag")
    return joined.select(
        "l_returnflag",
        "exact_orders",
        "n_shards",
        (
            F.abs(F.col("est_orders") - F.col("exact_orders"))
            <= 0.05 * F.col("exact_orders")
        )
        .cast("int")
        .alias("ok_merge"),
    )


@_register(
    "f_bitwise",
    """
    SELECT l_returnflag,
           BIT_AND(CAST(l_orderkey % 256 AS BIGINT)) AS band,
           BIT_OR(CAST(l_orderkey % 256 AS BIGINT)) AS bor,
           BIT_XOR(CAST(l_orderkey % 256 AS BIGINT)) AS bxor
    FROM lineitem GROUP BY l_returnflag
    """,
)
def f_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate family (and/or/xor) — order-independent by
    algebra, so exactly portable."""
    li = load_table(spark, sf_dir, "lineitem")
    b = (F.col("l_orderkey") % 256).cast("bigint")
    return li.groupBy("l_returnflag").agg(
        F.bit_and(b).alias("band"),
        F.bit_or(b).alias("bor"),
        F.bit_xor(b).alias("bxor"),
    )


@_register(
    "f_trycast",
    """
    WITH raw AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id AS VARCHAR)
                  WHEN doc_id % 3 = 1 THEN CAST(doc_id AS VARCHAR) || 'x'
                  ELSE '' END AS numish
      FROM documents
    )
    SELECT doc_id, numish,
           TRY_CAST(numish AS BIGINT) AS parsed,
           COALESCE(TRY_CAST(numish AS BIGINT), -1) AS parsed_or_default
    FROM raw
    """,
)
def f_trycast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Safe parsing (try_cast): malformed numerics become NULL, never a
    job failure — the error-tolerant ingest primitive (ANSI mode stays
    on for everything else)."""
    docs = load_table(spark, sf_dir, "documents")
    numish = (
        F.when(F.col("doc_id") % 3 == 0, F.col("doc_id").cast("string"))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.col("doc_id").cast("string"), F.lit("x")))
        .otherwise(F.lit(""))
    )
    raw = docs.select("doc_id", numish.alias("numish"))
    return raw.select(
        "doc_id",
        "numish",
        F.col("numish").try_cast("bigint").alias("parsed"),
        F.coalesce(F.col("numish").try_cast("bigint"), F.lit(-1)).alias(
            "parsed_or_default"
        ),
    )


@_register(
    "f_date_suite2",
    """
    SELECT o_orderkey,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE) AS plus_month,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(date_trunc('quarter', CAST(o_orderdate AS DATE)) AS DATE) AS quarter_start,
           dayofweek(CAST(o_orderdate AS DATE)) + 1 AS dow,
           CAST(strftime(o_orderdate, '%j') AS BIGINT) AS day_of_year
    FROM orders
    """,
)
def f_date_suite2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic family 2: month addition (end-of-month clamped
    identically on both engines), last_day, quarter truncation,
    day-of-week (Spark 1=Sunday convention), day-of-year."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.add_months(d, 1).alias("plus_month"),
        F.last_day(d).alias("month_end"),
        F.date_trunc("quarter", d).cast("date").alias("quarter_start"),
        F.dayofweek(d).cast("bigint").alias("dow"),
        F.dayofyear(d).cast("bigint").alias("day_of_year"),
    )


@_register(
    "f_array_suite2",
    """
    WITH t AS (
      SELECT p_partkey,
             string_split(p_name, ' ') AS w1,
             string_split(p_type, ' ') AS w2
      FROM part
    )
    SELECT p_partkey,
           COALESCE(array_to_string(list_sort(list_distinct(w1 || w2)), ','), '') AS union_csv,
           COALESCE(array_to_string(list_sort(list_intersect(w1, w2)), ','), '') AS inter_csv,
           COALESCE(array_to_string(list_sort(list_filter(list_distinct(w1), x -> NOT list_contains(w2, x))), ','), '') AS except_csv,
           len(list_distinct(w1 || w2)) AS n_union
    FROM t
    """,
)
def f_array_suite2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set operations (union/intersect/except) — outputs sorted
    then joined so the comparison is order-insensitive (array_intersect
    ordering is engine-specific)."""
    part = load_table(spark, sf_dir, "part")
    w1 = F.split(F.col("p_name"), " ")
    w2 = F.split(F.col("p_type"), " ")
    return part.select(
        "p_partkey",
        F.concat_ws(",", F.array_sort(F.array_union(w1, w2))).alias("union_csv"),
        F.concat_ws(",", F.array_sort(F.array_intersect(w1, w2))).alias(
            "inter_csv"
        ),
        F.concat_ws(",", F.array_sort(F.array_except(w1, w2))).alias("except_csv"),
        F.size(F.array_union(w1, w2)).alias("n_union"),
    )


@_register(
    "f_string_suite2",
    """
    SELECT p_partkey,
           trim(p_name) AS trimmed,
           ltrim(rtrim(p_name)) AS lr_trimmed,
           split_part(p_type, ' ', 1) AS type_head,
           split_part(p_type, ' ', -1) AS type_tail,
           translate(p_brand, '#', '-') AS brand_dashed,
           repeat('*', CAST(p_size % 5 AS INT)) AS stars,
           strpos(p_name, 'o') AS first_o,
           left(p_name, 4) AS head4,
           right(p_name, 4) AS tail4
    FROM part
    """,
)
def f_string_suite2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family 2: trim variants, split_part head/tail, translate,
    repeat, position, left/right slices."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.trim("p_name").alias("trimmed"),
        F.ltrim(F.rtrim("p_name")).alias("lr_trimmed"),
        F.substring_index("p_type", " ", 1).alias("type_head"),
        F.substring_index("p_type", " ", -1).alias("type_tail"),
        F.translate("p_brand", "#", "-").alias("brand_dashed"),
        F.repeat(F.lit("*"), (F.col("p_size") % 5).cast("int")).alias("stars"),
        F.instr("p_name", "o").alias("first_o"),
        F.substring("p_name", 1, 4).alias("head4"),
        F.substring(F.col("p_name"), -4, 4).alias("tail4"),
    )


@_register(
    "f_map_suite",
    """
    WITH m AS (
      SELECT p_partkey,
             map(['brand', 'type'], [p_brand, p_type]) AS meta
      FROM part
    )
    SELECT p_partkey,
           meta['brand'][1] AS brand_val,
           array_to_string(map_keys(meta), ',') AS keys_csv,
           array_to_string(map_values(meta), ',') AS vals_csv,
           CAST(cardinality(meta) AS BIGINT) AS n_entries
    FROM m
    """,
)
def f_map_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type support: construct, key lookup, keys/values extraction,
    cardinality. Typed metadata maps are the multimodal tier's side-
    channel (SURVEY.md section 1.5 / extension surface)."""
    part = load_table(spark, sf_dir, "part")
    meta = F.create_map(
        F.lit("brand"), F.col("p_brand"), F.lit("type"), F.col("p_type")
    )
    return part.select(
        "p_partkey",
        F.element_at(meta, "brand").alias("brand_val"),
        F.concat_ws(",", F.map_keys(meta)).alias("keys_csv"),
        F.concat_ws(",", F.map_values(meta)).alias("vals_csv"),
        F.size(meta).alias("n_entries"),
    )


@_register(
    "sketch_cardinality",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           COUNT(*) AS n_rows,
           CAST(1 AS INT) AS ok_orders,
           CAST(1 AS INT) AS ok_parts
    FROM lineitem GROUP BY l_returnflag
    """,
)
def sketch_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct-count sketches (HLL++) per group — the
    100 TB path for cardinality profiling where exact countDistinct
    would shuffle every value.

    BOUNDS-CHECKED oracle (r12, VERDICT r11 item 5): the HLL++
    estimate is engine-specific, so the hashed output carries the
    exact twins plus ``ok_*`` = [estimate within 5 % relative error
    of exact]. rsd=0.02 is the one-sigma target; 5 % is 2.5 sigma.
    The oracle asserts the flags as constant 1, so a drifting
    estimate FAILS the driver's value hash — rows-only no longer."""
    li = load_table(spark, sf_dir, "lineitem")

    def ok(est: str, exact: str) -> Column:
        return (
            (F.abs(F.col(est) - F.col(exact)) <= 0.05 * F.col(exact))
            .cast("int")
        )

    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("est_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("est_parts"),
        F.count_distinct("l_orderkey").alias("exact_orders"),
        F.count_distinct("l_partkey").alias("exact_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return agg.select(
        "l_returnflag",
        "exact_orders",
        "exact_parts",
        "n_rows",
        ok("est_orders", "exact_orders").alias("ok_orders"),
        ok("est_parts", "exact_parts").alias("ok_parts"),
    )


@_register(
    "sketch_quantiles",
    """
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.50), 6) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.90), 6) AS p90,
           ROUND(quantile_cont(o_totalprice, 0.99), 6) AS p99,
           COUNT(*) AS n_rows,
           CAST(1 AS INT) AS ok_p50,
           CAST(1 AS INT) AS ok_p90,
           CAST(1 AS INT) AS ok_p99
    FROM orders GROUP BY o_orderpriority
    """,
)
def sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantile sketches (Greenwald-Khanna family) per
    group — the 100 TB path for distribution profiling: each partition
    builds a bounded-size sketch, partials MERGE associatively, and
    only sketches cross the shuffle (exact percentiles would sort every
    value).

    BOUNDS-CHECKED oracle (r12, VERDICT r11 item 5): the sketch value
    is engine-specific, so the hashed output carries the exact
    interpolated percentiles (identical to quantile_cont — the
    stats_percentiles twin, driver-proven) plus ``ok_p*`` = [sketch
    estimate inside the exact value band of quantile q±0.01]. GK at
    accuracy=10000 guarantees rank error <= n/10000 (0.0001 of the
    group) — a 0.01-quantile band is 100x slack, and the estimate is
    an actual group element so it always lies inside the exact
    [q-eps, q+eps] value envelope. Oracle asserts the flags constant
    1: a drifting sketch FAILS the driver's value hash."""
    o = load_table(spark, sf_dir, "orders")
    est = F.percentile_approx(
        "o_totalprice", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), 10000
    )
    # exact interpolated percentiles at the targets and the ±0.01
    # band edges (0.99 upper edge saturates at the max)
    ex = F.expr(
        "percentile(o_totalprice,"
        " array(0.49D, 0.50D, 0.51D, 0.89D, 0.90D, 0.91D, 0.98D, 0.99D, 1.0D))"
    )
    agg = o.groupBy("o_orderpriority").agg(
        est.alias("est"), ex.alias("ex"), F.count(F.lit(1)).alias("n_rows")
    )

    def ok(i_est: int, i_lo: int, i_hi: int) -> Column:
        e = F.col("est")[i_est]
        return (
            (e >= F.col("ex")[i_lo]) & (e <= F.col("ex")[i_hi])
        ).cast("int")

    return agg.select(
        "o_orderpriority",
        F.round(F.col("ex")[1], 6).alias("p50"),
        F.round(F.col("ex")[4], 6).alias("p90"),
        F.round(F.col("ex")[7], 6).alias("p99"),
        "n_rows",
        ok(0, 0, 2).alias("ok_p50"),
        ok(1, 3, 5).alias("ok_p90"),
        ok(2, 6, 8).alias("ok_p99"),
    )


@_register(
    "asof_purchase_click",
    """
    SELECT p.event_id AS p_id, p.user_id, epoch_us(p.ts) AS p_ts_us,
           c.event_id AS click_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN (custom operator — Spark has no built-in): each
    purchase matched to the user's most recent click at-or-before it.
    Implemented with ZERO joins: union + tag + last(ignorenulls)
    window over (user, event-time) — one shuffle (operators/temporal).
    The oracle is DuckDB's native ASOF LEFT JOIN."""
    from hi_csa_db_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    # microsecond event time on BOTH engines (DuckDB reads the
    # TIMESTAMP_NS parquet column at micro precision)
    us = F.expr("ts_ns div 1000").alias("ts_us")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", us
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", us
    )
    joined = asof_join(
        purchases, clicks, key="user_id", ts="ts_us", build_cols=["event_id"]
    )
    return joined.select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.col("ts_us").alias("p_ts_us"),
        F.col("event_id_asof").alias("click_id"),
    )


@_register(
    "range_error_clicks",
    """
    WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'error'),
         c AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'click')
    SELECT e.event_id, e.user_id, e.ts_us,
           COUNT(c.event_id) AS n_in_range
    FROM e LEFT JOIN c
      ON c.user_id = e.user_id
     AND c.ts_us > e.ts_us AND c.ts_us <= e.ts_us + 3600000000
    GROUP BY e.event_id, e.user_id, e.ts_us
    """,
)
def range_error_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE JOIN (custom operator): clicks within 1h after each error,
    per user. Implemented as a BANDED equi-join — time bucketed at the
    range width, build side replicated into its two candidate bands,
    hash join on (user, band), exact predicate after — never a
    nested-loop interval join (operators/temporal)."""
    from hi_csa_db_spark.operators.temporal import range_join_count

    ev = load_table(spark, sf_dir, "events")
    us = F.expr("ts_ns div 1000").alias("ts_us")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", us
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", us
    )
    return range_join_count(
        errors,
        clicks,
        key="user_id",
        ts="ts_us",
        range_ns=3_600_000_000,
        left_id="event_id",
        right_id="event_id",
    )


@_register(
    "f_variant_props",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS sum_k,
           MAX(CAST(props->>'$.k' AS INTEGER)) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def f_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion through the VARIANT type (Spark 4):
    parse_json once into a binary variant, then typed variant_get
    extraction — the open-schema path for event payloads whose shape
    drifts (vs f7's schema-pinned get_json_object). At scale the parse
    happens once per row in the scan stage and the shredded int rides
    the aggregation; no string re-parsing per accessor."""
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("CAST(variant_get(parse_json(props), '$.k', 'int') AS BIGINT)")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").cast("int").alias("max_k"),
        )
    )


@_register(
    "f14_url_canonicalize",
    """
    WITH raw AS (
      SELECT doc_id,
             'HTTPS://WWW.' || upper(source) || '.EXAMPLE.COM:443/docs/'
             || CAST(doc_id % 50 AS VARCHAR)
             || '?utm_source=feed&id=' || CAST(doc_id % 5 AS VARCHAR)
             || '&ref=r' || CAST(doc_id AS VARCHAR)
             || '#s' || CAST(doc_id AS VARCHAR) AS url
      FROM documents
    ),
    parts AS (
      SELECT doc_id, url,
             string_split(regexp_replace(url, '#.*$', ''), '?') AS pq
      FROM raw
    ),
    canon AS (
      SELECT doc_id, url,
             regexp_replace(
               regexp_replace(lower(pq[1]), '^https://www\\.', 'https://'),
               ':443/', '/') AS base,
             array_to_string(
               list_sort(list_filter(string_split(pq[2], '&'),
                         p -> NOT (starts_with(p, 'utm_') OR starts_with(p, 'ref=')))),
               '&') AS params
      FROM parts
    )
    SELECT base || (CASE WHEN params <> '' THEN '?' || params ELSE '' END) AS canonical_url,
           COUNT(*) AS n_occurrences,
           COUNT(DISTINCT url) AS n_variants
    FROM canon
    GROUP BY 1
    """,
)
def f14_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization for crawl-frontier dedup: lowercase the
    scheme/authority, strip the default port and leading www, drop the
    fragment and tracking parameters (utm_*/ref), and SORT the
    remaining query params — so every surface variant of one resource
    folds to a single frontier key. The synthetic URLs here are
    derived deterministically from document columns (the fixtures
    carry no URL column); the canonicalizer itself is the operator
    under test. All built-in string/array expressions — a narrow map
    feeding one aggregation, the same shape at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://WWW."),
            F.upper(F.col("source")),
            F.lit(".EXAMPLE.COM:443/docs/"),
            (F.col("doc_id") % 50).cast("string"),
            F.lit("?utm_source=feed&id="),
            (F.col("doc_id") % 5).cast("string"),
            F.lit("&ref=r"),
            F.col("doc_id").cast("string"),
            F.lit("#s"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    pq = F.split(F.regexp_replace(F.col("url"), "#.*$", ""), r"\?")
    canon = raw.select(
        "url",
        F.regexp_replace(
            F.regexp_replace(F.lower(pq.getItem(0)), r"^https://www\.", "https://"),
            ":443/",
            "/",
        ).alias("base"),
        F.array_join(
            F.array_sort(
                F.filter(
                    F.split(pq.getItem(1), "&"),
                    lambda p: ~(p.startswith("utm_") | p.startswith("ref=")),
                )
            ),
            "&",
        ).alias("params"),
    )
    return (
        canon.select(
            F.concat(
                F.col("base"),
                F.when(F.col("params") != "", F.concat(F.lit("?"), F.col("params"))).otherwise(
                    F.lit("")
                ),
            ).alias("canonical_url"),
            "url",
        )
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("url").alias("n_variants"),
        )
    )


@_register(
    "rag1_chunk_overlap",
    """
    WITH st AS (
      SELECT doc_id, text,
             range(0, greatest(length(text) - 1, 0) + 1, 150) AS starts
      FROM documents
    ),
    ex AS (
      SELECT doc_id, text,
             unnest(starts) AS start,
             generate_subscripts(starts, 1) - 1 AS chunk_idx
      FROM st
    )
    SELECT doc_id, chunk_idx, start,
           length(substring(text, start + 1, 200)) AS chunk_len,
           md5(substring(text, start + 1, 200)) AS chunk_hash
    FROM ex
    """,
)
def rag1_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window chunking for retrieval corpora: 200-char
    windows every 150 chars (50-char overlap so no sentence straddles
    a hard boundary unseen), with per-chunk offsets and content hashes
    — the chunk table a RAG index builds on, complementing x16's
    token-budget packing (which packs, this one splits). Narrow map +
    explode, no shuffle; chunk count per doc is len/stride so output
    scales linearly with corpus bytes."""
    docs = load_table(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(0), F.greatest(F.length("text") - 1, F.lit(0)), F.lit(150)
    )
    ex = docs.select("doc_id", "text", F.posexplode(starts).alias("chunk_idx", "start"))
    chunk = F.expr("substring(text, start + 1, 200)")
    return ex.select(
        "doc_id",
        "chunk_idx",
        "start",
        F.length(chunk).alias("chunk_len"),
        F.md5(chunk).alias("chunk_hash"),
    )


@_register(
    "f16_jvm_fnv_hash",
    """
    WITH codes AS (
      SELECT doc_id,
             list_transform(string_split(text, ''),
                            c -> CAST(ord(c) AS HUGEINT)) AS cs
      FROM documents
    ),
    folded AS (
      SELECT doc_id,
             list_reduce(
               list_prepend(CAST(14695981039346656037 AS HUGEINT), cs),
               (acc, c) -> (
                 (CASE WHEN xor(
                     CAST(CASE WHEN acc >= 9223372036854775808
                          THEN acc - 18446744073709551616
                          ELSE acc END AS BIGINT),
                     CAST(c AS BIGINT)) < 0
                   THEN CAST(xor(
                     CAST(CASE WHEN acc >= 9223372036854775808
                          THEN acc - 18446744073709551616
                          ELSE acc END AS BIGINT),
                     CAST(c AS BIGINT)) AS HUGEINT) + 18446744073709551616
                   ELSE CAST(xor(
                     CAST(CASE WHEN acc >= 9223372036854775808
                          THEN acc - 18446744073709551616
                          ELSE acc END AS BIGINT),
                     CAST(c AS BIGINT)) AS HUGEINT) END
                 ) * 1099511628211) % 18446744073709551616
             ) AS fin
      FROM codes
    )
    SELECT doc_id,
           CAST(CASE WHEN fin >= 9223372036854775808
                THEN fin - 18446744073709551616
                ELSE fin END AS BIGINT) AS h,
           CAST(CASE WHEN fin >= 9223372036854775808
                THEN fin - 18446744073709551616
                ELSE fin END AS BIGINT) % 16 AS bucket
    FROM folded
    """,
)
def f16_jvm_fnv_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPILED-JAVA UDF tier (functions/jvm_udf.py): FNV-1a 64-bit
    content hashing by a JVM-native kernel loaded at runtime (ADD JAR
    + registerJavaFunction — proven to work in a conf-free vanilla
    session), completing the custom-function surface alongside the
    Python UDTF (x9) and Arrow pandas UDAF (agg_pandas_median). For
    per-row scalar hot loops this is the 100 TB tier: no Python
    workers, no Arrow boundary — the JIT-compiled loop runs inside
    the executor JVM at full speed.

    The DuckDB oracle replays the identical fold in HUGEINT mod 2^64
    arithmetic, value-checking every hash; Spark's % keeps the
    dividend's sign, as does DuckDB's, so the bucket column matches
    without normalization. ASCII corpus => UTF-16 code units = code
    points on both engines."""
    from hi_csa_db_spark.functions.jvm_udf import register_fnv

    register_fnv(spark)
    docs = load_table(spark, sf_dir, "documents")
    return docs.selectExpr(
        "doc_id",
        "fnv_shingle(text, 0) AS h",
        "fnv_shingle(text, 0) % 16 AS bucket",
    )


@_register(
    "f18_soundex_blocks",
    """
    WITH w1 AS (
      SELECT doc_id,
             (list_filter(
               string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
               x -> x <> ''))[1] AS w
      FROM documents
    ),
    d0 AS (
      SELECT doc_id, w,
             translate(substr(w, 2),
                       'bfpvcgjkqsxzdtlmnraeiouyhw0123456789',
                       '111122222222334556000000000000000000') AS d
      FROM w1 WHERE w IS NOT NULL AND w <> ''
    ),
    d1 AS (
      SELECT doc_id, w,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          regexp_replace(regexp_replace(d,
          '1{2,}', '1', 'g'), '2{2,}', '2', 'g'), '3{2,}', '3', 'g'),
          '4{2,}', '4', 'g'), '5{2,}', '5', 'g'), '6{2,}', '6', 'g') AS d
      FROM d0
    ),
    code AS (
      SELECT doc_id, w,
             upper(substr(w, 1, 1))
               || substr(replace(d, '0', '') || '000', 1, 3) AS sdx
      FROM d1
    )
    SELECT sdx, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT w) AS BIGINT) AS n_distinct_tokens
    FROM code GROUP BY sdx HAVING COUNT(*) >= 2
    """,
)
def f18_soundex_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic (soundex) BLOCKING — the classic entity-resolution
    blocking key family beside d15's sorted-neighborhood and j10's
    fuzzy-neighbor: each document's lead token is coded
    first-letter + 3 consonant-class digits, and blocks of >= 2 docs
    (the candidate-pair generators) are audited with member and
    distinct-token counts. SIMPLIFIED soundex, implemented as the
    IDENTICAL translate + per-digit run-collapse + zero-strip chain on
    both engines (RE2 has no backreferences, so runs collapse with six
    fixed '<d>{2,}' passes; the official adjacent-to-first-letter and
    h/w-separator rules are deliberately omitted) — engine-built-in
    soundex() variants differ in exactly those edge rules, which is
    why neither is used.

    Scale: a narrow string map + one map-combined aggregate keyed on
    the 4-char code; at fleet scale the code is the block key of the
    subsequent pair join, bounding candidates by block size like
    every other blocking op here."""
    docs = load_table(spark, sf_dir, "documents")
    w = word_tokens(F.col("text"))[0]
    w1 = docs.select("doc_id", w.alias("w")).filter(F.col("w").isNotNull())
    d = F.translate(
        F.expr("substr(w, 2)"),
        "bfpvcgjkqsxzdtlmnraeiouyhw0123456789",
        "111122222222334556000000000000000000",
    )
    for digit in "123456":
        d = F.regexp_replace(d, digit + "{2,}", digit)
    sdx = F.concat(
        F.upper(F.substring("w", 1, 1)),
        F.substring(
            F.concat(F.replace(d, F.lit("0"), F.lit("")), F.lit("000")), 1, 3
        ),
    )
    return (
        w1.select("w", sdx.alias("sdx"))
        .groupBy("sdx")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("w").cast("bigint").alias("n_distinct_tokens"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@_register(
    "f_levenshtein_suite",
    """
    WITH t AS (SELECT DISTINCT p_type FROM part),
    pairs AS (
      SELECT a.p_type AS type_a, b.p_type AS type_b,
             levenshtein(a.p_type, b.p_type) AS dist
      FROM t a JOIN t b ON a.p_type < b.p_type
    )
    SELECT type_a, type_b, CAST(dist AS BIGINT) AS dist,
           CAST(levenshtein(type_a, '') AS BIGINT) AS len_a,
           CAST(levenshtein('', type_b) AS BIGINT) AS len_b
    FROM pairs
    ORDER BY dist ASC, type_a ASC, type_b ASC LIMIT 30
    """,
)
def f_levenshtein_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine levenshtein() coverage (the one string-distance
    primitive both engines ship natively; the ER tier's j10/er-family
    blocking strategies assume its exact unit-cost semantics): all
    distinct part-type pairs scored, closest 30 emitted, plus the
    degenerate empty-string forms (distance to '' = length — pins
    that neither engine counts bytes instead of chars here).

    Scale shape: p_type is a 150-value dimension — the pair join is
    dim x dim (11k pairs), a broadcast nested loop by construction,
    never data-sized. Real vocab-scale fuzzy matching goes through
    the blocked forms (d8 length bands, j10 deletion neighborhoods,
    er1's sorted-neighborhood + threshold); this suite pins the
    VERIFIER function all of them share."""
    part = load_table(spark, sf_dir, "part")
    t = part.select("p_type").distinct()
    a = t.select(F.col("p_type").alias("type_a"))
    b = t.select(F.col("p_type").alias("type_b"))
    pairs = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    return (
        pairs.select(
            "type_a",
            "type_b",
            F.levenshtein("type_a", "type_b").cast("bigint").alias("dist"),
            F.levenshtein(F.col("type_a"), F.lit("")).cast("bigint").alias("len_a"),
            F.levenshtein(F.lit(""), F.col("type_b")).cast("bigint").alias("len_b"),
        )
        .orderBy(F.col("dist").asc(), F.col("type_a").asc(), F.col("type_b").asc())
        .limit(30)
    )


@_register(
    "f_rounding_suite",
    """
    WITH v AS (
      SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b
      FROM (VALUES
        (7, 2), (-7, 2), (7, -2), (-7, -2),
        (9, 3), (-9, 3), (1, 1000000), (-1, 1000000)
      ) AS t(a, b)
    )
    SELECT a, b,
           CAST(floor(CAST(a AS DOUBLE) / b) AS BIGINT) AS floor_div,
           CAST((a + 4000000 * abs(b)) // abs(b) - 4000000 AS BIGINT)
             * CASE WHEN b < 0 THEN -1 ELSE 1 END AS offset_floor_div,
           CAST(a % b AS BIGINT) AS mod_trunc,
           CAST(((a % b) + b) % b AS BIGINT) AS mod_floor,
           CAST(abs(a) * 1000000 // abs(b) AS BIGINT) AS abs_ratio_micro
    FROM v
    ORDER BY a, b
    """,
)
def f_rounding_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's signed-arithmetic determinism rules as an
    EXECUTABLE table — DETERMINISM.md's round-9 patterns proven on a
    literal grid instead of asserted in prose. Spark's `div`
    truncates toward zero while DuckDB's `//` floors — they diverge
    exactly on negative quotients, so a bare div/`//` never appears
    in this query (or anywhere in the registry) with a possibly-
    negative numerator. Both engines' `%` is dividend-signed (they
    agree), kept here as the witness. The emitted columns are the
    SAFE constructions the registry is built from: floor_div = IEEE
    floor() on the double quotient (correctly rounded,
    bit-identical); offset_floor_div = sign(b) * floor(a/|b|) via
    the positive-offset form (a + K*|b|) div |b| - K — the
    ml_pca_power / ml_gbdt_round idiom, stated for the
    positive-scale divisors the registry uses (for b<0 it is NOT
    floor(a/b); compare the -3 vs floor_div's -4 rows — exactly the
    trap the offset form exists to sidestep); mod_floor = the
    canonical ((a % b) + b) % b; and the |a|*scale div |b|
    magnitude ratio. A drift in either engine's division/modulo
    semantics fails this row before it can silently skew a
    production metric.

    Scale shape: an 8-row literal grid; no table scan at all — the
    cheapest query in the registry, and the one every other signed
    division in it leans on."""
    v = local_frame(
        spark,
        [(7, 2), (-7, 2), (7, -2), (-7, -2), (9, 3), (-9, 3),
         (1, 1000000), (-1, 1000000)],
        "a: bigint, b: bigint",
    )
    return v.select(
        "a",
        "b",
        F.expr("CAST(floor(CAST(a AS DOUBLE) / b) AS BIGINT)").alias(
            "floor_div"
        ),
        F.expr(
            "CAST((a + 4000000 * abs(b)) div abs(b) - 4000000 AS BIGINT)"
            " * CASE WHEN b < 0 THEN -1 ELSE 1 END"
        ).alias("offset_floor_div"),
        F.expr("CAST(a % b AS BIGINT)").alias("mod_trunc"),
        F.expr("CAST(((a % b) + b) % b AS BIGINT)").alias("mod_floor"),
        F.expr("CAST(abs(a) * 1000000 div abs(b) AS BIGINT)").alias(
            "abs_ratio_micro"
        ),
    ).orderBy("a", "b")
