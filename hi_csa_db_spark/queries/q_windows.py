"""Window, aggregate, grouping-set and join queries (w*/a*/g*/j*).

Importing this module registers its queries in the package registry
(``hi_csa_db_spark.queries``) in source order."""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hi_csa_db_spark.catalog import load_table, load_tables, local_frame
from hi_csa_db_spark.functions.hashing import (
    hex_to_long,
    hll_bucket_rem,
    hll_estimate,
    hll_harmonic_sum,
    hll_rank,
    md5_hex,
    mult_hash32,
    stable_long_hash,
)
from hi_csa_db_spark.functions.text import word_tokens
from hi_csa_db_spark.operators import classify, ordered

from hi_csa_db_spark.queries import _register
from hi_csa_db_spark.queries._shared import (
    _KEYWORD_DICT,
    _KEYWORD_VALUES,
    _TIER_VALUES,
    _disc_price,
    _dsum,
)


@_register(
    "j1_lookup_join",
    """
    SELECT r.r_name,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(28,2))) AS DOUBLE) AS total_acctbal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
                    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def j1_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: broadcast lookup join through two tiny dimensions (the
    reference's match()-based practice->mitigation lookup,
    hi-csa-db.Rmd:541-543). Both dims broadcast; zero shuffle before
    the final 5-group aggregate."""
    t = load_tables(spark, sf_dir)
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _dsum(F.col("c_acctbal")).alias("total_acctbal"),
        )
    )


@_register(
    "j2_keyword_classify",
    f"""
    WITH dict AS (SELECT * FROM (VALUES {_KEYWORD_VALUES}) t(keyword, label)),
    toks AS (
      SELECT doc_id, unnest(list_filter(
        string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '')) AS tok
      FROM documents
    ),
    matched AS (SELECT DISTINCT t.doc_id, d.label FROM toks t JOIN dict d ON t.tok = d.keyword)
    SELECT d.doc_id, m.label FROM documents d LEFT JOIN matched m ON d.doc_id = m.doc_id
    """,
)
def j2_keyword_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/X3: keyword-dictionary multi-label classifier (detect.csa,
    hi-csa-db.Rmd:75-88). The dictionary is a plan-time literal, so
    the literal strategy applies: shingle-filter + literal label map,
    no join and no shuffle (same rows as the broadcast equi-join
    strategy, which remains the path for runtime dictionaries)."""
    docs = load_table(spark, sf_dir, "documents")
    return classify.keyword_classify_literal(docs, _KEYWORD_DICT)


@_register(
    "j3_star_join",
    """
    SELECT p.p_brand,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
           COUNT(DISTINCT s.s_name) AS n_suppliers
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
                    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY p.p_brand
    """,
)
def j3_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: fact-to-two-dimensions star join (the reference's edge->node
    ordinal resolution, SURVEY.md section 1.4). Dims broadcast."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            F.countDistinct("s_name").alias("n_suppliers"),
        )
    )


@_register(
    "j4_forward_fill",
    """
    WITH e AS (
      SELECT event_id, user_id, event_type, value, epoch_us(ts) AS tsu FROM events
    ),
    g AS (
      SELECT *, SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY tsu, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      FROM e
    )
    SELECT event_id, user_id,
           LAST_VALUE(CASE WHEN event_type = 'signup' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY tsu, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_value,
           LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id, grp ORDER BY tsu, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS purchase_since_error
    FROM g
    """,
)
def j4_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/W1: the reference's imperative sectionizer state as window
    forward-fill — last signup value per user (plain fill) and last
    purchase value resetting at each error (the h4-resets-at-h3
    semantics, hi-csa-db.Rmd:178-212)."""
    ev = load_table(spark, sf_dir, "events")
    order = [F.expr("ts_ns div 1000"), F.col("event_id")]
    fill = ordered.forward_fill(
        ev,
        F.when(F.col("event_type") == "signup", F.col("value")),
        order_by=order,
        partition_by=["user_id"],
    )
    reset_fill = ordered.forward_fill(
        ev,
        F.when(F.col("event_type") == "purchase", F.col("value")),
        order_by=order,
        partition_by=["user_id"],
        reset_on=F.col("event_type") == "error",
    )
    return ev.select(
        "event_id",
        "user_id",
        fill.alias("last_signup_value"),
        reset_fill.alias("purchase_since_error"),
    )


@_register(
    "w2_topk_orders",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
)
def w2_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/W3: orderBy+limit -> TakeOrderedAndProject (per-partition
    top-k then merge; never a global sort)."""
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@_register(
    "w4_positional_update",
    f"""
    WITH m AS (
      SELECT n_nationkey, ROW_NUMBER() OVER (ORDER BY n_name) AS rn
      FROM nation WHERE n_regionkey = 0
    ),
    v AS (SELECT * FROM (VALUES {_TIER_VALUES}) t(rn, val))
    SELECT n.n_nationkey, n.n_name, COALESCE(v.val, 'standard') AS tier
    FROM nation n LEFT JOIN m ON n.n_nationkey = m.n_nationkey
                  LEFT JOIN v ON m.rn = v.rn
    """,
)
def w4_positional_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: ordered positional assignment (the reference's 5 'Energy'
    rows overwritten in row order, hi-csa-db.Rmd:575-580)."""
    nation = load_table(spark, sf_dir, "nation").withColumn("tier", F.lit("standard"))
    out = ordered.positional_update(
        nation,
        match=F.col("n_regionkey") == 0,
        order_by=["n_name"],
        column="tier",
        values=["alpha", "beta", "gamma", "delta", "epsilon"],
    )
    return out.select("n_nationkey", "n_name", "tier")


@_register(
    "a1_distinct_segments",
    "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def a1_distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2: distinct via hash aggregate (hi-csa-db.Rmd:473-474)."""
    return load_table(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


@_register(
    "a3_first_order_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def a3_first_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: deterministic first-row-per-key. R's !duplicated() keeps the
    first row in file order (hi-csa-db.Rmd:511); bare dropDuplicates is
    nondeterministic, so the engine pins order with row_number."""
    orders = load_table(spark, sf_dir, "orders")
    return ordered.first_row_per_key(
        orders, keys=["o_custkey"], order_by=["o_orderdate", "o_orderkey"]
    ).select("o_custkey", "o_orderkey", "o_totalprice")


@_register(
    "a5_group_concat",
    """
    SELECT n.n_name,
           COUNT(*) AS n_suppliers,
           STRING_AGG(s.s_name, ' | ' ORDER BY s.s_name) AS supplier_names
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def a5_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: group-concat (paste0 collapse, hi-csa-db.Rmd:450) with a
    sorted collect_list for deterministic concatenation order."""
    t = load_tables(spark, sf_dir)
    return (
        t["supplier"]
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.concat_ws(" | ", F.array_sort(F.collect_list("s_name"))).alias(
                "supplier_names"
            ),
        )
    )


@_register(
    "g1_rollup_region_nation",
    """
    SELECT r.r_name, n.n_name, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(28,2))) AS DOUBLE) AS total_acctbal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
                    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP(r.r_name, n.n_name)
    """,
)
def g1_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup — free breadth from Spark SQL on top of the
    reference's flat aggregations (SURVEY.md section 2.4)."""
    t = load_tables(spark, sf_dir)
    joined = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        _dsum(F.col("c_acctbal")).alias("total_acctbal"),
    )


@_register(
    "g2_grouping_sets_orders",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def g2_grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS over orders (status / priority / grand total)."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total_price
        FROM __orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# ---------------------------------------------------------------------------
# Relational breadth, batch 2: windows, set ops, subqueries, function
# families (free Spark SQL surface on top of the reference's operators —
# SURVEY.md sections 2.4/2.5/2.7)
# ---------------------------------------------------------------------------


@_register(
    "w5_window_suite",
    """
    WITH w AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
             RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rnk,
             DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS drnk,
             LAG(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_orderkey,
             LEAD(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_orderkey,
             NTILE(4) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS quartile,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
               OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mov_sum,
             COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mov_n
      FROM orders
    )
    SELECT o_custkey, o_orderkey, rnk, drnk, prev_orderkey, next_orderkey,
           quartile, mov_sum, ROUND(mov_sum / mov_n, 6) AS mov_avg
    FROM w
    """,
)
def w5_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function breadth: rank/dense_rank/lag/lead/ntile + a
    3-row moving aggregate (decimal-exact sum, derived average)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(-2, 0)
    mov_sum = (
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(wf).cast("double")
    )
    mov_n = F.count(F.lit(1)).over(wf)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
        F.ntile(4).over(w).alias("quartile"),
        mov_sum.alias("mov_sum"),
        F.round(mov_sum / mov_n, 6).alias("mov_avg"),
    )


@_register(
    "g3_cube_orders",
    """
    SELECT o_orderstatus, EXTRACT(year FROM o_orderdate) AS yr, COUNT(*) AS n_orders
    FROM orders GROUP BY CUBE (o_orderstatus, yr)
    """,
)
def g3_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation over status x order-year."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderstatus", F.year("o_orderdate").alias("yr"))
        .cube("o_orderstatus", "yr")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@_register(
    "g4_pivot_status",
    """
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS p_cnt,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS o_cnt,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS f_cnt
    FROM orders GROUP BY o_orderpriority
    """,
)
def g4_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts by priority, statuses as columns."""
    orders = load_table(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["P", "O", "F"])
        .count()
    )
    return pivoted.select(
        "o_orderpriority",
        F.coalesce("P", F.lit(0)).alias("p_cnt"),
        F.coalesce("O", F.lit(0)).alias("o_cnt"),
        F.coalesce("F", F.lit(0)).alias("f_cnt"),
    )


@_register(
    "a6_conditional_agg",
    """
    SELECT l_returnflag,
           COUNT(*) FILTER (WHERE l_quantity > 25) AS n_big,
           COUNT(*) FILTER (WHERE l_discount = 0) AS n_nodisc,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_finished
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a6_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation: count_if / filtered counts / sum(case)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_quantity") > 25).alias("n_big"),
        F.count_if(F.col("l_discount") == 0).alias("n_nodisc"),
        F.sum(
            F.when(
                F.col("l_linestatus") == "F", F.col("l_quantity").cast("decimal(18,2)")
            ).otherwise(F.lit(0).cast("decimal(18,2)"))
        )
        .cast("double")
        .alias("qty_finished"),
    )


@_register(
    "a9_weighted_median",
    """
    WITH vals AS (
      SELECT CAST(l_extendedprice AS DECIMAL(15,2)) AS v,
             SUM(CAST(l_quantity AS BIGINT)) AS w
      FROM lineitem GROUP BY 1
    ),
    cum AS (
      SELECT v, SUM(w) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cw
      FROM vals
    ),
    tot AS (SELECT CAST(SUM(w) AS BIGINT) AS total_w FROM vals)
    SELECT CAST(v AS DOUBLE) AS median_price,
           total_w,
           CAST(cw AS BIGINT) AS cum_w_at_median
    FROM cum CROSS JOIN tot
    WHERE 2 * cw >= total_w
    ORDER BY v ASC LIMIT 1
    """,
)
def a9_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact QUANTITY-WEIGHTED median of the extended price — the
    weighted quantile no built-in percentile function computes (Spark's
    percentile/median are unweighted; approx_percentile is inexact by
    design). Definition: smallest v with cum_weight(v) >= total/2,
    tested as pure integers (2*cw >= W — no float division anywhere).

    Scale shape: one groupBy collapses the value domain, then
    ordered.global_prefix_sums cumulates weights in value order
    (range-partition + broadcast offsets — parallel at any
    cardinality), one broadcast total, one TakeOrderedAndProject. The
    same pipeline yields ANY exact weighted quantile by changing the
    integer test."""
    from hi_csa_db_spark.operators import ordered

    li = load_table(spark, sf_dir, "lineitem")
    vals = li.groupBy(
        F.col("l_extendedprice").cast("decimal(15,2)").alias("v")
    ).agg(F.sum(F.col("l_quantity").cast("long")).alias("w"))
    cum = ordered.global_prefix_sums(vals, "v", ["w"])
    tot = vals.agg(F.sum("w").alias("total_w"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .filter(2 * F.col("cum_w") >= F.col("total_w"))
        .orderBy(F.col("v").asc())
        .limit(1)
        .select(
            F.col("v").cast("double").alias("median_price"),
            "total_w",
            F.col("cum_w").alias("cum_w_at_median"),
        )
    )


@_register(
    "a10_weighted_deciles",
    """
    WITH vals AS (
      SELECT CAST(l_extendedprice AS DECIMAL(15,2)) AS v,
             SUM(CAST(l_quantity AS BIGINT)) AS w
      FROM lineitem GROUP BY 1
    ),
    cum AS (
      SELECT v, SUM(w) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cw
      FROM vals
    ),
    tot AS (SELECT CAST(SUM(w) AS BIGINT) AS total_w FROM vals),
    hits AS (
      SELECT CAST(d AS INT) AS decile, v
      FROM cum CROSS JOIN tot, UNNEST(range(1, 10)) AS t(d)
      WHERE 10 * cw >= d * total_w
    )
    SELECT decile, CAST(MIN(v) AS DOUBLE) AS value
    FROM hits GROUP BY decile
    """,
)
def a10_weighted_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL nine exact weighted deciles in ONE pass — a9's claim made
    concrete: decile d = smallest v with 10*cum_weight >= d*total
    (pure integer tests, no float quantile interpolation anywhere).
    The cumulated value table is computed once (global_prefix_sums)
    and served to all nine thresholds by a 9-way explode + min — the
    marginal cost of eight more quantiles is one tiny aggregation."""
    from hi_csa_db_spark.operators import ordered

    li = load_table(spark, sf_dir, "lineitem")
    vals = li.groupBy(
        F.col("l_extendedprice").cast("decimal(15,2)").alias("v")
    ).agg(F.sum(F.col("l_quantity").cast("long")).alias("w"))
    cum = ordered.global_prefix_sums(vals, "v", ["w"])
    tot = vals.agg(F.sum("w").alias("total_w"))
    hits = (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.explode(F.sequence(F.lit(1), F.lit(9))).alias("decile"),
            "v",
            "cum_w",
            "total_w",
        )
        .filter(10 * F.col("cum_w") >= F.col("decile") * F.col("total_w"))
    )
    return hits.groupBy("decile").agg(
        F.min("v").cast("double").alias("value")
    )


@_register(
    "a8_grouped_mode",
    """
    WITH counted AS (
      SELECT c_mktsegment, c_nationkey, COUNT(*) AS cnt
      FROM customer GROUP BY c_mktsegment, c_nationkey
    )
    SELECT c_mktsegment, c_nationkey AS mode_nation, cnt AS mode_count
    FROM counted
    QUALIFY ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                               ORDER BY cnt DESC, c_nationkey ASC) = 1
    """,
)
def a8_grouped_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped MODE with deterministic ties: the most frequent nation
    per market segment, ties broken toward the smaller key — built-in
    mode() is tie-nondeterministic on both engines, so the stable form
    is count-then-argmax over (count, -key), two map-combined
    aggregations and no sort."""
    c = load_table(spark, sf_dir, "customer")
    counted = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return counted.groupBy("c_mktsegment").agg(
        F.max_by(
            F.col("c_nationkey"), F.struct(F.col("cnt"), -F.col("c_nationkey"))
        ).alias("mode_nation"),
        F.max("cnt").alias("mode_count"),
    )


@_register(
    "j7_basket_pairs",
    """
    WITH baskets AS (
      SELECT l_orderkey, list_sort(list_distinct(list(l_partkey))) AS parts
      FROM lineitem GROUP BY l_orderkey
    ),
    pairs AS (
      SELECT a AS part_a, b AS part_b
      FROM baskets,
           unnest(parts) AS t1(a),
           unnest(parts) AS t2(b)
      WHERE a < b
    )
    SELECT part_a, part_b, COUNT(*) AS n_orders
    FROM pairs GROUP BY part_a, part_b
    ORDER BY n_orders DESC, part_a ASC, part_b ASC LIMIT 20
    """,
)
def j7_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs bought together in one
    order, top-20 by support — association-rule mining's support
    count. The d3 pair-generation shape: per-order part sets are
    bounded (basket size), so the double explode is map-side O(k^2)
    per basket with ONE shuffle for the grouping and one for the
    count — never a lineitem self-join on orderkey (which shuffles
    the fact table twice and explodes skewed orders)."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    pairs = baskets.select(
        F.explode("parts").alias("part_a"), "parts"
    ).select(
        "part_a",
        F.explode(F.filter("parts", lambda p: p > F.col("part_a"))).alias("part_b"),
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), F.col("part_a").asc(), F.col("part_b").asc())
        .limit(20)
    )


@_register(
    "w10_rank_distributions",
    """
    SELECT o_orderkey, o_orderpriority,
           ROUND(PERCENT_RANK() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice, o_orderkey), 6)
             AS pct_rank,
           ROUND(CUME_DIST() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice, o_orderkey), 6)
             AS cume
    FROM orders
    """,
)
def w10_rank_distributions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENT_RANK + CUME_DIST per priority band — the distributional
    window functions completing the w5-w9 family. Unique ordering
    (price, orderkey) makes both fractions exact rationals; rounded
    6dp on both engines."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@_register(
    "a7_argmax",
    """
    SELECT user_id,
           arg_max(event_type, epoch_us(ts)) AS last_type,
           arg_min(event_type, epoch_us(ts)) AS first_type,
           MAX(epoch_us(ts)) AS last_ts_us
    FROM events GROUP BY user_id
    """,
)
def a7_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax/argmin aggregates (max_by/min_by): each user's first and
    last event type in one aggregation pass — no self-join, no window
    (event timestamps are unique at microsecond precision, so the
    ordering key is tie-free)."""
    ev = load_table(spark, sf_dir, "events")
    key = F.expr("ts_ns div 1000")
    return ev.groupBy("user_id").agg(
        F.max_by("event_type", key).alias("last_type"),
        F.min_by("event_type", key).alias("first_type"),
        F.max(F.expr("ts_ns div 1000")).alias("last_ts_us"),
    )


@_register(
    "g5_unpivot",
    """
    SELECT o_orderkey, k, CAST(v AS DOUBLE) AS v
    FROM (UNPIVOT (SELECT o_orderkey, o_totalprice, CAST(o_custkey AS DOUBLE) AS o_custkey
                   FROM orders)
          ON o_totalprice, o_custkey INTO NAME k VALUE v)
    """,
)
def g5_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: wide numeric columns to (key, value) rows — the
    inverse of g4's pivot; a narrow map (no shuffle)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey",
            "o_totalprice",
            F.col("o_custkey").cast("double").alias("o_custkey"),
        )
        .unpivot(
            ["o_orderkey"],
            ["o_totalprice", "o_custkey"],
            "k",
            "v",
        )
    )


@_register(
    "a12_hll_deterministic",
    """
    WITH h AS (
      SELECT l_returnflag,
             CAST('0x' || substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 2)
                  AS BIGINT) AS bucket,
             CAST('0x' || substring(md5(CAST(l_orderkey AS VARCHAR)), 3, 13)
                  AS BIGINT) AS rem,
             l_orderkey
      FROM lineitem
    ),
    r AS (
      SELECT l_returnflag, bucket,
             MAX(CASE WHEN rem = 0 THEN 50
                      ELSE least(53 - length(bin(rem)), 50) END) AS m
      FROM h GROUP BY l_returnflag, bucket
    ),
    s AS (
      SELECT l_returnflag,
             CAST(SUM(CAST(1 AS BIGINT) << (50 - m)) AS BIGINT)
             + (256 - COUNT(*)) * (CAST(1 AS BIGINT) << 50) AS ssum
      FROM r GROUP BY l_returnflag
    ),
    x AS (SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS n_exact
          FROM lineitem GROUP BY l_returnflag)
    SELECT s.l_returnflag,
           CAST(floor((0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
                      * CAST(CAST(1 AS BIGINT) << 50 AS DOUBLE)
                      / CAST(ssum AS DOUBLE)) AS BIGINT) AS hll_estimate,
           CAST(n_exact AS BIGINT) AS n_exact
    FROM s JOIN x USING (l_returnflag)
    """,
)
def a12_hll_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC HyperLogLog (Flajolet et al. 2007) built from
    md5 hashes and pure integer register math — the cross-engine-
    reproducible complement to sketch_cardinality's engine-internal
    HLL++ (whose estimates cannot be oracle-compared by construction).

    Layout: bucket = first md5 byte (m=256 registers), remainder = the
    next 52 bits; register = max rank (leading-zero count + 1, capped
    at 50 so the harmonic term stays an exact bigint power of two).
    The harmonic sum is computed EXACTLY as sum(2^(50-M)) in bigint —
    no float accumulation — and the single float step (alpha * m^2 /
    S) is IEEE ops on exact inputs, bit-identical on every engine. Raw
    estimate, no small-range correction (that branch needs ln(); the
    exact twin n_exact rides along for calibration). Determinism
    means the sketch is mergeable AND replayable: a re-run, a
    different host, or the DuckDB oracle produces the identical
    registers and estimate.

    Scale shape: one map-side-combined (flag, bucket) max aggregate —
    256 rows per group survive the shuffle; the estimate is a 256-row
    reduction. The n_exact column is the expensive exact distinct —
    kept here for audit; production uses the sketch alone."""
    li = load_table(spark, sf_dir, "lineitem")
    h = li.select("l_returnflag", "l_orderkey", *hll_bucket_rem(F.col("l_orderkey")))
    regs = h.groupBy("l_returnflag", "bucket").agg(
        F.max(hll_rank(F.col("rem"))).alias("m")
    )
    ssum = regs.groupBy("l_returnflag").agg(hll_harmonic_sum("m").alias("ssum"))
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_exact")
    )
    return ssum.join(exact, "l_returnflag").select(
        "l_returnflag", hll_estimate(F.col("ssum")).alias("hll_estimate"), "n_exact"
    )


@_register(
    "a13_quantile_sketch",
    """
    WITH c AS (
      SELECT o_orderkey AS k,
             CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) AS c
      FROM orders
    ),
    s AS (SELECT k, c FROM c
          WHERE CAST('0x' || substring(md5(CAST(k AS VARCHAR)), 1, 4)
                     AS BIGINT) < 4096),
    rs AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c, k) AS r FROM s),
    ns AS (SELECT COUNT(*) AS n FROM s),
    re AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c, k) AS r FROM c),
    ne AS (SELECT COUNT(*) AS n FROM c),
    q AS (SELECT unnest(range(1, 10)) AS decile),
    a AS (SELECT q.decile, rs.c AS approx_cents
          FROM q CROSS JOIN ns JOIN rs ON rs.r = (q.decile * ns.n + 9) // 10),
    e AS (SELECT q.decile, re.c AS exact_cents
          FROM q CROSS JOIN ne JOIN re ON re.r = (q.decile * ne.n + 9) // 10)
    SELECT CAST(a.decile AS BIGINT) AS decile, a.approx_cents, e.exact_cents,
           CAST(a.approx_cents - e.exact_cents AS BIGINT) AS err_cents
    FROM a JOIN e USING (decile)
    """,
)
def a13_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC sampled-quantile sketch with an exact-error
    audit — the portable complement of sketch_quantiles'
    engine-internal approx_percentile (the a12 idiom applied to
    quantiles): keep ~1/16 of orders by an md5 keep rule (the same
    hash both engines compute bit-for-bit), take the sample's deciles
    by exact integer rank (position ceil(q*n/10) in (cents, key)
    order), and report them against the full-data exact deciles.

    Every compared value is integer cents picked by integer rank —
    no estimator float, no libm. Scale shape: both rank passes use
    ordered.global_row_numbers (range partition + broadcast offsets,
    never a single-partition window); the sample pass reads 1/16 of
    the rows; targets are a 9-row broadcast."""
    o = load_table(spark, sf_dir, "orders")
    cents = o.select(
        F.col("o_orderkey").alias("k"),
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)").alias(
            "c"
        ),
    )

    def ranked_with_targets(df: DataFrame):
        keyed = df.select(
            "c", F.struct(F.col("c").alias("c"), F.col("k").alias("k")).alias("__key")
        )
        ranked = ordered.global_row_numbers(keyed, "__key")
        n = df.agg(F.count(F.lit(1)).alias("n"))
        targets = n.select(
            F.explode(F.sequence(F.lit(1), F.lit(9))).alias("decile"), "n"
        ).select(
            "decile",
            F.expr("(decile * n + 9) div 10").alias("__tgt"),
        )
        return ranked.join(
            F.broadcast(targets), ranked["rank"] == targets["__tgt"]
        ).select("decile", "c")

    keep = hex_to_long(md5_hex(F.col("k")), 4) < 4096
    approx = ranked_with_targets(cents.filter(keep)).withColumnRenamed(
        "c", "approx_cents"
    )
    exact = ranked_with_targets(cents).withColumnRenamed("c", "exact_cents")
    return (
        approx.join(exact, "decile")
        .select(
            F.col("decile").cast("bigint").alias("decile"),
            "approx_cents",
            "exact_cents",
            (F.col("approx_cents") - F.col("exact_cents"))
            .cast("bigint")
            .alias("err_cents"),
        )
    )


@_register(
    "w6_range_frame",
    """
    WITH d AS (
      SELECT o_orderkey, o_custkey,
             DATEDIFF('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS day_n,
             CAST(o_totalprice AS DECIMAL(14,2)) AS price
      FROM orders
    )
    SELECT o_orderkey, o_custkey, day_n,
           CAST(SUM(price) OVER (
             PARTITION BY o_custkey ORDER BY day_n
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_30d
    FROM d
    """,
)
def w6_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame (value-based, not row-based): per-customer
    trailing-30-day spend. Distinct from w5's ROWS frames — RANGE
    includes ALL peers inside the value interval regardless of row
    count (the time-windowed rolling aggregate)."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        "o_orderkey",
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
        ).alias("day_n"),
        F.col("o_totalprice").cast("decimal(14,2)").alias("price"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day_n")
        .rangeBetween(-30, 0)
    )
    return d.select(
        "o_orderkey",
        "o_custkey",
        "day_n",
        F.sum("price").over(w).cast("double").alias("spend_30d"),
    )


@_register(
    "g6_grouping_id",
    """
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus) AS g_status,
           GROUPING(o_orderpriority) AS g_prio,
           COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
)
def g6_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() indicator columns over grouping sets — distinguishes
    'NULL because aggregated away' from 'NULL in the data'."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping("o_orderstatus").cast("bigint").alias("g_status"),
            F.grouping("o_orderpriority").cast("bigint").alias("g_prio"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@_register(
    "w8_window_values",
    """
    SELECT o_orderkey, o_custkey,
           count(DISTINCT o_orderstatus) OVER (PARTITION BY o_custkey) AS n_statuses,
           first_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS first_order,
           nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_order,
           last_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_order
    FROM orders
    """,
)
def w8_window_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window value functions: per-partition distinct count (collect_set
    size — Spark's window has no COUNT(DISTINCT)), first/nth/last value
    over the full frame."""
    orders = load_table(spark, sf_dir, "orders")
    wp = Window.partitionBy("o_custkey")
    wo = wp.orderBy("o_orderdate", "o_orderkey")
    wfull = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.size(F.collect_set("o_orderstatus").over(wp)).alias("n_statuses"),
        F.first("o_orderkey").over(wo).alias("first_order"),
        F.nth_value("o_orderkey", 2).over(wfull).alias("second_order"),
        F.last("o_orderkey").over(wfull).alias("last_order"),
    )


@_register(
    "w7_rank_fractions",
    """
    SELECT o_orderkey, o_orderpriority,
           ROUND(PERCENT_RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey), 9) AS pr,
           ROUND(CUME_DIST() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey), 9) AS cd
    FROM orders
    """,
)
def w7_rank_fractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist window fractions per priority group
    (tie-free ordering via the orderkey suffix; exact rational values
    rounded identically on both engines)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 9).alias("pr"),
        F.round(F.cume_dist().over(w), 9).alias("cd"),
    )


@_register(
    "j5_salted_join",
    """
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def j5_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted fact join (operators/skew.py): lineitem scattered
    across 8 sub-keys, orders replicated per salt, joined on
    (orderkey, salt). The oracle is the PLAIN join — hash-matching it
    proves salting is semantics-preserving."""
    from hi_csa_db_spark.operators.skew import salted_join

    t = load_tables(spark, sf_dir)
    li = t["lineitem"].select("l_orderkey", "l_extendedprice")
    orders = t["orders"].select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(li, orders, key="l_orderkey", salt_factor=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        _dsum(F.col("l_extendedprice")).alias("sum_price"),
    )


@_register(
    "j8_nearest_click",
    """
    WITH u AS (
      SELECT user_id, epoch_us(ts) AS ts_us, 1 AS is_probe,
             event_id AS pid, CAST(NULL AS BIGINT) AS bid,
             CAST(NULL AS BIGINT) AS bts
      FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, epoch_us(ts), 0, NULL, event_id, epoch_us(ts)
      FROM events WHERE event_type = 'click'
    ),
    f AS (
      SELECT *,
        last_value(bts IGNORE NULLS) OVER w_fwd AS prev_ts,
        last_value(bid IGNORE NULLS) OVER w_fwd AS prev_id,
        first_value(bts IGNORE NULLS) OVER w_bwd AS next_ts,
        first_value(bid IGNORE NULLS) OVER w_bwd AS next_id
      FROM u
      WINDOW
        w_fwd AS (PARTITION BY user_id
                  ORDER BY ts_us ASC, is_probe ASC, bid ASC NULLS LAST
                  ROWS UNBOUNDED PRECEDING),
        w_bwd AS (PARTITION BY user_id
                  ORDER BY ts_us ASC, is_probe ASC, bid ASC NULLS LAST
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT pid AS p_id, user_id, ts_us,
           CASE WHEN next_ts IS NULL
                  OR (prev_ts IS NOT NULL AND ts_us - prev_ts <= next_ts - ts_us)
                THEN prev_id ELSE next_id END AS nearest_event_id,
           CASE WHEN next_ts IS NULL
                  OR (prev_ts IS NOT NULL AND ts_us - prev_ts <= next_ts - ts_us)
                THEN ts_us - prev_ts ELSE next_ts - ts_us END AS gap
    FROM f WHERE is_probe = 1
    """,
)
def j8_nearest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-neighbour temporal join (custom operator — neither
    Spark nor most engines have one built in): each purchase matched
    to the user's closest click in EITHER direction, ties to the
    preceding click. Zero joins: union + tag + one forward and one
    backward ignorenulls window over a single (user, time) sort —
    Catalyst computes both frames in one Window node over one shuffle
    (operators/temporal.nearest_join). The oracle replays the same
    log-structured construction with SQL window frames."""
    from hi_csa_db_spark.operators.temporal import nearest_join

    ev = load_table(spark, sf_dir, "events")
    us = F.expr("ts_ns div 1000").alias("ts_us")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", us
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", us
    )
    out = nearest_join(
        purchases, clicks, key="user_id", ts="ts_us",
        probe_id="event_id", build_id="event_id",
    )
    return out.select(
        F.col("event_id").alias("p_id"),
        "user_id",
        "ts_us",
        "nearest_event_id",
        "gap",
    )


@_register(
    "a2_a4_distinct_and_maxlen",
    """
    SELECT COUNT(DISTINCT source) AS n_sources,
           MAX(len(list_filter(
             string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
             x -> x <> ''))) AS max_tokens
    FROM documents
    """,
)
def a2_a4_distinct_and_maxlen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 single-column distinct count (unique(nrcs.db[,"Practice"]),
    hi-csa-db.Rmd:494) + A4 max array length (ragged-path padding bound,
    hi-csa-db.Rmd:412-413) in one scalar aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    toks = word_tokens(F.col("text"))
    return docs.agg(
        F.countDistinct("source").alias("n_sources"),
        F.max(F.size(toks)).alias("max_tokens"),
    )


@_register(
    "w9_ntile_quartiles",
    """
    WITH ranked AS (
      SELECT c_mktsegment,
             ntile(4) OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal ASC, c_custkey ASC) AS quartile,
             c_acctbal
      FROM customer
    )
    SELECT c_mktsegment, quartile,
           COUNT(*) AS n,
           ROUND(MIN(c_acctbal), 2) AS min_bal,
           ROUND(MAX(c_acctbal), 2) AS max_bal
    FROM ranked
    GROUP BY c_mktsegment, quartile
    """,
)
def w9_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile() bucketing: balance quartiles within each market segment
    — the window-function path to quantile-banded cohorts (exact,
    unlike approx_percentile; deterministic via custkey tie-break).
    One shuffle on the segment key; the quartile groupBy reuses it."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return (
        cust.select(
            "c_mktsegment",
            F.ntile(4).over(w).alias("quartile"),
            "c_acctbal",
        )
        .groupBy("c_mktsegment", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        )
    )


# ---------------------------------------------------------------------------
# r3 scale-operator batch: Bloom-pruned semi join (the dynamic-filter
# pattern), sorted-neighborhood blocking (the third blocking family),
# and HITS (mutually recursive double propagation).
# ---------------------------------------------------------------------------


@_register(
    "j9_bloom_prune_semi",
    """
    SELECT o.o_orderkey, o.o_orderpriority
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
    """,
)
def j9_bloom_prune_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter-pruned semi join (operators/bloomjoin.py): orders
    with at least one near-max-quantity lineitem. The key set is
    hashed into a 2^17-bit filter (3 × xxhash64, pure Catalyst bit
    ops, one hash aggregate) and broadcast as a KB-scale map; probe
    rows failing the filter never reach the join shuffle; survivors
    are re-checked exactly, so the result equals the plain EXISTS the
    oracle runs. This is Spark's InjectRuntimeFilter / Trino's
    dynamic-filter pattern made explicit — at 100 TB it turns a
    full-fact shuffle into a shuffle of the selective fraction."""
    from hi_csa_db_spark.operators.bloomjoin import bloom_semi_join

    t = load_tables(spark, sf_dir)
    keys = t["lineitem"].filter(F.col("l_quantity") >= 49).select("l_orderkey")
    return bloom_semi_join(
        t["orders"], keys, "o_orderkey", "l_orderkey"
    ).select("o_orderkey", "o_orderpriority")


@_register(
    "a11_cms_heavy_hitters",
    """
    WITH toks AS (
      SELECT unnest(list_filter(
        string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '')) AS tok
      FROM documents
    ),
    tot AS (SELECT COUNT(*) // 500 AS t FROM toks)
    SELECT tok, COUNT(*) AS cnt
    FROM toks CROSS JOIN tot
    GROUP BY tok, t
    HAVING COUNT(*) >= t
    ORDER BY cnt DESC, tok ASC
    """,
)
def a11_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via Count-Min Sketch candidates + exact recount.
    The CMS (depth 4 × width 1024, xxhash64 rows) NEVER underestimates
    a count, so every true heavy hitter (count >= total/500) is in the
    candidate set by construction; the exact recount then filters the
    false positives — the final answer EQUALS the plain GROUP BY
    HAVING the oracle runs, which is the point: the sketch is a
    keyspace pruner, not an approximation of the answer. At 100 TB
    the sketch pass aggregates into 4096 cells (map-side combined, a
    KB-scale shuffle) instead of the full token keyspace, and only
    candidate tokens reach the exact pass's shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(word_tokens(F.col("text"))).alias("tok")
    )
    depth, width = 4, 1024
    cells = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        F.pmod(F.xxhash64(F.col("tok"), F.lit(d)), F.lit(width)).alias(
                            "cell"
                        ),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("c")
    ).groupBy("c.d", "c.cell").agg(F.count(F.lit(1)).alias("cc"))
    tot = toks.agg(F.expr("count(1) div 500").alias("t"))
    distinct_toks = toks.distinct()
    probes = distinct_toks.select(
        "tok",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        F.pmod(F.xxhash64(F.col("tok"), F.lit(d)), F.lit(width)).alias(
                            "cell"
                        ),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("p"),
    ).select("tok", "p.d", "p.cell")
    est = (
        probes.join(cells, ["d", "cell"])
        .groupBy("tok")
        .agg(F.min("cc").alias("est"))
    )
    candidates = (
        est.crossJoin(F.broadcast(tot)).filter(F.col("est") >= F.col("t")).select("tok")
    )
    return (
        toks.join(F.broadcast(candidates), "tok", "left_semi")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("cnt") >= F.col("t"))
        .select("tok", "cnt")
        .orderBy(F.col("cnt").desc(), F.col("tok").asc())
    )


@_register(
    "j10_fuzzy_neighbor_join",
    """
    WITH g AS (
      SELECT p_name, CAST(COUNT(*) AS BIGINT) AS grp_n,
             MIN(p_partkey) AS grp_min
      FROM part GROUP BY p_name
    ),
    v AS (
      SELECT p_name,
             unnest(list_distinct(list_transform(
               range(0, length(p_name) + 1),
               i -> CASE WHEN i = 0 THEN p_name
                    ELSE substr(p_name, 1, i - 1)
                         || substr(p_name, i + 1, length(p_name)) END
             ))) AS variant
      FROM g
    ),
    cand AS (
      SELECT DISTINCT a.p_name AS na, b.p_name AS nb
      FROM v a JOIN v b ON a.variant = b.variant AND a.p_name <> b.p_name
    ),
    ok AS (
      SELECT na, nb FROM cand WHERE levenshtein(na, nb) = 1
    ),
    nbr AS (
      SELECT o.na,
             CAST(SUM(g2.grp_n) AS BIGINT) AS n_typo_neighbors,
             CAST(MIN(g2.grp_min) AS BIGINT) AS nearest_neighbor_key
      FROM ok o JOIN g g2 ON g2.p_name = o.nb
      GROUP BY o.na
    )
    SELECT p.p_partkey, n.n_typo_neighbors, n.nearest_neighbor_key
    FROM part p JOIN nbr n ON n.na = p.p_name
    """,
)
def j10_fuzzy_neighbor_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-join at edit distance 1 via SymSpell-style
    DELETION-NEIGHBORHOOD blocking: each name emits itself plus every
    single-character deletion; two names within one edit (insert,
    delete, or substitute) provably share a variant, so the candidate
    equi-join on the variant key is a SUPERSET of the truth, and the
    exact levenshtein verify runs only on candidates — the d2/a11
    candidates-then-exact pattern applied to approximate string
    matching (typo clusters, near-duplicate entity names). Output:
    per part, how many distance-1 neighbors it has and the smallest
    neighboring key.

    Scale shape (r11 rewrite): names are DEDUPED before the variant
    join — the fixture's 20k parts carry only 64 distinct names
    (~312 dups each), so the key-level variant join generated 64.7M
    candidate pairs at sf0.1, nearly all identical-name pairs the
    distance-1 verify rejects anyway (levenshtein = 0). Grouping
    parts by name first (count + min key per name), running the
    variant blocking on DISTINCT names, and re-expanding neighbor
    mass through the name groups is bit-exact (identical names can
    never be distance-1 neighbors) and cuts candidates ~1000x — the
    dedupe-before-fuzzy-join move every entity-resolution stack
    makes; at 100 TB, variant blocking cost scales with the
    VOCABULARY, not the corpus. Variant fan-out stays ~len+1 rows per
    distinct name; candidate generation stays ONE equi-join on the
    variant key — never name x name. The oracle replays the same
    name-level blocking; blocking = brute force stays pinned by
    tests/test_r4c_ops.py::test_fuzzy_blocking_equals_brute_force."""
    part = load_table(spark, sf_dir, "part")
    g = (
        part.groupBy("p_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("grp_n"),
            F.min("p_partkey").alias("grp_min"),
        )
        .localCheckpoint(eager=False)  # 2 consumers: variants + mass
    )
    v = g.select(
        "p_name",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(0, length(p_name)), i -> "
                    "CASE WHEN i = 0 THEN p_name "
                    "ELSE concat(substring(p_name, 1, i - 1), "
                    "substring(p_name, i + 1, length(p_name))) END)"
                )
            )
        ).alias("variant"),
    )
    a = v.select("variant", F.col("p_name").alias("na"))
    b = v.select("variant", F.col("p_name").alias("nb"))
    cand = (
        a.join(b, "variant")
        .filter(F.col("na") != F.col("nb"))
        .select("na", "nb")
        .distinct()
    )
    ok = cand.filter(F.levenshtein("na", "nb") == 1)
    nbr = (
        ok.join(
            g.select(F.col("p_name").alias("nb"), "grp_n", "grp_min"),
            "nb",
        )
        .groupBy("na")
        .agg(
            F.sum("grp_n").cast("bigint").alias("n_typo_neighbors"),
            F.min("grp_min").alias("nearest_neighbor_key"),
        )
    )
    return (
        part.select("p_partkey", "p_name")
        .join(nbr, part["p_name"] == nbr["na"])
        .select("p_partkey", "n_typo_neighbors", "nearest_neighbor_key")
    )


@_register(
    "j11_bucketed_join",
    """
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2))
                    * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2))))
                AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def j11_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact-fact join via bucketed table layout: orders
    and lineitem are written ONCE as bucketed-and-sorted tables
    (bucketBy(8, orderkey) + sortBy, one file per bucket), then the
    join reads both sides already co-partitioned on the join key — no
    Exchange on either input (tests/test_plans.py pins the plan with
    broadcast disabled). The result is value-identical to the plain
    parquet join (the oracle proves it), so this is purely a physical
    layout win.

    This is THE 100 TB pattern for repeated fact-fact joins (SCALE.md):
    pay one bucketed write, then every subsequent join on the key is
    shuffle-free regardless of data size — the Spark-native equivalent
    of the reference keeping its tables keyed on orderkey. The write
    is per-process idempotent (skipped when the table already exists);
    the bucketed copies live under /tmp, never in the repo, and the
    process removes its own copies when it exits.
    Reference: hi-csa-db.Rmd keeps RDS tables re-joined by key across
    chunks; bucketing is the Spark-first re-expression of that reuse."""
    tag = hashlib.md5(f"{sf_dir}|{os.getpid()}".encode()).hexdigest()[:10]
    db = f"bkt_{tag}"
    loc = f"/tmp/spark_graft_buckets/{tag}"
    if not spark.catalog.databaseExists(db):
        atexit.register(shutil.rmtree, loc, ignore_errors=True)
        spark.sql(f"CREATE DATABASE {db} LOCATION '{loc}'")
    for tbl, src, key in (
        ("orders_b", "orders", "o_orderkey"),
        ("lineitem_b", "lineitem", "l_orderkey"),
    ):
        if not spark.catalog.tableExists(f"{db}.{tbl}"):
            (
                load_table(spark, sf_dir, src)
                .repartition(8, F.col(key))  # one file per bucket
                .write.bucketBy(8, key)
                .sortBy(key)
                .mode("overwrite")
                .saveAsTable(f"{db}.{tbl}")
            )
    o = spark.table(f"{db}.orders_b").select("o_orderkey", "o_orderpriority")
    li = spark.table(f"{db}.lineitem_b").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(_disc_price()).cast("double").alias("revenue"),
        )
    )


@_register(
    "a14_grouped_median",
    """
    WITH o AS (
      SELECT o_orderpriority AS pri,
             CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) AS cents
      FROM orders
    ),
    byv AS (SELECT pri, cents, COUNT(*) AS ct FROM o GROUP BY pri, cents),
    cum AS (
      SELECT pri, cents, ct,
             SUM(ct) OVER (PARTITION BY pri ORDER BY cents) AS cw,
             SUM(ct) OVER (PARTITION BY pri) AS tot
      FROM byv
    )
    SELECT pri AS o_orderpriority,
           CAST(MIN(tot) AS BIGINT) AS n_orders,
           CAST(MIN(CASE WHEN 2 * cw >= tot THEN cents END) AS BIGINT)
             AS median_cents
    FROM cum GROUP BY pri
    """,
)
def a14_grouped_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group median (lower median, an actual data value —
    no interpolation): order totalprice cents per priority class.
    The grouped counterpart of a9's weighted median, selected by the
    same integer rule (smallest value whose within-group cumulative
    weight satisfies 2·cw >= total).

    Scale shape: the oracle's per-group windows are the semantic
    spec; the plan computes per-group cumulatives WITHOUT
    partition-per-group windows (5 groups would mean 5-way skew):
    ONE global_prefix_sums over the (pri, cents) struct order, then
    per-group start offsets (|groups| rows) subtracted via broadcast
    join — every stage parallel regardless of group sizes."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        (F.col("o_totalprice").cast("decimal(15,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    byv = o.groupBy("pri", "cents").agg(F.count(F.lit(1)).alias("ct"))
    keyed = byv.select(
        F.struct(F.col("pri").alias("p"), F.col("cents").alias("c")).alias(
            "__k"
        ),
        "pri",
        "cents",
        "ct",
    )
    g = ordered.global_prefix_sums(keyed, "__k", ["ct"])
    tots = byv.groupBy("pri").agg(F.sum("ct").alias("tot"))
    # start offset of each group in the global (pri, cents) order =
    # total count of all lexicographically smaller groups (tiny
    # triangular broadcast join over |groups| rows)
    offs = (
        tots.alias("a")
        .join(
            F.broadcast(tots.alias("b")),
            F.col("b.pri") < F.col("a.pri"),
            "left",
        )
        .groupBy(F.col("a.pri").alias("pri"), F.col("a.tot").alias("tot"))
        .agg(F.coalesce(F.sum("b.tot"), F.lit(0)).alias("off"))
    )
    wg = g.join(F.broadcast(offs), "pri").select(
        "pri",
        "cents",
        "tot",
        (F.col("cum_ct") - F.col("off")).alias("cw"),
    )
    return (
        wg.filter(2 * F.col("cw") >= F.col("tot"))
        .groupBy(F.col("pri").alias("o_orderpriority"))
        .agg(
            F.min("tot").cast("bigint").alias("n_orders"),
            F.min("cents").cast("bigint").alias("median_cents"),
        )
    )


@_register(
    "a15_bitmap_distinct",
    """
    WITH words AS (
      SELECT event_type, user_id // 32 AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT)) AS bits
      FROM events GROUP BY event_type, user_id // 32
    )
    SELECT event_type,
           CAST(SUM(bit_count(bits)) AS BIGINT) AS n_users_bitmap,
           (SELECT COUNT(DISTINCT user_id) FROM events e
            WHERE e.event_type = words.event_type) AS n_users_check
    FROM words GROUP BY event_type
    """,
)
def a15_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via integer bitmaps (the roaring-bitmap
    pattern in pure SQL): users bucketed into 32-bit words
    (shift <= 31 stays positive in every engine's signed BIGINT), one
    bit_or per (stream, word), popcount-summed — for dense integer id
    spaces this shuffles |groups|·(id_range/32) LONGS instead of
    every distinct (group, id) pair, and unlike HLL (a12) it is
    EXACT. The n_users_check column recomputes via plain
    countDistinct, so the bitmap identity is proven inside the
    result.

    Scale shape: one groupBy with map-side bit_or combine (words
    merge associatively on partial aggregates), then a tiny popcount
    rollup; the check column is the ordinary distinct shuffle it
    replaces."""
    ev = load_table(spark, sf_dir, "events")
    words = ev.groupBy(
        "event_type", F.expr("user_id div 32").alias("word")
    ).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT)))"
        ).alias("bits")
    )
    bm = words.groupBy("event_type").agg(
        F.sum(F.bit_count("bits")).cast("bigint").alias("n_users_bitmap")
    )
    chk = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users_check")
    )
    return bm.join(chk, "event_type")


@_register(
    "a16_bitmap_set_ops",
    """
    WITH w AS (
      SELECT event_type, user_id // 32 AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT)) AS bits
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY event_type, user_id // 32
    ),
    p AS (
      SELECT word,
             COALESCE(MAX(CASE WHEN event_type = 'click' THEN bits END), 0) AS cb,
             COALESCE(MAX(CASE WHEN event_type = 'purchase' THEN bits END), 0) AS pb
      FROM w GROUP BY word
    )
    SELECT CAST(SUM(bit_count(cb)) AS BIGINT) AS clickers,
           CAST(SUM(bit_count(pb)) AS BIGINT) AS purchasers,
           CAST(SUM(bit_count(cb & pb)) AS BIGINT) AS both_users,
           CAST(SUM(bit_count(cb | pb)) AS BIGINT) AS either_users,
           CAST(SUM(bit_count(cb & pb)) * 1000000
                // SUM(bit_count(cb | pb)) AS BIGINT) AS overlap_jaccard_micro
    FROM p
    """,
)
def a16_bitmap_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap via bitmap SET OPERATIONS (a15's words turned
    into an algebra): clickers ∩ purchasers and ∪ computed as
    word-wise AND/OR of the 32-bit user bitmaps — exact distinct set
    arithmetic without ever shuffling user-id pairs, the
    roaring-bitmap audience-segmentation pattern. Jaccard overlap as
    an integer micro ratio.

    Scale shape: one bitmap aggregate per segment (map-side bit_or
    combine), one word-aligned pivot join, popcount rollup — the
    set-op cost is |id_range|/32 longs regardless of event volume."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = ev.groupBy(
        "event_type", F.expr("user_id div 32").alias("word")
    ).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT)))"
        ).alias("bits")
    )
    p = w.groupBy("word").agg(
        F.coalesce(
            F.max(F.when(F.col("event_type") == "click", F.col("bits"))),
            F.lit(0),
        ).alias("cb"),
        F.coalesce(
            F.max(F.when(F.col("event_type") == "purchase", F.col("bits"))),
            F.lit(0),
        ).alias("pb"),
    )
    return p.agg(
        F.sum(F.bit_count("cb")).cast("bigint").alias("clickers"),
        F.sum(F.bit_count("pb")).cast("bigint").alias("purchasers"),
        F.sum(F.bit_count(F.col("cb").bitwiseAND(F.col("pb"))))
        .cast("bigint")
        .alias("both_users"),
        F.sum(F.bit_count(F.col("cb").bitwiseOR(F.col("pb"))))
        .cast("bigint")
        .alias("either_users"),
    ).select(
        "clickers",
        "purchasers",
        "both_users",
        "either_users",
        F.expr(
            "CAST(both_users * 1000000 div either_users AS BIGINT)"
        ).alias("overlap_jaccard_micro"),
    )


@_register(
    "w11_grouped_percentiles",
    """
    WITH o AS (
      SELECT event_type AS grp,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    byv AS (SELECT grp, cents, COUNT(*) AS ct FROM o GROUP BY grp, cents),
    cum AS (
      SELECT grp, cents, ct,
             SUM(ct) OVER (PARTITION BY grp ORDER BY cents) AS cw,
             SUM(ct) OVER (PARTITION BY grp) AS tot
      FROM byv
    )
    SELECT grp AS event_type,
           CAST(MIN(tot) AS BIGINT) AS n_events,
           CAST(MIN(CASE WHEN 10 * cw >= tot THEN cents END) AS BIGINT) AS p10_cents,
           CAST(MIN(CASE WHEN 2 * cw >= tot THEN cents END) AS BIGINT) AS p50_cents,
           CAST(MIN(CASE WHEN 10 * cw >= 9 * tot THEN cents END) AS BIGINT) AS p90_cents
    FROM cum GROUP BY grp
    """,
)
def w11_grouped_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quantiles (p10/p50/p90 of event value per
    stream) by the integer rank rule k·cw >= q·tot — actual data
    values, no interpolation, a14's grouped-median machinery
    generalized to any quantile set: ONE global_prefix_sums over the
    (group, value) struct order + per-group offsets via a broadcast
    triangular join — never a partition-per-group window (the
    oracle's per-group windows are the semantic spec). The
    latency-percentile / SLA report shape at corpus scale.

    All integer: cents values, counts, rank tests."""
    ev = load_table(spark, sf_dir, "events")
    o = ev.select(
        F.col("event_type").alias("grp"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    byv = o.groupBy("grp", "cents").agg(F.count(F.lit(1)).alias("ct"))
    keyed = byv.select(
        F.struct(F.col("grp").alias("g"), F.col("cents").alias("c")).alias(
            "__k"
        ),
        "grp",
        "cents",
        "ct",
    )
    g = ordered.global_prefix_sums(keyed, "__k", ["ct"])
    tots = byv.groupBy("grp").agg(F.sum("ct").alias("tot"))
    offs = (
        tots.alias("a")
        .join(
            F.broadcast(tots.alias("b")),
            F.col("b.grp") < F.col("a.grp"),
            "left",
        )
        .groupBy(F.col("a.grp").alias("grp"), F.col("a.tot").alias("tot"))
        .agg(F.coalesce(F.sum("b.tot"), F.lit(0)).alias("off"))
    )
    wg = g.join(F.broadcast(offs), "grp").select(
        "grp",
        "cents",
        "tot",
        (F.col("cum_ct") - F.col("off")).alias("cw"),
    )
    return (
        wg.groupBy(F.col("grp").alias("event_type"))
        .agg(
            F.min("tot").cast("bigint").alias("n_events"),
            F.min(
                F.when(10 * F.col("cw") >= F.col("tot"), F.col("cents"))
            )
            .cast("bigint")
            .alias("p10_cents"),
            F.min(F.when(2 * F.col("cw") >= F.col("tot"), F.col("cents")))
            .cast("bigint")
            .alias("p50_cents"),
            F.min(
                F.when(10 * F.col("cw") >= 9 * F.col("tot"), F.col("cents"))
            )
            .cast("bigint")
            .alias("p90_cents"),
        )
    )
@_register(
    "j13_nullsafe_join",
    """
    WITH a AS (
      SELECT o_orderkey,
             CASE WHEN o_custkey % 97 = 0 THEN NULL ELSE o_custkey END AS k
      FROM orders
    ),
    b AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 89 = 0 THEN NULL ELSE c_custkey END AS k
      FROM customer
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM a JOIN b ON a.k = b.k)
        AS matched_regular,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM a JOIN b
        ON a.k IS NOT DISTINCT FROM b.k) AS matched_nullsafe,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM a WHERE k IS NULL)
        * (SELECT CAST(COUNT(*) AS BIGINT) FROM b WHERE k IS NULL)
        AS null_x_null_pairs
    """,
)
def j13_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe join semantics made explicit: the same key join run
    with ordinary equality (NULL never matches — the silent row-loss
    mode when a dirty key column holds NULLs) and with Spark's `<=>`
    (IS NOT DISTINCT FROM), whose difference must equal EXACTLY
    |a NULLs| x |b NULLs| — the identity the result carries as its
    own proof. The dirty keys are derived deterministically from the
    fixture (every 97th/89th key nulled).

    Scale note: `<=>` keys hash NULL as a regular value, so the
    null-safe join stays a hash equi-join — but ALL null rows land in
    ONE bucket, the skew to salt (j5) when null rates are high."""
    o = load_table(spark, sf_dir, "orders").select(
        F.when(F.col("o_custkey") % 97 == 0, None)
        .otherwise(F.col("o_custkey"))
        .alias("ka")
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.when(F.col("c_custkey") % 89 == 0, None)
        .otherwise(F.col("c_custkey"))
        .alias("kb")
    )
    reg = o.join(c, F.col("ka") == F.col("kb")).agg(
        F.count(F.lit(1)).cast("bigint").alias("matched_regular")
    )
    ns = o.join(c, F.col("ka").eqNullSafe(F.col("kb"))).agg(
        F.count(F.lit(1)).cast("bigint").alias("matched_nullsafe")
    )
    an = o.filter(F.col("ka").isNull()).agg(
        F.count(F.lit(1)).alias("na")
    )
    bn = c.filter(F.col("kb").isNull()).agg(
        F.count(F.lit(1)).alias("nb")
    )
    return (
        reg.crossJoin(F.broadcast(ns))
        .crossJoin(F.broadcast(an))
        .crossJoin(F.broadcast(bn))
        .select(
            "matched_regular",
            "matched_nullsafe",
            (F.col("na") * F.col("nb")).cast("bigint").alias(
                "null_x_null_pairs"
            ),
        )
    )


@_register(
    "a17_audience_matrix",
    """
    WITH w AS (
      SELECT event_type, user_id // 32 AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT)) AS bits
      FROM events GROUP BY event_type, user_id // 32
    ),
    c AS (SELECT event_type, CAST(SUM(bit_count(bits)) AS BIGINT) AS n
          FROM w GROUP BY event_type),
    j AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(SUM(bit_count(a.bits & b.bits)) AS BIGINT) AS inter_u
      FROM w a JOIN w b ON a.word = b.word AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT ca.event_type AS type_a, cb.event_type AS type_b,
           ca.n AS n_a, cb.n AS n_b,
           COALESCE(j.inter_u, 0) AS inter_users,
           ca.n + cb.n - COALESCE(j.inter_u, 0) AS union_users,
           CAST(COALESCE(j.inter_u, 0) * 1000000
                // (ca.n + cb.n - COALESCE(j.inter_u, 0)) AS BIGINT)
             AS jaccard_micro
    FROM c ca JOIN c cb ON ca.event_type < cb.event_type
    LEFT JOIN j ON j.type_a = ca.event_type AND j.type_b = cb.event_type
    """,
)
def a17_audience_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full audience-overlap MATRIX — a16's single click∩purchase
    pair generalized to every segment pair: per (type_a < type_b),
    exact distinct users of each side, the intersection via word-wise
    bitmap AND, the union by inclusion-exclusion (never a word-level
    OR, so missing words on one side need no zero-fill), and Jaccard
    in integer millionths. The audience-segmentation cross-tab an
    activation/retention analysis starts from.

    Scale shape: ONE bitmap aggregate over the corpus feeds both the
    per-segment counts and the pair join; the word-aligned self-join
    is |types|² bounded per word and the final matrix is
    |types|²-row. Zero user-id pairs are ever shuffled."""
    ev = load_table(spark, sf_dir, "events")
    w = ev.groupBy(
        "event_type", F.expr("user_id div 32").alias("word")
    ).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT)))"
        ).alias("bits")
    ).localCheckpoint(eager=False)
    c = w.groupBy("event_type").agg(
        F.sum(F.bit_count("bits")).cast("bigint").alias("n")
    )
    a = w.select(
        F.col("event_type").alias("type_a"), "word", F.col("bits").alias("ba")
    )
    b = w.select(
        F.col("event_type").alias("type_b"), "word", F.col("bits").alias("bb")
    )
    j = (
        a.join(b, "word")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(F.bit_count(F.col("ba").bitwiseAND(F.col("bb"))))
            .cast("bigint")
            .alias("inter_u")
        )
    )
    ca = c.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    cb = c.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    base = ca.crossJoin(cb).filter(F.col("type_a") < F.col("type_b"))
    out = base.join(F.broadcast(j), ["type_a", "type_b"], "left").select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        F.coalesce("inter_u", F.lit(0)).cast("bigint").alias("inter_users"),
        (F.col("n_a") + F.col("n_b") - F.coalesce("inter_u", F.lit(0)))
        .cast("bigint")
        .alias("union_users"),
    )
    return out.withColumn(
        "jaccard_micro",
        F.expr("CAST(inter_users * 1000000 div union_users AS BIGINT)"),
    )


@_register(
    "a18_log_histogram_quantiles",
    """
    WITH d AS (
      SELECT event_type, CAST(FLOOR(value * 1000000) AS BIGINT) AS m
      FROM events
    ),
    r AS (
      SELECT event_type, m,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY m) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM d
    ),
    exact AS (
      SELECT event_type,
             CAST(MAX(n) AS BIGINT) AS n_rows,
             CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN m END) AS BIGINT)
               AS exact_p50_micro,
             CAST(MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN m END) AS BIGINT)
               AS exact_p90_micro,
             CAST(MAX(CASE WHEN rn = (99 * n + 99) // 100 THEN m END) AS BIGINT)
               AS exact_p99_micro
      FROM r GROUP BY event_type
    ),
    b AS (
      SELECT event_type, digits, f2, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(CONCAT(CAST(f2 + 1 AS VARCHAR),
                         REPEAT('0', GREATEST(digits - 2, 0))) AS BIGINT)
               AS ub_micro
      FROM (
        SELECT event_type,
               LENGTH(CAST(m AS VARCHAR)) AS digits,
               CAST(SUBSTR(CAST(m AS VARCHAR), 1, 2) AS BIGINT) AS f2
        FROM d
      )
      GROUP BY event_type, digits, f2
    ),
    cum AS (
      SELECT event_type, ub_micro,
             SUM(cnt) OVER (PARTITION BY event_type
                            ORDER BY digits, f2) AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM b
    ),
    est AS (
      SELECT event_type,
             CAST(MIN(CASE WHEN cum >= (n + 1) // 2 THEN ub_micro END)
               AS BIGINT) AS est_p50_micro,
             CAST(MIN(CASE WHEN cum >= (9 * n + 9) // 10 THEN ub_micro END)
               AS BIGINT) AS est_p90_micro,
             CAST(MIN(CASE WHEN cum >= (99 * n + 99) // 100 THEN ub_micro END)
               AS BIGINT) AS est_p99_micro,
             CAST(COUNT(*) AS BIGINT) AS n_buckets
      FROM cum GROUP BY event_type
    )
    SELECT e.event_type, x.n_rows, e.n_buckets,
           e.est_p50_micro, x.exact_p50_micro,
           e.est_p90_micro, x.exact_p90_micro,
           e.est_p99_micro, x.exact_p99_micro
    FROM est e JOIN exact x ON x.event_type = e.event_type
    """,
)
def a18_log_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable log-bucket quantile sketch (DDSketch idea, decimal
    flavor) with an exact audit: each value is floored to integer
    micro-units and bucketed by its two leading decimal digits plus
    magnitude — a fixed ~±5%-relative-error histogram whose buckets
    are pure integer/string arithmetic (no libm log), so the sketch is
    bit-identical on both engines AND mergeable across partitions/
    days (bucket counts are a plain map-side-combined groupBy, the
    property HLL/CMS give distincts/frequencies, extended here to
    quantiles). Estimated p50/p90/p99 = upper bound of the first
    bucket whose cumulative count reaches ceil(q*n); the exact
    discrete quantiles computed the expensive way sit alongside, per
    event_type, to show the error you buy.

    Scale: the sketch path is one narrow projection + a bounded
    groupBy (|types| x ~90 buckets x magnitudes) — the 100 TB path.
    The exact columns are the AUDIT (a per-type global sort, the s9
    recall-report idiom): at scale you ship the sketch and run the
    audit on a sample."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "event_type", F.floor(F.col("value") * 1000000).cast("bigint").alias("m")
    )
    wt = Window.partitionBy("event_type").orderBy("m")
    r = d.select(
        "event_type",
        "m",
        F.row_number().over(wt).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .alias("n"),
    )
    exact = r.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_rows"),
        F.max(F.expr("CASE WHEN rn = (n + 1) div 2 THEN m END"))
        .cast("bigint")
        .alias("exact_p50_micro"),
        F.max(F.expr("CASE WHEN rn = (9 * n + 9) div 10 THEN m END"))
        .cast("bigint")
        .alias("exact_p90_micro"),
        F.max(F.expr("CASE WHEN rn = (99 * n + 99) div 100 THEN m END"))
        .cast("bigint")
        .alias("exact_p99_micro"),
    )
    b = (
        d.select(
            "event_type",
            F.length(F.col("m").cast("string")).alias("digits"),
            F.substring(F.col("m").cast("string"), 1, 2)
            .cast("bigint")
            .alias("f2"),
        )
        .groupBy("event_type", "digits", "f2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .withColumn(
            "ub_micro",
            F.concat(
                (F.col("f2") + 1).cast("string"),
                F.expr("repeat('0', GREATEST(digits - 2, 0))"),
            ).cast("bigint"),
        )
    )
    wb = Window.partitionBy("event_type").orderBy("digits", "f2")
    cum = b.select(
        "event_type",
        "ub_micro",
        F.sum("cnt").over(wb).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("event_type")).alias("n"),
    )
    est = cum.groupBy("event_type").agg(
        F.min(F.expr("CASE WHEN cum >= (n + 1) div 2 THEN ub_micro END"))
        .cast("bigint")
        .alias("est_p50_micro"),
        F.min(F.expr("CASE WHEN cum >= (9 * n + 9) div 10 THEN ub_micro END"))
        .cast("bigint")
        .alias("est_p90_micro"),
        F.min(F.expr("CASE WHEN cum >= (99 * n + 99) div 100 THEN ub_micro END"))
        .cast("bigint")
        .alias("est_p99_micro"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "n_rows",
        "n_buckets",
        "est_p50_micro",
        "exact_p50_micro",
        "est_p90_micro",
        "exact_p90_micro",
        "est_p99_micro",
        "exact_p99_micro",
    )


@_register(
    "j14_selfjoin_size_estimate",
    """
    WITH counts AS (
      SELECT l_partkey AS key, CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY l_partkey
    ),
    exact AS (SELECT CAST(SUM(c * c) AS BIGINT) AS exact_pairs FROM counts),
    cells AS (
      SELECT h.d, ((((((counts.key & 4294967295) >> 16) * h.a) & 4294967295) * 65536 + ((counts.key & 65535) * h.a)) & 4294967295) % 256 AS cell,
             CAST(SUM(c) AS BIGINT) AS cc
      FROM counts CROSS JOIN (VALUES (0, 2654435761), (1, 2246822519),
                                     (2, 3266489917), (3, 668265263)) AS h(d, a)
      GROUP BY h.d, cell
    ),
    ests AS (SELECT d, CAST(SUM(cc * cc) AS BIGINT) AS est FROM cells GROUP BY d),
    best AS (SELECT CAST(MIN(est) AS BIGINT) AS cms_est FROM ests)
    SELECT CAST(4 AS BIGINT) AS depth, CAST(256 AS BIGINT) AS width,
           e.exact_pairs, b.cms_est,
           CAST((b.cms_est - e.exact_pairs) * 10000 // e.exact_pairs AS BIGINT)
             AS over_bps
    FROM exact e CROSS JOIN best b
    """,
)
def j14_selfjoin_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from Count-Min sketches — the
    planner primitive behind 'should this self-join be attempted':
    |R join R on key| = sum over keys of c(k)^2 exactly, and the CMS
    inner-product estimate min over rows of sum over cells of
    cell_count^2 — computed from a depth-4 x width-256 sketch whose
    rows use fixed odd multiplicative hash constants (Knuth/xxhash
    primes mod 2^32), so both engines build bit-identical sketches
    (a11's xxhash rows are Spark-only; an ESTIMATE in the output
    needs a portable hash). CMS inner products never underestimate,
    so over_bps quantifies exactly how pessimistic the 4 KB sketch is
    vs the true pair count.

    Scale: the sketch collapses an unbounded keyspace into 1024
    cells (map-side combined, KB-scale shuffle) — at 100 TB you price
    a join by merging per-partition sketches, never by counting keys;
    the exact column is the audit, derived here from the same bounded
    per-key count table."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy(F.col("l_partkey").alias("key")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    exact = counts.agg(
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("exact_pairs")
    )
    hashes = [(0, 2654435761), (1, 2246822519), (2, 3266489917), (3, 668265263)]
    cells = (
        counts.select(
            "c",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("d"),
                            F.pmod(
                                mult_hash32(F.col("key"), a),
                                F.lit(256),
                            ).alias("cell"),
                        )
                        for d, a in hashes
                    ]
                )
            ).alias("h"),
        )
        .groupBy("h.d", "h.cell")
        .agg(F.sum("c").cast("bigint").alias("cc"))
    )
    ests = cells.groupBy("d").agg(
        F.sum(F.col("cc") * F.col("cc")).cast("bigint").alias("est")
    )
    best = ests.agg(F.min("est").cast("bigint").alias("cms_est"))
    return (
        exact.crossJoin(F.broadcast(best))
        .select(
            F.lit(4).cast("bigint").alias("depth"),
            F.lit(256).cast("bigint").alias("width"),
            "exact_pairs",
            "cms_est",
            F.expr(
                "CAST((cms_est - exact_pairs) * 10000 div exact_pairs AS BIGINT)"
            ).alias("over_bps"),
        )
    )


@_register(
    "j15_association_rules",
    """
    WITH baskets AS (
      SELECT l_orderkey, list_sort(list_distinct(list(l_partkey))) AS parts
      FROM lineitem GROUP BY l_orderkey
    ),
    n AS (SELECT COUNT(*) AS n_baskets FROM baskets),
    item AS (
      SELECT part, COUNT(*) AS supp
      FROM (SELECT unnest(parts) AS part FROM baskets) GROUP BY part
    ),
    pair AS (
      SELECT a AS p1, b AS p2, COUNT(*) AS supp_ab
      FROM (
        SELECT unnest(parts) AS a, l_orderkey FROM baskets
      ) x JOIN (
        SELECT unnest(parts) AS b, l_orderkey FROM baskets
      ) y ON x.l_orderkey = y.l_orderkey AND x.a < y.b
      GROUP BY 1, 2
    ),
    top_pairs AS (
      SELECT p1, p2, supp_ab FROM pair
      ORDER BY supp_ab DESC, p1 ASC, p2 ASC LIMIT 10
    ),
    rules AS (
      SELECT t.p1 AS antecedent, t.p2 AS consequent, t.supp_ab,
             ia.supp AS supp_a, ib.supp AS supp_b
      FROM top_pairs t JOIN item ia ON ia.part = t.p1
                       JOIN item ib ON ib.part = t.p2
      UNION ALL
      SELECT t.p2, t.p1, t.supp_ab, ib.supp, ia.supp
      FROM top_pairs t JOIN item ia ON ia.part = t.p1
                       JOIN item ib ON ib.part = t.p2
    )
    SELECT CAST(antecedent AS BIGINT) AS antecedent,
           CAST(consequent AS BIGINT) AS consequent,
           CAST(supp_ab AS BIGINT) AS supp_ab,
           CAST(supp_ab * 1000000 // supp_a AS BIGINT) AS conf_micro,
           CAST(supp_ab * (SELECT n_baskets FROM n) * 1000
                // (supp_a * supp_b) AS BIGINT) AS lift_milli
    FROM rules
    """,
)
def j15_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over the j7 basket shape: for the 10 most
    co-bought part pairs, BOTH directed rules A=>B with confidence
    (supp_ab/supp_a in exact micro) and lift
    (supp_ab*N / (supp_a*supp_b) in exact milli — >1000 means the
    pair co-occurs more than independence predicts). Pure integer
    floor arithmetic end to end, so both engines emit identical
    rules; j7 stops at support, this adds the strength metrics a
    recommender actually ranks by.

    Scale: baskets aggregate once (bounded arrays); pair generation
    is the per-basket O(k^2) explode (j7's shape, never a fact-table
    self-join); item supports are one map-combined count; rules touch
    only the 10-row top set joined against the item table."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    ).localCheckpoint(eager=False)
    n = baskets.agg(F.count(F.lit(1)).alias("n_baskets"))
    item = (
        baskets.select(F.explode("parts").alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("supp"))
    )
    pair = (
        baskets.select(
            F.explode("parts").alias("a"), "parts"
        )
        .select("a", F.explode(F.filter("parts", lambda p: p > F.col("a"))).alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("supp_ab"))
    )
    top_pairs = pair.orderBy(
        F.col("supp_ab").desc(), F.col("a").asc(), F.col("b").asc()
    ).limit(10)
    ia = item.select(F.col("part").alias("a"), F.col("supp").alias("supp_a"))
    ib = item.select(F.col("part").alias("b"), F.col("supp").alias("supp_b"))
    joined = top_pairs.join(F.broadcast(ia), "a").join(F.broadcast(ib), "b")
    fwd = joined.select(
        F.col("a").alias("antecedent"),
        F.col("b").alias("consequent"),
        "supp_ab",
        F.col("supp_a").alias("sa"),
        F.col("supp_b").alias("sb"),
    )
    rev = joined.select(
        F.col("b").alias("antecedent"),
        F.col("a").alias("consequent"),
        "supp_ab",
        F.col("supp_b").alias("sa"),
        F.col("supp_a").alias("sb"),
    )
    return (
        fwd.unionByName(rev)
        .crossJoin(F.broadcast(n))
        .select(
            F.col("antecedent").cast("bigint").alias("antecedent"),
            F.col("consequent").cast("bigint").alias("consequent"),
            F.col("supp_ab").cast("bigint").alias("supp_ab"),
            F.expr("CAST(supp_ab * 1000000 div sa AS BIGINT)").alias(
                "conf_micro"
            ),
            F.expr(
                "CAST(supp_ab * n_baskets * 1000 div (sa * sb) AS BIGINT)"
            ).alias("lift_milli"),
        )
    )


@_register(
    "j16_salting_plan",
    """
    WITH c AS (
      SELECT user_id, COUNT(*) AS cnt
      FROM events GROUP BY user_id
    ),
    p AS (
      SELECT user_id, cnt,
             CAST((cnt + 39) // 40 AS BIGINT) AS salt_count,
             CAST((cnt + ((cnt + 39) // 40) - 1) // ((cnt + 39) // 40)
                  AS BIGINT) AS max_rows_per_task
      FROM c
    ),
    tot AS (
      SELECT CAST(SUM(salt_count) AS BIGINT) AS total_build_replication,
             CAST(MAX(max_rows_per_task) AS BIGINT) AS post_salt_max_rows
      FROM p
    )
    SELECT p.user_id, CAST(p.cnt AS BIGINT) AS cnt, p.salt_count,
           p.max_rows_per_task,
           t.total_build_replication, t.post_salt_max_rows
    FROM p CROSS JOIN tot t
    ORDER BY p.cnt DESC, p.user_id ASC LIMIT 20
    """,
)
def j16_salting_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Actionable skew-SALTING plan for a prospective join on
    events.user_id — the planning layer above dq4_skew_report's
    diagnosis: per key, the salt fan-out that caps any single
    (key, salt) task at ~40 rows (salt_count = ceil(cnt/40)) and the
    resulting worst task size (ceil(cnt/salt_count)); globally, the
    build-side replication the plan costs (a broadcast/dim row must
    be duplicated salt_count times) and the post-salt maximum task
    size the executor actually sees. Pure integer ceil-division —
    no float enters the plan.

    Scale shape: one map-combined key count, a narrow projection, a
    1-row broadcast total (the no-driver-count idiom), top-20 hot
    keys via TakeOrderedAndProject. The plan table is what a 100 TB
    job submits as its skew hints (or feeds to AQE as a check that
    runtime skew-split agrees with the static plan)."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    salt = F.expr("CAST((cnt + 39) div 40 AS BIGINT)")
    p = c.select(
        "user_id",
        F.col("cnt").cast("bigint").alias("cnt"),
        salt.alias("salt_count"),
    ).withColumn(
        "max_rows_per_task",
        F.expr("CAST((cnt + salt_count - 1) div salt_count AS BIGINT)"),
    )
    tot = p.agg(
        F.sum("salt_count").cast("bigint").alias("total_build_replication"),
        F.max("max_rows_per_task").cast("bigint").alias("post_salt_max_rows"),
    )
    return (
        p.crossJoin(F.broadcast(tot))
        .orderBy(F.col("cnt").desc(), F.col("user_id").asc())
        .limit(20)
    )


@_register(
    "a19_hll_rolling_distinct",
    """
    WITH h AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 2)
                  AS BIGINT) AS bucket,
             CAST('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 3, 13)
                  AS BIGINT) AS rem
      FROM orders
    ),
    daily AS (
      SELECT day, bucket,
             MAX(CASE WHEN rem = 0 THEN 50
                      ELSE least(53 - length(bin(rem)), 50) END) AS m
      FROM h GROUP BY day, bucket
    ),
    grid AS (
      SELECT d.day, date_diff('day', DATE '1970-01-01', d.day) AS day_n,
             b.bucket
      FROM (SELECT DISTINCT day FROM daily) d
      CROSS JOIN (SELECT CAST(range AS BIGINT) AS bucket
                  FROM range(0, 256)) b
    ),
    rolled AS (
      SELECT g.day, g.bucket,
             MAX(m) OVER (PARTITION BY g.bucket ORDER BY g.day_n
                          RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS m
      FROM grid g LEFT JOIN daily dd
        ON dd.day = g.day AND dd.bucket = g.bucket
    ),
    s AS (
      SELECT day,
             CAST(SUM(CASE WHEN m IS NULL THEN CAST(1 AS BIGINT) << 50
                           ELSE CAST(1 AS BIGINT) << (50 - m) END)
                  AS BIGINT) AS ssum
      FROM rolled GROUP BY day
    ),
    x AS (
      SELECT d.day, COUNT(DISTINCT o.o_custkey) AS n_exact
      FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS day FROM orders) d
      JOIN orders o
        ON CAST(o.o_orderdate AS DATE) <= d.day
       AND CAST(o.o_orderdate AS DATE) >= d.day - INTERVAL 6 DAY
      GROUP BY d.day
    )
    SELECT s.day,
           CAST(floor((0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
                      * CAST(CAST(1 AS BIGINT) << 50 AS DOUBLE)
                      / CAST(ssum AS DOUBLE)) AS BIGINT) AS hll_rolling,
           CAST(x.n_exact AS BIGINT) AS n_exact
    FROM s JOIN x USING (day)
    ORDER BY s.day ASC LIMIT 60
    """,
)
def a19_hll_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING 7-day distinct customers from MERGEABLE deterministic
    HLL registers (a12's md5 + integer-register algebra, lifted to a
    sliding window): per (day, bucket) daily register maxes merge
    into the window estimate via MAX over a RANGE frame — register
    merge IS max, so the rolling sketch costs one bounded window
    pass instead of re-scanning 7 days of raw orders per day. The
    exact rolling distinct rides along as the calibration audit
    (a12's n_exact pattern).

    Determinism: identical md5-derived registers and integer
    harmonic sums on both engines; the single float step (alpha *
    m^2 / S) is IEEE ops on exact inputs. First 60 days emitted,
    day-ordered.

    Scale shape: daily registers are a map-combined (day, bucket)
    max — at most days x 256 rows survive; the day-grid cross join
    and the rolling window run over that bounded register table
    (window partitioned BY BUCKET, day-ordered — parallel in the
    256 buckets, never a corpus-sized frame). The exact audit joins
    a broadcast day dimension against orders once; production drops
    the audit column and keeps the sketch."""
    o = load_table(spark, sf_dir, "orders")
    keyed = o.select(
        F.col("o_orderdate").cast("date").alias("day"),
        *hll_bucket_rem(F.col("o_custkey")),
        "o_custkey",
    )
    daily = (
        keyed.groupBy("day", "bucket")
        .agg(F.max(hll_rank(F.col("rem"))).alias("m"))
        .localCheckpoint(eager=False)  # grid + rolled both consume it
    )
    days = daily.select("day").distinct().withColumn(
        "day_n", F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
    )
    buckets = spark.range(256).select(F.col("id").alias("bucket"))
    grid = days.crossJoin(buckets)
    w = (
        Window.partitionBy("bucket")
        .orderBy("day_n")
        .rangeBetween(-6, 0)
    )
    rolled = (
        grid.join(daily, ["day", "bucket"], "left")
        .withColumn("mm", F.max("m").over(w))
    )
    # the grid holds all 256 buckets of each day, so the NULL-register
    # terms are exactly the (256 - count(mm)) of hll_harmonic_sum
    s = rolled.groupBy("day").agg(hll_harmonic_sum("mm").alias("ssum"))
    exact = (
        days.select("day")
        .join(
            keyed.select(F.col("day").alias("od"), "o_custkey"),
            (F.col("od") <= F.col("day"))
            & (F.col("od") >= F.date_sub(F.col("day"), 6)),
        )
        .groupBy("day")
        .agg(F.countDistinct("o_custkey").cast("long").alias("n_exact"))
    )
    return (
        s.join(exact, "day")
        .select("day", hll_estimate(F.col("ssum")).alias("hll_rolling"), "n_exact")
        .orderBy(F.col("day").asc())
        .limit(60)
    )


@_register(
    "a20_minhash_set_ops",
    """
    WITH lab AS (
      SELECT DISTINCT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
             o_custkey,
             CAST('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 15)
                  AS BIGINT) AS h
      FROM orders
      WHERE EXTRACT(year FROM o_orderdate) IN (1995, 1996)
    ),
    mins AS (
      SELECT yr, h % 64 AS stratum, MIN(h) AS mn
      FROM lab GROUP BY yr, h % 64
    ),
    a AS (SELECT stratum, mn FROM mins WHERE yr = 1995),
    b AS (SELECT stratum, mn FROM mins WHERE yr = 1996),
    j AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_both,
             CAST(SUM(CASE WHEN a.mn = b.mn THEN 1 ELSE 0 END) AS BIGINT)
               AS n_equal
      FROM a JOIN b USING (stratum)
    ),
    ex AS (
      SELECT
        (SELECT COUNT(DISTINCT o_custkey) FROM orders
          WHERE EXTRACT(year FROM o_orderdate) = 1995) AS ex_a,
        (SELECT COUNT(DISTINCT o_custkey) FROM orders
          WHERE EXTRACT(year FROM o_orderdate) = 1996) AS ex_b,
        (SELECT COUNT(*) FROM
          (SELECT DISTINCT o_custkey FROM orders
            WHERE EXTRACT(year FROM o_orderdate) = 1995
           INTERSECT
           SELECT DISTINCT o_custkey FROM orders
            WHERE EXTRACT(year FROM o_orderdate) = 1996) t) AS ex_i
    )
    SELECT j.n_both AS strata_compared,
           CAST(j.n_equal * 1000000 // j.n_both AS BIGINT)
             AS jaccard_est_micro,
           CAST(ex.ex_i * 1000000 // (ex.ex_a + ex.ex_b - ex.ex_i)
                AS BIGINT) AS jaccard_exact_micro,
           CAST(ex.ex_a AS BIGINT) AS exact_a,
           CAST(ex.ex_b AS BIGINT) AS exact_b,
           CAST(ex.ex_i AS BIGINT) AS exact_intersection
    FROM j CROSS JOIN ex
    """,
)
def a20_minhash_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-overlap estimation from ONE-PERMUTATION MinHash sketches
    (Li/Owen/Zhang 2012): each set keeps one minimum md5 hash per
    64 strata (stratum = h mod 64) — a fully MAP-COMBINED, mergeable
    64-value sketch per set (contrast d2's K independent
    permutations: one pass, one min per stratum). Jaccard estimate =
    fraction of strata whose minima agree across the two sets
    (customers active in 1995 vs 1996); the exact Jaccard and set
    sizes ride along as calibration audit. Deterministic: identical
    md5-derived minima on both engines; the only divisions are
    final integer micros.

    Scale shape: the sketch is a (set, stratum) MIN groupBy — 64
    rows per set survive regardless of corpus size; comparison is a
    64-row join. At 100 TB the audit block is dropped and sketch
    tables stay resident for any pairwise-overlap question (the
    mergeability a13/a12 bank for quantiles/distincts, extended to
    INTERSECTIONS)."""
    o = load_table(spark, sf_dir, "orders")
    # ONE distinct (year, custkey) pass feeds the sketch AND the
    # exact audit (checkpointed: 4 consumers; the plan previously
    # re-scanned orders 7 times for the audit branches)
    members = (
        o.select(
            F.year("o_orderdate").cast("bigint").alias("yr"),
            "o_custkey",
        )
        .filter(F.col("yr").isin(1995, 1996))
        .distinct()
        .localCheckpoint(eager=False)
    )
    lab = members.select("yr", stable_long_hash(F.col("o_custkey")).alias("h"))
    mins = lab.groupBy("yr", (F.col("h") % 64).alias("stratum")).agg(
        F.min("h").alias("mn")
    )
    a = mins.filter(F.col("yr") == 1995).select("stratum", F.col("mn").alias("mna"))
    b = mins.filter(F.col("yr") == 1996).select("stratum", F.col("mn").alias("mnb"))
    j = a.join(b, "stratum").agg(
        F.count(F.lit(1)).cast("bigint").alias("strata_compared"),
        F.sum(F.when(F.col("mna") == F.col("mnb"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_equal"),
    )
    ya = members.filter(F.col("yr") == 1995).select("o_custkey")
    yb = members.filter(F.col("yr") == 1996).select("o_custkey")
    ex = (
        ya.agg(F.count(F.lit(1)).alias("ex_a"))
        .crossJoin(yb.agg(F.count(F.lit(1)).alias("ex_b")))
        .crossJoin(
            ya.intersect(yb).agg(F.count(F.lit(1)).alias("ex_i"))
        )
    )
    return j.crossJoin(F.broadcast(ex)).select(
        "strata_compared",
        F.expr("CAST(n_equal * 1000000 div strata_compared AS BIGINT)").alias(
            "jaccard_est_micro"
        ),
        F.expr(
            "CAST(ex_i * 1000000 div (ex_a + ex_b - ex_i) AS BIGINT)"
        ).alias("jaccard_exact_micro"),
        F.col("ex_a").cast("bigint").alias("exact_a"),
        F.col("ex_b").cast("bigint").alias("exact_b"),
        F.col("ex_i").cast("bigint").alias("exact_intersection"),
    )


@_register(
    "a21_cms_planner",
    """
    WITH counts AS (
      SELECT l_partkey AS key, CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM counts),
    widths AS (SELECT CAST(w AS BIGINT) AS w
               FROM (VALUES (256), (1024), (4096)) t(w)),
    hashes AS (SELECT d, a FROM (VALUES (0, 2654435761), (1, 2246822519),
                                 (2, 3266489917), (3, 668265263)) h(d, a)),
    cells AS (
      SELECT ws.w, h.d, (((((((c.key) & 4294967295) >> 16) * h.a) & 4294967295) * 65536 + (((c.key) & 65535) * h.a)) & 4294967295) % ws.w AS cell,
             CAST(SUM(c.c) AS BIGINT) AS cc
      FROM counts c CROSS JOIN hashes h CROSS JOIN widths ws
      GROUP BY ws.w, h.d, cell
    ),
    top10 AS (
      SELECT key, c FROM counts
      ORDER BY c DESC, key ASC LIMIT 10
    ),
    ests AS (
      SELECT ws.w, t.key, t.c, MIN(cl.cc) AS est
      FROM top10 t CROSS JOIN hashes h CROSS JOIN widths ws
      JOIN cells cl ON cl.w = ws.w AND cl.d = h.d
                   AND cl.cell = (((((((t.key) & 4294967295) >> 16) * h.a) & 4294967295) * 65536 + (((t.key) & 65535) * h.a)) & 4294967295) % ws.w
      GROUP BY ws.w, t.key, t.c
    ),
    meas AS (
      SELECT w, CAST(MAX(est - c) AS BIGINT) AS max_over
      FROM ests GROUP BY w
    )
    SELECT m.w AS width, CAST(4 AS BIGINT) AS depth,
           CAST(2718282 // m.w AS BIGINT) AS eps_ppm,
           CAST(18316 AS BIGINT) AS fail_ppm,
           CAST(t.n * (2718282 // m.w) // 1000000 AS BIGINT)
             AS predicted_max_over,
           m.max_over AS measured_max_over,
           CAST(CASE WHEN m.max_over <= t.n * (2718282 // m.w) // 1000000
                     THEN 1 ELSE 0 END AS BIGINT) AS within_bound
    FROM meas m CROSS JOIN tot t
    ORDER BY m.w ASC
    """,
)
def a21_cms_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch WIDTH planner with measured calibration
    (Cormode & Muthukrishnan 2005): for each candidate width at
    depth 4, the theoretical point-query bound (overestimate <=
    eps*N with eps = e/w, failure prob e^-depth — both carried as
    PRECOMPUTED integer ppm literals, 2718282/w and 18316, so no
    libm enters) next to the MEASURED worst overestimate across the
    true top-10 heavy keys on an actually-built sketch (j14's
    portable multiplicative hash rows). The d21-band-planner pattern
    applied to the frequency sketch: pick the width where the
    measured column stops improving and the bound fits the error
    budget, BEFORE sizing fleet-wide sketch state.

    Scale shape: one map-combined key-count pass feeds all three
    sketch builds (cells are (w, d, cell) aggregates — at most
    4*(256+1024+4096) surviving rows); the top-10 probe is a
    broadcast lookup. Sketch state is the point: 4xW counters
    replace key-cardinality state at any corpus size."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = (
        li.groupBy(F.col("l_partkey").alias("key"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)  # cells + top10 + total share it
    )
    tot = counts.agg(F.sum("c").cast("bigint").alias("n"))
    widths = local_frame(spark, [(256,), (1024,), (4096,)], "w bigint")
    hashes = local_frame(
        spark, [(0, 2654435761), (1, 2246822519), (2, 3266489917), (3, 668265263)],
        "d bigint, a bigint",
    )
    cells = (
        counts.crossJoin(F.broadcast(hashes))
        .crossJoin(F.broadcast(widths))
        .groupBy("w", "d", (mult_hash32(F.col("key"), F.col("a")) % F.col("w")).alias("cell"))
        .agg(F.sum("c").cast("bigint").alias("cc"))
    )
    top10 = counts.orderBy(F.col("c").desc(), F.col("key").asc()).limit(10)
    ests = (
        top10.crossJoin(F.broadcast(hashes))
        .crossJoin(F.broadcast(widths))
        .withColumn("cell", mult_hash32(F.col("key"), F.col("a")) % F.col("w"))
        .join(cells, ["w", "d", "cell"])
        .groupBy("w", "key", "c")
        .agg(F.min("cc").alias("est"))
    )
    meas = ests.groupBy("w").agg(
        F.max(F.col("est") - F.col("c")).cast("bigint").alias("max_over")
    )
    return (
        meas.crossJoin(F.broadcast(tot))
        .select(
            F.col("w").alias("width"),
            F.lit(4).cast("bigint").alias("depth"),
            F.expr("CAST(2718282 div w AS BIGINT)").alias("eps_ppm"),
            F.lit(18316).cast("bigint").alias("fail_ppm"),
            F.expr("CAST(n * (2718282 div w) div 1000000 AS BIGINT)").alias(
                "predicted_max_over"
            ),
            F.col("max_over").alias("measured_max_over"),
            F.expr(
                "CAST(CASE WHEN max_over <= n * (2718282 div w) div 1000000"
                " THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("within_bound"),
        )
        .orderBy(F.col("width").asc())
    )


@_register(
    "a22_kmv_distinct",
    """
    WITH w AS (
      SELECT source, string_split(text, ' ') AS ws FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    bg AS (
      SELECT DISTINCT w.source, w.ws[i] || '_' || w.ws[i + 1] AS bigram
      FROM w, UNNEST(range(1, len(w.ws))) AS t(i)
    ),
    h AS (
      SELECT source, bigram,
             CAST('0x' || substring(md5(bigram), 1, 8) AS BIGINT) AS hv
      FROM bg
    ),
    kept AS (
      SELECT source, hv,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY hv ASC, bigram ASC) AS rnk
      FROM h QUALIFY rnk <= 64
    ),
    per_source AS (
      SELECT source AS scope, CAST(COUNT(*) AS BIGINT) AS sketch_n,
             CAST(MAX(hv) AS BIGINT) AS kth_min
      FROM kept GROUP BY source
    ),
    merged AS (
      SELECT 'ALL_MERGED' AS scope,
             CAST(COUNT(*) AS BIGINT) AS sketch_n,
             CAST(MAX(hv) AS BIGINT) AS kth_min
      FROM (
        SELECT DISTINCT hv FROM kept ORDER BY hv ASC LIMIT 64
      )
    ),
    exacts AS (
      SELECT source AS scope, CAST(COUNT(DISTINCT bigram) AS BIGINT)
               AS exact_distinct
      FROM bg GROUP BY source
      UNION ALL
      SELECT 'ALL_MERGED', CAST(COUNT(DISTINCT bigram) AS BIGINT) FROM bg
    ),
    sk AS (SELECT * FROM per_source UNION ALL SELECT * FROM merged)
    SELECT s.scope, e.exact_distinct, s.kth_min,
           CAST(CASE WHEN s.sketch_n < 64 THEN s.sketch_n
                     ELSE 63 * 4294967296 // s.kth_min END AS BIGINT)
             AS est_distinct,
           CAST(abs(CASE WHEN s.sketch_n < 64 THEN s.sketch_n
                         ELSE 63 * 4294967296 // s.kth_min END
                    - e.exact_distinct) * 10000
                // e.exact_distinct AS BIGINT) AS err_bps
    FROM sk s JOIN exacts e ON s.scope = e.scope
    ORDER BY s.scope
    """,
)
def a22_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch, k=64 (Bar-Yossef
    et al. 2002): per source, keep the 64 smallest 32-bit hashes of
    the token-BIGRAM vocabulary (the ~700-value domain where k<n, so
    the estimator actually estimates) and read the cardinality off
    the kth minimum as (k-1)*2^32/h_k. The ALL_MERGED row is built
    from the PER-SOURCE SKETCH ROWS ONLY (64 smallest of the union
    of 20x64 kept hashes -- never rescanning the corpus): the
    mergeability that lets 1000 executors sketch shards
    independently and a coordinator union 64-row states. Exact
    distincts ride along as calibration (err_bps); sketch_n < k
    falls back to exact-by-construction counting.

    Completes the cardinality-sketch tier: a12/a19 HLL (fixed 2.5 KB
    registers, no set ops beyond union), a20 one-perm MinHash
    (Jaccard, not cardinality) -- KMV gives cardinality from a
    64-value state that also supports union by construction.

    Scale shape: one distinct (source,bigram) shuffle, a window
    partitioned BY SOURCE (bounded by per-source vocab, never
    global), then 20x64-row sketch algebra. The merged top-64 is a
    TakeOrdered over <=1280 sketch rows, not corpus data."""
    docs = load_table(spark, sf_dir, "documents")
    bg = (
        docs.select(F.col("source"), F.split(F.col("text"), " ").alias("ws"))
        .where(F.size("ws") >= 2)
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> concat(element_at(ws, i), '_', element_at(ws, i + 1)))"
                )
            ).alias("bigram"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # sketch build + exact calibration share it
    )
    h = bg.select(
        "source",
        "bigram",
        hex_to_long(md5_hex(F.col("bigram")), 8).alias("hv"),
    )
    wk = Window.partitionBy("source").orderBy(
        F.col("hv").asc(), F.col("bigram").asc()
    )
    kept = (
        h.withColumn("rnk", F.row_number().over(wk))
        .where(F.col("rnk") <= 64)
        .localCheckpoint(eager=False)  # per-source + merged rows share it
    )
    per_source = kept.groupBy(F.col("source").alias("scope")).agg(
        F.count(F.lit(1)).cast("bigint").alias("sketch_n"),
        F.max("hv").cast("bigint").alias("kth_min"),
    )
    merged = (
        kept.select("hv")
        .distinct()
        .orderBy(F.col("hv").asc())
        .limit(64)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("sketch_n"),
            F.max("hv").cast("bigint").alias("kth_min"),
        )
        .select(F.lit("ALL_MERGED").alias("scope"), "sketch_n", "kth_min")
    )
    exacts = (
        bg.groupBy(F.col("source").alias("scope"))
        .agg(F.countDistinct("bigram").cast("bigint").alias("exact_distinct"))
        .unionByName(
            bg.agg(
                F.countDistinct("bigram").cast("bigint").alias("exact_distinct")
            ).select(F.lit("ALL_MERGED").alias("scope"), "exact_distinct")
        )
    )
    est = F.expr(
        "CAST(CASE WHEN sketch_n < 64 THEN sketch_n"
        " ELSE 63 * 4294967296 div kth_min END AS BIGINT)"
    )
    return (
        per_source.unionByName(merged)
        .join(exacts, "scope")
        .select(
            "scope",
            "exact_distinct",
            "kth_min",
            est.alias("est_distinct"),
            F.expr(
                "CAST(abs(CASE WHEN sketch_n < 64 THEN sketch_n"
                " ELSE 63 * 4294967296 div kth_min END - exact_distinct)"
                " * 10000 div exact_distinct AS BIGINT)"
            ).alias("err_bps"),
        )
        .orderBy("scope")
    )


# round(1e6 * 2^(-d/7)) for day-deltas d = 0..29: the 7-day-half-life
# decay table a23 folds against. PRECOMPUTED so no pow()/exp() crosses
# the engine boundary (the ret8 discount-table discipline).
_DECAY_MICRO_7D = (
    1000000, 905724, 820335, 742997, 672950, 609507, 552045, 500000,
    452862, 410168, 371499, 336475, 304753, 276022, 250000, 226431,
    205084, 185749, 168238, 152377, 138011, 125000, 113215, 102542,
    92875, 84119, 76188, 69006, 62500, 56608,
)


@_register(
    "a23_decayed_counts",
    f"""
    WITH e AS (
      SELECT user_id,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
      FROM events
    ),
    ref AS (SELECT MAX(day) AS tref FROM e),
    per_day AS (
      SELECT user_id, day, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM e GROUP BY 1, 2
    ),
    decay AS (
      SELECT UNNEST(range(0, 30)) AS d,
             UNNEST({list(_DECAY_MICRO_7D)}) AS w_micro
    ),
    scored AS (
      SELECT p.user_id,
             CAST(SUM(p.cnt) AS BIGINT) AS total_events,
             CAST(SUM(CASE WHEN r.tref - p.day <= 6 THEN p.cnt ELSE 0 END)
                  AS BIGINT) AS last7d_events,
             CAST(SUM(p.cnt * k.w_micro) AS BIGINT) AS decayed_micro
      FROM per_day p
      CROSS JOIN ref r
      JOIN decay k ON k.d = r.tref - p.day
      GROUP BY 1
    )
    SELECT user_id, total_events, last7d_events, decayed_micro
    FROM scored
    ORDER BY decayed_micro DESC, user_id ASC LIMIT 20
    """,
)
def a23_decayed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed activity counters (7-day half-life,
    30-day window) -- the feature-store primitive behind recency-
    weighted engagement scores, session quality, and trending ranks:
    per user, daily event counts fold against a PRECOMPUTED integer-
    micro decay table round(1e6 * 2^(-d/7)) for day-deltas 0..29
    (the ret8 discount-table discipline -- no pow() crosses the
    engine boundary; contributions older than the 30-day table are
    zero by the metric's definition). total_events and the naive
    last-7-days count ride along to show what decay reorders: a
    burst 3 weeks ago outranks steady trickle on totals but not on
    decayed_micro.

    Scale shape: one (user, day) map-combined aggregate, a 1-row
    reference-day broadcast, a 30-row decay-table equi-join, then a
    per-user sum -- two shuffles total, both on user_id; the top-20
    is TakeOrdered, never a global sort."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("CAST(ts_ns div 1000 div 86400000000 AS BIGINT)").alias("day"),
    )
    per_day = e.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    ref = e.agg(F.max("day").alias("tref"))
    decay = local_frame(
        spark, [(d, w) for d, w in enumerate(_DECAY_MICRO_7D)],
        "d: bigint, w_micro: bigint",
    )
    scored = (
        per_day.crossJoin(F.broadcast(ref))
        .join(
            F.broadcast(decay),
            F.col("d") == F.col("tref") - F.col("day"),
        )
        .groupBy("user_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("total_events"),
            F.sum(
                F.when(F.col("tref") - F.col("day") <= 6, F.col("cnt")).otherwise(0)
            )
            .cast("bigint")
            .alias("last7d_events"),
            F.sum(F.col("cnt") * F.col("w_micro"))
            .cast("bigint")
            .alias("decayed_micro"),
        )
    )
    return (
        scored.select("user_id", "total_events", "last7d_events", "decayed_micro")
        .orderBy(F.col("decayed_micro").desc(), F.col("user_id").asc())
        .limit(20)
    )
