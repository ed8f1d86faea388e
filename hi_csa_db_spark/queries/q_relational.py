"""TPC-H-style relational core: pricing/revenue/market-share analytics, set ops, skyline.

Importing this module registers its queries in the package registry
(``hi_csa_db_spark.queries``) in source order."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hi_csa_db_spark.catalog import load_table, load_tables, spread_input
from hi_csa_db_spark.functions.hashing import KNUTH_HASH32_SQL, knuth_hash32

from hi_csa_db_spark.queries import _register
from hi_csa_db_spark.queries._shared import (
    _PS_SQL,
    _charge,
    _disc_price,
    _dsum,
    _ps_pairs,
)


# ---------------------------------------------------------------------------
# Relational core (SURVEY.md section 2.2-2.6)
# ---------------------------------------------------------------------------


@_register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
                    * (CAST('1.00' AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))) AS DOUBLE) AS sum_charge,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
           ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style scan+filter+hash-aggregate; the filter and the two
    needed columns push down to the parquet scan; partial aggregation is
    map-side (7 groups total, so the shuffle is a few KB at any scale).

    The decimal partial aggregate runs after ``spread_input``
    (SCALE.md "THE partition-sizing rule"); the filter stays below the
    exchange, pushed to the scan. The spread key l_extendedprice is
    near-unique and already in the aggregate's input, so the scan's
    7-column pruning is unchanged (both pinned in tests/test_plans.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        spread_input(
            li.filter(
                F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp")
            ),
            "l_extendedprice",
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            F.sum(_disc_price()).cast("double").alias("sum_disc_price"),
            F.sum(_charge()).cast("double").alias("sum_charge"),
            F.round(_dsum(F.col("l_quantity")) / F.count(F.lit(1)), 6).alias("avg_qty"),
            F.round(_dsum(F.col("l_discount"), 6) / F.count(F.lit(1)), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@_register(
    "q3_top_revenue_orders",
    """
    SELECT o.o_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2)) * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join+agg+top-k. customer is the small side -> broadcast; the
    lineitem/orders join shuffles on orderkey once; top-k is
    TakeOrderedAndProject (no global sort)."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(t["customer"].filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("o_orderkey")
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@_register(
    "semi_suppliers_with_big_sales",
    """
    SELECT s_suppkey, s_name FROM supplier s
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity > 49)
    """,
)
def semi_suppliers_with_big_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join (needed by the crawl frontier exceptAll/visited logic,
    SURVEY.md section 2.3)."""
    t = load_tables(spark, sf_dir)
    big = t["lineitem"].filter(F.col("l_quantity") > 49)
    return (
        t["supplier"]
        .join(big, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )


@_register(
    "anti_parts_never_ordered",
    """
    SELECT p_partkey, p_name FROM part p
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
    """,
)
def anti_parts_never_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join — dedup/frontier building block."""
    t = load_tables(spark, sf_dir)
    return (
        t["part"]
        .join(t["lineitem"], F.col("p_partkey") == F.col("l_partkey"), "left_anti")
        .select("p_partkey", "p_name")
    )


@_register(
    "set_intersect_nations",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def set_intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT set operation."""
    t = load_tables(spark, sf_dir)
    return (
        t["customer"]
        .select(F.col("c_nationkey").alias("nationkey"))
        .intersect(t["supplier"].select(F.col("s_nationkey").alias("nationkey")))
    )


@_register(
    "set_ops_all_multiset",
    """
    WITH a AS (SELECT c_nationkey AS nationkey FROM customer),
         b AS (SELECT s_nationkey AS nationkey FROM supplier)
    SELECT 'intersect_all' AS op, nationkey, COUNT(*) AS n FROM (
      SELECT nationkey FROM a INTERSECT ALL SELECT nationkey FROM b
    ) GROUP BY nationkey
    UNION ALL
    SELECT 'except_all' AS op, nationkey, COUNT(*) AS n FROM (
      SELECT nationkey FROM a EXCEPT ALL SELECT nationkey FROM b
    ) GROUP BY nationkey
    """,
)
def set_ops_all_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (bag) semantics: INTERSECT ALL keeps min(m, n)
    duplicates per value, EXCEPT ALL keeps max(m - n, 0) — the
    completion of the set-operation family next to the DISTINCT forms.
    One shuffle per branch on the value; counts summarize so output
    stays small and order-insensitive."""
    t = load_tables(spark, sf_dir)
    a = t["customer"].select(F.col("c_nationkey").alias("nationkey"))
    b = t["supplier"].select(F.col("s_nationkey").alias("nationkey"))
    ia = (
        a.intersectAll(b)
        .groupBy("nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect_all").alias("op"), "nationkey", "n")
    )
    ea = (
        a.exceptAll(b)
        .groupBy("nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except_all").alias("op"), "nationkey", "n")
    )
    return ia.unionByName(ea)


@_register(
    "set_except_nations",
    """
    SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def set_except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set) operation — the crawl frontier's visited-removal
    shape (SURVEY.md S1): high-balance customers with no finished
    order. Uses `subtract` (EXCEPT DISTINCT), not `exceptAll`."""
    t = load_tables(spark, sf_dir)
    return (
        t["customer"]
        .filter(F.col("c_acctbal") > 5000)
        .select(F.col("c_custkey").alias("custkey"))
        .subtract(
            t["orders"]
            .filter(F.col("o_orderstatus") == "F")
            .select(F.col("o_custkey").alias("custkey"))
        )
    )


@_register(
    "sq_scalar_subquery",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_totalprice > 1.5 * (
      SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*)
      FROM orders)
    """,
)
def sq_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery (orders above 1.5x the global mean price); the
    mean is decimal-exact so the predicate is engine-portable."""
    orders = load_table(spark, sf_dir, "orders")
    avg_price = orders.agg(
        (_dsum(F.col("o_totalprice")) / F.count(F.lit(1))).alias("__avg")
    )
    return (
        orders.crossJoin(F.broadcast(avg_price))
        .filter(F.col("o_totalprice") > 1.5 * F.col("__avg"))
        .select("o_orderkey", "o_totalprice")
    )


@_register(
    "sq_exists",
    """
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
      AND NOT EXISTS (SELECT 1 FROM orders o2
                      WHERE o2.o_custkey = c.c_custkey
                        AND o2.o_orderstatus = 'F'
                        AND o2.o_totalprice > 400000)
    """,
)
def sq_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS through the SQL front-end —
    Catalyst decorrelates them into the semi/anti joins the DataFrame
    tier uses directly (the identical plan, two authoring surfaces)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
          AND NOT EXISTS (SELECT 1 FROM orders o2
                          WHERE o2.o_custkey = c.c_custkey
                            AND o2.o_orderstatus = 'F'
                            AND o2.o_totalprice > 400000)
        """
    )


@_register(
    "sq_correlated_subquery",
    """
    SELECT c_custkey, c_acctbal FROM customer c
    WHERE c_acctbal > (
      SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*)
      FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
    """,
)
def sq_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (above-nation-average customers),
    decorrelated into a per-nation aggregate + broadcast join — the
    rewrite Catalyst itself applies (RewriteCorrelatedScalarSubquery)."""
    cust = load_table(spark, sf_dir, "customer")
    per_nation = cust.groupBy("c_nationkey").agg(
        (_dsum(F.col("c_acctbal")) / F.count(F.lit(1))).alias("__avg")
    )
    return (
        cust.join(F.broadcast(per_nation), "c_nationkey")
        .filter(F.col("c_acctbal") > F.col("__avg"))
        .select("c_custkey", "c_acctbal")
    )


@_register(
    "sq_not_in_null_semantics",
    """
    WITH keys AS (
      SELECT CASE WHEN o_orderkey % 1000 = 0 THEN NULL ELSE o_custkey END AS k
      FROM orders
    )
    SELECT
      (SELECT COUNT(*) FROM customer WHERE c_custkey IN (SELECT k FROM keys))
        AS n_in,
      (SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN (SELECT k FROM keys))
        AS n_not_in,
      (SELECT COUNT(*) FROM customer
       WHERE c_custkey NOT IN (SELECT k FROM keys WHERE k IS NOT NULL))
        AS n_not_in_sans_null
    """,
)
def sq_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic SQL trap, pinned cross-engine: NOT IN against a set
    CONTAINING a NULL returns no rows (three-valued logic — x <> NULL
    is unknown, so the conjunction never becomes true), while IN still
    matches and filtering the NULL out restores the expected anti-join
    counts. An engine that silently compiles NOT IN to a plain
    anti-join gets n_not_in wrong; Spark plans a null-aware anti join
    and the oracle agrees. Registered as the semantics proof for the
    IN/NOT-IN frontier of the subquery surface (sq_* family)."""
    ev = load_table(spark, sf_dir, "orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("__cust_nin")
    ev.createOrReplaceTempView("__orders_nin")
    return spark.sql(
        """
        WITH keys AS (
          SELECT CASE WHEN o_orderkey % 1000 = 0 THEN NULL ELSE o_custkey END AS k
          FROM __orders_nin
        )
        SELECT
          (SELECT COUNT(*) FROM __cust_nin WHERE c_custkey IN (SELECT k FROM keys))
            AS n_in,
          (SELECT COUNT(*) FROM __cust_nin
           WHERE c_custkey NOT IN (SELECT k FROM keys)) AS n_not_in,
          (SELECT COUNT(*) FROM __cust_nin
           WHERE c_custkey NOT IN (SELECT k FROM keys WHERE k IS NOT NULL))
            AS n_not_in_sans_null
        """
    )


@_register(
    "q19_disjunctive_revenue",
    """
    SELECT ROUND(CAST(SUM(
             CAST(l_extendedprice AS DECIMAL(14,2))
             * (CAST(1.0 AS DECIMAL(14,2)) - CAST(l_discount AS DECIMAL(14,2)))
           ) AS DOUBLE), 2) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#9'  AND p_size BETWEEN 1  AND 15
           AND l_quantity >= 5  AND l_quantity <= 25)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 30
           AND l_quantity >= 10 AND l_quantity <= 35)
       OR (p_brand = 'Brand#20' AND p_size BETWEEN 20 AND 50
           AND l_quantity >= 15 AND l_quantity <= 45)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: a 3-branch OR of conjunctive predicates
    spanning BOTH join sides — the disjunctive-pushdown stress test.
    Catalyst normalizes the OR so the part-side conditions (brand,
    size) reach the part scan and the lineitem-side quantity bounds
    reach the lineitem scan as a derived OR-envelope, instead of
    evaluating the whole disjunction post-join. Decimal-exact revenue."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(p, F.col("p_partkey") == F.col("l_partkey"))
    q = F.col("l_quantity")
    branch = (
        ((F.col("p_brand") == "Brand#9") & F.col("p_size").between(1, 15)
         & (q >= 5) & (q <= 25))
        | ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(10, 30)
           & (q >= 10) & (q <= 35))
        | ((F.col("p_brand") == "Brand#20") & F.col("p_size").between(20, 50)
           & (q >= 15) & (q <= 45))
    )
    rev = F.col("l_extendedprice").cast("decimal(14,2)") * (
        F.lit(1.0).cast("decimal(14,2)") - F.col("l_discount").cast("decimal(14,2)")
    )
    return j.filter(branch).agg(
        F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@_register(
    "q7_volume_shipping",
    """
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           EXTRACT(year FROM l_shipdate) AS l_year,
           ROUND(CAST(SUM(
             CAST(l_extendedprice AS DECIMAL(14,2))
             * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
           ) AS DOUBLE), 2) AS revenue
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ns ON ns.n_nationkey = s_nationkey
    JOIN nation nc ON nc.n_nationkey = c_nationkey
    WHERE ((ns.n_name = 'NATION_18' AND nc.n_name = 'NATION_19')
        OR (ns.n_name = 'NATION_19' AND nc.n_name = 'NATION_18'))
    GROUP BY 1, 2, 3
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): the 6-table snowflake with TWO roles
    of the same dimension (nation joined once through the supplier and
    once through the customer) and a cross-role disjunctive filter
    (fixture nations are synthetic NATION_k names; 18/19 stand in for
    the spec's FRANCE/GERMANY).
    Both nation joins broadcast (25 rows); the fact-side joins shuffle
    on their keys; revenue decimal-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    ns = n.select(
        F.col("n_nationkey").alias("__ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = n.select(
        F.col("n_nationkey").alias("__nc_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(ns), F.col("__ns_key") == F.col("s_nationkey"))
        .join(F.broadcast(nc), F.col("__nc_key") == F.col("c_nationkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_18") & (F.col("cust_nation") == "NATION_19"))
            | ((F.col("supp_nation") == "NATION_19") & (F.col("cust_nation") == "NATION_18"))
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(F.round(F.sum(_disc_price()).cast("double"), 2).alias("revenue"))


@_register(
    "q13_customer_distribution",
    """
    WITH per_cust AS (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      GROUP BY c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM per_cust GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution): LEFT outer join
    so zero-order customers survive with c_count 0, then a second
    aggregation over the first's output — the double-aggregation
    histogram shape. COUNT(o_orderkey) (not COUNT(*)) is what makes
    the outer join's null rows count as zero."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@_register(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(
               CAST(l_extendedprice AS DECIMAL(14,2))
               * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
             ) AS DECIMAL(28,4)) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           ROUND(CAST(total_revenue AS DOUBLE), 2) AS total_revenue
    FROM supplier JOIN revenue ON supplier_no = s_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the view-plus-global-max shape — the
    revenue aggregate is compared against ITS OWN max, keeping ALL
    tied suppliers (unlike a LIMIT 1, which would drop ties). The max
    enters as a 1-row broadcast against the aggregate (aggregate-sized,
    not fact-sized); equality compares EXACT decimals, never doubles."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_disc_price()).cast("decimal(28,4)").alias("total_revenue"))
    )
    mx = revenue.agg(F.max("total_revenue").alias("__mx"))
    return (
        s.join(revenue, F.col("supplier_no") == F.col("s_suppkey"))
        .join(F.broadcast(mx), F.col("total_revenue") == F.col("__mx"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("total_revenue").cast("double"), 2).alias(
                "total_revenue"
            ),
        )
    )


@_register(
    "q5_local_supplier_volume",
    """
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2))
                    * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA' AND o.o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join with a same-nation theta condition
    — the canonical join-ordering stress test. Dimension chain
    (nation⋈region) broadcasts; fact joins shuffle on their keys;
    Catalyst + AQE pick the order."""
    t = load_tables(spark, sf_dir)
    dims = t["nation"].join(
        t["region"].filter(F.col("r_name") == "ASIA"),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    rev = _disc_price()
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") >= F.lit("1994-01-01").cast("timestamp"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            t["supplier"],
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(dims), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@_register(
    "q8_market_share",
    """
    WITH sales AS (
      SELECT EXTRACT(year FROM o.o_orderdate) AS yr,
             CAST(l.l_extendedprice AS DECIMAL(14,2))
               * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2))) AS vol,
             n.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
    )
    SELECT yr,
           ROUND(CAST(SUM(CASE WHEN supp_nation = 'CHINA' THEN vol ELSE CAST(0 AS DECIMAL(14,2)) END) AS DOUBLE)
                 / CAST(SUM(vol) AS DOUBLE), 9) AS mkt_share
    FROM sales GROUP BY yr
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: a nation's share of yearly sales volume —
    conditional decimal sums ratioed at read time (numerator and
    denominator both exact, so the share is order-independent)."""
    t = load_tables(spark, sf_dir)
    vol = _disc_price()
    sales = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.year("o_orderdate").alias("yr"),
            vol.alias("vol"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    zero = F.lit(0).cast("decimal(14,2)")
    return sales.groupBy("yr").agg(
        F.round(
            F.sum(
                F.when(F.col("supp_nation") == "CHINA", F.col("vol")).otherwise(zero)
            ).cast("double")
            / F.sum("vol").cast("double"),
            9,
        ).alias("mkt_share")
    )


@_register(
    "q18_large_orders",
    """
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(28,2))) > CAST(300 AS DECIMAL(28,2))
    )
    SELECT c.c_custkey, o.o_orderkey, o.o_orderdate,
           CAST(CAST(o.o_totalprice AS DECIMAL(14,2)) AS DOUBLE) AS o_totalprice,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS total_qty
    FROM orders o
    JOIN big ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregate feeding a semi-
    filtering join back onto the fact table (group-then-join)."""
    t = load_tables(spark, sf_dir)
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(28,2)")).alias("__q"))
        .filter(F.col("__q") > F.lit(300).cast("decimal(28,2)"))
        .select("l_orderkey")
    )
    return (
        t["orders"]
        .join(big, F.col("o_orderkey") == big["l_orderkey"])
        .drop("l_orderkey")
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(_dsum(F.col("l_quantity")).alias("total_qty"))
        .select(
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("decimal(14,2)").cast("double").alias(
                "o_totalprice"
            ),
            "total_qty",
        )
    )


@_register(
    "q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND CAST(l_discount AS DECIMAL(3,2)) BETWEEN CAST('0.05' AS DECIMAL(3,2)) AND CAST('0.07' AS DECIMAL(3,2))
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style forecasting-revenue-change: pure scan + filter +
    single global aggregate. Every predicate and both needed columns
    push to the parquet scan; the "shuffle" is one partial-sum row per
    task — the cheapest possible plan shape at any scale. Discount is
    compared in decimal so the band edges are exact on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    d = F.col("l_discount").cast("decimal(3,2)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (d >= F.lit("0.05").cast("decimal(3,2)"))
            & (d <= F.lit("0.07").cast("decimal(3,2)"))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(14,2)") * d)
            .cast("double")
            .alias("revenue")
        )
    )


@_register(
    "q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2)) * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style returned-item reporting. The date filter prunes
    orders BEFORE the fact join; nation (25 rows) and the filtered
    customer side broadcast; the only real shuffle is lineitem⋈orders
    on orderkey + the final groupBy; top-20 is TakeOrderedAndProject."""
    t = load_tables(spark, sf_dir)
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    return (
        t["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@_register(
    "q14_promo_revenue",
    """
    SELECT ROUND(
             100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                 THEN CAST(l.l_extendedprice AS DECIMAL(14,2)) * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))
                 ELSE CAST('0.00' AS DECIMAL(17,4)) END) AS DOUBLE)
             / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2)) * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE),
           6) AS promo_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1996-02-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style promotion effect: conditional-aggregate ratio.
    part is dimension-sized -> broadcast, so the month of lineitem never
    shuffles; both sums ride one aggregation pass. Decimal accumulators,
    double division only at the very end, rounded for canonical output."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01 00:00:00").cast("timestamp"))
    )
    joined = li.join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
    promo = F.when(F.col("p_type") == "PROMO", _disc_price()).otherwise(
        F.lit("0.00").cast("decimal(17,4)")
    )
    return joined.agg(
        F.round(
            F.lit(100.0)
            * F.sum(promo).cast("double")
            / F.sum(_disc_price()).cast("double"),
            6,
        ).alias("promo_revenue")
    )


@_register(
    "sq_recursive_cte",
    """
    WITH RECURSIVE months(m) AS (
      SELECT TIMESTAMP '1995-01-01 00:00:00'
      UNION ALL
      SELECT m + INTERVAL 1 MONTH FROM months
      WHERE m < TIMESTAMP '2001-12-01 00:00:00'
    )
    SELECT months.m AS month, COALESCE(o.n_orders, 0) AS n_orders
    FROM months
    LEFT JOIN (
      SELECT date_trunc('month', o_orderdate) AS mo, COUNT(*) AS n_orders
      FROM orders GROUP BY 1
    ) o ON months.m = o.mo
    """,
)
def sq_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE through the SQL front-end (Spark 4): generate the
    month calendar spanning the order history, then left-join monthly
    order counts so empty months surface as explicit zero rows — the
    gap-free time-series contract t3_resample provides per key, here as
    a global calendar.

    Scale: the recursion produces 84 driver-side rows (one per month);
    the fact side is one map-combined count per month. The recursive
    part never touches big data — it only seeds a broadcast-sized
    dimension, which is the correct use of recursion at 100 TB."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
          SELECT TIMESTAMP '1995-01-01 00:00:00'
          UNION ALL
          SELECT m + INTERVAL '1' MONTH FROM months
          WHERE m < TIMESTAMP '2001-12-01 00:00:00'
        )
        SELECT months.m AS month, COALESCE(o.n_orders, 0) AS n_orders
        FROM months
        LEFT JOIN (
          SELECT date_trunc('month', o_orderdate) AS mo, COUNT(*) AS n_orders
          FROM orders GROUP BY 1
        ) o ON months.m = o.mo
        """
    )


@_register(
    "sq_lateral_topn",
    """
    SELECT n.n_name, t.c_custkey, t.bal
    FROM nation n,
    LATERAL (
      SELECT c_custkey, ROUND(c_acctbal, 2) AS bal
      FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey ASC
      LIMIT 2
    ) t
    """,
)
def sq_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT —
    top-2 customers by balance per nation, authored as SQL. Catalyst
    rewrites the lateral into the same ranked-window shape the
    DataFrame tier uses (w2/a3), so there is no per-nation re-scan of
    customer; deterministic custkey tie-break keeps both engines'
    top-2 sets identical."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT n.n_name, t.c_custkey, t.bal
        FROM nation n,
        LATERAL (
          SELECT c_custkey, ROUND(c_acctbal, 2) AS bal
          FROM customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey ASC
          LIMIT 2
        ) t
        """
    )


# ---------------------------------------------------------------------------
# Session-4 batch: TPC-H Q17 adaptation, positional phrase search,
# time-series interpolation alignment, neighborhood similarity, SRP-LSH
# cosine banding, syllable-complexity text stats
# ---------------------------------------------------------------------------


@_register(
    "q17_small_quantity_revenue",
    """
    WITH bl AS (
      SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand = 'Brand#4'
    ),
    pa AS (
      SELECT l_partkey, CAST(0.2 AS DOUBLE) * AVG(l_quantity) AS qlim
      FROM bl GROUP BY l_partkey
    )
    SELECT ROUND(CAST(SUM(CAST(bl.l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)
                 / CAST(7.0 AS DOUBLE), 2) AS avg_yearly
    FROM bl JOIN pa ON pa.l_partkey = bl.l_partkey
    WHERE bl.l_quantity < pa.qlim
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 adapted to the fixture columns (no p_container —
    brand-only part filter): average yearly revenue lost if small-
    quantity orders (below 20% of the part's average order quantity)
    were not filled. The classic correlated-aggregate join pattern.

    Scale shape: part filter is broadcast into the lineitem scan (the
    brand predicate prunes ~1/25 of parts before any shuffle); the
    per-part average and the re-join both shuffle on l_partkey, so AQE
    reuses one exchange; the final aggregate is a 1-row map-side
    combine. AVG of small-integer quantities is an exact double on
    both engines regardless of accumulation order.
    """
    t = load_tables(spark, sf_dir)
    parts = t["part"].filter(F.col("p_brand") == "Brand#4").select("p_partkey")
    bl = (
        t["lineitem"]
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_quantity", "l_extendedprice")
    )
    pa = bl.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qlim")
    )
    return (
        bl.join(pa, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qlim"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(14,2)")).cast("double")
                / F.lit(7.0),
                2,
            ).alias("avg_yearly")
        )
    )


@_register(
    "q22_prospect_customers",
    """
    WITH bal AS (
      SELECT CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(14,2)) * 100 AS BIGINT)) AS BIGINT) AS cents_sum,
             COUNT(*) AS n
      FROM customer WHERE c_acctbal > CAST(0 AS DOUBLE)
    )
    SELECT c_mktsegment,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE) AS totacctbal
    FROM customer c CROSS JOIN bal
    WHERE CAST(CAST(c.c_acctbal AS DECIMAL(14,2)) * 100 AS BIGINT) * bal.n
          > bal.cents_sum
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'F')
    GROUP BY c_mktsegment
    """,
)
def q22_prospect_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 adapted to the fixture columns (market segment in
    place of country code; every fixture customer has SOME order, so
    the dormancy predicate is "never COMPLETED an order" — no
    status-'F' order): per segment, the count and total balance of
    customers above the average positive account balance with no
    completed order — scalar-aggregate threshold + anti-join.

    Determinism: the "above average" comparison is pure-integer cross
    multiplication (cents * n > cents_sum) over exact DECIMAL cents —
    a float average's accumulation-order ulps could flip a boundary
    customer between engines. Scale shape: the (cents_sum, n) pair is
    a 1-row broadcast; the NOT EXISTS is a left-anti hash join
    shuffled on custkey; the final aggregate has 5 groups."""
    t = load_tables(spark, sf_dir)
    cust = t["customer"]
    cents = F.col("c_acctbal").cast("decimal(14,2)") * 100
    bal = (
        cust.filter(F.col("c_acctbal") > F.lit(0.0))
        .agg(
            F.sum(cents.cast("bigint")).cast("bigint").alias("cents_sum"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return (
        cust.crossJoin(F.broadcast(bal))
        .filter(cents.cast("bigint") * F.col("n") > F.col("cents_sum"))
        .join(
            t["orders"]
            .filter(F.col("o_orderstatus") == "F")
            .select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(14,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
    )


@_register(
    "q2_min_cost_supplier",
    f"""
    WITH ps AS ({_PS_SQL}),
    eur AS (
      SELECT ps.pk, ps.cost, s.s_acctbal, s.s_name, n.n_name
      FROM ps
      JOIN supplier s ON s.s_suppkey = ps.sk
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'
    ),
    cand AS (
      SELECT e.cost, e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_name,
             MIN(e.cost) OVER (PARTITION BY p.p_partkey) AS min_cost
      FROM eur e JOIN part p ON p.p_partkey = e.pk
      WHERE p.p_size BETWEEN 10 AND 20 AND p.p_type = 'LARGE'
    )
    SELECT ROUND(s_acctbal, 2) AS s_acctbal, s_name, n_name,
           p_partkey, p_name, CAST(cost AS DOUBLE) AS supplycost
    FROM cand WHERE cost = min_cost
    ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-style minimum-cost supplier. The original's correlated
    scalar subquery (min supplycost within the region, per part) is
    DECORRELATED into a window MIN over the region-filtered candidate
    set — one shuffle by partkey instead of a re-evaluated subquery.
    supplier/nation/region/filtered-part are all dimension-sized and
    broadcast; cost equality compares exact decimals. The LIMIT's sort
    key ends in the unique (s_name, p_partkey), so the cut is
    deterministic on both engines."""
    t = load_tables(spark, sf_dir)
    ps = _ps_pairs(t["lineitem"])
    eur = (
        ps.join(F.broadcast(t["supplier"]), F.col("sk") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
    )
    parts = t["part"].filter(
        F.col("p_size").between(10, 20) & (F.col("p_type") == "LARGE")
    )
    cand = eur.join(F.broadcast(parts), F.col("pk") == F.col("p_partkey"))
    w = Window.partitionBy("p_partkey")
    return (
        cand.withColumn("min_cost", F.min("cost").over(w))
        .filter(F.col("cost") == F.col("min_cost"))
        .select(
            F.round(F.col("s_acctbal"), 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.col("cost").cast("double").alias("supplycost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(),
            F.col("n_name").asc(),
            F.col("s_name").asc(),
            F.col("p_partkey").asc(),
        )
        .limit(100)
    )


@_register(
    "q4_priority_count",
    """
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o.o_orderpriority
    """,
)
def q4_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style order-priority checking. "Late" is adapted to
    l_shipdate > o_orderdate + 60 days (the fixture has no
    commit/receipt dates). The correlated EXISTS becomes a LEFT SEMI
    join with a compound condition — the date-range filter prunes
    orders before the join, and the semi join short-circuits per key
    (no fan-out, no dedup needed)."""
    t = load_tables(spark, sf_dir)
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    li = t["lineitem"]
    return (
        o.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@_register(
    "q9_product_type_profit",
    f"""
    WITH ps AS ({_PS_SQL}),
    unit AS (
      SELECT l_partkey AS pk, l_suppkey AS sk,
             CAST(MIN((CAST(ROUND(l_extendedprice * 100) AS BIGINT) * 100)
                      // CAST(l_quantity AS BIGINT)) AS DECIMAL(16,0))
               * CAST('0.0001' AS DECIMAL(5,4)) AS unit_cost
      FROM lineitem GROUP BY 1, 2
    )
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS INT) AS o_year,
           CAST(SUM(
             CAST(l.l_extendedprice AS DECIMAL(14,2))
               * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))
             - u.unit_cost * CAST(l.l_quantity AS DECIMAL(12,2))
           ) AS DOUBLE) AS sum_profit
    FROM lineitem l
    JOIN unit u ON u.pk = l.l_partkey AND u.sk = l.l_suppkey
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE 'red%'
    GROUP BY nation, o_year
    """,
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-style product-type profit by nation and year. The
    missing ps_supplycost is the pair's minimum observed UNIT price,
    computed in INTEGER arithmetic (cents × 100 integer-divided by the
    whole-number quantity) so no engine ever rounds a float near a
    decimal boundary — a .005-boundary ROUND() divergence is exactly
    what sank the first draft of this query at sf0.01. Profit per
    line = disc_price − unit_cost·qty, all decimal-exact. part is
    broadcast after the name filter; the derived unit-cost table joins
    pair-to-pair on (partkey, suppkey); the final rollup is 25 nations
    × 7 years — a few-KB shuffle."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    unit = li.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(
        (
            F.min(
                F.expr(
                    "(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * 100)"
                    " div CAST(l_quantity AS BIGINT)"
                )
            ).cast("decimal(16,0)")
            * F.lit("0.0001").cast("decimal(5,4)")
        ).alias("unit_cost")
    )
    profit_row = _disc_price() - F.col("unit_cost") * F.col("l_quantity").cast(
        "decimal(12,2)"
    )
    return (
        li.join(
            unit,
            (F.col("l_partkey") == F.col("pk")) & (F.col("l_suppkey") == F.col("sk")),
        )
        .join(
            F.broadcast(t["part"].filter(F.col("p_name").like("red%"))),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            profit_row.alias("profit_row"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("profit_row").cast("double").alias("sum_profit"))
    )


@_register(
    "q11_important_parts",
    f"""
    WITH ps AS ({_PS_SQL}),
    asia AS (
      SELECT ps.pk, ps.cost * ps.avail AS v
      FROM ps
      JOIN supplier s ON s.s_suppkey = ps.sk
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'ASIA'
    ),
    tot AS (SELECT SUM(v) AS total_v, COUNT(DISTINCT pk) AS n_parts FROM asia)
    SELECT pk AS p_partkey, CAST(SUM(v) AS DOUBLE) AS part_value
    FROM asia CROSS JOIN tot
    GROUP BY pk, total_v, n_parts
    HAVING SUM(v) * n_parts * 2 > total_v * 3
    ORDER BY part_value DESC, p_partkey ASC
    LIMIT 50
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-style important-stock identification: per-part
    inventory value (cost × availability, exact decimals) within one
    region, kept only where it exceeds 1.5× the AVERAGE part's share
    of the global total (2·value·n_parts > 3·total, all exact — a
    scale-INVARIANT threshold, where the original's fixed fraction
    selects nothing once the part count outgrows it). The global
    (total, n_parts) is a broadcast 1-row aggregate crossJoined into
    the HAVING comparison — no driver action, no second scan of the
    fact. LIMIT's sort ends at unique p_partkey."""
    t = load_tables(spark, sf_dir)
    ps = _ps_pairs(t["lineitem"])
    asia = (
        ps.join(F.broadcast(t["supplier"]), F.col("sk") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("pk"), (F.col("cost") * F.col("avail")).alias("v"))
    )
    tot = asia.agg(
        F.sum("v").alias("total_v"), F.countDistinct("pk").alias("n_parts")
    )
    return (
        asia.crossJoin(F.broadcast(tot))
        .groupBy("pk", "total_v", "n_parts")
        .agg(F.sum("v").alias("sv"))
        .filter(F.col("sv") * F.col("n_parts") * 2 > F.col("total_v") * 3)
        .select(
            F.col("pk").alias("p_partkey"), F.col("sv").cast("double").alias("part_value")
        )
        .orderBy(F.col("part_value").desc(), F.col("p_partkey").asc())
        .limit(50)
    )


@_register(
    "q12_late_priority_split",
    """
    SELECT l.l_returnflag AS ship_class,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY ship_class
    """,
)
def q12_late_priority_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style shipping-priority split, adapted: return flag
    stands in for ship mode, lateness is shipdate > orderdate + 90
    days. One orderkey join (the year filter prunes lineitem at the
    scan), two conditional counts in a single aggregation pass."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
    )


@_register(
    "q16_supplier_part_counts",
    f"""
    WITH ps AS ({_PS_SQL})
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT ps.sk) AS supplier_cnt
    FROM ps JOIN part p ON p.p_partkey = ps.pk
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
      AND p.p_size IN (5, 10, 15, 20, 25, 30)
      AND ps.sk NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-style parts/supplier relationship counting. The
    complaint-supplier NOT IN is adapted to "negative account balance"
    and implemented as a broadcast LEFT ANTI join (s_suppkey is never
    NULL in the exclusion list, so anti-join and NOT IN agree). The
    part filters broadcast; COUNT(DISTINCT sk) shuffles only the
    filtered pair keyspace."""
    t = load_tables(spark, sf_dir)
    ps = _ps_pairs(t["lineitem"])
    bad = t["supplier"].filter(F.col("s_acctbal") < 0).select("s_suppkey")
    parts = t["part"].filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(5, 10, 15, 20, 25, 30)
    )
    return (
        ps.join(F.broadcast(bad), F.col("sk") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(parts), F.col("pk") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("sk").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("p_type").asc(),
            F.col("p_size").asc(),
        )
    )


@_register(
    "q20_excess_stock_suppliers",
    f"""
    WITH ps AS ({_PS_SQL}),
    shipped AS (
      SELECT l_partkey AS pk, l_suppkey AS sk,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q98
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY 1, 2
    ),
    excess AS (
      SELECT DISTINCT ps.sk
      FROM ps
      JOIN shipped sh ON sh.pk = ps.pk AND sh.sk = ps.sk
      WHERE ps.pk IN (SELECT p_partkey FROM part WHERE p_name LIKE 'blue%')
        AND ps.avail > sh.q98 * 2
    )
    SELECT s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA' AND s.s_suppkey IN (SELECT sk FROM excess)
    ORDER BY s_name ASC
    """,
)
def q20_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-style excess-stock supplier listing: suppliers of
    blue parts whose total supplied quantity is more than twice what
    shipped after 1998 (the availqty > half-of-shipped shape, exact
    decimals). The nested IN subqueries become a broadcast semi-join
    chain: part-name filter -> pair predicate -> DISTINCT suppkeys ->
    semi join against the region's suppliers."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    ps = _ps_pairs(li)
    shipped = li.filter(
        F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp")
    ).groupBy(
        F.col("l_partkey").alias("spk"), F.col("l_suppkey").alias("ssk")
    ).agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q98"))
    blue = t["part"].filter(F.col("p_name").like("blue%")).select("p_partkey")
    excess = (
        ps.join(F.broadcast(blue), F.col("pk") == F.col("p_partkey"), "left_semi")
        .join(shipped, (F.col("pk") == F.col("spk")) & (F.col("sk") == F.col("ssk")))
        .filter(F.col("avail") > F.col("q98") * 2)
        .select("sk")
        .distinct()
    )
    return (
        t["supplier"]
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .join(F.broadcast(excess), F.col("s_suppkey") == F.col("sk"), "left_semi")
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


@_register(
    "q21_waiting_suppliers",
    """
    WITH lo AS (
      SELECT l.l_orderkey, l.l_suppkey,
             CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                  THEN 1 ELSE 0 END AS late
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
    ),
    per_order AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS n_late
      FROM lo GROUP BY 1
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM lo
    JOIN per_order po ON po.l_orderkey = lo.l_orderkey
    JOIN supplier s ON s.s_suppkey = lo.l_suppkey
    WHERE lo.late = 1 AND po.n_supp > 1 AND po.n_late = 1
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name ASC
    LIMIT 20
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-style suppliers-who-kept-orders-waiting. The
    original's correlated EXISTS ("another supplier on the order") +
    NOT EXISTS ("no OTHER supplier was late") pair is DECORRELATED
    into one per-order aggregate: n_supp > 1 AND exactly one late
    supplier AND this row is late together imply "only this supplier
    was late on a multi-supplier order" — two shuffles on orderkey
    replace two correlated re-scans of lineitem (at 100 TB the
    re-scans are the difference between hours and minutes)."""
    t = load_tables(spark, sf_dir)
    lo = (
        t["lineitem"]
        .join(
            t["orders"].filter(F.col("o_orderstatus") == "F"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            F.when(
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
                1,
            )
            .otherwise(0)
            .alias("late"),
        )
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late") == 1, F.col("l_suppkey"))).alias(
            "n_late"
        ),
    )
    return (
        lo.filter(F.col("late") == 1)
        .join(per_order.filter((F.col("n_supp") > 1) & (F.col("n_late") == 1)), "l_orderkey")
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


@_register(
    "sq_group_by_all",
    """
    SELECT o_orderpriority, o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT))
                AS BIGINT) AS cents
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
    """,
)
def sq_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL (the DuckDB-pioneered shorthand,
    adopted by Spark 4) through the SQL front-end — every
    non-aggregate select item becomes a grouping key, every output
    column an order key. The SAME SQL text runs verbatim on both
    engines; money in exact integer cents."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders
        GROUP BY ALL
        ORDER BY ALL
        """
    )


@_register(
    "q_skyline_pareto",
    """
    SELECT p.p_partkey, p.p_size,
           CAST(CAST(p.p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)
             AS price_cents
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_size >= p.p_size
        AND q.p_retailprice <= p.p_retailprice
        AND (q.p_size > p.p_size OR q.p_retailprice < p.p_retailprice)
    )
    """,
)
def q_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-frontier) operator: parts not dominated on
    (bigger size, cheaper price) — no other part is at least as large
    AND at most as expensive with one strict. The classic
    multi-criteria shortlist operator (Borzsonyi et al., ICDE 2001).

    Scale shape: for 2-D skylines dominance collapses to a PREFIX-MIN
    — a part is dominated iff (min price over strictly larger sizes)
    <= its price, or (min price within its own size) < its price. So
    the plan is: one map-combined groupBy to the per-size min-price
    table (|distinct sizes| rows), a broadcast triangular join for
    the strictly-larger prefix min, and one broadcast semi-filter
    back over the fact — never part x part. The oracle states the
    NOT EXISTS dominance definition directly; the prefix-min
    rewrite's equality to it is the value check. Prices compare as
    exact integer cents on both engines."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_size",
        F.expr("CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
            "price_cents"
        ),
    )
    ps = part.groupBy("p_size").agg(F.min("price_cents").alias("mp"))
    bigger = (
        ps.select(F.col("p_size").alias("s"))
        .join(
            F.broadcast(ps.select(F.col("p_size").alias("s2"), "mp")),
            F.col("s2") > F.col("s"),
            "left",
        )
        .groupBy("s")
        .agg(F.min("mp").alias("m1"))
    )
    dom = (
        ps.select(F.col("p_size").alias("s"), F.col("mp").alias("m0"))
        .join(F.broadcast(bigger), "s")
    )
    return (
        part.join(
            F.broadcast(dom), part["p_size"] == F.col("s")
        )
        .filter(
            (F.col("m1").isNull() | (F.col("m1") > F.col("price_cents")))
            & (F.col("m0") >= F.col("price_cents"))
        )
        .select("p_partkey", "p_size", "price_cents")
    )


@_register(
    "j17_coordinated_sample_join",
    f"""
    WITH c AS (
      SELECT c_custkey,
             ({KNUTH_HASH32_SQL.format(key='c_custkey')}) % 100 AS hc
      FROM customer
    ),
    o AS (
      SELECT o_orderkey, o_custkey,
             ({KNUTH_HASH32_SQL.format(key='o_custkey')}) % 100 AS hco,
             ({KNUTH_HASH32_SQL.format(key='o_orderkey')}) % 100 AS hoo
      FROM orders
    ),
    full_join AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n
      FROM c JOIN o ON c.c_custkey = o.o_custkey
    ),
    coord AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n
      FROM c JOIN o ON c.c_custkey = o.o_custkey
      WHERE c.hc < 10 AND o.hco < 10
    ),
    coord_keys AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n
      FROM c JOIN o ON c.c_custkey = o.o_custkey
      WHERE c.hc < 10
    ),
    indep AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n
      FROM c JOIN o ON c.c_custkey = o.o_custkey
      WHERE c.hc < 10 AND o.hoo < 10
    )
    SELECT 'coordinated' AS strategy,
           cj.n AS sample_join_rows,
           ck.n AS sampled_key_join_rows,
           fj.n AS full_join_rows,
           CAST(cj.n * 10000 // greatest(ck.n, 1) AS BIGINT)
             AS retained_bps,
           CAST(cj.n * 100 AS BIGINT) AS scaled_estimate
    FROM coord cj CROSS JOIN coord_keys ck CROSS JOIN full_join fj
    UNION ALL
    SELECT 'independent', ij.n, ck.n, fj.n,
           CAST(ij.n * 10000 // greatest(ck.n, 1) AS BIGINT),
           CAST(ij.n * 10000 AS BIGINT)
    FROM indep ij CROSS JOIN coord_keys ck CROSS JOIN full_join fj
    ORDER BY strategy
    """,
)
def j17_coordinated_sample_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coordinated (consistent) sampling across joined tables -- the
    sampling rule that makes 1 %-of-100 TB dev runs joinable: both
    sides sample by the SAME hash rule on the JOIN KEY
    (knuth(custkey)%100 < 10), so the sample join retains EVERY edge
    whose key was sampled (retained_bps = 10000 by construction --
    the proof column) and n*100 unbiasedly estimates the full join.
    The 'independent' row samples the orders side by a rule on its
    OWN key instead: the join of two 10 % samples keeps only ~10 %
    of the sampled keys' edges (p^2 overall; retained_bps ~ 1000),
    and its scale-up factor must be 10000 -- the quadratic variance
    blow-up that makes uncoordinated sampling useless for join
    metrics (Vengerov et al., join synopses literature).

    Scale shape: this AUDIT computes the full join once (it needs
    full_join_rows as truth) and shares it, checkpointed, across the
    four count branches. A production sampled run keeps only the
    sample predicate, which Catalyst pushes into the scans BEFORE
    the shuffle -- a coordinated 10 % join moves ~p*|rows|, and that
    plan shape is already pinned by u18/j9's pushdown rows. The
    report is a 2-row cross of 1-row counts."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", (knuth_hash32(F.col("c_custkey")) % 100).alias("hc")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        (knuth_hash32(F.col("o_custkey")) % 100).alias("hco"),
        (knuth_hash32(F.col("o_orderkey")) % 100).alias("hoo"),
    )
    j = c.join(o, c["c_custkey"] == o["o_custkey"]).localCheckpoint(
        eager=False
    )  # all four count branches share it
    full_join = j.agg(F.count(F.lit(1)).cast("bigint").alias("fj"))
    coord = j.where((F.col("hc") < 10) & (F.col("hco") < 10)).agg(
        F.count(F.lit(1)).cast("bigint").alias("cj")
    )
    coord_keys = j.where(F.col("hc") < 10).agg(
        F.count(F.lit(1)).cast("bigint").alias("ck")
    )
    indep = j.where((F.col("hc") < 10) & (F.col("hoo") < 10)).agg(
        F.count(F.lit(1)).cast("bigint").alias("ij")
    )
    base = (
        coord.crossJoin(F.broadcast(coord_keys))
        .crossJoin(F.broadcast(indep))
        .crossJoin(F.broadcast(full_join))
    )
    r1 = base.select(
        F.lit("coordinated").alias("strategy"),
        F.col("cj").alias("sample_join_rows"),
        F.col("ck").alias("sampled_key_join_rows"),
        F.col("fj").alias("full_join_rows"),
        F.expr("CAST(cj * 10000 div greatest(ck, 1) AS BIGINT)").alias(
            "retained_bps"
        ),
        F.expr("CAST(cj * 100 AS BIGINT)").alias("scaled_estimate"),
    )
    r2 = base.select(
        F.lit("independent").alias("strategy"),
        F.col("ij").alias("sample_join_rows"),
        F.col("ck").alias("sampled_key_join_rows"),
        F.col("fj").alias("full_join_rows"),
        F.expr("CAST(ij * 10000 div greatest(ck, 1) AS BIGINT)").alias(
            "retained_bps"
        ),
        F.expr("CAST(ij * 10000 AS BIGINT)").alias("scaled_estimate"),
    )
    return r1.unionByName(r2).orderBy("strategy")
