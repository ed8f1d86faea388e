"""Data-quality and audit-row queries (dq*): expectations, drift, profiling, gates.

Importing this module registers its queries in the package registry
(``hi_csa_db_spark.queries``) in source order."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hi_csa_db_spark.catalog import load_table, load_tables
from hi_csa_db_spark.operators import ordered

from hi_csa_db_spark.queries import _register


@_register(
    "dq1_expectations",
    """
    WITH rowrules AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o_custkey IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS v0,
             CAST(SUM(CASE WHEN o_totalprice IS NOT NULL AND o_totalprice >= 0
                           AND o_totalprice <= 600000 THEN 0 ELSE 1 END) AS BIGINT) AS v1,
             CAST(SUM(CASE WHEN o_orderstatus IN ('O', 'F', 'P') THEN 0 ELSE 1 END) AS BIGINT) AS v2,
             CAST(SUM(CASE WHEN o_orderpriority IS NOT NULL
                           AND regexp_matches(o_orderpriority, '^[1-5]-') THEN 0 ELSE 1 END) AS BIGINT) AS v3
      FROM orders
    ),
    uniq AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(SUM(c - 1) AS BIGINT) AS v
      FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)
    ),
    fk AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey)) AS v
    )
    SELECT 'not_null:o_custkey' AS rule, n AS n_checked, v0 AS n_violations FROM rowrules
    UNION ALL
    SELECT 'range:o_totalprice', n, v1 FROM rowrules
    UNION ALL
    SELECT 'accepted:o_orderstatus', n, v2 FROM rowrules
    UNION ALL
    SELECT 'regex:o_orderpriority', n, v3 FROM rowrules
    UNION ALL
    SELECT 'unique:o_orderkey', n, v FROM uniq
    UNION ALL
    SELECT 'fk:o_custkey->c_custkey', n, v FROM fk
    """,
)
def dq1_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality EXPECTATIONS report
    (operators/expectations.py — the Delta-constraints/Great-
    Expectations capability): four row-level rules evaluated in ONE
    map-combined aggregate pass (not-null, numeric range, accepted
    values, regex), plus key uniqueness (one keyed aggregate) and
    referential integrity (one anti-join). One row per rule with
    checked/violation counts — the publish gate a pipeline runs
    before promoting a table.

    Scale: the row-rule pass costs one scan regardless of rule count
    (a few counters per partition); uniqueness shuffles on the key a
    merge of this table would shuffle on anyway; the FK anti-join
    broadcasts the dimension side."""
    from hi_csa_db_spark.operators import expectations as ex

    t = load_tables(spark, sf_dir)
    orders, customer = t["orders"], t["customer"]
    rows = ex.check_rows(
        orders,
        [
            ex.not_null("o_custkey"),
            ex.in_range("o_totalprice", 0, 600000),
            ex.accepted_values("o_orderstatus", ["O", "F", "P"]),
            ex.matches("o_orderpriority", "^[1-5]-"),
        ],
    )
    uniq = ex.check_unique(orders, ["o_orderkey"])
    fk = ex.check_fk(orders, "o_custkey", F.broadcast(customer), "c_custkey")
    return rows.unionByName(uniq).unionByName(fk)


@_register(
    "dq2_psi_drift",
    """
    WITH b AS (
      SELECT least(CAST(floor(o_totalprice / CAST(50000 AS DOUBLE)) AS BIGINT), 9) AS bucket,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
                  THEN 1 ELSE 0 END AS side_a
      FROM orders
    ),
    per_bucket AS (
      SELECT bucket,
             CAST(SUM(side_a) AS BIGINT) AS na,
             CAST(SUM(1 - side_a) AS BIGINT) AS nb
      FROM b GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb
      FROM per_bucket
    ),
    terms AS (
      SELECT CAST(ROUND(
               (CAST(na AS DOUBLE) / ta - CAST(nb AS DOUBLE) / tb)
               * ln((CAST(na AS DOUBLE) * tb) / (CAST(nb AS DOUBLE) * ta)),
             8) AS DECIMAL(20,8)) AS term
      FROM per_bucket CROSS JOIN tot
      WHERE na > 0 AND nb > 0
    )
    SELECT (SELECT ta FROM tot) AS n_before,
           (SELECT tb FROM tot) AS n_after,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           ROUND(CAST(SUM(term) AS DOUBLE), 6) AS psi
    FROM terms
    """,
)
def dq2_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: Population Stability Index of the
    order-value distribution before vs after a calendar split — the
    standard ML-ops metric for "has the data shifted enough to
    retrain/alert" (PSI > 0.2 rule of thumb), complementing dq1's
    row validity and stats_ks_test's exact two-sample test (PSI is
    the binned, streaming-friendly one).

    One groupBy(bucket) computes both sides' histograms in a single
    shuffle (side flag summed two ways); totals enter as a 1-row
    broadcast. Per-bucket PSI terms are rounded 8dp and summed as
    DECIMAL — addition-order-proof across engines; empty-on-either-
    side buckets are excluded (the deterministic convention)."""
    orders = load_table(spark, sf_dir, "orders")
    b = orders.select(
        F.least(
            F.floor(F.col("o_totalprice") / F.lit(50000.0)).cast("bigint"),
            F.lit(9).cast("bigint"),
        ).alias("bucket"),
        F.when(
            F.col("o_orderdate")
            < F.lit("1998-01-01 00:00:00").cast("timestamp"),
            1,
        )
        .otherwise(0)
        .alias("side_a"),
    )
    per_bucket = b.groupBy("bucket").agg(
        F.sum("side_a").cast("bigint").alias("na"),
        F.sum(1 - F.col("side_a")).cast("bigint").alias("nb"),
    )
    tot = per_bucket.agg(
        F.sum("na").cast("bigint").alias("ta"),
        F.sum("nb").cast("bigint").alias("tb"),
    )
    terms = (
        per_bucket.crossJoin(F.broadcast(tot))
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            "ta",
            "tb",
            F.round(
                (
                    F.col("na").cast("double") / F.col("ta")
                    - F.col("nb").cast("double") / F.col("tb")
                )
                * F.log(
                    (F.col("na").cast("double") * F.col("tb"))
                    / (F.col("nb").cast("double") * F.col("ta"))
                ),
                8,
            )
            .cast("decimal(20,8)")
            .alias("term"),
        )
    )
    return terms.agg(
        F.first("ta").alias("n_before"),
        F.first("tb").alias("n_after"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.round(F.sum("term").cast("double"), 6).alias("psi"),
    )


@_register(
    "dq5_dead_letters",
    """
    SELECT event_id,
           concat_ws(',',
             CASE WHEN user_id IS NULL THEN 'user_id_not_null' END,
             CASE WHEN NOT (value >= 0 AND value <= 250) THEN 'value_in_range' END,
             CASE WHEN event_type NOT IN ('click', 'view', 'purchase',
                                          'signup', 'error')
                  THEN 'event_type_accepted' END) AS failed_rules
    FROM events
    WHERE user_id IS NULL
       OR NOT (value >= 0 AND value <= 250)
       OR event_type NOT IN ('click', 'view', 'purchase', 'signup', 'error')
    """,
)
def dq5_dead_letters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter routing — the row-level counterpart of dq1's
    aggregate expectations report: every ingest row failing any rule
    is emitted WITH the comma-joined list of the rules it failed (the
    payload a DLQ topic or quarantine table needs for triage and
    replay). Pure narrow projection + filter — the quarantine split
    costs one predicate per rule at any scale, and the same
    expressions drive dq1, so report and routing can never disagree."""
    ev = load_table(spark, sf_dir, "events")
    r1 = F.col("user_id").isNull()
    r2 = ~((F.col("value") >= 0) & (F.col("value") <= 250))
    r3 = ~F.col("event_type").isin("click", "view", "purchase", "signup", "error")
    return ev.filter(r1 | r2 | r3).select(
        "event_id",
        F.concat_ws(
            ",",
            F.when(r1, "user_id_not_null"),
            F.when(r2, "value_in_range"),
            F.when(r3, "event_type_accepted"),
        ).alias("failed_rules"),
    )


@_register(
    "dq6_column_profile",
    """
    WITH one AS (
      SELECT COUNT(*) AS n,
             COUNT(*) - COUNT(o_orderkey) AS nu_k, COUNT(DISTINCT o_orderkey) AS d_k,
             CAST(MIN(o_orderkey) AS VARCHAR) AS mn_k, CAST(MAX(o_orderkey) AS VARCHAR) AS mx_k,
             COUNT(*) - COUNT(o_custkey) AS nu_c, COUNT(DISTINCT o_custkey) AS d_c,
             CAST(MIN(o_custkey) AS VARCHAR) AS mn_c, CAST(MAX(o_custkey) AS VARCHAR) AS mx_c,
             COUNT(*) - COUNT(o_orderstatus) AS nu_s, COUNT(DISTINCT o_orderstatus) AS d_s,
             MIN(o_orderstatus) AS mn_s, MAX(o_orderstatus) AS mx_s,
             COUNT(*) - COUNT(o_totalprice) AS nu_t, COUNT(DISTINCT o_totalprice) AS d_t,
             CAST(CAST(MIN(o_totalprice) AS DECIMAL(15,2)) AS VARCHAR) AS mn_t,
             CAST(CAST(MAX(o_totalprice) AS DECIMAL(15,2)) AS VARCHAR) AS mx_t,
             COUNT(*) - COUNT(o_orderdate) AS nu_d, COUNT(DISTINCT o_orderdate) AS d_d,
             CAST(MIN(o_orderdate) AS VARCHAR) AS mn_d, CAST(MAX(o_orderdate) AS VARCHAR) AS mx_d,
             COUNT(*) - COUNT(o_orderpriority) AS nu_p, COUNT(DISTINCT o_orderpriority) AS d_p,
             MIN(o_orderpriority) AS mn_p, MAX(o_orderpriority) AS mx_p
      FROM orders
    )
    SELECT t.* FROM one, LATERAL (
      SELECT 'o_orderkey' AS "column", one.n AS n_rows, CAST(one.nu_k AS BIGINT) AS n_null,
             CAST(one.d_k AS BIGINT) AS n_distinct, one.mn_k AS min_val, one.mx_k AS max_val
      UNION ALL SELECT 'o_custkey', one.n, one.nu_c, one.d_c, one.mn_c, one.mx_c
      UNION ALL SELECT 'o_orderstatus', one.n, one.nu_s, one.d_s, one.mn_s, one.mx_s
      UNION ALL SELECT 'o_totalprice', one.n, one.nu_t, one.d_t, one.mn_t, one.mx_t
      UNION ALL SELECT 'o_orderdate', one.n, one.nu_d, one.d_d, one.mn_d, one.mx_d
      UNION ALL SELECT 'o_orderpriority', one.n, one.nu_p, one.d_p, one.mn_p, one.mx_p
    ) t
    """,
)
def dq6_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profiling report (expectations.column_profile) over
    orders: completeness (null count), cardinality (exact distinct),
    and bounds per column in ONE aggregate pass, unpivoted to a row
    per column. Numeric bounds stay numeric for the min/max and are
    rendered to portable strings after aggregation (decimals for the
    double column, ISO for the date). The discovery-side complement
    of dq1's rule checks: profile first, then write the rules.

    Supersedes profile_columns' shape (kept: banked driver-green):
    that early query scans once PER numeric column and unions the
    1-row results; this one profiles six mixed-type columns in a
    single aggregate pass through the reusable
    expectations.column_profile operator."""
    from hi_csa_db_spark.operators import expectations

    o = load_table(spark, sf_dir, "orders")
    as_str = lambda c: c.cast("string")  # noqa: E731
    dec_str = lambda c: c.cast("decimal(15,2)").cast("string")  # noqa: E731
    return expectations.column_profile(
        o,
        [
            ("o_orderkey", F.col("o_orderkey"), as_str),
            ("o_custkey", F.col("o_custkey"), as_str),
            ("o_orderstatus", F.col("o_orderstatus"), as_str),
            ("o_totalprice", F.col("o_totalprice"), dec_str),
            ("o_orderdate", F.col("o_orderdate"), as_str),
            ("o_orderpriority", F.col("o_orderpriority"), as_str),
        ],
    )


@_register(
    "dq4_skew_report",
    """
    WITH per_key AS (
      SELECT l_suppkey AS key, COUNT(*) AS cnt FROM lineitem GROUP BY 1
    ),
    stats AS (
      SELECT COUNT(*) AS n_keys, SUM(cnt) AS n_rows, MAX(cnt) AS max_cnt
      FROM per_key
    )
    SELECT p.key, p.cnt,
           ROUND(p.cnt * s.n_keys / CAST(s.n_rows AS DOUBLE), 6) AS skew_ratio,
           CAST(s.n_keys AS BIGINT) AS n_keys,
           CAST(s.n_rows AS BIGINT) AS n_rows
    FROM per_key p CROSS JOIN stats s
    ORDER BY p.cnt DESC, p.key ASC LIMIT 10
    """,
)
def dq4_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis — the operational pre-join check at
    100 TB: per-key row counts for a prospective join key, the top-10
    heaviest keys, and each key's skew ratio (count ÷ mean count,
    computed as cnt·n_keys/n_rows so the only float is the final
    rounded division). A ratio far above 1 on the biggest keys is the
    signal to salt (operators/skew.py) or let AQE's skew-join split
    partitions; one map-combined aggregate + a 1-row stats broadcast
    — the report costs one pass regardless of table size."""
    li = load_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    stats = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
    )
    return (
        per_key.crossJoin(F.broadcast(stats))
        .select(
            "key",
            "cnt",
            F.round(
                F.col("cnt") * F.col("n_keys") / F.col("n_rows").cast("double"), 6
            ).alias("skew_ratio"),
            F.col("n_keys").cast("bigint").alias("n_keys"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
        )
        .orderBy(F.col("cnt").desc(), F.col("key").asc())
        .limit(10)
    )


@_register(
    "dq7_referential_integrity",
    """
    WITH e1 AS (
      SELECT 'lineitem->orders' AS edge,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS child_rows,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey)) AS orphan_rows,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                                WHERE l.l_orderkey = o.o_orderkey)) AS unreferenced_parents
    ),
    e2 AS (
      SELECT 'lineitem->part' AS edge,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS child_rows,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM part p
                                WHERE p.p_partkey = l.l_partkey)) AS orphan_rows,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM part p
              WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                                WHERE l.l_partkey = p.p_partkey)) AS unreferenced_parents
    ),
    e3 AS (
      SELECT 'orders->customer' AS edge,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS child_rows,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey)) AS orphan_rows,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_custkey = c.c_custkey)) AS unreferenced_parents
    ),
    e4 AS (
      SELECT 'events->customer' AS edge,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS child_rows,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM events e
              WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = e.user_id)) AS orphan_rows,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM events e
                                WHERE e.user_id = c.c_custkey)) AS unreferenced_parents
    )
    SELECT * FROM e1 UNION ALL SELECT * FROM e2
    UNION ALL SELECT * FROM e3 UNION ALL SELECT * FROM e4
    """,
)
def dq7_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table referential-integrity profile: for each FK edge of
    the star schema (lineitem->orders, lineitem->part,
    orders->customer, events->customer), report child cardinality,
    orphan children (FK value with no parent row), and unreferenced
    parents (parent key no child ever cites) — the containment audit a
    DQ gate runs before joining 100 TB fact data against dimensions.

    Scale shape: ONE pass per edge — child keys pre-aggregated to
    (key, count), full-outer-joined to the distinct parent keys, then
    a scalar aggregate; the shuffle is on the join key (what the
    downstream join would shuffle anyway) and carries counts, not
    rows. No anti-join per metric: all three metrics fall out of the
    same outer join."""

    def edge(
        child: DataFrame, ckey: str, parent: DataFrame, pkey: str, name: str
    ) -> DataFrame:
        ck = child.groupBy(F.col(ckey).alias("k")).agg(
            F.count(F.lit(1)).alias("cn")
        )
        pk = parent.select(F.col(pkey).alias("k")).distinct().withColumn(
            "p", F.lit(1)
        )
        j = ck.join(pk, "k", "full_outer")
        return j.agg(
            F.coalesce(F.sum("cn"), F.lit(0)).cast("bigint").alias("child_rows"),
            F.coalesce(F.sum(F.when(F.col("p").isNull(), F.col("cn"))), F.lit(0))
            .cast("bigint")
            .alias("orphan_rows"),
            F.sum(F.when(F.col("cn").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("unreferenced_parents"),
        ).select(
            F.lit(name).alias("edge"),
            "child_rows",
            "orphan_rows",
            "unreferenced_parents",
        )

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    c = load_table(spark, sf_dir, "customer")
    ev = load_table(spark, sf_dir, "events")
    return (
        edge(li, "l_orderkey", o, "o_orderkey", "lineitem->orders")
        .unionAll(edge(li, "l_partkey", p, "p_partkey", "lineitem->part"))
        .unionAll(edge(o, "o_custkey", c, "c_custkey", "orders->customer"))
        .unionAll(edge(ev, "user_id", c, "c_custkey", "events->customer"))
    )


@_register(
    "dq8_freshness",
    """
    WITH m AS (
      SELECT event_type, CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_event_us,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY event_type
    ),
    g AS (SELECT CAST(MAX(epoch_us(ts)) AS BIGINT) AS gmx FROM events)
    SELECT event_type, n_events, last_event_us,
           CAST((gmx - last_event_us) // 1000000 AS BIGINT) AS staleness_sec
    FROM m CROSS JOIN g
    """,
)
def dq8_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness/timeliness audit: per event stream, the last event
    time and its staleness against the newest event anywhere — the
    is-this-feed-still-alive check a DQ suite runs before trusting an
    incremental load. Declared-microsecond times (the t2/t8 precision
    contract); staleness in whole seconds is an integer floor-div.

    Scale shape: one map-combined MAX per stream + a 1-row broadcast
    of the global max."""
    ev = load_table(spark, sf_dir, "events")
    us = F.expr("ts_ns div 1000")
    m = ev.groupBy("event_type").agg(
        F.max(us).alias("last_event_us"),
        F.count(F.lit(1)).alias("n_events"),
    )
    g = ev.agg(F.max(us).alias("gmx"))
    return m.crossJoin(F.broadcast(g)).select(
        "event_type",
        "n_events",
        "last_event_us",
        F.expr("CAST((gmx - last_event_us) div 1000000 AS BIGINT)").alias(
            "staleness_sec"
        ),
    )


@_register(
    "dq9_join_fanout",
    """
    WITH ca AS (SELECT o_custkey AS k, COUNT(*) AS c FROM orders GROUP BY 1),
    cb AS (SELECT c_custkey AS k, COUNT(*) AS c FROM customer GROUP BY 1),
    prod AS (
      SELECT ca.k, ca.c * cb.c AS fanout
      FROM ca JOIN cb ON ca.k = cb.k
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_join_keys,
           CAST(SUM(fanout) AS BIGINT) AS predicted_rows,
           CAST(MAX(fanout) AS BIGINT) AS max_key_fanout,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
             AS actual_rows
    FROM prod
    """,
)
def dq9_join_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-fanout audit: the exact output cardinality of a join,
    PREDICTED from per-key counts alone (Σ |A_k|·|B_k| — two
    aggregates and a key join, never the joined rows) beside the
    ACTUAL joined row count, plus the worst single-key fanout. The
    pre-flight check a pipeline runs before an expensive join to
    catch key-explosion (a skewed or wrongly-grained key) while it is
    still cheap to catch — at 100 TB the predictor costs two
    map-combined aggregates; the join it guards costs a full
    fact-fact shuffle. predicted_rows == actual_rows is the built-in
    proof of the identity.

    Scale shape: groupBy per side (map-combined), a key-count join
    (bounded by distinct keys), and the guarded join itself only for
    the audit's verification column."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    ca = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("c_a")
    )
    cb = c.groupBy(F.col("c_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("c_b")
    )
    prod = ca.join(cb, "k").select(
        "k", (F.col("c_a") * F.col("c_b")).alias("fanout")
    )
    pred = prod.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_join_keys"),
        F.sum("fanout").cast("bigint").alias("predicted_rows"),
        F.max("fanout").cast("bigint").alias("max_key_fanout"),
    )
    actual = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .agg(F.count(F.lit(1)).cast("bigint").alias("actual_rows"))
    )
    return pred.crossJoin(F.broadcast(actual))


@_register(
    "dq10_sequence_gaps",
    """
    WITH k AS (SELECT DISTINCT o_orderkey AS id FROM orders),
    r AS (SELECT id, ROW_NUMBER() OVER (ORDER BY id) AS rnk FROM k),
    isl AS (
      SELECT id - rnk AS grp, MIN(id) AS lo, MAX(id) AS hi, COUNT(*) AS n
      FROM r GROUP BY 1
    ),
    nxt AS (
      SELECT a.hi AS gap_start_after, b.lo AS gap_end_before,
             b.lo - a.hi - 1 AS missing
      FROM isl a JOIN isl b ON b.lo = (
        SELECT MIN(lo) FROM isl WHERE lo > a.hi
      )
    )
    SELECT gap_start_after, gap_end_before, CAST(missing AS BIGINT) AS missing
    FROM nxt ORDER BY gap_start_after LIMIT 20
    """,
)
def dq10_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-gap audit: the first 20 holes in the orderkey id
    space (contiguous-run islands via the id − rank key, then
    consecutive-island pairing) — the surrogate-key integrity check
    that catches dropped extraction batches: a gap of exactly one
    batch size is a smoking gun. TPC-H orderkeys are deliberately
    sparse (only 1 in 4 low ids used), so the fixture genuinely
    exercises the island logic.

    Scale shape: ranks ride ordered.global_row_numbers (range
    partition + broadcast offsets); islands are one groupBy; the
    island successor pairing is a rank+1 equi-join over the (small)
    island table, never a correlated subquery (the oracle's
    correlated MIN is the semantic spec)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id")
    ).distinct()
    r = ordered.global_row_numbers(o, "id")
    isl = (
        r.select((F.col("id") - F.col("rank")).alias("grp"), "id")
        .groupBy("grp")
        .agg(
            F.min("id").alias("lo"),
            F.max("id").alias("hi"),
        )
    )
    ir = ordered.global_row_numbers(isl.select("lo", "hi"), "lo")
    succ = ir.select(
        (F.col("rank") - 1).alias("rank"),
        F.col("lo").alias("next_lo"),
    )
    return (
        ir.join(succ, "rank")
        .select(
            F.col("hi").alias("gap_start_after"),
            F.col("next_lo").alias("gap_end_before"),
            (F.col("next_lo") - F.col("hi") - 1).cast("bigint").alias(
                "missing"
            ),
        )
        .orderBy("gap_start_after")
        .limit(20)
    )


@_register(
    "dq11_reconciliation",
    """
    WITH li AS (
      SELECT l_orderkey AS k,
             SUM(CAST(CAST(l_extendedprice AS DECIMAL(15,2)) * 100 AS BIGINT))
               AS line_cents
      FROM lineitem GROUP BY l_orderkey
    ),
    o AS (
      SELECT o_orderkey AS k, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)
               AS hdr_cents
      FROM orders
    ),
    j AS (
      SELECT o.o_orderstatus, o.hdr_cents,
             COALESCE(li.line_cents, 0) AS line_cents,
             abs(o.hdr_cents - COALESCE(li.line_cents, 0)) AS adiff
      FROM o LEFT JOIN li ON li.k = o.k
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN adiff > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_mismatched,
           CAST(MAX(adiff) AS BIGINT) AS max_abs_diff_cents,
           CAST(SUM(adiff) AS BIGINT) AS total_abs_diff_cents
    FROM j GROUP BY o_orderstatus
    """,
)
def dq11_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-detail money reconciliation: each order's header total
    against the sum of its line extended prices - the classic
    cross-table consistency audit (billing header drifting from its
    lines is how real pipelines lose money silently). Reports, per
    order status, how many orders disagree beyond a cent and by how
    much; orders with no lines reconcile against zero. Whatever the
    fixture's generator chose, both engines must agree on the exact
    integer-cents discrepancy profile.

    Scale shape: one map-combined per-order line aggregate, one
    header equi-join (both sides keyed on orderkey — bucketed layout
    makes it shuffle-free, the j11 pattern), one |status| rollup."""
    li = load_table(spark, sf_dir, "lineitem").groupBy(
        F.col("l_orderkey").alias("k")
    ).agg(
        F.sum(
            (F.col("l_extendedprice").cast("decimal(15,2)") * 100).cast(
                "bigint"
            )
        ).alias("line_cents")
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        "o_orderstatus",
        (F.col("o_totalprice").cast("decimal(15,2)") * 100)
        .cast("bigint")
        .alias("hdr_cents"),
    )
    j = o.join(li, "k", "left").select(
        "o_orderstatus",
        F.abs(
            F.col("hdr_cents") - F.coalesce("line_cents", F.lit(0))
        ).alias("adiff"),
    )
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum((F.col("adiff") > 1).cast("bigint"))
        .cast("bigint")
        .alias("n_mismatched"),
        F.max("adiff").cast("bigint").alias("max_abs_diff_cents"),
        F.sum("adiff").cast("bigint").alias("total_abs_diff_cents"),
    )


@_register(
    "dq12_pk_uniqueness",
    """
    SELECT 'orders' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_dup_rows
    FROM orders
    UNION ALL
    SELECT 'customer', COUNT(*), COUNT(DISTINCT c_custkey),
           COUNT(*) - COUNT(DISTINCT c_custkey) FROM customer
    UNION ALL
    SELECT 'part', COUNT(*), COUNT(DISTINCT p_partkey),
           COUNT(*) - COUNT(DISTINCT p_partkey) FROM part
    UNION ALL
    SELECT 'supplier', COUNT(*), COUNT(DISTINCT s_suppkey),
           COUNT(*) - COUNT(DISTINCT s_suppkey) FROM supplier
    UNION ALL
    SELECT 'documents', COUNT(*), COUNT(DISTINCT doc_id),
           COUNT(*) - COUNT(DISTINCT doc_id) FROM documents
    UNION ALL
    SELECT 'events', COUNT(*), COUNT(DISTINCT event_id),
           COUNT(*) - COUNT(DISTINCT event_id) FROM events
    """,
)
def dq12_pk_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit across every keyed fixture table
    in ONE result: row count vs distinct key count per table — the
    first DQ gate any ingest runs (a duplicated key breaks every
    downstream join's cardinality; dq9 predicts the blast radius,
    this catches the cause). The clean fixture's zeros are the
    verified answer (the dq7/dq10 clean-pin pattern).

    Scale shape: one map-combined count+distinct per table, unioned —
    each leg shuffles only its partial aggregates."""
    parts = []
    for tbl, key in (
        ("orders", "o_orderkey"),
        ("customer", "c_custkey"),
        ("part", "p_partkey"),
        ("supplier", "s_suppkey"),
        ("documents", "doc_id"),
        ("events", "event_id"),
    ):
        t = load_table(spark, sf_dir, tbl)
        parts.append(
            t.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.countDistinct(key).cast("bigint").alias("n_keys"),
            ).select(
                F.lit(tbl).alias("tbl"),
                "n_rows",
                "n_keys",
                (F.col("n_rows") - F.col("n_keys"))
                .cast("bigint")
                .alias("n_dup_rows"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@_register(
    "dq13_volume_anomaly",
    """
    WITH d AS (
      SELECT event_type,
             epoch_us(ts) // 86400000000 AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, epoch_us(ts) // 86400000000
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(n) AS BIGINT) AS tot,
             CAST(SUM(n * n) AS BIGINT) AS sq
      FROM d GROUP BY event_type
    ),
    j AS (
      SELECT d.event_type, d.day, d.n,
             (d.n * s.n_days - s.tot) AS dev, s.n_days,
             9 * (s.n_days * s.sq - s.tot * s.tot) AS thr3,
             4 * (s.n_days * s.sq - s.tot * s.tot) AS thr2,
             ROW_NUMBER() OVER (PARTITION BY d.event_type
               ORDER BY (d.n * s.n_days - s.tot)
                        * (d.n * s.n_days - s.tot) DESC, d.day ASC) AS rk
      FROM d JOIN s ON s.event_type = d.event_type
    )
    SELECT event_type, CAST(day AS BIGINT) AS worst_day, n AS worst_n,
           CAST(n_days AS BIGINT) AS n_days,
           CAST(dev * dev AS BIGINT) AS dev_sq_scaled,
           CAST(thr3 AS BIGINT) AS thr3_scaled,
           CAST(CASE WHEN dev * dev > thr2 THEN 1 ELSE 0 END AS INT)
             AS breach_2sigma,
           CAST(CASE WHEN dev * dev > thr3 THEN 1 ELSE 0 END AS INT)
             AS breach_3sigma
    FROM j WHERE rk = 1
    """,
)
def dq13_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume control chart — the DQ monitor that catches a broken
    producer BEFORE values are inspected: each event type's WORST
    deviation day (daily count vs its own mean) is reported with the
    2-sigma and 3-sigma control-limit verdicts, the test done ENTIRELY
    IN INTEGERS by clearing denominators:
    |x - S/D| > k*sqrt((SQ - S^2/D)/D)  <=>
    (x*D - S)^2 > k^2*(D*SQ - S^2) — no float mean, no sqrt,
    identical on both engines and any host. Reporting the worst day
    per type (instead of only breaches) keeps the chart non-vacuous
    on healthy streams: the monitor's output is the margin, not just
    an empty alarm list. Complements t29 (value anomalies) and dq8
    (freshness): row-VOLUME drift is the first thing a dead or
    duplicated upstream shows.

    Scale: one map-combined (type, day) count, one <= |types| stats
    aggregate broadcast back, a per-type window over day rows — two
    narrow passes over counts, never the events twice."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type",
        F.expr("ts_ns div 1000 div 86400000000").alias("day"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    s = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("n").cast("bigint").alias("tot"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("sq"),
    )
    j = d.join(F.broadcast(s), "event_type")
    dev = F.col("n") * F.col("n_days") - F.col("tot")
    var_s = F.col("n_days") * F.col("sq") - F.col("tot") * F.col("tot")
    w = Window.partitionBy("event_type").orderBy(
        (dev * dev).desc(), F.col("day").asc()
    )
    ranked = j.select(
        "event_type",
        "day",
        "n",
        "n_days",
        (dev * dev).alias("dev_sq_scaled"),
        (9 * var_s).alias("thr3"),
        (4 * var_s).alias("thr2"),
        F.row_number().over(w).alias("rk"),
    )
    return ranked.filter(F.col("rk") == 1).select(
        "event_type",
        F.col("day").cast("bigint").alias("worst_day"),
        F.col("n").alias("worst_n"),
        F.col("n_days").cast("bigint").alias("n_days"),
        F.col("dev_sq_scaled").cast("bigint").alias("dev_sq_scaled"),
        F.col("thr3").cast("bigint").alias("thr3_scaled"),
        (F.col("dev_sq_scaled") > F.col("thr2")).cast("int").alias(
            "breach_2sigma"
        ),
        (F.col("dev_sq_scaled") > F.col("thr3")).cast("int").alias(
            "breach_3sigma"
        ),
    )


@_register(
    "dq14_benford_audit",
    """
    WITH cents AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS c
      FROM orders WHERE o_totalprice > 0
    ),
    dg AS (
      SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit,
             COUNT(*) AS n
      FROM cents GROUP BY 1
    ),
    tot AS (SELECT SUM(n) AS t FROM dg),
    exp AS (SELECT * FROM (VALUES (1,301),(2,176),(3,125),(4,97),(5,79),
                                  (6,67),(7,58),(8,51),(9,46)) e(digit, exp_milli))
    SELECT d.digit, CAST(d.n AS BIGINT) AS n_orders,
           CAST(d.n * 1000 // t.t AS BIGINT) AS obs_milli,
           CAST(e.exp_milli AS BIGINT) AS exp_milli,
           CAST(d.n * 1000 // t.t - e.exp_milli AS BIGINT) AS dev_milli
    FROM dg d JOIN exp e ON e.digit = d.digit CROSS JOIN tot t
    """,
)
def dq14_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    fabricated-data / ingestion-bug screen (synthetic or truncated
    money columns flunk the log distribution immediately): observed
    first-significant-digit shares vs the Benford expectation
    log10(1+1/d), deviation in signed milli.

    Determinism: amounts go through DECIMAL(14,2)*100 so the cents
    integer is exact (never double*100 truncation); expected shares
    are integer milli constants; observed shares floor-divide.

    Scale: one narrow digit projection + a 9-group count; the total
    is a 1-row broadcast."""
    orders = load_table(spark, sf_dir, "orders")
    cents = orders.filter(F.col("o_totalprice") > 0).select(
        F.col("o_totalprice")
        .cast("decimal(14,2)")
        .cast("decimal(16,2)")
        .alias("p")
    ).select((F.col("p") * 100).cast("bigint").alias("c"))
    dg = cents.select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("int").alias("digit")
    ).groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = dg.agg(F.sum("n").alias("t"))
    exp_milli = F.expr(
        "CASE digit WHEN 1 THEN 301 WHEN 2 THEN 176 WHEN 3 THEN 125 "
        "WHEN 4 THEN 97 WHEN 5 THEN 79 WHEN 6 THEN 67 WHEN 7 THEN 58 "
        "WHEN 8 THEN 51 WHEN 9 THEN 46 END"
    )
    return dg.crossJoin(F.broadcast(tot)).select(
        "digit",
        F.col("n").cast("bigint").alias("n_orders"),
        F.expr("CAST(n * 1000 div t AS BIGINT)").alias("obs_milli"),
        exp_milli.cast("bigint").alias("exp_milli"),
        (F.expr("n * 1000 div t") - exp_milli).cast("bigint").alias("dev_milli"),
    )


@_register(
    "dq15_cusum_drift",
    """
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)) * 100) AS BIGINT)
               AS x
      FROM orders GROUP BY 1
    ),
    t AS (SELECT CAST(SUM(x) // COUNT(*) AS BIGINT) AS target,
                 COUNT(*) AS nd FROM daily),
    pre AS (
      SELECT d, x,
             SUM(x - t.target) OVER (ORDER BY d ASC
               ROWS UNBOUNDED PRECEDING) AS s
      FROM daily CROSS JOIN t
    ),
    cu AS (
      SELECT d, x, s,
             s - least(MIN(s) OVER (ORDER BY d ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
               AS cusum
      FROM pre
    )
    SELECT d AS day, CAST(x AS BIGINT) AS revenue_cents,
           CAST(cusum AS BIGINT) AS cusum_cents
    FROM cu ORDER BY cusum DESC, day ASC LIMIT 10
    """,
)
def dq15_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM control chart over daily order revenue — the
    sequential drift detector (Page's cumulative sum) re-expressed as
    PARALLEL prefix arithmetic: the textbook recursion
    s_k = max(0, s_{k-1} + (x_k - target)) equals
    S_k - min(0, min_{j<=k} S_j) where S is the plain prefix sum of
    deviations (the running min INCLUDES the current row -- with j<k
    a new negative prefix minimum at k would emit a negative cusum,
    impossible under Page's formula; ADVICE r7), so two day-level
    windows replace the sequential scan entirely. Top-10 drift peaks,
    exact integer cents throughout (target = floor mean of daily
    cents).

    Scale: the corpus-sized work is one map-combined daily aggregate;
    both windows run over the bounded day-level series (calendar-
    bounded row count, the t16/t26 contract), never raw orders."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(14,2)") * 100)
        .cast("bigint")
        .alias("x")
    )
    t = daily.agg(
        F.expr("CAST(SUM(x) div COUNT(*) AS BIGINT)").alias("target")
    )
    w_all = Window.orderBy(F.col("d").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = daily.crossJoin(F.broadcast(t)).withColumn(
        "s", F.sum(F.col("x") - F.col("target")).over(w_all)
    )
    cu = pre.withColumn(
        "cusum",
        F.col("s") - F.least(F.min("s").over(w_all), F.lit(0)),
    )
    return (
        cu.select(
            F.col("d").alias("day"),
            F.col("x").cast("bigint").alias("revenue_cents"),
            F.col("cusum").cast("bigint").alias("cusum_cents"),
        )
        .orderBy(F.col("cusum_cents").desc(), F.col("day").asc())
        .limit(10)
    )


@_register(
    "dq16_k_anonymity",
    """
    WITH q AS (
      SELECT source, lang,
             length(CAST(n_chars AS VARCHAR)) AS len_digits
      FROM documents
    ),
    g AS (
      SELECT source, lang, len_digits, COUNT(*) AS gsz
      FROM q GROUP BY source, lang, len_digits
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN gsz < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_small_groups,
           CAST(SUM(CASE WHEN gsz < 5 THEN gsz ELSE 0 END) AS BIGINT)
             AS n_exposed_docs,
           CAST(MIN(gsz) AS BIGINT) AS k_anonymity
    FROM g GROUP BY source
    """,
)
def dq16_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifier tuples (source, lang,
    decimal-digit length bucket): the data-governance check a corpus
    release runs — a doc whose QI combination is shared by fewer than
    k=5 docs is re-identifiable from metadata alone. Reports, per
    source, the equivalence-class count, how many classes and docs
    fall under the k threshold, and the source's actual k (its
    smallest class). The length bucket is LENGTH(CAST(n AS VARCHAR))
    — an order-of-magnitude bucket with identical semantics on both
    engines (no libm log). Complements x38's SUPPRESSION gate (which
    publishes only >= k groups): x38 is the release action, this is
    the per-source risk AUDIT that decides whether the release needs
    generalization at all.

    Scale: two map-combined aggregations (QI classes, then per-source
    rollup) — group cardinality is bounded by |sources| x |langs| x
    ~7 digit buckets, never corpus-sized."""
    docs = load_table(spark, sf_dir, "documents")
    q = docs.select(
        "source",
        "lang",
        F.length(F.col("n_chars").cast("string")).alias("len_digits"),
    )
    g = q.groupBy("source", "lang", "len_digits").agg(
        F.count(F.lit(1)).alias("gsz")
    )
    return g.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(F.when(F.col("gsz") < 5, 1).otherwise(0))
        .cast("bigint")
        .alias("n_small_groups"),
        F.sum(F.when(F.col("gsz") < 5, F.col("gsz")).otherwise(0))
        .cast("bigint")
        .alias("n_exposed_docs"),
        F.min("gsz").cast("bigint").alias("k_anonymity"),
    )


@_register(
    "dq17_null_creep",
    """
    WITH d AS (
      SELECT epoch_us(ts) // 86400000000 AS day,
             CASE WHEN value IS NULL THEN 1 ELSE 0 END AS nv,
             CASE WHEN props IS NULL OR props = '' THEN 1 ELSE 0 END AS np
      FROM events
    )
    SELECT CAST(day AS BIGINT) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(nv) AS BIGINT) AS null_value,
           CAST(SUM(np) AS BIGINT) AS null_props,
           CAST(SUM(nv) * 1000000 // COUNT(*) AS BIGINT) AS value_null_micro,
           CAST(SUM(np) * 1000000 // COUNT(*) AS BIGINT) AS props_null_micro
    FROM d GROUP BY day
    """,
)
def dq17_null_creep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-creep monitor: per-day null/empty rates for the payload
    columns (value, props) in exact millionths — the silent-breakage
    class schema checks miss (the column still exists, the producer
    just stopped filling it). Read as a series, a step change marks
    the deploy that broke the field; complements dq8 (freshness),
    dq13 (volume) and dq1's point-in-time expectations.

    Scale: one narrow projection + a calendar-bounded per-day
    aggregate, map-side combined."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        F.expr("ts_ns div 1000 div 86400000000").alias("day"),
        F.when(F.col("value").isNull(), 1).otherwise(0).alias("nv"),
        F.when(
            F.col("props").isNull() | (F.col("props") == ""), 1
        )
        .otherwise(0)
        .alias("np"),
    )
    return d.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("nv").cast("bigint").alias("null_value"),
        F.sum("np").cast("bigint").alias("null_props"),
        F.expr("CAST(SUM(nv) * 1000000 div COUNT(1) AS BIGINT)").alias(
            "value_null_micro"
        ),
        F.expr("CAST(SUM(np) * 1000000 div COUNT(1) AS BIGINT)").alias(
            "props_null_micro"
        ),
    ).select(
        F.col("day").cast("bigint").alias("day"),
        "n_rows",
        "null_value",
        "null_props",
        "value_null_micro",
        "props_null_micro",
    )


@_register(
    "dq18_l_diversity",
    """
    WITH s AS (
      SELECT c_nationkey, c_mktsegment,
             CASE WHEN c_acctbal < 0 THEN 'debt'
                  WHEN c_acctbal < 5000 THEN 'mid'
                  ELSE 'high' END AS band
      FROM customer
    ),
    cls AS (
      SELECT c_mktsegment, c_nationkey,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT band) AS BIGINT) AS l_div
      FROM s GROUP BY 1, 2
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(CASE WHEN l_div < 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS weak_classes,
           CAST(SUM(CASE WHEN l_div < 3 THEN n_rows ELSE 0 END) AS BIGINT)
             AS exposed_rows,
           CAST(MIN(l_div) AS BIGINT) AS min_l
    FROM cls GROUP BY c_mktsegment
    """,
)
def dq18_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit, the companion privacy check to dq16's
    k-anonymity: a quasi-identifier class can be large (k-anonymous)
    yet still leak if everyone in it shares the same SENSITIVE value
    — here the account-balance band (debt / mid / high) within each
    (nation, market-segment) class. Reports, per segment, how many
    classes fall below l = 3 distinct bands, how many customer rows
    sit exposed in them, and the segment's worst class diversity.
    Fixed integer band thresholds, so both engines bucket
    identically; all outputs exact counts.

    Scale: two map-combined aggregations; class cardinality is
    bounded by |nations| x |segments|, never data-sized."""
    cust = load_table(spark, sf_dir, "customer")
    s = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
        .alias("band"),
    )
    cls = s.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("band").cast("bigint").alias("l_div"),
    )
    return cls.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum(F.when(F.col("l_div") < 3, 1).otherwise(0))
        .cast("bigint")
        .alias("weak_classes"),
        F.sum(F.when(F.col("l_div") < 3, F.col("n_rows")).otherwise(0))
        .cast("bigint")
        .alias("exposed_rows"),
        F.min("l_div").cast("bigint").alias("min_l"),
    )


@_register(
    "dq19_column_profile",
    """
    WITH v AS (
      SELECT 'doc_id' AS col, CAST(doc_id AS VARCHAR) AS val FROM documents
      UNION ALL SELECT 'text', text FROM documents
      UNION ALL SELECT 'lang', lang FROM documents
      UNION ALL SELECT 'source', source FROM documents
      UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM documents
    ),
    per AS (SELECT col, val, COUNT(*) AS c FROM v GROUP BY col, val)
    SELECT col,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COALESCE(SUM(CASE WHEN val IS NULL THEN c END), 0) AS BIGINT)
             AS n_nulls,
           CAST(COUNT(val) AS BIGINT) AS n_distinct,
           CAST(MAX(CASE WHEN val IS NOT NULL THEN c END) * 10000
                // SUM(c) AS BIGINT) AS top_share_bps,
           CAST(CASE WHEN COUNT(val) > 0 THEN
                  SUM(CASE WHEN val IS NOT NULL THEN c * LENGTH(val) END)
                  * 1000 // SUM(CASE WHEN val IS NOT NULL THEN c END)
                END AS BIGINT) AS avg_len_milli
    FROM per GROUP BY col
    """,
)
def dq19_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency/length column profiler — the value-DISTRIBUTION
    complement of profile_columns (numeric bounds, one agg pass) and
    expectations.column_profile (typed min/max report): every column
    of the documents table melted to (column, stringified value) and
    profiled from its per-value count table — row count, null count,
    distinct count, the most frequent value's share in basis points
    (constant-column / category-collapse detector), and mean value
    length in milli-chars (the cheap schema-drift signal: a length
    step change means the producer changed format). Lengths are
    aggregated from the per-value counts (sum of c * len(val)), so
    the profile needs only ONE shuffle of distinct values, not a
    second corpus pass — the stat profile_columns' single-pass agg
    cannot produce (top-value share needs the value groups).

    Scale: the melt is a narrow 5x projection; per-(col, value)
    counts are map-side combined; the final rollup is |columns|
    groups. For a high-cardinality column the distinct table is the
    dominant term — exactly the cost any profiler pays, with no
    skew surprises since values hash-partition."""
    docs = load_table(spark, sf_dir, "documents")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    v = docs.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"),
                        F.col(c).cast("string").alias("val"),
                    )
                    for c in cols
                ]
            )
        ).alias("kv")
    ).select("kv.col", "kv.val")
    per = v.groupBy("col", "val").agg(F.count(F.lit(1)).alias("c"))
    return per.groupBy("col").agg(
        F.sum("c").cast("bigint").alias("n_rows"),
        F.coalesce(
            F.sum(F.when(F.col("val").isNull(), F.col("c"))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_nulls"),
        F.count("val").cast("bigint").alias("n_distinct"),
        F.expr(
            "CAST(MAX(CASE WHEN val IS NOT NULL THEN c END) * 10000"
            " div SUM(c) AS BIGINT)"
        ).alias("top_share_bps"),
        # CASE-guarded: an all-NULL column must report NULL here on
        # BOTH engines -- Spark ANSI `div 0` throws while DuckDB `// 0`
        # yields NULL (the naive-bayes ADVICE r6 divergence class).
        F.expr(
            "CAST(CASE WHEN COUNT(val) > 0 THEN"
            " SUM(CASE WHEN val IS NOT NULL THEN c * LENGTH(val) END)"
            " * 1000 div SUM(CASE WHEN val IS NOT NULL THEN c END)"
            " END AS BIGINT)"
        ).alias("avg_len_milli"),
    )


@_register(
    "dq23_wap_gate",
    """
    WITH m AS (
      SELECT CAST((EXTRACT(year FROM o_orderdate) - 1992) * 12
                  + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT)
               AS month_n,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs
      FROM orders GROUP BY 1
    ),
    g AS (
      SELECT month_n, n_rows, n_custs,
             CAST(SUM(n_rows) OVER (ORDER BY month_n ASC
                    ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING) AS BIGINT)
               AS trail_sum,
             CAST(COUNT(*) OVER (ORDER BY month_n ASC
                    ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING) AS BIGINT)
               AS trail_n
      FROM m
    )
    SELECT month_n, n_rows, n_custs,
           CAST(trail_sum * 1000 // trail_n AS BIGINT) AS trail_mean_milli,
           CAST((n_rows * trail_n - trail_sum) * 10000
                // trail_sum AS BIGINT) AS deviation_bps,
           CAST(CASE WHEN abs(n_rows * trail_n - trail_sum) * 5
                        <= trail_sum THEN 1 ELSE 0 END AS BIGINT)
             AS gate_pass
    FROM g
    WHERE trail_n = 6
    ORDER BY month_n DESC LIMIT 24
    """,
)
def dq23_wap_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish (WAP) gate: before a monthly batch
    publishes, its row count is audited against the trailing
    6-month mean — deviation beyond +/-20% fails the gate
    (|n - mean| <= 0.2*mean, cross-multiplied to the integer form
    |n*6 - sum|*5 <= sum so no float threshold exists). Emits the
    trailing mean (milli), signed deviation (bps, floor division)
    and the pass flag for the last 24 complete months — the
    quality contract a u8-style publish step checks before swapping
    partitions live.

    Scale shape: one map-combined month aggregate; the gate runs on
    the month DIMENSION (a bounded frame, SCALE.md ledger) with a
    6-row trailing window.

    vs dq13_volume_anomaly: dq13 is a full-history sigma control
    chart per event type; this is the TRAILING-window publish
    contract — it adapts to drift (a slow trend never widens its
    band) and gates a specific batch, not a worst day."""
    o = load_tables(spark, sf_dir)["orders"]
    m = o.groupBy(
        ((F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate") - 1)
        .cast("bigint")
        .alias("month_n")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("o_custkey").cast("bigint").alias("n_custs"),
    )
    w = Window.orderBy(F.col("month_n").asc()).rowsBetween(-6, -1)
    g = m.select(
        "month_n",
        "n_rows",
        "n_custs",
        F.sum("n_rows").over(w).cast("bigint").alias("trail_sum"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("trail_n"),
    )
    return (
        g.filter(F.col("trail_n") == 6)
        .select(
            "month_n",
            "n_rows",
            "n_custs",
            F.expr("CAST(trail_sum * 1000 div trail_n AS BIGINT)").alias(
                "trail_mean_milli"
            ),
            F.expr(
                "CAST((n_rows * trail_n - trail_sum) * 10000"
                " div trail_sum AS BIGINT)"
            ).alias("deviation_bps"),
            F.expr(
                "CAST(CASE WHEN abs(n_rows * trail_n - trail_sum) * 5"
                " <= trail_sum THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("gate_pass"),
        )
        .orderBy(F.col("month_n").desc())
        .limit(24)
    )


@_register(
    "dq24_duplicate_payments",
    """
    WITH o AS (
      SELECT event_id, user_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 1000
               AS bucket,
             epoch_us(ts) AS tsu
      FROM events WHERE event_type = 'purchase'
    ),
    pairs AS (
      SELECT a.user_id, a.bucket,
             a.event_id AS first_id, b.event_id AS second_id,
             a.cents AS first_cents, b.cents AS second_cents,
             (b.tsu - a.tsu) // 86400000000 AS gap_days
      FROM o a JOIN o b
        ON a.user_id = b.user_id AND a.bucket = b.bucket
       AND (a.tsu < b.tsu
            OR (a.tsu = b.tsu AND a.event_id < b.event_id))
      WHERE b.tsu - a.tsu <= 604800000000
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_suspects,
             CAST(SUM(second_cents) AS BIGINT) AS cents_at_risk
      FROM pairs
    )
    SELECT p.user_id, p.first_id, p.second_id,
           p.first_cents, p.second_cents,
           CAST(p.gap_days AS BIGINT) AS gap_days,
           t.n_suspects, t.cents_at_risk
    FROM pairs p CROSS JOIN tot t
    ORDER BY p.second_cents DESC, p.first_id ASC, p.second_id ASC LIMIT 20
    """,
)
def dq24_duplicate_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment audit — the classic AP fraud/error check:
    two PURCHASE events by the same user in the same $10 amount
    bucket within 7 days are flagged as suspect double-submits
    (dq11 reconciles headers to lines; this catches the resubmitted
    charge both of whose rows are internally consistent). Exact
    integer cents through DECIMAL(18,2); event time on the declared
    epoch-micros contract; deterministic pair orientation (earlier
    event first, id tie-break). The 1-row totals broadcast prices
    the exposure.

    Scale shape: the self-join is an EQUI-join on (user, amount
    bucket) — fanout bounded by per-(user, bucket) multiplicity,
    never a theta join; the 7-day band is a filter on that already
    tiny candidate set. Top-20 by amount."""
    ev = load_table(spark, sf_dir, "events")
    o = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
        F.expr(
            "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) div 1000"
        ).alias("bucket"),
        F.expr("ts_ns div 1000").alias("tsu"),
    )
    a = o.select(
        "user_id",
        "bucket",
        F.col("event_id").alias("first_id"),
        F.col("cents").alias("first_cents"),
        F.col("tsu").alias("ta"),
    )
    b = o.select(
        "user_id",
        "bucket",
        F.col("event_id").alias("second_id"),
        F.col("cents").alias("second_cents"),
        F.col("tsu").alias("tb"),
    )
    pairs = (
        a.join(b, ["user_id", "bucket"])
        .filter(
            (
                (F.col("ta") < F.col("tb"))
                | (
                    (F.col("ta") == F.col("tb"))
                    & (F.col("first_id") < F.col("second_id"))
                )
            )
            & (F.col("tb") - F.col("ta") <= 604800000000)
        )
        .select(
            "user_id",
            "first_id",
            "second_id",
            "first_cents",
            "second_cents",
            F.expr("CAST((tb - ta) div 86400000000 AS BIGINT)").alias(
                "gap_days"
            ),
        )
        .localCheckpoint(eager=False)  # rows + totals share it
    )
    tot = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suspects"),
        F.sum("second_cents").cast("bigint").alias("cents_at_risk"),
    )
    return (
        pairs.crossJoin(F.broadcast(tot))
        .orderBy(
            F.col("second_cents").desc(),
            F.col("first_id").asc(),
            F.col("second_id").asc(),
        )
        .limit(20)
    )


@_register(
    "dq25_fd_discovery",
    """
    WITH cands AS (
      SELECT 'orders' AS tbl, 'o_orderkey' AS lhs, 'o_custkey' AS rhs,
             CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_groups,
             CAST(SUM(viol) AS BIGINT) AS n_violating,
             CAST(MAX(ndv) AS BIGINT) AS max_rhs_per_lhs
      FROM (SELECT o_orderkey, COUNT(DISTINCT o_custkey) AS ndv,
                   CASE WHEN COUNT(DISTINCT o_custkey) > 1 THEN 1 ELSE 0 END
                     AS viol
            FROM orders GROUP BY o_orderkey)
      UNION ALL
      SELECT 'orders', 'o_custkey', 'o_orderpriority',
             CAST(COUNT(*) AS BIGINT), CAST(SUM(viol) AS BIGINT),
             CAST(MAX(ndv) AS BIGINT)
      FROM (SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS ndv,
                   CASE WHEN COUNT(DISTINCT o_orderpriority) > 1
                        THEN 1 ELSE 0 END AS viol
            FROM orders GROUP BY o_custkey)
      UNION ALL
      SELECT 'customer', 'c_nationkey', 'c_mktsegment',
             CAST(COUNT(*) AS BIGINT), CAST(SUM(viol) AS BIGINT),
             CAST(MAX(ndv) AS BIGINT)
      FROM (SELECT c_nationkey, COUNT(DISTINCT c_mktsegment) AS ndv,
                   CASE WHEN COUNT(DISTINCT c_mktsegment) > 1
                        THEN 1 ELSE 0 END AS viol
            FROM customer GROUP BY c_nationkey)
      UNION ALL
      SELECT 'part', 'p_brand', 'p_type',
             CAST(COUNT(*) AS BIGINT), CAST(SUM(viol) AS BIGINT),
             CAST(MAX(ndv) AS BIGINT)
      FROM (SELECT p_brand, COUNT(DISTINCT p_type) AS ndv,
                   CASE WHEN COUNT(DISTINCT p_type) > 1 THEN 1 ELSE 0 END
                     AS viol
            FROM part GROUP BY p_brand)
      UNION ALL
      SELECT 'lineitem', 'l_orderkey', 'l_shipdate',
             CAST(COUNT(*) AS BIGINT), CAST(SUM(viol) AS BIGINT),
             CAST(MAX(ndv) AS BIGINT)
      FROM (SELECT l_orderkey, COUNT(DISTINCT l_shipdate) AS ndv,
                   CASE WHEN COUNT(DISTINCT l_shipdate) > 1 THEN 1 ELSE 0 END
                     AS viol
            FROM lineitem GROUP BY l_orderkey)
      UNION ALL
      SELECT 'documents', 'source', 'lang',
             CAST(COUNT(*) AS BIGINT), CAST(SUM(viol) AS BIGINT),
             CAST(MAX(ndv) AS BIGINT)
      FROM (SELECT source, COUNT(DISTINCT lang) AS ndv,
                   CASE WHEN COUNT(DISTINCT lang) > 1 THEN 1 ELSE 0 END
                     AS viol
            FROM documents GROUP BY source)
    )
    SELECT tbl, lhs, rhs, n_groups, n_violating, max_rhs_per_lhs,
           CASE WHEN n_violating = 0 THEN 1 ELSE 0 END AS holds,
           CAST(n_violating * 10000 // greatest(n_groups, 1) AS BIGINT)
             AS violation_bps
    FROM cands
    ORDER BY tbl, lhs, rhs
    """,
)
def dq25_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery (the Metanome/TANE profiling
    primitive, single-column candidates): for six candidate FDs
    lhs -> rhs across five tables, one groupBy(lhs) counting distinct
    rhs per group decides whether the dependency HOLDS (every lhs
    value maps to exactly one rhs), and violation_bps grades how
    badly it fails -- the schema-inference signal that tells a
    warehouse which denormalizations are safe (o_orderkey ->
    o_custkey holds: orderkey is a key) and which intuitions are
    false (l_orderkey -> l_shipdate: lines of one order ship on
    different days). Complements dq12's declared-PK uniqueness check
    by DISCOVERING structure instead of asserting it.

    Scale shape: one map-combined countDistinct aggregate per
    candidate (six, unioned); each violation summary is a second
    tiny aggregate over the group table. No joins, no windows --
    FD candidates at 100 TB cost exactly their groupBys."""
    t = load_tables(spark, sf_dir)

    def fd(df: DataFrame, tbl: str, lhs: str, rhs: str) -> DataFrame:
        g = df.groupBy(lhs).agg(F.countDistinct(rhs).alias("ndv"))
        return g.agg(
            F.lit(tbl).alias("tbl"),
            F.lit(lhs).alias("lhs"),
            F.lit(rhs).alias("rhs"),
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum(F.when(F.col("ndv") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violating"),
            F.max("ndv").cast("bigint").alias("max_rhs_per_lhs"),
        ).select("tbl", "lhs", "rhs", "n_groups", "n_violating", "max_rhs_per_lhs")

    cands = (
        fd(t["orders"], "orders", "o_orderkey", "o_custkey")
        .unionByName(fd(t["orders"], "orders", "o_custkey", "o_orderpriority"))
        .unionByName(
            fd(t["customer"], "customer", "c_nationkey", "c_mktsegment")
        )
        .unionByName(fd(t["part"], "part", "p_brand", "p_type"))
        .unionByName(fd(t["lineitem"], "lineitem", "l_orderkey", "l_shipdate"))
        .unionByName(fd(t["documents"], "documents", "source", "lang"))
    )
    return cands.select(
        "tbl",
        "lhs",
        "rhs",
        "n_groups",
        "n_violating",
        "max_rhs_per_lhs",
        F.when(F.col("n_violating") == 0, 1).otherwise(0).alias("holds"),
        F.expr(
            "CAST(n_violating * 10000 div greatest(n_groups, 1) AS BIGINT)"
        ).alias("violation_bps"),
    ).orderBy("tbl", "lhs", "rhs")


@_register(
    "dq26_metric_decomposition",
    """
    WITH o AS (
      SELECT n.n_name, o.o_orderpriority AS pri,
             CASE WHEN CAST(o.o_orderdate AS DATE) < DATE '1998-07-01'
                  THEN 'before' ELSE 'after' END AS period,
             CAST(CAST(o.o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
               AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      WHERE CAST(o.o_orderdate AS DATE) >= DATE '1997-01-01'
        AND CAST(o.o_orderdate AS DATE) < DATE '2000-01-01'
    ),
    seg AS (
      SELECT n_name, pri,
             CAST(SUM(CASE WHEN period = 'before' THEN cents ELSE 0 END)
                  AS BIGINT) AS before_cents,
             CAST(SUM(CASE WHEN period = 'after' THEN cents ELSE 0 END)
                  AS BIGINT) AS after_cents
      FROM o GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(SUM(after_cents) - SUM(before_cents) AS BIGINT)
               AS total_delta
      FROM seg
    ),
    scored AS (
      SELECT s.n_name, s.pri, s.before_cents, s.after_cents,
             s.after_cents - s.before_cents AS delta_cents,
             CAST((s.after_cents - s.before_cents) * 10000
                  // (CASE WHEN t.total_delta = 0 THEN 1
                           ELSE t.total_delta END) AS BIGINT)
               AS contribution_bps,
             t.total_delta
      FROM seg s CROSS JOIN tot t
    ),
    top AS (
      SELECT * FROM scored
      ORDER BY abs(delta_cents) DESC, n_name ASC, pri ASC LIMIT 15
    ),
    residual AS (
      SELECT CAST(-1 AS VARCHAR) AS n_name, 'OTHER' AS pri,
             CAST(SUM(before_cents) AS BIGINT),
             CAST(SUM(after_cents) AS BIGINT),
             CAST(SUM(delta_cents) AS BIGINT),
             CAST(SUM(contribution_bps) AS BIGINT),
             CAST(MAX(total_delta) AS BIGINT)
      FROM scored s
      WHERE NOT EXISTS (SELECT 1 FROM top t
                        WHERE t.n_name = s.n_name AND t.pri = s.pri)
    )
    SELECT * FROM (
      SELECT * FROM top
      UNION ALL
      SELECT * FROM residual
    ) u
    ORDER BY abs(u.delta_cents) DESC, u.n_name ASC, u.pri ASC
    """,
)
def dq26_metric_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric contribution analysis -- the 'why did revenue move'
    drill every BI metric tree runs: the period-over-period revenue
    delta (18 months before vs after a fixed boundary) is decomposed
    across (nation x priority) segments in EXACT decimal cents, each
    segment's share of the total move in signed bps. The
    decomposition is ADDITIVE BY CONSTRUCTION and the result proves
    it: the top-15 movers ship with an OTHER residual row, so
    delta_cents (and, up to per-segment floor rounding,
    contribution_bps) sum to the total across the emitted rows --
    the property dashboard drill-downs silently assume and
    root-cause tools like Adtributor formalize.

    Scale shape: one dimension-broadcast join chain (the q5/q8
    shape), one map-combined (nation, priority, period) aggregate --
    the segment grid is dimension-bounded; top-15 is TakeOrdered;
    the residual is a second pass over the 125-row segment grid,
    not the fact."""
    o = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    base = (
        o.where(
            (F.to_date("o_orderdate") >= F.lit("1997-01-01"))
            & (F.to_date("o_orderdate") < F.lit("2000-01-01"))
        )
        .join(F.broadcast(cust), o["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .select(
            "n_name",
            F.col("o_orderpriority").alias("pri"),
            F.when(
                F.to_date("o_orderdate") < F.lit("1998-07-01"), "before"
            )
            .otherwise("after")
            .alias("period"),
            (F.col("o_totalprice").cast("decimal(14,2)") * 100)
            .cast("bigint")
            .alias("cents"),
        )
    )
    seg = base.groupBy("n_name", "pri").agg(
        F.sum(F.when(F.col("period") == "before", F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("before_cents"),
        F.sum(F.when(F.col("period") == "after", F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("after_cents"),
    )
    tot = seg.agg(
        (F.sum("after_cents") - F.sum("before_cents"))
        .cast("bigint")
        .alias("total_delta")
    )
    scored = (
        seg.crossJoin(F.broadcast(tot))
        .select(
            "n_name",
            "pri",
            "before_cents",
            "after_cents",
            (F.col("after_cents") - F.col("before_cents")).alias("delta_cents"),
            F.expr(
                "CAST((after_cents - before_cents) * 10000"
                " div (CASE WHEN total_delta = 0 THEN 1"
                " ELSE total_delta END) AS BIGINT)"
            ).alias("contribution_bps"),
            "total_delta",
        )
        .localCheckpoint(eager=False)  # top + residual share it
    )
    top = scored.orderBy(
        F.abs(F.col("delta_cents")).desc(), F.col("n_name").asc(), F.col("pri").asc()
    ).limit(15).localCheckpoint(eager=False)  # residual anti-join reuses it
    residual = (
        scored.join(
            F.broadcast(top.select("n_name", "pri")), ["n_name", "pri"], "left_anti"
        )
        .agg(
            F.lit("-1").alias("n_name"),
            F.lit("OTHER").alias("pri"),
            F.sum("before_cents").cast("bigint").alias("before_cents"),
            F.sum("after_cents").cast("bigint").alias("after_cents"),
            F.sum("delta_cents").cast("bigint").alias("delta_cents"),
            F.sum("contribution_bps").cast("bigint").alias("contribution_bps"),
            F.max("total_delta").cast("bigint").alias("total_delta"),
        )
        .select(
            "n_name",
            "pri",
            "before_cents",
            "after_cents",
            "delta_cents",
            "contribution_bps",
            "total_delta",
        )
    )
    return top.unionByName(residual).orderBy(
        F.abs(F.col("delta_cents")).desc(), F.col("n_name").asc(), F.col("pri").asc()
    )


@_register(
    "dq27_key_discovery",
    """
    WITH cands AS (
      SELECT 'lineitem' AS tbl, 'l_orderkey+l_linenumber' AS candidate,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT l_orderkey * 1000000 + l_linenumber)
                  AS BIGINT) AS ndv_pair,
             CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS ndv_left,
             CAST(COUNT(DISTINCT l_linenumber) AS BIGINT) AS ndv_right
      FROM lineitem
      UNION ALL
      SELECT 'orders', 'o_custkey+o_orderdate',
             CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT CAST(o_custkey AS VARCHAR) || '|' ||
                        CAST(CAST(o_orderdate AS DATE) AS VARCHAR))
                  AS BIGINT),
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
             CAST(COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'events', 'user_id+ts',
             CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT CAST(user_id AS VARCHAR) || '|' ||
                        CAST(epoch_us(ts) AS VARCHAR)) AS BIGINT),
             CAST(COUNT(DISTINCT user_id) AS BIGINT),
             CAST(COUNT(DISTINCT epoch_us(ts)) AS BIGINT)
      FROM events
      UNION ALL
      SELECT 'part', 'p_brand+p_type',
             CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT p_brand || '|' || p_type) AS BIGINT),
             CAST(COUNT(DISTINCT p_brand) AS BIGINT),
             CAST(COUNT(DISTINCT p_type) AS BIGINT)
      FROM part
      UNION ALL
      SELECT 'documents', 'source+doc_id',
             CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT source || '|' || CAST(doc_id AS VARCHAR))
                  AS BIGINT),
             CAST(COUNT(DISTINCT source) AS BIGINT),
             CAST(COUNT(DISTINCT doc_id) AS BIGINT)
      FROM documents
    )
    SELECT tbl, candidate, n_rows, ndv_pair, ndv_left, ndv_right,
           CASE WHEN ndv_pair = n_rows THEN 1 ELSE 0 END AS is_key,
           CASE WHEN ndv_pair = n_rows AND ndv_left < n_rows
                 AND ndv_right < n_rows THEN 1 ELSE 0 END AS is_minimal_key,
           CAST((n_rows - ndv_pair) * 10000 // greatest(n_rows, 1)
                AS BIGINT) AS dup_bps
    FROM cands
    ORDER BY tbl, candidate
    """,
)
def dq27_key_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-key (unique column combination) DISCOVERY -- the
    Metanome/HyUCC profiling primitive beside dq25's FDs: five
    two-column candidates across five tables are tested for
    uniqueness (ndv_pair vs row count) and MINIMALITY (the pair is a
    key while neither column alone is -- the property that separates
    a real composite key like (l_orderkey, l_linenumber) from a pair
    that is only unique because one side already is, like
    (source, doc_id)). dup_bps grades near-keys. dq12 asserts
    DECLARED primary keys hold; this finds key structure nobody
    declared -- what schema inference runs before choosing merge keys
    or bucketing columns.

    Scale shape: one map-combined count/countDistinct aggregate per
    candidate (five, unioned); pair NDVs hash the composite key
    directly (integer fold where both parts are ints, '|'-joined
    strings otherwise -- both engines agree on either encoding). No
    joins, no windows."""
    t = load_tables(spark, sf_dir)
    li, o, ev, pt, docs = (
        t["lineitem"], t["orders"], t["events"], t["part"], t["documents"]
    )

    def row(df, tbl, cand, pair_col, left_col, right_col):
        return df.agg(
            F.lit(tbl).alias("tbl"),
            F.lit(cand).alias("candidate"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct(pair_col).cast("bigint").alias("ndv_pair"),
            F.countDistinct(left_col).cast("bigint").alias("ndv_left"),
            F.countDistinct(right_col).cast("bigint").alias("ndv_right"),
        ).select("tbl", "candidate", "n_rows", "ndv_pair", "ndv_left", "ndv_right")

    cands = (
        row(
            li,
            "lineitem",
            "l_orderkey+l_linenumber",
            F.expr("l_orderkey * 1000000 + l_linenumber"),
            F.col("l_orderkey"),
            F.col("l_linenumber"),
        )
        .unionByName(
            row(
                o,
                "orders",
                "o_custkey+o_orderdate",
                F.expr(
                    "CAST(o_custkey AS STRING) || '|'"
                    " || CAST(to_date(o_orderdate) AS STRING)"
                ),
                F.col("o_custkey"),
                F.expr("to_date(o_orderdate)"),
            )
        )
        .unionByName(
            row(
                ev,
                "events",
                "user_id+ts",
                F.expr(
                    "CAST(user_id AS STRING) || '|'"
                    " || CAST(ts_ns div 1000 AS STRING)"
                ),
                F.col("user_id"),
                F.expr("ts_ns div 1000"),
            )
        )
        .unionByName(
            row(
                pt,
                "part",
                "p_brand+p_type",
                F.expr("p_brand || '|' || p_type"),
                F.col("p_brand"),
                F.col("p_type"),
            )
        )
        .unionByName(
            row(
                docs,
                "documents",
                "source+doc_id",
                F.expr("source || '|' || CAST(doc_id AS STRING)"),
                F.col("source"),
                F.col("doc_id"),
            )
        )
    )
    return cands.select(
        "tbl",
        "candidate",
        "n_rows",
        "ndv_pair",
        "ndv_left",
        "ndv_right",
        F.when(F.col("ndv_pair") == F.col("n_rows"), 1).otherwise(0).alias("is_key"),
        F.when(
            (F.col("ndv_pair") == F.col("n_rows"))
            & (F.col("ndv_left") < F.col("n_rows"))
            & (F.col("ndv_right") < F.col("n_rows")),
            1,
        )
        .otherwise(0)
        .alias("is_minimal_key"),
        F.expr(
            "CAST((n_rows - ndv_pair) * 10000 div greatest(n_rows, 1)"
            " AS BIGINT)"
        ).alias("dup_bps"),
    ).orderBy("tbl", "candidate")
