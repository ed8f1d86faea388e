"""Table-maintenance / lakehouse queries (u*): merge, upsert, CDC, SCD2, snapshots, compaction plans.

Importing this module registers its queries in the package registry
(``hi_csa_db_spark.queries``) in source order."""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hi_csa_db_spark.catalog import load_table, load_tables, local_frame
from hi_csa_db_spark.functions.hashing import (
    KNUTH_HASH32_SQL,
    MULT_HASH32_SQL,
    id_shard16,
    knuth_hash32,
    mult_hash32,
    stable_long_hash,
)
from hi_csa_db_spark.operators.merge import db_merge, union_streams

from hi_csa_db_spark.queries import _register


@_register(
    "u1_db_merge",
    """
    SELECT c_acctbal AS acctbal, c_name AS name,
           CAST(NULL AS INTEGER) AS nationkey, c_mktsegment AS segment
    FROM customer
    UNION ALL
    SELECT s_acctbal AS acctbal, s_name AS name,
           s_nationkey AS nationkey, CAST(NULL AS VARCHAR) AS segment
    FROM supplier
    """,
)
def u1_db_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: db_merge schema-aligning union (hi-csa-db.Rmd:58-73) ==
    unionByName(allowMissingColumns=True) + sorted column projection."""
    t = load_tables(spark, sf_dir)
    x = t["customer"].select(
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )
    y = t["supplier"].select(
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("acctbal"),
        F.col("s_nationkey").alias("nationkey"),
    )
    return db_merge(x, y)


@_register(
    "u2_union_streams",
    """
    SELECT o_orderkey, o_totalprice, 'open' AS type FROM orders WHERE o_orderstatus = 'O'
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'done' AS type FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'pending' AS type FROM orders WHERE o_orderstatus = 'P'
    """,
)
def u2_union_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: typed-stream union (rbind(Technical, Policy, Support) with
    per-stream Type constants, hi-csa-db.Rmd:587-589)."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_totalprice", "o_orderstatus")
    streams = {
        "open": base.filter(F.col("o_orderstatus") == "O").drop("o_orderstatus"),
        "done": base.filter(F.col("o_orderstatus") == "F").drop("o_orderstatus"),
        "pending": base.filter(F.col("o_orderstatus") == "P").drop("o_orderstatus"),
    }
    return union_streams(streams, type_col="type")


# ---------------------------------------------------------------------------
# Event-time operators (SURVEY.md section 2.9 batch equivalents)
# ---------------------------------------------------------------------------


@_register(
    "u8_fk_conformance",
    """
    SELECT
      (SELECT COUNT(*) FROM lineitem l
       WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
        AS orphan_parts,
      (SELECT COUNT(*) FROM lineitem l
       WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
        AS orphan_suppliers,
      (SELECT COUNT(*) FROM orders o
       WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        AS orphan_customers,
      (SELECT COUNT(*) FROM lineitem l
       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        AS orphan_orders
    """,
)
def u8_fk_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts for every fact->dim
    edge in the star schema, each an anti-join (broadcast for dims,
    shuffle for the fact-fact edge) — the conformance check a
    warehouse load runs before publishing. All four counts in one
    row; a nonzero cell is a data-quality incident."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")

    def orphans(fact, dim, fk, pk, name):
        # 1-row lazy aggregate per FK edge — the four edges compose
        # into ONE plan via 1-row crossJoins, no driver-side counts
        return (
            fact.join(dim, fact[fk] == dim[pk], "left_anti")
            .agg(F.count(F.lit(1)).alias(name))
        )

    return (
        orphans(li, p, "l_partkey", "p_partkey", "orphan_parts")
        .crossJoin(orphans(li, s, "l_suppkey", "s_suppkey", "orphan_suppliers"))
        .crossJoin(orphans(o, c, "o_custkey", "c_custkey", "orphan_customers"))
        .crossJoin(orphans(li, o, "l_orderkey", "o_orderkey", "orphan_orders"))
    )


@_register(
    "u7_scd2_history",
    """
    WITH base AS (
      SELECT c_custkey AS k, c_name,
             CAST(c_acctbal AS DECIMAL(12,2)) AS bal, c_mktsegment AS seg
      FROM customer
    ),
    v1 AS (
      SELECT k, md5(concat_ws('|', c_name, CAST(bal AS VARCHAR), seg)) AS h
      FROM base
    ),
    v2rows AS (
      SELECT k, c_name,
             CASE WHEN k % 10 = 0 THEN bal + 100 ELSE bal END AS bal,
             CASE WHEN k % 7 = 0 THEN 'SHIFTED' ELSE seg END AS seg
      FROM base WHERE k % 97 <> 0
      UNION ALL
      SELECT k + 1000000, c_name, bal, seg FROM base WHERE k % 50 = 0
    ),
    v2 AS (
      SELECT k, md5(concat_ws('|', c_name, CAST(bal AS VARCHAR), seg)) AS h
      FROM v2rows
    ),
    j AS (
      SELECT COALESCE(a.k, b.k) AS k, a.h AS h1, b.h AS h2
      FROM v1 a FULL OUTER JOIN v2 b ON a.k = b.k
    )
    SELECT k AS c_custkey, h1 AS attr_hash, 1 AS valid_from, 0 AS valid_to
    FROM j WHERE h1 IS NOT NULL AND h2 IS NOT NULL AND h1 = h2
    UNION ALL
    SELECT k, h1, 1, 2 FROM j
    WHERE h1 IS NOT NULL AND (h2 IS NULL OR h1 <> h2)
    UNION ALL
    SELECT k, h2, 2, 0 FROM j
    WHERE h2 IS NOT NULL AND (h1 IS NULL OR h1 <> h2)
    """,
)
def u7_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history (operators/scd.py): snapshot v2 of
    the customer dimension — with deterministic mutations (balance
    bumps, segment shifts, deletions, late-arriving keys) — applied
    over v1's history. Changed/deleted rows close at version 2,
    new/changed rows open from it; unchanged rows stay open from 1.
    Change detection is an md5 attribute hash (money cast to DECIMAL
    string — raw double formatting differs across engines), so the
    apply is two hash-joins on the business key, never a
    column-by-column diff explosion. The oracle derives the identical
    interval set from one full-outer join of the hashed snapshots."""
    from hi_csa_db_spark.operators import scd

    cust = load_table(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("k"),
        "c_name",
        F.col("c_acctbal").cast("decimal(12,2)").alias("bal"),
        F.col("c_mktsegment").alias("seg"),
    )
    v1 = base
    v2 = base.filter(F.col("k") % 97 != 0).select(
        "k",
        "c_name",
        F.when(F.col("k") % 10 == 0, F.col("bal") + 100).otherwise(F.col("bal")).alias("bal"),
        F.when(F.col("k") % 7 == 0, F.lit("SHIFTED")).otherwise(F.col("seg")).alias("seg"),
    ).unionByName(
        base.filter(F.col("k") % 50 == 0).select(
            (F.col("k") + 1000000).alias("k"), "c_name", "bal", "seg"
        )
    )
    attrs = ["c_name", "bal", "seg"]
    hist = scd.scd2_init(v1, "k", attrs, version=1)
    hist2 = scd.scd2_apply(hist, v2, "k", attrs, version=2)
    return hist2.select(
        F.col("k").alias("c_custkey"),
        "attr_hash",
        "valid_from",
        F.coalesce("valid_to", F.lit(0)).alias("valid_to"),
    )


@_register(
    "u5_upsert",
    """
    WITH updates AS (
      SELECT c_custkey, 'PLATINUM' AS segment FROM customer WHERE c_acctbal > 8000
    ),
    kept AS (
      SELECT c_custkey, c_mktsegment AS segment FROM customer
      WHERE c_custkey NOT IN (SELECT c_custkey FROM updates)
    )
    SELECT * FROM kept UNION ALL SELECT * FROM updates
    """,
)
def u5_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert/MERGE semantics (operators/merge.py::upsert): updated
    keys replaced, the rest kept — anti-join + union, one key shuffle
    (the reference's crawl-cache refresh as a relational op)."""
    from hi_csa_db_spark.operators.merge import upsert

    cust = load_table(spark, sf_dir, "customer")
    base = cust.select("c_custkey", F.col("c_mktsegment").alias("segment"))
    updates = (
        cust.filter(F.col("c_acctbal") > 8000)
        .select("c_custkey", F.lit("PLATINUM").alias("segment"))
    )
    return upsert(base, updates, keys=["c_custkey"])


@_register(
    "u10_cdc_apply",
    """
    WITH log AS (
      SELECT o_custkey AS k,
             o_orderdate AS seq_ts, o_orderkey AS seq_id,
             CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op,
             CAST(o_totalprice AS DECIMAL(15,2)) AS val
      FROM orders
    ),
    latest AS (
      SELECT k, op, val,
             ROW_NUMBER() OVER (PARTITION BY k
                                ORDER BY seq_ts DESC, seq_id DESC) AS rn
      FROM log
    ),
    counts AS (SELECT k, COUNT(*) AS n_ops FROM log GROUP BY k)
    SELECT l.k AS key, CAST(l.val AS DOUBLE) AS current_val, c.n_ops
    FROM latest l JOIN counts c ON c.k = l.k
    WHERE l.rn = 1 AND l.op <> 'D'
    """,
)
def u10_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog APPLY with tombstones: a change stream of
    upserts and deletes (synthesized deterministically from orders:
    every 10th order key is a delete) collapses to the final state —
    last writer wins per key in (event-time, id) order, and a
    trailing delete removes the key entirely. Completes the mutation
    family: u5 = upsert without deletes, u7 = full history (SCD2),
    u10 = latest-state materialization of a real changelog, i.e. what
    a Debezium/OLTP-extract compaction does.

    One shuffle on the key serves both the last-writer window and the
    op count; deletes drop AFTER the window so a delete-then-reinsert
    sequence resolves correctly."""
    o = load_table(spark, sf_dir, "orders")
    log = o.select(
        F.col("o_custkey").alias("k"),
        # ordering key only (never output): the raw NTZ timestamp
        # compares identically on both engines with zero tz exposure
        F.col("o_orderdate").alias("seq_ts"),
        F.col("o_orderkey").alias("seq_id"),
        F.when(F.col("o_orderkey") % 10 == 0, "D").otherwise("U").alias("op"),
        F.col("o_totalprice").cast("decimal(15,2)").alias("val"),
    )
    w = Window.partitionBy("k").orderBy(
        F.col("seq_ts").desc(), F.col("seq_id").desc()
    )
    latest = log.select(
        "k", "op", "val", F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("k")).alias("n_ops"),
    )
    return (
        latest.filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            F.col("k").alias("key"),
            F.col("val").cast("double").alias("current_val"),
            "n_ops",
        )
    )


@_register(
    "u6_snapshot_diff",
    """
    WITH v_old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 10 <> 0
    ),
    v_new AS (
      SELECT o_orderkey, o_orderstatus,
             o_totalprice + (CASE WHEN o_orderkey % 7 = 0
                             THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END) AS o_totalprice
      FROM orders WHERE o_orderkey % 10 <> 1
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change_type
    FROM v_old o FULL OUTER JOIN v_new n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_totalprice <> n.o_totalprice
       OR o.o_orderstatus <> n.o_orderstatus
    """,
)
def u6_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff: two versions of a table (simulated
    here by deterministic key-range membership + a value bump) folded
    into an added/removed/changed changelog via one full outer join on
    the key, with unchanged rows dropped by direct column comparison —
    the diff that feeds incremental downstream recomputation (and the
    read-side complement of the txlog MERGE writer).

    Scale: both snapshots shuffle once on the join key (or not at all
    when stored bucketed-by-key, the layout the txlog compactor
    produces); the comparison is a narrow post-join filter. No hashing
    of formatted strings — values compare natively, so float
    formatting differences can't fake a change."""
    orders = load_table(spark, sf_dir, "orders")
    v_old = orders.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v_new = orders.filter(F.col("o_orderkey") % 10 != 1).select(
        "o_orderkey",
        "o_orderstatus",
        (
            F.col("o_totalprice")
            + F.when(F.col("o_orderkey") % 7 == 0, F.lit(1.0)).otherwise(F.lit(0.0))
        ).alias("o_totalprice"),
    )
    o = v_old.alias("o")
    n = v_new.alias("n")
    j = o.join(n, F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer")
    change_type = (
        F.when(F.col("o.o_orderkey").isNull(), F.lit("added"))
        .when(F.col("n.o_orderkey").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
    )
    return (
        j.filter(
            F.col("o.o_orderkey").isNull()
            | F.col("n.o_orderkey").isNull()
            | (F.col("o.o_totalprice") != F.col("n.o_totalprice"))
            | (F.col("o.o_orderstatus") != F.col("n.o_orderstatus"))
        )
        .select(
            F.coalesce(F.col("o.o_orderkey"), F.col("n.o_orderkey")).alias(
                "o_orderkey"
            ),
            change_type.alias("change_type"),
        )
    )


@_register(
    "u13_scd2_point_in_time",
    """
    WITH base AS (
      SELECT c_custkey AS k,
             CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
             c_mktsegment AS seg
      FROM customer
    ),
    v2rows AS (
      SELECT k,
             CASE WHEN k % 10 = 0 THEN cents + 10000 ELSE cents END AS cents,
             CASE WHEN k % 7 = 0 THEN 'SHIFTED' ELSE seg END AS seg
      FROM base WHERE k % 97 <> 0
      UNION ALL
      SELECT k + 1000000, cents, seg FROM base WHERE k % 50 = 0
    )
    SELECT 1 AS as_of_version, seg, COUNT(*) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM base GROUP BY seg
    UNION ALL
    SELECT 2, seg, COUNT(*), CAST(SUM(cents) AS BIGINT)
    FROM v2rows GROUP BY seg
    """,
)
def u13_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 point-in-time reconstruction — the ROUND-TRIP property
    that makes a slowly-changing dimension trustworthy: filtering the
    u7-style 2-version history to "as of version v" (valid_from <= v
    AND (open OR valid_to > v)) must reproduce snapshot v EXACTLY.
    The oracle is each original snapshot aggregated directly — no
    interval algebra — so any history-construction bug (row leaked
    across a close, double-counted reopen) breaks the match. Money in
    exact integer cents; one segment rollup per reconstructed
    version."""
    from hi_csa_db_spark.operators import scd

    cust = load_table(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("k"),
        F.expr("CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
        F.col("c_mktsegment").alias("seg"),
    )
    v2 = base.filter(F.col("k") % 97 != 0).select(
        "k",
        F.when(F.col("k") % 10 == 0, F.col("cents") + 10000)
        .otherwise(F.col("cents"))
        .alias("cents"),
        F.when(F.col("k") % 7 == 0, F.lit("SHIFTED")).otherwise(F.col("seg")).alias(
            "seg"
        ),
    ).unionByName(
        base.filter(F.col("k") % 50 == 0).select(
            (F.col("k") + 1000000).alias("k"), "cents", "seg"
        )
    )
    hist = scd.scd2_apply(
        scd.scd2_init(base, "k", ["cents", "seg"], version=1),
        v2,
        "k",
        ["cents", "seg"],
        version=2,
    )

    def as_of(v: int) -> DataFrame:
        return (
            hist.filter(
                (F.col("valid_from") <= v)
                & (F.col("valid_to").isNull() | (F.col("valid_to") > v))
            )
            .groupBy("seg")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("cents").cast("bigint").alias("total_cents"),
            )
            .select(F.lit(v).alias("as_of_version"), "seg", "n_rows", "total_cents")
        )

    return as_of(1).unionByName(as_of(2))


@_register(
    "u14_corpus_diff",
    """
    WITH new_v AS (SELECT doc_id, source, md5(text) AS h FROM documents),
    old_v AS (
      SELECT doc_id, source,
             md5(CASE WHEN doc_id % 5 = 0 THEN text || ' OLD' ELSE text END) AS h
      FROM documents WHERE doc_id % 10 <> 3
      UNION ALL
      SELECT doc_id + 1000000, source, md5('retired')
      FROM documents WHERE doc_id % 13 = 0
    ),
    d AS (
      SELECT COALESCE(n.source, o.source) AS source,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN n.h <> o.h THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM new_v n FULL OUTER JOIN old_v o ON n.doc_id = o.doc_id
    )
    SELECT source,
           CAST(SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_added,
           CAST(SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed,
           CAST(SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_changed,
           CAST(SUM(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unchanged
    FROM d GROUP BY source
    """,
)
def u14_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-vintage diff audit — the what-changed-between-drops
    report every recurring ingest publishes: FULL OUTER join of two
    corpus snapshots on doc_id, rows classified added / removed /
    changed (content md5 differs) / unchanged, rolled up per source.
    The old vintage is synthesized deterministically from the same
    fixture (every 5th doc edited, every 10th-mod-3 missing, phantom
    retired rows), so the classification logic is oracle-exact.

    Complements u6_snapshot_diff, which emits the ROW-LEVEL changelog
    (native column comparison, unchanged rows dropped — the CDC feed);
    this is the drop-level AUDIT: content identity by md5 so text
    never shuffles, unchanged counted, rolled up per source.

    Scale shape: one equi-join on the id + one tiny per-source
    aggregate; only (id, source, 16-byte hash) shuffles — never text.
    At 100 TB both sides are id-bucketed parquet (SCALE.md), making
    the diff join shuffle-free."""
    docs = load_table(spark, sf_dir, "documents")
    new_v = docs.select("doc_id", "source", F.md5("text").alias("h"))
    old_v = (
        docs.filter(F.col("doc_id") % 10 != 3)
        .select(
            "doc_id",
            "source",
            F.md5(
                F.when(
                    F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" OLD"))
                ).otherwise(F.col("text"))
            ).alias("h"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                "source",
                F.md5(F.lit("retired")).alias("h"),
            )
        )
    )
    n = new_v.select(
        F.col("doc_id"), F.col("source").alias("__ns"), F.col("h").alias("__nh")
    )
    o = old_v.select(
        F.col("doc_id"), F.col("source").alias("__os"), F.col("h").alias("__oh")
    )
    status = (
        F.when(F.col("__oh").isNull(), "added")
        .when(F.col("__nh").isNull(), "removed")
        .when(F.col("__nh") != F.col("__oh"), "changed")
        .otherwise("unchanged")
    )
    d = n.join(o, "doc_id", "full_outer").select(
        F.coalesce("__ns", "__os").alias("source"), status.alias("status")
    )
    return d.groupBy("source").agg(
        F.sum(F.when(F.col("status") == "added", 1).otherwise(0))
        .cast("bigint")
        .alias("n_added"),
        F.sum(F.when(F.col("status") == "removed", 1).otherwise(0))
        .cast("bigint")
        .alias("n_removed"),
        F.sum(F.when(F.col("status") == "changed", 1).otherwise(0))
        .cast("bigint")
        .alias("n_changed"),
        F.sum(F.when(F.col("status") == "unchanged", 1).otherwise(0))
        .cast("bigint")
        .alias("n_unchanged"),
    )


@_register(
    "u15_schema_evolution",
    """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id >= 250 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_lang,
           CAST(COUNT(DISTINCT CASE WHEN doc_id >= 250 THEN lang END) AS BIGINT)
             AS n_langs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY source
    """,
)
def u15_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution ingest: two parquet snapshot vintages of the
    documents table — an old one WITHOUT the lang column and a new
    one WITH it — are appended into one dataset directory, then read
    back with mergeSchema=true; old rows surface lang=NULL. The
    oracle recomputes the same aggregates from the unevolved source
    table, so the merge must preserve every row and null exactly the
    pre-evolution rows (n_with_lang counts non-null langs on the
    Spark side but the id-split rule on the oracle side — they can
    only agree if the evolution semantics are right).

    This is the 100 TB reality of long-lived datasets: columns get
    added mid-corpus, and the reader — not a rewrite of petabytes of
    old files — reconciles vintages. The snapshot write is
    per-process idempotent and lives under /tmp.

    Scale shape: footer-only schema merge, then one map-combined
    aggregate; count(DISTINCT lang) is per-group with bounded
    cardinality."""
    import hashlib
    import os

    docs = load_table(spark, sf_dir, "documents")
    tag = hashlib.md5(f"{sf_dir}|{os.getpid()}".encode()).hexdigest()[:10]
    loc = f"/tmp/spark_graft_evolution/{tag}"
    if not os.path.exists(loc):
        # stage both vintages, then one atomic rename — a crash between
        # the two appends must never leave a half-evolved dataset that a
        # same-process retry would silently reuse
        stage = f"{loc}.tmp"
        docs.filter(F.col("doc_id") < 250).select(
            "doc_id", "source", "n_chars"
        ).write.mode("overwrite").parquet(stage)
        docs.filter(F.col("doc_id") >= 250).select(
            "doc_id", "source", "n_chars", "lang"
        ).write.mode("append").parquet(stage)
        os.rename(stage, loc)
    merged = spark.read.option("mergeSchema", "true").parquet(loc)
    return merged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("lang").cast("bigint").alias("n_with_lang"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@_register(
    "u16_ivm_join_counts",
    """
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT))
                AS BIGINT) AS total_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY o.o_orderpriority
    """,
)
def u16_ivm_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance surfaced as a gate-checked query:
    the orders ⋈ customer view is materialized from OLD partitions of
    both sides, then brought current by appending ONLY
    delta_join(ΔL, ΔR) = ΔL⋈R_old ∪ L_old⋈ΔR ∪ ΔL⋈ΔR
    (operators/incremental.py) — history is never re-joined. The
    oracle computes the same aggregate from the full tables, so the
    maintained view must be multiset-identical to a full recompute
    (the IVM identity, proven through the driver gate rather than
    only in pytest).

    Scale shape: the two cross terms join a DELTA against a base
    (delta side broadcast when small); ΔL⋈ΔR is delta-sized; the
    final rollup is a 5-group aggregate. At 100 TB this is the
    nightly-increment pattern that replaces full-view rebuilds."""
    from hi_csa_db_spark.operators.incremental import delta_join

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_totalprice", "o_orderkey"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    old_o = o.filter(F.col("o_orderkey") % 10 != 0)
    d_o = o.filter(F.col("o_orderkey") % 10 == 0)
    old_c = c.filter(F.col("c_custkey") % 7 != 0)
    d_c = c.filter(F.col("c_custkey") % 7 == 0)
    # delta_join joins on column names, so align the key name
    lo, dl = old_o.withColumnRenamed("o_custkey", "k"), d_o.withColumnRenamed(
        "o_custkey", "k"
    )
    ro, dr = old_c.withColumnRenamed("c_custkey", "k"), d_c.withColumnRenamed(
        "c_custkey", "k"
    )
    appended = delta_join(lo, dl, ro, dr, ["k"])
    maintained = lo.join(ro, ["k"]).unionByName(appended)
    return maintained.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(
            (F.col("o_totalprice").cast("decimal(15,2)") * 100).cast("bigint")
        )
        .cast("bigint")
        .alias("total_cents"),
    )


@_register(
    "u17_jsonl_roundtrip",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents,
           CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_us
    FROM events GROUP BY event_type
    """,
)
def u17_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines as a source format: the events table is exported
    once to JSONL (timestamps carried as declared-microsecond
    integers — JSON has no timestamp type, so the t2/t8 precision
    contract IS the serialization), read back with
    spark.read.json + an explicit schema (schema-on-read, no
    inference pass at scale), and aggregated; the oracle recomputes
    from the original parquet, so the JSON writer/reader round trip
    must preserve every row, type, and microsecond. Covers the
    third interchange format beside parquet/ORC (sources tier) the
    way u15 covers schema drift.

    Scale shape: one partitioned JSONL write (per-process idempotent,
    under /tmp), then an ordinary map-combined aggregate; the
    explicit schema avoids Spark's whole-file inference scan."""
    import hashlib
    import os

    ev = load_table(spark, sf_dir, "events")
    tag = hashlib.md5(f"{sf_dir}|{os.getpid()}".encode()).hexdigest()[:10]
    loc = f"/tmp/spark_graft_jsonl/{tag}"
    if not os.path.exists(loc):
        ev.select(
            "event_id",
            "event_type",
            F.col("value"),
            F.expr("ts_ns div 1000").alias("ts_us"),
        ).write.mode("overwrite").json(loc)
    back = spark.read.schema(
        "event_id bigint, event_type string, value double, ts_us bigint"
    ).json(loc)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("value_cents"),
        F.max("ts_us").cast("bigint").alias("last_us"),
    )


@_register(
    "u18_partition_pruned_read",
    """
    WITH d AS (
      SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_n,
             event_type,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    )
    SELECT day_n, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS value_cents
    FROM d WHERE day_n % 7 = 0
    GROUP BY day_n, event_type
    """,
)
def u18_partition_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned scan over a date-partitioned layout: events
    are written ONCE partitioned by day (the standard lake layout for
    100 TB event data), then read with a predicate on the partition
    column — Spark resolves the qualifying directories from metadata
    alone (PartitionFilters in the scan, pinned in test_plans.py),
    so the query reads 1/7th of the files, never filtering row data.
    The oracle recomputes from the unpartitioned table, proving the
    layout round trip loses nothing.

    Scale shape: this is THE mechanism that makes daily incremental
    jobs O(day) instead of O(history): pruning happens at file
    listing, before any I/O; the aggregate is map-combined per
    (day, type)."""
    import hashlib
    import os

    ev = load_table(spark, sf_dir, "events")
    tag = hashlib.md5(f"{sf_dir}|{os.getpid()}".encode()).hexdigest()[:10]
    loc = f"/tmp/spark_graft_daypart/{tag}"
    if not os.path.exists(loc):
        ev.select(
            F.expr("ts_ns div 1000 div 86400000000").alias("day_n"),
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        ).write.partitionBy("day_n").mode("overwrite").parquet(loc)
    back = spark.read.parquet(loc)
    return (
        back.filter(F.col("day_n") % 7 == 0)
        .groupBy("day_n", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("value_cents"),
        )
        .select(
            F.col("day_n").cast("bigint").alias("day_n"),
            "event_type",
            "n_events",
            "value_cents",
        )
    )


@_register(
    "u19_multi_format_union",
    """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(DISTINCT CASE WHEN doc_id % 3 = 0 THEN 'parquet'
                                    WHEN doc_id % 3 = 1 THEN 'orc'
                                    ELSE 'jsonl' END) AS INT) AS n_formats
    FROM documents GROUP BY source
    """,
)
def u19_multi_format_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polyglot-lake read: one logical documents dataset stored in
    THREE physical formats (a parquet slice, an ORC slice, a JSONL
    slice — the realistic state of a long-lived lake mid-migration),
    unified by unionByName into a single frame and aggregated; the
    oracle recomputes from the single-format source, so each format's
    writer/reader round trip must preserve every row. Extends u15's
    schema drift and u17's JSON contract to format heterogeneity.

    Scale shape: three scans (each pruned/filtered independently —
    format-specific pushdown still applies per leg) + one
    map-combined aggregate; the union is a plan-level concat, not a
    shuffle."""
    import hashlib
    import os

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    tag = hashlib.md5(f"{sf_dir}|{os.getpid()}".encode()).hexdigest()[:10]
    loc = f"/tmp/spark_graft_polyglot/{tag}"
    if not os.path.exists(loc):
        docs.filter(F.col("doc_id") % 3 == 0).write.mode("overwrite").parquet(
            f"{loc}/p"
        )
        docs.filter(F.col("doc_id") % 3 == 1).write.mode("overwrite").orc(
            f"{loc}/o"
        )
        docs.filter(F.col("doc_id") % 3 == 2).write.mode("overwrite").json(
            f"{loc}/j"
        )
    schema = "doc_id bigint, source string, n_chars bigint"
    uni = (
        spark.read.parquet(f"{loc}/p")
        .unionByName(spark.read.orc(f"{loc}/o"))
        .unionByName(spark.read.schema(schema).json(f"{loc}/j"))
    )
    fmt = (
        F.when(F.col("doc_id") % 3 == 0, "parquet")
        .when(F.col("doc_id") % 3 == 1, "orc")
        .otherwise("jsonl")
    )
    return uni.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.countDistinct(fmt).cast("int").alias("n_formats"),
    )


@_register(
    "u20_time_travel",
    """
    WITH v0 AS (
      SELECT o_orderpriority, COUNT(*) AS n,
             SUM(CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT))
               AS cents
      FROM orders WHERE o_orderkey % 2 = 0 GROUP BY o_orderpriority
    ),
    v1 AS (
      SELECT o_orderpriority, COUNT(*) AS n,
             SUM(CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT))
               AS cents
      FROM orders GROUP BY o_orderpriority
    )
    SELECT v1.o_orderpriority,
           CAST(v0.n AS BIGINT) AS v0_rows,
           CAST(v1.n AS BIGINT) AS v1_rows,
           CAST(v1.cents - v0.cents AS BIGINT) AS appended_cents
    FROM v1 JOIN v0 ON v0.o_orderpriority = v1.o_orderpriority
    """,
)
def u20_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACID TIME TRAVEL through the driver gate: an orders table is
    committed to the txlog format in two versions (v0 = even
    orderkeys, v1 = append of the odd ones), then BOTH snapshots are
    read back — version 0 by explicit time travel, v1 as latest —
    and compared per priority class. The oracle recomputes both
    states from the source rule, so manifest pinning must isolate
    each snapshot exactly (a v0 read that sees any v1 file breaks the
    row counts; a v1 read that re-reads v0 files twice breaks the
    cents). Surfaces sources/txlog.py's snapshot isolation the way
    u16 surfaces IVM — through the value gate, not just pytest.

    The write is per-process idempotent under /tmp; reads resolve ONE
    manifest each (O(1) metadata, the Delta/Iceberg contract)."""
    import hashlib
    import os

    from hi_csa_db_spark.sources import txlog

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    tag = hashlib.md5(f"{sf_dir}|{os.getpid()}".encode()).hexdigest()[:10]
    path = f"/tmp/spark_graft_timetravel/{tag}"
    if txlog.current_version(path) is None:
        txlog.write_table(o.filter(F.col("o_orderkey") % 2 == 0), path)
        txlog.write_table(
            o.filter(F.col("o_orderkey") % 2 == 1), path, mode="append"
        )
    cents = (F.col("o_totalprice").cast("decimal(15,2)") * 100).cast("bigint")

    def snap(version):
        return (
            txlog.read_table(spark, path, version=version)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(cents).alias("cents"),
            )
        )

    v0 = snap(0).select(
        F.col("o_orderpriority").alias("p0"),
        F.col("n").alias("v0_rows"),
        F.col("cents").alias("c0"),
    )
    v1 = snap(None)
    return v1.join(v0, v1["o_orderpriority"] == v0["p0"]).select(
        "o_orderpriority",
        "v0_rows",
        F.col("n").alias("v1_rows"),
        (F.col("cents") - F.col("c0")).cast("bigint").alias("appended_cents"),
    )


@_register(
    "u21_compaction_plan",
    """
    WITH sh AS (
      SELECT CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                  AS BIGINT) AS shard,
             length(text) AS n_chars
      FROM documents
    ),
    m AS (
      SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM sh GROUP BY shard
    ),
    p AS (
      SELECT shard, n_docs, total_chars,
             COALESCE(SUM(total_chars) OVER (ORDER BY shard ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM m
    )
    SELECT CAST(cb // 100000 AS BIGINT) AS merge_group,
           CAST(COUNT(*) AS BIGINT) AS n_shards,
           CAST(MIN(shard) AS BIGINT) AS min_shard,
           CAST(MAX(shard) AS BIGINT) AS max_shard,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(total_chars) AS BIGINT) AS total_chars
    FROM p GROUP BY CAST(cb // 100000 AS BIGINT)
    """,
)
def u21_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning — the lakehouse maintenance op:
    x35's 16 deterministic export shards are coalesced into merge
    groups of ~100k chars by CLOSED-FORM prefix-sum binning
    (merge_group = floor(cumulative-bytes-before / target)), the
    parallelizable alternative to the sequential greedy packer: every
    shard's group is a pure function of the prefix sum, so the plan is
    one distributed prefix-sum pass + a map, identical no matter how
    the manifest is partitioned (contrast x44's FFD, which trades this
    closed form for tighter bins). Groups can overshoot the target by
    at most one shard — the standard compaction contract (a merge
    never splits a file).

    The ordered prefix sum runs over the MANIFEST (one row per shard
    — 16 here, thousands at fleet scale), never over documents; at
    cluster scale it goes through ordered.global_prefix_sums' range
    partition + broadcast offsets, so no data-sized global window
    exists (the manifest aggregate itself is map-combined)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        id_shard16(F.col("doc_id")).alias("shard"),
        F.length("text").alias("n_chars"),
    )
    m = sh.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    w = (
        Window.orderBy(F.col("shard").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    p = m.select(
        "shard",
        "n_docs",
        "total_chars",
        F.coalesce(F.sum("total_chars").over(w), F.lit(0)).alias("cb"),
    )
    grp = F.expr("CAST(cb div 100000 AS BIGINT)")
    return p.groupBy(grp.alias("merge_group")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shards"),
        F.min("shard").cast("bigint").alias("min_shard"),
        F.max("shard").cast("bigint").alias("max_shard"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("total_chars").cast("bigint").alias("total_chars"),
    )


@_register(
    "u22_zorder_layout",
    """
    WITH e AS (
      SELECT user_id % 256 AS ub,
             (epoch_us(ts) // 3600000000) % 256 AS hb
      FROM events
    ),
    a1 AS (SELECT ub, hb, (ub | (ub << 4)) & 3855 AS ua,
                          (hb | (hb << 4)) & 3855 AS ha FROM e),
    a2 AS (SELECT ub, hb, (ua | (ua << 2)) & 13107 AS ua,
                          (ha | (ha << 2)) & 13107 AS ha FROM a1),
    a3 AS (SELECT ub, hb, (ua | (ua << 1)) & 21845 AS ua,
                          (ha | (ha << 1)) & 21845 AS ha FROM a2),
    z AS (SELECT ub, hb, (ua << 1) | ha AS zv FROM a3)
    SELECT CAST(zv // 4096 AS BIGINT) AS z_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(ub) AS BIGINT) AS ub_min,
           CAST(MAX(ub) AS BIGINT) AS ub_max,
           CAST(MIN(hb) AS BIGINT) AS hb_min,
           CAST(MAX(hb) AS BIGINT) AS hb_max,
           CAST((MAX(ub) - MIN(ub) + 1) * (MAX(hb) - MIN(hb) + 1)
             AS BIGINT) AS span_product
    FROM z GROUP BY CAST(zv // 4096 AS BIGINT)
    """,
)
def u22_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) data layout for multi-dimensional file
    pruning — the lakehouse OPTIMIZE ZORDER BY op: events are keyed by
    the bit-interleave of (user_id byte, hour byte), so files cut
    along z-ranges stay range-bounded in BOTH dimensions at once.
    The audit groups by the top-4 z bits (16 "files") and reports each
    dimension's min/max plus their span product: every bucket's
    product is <= 4096 (each dim's top-2 bits are pinned inside a
    bucket, so spans are <= 64) vs 65536 for a single-dim sort's
    unsorted dimension — the min/max skipping-stats pruning proof,
    carried as the result's own columns.

    Bit spreading is the classic mask ladder ((x | x<<4) & 0x0F0F,
    then 0x3333, then 0x5555) — pure integer shifts/ands identical on
    both engines; the hour key is declared-us epoch arithmetic.

    Scale: a narrow map to compute z, then one map-combined 16-group
    aggregate. In production the z value feeds repartitionByRange +
    sortWithinPartitions before the write; the audit here is the
    planning/verification table for that layout decision."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        (F.col("user_id") % 256).alias("ub"),
        F.expr("ts_ns div 1000 div 3600000000 % 256").alias("hb"),
    )
    def spread(c: str) -> Column:
        x = F.expr(f"({c} | shiftleft({c}, 4)) & 3855")
        x = (x.bitwiseOR(F.shiftleft(x, 2))).bitwiseAND(F.lit(13107))
        x = (x.bitwiseOR(F.shiftleft(x, 1))).bitwiseAND(F.lit(21845))
        return x

    z = e.select(
        "ub",
        "hb",
        (F.shiftleft(spread("ub"), 1).bitwiseOR(spread("hb"))).alias("zv"),
    )
    return z.groupBy(
        F.expr("CAST(zv div 4096 AS BIGINT)").alias("z_bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.min("ub").cast("bigint").alias("ub_min"),
        F.max("ub").cast("bigint").alias("ub_max"),
        F.min("hb").cast("bigint").alias("hb_min"),
        F.max("hb").cast("bigint").alias("hb_max"),
        (
            (F.max("ub") - F.min("ub") + 1)
            * (F.max("hb") - F.min("hb") + 1)
        )
        .cast("bigint")
        .alias("span_product"),
    )


@_register(
    "u23_backfill_plan",
    """
    WITH e AS (
      SELECT epoch_us(ts) AS t,
             epoch_us(ts) + (event_id * 2654435761) % 4294967296 % 300000000
               AS arr
      FROM events
    ),
    d AS (
      SELECT t // 86400000000 AS event_day,
             arr // 86400000000 AS arrival_day,
             arr - t AS delay_us
      FROM e
    )
    SELECT CAST(event_day AS BIGINT) AS event_day,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN arrival_day > event_day THEN 1 ELSE 0 END)
             AS BIGINT) AS n_late,
           CAST(SUM(CASE WHEN arrival_day > event_day THEN 1 ELSE 0 END)
             * 1000000 // COUNT(*) AS BIGINT) AS late_micro,
           CAST(MAX(delay_us) // 1000000 AS BIGINT) AS max_delay_s
    FROM d GROUP BY event_day
    """,
)
def u23_backfill_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition BACKFILL planner for late-arriving data: with the
    t38 deterministic arrival model (event time + 0-300 s hashed
    network delay), every event-day partition reports how many of its
    rows arrive after the day closes — the table an incremental
    ingestion job reads to decide which closed daily partitions need
    dynamic-partition overwrite (S8's publish mode) on each run, and
    the batch complement of t38's streaming watermark trade-off.

    Scale: one narrow delay projection + a calendar-bounded per-day
    aggregate; pure integer micros throughout."""
    ev = load_table(spark, sf_dir, "events")
    t = F.expr("ts_ns div 1000")
    arr = t + knuth_hash32(F.col("event_id")) % F.lit(300000000)
    d = ev.select(t.alias("t"), arr.alias("arr")).select(
        F.expr("t div 86400000000").alias("event_day"),
        F.expr("arr div 86400000000").alias("arrival_day"),
        (F.col("arr") - F.col("t")).alias("delay_us"),
    )
    return d.groupBy("event_day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("arrival_day") > F.col("event_day"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_late"),
        F.expr(
            "CAST(SUM(CASE WHEN arrival_day > event_day THEN 1 ELSE 0 END)"
            " * 1000000 div COUNT(1) AS BIGINT)"
        ).alias("late_micro"),
        F.expr("CAST(MAX(delay_us) div 1000000 AS BIGINT)").alias(
            "max_delay_s"
        ),
    ).select(
        F.col("event_day").cast("bigint").alias("event_day"),
        "n_rows",
        "n_late",
        "late_micro",
        "max_delay_s",
    )


@_register(
    "u24_partial_agg_merge",
    """
    WITH b AS (
      SELECT o_orderpriority,
             CASE WHEN o_orderdate < '1994-01-01' THEN 0
                  WHEN o_orderdate < '1996-01-01' THEN 1
                  ELSE 2 END AS batch,
             CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
      FROM orders
    ),
    partials AS (
      SELECT o_orderpriority, batch,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS s,
             CAST(MIN(cents) AS BIGINT) AS mn,
             CAST(MAX(cents) AS BIGINT) AS mx
      FROM b GROUP BY o_orderpriority, batch
    ),
    merged AS (
      SELECT o_orderpriority,
             CAST(SUM(n) AS BIGINT) AS n_merged,
             CAST(SUM(s) AS BIGINT) AS sum_merged,
             CAST(MIN(mn) AS BIGINT) AS min_merged,
             CAST(MAX(mx) AS BIGINT) AS max_merged,
             CAST(COUNT(*) AS BIGINT) AS n_batches
      FROM partials GROUP BY o_orderpriority
    ),
    full_pass AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n_full,
             CAST(SUM(cents) AS BIGINT) AS sum_full,
             CAST(MIN(cents) AS BIGINT) AS min_full,
             CAST(MAX(cents) AS BIGINT) AS max_full
      FROM b GROUP BY o_orderpriority
    )
    SELECT m.o_orderpriority, m.n_batches,
           m.n_merged, f.n_full, m.sum_merged, f.sum_full,
           m.min_merged, f.min_full, m.max_merged, f.max_full,
           CAST(CASE WHEN m.n_merged = f.n_full AND m.sum_merged = f.sum_full
                      AND m.min_merged = f.min_full
                      AND m.max_merged = f.max_full
                THEN 1 ELSE 0 END AS BIGINT) AS states_match
    FROM merged m JOIN full_pass f USING (o_orderpriority)
    """,
)
def u24_partial_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: each ingest batch (orders
    split into three date-range batches, the u23/u21 batch model)
    reduces to a PARTIAL aggregate state (count, sum in exact cents,
    min, max) and the materialized rollup is maintained by MERGING
    states — never by re-reading closed batches. The query carries
    the audit inline: merged state vs a single-pass full recompute,
    with a states_match flag per group proving the merge formulas
    are lossless (the algebraic-aggregate contract every incremental
    pipeline and every map-side combine relies on; HLL/CMS/log-
    histogram extend the same contract to sketches).

    Scale: at 100 TB the full_pass column disappears and only the
    per-batch partials (|groups| x |batches| rows) are ever stored or
    shuffled — a day's ingest touches one batch's state, and the
    rollup is a |groups|-sized merge."""
    orders = load_table(spark, sf_dir, "orders")
    b = orders.select(
        "o_orderpriority",
        F.when(F.col("o_orderdate") < "1994-01-01", 0)
        .when(F.col("o_orderdate") < "1996-01-01", 1)
        .otherwise(2)
        .alias("batch"),
        (F.col("o_totalprice").cast("decimal(14,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    ).localCheckpoint(eager=False)
    partials = b.groupBy("o_orderpriority", "batch").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.min("cents").cast("bigint").alias("mn"),
        F.max("cents").cast("bigint").alias("mx"),
    )
    merged = partials.groupBy("o_orderpriority").agg(
        F.sum("n").cast("bigint").alias("n_merged"),
        F.sum("s").cast("bigint").alias("sum_merged"),
        F.min("mn").cast("bigint").alias("min_merged"),
        F.max("mx").cast("bigint").alias("max_merged"),
        F.count(F.lit(1)).cast("bigint").alias("n_batches"),
    )
    full_pass = b.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_full"),
        F.sum("cents").cast("bigint").alias("sum_full"),
        F.min("cents").cast("bigint").alias("min_full"),
        F.max("cents").cast("bigint").alias("max_full"),
    )
    return merged.join(full_pass, "o_orderpriority").select(
        "o_orderpriority",
        "n_batches",
        "n_merged",
        "n_full",
        "sum_merged",
        "sum_full",
        "min_merged",
        "min_full",
        "max_merged",
        "max_full",
        F.when(
            (F.col("n_merged") == F.col("n_full"))
            & (F.col("sum_merged") == F.col("sum_full"))
            & (F.col("min_merged") == F.col("min_full"))
            & (F.col("max_merged") == F.col("max_full")),
            1,
        )
        .otherwise(0)
        .cast("bigint")
        .alias("states_match"),
    )


@_register(
    "u25_bitemporal_grid",
    """
    WITH base AS (
      SELECT c_custkey AS k,
             CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM customer
    ),
    rows_bt AS (
      -- original v1 belief: valid 1..(2 if updated else inf), known from tx 1;
      -- k%13 rows were WRONG at tx 1 and corrected (-500) at tx 2;
      -- k%10 rows got a real v2 UPDATE (+10000) valid from 2 (never corrected)
      SELECT k, cents AS v, 1 AS vf,
             CASE WHEN k % 10 = 0 THEN 2 ELSE 0 END AS vt,
             1 AS tf, CASE WHEN k % 13 = 0 THEN 2 ELSE 0 END AS tt
      FROM base
      UNION ALL
      SELECT k, cents - 500, 1,
             CASE WHEN k % 10 = 0 THEN 2 ELSE 0 END, 2, 0
      FROM base WHERE k % 13 = 0
      UNION ALL
      SELECT k, cents + 10000, 2, 0, 1, 0 FROM base WHERE k % 10 = 0
    ),
    agg AS (
      SELECT
        CAST(SUM(CASE WHEN vf <= 1 AND (vt = 0 OR vt > 1)
                       AND tf <= 1 AND (tt = 0 OR tt > 1) THEN 1 END) AS BIGINT) AS n11,
        CAST(SUM(CASE WHEN vf <= 1 AND (vt = 0 OR vt > 1)
                       AND tf <= 1 AND (tt = 0 OR tt > 1) THEN v END) AS BIGINT) AS s11,
        CAST(SUM(CASE WHEN vf <= 1 AND (vt = 0 OR vt > 1)
                       AND tf <= 2 AND (tt = 0 OR tt > 2) THEN 1 END) AS BIGINT) AS n12,
        CAST(SUM(CASE WHEN vf <= 1 AND (vt = 0 OR vt > 1)
                       AND tf <= 2 AND (tt = 0 OR tt > 2) THEN v END) AS BIGINT) AS s12,
        CAST(SUM(CASE WHEN vf <= 2 AND (vt = 0 OR vt > 2)
                       AND tf <= 1 AND (tt = 0 OR tt > 1) THEN 1 END) AS BIGINT) AS n21,
        CAST(SUM(CASE WHEN vf <= 2 AND (vt = 0 OR vt > 2)
                       AND tf <= 1 AND (tt = 0 OR tt > 1) THEN v END) AS BIGINT) AS s21,
        CAST(SUM(CASE WHEN vf <= 2 AND (vt = 0 OR vt > 2)
                       AND tf <= 2 AND (tt = 0 OR tt > 2) THEN 1 END) AS BIGINT) AS n22,
        CAST(SUM(CASE WHEN vf <= 2 AND (vt = 0 OR vt > 2)
                       AND tf <= 2 AND (tt = 0 OR tt > 2) THEN v END) AS BIGINT) AS s22
      FROM rows_bt
    )
    SELECT 1 AS valid_at, 1 AS known_at, n11 AS n_rows, s11 AS total_cents FROM agg
    UNION ALL SELECT 1, 2, n12, s12 FROM agg
    UNION ALL SELECT 2, 1, n21, s21 FROM agg
    UNION ALL SELECT 2, 2, n22, s22 FROM agg
    """,
)
def u25_bitemporal_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal snapshots: VALID time (when a fact was true in the
    world — u7's SCD2 axis) crossed with TRANSACTION time (when the
    system learned it — u20's time-travel axis). The interval table
    carries both axes per row: k%10 keys get a real v2 UPDATE (+100.00
    valid from version 2), k%13 keys get a retroactive CORRECTION
    (-5.00, same valid interval, known only from tx 2). The 2x2 grid
    answers 'balance as valid at V, as known at T' — (1,1) is what we
    believed originally, (1,2) is history as corrected, (2,1) is the
    update before the correction arrived, (2,2) is current truth; the
    corrections move totals WITHOUT touching valid-time row counts,
    which is the bitemporal independence property the grid proves.

    Scale: the interval table is a union of narrow projections; all
    four snapshots fold into ONE map-combined aggregate pass (no
    join, no per-snapshot scan), unpivoted driver-side into 4 rows —
    how a 100 TB bitemporal audit should read its ledger."""
    cust = load_table(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("k"),
        (F.col("c_acctbal").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    inf = F.lit(0)
    r1 = base.select(
        "k",
        F.col("cents").alias("v"),
        F.lit(1).alias("vf"),
        F.when(F.col("k") % 10 == 0, 2).otherwise(inf).alias("vt"),
        F.lit(1).alias("tf"),
        F.when(F.col("k") % 13 == 0, 2).otherwise(inf).alias("tt"),
    )
    r2 = base.filter(F.col("k") % 13 == 0).select(
        "k",
        (F.col("cents") - 500).alias("v"),
        F.lit(1).alias("vf"),
        F.when(F.col("k") % 10 == 0, 2).otherwise(inf).alias("vt"),
        F.lit(2).alias("tf"),
        inf.alias("tt"),
    )
    r3 = base.filter(F.col("k") % 10 == 0).select(
        "k",
        (F.col("cents") + 10000).alias("v"),
        F.lit(2).alias("vf"),
        inf.alias("vt"),
        F.lit(1).alias("tf"),
        inf.alias("tt"),
    )
    rows_bt = r1.unionByName(r2).unionByName(r3)

    def covers(vq: int, tq: int) -> Column:
        return (
            (F.col("vf") <= vq)
            & ((F.col("vt") == 0) | (F.col("vt") > vq))
            & (F.col("tf") <= tq)
            & ((F.col("tt") == 0) | (F.col("tt") > tq))
        )

    aggs = []
    for vq in (1, 2):
        for tq in (1, 2):
            aggs += [
                F.sum(F.when(covers(vq, tq), 1))
                .cast("bigint")
                .alias(f"n{vq}{tq}"),
                F.sum(F.when(covers(vq, tq), F.col("v")))
                .cast("bigint")
                .alias(f"s{vq}{tq}"),
            ]
    agg = rows_bt.agg(*aggs).localCheckpoint(eager=False)
    out = None
    for vq in (1, 2):
        for tq in (1, 2):
            row = agg.select(
                F.lit(vq).alias("valid_at"),
                F.lit(tq).alias("known_at"),
                F.col(f"n{vq}{tq}").alias("n_rows"),
                F.col(f"s{vq}{tq}").alias("total_cents"),
            )
            out = row if out is None else out.unionByName(row)
    return out


@_register(
    "u26_tombstone_delete",
    """
    WITH tomb AS (
      SELECT c_custkey AS k FROM customer WHERE c_custkey % 113 = 0
    ),
    dead_orders AS (
      SELECT o.o_orderkey FROM orders o JOIN tomb t ON t.k = o.o_custkey
    ),
    stats AS (
      SELECT
        (SELECT COUNT(*) FROM tomb) AS n_tombstones,
        (SELECT COUNT(*) FROM customer c JOIN tomb t ON t.k = c.c_custkey)
          AS cust_purged,
        (SELECT COUNT(*) FROM dead_orders) AS orders_purged,
        (SELECT COUNT(*) FROM lineitem l JOIN dead_orders d
           ON d.o_orderkey = l.l_orderkey) AS lineitems_purged,
        (SELECT COUNT(*) FROM customer c LEFT JOIN tomb t ON t.k = c.c_custkey
          WHERE t.k IS NULL) AS cust_kept,
        (SELECT COUNT(*)
           FROM (SELECT o.* FROM orders o LEFT JOIN tomb t
                   ON t.k = o.o_custkey WHERE t.k IS NULL) o2
           JOIN tomb t2 ON t2.k = o2.o_custkey) AS residue
    )
    SELECT CAST(n_tombstones AS BIGINT) AS n_tombstones,
           CAST(cust_purged AS BIGINT) AS cust_purged,
           CAST(orders_purged AS BIGINT) AS orders_purged,
           CAST(lineitems_purged AS BIGINT) AS lineitems_purged,
           CAST(cust_kept AS BIGINT) AS cust_kept,
           CAST(residue AS BIGINT) AS residue
    FROM stats
    """,
)
def u26_tombstone_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten purge: a tombstone key set (every 113th
    customer) is propagated through the foreign-key chain — customer
    rows, their orders, and those orders' lineitems — with anti-join
    semantics, and the report carries the PROOF alongside the purge
    counts: re-probing the kept customer set against the tombstones
    yields residue = 0. The deletion audit trail a compliance pipeline
    ships with every purge batch.

    Scale: tombstones are small by nature (broadcast semi/anti
    joins); the FK cascade is two key equi-joins; at 100 TB the kept
    tables rewrite via dynamic-partition overwrite and this query IS
    the post-purge verification pass."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    tomb = (
        cust.filter(F.col("c_custkey") % 113 == 0)
        .select(F.col("c_custkey").alias("k"))
        .localCheckpoint(eager=False)
    )
    dead_orders = orders.join(
        F.broadcast(tomb), orders["o_custkey"] == tomb["k"], "left_semi"
    ).select("o_orderkey").localCheckpoint(eager=False)
    n_tomb = tomb.agg(F.count(F.lit(1)).cast("bigint").alias("n_tombstones"))
    cust_purged = (
        cust.join(F.broadcast(tomb), cust["c_custkey"] == tomb["k"], "left_semi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cust_purged"))
    )
    orders_purged = dead_orders.agg(
        F.count(F.lit(1)).cast("bigint").alias("orders_purged")
    )
    li_purged = (
        li.join(F.broadcast(dead_orders), li["l_orderkey"] == dead_orders["o_orderkey"], "left_semi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("lineitems_purged"))
    )
    kept = cust.join(
        F.broadcast(tomb), cust["c_custkey"] == tomb["k"], "left_anti"
    )
    cust_kept = kept.agg(F.count(F.lit(1)).cast("bigint").alias("cust_kept"))
    kept_orders = orders.join(
        F.broadcast(tomb), orders["o_custkey"] == tomb["k"], "left_anti"
    )
    residue = (
        kept_orders.join(
            F.broadcast(tomb), kept_orders["o_custkey"] == tomb["k"], "left_semi"
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("residue"))
    )
    return (
        n_tomb.crossJoin(F.broadcast(cust_purged))
        .crossJoin(F.broadcast(orders_purged))
        .crossJoin(F.broadcast(li_purged))
        .crossJoin(F.broadcast(cust_kept))
        .crossJoin(F.broadcast(residue))
    )


@_register(
    "u27_retractable_agg",
    """
    WITH base AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents,
             COUNT(*) AS n
      FROM orders WHERE o_orderkey % 10 NOT IN (7)
      GROUP BY 1
    ),
    delta AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)
               AS cents,
             CASE WHEN o_orderkey % 10 = 7 THEN 1 ELSE -1 END AS sign
      FROM orders WHERE o_orderkey % 10 IN (7, 3)
    ),
    dagg AS (
      SELECT day,
             CAST(SUM(sign * cents) AS BIGINT) AS d_cents,
             CAST(SUM(sign) AS BIGINT) AS d_n,
             CAST(SUM(CASE WHEN sign = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_retractions
      FROM delta GROUP BY day
    ),
    merged AS (
      SELECT COALESCE(b.day, d.day) AS day,
             COALESCE(b.cents, 0) AS old_cents,
             COALESCE(b.cents, 0) + COALESCE(d.d_cents, 0) AS new_cents,
             COALESCE(b.n, 0) + COALESCE(d.d_n, 0) AS new_n,
             COALESCE(d.n_retractions, 0) AS n_retractions
      FROM base b FULL OUTER JOIN dagg d ON b.day = d.day
      WHERE d.day IS NOT NULL
    )
    SELECT day, CAST(old_cents AS BIGINT) AS old_cents,
           CAST(new_cents AS BIGINT) AS new_cents,
           CAST(new_n AS BIGINT) AS new_n, n_retractions
    FROM merged
    ORDER BY abs(new_cents - old_cents) DESC, day ASC LIMIT 25
    """,
)
def u27_retractable_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance with RETRACTIONS: a materialized
    daily-revenue aggregate is updated by a signed CDC delta batch
    (inserts carry +1, deletes -1 — synthesized deterministically
    from orders: keys ending in 7 arrive, keys ending in 3 retract)
    WITHOUT rescanning the base fact table. SUM/COUNT are
    self-maintainable under deletion (Flink-style retract streams /
    DBSP z-sets): merged = base + sum(sign * measure) per group —
    one delta-sized aggregate + one outer join against the affected
    groups. Complements u10_cdc_apply (row-level last-writer-wins):
    this maintains the AGGREGATE layer. Exact integer cents; top-25
    most-changed days.

    Scale shape: the base is read-only (in production: the
    materialized table, partition-pruned to affected days); all new
    work is proportional to the DELTA (map-combined signed sums),
    never the history. The join fans only to touched groups.

    vs u16_ivm_join_counts: u16 maintains a JOIN under insert-only
    deltas (delta-join expansion); this maintains an AGGREGATE under
    DELETION — the retraction case u16's insert algebra cannot
    express."""
    o = load_tables(spark, sf_dir)["orders"]
    cents = F.expr("CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)")
    day = F.col("o_orderdate").cast("date").alias("day")
    base = (
        o.filter(F.col("o_orderkey") % 10 != 7)
        .groupBy(day)
        .agg(
            F.sum(cents).cast("bigint").alias("cents"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    sign = F.when(F.col("o_orderkey") % 10 == 7, F.lit(1)).otherwise(F.lit(-1))
    dagg = (
        o.filter((F.col("o_orderkey") % 10).isin(7, 3))
        .select(day, cents.alias("cents"), sign.alias("sign"))
        .groupBy("day")
        .agg(
            F.sum(F.col("sign") * F.col("cents")).cast("bigint").alias("d_cents"),
            F.sum("sign").cast("bigint").alias("d_n"),
            F.sum(F.when(F.col("sign") == -1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_retractions"),
        )
    )
    merged = (
        base.join(dagg, "day", "full_outer")
        .filter(F.col("d_cents").isNotNull() | F.col("n_retractions").isNotNull())
        .select(
            "day",
            F.coalesce(F.col("cents"), F.lit(0)).cast("bigint").alias("old_cents"),
            (F.coalesce(F.col("cents"), F.lit(0)) + F.coalesce(F.col("d_cents"), F.lit(0)))
            .cast("bigint")
            .alias("new_cents"),
            (F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("d_n"), F.lit(0)))
            .cast("bigint")
            .alias("new_n"),
            F.coalesce(F.col("n_retractions"), F.lit(0))
            .cast("bigint")
            .alias("n_retractions"),
        )
    )
    return merged.orderBy(
        F.abs(F.col("new_cents") - F.col("old_cents")).desc(),
        F.col("day").asc(),
    ).limit(25)


@_register(
    "u28_snapshot_expiry_plan",
    """
    WITH v AS (
      SELECT CAST((EXTRACT(year FROM o_orderdate) - 1992) * 12
                  + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT)
               AS version,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(1 + (COUNT(*) - 1) // 100 AS BIGINT) AS n_files,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100
                           AS BIGINT)) AS BIGINT) AS bytes_cents
      FROM orders GROUP BY 1
    ),
    mx AS (SELECT MAX(version) AS vmax,
                  CAST(COUNT(*) AS BIGINT) AS n_versions FROM v),
    p AS (
      SELECT v.*,
             CASE WHEN v.version > m.vmax - 5
                    OR v.version >= m.vmax - 6 THEN 1 ELSE 0 END AS retained
      FROM v CROSS JOIN mx m
    ),
    tot AS (
      SELECT CAST(SUM(CASE WHEN retained = 0 THEN n_files ELSE 0 END)
                  AS BIGINT) AS reclaim_files,
             CAST(SUM(CASE WHEN retained = 0 THEN bytes_cents ELSE 0 END)
                  AS BIGINT) AS reclaim_bytes
      FROM p
    )
    SELECT p.version, p.n_rows, p.n_files, p.bytes_cents,
           CAST(p.retained AS BIGINT) AS retained,
           t.reclaim_files, t.reclaim_bytes
    FROM p CROSS JOIN tot t
    ORDER BY p.version DESC LIMIT 24
    """,
)
def u28_snapshot_expiry_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-retention (VACUUM) planning — the lakehouse
    maintenance op beside u21's compaction: a monthly version history
    (synthesized deterministically from order months: one snapshot
    per month, file count = ceil(rows/100), bytes proxied by exact
    cents) is classified under the standard policy "keep the last 5
    snapshots AND everything inside the 6-version time-travel
    window"; everything else is expirable, with the reclaimable
    file/byte totals the operator signs off on. Pure integers.

    Scale shape: one map-combined month aggregate over the fact
    table; the plan itself lives on the VERSION dimension (dozens of
    rows) — policy flags, the 1-row reclaim total (broadcast cross
    join), and a bounded top-24 ordered emit. In production the
    month aggregate is replaced by the table-format's manifest
    (u21's shape) and the fact scan disappears entirely."""
    o = load_tables(spark, sf_dir)["orders"]
    v = o.groupBy(
        (
            (F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate") - 1
        )
        .cast("bigint")
        .alias("version")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.expr("CAST(1 + (COUNT(*) - 1) div 100 AS BIGINT)").alias("n_files"),
        F.sum(
            F.expr("CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)")
        )
        .cast("bigint")
        .alias("bytes_cents"),
    )
    v = v.localCheckpoint(eager=False)  # mx + plan + totals share it
    mx = v.agg(
        F.max("version").alias("vmax"),
        F.count(F.lit(1)).cast("bigint").alias("n_versions"),
    )
    p = v.crossJoin(F.broadcast(mx)).withColumn(
        "retained",
        F.when(
            (F.col("version") > F.col("vmax") - 5)
            | (F.col("version") >= F.col("vmax") - 6),
            1,
        ).otherwise(0),
    )
    p = p.localCheckpoint(eager=False)
    tot = p.agg(
        F.sum(F.when(F.col("retained") == 0, F.col("n_files")).otherwise(0))
        .cast("bigint")
        .alias("reclaim_files"),
        F.sum(F.when(F.col("retained") == 0, F.col("bytes_cents")).otherwise(0))
        .cast("bigint")
        .alias("reclaim_bytes"),
    )
    return (
        p.crossJoin(F.broadcast(tot))
        .select(
            "version",
            "n_rows",
            "n_files",
            "bytes_cents",
            F.col("retained").cast("bigint").alias("retained"),
            "reclaim_files",
            "reclaim_bytes",
        )
        .orderBy(F.col("version").desc())
        .limit(24)
    )


@_register(
    "u29_shard_rebalance_plan",
    """
    WITH d AS (
      SELECT doc_id,
             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS h
      FROM documents
    ),
    pts AS (
      SELECT CAST(i AS BIGINT) AS shard,
             CAST('0x' || substring(md5('shard:' || CAST(i AS VARCHAR)),
                  1, 15) AS BIGINT) AS pt,
             CASE WHEN i < 16 THEN 1 ELSE 0 END AS is_old
      FROM range(0, 24) t(i)
    ),
    old_succ AS (
      SELECT d.doc_id,
             COALESCE(MIN(CASE WHEN p.pt >= d.h THEN p.pt END),
                      MIN(p.pt)) AS opt
      FROM d CROSS JOIN pts p WHERE p.is_old = 1
      GROUP BY d.doc_id
    ),
    new_succ AS (
      SELECT d.doc_id,
             COALESCE(MIN(CASE WHEN p.pt >= d.h THEN p.pt END),
                      MIN(p.pt)) AS npt
      FROM d CROSS JOIN pts p
      GROUP BY d.doc_id
    ),
    ring AS (
      SELECT CAST(SUM(CASE WHEN o.opt <> n.npt THEN 1 ELSE 0 END) AS BIGINT)
               AS moved_ring
      FROM old_succ o JOIN new_succ n USING (doc_id)
    ),
    md AS (
      SELECT CAST(SUM(CASE WHEN h % 16 <> h % 24 THEN 1 ELSE 0 END)
                  AS BIGINT) AS moved_mod,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM d
    )
    SELECT m.n_docs, m.moved_mod,
           CAST(m.moved_mod * 10000 // m.n_docs AS BIGINT) AS moved_mod_bps,
           r.moved_ring,
           CAST(r.moved_ring * 10000 // m.n_docs AS BIGINT)
             AS moved_ring_bps,
           CAST((24 - 16) * 10000 // 24 AS BIGINT) AS ring_theory_bps
    FROM md m CROSS JOIN ring r
    """,
)
def u29_shard_rebalance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-count change (16 -> 24) data-movement plan: how many
    documents RELOCATE under naive modulo sharding versus a
    consistent-hash ring (Karger et al. 1997 — each doc goes to the
    first shard point clockwise of its hash; adding shards steals
    only the ring segments the new points split). Modulo resharding
    moves ~(1 - 1/lcm-share) of everything — the measured
    moved_mod_bps sits near 9500+ — while the ring moves ~new/total
    = 3333 bps (ring_theory_bps, emitted for comparison with the
    measured moved_ring_bps). This is the plan an operator reads
    before growing a 100 TB bucketed layout: modulo means a full
    rewrite, the ring means a third.

    Determinism: doc and shard positions are md5-derived 60-bit
    integers; successor lookup is a MIN over the 24-point broadcast
    dimension with a wrap fallback — exact on both engines.

    Scale shape: one narrow hash pass over docs; the ring lookup is
    a doc x 24-row broadcast aggregate (never a shuffle of pairs);
    the report is 1 row."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", stable_long_hash(F.col("doc_id")).alias("h")
    ).localCheckpoint(eager=False)  # ring + mod branches share it
    pts = (
        spark.range(24)
        .select(
            F.col("id").cast("bigint").alias("shard"),
            stable_long_hash(F.col("id"), seed="shard").alias("pt"),
            F.when(F.col("id") < 16, 1).otherwise(0).alias("is_old"),
        )
    )

    def _succ(points: DataFrame, out: str) -> DataFrame:
        return (
            d.crossJoin(F.broadcast(points))
            .groupBy("doc_id", "h")
            .agg(
                F.coalesce(
                    F.min(F.when(F.col("pt") >= F.col("h"), F.col("pt"))),
                    F.min("pt"),
                ).alias(out)
            )
        )

    ring = (
        _succ(pts.filter(F.col("is_old") == 1), "opt")
        .join(_succ(pts, "npt").select("doc_id", "npt"), "doc_id")
        .agg(
            F.sum(F.when(F.col("opt") != F.col("npt"), 1).otherwise(0))
            .cast("bigint")
            .alias("moved_ring")
        )
    )
    md = d.agg(
        F.sum(F.when(F.col("h") % 16 != F.col("h") % 24, 1).otherwise(0))
        .cast("bigint")
        .alias("moved_mod"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    return md.crossJoin(F.broadcast(ring)).select(
        "n_docs",
        "moved_mod",
        F.expr("CAST(moved_mod * 10000 div n_docs AS BIGINT)").alias(
            "moved_mod_bps"
        ),
        "moved_ring",
        F.expr("CAST(moved_ring * 10000 div n_docs AS BIGINT)").alias(
            "moved_ring_bps"
        ),
        F.expr("CAST((24 - 16) * 10000 div 24 AS BIGINT)").alias(
            "ring_theory_bps"
        ),
    )


@_register(
    "u30_zone_map_skipping",
    """
    WITH o AS (
      SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS d FROM orders
    ),
    b AS (SELECT MIN(d) AS dmin, MAX(d) AS dmax FROM o),
    f AS (
      SELECT o.k, o.d,
             CAST(date_diff('day', b.dmin, o.d) * 64
                  // (date_diff('day', b.dmin, b.dmax) + 1) AS BIGINT)
               AS file_clustered,
             CAST(o.k % 64 AS BIGINT) AS file_roundrobin
      FROM o, b
    ),
    zc AS (SELECT 'clustered' AS layout, file_clustered AS file_id,
                  MIN(d) AS zmin, MAX(d) AS zmax
           FROM f GROUP BY file_clustered
           UNION ALL
           SELECT 'roundrobin', file_roundrobin, MIN(d), MAX(d)
           FROM f GROUP BY file_roundrobin),
    preds AS (
      SELECT * FROM (VALUES
        ('1997q1', DATE '1997-01-01', DATE '1997-03-31'),
        ('1997q2', DATE '1997-04-01', DATE '1997-06-30'),
        ('1997q3', DATE '1997-07-01', DATE '1997-09-30'),
        ('1997q4', DATE '1997-10-01', DATE '1997-12-31')
      ) AS t(qtr, lo, hi)
    )
    SELECT z.layout, p.qtr,
           CAST(SUM(CASE WHEN z.zmax >= p.lo AND z.zmin <= p.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
           CAST(COUNT(*) AS BIGINT) AS files_total,
           CAST((COUNT(*) - SUM(CASE WHEN z.zmax >= p.lo AND z.zmin <= p.hi
                                     THEN 1 ELSE 0 END)) * 10000
                // COUNT(*) AS BIGINT) AS skip_bps
    FROM zc z CROSS JOIN preds p
    GROUP BY z.layout, p.qtr
    """,
)
def u30_zone_map_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max) file-skipping audit — the READ-side payoff
    u22's Z-order layout buys: orders are assigned to 64 files under
    two layouts (date-CLUSTERED via value-range bucketing — the
    repartitionByRange shape, no global rank anywhere — vs ROUND-ROBIN
    by key, the unclustered insertion order), per-file min/max zone
    maps are built, and 4 quarter predicates are costed against them.
    skip_bps is the share of files a zone-map-aware scan never opens:
    ~97-98 % clustered vs 0 % round-robin — the data-skipping evidence
    row that justifies clustering policy before a 100 TB table write.

    Scale shape: one 1-row (dmin, dmax) broadcast, one map-combined
    64-group aggregate per layout, then a 128-zone x 4-predicate
    broadcast grid (tiny theta join by design). Dates compared as
    DATE on both engines; bucket arithmetic is integer floor division
    — no timestamp arithmetic crosses the boundary."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), F.to_date("o_orderdate").alias("d")
    )
    b = o.agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
    f = o.crossJoin(F.broadcast(b)).select(
        "k",
        "d",
        F.expr("CAST(datediff(d, dmin) * 64 div (datediff(dmax, dmin) + 1) AS BIGINT)").alias(
            "file_clustered"
        ),
        F.expr("CAST(k % 64 AS BIGINT)").alias("file_roundrobin"),
    ).localCheckpoint(eager=False)  # both layout aggregates share it
    zc = (
        f.groupBy("file_clustered")
        .agg(F.min("d").alias("zmin"), F.max("d").alias("zmax"))
        .select(
            F.lit("clustered").alias("layout"),
            F.col("file_clustered").alias("file_id"),
            "zmin",
            "zmax",
        )
        .unionByName(
            f.groupBy("file_roundrobin")
            .agg(F.min("d").alias("zmin"), F.max("d").alias("zmax"))
            .select(
                F.lit("roundrobin").alias("layout"),
                F.col("file_roundrobin").alias("file_id"),
                "zmin",
                "zmax",
            )
        )
    )
    preds = local_frame(
        spark,
        [
            ("1997q1", "1997-01-01", "1997-03-31"),
            ("1997q2", "1997-04-01", "1997-06-30"),
            ("1997q3", "1997-07-01", "1997-09-30"),
            ("1997q4", "1997-10-01", "1997-12-31"),
        ],
        "qtr string, lo_s string, hi_s string",
    ).select("qtr", F.to_date("lo_s").alias("lo"), F.to_date("hi_s").alias("hi"))
    hit = F.when(
        (F.col("zmax") >= F.col("lo")) & (F.col("zmin") <= F.col("hi")), 1
    ).otherwise(0)
    return (
        zc.crossJoin(F.broadcast(preds))
        .groupBy("layout", "qtr")
        .agg(
            F.sum(hit).cast("bigint").alias("files_scanned"),
            F.count(F.lit(1)).cast("bigint").alias("files_total"),
            F.expr(
                "CAST((count(1) - sum(CASE WHEN zmax >= lo AND zmin <= hi"
                " THEN 1 ELSE 0 END)) * 10000 div count(1) AS BIGINT)"
            ).alias("skip_bps"),
        )
    )


@_register(
    "u31_bloom_skipping",
    f"""
    WITH fk AS (
      SELECT DISTINCT CAST(o_orderkey % 64 AS BIGINT) AS file_id,
             CAST(o_custkey AS BIGINT) AS key
      FROM orders
    ),
    st AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS ndk,
             CAST(COUNT(DISTINCT file_id) AS BIGINT) AS files_total,
             CAST(greatest(1024, COUNT(*) * 16 // COUNT(DISTINCT file_id))
                  AS BIGINT) AS m
      FROM fk
    ),
    grid AS (
      SELECT CAST(a AS BIGINT) AS a
      FROM (VALUES (2654435761), (2246822519), (3266489917)) AS t(a)
    ),
    occ AS (
      SELECT DISTINCT fk.file_id,
             CAST(({MULT_HASH32_SQL.format(key='fk.key', a='grid.a')})
                  % st.m AS BIGINT) AS pos
      FROM fk CROSS JOIN grid CROSS JOIN st
    ),
    probes AS (
      SELECT CAST(k AS BIGINT) AS probe_key
      FROM (VALUES (1), (7), (50), (101), (999983)) AS t(k)
    ),
    pp AS (
      SELECT DISTINCT p.probe_key,
             CAST(({MULT_HASH32_SQL.format(key='p.probe_key', a='grid.a')})
                  % st.m AS BIGINT) AS pos
      FROM probes p CROSS JOIN grid CROSS JOIN st
    ),
    ppn AS (SELECT probe_key, COUNT(*) AS npos FROM pp GROUP BY 1),
    mb AS (
      SELECT pp.probe_key, occ.file_id, COUNT(*) AS hit
      FROM pp JOIN occ ON pp.pos = occ.pos
      GROUP BY 1, 2
    ),
    maybe AS (
      SELECT mb.probe_key, CAST(COUNT(*) AS BIGINT) AS files_maybe
      FROM mb JOIN ppn ON mb.probe_key = ppn.probe_key
      WHERE mb.hit = ppn.npos
      GROUP BY 1
    ),
    act AS (
      SELECT fk.key AS probe_key,
             CAST(COUNT(DISTINCT fk.file_id) AS BIGINT) AS files_actual
      FROM fk JOIN probes p ON fk.key = p.probe_key
      GROUP BY 1
    )
    SELECT p.probe_key, s.files_total,
           CAST(COALESCE(a.files_actual, 0) AS BIGINT) AS files_actual,
           CAST(COALESCE(m.files_maybe, 0) AS BIGINT) AS files_maybe,
           CAST((COALESCE(m.files_maybe, 0) - COALESCE(a.files_actual, 0))
                * 10000
                // greatest(s.files_total - COALESCE(a.files_actual, 0), 1)
                AS BIGINT) AS fp_bps,
           CAST((s.files_total - COALESCE(m.files_maybe, 0)) * 10000
                // s.files_total AS BIGINT) AS skip_bps
    FROM probes p
    CROSS JOIN st s
    LEFT JOIN maybe m ON m.probe_key = p.probe_key
    LEFT JOIN act a ON a.probe_key = p.probe_key
    ORDER BY p.probe_key
    """,
)
def u31_bloom_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter file-skipping audit -- the POINT-LOOKUP complement
    of u30's zone maps: under the round-robin layout where min/max
    zones skip NOTHING (u30 measures 0 %), a per-file bloom filter on
    o_custkey still prunes point predicates. 64 files by
    o_orderkey%64; per file a bloom of k=3 portable multiplicative
    hashes (the CMS hash family, mult_hash32 -- overflow-safe at any
    key) into m bits, with m DATA-DRIVEN at ~16 bits per resident
    key (greatest(1024, 16*keys/file)) so the filter neither
    saturates at sf0.1 nor wastes bits at sf0.001. Five probe keys
    (four resident at every sf, one absent everywhere) are costed:
    files_maybe vs files_actual, false-positive share of the
    skippable files (fp_bps), and the share of files a bloom-aware
    scan never opens (skip_bps -- the absent key skips ~100 %).

    The all-k-positions membership test compares against the probe's
    DISTINCT position count (npos), so a rare double-hash position
    collision cannot inflate the required hit count.

    Scale shape: one distinct (file,key) shuffle (the bloom build --
    at 100 TB this is the write-path side effect, not a query), then
    a <=files*m occupied-position distinct; probes are a 15-row
    broadcast against it. No per-row Python, no global sort."""
    fk = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.expr("CAST(o_orderkey % 64 AS BIGINT)").alias("file_id"),
            F.col("o_custkey").cast("bigint").alias("key"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # bloom build + actual pass share it
    )
    st = fk.agg(
        F.count(F.lit(1)).cast("bigint").alias("ndk"),
        F.countDistinct("file_id").cast("bigint").alias("files_total"),
    ).select(
        "ndk",
        "files_total",
        F.expr("CAST(greatest(1024, ndk * 16 div files_total) AS BIGINT)").alias("m"),
    )
    grid = local_frame(
        spark, [(2654435761,), (2246822519,), (3266489917,)], "a: bigint"
    )
    pos = (
        (mult_hash32(F.col("key"), F.col("a")) % F.col("m"))
        .cast("bigint")
        .alias("pos")
    )
    occ = (
        fk.crossJoin(F.broadcast(grid))
        .crossJoin(F.broadcast(st))
        .select("file_id", pos)
        .distinct()
    )
    probes = local_frame(
        spark, [(1,), (7,), (50,), (101,), (999983,)], "probe_key: bigint"
    )
    pp = (
        probes.withColumnRenamed("probe_key", "key")
        .crossJoin(F.broadcast(grid))
        .crossJoin(F.broadcast(st))
        .select(F.col("key").alias("probe_key"), pos)
        .distinct()
    )
    ppn = pp.groupBy("probe_key").agg(F.count(F.lit(1)).alias("npos"))
    mb = (
        occ.join(F.broadcast(pp), "pos")
        .groupBy("probe_key", "file_id")
        .agg(F.count(F.lit(1)).alias("hit"))
    )
    maybe = (
        mb.join(F.broadcast(ppn), "probe_key")
        .where(F.col("hit") == F.col("npos"))
        .groupBy("probe_key")
        .agg(F.count(F.lit(1)).cast("bigint").alias("files_maybe"))
    )
    act = (
        fk.join(F.broadcast(probes), fk["key"] == probes["probe_key"])
        .groupBy("probe_key")
        .agg(F.countDistinct("file_id").cast("bigint").alias("files_actual"))
    )
    return (
        probes.crossJoin(F.broadcast(st.select("files_total")))
        .join(F.broadcast(maybe), "probe_key", "left")
        .join(F.broadcast(act), "probe_key", "left")
        .select(
            "probe_key",
            "files_total",
            F.expr("CAST(COALESCE(files_actual, 0) AS BIGINT)").alias("files_actual"),
            F.expr("CAST(COALESCE(files_maybe, 0) AS BIGINT)").alias("files_maybe"),
            F.expr(
                "CAST((COALESCE(files_maybe, 0) - COALESCE(files_actual, 0)) * 10000"
                " div greatest(files_total - COALESCE(files_actual, 0), 1) AS BIGINT)"
            ).alias("fp_bps"),
            F.expr(
                "CAST((files_total - COALESCE(files_maybe, 0)) * 10000"
                " div files_total AS BIGINT)"
            ).alias("skip_bps"),
        )
        .orderBy("probe_key")
    )


@_register(
    "u32_incremental_topk",
    """
    WITH e AS (
      SELECT user_id,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
      FROM events
    ),
    b AS (
      SELECT CAST(MAX(day) - 2 AS BIGINT) AS sd FROM e
    ),
    base_state AS (
      SELECT e.user_id, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM e, b WHERE e.day <= b.sd GROUP BY 1
    ),
    delta AS (
      SELECT e.user_id, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM e, b WHERE e.day > b.sd GROUP BY 1
    ),
    old_top AS (
      SELECT user_id FROM base_state
      ORDER BY cnt DESC, user_id ASC LIMIT 10
    ),
    cand AS (
      SELECT user_id FROM old_top
      UNION
      SELECT user_id FROM delta
    ),
    ivm AS (
      SELECT c.user_id,
             CAST(COALESCE(bs.cnt, 0) + COALESCE(d.cnt, 0) AS BIGINT)
               AS cnt
      FROM cand c
      LEFT JOIN base_state bs ON bs.user_id = c.user_id
      LEFT JOIN delta d ON d.user_id = c.user_id
    ),
    ivm_top AS (
      SELECT user_id, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id ASC) AS rnk
      FROM (SELECT * FROM ivm ORDER BY cnt DESC, user_id ASC LIMIT 10)
    ),
    full_cnt AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt FROM e GROUP BY 1
    ),
    full_top AS (
      SELECT user_id, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id ASC) AS rnk
      FROM (SELECT * FROM full_cnt ORDER BY cnt DESC, user_id ASC LIMIT 10)
    ),
    sizes AS (
      SELECT (SELECT COUNT(*) FROM cand) AS n_candidates,
             (SELECT COUNT(*) FROM full_cnt) AS n_users
    )
    SELECT i.rnk,
           i.user_id AS ivm_user, i.cnt AS ivm_cnt,
           f.user_id AS full_user, f.cnt AS full_cnt,
           CASE WHEN i.user_id = f.user_id AND i.cnt = f.cnt
                THEN 1 ELSE 0 END AS agree,
           CAST(s.n_candidates AS BIGINT) AS n_candidates,
           CAST(s.n_users AS BIGINT) AS n_users,
           CAST(s.n_candidates * 10000 // s.n_users AS BIGINT)
             AS cand_share_bps
    FROM ivm_top i JOIN full_top f ON i.rnk = f.rnk
    CROSS JOIN sizes s
    ORDER BY i.rnk
    """,
)
def u32_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental top-k maintenance (IVM) with its correctness proof
    IN the result: the daily-activity top-10 is maintained from the
    materialized per-user count STATE plus a delta batch (last ~20 %
    of days) by re-ranking only the CANDIDATE SET = old top-10 union
    delta-touched users -- sound under insert-only because a user
    outside both cannot grow (its count is frozen while the old
    10th-place count only rises). Each rank row carries the
    IVM-maintained and full-recompute answers side by side with an
    agree flag, plus the work bound: candidates are
    cand_share_bps of the user dimension -- delta-proportional by
    construction (u27's retractable-aggregate contract lifted from
    SUM maintenance to ORDER-STATISTIC maintenance). On this dense
    fixture nearly every user is active daily so the share reads
    high; the bound |old top-k| + |delta users| is what matters at
    production sparsity.

    Scale shape: base/delta/full counts are map-combined user_id
    aggregates; every top-10 is TakeOrdered (never a global sort);
    the two rank windows run INSIDE .limit(10) frames (10 rows --
    SCALE.md global-window ledger). The IVM path's joins touch
    |candidates| rows, not the corpus."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("CAST(ts_ns div 1000 div 86400000000 AS BIGINT)").alias("day"),
    ).localCheckpoint(eager=False)  # base/delta/full aggregates share it
    b = e.agg(F.expr("CAST(MAX(day) - 2 AS BIGINT)").alias("sd"))
    eb = e.crossJoin(F.broadcast(b))
    base_state = (
        eb.where(F.col("day") <= F.col("sd"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)  # the materialized state table
    )
    delta = (
        eb.where(F.col("day") > F.col("sd"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)  # candidates + ivm merge share it
    )
    old_top = (
        base_state.orderBy(F.col("cnt").desc(), F.col("user_id").asc())
        .limit(10)
        .select("user_id")
    )
    cand = old_top.unionByName(delta.select("user_id")).distinct()
    ivm = (
        cand.join(base_state.withColumnRenamed("cnt", "bc"), "user_id", "left")
        .join(delta.withColumnRenamed("cnt", "dc"), "user_id", "left")
        .select(
            "user_id",
            F.expr("CAST(COALESCE(bc, 0) + COALESCE(dc, 0) AS BIGINT)").alias("cnt"),
        )
        .localCheckpoint(eager=False)  # top-10 + candidate count share it
    )
    w10 = Window.orderBy(F.col("cnt").desc(), F.col("user_id").asc())
    ivm_top = (
        ivm.orderBy(F.col("cnt").desc(), F.col("user_id").asc())
        .limit(10)
        .withColumn("rnk", F.row_number().over(w10))
    )
    full_cnt = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    ).localCheckpoint(eager=False)  # top-10 + user count share it
    full_top = (
        full_cnt.orderBy(F.col("cnt").desc(), F.col("user_id").asc())
        .limit(10)
        .withColumn("rnk", F.row_number().over(w10))
    )
    sizes = (
        cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
        .crossJoin(
            full_cnt.agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        )
    )
    return (
        ivm_top.select(
            "rnk",
            F.col("user_id").alias("ivm_user"),
            F.col("cnt").alias("ivm_cnt"),
        )
        .join(
            full_top.select(
                "rnk",
                F.col("user_id").alias("full_user"),
                F.col("cnt").alias("full_cnt"),
            ),
            "rnk",
        )
        .crossJoin(F.broadcast(sizes))
        .select(
            "rnk",
            "ivm_user",
            "ivm_cnt",
            "full_user",
            "full_cnt",
            F.when(
                (F.col("ivm_user") == F.col("full_user"))
                & (F.col("ivm_cnt") == F.col("full_cnt")),
                1,
            )
            .otherwise(0)
            .alias("agree"),
            "n_candidates",
            "n_users",
            F.expr("CAST(n_candidates * 10000 div n_users AS BIGINT)").alias(
                "cand_share_bps"
            ),
        )
        .orderBy("rnk")
    )


@_register(
    "u33_mor_cow_planner",
    f"""
    WITH o AS (
      SELECT o_orderkey AS k,
             ({KNUTH_HASH32_SQL.format(key='o_orderkey')}) % 1000 AS h
      FROM orders
    ),
    b AS (SELECT MAX(k) + 1 AS mk, CAST(COUNT(*) AS BIGINT) AS n FROM o),
    f AS (
      SELECT CAST(o.k * 64 // b.mk AS BIGINT) AS file_id, o.h
      FROM o CROSS JOIN b
    ),
    pf AS (
      SELECT file_id,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN h < 1 THEN 1 ELSE 0 END) AS BIGINT) AS u1,
             CAST(SUM(CASE WHEN h < 10 THEN 1 ELSE 0 END) AS BIGINT) AS u10,
             CAST(SUM(CASE WHEN h < 100 THEN 1 ELSE 0 END) AS BIGINT) AS u100
      FROM f GROUP BY 1
    ),
    g AS (
      SELECT CAST(s AS BIGINT) AS share_permille
      FROM (VALUES (1), (10), (100)) AS t(s)
    ),
    w AS (
      SELECT g.share_permille,
             CAST(SUM(CASE g.share_permille WHEN 1 THEN pf.u1
                      WHEN 10 THEN pf.u10 ELSE pf.u100 END) AS BIGINT)
               AS n_updates,
             CAST(SUM(CASE WHEN (CASE g.share_permille WHEN 1 THEN pf.u1
                                 WHEN 10 THEN pf.u10 ELSE pf.u100 END) > 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS files_touched,
             CAST(SUM(CASE WHEN (CASE g.share_permille WHEN 1 THEN pf.u1
                                 WHEN 10 THEN pf.u10 ELSE pf.u100 END) > 0
                           THEN pf.n_rows ELSE 0 END) AS BIGINT)
               AS touched_rows
      FROM pf CROSS JOIN g
      GROUP BY g.share_permille
    )
    SELECT w.share_permille, s.strategy, w.n_updates, w.files_touched,
           CASE s.strategy WHEN 'copy_on_write' THEN w.touched_rows
                ELSE w.n_updates END AS rows_written,
           CAST(CASE s.strategy WHEN 'copy_on_write' THEN w.touched_rows
                     ELSE w.n_updates END * 10000
                // greatest(w.n_updates, 1) AS BIGINT) AS write_amp_bps,
           CASE s.strategy WHEN 'copy_on_write' THEN b.n
                ELSE b.n + w.n_updates END AS read_rows,
           CAST(CASE s.strategy WHEN 'copy_on_write' THEN b.n
                     ELSE b.n + w.n_updates END * 10000
                // b.n AS BIGINT) AS read_amp_bps
    FROM w
    CROSS JOIN (SELECT UNNEST(['copy_on_write', 'merge_on_read'])
                AS strategy) s
    CROSS JOIN b
    ORDER BY w.share_permille, s.strategy
    """,
)
def u33_mor_cow_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write vs merge-on-read cost planner -- the central
    lakehouse table-format trade (Iceberg/Delta/Hudi), priced from
    MEASURED update locality rather than assumed constants: orders
    live in 64 value-range-clustered files, a deterministic
    hash-sampled update workload at 0.1 / 1 / 10 percent touches
    some file set, and the planner reads off what each strategy
    actually costs. COW rewrites every touched FILE (write_amp_bps =
    touched rows per updated row -- at 0.1 % updates nearly every
    update sits alone in its file, so amplification approaches the
    file size; at 10 % the files are shared and amplification
    collapses), while MOR writes only the delta (amp 10000 = 1x)
    but every reader pays base+delta merge rows (read_amp_bps).
    The crossover the numbers expose IS the policy: update-sparse
    tables want MOR, update-dense want COW -- beside u21's
    compaction and u28's expiry this completes the write-path
    planning tier.

    Scale shape: ONE pass over orders builds the 64-row per-file
    profile (three conditional sums -- the workload grid never
    rescans the fact); everything downstream is 64-row x 3-share x
    2-strategy literal algebra against a 1-row total broadcast."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        (knuth_hash32(F.col("o_orderkey")) % 1000).alias("h"),
    )
    b = o.agg(
        (F.max("k") + 1).alias("mk"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    pf = (
        o.crossJoin(F.broadcast(b.select("mk")))
        .select(F.expr("CAST(k * 64 div mk AS BIGINT)").alias("file_id"), "h")
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.when(F.col("h") < 1, 1).otherwise(0)).cast("bigint").alias("u1"),
            F.sum(F.when(F.col("h") < 10, 1).otherwise(0)).cast("bigint").alias("u10"),
            F.sum(F.when(F.col("h") < 100, 1).otherwise(0)).cast("bigint").alias("u100"),
        )
    )
    g = local_frame(spark, [(1,), (10,), (100,)], "share_permille: bigint")
    upd = F.expr(
        "CASE share_permille WHEN 1 THEN u1 WHEN 10 THEN u10 ELSE u100 END"
    )
    w = (
        pf.crossJoin(F.broadcast(g))
        .groupBy("share_permille")
        .agg(
            F.sum(upd).cast("bigint").alias("n_updates"),
            F.sum(F.when(upd > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("files_touched"),
            F.sum(F.when(upd > 0, F.col("n_rows")).otherwise(0))
            .cast("bigint")
            .alias("touched_rows"),
        )
    )
    strat = local_frame(
        spark, [("copy_on_write",), ("merge_on_read",)], "strategy: string"
    )
    return (
        w.crossJoin(F.broadcast(strat))
        .crossJoin(F.broadcast(b.select("n")))
        .select(
            "share_permille",
            "strategy",
            "n_updates",
            "files_touched",
            F.expr(
                "CASE strategy WHEN 'copy_on_write' THEN touched_rows"
                " ELSE n_updates END"
            ).alias("rows_written"),
            F.expr(
                "CAST(CASE strategy WHEN 'copy_on_write' THEN touched_rows"
                " ELSE n_updates END * 10000"
                " div greatest(n_updates, 1) AS BIGINT)"
            ).alias("write_amp_bps"),
            F.expr(
                "CASE strategy WHEN 'copy_on_write' THEN n"
                " ELSE n + n_updates END"
            ).alias("read_rows"),
            F.expr(
                "CAST(CASE strategy WHEN 'copy_on_write' THEN n"
                " ELSE n + n_updates END * 10000 div n AS BIGINT)"
            ).alias("read_amp_bps"),
        )
        .orderBy("share_permille", "strategy")
    )


@_register(
    "u34_partition_evolution",
    """
    WITH o AS (
      SELECT CAST(date_diff('day', DATE '1970-01-01',
                            CAST(o_orderdate AS DATE)) AS BIGINT) AS d
      FROM orders
    ),
    b AS (
      SELECT MIN(d) AS dmin,
             CAST(MIN(d) + (MAX(d) - MIN(d)) * 8 // 10 AS BIGINT) AS c,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM o
    ),
    k AS (
      SELECT o.d, o.d // 30 AS mon, o.d // 7 AS wk,
             CASE WHEN o.d >= b.c THEN 1 ELSE 0 END AS post,
             CASE WHEN o.d >= b.c - 45 AND o.d < b.c + 45
                  THEN 1 ELSE 0 END AS in_q
      FROM o CROSS JOIN b
    ),
    parts AS (
      SELECT
        (SELECT COUNT(DISTINCT wk) FROM k) AS wk_total,
        (SELECT COUNT(DISTINCT mon) FROM k WHERE post = 0) AS mon_pre,
        (SELECT COUNT(DISTINCT wk) FROM k WHERE post = 1) AS wk_post,
        (SELECT COUNT(DISTINCT wk) FROM k WHERE in_q = 1) AS wk_q,
        (SELECT COUNT(DISTINCT mon) FROM k WHERE in_q = 1 AND post = 0)
          AS mon_q_pre,
        (SELECT COUNT(DISTINCT wk) FROM k WHERE in_q = 1 AND post = 1)
          AS wk_q_post,
        (SELECT COUNT(*) FROM k WHERE post = 0) AS rows_pre,
        (SELECT COUNT(*) FROM k WHERE in_q = 1) AS rows_q
    )
    SELECT s.strategy,
           CAST(CASE s.strategy WHEN 'a_rewrite_all' THEN b.n
                ELSE 0 END AS BIGINT) AS rows_rewritten,
           CAST(CASE s.strategy WHEN 'a_rewrite_all' THEN p.wk_total
                ELSE p.mon_pre + p.wk_post END AS BIGINT)
             AS partitions_total,
           CAST(CASE s.strategy WHEN 'a_rewrite_all' THEN p.wk_q
                ELSE p.mon_q_pre + p.wk_q_post END AS BIGINT)
             AS partitions_scanned_q,
           CAST(p.rows_q AS BIGINT) AS rows_matching_q,
           CAST(CASE s.strategy WHEN 'a_rewrite_all' THEN p.wk_q
                ELSE p.mon_q_pre + p.wk_q_post END * 10000
                // (CASE s.strategy WHEN 'a_rewrite_all' THEN p.wk_total
                    ELSE p.mon_pre + p.wk_post END) AS BIGINT)
             AS scan_share_bps
    FROM (SELECT UNNEST(['a_rewrite_all', 'b_evolve_spec']) AS strategy) s
    CROSS JOIN parts p CROSS JOIN b
    ORDER BY s.strategy
    """,
)
def u34_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution vs full rewrite -- the Iceberg-style
    question 'we want weekly partitions now; do we rewrite history?':
    the table is monthly-partitioned, the spec changes to WEEKLY at a
    data-driven cutover (the 80 % date point), and the planner
    measures both paths. a_rewrite_all rewrites every row into weekly
    partitions (rows_rewritten = |table|) and buys uniform weekly
    pruning; b_evolve_spec rewrites NOTHING (history keeps the
    monthly spec, new data lands weekly -- exactly Iceberg partition
    evolution) at the price of a SPLIT scan plan: a 90-day window
    straddling the cutover reads monthly partitions on the old side
    + weekly on the new. partitions_scanned_q / scan_share_bps price
    that split against the rewrite's uniform pruning; epoch-day
    integer keys (d div 30 / d div 7) keep both dialects
    calendar-function-free (the t53 discipline).

    Scale shape: one narrow date projection; every aggregate is a
    map-combined distinct over the bounded partition-key dimension;
    the report is literal algebra on a 1-row stats frame -- at 100 TB
    this query reads table METADATA, and here it derives the same
    numbers from the data once."""
    o = load_table(spark, sf_dir, "orders").select(
        F.expr(
            "CAST(datediff(to_date(o_orderdate), DATE'1970-01-01') AS BIGINT)"
        ).alias("d")
    )
    b = o.agg(
        F.min("d").alias("dmin"),
        F.expr("CAST(MIN(d) + (MAX(d) - MIN(d)) * 8 div 10 AS BIGINT)").alias("c"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    k = o.crossJoin(F.broadcast(b)).select(
        "d",
        F.expr("d div 30").alias("mon"),
        F.expr("d div 7").alias("wk"),
        F.expr("CASE WHEN d >= c THEN 1 ELSE 0 END").alias("post"),
        F.expr(
            "CASE WHEN d >= c - 45 AND d < c + 45 THEN 1 ELSE 0 END"
        ).alias("in_q"),
    ).localCheckpoint(eager=False)  # the eight partition-stat branches share it
    parts = k.agg(
        F.countDistinct("wk").cast("bigint").alias("wk_total"),
        F.countDistinct(F.when(F.col("post") == 0, F.col("mon"))).cast("bigint").alias("mon_pre"),
        F.countDistinct(F.when(F.col("post") == 1, F.col("wk"))).cast("bigint").alias("wk_post"),
        F.countDistinct(F.when(F.col("in_q") == 1, F.col("wk"))).cast("bigint").alias("wk_q"),
        F.countDistinct(
            F.when((F.col("in_q") == 1) & (F.col("post") == 0), F.col("mon"))
        ).cast("bigint").alias("mon_q_pre"),
        F.countDistinct(
            F.when((F.col("in_q") == 1) & (F.col("post") == 1), F.col("wk"))
        ).cast("bigint").alias("wk_q_post"),
        F.sum(F.when(F.col("post") == 0, 1).otherwise(0)).cast("bigint").alias("rows_pre"),
        F.sum("in_q").cast("bigint").alias("rows_q"),
    )
    strat = local_frame(
        spark, [("a_rewrite_all",), ("b_evolve_spec",)], "strategy: string"
    )
    return (
        strat.crossJoin(F.broadcast(parts))
        .crossJoin(F.broadcast(b.select("n")))
        .select(
            "strategy",
            F.expr(
                "CAST(CASE strategy WHEN 'a_rewrite_all' THEN n"
                " ELSE 0 END AS BIGINT)"
            ).alias("rows_rewritten"),
            F.expr(
                "CAST(CASE strategy WHEN 'a_rewrite_all' THEN wk_total"
                " ELSE mon_pre + wk_post END AS BIGINT)"
            ).alias("partitions_total"),
            F.expr(
                "CAST(CASE strategy WHEN 'a_rewrite_all' THEN wk_q"
                " ELSE mon_q_pre + wk_q_post END AS BIGINT)"
            ).alias("partitions_scanned_q"),
            F.col("rows_q").alias("rows_matching_q"),
            F.expr(
                "CAST(CASE strategy WHEN 'a_rewrite_all' THEN wk_q"
                " ELSE mon_q_pre + wk_q_post END * 10000"
                " div (CASE strategy WHEN 'a_rewrite_all' THEN wk_total"
                " ELSE mon_pre + wk_post END) AS BIGINT)"
            ).alias("scan_share_bps"),
        )
        .orderBy("strategy")
    )


_U35_TABLES = (
    "lineitem",
    "orders",
    "events",
    "documents",
    "embeddings",
    "customer",
    "part",
    "supplier",
)

_U35_SQL = "\n    UNION ALL\n".join(
    f"""    SELECT '{t}' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(GREATEST(1, ((COUNT(*) + 499999) // 500000 + 31) // 32) * 32
                AS BIGINT) AS parts_32,
           CAST(GREATEST(1, ((COUNT(*) + 499999) // 500000 + 31) // 32)
                AS BIGINT) AS waves_32,
           CAST(COUNT(*) // (GREATEST(1, ((COUNT(*) + 499999) // 500000 + 31)
                // 32) * 32) AS BIGINT) AS rows_per_part,
           CAST(CASE WHEN COUNT(*) // (GREATEST(1, ((COUNT(*) + 499999)
                // 500000 + 31) // 32) * 32) <= 500000
                THEN 1 ELSE 0 END AS INT) AS under_target
    FROM {t}"""
    for t in _U35_TABLES
)


@_register(
    "u35_shuffle_sizing_plan",
    f"""
    SELECT * FROM (
{_U35_SQL}
    ) ORDER BY table_name
    """,
)
def u35_shuffle_sizing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE shuffle-partition sizing rule (SCALE.md r12 /
    plans/sizing.py) as an oracle-checked PLANNER QUERY: per fixture
    table, the partition count a 32-core deployment should start its
    reduce stages at — enough that the table's widest shuffle stays
    under 500k rows/partition (the sf10-heaps spill calibration:
    60M-row lineitem at 32 partitions = 1.9M rows spilled, 69.9 s;
    at the derived 128 = 469k rows, 29.9 s), rounded UP to whole
    32-task waves so no slot idles, floored at one wave. Pure integer
    arithmetic on COUNT(*) — identical on both engines; the row count
    itself comes from a metadata-fast count-star scan on each table.

    Scale: 8 count-star aggregates (parquet footer counts at scan
    level), a constant-width union, no shuffle of data rows at all —
    the planner costs nothing at any fleet size, which is the point:
    derive the setting BEFORE the expensive job runs."""
    dfs = []
    for t in _U35_TABLES:
        df = (
            load_table(spark, sf_dir, t)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
            .select(
                F.lit(t).alias("table_name"),
                "n_rows",
                F.expr(
                    "CAST(GREATEST(1, ((n_rows + 499999) div 500000 + 31)"
                    " div 32) * 32 AS BIGINT)"
                ).alias("parts_32"),
                F.expr(
                    "CAST(GREATEST(1, ((n_rows + 499999) div 500000 + 31)"
                    " div 32) AS BIGINT)"
                ).alias("waves_32"),
                F.expr(
                    "CAST(n_rows div (GREATEST(1, ((n_rows + 499999)"
                    " div 500000 + 31) div 32) * 32) AS BIGINT)"
                ).alias("rows_per_part"),
                F.expr(
                    "CAST(CASE WHEN n_rows div (GREATEST(1, ((n_rows"
                    " + 499999) div 500000 + 31) div 32) * 32) <= 500000"
                    " THEN 1 ELSE 0 END AS INT)"
                ).alias("under_target"),
            )
        )
        dfs.append(df)
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out.orderBy("table_name")
