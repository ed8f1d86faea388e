"""The flagship end-to-end query (SURVEY.md section 7 step 1).

Re-expresses the reference's analytical core — "which resources
support which mitigation/practice, by stream?" (hi-csa-db.Rmd:488-593)
— over the driver fixtures as one lazy Catalyst plan:

  classify (J2 token equi-join) -> typed-stream union (U2) ->
  broadcast lookup join (J1) -> not-null filter (P3) ->
  deterministic dedup (A3) -> orderBy + limit (W2/W3)

Pure built-ins, no UDF: the whole plan stays in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hi_csa_db_spark.catalog import load_tables, local_frame
from hi_csa_db_spark.functions.text import slugify
from hi_csa_db_spark.operators.classify import keyword_classify
from hi_csa_db_spark.operators.merge import union_streams
from hi_csa_db_spark.operators.ordered import first_row_per_key

_PRACTICE_KEYWORDS = [
    ("join", "Join Tuning"),
    ("scan", "Scan Planning"),
    ("stream", "Stream Processing"),
    ("vector", "Vectorization"),
    ("window", "Windowing"),
    ("hash", "Hash Strategies"),
    ("sort", "Sort Strategies"),
]


def flagship_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)

    # Policy stream: free-text documents classified against the keyword
    # dictionary (the reference's detect.csa over the policy sheet).
    kw = local_frame(spark, _PRACTICE_KEYWORDS, "keyword string, label string")
    labels = keyword_classify(t["documents"], kw)
    policy = (
        t["documents"]
        .join(labels, "doc_id")
        .select(
            F.col("label").alias("practice"),
            F.concat(F.lit("lang:"), F.col("lang")).alias("mitigation"),
            F.substring("text", 1, 80).alias("description"),
            F.concat(F.lit("https://docs.example.org/"), F.col("source"), F.lit("/"), F.col("doc_id")).alias("resource"),
        )
    )

    # Support stream: the part catalog projected to the output shape
    # (the reference's support-sheet projection, hi-csa-db.Rmd:554-562).
    support = t["part"].select(
        F.col("p_type").alias("practice"),
        F.col("p_brand").alias("mitigation"),
        F.col("p_name").alias("description"),
        F.concat(F.lit("https://parts.example.org/"), slugify(F.col("p_name"))).alias(
            "resource"
        ),
    )

    # Technical stream: suppliers lookup-joined through nation (J1
    # broadcast) for a region-qualified mitigation label.
    technical = (
        t["supplier"]
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.lit(None).cast("string").alias("practice"),
            F.col("n_name").alias("mitigation"),
            F.col("s_name").alias("description"),
            F.concat(F.lit("https://suppliers.example.org/"), F.col("s_suppkey")).alias(
                "resource"
            ),
        )
    )

    merged = union_streams(
        {"Policy": policy, "Support": support, "Technical": technical}, type_col="type"
    )
    # in-flight data-quality metrics (F.observe): row/null counts ride
    # the same job — no second scan; a QueryExecutionListener (or
    # df.attrs in tests) reads them post-action.
    merged = merged.observe(
        "flagship_quality",
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("mitigation").isNull()).alias("n_null_mitigation"),
        F.count_if(F.col("resource").isNull()).alias("n_null_resource"),
    )
    merged = merged.filter(F.col("mitigation").isNotNull())
    deduped = first_row_per_key(
        merged,
        keys=["type", "mitigation", "practice"],
        order_by=["description", "resource"],
    )
    return deduped.orderBy("type", "mitigation", "practice").limit(500)
