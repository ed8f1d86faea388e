"""The reference pipeline, end-to-end (SURVEY.md section 3 E3).

scrape -> sectionize -> explode links -> absolutize -> rename ->
classify policy -> lookup-join mitigation -> project support ->
stop-gap updates -> union streams -> filter -> publish

One lazy Catalyst plan over the ordered element table; the only
imperative state in the reference (the h3/h4 sectionizer loop,
hi-csa-db.Rmd:178-212) is the forward-fill window in
operators/sectionize.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hi_csa_db_spark.functions.text import strip_brackets
from hi_csa_db_spark.operators.classify import keyword_classify
from hi_csa_db_spark.operators.merge import union_streams
from hi_csa_db_spark.operators.ordered import first_row_per_key, positional_update
from hi_csa_db_spark.operators.sectionize import explode_links, sectionize

BASE_URL = "https://www.nrcs.example.org"


def technical_stream(page_elements: DataFrame) -> DataFrame:
    """NRCS scrape stream: sectionize + link explode + rename
    (hi-csa-db.Rmd:141-283)."""
    sections = sectionize(page_elements)
    flat = explode_links(sections, BASE_URL)
    return flat.select(
        F.col("mitigation").alias("Mitigation"),
        F.col("practice").alias("Practice"),
        F.col("description").alias("Description"),
        F.col("resource").alias("Resource"),
    )


def policy_stream(policy_sheet: DataFrame, keywords: DataFrame, technical: DataFrame) -> DataFrame:
    """Policy stream: multi-label keyword classify (detect.csa) +
    description synthesis + practice->mitigation lookup join
    (hi-csa-db.Rmd:488-544)."""
    # the sheet's url is its natural unique key; never
    # monotonically_increasing_id here — it is not stable across the
    # two evaluations of this plan (labels side + join side).
    sheet = policy_sheet.withColumn("__id", F.col("url"))
    labels = keyword_classify(
        sheet, keywords, id_col="__id", text_col="csa_goals",
        keyword_col="keyword", label_col="practice",
    )
    # build side: first (Practice -> Mitigation) pair per practice in
    # deterministic order (the reference's !duplicated(), Rmd:511).
    # Description breaks ties only to keep it live: ties on Mitigation
    # give the same Mitigation, but with the column read here this
    # branch prunes ``technical`` to the same columns as assemble's
    # union, so the two share one exchange below and every page is
    # fetched and parsed once per publish, not once per consumer.
    prac_miti = first_row_per_key(
        technical.filter(F.col("Practice").isNotNull()).select(
            "Practice", "Mitigation", "Description"
        ),
        keys=["Practice"],
        order_by=["Mitigation", "Description"],
    ).select("Practice", "Mitigation")
    out = (
        sheet.join(labels, "__id", "left")
        .withColumn(
            "Description",
            strip_brackets(
                F.concat_ws(
                    " — ", F.col("guiding_policy"), F.col("description"),
                    F.col("verbiage_location"),
                )
            ),
        )
        .select(
            F.col("practice").alias("Practice"),
            F.col("Description"),
            F.col("url").alias("Resource"),
        )
        .join(
            F.broadcast(prac_miti.withColumnRenamed("Mitigation", "__mit")),
            "Practice",
            "left",
        )
        .withColumnRenamed("__mit", "Mitigation")
    )
    return out.select("Mitigation", "Practice", "Description", "Resource")


def support_stream(support_sheet: DataFrame) -> DataFrame:
    """Support stream: rename + not-null filter + project
    (hi-csa-db.Rmd:552-562). Accepts the resource column under the
    sheet's raw display name or its normalized slug (sources/sheets)."""
    for raw in ("Resources (Links)", "resources_links"):
        if raw in support_sheet.columns:
            support_sheet = support_sheet.withColumnRenamed(raw, "resource")
    return (
        support_sheet
        .filter(F.col("description").isNotNull())
        .select(
            F.col("mitigation").alias("Mitigation"),
            F.col("practice").alias("Practice"),
            F.col("description").alias("Description"),
            F.col("resource").alias("Resource"),
        )
    )


def assemble(
    technical: DataFrame, policy: DataFrame, support: DataFrame
) -> DataFrame:
    """Assembly: stop-gap conditional/positional updates, typed union,
    NA-mitigation filter (hi-csa-db.Rmd:568-593)."""
    energy_fixes = [
        "Energy Efficient Agricultural Operation",
        "Energy Efficient Building Envelope",
        "Energy Efficient Lighting System",
        "Farm Fuel and Energy Conservation",
        "Combustion System Improvement",
    ]
    technical = positional_update(
        technical.withColumn(
            "Practice",
            F.when(F.col("Practice") == "", None).otherwise(F.col("Practice")),
        ),
        match=F.col("Mitigation") == "Energy",
        order_by=["Description", "Resource"],
        column="Practice",
        values=energy_fixes,
    )
    merged = union_streams(
        {"Technical": technical, "Policy": policy, "Support": support},
        type_col="Type",
    )
    return merged.filter(F.col("Mitigation").isNotNull()).select(
        "Type", "Mitigation", "Practice", "Description", "Resource"
    )


def run_pipeline(
    page_elements: DataFrame,
    policy_sheet: DataFrame,
    support_sheet: DataFrame,
    keywords: DataFrame,
) -> DataFrame:
    technical = technical_stream(page_elements)
    policy = policy_stream(policy_sheet, keywords, technical)
    support = support_stream(support_sheet)
    return assemble(technical, policy, support)
