"""Deterministic synthesis of the reference-shaped Group B fixtures
(FIXTURES.md B5-B8) used by the pipeline replay tests.

Small, seeded, pure-Python generation (these model the reference's
~100-page crawl, not the 100 TB fixtures — those are Group A).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession

from hi_csa_db_spark.catalog import local_frame

# The reference's 21-row keyword -> practice dictionary
# (hi-csa-db.Rmd:497-509), verbatim.
PRACTICE_KEYWORDS = [
    ("Pollinators", "Support Pollinators"),
    ("Habitat", "Restore Habitat"),
    ("Cover", "Conservation Cover"),
    ("Cover Crop", "Cover Crop"),
    ("Rotation", "Conservation Crop Rotation"),
    ("Tillage", "Reduced Till"),
    ("Mulch", "Mulching"),
    ("Compost", "Soil Carbon Amendment"),
    ("Nutrient", "Nutrient Management"),
    ("Manure", "Waste Storage Facility"),
    ("Grazing", "Prescribed Grazing"),
    ("Pasture", "Pasture and Hay Planting"),
    ("Buffer", "Riparian Herbaceous Cover"),
    ("Tree", "Tree/Shrub Establishment"),
    ("Forest", "Forest Stand Improvement"),
    ("Agroforestry", "Alley Cropping"),
    ("Windbreak", "Windbreak/Shelterbelt Establishment"),
    ("Energy", "Energy Efficient Building Envelope"),
    ("Irrigation", "Irrigation Water Management"),
    ("Water", "Irrigation Water Management"),
    ("Wetland", "Wetland Restoration"),
]

MITIGATIONS = [
    "Soil Health",
    "Nitrogen Management",
    "Livestock Partnership",
    "Agroforestry",
    "Energy",
    "Additional Resources: Climate-Smart Agriculture and Forestry",
]


def page_elements(spark: SparkSession, n_pages: int = 6, seed: int = 42) -> DataFrame:
    """B5: ordered h3/h4/p element stream with edge cases — p before any
    h3 (null context), h3 with p before any h4 (null practice), h4
    context resetting at each h3, 0..3 hrefs per paragraph."""
    rng = random.Random(seed)
    rows = []
    for pg in range(n_pages):
        url = f"https://www.example.org/page{pg}"
        order = 0

        def emit(tag, text, hrefs):
            nonlocal order
            rows.append((url, order, tag, text, hrefs))
            order += 1

        if pg % 3 == 0:
            emit("p", f"orphan paragraph on page {pg}", [])
        for h3_i in range(rng.randint(1, 3)):
            mit = MITIGATIONS[(pg + h3_i) % len(MITIGATIONS)]
            emit("h3", mit, [])
            if rng.random() < 0.5:
                emit("p", f"intro for {mit} (no practice yet)", ["/intro"])
            for h4_i in range(rng.randint(1, 3)):
                kw, practice = PRACTICE_KEYWORDS[
                    (pg * 7 + h3_i * 3 + h4_i) % len(PRACTICE_KEYWORDS)
                ]
                emit("h4", practice, [])
                for p_i in range(rng.randint(1, 2)):
                    hrefs = []
                    for l_i in range(rng.randint(0, 3)):
                        if rng.random() < 0.4:
                            hrefs.append(f"https://ext.example.com/{pg}/{l_i}")
                        else:
                            hrefs.append(f"/resources/{kw.lower()}-{l_i}.pdf")
                    emit(
                        "p",
                        f"{practice} guidance {p_i} mentions {kw} for {mit}",
                        hrefs,
                    )
    return local_frame(
        spark, rows, "url string, doc_order int, tag string, text string, hrefs array<string>"
    )


def _policy_rows(n_rows: int = 40, seed: int = 7) -> list[tuple]:
    rng = random.Random(seed)
    rows = []
    for i in range(n_rows):
        kws = rng.sample([k for k, _ in PRACTICE_KEYWORDS], rng.randint(0, 3))
        goals = f"Goal {i}: promote " + (
            " and ".join(f"{k.lower()} practices" for k in kws) if kws else "general resilience"
        ) + "; see appendix [3]."
        rows.append(
            (
                goals,
                f"Policy Act {i % 9}",
                f"Implements measure {i}",
                f"Section {i % 12}",
                f"https://policy.example.org/act{i % 9}#s{i}",
            )
        )
    return rows


def policy_sheet(spark: SparkSession, n_rows: int = 40, seed: int = 7) -> DataFrame:
    """B6: policy sheet with 0-3 keywords per free-text goal row."""
    return local_frame(
        spark, _policy_rows(n_rows, seed),
        "csa_goals string, guiding_policy string, description string, "
        "verbiage_location string, url string",
    )


def _support_rows(n_rows: int = 60, seed: int = 11) -> list[tuple]:
    rng = random.Random(seed)
    rows = []
    for i in range(n_rows):
        _, practice = PRACTICE_KEYWORDS[i % len(PRACTICE_KEYWORDS)]
        rows.append(
            (
                MITIGATIONS[i % len(MITIGATIONS)],
                practice if rng.random() > 0.1 else None,
                None if rng.random() < 0.1 else f"Support resource {i} for {practice}",
                f"https://support.example.org/r/{i}",
            )
        )
    return rows


def support_sheet(spark: SparkSession, n_rows: int = 60, seed: int = 11) -> DataFrame:
    """B8: support sheet; ~10% null descriptions; resource column
    arrives under the reference's raw name 'Resources (Links)'."""
    df = local_frame(
        spark, _support_rows(n_rows, seed),
        "mitigation string, practice string, description string, resource string",
    )
    return df.withColumnRenamed("resource", "Resources (Links)")


def _csv_lines(header: list[str], rows: list[tuple]) -> list[str]:
    """Serialize rows as the CSV lines a sheet export produces —
    display-cased headers, RFC-4180 quoting, empty cell for NULL."""
    import csv
    import io

    buf = io.StringIO()
    wr = csv.writer(buf, quoting=csv.QUOTE_MINIMAL, lineterminator="\n")
    wr.writerow(header)
    for r in rows:
        wr.writerow(["" if v is None else v for v in r])
    return buf.getvalue().splitlines()


def policy_sheet_export_lines(n_rows: int = 40, seed: int = 7) -> list[str]:
    """B6 as its raw CSV export: display headers, plus the drift the
    live sheet accumulated — an extra 'Notes' column the pipeline must
    drop, and 'Last Reviewed' it never asked for."""
    rows = [
        r + (f"note {i % 5}", "2024-01-01")
        for i, r in enumerate(_policy_rows(n_rows, seed))
    ]
    return _csv_lines(
        ["CSA Goals", "Guiding Policy", "Description",
         "Verbiage Location", "URL", "Notes", "Last Reviewed"],
        rows,
    )


def support_sheet_export_lines(n_rows: int = 60, seed: int = 11) -> list[str]:
    """B8 as its raw CSV export (headers as displayed in the sheet)."""
    return _csv_lines(
        ["Mitigation", "Practice", "Description", "Resources (Links)"],
        _support_rows(n_rows, seed),
    )


def practice_keywords(spark: SparkSession) -> DataFrame:
    """B7: the 21-row classifier dictionary, verbatim."""
    return local_frame(spark, PRACTICE_KEYWORDS, "keyword string, practice string")
