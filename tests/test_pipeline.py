"""Reference-pipeline replay on reference-shaped fixtures (FIXTURES.md
Group B): the golden-invariant tier of SURVEY.md section 5."""

import pytest
from pyspark.sql import functions as F

from hi_csa_db_spark.plans import fixtures, pipeline


@pytest.fixture(scope="module")
def db(spark):
    elements = fixtures.page_elements(spark)
    policy = fixtures.policy_sheet(spark)
    support = fixtures.support_sheet(spark)
    keywords = fixtures.practice_keywords(spark)
    return pipeline.run_pipeline(elements, policy, support, keywords).cache()


def test_output_schema(db):
    assert db.columns == ["Type", "Mitigation", "Practice", "Description", "Resource"]


def test_all_three_streams_present(db):
    types = {r.Type for r in db.select("Type").distinct().collect()}
    assert types == {"Technical", "Policy", "Support"}


def test_no_null_mitigation(db):
    assert db.filter(F.col("Mitigation").isNull()).count() == 0


def test_support_stream_has_no_null_descriptions(db):
    assert (
        db.filter((F.col("Type") == "Support") & F.col("Description").isNull()).count()
        == 0
    )


def test_technical_resources_absolutized(db):
    bad = db.filter(
        (F.col("Type") == "Technical")
        & F.col("Resource").isNotNull()
        & ~F.col("Resource").rlike("^https?://")
    )
    assert bad.count() == 0


def test_unmatched_policy_rows_dropped_by_na_mitigation_filter(spark, db):
    # the reference drops NA-Mitigation rows at the end
    # (hi-csa-db.Rmd:590): policy rows with no matched practice (hence
    # no mitigation lookup) must NOT appear in the published db.
    n_policy_out = db.filter(F.col("Type") == "Policy").count()
    assert n_policy_out > 0
    assert db.filter(
        (F.col("Type") == "Policy") & F.col("Mitigation").isNull()
    ).count() == 0


def _sort_key(t):
    return tuple((v is None, v) for v in t)


def test_pipeline_is_deterministic(spark, db):
    elements = fixtures.page_elements(spark)
    policy = fixtures.policy_sheet(spark)
    support = fixtures.support_sheet(spark)
    keywords = fixtures.practice_keywords(spark)
    again = pipeline.run_pipeline(elements, policy, support, keywords)
    assert sorted(map(tuple, db.collect()), key=_sort_key) == sorted(
        map(tuple, again.collect()), key=_sort_key
    )


def _site(n_leaves: int = 4) -> dict:
    """A home page linking ``n_leaves`` leaves, each with mitigation
    (h3) / practice (h4) / paragraph sections, one of them 'Energy'."""
    home = "https://s.org/"
    leaves = [f"{home}leaf{i}" for i in range(n_leaves)]
    site = {home: "".join(f'<p><a href="{u}">leaf</a></p>' for u in leaves)}
    for i, u in enumerate(leaves):
        mit = fixtures.MITIGATIONS[i % len(fixtures.MITIGATIONS)]
        kw, practice = fixtures.PRACTICE_KEYWORDS[i]
        site[u] = (
            f"<h3>{mit}</h3><h4>{practice}</h4>"
            f'<p>{practice} mentions {kw} <a href="/doc{i}.pdf">doc</a></p>'
            f"<h3>Energy</h3><h4></h4><p>energy note {i}</p>"
        )
    return site


def test_publish_fetches_each_page_once(spark, tmp_path):
    """One catalog.publish of the csa_db fetches and parses every page
    once: policy_stream's Practice->Mitigation lookup and assemble's
    union read one evaluation of the technical stream."""
    from hi_csa_db_spark import catalog
    from hi_csa_db_spark.sources import crawl, html

    site = _site()
    index, _ = crawl.crawl(spark, ["https://s.org/"], lambda u: site.get(u, ""), 1)
    n_pages = index.count()
    assert n_pages == len(site)

    calls = spark.sparkContext.accumulator(0)

    def fetcher(u):
        calls.add(1)
        return site.get(u, "")

    pages = crawl.fetch_pages(index.select("url"), fetcher)
    db = pipeline.run_pipeline(
        html.elements_from_pages(pages),
        fixtures.policy_sheet(spark),
        fixtures.support_sheet(spark),
        fixtures.practice_keywords(spark),
    )
    out = str(tmp_path / "csa_db")
    for _ in range(2):
        before = calls.value
        observed = catalog.publish(db, out, partition_by=["Type"], observe=True)
        assert calls.value - before == n_pages
    assert {r.Type for r in spark.read.parquet(out).select("Type").distinct().collect()} == {
        "Technical", "Policy", "Support"
    }
    assert observed["n_rows"] == spark.read.parquet(out).count()
