"""RDS interop: pure-Python reader/writer for R's serialization format
(R Internals section 1.8), plus the Spark data source. The gated tests
read the reference's ACTUAL artifacts and check the exact workload
numbers BASELINE.md measured from them — the strongest available proof
that a reference user's files load unchanged."""

import os

import pytest

from hi_csa_db_spark.sources import rds

REF_DATA = "/root/reference/data"


def test_writer_reader_roundtrip(tmp_path):
    names = ["s", "i", "d", "b"]
    cols = [
        ["a", None, "ü-umlaut", "d"],
        [1, 2, None, -4],
        [1.5, None, 3.25, -0.125],
        [True, False, None, True],
    ]
    path = str(tmp_path / "t.rds")
    rds.write_rds_data_frame(path, names, cols)
    obj = rds.read_rds(path)
    got_names, got_cols = rds.data_frame_columns(obj)
    assert got_names == names
    assert got_cols == cols


def test_roundtrip_uncompressed(tmp_path):
    path = str(tmp_path / "t.rds")
    rds.write_rds_data_frame(path, ["x"], [[1, 2, 3]], compress=False)
    _, cols = rds.data_frame_columns(rds.read_rds(path))
    assert cols == [[1, 2, 3]]


def test_spark_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", 1, 1.5), ("b", None, None)], "name string, n int, v double"
    )
    path = str(tmp_path / "t.rds")
    rds.spark_to_rds(df, path)
    back = rds.rds_to_spark(spark, path)
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


@pytest.mark.skipif(
    not os.path.exists(f"{REF_DATA}/hi-csa-db.rds"),
    reason="reference artifacts not present",
)
def test_reads_reference_published_table(spark):
    # hi-csa-db.Rmd:593 saveRDS(csa_db); BASELINE.md: 308 rows x 5
    # string cols, Type = Support 224 / Technical 44 / Policy 40
    df = rds.rds_to_spark(spark, f"{REF_DATA}/hi-csa-db.rds")
    assert df.columns == [
        "Type", "Mitigation", "Practice", "Description", "Resource"
    ]
    assert df.count() == 308
    counts = {r["Type"]: r["n"] for r in
              df.groupBy("Type").count().withColumnRenamed("count", "n").collect()}
    assert counts == {"Support": 224, "Technical": 44, "Policy": 40}


@pytest.mark.skipif(
    not os.path.exists(f"{REF_DATA}/nrcs.rds"),
    reason="reference artifacts not present",
)
def test_reads_reference_crawl_artifacts(spark):
    # hi-csa-db.Rmd:129/316/349/384 crawl caches; BASELINE.md numbers:
    # INDEX rows 109/99/145, NetwEdges 15109/13244/21366
    expected = {"nrcs": (109, 15109), "nifa": (99, 13244), "ams": (145, 21366)}
    for name, (n_pages, n_edges) in expected.items():
        obj = rds.read_rds(f"{REF_DATA}/{name}.rds")
        _, idx_cols = rds.data_frame_columns(rds.element(obj, "INDEX"))
        assert len(idx_cols[0]) == n_pages, name
        _, e_cols = rds.data_frame_columns(
            rds.element(obj, "network", "NetwEdges")
        )
        assert len(e_cols[0]) == n_edges, name


@pytest.mark.skipif(
    rds.RDSDataSource is None or not os.path.exists(f"{REF_DATA}/nrcs.rds"),
    reason="DataSource API or reference artifacts not present",
)
def test_rds_data_source_format(spark):
    try:
        spark.dataSource.register(rds.RDSDataSource)
    except Exception as e:  # already registered in this session
        if "already" not in str(e).lower():
            raise
    df = (
        spark.read.format("rds")
        .option("element", "network.NetwEdges")
        .load(f"{REF_DATA}/nrcs.rds")
    )
    assert df.columns == ["From", "To", "Weight", "Type"]
    assert df.count() == 15109


@pytest.mark.skipif(
    not os.path.exists(f"{REF_DATA}/nrcs.rds"),
    reason="reference artifacts not present",
)
def test_reference_crawl_data_through_link_pipeline(spark):
    """End-to-end on the reference's REAL crawl payloads: per-page
    href arrays (X4, ManyPerPattern at hi-csa-db.Rmd:115-117) exploded
    and absolutized (F5, Rmd:275-279) — the artifact a reference user
    has on disk flows through the same operators the fixtures test."""
    import pyspark.sql.functions as F

    from hi_csa_db_spark.functions.text import absolutize_url

    obj = rds.read_rds(f"{REF_DATA}/nrcs.rds")
    data = rds.element(obj, "DATA")
    entries = data.value if isinstance(data, rds.RObject) else data
    rows = []
    for e in entries:
        vals = e.value if isinstance(e, rds.RObject) else e
        pid = int(rds._strip(vals[0])[0])
        hrefs = [h for h in (rds._strip(vals[1]) or []) if h is not None]
        rows.append((pid, hrefs))
    df = spark.createDataFrame(rows, "page_id int, hrefs array<string>")
    links = df.select("page_id", F.explode("hrefs").alias("href")).withColumn(
        "abs_url", absolutize_url(F.col("href"), "https://www.nrcs.usda.gov")
    )
    n_links = links.count()
    # BASELINE.md: ~150-484 hrefs per page over 100+ pages
    assert n_links > 10_000
    assert links.filter(F.col("abs_url").rlike("^https?://")).count() == n_links
    # the per-page arrays survived intact: explode count == sum of sizes
    assert n_links == df.select(F.sum(F.size("hrefs"))).collect()[0][0]


# property: ANY frame of nullable typed columns survives the RDS
# round-trip bit-exactly (the format guarantees, not just the samples)
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_col = st.one_of(
    st.lists(st.one_of(st.none(), st.integers(-2**31 + 1, 2**31 - 1)),
             min_size=1, max_size=8),
    st.lists(st.one_of(st.none(), st.floats(allow_nan=False, width=64)),
             min_size=1, max_size=8),
    st.lists(st.one_of(st.none(), st.booleans()), min_size=1, max_size=8),
    st.lists(st.one_of(st.none(), st.text(max_size=12)),
             min_size=1, max_size=8),
)


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(_col, min_size=1, max_size=4), st.booleans())
def test_rds_roundtrip_property(tmp_path_factory, cols, compress):
    n = min(len(c) for c in cols)
    cols = [c[:n] for c in cols]
    names = [f"c{i}" for i in range(len(cols))]
    path = str(tmp_path_factory.mktemp("rds") / "t.rds")
    rds.write_rds_data_frame(path, names, cols, compress=compress)
    got_names, got_cols = rds.data_frame_columns(rds.read_rds(path))
    assert got_names == names
    assert got_cols == cols


@pytest.mark.skipif(
    not os.path.exists(f"{REF_DATA}/nrcs.rds"),
    reason="reference artifacts not present",
)
def test_crawl_or_cache_honors_reference_rds_cache(spark, tmp_path):
    """S2 interop: a cache_dir holding the reference's own RDS crawl
    cache is reused without any fetching (fetcher would raise)."""
    import shutil

    from hi_csa_db_spark.sources.crawl import crawl_or_cache

    cache = tmp_path / "cache"
    cache.mkdir()
    shutil.copy(f"{REF_DATA}/nrcs.rds", cache / "nrcs.rds")

    def no_fetch(url):
        raise AssertionError("cache hit must not fetch")

    index, edges = crawl_or_cache(
        spark, str(cache), seeds=["https://example.org"], fetcher=no_fetch
    )
    assert index.count() == 109  # BASELINE.md INDEX rows
    assert edges.count() == 15109  # BASELINE.md NetwEdges rows
    assert index.columns == ["url", "level"]
    assert edges.columns == ["src", "dst"]


@pytest.mark.skipif(
    not os.path.exists(f"{REF_DATA}/nrcs.rds"),
    reason="reference artifacts not present",
)
def test_reference_link_graph_through_graph_operators(spark, tmp_path):
    """The reference's REAL link graph (network$NetwEdges,
    hi-csa-db.Rmd:113-114) through our graph tier: degree conservation
    and component structure hold on the artifact, not just fixtures."""
    from hi_csa_db_spark.operators import graph
    from hi_csa_db_spark.sources.crawl import crawl_or_cache
    import shutil

    cache = tmp_path / "cache"
    cache.mkdir()
    shutil.copy(f"{REF_DATA}/nrcs.rds", cache / "nrcs.rds")
    _, edges = crawl_or_cache(spark, str(cache), seeds=[], fetcher=None)
    n_edges = edges.count()
    assert n_edges == 15109  # BASELINE.md
    deg = graph.degrees(edges)
    # every edge contributes exactly one out- and one in-degree
    import pyspark.sql.functions as F

    sums = deg.agg(
        F.sum("out_deg").alias("o"), F.sum("in_deg").alias("i")
    ).collect()[0]
    assert sums["o"] == n_edges and sums["i"] == n_edges
    # node universe matches the crawl's NetwIndex scale (1901 nodes,
    # BASELINE.md); isolated nodes don't appear in the edge list
    assert deg.count() <= 1901
    assert deg.count() > 1000
