"""The fluent Corpus API must reproduce the hand-written composite
pipelines EXACTLY — same stages, same survivor sets — and keep
provenance."""

from __future__ import annotations

from hi_csa_db_spark import queries as q
from hi_csa_db_spark.corpus import Corpus


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_chain_matches_pipe_training_prep_v3(spark, sf_dir):
    api = (
        Corpus.load(spark, sf_dir)
        .quality_filter()
        .dedup_near_keep_best()
        .resample_dsir()
        .audit_by("lang")
    )
    ref = q.queries()["pipe_training_prep_v3"](spark, sf_dir)
    assert sorted(api.columns) == sorted(ref.columns)
    assert _rows(api.select(*sorted(api.columns))) == _rows(
        ref.select(*sorted(ref.columns))
    )


def test_dedup_exact_keeps_one_per_distinct_text(spark, sf_dir):
    from hi_csa_db_spark.catalog import load_table

    kept = Corpus.load(spark, sf_dir).dedup_exact().df()
    expected = (
        load_table(spark, sf_dir, "documents").select("text").distinct().count()
    )
    assert kept.count() == expected
    assert kept.select("doc_id").distinct().count() == expected


def test_provenance_records_stages(spark, sf_dir):
    c = Corpus.load(spark, sf_dir).rule_filter().dedup_exact()
    assert c.provenance() == ["rule_filter[x12]", "dedup_exact[d1]"]
    # the chain is lazy: building it must not have triggered any jobs
    assert c.df().columns[0] == "doc_id"


def test_stages_compose_monotonically(spark, sf_dir):
    base = Corpus.load(spark, sf_dir)
    n0 = base.df().count()
    c1 = base.quality_filter()
    n1 = c1.df().count()
    n2 = c1.dedup_near_keep_best().df().count()
    assert n0 >= n1 >= n2
    assert n2 > 0


def test_corpus_perplexity_bucket_and_ffd_pack(spark, sf_dir):
    from hi_csa_db_spark import queries as q
    from hi_csa_db_spark.corpus import Corpus

    c = Corpus.load(spark, sf_dir).keep_perplexity_buckets(("head",))
    kept = {r.doc_id for r in c.df().select("doc_id").collect()}
    want = {
        r.doc_id
        for r in q.queries()["x42_perplexity_buckets"](spark, sf_dir)
        .filter("bucket = 'head'")
        .collect()
    }
    assert kept == want and kept
    packed = c.pack_ffd(budget=512)
    rows = packed.collect()
    assert {r.doc_id for r in rows} == kept
    fills = {}
    for r in rows:
        fills.setdefault((r.source, r.bin_id), []).append(r.n_tokens)
    for sizes in fills.values():
        assert sum(sizes) <= 512 or len(sizes) == 1
    assert "keep_perplexity_buckets('head',)[x42]" in c.provenance()


def test_gate_quantile_matches_pipe_v7_unique_counts(spark, sf_dir):
    """gate_quantile(400) + dedup_exact reproduces pipe_v7's per-lang
    unique-survivor counts (the composite's n_unique column)."""
    api = (
        Corpus.load(spark, sf_dir)
        .gate_quantile(keep_permille=400)
        .dedup_exact()
        .df()
        .groupBy("lang")
        .count()
    )
    ref = q.queries()["pipe_training_prep_v7"](spark, sf_dir).select("lang", "n_unique")
    got = {r["lang"]: r["count"] for r in api.collect()}
    want = {r["lang"]: r["n_unique"] for r in ref.collect()}
    assert got == want


def test_gate_quantile_provenance_and_monotonicity(spark, sf_dir):
    c = Corpus.load(spark, sf_dir).gate_quantile()
    assert c.provenance() == ["gate_quantile[400|x26]"]
    n0 = Corpus.load(spark, sf_dir).df().count()
    n1 = c.df().count()
    # top-40% per slice: strictly fewer rows, never empty
    assert 0 < n1 < n0
    # tighter gate keeps fewer
    n_tight = Corpus.load(spark, sf_dir).gate_quantile(100).df().count()
    assert n_tight <= n1


def test_decontaminate_matches_x80_kept_counts(spark, sf_dir):
    """decontaminate() keeps exactly x80's per-source n_kept."""
    api = (
        Corpus.load(spark, sf_dir)
        .decontaminate()
        .df()
        .groupBy("source")
        .count()
    )
    ref = q.queries()["x80_eval_decontam"](spark, sf_dir).select("source", "n_kept")
    got = {r["source"]: r["count"] for r in api.collect()}
    want = {r["source"]: r["n_kept"] for r in ref.collect()}
    # sources whose every doc was removed don't appear in the API frame
    assert got == {s: n for s, n in want.items() if n > 0}
    assert "decontaminate[x80]" in Corpus.load(
        spark, sf_dir
    ).decontaminate().provenance()


def test_cluster_safe_splits_match_x81_audit(spark, sf_dir):
    """assign_splits_cluster_safe() reproduces x81's per-split doc
    counts, and near-dup cluster members share one split."""
    c = Corpus.load(spark, sf_dir).assign_splits_cluster_safe()
    api = {r["split"]: r["count"] for r in c.df().groupBy("split").count().collect()}
    ref = {
        r["split"]: r["n_docs"]
        for r in q.queries()["x81_cluster_safe_split"](spark, sf_dir).collect()
    }
    assert api == ref
    # structural leak-freedom: every verified near-dup pair agrees
    from hi_csa_db_spark.operators import dedup
    from pyspark.sql import functions as F

    docs = c.df().select("doc_id", "split")
    pairs = dedup.minhash_lsh_dedup(
        Corpus.load(spark, sf_dir).df(), n=3, num_hashes=16, bands=8,
        threshold=0.05,
    )
    leaked = (
        pairs.join(
            docs.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa")),
            "id_a",
        )
        .join(
            docs.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb")),
            "id_b",
        )
        .filter(F.col("sa") != F.col("sb"))
        .count()
    )
    assert leaked == 0


def test_profile_matches_column_profile_on_load(spark, sf_dir):
    """Corpus.profile() on a freshly loaded corpus equals the direct
    expectations.column_profile over the raw documents table, and
    reflects gates: after quality_filter the n_rows shrink while the
    column set is preserved."""
    from pyspark.sql import functions as F

    from hi_csa_db_spark.corpus import Corpus
    from hi_csa_db_spark.catalog import load_table
    from hi_csa_db_spark.operators.expectations import column_profile

    c = Corpus.load(spark, sf_dir)
    got = {r["column"]: r for r in c.profile().collect()}
    docs = load_table(spark, sf_dir, "documents")
    cols = [(n, F.col(n), lambda x: x.cast("string")) for n, _ in docs.dtypes]
    want = {r["column"]: r for r in column_profile(docs, cols).collect()}
    assert set(got) == set(want)
    for k in want:
        assert tuple(got[k]) == tuple(want[k]), k

    gated = Corpus.load(spark, sf_dir).quality_filter()
    prof = {r["column"]: r for r in gated.profile().collect()}
    assert set(prof) >= set(want)  # gate may add derived columns
    n_before = want["doc_id"]["n_rows"]
    n_after = prof["doc_id"]["n_rows"]
    assert 0 < n_after <= n_before
