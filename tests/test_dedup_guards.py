"""Scale-guard property tests for the hot-key quadratic paths
(round-1 verdict items 4-5): jaccard_pairs_hashed's document-frequency
cap, checked against the exact self-join, the length-banded
edit-distance join, and near-dup clustering."""

from pyspark.sql import functions as F

from hi_csa_db_spark.operators import dedup


def _assert_capped_matches_exact(docs, caps):
    """jaccard_pairs_hashed against the exact self-join reference:
    every capped pair is an exact pair with the same inter_cnt and
    jaccard, and every exact pair sharing a shingle with df <= cap is
    present."""
    sh = dedup.shingles(docs, n=3)
    arrs = dedup.shingle_arrays(docs, n=3)
    exact = {
        (r["id_a"], r["id_b"]): (r["inter_cnt"], r["jaccard"])
        for r in dedup.jaccard_pairs(sh).collect()
    }
    sets: dict = {}
    for r in sh.collect():
        sets.setdefault(r["doc_id"], set()).add(r["shingle"])
    dfreq = {r["shingle"]: r["count"] for r in sh.groupBy("shingle").count().collect()}
    for cap in caps:
        hashed = {
            (r["id_a"], r["id_b"]): (r["inter_cnt"], r["jaccard"])
            for r in dedup.jaccard_pairs_hashed(arrs, max_df=cap).collect()
        }
        for pair, got in hashed.items():
            assert exact.get(pair) == got, (cap, pair)
        for a, b in exact:
            if any(dfreq[s] <= cap for s in sets[a] & sets[b]):
                assert (a, b) in hashed, (cap, a, b)


def test_df_cap_keeps_jaccard_exact_over_full_sets(spark):
    # docs share one hot shingle (df=4 > cap) and pairwise rare ones;
    # candidates come only from rare shingles but the SCORE must still
    # count the hot shingle — full-set verify, not capped-set verify.
    rows = [
        (1, "common base phrase unique alpha one"),
        (2, "common base phrase unique alpha two"),
        (3, "common base phrase other beta one"),
        (4, "totally different words entirely here now"),
    ]
    _assert_capped_matches_exact(
        spark.createDataFrame(rows, ["doc_id", "text"]), (2, 3, 100)
    )


def test_candidate_rows_bounded_by_df_cap(spark):
    # the guard's contract: candidate pairs <= sum over kept shingles
    # of df^2 — a skewed corpus cannot blow past n_shingles * cap^2.
    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("shared shingle text plus word "), F.col("id").cast("string")).alias("text"),
    )
    sh = dedup.shingles(docs, n=3)
    arrs = dedup.shingle_arrays(docs, n=3)
    for cap in (2, 3, 100):
        kept = (
            sh.groupBy("shingle").count().filter(F.col("count") <= cap)
            .agg(F.sum(F.col("count") * F.col("count")))
            .collect()[0][0]
        ) or 0
        assert dedup.jaccard_pairs_hashed(arrs, max_df=cap).count() <= kept, cap
    _assert_capped_matches_exact(docs, (2, 3, 100))


def test_hashed_candidates_match_string_candidates(spark):
    # candidate generation runs over a 64-bit hashed inverted index;
    # on a hash-collision-free corpus (the fixtures were verified
    # collision-free at every SF) its pairs and scores are the exact
    # string self-join's, restricted to pairs sharing a rare shingle.
    rows = [
        (1, "common base phrase unique alpha one"),
        (2, "common base phrase unique alpha two"),
        (3, "common base phrase other beta one"),
        (4, "totally different words entirely here now"),
        (5, "common base phrase unique alpha one extra"),
    ]
    _assert_capped_matches_exact(
        spark.createDataFrame(rows, ["doc_id", "text"]), (2, 3, 100)
    )


def test_hashed_hot_shingle_corpus_emits_no_candidates(spark):
    # hashed twin of the df-cap guard: 60 identical docs, every
    # shingle hot, zero candidate pairs.
    docs = spark.range(60).select(
        F.col("id").alias("doc_id"), F.lit("alpha beta gamma").alias("text")
    )
    arrs = dedup.shingle_arrays(docs, n=3)
    assert dedup.jaccard_pairs_hashed(arrs, max_df=10).count() == 0


def test_hashed_hot_shingle_never_reaches_collect_set_in_plan(spark):
    # bounded-memory contract carries over: the LeftAnti join must sit
    # below the collect_set aggregate in the hashed operator too.
    rows = [(i, "hot hot hot hot filler unique%d word" % i) for i in range(30)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    arrs = dedup.shingle_arrays(docs, n=3)
    pairs = dedup.jaccard_pairs_hashed(arrs, max_df=5)
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftAnti" in plan
    assert "xxhash64" in plan


def test_edit_distance_pairs_equals_unblocked_join(spark):
    vals = [
        ("kitten",), ("sitting",), ("kitchen",), ("mitten",),
        ("a",), ("ab",), ("abcde",), ("abcdefghij",), ("zzzzzzzzzzzzzzz",),
    ]
    df = spark.createDataFrame(vals, ["source"])
    banded = {
        (r["src_a"], r["src_b"], r["dist"])
        for r in dedup.edit_distance_pairs(df, "source", max_dist=4).collect()
    }
    s = df.select("source").distinct()
    a = s.select(F.col("source").alias("src_a"))
    b = s.select(F.col("source").alias("src_b"))
    unblocked = {
        (r["src_a"], r["src_b"], r["dist"])
        for r in a.join(b, F.col("src_a") < F.col("src_b"))
        .select("src_a", "src_b", F.levenshtein("src_a", "src_b").alias("dist"))
        .filter(F.col("dist") <= 4)
        .collect()
    }
    assert banded == unblocked


def test_near_dup_clusters_collapse_chain_to_min_label(spark):
    # a~b and b~c were verified but (a, c) never was: all three still
    # share the label min(a, b, c); a doc in no pair gets no row.
    pairs = spark.createDataFrame(
        [(20, 30, 0.5), (10, 20, 0.4)], ["id_a", "id_b", "jaccard"]
    )
    labels = {r["id"]: r["lbl"] for r in dedup.near_dup_clusters(pairs).collect()}
    assert labels == {10: 10, 20: 10, 30: 10}
