"""Round-3 late-session operators: duplicated spans (d13), nearest
temporal join (j8), the full BPE training loop (x34), and the
distributed prefix-sum primitive behind stats_ks_test."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hi_csa_db_spark.functions.bpe import bpe_train
from hi_csa_db_spark.operators import ordered
from hi_csa_db_spark.operators.dedup import duplicated_spans
from hi_csa_db_spark.operators.temporal import nearest_join


# ---------------------------------------------------------------------------
# duplicated_spans
# ---------------------------------------------------------------------------


def test_dup_spans_hand_case(spark):
    # k=3: "a b c d e" shared by docs 1 & 2 -> every 3-gram duplicated,
    # one maximal span covering all 5 tokens. doc 3 shares nothing.
    docs = spark.createDataFrame(
        [
            (1, "a b c d e unique1 tail1"),
            (2, "prefix2 a b c d e"),
            (3, "x y z q r s t"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in duplicated_spans(docs, k=3).collect()
    }
    assert set(out) == {1, 2}
    assert out[1]["n_spans"] == 1
    assert out[1]["max_span_tokens"] == 5
    assert out[1]["covered_tokens"] == 5
    assert out[1]["n_tokens"] == 7
    assert out[2]["max_span_tokens"] == 5


def test_dup_spans_island_merge_gap(spark):
    # two shared regions separated by a gap wider than k -> 2 spans
    shared1, shared2 = "p q r", "u v w"
    docs = spark.createDataFrame(
        [
            (1, f"{shared1} f1 f2 f3 f4 {shared2}"),
            (2, f"{shared1} g1 g2 g3 g4 {shared2}"),
        ],
        "doc_id long, text string",
    )
    row = duplicated_spans(docs, k=3).filter(F.col("doc_id") == 1).collect()[0]
    assert row["n_spans"] == 2
    assert row["max_span_tokens"] == 3
    assert row["covered_tokens"] == 6


def test_dup_spans_within_doc_repetition_counts(spark):
    # the SAME doc repeating a 3-gram twice marks both occurrences
    docs = spark.createDataFrame(
        [(1, "m n o filler1 filler2 filler3 m n o")],
        "doc_id long, text string",
    )
    row = duplicated_spans(docs, k=3).collect()[0]
    assert row["n_spans"] == 2
    assert row["covered_tokens"] == 6


def test_dup_spans_partition_invariance(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = duplicated_spans(docs, k=5).orderBy("doc_id").collect()
    b = duplicated_spans(docs.repartition(7), k=5).orderBy("doc_id").collect()
    assert a == b


# ---------------------------------------------------------------------------
# nearest_join
# ---------------------------------------------------------------------------


def _nj(spark, probe_rows, build_rows):
    probe = spark.createDataFrame(probe_rows, "pid long, k long, t long")
    build = spark.createDataFrame(build_rows, "bid long, k long, t long")
    return {
        r["pid"]: (r["nearest_bid"], r["gap"])
        for r in nearest_join(
            probe, build, key="k", ts="t", probe_id="pid", build_id="bid"
        ).collect()
    }


def test_nearest_join_directions_and_ties(spark):
    out = _nj(
        spark,
        # probe 1: prev at gap 5, next at gap 3 -> next wins
        # probe 2: prev at gap 4, next at gap 4 -> TIE -> prev wins
        # probe 3: only a following build row
        # probe 4: key with no build rows -> NULLs
        [(1, 10, 100), (2, 10, 200), (3, 20, 50), (4, 30, 7)],
        [(101, 10, 95), (102, 10, 103), (103, 10, 196), (104, 10, 204),
         (105, 20, 60)],
    )
    assert out[1] == (102, 3)
    assert out[2] == (103, 4)
    assert out[3] == (105, 10)
    assert out[4] == (None, None)


def test_nearest_join_equal_ts_is_zero_gap(spark):
    out = _nj(spark, [(1, 5, 42)], [(9, 5, 42), (10, 5, 41)])
    assert out[1] == (9, 0)


# ---------------------------------------------------------------------------
# bpe_train
# ---------------------------------------------------------------------------


def test_bpe_train_hand_corpus(spark):
    # corpus: "abab abab abc" -> round1 merges 'ab' (5 occurrences);
    # round2 counts symbol pairs over {S S, S S, S c} with S=ab:
    # pairs: (S,S)x2, (S,c)x1 -> merges 'abab'
    words = spark.createDataFrame(
        [("abab",), ("abab",), ("abc",)], "w string"
    )
    merges = bpe_train(words, rounds=2)
    assert merges.schema.simpleString() == "struct<round:int,merge:string,n:bigint>"
    rows = merges.orderBy("round").collect()
    assert [r["merge"] for r in rows] == ["ab", "abab"]
    assert rows[0]["n"] == 5
    assert rows[1]["n"] == 2


def test_bpe_train_decoded_tiebreak(spark):
    # 'xy' and 'yz' both appear twice ('xyz' x2); decoded ASC -> 'xy'
    words = spark.createDataFrame([("xyz",), ("xyz",)], "w string")
    rows = bpe_train(words, rounds=1).collect()
    assert rows[0]["merge"] == "xy"
    assert rows[0]["n"] == 2


# ---------------------------------------------------------------------------
# global_prefix_sums
# ---------------------------------------------------------------------------


def test_global_prefix_sums_matches_single_partition_window(spark):
    import random

    rng = random.Random(11)
    rows = [(i, rng.randint(0, 5), rng.randint(0, 5)) for i in range(500)]
    df = spark.createDataFrame(rows, "k long, a long, b long")
    got = {
        r["k"]: (r["cum_a"], r["cum_b"])
        for r in ordered.global_prefix_sums(df, "k", ["a", "b"]).collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["k"]: (r["ca"], r["cb"])
        for r in df.select(
            "k", F.sum("a").over(w).alias("ca"), F.sum("b").over(w).alias("cb")
        ).collect()
    }
    assert got == want


def test_global_prefix_sums_partition_count_invariance(spark):
    rows = [(i * 3 % 101, 1, i) for i in range(101)]
    df = spark.createDataFrame(rows, "k long, a long, b long")
    a = ordered.global_prefix_sums(df, "k", ["a", "b"], num_partitions=4)
    b = ordered.global_prefix_sums(df, "k", ["a", "b"], num_partitions=17)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


# ---------------------------------------------------------------------------
# delta_join (incremental view maintenance)
# ---------------------------------------------------------------------------


def _multiset(df):
    return sorted(tuple(r) for r in df.collect())


def test_delta_join_identity(spark):
    import random

    rng = random.Random(5)
    lrows = [(rng.randint(0, 20), i, f"l{i}") for i in range(300)]
    rrows = [(rng.randint(0, 20), i, i * 10) for i in range(200)]
    L = spark.createDataFrame(lrows, "k long, lid long, lval string")
    R = spark.createDataFrame(rrows, "k long, rid long, rval long")
    old_l, delta_l = L.filter("lid < 250"), L.filter("lid >= 250")
    old_r, delta_r = R.filter("rid < 150"), R.filter("rid >= 150")

    from hi_csa_db_spark.operators.incremental import delta_join

    view_old = old_l.join(old_r, ["k"])
    appended = delta_join(old_l, delta_l, old_r, delta_r, ["k"])
    maintained = view_old.unionByName(appended)
    assert _multiset(maintained) == _multiset(L.join(R, ["k"]))


def test_delta_join_feeds_incremental_aggregate(spark):
    # aggregate-over-join maintenance: merge_states(state(view_old),
    # state(delta_join)) == state(full join) — bit-exact
    from hi_csa_db_spark.operators import incremental as inc

    L = spark.createDataFrame(
        [(k, i, float(i)) for i, k in enumerate([1, 1, 2, 2, 3] * 20)],
        "k long, lid long, v double",
    )
    R = spark.createDataFrame(
        [(k, j) for j, k in enumerate([1, 2, 2, 3] * 10)],
        "k long, rid long",
    )
    old_l, delta_l = L.filter("lid < 70"), L.filter("lid >= 70")
    old_r, delta_r = R.filter("rid < 30"), R.filter("rid >= 30")
    view_old = old_l.join(old_r, ["k"])
    appended = inc.delta_join(old_l, delta_l, old_r, delta_r, ["k"])
    merged = inc.merge_states(
        inc.agg_state(view_old, ["k"], "v"),
        inc.agg_state(appended, ["k"], "v"),
        ["k"],
    )
    direct = inc.agg_state(L.join(R, ["k"]), ["k"], "v")
    assert _multiset(merged) == _multiset(direct)
