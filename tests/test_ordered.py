"""Ordered-semantics operators vs imperative reference behavior.

The reference implements these as R loops over implicitly-ordered
frames; the tests replay the same imperative logic in Python and
assert the window-based Spark results are identical.
"""

import random

import pytest
from pyspark.sql import functions as F

from hi_csa_db_spark.operators.ordered import (
    first_row_per_key,
    forward_fill,
    ordered_slice_from_marker,
    positional_update,
)


def _imperative_fill(rows, reset=False):
    """The reference's sectionizer loop (hi-csa-db.Rmd:178-212)."""
    out, cur = [], None
    for tag, text in rows:
        if reset and tag == "h3":
            cur = None
        if tag == ("h4" if reset else "h3"):
            cur = text
        out.append(cur)
    return out


def test_forward_fill_matches_imperative_loop(spark):
    rng = random.Random(0)
    rows = [
        (i, rng.choice(["h3", "h4", "p"]), f"t{i}") for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_order int, tag string, text string")
    filled = df.select(
        "doc_order",
        forward_fill(
            df, F.when(F.col("tag") == "h3", F.col("text")), order_by=["doc_order"]
        ).alias("h3"),
        forward_fill(
            df,
            F.when(F.col("tag") == "h4", F.col("text")),
            order_by=["doc_order"],
            reset_on=F.col("tag") == "h3",
        ).alias("h4"),
    )
    got = {r.doc_order: (r.h3, r.h4) for r in filled.collect()}
    exp_h3 = _imperative_fill([(t, x) for _, t, x in rows])
    exp_h4 = _imperative_fill([(t, x) for _, t, x in rows], reset=True)
    for i in range(200):
        assert got[i] == (exp_h3[i], exp_h4[i]), f"row {i}"


def test_ordered_slice(spark):
    df = spark.createDataFrame(
        [(i, "marker" if i == 40 else "x") for i in range(100)], "i int, v string"
    )
    out = ordered_slice_from_marker(df, F.col("v") == "marker", order_by=["i"])
    assert sorted(r.i for r in out.collect()) == list(range(40, 100))


def test_ordered_slice_no_match_is_empty(spark):
    df = spark.createDataFrame([(i, "x") for i in range(10)], "i int, v string")
    out = ordered_slice_from_marker(df, F.col("v") == "nope", order_by=["i"])
    assert out.count() == 0


def test_positional_update(spark):
    df = spark.createDataFrame(
        [(i, "E" if i % 2 == 0 else "other", "old") for i in range(10)],
        "i int, cat string, val string",
    )
    out = positional_update(
        df,
        match=F.col("cat") == "E",
        order_by=["i"],
        column="val",
        values=["a", "b", "c", "d", "e"],
    )
    got = {r.i: r.val for r in out.collect()}
    assert [got[i] for i in (0, 2, 4, 6, 8)] == ["a", "b", "c", "d", "e"]
    assert all(got[i] == "old" for i in (1, 3, 5, 7, 9))


def _imperative_update(rows, values):
    """The reference's loop: the k-th matched row in order takes the
    k-th value; matches past the end of ``values`` keep theirs."""
    out, k = {}, 0
    for i, cat, val in sorted(rows):
        if cat == "E":
            val = values[k] if k < len(values) else val
            k += 1
        out[i] = val
    return out


@pytest.mark.parametrize(
    "rows",
    [
        # more matches (8) than values (3), unmatched rows interleaved
        [(i, "E" if i % 3 else "other", f"old{i}") for i in range(12)],
        # zero matches
        [(i, "other", f"old{i}") for i in range(6)],
        # NULL match column: NULL rows count as unmatched
        [(i, [None, "E", "other"][i % 3], f"old{i}") for i in range(9)],
    ],
    ids=["surplus_matches", "no_match", "null_match"],
)
def test_positional_update_edges(spark, rows):
    values = ["a", "b", "c"]
    df = spark.createDataFrame(rows, "i int, cat string, val string").repartition(3)
    out = positional_update(
        df, match=F.col("cat") == "E", order_by=["i"], column="val", values=values
    )
    assert out.columns == df.columns
    assert {r.i: r.val for r in out.collect()} == _imperative_update(rows, values)


def test_first_row_per_key_deterministic(spark):
    df = spark.createDataFrame(
        [("k", 3, "c"), ("k", 1, "a"), ("k", 2, "b"), ("j", 9, "z")],
        "k string, ord int, v string",
    )
    out = first_row_per_key(df, keys=["k"], order_by=["ord"])
    got = {r.k: r.v for r in out.collect()}
    assert got == {"k": "a", "j": "z"}
