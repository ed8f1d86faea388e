"""Incremental aggregation: merge(state(A), state(B)) == state(A+B)."""

from pyspark.sql import functions as F

from hi_csa_db_spark.catalog import load_table
from hi_csa_db_spark.operators.incremental import agg_state, finalize, merge_states


def test_merged_state_equals_full_recompute(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 3 != 0)
    delta = orders.filter(F.col("o_orderkey") % 3 == 0)
    keys = ["o_orderpriority"]
    merged = merge_states(
        agg_state(old, keys, "o_totalprice"),
        agg_state(delta, keys, "o_totalprice"),
        keys,
    )
    full = agg_state(orders, keys, "o_totalprice")
    m = {tuple(r) for r in finalize(merged).collect()}
    f = {tuple(r) for r in finalize(full).collect()}
    assert m == f  # bit-exact, decimal sums


def test_merge_handles_new_and_missing_keys(spark):
    a = spark.createDataFrame([("x", 1.0), ("x", 2.0)], ["k", "v"])
    b = spark.createDataFrame([("y", 10.0)], ["k", "v"])
    merged = merge_states(agg_state(a, ["k"], "v"), agg_state(b, ["k"], "v"), ["k"])
    rows = {r.k: (r.n_rows, float(r.sum_v), r.min_v, r.max_v) for r in merged.collect()}
    assert rows == {"x": (2, 3.0, 1.0, 2.0), "y": (1, 10.0, 10.0, 10.0)}


def test_hll_sketch_merge_close_to_direct(spark, sf_dir):
    """merge(sketch(A), sketch(B)) estimates within sketch error of
    sketch(A ∪ B) — union-mode promotions can shift registers, so
    equality is approximate, not bit-exact (unlike the decimal
    states above)."""
    from hi_csa_db_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    a = li.filter(F.col("l_orderkey") % 2 == 0)
    b = li.filter(F.col("l_orderkey") % 2 == 1)
    merged = (
        a.agg(F.hll_sketch_agg("l_orderkey").alias("sk"))
        .unionAll(b.agg(F.hll_sketch_agg("l_orderkey").alias("sk")))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .collect()[0].est
    )
    full = li.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("l_orderkey")).alias("est")
    ).collect()[0].est
    assert abs(merged - full) / full < 0.05


def test_maintained_rollup_matches_direct_aggregate(spark, sf_dir, tmp_path):
    from hi_csa_db_spark.operators.incremental import maintain_rollup, read_rollup

    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    path = str(tmp_path / "rollup")
    # ingest history as three deltas
    slices = [ev.filter(F.col("user_id") % 3 == i) for i in range(3)]
    for i, sl in enumerate(slices):
        maintain_rollup(spark, path, sl, keys=["user_id"], value_col="value",
                        batch_id=i)
    got = {r["user_id"]: (r["n_rows"], r["min_v"], r["max_v"], r["avg_v"])
           for r in read_rollup(spark, path).collect()}
    direct = {r["user_id"]: (r["n_rows"], r["min_v"], r["max_v"], r["avg_v"])
              for r in finalize(agg_state(ev, ["user_id"], "value")).collect()}
    assert got == direct
    # replayed batch: no new version, same contents
    from hi_csa_db_spark.sources import txlog
    v = txlog.current_version(path)
    maintain_rollup(spark, path, slices[2], keys=["user_id"],
                    value_col="value", batch_id=2)
    assert txlog.current_version(path) == v
    # time travel: version 0 holds exactly slice 0's aggregate
    v0 = {r["user_id"]: r["n_rows"]
          for r in read_rollup(spark, path, version=0).collect()}
    d0 = {r["user_id"]: r["n_rows"]
          for r in agg_state(slices[0], ["user_id"], "value").collect()}
    assert v0 == d0


