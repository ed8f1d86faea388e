"""Unit tests for the r3 scale-operator batch: Bloom-pruned semi
join, sorted-neighborhood blocking, and HITS — each checked against a
brute-force / hand-computed twin on synthetic data (the query-level
oracle parity runs in tools/check_oracle.py)."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from hi_csa_db_spark.operators.bloomjoin import bloom_semi_join, build_bloom
from hi_csa_db_spark.operators.dedup import sorted_neighborhood_pairs
from hi_csa_db_spark.operators.graph import hits


def test_bloom_semi_join_equals_plain_semi(spark):
    probe = spark.range(0, 5000).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    keys = spark.range(0, 5000, 13).select(F.col("id").alias("kk"))
    got = sorted(
        r.k for r in bloom_semi_join(probe, keys, "k", "kk").select("k").collect()
    )
    want = sorted(
        r.k
        for r in probe.join(
            keys, probe["k"] == keys["kk"], "left_semi"
        ).select("k").collect()
    )
    assert got == want and len(got) == len(range(0, 5000, 13))


def test_bloom_semi_join_string_keys(spark):
    probe = spark.createDataFrame(
        [Row(s=f"url-{i}") for i in range(300)]
    )
    keys = spark.createDataFrame([Row(t=f"url-{i}") for i in range(0, 300, 11)])
    got = {r.s for r in bloom_semi_join(probe, keys, "s", "t").collect()}
    assert got == {f"url-{i}" for i in range(0, 300, 11)}


def test_bloom_filter_actually_prunes(spark):
    # With a tiny key set, the bloom stage alone (before the exact
    # recheck) must reject the overwhelming majority of probe rows —
    # otherwise the operator is a crossJoin in disguise.
    from hi_csa_db_spark.operators.bloomjoin import bloom_might_contain

    keys = spark.range(0, 10).select(F.col("id").alias("kk"))
    bloom = build_bloom(keys, "kk")
    probe = spark.range(0, 20000).select(F.col("id").alias("kk"))
    survivors = (
        probe.crossJoin(F.broadcast(bloom))
        .filter(bloom_might_contain("kk"))
        .count()
    )
    assert survivors >= 10  # no false negatives
    assert survivors < 200  # <1% false-positive leakage at 2^17 bits


def test_sorted_neighborhood_matches_bruteforce(spark):
    rows = [Row(doc_id=i, name=w) for i, w in enumerate(
        ["alpha", "alphb", "beta", "betas", "gamma", "gamna", "delta", "alpha"]
    )]
    df = spark.createDataFrame(rows)
    pairs = sorted_neighborhood_pairs(df, "name", id_col="doc_id", window=2)
    got = {(r.a_id, r.b_id, r.rank_gap) for r in pairs.collect()}
    # brute force: rank by (name, doc_id), all pairs with gap 1..2
    ranked = sorted(rows, key=lambda r: (r.name, r.doc_id))
    want = set()
    for i in range(len(ranked)):
        for j in range(i + 1, min(i + 3, len(ranked))):
            want.add((ranked[i].doc_id, ranked[j].doc_id, j - i))
    assert got == want


def test_hits_hand_computed(spark):
    # bipartite graph: 1->10, 1->11, 2->10  (hub0 = 1 everywhere)
    # a1: 10 -> 2 (from 1,2), 11 -> 1 (from 1)
    # h1: 1 -> a1(10)+a1(11) = 3, 2 -> a1(10) = 2
    # a2: 10 -> h1(1)+h1(2) = 5, 11 -> h1(1) = 3
    # h2: 1 -> a2(10)+a2(11) = 8, 2 -> a2(10) = 5
    edges = spark.createDataFrame(
        [Row(src=1, dst=10), Row(src=1, dst=11), Row(src=2, dst=10)]
    )
    out = {r.id: (r.hub, r.auth) for r in hits(edges, iterations=2).collect()}
    assert out == {1: (8, 0), 2: (5, 0), 10: (0, 5), 11: (0, 3)}


def test_hits_duplicate_edges_ignored(spark):
    e1 = spark.createDataFrame([Row(src=1, dst=10), Row(src=1, dst=10)])
    e2 = spark.createDataFrame([Row(src=1, dst=10)])
    r1 = sorted(map(tuple, hits(e1, 2).collect()))
    r2 = sorted(map(tuple, hits(e2, 2).collect()))
    assert r1 == r2


def test_ffd_packing_matches_bruteforce(spark, sf_dir):
    from hi_csa_db_spark.catalog import load_table
    from hi_csa_db_spark.operators.packing import pack_ffd

    docs = load_table(spark, sf_dir, "documents")
    got = {
        (r.source, r.doc_id): (r.n_tokens, r.bin_id)
        for r in pack_ffd(docs, budget=512).collect()
    }
    # brute force in plain Python over the same sizes
    sized = docs.select(
        "source", "doc_id", F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n")
    ).collect()
    by_src = {}
    for r in sized:
        by_src.setdefault(r.source, []).append((r.n, r.doc_id))
    want = {}
    for src, items in by_src.items():
        fills = []
        for n, doc_id in sorted(items, key=lambda t: (-t[0], t[1])):
            placed = None
            if n <= 512:
                for b, fill in enumerate(fills):
                    if fill + n <= 512:
                        placed = b
                        break
            if placed is None:
                placed = len(fills)
                fills.append(0)
            fills[placed] += n
            want[(src, doc_id)] = (n, placed)
    assert got == want


def test_ffd_bins_respect_budget(spark, sf_dir):
    from hi_csa_db_spark.catalog import load_table
    from hi_csa_db_spark.operators.packing import pack_ffd

    docs = load_table(spark, sf_dir, "documents")
    over = (
        pack_ffd(docs, budget=512)
        .groupBy("source", "bin_id")
        .agg(F.sum("n_tokens").alias("fill"), F.count(F.lit(1)).alias("n"))
        # a bin may exceed the budget ONLY as a single oversized item
        .filter((F.col("fill") > 512) & (F.col("n") > 1))
        .count()
    )
    assert over == 0


def test_bloom_mixed_key_types_no_false_negatives(spark):
    """ADVICE r3: xxhash64 hashes the physical type, so an INT build
    side probed by a BIGINT column used to set/test different bits —
    silent false negatives before the exact recheck. The canonical
    string-cast inside _bit_positions/bloom_might_contain makes the
    pairing type-proof; this pins it with int keys vs bigint probe."""
    probe = spark.range(0, 2000).select(F.col("id").alias("k"))  # bigint
    keys = (
        spark.range(0, 2000, 7)
        .select(F.col("id").cast("int").alias("kk"))  # int build side
    )
    got = sorted(r.k for r in bloom_semi_join(probe, keys, "k", "kk").collect())
    assert got == list(range(0, 2000, 7))
