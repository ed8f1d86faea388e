"""Round-4 (third session) operator tests: fuzzy neighbor join,
Pareto skyline, grid Kendall, chi-square, IVF kNN join, stratified
sampling, Heaps-law growth, referential-integrity profile."""

import math

import pytest
from pyspark.sql import functions as F

from hi_csa_db_spark import queries
from hi_csa_db_spark.catalog import load_table
from hi_csa_db_spark.operators import similarity


# ---------------------------------------------------------------------------
# j10: SymSpell deletion blocking is LOSSLESS for edit distance 1
# ---------------------------------------------------------------------------


def test_fuzzy_blocking_equals_brute_force(spark, sf_dir):
    """The deletion-neighborhood candidate join must find EXACTLY the
    pairs a quadratic levenshtein theta-join finds (blocking is a
    superset generator; the exact verify trims it to equality)."""
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    blocked = {
        (r["p_partkey"], r["n_typo_neighbors"], r["nearest_neighbor_key"])
        for r in queries.queries()["j10_fuzzy_neighbor_join"](spark, sf_dir).collect()
    }
    rows = part.collect()
    names = [(r["p_partkey"], r["p_name"]) for r in rows]

    def lev(a, b):
        if abs(len(a) - len(b)) > 1:
            return 2
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    brute = {}
    for i, (ka, na) in enumerate(names):
        for kb, nb in names:
            if ka != kb and lev(na, nb) == 1:
                cnt, mn = brute.get(ka, (0, None))
                brute[ka] = (cnt + 1, kb if mn is None else min(mn, kb))
    expected = {(k, c, m) for k, (c, m) in brute.items()}
    assert blocked == expected


# ---------------------------------------------------------------------------
# skyline: prefix-min rewrite equals the dominance definition
# ---------------------------------------------------------------------------


def test_skyline_equals_dominance_definition(spark, sf_dir):
    out = {
        (r["p_partkey"], r["p_size"], r["price_cents"])
        for r in queries.queries()["q_skyline_pareto"](spark, sf_dir).collect()
    }
    pts = [
        (r["p_partkey"], r["p_size"], r["price_cents"])
        for r in load_table(spark, sf_dir, "part")
        .select(
            "p_partkey",
            "p_size",
            F.expr(
                "CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
            ).alias("price_cents"),
        )
        .collect()
    ]
    expected = {
        (k, s, c)
        for (k, s, c) in pts
        if not any(
            s2 >= s and c2 <= c and (s2 > s or c2 < c)
            for (_, s2, c2) in pts
        )
    }
    assert out == expected
    assert out, "skyline must be non-empty"


# ---------------------------------------------------------------------------
# stats: grid Kendall vs brute-force pair counting; chi2 closed form
# ---------------------------------------------------------------------------


def test_kendall_grid_matches_bruteforce_on_buckets(spark, sf_dir):
    """tau-b over the decile buckets == O(n^2) concordance counting
    over the SAME bucket assignments (small SF only)."""
    row = queries.queries()["stats_kendall_grid"](spark, sf_dir).collect()[0]
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    pairs = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            F.expr(
                "CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)"
            ).alias("xc"),
            F.expr(
                "CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)"
            ).alias("yc"),
        )
        .collect()
    )
    xs = sorted(p["xc"] for p in pairs)
    ys = sorted(p["yc"] for p in pairs)
    n = len(pairs)

    def decile(sorted_vals, v):
        # cumulative count of values <= v (rightmost), then ceil(10*cum/n)
        import bisect

        cum = bisect.bisect_right(sorted_vals, v)
        return (10 * cum + n - 1) // n

    bx = [decile(xs, p["xc"]) for p in pairs]
    by = [decile(ys, p["yc"]) for p in pairs]
    conc = disc = 0
    for i in range(n):
        for j in range(i + 1, n):
            sx = (bx[i] > bx[j]) - (bx[i] < bx[j])
            sy = (by[i] > by[j]) - (by[i] < by[j])
            if sx * sy > 0:
                conc += 1
            elif sx * sy < 0:
                disc += 1
    from collections import Counter

    n0 = n * (n - 1) // 2
    n1 = sum(t * (t - 1) // 2 for t in Counter(bx).values())
    n2 = sum(t * (t - 1) // 2 for t in Counter(by).values())
    tau = (conc - disc) / (math.sqrt(n0 - n1) * math.sqrt(n0 - n2))
    assert row["n_pairs"] == n
    assert abs(row["kendall_tau_b"] - tau) < 2e-6


def test_chi2_closed_form(spark, sf_dir):
    row = queries.queries()["stats_chi2_independence"](spark, sf_dir).collect()[0]
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    pairs = [
        (r["c_mktsegment"], r["o_orderpriority"])
        for r in o.join(c, o["o_custkey"] == c["c_custkey"]).collect()
    ]
    from collections import Counter

    cells = Counter(pairs)
    rt = Counter(s for s, _ in pairs)
    ct = Counter(p for _, p in pairs)
    n = len(pairs)
    chi2 = 0.0
    for (s, p), obs in cells.items():
        d = float(obs * n - rt[s] * ct[p])
        chi2 += round(d * d / float(n * rt[s] * ct[p]), 8)
    assert row["n_pairs"] == n
    assert row["dof"] == (len(rt) - 1) * (len(ct) - 1)
    assert abs(row["chi2_stat"] - chi2) < 2e-6
    assert row["chi2_stat"] >= 0


# ---------------------------------------------------------------------------
# s11: IVF kNN join — no self matches; probe-all == brute force
# ---------------------------------------------------------------------------


def _emb(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )


def test_ivf_knn_join_excludes_self_and_ranks_desc(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 97 == 3)
    out = similarity.ivf_knn_join(emb, q, k=3, n_centroids=8, n_probe=2).collect()
    assert out
    by_q = {}
    for r in out:
        assert r["qid"] != r["neighbor_id"]
        by_q.setdefault(r["qid"], []).append((r["rank"], r["cos_sim"]))
    for qid, rows in by_q.items():
        rows.sort()
        sims = [s for _, s in rows]
        assert sims == sorted(sims, reverse=True), qid
        assert [rk for rk, _ in rows] == list(range(1, len(rows) + 1))


def test_ivf_knn_join_probe_all_equals_brute_force(spark):
    """With n_probe == n_centroids every bucket is probed, so the
    join must return EXACTLY the brute-force top-k for every query."""
    import random

    rng = random.Random(23)
    dim = 8
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(40)]
    emb = _emb(spark, rows)
    qs = emb.filter(F.col("vec_id") % 7 == 1)
    out = similarity.ivf_knn_join(
        emb, qs, k=4, n_centroids=4, n_probe=4
    ).collect()
    got = {}
    for r in out:
        got.setdefault(r["qid"], []).append((r["rank"], r["neighbor_id"]))

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        den = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        return round(num / den, 6)

    vecs = dict(rows)
    for qid in [i for i, _ in rows if i % 7 == 1]:
        scored = sorted(
            ((-cos(vecs[qid], v), i) for i, v in rows if i != qid),
        )[:4]
        expected = [i for _, i in scored]
        assert [i for _, i in sorted(got[qid])] == expected, qid


# ---------------------------------------------------------------------------
# x55 / x56 / dq7 shape properties
# ---------------------------------------------------------------------------


def test_stratified_sample_exact_counts(spark, sf_dir):
    out = queries.queries()["x55_stratified_sample"](spark, sf_dir)
    per_lang = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    docs = load_table(spark, sf_dir, "documents")
    truth = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(per_lang) == set(truth)
    for lang, n in truth.items():
        assert per_lang[lang] == min(40, n)
    # deterministic: a second run returns the identical sample
    a = {tuple(r) for r in out.collect()}
    b = {tuple(r) for r in queries.queries()["x55_stratified_sample"](spark, sf_dir).collect()}
    assert a == b


def test_heaps_law_monotone_and_totals(spark, sf_dir):
    rows = sorted(
        queries.queries()["x56_heaps_law"](spark, sf_dir).collect(), key=lambda r: r["decile"]
    )
    assert [r["decile"] for r in rows] == list(range(1, 11))
    for prev, cur in zip(rows, rows[1:]):
        assert cur["cum_docs"] >= prev["cum_docs"]
        assert cur["cum_tokens"] >= prev["cum_tokens"]
        assert cur["cum_vocab"] >= prev["cum_vocab"]
    docs = load_table(spark, sf_dir, "documents")
    assert rows[-1]["cum_docs"] == docs.count()


def test_referential_integrity_clean_fixtures(spark, sf_dir):
    out = {r["edge"]: r for r in queries.queries()["dq7_referential_integrity"](spark, sf_dir).collect()}
    assert set(out) == {
        "lineitem->orders",
        "lineitem->part",
        "orders->customer",
        "events->customer",
    }
    for edge, r in out.items():
        assert r["orphan_rows"] == 0, edge
        assert r["child_rows"] > 0, edge


# ---------------------------------------------------------------------------
# graph: landmark closeness on a hand-computed path graph
# ---------------------------------------------------------------------------


def test_landmark_closeness_path_graph(spark):
    from hi_csa_db_spark.operators import graph

    fwd = [(i, i + 1) for i in range(1, 5)]  # path 1-2-3-4-5
    edges = spark.createDataFrame(
        fwd + [(b, a) for a, b in fwd], "src long, dst long"
    )
    out = {
        r["landmark"]: (r["n_reached"], r["total_dist"], r["closeness_micro"])
        for r in graph.landmark_closeness(edges, [1, 5], iterations=3).collect()
    }
    # 3 hops from an end of the path reach 4 nodes at distances 0+1+2+3
    assert out == {1: (4, 6, 500000), 5: (4, 6, 500000)}


def test_landmark_closeness_isolated_landmark(spark):
    from hi_csa_db_spark.operators import graph

    edges = spark.createDataFrame([(10, 11), (11, 10)], "src long, dst long")
    out = {
        r["landmark"]: (r["n_reached"], r["total_dist"], r["closeness_micro"])
        for r in graph.landmark_closeness(edges, [99], iterations=2).collect()
    }
    # landmark with no outgoing edges reaches only itself; guard emits 0
    assert out == {99: (1, 0, 0)}


# ---------------------------------------------------------------------------
# streaming: debounce twin equals the batch lag rule
# ---------------------------------------------------------------------------


def test_stream_debounce_equals_batch_t25(spark, sf_dir):
    """Session-window burst counting under the streaming planner must
    reproduce the batch lag-chain debounce EXACTLY (same thresholds,
    same microsecond precision)."""
    batch = {tuple(r) for r in queries.queries()["t25_debounce"](spark, sf_dir).collect()}
    stream = {tuple(r) for r in queries.queries()["stream_debounce"](spark, sf_dir).collect()}
    assert stream == batch
