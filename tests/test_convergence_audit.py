"""convergence_audit measures the operator it audits: its round-k
resolved count is the number of nodes whose k-iteration
connected_components label already equals the exact
connected_components_fixpoint label."""

from __future__ import annotations

from hi_csa_db_spark.operators import graph

# two components: the chain 1-2-3-4-5 (its minimum at one end, so one
# more node resolves per round) and the star with centre 9 and leaves
# 6, 7, 8 (the centre resolves in round 1, the other leaves in round 2)
EDGES = [(1, 2), (2, 3), (3, 4), (4, 5), (9, 6), (9, 7), (9, 8)]


def test_audit_rounds_count_the_operator_k_round_labels(spark):
    edges = spark.createDataFrame(EDGES, "src bigint, dst bigint")
    exact = {
        r.id: r.lbl for r in graph.connected_components_fixpoint(edges).collect()
    }
    assert set(exact.values()) == {1, 6}
    audit = {
        r["round"]: r
        for r in graph.convergence_audit(edges, rounds=3).collect()
    }
    assert sorted(audit) == [1, 2, 3]
    resolved = []
    for k in (1, 2, 3):
        labels = graph.connected_components(edges, iterations=k).collect()
        assert len(labels) == len(exact) == 9
        want = sum(1 for r in labels if r.lbl == exact[r.id])
        assert audit[k]["resolved_nodes"] == want, k
        assert audit[k]["total_nodes"] == 9
        assert audit[k]["resolved_share_micro"] == want * 1000000 // 9
        resolved.append(want)
    # chain 2, 3, 4 resolved; star 2, 4, 4
    assert resolved == [4, 7, 8]
