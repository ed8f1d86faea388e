"""Audit-before-scale walkthrough, runnable: before a pipeline is
promoted from a sample to the 100 TB corpus, every expensive choice
gets a cheap engine-checked audit — what the data looks like, how big
the joins will be, which blocking key earns its candidates, and how
far the embedding column can be truncated. Each step below is one
driver-gate-verified query (COVERAGE.md lists the DuckDB oracles).

Run: python examples/audit_before_scale.py [sf_dir]

Steps:
1. profile the table (dq19 frequency/length profile + Corpus.profile)
2. price the join (j14's CMS estimate vs the exact pair count)
3. pick the blocking key (er4's pairs-completeness / candidate-volume
   table over LSH bands vs sorted-neighborhood vs soundex)
4. size the quantile sketch error (a18's log-histogram estimates vs
   the exact per-type p50/p90/p99)
5. pick the embedding width (s18's truncation recall@10)
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hi_csa_db_spark.queries import queries
from hi_csa_db_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("audit-before-scale-example")
    q = queries()

    # 1. column profile: is anything constant, null-ridden, or drifting?
    prof = {r["col"]: r for r in q["dq19_column_profile"](spark, sf_dir).collect()}
    for c in sorted(prof):
        r = prof[c]
        print(
            f"{c:8s}: {r['n_distinct']} distinct / {r['n_rows']} rows, "
            f"top value {r['top_share_bps'] / 100:.1f}%, "
            f"mean len {r['avg_len_milli'] / 1000:.1f}"
        )
    assert prof["doc_id"]["n_distinct"] == prof["doc_id"]["n_rows"], (
        "doc_id must look like a key (all values distinct)"
    )

    # 2. join sizing: never run a self-join you didn't price
    est = q["j14_selfjoin_size_estimate"](spark, sf_dir).collect()[0]
    print(
        f"self-join pairs: exact {est['exact_pairs']}, "
        f"CMS estimate {est['cms_est']} (+{est['over_bps'] / 100:.1f}%)"
    )
    assert est["cms_est"] >= est["exact_pairs"], "CMS never underestimates"

    # 3. blocking bake-off: recall earned per candidate generated
    for r in q["er4_blocking_eval"](spark, sf_dir).collect():
        rec = "n/a" if r["recall_bps"] is None else f"{r['recall_bps'] / 100:.1f}%"
        print(
            f"{r['family']:20s}: {r['n_candidates']} candidates "
            f"({r['cand_ppm']} ppm of all pairs), recall {rec}"
        )

    # 4. quantile sketch error: what the mergeable histogram costs
    for r in q["a18_log_histogram_quantiles"](spark, sf_dir).collect():
        print(
            f"{r['event_type']:8s}: p99 est {r['est_p99_micro'] / 1e6:.2f} "
            f"vs exact {r['exact_p99_micro'] / 1e6:.2f} "
            f"({r['n_buckets']} buckets vs {r['n_rows']} rows)"
        )
        assert r["est_p99_micro"] >= r["exact_p99_micro"], (
            "bucket upper bound must bracket the exact quantile"
        )

    # 5. embedding width: recall@10 per prefix width
    rec = {r["dims"]: r["recall_pct"] for r in
           q["s18_dim_truncation_recall"](spark, sf_dir).collect()}
    for k in sorted(rec):
        print(f"cosine over first {k:2d} dims: recall@10 {rec[k]}%")
    assert rec[64] == 100, "full width must recover the exact top-10"

    print("audit-before-scale walkthrough complete")


if __name__ == "__main__":
    main()
