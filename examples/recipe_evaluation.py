"""Data-RECIPE evaluation, runnable on the driver fixtures: before a
corpus build ships, price every gate combination, check the filter
model's ranking + calibration, split leakage-safely, and retrieve by
inner product — each step an oracle-proven engine operator.

Run: python examples/recipe_evaluation.py [sf_dir]

Steps (each maps to a `queries()` entry the driver value-checks):
1. ablation grid: docs/tokens per quality x dedup x decontam cell (x82)
2. filter-model ranking quality + calibration     (ml_auc_ranking /
   ml_calibration_table)
3. leakage-safe cluster split + counterfactual    (x81)
4. MIPS retrieval: bucketed path + recall audit   (s15 / s16 / s17)
5. hot copied blocks worth stripping first        (x83)
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hi_csa_db_spark.corpus import Corpus
from hi_csa_db_spark.queries import queries
from hi_csa_db_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("recipe-evaluation")
    q = queries()

    print("== 1. ablation grid (docs / tokens per gate combination) ==")
    q["x82_ablation_grid"](spark, sf_dir).orderBy(
        "q_keep", "dedup_keep", "decontam_keep"
    ).show()

    print("== 2. filter model: AUC + calibration ==")
    q["ml_auc_ranking"](spark, sf_dir).show()
    q["ml_calibration_table"](spark, sf_dir).orderBy("bucket").show()

    print("== 3. leakage-safe split (vs naive counterfactual) ==")
    q["x81_cluster_safe_split"](spark, sf_dir).orderBy("split").show()
    c = Corpus.load(spark, sf_dir).decontaminate().assign_splits_cluster_safe()
    print("fluent provenance:", c.provenance())

    print("== 4. MIPS: bucketed top-10, recall, probe curve ==")
    q["s15_mips_ivf_topk"](spark, sf_dir).show()
    q["s16_mips_recall_report"](spark, sf_dir).show()
    q["s17_mips_recall_vs_probes"](spark, sf_dir).orderBy("n_probe").show()

    print("== 5. hot copied blocks ==")
    q["x83_hot_fingerprints"](spark, sf_dir).show()

    # sanity gates the test asserts on
    recall = q["s16_mips_recall_report"](spark, sf_dir).collect()[0]
    print(f"mips recall_pct={recall['recall_pct']}")
    leaks = {
        r["split"]: r["cluster_leaked_pairs"]
        for r in q["x81_cluster_safe_split"](spark, sf_dir).collect()
    }
    assert all(v == 0 for v in leaks.values()), leaks
    print("cluster split leaked pairs: 0")
    print("OK")


if __name__ == "__main__":
    main()
