"""End-to-end training-corpus preparation, runnable on the driver
fixtures: the pipeline a 100 TB corpus job runs, at toy scale, with
every stage an oracle-proven engine operator.

Run: python examples/training_corpus_pipeline.py [sf_dir] [out_dir]

Stages (each maps to a `queries()` entry the driver value-checks):
1. quality gates + model-based filter        (x12 / x20)
2. PII scrub                                 (x11)
3. near-dup collapse, keep BEST member       (d2/d6/d10)
4. DSIR importance resampling toward target  (x23/x24)
5. context packing into fixed token budgets  (x16)
6. publish: zstd parquet + txlog ACID commit (S8 / txlog)
"""

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from hi_csa_db_spark.catalog import load_table
from hi_csa_db_spark.operators import dedup, graph
from hi_csa_db_spark.session import get_spark
from hi_csa_db_spark.sources import txlog


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="corpus_")
    spark = get_spark("training-corpus-pipeline")
    docs = load_table(spark, sf_dir, "documents")
    n0 = docs.count()

    # 1+3+4. the fluent front door: each verb is an oracle-proven
    # stage (x20 quality gate -> d10 best-of-cluster near-dup
    # survivor -> x24 DSIR resample), chained into ONE lazy plan —
    # tests/test_corpus_api.py pins this chain equal to the
    # hand-written pipe_training_prep_v3 composite.
    from hi_csa_db_spark.corpus import Corpus

    curated = (
        Corpus.load(spark, sf_dir)
        .quality_filter()
        .dedup_near_keep_best()
        .resample_dsir()
    )
    print("stages:", curated.provenance())

    # 2. PII scrub rides on top (x11)
    from hi_csa_db_spark.operators.textstats import pii_scrub

    clean = pii_scrub(docs).select("doc_id", "scrubbed")
    kept = curated.df().select("doc_id", "lang", "source").join(clean, "doc_id")

    # 5a. data-quality gate before anything is published (dq1): one
    # aggregate pass; a production job aborts the publish on violations
    from hi_csa_db_spark.operators import expectations as ex

    report = ex.check_rows(
        kept,
        [
            ex.not_null("doc_id"),
            ex.accepted_values("lang", ["en", "de", "fr", "es", "zh"]),
            ex.matches("scrubbed", r"^\S[\s\S]*$"),
        ],
    ).collect()
    violations = {r["rule"]: r["n_violations"] for r in report}
    assert all(v == 0 for v in violations.values()), violations
    print("dq gate:", violations)

    # 5. pack into fixed token budgets (x16's prefix-sum chunking:
    # partition by lang — parallel across slices, ONE shuffle)
    toks = kept.select(
        "doc_id",
        "lang",
        "scrubbed",
        F.size(F.split(F.col("scrubbed"), r"\s+")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    packed = toks.withColumn("chunk", F.floor(before / F.lit(2048.0)).cast("int"))

    # 6. publish: parquet partitioned by lang + an ACID txlog commit
    pq_path = os.path.join(out_dir, "corpus_parquet")
    packed.write.mode("overwrite").partitionBy("lang").parquet(pq_path)
    tbl = os.path.join(out_dir, "corpus_txlog")
    txlog.write_table(packed, tbl)
    snap = txlog.read_table(spark, tbl)

    n_kept = kept.count()
    print(f"docs in: {n0}, kept after gates+dedup+resample: {n_kept}")
    print(f"parquet: {pq_path}")
    print(f"txlog:   {tbl} (snapshot rows: {snap.count()})")
    per_lang = kept.groupBy("lang").count().orderBy("lang").collect()
    print("per-lang:", {r["lang"]: r["count"] for r in per_lang})


if __name__ == "__main__":
    main()
