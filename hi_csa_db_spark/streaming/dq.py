"""Streaming data-quality gate: the expectations engine
(operators/expectations.py) applied per micro-batch via foreachBatch —
the continuous-validation pattern (every ingested batch is scored
against the table's contract; violations alert/quarantine instead of
poisoning the table).

The per-rule totals are BATCH-INVARIANT (sums over disjoint batches),
so the whole streaming run is value-checkable against a plain SQL
oracle over the same data — a stronger check than rows-only streaming
entries. At cluster scale the same foreachBatch writes each batch's
report to the txlog-backed quality table and routes violating rows to
a quarantine sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hi_csa_db_spark.catalog import local_frame


def dq_gate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the events stream through per-batch expectation checks and
    return the accumulated (rule, n_checked, n_violations) report."""
    from hi_csa_db_spark.operators import expectations as ex
    from hi_csa_db_spark.streaming.windows import read_events_stream

    totals: dict[str, list[int]] = {}

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        report = ex.check_rows(
            batch_df,
            [
                ex.not_null("user_id"),
                ex.in_range("value", 0, 1000000),
                ex.accepted_values(
                    "event_type", ["click", "view", "purchase", "signup", "error"]
                ),
            ],
        )
        for r in report.collect():
            t = totals.setdefault(r["rule"], [0, 0])
            t[0] += r["n_checked"]
            t[1] += r["n_violations"]

    from hi_csa_db_spark.streaming.windows import pinned_state_partitions

    ev = read_events_stream(spark, sf_dir).select("user_id", "value", "event_type")
    # no explicit checkpointLocation: a fresh temp checkpoint per run
    # makes re-invocation reprocess the full fixture (idempotent gate);
    # a production deployment pins one and gets exactly-once batches
    with pinned_state_partitions(spark):
        q = ev.writeStream.foreachBatch(gate).trigger(availableNow=True).start()
        q.awaitTermination()
    rows = [
        (rule, int(n), int(v)) for rule, (n, v) in sorted(totals.items())
    ]
    return local_frame(
        spark, rows, "rule string, n_checked bigint, n_violations bigint"
    )
