"""Streaming ingest into the transaction-log table format: the
end-to-end exactly-once pipeline (source offsets in the stream
checkpoint, batch ids in the table manifest).

The reference's publish step is a whole-file overwrite at the end of a
notebook run (hi-csa-db.Rmd:593); a continuously-built corpus instead
needs appends that are atomic, replay-safe, and isolated from readers.
foreachBatch + txlog.append_batch gives exactly that:

- the stream checkpoint makes source progress durable (no lost or
  re-read input after restart);
- append_batch tags each commit with the micro-batch id and skips
  batches the table already holds, so the crash window between "sink
  wrote" and "checkpoint committed" cannot duplicate rows;
- readers snapshot a manifest and never see a half-written batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hi_csa_db_spark.sources import txlog
from hi_csa_db_spark.streaming.windows import (
    pinned_state_partitions,
    read_events_stream,
)


def stream_append_to_table(
    spark: SparkSession,
    sf_dir: str,
    table_path: str,
    checkpoint: str,
    compact_every: int | None = None,
) -> DataFrame:
    """Stream the events fixture into an ACID table (projected to the
    per-event record a downstream pipeline would keep), then return a
    snapshot read of the committed table.

    ``compact_every=N`` runs txlog.compact_table after every N
    appended batches — the background-OPTIMIZE policy that stops
    streaming appends from accumulating unbounded small files. The
    compaction is itself a versioned commit, so readers pinned to any
    snapshot are unaffected and a crash between append and compact
    loses nothing."""
    ev = read_events_stream(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        F.round("value", 6).alias("value"),
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        txlog.append_batch(batch_df, table_path, batch_id)
        if compact_every and (batch_id + 1) % compact_every == 0:
            txlog.compact_table(batch_df.sparkSession, table_path)

    with pinned_state_partitions(spark):
        q = (
            ev.writeStream.foreachBatch(write_batch)
            .outputMode("append")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return txlog.read_table(spark, table_path)


