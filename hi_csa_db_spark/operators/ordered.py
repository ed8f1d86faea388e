"""Ordered-data operators (reference W/P-family).

The reference relies on R's implicit row order; Spark has none, so
every ordered operator here takes explicit ordering columns (design
rule from SURVEY.md section 7 step 3). All are window-function
compositions — no collect(), no driver-side loops, partitionable.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def forward_fill(
    df: DataFrame,
    value: Column,
    order_by: Sequence[str | Column],
    partition_by: Sequence[str | Column] = (),
    reset_on: Column | None = None,
) -> Column:
    """Carry the last non-null ``value`` forward in order.

    Re-expresses the reference's imperative sectionizer state
    (current_h3/current_h4 loop, hi-csa-db.Rmd:178-212) as
    ``last(..., ignorenulls=True)`` over an unbounded-preceding window.

    ``reset_on``: boolean column; when true the fill restarts (the
    reference's h4 context resets at each h3 — hi-csa-db.Rmd:193-210).
    Implemented as a running group id (count of reset rows so far)
    added to the window partition — still a single window stage, no
    shuffle beyond the partition keys.
    """
    parts = list(partition_by)
    if reset_on is not None:
        grp = F.sum(F.when(reset_on, 1).otherwise(0)).over(
            Window.partitionBy(*parts).orderBy(*order_by).rowsBetween(Window.unboundedPreceding, 0)
        )
        parts = parts + [grp]
    w = (
        Window.partitionBy(*parts)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return F.last(value, ignorenulls=True).over(w)


def ordered_slice_from_marker(
    df: DataFrame, marker: Column, order_by: Sequence[str | Column]
) -> DataFrame:
    """Keep rows at or after the first row matching ``marker`` in order.

    Reference P6: positional row-range slice from
    ``grep("Waste Storage Structure")`` to end (hi-csa-db.Rmd:444-446).

    Implemented as a scalar min over the matched rows' order key,
    broadcast back as a filter — two fully-parallel stages, instead of
    a global-order window (which would funnel the table through one
    partition at scale).
    """
    key = F.struct(*[F.col(c) if isinstance(c, str) else c for c in order_by])
    first = df.filter(marker).agg(F.min(key).alias("__k"))
    return (
        df.crossJoin(F.broadcast(first))
        .filter(key >= F.col("__k"))
        .drop("__k")
    )


def positional_update(
    df: DataFrame,
    match: Column,
    order_by: Sequence[str | Column],
    column: str,
    values: Sequence[str],
) -> DataFrame:
    """Overwrite ``column`` of matched rows with ``values`` in row order.

    Reference W4: the 5 "Energy" rows are overwritten with 5 specific
    practices positionally (hi-csa-db.Rmd:575-580). Matched rows get a
    row_number and read their replacement from a literal array with
    ``try_element_at``, which is NULL past the end of ``values`` (and
    safe under ANSI), so surplus matches keep their value. No table, no
    join, no driver loop. A NULL ``match`` counts as unmatched.
    """
    matched = F.coalesce(match, F.lit(False))
    w = Window.partitionBy(matched).orderBy(*order_by)
    pos = F.when(matched, F.row_number().over(w))
    new = F.try_element_at(F.array(*map(F.lit, values)), pos)
    return df.withColumn(column, F.coalesce(new, F.col(column)))


def first_row_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str | Column],
) -> DataFrame:
    """Deterministic first-row-per-key (reference A3).

    R's ``!duplicated(x)`` keeps the first occurrence in file order
    (hi-csa-db.Rmd:511); Spark's ``dropDuplicates`` picks an arbitrary
    row, so we pin the choice with row_number over an explicit order.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def global_row_numbers(
    df: DataFrame, key_col: str, num_partitions: int = 32
) -> DataFrame:
    """Distributed global row numbering by ``key_col``: adds ``rank``
    (1-based position in the total order) WITHOUT the single-partition
    window a naive ``row_number() OVER (ORDER BY k)`` plans.

    Range-partition by the key, number rows locally per partition, and
    add each partition's cumulative offset (a broadcast of one count
    per partition). The result is identical to the naive global window
    for unique keys, but every stage is parallel — the primitive behind
    scalable corpus shuffling into training order and deterministic
    shard assignment.

    Partition-count invariant: ranks depend only on the total key
    order, not on where range boundaries land, so local[32] and a
    1000-executor cluster agree row-for-row.

    The range-partitioned frame is MATERIALIZED once (localCheckpoint)
    before fanning out to the counts branch and the numbering branch:
    Spark's RangePartitioner samples boundaries with an RDD-id-derived
    seed, so two plan instantiations of the same repartitionByRange can
    pick DIFFERENT boundaries — the offsets would then be keyed to
    partition ids that don't match the rows' (observed: duplicate and
    missing ranks, intermittently). Materializing pins one concrete
    partitioning for both consumers; ranks remain boundary-invariant,
    so the OUTPUT is deterministic run to run. At cluster scale this
    is the standard "materialize the sorted run" barrier (reliable
    checkpoint or persisted shuffle output instead of executor-local
    blocks).
    """
    d = (
        df.repartitionByRange(num_partitions, F.col(key_col))
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = d.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n"))
    w_off = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "__pid", F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off")
    )
    w_local = Window.partitionBy("__pid").orderBy(key_col)
    return (
        d.join(F.broadcast(offsets), "__pid")
        .withColumn("rank", F.row_number().over(w_local) + F.col("__off"))
        .drop("__pid", "__off")
    )


def global_prefix_sums(
    df: DataFrame,
    key_col: str,
    sum_cols: list[str],
    num_partitions: int = 32,
) -> DataFrame:
    """Distributed prefix (running) sums of ``sum_cols`` in ``key_col``
    order — the cumulative-distribution primitive, built exactly like
    global_row_numbers: range-partition by the key, one local
    running-sum window per partition, plus broadcast per-partition
    offsets (one partial sum per partition per column). No
    single-partition global window anywhere; every stage is parallel
    and the result is partition-count invariant for unique keys.

    Adds ``cum_<col>`` per requested column.

    Materialized via localCheckpoint before the branch fan-out for the
    same reason as global_row_numbers: RangePartitioner's boundary
    sampling is seeded by RDD id, so the totals branch and the window
    branch could otherwise land on different partitionings.
    """
    d = (
        df.repartitionByRange(num_partitions, F.col(key_col))
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    totals = d.groupBy("__pid").agg(
        *[F.sum(c).alias(f"__t_{c}") for c in sum_cols]
    )
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "__pid",
        *[
            F.coalesce(F.sum(f"__t_{c}").over(w_off), F.lit(0)).alias(f"__off_{c}")
            for c in sum_cols
        ],
    )
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(key_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = d.join(F.broadcast(offsets), "__pid")
    for c in sum_cols:
        out = out.withColumn(f"cum_{c}", F.sum(c).over(w_local) + F.col(f"__off_{c}"))
    return out.drop("__pid", *[f"__off_{c}" for c in sum_cols])
