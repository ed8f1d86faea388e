"""Sequence packing for training-context assembly.

The engine's prefix-sum packer (``pack_prefix``: x16_context_packing,
pipe_training_prep_v2) is fully relational — one shuffle, no
sequential state — but it packs in
doc-id order, so a long document can strand budget at every chunk
boundary. FIRST-FIT-DECREASING is the classic better packer
(guaranteed <= 11/9·OPT + 1 bins): sort items by size descending,
place each into the first bin it fits, open a new bin otherwise.
FFD is inherently sequential PER GROUP, which is exactly what
``applyInPandas`` distributes: one Arrow-batched pandas function per
source, sources packed in parallel across executors.

Scale notes: the sequential state is per-source (the packing group),
so parallelism = number of sources and memory = one source's doc
list; a source too large for one task would be pre-split by a hash
of a coarser key (the same salting story as skewed joins). The
operator is deterministic: items sort by (tokens desc, doc_id asc)
and bins are scanned in open order, so the assignment is a pure
function of the input set — pinned by an exact brute-force twin in
tests/test_r3_ops.py. No SQL oracle: FFD's loop-carried bin state is
not expressible in the oracle dialect without per-row recursion, so
the driver records the weaker rows-only check for the query entry.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

PACK_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("doc_id", LongType()),
        StructField("n_tokens", LongType()),
        StructField("bin_id", LongType()),
    ]
)


def pack_prefix(docs: DataFrame, budget: int) -> DataFrame:
    """``docs`` plus ``bin_id`` = floor(tokens before the doc / budget),
    the prefix sum of ``n_tokens`` running over each ``source`` in
    ``doc_id`` order: a doc straddling a boundary starts in the earlier
    bin (streaming chunking, no sequential state beyond the prefix
    sum)."""
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return docs.withColumn(
        "bin_id", F.floor(before / F.lit(float(budget))).cast("long")
    )


def ffd_pack_pdf(pdf: pd.DataFrame, budget: int) -> pd.DataFrame:
    """First-fit-decreasing over one group's rows (pandas, executor-
    side). Items above the budget get a dedicated bin each."""
    items = pdf.sort_values(
        ["n_tokens", "doc_id"], ascending=[False, True]
    ).itertuples(index=False)
    fills: list[int] = []  # bin_id -> current fill
    out_rows = []
    for it in items:
        n = int(it.n_tokens)
        placed = None
        if n <= budget:
            for b, fill in enumerate(fills):
                if fill + n <= budget:
                    placed = b
                    break
        if placed is None:
            placed = len(fills)
            fills.append(0)
        fills[placed] += n
        out_rows.append((it.source, int(it.doc_id), n, placed))
    return pd.DataFrame(out_rows, columns=["source", "doc_id", "n_tokens", "bin_id"])


def pack_ffd(
    docs: DataFrame,
    budget: int = 512,
    group_col: str = "source",
    id_col: str = "doc_id",
    tokens_col=None,
) -> DataFrame:
    """(source, doc_id, n_tokens, bin_id): FFD bin assignment per
    group. ``tokens_col``: a Column of item sizes (default: whitespace
    token count of ``text``)."""
    if tokens_col is None:
        tokens_col = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    sized = docs.select(
        F.col(group_col).alias("source"),
        F.col(id_col).alias("doc_id").cast("long"),
        tokens_col.cast("long").alias("n_tokens"),
    )
    return sized.groupBy("source").applyInPandas(
        lambda pdf: ffd_pack_pdf(pdf, budget), schema=PACK_SCHEMA
    )
