"""Schema-aligning unions (reference U-family).

``db_merge`` (hi-csa-db.Rmd:58-73) unions two frames with different
columns by adding each side's missing columns as NA and sorting column
names — exactly ``unionByName(allowMissingColumns=True)`` plus a sorted
projection. Union is shuffle-free in Spark; at 100 TB these are pure
narrow transformations.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def db_merge(x: DataFrame, y: DataFrame) -> DataFrame:
    merged = x.unionByName(y, allowMissingColumns=True)
    return merged.select(*sorted(merged.columns))


def union_streams(streams: dict[str, DataFrame], type_col: str = "type") -> DataFrame:
    """Tag each stream with a constant ``type`` column and union all.

    Reference U2: ``rbind(Technical, Policy, Support)`` with per-stream
    ``Type`` constants (hi-csa-db.Rmd:544,561-562,587,589).
    """
    tagged = [df.withColumn(type_col, F.lit(name)) for name, df in streams.items()]
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), tagged)


def upsert(base: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """MERGE/upsert without a table format: updates win on key match,
    unmatched base rows survive, new keys insert.

    The relational form of the reference's crawl-or-cache refresh
    (re-crawl replaces cached rows, hi-csa-db.Rmd:105-131). Expressed
    as base ANTI-JOIN updates (keep only un-updated base rows) UNION
    updates — two narrow passes, one shuffle on the key, no full outer
    join. With Delta/Iceberg this becomes MERGE INTO; the plan shape
    is the same.
    """
    kept = base.join(updates.select(*keys).distinct(), keys, "left_anti")
    return kept.unionByName(updates)
