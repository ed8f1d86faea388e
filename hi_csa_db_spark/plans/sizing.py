"""Shuffle-partition sizing: the rule, as code (VERDICT r11 item 6).

The round-11 sixth-decade measurement (sf10-heaps, 60 M lineitem)
root-caused every superlinear drift in the scaling curve to ONE
cause: the rig's fixed 32 shuffle partitions reaching ~2 M rows each
and spilling. A controlled A/B (graph_degrees 69.9 s -> 29.9 s at 128
partitions, j3 8.5 -> 5.5 s; 22.6 s / 3.3 s at 256) showed plan shape
was never the problem — partition COUNT is the knob, and it must
scale with data while staying a multiple of core count so every wave
of tasks is full.

THE RULE
    partitions = max(cores,
                     ceil(largest_table_rows / TARGET_ROWS)
                     rounded UP to a multiple of cores)

with TARGET_ROWS = 500_000 — the sf10 calibration point: 60 M rows /
32 partitions = 1.9 M rows spilled; /128 = 469 k rows fit comfortably
in executor memory for the widest shuffle rows this engine produces
(exploded shingle/band rows ~100 B each => ~50 MB per partition,
inside the 64-128 MB/partition band the Spark tuning literature
targets). Row count is the right operand (not file bytes): parquet
compresses 5-20x, so bytes under-estimate in-memory width, while the
shuffle rows that spill are proportional to input ROWS.

On a cluster the same rule is just `cores x 2-3 where cores scales
with executors` — the deployment autoscales the operand this rig must
derive. Locally the derived count divided by the cores is the value
to set in SPARK_GRAFT_INITIAL_PARTS_MULT (AQE's initial partition
count; session.py applies it only when > 1, so the benchmark scale
keeps its measured core-count optimum).
"""

from __future__ import annotations

import glob
import math
import os

TARGET_ROWS_PER_PARTITION = 500_000


def fixture_max_table_rows(sf_dir: str) -> int:
    """Largest table's row count from parquet FOOTER metadata only —
    no scan, no Spark session (safe to call before session build)."""
    import pyarrow.parquet as pq

    best = 0
    for path in glob.glob(os.path.join(sf_dir, "*.parquet")):
        try:
            best = max(best, pq.ParquetFile(path).metadata.num_rows)
        except Exception:
            continue
    return best


def recommended_shuffle_partitions(sf_dir: str, cores: int) -> int:
    """THE sizing rule: enough partitions that the largest table's
    shuffle stays under TARGET_ROWS_PER_PARTITION rows/partition,
    rounded up to a multiple of ``cores`` (full task waves), floored
    at ``cores`` (never fewer partitions than slots)."""
    rows = fixture_max_table_rows(sf_dir)
    need = math.ceil(rows / TARGET_ROWS_PER_PARTITION) if rows else 0
    waves = math.ceil(need / cores) if cores > 0 else 0
    return max(cores, waves * cores)


