"""The partition-sizing rule as a spec (VERDICT r11 item 6): the
recommended shuffle-partition count is DERIVED from fixture metadata,
so the next scaling decade starts pre-sized instead of re-discovering
the sf10 spill by measurement."""

from __future__ import annotations

import math

from hi_csa_db_spark.plans.sizing import (
    TARGET_ROWS_PER_PARTITION,
    fixture_max_table_rows,
    recommended_shuffle_partitions,
)


def test_metadata_rows_need_no_scan(sf_dir):
    # footer-only: lineitem is the largest shipped table at every sf
    rows = fixture_max_table_rows(sf_dir)
    assert rows > 0


def test_small_fixtures_stay_at_core_count(sf_dir):
    # every shipped driver fixture (<= sf0.1, 600k-row lineitem) fits
    # core-count partitions => the measured bench optimum is what the
    # rule derives, and the knob stays off (mult == 1)
    assert recommended_shuffle_partitions(sf_dir, 32) == 32


def test_rule_reproduces_the_sf10_calibration(tmp_path):
    """60M-row lineitem (sf10-heaps) at 32 cores must derive 128
    partitions — the A/B-measured fix (graph_degrees 69.9 -> 29.9 s);
    sf30 (180M rows) derives 384 before anyone runs it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def fake_fixture(rows: int) -> str:
        d = tmp_path / f"sf_{rows}"
        d.mkdir()
        # footer metadata is what the rule reads; content is irrelevant
        t = pa.table({"x": pa.array([0], type=pa.int64())})
        pq.write_table(t, d / "lineitem.parquet")
        # rewrite with a metadata-only trick is overkill locally —
        # just write `rows` tiny rows when small, else synthesize via
        # the row-group API
        if rows <= 1000:
            pq.write_table(
                pa.table({"x": pa.array(range(rows), type=pa.int64())}),
                d / "lineitem.parquet",
            )
            return str(d)
        # batched writer: row count in footer without materializing
        # one giant array
        batch = pa.record_batch({"x": pa.array(range(100_000), type=pa.int64())})
        with pq.ParquetWriter(d / "lineitem.parquet", batch.schema) as w:
            for _ in range(rows // 100_000):
                w.write_batch(batch)
        return str(d)

    sf10 = fake_fixture(60_000_000 // 1000 * 1000)
    assert recommended_shuffle_partitions(sf10, 32) == 128
    sf30 = fake_fixture(180_000_000 // 1000 * 1000)
    assert recommended_shuffle_partitions(sf30, 32) == 384

    # the general contract: never below cores, always a multiple of
    # cores, and enough that rows/partition <= target
    for d, rows in ((sf10, 60_000_000), (sf30, 180_000_000)):
        for cores in (8, 32, 96):
            p = recommended_shuffle_partitions(d, cores)
            assert p >= cores and p % cores == 0
            assert rows / p <= TARGET_ROWS_PER_PARTITION or p == cores


def test_rule_formula_matches_closed_form():
    # spec sanity without fixtures: rounded-up waves of full cores
    from hi_csa_db_spark.plans import sizing

    real = sizing.fixture_max_table_rows
    try:
        for rows, cores, want in (
            (0, 32, 32),
            (499_999, 32, 32),
            (16_000_001, 32, 64),
            (60_000_000, 32, 128),
            (60_000_000, 96, 192),
        ):
            sizing.fixture_max_table_rows = lambda _d, r=rows: r
            got = sizing.recommended_shuffle_partitions("ignored", cores)
            assert got == want, (rows, cores, got, want)
            assert got == math.ceil(
                max(1, math.ceil(rows / 500_000)) / cores
            ) * cores or rows == 0
    finally:
        sizing.fixture_max_table_rows = real
