"""Bounded operator-cache ledger (r13, VERDICT r12 item 5): cached
iterative layouts must not accumulate for the whole session."""

import pytest
from pyspark.sql import functions as F

from hi_csa_db_spark.operators import _cache_ledger
from hi_csa_db_spark.operators.graph import _iter_layout


@pytest.fixture(autouse=True)
def _clean_ledger():
    _cache_ledger.release_all()
    yield
    _cache_ledger.release_all()


def _distinct_frame(spark, i):
    return spark.range(i + 1, i + 20).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )


def test_eviction_unpersists_beyond_cap(spark, monkeypatch):
    monkeypatch.setattr(_cache_ledger, "_CAP", 3)
    frames = [
        _iter_layout(_distinct_frame(spark, i * 100), "src") for i in range(5)
    ]
    for f in frames:
        f.count()
    # ledger holds the 3 newest; the 2 oldest were unpersisted
    assert len(_cache_ledger._LEDGER) == 3
    assert frames[0].storageLevel.useMemory is False
    assert frames[1].storageLevel.useMemory is False
    assert frames[4].storageLevel.useMemory is True
    # evicted frames still compute correctly (recompute path)
    assert frames[0].count() == 19


def test_recache_same_plan_refreshes_recency(spark, monkeypatch):
    monkeypatch.setattr(_cache_ledger, "_CAP", 2)
    a = _iter_layout(_distinct_frame(spark, 0), "src")
    b = _iter_layout(_distinct_frame(spark, 1000), "src")
    a.count(), b.count()
    # re-register a plan semantically equal to `a` (the bench pass-2
    # path): `a` must move to the newest slot, so the next NEW plan
    # evicts `b`, not `a`.
    a2 = _iter_layout(_distinct_frame(spark, 0), "src")
    _iter_layout(_distinct_frame(spark, 2000), "src").count()
    assert a2.storageLevel.useMemory is True
    assert b.storageLevel.useMemory is False


def test_release_all(spark, monkeypatch):
    monkeypatch.setattr(_cache_ledger, "_CAP", 8)
    f = _iter_layout(_distinct_frame(spark, 0), "src")
    f.count()
    assert f.storageLevel.useMemory is True
    n = _cache_ledger.release_all()
    assert n >= 1
    assert f.storageLevel.useMemory is False
