"""catalog.spread_input: the narrow-input spread at the shared tokenizer.

A parquet scan with fewer row groups than ``defaultParallelism`` gets
one hash exchange on the consumer's key right above it; a wide scan,
an in-memory frame and a streaming frame come back unchanged. The
near-dup (MinHash-LSH) and quality (x20) aggregates keyed on doc_id
reuse that exchange instead of adding their own. Plans are read with
AQE off, so the executed plan is the final one and nothing runs.
"""

from __future__ import annotations

import os
import re
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from hi_csa_db_spark import catalog
from hi_csa_db_spark.catalog import load_table, spread_input
from hi_csa_db_spark.queries import queries


@contextmanager
def _aqe_off(spark):
    key = "spark.sql.adaptive.enabled"
    saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, saved)


def _plan_nodes(df) -> list[tuple[int, str]]:
    """(column, node text) per line of the executed plan's tree string;
    a node's parent is the nearest earlier line at a smaller column."""
    text = df._jdf.queryExecution().executedPlan().toString()
    nodes = []
    for line in text.splitlines():
        m = re.match(r"^([\s:+\-|]*)(?:\*\(\d+\) )?(\S.*)$", line)
        if m:
            nodes.append((len(m.group(1)), m.group(2)))
    return nodes


def _ancestors(nodes, i: int) -> list[str]:
    out, col = [], nodes[i][0]
    for c, text in reversed(nodes[:i]):
        if c < col:
            out.append(text)
            col = c
    return out


def _scans(nodes, table: str = "") -> list[int]:
    """Parquet scans of ``table``, or every scan when it is empty (the
    plan string cuts long temp-file locations short)."""
    return [
        i
        for i, (_, t) in enumerate(nodes)
        if t.startswith("FileScan parquet")
        and (not table or f"/{table}.parquet" in t)
    ]


def _write(path, rows: int, row_group_size: int) -> None:
    pq.write_table(
        pa.table({"k": list(range(rows)), "v": [f"r{i}" for i in range(rows)]}),
        path,
        row_group_size=row_group_size,
    )


def test_single_row_group_scan_gets_one_exchange_on_the_key(spark, tmp_path):
    cores = spark.sparkContext.defaultParallelism
    p = str(tmp_path / "narrow.parquet")
    _write(p, 64, 64)
    with _aqe_off(spark):
        nodes = _plan_nodes(spread_input(spark.read.parquet(p), "k"))
    (scan,) = _scans(nodes)
    above = [t for t in _ancestors(nodes, scan) if t != "ColumnarToRow"]
    assert re.match(rf"Exchange hashpartitioning\(k#\d+L?, {cores}\)", above[0]), above
    assert sum(t.startswith("Exchange") for _, t in nodes) == 1, nodes


def test_wide_in_memory_and_streaming_frames_come_back_unchanged(spark, tmp_path):
    cores = spark.sparkContext.defaultParallelism
    wide = str(tmp_path / "wide.parquet")
    _write(wide, 8 * cores, 8)
    assert pq.ParquetFile(wide).metadata.num_row_groups == cores
    frames = [
        spark.read.parquet(wide),
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        spark.readStream.schema("k long, v string").parquet(str(tmp_path)),
    ]
    for df in frames:
        assert spread_input(df, "k") is df


def test_rewritten_footer_is_re_read(spark, tmp_path):
    cores = spark.sparkContext.defaultParallelism
    p = str(tmp_path / "t.parquet")
    _write(p, 8 * cores, 8 * cores)
    narrow = spark.read.parquet(p)
    assert spread_input(narrow, "k") is not narrow
    assert catalog._ROW_GROUPS[p][1] == 1

    _write(p, 8 * cores + 1, 8)
    st = os.stat(p)
    wide = spark.read.parquet(p)
    assert spread_input(wide, "k") is wide
    assert catalog._ROW_GROUPS[p] == ((st.st_mtime_ns, st.st_size), cores + 1)


@pytest.mark.parametrize("name", ["d2_minhash_lsh_pairs", "x20_quality_classifier"])
def test_doc_id_aggregate_reuses_the_spread_exchange(spark, sf_dir, name):
    """The documents scan under the min-hash aggregate (d2, and d10 via
    _quality_survivor_drops) and under x20's feature aggregate has
    exactly one Exchange, the spread, before the doc_id aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    assert spread_input(docs, "doc_id") is not docs, "fixture must be narrow"
    with _aqe_off(spark):
        nodes = _plan_nodes(queries()[name](spark, sf_dir))
    scans = _scans(nodes, "documents")
    assert scans, nodes
    for i in scans:
        up = _ancestors(nodes, i)
        aggs = [
            k for k, t in enumerate(up) if re.match(r"\w*Aggregate\(keys=\[doc_id#", t)
        ]
        final = next(k for k in aggs if "partial_" not in up[k])
        exchanges = [k for k in range(final) if up[k].startswith("Exchange")]
        # one shuffle up to the final aggregate, and it is the spread:
        # below the partial aggregate, hash-partitioned on doc_id
        assert len(exchanges) == 1 and exchanges[0] < aggs[0], up[: final + 1]
        assert up[exchanges[0]].startswith("Exchange hashpartitioning(doc_id#")
