"""Degenerate-input parity: a query and its DuckDB oracle agree on an
empty table, not only on the shipped fixtures."""

from __future__ import annotations

import duckdb
import pyarrow.parquet as pq

from hi_csa_db_spark.queries import oracle_sql, queries


def test_t51_on_empty_events_returns_no_rows(spark, sf_dir, tmp_path):
    schema = pq.read_schema(f"{sf_dir}/events.parquet")
    path = str(tmp_path / "events.parquet")
    pq.write_table(schema.empty_table(), path)

    assert queries()["t51_event_regex_match"](spark, str(tmp_path)).collect() == []

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
        assert con.sql(oracle_sql()["t51_event_regex_match"]).fetchall() == []
    finally:
        con.close()
