"""Default-tier oracle canary: the near-dup and curation queries that
share the dedup operators and the _shared curation helpers run end to
end and match their DuckDB oracles with the fingerprint
tools/check_oracle.py uses (columns, row count, order-insensitive
value hash). The full registry sweep stays in tools/check_oracle.py."""

from __future__ import annotations

import duckdb
import pytest

from hi_csa_db_spark.catalog import TABLES
from hi_csa_db_spark.queries import oracle_sql, queries
from tools.check_oracle import table_fingerprint

_CANARY = (
    "d2_minhash_lsh_pairs",
    "d3_ngram_jaccard_topk",
    "d6_dedup_survivors",
    "d9_incremental_lsh",
    "d10_quality_survivors",
    "d12_containment_pairs",
    "d18_dedup_cluster_stats",
    "d19_soft_dedup_weights",
    "er4_blocking_eval",
    "er6_bcubed_quality",
    "j2_keyword_classify",
    "x17_domain_mixture",
    "x21_temperature_mixture",
    "x24_dsir_resample",
    "x62_split_leakage",
    "x78_dedup_mixture_shift",
    "x81_cluster_safe_split",
    "x82_ablation_grid",
    "pipe_training_prep_v2",
    "pipe_training_prep_v3",
    "pipe_training_prep_v4",
    "pipe_training_prep_v5",
    "pipe_training_prep_v6",
    "stats_srm",
    "u23_backfill_plan",
    "t38_watermark_planner",
)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", _CANARY)
def test_query_matches_oracle(spark, sf_dir, duck, name):
    sdf = queries()[name](spark, sf_dir)
    scols = [c.lower() for c in sdf.columns]
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(oracle_sql()[name])
    dcols = [c.lower() for c in rel.columns]
    drows = rel.fetchall()
    assert sorted(scols) == sorted(dcols)
    assert len(srows) == len(drows)
    assert table_fingerprint(scols, srows)[0] == table_fingerprint(dcols, drows)[0]
