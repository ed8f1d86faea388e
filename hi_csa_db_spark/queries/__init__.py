"""The engine's query catalog: named queries + DuckDB oracle SQL.

Each entry re-expresses one operator family from SURVEY.md section 2
(reference file:line cited in the implementing operator's docstring)
or one BASELINE.json extension op, as a (PySpark plan, ANSI-SQL
oracle) pair. The driver runs both at sf0.01 and compares row count +
schema + order-insensitive value hash.

Cross-engine determinism rules used throughout:
- money/quantity aggregates go through DECIMAL so sums are exact and
  identical regardless of float add order; final cast to double;
- float similarity scores are ROUNDED (6 dp) before any ranking, with
  id tie-breaks, so top-k sets are stable;
- content hashes are md5 hex (portable across Spark/DuckDB/Python);
- event-time ordering/arithmetic uses int64 epoch MICROseconds on
  both sides (Spark: ``ts_ns div 1000``; oracle: ``epoch_us(ts)``) —
  a DECLARED precision no duckdb version's parquet TIMESTAMP_NS
  handling (us-truncating 1.0 vs ns-preserving >=1.1) can disagree
  with — never raw nanos, never engine timestamp arithmetic;
- every computed column is aliased identically in both dialects.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession


QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)


# ---------------------------------------------------------------------------
# Family modules. Importing each one registers its queries through
# ``_register`` above, so the registry is in registration order: the
# order below, and within a module, source order. A family that uses
# another family's query imports it (q_corpus is listed before its
# users only to keep each family's block contiguous).
# ---------------------------------------------------------------------------

from hi_csa_db_spark.queries import (  # noqa: E402,F401
    q_relational,
    q_scalars,
    q_windows,
    q_temporal,
    q_quality,
    q_maintenance,
    q_corpus,
    q_dedup,
    q_mixture,
    q_similarity,
    q_streaming,
    q_stats,
    q_pipelines,
)
