"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

The engine lives in ``hi_csa_db_spark/``; this module is a thin
adapter over its query catalog, the hi_csa_db_spark/queries/ package.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hi_csa_db_spark import queries as qcat  # noqa: E402
from hi_csa_db_spark.flagship import flagship_query  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Re-expresses the reference's analytical core (scrape -> classify ->
    merge -> publish, SURVEY.md section 3 E3) over the driver fixtures:
    keyword-classified document stream unioned with two projected
    dimension streams, lookup-joined, filtered, deduplicated, ordered.
    """
    return flagship_query(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md section 2."""
    return qcat.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL per query (omitted entries get a
    rows-only check: streaming and other non-SQL-expressible ops)."""
    return qcat.oracle_sql()
