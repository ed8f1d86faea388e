"""The overflow-safe 32-bit multiplicative hashes (functions/hashing.py)
against Python's exact integer arithmetic, and a source check that no
engine code computes the Knuth product any other way."""

from __future__ import annotations

import ast
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from hi_csa_db_spark.functions.hashing import (
    KNUTH_HASH32_SQL,
    MULT_HASH32_SQL,
    knuth_hash32,
    mult_hash32,
)

_KNUTH = 2654435761
_KEYS = [0, 2**32 - 1, 4_000_000_000, 2**62, -123456789]
_MULTS = [_KNUTH, 2246822519, 3266489917]
_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "hi_csa_db_spark"
)


def test_knuth_and_mult_hash32_match_python(spark):
    df = spark.createDataFrame([(k, a) for k in _KEYS for a in _MULTS], "k: bigint, a: bigint")
    out = df.select(
        "k",
        "a",
        knuth_hash32(F.col("k")).alias("knuth"),
        mult_hash32(F.col("k"), F.col("a")).alias("by_col"),
        *[mult_hash32(F.col("k"), a).alias(f"m{a}") for a in _MULTS],
    )
    for r in out.collect():
        k = r["k"]
        assert r["knuth"] == (k * _KNUTH) % 2**32, k
        assert r["by_col"] == (k * r["a"]) % 2**32, (k, r["a"])
        for a in _MULTS:
            assert r[f"m{a}"] == (k * a) % 2**32, (k, a)


@pytest.mark.parametrize("k", _KEYS)
def test_hash32_sql_templates_match_python(k):
    con = duckdb.connect()
    key = f"CAST({k} AS BIGINT)"
    assert con.sql(f"SELECT {KNUTH_HASH32_SQL.format(key=key)}").fetchone()[0] == (
        k * _KNUTH
    ) % 2**32
    for a in _MULTS:
        sql = MULT_HASH32_SQL.format(key=key, a=a)
        assert con.sql(f"SELECT {sql}").fetchone()[0] == (k * a) % 2**32, a


def _is_knuth(node: ast.AST) -> bool:
    """The literal itself, or a call wrapping it (``F.lit(2654435761)``)."""
    if isinstance(node, ast.Constant):
        return node.value == _KNUTH
    if isinstance(node, ast.Call):
        return any(_is_knuth(a) for a in node.args)
    return False


def _naive_knuth_products() -> list[str]:
    """Every ``x * 2654435761`` Python expression under the package
    outside functions/hashing.py, as ``path:line``."""
    hits = []
    for dirpath, _, files in os.walk(_PKG):
        for name in files:
            path = os.path.join(dirpath, name)
            if not name.endswith(".py") or path.endswith(os.path.join("functions", "hashing.py")):
                continue
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.BinOp)
                    and isinstance(node.op, ast.Mult)
                    and (_is_knuth(node.left) or _is_knuth(node.right))
                ):
                    hits.append(f"{os.path.relpath(path, _PKG)}:{node.lineno}")
    return hits


def test_no_naive_knuth_product_outside_hashing():
    # (key * 2654435761) overflows int64 once key > ~3.47e9 and throws
    # under ANSI; knuth_hash32 computes the same value for any key.
    assert _naive_knuth_products() == []


def test_naive_knuth_product_check_sees_both_forms():
    tree = ast.parse("a = F.col('k') * F.lit(2654435761)\nb = 2654435761 * k\n")
    prods = [n for n in ast.walk(tree) if isinstance(n, ast.BinOp)]
    assert all(_is_knuth(p.left) or _is_knuth(p.right) for p in prods)
    assert len(prods) == 2
