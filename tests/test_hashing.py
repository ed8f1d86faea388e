"""The hashing rules of functions/hashing.py against DuckDB and
Python: the overflow-safe 32-bit multiplicative hashes, the md5 ->
integer rules the oracles replay (hex windows, seeded hash, row
checksum, id shard, nibble split, HLL registers), and source checks
that no engine code computes the Knuth product or an md5 -> integer
conversion any other way."""

from __future__ import annotations

import ast
import hashlib
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from hi_csa_db_spark.functions.hashing import (
    KNUTH_HASH32_SQL,
    MULT_HASH32_SQL,
    hex_to_long,
    hll_bucket_rem,
    hll_harmonic_sum,
    hll_rank,
    id_shard16,
    knuth_hash32,
    md5_hex,
    mult_hash32,
    row_checksum,
    stable_long_hash,
)
from hi_csa_db_spark.queries._shared import _md5_nibble_split

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


# empty, non-ASCII, long, plain, NULL
_TEXTS = ["", "naïve café – 東京", "lorem ipsum " * 500, "42", None]


def _hex_sql(start: int, n: int, arg: str = "x") -> str:
    return f"CAST('0x' || substring(md5({arg}), {start}, {n}) AS BIGINT)"


def _md5_rules() -> list[tuple]:
    """(name, Spark column over ``x``, the DuckDB expression the oracles
    use) per rule; built on call, since a Column needs a live session."""
    x = F.col("x")
    return [
        ("hex1", hex_to_long(md5_hex(x), 1), _hex_sql(1, 1)),
        ("hex5", hex_to_long(md5_hex(x), 5), _hex_sql(1, 5)),
        ("hex15", hex_to_long(md5_hex(x)), _hex_sql(1, 15)),
        ("hex_at16", hex_to_long(md5_hex(x), 12, start=16), _hex_sql(16, 12)),
        ("stable", stable_long_hash(x), _hex_sql(1, 15)),
        ("seeded", stable_long_hash(x, seed="shard"), _hex_sql(1, 15, "'shard:' || x")),
        ("checksum", row_checksum(x), _hex_sql(1, 15) + " % 2147483647"),
        ("shard", id_shard16(x), _hex_sql(1, 1)),
        (
            "split",
            _md5_nibble_split(x),
            "CASE WHEN substr(md5(x), 1, 1) IN"
            " ('0','1','2','3','4','5','6','7','8','9','a','b') THEN 'train'"
            " WHEN substr(md5(x), 1, 1) IN ('c','d') THEN 'val' ELSE 'test' END",
        ),
    ]


def test_md5_rules_match_duckdb_and_python(spark):
    rules = _md5_rules()
    rows = [(i, t) for i, t in enumerate(_TEXTS)]
    df = spark.createDataFrame(rows, "i: int, x: string")
    got = {
        r["i"]: r
        for r in df.select("i", *[col.alias(name) for name, col, _ in rules]).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, x VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    sql = ", ".join(f"{expr} AS {name}" for name, _, expr in rules)
    want = {r[0]: r[1:] for r in con.sql(f"SELECT i, {sql} FROM t").fetchall()}
    for i, text in rows:
        assert tuple(got[i][name] for name, _, _ in rules) == want[i], text
        if text is None:
            assert got[i]["hex15"] is None and got[i]["split"] == "test"
            continue
        h = hashlib.md5(text.encode("utf-8")).hexdigest()
        assert got[i]["hex5"] == int(h[:5], 16)
        assert got[i]["hex_at16"] == int(h[15:27], 16)
        assert got[i]["checksum"] == int(h[:15], 16) % 2147483647


def test_hll_registers_and_harmonic_sum_match_python(spark):
    keys = list(range(300))
    df = spark.createDataFrame([(k,) for k in keys], "k: bigint")
    regs = df.select("k", *hll_bucket_rem(F.col("k"))).select(
        "k", "bucket", hll_rank(F.col("rem")).alias("rank")
    )
    for r in regs.collect():
        h = hashlib.md5(str(r["k"]).encode()).hexdigest()
        rem = int(h[2:15], 16)
        assert r["bucket"] == int(h[:2], 16)
        assert r["rank"] == (min(53 - rem.bit_length(), 50) if rem else 50)
    # a NULL register counts as rank 0, the same as an absent one
    m = spark.createDataFrame([(1, 3), (1, None), (1, 50), (2, 7)], "g: int, m: int")
    got = dict(m.groupBy("g").agg(hll_harmonic_sum("m").alias("s")).collect())
    assert got == {
        1: 2**47 + 1 + 254 * 2**50,
        2: 2**43 + 255 * 2**50,
    }


def _conv_calls(src: str, path: str = "<src>") -> list[int]:
    """Line of every ``conv(...)`` / ``F.conv(...)`` call in ``src``."""
    return [
        node.lineno
        for node in ast.walk(ast.parse(src, path))
        if isinstance(node, ast.Call)
        and (
            (isinstance(node.func, ast.Attribute) and node.func.attr == "conv")
            or (isinstance(node.func, ast.Name) and node.func.id == "conv")
        )
    ]


def test_no_conv_outside_hashing():
    # functions/hashing.py owns the md5 -> integer rule (hex_to_long);
    # an inline conv elsewhere is a second copy of it
    hits = []
    for dirpath, _, files in os.walk(_PKG):
        for name in files:
            path = os.path.join(dirpath, name)
            if not name.endswith(".py") or path.endswith(os.path.join("functions", "hashing.py")):
                continue
            with open(path, encoding="utf-8") as fh:
                lines = _conv_calls(fh.read(), path)
            hits += [f"{os.path.relpath(path, _PKG)}:{ln}" for ln in lines]
    assert hits == []


def test_conv_check_sees_both_forms():
    src = "a = F.conv(F.substring(h, 1, 15), 16, 10)\nb = conv(h, 16, 10)\nc = F.md5(h)\n"
    assert _conv_calls(src) == [1, 2]
