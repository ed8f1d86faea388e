"""Canonicalization smoke tests (round-1 lesson).

The driver compares Spark and DuckDB outputs through a canonicalizer;
round 1 lost two queries to engine-side type widening (DuckDB HUGEINT
sums, ceil/floor DOUBLE-vs-BIGINT) that was invisible locally. These
tests pin the repo rule from NOTES.md: query output schemas carry no
raw DOUBLE (round them) and no integer values above 2^53 (hex-string
or BIGINT-cast them), because such values survive SOME canonicalizers
and not others.
"""

import ast
import os
import sys

from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from check_oracle import canon


def test_canon_integer_valued_floats_fold_to_int():
    assert canon(5.0) == canon(5) == "5"
    assert canon(-0.0) == canon(0) == "0"
    assert canon(True) == canon(1)


def test_canon_python_ints_are_exact_at_any_size():
    big = 2**60 + 1
    assert canon(big) == str(big)


def test_canon_decimal_goes_through_float_and_is_lossy_above_2_53():
    # THE hazard: a Decimal/HUGEINT-shaped 2^60+1 canonicalizes via
    # float64 and silently loses its low bits — while the same value as
    # a Python/int64 int canonicalizes exactly. Any >2^53 aggregate can
    # therefore hash-match locally and mismatch in the driver (d4
    # round-1 failure). Outputs must emit hex strings or BIGINT casts.
    big = 2**60 + 1
    assert canon(Decimal(big)) != canon(big)


def test_canon_boundary_1e15():
    # the int-folding shortcut stops at 1e15; both sides of the
    # boundary must still be deterministic
    assert canon(float(10**15 - 1)) == str(10**15 - 1)
    assert canon(float(10**15 + 2)) == repr(float(10**15 + 2))


def test_duckdb_hugeint_sum_vs_bigint_cast():
    con = duckdb.connect()
    big = 2**60 + 1
    q = f"SELECT SUM(x) AS s FROM (SELECT CAST({big} AS BIGINT) AS x)"
    raw = con.execute(q).fetchone()[0]
    capped = con.execute(
        f"SELECT CAST(SUM(x) AS BIGINT) AS s FROM (SELECT CAST({big} AS BIGINT) AS x)"
    ).fetchone()[0]
    # the BIGINT-cast path is exact in every client; the raw HUGEINT
    # path is exact only in clients that keep Python ints
    assert capped == big
    assert canon(capped) == str(big)
    # pandas materialization is where HUGEINT degrades: accept either
    # exact (int-preserving client) or demonstrate the documented loss
    pdf = con.execute(q).df()
    v = pdf["s"].iloc[0]
    if isinstance(v, float):
        assert int(v) != big  # the loss d4's hex output guards against

def test_duckdb_hex_matches_spark_hex_format():
    # d4 emits lpad(hex(bigint),16,'0') on both engines; formats must agree
    con = duckdb.connect()
    out = con.execute(
        "SELECT lpad(hex(CAST(1152921504606846975 AS BIGINT)), 16, '0')"
    ).fetchone()[0]
    assert out == "0FFFFFFFFFFFFFFF"  # uppercase, fixed width — Spark's F.hex ditto


# ---------------------------------------------------------------------------
# The text-normalization rule: functions.text.word_tokens vs _TOKS_SQL
# ---------------------------------------------------------------------------

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "hi_csa_db_spark"
)

# inputs on which both engines tokenize alike: punctuation runs, digits,
# mixed case, leading/trailing/only whitespace, empty, NULL, and
# non-ASCII letters that both engines strip
_AGREE = [
    "Hello, World!!",
    "a--b  c...d",
    "123 abc4 5x 007",
    "MiXeD CaSe",
    "  leading",
    "trailing   ",
    "   ",
    "",
    None,
    "ÄPFEL grün",
    "ẞtraße",
    "ﬁne",
]

# declared divergences: Spark strips then lowercases, DuckDB lowercases
# then strips, so a non-ASCII letter whose lowercase is ASCII survives
# only in DuckDB: KELVIN SIGN U+212A and LATIN CAPITAL I WITH DOT U+0130
# (text, Spark tokens, DuckDB tokens)
_DIVERGE = [
    ("\u212aelvin scale", ["elvin", "scale"], ["kelvin", "scale"]),
    ("\u0130stanbul", ["stanbul"], ["istanbul"]),
]


def _tokens_both(spark, texts):
    from pyspark.sql import functions as F

    from hi_csa_db_spark.catalog import local_frame
    from hi_csa_db_spark.functions.text import word_tokens
    from hi_csa_db_spark.queries._shared import _TOKS_SQL

    rows = list(enumerate(texts))
    df = local_frame(spark, rows, "id int, text string")
    got = {r.id: r.t for r in df.select("id", word_tokens(F.col("text")).alias("t")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = dict(con.execute(f"SELECT id, {_TOKS_SQL} FROM t").fetchall())
    return [(got[i], want[i]) for i, _ in rows]


def test_word_tokens_match_duckdb_toks_sql(spark):
    for text, (got, want) in zip(_AGREE, _tokens_both(spark, _AGREE)):
        assert got == want, (text, got, want)


def test_word_tokens_declared_non_ascii_divergence(spark):
    texts = [t for t, _, _ in _DIVERGE]
    got = _tokens_both(spark, texts)
    assert got == [(s, d) for _, s, d in _DIVERGE]


def _text_rule_copies(src: str, path: str = "<src>") -> list[int]:
    """Line of every inline copy of the normalization rule in ``src``:
    a ``strip_punct(...)`` call, or ``tokenize(...)`` over a ``lower``."""

    def name(f):
        return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)

    return sorted(
        node.lineno
        for node in ast.walk(ast.parse(src, path))
        if isinstance(node, ast.Call)
        and (
            name(node.func) == "strip_punct"
            or (
                name(node.func) == "tokenize"
                and node.args
                and isinstance(node.args[0], ast.Call)
                and name(node.args[0].func) == "lower"
            )
        )
    )


def test_no_text_rule_copies_outside_functions_text():
    # functions/text.py owns punct-strip -> lowercase -> split
    # (normalized_text, word_tokens); an inline chain is a second copy
    hits = []
    for dirpath, _, files in os.walk(_PKG):
        for name in files:
            path = os.path.join(dirpath, name)
            if not name.endswith(".py") or path.endswith(os.path.join("functions", "text.py")):
                continue
            with open(path, encoding="utf-8") as fh:
                lines = _text_rule_copies(fh.read(), path)
            hits += [f"{os.path.relpath(path, _PKG)}:{ln}" for ln in lines]
    assert hits == []


def test_text_rule_check_sees_every_form():
    src = (
        "a = tokenize(F.lower(strip_punct(F.col('text'))))\n"
        "b = F.lower(text.strip_punct(c))\n"
        "c = text.tokenize(F.lower(c))\n"
        "d = tokenize(F.col('text'))\n"
        "e = word_tokens(F.col('text'))\n"
    )
    assert _text_rule_copies(src) == [1, 1, 2, 3]
