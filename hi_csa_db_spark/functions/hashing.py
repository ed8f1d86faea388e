"""Portable deterministic hashing.

All content hashes in the engine derive from md5 hex strings, NOT from
Spark's murmur3 ``hash()``: md5 produces identical output in Spark,
DuckDB, and Python, which makes every hash-dependent operator (minhash,
simhash, fingerprints, exact dedup) oracle-checkable and
engine-portable. md5 here is a deterministic mixer, not a security
primitive. This module is the only Spark-side code that turns md5 hex
into an integer (``hex_to_long``); the rules built on it (row
checksum, id shard, HLL registers) live here too.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_hex(col: Column) -> Column:
    return F.md5(col.cast("string"))


def hex_to_long(hexcol: Column, nchars: int = 15, start: int = 1) -> Column:
    """Hex chars ``start .. start + nchars - 1`` -> non-negative bigint.

    15 hex chars = 60 bits, always positive in an int64 (DuckDB parity:
    ``CAST('0x' || substring(md5(x), start, nchars) AS BIGINT)``). The
    window is one ``substring``: a later window taken as
    ``hex_to_long(F.substring(h, i, n), n)`` would nest two, which
    Catalyst does not fold, so the plan would differ from the one-call
    form.
    """
    return F.conv(F.substring(hexcol, start, nchars), 16, 10).cast("long")


def stable_long_hash(col: Column, seed: str = "") -> Column:
    """60-bit stable content hash of a string column (optionally seeded)."""
    seeded = F.concat(F.lit(seed), F.lit(":"), col.cast("string")) if seed else col.cast("string")
    return hex_to_long(F.md5(seeded))


def row_checksum(col: Column) -> Column:
    """Per-row summand of an order-insensitive content checksum: the
    60-bit md5 of ``col`` mod 2^31 - 1, so a bigint SUM over any
    table stays far from overflow."""
    return stable_long_hash(col) % 2147483647


def id_shard16(col: Column) -> Column:
    """16-way shard of an id: the first hex digit of its md5."""
    return hex_to_long(md5_hex(col), 1)


def hll_bucket_rem(key: Column) -> list[Column]:
    """``bucket`` and ``rem`` columns of the deterministic 256-register
    HyperLogLog: the first md5 byte picks the register, the next 52
    bits are the remainder whose leading zeros ``hll_rank`` counts."""
    h = md5_hex(key)
    return [hex_to_long(h, 2).alias("bucket"), hex_to_long(h, 13, start=3).alias("rem")]


def hll_rank(rem: Column) -> Column:
    """Register rank of a 52-bit remainder: leading-zero count + 1,
    capped at 50 so each harmonic term is an exact bigint power of 2."""
    return F.when(rem == 0, F.lit(50)).otherwise(
        F.least(F.lit(53) - F.length(F.bin(rem)), F.lit(50))
    )


def hll_harmonic_sum(m: str) -> Column:
    """Aggregate: exact ``sum(2^(50 - m))`` over the 256 registers of a
    group, ``m`` naming the rank column; a register with no row
    (absent, or a NULL ``m``) counts as rank 0."""
    return (
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(50 - {m} AS INT))"))
        + (256 - F.count(m)) * F.expr("shiftleft(CAST(1 AS BIGINT), 50)")
    ).cast("long")


def hll_estimate(ssum: Column) -> Column:
    """Raw HLL estimate ``alpha * m^2 / S`` from the harmonic sum in
    units of 2^-50: one IEEE step on exact inputs, no small-range
    correction."""
    return F.floor(
        (F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(256.0)))
        * F.lit(65536.0)
        * F.expr("CAST(shiftleft(CAST(1 AS BIGINT), 50) AS DOUBLE)")
        / ssum.cast("double")
    ).cast("long")


def knuth_hash32(col: Column) -> Column:
    """``(key * 2654435761) mod 2**32`` — Knuth's multiplicative hash —
    computed total-range-safely for ANY bigint key: the naive product
    overflows int64, i.e. throws under ANSI semantics, once keys
    exceed ~3.47e9 — exactly the regime a 100 TB corpus' doc_ids /
    cluster labels live in.

    Only the low 32 bits of the key affect the result (the product's
    high bits fall out of the mod), so the key reduces to
    ``k = key & 0xFFFFFFFF`` first, then splits into 16-bit halves:
    ``(hi*A mod 2^32)*2^16 + lo*A`` keeps every intermediate below
    2^49. Bit-ops only — stays in whole-stage codegen.

    DuckDB-parity SQL: ``KNUTH_HASH32_SQL.format(key=expr)``.
    """
    return mult_hash32(col, 2654435761)


def mult_hash32(col: Column, a) -> Column:
    """``(key * a) mod 2**32`` for any 32-bit multiplier ``a`` (an int
    literal or a Column of them — e.g. a hash-family dimension row)
    and ANY bigint key, in pure overflow-safe bigint arithmetic (the
    knuth_hash32 16-bit-halves construction, multiplier-parameterized
    for hash families like the CMS rows)."""
    if isinstance(a, int):
        assert 0 < a < 4294967296, a
        a = F.lit(a)
    k = col.cast("long").bitwiseAND(F.lit(4294967295))
    hi_part = (F.shiftright(k, 16) * a).bitwiseAND(
        F.lit(4294967295)
    ) * F.lit(65536)
    lo_part = k.bitwiseAND(F.lit(65535)) * a
    return (hi_part + lo_part).bitwiseAND(F.lit(4294967295))


# The same arithmetic as an ANSI-SQL template (DuckDB oracles): every
# intermediate < 2^49, so plain BIGINT throughout.
MULT_HASH32_SQL = (
    "((((({key} & 4294967295) >> 16) * {a}) & 4294967295) * 65536"
    " + (({key} & 65535) * {a})) & 4294967295"
)
KNUTH_HASH32_SQL = MULT_HASH32_SQL.replace("{a}", "2654435761")
