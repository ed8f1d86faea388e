"""Bloom-filter-pruned semi join, in pure Catalyst expressions.

The 100 TB problem: a semi join where the probe side is huge (the
fact) and the key set is selective but too large to broadcast as a
hash-join build side. The classic engine answer (Spark's own runtime
row-level filtering, Trino's dynamic filters) is to ship a compact
BLOOM FILTER of the key set to the probe scan, drop the rows that
cannot match, and only shuffle the survivors into the real join.

Spark 4 builds such filters internally (InjectRuntimeFilter) but does
not expose ``bloom_filter_agg``/``might_contain`` in the public
function registry, so this module builds the same structure
relationally, with zero UDFs:

- the filter is a bit array of ``m_bits`` bits stored as up to
  ``m_bits/64`` longs, built by hashing each key ``k_hashes`` times
  (``xxhash64(key, seed)`` per hash — deterministic, JVM-side) and
  OR-ing single-bit masks in one map-side-combined hash aggregate;
- the non-zero words pack into a single ``map<int,bigint>`` row
  (word index -> word) broadcast to the probe via crossJoin — KBs
  for the default 2^17 bits;
- the probe tests all ``k_hashes`` bit positions with
  ``element_at`` + dynamic ``shiftright`` — whole-stage-codegen'd
  integer ops, no Python;
- survivors are re-checked with an EXACT semi join, so the result
  equals the plain semi join bit-for-bit. False positives only cost
  a recheck; false negatives are impossible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _canon_key_sql(expr_sql: str) -> str:
    """Canonical hash form of a key expression, shared VERBATIM by the
    build and probe sides: xxhash64 hashes the physical type, so the
    two sides must agree on one rendering of equal VALUES, not equal
    types. A plain string cast only unifies integer widths — int 1
    probed as double renders '1.0' (or '1.00' as decimal), hashing
    different bits and silently dropping present keys. Routing every
    numeric through DECIMAL(38,18) first renders int 1, bigint 1,
    double 1.0, and decimal 1.00 identically; TRY_CAST falls back to
    the raw string form for non-numeric keys (and for numerics beyond
    the decimal(38,18) range ~1e20 — equal values fall back
    identically unless one side is float and the other decimal AT
    that magnitude, which is outside the supported key envelope)."""
    return (
        f"coalesce(CAST(TRY_CAST({expr_sql} AS DECIMAL(38,18)) AS STRING), "
        f"CAST({expr_sql} AS STRING))"
    )


def _bit_positions(key_sql: str, m_bits: int, k_hashes: int) -> list[Column]:
    """The k bit positions of the key expression (SQL text form):
    pmod(xxhash64(canonical(key), seed_i), m)."""
    ks = F.expr(_canon_key_sql(key_sql))
    return [
        F.pmod(F.xxhash64(ks, F.lit(i)), F.lit(m_bits)) for i in range(k_hashes)
    ]


def build_bloom(
    keys: DataFrame, key_col: str, m_bits: int = 1 << 17, k_hashes: int = 3
) -> DataFrame:
    """1-row DataFrame ``(bloom: map<int,bigint>)``: the bit array of
    the key set as sparse words (an absent word means all-zero bits).

    One explode (k rows per key) + one hash aggregate (bit_or of
    single-bit masks, map-side combined) + one 1-row collect_list —
    the filter is assembled distributed and never materializes as
    driver-side Python objects."""
    pos = keys.select(
        F.explode(F.array(*_bit_positions(key_col, m_bits, k_hashes))).alias(
            "pos"
        )
    )
    words = pos.groupBy(F.expr("CAST(pos div 64 AS INT)").alias("widx")).agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
        ).alias("word")
    )
    return words.agg(
        F.map_from_entries(F.collect_list(F.struct("widx", "word"))).alias("bloom")
    )


def bloom_might_contain(
    probe_col: str, m_bits: int = 1 << 17, k_hashes: int = 3
) -> Column:
    """Membership predicate for a probe column against a ``bloom``
    map column (attach via ``crossJoin(F.broadcast(build_bloom(...)))``):
    true iff every one of the k bit positions is set. Built with the
    SQL expression form because ``F.shiftright`` only accepts literal
    shift amounts while the position is data-dependent."""
    cond = None
    for i in range(k_hashes):
        # the same canonical form as _bit_positions — build and probe
        # must hash one rendering of equal values regardless of type
        hashed = f"xxhash64({_canon_key_sql(probe_col)}, {i})"
        hit = F.expr(
            f"(shiftright(coalesce(element_at(bloom, "
            f"CAST(pmod({hashed}, {m_bits}) div 64 AS INT)), "
            f"CAST(0 AS BIGINT)), "
            f"CAST(pmod({hashed}, {m_bits}) % 64 AS INT)) & 1) = 1"
        )
        cond = hit if cond is None else (cond & hit)
    return cond


def bloom_semi_join(
    probe: DataFrame,
    keys: DataFrame,
    probe_col: str,
    key_col: str,
    m_bits: int = 1 << 17,
    k_hashes: int = 3,
) -> DataFrame:
    """Exact left-semi join of ``probe`` against the distinct key set
    of ``keys``, Bloom-pruned: probe rows failing the broadcast filter
    never reach the join shuffle; survivors are re-checked exactly, so
    the result equals the plain semi join. The recheck is a regular
    (shuffled) semi join on purpose — the scenario this operator
    exists for is a key set too large to broadcast as a join build
    side, where only the bits fit on every executor."""
    distinct_keys = keys.select(F.col(key_col).alias("__bk")).distinct()
    bloom = build_bloom(distinct_keys, "__bk", m_bits, k_hashes)
    pruned = (
        probe.crossJoin(F.broadcast(bloom))
        .filter(bloom_might_contain(probe_col, m_bits, k_hashes))
        .drop("bloom")
    )
    return pruned.join(
        distinct_keys, F.col(probe_col) == F.col("__bk"), "left_semi"
    )


