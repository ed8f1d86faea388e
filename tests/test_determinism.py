"""Cross-engine determinism guards (VERDICT r3 item 1).

Round 3 taught us that a query can pass the local oracle sweep and
still hash-mismatch on the driver host: a 1-ulp libm difference (or a
duckdb-version parquet-precision difference) flips a value that sits
exactly on a quantization boundary. These tests make that failure mode
VISIBLE LOCALLY by checking, on the actual fixtures, that every value
which crosses a float->int quantization in an oracle-checked query
clears its boundary by orders of magnitude more than the cross-libm
envelope (~4e-9 after the 1e6 scaling; we demand 1e-6).

Also pins the integer-division semantics both dialects are assumed to
share, and the exactness invariants the integer rewrites rely on.
"""

import math
import os

import duckdb
import pytest

from tests.conftest import SF_DIR

SF01 = "/root/testdata/sf0.01"

# distance (in units of 1) that every quantized value must keep from
# the nearest flip boundary. Cross-libm ln() disagreement is <= ~2 ulp
# of a ~20-magnitude double, i.e. ~7e-15 absolute, ~7e-9 after the 1e6
# scaling. 1e-6 is a 100x safety margin while still being essentially
# impossible to violate by bad luck (P ~ V * 2e-6 per fixture).
BOUNDARY_MARGIN = 1e-6


def _dsir_llr_values(sf_dir):
    """Every distinct token's llr * 1e6 + 0.5 (the exact value whose
    floor() becomes illr in _dsir_weight_frame), computed from exact
    integer counts in Python so the test is engine-independent."""
    con = duckdb.connect()
    rows = con.execute(
        f"""
        WITH toks AS (
          SELECT doc_id, lang, unnest(list_filter(
            string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
            x -> x <> '')) AS tok
          FROM read_parquet('{sf_dir}/documents.parquet')
        ),
        cs AS (
          SELECT tok, COUNT(*) AS c_s,
                 SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_t
          FROM toks GROUP BY tok
        )
        SELECT c_s, c_t,
               (SELECT SUM(c_s) FROM cs) AS t_s,
               (SELECT SUM(c_t) FROM cs) AS t_t,
               (SELECT COUNT(*) FROM cs) AS v
        FROM cs
        """
    ).fetchall()
    con.close()
    out = []
    for c_s, c_t, t_s, t_t, v in rows:
        llr = math.log((c_t + 1) / (t_t + v)) - math.log((c_s + 1) / (t_s + v))
        out.append(llr * 1_000_000 + 0.5)
    return out


@pytest.mark.parametrize(
    "sf_dir",
    [SF_DIR] + ([SF01] if os.path.isdir(SF01) else []),
)
def test_dsir_illr_boundary_distance(sf_dir):
    """No fixture token's llr may sit within BOUNDARY_MARGIN of the
    floor() flip boundary that defines illr — i.e. a driver host whose
    libm ln() differs from ours by several ulp still floors every
    token to the same integer micro-nat, so x23/x24/pipe_v3/pipe_v4
    are host-independent. If a future fixture regeneration violates
    this, change the 1e6 quantum (e.g. to the prime 999983) rather
    than shipping a coin-flip to the driver."""
    vals = _dsir_llr_values(sf_dir)
    # sanity: the corpus tokenized at all (the synthetic fixture
    # vocabulary is small — 31 distinct tokens at r4 vintage)
    assert len(vals) > 10
    worst = min(abs(v - round(v)) for v in vals)
    assert worst > BOUNDARY_MARGIN, (
        f"token llr within {worst!r} of an illr floor boundary at {sf_dir} "
        "— cross-libm flip risk; adjust the micro-nat quantum"
    )


@pytest.mark.parametrize(
    "sf_dir",
    [SF_DIR] + ([SF01] if os.path.isdir(SF01) else []),
)
def test_x20_p50n_offset_bound(sf_dir):
    """The x20 floor-division offset trick assumes the numerator
    p50n*20000 + 1e7*n_words is strictly positive (so trunc == floor
    on every engine). Verify the invariant on real fixture docs, with
    the exact integer feature sums the query uses."""
    from hi_csa_db_spark.operators import textstats

    stopwords = ", ".join(f"'{w}'" for w in textstats.STOPWORDS)
    con = duckdb.connect()
    rows = con.execute(
        f"""
        WITH qtoks AS (
          SELECT doc_id, unnest(list_filter(
            string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
            x -> x <> '')) AS w
          FROM read_parquet('{sf_dir}/documents.parquet')
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(length(w)) AS BIGINT) AS sum_len,
               CAST(SUM(CASE WHEN regexp_matches(w, '[a-z]') THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha,
               CAST(SUM(CASE WHEN w IN ({stopwords}) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
        FROM qtoks GROUP BY doc_id
        """
    ).fetchall()
    con.close()
    assert rows
    for n, sum_len, n_alpha, n_stop in rows:
        # worst case even if EVERY token were a stopword (n_stop <= n,
        # sum_len >= n): p50n >= n^2 - 150n + 30n - 200n = n^2 - 320n
        p50n_floor = n * n - 320 * n
        assert p50n_floor * 20000 + 10_000_000 * n > 0
        # and with the actual sums:
        p50n = n * n - 150 * n + 30 * sum_len + 100 * n_alpha - 200 * n_stop
        assert p50n * 20000 + 10_000_000 * n > 0


def test_trunc_division_semantics_match(spark):
    """Pin the assumption that Spark `div`/`%` and DuckDB `//`/`%`
    agree (truncate toward zero; remainder takes the dividend's sign)
    — the integer-rewrite oracles rely on it for every mixed-sign
    case, and the positive-offset trick removes even this dependency
    for the quantized scores. If a duckdb upgrade ever changes `//`
    to floor semantics, this test fails before the driver does."""
    cases = [(-7, 2), (7, -2), (-7, -2), (7, 2), (0, 3), (-9, 3)]
    con = duckdb.connect()
    duck = [
        con.execute(f"SELECT {a} // {b}, {a} % {b}").fetchone() for a, b in cases
    ]
    con.close()
    sparkr = [
        tuple(
            spark.sql(f"SELECT {a} div {b} AS d, {a} % {b} AS m").collect()[0]
        )
        for a, b in cases
    ]
    assert duck == sparkr


def test_env_fingerprint_emittable():
    """The fingerprint helper used by bench.py / check_oracle.py must
    always produce the fields that make driver-vs-local skew
    diagnosable (VERDICT r3 item 2)."""
    from hi_csa_db_spark.envinfo import env_fingerprint

    fp = env_fingerprint()
    for key in ("duckdb", "pyspark", "python", "timezone", "cpus", "platform"):
        assert key in fp and fp[key]


# ROUND-bearing oracles the boundary replay covers: near-dup and
# similarity scores, TPC-H pricing, the quality score, and the window
# and math suites.
_BOUNDARY_REPLAY = (
    "d3_ngram_jaccard_topk",
    "d12_containment_pairs",
    "q1_pricing_summary",
    "d2_minhash_lsh_pairs",
    "d14_minhash_calibration",
    "s1_cosine_topk",
    "s2_ivf_topk",
    "x3_quality_score",
    "w5_window_suite",
    "f_math_suite",
)


@pytest.mark.slow  # r13: ~53 s replay; slow tier
def test_round_boundary_stability_prefix():
    """Each oracle in ``_BOUNDARY_REPLAY`` must be stable when every
    ROUND input is perturbed by more than the cross-host skew envelope
    — i.e. no compared value sits close enough to a rounding boundary
    for another host's libm/ROUND implementation to flip it. See
    tools/boundary_sweep.py for the envelope argument."""
    import re
    import subprocess
    import sys as _sys

    import __spark_entry__ as m

    for q in _BOUNDARY_REPLAY:
        assert re.search(r"\bROUND\s*\(", m.oracle_sql()[q], re.IGNORECASE), q
    r = subprocess.run(
        [_sys.executable, "tools/boundary_sweep.py", SF01, *_BOUNDARY_REPLAY],
        capture_output=True,
        text=True,
        timeout=1200,
        cwd="/root/repo",
    )
    assert r.returncode == 0, r.stdout[-3000:] + r.stderr[-2000:]


def test_deterministic_hll_accuracy(spark):
    """a12's raw HLL estimate (m=256, sigma ~= 1.04/sqrt(256) = 6.5%)
    must land within 20% of the exact distinct count on real fixture
    groups — determinism alone is not enough, the sketch has to be a
    usable cardinality estimate."""
    import __spark_entry__ as m

    rows = m.queries()["a12_hll_deterministic"](spark, SF01).collect()
    assert rows
    for r in rows:
        assert r.n_exact > 0
        assert abs(r.hll_estimate - r.n_exact) <= 0.2 * r.n_exact, (
            r.l_returnflag,
            r.hll_estimate,
            r.n_exact,
        )


def test_logit_micro_matches_exact_rational():
    """Property: the offset floor-division form used by x20 computes
    EXACTLY floor(1e6 * logit) of the exact rational logit =
    (-3 + 0.02n + 0.6*sl/n + 2*na/n - 4*ns/n), for any feasible
    feature combination — the invariant the whole integer rewrite
    rests on."""
    from fractions import Fraction

    from hypothesis import given, strategies as st

    @given(
        n=st.integers(min_value=1, max_value=200_000),
        data=st.data(),
    )
    def check(n, data):
        sum_len = data.draw(st.integers(min_value=n, max_value=60 * n))
        n_alpha = data.draw(st.integers(min_value=0, max_value=n))
        n_stop = data.draw(st.integers(min_value=0, max_value=n))
        p50n = n * n - 150 * n + 30 * sum_len + 100 * n_alpha - 200 * n_stop
        a = p50n * 20000 + 10_000_000 * n
        assert a > 0  # the offset precondition
        got = a // n - 10_000_000
        logit = (
            Fraction(-3)
            + Fraction(2, 100) * n
            + Fraction(6, 10) * Fraction(sum_len, n)
            + 2 * Fraction(n_alpha, n)
            - 4 * Fraction(n_stop, n)
        )
        import math

        assert got == math.floor(logit * 1_000_000)
        # keep = sign of the exact rational
        assert (p50n >= 0) == (logit >= 0)

    check()


def test_dsir_microweight_matches_exact_floor():
    """Property: the +1e8*m offset floor-division in
    _dsir_weight_frame computes exactly floor(sum(tf*illr)/sum(tf))
    for any mix of positive/negative integer micro-nats."""
    import math

    from hypothesis import given, strategies as st

    @given(
        terms=st.lists(
            st.tuples(
                st.integers(min_value=1, max_value=1000),      # tf
                st.integers(min_value=-40_000_000, max_value=40_000_000),  # illr
            ),
            min_size=1,
            max_size=50,
        )
    )
    def check(terms):
        s = sum(tf * il for tf, il in terms)
        m = sum(tf for tf, _ in terms)
        got = (s + 100_000_000 * m) // m - 100_000_000
        assert got == math.floor(s / m) or got == s // m  # floor div exact
        assert got == s // m  # python // is floor for ints

    check()


def test_hll_register_merge_is_union(spark):
    """a12's registers are max-per-bucket of a deterministic hash, so
    OR-merging two shards' registers (elementwise max) must equal the
    registers of the union — the monoid property that makes the
    deterministic sketch incrementally maintainable."""
    from pyspark.sql import functions as F

    from hi_csa_db_spark.catalog import load_table

    li = load_table(spark, SF01, "lineitem").limit(20000)

    def regs(df):
        h = df.select(
            F.conv(
                F.substring(F.md5(F.col("l_orderkey").cast("string")), 1, 2), 16, 10
            )
            .cast("long")
            .alias("bucket"),
            F.conv(
                F.substring(F.md5(F.col("l_orderkey").cast("string")), 3, 13), 16, 10
            )
            .cast("long")
            .alias("rem"),
        )
        rank = F.when(F.col("rem") == 0, F.lit(50)).otherwise(
            F.least(F.lit(53) - F.length(F.expr("bin(rem)")), F.lit(50))
        )
        return {
            r.bucket: r.m
            for r in h.groupBy("bucket").agg(F.max(rank).alias("m")).collect()
        }

    a = li.filter(F.col("l_orderkey") % 2 == 0)
    b = li.filter(F.col("l_orderkey") % 2 == 1)
    ra, rb, rall = regs(a), regs(b), regs(li)
    merged = {
        k: max(ra.get(k, 0), rb.get(k, 0)) for k in set(ra) | set(rb)
    }
    assert merged == rall
