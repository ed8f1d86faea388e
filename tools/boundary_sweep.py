"""Round-boundary stability sweep (generalizes VERDICT r3 item 1b).

Round 3 proved that a query can be green on every local run and still
hash-mismatch on the driver: a libm ulp (or ROUND-implementation
difference) flips a value sitting on a quantization boundary. The
integer rewrites killed the known cases; this tool hunts the class.

Method: every ``ROUND(expr, k)`` in an oracle's SQL (nested ones
included) is rewritten to ``ROUND(((expr)*(1+delta)) + (delta), k)``
and the query is run twice, with +delta and -delta — a RELATIVE term
(host skew scales with ulp(value), so an absolute-only probe is
absorbed bit-for-bit at money-sum magnitudes) plus an ABSOLUTE term
(so values near zero are still moved). The probe is tiered by what
skew can actually reach a ROUND input on a different host:

- queries whose SQL calls libm transcendentals (ln/exp/pow): skew up
  to ~1e-12 absolute after typical tf/count amplification of the
  ~2e-16-relative libm error -> delta = 1e-12;
- libm-free queries: every upstream op is an IEEE basic op on exact
  integer/decimal inputs, bit-identical on every host; the only skew
  is a ROUND-implementation difference (~ulp of the value, ~1e-16)
  -> delta = 1e-15.

Both probes sit orders of magnitude below the 1e-6..1e-9 rounding
grids, so a boundary-clearing value can never false-flip. If both
runs produce identical results, NO compared value sits within the
skew envelope of a rounding boundary — the query cannot flip on any
host. If they differ, the query carries a latent coin-flip and should
be quantized integerly (the x20/DSIR treatment).

Exact-DECIMAL rounds (money at scale 2 rounded to 6dp) clear the
boundary by 5e-3 by construction, so they are never flagged.

Usage: python tools/boundary_sweep.py [sf_dir] [query ...]
Exit 1 if any query is boundary-unstable.
"""

from __future__ import annotations

import os
import re
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hi_csa_db_spark.catalog import TABLES


def perturb_rounds(sql: str, delta: float) -> str:
    """Rewrite every ROUND(expr, k) to
    ROUND(((expr) * (1 + delta)) + (delta), k) by paren matching.

    The perturbation carries BOTH a relative and an absolute term
    because cross-host skew does: libm/arithmetic error is relative
    (~ulp(value), so an absolute 1e-15 would be absorbed without a
    trace for values above ~9 — double rounding makes x + 1e-15 == x
    bit-for-bit at money-sum magnitudes), while near zero only the
    absolute term still moves the value. Scanning resumes INSIDE the
    rewritten expression (pos = start), so nested ROUNDs — e.g.
    chi2's per-cell ROUND(...,8) inside the outer ROUND(...,6) — are
    perturbed too."""
    out = sql
    pos = 0
    pat = re.compile(r"\bROUND\s*\(", re.IGNORECASE)
    while True:
        m = pat.search(out, pos)
        if not m:
            return out
        start = m.end()  # index just after '('
        depth = 1
        i = start
        last_comma = -1
        while i < len(out) and depth:
            c = out[i]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif c == "," and depth == 1:
                last_comma = i
            elif c == "'":
                i += 1
                while i < len(out) and out[i] != "'":
                    i += 1
            i += 1
        end = i - 1  # index of the matching ')'
        expr_end = last_comma if last_comma != -1 else end
        inner = out[start:expr_end]
        replacement = f"(({inner}) * (1 + {delta!r})) + ({delta!r})"
        out = out[:start] + replacement + out[expr_end:]
        # resume just inside the rewrite so nested ROUNDs are visited
        pos = start


def run(con, sql: str):
    """Canonicalize exactly like the driver's hasher (check_oracle.
    canon) so probe artifacts that the comparison would never see
    (-0.0 vs 0.0, decimal-vs-double formatting) cannot flag."""
    from tools.check_oracle import canon

    rel = con.sql(sql)
    cols = [c.lower() for c in rel.columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(
        tuple(canon(r[i] + 0.0 if isinstance(r[i], float) else r[i])
              for i in order)
        for r in rel.fetchall()
    )
    return rows


# Queries whose boundary-sitting values are EXACT by construction and
# rounded in DECIMAL arithmetic on both engines (half-away-from-zero,
# no float in the loop) — the probe's double promotion breaks an
# exactness the real comparison has, so a flip here is a false alarm.
SAFE_EXACT = {
    "t11_ewma_smoothing": (
        "EWMA terms are DECIMAL products of powers-of-two weights; "
        "sums terminate at >=7dp and ROUND runs on the DECIMAL type "
        "exactly on both engines"
    ),
    "mm6_jpeg_roundtrip": (
        "JPEG quantization rounds run on exact small rationals "
        "(8*(c-128)/9 of integer pixel classes) — IEEE basic ops, "
        "bit-identical on every host, no libm; values landing exactly "
        "on .5 land there everywhere, and the half-rounding agreement "
        "between the codec and DuckDB is hash-verified over ALL 256 "
        "pixel classes at three SFs. The relative probe moves these "
        "exact values off their construction, which the real "
        "comparison never does"
    ),
}


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql()
    con = duckdb.connect()
    # Same spill discipline as check_oracle: bound memory and pin the
    # temp dir OUTSIDE the repo — without temp_directory set, duckdb
    # spills to cwd/.tmp and an sf0.1 stress sweep can fill the disk
    # with stranded duckdb_temp_storage-*.tmp files (observed: 74 GB).
    os.makedirs("/tmp/duckdb_oracle_tmp", exist_ok=True)
    con.execute("PRAGMA temp_directory='/tmp/duckdb_oracle_tmp'")
    con.execute("PRAGMA memory_limit='24GB'")
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    unstable = []
    for name, sql in oracles.items():
        if only and name not in only:
            continue
        if not re.search(r"\bROUND\s*\(", sql, re.IGNORECASE):
            print(f"skip {name}: no ROUND")
            continue
        if name in SAFE_EXACT:
            print(f"skip {name}: exact-decimal rounds ({SAFE_EXACT[name][:40]}...)")
            continue
        uses_libm = bool(
            re.search(
                r"\b(ln|log|log2|log10|exp|pow|power)\s*\(", sql, re.IGNORECASE
            )
        )
        delta = 1e-12 if uses_libm else 1e-15
        try:
            hi = run(con, perturb_rounds(sql, delta))
            lo = run(con, perturb_rounds(sql, -delta))
        except Exception as ex:
            print(f"ERR  {name}: {str(ex)[:200]}")
            unstable.append(name)
            continue
        if hi == lo:
            print(f"ok   {name}: stable under +-{delta!r} at every ROUND")
        else:
            diff = len(set(hi) ^ set(lo))
            print(f"FLIP {name}: {diff} row(s) differ — boundary-sitting value")
            unstable.append(name)
    print(f"\n{len(unstable)} unstable" + (f": {unstable}" if unstable else ""))
    sys.exit(1 if unstable else 0)


if __name__ == "__main__":
    main()
