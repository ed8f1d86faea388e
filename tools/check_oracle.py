"""Oracle parity check of the query registry.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB over the same parquet fixtures, then compares row count,
column names, and an order-insensitive canonical value hash.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
With SPARK_GRAFT_ORACLE_JSON=<path> set, also writes the per-query
result (rows/schema/hash match) as JSON, so two sweeps diff
mechanically.
"""

from __future__ import annotations

import math
import sys
import time
from datetime import date, datetime
from decimal import Decimal

import duckdb

sys.path.insert(0, "/root/repo")

from hi_csa_db_spark.catalog import TABLES
import __spark_entry__ as entrymod


def _vanilla_spark():
    """A deliberately conf-free SparkSession (master/cores only): the
    driver's harness builds its own session with none of our tuning, so
    the default local gate must prove every query works WITHOUT
    session.py's confs — fixture-vintage drift then fails locally first,
    not at the driver (the r1/r2 failure mode). Set
    SPARK_GRAFT_ORACLE_SESSION=tuned to use session.get_spark instead."""
    import os

    from pyspark.sql import SparkSession

    if os.environ.get("SPARK_GRAFT_ORACLE_SESSION") == "tuned":
        from hi_csa_db_spark.session import get_spark

        return get_spark("oracle-check")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "16")
    # JVM heap is NOT an SQL conf — vanillaness is about semantics
    # (timezone, AQE, shuffle partitions, parquet handling), which
    # stay at defaults. The default 1g driver heap is a harness-scale
    # limit only: whole-registry sf0.1 sweeps OOM'd at ~460 queries
    # (r9 at ~390 pre-unpersist-fix; r10 at 464 — same graph_mst
    # position, cascade-killing the context for every later query)
    # while each query is green in isolation. Same rationale as the
    # duckdb memory_limit below: the sweep must measure VALUE parity,
    # not RAM. The driver's own 50-query gate never approaches this.
    mem = os.environ.get("SPARK_GRAFT_ORACLE_DRIVER_MEM", "8g")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("oracle-check-vanilla")
        .config("spark.driver.memory", mem)
        .getOrCreate()
    )


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, Decimal):
        return canon(float(v))
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def table_fingerprint(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    import hashlib

    h = hashlib.md5("\n".join(lines).encode()).hexdigest()
    return h, lines


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    from hi_csa_db_spark.envinfo import env_fingerprint

    print(f"env: {env_fingerprint()}")
    spark = _vanilla_spark()
    con = duckdb.connect()
    # Local-sweep robustness only (the driver harness owns its own
    # connection): the composed pipe oracles spill past duckdb's
    # default in-memory temp space at sf0.1 (r3 NOTES addendum) — give
    # the oracle a disk temp dir and a bounded memory budget so the
    # 10x-scale stress sweep measures VALUE parity, not RAM.
    try:
        import os as _os

        _os.makedirs("/tmp/duckdb_oracle_tmp", exist_ok=True)
        con.execute("PRAGMA temp_directory='/tmp/duckdb_oracle_tmp'")
        con.execute("PRAGMA memory_limit='24GB'")
    except Exception:
        pass
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # Sweep-order robustness (VERDICT r10 item 3): two consecutive
    # rounds hit whole-registry sweep OOMs at ~460 queries, both
    # position-dependent and diagnosed post-hoc. With
    # SPARK_GRAFT_SWEEP_SHUFFLE=<seed> set, the sweep runs in a
    # seeded-random order instead of registry order, so an
    # accumulation bug surfaces as an order-INDEPENDENT failure (same
    # query red under two seeds => the query; different position =>
    # the accumulation). Peak driver heap is sampled after every
    # query and reported either way.
    import os as _os
    import random as _random

    names = [n for n in qs if not only or n in only]
    seed_env = _os.environ.get("SPARK_GRAFT_SWEEP_SHUFFLE")
    if seed_env:
        _random.Random(int(seed_env)).shuffle(names)
        print(f"sweep order: seeded shuffle (seed={seed_env})")
    _jrt = spark._jvm.java.lang.Runtime.getRuntime()
    peak_heap_mb = 0.0
    failed = []
    report: dict = {}
    for name in names:
        fn = qs[name]
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failed.append(name)
            # hard failures must still appear in the JSON report — a
            # mechanical diff keyed on present names would otherwise
            # read a crash as "not sampled" instead of red
            report[name] = {
                "rows_match": False, "schema_match": None, "hash_match": None,
                "spark_rows": None, "oracle_rows": None,
                "err": f"spark_error: {str(ex)[:300]}",
            }
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            report[name] = {
                "rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": len(srows), "oracle_rows": None, "err": "no_oracle",
            }
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = [c.lower() for c in rel.columns]
            banned = [
                f"{c}:{t}"
                for c, t in zip(rel.columns, rel.types)
                if any(b in str(t).upper() for b in ("HUGEINT", "UBIGINT"))
            ]
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            failed.append(name)
            report[name] = {
                "rows_match": False, "schema_match": None, "hash_match": None,
                "spark_rows": len(srows), "oracle_rows": None,
                "err": f"duckdb_error: {str(ex)[:300]}",
            }
            continue
        # OUTPUT SCHEMA RULE fast-fail (r4 verdict): the driver's
        # pandas canonicalization degrades HUGEINT (and maps UBIGINT
        # to uint64 vs Spark's signed long) even though OUR fetchall()
        # path below would absorb it — so a typed relation with those
        # families must fail HERE, locally, not in the next driver
        # round. Checked OUTSIDE the duckdb try so the report says
        # schema-rule violation, not "duckdb error" (ADVICE r5).
        if banned:
            msg = (
                f"oracle surfaces driver-lossy integer types {banned} "
                "— CAST the output aggregate to BIGINT"
            )
            print(f"FAIL {name}: schema-rule violation: {msg}")
            failed.append(name)
            report[name] = {
                "rows_match": False, "schema_match": None, "hash_match": None,
                "spark_rows": len(srows), "oracle_rows": None,
                "err": f"schema_rule_violation: {msg[:300]}",
            }
            continue
        try:
            drows = rel.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            failed.append(name)
            report[name] = {
                "rows_match": False, "schema_match": None, "hash_match": None,
                "spark_rows": len(srows), "oracle_rows": None,
                "err": f"duckdb_error: {str(ex)[:300]}",
            }
            continue
        scols_l = [c.lower() for c in scols]
        problems = []
        if sorted(scols_l) != sorted(dcols):
            problems.append(f"schema: spark={sorted(scols_l)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rows: spark={len(srows)} duck={len(drows)}")
        sh, slines = table_fingerprint(scols_l, srows)
        dh, dlines = table_fingerprint(dcols, drows)
        if sh != dh and not problems:
            sset, dset = set(slines), set(dlines)
            s_only = sorted(sset - dset)[:3]
            d_only = sorted(dset - sset)[:3]
            problems.append(f"hash: spark_only={s_only} duck_only={d_only}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failed.append(name)
        else:
            print(f"ok   {name}: {len(srows)} rows match ({time.time()-t0:.1f}s)")
        report[name] = {
            "rows_match": len(srows) == len(drows),
            "schema_match": sorted(scols_l) == sorted(dcols),
            "hash_match": sh == dh,
            "spark_rows": len(srows),
            "oracle_rows": len(drows),
            "err": None,
        }
        # cache hygiene for FULL-registry sweeps: 340 queries of
        # accumulated .cache() frames + streaming memory-sink tables
        # overflow the vanilla session's default 1g single-JVM heap
        # around query ~150 (observed: generic collect/parquet errors
        # on the LSH-cached family, reproducible at the same sweep
        # position, green in isolation). The driver's gate runs only a
        # 50-query prefix and never hits this; clearing between
        # queries keeps the local sweep's memory flat without touching
        # any compared value.
        try:
            spark.catalog.clearCache()
        except Exception:
            pass
        # clearCache drops SQL-cached frames but NOT the RDD blocks
        # behind lazy localCheckpoint() — the registry leans on those
        # for shared subtrees, and ~390 queries of retained checkpoint
        # blocks OOM the sweep JVM at sf0.1 (observed r9: heap
        # exhaustion at graph_mst/s7/s8, green in isolation). Each
        # query is fully collected by here, so its checkpoints are
        # dead weight: unpersist every retained RDD.
        try:
            for rdd_id in list(
                spark.sparkContext._jsc.getPersistentRDDs().keySet()
            ):
                spark.sparkContext._jsc.sc().unpersistRDD(rdd_id, False)
        except Exception:
            pass
        # Post-query used-heap sample (caches just cleared, so this
        # reads RETAINED memory — what actually accumulates across
        # the sweep, the quantity both OOM rounds lacked a number
        # for). Not a GC-exact figure; an upper bound is fine for
        # trend detection.
        try:
            used_mb = (
                _jrt.totalMemory() - _jrt.freeMemory()
            ) / 1048576.0
            peak_heap_mb = max(peak_heap_mb, used_mb)
        except Exception:
            pass
    import json

    print(f"peak driver heap (post-query samples): {peak_heap_mb:.0f} MiB")
    # The peak sample includes not-yet-collected garbage; the post-GC
    # figure is the true RETAINED footprint at sweep end — the number
    # that says whether the 8g sweep heap is headroom or a growing
    # requirement (ADVICE r10 item 4).
    try:
        spark._jvm.java.lang.System.gc()
        time.sleep(1.0)
        final_mb = (_jrt.totalMemory() - _jrt.freeMemory()) / 1048576.0
        print(f"final retained driver heap (post-GC): {final_mb:.0f} MiB")
    except Exception:
        pass
    out_path = _os.environ.get("SPARK_GRAFT_ORACLE_JSON")
    if out_path:
        # Rebuild in registry order before dumping (ADVICE r11): under
        # SPARK_GRAFT_SWEEP_SHUFFLE the report dict is built in the
        # shuffled execution order and json.dump preserves insertion
        # order, which broke the promised mechanical diff against a
        # registry-ordered driver run.
        ordered = {n: report[n] for n in qs if n in report}
        ordered.update({n: v for n, v in report.items() if n not in ordered})
        with open(out_path, "w") as fh:
            json.dump(ordered, fh, indent=2)
        print(f"json report: {out_path}")
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
