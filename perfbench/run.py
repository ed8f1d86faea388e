"""Benchmark entry point: one workload, one fresh Spark process.

Usage (from the repository root):
  python3 perfbench/run.py --workload relational --seed 7 --seconds 10 --trace 0

Prepares the seeded inputs and the expected outputs outside all timing,
starts ``worker.py`` in a fresh process with its own Spark local and
output directories, waits for it and for its JVM to exit, removes the
directories, and prints one JSON line of results as the last line of
standard output. With ``--trace 0`` the metrics are the end-to-end ones;
with ``--trace 1`` the run also writes a Spark event log and reports
the per-layer metrics. The line before the result holds the run's
detail: settings, host probe, environment, table sizes, pass times and
(traced) the per-span breakdown.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
RUN_LIMIT_S = 170  # the whole run, generation and checks included

END_TO_END = {
    "setup_s": "s",
    "steady_pass_s": "s",
    "jvm_peak_rss_mb": "MB",
    "ok_ops_frac": "ratio",
}

SETTINGS_ENV = {
    # code-cache overflow silently stops JIT in long sessions (bench.py).
    # C1 only: with the C2 tier a pass's time tracks how far background
    # C2 compilation has got, which varied from run to run for 16 passes
    # and more. Serial GC: G1 grows the heap from pause-time feedback, so
    # peak memory and pass times varied with it (README, "JIT and GC").
    "SPARK_SUBMIT_OPTS": "-XX:ReservedCodeCacheSize=1g -XX:TieredStopAtLevel=1"
    " -XX:+UseSerialGC",
    "SPARK_GRAFT_DRIVER_MEM": "2g",
    "PYTHONHASHSEED": "0",
}


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def generate_tables(sf: float, seed: int) -> str:
    """Seeded tables for (sf, seed), generated once into the state dir."""
    import datagen_sf

    out = os.path.join(STATE, "data", f"sf{sf}-seed{seed}")
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        datagen_sf.SEED = seed
        with contextlib.redirect_stdout(sys.stderr):
            datagen_sf.generate(sf, tmp)
        os.rename(tmp, out)
    return out


def table_sizes(data_dir: str) -> dict:
    import pyarrow.parquet as pq

    from hi_csa_db_spark.catalog import TABLES

    out = {}
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        out[t] = {
            "rows": pq.ParquetFile(path).metadata.num_rows,
            "bytes": os.path.getsize(path),
        }
    return out


def oracle_fingerprints(data_dir: str, names, key: str) -> dict[str, str]:
    """DuckDB result fingerprint of each query's oracle twin, cached per
    (sf, seed) and SQL-text hash."""
    import duckdb
    from check_oracle import table_fingerprint

    from hi_csa_db_spark.catalog import TABLES
    # the registry dict itself: oracle_sql() first spends 8-12 s ordering
    # all 465 queries by their sampling priority
    from hi_csa_db_spark.queries import _ORACLES as sqls

    path = os.path.join(STATE, "oracle", f"{key}.json")
    cache = {}
    if os.path.exists(path):
        with open(path, encoding="utf-8") as fh:
            cache = json.load(fh)
    out, con = {}, None
    for name in names:
        digest = hashlib.sha1(sqls[name].encode()).hexdigest()
        if digest not in cache:
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(data_dir, t)}.parquet'"
                    )
            rel = con.sql(sqls[name])
            cols = [c.lower() for c in rel.columns]
            cache[digest] = table_fingerprint(cols, rel.fetchall())[0]
        out[name] = cache[digest]
    if con is not None:
        con.close()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(cache, fh)
    return out


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's cores since boot (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _group_alive(pgid: int) -> bool:
    """True while a live (non-zombie) process of the group exists."""
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _stop_group(pgid: int, grace_s: float) -> None:
    """Wait up to ``grace_s`` for a process group to exit, then kill what
    is left of it and wait until that is gone too."""
    end = time.time() + grace_s
    while _group_alive(pgid) and time.time() < end:
        time.sleep(0.05)
    if _group_alive(pgid):
        with contextlib.suppress(ProcessLookupError):
            os.killpg(pgid, signal.SIGKILL)
        while _group_alive(pgid):
            time.sleep(0.05)


def run_worker(cfg: dict, deadline: float) -> dict | None:
    """Start the worker, wait for it and its JVM, return its result."""
    run_dir = cfg["run_dir"]
    cfg_path = os.path.join(run_dir, "config.json")
    env = dict(os.environ)
    env.update(SETTINGS_ENV)
    env["SPARK_GRAFT_CPUS"] = str(cfg["cpus"])
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    env["PYSPARK_PYTHON"] = sys.executable
    # Python workers unpickle the site fetcher from workloads.py
    env["PYTHONPATH"] = os.pathsep.join(
        [HERE, ROOT] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
    )
    env["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.makedirs(env["SPARK_LOCAL_DIRS"])
    os.makedirs(env["TMPDIR"])
    cfg["t_spawn"] = time.time()
    with open(cfg_path, "w", encoding="utf-8") as fh:
        json.dump(cfg, fh)
    # The worker's stdout (Spark and engine chatter) goes to our stderr.
    # It leads its own process group, which its JVM and Python workers
    # join: waiting for the group waits for all of them.
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
        cwd=run_dir, env=env, stdout=sys.stderr, start_new_session=True,
    )
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        _stop_group(proc.pid, grace_s=0.0)
        proc.wait()
    _stop_group(proc.pid, grace_s=20.0)
    cfg["t_exit"] = time.time()
    result_file = os.path.join(run_dir, "result.json")
    if proc.returncode != 0 or not os.path.exists(result_file):
        return None
    with open(result_file, encoding="utf-8") as fh:
        return json.load(fh)


def main(argv: list[str] | None = None) -> int:
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="scale factor (default: the workload's)")
    args = ap.parse_args(argv)

    for need in ("hi_csa_db_spark/session.py", "tools/datagen_sf.py",
                 "tools/check_oracle.py", "__spark_entry__.py", "bench.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            return fail(f"{need} not found: run from a checkout of the engine")
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        return fail(f"unknown workload {args.workload!r}; "
                    f"choose from {sorted(workloads.WORKLOADS)}")
    name, plan = args.workload, workloads.WORKLOADS[args.workload]
    queries = plan.queries

    os.environ.update(SETTINGS_ENV)  # before bench.py sets its default
    from bench import host_speed_probe

    from hi_csa_db_spark.envinfo import env_fingerprint

    cpus = len(os.sched_getaffinity(0))
    sf = args.sf or plan.sf
    data_dir = generate_tables(sf, args.seed)
    run_dir = os.path.join(STATE, "runs", f"{name}-{os.getpid()}")
    spans_path = os.path.join(
        STATE, "traces", f"{name}-seed{args.seed}-{int(t_start)}.jsonl"
    )
    cfg = {
        "workload": name,
        "seed": args.seed,
        "trace": args.trace,
        "steady_passes": plan.steady_passes(args.seconds),
        "cpus": cpus,
        "data_dir": data_dir,
        "run_dir": run_dir,
        "spans_path": spans_path,
        "oracle": oracle_fingerprints(data_dir, queries, f"sf{sf}-seed{args.seed}")
        if queries else {},
        "site": {} if queries else workloads.make_site(args.seed),
    }
    detail = {
        "workload": name,
        "sf": sf,
        "seed": args.seed,
        "settings": {
            **SETTINGS_ENV,
            "SPARK_GRAFT_CPUS": cpus,
            "warm_passes": plan.warm_passes,
            "steady_passes": cfg["steady_passes"],
            "window_s": args.seconds,
            "trace": args.trace,
        },
        "host_md5_sec": host_speed_probe(),
        "env": env_fingerprint(),
        "tables": table_sizes(data_dir),
        "site_pages": len(cfg["site"]),
    }
    if args.trace:
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    steal_start = cpu_steal_s()
    try:
        res = run_worker(cfg, deadline=t_start + RUN_LIMIT_S)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    detail["host_steal_s"] = cpu_steal_s() - steal_start
    if res is None:
        return fail("worker failed; see the messages above")

    attempted, failed = res["attempted"], len(res["failed"])
    e2e = dict(res["end_to_end"], ok_ops_frac=(attempted - failed) / attempted)
    if args.trace:
        from layers import PER_LAYER

        units, values = PER_LAYER, res["per_layer"]
        detail["spans_file"] = os.path.relpath(spans_path, ROOT)
        detail["layers"] = res["detail"]
    else:
        units, values = END_TO_END, e2e
    timeline = {"prepare": cfg["t_spawn"] - t_start, **res["timeline"],
                "exit": cfg["t_exit"] - cfg["t_spawn"],
                "total": time.time() - t_start}
    detail.update(passes=res["passes"], span_times=res["span_times"], timeline=timeline,
                  failed_ops=res["failed"], end_to_end=e2e)
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
