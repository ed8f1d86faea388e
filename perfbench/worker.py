"""One benchmark run in a fresh process: set up, then the first pass,
the discarded warm passes and the steady passes, each pass's outputs
checked after it. Started by ``run.py``, which prepares the data and
reads back the JSON this writes.

Usage: python3 perfbench/worker.py <config.json>
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a process, from /proc/<pid>/status."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def fence(spark) -> None:
    """Drop cached results and collect garbage, outside any timed region,
    so no pass reuses an earlier pass's results."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


class Runner:
    """Runs passes and counts the operations attempted and failed."""

    def __init__(self):
        self.attempted = 0
        self.failed: list[str] = []

    def run_pass(self, tracer, ops, kind: str, index: int, traced: bool) -> tuple[float, dict]:
        """Run every op once; returns (wall seconds, op name -> result)."""
        results = {}
        tracer.tag_jobs = traced
        t0 = time.perf_counter()
        with tracer.span("pass", kind=kind, index=index):
            for name, op in ops:
                self.attempted += 1
                try:
                    results[name] = op()
                except Exception:  # one failed op must not stop the run
                    self.failed.append(f"{kind}{index}:{name}")
                    traceback.print_exc(file=sys.stderr)
        return time.perf_counter() - t0, results


def main(cfg_path: str) -> int:
    with open(cfg_path, encoding="utf-8") as fh:
        cfg = json.load(fh)
    sys.path[:0] = [ROOT, HERE]
    from spans import Tracer

    import workloads

    plan = workloads.WORKLOADS[cfg["workload"]]
    queries = plan.queries
    traced = bool(cfg["trace"])
    run_dir = cfg["run_dir"]
    tracer = Tracer(run_id=os.path.basename(run_dir))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if traced:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )

    with tracer.span("setup"):
        with tracer.span("session.get_spark"):
            from hi_csa_db_spark import catalog
            from hi_csa_db_spark.session import get_spark

            spark = get_spark("perfbench", extra_conf=conf)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        if traced:
            tracer.attach(spark.sparkContext)
            tracer.tag_jobs = True
        with tracer.span("catalog.register_tables"):
            catalog.register_tables(spark, cfg["data_dir"])
    # phase -> seconds from spawn to its end
    timeline = {"tables_registered": time.time() - cfg["t_spawn"]}

    def mark(phase: str) -> None:
        timeline[phase] = time.time() - cfg["t_spawn"]

    runner = Runner()
    # the registry dict itself: queries() first spends 8-12 s ordering
    # all 465 queries by their sampling priority, which no pass needs
    from hi_csa_db_spark.queries import _QUERIES as registry
    out_root = os.path.join(run_dir, "out")
    if queries:
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        from check_oracle import table_fingerprint

    def make_ops(label: str):
        if queries:
            return None, workloads.query_ops(
                spark, tracer, cfg["data_dir"], queries, registry
            )
        return workloads.ingest_ops(
            spark, tracer, cfg["data_dir"], os.path.join(out_root, label),
            cfg["seed"], cfg["site"],
        )

    layer_counts: dict = {}

    def one_pass(kind: str, index: int, with_tags: bool) -> float:
        """Run a pass, then check its outputs outside the timed region."""
        label = f"{kind}{index}"
        state, ops = make_ops(label)
        dt, results = runner.run_pass(tracer, ops, kind, index, with_tags)
        mark(label)
        with tracer.span("check", index=label):
            try:
                if queries:
                    bad = workloads.check_queries(
                        results, cfg["oracle"], table_fingerprint
                    )
                else:
                    if not layer_counts:
                        layer_counts.update(workloads.ingest_counts(state))
                    bad = workloads.check_ingest(spark, state)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                bad = ["check_raised"]
        runner.failed += [f"check:{label}:{b}" for b in bad]
        del state, results
        shutil.rmtree(os.path.join(out_root, label), ignore_errors=True)
        return dt

    # first pass: fresh session, cold JIT and operator caches
    first_s = one_pass("first", 0, traced)
    # set-up ends after the first pass: the cold pass alone spread too
    # widely between runs to be a metric of its own
    setup_s = timeline["first0"]
    # fixed numbers of discarded warm passes and of steady passes; a
    # traced run alternates untagged and tagged steady passes, at least
    # untagged-tagged-untagged so that the warm-up trend cancels out of
    # their ratio, the tracing overhead
    warm: list[float] = []
    for i in range(plan.warm_passes):
        fence(spark)
        warm.append(one_pass("warm", i, traced))
    steady: list[float] = []
    steady_traced: list[float] = []
    n_steady = cfg["steady_passes"]
    for i in range(max(3, n_steady) if traced else n_steady):
        fence(spark)
        with_tags = traced and i % 2 == 1
        dt = one_pass("steady", i, with_tags)
        (steady_traced if with_tags else steady).append(dt)

    mark("steady")
    jvm_peak_rss_mb = vm_hwm_mb(jvm_pid)
    spark.stop()
    mark("stop")

    result = {
        "attempted": runner.attempted,
        "failed": runner.failed,
        "end_to_end": {
            "setup_s": setup_s,
            "steady_pass_s": statistics.median(steady),
            "jvm_peak_rss_mb": jvm_peak_rss_mb,
        },
        "passes": {
            "first": first_s,
            "warm": warm,
            "steady": steady,
            "steady_traced": steady_traced,
        },
        "timeline": timeline,
        "span_times": {
            f"{p['kind']}{p['index']}": {
                f"{c['name']}:{c.get('query', '')}": round(c["end"] - c["start"], 4)
                for c in tracer.spans
                if c["parent"] == p["id"]
            }
            for p in tracer.spans
            if p["name"] == "pass"
        },
    }
    if traced:
        import layers

        logs = [
            os.path.join(run_dir, "eventlog", f)
            for f in os.listdir(os.path.join(run_dir, "eventlog"))
        ]
        result["per_layer"], result["detail"] = layers.report(
            tracer.spans, logs[0], layer_counts,
            statistics.median(steady_traced) / statistics.median(steady),
        )
        tracer.write(cfg["spans_path"])
    with open(os.path.join(run_dir, "result.json"), "w", encoding="utf-8") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
