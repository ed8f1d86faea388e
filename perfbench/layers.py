"""Per-layer numbers of a traced run: spans joined to the Spark event log.

Layer = engine module. Setup layers are read from the setup spans; the
pass layers are medians over the traced steady passes, each pass
contributing the self time of its spans by name and the ``spark.*``
counters of the jobs attributed to the pass or any span below it.
"""

from __future__ import annotations

import statistics

import eventlog
from spans import descendants, self_times

# The per-layer metrics every workload reports (name -> unit). Layers a
# workload does not run report 0 for their counts.
PER_LAYER = {
    "session.start_s": "s",
    "catalog.register_s": "s",
    "catalog.register_jobs": "count",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.exec_s": "s",
    **eventlog.COUNTERS,
    "sources.crawl_pages": "count",
    "catalog.publish_files": "count",
    "catalog.publish_bytes": "bytes",
    "catalog.publish_bytes_per_row": "bytes",
    "streaming.batches": "count",
    "trace.overhead": "ratio",
    "trace.coverage": "ratio",
    "trace.unattributed_jobs": "count",
}

# Span name -> detail metric: the time of each ingest layer, which the
# query workloads never enter.
SPAN_METRICS = {
    "sources.crawl": "sources.crawl_s",
    "sources.parse": "sources.parse_s",
    "sources.txlog_write": "sources.txlog_write_s",
    "sources.txlog_merge": "sources.txlog_merge_s",
    "sources.txlog_compact": "sources.txlog_compact_s",
    "sources.txlog_read": "sources.txlog_read_s",
    "catalog.publish": "catalog.publish_s",
    "streaming.append": "streaming.append_s",
}


def _pass_metrics(p: dict, spans: list[dict], selfs: dict, job_span: dict, log) -> dict:
    below = descendants(spans, p["id"])
    ids = {p["id"]} | {s["id"] for s in below}
    jobs = [j for j, sid in job_span.items() if sid in ids]
    build_ids = {s["id"] for s in below if s["name"] == "queries.build"}
    m = {
        "queries.build_s": sum(selfs[s] for s in build_ids),
        "queries.build_jobs": sum(1 for j in jobs if job_span[j] in build_ids),
        "queries.exec_s": sum(selfs[s["id"]] for s in below if s.get("action")),
        **eventlog.counters(log, jobs),
        "trace.coverage": sum(
            s["end"] - s["start"] for s in below if s["parent"] == p["id"]
        )
        / (p["end"] - p["start"]),
    }
    for name, metric in SPAN_METRICS.items():
        m[metric] = sum(selfs[s["id"]] for s in below if s["name"] == name)
    for s in below:
        if "query" in s and s["name"] in ("queries.build", "queries.exec"):
            key = f"query.{s['query']}.{s['name'].split('.')[1]}_s"
            m[key] = m.get(key, 0.0) + selfs[s["id"]]
    return m


def report(
    spans: list[dict], log_path: str, layer_counts: dict, overhead: float
) -> tuple[dict, dict]:
    """-> (per-layer metrics, detail metrics), each name -> value."""
    log = eventlog.parse_file(log_path)
    job_span = eventlog.attribute(log, spans)
    selfs = self_times(spans)
    by_name = {s["name"]: s for s in spans if s["parent"] is not None}
    register = by_name["catalog.register_tables"]
    passes = [
        _pass_metrics(p, spans, selfs, job_span, log)
        for p in spans
        if p["name"] == "pass" and p["kind"] == "steady" and p["tagged"]
    ]
    merged = {
        k: statistics.median(m.get(k, 0.0) for m in passes)
        for k in sorted({k for m in passes for k in m})
    }
    per_layer = {
        "session.start_s": by_name["session.get_spark"]["end"]
        - by_name["session.get_spark"]["start"],
        "catalog.register_s": register["end"] - register["start"],
        "catalog.register_jobs": sum(
            1 for sid in job_span.values() if sid == register["id"]
        ),
        **{k: merged[k] for k in merged if k in PER_LAYER},
        "sources.crawl_pages": 0,
        "catalog.publish_files": 0,
        "catalog.publish_bytes": 0,
        "catalog.publish_bytes_per_row": 0.0,
        "streaming.batches": 0,
        **layer_counts,
        "trace.overhead": overhead,
        "trace.unattributed_jobs": sum(1 for sid in job_span.values() if sid is None),
    }
    detail = {k: v for k, v in merged.items() if k not in PER_LAYER}
    detail["trace.jobs_by_property"] = sum(
        1 for j in log.jobs.values() if j.span is not None
    )
    # jobs without the property inside tagged spans: the streaming ones
    tagged = {s["id"] for s in spans if s["tagged"]}
    detail["trace.jobs_by_time_tagged"] = sum(
        1 for j in log.jobs.values() if j.span is None and job_span[j.job_id] in tagged
    )
    detail["trace.passes"] = len(passes)
    return per_layer, detail
