"""Per-layer metrics of a traced run, from its spans and its event log.

Every metric covers the timed passes only and is given per pass (the
total divided by the number of timed passes), so it does not depend on
how many passes fit in the run. A layer is a subpackage of
``gpd_lite_toolbox_spark`` or one of its top-level modules.
"""

from __future__ import annotations

import statistics

from eventlog import Attributor, parse_file

MB = 1024 * 1024

LAYERS = ("geometry", "operators", "vector", "text", "sources", "streaming",
          "media", "fixtures", "cache")
# Queries whose own records are reported as per-layer metrics; a query
# a workload does not run reads 0.
QUERY_METRICS = ("random_pts_poly", "ann_ivf_topk", "embedding_clusters",
                 "banned_phrase_hits_ac", "csv_roundtrip", "stream_dedup")

# (metric, unit, stage-sum key, scale)
STAGE_SUMS = (
    ("spark.tasks", "count", "tasks", 1),
    ("spark.task_failures", "count", "task_failures", 1),
    ("spark.executor_run_s", "s", "run_ms", 1e-3),
    ("spark.executor_cpu_s", "s", "cpu_ns", 1e-9),
    ("spark.gc_s", "s", "gc_ms", 1e-3),
    ("spill.disk_mb", "MB", "spill_disk_b", 1 / MB),
    ("spill.memory_mb", "MB", "spill_mem_b", 1 / MB),
    ("shuffle.write_mb", "MB", "shuffle_write_b", 1 / MB),
    ("shuffle.read_mb", "MB", "shuffle_read_b", 1 / MB),
    ("shuffle.fetch_wait_s", "s", "fetch_wait_ms", 1e-3),
    ("python.run_s", "s", "py_run_ms", 1e-3),
    ("python.start_s", "s", "py_start_ms", 1e-3),
    ("python.init_s", "s", "py_init_ms", 1e-3),
    ("python.sent_mb", "MB", "py_sent_b", 1 / MB),
    ("python.recv_mb", "MB", "py_recv_b", 1 / MB),
    ("scan.mb", "MB", "scan_b", 1 / MB),
    ("scan.rows", "count", "scan_rows", 1),
    ("output.mb", "MB", "output_b", 1 / MB),
    ("output.rows", "count", "output_rows", 1),
)


def _self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its child spans cover."""
    own = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] in own:
            own[s["parent"]] -= s["end"] - s["start"]
    return own


def _timed_ids(spans: list[dict], timed: set[str]) -> set[int]:
    """Ids of the spans inside a timed pass."""
    by_id = {s["id"]: s for s in spans}
    out = set()
    for s in spans:
        p = s
        while p is not None and not (p["kind"] == "pass" and p["name"] in timed):
            p = by_id.get(p["parent"])
        if p is not None:
            out.add(s["id"])
    return out


def per_layer(log_path: str, spans: list[dict], passes: list[dict],
              queries: list[str], cache_samples: list[tuple[float, int]],
              tmp_left_b: float):
    """Return ({metric: (value, unit)}, per-query report)."""
    n = len(passes)
    timed = {p["tag"] for p in passes}
    log = parse_file(log_path)
    where = Attributor(spans)
    m: dict[str, tuple[float, str]] = {}

    # jobs and the stages that ran for them (a stage that several jobs
    # list ran for the first of them; the others skipped it)
    jobs = []
    for job in sorted(log.jobs.values(), key=lambda j: j.id):
        at = where(job.desc, job.submit_s)
        if at is not None and at["pass"] in timed:
            jobs.append((job, at))
    seen: set[int] = set()
    listed = skipped = 0
    totals = {key: 0.0 for _, _, key, _ in STAGE_SUMS}
    layer_jobs = {layer: 0 for layer in LAYERS}
    construct_jobs = 0
    construct_cpu_ns = 0.0
    stages_run = 0
    for job, at in jobs:
        job_cpu = 0.0
        for sid in job.stage_ids:
            listed += 1
            if sid in seen or sid not in log.stages:
                skipped += 1
                continue
            seen.add(sid)
            stages_run += 1
            for key in totals:
                totals[key] += log.stages[sid].get(key, 0)
            job_cpu += log.stages[sid].get("cpu_ns", 0)
        if at["layer"] in layer_jobs:
            layer_jobs[at["layer"]] += 1
        if at["phase"] == "construct":
            construct_jobs += 1
            construct_cpu_ns += job_cpu
    m["spark.jobs"] = (len(jobs) / n, "count")
    m["spark.stages"] = (stages_run / n, "count")
    m["spark.stage_reuse"] = (skipped / listed if listed else 0.0, "ratio")
    m["spark.construct_jobs"] = (construct_jobs / n, "count")
    m["spark.construct_cpu_s"] = (construct_cpu_ns * 1e-9 / n, "s")
    for name, unit, key, scale in STAGE_SUMS:
        m[name] = (totals[key] * scale / n, unit)

    # final adaptive plans
    q_exch: dict[str, int] = {}
    for ex in log.executions.values():
        at = where(ex.desc, ex.start_s)
        if at is not None and at["pass"] in timed and at["query"]:
            q_exch[at["query"]] = q_exch.get(at["query"], 0) + ex.final_exchanges
    m["plan.final_exchanges"] = (sum(q_exch.values()) / n, "count")

    # call spans: calls and self time per layer
    own = _self_times(spans)
    inside = _timed_ids(spans, timed)
    calls = {layer: 0 for layer in LAYERS}
    self_s = {layer: 0.0 for layer in LAYERS}
    persists = 0
    for s in spans:
        if s["kind"] != "call" or s["id"] not in inside:
            continue
        if s["layer"] in calls:
            calls[s["layer"]] += 1
            self_s[s["layer"]] += own[s["id"]]
        persists += s["name"] == "cache.tracked_persist"
    for layer in LAYERS:
        m[f"{layer}.calls"] = (calls[layer] / n, "count")
        m[f"{layer}.self_s"] = (self_s[layer] / n, "s")
        m[f"{layer}.jobs"] = (layer_jobs[layer] / n, "count")
    m["cache.persists"] = (persists / n, "count")
    m["cache.released"] = (sum(p["released"] for p in passes) / n, "count")
    pass_windows = [(s["start"], s["end"]) for s in spans
                    if s["kind"] == "pass" and s["name"] in timed]
    held = [b for t, b in cache_samples
            if any(a <= t <= z for a, z in pass_windows)]
    m["cache.held_mb"] = (max(held, default=0) / MB, "MB")
    m["sources.tmp_left_mb"] = (tmp_left_b / MB, "MB")

    # per-query records
    report = {}
    for q in queries:
        report[q] = {
            "construct_s": statistics.median(
                p["queries"][q]["construct_s"] for p in passes),
            "exec_s": statistics.median(
                p["queries"][q]["exec_s"] for p in passes),
            "final_exchanges": q_exch.get(q, 0) // n,
            "construct_jobs": [
                {"id": j.id, "desc": j.desc} for j, at in jobs
                if at["query"] == q and at["phase"] == "construct"
                and at["pass"] == passes[0]["tag"]
            ],
        }
    for q in QUERY_METRICS:
        r = report.get(q, {"construct_s": 0.0, "exec_s": 0.0,
                           "final_exchanges": 0})
        m[f"query.{q}.construct_s"] = (r["construct_s"], "s")
        m[f"query.{q}.exec_s"] = (r["exec_s"], "s")
        m[f"query.{q}.final_exchanges"] = (r["final_exchanges"], "count")
    return m, report
