"""Parse an uncompressed, non-rolling Spark event log into jobs, stages
and SQL executions, and attribute each job to a query, phase and layer.

Attribution reads the job description the tracer sets,
``<query>/<phase>[/<layer>.<func>]``. A job whose description is
Spark's own (a streaming micro-batch) is attributed to the innermost
traced span whose time window holds the job's submission time.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

PHASES = ("construct", "exec")

# Python-worker SQL metrics: accumulable name -> record key. Times are
# milliseconds, sizes bytes.
PY_ACCUMS = {
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "data sent to Python workers": "py_sent_b",
    "data returned from Python workers": "py_recv_b",
}
EXCHANGE_NODES = ("Exchange", "BroadcastExchange")


@dataclass
class Job:
    id: int
    desc: str | None
    submit_s: float
    stage_ids: list[int]


@dataclass
class Execution:
    id: int
    desc: str | None
    start_s: float
    final_exchanges: int = 0


@dataclass
class Log:
    jobs: dict[int, Job] = field(default_factory=dict)
    # stage id -> summed task metrics; a stage that never ran has no entry
    stages: dict[int, dict[str, float]] = field(default_factory=dict)
    executions: dict[int, Execution] = field(default_factory=dict)


def _count_exchanges(plan: dict) -> int:
    own = 1 if plan.get("nodeName") in EXCHANGE_NODES else 0
    return own + sum(_count_exchanges(c) for c in plan.get("children", ()))


def _task_metrics(ev: dict) -> dict[str, float]:
    tm = ev.get("Task Metrics") or {}
    sr = tm.get("Shuffle Read Metrics", {})
    sw = tm.get("Shuffle Write Metrics", {})
    out = {
        "tasks": 1,
        "task_failures": 1 if ev["Task Info"].get("Failed") else 0,
        "run_ms": tm.get("Executor Run Time", 0),
        "cpu_ns": tm.get("Executor CPU Time", 0),
        "gc_ms": tm.get("JVM GC Time", 0),
        "spill_mem_b": tm.get("Memory Bytes Spilled", 0),
        "spill_disk_b": tm.get("Disk Bytes Spilled", 0),
        "shuffle_read_b": sr.get("Remote Bytes Read", 0)
        + sr.get("Local Bytes Read", 0),
        "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
        "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
        "scan_b": tm.get("Input Metrics", {}).get("Bytes Read", 0),
        "scan_rows": tm.get("Input Metrics", {}).get("Records Read", 0),
        "output_b": tm.get("Output Metrics", {}).get("Bytes Written", 0),
        "output_rows": tm.get("Output Metrics", {}).get("Records Written", 0),
    }
    for acc in ev["Task Info"].get("Accumulables", ()):
        key = PY_ACCUMS.get(acc.get("Name"))
        if key is not None:
            out[key] = out.get(key, 0) + float(acc.get("Update") or 0)
    return out


def parse(lines) -> Log:
    """Build a :class:`Log` from an iterable of event-log JSON lines."""
    log = Log()
    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs[ev["Job ID"]] = Job(
                id=ev["Job ID"],
                desc=props.get("spark.job.description"),
                submit_s=ev["Submission Time"] / 1000.0,
                stage_ids=list(ev.get("Stage IDs", ())),
            )
        elif kind == "SparkListenerTaskEnd":
            agg = log.stages.setdefault(ev["Stage ID"], {})
            for k, v in _task_metrics(ev).items():
                agg[k] = agg.get(k, 0) + v
        elif kind.endswith("SQLExecutionStart"):
            log.executions[ev["executionId"]] = Execution(
                id=ev["executionId"],
                desc=ev.get("description"),
                start_s=ev["time"] / 1000.0,
                final_exchanges=_count_exchanges(ev.get("sparkPlanInfo", {})),
            )
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            ex = log.executions.get(ev["executionId"])
            if ex is not None:  # the last update is the final plan
                ex.final_exchanges = _count_exchanges(ev["sparkPlanInfo"])
    return log


def parse_file(path: str) -> Log:
    with open(path, encoding="utf-8") as f:
        return parse(f)


class Attributor:
    """Maps a (description, time) pair to the traced (pass, query, phase,
    layer) it belongs to, using the spans the tracer recorded."""

    def __init__(self, spans: list[dict]):
        self.spans = sorted(spans, key=lambda s: s["start"])
        self.by_id = {s["id"]: s for s in spans}

    def _innermost(self, t: float) -> dict | None:
        best = None
        for s in self.spans:  # by start: the last span covering t is innermost
            if s["start"] > t:
                break
            if s["end"] >= t:
                best = s
        return best

    def _ancestor(self, span: dict | None, kind: str) -> dict | None:
        while span is not None and span["kind"] != kind:
            span = self.by_id.get(span["parent"])
        return span

    def __call__(self, desc: str | None, t: float) -> dict | None:
        """{'pass','query','phase','layer'} or None outside any pass."""
        span = self._innermost(t)
        pas = self._ancestor(span, "pass")
        if pas is None:
            return None
        parts = (desc or "").split("/", 2)
        if len(parts) >= 2 and parts[1] in PHASES:
            layer = parts[2].split(".", 1)[0] if len(parts) == 3 else None
            return {"pass": pas["name"], "query": parts[0],
                    "phase": parts[1], "layer": layer}
        call = self._ancestor(span, "call")
        phase = self._ancestor(span, "phase")
        query = self._ancestor(span, "query")
        return {
            "pass": pas["name"],
            "query": query["name"] if query else None,
            "phase": phase["name"] if phase else None,
            "layer": call["layer"] if call else None,
        }
