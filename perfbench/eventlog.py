"""Per-layer numbers from Spark's own event log.

The traced run enables Spark's event log (``spark.eventLog.enabled``,
uncompressed) and records a span around every call it makes into the
package.  This module reads the log back and credits each job, stage
and task to a layer:

- a job belongs to the span whose interval contains its submission
  time.  Calls are made one at a time, so the assignment is exact;
  jobs outside every span (set-up, warm-up, checks) are ignored;
- within a span, a job is credited to the package module named in its
  ``callSite.short`` when that module is one of ``LAYERS``, and to the
  span's own layer otherwise.  Jobs with no call site (AQE's own jobs,
  ``count()``) and streaming micro-batch jobs (whose call site is the
  stream thread's ``start``) therefore stay with the span's layer.
  Job groups cannot be used instead: a streaming query sets its run id
  as the group of every job it runs;
- a stage belongs to the first job that lists it; later jobs skip it.

A span's wall time is split into stage time (some stage of the span is
running; shared equally among the layers of the running stages) and
driver time (no stage running, credited to the span's layer).
``busy_s`` is the sum of both, so the layers' ``busy_s`` add up to the
traced calls' wall time.
"""

from __future__ import annotations

import json
import os
import re

LAYERS = (
    "session",
    "sources.graph_json",
    "operators.coloring",
    "streaming.ingest",
    "operators.text_dedup",
    "operators.classifier",
    "operators.curation",
    "operators.similarity",
    "streaming.vector_ingest",
)
GENERIC = (
    "busy_s",
    "driver_s",
    "jobs",
    "stages",
    "single_task_stages",
    "core_util",
    "executor_cpu_s",
    "shuffle_bytes",
    "spill_bytes",
    "failed_tasks",
)
_KEEP = tuple(
    '{"Event":"SparkListener' + e
    for e in ("JobStart", "StageCompleted", "TaskEnd")
)
_CALLSITE = re.compile(r"distributed_graph_coloring_with_pyspark_spark/([\w/]+)\.py:")


def log_files(log_dir: str) -> list[str]:
    """The event-log files under ``log_dir`` in write order: Spark 4
    writes a rolling ``eventlog_v2_<app>/events_<n>_<app>`` directory;
    a non-rolling log is one plain file."""
    out = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isdir(path) and name.startswith("eventlog_v2_"):
            parts = [f for f in os.listdir(path) if f.startswith("events_")]
            parts.sort(key=lambda f: int(f.split("_")[1]))
            out += [os.path.join(path, f) for f in parts]
        elif os.path.isfile(path) and not name.startswith("."):
            out.append(path)
    return out


def read_events(log_dir: str):
    """Yield the job-start, stage-completed and task-end events; the
    other events (SQL plans, AQE updates) are most of the bytes and are
    skipped before parsing."""
    for path in log_files(log_dir):
        with open(path) as fh:
            for line in fh:
                if line.startswith(_KEEP):
                    yield json.loads(line)


def module_of(callsite: str | None) -> str | None:
    m = _CALLSITE.search(callsite or "")
    return m.group(1).replace("/", ".") if m else None


def _span_index(spans, t: float) -> int | None:
    for i, s in enumerate(spans):
        if s["start_ms"] <= t <= s["end_ms"]:
            return i
    return None


def attribute(events, spans: list[dict], cores: int) -> tuple[dict[str, dict[str, float]], dict[str, int]]:
    """Per-layer totals over the traced spans: every ``GENERIC`` metric
    for every layer in ``LAYERS`` (zeros for a layer that ran nothing),
    and the number of jobs submitted inside the spans of each call name,
    whatever layer they are credited to.

    ``spans`` are dicts with ``layer``, ``name``, ``start_ms`` and
    ``end_ms`` (epoch milliseconds, the clock the event log uses)."""
    spans = sorted(spans, key=lambda s: s["start_ms"])
    job_layer: dict[int, str] = {}
    job_span: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            i = _span_index(spans, e["Submission Time"])
            if i is None:
                continue
            mod = module_of(e.get("Properties", {}).get("callSite.short"))
            job_layer[e["Job ID"]] = mod if mod in LAYERS else spans[i]["layer"]
            job_span[e["Job ID"]] = i
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stages[info["Stage ID"]] = info
        else:
            tasks.setdefault(e["Stage ID"], []).append(e)

    out = {layer: dict.fromkeys(GENERIC, 0.0) for layer in LAYERS}
    for layer in job_layer.values():
        out[layer]["jobs"] += 1
    jobs_by_name: dict[str, int] = {}
    for i in job_span.values():
        name = spans[i].get("name", "")
        jobs_by_name[name] = jobs_by_name.get(name, 0) + 1

    run_s = dict.fromkeys(LAYERS, 0.0)  # executor run time, for core_util
    per_span: dict[int, list[tuple[float, float, str]]] = {}
    for sid, info in stages.items():
        job = stage_job.get(sid)
        if job not in job_layer or "Submission Time" not in info:
            continue
        layer = job_layer[job]
        m = out[layer]
        m["stages"] += 1
        m["single_task_stages"] += info.get("Number of Tasks", 0) == 1
        for t in tasks.get(sid, []):
            tm = t.get("Task Metrics") or {}
            m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            run_s[layer] += tm.get("Executor Run Time", 0) / 1e3
            m["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            m["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            m["failed_tasks"] += (t.get("Task End Reason") or {}).get("Reason") != "Success"
        span = spans[job_span[job]]
        lo = max(info["Submission Time"], span["start_ms"])
        hi = min(info.get("Completion Time", span["end_ms"]), span["end_ms"])
        if hi > lo:
            per_span.setdefault(job_span[job], []).append((lo, hi, layer))

    for i, span in enumerate(spans):
        driver, shares = _split(span["start_ms"], span["end_ms"], per_span.get(i, []))
        out[span["layer"]]["driver_s"] += driver / 1e3
        out[span["layer"]]["busy_s"] += driver / 1e3
        for layer, ms in shares.items():
            out[layer]["busy_s"] += ms / 1e3

    for layer, m in out.items():
        m["core_util"] = run_s[layer] / (m["busy_s"] * cores) if m["busy_s"] > 0 else 0.0
    return out, jobs_by_name


def _split(start: float, end: float, intervals) -> tuple[float, dict[str, float]]:
    """Sweep ``[start, end]``: time with no interval open is driver
    time; time with intervals open is shared equally among the distinct
    layers of the open intervals."""
    points = sorted({start, end, *(p for lo, hi, _ in intervals for p in (lo, hi))})
    driver = 0.0
    shares: dict[str, float] = {}
    for a, b in zip(points, points[1:]):
        active = {layer for lo, hi, layer in intervals if lo <= a and hi >= b}
        if not active:
            driver += b - a
        for layer in active:
            shares[layer] = shares.get(layer, 0.0) + (b - a) / len(active)
    return driver, shares
