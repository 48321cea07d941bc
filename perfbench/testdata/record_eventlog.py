"""Record the small event log that test_eventlog.py reads.

    python3 perfbench/testdata/record_eventlog.py

Runs three calls on a 12-vertex graph under a traced session, with the
spans the benchmark would record, plus one job outside every span:

- ``sources.graph_json``: ``read_graph_json`` (its ``count()`` job has no
  call site);
- ``session``: ``minimal_coloring`` wrapped in a span of another layer,
  so its collect jobs (call site ``operators/coloring.py``) are credited
  to ``operators.coloring`` and its call-site-less jobs stay with
  ``session``;
- ``operators.coloring``: ``validate_coloring``.

It keeps only the job-start, stage-completed and task-end events plus
one SQL event the reader must skip, trims them to the fields the reader
uses (call-site paths made relative to the repo), and writes
``eventlog/events_1_test`` and ``spans.json`` here.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))

KEEP = {
    "SparkListenerJobStart": ("Event", "Job ID", "Submission Time", "Stage IDs", "Properties"),
    "SparkListenerStageCompleted": ("Event", "Stage Info"),
    "SparkListenerTaskEnd": ("Event", "Stage ID", "Task End Reason", "Task Metrics"),
}
STAGE_KEYS = ("Stage ID", "Number of Tasks", "Submission Time", "Completion Time")
TASK_METRICS = (
    "Executor Run Time",
    "Executor CPU Time",
    "Shuffle Write Metrics",
    "Disk Bytes Spilled",
)


def trim(e: dict) -> dict:
    out = {k: e[k] for k in KEEP[e["Event"]] if k in e}
    if "Properties" in out:
        # call sites name files by absolute path; keep them relative to
        # the repo so the recorded log does not depend on where it ran
        out["Properties"] = {
            k: v.replace(ROOT + os.sep, "")
            for k, v in out["Properties"].items()
            if k == "callSite.short"
        }
    if "Stage Info" in out:
        out["Stage Info"] = {k: out["Stage Info"][k] for k in STAGE_KEYS if k in out["Stage Info"]}
    if "Task Metrics" in out:
        tm = out["Task Metrics"]
        out["Task Metrics"] = {k: tm[k] for k in TASK_METRICS if k in tm}
    if "Task End Reason" in out:
        out["Task End Reason"] = {"Reason": out["Task End Reason"]["Reason"]}
    return out


def main() -> int:
    sys.path.insert(0, ROOT)
    from distributed_graph_coloring_with_pyspark_spark.operators.coloring import (
        minimal_coloring,
        validate_coloring,
    )
    from distributed_graph_coloring_with_pyspark_spark.session import get_spark
    from distributed_graph_coloring_with_pyspark_spark.sources.graph_json import read_graph_json

    work = tempfile.mkdtemp(prefix="record_eventlog_")
    try:
        graph = os.path.join(work, "g.json")
        n = 12
        with open(graph, "w") as fh:
            json.dump(
                [{"id": i, "neighbors": sorted({(i - 1) % n, (i + 1) % n}), "color": -1} for i in range(n)],
                fh,
            )
        logs = os.path.join(work, "log")
        os.makedirs(logs)
        spark = get_spark(
            app_name="record-eventlog",
            cpus=2,
            extra_conf={
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": logs,
                "spark.eventLog.compress": "false",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spans = []

        def span(layer, fn, *args):
            t0 = time.time() * 1e3
            out = fn(*args)
            spans.append({"layer": layer, "name": fn.__name__, "start_ms": t0, "end_ms": time.time() * 1e3})
            time.sleep(0.05)  # keep the next span's start strictly later
            return out

        nodes, edges = span("sources.graph_json", read_graph_json, spark, graph)
        spark.range(10).count()  # outside every span: must be ignored
        time.sleep(0.05)
        res = span("session", minimal_coloring, nodes, edges)
        span("operators.coloring", validate_coloring, res.vertices, edges)
        spark.stop()

        sys.path.insert(0, os.path.dirname(HERE))
        import eventlog

        kept, skipped = [], None
        for path in eventlog.log_files(logs):
            with open(path) as fh:
                for line in fh:
                    e = json.loads(line)
                    if e["Event"] in KEEP:
                        kept.append(trim(e))
                    elif skipped is None and e["Event"].endswith("SQLExecutionStart"):
                        skipped = {"Event": e["Event"], "executionId": e.get("executionId")}
        out_dir = os.path.join(HERE, "eventlog")
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)
        with open(os.path.join(out_dir, "events_1_test"), "w") as fh:
            for e in ([skipped] if skipped else []) + kept:
                fh.write(json.dumps(e, separators=(",", ":")) + "\n")
        with open(os.path.join(HERE, "spans.json"), "w") as fh:
            json.dump(spans, fh, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
