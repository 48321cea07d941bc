"""Tests for the event-log reader, over a small recorded log
(``testdata/record_eventlog.py`` says how it was recorded).

    python3 -m pytest perfbench/test_eventlog.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402

DATA = os.path.join(HERE, "testdata")


@pytest.fixture(scope="module")
def recorded():
    with open(os.path.join(DATA, "spans.json")) as fh:
        spans = json.load(fh)
    events = list(eventlog.read_events(os.path.join(DATA, "eventlog")))
    layers, jobs_by_name = eventlog.attribute(events, spans, cores=2)
    return spans, events, layers, jobs_by_name


def _inside(spans, t):
    return any(s["start_ms"] <= t <= s["end_ms"] for s in spans)


def test_reader_keeps_only_the_events_it_uses(recorded):
    _, events, _, _ = recorded
    kinds = {e["Event"] for e in events}
    assert kinds == {
        "SparkListenerJobStart",
        "SparkListenerStageCompleted",
        "SparkListenerTaskEnd",
    }


def test_every_layer_reports_every_metric(recorded):
    _, _, layers, _ = recorded
    assert set(layers) == set(eventlog.LAYERS)
    for m in layers.values():
        assert set(m) == set(eventlog.GENERIC)
    assert layers["operators.curation"] == dict.fromkeys(eventlog.GENERIC, 0.0)


def test_jobs_outside_spans_are_ignored(recorded):
    spans, events, layers, jobs_by_name = recorded
    starts = [e for e in events if e["Event"] == "SparkListenerJobStart"]
    inside = [e for e in starts if _inside(spans, e["Submission Time"])]
    assert len(inside) < len(starts)  # the recorded spark.range(10).count()
    assert sum(m["jobs"] for m in layers.values()) == len(inside)
    assert sum(jobs_by_name.values()) == len(inside)


def test_call_site_moves_jobs_to_the_module_that_ran_them(recorded):
    spans, events, layers, jobs_by_name = recorded
    session = next(s for s in spans if s["layer"] == "session")
    in_session = [
        e
        for e in events
        if e["Event"] == "SparkListenerJobStart"
        and session["start_ms"] <= e["Submission Time"] <= session["end_ms"]
    ]
    named = [
        e for e in in_session
        if "operators/coloring.py" in e["Properties"].get("callSite.short", "")
    ]
    assert named and len(named) < len(in_session)
    # the session span's call-site-less jobs stay with it; the named ones
    # join the validate span's jobs under operators.coloring
    assert layers["session"]["jobs"] == len(in_session) - len(named)
    assert layers["operators.coloring"]["jobs"] > len(named)
    assert layers["sources.graph_json"]["jobs"] >= 1
    assert jobs_by_name["minimal_coloring"] == len(in_session)


def test_busy_time_adds_up_to_the_spans(recorded):
    spans, _, layers, _ = recorded
    wall = sum(s["end_ms"] - s["start_ms"] for s in spans) / 1e3
    assert sum(m["busy_s"] for m in layers.values()) == pytest.approx(wall, rel=1e-9)
    for m in layers.values():
        assert 0 <= m["driver_s"] <= m["busy_s"] + 1e-9
        assert m["single_task_stages"] <= m["stages"]
        assert m["failed_tasks"] == 0
    assert 0 < layers["operators.coloring"]["core_util"] <= 1


def test_split_shares_overlaps_and_finds_driver_time():
    driver, shares = eventlog._split(
        0.0, 10.0, [(1.0, 3.0, "a"), (2.0, 4.0, "b"), (2.0, 3.0, "a"), (6.0, 7.0, "b")]
    )
    assert driver == pytest.approx(6.0)  # [0,1] + [4,6] + [7,10]
    assert shares == pytest.approx({"a": 1.5, "b": 2.5})


def test_module_of_call_site():
    assert (
        eventlog.module_of(
            "collect at /x/distributed_graph_coloring_with_pyspark_spark/streaming/ingest.py:42"
        )
        == "streaming.ingest"
    )
    assert eventlog.module_of("start at NativeMethodAccessorImpl.java:0") is None
    assert eventlog.module_of(None) is None
