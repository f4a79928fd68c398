"""Tests of the benchmark's span attribution.

Run from the repository root: ``python3 -m pytest perfbench/test_spans.py -q``
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import (  # noqa: E402
    SPAN_PROPERTY,
    Span,
    Tracer,
    read_event_log,
    read_event_logs,
    span_metrics,
    union_length,
)


def _job_start(jid, ms, stages, span):
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": ms,
            "Stage IDs": stages, "Properties": {SPAN_PROPERTY: span}}


def _job_end(jid, ms):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": ms}


def _stage(sid, span):
    return {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": sid},
            "Properties": {SPAN_PROPERTY: span}}


def _task(sid, cpu_ns, python_bytes=0, write=0):
    accs = [{"Name": "data sent to Python workers", "Update": str(python_bytes)}]
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
            "Task Info": {"Accumulables": accs},
            "Task Metrics": {"Executor CPU Time": cpu_ns, "Disk Bytes Spilled": 0,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
                             "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                      "Local Bytes Read": 7}}}


# Two AQE query-stage jobs submitted together, the later id starting first
# and ending last (the shape of a sort-merge join's two map stages), then
# the result job. As in a real event log, the result job lists the two map
# stages under new ids (2, 3) and never runs them: their shuffle output is
# reused.
AQE_EVENTS = [
    _job_start(1, 10_000, [0], "s0"),
    _stage(0, "s0"),
    _job_start(0, 10_150, [1], "s0"),
    _stage(1, "s0"),
    _task(0, 2_000_000_000, write=100),
    _task(1, 1_000_000_000, write=50),
    _job_end(0, 11_200),
    _job_end(1, 12_900),
    _job_start(2, 13_000, [2, 3, 4], "s0"),
    _stage(4, "s0"),
    _task(4, 500_000_000, python_bytes=64),
    _job_end(2, 13_500),
]


def _log(events):
    return read_event_log(json.dumps(e) for e in events)


def test_union_length_merges_overlaps_and_keeps_gaps():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10


def test_driver_only_time_is_wall_minus_union_of_concurrent_jobs():
    log = _log(AQE_EVENTS)
    # the start - prev_end gap in job-id order (tools/profile_query.py)
    # goes negative on exactly this overlap
    prev_end, gaps = 9.5, []
    for jid in sorted(log.jobs):
        gaps.append(log.jobs[jid].start - prev_end)
        prev_end = log.jobs[jid].end
    assert min(gaps) < 0

    sp = Span(id="s0", layer="operators.schema_matching", what="", scope="pass1",
              parent=None, start=9.5, end=14.0)
    m = span_metrics([sp], log)["s0"]
    # jobs cover [10.0, 12.9] and [13.0, 13.5]: 3.4 s of the 4.5 s call
    assert m["driver_only_s"] == pytest.approx(4.5 - 3.4)
    assert m["jobs"] == 3 and m["stages"] == 3 and m["tasks"] == 3
    assert m["stages_skipped"] == 2
    assert m["task_cpu_s"] == pytest.approx(3.5)
    assert m["shuffle_write_bytes"] == 150 and m["shuffle_read_bytes"] == 21
    assert m["python_bytes"] == 64


def test_stages_skipped_and_jobs_stay_with_their_own_span():
    events = AQE_EVENTS + [
        _job_start(3, 14_100, [5, 6], "s1"),
        _stage(6, "s1"),
        _task(6, 1_000),
        _job_end(3, 14_300),
    ]
    spans = [
        Span(id="s0", layer="sink", what="", scope="p", parent=None, start=9.5, end=14.0),
        Span(id="s1", layer="sink", what="", scope="p", parent=None, start=14.0, end=14.5),
    ]
    m = span_metrics(spans, _log(events))
    assert m["s0"]["jobs"] == 3 and m["s0"]["stages_skipped"] == 2
    assert m["s1"]["jobs"] == 1 and m["s1"]["stages"] == 1
    assert m["s1"]["stages_skipped"] == 1
    assert m["s1"]["driver_only_s"] == pytest.approx(0.3)


def test_parent_span_self_time_excludes_children_and_sums_their_jobs():
    spans = [
        Span(id="s1", layer="operators.schema_matching", what="", scope="p",
             parent="s9", start=9.5, end=14.0),
        Span(id="s9", layer="pass", what="", scope="p", parent=None, start=9.0, end=15.0),
    ]
    m = span_metrics(spans, _log([{**e, "Properties": {SPAN_PROPERTY: "s1"}}
                                  if "Properties" in e else e for e in AQE_EVENTS]))
    assert m["s9"]["self_s"] == pytest.approx(6.0 - 4.5)
    assert m["s9"]["jobs"] == 3
    assert m["s9"]["driver_only_s"] == pytest.approx(6.0 - 3.4)


def test_live_concurrent_aqe_jobs(tmp_path):
    """A traced AQE join on a real session: its two map stages run as
    overlapping jobs, and the attribution stays within the call."""
    pytest.importorskip("pyspark")
    from run import build_session, stop_jvm

    from pyspark.sql import functions as F

    tracer = Tracer(enabled=True)
    tracer.scope = "pass1"
    spark = build_session(str(tmp_path), trace=True)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = spark.range(400_000).groupBy((F.col("id") % 1000).alias("k")).agg(F.sum("id").alias("a"))
        b = spark.range(300_000).groupBy((F.col("id") % 997).alias("k")).agg(F.max("id").alias("b"))
        with tracer.span("pass"):
            with tracer.span("sink", "collect"):
                a.join(b, "k").collect()
    finally:
        spark.stop()
        stop_jvm()
    log = read_event_logs(str(tmp_path / "events"))
    jobs = sorted((j.start, j.end) for j in log.jobs.values())
    assert any(s2 < e1 for (_, e1), (s2, _) in zip(jobs, jobs[1:])), jobs
    sink, whole = sorted(tracer.spans, key=lambda s: s.layer == "pass")
    m = span_metrics(tracer.spans, log)
    assert m[sink.id]["jobs"] == len(log.jobs) >= 3
    assert 0 <= m[sink.id]["driver_only_s"] <= sink.wall
    assert m[whole.id]["self_s"] == pytest.approx(whole.wall - sink.wall)
