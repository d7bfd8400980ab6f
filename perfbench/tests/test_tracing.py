"""Tests of span recording and event-log attribution (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.tracing import (  # noqa: E402
    Span,
    Tracer,
    attribute,
    breakdown,
    parse_event_log,
    read_event_log,
    subtree_jobs,
)


def _job_start(job_id, t, desc=None, site=None, sql=None, stages=()):
    props = {}
    if desc is not None:
        props["spark.job.description"] = desc
    if site is not None:
        props["callSite.short"] = site
    if sql is not None:
        props["spark.sql.execution.id"] = str(sql)
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Submission Time": int(t * 1000), "Stage IDs": list(stages),
            "Properties": props}


def _job_end(job_id, t):
    return {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": int(t * 1000)}


def _sql_start(sql, target):
    plan = (
        "== Physical Plan ==\nAdaptiveSparkPlan (3)\n\n"
        "(2) Execute InsertIntoHadoopFsRelationCommand\nInput: []\n"
        f"Arguments: file:{target}, false, Parquet, Overwrite\n"
    )
    return {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "executionId": sql, "physicalPlanDescription": plan}


def _task_end(stage, cpu_ns, gc_ms=0, shuffle=0, spill=0, py_bytes=None):
    accs = []
    if py_bytes is not None:
        accs.append({"Name": "data sent to Python workers", "Update": str(py_bytes)})
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": accs},
            "Task Metrics": {
                "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
            }}


def _merge_log():
    """One merge (span op 7, 100.0-101.0 s) with: a parquet schema job, a
    Spark-renamed parallel listing job, the light pass, the main write and
    a compaction write; then a job after every span."""
    events = [
        _job_start(0, 100.05, "merge.merge#7", stages=[0]), _job_end(0, 100.10),
        _job_start(1, 100.10, "Listing leaf files and directories for 40 paths",
                   stages=[1]), _job_end(1, 100.20),
        _job_start(2, 100.20, "merge.merge#7", "collect at /x/plans/merge.py:920",
                   sql=1, stages=[2]), _job_end(2, 100.30),
        _sql_start(2, "/t/data/s000003-abc123"),
        _job_start(3, 100.30, "merge.merge#7", sql=2, stages=[3]), _job_end(3, 100.70),
        _sql_start(3, "/t/data/s000003-compact-def456"),
        _job_start(4, 100.70, "merge.merge#7", sql=3, stages=[4]), _job_end(4, 100.90),
        _job_start(5, 200.0, None, sql=4, stages=[5]), _job_end(5, 200.5),
        _task_end(3, 2_000_000_000, gc_ms=100, shuffle=10, spill=5),
        _task_end(3, 500_000_000, py_bytes=64),
        _task_end(4, 1_000_000_000),
    ]
    return [json.dumps(e) for e in events]


def test_parse_sums_task_metrics_per_job_and_reads_targets():
    jobs = {j.job_id: j for j in parse_event_log(_merge_log())}
    w = jobs[3]
    assert (w.start, w.end) == pytest.approx((100.30, 100.70))
    assert w.executor_cpu_s == pytest.approx(2.5)
    assert w.gc_s == pytest.approx(0.1)
    assert (w.shuffle_write_bytes, w.spill_bytes, w.python_bytes_sent) == (10, 5, 64)
    assert w.target == "file:/t/data/s000003-abc123"
    assert jobs[4].target.endswith("-compact-def456")


def test_jobs_are_classified_by_call_site_and_target():
    kinds = {j.job_id: j.kind for j in parse_event_log(_merge_log())}
    assert kinds == {0: "listing", 1: "listing", 2: "light_pass", 3: "write",
                     4: "compact", 5: "write"}


def test_attribution_by_description_then_by_time():
    jobs = parse_event_log(_merge_log())
    cycle = Span("stream.run_cycle", 6, None, 99.9, 101.2)
    merge = Span("merge.merge", 7, 6, 100.0, 101.0)
    attribute([cycle, merge], jobs)
    spans = {j.job_id: j.span for j in jobs}
    # job 1's description was overwritten by Spark; it started inside the
    # merge, the innermost open span
    assert spans == {0: 7, 1: 7, 2: 7, 3: 7, 4: 7, 5: None}
    assert [j.job_id for j in subtree_jobs(cycle, [cycle, merge], jobs)] == [0, 1, 2, 3, 4]


def test_breakdown_parts_and_remainder_sum_to_the_wall():
    jobs = parse_event_log(_merge_log())
    cycle = Span("stream.run_cycle", 6, None, 99.9, 101.2)
    merge = Span("merge.merge", 7, 6, 100.0, 101.0)
    spans = [cycle, merge]
    attribute(spans, jobs)
    parts = breakdown(merge, spans, jobs)
    assert parts["listing"] == pytest.approx(0.15)
    assert parts["light_pass"] == pytest.approx(0.10)
    assert parts["write"] == pytest.approx(0.40)
    assert parts["compact"] == pytest.approx(0.20)
    assert parts["remainder"] == pytest.approx(0.15)
    assert sum(parts.values()) == pytest.approx(merge.wall)
    outer = breakdown(cycle, spans, jobs)
    assert outer == pytest.approx({"merge.merge": 1.0, "remainder": 0.3})


def test_breakdown_counts_overlapping_jobs_once():
    span = Span("relay.poll_once", 1, None, 10.0, 11.0)
    lines = [json.dumps(e) for e in [
        _job_start(0, 10.1, "relay.poll_once#1", sql=1), _job_end(0, 10.6),
        _job_start(1, 10.4, "relay.poll_once#1", sql=2), _job_end(1, 10.8),
        _job_start(2, 10.9, "relay.poll_once#1"), _job_end(2, 11.5),
    ]]
    jobs = parse_event_log(lines)
    attribute([span], jobs)
    parts = breakdown(span, [span], jobs)
    assert parts["write"] == pytest.approx(0.7)
    assert parts["listing"] == pytest.approx(0.1)  # clipped at the span's end
    assert sum(parts.values()) == pytest.approx(span.wall)


def test_read_event_log_reads_the_one_plain_file(tmp_path):
    (tmp_path / "local-1").write_text("\n".join(_merge_log()) + "\n\n")
    jobs = read_event_log(str(tmp_path))
    assert [j.job_id for j in jobs] == [0, 1, 2, 3, 4, 5]
    assert jobs[3].executor_cpu_s == pytest.approx(2.5)


class _FakeContext:
    def __init__(self):
        self.calls = []

    def setLocalProperty(self, key, value):
        self.calls.append((key, value))


def test_spans_nest_and_restore_the_parent_description():
    sc = _FakeContext()
    t = Tracer(sc)
    with t.span("stream.run_cycle") as outer:
        with t.span("merge.merge") as inner:
            pass
    assert inner.parent == outer.op_id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert [v for _, v in sc.calls] == [
        f"stream.run_cycle#{outer.op_id}", f"merge.merge#{inner.op_id}",
        f"stream.run_cycle#{outer.op_id}", None,
    ]


def test_reset_keeps_op_ids_unique():
    t = Tracer()
    with t.span("a") as first:
        pass
    t.reset()
    with t.span("a") as second:
        pass
    assert t.spans == [second] and second.op_id != first.op_id


def test_wrap_times_calls_made_inside_the_object():
    class Table:
        def merge(self, x):
            return x + 1

    t = Tracer()
    table = Table()
    t.wrap(table, "merge", "merge.merge")
    with t.span("stream.run_cycle") as cyc:
        assert table.merge(1) == 2
    (m,) = t.named("merge.merge")
    assert m.parent == cyc.op_id
    assert t.children(cyc) == [m]
