"""The event-log parser and the span attribution against a canned log."""

import os

import pytest

from perfbench import trace

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_tiny.jsonl")


@pytest.fixture()
def log():
    return trace.parse_event_log(LOG)


def test_jobs_and_stages(log):
    assert sorted(log["jobs"]) == [0, 1, 2]
    assert log["jobs"][0]["group"] == "perfbench-0"
    assert log["jobs"][1]["group"] is None
    # a stage listed by a later job (skipped there) belongs to the first
    assert sorted(log["jobs"][0]["stages"]) == [0, 1]
    assert log["jobs"][1]["stages"] == [2]
    s0 = log["stages"][0]
    assert (s0["tasks"], s0["run_ms"], s0["shuffle_write_records"]) == (2, 500, 120)
    s1 = log["stages"][1]
    assert s1["python_bytes_sent"] == 9000
    assert s1["python_bytes_returned"] == 3000
    assert s1["python_rows_sent"] == 120  # records the Python stage read
    assert s1["spill_bytes"] == 64
    assert log["stages"][2]["python_rows_sent"] == 0


def spans():
    return [
        {"id": 0, "name": "outer", "parent": None, "group": "perfbench-0",
         "attrs": {}, "start_ms": 900.0, "end_ms": 2000.0, "wall_s": 1.1},
        {"id": 1, "name": "inner", "parent": 0, "group": "perfbench-1",
         "attrs": {}, "start_ms": 1550.0, "end_ms": 1900.0, "wall_s": 0.35},
    ]


def test_attribution_by_group_then_time(log):
    ss = spans()
    trace.attribute(ss, log)
    outer, inner = ss
    # job 1 has no group: it lands on the innermost span holding it
    assert inner["jobs"] == 1 and inner["stages"] == 1
    assert inner["tasks"] == 1 and inner["run_ms"] == 100
    # the outer span includes its child's jobs; job 2 precedes every span
    assert outer["jobs"] == 2 and outer["stages"] == 3
    assert outer["tasks"] == 4 and outer["cpu_ns"] == 550_000_000
    assert outer["output_bytes"] == 777
    assert outer["job_union_s"] == pytest.approx(0.7)
    assert outer["driver_gap_s"] == pytest.approx(0.4)


def test_layer_row_accounts_for_the_wall(log):
    ss = spans()
    trace.attribute(ss, log)
    row = trace.layer_row(ss[0])
    assert row["parts"] == {"spark_jobs_s": pytest.approx(0.7)}
    assert row["unaccounted_s"] == pytest.approx(0.4)
    row = trace.layer_row(ss[0], {"a_s": 0.5, "b_s": 0.5})
    assert row["unaccounted_s"] == pytest.approx(0.1)


def test_union_of_overlapping_intervals():
    assert trace._union_ms([(0, 10), (5, 20), (30, 40)]) == 30
    assert trace._union_ms([]) == 0


def test_tracer_records_nested_spans_without_spark():
    t = trace.Tracer(enabled=False)
    with t.span("a", kind="op"):
        with t.span("b"):
            pass
    a, b = t.spans
    assert b["parent"] == a["id"] and a["parent"] is None
    assert a["attrs"] == {"kind": "op"}
    assert a["wall_s"] >= b["wall_s"] >= 0.0
    assert a["start_ms"] <= b["start_ms"] <= b["end_ms"] <= a["end_ms"]
