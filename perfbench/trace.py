"""Spans around public calls, and the Spark event-log join that turns them
into a per-layer table.

A traced run tags every Spark job a span submits with
``sparkContext.setJobGroup`` and enables Spark's event log. After the run,
:func:`parse_event_log` reads the log and :func:`attribute` maps
job group -> jobs -> stages -> task metrics onto the spans. Jobs submitted
from threads the package starts itself do not inherit the group (local
properties are per JVM thread); those are attributed to the innermost span
whose wall interval contains their submission time, which is exact here
because the benchmark drives one call at a time.

An untraced run uses the same :class:`Tracer` with ``enabled=False``: spans
still record their wall time (the end-to-end numbers need it) but no job
group is set and no event log is written.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

GROUP_PREFIX = "perfbench-"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"

# task-metric counters summed per stage, then per job and per span
COUNTERS = (
    "tasks", "run_ms", "cpu_ns", "input_records", "input_bytes",
    "output_bytes", "shuffle_read_records", "shuffle_read_bytes",
    "shuffle_write_records", "shuffle_write_bytes", "spill_bytes",
    "python_bytes_sent", "python_bytes_returned", "python_rows_sent",
)


class Tracer:
    """Records one span per benchmark-visible call.

    ``sc`` is the SparkContext (only used when ``enabled``)."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, span: dict | None) -> None:
        if not self.enabled:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        span = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"{GROUP_PREFIX}{sid}",
            "attrs": dict(attrs),
        }
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        span["start_ms"] = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            yield span
        finally:
            span["wall_s"] = time.perf_counter() - t0
            span["end_ms"] = time.time() * 1000.0
            self._stack.pop()
            self._set_group(parent)


# ---------------------------------------------------------------- event log


def _acc_value(acc: dict) -> int:
    v = acc.get("Update", acc.get("Value", 0))
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def _task_counters(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    out = m.get("Output Metrics") or {}
    acc = {
        a.get("Name"): _acc_value(a)
        for a in (ev.get("Task Info") or {}).get("Accumulables", [])
    }
    sent = acc.get(PY_SENT, 0)
    records_in = (
        int(inp.get("Records Read", 0)) + int(sr.get("Total Records Read", 0))
    )
    return {
        "tasks": 1,
        "run_ms": int(m.get("Executor Run Time", 0)),
        "cpu_ns": int(m.get("Executor CPU Time", 0)),
        "input_records": int(inp.get("Records Read", 0)),
        "input_bytes": int(inp.get("Bytes Read", 0)),
        "output_bytes": int(out.get("Bytes Written", 0)),
        "shuffle_read_records": int(sr.get("Total Records Read", 0)),
        "shuffle_read_bytes": int(sr.get("Remote Bytes Read", 0))
        + int(sr.get("Local Bytes Read", 0)),
        "shuffle_write_records": int(sw.get("Shuffle Records Written", 0)),
        "shuffle_write_bytes": int(sw.get("Shuffle Bytes Written", 0)),
        "spill_bytes": int(m.get("Memory Bytes Spilled", 0))
        + int(m.get("Disk Bytes Spilled", 0)),
        "python_bytes_sent": sent,
        "python_bytes_returned": acc.get(PY_RETURNED, 0),
        # Spark reports Python traffic in bytes only; the rows a Python
        # stage reads (scan + shuffle input) stand in for rows sent
        "python_rows_sent": records_in if sent else 0,
    }


def _zero() -> dict:
    return {c: 0 for c in COUNTERS}


def _add(into: dict, other: dict) -> None:
    for c in COUNTERS:
        into[c] += other[c]


def parse_event_log(path: str) -> dict:
    """``{"jobs": {id: job}, "stages": {id: counters}}`` from an
    uncompressed JSON-lines Spark event log. A job holds ``group``,
    ``start_ms``, ``end_ms`` and the ``stages`` it ran."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    stage_owner: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            if not line.strip():
                continue
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = int(ev["Job ID"])
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start_ms": float(ev["Submission Time"]),
                    "end_ms": None,
                    "stages": [],
                }
                for sid in ev.get("Stage IDs", []):
                    stage_owner.setdefault(int(sid), jid)
            elif kind == "SparkListenerJobEnd":
                jid = int(ev["Job ID"])
                if jid in jobs:
                    jobs[jid]["end_ms"] = float(ev["Completion Time"])
            elif kind == "SparkListenerTaskEnd":
                sid = int(ev["Stage ID"])
                _add(stages.setdefault(sid, _zero()), _task_counters(ev))
    for sid, jid in stage_owner.items():
        if sid in stages and jid in jobs:
            jobs[jid]["stages"].append(sid)
    for job in jobs.values():
        if job["end_ms"] is None:
            job["end_ms"] = job["start_ms"]
    return {"jobs": jobs, "stages": stages}


def find_event_log(log_dir: str) -> str:
    """The single application log Spark wrote into ``log_dir``."""
    logs = [
        p for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not os.path.basename(p).startswith(".")
    ]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {logs}")
    return logs[0]


def _union_ms(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(spans: list[dict], log: dict) -> None:
    """Adds ``jobs``, ``stages``, ``job_union_s``, ``driver_gap_s`` and
    every counter in ``COUNTERS`` to each span, children included."""
    by_group = {s["group"]: s for s in spans}
    direct: dict[int, list[int]] = {s["id"]: [] for s in spans}
    for jid, job in log["jobs"].items():
        owner = by_group.get(job["group"])
        if owner is not None and not (
            owner["start_ms"] <= job["start_ms"] <= owner.get("end_ms", 0.0)
        ):
            owner = None  # a stale group left on a reused JVM thread
        if owner is None:
            # innermost span whose interval holds the submission time
            holding = [
                s for s in spans
                if "end_ms" in s and s["start_ms"] <= job["start_ms"] <= s["end_ms"]
            ]
            if not holding:
                continue
            owner = max(holding, key=lambda s: s["start_ms"])
        direct[owner["id"]].append(jid)
    children: dict[int, list[int]] = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s["id"])

    def all_jobs(sid: int) -> list[int]:
        out = list(direct[sid])
        for c in children[sid]:
            out.extend(all_jobs(c))
        return out

    for s in spans:
        jids = all_jobs(s["id"])
        counters = _zero()
        nstages = 0
        for jid in jids:
            for sid in log["jobs"][jid]["stages"]:
                nstages += 1
                _add(counters, log["stages"][sid])
        union_s = _union_ms(
            (log["jobs"][j]["start_ms"], log["jobs"][j]["end_ms"]) for j in jids
        ) / 1000.0
        s["jobs"] = len(jids)
        s["stages"] = nstages
        s["job_union_s"] = union_s
        s["driver_gap_s"] = max(0.0, s.get("wall_s", 0.0) - union_s)
        s.update(counters)


def layer_row(span: dict, parts: dict | None = None) -> dict:
    """One row of the per-call layer table. ``parts`` are the layer walls
    the call is known to consist of (seconds); the remainder of the wall
    is ``unaccounted_s``. Without parts, Spark job time is the only known
    layer and the driver gap stays unaccounted."""
    if parts is None:
        parts = {"spark_jobs_s": span.get("job_union_s", 0.0)}
    row = {
        "call": span["name"],
        "wall_s": span["wall_s"],
        "parts": parts,
        "unaccounted_s": span["wall_s"] - sum(parts.values()),
    }
    for k in ("jobs", "stages", "job_union_s", "driver_gap_s") + COUNTERS:
        if k in span:
            row[k] = span[k]
    return row
