"""Fold a Spark event log into per-span Spark-side counters.

The traced run sets the job group of every job to ``<span name>#<span
id>`` (see ``trace.py``). This module reads the uncompressed JSON-lines
event log Spark writes with ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false``, maps task -> stage -> job -> job
group, and returns for every span id:

- ``jobs``: jobs started in the span;
- ``executor_cpu_s``: summed task ``Executor CPU Time``;
- ``shuffle_bytes``: summed ``Shuffle Bytes Written``;
- ``spill_bytes``: summed ``Disk Bytes Spilled``;
- ``job_spans``: the (submit, complete) interval of each job, in epoch
  seconds, from which ``driver_gap_s`` is computed against the span.

A stage shared by several jobs (a reused shuffle) is charged to the
first job that listed it, which is the one that ran it.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterable


def _span_id(group: str | None) -> int | None:
    if not group or "#" not in group:
        return None
    tail = group.rsplit("#", 1)[1]
    return int(tail) if tail.isdigit() else None


def fold_events(lines: Iterable[str]) -> dict[int, dict]:
    """Per-span-id counters from event-log lines (see module docstring)."""
    out: dict[int, dict] = {}
    stage_span: dict[int, int] = {}
    job_span: dict[int, int] = {}
    job_start: dict[int, float] = {}

    def rec(sid: int) -> dict:
        return out.setdefault(
            sid,
            {"jobs": 0, "executor_cpu_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0, "job_spans": []},
        )

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            sid = _span_id((ev.get("Properties") or {}).get("spark.jobGroup.id"))
            if sid is None:
                continue
            jid = ev["Job ID"]
            job_span[jid] = sid
            job_start[jid] = ev["Submission Time"] / 1000.0
            rec(sid)["jobs"] += 1
            for st in ev.get("Stage IDs", []):
                stage_span.setdefault(st, sid)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_span:
                rec(job_span[jid])["job_spans"].append((job_start[jid], ev["Completion Time"] / 1000.0))
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if sid is None or not m:
                continue
            r = rec(sid)
            r["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            r["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            r["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return out


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_counters(spans: list[dict], folded: dict[int, dict]) -> dict[str, dict]:
    """Sum the folded counters over spans, keyed by layer (the span name
    up to its first dot), with ``driver_gap_s`` = span wall time minus
    the union of that span's job intervals."""
    layers: dict[str, dict] = {}
    for s in spans:
        f = folded.get(s["id"])
        layer = s["name"].split(".", 1)[0]
        acc = layers.setdefault(
            layer, {"jobs": 0, "executor_cpu_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0, "driver_gap_s": 0.0}
        )
        wall = s["end"] - s["start"]
        busy = union_length(f["job_spans"], s["start"], s["end"]) if f else 0.0
        acc["driver_gap_s"] += wall - busy
        if f:
            for k in ("jobs", "executor_cpu_s", "shuffle_bytes", "spill_bytes"):
                acc[k] += f[k]
    return layers


def log_files(eventlog_dir: str) -> list[str]:
    """Event-log files under ``eventlog_dir``, in write order: a plain
    log file, or the ``events_<n>_<app>`` parts of a rolling (v2) log."""

    def order(path: str):
        parts = os.path.basename(path).split("_")
        return (os.path.dirname(path), int(parts[1]) if parts[0] == "events" and parts[1].isdigit() else 0)

    found = []
    for dirpath, _, names in os.walk(eventlog_dir):
        found += [os.path.join(dirpath, n) for n in names if not n.startswith(("appstatus", "."))]
    return sorted(found, key=order)


def fold_dir(eventlog_dir: str) -> dict[int, dict]:
    """``fold_events`` over every event-log file under ``eventlog_dir``."""

    def lines():
        for path in log_files(eventlog_dir):
            with open(path) as fh:
                yield from fh

    return fold_events(lines())
