"""Tests of the benchmark's own machinery (no Spark session needed):

    python3 -m pytest perfbench -q

The event-log fold runs on ``testdata/tiny_eventlog.jsonl``, a log
captured from a local Spark run of three traced spans and trimmed to
the events and fields the fold reads (``capture_tiny_eventlog`` below
made it).
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import gen  # noqa: E402
from perfbench.eventlog import fold_dir, fold_events, layer_counters, log_files, union_length  # noqa: E402
from perfbench.trace import self_times  # noqa: E402

TINY = os.path.join(HERE, "testdata", "tiny_eventlog.jsonl")
TINY_SPANS = os.path.join(HERE, "testdata", "tiny_spans.json")


def test_union_length_merges_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2.0
    assert union_length([], 0, 1) == 0
    assert union_length([(2, 3)], 0, 1) == 0


def test_self_time_subtracts_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 5.0, "end": 7.0},
        {"id": 3, "parent": 2, "start": 5.5, "end": 6.0},
    ]
    assert self_times(spans) == {0: 5.0, 1: 3.0, 2: 1.5, 3: 0.5}


def _ev(**kw):
    return json.dumps(kw)


def test_fold_attributes_tasks_to_span_of_job_group():
    lines = [
        _ev(Event="SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
            "Properties": {"spark.jobGroup.id": "a.x#3"}}),
        _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "Disk Bytes Spilled": 5,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}}),
        _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 1, "Task Metrics": {"Executor CPU Time": 500_000_000}}),
        _ev(Event="SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 3000}),
        # a job outside any span is ignored
        _ev(Event="SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 3000, "Stage IDs": [2],
            "Properties": {}}),
        _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 2, "Task Metrics": {"Executor CPU Time": 7}}),
        _ev(Event="SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 4000}),
    ]
    folded = fold_events(lines)
    assert set(folded) == {3}
    f = folded[3]
    assert f["jobs"] == 1
    assert f["executor_cpu_s"] == 2.5
    assert f["shuffle_bytes"] == 100 and f["spill_bytes"] == 5
    assert f["job_spans"] == [(1.0, 3.0)]
    spans = [{"id": 3, "name": "a.x", "parent": None, "start": 0.5, "end": 4.0}]
    layer = layer_counters(spans, folded)["a"]
    assert layer["jobs"] == 1
    assert abs(layer["driver_gap_s"] - 1.5) < 1e-9


def test_fold_of_captured_log():
    """A real Spark 4 event log: a count (two jobs under AQE), a grouped
    count (two jobs, one shuffle) and a span that ran no job."""
    with open(TINY_SPANS) as f:
        spans = json.load(f)
    with open(TINY) as f:
        folded = fold_events(f)
    by_name = {s["name"]: folded.get(s["id"]) for s in spans}
    assert by_name["t.idle"] is None
    assert (by_name["t.count"]["jobs"], by_name["t.count"]["shuffle_bytes"]) == (2, 118)
    assert (by_name["t.shuffle"]["jobs"], by_name["t.shuffle"]["shuffle_bytes"]) == (2, 364)
    layer = layer_counters(spans, folded)["t"]
    assert layer["jobs"] == 4 and layer["spill_bytes"] == 0
    assert abs(layer["executor_cpu_s"] - 0.384527607) < 1e-9
    count = next(s for s in spans if s["name"] == "t.count")
    busy = (2.833 - 2.341) + (3.118 - 2.96)
    gap = layer_counters([count], folded)["t"]["driver_gap_s"]
    assert abs(gap - ((count["end"] - count["start"]) - busy)) < 1e-6
    idle = next(s for s in spans if s["name"] == "t.idle")
    gap = layer_counters([idle], folded)["t"]["driver_gap_s"]
    assert abs(gap - (idle["end"] - idle["start"])) < 1e-9


def test_rolling_log_parts_are_read_in_order(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    start = _ev(Event="SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 0, "Stage IDs": [0],
                "Properties": {"spark.jobGroup.id": "a.b#0"}})
    end = _ev(Event="SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 1000})
    (d / "events_10_app").write_text(end + "\n")
    (d / "events_2_app").write_text(start + "\n")
    (d / "appstatus_app").write_text("")
    assert [os.path.basename(p) for p in log_files(str(tmp_path))] == ["events_2_app", "events_10_app"]
    assert fold_dir(str(tmp_path))[0]["job_spans"] == [(0.0, 1.0)]


def test_generator_is_deterministic(tmp_path):
    for workload in ("vdf_etl", "catalog_serve"):
        a = gen.generate(workload, 7, str(tmp_path / "a"))
        b = gen.generate(workload, 7, str(tmp_path / "b"))
        c = gen.generate(workload, 8, str(tmp_path / "c"))
        assert a["sha256"] == b["sha256"] != c["sha256"]
        assert a["truth"] == b["truth"]


def _trim(ev: dict) -> dict | None:
    """Keep only the events and fields the fold reads (the full log also
    holds the environment: host paths, users, class paths)."""
    kind = ev["Event"]
    if kind == "SparkListenerJobStart":
        props = {k: v for k, v in (ev.get("Properties") or {}).items() if k.startswith("spark.job")}
        return {"Event": kind, "Job ID": ev["Job ID"], "Submission Time": ev["Submission Time"],
                "Stage IDs": ev["Stage IDs"], "Properties": props}
    if kind == "SparkListenerJobEnd":
        return {"Event": kind, "Job ID": ev["Job ID"], "Completion Time": ev["Completion Time"]}
    if kind == "SparkListenerTaskEnd":
        return {"Event": kind, "Stage ID": ev["Stage ID"], "Task Metrics": ev.get("Task Metrics")}
    return None


def capture_tiny_eventlog(out_dir: str) -> None:  # pragma: no cover - run by hand
    """How ``testdata/tiny_eventlog.jsonl`` was captured: one local Spark
    run with three traced spans, its log trimmed by ``_trim``."""
    import shutil

    from pyspark.sql import SparkSession

    from perfbench.trace import Tracer

    logs = os.path.join(out_dir, "_capture")
    os.makedirs(logs, exist_ok=True)
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", logs)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    tracer = Tracer(spark.sparkContext, "tiny", enabled=True)
    with tracer.span("t.count"):
        spark.range(1000).count()
    with tracer.span("t.shuffle"):
        df = spark.range(1000)
        df.groupBy((df.id % 7).alias("k")).count().collect()
    with tracer.span("t.idle"):
        pass
    spark.stop()
    (log,) = log_files(logs)
    os.makedirs(out_dir, exist_ok=True)
    with open(log) as src, open(os.path.join(out_dir, "tiny_eventlog.jsonl"), "w") as dst:
        for line in src:
            ev = _trim(json.loads(line))
            if ev:
                dst.write(json.dumps(ev) + "\n")
    with open(os.path.join(out_dir, "tiny_spans.json"), "w") as f:
        json.dump(tracer.spans, f, indent=1)
    shutil.rmtree(logs)


if __name__ == "__main__":  # pragma: no cover
    capture_tiny_eventlog(os.path.join(HERE, "testdata"))
