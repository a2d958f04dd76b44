"""Event-log fold: rolling and single-file layouts, job-group
attribution, and the spans of a tiny traced run."""

from __future__ import annotations

import json
import os

import eventlog
from harness import Tracer


def _events():
    def acc(name, value):
        return {"Name": name, "Value": value}

    return [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "q|build"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Number of Tasks": 4, "Accumulables": [
                acc("internal.metrics.executorRunTime", 40),
                acc("internal.metrics.executorCpuTime", 30_000_000),
                acc("internal.metrics.input.bytesRead", 2048),
                acc("internal.metrics.input.recordsRead", 10)]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1250},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "q|collect"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 2, "Number of Tasks": 1, "Accumulables": [
                acc("internal.metrics.executorRunTime", 5),
                acc("internal.metrics.shuffle.write.bytesWritten", 100)]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2010},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 3000,
         "Stage IDs": [3], "Properties": {}},
    ]


def _check(fold):
    b, c = fold.groups["q|build"], fold.groups["q|collect"]
    assert (b.jobs, b.job_ms, b.stages, b.tasks) == (1, 250, 1, 4)
    assert (b.run_ms, b.cpu_ns, b.input_bytes, b.input_records) == (40, 30_000_000, 2048, 10)
    assert (c.jobs, c.stages, c.tasks, c.shuffle_write_bytes) == (1, 1, 1, 100)
    assert fold.groups[""].jobs == 1  # a job outside any group
    both = fold.total(lambda g: g.startswith("q|"))
    assert (both.jobs, both.tasks, both.run_ms) == (2, 5, 45)


def test_fold_reads_the_rolling_layout_in_part_order(tmp_path):
    app = tmp_path / "logs" / "eventlog_v2_local-1"
    app.mkdir(parents=True)
    lines = [json.dumps(e) for e in _events()]
    # "events_10" sorts before "events_9" as a string; parts are read
    # in numeric order
    (app / "events_10_local-1").write_text("\n".join(lines[3:]) + "\n")
    (app / "events_9_local-1").write_text("\n".join(lines[:3]) + "\n")
    (app / "appstatus_local-1").write_text("")
    assert eventlog.find_app_log(str(tmp_path / "logs")) == str(app)
    assert [os.path.basename(p) for p in eventlog.log_files(str(app))] == [
        "events_9_local-1", "events_10_local-1"]
    _check(eventlog.fold(str(app)))


def test_fold_reads_a_single_file_log(tmp_path):
    f = tmp_path / "local-1"
    f.write_text("\n".join(json.dumps(e) for e in _events()) + "\n")
    _check(eventlog.fold(str(f)))


def test_self_times_subtract_child_spans():
    tr = Tracer(True)
    tr.spans = [
        {"id": 0, "name": "pass:0", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "query:a", "parent": 0, "start": 1.0, "end": 5.0},
        {"id": 2, "name": "build:a", "parent": 1, "start": 1.0, "end": 2.0},
        {"id": 3, "name": "collect:a", "parent": 1, "start": 2.0, "end": 4.5},
    ]
    assert tr.self_times() == {"pass": 6.0, "query": 0.5, "build": 1.0, "collect": 2.5}


def test_tiny_traced_run_attributes_jobs_to_their_groups(spark_env, tmp_path):
    from harness import start_spark

    event_dir = str(tmp_path / "events")
    spark = start_spark(str(spark_env), "perfbench-evtest", event_dir)
    tr = Tracer(True, spark)
    try:
        with tr.span("query:a"):
            with tr.span("build:a", group="t|a|build"):
                spark.range(0, 1000, 1, 2).count()
            with tr.span("collect:a", group="t|a|collect"):
                spark.range(0, 1000, 1, 2).selectExpr("id % 3 AS k").groupBy("k").count().collect()
        spark.range(10).count()  # after the spans: no group
    finally:
        spark.stop()
    fold = eventlog.fold(eventlog.find_app_log(event_dir))
    build, collect = fold.groups["t|a|build"], fold.groups["t|a|collect"]
    assert build.jobs >= 1 and build.tasks >= 2 and build.run_ms >= 0
    assert collect.jobs >= 1 and collect.stages >= 1
    assert fold.total(lambda g: g.startswith("t|")).jobs == build.jobs + collect.jobs
    assert [s["name"] for s in tr.spans] == ["query:a", "build:a", "collect:a"]
    assert set(tr.self_times()) == {"query", "build", "collect"}
