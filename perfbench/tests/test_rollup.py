"""The event-log rollup on a small fixture log."""

from __future__ import annotations

import json

import tracing

PLAN = """== Physical Plan ==
AdaptiveSparkPlan (6)
+- Project (5)
   +- ArrowEvalPython (4)
      +- MapInPandas (3)
         +- Exchange (2)
            +- Scan parquet  (1)

(1) Scan parquet
Output [1]: [v#1]
"""


def _job(job_id, stages, tag, xid=None):
    props = {"spark.job.description": tag} if tag else {}
    if xid is not None:
        props["spark.sql.execution.id"] = str(xid)
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Stage IDs": stages, "Properties": props}


def _stage(stage_id, n_tasks, tag):
    info = {"Stage ID": stage_id, "Number of Tasks": n_tasks}
    return [
        {"Event": "SparkListenerStageSubmitted", "Stage Info": info,
         "Properties": {"spark.job.description": tag}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": info},
    ]


def _task(stage_id, launch, finish, run_ms, **metrics):
    m = {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 500_000,
         "JVM GC Time": 1, "Disk Bytes Spilled": 0,
         "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                  "Local Bytes Read": metrics.get("read", 0)},
         "Shuffle Write Metrics": {"Shuffle Bytes Written": metrics.get("write", 0)},
         "Input Metrics": {"Bytes Read": metrics.get("input", 0)}}
    acc = [{"Name": "data sent to Python workers", "Update": str(metrics.get("sent", 0))},
           {"Name": "number of output rows", "Update": "7"}]
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage_id,
            "Task Info": {"Launch Time": launch, "Finish Time": finish,
                          "Accumulables": acc},
            "Task Metrics": m}


def fixture_events() -> list[dict]:
    build, run = "w/q1/0/build", "w/q1/0/exec"
    ev = [_job(0, [0], build)]
    ev += _stage(0, 1, build)
    ev.append(_task(0, 1000, 1100, 80, input=2 << 20))
    ev.append(_job(1, [1, 2], run, xid=5))
    ev.append({"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
               "executionId": 5, "physicalPlanDescription": "== Physical Plan ==\nScan (1)\n"})
    ev.append({"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
               "executionId": 5, "physicalPlanDescription": PLAN})
    ev += _stage(1, 2, run)
    ev.append(_task(1, 2000, 2300, 200, write=1 << 20, sent=3 << 20))
    ev.append(_task(1, 2000, 2250, 250, write=1 << 20))
    ev += _stage(2, 1, run)
    ev.append(_task(2, 2400, 2500, 50, read=2 << 20))
    ev.append(_job(2, [3], None))  # a job nobody tagged
    return ev


def test_rollup_counts_per_tag():
    by_tag, untagged = tracing.rollup_events(fixture_events())
    assert untagged == ["None"]
    b, r = by_tag["w/q1/0/build"], by_tag["w/q1/0/exec"]
    assert (b["jobs"], b["stages"], b["one_task_stages"], b["tasks"]) == (1, 1, 1, 1)
    assert (r["jobs"], r["stages"], r["one_task_stages"], r["tasks"]) == (1, 2, 1, 3)
    assert b["input_mb"] == 2.0
    assert r["shuffle_write_mb"] == 2.0 and r["shuffle_read_mb"] == 2.0
    assert r["python_sent_mb"] == 3.0
    assert r["python_nodes"] == 2  # the adaptive plan replaces the first
    assert abs(r["executor_run_s"] - 0.5) < 1e-9
    assert abs(r["task_overhead_s"] - 0.15) < 1e-9  # (300-200) + 0 + (100-50) ms


def test_layer_rows_join_spans_and_events(tmp_path):
    log = tmp_path / "app"
    log.write_text("".join(json.dumps(e) + "\n" for e in fixture_events()))
    by_tag, _ = tracing.rollup_events(tracing.read_event_log(str(log)))
    spans = [{"kind": "op", "name": "q1", "pass": 0, "build_s": 0.2,
              "exec_s": 0.6, "build_jobs": 1, "build_py4j": 40,
              "plan_memo_hit": 0}]
    rows = {r["layer"]: r for r in tracing.layer_rows(by_tag, spans)}
    assert set(rows) == {"registry", "exec", "sources", "functions"}
    assert rows["registry"]["spark_build_jobs"] == rows["registry"]["build_jobs"] == 1
    assert rows["exec"]["jobs"] == 2 and rows["exec"]["wall_s"] == 0.6
    assert rows["sources"]["scan_input_mb"] == 2.0
    assert rows["functions"]["python_nodes"] == 2


def test_plan_nodes_and_tags():
    assert tracing.plan_nodes(PLAN) == ["AdaptiveSparkPlan", "Project",
                                        "ArrowEvalPython", "MapInPandas",
                                        "Exchange", "Scan"]
    assert tracing.parse_tag("w/op/3/exec") == ("w", "op", "3", "exec")
    assert tracing.parse_tag("save at x.py:3") is None
    assert tracing.parse_tag(None) is None
