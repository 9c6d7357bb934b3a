"""Event-log parser on a hand-written fixture: job groups, per-stage task
totals, Python SQL metrics, plans."""

import json

from cdcbench.eventlog import (EventLog, busy_ms, non_codegen_operators,
                               plan_nodes, union_length)


def _task(stage, launch, finish, run_ms, acc=(), shuffle=(0, 0), out=(0, 0),
          gc=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {
            "Launch Time": launch, "Finish Time": finish,
            "Accumulables": [{"ID": i, "Name": n, "Update": str(v)}
                             for i, (n, v) in enumerate(acc)]
            + [{"ID": 99, "Name": "internal.metrics.executorRunTime",
                "Update": run_ms}],
        },
        "Task Metrics": {
            "Executor Run Time": run_ms, "JVM GC Time": gc,
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle[0],
                                      "Shuffle Records Written": shuffle[1]},
            "Output Metrics": {"Bytes Written": out[0],
                               "Records Written": out[1]},
        },
    }


PLAN = {
    "nodeName": "Execute InsertIntoHadoopFsRelationCommand", "children": [{
        "nodeName": "WriteFiles", "children": [{
            "nodeName": "Exchange", "children": [{
                "nodeName": "SortAggregate", "children": [{
                    "nodeName": "WholeStageCodegen (1)", "children": [{
                        "nodeName": "Project", "children": [{
                            "nodeName": "InputAdapter", "children": [{
                                "nodeName": "MapInPandas", "children": [{
                                    "nodeName": "Scan parquet",
                                    "children": []}]}]}]}]}]}]}]}]}

EVENTS = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "lake.merge:1",
                                         "spark.sql.execution.id": "7"}},
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
     "executionId": 7, "sparkPlanInfo": {"nodeName": "stale", "children": []}},
    {"Event": "org.apache.spark.sql.execution.ui."
              "SparkListenerSQLAdaptiveExecutionUpdate",
     "executionId": 7, "sparkPlanInfo": PLAN},
    _task(0, 1000, 1100, 90, acc=[("time to run Python workers", 60),
                                  ("data sent to Python workers", 500)],
          shuffle=(300, 10)),
    _task(0, 1000, 1300, 280, acc=[("time to run Python workers", 200),
                                   ("data sent to Python workers", 700)],
          shuffle=(200, 5), gc=7),
    _task(1, 1300, 1400, 100, out=(4000, 15)),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1450},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1400,
     "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "lake.merge:11"}},
    _task(2, 1400, 1500, 100),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1600},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 2000,
     "Stage IDs": [3], "Properties": {}},
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 2100},
]


def _log():
    return EventLog.parse(json.dumps(e) for e in EVENTS)


def test_job_groups_are_matched_exactly():
    log = _log()
    assert [j.id for j in log.jobs_in("lake.merge:1")] == [0]
    assert log.groups("lake.merge:") == ["lake.merge:1", "lake.merge:11"]
    assert log.jobs[2].group is None


def test_stage_task_totals():
    log = _log()
    stages = log.stages_of(log.jobs_in("lake.merge:1"))
    assert [s.id for s in stages] == [0, 1]
    assert log.total(stages, "run_ms") == 470
    assert log.total(stages, "gc_ms") == 7
    assert log.total(stages, "shuffle_bytes") == 500
    assert log.total(stages, "shuffle_records") == 15
    assert log.total(stages, "output_records") == 15
    assert stages[0].task_ms == [100, 300]


def test_python_sql_metrics_sum_per_stage():
    log = _log()
    s0 = log.stages[0]
    assert s0.sql["time to run Python workers"] == 260
    assert s0.sql["data sent to Python workers"] == 1200
    # internal metrics are read from Task Metrics, not the accumulables
    assert not any(k.startswith("internal.") for k in s0.sql)
    assert "time to run Python workers" not in log.stages[1].sql


def test_busy_time_is_the_union_of_job_spans():
    log = _log()
    assert busy_ms(list(log.jobs.values())) == (1600 - 1000) + 100
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4


def test_last_plan_wins_and_codegen_boundaries():
    log = _log()
    plan = log.plans[7]
    assert plan_nodes(plan).count("SortAggregate") == 1
    # Project is inside codegen; MapInPandas sits behind an InputAdapter;
    # the scan, exchange and write command are not operators here
    assert non_codegen_operators(plan) == ["SortAggregate", "MapInPandas"]
