import json
import os

import pytest

from perfbench.trace import EventLog, JitCPU, union_ms

SQL = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecution"


def _job(jid, t, group, stages, execution=None, description=None):
    props = {"spark.jobGroup.id": group}
    if execution is not None:
        props["spark.sql.execution.id"] = str(execution)
    if description is not None:
        props["spark.job.description"] = description
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
            "Stage IDs": stages, "Properties": props}


def _stage(sid, start, end, group, accumulables=(), description=None):
    props = {"spark.jobGroup.id": group}
    if description is not None:
        props["spark.job.description"] = description
    info = {"Stage ID": sid, "Stage Attempt ID": 0}
    return [
        {"Event": "SparkListenerStageSubmitted", "Stage Info": info,
         "Properties": props},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {**info, "Submission Time": start, "Completion Time": end,
                        "Accumulables": list(accumulables)}},
    ]


def _task(sid, cpu_ns, shuffle=0, read=0, reason="Success"):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Stage Attempt ID": 0,
            "Task End Reason": {"Reason": reason},
            "Task Info": {"Failed": reason != "Success"},
            "Task Metrics": {"Executor CPU Time": cpu_ns,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                             "Input Metrics": {"Bytes Read": read}}}


BATCH = "perfbench_stream\nid = 1\nrunId = r-1\nbatch = 7"

FRAGMENT = [
    {"Event": "SparkListenerApplicationStart", "App Name": "x"},
    {"Event": SQL + "Start", "executionId": 4, "time": 1_000},
    _job(10, 1_120, "job#0", [20, 21], execution=4),
    *_stage(20, 1_130, 1_400, "job#0"),
    _task(20, 200_000_000, shuffle=300, read=1_000),
    _task(20, 100_000_000, shuffle=200, read=500),
    # a second job of the same execution: no new planning time
    _job(11, 1_450, "job#0", [21], execution=4),
    *_stage(21, 1_300, 1_600, "job#0", accumulables=[
        {"ID": 1, "Name": "data sent to Python workers", "Value": 4096},
        {"ID": 2, "Name": "data returned from Python workers", "Value": 1024},
        {"ID": 3, "Name": "number of output rows", "Value": 99}]),
    _task(21, 50_000_000, reason="ExceptionFailure"),
    _task(21, 50_000_000),
    {"Event": SQL + "End", "executionId": 4, "time": 1_700},
    # jobs outside any job group are ignored
    {"Event": "SparkListenerJobStart", "Job ID": 12, "Submission Time": 1_800,
     "Stage IDs": [22], "Properties": {}},
    *_stage(22, 1_800, 1_900, None),
    _task(22, 10**9),
    # a streaming micro-batch: group = run id, cut per batch
    _job(13, 2_000, "r-1", [23], description=BATCH),
    *_stage(23, 2_010, 2_050, "r-1", description=BATCH),
    _task(23, 1_000_000),
]


def _log():
    lines = [json.dumps(e) + "\n" for e in FRAGMENT]
    lines.append('{"Event": "SparkListenerTaskEnd", "Stage')  # torn last line
    return EventLog(lines)


def test_groups_and_counts():
    log = _log()
    assert set(log.groups) == {"job#0", "r-1#7"}
    g = log.groups["job#0"]
    assert (g.jobs, g.stages, g.tasks, g.failed_tasks) == (2, 2, 4, 1)
    assert g.executor_cpu_s == pytest.approx(0.4)
    assert g.shuffle_write_bytes == 500 and g.input_bytes == 1_500
    assert (g.python_bytes_sent, g.python_bytes_received) == (4096, 1024)


def test_planning_time_and_stage_union():
    g = _log().groups["job#0"]
    assert g.plan_s == pytest.approx(0.12)
    # stages [1130, 1400] and [1300, 1600] overlap: 470 ms covered
    assert g.stage_union_s() == pytest.approx(0.47)


def test_streaming_batch_group():
    g = _log().groups["r-1#7"]
    assert (g.jobs, g.stages, g.tasks, g.plan_s) == (1, 1, 1, 0.0)


def test_union_ms():
    assert union_ms([]) == 0
    assert union_ms([(0, 10), (5, 20), (30, 40)]) == 30
    assert union_ms([(30, 40), (0, 10), (10, 12)]) == 22


def test_jit_cpu_counts_only_compiler_threads():
    # this interpreter has no JIT compiler threads; a pid that is gone is
    # skipped
    jit = JitCPU()
    assert jit.sample([os.getpid(), 2**22 + 1]) == 0.0
    assert jit._is_jit and not any(jit._is_jit.values())
