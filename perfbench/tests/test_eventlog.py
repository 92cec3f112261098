"""Stage -> phase attribution and stage metrics from Spark event logs."""

import json
from pathlib import Path

from perfbench.eventlog import PHASES, EventLog

FIXTURE = Path(__file__).parent / "data" / "extract_eventlog.jsonl"


def _job(jid, desc, stages):
    return {"Event": "SparkListenerJobStart", "Job ID": jid,
            "Stage IDs": [s[0] for s in stages],
            "Stage Infos": [{"Stage ID": sid, "Parent IDs": parents,
                             "RDD Info": [{"RDD ID": r} for r in rdds]}
                            for sid, parents, rdds in stages],
            "Properties": {"spark.job.description": desc}}


def _stage(sid, parents, rdds, scopes, t0, t1):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": sid, "Parent IDs": parents,
        "RDD Info": [{"RDD ID": r, "Scope": json.dumps({"id": str(r), "name": n})}
                     for r, n in zip(rdds, scopes)],
        "Submission Time": t0, "Completion Time": t1}}


def _task(sid, ms, run_ms=None, shuffle=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
            "Task Info": {"Launch Time": 0, "Finish Time": ms},
            "Task Metrics": {"Executor Run Time": ms if run_ms is None else run_ms,
                             "Executor CPU Time": ms * 10**6, "JVM GC Time": 1,
                             "Disk Bytes Spilled": 0,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}


def _sort_merge_plan():
    """A data write with a sort-merge media join, as adaptive execution
    submits it: one job per query stage, the kernel job re-declaring the
    already-run salt stage (5) under a new id."""
    return [
        _job(0, "c0|data", [(0, [], [1, 2])]),
        _stage(0, [], [1, 2], ["Scan parquet", "Exchange"], 0, 10),
        _job(1, "c0|data", [(1, [], [3, 4])]),
        _stage(1, [], [3, 4], ["Scan parquet", "Exchange"], 5, 20),
        _job(2, "c0|data", [(2, [0, 1], [5, 6])]),
        _stage(2, [0, 1], [5, 6], ["SortMergeJoin", "Exchange"], 20, 30),
        _job(3, "c0|data", [(5, [], [5, 6]), (3, [5], [7, 8])]),
        _stage(3, [5], [7, 8], ["MapInPandas", "Exchange"], 30, 130),
        _task(3, 40), _task(3, 40), _task(3, 120),
        _job(4, "c0|data", [(4, [], [9, 10])]),
        _stage(4, [], [9, 10], ["Scan parquet", "Exchange"], 30, 35),
        _job(5, "c0|data", [(6, [4, 3], [11])]),
        _stage(6, [4, 3], [11], ["WriteFiles"], 130, 140),
        _job(6, "c0|driver", [(9, [], [20])]),
        _stage(9, [], [20], ["parallelize"], 141, 142),
        _job(7, "c0|lineage", [(7, [], [12]), (8, [7], [13])]),
        _stage(7, [], [12], ["Scan parquet"], 145, 150),
        _stage(8, [7], [13], ["WriteFiles"], 150, 160),
        _job(8, "query|q1", [(10, [], [30])]),
        _stage(10, [], [30], ["Exchange"], 200, 210),
        _task(10, 5, shuffle=2**20),
    ]


def test_sort_merge_plan_phases():
    log = EventLog(_sort_merge_plan())
    data = log.stages_of(log.jobs_tagged("c0", "data"))
    lineage = log.stages_of(log.jobs_tagged("c0", "lineage"))
    assert log.phase_of_stages(data, lineage) == {
        0: "media_join", 1: "media_join", 2: "salt_exchange", 3: "kernel",
        4: "splice_write", 6: "splice_write", 7: "lineage", 8: "lineage",
    }


def test_stage_metrics():
    log = EventLog(_sort_merge_plan())
    phases = log.extraction_phases(["c0"])
    assert set(phases) == set(PHASES)
    k = phases["kernel"]
    assert k["tasks"] == 3 and k["busy_s"] == 0.2 and k["task_skew"] == 3.0
    assert k["wall_s"] == 0.1 and k["gc_s"] == 0.003
    # overlapping stages 0 (0-10) and 1 (5-20) merge to 20 ms
    assert phases["media_join"]["wall_s"] == 0.02
    assert phases["lineage"]["wall_s"] == 0.015
    assert log.jobs_tagged("c0") == [0, 1, 2, 3, 4, 5, 6, 7]
    q = log.stage_metrics(log.stages_of(log.jobs_tagged("query", "q1")))
    assert q["shuffle_write_mb"] == 1.0 and q["tasks"] == 1


def test_captured_extraction_log():
    """A real ``run_extract`` over four generated documents (broadcast
    media join), with its jobs tagged by the benchmark's wrappers."""
    events = [json.loads(line) for line in FIXTURE.read_text().splitlines()]
    log = EventLog(events)
    data = log.stages_of(log.jobs_tagged("c0", "data"))
    lineage = log.stages_of(log.jobs_tagged("c0", "lineage"))
    phase = log.phase_of_stages(data, lineage)
    assert set(phase) == set(data) | set(lineage)
    assert sum(p == "kernel" for p in phase.values()) == 1
    assert set(phase.values()) == set(PHASES)
    kernel = [s for s, p in phase.items() if p == "kernel"][0]
    assert "MapInPandas" in log.stages[kernel]["scopes"]
    for s, p in phase.items():
        if p == "salt_exchange":
            assert kernel in [c for c in data if s in log.parents(c)]
    m = log.extraction_phases(["c0"])
    assert m["kernel"]["tasks"] > 0 and m["kernel"]["busy_s"] > 0
    assert m["lineage"]["tasks"] > 0
