"""Spark event log -> per-phase stage metrics.

The benchmark tags each Spark job from outside, through the job
description local property, as ``<label>|<part>``: the traced extraction
call sets ``<call>|driver`` around ``run_extract`` and ``<call>|data`` /
``<call>|lineage`` around its two parquet writes; the board sets
``query|<name>`` around each query.  Stages of ``data`` jobs are then
attributed to a pipeline phase by the operators in their RDD scopes and
by where they sit relative to the kernel stage:

- ``kernel``: the stage running ``MapInPandas``;
- ``salt_exchange``: the stages whose shuffle output the kernel reads
  (the salted repartition; with a broadcast media join this stage also
  runs the join);
- ``media_join``: stages upstream of those, plus the broadcast of the
  scanned media table;
- ``splice_write``: every other stage of the data write (the docs side of
  the splice join, the snippet aggregate, the join and the file write);
- ``lineage``: every stage of the lineage write.
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path

PHASES = ("media_join", "salt_exchange", "kernel", "splice_write", "lineage")
PHASE_METRICS = (
    ("wall_s", "s"), ("busy_s", "s"), ("cpu_s", "s"), ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"), ("gc_s", "s"), ("tasks", "count"), ("task_skew", "ratio"),
)


def event_files(log_dir: str) -> list[Path]:
    """The event log files under ``log_dir``, in write order (plain
    single-file logs and rolling ``eventlog_v2_*`` directories)."""
    root = Path(log_dir)
    files = []
    for p in sorted(root.iterdir()):
        if p.is_dir() and p.name.startswith("eventlog_v2_"):
            parts = [f for f in p.iterdir() if f.name.startswith("events_")]
            files.extend(sorted(parts, key=lambda f: int(f.name.split("_")[1])))
        elif p.is_file() and not p.name.startswith("."):
            files.append(p)
    return files


class EventLog:
    """Jobs, stages and tasks of one or more Spark applications."""

    def __init__(self, events) -> None:
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}   # completed stage attempts
        self.declared: dict[int, dict] = {}  # every stage a job listed
        self.tasks: dict[int, list[dict]] = {}
        for e in events:
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                self.jobs[e["Job ID"]] = {
                    "desc": props.get("spark.job.description"),
                    "stages": list(e["Stage IDs"]),
                }
                for si in e.get("Stage Infos", []):
                    self.declared[si["Stage ID"]] = {
                        "parents": list(si.get("Parent IDs", [])),
                        "rdds": {r["RDD ID"] for r in si.get("RDD Info", [])},
                        "job": e["Job ID"],
                    }
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                scopes = set()
                for r in si.get("RDD Info", []):
                    if r.get("Scope"):
                        scopes.add(json.loads(r["Scope"])["name"].strip())
                self.stages[si["Stage ID"]] = {
                    "scopes": scopes,
                    "parents": list(si.get("Parent IDs", [])),
                    "rdds": {r["RDD ID"] for r in si.get("RDD Info", [])},
                    "submit": si.get("Submission Time"),
                    "complete": si.get("Completion Time"),
                }
            elif kind == "SparkListenerTaskEnd":
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                self.tasks.setdefault(e["Stage ID"], []).append({
                    "ms": info["Finish Time"] - info["Launch Time"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                    "spill_bytes": m.get("Disk Bytes Spilled", 0),
                })
        for jid, job in self.jobs.items():
            for sid in job["stages"]:
                if sid in self.stages:
                    self.stages[sid]["job"] = jid

    @classmethod
    def read(cls, log_dir: str) -> "EventLog":
        def events():
            for f in event_files(log_dir):
                with open(f) as fh:
                    for line in fh:
                        line = line.strip()
                        if line:
                            yield json.loads(line)

        return cls(events())

    # -- queries -----------------------------------------------------------

    def jobs_tagged(self, label: str, part: str | None = None) -> list[int]:
        """Job ids whose description is ``label|part`` (any part if None)."""
        out = []
        for jid, job in sorted(self.jobs.items()):
            d = job["desc"] or ""
            lab, _, p = d.partition("|")
            if lab == label and (part is None or p == part):
                out.append(jid)
        return out

    def stages_of(self, job_ids) -> list[int]:
        return sorted(sid for sid, s in self.stages.items() if s.get("job") in set(job_ids))

    def _executed(self, sid: int) -> int | None:
        """The completed stage that computed (possibly skipped) stage ``sid``:
        a reused shuffle map stage re-declares the same RDD chain."""
        if sid in self.stages:
            return sid
        rdds = self.declared.get(sid, {}).get("rdds")
        if not rdds:
            return None
        top = max(rdds)
        for cid, s in self.stages.items():
            if top in s["rdds"]:
                return cid
        return None

    def parents(self, sid: int) -> list[int]:
        ps = self.stages.get(sid, self.declared.get(sid, {})).get("parents", [])
        out = []
        for p in ps:
            e = self._executed(p)
            if e is not None:
                out.append(e)
        return out

    def phase_of_stages(self, data_stages, lineage_stages) -> dict[int, str]:
        """Stage id -> phase for one extraction call's stages."""
        phase: dict[int, str] = {}
        kernel = [s for s in data_stages if "MapInPandas" in self.stages[s]["scopes"]]
        for k in kernel:
            phase[k] = "kernel"
        salt = {p for k in kernel for p in self.parents(k)} - set(kernel)
        for s in salt:
            phase[s] = "salt_exchange"
        todo = [p for s in salt for p in self.parents(s)]
        while todo:
            s = todo.pop()
            if s not in phase:
                phase[s] = "media_join"
                todo.extend(self.parents(s))
        for s in data_stages:
            if s in phase:
                continue
            scopes = self.stages[s]["scopes"]
            if "BroadcastExchange" in scopes and any(x.startswith("Scan") for x in scopes):
                phase[s] = "media_join"
            else:
                phase[s] = "splice_write"
        for s in lineage_stages:
            phase[s] = "lineage"
        return phase

    def stage_metrics(self, stage_ids) -> dict:
        """Summed task metrics and merged wall time of a set of stages."""
        stage_ids = list(stage_ids)
        tasks = [t for s in stage_ids for t in self.tasks.get(s, [])]
        spans = sorted((self.stages[s]["submit"], self.stages[s]["complete"])
                       for s in stage_ids
                       if self.stages[s]["submit"] is not None
                       and self.stages[s]["complete"] is not None)
        wall_ms = 0
        end = None
        for a, b in spans:
            if end is None or a > end:
                wall_ms += b - a
                end = b
            elif b > end:
                wall_ms += b - end
                end = b
        times = [t["ms"] for t in tasks]
        med = statistics.median(times) if times else 0
        return {
            "wall_s": wall_ms / 1000.0,
            "busy_s": sum(t["run_ms"] for t in tasks) / 1000.0,
            "cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "shuffle_write_mb": sum(t["shuffle_bytes"] for t in tasks) / 2**20,
            "spill_mb": sum(t["spill_bytes"] for t in tasks) / 2**20,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
            "tasks": len(tasks),
            "task_skew": (max(times) / med) if med > 0 else 1.0,
        }

    def extraction_phases(self, labels) -> dict[str, dict]:
        """Per-phase metrics over the extraction calls tagged ``labels``."""
        phase: dict[int, str] = {}
        for label in labels:
            phase.update(self.phase_of_stages(
                self.stages_of(self.jobs_tagged(label, "data")),
                self.stages_of(self.jobs_tagged(label, "lineage"))))
        return {p: self.stage_metrics(s for s, ph in phase.items() if ph == p)
                for p in PHASES}
