"""Per-layer readings taken from outside the engine.

Everything here reads what Spark 4.1 already exposes: the query
execution's ``QueryPlanningTracker`` and executed plan, the block
manager's RDD storage info, a Python ``StreamingQueryListener`` and the
JSON event log a traced session writes.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import re

from pyspark.sql.streaming import StreamingQueryListener

MB = 1e6
_EXCHANGE = re.compile(r"^[\s:|+-]*(?:Shuffle|Broadcast)?Exchange\b")


def catalyst(df) -> dict:
    """Run analysis, optimization and planning on ``df``'s own query
    execution and return their tracker times plus the Exchange count of
    the executed plan."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    out["exchanges"] = sum(
        1 for line in plan.treeString().splitlines() if _EXCHANGE.match(line)
    )
    return out


def cached_mb(spark) -> float:
    """Persistent-RDD storage held now, memory plus disk."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, data files) under a writer's output directory; Spark's
    ``_SUCCESS`` markers and hidden checksum files are not data."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for name in names:
            if name.startswith(("_", ".")):
                continue
            total += os.path.getsize(os.path.join(dirpath, name))
            files += 1
    return total, files


class ProgressRecorder(StreamingQueryListener):
    """Keeps every micro-batch progress as (epoch ms, batch s, commit s,
    run id, state rows); the benchmark assigns them to queries by time."""

    def __init__(self):
        self.batches: list[tuple[float, float, float, str, int]] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        ops = p.stateOperators or []
        self.batches.append((
            start.timestamp() * 1000.0,
            p.batchDuration / 1000.0,
            sum(op.commitTimeMs for op in ops) / 1000.0,
            str(p.runId),
            sum(op.numRowsTotal for op in ops),
        ))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and tasks from the (closed) JSON event log in
    ``log_dir``, each with the epoch-ms time it started."""
    jobs, stages, tasks = [], [], []
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append({"t": ev["Submission Time"]})
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stages.append({"t": info.get("Submission Time", 0)})
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    dur = info["Finish Time"] - info["Launch Time"]
                    run = m.get("Executor Run Time", 0)
                    overhead = m.get("Executor Deserialize Time", 0) + m.get(
                        "Result Serialization Time", 0
                    )
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "t": info["Launch Time"],
                        "task_s": run / 1000.0,
                        "sched_delay_s": max(
                            0, dur - run - overhead - info.get("Getting Result Time", 0)
                        ) / 1000.0,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_read_mb": (
                            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        ) / MB,
                        "shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / MB,
                        "spill_mb": m.get("Disk Bytes Spilled", 0) / MB,
                    })
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def in_window(events: list[dict], start_s: float, end_s: float) -> list[dict]:
    """Events whose epoch-ms start falls in [start_s, end_s] (seconds)."""
    lo, hi = int(start_s * 1000), int(end_s * 1000) + 1
    return [e for e in events if lo <= e["t"] <= hi]
