"""Reader for the Spark event log, attributing executor metrics to spans.

Spark 4 writes a rolling log: one ``eventlog_v2_<appId>`` directory of
uncompressed JSON-lines files ``events_<n>_<appId>``. Each job carries its
job group (``spark.jobGroup.id``) in the JobStart properties; the tracer
sets that group to the id of the open span, so

    TaskEnd --stage--> JobStart --jobGroup--> span

attributes every task's metrics to exactly one span. Python-worker time
and bytes come from the SQL metrics the Python plan nodes declare
(MapInPandas, FlatMapGroupsInPandas, ...): their accumulator ids are read
from the plan info in SQLExecutionStart / SQLAdaptiveExecutionUpdate and
the per-task updates are summed from TaskEnd accumulables.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from dataclasses import dataclass, field

# SQL metric display name -> key, as declared by every Python plan node
PYTHON_METRICS = {
    "time to run Python workers": "python_total_ms",
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_received_bytes",
}

# the LidarTile population count shuffles on the tile id alone
# (operators/tiling.py tile_counts); its Exchange is the tiling layer's
TILE_EXCHANGE = re.compile(r"^Exchange hashpartitioning\(tile#\d+L?, \d+\)")


@dataclass
class GroupStats:
    """Executor-side totals of the jobs one span launched."""

    jobs: int = 0
    tasks: int = 0
    exec_run_ms: int = 0
    exec_cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    tile_shuffle_write_bytes: int = 0
    python: dict = field(default_factory=lambda: dict.fromkeys(PYTHON_METRICS.values(), 0))
    job_intervals: list = field(default_factory=list)  # (start_s, end_s)
    stage_task_ms: dict = field(default_factory=dict)  # stage id -> [task ms]

    def add(self, other: "GroupStats") -> None:
        for k in (
            "jobs", "tasks", "exec_run_ms", "exec_cpu_ns", "gc_ms", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "tile_shuffle_write_bytes",
        ):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        for k, v in other.python.items():
            self.python[k] += v
        self.job_intervals += other.job_intervals
        for sid, ms in other.stage_task_ms.items():
            self.stage_task_ms.setdefault(sid, []).extend(ms)

    def task_skew(self) -> float:
        """Max / median task time of the stage with the most task time: the
        skew signal of the stage that dominates this span (1.0 = even)."""
        stages = [ms for ms in self.stage_task_ms.values() if len(ms) >= 2]
        if not stages:
            return 1.0
        dom = max(stages, key=sum)
        return max(dom) / max(statistics.median(dom), 1.0)


def log_files(log_dir: str, app_id: str) -> list[str]:
    """Event files of application ``app_id`` in ``log_dir``, in write order."""
    d = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if not os.path.isdir(d):
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")

    def index(path: str) -> int:
        return int(os.path.basename(path).split("_")[1])

    return sorted(glob.glob(os.path.join(d, "events_*")), key=index)


def read_events(files: list[str]):
    for path in files:
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _plan_accumulators(node: dict, python: dict, tile: set) -> None:
    for m in node.get("metrics", []):
        key = PYTHON_METRICS.get(m["name"])
        if key:
            python[m["accumulatorId"]] = key
        elif m["name"] == "shuffle bytes written" and TILE_EXCHANGE.match(node["simpleString"]):
            tile.add(m["accumulatorId"])
    for c in node.get("children", []):
        _plan_accumulators(c, python, tile)


def summarize(events) -> dict[str | None, GroupStats]:
    """Per job group (None = no group) executor totals."""
    groups: dict[str | None, GroupStats] = {}
    stage_group: dict[int, str | None] = {}
    job_group: dict[int, str | None] = {}
    job_start: dict[int, float] = {}
    python_acc: dict[int, str] = {}
    tile_acc: set[int] = set()
    for e in events:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_accumulators(e["sparkPlanInfo"], python_acc, tile_acc)
        elif kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            job_group[e["Job ID"]] = g
            job_start[e["Job ID"]] = e["Submission Time"] / 1000.0
            for sid in e["Stage IDs"]:
                stage_group[sid] = g
            groups.setdefault(g, GroupStats()).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_start:
                groups[job_group[jid]].job_intervals.append(
                    (job_start[jid], e["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerTaskEnd":
            st = groups.setdefault(stage_group.get(e["Stage ID"]), GroupStats())
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            st.tasks += 1
            st.exec_run_ms += m.get("Executor Run Time", 0)
            st.exec_cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            st.spill_bytes += m.get("Disk Bytes Spilled", 0)
            rd = m.get("Shuffle Read Metrics", {})
            st.shuffle_read_bytes += rd.get("Local Bytes Read", 0) + rd.get("Remote Bytes Read", 0)
            st.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            st.stage_task_ms.setdefault(e["Stage ID"], []).append(
                info["Finish Time"] - info["Launch Time"]
            )
            for acc in info.get("Accumulables", []):
                aid = acc["ID"]
                if aid in python_acc:
                    st.python[python_acc[aid]] += int(acc.get("Update", 0))
                elif aid in tile_acc:
                    st.tile_shuffle_write_bytes += int(acc.get("Update", 0))
    return groups
