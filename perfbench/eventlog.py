"""Reads a Spark event log into per-job-group task counters and plans.

The traced run tags the jobs of each span with a job group (see
``common.Tracer``); this module folds the log's task, stage, job and SQL
events into one :class:`GroupStats` per group.  Python worker metrics
are SQL metrics: their accumulator ids and units come from the plan info,
their values from the task-end accumulable updates.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

#: SQL metric name -> GroupStats attribute (Spark 4.1 Python worker metrics)
PYTHON_METRICS = {
    "time to run Python workers": "python_s",
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_boot_s",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
}
#: metricType -> factor to seconds
TIME_UNITS = {"timing": 1e-3, "nsTiming": 1e-9}


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    deser_s: float = 0.0
    gc_s: float = 0.0
    spill_bytes: int = 0
    scan_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    python_s: float = 0.0
    python_boot_s: float = 0.0
    python_bytes: int = 0
    parquet_scans: int = 0
    cached_scans: int = 0
    node_names: set = field(default_factory=set)

    def add(self, other: "GroupStats") -> None:
        for k, v in other.__dict__.items():
            if k == "node_names":
                self.node_names |= v
            else:
                setattr(self, k, getattr(self, k) + v)


def _walk(node: dict):
    yield node
    for c in node.get("children", ()):
        yield from _walk(c)


def read(log_dir: Path) -> dict[str, GroupStats]:
    """Job group id -> stats, from the single event log file in ``log_dir``."""
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    final_plan: dict[int, dict] = {}
    acc_meta: dict[int, tuple[str, str]] = {}
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    with open(files[0]) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"].rsplit(".", 1)[-1]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or ""
                stats[group].jobs += 1
                for sid in e["Stage IDs"]:
                    stage_group[sid] = group
                if "spark.sql.execution.id" in props:
                    exec_group.setdefault(int(props["spark.sql.execution.id"]), group)
            elif kind == "SparkListenerStageCompleted":
                sid = e["Stage Info"]["Stage ID"]
                stats[stage_group.get(sid, "")].stages += 1
            elif kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
                final_plan[e["executionId"]] = e["sparkPlanInfo"]
                for node in _walk(e["sparkPlanInfo"]):
                    for m in node.get("metrics", ()):
                        acc_meta[m["accumulatorId"]] = (m["name"], m["metricType"])
            elif kind == "SparkListenerTaskEnd":
                _task(stats[stage_group.get(e["Stage ID"], "")], e, acc_meta)
    for exec_id, plan in final_plan.items():
        g = stats[exec_group.get(exec_id, "")]
        for node in _walk(plan):
            name = node["nodeName"]
            g.node_names.add(name)
            g.parquet_scans += name.startswith("Scan parquet")
            g.cached_scans += name == "InMemoryTableScan"
    return dict(stats)


def _task(g: GroupStats, e: dict, acc_meta: dict[int, tuple[str, str]]) -> None:
    info, m = e["Task Info"], e.get("Task Metrics") or {}
    g.tasks += 1
    g.failed_tasks += bool(info.get("Failed") or info.get("Killed"))
    g.task_s += m.get("Executor Run Time", 0) / 1e3
    g.deser_s += m.get("Executor Deserialize Time", 0) / 1e3
    g.gc_s += m.get("JVM GC Time", 0) / 1e3
    g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    g.scan_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    for acc in info.get("Accumulables", ()):
        name, mtype = acc_meta.get(acc.get("ID"), (acc.get("Name"), "sum"))
        attr = PYTHON_METRICS.get(name)
        if attr is None or "Update" not in acc:
            continue
        value = float(acc["Update"])
        setattr(g, attr, getattr(g, attr) + value * TIME_UNITS.get(mtype, 1))
