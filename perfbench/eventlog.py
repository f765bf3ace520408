"""Per-job-group metrics from a Spark event log.

The benchmark runs every call into a layer under its own Spark job group
(see ``tracing.Tracer``). This module reads the JSON event log Spark
writes with ``spark.eventLog.enabled=true`` (uncompressed, not rolled)
and folds the stage and task events of each job group into one record:

- ``jobs``, ``stages``, ``tasks``, ``tasks_failed``;
- ``run_s`` (task executor run time), ``cpu_s`` (task executor CPU time),
  ``gc_s`` (JVM GC time inside tasks);
- ``shuffle_write_bytes``, ``spill_bytes`` (memory plus disk spill);
- ``idle_core_s``: for each stage, cores x stage wall minus the time its
  tasks were running, summed over the group's stages. A stage that runs
  one task on a four-core session shows three idle cores for its whole
  wall;
- ``node_rows``: output rows per physical-plan node name, counted in the
  group's tasks (``{"MapInPandas": 1234, ...}``). A cached plan's nodes
  count where the cache was built.

Run as a script it prints the records of one event log as JSON:
``python3 perfbench/eventlog.py <event-log file or directory> [cores]``.
"""

from __future__ import annotations

import collections
import json
import os
import sys

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_GROUP = "spark.jobGroup.id"
_NO_GROUP = ""


def read_events(path: str):
    """Yield the events of one log file, or of every file in a log
    directory (rolled logs), in file-name order."""
    files = (
        [os.path.join(path, f) for f in sorted(os.listdir(path))
         if not f.startswith(".")]
        if os.path.isdir(path)
        else [path]
    )
    for f in files:
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _empty() -> dict:
    return {
        "jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0,
        "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_write_bytes": 0, "spill_bytes": 0,
        "idle_core_s": 0.0, "node_rows": {},
    }


def _row_metric_ids(plan: dict, out: dict) -> None:
    """Map each ``number of output rows`` accumulator of a plan tree to its
    node name."""
    for m in plan.get("metrics", ()):
        if m.get("name") == "number of output rows":
            out[m["accumulatorId"]] = plan["nodeName"]
    for child in plan.get("children", ()):
        _row_metric_ids(child, out)


def group_metrics(events, cores: int) -> dict[str, dict]:
    """Fold an event stream into ``{job group id: record}``. Jobs without
    a group are filed under ``""``."""
    events = list(events)
    # a cached plan's tasks may report accumulators that only a later
    # execution's plan declares, so read every plan before any task
    row_accums: dict[int, str] = {}
    for e in events:
        if e["Event"] in (_SQL_START, _SQL_AQE):
            _row_metric_ids(e["sparkPlanInfo"], row_accums)
    groups: dict[str, dict] = collections.defaultdict(_empty)
    stage_group: dict[int, str] = {}
    stage_busy: dict[int, float] = collections.defaultdict(float)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            groups[(e.get("Properties") or {}).get(_GROUP) or _NO_GROUP]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            stage_group[e["Stage Info"]["Stage ID"]] = (
                props.get(_GROUP) or _NO_GROUP
            )
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            rec = groups[stage_group.get(sid, _NO_GROUP)]
            info = e["Task Info"]
            rec["tasks"] += 1
            stage_busy[sid] += (info["Finish Time"] - info["Launch Time"]) / 1e3
            if info.get("Failed") or info.get("Killed"):
                rec["tasks_failed"] += 1
                continue
            m = e.get("Task Metrics") or {}
            rec["run_s"] += m.get("Executor Run Time", 0) / 1e3
            rec["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            rec["spill_bytes"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            )
            rec["shuffle_write_bytes"] += (
                m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            )
            node_rows = rec["node_rows"]
            for acc in info.get("Accumulables", ()):
                node = row_accums.get(acc["ID"])
                if node is not None:
                    node_rows[node] = node_rows.get(node, 0) + int(acc.get("Update") or 0)
        elif kind == "SparkListenerStageCompleted":
            st = e["Stage Info"]
            sid = st["Stage ID"]
            rec = groups[stage_group.get(sid, _NO_GROUP)]
            rec["stages"] += 1
            t0, t1 = st.get("Submission Time"), st.get("Completion Time")
            if t0 is not None and t1 is not None:
                wall = (t1 - t0) / 1e3
                rec["idle_core_s"] += max(0.0, cores * wall - stage_busy[sid])
    return dict(groups)


if __name__ == "__main__":
    n_cores = int(sys.argv[2]) if len(sys.argv) > 2 else os.cpu_count() or 1
    print(json.dumps(group_metrics(read_events(sys.argv[1]), n_cores),
                     indent=1, sort_keys=True))
