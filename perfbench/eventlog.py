"""Spark event-log parser for the benchmark's traced pass.

The benchmark sets one Spark job group per query before running it, so
every stage and task in the log carries the query it belongs to through
the `spark.jobGroup.id` property of its `SparkListenerStageSubmitted`
event.  `parse` folds the log into one `GroupStats` per job group.

Only these events are read:

- `SparkListenerJobStart`: jobs per group.
- `SparkListenerStageSubmitted`: stage id -> job group.
- `SparkListenerStageCompleted`: stages and tasks per stage.
- `SparkListenerTaskEnd`: task run and GC time, shuffle, spill, and the
  task's update of the "data sent to Python workers" SQL metric (which
  Arrow and pandas UDF operators declare).
"""

from __future__ import annotations

import json
from collections.abc import Iterable
from dataclasses import dataclass

GROUP_KEY = "spark.jobGroup.id"
PYTHON_SENT_METRIC = "data sent to Python workers"


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    single_task_stages: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    fetch_wait_s: float = 0.0
    spill_bytes: int = 0
    python_sent_bytes: int = 0

    def add(self, other: GroupStats) -> None:
        for k, v in vars(other).items():
            setattr(self, k, getattr(self, k) + v)


def parse(lines: Iterable[str], group_prefix: str = "") -> dict[str, GroupStats]:
    """Fold event-log lines into per-job-group totals.

    Only groups whose id starts with `group_prefix` are kept; stages
    and tasks of jobs outside any group are ignored.
    """
    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}

    def group_of(props: dict | None) -> str | None:
        g = (props or {}).get(GROUP_KEY)
        if g is None or not g.startswith(group_prefix):
            return None
        return g

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            g = group_of(ev.get("Properties"))
            if g is not None:
                groups.setdefault(g, GroupStats()).jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            g = group_of(ev.get("Properties"))
            if g is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            g = stage_group.get(info["Stage ID"])
            if g is not None:
                s = groups.setdefault(g, GroupStats())
                s.stages += 1
                s.single_task_stages += info["Number of Tasks"] == 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"])
            if g is None:
                continue
            s = groups.setdefault(g, GroupStats())
            s.tasks += 1
            m = ev.get("Task Metrics") or {}
            s.task_s += m.get("Executor Run Time", 0) / 1000.0
            s.gc_s += m.get("JVM GC Time", 0) / 1000.0
            s.spill_bytes += m.get("Disk Bytes Spilled", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            s.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            s.fetch_wait_s += rd.get("Fetch Wait Time", 0) / 1000.0
            wr = m.get("Shuffle Write Metrics") or {}
            s.shuffle_write_bytes += wr.get("Shuffle Bytes Written", 0)
            for acc in ev["Task Info"].get("Accumulables", ()):
                if acc.get("Name") == PYTHON_SENT_METRIC:
                    s.python_sent_bytes += int(acc["Update"])
    return groups


def parse_file(path: str, group_prefix: str = "") -> dict[str, GroupStats]:
    with open(path, encoding="utf-8") as f:
        return parse(f, group_prefix)
