"""Fold a Spark event log into one row of counters per job group.

The benchmark labels every operation with a job group; the jobs it
starts carry that label in their properties, their stages and tasks
inherit it. Per group this sums task counts, CPU, GC, shuffle, spill
and the Python-worker boundary metrics, and keeps the final row count
of every SQL plan node so callers can form refine yields.

Run as a script to print the folded table of a log directory:
``python3 perfbench/eventlog.py <dir>``.
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections import defaultdict
from typing import Iterator

MB = 1 << 20
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_BACK = "data returned from Python workers"
ROWS = "number of output rows"


def log_files(log_dir: str) -> list[str]:
    """Event files of every application under ``log_dir``, in order:
    Spark 4 writes rolling ``eventlog_v2_<app>/events_<n>_<app>``."""
    rolled = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    key = lambda p: (os.path.dirname(p),
                     int(os.path.basename(p).split("_")[1]))
    plain = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(p) and not p.endswith((".crc", ".inprogress"))
             and not os.path.basename(p).startswith(".")]
    return sorted(rolled, key=key) + sorted(plain)


def events(log_dir: str) -> Iterator[dict]:
    for path in log_files(log_dir):
        with open(path) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


class Group:
    """Counters of one job group."""

    def __init__(self) -> None:
        self.jobs: set[int] = set()
        self.stages: set[int] = set()
        self.executions: set[int] = set()
        self.tasks = 0
        self.cpu_ns = 0
        self.gc_ms = 0
        self.shuffle_write = 0
        self.spill = 0
        self.py_ms = 0
        self.py_sent = 0
        self.py_back = 0
        # (node name, simple string, final row count) per plan node
        self.node_rows: list[tuple[str, str, int]] = []

    def table(self) -> dict[str, float]:
        return {
            "jobs": len(self.jobs), "stages": len(self.stages),
            "tasks": self.tasks,
            "task_cpu_s": self.cpu_ns / 1e9, "gc_s": self.gc_ms / 1e3,
            "shuffle_write_mb": self.shuffle_write / MB,
            "spill_mb": self.spill / MB,
            "python_s": self.py_ms / 1e3,
            "to_python_mb": self.py_sent / MB,
            "from_python_mb": self.py_back / MB,
        }

    def rows(self, pred) -> int:
        """Summed final row counts of the plan nodes ``pred`` accepts."""
        return sum(r for name, s, r in self.node_rows if pred(name, s))


def _plan_nodes(info: dict) -> Iterator[tuple[str, str, int]]:
    """(node name, simple string, rows accumulator id) of a plan tree."""
    stack = [info]
    while stack:
        n = stack.pop()
        for m in n.get("metrics", []):
            if m["name"] == ROWS:
                yield n["nodeName"], n["simpleString"], m["accumulatorId"]
        stack.extend(n.get("children", []))


def fold(log_dir: str) -> dict[str, Group]:
    groups: dict[str, Group] = defaultdict(Group)
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    exec_nodes: dict[int, dict[int, tuple[str, str]]] = defaultdict(dict)
    acc: dict[int, int] = defaultdict(int)
    for e in events(log_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            name = props.get("spark.jobGroup.id")
            if name is None:
                continue
            g = groups[name]
            g.jobs.add(e["Job ID"])
            for sid in e["Stage IDs"]:
                stage_group.setdefault(sid, name)
            if "spark.sql.execution.id" in props:
                xid = int(props["spark.sql.execution.id"])
                exec_group.setdefault(xid, name)
                g.executions.add(xid)
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            if sid in stage_group:
                groups[stage_group[sid]].stages.add(sid)
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            for a in info.get("Accumulables", []):
                if a.get("Metadata") == "sql" and "Update" in a:
                    acc[a["ID"]] += int(a["Update"])
            name = stage_group.get(e["Stage ID"])
            if name is None:
                continue
            g = groups[name]
            g.tasks += 1
            m = e.get("Task Metrics") or {}
            g.cpu_ns += m.get("Executor CPU Time", 0)
            g.gc_ms += m.get("JVM GC Time", 0)
            g.shuffle_write += (m.get("Shuffle Write Metrics") or {}) \
                .get("Shuffle Bytes Written", 0)
            g.spill += m.get("Disk Bytes Spilled", 0)
            for a in info.get("Accumulables", []):
                if a.get("Metadata") != "sql" or "Update" not in a:
                    continue
                if a["Name"] == PY_TIME:
                    g.py_ms += int(a["Update"])
                elif a["Name"] == PY_SENT:
                    g.py_sent += int(a["Update"])
                elif a["Name"] == PY_BACK:
                    g.py_back += int(a["Update"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for aid, val in e["accumUpdates"]:
                acc[aid] += int(val)
        elif kind.endswith(("SparkListenerSQLExecutionStart",
                            "SparkListenerSQLAdaptiveExecutionUpdate")):
            nodes = exec_nodes[e["executionId"]]
            for name, s, aid in _plan_nodes(e["sparkPlanInfo"]):
                nodes[aid] = (name, s)
    for xid, nodes in exec_nodes.items():
        name = exec_group.get(xid)
        if name is None:
            continue
        groups[name].node_rows.extend(
            (n, s, acc[aid]) for aid, (n, s) in nodes.items())
    return dict(groups)


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(f"usage: {argv[0]} <event-log-dir>", file=sys.stderr)
        return 2
    table = {k: g.table() for k, g in sorted(fold(argv[1]).items())}
    print(json.dumps(table, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
