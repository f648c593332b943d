"""Fold a Spark event log into per-layer numbers (stdlib ``json`` only).

The traced run starts its session with ``spark.eventLog.enabled`` and tags
every unit of work with ``SparkContext.setJobGroup``.  This module reads the
log back and sums, per job group, the task-level metrics and the SQL
operator metrics the log carries:

- Python workers (``mapInPandas`` and the other Arrow UDF operators):
  time to start / initialize / run the workers, bytes sent to and returned
  from them;
- file scans: ``scan time``;
- whole-stage codegen: ``duration``;
- exchanges: shuffle bytes written and shuffle write time;
- tasks: run time, JVM GC time, bytes written by file sinks.

Spark measures a worker's *init* from the moment the worker waits for its
next task, so on a reused worker it includes idle time and can exceed the
task's own run time; *start* and *run* nest inside the task.  ``kernel``
reports the Python stage of each group with its summed task time, so the
three parts can be set against the whole.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics

# SQL metric name -> (layer key, node-name prefix or None for any node)
_SQL_METRICS = {
    "time to start Python workers": ("py_start_s", None),
    "time to initialize Python workers": ("py_init_s", None),
    "time to run Python workers": ("py_run_s", None),
    "data sent to Python workers": ("arrow_in_bytes", None),
    "data returned from Python workers": ("arrow_out_bytes", None),
    "scan time": ("scan_s", None),
    "duration": ("codegen_s", "WholeStageCodegen"),
}
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0, "sum": 1.0}

LAYER_KEYS = (
    "jobs", "tasks", "task_s", "gc_s", "py_start_s", "py_init_s", "py_run_s",
    "arrow_in_bytes", "arrow_out_bytes", "scan_s", "codegen_s",
    "shuffle_bytes", "shuffle_write_s", "sink_bytes",
)


def log_files(log_dir: str) -> list[str]:
    """Event log files under *log_dir*: single-file logs and the parts of
    rolling (``eventlog_v2_*``) logs, each in write order."""
    def part_no(path: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return int(m.group(1)) if m else 0

    files = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):
            files.extend(sorted(glob.glob(os.path.join(path, "events_*")), key=part_no))
        elif not entry.startswith(".") and not entry.endswith(".inprogress"):
            files.append(path)
    return files


def read_events(log_dir: str):
    for path in log_files(log_dir):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _walk(node):
    yield node
    for child in node.get("children", []):
        yield from _walk(child)


class Fold:
    """Task and operator metrics of one event log, grouped by job group."""

    def __init__(self, events):
        # accumulator id -> (node name, metric, metric type, node string)
        self.acc: dict[int, tuple[str, str, str, str]] = {}
        self.scan_nodes: list[tuple[str, frozenset]] = []  # location, acc ids
        self.stage_group: dict[int, str] = {}
        self.jobs: dict[str, int] = {}
        self.tasks: list[dict] = []
        for ev in events:
            kind = ev.get("Event", "")
            if kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                self._add_plan(ev["sparkPlanInfo"])
            elif kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                self.jobs[group] = self.jobs.get(group, 0) + 1
                for sid in ev.get("Stage IDs", []):
                    self.stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                self.tasks.append(self._task(ev))

    def _add_plan(self, plan: dict) -> None:
        for node in _walk(plan):
            name = node.get("nodeName", "")
            text = node.get("simpleString", name)
            ids = []
            for m in node.get("metrics", []):
                self.acc[m["accumulatorId"]] = (name, m["name"], m["metricType"], text)
                ids.append(m["accumulatorId"])
            location = (node.get("metadata") or {}).get("Location", "")
            if name.startswith("Scan") and location:
                self.scan_nodes.append((location, frozenset(ids)))

    def _task(self, ev: dict) -> dict:
        tm = ev.get("Task Metrics") or {}
        sw = tm.get("Shuffle Write Metrics") or {}
        out = tm.get("Output Metrics") or {}
        rec = {
            "stage": ev["Stage ID"],
            "task_s": tm.get("Executor Run Time", 0) * 1e-3,
            "gc_s": tm.get("JVM GC Time", 0) * 1e-3,
            "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
            "shuffle_write_s": sw.get("Shuffle Write Time", 0) * 1e-9,
            "sink_bytes": out.get("Bytes Written", 0),
            "acc_ids": set(),
            "rows_out": {},
        }
        for a in (ev.get("Task Info") or {}).get("Accumulables", []):
            meta = self.acc.get(a.get("ID"))
            if meta is None or a.get("Update") is None:
                continue
            rec["acc_ids"].add(a["ID"])
            node, metric, mtype, text = meta
            value = float(a["Update"])
            key = _SQL_METRICS.get(metric)
            if key and (key[1] is None or node.startswith(key[1])):
                rec[key[0]] = rec.get(key[0], 0.0) + value * _SCALE.get(mtype, 1.0)
            elif metric == "number of output rows" and (
                "Python" in node or "Pandas" in node or "Arrow" in node
            ):
                rec["rows_out"][text] = rec["rows_out"].get(text, 0) + value
        return rec

    def group_of(self, task: dict) -> str:
        return self.stage_group.get(task["stage"], "")

    def select(self, match) -> list[dict]:
        """Tasks whose job group satisfies *match* (a predicate on the
        group id string)."""
        return [t for t in self.tasks if match(self.group_of(t))]

    def layers(self, match) -> dict:
        """Summed layer metrics over the groups *match* selects."""
        tasks = self.select(match)
        out = {k: 0.0 for k in LAYER_KEYS}
        out["jobs"] = float(sum(n for g, n in self.jobs.items() if match(g)))
        out["tasks"] = float(len(tasks))
        for t in tasks:
            for k in LAYER_KEYS[2:]:
                out[k] += t.get(k, 0.0)
        return out

    def kernel_stage(self, match) -> dict:
        """The Python stage with the most worker run time among the
        selected groups: its task count, max/median task time, summed
        task time and the three worker timings."""
        by_stage: dict[int, list[dict]] = {}
        for t in self.select(match):
            if "py_run_s" in t:
                by_stage.setdefault(t["stage"], []).append(t)
        if not by_stage:
            return {"tasks": 0, "skew": 0.0, "task_s": 0.0,
                    "py_start_s": 0.0, "py_init_s": 0.0, "py_run_s": 0.0}
        tasks = max(by_stage.values(), key=lambda ts: sum(t["py_run_s"] for t in ts))
        times = [t["task_s"] for t in tasks]
        med = statistics.median(times)
        return {
            "tasks": len(tasks),
            "skew": max(times) / med if med > 0 else 0.0,
            "task_s": sum(times),
            **{k: sum(t.get(k, 0.0) for t in tasks)
               for k in ("py_start_s", "py_init_s", "py_run_s")},
        }

    def scans_of(self, location_part: str, match) -> int:
        """Executed scan operators (any task updated one of their metrics)
        whose location contains *location_part*."""
        seen = set()
        for t in self.select(match):
            seen |= t["acc_ids"]
        return sum(
            1 for loc, ids in self.scan_nodes
            if location_part in loc and ids & seen
        )

    def python_rows(self, match, node_part: str) -> float:
        """Rows emitted by Python operators whose plan string contains
        *node_part* (e.g. the UDF's name), counting failed tasks too."""
        return sum(
            v for t in self.select(match)
            for text, v in t["rows_out"].items() if node_part in text
        )


def fold_dir(log_dir: str) -> Fold:
    return Fold(read_events(log_dir))
