"""Offline reader for Spark's JSON event log.

Spark writes one JSON object per line (``spark.eventLog.enabled``). This
reader keeps only what the per-layer metrics need:

* every Spark job with its job group, call site and SQL execution id
  (``SparkListenerJobStart`` properties);
* every completed Spark stage with its accumulables, attributed to the job
  group it was submitted under (``SparkListenerStageSubmitted``
  properties), and its task durations (``SparkListenerTaskEnd``);
* every SQL plan (``SparkListenerSQLExecutionStart`` and the adaptive
  re-plans), so plan-node metrics such as a join's output rows can be
  looked up by node, and write jobs by the path they write.

Timing accumulables from Python nodes are task-summed milliseconds;
``executorCpuTime`` is nanoseconds.
"""

from __future__ import annotations

import gzip
import json
import os
import statistics
from collections import defaultdict
from typing import Callable, Iterable, Iterator

_SQL = "org.apache.spark.sql.execution.ui."
_WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"

# (metric name, accumulable names summed, scale to the metric's unit)
_STAGE_SUMS = (
    ("cpu_s", ("internal.metrics.executorCpuTime",), 1e-9),
    ("python_s", ("time to run Python workers",), 1e-3),
    ("python_boot_s", ("time to start Python workers",
                       "time to initialize Python workers"), 1e-3),
    ("python_in_bytes", ("data sent to Python workers",), 1.0),
    ("python_out_bytes", ("data returned from Python workers",), 1.0),
    ("shuffle_bytes", ("internal.metrics.shuffle.write.bytesWritten",), 1.0),
    ("spill_bytes", ("internal.metrics.diskBytesSpilled",), 1.0),
)


def read_events(path: str) -> Iterator[dict]:
    """Events of one log file, in file order; a ``.gz`` file is
    decompressed."""
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt", encoding="utf-8") as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def find_log(event_dir: str) -> str:
    """The single application log under ``spark.eventLog.dir``."""
    entries = [e for e in os.listdir(event_dir) if not e.startswith(".")]
    if len(entries) != 1:
        raise ValueError(f"expected one event log in {event_dir}, "
                         f"found {entries}")
    return os.path.join(event_dir, entries[0])


def _walk(plan: dict) -> Iterator[dict]:
    todo = [plan]
    while todo:
        node = todo.pop()
        yield node
        todo.extend(node.get("children", ()))


class EventLog:
    def __init__(self, events: Iterable[dict]):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.plans: dict[int, list[dict]] = defaultdict(list)
        self.acc: dict[int, float] = {}
        self._props: dict[int, dict] = {}
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                p = e.get("Properties") or {}
                self.jobs[e["Job ID"]] = {
                    "group": p.get("spark.jobGroup.id"),
                    "call_site": p.get("callSite.short"),
                    "exec_id": (int(p["spark.sql.execution.id"])
                                if p.get("spark.sql.execution.id") else None),
                    "start": e["Submission Time"], "end": None}
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in self.jobs:
                    self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                self._props[e["Stage Info"]["Stage ID"]] = (
                    e.get("Properties") or {})
            elif kind == "SparkListenerTaskEnd":
                info = e["Task Info"]
                st = self._stage(e["Stage ID"])
                st["tasks_ms"].append(info["Finish Time"] - info["Launch Time"])
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = self._stage(info["Stage ID"])
                p = self._props.get(info["Stage ID"], {})
                st["group"] = p.get("spark.jobGroup.id")
                for a in info.get("Accumulables", ()):
                    try:
                        value = float(a["Value"])
                    except (TypeError, ValueError):
                        continue
                    st["acc"][a["Name"]] = st["acc"].get(a["Name"], 0.0) + value
                    self.acc[a["ID"]] = max(self.acc.get(a["ID"], 0.0), value)
            elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                          _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                self.plans[e["executionId"]].append(e["sparkPlanInfo"])
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                for acc_id, value in e.get("accumUpdates", ()):
                    self.acc[acc_id] = max(self.acc.get(acc_id, 0.0), value)

    def _stage(self, sid: int) -> dict:
        return self.stages.setdefault(
            sid, {"group": None, "acc": {}, "tasks_ms": []})

    # -- attribution -------------------------------------------------------
    def written_paths(self, exec_id: int | None) -> list[str]:
        """Paths a SQL execution writes (parquet/table inserts)."""
        if exec_id is None:
            return []
        out = []
        for plan in self.plans.get(exec_id, ()):
            for node in _walk(plan):
                if node.get("nodeName") == _WRITE_NODE:
                    path = node["simpleString"][len(_WRITE_NODE):].split(",")[0]
                    out.append(path.strip())
        return sorted(set(out))

    def group_jobs(self, key: Callable[[dict], str | None]) -> dict[str, list[int]]:
        """Job ids by ``key(job)``; jobs keyed ``None`` are left out."""
        out: dict[str, list[int]] = defaultdict(list)
        for jid, job in sorted(self.jobs.items()):
            k = key(job)
            if k is not None:
                out[k].append(jid)
        return dict(out)

    # -- metrics -----------------------------------------------------------
    def stage_totals(self, groups: set[str]) -> dict[str, float]:
        """Summed stage metrics over stages submitted under ``groups``,
        plus ``task_skew``: max / median task time of the stage with the
        most task time (stages of one task are skipped)."""
        sums = {name: 0.0 for name, _, _ in _STAGE_SUMS}
        heaviest, skew = -1, 1.0
        for st in self.stages.values():
            if st["group"] not in groups:
                continue
            for name, accs, scale in _STAGE_SUMS:
                sums[name] += sum(st["acc"].get(a, 0.0) for a in accs) * scale
            tasks = st["tasks_ms"]
            if len(tasks) > 1 and sum(tasks) > heaviest:
                heaviest = sum(tasks)
                skew = max(tasks) / max(statistics.median(tasks), 1.0)
        sums["task_skew"] = skew
        return sums

    def job_wall_s(self, job_ids: Iterable[int]) -> float:
        return sum((self.jobs[j]["end"] - self.jobs[j]["start"]) / 1e3
                   for j in job_ids if self.jobs[j]["end"] is not None)

    def plan_metric(self, exec_ids: Iterable[int],
                    node: Callable[[dict], bool], metric: str) -> float:
        """Sum of plan metric ``metric`` over plan nodes matching ``node``
        in the given SQL executions (adaptive re-plans included; each
        accumulator counted once)."""
        ids = set()
        for ex in exec_ids:
            for plan in self.plans.get(ex, ()):
                for n in _walk(plan):
                    if node(n):
                        ids.update(m["accumulatorId"] for m in n.get("metrics", ())
                                   if m["name"] == metric)
        return sum(self.acc.get(i, 0.0) for i in ids)
