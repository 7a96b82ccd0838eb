"""Spans and the offline Spark event-log fold.

Spans are recorded from the benchmark's own files around each call into a
layer's public function.  While a span is open its name is the Spark job
group, so every job, stage and task in the event log can be folded back to
the span that caused it.  Nothing here starts a UI or calls a REST API: the
fold reads the JSON event log after the session has stopped.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """In-memory spans (name, path, start, end, parent, run id).  While a
    span is open, the path of open span names joined by ``/`` is the Spark
    job group.  A disabled tracer records nothing and leaves the job group
    alone, so untraced runs pay no tracing cost."""

    def __init__(self, spark, enabled: bool, run_id: str):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = "/".join(self._stack) or None
        self._stack.append(name)
        path = "/".join(self._stack)
        self.sc.setJobGroup(path, path)
        start = time.time()
        try:
            yield
        finally:
            self.spans.append({"name": name, "path": path, "start": start,
                               "end": time.time(), "parent": parent,
                               "run_id": self.run_id})
            self._stack.pop()
            self.sc.setJobGroup(parent or "", parent or "")

    def total(self, name: str, root: str | None = None) -> float:
        """Summed duration of the spans called ``name`` (under ``root``
        when given)."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name
                   and (root is None or s["path"].startswith(root + "/")))

    def write(self, path: Path) -> None:
        path.write_text("\n".join(json.dumps(s) for s in self.spans) + "\n")


# --- event-log fold -----------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."


def _walk_plan(info: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info["nodeName"], m["name"])
    for child in info.get("children", []):
        _walk_plan(child, out)


class GroupStats:
    """Task and SQL metrics of every job run under one job group."""

    def __init__(self):
        self.jobs = 0
        self.tasks = 0
        self.tasks_failed = 0
        self.cpu_ns = 0
        self.gc_ms = 0
        self.spill_bytes = 0
        self.shuffle_write_bytes = 0
        self.input_records = 0
        self.stage_task_ms: dict[int, list[int]] = {}
        self.sql: dict[tuple[str, str], list[int]] = {}

    def task_skew(self) -> float:
        """max/median task time of the group's busiest stage."""
        if not self.stage_task_ms:
            return 1.0
        durs = max(self.stage_task_ms.values(), key=sum)
        med = statistics.median(durs)
        return max(durs) / med if med > 0 else 1.0

    def sql_sum(self, node_prefix: str, metric: str) -> int:
        return sum(sum(v) for (node, name), v in self.sql.items()
                   if node.startswith(node_prefix) and name == metric)

    def sql_max(self, node_suffix: str, metric: str) -> int:
        vals = [sum(v) for (node, name), v in self.sql.items()
                if node.endswith(node_suffix) and name == metric]
        return max(vals, default=0)


def fold_event_log(log_dir: Path) -> dict[str, GroupStats]:
    """Fold TaskEnd, JobStart and SQL plan events per job group."""
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {len(files)}")
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    plan_metrics: dict[int, dict[int, tuple[str, str]]] = {}
    stage_acc: dict[int, dict[int, int]] = {}
    driver_acc: dict[int, dict[int, int]] = {}  # execution -> driver-side
    groups: dict[str, GroupStats] = {}
    with files[0].open() as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or ""
                groups.setdefault(group, GroupStats()).jobs += 1
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = group
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    exec_group.setdefault(int(eid), group)
            elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                          _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                _walk_plan(ev["sparkPlanInfo"],
                           plan_metrics.setdefault(ev["executionId"], {}))
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                acc = driver_acc.setdefault(ev["executionId"], {})
                for aid, val in ev["accumUpdates"]:
                    acc[aid] = acc.get(aid, 0) + val
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                g = groups.setdefault(stage_group.get(sid, ""), GroupStats())
                info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                g.tasks += 1
                if ev["Task End Reason"]["Reason"] != "Success":
                    g.tasks_failed += 1
                g.cpu_ns += tm.get("Executor CPU Time", 0)
                g.gc_ms += tm.get("JVM GC Time", 0)
                g.spill_bytes += (tm.get("Memory Bytes Spilled", 0)
                                  + tm.get("Disk Bytes Spilled", 0))
                sw = tm.get("Shuffle Write Metrics") or {}
                g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                im = tm.get("Input Metrics") or {}
                g.input_records += im.get("Records Read", 0)
                g.stage_task_ms.setdefault(sid, []).append(
                    info["Finish Time"] - info["Launch Time"])
                acc = stage_acc.setdefault(sid, {})
                for a in info.get("Accumulables", []):
                    upd = a.get("Update")
                    if isinstance(upd, (int, float)) or (
                            isinstance(upd, str) and upd.lstrip("-").isdigit()):
                        acc[a["ID"]] = acc.get(a["ID"], 0) + int(upd)
    # SQL metrics: accumulator ids of each execution's plan, valued by the
    # task updates of the stages that ran under the execution's group and
    # by the driver-side updates (file scan sizes) of the execution itself
    for eid, metrics in plan_metrics.items():
        group = exec_group.get(eid)
        if group is None:
            continue
        g = groups.setdefault(group, GroupStats())
        accs = [acc for sid, acc in stage_acc.items()
                if stage_group.get(sid) == group]
        accs.append(driver_acc.get(eid, {}))
        for acc in accs:
            for aid, val in acc.items():
                key = metrics.get(aid)
                if key is not None:
                    g.sql.setdefault(key, []).append(val)
    return groups
