"""Spans around calls into the engine's layers, and Spark's event log folded
per span.

A `Tracer` records one span per wrapped call (name, parent, start, end) and,
while a span is open, tags the Spark jobs it starts with a job group named
after the span. After the session stops, `fold_event_log` reads the
uncompressed event log and sums the engine's own task, stage and SQL-scan
metrics per job group, so each span gets the Spark work it caused.

A disabled tracer records nothing and sets no job group: untraced runs pay
for no tracing.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_PROP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark=None, enabled: bool = False):
        self.sc = spark.sparkContext if spark is not None else None
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list[tuple] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setLocalProperty(GROUP_PROP, f"span-{rec['id']}")
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            parent = f"span-{self._stack[-1]}" if self._stack else None
            self.sc.setLocalProperty(GROUP_PROP, parent)

    def wrap(self, owner, attr: str, name: str, when=None, after=None) -> None:
        """Replace `owner.attr` by a wrapper that runs it inside a span —
        only for calls where `when(*args)` holds, if given. `after(span)`
        runs once the call has returned, still inside the span."""
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            if when is not None and not when(*args, **kwargs):
                return orig(*args, **kwargs)
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(rec)
                return out

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def unwrap(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # --- span arithmetic ----------------------------------------------------

    def descendants(self, root: dict) -> set[int]:
        ids = {root["id"]}
        for s in self.spans[root["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids

    def self_time(self, span: dict, keep: tuple[str, ...] = ()) -> float:
        """Span wall minus its child spans, except children named in `keep`."""
        children = sum(s["end"] - s["start"] for s in self.spans
                       if s["parent"] == span["id"] and s["name"] not in keep)
        return span["end"] - span["start"] - children

    def current(self) -> str | None:
        """Name of the innermost open span."""
        return self.spans[self._stack[-1]]["name"] if self._stack else None


# --- plan shape ---------------------------------------------------------------

# physical operators counted per SQL execution, by node-name prefix; a shuffle
# Exchange is named exactly that (BroadcastExchange and ReusedExchange are not
# counted)
PLAN_NODES = {
    "exchanges": ("Exchange",),
    "scans": ("Scan ",),
    "shuffled_joins": ("SortMergeJoin", "ShuffledHashJoin"),
    "broadcast_joins": ("BroadcastHashJoin", "BroadcastNestedLoopJoin"),
}


def plan_counts(plan: dict) -> dict[str, int]:
    """Operator counts of a `sparkPlanInfo` tree from the event log."""
    out = dict.fromkeys(PLAN_NODES, 0)
    stack = [plan]
    while stack:
        node = stack.pop()
        for key, prefixes in PLAN_NODES.items():
            out[key] += node.get("nodeName", "").startswith(prefixes)
        stack.extend(node.get("children", ()))
    return out


# --- event log ----------------------------------------------------------------

ENGINE_FIELDS = (
    "jobs", "stages", "tasks", "failed_tasks", "task_s", "task_cpu_s",
    "scheduler_delay_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "rows_scanned",
)


def _events(log_dir: str):
    for root, _dirs, files in os.walk(log_dir):
        for f in sorted(files):
            if f.startswith("."):  # checksum files of the local filesystem
                continue
            with open(os.path.join(root, f)) as fh:
                for line in fh:
                    if line.strip():
                        yield json.loads(line)


def _scan_row_metrics(plan: dict, out: set[int]) -> None:
    if plan.get("nodeName", "").startswith("Scan"):
        out.update(m["accumulatorId"] for m in plan.get("metrics", ())
                   if m["name"] == "number of output rows")
    for child in plan.get("children", ()):
        _scan_row_metrics(child, out)


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: the ENGINE_FIELDS sums, `stage_task_s`, the task
    durations of each stage (for skew), and `executions`, the root SQL
    executions in start order, each with its start time (`start_s`, epoch
    seconds, posted once the query is planned) and the `plan_counts` of the
    last plan it ran (the adaptive plan's final form)."""
    stage_group: dict[int, str] = {}
    scan_ids: set[int] = set()
    executions: dict[int, dict] = {}
    groups: dict[str, dict] = defaultdict(
        lambda: {**dict.fromkeys(ENGINE_FIELDS, 0), "stage_task_s": {},
                 "executions": []})
    for ev in _events(log_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_PROP) or "none"
            groups[group]["jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_group[sid] = group
        elif kind.endswith("SQLExecutionStart"):
            _scan_row_metrics(ev["sparkPlanInfo"], scan_ids)
            eid = ev["executionId"]
            if ev.get("rootExecutionId", eid) == eid:
                executions[eid] = {
                    "id": eid, "start_s": ev["time"] / 1000,
                    "group": ev.get("jobGroupId") or "none",
                    **plan_counts(ev["sparkPlanInfo"])}
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            _scan_row_metrics(ev["sparkPlanInfo"], scan_ids)
            if ev["executionId"] in executions:
                executions[ev["executionId"]].update(
                    plan_counts(ev["sparkPlanInfo"]))
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            groups[stage_group.get(sid, "none")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = groups[stage_group.get(ev["Stage ID"], "none")]
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            wall = (info["Finish Time"] - info["Launch Time"]) / 1000
            g["tasks"] += 1
            g["failed_tasks"] += int(
                ev["Task End Reason"]["Reason"] != "Success")
            run = m.get("Executor Run Time", 0) / 1000
            g["task_s"] += run
            g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1000
            g["scheduler_delay_s"] += max(0.0, wall - run - (
                m.get("Executor Deserialize Time", 0)
                + m.get("Result Serialization Time", 0)
                + info.get("Getting Result Time", 0)) / 1000)
            g["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            g["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
            g["rows_scanned"] += sum(
                int(a.get("Update", 0)) for a in info.get("Accumulables", ())
                if a.get("ID") in scan_ids)
            g["stage_task_s"].setdefault(ev["Stage ID"], []).append(wall)
    for eid in sorted(executions):
        ex = executions[eid]
        groups[ex.pop("group")]["executions"].append(ex)
    return dict(groups)


def engine_totals(groups: list[dict]) -> dict[str, float]:
    """Sum of ENGINE_FIELDS over `groups`, plus `task_skew`: the worst
    max/median task wall over their stages with at least two tasks."""
    out = {k: sum(g[k] for g in groups) for k in ENGINE_FIELDS}
    skews = [max(w) / statistics.median(w)
             for g in groups for w in g["stage_task_s"].values()
             if len(w) >= 2 and statistics.median(w) > 0]
    out["task_skew"] = max(skews, default=1.0)
    return out
