"""Layer ledger: spans recorded around the benchmark's calls into the engine,
and Spark's own event log folded into per-group rows.

The benchmark measures layers from outside the program:

* ``Tracer.span(name, group)`` times one call into a module's public function
  and tags every Spark job started inside it with the job group ``group``.
  Spans stay in memory until ``Tracer.dump``.
* ``fold(events)`` reads the uncompressed event log
  (``spark.eventLog.enabled=true``, ``spark.eventLog.compress=false``) and
  folds task metrics, job times and SQL plan-node metrics per job group.

Plan nodes are recognised by their names in the physical plan. The table
``SPATIAL_NODES`` below is the only place that knows the spatial join's
internal column names; it reads the plans as they are, nothing in the engine
reports to it.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory spans; a disabled tracer is a no-op (the untraced run).

    ``layered`` asks the workload for the extra per-layer jobs it runs in both
    phases of a traced run (the untraced and the traced one), so the two
    phases run the same jobs and differ only in tracing."""

    def __init__(self, sc=None, enabled: bool = False, layered: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.layered = layered
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans), "name": name,
            "group": group or (parent["group"] if parent else name),
            "parent": parent["id"] if parent else None,
            "start": time.time(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# Event log.
# ---------------------------------------------------------------------------


def read_events(log_dir: str) -> list[dict]:
    """Every event of the one application logged under ``log_dir``, in order
    (rolling logs are ``eventlog_v2_*/events_<n>_*`` files)."""
    files = glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
    files.sort(key=lambda p: int(re.search(r"events_(\d+)_", os.path.basename(p)).group(1)))
    if not files:  # single-file (non-rolling) log
        files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


PYTHON_TIME = "time to run Python workers"

# Spatial-join plan nodes, matched on (node name, simpleString).
SPATIAL_NODES = {
    "probe": lambda n, s: n == "Generate" and "_cell#" in s,
    "join": lambda n, s: n.endswith("Join") and "[_cell#" in s,
    "accept": lambda n, s: n == "Filter" and s.startswith("Filter (NOT is_boundary") and " OR " in s,
    "refine_udf": lambda n, s: n == "ArrowEvalPython" and "pip_udf(" in s,
    "refine_groups": lambda n, s: n == "FlatMapGroupsInPandas" and "refine(" in s,
    "cover": lambda n, s: n == "MapInPandas" and "gen(region_id" in s,
}


def _node_kind(name: str, simple: str) -> str | None:
    for kind, match in SPATIAL_NODES.items():
        if match(name, simple):
            return kind
    return None


def _walk(plan: dict):
    """(node, filter strings of its descendants) for every node of a plan."""
    out = []

    def rec(p):
        filters = []
        for c in p.get("children", []):
            filters += rec(c)
        out.append((p, filters))
        return filters + ([p["simpleString"]] if p["nodeName"] == "Filter" else [])

    rec(plan)
    return out


class Ledger:
    """Folded event log. Every number is keyed by job group."""

    def __init__(self):
        self.groups: dict[str, dict] = defaultdict(_empty_group)
        self.job_spans: list[tuple[str, float, float]] = []  # (group, t0, t1) epoch s
        self.nodes: list[dict] = []  # one per plan node with metric values
        self.stage_jobs: list[tuple[float, float, set]] = []  # (t0, t1, stage ids)

    # -- queries ------------------------------------------------------------
    def select(self, prefix: str = "") -> dict:
        """Sum of every group whose name starts with ``prefix``."""
        tot = _empty_group()
        for g, row in self.groups.items():
            if g.startswith(prefix):
                for k, v in row.items():
                    tot[k] = tot[k] + v
        return tot

    def job_wall(self, prefix: str = "") -> float:
        """Wall seconds during which at least one job of the groups ran."""
        return _union([(a, b) for g, a, b in self.job_spans if g.startswith(prefix)])

    def jobs_within(self, t0: float, t1: float) -> float:
        return _union([(max(a, t0), min(b, t1)) for _, a, b in self.job_spans if b > t0 and a < t1])

    def spatial(self, prefix: str = "") -> dict:
        """Spatial-join funnel and costs over the plans of the groups."""
        f = dict(probe_rows=0, refine_rows=0, accepted_rows=0, python_s=0.0,
                 shuffle_bytes=0, stages=set())
        for n in self.nodes:
            if not n["group"].startswith(prefix) or n["kind"] is None:
                continue
            rows = n["metrics"].get("number of output rows", 0)
            k = n["kind"]
            if k == "probe":
                f["probe_rows"] += rows
            elif k == "join":
                if n["branch"] == "interior":
                    f["accepted_rows"] += rows
                else:
                    f["refine_rows"] += rows
            elif k in ("accept", "refine_groups"):
                f["accepted_rows"] += rows
            if k == "refine_groups":
                f["shuffle_bytes"] += n["below_shuffle_bytes"]
            f["python_s"] += n["metrics"].get(PYTHON_TIME, 0) / 1000.0
            f["stages"] |= n["stages"]
        f["accept_ratio"] = f["accepted_rows"] / f["probe_rows"] if f["probe_rows"] else 0.0
        jobs = [(a, b) for a, b, st in self.stage_jobs if st & f["stages"]]
        f["exec_s"] = _union(jobs)
        del f["stages"]
        return f

    def plan_count(self, prefix: str, kind: str) -> int:
        """Number of SQL executions of the groups whose plan has a ``kind`` node."""
        return len({n["exec"] for n in self.nodes
                    if n["group"].startswith(prefix) and n["kind"] == kind})

    def node_metric(self, prefix: str, node_name: str, metric: str) -> float:
        return sum(n["metrics"].get(metric, 0) for n in self.nodes
                   if n["group"].startswith(prefix) and n["name"] == node_name)


def _empty_group() -> dict:
    return dict(jobs=0, stages=0, tasks=0, run_s=0.0, cpu_s=0.0, gc_s=0.0,
                spill_bytes=0, shuffle_write_bytes=0, shuffle_read_bytes=0,
                input_bytes=0, input_records=0, scan_tasks=0,
                single_task_stage_s=0.0, python_s=0.0, skews=[])


def _union(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def fold(events: list[dict]) -> Ledger:
    led = Ledger()
    stage_group: dict[tuple, str] = {}
    stage_tasks: dict[tuple, list] = defaultdict(list)
    stage_accs: dict[int, set] = defaultdict(set)
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    job_stages: dict[int, set] = {}
    exec_group: dict[int, str] = {}
    exec_plan: dict[int, dict] = {}
    acc_value: dict[int, float] = defaultdict(float)

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            job_group[jid] = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job_start[jid] = e["Submission Time"] / 1000.0
            job_stages[jid] = set(e.get("Stage IDs", []))
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_start:
                t1 = e["Completion Time"] / 1000.0
                led.job_spans.append((job_group[jid], job_start[jid], t1))
                led.stage_jobs.append((job_start[jid], t1, job_stages[jid]))
                led.groups[job_group[jid]]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            si = e["Stage Info"]
            props = e.get("Properties") or {}
            stage_group[(si["Stage ID"], si["Stage Attempt ID"])] = props.get("spark.jobGroup.id") or ""
        elif kind == "SparkListenerTaskEnd":
            key = (e["Stage ID"], e["Stage Attempt ID"])
            m = e.get("Task Metrics") or {}
            stage_tasks[key].append(m)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                if not str(acc.get("Name", "")).startswith("internal."):
                    acc_value[acc["ID"]] += _num(acc.get("Update"))
                    stage_accs[e["Stage ID"]].add(acc["ID"])
        elif kind.endswith("SQLExecutionStart"):
            exec_group[int(e["executionId"])] = e.get("jobGroupId") or ""
            exec_plan[int(e["executionId"])] = e["sparkPlanInfo"]
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            exec_plan[int(e["executionId"])] = e["sparkPlanInfo"]
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, val in e.get("accumUpdates", []):
                acc_value[acc_id] += _num(val)

    for key, tasks in stage_tasks.items():
        g = led.groups[stage_group.get(key, "")]
        runs = [t.get("Executor Run Time", 0) / 1000.0 for t in tasks]
        g["stages"] += 1
        g["tasks"] += len(tasks)
        g["run_s"] += sum(runs)
        g["cpu_s"] += sum(t.get("Executor CPU Time", 0) for t in tasks) / 1e9
        g["gc_s"] += sum(t.get("JVM GC Time", 0) for t in tasks) / 1000.0
        g["spill_bytes"] += sum(t.get("Memory Bytes Spilled", 0) + t.get("Disk Bytes Spilled", 0) for t in tasks)
        g["shuffle_write_bytes"] += sum(t.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) for t in tasks)
        g["shuffle_read_bytes"] += sum(
            t.get("Shuffle Read Metrics", {}).get("Remote Bytes Read", 0)
            + t.get("Shuffle Read Metrics", {}).get("Local Bytes Read", 0) for t in tasks)
        inputs = [t.get("Input Metrics", {}) for t in tasks]
        g["input_bytes"] += sum(i.get("Bytes Read", 0) for i in inputs)
        g["input_records"] += sum(i.get("Records Read", 0) for i in inputs)
        g["scan_tasks"] += sum(1 for i in inputs if i.get("Bytes Read", 0))
        if len(tasks) == 1:
            g["single_task_stage_s"] += runs[0]
        else:
            med = statistics.median(runs)
            if med > 0:
                g["skews"].append(max(runs) / med)

    acc_stages: dict[int, set] = defaultdict(set)
    for sid, accs in stage_accs.items():
        for a in accs:
            acc_stages[a].add(sid)
    for ex, plan in exec_plan.items():
        group = exec_group.get(ex, "")
        for node, filters in _walk(plan):
            metrics = {m["name"]: acc_value.get(m["accumulatorId"], 0) for m in node.get("metrics", [])}
            stages = set().union(*(acc_stages[m["accumulatorId"]] for m in node.get("metrics", []))) \
                if node.get("metrics") else set()
            kind = _node_kind(node["nodeName"], node["simpleString"])
            branch = None
            if kind == "join":
                if any("NOT is_boundary" in f for f in filters):
                    branch = "interior"
                elif any("is_boundary" in f for f in filters):
                    branch = "boundary"
                else:
                    branch = "mixed"
            led.nodes.append({
                "exec": ex, "group": group, "name": node["nodeName"],
                "kind": kind, "branch": branch, "metrics": metrics, "stages": stages,
                "below_shuffle_bytes": _shuffle_below(node, acc_value) if kind == "refine_groups" else 0,
            })
            if PYTHON_TIME in metrics:
                led.groups[group]["python_s"] += metrics[PYTHON_TIME] / 1000.0
    return led


def _shuffle_below(node: dict, acc_value: dict) -> float:
    total = 0.0
    for c in node.get("children", []):
        if c["nodeName"] == "Exchange":
            total += sum(acc_value.get(m["accumulatorId"], 0) for m in c.get("metrics", [])
                         if m["name"] == "shuffle bytes written")
        total += _shuffle_below(c, acc_value)
    return total


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0
