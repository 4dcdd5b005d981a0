"""Pure readers over a Spark event log.

* :func:`parse_event_log` folds the JSON lines of one application's
  event log into queries (SQL executions), jobs, stages, tasks and
  accumulator totals.
* :func:`plan_nodes` / :func:`node_metrics` read the SQL metrics of an
  executed plan, walking through AQE query stages.
* :func:`build_spans` / :func:`self_times` turn the log into
  query -> job -> stage -> task spans and attribute every instant of a
  measured interval to exactly one layer.
* :func:`runtime_metrics` totals the task metrics of a set of jobs.

Nothing here imports pyspark; every function takes parsed data and
returns plain data, so each is unit-tested on a small recorded log.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field
from typing import Callable, Iterable

_SQL = "org.apache.spark.sql.execution.ui."

#: SQL metric type -> factor to seconds (timings) or 1 (counts, bytes)
_UNIT = {"timing": 1e-3, "nsTiming": 1e-9}


@dataclass
class Task:
    stage: int
    start_ms: int
    end_ms: int
    run_ms: int
    gc_ms: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    fetch_wait_ms: int
    spill_bytes: int


@dataclass
class EventLog:
    executions: dict[int, dict] = field(default_factory=dict)
    jobs: dict[int, dict] = field(default_factory=dict)
    stages: dict[int, dict] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    accum_values: dict[int, float] = field(default_factory=dict)
    peak_storage_bytes: int = 0


@dataclass
class Span:
    id: str
    parent: str | None
    kind: str          # run | query | job | stage | task
    name: str
    start: float       # epoch seconds
    end: float
    layer: str | None = None   # None: inherit the parent's layer


def _num(v) -> float | None:
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def parse_event_log(lines: Iterable[str]) -> EventLog:
    """Fold event-log JSON lines into an :class:`EventLog`.

    Accumulator totals are the sum of every task update plus the
    driver-side updates, keyed by accumulator id; the latest adaptive
    plan of each query replaces its initial plan. The storage peak is
    the largest total of cached block sizes (block updates logged).
    """
    log = EventLog()
    acc = log.accum_values
    blocks: dict[str, int] = {}      # block id -> bytes it holds now
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e.get("Event", "")
        if kind == _SQL + "SparkListenerSQLExecutionStart":
            log.executions[e["executionId"]] = {
                "id": e["executionId"], "start": e["time"], "end": None,
                "description": e.get("description", ""),
                "plan": e["sparkPlanInfo"]}
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            ex = log.executions.get(e["executionId"])
            if ex is not None:
                ex["plan"] = e["sparkPlanInfo"]
        elif kind == _SQL + "SparkListenerSQLExecutionEnd":
            ex = log.executions.get(e["executionId"])
            if ex is not None:
                ex["end"] = e["time"]
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for aid, v in e["accumUpdates"]:
                acc[aid] = acc.get(aid, 0.0) + float(v)
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            ex_id = props.get("spark.sql.execution.id")
            log.jobs[e["Job ID"]] = {
                "id": e["Job ID"], "start": e["Submission Time"], "end": None,
                "stages": list(e["Stage IDs"]),
                "execution": int(ex_id) if ex_id is not None else None,
                "description": props.get("spark.job.description"),
                "callsite": props.get("callSite.short")}
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(e["Job ID"])
            if job is not None:
                job["end"] = e["Completion Time"]
        elif kind in ("SparkListenerStageSubmitted",
                      "SparkListenerStageCompleted"):
            info = e["Stage Info"]
            st = log.stages.setdefault(info["Stage ID"], {
                "start": None, "end": None, "accums": set()})
            st["name"] = info["Stage Name"]
            st["start"] = info.get("Submission Time") or st["start"]
            st["end"] = info.get("Completion Time") or st["end"]
        elif kind == "SparkListenerBlockUpdated":
            b = e["Block Updated Info"]
            blocks[b["Block ID"]] = b["Memory Size"] + b["Disk Size"]
            stored = sum(blocks.values())
            log.peak_storage_bytes = max(log.peak_storage_bytes, stored)
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            sid = e["Stage ID"]
            st = log.stages.setdefault(sid, {
                "start": None, "end": None, "accums": set(), "name": ""})
            for a in info.get("Accumulables", []):
                v = _num(a.get("Update"))
                if v is None or v < 0:
                    continue
                acc[a["ID"]] = acc.get(a["ID"], 0.0) + v
                st["accums"].add(a["ID"])
            m = e.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            log.tasks.append(Task(
                stage=sid, start_ms=info["Launch Time"],
                end_ms=info["Finish Time"],
                run_ms=m.get("Executor Run Time", 0),
                gc_ms=m.get("JVM GC Time", 0),
                shuffle_write_bytes=wr.get("Shuffle Bytes Written", 0),
                shuffle_read_bytes=(rd.get("Remote Bytes Read", 0)
                                    + rd.get("Local Bytes Read", 0)),
                fetch_wait_ms=rd.get("Fetch Wait Time", 0),
                spill_bytes=(m.get("Memory Bytes Spilled", 0)
                             + m.get("Disk Bytes Spilled", 0))))
    return log


def plan_nodes(plan: dict) -> list[dict]:
    """Every node of a ``sparkPlanInfo`` tree, in pre-order.

    The walk goes through ``AdaptiveSparkPlan`` and every query stage
    (``ShuffleQueryStage``, ``BroadcastQueryStage``,
    ``TableCacheQueryStage``): with AQE on, the top-level node holds no
    operator metrics, and the operators sit below the stages. It also
    enters the cached plan below an ``InMemoryTableScan``; that plan
    ran in whichever query built the cache (see :func:`node_metrics`).
    """
    out = []
    stack = [plan]
    while stack:
        node = stack.pop()
        out.append(node)
        stack.extend(reversed(node.get("children", [])))
    return out


def node_metrics(plan: dict, accum_values: dict[int, float],
                 seen: set[int] | None = None) -> list[tuple[dict, dict]]:
    """SQL metrics of every node :func:`plan_nodes` reaches, as
    ``(node, {metric name: value})`` pairs with timings in seconds.

    Accumulator ids already in ``seen`` are skipped, and the new ones
    added. Reading the queries of one log in id order with one shared
    ``seen`` set thus counts every metric once, for the first query
    that reaches it: a reused exchange once, and a cached plan for the
    query that built the cache, not for every later reader.
    """
    seen = set() if seen is None else seen
    out = []
    for node in plan_nodes(plan):
        vals = {}
        for m in node.get("metrics", []):
            aid = m["accumulatorId"]
            if aid in seen:
                continue
            seen.add(aid)
            v = accum_values.get(aid, 0.0) * _UNIT.get(m["metricType"], 1)
            vals[m["name"]] = vals.get(m["name"], 0.0) + v
        out.append((node, vals))
    return out


def metrics_by_query(log: EventLog) -> dict[int, list[tuple[dict, dict]]]:
    """:func:`node_metrics` of every query, each metric counted once."""
    seen: set[int] = set()
    return {qid: node_metrics(ex["plan"], log.accum_values, seen)
            for qid, ex in sorted(log.executions.items())}


def build_spans(log: EventLog, roots: list[tuple[str, float, float]],
                query_layer: Callable[[dict], str | None] = lambda ex: None,
                job_layer: Callable[[dict], str | None] = lambda job: None,
                stage_layer: Callable[[int, dict], str | None]
                = lambda sid, st: None,
                task_layer: Callable[[int], str | None]
                = lambda sid: None) -> list[Span]:
    """Query -> job -> stage -> task spans under the measured ``roots``.

    ``roots`` are ``(name, start_s, end_s)`` wall intervals, such as
    one timed job or one CLI process. A query belongs to the root that
    contains its start; a job to its query (or, outside SQL, to the
    root that contains its start); a stage to the first job listing it;
    a task to its stage. Each child is clipped to its parent, so the
    self times of a root's subtree sum to the root's duration. The
    layer callbacks label a span (a task by its stage id); a span
    labelled None inherits its parent's layer.
    """
    spans: dict[str, Span] = {}

    def add(sid, parent, kind, name, start, end, layer):
        if parent is not None:
            p = spans[parent]
            start, end = max(start, p.start), min(end, p.end)
        if end < start:
            return
        spans[sid] = Span(sid, parent, kind, name, start, end, layer)

    def root_of(t):
        for i, (_, a, b) in enumerate(roots):
            if a <= t <= b:
                return f"run{i}"
        return None

    for i, (name, a, b) in enumerate(roots):
        add(f"run{i}", None, "run", name, a, b, "unaccounted")
    for qid, ex in sorted(log.executions.items()):
        start = ex["start"] / 1e3
        parent = root_of(start)
        if parent is None or ex["end"] is None:
            continue
        add(f"q{qid}", parent, "query", ex["description"] or f"query {qid}",
            start, ex["end"] / 1e3, query_layer(ex))
    stage_job: dict[int, str] = {}
    for jid, job in sorted(log.jobs.items()):
        start = job["start"] / 1e3
        parent = (f"q{job['execution']}"
                  if f"q{job['execution']}" in spans else root_of(start))
        if parent is None or job["end"] is None:
            continue
        add(f"j{jid}", parent, "job", job["callsite"] or f"job {jid}",
            start, job["end"] / 1e3, job_layer(job))
        if f"j{jid}" in spans:
            for s in job["stages"]:
                stage_job.setdefault(s, f"j{jid}")
    for sid, st in sorted(log.stages.items()):
        parent = stage_job.get(sid)
        if parent is None or st["start"] is None or st["end"] is None:
            continue
        add(f"s{sid}", parent, "stage", st.get("name", ""),
            st["start"] / 1e3, st["end"] / 1e3, stage_layer(sid, st))
    for n, t in enumerate(log.tasks):
        if f"s{t.stage}" in spans:
            add(f"t{n}", f"s{t.stage}", "task", f"task {n}",
                t.start_ms / 1e3, t.end_ms / 1e3, task_layer(t.stage))
    return list(spans.values())


def self_times(spans: list[Span]) -> dict[str, float]:
    """Attribute each instant of the root spans to one layer.

    At every instant the innermost open spans (those with no open
    child) share it equally, so four parallel tasks of one stage give
    that stage's layer the whole instant. A span's self time is thus
    its duration minus the part its children cover, and the totals sum
    to the roots' durations.
    """
    by_id = {s.id: s for s in spans}

    def layer(s: Span) -> str:
        while s.layer is None and s.parent is not None:
            s = by_id[s.parent]
        return s.layer or "unaccounted"

    edges = sorted([(s.start, 1, s.id) for s in spans]
                   + [(s.end, 0, s.id) for s in spans])
    open_children: dict[str, int] = {}
    active: set[str] = set()
    out: dict[str, float] = {}
    last = None
    for t, is_start, sid in edges:
        if last is not None and t > last and active:
            leaves = [a for a in active if not open_children.get(a)]
            for a in leaves:
                lay = layer(by_id[a])
                out[lay] = out.get(lay, 0.0) + (t - last) / len(leaves)
        last = t
        s = by_id[sid]
        step = 1 if is_start else -1
        if is_start:
            active.add(sid)
        else:
            active.discard(sid)
        if s.parent is not None:
            open_children[s.parent] = open_children.get(s.parent, 0) + step
    return out


def runtime_metrics(log: EventLog, job_ids: Iterable[int]) -> dict:
    """Totals over the stages and tasks of ``job_ids``: counts, task
    run time, GC, shuffle, fetch wait, spill and the worst task skew
    (longest task over median task, among stages of two or more)."""
    job_ids = list(job_ids)
    stage_ids = {s for j in job_ids for s in log.jobs[j]["stages"]
                 if log.stages.get(s, {}).get("start") is not None}
    tasks = [t for t in log.tasks if t.stage in stage_ids]
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.end_ms - t.start_ms)
    skew = 1.0
    for durs in by_stage.values():
        med = statistics.median(durs)
        if len(durs) >= 2 and med > 0:
            skew = max(skew, max(durs) / med)
    return {
        "jobs": len(job_ids),
        "stages": len(stage_ids),
        "tasks": len(tasks),
        "task_run_s": sum(t.run_ms for t in tasks) / 1e3,
        "gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "shuffle_write_bytes": sum(t.shuffle_write_bytes for t in tasks),
        "shuffle_read_bytes": sum(t.shuffle_read_bytes for t in tasks),
        "fetch_wait_s": sum(t.fetch_wait_ms for t in tasks) / 1e3,
        "spill_bytes": sum(t.spill_bytes for t in tasks),
        "max_task_skew": skew,
    }


def stage_nodes(log: EventLog) -> dict[int, list[dict]]:
    """Plan nodes each stage ran, found through the accumulators its
    tasks updated (a stage runs the nodes whose metrics it moved)."""
    owner: dict[int, dict] = {}
    for ex in log.executions.values():
        for node in plan_nodes(ex["plan"]):
            for m in node.get("metrics", []):
                owner.setdefault(m["accumulatorId"], node)
    out: dict[int, list[dict]] = {}
    for sid, st in log.stages.items():
        nodes = {id(owner[a]): owner[a] for a in st["accums"] if a in owner}
        out[sid] = list(nodes.values())
    return out
