"""Unit tests of the benchmark's event-log readers, span builder and
call-site phase attribution, on a small recorded event log
(``record_eventlog.py`` rebuilds it) and on hand-made spans.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run      # noqa: E402
import tracing  # noqa: E402
from tracing import Span  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog.jsonl")


@pytest.fixture(scope="module")
def log() -> tracing.EventLog:
    with open(FIXTURE) as fh:
        return tracing.parse_event_log(fh)


def _query(log, description):
    (qid,) = [i for i, ex in log.executions.items()
              if ex["description"] == description]
    return qid


def test_parse_folds_queries_jobs_stages_tasks(log):
    assert {ex["description"] for ex in log.executions.values()} >= {
        "perfbench:setup", "perfbench:timed", "perfbench:callsite"}
    assert all(ex["end"] is not None for ex in log.executions.values())
    assert all(job["end"] is not None for job in log.jobs.values())
    timed = _query(log, "perfbench:timed")
    # the adaptive update replaced the initial plan with the final one
    assert "isFinalPlan=true" in log.executions[timed]["plan"]["simpleString"]
    assert {t.stage for t in log.tasks} <= set(log.stages)
    assert log.peak_storage_bytes > 0          # the cached input


def test_metrics_reached_through_query_stages(log):
    plan = log.executions[_query(log, "perfbench:timed")]["plan"]
    # the top of an AQE plan carries no operator metric ...
    assert plan["nodeName"] == "AdaptiveSparkPlan"
    assert not plan["metrics"]
    names = [n["nodeName"] for n in tracing.plan_nodes(plan)]
    # ... the Arrow map runs below a shuffle query stage
    assert "ShuffleQueryStage" in names
    assert names.index("ShuffleQueryStage") < names.index(
        next(n for n in names if "MapInArrow" in n))
    (arrow,) = [v for n, v in tracing.node_metrics(plan, log.accum_values)
                if "MapInArrow" in n["nodeName"]]
    assert arrow["number of output rows"] == 40
    assert arrow["time to run Python workers"] > 0
    assert arrow["data sent to Python workers"] > 0


def test_cached_plan_counted_for_the_query_that_built_it(log):
    by_query = tracing.metrics_by_query(log)

    def range_rows(qid):
        return sum(v.get("number of output rows", 0)
                   for n, v in by_query[qid] if n["nodeName"] == "Range")

    setup = _query(log, "perfbench:setup")
    timed = _query(log, "perfbench:timed")
    assert range_rows(setup) == 40
    # the timed query reads the cache; its plan still reaches the Range
    # node below InMemoryTableScan, but the rows are not counted again
    assert any(n["nodeName"] == "Range" for n in
               tracing.plan_nodes(log.executions[timed]["plan"]))
    assert range_rows(timed) == 0


def test_stage_nodes_find_the_python_stage(log):
    by_stage = tracing.stage_nodes(log)
    timed = _query(log, "perfbench:timed")
    stages = {s for j in log.jobs.values() if j["execution"] == timed
              for s in j["stages"] if s in by_stage}     # not skipped
    python = {s for s in stages if any(map(run._is_python, by_stage[s]))}
    extract = {s for s in stages if any(map(run._is_extract, by_stage[s]))}
    assert python and python == extract


def test_spans_nest_and_self_times_cover_the_root(log):
    ex = log.executions[_query(log, "perfbench:timed")]
    root = ("timed", ex["start"] / 1e3 - 0.5, ex["end"] / 1e3 + 0.5)
    spans = tracing.build_spans(
        log, [root], query_layer=lambda e: "driver",
        job_layer=lambda j: "scheduler", stage_layer=lambda s, st: "sched",
        task_layer=lambda s: "task")
    by_id = {s.id: s for s in spans}
    kinds = {s.kind for s in spans}
    assert kinds == {"run", "query", "job", "stage", "task"}
    for s in spans:
        if s.parent is not None:
            p = by_id[s.parent]
            assert p.start <= s.start <= s.end <= p.end
    times = tracing.self_times(spans)
    assert sum(times.values()) == pytest.approx(root[2] - root[1])
    assert times["unaccounted"] > 0 and times["task"] > 0


def test_self_times_split_parallel_children():
    spans = [
        Span("r", None, "run", "r", 0, 10, "unaccounted"),
        Span("q", "r", "query", "q", 1, 9, "driver"),
        Span("s", "q", "stage", "s", 2, 8, "sched"),
        Span("a", "s", "task", "a", 2, 6, "python"),
        Span("b", "s", "task", "b", 4, 7, "jvm"),
    ]
    t = tracing.self_times(spans)
    # 0-1, 9-10 root; 1-2, 8-9 query; 7-8 stage; 2-4 a alone;
    # 4-6 a and b share; 6-7 b alone
    assert t == pytest.approx({"unaccounted": 2, "driver": 2, "sched": 1,
                               "python": 3, "jvm": 2})


def test_self_times_inherit_unlabelled_layers():
    spans = [Span("r", None, "run", "r", 0, 4, "unaccounted"),
             Span("j", "r", "job", "j", 0, 4, "curation.dedup"),
             Span("t", "j", "task", "t", 1, 3, None)]
    assert tracing.self_times(spans) == pytest.approx(
        {"curation.dedup": 4})


def test_runtime_metrics_of_timed_jobs(log):
    timed = _query(log, "perfbench:timed")
    jobs = [j for j, job in log.jobs.items() if job["execution"] == timed]
    rt = tracing.runtime_metrics(log, jobs)
    assert rt["jobs"] == len(jobs) and rt["stages"] >= 2
    assert rt["tasks"] >= 2 and rt["task_run_s"] > 0
    assert rt["shuffle_write_bytes"] > 0 and rt["shuffle_read_bytes"] > 0
    assert rt["max_task_skew"] >= 1.0


def test_callsite_launcher_labels_count_jobs(log):
    q = _query(log, "perfbench:callsite")
    sites = {job["callsite"] for job in log.jobs.values()
             if job["execution"] == q}
    assert any(s and s.startswith("count at perfbench/tests/"
                                  "record_eventlog.py:") for s in sites)


def test_curation_phases_follow_the_script_lines(tmp_path):
    script = tmp_path / "run_curation.py"
    script.write_text("\n".join([
        'funnel["warc_records"] = recs.count()',      # 1
        'funnel["after_quality"] = step2.count()',    # 2
        'funnel["after_dedup"] = survivors.count()',  # 3
        'survivors.write.mode("overwrite").parquet(args.output)',  # 4
    ]))
    site = f"count at {script}:"
    log = tracing.EventLog(jobs={
        0: {"callsite": site + "1"},
        1: {"callsite": None},                        # inside an operator
        2: {"callsite": site + "2"},
        3: {"callsite": "localCheckpoint at /x/dedup.py:493"},
        4: {"callsite": site + "3"},
        5: {"callsite": f"parquet at {script}:4"},
    })
    assert run.curation_phases(log, str(script)) == {
        0: "ingest", 1: "quality", 2: "quality", 3: "dedup", 4: "dedup",
        5: "write"}
