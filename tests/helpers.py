"""Shared helpers: tokenize a doc and project events into dicts; find
the stages an Arrow map ran in, from a child process's event log."""

from __future__ import annotations

import os
import sys

from html_parser_spark.config import ParserConfig
from html_parser_spark.functions import project
from html_parser_spark.functions.tokenizer import tokenize


def events(doc: str, cfg: ParserConfig | None = None,
           emit_document_events: bool = False, **kw) -> list[dict]:
    cfg = cfg or ParserConfig(**kw)
    return [
        project.project(doc, r, cfg)
        for r in tokenize(doc, cfg, emit_document_events)
    ]


def ev_tuples(doc: str, fields: tuple[str, ...],
              cfg: ParserConfig | None = None,
              emit_document_events: bool = False, **kw) -> list[tuple]:
    return [
        tuple(e[f] for f in fields)
        for e in events(doc, cfg, emit_document_events, **kw)
    ]


def map_stages(tmp_path, monkeypatch, field: str, run):
    """Call ``run()`` with a Spark event log turned on for child
    processes (``SPARK_CONF_DIR``); return its result and ``{stage id:
    SQL execution id}`` for every stage that ran a task updating a
    metric of a ``MapInArrow`` node whose plan string names ``field``
    (an output column of that map). A stage takes the execution of
    the first job that lists it; ``None`` means it ran outside any
    query."""
    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "perfbench"))
    import tracing

    conf, logs = tmp_path / "conf", tmp_path / "events"
    conf.mkdir()
    logs.mkdir()
    (conf / "spark-defaults.conf").write_text(
        "spark.eventLog.enabled true\n"
        f"spark.eventLog.dir file://{logs}\n"
        "spark.eventLog.rolling.enabled false\n"
        "spark.eventLog.compress false\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    result = run()
    (name,) = os.listdir(logs)
    with open(logs / name) as fh:
        log = tracing.parse_event_log(fh)
    accums = {m["accumulatorId"]
              for ex in log.executions.values()
              for node in tracing.plan_nodes(ex["plan"])
              if "MapInArrow" in node["nodeName"]
              and field in node.get("simpleString", "")
              for m in node.get("metrics", [])}
    assert accums
    stages: dict[int, int | None] = {}
    for job_id in sorted(log.jobs):
        job = log.jobs[job_id]
        for sid in job["stages"]:
            if (sid not in stages and sid in log.stages
                    and log.stages[sid]["accums"] & accums):
                stages[sid] = job["execution"]
    assert stages
    return result, stages
