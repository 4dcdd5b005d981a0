"""``scripts/run_curation.py`` end to end, as a child process, on the
benchmark's seeded 500-document corpus (``perfbench/corpus.py``).

The funnel is a function of the corpus, so these numbers pin every
stage's row count: a stage that drops or duplicates rows after a
plan change shows here, not only in the benchmark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import corpus  # noqa: E402
import tracing  # noqa: E402

WARC_FUNNEL = {"warc_records": 1500, "input_turns": 500,
               "after_quality": 398, "after_lang": 92, "after_dedup": 87}

GATES_FUNNEL = {"warc_records": 1500, "input_turns": 500,
                "after_quality": 398, "after_lang": 249, "after_ppl": 166,
                "after_decontaminate": 159, "after_dedup": 148,
                "after_mix": 43, "after_dsir": 30}
SCRUB_FUNNEL = {"warc_records": 1500, "input_turns": 500,
                "after_quality": 398, "after_lang": 92, "scrubbed_turns": 4,
                "after_decontaminate": 92, "after_dedup": 87,
                "rendered_convs": 87}


@pytest.fixture(scope="module")
def docs(tmp_path_factory):
    d = tmp_path_factory.mktemp("curation-docs")
    corpus.write_documents(str(d), corpus.base_texts(500), seed=1)
    return str(d)


@pytest.fixture(scope="module")
def tables(tmp_path_factory):
    """Eval and target text tables cut from the same fixed corpus, so
    every optional gate finds overlap and no stage empties the table."""
    d = tmp_path_factory.mktemp("curation-tables")
    texts = corpus.base_texts(500)
    paths = {}
    for name, rows in (("eval", texts[::25]), ("target", texts[1::7])):
        paths[name] = str(d / f"{name}.parquet")
        pq.write_table(pa.table({"text": rows}), paths[name])
    return paths


def _run(docs: str, out_dir, *flags: str) -> tuple[dict, int]:
    out = os.path.join(out_dir, "out")
    report = os.path.join(out_dir, "report.json")
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "run_curation.py"),
         "--warc", "--input", docs, "--output", out, "--report", report,
         "--cpus", "4", *flags],
        check=True, timeout=600, stdout=subprocess.DEVNULL)
    with open(report) as fh:
        funnel = json.load(fh)["funnel"]
    return funnel, pq.read_table(out).num_rows


def test_curation_warc_funnel(docs, tmp_path):
    funnel, rows = _run(docs, tmp_path)
    assert funnel == WARC_FUNNEL
    assert rows == funnel["after_dedup"]


def test_curation_dedup_lines_c4_funnel(docs, tmp_path):
    """The line-scrub branch and the C4 gate. The corpus is
    punctuation-free prose, so C4's terminal-punctuation line rule
    drops every page and the later stages run on an empty table."""
    funnel, rows = _run(docs, tmp_path, "--dedup-lines", "2", "--c4")
    assert funnel == {"warc_records": 1500, "input_turns": 500,
                      "line_scrubbed_turns": 0, "after_quality": 398,
                      "after_c4": 0, "after_lang": 0, "after_dedup": 0}
    assert rows == 0


@pytest.mark.parametrize("blocked, funnel_want", [
    # every synthetic response is served from ex.com: the gate drops all
    ("ex.com", {"warc_records": 1500, "after_url_gate": 0,
                "input_turns": 0, "after_quality": 0, "after_lang": 0,
                "after_dedup": 0}),
    ("other.org", {"warc_records": 1500, "after_url_gate": 500,
                   "input_turns": 500, "after_quality": 398,
                   "after_lang": 92, "after_dedup": 87}),
])
def test_curation_url_blocklist_funnel(docs, tmp_path, blocked, funnel_want):
    """The URL gate's count, recorded when every ingest stage still ran
    its own count action, in the same key order."""
    funnel, rows = _run(docs, tmp_path, "--url-blocklist", blocked)
    assert list(funnel.items()) == list(funnel_want.items())
    assert rows == funnel["after_dedup"]


def _map_queries(docs, tmp_path, monkeypatch, field, *flags
                 ) -> tuple[dict, set]:
    """Run the CLI with an event log; return its funnel and the queries
    that ran a task updating a metric of a ``MapInArrow`` node whose
    plan string names ``field`` (an output column of that map)."""
    conf, events = tmp_path / "conf", tmp_path / "events"
    conf.mkdir()
    events.mkdir()
    (conf / "spark-defaults.conf").write_text(
        "spark.eventLog.enabled true\n"
        f"spark.eventLog.dir file://{events}\n"
        "spark.eventLog.rolling.enabled false\n"
        "spark.eventLog.compress false\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    funnel, _ = _run(docs, tmp_path, *flags)
    (name,) = os.listdir(events)
    with open(events / name) as fh:
        log = tracing.parse_event_log(fh)
    accums = {m["accumulatorId"]
              for ex in log.executions.values()
              for node in tracing.plan_nodes(ex["plan"])
              if "MapInArrow" in node["nodeName"]
              and field in node.get("simpleString", "")
              for m in node.get("metrics", [])}
    assert accums
    return funnel, {job["execution"] for job in log.jobs.values()
                    for sid in job["stages"]
                    if sid in log.stages and log.stages[sid]["accums"] & accums}


def test_curation_ingest_runs_once(docs, tmp_path, monkeypatch):
    """The WARC record walk runs in one query: the ingest counts are
    observations on a plan that runs anyway, not actions of their own."""
    funnel, ran = _map_queries(docs, tmp_path, monkeypatch, "warc_type")
    assert funnel == WARC_FUNNEL
    assert len(ran) == 1, ran


def test_curation_render_ingest_runs_once(docs, tmp_path, monkeypatch):
    """Re-assembling conversations joins role/tool back from the ingest,
    which must not run the WARC record walk a second time."""
    funnel, ran = _map_queries(docs, tmp_path, monkeypatch, "warc_type",
                               "--render-conversations")
    assert funnel == {**WARC_FUNNEL, "rendered_convs": 87}
    assert len(ran) == 1, ran


def test_curation_union_find_runs_once(docs, tmp_path, monkeypatch):
    """The near-dup graph's one-task union-find (output column
    ``component``) runs in the write's query only: no stage count
    re-runs it."""
    funnel, ran = _map_queries(docs, tmp_path, monkeypatch, "component")
    assert funnel == WARC_FUNNEL
    assert len(ran) == 1, ran


def test_curation_gates_mix_dsir_funnel(docs, tables, tmp_path):
    """Drop-mode decontamination, the perplexity gate, a three-language
    allowlist with a two-language mix, and DSIR selection in one run."""
    funnel, rows = _run(
        docs, tmp_path, "--eval-table", tables["eval"],
        "--ppl-terciles", tables["target"], "--langs", "en,de,fr",
        "--mix", "en=0.6,fr=0.4", "--dsir-target", tables["target"],
        "--dsir-keep", "30")
    assert list(funnel.items()) == list(GATES_FUNNEL.items())
    assert rows == funnel["after_dsir"]


def test_curation_scrub_render_shards_funnel(docs, tables, tmp_path):
    """Scrub-mode decontamination, rendered conversations and three
    content-hash shards in one run."""
    funnel, rows = _run(
        docs, tmp_path, "--eval-table", tables["eval"],
        "--decontaminate-mode", "scrub", "--render-conversations",
        "--shards", "3")
    assert list(funnel.items()) == list(SCRUB_FUNNEL.items())
    assert rows == funnel["rendered_convs"]
    shards = {n for n in os.listdir(tmp_path / "out") if "=" in n}
    assert shards == {"shard=0", "shard=1", "shard=2"}
