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

from tests.helpers import map_stages  # noqa: E402

WARC_FUNNEL = {"warc_records": 1500, "input_turns": 500,
               "after_quality": 398, "after_lang": 92, "after_dedup": 87}

GATES_FUNNEL = {"warc_records": 1500, "input_turns": 500,
                "after_quality": 398, "after_lang": 249, "after_ppl": 166,
                "after_decontaminate": 159, "after_dedup": 148,
                "after_mix": 43, "after_dsir": 30}
FOOTER_FUNNEL = {"warc_records": 1500, "input_turns": 500,
                 "line_scrubbed_turns": 125, "after_quality": 398,
                 "after_lang": 94, "after_dedup": 89}
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
def footer_docs(tmp_path_factory):
    """The same corpus with one boilerplate footer line on every 4th
    text, so ``--dedup-lines 2`` has lines to scrub."""
    d = tmp_path_factory.mktemp("curation-footer-docs")
    texts = [t + "\nCopyright 2026 all rights reserved by the example site"
             if i % 4 == 0 else t
             for i, t in enumerate(corpus.base_texts(500))]
    corpus.write_documents(str(d), texts, seed=1)
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
    """The CLI's funnel, and the queries whose stages ran the map with
    output column ``field`` (see :func:`tests.helpers.map_stages`)."""
    funnel, stages = map_stages(
        tmp_path, monkeypatch, field,
        lambda: _run(docs, tmp_path, *flags)[0])
    return funnel, set(stages.values())


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


def test_curation_lang_map_runs_once(docs, tmp_path, monkeypatch):
    """The language gate (output column ``lang_pred``) scores each row
    in one Arrow map stage, inside a query: its filter cannot be
    pushed into the scoring and repeat it."""
    funnel, stages = map_stages(tmp_path, monkeypatch, "lang_pred",
                                lambda: _run(docs, tmp_path)[0])
    assert funnel == WARC_FUNNEL
    assert len(stages) == 1 and None not in stages.values(), stages


def test_curation_dedup_lines_footer_funnel(footer_docs, tmp_path,
                                            monkeypatch):
    """The line scrub on a corpus with repeated footers: every footer
    line is scrubbed, and the extract map (output column
    ``extracted_text``) runs only inside queries: nothing probes the
    plan to pick the split after the scrub."""
    (funnel, rows), stages = map_stages(
        tmp_path, monkeypatch, "extracted_text",
        lambda: _run(footer_docs, tmp_path, "--dedup-lines", "2"))
    assert list(funnel.items()) == list(FOOTER_FUNNEL.items())
    assert rows == funnel["after_dedup"]
    assert None not in stages.values(), stages


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
