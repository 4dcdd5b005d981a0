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

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import corpus  # noqa: E402

WARC_FUNNEL = {"warc_records": 1500, "input_turns": 500,
               "after_quality": 398, "after_lang": 92, "after_dedup": 87}


@pytest.fixture(scope="module")
def docs(tmp_path_factory):
    d = tmp_path_factory.mktemp("curation-docs")
    corpus.write_documents(str(d), corpus.base_texts(500), seed=1)
    return str(d)


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
