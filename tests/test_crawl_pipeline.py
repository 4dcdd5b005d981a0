"""scripts/run_crawl.py end-to-end: the composed crawl-frontier
pipeline (engine-extracted link graph -> PageRank/TrustRank ->
sitemap discovery -> robots + URL-gate admission -> priority ->
politeness waves) runs as a real subprocess and its written output
satisfies the invariants the report claims."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.helpers import map_stages

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _crawl(tmp_path, *flags: str) -> dict:
    report_path = tmp_path / "report.json"
    proc = subprocess.run(
        [sys.executable, os.path.join(_REPO, "scripts", "run_crawl.py"),
         "--input", SF_DIR, "--output", str(tmp_path / "frontier"),
         "--report", str(report_path), *flags],
        capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(report_path.read_text())


def test_run_crawl_pipeline_end_to_end(tmp_path):
    out_dir = tmp_path / "frontier"
    report = _crawl(tmp_path, "--per-wave", "2",
                    "--trust-seeds", "h0.ex.com",
                    "--blocked-domains", "h3.ex.com")
    # robots (/private/admin per host) and the h3 domain block both
    # veto rows
    assert report == {"urls_scheduled": 864,
                      "robots_or_gate_blocked": 150, "waves": 73,
                      "max_per_host_per_wave": 2, "per_wave_limit": 2,
                      "politeness_ok": True}

    import duckdb
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT * FROM read_parquet('{out_dir}/wave=*/*.parquet', "
        "hive_partitioning=1)").df()
    # written partitioning carries the schedule; politeness holds in
    # the files themselves, not just the report
    worst = con.execute(
        f"SELECT max(n) FROM (SELECT wave, url_host, count(*) AS n "
        f"FROM read_parquet('{out_dir}/wave=*/*.parquet', "
        "hive_partitioning=1) GROUP BY wave, url_host)").fetchone()[0]
    assert worst <= 2
    # the gated domain never reaches the schedule; the seed host does
    hosts = set(rows["url_host"])
    assert "h3.ex.com" not in hosts and "h0.ex.com" in hosts
    # TrustRank column present, seed host carries positive trust
    assert int(rows[rows.url_host == "h0.ex.com"]
               ["host_trust"].max()) > 0


def test_run_crawl_links_map_runs_once(tmp_path, monkeypatch):
    """Without trust seeds or a blocklist, one page per host per wave.
    The engine's links map (output column ``link_seq``) runs in one
    stage: the graph and the sitemap synthesis read one cached link
    table, and the report reads the written files, not the plan."""
    report, stages = map_stages(
        tmp_path, monkeypatch, "link_seq",
        lambda: _crawl(tmp_path, "--per-wave", "1"))
    assert report == {"urls_scheduled": 1007,
                      "robots_or_gate_blocked": 7, "waves": 145,
                      "max_per_host_per_wave": 1, "per_wave_limit": 1,
                      "politeness_ok": True}
    assert len(stages) == 1, stages
