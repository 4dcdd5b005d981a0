"""End-to-end CRAWL-FRONTIER pipeline — the pre-fetch half of a web
corpus build, wired from the engine's crawl/graph operators::

    spark-submit --py-files html_parser_spark.zip scripts/run_crawl.py \
        --output /data/frontier --report /data/frontier_report.json

Stages (each independently verified — the graph/rank/anchor arms by
the link_graph driver oracle, admission by the warc_extract robots
arm and the canonical_urls gate, scheduling by plan-asserted pytest):

1. **link graph** — extract every <a href> from the corpus through
   the engine's own tokenizer (`operators.extract.links`), fold to
   distinct host edges (`linkgraph.host_edges`), score with
   fixed-point integer PageRank (`linkgraph.pagerank` — bit-identical
   at any cluster size) and, when ``--trust-seeds`` is given,
   TrustRank (seed-gated teleport: hosts reachable only from spam
   farms score 0).
2. **discovery + admission** — sitemap URLs (`sitemap.sitemap_urls`
   via the tokenizer's xml_mode) gated per RFC 9309 robots rules and
   the RefinedWeb URL filter (`crawl.crawl_frontier`).
3. **priority** — the admitted frontier joins the rank table on host
   (`crawl.frontier_priority`, Cho et al. 1998 URL ordering);
   unknown hosts take priority 0, fetched last, never dropped.
4. **politeness schedule** — `crawl.frontier_schedule` assigns fetch
   waves via ONE host-partitioned window (Mercator rate constraint):
   no host appears more than ``--per-wave`` times per wave.

The sandbox has no network, so discovery inputs are synthesized
DETERMINISTICALLY from the corpus itself: each corpus host h<k>
publishes a sitemap listing its /doc/<id> pages plus one link into
the next host, and a robots.txt that disallows /private/. In
production stages 2-4 are unchanged — only the two input tables
(sitemap_xml, robots_txt per host) come from fetched bytes instead.

The frontier parquet is written partitioned by ``wave`` so a fetch
fleet consumes wave directories in order, each internally free of
host collisions up to per-wave.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = (
    _REPO + os.pathsep + os.environ.get("PYTHONPATH", ""))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default="/root/testdata/sf0.001")
    ap.add_argument("--output", required=True)
    ap.add_argument("--report", default=None)
    ap.add_argument("--iters", type=int, default=3,
                    help="PageRank rounds")
    ap.add_argument("--per-wave", type=int, default=1,
                    help="max concurrent fetches per host per wave")
    ap.add_argument("--trust-seeds", default=None,
                    help="comma-separated trusted seed hosts; enables "
                         "a TrustRank column beside PageRank")
    ap.add_argument("--blocked-domains", default="",
                    help="comma-separated URL-gate domain blocklist")
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (SparkSession.builder.master(f"local[{args.cpus}]")
             .appName("crawl-frontier-pipeline")
             .config("spark.sql.shuffle.partitions", str(args.cpus))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from html_parser_spark.operators.crawl import (crawl_frontier,
                                                   frontier_priority,
                                                   frontier_schedule)
    from html_parser_spark.operators.extract import links
    from html_parser_spark.operators.linkgraph import (host_edges,
                                                       pagerank)
    from html_parser_spark.plans.pipeline import observed
    from html_parser_spark.sources.transcripts import wrap_documents

    # ---- stage 1: link graph + ranks from the corpus itself.
    # The corpus's <a href>/<img src> URLs are RELATIVE (as most of
    # a real page's links are): resolve them against the page's own
    # host — exactly what a fetcher's urljoin does — so the engine's
    # extracted links feed the graph instead of being dropped as
    # hostless. Each page also declares one cross-host link to the
    # next host (the deterministic synthesis stand-in for the real
    # web's cross-site edges), exploded beside it from the same pass.
    docs = wrap_documents(spark, args.input)
    src_host = F.concat(
        F.lit("h"), (F.col("conv_id").cast("long") % 7).cast("string"),
        F.lit(".ex.com"))
    raw = links(docs)
    resolved = F.when(
        F.try_parse_url("url", F.lit("HOST")).isNotNull(),
        F.col("url")).otherwise(
        F.concat(F.lit("https://"), src_host,
                 F.when(F.col("url").startswith("/"), F.col("url"))
                 .otherwise(F.concat(F.lit("/"), F.col("url")))))
    nxt = F.concat(F.lit("https://h"),
                   ((F.col("conv_id").cast("long") + 1) % 7)
                   .cast("string"),
                   F.lit(".ex.com/"))
    # distinct: a URL discovered N times is still ONE fetch — without
    # this, duplicates each get their own schedule row and the same
    # URL occupies many waves. Read by host_edges and by the sitemap
    # synthesis: cached so the links map runs once.
    lk = (raw.select(src_host.alias("src_host"),
                     F.explode(F.array(resolved, nxt)).alias("url"))
          .distinct().cache())
    # read by each pagerank run's nodes, out-degrees and edge join
    edges = host_edges(lk).persist()
    ranks = pagerank(edges, iters=args.iters)
    if args.trust_seeds:
        seeds = tuple(s.strip() for s in args.trust_seeds.split(",")
                      if s.strip())
        trust = pagerank(edges, iters=args.iters, seed_hosts=seeds) \
            .select(F.col("host").alias("t_host"),
                    F.col("pr").alias("trust"))
    else:
        trust = None

    # ---- stage 2 inputs: deterministic per-host sitemap + robots
    pages = (lk.select(
        F.lower(F.coalesce(F.try_parse_url("url", F.lit("HOST")),
                           F.lit(""))).alias("host"),
        F.concat(F.lit("<url><loc>"), F.col("url"),
                 F.lit("</loc></url>")).alias("entry"))
        .filter(F.col("host") != "")
        .groupBy("host")
        .agg(F.concat(F.lit("<urlset>"),
                      F.concat_ws("", F.array_sort(
                          F.collect_list("entry"))),
                      F.lit("<url><loc>https://"), F.col("host"),
                      F.lit("/private/admin</loc></url>"),
                      F.lit("</urlset>")).alias("sitemap_xml")))
    # robots must cover every sitemap PUBLISHER (pages' host set is
    # the URL-target superset, not just edge sources) — a dst-only
    # host with a sitemap but no robots row would default-admit the
    # /private/admin entry the synthesis exists to block
    robots = pages.select(
        "host",
        F.lit("User-agent: *\nDisallow: /private/\n")
        .alias("robots_txt"))

    # ---- stages 2-4: admission -> priority -> politeness waves
    blocked = tuple(d.strip() for d in args.blocked_domains.split(",")
                    if d.strip())
    # blocked URLs are counted on the write's plan, their one reader
    frontier, n_blocked = observed(
        crawl_frontier(pages, robots, blocked_domains=blocked),
        F.count(F.when(~F.col("frontier"), 1)))
    sched = frontier_schedule(
        frontier_priority(frontier, ranks), per_wave=args.per_wave)
    if trust is not None:
        sched = (sched.join(
            trust, sched["url_host"] == trust["t_host"], "left")
            .withColumn("host_trust",
                        F.coalesce(F.col("trust"), F.lit(0))
                        .cast("long"))
            .drop("t_host", "trust"))
    sched.write.mode("overwrite").partitionBy("wave") \
        .parquet(args.output)

    # politeness invariant, checked on the WRITTEN data
    n_urls, n_waves, worst = (
        spark.read.parquet(args.output)
        .groupBy("wave", "url_host").agg(F.count("*").alias("n"))
        .agg(F.sum("n"), F.max("wave"), F.max("n")).first())
    report = {"urls_scheduled": int(n_urls or 0),
              "robots_or_gate_blocked": n_blocked(),
              "waves": int(n_waves) + 1 if n_waves is not None else 0,
              "max_per_host_per_wave": int(worst or 0),
              "per_wave_limit": args.per_wave,
              "politeness_ok": (worst or 0) <= args.per_wave}
    print(json.dumps(report))
    if args.report:
        with open(args.report, "w") as fh:
            json.dump(report, fh)
    if not report["politeness_ok"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
