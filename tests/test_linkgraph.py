"""Host-level link graph + fixed-point PageRank: degree correctness,
exact agreement with a pure-Python integer reference, bit-identical
results under different partitionings (the determinism invariant the
fixed-point design exists for), and the URL-hardening posture."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from html_parser_spark.operators.linkgraph import (
    degrees, host_edges, link_graph, pagerank)

SCALE = 10 ** 9


def _edges(spark, pairs, parts=4):
    return spark.createDataFrame(pairs, "src string, dst string") \
        .repartition(parts)


def _py_pagerank(pairs, iters, scale=SCALE, dn=85, dd=100,
                 dangling=False, seeds=None):
    """Reference: the identical integer recurrence, single-threaded."""
    nodes = sorted({s for s, _ in pairs} | {d for _, d in pairs})
    out = {}
    for s, _ in pairs:
        out[s] = out.get(s, 0) + 1
    teleport = (dd - dn) * scale // dd
    pr = {n: (scale if seeds is None or n in seeds else 0)
          for n in nodes}
    for _ in range(iters):
        acc = {n: 0 for n in nodes}
        for s, d in pairs:
            acc[d] += pr[s] * dn // (dd * out[s])
        dshare = 0
        if dangling:
            dmass = sum(pr[n] for n in nodes if n not in out)
            receivers = (nodes if seeds is None
                         else [n for n in nodes if n in seeds])
            if receivers:
                dshare = dmass * dn // (dd * len(receivers))
        pr = {n: ((teleport if seeds is None or n in seeds else 0)
                  + acc[n]
                  + (dshare if seeds is None or n in seeds else 0))
              for n in nodes}
    return pr


GRAPH = [("a.com", "b.com"), ("a.com", "c.com"), ("b.com", "c.com"),
         ("c.com", "a.com"), ("d.com", "c.com"), ("d.com", "d.com")]


def test_degrees(spark):
    got = {r.host: (r.out_deg, r.in_deg)
           for r in degrees(_edges(spark, GRAPH)).collect()}
    assert got == {"a.com": (2, 1), "b.com": (1, 1),
                   "c.com": (1, 3), "d.com": (2, 1)}


def test_degrees_pure_sink_gets_zero_out(spark):
    got = {r.host: (r.out_deg, r.in_deg)
           for r in degrees(_edges(spark, [("a.com", "z.com")]))
           .collect()}
    assert got["z.com"] == (0, 1) and got["a.com"] == (1, 0)


def test_pagerank_matches_integer_reference_exactly(spark):
    for iters in (1, 3, 5):
        want = _py_pagerank(GRAPH, iters)
        got = {r.host: r.pr
               for r in pagerank(_edges(spark, GRAPH),
                                 iters=iters).collect()}
        assert got == want, iters


def test_pagerank_bit_identical_across_partitionings(spark):
    # the invariant fixed-point arithmetic buys: any partition count,
    # same bits (float PageRank fails this on the last digits)
    a = sorted(map(tuple, pagerank(_edges(spark, GRAPH, parts=1),
                                   iters=4).collect()))
    b = sorted(map(tuple, pagerank(_edges(spark, GRAPH, parts=16),
                                   iters=4).collect()))
    assert a == b


def test_pagerank_dangling_redistribution_exact(spark):
    """The textbook dangling-mass arm matches the integer reference
    exactly: b.com is dangling in this graph (a->b, c->b, b has no
    out-links), so its pooled rank must flow back evenly — and the
    default arm must keep the documented simplification."""
    pairs = [("a.com", "b.com"), ("c.com", "b.com"),
             ("c.com", "a.com")]
    for iters in (1, 3):
        want = _py_pagerank(pairs, iters, dangling=True)
        got = {r.host: r.pr
               for r in pagerank(_edges(spark, pairs), iters=iters,
                                 redistribute_dangling=True)
               .collect()}
        assert got == want, iters
    # redistribution must actually change something vs the default
    assert {r.host: r.pr
            for r in pagerank(_edges(spark, pairs), iters=3).collect()
            } == _py_pagerank(pairs, 3)
    assert _py_pagerank(pairs, 3, dangling=True) != _py_pagerank(
        pairs, 3)


def test_trustrank_seed_propagation_exact(spark):
    """TrustRank arm: trust flows ONLY outward from the seed —
    exact-integer match with the reference; a host reachable only
    from the unseeded side scores 0; a chain two hops out still
    receives decayed trust."""
    pairs = [("seed.com", "one.com"), ("one.com", "two.com"),
             ("spam1.com", "spam2.com"), ("spam2.com", "spam1.com"),
             ("spam1.com", "one.com")]
    for iters in (1, 3):
        want = _py_pagerank(pairs, iters, seeds={"seed.com"})
        got = {r.host: r.pr
               for r in pagerank(_edges(spark, pairs), iters=iters,
                                 seed_hosts=("seed.com",)).collect()}
        assert got == want, iters
    tr = _py_pagerank(pairs, 3, seeds={"seed.com"})
    assert tr["seed.com"] > 0 and tr["one.com"] > 0
    assert tr["two.com"] > 0                     # two hops of decay
    assert tr["one.com"] > tr["two.com"]         # decay is monotone
    # the spam loop never touches the seed: zero trust
    assert tr["spam2.com"] == 0
    # seeds fold like the node universe: an uppercase seed matches
    got = {r.host: r.pr
           for r in pagerank(_edges(spark, pairs), iters=2,
                             seed_hosts=("SEED.COM",)).collect()}
    assert got == _py_pagerank(pairs, 2, seeds={"seed.com"})


def test_trustrank_empty_seed_set_raises(spark):
    """An empty seed list would give every host zero trust; it must
    fail loudly, like the iters guard, not return an all-zero
    table."""
    for seeds in ((), []):
        with pytest.raises(ValueError, match="seed_hosts"):
            pagerank(_edges(spark, GRAPH), iters=2, seed_hosts=seeds)


def test_trustrank_dangling_mass_returns_to_seeds_only(spark):
    """TrustRank + redistribute_dangling: dangling trust flows back
    to the SEEDS (the canonical teleport-vector redistribution), so
    hosts unreachable from the seed still score exactly 0 — matched
    bit-for-bit by the reference."""
    pairs = [("seed.com", "d.com"),               # d.com dangles
             ("spam1.com", "spam2.com"), ("spam2.com", "spam1.com")]
    for iters in (1, 2, 4):
        want = _py_pagerank(pairs, iters, seeds={"seed.com"},
                            dangling=True)
        got = {r.host: r.pr
               for r in pagerank(_edges(spark, pairs), iters=iters,
                                 seed_hosts=("seed.com",),
                                 redistribute_dangling=True)
               .collect()}
        assert got == want, iters
        assert got["spam1.com"] == 0 and got["spam2.com"] == 0
    # the leaked-trust failure mode: d.com's pooled mass must show
    # up at the seed, not spread corpus-wide
    assert got["seed.com"] > _py_pagerank(
        pairs, 4, seeds={"seed.com"})["seed.com"]


def test_pagerank_hub_outranks_leaf(spark):
    # every host links to hub.com; hub links back to one
    pairs = [(f"s{i}.com", "hub.com") for i in range(8)]
    pairs.append(("hub.com", "s0.com"))
    pr = {r.host: r.pr for r in pagerank(_edges(spark, pairs),
                                         iters=3).collect()}
    assert pr["hub.com"] > pr["s0.com"] > pr["s1.com"]


def test_host_edges_hardening(spark):
    links = spark.createDataFrame(
        [("A.com", "https://B.com/x"),      # both ends case-fold
         ("a.com", "https://b.com/y"),      # same host edge -> distinct
         ("a.com", "/relative/only"),       # no host -> dropped
         ("a.com", "not a url at all \x00"),  # hostile -> dropped
         ("a.com", None),                   # NULL url -> dropped
         (None, "https://d.com/x"),         # NULL src -> dropped
         ("", "https://d.com/y"),           # empty src -> dropped
         ("c.com", "https://c.com/self")],  # self-loop kept
        "src_host string, url string")
    got = sorted(map(tuple, host_edges(links).collect()))
    assert got == [("a.com", "b.com"), ("c.com", "c.com")]


def test_graph_ops_degrade_on_empty_edges(spark):
    """An empty edge table (e.g. a corpus with no parseable links)
    must yield empty — never crash — through every graph op."""
    empty = spark.createDataFrame([], "src string, dst string")
    assert degrees(empty).count() == 0
    assert pagerank(empty, iters=2).count() == 0
    assert pagerank(empty, iters=2,
                    redistribute_dangling=True).count() == 0
    assert link_graph(empty).count() == 0


def test_link_graph_composes(spark):
    rows = {r.host: r for r in link_graph(_edges(spark, GRAPH),
                                          iters=2).collect()}
    want = _py_pagerank(GRAPH, 2)
    assert set(rows) == set(want)
    for h, r in rows.items():
        assert r.pr == want[h]
    assert rows["c.com"].in_deg == 3


def test_frontier_schedule_politeness_waves(spark):
    """No host appears more than per_wave times in any wave, higher
    host_pr fetches in earlier waves, intra-host order is
    deterministic (pr desc, url asc), and the window stays
    partitioned by host (no single-partition global sort)."""
    from html_parser_spark.operators.crawl import frontier_schedule
    rows = ([("https://a.com/" + str(i), "a.com", 100) for i in range(5)]
            + [("https://b.com/x", "b.com", 900),
               ("https://b.com/y", "b.com", 50)])
    pri = spark.createDataFrame(
        rows, "url string, url_host string, host_pr long") \
        .repartition(4)
    out = frontier_schedule(pri).collect()
    by_wave = {}
    for r in out:
        by_wave.setdefault(r.wave, []).append(r)
    for wave, members in by_wave.items():
        hosts = [m.url_host for m in members]
        assert len(hosts) == len(set(hosts)), (wave, hosts)
    b = {r.url: r.wave for r in out if r.url_host == "b.com"}
    assert b == {"https://b.com/x": 0, "https://b.com/y": 1}
    a_waves = sorted(r.wave for r in out if r.url_host == "a.com")
    assert a_waves == [0, 1, 2, 3, 4]
    # per_wave=2 halves the rounds
    out2 = frontier_schedule(pri, per_wave=2).collect()
    assert sorted(r.wave for r in out2 if r.url_host == "a.com") \
        == [0, 0, 1, 1, 2]
    # plan: the window must be partitioned (hashpartitioning on
    # url_host), never a single-partition global window
    plan = frontier_schedule(pri)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "url_host" in plan and "SinglePartition" not in plan


def test_anchor_profiles(spark):
    """Normalization folds case/whitespace variants into one
    description, the argmax is deterministic under ties (smallest
    text wins), hosts come from the href, and hostile rows (no host,
    empty text, NULLs) drop out instead of crashing."""
    from html_parser_spark.operators.linkgraph import anchor_profiles
    rows = [("https://A.com/1", "Home"),
            ("https://a.com/2", "  home  "),
            ("https://a.com/3", "HOME\tpage"),   # collapses to 'home page'
            ("https://a.com/4", "home page"),    # tie: 2 vs 2
            ("https://b.com/x", "b"),
            ("/relative", "dropped"),
            ("https://c.com/e", "   "),          # empty after trim
            (None, "n"), ("https://d.com/n", None)]
    got = {r.host: r for r in anchor_profiles(
        spark.createDataFrame(rows, "href string, anchor_text string")
        .repartition(7)).collect()}
    assert set(got) == {"a.com", "b.com"}
    a = got["a.com"]
    assert (a.n_anchors, a.n_texts) == (4, 2)
    # 'home' (2) ties 'home page' (2): lexicographically smaller wins
    assert (a.top_text, a.top_n) == ("home", 2)
    assert (got["b.com"].top_text, got["b.com"].top_n) == ("b", 1)


def test_frontier_priority_orders_admitted_frontier(spark):
    """crawl_frontier -> frontier_priority composition: admitted rows
    gain the host's PageRank, unadmitted rows are filtered by
    keep_col first, unknown hosts take host_pr = 0 (fetched last,
    never dropped), and keep_col=None skips the admission filter."""
    from html_parser_spark.operators.crawl import (crawl_frontier,
                                                   frontier_priority)
    sm = ("<urlset>"
          "<url><loc>https://C.com/rich</loc></url>"      # case fold
          "<url><loc>https://b.com/mid</loc></url>"
          "<url><loc>https://new.com/unseen</loc></url>"  # not in graph
          "<url><loc>https://c.com/private/x</loc></url>"  # robots veto
          "</urlset>")
    sitemaps = spark.createDataFrame([("c.com", sm)],
                                     "host string, sitemap_xml string")
    robots = spark.createDataFrame(
        [("c.com", "User-agent: *\nDisallow: /private/\n")],
        "host string, robots_txt string")
    frontier = crawl_frontier(sitemaps, robots)
    ranks = pagerank(_edges(spark, GRAPH), iters=3)
    want = _py_pagerank(GRAPH, 3)

    got = {r.url: r.host_pr
           for r in frontier_priority(frontier, ranks).collect()}
    assert got == {"https://C.com/rich": want["c.com"],
                   "https://b.com/mid": want["b.com"],
                   "https://new.com/unseen": 0}
    # c.com collects 3 in-edges: the prior must rank it first
    assert got["https://C.com/rich"] > got["https://b.com/mid"] > 0

    unfiltered = frontier_priority(frontier, ranks, keep_col=None)
    assert unfiltered.count() == 4
    vetoed = {r.url: r.host_pr for r in unfiltered.collect()}
    assert vetoed["https://c.com/private/x"] == want["c.com"]
