"""``dedup.connected_components_star`` on both of its paths: the
large-star/small-star rounds and the one-task union-find finish.

``LOCAL_FINISH_EDGES`` picks the path: 0 keeps every graph on the star
rounds, a huge value finishes every graph locally, and a value just
under the input's edge count runs star rounds until the contracted
edge table fits, then finishes locally. That last arm feeds each edge
in both directions, so the first round, whose output is never larger
than the graph's undirected edge count, always fits. Each arm must give the labels of a plain Python
union-find.
"""

from __future__ import annotations

import random

import pytest

from html_parser_spark.operators import dedup

#: 120-long chain: diameter 120, yet O(log n) star rounds label it
CHAIN = [(i, i + 1) for i in range(120)]


def _reference(pairs) -> dict:
    """id -> min id of its component."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a != b:
            parent[find(a)] = find(b)
    comp: dict = {}
    for x in parent:
        comp[find(x)] = min(comp.get(find(x), x), x)
    return {x: comp[find(x)] for x in parent}


def _random_pairs(seed: int, ids: list) -> list:
    rng = random.Random(seed)
    pairs = [(rng.choice(ids), rng.choice(ids)) for _ in range(len(ids))]
    # one long path too, so the star arm needs several rounds
    path = rng.sample(ids, 40)
    return pairs + list(zip(path, path[1:]))


def _long_ids(seed: int) -> list:
    rng = random.Random(seed)
    return [rng.randrange(-2**62, 2**62) for _ in range(150)]


def _string_ids(seed: int) -> list:
    # U+FF5A sorts above U+1F600 in UTF-16 but below it in code-point
    # (= UTF-8 byte) order, the order Spark compares strings in
    alphabet = "aZé中ｚ😀#0"
    rng = random.Random(seed)
    return sorted({"".join(rng.choice(alphabet) for _ in range(4))
                   for _ in range(150)})


@pytest.fixture(params=["star", "local", "switch"])
def arm(request, monkeypatch):
    """Set the finish constant for one arm; count local finishes."""
    calls = []
    real = dedup._union_find_components

    def counted(edges):
        calls.append(1)
        return real(edges)

    monkeypatch.setattr(dedup, "_union_find_components", counted)

    def run(spark, pairs, schema):
        if request.param == "switch":
            pairs = pairs + [(b, a) for a, b in pairs]
        n_edges = len({(a, b) for a, b in pairs if a != b})
        limit = {"star": 0, "local": 10**12,
                 "switch": n_edges - 1}[request.param]
        monkeypatch.setattr(dedup, "LOCAL_FINISH_EDGES", limit)
        df = spark.createDataFrame(pairs, schema)
        got = {r.id: r.component
               for r in dedup.connected_components_star(df).collect()}
        assert len(calls) == (request.param != "star")
        return got

    return run


def test_chain_both_arms(spark, arm):
    got = arm(spark, CHAIN, "id_a long, id_b long")
    assert got == dict.fromkeys(range(121), 0)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_random_long_ids_both_arms(spark, arm, seed):
    pairs = _random_pairs(seed, _long_ids(seed))
    assert arm(spark, pairs, "id_a long, id_b long") == _reference(pairs)


@pytest.mark.parametrize("seed", [4, 5])
def test_random_string_ids_both_arms(spark, arm, seed):
    pairs = _random_pairs(seed, _string_ids(seed))
    assert arm(spark, pairs, "id_a string, id_b string") == _reference(pairs)


def test_star_rounds_warn_when_not_converged(spark, monkeypatch):
    """One star round cannot contract the chain: the capped loop warns
    that its labels may conflict instead of returning them silently."""
    monkeypatch.setattr(dedup, "LOCAL_FINISH_EDGES", 0)
    monkeypatch.setattr(dedup, "STAR_MAX_ROUNDS", 1)
    df = spark.createDataFrame(CHAIN, "id_a long, id_b long")
    with pytest.warns(RuntimeWarning, match="did not converge in 1 "):
        dedup.connected_components_star(df).collect()


def test_small_graph_dedup_runs_few_jobs(spark):
    """A small graph finishes in one task: the edge checkpoint (its row
    count comes with it) plus the action that reads the labels, not
    several jobs per star round."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6), (9, 1)], "id_a long, id_b long")
    tracker = spark.sparkContext.statusTracker()

    def last_job() -> int:
        return max(tracker.getJobIdsForGroup(None), default=-1)

    before = last_job()
    out = dedup.dedup_canonical(pairs).collect()
    assert last_job() - before <= 4
    assert {r.id: r.is_canonical for r in out} == {
        1: True, 2: False, 3: False, 4: False, 9: False,
        5: True, 6: False}
