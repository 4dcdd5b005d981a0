"""``similarity._bounded_topk``, the two-phase top-k that both
``cosine_topk`` (per query) and ``dsir_select`` (one global group) run.

Seeded scored rows with many tied scores, groups both smaller and
larger than k, on 1 and 7 partitions, against a sorted-Python
reference: score desc, key asc on ties, 1-based rank. Small Arrow
batches make a one-partition task re-reduce its buffer.
"""

from __future__ import annotations

import random

import pytest

from html_parser_spark.operators.similarity import _bounded_topk

K = 4
#: rows per query: three groups smaller than K, and more rows in all
#: than the 64*K a task buffers before it re-reduces
SIZES = [1, 2, 2, 40, 60, 90, 120, 150]


def _rows(seed: int) -> list[tuple]:
    """(query_id, key, score) with distinct keys; scores come from
    five values, so ties abound."""
    rng = random.Random(seed)
    keys = rng.sample(range(10_000), sum(SIZES))
    rows = [(q, keys.pop(), rng.choice([0.1, 0.25, 0.5, -0.3, 1.0]))
            for q, n in enumerate(SIZES) for _ in range(n)]
    rng.shuffle(rows)
    return rows


def _reference(rows: list[tuple], grouped: bool) -> list[tuple]:
    groups: dict = {}
    for q, key, score in rows:
        groups.setdefault(q if grouped else None, []).append((q, key, score))
    out = []
    for g in sorted(groups, key=lambda g: (g is None, g)):
        top = sorted(groups[g], key=lambda r: (-r[2], r[1]))[:K]
        out += [(*r, rank) for rank, r in enumerate(top, 1)]
    return out


@pytest.mark.parametrize("grouped", [True, False])
@pytest.mark.parametrize("parts", [1, 7])
@pytest.mark.parametrize("seed", [1, 2])
def test_bounded_topk_matches_sorted_reference(spark, seed, parts, grouped):
    rows = _rows(seed)
    df = spark.createDataFrame(
        rows, "query_id int, key long, score double").repartition(parts)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        top = _bounded_topk(df, K, "score", "key",
                            "query_id" if grouped else None)
        got = [tuple(r) for r in top.collect()]
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert top.columns == ["query_id", "key", "score", "rank"]
    want = _reference(rows, grouped)
    assert sorted(got, key=lambda r: (r[0] if grouped else 0, r[3])) == want
