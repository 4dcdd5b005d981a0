"""MinHash-LSH candidate pairs and near-dup components against
pure-Python references.

``lsh_candidate_pairs`` must emit exactly the within-bucket pairs of a
plain dictionary bucketing of :func:`dedup.lsh_band_rows`, honour the
``max_bucket`` cap at its boundary, and do it with one aggregation (no
join). The near-dup drop count must be a function of the texts alone:
renaming the document keys may change which member of a cluster is
kept, never how many are dropped.
"""

from __future__ import annotations

import os
import random
import sys
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from html_parser_spark.operators import dedup

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "perfbench"))
import corpus  # noqa: E402

MAX_BUCKET = 3
SIG = ", ".join(f"h{i} string" for i in range(8))


def _sig(key: str, band0: str | None = None) -> tuple:
    """A signature sharing no band with any other, unless ``band0``
    puts its first band in a chosen bucket."""
    hs = [f"{key}-{i}" for i in range(8)]
    if band0 is not None:
        hs[0] = hs[1] = band0
    return (key, *hs)


@pytest.fixture(scope="module")
def sigs(spark):
    """Text signatures with planted near-dups, plus hand-built buckets:
    one of exactly MAX_BUCKET members, one of MAX_BUCKET + 1, and a
    key that occurs twice with the same signature."""
    texts = corpus.base_texts(120)
    rng = random.Random(5)
    for i in rng.sample(range(120), 10):        # one-word edits
        words = texts[i].split()
        words[rng.randrange(len(words))] = "edited"
        texts.append(" ".join(words))
    docs = spark.createDataFrame(
        [(f"x{i:03d}", t) for i, t in enumerate(texts)],
        "doc_key string, text string")
    text_sigs = dedup.minhash_signatures(docs, key_col="doc_key")
    hand = ([_sig(f"kept{i}", "KEPT") for i in range(MAX_BUCKET)]
            + [_sig(f"drop{i}", "DROP") for i in range(MAX_BUCKET + 1)]
            + [_sig("twice")] * 2
            + [_sig("twin-a", "TWIN"), _sig("twin-b", "TWIN")])
    hand_df = spark.createDataFrame(hand, f"doc_key string, {SIG}")
    return text_sigs.unionByName(hand_df).cache()


def _reference_pairs(bands, max_bucket: int) -> set[tuple[str, str]]:
    buckets: dict[tuple, list[str]] = defaultdict(list)
    for r in bands:
        buckets[(r.band_idx, r.band_key)].append(r.key)
    return {(a, b)
            for keys in buckets.values() if 1 < len(keys) <= max_bucket
            for a in keys for b in keys if a < b}


@pytest.mark.parametrize("max_bucket", [MAX_BUCKET, 1000, 2])
def test_lsh_pairs_equal_python_buckets(spark, sigs, max_bucket):
    bands = dedup.lsh_band_rows(sigs, key_col="doc_key").collect()
    got = [(r.id_a, r.id_b) for r in dedup.lsh_candidate_pairs(
        sigs, key_col="doc_key", max_bucket=max_bucket).collect()]
    assert len(got) == len(set(got))            # distinct
    want = _reference_pairs(bands, max_bucket)
    assert set(got) == want
    # the fixture exercises what it claims to
    assert ("twin-a", "twin-b") in want
    # the doubled key forms a two-row bucket in every band, no pair
    assert sum(r.key == "twice" for r in bands) == 8
    assert not any("twice" in p for p in want)
    assert sum(a.startswith("x") for a, _ in want) >= 10
    kept = {("kept0", "kept1"), ("kept0", "kept2"), ("kept1", "kept2")}
    assert (kept <= want) == (max_bucket >= MAX_BUCKET)
    assert (("drop0", "drop1") in want) == (max_bucket > MAX_BUCKET)


def test_lsh_pairs_plan_is_one_aggregation(spark, sigs):
    """Band rows are built once: no join reads them again, and the only
    exchanges are the bucket aggregation and the final distinct."""
    plan = (dedup.lsh_candidate_pairs(sigs, key_col="doc_key")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 2, plan


def test_minhash_plan_splits_text_once(spark):
    """The shingles read one words array: each of its uses in the
    shingle lambda would otherwise split the whole text again."""
    docs = spark.createDataFrame([("a", "one two three four")],
                                 "doc_key string, text string")
    sigs = dedup.minhash_signatures(docs, key_col="doc_key")
    plan = sigs._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan


def _union_find_drops(pairs) -> int:
    """Docs dropped by one-canonical-per-component: every node in a
    pair minus one survivor per connected component."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    return len(parent) - len({find(x) for x in parent})


def test_near_dup_drops_follow_texts_not_keys(spark):
    """Renaming the keys (same texts, different names and sort order)
    leaves the candidate pairs and the number of dropped docs unchanged,
    and equal to a union-find over the pairs."""
    texts = corpus.base_texts(400)
    order = list(range(len(texts)))
    random.Random(3).shuffle(order)
    schemes = {"doc_key": [f"{i}#0" for i in range(len(texts))],
               "renamed": [f"k{order[i]:04d}" for i in range(len(texts))]}
    seen = {}
    for name, keys in schemes.items():
        docs = spark.createDataFrame(list(zip(keys, texts)),
                                     "doc_key string, text string")
        pairs = dedup.lsh_candidate_pairs(
            dedup.minhash_signatures(docs, key_col="doc_key"),
            key_col="doc_key", max_bucket=1_000_000).cache()
        index = {k: i for i, k in enumerate(keys)}
        got = [(index[r.id_a], index[r.id_b]) for r in pairs.collect()]
        drops = (dedup.dedup_canonical(pairs)
                 .filter(~F.col("is_canonical")).count())
        pairs.unpersist()
        assert drops == _union_find_drops(got)
        seen[name] = ({tuple(sorted(p)) for p in got}, drops)
    assert seen["doc_key"] == seen["renamed"]
    assert seen["doc_key"][1] > 0
