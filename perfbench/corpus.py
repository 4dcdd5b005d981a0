"""Seeded input generators, input descriptors and the closed-form
extraction oracle.

The document corpus has the shape of the ``documents`` table the repo's
oracles use: ``doc_id, text, lang, source, n_chars`` with 10-100 words
of synthetic prose per document and ~5% near-duplicates (a copy of an
earlier document plus one word). The corpus itself is fixed
(:data:`CORPUS_SEED`); a run's seed only shuffles the row order and
sets the per-turn suffix of the ``extract`` fan-out, so the curation
funnel and the number of turns are the same for every seed.
"""

from __future__ import annotations

import os
import random
import re

import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42

WORDS = (
    "a agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark "
    "stream table the value vector window").split()

LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (41, 14, 15, 15, 15)

_START_TAG = re.compile(r"<[A-Za-z][^>]*>")


def base_texts(n_docs: int) -> list[str]:
    """The fixed corpus: ``n_docs`` texts from :data:`CORPUS_SEED`."""
    rng = random.Random(CORPUS_SEED)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choices(WORDS,
                                               k=rng.randint(10, 100))))
    return texts


def write_documents(path: str, texts: list[str], seed: int) -> None:
    """Write ``texts`` as ``<path>/documents.parquet``, text ``i`` with
    doc id ``i``, in a row order shuffled by ``seed``."""
    order = list(range(len(texts)))
    random.Random(seed).shuffle(order)
    langs = random.Random(CORPUS_SEED + 1).choices(
        LANGS, weights=LANG_WEIGHTS, k=len(texts))
    rows = [texts[i] for i in order]
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(order, pa.int64()),
        "text": pa.array(rows, pa.string()),
        "lang": pa.array([langs[i] for i in order], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in order], pa.string()),
        "n_chars": pa.array([len(t) for t in rows], pa.int64()),
    }), os.path.join(path, "documents.parquet"))


def fanout_texts(n_docs: int, fanout: int, seed: int) -> list[str]:
    """``n_docs * fanout`` distinct turns: every base text ``fanout``
    times, each copy ending in its own seeded suffix word."""
    rng = random.Random(seed)
    return [f"{t} s{rng.getrandbits(40):010x}"
            for t in base_texts(n_docs) for _ in range(fanout)]


def extract_oracle(docs_dir: str) -> tuple[int, int, int]:
    """(count, sum of lengths, sum of 32-bit md5 prefixes) of the
    ``trimmed_text`` that ``extract_text`` must produce over
    ``wrap_documents(docs_dir)``, derived in DuckDB from the template's
    closed form: 'Doc & <id> <collapsed text> <link> pic <id>'."""
    import duckdb

    path = os.path.join(docs_dir, "documents.parquet")
    con = duckdb.connect()
    try:
        row = con.execute(
            "SELECT count(*), sum(length(t)),"
            " sum(('0x' || substr(md5(t), 1, 8))::BIGINT) FROM ("
            " SELECT 'Doc & ' || CAST(doc_id AS VARCHAR) || ' ' ||"
            " trim(regexp_replace(text, '\\s+', ' ', 'g')) ||"
            " ' <link> pic ' || CAST(doc_id AS VARCHAR) AS t"
            f" FROM read_parquet('{path}'))").fetchone()
    finally:
        con.close()
    return int(row[0]), int(row[1]), int(row[2])


def wrapped_sample(docs_dir: str, n: int) -> dict:
    """About ``n`` turns of ``wrap_documents(docs_dir)`` (every k-th
    doc id) with their conv ids, built in DuckDB from the program's own
    wrap template, so no Spark session is needed."""
    import duckdb

    from html_parser_spark.sources.transcripts import WRAP_SQL_EXPR

    path = os.path.join(docs_dir, "documents.parquet")
    con = duckdb.connect()
    try:
        total = con.execute(
            f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
        rows = con.execute(
            f"SELECT CAST(doc_id AS VARCHAR), {WRAP_SQL_EXPR}"
            f" FROM read_parquet('{path}')"
            f" WHERE doc_id % {max(1, total // n)} = 0"
            " ORDER BY doc_id").fetchall()
    finally:
        con.close()
    return {"keys": [r[0] for r in rows], "texts": [r[1] for r in rows]}


def descriptors(texts: list[str], keys: list[str] | None = None) -> dict:
    """Properties of the turns the program sees.

    ``amp_share`` is the share of turns containing '&' (entity-decode
    work); ``start_tag_distinct_ratio`` is distinct start-tag strings
    over all start tags (the tokenizer tag memo's working set);
    ``hot_key_share`` is the share of turns owned by the most frequent
    key (skew), or 0 when ``keys`` is not given.
    """
    tags = total = 0
    distinct: set[str] = set()
    for t in texts:
        found = _START_TAG.findall(t)
        tags += len(found)
        distinct.update(found)
        total += len(t)
    hot = 0.0
    if keys:
        counts: dict[str, int] = {}
        for k in keys:
            counts[k] = counts.get(k, 0) + 1
        hot = max(counts.values()) / len(keys)
    n = max(len(texts), 1)
    return {
        "turns": len(texts),
        "bytes": sum(len(t.encode()) for t in texts),
        "mean_chars_per_turn": total / n,
        "amp_share": sum("&" in t for t in texts) / n,
        "start_tag_distinct_ratio": len(distinct) / max(tags, 1),
        "hot_key_share": hot,
    }
