"""Spark-free run of the public kernel functions (the ``functions``
layer) on one core.

It repeats, per document, what the flagship Arrow map does: tokenize,
main-content assembly, whitespace collapse and the Arrow build of the
outputs. Entity decoding is timed on its own over the text events, as
the ``events`` operator's ``dtext`` column decodes them. Each step is
timed separately, so the split of kernel time between interpretation
and the Arrow build is read off directly.
"""

from __future__ import annotations

import time

import pyarrow as pa

from html_parser_spark.config import EXTRACT_CONFIG
from html_parser_spark.functions import assemble
from html_parser_spark.functions.entities import decode_entities
from html_parser_spark.functions.tagset import DEFAULT_TEXTIFY
from html_parser_spark.functions.tokenizer import tokenize


def run(docs: list[str]) -> dict:
    """Time each kernel step over ``docs``; returns seconds per step,
    documents per second of one core, and events per document."""
    clock = time.perf_counter
    t_tok = t_doc = t_ws = t_dec = 0.0
    n_events = 0
    ex, tr = [], []
    for doc in docs:
        t0 = clock()
        rows = tokenize(doc, EXTRACT_CONFIG)
        t1 = clock()
        txt = assemble.document_text(doc, rows, EXTRACT_CONFIG,
                                     DEFAULT_TEXTIFY)
        t2 = clock()
        trimmed = assemble.collapse_ws(txt)
        t3 = clock()
        texts = [r[9] if r[9] is not None else doc[r[1]:r[2]]
                 for r in rows if r[0] == "text" and not r[4]]
        t4 = clock()
        for s in texts:
            decode_entities(s, True)
        t5 = clock()
        t_tok += t1 - t0
        t_doc += t2 - t1
        t_ws += t3 - t2
        t_dec += t5 - t4
        n_events += len(rows)
        ex.append(txt)
        tr.append(trimmed)
    pa.array(["warm-up"], pa.string())   # first-call set-up of pyarrow
    t0 = clock()
    pa.RecordBatch.from_arrays(
        [pa.array(ex, pa.string()), pa.array(tr, pa.string())],
        names=["extracted_text", "trimmed_text"])
    t_arrow = clock() - t0
    n = max(len(docs), 1)
    per_doc_path = t_tok + t_doc + t_ws + t_arrow
    return {
        "tokenize_s": t_tok,
        "document_text_s": t_doc,
        "collapse_ws_s": t_ws,
        "decode_entities_s": t_dec,
        "arrow_build_s": t_arrow,
        "docs_per_s_core": len(docs) / per_doc_path if per_doc_path else 0.0,
        "events_per_doc": n_events / n,
        "docs": len(docs),
    }
