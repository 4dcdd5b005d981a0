"""Main-content extraction: DOM-free block segmentation + density
heuristics over the tokenizer's event stream.

The north rule's extraction pipeline "strips boilerplate tags/
scripts/styles via DOM-free event heuristics" — tag/element stripping
lives in ``ParserConfig.ignore_elements`` / ``strip_markup``; this
module adds the next tier: *block-level* boilerplate removal using
text-density and link-density scoring (the shallow-text-feature
approach shown effective by Kohlschütter et al., "Boilerplate
Detection using Shallow Text Features", WSDM 2010 — public
knowledge; this is an independent event-stream implementation, not a
port of boilerpipe). The reference has no counterpart (engine-side
scope like dedup, per SURVEY.md §2.5).

Pipeline shape: one pass over the event stream per turn — blocks
split at block-level tag boundaries, each block scored by word count
and share of characters under an ``<a>`` — fused into the same
Arrow fan-out stage every other per-turn operator uses. Shuffle-free,
skew-immune, and the scoring thresholds are plain arguments, so a
100 TB run tunes them without a new code path.
"""

from __future__ import annotations

import bisect
import re

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from html_parser_spark.arrowmap import arrow_map
from html_parser_spark.config import ParserConfig
from html_parser_spark.functions import assemble, project
from html_parser_spark.functions.tokenizer import ascii_lower, tokenize
from html_parser_spark.operators.extract import KEY_COLS

#: block-level elements that delimit content blocks (HTML4/5 block
#: and sectioning tags — public tag-category knowledge, the same
#: class HTML::Tagset's %isBodyElement/%isBlock expose)
BLOCK_TAGS = frozenset(
    "p div h1 h2 h3 h4 h5 h6 li dt dd td th ul ol dl table tr thead "
    "tbody blockquote pre article section header footer aside nav "
    "figure figcaption main form fieldset hr br".split())

#: script/style subtrees never contribute content text
CONTENT_CONFIG = ParserConfig(ignore_elements=("script", "style"))

BLOCKS_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("block_seq", T.IntegerType()),
    T.StructField("block_text", T.StringType()),
    T.StructField("n_words", T.IntegerType()),
    T.StructField("link_density", T.DoubleType()),
    T.StructField("is_content", T.BooleanType()),
])

MAIN_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("main_text", T.StringType()),
    T.StructField("n_blocks", T.IntegerType()),
    T.StructField("n_content_blocks", T.IntegerType()),
])

TABLES_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("table_seq", T.IntegerType()),
    T.StructField("row_seq", T.IntegerType()),
    T.StructField("cell_seq", T.IntegerType()),
    T.StructField("is_header", T.BooleanType()),
    T.StructField("colspan", T.IntegerType()),
    T.StructField("rowspan", T.IntegerType()),
    T.StructField("grid_col", T.IntegerType()),
    T.StructField("cell_text", T.StringType()),
])


_SPAN_DIGITS = re.compile(r"[ \t\n\r\f]*\+?([0-9]+)")


def _span_attr(val, cap: int) -> int:
    """colspan/rowspan attribute -> int in [1, cap], parsed the way
    the HTML non-negative-integer parser does: leading ASCII digits
    up to the first non-digit ('2.5' and '2px' read as 2, and a
    leading '+' is accepted: '+2' reads as 2); absent /
    no digits / zero all mean 1, and values clamp to ``cap`` (the
    spec clamps colspan to 1000 and rowspan to 65534 — which also
    bounds the walk's occupancy bookkeeping by construction)."""
    if val is None:
        return 1
    m = _SPAN_DIGITS.match(str(val))
    if not m:
        return 1
    n = int(m.group(1))
    return min(max(n, 1), cap)


def _blocks(doc: str, cfg: ParserConfig,
            min_words: int, max_link_density: float):
    """One event-stream pass -> [(text, n_words, link_density,
    is_content)]: text events accumulate into the current block
    (entity-decoded, CDATA raw); any block-level start/end tag closes
    it; characters emitted while inside an <a> count toward the
    block's link chars."""
    parts: list[str] = []
    link_chars = 0
    a_depth = 0
    out = []

    def flush():
        nonlocal parts, link_chars
        total = sum(len(p) for p in parts)
        txt = assemble.collapse_ws("".join(parts))
        if txt:
            # txt is collapsed (every \s run -> one space), so words
            # = spaces + 1; counting this way keeps the word model on
            # the same Perl-\s definition as collapse_ws (Python's
            # str.split would additionally treat \x1c-\x1f etc. as
            # separators)
            n_words = txt.count(" ") + 1
            ld = round(link_chars / total, 3) if total else 0.0
            out.append((txt, n_words, ld,
                        n_words >= min_words and ld <= max_link_density))
        parts, link_chars = [], 0

    for row in tokenize(doc, cfg):
        ev = row[0]
        if ev == "text":
            decoded = project.dtext(doc, row)
            parts.append(decoded)
            if a_depth > 0:
                link_chars += len(decoded)
        elif ev == "start" or ev == "end":
            toks = row[3]
            if not toks:
                continue
            t0 = toks[0]
            tn = ascii_lower(t0 if isinstance(t0, str)
                             else doc[t0[0]:t0[1]])
            if tn == "a":
                a_depth = a_depth + 1 if ev == "start" else max(
                    0, a_depth - 1)
            if tn in BLOCK_TAGS:
                flush()
    flush()
    return out


def content_blocks(df: DataFrame, cfg: ParserConfig = CONTENT_CONFIG,
                   min_words: int = 3,
                   max_link_density: float = 0.5,
                   text_col: str = "text") -> DataFrame:
    """transcripts -> one row per content block with its shallow-text
    features and the content/boilerplate verdict. The features are
    the product too: a curation pipeline thresholds them corpus-wide
    (e.g. drop pages whose content ratio is tiny)."""

    def per_turn(doc):
        for i, (txt, n_words, ld, keep) in enumerate(
                _blocks(doc, cfg, min_words, max_link_density)):
            yield i, txt, n_words, ld, keep

    return arrow_map(df, KEY_COLS, text_col, BLOCKS_SCHEMA, per_turn)


def main_content(df: DataFrame, cfg: ParserConfig = CONTENT_CONFIG,
                 min_words: int = 3, max_link_density: float = 0.5,
                 sep: str = "\n",
                 text_col: str = "text") -> DataFrame:
    """transcripts -> (conv_id, turn_idx, main_text, n_blocks,
    n_content_blocks): the content blocks joined by ``sep`` — the
    boilerplate-stripped 'article text' of each turn, fused in one
    Arrow stage like the flagship extractor."""

    def per_turn(doc):
        blocks = _blocks(doc, cfg, min_words, max_link_density)
        kept = [b[0] for b in blocks if b[3]]
        yield sep.join(kept), len(blocks), len(kept)

    return arrow_map(df, KEY_COLS, text_col, MAIN_SCHEMA, per_turn)


def _table_cells(doc: str, cfg: ParserConfig):
    """One event-stream pass -> [(table_seq, row_seq, cell_seq,
    is_header, cell_text)], DOM-free (a TokeParser-style get_tag walk,
    HTML::TokeParser POD's examples section pattern — boundary tags
    consumed in document order, no tree built).

    Soup rules, chosen to match what a browser-serialized table means:

    - tables nest: a ``<table>`` inside a cell flushes the outer cell
      with the text seen so far; inner cells report under the inner
      table's own ``table_seq`` (document-order numbering);
      ``</table>`` returns the walk to the outer table (next
      ``<tr>``/``<td>`` continues its row numbering).
    - ``<td>``/``<th>`` or ``<tr>`` implicitly close a still-open
      cell (the reference tokenizer never synthesizes end tags, so
      the walk does — same place HTML::TableExtract documents doing
      it, reimplemented not ported).
    - a cell before any ``<tr>`` (``<table><td>...``) opens implicit
      row 0.
    - text outside any open cell (caption prose, tail soup) is not a
      cell and is dropped; ``script``/``style`` subtrees are dropped
      by ``cfg.ignore_elements``.
    - cell text is entity-decoded (CDATA raw) and
      whitespace-collapsed, the same text model every other
      assembly-tier operator uses.
    - ``colspan``/``rowspan`` attributes are reported per cell
      (browser error handling: absent/non-numeric/<1 -> 1), and the
      walk resolves them into a ``grid_col``: the visual column the
      cell starts in, accounting for earlier cells' colspans in the
      row and rowspan overhang from prior rows (the standard HTML
      table layout algorithm). ``cell_seq`` stays document-order.
      Spans parse like the HTML non-negative-integer parser and are
      clamped to the spec maxima (colspan 1000, rowspan 65534);
      occupancy is tracked as disjoint column INTERVALS per row —
      one (start, end) tuple per touched row, never per-column ints
      — so hostile spans cannot blow up walk memory.
    """
    out = []
    n_tables = 0
    stack: list[dict] = []

    def first_free(ivs, c):
        # ivs: (start, end) intervals sorted by start, disjoint
        for s_, e_ in ivs:
            if c < s_:
                break
            if c < e_:
                c = e_
        return c

    def close_cell(t):
        if t["parts"] is not None:
            out.append((t["idx"], t["row"], t["cell"], t["is_th"],
                        t["cs"], t["rs"], t["gc"],
                        assemble.collapse_ws("".join(t["parts"]))))
            t["parts"] = None

    for row in tokenize(doc, cfg):
        ev = row[0]
        if ev == "text":
            if stack and stack[-1]["parts"] is not None:
                stack[-1]["parts"].append(project.dtext(doc, row))
        elif ev == "start" or ev == "end":
            toks = row[3]
            if not toks:
                continue
            t0 = toks[0]
            tn = ascii_lower(t0 if isinstance(t0, str)
                             else doc[t0[0]:t0[1]])
            if ev == "start":
                if tn == "table":
                    if stack:
                        close_cell(stack[-1])
                    stack.append({"idx": n_tables, "row": -1,
                                  "cell": -1, "parts": None,
                                  "is_th": False, "cs": 1, "rs": 1,
                                  "gc": 0, "cur": 0, "occ": {}})
                    n_tables += 1
                elif stack:
                    t = stack[-1]
                    if tn == "tr":
                        close_cell(t)
                        t["row"] += 1
                        t["cell"] = -1
                        t["cur"] = 0
                        # past rows can't affect layout any more
                        t["occ"] = {r: c for r, c in t["occ"].items()
                                    if r >= t["row"]}
                    elif tn == "td" or tn == "th":
                        close_cell(t)
                        if t["row"] < 0:
                            t["row"] = 0
                        t["cell"] += 1
                        t["parts"] = []
                        t["is_th"] = tn == "th"
                        a = project.attrs(doc, row, cfg)
                        amap = a[0] if a else {}
                        t["cs"] = _span_attr(amap.get("colspan"), 1000)
                        t["rs"] = _span_attr(amap.get("rowspan"),
                                             65534)
                        r0, occ = t["row"], t["occ"]
                        c = first_free(occ.get(r0, ()), t["cur"])
                        t["gc"] = c
                        iv = (c, c + t["cs"])
                        # occupancy lookahead capped at 1000 rows
                        # (the REPORTED rowspan keeps the parsed
                        # value): one tuple per touched row, and a
                        # hostile rowspan=65534 costs 1000 tuples,
                        # not 65k
                        for rr in range(r0, r0 + min(t["rs"], 1000)):
                            row_ivs = occ.setdefault(rr, [])
                            bisect.insort(row_ivs, iv)
                        t["cur"] = c + t["cs"]
            else:
                if tn == "table":
                    if stack:
                        close_cell(stack[-1])
                        stack.pop()
                elif stack and (tn == "td" or tn == "th" or tn == "tr"):
                    close_cell(stack[-1])
    while stack:
        close_cell(stack[-1])
        stack.pop()
    return out


def extract_tables(df: DataFrame, cfg: ParserConfig = CONTENT_CONFIG,
                   text_col: str = "text") -> DataFrame:
    """transcripts -> one row per table cell: (conv_id, turn_idx,
    table_seq, row_seq, cell_seq, is_header, colspan, rowspan,
    grid_col, cell_text).

    Structured-data recovery for the training-data pipeline: tables
    carry aligned facts (spec sheets, results grids) that the prose
    extractors flatten into word soup; downstream consumers want them
    as rows. Same fused Arrow fan-out as the flagship extractor —
    map-only, shuffle-free, skew-immune, so the plan is unchanged at
    100 TB."""

    def per_turn(doc):
        yield from _table_cells(doc, cfg)

    return arrow_map(df, KEY_COLS, text_col, TABLES_SCHEMA, per_turn)
