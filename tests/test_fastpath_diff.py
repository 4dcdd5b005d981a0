"""Differential tests: the regex fast path for start tags must be
byte-identical to the character FSM on arbitrary tag soup, the
lazy-position option must not change any non-position field, and the
single-pass main-content scan must equal tokenize -> document_text ->
collapse_ws wherever it accepts a document."""

from __future__ import annotations

import random

import pytest

from html_parser_spark.config import (
    EXTRACT_CONFIG,
    ParserConfig,
    TOKEPARSER_CONFIG,
)
from html_parser_spark.functions import assemble
from html_parser_spark.functions import tokenizer as tk
from html_parser_spark.functions.tagset import DEFAULT_TEXTIFY

PIECES = [
    "<a>", "</a>", "<a b=c>", '<a b="c d">', "<a b='c'>", "<a b>",
    "<x ", ">", "<", '"', "'", "=", " ", "text ", "&amp;",
    '<p class="x" id=y>', "</p >", '<img src=x.png alt="a b">',
    "<br/>", "<a =b>", "<a b= >", '<a b="unterminated', "`", "/",
    "\n", "\t", '<a b c=1 d e="2">', "<title>t</title>",
    "<script>x<y</script>", "<SCRIPT a=1>", "<a$ b%=^>", "\x0b",
    "]]>", "<![CDATA[x]]>", "<!-- c -->", "<!doctype html>", "<?pi?>",
    "<a b=c=d>", '<a "b"=c>', "<a/>", "<a / >", "<a b=`x`>",
    # end-tag shapes for the _FAST_END path: trailing junk, quotes,
    # MSIE skip-until-gt forms, missing name, unterminated
    "</a >", "</a\n>", "</a b>", '</a "x>y">', "</ a>", "</>",
    "</a", "</1x>", "</a=b>",
]

CFGS = [
    ParserConfig(),
    EXTRACT_CONFIG,
    ParserConfig(unbroken_text=True),
    ParserConfig(track_skipped_text=True,
                 reported_events=("text", "start", "end")),
]


def _tokenize_slow(doc: str, cfg: ParserConfig):
    orig = tk._Parser.__init__

    def patched(self, d, c, e, _o=orig):
        _o(self, d, c, e)
        self.fast_start = False

    tk._Parser.__init__ = patched
    try:
        return tk.tokenize(doc, cfg)
    finally:
        tk._Parser.__init__ = orig


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_fast_path_matches_fsm_on_soup(seed):
    rng = random.Random(seed)
    for trial in range(500):
        doc = "".join(rng.choice(PIECES)
                      for _ in range(rng.randint(1, 30)))
        cfg = CFGS[trial % len(CFGS)]
        assert tk.tokenize(doc, cfg) == _tokenize_slow(doc, cfg), \
            f"fast/slow divergence on {doc!r}"


def test_fast_path_disabled_for_option_configs():
    for cfg in (ParserConfig(xml_mode=True),
                ParserConfig(strict_names=True),
                ParserConfig(backquote=True),
                ParserConfig(empty_element_tags=True)):
        em = tk._Emitter("x", cfg)
        assert not tk._Parser("x", cfg, em).fast_start


def test_track_positions_off_leaves_other_fields_identical():
    doc = ("<html><head><title>T</title></head><body>\n<p a=1>x &amp; y"
           "</p>\n<script>s<t</script><br></body></html>")
    on = tk.tokenize(doc, ParserConfig())
    off = tk.tokenize(doc, ParserConfig(track_positions=False))
    assert len(on) == len(off)
    for a, b in zip(on, off):
        assert a[:5] == b[:5]          # event, span, tokens, is_cdata
        assert a[8:] == b[8:]          # skipped, flushed text
        assert b[5:8] == (0, 1, 0)     # positions stay at init values


#: PIECES plus the shapes the main-content scan handles itself:
#: entities (split ones join across ignored elements), literal title/
#: textarea, comments, uppercase names and phrase-markup end tags
SCAN_PIECES = PIECES + [
    "&lt;", "&amp", "&am", "p;", "&#x41;", "&#65", "&nbsp;", "&aring;",
    "<title>", "</title>", "<TITLE>a&amp;b</Title >",
    "<textarea>x&lt;</textarea>", "<!--", "-->", "<!-- x -- >",
    "<!---->", "<P>", "</P>", "<IMG SRC=x ALT='y'>", "<img alt=&amp;>",
    "<img>", "</br>", "<br>", "<BR>", "</B>", "<style>", "</style>",
    "</script>", "<applet alt=z>", "<xmp>", "</xmp>", "<meta a=b>",
    # the literal-element close and tag names fold A-Z only
    "</\u017fcript>", "</\u017ftyle>", "<\u212aBD>", "</\u212abd>",
]
#: single characters, with the Unicode case-fold traps (U+017F folds
#: to 's', U+212A to 'k'), split-only whitespace and NUL, plus the
#: name fragments that make literal elements and phrase tags likely
SCAN_CHARS = list("<<<>>/!-=\"' \n\tabpr&;#") + [
    "\u017f", "\u212a", "\xa0", "\u2028", "\x00", "s", "cript",
    "tyle", "title", "textarea", "img alt=", "bd", "br"]

SCAN_CFGS = [
    (EXTRACT_CONFIG, DEFAULT_TEXTIFY),
    (TOKEPARSER_CONFIG, DEFAULT_TEXTIFY),
    (ParserConfig(unbroken_text=True, ignore_elements=("style",)),
     {"img": "src", "title": "x"}),
    (EXTRACT_CONFIG.with_(attr_encoded=True, bool_attr_val="B",
                          strict_end=True),
     {"img": "0", "a": "href"}),
]


def _extract_slow(doc, cfg, textify):
    rows = tk.tokenize(doc, cfg)
    txt = assemble.document_text(doc, rows, cfg, textify)
    return txt, assemble.collapse_ws(txt), len(rows)


@pytest.mark.parametrize("soup,min_share", [("pieces", 0.12),
                                            ("chars", 0.45)])
@pytest.mark.parametrize("seed", [0, 1])
def test_main_content_scan_matches_reference(soup, min_share, seed):
    rng = random.Random(seed)
    for i, (cfg, textify) in enumerate(SCAN_CFGS):
        scan = assemble.main_content_scanner(cfg, textify)
        accepted = 0
        n_docs = 6500
        for _ in range(n_docs):
            if soup == "pieces":
                doc = "".join(rng.choice(SCAN_PIECES)
                              for _ in range(rng.randint(1, 30)))
            else:
                doc = "".join(rng.choice(SCAN_CHARS)
                              for _ in range(rng.randint(1, 40)))
            got = scan(doc)
            if got is None:
                continue
            accepted += 1
            assert got == _extract_slow(doc, cfg, textify), \
                f"scan/reference divergence on {doc!r} (config {i})"
        # the scan must cover a real share, or the test proves nothing
        assert accepted >= min_share * n_docs, (i, accepted)


def test_main_content_scan_config_gate():
    assert assemble.main_content_scanner(EXTRACT_CONFIG) is not None
    for cfg in (ParserConfig(),                       # unbroken_text off
                EXTRACT_CONFIG.with_(xml_mode=True),
                EXTRACT_CONFIG.with_(case_sensitive=True),
                EXTRACT_CONFIG.with_(strict_names=True),
                EXTRACT_CONFIG.with_(empty_element_tags=True),
                EXTRACT_CONFIG.with_(backquote=True),
                EXTRACT_CONFIG.with_(marked_sections=True),
                EXTRACT_CONFIG.with_(strict_comment=True),
                EXTRACT_CONFIG.with_(track_skipped_text=True),
                EXTRACT_CONFIG.with_(reported_events=("text",)),
                EXTRACT_CONFIG.with_(false_handler_events=("comment",)),
                EXTRACT_CONFIG.with_(ignore_tags=("b",)),
                EXTRACT_CONFIG.with_(report_tags=("p",)),
                EXTRACT_CONFIG.with_(ignore_elements=("head",))):
        assert assemble.main_content_scanner(cfg) is None, cfg
    # a callable textify spec may be impure: no memo, no scan
    assert assemble.main_content_scanner(
        EXTRACT_CONFIG, {"img": lambda t, a: "x"}) is None
    # extract_document without a scan takes the reference path
    doc = "<p>a<?pi?>b</p>"
    assert assemble.main_content_scanner(EXTRACT_CONFIG)(doc) is None
    assert assemble.extract_document(doc, EXTRACT_CONFIG) == \
        _extract_slow(doc, EXTRACT_CONFIG, DEFAULT_TEXTIFY)


def test_template_turns_take_the_scan(spark, tmp_path):
    """Every wrap_documents template turn and every synth_transcripts
    snippet is inside the scan's subset (the flagship never falls
    back on them)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from html_parser_spark.sources.transcripts import (
        synth_transcripts,
        wrap_documents,
    )

    texts = ["plain words", "a &amp; b < c", "", "x\ny  z"]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": pa.array(texts, pa.string())}),
        str(tmp_path / "documents.parquet"))
    docs = [r.text for r in
            wrap_documents(spark, str(tmp_path)).select("text").collect()]
    synth = [r.text for r in
             synth_transcripts(spark, 100, seed=3).select("text").collect()]
    kinds = ("<p>", "<h1>", "<!--", "<script>", "<table>")
    assert {k for d in synth for k in kinds
            if d.startswith(k, len("<html><body>"))} == set(kinds)
    scan = assemble.main_content_scanner(EXTRACT_CONFIG, DEFAULT_TEXTIFY)
    for doc in docs + synth:
        got = scan(doc)
        assert got is not None, doc
        assert got == _extract_slow(doc, EXTRACT_CONFIG, DEFAULT_TEXTIFY)


def test_scan_lone_surrogate_reaches_arrow_fallback():
    """A decoded lone surrogate from the scan still degrades to U+FFFD
    at the Arrow boundary (operators.extract._pa_arr)."""
    import pyarrow as pa

    from html_parser_spark.operators.extract import _pa_arr

    doc = "<p>&#xD800;&#0;\xe9\xe9\xe9&#xDC00;</p>"
    scan = assemble.main_content_scanner(EXTRACT_CONFIG, DEFAULT_TEXTIFY)
    got = scan(doc)
    assert got == _extract_slow(doc, EXTRACT_CONFIG, DEFAULT_TEXTIFY)
    assert "\udcc3" in got[0]
    arr = _pa_arr([got[0], "fine"], pa.string()).to_pylist()
    assert arr[0] == got[0].encode("utf-16", "surrogatepass").decode(
        "utf-16", "replace")
    assert "\ufffd" in arr[0] and arr[1] == "fine"


def test_collapse_ws_fast_path_matches_regex():
    import re
    import sys

    py_only = {c for c in map(chr, range(sys.maxunicode + 1))
               if c.isspace()} - set(" \t\n\r\f\x0b")
    assert len(py_only) > 20
    assert set(assemble._SPLIT_ONLY_WS.findall(
        "".join(map(chr, range(sys.maxunicode + 1))))) == py_only
    perl = re.compile(r"[ \t\n\r\f\x0b]+")
    alphabet = sorted(py_only) + list(" \t\n\r\f\x0b") + ["a", "b"]
    rng = random.Random(5)
    fast = 0
    for _ in range(20000):
        s = "".join(rng.choice(alphabet)
                    for _ in range(rng.randint(0, 12)))
        fast += assemble._SPLIT_ONLY_WS.search(s) is None
        assert assemble.collapse_ws(s) == perl.sub(" ", s).strip(" "), \
            repr(s)
    assert fast > 1000  # both branches exercised
