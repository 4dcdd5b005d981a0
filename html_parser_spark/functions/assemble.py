"""Per-document extractors over the event list.

Re-implements the reference's derived extractors (SURVEY.md §2.5):

* ``get_text`` / ``get_trimmed_text`` / ``get_phrase``
  (`/root/reference/lib/HTML/TokeParser.pm:83-150`)
* HeadParser metadata capture
  (`/root/reference/lib/HTML/HeadParser.pm:110-273`)
* LinkExtor link extraction
  (`/root/reference/lib/HTML/LinkExtor.pm:59-133`)

These are plain per-document Python functions; the Spark operators run
them inside `mapInArrow` so tokenize+extract is one fused stage with
no shuffle (each turn is independent).
"""

from __future__ import annotations

import re
from urllib.parse import urljoin

from html_parser_spark.config import ParserConfig
from html_parser_spark.functions import project
from html_parser_spark.functions.entities import decode_entities
from html_parser_spark.functions.tagset import (
    DEFAULT_TEXTIFY,
    LINK_ELEMENTS,
    PHRASE_TAGS,
)
from html_parser_spark.functions.tokenizer import (
    _FAST_END,
    _NAME_FIRST,
    _SP,
    _TAG_KEY_MAX,
    _TAG_MEMO_MAX,
    ascii_lower,
    EV_END,
    EV_START,
    EV_TEXT,
    fast_start_tag,
    tokenize,
)

# Perl \s is ASCII-only on these code paths; Python re \s would also
# eat U+00A0 etc. (t/tokeparser.t:93 requires "Perl\xA0Institute")
_WS_RUN = re.compile(r"[ \t\n\r\f\x0b]+")
_WS_EDGE = re.compile(r"^[ \t\n\r\f\x0b]+|[ \t\n\r\f\x0b]+$")
#: a character str.split() treats as whitespace but Perl \s does not:
#: Python's \S is the complement of str.isspace(), the predicate
#: str.split() splits on, so the class is derived, not hand-listed
_SPLIT_ONLY_WS = re.compile(r"[^\S \t\n\r\f\x0b]")


def collapse_ws(s: str) -> str:
    """s/^\\s+//; s/\\s+$//; s/\\s+/ /g (TokeParser.pm:119).

    Without split-only whitespace (U+00A0 etc.), str.split() splits on
    exactly the six Perl spaces, so the C-level split/join gives the
    result. Otherwise one regex pass: runs collapse to a single space
    first, so edge runs become exactly one leading/trailing space —
    str.strip(" ") removes them, same result as a separate edge-trim
    pass."""
    if _SPLIT_ONLY_WS.search(s) is None:
        return " ".join(s.split())
    return _WS_RUN.sub(" ", s).strip(" ")


def _textify(doc: str, row, cfg: ParserConfig, tname: str, spec) -> str:
    """TokeParser::_textify (TokeParser.pm:66-80): a callable spec is
    invoked with (tagname, attrs dict) — the coderef form; otherwise
    the spec names the attribute, with Perl-falsy specs ('', '0')
    falling back to "alt" (`$alt || "alt"`); a missing attribute
    yields "[TAG]"."""
    a = project.attrs(doc, row, cfg)
    attrs = a[0] if a else {}
    if callable(spec):
        return str(spec(tname, attrs))
    name = spec if _perl_true(spec) else "alt"
    alt = attrs.get(name)
    return alt if alt is not None else "[%s]" % tname.upper()


def get_text(doc: str, rows, cfg: ParserConfig, endtags=(),
             textify=DEFAULT_TEXTIFY, start: int = 0) -> tuple[str, int]:
    """TokeParser::get_text (TokeParser.pm:83-112).

    Returns (text, next_index): the concatenated text and the row index
    of the stopping tag (the reference ungets it), or len(rows).

    ``endtags`` semantics: ``()`` matches the reference exactly (with
    no endtags, *any* non-textified tag stops the scan,
    TokeParser.pm:103); ``None`` means document mode -- never stop,
    assemble the whole turn (the eg/htext whole-document pattern with
    get_text's textify + phrase-markup spacing).
    """
    parts: list[str] = []
    append = parts.append
    doc_mode = endtags is None
    endtags = () if doc_mode else tuple(endtags)
    # hot loop: the projections are inlined (token0/tagname/raw_text
    # are one slice + a memoized fold each; the function-call overhead
    # dominates them at corpus scale) — semantics identical
    case_sensitive = cfg.is_case_sensitive
    lower = ascii_lower
    i = start
    n = len(rows)
    while i < n:
        row = rows[i]
        ev = row[0]
        if ev is EV_TEXT:
            txt = row[9] if row[9] is not None else doc[row[1]:row[2]]
            if not row[4]:  # not is_cdata
                txt = decode_entities(txt)
            append(txt)
        elif ev is EV_START or ev is EV_END:
            toks = row[3]
            if toks:
                t0 = toks[0]
                tname = t0 if type(t0) is str else doc[t0[0]:t0[1]]
                if not case_sensitive:
                    tname = lower(tname)
            else:
                tname = None
            tag = tname
            if ev is EV_START:
                if tname in textify:
                    append(_textify(doc, row, cfg, tname,
                                    textify[tname]))
                    i += 1
                    continue
            else:
                tag = "/" + tname
            if not doc_mode and (not endtags or tag in endtags):
                return "".join(parts), i  # unget
            if tag == "br" or tname not in PHRASE_TAGS:
                append(" ")
        i += 1
    return "".join(parts), n


def document_text(doc: str, rows, cfg: ParserConfig,
                  textify=DEFAULT_TEXTIFY) -> str:
    """Whole-turn main-content assembly: get_text in document mode."""
    return get_text(doc, rows, cfg, None, textify)[0]


def _end_text(tname: str) -> str:
    """What an end tag adds in document mode: " " unless it is phrase
    markup (``</br>`` adds nothing; get_text's "br" test sees "/br")."""
    return "" if tname in PHRASE_TAGS else " "


#: the non-strict comment end (hparser.c:926-955)
_COMMENT_END = re.compile(f"--[{_SP}]*>")
#: a comment's action in the scan: an event that adds no text
_COMMENT = (True, "", None)
#: the close of a literal element the scan handles: the literal-mode
#: scan (hparser.c:1557-1602) folds A-Z only, so re.A keeps U+017F and
#: U+212A from matching 's' and 'k'
_LITERAL_END = {
    name: re.compile(f"</{name}[{_SP}]*>", re.I | re.A)
    for name in ("script", "style", "title", "textarea")}


def main_content_scanner(cfg: ParserConfig, textify=DEFAULT_TEXTIFY):
    """Single-pass main-content extraction for one ``(cfg, textify)``:
    returns ``scan(doc) -> (extracted_text, trimmed_text, n_events)``,
    equal to ``tokenize`` -> ``document_text`` -> ``collapse_ws`` and
    the event count, or None from ``scan`` when the document holds
    markup outside the scan's subset. Returns None instead of ``scan``
    when the configuration is outside it.

    The scan runs C-level ``str.find`` from text run to tag and never
    builds event rows. Each exact tag string maps through a memo to
    what it does: add text (a space, or textify's alt text) and count
    as an event, or vanish (an ``ignore_elements`` end tag), or open a
    literal element. The subset is what the tokenizer's loose start-
    tag grammar (``fast_start_tag``) and ``_FAST_END`` accept, plus
    non-strict ``<!--`` comments (an event, no text), ignored
    script/style elements (skipped without flushing the pending text,
    as ``unbroken_text`` joins both sides before decoding) and
    title/textarea (one decoded text event). Everything else returns
    None: other ``<!`` and ``<?`` markup, start tags the fast grammar
    rejects or that reach past the first '>', other end tags, xmp,
    iframe and plaintext, non-ignored script/style, an unclosed literal
    element or comment, and any '<' within 3 characters of the end
    (EOF recovery).

    The configuration gate mirrors the tokenizer's: ``unbroken_text``
    on; no xml_mode, case_sensitive, strict_names, empty_element_tags,
    backquote, marked_sections, strict_comment or skipped-text
    tracking (it flushes pending text at ignored tags); every event
    reported; no ignore/report tags; ``ignore_elements`` within
    script/style; string textify specs only (the memo assumes a pure
    spec). The memo is this scanner's own: its entries depend on
    ``cfg`` and ``textify``.
    """
    ignored = frozenset(cfg.ignore_elements)
    if not (cfg.unbroken_text
            and not (cfg.xml_mode or cfg.case_sensitive
                     or cfg.strict_names or cfg.empty_element_tags
                     or cfg.backquote or cfg.marked_sections
                     or cfg.strict_comment or cfg.track_skipped_text)
            and cfg.reported_events is None
            and not cfg.false_handler_events
            and not cfg.ignore_tags and not cfg.report_tags
            and ignored <= {"script", "style"}
            and all(type(v) is str for v in textify.values())):
        return None
    memo: dict[str, tuple] = {}

    def tag_action(doc: str, lt: int, gt: int):
        """(reported, text, literal) for the tag at ``doc[lt:gt + 1]``,
        or None if it is outside the subset; ``literal`` is None or
        (close regex, end tag text or None when the element is
        ignored)."""
        if doc[lt + 1] == "/":
            m = _FAST_END.match(doc, lt)
            if m is None:
                return None
            tname = ascii_lower(m.group(1))
            if tname in ignored:
                return False, "", None
            return True, _end_text(tname), None
        fast = fast_start_tag(doc, lt, len(doc))
        if fast is None or fast[0] != gt + 1:
            return None
        _, tokens, lit = fast
        tname = ascii_lower(doc[tokens[0][0]:tokens[0][1]])
        if lit is not None:
            if tname in ignored:
                return False, "", (_LITERAL_END[tname], None)
            if lit[1]:  # xmp, iframe, plaintext, script, style
                return None
            lit = (_LITERAL_END[tname], _end_text(tname))
        if tname in textify:
            row = (EV_START, lt, gt + 1, tokens, False, 0, 1, 0, None,
                   None)
            return True, _textify(doc, row, cfg, tname,
                                  textify[tname]), lit
        return True, (" " if tname == "br" or tname not in PHRASE_TAGS
                      else ""), lit

    def scan(doc: str):
        n = len(doc)
        find = doc.find
        get = memo.get
        out: list[str] = []
        pend: list[str] = []  # raw text of the pending text event
        n_ev = 0
        t = s = 0  # start of the current text run; scan position
        gt = -1
        while True:
            lt = find("<", s)
            if lt < 0:
                break
            if gt < lt:
                gt = find(">", lt)
                if gt < 0:
                    gt = n
            key = doc[lt:gt + 1] if gt - lt < _TAG_KEY_MAX else None
            act = get(key)
            end = gt + 1
            if act is None:
                if n - lt < 3:
                    return None  # EOF recovery
                c = doc[lt + 1]
                if c == "!":
                    m = (_COMMENT_END.search(doc, lt + 4)
                         if doc.startswith("--", lt + 2) else None)
                    if m is None:
                        return None
                    act, end = _COMMENT, m.end()
                elif c == "/" or c in _NAME_FIRST:
                    act = tag_action(doc, lt, gt) if gt < n else None
                    if act is None:
                        return None
                    if key is not None and len(memo) < _TAG_MEMO_MAX:
                        memo[key] = act
                elif c == "?":
                    return None
                else:
                    s = lt + 1  # not markup: the text run goes on
                    continue
            reported, text, lit = act
            if lt > t:
                pend.append(doc[t:lt])
            if reported:
                if pend:
                    out.append(decode_entities("".join(pend)))
                    pend.clear()
                    n_ev += 1
                n_ev += 1
                if text:
                    out.append(text)
            t = s = end
            if lit is not None:
                close, end_text = lit
                m = close.search(doc, s)
                if m is None:
                    return None
                if end_text is not None:
                    if m.start() > s:
                        out.append(decode_entities(doc[s:m.start()]))
                        n_ev += 1
                    n_ev += 1
                    if end_text:
                        out.append(end_text)
                t = s = m.end()
        if n > t:
            pend.append(doc[t:])
        if pend:
            out.append(decode_entities("".join(pend)))
            n_ev += 1
        txt = "".join(out)
        return txt, collapse_ws(txt), n_ev

    return scan


def extract_document(doc: str, cfg: ParserConfig,
                     textify=DEFAULT_TEXTIFY, scan=None):
    """One turn's ``(extracted_text, trimmed_text, n_events)``: the
    ``scan`` from :func:`main_content_scanner` when given and it
    accepts the document, else the reference path ``tokenize`` ->
    ``document_text`` -> ``collapse_ws``."""
    if scan is not None:
        got = scan(doc)
        if got is not None:
            return got
    rows = tokenize(doc, cfg)
    txt = document_text(doc, rows, cfg, textify)
    return txt, collapse_ws(txt), len(rows)


def get_trimmed_text(doc: str, rows, cfg: ParserConfig, endtags=(),
                     textify=DEFAULT_TEXTIFY, start: int = 0):
    txt, i = get_text(doc, rows, cfg, endtags, textify, start)
    return collapse_ws(txt), i


def get_phrase(doc: str, rows, cfg: ParserConfig,
               textify=DEFAULT_TEXTIFY, start: int = 0) -> tuple[str, int]:
    """TokeParser::get_phrase (TokeParser.pm:123-150)."""
    parts: list[str] = []
    i = start
    n = len(rows)
    while i < n:
        row = rows[i]
        ev = row[0]
        if ev is EV_TEXT:
            txt = project.raw_text(doc, row)
            if not row[4]:
                txt = decode_entities(txt)
            parts.append(txt)
        elif ev is EV_START or ev is EV_END:
            tname = project.tagname(doc, row, cfg)
            if ev is EV_START and tname in textify:
                parts.append(_textify(doc, row, cfg, tname,
                                      textify[tname]))
                i += 1
                continue
            if tname not in PHRASE_TAGS:
                return collapse_ws("".join(parts)), i  # unget
            if tname == "br":
                parts.append(" ")
        i += 1
    return collapse_ws("".join(parts)), n


def get_tag(doc: str, rows, cfg: ParserConfig, want=(),
            start: int = 0) -> tuple[str, int] | None:
    """TokeParser::get_tag (TokeParser.pm:49-63): returns the tag name
    (end tags '/'-prefixed) and its row index."""
    want = tuple(want)
    for i in range(start, len(rows)):
        ev = rows[i][0]
        if ev is not EV_START and ev is not EV_END:
            continue
        t = project.tagname(doc, rows[i], cfg)
        if ev is EV_END:
            t = "/" + t
        if not want or t in want:
            return t, i
    return None


_HEAD_TEXT_TAGS = ("title", "noscript", "object", "command")


def _perl_true(v) -> bool:
    """Perl truthiness for attribute values: undef, '', and '0' are
    false (HeadParser's `if ($attr->{name})` / `$prompt || '?'` and
    TokeParser's `$alt || "alt"` all test THIS, not Python truth —
    the string '0' must behave as false)."""
    return v is not None and v != "" and v != "0"


def head_headers(doc: str, rows, cfg: ParserConfig) -> list[tuple[str, str]]:
    """HeadParser equivalent: (header_name, value) pairs in push order
    (HeadParser.pm:110-273).  Stops at the first body text / non-head
    tag / </head>, like the reference's in-handler ``eof``."""
    headers: list[tuple[str, str]] = []
    cur_tag: str | None = None
    text_parts: list[str] = []
    first_chunk = True

    def flush():
        nonlocal cur_tag
        if cur_tag is None:
            return
        text = collapse_ws("".join(text_parts))
        if cur_tag == "title":
            headers.append(("Title", decode_entities(text)))
        cur_tag = None
        text_parts.clear()

    for row in rows:
        ev = row[0]
        if ev is EV_START:
            tag = project.tagname(doc, row, cfg)
            a = project.attrs(doc, row, cfg)
            attr = a[0] if a else {}
            if cur_tag:
                flush()
            if tag == "meta":
                key = attr.get("http-equiv")
                # http-equiv tests DEFINED+LENGTH (so '0' is a valid
                # key), while name/charset test PERL truth (so '0'
                # suppresses them) — HeadParser.pm:199-209 verbatim
                if key is None or key == "":
                    if _perl_true(attr.get("name")):
                        key = "X-Meta-" + attr["name"][:1].upper() + attr["name"][1:]
                    elif _perl_true(attr.get("charset")):
                        headers.append(("X-Meta-Charset", attr["charset"]))
                        continue
                    else:
                        continue
                key = key.replace(":", "-")
                headers.append((key, attr.get("content", "")))
            elif tag == "base":
                if "href" not in attr:
                    continue
                headers.append(
                    ("Content-Base", _WS_EDGE.sub("", attr["href"]))
                )
            elif tag == "isindex":
                prompt = attr.get("prompt")
                headers.append(
                    ("Isindex", prompt if _perl_true(prompt) else "?"))
            elif tag in _HEAD_TEXT_TAGS:
                cur_tag = tag
            elif tag == "link":
                if "href" not in attr:
                    continue
                href = _WS_EDGE.sub("", attr["href"])
                h_val = "<%s>" % href
                for k in sorted(attr):
                    if k in ("href", "/"):
                        continue
                    h_val += '; %s="%s"' % (k, attr[k])
                headers.append(("Link", h_val))
            elif tag in ("head", "html"):
                pass
            else:
                break  # stop parsing (HeadParser.pm:237-240)
        elif ev is EV_END:
            if cur_tag:
                flush()
            if project.tagname(doc, row, cfg) == "head":
                break
        elif ev is EV_TEXT:
            text = project.raw_text(doc, row)
            if first_chunk:
                if text.startswith("﻿"):
                    text = text[1:]
                first_chunk = False
            if not cur_tag and _WS_EDGE.sub("", text):
                break  # normal text means start of body
            if cur_tag != "title":
                continue
            text_parts.append(text)
    return headers


def anchors(doc: str, rows, cfg: ParserConfig,
            textify=DEFAULT_TEXTIFY) -> list[tuple[int, str | None, str]]:
    """eg/hanchors pattern (`/root/reference/eg/hanchors:17-46`):
    (anchor_seq, href, trimmed anchor text) per ``<a>`` element."""
    out: list[tuple[int, str | None, str]] = []
    i = 0
    seq = 0
    while True:
        t = get_tag(doc, rows, cfg, ("a",), i)
        if t is None:
            break
        _, idx = t
        a = project.attrs(doc, rows[idx], cfg)
        href = (a[0].get("href") if a else None)
        txt, j = get_trimmed_text(doc, rows, cfg, ("/a",), textify,
                                  idx + 1)
        out.append((seq, href, txt))
        seq += 1
        i = j + 1
    return out


def _unquote_span(doc: str, beg: int, end: int,
                  cfg: ParserConfig) -> tuple[int, int]:
    # '`' is a quote only when the backquote option is on, matching
    # the tokenizer's _attr_value (hparser.c:456-461)
    quotes = "\"'`" if cfg.backquote else "\"'"
    if end - beg >= 2 and doc[beg] in quotes and doc[end - 1] == doc[beg]:
        return beg + 1, end - 1
    return beg, end


#: entity escape for the active quote char when splicing a rewritten
#: value back into a quoted span (eg/hrefsub re-quotes with &quot;)
_QUOTE_ESCAPE = {'"': "&quot;", "'": "&#39;", "`": "&#96;"}

#: chars a rewritten value cannot carry UNQUOTED anywhere without
#: changing the tag's structure (whitespace splits attrs, '>' closes
#: the tag); a LEADING quote char additionally starts a quoted parse
_UNQUOTABLE = re.compile(r"[ \t\n\r\f>]")


def rewrite_links(doc: str, rows, cfg: ParserConfig, rewrite) -> str:
    """eg/hrefsub pattern (`/root/reference/eg/hrefsub`): rewrite link
    attribute values in place via token-span surgery on the raw
    document — everything outside the rewritten value spans is
    byte-identical to the input.

    ``rewrite(tag, attr_name, raw_value) -> new_raw_value``.
    """
    edits: list[tuple[int, int, str]] = []
    for row in rows:
        if row[0] is not EV_START:
            continue
        tag = project.tagname(doc, row, cfg)
        want = LINK_ELEMENTS.get(tag)
        if not want:
            continue
        toks = row[3]
        k = 1
        while k + 1 < len(toks):
            name_t, val_t = toks[k], toks[k + 1]
            k += 2
            if val_t is None or not isinstance(name_t, tuple):
                continue
            name = ascii_lower(doc[name_t[0]:name_t[1]])
            if name not in want:
                continue
            vb, ve = _unquote_span(doc, val_t[0], val_t[1], cfg)
            new = rewrite(tag, name, doc[vb:ve])
            if new != doc[vb:ve]:
                if vb > val_t[0]:
                    # splicing into a quoted span: entity-encode the
                    # active quote so the value cannot break out of it
                    # (the reference's eg/hrefsub re-quotes likewise)
                    q = doc[val_t[0]]
                    new = new.replace(q, _QUOTE_ESCAPE[q])
                elif (_UNQUOTABLE.search(new)
                      or new[:1] in ('"', "'")
                      or (cfg.backquote and new[:1] == "`")):
                    # splicing into an UNQUOTED span: a new value with
                    # whitespace / '>' / a leading quote would change
                    # the tag's structure (extra boolean attrs, early
                    # tag close) — re-quote it the way eg/hrefsub
                    # always does (double quotes, '"' -> &quot;)
                    new = '"%s"' % new.replace('"', "&quot;")
                edits.append((vb, ve, new))
    if not edits:
        return doc
    parts: list[str] = []
    pos = 0
    for beg, end, new in sorted(edits):
        parts.append(doc[pos:beg])
        parts.append(new)
        pos = end
    parts.append(doc[pos:])
    return "".join(parts)


#: default styling tags for the hstrip recipe (`eg/hstrip:20-63`
#: pattern; the tag list is configuration, not parity)
STRIP_TAGS = ("font", "b", "i", "u", "tt", "big", "small", "center",
              "blink", "s", "strike")


def strip_markup(doc: str, rows_unused, cfg: ParserConfig,
                 strip_tags=STRIP_TAGS,
                 strip_elements=("style", "script")) -> str:
    """eg/hstrip pattern: reconstruct the document with styling tags
    dropped and style/script subtrees removed, using the engine's own
    tag filters (F1/F3) + the Filter.pm identity rewrite (Q9)."""
    cfg2 = cfg.with_(ignore_tags=tuple(strip_tags),
                     ignore_elements=tuple(strip_elements),
                     unbroken_text=False)
    out: list[str] = []
    for row in tokenize(doc, cfg2):
        out.append(project.raw_text(doc, row))
    return "".join(out)


def extract_links(doc: str, rows, cfg: ParserConfig,
                  base: str | None = None
                  ) -> list[tuple[int, str, str, str]]:
    """LinkExtor equivalent: (elem_seq, tagname, attr_name, url) per
    link attribute, source order (LinkExtor.pm:74-91); ``elem_seq``
    groups attributes of the same element (the reference reports one
    link per element with all its link attrs); values HTML5-trimmed;
    absolutized against ``base`` when given."""
    out: list[tuple[int, str, str, str]] = []
    seq = 0
    for row in rows:
        if row[0] is not EV_START:
            continue
        tag = project.tagname(doc, row, cfg)
        want = LINK_ELEMENTS.get(tag)
        if not want:
            continue
        a = project.attrs(doc, row, cfg)
        attr = a[0] if a else {}
        found = False
        for name in want:
            if name not in attr:
                continue
            link = _WS_EDGE.sub("", attr[name])
            if base:
                link = urljoin(base, link)
            out.append((seq, tag, name, link))
            found = True
        if found:
            seq += 1
    return out
