"""Event tokenizer with HTML-Parser semantics, built for batch use.

A from-scratch re-implementation of the *observable semantics* of the
reference tokenizer (`/root/reference/hparser.c`).  The execution model
is different by design: the reference is a chunk-resumable push parser;
here every row of the transcripts table carries one complete document,
so ``tokenize(doc, cfg)`` parses a whole document in one call and
returns the full event list.  The chunk-resume machinery
(`hparser.c:1879-1904`) is therefore replaced by running the
single-chunk parse followed by the reference's EOF recovery rules
(`hparser.c:1738-1813`); the reference's own chunking-invariance
contract (`t/parser.t:102`) guarantees this yields the same events.

This function is the inner loop of the Arrow map stage
(`mapInArrow`): it is called once per document inside an Arrow batch
(no per-row Python at the DataFrame level; Spark hands us whole
record batches).

Event tuple layout (kept as a plain tuple for speed)::

    (event, beg, end, tokens, is_cdata, offset, line, column, skipped)

* ``event``  -- one of EVENT_* strings (hparser.h:47-57)
* ``beg/end``-- char span of the raw source slice in the document
* ``tokens`` -- list of token spans; each item is an (abs_beg, abs_end)
  tuple, ``None`` for a boolean attribute value slot, or a plain string
  for synthesized tokens (EOF-synthesized end tags, hparser.c:1758-1770)
* ``is_cdata`` -- parser cdata state at report time (text events)
* ``offset/line/column`` -- char offset, 1-based line, 0-based column
  (hparser.c:147-214)
* ``skipped`` -- accumulated raw text of ignored events since the last
  reported one, or None when tracking is off (hparser.c:559-563,650-669)
"""

from __future__ import annotations

from html_parser_spark.config import ParserConfig

# --- char classes (mkhctype:9-55) ---------------------------------------
HSPACE = frozenset(" \t\n\r\f\x0b")
_NAME_FIRST = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ_:"
)
_NAME_CHAR = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789._-:"
)
_LETTERS = frozenset("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")

# literal-mode (CDATA-ish) elements (hparser.c:17-33)
LITERAL_MODE_ELEMS: dict[str, bool] = {
    "script": True,
    "style": True,
    "xmp": True,
    "iframe": True,
    "plaintext": True,
    "title": False,
    "textarea": False,
}

# event names (hparser.h:47-57)
EV_TEXT = "text"
EV_START = "start"
EV_END = "end"
EV_DECLARATION = "declaration"
EV_COMMENT = "comment"
EV_PROCESS = "process"
EV_START_DOCUMENT = "start_document"
EV_END_DOCUMENT = "end_document"
EV_NONE = "_none"  # internal E_NONE (skipped markup)

# marked-section keywords, ordered so max() picks the strongest
# (hparser.c:997-998; enum order hparser.h)
_MS_NONE, _MS_INCLUDE, _MS_RCDATA, _MS_CDATA, _MS_IGNORE = 0, 1, 2, 3, 4
_MS_BY_NAME = {
    "include": _MS_INCLUDE,
    "rcdata": _MS_RCDATA,
    "cdata": _MS_CDATA,
    "ignore": _MS_IGNORE,
}


import re as _re

# Fast-path regexes for the common non-strict start tag
# (hparser.c:1267-1438 semantics, loose name classes).  Character
# classes spell out HSPACE explicitly — Python's \s would also match
# Unicode whitespace, which the reference's hctype table does not.
# Anything the fast path cannot prove identical falls back to the
# character FSM, so these only ever accelerate, never alter, output.
_SP = " \\t\\n\\r\\f\\x0b"
_FAST_TAGNAME = _re.compile(f"<[^{_SP}>]+")
#: one anchored step: either the closing '>' (group 1) or one
#: attribute: name (group 2) + optional value (group 3; quoted,
#: unquoted not starting with a quote, or empty right before '>')
_FAST_STEP = _re.compile(
    f"[{_SP}]*(?:(>)|([^{_SP}>=]+)(?:[{_SP}]*=[{_SP}]*"
    f"(\"[^\"]*\"|'[^']*'|[^\"'{_SP}>][^{_SP}>]*|(?=>)))?)"
)
#: the common complete end tag '</name>' with only whitespace before
#: '>'. For this exact shape the loose FSM (_parse_end: name scan +
#: skip_until_gt) and the strict_end variant (skip_space + '>') both
#: produce the identical event, so the fast path needs no strict_end
#: gate; strict NAMES do change the outcome ('</1foo>' is a comment
#: there), so it shares the fast_start loose-grammar gate.
_FAST_END = _re.compile(f"</([^{_SP}>]+)[{_SP}]*>")

#: exact-tag-substring -> relative token spans (see
#: fast_start_tag); shared across documents on a worker by design
_TAG_MEMO: dict[str, tuple] = {}
_TAG_MEMO_MAX = 8192
_TAG_KEY_MAX = 96


# ASCII-only case folding: the reference's sv_lower (util.c:13-21)
# folds A-Z only; Python's str.lower would also fold Unicode (and
# U+212A KELVIN SIGN -> 'k' etc.), changing attr/tag names.
_ASCII_LOWER = str.maketrans(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")

# Tag/attr names repeat massively across a corpus; memoize the fold
# for short strings (size-capped so adversarial input can't grow it).
_LOWER_MEMO: dict[str, str] = {}


def ascii_lower(s: str) -> str:
    r = _LOWER_MEMO.get(s)
    if r is None:
        r = s.translate(_ASCII_LOWER)
        if len(s) <= 32 and len(_LOWER_MEMO) < 4096:
            _LOWER_MEMO[s] = r
    return r


def _is_name_first(ch: str, strict: bool) -> bool:
    if strict:
        return ch in _NAME_FIRST
    return ch not in HSPACE and ch != ">"


def _is_name_char(ch: str, strict: bool) -> bool:
    if strict:
        return ch in _NAME_CHAR
    return ch not in HSPACE and ch != ">"


def _literal_of(doc: str, tag_span) -> tuple[str, bool] | None:
    """(lowercased tag, is_cdata) when a start tag's name opens a
    literal-mode element (hparser.c:1398-1410), else None: ONE
    definition, so the FSM, the regex fast path and its memo cannot
    silently diverge on literal elements."""
    tag = ascii_lower(doc[tag_span[0]:tag_span[1]])
    cdata = LITERAL_MODE_ELEMS.get(tag)
    return None if cdata is None else (tag, cdata)


def fast_start_tag(doc: str, beg: int, end: int):
    """Regex fast path for the default (loose) start-tag grammar at
    ``doc[beg] == '<'``: ``(position after '>', token spans,
    _literal_of verdict)``, or None to defer to the FSM (any
    ambiguous/premature/unsupported shape). Callers gate it on the
    loose grammar (no strict names, empty-element tags or backquote).

    Exact-substring memo: a corpus's tag vocabulary is heavy-
    tailed (`<p>`, `</b>`, and even attr-carrying tags repeat
    massively), and the substring -> token-spans mapping is a
    pure context-free function, so previously parsed tag strings
    replay as a dict hit + span shift instead of the per-
    attribute regex walk. Entries are inserted ONLY when the walk
    consumed exactly up to the first '>' (a quoted '>' inside an
    attribute value makes the naive key a partial tag — those
    shapes simply never memoize); size- and length-capped so
    adversarial input can't grow the dict."""
    gt = doc.find(">", beg, end)
    key = None
    if 0 <= gt and gt - beg < _TAG_KEY_MAX:
        key = doc[beg:gt + 1]
        hit = _TAG_MEMO.get(key)
        if hit is not None:
            tmpl, lit = hit
            return (gt + 1,
                    [t if t is None else (t[0] + beg, t[1] + beg)
                     for t in tmpl],
                    lit)
    m = _FAST_TAGNAME.match(doc, beg, end)
    if m is None:
        return None
    s = m.end()
    tokens = [(beg + 1, s)]
    step = _FAST_STEP.match
    while True:
        m = step(doc, s, end)
        if m is None:
            return None  # premature or '=' in name position etc.
        if m.start(1) >= 0:
            s = m.end()
            break
        tokens.append(m.span(2))
        v = m.start(3)
        tokens.append(None if v < 0 else m.span(3))
        s = m.end()
    lit = _literal_of(doc, tokens[0])
    if (key is not None and s == gt + 1
            and len(_TAG_MEMO) < _TAG_MEMO_MAX):
        _TAG_MEMO[key] = (
            tuple(t if t is None else (t[0] - beg, t[1] - beg)
                  for t in tokens),
            lit)
    return s, tokens, lit


class _Emitter:
    """Port of ``report_event`` (hparser.c:116-672): offsets, pending
    end tags, tag filters, handler dispatch, unbroken-text buffering and
    skipped-text accumulation."""

    __slots__ = (
        "doc", "cfg", "rows", "offset", "line", "column",
        "pend_spans", "pend_offset", "pend_line", "pend_column",
        "pend_is_cdata", "skipped", "ignoring_element", "ignore_depth",
        "pending_end_tag", "_ignore_tags", "_report_tags",
        "_ignore_elements", "_reported", "_false_events", "_any_filter",
        "_lower_names", "_track_pos", "_unbroken",
    )

    def __init__(self, doc: str, cfg: ParserConfig):
        self.doc = doc
        self.cfg = cfg
        self.rows: list[tuple] = []
        self.offset = 0
        self.line = 1
        self.column = 0
        self.pend_spans: list[tuple[int, int]] | None = None
        self.pend_offset = 0
        self.pend_line = 1
        self.pend_column = 0
        self.pend_is_cdata = False
        self.skipped: list[str] | None = (
            [] if cfg.track_skipped_text else None
        )
        self.ignoring_element: str | None = None
        self.ignore_depth = 0
        self.pending_end_tag: str | None = None
        self._ignore_tags = frozenset(cfg.ignore_tags)
        self._report_tags = frozenset(cfg.report_tags)
        self._ignore_elements = frozenset(cfg.ignore_elements)
        self._any_filter = bool(
            self._ignore_tags or self._report_tags or self._ignore_elements
        )
        self._lower_names = not cfg.is_case_sensitive
        self._reported = (
            None if cfg.reported_events is None
            else frozenset(cfg.reported_events)
        )
        self._false_events = frozenset(cfg.false_handler_events)
        # per-emitter constants hoisted out of the per-event dataclass
        # attribute lookups (report() runs once per event — the
        # corpus-scale hot path)
        self._track_pos = cfg.track_positions
        self._unbroken = cfg.unbroken_text

    # -- internals --------------------------------------------------

    def _take_skipped(self) -> str | None:
        if self.skipped is None:
            return None
        s = "".join(self.skipped)
        self.skipped.clear()
        return s

    def _tagname_of(self, tokens) -> str:
        t0 = tokens[0]
        name = t0 if isinstance(t0, str) else self.doc[t0[0]:t0[1]]
        if self._lower_names:
            # inlined ascii_lower memo hit (the overwhelmingly common
            # case for the handful of tag names a corpus repeats)
            name = _LOWER_MEMO.get(name) or ascii_lower(name)
        return name

    def _flush_pending_text(self) -> None:
        # flush_pending_text (hparser.c:798-829): emit buffered text
        # with the offsets captured at the first buffered segment
        spans = self.pend_spans
        if not spans:
            self.pend_spans = None
            return
        self.pend_spans = None
        doc = self.doc
        if len(spans) == 1:  # common case: one uninterrupted segment
            text = doc[spans[0][0]:spans[0][1]]
        else:
            text = "".join(doc[b:e] for b, e in spans)
        self.rows.append((
            EV_TEXT, spans[0][0], spans[-1][1], None, self.pend_is_cdata,
            self.pend_offset, self.pend_line, self.pend_column,
            self._take_skipped(), text,
        ))

    def _ignore_event(self, event: str, beg: int, end: int) -> None:
        # IGNORE_EVENT label (hparser.c:650-669)
        if self.skipped is not None:
            if event != EV_TEXT and self.pend_spans:
                self._flush_pending_text()
            self.skipped.append(self.doc[beg:end])

    # -- the one entry point -----------------------------------------

    def report(self, event: str, beg: int, end: int, tokens,
               is_cdata: bool, ms: int = _MS_NONE) -> None:
        # pending end tag fires before any non-text/comment event
        # (hparser.c:188-196)
        if (
            self.pending_end_tag
            and event is not EV_TEXT
            and event is not EV_COMMENT
        ):
            tag = self.pending_end_tag
            self.pending_end_tag = None
            self.report(EV_END, beg, beg, [tag], is_cdata, ms)

        offset, line, column = self.offset, self.line, self.column

        # advance position counters (hparser.c:198-214); lazily
        # enabled like the reference (hparser.c:724-727, SURVEY.md O5)
        if end > beg and self._track_pos:
            self.offset = offset + (end - beg)
            nl = self.doc.rfind("\n", beg, end)
            if nl >= 0:
                self.line = line + self.doc.count("\n", beg, end)
                self.column = end - nl - 1
            else:
                self.column = column + (end - beg)

        if event is EV_NONE:
            self._ignore_event(event, beg, end)
            return
        if ms == _MS_IGNORE:
            self._ignore_event(event, beg, end)
            return

        # tag filters (hparser.c:224-275)
        if self._any_filter:
            if event is EV_START or event is EV_END:
                tagname = self._tagname_of(tokens)
                if self.ignoring_element is not None:
                    if self.ignoring_element == tagname:
                        if event is EV_START:
                            self.ignore_depth += 1
                        else:
                            self.ignore_depth -= 1
                            if self.ignore_depth == 0:
                                self.ignoring_element = None
                    self._ignore_event(event, beg, end)
                    return
                if tagname in self._ignore_elements:
                    if event is EV_START:
                        self.ignoring_element = tagname
                        self.ignore_depth = 1
                    self._ignore_event(event, beg, end)
                    return
                if tagname in self._ignore_tags:
                    self._ignore_event(event, beg, end)
                    return
                if self._report_tags and tagname not in self._report_tags:
                    self._ignore_event(event, beg, end)
                    return
            elif self.ignoring_element is not None:
                self._ignore_event(event, beg, end)
                return

        # handler dispatch (hparser.c:277-288)
        if self._reported is not None and event not in self._reported:
            if event in self._false_events:
                return  # dropped silently, no flush, no skipped_text
            self._ignore_event(event, beg, end)
            return

        # unbroken_text buffering (hparser.c:290-331)
        if self._unbroken and event is EV_TEXT:
            if self.pend_spans is not None:
                if self.pend_is_cdata != is_cdata:
                    self._flush_pending_text()
            if self.pend_spans is None:
                self.pend_spans = []
                self.pend_offset = offset
                self.pend_line = line
                self.pend_column = column
                self.pend_is_cdata = is_cdata
            self.pend_spans.append((beg, end))
            return
        elif self.pend_spans is not None:
            self._flush_pending_text()

        self.rows.append((
            event, beg, end, tokens, is_cdata,
            offset, line, column,
            None if self.skipped is None else self._take_skipped(),
            None,
        ))

    def finish(self, ms: int = _MS_NONE) -> list[tuple]:
        # eof tail of parse() (hparser.c:1805-1813); ms is the live
        # marked-section state so END_DOCUMENT inside <![ignore[ is
        # suppressed like every other event (hparser.c:220)
        if self.pend_spans is not None:
            self._flush_pending_text()
        self.ignoring_element = None
        self.report(EV_END_DOCUMENT, len(self.doc), len(self.doc), None,
                    False, ms)
        return self.rows


class _Parser:
    """Port of ``parse_buf`` and the sub-parsers (hparser.c:1543-1720)."""

    __slots__ = ("doc", "end", "cfg", "em", "literal_mode", "is_cdata",
                 "ms_stack", "ms", "no_dash_dash_comment_end", "strict",
                 "allow_empty", "fast_start")

    def __init__(self, doc: str, cfg: ParserConfig, em: _Emitter):
        self.doc = doc
        self.end = len(doc)
        self.cfg = cfg
        self.em = em
        self.literal_mode: str | None = None
        self.is_cdata = False
        self.ms_stack: list[list[str]] = []
        self.ms = _MS_NONE
        self.no_dash_dash_comment_end = False
        self.strict = cfg.is_strict_names
        self.allow_empty = cfg.allow_empty_tag
        # regex fast path only covers the loose default tag grammar;
        # any option that changes name/quote classes disables it
        self.fast_start = not (self.strict or self.allow_empty
                               or cfg.backquote)

    # -- helpers -------------------------------------------------------

    def _skip_space(self, s: int) -> int:
        doc, end = self.doc, self.end
        while s < end and doc[s] in HSPACE:
            s += 1
        return s

    def _ms_update(self) -> None:
        # marked_section_update (hparser.c:963-1007): max of stack wins
        ms = _MS_NONE
        for frame in self.ms_stack:
            for kw in frame:
                v = _MS_BY_NAME.get(kw, _MS_NONE)
                if v > ms:
                    ms = v
        self.ms = ms
        self.is_cdata = ms == _MS_CDATA

    def _report(self, event, beg, end, tokens=None):
        self.em.report(event, beg, end, tokens, self.is_cdata, self.ms)

    # -- skip_until_gt (hparser.c:831-852): MSIE quote emulation --------

    def _skip_until_gt(self, beg: int) -> int:
        doc, end = self.doc, self.end
        s = beg
        quote = ""
        prev = " "
        while s < end:
            c = doc[s]
            if not quote and c == ">":
                return s
            if c == '"' or c == "'":
                if c == quote:
                    quote = ""
                elif not quote and (prev == " " or prev == "="):
                    quote = c
            prev = c
            s += 1
        return end

    # -- sub-parsers; return new position, beg (premature) or None ------

    def _parse_start(self, beg: int) -> int | None:
        # hparser.c:1267-1438
        if self.fast_start:
            fast = fast_start_tag(self.doc, beg, self.end)
            if fast is not None:
                s, tokens, lit = fast
                self._report(EV_START, beg, s, tokens)
                if lit is not None and not self.cfg.xml_mode:
                    self.literal_mode, self.is_cdata = lit
                return s
        doc, end = self.doc, self.end
        cfg = self.cfg
        strict, allow_empty = self.strict, self.allow_empty
        tokens: list = []
        s = beg + 2
        while s < end and _is_name_char(doc[s], strict):
            if doc[s] == "/" and allow_empty:
                if s + 1 == end:
                    return beg
                if doc[s + 1] == ">":
                    break
            s += 1
        tokens.append((beg + 1, s))  # tagname

        s = self._skip_space(s)
        if s == end:
            return beg

        while _is_name_first(doc[s], strict):
            # attribute (hparser.c:1305-1381)
            attr_name_beg = s
            if doc[s] == "/" and allow_empty:
                if s + 1 == end:
                    return beg
                if doc[s + 1] == ">":
                    break
            s += 1
            while s < end and (
                _is_name_char(doc[s], strict)
                if strict
                else (doc[s] not in HSPACE and doc[s] != ">" and doc[s] != "=")
            ):
                if doc[s] == "/" and allow_empty:
                    if s + 1 == end:
                        return beg
                    if doc[s + 1] == ">":
                        break
                s += 1
            if s == end:
                return beg
            tokens.append((attr_name_beg, s))

            s = self._skip_space(s)
            if s == end:
                return beg

            if doc[s] == "=":
                s += 1
                s = self._skip_space(s)
                if s == end:
                    return beg
                c = doc[s]
                if c == ">":
                    tokens.append((s, s))  # treated like =""
                    break
                if c == '"' or c == "'" or (c == "`" and cfg.backquote):
                    q_end = doc.find(c, s + 1, end)
                    if q_end < 0:
                        return beg
                    tokens.append((s, q_end + 1))
                    s = q_end + 1
                else:
                    word_start = s
                    while s < end and doc[s] not in HSPACE and doc[s] != ">":
                        if doc[s] == "/" and allow_empty:
                            if s + 1 == end:
                                return beg
                            if doc[s + 1] == ">":
                                break
                        s += 1
                    if s == end:
                        return beg
                    tokens.append((word_start, s))
                s = self._skip_space(s)
                if s == end:
                    return beg
            else:
                tokens.append(None)  # boolean attr value

        empty_tag = False
        if allow_empty and s < end and doc[s] == "/":
            s += 1
            if s == end:
                return beg
            empty_tag = True

        if s < end and doc[s] == ">":
            s += 1
            self._report(EV_START, beg, s, tokens)
            if empty_tag:
                # artificial end event (hparser.c:1394-1396)
                self._report(EV_END, s, s, tokens[:1])
            elif not cfg.xml_mode:
                lit = _literal_of(doc, tokens[0])
                if lit is not None:
                    self.literal_mode, self.is_cdata = lit
            return s
        return None

    def _parse_end(self, beg: int) -> int | None:
        # hparser.c:1441-1497
        doc, end = self.doc, self.end
        if self.fast_start:
            m = _FAST_END.match(doc, beg, end)
            if m is not None:
                e = m.end()
                self._report(EV_END, beg, e, [m.span(1)])
                return e
        s = beg + 2
        if s < end and _is_name_first(doc[s], self.strict):
            tag_beg = s
            s += 1
            while s < end and _is_name_char(doc[s], self.strict):
                s += 1
            tag_end = s
            if self.cfg.strict_end:
                s = self._skip_space(s)
            else:
                s = self._skip_until_gt(s)
            if s < end:
                if doc[s] == ">":
                    s += 1
                    self._report(EV_END, beg, s, [(tag_beg, tag_end)])
                    return s
            else:
                return beg
        elif not self.cfg.strict_comment:
            s = self._skip_until_gt(s)
            if s < end:
                self._report(EV_COMMENT, beg, s + 1, [(beg + 2, s)])
                return s + 1
            return beg
        return None

    def _parse_process(self, beg: int) -> int | None:
        # hparser.c:1500-1528
        doc, end = self.doc, self.end
        cfg = self.cfg
        s = beg + 2
        while s < end:
            if doc[s] == ">":
                tok_end = s
                s += 1
                if cfg.xml_mode or cfg.xml_pic:
                    if s - beg < 4 or doc[s - 2] != "?":
                        continue
                    tok_end = s - 2
                self._report(EV_PROCESS, beg, s, [(beg + 2, tok_end)])
                return s
            s += 1
        return beg

    def _parse_comment(self, beg: int) -> int | None:
        # hparser.c:854-958; beg points just past '<!--'
        doc, end = self.doc, self.end
        s = beg
        if self.cfg.strict_comment:
            tokens: list = []
            start_com = beg  # != None signals "inside a comment"
            inside = True
            while True:
                while s < end and doc[s] != "-" and doc[s] != ">":
                    s += 1
                if s == end:
                    return beg
                if doc[s] == ">":
                    s += 1
                    if inside:
                        continue
                    self._report(EV_COMMENT, beg - 4, s, tokens)
                    return s
                s += 1
                if s == end:
                    return beg
                if doc[s] == "-":
                    s += 1
                    if inside:
                        tokens.append((start_com, s - 2))
                        inside = False
                    else:
                        start_com = s
                        inside = True
        elif self.no_dash_dash_comment_end:
            gt = doc.find(">", s, end)
            if gt < 0:
                return beg
            self._report(EV_COMMENT, beg - 4, gt + 1, [(beg, gt)])
            return gt + 1
        else:
            # non-strict: terminate at /--\s*>/ (hparser.c:926-955)
            tok_end = s
            while True:
                dash = doc.find("-", s, end)
                if dash < 0:
                    return beg
                tok_end = dash
                s = dash + 1
                if s < end and doc[s] == "-":
                    s += 1
                    while s < end and doc[s] in HSPACE:
                        s += 1
                    if s < end and doc[s] == ">":
                        s += 1
                        self._report(
                            EV_COMMENT, beg - 4, s, [(beg, tok_end)]
                        )
                        return s
                if s >= end:
                    return beg
                s = tok_end + 1

    def _parse_marked_section(self, beg: int) -> int | None:
        # hparser.c:1010-1095; beg at '<', doc[beg+2]=='['
        if not self.cfg.marked_sections:
            return None
        doc, end = self.doc, self.end
        s = beg + 3
        names: list[str] = []
        while True:  # FIND_NAMES
            s = self._skip_space(s)
            while s < end and doc[s] in _NAME_FIRST:
                name_start = s
                s += 1
                while s < end and doc[s] in _NAME_CHAR:
                    s += 1
                name_end = s
                s = self._skip_space(s)
                if s == end:
                    return beg
                names.append(ascii_lower(doc[name_start:name_end]))
            if s < end and doc[s] == "-":
                s += 1
                if s < end and doc[s] == "-":
                    s += 1
                    while True:  # skip comment
                        dash = doc.find("-", s, end)
                        if dash < 0:
                            return beg
                        s = dash + 1
                        if s == end:
                            return beg
                        if doc[s] == "-":
                            s += 1
                            break
                    continue  # FIND_NAMES again
                return None
            break
        if s < end and doc[s] == "[":
            s += 1
            if not names:
                names = ["include"]
            self.ms_stack.append(names)
            self._ms_update()
            self._report(EV_NONE, beg, s)
            return s
        if s == end:
            return beg
        return None

    def _parse_decl(self, beg: int) -> int | None:
        # hparser.c:1099-1264
        doc, end = self.doc, self.end
        s = beg + 2
        fail = False
        if s < end and doc[s] == "-":
            s += 1
            if s == end:
                return beg
            if doc[s] == "-":
                s += 1
                tmp = self._parse_comment(s)
                return beg if tmp == s else tmp
            fail = True
        elif s < end and doc[s] == "[":
            tmp = self._parse_marked_section(beg)
            if tmp is None:
                fail = True
            else:
                return tmp
        elif s < end and doc[s] == ">":
            # <!> empty comment (hparser.c:1133-1141)
            self._report(EV_COMMENT, beg, s + 1, [(s, s)])
            return s + 1
        elif s < end and doc[s] in _LETTERS:
            tokens: list = []
            decl_id_beg = s
            s += 1
            while s < end and doc[s] in _NAME_CHAR:
                s += 1
            if s == end:
                return beg
            decl_id = doc[decl_id_beg:s]
            cmp = decl_id if self.cfg.is_case_sensitive else decl_id.upper()
            if cmp not in ("DOCTYPE", "ENTITY"):
                fail = True
            else:
                tokens.append((decl_id_beg, s))
                premature = False
                while True:
                    s = self._skip_space(s)
                    if s == end:
                        premature = True
                        break
                    c = doc[s]
                    if c == '"' or c == "'" or (
                        c == "`" and self.cfg.backquote
                    ):
                        q_end = doc.find(c, s + 1, end)
                        if q_end < 0:
                            premature = True
                            break
                        tokens.append((s, q_end + 1))
                        s = q_end + 1
                    elif c == "-":
                        com_beg = s
                        s += 1
                        if s == end:
                            premature = True
                            break
                        if doc[s] != "-":
                            fail = True
                            break
                        s += 1
                        while True:
                            dash = doc.find("-", s, end)
                            if dash < 0:
                                premature = True
                                break
                            s = dash + 1
                            if s == end:
                                premature = True
                                break
                            if doc[s] == "-":
                                s += 1
                                tokens.append((com_beg, s))
                                break
                        if premature:
                            break
                    elif c != ">":
                        word_beg = s
                        s += 1
                        while s < end and doc[s] not in HSPACE and doc[s] != ">":
                            s += 1
                        if s == end:
                            premature = True
                            break
                        tokens.append((word_beg, s))
                    else:
                        break
                if premature:
                    return beg
                if not fail:
                    if s == end:
                        return beg
                    if doc[s] == ">":
                        s += 1
                        self._report(EV_DECLARATION, beg, s, tokens)
                        return s
                    fail = True
        else:
            fail = True

        # DECL_FAIL (hparser.c:1246-1263)
        if self.cfg.strict_comment:
            return None
        gt = doc.find(">", beg + 2, end)
        if gt < 0:
            return beg
        self._report(EV_COMMENT, beg, gt + 1, [(beg + 2, gt)])
        return gt + 1

    # -- main loop (hparser.c:1543-1720) -------------------------------

    def parse_buf(self, s: int) -> int:
        doc, end = self.doc, self.end
        t = s
        while True:
            # literal (CDATA-element) mode scan (hparser.c:1557-1602)
            while self.literal_mode:
                lit = self.literal_mode
                lt = doc.find("<", s, end)
                if lt < 0:
                    return t
                end_text = lt
                s = lt + 1
                if s < end and doc[s] == "/":
                    s += 1
                    llen = len(lit)
                    # slice-compare instead of the per-char scan: on a
                    # partial match the chars skipped are letters of
                    # `lit`, never '<', so resuming the '<' search from
                    # here is equivalent to the reference's char loop
                    if doc[s:s + llen].translate(_ASCII_LOWER) == lit:
                        li = llen
                        s += llen
                    else:
                        li = 0
                    if li == llen and (
                        lit != "plaintext" or self.cfg.closing_plaintext
                    ):
                        end_token = (end_text + 2, s)
                        while s < end and doc[s] in HSPACE:
                            s += 1
                        if s < end and doc[s] == ">":
                            s += 1
                            if t != end_text:
                                self._report(EV_TEXT, t, end_text)
                            # E_END fires BEFORE is_cdata clears
                            # (hparser.c:1594-1597): the end-tag row
                            # records is_cdata=True like the reference
                            self._report(EV_END, end_text, s, [end_token])
                            self.literal_mode = None
                            self.is_cdata = False
                            t = s

            # marked-section CDATA/RCDATA scan (hparser.c:1604-1628)
            while self.ms == _MS_CDATA or self.ms == _MS_RCDATA:
                br = doc.find("]", s, end)
                if br < 0:
                    s = end
                else:
                    s = br
                if s < end and doc[s] == "]":
                    end_text = s
                    s += 1
                    if s + 1 < end and doc[s] == "]" and doc[s + 1] == ">":
                        s += 2
                        if t != end_text:
                            self._report(EV_TEXT, t, end_text)
                        # av_pop on an empty stack is a no-op undef in
                        # the reference; a stray ]]> must not blow up
                        if self.ms_stack:
                            self.ms_stack.pop()
                        self._ms_update()
                        self._report(EV_NONE, end_text, s)
                        t = s
                        continue
                if s == end:
                    return t

            # text scan (hparser.c:1631-1654); note the C flow advances
            # past a lone ']' before rechecking for '<' -- kept as-is
            if self.ms:
                while s < end and doc[s] != "<":
                    # ms is rechecked per char (hparser.c:1638): the
                    # ]]> that empties the stack turns later ]]> runs
                    # back into plain text within the same scan
                    if doc[s] == "]" and self.ms:
                        end_text = s
                        s += 1
                        if s < end and doc[s] == "]":
                            s += 1
                            if s < end and doc[s] == ">":
                                s += 1
                                self._report(EV_TEXT, t, end_text)
                                if self.ms_stack:
                                    self.ms_stack.pop()
                                self._ms_update()
                                self._report(EV_NONE, end_text, s)
                                t = s
                                continue
                    s += 1
                # the lone-']'-at-EOF path advances one past end (the
                # C scan reads its NUL terminator there); clamp so the
                # boundary backscan below never indexes doc[end]
                if s > end:
                    s = end
            else:
                nxt = doc.find("<", s, end)
                s = nxt if nxt >= 0 else end

            # text boundary handling (hparser.c:1655-1679)
            if s != t:
                if s < end and doc[s] == "<":
                    self._report(EV_TEXT, t, s)
                    t = s
                else:
                    s -= 1
                    if doc[s] in HSPACE:
                        while s >= t and doc[s] in HSPACE:
                            s -= 1
                    else:
                        while s >= t and doc[s] not in HSPACE:
                            s -= 1
                        while s >= t and doc[s] in HSPACE:
                            s -= 1
                    s += 1
                    if s != t:
                        self._report(EV_TEXT, t, s)
                    return s

            if end - s < 3:
                return s

            # dispatch on char after '<' (hparser.c:1687-1700): the
            # compiled reference uses isHNAME_FIRST here — letters
            # plus '_' and ':' — not bare letters (mkpfunc's table is
            # the USE_PFUNC variant with [A-Za-z] only; the shipped
            # build takes the isHNAME_FIRST branch)
            s += 1
            c = doc[s]
            if c in _NAME_FIRST:
                new_pos = self._parse_start(t)
            elif c == "/":
                new_pos = self._parse_end(t)
            elif c == "!":
                new_pos = self._parse_decl(t)
            elif c == "?":
                new_pos = self._parse_process(t)
            else:
                new_pos = None

            if new_pos is not None:
                if new_pos == t:
                    return t  # premature: need more data (eof rules)
                t = s = new_pos
            # else: not a conforming tag -> plain text from s


def tokenize(doc: str, cfg: ParserConfig,
             emit_document_events: bool = False) -> list[tuple]:
    """Parse one complete document into its event list.

    Equivalent to ``$p->parse($doc)->eof`` on a fresh reference parser
    (`Parser.xs:373-437`, eof recovery `hparser.c:1738-1813`).
    """
    em = _Emitter(doc, cfg)
    p = _Parser(doc, cfg, em)
    if emit_document_events:
        em.report(EV_START_DOCUMENT, 0, 0, None, False)
    s = p.parse_buf(0)
    end = len(doc)

    # EOF recovery (hparser.c:1738-1801)
    while s < end:
        if p.literal_mode:
            lit = p.literal_mode
            if lit in ("plaintext", "xmp", "iframe", "textarea"):
                break  # rest is text
            if lit in ("script", "style"):
                # effectively make it an empty element
                em.report(EV_END, s, s, [lit], p.is_cdata, p.ms)
            else:
                em.pending_end_tag = lit
            p.literal_mode = None
            s = p.parse_buf(s)
            continue
        if (
            not cfg.strict_comment
            and not p.no_dash_dash_comment_end
            and doc[s] == "<"
        ):
            p.no_dash_dash_comment_end = True
            s = p.parse_buf(s)
            continue
        if not cfg.strict_comment and doc[s] == "<":
            s1 = s + 1
            if (
                s1 == end
                or _is_name_first(doc[s1], True)
                or doc[s1] in "/!?"
            ):
                # unterminated markup -> comment (hparser.c:1782-1792)
                em.report(EV_COMMENT, s, end, [(s + 1, end)],
                          p.is_cdata, p.ms)
                s = end
        break

    if s < end:
        em.report(EV_TEXT, s, end, None, p.is_cdata, p.ms)

    rows = em.finish(p.ms)
    if not emit_document_events and rows and rows[-1][0] == EV_END_DOCUMENT:
        rows.pop()
    return rows
