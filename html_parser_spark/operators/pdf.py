"""PDF text extraction: the north rule's "PDF/layout parse" tier —
a pure-stdlib PDF parser over opaque ``binary`` payloads, run through
the same ``arrow_map`` Arrow boundary as the image decode.

What is REAL here (all from the public PDF 1.7 spec, ISO 32000-1):

* object scan (``N 0 obj … endobj``), stream extraction with
  ``/FlateDecode`` (zlib) decompression;
* a content-stream tokenizer — literal strings with nesting + all
  escape forms (octal included), hex strings, arrays, numbers, names;
* the text-showing operators ``Tj ' " TJ`` and the text-positioning
  operators ``Td TD Tm T*`` with a y-tracking layout rule that
  renders line structure as newlines (vertical moves start a new
  line, pure-kerning TJ offsets do not);
* a page-tree walk (``/Root`` → ``/Pages`` → ``/Kids``, ISO 32000-1
  §7.7.3): page text is ordered by visual page order, each page's
  ``/Contents`` reference(s) resolved through the object map, and
  indirect stream lengths (``/Length N 0 R``) resolved to the
  referenced integer object. Files with no intact catalog fall back
  to object-id order over all content streams.
* ``/Type /ObjStm`` object streams (§7.5.7, the PDF 1.5+ packing
  that holds most non-stream objects in modern files): decoded
  through the same filter chains and expanded into the object map
  before the catalog/page walk (direct objects shadow packed ones).

* the simple non-image stream filters as CHAINS (``/Filter`` name or
  array, applied in order, §7.4): ``/FlateDecode``,
  ``/ASCIIHexDecode``, ``/ASCII85Decode``, ``/RunLengthDecode`` and
  ``/LZWDecode`` (TIFF-convention variable-width codes with the
  spec's EarlyChange=1 default);
* CID text: ``/Type0`` (composite) fonts with a ``/ToUnicode`` CMap
  (§9.10.3) — ``bfchar``/``bfrange`` (both the arithmetic and the
  array destination forms) are parsed from the (possibly filtered)
  CMap stream, the content machine tracks the active font across
  ``Tf``, and show-strings under a CID font decode as 2-byte codes
  through the map (UTF-16BE destinations); unmapped codes render
  U+FFFD, exactly one per code.

What is deployment scope (documented, same pattern as JPEG pixel
decode): image/codec filters (DCT/JBIG2/CCITT/JPX), sub-byte TIFF
differencing (PNG-family predictors >= 10 and the bpc=8 TIFF
predictor 2 ARE decoded, §7.4.4.3-4), CID
fonts carrying only a /CIDSystemInfo (no /ToUnicode — needs external
CMap files), and encrypted PDFs; the operator returns empty text for
such payloads instead of raising.
``synth_pdf_payloads`` builds COMPLETE valid PDFs (xref table with
true byte offsets, trailer, Flate/ASCII85/LZW content streams, a
Type0 font with an embedded ToUnicode CMap) so the driver oracle
verifies the whole parse chain against real bytes.
"""

from __future__ import annotations

import re
import struct
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from html_parser_spark.arrowmap import arrow_map, synth_payloads

PDF_TEXT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_pages", T.IntegerType()),
    T.StructField("pdf_text", T.StringType()),
])

# ------------------------------------------------------------- filters


def _ahx_decode(data: bytes) -> bytes | None:
    """/ASCIIHexDecode (§7.4.2): hex digits, whitespace ignored, '>'
    EOD, odd final digit padded with 0."""
    body = data.split(b">", 1)[0]
    hx = re.sub(rb"[^0-9a-fA-F]", b"", body)
    if len(hx) % 2:
        hx += b"0"
    try:
        return bytes.fromhex(hx.decode("ascii"))
    except ValueError:
        return None


def _a85_decode(data: bytes) -> bytes | None:
    """/ASCII85Decode (§7.4.3): base-85 groups of 5 chars -> 4 bytes,
    'z' = four zero bytes, '~>' EOD, partial final group."""
    body = data.split(b"~>", 1)[0]
    out = bytearray()
    group: list[int] = []
    for b in body:
        if b in b" \t\r\n\f\0":
            continue
        if b == 0x7A:  # 'z'
            if group:
                return None  # 'z' inside a group is malformed
            out += b"\0\0\0\0"
            continue
        if not 0x21 <= b <= 0x75:
            return None
        group.append(b - 0x21)
        if len(group) == 5:
            v = 0
            for g in group:
                v = v * 85 + g
            if v > 0xFFFFFFFF:
                return None
            out += v.to_bytes(4, "big")
            group = []
    if group:
        n = len(group)
        if n == 1:
            return None  # a single leftover char is undecodable
        v = 0
        for g in group + [84] * (5 - n):
            v = v * 85 + g
        out += v.to_bytes(4, "big")[:n - 1]
    return bytes(out)


def _rl_decode(data: bytes) -> bytes | None:
    """/RunLengthDecode (§7.4.5): length byte L<128 copies L+1
    literal bytes; L>128 repeats the next byte 257-L times; 128 is
    EOD."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        ln = data[i]
        i += 1
        if ln == 128:
            break
        if ln < 128:
            if i + ln + 1 > n:
                return None
            out += data[i:i + ln + 1]
            i += ln + 1
        else:
            if i >= n:
                return None
            out += bytes([data[i]]) * (257 - ln)
            i += 1
    return bytes(out)


def _lzw_decode(data: bytes, early: int = 1) -> bytes | None:
    """/LZWDecode (§7.4.4): TIFF-convention LZW — 9-bit codes
    growing at 511-early/1023-early/2047-early (the spec's
    /EarlyChange 1 default bumps the width ONE CODE EARLY), code 256
    = clear table, 257 = EOD."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    acc = nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:
                table = table[:258]
                width, prev = 9, None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    return None
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]  # the KwKwK case
                table.append(entry)
            else:
                return None
            out += entry
            prev = entry
            if len(table) + early >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


#: filter name -> decoder; None marks a recognized but unsupported
#: codec (image compression / crypt) so chains containing one
#: degrade to "no text" instead of emitting garbage
_FILTERS = {
    b"FlateDecode": lambda d: _zlib_inflate(d),
    b"Fl": lambda d: _zlib_inflate(d),
    b"ASCIIHexDecode": _ahx_decode, b"AHx": _ahx_decode,
    b"ASCII85Decode": _a85_decode, b"A85": _a85_decode,
    b"RunLengthDecode": _rl_decode, b"RL": _rl_decode,
    b"LZWDecode": _lzw_decode, b"LZW": _lzw_decode,
    b"DCTDecode": None, b"DCT": None, b"JPXDecode": None,
    b"JBIG2Decode": None, b"CCITTFaxDecode": None, b"CCF": None,
    b"Crypt": None,
}

_FILTER_RE = re.compile(
    rb"/Filter\s*(\[[^\]]*\]|/[A-Za-z0-9]+)")
_NAME_RE = re.compile(rb"/([A-Za-z0-9]+)")


def _zlib_inflate(data: bytes) -> bytes | None:
    try:
        return zlib.decompress(data)
    except zlib.error:
        return None


def _png_predictor(data: bytes, head: bytes) -> bytes | None:
    """Reverse PNG row prediction (/Predictor >= 10, §7.4.4.4): each
    row is one filter-type byte + Columns*Colors*BPC/8 data bytes,
    un-filtered exactly like PNG scanlines (None/Sub/Up/Average/
    Paeth). Used by real writers on Flate object/xref streams
    (Predictor 12 = Up is the common shape)."""
    def param(key: bytes, default: int) -> int:
        m = re.search(rb"/" + key + rb"\s+(\d+)", head)
        return int(m.group(1)) if m else default

    cols = param(b"Columns", 1)
    colors = param(b"Colors", 1)
    bpc = param(b"BitsPerComponent", 8)
    rowlen = (cols * colors * bpc + 7) // 8
    bpp = max(1, (colors * bpc) // 8)
    if rowlen <= 0 or len(data) % (rowlen + 1):
        return None
    out = bytearray()
    prev = bytearray(rowlen)
    for r in range(0, len(data), rowlen + 1):
        ft = data[r]
        line = bytearray(data[r + 1:r + 1 + rowlen])
        if ft == 1:    # Sub
            for i in range(bpp, rowlen):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(rowlen):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(rowlen):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(rowlen):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                line[i] = (line[i] + (a if pa <= pb and pa <= pc
                                      else b if pb <= pc else c)) \
                    & 0xFF
        elif ft != 0:
            return None
        out += line
        prev = line
    return bytes(out)


def _tiff_predictor(data: bytes, head: bytes) -> bytes | None:
    """Reverse TIFF Predictor 2 (§7.4.4.3, TIFF 6.0 horizontal
    differencing): rows are Columns samples of Colors components
    (no per-row filter-type byte, unlike the PNG family); each
    component adds the previous sample's same component,
    ``s[i] += s[i - Colors]``. Only BitsPerComponent=8 is decoded —
    sub-byte differencing (bpc 1/2/4) needs a bit-level walk no
    mainstream writer emits with Predictor 2, so it stays scope."""
    def param(key: bytes, default: int) -> int:
        m = re.search(rb"/" + key + rb"\s+(\d+)", head)
        return int(m.group(1)) if m else default

    cols = param(b"Columns", 1)
    colors = param(b"Colors", 1)
    if param(b"BitsPerComponent", 8) != 8:
        return None
    rowlen = cols * colors
    if rowlen <= 0 or len(data) % rowlen:
        return None
    out = bytearray(data)
    for r in range(0, len(out), rowlen):
        for i in range(colors, rowlen):
            out[r + i] = (out[r + i] + out[r + i - colors]) & 0xFF
    return bytes(out)


def _decodeparms_chunks(head: bytes, nfilters: int) -> \
        list[bytes] | None:
    """Per-stage /DecodeParms dict bodies, PARALLEL to the /Filter
    array (§7.4.1 — entry i parameterizes filter i). Returns one
    bytes chunk per filter stage (b"" = null/absent), or None when
    the value is unreadable (indirect reference, truncated dict) —
    unreadable params could hide a predictor, so the caller must
    degrade to scope rather than guess."""
    m = re.search(rb"/(?:DecodeParms|DP)\b", head)
    if not m:
        return [b""] * nfilters

    def skip_ws(i: int) -> int:
        while i < len(head) and head[i:i + 1] in b" \t\r\n\f\0":
            i += 1
        return i

    def read_one(i: int) -> tuple[bytes | None, int]:
        i = skip_ws(i)
        if head[i:i + 2] == b"<<":
            depth, j = 0, i
            while j < len(head):
                if head[j:j + 2] == b"<<":
                    depth += 1
                    j += 2
                elif head[j:j + 2] == b">>":
                    depth -= 1
                    j += 2
                    if depth == 0:
                        return head[i:j], j
                else:
                    j += 1
            return None, j          # unbalanced: unreadable
        if head[i:i + 4] == b"null":
            return b"", i + 4
        return None, i              # indirect ref / unknown form

    i = skip_ws(m.end())
    if head[i:i + 1] != b"[":
        chunk, _ = read_one(i)
        if chunk is None:
            return None
        return [chunk] + [b""] * max(0, nfilters - 1)
    parts: list[bytes] = []
    j = i + 1
    while True:
        j = skip_ws(j)
        if j >= len(head):
            return None             # unterminated array
        if head[j:j + 1] == b"]":
            break
        chunk, j2 = read_one(j)
        if chunk is None or j2 == j:
            return None
        parts.append(chunk)
        j = j2
    while len(parts) < nfilters:
        parts.append(b"")           # short array: trailing nulls
    return parts


def _apply_filters(data: bytes, head: bytes) -> bytes | None:
    """Apply the stream's /Filter chain (name or array, in array
    order, §7.4.1). /DecodeParms is an array PARALLEL to the filter
    array: each stage's PNG-family /Predictor is un-applied to THAT
    stage's output, not once after the whole chain — a chain like
    ``/Filter [/FlateDecode /RunLengthDecode] /DecodeParms
    [<< /Predictor 12 /Columns 4 >> null]`` predicts the Flate
    output before RunLength sees it. Returns None when any stage is
    unsupported or malformed. PNG-family predictors (>= 10) and the
    TIFF predictor (2, bpc=8) are both decoded; sub-byte TIFF
    differencing stays deployment scope."""
    mf = _FILTER_RE.search(head)
    if not mf:
        # a /Filter key whose value the regex can't read (indirect
        # ref, nested dict) is unsupported, not "no filter"
        return None if re.search(rb"/Filter\b", head) else data
    names = _NAME_RE.findall(mf.group(1))
    parms = _decodeparms_chunks(head, len(names))
    if parms is None:
        return None  # indirect/unreadable params could hide a
        #              predictor: scope
    for name, parm in zip(names, parms):
        dec = _FILTERS.get(name, None)
        if name not in _FILTERS or dec is None:
            return None
        data = dec(data)
        if data is None:
            return None
        mp = re.search(rb"/Predictor\s+(\d+)", parm)
        pred = int(mp.group(1)) if mp else 1
        if pred == 2:
            data = _tiff_predictor(data, parm)
        elif pred >= 10:
            data = _png_predictor(data, parm)
        elif pred != 1:
            return None  # 3..9 are not predictors (§7.4.4.1)
        if data is None:
            return None
    return data


# ------------------------------------------------- CID / ToUnicode

_HEX_TOK_RE = re.compile(r"<([0-9a-fA-F \t\r\n]+)>")


def _u16(hex_s: str) -> str:
    """UTF-16BE destination string from a CMap hex token (§9.10.3)."""
    hx = re.sub(r"\s", "", hex_s)
    if len(hx) % 2:
        hx += "0"
    return bytes.fromhex(hx).decode("utf-16-be", errors="replace")


def _scan_cmap_tokens(body: str) -> list[tuple[str, object]]:
    """Sequential token scan of a bfchar/bfrange body: hex strings
    ('h', digits) and array operands ('a', [digits, ...]). A
    sequential scan — not a triple-matching regex — because the
    arithmetic form <lo> <hi> <dst> and the array form
    <lo> <hi> [<d1> ...] interleave freely and a regex for one
    happily eats the operands of the other."""
    toks: list[tuple[str, object]] = []
    i, n = 0, len(body)
    while i < n:
        c = body[i]
        if c == "<":
            j = body.find(">", i)
            if j < 0:
                break
            toks.append(("h", body[i + 1:j]))
            i = j + 1
        elif c == "[":
            j = body.find("]", i)
            if j < 0:
                break
            toks.append(("a", _HEX_TOK_RE.findall(body[i:j])))
            i = j + 1
        else:
            i += 1
    return toks


def _parse_tounicode(data: bytes) -> dict[int, str]:
    """Parse a /ToUnicode CMap stream (ISO 32000-1 §9.10.3) into
    code -> unicode string: bfchar pairs, bfrange in both the
    arithmetic form (<lo> <hi> <dstBase>, destination incremented
    per code) and the array form (<lo> <hi> [<d0> <d1> ...])."""
    s = data.decode("latin-1")
    cmap: dict[int, str] = {}
    for m in re.finditer(r"beginbfchar(.*?)endbfchar", s, re.S):
        toks = _scan_cmap_tokens(m.group(1))
        for k in range(0, len(toks) - 1, 2):
            src, dst = toks[k], toks[k + 1]
            if src[0] == "h" and dst[0] == "h":
                try:
                    cmap[int(src[1], 16)] = _u16(dst[1])
                except ValueError:
                    continue
    for m in re.finditer(r"beginbfrange(.*?)endbfrange", s, re.S):
        toks = _scan_cmap_tokens(m.group(1))
        for k in range(0, len(toks) - 2, 3):
            lo_t, hi_t, dst = toks[k], toks[k + 1], toks[k + 2]
            if lo_t[0] != "h" or hi_t[0] != "h":
                continue
            try:
                lo, hi = int(lo_t[1], 16), int(hi_t[1], 16)
            except ValueError:
                continue
            if hi < lo or hi - lo > 0xFFFF:
                continue  # malformed / absurd range: skip, don't blow up
            if dst[0] == "a":
                for j, dh in enumerate(dst[1]):
                    if lo + j <= hi:
                        cmap[lo + j] = _u16(dh)
            else:
                hx = re.sub(r"\s", "", str(dst[1]))
                try:
                    base = int(hx, 16)
                except ValueError:
                    continue
                w = len(hx) + len(hx) % 2
                for j in range(hi - lo + 1):
                    cmap[lo + j] = _u16(format(base + j, f"0{w}x"))
    return cmap


def _cid_decode(raw: str, cmap: dict[int, str]) -> str:
    """Decode a show-string under a /Type0 font: 2-byte codes (the
    Identity-H convention) through the ToUnicode map; unmapped codes
    (and a trailing odd byte) render U+FFFD, exactly one per code."""
    b = raw.encode("latin-1")
    out = [cmap.get((b[k] << 8) | b[k + 1], "�")
           for k in range(0, len(b) - 1, 2)]
    if len(b) % 2:
        out.append("�")
    return "".join(out)


def _dict_after(b: bytes, key: bytes) -> bytes | None:
    """The balanced ``<< ... >>`` dict immediately following ``key``,
    or None when the key is absent or its value is not an inline
    dict (e.g. an indirect reference)."""
    m = re.search(re.escape(key) + rb"\s*<<", b)
    if not m:
        return None
    i = m.end() - 2
    depth, j, n = 0, m.end() - 2, len(b)
    while j < n - 1:
        two = b[j:j + 2]
        if two == b"<<":
            depth += 1
            j += 2
        elif two == b">>":
            depth -= 1
            j += 2
            if depth == 0:
                return b[i:j]
        else:
            j += 1
    return None


def _font_cmap(objects: dict[int, bytes], fid: int) -> dict | None:
    """ToUnicode map for font object ``fid``; None for simple
    (non-Type0) fonts — their show-strings pass through byte-wise.
    A Type0 font WITHOUT /ToUnicode (CIDSystemInfo-only, needs
    external CMap files — deployment scope) gets an empty map, so
    every code renders U+FFFD rather than binary garbage."""
    body = objects.get(fid)
    if body is None:
        return None
    head = body.split(b"stream", 1)[0]
    if not re.search(rb"/Subtype\s*/Type0\b", head):
        return None
    mu = re.search(rb"/ToUnicode\s+(\d+)\s+\d+\s+R", head)
    if not mu:
        return {}
    data = _object_stream_data(objects, int(mu.group(1)))
    if data is None:
        return {}
    return _parse_tounicode(data)


def _page_fonts(objects: dict[int, bytes], head: bytes,
                cache: dict[int, dict | None]) -> dict[str, dict | None]:
    """Resolve a page's /Resources -> /Font dict (inline or indirect
    at either level, §7.8.3) to {font name: ToUnicode map or None}.
    Inheritable /Resources from ancestor /Pages nodes is deployment
    scope (fixtures and the common web-PDF shape carry per-page
    resources)."""
    res = _dict_after(head, b"/Resources")
    if res is None:
        mr = re.search(rb"/Resources\s+(\d+)\s+\d+\s+R", head)
        if not mr:
            return {}
        res = objects.get(int(mr.group(1)), b"")
    fnt = _dict_after(res, b"/Font")
    if fnt is None:
        mf = re.search(rb"/Font\s+(\d+)\s+\d+\s+R", res)
        if not mf:
            return {}
        fnt = objects.get(int(mf.group(1)), b"")
    fonts: dict[str, dict | None] = {}
    for mm in re.finditer(rb"/([^\s/<>\[\]()]+)\s+(\d+)\s+\d+\s+R", fnt):
        fid = int(mm.group(2))
        if fid not in cache:
            cache[fid] = _font_cmap(objects, fid)
        fonts[mm.group(1).decode("latin-1")] = cache[fid]
    return fonts


# ---------------------------------------------------- fixture encoders


def _a85_encode(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 4):
        chunk = data[i:i + 4]
        pad = 4 - len(chunk)
        v = int.from_bytes(chunk + b"\0" * pad, "big")
        if v == 0 and pad == 0:
            out += b"z"
            continue
        digits = bytearray(5)
        for j in range(4, -1, -1):
            digits[j] = 0x21 + v % 85
            v //= 85
        out += digits[:5 - pad]
    return bytes(out) + b"~>"


def _lzw_encode(data: bytes, early: int = 1) -> bytes:
    """Minimal greedy LZW encoder for fixtures. Code WIDTH switching
    is driven by an explicit simulation of ``_lzw_decode``'s table
    growth (the decoder learns each new entry one code LATER than the
    encoder assigns it — the classic LZW lag — so re-deriving the
    switch point from the encoder's own ``next_code`` lands one code
    off; simulating ``dec_len`` makes the two sides agree by
    construction)."""
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258       # encoder's next table index
    dec_len = 258         # the DECODER's table length after the code
    first = True          # first data code since a clear (no append)
    width = 9
    acc = nbits = 0
    out = bytearray()

    def put(code: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    def emit(code: int) -> None:
        """Emit a data code, then advance the simulated decoder: it
        appends one entry per data code after the first, and bumps
        its width via the same (len + early >= 2**width) rule the
        real decoder applies AFTER the append."""
        nonlocal dec_len, first, width
        put(code)
        if first:
            first = False
        else:
            dec_len += 1
            if dec_len + early >= (1 << width) and width < 12:
                width += 1

    put(256)
    w = b""
    for byte in data:
        c = bytes([byte])
        if w + c in table:
            w += c
            continue
        emit(table[w])
        if next_code + early >= (1 << 12):
            # table full at the 12-bit cap: emit Clear and restart
            # (the decoder resets width/table/prev on 256)
            put(256)
            table = {bytes([i]): i for i in range(256)}
            next_code, dec_len, width = 258, 258, 9
            first = True
        else:
            table[w + c] = next_code
            next_code += 1
        w = c
    if w:
        emit(table[w])
    put(257)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _ahx_encode(data: bytes) -> bytes:
    return data.hex().encode("ascii") + b">"


def _rl_encode(data: bytes) -> bytes:
    """Literal-runs-only RunLength encoder (valid per §7.4.5: any
    split into length-prefixed literal blocks decodes identically)."""
    out = bytearray()
    for i in range(0, len(data), 128):
        chunk = data[i:i + 128]
        out.append(len(chunk) - 1)
        out += chunk
    out.append(128)  # EOD
    return bytes(out)


# ------------------------------------------------------------ fixtures


#: the ToUnicode CMap embedded in every fixture's Type0 font:
#: bfchar (incl. a two-code-unit "ff" destination), arithmetic
#: bfrange (digits, A-Z), and array-form bfrange ([, #, ])
_FIXTURE_CMAP = (b"/CIDInit /ProcSet findresource begin\n"
                 b"12 dict begin\nbegincmap\n"
                 b"/CMapName /Synth-UCS def\n/CMapType 2 def\n"
                 b"1 begincodespacerange\n<0000> <FFFF>\n"
                 b"endcodespacerange\n"
                 b"2 beginbfchar\n<0020> <0020>\n<0200> <00660066>\n"
                 b"endbfchar\n"
                 b"3 beginbfrange\n"
                 b"<0030> <0039> <0030>\n"
                 b"<0041> <005A> <0041>\n"
                 b"<0100> <0102> [<005B> <0023> <005D>]\n"
                 b"endbfrange\nendcmap\n"
                 b"CMapName currentdict /CMap defineresource pop\n"
                 b"end\nend")


def _synth_pdf(doc_id: int) -> bytes:
    """A complete, valid 3-page PDF 1.4: catalog, page tree, content
    streams exercising Tj/TJ/'/T*/Td/TD/Tm, escape sequences, and hex
    strings; real xref offsets + trailer. Page 2's stream filter
    ROTATES by doc_id (Flate + TIFF-Predictor-2 DecodeParms /
    ASCII85 / LZW / [AHx RL] chain) so a corpus of fixtures exercises
    every supported decoder against real bytes while the decoded
    text — and so the driver oracle — stays closed-form. Page 3 shows CID codes under a /Type0 font whose
    Flate-compressed ToUnicode CMap uses bfchar + both bfrange forms,
    plus one unmapped code (renders U+FFFD)."""
    d = str(doc_id)
    hex_tail = ("hex " + d).encode("latin-1").hex()
    content1 = (
        f"BT /F1 12 Tf 72 720 Td (Hello doc {d} \\(escaped\\)) Tj "
        f"0 -14 TD (second line {d}) Tj T* (third line) Tj ET\n"
        f"BT 1 0 0 1 72 600 Tm [(frag) -250 (mented )] TJ "
        f"<{hex_tail}> Tj ET"
    ).encode("latin-1")
    content2 = f"BT 72 720 Td (page two of {d}) Tj ET".encode("latin-1")
    variant = doc_id % 4
    if variant == 0:
        # Flate + TIFF Predictor 2 as one Columns=len row (Colors=1
        # differencing = successive byte deltas), the length-agnostic
        # shape — so the fixture corpus also drives the TIFF arm
        diffed = bytes([content2[0]]) + bytes(
            (content2[i] - content2[i - 1]) & 0xFF
            for i in range(1, len(content2)))
        f2 = (b"/Filter /FlateDecode /DecodeParms << /Predictor 2"
              b" /Columns " + str(len(content2)).encode() + b" >>")
        enc2 = zlib.compress(diffed)
    elif variant == 1:
        f2, enc2 = b"/Filter /ASCII85Decode", _a85_encode(content2)
    elif variant == 2:
        f2, enc2 = b"/Filter /LZWDecode", _lzw_encode(content2)
    else:  # decode order AHx then RL => encode RL first, hex last
        f2 = b"/Filter [ /ASCIIHexDecode /RunLengthDecode ]"
        enc2 = _ahx_encode(_rl_encode(content2))

    codes = ([ord(c) for c in f"CID PAGE {d} "]
             + [0x0100, 0x0101, 0x0102, 0x0020, 0x0200, 0x0999])
    cid_hex = "".join(f"{c:04X}" for c in codes)
    content3 = (f"BT /F9 12 Tf 72 700 Td <{cid_hex}> Tj ET"
                ).encode("latin-1")

    objs: list[bytes] = []
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(b"<< /Type /Pages /Kids [3 0 R 5 0 R 7 0 R] "
                b"/Count 3 >>")
    objs.append(b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
                b"/MediaBox [0 0 612 792] >>")
    z1 = zlib.compress(content1)
    objs.append(b"<< /Length " + str(len(z1)).encode()
                + b" /Filter /FlateDecode >>\nstream\n" + z1
                + b"\nendstream")
    objs.append(b"<< /Type /Page /Parent 2 0 R /Contents 6 0 R "
                b"/MediaBox [0 0 612 792] >>")
    objs.append(b"<< /Length " + str(len(enc2)).encode()
                + b" " + f2 + b" >>\nstream\n" + enc2
                + b"\nendstream")
    objs.append(b"<< /Type /Page /Parent 2 0 R /Contents 10 0 R "
                b"/Resources << /Font << /F9 8 0 R >> >> "
                b"/MediaBox [0 0 612 792] >>")
    objs.append(b"<< /Type /Font /Subtype /Type0 "
                b"/BaseFont /Synth-Identity /Encoding /Identity-H "
                b"/ToUnicode 9 0 R >>")
    zc = zlib.compress(_FIXTURE_CMAP)
    objs.append(b"<< /Length " + str(len(zc)).encode()
                + b" /Filter /FlateDecode >>\nstream\n" + zc
                + b"\nendstream")
    z3 = zlib.compress(content3)
    objs.append(b"<< /Length " + str(len(z3)).encode()
                + b" /Filter /FlateDecode >>\nstream\n" + z3
                + b"\nendstream")

    by_id: dict[int, bytes] = {i: b for i, b in enumerate(objs, 1)}

    if doc_id % 3 == 1:
        # ObjStm variant (every 3rd doc): pack ALL dict-only objects
        # — catalog, the three page dicts, the Type0 font — into one
        # Flate-compressed /Type /ObjStm (§7.5.7), the way PDF 1.5+
        # writers ship them. Streams stay direct (forbidden inside an
        # ObjStm). The classic xref below lists packed ids as free
        # entries, approximating the type-2 xref-stream entries our
        # parser never reads anyway.
        packed_ids = [1, 3, 5, 7, 8]
        bodies = [by_id.pop(i) for i in packed_ids]
        offs: list[int] = []
        payload_parts: list[bytes] = []
        pos = 0
        for b in bodies:
            offs.append(pos)
            payload_parts.append(b + b"\n")
            pos += len(b) + 1
        header = " ".join(f"{i} {o}" for i, o in
                          zip(packed_ids, offs)).encode() + b"\n"
        zs = zlib.compress(header + b"".join(payload_parts))
        by_id[11] = (b"<< /Type /ObjStm /N " + str(len(offs)).encode()
                     + b" /First " + str(len(header)).encode()
                     + b" /Length " + str(len(zs)).encode()
                     + b" /Filter /FlateDecode >>\nstream\n" + zs
                     + b"\nendstream")

    out = bytearray(b"%PDF-1.4\n")
    offsets: dict[int, int] = {}
    for i in sorted(by_id):
        offsets[i] = len(out)
        out += f"{i} 0 obj\n".encode() + by_id[i] + b"\nendobj\n"
    xref_pos = len(out)
    max_id = max(by_id)
    out += f"xref\n0 {max_id + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for i in range(1, max_id + 1):
        if i in offsets:
            out += f"{offsets[i]:010d} 00000 n \n".encode()
        else:
            out += b"0000000000 65535 f \n"
    out += (b"trailer\n<< /Size " + str(max_id + 1).encode()
            + b" /Root 1 0 R >>\nstartxref\n"
            + str(xref_pos).encode() + b"\n%%EOF\n")
    return bytes(out)


def synth_pdf_payloads(df: DataFrame,
                       key_col: str = "doc_id") -> DataFrame:
    """(doc_id, payload binary) of deterministic complete PDFs."""
    return synth_payloads(df, key_col, _synth_pdf)


# ------------------------------------------------------------- parsing

_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b(.*?)endobj", re.S)
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.S)

_ESCAPES = {"n": "\n", "r": "\r", "t": "\t", "b": "\b", "f": "\f",
            "(": "(", ")": ")", "\\": "\\"}

_WS = " \t\r\n\f\0"
_DELIM = "()<>[]{}/%"


def _parse_literal_string(s: str, i: int) -> tuple[str, int]:
    """PDF literal string after the opening '(' — balanced parens,
    backslash escapes incl. octal (spec §7.3.4.2)."""
    out = []
    depth = 1
    n = len(s)
    while i < n:
        c = s[i]
        if c == "\\":
            i += 1
            if i >= n:
                break
            e = s[i]
            if e in _ESCAPES:
                out.append(_ESCAPES[e])
                i += 1
            elif e in "01234567":
                # octal means 0-7 only: str.isdigit also accepts 8/9
                # (and Unicode digits), whose int(., 8) ValueError
                # would escape to the whole-file except and silently
                # drop the document's entire text
                oct_s = e
                i += 1
                while i < n and s[i] in "01234567" and len(oct_s) < 3:
                    oct_s += s[i]
                    i += 1
                out.append(chr(int(oct_s, 8) & 0xFF))
            elif e == "\n" or e == "\r":
                # line continuation: backslash + ANY EOL marker (CR,
                # LF, or CRLF) is disregarded (ISO 32000-1 7.3.4.2)
                i += 1
                if e == "\r" and i < n and s[i] == "\n":
                    i += 1
            else:
                out.append(e)
                i += 1
        elif c == "(":
            depth += 1
            out.append(c)
            i += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return "".join(out), i + 1
            out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    return "".join(out), i


def _content_text(stream: bytes,
                  fonts: dict[str, dict | None] | None = None) -> str:
    """Run the text-showing/positioning subset of the content-stream
    operator machine; returns the laid-out text (newlines at vertical
    moves / T* / new text objects). ``fonts`` maps resource font
    names to ToUnicode maps (from ``_page_fonts``): ``Tf`` switches
    the active font, and show-strings under a /Type0 font decode as
    2-byte codes through its map. Font state persists across BT/ET —
    Tf is text STATE, not text-object state (§9.3.1)."""
    s = stream.decode("latin-1")
    out: list[str] = []
    stack: list = []   # operands: ('s', text) strings, floats, arrays
    cur_y: float | None = None
    in_array: list | None = None
    cur_cmap: dict[int, str] | None = None  # active font's CID map

    def emit(txt: str) -> None:
        out.append(_cid_decode(txt, cur_cmap)
                   if cur_cmap is not None else txt)

    def newline() -> None:
        if out and not out[-1].endswith("\n"):
            out.append("\n")

    def pop_str():
        for v in reversed(stack):
            if isinstance(v, tuple) and v[0] == "s":
                return v[1]
        return None

    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c in _WS:
            i += 1
            continue
        if c == "%":          # comment to EOL
            j = s.find("\n", i)
            i = n if j < 0 else j + 1
            continue
        target = in_array if in_array is not None else stack
        if c == "(":
            val, i = _parse_literal_string(s, i + 1)
            target.append(("s", val))
            continue
        if c == "<" and i + 1 < n and s[i + 1] == "<":
            i += 2  # dict markers carry no text; operands inside are
            continue  # consumed as ordinary tokens
        if c == ">" and i + 1 < n and s[i + 1] == ">":
            i += 2
            continue
        if c == "<":
            j = s.find(">", i)
            if j < 0:
                break
            # spec-valid hex strings hold hex digits + whitespace;
            # drop anything else so corrupt bytes degrade instead of
            # raising (fromhex rejects the whole string otherwise)
            hx = re.sub(r"[^0-9a-fA-F]", "", s[i + 1:j])
            if len(hx) % 2:
                hx += "0"
            target.append(("s", bytes.fromhex(hx).decode("latin-1")))
            i = j + 1
            continue
        if c == "[":
            in_array = []
            i += 1
            continue
        if c == "]":
            stack.append(in_array or [])
            in_array = None
            i += 1
            continue
        if c == "/":
            j = i + 1
            while j < n and s[j] not in _WS and s[j] not in _DELIM:
                j += 1
            target.append(("n", s[i + 1:j]))
            i = j
            continue
        if c in "+-.0123456789":
            j = i + 1
            while j < n and (s[j].isdigit() or s[j] == "."):
                j += 1
            try:
                target.append(float(s[i:j]))
            except ValueError:
                pass
            i = j
            continue
        # operator: run of regular characters (plus ' " *)
        j = i
        while j < n and s[j] not in _WS and s[j] not in _DELIM:
            j += 1
        if j == i:       # stray delimiter (unbalanced ')', '{', …):
            i += 1       # consume it or the scan would never advance
            continue
        op = s[i:j]
        i = j
        if op == "Tj":
            v = pop_str()
            if v is not None:
                emit(v)
        elif op == "'":
            newline()
            v = pop_str()
            if v is not None:
                emit(v)
        elif op == '"':
            newline()
            v = pop_str()
            if v is not None:
                emit(v)
        elif op == "TJ":
            arr = stack[-1] if stack and isinstance(stack[-1], list) \
                else []
            # each array string is shown separately (§9.4.3): decode
            # per element so CID code boundaries never straddle a
            # kerning split
            for v in arr:
                if isinstance(v, tuple) and v[0] == "s":
                    emit(v[1])
        elif op == "Tf":
            for v in reversed(stack):
                if isinstance(v, tuple) and v[0] == "n":
                    cur_cmap = (fonts or {}).get(v[1])
                    break
        elif op in ("Td", "TD"):
            if len(stack) >= 2 and isinstance(stack[-1], float):
                ty = stack[-1]
                if ty != 0 and out:
                    newline()
                if cur_y is not None:
                    cur_y += ty
        elif op == "Tm":
            if len(stack) >= 6 and isinstance(stack[-1], float):
                y = stack[-1]
                if cur_y is not None and y != cur_y:
                    newline()
                cur_y = y
        elif op == "T*":
            newline()
        elif op == "BT":
            newline()
            cur_y = None
        stack.clear()
    return "".join(out)


_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R\b")


def _object_stream_data(objects: dict[int, bytes],
                        obj_id: int) -> bytes | None:
    """Decode one object's stream to raw bytes (through its /Filter
    chain), or None when the object has no usable stream.

    Stream extent (spec §7.3.8.2): slice exactly /Length bytes when
    the dict gives a direct length — the EOL-delimited fallback
    mis-parses streams whose DATA ends in 0x0D (the optional CR
    before 'endstream' swallows a real data byte and the inflate
    fails; hit by ~1/256 of Flate payloads, caught by the sf0.1
    oracle sweep). An indirect /Length N 0 R is resolved to the
    referenced integer object via the object map; only when that
    object is missing does the EOL-delimited regex fallback run.
    (?!\\d) makes the direct-length digit run atomic: without it
    '/Length 60 0 R' backtracks to group '6' and the
    '(?!\\s+\\d+\\s+R)' lookahead passes, slicing the stream to a
    bogus 6-byte length instead of resolving the reference."""
    body = objects.get(obj_id)
    if body is None:
        return None
    head = body.split(b"stream", 1)[0]
    sb = re.search(rb"stream\r?\n", body)
    if not sb:
        return None
    mlen = re.search(rb"/Length\s+(\d+)(?!\d)(?!\s+\d+\s+R)", head)
    length: int | None = int(mlen.group(1)) if mlen else None
    if length is None:
        mref = re.search(rb"/Length\s+(\d+)\s+\d+\s+R", head)
        if mref:
            ref_body = objects.get(int(mref.group(1)))
            if ref_body is not None:
                mnum = re.match(rb"\s*(\d+)", ref_body)
                if mnum:
                    length = int(mnum.group(1))
    if length is not None:
        data = body[sb.end():sb.end() + length]
    else:  # no resolvable /Length: EOL-delimited fallback
        sm = _STREAM_RE.search(body)
        if not sm:
            return None
        data = sm.group(1)
    return _apply_filters(data, head)


def _object_stream_text(objects: dict[int, bytes], obj_id: int,
                        fonts: dict[str, dict | None] | None = None,
                        ) -> str | None:
    data = _object_stream_data(objects, obj_id)
    if data is None:
        return None
    return _content_text(data, fonts)


def _expand_object_streams(objects: dict[int, bytes],
                           positions: dict[int, int] | None = None,
                           ) -> None:
    """Unpack /Type /ObjStm object streams (ISO 32000-1 §7.5.7 —
    PDF 1.5+ packs most non-stream objects into these) into the
    object map: the decoded stream holds N (objnum, offset) integer
    pairs before /First, then the object bodies back to back.

    Shadowing approximation (we do not parse the xref chain): a
    DIRECTLY scanned object with the same id wins over a packed one —
    an incremental update that appends a revised direct object
    correctly shadows the packed original; the rarer inverse (a
    revision repacked into a new ObjStm while the stale direct body
    remains) resolves to the stale copy.

    ``positions`` (object id -> file offset, filled by the caller
    for directly scanned objects) is extended with each packed
    object's position = its CONTAINER's file offset, so "last in
    file order wins" rules (catalog selection) see packed objects at
    the place their ObjStm sits in the file — not appended after
    every direct object, which would let a stale packed catalog
    outrank a newer direct one appended by an incremental update."""
    for oid in list(objects):
        head = objects[oid].split(b"stream", 1)[0]
        if not re.search(rb"/Type\s*/ObjStm\b", head):
            continue
        mn = re.search(rb"/N\s+(\d+)", head)
        mf = re.search(rb"/First\s+(\d+)", head)
        data = _object_stream_data(objects, oid)
        if not (mn and mf) or data is None:
            continue
        n_, first = int(mn.group(1)), int(mf.group(1))
        try:
            ints = data[:first].split()
            pairs = [(int(ints[2 * i]), int(ints[2 * i + 1]))
                     for i in range(n_)]
        except (ValueError, IndexError):
            continue
        for i, (num, off) in enumerate(pairs):
            end = pairs[i + 1][1] if i + 1 < n_ else len(data) - first
            if num not in objects:
                objects[num] = data[first + off:first + end]
                if positions is not None:
                    positions[num] = positions.get(oid, 0)


def _walk_page_tree(objects: dict[int, bytes], root: int) -> list[int]:
    """Iterative /Kids walk from the /Pages root (spec §7.7.3):
    returns leaf /Type /Page object ids in visual page order.
    Explicit stack (no recursion) so a deep or degenerate tree can't
    blow the interpreter stack; a seen-set guards reference cycles."""
    order: list[int] = []
    seen: set[int] = set()
    stack = [root]
    while stack:
        oid = stack.pop()
        if oid in seen:
            continue
        seen.add(oid)
        body = objects.get(oid)
        if body is None:
            continue
        head = body.split(b"stream", 1)[0]
        if re.search(rb"/Type\s*/Page\b(?!s)", head):
            order.append(oid)
            continue
        mk = re.search(rb"/Kids\s*\[(.*?)\]", head, re.S)
        if mk:
            kids = [int(r.group(1))
                    for r in _REF_RE.finditer(mk.group(1))]
            stack.extend(reversed(kids))  # preserve /Kids order
    return order


def extract_pdf_text_bytes(payload: bytes) -> tuple[int, str]:
    """Whole-file parse: (n_pages, text). Never raises.

    Pages come from the catalog's page tree (/Root → /Pages → /Kids,
    spec §7.7.3) walked in /Kids order, so multi-page text follows
    VISUAL page order even when content-stream object ids are
    shuffled relative to it; each page's /Contents (single reference
    or array of references — an array's streams concatenate into one
    logical stream, §7.8.2) is resolved through the object map.
    Streams are inflated when /FlateDecode, taken raw when
    unfiltered, skipped (empty text) for unsupported filters.

    Files with no intact catalog/page tree (linearized fragments,
    truncation) fall back to the previous behavior: count
    /Type /Page objects and emit every content stream's text in
    object-id order. Duplicate object ids (incremental updates,
    §7.5.6) resolve last-wins — the appended newer version shadows
    the original, approximating the xref chain without parsing it."""
    try:
        objects: dict[int, bytes] = {}
        positions: dict[int, int] = {}
        for m in _OBJ_RE.finditer(payload):
            objects[int(m.group(1))] = m.group(2)
            positions[int(m.group(1))] = m.start()
        _expand_object_streams(objects, positions)

        # LAST catalog in FILE order wins: an incremental update
        # (§7.5.6) may append the revised catalog under a NEW object
        # id, which duplicate-id shadowing alone would not see —
        # taking the last one approximates the xref chain for new
        # ids exactly as dict overwrite does for reused ids. File
        # order, not dict-iteration order: ObjStm expansion appends
        # packed objects after every direct object, so iteration
        # order would let a stale packed catalog outrank a newer
        # direct one — positions anchor packed objects at their
        # container's offset instead.
        root = None
        best_pos = -1
        for oid, body in objects.items():
            head = body.split(b"stream", 1)[0]
            if re.search(rb"/Type\s*/Catalog\b", head):
                mp = re.search(rb"/Pages\s+(\d+)\s+\d+\s+R", head)
                if mp and positions.get(oid, 0) >= best_pos:
                    root = int(mp.group(1))
                    best_pos = positions.get(oid, 0)

        page_ids = _walk_page_tree(objects, root) \
            if root is not None else []
        if page_ids:
            texts: list[str] = []
            font_cache: dict[int, dict | None] = {}
            for pid in page_ids:
                head = objects[pid].split(b"stream", 1)[0]
                fonts = _page_fonts(objects, head, font_cache)
                mc = re.search(
                    rb"/Contents\s*(\[[^\]]*\]|\d+\s+\d+\s+R)", head)
                if not mc:
                    continue
                cref = mc.group(1)
                if not cref.lstrip().startswith(b"["):
                    # a single indirect /Contents may point at the
                    # stream itself OR at an object holding an ARRAY
                    # of stream refs (both legal, §7.7.3.3); follow
                    # one level into the array form
                    rid = int(_REF_RE.search(cref).group(1))
                    tgt = objects.get(rid, b"")
                    if b"stream" not in tgt:
                        marr = re.search(rb"\[(.*?)\]", tgt, re.S)
                        if marr:
                            cref = marr.group(1)
                # An array's streams form ONE logical content stream
                # (§7.8.2): concatenate the decoded BYTES and run the
                # operator machine once per page, so graphics/text
                # state (Tf font selection, the active CID map) set
                # in one part governs show-strings in a later part.
                # Parts may split between any two lexical tokens, so
                # a newline separator keeps adjacent tokens distinct.
                parts = [d for r in _REF_RE.finditer(cref)
                         if (d := _object_stream_data(
                             objects, int(r.group(1))))
                         is not None]
                if parts:
                    texts.append(_content_text(b"\n".join(parts),
                                               fonts))
            joined = "\n".join(t.strip("\n") for t in texts
                               if t.strip())
            return len(page_ids), joined

        # Fallback: no page tree. Count /Type /Page objects; emit all
        # content streams' text in object-id order.
        n_pages = 0
        id_texts: list[tuple[int, str]] = []
        for oid, body in objects.items():
            head = body.split(b"stream", 1)[0]
            if re.search(rb"/Type\s*/Page\b(?!s)", head):
                n_pages += 1
                continue
            txt = _object_stream_text(objects, oid)
            if txt and txt.strip():
                id_texts.append((oid, txt))
        joined = "\n".join(t.strip("\n") for _, t in sorted(id_texts))
        return n_pages, joined
    except Exception:
        return 0, ""


def extract_pdf_text(df: DataFrame, key_col: str = "doc_id",
                     payload_col: str = "payload") -> DataFrame:
    """binary PDF payloads -> (doc_id, n_pages, pdf_text) via
    Arrow-batched UDF: one pass per batch, no shuffle — the same
    scale shape as the image metadata/pixel decodes."""
    return arrow_map(df, [key_col], payload_col, PDF_TEXT_SCHEMA,
                     lambda p: (extract_pdf_text_bytes(p),))
