"""Multimodal column plumbing: opaque ``binary`` payloads + typed
metadata, processed through the ``arrow_map`` Arrow boundary.

The metadata decode is REAL: :func:`decode_image_meta` parses actual
PNG / JPEG / GIF container headers byte-by-byte (signature sniff +
IHDR / SOF segment walk / logical screen descriptor) — no imaging
library needed for format/width/height, which is exactly the
metadata a 100 TB curation pipeline filters on before ever paying
for pixel decode. Pixel decode is ALSO real for BOTH dominant web
formats (:func:`decode_image_pixels`): PNG (chunk walk -> zlib
inflate -> full scanline un-filtering, pure stdlib) and baseline-DCT
JPEG (marker walk -> canonical Huffman entropy decode -> dequant ->
IDCT -> JFIF YCbCr->RGB, stdlib + numpy; see the JPEG section
comment for the supported-scope line). Video decode stays a
deployment concern (needs libav) behind the identical ``arrow_map``
per-row signature — one payload in, rows out.

``synth_image_payloads`` builds deterministic fixture blobs with
genuine headers (the driver oracle recomputes the embedded
dimensions in closed form, so the parser is verified against real
bytes, not against itself).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from html_parser_spark.arrowmap import (
    PAYLOAD_SCHEMA, arrow_map, synth_payloads)

MEDIA_META_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_bytes", T.IntegerType()),
    T.StructField("format", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("orientation", T.IntegerType()),
])

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def with_binary(df: DataFrame, key_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(key, payload binary): stands in for an opaque blob column; at
    100 TB this is the `binary` column of the media table (never
    decoded during scans that don't ask for it — column pruning keeps
    blob I/O out of metadata-only queries)."""
    return df.select(
        F.col(key_col),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
    )


def _png_header(w: int, h: int) -> bytes:
    """Real PNG signature + IHDR chunk (33 bytes; CRC left zeroed —
    irrelevant for header parsing)."""
    ihdr = struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
    return (_PNG_SIG + struct.pack(">I", 13) + b"IHDR" + ihdr
            + b"\x00\x00\x00\x00")


def _exif_app1(orientation: int, big_endian: bool = False) -> bytes:
    """Real APP1/Exif segment: TIFF header (II or MM byte order) +
    a one-entry IFD0 carrying tag 0x0112 (orientation, SHORT)."""
    e = ">" if big_endian else "<"
    tiff = ((b"MM\x00\x2a" if big_endian else b"II\x2a\x00")
            + struct.pack(e + "I", 8)        # IFD0 offset
            + struct.pack(e + "H", 1)        # entry count
            + struct.pack(e + "HHI", 0x0112, 3, 1)
            + struct.pack(e + "H", orientation) + b"\x00\x00"
            + struct.pack(e + "I", 0))       # next IFD
    body = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body


def _jpeg_header(w: int, h: int,
                 orientation: int | None = None) -> bytes:
    """Real JPEG SOI (+ optional APP1/Exif) + SOF0 segment: the
    marker walk a parser performs is genuine even without APPn
    segments."""
    sof0 = (struct.pack(">H", 8 + 3 * 3) + b"\x08"
            + struct.pack(">HH", h, w) + b"\x03"
            + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01")
    app1 = b"" if orientation is None else _exif_app1(
        orientation, big_endian=orientation % 2 == 0)
    return b"\xff\xd8" + app1 + b"\xff\xc0" + sof0


def _gif_header(w: int, h: int) -> bytes:
    """Real GIF89a signature + logical screen descriptor (13 bytes;
    dimensions little-endian)."""
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00"


def _webp_header(w: int, h: int, sub: int) -> bytes:
    """Real WebP RIFF header in all three public container layouts
    (the dims live in a different encoding in each): sub 0 = lossy
    VP8 (sync code + two 14-bit LE uint16s, 30 bytes), 1 = lossless
    VP8L (signature 0x2F + bit-packed w-1/h-1, 25 bytes), 2 =
    extended VP8X (24-bit LE w-1/h-1, 30 bytes)."""
    if sub == 0:
        body = (b"VP8 " + struct.pack("<I", 10) + b"\x00\x00\x00"
                + b"\x9d\x01\x2a" + struct.pack("<HH", w, h))
    elif sub == 1:
        bits = (w - 1) | ((h - 1) << 14)
        body = (b"VP8L" + struct.pack("<I", 5) + b"\x2f"
                + struct.pack("<I", bits))
    else:
        body = (b"VP8X" + struct.pack("<I", 10) + b"\x00" * 4
                + struct.pack("<I", w - 1)[:3]
                + struct.pack("<I", h - 1)[:3])
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body


def _tiff_header(w: int, h: int, big_endian: bool = False) -> bytes:
    """Real standalone TIFF header (38 bytes): byte-order mark, IFD0
    with LONG ImageWidth/ImageLength entries."""
    e = ">" if big_endian else "<"
    return ((b"MM\x00*" if big_endian else b"II*\x00")
            + struct.pack(e + "I", 8)
            + struct.pack(e + "H", 2)
            + struct.pack(e + "HHII", 256, 4, 1, w)
            + struct.pack(e + "HHII", 257, 4, 1, h)
            + struct.pack(e + "I", 0))


#: header builders + per-format fixed header size, keyed doc_id % 5
#: (webp's size depends on its sub-layout: (doc_id // 5) % 3)
_HEADERS = ((_png_header, 33), (_jpeg_header, 21), (_gif_header, 13))


def synth_image_payloads(df: DataFrame, key_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Deterministic fixture blobs with REAL image headers: format =
    doc_id % 5 (png/jpeg/gif/webp/tiff; the webp sub-layout rotates
    VP8/VP8L/VP8X by (doc_id // 5) % 3, the tiff byte order by
    (doc_id // 5) % 2), width = 16 + (doc_id*7) % 624, height =
    16 + (doc_id*13) % 464, body = the document text bytes.
    Closed-form, so a SQL oracle can predict every parsed field."""

    def build(v):
        k = v["k"]
        w = 16 + (k * 7) % 624
        h = 16 + (k * 13) % 464
        if k % 5 == 3:
            head = _webp_header(w, h, (k // 5) % 3)
        elif k % 5 == 4:
            head = _tiff_header(w, h, big_endian=(k // 5) % 2 == 1)
        elif k % 5 == 1:
            # JPEGs carry a real APP1/Exif orientation tag (rotating
            # all 8 values and both TIFF byte orders) — the rotation
            # metadata a curation pipeline must respect before
            # training
            head = _jpeg_header(w, h, orientation=1 + k % 8)
        else:
            head = _HEADERS[k % 5][0](w, h)
        yield (head + v["t"].encode(),)

    doc = F.struct(F.col(key_col).cast("long").alias("k"),
                   F.coalesce(F.col(text_col), F.lit("")).alias("t"))
    return arrow_map(df, [key_col], doc, PAYLOAD_SCHEMA, build)


def parse_image_header(payload: bytes) -> tuple[str, int | None,
                                                int | None]:
    """Hand-rolled container-header parse: (format, width, height).

    * PNG: 8-byte signature, then the IHDR chunk's big-endian
      width/height (PNG spec 1.2 §11.2.2 layout).
    * JPEG: SOI then a marker-segment walk to the first SOFn frame
      header (skipping APPn/COM/DQT/DHT...), big-endian
      height/width at offsets +5/+7 into the segment.
    * GIF: 'GIF87a'/'GIF89a', little-endian logical-screen
      width/height.
    * WebP: RIFF/WEBP container, then the first chunk's own dim
      encoding — lossy 'VP8 ' (sync 9D 01 2A + 14-bit LE uint16s),
      lossless 'VP8L' (0x2F signature + bit-packed w-1/h-1), or
      extended 'VP8X' (24-bit LE w-1/h-1).
    * anything else: ('unknown', None, None) — never raises.
    """
    if payload.startswith(_PNG_SIG) and len(payload) >= 24 \
            and payload[12:16] == b"IHDR":
        w, h = struct.unpack(">II", payload[16:24])
        # PNG spec caps dims at 2^31-1; larger values are corrupt and
        # would overflow the int32 output columns — report unparsed
        if w >= 1 << 31 or h >= 1 << 31:
            return "png", None, None
        return "png", w, h
    if payload[:2] == b"\xff\xd8":
        pos = 2
        n = len(payload)
        while pos + 4 <= n:
            if payload[pos] != 0xFF:
                break
            # JPEG allows runs of 0xFF fill bytes before a marker
            # (ITU T.81 §B.1.1.2) — skip them or the segment walk
            # desyncs and reads a fill byte as the marker code
            while pos + 1 < n and payload[pos + 1] == 0xFF:
                pos += 1
            if pos + 4 > n:
                break
            marker = payload[pos + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                pos += 2  # standalone markers, no length
                continue
            if marker == 0xD9:  # EOI — also standalone (T.81
                break           # B.1.1.2); reading a length here
                                # desyncs on concatenated streams
            seg_len = struct.unpack(">H", payload[pos + 2:pos + 4])[0]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8,
                                                         0xCC):
                if pos + 9 <= n:
                    h, w = struct.unpack(
                        ">HH", payload[pos + 5:pos + 9])
                    return "jpeg", w, h
                break
            pos += 2 + seg_len
        return "jpeg", None, None
    if payload[:6] in (b"GIF87a", b"GIF89a") and len(payload) >= 10:
        w, h = struct.unpack("<HH", payload[6:10])
        return "gif", w, h
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        # standalone TIFF: IFD0 tags 256/257 (width/length), SHORT
        # or LONG, either byte order — same IFD walk as EXIF
        e = "<" if payload[:2] == b"II" else ">"
        try:
            ifd = struct.unpack(e + "I", payload[4:8])[0]
            cnt = struct.unpack(e + "H", payload[ifd:ifd + 2])[0]
            cnt = min(cnt, (len(payload) - ifd - 2) // 12)
            w = h = None
            for i in range(cnt):
                eo = ifd + 2 + 12 * i
                tag, typ = struct.unpack(e + "HH",
                                         payload[eo:eo + 4])
                if tag in (256, 257):
                    val = struct.unpack(
                        e + "H", payload[eo + 8:eo + 10])[0] \
                        if typ == 3 else struct.unpack(
                        e + "I", payload[eo + 8:eo + 12])[0]
                    if tag == 256:
                        w = val
                    else:
                        h = val
            return "tiff", w, h
        except Exception:
            return "tiff", None, None
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        four = payload[12:16]
        if four == b"VP8 " and len(payload) >= 30 \
                and payload[23:26] == b"\x9d\x01\x2a":
            w = struct.unpack("<H", payload[26:28])[0] & 0x3FFF
            h = struct.unpack("<H", payload[28:30])[0] & 0x3FFF
            return "webp", w, h
        if four == b"VP8L" and len(payload) >= 25 \
                and payload[20] == 0x2F:
            bits = struct.unpack("<I", payload[21:25])[0]
            return ("webp", (bits & 0x3FFF) + 1,
                    ((bits >> 14) & 0x3FFF) + 1)
        if four == b"VP8X" and len(payload) >= 30:
            w = int.from_bytes(payload[24:27], "little") + 1
            h = int.from_bytes(payload[27:30], "little") + 1
            return "webp", w, h
        return "webp", None, None
    return "unknown", None, None


def parse_jpeg_orientation(payload: bytes) -> int | None:
    """EXIF orientation (tag 0x0112) from the first APP1/Exif
    segment: TIFF header in either byte order (II/MM), IFD0 entry
    walk bounded by the segment. None when absent/corrupt — never
    raises. This is the rotation metadata a training pipeline must
    apply (or at least record) before treating pixels as upright."""
    try:
        if payload[:2] != b"\xff\xd8":
            return None
        pos, n = 2, len(payload)
        while pos + 4 <= n and payload[pos] == 0xFF:
            marker = payload[pos + 1]
            if marker in (0x01,) or 0xD0 <= marker <= 0xD9:
                pos += 2
                continue
            seg_len = struct.unpack(">H", payload[pos + 2:pos + 4])[0]
            if marker == 0xDA:  # entropy data starts: no EXIF ahead
                return None
            if marker == 0xE1 \
                    and payload[pos + 4:pos + 10] == b"Exif\x00\x00":
                t = pos + 10                  # TIFF header start
                end = min(n, pos + 2 + seg_len)
                order = payload[t:t + 2]
                if order == b"II":
                    e = "<"
                elif order == b"MM":
                    e = ">"
                else:
                    return None
                ifd = t + struct.unpack(
                    e + "I", payload[t + 4:t + 8])[0]
                if ifd + 2 > end:
                    return None
                cnt = struct.unpack(e + "H", payload[ifd:ifd + 2])[0]
                cnt = min(cnt, (end - ifd - 2) // 12)  # bounded walk
                for i in range(cnt):
                    eo = ifd + 2 + 12 * i
                    tag, typ = struct.unpack(
                        e + "HH", payload[eo:eo + 4])
                    if tag == 0x0112 and typ == 3:
                        return struct.unpack(
                            e + "H", payload[eo + 8:eo + 10])[0]
                return None
            pos += 2 + seg_len
        return None
    except Exception:
        return None


def decode_image_meta(df: DataFrame, key_col: str = "doc_id",
                      payload_col: str = "payload") -> DataFrame:
    """binary payloads -> typed metadata via Arrow-batched UDF.

    One pass per Arrow batch; no shuffle. Metadata-only decode is the
    cheap pre-filter stage; full pixel decode is the CPU-bound stage
    you size executors for — keep
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` low enough that
    a batch of decoded frames fits in worker memory.
    """

    def meta(p):
        fmt, w, h = parse_image_header(p)
        orient = parse_jpeg_orientation(p) if fmt == "jpeg" else None
        yield len(p), fmt, w, h, orient

    return arrow_map(df, [key_col], payload_col, MEDIA_META_SCHEMA, meta)


# ------------------------------------------------------- pixel decode

PIXELS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("r_sum", T.LongType()),
    T.StructField("g_sum", T.LongType()),
    T.StructField("b_sum", T.LongType()),
])


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib

    return (struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))


#: Adam7 pass grid: (x0, y0, dx, dy) per pass (PNG spec 1.2 §8.2)
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

#: samples per pixel by color type (8-bit depth)
_PNG_BPP = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_pixel_samples(doc_id: int, ctyp: int, x: int,
                       y: int) -> bytes:
    """Closed-form raw samples at (x, y) per color type — mirrored
    by the SQL oracle. RGB/RGBA share the RGB formulas (alpha =
    (x*y+d)%256 is stored but excluded from channel sums); gray is
    the r-channel formula; palette stores the GIF-style index."""
    d = doc_id
    if ctyp == 0:
        return bytes([(x + d) % 256])
    if ctyp == 3:
        return bytes([(x + 2 * y + d) % 256])
    rgb = ((x + d) % 256, (y + 2 * d) % 256, (x + y + 3 * d) % 256)
    if ctyp == 2:
        return bytes(rgb)
    return bytes(rgb) + bytes([(x * y + d) % 256])  # RGBA


def _png_filter_rows(rows: list[bytes], bpp: int) -> bytes:
    """Apply the fixture's rotating None/Up/Sub scanline filters."""
    out = bytearray()
    prev = bytes(len(rows[0])) if rows else b""
    for y, row in enumerate(rows):
        if y == 0:
            out += b"\x00" + row
        elif y % 2:  # Up
            out += b"\x02" + bytes((row[i] - prev[i]) & 0xFF
                                   for i in range(len(row)))
        else:        # Sub
            out += b"\x01" + bytes(
                (row[i] - (row[i - bpp] if i >= bpp else 0)) & 0xFF
                for i in range(len(row)))
        prev = row
    return bytes(out)


def _synth_png_full(doc_id: int) -> bytes:
    """A COMPLETE valid 8-bit PNG (signature, IHDR, PLTE where
    needed, zlib IDAT, IEND, real CRCs) with closed-form pixels (see
    :func:`_png_pixel_samples`). The color type rotates RGB / RGBA /
    grayscale / palette by doc_id % 4 (palette = the GIF fixture's
    closed-form palette), every 5th-mod-4 doc is Adam7-interlaced,
    and rows alternate filter types None/Up/Sub so decode exercises
    real un-filtering in every layout."""
    import zlib

    w = 4 + doc_id % 13
    h = 4 + doc_id % 7
    ctyp = (2, 6, 0, 3)[doc_id % 4]
    bpp = _PNG_BPP[ctyp]
    interlaced = doc_id % 5 == 4

    def rows_for(x0: int, y0: int, dx: int, dy: int) -> list[bytes]:
        return [b"".join(_png_pixel_samples(doc_id, ctyp, x, y)
                         for x in range(x0, w, dx))
                for y in range(y0, h, dy)]

    filtered = bytearray()
    if interlaced:
        for x0, y0, dx, dy in _ADAM7:
            rows = [r for r in rows_for(x0, y0, dx, dy) if r]
            if rows:
                filtered += _png_filter_rows(rows, bpp)
    else:
        filtered += _png_filter_rows(rows_for(0, 0, 1, 1), bpp)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctyp, 0, 0,
                       1 if interlaced else 0)
    out = _PNG_SIG + _png_chunk(b"IHDR", ihdr)
    if ctyp == 3:
        pal = bytearray()
        for i in range(256):
            pal += bytes(((5 * i + doc_id) % 256,
                          (7 * i + 2 * doc_id) % 256,
                          (11 * i + 3 * doc_id) % 256))
        out += _png_chunk(b"PLTE", bytes(pal))
    return (out + _png_chunk(b"IDAT",
                             zlib.compress(bytes(filtered), 6))
            + _png_chunk(b"IEND", b""))


def synth_png_images(df: DataFrame, key_col: str = "doc_id") -> DataFrame:
    """Deterministic fully-decodable PNG fixture blobs (see
    :func:`_synth_png_full`) — a SQL oracle can predict every decoded
    channel sum in closed form."""
    return synth_payloads(df, key_col, _synth_png_full)


def _png_unfilter(raw: bytes, w: int, h: int,
                  bpp: int = 3) -> bytearray:
    """Reverse PNG scanline filtering (spec 1.2 §6: None/Sub/Up/
    Average/Paeth) — the full filter set, not just the fixture's."""
    stride = w * bpp
    out = bytearray()
    prev = bytearray(stride)
    pos = 0
    for _ in range(h):
        ft = raw[pos]
        pos += 1
        line = bytearray(raw[pos:pos + stride])
        pos += stride
        if ft == 1:    # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                line[i] = (line[i] + (a if pa <= pb and pa <= pc
                                      else b if pb <= pc else c)) & 0xFF
        elif ft != 0:
            raise ValueError(f"bad PNG filter type {ft}")
        out += line
        prev = line
    return out


def decode_png_pixels(payload: bytes) -> tuple:
    """Full stdlib PNG pixel decode for every 8-bit color type
    (grayscale, RGB, palette, gray+alpha, RGBA), interlaced or not:
    chunk walk -> concatenated IDAT zlib stream -> per-pass
    un-filter (Adam7 pass geometry when interlaced) -> palette
    resolution -> per-channel sums (alpha excluded; gray counted in
    all three channels). 16-bit depth stays unsupported scope.
    Returns (width, height, r_sum, g_sum, b_sum) or (None,)*5 for
    anything unsupported (never raises)."""
    import zlib

    if not payload.startswith(_PNG_SIG):
        return (None,) * 5
    pos = 8
    n = len(payload)
    w = h = ctyp = None
    interlaced = False
    plte = None
    idat = bytearray()
    try:
        while pos + 8 <= n:
            clen = struct.unpack(">I", payload[pos:pos + 4])[0]
            ctype = payload[pos + 4:pos + 8]
            data = payload[pos + 8:pos + 8 + clen]
            if ctype == b"IHDR":
                w, h, depth, ctyp = struct.unpack(">IIBB", data[:10])
                if depth != 8 or ctyp not in _PNG_BPP:
                    return (None,) * 5  # 16-bit / bad type: scope
                interlaced = data[12] == 1
                if data[12] not in (0, 1):
                    return (None,) * 5
            elif ctype == b"PLTE":
                plte = data
            elif ctype == b"IDAT":
                idat += data
            elif ctype == b"IEND":
                break
            pos += 12 + clen  # len + type + data + crc
        if w is None or not idat or (ctyp == 3 and not plte):
            return (None,) * 5
        bpp = _PNG_BPP[ctyp]
        raw = zlib.decompress(bytes(idat))
        samples = bytearray(w * h * bpp)
        if interlaced:
            off = 0
            for x0, y0, dx, dy in _ADAM7:
                pw = len(range(x0, w, dx))
                ph = len(range(y0, h, dy))
                if not pw or not ph:
                    continue
                need = (1 + pw * bpp) * ph
                sub = _png_unfilter(raw[off:off + need], pw, ph, bpp)
                off += need
                for j, y in enumerate(range(y0, h, dy)):
                    for i, x in enumerate(range(x0, w, dx)):
                        s = (j * pw + i) * bpp
                        t = (y * w + x) * bpp
                        samples[t:t + bpp] = sub[s:s + bpp]
        else:
            samples = _png_unfilter(raw, w, h, bpp)
        r_sum = g_sum = b_sum = 0
        if ctyp in (0, 4):   # gray (+alpha): v in all channels
            vals = samples[0::bpp]
            r_sum = g_sum = b_sum = sum(vals)
        elif ctyp == 3:      # palette indices
            npal = len(plte) // 3
            for i in samples:
                if i >= npal:
                    return (None,) * 5
                r_sum += plte[3 * i]
                g_sum += plte[3 * i + 1]
                b_sum += plte[3 * i + 2]
        else:                # RGB / RGBA (alpha excluded)
            r_sum = sum(samples[0::bpp])
            g_sum = sum(samples[1::bpp])
            b_sum = sum(samples[2::bpp])
    except Exception:
        return (None,) * 5
    return (w, h, r_sum, g_sum, b_sum)


# -------------------------------------------------- GIF pixel decode
#
# GIF89a decode from the public spec (and the LZW variant it fixes:
# LSB-first bit packing, variable 3..12-bit codes, clear/EOI, LATE
# width growth — the opposite bit order and change timing from the
# PDF LZW in pdf.py). Supported scope: first image frame, global or
# local color table, interlaced or not; later animation frames and
# transparency compositing are deployment scope (the stats read the
# raw first frame).


def _gif_lzw_encode(indices: bytes, mcs: int) -> bytes:
    """GIF-variant LZW compress (fixture encoder): LSB-first packing,
    LATE width change (the decoder's table lags the emit stream by
    one entry, so width grows one code later than PDF's EarlyChange
    default), clear emitted up front and whenever the table fills."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1

    def fresh() -> tuple[dict, int, int]:
        return ({bytes([i]): i for i in range(clear)}, eoi + 1,
                mcs + 1)

    table, next_code, width = fresh()
    codes: list[tuple[int, int]] = [(clear, width)]
    prefix = b""

    def bump() -> None:
        # the decoder adds its matching entry one code later (no add
        # on the first code after clear), so its count trails this
        # one by exactly 1 — widen when the DECODER's table hits the
        # 2^width boundary (giflib parity: its encoder checks
        # RunningCode >= MaxCode1 before the insert, which lands on
        # the same stream position)
        nonlocal next_code, width
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1

    for ch in indices:
        cand = prefix + bytes([ch])
        if cand in table:
            prefix = cand
            continue
        codes.append((table[prefix], width))
        if next_code < 4096:
            table[cand] = next_code
            bump()
        else:
            codes.append((clear, width))
            table, next_code, width = fresh()
        prefix = bytes([ch])
    if prefix:
        codes.append((table[prefix], width))
    codes.append((eoi, width))
    acc = nbits = 0
    out = bytearray()
    for code, wd in codes:
        acc |= code << nbits
        nbits += wd
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_lzw_decode(data: bytes, mcs: int) -> bytearray | None:
    """Inverse of :func:`_gif_lzw_encode` (the real decoder: handles
    the KwKwK self-reference case and a deferred clear on a full
    table). Returns None on a corrupt stream."""
    if not 2 <= mcs <= 8:
        return None
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    next_code, width = eoi + 1, mcs + 1
    out = bytearray()
    prev: bytes | None = None
    acc = nbits = pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                return out  # missing EOI: tolerate (real decoders do)
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            next_code, width = eoi + 1, mcs + 1
            prev = None
            continue
        if code == eoi:
            return out
        if code < len(table) and code < next_code:
            entry = table[code]
        elif code == next_code and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            return None  # code beyond the table: corrupt
        out += entry
        if prev is not None and next_code < 4096:
            table.append(prev + entry[:1])
            next_code += 1
            # spec/giflib timing: the next read must be wide enough
            # for a KwKwK reference to the code about to be assigned
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = entry


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _gif_row_order(h: int, interlaced: bool) -> list[int]:
    """Storage order of image rows (§appendix E: four-pass
    interlace)."""
    if not interlaced:
        return list(range(h))
    return [y for start, step in _GIF_INTERLACE_PASSES
            for y in range(start, h, step)]


def _synth_gif_full(doc_id: int) -> bytes:
    """A COMPLETE valid GIF89a with closed-form pixels: 256-entry
    palette[i] = ((5i+d)%256, (7i+2d)%256, (11i+3d)%256), index at
    (x, y) = (x + 2y + d) % 256, d = doc_id. Every 4th-mod-1 doc is
    interlaced, every 5th-mod-2 carries the palette as a LOCAL color
    table (global otherwise); a graphic-control extension block
    exercises the extension walk."""
    d = doc_id
    w, h = 4 + d % 11, 4 + d % 6
    interlaced = d % 4 == 1
    local = d % 5 == 2
    pal = bytearray()
    for i in range(256):
        pal += bytes(((5 * i + d) % 256, (7 * i + 2 * d) % 256,
                      (11 * i + 3 * d) % 256))
    indices = bytes((x + 2 * y + d) % 256
                    for y in _gif_row_order(h, interlaced)
                    for x in range(w))
    lzw = _gif_lzw_encode(indices, 8)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x77 if local else 0xF7, 0, 0])  # GCT flag + size
    if not local:
        out += pal
    out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # graphic control ext
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
    out += bytes([(0x87 if local else 0x00)
                  | (0x40 if interlaced else 0)])
    if local:
        out += pal
    out += bytes([8])  # LZW min code size
    for o in range(0, len(lzw), 255):
        blk = lzw[o:o + 255]
        out += bytes([len(blk)]) + blk
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def synth_gif_images(df: DataFrame, key_col: str = "doc_id") -> DataFrame:
    """Deterministic fully-decodable GIF fixture blobs (see
    :func:`_synth_gif_full`) — a SQL oracle can predict every decoded
    channel sum in closed form."""
    return synth_payloads(df, key_col, _synth_gif_full)


def decode_gif_pixels(payload: bytes) -> tuple:
    """Full stdlib GIF pixel decode (first frame): screen descriptor
    -> global/local color table -> extension-block walk -> LZW ->
    de-interlace -> palette mapping -> per-channel sums. Returns
    (width, height, r_sum, g_sum, b_sum) or (None,)*5 for anything
    unsupported (never raises)."""
    try:
        if payload[:6] not in (b"GIF87a", b"GIF89a"):
            return (None,) * 5
        flags = payload[10]
        pos = 13
        gct: bytes | None = None
        if flags & 0x80:
            n = 3 * (2 << (flags & 7))
            gct = payload[pos:pos + n]
            pos += n
        while pos < len(payload):
            b0 = payload[pos]
            if b0 == 0x3B:  # trailer
                return (None,) * 5  # no image frame
            if b0 == 0x21:  # extension: label + sub-blocks
                pos += 2
                while payload[pos]:
                    pos += 1 + payload[pos]
                pos += 1
                continue
            if b0 != 0x2C:
                return (None,) * 5  # unknown block: corrupt
            w, h = struct.unpack("<HH", payload[pos + 5:pos + 9])
            iflags = payload[pos + 9]
            pos += 10
            pal = gct
            if iflags & 0x80:
                n = 3 * (2 << (iflags & 7))
                pal = payload[pos:pos + n]
                pos += n
            if pal is None or w == 0 or h == 0:
                return (None,) * 5
            mcs = payload[pos]
            pos += 1
            lzw = bytearray()
            while payload[pos]:
                n = payload[pos]
                lzw += payload[pos + 1:pos + 1 + n]
                pos += 1 + n
            idx = _gif_lzw_decode(bytes(lzw), mcs)
            if idx is None or len(idx) < w * h:
                return (None,) * 5
            rows = [idx[r * w:(r + 1) * w] for r in range(h)]
            if iflags & 0x40:
                ordered: list[bytes | None] = [None] * h
                for stored, y in enumerate(_gif_row_order(h, True)):
                    ordered[y] = rows[stored]
                rows = ordered  # type: ignore[assignment]
            npal = len(pal) // 3
            r_sum = g_sum = b_sum = 0
            for row in rows:
                for i in row:
                    if i >= npal:
                        return (None,) * 5  # index beyond palette
                    r_sum += pal[3 * i]
                    g_sum += pal[3 * i + 1]
                    b_sum += pal[3 * i + 2]
            return (w, h, r_sum, g_sum, b_sum)
        return (None,) * 5
    except Exception:
        return (None,) * 5


# ------------------------------------------------- JPEG pixel decode
#
# Baseline-DCT JFIF decode from the public ITU T.81 spec, stdlib +
# numpy only: marker walk -> DQT/DHT/SOF0/SOS -> entropy decode
# (canonical Huffman, byte unstuffing, RST intervals) -> dequant ->
# zigzag -> IDCT -> level shift -> JFIF YCbCr->RGB. Supported scope:
# baseline + extended-sequential Huffman (SOF0/SOF1), 8-bit samples,
# 1 or 3 components with sampling factors in {1, 2} where every
# factor divides the max — grayscale, 4:4:4, 4:2:2, 4:4:0 and the
# web-dominant 4:2:0 (interleaved MCUs, nearest-neighbor chroma
# upsampling = libjpeg's non-fancy mode). Progressive (SOF2),
# arithmetic coding, 4:1:1-class factors, and 12-bit samples return
# (None,)*5 — documented codec scope, never garbage.
#
# The FIXTURE exploits an exactness property: an image whose pixels
# are CONSTANT per 8x8 block has only DC coefficients, and with unit
# quant tables the encode->decode round trip is bit-exact (DC = 8*c',
# IDCT of a DC-only block is the constant c'). That lets the DuckDB
# oracle predict every decoded channel sum in closed form while the
# decoder still runs the full entropy/IDCT machinery on real bytes.

#: zigzag position -> natural (row-major) index, ITU T.81 Fig. A.6
_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

#: fixture Huffman layout: DC = symbols 0..11 all at code length 4,
#: AC = EOB, ZRL, then every (run 0..15, size 1..10) all at length 8.
#: Flat lengths keep the DHT tiny and never produce the all-ones code.
_FIX_DC_SYMBOLS = tuple(range(12))
_FIX_AC_SYMBOLS = (0x00, 0xF0) + tuple(
    (r << 4) | s for r in range(16) for s in range(1, 11))


def _canonical_codes(counts: list[int],
                     symbols: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, bit length) per the JPEG canonical rule
    (T.81 Annex C): codes of each length count up from twice the
    previous length's last code + ... (standard generation)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(counts[ln - 1]):
            out[symbols[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


class _JpegBitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:          # byte stuffing (T.81 B.1.1.5)
                self.out.append(0x00)
            self.n -= 8

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # 1-padding per spec
        return bytes(self.out)


def _dc_category(v: int) -> int:
    return v.bit_length() if v >= 0 else (-v).bit_length()


def _encode_jpeg(w: int, h: int,
                 comp_blocks: list[list[list[int]]],
                 sampling: list[tuple[int, int]] | None = None) -> bytes:
    """Assemble a complete baseline JFIF file from already-quantized
    coefficient blocks (natural order; each component's list is in
    raster order over THAT component's own block grid) with unit
    quant tables. ``sampling`` gives per-component (h, v) factors
    (default all 1x1); blocks are emitted in the interleaved MCU
    order of T.81 A.2.3. General AC run/size + ZRL + EOB encoding —
    the fixture only feeds DC-only blocks, but tests feed AC patterns
    through the same path."""
    nc = len(comp_blocks)
    if sampling is None:
        sampling = [(1, 1)] * nc
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    dc_map = _canonical_codes(
        [0, 0, 0, 12] + [0] * 12, list(_FIX_DC_SYMBOLS))
    ac_map = _canonical_codes(
        [0, 0, 0, 0, 0, 0, 0, 162] + [0] * 8, list(_FIX_AC_SYMBOLS))

    bw = _JpegBitWriter()
    preds = [0] * nc
    order: list[tuple[int, int]] = []  # (component, block index)
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (hs, vs) in enumerate(sampling):
                for byy in range(vs):
                    for bxx in range(hs):
                        order.append(
                            (ci, (my * vs + byy) * (mcux * hs)
                             + mx * hs + bxx))
    for ci, bi in order:
        blk = comp_blocks[ci][bi]
        zz = [blk[_ZIGZAG[k]] for k in range(64)]
        diff = zz[0] - preds[ci]
        preds[ci] = zz[0]
        t = _dc_category(diff)
        code, ln = dc_map[t]
        bw.put(code, ln)
        if t:
            bw.put(diff if diff >= 0 else diff + (1 << t) - 1, t)
        k = 1
        while k < 64:
            run = 0
            while k < 64 and zz[k] == 0:
                run += 1
                k += 1
            if k == 64:
                code, ln = ac_map[0x00]  # EOB
                bw.put(code, ln)
                break
            while run >= 16:
                code, ln = ac_map[0xF0]  # ZRL
                bw.put(code, ln)
                run -= 16
            v = zz[k]
            s = _dc_category(v)
            code, ln = ac_map[(run << 4) | s]
            bw.put(code, ln)
            bw.put(v if v >= 0 else v + (1 << s) - 1, s)
            k += 1

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(
            ">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, b"\x00" + bytes([1] * 64))  # unit quant, id 0
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([nc])
    for ci, (hs, vs) in enumerate(sampling):
        sof += bytes([ci + 1, (hs << 4) | vs, 0])
    out += seg(0xC0, sof)
    out += seg(0xC4, b"\x00" + bytes([0, 0, 0, 12] + [0] * 12)
               + bytes(_FIX_DC_SYMBOLS))
    out += seg(0xC4, b"\x10" + bytes([0, 0, 0, 0, 0, 0, 0, 162]
                                     + [0] * 8)
               + bytes(_FIX_AC_SYMBOLS))
    sos = bytes([nc])
    for ci in range(nc):
        sos += bytes([ci + 1, 0x00])  # DC table 0, AC table 0
    sos += b"\x00\x3f\x00"
    out += seg(0xDA, sos)
    out += bw.flush()
    out += b"\xff\xd9"
    return bytes(out)


def _jpeg_block_consts(doc_id: int) -> tuple[int, int, str, list]:
    """Closed-form per-8x8-block (Y, Cb, Cr) constants mirrored by
    the SQL oracle. Arms: every 5th doc grayscale, every 7th-mod-3
    (non-gray) doc 4:2:0 subsampled (chroma constant per 16x16 MCU —
    nearest-neighbor upsampling reproduces it exactly, so the lossy +
    subsampled format still round-trips in closed form), the rest
    4:4:4. The returned consts are the EFFECTIVE per-8x8-block values
    after any upsampling."""
    gray = doc_id % 5 == 0
    sub420 = not gray and doc_id % 7 == 3
    if sub420:
        w, h = 16 * (1 + doc_id % 2), 16
    else:
        w, h = 8 * (1 + doc_id % 3), 8 * (1 + doc_id % 2)
    arm = "gray" if gray else ("420" if sub420 else "444")
    consts = []
    for by in range(h // 8):
        for bx in range(w // 8):
            cx, cy = (bx // 2, by // 2) if sub420 else (bx, by)
            yv = (17 * bx + 29 * by + doc_id) % 256
            cb = (23 * cx + 31 * cy + 2 * doc_id) % 256
            cr = (13 * cx + 37 * cy + 3 * doc_id) % 256
            consts.append((yv, cb, cr))
    return w, h, arm, consts


def _synth_jpeg_full(doc_id: int) -> bytes:
    """A COMPLETE valid baseline JFIF whose pixels are constant per
    8x8 block — DC-only coefficients with unit quant tables make the
    lossy format exactly lossless for this content, so the oracle
    can predict decoded channel sums in closed form."""
    w, h, arm, consts = _jpeg_block_consts(doc_id)

    def dc_block(c: int) -> list[int]:
        blk = [0] * 64
        blk[0] = 8 * (c - 128)
        return blk

    if arm == "gray":
        return _encode_jpeg(w, h, [[dc_block(yv)
                                    for yv, _, _ in consts]])
    if arm == "420":
        # Y at full block resolution; chroma one block per 16x16 MCU
        # (its own half-resolution raster grid)
        chroma: list[tuple[int, int]] = []
        bw_ = w // 8
        for mby in range(h // 16):
            for mbx in range(w // 16):
                _, cb, cr = consts[(mby * 2) * bw_ + mbx * 2]
                chroma.append((cb, cr))
        comp_blocks = [[dc_block(yv) for yv, _, _ in consts],
                       [dc_block(cb) for cb, _ in chroma],
                       [dc_block(cr) for _, cr in chroma]]
        return _encode_jpeg(w, h, comp_blocks,
                            sampling=[(2, 2), (1, 1), (1, 1)])
    comp_blocks = [[dc_block(yv) for yv, _, _ in consts],
                   [dc_block(cb) for _, cb, _ in consts],
                   [dc_block(cr) for _, _, cr in consts]]
    return _encode_jpeg(w, h, comp_blocks)


def synth_jpeg_images(df: DataFrame,
                      key_col: str = "doc_id") -> DataFrame:
    """Deterministic fully-decodable baseline-JPEG fixture blobs
    (see :func:`_synth_jpeg_full`)."""
    return synth_payloads(df, key_col, _synth_jpeg_full)


_SOF_UNSUPPORTED = frozenset(
    [0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE,
     0xCF])


class _JpegBitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    unstuffing; a bare marker byte ends the stream (T.81 B.1.1.5)."""

    def __init__(self, buf: bytes, pos: int) -> None:
        self.buf = buf
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> bool:
        b = self.buf[self.pos]
        if b == 0xFF:
            nxt = self.buf[self.pos + 1]
            if nxt != 0x00:
                return False  # a real marker: no more entropy bits
            self.pos += 2
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.n += 8
        return True

    def bits(self, k: int) -> int:
        while self.n < k:
            if not self._fill():
                raise EOFError("entropy data exhausted")
        v = (self.acc >> (self.n - k)) & ((1 << k) - 1)
        self.n -= k
        return v

    def align_restart(self) -> None:
        """Byte-align and consume one RSTn marker (T.81 E.2.4)."""
        self.n = 0
        if (self.buf[self.pos] == 0xFF
                and 0xD0 <= self.buf[self.pos + 1] <= 0xD7):
            self.pos += 2
        else:
            raise ValueError("missing restart marker")


def _huff_decode(br: _JpegBitReader, table: dict) -> int:
    code, ln = 0, 0
    while ln < 16:
        code = (code << 1) | br.bits(1)
        ln += 1
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("bad huffman code")


def _extend(v: int, t: int) -> int:
    return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v


def decode_jpeg_pixels(payload: bytes) -> tuple:
    """Full baseline JFIF pixel decode (see module section comment):
    returns (width, height, r_sum, g_sum, b_sum) or (None,)*5 for
    anything outside the supported scope (never raises). Grayscale
    reports r = g = b = the Y sums."""
    import numpy as np

    try:
        if payload[:2] != b"\xff\xd8":
            return (None,) * 5
        pos, n = 2, len(payload)
        qts: dict[int, list[int]] = {}
        huffs: dict[tuple[int, int], dict] = {}
        w = h = None
        comps: list[list[int]] = []  # [tq, dc_tbl, ac_tbl] per comp
        comp_ids: list[int] = []
        ri = 0
        scan_at = None
        while pos + 2 <= n:
            if payload[pos] != 0xFF:
                return (None,) * 5
            m = payload[pos + 1]
            pos += 2
            if m in (0x01, 0xD8) or 0xD0 <= m <= 0xD7:
                continue
            if m == 0xD9:
                break
            if pos + 2 > n:
                return (None,) * 5
            seglen = struct.unpack(">H", payload[pos:pos + 2])[0]
            seg = payload[pos + 2:pos + seglen]
            if m in _SOF_UNSUPPORTED or m == 0xCC:
                return (None,) * 5  # progressive/lossless/arithmetic
            if m == 0xDB:
                i = 0
                while i < len(seg):
                    pq, tq = seg[i] >> 4, seg[i] & 15
                    i += 1
                    if pq:  # 16-bit entries
                        qts[tq] = [struct.unpack(
                            ">H", seg[i + 2 * k:i + 2 * k + 2])[0]
                            for k in range(64)]
                        i += 128
                    else:
                        qts[tq] = list(seg[i:i + 64])
                        i += 64
            elif m in (0xC0, 0xC1):
                if seg[0] != 8:
                    return (None,) * 5  # 12-bit samples: scope
                h, w = struct.unpack(">HH", seg[1:5])
                nc = seg[5]
                if nc not in (1, 3):
                    return (None,) * 5
                comps, comp_ids = [], []
                for i in range(nc):
                    cid, samp, tq = seg[6 + 3 * i:9 + 3 * i]
                    hs, vs = samp >> 4, samp & 15
                    if hs not in (1, 2) or vs not in (1, 2):
                        return (None,) * 5  # 4:1:1 etc: scope
                    comp_ids.append(cid)
                    comps.append([tq, 0, 0, hs, vs])
                # every factor must divide the max (so upsampling is
                # an integer repeat) — covers 4:4:4/4:2:2/4:4:0/4:2:0
                hm = max(c[3] for c in comps)
                vm = max(c[4] for c in comps)
                if any(hm % c[3] or vm % c[4] for c in comps):
                    return (None,) * 5
            elif m == 0xC4:
                i = 0
                while i < len(seg):
                    tc, th = seg[i] >> 4, seg[i] & 15
                    counts = list(seg[i + 1:i + 17])
                    nsym = sum(counts)
                    symbols = list(seg[i + 17:i + 17 + nsym])
                    sym_map = _canonical_codes(counts, symbols)
                    huffs[(tc, th)] = {(ln, code): s
                                       for s, (code, ln)
                                       in sym_map.items()}
                    i += 17 + nsym
            elif m == 0xDD:
                ri = struct.unpack(">H", seg[:2])[0]
            elif m == 0xDA:
                ns = seg[0]
                if ns != len(comps) or w is None:
                    return (None,) * 5
                for i in range(ns):
                    cid, tbls = seg[1 + 2 * i], seg[2 + 2 * i]
                    ci = comp_ids.index(cid)
                    comps[ci][1] = tbls >> 4
                    comps[ci][2] = tbls & 15
                scan_at = pos + seglen
                break
            pos += seglen
        if scan_at is None:
            return (None,) * 5

        # IDCT basis: B[u, x] = C(u)/2 * cos((2x+1) u pi / 16)
        basis = np.array(
            [[(0.7071067811865476 if u == 0 else 1.0) / 2.0
              * np.cos((2 * x + 1) * u * np.pi / 16.0)
              for x in range(8)] for u in range(8)])
        hmax = max(c[3] for c in comps)
        vmax = max(c[4] for c in comps)
        mcux = (w + 8 * hmax - 1) // (8 * hmax)
        mcuy = (h + 8 * vmax - 1) // (8 * vmax)
        planes = [np.zeros((mcuy * 8 * vs, mcux * 8 * hs))
                  for (tq, dct, act, hs, vs) in comps]
        br = _JpegBitReader(payload, scan_at)
        preds = [0] * len(comps)
        mcu = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if ri and mcu and mcu % ri == 0:
                    br.align_restart()
                    preds = [0] * len(comps)
                mcu += 1
                # interleaved MCU order (T.81 A.2.3): each component
                # contributes its hs*vs data units per MCU
                for ci, (tq, dct, act, hs, vs) in enumerate(comps):
                    qt = qts[tq]
                    for byy in range(vs):
                        for bxx in range(hs):
                            coef = np.zeros(64)
                            t = _huff_decode(br, huffs[(0, dct)])
                            diff = _extend(br.bits(t), t) if t else 0
                            preds[ci] += diff
                            coef[0] = preds[ci] * qt[0]
                            k = 1
                            while k < 64:
                                rs = _huff_decode(br, huffs[(1, act)])
                                r, s = rs >> 4, rs & 15
                                if s == 0:
                                    if r == 15:
                                        k += 16
                                        continue
                                    break  # EOB
                                k += r
                                if k > 63:
                                    raise ValueError(
                                        "AC run past block")
                                coef[_ZIGZAG[k]] = (
                                    _extend(br.bits(s), s) * qt[k])
                                k += 1
                            px = basis.T @ coef.reshape(8, 8) @ basis
                            py0 = (my * vs + byy) * 8
                            px0 = (mx * hs + bxx) * 8
                            planes[ci][py0:py0 + 8,
                                       px0:px0 + 8] = px
        # level shift, then nearest-neighbor chroma upsample (the
        # libjpeg non-fancy mode: integer repeat to the max sampling
        # grid), then crop to the true image rectangle
        crop = []
        for ci, (tq, dct, act, hs, vs) in enumerate(comps):
            p = np.clip(np.floor(planes[ci] + 128.0 + 0.5), 0, 255)
            if hs != hmax or vs != vmax:
                p = p.repeat(vmax // vs, axis=0) \
                     .repeat(hmax // hs, axis=1)
            crop.append(p[:h, :w])
        if len(crop) == 1:
            ysum = int(crop[0].sum())
            return (int(w), int(h), ysum, ysum, ysum)
        y, cb, cr = crop
        r = np.clip(np.floor(y + 1.402 * (cr - 128.0) + 0.5), 0, 255)
        g = np.clip(np.floor(y - 0.344136 * (cb - 128.0)
                             - 0.714136 * (cr - 128.0) + 0.5), 0, 255)
        b = np.clip(np.floor(y + 1.772 * (cb - 128.0) + 0.5), 0, 255)
        return (int(w), int(h),
                int(r.sum()), int(g.sum()), int(b.sum()))
    except Exception:
        return (None,) * 5


def decode_image_pixels(df: DataFrame, key_col: str = "doc_id",
                        payload_col: str = "payload") -> DataFrame:
    """binary image payloads -> decoded pixel statistics via
    Arrow-batched UDF; one pass, no shuffle; dispatch by signature
    (PNG chunk decode, baseline-JPEG entropy decode, or GIF LZW +
    palette decode). This is the
    CPU-bound decode tier of the media pipeline — at 100 TB size
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` so a batch of
    decoded frames fits worker memory (video decode plugs in behind
    the same signature with a codec library)."""

    def dispatch(b):
        if b[:2] == b"\xff\xd8":
            yield decode_jpeg_pixels(b)
        elif b[:6] in (b"GIF87a", b"GIF89a"):
            yield decode_gif_pixels(b)
        else:
            yield decode_png_pixels(b)

    return arrow_map(df, [key_col], payload_col, PIXELS_SCHEMA, dispatch)


FRAME_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("frame_hash", T.StringType()),
])


def sample_frames(df: DataFrame, every_n_bytes: int = 64,
                  key_col: str = "doc_id",
                  payload_col: str = "payload") -> DataFrame:
    """Frame-sampling plumbing: 1→N fan-out inside the Arrow batch
    (video → sampled frames). The 'frame' here is a byte-slice hash;
    a real build emits decoded frame tensors with the same shape."""
    import hashlib

    def frames(p):
        for i, off in enumerate(range(0, len(p), every_n_bytes)):
            yield i, hashlib.md5(p[off:off + every_n_bytes]).hexdigest()

    return arrow_map(df, [key_col], payload_col, FRAME_SCHEMA, frames)
