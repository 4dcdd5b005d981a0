"""MP4 (ISO BMFF) container walk + MJPEG frame sampling.

The video leg of the multimodal-column family (images: `media.py`,
audio: `audio.py`): parse the public ISO/IEC 14496-12 box structure
— `moov/mvhd` timing, `trak/tkhd` geometry, and the full
`stbl` sample table (`stsd` codec entry, `stsz` sizes,
`stsc` chunk-run mapping, `stco`/`co64` chunk offsets) — then pull
every N-th sample's bytes straight out of `mdat` and decode them
with the baseline-JPEG decoder from `media.py` (motion-JPEG in MP4,
a real public profile). Everything is stdlib `struct` over `bytes`;
no media library.

Scale shape: one Arrow-batched map stage, no shuffle — identical to
the image/audio decode tiers. Frame SAMPLING is the point at 100 TB:
the sample table is a few KB of metadata, so picking every N-th
frame touches only the sampled byte ranges of `mdat`; a 1000-executor
cluster decodes frames per-partition with nothing corpus-sized ever
crossing the wire. Later animation profiles (edit lists, b-frame
reorder via ctts, fragmented MP4) are deployment scope — the walk
reads the plain progressive layout.

Reference parity note: the reference engine (gisle/html-parser) has
no media decoding at all; this module exists for the LLM-pipeline
surface the build brief adds on top (multimodal columns), built from
the public ISO 14496-12 spec.
"""
from __future__ import annotations

import struct
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from html_parser_spark.arrowmap import arrow_map, synth_payloads
from html_parser_spark.operators.media import (
    _encode_jpeg, decode_jpeg_pixels)

__all__ = [
    "parse_mp4", "synth_mp4_videos", "sample_video_frames",
    "extract_video_captions", "video_meta",
]


# ----------------------------------------------------- fixture build


def _box(fourcc: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + fourcc + payload


def _full(fourcc: bytes, version: int, payload: bytes) -> bytes:
    return _box(fourcc, bytes([version, 0, 0, 0]) + payload)


def _frame_consts(doc_id: int, f: int,
                  bx: int, by: int) -> tuple[int, int, int]:
    """Closed-form per-8x8-block (Y, Cb, Cr) for frame ``f`` of doc
    ``doc_id`` — mirrored verbatim by the SQL oracle. Distinct
    per-frame offsets make a wrong sample-table walk (off-by-one
    frame, wrong chunk offset) numerically visible."""
    return ((17 * bx + 29 * by + doc_id + 41 * f) % 256,
            (23 * bx + 31 * by + 2 * doc_id + 43 * f) % 256,
            (13 * bx + 37 * by + 3 * doc_id + 47 * f) % 256)


def _synth_frame(doc_id: int, f: int, w: int, h: int) -> bytes:
    """One 4:4:4 per-block-constant baseline JPEG (DC-only, unit
    quant — exactly lossless for this content, like the media.py
    fixtures)."""
    def dc(c: int) -> list[int]:
        blk = [0] * 64
        blk[0] = 8 * (c - 128)
        return blk

    consts = [_frame_consts(doc_id, f, bx, by)
              for by in range(h // 8) for bx in range(w // 8)]
    return _encode_jpeg(w, h, [[dc(yv) for yv, _, _ in consts],
                               [dc(cb) for _, cb, _ in consts],
                               [dc(cr) for _, _, cr in consts]])


_TIMESCALE = 1000
_FRAME_DUR = 40  # 25 fps in _TIMESCALE units


def _mp4_layout(doc_id: int) -> tuple[int, int, int, list[int]]:
    """(w, h, n_frames, samples-per-chunk list). The chunk layout
    rotates so the stsc run expansion is exercised in all three
    shapes: one chunk holding everything, one chunk per sample, and
    a 2-then-rest split (a genuine multi-run stsc)."""
    w, h = 8 * (1 + doc_id % 3), 8 * (1 + doc_id % 2)
    n = 3 + doc_id % 5
    if doc_id % 3 == 0:
        spc = [n]
    elif doc_id % 3 == 1:
        spc = [1] * n
    else:
        spc = [2, n - 2]
    return w, h, n, spc


def _caption_text(doc_id: int, f: int) -> str:
    """Closed-form caption text — mirrored verbatim by the SQL
    oracle."""
    return f"caption {f} of video {doc_id}"


def _trak(track_id: int, duration: int, w: int, h: int,
          handler: bytes, codec_entry: bytes, stts_runs: bytes,
          spc: list[int], sizes: list[int], co: bytes) -> bytes:
    """One complete trak box (tkhd + mdia > mdhd/hdlr/minf > stbl);
    ``co`` is the pre-built stco/co64 box (offsets are absolute, so
    the caller lays out the file first)."""
    tkhd = _full(b"tkhd", 0, struct.pack(
        ">IIIII", 0, 0, track_id, 0, duration)
        + struct.pack(">QHHHH", 0, 0, 0, 0, 0)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                      0x40000000)
        + struct.pack(">II", w << 16, h << 16))
    mdhd = _full(b"mdhd", 0, struct.pack(
        ">IIIIHH", 0, 0, _TIMESCALE, duration, 0x55C4, 0))
    hdlr = _full(b"hdlr", 0, struct.pack(">I", 0) + handler
                 + b"\x00" * 12 + b"mod\x00")
    stsd = _full(b"stsd", 0, struct.pack(">I", 1) + codec_entry)
    stts = _full(b"stts", 0, stts_runs)
    runs: list[tuple[int, int]] = []  # (first_chunk, spc), deduped
    for i, c in enumerate(spc):
        if not runs or runs[-1][1] != c:
            runs.append((i + 1, c))
    stsc = _full(b"stsc", 0, struct.pack(">I", len(runs)) + b"".join(
        struct.pack(">III", fc, c, 1) for fc, c in runs))
    stsz = _full(b"stsz", 0, struct.pack(">II", 0, len(sizes))
                 + b"".join(struct.pack(">I", s) for s in sizes))
    minf = _box(b"minf", _box(b"vmhd", b"\x00" * 12)
                + _box(b"stbl", stsd + stts + stsc + stsz + co))
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    return _box(b"trak", tkhd + mdia)


def _co_box(use_co64: bool, offs: list[int]) -> bytes:
    fmt, four = (">Q", b"co64") if use_co64 else (">I", b"stco")
    return _full(four, 0, struct.pack(">I", len(offs))
                 + b"".join(struct.pack(fmt, o) for o in offs))


def _chunk_offsets(base: int, sizes: list[int],
                   spc: list[int]) -> list[int]:
    offs, pos, si = [], base, 0
    for c in spc:
        offs.append(pos)
        pos += sum(sizes[si:si + c])
        si += c
    return offs


def _synth_mp4_full(doc_id: int) -> bytes:
    """A COMPLETE valid progressive two-track MP4: ftyp + moov
    (mvhd; a 'vide' trak whose stbl indexes MJPEG frames; a 'text'
    trak whose tx3g samples are length-prefixed UTF-8 captions) +
    one shared mdat (frames then captions). Every 7th-mod-5 doc
    writes 64-bit co64 offsets for the video track. All offsets are
    absolute file offsets (real ISO-BMFF semantics), so the builder
    lays out moov with blank offset boxes first and back-computes."""
    w, h, n, spc = _mp4_layout(doc_id)
    frames = [_synth_frame(doc_id, f, w, h) for f in range(n)]
    sizes = [len(fr) for fr in frames]
    duration = n * _FRAME_DUR
    use_co64 = doc_id % 7 == 5

    n_caps = 1 + doc_id % 3  # <= 3 <= n: captions fit the movie
    caps = [_caption_text(doc_id, f).encode() for f in range(n_caps)]
    cap_samples = [struct.pack(">H", len(c)) + c for c in caps]
    cap_sizes = [len(s) for s in cap_samples]

    mvhd = _full(b"mvhd", 0, struct.pack(
        ">IIII", 0, 0, _TIMESCALE, duration)
        + struct.pack(">IHHQ", 0x00010000, 0x0100, 0, 0)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                      0x40000000)
        + struct.pack(">6I", 0, 0, 0, 0, 0, 0)
        + struct.pack(">I", 3))
    ventry = (struct.pack(">I", 86) + b"jpeg" + b"\x00" * 6
              + struct.pack(">H", 1) + b"\x00" * 16
              + struct.pack(">HH", w, h)
              + struct.pack(">IIIH", 0x00480000, 0x00480000, 0, 1)
              + b"\x00" * 32 + struct.pack(">Hh", 24, -1))
    tentry = (struct.pack(">I", 46) + b"tx3g" + b"\x00" * 6
              + struct.pack(">H", 1) + struct.pack(">I", 0)
              + b"\x00\x00" + b"\x00" * 4 + b"\x00" * 8
              + b"\x00" * 4 + struct.pack(">HBB", 1, 0, 12)
              + b"\xff\xff\xff\xff")

    def moov_with(vco: bytes, cco: bytes) -> bytes:
        vtrak = _trak(1, duration, w, h, b"vide", ventry,
                      struct.pack(">III", 1, n, _FRAME_DUR),
                      spc, sizes, vco)
        ttrak = _trak(2, n_caps * _FRAME_DUR, 0, 0, b"text", tentry,
                      struct.pack(">III", 1, n_caps, _FRAME_DUR),
                      [n_caps], cap_sizes, cco)
        return _box(b"moov", mvhd + vtrak + ttrak)

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200)
                + b"isommp41")
    vco_blank = _co_box(use_co64, [0] * len(spc))
    cco_blank = _co_box(False, [0])
    head_len = (len(ftyp) + len(moov_with(vco_blank, cco_blank))
                + 8)  # + mdat header
    voffs = _chunk_offsets(head_len, sizes, spc)
    coffs = _chunk_offsets(head_len + sum(sizes), cap_sizes,
                           [n_caps])
    mdat = _box(b"mdat", b"".join(frames) + b"".join(cap_samples))
    return (ftyp + moov_with(_co_box(use_co64, voffs),
                             _co_box(False, coffs)) + mdat)


def _synth_fmp4(doc_id: int) -> bytes:
    """A fragmented MP4 (the DASH/HLS streaming layout): ftyp +
    moov whose video trak has an EMPTY stbl, with mvex/trex carrying
    fragment defaults, followed by one moof+mdat pair per two frames
    (trun with per-sample sizes and a moof-relative data offset).
    Frames are the same closed-form MJPEG fixtures as the
    progressive layout. Every other doc carries the default sample
    duration in tfhd (flag 0x8) instead of trex, so both default
    paths are exercised."""
    w, h, n, _ = _mp4_layout(doc_id)
    frames = [_synth_frame(doc_id, f, w, h) for f in range(n)]
    tfhd_path = doc_id % 2 == 1

    mvhd = _full(b"mvhd", 0, struct.pack(
        ">IIII", 0, 0, _TIMESCALE, 0)      # duration 0: fragmented
        + struct.pack(">IHHQ", 0x00010000, 0x0100, 0, 0)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                      0x40000000)
        + struct.pack(">6I", 0, 0, 0, 0, 0, 0)
        + struct.pack(">I", 2))
    ventry = (struct.pack(">I", 86) + b"jpeg" + b"\x00" * 6
              + struct.pack(">H", 1) + b"\x00" * 16
              + struct.pack(">HH", w, h)
              + struct.pack(">IIIH", 0x00480000, 0x00480000, 0, 1)
              + b"\x00" * 32 + struct.pack(">Hh", 24, -1))
    vtrak = _trak(1, 0, w, h, b"vide", ventry,
                  struct.pack(">I", 0), [], [], _co_box(False, []))
    trex = _full(b"trex", 0, struct.pack(
        ">IIIII", 1, 1, 0 if tfhd_path else _FRAME_DUR, 0, 0))
    moov = _box(b"moov", mvhd + vtrak + _box(b"mvex", trex))

    def frag(seq: int, chunk: list[bytes]) -> bytes:
        flags = 0x8 if tfhd_path else 0
        tfhd = _box(b"tfhd", bytes([0]) + flags.to_bytes(3, "big")
                    + struct.pack(">I", 1)
                    + (struct.pack(">I", _FRAME_DUR)
                       if tfhd_path else b""))

        def trun_with(off: int) -> bytes:
            return _box(b"trun",
                        bytes([0]) + (0x201).to_bytes(3, "big")
                        + struct.pack(">Ii", len(chunk), off)
                        + b"".join(struct.pack(">I", len(fr))
                                   for fr in chunk))

        mfhd = _full(b"mfhd", 0, struct.pack(">I", seq))
        blank = _box(b"moof", mfhd + _box(b"traf",
                                          tfhd + trun_with(0)))
        moof = _box(b"moof", mfhd + _box(b"traf", tfhd + trun_with(
            len(blank) + 8)))
        return moof + _box(b"mdat", b"".join(chunk))

    ftyp = _box(b"ftyp", b"iso5" + struct.pack(">I", 0x200)
                + b"iso5dash")
    out = bytearray(ftyp + moov)
    for seq, g in enumerate(range(0, n, 2), start=1):
        out += frag(seq, frames[g:g + 2])
    return bytes(out)


def synth_mp4_videos(df: DataFrame, key_col: str = "doc_id",
                     fragmented: bool = False) -> DataFrame:
    """Deterministic fully-decodable MJPEG-in-MP4 fixture blobs
    (progressive :func:`_synth_mp4_full`, or the DASH/HLS
    :func:`_synth_fmp4` layout when ``fragmented``) — a SQL oracle
    can predict every sampled frame's decoded channel sums in
    closed form."""
    return synth_payloads(
        df, key_col, _synth_fmp4 if fragmented else _synth_mp4_full)


# ------------------------------------------------------- parse side


def _walk_boxes(buf: bytes, pos: int,
                end: int) -> Iterator[tuple[bytes, int, int]]:
    """Yield (fourcc, payload_start, payload_end) for each box in
    [pos, end); handles 64-bit largesize and size-0 (to-EOF)."""
    while pos + 8 <= end:
        size = struct.unpack(">I", buf[pos:pos + 4])[0]
        four = buf[pos + 4:pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                return
            size = struct.unpack(">Q", buf[pos + 8:pos + 16])[0]
            body = pos + 16
        elif size == 0:
            size = end - pos
        if size < body - pos or pos + size > end:
            return  # corrupt size: stop the walk
        yield four, body, pos + size
        pos += size


_CONTAINERS = frozenset((b"moov", b"trak", b"mdia", b"minf", b"stbl"))


def _resolve_offsets(sizes: list[int], chunks: list[int],
                     runs: list[tuple[int, int, int]]) -> list[int] | None:
    """stsc chunk-run expansion: run i covers chunks first_i ..
    first_{i+1}-1; samples are assigned to chunks in order and each
    sample's absolute offset is its chunk offset plus the sizes of
    the samples before it IN THAT CHUNK. None if the table doesn't
    cover exactly len(sizes) samples."""
    per_chunk: list[int] = []
    for i, (first, spc, _desc) in enumerate(runs):
        last = (runs[i + 1][0] - 1 if i + 1 < len(runs)
                else len(chunks))
        # clamp to the chunk table: corrupt first_chunk values must
        # not inflate the expansion
        last = min(last, len(chunks))
        if first < 1 or first > last:
            continue
        per_chunk += [spc] * (last - first + 1)
    offsets: list[int] = []
    si = 0
    for ci, spc in enumerate(per_chunk):
        if ci >= len(chunks):
            return None
        pos = chunks[ci]
        for _ in range(spc):
            if si >= len(sizes):
                break
            offsets.append(pos)
            pos += sizes[si]
            si += 1
    return offsets if si == len(sizes) else None


def _parse_tracks(payload: bytes) -> dict | None:
    """ISO-BMFF walk -> {timescale, duration, tracks: [...]} with
    every trak's geometry, handler, stsd codec, and RESOLVED sample
    table (absolute offsets + per-sample start times in the track's
    own mdhd timescale, from the stts run expansion). Returns None
    for anything corrupt or non-MP4 (never raises from callers'
    point of view — they wrap)."""
    tops = list(_walk_boxes(payload, 0, len(payload)))
    if not tops or tops[0][0] != b"ftyp":
        return None
    movie: dict = {"tracks": []}

    def descend(pos: int, end: int, tk: dict | None) -> None:
        for four, b, e in _walk_boxes(payload, pos, end):
            if four == b"mvhd":
                v = payload[b]
                if v == 1:
                    ts, du = struct.unpack(
                        ">IQ", payload[b + 20:b + 32])
                else:
                    ts, du = struct.unpack(
                        ">II", payload[b + 12:b + 20])
                movie["timescale"], movie["duration"] = ts, du
            elif four == b"trak":
                tk = {}
                movie["tracks"].append(tk)
                descend(b, e, tk)
            elif four == b"mvex":
                descend(b, e, None)
            elif four == b"trex":
                # per-track fragment defaults (ISO 14496-12 §8.8.3)
                tid, _di, ddur, dsz = struct.unpack(
                    ">IIII", payload[b + 4:b + 20])
                movie.setdefault("trex", {})[tid] = (ddur, dsz)
            elif tk is None:
                continue
            elif four == b"tkhd":
                v = payload[b]
                tk["track_id"] = struct.unpack(
                    ">I", payload[b + 20:b + 24] if v == 1
                    else payload[b + 12:b + 16])[0]
                wq, hq = struct.unpack(">II", payload[e - 8:e])
                tk["width"], tk["height"] = wq >> 16, hq >> 16
            elif four == b"mdhd":
                v = payload[b]
                tk["media_timescale"] = struct.unpack(
                    ">I", payload[b + 20:b + 24] if v == 1
                    else payload[b + 12:b + 16])[0]
            elif four == b"hdlr":
                tk["handler"] = payload[b + 8:b + 12] \
                    .decode("latin-1")
            elif four == b"stsd":
                tk["codec"] = payload[b + 12:b + 16] \
                    .decode("latin-1")
            # every entry count from the container is checked
            # against what its box can physically hold BEFORE any
            # allocation: a declared count beyond capacity marks the
            # track corrupt (dropped later) instead of hanging or
            # OOMing an executor on a hostile 32-bit field
            elif four == b"stts":
                cnt = struct.unpack(">I", payload[b + 4:b + 8])[0]
                if cnt > (e - b - 8) // 8:
                    tk["corrupt"] = True
                    continue
                tk["stts"] = [struct.unpack(
                    ">II", payload[b + 8 + 8 * i:b + 16 + 8 * i])
                    for i in range(cnt)]
            elif four == b"stsz":
                fixed, cnt = struct.unpack(
                    ">II", payload[b + 4:b + 12])
                if fixed:
                    # a real file cannot hold more samples than it
                    # has bytes
                    if cnt > len(payload) // max(fixed, 1) + 1:
                        tk["corrupt"] = True
                        continue
                    tk["sizes"] = [fixed] * cnt
                else:
                    if cnt > (e - b - 12) // 4:
                        tk["corrupt"] = True
                        continue
                    tk["sizes"] = list(struct.unpack(
                        f">{cnt}I",
                        payload[b + 12:b + 12 + 4 * cnt]))
            elif four == b"stsc":
                cnt = struct.unpack(">I", payload[b + 4:b + 8])[0]
                if cnt > (e - b - 8) // 12:
                    tk["corrupt"] = True
                    continue
                tk["stsc"] = [struct.unpack(
                    ">III", payload[b + 8 + 12 * i:b + 20 + 12 * i])
                    for i in range(cnt)]
            elif four in (b"stco", b"co64"):
                cnt = struct.unpack(">I", payload[b + 4:b + 8])[0]
                wd, fmt = (8, ">Q") if four == b"co64" else (4, ">I")
                if cnt > (e - b - 8) // wd:
                    tk["corrupt"] = True
                    continue
                tk["chunk_offsets"] = [struct.unpack(
                    fmt, payload[b + 8 + wd * i:b + 8 + wd * (i + 1)]
                )[0] for i in range(cnt)]
            elif four in _CONTAINERS:
                descend(b, e, tk)

    frags: list[dict] = []

    def parse_moof(moof_start: int, pos: int, end: int) -> None:
        """One movie fragment (ISO 14496-12 §8.8): traf > tfhd
        (track id + default size/duration flags) + trun (sample
        count, data offset relative to moof start, optional
        per-sample sizes/durations). Counts are capacity-checked
        like the stbl boxes."""
        for four, b, e in _walk_boxes(payload, pos, end):
            if four != b"traf":
                continue
            fr: dict = {"moof_start": moof_start}
            for f4, fb, fe in _walk_boxes(payload, b, e):
                if f4 == b"tfhd":
                    flags = int.from_bytes(payload[fb + 1:fb + 4],
                                           "big")
                    fr["track_id"] = struct.unpack(
                        ">I", payload[fb + 4:fb + 8])[0]
                    p = fb + 8
                    if flags & 0x1:   # base-data-offset
                        fr["base"] = struct.unpack(
                            ">Q", payload[p:p + 8])[0]
                        p += 8
                    if flags & 0x2:   # sample-description-index
                        p += 4
                    if flags & 0x8:
                        fr["def_dur"] = struct.unpack(
                            ">I", payload[p:p + 4])[0]
                        p += 4
                    if flags & 0x10:
                        fr["def_size"] = struct.unpack(
                            ">I", payload[p:p + 4])[0]
                elif f4 == b"trun":
                    flags = int.from_bytes(payload[fb + 1:fb + 4],
                                           "big")
                    cnt = struct.unpack(
                        ">I", payload[fb + 4:fb + 8])[0]
                    per = (4 * ((flags >> 8 & 1) + (flags >> 9 & 1)
                                + (flags >> 10 & 1)
                                + (flags >> 11 & 1)))
                    head = 4 + (4 if flags & 0x1 else 0) \
                        + (4 if flags & 0x4 else 0)
                    if per and cnt > (fe - fb - 4 - head) // per:
                        fr["corrupt"] = True
                        continue
                    p = fb + 8
                    if flags & 0x1:   # signed data offset
                        fr["data_offset"] = struct.unpack(
                            ">i", payload[p:p + 4])[0]
                        p += 4
                    if flags & 0x4:   # first-sample-flags
                        p += 4
                    samples = []
                    for _ in range(cnt):
                        dur = sz = None
                        if flags & 0x100:
                            dur = struct.unpack(
                                ">I", payload[p:p + 4])[0]
                            p += 4
                        if flags & 0x200:
                            sz = struct.unpack(
                                ">I", payload[p:p + 4])[0]
                            p += 4
                        if flags & 0x400:
                            p += 4
                        if flags & 0x800:
                            p += 4
                        samples.append((dur, sz))
                    fr["samples"] = samples
            if "track_id" in fr and not fr.get("corrupt"):
                frags.append(fr)

    for four, b, e in tops:
        if four == b"moov":
            descend(b, e, None)
        elif four == b"moof":
            # the box START anchors moof-relative offsets: for a
            # normal box the fourcc sits at body-4, for a 64-bit
            # largesize box at body-12 (header is 16 bytes)
            start = b - 8 if payload[b - 4:b] == b"moof" else b - 16
            parse_moof(start, b, e)
    good = []
    for tk in movie["tracks"]:
        if tk.get("corrupt") \
                or not {"sizes", "chunk_offsets", "stsc"} <= tk.keys():
            continue
        offs = _resolve_offsets(tk["sizes"], tk["chunk_offsets"],
                                tk["stsc"])
        if offs is None:
            continue
        tk["offsets"] = offs
        # per-sample start times + durations from the stts runs
        # (same expansion real players use for seek tables). stts
        # legitimately covers exactly the sample count, so the
        # expansion is capped there — a hostile run count in ONE
        # valid 8-byte entry must not build a billion-entry list
        n_samples = len(tk["sizes"])
        starts, durs, t = [], [], 0
        for cnt, delta in tk.get("stts", []):
            for _ in range(min(cnt, n_samples - len(starts))):
                starts.append(t)
                durs.append(delta)
                t += delta
            if len(starts) >= n_samples:
                break
        tk["starts"], tk["durations"] = starts, durs
        good.append(tk)
    # fragmented MP4: append each moof's run to its track, offsets
    # relative to the moof start (the spec default when no explicit
    # base-data-offset is carried), timing continuing per track
    by_id = {tk.get("track_id"): tk for tk in good}
    for fr in frags:
        tk = by_id.get(fr["track_id"])
        if tk is None or "samples" not in fr:
            continue
        off = fr.get("base", fr["moof_start"]) \
            + fr.get("data_offset", 0)
        t = tk["starts"][-1] + tk["durations"][-1] \
            if tk["starts"] else 0
        ddur, dsz = movie.get("trex", {}).get(fr["track_id"],
                                              (0, 0))
        ddur = fr.get("def_dur", ddur)
        dsz = fr.get("def_size", dsz)
        for dur, sz in fr["samples"]:
            sz = sz if sz is not None else dsz
            dur = dur if dur is not None else ddur
            if sz <= 0:
                tk["corrupt"] = True
                break
            tk["sizes"].append(sz)
            tk["offsets"].append(off)
            tk["starts"].append(t)
            tk["durations"].append(dur)
            off += sz
            t += dur
    good = [tk for tk in good if not tk.get("corrupt")]
    movie["tracks"] = good
    return movie if good else None


def parse_mp4(payload: bytes) -> dict | None:
    """ISO-BMFF walk -> {timescale, duration, width, height, codec,
    sizes, offsets, n_samples} for the FIRST video track, resolving
    the stsc chunk-run mapping to one absolute file offset per
    sample. Returns None for anything corrupt or non-MP4 (never
    raises)."""
    try:
        movie = _parse_tracks(payload)
        if movie is None:
            return None
        vid = next((tk for tk in movie["tracks"]
                    if tk.get("handler") == "vide"), None)
        if vid is None:
            return None
        # fragmented MP4s carry mvhd duration 0; the real duration
        # is the sum of the fragment sample durations — which live
        # in the MEDIA (mdhd) timescale, so convert to the movie
        # timescale the caller divides by (a real DASH file commonly
        # runs mvhd at 1000 and the track at 90000)
        duration = movie.get("duration", 0)
        if not duration:
            media_ts = vid.get("media_timescale") or 1
            movie_ts = movie.get("timescale") or media_ts
            duration = sum(vid.get("durations", [])) \
                * movie_ts // media_ts
        return {"timescale": movie.get("timescale", 0),
                "duration": duration,
                "width": vid.get("width", 0),
                "height": vid.get("height", 0),
                "codec": vid.get("codec", ""),
                "sizes": vid["sizes"], "offsets": vid["offsets"],
                "n_samples": len(vid["sizes"])}
    except Exception:
        return None


_FRAME_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("r_sum", T.LongType()),
    T.StructField("g_sum", T.LongType()),
    T.StructField("b_sum", T.LongType()),
    T.StructField("duration_ms", T.LongType()),
    T.StructField("n_samples", T.IntegerType()),
    T.StructField("codec", T.StringType()),
])


def sample_video_frames(df: DataFrame, every_n: int = 2,
                        key_col: str = "doc_id",
                        payload_col: str = "payload") -> DataFrame:
    """binary MP4 payloads -> one row per SAMPLED frame (every N-th
    sample by the stbl walk), each decoded through the media.py
    baseline-JPEG path, plus the container timing metadata
    (duration in mvhd-timescale ms, total sample count, stsd codec).
    One Arrow map stage, no shuffle; undecodable inputs yield no
    rows (the drop is observable as a missing doc_id, never a
    crash)."""
    if every_n < 1:
        raise ValueError(f"every_n ({every_n}) must be >= 1")

    def frames(buf):
        meta = parse_mp4(buf)
        if meta is None:
            return
        ts = meta["timescale"] or 1
        dur_ms = meta["duration"] * 1000 // ts
        for f in range(0, meta["n_samples"], every_n):
            off, sz = meta["offsets"][f], meta["sizes"][f]
            w, h, r, g, b = decode_jpeg_pixels(buf[off:off + sz])
            if w is not None:
                yield (f, w, h, r, g, b, dur_ms, meta["n_samples"],
                       meta["codec"])

    return arrow_map(df, [key_col], payload_col, _FRAME_SCHEMA, frames)


_CAPTION_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("cap_idx", T.IntegerType()),
    T.StructField("start_ms", T.LongType()),
    T.StructField("end_ms", T.LongType()),
    T.StructField("text", T.StringType()),
])

_TEXT_HANDLERS = frozenset(("text", "sbtl", "subt"))


def extract_video_captions(df: DataFrame,
                           key_col: str = "doc_id",
                           payload_col: str = "payload") -> DataFrame:
    """binary MP4 payloads -> one row per caption sample of the
    first timed-text track ('text'/'sbtl'/'subt' handler, tx3g-style
    2-byte-length-prefixed UTF-8 samples): (cap_idx, start_ms,
    end_ms from the stts seek expansion, text). This is how a video
    corpus becomes TRAINING TEXT — the extracted captions feed the
    same quality/lang/dedup funnel as any document column. One Arrow
    map stage, no shuffle; tracks or samples that don't parse yield
    no rows (never a crash)."""
    def captions(b):
        try:
            movie = _parse_tracks(b)
        except Exception:
            return
        if movie is None:
            return
        tk = next((t for t in movie["tracks"]
                   if t.get("handler") in _TEXT_HANDLERS), None)
        if tk is None:
            return
        ts = tk.get("media_timescale") or 1
        starts, durs = tk["starts"], tk["durations"]
        for i, (off, sz) in enumerate(zip(tk["offsets"], tk["sizes"])):
            if sz < 2 or off + sz > len(b):
                continue
            tlen = struct.unpack(">H", b[off:off + 2])[0]
            if tlen > sz - 2:
                continue
            try:
                txt = b[off + 2:off + 2 + tlen].decode("utf-8")
            except UnicodeDecodeError:
                continue
            if i < len(starts):
                s_ms = starts[i] * 1000 // ts
                e_ms = (starts[i] + durs[i]) * 1000 // ts
            else:  # no stts coverage: position unknown
                s_ms = e_ms = 0
            yield i, s_ms, e_ms, txt

    return arrow_map(df, [key_col], payload_col, _CAPTION_SCHEMA,
                     captions)


_META_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("duration_ms", T.LongType()),
    T.StructField("n_samples", T.IntegerType()),
    T.StructField("codec", T.StringType()),
])


def video_meta(df: DataFrame, key_col: str = "doc_id",
               payload_col: str = "payload") -> DataFrame:
    """binary MP4 payloads -> one metadata row per container
    (geometry, mvhd duration in ms, sample count, stsd codec) from
    the box walk ALONE — no frame bytes are touched, so cataloging a
    100 TB video corpus costs a few KB of moov per file, not a
    decode. One Arrow map stage, no shuffle."""
    def meta_row(p):
        meta = parse_mp4(p)
        if meta is not None:
            ts = meta["timescale"] or 1
            yield (meta["width"], meta["height"],
                   meta["duration"] * 1000 // ts, meta["n_samples"],
                   meta["codec"])

    return arrow_map(df, [key_col], payload_col, _META_SCHEMA, meta_row)
