"""Audio-column decode: a real WAV/RIFF PCM parser over opaque
``binary`` payloads, through the same ``arrow_map`` Arrow boundary
as the image and PDF decoders — the audio leg of the
multimodal column family.

What is REAL (public RIFF/WAVE layout, as in the multimedia
programming interface spec and RFC 2361 format registry): the RIFF
container walk (chunk id + little-endian size, word-aligned — odd
sizes carry a pad byte), the ``fmt `` chunk (PCM format tag,
channels, sample rate, block align, bits per sample), unknown-chunk
skipping (LIST/INFO etc.), and integer PCM sample decode at the
three integer depths real WAVs carry — 8-bit (unsigned, center 128,
the legacy/telephony shape), 16-bit (CD), and 24-bit (the studio
norm) little-endian — with exact integer statistics per payload:
frame count, sum of squared samples (the un-rooted RMS numerator —
kept integral so the SQL oracle matches bit-for-bit), and peak
amplitude.

Deployment scope (documented, same pattern as the image decoders):
non-PCM format tags (float/ALAW/MULAW/extensible), 32-bit and
sub-byte depths, and malformed containers return NULL stats, never
garbage and never a raised exception.

At 100 TB this is a map-only Arrow stage over a pruned
(key, payload) projection — no shuffle, the same scale shape as
``decode_image_pixels``; real codec decode (MP3/AAC/Opus) plugs in
behind the identical signature with an audio library.

``synth_wav_audio`` builds COMPLETE valid WAV files (true chunk
sizes, a junk LIST chunk to exercise the walk, deterministic PCM
ramp samples) whose statistics a SQL oracle recomputes in closed
form, so the parser is verified against real bytes.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from html_parser_spark.arrowmap import arrow_map, synth_payloads

AUDIO_STATS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("sum_sq", T.LongType()),
    T.StructField("peak", T.IntegerType()),
])


def _wav_params(doc_id: int) -> tuple[int, int, int, int]:
    """(sample_rate, channels, n_frames, bits) — closed-form,
    mirrored by the SQL oracle. Bit depth rotates 16/24/8 by doc_id
    so the fixture corpus drives every decoded depth."""
    return (8000 + 4000 * (doc_id % 3), 1 + doc_id % 2,
            256 + (doc_id % 5) * 64, (16, 24, 8)[doc_id % 3])


def _wav_sample(doc_id: int, i: int, c: int, bits: int) -> int:
    """Deterministic ramp sample; the 8-bit arm uses a narrower ramp
    that fits the unsigned-byte range (center 128 -> [-100, 100])."""
    if bits == 8:
        return ((7 * doc_id + 13 * i + 5 * c) % 201) - 100
    return ((7 * doc_id + 13 * i + 5 * c) % 4001) - 2000


def _synth_wav(doc_id: int) -> bytes:
    """A COMPLETE valid integer-PCM WAV: RIFF header with true sizes,
    ``fmt ``, a junk LIST chunk (the walk must skip it), and
    interleaved little-endian samples from :func:`_wav_sample` at the
    doc's rotated bit depth (8-bit stored unsigned per the format)."""
    rate, ch, nf, bits = _wav_params(doc_id)
    width = bits // 8
    frames = bytearray()
    for i in range(nf):
        for c in range(ch):
            v = _wav_sample(doc_id, i, c, bits)
            if bits == 8:
                frames.append(v + 128)
            else:
                frames += (v & ((1 << bits) - 1)).to_bytes(
                    width, "little")
    block = ch * width
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * block, block,
                      bits)
    junk = b"INFOjunk metadata the walk must skip!"  # odd length
    chunks = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
              + b"LIST" + struct.pack("<I", len(junk)) + junk
              + (b"\x00" if len(junk) % 2 else b"")  # word pad
              + b"data" + struct.pack("<I", len(frames)) + frames)
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" \
        + chunks


def synth_wav_audio(df: DataFrame,
                    key_col: str = "doc_id") -> DataFrame:
    """(doc_id, payload binary) of deterministic complete WAVs."""
    return synth_payloads(df, key_col, _synth_wav)


def decode_wav_stats_bytes(payload: bytes) -> tuple:
    """(sample_rate, channels, n_frames, sum_sq, peak) or (None,)*5
    for anything outside integer-PCM 8/16/24-bit scope. Never
    raises."""
    try:
        if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
            return (None,) * 5
        pos, n = 12, len(payload)
        rate = ch = bits = None
        data: bytes | None = None
        while pos + 8 <= n:
            cid = payload[pos:pos + 4]
            size = struct.unpack("<I", payload[pos + 4:pos + 8])[0]
            body = payload[pos + 8:pos + 8 + size]
            if len(body) < size:
                return (None,) * 5  # truncated container
            if cid == b"fmt ":
                if size < 16:
                    return (None,) * 5
                tag, ch, rate, _, _, bits = struct.unpack(
                    "<HHIIHH", body[:16])
                if tag != 1 or bits not in (8, 16, 24):
                    return (None,) * 5  # float/32-bit/etc: scope
            elif cid == b"data":
                data = body
            pos += 8 + size + (size & 1)  # chunks are word-aligned
        if rate is None or ch is None or ch == 0 or data is None:
            return (None,) * 5
        if bits == 16:
            ns = len(data) // 2
            samples = struct.unpack(f"<{ns}h", data[:ns * 2])
        elif bits == 8:
            # 8-bit WAV PCM is UNSIGNED, center 128 (the format's one
            # unsigned depth)
            samples = [b - 128 for b in data]
        else:  # 24-bit signed little-endian, 3 bytes per sample
            ns = len(data) // 3
            samples = []
            for o in range(0, ns * 3, 3):
                v = (data[o] | (data[o + 1] << 8)
                     | (data[o + 2] << 16))
                samples.append(v - (1 << 24) if v & 0x800000 else v)
        sum_sq = 0
        peak = 0
        for v in samples:
            sum_sq += v * v
            a = -v if v < 0 else v
            if a > peak:
                peak = a
        return (rate, ch, len(samples) // ch, sum_sq, peak)
    except Exception:
        return (None,) * 5


def decode_wav_stats(df: DataFrame, key_col: str = "doc_id",
                     payload_col: str = "payload") -> DataFrame:
    """binary WAV payloads -> exact PCM statistics via Arrow-batched
    UDF; one pass, no shuffle — the audio twin of
    ``decode_image_pixels``."""
    return arrow_map(df, [key_col], payload_col, AUDIO_STATS_SCHEMA,
                     lambda p: (decode_wav_stats_bytes(p),))


# ----------------------------------------------- MPEG audio headers
#
# MP3 is the other audio format a web corpus actually contains. The
# frame-header walk (public ISO/IEC 11172-3 layout: 11-bit sync,
# version/layer bits, bitrate + sample-rate table indices, padding
# bit, channel mode) plus the ID3v2 tag skip (syncsafe 28-bit size)
# gives the cataloging metadata — bitrate, sample rate, channels,
# frame count, duration — without any entropy decode, exactly like
# the parse-only video_meta tier. Full PCM decode of MP3 (hybrid
# filterbank) is deployment codec scope behind the same signature.

#: MPEG-1 Layer III bitrate table, kbps (index 1..14)
_MP3_BITRATES = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
                 224, 256, 320)
#: MPEG-1 sample-rate table (index 0..2)
_MP3_RATES = (44100, 48000, 32000)
_MP3_SAMPLES_PER_FRAME = 1152


def _mp3_params(doc_id: int) -> tuple[int, int, int, int]:
    """(bitrate_kbps, sample_rate, channels, n_frames) —
    closed-form, mirrored by the SQL oracle."""
    return (96 + 16 * (doc_id % 3),          # table indices 7/8/9
            _MP3_RATES[doc_id % 3],
            1 + doc_id % 2,
            4 + doc_id % 4)


def _synth_mp3(doc_id: int) -> bytes:
    """A COMPLETE MPEG-1 Layer III stream: an ID3v2.3 tag on every
    2nd doc (syncsafe size, (doc_id % 7) * 3 bytes of padding), then
    n_frames true-length frames (the padding bit alternates per
    frame, so the walk must honor it)."""
    kbps, sr, ch, n = _mp3_params(doc_id)
    br_idx = _MP3_BITRATES.index(kbps)
    sr_idx = _MP3_RATES.index(sr)
    mode = 3 if ch == 1 else 0  # mono / stereo
    out = bytearray()
    if doc_id % 2 == 1:
        tag_sz = (doc_id % 7) * 3
        out += (b"ID3\x03\x00\x00"
                + bytes([(tag_sz >> 21) & 0x7F, (tag_sz >> 14) & 0x7F,
                         (tag_sz >> 7) & 0x7F, tag_sz & 0x7F])
                + b"\x00" * tag_sz)
    for i in range(n):
        pad = (i + doc_id) % 2
        flen = 144 * kbps * 1000 // sr + pad
        hdr = bytes([0xFF, 0xFB,
                     (br_idx << 4) | (sr_idx << 2) | (pad << 1),
                     mode << 6])
        body = bytes((7 * doc_id + 11 * i + j) % 256
                     for j in range(flen - 4))
        out += hdr + body
    return bytes(out)


def synth_mp3_audio(df: DataFrame,
                    key_col: str = "doc_id") -> DataFrame:
    """Deterministic MP3 fixture blobs (see :func:`_synth_mp3`)."""
    return synth_payloads(df, key_col, _synth_mp3)


def parse_mp3_meta(payload: bytes) -> tuple:
    """ID3v2 skip + MPEG-1 Layer III frame-header walk ->
    (sample_rate, channels, n_frames, bitrate_kbps, duration_ms);
    (None,)*5 for anything that is not a clean MPEG-1 L3 stream
    (free-form/reserved indices, MPEG-2, truncated tail frames) —
    never raises."""
    try:
        pos, n = 0, len(payload)
        if payload[:3] == b"ID3" and n >= 10:
            size = ((payload[6] & 0x7F) << 21) \
                | ((payload[7] & 0x7F) << 14) \
                | ((payload[8] & 0x7F) << 7) | (payload[9] & 0x7F)
            # flags bit 4: a 10-byte footer follows the tag body
            pos = 10 + size + (10 if payload[5] & 0x10 else 0)
        frames = 0
        kbps = sr = ch = None
        while pos + 4 <= n:
            b0, b1, b2, b3 = payload[pos:pos + 4]
            # 11-bit sync + version bits 11 (MPEG-1) + layer bits 01
            # (Layer III) -> b1 is 0xFA (CRC-protected) or 0xFB.
            # Masking with 0xFE (not 0xFB, which drops the layer
            # high bit) keeps Layer I/II streams OUT of the L3
            # tables and lets protected L3 streams IN
            if b0 != 0xFF or (b1 & 0xFE) != 0xFA:
                return (None,) * 5  # sync lost / not MPEG-1 L3
            br_idx, sr_idx = b2 >> 4, (b2 >> 2) & 3
            if br_idx in (0, 15) or sr_idx == 3:
                return (None,) * 5  # free-form/reserved
            f_kbps = _MP3_BITRATES[br_idx]
            f_sr = _MP3_RATES[sr_idx]
            f_ch = 1 if (b3 >> 6) == 3 else 2
            if frames == 0:
                kbps, sr, ch = f_kbps, f_sr, f_ch
            elif (f_kbps, f_sr, f_ch) != (kbps, sr, ch):
                return (None,) * 5  # VBR = deployment scope
            flen = 144 * f_kbps * 1000 // f_sr + ((b2 >> 1) & 1)
            if pos + flen > n:
                return (None,) * 5  # truncated final frame
            pos += flen
            frames += 1
        if frames == 0 or pos != n:
            return (None,) * 5
        dur_ms = frames * _MP3_SAMPLES_PER_FRAME * 1000 // sr
        return (sr, ch, frames, kbps, dur_ms)
    except Exception:
        return (None,) * 5


def decode_mp3_meta(df: DataFrame, key_col: str = "doc_id",
                    payload_col: str = "payload") -> DataFrame:
    """binary MP3 payloads -> header-walk metadata (no entropy
    decode). Same Arrow map-stage scale shape as the WAV decoder;
    output reuses AUDIO_STATS_SCHEMA's columns with sum_sq carrying
    bitrate_kbps and peak carrying duration_ms (the variant-tagged
    merge idiom — the driver query labels the arm)."""
    return arrow_map(df, [key_col], payload_col, AUDIO_STATS_SCHEMA,
                     lambda p: (parse_mp3_meta(p),))


# --------------------------------------------------- FLAC STREAMINFO
#
# FLAC (public xiph spec) rounds out the audio-catalog triad: WAV is
# decoded fully, MP3 and FLAC at the metadata tier. STREAMINFO is
# the mandatory first metadata block — sample rate (20 bits),
# channels (3 bits, stored -1), bits per sample (5 bits, stored -1)
# and total samples (36 bits) bit-packed big-endian. Frame decode
# (rice-coded subframes) is deployment codec scope.


def _flac_params(doc_id: int) -> tuple[int, int, int, int]:
    """(sample_rate, channels, bits_per_sample, total_samples) —
    closed-form, mirrored by the SQL oracle."""
    return ((44100, 48000, 96000)[doc_id % 3],
            1 + doc_id % 2,
            (16, 24, 8)[doc_id % 3],
            1000 + 100 * (doc_id % 10))


def _synth_flac(doc_id: int) -> bytes:
    """'fLaC' + a last-flagged STREAMINFO block with the closed-form
    fields bit-packed per spec (min/max block and frame sizes
    deterministic, MD5 zeroed), then a VORBIS_COMMENT block the
    walk must skip when STREAMINFO is not last."""
    sr, ch, bps, total = _flac_params(doc_id)
    body = struct.pack(">HH", 4096, 4096)          # min/max block
    body += (b"\x00\x00\x20" * 2)                  # min/max frame
    packed = (sr << 44) | ((ch - 1) << 41) | ((bps - 1) << 36) | total
    body += packed.to_bytes(8, "big")
    body += b"\x00" * 16                           # MD5
    last = doc_id % 2 == 0
    out = bytearray(b"fLaC")
    out += bytes([0x80 if last else 0x00]) + b"\x00\x00\x22" + body
    if not last:
        vc = b"\x04\x00\x00\x08" + b"\x00\x00\x00\x04ref\x00"
        out += bytes([vc[0] | 0x80]) + vc[1:]
    return bytes(out)


def synth_flac_audio(df: DataFrame,
                     key_col: str = "doc_id") -> DataFrame:
    """Deterministic FLAC fixture blobs (see :func:`_synth_flac`)."""
    return synth_payloads(df, key_col, _synth_flac)


def parse_flac_meta(payload: bytes) -> tuple:
    """'fLaC' STREAMINFO walk -> (sample_rate, channels, n_frames=
    total_samples, bits_per_sample, duration_ms); (None,)*5 for
    anything that is not a well-formed FLAC header — never raises."""
    try:
        if payload[:4] != b"fLaC":
            return (None,) * 5
        pos, n = 4, len(payload)
        while pos + 4 <= n:
            hdr = payload[pos]
            btype, last = hdr & 0x7F, bool(hdr & 0x80)
            blen = int.from_bytes(payload[pos + 1:pos + 4], "big")
            if pos + 4 + blen > n:
                return (None,) * 5  # truncated block
            if btype == 0:  # STREAMINFO
                if blen != 34:
                    return (None,) * 5
                b = payload[pos + 4:pos + 4 + 34]
                packed = int.from_bytes(b[10:18], "big")
                sr = packed >> 44
                ch = ((packed >> 41) & 0x7) + 1
                bps = ((packed >> 36) & 0x1F) + 1
                total = packed & ((1 << 36) - 1)
                if sr == 0:
                    return (None,) * 5
                return (sr, ch, total, bps, total * 1000 // sr)
            if last:
                break
            pos += 4 + blen
        return (None,) * 5  # no STREAMINFO: corrupt per spec
    except Exception:
        return (None,) * 5


def decode_flac_meta(df: DataFrame, key_col: str = "doc_id",
                     payload_col: str = "payload") -> DataFrame:
    """binary FLAC payloads -> STREAMINFO metadata in the shared
    AUDIO_STATS_SCHEMA columns (sum_sq carries bits_per_sample,
    peak carries duration_ms — the variant-tagged merge idiom)."""
    return arrow_map(df, [key_col], payload_col, AUDIO_STATS_SCHEMA,
                     lambda p: (parse_flac_meta(p),))
