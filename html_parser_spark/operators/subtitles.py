"""Subtitle-file parsing: WebVTT and SRT cue extraction.

The standalone caption formats of a web video corpus (the W3C WebVTT
spec and the de-facto SubRip format) — the file-based complement of
the in-container tx3g track in `video.py`. Each document becomes
(cue_idx, start_ms, end_ms, text) rows: timestamped training text,
the same shape the MP4 caption walk produces, so downstream
curation treats both sources identically.

Parsing is line-oriented and resilient the way real players are:
unparseable cue blocks are skipped (a torn cue must not take down
the file), NOTE/STYLE/REGION blocks are ignored, both ``.``- and
``,``-millisecond separators and the optional hour field are
accepted in either format. One Arrow map stage, no shuffle — the
standard text-operator scale shape.
"""
from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from html_parser_spark.arrowmap import arrow_map

__all__ = ["parse_subtitles", "subtitle_cues", "synth_subtitles"]

#: "HH:MM:SS.mmm --> HH:MM:SS.mmm" with optional hours and either
#: millisecond separator (VTT uses '.', SRT uses ',')
_CUE_TIME = re.compile(
    r"(?:(\d+):)?(\d{1,2}):(\d{2})[.,](\d{3})"
    r"\s*-->\s*"
    r"(?:(\d+):)?(\d{1,2}):(\d{2})[.,](\d{3})")

_SKIP_BLOCKS = ("NOTE", "STYLE", "REGION")


def _ts_ms(h: str | None, m: str, s: str, ms: str) -> int:
    return ((int(h or 0) * 60 + int(m)) * 60 + int(s)) * 1000 \
        + int(ms)


def _synth_subtitle_text(doc_id: int) -> str:
    """Closed-form fixture: even docs WebVTT, odd docs SRT, with
    1 + doc_id % 3 cues; cue i runs [i*65432 + (d%7)*1000,
    +2500) ms and reads 'cue <i> of doc <d>'. The VTT docs carry a
    NOTE block and a cue identifier line; the SRT docs carry the
    1-based index lines — every format-specific wrinkle the parser
    must skip."""
    d = doc_id
    n = 1 + d % 3
    lines: list[str] = []
    vtt = d % 2 == 0

    def fmt(ms: int, sep: str) -> str:
        h, rem = divmod(ms, 3600_000)
        m, rem = divmod(rem, 60_000)
        s, ms_ = divmod(rem, 1000)
        return f"{h:02d}:{m:02d}:{s:02d}{sep}{ms_:03d}"

    if vtt:
        lines += ["WEBVTT", "", "NOTE synthetic fixture", ""]
    for i in range(n):
        start = i * 65_432 + (d % 7) * 1_000
        if vtt:
            lines += [f"cue-{i}",
                      f"{fmt(start, '.')} --> {fmt(start + 2500, '.')}"]
        else:
            lines += [str(i + 1),
                      f"{fmt(start, ',')} --> {fmt(start + 2500, ',')}"]
        lines += [f"cue {i} of doc {d}", ""]
    return "\n".join(lines)


def synth_subtitles(df: DataFrame,
                    key_col: str = "doc_id") -> DataFrame:
    """Deterministic subtitle-file fixtures (see
    :func:`_synth_subtitle_text`)."""
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("sub_text", T.StringType()),
    ])

    return arrow_map(df, [key_col], F.col(key_col).cast("long"), schema,
                     lambda d: ((_synth_subtitle_text(d),),))


def parse_subtitles(text: str) -> list[tuple[str, int, int, str]]:
    """Subtitle text -> [(fmt, start_ms, end_ms, cue_text), ...] in
    file order. fmt is 'vtt' (WEBVTT header present) or 'srt'.
    Cue-identifier / index lines, NOTE/STYLE/REGION blocks, and
    unparseable blocks are skipped; never raises."""
    try:
        lines = text.replace("\r\n", "\n").replace("\r", "\n") \
            .split("\n")
        fmt = "vtt" if lines and lines[0].strip() \
            .startswith("WEBVTT") else "srt"
        cues: list[tuple[str, int, int, str]] = []
        i = 1 if fmt == "vtt" else 0
        n = len(lines)
        while i < n:
            line = lines[i].strip()
            if not line:
                i += 1
                continue
            if fmt == "vtt" and line.split(" ")[0] in _SKIP_BLOCKS:
                while i < n and lines[i].strip():
                    i += 1
                continue
            m = _CUE_TIME.search(line)
            if m is None:
                # cue identifier / SRT index: timing is on the next
                # line — otherwise this block is noise, skip it
                if i + 1 < n:
                    m = _CUE_TIME.search(lines[i + 1])
                if m is None:
                    while i < n and lines[i].strip():
                        i += 1
                    continue
                i += 1
            start = _ts_ms(m.group(1), m.group(2), m.group(3),
                           m.group(4))
            end = _ts_ms(m.group(5), m.group(6), m.group(7),
                         m.group(8))
            i += 1
            body: list[str] = []
            while i < n and lines[i].strip():
                body.append(lines[i].strip())
                i += 1
            cues.append((fmt, start, end, "\n".join(body)))
        return cues
    except Exception:
        return []


_CUES_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("fmt", T.StringType()),
    T.StructField("cue_idx", T.IntegerType()),
    T.StructField("start_ms", T.LongType()),
    T.StructField("end_ms", T.LongType()),
    T.StructField("text", T.StringType()),
])


def subtitle_cues(df: DataFrame, key_col: str = "doc_id",
                  text_col: str = "sub_text") -> DataFrame:
    """subtitle documents -> one row per cue. One Arrow map stage,
    no shuffle; files that parse to nothing contribute no rows."""
    def cues(text):
        for idx, (fmt, s, e, txt) in enumerate(parse_subtitles(text)):
            yield fmt, idx, s, e, txt

    return arrow_map(df, [key_col], text_col, _CUES_SCHEMA, cues)
