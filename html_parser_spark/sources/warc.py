"""WARC (ISO 28500) web-archive source — the container format of
Common Crawl and every standard web-scale corpus.

A `.warc` file is concatenated records: a ``WARC/1.0`` version line,
``Name: value`` headers, a blank line, ``Content-Length`` bytes of
body, and a ``\\r\\n\\r\\n`` separator. A ``.warc.gz`` is the same
records each compressed as its OWN gzip member, concatenated — the
member boundaries are what make the format splittable at scale.
``response`` records carry a full HTTP response; the HTML body after
the HTTP header split is what feeds the extraction pipeline. All
from the public ISO 28500 / WARC 1.1 spec; stdlib only.

Scale shape: parsing is one Arrow-batched map stage over binary
payloads, no shuffle. At 100 TB each input row is one WARC segment
(the natural unit: a crawl shard or a gzip member run), so a
1000-executor cluster fans records out per-partition; the standard
production pattern is parse-once -> persist the records table ->
run extraction/curation over it (see ``scripts``' resumable-pipeline
pattern), never re-parse per downstream query.

Reference parity note: the reference engine (gisle/html-parser)
parses HTML strings it is handed (`Parser.pm:103-130` parse/parse_file);
fetching bytes out of an archive container is the caller's job
there. This module is that caller for the dominant public archive
format, so the engine covers crawl-to-text end-to-end.
"""
from __future__ import annotations

import gzip
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from html_parser_spark.arrowmap import arrow_map

__all__ = ["synth_warc", "parse_warc", "warc_records"]

_CRLF2 = b"\r\n\r\n"


# ----------------------------------------------------- fixture build


def _warc_record(warc_type: str, rec_id: str, body: bytes,
                 uri: str | None = None,
                 content_type: str | None = None) -> bytes:
    heads = [("WARC-Type", warc_type),
             ("WARC-Date", "2026-01-01T00:00:00Z"),
             ("WARC-Record-ID", f"<urn:uuid:{rec_id}>")]
    if uri is not None:
        heads.append(("WARC-Target-URI", uri))
    if content_type is not None:
        heads.append(("Content-Type", content_type))
    heads.append(("Content-Length", str(len(body))))
    head = "WARC/1.0\r\n" + "".join(
        f"{k}: {v}\r\n" for k, v in heads) + "\r\n"
    return head.encode("ascii") + body + _CRLF2


def _synth_warc_bytes(doc_id: int, html: str) -> bytes:
    """One deterministic WARC segment: warcinfo + request + response
    (HTTP/1.1 200 with the HTML payload). Every 3rd-mod-2 doc is a
    .warc.gz-style segment — each record its own gzip member."""
    uri = f"https://ex.com/d/{doc_id}"
    info_body = (b"software: graft-engine\r\n"
                 b"format: WARC file version 1.0\r\n")
    req_body = (f"GET /d/{doc_id} HTTP/1.1\r\n"
                f"Host: ex.com\r\nUser-Agent: graft\r\n\r\n"
                ).encode("ascii")
    html_b = html.encode("utf-8")
    resp_body = (f"HTTP/1.1 200 OK\r\n"
                 f"Content-Type: text/html; charset=utf-8\r\n"
                 f"Content-Length: {len(html_b)}\r\n\r\n"
                 ).encode("ascii") + html_b
    recs = [
        _warc_record("warcinfo", f"{doc_id}-0", info_body,
                     content_type="application/warc-fields"),
        _warc_record("request", f"{doc_id}-1", req_body, uri=uri,
                     content_type="application/http;msgtype=request"),
        _warc_record("response", f"{doc_id}-2", resp_body, uri=uri,
                     content_type="application/http;msgtype=response"),
    ]
    if doc_id % 3 == 2:
        # per-record gzip members, concatenated (the .warc.gz layout)
        return b"".join(gzip.compress(r, mtime=0) for r in recs)
    return b"".join(recs)


def synth_warc(df: DataFrame, key_col: str = "conv_id",
               text_col: str = "text") -> DataFrame:
    """transcripts (conv_id, text=HTML) -> deterministic WARC
    segment blobs, one per document — a SQL oracle can predict every
    parsed record field and the extracted HTML text in closed
    form."""
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ])

    doc = F.struct(F.col(key_col).cast("long").alias("d"),
                   F.coalesce(F.col(text_col), F.lit("")).alias("t"))
    return arrow_map(df, [key_col], doc, schema,
                     lambda v: ((_synth_warc_bytes(v["d"], v["t"]),),))


# ------------------------------------------------------- parse side


def _gunzip_members(data: bytes) -> bytes | None:
    """Decompress a concatenation of gzip members (the .warc.gz
    layout). None on a corrupt stream."""
    out = bytearray()
    while data:
        d = zlib.decompressobj(wbits=31)
        try:
            out += d.decompress(data)
            out += d.flush()
        except zlib.error:
            return None
        if not d.eof:  # truncated member
            return None
        data = d.unused_data
    return bytes(out)


def parse_warc(payload: bytes) -> list[tuple[dict, bytes]]:
    """WARC segment -> [(headers, body), ...]. Header names are
    lower-cased; the version line is kept under ``'warc-version'``.
    Malformed records are skipped by resyncing on the next
    ``WARC/`` marker (the standard recovery — a torn record must
    not take down the rest of a 1 GB segment); a corrupt gzip
    segment yields []. Never raises."""
    try:
        if payload[:2] == b"\x1f\x8b":
            plain = _gunzip_members(payload)
            if plain is None:
                return []
            payload = plain
        records = []
        pos = 0
        n = len(payload)
        while pos < n:
            i = payload.find(b"WARC/", pos)
            if i < 0:
                break
            hdr_end = payload.find(_CRLF2, i)
            if hdr_end < 0:
                break
            lines = payload[i:hdr_end].decode(
                "latin-1").split("\r\n")
            heads = {"warc-version": lines[0]}
            ok = True
            for ln in lines[1:]:
                k, sep, v = ln.partition(":")
                if not sep:
                    ok = False
                    break
                heads[k.strip().lower()] = v.strip()
            clen = heads.get("content-length", "")
            if not ok or not clen.isdigit():
                pos = i + 5  # resync past this marker
                continue
            body_start = hdr_end + 4
            body_end = body_start + int(clen)
            if body_end > n:
                break  # truncated final record
            records.append((heads, payload[body_start:body_end]))
            pos = body_end
        return records
    except Exception:
        return []


def split_http(body: bytes) -> tuple[int | None, str | None, bytes]:
    """HTTP message -> (status, content-type, payload body). For a
    request (no status line) status is None. A message without the
    blank-line separator is returned whole with (None, None)."""
    sep = body.find(_CRLF2)
    if sep < 0:
        return None, None, body
    lines = body[:sep].decode("latin-1").split("\r\n")
    status: int | None = None
    parts = lines[0].split()
    if parts and parts[0].startswith("HTTP/") and len(parts) >= 2 \
            and parts[1].isdigit():
        status = int(parts[1])
    ctype = None
    for ln in lines[1:]:
        k, _, v = ln.partition(":")
        if k.strip().lower() == "content-type":
            ctype = v.strip()
            break
    return status, ctype, body[sep + 4:]


_RECORDS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("rec_idx", T.IntegerType()),
    T.StructField("warc_type", T.StringType()),
    T.StructField("uri", T.StringType()),
    T.StructField("http_status", T.IntegerType()),
    T.StructField("content_type", T.StringType()),
    T.StructField("n_body_bytes", T.LongType()),
    T.StructField("body", T.StringType()),
])


def warc_records(df: DataFrame, key_col: str = "doc_id",
                 payload_col: str = "payload") -> DataFrame:
    """binary WARC segments -> one row per record. For
    ``application/http`` records the HTTP envelope is split off:
    ``http_status``/``content_type`` come from the status line and
    headers, ``body``/``n_body_bytes`` are the payload AFTER the
    envelope (the HTML of a response, empty for a bare GET). Other
    records carry their raw body. One Arrow map stage, no shuffle;
    body text decodes utf-8 with replacement (a crawl is never
    uniformly valid)."""
    def records(payload):
        for idx, (heads, body) in enumerate(parse_warc(payload)):
            status, ctype = None, heads.get("content-type")
            if ctype and ctype.startswith("application/http"):
                status, ctype, body = split_http(body)
            yield (idx, heads.get("warc-type", ""),
                   heads.get("warc-target-uri"), status, ctype,
                   len(body), body.decode("utf-8", "replace"))

    return arrow_map(df, [key_col], payload_col, _RECORDS_SCHEMA,
                     records)
