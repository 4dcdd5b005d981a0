"""Tar shard source — the WebDataset layout of multimodal training
data.

Large-scale multimodal corpora ship as tar shards whose members
group into samples by basename stem (``sample0.jpg`` +
``sample0.cls`` + ``sample0.json`` = one sample) — the public
WebDataset convention. This module hand-rolls the POSIX ustar
member walk (512-byte blocks, octal sizes, prefix+name fields,
zero-block terminator) with the same torn-input resilience as the
WARC walk, handles whole-shard gzip (``.tar.gz``), and exposes
both the per-member rows and the stem-grouped sample view.

Scale shape: member extraction is one Arrow map stage per shard row
— no shuffle; the sample grouping is ONE partial-agg groupBy on
(shard, stem), the natural relational op. At 100 TB each input row
is one shard (the unit WebDataset already sizes for sequential
I/O), so a 1000-executor cluster streams members per-partition.
"""
from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from html_parser_spark.arrowmap import arrow_map, synth_payloads
from html_parser_spark.sources.warc import _gunzip_members

__all__ = ["parse_tar", "synth_tar_shards", "tar_members",
           "webdataset_samples", "parse_zip", "synth_zip_shards",
           "zip_members"]


# ----------------------------------------------------- fixture build


def _tar_header(name: str, size: int) -> bytes:
    h = bytearray(512)
    nb = name.encode("utf-8")
    h[0:len(nb)] = nb                       # name (<= 100)
    h[100:108] = b"0000644\x00"             # mode
    h[108:116] = b"0000000\x00"             # uid
    h[116:124] = b"0000000\x00"             # gid
    h[124:136] = f"{size:011o}".encode() + b"\x00"
    h[136:148] = b"00000000000\x00"         # mtime
    h[148:156] = b" " * 8                   # checksum (spaces first)
    h[156] = 0x30                           # typeflag '0' regular
    h[257:263] = b"ustar\x00"
    h[263:265] = b"00"
    chk = sum(h)
    h[148:156] = f"{chk:06o}".encode() + b"\x00 "
    return bytes(h)


def _member_bytes(doc_id: int, j: int) -> list[tuple[str, bytes]]:
    """One WebDataset sample's members (alphabetical by extension) —
    closed-form, mirrored by the SQL oracle."""
    stem = f"shard/sample{j}-{doc_id}"
    return [
        (f"{stem}.cls", str(doc_id % 10).encode()),
        (f"{stem}.json", f'{{"id": {doc_id}}}'.encode()),
        (f"{stem}.txt", f"text {j} of doc {doc_id}".encode()),
    ]


def _synth_tar(doc_id: int) -> bytes:
    """A COMPLETE valid ustar shard with 1 + doc_id % 2 samples of
    three members each, padded data blocks and the two-zero-block
    terminator; every 3rd-mod-1 doc is a whole-shard .tar.gz."""
    import gzip

    out = bytearray()
    for j in range(1 + doc_id % 2):
        for name, data in _member_bytes(doc_id, j):
            out += _tar_header(name, len(data))
            out += data
            pad = (-len(data)) % 512
            out += b"\x00" * pad
    out += b"\x00" * 1024
    if doc_id % 3 == 1:
        return gzip.compress(bytes(out), mtime=0)
    return bytes(out)


def synth_tar_shards(df: DataFrame,
                     key_col: str = "doc_id") -> DataFrame:
    """Deterministic WebDataset-style tar shard blobs (see
    :func:`_synth_tar`)."""
    return synth_payloads(df, key_col, _synth_tar)


# ------------------------------------------------------- parse side


def parse_tar(payload: bytes) -> list[tuple[str, bytes]]:
    """ustar walk -> [(member_name, data), ...] for regular files.
    Gzip shards are inflated first; non-regular members (dirs,
    links, pax headers) are skipped; a corrupt header ends the walk
    at the last good member (torn-shard resilience). Never
    raises."""
    try:
        if payload[:2] == b"\x1f\x8b":
            plain = _gunzip_members(payload)
            if plain is None:
                return []
            payload = plain
        elif payload[:3] == b"BZh":
            import bz2
            payload = bz2.decompress(payload)
        elif payload[:6] == b"\xfd7zXZ\x00":
            import lzma
            payload = lzma.decompress(payload)
        out: list[tuple[str, bytes]] = []
        pos, n = 0, len(payload)
        pending_name: str | None = None
        while pos + 512 <= n:
            block = payload[pos:pos + 512]
            if block == b"\x00" * 512:
                break  # terminator
            if block[257:262] != b"ustar":
                break  # corrupt header
            try:
                size = int(block[124:136].split(b"\x00")[0]
                           .strip() or b"0", 8)
            except ValueError:
                break
            if size < 0 or pos + 512 + size > n:
                break  # torn member
            name = block[0:100].split(b"\x00")[0].decode(
                "utf-8", "replace")
            prefix = block[345:500].split(b"\x00")[0].decode(
                "utf-8", "replace")
            if prefix:
                name = prefix + "/" + name
            typeflag = block[156]
            data = payload[pos + 512:pos + 512 + size]
            pos += 512 + size + ((-size) % 512)
            if typeflag == 0x4C:  # GNU longname: names the NEXT one
                pending_name = data.split(b"\x00")[0].decode(
                    "utf-8", "replace")
            elif typeflag == 0x78:  # pax header: 'len key=value\n'
                for rec in data.split(b"\n"):
                    _, _, kv = rec.partition(b" ")
                    k, sep, v = kv.partition(b"=")
                    if sep and k == b"path":
                        pending_name = v.decode("utf-8", "replace")
            elif typeflag in (0x30, 0x00):  # regular file
                out.append((pending_name or name, data))
                pending_name = None
            else:
                pending_name = None  # dirs/links reset the override
        return out
    except Exception:
        return []


_MEMBERS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("member_idx", T.IntegerType()),
    T.StructField("name", T.StringType()),
    T.StructField("stem", T.StringType()),
    T.StructField("ext", T.StringType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("body", T.BinaryType()),
    T.StructField("body_text", T.StringType()),
])


def _member_rows(members: list[tuple[str, bytes]]):
    """(name, data) members of one shard -> member rows after doc_id:
    (member_idx, name, stem, ext, n_bytes, body, body_text). The stem
    is the basename up to its first dot with the directory path kept;
    body_text is the UTF-8 decode, or None for non-UTF-8 bytes."""
    for i, (name, data) in enumerate(members):
        d, _, b = name.rpartition("/")
        dot = b.find(".")
        stem = (d + "/" if d else "") + (b[:dot] if dot > 0 else b)
        ext = b[dot + 1:] if dot > 0 else ""
        try:
            txt = data.decode("utf-8")
        except UnicodeDecodeError:
            txt = None
        yield i, name, stem, ext, len(data), data, txt


def tar_members(df: DataFrame, key_col: str = "doc_id",
                payload_col: str = "payload") -> DataFrame:
    """binary tar shards -> one row per regular member, with the
    WebDataset stem/ext split (basename up to the first dot; the
    directory path stays in the stem so same-named files in
    different dirs don't collide). ``body`` carries the raw member
    bytes — binary members (images/audio/video) route straight into
    the media decoders from here — and ``body_text`` is the UTF-8
    decode when the member is valid text, else NULL. One Arrow map
    stage, no shuffle; at 100 TB select AWAY the body column in
    metadata-only queries so column pruning keeps the bytes on
    disk."""
    return arrow_map(df, [key_col], payload_col, _MEMBERS_SCHEMA,
                     lambda p: _member_rows(parse_tar(p)))


def webdataset_samples(members: DataFrame) -> DataFrame:
    """member rows -> one row per WebDataset SAMPLE: (doc_id, stem,
    n_members, exts as a sorted '+'-joined tag, total bytes). ONE
    partial-agg groupBy on (shard, stem) — map-side combine, no
    skew (stems are near-unique by construction)."""
    return (members.groupBy("doc_id", "stem").agg(
        F.count("*").cast("int").alias("n_members"),
        F.array_join(F.array_sort(F.collect_list("ext")), "+")
        .alias("exts"),
        F.sum("n_bytes").alias("total_bytes")))


# ------------------------------------------------------- zip shards
#
# The other container datasets actually ship in (image sets, Kaggle
# dumps). The walk reads the END-OF-CENTRAL-DIRECTORY record and the
# central directory — the correct way to read a zip (local headers
# alone mis-handle appended/overwritten entries) — then each local
# header's actual name/extra lengths locate the data. Stored and
# deflate members (zlib) are supported; other methods are skipped.


def _zip_build(members: list[tuple[str, bytes]],
               deflate: bool = False) -> bytes:
    """Minimal correct zip writer for fixtures (stored or raw
    deflate), with real CRC-32s and a proper central directory."""
    import zlib

    out = bytearray()
    central = bytearray()
    offsets = []
    method = 8 if deflate else 0
    for name, data in members:
        nb = name.encode()
        crc = zlib.crc32(data) & 0xFFFFFFFF
        if deflate:
            c = zlib.compressobj(6, zlib.DEFLATED, -15)
            blob = c.compress(data) + c.flush()
        else:
            blob = data
        offsets.append(len(out))
        out += (b"PK\x03\x04" + struct.pack(
            "<HHHHHIIIHH", 20, 0, method, 0, 0, crc, len(blob),
            len(data), len(nb), 0) + nb + blob)
    for (name, data), off in zip(members, offsets):
        nb = name.encode()
        crc = zlib.crc32(data) & 0xFFFFFFFF
        csize = struct.unpack(
            "<I", out[off + 18:off + 22])[0]
        central += (b"PK\x01\x02" + struct.pack(
            "<HHHHHHIIIHHHHHII", 20, 20, 0, method, 0, 0, crc,
            csize, len(data), len(nb), 0, 0, 0, 0, 0, off) + nb)
    eocd = (b"PK\x05\x06" + struct.pack(
        "<HHHHIIH", 0, 0, len(members), len(members),
        len(central), len(out), 0))
    return bytes(out + central + eocd)


def parse_zip(payload: bytes) -> list[tuple[str, bytes]]:
    """zip -> [(member_name, data), ...] via the EOCD + central
    directory. Stored and deflate members decode; others and
    corrupt/truncated entries are skipped (never raises). Data
    prepended to the archive (a self-extractor stub, a zip embedded at
    an offset) shifts the central directory and every local header by
    the distance between the EOCD and where the directory says it
    ends. ZIP64 is not supported: an archive over 65,535 entries or
    4 GiB keeps its real counts and offsets in the ZIP64 records this
    parser does not read, so it yields no members or only some."""
    import struct as _s
    import zlib

    try:
        # EOCD: scan back past an up-to-64KB comment
        tail = payload[-(65536 + 22):]
        i = tail.rfind(b"PK\x05\x06")
        if i < 0:
            return []
        eocd = len(payload) - len(tail) + i
        n_entries, _, cd_size, cd_off = _s.unpack(
            "<HHII", tail[i + 8:i + 20])
        # bytes prepended; a directory that claims to end past the
        # EOCD is read where it says, as before
        shift = max(0, eocd - (cd_off + cd_size))
        out: list[tuple[str, bytes]] = []
        pos = cd_off + shift
        for _ in range(min(n_entries, len(payload) // 46 + 1)):
            if payload[pos:pos + 4] != b"PK\x01\x02":
                break
            (method, crc, csize, usize, nlen, elen, clen,
             off) = _s.unpack(
                "<H4xIIIHHH8xI", payload[pos + 10:pos + 46])
            name = payload[pos + 46:pos + 46 + nlen].decode(
                "utf-8", "replace")
            pos += 46 + nlen + elen + clen
            off += shift
            lh = payload[off:off + 30]
            if lh[:4] != b"PK\x03\x04":
                continue
            lnlen, lelen = _s.unpack("<HH", lh[26:30])
            dstart = off + 30 + lnlen + lelen
            blob = payload[dstart:dstart + csize]
            if len(blob) < csize:
                continue  # torn member
            if method == 0:
                data = blob
            elif method == 8:
                try:
                    data = zlib.decompress(blob, -15)
                except zlib.error:
                    continue
            else:
                continue  # unsupported method: skip, don't lie
            if zlib.crc32(data) & 0xFFFFFFFF != crc \
                    or len(data) != usize:
                continue  # corrupt payload
            out.append((name, data))
        return out
    except Exception:
        return []


def _synth_zip(doc_id: int) -> bytes:
    """Same closed-form WebDataset members as :func:`_synth_tar`,
    zip-packed; every other doc deflates."""
    members = [m for j in range(1 + doc_id % 2)
               for m in _member_bytes(doc_id, j)]
    return _zip_build(members, deflate=doc_id % 2 == 1)


def synth_zip_shards(df: DataFrame,
                     key_col: str = "doc_id") -> DataFrame:
    """Deterministic zip shard blobs (see :func:`_synth_zip`)."""
    return synth_payloads(df, key_col, _synth_zip)


def zip_members(df: DataFrame, key_col: str = "doc_id",
                payload_col: str = "payload") -> DataFrame:
    """binary zip shards -> the same member-row shape as
    :func:`tar_members` (stem/ext split, raw body + text decode), so
    downstream WebDataset grouping and media routing are
    container-agnostic."""
    return arrow_map(df, [key_col], payload_col, _MEMBERS_SCHEMA,
                     lambda p: _member_rows(parse_zip(p)))
