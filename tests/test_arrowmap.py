"""The shared per-row Arrow boundary (``html_parser_spark.arrowmap``):
fan-out and key handling, and the NULL-payload rule every binary
decoder gets from it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _payload_ops():
    from html_parser_spark.operators import audio, media, pdf, video
    from html_parser_spark.sources import tarshard, warc

    return {
        "warc_records": warc.warc_records,
        "tar_members": tarshard.tar_members,
        "zip_members": tarshard.zip_members,
        "sample_video_frames": video.sample_video_frames,
        "extract_video_captions": video.extract_video_captions,
        "video_meta": video.video_meta,
        "decode_wav_stats": audio.decode_wav_stats,
        "decode_mp3_meta": audio.decode_mp3_meta,
        "decode_flac_meta": audio.decode_flac_meta,
        "decode_image_meta": media.decode_image_meta,
        "decode_image_pixels": media.decode_image_pixels,
        "sample_frames": media.sample_frames,
        "extract_pdf_text": pdf.extract_pdf_text,
    }


@pytest.mark.parametrize("name", sorted(_payload_ops()))
def test_null_payload_rows_equal_empty_payload_rows(spark, name):
    """A NULL payload yields the same rows as ``b""`` (``doc_id``
    aside), never a worker TypeError."""
    df = spark.createDataFrame([(1, None), (2, b"")],
                               "doc_id long, payload binary")
    rows = _payload_ops()[name](df).collect()
    by_doc = {1: [], 2: []}
    for r in rows:
        d = r.asDict()
        by_doc[d.pop("doc_id")].append(d)
    assert by_doc[1] == by_doc[2], rows


def test_arrow_map_fans_out_and_casts_keys(spark):
    """0, 1 and N output rows per input row; keys are cast to the
    schema's types and copied to every row the input row emits; a
    NULL string reaches ``fn`` as ``""``."""
    from html_parser_spark.arrowmap import arrow_map

    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("tag", T.StringType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("chars", T.ArrayType(T.StringType())),
    ])
    df = spark.createDataFrame(
        [("7", "t", "abc"), ("8", "u", None), ("9", "v", "z")],
        "id string, t string, s string")

    def fn(s):
        for i, ch in enumerate(s):
            yield i, [ch] * (i + 1)

    out = arrow_map(df, ["id", "t"], "s", schema, fn)
    assert out.schema["k"].dataType == T.LongType()
    got = sorted(tuple(r) for r in out.collect())
    assert got == [(7, "t", 0, ["a"]), (7, "t", 1, ["b", "b"]),
                   (7, "t", 2, ["c", "c", "c"]), (9, "v", 0, ["z"])]
    # the value may be an expression, and may be the key itself
    same = arrow_map(df, ["id"], F.col("id").cast("long"),
                     T.StructType([T.StructField("k", T.LongType()),
                                   T.StructField("sq", T.LongType())]),
                     lambda k: ((k * k,),))
    assert sorted(tuple(r) for r in same.collect()) == [
        (7, 49), (8, 64), (9, 81)]
