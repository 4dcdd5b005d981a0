"""``textstats.lang_id``'s Python kernel against the JVM expression it
replaced, kept here as the reference: per profile, Σ (len(t) −
len(replace(t, g))) / len(g) over Spark's ``lower``, the first argmax
in profile order, the script-range fallback, and the top1 − top2
margin. Hypothesis draws arbitrary Unicode, profile grams and CJK
text, starting from the code points whose lowercase Spark and Python
disagree on.
"""

from __future__ import annotations

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from html_parser_spark.operators import textstats
from html_parser_spark.operators.textstats import (CJK_SCRIPT_RANGES,
                                                   LANG_TRIGRAMS)


def _jvm_lang_id(df: DataFrame, key_cols: list[str],
                 text_col: str = "text") -> DataFrame:
    """The JVM-expression ``lang_id``: gram counts as higher-order
    functions over a literal gram table, argmax and fallback as
    column expressions."""
    t = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    grams = F.array(*[F.array(*[F.lit(g) for g in tris])
                      for tris in LANG_TRIGRAMS.values()])
    scored = df.select(
        *key_cols,
        t.alias("_lang_t"),
        F.transform(grams, lambda tris: F.aggregate(
            tris, F.lit(0.0),
            lambda acc, g: acc
            + (F.length(t) - F.length(F.replace(t, g))) / F.length(g)
        )).alias("_lang_scores"))
    scores = F.col("_lang_scores")
    lt = F.col("_lang_t")
    best = F.array_max(scores)
    picked = F.element_at(
        F.array(*[F.lit(lang) for lang in LANG_TRIGRAMS]),
        F.array_position(scores, best).cast("int"))
    fallback = None
    for lang, rng in reversed(CJK_SCRIPT_RANGES):
        hit = F.length(F.regexp_replace(lt, f"[^{rng}]", "")) > 0
        fallback = F.when(hit, F.lit(lang)).otherwise(
            F.lit("other") if fallback is None else fallback)
    pred = F.when(best <= 0, fallback).otherwise(
        F.coalesce(picked, F.lit("other")))
    second = F.element_at(F.array_sort(scores), -2)
    return scored.select(
        *key_cols,
        pred.alias("lang_pred"),
        best.cast("long").alias("lang_score"),
        (best - second).cast("long").alias("lang_margin"),
    )


_GRAMS = sorted({g for tris in LANG_TRIGRAMS.values() for g in tris})
_TABLE = "".join(chr(c) for c in textstats._JVM_LOWER)
_pieces = st.one_of(
    st.sampled_from(_GRAMS + [g.upper() for g in _GRAMS]),
    # the table's code points, final-sigma context, a lowercase that
    # grows the text (U+0130 -> i + U+0307)
    st.sampled_from(list(_TABLE + "ΣΑİ ")),
    st.characters(min_codepoint=0x3040, max_codepoint=0x30FF),
    st.characters(min_codepoint=0xAC00, max_codepoint=0xD7A3),
    st.characters(min_codepoint=0x4E00, max_codepoint=0x9FFF),
    st.text(max_size=4),
)
_texts = st.one_of(st.none(), st.text(),
                   st.lists(_pieces, max_size=40).map("".join))


@settings(max_examples=30, deadline=None)
@given(texts=st.lists(_texts, min_size=1, max_size=30))
@example(texts=[_TABLE, _TABLE.lower(), f"THE {_TABLE} AND", *_TABLE])
def test_lang_kernel_matches_jvm_reference(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = textstats.lang_id(df, ["doc_id"]).collect()
    want = _jvm_lang_id(df, ["doc_id"]).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_lowering_table_is_spark_lower(spark):
    """Each ``_JVM_LOWER`` code point lowers in the kernel to what
    Spark's ``lower`` gives it."""
    chars = [chr(c) for c in textstats._JVM_LOWER]
    rows = (spark.createDataFrame([(c,) for c in chars], "s string")
            .select("s", F.lower("s").alias("low")).collect())
    assert {r.s: r.low for r in rows} == {
        c: c.lower().translate(textstats._JVM_LOWER) for c in chars}
