"""Model-based quality filtering: logistic regression over hashed
n-gram features, trained in-engine.

The GPT-3 data pipeline's quality tier is public method: "we trained
a logistic regression classifier with features from Spark's standard
tokenizer and HashingTF" over a positive (curated) and negative (raw
crawl) sample, then kept documents by classifier score (Brown et al.
2020, appendix A).  This module is that tier, engine-native:

* features — the bag of hashed word unigrams+bigrams of
  :func:`~html_parser_spark.operators.sampling.hashed_ngram_buckets`
  (the same portable md5 bucketing DSIR uses), with multiplicity;
* training — full-batch gradient descent on the logistic loss, NO
  randomness: weights start at zero, each iteration is two
  partial-aggregated Spark jobs (per-doc margins with the weight
  vector broadcast, then per-bucket gradient sums), and the updated
  weights are rounded to ``ndigits`` so the whole fit is
  bit-reproducible across engines — the DuckDB oracle re-derives the
  unrolled iterations exactly;
* scoring — a map-only JVM stage: the weight vector ships as ONE
  typed array literal probed with ``element_at`` inside an
  ``aggregate`` higher-order function, so generated code is O(1) in
  bucket count (one CASE or term per bucket would blow Janino's 64 KB
  method limit and drop the stage to interpreted eval).

Scale notes (100 TB): train on a sample (the standard practice — the
positive set is curated data, megabytes to gigabytes; pass a
``df.sample(...)`` of the crawl as the negative class).  Each
training iteration shuffles once by doc and once by bucket id, both
partial-aggregated; only the (buckets+1)-float weight vector reaches
the driver.  Scoring the full corpus is shuffle-free.

Reference parity note: the reference (gisle/html-parser) stops at
parse/extract; this operator is engine LLM-pipeline surface
(SURVEY.md §2.7) like the dedup/sampling families.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from html_parser_spark.operators.sampling import hashed_ngram_buckets

__all__ = ["train_quality_lr", "quality_lr_score"]


def _features(df: DataFrame, text_col: str, label: int,
              buckets: int) -> DataFrame:
    """(y, bs): label + the doc's bucket array (multiplicity kept).
    Keeping the array per row — not exploding to occurrences — means
    the fit needs NO document identity at all: the margin folds over
    the row's own array, and gradients aggregate by bucket only."""
    return df.select(
        F.lit(float(label)).alias("_y"),
        hashed_ngram_buckets(F.col(text_col), buckets).alias("_bs"))


def train_quality_lr(pos_df: DataFrame, neg_df: DataFrame,
                     text_col: str = "text", buckets: int = 1024,
                     iters: int = 2, lr: float = 0.5,
                     ndigits: int = 6) -> list[float]:
    """Fit the logistic model; returns ``[bias, w_0 .. w_{B-1}]``.

    Full-batch GD from zero weights: per iteration, per-doc margin
    ``m_d = bias + sum_occ w[b]`` (a map-only fold of the row's own
    bucket array over the broadcast weight literal — no document ids,
    no joins), probability ``p_d = sigmoid(m_d)``, then per-bucket
    mean-gradient update ``w_b += lr * sum_d (y_d - p_d) * c_db / n``
    (and likewise the bias), every weight rounded to ``ndigits`` —
    the rounding is what makes the fit reproducible bit-for-bit in
    any engine that sums doubles, which is how the driver oracle
    re-derives it.  Gram-free docs count toward ``n`` and the bias
    gradient (their margin is the bias alone).
    """
    feat = (_features(pos_df, text_col, 1, buckets)
            .unionByName(_features(neg_df, text_col, 0, buckets))
            .cache())
    n = feat.count()
    if n == 0:
        raise ValueError("no training documents")
    bias = 0.0
    w = [0.0] * buckets
    for _ in range(iters):
        w_lit = F.lit(w)
        margin = F.lit(bias) + F.aggregate(
            F.col("_bs"), F.lit(0.0),
            lambda acc, b: acc + F.element_at(w_lit,
                                              b.cast("int") + 1))
        resid = feat.select(
            "_bs",
            (F.col("_y") - F.lit(1.0)
             / (F.lit(1.0) + F.exp(-margin))).alias("_r"))
        grads = (resid.select("_r", F.explode("_bs").alias("b"))
                 .groupBy("b").agg(F.sum("_r").alias("_g"))
                 .collect())
        bias_grad = resid.agg(F.sum("_r")).first()[0] or 0.0
        for r in grads:
            w[r.b] = round(w[r.b] + lr * float(r._g) / n, ndigits)
        bias = round(bias + lr * float(bias_grad) / n, ndigits)
    feat.unpersist()
    return [bias] + w


def quality_lr_score(df: DataFrame, weights: list[float],
                     key_cols: list[str], text_col: str = "text",
                     ndigits: int = 3) -> DataFrame:
    """Score every row with the trained model: (keys, lr_prob).

    Map-only JVM: the weight vector is ONE array literal; the doc's
    occurrence-bucket array folds over it with ``aggregate`` +
    ``element_at``, so the stage is whole-stage-codegen with O(1)
    generated code regardless of ``buckets``.  Gram-free rows score
    ``sigmoid(bias)``.
    """
    bias, w = float(weights[0]), [float(x) for x in weights[1:]]
    w_lit = F.lit(w)
    bs = hashed_ngram_buckets(F.col(text_col), len(w))
    margin = F.lit(bias) + F.aggregate(
        bs, F.lit(0.0),
        lambda acc, b: acc + F.element_at(w_lit, b.cast("int") + 1))
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
    return df.select(*key_cols,
                     F.round(prob, ndigits).alias("lr_prob"))
