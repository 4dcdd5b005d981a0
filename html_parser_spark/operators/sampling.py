"""Deterministic stratified sampling and corpus mixing.

The last stage of a training-data curation pipeline is rarely "keep
everything that survived the filters": corpora are *mixed* — each
language / source / domain stratum is sampled at a weight chosen for
the training run (the public practice in GPT-3 / Gopher / LLaMA-class
data recipes, e.g. Brown et al. 2020 table 2.2, Touvron et al. 2023
table 1).  This module implements that stage Spark-first:

* ``uniform_hash_col`` — a deterministic uniform ``[0, 1)`` draw per
  row, derived from ``md5(key || '#' || seed)``.  Unlike
  ``DataFrame.sample`` (whose output depends on partition layout and
  task retries), a hash draw is a pure function of the data: the
  sample is byte-identical across cluster sizes, input order, retry
  storms, and engines — DuckDB rebuilds the exact same draw with
  ``('0x' || substr(md5(..), 1, 8))::BIGINT / 2^32``, which is how the
  driver oracle verifies it.
* ``stratified_sample`` — per-stratum Bernoulli keep with explicit
  fractions (a map-only JVM filter; strata without a fraction are
  dropped).
* ``mix_fractions`` / ``mix_corpus`` — turn target *weights* into
  per-stratum fractions given the observed stratum counts, maximising
  the output size subject to the weights and per-stratum availability
  (``total = min_s floor(n_s / share_s)``; ``frac_s = share_s * total
  / n_s``).

Scale notes (100 TB): the sampling filter itself is map-only,
whole-stage-codegen JVM (md5 / conv / substring builtins — no Python,
no shuffle, no RNG state), so it composes with the extraction scan at
zero extra cost.  ``mix_corpus`` adds one aggregate whose output is
one row per stratum (partial aggregation absorbs the per-partition
counts; a languages×sources stratification is thousands of rows at
most) and a driver collect of that tiny table — the same bookkeeping
class as batch ids in ``plans.pipeline.run_resumable``.  Nothing
corpus-sized is broadcast, collected, or re-shuffled.

Reference parity note: the reference (gisle/html-parser) stops at
parse/extract and has no corpus-level stage like this; the operator is
part of the engine's LLM-pipeline surface (SURVEY.md §2.7).
"""

from __future__ import annotations

import math
from typing import Mapping, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from html_parser_spark.operators.similarity import _bounded_topk

__all__ = [
    "uniform_hash_col",
    "stratified_sample",
    "mix_fractions",
    "mix_corpus",
    "hashed_ngram_buckets",
    "dsir_logweights",
    "dsir_select",
    "ngram_xent",
]

#: 2^32 — the hash prefix below is 8 hex digits = 32 bits.
_HASH_SPACE = 4294967296.0


def md5_prefix_long(col: Column) -> Column:
    """First 32 md5 bits of ``col`` as a long — THE portable hash
    every sampling/packing operator shares (and every DuckDB oracle
    rebuilds as ``('0x' || substr(md5(x),1,8))::BIGINT``). One
    definition so a future tweak cannot silently desynchronize the
    call sites from each other or from the oracles."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def uniform_hash_col(key: Column, seed: int = 0) -> Column:
    """Deterministic uniform ``[0, 1)`` double from ``md5(key#seed)``.

    Uses the first 32 bits of the md5 digest; md5 is over the UTF-8
    bytes of ``key`` so the draw is engine-portable (DuckDB oracle
    parity) and independent of partitioning.  Changing ``seed`` gives
    an independent draw for the same key.
    """
    h = md5_prefix_long(
        F.concat(key.cast("string"), F.lit(f"#{seed:d}")))
    return h.cast("double") / F.lit(_HASH_SPACE)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: Mapping[str, float],
    key_col: str = "text",
    seed: int = 0,
) -> DataFrame:
    """Keep each row of stratum ``s`` iff its hash draw < ``fractions[s]``.

    Strata absent from ``fractions`` are dropped (fraction 0).  The
    filter is a single map-only JVM stage; the fractions map is TWO
    array literals probed with ``array_position`` — not a per-stratum
    CASE chain, which at a languages x sources stratification
    (thousands of strata) would blow Janino's 64 KB generated-method
    limit and drop the whole stage to interpreted eval; two literal
    nodes keep the plan O(1) in stratum count.  Never a join.
    """
    u = uniform_hash_col(F.col(key_col), seed)
    if not fractions:
        return df.filter(F.lit(False))
    keys_arr = F.lit([str(s) for s in fractions])
    fracs_arr = F.lit([float(v) for v in fractions.values()])
    pos = F.array_position(keys_arr, F.col(strata_col).cast("string"))
    frac = F.when(pos > 0,
                  F.element_at(fracs_arr, pos.cast("int"))) \
        .otherwise(F.lit(0.0))
    return df.filter(u < frac)


def mix_fractions(
    counts: Mapping[str, int],
    weights: Mapping[str, float],
    total: Optional[int] = None,
    normalize: bool = True,
) -> dict[str, float]:
    """Per-stratum sampling fractions realising ``weights`` over
    ``counts``.

    With ``total=None`` the output size is maximised subject to the
    weights and availability: ``total = min_s floor(n_s / share_s)``
    over strata present in both maps, then ``frac_s = share_s * total
    / n_s`` (capped at 1.0).  With ``normalize=False`` the weights are
    used as shares verbatim — required when an external oracle embeds
    the same share literals (a ``w / sum(w)`` renormalisation is a
    float op the oracle would have to reproduce bit-for-bit).
    """
    if normalize:
        wsum = float(sum(weights.values()))
        shares = {k: w / wsum for k, w in weights.items() if w > 0}
    else:
        shares = {k: float(w) for k, w in weights.items() if w > 0}
    live = {k: s for k, s in shares.items() if counts.get(k, 0) > 0}
    if not live:
        return {}
    feasible = min(math.floor(counts[k] / s) for k, s in live.items())
    if total is not None:
        feasible = min(feasible, int(total))
    return {
        k: min(1.0, s * feasible / counts[k]) for k, s in live.items()
    }


def temperature_weights(counts: Mapping[str, int],
                        temperature: float = 2.0,
                        ndigits: int = 6) -> dict[str, float]:
    """Temperature-scaled mixing weights (the examples-proportional-
    with-temperature rule of Raffel et al. 2020 §3.5.2, also the
    XLM-R multilingual recipe — public): stratum share proportional
    to ``n_s ** (1/T)``, so T=1 is proportional sampling and larger T
    flattens the mixture toward uniform, up-weighting low-resource
    strata. Feed the result straight into :func:`mix_corpus` /
    :func:`mix_fractions` (with ``normalize=False`` — the shares are
    already normalized here).

    Driver-side math on a #strata-sized dict (the same bookkeeping
    class as mix_corpus's stratum counts — never corpus-sized).
    Deterministic: T=2 uses IEEE-correctly-rounded ``sqrt``, the
    normalizing sum runs in sorted-key order, and shares are rounded
    to ``ndigits`` — so the produced weight literals are reproducible
    bit-for-bit across hosts and runs.
    """
    if temperature <= 0:
        raise ValueError("temperature must be > 0")
    live = {k: n for k, n in counts.items() if n > 0}
    if temperature == 2.0:
        raw = {k: math.sqrt(n) for k, n in live.items()}
    else:
        raw = {k: n ** (1.0 / temperature) for k, n in live.items()}
    total = 0.0
    for k in sorted(raw):
        total += raw[k]
    if total == 0.0:
        return {}
    return {k: round(v / total, ndigits) for k, v in raw.items()}


def mix_corpus(
    df: DataFrame,
    strata_col: str,
    weights: Mapping[str, float],
    key_col: str = "text",
    seed: int = 0,
    total: Optional[int] = None,
    normalize: bool = True,
) -> DataFrame:
    """Sample ``df`` so strata sizes follow ``weights``.

    One tiny aggregate (rows == #strata) is collected to size the
    fractions; the sample itself is the map-only hash filter above.
    """
    counts = {
        row[0]: row[1]
        for row in df.groupBy(strata_col).count().collect()
        if row[0] is not None
    }
    fractions = mix_fractions(counts, weights, total, normalize)
    return stratified_sample(df, strata_col, fractions, key_col, seed)


def hashed_ngram_buckets(text: Column, buckets: int = 10_000) -> Column:
    """Bucket ids of the bag of word unigrams + bigrams of ``text``
    (lowercased, whitespace-tokenized), WITH multiplicity — DSIR
    features are counts, not sets.  Bucketing is the first 32 md5
    bits mod ``buckets`` (the engine's portable hash: the DuckDB
    oracle rebuilds it as ``('0x' || substr(md5(g),1,8))::BIGINT %
    buckets``)."""
    from html_parser_spark.operators.textstats import words_col
    # NULL text = the gram-free doc (empty bucket array), not a NULL
    # that silently drops the row from gradients/weights and returns
    # NULL scores downstream (classifier, DSIR, xent all fold on this)
    w = F.filter(words_col(F.lower(F.coalesce(text, F.lit("")))),
                 lambda x: F.length(x) > 0)
    bis = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.concat_ws(" ", F.element_at(w, i),
                                  F.element_at(w, i + 1))),
    ).otherwise(F.array().cast("array<string>"))
    grams = F.concat(w, bis)
    return F.transform(grams, lambda g: md5_prefix_long(g) % buckets)


def _bucket_counts(df: DataFrame, text_col: str,
                   buckets: int) -> DataFrame:
    """(b, c): corpus-wide hashed-n-gram bucket counts."""
    return (df.select(F.explode(
                hashed_ngram_buckets(F.col(text_col), buckets))
                .alias("b"))
            .groupBy("b").agg(F.count("*").alias("c")))


def dsir_logweights(df: DataFrame, target_df: DataFrame,
                    key_col: str = "doc_id", text_col: str = "text",
                    target_text_col: str | None = None,
                    buckets: int = 10_000, alpha: float = 1.0,
                    ndigits: int = 3) -> DataFrame:
    """DSIR importance log-weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling" — public method):
    fit two smoothed bag-of-hashed-n-grams models, p from
    ``target_df`` (the distribution you WANT, e.g. a curated sample)
    and q from ``df`` (the raw corpus), and score every corpus row by

        log w(x) = sum_grams [ log p(bucket) - log q(bucket) ]

    with add-``alpha`` smoothing over ``buckets`` buckets.  Rows that
    look like the target get positive weights; boilerplate-ish rows
    go negative.  Returns (key, dsir_logw), one row per input row
    (gram-free rows score 0), rounded to ``ndigits`` so the
    double-precision sum is portable across engines (the DuckDB
    oracle re-derives the full computation).

    Scale shape: both models are partial-aggregated groupBys on int
    bucket ids (<= ``buckets`` rows each — the Zipf gram head
    collapses map-side); the log-ratio table is at most ``buckets``
    rows and is broadcast; the corpus side is explode -> broadcast
    equi-join -> partial-agg sum keyed by the doc, so the only
    exchange is O(rows).  Two scalar totals are collected driver-side
    (same bookkeeping class as :func:`mix_corpus` stratum counts).
    Nothing corpus-sized is broadcast or re-shuffled.
    """
    tcol = target_text_col or text_col
    # both model aggregates are <= buckets rows; cache them so the
    # eager n_p/n_q totals below don't buy a full re-explode of each
    # corpus when the final action re-evaluates the plan
    tgt = (_bucket_counts(target_df, tcol, buckets)
           .withColumnRenamed("c", "cp").cache())
    raw = df.select(
        F.col(key_col),
        F.explode(hashed_ngram_buckets(F.col(text_col), buckets))
        .alias("b"))
    q = raw.groupBy("b").agg(F.count("*").alias("cq")).cache()
    n_p = tgt.agg(F.coalesce(F.sum("cp"), F.lit(0))).first()[0]
    # total grams from the (<= buckets rows) aggregate q itself — a
    # separate raw.count() would re-explode the whole corpus
    n_q = q.agg(F.coalesce(F.sum("cq"), F.lit(0))).first()[0]
    denom_p = float(n_p) + alpha * buckets
    denom_q = float(n_q) + alpha * buckets
    ratio = (q.join(tgt, "b", "left")
             .select("b",
                     (F.log((F.coalesce(F.col("cp"), F.lit(0))
                             + F.lit(alpha)) / F.lit(denom_p))
                      - F.log((F.col("cq") + F.lit(alpha))
                              / F.lit(denom_q))).alias("lr")))
    sums = (raw.join(F.broadcast(ratio), "b")
            .groupBy(key_col).agg(F.sum("lr").alias("_s")))
    return (df.select(key_col).join(sums, key_col, "left")
            .select(key_col,
                    F.round(F.coalesce(F.col("_s"), F.lit(0.0)),
                            ndigits).alias("dsir_logw")))


def ngram_xent(df: DataFrame, target_df: DataFrame,
               key_col: str = "doc_id", text_col: str = "text",
               target_text_col: str | None = None,
               buckets: int = 10_000, alpha: float = 1.0,
               ndigits: int = 3) -> DataFrame:
    """Hashed-n-gram LM cross-entropy per gram — the engine's
    analogue of CCNet's LM-perplexity quality dimension (Wenzek et
    al. 2020 §4.3 ranks documents by the perplexity of a reference
    LM; here the LM is the add-``alpha`` bucket model of
    ``target_df``, the same model family DSIR uses):

        xent(x) = -(1/n_grams) * sum_grams log p_target(bucket)

    Lower = more target-like; thresholding on it is perplexity
    filtering.  Returns (key, ngram_xent) for every input row
    (gram-free rows get NULL — there is no length to normalize by),
    rounded to ``ndigits`` for engine portability.

    Scale shape: identical to :func:`dsir_logweights` minus the q
    model — one partial-aggregated bucket count (<= ``buckets``
    rows, broadcast), explode -> broadcast join -> per-doc
    partial-agg sum/count, one O(rows) exchange.
    """
    tcol = target_text_col or text_col
    tgt = (_bucket_counts(target_df, tcol, buckets)
           .withColumnRenamed("c", "cp").cache())  # <= buckets rows
    n_p = tgt.agg(F.coalesce(F.sum("cp"), F.lit(0))).first()[0]
    denom_p = float(n_p) + alpha * buckets
    raw = df.select(
        F.col(key_col),
        F.explode(hashed_ngram_buckets(F.col(text_col), buckets))
        .alias("b"))
    lp = F.log((F.coalesce(F.col("cp"), F.lit(0)) + F.lit(alpha))
               / F.lit(denom_p))
    agg = (raw.join(F.broadcast(tgt), "b", "left")
           .groupBy(key_col)
           .agg(F.sum(lp).alias("_s"), F.count("*").alias("_n")))
    return (df.select(key_col).join(agg, key_col, "left")
            .select(key_col,
                    F.round(-F.col("_s") / F.col("_n"),
                            ndigits).alias("ngram_xent")))


def ccnet_terciles(df: DataFrame, target_df: DataFrame,
                   key_col: str = "doc_id", text_col: str = "text",
                   target_text_col: str | None = None,
                   buckets: int = 10_000, alpha: float = 1.0,
                   ndigits: int = 3) -> DataFrame:
    """CCNet-style perplexity partitioning (Wenzek et al. 2020 §4.3,
    "CCNet: Extracting High Quality Monolingual Datasets from Web
    Crawl Data" — public method): rank every document by its LM score
    (:func:`ngram_xent` under the target model; lower = more
    target-like) and split the corpus into equal-size head / middle /
    tail terciles — CCNet keeps 'head' for training and treats 'tail'
    as noise.

    Bucket edges are INTEGER-EXACT (no percentile interpolation, so
    the split is bit-portable across engines): total order =
    (rounded xent asc, key asc); bucket = 'head' when rank*3 <= n,
    'middle' when rank*3 <= 2n, else 'tail'. Gram-free rows (NULL
    xent) cannot be ranked and come back as 'unscored' with NULL
    rank. Returns (key, ngram_xent, ppl_rank, ppl_bucket).

    Scale shape: the global order is never materialized as a global
    sort. Rounded-``ndigits`` scores have bounded cardinality, so
    ranking decomposes into (1) a partial-agg histogram of distinct
    scores, (2) ONE ordered window over that <= |distinct scores| row
    histogram for cumulative offsets (the bounded-window precedent of
    ``pipeline.pack_sequences``), and (3) a per-score PARTITIONED
    row_number for tie order — bounded groups, never a
    single-partition pass over the corpus. The doc count joins in as
    a broadcast 1-row aggregate.
    """
    from pyspark.sql import Window

    xs = ngram_xent(df, target_df, key_col, text_col,
                    target_text_col, buckets, alpha, ndigits)
    scored = xs.filter(F.col("ngram_xent").isNotNull())
    hist = scored.groupBy("ngram_xent").agg(F.count("*").alias("_c"))
    w_h = (Window.orderBy("ngram_xent")
           .rowsBetween(Window.unboundedPreceding, -1))
    offs = hist.select(
        "ngram_xent",
        F.coalesce(F.sum("_c").over(w_h), F.lit(0)).alias("_before"))
    tot = scored.agg(F.count("*").alias("_n"))
    w_g = Window.partitionBy("ngram_xent").orderBy(key_col)
    ranked = (scored.join(F.broadcast(offs), "ngram_xent")
              .select(key_col, "ngram_xent",
                      (F.col("_before") + F.row_number().over(w_g))
                      .cast("long").alias("ppl_rank"))
              .crossJoin(F.broadcast(tot)))
    bucket = (F.when(F.col("ppl_rank") * 3 <= F.col("_n"), "head")
              .when(F.col("ppl_rank") * 3 <= 2 * F.col("_n"), "middle")
              .otherwise("tail"))
    ranked = ranked.select(key_col, "ppl_rank",
                           bucket.alias("ppl_bucket"))
    return (xs.join(ranked, key_col, "left")
            .select(key_col, "ngram_xent", "ppl_rank",
                    F.coalesce(F.col("ppl_bucket"), F.lit("unscored"))
                    .alias("ppl_bucket")))


def dsir_select(df: DataFrame, target_df: DataFrame, k: int,
                key_col: str = "doc_id", text_col: str = "text",
                seed: int = 0, buckets: int = 10_000,
                alpha: float = 1.0) -> DataFrame:
    """DSIR selection: sample ``k`` corpus rows without replacement
    with probability proportional to ``exp(dsir_logw)`` via the
    Gumbel-top-k trick (public): add an independent Gumbel draw
    ``g = -ln(-ln(u))`` to each log-weight and keep the global top-k
    of ``dsir_logw + g``.  The uniform ``u`` comes from the same
    deterministic md5 draw as :func:`stratified_sample`, so the
    selected set is a pure function of (data, seed) — identical at
    any cluster size, input order, or retry history.

    Returns (key, dsir_logw, dsir_score, rank), rank 1-based by
    score desc (key asc on ties).

    Scale shape: the score is a map-only extension of
    :func:`dsir_logweights`; the top-k reduction is
    ``similarity._bounded_topk``, the one ``cosine_topk`` runs — each
    partition is cut to <= k rows BEFORE any exchange, so the final
    single-group merge sees only partitions * k rows, never the
    corpus.
    """
    lw = dsir_logweights(df, target_df, key_col, text_col,
                         buckets=buckets, alpha=alpha, ndigits=9)
    # +0.5/2^32 keeps the draw strictly inside (0,1) for the double log
    u = uniform_hash_col(F.col(key_col), seed) \
        + F.lit(0.5 / _HASH_SPACE)
    scored = lw.withColumn(
        "dsir_score",
        F.round(F.col("dsir_logw") - F.log(-F.log(u)), 9))
    return _bounded_topk(scored, k, "dsir_score", key_col)
