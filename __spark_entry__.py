"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 plus the training-data-pipeline operators (dedup,
similarity, text analysis, multimodal plumbing). ``oracle_sql()``
gives an independent DuckDB derivation for each: the HTML-extraction
oracles exploit that ``wrap_documents`` builds its payload from a
fixed SQL template around markup-free document text, so the expected
tokenizer/extractor output has a closed form in pure SQL; the
dedup/similarity oracles re-run the same md5-based formulas.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF0001 = "/root/testdata/sf0.001"

# ---------------------------------------------------------------- helpers

_ID = "CAST(doc_id AS VARCHAR)"

#: DuckDB expression rebuilding the exact wrap_documents payload
#: (see html_parser_spark.sources.transcripts.WRAP_SQL_EXPR)
def _wrap_expr() -> str:
    from html_parser_spark.sources.transcripts import WRAP_SQL_EXPR
    return WRAP_SQL_EXPR


def _tr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from html_parser_spark.sources.transcripts import wrap_documents
    return wrap_documents(spark, sf_dir)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------- flagship

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: fused tokenize+extract (main-content assembly) over
    the sf0.001 corpus wrapped as transcripts."""
    from html_parser_spark.config import EXTRACT_CONFIG
    from html_parser_spark.operators.extract import extract_text

    return extract_text(_tr(spark, SF0001), EXTRACT_CONFIG)


# ---------------------------------------------------------------- queries

def _q_extract_text(spark, sf_dir):
    from html_parser_spark.config import EXTRACT_CONFIG
    from html_parser_spark.operators.extract import extract_text

    return extract_text(_tr(spark, sf_dir), EXTRACT_CONFIG).select(
        "conv_id", "turn_idx", "extracted_text", "trimmed_text")


def _q_headers(spark, sf_dir):
    from html_parser_spark.operators.extract import head_headers
    return head_headers(_tr(spark, sf_dir))


def _q_links(spark, sf_dir):
    """All three URL-discovery arms in one variant-tagged row set
    (round-5 merge, freeing a registry slot under the 50-cap):
    variant='link' rows are the per-link extraction over the
    transcripts template (k=link_seq, s=tagname, s2=attr_name,
    url); variant='host' rows are the per-host crawl-domain
    aggregate over planted absolute URLs (conv_id=host, k=n_links,
    s=n_unique_urls as text, s2='host', url=host);
    variant='sitemap' rows parse planted sitemaps.org XML — both
    the <urlset> leaf and <sitemapindex> index shapes, with an
    XML-escaped &amp; in the loc and an OPTIONAL lastmod — through
    the engine's OWN event tokenizer in xml_mode (turn_idx=entry,
    s=lastmod, s2=role, url=decoded loc). The oracle re-derives all
    three arms in closed form, entity decode included."""
    from html_parser_spark.operators.extract import links
    from html_parser_spark.operators.sitemap import sitemap_urls
    from html_parser_spark.operators.textstats import host_counts

    link_rows = links(_tr(spark, sf_dir)).select(
        F.lit("link").alias("variant"), "conv_id", "turn_idx",
        F.col("link_seq").cast("int").alias("k"),
        F.col("tagname").alias("s"),
        F.col("attr_name").alias("s2"),
        "url")
    host_rows = host_counts(
        links(_tmpl(spark, sf_dir, _T_HOSTS))).select(
        F.lit("host").alias("variant"),
        F.col("host").alias("conv_id"),
        F.lit(-1).alias("turn_idx"),
        F.col("n_links").cast("int").alias("k"),
        F.col("n_unique_urls").cast("string").alias("s"),
        F.lit("host").alias("s2"),
        F.col("host").alias("url"))
    sm = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(_T_SITEMAP.replace("AS VARCHAR", "AS STRING"))
        .alias("text"))
    sitemap_rows = sitemap_urls(sm, key_cols=["doc_id"]).select(
        F.lit("sitemap").alias("variant"),
        F.col("conv_id"),
        F.col("entry").alias("turn_idx"),
        F.lit(-1).alias("k"),
        F.col("lastmod").alias("s"),
        F.col("role").alias("s2"),
        F.col("loc").alias("url"))
    return link_rows.unionByName(host_rows) \
        .unionByName(sitemap_rows)


#: planted sitemap fixture (shared Spark/DuckDB expression): even
#: docs get a two-entry <urlset> (first loc XML-escaped, second
#: without the optional lastmod), odd docs a one-entry
#: <sitemapindex> — both protocol shapes, parsed by the engine's own
#: tokenizer.
_T_SITEMAP = (
    "CASE WHEN doc_id % 2 = 0 THEN "
    "'<?xml version=\"1.0\"?><urlset><url><loc>https://ex.com/d/' "
    "|| CAST(doc_id AS VARCHAR) || '?a=1&amp;b=2</loc>"
    "<lastmod>2026-01-11</lastmod></url>"
    "<url><loc>https://ex.com/p/' || CAST(doc_id AS VARCHAR) || "
    "'</loc></url></urlset>' "
    "ELSE '<sitemapindex><sitemap><loc>https://ex.com/maps/m' || "
    "CAST(doc_id AS VARCHAR) || '.xml</loc><lastmod>2026-02-0' || "
    "CAST(doc_id % 9 + 1 AS VARCHAR) || "
    "'</lastmod></sitemap></sitemapindex>' END")


def _q_event_stats(spark, sf_dir):
    from html_parser_spark.config import ParserConfig
    from html_parser_spark.operators.extract import events

    ev = events(_tr(spark, sf_dir), ParserConfig(),
                fields=("event", "length"))
    return ev.groupBy("conv_id").agg(
        F.count("*").alias("n_events"),
        F.sum("length").alias("total_len"),
        F.sum(F.when(F.col("event") == "text", 1).otherwise(0))
        .cast("long").alias("n_text"),
        F.sum(F.when(F.col("event") == "start", 1).otherwise(0))
        .cast("long").alias("n_start"),
        F.sum(F.when(F.col("event") == "end", 1).otherwise(0))
        .cast("long").alias("n_end"),
    )


def _q_reconstruct(spark, sf_dir):
    """Filter.pm identity invariant (SURVEY.md Q9): ordered concat of
    raw event text rebuilds each document byte-for-byte."""
    from html_parser_spark.config import ParserConfig
    from html_parser_spark.operators.extract import events

    ev = events(_tr(spark, sf_dir), ParserConfig(), fields=("text",))
    return ev.groupBy("conv_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seq", "text"))),
                lambda s: s.text),
            "").alias("doc"))


def _q_entities(spark, sf_dir):
    """P5 + P7 + P8 in one row set: named/numeric/hex entity decoding
    (HTML::Entities decode semantics incl. unknown-entity
    passthrough), named-entity encoding, and the always-numeric
    &#xHEX; encoding — the merged decode_entities/encode_entities
    registry rows (kept merged so every operator family fits the
    driver's 50-row correctness window)."""
    from html_parser_spark.operators.extract import (
        decode_entities_col, encode_entities_col,
        encode_entities_numeric_col)

    dec_raw = F.expr(
        "'x &amp; y &lt;' || CAST(doc_id AS STRING) || "
        "'&gt; &aring; &#229; &#xE5; &euro; &unknown;'")
    enc_raw = F.expr("'<' || text || '> & \"q\" ' || CAST(doc_id AS STRING)")
    return _docs(spark, sf_dir).select(
        "doc_id",
        decode_entities_col(dec_raw).alias("decoded"),
        encode_entities_col(enc_raw).alias("encoded_named"),
        encode_entities_numeric_col(enc_raw).alias("encoded_numeric"))


#: corpus_mix targets — language mix weights for the driver query
#: (shares sum to 1 and are embedded verbatim in the oracle SQL, so
#: Spark and DuckDB evaluate identical double literals).
_MIX_WEIGHTS = {"en": 0.4, "zh": 0.2, "fr": 0.2, "de": 0.1, "es": 0.1}
_MIX_SEED = 7


def _q_corpus_mix(spark, sf_dir):
    """Corpus mixing: deterministically sample the documents table so
    language strata follow `_MIX_WEIGHTS` (GPT-3/LLaMA-class data
    recipe stage).  The keep/drop decision is a pure function of the
    row (md5 hash draw), so the oracle rebuilds the entire thing —
    stratum counts, feasible total, per-stratum fractions, and the
    per-row draw — in SQL."""
    from html_parser_spark.operators.sampling import mix_corpus

    return mix_corpus(
        _docs(spark, sf_dir), "lang", _MIX_WEIGHTS,
        key_col="text", seed=_MIX_SEED, normalize=False,
    ).select("doc_id", "lang")


def _q_dedup_exact(spark, sf_dir):
    from html_parser_spark.operators.dedup import exact_dedup
    return exact_dedup(_docs(spark, sf_dir))


def _q_token_stats(spark, sf_dir):
    """Token counting + the ws-normalized md5 fingerprint as one
    per-doc row set (both narrow projections over documents; joined
    on doc_id to keep the registry within the driver's window)."""
    from html_parser_spark.operators.textstats import (
        fingerprint, token_stats)
    docs = _docs(spark, sf_dir)
    out = token_stats(docs, ["doc_id"])
    stats = out.select("doc_id", *[F.col(c).cast("long").alias(c)
                                   for c in ("n_chars", "n_words",
                                             "n_tokens")])
    return stats.join(fingerprint(docs, ["doc_id"]), "doc_id")


def _q_dsir(spark, sf_dir):
    """DSIR importance log-weights (Xie et al. 2023) of every doc
    against a planted target slice (doc_id % 5 == 0), joined with
    the hashed-n-gram LM cross-entropy under the same target model
    AND its CCNet head/middle/tail perplexity tercile (Wenzek et al.
    2020: rank by LM score, integer-exact tercile edges): hashed
    unigram+bigram bucket models with add-1 smoothing. The oracle
    re-derives the md5 bucketing, both models, the per-doc log-ratio
    sums, the per-gram cross-entropy, and the full (xent, doc_id)
    ranking behind each tercile label."""
    from html_parser_spark.operators.sampling import (ccnet_terciles,
                                                      dsir_logweights)
    docs = _docs(spark, sf_dir)
    target = docs.filter("doc_id % 5 = 0")
    return dsir_logweights(docs, target, buckets=1000).join(
        ccnet_terciles(docs, target, buckets=1000), "doc_id")


def _q_quality(spark, sf_dir):
    """Heuristic quality features joined with the model-based tier:
    a GPT-3-style logistic-regression quality classifier (Brown et
    al. 2020 appendix A class) trained IN the query on a planted
    split (pos = doc_id % 2 == 0), 2 full-batch GD iterations over
    256 hashed-n-gram buckets. The oracle re-derives the unrolled
    training — both gradient passes, the rounded weight updates —
    and the final per-doc probability, so the fit itself is
    verified, not just the scores."""
    from html_parser_spark.operators.classifier import (
        quality_lr_score, train_quality_lr)
    from html_parser_spark.operators.textstats import quality_score

    docs = _docs(spark, sf_dir)
    out = quality_score(docs, ["doc_id"]).select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_words").cast("long").alias("n_words"),
        "avg_word_len", "alpha_ratio", "stopword_ratio")
    weights = train_quality_lr(docs.filter("doc_id % 2 = 0"),
                               docs.filter("doc_id % 2 = 1"),
                               buckets=256, iters=2)
    return out.join(quality_lr_score(docs, weights, ["doc_id"]),
                    "doc_id")


#: planted multi-language fixture (one clean sample sentence per
#: language; doc_id % 12 == 10 rows are profile-gram-free Han text
#: exercising the codepoint-range fallback, % 12 == 11 rows are
#: digits-only -> 'other')
_T_LANG = (
    "CASE CAST(doc_id % 12 AS INT) "
    "WHEN 0 THEN 'the cat and the dog went to the house of the king "
    "and then the end' "
    "WHEN 1 THEN 'le chat et le chien sont dans la maison de la "
    "ville et les portes' "
    "WHEN 2 THEN 'der hund und die katze sind in der stadt und die "
    "haus ist offen' "
    "WHEN 3 THEN 'el perro y el gato estan en la casa de los ninos "
    "que es blanca' "
    "WHEN 4 THEN 'il cane e il gatto sono nella casa che gli amici "
    "hanno aperto' "
    "WHEN 5 THEN 'o cao e o gato estao na casa do rio e a porta da "
    "frente esta aberta' "
    "WHEN 6 THEN 'de hond en de kat zijn in het huis van de stad en "
    "de deur is open' "
    "WHEN 7 THEN '我们的房子在城市里 这个孩子没有什么问题 他们是一个家庭' "
    "WHEN 8 THEN 'この家は大きいです 犬と猫がいます それは静かな場所である' "
    "WHEN 9 THEN '고양이와 개가 집에 있습니다 이 집은 도시에서 가장 큽니다' "
    "WHEN 10 THEN '山川河流日月星辰天地' "
    "ELSE CAST(doc_id AS VARCHAR) END")


def _q_lang_id(spark, sf_dir):
    """Char-gram-profile language ID over planted fixtures for all
    10 profiled languages (7 European + zh/ja/ko) plus a
    profile-gram-free Han row exercising the codepoint-range
    fallback; the oracle rebuilds the identical gram scoring and
    fallback, so the classifier math itself is verified, not just
    the labels."""
    from html_parser_spark.operators.textstats import lang_id

    planted = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(_T_LANG.replace("AS VARCHAR", "AS STRING")).alias("text"))
    return lang_id(planted, ["doc_id"])


def _q_quality_rules(spark, sf_dir):
    """BOTH published document-filter rule bundles in one
    variant-tagged long row set: variant='gopher' (Rae et al. 2021
    word/symbol/stopword rules) and variant='c4' (Raffel et al. 2020
    line-retention + sentence/lorem/brace/badword page rules). One
    row per (doc, rule) with the rule's boolean verdict and its
    feature metric (-1.0 for purely boolean rules), so the oracle
    re-derives every feature AND every verdict of both bundles.

    The C4 arm runs on a planted multi-line fixture (the corpus text
    has no newlines or punctuation): six lines per doc keyed on
    doc_id mod 5/7/11/13 so that every rule — line retention,
    sentence count, lorem-ipsum, brace, badword — both passes and
    fails somewhere in the corpus."""
    from html_parser_spark.operators.textstats import (c4_quality,
                                                       gopher_quality)
    docs = _docs(spark, sf_dir)
    g = gopher_quality(docs, ["doc_id"], min_words=20)
    gl = g.selectExpr(
        "'gopher' as variant", "doc_id",
        "stack(6, "
        "'word_count', ok_word_count, cast(n_words as double), "
        "'mean_word_len', ok_mean_word_len, mean_word_len, "
        "'symbol_ratio', ok_symbol_ratio, symbol_ratio, "
        "'alpha_words', ok_alpha_words, alpha_word_ratio, "
        "'stopwords', ok_stopwords, cast(n_stopwords as double), "
        "'passes', passes_gopher, cast(-1.0 as double)"
        ") as (rule, ok, metric)")
    planted = docs.select(
        "doc_id",
        F.expr(_T_C4.replace("AS VARCHAR", "AS STRING")).alias("text"))
    c = c4_quality(planted, ["doc_id"])
    cl = c.selectExpr(
        "'c4' as variant", "doc_id",
        "stack(6, "
        "'lines', ok_lines, cast(n_kept_lines as double), "
        "'sentences', ok_sentences, cast(n_sentences as double), "
        "'no_lorem', ok_no_lorem, cast(-1.0 as double), "
        "'no_brace', ok_no_brace, cast(-1.0 as double), "
        "'no_badword', ok_no_badword, cast(-1.0 as double), "
        "'passes', passes_c4, cast(-1.0 as double)"
        ") as (rule, ok, metric)")
    return gl.unionByName(cl)


#: six-line C4 fixture page, keyed on doc_id (shared Spark/DuckDB
#: expression — only AS VARCHAR is swapped to AS STRING on the Spark
#: side): line A kept always; B dropped (3 words, no terminal punct);
#: C dropped ("javascript"); D dropped on %5, lorem-flagged on %7;
#: E braced+dropped on %11; F dropped on %5, badword-flagged on %13.
_T_C4 = (
    "'doc ' || CAST(doc_id AS VARCHAR) || "
    "' opens with a good line today.' || chr(10) || "
    "'only three words' || chr(10) || "
    "'please enable javascript to continue now.' || chr(10) || "
    "CASE WHEN doc_id % 5 = 0 THEN 'just three words' "
    "WHEN doc_id % 7 = 0 THEN 'lorem ipsum dolor sit amet.' "
    "ELSE 'what would the answer be today?' END || chr(10) || "
    "CASE WHEN doc_id % 11 = 0 THEN 'var f = function() { return 1; }' "
    "ELSE 'these lines end with real marks!' END || chr(10) || "
    "CASE WHEN doc_id % 5 = 0 THEN 'no closing punct here' "
    "WHEN doc_id % 13 = 0 THEN 'this page contains badword1 content now.' "
    "ELSE 'a final sentence closes the page.' END")


_T_HOSTS = ("'<a href=\"https://h' || CAST(doc_id % 7 AS VARCHAR) || "
            "'.ex.com/d/' || CAST(doc_id AS VARCHAR) || '\">x</a>"
            "<img src=\"https://img.ex.com/i' || "
            "CAST(doc_id AS VARCHAR) || '.png\">'")

# link-graph fixture: page on h(doc_id%7) anchors to h(doc_id%5) and
# (uppercase-spelled, exercising the case fold) H((3*doc_id+1)%11);
# anchor TEXTS vary by doc ('x{d%3}', and ' Y  {d%2} ' whose case +
# whitespace exercise the anchor-profile normalization end-to-end)
_T_LINKGRAPH = (
    "'<a href=\"https://h' || CAST(doc_id % 5 AS VARCHAR) || "
    "'.ex.com/a/' || CAST(doc_id AS VARCHAR) || '\">x' || "
    "CAST(doc_id % 3 AS VARCHAR) || '</a>"
    "<a href=\"https://H' || CAST((3 * doc_id + 1) % 11 AS VARCHAR)"
    " || '.EX.com/b\"> Y  ' || CAST(doc_id % 2 AS VARCHAR) || "
    "' </a>'")

# frontier fixture: one URL per doc; every 4th on an uppercase-spelled
# host OUTSIDE the link graph (priority 0 path), the rest on in-graph
# h(doc_id%5) hosts
_T_FRONTIER = (
    "CASE WHEN doc_id % 4 = 0 THEN "
    "'https://New' || CAST(doc_id % 3 AS VARCHAR) || '.EX.com/u/' || "
    "CAST(doc_id AS VARCHAR) "
    "ELSE 'https://h' || CAST(doc_id % 5 AS VARCHAR) || '.ex.com/f/' "
    "|| CAST(doc_id AS VARCHAR) END")


def _q_warc_extract(spark, sf_dir):
    """Crawl-to-text end-to-end over the STANDARD web-archive
    container (ISO 28500 WARC — the Common Crawl format): the
    transcripts corpus is packed into deterministic WARC segments
    (warcinfo + request + response records; every 3rd-mod-2 doc as
    per-record gzip members, the .warc.gz layout), parsed back by
    the record walk + HTTP envelope split, and the response HTML is
    run through the flagship extractor. variant='rec' rows verify
    every record's headers/typing/body accounting; variant='text'
    rows verify the extracted trimmed text of each response body.
    The oracle re-derives all of it in closed form — record
    lengths, URIs, status, and the extraction itself."""
    from html_parser_spark.operators.extract import extract_text
    from html_parser_spark.sources.warc import synth_warc, warc_records

    recs = warc_records(synth_warc(_tr(spark, sf_dir)))
    rec_rows = recs.select(
        F.lit("rec").alias("variant"), "doc_id",
        F.col("rec_idx").cast("int").alias("rec_idx"),
        "warc_type",
        F.col("uri").alias("s"),
        F.col("http_status").cast("int").alias("status"),
        F.col("n_body_bytes").alias("n_body"),
        F.lit(None).cast("string").alias("trimmed"))
    html = recs.filter(F.col("warc_type") == "response") \
        .select(F.col("doc_id").cast("string").alias("conv_id"),
                F.col("rec_idx").alias("turn_idx"),
                F.col("body").alias("text"))
    text_rows = extract_text(html).select(
        F.lit("text").alias("variant"),
        F.col("conv_id").cast("long").alias("doc_id"),
        F.col("turn_idx").cast("int").alias("rec_idx"),
        F.lit("response").alias("warc_type"),
        F.lit(None).cast("string").alias("s"),
        F.lit(None).cast("int").alias("status"),
        F.col("n_chars_in").cast("long").alias("n_body"),
        F.col("trimmed_text").alias("trimmed"))
    # the OTHER standard corpus container: WebDataset tar shards
    # (ustar walk incl. whole-shard gzip; members then regrouped
    # into samples by stem — the multimodal training-shard layout)
    from html_parser_spark.sources.tarshard import (
        synth_tar_shards, tar_members, webdataset_samples)
    mem = tar_members(synth_tar_shards(_docs(spark, sf_dir)))
    tar_rows = mem.select(
        F.lit("tar").alias("variant"), "doc_id",
        F.col("member_idx").alias("rec_idx"),
        F.concat(F.lit("tar:"), F.col("ext")).alias("warc_type"),
        F.col("name").alias("s"),
        F.lit(None).cast("int").alias("status"),
        F.col("n_bytes").alias("n_body"),
        F.col("body_text").alias("trimmed"))
    # zip shards (Kaggle-dump class) carry the SAME sample members
    # through the EOCD + central-directory walk (stored on even
    # docs, deflate on odd) — container-agnostic member rows
    from html_parser_spark.sources.tarshard import (
        synth_zip_shards, zip_members)
    zmem = zip_members(synth_zip_shards(_docs(spark, sf_dir)))
    zip_rows = zmem.select(
        F.lit("zip").alias("variant"), "doc_id",
        F.col("member_idx").alias("rec_idx"),
        F.concat(F.lit("zip:"), F.col("ext")).alias("warc_type"),
        F.col("name").alias("s"),
        F.lit(None).cast("int").alias("status"),
        F.col("n_bytes").alias("n_body"),
        F.col("body_text").alias("trimmed"))
    wds_rows = webdataset_samples(mem).select(
        F.lit("wds").alias("variant"), "doc_id",
        F.col("n_members").alias("rec_idx"),
        F.col("exts").alias("warc_type"),
        F.col("stem").alias("s"),
        F.lit(None).cast("int").alias("status"),
        F.col("total_bytes").alias("n_body"),
        F.lit(None).cast("string").alias("trimmed"))
    # robots.txt admission (RFC 9309) — the gate a crawl consults
    # BEFORE any of the above records exist. Planted per-doc robots
    # files exercise comments, a pre-group ignored rule, '*' vs
    # named-agent group precedence (%3 docs carry a 'trainbot'
    # group), wildcard and '$'-anchored patterns, longest-match with
    # allow-wins ties, and the empty Disallow; verdicts for four
    # paths per doc under the 'trainbot' product token. The oracle
    # re-derives the ENTIRE chain — line/field parse, group
    # numbering, group selection, pattern->regex translation, and
    # the longest-match verdict.
    from html_parser_spark.operators.robots import (parse_robots,
                                                    robots_allowed)
    docs = _docs(spark, sf_dir)
    rb = docs.select(
        "doc_id",
        F.expr(_T_ROBOTS.replace("AS VARCHAR", "AS STRING"))
        .alias("robots_txt"))
    rules = parse_robots(rb, key_col="doc_id")
    paths = docs.select("doc_id", F.explode(F.array(
        F.concat(F.lit("/private/pub"), F.col("doc_id").cast("string")),
        F.lit("/private/x"), F.lit("/tmp"), F.lit("/train/go")))
        .alias("path"))
    verd = robots_allowed(rules, paths, user_agent="trainbot",
                          key_col="doc_id", path_col="path")
    robots_rows = verd.select(
        F.lit("robots").alias("variant"),
        F.col("key").alias("doc_id"),
        F.when(F.col("path") == "/private/x", 1)
        .when(F.col("path") == "/tmp", 2)
        .when(F.col("path") == "/train/go", 3)
        .otherwise(0).cast("int").alias("rec_idx"),
        F.lit("robots").alias("warc_type"),
        F.col("path").alias("s"),
        F.col("allowed").cast("int").alias("status"),
        F.coalesce(F.length("matched_pattern").cast("long"),
                   F.lit(-1)).alias("n_body"),
        F.when(F.col("matched_rule").isNotNull(),
               F.concat_ws(" ", "matched_rule", "matched_pattern"))
        .alias("trimmed"))
    return rec_rows.unionByName(text_rows) \
        .unionByName(tar_rows).unionByName(zip_rows) \
        .unionByName(wds_rows).unionByName(robots_rows)


#: per-doc robots.txt fixture (shared Spark/DuckDB expression): a
#: pre-group rule (ignored), a '*' group with prefix / wildcard /
#: '$'-anchored rules + an inline comment, a named 'trainbot' group
#: on %3 docs (which then SUPPLANTS the '*' group per RFC 9309
#: §2.2.1), and a trailing empty Disallow (matches nothing).
_T_ROBOTS = (
    "'Disallow: /pregroup-ignored/' || chr(10) || "
    "'User-agent: *' || chr(10) || "
    "'Disallow: /private/   # comment' || chr(10) || "
    "'Allow: /private/pub*' || chr(10) || "
    "'Disallow: /tmp$' || chr(10) || "
    "CASE WHEN doc_id % 3 = 0 THEN 'User-agent: trainbot' || chr(10)"
    " || 'Disallow: /train/' "
    "ELSE '# no extra group' END || chr(10) || 'Disallow:'")


#: planted URLs covering the canonicalization cases: default-port +
#: tracking + fragment, root default-https, explicit non-default
#: port, missing path, tracking-only query
_T_URLS = (
    "CASE CAST(doc_id % 7 AS INT) "
    "WHEN 0 THEN 'HTTP://Ex' || CAST(doc_id AS VARCHAR) ||"
    " '.COM:80/a/b?utm_source=x&b=2&a=1#frag' "
    "WHEN 1 THEN 'https://Host.Org:443/' "
    "WHEN 2 THEN 'https://h.com:8080/p' || CAST(doc_id AS VARCHAR) ||"
    " '?z=1' "
    "WHEN 3 THEN 'http://plain' || CAST(doc_id AS VARCHAR) || '.com' "
    "WHEN 4 THEN 'https://t.co/x?fbclid=' || CAST(doc_id AS VARCHAR) "
    "WHEN 5 THEN 'https://Sub.Bad.Example/casino/poker' "
    "ELSE 'http://ok' || CAST(doc_id AS VARCHAR) ||"
    " '.org/viagra-deals' END")


def _q_canonical_urls(spark, sf_dir):
    """URL canonicalization (scheme/host case, default ports,
    fragments, tracking params, query sort) COMPOSED with the
    RefinedWeb-style URL gate (Penedo et al. 2023 §3.1) over the
    canonical form: per-URL host, blocked-domain (exact 't.co' and
    subdomain-of-'bad.example' both planted), blocked-substring
    ('/casino/'), soft-word score (the %6 case plants exactly ONE
    soft word, under the >=2 threshold, so the soft gate's
    non-firing is verified too) and the keep conjunction — pure JVM;
    the oracle states each planted case's canonical form and every
    verdict in closed form."""
    from html_parser_spark.operators.urls import (canonicalize_urls,
                                                  url_filter)

    planted = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(_T_URLS.replace("AS VARCHAR", "AS STRING")).alias("url"))
    canon = canonicalize_urls(planted).select("doc_id",
                                              "canonical_url")
    return url_filter(canon, url_col="canonical_url",
                      blocked_domains=("t.co", "bad.example"),
                      blocked_substrings=("/casino/",))


def _q_sessionize(spark, sf_dir):
    """Idle-gap sessionization over synthetic per-doc turn times: 5
    turns per doc, a >300 s gap after the third — two sessions with
    closed-form bounds."""
    from html_parser_spark.operators.sessions import sessionize

    turns = _docs(spark, sf_dir).select(
        "doc_id",
        F.col("doc_id").cast("string").alias("conv_id"),
        F.explode(F.sequence(F.lit(0), F.lit(4))).alias("j"))
    ts = F.timestamp_seconds(
        F.lit(1767225600) + F.pmod(F.col("doc_id"), F.lit(97))
        + F.when(F.col("j") < 3, F.col("j") * 60)
        .otherwise(F.lit(3600) + F.col("j") * 60))
    return sessionize(turns.select("conv_id", ts.alias("ts")),
                      gap_seconds=300)


def _q_redact_pii(spark, sf_dir):
    """Both per-doc text transforms in one row set: PII scrub over
    text with planted email/IP/phone (the oracle knows the
    closed-form redacted string) joined with Unicode NFC + ws/case
    normalization of the raw text (norm_text)."""
    from html_parser_spark.operators.textstats import (
        normalize_text, redact_pii)

    docs = _docs(spark, sf_dir)
    planted = docs.select(
        "doc_id",
        F.expr(
            "text || ' mail a' || CAST(doc_id AS STRING) || "
            "'@ex.com ip 10.1.2.' || CAST(doc_id % 250 AS STRING) || "
            "' tel +1 (555) 010-' || CAST(doc_id AS STRING)"
        ).alias("text"))
    return redact_pii(planted, ["doc_id"]).join(
        normalize_text(docs, ["doc_id"]), "doc_id")


def _q_pack_sequences(spark, sf_dir):
    """The composed training-export prep: chunk long docs into
    40-WORD windows with a 10-word overlap stride, then
    deterministically pack the chunks into 120-TOKEN packs over 8
    hash buckets — where tokens are REAL subword tokens: the packs
    are budgeted in token_mode="bpe" with an 8-merge table trained
    in-engine on the same corpus. The oracle re-derives the chunk
    count formula, the window slices, the full BPE merge sequence
    (8 unrolled pair-frequency/argmax/replace rounds), the per-chunk
    BPE token budget (eligible words at BPE token count, everything
    else one token per char), the md5 layout order, the per-bucket
    running token offsets, and the floor(start/target) pack
    assignment."""
    from html_parser_spark.operators.bpe import train_bpe
    from html_parser_spark.plans.pipeline import (
        chunk_documents, pack_sequences)
    docs = _docs(spark, sf_dir)
    merges = train_bpe(docs, num_merges=8)
    chunks = chunk_documents(docs, max_tokens=40, overlap=10)
    keyed = chunks.withColumn(
        "chunk_key", F.concat_ws("#", "doc_id", "chunk_idx"))
    packed = pack_sequences(keyed, target_tokens=120,
                            key_col="chunk_key",
                            text_col="chunk_text", buckets=8,
                            token_mode="bpe", merges=merges)
    return (keyed.select("chunk_key", "doc_id", "chunk_idx")
            .join(packed, "chunk_key")
            .select("doc_id", "chunk_idx", "pack_id", "pack_pos",
                    "n_tokens"))


def _q_bpe_tokens(spark, sf_dir):
    """In-engine deterministic BPE: train an 8-merge table on the
    corpus (bounded pair-frequency/argmax rounds — the same
    bounded-iteration pattern as kmeans_centroids/train_quality_lr),
    then encode with a pure-JVM replace chain. Variant rows:
    'merge' = the learned merge sequence itself (rank, pair, corpus
    frequency, merged symbol); 'count' = every doc's full-text BPE
    token BUDGET (eligible words at BPE token count, char fallback
    for the rest); 'encode' = the doc_id % 7 == 0 slice's actual
    token streams. The DuckDB oracle re-derives the merge sequence
    with 8 unrolled training rounds and re-encodes with the same
    chain — training AND encoding are both re-derived, not just
    checked against stored expectations."""
    from html_parser_spark.operators.bpe import (
        bpe_token_count_col, bpe_tokens_col, train_bpe)
    docs = _docs(spark, sf_dir)
    merges = train_bpe(docs, num_merges=8)
    merge_rows = spark.createDataFrame(
        [("merge", i + 1, f"{l}|{r}", f, l + r)
         for i, (l, r, f) in enumerate(merges)],
        "variant string, k bigint, pair string, n bigint, "
        "tokens string")
    t = F.col("text")
    counts = docs.select(
        F.lit("count").alias("variant"),
        F.col("doc_id").cast("long").alias("k"),
        F.lit("").alias("pair"),
        bpe_token_count_col(t, merges).alias("n"),
        F.lit("").alias("tokens"))
    toks = bpe_tokens_col(t, merges)
    enc = (docs.filter(F.col("doc_id") % 7 == 0)
           .select(F.lit("encode").alias("variant"),
                   F.col("doc_id").cast("long").alias("k"),
                   F.lit("").alias("pair"),
                   F.size(toks).cast("long").alias("n"),
                   F.concat_ws(" ", toks).alias("tokens")))
    return merge_rows.unionByName(counts).unionByName(enc)


def _q_dedup_incremental(spark, sf_dir):
    """Two-epoch incremental dedup against a persisted signature
    store: epoch 0 = doc_id < floor(max/2) seeds the store, epoch 1
    probes it and appends. The DuckDB oracle replays BOTH epochs as
    ONE from-scratch pass (kept iff no band-bucket collision with any
    smaller id) — passing means the incremental keep set equals the
    from-scratch keep set, which is the whole point of the rule. The
    store lives in a per-run temp dir; verdicts are localCheckpoint-
    materialized before cleanup so the returned plan has no parquet
    dependency left."""
    import shutil
    import tempfile

    from html_parser_spark.operators.dedup import dedup_incremental

    docs = _docs(spark, sf_dir)
    t = docs.agg(F.max("doc_id")).first()[0] // 2
    store = tempfile.mkdtemp(prefix="sig_store_")
    try:
        v0 = dedup_incremental(
            spark, docs.filter(F.col("doc_id") < t), store)
        v1 = dedup_incremental(
            spark, docs.filter(F.col("doc_id") >= t), store)
        out = (v0.withColumn("epoch", F.lit(0))
               .unionByName(v1.withColumn("epoch", F.lit(1)))
               .select(F.col("doc_id").cast("long").alias("doc_id"),
                       F.col("epoch").cast("int").alias("epoch"),
                       "kept")
               .localCheckpoint())
    finally:
        shutil.rmtree(store, ignore_errors=True)
    return out


def _q_term_stats(spark, sf_dir):
    """Corpus vocabulary stats + per-doc top-5 tf-idf terms as one
    variant-tagged row set ('corpus' rows carry n_occurrences /
    n_docs with doc_id = -1; 'doc' rows carry tf / score / rank).
    approx_docs=False on the corpus arm: the oracle checks the exact
    path; the HLL scale default is plan-verified in pytest."""
    from html_parser_spark.operators.textstats import (
        term_freq, tfidf_topk)
    corpus = term_freq(_docs(spark, sf_dir), min_count=2,
                       approx_docs=False)
    corpus_rows = corpus.select(
        F.lit("corpus").alias("variant"),
        F.lit(-1).cast("long").alias("doc_id"),
        "token",
        F.col("n_occurrences").cast("long").alias("n"),
        F.lit(0.0).alias("score"),
        F.col("n_docs").cast("int").alias("rank"))
    doc_rows = tfidf_topk(_docs(spark, sf_dir), k=5).select(
        F.lit("doc").alias("variant"),
        F.col("doc_id").cast("long").alias("doc_id"),
        "token",
        F.col("tf").cast("long").alias("n"),
        "score",
        F.col("rank").cast("int").alias("rank"))
    return corpus_rows.unionByName(doc_rows)


def _q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition features over text with planted
    duplicate lines/words."""
    from html_parser_spark.operators.textstats import repetition_stats

    planted = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr("text || chr(10) || 'L1' || chr(10) || 'L1' || chr(10)"
               " || 'w w w ' || CAST(doc_id AS STRING)").alias("text"))
    return repetition_stats(planted, ["doc_id"])


def _q_minhash_sigs(spark, sf_dir):
    """Eight md5 minhashes per doc (one md5 per (shingle, hash), the
    signatures curation's near-dup stage bands); the oracle rebuilds
    every one."""
    from html_parser_spark.operators.dedup import minhash_signatures

    return minhash_signatures(_docs(spark, sf_dir), num_hashes=8)


def _q_audio_stats(spark, sf_dir):
    """Audio leg of the multimodal column family: complete valid
    integer-PCM WAVs at the rotating 16/24/8-bit depths (RIFF chunk
    walk incl. a junk LIST chunk, word alignment, fmt parse) -> exact
    integer sample statistics; the oracle recomputes every sample
    from the closed-form ramps (the 8-bit arm's narrower ramp via a
    CASE), so the whole container+PCM decode chain is verified
    numerically at every depth.

    Second arm (variant='mp3'): MPEG-1 Layer III frame-header walk
    over complete fixture MP3s — ID3v2 syncsafe skip, bitrate/
    sample-rate table decode, per-frame padding-bit lengths, channel
    mode — reported in the same columns with sum_sq carrying
    bitrate_kbps and peak carrying duration_ms; the oracle
    re-derives every field including the frame-count duration.
    Third arm (variant='flac'): STREAMINFO metadata-block walk
    (bit-packed sample rate / channels / bits-per-sample / total
    samples, last-flag block skipping) — sum_sq carries
    bits_per_sample, peak carries duration_ms.

    (The standalone lsh_pairs row this slot held is still
    driver-verified through ngram_jaccard, dedup_corpus,
    curate_corpus and dedup_incremental, whose oracles all re-derive
    the LSH banding in SQL.)"""
    from html_parser_spark.operators.audio import (
        decode_flac_meta, decode_mp3_meta, decode_wav_stats,
        synth_flac_audio, synth_mp3_audio, synth_wav_audio)
    docs = _docs(spark, sf_dir)
    wav = decode_wav_stats(synth_wav_audio(docs)) \
        .withColumn("variant", F.lit("wav"))
    mp3 = decode_mp3_meta(synth_mp3_audio(docs)) \
        .withColumn("variant", F.lit("mp3"))
    flac = decode_flac_meta(synth_flac_audio(docs)) \
        .withColumn("variant", F.lit("flac"))
    return wav.unionByName(mp3).unionByName(flac)


#: planted passage fixture: doc_id % 3 == 0 rows share one 8-word
#: passage (cross-document repetition), % 3 == 1 rows carry a
#: passage repeated twice WITHIN the row (and across rows), % 3 == 2
#: rows get a unique tail — natural base-text repeats participate
#: too, since the oracle rebuilds the whole computation
_T_PASSAGE = (
    "text || CASE CAST(doc_id % 3 AS INT) "
    "WHEN 0 THEN ' alpha beta gamma delta epsilon zeta eta theta' "
    "WHEN 1 THEN ' rep one two three four five"
    " rep one two three four five' "
    "ELSE ' tail' || CAST(doc_id AS VARCHAR) END")


def _q_passage_dedup(spark, sf_dir):
    """Passage-level dedup (Lee et al. 2022 class): word-5-shingle
    frequency >= 2 anywhere in the corpus -> merged per-doc word
    spans, each row carrying the doc's scrubbed text (all duplicated
    spans removed — the removal tail, remove_dup_passages); the
    oracle rebuilds shingling, corpus-wide frequency, the gaps-and-
    islands span merge, AND the scrub."""
    from html_parser_spark.operators.dedup import (
        passage_dup_spans, remove_dup_passages)

    planted = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(_T_PASSAGE.replace("AS VARCHAR", "AS STRING"))
        .alias("text"))
    spans = passage_dup_spans(planted)
    scrubbed = remove_dup_passages(planted, spans)
    return spans.join(scrubbed, "doc_id")


def _q_dedup_lines(spark, sf_dir):
    """CCNet-tier duplicate-line scrub (Wenzek et al. 2020) over
    planted multi-line pages: two boilerplate lines shared by every
    page (the per-page copyright year exercises digit-insensitive
    normalization), the unique document text, a letter-coded unique
    tail, and a within-page repeated banner on every 7th page. The
    oracle re-derives normalization, corpus-wide counting, and the
    per-doc reassembly on the normalized strings themselves."""
    from html_parser_spark.operators.dedup import dedup_lines

    planted = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(_T_LINES.replace("AS VARCHAR", "AS STRING"))
        .alias("text"))
    return dedup_lines(planted)


def _q_simhash(spark, sf_dir):
    """Both SimHash arms in one row set, tagged by `variant`: the
    64-bit signatures (id_b carries the signature, hamming = -1) and
    the banded near-dup pairs (hamming = exact bit distance); the
    oracle re-derives the md5 bit votes AND the 16-bit-band pigeonhole
    join from scratch."""
    from html_parser_spark.operators.dedup import (
        simhash, simhash_near_dup_pairs)
    docs = _docs(spark, sf_dir)
    sig = simhash(docs).select(
        F.lit("sig").alias("variant"),
        F.col("doc_id").cast("long").alias("id_a"),
        F.col("simhash").alias("id_b"),
        F.lit(-1).cast("int").alias("hamming"))
    pairs = simhash_near_dup_pairs(docs, max_hamming=3).select(
        F.lit("pair").alias("variant"),
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("int").alias("hamming"))
    return sig.unionByName(pairs)


def _q_ngram_jaccard(spark, sf_dir):
    """Two LSH-fed similarity tiers in one variant-tagged row set:
    variant='doc' is the scale-default composition — exact Jaccard
    scored only on MinHash-LSH candidate pairs (the operator's
    ``candidates`` path), never the corpus cross-product.
    variant='mirror' is GROUP-level: per-doc signatures fold up to
    synthetic hosts via minhash_union (min commutes with set union —
    Broder 1997 mergeability), then mirror_pairs LSH-bands the host
    signatures and scores agreement. Fixture hosts m{d%4} serve
    one-shingle docs 'a{q} b{q} c{q}' (q = d%10): gcd(4,10)=2 makes
    m0==m2 and m1==m3 exact mirrors (est_jaccard 1.0) and every
    cross-parity pair disjoint. At min_sim 0.75 and band_size 2 the
    LSH step is pigeonhole-complete (>=6/8 agreements always leave
    an intact band), so the oracle's brute-force 4-host cross join
    re-derives the identical pair set. est_jaccard = k/8 is exactly
    representable, so the double hashes bit-identically."""
    from html_parser_spark.operators.dedup import (
        lsh_candidate_pairs, minhash_signatures, minhash_union,
        mirror_pairs, ngram_jaccard_pairs)
    docs = _docs(spark, sf_dir)
    cand = lsh_candidate_pairs(
        minhash_signatures(docs, num_hashes=8),
        num_hashes=8, band_size=2, max_bucket=1_000_000)
    doc_rows = ngram_jaccard_pairs(
        docs, threshold=0.1, candidates=cand).select(
        F.lit("doc").alias("variant"),
        F.col("id_a").cast("string").alias("id_a"),
        F.col("id_b").cast("string").alias("id_b"),
        "jaccard")
    q = (F.col("doc_id") % 10).cast("string")
    mdocs = docs.select(
        "doc_id",
        F.concat(F.lit("m"), (F.col("doc_id") % 4).cast("string"))
        .alias("host"),
        F.concat(F.lit("a"), q, F.lit(" b"), q, F.lit(" c"), q)
        .alias("text"))
    hsigs = minhash_union(
        minhash_signatures(mdocs).join(
            mdocs.select("doc_id", "host"), "doc_id"), "host")
    mirror_rows = mirror_pairs(hsigs, min_sim=0.75).select(
        F.lit("mirror").alias("variant"), "id_a", "id_b",
        F.col("est_jaccard").alias("jaccard"))
    return doc_rows.unionByName(mirror_rows)


def _q_cosine_knn(spark, sf_dir):
    """All four vector-retrieval modes in ONE variant-tagged row set
    (round-5 merge of the former lsh_ann query, freeing a registry
    slot under the 50-cap): variant='thresh' is exact threshold
    search, 'topk' is multi-query exact top-k via the shuffle-bounded
    two-phase reduction (per-partition top-k before the exchange),
    'lsh' is hyperplane-LSH bucketing (the oracle rebuilds the
    identical md5-parity sketch, so bucketing is verified too), and
    'ivf' is IVF-flat with deterministic 'trained' centroids (the
    first four corpus vectors stand in for offline k-means output;
    the oracle rebuilds assignment, probe ranking, and re-scoring).
    ANN arms report rank = -1 like threshold search."""
    from html_parser_spark.operators.similarity import (
        cosine_neighbors, cosine_topk, ivf_neighbors, lsh_neighbors)
    emb = _emb(spark, sf_dir)
    q1 = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    thresh = cosine_neighbors(emb, q1, threshold=0.2).select(
        F.lit("thresh").alias("variant"), "query_id", "vec_id",
        "cos_sim", F.lit(-1).cast("int").alias("rank"))
    q3 = emb.filter(F.col("vec_id") <= 2).select(
        F.col("vec_id").alias("query_id"), "embedding")
    topk = cosine_topk(emb, q3, k=5).select(
        F.lit("topk").alias("variant"), "query_id", "vec_id",
        "cos_sim", "rank")
    lsh = lsh_neighbors(emb, q1, dim=64, n_bits=8, threshold=0.2) \
        .select(F.lit("lsh").alias("variant"), "query_id", "vec_id",
                "cos_sim", F.lit(-1).cast("int").alias("rank"))
    cents = [list(r.embedding) for r in
             emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()]
    ivf = ivf_neighbors(emb, q1, cents, n_probe=2, threshold=0.2) \
        .select(F.lit("ivf").alias("variant"), "query_id", "vec_id",
                "cos_sim", F.lit(-1).cast("int").alias("rank"))
    return thresh.unionByName(topk).unionByName(lsh).unionByName(ivf)


def _q_embedding_near_dup(spark, sf_dir):
    """Both embedding-dedup tiers in one variant-tagged row set:
    variant='pairs' is the bucketed near-dup path (same-sketch-bucket
    candidates, exact cosine on candidates only; the oracle rebuilds
    the identical md5-parity sketch) and variant='semdedup' is the
    cluster-then-prune SemDeDup composition (Abbas et al. 2023) with
    deterministic 'trained' centroids (the first four corpus vectors
    stand in for offline k-means output, the lsh_ann precedent):
    rows (id_a=vec_id, id_b=its component's keeper, cos_sim=cosine to
    own centroid) for every member of a duplicate component — the
    oracle re-derives assignment, the in-cluster dup graph, its
    connected components, and the lowest-centroid-similarity keep
    rule."""
    from html_parser_spark.operators.dedup import (embedding_near_dup,
                                                   semdedup)
    emb = _emb(spark, sf_dir)
    pairs = embedding_near_dup(emb, threshold=0.3, dim=64, n_bits=8) \
        .select(F.lit("pairs").alias("variant"), "id_a", "id_b",
                "cos_sim")
    cents = [list(r.embedding) for r in
             emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()]
    sem = semdedup(emb, cents, threshold=0.3) \
        .select(F.lit("semdedup").alias("variant"),
                F.col("vec_id").alias("id_a"),
                F.col("keeper_id").alias("id_b"),
                F.col("cent_sim").alias("cos_sim"))
    return pairs.unionByName(sem)


def _q_link_graph(spark, sf_dir):
    """Host-level link graph + fixed-point PageRank over URLs the
    ENGINE'S OWN tokenizer extracts, tagged by `variant`:
    variant='graph' rows are the per-host (out_deg, in_deg, pr)
    table — each doc-page lives on host h(doc_id%7).ex.com and
    anchors to h(doc_id%5).ex.com and H((3·doc_id+1)%11).EX.com (the
    second spelled uppercase, so the RFC 3986 case fold is exercised
    end-to-end); the residue classes saturate at a few hundred docs,
    so the distinct host graph is the same at every SF while the
    edge EXTRACTION still scans the whole corpus. variant='frontier'
    rows close the crawl loop: one planted frontier URL per doc
    (every 4th on a 'NewK.EX.com' host the graph has never seen)
    gains its host's rank as `pr` via frontier_priority — the
    Cho/Garcia-Molina/Page 1998 URL-ordering prior — with
    unknown-host URLs taking pr=0 (fetched last, never dropped).
    variant='anchor' rows are the per-target-host anchor-text
    profiles (anchor_profiles over the REAL anchors extractor: the
    engine's get_tag/get_text assembly feeds the normalizer, so the
    ' Y  {d%2} ' fixture text must survive trim + collapse + casefold
    as 'y {d%2}'), column-mapped url<-top_text, out_deg<-n_anchors,
    in_deg<-n_texts, pr<-top_n (the warc_extract per-variant reuse
    precedent). PageRank runs 3 rounds of exact 64-bit fixed-point
    arithmetic (linkgraph.py), so the oracle's unrolled integer CTEs
    — and the frontier join against round 3 — match hash-exactly
    with no float rounding protocol. variant='trust' rows are
    TrustRank over the same edges, seeded ONLY at h0.ex.com — the
    oracle unrolls the seed-gated teleport the same way, so the
    spam-prior arm is hash-verified too. Admission itself (robots +
    URL gate) is crawl_frontier's job, verified under warc_extract;
    here keep_col=None feeds the priority join directly."""
    from html_parser_spark.operators.crawl import frontier_priority
    from html_parser_spark.operators.extract import anchors, links
    from html_parser_spark.operators.linkgraph import (
        anchor_profiles, host_edges, link_graph, pagerank)

    lk = links(_tmpl(spark, sf_dir, _T_LINKGRAPH)).select(
        (F.concat(F.lit("h"),
                  (F.col("conv_id").cast("long") % 7).cast("string"),
                  F.lit(".ex.com"))).alias("src_host"),
        "url")
    edges = host_edges(lk)
    g = link_graph(edges, iters=3)
    graph_rows = g.select(
        F.lit("graph").alias("variant"), "host",
        F.lit(None).cast("string").alias("url"),
        "out_deg", "in_deg", "pr")
    fr = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(_T_FRONTIER.replace("AS VARCHAR", "AS STRING"))
        .alias("url"))
    pri = frontier_priority(fr, g.select("host", "pr"),
                            keep_col=None)
    frontier_rows = pri.select(
        F.lit("frontier").alias("variant"),
        F.col("url_host").alias("host"),
        "url",
        F.lit(None).cast("long").alias("out_deg"),
        F.lit(None).cast("long").alias("in_deg"),
        F.col("host_pr").alias("pr"))
    an = anchor_profiles(anchors(_tmpl(spark, sf_dir, _T_LINKGRAPH)))
    anchor_rows = an.select(
        F.lit("anchor").alias("variant"), "host",
        F.col("top_text").alias("url"),
        F.col("n_anchors").alias("out_deg"),
        F.col("n_texts").alias("in_deg"),
        F.col("top_n").alias("pr"))
    # TrustRank arm: same edge fixture, trust seeded ONLY at
    # h0.ex.com — the oracle re-derives 3 seed-gated integer rounds
    trust_rows = pagerank(edges, iters=3,
                          seed_hosts=("h0.ex.com",)).select(
        F.lit("trust").alias("variant"), "host",
        F.lit(None).cast("string").alias("url"),
        F.lit(None).cast("long").alias("out_deg"),
        F.lit(None).cast("long").alias("in_deg"),
        "pr")
    return graph_rows.unionByName(frontier_rows) \
        .unionByName(anchor_rows).unionByName(trust_rows)


def _q_dedup_canonical(spark, sf_dir):
    """Composed dedup tail on a LONG-CHAIN fixture (edges doc_id ->
    doc_id+1 within blocks of 100): components of diameter ~100, the
    case O(diameter) label propagation would handle worst."""
    from html_parser_spark.operators.dedup import dedup_canonical

    d = _docs(spark, sf_dir).select("doc_id")
    pairs = (d.filter(F.col("doc_id") % 100 != 99)
             .select(F.col("doc_id").alias("id_a"),
                     (F.col("doc_id") + 1).alias("id_b")))
    # keep only edges whose endpoint exists in the corpus
    pairs = pairs.join(d.withColumnRenamed("doc_id", "id_b"), "id_b")
    return dedup_canonical(pairs.select("id_a", "id_b"))


def _q_lineage(spark, sf_dir):
    """S7 lineage/metrics + resume: stage a batch-partitioned input,
    run run_resumable twice (second run must be a no-op), and return
    the deterministic checkpoint-table columns (batch totals —
    partition_id/wall_sec are environment-dependent by design)."""
    import shutil
    import tempfile

    from html_parser_spark.plans.pipeline import run_resumable

    tmp = tempfile.mkdtemp(prefix="lineage_q_")
    src = f"{tmp}/src"
    (_docs(spark, sf_dir)
     .select(F.col("doc_id"), F.col("text").alias("extracted_text"),
             F.pmod(F.col("doc_id"), F.lit(4)).cast("int")
             .alias("batch_id"))
     .write.partitionBy("batch_id").parquet(src))
    staged = spark.read.parquet(src)
    n1 = run_resumable(spark, staged, f"{tmp}/out", f"{tmp}/ckpt")
    n2 = run_resumable(spark, staged, f"{tmp}/out", f"{tmp}/ckpt")
    assert n1 == 4 and n2 == 0, (n1, n2)
    lineage = spark.read.parquet(f"{tmp}/ckpt")
    totals = (lineage.groupBy(F.col("batch_id").cast("int")
                              .alias("batch_id"))
              .agg(F.sum("n_rows").alias("n_rows"),
                   F.sum("n_chars").alias("n_chars")))
    # materialize the 4 total rows, then remove the staged copy of
    # the documents table — repeated gate runs must not accumulate
    # parquet trees in /tmp until the disk fills
    rows = totals.collect()
    shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, totals.schema)


def _q_dedup_corpus(spark, sf_dir):
    """The COMPOSED near-dup pipeline end-to-end as one query:
    MinHash signatures -> LSH candidate pairs -> star connected
    components -> keep one canonical doc per cluster -> surviving
    corpus. This is the actual 100 TB dedup job; the oracle rebuilds
    every stage (same band CTE, recursive components, min-id keep)."""
    from html_parser_spark.operators.dedup import (
        dedup_canonical, lsh_candidate_pairs, minhash_signatures)

    docs = _docs(spark, sf_dir)
    pairs = lsh_candidate_pairs(
        minhash_signatures(docs, num_hashes=8),
        num_hashes=8, band_size=2, max_bucket=1_000_000)
    dropped = (dedup_canonical(pairs)
               .filter(~F.col("is_canonical"))
               .select(F.col("id").alias("doc_id")))
    return docs.join(dropped, "doc_id", "left_anti").select("doc_id")


def _q_curate_corpus(spark, sf_dir):
    """End-to-end curation pipeline as ONE relational query — the
    composed job of scripts/run_curation.py: fused tokenize+extract
    -> Gopher quality gate (min_words=10) -> language gate (keep
    'en') -> benchmark decontamination (5-word-shingle overlap vs a
    deterministic eval slice, doc_id % 5 == 0 — standing in for the
    external benchmark table a real pipeline would broadcast; no
    external data allowed here) -> MinHash-LSH near-dup removal
    keeping one canonical doc per cluster. The oracle rebuilds every
    stage (extraction closed form, Gopher features + rules,
    char-gram lang scoring, eval-shingle overlap, shingle/signature/
    band/CC dedup), proving the stages compose relationally — each
    is also verified standalone by its own driver query or pytest."""
    from html_parser_spark.config import EXTRACT_CONFIG
    from html_parser_spark.operators import dedup, textstats
    from html_parser_spark.operators.extract import extract_text

    ex = extract_text(_tr(spark, sf_dir), EXTRACT_CONFIG).select(
        F.col("conv_id").cast("long").alias("doc_id"),
        F.col("trimmed_text").alias("text"))
    q = textstats.gopher_quality(ex, ["doc_id"], min_words=10)
    step2 = ex.join(q.filter("passes_gopher").select("doc_id"),
                    "doc_id", "left_semi")
    lang = textstats.lang_id(step2, ["doc_id"])
    step3 = step2.join(
        lang.filter(F.col("lang_pred") == "en").select("doc_id"),
        "doc_id", "left_semi")
    eval_df = step3.filter(F.col("doc_id") % 5 == 0)
    step4 = dedup.decontaminate(step3, eval_df, n=5)
    pairs = dedup.lsh_candidate_pairs(
        dedup.minhash_signatures(step4, num_hashes=8),
        num_hashes=8, band_size=2, max_bucket=1_000_000)
    dropped = (dedup.dedup_canonical(pairs)
               .filter(~F.col("is_canonical"))
               .select(F.col("id").alias("doc_id")))
    return (step4.join(dropped, "doc_id", "left_anti")
            .select("doc_id", F.col("text").alias("curated_text")))


def _q_dedup_components(spark, sf_dir):
    """Large-star/small-star components over the LSH pairs: the
    min-id-per-component labeling the recursive-CTE oracle derives."""
    from html_parser_spark.operators.dedup import (
        connected_components_star, lsh_candidate_pairs,
        minhash_signatures)
    sigs = minhash_signatures(_docs(spark, sf_dir), num_hashes=8)
    pairs = lsh_candidate_pairs(sigs, num_hashes=8, band_size=2,
                                max_bucket=1_000_000)
    return connected_components_star(pairs).withColumnRenamed(
        "component", "component_star")


def _tmpl(spark, sf_dir, sql_expr: str):
    """Transcripts-shaped DF whose text is a custom SQL template over
    documents — the option-variant analogue of wrap_documents, so each
    filter/option query gets a closed-form DuckDB oracle."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.expr(sql_expr.replace("AS VARCHAR", "AS STRING"))
        .alias("text"),
    )


def _ordered_concat(ev, val_col, sep=""):
    """Per-turn ordered concatenation of one event column."""
    return ev.groupBy("conv_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seq", val_col))),
                lambda s: s[val_col]),
            sep).alias("doc"))


#: option-variant wrap templates (DuckDB spelling; _tmpl converts)
_T_MARKED = ("'pre ' || text || ' <![CDATA[ a<b>&amp; ' || "
             "CAST(doc_id AS VARCHAR) || ' ]]>mid<![ INCLUDE [ ok ]]>"
             "post'")
_T_IGNORE_MS = ("'A<![ IGNORE [ secret <b>x</b> ]]>B' || "
                "CAST(doc_id AS VARCHAR)")
_T_EMPTY = ("'<r' || CAST(doc_id AS VARCHAR) || '/><p a=\"1\"/>t'")
_T_SKIPPED = ("'t0 ' || text || ' <b>mid</b> <a href=\"/l' || "
              "CAST(doc_id AS VARCHAR) || '\">end'")
_T_FALSE = ("'<!-- c' || CAST(doc_id AS VARCHAR) || ' -->A<b>B</b>'")
_T_PHRASE = ("'P1 <b>bold</b> &amp; ' || text || "
             "' <br> tail<table><td>stop'")

#: multi-line page fixture for the CCNet duplicate-line tier: two
#: corpus-wide boilerplate lines (the copyright year varies per page
#: — digit-insensitive normalization must collapse it), the unique
#: document text, a letter-coded unique tail (digits would normalize
#: away), and a within-page repeated banner on every 7th page.
_T_LINES = (
    "'Accept all cookies to continue' || chr(10) || text || chr(10)"
    " || 'Copyright ' || CAST(2000 + doc_id % 30 AS VARCHAR) ||"
    " ' Example Site' || chr(10) || 'tail marker ' ||"
    " translate(CAST(doc_id AS VARCHAR), '0123456789', 'abcdefghij')"
    " || CASE WHEN doc_id % 7 = 0 THEN chr(10) ||"
    " 'repeated banner line' || chr(10) || 'repeated banner line'"
    " ELSE '' END")


def _q_marked_sections(spark, sf_dir):
    """T8 + F6 + T11 in one row set: CDATA section text reported raw
    (no entity decode) and INCLUDE text reported normally with
    section delimiters suppressed (marked_doc), joined on conv_id
    with the MS_IGNORE arm where the section swallows every event
    (ignored_n_events, ignored_doc) and the empty-element-tags arm
    where <x/> emits start + artificial end (empty_tags,
    hparser.c:1383-1396)."""
    from html_parser_spark.config import ParserConfig
    from html_parser_spark.operators.extract import events

    ev = events(_tmpl(spark, sf_dir, _T_MARKED),
                ParserConfig(marked_sections=True),
                fields=("event", "text", "dtext", "is_cdata"))
    txt = ev.filter(F.col("event") == "text").withColumn(
        "val", F.when(F.col("is_cdata"), F.col("text"))
        .otherwise(F.col("dtext")))
    marked = _ordered_concat(txt, "val").withColumnRenamed(
        "doc", "marked_doc")

    ev2 = events(_tmpl(spark, sf_dir, _T_IGNORE_MS),
                 ParserConfig(marked_sections=True),
                 fields=("event", "text"))
    ignored = ev2.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("ignored_n_events"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seq", "text"))),
                lambda s: s.text), "").alias("ignored_doc"))

    ev3 = events(_tmpl(spark, sf_dir, _T_EMPTY),
                 ParserConfig(empty_element_tags=True), fields=("tag",))
    ev3 = ev3.withColumn("tag", F.coalesce("tag", F.lit("~")))
    empty = _ordered_concat(ev3, "tag", ",").withColumnRenamed(
        "doc", "empty_tags")
    return marked.join(ignored, "conv_id").join(empty, "conv_id")


def _q_skipped_text(spark, sf_dir):
    """P10: raw source of unreported events accumulates onto the next
    reported event; reading resets the accumulator."""
    from html_parser_spark.config import ParserConfig
    from html_parser_spark.operators.extract import events

    cfg = ParserConfig(track_skipped_text=True,
                       reported_events=("start",))
    ev = events(_tmpl(spark, sf_dir, _T_SKIPPED), cfg,
                fields=("tagname", "skipped_text"))
    return ev.select("conv_id", "seq", "tagname", "skipped_text")


def _q_handler_filters(spark, sf_dir):
    """F2 (+F1 composition) + F4 in one row set. `tags`: report_tags
    suppresses all other tags and ignore_tags wins over report_tags
    for 'br'. `false_handler_trace`: a ''-handler drops the event
    WITHOUT feeding skipped_text (comments vanish; unreported text
    still accumulates), serialized per conv as seq-ordered
    tag:skipped pairs."""
    from html_parser_spark.config import ParserConfig
    from html_parser_spark.operators.extract import events

    cfg = ParserConfig(report_tags=("a", "img", "br"),
                       ignore_tags=("br",))
    ev = events(_tr(spark, sf_dir), cfg, fields=("event", "tag"))
    ev = ev.filter(F.col("event").isin("start", "end"))
    tags = _ordered_concat(ev, "tag", ",").withColumnRenamed(
        "doc", "tags")

    cfg2 = ParserConfig(track_skipped_text=True,
                        reported_events=("start", "end"),
                        false_handler_events=("comment",))
    ev2 = events(_tmpl(spark, sf_dir, _T_FALSE), cfg2,
                 fields=("tag", "skipped_text"))
    trace = ev2.withColumn(
        "val", F.concat_ws(":", "tag", "skipped_text"))
    trace = _ordered_concat(trace, "val", ",").withColumnRenamed(
        "doc", "false_handler_trace")
    return tags.join(trace, "conv_id")


def _q_get_phrase(spark, sf_dir):
    """Q8: get_phrase — collapse-ws text up to the first
    non-phrase-markup tag."""
    from html_parser_spark.operators.extract import phrase_text
    return phrase_text(_tmpl(spark, sf_dir, _T_PHRASE)).select(
        "conv_id", "phrase")


def _q_anchors(spark, sf_dir):
    from html_parser_spark.operators.extract import anchors
    return anchors(_tr(spark, sf_dir))


def _q_rewrite_links(spark, sf_dir):
    from urllib.parse import urljoin

    from html_parser_spark.operators.extract import rewrite_links

    def rw(tag, name, raw):
        return urljoin("https://ex.com/", raw.strip())

    return rewrite_links(_tr(spark, sf_dir), rw)


def _q_strip_markup(spark, sf_dir):
    from html_parser_spark.operators.extract import strip_markup
    return strip_markup(_tr(spark, sf_dir))


#: BOM-planting template: per-row BOM / mojibake prefixes so the
#: expected flags VARY by row (doc_id % 5): UTF-8 BOM, UTF-16-LE BOM
#: (Latin-1-read ÿþ), undecoded-UTF-8 mojibake (Ã© = C3 A9 read as
#: Latin-1), Latin-1-read UTF-8 BOM bytes (ï»¿), clean
_T_BOM = ("CASE CAST(doc_id % 5 AS INT) "
          "WHEN 0 THEN '﻿' || text "
          "WHEN 1 THEN 'ÿþ' || text "
          "WHEN 2 THEN 'cafÃ© ' || text "
          "WHEN 3 THEN 'ï»¿' || text "
          "ELSE text END")


def _q_bom_stats(spark, sf_dir):
    from html_parser_spark.operators.extract import bom_stats
    return bom_stats(_tmpl(spark, sf_dir, _T_BOM))


def _q_media_meta(spark, sf_dir):
    """Both byte-plumbing media arms in one variant-tagged row set:
    container-header decode over blobs with genuine
    PNG/JPEG/GIF/WebP headers (WebP rotating its three public
    container layouts VP8/VP8L/VP8X, each with a different dim
    encoding) (variant='meta': k=n_bytes, s=format, w/h=dims) and
    frame sampling (variant='frame': k=frame_idx, s=frame_hash,
    w=h=-1). The oracle recomputes the embedded dims and the frame
    hashes in closed form, so both byte-level paths are verified
    against real bytes. A third arm (variant='caption') extracts
    the tx3g timed-text track from the MP4 fixtures — the
    multi-track box walk, the caption track's own stbl resolution,
    the stts seek expansion (k=cap_idx, s=text, w=start_ms,
    h=end_ms) — this is how a video corpus becomes training TEXT,
    and the oracle re-derives every caption string and its timing
    in closed form.

    Documented dependency: the engine counts UTF-8 BYTES (payloads
    are text.encode()) while DuckDB's length/substr count CHARS —
    equal only because the synthetic corpus text is pure ASCII
    (DuckDB cannot slice blobs, so a byte-true oracle is not
    expressible). If the generator ever plants non-ASCII text this
    oracle must be revisited, and the gate would FAIL loudly, not
    pass wrongly."""
    from html_parser_spark.operators.media import (
        decode_image_meta, sample_frames, synth_image_payloads,
        with_binary)
    docs = _docs(spark, sf_dir)
    meta = decode_image_meta(synth_image_payloads(docs)).select(
        F.lit("meta").alias("variant"), "doc_id",
        F.col("n_bytes").cast("int").alias("k"),
        # JPEG rows carry the parsed EXIF orientation in the format
        # tag so the APP1/TIFF walk is oracle-verified end-to-end
        F.when(F.col("orientation").isNotNull(),
               F.concat(F.col("format"), F.lit(":o"),
                        F.col("orientation").cast("string")))
        .otherwise(F.col("format")).alias("s"),
        F.col("width").cast("int").alias("w"),
        F.col("height").cast("int").alias("h"))
    frames = sample_frames(with_binary(docs)).select(
        F.lit("frame").alias("variant"), "doc_id",
        F.col("frame_idx").cast("int").alias("k"),
        F.col("frame_hash").alias("s"),
        F.lit(-1).cast("int").alias("w"),
        F.lit(-1).cast("int").alias("h"))
    from html_parser_spark.operators.video import (
        extract_video_captions, synth_mp4_videos)
    caps = extract_video_captions(synth_mp4_videos(docs)).select(
        F.lit("caption").alias("variant"), "doc_id",
        F.col("cap_idx").alias("k"),
        F.col("text").alias("s"),
        F.col("start_ms").cast("int").alias("w"),
        F.col("end_ms").cast("int").alias("h"))
    # file-based captions: WebVTT (even docs) / SRT (odd docs) cue
    # extraction — the same timed-text row shape as the in-container
    # tx3g arm, so both caption sources are verified side by side
    from html_parser_spark.operators.subtitles import (
        subtitle_cues, synth_subtitles)
    cues = subtitle_cues(synth_subtitles(docs)).select(
        F.col("fmt").alias("variant"), "doc_id",
        F.col("cue_idx").alias("k"),
        F.col("text").alias("s"),
        F.col("start_ms").cast("int").alias("w"),
        F.col("end_ms").cast("int").alias("h"))
    return meta.unionByName(frames).unionByName(caps) \
        .unionByName(cues)


#: planted page layout for the boilerplate-removal heuristics: short
#: heading (< min_words), the document prose (content), a pure-link
#: nav block (link_density 14/15), a 4-word closing paragraph
_T_CONTENT = (
    "'<h1>Title ' || CAST(doc_id AS VARCHAR) || '</h1>"
    "<p>' || text || '</p>"
    "<div><a href=\"/n1\">nav one</a> <a href=\"/n2\">nav two</a></div>"
    "<p>closing words here ' || CAST(doc_id AS VARCHAR) || '</p>'")


#: planted table layout: a header row, a data row carrying doc_id, a
#: data row carrying the document prose, plus a second one-cell table
#: whose cell carries closed-form colspan/rowspan (the rowspan varies
#: per doc_id; a bogus colspan="x" on the id cell must read as 1) —
#: exercises multi-table numbering, th/td, entity decode, collapse
_T_TABLE = (
    "'<p>intro</p><table><tr><th>k</th><th>v &amp; w</th></tr>"
    "<tr><td colspan=\"x\">id</td><td>' || CAST(doc_id AS VARCHAR) ||"
    " '</td></tr>"
    "<tr><td>body</td><td> ' || text || ' </td></tr></table>"
    "<table><tr><td colspan=\"2\" rowspan=\"' || "
    "CAST(1 + doc_id % 3 AS VARCHAR) || '\">x' || "
    "CAST(doc_id % 7 AS VARCHAR) || '</td></tr></table>'")


def _q_tables(spark, sf_dir):
    """Structured table extraction (cells as rows, document-order
    numbering); the oracle predicts every cell in closed form from
    the planted layout."""
    from html_parser_spark.operators.content import extract_tables
    return extract_tables(_tmpl(spark, sf_dir, _T_TABLE))


def _q_main_content(spark, sf_dir):
    """The content-extraction family as one variant-tagged row set:
    'main' rows are the boilerplate-stripped article text per turn
    (content blocks joined — the north rule's main-content tier
    above tag/element stripping); 'block' rows are the per-block
    segmentation with its shallow-text features
    (Kohlschuetter-style word-count / link-density rules). The
    oracle predicts every block's features and the joined article
    text in closed form."""
    from html_parser_spark.operators.content import (
        content_blocks, main_content)
    src_df = _tmpl(spark, sf_dir, _T_CONTENT)
    main_rows = main_content(src_df).select(
        F.lit("main").alias("variant"), "conv_id", "turn_idx",
        F.lit(-1).alias("block_seq"),
        F.col("main_text").alias("block_text"),
        F.col("n_blocks").alias("n_words"),
        F.col("n_content_blocks").cast("double")
        .alias("link_density"),
        F.lit(True).alias("is_content"))
    block_rows = content_blocks(src_df).select(
        F.lit("block").alias("variant"), "conv_id", "turn_idx",
        "block_seq", "block_text", "n_words", "link_density",
        "is_content")
    return main_rows.unionByName(block_rows)


def _q_media_pixels(spark, sf_dir):
    """Full pixel decode for the THREE dominant web image formats,
    merged into one variant-tagged row set (fmt = png | jpeg | gif):
    PNG chunk walk -> zlib -> per-pass scanline un-filter across
    ALL 8-bit color types (RGB / RGBA / grayscale / palette by
    doc_id % 4, every 5th-mod-4 doc Adam7-interlaced); baseline-JPEG
    marker walk -> Huffman entropy decode -> dequant -> IDCT -> JFIF
    YCbCr->RGB (every 5th doc grayscale, every 7th-mod-3
    4:2:0-subsampled with interleaved MCUs + nearest-neighbor chroma
    upsampling); GIF89a block walk -> GIF-variant LZW (LSB-first,
    late width change) -> de-interlace (every 4th-mod-1 doc) ->
    global-or-local palette mapping (every 5th-mod-2 doc local). The
    JPEG fixtures are per-8x8-block constant, which makes the lossy
    format exactly lossless (DC-only coefficients, unit quant), so
    the oracle recomputes every channel sum of all three formats in
    closed form and each whole decode chain — entropy bits to RGB —
    is verified numerically.

    The VIDEO leg rides the same row set: MJPEG-in-MP4 fixtures go
    through the ISO-BMFF box walk + stsc/stsz/stco sample-table
    resolution (chunk layout rotating one-chunk / per-frame /
    multi-run; every 7th-mod-5 doc 64-bit co64), every 2nd frame is
    pulled from mdat and decoded by the same JPEG path
    ('mp4:<frame>' rows), and one 'mp4meta:<codec>' row per doc
    carries the mvhd duration (r_sum, ms) and stsz sample count
    (g_sum) — so container timing, geometry, codec tag, and the
    whole frame-sampling walk are all closed-form verified."""
    from pyspark.sql import functions as F

    from html_parser_spark.operators.media import (
        decode_image_pixels, synth_gif_images, synth_jpeg_images,
        synth_png_images)
    from html_parser_spark.operators.video import (
        sample_video_frames, synth_mp4_videos, video_meta)
    docs = _docs(spark, sf_dir)
    png = decode_image_pixels(synth_png_images(docs)) \
        .withColumn("fmt", F.lit("png"))
    jpg = decode_image_pixels(synth_jpeg_images(docs)) \
        .withColumn("fmt", F.lit("jpeg"))
    gif = decode_image_pixels(synth_gif_images(docs)) \
        .withColumn("fmt", F.lit("gif"))
    mp4f = sample_video_frames(synth_mp4_videos(docs), every_n=2) \
        .select(
            "doc_id", "width", "height", "r_sum", "g_sum", "b_sum",
            F.concat(F.lit("mp4:"),
                     F.col("frame_idx").cast("string")).alias("fmt"))
    # metadata comes from the parse-only operator: one row per doc
    # straight off the box walk — no frame decode, no distinct()
    mp4m = video_meta(synth_mp4_videos(docs)).select(
        "doc_id", "width", "height",
        F.col("duration_ms").alias("r_sum"),
        F.col("n_samples").cast("long").alias("g_sum"),
        F.lit(-1).cast("long").alias("b_sum"),
        F.concat(F.lit("mp4meta:"), F.col("codec")).alias("fmt"))
    # the FRAGMENTED (DASH/HLS) layout: the same closed-form frames
    # reached through moof/tfhd/trun + trex-default resolution
    # instead of the stbl — every 2nd frame plus the meta row, so
    # the whole fragment walk is verified numerically
    fvid = synth_mp4_videos(docs, fragmented=True)
    fmp4f = sample_video_frames(fvid, every_n=2).select(
        "doc_id", "width", "height", "r_sum", "g_sum", "b_sum",
        F.concat(F.lit("fmp4:"),
                 F.col("frame_idx").cast("string")).alias("fmt"))
    fmp4m = video_meta(synth_mp4_videos(docs, fragmented=True)) \
        .select(
            "doc_id", "width", "height",
            F.col("duration_ms").alias("r_sum"),
            F.col("n_samples").cast("long").alias("g_sum"),
            F.lit(-1).cast("long").alias("b_sum"),
            F.concat(F.lit("fmp4meta:"), F.col("codec")).alias("fmt"))
    return png.unionByName(jpg).unionByName(gif) \
        .unionByName(mp4f).unionByName(mp4m) \
        .unionByName(fmp4f).unionByName(fmp4m)


def _q_pdf_text(spark, sf_dir):
    """PDF/layout parse tier: complete valid 3-page PDFs -> object
    scan -> /Filter chains (page 2 rotates Flate / ASCII85 / LZW /
    [AHx RL] by doc_id) -> content-stream text machine (Tj/TJ/'/T*/
    Td/TD/Tm layout rules, escapes, hex strings) -> page 3's /Type0
    CID font decoded through its embedded Flate-compressed ToUnicode
    CMap (bfchar + both bfrange forms, one unmapped code -> U+FFFD);
    the oracle knows the laid-out text in closed form, so the whole
    chain — xref'd real bytes to line structure — is verified."""
    from html_parser_spark.operators.pdf import (
        extract_pdf_text, synth_pdf_payloads)
    return extract_pdf_text(synth_pdf_payloads(_docs(spark, sf_dir)))


def _q_render_conv(spark, sf_dir):
    """Chat-template conversation assembly: each document becomes a
    3-turn conversation (user ask / assistant body / tool result),
    rendered back into ONE training document per conv with role tags
    in stable turn order. The turns are unioned out of document
    order (2, 0, 1) and repartitioned, so the query itself witnesses
    the ordering invariant; the oracle re-renders every turn and
    string_aggs them ORDER BY turn_idx."""
    from html_parser_spark.operators.sessions import render_conversations
    docs = _docs(spark, sf_dir)

    def turn(idx, role, text_col, tool):
        return docs.select(
            F.col("doc_id").cast("string").alias("conv_id"),
            F.lit(idx).cast("int").alias("turn_idx"),
            F.lit(role).alias("role"),
            text_col.alias("text"),
            (F.lit(tool) if tool else F.lit(None)).cast("string")
            .alias("tool"))

    t0 = turn(0, "user",
              F.concat(F.lit("ask "), F.col("doc_id").cast("string")),
              None)
    t1 = turn(1, "assistant", F.col("text"), None)
    t2 = turn(2, "tool",
              F.concat(F.lit("result "),
                       F.col("doc_id").cast("string")), "search")
    turns = t2.unionByName(t0).unionByName(t1).repartition(8)
    return render_conversations(turns)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "extract_text": _q_extract_text,
        "headers": _q_headers,
        "links": _q_links,
        "event_stats": _q_event_stats,
        "reconstruct": _q_reconstruct,
        "entities": _q_entities,
        "dedup_exact": _q_dedup_exact,
        "token_stats": _q_token_stats,
        "quality_score": _q_quality,
        "lang_id": _q_lang_id,
        "warc_extract": _q_warc_extract,
        "canonical_urls": _q_canonical_urls,
        "term_stats": _q_term_stats,
        "sessionize": _q_sessionize,
        "redact_pii": _q_redact_pii,
        "repetition_stats": _q_repetition_stats,
        "minhash_sigs": _q_minhash_sigs,
        "audio_stats": _q_audio_stats,
        "dedup_components": _q_dedup_components,
        "dedup_canonical": _q_dedup_canonical,
        "passage_dedup": _q_passage_dedup,
        "dedup_lines": _q_dedup_lines,
        "dedup_corpus": _q_dedup_corpus,
        "curate_corpus": _q_curate_corpus,
        "corpus_mix": _q_corpus_mix,
        "dsir": _q_dsir,
        "pack_sequences": _q_pack_sequences,
        "bpe_tokens": _q_bpe_tokens,
        "dedup_incremental": _q_dedup_incremental,
        "quality_rules": _q_quality_rules,
        "lineage": _q_lineage,
        "simhash": _q_simhash,
        "ngram_jaccard": _q_ngram_jaccard,
        "cosine_knn": _q_cosine_knn,
        "embedding_near_dup": _q_embedding_near_dup,
        "link_graph": _q_link_graph,
        "marked_sections": _q_marked_sections,
        "skipped_text": _q_skipped_text,
        "handler_filters": _q_handler_filters,
        "get_phrase": _q_get_phrase,
        "anchors": _q_anchors,
        "rewrite_links": _q_rewrite_links,
        "strip_markup": _q_strip_markup,
        "main_content": _q_main_content,
        "tables": _q_tables,
        "render_conv": _q_render_conv,
        "bom_stats": _q_bom_stats,
        "media_meta": _q_media_meta,
        "media_pixels": _q_media_pixels,
        "pdf_text": _q_pdf_text,
    }


# ---------------------------------------------------------------- oracles

_SHINGLES = (
    "SELECT doc_id, unnest(list_distinct(list_transform("
    "range(1, len(w)-1), i -> w[i]||' '||w[i+1]||' '||w[i+2]))) AS s "
    "FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w "
    "FROM documents)"
)

_MINHASH_AGGS = ", ".join(
    f"min(md5(s || '#{i}')) AS h{i}" for i in range(8))

#: shared MinHash sig -> 4x2 bands -> candidate-pairs CTE body, used
#: by the lsh_pairs / dedup_components(+_star) / ngram_jaccard
#: oracles so the band construction is defined exactly once
_LSH_BANDS_CTE = f"""sig AS (
              SELECT doc_id, {_MINHASH_AGGS}
              FROM ({_SHINGLES}) GROUP BY doc_id),
            bands AS (
              SELECT doc_id, 0 AS band_idx, h0||'|'||h1 AS band_key
                FROM sig
              UNION ALL SELECT doc_id, 1, h2||'|'||h3 FROM sig
              UNION ALL SELECT doc_id, 2, h4||'|'||h5 FROM sig
              UNION ALL SELECT doc_id, 3, h6||'|'||h7 FROM sig),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bands a JOIN bands b
                ON a.band_idx = b.band_idx AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id)"""


_STOPLIST = ("['the','a','of','and','to','in','is','it','that','for',"
             "'on','with','as','was','at','by','an','be','this','are']")

#: DuckDB twin of dedup.simhash's 64-bit construction: bit b of a
#: word hash = bit (b%4) of hex nibble (b//4) of md5(word); the
#: signature is the two's-complement signed-bigint reading of the 64
#: vote-sign bits (bit 63 contributes -2^63).
_SIMHASH64_CTE = """
    wrds AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS x
      FROM documents),
    m AS (SELECT doc_id, md5(x) AS m FROM wrds),
    v AS (SELECT doc_id, b,
                 sum(2 * (((position(substr(m, CAST(b // 4 AS INT) + 1,
                        1) IN '0123456789abcdef') - 1)
                        >> (b % 4)) & 1) - 1) AS v
          FROM m, (SELECT unnest(range(0, 64)) AS b)
          GROUP BY doc_id, b),
    sig AS (SELECT doc_id,
                   CAST(sum(CASE WHEN v > 0 THEN
                        (CASE WHEN b = 63 THEN -9223372036854775808
                         ELSE (CAST(1 AS BIGINT) << CAST(b AS INT)) END)
                        ELSE 0 END) AS BIGINT) AS simhash
            FROM v GROUP BY doc_id)
"""

_COS = ("round(CAST(list_cosine_similarity("
        "CAST(embedding AS DOUBLE[]), "
        "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings "
        "WHERE vec_id = 0)) AS DOUBLE), 3)")

def _lsh_bucket_expr(vec_sql: str, n_bits: int = 8, dim: int = 64,
                     seed: int = 7) -> str:
    """DuckDB twin of similarity.lsh_sketch_expr: same md5-parity
    Rademacher hyperplanes, same left-to-right double accumulation."""
    terms = []
    for b in range(n_bits):
        planes = (
            f"list_transform(range(0, {dim}), j -> CASE WHEN "
            f"(position(substr(md5('s{seed}b{b}j' || CAST(j AS VARCHAR)),"
            f" 1, 1) IN '0123456789abcdef') - 1) % 2 = 0 "
            f"THEN 1.0 ELSE -1.0 END)"
        )
        comp = f"list_inner_product({vec_sql}, {planes})"
        terms.append(f"(CASE WHEN {comp} > 0 THEN {1 << b} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def _bpe_train_ctes(k: int, max_word_len: int = 64) -> str:
    """DuckDB twin of bpe.train_bpe, UNROLLED: k rounds of
    (adjacent-pair frequency over the distinct-word table; argmax
    with the total order freq DESC, left ASC, right ASC; one literal
    leftmost-non-overlapping replace). Words use the same
    \x01-delimited segmentation strings as the engine, so "apply a
    merge" is literally the same string operation on both sides.
    Returns CTE bodies w0..w{k}, q1..q{k}, p1..p{k} plus m (the k
    single-row argmax CTEs cross-joined into one row of
    l1,r1..lk,rk)."""
    sep = "chr(1)"
    ctes = [f"""wsrc AS (
          SELECT w, count(*) AS cnt FROM (
            SELECT unnest(regexp_split_to_array(lower(trim(text)),
                                                '\\s+')) AS w
            FROM documents) u
          WHERE regexp_matches(w, '^[a-z]+$')
            AND len(w) <= {max_word_len}
          GROUP BY w),
        w0 AS (SELECT cnt,
                      regexp_replace(w, '(.)', '\x01\\1\x01', 'g')
                        AS sym
               FROM wsrc)"""]
    for i in range(1, k + 1):
        ctes.append(f"""q{i} AS (
          SELECT cnt, str_split(trim(sym, {sep}), {sep}||{sep}) AS s
          FROM w{i - 1}),
        p{i} AS (
          SELECT l, r, f FROM (
            SELECT str_split(pr, chr(2))[1] AS l,
                   str_split(pr, chr(2))[2] AS r, sum(cnt) AS f
            FROM (SELECT cnt,
                         unnest(list_transform(range(1, len(s)),
                           i -> s[i] || chr(2) || s[i+1])) AS pr
                  FROM q{i}) px
            GROUP BY 1, 2) g
          ORDER BY f DESC, l ASC, r ASC LIMIT 1),
        w{i} AS (
          SELECT cnt,
                 replace(sym, {sep}||p{i}.l||{sep}||{sep}||p{i}.r||{sep},
                         {sep}||p{i}.l||p{i}.r||{sep}) AS sym
          FROM w{i - 1}, p{i})""")
    cols = ", ".join(f"p{i}.l AS l{i}, p{i}.r AS r{i}"
                     for i in range(1, k + 1))
    srcs = ", ".join(f"p{i}" for i in range(1, k + 1))
    ctes.append(f"m AS (SELECT {cols} FROM {srcs})")
    return ",\n        ".join(ctes)


def _bpe_chain_sql(word_expr: str, k: int) -> str:
    """The k-merge encode chain over ``word_expr`` (already-lowered
    word SQL): wrap every char as \x01c\x01, then one replace per
    learned merge in rank order, referencing the m CTE's l{i}/r{i}
    columns (usable inside DuckDB lambdas — correlated columns are
    allowed in lambda bodies)."""
    sep = "chr(1)"
    expr = f"regexp_replace({word_expr}, '(.)', '\x01\\1\x01', 'g')"
    for i in range(1, k + 1):
        expr = (f"replace({expr}, "
                f"{sep}||m.l{i}||{sep}||{sep}||m.r{i}||{sep}, "
                f"{sep}||m.l{i}||m.r{i}||{sep})")
    return expr


def _bpe_count_sql(word_expr: str, k: int,
                   max_word_len: int = 64) -> str:
    """Token-budget SQL for ONE word: BPE token count (#delimiters/2
    of the encode chain) when eligible, one token per char
    otherwise."""
    chain = _bpe_chain_sql(f"lower({word_expr})", k)
    return (f"CASE WHEN regexp_matches(lower({word_expr}), '^[a-z]+$')"
            f" AND len({word_expr}) <= {max_word_len}"
            f" THEN (len({chain}) - len(replace({chain}, chr(1), '')))"
            f" // 2 ELSE len({word_expr}) END")


def _bpe_tokens_oracle(k: int = 8) -> str:
    """DuckDB twin of the full BPE query: the training rounds are
    re-run (unrolled), the encode chain re-applied, the budgets
    re-priced — nothing is compared against stored expectations."""
    count_one = _bpe_count_sql("x", k)
    chain = _bpe_chain_sql("x", k)
    return f"""
        WITH {_bpe_train_ctes(k)},
        merges AS ({" UNION ALL ".join(
            f"SELECT 'merge' AS variant, CAST({i} AS BIGINT) AS k, "
            f"l || '|' || r AS pair, CAST(f AS BIGINT) AS n, "
            f"l || r AS tokens FROM p{i}" for i in range(1, k + 1))}),
        dw AS (SELECT doc_id,
                      regexp_split_to_array(lower(trim(text)), '\\s+')
                        AS ws
               FROM documents),
        counts AS (
          SELECT 'count' AS variant, CAST(doc_id AS BIGINT) AS k,
                 '' AS pair,
                 CAST(coalesce(list_sum(list_transform(ws,
                      x -> {count_one})), 0) AS BIGINT) AS n,
                 '' AS tokens
          FROM dw, m),
        enc AS (
          SELECT 'encode' AS variant, CAST(doc_id AS BIGINT) AS k,
                 '' AS pair,
                 CAST(coalesce(list_sum(list_transform(el,
                      s -> len(str_split(trim(s, chr(1)),
                                         chr(1)||chr(1))))), 0)
                      AS BIGINT) AS n,
                 array_to_string(flatten(list_transform(el,
                   s -> str_split(trim(s, chr(1)), chr(1)||chr(1)))),
                   ' ') AS tokens
          FROM (SELECT doc_id,
                       list_transform(list_filter(ws,
                         x -> regexp_matches(x, '^[a-z]+$')
                              AND len(x) <= 64),
                         x -> {chain}) AS el
                FROM dw, m)
          WHERE k % 7 = 0)
        SELECT * FROM merges
        UNION ALL SELECT * FROM counts
        UNION ALL SELECT * FROM enc"""


def _pack_sequences_oracle(k: int = 8) -> str:
    """DuckDB twin of the composed chunk -> bpe-budget -> pack query:
    chunking and packing re-derived as before, but every chunk's
    n_tokens now re-priced through the re-trained BPE merge chain."""
    count_one = _bpe_count_sql("x", k)
    return f"""
        WITH {_bpe_train_ctes(k)},
        d AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(text), '\\s+') AS w
          FROM documents),
        nc AS (
          SELECT doc_id, w,
                 greatest(1, CAST(ceil((len(w) - 10) / 30.0)
                                  AS BIGINT)) AS kk
          FROM d),
        c AS (SELECT doc_id, w, unnest(range(0, kk)) AS ci
              FROM nc),
        ch AS (
          SELECT doc_id, ci,
                 CAST(coalesce(list_sum(list_transform(
                      w[CAST(ci*30+1 AS BIGINT) :
                        CAST(ci*30+40 AS BIGINT)],
                      x -> {count_one})), 0) AS BIGINT) AS n_tokens,
                 CAST(doc_id AS VARCHAR) || '#' ||
                   CAST(ci AS VARCHAR) AS key
          FROM c, m),
        base AS (
          SELECT doc_id, ci, key, n_tokens,
                 ('0x' || substr(md5(key || '#b0'), 1, 8))::BIGINT
                   % 8 AS b,
                 md5(key || '#o0') AS h
          FROM ch),
        laid AS (
          SELECT doc_id, ci, key, n_tokens, b, h,
                 sum(n_tokens) OVER (PARTITION BY b
                   ORDER BY h, key
                   ROWS UNBOUNDED PRECEDING) - n_tokens AS start
          FROM base)
        SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
               CAST(b AS VARCHAR) || '-' ||
                 CAST(CAST(floor(start / 120.0) AS BIGINT)
                      AS VARCHAR) AS pack_id,
               CAST(row_number() OVER (
                 PARTITION BY b, floor(start / 120.0)
                 ORDER BY h, key) AS INT) AS pack_pos,
               CAST(n_tokens AS INT) AS n_tokens
        FROM laid"""


def _lang_score_sql(col: str) -> tuple[str, str, str, str]:
    """Shared SQL builder for the lang_id scoring math over column
    ``col``: (score_cols, best, pred, fb) — ONE definition so the
    lang_id and curate_corpus oracles cannot drift from each other
    or from textstats.lang_id."""
    from html_parser_spark.operators.textstats import (
        CJK_SCRIPT_RANGES, LANG_TRIGRAMS)

    score_cols = []
    for lang, tris in LANG_TRIGRAMS.items():
        terms = " + ".join(
            f"(length({col}) - length(replace({col}, '{tri}', '')))"
            f" / {len(tri)}"
            for tri in tris)
        score_cols.append(f"({terms}) AS s_{lang}")
    langs = list(LANG_TRIGRAMS)
    best = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    # 2nd-greatest profile score -> lang_margin = best - second
    second = ("(list_sort([" + ", ".join(f"s_{l}" for l in langs)
              + "]))[-2]")
    pred = " ".join(f"WHEN s_{l} = best THEN '{l}'" for l in langs)
    fb = " ".join(
        f"WHEN length(regexp_replace({col}, '[^{rng}]', '', 'g')) > 0 "
        f"THEN '{lang}'" for lang, rng in CJK_SCRIPT_RANGES)
    return ", ".join(score_cols), best, pred, fb, second


def _lang_id_oracle() -> str:
    """DuckDB twin of textstats.lang_id: identical gram profiles
    (incl. the zh/ja/ko bigrams), identical
    (len - len(replace))/len(gram) counting, identical argmax +
    tie-break order, identical codepoint-range CJK fallback — the
    classifier math is re-derived, not just the expected labels."""
    score_cols, best, pred, fb, second = _lang_score_sql("t")
    return f"""
        WITH d AS (SELECT doc_id, lower({_T_LANG}) AS t
                   FROM documents),
        s AS (SELECT doc_id, t, {score_cols} FROM d),
        b AS (SELECT doc_id, {best} AS best, {second} AS second, *
              FROM s)
        SELECT doc_id,
               CASE WHEN best <= 0 THEN (CASE {fb} ELSE 'other' END)
                    {pred}
                    ELSE 'other' END AS lang_pred,
               CAST(best AS BIGINT) AS lang_score,
               CAST(best - second AS BIGINT) AS lang_margin
        FROM b"""


def _curate_corpus_oracle() -> str:
    """DuckDB twin of the COMPOSED curation pipeline: extraction
    closed form -> Gopher features + rule conjunction (min_words=10)
    -> char-gram lang scoring (keep 'en') -> benchmark
    decontamination (drop docs sharing any 5-word shingle with the
    doc_id % 5 == 0 eval slice; the engine compares xxhash64 of the
    shingle, the oracle the shingle string — equality coincides) ->
    trigram-shingle MinHash signatures -> LSH bands -> recursive-CTE
    components -> keep the min-id canonical per cluster. Every stage
    re-derived."""
    score_cols, best, pred, fb, _second = _lang_score_sql("lt")
    aggs = ", ".join(f"min(md5(s || '#{i}')) AS h{i}" for i in range(8))
    return f"""
        WITH RECURSIVE ex AS MATERIALIZED (
          SELECT doc_id,
                 'Doc & ' || {_ID} || ' ' ||
                 trim(regexp_replace(text, '\\s+', ' ', 'g')) ||
                 ' <link> pic ' || {_ID} AS text
          FROM documents),
        gw AS (SELECT doc_id, text,
                      regexp_split_to_array(trim(text), '\\s+') AS w
               FROM ex),
        gq AS (SELECT doc_id,
                 len(w) AS n_words,
                 round(list_sum(list_transform(w,
                       x -> CAST(length(x) AS DOUBLE))) / len(w), 3)
                   AS mean_word_len,
                 round(((length(text)
                         - length(replace(text, '#', '')))
                        + (length(text)
                           - length(replace(text, '...', ''))) / 3)
                       / len(w), 3) AS symbol_ratio,
                 round(CAST(len(list_filter(w,
                       x -> regexp_matches(x, '[A-Za-z]')))
                       AS DOUBLE) / len(w), 3) AS alpha_word_ratio,
                 len(list_filter(w,
                     x -> list_contains({_STOPLIST}, x)))
                   AS n_stopwords
               FROM gw),
        step2 AS MATERIALIZED (SELECT ex.doc_id, ex.text
                  FROM ex JOIN gq USING (doc_id)
                  WHERE gq.n_words >= 10 AND gq.n_words <= 100000
                    AND gq.mean_word_len >= 3.0
                    AND gq.mean_word_len <= 10.0
                    AND gq.symbol_ratio <= 0.1
                    AND gq.alpha_word_ratio >= 0.8
                    AND gq.n_stopwords >= 2),
        lsc AS (SELECT doc_id, {score_cols}, lt
                FROM (SELECT doc_id, lower(text) AS lt FROM step2)),
        lb AS (SELECT doc_id, {best} AS best, * FROM lsc),
        lp AS (SELECT doc_id,
                 CASE WHEN best <= 0 THEN (CASE {fb} ELSE 'other' END)
                      {pred}
                      ELSE 'other' END AS lang_pred
               FROM lb),
        -- MATERIALIZED hints: under WITH RECURSIVE, DuckDB inlines
        -- multiply-referenced CTEs, re-evaluating the expensive
        -- lang-scoring/signature stages up to 8x (bands reads sig
        -- 4x, cand reads bands 2x)
        step3 AS MATERIALIZED (SELECT step2.doc_id, step2.text
                  FROM step2 JOIN lp USING (doc_id)
                  WHERE lp.lang_pred = 'en'),
        sh5 AS MATERIALIZED (
          SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, len(w)-3),
                   i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '
                        ||w[i+3]||' '||w[i+4]))) AS s
          FROM (SELECT doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS w
                FROM step3)),
        cont AS (SELECT DISTINCT doc_id FROM sh5
                 WHERE s IN (SELECT DISTINCT s FROM sh5
                             WHERE doc_id % 5 = 0)),
        step4 AS MATERIALIZED (SELECT doc_id, text FROM step3
                  WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
        shing AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, len(w)-1),
                   i -> w[i]||' '||w[i+1]||' '||w[i+2]))) AS s
          FROM (SELECT doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS w
                FROM step4)),
        sig AS MATERIALIZED (SELECT doc_id, {aggs}
                             FROM shing GROUP BY doc_id),
        bands AS MATERIALIZED (
          SELECT doc_id, 0 AS band_idx, h0||'|'||h1 AS band_key
            FROM sig
          UNION ALL SELECT doc_id, 1, h2||'|'||h3 FROM sig
          UNION ALL SELECT doc_id, 2, h4||'|'||h5 FROM sig
          UNION ALL SELECT doc_id, 3, h6||'|'||h7 FROM sig),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b
            ON a.band_idx = b.band_idx AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id),
        edges AS (SELECT id_a AS u, id_b AS v FROM cand
                  UNION SELECT id_b, id_a FROM cand),
        reach(u, label) AS (
          SELECT u, u FROM (SELECT DISTINCT u FROM edges)
          UNION
          SELECT e.u, r.label FROM edges e JOIN reach r
            ON e.v = r.u),
        comp AS (SELECT u AS id, min(label) AS component
                 FROM reach GROUP BY u)
        SELECT doc_id, text AS curated_text FROM step4
        WHERE doc_id NOT IN
          (SELECT id FROM comp WHERE id <> component)"""


def _rewritten_wrap_expr() -> str:
    """WRAP_SQL_EXPR with link values absolutized against
    https://ex.com/ — the closed form of the hrefsub rewrite."""
    w = _wrap_expr()
    w = w.replace('<a href=" /d/', '<a href="https://ex.com/d/')
    w = w.replace("' \">&lt;link&gt;</a>", "'\">&lt;link&gt;</a>")
    w = w.replace('<img src="i\'', '<img src="https://ex.com/i\'')
    return w


def _stripped_wrap_expr() -> str:
    """WRAP_SQL_EXPR minus the style and script elements — the closed
    form of the hstrip recipe on the template."""
    w = _wrap_expr()
    w = w.replace("<style>p {color: red}</style>", "")
    w = w.replace('<script>if (x < y) { alert("&amp;"); }</script>', "")
    return w


def oracle_sql() -> dict[str, str]:
    wrap = _wrap_expr()
    out = {
        "extract_text": f"""
            SELECT {_ID} AS conv_id, 0 AS turn_idx,
              '   Doc & ' || {_ID} || '     ' || text ||
                ' <link> pic ' || {_ID} || '  ' AS extracted_text,
              'Doc & ' || {_ID} || ' ' ||
                trim(regexp_replace(text, '\\s+', ' ', 'g')) ||
                ' <link> pic ' || {_ID} AS trimmed_text
            FROM documents""",
        "headers": f"""
            SELECT {_ID} AS conv_id, 0 AS turn_idx, 0 AS header_seq,
                   'Title' AS header_name,
                   'Doc & ' || {_ID} AS header_value FROM documents
            UNION ALL
            SELECT {_ID}, 0, 1, 'Expires', 'E' || {_ID} FROM documents""",
        "links": f"""
            SELECT 'link' AS variant, {_ID} AS conv_id,
                   0 AS turn_idx, 0 AS k, 'a' AS s, 'href' AS s2,
                   '/d/' || {_ID} AS url FROM documents
            UNION ALL
            SELECT 'link', {_ID}, 0, 1, 'img', 'src',
                   'i' || {_ID} || '.png' FROM documents
            UNION ALL
            SELECT 'host', 'h' || CAST(doc_id % 7 AS VARCHAR)
                     || '.ex.com', -1,
                   CAST(count(*) AS INT),
                   CAST(count(*) AS VARCHAR), 'host',
                   'h' || CAST(doc_id % 7 AS VARCHAR) || '.ex.com'
            FROM documents GROUP BY doc_id % 7
            UNION ALL
            SELECT 'host', 'img.ex.com', -1, CAST(count(*) AS INT),
                   CAST(count(*) AS VARCHAR), 'host', 'img.ex.com'
            FROM documents
            UNION ALL
            SELECT 'sitemap', {_ID}, 1, -1, '2026-01-11', 'url',
                   'https://ex.com/d/' || {_ID} || '?a=1&b=2'
            FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT 'sitemap', {_ID}, 2, -1, CAST(NULL AS VARCHAR),
                   'url', 'https://ex.com/p/' || {_ID}
            FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT 'sitemap', {_ID}, 1, -1,
                   '2026-02-0' || CAST(doc_id % 9 + 1 AS VARCHAR),
                   'sitemap',
                   'https://ex.com/maps/m' || {_ID} || '.xml'
            FROM documents WHERE doc_id % 2 = 1""",
        "warc_extract": f"""
            SELECT 'rec' AS variant, doc_id, 0 AS rec_idx,
                   'warcinfo' AS warc_type,
                   CAST(NULL AS VARCHAR) AS s,
                   CAST(NULL AS INT) AS status,
                   CAST(55 AS BIGINT) AS n_body,
                   CAST(NULL AS VARCHAR) AS trimmed
            FROM documents
            UNION ALL
            SELECT 'rec', doc_id, 1, 'request',
                   'https://ex.com/d/' || {_ID}, CAST(NULL AS INT),
                   CAST(0 AS BIGINT), CAST(NULL AS VARCHAR)
            FROM documents
            UNION ALL
            SELECT 'rec', doc_id, 2, 'response',
                   'https://ex.com/d/' || {_ID}, 200,
                   CAST(length({wrap}) AS BIGINT),
                   CAST(NULL AS VARCHAR)
            FROM documents
            UNION ALL
            SELECT 'text', doc_id, 2, 'response',
                   CAST(NULL AS VARCHAR), CAST(NULL AS INT),
                   CAST(length({wrap}) AS BIGINT),
                   'Doc & ' || {_ID} || ' ' ||
                     trim(regexp_replace(text, '\\s+', ' ', 'g')) ||
                     ' <link> pic ' || {_ID}
            FROM documents
            UNION ALL
            SELECT 'tar', doc_id, CAST(3 * j + k AS INT),
                   'tar:' || CASE k WHEN 0 THEN 'cls'
                             WHEN 1 THEN 'json' ELSE 'txt' END,
                   'shard/sample' || CAST(j AS VARCHAR) || '-'
                     || {_ID} || '.'
                     || CASE k WHEN 0 THEN 'cls' WHEN 1 THEN 'json'
                        ELSE 'txt' END,
                   CAST(NULL AS INT),
                   CAST(length(CASE k
                     WHEN 0 THEN CAST(doc_id % 10 AS VARCHAR)
                     WHEN 1 THEN '{{"id": ' || {_ID} || '}}'
                     ELSE 'text ' || CAST(j AS VARCHAR)
                          || ' of doc ' || {_ID} END) AS BIGINT),
                   CASE k WHEN 0 THEN CAST(doc_id % 10 AS VARCHAR)
                     WHEN 1 THEN '{{"id": ' || {_ID} || '}}'
                     ELSE 'text ' || CAST(j AS VARCHAR)
                          || ' of doc ' || {_ID} END
            FROM documents,
                 LATERAL (SELECT unnest(range(0, 1 + doc_id % 2))
                          AS j) js,
                 LATERAL (SELECT unnest(range(0, 3)) AS k) ks
            UNION ALL
            SELECT 'zip', doc_id, CAST(3 * j + k AS INT),
                   'zip:' || CASE k WHEN 0 THEN 'cls'
                             WHEN 1 THEN 'json' ELSE 'txt' END,
                   'shard/sample' || CAST(j AS VARCHAR) || '-'
                     || {_ID} || '.'
                     || CASE k WHEN 0 THEN 'cls' WHEN 1 THEN 'json'
                        ELSE 'txt' END,
                   CAST(NULL AS INT),
                   CAST(length(CASE k
                     WHEN 0 THEN CAST(doc_id % 10 AS VARCHAR)
                     WHEN 1 THEN '{{"id": ' || {_ID} || '}}'
                     ELSE 'text ' || CAST(j AS VARCHAR)
                          || ' of doc ' || {_ID} END) AS BIGINT),
                   CASE k WHEN 0 THEN CAST(doc_id % 10 AS VARCHAR)
                     WHEN 1 THEN '{{"id": ' || {_ID} || '}}'
                     ELSE 'text ' || CAST(j AS VARCHAR)
                          || ' of doc ' || {_ID} END
            FROM documents,
                 LATERAL (SELECT unnest(range(0, 1 + doc_id % 2))
                          AS j) js,
                 LATERAL (SELECT unnest(range(0, 3)) AS k) ks
            UNION ALL
            SELECT 'wds', doc_id, 3, 'cls+json+txt',
                   'shard/sample' || CAST(j AS VARCHAR) || '-'
                     || {_ID},
                   CAST(NULL AS INT),
                   CAST(1 + length('{{"id": ' || {_ID} || '}}')
                        + length('text ' || CAST(j AS VARCHAR)
                                 || ' of doc ' || {_ID}) AS BIGINT),
                   CAST(NULL AS VARCHAR)
            FROM documents,
                 LATERAL (SELECT unnest(range(0, 1 + doc_id % 2))
                          AS j) js
            UNION ALL
            SELECT 'robots', doc_id, rec_idx, 'robots', path,
                   status, n_body, trimmed
            FROM (
              WITH rb AS (SELECT doc_id, {_T_ROBOTS} AS rt
                          FROM documents),
              lns AS (SELECT doc_id, string_split(rt, chr(10)) AS l
                      FROM rb),
              ln AS (SELECT doc_id, CAST(u.pos AS INT) AS pos,
                            trim(regexp_replace(u.line, '#.*', ''))
                              AS line
                     FROM (SELECT doc_id,
                             unnest(list_transform(range(0, len(l)),
                               i -> {{'pos': i, 'line': l[i+1]}})) AS u
                           FROM lns)),
              fv0 AS (SELECT doc_id, pos,
                        lower(trim(regexp_extract(line,
                                                  '^([^:]+):', 1)))
                          AS field,
                        trim(regexp_extract(line, '^[^:]+:(.*)$', 1))
                          AS value
                      FROM ln WHERE line <> ''),
              fv AS (SELECT * FROM fv0
                     WHERE field IN ('user-agent', 'allow',
                                     'disallow')),
              st AS (SELECT *,
                       CASE WHEN field = 'user-agent'
                             AND coalesce(lag(field) OVER (
                                 PARTITION BY doc_id ORDER BY pos),
                               '') <> 'user-agent'
                            THEN 1 ELSE 0 END AS is_start
                     FROM fv),
              grp AS (SELECT *, sum(is_start) OVER (
                          PARTITION BY doc_id ORDER BY pos) AS gid
                      FROM st),
              ag AS (SELECT doc_id, gid,
                            list_sort(list(lower(value))) AS agents
                     FROM grp WHERE field = 'user-agent'
                     GROUP BY 1, 2),
              rl AS (SELECT doc_id, gid, field AS rule,
                            value AS pattern, length(value) AS plen
                     FROM grp WHERE field <> 'user-agent'
                       AND gid > 0 AND value <> ''),
              rrules AS (SELECT rl.*, ag.agents FROM rl
                         JOIN ag USING (doc_id, gid)),
              hasname AS (SELECT DISTINCT doc_id AS hd FROM rrules
                          WHERE list_contains(agents, 'trainbot')),
              app AS (SELECT r.doc_id, rule, pattern, plen
                      FROM rrules r
                      LEFT JOIN hasname h ON r.doc_id = h.hd
                      WHERE CASE WHEN h.hd IS NOT NULL
                            THEN list_contains(agents, 'trainbot')
                            ELSE list_contains(agents, '*') END),
              urls AS (SELECT doc_id, CAST(u.i AS INT) AS rec_idx,
                              u.p AS path
                       FROM (SELECT doc_id,
                               unnest(list_transform(range(0, 4),
                                 i -> {{'i': i, 'p': CASE i
                                   WHEN 0 THEN '/private/pub'
                                     || {_ID}
                                   WHEN 1 THEN '/private/x'
                                   WHEN 2 THEN '/tmp'
                                   ELSE '/train/go' END}})) AS u
                             FROM documents)),
              cand AS (SELECT u.doc_id, u.rec_idx, u.path, a.rule,
                              a.pattern, a.plen,
                         CASE WHEN a.pattern IS NULL THEN FALSE
                           ELSE regexp_matches(u.path, '^' ||
                             regexp_replace(regexp_replace(
                               CASE WHEN a.pattern LIKE '%$'
                                 THEN substr(a.pattern, 1,
                                             length(a.pattern) - 1)
                                 ELSE a.pattern END,
                               '([\\.\\[\\]{{}}()+?^$|])',
                               '\\\\\\1', 'g'),
                               '\\*', '.*', 'g')
                             || CASE WHEN a.pattern LIKE '%$'
                                THEN '$' ELSE '' END) END AS m
                       FROM urls u LEFT JOIN app a USING (doc_id)),
              ver AS (SELECT *, row_number() OVER (
                          PARTITION BY doc_id, rec_idx
                          ORDER BY m DESC, plen DESC,
                                   (rule = 'allow') DESC,
                                   rule DESC, pattern DESC) AS rn
                      FROM cand)
              SELECT doc_id, rec_idx, path,
                     CAST(CASE WHEN NOT m THEN 1
                               WHEN rule = 'allow' THEN 1
                               ELSE 0 END AS INT) AS status,
                     CAST(CASE WHEN m THEN plen ELSE -1 END
                          AS BIGINT) AS n_body,
                     CASE WHEN m THEN rule || ' ' || pattern END
                       AS trimmed
              FROM ver WHERE rn = 1) rsub""",
        "event_stats": f"""
            SELECT {_ID} AS conv_id,
                   CAST(24 AS BIGINT) AS n_events,
                   CAST(length({wrap}) AS BIGINT) AS total_len,
                   CAST(5 AS BIGINT) AS n_text,
                   CAST(11 AS BIGINT) AS n_start,
                   CAST(8 AS BIGINT) AS n_end
            FROM documents""",
        "reconstruct": f"""
            SELECT {_ID} AS conv_id, {wrap} AS doc FROM documents""",
        "entities": f"""
            SELECT doc_id,
                   'x & y <' || {_ID} || '> å å å € '
                   || '&unknown;' AS decoded,
                   '&lt;' || text || '&gt; &amp; &quot;q&quot; ' || {_ID}
                   AS encoded_named,
                   '&#x3C;' || text || '&#x3E; &#x26; &#x22;q&#x22; '
                   || {_ID} AS encoded_numeric
            FROM documents""",
        "corpus_mix": """
            WITH w(lang, share) AS (
                VALUES ('en', 0.4::DOUBLE), ('zh', 0.2::DOUBLE),
                       ('fr', 0.2::DOUBLE), ('de', 0.1::DOUBLE),
                       ('es', 0.1::DOUBLE)),
            c AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n
                  FROM documents GROUP BY lang),
            t AS (SELECT min(floor(c.n / w.share)) AS total
                  FROM c JOIN w ON c.lang = w.lang),
            f AS (SELECT c.lang,
                         least(1.0::DOUBLE,
                               w.share * (SELECT total FROM t) / c.n)
                         AS frac
                  FROM c JOIN w ON c.lang = w.lang)
            SELECT d.doc_id, d.lang
            FROM documents d JOIN f ON d.lang = f.lang
            WHERE ('0x' || substr(md5(d.text || '#7'), 1, 8))::BIGINT
                  / 4294967296.0 < f.frac""",
        "dedup_exact": """
            SELECT md5(text) AS text_hash,
                   CAST(count(*) AS BIGINT) AS n_dups,
                   min(doc_id) AS canonical_id
            FROM documents GROUP BY md5(text)""",
        "token_stats": """
            SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                        AS BIGINT) AS n_words,
                   CAST(len(regexp_extract_all(text,
                        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]'))
                        AS BIGINT) AS n_tokens,
                   md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                   AS fingerprint
            FROM documents""",
        "dsir": """
            WITH d AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(
                         trim(lower(text)), '\\s+'),
                       x -> len(x) > 0) AS w
              FROM documents),
            g AS (
              SELECT doc_id,
                     unnest(w || CASE WHEN len(w) >= 2
                       THEN list_transform(range(1, len(w)),
                              i -> w[i] || ' ' || w[i+1])
                       ELSE CAST([] AS VARCHAR[]) END) AS gram
              FROM d),
            bk AS (
              SELECT doc_id,
                     ('0x' || substr(md5(gram), 1, 8))::BIGINT % 1000
                       AS b
              FROM g),
            cp AS (SELECT b, count(*) AS cp FROM bk
                   WHERE doc_id % 5 = 0 GROUP BY b),
            cq AS (SELECT b, count(*) AS cq FROM bk GROUP BY b),
            np AS (SELECT coalesce(sum(cp), 0) AS np FROM cp),
            nq AS (SELECT coalesce(sum(cq), 0) AS nq FROM cq),
            lr AS (
              SELECT cq.b,
                     ln((coalesce(cp.cp, 0) + 1.0) / (np.np + 1000.0))
                   - ln((cq.cq + 1.0) / (nq.nq + 1000.0)) AS lr
              FROM cq LEFT JOIN cp USING (b), np, nq),
            s AS (SELECT bk.doc_id, sum(lr.lr) AS s
                  FROM bk JOIN lr USING (b) GROUP BY bk.doc_id),
            x AS (SELECT bk.doc_id,
                         sum(ln((coalesce(cp.cp, 0) + 1.0)
                                / (np.np + 1000.0))) AS xs,
                         count(*) AS xn
                  FROM bk LEFT JOIN cp USING (b), np
                  GROUP BY bk.doc_id),
            xr AS (SELECT doc_id, round(-xs / xn, 3) AS xent FROM x),
            rk AS (SELECT doc_id,
                          row_number() OVER (
                            ORDER BY xent ASC, doc_id ASC) AS r,
                          count(*) OVER () AS n
                   FROM xr WHERE xent IS NOT NULL)
            SELECT d0.doc_id,
                   round(coalesce(s.s, 0.0), 3) AS dsir_logw,
                   xr.xent AS ngram_xent,
                   CAST(rk.r AS BIGINT) AS ppl_rank,
                   coalesce(CASE WHEN rk.r * 3 <= rk.n THEN 'head'
                                 WHEN rk.r * 3 <= 2 * rk.n
                                   THEN 'middle'
                                 ELSE 'tail' END,
                            'unscored') AS ppl_bucket
            FROM documents d0 LEFT JOIN s USING (doc_id)
            LEFT JOIN xr USING (doc_id)
            LEFT JOIN rk USING (doc_id)""",
        "quality_score": f"""
            WITH q AS (
              SELECT doc_id,
                     CAST(n_chars AS BIGINT) AS n_chars,
                     CAST(n_words AS BIGINT) AS n_words,
                     round(CAST(n_chars AS DOUBLE)/n_words, 3)
                       AS avg_word_len,
                     round(CAST(n_alpha AS DOUBLE)/n_chars, 3)
                       AS alpha_ratio,
                     round(CAST(n_stop AS DOUBLE)/n_words, 3)
                       AS stopword_ratio
              FROM (SELECT doc_id, length(text) AS n_chars,
                           len(w) AS n_words,
                           length(regexp_replace(text, '[^A-Za-z]', '',
                                                 'g')) AS n_alpha,
                           len(list_filter(w,
                               x -> list_contains({_STOPLIST}, x)))
                             AS n_stop
                    FROM (SELECT doc_id, text,
                                 regexp_split_to_array(trim(text),
                                                       '\\s+') AS w
                          FROM documents))),
            -- unrolled 2-iteration logistic-regression fit (lr=0.5,
            -- 256 hashed unigram+bigram buckets, weights rounded to
            -- 6 digits per update — exactly classifier.py)
            lwords AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 2 = 0 THEN 1.0 ELSE 0.0 END
                       AS y,
                     list_filter(regexp_split_to_array(
                         trim(lower(text)), '\\s+'),
                       x -> len(x) > 0) AS lw
              FROM documents),
            g AS (
              SELECT doc_id, y,
                     unnest(lw || CASE WHEN len(lw) >= 2
                       THEN list_transform(range(1, len(lw)),
                              i -> lw[i] || ' ' || lw[i+1])
                       ELSE CAST([] AS VARCHAR[]) END) AS gram
              FROM lwords),
            occ AS (
              SELECT doc_id, y,
                     ('0x' || substr(md5(gram), 1, 8))::BIGINT % 256
                       AS b
              FROM g),
            nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM lwords),
            w1 AS (SELECT b,
                          round(0.5 * sum(y - 0.5) / max(nn.n), 6)
                            AS w
                   FROM occ, nn GROUP BY b),
            b1 AS (SELECT round(0.5 * sum(y - 0.5) / max(nn.n), 6)
                            AS bias
                   FROM lwords, nn),
            msum AS (SELECT occ.doc_id, sum(w1.w) AS s1
                     FROM occ JOIN w1 USING (b)
                     GROUP BY occ.doc_id),
            r2 AS (SELECT l.doc_id,
                          l.y - 1.0/(1.0 + exp(-(b1.bias
                            + coalesce(m.s1, 0)))) AS r
                   FROM lwords l LEFT JOIN msum m USING (doc_id),
                        b1),
            w2 AS (SELECT occ.b,
                          round(max(w1.w)
                                + 0.5 * sum(r2.r) / max(nn.n), 6) AS w
                   FROM occ JOIN r2 USING (doc_id)
                   JOIN w1 ON occ.b = w1.b, nn
                   GROUP BY occ.b),
            b2 AS (SELECT round(max(b1.bias)
                               + 0.5 * sum(r2.r) / max(nn.n), 6)
                            AS bias
                   FROM r2, b1, nn),
            sc AS (SELECT occ.doc_id, sum(w2.w) AS s
                   FROM occ JOIN w2 USING (b) GROUP BY occ.doc_id)
            SELECT q.*,
                   round(1.0/(1.0 + exp(-(b2.bias
                                          + coalesce(sc.s, 0)))), 3)
                     AS lr_prob
            FROM q LEFT JOIN sc USING (doc_id), b2""",
        "lang_id": _lang_id_oracle(),
        "curate_corpus": _curate_corpus_oracle(),
        "canonical_urls": f"""
            SELECT doc_id,
                   CASE CAST(doc_id % 7 AS INT)
                     WHEN 0 THEN 'http://ex' || {_ID}
                       || '.com/a/b?a=1&b=2'
                     WHEN 1 THEN 'https://host.org/'
                     WHEN 2 THEN 'https://h.com:8080/p' || {_ID}
                       || '?z=1'
                     WHEN 3 THEN 'http://plain' || {_ID} || '.com/'
                     WHEN 4 THEN 'https://t.co/x'
                     WHEN 5 THEN 'https://sub.bad.example/casino/poker'
                     ELSE 'http://ok' || {_ID} || '.org/viagra-deals'
                   END AS canonical_url,
                   CASE CAST(doc_id % 7 AS INT)
                     WHEN 0 THEN 'ex' || {_ID} || '.com'
                     WHEN 1 THEN 'host.org'
                     WHEN 2 THEN 'h.com'
                     WHEN 3 THEN 'plain' || {_ID} || '.com'
                     WHEN 4 THEN 't.co'
                     WHEN 5 THEN 'sub.bad.example'
                     ELSE 'ok' || {_ID} || '.org'
                   END AS host,
                   CAST(doc_id % 7 AS INT) IN (4, 5)
                     AS blocked_domain,
                   CAST(doc_id % 7 AS INT) = 5 AS blocked_pattern,
                   CAST(CASE CAST(doc_id % 7 AS INT)
                     WHEN 5 THEN 2 WHEN 6 THEN 1 ELSE 0 END AS INT)
                     AS soft_score,
                   CAST(doc_id % 7 AS INT) NOT IN (4, 5) AS keep_url
            FROM documents""",
        "term_stats": """
            WITH tok AS (SELECT doc_id,
                                unnest(regexp_split_to_array(
                                    lower(trim(text)), '\\s+')) AS token
                         FROM documents),
            tf AS (SELECT doc_id, token, count(*) AS tf
                   FROM tok GROUP BY 1, 2),
            dfq AS (SELECT token, count(*) AS df_n FROM tf GROUP BY 1),
            n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS nt
                  FROM documents),
            s AS (SELECT doc_id, tf.token, tf,
                         round(tf * (ln((nt + 1.0) / (df_n + 1.0))
                                     + 1.0), 3) AS score
                  FROM tf JOIN dfq USING (token), n)
            SELECT 'corpus' AS variant, CAST(-1 AS BIGINT) AS doc_id,
                   token, CAST(sum(tf) AS BIGINT) AS n,
                   0.0 AS score, CAST(count(*) AS INT) AS rank
            FROM tf GROUP BY token HAVING sum(tf) >= 2
            UNION ALL
            SELECT 'doc', CAST(doc_id AS BIGINT), token,
                   CAST(tf AS BIGINT), score, CAST(rn AS INT)
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY doc_id
                      ORDER BY score DESC, token ASC) AS rn
                  FROM s)
            WHERE rn <= 5""",
        "sessionize": f"""
            WITH d AS (SELECT doc_id,
                              1767225600 + doc_id % 97 AS off
                       FROM documents)
            SELECT {_ID} AS conv_id, CAST(1 AS INT) AS session_seq,
                   off AS session_start_s,
                   off + 120 AS session_end_s,
                   CAST(3 AS BIGINT) AS n_turns
            FROM d
            UNION ALL
            SELECT {_ID}, CAST(2 AS INT), off + 3780, off + 3840,
                   CAST(2 AS BIGINT)
            FROM d""",
        "redact_pii": f"""
            SELECT doc_id,
                   CAST(1 AS INT) AS n_email,
                   CAST(1 AS INT) AS n_ipv4,
                   CAST(1 AS INT) AS n_phone,
                   text || ' mail <EMAIL> ip <IP> tel <PHONE>'
                     AS redacted,
                   lower(trim(regexp_replace(nfc_normalize(text),
                                             '\\s+', ' ', 'g')))
                     AS norm_text
            FROM documents""",
        "pack_sequences": _pack_sequences_oracle(),
        "bpe_tokens": _bpe_tokens_oracle(),
        "repetition_stats": f"""
            WITH d AS (
              SELECT doc_id,
                     text || chr(10) || 'L1' || chr(10) || 'L1' ||
                     chr(10) || 'w w w ' || {_ID} AS t
              FROM documents),
            s AS (SELECT doc_id,
                         string_split(t, chr(10)) AS lines,
                         regexp_split_to_array(trim(t), '\\s+') AS words
                  FROM d)
            SELECT doc_id,
                   CAST(len(lines) AS INT) AS n_lines,
                   round(1.0 - CAST(len(list_distinct(lines)) AS DOUBLE)
                         / len(lines), 3) AS dup_line_ratio,
                   CAST(len(words) AS INT) AS n_words,
                   round(1.0 - CAST(len(list_distinct(words)) AS DOUBLE)
                         / len(words), 3) AS dup_word_ratio
            FROM s""",
        "minhash_sigs": f"""
            SELECT doc_id, {_MINHASH_AGGS}
            FROM ({_SHINGLES}) GROUP BY doc_id""",
        "audio_stats": """
            WITH p AS (SELECT doc_id,
                       CAST(8000 + 4000 * (doc_id % 3) AS INT)
                         AS sample_rate,
                       CAST(1 + doc_id % 2 AS INT) AS channels,
                       256 + (doc_id % 5) * 64 AS nf
                       FROM documents),
            s AS (SELECT doc_id, sample_rate, channels, nf,
                         CASE WHEN doc_id % 3 = 2
                           THEN ((7*doc_id + 13*i.i + 5*c.c) % 201)
                                - 100
                           ELSE ((7*doc_id + 13*i.i + 5*c.c) % 4001)
                                - 2000
                         END AS v
                  FROM p,
                       LATERAL (SELECT unnest(range(0, nf)) AS i) i,
                       LATERAL (SELECT unnest(range(0, channels))
                                AS c) c)
            SELECT doc_id, sample_rate, channels,
                   CAST(nf AS INT) AS n_frames,
                   CAST(sum(v*v) AS BIGINT) AS sum_sq,
                   CAST(max(abs(v)) AS INT) AS peak,
                   'wav' AS variant
            FROM s GROUP BY doc_id, sample_rate, channels, nf
            UNION ALL
            SELECT doc_id,
                   CAST(CASE CAST(doc_id % 3 AS INT)
                        WHEN 0 THEN 44100 WHEN 1 THEN 48000
                        ELSE 32000 END AS INT) AS sample_rate,
                   CAST(1 + doc_id % 2 AS INT) AS channels,
                   CAST(4 + doc_id % 4 AS INT) AS n_frames,
                   CAST(96 + 16 * (doc_id % 3) AS BIGINT) AS sum_sq,
                   CAST((4 + doc_id % 4) * 1152 * 1000
                        // CASE CAST(doc_id % 3 AS INT)
                           WHEN 0 THEN 44100 WHEN 1 THEN 48000
                           ELSE 32000 END AS INT) AS peak,
                   'mp3' AS variant
            FROM documents
            UNION ALL
            SELECT doc_id,
                   CAST(CASE CAST(doc_id % 3 AS INT)
                        WHEN 0 THEN 44100 WHEN 1 THEN 48000
                        ELSE 96000 END AS INT) AS sample_rate,
                   CAST(1 + doc_id % 2 AS INT) AS channels,
                   CAST(1000 + 100 * (doc_id % 10) AS INT)
                     AS n_frames,
                   CAST(CASE CAST(doc_id % 3 AS INT)
                        WHEN 0 THEN 16 WHEN 1 THEN 24
                        ELSE 8 END AS BIGINT) AS sum_sq,
                   CAST((1000 + 100 * (doc_id % 10)) * 1000
                        // CASE CAST(doc_id % 3 AS INT)
                           WHEN 0 THEN 44100 WHEN 1 THEN 48000
                           ELSE 96000 END AS INT) AS peak,
                   'flac' AS variant
            FROM documents""",
        "dedup_incremental": f"""
            WITH {_LSH_BANDS_CTE},
            t AS (SELECT max(doc_id) // 2 AS t FROM documents)
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(CASE WHEN doc_id < t.t THEN 0 ELSE 1 END
                        AS INT) AS epoch,
                   doc_id NOT IN (SELECT id_b FROM cand) AS kept
            FROM documents, t""",
        "simhash": f"""
            WITH {_SIMHASH64_CTE},
            bands AS (
              SELECT doc_id, simhash, b AS band,
                     (simhash >> CAST(16 * b AS INT)) & 65535 AS bv
              FROM sig, (SELECT unnest(range(0, 4)) AS b))
            SELECT 'sig' AS variant, CAST(doc_id AS BIGINT) AS id_a,
                   simhash AS id_b, CAST(-1 AS INTEGER) AS hamming
            FROM sig
            UNION ALL
            SELECT DISTINCT 'pair', CAST(a.doc_id AS BIGINT),
                   CAST(b.doc_id AS BIGINT),
                   CAST(bit_count(xor(a.simhash, b.simhash))
                        AS INTEGER)
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bv = b.bv
             AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",
        "dedup_canonical": """
            WITH RECURSIVE e0 AS (
              SELECT doc_id AS u, doc_id + 1 AS v FROM documents
              WHERE doc_id % 100 <> 99
                AND doc_id + 1 IN (SELECT doc_id FROM documents)),
            edges AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
            reach(u, label) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM edges)
              UNION
              SELECT e.u, r.label FROM edges e JOIN reach r
                ON e.v = r.u)
            SELECT u AS id, min(label) AS component,
                   u = min(label) AS is_canonical
            FROM reach GROUP BY u""",
        "lineage": """
            SELECT CAST(doc_id % 4 AS INT) AS batch_id,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(length(text)) AS BIGINT) AS n_chars
            FROM documents GROUP BY doc_id % 4""",
        "quality_rules": f"""
            WITH s AS (SELECT doc_id, text,
                              regexp_split_to_array(trim(text), '\\s+')
                                AS w
                       FROM documents),
            c AS (SELECT doc_id,
                    len(w) AS n_words,
                    round(list_sum(list_transform(w,
                          x -> CAST(length(x) AS DOUBLE))) / len(w), 3)
                      AS mean_word_len,
                    round(((length(text)
                            - length(replace(text, '#', '')))
                           + (length(text)
                              - length(replace(text, '...', ''))) / 3)
                          / len(w), 3) AS symbol_ratio,
                    round(CAST(len(list_filter(w,
                          x -> regexp_matches(x, '[A-Za-z]')))
                          AS DOUBLE) / len(w), 3) AS alpha_word_ratio,
                    len(list_filter(w,
                        x -> list_contains({_STOPLIST}, x)))
                      AS n_stopwords
                  FROM s),
            gop AS (SELECT doc_id, n_words, mean_word_len,
                      symbol_ratio, alpha_word_ratio, n_stopwords,
                      n_words >= 20 AND n_words <= 100000 AS ok_wc,
                      mean_word_len >= 3.0 AND mean_word_len <= 10.0
                        AS ok_mwl,
                      symbol_ratio <= 0.1 AS ok_sr,
                      alpha_word_ratio >= 0.8 AS ok_aw,
                      n_stopwords >= 2 AS ok_sw
                    FROM c),
            c4d AS (SELECT doc_id, {_T_C4} AS text FROM documents),
            c4k AS (SELECT doc_id, text,
                      len(string_split(text, chr(10))) AS n_lines,
                      list_filter(string_split(text, chr(10)), ln ->
                        len(regexp_split_to_array(trim(ln), '\\s+'))
                          >= 5
                        AND regexp_matches(ln, '[.!?"]$')
                        AND NOT contains(lower(ln), 'javascript'))
                        AS kept
                    FROM c4d),
            c4f AS (SELECT doc_id, n_lines, len(kept) AS n_kept,
                      length(regexp_replace(
                        array_to_string(kept, chr(10)),
                        '[^.!?]', '', 'g')) AS n_sent,
                      NOT contains(lower(text), 'lorem ipsum')
                        AS ok_lor,
                      NOT contains(text, '{{') AS ok_br,
                      NOT list_has_any(
                        regexp_split_to_array(lower(trim(text)),
                                              '\\s+'),
                        ['badword1', 'badword2']) AS ok_bad
                    FROM c4k)
            SELECT 'gopher' AS variant, doc_id,
                   'word_count' AS rule, ok_wc AS ok,
                   CAST(n_words AS DOUBLE) AS metric FROM gop
            UNION ALL SELECT 'gopher', doc_id, 'mean_word_len',
                   ok_mwl, mean_word_len FROM gop
            UNION ALL SELECT 'gopher', doc_id, 'symbol_ratio',
                   ok_sr, symbol_ratio FROM gop
            UNION ALL SELECT 'gopher', doc_id, 'alpha_words',
                   ok_aw, alpha_word_ratio FROM gop
            UNION ALL SELECT 'gopher', doc_id, 'stopwords',
                   ok_sw, CAST(n_stopwords AS DOUBLE) FROM gop
            UNION ALL SELECT 'gopher', doc_id, 'passes',
                   ok_wc AND ok_mwl AND ok_sr AND ok_aw AND ok_sw,
                   -1.0 FROM gop
            UNION ALL SELECT 'c4', doc_id, 'lines',
                   n_kept >= 1, CAST(n_kept AS DOUBLE) FROM c4f
            UNION ALL SELECT 'c4', doc_id, 'sentences',
                   n_sent >= 3, CAST(n_sent AS DOUBLE) FROM c4f
            UNION ALL SELECT 'c4', doc_id, 'no_lorem', ok_lor,
                   -1.0 FROM c4f
            UNION ALL SELECT 'c4', doc_id, 'no_brace', ok_br,
                   -1.0 FROM c4f
            UNION ALL SELECT 'c4', doc_id, 'no_badword', ok_bad,
                   -1.0 FROM c4f
            UNION ALL SELECT 'c4', doc_id, 'passes',
                   n_kept >= 1 AND n_sent >= 3 AND ok_lor AND ok_br
                   AND ok_bad, -1.0 FROM c4f""",
        "dedup_corpus": f"""
            WITH RECURSIVE {_LSH_BANDS_CTE},
            edges AS (SELECT id_a AS u, id_b AS v FROM cand
                      UNION SELECT id_b, id_a FROM cand),
            reach(u, label) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM edges)
              UNION
              SELECT e.u, r.label FROM edges e JOIN reach r
                ON e.v = r.u),
            comp AS (SELECT u AS id, min(label) AS component
                     FROM reach GROUP BY u)
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN
              (SELECT id FROM comp WHERE id <> component)""",
        "dedup_components": f"""
            WITH RECURSIVE {_LSH_BANDS_CTE},
            edges AS (SELECT id_a AS u, id_b AS v FROM cand
                      UNION SELECT id_b, id_a FROM cand),
            reach(u, label) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM edges)
              UNION
              SELECT e.u, r.label FROM edges e JOIN reach r
                ON e.v = r.u)
            SELECT u AS id, min(label) AS component_star
            FROM reach GROUP BY u""",
        "passage_dedup": f"""
            WITH d AS (SELECT doc_id, {_T_PASSAGE} AS text
                       FROM documents),
            w AS (SELECT doc_id,
                         regexp_split_to_array(trim(text), '\\s+') AS ws
                  FROM d),
            sh0 AS (
              SELECT doc_id,
                     unnest(list_transform(range(0, len(ws) - 4),
                       i -> {{'pos': i,
                              's': array_to_string(ws[i+1:i+5], ' ')}}))
                       AS u
              FROM w WHERE len(ws) >= 5),
            sh AS (SELECT doc_id, CAST(u.pos AS INT) AS pos, u.s AS s
                   FROM sh0),
            freq AS (SELECT s FROM sh GROUP BY s HAVING count(*) >= 2),
            dup AS (SELECT doc_id, pos FROM sh
                    WHERE s IN (SELECT s FROM freq)),
            isl AS (SELECT doc_id, pos,
                       CASE WHEN pos - lag(pos) OVER (
                                PARTITION BY doc_id ORDER BY pos) <= 5
                            THEN 0 ELSE 1 END AS brk
                    FROM dup),
            grp AS (SELECT doc_id, pos,
                       sum(brk) OVER (PARTITION BY doc_id
                                      ORDER BY pos) AS g
                    FROM isl),
            spansq AS (
              SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
                     CAST(max(pos) + 4 AS INT) AS span_end,
                     CAST(max(pos) + 5 - min(pos) AS INT) AS n_words,
                     count(*) AS n_dup_shingles
              FROM grp GROUP BY doc_id, g),
            wpos AS (
              SELECT doc_id, CAST(u.pos AS INT) AS pos, u.tok AS tok
              FROM (SELECT doc_id,
                           unnest(list_transform(range(0, len(ws)),
                             i -> {{'pos': i, 'tok': ws[i+1]}})) AS u
                    FROM w)),
            kept AS (
              SELECT wp.doc_id, wp.pos, wp.tok FROM wpos wp
              WHERE NOT EXISTS (
                SELECT 1 FROM spansq s
                WHERE s.doc_id = wp.doc_id
                  AND wp.pos BETWEEN s.span_start AND s.span_end)),
            scrub AS (
              SELECT doc_id,
                     string_agg(tok, ' ' ORDER BY pos) AS scrubbed_text
              FROM kept GROUP BY doc_id)
            SELECT s.doc_id, s.span_start, s.span_end, s.n_words,
                   s.n_dup_shingles,
                   coalesce(sc.scrubbed_text, '') AS scrubbed_text
            FROM spansq s LEFT JOIN scrub sc ON s.doc_id = sc.doc_id""",
        "dedup_lines": f"""
            WITH d AS (SELECT doc_id, {_T_LINES} AS t FROM documents),
            ls AS (SELECT doc_id, string_split(t, chr(10)) AS arr
                   FROM d),
            ln AS (SELECT doc_id,
                          unnest(generate_series(1, len(arr))) AS i,
                          arr
                   FROM ls),
            lines AS (SELECT doc_id, i, arr[i] AS line,
                        trim(regexp_replace(regexp_replace(
                          lower(arr[i]), '[^\\p{{L}} ]', ' ', 'g'),
                          '\\s+', ' ', 'g')) AS nrm
                      FROM ln),
            dup AS (SELECT nrm FROM lines WHERE len(nrm) >= 5
                    GROUP BY nrm HAVING count(*) >= 2),
            dropped AS (SELECT doc_id, i FROM lines
                        WHERE len(nrm) >= 5
                          AND nrm IN (SELECT nrm FROM dup)),
            kept AS (SELECT l.doc_id, l.i, l.line FROM lines l
                     LEFT JOIN dropped dr
                       ON l.doc_id = dr.doc_id AND l.i = dr.i
                     WHERE dr.i IS NULL),
            agg AS (SELECT doc_id,
                           string_agg(line, chr(10) ORDER BY i)
                             AS clean_text,
                           count(*) AS n_kept
                    FROM kept GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce(a.clean_text, '') AS clean_text,
                   CAST(len(ls.arr) AS INT) AS n_lines,
                   CAST(len(ls.arr) - coalesce(a.n_kept, 0) AS INT)
                     AS n_dup_lines
            FROM d JOIN ls USING (doc_id)
            LEFT JOIN agg a USING (doc_id)""",
        "ngram_jaccard": f"""
            WITH {_LSH_BANDS_CTE},
            sh AS ({_SHINGLES}),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh
                      GROUP BY doc_id),
            pairs AS (SELECT c.id_a, c.id_b, count(*) AS inter
                      FROM cand c
                      JOIN sh a ON a.doc_id = c.id_a
                      JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
                      GROUP BY 1, 2),
            hsig AS (SELECT 'm' || CAST(doc_id % 4 AS VARCHAR) AS host,
                            min(md5(s || '#0')) AS h0,
                            min(md5(s || '#1')) AS h1,
                            min(md5(s || '#2')) AS h2,
                            min(md5(s || '#3')) AS h3,
                            min(md5(s || '#4')) AS h4,
                            min(md5(s || '#5')) AS h5,
                            min(md5(s || '#6')) AS h6,
                            min(md5(s || '#7')) AS h7
                     FROM (SELECT doc_id,
                                  'a' || CAST(doc_id % 10 AS VARCHAR)
                                  || ' b' || CAST(doc_id % 10 AS VARCHAR)
                                  || ' c' || CAST(doc_id % 10 AS VARCHAR)
                                  AS s
                           FROM documents)
                     GROUP BY 1)
            SELECT 'doc' AS variant, CAST(id_a AS VARCHAR) AS id_a,
                   CAST(id_b AS VARCHAR) AS id_b, jaccard FROM (
              SELECT id_a, id_b,
                     round(CAST(inter AS DOUBLE)
                           / (sa.n + sb.n - inter), 3) AS jaccard
              FROM pairs
              JOIN sizes sa ON sa.doc_id = id_a
              JOIN sizes sb ON sb.doc_id = id_b)
            WHERE jaccard >= 0.1
            UNION ALL
            SELECT 'mirror', id_a, id_b, jaccard FROM (
              SELECT a.host AS id_a, b.host AS id_b,
                     CAST((CASE WHEN a.h0=b.h0 THEN 1 ELSE 0 END
                         + CASE WHEN a.h1=b.h1 THEN 1 ELSE 0 END
                         + CASE WHEN a.h2=b.h2 THEN 1 ELSE 0 END
                         + CASE WHEN a.h3=b.h3 THEN 1 ELSE 0 END
                         + CASE WHEN a.h4=b.h4 THEN 1 ELSE 0 END
                         + CASE WHEN a.h5=b.h5 THEN 1 ELSE 0 END
                         + CASE WHEN a.h6=b.h6 THEN 1 ELSE 0 END
                         + CASE WHEN a.h7=b.h7 THEN 1 ELSE 0 END)
                          / 8.0 AS DOUBLE) AS jaccard
              FROM hsig a JOIN hsig b ON a.host < b.host)
            WHERE jaccard >= 0.75""",
        "cosine_knn": f"""
            WITH c AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     {_lsh_bucket_expr("CAST(embedding AS DOUBLE[])")}
                       AS bucket
              FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv, bucket
                  FROM c WHERE vec_id = 0),
            cent AS (SELECT vec_id AS k, v FROM c WHERE vec_id < 4),
            sims AS (SELECT c.vec_id, cent.k,
                            CAST(list_cosine_similarity(c.v, cent.v)
                                 AS DOUBLE) AS s
                     FROM c, cent),
            assign AS (SELECT vec_id, k + 1 AS list_id
                       FROM (SELECT vec_id, k, row_number() OVER (
                                 PARTITION BY vec_id
                                 ORDER BY s DESC, k ASC) AS rn
                             FROM sims)
                       WHERE rn = 1),
            probes AS (SELECT k + 1 AS list_id
                       FROM (SELECT k, row_number() OVER (
                                 ORDER BY s DESC, k ASC) AS rn
                             FROM sims WHERE vec_id = 0)
                       WHERE rn <= 2)
            SELECT 'thresh' AS variant, CAST(0 AS BIGINT) AS query_id,
                   vec_id, {_COS} AS cos_sim, CAST(-1 AS INT) AS rank
            FROM embeddings WHERE {_COS} >= 0.2
            UNION ALL
            SELECT 'topk', query_id, vec_id, cos_sim,
                   CAST(rn AS INT) AS rank
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY query_id
                      ORDER BY cos_sim DESC, vec_id) AS rn
                  FROM (SELECT q.query_id, e.vec_id,
                               round(CAST(list_cosine_similarity(
                                   CAST(e.embedding AS DOUBLE[]), q.qv)
                                   AS DOUBLE), 3) AS cos_sim
                        FROM embeddings e,
                             (SELECT vec_id AS query_id,
                                     CAST(embedding AS DOUBLE[]) AS qv
                              FROM embeddings WHERE vec_id <= 2) q))
            WHERE rn <= 5
            UNION ALL
            SELECT 'lsh', q.query_id, c.vec_id,
                   round(CAST(list_cosine_similarity(c.v, q.qv)
                              AS DOUBLE), 3) AS cos_sim,
                   CAST(-1 AS INT) AS rank
            FROM c JOIN q ON c.bucket = q.bucket
            WHERE round(CAST(list_cosine_similarity(c.v, q.qv)
                             AS DOUBLE), 3) >= 0.2
            UNION ALL
            SELECT 'ivf', CAST(0 AS BIGINT), c.vec_id,
                   round(CAST(list_cosine_similarity(c.v, q.qv)
                              AS DOUBLE), 3) AS cos_sim,
                   CAST(-1 AS INT) AS rank
            FROM c JOIN assign a ON a.vec_id = c.vec_id, q
            WHERE a.list_id IN (SELECT list_id FROM probes)
              AND round(CAST(list_cosine_similarity(c.v, q.qv)
                             AS DOUBLE), 3) >= 0.2""",
        "embedding_near_dup": f"""
            WITH RECURSIVE c AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     {_lsh_bucket_expr("CAST(embedding AS DOUBLE[])")}
                       AS bucket
              FROM embeddings),
            cent AS (SELECT vec_id AS k, v FROM c WHERE vec_id < 4),
            sims AS (SELECT c.vec_id, cent.k,
                            CAST(list_cosine_similarity(c.v, cent.v)
                                 AS DOUBLE) AS s
                     FROM c, cent),
            assign AS (SELECT vec_id, k AS cluster_id,
                              round(s, 3) AS cent_sim
                       FROM (SELECT vec_id, k, s, row_number() OVER (
                                 PARTITION BY vec_id
                                 ORDER BY s DESC, k ASC) AS rn
                             FROM sims)
                       WHERE rn = 1),
            dpairs AS (
              SELECT a.vec_id AS u, b.vec_id AS w
              FROM assign a JOIN assign b
                ON a.cluster_id = b.cluster_id
                AND a.vec_id < b.vec_id
              JOIN c ca ON ca.vec_id = a.vec_id
              JOIN c cb ON cb.vec_id = b.vec_id
              WHERE round(CAST(list_cosine_similarity(ca.v, cb.v)
                               AS DOUBLE), 3) >= 0.3),
            edges AS (SELECT u, w FROM dpairs
                      UNION SELECT w, u FROM dpairs),
            reach(u, label) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM edges)
              UNION
              SELECT e.u, r.label FROM edges e JOIN reach r
                ON e.w = r.u),
            comp AS (SELECT u AS vec_id, min(label) AS component
                     FROM reach GROUP BY u),
            keeper AS (
              SELECT component, vec_id AS keeper_id
              FROM (SELECT comp.component, comp.vec_id,
                           row_number() OVER (
                             PARTITION BY comp.component
                             ORDER BY a.cent_sim ASC, comp.vec_id ASC)
                             AS rn
                    FROM comp JOIN assign a USING (vec_id))
              WHERE rn = 1)
            SELECT 'pairs' AS variant, a.vec_id AS id_a,
                   b.vec_id AS id_b,
                   round(CAST(list_cosine_similarity(a.v, b.v)
                              AS DOUBLE), 3) AS cos_sim
            FROM c a JOIN c b
              ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            WHERE round(CAST(list_cosine_similarity(a.v, b.v)
                             AS DOUBLE), 3) >= 0.3
            UNION ALL
            SELECT 'semdedup', comp.vec_id, k.keeper_id, a.cent_sim
            FROM comp
            JOIN keeper k USING (component)
            JOIN assign a ON a.vec_id = comp.vec_id""",
        "link_graph": """
            WITH e AS (
              SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.ex.com'
                       AS src,
                     'h' || CAST(doc_id % 5 AS VARCHAR) || '.ex.com'
                       AS dst
              FROM documents
              UNION
              SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.ex.com',
                     'h' || CAST((3 * doc_id + 1) % 11 AS VARCHAR)
                       || '.ex.com'
              FROM documents),
            nodes AS (SELECT src AS host FROM e
                      UNION SELECT dst FROM e),
            od AS (SELECT src, count(*) AS out_deg FROM e
                   GROUP BY src),
            idg AS (SELECT dst, count(*) AS in_deg FROM e
                    GROUP BY dst),
            r0 AS (SELECT host, CAST(1000000000 AS BIGINT) AS pr
                   FROM nodes),
            c1 AS (SELECT e.dst AS host,
                          sum((r.pr * 85) // (100 * od.out_deg)) AS s
                   FROM e JOIN r0 r ON r.host = e.src
                   JOIN od ON od.src = e.src GROUP BY e.dst),
            r1 AS (SELECT n.host,
                          CAST(150000000 + coalesce(c1.s, 0)
                               AS BIGINT) AS pr
                   FROM nodes n LEFT JOIN c1 ON c1.host = n.host),
            c2 AS (SELECT e.dst AS host,
                          sum((r.pr * 85) // (100 * od.out_deg)) AS s
                   FROM e JOIN r1 r ON r.host = e.src
                   JOIN od ON od.src = e.src GROUP BY e.dst),
            r2 AS (SELECT n.host,
                          CAST(150000000 + coalesce(c2.s, 0)
                               AS BIGINT) AS pr
                   FROM nodes n LEFT JOIN c2 ON c2.host = n.host),
            c3 AS (SELECT e.dst AS host,
                          sum((r.pr * 85) // (100 * od.out_deg)) AS s
                   FROM e JOIN r2 r ON r.host = e.src
                   JOIN od ON od.src = e.src GROUP BY e.dst),
            r3 AS (SELECT n.host,
                          CAST(150000000 + coalesce(c3.s, 0)
                               AS BIGINT) AS pr
                   FROM nodes n LEFT JOIN c3 ON c3.host = n.host),
            s0 AS (SELECT host,
                          CAST(CASE WHEN host = 'h0.ex.com'
                               THEN 1000000000 ELSE 0 END
                               AS BIGINT) AS pr
                   FROM nodes),
            sc1 AS (SELECT e.dst AS host,
                           sum((r.pr * 85) // (100 * od.out_deg)) AS s
                    FROM e JOIN s0 r ON r.host = e.src
                    JOIN od ON od.src = e.src GROUP BY e.dst),
            s1 AS (SELECT n.host,
                          CAST(CASE WHEN n.host = 'h0.ex.com'
                               THEN 150000000 ELSE 0 END
                               + coalesce(sc1.s, 0) AS BIGINT) AS pr
                   FROM nodes n LEFT JOIN sc1 ON sc1.host = n.host),
            sc2 AS (SELECT e.dst AS host,
                           sum((r.pr * 85) // (100 * od.out_deg)) AS s
                    FROM e JOIN s1 r ON r.host = e.src
                    JOIN od ON od.src = e.src GROUP BY e.dst),
            s2 AS (SELECT n.host,
                          CAST(CASE WHEN n.host = 'h0.ex.com'
                               THEN 150000000 ELSE 0 END
                               + coalesce(sc2.s, 0) AS BIGINT) AS pr
                   FROM nodes n LEFT JOIN sc2 ON sc2.host = n.host),
            sc3 AS (SELECT e.dst AS host,
                           sum((r.pr * 85) // (100 * od.out_deg)) AS s
                    FROM e JOIN s2 r ON r.host = e.src
                    JOIN od ON od.src = e.src GROUP BY e.dst),
            s3 AS (SELECT n.host,
                          CAST(CASE WHEN n.host = 'h0.ex.com'
                               THEN 150000000 ELSE 0 END
                               + coalesce(sc3.s, 0) AS BIGINT) AS pr
                   FROM nodes n LEFT JOIN sc3 ON sc3.host = n.host),
            fr AS (SELECT doc_id,
                          CASE WHEN doc_id % 4 = 0 THEN
                            'https://New' || CAST(doc_id % 3 AS VARCHAR)
                            || '.EX.com/u/' || CAST(doc_id AS VARCHAR)
                          ELSE 'https://h' || CAST(doc_id % 5 AS VARCHAR)
                            || '.ex.com/f/' || CAST(doc_id AS VARCHAR)
                          END AS url,
                          CASE WHEN doc_id % 4 = 0 THEN
                            'new' || CAST(doc_id % 3 AS VARCHAR)
                            || '.ex.com'
                          ELSE 'h' || CAST(doc_id % 5 AS VARCHAR)
                            || '.ex.com' END AS host
                   FROM documents)
            SELECT 'graph' AS variant, n.host,
                   CAST(NULL AS VARCHAR) AS url,
                   CAST(coalesce(od.out_deg, 0) AS BIGINT) AS out_deg,
                   CAST(coalesce(idg.in_deg, 0) AS BIGINT) AS in_deg,
                   r3.pr
            FROM nodes n
            LEFT JOIN od ON od.src = n.host
            LEFT JOIN idg ON idg.dst = n.host
            JOIN r3 ON r3.host = n.host
            UNION ALL
            SELECT 'frontier', fr.host, fr.url,
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(coalesce(r3.pr, 0) AS BIGINT)
            FROM fr LEFT JOIN r3 ON r3.host = fr.host
            UNION ALL
            SELECT 'trust', s3.host, CAST(NULL AS VARCHAR),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), s3.pr
            FROM s3
            UNION ALL
            SELECT 'anchor', prof.host, top.t,
                   prof.n_anchors, prof.n_texts,
                   CAST(top.n AS BIGINT)
            FROM (SELECT host, sum(n) AS n_anchors,
                         count(*) AS n_texts
                  FROM (SELECT host, t, count(*) AS n FROM (
                          SELECT 'h' || CAST(doc_id % 5 AS VARCHAR)
                                 || '.ex.com' AS host,
                                 'x' || CAST(doc_id % 3 AS VARCHAR)
                                 AS t
                          FROM documents
                          UNION ALL
                          SELECT 'h' ||
                                 CAST((3 * doc_id + 1) % 11 AS VARCHAR)
                                 || '.ex.com',
                                 'y ' || CAST(doc_id % 2 AS VARCHAR)
                          FROM documents)
                        GROUP BY host, t)
                  GROUP BY host) prof
            JOIN (SELECT host, t, n FROM (
                    SELECT host, t, n, row_number() OVER (
                      PARTITION BY host ORDER BY n DESC, t ASC) AS r
                    FROM (SELECT host, t, count(*) AS n FROM (
                            SELECT 'h' || CAST(doc_id % 5 AS VARCHAR)
                                   || '.ex.com' AS host,
                                   'x' || CAST(doc_id % 3 AS VARCHAR)
                                   AS t
                            FROM documents
                            UNION ALL
                            SELECT 'h' ||
                                   CAST((3 * doc_id + 1) % 11
                                        AS VARCHAR) || '.ex.com',
                                   'y ' || CAST(doc_id % 2 AS VARCHAR)
                            FROM documents)
                          GROUP BY host, t))
                  WHERE r = 1) top
            ON top.host = prof.host""",
        "marked_sections": f"""
            SELECT {_ID} AS conv_id,
                   'pre ' || text || '  a<b>&amp; ' || {_ID} ||
                   ' mid ok post' AS marked_doc,
                   CAST(2 AS BIGINT) AS ignored_n_events,
                   'AB' || {_ID} AS ignored_doc,
                   'r' || {_ID} || ',/r' || {_ID} || ',p,/p,~'
                     AS empty_tags
            FROM documents""",
        "skipped_text": f"""
            SELECT {_ID} AS conv_id, 0 AS seq, 'b' AS tagname,
                   't0 ' || text || ' ' AS skipped_text FROM documents
            UNION ALL
            SELECT {_ID}, 1, 'a', 'mid</b> ' FROM documents""",
        "handler_filters": f"""
            SELECT {_ID} AS conv_id, 'a,/a,img' AS tags,
                   'b:A,/b:B' AS false_handler_trace
            FROM documents""",
        "get_phrase": f"""
            SELECT {_ID} AS conv_id,
                   'P1 bold & ' ||
                   trim(regexp_replace(text, '\\s+', ' ', 'g')) ||
                   ' tail' AS phrase
            FROM documents""",
        "anchors": f"""
            SELECT {_ID} AS conv_id, 0 AS turn_idx, 0 AS anchor_seq,
                   ' /d/' || {_ID} || ' ' AS href,
                   '<link>' AS anchor_text
            FROM documents""",
        "rewrite_links": f"""
            SELECT {_ID} AS conv_id, 0 AS turn_idx,
                   {_rewritten_wrap_expr()} AS doc
            FROM documents""",
        "strip_markup": f"""
            SELECT {_ID} AS conv_id, 0 AS turn_idx,
                   {_stripped_wrap_expr()} AS doc
            FROM documents""",
        "tables": f"""
            WITH d AS (SELECT {_ID} AS id, doc_id,
                  trim(regexp_replace(text, '\\s+', ' ', 'g')) AS coll
                  FROM documents),
            one AS (SELECT CAST(1 AS INT) AS s)
            SELECT id AS conv_id, 0 AS turn_idx, 0 AS table_seq,
                   0 AS row_seq, 0 AS cell_seq, true AS is_header,
                   s AS colspan, s AS rowspan,
                   CAST(0 AS INT) AS grid_col, 'k' AS cell_text
            FROM d, one
            UNION ALL SELECT id, 0, 0, 0, 1, true, s, s, 1, 'v & w'
            FROM d, one
            UNION ALL SELECT id, 0, 0, 1, 0, false, s, s, 0, 'id'
            FROM d, one
            UNION ALL SELECT id, 0, 0, 1, 1, false, s, s, 1, id
            FROM d, one
            UNION ALL SELECT id, 0, 0, 2, 0, false, s, s, 0, 'body'
            FROM d, one
            UNION ALL SELECT id, 0, 0, 2, 1, false, s, s, 1, coll
            FROM d, one
            UNION ALL SELECT id, 0, 1, 0, 0, false, CAST(2 AS INT),
                      CAST(1 + doc_id % 3 AS INT), 0,
                      'x' || CAST(doc_id % 7 AS VARCHAR) FROM d""",
        "main_content": f"""
            WITH d AS (SELECT doc_id, {_ID} AS id,
                  trim(regexp_replace(text, '\\s+', ' ', 'g')) AS coll,
                  CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                       AS INT) AS nw
                  FROM documents)
            SELECT 'main' AS variant, id AS conv_id, 0 AS turn_idx,
                   -1 AS block_seq,
                   coll || chr(10) || 'closing words here ' || id
                     AS block_text,
                   CAST(4 AS INT) AS n_words,
                   CAST(2 AS DOUBLE) AS link_density,
                   true AS is_content
            FROM d
            UNION ALL
            SELECT 'block', id, 0, 0, 'Title ' || id,
                   CAST(2 AS INT), 0.0, false FROM d
            UNION ALL
            SELECT 'block', id, 0, 1, coll, nw, 0.0, true FROM d
            UNION ALL
            SELECT 'block', id, 0, 2, 'nav one nav two',
                   CAST(4 AS INT), 0.933, false FROM d
            UNION ALL
            SELECT 'block', id, 0, 3, 'closing words here ' || id,
                   CAST(4 AS INT), 0.0, true FROM d""",
        "bom_stats": f"""
            SELECT {_ID} AS conv_id, 0 AS turn_idx,
                   CAST(doc_id % 5 AS INT) IN (0, 3) AS utf8_bom,
                   CAST(doc_id % 5 AS INT) = 1 AS utf16_bom,
                   CAST(doc_id % 5 AS INT) = 2
                     AS maybe_undecoded_utf8
            FROM documents""",
        "media_meta": """
            SELECT 'meta' AS variant, doc_id,
                   CAST(CASE CAST(doc_id % 5 AS INT)
                        WHEN 0 THEN 33 WHEN 1 THEN 57 WHEN 2 THEN 13
                        WHEN 4 THEN 38
                        ELSE CASE CAST((doc_id // 5) % 3 AS INT)
                             WHEN 1 THEN 25 ELSE 30 END END
                        + length(text) AS INTEGER) AS k,
                   CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 'png'
                        WHEN 1 THEN 'jpeg:o'
                          || CAST(1 + doc_id % 8 AS VARCHAR)
                        WHEN 2 THEN 'gif'
                        WHEN 4 THEN 'tiff'
                        ELSE 'webp' END AS s,
                   CAST(16 + (doc_id * 7) % 624 AS INTEGER) AS w,
                   CAST(16 + (doc_id * 13) % 464 AS INTEGER) AS h
            FROM documents
            UNION ALL
            SELECT 'frame', doc_id, CAST(i AS INTEGER),
                   md5(substr(text, CAST(i*64+1 AS INTEGER), 64)),
                   CAST(-1 AS INTEGER), CAST(-1 AS INTEGER)
            FROM (SELECT doc_id, text,
                         unnest(range(0, CAST(ceil(length(text)/64.0)
                                               AS BIGINT))) AS i
                  FROM documents)
            UNION ALL
            SELECT 'caption', doc_id, CAST(f AS INTEGER),
                   'caption ' || CAST(f AS VARCHAR) || ' of video '
                     || CAST(doc_id AS VARCHAR),
                   CAST(40 * f AS INTEGER),
                   CAST(40 * (f + 1) AS INTEGER)
            FROM (SELECT doc_id,
                         unnest(range(0, 1 + doc_id % 3)) AS f
                  FROM documents)
            UNION ALL
            SELECT CASE CAST(doc_id % 2 AS INT) WHEN 0 THEN 'vtt'
                        ELSE 'srt' END,
                   doc_id, CAST(i AS INTEGER),
                   'cue ' || CAST(i AS VARCHAR) || ' of doc '
                     || CAST(doc_id AS VARCHAR),
                   CAST(i * 65432 + (doc_id % 7) * 1000 AS INTEGER),
                   CAST(i * 65432 + (doc_id % 7) * 1000 + 2500
                        AS INTEGER)
            FROM (SELECT doc_id,
                         unnest(range(0, 1 + doc_id % 3)) AS i
                  FROM documents)""",
        "render_conv": f"""
            WITH t AS (
              SELECT {_ID} AS conv_id, 0 AS i,
                     '<|user|>ask ' || {_ID} AS r FROM documents
              UNION ALL
              SELECT {_ID}, 1, '<|assistant|>' || text
              FROM documents
              UNION ALL
              SELECT {_ID}, 2, '<|tool:search|>result ' || {_ID}
              FROM documents)
            SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
                   string_agg(r, chr(10) ORDER BY i) AS doc
            FROM t GROUP BY conv_id""",
        "pdf_text": f"""
            SELECT doc_id, CAST(3 AS INT) AS n_pages,
                   'Hello doc ' || {_ID} || ' (escaped)' || chr(10) ||
                   'second line ' || {_ID} || chr(10) ||
                   'third line' || chr(10) ||
                   'fragmented hex ' || {_ID} || chr(10) ||
                   'page two of ' || {_ID} || chr(10) ||
                   'CID PAGE ' || {_ID} || ' [#] ff' || chr(65533)
                     AS pdf_text
            FROM documents""",
        "media_pixels": """
            WITH dims AS (SELECT doc_id,
                                 CAST(4 + doc_id % 13 AS INT) AS w,
                                 CAST(4 + doc_id % 7 AS INT) AS h
                          FROM documents),
            px AS (SELECT doc_id, w, h, xs.x AS x, ys.y AS y
                   FROM dims,
                        LATERAL (SELECT unnest(range(0, w)) AS x) xs,
                        LATERAL (SELECT unnest(range(0, h)) AS y) ys),
            jdims AS (SELECT doc_id,
                             doc_id % 5 = 0 AS gray,
                             doc_id % 5 <> 0 AND doc_id % 7 = 3
                               AS sub420,
                             CASE WHEN doc_id % 5 <> 0
                                       AND doc_id % 7 = 3
                                  THEN CAST(16 * (1 + doc_id % 2)
                                            AS INT)
                                  ELSE CAST(8 * (1 + doc_id % 3)
                                            AS INT) END AS w,
                             CASE WHEN doc_id % 5 <> 0
                                       AND doc_id % 7 = 3
                                  THEN CAST(16 AS INT)
                                  ELSE CAST(8 * (1 + doc_id % 2)
                                            AS INT) END AS h
                      FROM documents),
            jblk AS (SELECT doc_id, w, h, gray, bxs.bx AS bx,
                            bys.by AS by,
                            CASE WHEN sub420 THEN bxs.bx // 2
                                 ELSE bxs.bx END AS cx,
                            CASE WHEN sub420 THEN bys.by // 2
                                 ELSE bys.by END AS cy
                     FROM jdims,
                          LATERAL (SELECT unnest(range(0, w // 8))
                                   AS bx) bxs,
                          LATERAL (SELECT unnest(range(0, h // 8))
                                   AS by) bys),
            jc AS (SELECT doc_id, w, h, gray,
                          (17*bx + 29*by + doc_id) % 256 AS yv,
                          (23*cx + 31*cy + 2*doc_id) % 256 AS cb,
                          (13*cx + 37*cy + 3*doc_id) % 256 AS cr
                   FROM jblk),
            jrgb AS (SELECT doc_id, w, h,
                CASE WHEN gray THEN yv ELSE GREATEST(0, LEAST(255,
                  CAST(floor(yv + 1.402*(cr-128) + 0.5) AS BIGINT)))
                END AS r,
                CASE WHEN gray THEN yv ELSE GREATEST(0, LEAST(255,
                  CAST(floor(yv - 0.344136*(cb-128)
                             - 0.714136*(cr-128) + 0.5) AS BIGINT)))
                END AS g,
                CASE WHEN gray THEN yv ELSE GREATEST(0, LEAST(255,
                  CAST(floor(yv + 1.772*(cb-128) + 0.5) AS BIGINT)))
                END AS b
                FROM jc)
            SELECT doc_id, w AS width, h AS height,
                   CAST(sum(CASE CAST(doc_id % 4 AS INT)
                     WHEN 3 THEN (5 * ((x + 2*y + doc_id) % 256)
                                  + doc_id) % 256
                     ELSE (x + doc_id) % 256 END) AS BIGINT)
                     AS r_sum,
                   CAST(sum(CASE CAST(doc_id % 4 AS INT)
                     WHEN 2 THEN (x + doc_id) % 256
                     WHEN 3 THEN (7 * ((x + 2*y + doc_id) % 256)
                                  + 2 * doc_id) % 256
                     ELSE (y + 2 * doc_id) % 256 END) AS BIGINT)
                     AS g_sum,
                   CAST(sum(CASE CAST(doc_id % 4 AS INT)
                     WHEN 2 THEN (x + doc_id) % 256
                     WHEN 3 THEN (11 * ((x + 2*y + doc_id) % 256)
                                  + 3 * doc_id) % 256
                     ELSE (x + y + 3 * doc_id) % 256 END) AS BIGINT)
                     AS b_sum,
                   'png' AS fmt
            FROM px GROUP BY doc_id, w, h
            UNION ALL
            SELECT doc_id, w AS width, h AS height,
                   CAST(sum(64 * r) AS BIGINT) AS r_sum,
                   CAST(sum(64 * g) AS BIGINT) AS g_sum,
                   CAST(sum(64 * b) AS BIGINT) AS b_sum,
                   'jpeg' AS fmt
            FROM jrgb GROUP BY doc_id, w, h
            UNION ALL
            SELECT doc_id, w AS width, h AS height,
                   CAST(sum((5 * pi + doc_id) % 256) AS BIGINT)
                     AS r_sum,
                   CAST(sum((7 * pi + 2 * doc_id) % 256) AS BIGINT)
                     AS g_sum,
                   CAST(sum((11 * pi + 3 * doc_id) % 256) AS BIGINT)
                     AS b_sum,
                   'gif' AS fmt
            FROM (SELECT doc_id, w, h,
                         (x + 2 * y + doc_id) % 256 AS pi
                  FROM (SELECT doc_id,
                               CAST(4 + doc_id % 11 AS INT) AS w,
                               CAST(4 + doc_id % 6 AS INT) AS h
                        FROM documents) gd,
                       LATERAL (SELECT unnest(range(0, w)) AS x) xs,
                       LATERAL (SELECT unnest(range(0, h)) AS y) ys)
            GROUP BY doc_id, w, h
            UNION ALL
            SELECT doc_id, w AS width, h AS height,
                   CAST(sum(64 * r) AS BIGINT) AS r_sum,
                   CAST(sum(64 * g) AS BIGINT) AS g_sum,
                   CAST(sum(64 * b) AS BIGINT) AS b_sum,
                   'mp4:' || CAST(f AS VARCHAR) AS fmt
            FROM (SELECT doc_id, w, h, f,
                    GREATEST(0, LEAST(255, CAST(floor(
                      yv + 1.402*(cr-128) + 0.5) AS BIGINT))) AS r,
                    GREATEST(0, LEAST(255, CAST(floor(
                      yv - 0.344136*(cb-128) - 0.714136*(cr-128)
                      + 0.5) AS BIGINT))) AS g,
                    GREATEST(0, LEAST(255, CAST(floor(
                      yv + 1.772*(cb-128) + 0.5) AS BIGINT))) AS b
                  FROM (SELECT doc_id, w, h, f,
                          (17*bx + 29*by + doc_id + 41*f) % 256
                            AS yv,
                          (23*bx + 31*by + 2*doc_id + 43*f) % 256
                            AS cb,
                          (13*bx + 37*by + 3*doc_id + 47*f) % 256
                            AS cr
                        FROM (SELECT doc_id,
                                CAST(8*(1+doc_id%3) AS INT) AS w,
                                CAST(8*(1+doc_id%2) AS INT) AS h,
                                3 + doc_id % 5 AS n
                              FROM documents) vd,
                             LATERAL (SELECT unnest(range(0, n))
                                      AS f) fs,
                             LATERAL (SELECT unnest(range(0, w//8))
                                      AS bx) bxs,
                             LATERAL (SELECT unnest(range(0, h//8))
                                      AS by) bys
                        WHERE f % 2 = 0))
            GROUP BY doc_id, w, h, f
            UNION ALL
            SELECT doc_id, w AS width, h AS height,
                   CAST(sum(64 * r) AS BIGINT) AS r_sum,
                   CAST(sum(64 * g) AS BIGINT) AS g_sum,
                   CAST(sum(64 * b) AS BIGINT) AS b_sum,
                   'fmp4:' || CAST(f AS VARCHAR) AS fmt
            FROM (SELECT doc_id, w, h, f,
                    GREATEST(0, LEAST(255, CAST(floor(
                      yv + 1.402*(cr-128) + 0.5) AS BIGINT))) AS r,
                    GREATEST(0, LEAST(255, CAST(floor(
                      yv - 0.344136*(cb-128) - 0.714136*(cr-128)
                      + 0.5) AS BIGINT))) AS g,
                    GREATEST(0, LEAST(255, CAST(floor(
                      yv + 1.772*(cb-128) + 0.5) AS BIGINT))) AS b
                  FROM (SELECT doc_id, w, h, f,
                          (17*bx + 29*by + doc_id + 41*f) % 256
                            AS yv,
                          (23*bx + 31*by + 2*doc_id + 43*f) % 256
                            AS cb,
                          (13*bx + 37*by + 3*doc_id + 47*f) % 256
                            AS cr
                        FROM (SELECT doc_id,
                                CAST(8*(1+doc_id%3) AS INT) AS w,
                                CAST(8*(1+doc_id%2) AS INT) AS h,
                                3 + doc_id % 5 AS n
                              FROM documents) vd,
                             LATERAL (SELECT unnest(range(0, n))
                                      AS f) fs,
                             LATERAL (SELECT unnest(range(0, w//8))
                                      AS bx) bxs,
                             LATERAL (SELECT unnest(range(0, h//8))
                                      AS by) bys
                        WHERE f % 2 = 0))
            GROUP BY doc_id, w, h, f
            UNION ALL
            SELECT doc_id,
                   CAST(8*(1+doc_id%3) AS INT) AS width,
                   CAST(8*(1+doc_id%2) AS INT) AS height,
                   CAST(40*(3+doc_id%5) AS BIGINT) AS r_sum,
                   CAST(3+doc_id%5 AS BIGINT) AS g_sum,
                   CAST(-1 AS BIGINT) AS b_sum,
                   'mp4meta:jpeg' AS fmt
            FROM documents
            UNION ALL
            SELECT doc_id,
                   CAST(8*(1+doc_id%3) AS INT) AS width,
                   CAST(8*(1+doc_id%2) AS INT) AS height,
                   CAST(40*(3+doc_id%5) AS BIGINT) AS r_sum,
                   CAST(3+doc_id%5 AS BIGINT) AS g_sum,
                   CAST(-1 AS BIGINT) AS b_sum,
                   'fmp4meta:jpeg' AS fmt
            FROM documents""",
    }
    return out
