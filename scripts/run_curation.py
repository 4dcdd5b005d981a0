"""End-to-end TRAINING-DATA CURATION pipeline — the composed job a
100 TB corpus actually runs, wired from the engine's operators::

    spark-submit --py-files html_parser_spark.zip scripts/run_curation.py \
        --output /data/curated --report /data/curated_report.json

Stages (each one of the independently-oracle-verified operators):

1. **extract** — fused tokenize + main-content assembly per turn
   (`operators.extract.extract_text`), map-only.
   With ``--dedup-lines N``, a CCNet-tier duplicate-line scrub
   (`dedup.dedup_lines`) runs on the line-structured extracted text
   first, so boilerplate never reaches the quality stats.
   The extracted table is repartitioned to one partition per core
   when it has fewer (a one-row-group input reads as one partition),
   and always after the line scrub, so the JVM stages 2-5 run on
   every core. The Python stages before it keep the input's
   partitioning: each Python map node in a task holds its own worker.
2. **quality gate** — Gopher rule bundle on the extracted text
   (`textstats.gopher_quality`): word count / mean word length /
   symbol ratio / alpha-word ratio / stopword presence.
   With ``--c4``, the C4 page-filter bundle (`textstats.c4_quality`)
   additionally gates on the LINE-structured extracted text (line
   retention, sentence count, lorem/brace/badword page rules).
   Note the sandbox corpus is punctuation-free synthetic prose, so
   C4's terminal-punctuation line rule faithfully drops ALL of it
   (verified: the funnel runs an empty corpus through every later
   stage and the write without error).
3. **language gate** — char-trigram `lang_id`, keep a configured
   language allowlist. Every gate carries the text through its key
   columns and filters its own output: a narrow stage, no join back
   to the corpus.
   With ``--ppl-terciles T.parquet``, a CCNet perplexity gate then
   ranks survivors by hashed-n-gram LM score under the target table
   and keeps only the ``--ppl-keep`` buckets (default head,middle —
   the CCNet recipe).
4. **benchmark decontamination** — drop docs sharing any n-word
   shingle with an eval/benchmark table (`dedup.decontaminate`,
   broadcast probe; ``--eval-table`` points at a parquet of texts,
   omitted = stage skipped; ``--decontaminate-mode scrub`` excises
   just the leaked spans instead of dropping).
5. **near-dup removal** — MinHash signatures → LSH candidate pairs
   (one bucket aggregation, no self-join) → star connected
   components, finished by a one-task union-find once the edge table
   is at most ``dedup.LOCAL_FINISH_EDGES`` rows (at once, for a
   near-dup graph this size) → one canonical doc per cluster
   (`dedup.dedup_canonical` composition).
6. **corpus mixing** (``--mix 'en=0.6,fr=0.4'``) — deterministic
   hash-Bernoulli sampling so language strata follow the requested
   training-mix weights (`sampling.mix_corpus`); the keep set is a
   pure function of the data, identical at any cluster size.
   With ``--dsir-target T.parquet --dsir-keep K``, DSIR importance
   resampling (`sampling.dsir_select`) then keeps the K rows most
   like the target distribution, deterministically (Gumbel-top-k
   over hashed-n-gram log-ratio weights).
7. **render** (``--render-conversations``) — re-assemble surviving
   turns into one chat-template document per conversation
   (`sessions.render_conversations`, stable turn order), then
   **write** — surviving rows as parquet; ``--shards N`` instead
   exports N deterministic content-hash training shards
   (`plans.pipeline.write_training_shards`) — or (Iceberg append in
   deployment) + a JSON funnel report (rows in/out per stage — the
   per-stage accounting a curation run must publish).

Every funnel count is a ``DataFrame.observe`` metric, read after the
write. An observation counts each execution of its node, so each
sits in the fill of a cache that two readers share, or on the write
plan; no stage pays a count action of its own except scrub mode's
distinct ``scrubbed_turns``.

Sandbox default input: sf0.001 documents wrapped as transcripts.
With ``--warc`` the corpus is first packed into WARC segments and
consumed back through the archive record walk + HTTP envelope split
— the Common Crawl ingestion path — before the same funnel runs
(verified: identical 90-doc keep set at --cpus 8 and --cpus 5).
``--url-blocklist d1,d2`` (WARC mode) applies the RefinedWeb URL
gate (`urls.url_filter`) on each response's target URI BEFORE
extraction — blocked domains/subdomains never enter the funnel.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = (
    _REPO + os.pathsep + os.environ.get("PYTHONPATH", ""))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default="/root/testdata/sf0.001")
    ap.add_argument("--output", required=True)
    ap.add_argument("--report", default=None)
    ap.add_argument("--langs", default="en")
    ap.add_argument("--min-words", type=int, default=10)
    ap.add_argument("--eval-table", default=None,
                    help="parquet of benchmark texts (column 'text'); "
                         "enables the decontamination stage")
    ap.add_argument("--eval-ngram", type=int, default=13)
    ap.add_argument("--dedup-lines", type=int, default=0,
                    metavar="MIN_COUNT",
                    help="CCNet-tier boilerplate removal: scrub lines "
                         "of the line-structured EXTRACTED text whose "
                         "normalized form repeats >= MIN_COUNT times "
                         "across the corpus (dedup.dedup_lines), "
                         "before the quality gate sees the text; "
                         "0 = stage skipped")
    ap.add_argument("--shards", type=int, default=0,
                    help="export N deterministic content-hash "
                         "training shards instead of plain parquet")
    ap.add_argument("--mix", default=None,
                    help="corpus mix weights over the predicted "
                         "language, e.g. 'en=0.6,fr=0.4' — "
                         "deterministic hash-Bernoulli sampling "
                         "(operators.sampling.mix_corpus); omitted = "
                         "stage skipped")
    ap.add_argument("--mix-seed", type=int, default=0)
    ap.add_argument("--dsir-target", default=None,
                    help="parquet of target-distribution texts "
                         "(column 'text'); enables DSIR importance "
                         "resampling (sampling.dsir_select) after "
                         "dedup — keeps the --dsir-keep rows most "
                         "like the target, deterministically")
    ap.add_argument("--dsir-keep", type=int, default=1000)
    ap.add_argument("--decontaminate-mode", default="drop",
                    choices=("drop", "scrub"),
                    help="drop = remove the whole conversation on any "
                         "eval overlap (conservative default); scrub = "
                         "excise just the overlapping word spans and "
                         "keep the rest of each turn")
    ap.add_argument("--render-conversations", action="store_true",
                    dest="render",
                    help="re-assemble surviving turns into ONE "
                         "chat-template document per conversation "
                         "(role/tool tags, stable turn order) before "
                         "the write — the training-export shape")
    ap.add_argument("--c4", action="store_true",
                    help="additionally gate pages on the C4 rule "
                         "bundle (textstats.c4_quality) applied to "
                         "the line-structured extracted text")
    ap.add_argument("--url-blocklist", default=None,
                    help="comma list of blocked registered domains "
                         "(RefinedWeb URL gate, urls.url_filter) "
                         "applied to response target URIs — WARC "
                         "mode only, before extraction")
    ap.add_argument("--ppl-terciles", default=None,
                    help="parquet of target-LM texts (column "
                         "'text'); enables the CCNet perplexity "
                         "gate (sampling.ccnet_terciles) after the "
                         "language gate")
    ap.add_argument("--ppl-keep", default="head,middle",
                    help="comma list of perplexity buckets to keep "
                         "(head/middle/tail/unscored)")
    ap.add_argument("--warc", action="store_true",
                    help="crawl-first ingest: pack the corpus into "
                         "WARC segments and consume them back "
                         "through the archive record walk + HTTP "
                         "split (sources.warc) before extraction — "
                         "the Common Crawl ingestion path")
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (SparkSession.builder.master(f"local[{args.cpus}]")
             .appName("transcript-curation-pipeline")
             .config("spark.sql.shuffle.partitions", str(args.cpus))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from html_parser_spark.config import EXTRACT_CONFIG
    from html_parser_spark.operators import dedup, textstats
    from html_parser_spark.operators.extract import extract_text
    from html_parser_spark.plans import pipeline
    from html_parser_spark.sources.transcripts import wrap_documents

    t0 = time.monotonic()
    funnel: dict = {}     # key -> count, or its reader until the write

    def counted(df, key, agg=None):
        df, funnel[key] = pipeline.observed(df, agg)
        return df

    tr = wrap_documents(spark, args.input)
    if args.warc:
        # crawl-first ingest: pack the corpus into WARC segments and
        # consume it back through the archive walk — the Common
        # Crawl path (synth stands in for reading .warc.gz blobs; in
        # deployment the binaryFile/blob column feeds warc_records
        # directly). Only 200 text/html responses proceed.
        from html_parser_spark.sources.warc import (
            synth_warc, warc_records)
        recs = counted(warc_records(synth_warc(tr)), "warc_records")
        resp = recs.filter((F.col("warc_type") == "response")
                           & (F.col("http_status") == 200)
                           & F.col("content_type")
                           .startswith("text/html"))
        if args.url_blocklist:
            # RefinedWeb URL gate on the record's target URI, BEFORE
            # extraction — a blocked crawl never costs a parse
            from html_parser_spark.operators.urls import url_filter
            doms = tuple(d.strip()
                         for d in args.url_blocklist.split(",")
                         if d.strip())
            resp = (url_filter(resp, url_col="uri",
                               blocked_domains=doms)
                    .filter("keep_url")
                    .drop("host", "blocked_domain", "blocked_pattern",
                          "soft_score", "keep_url"))
            resp = counted(resp, "after_url_gate")
        tr = (resp
              .select(F.col("doc_id").cast("string")
                      .alias("conv_id"),
                      F.lit(0).alias("turn_idx"),
                      F.lit("assistant").alias("role"),
                      F.col("body").alias("text"),
                      F.lit(None).cast("string").alias("tool"),
                      F.to_timestamp(
                          F.lit("2026-01-01 00:00:00")).alias("ts")))
    tr = counted(tr, "input_turns")
    if args.render:
        # read by the extract and by step 6c's role/tool join
        tr = tr.cache()

    # 1. extract. Each gate below filters its own output in place,
    # carrying the text through its key columns: (conv_id, turn_idx)
    # is the table's key, so that equals a semi-join back to the
    # corpus without shuffling it. doc_key (conv_id#turn_idx) is built
    # once here for the keyed operators and dropped before the write;
    # --c4 also carries the line-structured extracted_text it judges.
    keys = ["conv_id", "turn_idx", "doc_key"]
    c4_cols = ["extracted_text"] if args.c4 else []
    ex0 = extract_text(tr, EXTRACT_CONFIG).withColumn(
        "doc_key", F.concat_ws("#", "conv_id", "turn_idx"))

    # 1b. optional CCNet-tier duplicate-line scrub — runs on the
    # line-structured extracted_text (trimmed_text has newlines
    # collapsed already), BEFORE the quality gate so boilerplate
    # does not distort word/stopword stats; the survivors are then
    # whitespace-collapsed exactly like trimmed_text.
    if args.dedup_lines:
        # read by dedup_lines (twice) and by the key re-join below
        keyed0 = ex0.select(*keys, "extracted_text").cache()
        # rows survive line dedup by design — the informative funnel
        # number is how many turns had boilerplate lines scrubbed
        dl = counted(dedup.dedup_lines(keyed0, key_col="doc_key",
                                       text_col="extracted_text",
                                       min_count=args.dedup_lines),
                     "line_scrubbed_turns",
                     F.count(F.when(F.col("n_dup_lines") > 0, 1)))
        ex = (dl.join(keyed0.select(*keys, *c4_cols), "doc_key")
              .select(*keys,
                      F.trim(F.regexp_replace("clean_text", r"\s+",
                                              " ")).alias("text"),
                      *c4_cols))
    else:
        ex = ex0.select(*keys, F.col("trimmed_text").alias("text"),
                        *c4_cols)
    # a one-row-group input (or a small coalesced shuffle) leaves ex in
    # fewer partitions than cores, and every narrow gate below would
    # inherit that. Split here, after the Python stages: each Python
    # map node in a task holds its own worker, so splitting the input
    # would multiply workers, not just tasks. The line-scrub re-join
    # is split without asking: AQE never gives it more partitions than
    # cores, and getNumPartitions() would run its shuffles outside any
    # query.
    n_cores = spark.sparkContext.defaultParallelism
    if args.dedup_lines or ex.rdd.getNumPartitions() < n_cores:
        ex = ex.repartition(n_cores)

    # 2. quality gate on the EXTRACTED text
    q = textstats.gopher_quality(ex, [*keys, "text", *c4_cols],
                                 min_words=args.min_words)
    step = counted(q.filter("passes_gopher")
                   .select(*keys, "text", *c4_cols), "after_quality")

    # 2b. optional C4 page gate — judged on the LINE-structured
    # as-extracted text (trimmed/collapsed text has no newlines for
    # the line-retention rule to see)
    if args.c4:
        c4v = textstats.c4_quality(step, [*keys, "text"],
                                   text_col="extracted_text")
        step = counted(c4v.filter("passes_c4").select(*keys, "text"),
                       "after_c4")

    # 3. language gate; lang_pred rides along for --mix
    allow = [x.strip() for x in args.langs.split(",") if x.strip()]
    step = counted(textstats.lang_id(step, [*keys, "text"])
                   .filter(F.col("lang_pred").isin(allow))
                   .select(*keys, "text", "lang_pred"), "after_lang")

    # 3b. optional CCNet perplexity gate: rank survivors by
    # hashed-n-gram LM score under the target table, keep the
    # configured buckets (head,middle = the CCNet recipe)
    if args.ppl_terciles:
        from html_parser_spark.operators.sampling import ccnet_terciles
        tgt = spark.read.parquet(args.ppl_terciles)
        keep_buckets = [x.strip() for x in args.ppl_keep.split(",")
                        if x.strip()]
        # read by ccnet_terciles and by the semi-join
        step = step.cache()
        terc = ccnet_terciles(step, tgt, key_col="doc_key")
        ok_p = (terc.filter(F.col("ppl_bucket").isin(keep_buckets))
                .select("doc_key"))
        step = counted(step.join(ok_p, "doc_key", "left_semi"),
                       "after_ppl")

    # 4. benchmark decontamination (broadcast eval-shingle probe).
    # drop mode is keyed by conv_id: one leaked turn drops the whole
    # conversation — the conservative train/test-overlap policy.
    # scrub mode excises just the leaked word spans per turn.
    if args.eval_table:
        ev = spark.read.parquet(args.eval_table)
        if args.decontaminate_mode == "scrub":
            # read by the span probe, the scrub and the key re-join
            step = step.cache()
            spans = dedup.contaminated_spans(
                step, ev, key_col="doc_key", n=args.eval_ngram)
            scrubbed = (dedup.remove_dup_passages(
                            step, spans=spans, key_col="doc_key",
                            k=args.eval_ngram)
                        .join(step.drop("text"), "doc_key")
                        .select(*keys,
                                F.col("scrubbed_text").alias("text"),
                                "lang_pred"))
            # the informative number in scrub mode is how many turns
            # LOST spans (row count is preserved by construction): a
            # distinct count, which an observation cannot take
            funnel["scrubbed_turns"] = (
                spans.select("doc_key").distinct().count())
            # a turn that was ENTIRELY a benchmark item scrubs to
            # empty — an empty training row is worse than dropping it
            step = scrubbed.filter(F.length(F.trim("text")) > 0)
        else:
            # read by the shingle probe and by the anti-join
            step = dedup.decontaminate(
                step.cache(), ev, key_col="conv_id", n=args.eval_ngram)
        step = counted(step, "after_decontaminate")

    # 5. near-dup removal on doc_key; read by minhash_signatures
    # (through the components' edge checkpoint) and by the anti-join
    step = step.cache()
    pairs = dedup.lsh_candidate_pairs(
        dedup.minhash_signatures(step, key_col="doc_key",
                                 num_hashes=8),
        key_col="doc_key",
        num_hashes=8, band_size=2, max_bucket=1_000_000)
    dropped = (dedup.dedup_canonical(pairs)
               .filter(~F.col("is_canonical"))
               .select(F.col("id").alias("doc_key")))
    survivors = counted(step.join(dropped, "doc_key", "left_anti"),
                        "after_dedup")

    # 6. corpus mixing (deterministic hash-Bernoulli sampling so
    # language strata follow the requested training-mix weights;
    # the keep set is a pure function of the data — identical at any
    # cluster size)
    if args.mix:
        from html_parser_spark.operators.sampling import mix_corpus
        weights = {k.strip(): float(v) for k, v in
                   (kv.split("=") for kv in args.mix.split(","))}
        # read by mix_corpus' stratum count and by its sample
        survivors = counted(
            mix_corpus(survivors.cache(), "lang_pred", weights,
                       key_col="text", seed=args.mix_seed), "after_mix")

    # 6b. DSIR selection (importance resampling toward a target
    # distribution — an alternative/complement to stratum mixing):
    # Gumbel-top-k over hashed-n-gram log-ratio weights; the kept
    # set is a pure function of (data, target, seed)
    if args.dsir_target:
        from html_parser_spark.operators.sampling import dsir_select
        tgt = spark.read.parquet(args.dsir_target)
        # read by dsir_select (model total, scores) and the semi-join
        survivors = survivors.cache()
        picked = dsir_select(survivors, tgt, k=args.dsir_keep,
                             key_col="doc_key", seed=args.mix_seed)
        survivors = counted(survivors.join(picked.select("doc_key"),
                                           "doc_key", "left_semi"),
                            "after_dsir")
    survivors = survivors.select("conv_id", "turn_idx", "text")

    # 6c. optional conversation re-assembly: surviving turns join
    # back their role/tool from the source and render as one
    # chat-template document per conversation (stable turn order);
    # downstream consumers get whole conversations, not loose turns
    if args.render:
        from html_parser_spark.operators.sessions import (
            render_conversations)
        withroles = survivors.join(
            tr.select("conv_id", "turn_idx", "role", "tool"),
            ["conv_id", "turn_idx"], "left")
        survivors = counted(render_conversations(withroles),
                            "rendered_convs")

    # 7. write + report
    if args.shards:
        from html_parser_spark.plans.pipeline import (
            write_training_shards)
        # shard on conv_id in BOTH modes: no synthetic column leaks
        # into the exported schema, and all turns of a conversation
        # co-locate in one shard (what a training loader wants);
        # (conv_id, turn_idx) ordering keeps the within-shard layout
        # deterministic
        order_cols = (("conv_id",) if args.render
                      else ("conv_id", "turn_idx"))
        write_training_shards(survivors, args.output,
                              n_shards=args.shards,
                              key_col="conv_id",
                              order_cols=order_cols)
    else:
        survivors.write.mode("overwrite").parquet(args.output)
    funnel = {k: v() if callable(v) else v for k, v in funnel.items()}
    report = {
        "funnel": funnel,
        "kept_ratio": round(
            funnel.get("after_dsir",
                       funnel.get("after_mix", funnel["after_dedup"]))
            / max(funnel["input_turns"], 1), 4),
        "wall_sec": round(time.monotonic() - t0, 2),
        "output": args.output,
        "langs": allow,
    }
    if args.report:
        with open(args.report, "w") as f:
            json.dump(report, f)
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
