"""Benchmark entry point (driver contract).

Runs the headline queries on ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) with ``local[$SPARK_GRAFT_CPUS]`` (default 32)
and prints ONE JSON line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...}, "sf": ..., "turns": N, "turns_per_sec": ...}

The flagship tokenize+extract stage is the throughput metric from
BASELINE.md (turns/sec). ``SPARK_GRAFT_REPLICATE`` (default 20)
fans each source document out to that many turns (distinct payloads —
turn_idx is appended inside the text) so the run is long enough to
time; the factor is identical across cpu counts, so scaling-efficiency
comparisons (scripts/scaling_bench.py) are apples-to-apples.

Measurement protocol: a fixed warm-up, then all queries run
INTERLEAVED for ``SPARK_GRAFT_TRIALS`` (default 3) round-robin
rounds, and nothing else. Each query's record is its min over the
rounds (``queries``), reported next to its median
(``queries_median``). The full trial matrix plus a fixed pure-JVM
``host_probe`` job per round are emitted in the JSON so background
load is visible in the artifact itself. The ``conv_extract_skew_*``
pair demonstrates the salting claim with a number: identical op + subset,
conv-partitioned with ~50% of rows on one hot key, with and without
``salted_repartition``; both arms are excluded from the headline
total (one is a deliberate straggler) and reported under
``skew_demo`` / ``salting_speedup``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def build_session(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"html_parser_spark-bench-{cpus}")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .getOrCreate()
    )


def bench_input(spark, sf_dir: str, replicate: int, cpus: int):
    """Transcripts table: each document becomes ``replicate`` turns
    with distinct payloads. Repartitioned so every core has work."""
    from pyspark.sql import functions as F

    from html_parser_spark.sources.transcripts import wrap_documents

    tr = wrap_documents(spark, sf_dir)
    out = (
        tr.select(
            "conv_id",
            F.explode(F.sequence(F.lit(0), F.lit(replicate - 1)))
            .alias("turn_idx"),
            "text",
        )
        .withColumn("text", F.concat("text", F.lit(" <i>t"),
                                     F.col("turn_idx"), F.lit("</i>")))
    )
    return out.repartition(cpus * 2).cache()


def main() -> None:
    from pyspark.sql import functions as F

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    replicate = int(os.environ.get("SPARK_GRAFT_REPLICATE", "20"))
    if replicate < 1:
        # sequence(0, replicate-1) with replicate=0 auto-steps DOWN
        # to [0, -1] and silently doubles the corpus instead of
        # emptying it — fail fast on the misconfiguration
        raise SystemExit("SPARK_GRAFT_REPLICATE must be >= 1")
    spark = build_session(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from html_parser_spark.config import EXTRACT_CONFIG, ParserConfig
    from html_parser_spark.operators import dedup, similarity, textstats
    from html_parser_spark.operators.extract import events, extract_text

    tr = bench_input(spark, sf_dir, replicate, cpus)
    n_turns = tr.count()  # also materializes the cache
    # single-file parquet -> 1 scan partition; spread over the cores
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .repartition(cpus).cache())
    docs.count()
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .repartition(cpus).cache())
    emb.count()

    # Warm the Python workers (process fork + pandas/pyarrow/package
    # imports) so timings measure steady-state throughput — at corpus
    # scale worker startup amortizes to zero.
    warm = tr.limit(2000)
    for _ in range(2):
        (warm.mapInPandas(lambda it: (pdf for pdf in it), warm.schema)
         .agg(F.count("*")).collect())

    from html_parser_spark.plans.pipeline import salted_repartition

    def run_minhash_lsh():
        sigs = dedup.minhash_signatures(docs).cache()
        try:
            dedup.lsh_candidate_pairs(sigs).count()
        finally:
            sigs.unpersist()

    # Skew-demonstration pair (Zipf conv_ids are the north rule's
    # stated hazard): ~50% of rows collapse onto ONE conv key; the
    # unsalted conv-partitioned layout makes one straggler task carry
    # half the corpus, salted_repartition spreads it while per-turn
    # semantics stay intact. Subset (turn_idx < 6) bounds the
    # straggler arm's cost; both arms use the identical subset + op.
    skew = (tr.filter(F.col("turn_idx") < 6)
            .withColumn("conv_id",
                        F.when(F.pmod(F.xxhash64("conv_id"), 2) == 0,
                               F.lit("HOT")).otherwise(F.col("conv_id")))
            ).cache()
    skew.count()

    def run_conv_extract(salted: bool):
        part = (salted_repartition(skew, cpus)
                if salted else skew.repartition(cpus, "conv_id"))
        (extract_text(part, EXTRACT_CONFIG)
         .agg(F.count("*"), F.sum(F.length("extracted_text"))).collect())

    QUERIES = [
        ("extract_text", lambda: extract_text(tr, EXTRACT_CONFIG)
         .agg(F.count("*"), F.sum(F.length("extracted_text"))).collect()),
        ("events", lambda: events(tr, ParserConfig(), fields=("event",))
         .groupBy("event").count().collect()),
        ("events_full", lambda: events(tr, ParserConfig())
         .groupBy("event").agg(F.sum("length")).collect()),
        ("token_stats", lambda: textstats.token_stats(
            tr.withColumnRenamed("text", "t"), ["conv_id"], "t")
         .agg(F.sum("n_tokens")).collect()),
        ("minhash_lsh", run_minhash_lsh),
        # bit_count: forces the full signature computation without the
        # long-overflow a plain sum of signed 64-bit signatures hits
        ("simhash", lambda: dedup.simhash(docs)
         .agg(F.sum(F.bit_count("simhash"))).collect()),
        ("cosine_knn", lambda: similarity.cosine_neighbors(
            emb, emb.limit(8).select(F.col("vec_id").alias("query_id"),
                                     "embedding"),
            threshold=0.2).count()),
        ("conv_extract_skew_unsalted", lambda: run_conv_extract(False)),
        ("conv_extract_skew_salted", lambda: run_conv_extract(True)),
    ]

    # INTERLEAVED rounds: all queries run round-robin so a noisy
    # window on this shared host cannot define any single query's
    # record; the full trial matrix is emitted so spread is visible in
    # the artifact itself. host_probe is a fixed pure-JVM job timed
    # each round: its spread documents the machine's background load.
    def host_probe():
        spark.range(200_000_000).agg(F.sum("id")).collect()

    n_trials = int(os.environ.get("SPARK_GRAFT_TRIALS", "3"))
    all_q = QUERIES + [("host_probe", host_probe)]
    trials: dict[str, list[float]] = {name: [] for name, _ in all_q}

    for _ in range(n_trials):
        for name, fn in all_q:
            t0 = time.monotonic()
            fn()
            trials[name].append(round(time.monotonic() - t0, 3))
    timings = {name: min(ts) for name, ts in trials.items()
               if name != "host_probe"}

    extract_sec = timings["extract_text"]
    # The skew pair exists to price the unsalted anti-pattern (one
    # arm is a deliberate straggler); both arms are excluded from the
    # headline total so cross-round sum comparisons stay
    # apples-to-apples with the pre-skew-pair rounds. They are
    # reported separately below (skew_demo + salting_speedup).
    skew_arms = {"conv_extract_skew_unsalted", "conv_extract_skew_salted"}
    total = round(sum(t for n, t in timings.items()
                      if n not in skew_arms), 3)
    print(json.dumps({
        "metric": "tokenize+extract turns/sec (flagship) + headline ops",
        "value": total,
        "unit": "sec",
        "queries": {n: t for n, t in timings.items()
                    if n not in skew_arms},
        "queries_median": {n: round(statistics.median(trials[n]), 3)
                           for n in timings if n not in skew_arms},
        "skew_demo": {n: timings[n] for n in sorted(skew_arms)},
        "trials": trials,
        "sf": sf_dir,
        "cpus": cpus,
        "turns": n_turns,
        "turns_per_sec": round(n_turns / extract_sec, 1),
        "host_probe_sec": trials["host_probe"],
        "salting_speedup": round(
            timings["conv_extract_skew_unsalted"]
            / timings["conv_extract_skew_salted"], 2),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
