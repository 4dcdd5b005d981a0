"""Physical-plan helpers for the 10^12-turn deployment: salted
repartitioning, per-partition lineage/metrics, resumable runs.

North-rule requirements (BASELINE.json:14) with no reference
counterpart — the reference is single-threaded; these exist purely so
the same per-turn semantics hold on a 1000-executor cluster:

* **salting** — conv_id is Zipf-skewed (agent loops produce million-
  turn conversations). Every extraction operator here is per-turn, so
  we are free to split a conversation across partitions:
  ``hash(conv_id, turn_idx % salt_buckets)`` balances hot convs
  without breaking anything; conv-level consumers re-aggregate after.
* **lineage/metrics** — one row per task partition (id, rows, chars,
  wall seconds) appended to a checkpoint table. On Iceberg this is an
  append-only commit per batch; the sandbox implementation writes
  parquet (same schema, same anti-join resume contract).
* **resume** — a restart left-anti-joins completed batch ids from the
  checkpoint table, so only unfinished input splits re-run and the
  output is identical to a single uninterrupted run.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Iterator

import pandas as pd
from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: checkpoint/lineage row schema (Iceberg table in deployment)
LINEAGE_SCHEMA = T.StructType([
    T.StructField("batch_id", T.IntegerType()),
    T.StructField("partition_id", T.IntegerType()),
    T.StructField("n_rows", T.LongType()),
    T.StructField("n_chars", T.LongType()),
    T.StructField("wall_sec", T.DoubleType()),
])


def salted_repartition(df: DataFrame, num_partitions: int,
                       salt_buckets: int = 16) -> DataFrame:
    """Balance skewed conv_ids: partition by (conv_id, turn_idx %
    salt_buckets). Hot conversations spread over ``salt_buckets``
    partitions; uniform ones are untouched statistically."""
    return df.repartition(
        num_partitions,
        F.col("conv_id"),
        F.pmod(F.col("turn_idx"), F.lit(salt_buckets)),
    )


def stable_sorted(df: DataFrame) -> DataFrame:
    """Final output contract: stable (conv_id, turn_idx) total order
    regardless of salting — a range-partitioned sort (Spark samples
    boundaries; skewed conv_ids split across ranges by turn_idx)."""
    return df.orderBy("conv_id", "turn_idx")


def partition_metrics(df: DataFrame, batch_id: int = 0,
                      text_col: str | None = "extracted_text"
                      ) -> DataFrame:
    """Per-partition lineage rows computed in the same pass shape the
    real pipeline uses (one Arrow scan, no shuffle): partition id,
    row/char counts, wall seconds. ``text_col=None`` (or a column the
    batch lacks) counts rows only, n_chars 0."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        t0 = time.monotonic()
        rows = 0
        chars = 0
        for pdf in batches:
            rows += len(pdf)
            if text_col is not None and text_col in pdf.columns:
                chars += int(pdf[text_col].str.len().fillna(0).sum())
        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        yield pd.DataFrame({
            "batch_id": [batch_id], "partition_id": [pid],
            "n_rows": [rows], "n_chars": [chars],
            "wall_sec": [time.monotonic() - t0],
        })

    return df.mapInPandas(run, LINEAGE_SCHEMA)


def observed(df: DataFrame, agg: Column | None = None
             ) -> tuple[DataFrame, Callable[[], int]]:
    """``df`` counting its rows (or ``agg``) as it runs, and a reader of
    that count for after the action. An observation counts every
    execution of its node in a query: put it in a cache's fill or on
    the action's plan, never under an uncached plan that two readers
    share. When AQE cut the first query over the node at an empty
    stage, Spark completes the observation with an empty row that
    ``Observation.get`` cannot read: the reader then counts the node
    by an action of its own."""
    obs = Observation()
    agg = (F.count(F.lit(1)) if agg is None else agg).alias("n")

    def read() -> int:
        try:
            return obs.get["n"]
        except Py4JJavaError:
            return df.agg(agg).first()[0]

    return df.observe(obs, agg), read


def write_bucketed(df: DataFrame, table: str, n_buckets: int = 64,
                   bucket_cols: tuple[str, ...] = ("conv_id",),
                   sort_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
                   mode: str = "overwrite") -> None:
    """Persist a table bucketed (and sorted) by ``bucket_cols`` so
    later equi-joins and aggregations on those keys are CO-LOCATED:
    two tables bucketed the same way join with zero Exchange — at
    100 TB that deletes the dominant shuffle of
    extracted-output x metadata joins (asserted by the plan test in
    test_plans_streaming). Iceberg's bucket partition transform plays
    this role in deployment; ``bucketBy`` is the warehouse-table
    equivalent.
    """
    (df.write.mode(mode)
     .bucketBy(n_buckets, *bucket_cols)
     .sortBy(*sort_cols)
     .format("parquet")
     .saveAsTable(table))


def write_training_shards(df: DataFrame, path: str,
                          n_shards: int = 1024,
                          key_col: str = "doc_id",
                          order_cols: tuple[str, ...] | None = None,
                          mode: str = "overwrite") -> None:
    """Export the curated corpus as ``n_shards`` DETERMINISTIC,
    size-balanced training shards — the write a 100 TB curation run
    ends with.

    Shard assignment is ``pmod(xxhash64(key), n_shards)`` (content
    hash, NOT round-robin or partition id), and rows are sorted by
    (``order_cols`` or the key) within each shard, so the shard a
    document lands in and its position there are functions of the
    DATA alone: re-running on a different cluster size, partition
    count, or input order reproduces byte-identical shard membership
    and order — what a training job needs for resumable, comparable
    data loading.

    Scale shape: one hash-partition Exchange (no global sort — the
    sort is within-partition), shard sizes balanced by hash
    uniformity (CLT: ±~1/sqrt(rows-per-shard) relative spread). Note
    the repartition hashes the shard VALUE, so several shards can
    share a task (and ~1/e of tasks are empty) — one file per shard
    still holds because all rows of a shard co-locate and the
    partitionBy writer splits a task's output on the sorted shard
    column; raise ``n_shards``'s task count upstream if per-task
    memory for 2-4 co-resident shards is a concern.
    """
    order = list(order_cols) if order_cols else [key_col]
    shard = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards))
    # The sort leads with the shard column: the partitioned writer
    # REQUIRES its output ordered by the partition columns and would
    # otherwise insert its own shard-only sort, which does not
    # preserve the intra-shard order (observed: ties land in
    # arbitrary order). Pre-satisfying the requirement keeps one
    # within-partition sort and makes the intra-shard order stick.
    (df.withColumn("shard", shard.cast("int"))
     .repartition(n_shards, "shard")
     .sortWithinPartitions("shard", *order)
     .write.mode(mode)
     .partitionBy("shard")
     .parquet(path))


def _warn_if_not_pruned(part: DataFrame, batch_col: str) -> None:
    """Enforce the resume contract at runtime: the per-batch filter
    must reach the scan as a PARTITION filter (input partitioned by
    ``batch_col``), otherwise every resume pays a full corpus re-scan
    per batch. Inspected once per run on the first batch; a violation
    warns loudly instead of silently degrading to O(batches × corpus)
    scan cost."""
    try:
        plan = part._jdf.queryExecution().executedPlan().toString()
    except Exception:  # non-JVM plans (mocks) — nothing to inspect
        return
    for seg in plan.split("PartitionFilters: [")[1:]:
        if batch_col in seg.split("]")[0]:
            return
    import warnings
    warnings.warn(
        f"run_resumable: the filter on {batch_col!r} is not a "
        "partition filter — the input is not partitioned by "
        f"{batch_col!r}, so each batch re-scans the whole source. "
        f"Stage the input with .write.partitionBy({batch_col!r}) "
        "(Iceberg: a partition transform on it) before resuming at "
        "scale.", RuntimeWarning, stacklevel=3)


def completed_batches(spark: SparkSession, checkpoint_dir: str) -> set[int]:
    """Batch ids already committed to the checkpoint table. Read via
    Spark (not driver-local os.path) so URI-form and remote
    checkpoint locations (file://, hdfs://, s3a://) resume correctly
    instead of silently re-running everything."""
    from pyspark.errors import AnalysisException

    try:
        rows = (spark.read.parquet(checkpoint_dir)
                .select("batch_id").distinct().collect())
    except AnalysisException:  # first run: checkpoint does not exist
        return set()
    return {r.batch_id for r in rows}


def run_resumable(spark: SparkSession, df: DataFrame, out_dir: str,
                  checkpoint_dir: str, batch_col: str = "batch_id",
                  text_col: str | None = "extracted_text") -> int:
    """Process only batches absent from the checkpoint table; write
    output + lineage per batch. Returns number of batches executed.
    ``text_col`` names the column whose characters the lineage rows
    count (None, or a column the output lacks, counts rows only).

    Exactly-once contract: each batch writes its own partition
    subdirectory ``out_dir/<batch_col>=<b>`` in OVERWRITE mode, and
    the lineage row commits only afterwards. A crash between the two
    steps re-runs the batch on resume, and the overwrite makes the
    re-run idempotent — ``spark.read.parquet(out_dir)`` yields
    exactly the rows of one uninterrupted run, never duplicates. (On
    Iceberg both steps fold into a single atomic append commit; the
    two-step parquet protocol is the sandbox equivalent.)

    Batch = input file group: when ``df`` scans a parquet/Iceberg
    source partitioned by ``batch_col``, the per-batch filter is a
    partition filter — each batch re-scans only its own files, not
    the whole input (asserted by the plan test in test_pipeline_ops).
    The anti-join against completed batch ids happens on the (tiny)
    checkpoint table, never shuffling the main input.
    """
    done = completed_batches(spark, checkpoint_dir)
    todo = [r[0] for r in
            df.select(batch_col).distinct().collect() if r[0] not in done]
    # Fail BEFORE any output write on batch ids the int32 lineage
    # schema cannot commit — otherwise the batch parquet lands, the
    # checkpoint append dies in the executors, and every resume
    # re-runs into the same crash. (Iceberg deployment: widen
    # LINEAGE_SCHEMA alongside the checkpoint table's DDL.)
    bad = [b for b in todo
           if not isinstance(b, int) or not -2**31 <= b < 2**31]
    if bad:
        raise ValueError(
            f"run_resumable: batch ids must be int32 (lineage schema); "
            f"got {bad[:3]!r}{'...' if len(bad) > 3 else ''} in "
            f"{batch_col!r}. Null ids usually mean unstaged input — "
            f"partition the source by {batch_col!r} first.")
    for i, b in enumerate(sorted(todo)):
        part = df.filter(F.col(batch_col) == b).drop(batch_col)
        if i == 0:
            _warn_if_not_pruned(part, batch_col)
        sub = os.path.join(out_dir, f"{batch_col}={b}")
        part.write.mode("overwrite").parquet(sub)
        # lineage describes the files just WRITTEN (read back from
        # sub), not a second execution of the extraction plan — the
        # batch's compute runs once, and the counts match the output
        # even if an upstream stage were nondeterministic
        (partition_metrics(spark.read.parquet(sub), batch_id=b,
                           text_col=text_col)
         .write.mode("append").parquet(checkpoint_dir))
    return len(todo)


def pack_sequences(df: DataFrame, target_tokens: int,
                   key_col: str = "doc_id", text_col: str = "text",
                   buckets: int = 4096, seed: int = 0,
                   token_mode: str = "words",
                   merges: list[tuple] | None = None) -> DataFrame:
    """Deterministic sequence packing — the training-export step that
    lays documents end-to-end into fixed-token-budget packs (the
    GPT-style "pack short documents into one training sequence"
    stage; public practice since Brown et al. 2020 §2.3 trained on
    packed multi-document contexts).

    Docs are laid out in a deterministic pseudo-random order (md5
    order hash, key tiebreak) inside ``buckets`` independent hash
    buckets; each doc's pack is ``floor(start_offset /
    target_tokens)`` of its whitespace-token start offset in that
    layout, so a pack holds consecutive whole documents and rolls
    over once the budget is crossed (a straddling doc belongs to the
    pack where it starts — packs overflow by at most one document,
    the standard no-split tradeoff).  Token counts are whitespace
    words by default (same CJK caveat as ``textstats.words_col``);
    ``token_mode="bpe"`` prices in real subword tokens instead via
    :func:`~html_parser_spark.operators.bpe.bpe_token_count_col`
    with a trained ``merges`` table (eligible words at their BPE
    token count, everything else one token per char) — still pure
    JVM, so the pack plan shape is identical in both modes.

    Returns one row per input row:
    (key, pack_id, pack_pos, n_tokens) — pack_id = "bucket-local" is
    globally unique, pack_pos is the 1-based position of the doc
    inside its pack.  The full assignment is a pure function of
    (data, seed): identical at any cluster size, input order, or
    retry history, like every sampling/shard operator here.

    Scale shape: packing is inherently sequential WITHIN a pack (each
    doc's pack depends on the cumulative length before it), so the
    parallelism unit is the bucket: one window cumsum per bucket, no
    global sort, no driver-side state.  Size ``buckets`` so a
    bucket's docs fit a reducer (100 TB / 4096 ~ 25 GB; raise it for
    bigger corpora — bucket count only changes WHICH packs form,
    determinism holds at any setting).  Everything is JVM codegen:
    md5/conv builtins, two window passes keyed by the same partition
    spec, one exchange on the bucket id.
    """
    from pyspark.sql import Window

    if target_tokens < 1:
        raise ValueError("need target_tokens >= 1")
    k = F.col(key_col).cast("string")
    if token_mode == "bpe":
        if not merges:
            raise ValueError("token_mode='bpe' needs a trained "
                             "merges table (see bpe.train_bpe)")
        from html_parser_spark.operators.bpe import bpe_token_count_col
        n = bpe_token_count_col(F.col(text_col), merges)
    elif token_mode == "words":
        from html_parser_spark.operators.textstats import words_col
        # NULL text = 0 tokens (size(NULL) is NULL and would
        # otherwise poison the cumulative sum and collapse pack_ids)
        n = F.coalesce(F.size(words_col(F.col(text_col))), F.lit(0))
    else:
        raise ValueError(f"unknown token_mode {token_mode!r}")
    from html_parser_spark.operators.sampling import md5_prefix_long
    b = md5_prefix_long(F.concat(k, F.lit(f"#b{seed:d}"))) % buckets
    h = F.md5(F.concat(k, F.lit(f"#o{seed:d}")))
    base = df.select(F.col(key_col), n.alias("n_tokens"),
                     b.alias("_b"), h.alias("_h"))
    w = (Window.partitionBy("_b").orderBy("_h", key_col)
         .rowsBetween(Window.unboundedPreceding, 0))
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    packed = (base.withColumn("_local",
                              F.floor(start / F.lit(target_tokens))))
    wp = Window.partitionBy("_b", "_local").orderBy("_h", key_col)
    return packed.select(
        key_col,
        F.concat_ws("-", F.col("_b").cast("string"),
                    F.col("_local").cast("string")).alias("pack_id"),
        F.row_number().over(wp).cast("int").alias("pack_pos"),
        F.col("n_tokens").cast("int").alias("n_tokens"))


def chunk_documents(df: DataFrame, max_tokens: int,
                    key_col: str = "doc_id", text_col: str = "text",
                    overlap: int = 0) -> DataFrame:
    """Split long documents into ``max_tokens``-token windows with
    ``overlap`` carried tokens — the context-window chunking step
    that precedes packing in a training-export pipeline (pack short
    docs, split long ones; overlap preserves cross-boundary context,
    the standard stride trick).  Tokens are whitespace words (same
    CJK caveat as ``textstats.words_col``).

    Returns one row per chunk: (key, chunk_idx, chunk_text,
    n_tokens); chunk i covers words [i*step, i*step + max_tokens)
    with step = max_tokens - overlap, and every doc yields >= 1
    chunk (an empty doc yields one empty chunk), so no input row is
    silently dropped.

    Scale shape: pure map — one JVM projection computing the chunk
    count, one ``explode`` fan-out, slices materialized from the
    per-row words array.  No shuffle, no Python, composes with
    :func:`pack_sequences` downstream (chunk -> pack gives
    uniform-budget training sequences).
    """
    from html_parser_spark.operators.textstats import words_col

    if not 0 <= overlap < max_tokens:
        raise ValueError("need 0 <= overlap < max_tokens")
    step = max_tokens - overlap
    # NULL text chunks like the empty doc (one empty chunk), instead
    # of being silently dropped by explode(NULL)
    w = F.coalesce(words_col(F.col(text_col)),
                   F.array().cast("array<string>"))
    n_chunks = F.greatest(
        F.lit(1).cast("long"),
        F.ceil((F.size(w) - F.lit(overlap)) / F.lit(step))
        .cast("long"))
    base = df.select(
        F.col(key_col), w.alias("_w"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1))
        .alias("chunk_idx"))
    piece = F.slice("_w", F.col("chunk_idx").cast("int") * step + 1,
                    max_tokens)
    return base.select(
        key_col,
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).alias("n_tokens"))
