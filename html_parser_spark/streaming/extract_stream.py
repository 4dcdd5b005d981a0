"""Structured Streaming surface: the same fused tokenize+extract
stage applied to a transcript stream.

The reference's "incremental chunk feed" (`Parser.pm:168-170`) is
bounded-buffer incremental parsing, not event-time streaming — per
SURVEY.md §2.6 there are no watermark semantics to port. What a
production corpus DOES need is continuous ingestion: new transcript
turns land (Iceberg snapshot / Kafka topic / file drop) and flow
through the identical extraction operators. Because every operator
is per-turn (stateless across rows), the batch `mapInArrow` stage
is reused VERBATIM — `extract_text(stream_df)` — and the stream
stays shuffle-free end-to-end (append mode, no stateful operator).

For conversation-level rollups (e.g. turns per conv per window) we
add the standard watermark + window aggregation, which IS stateful —
kept separate so the hot extraction path never pays state-store
costs.

Documented scope — corpus-frequency operators are batch-only: the
ops whose semantics quantify over the WHOLE corpus at once
(`dedup.dedup_lines` line frequencies, `sampling.dsir_logweights` /
`ngram_xent` model fitting, `plans.pipeline.pack_sequences` layout
offsets) have no bounded-state streaming form — their answer for
row X changes when row Y arrives arbitrarily later. The streaming
analogue is the standard lambda split: fit/count on a batch
snapshot, apply the frozen model statelessly in the stream (exactly
how `decontaminate_stream` applies a frozen eval-shingle set).
`sessions.render_conversations` is batch-scope for the same reason a
conversation is only renderable once complete; the streaming path is
sessionize_stream (emit on watermark) followed by a batch render of
closed sessions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from html_parser_spark.config import EXTRACT_CONFIG, ParserConfig
from html_parser_spark.operators.extract import (
    events,
    extract_text,
    head_headers,
    links,
)


def read_transcript_stream(spark: SparkSession, path: str,
                           schema) -> DataFrame:
    """File-drop source: each new parquet file under ``path`` is a
    micro-batch of turns (sandbox stand-in for an Iceberg streaming
    read / Kafka topic)."""
    return spark.readStream.schema(schema).parquet(path)


def extract_text_stream(stream_df: DataFrame,
                        cfg: ParserConfig = EXTRACT_CONFIG) -> DataFrame:
    """Streaming flagship: identical operator, streaming input.
    Stateless ⇒ append output mode, no watermark required."""
    return extract_text(stream_df, cfg)


def head_headers_stream(stream_df: DataFrame,
                        cfg: ParserConfig | None = None) -> DataFrame:
    """HeadParser metadata capture over a stream — the batch operator
    verbatim (per-turn, stateless, append mode)."""
    if cfg is None:
        return head_headers(stream_df)
    return head_headers(stream_df, cfg)


def links_stream(stream_df: DataFrame,
                 cfg: ParserConfig = ParserConfig(),
                 base: str | None = None) -> DataFrame:
    """LinkExtor link extraction over a stream — the batch operator
    verbatim (per-turn, stateless, append mode)."""
    return links(stream_df, cfg, base)


def events_stream(stream_df: DataFrame,
                  cfg: ParserConfig = ParserConfig(),
                  fields: tuple[str, ...] | None = None) -> DataFrame:
    """The FULL event surface over a stream — the batch ``events()``
    operator verbatim, argspec (``fields=``) included: per-turn
    fan-out happens inside the Arrow batch, so the stream stays
    stateless and shuffle-free (append mode, no watermark)."""
    return events(stream_df, cfg, fields=fields)


def main_content_stream(stream_df: DataFrame, **kw) -> DataFrame:
    """Boilerplate-stripped main-content assembly over a stream —
    the batch operator verbatim (per-turn Arrow fan-out, stateless,
    append mode)."""
    from html_parser_spark.operators.content import main_content
    return main_content(stream_df, **kw)


def content_blocks_stream(stream_df: DataFrame, **kw) -> DataFrame:
    """Per-block content/boilerplate classification over a stream —
    the batch operator verbatim (stateless, append mode)."""
    from html_parser_spark.operators.content import content_blocks
    return content_blocks(stream_df, **kw)


def tables_stream(stream_df: DataFrame, **kw) -> DataFrame:
    """Structured table-cell extraction over a stream — the batch
    operator verbatim (per-turn Arrow fan-out, stateless, append)."""
    from html_parser_spark.operators.content import extract_tables
    return extract_tables(stream_df, **kw)


def pdf_text_stream(stream_df: DataFrame, **kw) -> DataFrame:
    """PDF text extraction over a stream of binary payloads — the
    batch Arrow codec stage verbatim (stateless map, append mode)."""
    from html_parser_spark.operators.pdf import extract_pdf_text
    return extract_pdf_text(stream_df, **kw)


def media_meta_stream(stream_df: DataFrame, **kw) -> DataFrame:
    """Image-header metadata decode over a stream of binary payloads
    — the batch Arrow codec stage verbatim (stateless, append)."""
    from html_parser_spark.operators.media import decode_image_meta
    return decode_image_meta(stream_df, **kw)


def video_frames_stream(stream_df: DataFrame, **kw) -> DataFrame:
    """MP4 frame sampling over a stream of binary payloads — the
    batch box-walk + per-frame JPEG decode verbatim (stateless
    Arrow map, append mode): a live video-ingest feed samples
    frames with the same code path the batch backfill uses."""
    from html_parser_spark.operators.video import sample_video_frames
    return sample_video_frames(stream_df, **kw)


def warc_records_stream(stream_df: DataFrame, **kw) -> DataFrame:
    """WARC record extraction over a stream of binary segments —
    the batch walk verbatim (stateless Arrow map, append mode): a
    live crawl feed parses with the same code path the batch
    backfill uses."""
    from html_parser_spark.sources.warc import warc_records
    return warc_records(stream_df, **kw)


def tar_members_stream(stream_df: DataFrame, **kw) -> DataFrame:
    """WebDataset tar-member extraction over a stream of binary
    shards — the batch walk verbatim (stateless Arrow map, append
    mode)."""
    from html_parser_spark.sources.tarshard import tar_members
    return tar_members(stream_df, **kw)


def decontaminate_stream(stream_df: DataFrame, eval_df: DataFrame,
                         text_col: str = "text",
                         eval_text_col: str = "text",
                         n: int = 13) -> DataFrame:
    """Streaming benchmark decontamination: drop rows sharing any
    ``n``-word shingle with the STATIC eval/benchmark table (the
    streaming twin of :func:`~html_parser_spark.operators.dedup.
    decontaminate`).

    The batch operator's contaminated-ids anti-join would be a
    stream-stream join (unsupported for anti); but since one row =
    one document, contamination is decidable per row — so this is a
    stateless filter: the eval shingle-hash set is collected ONCE at
    plan time (eval sets are megabytes by definition; same
    budget as the batch broadcast) and shipped as ONE typed array
    literal — a single plan node however many hashes it holds, not
    one ``lit`` child per hash, which at the realistic 10^5-10^6
    eval shingles would balloon plan construction and serialization
    for every micro-batch. Each row is checked with
    ``arrays_overlap`` on its own xxhash64 shingles (cost O(|ev|)
    per row — fine for benchmark-sized eval sets; an eval side too
    big for that is too big for the batch broadcast too). Pure JVM,
    append-mode-safe, identical keep/drop decisions to the batch
    operator."""
    from html_parser_spark.operators.dedup import shingles_col

    ev = [r.h for r in (eval_df.select(
        F.explode(shingles_col(F.col(eval_text_col), n)).alias("_s"))
        .select(F.xxhash64("_s").alias("h")).distinct().collect())]
    if not ev:
        return stream_df
    row_hashes = F.transform(
        shingles_col(F.col(text_col), n), lambda s: F.xxhash64(s))
    ev_lit = F.lit(sorted(ev))   # one Literal node, array<bigint>
    return stream_df.filter(~F.arrays_overlap(row_hashes, ev_lit))


def dedup_exact_stream(stream_df: DataFrame,
                       text_col: str = "text",
                       watermark: str = "10 minutes",
                       ts_col: str = "ts") -> DataFrame:
    """Continuous exact dedup: keep the first arrival of each text
    hash, drop later duplicates. State = one row per distinct hash,
    evicted once the watermark passes (duplicates arriving later than
    the watermark are passed through — the bounded-state tradeoff
    every streaming dedup makes; the batch `exact_dedup` pass
    downstream catches stragglers). ``dropDuplicatesWithinWatermark``
    is the state-EVICTING variant: plain ``dropDuplicates`` on a
    non-event-time key holds state forever. Uses the engine-standard
    md5 text hash so batch and stream agree on identity."""
    return (
        stream_df
        .withColumn("text_hash", F.md5(F.col(text_col).cast("binary")))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )


def turns_per_conv_windowed(stream_df: DataFrame,
                            window: str = "1 minute",
                            watermark: str = "2 minutes") -> DataFrame:
    """Stateful rollup: turns + chars per (conv_id, event-time
    window), late data bounded by the watermark. State is keyed by
    (conv_id, window) — skew-safe because window close evicts state;
    a hot conv_id holds one state row per open window, not per turn.
    """
    return (
        stream_df
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("conv_id"))
        .agg(F.count("*").alias("n_turns"),
             F.sum(F.length("text")).alias("n_chars"))
        .select("conv_id", F.col("w.start").alias("window_start"),
                "n_turns", "n_chars")
    )


SESSION_SCHEMA = ("conv_id string, session_start_s long, "
                  "session_end_s long, n_turns long")
_SESSION_STATE = "start_s long, last_s long, n long"


def _session_update(existing: tuple[int, int, int] | None,
                    ts_sorted: list[int], gap_seconds: int
                    ) -> tuple[list[tuple[int, int, int]],
                               tuple[int, int, int]]:
    """Pure sessionization step for one conversation and one batch of
    SORTED epoch seconds: returns (closed_sessions, open_state), each
    session a (start_s, last_s, n_turns) triple.

    The batch is split into runs on intra-batch idle gaps FIRST
    (backfill/replay batches spanning gaps produce the same
    boundaries as the batch operator); the stored open span is then
    merged into the run sequence POSITIONALLY — sorted by start and
    joined to whichever neighbors are within ``gap_seconds`` on
    either side. A signed first-run test would wrongly absorb a run
    that ends long BEFORE the stored session starts (reachable
    whenever the watermark delay exceeds the gap), gluing two real
    sessions across their idle gap and detaching the true
    continuation."""
    runs: list[tuple[int, int, int]] = []
    rs = re_ = ts_sorted[0]
    n_run = 1
    for t in ts_sorted[1:]:
        if t - re_ > gap_seconds:
            runs.append((rs, re_, n_run))
            rs, n_run = t, 0
        n_run += 1
        re_ = t
    runs.append((rs, re_, n_run))
    spans = sorted(runs + [existing]) if existing is not None else runs
    merged = [spans[0]]
    for s, e, k in spans[1:]:
        ps, pe, pk = merged[-1]
        if s - pe <= gap_seconds:
            merged[-1] = (ps, max(pe, e), pk + k)
        else:
            merged.append((s, e, k))
    return merged[:-1], merged[-1]


def sessionize_stream(stream_df: DataFrame, gap_seconds: int = 300,
                      watermark: str = "10 seconds") -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    continuous sessionization keyed by conv_id.

    State per conversation = (session_start, last_seen, n_turns) —
    three longs, regardless of how many turns the conversation has,
    so a hot conv_id costs one state row, not per-turn state. A
    session row is emitted when the event-time watermark passes
    ``last_seen + gap_seconds`` (the idle deadline); late turns
    inside the watermark extend the open session. This is the
    streaming twin of operators.sessions.sessionize — same session
    boundaries, incremental emission.
    """
    import pandas as pd

    def fn(key, pdfs, state):
        conv_id = key[0]
        if state.hasTimedOut:
            start_s, last_s, n = state.get
            state.remove()
            yield pd.DataFrame({"conv_id": [conv_id],
                                "session_start_s": [start_s],
                                "session_end_s": [last_s],
                                "n_turns": [n]})
            return
        ts_all: list[int] = []
        for pdf in pdfs:
            s = pdf["ts"].astype("int64") // 1_000_000_000
            if len(s) == 0:
                continue  # empty chunks occur; min() would be NaN
            ts_all.extend(int(v) for v in s)
        if not ts_all:
            return
        ts_all.sort()
        closed, (start_s, last_s, n) = _session_update(
            tuple(state.get) if state.exists else None,
            ts_all, gap_seconds)
        state.update((start_s, last_s, n))
        state.setTimeoutTimestamp((last_s + gap_seconds) * 1000)
        if closed:
            yield pd.DataFrame({
                "conv_id": [conv_id] * len(closed),
                "session_start_s": [c[0] for c in closed],
                "session_end_s": [c[1] for c in closed],
                "n_turns": [c[2] for c in closed]})

    return (
        stream_df
        .withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn, SESSION_SCHEMA, _SESSION_STATE, "append",
            "EventTimeTimeout")
    )


def write_stream_parquet(df: DataFrame, out_dir: str,
                         checkpoint_dir: str, mode: str = "append"):
    """Sink with exactly-once file semantics via the streaming
    checkpoint (offsets + commit log — the streaming twin of
    plans.pipeline's batch lineage table)."""
    return (df.writeStream.outputMode(mode)
            .option("checkpointLocation", checkpoint_dir)
            .format("parquet").option("path", out_dir))


def dedup_epoch(bdf: DataFrame, batch_id: int, store_dir: str,
                verdict_dir: str, **dedup_kwargs) -> None:
    """One IDEMPOTENT epoch of incremental dedup: the batch's
    signatures probe the persisted store (plus the batch itself),
    verdicts land in a ``batch_id=<n>`` partition of ``verdict_dir``,
    and the batch's signatures land in an ``_epoch=<n>`` partition of
    the store. Both writes use dynamic partition overwrite keyed by
    the batch id, so a REPLAYED epoch (foreachBatch is only
    at-least-once — a crash between the epoch's writes and the
    streaming checkpoint commit re-delivers the micro-batch) replaces
    its own partitions instead of double-appending. The recomputed
    verdicts are identical on replay even when the first attempt's
    sigs already reached the store: the keep rule is the pairwise
    smaller-key predicate and equal keys never collide (see
    :func:`dedup.dedup_incremental`)."""
    from html_parser_spark.operators.dedup import dedup_incremental

    verdicts = dedup_incremental(bdf.sparkSession, bdf, store_dir,
                                 epoch_tag=str(batch_id),
                                 **dedup_kwargs)
    (verdicts.withColumn("batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("batch_id").parquet(verdict_dir))


def dedup_incremental_sink(stream_df: DataFrame, store_dir: str,
                           verdict_dir: str, **dedup_kwargs):
    """Streaming twin of :func:`dedup.dedup_incremental` via the
    established foreachBatch pattern: each micro-batch is one EPOCH
    (:func:`dedup_epoch`). foreachBatch gives at-least-once delivery,
    not exactly-once — end-to-end idempotence comes from the epoch's
    own writes: both the signature-store append and the verdicts are
    dynamic-partition overwrites keyed by the batch id, so a restart
    that replays a micro-batch rewrites that epoch's partitions
    in place instead of duplicating them.

    Same caveat as the batch operator: the store only knows what
    arrived BEFORE a batch, so stream order defines "earlier". When
    batch keys arrive in key order (the natural "new snapshot has
    newer ids" shape) the cumulative verdicts equal a from-scratch
    run over everything seen — the equality the batch operator's
    driver oracle proves.

    Returns the DataStreamWriter (caller adds checkpoint/trigger and
    starts it).
    """

    def _epoch(bdf, batch_id: int) -> None:
        dedup_epoch(bdf, batch_id, store_dir, verdict_dir,
                    **dedup_kwargs)

    return stream_df.writeStream.foreachBatch(_epoch)
