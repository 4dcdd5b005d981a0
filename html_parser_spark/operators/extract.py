"""Spark operators: fused tokenize+extract over the transcripts table.

The flagship pipeline (SURVEY.md §7 Phase 1): one Arrow map stage
(`mapInArrow`) fuses tokenize -> filter -> assemble per turn, so
extraction is embarrassingly parallel and **shuffle-free** -- each
turn is one complete document, no cross-row state.  Catalyst prunes
the scan to the key + text columns (we pre-select them so the
parquet/Iceberg reader never materializes the rest).

At 100 TB the cost model is: scan (columnar, pruned) -> Arrow batches
to the Python worker -> per-document kernel -> Arrow back.  The cost
is interpretation, not transfer, so ``extract_text``'s kernel is
``assemble.main_content_scanner``: one pass of C-level ``str.find``
from text run to tag, a memo from each exact tag string to its text
contribution, no event rows. A turn with markup outside the scan's
subset (declarations, processing instructions, EOF recovery...) takes
the tokenizer FSM -> ``document_text`` path, which every other
operator here runs. On the wrapped-document template the scan costs
39-60 µs per turn against 97-141 µs for tokenize + document_text +
collapse_ws (one core of a shared 4-vCPU host, 4,000 turns, best of
7; the range is host load).

Every operator here builds its output as pyarrow RecordBatches
directly — no pandas detour (5x cheaper for map/list columns,
measured).  No shuffle, no skew sensitivity (a hot conv_id just means
more rows, all independent); ``plans.pipeline`` adds salted
repartitioning only when a downstream stage needs conv-level grouping
or balanced output files.

Each Python task also pays a fixed cost before its first row, beside
transfer and interpretation. pyspark 4.1's worker calls
``importlib.invalidate_caches()`` on every task, and on Python 3.11
and 3.12 that makes each ``zipimporter`` on the worker's path re-read
its archive's directory (13 importers on ``pyspark.zip``'s 1,328
entries, 2 on the spark-core jar's 5,359): 0.14-0.43 s per task at
``local[4]``. Importing this package installs stat-checked importers
(``html_parser_spark.zipcache``), so a worker pays that re-read once,
on its first task, and 0.1-0.2 ms on each later one. The rest of the
per-task cost is not zero, so ``extract_text`` still sizes its map by
input bytes (``_size_tasks``): Spark's file-split rule,
``max(defaultParallelism, ceil(input bytes /
spark.sql.files.maxPartitionBytes))``, applied by coalesce to an input
that is already partitioned. A cached input of 16 small partitions on
4 cores then runs as one wave of 4 tasks; a large scan keeps about its
own split count.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from html_parser_spark.config import EXTRACT_CONFIG, ParserConfig
from html_parser_spark.functions import assemble
from html_parser_spark.functions.tagset import DEFAULT_TEXTIFY
from html_parser_spark.functions.tokenizer import tokenize

#: key columns carried through every per-turn operator
KEY_COLS = ("conv_id", "turn_idx")


def _to_arrow_type(dt):
    """Spark -> Arrow physical type for the field types used here."""
    import pyarrow as pa

    if isinstance(dt, T.StringType):
        return pa.string()
    if isinstance(dt, T.IntegerType):
        return pa.int32()
    if isinstance(dt, T.LongType):
        return pa.int64()
    if isinstance(dt, T.DoubleType):
        return pa.float64()
    if isinstance(dt, T.BooleanType):
        return pa.bool_()
    if isinstance(dt, T.MapType):
        return pa.map_(_to_arrow_type(dt.keyType),
                       _to_arrow_type(dt.valueType))
    if isinstance(dt, T.ArrayType):
        return pa.list_(_to_arrow_type(dt.elementType))
    raise TypeError(f"unmapped Spark type: {dt}")


def _pa_arr(vals, typ):
    """pa.array with a lone-surrogate fallback: the reference's
    byte-granular entity decoder can emit strings that are not valid
    Unicode (bug-for-bug surrogate chop, entities.py); Arrow rejects
    them with UnicodeEncodeError, which would kill the whole task for
    one pathological document. The happy path pays nothing; on
    failure each offending string degrades to U+FFFD replacement
    (the only representable form in parquet/Arrow anyway).
    """
    import pyarrow as pa

    def fix(v):
        if isinstance(v, str):
            try:
                v.encode("utf-8")
                return v
            except UnicodeEncodeError:
                return (v.encode("utf-16", "surrogatepass")
                        .decode("utf-16", "replace"))
        if isinstance(v, list):
            return [fix(x) for x in v]
        if isinstance(v, dict):
            return {fix(k): fix(x) for k, x in v.items()}
        return v

    try:
        return pa.array(vals, typ)
    except UnicodeEncodeError:
        return pa.array([fix(v) for v in vals], typ)


def _fanout_arrow(df: DataFrame, text_col: str, schema: T.StructType,
                  per_turn) -> DataFrame:
    """Generic per-turn fan-out operator: ``per_turn(doc)`` yields one
    tuple per output row holding the columns after (conv_id,
    turn_idx). One Arrow stage, shuffle-free, RecordBatches out."""
    names = schema.fieldNames()
    val_fields = [(f.name, _to_arrow_type(f.dataType))
                  for f in schema.fields[2:]]

    def run(batches):
        import pyarrow as pa

        for rb in batches:
            cols: dict[str, list] = {n: [] for n in names}
            a_conv = cols["conv_id"].append
            a_turn = cols["turn_idx"].append
            appends = [cols[n].append for n, _ in val_fields]
            for conv_id, turn_idx, doc in zip(
                rb.column("conv_id").to_pylist(),
                rb.column("turn_idx").to_pylist(),
                rb.column(text_col).to_pylist(),
            ):
                doc = doc if isinstance(doc, str) else ""
                for tup in per_turn(doc):
                    a_conv(conv_id)
                    a_turn(turn_idx)
                    for ap, v in zip(appends, tup):
                        ap(v)
            if cols["conv_id"]:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(cols["conv_id"], pa.string()),
                     pa.array(cols["turn_idx"], pa.int32())]
                    + [_pa_arr(cols[n], typ) for n, typ in val_fields],
                    names=names)

    return df.select(F.col("conv_id").cast("string"),
                     F.col("turn_idx").cast("int"),
                     text_col).mapInArrow(run, schema)

EXTRACT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("extracted_text", T.StringType()),
    T.StructField("trimmed_text", T.StringType()),
    T.StructField("n_events", T.IntegerType()),
    T.StructField("n_chars_in", T.IntegerType()),
])


def _size_tasks(df: DataFrame) -> DataFrame:
    """Coalesce ``df`` to Spark's file-split task count,
    ``max(defaultParallelism, ceil(input bytes / maxPartitionBytes))``,
    where the input bytes are the summed size estimates of the
    optimized plan's leaves (scans, cached relations). Every Python
    task pays a fixed worker cost before its first row (module
    docstring), so an over-partitioned input should run as one wave
    of tasks. With the zip re-read paid once per worker, dropping
    this still makes the ``extract`` benchmark's job slower: 1.53 s
    against 1.35 s median over 8 jobs at ``local[4]``. Coalesce never
    adds partitions or a shuffle. Streaming input, a leaf with no size
    estimate (``spark.sql.defaultSizeInBytes``, Long.MaxValue unless
    set) and an input the caller already coalesced (the optimizer
    would merge that coalesce into ours) pass through.
    """
    if df.isStreaming:
        return df
    plan = df._jdf.queryExecution().optimizedPlan()
    node = plan
    while node.nodeName() in ("Project", "Filter"):
        node = node.child()
    if node.nodeName() == "Repartition" and not node.shuffle():
        return df
    spark = df.sparkSession
    conf = spark._jsparkSession.sessionState().conf()
    size = 0
    leaves = plan.collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next().stats().sizeInBytes()
        if leaf >= conf.defaultSizeInBytes():
            return df
        size += leaf
    return df.coalesce(max(spark.sparkContext.defaultParallelism,
                           -(-size // conf.filesMaxPartitionBytes())))


def extract_text(df: DataFrame, cfg: ParserConfig = EXTRACT_CONFIG,
                 textify: dict[str, str] = DEFAULT_TEXTIFY,
                 text_col: str = "text") -> DataFrame:
    """transcripts -> (conv_id, turn_idx, extracted_text, trimmed_text,
    n_events, n_chars_in): TokeParser-style main-content assembly
    (SURVEY.md Q6/Q7) fused with the tokenizer in one Arrow stage.

    Arrow-native in and out (mapInArrow) — the flagship stage skips
    the pandas detour entirely. Each task builds one
    ``assemble.main_content_scanner`` for ``(cfg, textify)``; turns it
    rejects take the tokenize -> document_text path.
    """

    def run(batches):
        import pyarrow as pa

        scan = assemble.main_content_scanner(cfg, textify)
        for rb in batches:
            docs = rb.column(text_col).to_pylist()
            ex = []
            tr = []
            nev = []
            nch = []
            for doc in docs:
                doc = doc if isinstance(doc, str) else ""
                txt, trimmed, n_ev = assemble.extract_document(
                    doc, cfg, textify, scan)
                ex.append(txt)
                tr.append(trimmed)
                nev.append(n_ev)
                nch.append(len(doc))
            yield pa.RecordBatch.from_arrays(
                [rb.column("conv_id"), rb.column("turn_idx"),
                 _pa_arr(ex, pa.string()), _pa_arr(tr, pa.string()),
                 pa.array(nev, pa.int32()), pa.array(nch, pa.int32())],
                names=EXTRACT_SCHEMA.fieldNames())

    cols = [F.col("conv_id").cast("string"),
            F.col("turn_idx").cast("int"),
            F.col(text_col)]
    return _size_tasks(df.select(*cols)).mapInArrow(run, EXTRACT_SCHEMA)


EVENTS_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("seq", T.IntegerType()),
    T.StructField("event", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("dtext", T.StringType()),
    T.StructField("tagname", T.StringType()),
    T.StructField("tag", T.StringType()),
    T.StructField("token0", T.StringType()),
    T.StructField("attrs", T.MapType(T.StringType(), T.StringType())),
    T.StructField("attrseq", T.ArrayType(T.StringType())),
    T.StructField("tokens", T.ArrayType(T.StringType())),
    T.StructField("tokenpos", T.ArrayType(T.IntegerType())),
    T.StructField("is_cdata", T.BooleanType()),
    T.StructField("offset", T.IntegerType()),
    T.StructField("offset_end", T.IntegerType()),
    T.StructField("length", T.IntegerType()),
    T.StructField("line", T.IntegerType()),
    T.StructField("column", T.IntegerType()),
    T.StructField("skipped_text", T.StringType()),
])


#: the projectable event fields — the engine's analogue of the
#: reference's compiled argspec names (`hparser.c:62-86`); the
#: materialization itself is the fused loop in events() below.
EVENT_FIELDS = tuple(
    f for f in EVENTS_SCHEMA.fieldNames()
    if f not in ("conv_id", "turn_idx", "seq"))


_ARROW_TYPES = {f.name: _to_arrow_type(f.dataType)
                for f in EVENTS_SCHEMA}


def events(df: DataFrame, cfg: ParserConfig = ParserConfig(),
           text_col: str = "text",
           fields: tuple[str, ...] | None = None) -> DataFrame:
    """transcripts -> one row per tokenizer event (SURVEY.md §1.3).

    The per-turn event fan-out happens inside the Arrow batch (the UDF
    yields the exploded frame directly), so there is no separate
    explode/shuffle stage; ``seq`` is the in-turn ordinal, making
    ``(conv_id, turn_idx, seq)`` a stable total order.

    ``fields`` is the argspec (SURVEY.md P1): name only the event
    fields you need — unreferenced projections (attr maps, tokenpos
    arrays...) are never computed, mirroring the reference's compiled
    argspec and keeping the Arrow payload minimal. None = all fields.
    """
    key_fields = ["conv_id", "turn_idx", "seq"]
    sel = list(fields) if fields is not None else list(EVENT_FIELDS)
    for f in sel:
        if f not in EVENT_FIELDS:
            raise KeyError(f"unknown event field: {f!r}")
    schema = T.StructType(
        [EVENTS_SCHEMA[k] for k in key_fields]
        + [EVENTS_SCHEMA[f] for f in sel])
    pos_fields = {"offset", "offset_end", "line", "column"} & set(sel)
    if cfg.track_positions and not pos_fields:
        # lazy position tracking (SURVEY.md O5): nothing selected
        # reads positions, so skip the per-event line/column upkeep
        cfg = cfg.with_(track_positions=False)
    elif not cfg.track_positions and pos_fields:
        # mirror the reference's lazy ENABLE (hparser.c:724-727): an
        # argspec asking for positions turns tracking on even if the
        # preset (e.g. EXTRACT_CONFIG) switched it off
        cfg = cfg.with_(track_positions=True)
    if "skipped_text" in sel and not cfg.track_skipped_text:
        # same lazy-enable mirror for the skipped-text accumulator —
        # without it the selected column would be silently all-null
        cfg = cfg.with_(track_skipped_text=True)

    arrow_fields = [(f.name, _ARROW_TYPES[f.name]) for f in schema]

    def run(batches):
        # One fused loop materializes all selected fields per event:
        # raw text / token0 / attrs are computed at most once each and
        # shared between the fields that need them — no per-field
        # dispatch in the hot path (this loop runs once per event of
        # every document in the corpus). Arrow-native in AND out
        # (mapInArrow): building pa.Arrays from the lists directly is
        # ~5x cheaper than routing the map/list columns through a
        # pandas DataFrame (measured 0.8 vs 4.3 us/event).
        import pyarrow as pa

        from html_parser_spark.functions import project as prj
        from html_parser_spark.functions.entities import decode_entities
        from html_parser_spark.functions.project import _TAG_PREFIX
        from html_parser_spark.functions.tokenizer import ascii_lower

        need = set(sel)
        w_event = "event" in need
        w_text = "text" in need
        w_dtext = "dtext" in need
        w_tagname = "tagname" in need
        w_tag = "tag" in need
        w_token0 = "token0" in need
        w_name = w_tagname or w_tag or w_token0
        w_attrs = "attrs" in need
        w_attrseq = "attrseq" in need
        w_tokens = "tokens" in need
        w_tokenpos = "tokenpos" in need
        w_cdata = "is_cdata" in need
        w_off = "offset" in need
        w_offend = "offset_end" in need
        w_len = "length" in need
        w_line = "line" in need
        w_col = "column" in need
        w_skip = "skipped_text" in need
        need_txt = w_text or w_dtext or w_len or w_offend
        lower = not cfg.is_case_sensitive

        for rb in batches:
            cols: dict[str, list] = {k: [] for k in schema.fieldNames()}
            a_conv = cols["conv_id"].append
            a_turn = cols["turn_idx"].append
            a_seq = cols["seq"].append
            # the attrs map column is built flat (offsets + key/value
            # runs -> MapArray.from_arrays): ~13x cheaper than
            # converting per-event dicts, and attrs is the costliest
            # column of the full projection (measured)
            attr_offs: list[int | None] = []
            attr_keys: list[str] = []
            attr_vals: list[str] = []
            ap = {k: cols[k].append for k in sel}
            a_event = ap.get("event")
            a_text = ap.get("text")
            a_dtext = ap.get("dtext")
            a_tagname = ap.get("tagname")
            a_tag = ap.get("tag")
            a_token0 = ap.get("token0")
            a_attrseq = ap.get("attrseq")
            a_tokens = ap.get("tokens")
            a_tokenpos = ap.get("tokenpos")
            a_cdata = ap.get("is_cdata")
            a_off = ap.get("offset")
            a_offend = ap.get("offset_end")
            a_len = ap.get("length")
            a_line = ap.get("line")
            a_col = ap.get("column")
            a_skip = ap.get("skipped_text")
            for conv_id, turn_idx, doc in zip(
                rb.column("conv_id").to_pylist(),
                rb.column("turn_idx").to_pylist(),
                rb.column(text_col).to_pylist(),
            ):
                doc = doc if isinstance(doc, str) else ""
                for seq, row in enumerate(tokenize(doc, cfg)):
                    ev = row[0]
                    toks = row[3]
                    a_conv(conv_id)
                    a_turn(turn_idx)
                    a_seq(seq)
                    if need_txt:
                        txt = (row[9] if row[9] is not None
                               else doc[row[1]:row[2]])
                    if w_event:
                        a_event(ev)
                    if w_text:
                        a_text(txt)
                    if w_dtext:
                        if ev != "text":
                            a_dtext(None)
                        elif row[4]:  # is_cdata: no decode
                            a_dtext(txt)
                        else:
                            a_dtext(decode_entities(txt, True))
                    if w_name:
                        if toks:
                            t0 = toks[0]
                            t0s = (t0 if isinstance(t0, str)
                                   else doc[t0[0]:t0[1]])
                        else:
                            t0s = None
                        if w_token0:
                            a_token0(t0s)
                        if w_tagname or w_tag:
                            tn = (ascii_lower(t0s)
                                  if t0s is not None and lower else t0s)
                            if w_tagname:
                                a_tagname(tn)
                            if w_tag:
                                a_tag(None if tn is None
                                      else _TAG_PREFIX.get(ev, "") + tn)
                    if w_attrs or w_attrseq:
                        a = (prj.attrs(doc, row, cfg)
                             if toks and ev == "start" else None)
                        if w_attrs:
                            if a is None:
                                attr_offs.append(None)
                            else:
                                attr_offs.append(len(attr_keys))
                                for _k, _v in a[0].items():
                                    attr_keys.append(_k)
                                    attr_vals.append(_v)
                        if w_attrseq:
                            a_attrseq(a[1] if a else None)
                    if w_tokens:
                        a_tokens(prj.token_strings(doc, row, cfg)
                                 if toks else None)
                    if w_tokenpos:
                        a_tokenpos(prj.tokenpos(doc, row)
                                   if toks else None)
                    if w_cdata:
                        a_cdata(row[4] if ev == "text" else None)
                    if w_off:
                        a_off(row[5])
                    if w_offend:
                        a_offend(row[5] + len(txt))
                    if w_len:
                        a_len(len(txt))
                    if w_line:
                        a_line(row[6])
                    if w_col:
                        a_col(row[7])
                    if w_skip:
                        a_skip(row[8])
            if cols["conv_id"]:
                if w_attrs:
                    attr_offs.append(len(attr_keys))
                arrays = []
                for name, typ in arrow_fields:
                    if name == "attrs" and w_attrs:
                        arrays.append(pa.MapArray.from_arrays(
                            pa.array(attr_offs, pa.int32()),
                            _pa_arr(attr_keys, pa.string()),
                            _pa_arr(attr_vals, pa.string())))
                    else:
                        arrays.append(_pa_arr(cols[name], typ))
                yield pa.RecordBatch.from_arrays(
                    arrays, names=[name for name, _ in arrow_fields])

    return df.select(F.col("conv_id").cast("string"),
                     F.col("turn_idx").cast("int"),
                     text_col).mapInArrow(run, schema)


HEADERS_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("header_seq", T.IntegerType()),
    T.StructField("header_name", T.StringType()),
    T.StructField("header_value", T.StringType()),
])

_HEAD_CFG = ParserConfig(ignore_elements=("script", "style"))


def head_headers(df: DataFrame, cfg: ParserConfig = _HEAD_CFG,
                 text_col: str = "text") -> DataFrame:
    """HeadParser-equivalent metadata capture (SURVEY.md Q1)."""

    def per_turn(doc):
        rows = tokenize(doc, cfg)
        for i, (name, value) in enumerate(
                assemble.head_headers(doc, rows, cfg)):
            yield i, name, value

    return _fanout_arrow(df, text_col, HEADERS_SCHEMA, per_turn)


LINKS_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("link_seq", T.IntegerType()),
    T.StructField("tagname", T.StringType()),
    T.StructField("attr_name", T.StringType()),
    T.StructField("url", T.StringType()),
])


def links(df: DataFrame, cfg: ParserConfig = ParserConfig(),
          base: str | None = None, text_col: str = "text") -> DataFrame:
    """LinkExtor-equivalent link extraction (SURVEY.md Q2)."""

    def per_turn(doc):
        return assemble.extract_links(doc, tokenize(doc, cfg), cfg,
                                      base)

    return _fanout_arrow(df, text_col, LINKS_SCHEMA, per_turn)


ANCHORS_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("anchor_seq", T.IntegerType()),
    T.StructField("href", T.StringType()),
    T.StructField("anchor_text", T.StringType()),
])


def anchors(df: DataFrame, cfg: ParserConfig = ParserConfig(),
            text_col: str = "text") -> DataFrame:
    """eg/hanchors: (anchor_seq, href, trimmed anchor text) per <a>."""

    def per_turn(doc):
        return assemble.anchors(doc, tokenize(doc, cfg), cfg)

    return _fanout_arrow(df, text_col, ANCHORS_SCHEMA, per_turn)


PHRASE_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("phrase", T.StringType()),
])


def phrase_text(df: DataFrame, cfg: ParserConfig = ParserConfig(),
                textify: dict[str, str] = DEFAULT_TEXTIFY,
                text_col: str = "text") -> DataFrame:
    """TokeParser::get_phrase per turn (SURVEY.md Q8;
    `/root/reference/lib/HTML/TokeParser.pm:123-150`): whitespace-
    collapsed text up to the first non-phrase-markup tag."""
    if cfg.track_positions:
        # get_phrase never reads positions — lazy disable (O5)
        cfg = cfg.with_(track_positions=False)

    def per_turn(doc):
        yield (assemble.get_phrase(doc, tokenize(doc, cfg), cfg,
                                   textify)[0],)

    return _fanout_arrow(df, text_col, PHRASE_SCHEMA, per_turn)


REWRITE_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("doc", T.StringType()),
])


def _per_turn_doc(df: DataFrame, fn, text_col: str) -> DataFrame:
    return _fanout_arrow(df, text_col, REWRITE_SCHEMA,
                         lambda doc: ((fn(doc),),))


def rewrite_links(df: DataFrame, rewrite,
                  cfg: ParserConfig = ParserConfig(),
                  text_col: str = "text") -> DataFrame:
    """eg/hrefsub: tokenpos-surgery URL rewriting; bytes outside the
    rewritten attr values are untouched."""
    return _per_turn_doc(
        df, lambda d: assemble.rewrite_links(d, tokenize(d, cfg), cfg,
                                             rewrite), text_col)


def strip_markup(df: DataFrame, cfg: ParserConfig = ParserConfig(),
                 strip_tags=assemble.STRIP_TAGS,
                 strip_elements=("style", "script"),
                 text_col: str = "text") -> DataFrame:
    """eg/hstrip: drop styling tags + style/script subtrees, keep the
    rest byte-identical (Filter.pm identity over filtered events)."""
    return _per_turn_doc(
        df, lambda d: assemble.strip_markup(d, None, cfg, strip_tags,
                                            strip_elements), text_col)


def bom_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Encoding-sniff warnings (SURVEY.md P12; `hparser.c:1839-1870`,
    `util.c:276-310`): per-turn flags for BOMs and
    probably-undecoded-UTF-8, as pure JVM expressions — at corpus
    scale these feed the metrics table, not per-row warnings."""
    t = F.col(text_col)
    # probable undecoded UTF-8: a Latin-1-decoded lead byte C2-F4
    # followed by a continuation byte 80-BF (util.c:289-302 heuristic)
    utf8ish = t.rlike("[\u00C2-\u00F4][\u0080-\u00BF]")
    bom_utf8 = t.startswith("\ufeff") | t.startswith("\u00ef\u00bb\u00bf")
    return df.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        bom_utf8.alias("utf8_bom"),
        (t.startswith("\u00ff\u00fe") | t.startswith("\u00fe\u00ff"))
        .alias("utf16_bom"),
        (utf8ish & ~bom_utf8).alias("maybe_undecoded_utf8"),
    )


#: entities whose decode is a plain substring swap when they appear
#: in strict '&name;' form — the overwhelmingly common web cases;
#: amp is swapped LAST so '&amp;lt;' -> '&lt;' (one decode pass, the
#: reference's semantics). Case-sensitive on purpose: '&AMP;' etc.
#: fall through to the full scanner.
_FAST_ENTS = (("lt", "<"), ("gt", ">"), ("quot", '"'),
              ("apos", "'"), ("nbsp", " "))
#: a row is fast-decodable iff every '&' starts one of those strict
#: forms — anything else (no ';', numeric, exotic names, prefix
#: forms) routes to the full scanner, so the tier is conservative
_FAST_GATE = r"&(?!(?:amp|lt|gt|quot|apos|nbsp);)"


def decode_entities_col(col, expand_prefix: bool = False):
    """Vectorized entity decode as a scalar pandas UDF (SURVEY.md P5).

    Three tiers inside one Arrow batch, cheapest first: rows without
    '&' pass through untouched (the SURVEY.md O10 pre-mask); rows
    whose every '&' is a strict common entity (`_FAST_GATE`) decode
    via C-speed vectorized substring swaps; only the remainder runs
    the per-row reference-exact scanner. The gate is exact, not
    heuristic — on gated rows the swap chain and the scanner agree by
    construction (the only '&'s present are the five strict forms
    plus '&amp;', applied last), so tiering never changes a result,
    it only moves rows off the slow path.
    """
    from html_parser_spark.functions.entities import decode_entities

    @F.pandas_udf(T.StringType())
    def _decode(s: pd.Series) -> pd.Series:
        mask = s.str.contains("&", regex=False, na=False)
        if not mask.any():
            return s
        out = s.copy()
        amp = s[mask]
        easy = ~amp.str.contains(_FAST_GATE, regex=True, na=True)
        if easy.any():
            fast = amp[easy]
            for name, ch in _FAST_ENTS:
                fast = fast.str.replace(f"&{name};", ch, regex=False)
            out[fast.index] = fast.str.replace("&amp;", "&",
                                               regex=False)
        hard = amp[~easy]
        if len(hard):
            def dec(x):
                r = decode_entities(x, expand_prefix)
                try:
                    r.encode("utf-8")
                    return r
                except UnicodeEncodeError:  # bug-for-bug surrogate
                    return (r.encode("utf-16", "surrogatepass")
                            .decode("utf-16", "replace"))
            out[hard.index] = hard.map(dec)
        return out

    return _decode(col)


#: a row is fast-ENCODABLE iff it is printable-ASCII + \n\r\t: inside
#: that charset the default unsafe set (Entities.pm:462) collapses to
#: exactly & < > " ' — so a vectorized swap chain (amp FIRST, so the
#: '&'s introduced by the other swaps are never re-encoded) agrees
#: with the reference encoder by construction. Anything with controls
#: or non-ASCII routes to the per-row encoder (named vs numeric
#: lookup per char).
_FAST_ENC_GATE = "[^\\n\\r\\t -~]"


def encode_entities_col(col, unsafe_chars: str | None = None):
    """Vectorized entity encode (SURVEY.md P7).

    Same three-tier shape as :func:`decode_entities_col`, cheapest
    first within one Arrow batch: rows with NO default-unsafe char
    pass through untouched; printable-ASCII rows (`_FAST_ENC_GATE`
    misses) encode via C-speed vectorized swaps of the only five
    unsafe chars that charset admits; the remainder (controls,
    non-ASCII — each needing a named-vs-numeric table lookup) runs
    the per-row reference encoder. The gate is exact, not heuristic,
    so tiering never changes a result. A custom ``unsafe_chars``
    class redefines what "unsafe" means, so it bypasses the tiers
    entirely (that path only serves explicit recipe calls, never the
    hot default).
    """
    from html_parser_spark.functions.entities import (
        _DEFAULT_UNSAFE_RE, _num_entity, CHAR2ENTITY, encode_entities)

    @F.pandas_udf(T.StringType())
    def _encode(s: pd.Series) -> pd.Series:
        if unsafe_chars is not None:
            return s.map(lambda x: encode_entities(x, unsafe_chars)
                         if isinstance(x, str) else x)
        mask = s.str.contains(_DEFAULT_UNSAFE_RE.pattern, regex=True,
                              na=False)
        if not mask.any():
            return s
        out = s.copy()
        uns = s[mask]
        easy = ~uns.str.contains(_FAST_ENC_GATE, regex=True, na=True)
        if easy.any():
            fast = uns[easy]
            for ch in ("&", "<", ">", '"', "'"):
                fast = fast.str.replace(
                    ch, CHAR2ENTITY.get(ch) or _num_entity(ch),
                    regex=False)
            out[fast.index] = fast
        hard = uns[~easy]
        if len(hard):
            out[hard.index] = hard.map(
                lambda x: encode_entities(x, None))
        return out

    return _encode(col)


def encode_entities_numeric_col(col, unsafe_chars: str | None = None):
    """Always-numeric entity encode (SURVEY.md P8;
    `/root/reference/lib/HTML/Entities.pm:467-470`)."""
    from html_parser_spark.functions.entities import (
        encode_entities_numeric)

    @F.pandas_udf(T.StringType())
    def _encode(s: pd.Series) -> pd.Series:
        return s.map(lambda x: encode_entities_numeric(x, unsafe_chars)
                     if isinstance(x, str) else x)

    return _encode(col)
