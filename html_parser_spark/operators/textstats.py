"""Text-analysis operators for large-scale training-data pipelines.

All JVM-side (`pyspark.sql.functions` only — no Python UDFs): these
run inside whole-stage codegen, so at 100 TB the cost is one columnar
scan + narrow projections; no shuffle, no Python worker round-trip.

These complement the HTML extraction surface (SURVEY.md §2.5): in a
training-data pipeline the extracted text flows straight into
language-ID, quality scoring, token counting and fingerprinting
without leaving the JVM.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: regex used for both Spark and the DuckDB oracle — BPE-ish token
#: classes: alpha runs, digit runs, single punctuation marks.
TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]"

#: tiny English stopword list for the n-gram/stopword language
#: heuristic (public knowledge; any fixed list works — the point is a
#: deterministic, shuffle-free classifier).
EN_STOPWORDS = (
    "the", "a", "of", "and", "to", "in", "is", "it", "that", "for",
    "on", "with", "as", "was", "at", "by", "an", "be", "this", "are",
)


def words_col(text: Column) -> Column:
    """Whitespace tokenization shared by every operator here.

    CJK caveat: zh/ja text is not whitespace-delimited, so every
    word-based stat downstream (n_words, stopword_ratio, the Gopher
    word-count rules) sees one giant "word" per run of CJK text.
    That is the documented scope of this tokenizer — language
    routing should use :func:`lang_id` (which is char-based and does
    cover CJK) and send non-whitespace-delimited languages to a
    char-level pipeline rather than through these word stats."""
    return F.split(F.trim(text), r"\s+")


def token_stats(df: DataFrame, key_cols: list[str],
                text_col: str = "text") -> DataFrame:
    """Per-row token counting: chars, whitespace words, regex tokens.

    Counterpart of the reference's text-event accounting
    (`/root/reference/hparser.c:1631-1679` emits text spans; here we
    measure them) extended with training-pipeline token counts.
    """
    t = F.col(text_col)
    w = words_col(t)
    return df.select(
        *key_cols,
        F.length(t).alias("n_chars"),
        F.size(w).alias("n_words"),
        F.regexp_count(t, F.lit(TOKEN_RE)).alias("n_tokens"),
    )


def ws_case_canon(text) -> "F.Column":
    """Whitespace-collapse + trim + lowercase — the shared canonical
    text form (fingerprint key; normalize_text adds Unicode NFC on
    top). One definition so the dedup key and the canonicalizer
    cannot silently diverge."""
    return F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))


def n_stopwords(words) -> "F.Column":
    """Count of EN_STOPWORDS members in a words array — shared by
    quality_score and gopher_quality so the stopword dimension is one
    definition."""
    stop_arr = F.array(*[F.lit(x) for x in EN_STOPWORDS])
    return F.size(F.filter(words,
                           lambda x: F.array_contains(stop_arr, x)))


def quality_score(df: DataFrame, key_cols: list[str],
                  text_col: str = "text") -> DataFrame:
    """Heuristic document-quality features: length, word stats, alpha
    ratio, stopword ratio — the standard cheap pre-filters applied
    before expensive dedup/model scoring at corpus scale."""
    # NULL text = the empty doc: every feature stays DEFINED (no
    # NULLs propagate out of aggregates). Note Spark's split("")
    # yields [""], so an empty/NULL doc reports n_words=1 (one empty
    # word), n_chars=0 — filter empty docs on n_chars == 0, not
    # n_words == 0
    t = F.coalesce(F.col(text_col), F.lit(""))
    w = words_col(t)
    n_chars = F.length(t)
    n_words = F.size(w)
    n_alpha = F.length(F.regexp_replace(t, "[^A-Za-z]", ""))
    n_stop = n_stopwords(w)
    alpha_ratio = F.when(
        n_chars > 0, F.round(n_alpha.cast("double") / n_chars, 3)) \
        .otherwise(F.lit(0.0))
    return df.select(
        *key_cols,
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        F.round(n_chars.cast("double") / n_words, 3).alias("avg_word_len"),
        alpha_ratio.alias("alpha_ratio"),
        F.round(n_stop.cast("double") / n_words, 3).alias("stopword_ratio"),
    )


#: char-trigram language profiles (Cavnar & Trenkle 1994 style:
#: a language is recognized by its most frequent character n-grams —
#: here the top function-word trigrams per language, public
#: linguistic knowledge, stored as module data like the entity
#: tables). Dict order is the deterministic tie-break order.
LANG_TRIGRAMS: dict[str, tuple[str, ...]] = {
    "en": ("the", " th", "he ", "and", " an", "nd ", " of", "of ",
           " to", "to "),
    "fr": ("les", " le", "le ", " la", " et", "et ", " de", "de ",
           " je", "je ", "ais", "ous", "eur", "ont"),
    "de": ("der", "er ", "die", " di", "ie ", "und", " un", "ein",
           "ich", "sch", "ung", "cht"),
    "es": ("el ", " el", "los", " lo", "que", " qu", "ue ", " la",
           "la ", "ndo", "ado", " y ", "ar ", "os "),
    "it": (" il", "il ", "che", " ch", "gli", " gl", "e e", " so",
           "no ", "ono", "ell"),
    "pt": (" do", "do ", " da", "da ", "ao ", " na", "na ", "est",
           " es", "nte", "em ", " em"),
    "nl": ("de ", " de", "het", " he", "van", " va", "een", " ee",
           "ij ", "zij", " zi", "en "),
    # CJK profiles: the counting is char-based already, so covering
    # non-whitespace-delimited languages is pure profile data — the
    # natural gram unit is the bigram (function-word particles /
    # pronouns / copulas; public linguistic knowledge).
    "zh": ("我们", "他们", "这个", "什么", "没有", "一个", "是一",
           "的一"),
    "ja": ("です", "ます", "した", "いる", "ある", "この", "それ",
           "して", "という"),
    "ko": ("습니다", "입니다", "있는", "하는", "하고", "에서",
           "까지"),
}

#: codepoint-range fallback for CJK text that matches no profile
#: gram (e.g. classical zh, names-only ja): literal char-class
#: ranges so the same pattern runs under Java regex (Spark) and RE2
#: (DuckDB oracle). Order matters: kana is ja-only, hangul is
#: ko-only, Han is shared (kanji/hanja) so it is checked last.
CJK_SCRIPT_RANGES: tuple[tuple[str, str], ...] = (
    ("ja", "぀-ヿ"),      # U+3040-U+30FF hiragana + katakana
    ("ko", "가-힣"),      # U+AC00-U+D7A3 hangul syllables
    ("zh", "一-鿿"),      # U+4E00-U+9FFF CJK unified ideographs
)


def lang_id(df: DataFrame, key_cols: list[str],
            text_col: str = "text") -> DataFrame:
    """Char-gram-profile language ID over every ``LANG_TRIGRAMS``
    entry (currently 7 European languages on trigrams plus zh/ja/ko
    on bigrams), with a ``CJK_SCRIPT_RANGES`` codepoint fallback when
    no profile gram occurs, and 'other' when the fallback misses too.

    Per language: score = Σ_gram occurrences in the lowercased text,
    each count computed as (len - len(replace(t, g))) / len(g) —
    plain string ops, no regex in the scoring, so any engine
    reproduces it exactly. Prediction = argmax, ties broken by
    profile order; zero-score text falls back to script ranges
    (kana -> ja, hangul -> ko, Han -> zh — Han last because kanji /
    hanja share it). Pure JVM, one codegen stage, shuffle-free — at
    100 TB this is a narrow map over the text column, and extending
    coverage is adding profile rows, not changing the operator shape.

    Codegen-size note (a real 100 TB detail): the obvious
    per-language CASE-chain argmax duplicates every per-gram
    length/replace term once per language, and when a downstream
    filter on lang_pred is pushed through the projection Catalyst
    inlines the whole chain into the predicate — the generated method
    blows Janino's 64 KB limit and the ENTIRE stage falls back to
    interpreted eval (measured: 16 s for 108 rows in the composed
    curation plan). Even a flat scores := array(...) of per-gram
    terms still exceeds the limit once the plan inlines 2-3 copies.
    So the gram table itself is data: a literal array<array<string>>
    scanned with transform/aggregate higher-order functions. HOFs are
    CodegenFallback expressions — the generated code is a fixed-size
    call regardless of profile count, the surrounding stage stays
    whole-stage-compiled, and extending language coverage cannot
    regress the plan. Scoring itself runs interpreted, the right
    trade at any profile size. The scores array is materialized in
    its own projection (same two-projection split as
    :func:`gopher_quality`): CollapseProject refuses to merge because
    the non-cheap array is referenced several times, so the ~100 gram
    counts run ONCE per row and argmax/best read a plain attribute.

    Null text classifies as 'other' with score 0 (treated as empty).

    ``lang_margin`` is the curation-gate confidence: top1 − top2
    profile score. Routing on it ("margin < k -> send to a heavier
    classifier") beats hard-labeling uncertain rows; scores are exact
    integers by construction (each replace removes whole grams), so
    the margin is exact too. Zero-score text (the CJK-fallback path)
    has margin 0 naturally — all profile scores are 0 there.
    """
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
    # 1-based index of the FIRST max -> profile-order tie-break
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


def gopher_quality(df: DataFrame, key_cols: list[str],
                   text_col: str = "text",
                   min_words: int = 50, max_words: int = 100_000,
                   min_mean_word_len: float = 3.0,
                   max_mean_word_len: float = 10.0,
                   max_symbol_ratio: float = 0.1,
                   min_alpha_word_ratio: float = 0.8,
                   min_stopwords: int = 2) -> DataFrame:
    """Gopher-style document-quality filter bundle (the repetition
    tier lives in :func:`repetition_stats`): the word-count / mean-
    word-length / symbol-ratio / alpha-word-ratio / stopword-presence
    rules of Rae et al. 2021 ("Scaling Language Models: ... Gopher",
    §A1.1 — public rule set), each as its own boolean column plus the
    conjunction, so a curation run can audit which rule rejected a
    document.

    Pure JVM (one codegen stage over the split-words array), shuffle-
    free; thresholds are arguments, the defaults are the published
    ones.
    """
    t = F.col(text_col)
    w = words_col(t)
    n_words = F.size(w)
    mean_wl = F.round(
        F.aggregate(w, F.lit(0.0),
                    lambda acc, x: acc + F.length(x).cast("double"))
        / n_words, 3)
    # symbols-to-words: '#' and '...' occurrences per word (Gopher's
    # symbol set), counted via length arithmetic — no regex needed
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ell = (F.length(t)
             - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
    sym_ratio = F.round((n_hash + n_ell) / n_words, 3)
    alpha_ratio = F.round(
        F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]")))
        .cast("double") / n_words, 3)
    n_stop = n_stopwords(w)
    # TWO projections: features first, rules over the materialized
    # feature columns — referencing the named columns keeps each
    # feature expression in the plan once instead of 6x (the inlined
    # variant blows the generated processNext() past Janino's 64 KB
    # method limit and costs a codegen-fallback per batch)
    feats = df.select(
        *key_cols,
        n_words.cast("long").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        sym_ratio.alias("symbol_ratio"),
        alpha_ratio.alias("alpha_word_ratio"),
        n_stop.cast("long").alias("n_stopwords"),
    )
    checks = {
        "ok_word_count": (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words),
        "ok_mean_word_len": (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len),
        "ok_symbol_ratio": F.col("symbol_ratio") <= max_symbol_ratio,
        "ok_alpha_words":
            F.col("alpha_word_ratio") >= min_alpha_word_ratio,
        "ok_stopwords": F.col("n_stopwords") >= min_stopwords,
    }
    overall = None
    for c in checks.values():
        overall = c if overall is None else (overall & c)
    return feats.select(
        "*",
        *[v.alias(k) for k, v in checks.items()],
        overall.alias("passes_gopher"),
    )


#: default badword list for the C4 page filter. The published C4 run
#: used the public "List of Dirty, Naughty, Obscene..." list (~400
#: entries per language); embedding it verbatim adds nothing to the
#: engine, so the default is a small placeholder and the real list is
#: an argument.
C4_BADWORDS = ("badword1", "badword2")


def c4_quality(df: DataFrame, key_cols: list[str],
               text_col: str = "text",
               min_line_words: int = 5,
               min_sentences: int = 3,
               badwords: tuple = C4_BADWORDS) -> DataFrame:
    """C4-style page-quality filter bundle (Raffel et al. 2020,
    "Exploring the Limits of Transfer Learning with a Unified
    Text-to-Text Transformer", §2.2 — public rule set): line-level
    retention (>= `min_line_words` words AND terminal punctuation
    ``. ! ? "`` AND no "javascript"), then page-level rules over what
    survived — >= `min_sentences` sentences, no "lorem ipsum", no
    ``{``, no badword. A badword matches case-insensitively where no
    word character (Unicode ``\\w``) touches it, so ``badword1,`` and
    ``badword1.`` count and ``badword1x`` does not: C4's
    ``(?:\\W|^)word(?:\\W|$)`` rule. Each rule is its own boolean
    column plus the conjunction so a curation run can audit which rule
    rejected a page. C4's remaining rule (three-sentence-span dedup across
    pages) is the passage tier — :func:`~html_parser_spark.operators.
    dedup.passage_dedup` — not re-implemented here.

    Pure JVM: the line filter is one higher-order ``F.filter`` over
    ``split(text, '\\n')``, sentence counting is one regexp scan of
    the kept text, the page checks are substring/regex tests.
    One codegen stage, shuffle-free, no Python — at 100 TB this is a
    map-only pass like its Gopher sibling.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.split(t, "\n")
    kept = F.filter(
        lines,
        lambda ln: (F.size(F.split(F.trim(ln), r"\s+"))
                    >= min_line_words)
        & ln.rlike('[.!?"]$')
        & ~F.lower(ln).contains("javascript"))
    kept_text = F.array_join(kept, "\n")
    # (?U): Java's \w is ASCII-only without it
    bad_re = "(?U)(?<!\\w)(?:%s)(?!\\w)" % "|".join(
        re.escape(b.lower()) for b in badwords)
    feats = df.select(
        *key_cols,
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        F.regexp_count(kept_text, F.lit("[.!?]"))
        .cast("long").alias("n_sentences"),
        (~F.lower(t).contains("lorem ipsum")).alias("ok_no_lorem"),
        (~t.contains("{")).alias("ok_no_brace"),
        (~F.lower(t).rlike(bad_re) if badwords else F.lit(True))
        .alias("ok_no_badword"),
    )
    checks = {
        "ok_lines": F.col("n_kept_lines") >= 1,
        "ok_sentences": F.col("n_sentences") >= min_sentences,
        "ok_no_lorem": F.col("ok_no_lorem"),
        "ok_no_brace": F.col("ok_no_brace"),
        "ok_no_badword": F.col("ok_no_badword"),
    }
    overall = None
    for c in checks.values():
        overall = c if overall is None else (overall & c)
    return feats.select(
        *key_cols,
        "n_lines", "n_kept_lines", "n_sentences",
        *[v.alias(k) for k, v in checks.items()],
        overall.alias("passes_c4"),
    )


def normalize_text(df: DataFrame, key_cols: list[str],
                   text_col: str = "text",
                   form: str = "NFC") -> DataFrame:
    """Unicode normalization + whitespace/case canonicalization — the
    standard pre-dedup text canonicalizer.

    Unicode normalization has no JVM built-in, so this is one of the
    few legitimately Pandas-UDF-backed operators (Arrow-batched,
    SURVEY.md §2.6); the ws/case steps stay in JVM expressions.
    """
    import unicodedata

    @F.pandas_udf("string")
    def _norm(s):
        return s.map(lambda x: unicodedata.normalize(form, x)
                     if isinstance(x, str) else x)

    canon = ws_case_canon(_norm(F.col(text_col)))
    return df.select(*key_cols, canon.alias("norm_text"))


#: PII patterns, shared verbatim with the DuckDB oracle. RE2-safe
#: (no lookaround/backreference) so Java regex and DuckDB's RE2 agree
#: on every match; replacement order is part of the contract (email
#: first, else the phone pattern would eat digit runs inside one).
PII_PATTERNS = (
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("ipv4", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b",
     "<IP>"),
    ("phone", "\\+[0-9][0-9()\\- ]{6,}[0-9]", "<PHONE>"),
)


def redact_pii(df: DataFrame, key_cols: list[str],
               text_col: str = "text") -> DataFrame:
    """Training-pipeline PII scrub: replace emails / IPv4 addresses /
    international-format phone numbers with typed placeholders, plus
    per-row match counts for audit metrics.

    Pure JVM: a chain of ``regexp_replace`` inside one codegen stage;
    at 100 TB this is a narrow map over the text column, no shuffle,
    no Python. The patterns are deliberately conservative (precision
    over recall — a curation pass must not mangle clean text);
    deployments extend PII_PATTERNS per policy.
    """
    # counts are taken on the text as each pattern sees it (i.e. after
    # the earlier replacements), so n_<kind> equals the number of
    # substitutions actually performed — a phone-shaped digit run
    # inside an already-redacted email is not double-counted
    red = F.col(text_col)
    counts = []
    for name, rx, repl in PII_PATTERNS:
        counts.append(
            F.regexp_count(red, F.lit(rx))
            .alias(f"n_{name}"))
        red = F.regexp_replace(red, rx, repl)
    return df.select(*key_cols, *counts, red.alias("redacted"))


def repetition_stats(df: DataFrame, key_cols: list[str],
                     text_col: str = "text") -> DataFrame:
    """Repetition features for boilerplate/spam filtering (the cheap
    tier of the Gopher-style repetition rules): duplicate-line ratio
    and duplicate-word ratio, computed as 1 - distinct/total.

    Shuffle-free: ``array_distinct`` over per-row splits inside one
    codegen stage — unlike a (doc, line) groupBy formulation, nothing
    leaves the row, so the operator is skew-immune at corpus scale.
    """
    t = F.col(text_col)
    lines = F.split(t, "\n")
    words = words_col(t)
    dup_ratio = lambda arr: F.round(
        1.0 - F.size(F.array_distinct(arr)).cast("double") / F.size(arr),
        3)
    return df.select(
        *key_cols,
        F.size(lines).alias("n_lines"),
        dup_ratio(lines).alias("dup_line_ratio"),
        F.size(words).alias("n_words"),
        dup_ratio(words).alias("dup_word_ratio"),
    )


def host_counts(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Per-host link statistics over an extracted-links table:
    (host, n_links, n_unique_urls), host = authority component via
    the JVM ``parse_url`` (null for relative URLs).

    One hash aggregate; hosts are Zipf-skewed at crawl scale but both
    aggregates are partial-aggregatable (count / distinct-within-
    partition first), so the hot-host reducer receives combined
    partials, not raw rows.
    """
    # hostnames are case-insensitive (RFC 3986 §3.2.2) and parse_url
    # preserves case — lowercase so mixed-case spellings of one host
    # don't split its statistics
    host = F.lower(F.try_parse_url(F.col(url_col), F.lit("HOST")))
    return (df.groupBy(host.alias("host"))
            .agg(F.count("*").alias("n_links"),
                 F.countDistinct(url_col).alias("n_unique_urls")))


def term_freq(df: DataFrame, key_col: str = "doc_id",
              text_col: str = "text",
              min_count: int = 1,
              approx_docs: bool = True,
              rsd: float = 0.05) -> DataFrame:
    """Corpus vocabulary statistics: (token, n_occurrences, n_docs)
    over lowercased whitespace tokens — the input to stopword
    discovery, vocab pruning, and tokenizer training set sizing.

    One explode + one hash aggregate; both measures partial-aggregate
    map-side, so the Zipf head ('the', ...) arrives at its reducer as
    combined partials, not raw rows — the same skew argument as
    host_counts.

    ``approx_docs`` (the 100 TB default) counts n_docs with
    HyperLogLog++ (``approx_count_distinct``, relative error
    ``rsd``): the sketch partial-aggregates to a fixed-size state per
    token, so a head token like 'the' — which appears in nearly every
    document — costs its reducer one mergeable sketch instead of an
    exact distinct-set of ~all doc ids. ``approx_docs=False`` keeps
    the exact count for oracle verification and small corpora.
    """
    tok = F.explode(words_col(F.lower(F.col(text_col)))).alias("token")
    n_docs = (F.approx_count_distinct("_doc", rsd) if approx_docs
              else F.countDistinct("_doc"))
    out = (df.select(F.col(key_col).alias("_doc"), tok)
           .groupBy("token")
           .agg(F.count("*").alias("n_occurrences"),
                n_docs.alias("n_docs")))
    return out.filter(F.col("n_occurrences") >= min_count)


def tfidf_topk(df: DataFrame, key_col: str = "doc_id",
               text_col: str = "text", k: int = 5) -> DataFrame:
    """Top-k characteristic terms per document by smoothed tf-idf:
    score = tf · (ln((N+1)/(df+1)) + 1), rounded to 3 before ranking
    (ties broken by token) so any engine reproduces the ranking.

    Plan shape: explode -> two partial-aggregating hash aggs (tf per
    (doc, token), df per token) -> broadcast of the scalar N -> per-
    doc top-k via collect_list + array_sort + slice (bounded by the
    doc's own vocabulary, never a global sort). The df table is
    vocabulary-sized — at corpus scale persist it once and reuse.
    """
    tok = df.select(
        F.col(key_col),
        F.explode(words_col(F.lower(F.col(text_col)))).alias("token"))
    tf = tok.groupBy(key_col, "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df_n"))
    n_docs = df.select(
        F.countDistinct(key_col).cast("double").alias("n_total"))
    score = F.round(
        F.col("tf") * (F.log((F.col("n_total") + 1.0)
                             / (F.col("df_n") + 1.0)) + 1.0), 3)
    scored = (tf.join(dfreq, "token")
              .crossJoin(F.broadcast(n_docs))
              .select(key_col, "token", "tf", score.alias("score")))
    cand = F.struct((-F.col("score")).alias("ns"),
                    F.col("token").alias("token"),
                    F.col("tf").alias("tf"),
                    F.col("score").alias("score"))
    return (
        scored.groupBy(key_col)
        .agg(F.slice(F.array_sort(F.collect_list(cand)), 1, k)
             .alias("top"))
        .select(key_col, F.posexplode("top").alias("_pos", "t"))
        .select(key_col,
                F.col("t.token").alias("token"),
                F.col("t.tf").cast("long").alias("tf"),
                F.col("t.score").alias("score"),
                (F.col("_pos") + 1).cast("int").alias("rank"))
    )


def fingerprint(df: DataFrame, key_cols: list[str],
                text_col: str = "text") -> DataFrame:
    """Canonical document fingerprint: md5 over the whitespace- and
    case-normalized text. The normalization makes near-identical
    crawls (whitespace/case-only diffs) collide, so the fingerprint
    doubles as a cheap fuzzy-dedup key."""
    norm = ws_case_canon(F.col(text_col))
    return df.select(
        *key_cols,
        F.md5(norm.cast("binary")).alias("fingerprint"),
    )
