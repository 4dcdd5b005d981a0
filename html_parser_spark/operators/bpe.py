"""Deterministic in-engine byte-pair-encoding tokenizer.

Every token budget in the engine so far — ``token_stats``,
``chunk_documents``/``pack_sequences``, the Gopher word rules —
counts whitespace words, which misprices CJK (one giant "word" per
run) and code. Training pipelines budget context windows in SUBWORD
tokens, so this module trains a small BPE merge table in-engine
(Sennrich et al. 2016, public algorithm) and prices text in BPE
tokens — with the whole encode path staying pure-JVM expressions.

Semantics (fixed, so the Spark side and the DuckDB oracle cannot
drift):

* pre-tokenize: lowercase, split on whitespace; a word is
  BPE-ELIGIBLE iff it matches ``^[a-z]+$`` and ``len <= max_word_len``
  (everything else — digits, punctuation runs, CJK — prices at ONE
  TOKEN PER CHARACTER, which is simultaneously the char-fallback
  budget rule and the fix for the "CJK giant word" mispricing).
* a word's segmentation is a delimiter string: every symbol wrapped
  as ``\\x01sym\\x01`` and concatenated, e.g. ``low`` ->
  ``\\x01l\\x01\\x01o\\x01\\x01w\\x01``. Applying merge (l, r) is ONE
  literal string replace of ``\\x01l\\x01\\x01r\\x01`` with
  ``\\x01lr\\x01`` — Java's ``String.replace`` and DuckDB's
  ``replace`` both substitute leftmost-first non-overlapping, which
  is exactly BPE's in-word merge order, and the doubled delimiter
  makes a match consume both whole tokens so adjacent occurrences
  ([a,a,a,a] -> [aa,aa]) merge correctly.
* training round: count adjacent symbol pairs over the DISTINCT-word
  table weighted by word frequency; argmax with the total order
  (freq DESC, left ASC, right ASC); apply the merge; repeat
  ``num_merges`` times. Integer counts + a total order = the same
  merge sequence at any parallelism, input order, or retry history.
* encoding applies the learned merges in rank order, one replace
  each. A merge never needs re-application: merges only ever join
  adjacent symbols, so a pair that was absent cannot become adjacent
  later, and within one pass leftmost-first substitution is the
  training-time semantics by construction.

Scale shape (the 100 TB story): training's working set is the
distinct lowered-alpha-word table — bounded by VOCABULARY (millions
of rows), not corpus size — built with one partial-agg groupBy over
the corpus; each round is one narrow pair-explode + partial-agg
groupBy on that small table plus a single-row collect (the argmax),
the same bounded-iteration pattern as ``kmeans_centroids`` and
``train_quality_lr``. Encoding ships the merge table as ``2 *
num_merges`` string literals inside the plan (KBs) and runs as a
chain of ``replace`` calls per word inside higher-order functions —
a shuffle-free, Python-free map at any corpus size. HOF lambdas are
CodegenFallback expressions (interpreted bodies, fixed-size
generated code), so growing ``num_merges`` cannot blow the Janino
64 KB method limit the way an inlined per-merge CASE chain would:
the plan's size is fixed by the literal's, not by a chain of one
expression per merge.

No counterpart in the reference (gisle/html-parser is a parser, not
a training-data pipeline); the algorithm is the public Sennrich
2016 / GPT-2 BPE family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from html_parser_spark.operators.textstats import words_col

#: symbol delimiter; excluded from eligible words by the ^[a-z]+$
#: gate, so it can never occur inside a symbol
SEP = "\x01"

#: a word prices in BPE tokens iff it matches this (lowercase alpha)
ELIGIBLE_RE = "^[a-z]+$"


def wrap_word(word: Column) -> Column:
    """``low`` -> ``\\x01l\\x01\\x01o\\x01\\x01w\\x01`` (each char one
    delimited symbol)."""
    return F.regexp_replace(word, "(.)", f"{SEP}$1{SEP}")


def apply_merges(sym: Column, merges: list[tuple]) -> Column:
    """Chain of literal replaces applying ``merges`` in rank order —
    the entire BPE encode, as pure JVM expressions."""
    for m in merges:
        left, right = m[0], m[1]
        sym = F.replace(sym, F.lit(f"{SEP}{left}{SEP}{SEP}{right}{SEP}"),
                        F.lit(f"{SEP}{left}{right}{SEP}"))
    return sym


def split_symbols(sym: Column) -> Column:
    """Delimiter string -> array of symbols."""
    return F.split(F.regexp_replace(sym, f"^{SEP}|{SEP}$", ""),
                   f"{SEP}{SEP}")


def _sym_token_count(sym: Column) -> Column:
    """Token count of a delimiter string = (#SEP chars) / 2."""
    return ((F.length(sym)
             - F.length(F.replace(sym, F.lit(SEP), F.lit(""))))
            / 2).cast("long")


def _eligible(w: Column, max_word_len: int) -> Column:
    return w.rlike(ELIGIBLE_RE) & (F.length(w) <= max_word_len)


def train_bpe(df: DataFrame, text_col: str = "text",
              num_merges: int = 16, max_word_len: int = 64,
              checkpoint_every: int = 8) -> list[tuple[str, str, int]]:
    """Learn ``num_merges`` BPE merges from a corpus; returns the
    ordered merge table ``[(left, right, freq), ...]``.

    Driver state is the merge table itself (``num_merges`` small
    tuples) plus one 1-row collect per round — bounded by K, never by
    the corpus. The distinct-word working table is re-rooted with
    ``localCheckpoint`` every ``checkpoint_every`` rounds so lineage
    stays O(checkpoint_every) deep regardless of K (on a real cluster
    a reliable checkpoint dir serves the same role).

    Raises if the corpus runs out of adjacent pairs before K merges —
    callers pick K for their corpus; a silent short merge table would
    desync any oracle that unrolls exactly K rounds.
    """
    t = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    words = (df.select(F.explode(words_col(t)).alias("w"))
             .filter(_eligible(F.col("w"), max_word_len))
             .groupBy("w").agg(F.count("*").alias("cnt")))
    cur = words.select("cnt", wrap_word(F.col("w")).alias("sym"))
    cur = cur.localCheckpoint()

    merges: list[tuple[str, str, int]] = []
    for rnd in range(1, num_merges + 1):
        syms = split_symbols(F.col("sym"))
        # sequence(1, 0) would DESCEND in Spark — guard single-symbol
        # words out before building adjacent-pair indices
        pairs = (cur.select("cnt", syms.alias("s"))
                 .filter(F.size("s") >= 2)
                 .select("cnt", F.explode(F.expr(
                     "transform(sequence(1, size(s) - 1), "
                     "i -> struct(s[i-1] AS l, s[i] AS r))")).alias("p"))
                 .groupBy("p.l", "p.r")
                 .agg(F.sum("cnt").alias("f")))
        top = (pairs.orderBy(F.desc("f"), F.asc("l"), F.asc("r"))
               .limit(1).collect())
        if not top:
            raise ValueError(
                f"corpus exhausted adjacent pairs after {rnd - 1} "
                f"merges; lower num_merges from {num_merges}")
        left, right, freq = top[0].l, top[0].r, int(top[0].f)
        merges.append((left, right, freq))
        cur = cur.select("cnt", apply_merges(
            F.col("sym"), [(left, right)]).alias("sym"))
        if rnd % checkpoint_every == 0 and rnd < num_merges:
            cur = cur.localCheckpoint()
    return merges


def bpe_tokens_col(text: Column, merges: list[tuple],
                   max_word_len: int = 64) -> Column:
    """BPE tokens of the ELIGIBLE (lowercased alpha) words of a text
    column, in word order, as ``array<string>`` — pure JVM (HOF
    transform + the replace chain + flatten)."""
    w = words_col(F.lower(F.coalesce(text, F.lit(""))))
    elig = F.filter(w, lambda x: _eligible(x, max_word_len))
    return F.flatten(F.transform(
        elig, lambda x: split_symbols(apply_merges(wrap_word(x),
                                                   merges))))


def bpe_token_count_col(text: Column, merges: list[tuple],
                        max_word_len: int = 64) -> Column:
    """Full-text BPE token BUDGET: eligible words price at their BPE
    token count, everything else (digits, punctuation, CJK runs)
    prices at one token per character — the char-fallback rule that
    fixes word-count budgets seeing one giant "word" per CJK run.
    NULL/empty text prices 0. Pure JVM."""
    w = words_col(F.lower(F.coalesce(text, F.lit(""))))
    per_word = lambda x: F.when(  # noqa: E731 — HOF lambda body
        _eligible(x, max_word_len),
        _sym_token_count(apply_merges(wrap_word(x), merges))
    ).otherwise(F.length(x).cast("long"))
    return F.aggregate(w, F.lit(0).cast("long"),
                       lambda acc, x: acc + per_word(x))
