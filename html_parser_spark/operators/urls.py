"""URL canonicalization for crawl/link curation — pure JVM.

The standard pre-dedup URL normalizer a link corpus needs before
host statistics, frontier dedup, or graph building: lowercase
scheme/host, strip default ports and fragments, drop tracking
parameters, sort the surviving query string. One codegen stage
(``parse_url`` + array ops), shuffle-free — at crawl scale this is a
narrow map over the url column.

Scope notes (documented, not silent): path dot-segment resolution
(``/a/../b``) and percent-encoding normalization are not applied —
both change identity semantics in ways a curation pipeline must opt
into deliberately; userinfo (``user:pass@``) is DROPPED from the
canonical form (credentials never identify content and must not leak
into dedup keys or host stats); relative URLs (no authority) pass
through with only trim + fragment-strip.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: query-parameter PREFIXES that never affect content identity
#: (public tracking-param lists: utm_* campaign tags, click ids).
#: Matched with startswith, not LIKE — in LIKE the '_' of 'utm_%' is
#: a single-char wildcard and would also strip content params like
#: 'utmost='.
TRACKING_PARAM_PREFIXES = ("utm_", "gclid=", "fbclid=", "ref=")


def canonical_url_expr(url: Column) -> Column:
    """Canonical form of an absolute http(s) URL as one JVM
    expression tree; relative inputs (NULL host) fall back to
    trim + fragment-strip."""
    # (?s): a '#' fragment may contain embedded newlines (HTML
    # attribute values span lines); '.' must not stop at them
    u = F.regexp_replace(F.trim(url), "(?s)#.*$", "")
    proto = F.lower(F.try_parse_url(u, F.lit("PROTOCOL")))
    host = F.lower(F.try_parse_url(u, F.lit("HOST")))
    authority = F.try_parse_url(u, F.lit("AUTHORITY"))
    port = F.regexp_extract(authority, ":([0-9]+)$", 1)
    default_port = ((proto == "http") & (port == "80")) | \
        ((proto == "https") & (port == "443")) | (port == "")
    port_part = F.when(default_port, F.lit("")).otherwise(
        F.concat(F.lit(":"), port))
    raw_path = F.try_parse_url(u, F.lit("PATH"))
    path = F.when((raw_path == "") | raw_path.isNull(), F.lit("/")) \
        .otherwise(raw_path)
    q = F.try_parse_url(u, F.lit("QUERY"))

    def _keep(x: Column) -> Column:
        tracking = None
        for pre in TRACKING_PARAM_PREFIXES:
            c = x.startswith(pre)
            tracking = c if tracking is None else (tracking | c)
        return (x != "") & ~tracking

    kept = F.array_sort(F.filter(
        F.split(F.coalesce(q, F.lit("")), "&"), _keep))
    q_part = F.when(F.size(kept) > 0,
                    F.concat(F.lit("?"), F.array_join(kept, "&"))) \
        .otherwise(F.lit(""))
    canon = F.concat(proto, F.lit("://"), host, port_part, path, q_part)
    return F.when(host.isNull() | (host == ""), u).otherwise(canon)


def canonicalize_urls(df: DataFrame,
                      url_col: str = "url") -> DataFrame:
    """links table -> same rows + ``canonical_url`` column."""
    return df.withColumn("canonical_url",
                         canonical_url_expr(F.col(url_col)))


#: default soft-word list for :func:`url_filter`. The published
#: RefinedWeb run scores URL words from a curated weighted list;
#: embedding a real adult/fraud blocklist adds nothing to the engine,
#: so the default is a small placeholder and the real list is an
#: argument.
URL_SOFT_WORDS = ("casino", "poker", "porn", "xxx", "viagra")


def url_filter(df: DataFrame, url_col: str = "url",
               blocked_domains: tuple = (),
               blocked_substrings: tuple = (),
               soft_words: tuple = URL_SOFT_WORDS,
               soft_threshold: int = 2) -> DataFrame:
    """RefinedWeb-style URL filtering (Penedo et al. 2023 §3.1,
    "The RefinedWeb Dataset for Falcon LLM" — public method): the
    document-level URL gate a crawl curation runs BEFORE fetching or
    extracting, with three independent verdicts per URL so the
    pipeline can audit which gate fired:

    * ``blocked_domain`` — the URL's host equals a blocklisted
      registered domain or is a subdomain of one (suffix match on
      ``'.' + domain``, so ``abad.example`` does NOT match
      ``bad.example``);
    * ``blocked_pattern`` — the URL contains a blocklisted substring
      (path fragments like ``'/casino/'``);
    * ``soft_score`` — count of flagged words appearing in the
      lowercased URL (RefinedWeb's weighted word score with unit
      weights); blocking applies at ``>= soft_threshold`` so a single
      incidental match ('viagra' in a pharmacology paper's slug)
      does not hard-block.

    ``keep_url`` is the conjunction. Pure JVM: host via ``parse_url``,
    the domain test is one ``exists()`` over the blocklist literal,
    pattern/word hits are ``contains`` folds. At crawl scale the
    blocklists are KB..MB-sized literals against a corpus-sized URL
    column — a shuffle-free map, same class as the decontamination
    probe's broadcast side.
    """
    # NULL url = the absent row: every verdict stays DEFINED (a NULL
    # keep_url would silently drop the row from a filter)
    u = F.coalesce(F.col(url_col), F.lit(""))
    low = F.lower(u)
    host = F.lower(F.coalesce(F.try_parse_url(u, F.lit("HOST")),
                              F.lit("")))
    if blocked_domains:
        dom_arr = F.array(*[F.lit(d.lower()) for d in blocked_domains])
        blocked_dom = F.exists(
            dom_arr, lambda d: (host == d)
            | host.endswith(F.concat(F.lit("."), d)))
    else:
        blocked_dom = F.lit(False)
    blocked_pat = F.lit(False)
    for p in blocked_substrings:
        blocked_pat = blocked_pat | low.contains(p.lower())
    soft = F.lit(0)
    for w in soft_words:
        soft = soft + F.when(low.contains(w.lower()),
                             F.lit(1)).otherwise(F.lit(0))
    # withColumns replaces a same-named input column (a 'host' join
    # key, say) instead of adding an ambiguous second one
    out = df.withColumns({
        "host": host,
        "blocked_domain": blocked_dom,
        "blocked_pattern": blocked_pat,
        "soft_score": soft.cast("int"),
    })
    return out.withColumn(
        "keep_url",
        ~F.col("blocked_domain") & ~F.col("blocked_pattern")
        & (F.col("soft_score") < soft_threshold))
