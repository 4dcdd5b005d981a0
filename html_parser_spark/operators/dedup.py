"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Scale notes (the whole point of these designs):

* **exact_dedup** — one hash-aggregate on ``md5(text)``. Map-side
  partial aggregation collapses duplicates before the shuffle, so
  shuffle volume is O(distinct docs), not O(rows).
* **minhash_signatures** — explode distinct shingles (narrow), then a
  single groupBy(doc) computing all K min-hashes at once. One shuffle
  keyed by doc id; K is a column count, not a job count.
* **lsh_candidate_pairs** — one aggregation collects each signature
  band's bucket as a sorted id list; only buckets with >1 member emit
  their within-bucket pairs, so candidate generation is
  output-bounded (the classic MinHash-LSH trick: no O(n²) compare)
  and needs no join. A hot bucket (degenerate band) would explode
  quadratically — ``max_bucket`` caps it, the standard guard at
  corpus scale.
* **connected_components_star** — the one components algorithm
  (``dedup_canonical`` keeps each component's min id): large-star/
  small-star rounds, each one checkpoint plus one aggregate, only
  while the edge table holds more than ``LOCAL_FINISH_EDGES`` rows;
  at or under it (the usual near-dup graph from the start, a large
  one once contracted) a sequential union-find finishes in one task,
  its worker measured at ≤314 MB RSS at that size.
* **simhash** — md5-derived 64-bit signature entirely in JVM
  expressions; near-dup = signatures at small Hamming distance,
  found via exact-match on four 16-bit bands (65,536 bucket values
  per band keeps candidate generation output-bounded at scale).
* **ngram_jaccard_pairs** — exact Jaccard; the scale path (and the
  driver default) scores only an LSH candidate-pairs DataFrame, so
  the shuffle is bounded by the candidate set.
* **embedding_near_dup** — hyperplane-sketch-bucketed by default
  (same-bucket candidates, exact cosine on candidates only); the
  all-pairs broadcast join is the opt-in ``exhaustive=True`` escape
  hatch for small reference sets.

All hashing is md5-based so results are reproducible across engines
(the DuckDB oracle in ``__spark_entry__`` runs the same formulas).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from html_parser_spark.operators.textstats import words_col


def exact_dedup(df: DataFrame, key_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Group identical texts: (text_hash, n_dups, canonical_id).

    Canonical = smallest key. Downstream keeps ``canonical_id`` rows
    only (an inner join or a window filter; at scale prefer the join
    against this — much smaller — table).
    """
    return (
        df.groupBy(F.md5(F.col(text_col).cast("binary")).alias("text_hash"))
        .agg(F.count("*").alias("n_dups"),
             F.min(key_col).alias("canonical_id"))
    )


def shingles_col(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles of ``text`` (n=3 default).

    The words array is bound once, as the variable of a one-element
    ``transform``: written inline, each of its ``n + 2`` uses would
    split the whole text again."""
    def from_words(w: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(w) - (n - 1))
        make = lambda i: F.concat_ws(
            " ", *[F.element_at(w, i + j) for j in range(n)])
        return F.when(
            F.size(w) >= n, F.array_distinct(F.transform(idx, make))
        ).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(words_col(text)), from_words),
                        1)


def shingle_rows(df: DataFrame, key_col: str, text_col: str,
                 n: int = 3) -> DataFrame:
    """(key, shingle) rows — the narrow fan-out stage shared by
    MinHash and Jaccard."""
    return df.select(
        F.col(key_col).alias("key"),
        F.explode(shingles_col(F.col(text_col), n)).alias("shingle"),
    )


def minhash_signatures(df: DataFrame, key_col: str = "doc_id",
                       text_col: str = "text", num_hashes: int = 8,
                       n: int = 3) -> DataFrame:
    """K md5-minhashes per document as a NARROW projection — no
    explode, no shuffle — entirely inside whole-stage codegen. At
    100 TB this stage is map-only: signature cost scales with input
    bytes, cluster scales linearly, and only the (tiny) signature
    table ever shuffles.

    h_i = md5(shingle || '#i'): K independent full-width hashes,
    reproducible in any engine with md5. String min over hex digests
    is a valid uniform minhash.
    """
    with_sh = df.select(F.col(key_col),
                        shingles_col(F.col(text_col), n).alias("_sh"))
    def _hash_i(i: int):
        # NB: the returned lambda must be single-arg — F.transform
        # passes (element, index) to two-arg callables
        return lambda s: F.md5(
            F.concat(s, F.lit(f"#{i}")).cast("binary"))

    mins = [
        F.array_min(F.transform(F.col("_sh"), _hash_i(i))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return with_sh.select(key_col, *mins)


def lsh_candidate_pairs(sigs: DataFrame, key_col: str = "doc_id",
                        num_hashes: int = 8, band_size: int = 2,
                        max_bucket: int = 1000) -> DataFrame:
    """MinHash-LSH: docs sharing any (band_idx, band_key) bucket.

    Returns distinct (id_a, id_b) with id_a < id_b. One groupBy
    collects each bucket's sorted keys; ``max_bucket`` drops
    degenerate buckets (e.g. empty-text docs all hashing alike)
    before their quadratic pair expansion. Each member then pairs
    with the members sorted after it, so a generated row holds one
    id list, never a bucket's whole pair set. The band rows (and the
    signatures under them) are computed once: no join reads them
    again. Exchanges: the aggregation and the final ``distinct``.
    """
    buckets = (lsh_band_rows(sigs, key_col=key_col,
                             num_hashes=num_hashes,
                             band_size=band_size)
               .groupBy("band_idx", "band_key")
               # n, not size(ids): collect_list skips NULL keys, which
               # pair with nothing but still count toward max_bucket
               .agg(F.count("*").alias("n"),
                    F.array_sort(F.collect_list("key")).alias("ids"))
               .filter((F.col("n") > 1) & (F.col("n") <= max_bucket)))
    return (
        buckets.select("ids", F.posexplode("ids").alias("i", "id_a"))
        .select("id_a", F.explode(F.slice("ids", F.col("i") + 2,
                                          F.size("ids"))).alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def minhash_union(sigs: DataFrame, group_col: str,
                  num_hashes: int = 8) -> DataFrame:
    """Fold member signatures into the EXACT MinHash signature of the
    union of their shingle sets: per hash position,
    ``min(minhash(A), minhash(B)) == minhash(A ∪ B)`` — min commutes
    with set union (Broder 1997, the MinHash mergeability property).

    This is what makes GROUP-level similarity free once per-doc
    signatures exist: fold a persisted per-doc signature store up to
    hosts/shards/snapshots without ever re-shingling text — the same
    reuse the incremental-dedup store banks on. One
    partial-aggregating groupBy; map-side combine does most of the
    fold, and only O(groups) signature rows shuffle.
    """
    return sigs.groupBy(group_col).agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)])


def mirror_pairs(sigs: DataFrame, key_col: str = "host",
                 num_hashes: int = 8, band_size: int = 2,
                 min_sim: float = 0.75,
                 max_bucket: int = 100_000) -> DataFrame:
    """Mirror detection over GROUP-level signatures (hosts serving
    the same corpus — the classic web-curation mirror problem;
    public technique: Bharat & Broder 1999, "Mirror, mirror on the
    web"): LSH banding proposes candidate pairs, then the standard
    MinHash estimator — the fraction of agreeing signature positions
    — scores them; returns ``(id_a, id_b, est_jaccard)`` with
    ``est_jaccard >= min_sim``, id_a < id_b.

    Feed it :func:`minhash_union` output (or
    :func:`minhash_signatures` keyed directly on the group column).
    Scale shape: candidates come from the bucketed LSH aggregation
    (never a cross-product of groups), and scoring joins the O(groups)
    signature table twice on its key. ``est_jaccard`` is k/num_hashes
    for integer k — exactly representable, so the score is
    bit-identical in any engine.

    ``max_bucket`` caveat: here a bucket IS a mirror cluster, so a
    low cap silently drops exactly the largest mirror farms — the
    primary thing the operator exists to find. The default is
    therefore 100k (a 100k-host bucket is ~10^10 pairs: past that,
    dedup the content, not the pair list); lower it only to shed
    degenerate buckets (e.g. empty-corpus hosts all hashing alike),
    and know that a capped bucket vanishes without a trace.
    """
    # groups whose docs were all too short to shingle carry all-NULL
    # signatures; concat_ws would fold those to '' band keys and herd
    # every empty-corpus group into ONE degenerate bucket (their
    # agreement score is 0 anyway — NULL == NULL is NULL — so they
    # can't reach the output, only waste candidate pairs). Same
    # no-similarity-evidence posture as dedup_incremental.
    sigs = sigs.filter(F.col("h0").isNotNull())
    cand = lsh_candidate_pairs(sigs, key_col=key_col,
                               num_hashes=num_hashes,
                               band_size=band_size,
                               max_bucket=max_bucket)
    a = sigs.select(F.col(key_col).alias("id_a"),
                    *[F.col(f"h{i}").alias(f"_a{i}")
                      for i in range(num_hashes)])
    b = sigs.select(F.col(key_col).alias("id_b"),
                    *[F.col(f"h{i}").alias(f"_b{i}")
                      for i in range(num_hashes)])
    agree = sum(F.when(F.col(f"_a{i}") == F.col(f"_b{i}"), 1)
                .otherwise(0) for i in range(num_hashes))
    return (cand.join(a, "id_a").join(b, "id_b")
            .withColumn("est_jaccard",
                        (agree / F.lit(num_hashes)).cast("double"))
            .filter(F.col("est_jaccard") >= min_sim)
            .select("id_a", "id_b", "est_jaccard"))


def simhash(df: DataFrame, key_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """64-bit SimHash over whitespace words, md5-derived, pure JVM.

    Per word: the first 16 hex nibbles of md5(word) give a 64-bit
    hash (bit b lives in nibble b//4, bit position b%4); per bit b:
    vote +1 if set else -1 summed over words; signature bit b = 1 iff
    vote > 0. Near-duplicates have small Hamming distance. The value
    is the signed-bigint (two's-complement) reading of the 64 bits,
    reproducible in any engine with md5 + 64-bit ints.

    64 bits (not 16) so that banding into four 16-bit bands gives
    65,536 distinct bucket values per band — bucket cardinality
    ~n/65536, keeping the near-dup candidate join output-bounded at
    corpus scale instead of the ~n²/64 a narrow signature produces.

    Shuffle-free: md5 runs once per word, the 64 per-bit votes
    accumulate in one ``aggregate`` over the word array inside a
    single codegen stage — the corpus never leaves its input
    partitioning.
    """
    nib = ("(position(substr(m, CAST(b div 4 AS INT) + 1, 1) "
           "IN '0123456789abcdef') - 1)")
    bit = f"(shiftright({nib}, CAST(b % 4 AS INT)) & 1)"
    # split(trim(.), '\s+') is the SQL-string spelling of
    # textstats.words_col (this expr is built as selectExpr text, so
    # the Column helper can't be composed in directly) — keep the two
    # in lockstep, the DuckDB oracle re-derives this exact tokenization
    votes = (
        f"aggregate(transform(split(trim({text_col}), '\\\\s+'), "
        f"x -> md5(x)), array_repeat(CAST(0 AS BIGINT), 64), "
        f"(acc, m) -> zip_with(acc, transform(sequence(0, 63), "
        f"b -> CAST(2 * {bit} - 1 AS BIGINT)), (a, v) -> a + v))"
    )

    def band(b: int) -> str:
        return " + ".join(
            f"(CASE WHEN element_at(_v, {16 * b + j + 1}) > 0 "
            f"THEN {1 << j} ELSE 0 END)"
            for j in range(16))

    with_bands = df.selectExpr(key_col, f"{votes} AS _v").selectExpr(
        key_col,
        *[f"CAST({band(b)} AS BIGINT) AS _h{b}" for b in range(4)])
    # two's-complement assembly: band 3 holds bits 48-63, so read it
    # as a signed 16-bit value before scaling — no 64-bit overflow
    return with_bands.selectExpr(
        key_col,
        "CAST(_h0 + _h1 * 65536 + _h2 * 4294967296 + "
        "(_h3 - CASE WHEN _h3 >= 32768 THEN 65536 ELSE 0 END) "
        "* 281474976710656 AS BIGINT) AS simhash")


def simhash_near_dup_pairs(df: DataFrame, key_col: str = "doc_id",
                           text_col: str = "text",
                           max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup: (id_a, id_b, hamming) for signature pairs
    within ``max_hamming`` bits.

    Candidate generation is banded (four 16-bit bands of the 64-bit
    signature): any pair within Hamming distance 3 must agree on at
    least one band (pigeonhole), so the join is an equi-join on
    (band_idx, band_value) — never an all-pairs scan — then the exact
    ``bit_count(xor)`` filter runs on candidates only. With 65,536
    values per band, buckets hold ~n/65536 non-near-dup rows, so the
    candidate set stays close to the true near-dup count at scale.

    The pigeonhole guarantee needs more bands than differing bits, so
    four bands are complete only for ``max_hamming <= 3``; larger
    radii would silently drop pairs — rejected instead.
    """
    if max_hamming > 3:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the completeness bound "
            "of the fixed 4-band candidate generation (pigeonhole needs "
            "bands > max_hamming); use max_hamming <= 3")
    sigs = simhash(df, key_col, text_col)
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.expr(f"shiftright(simhash, {16 * b}) & 65535").alias("bv"),
        )
        for b in range(4)
    ])
    exploded = sigs.select(
        F.col(key_col).alias("key"), "simhash",
        F.explode(bands).alias("bn"),
    ).select("key", "simhash", "bn.band", "bn.bv")
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bv") == F.col("b.bv"))
               & (F.col("a.key") < F.col("b.key")))
        .select(F.col("a.key").alias("id_a"), F.col("b.key").alias("id_b"),
                F.bit_count(F.expr("a.simhash ^ b.simhash"))
                .cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard_pairs(df: DataFrame, key_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.1,
                        candidates: DataFrame | None = None) -> DataFrame:
    """Exact n-gram Jaccard: (id_a, id_b, jaccard) with jaccard >=
    threshold, id_a < id_b.

    ``candidates`` is the scale path and the intended default usage:
    pass the (id_a, id_b) output of :func:`lsh_candidate_pairs` and
    only those pairs are scored — the shuffle is bounded by the
    candidate set, never the corpus cross-product. Without
    ``candidates`` the co-shingle equi-join scores every pair sharing
    at least one shingle — exact, but its join fan-out grows with
    shingle-frequency skew; reserve it for bounded corpora.

    All joins here are plain shuffle joins — no broadcast of any
    corpus-derived table (the per-doc ``sizes`` table is O(corpus)
    rows and must never be collected to the driver). Small-side
    broadcasting at runtime is left to AQE, which sees actual sizes.
    """
    sh = shingle_rows(df, key_col, text_col, n)
    sizes = sh.groupBy("key").agg(F.count("*").alias("n_sh"))
    if candidates is not None:
        cand = candidates.select("id_a", "id_b")
        inter = (
            cand
            .join(sh.withColumnRenamed("key", "id_a"), "id_a")
            .join(sh.withColumnRenamed("key", "id_b"),
                  ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("inter"))
        )
    else:
        inter = (
            sh.alias("a")
            .join(sh.alias("b"),
                  (F.col("a.shingle") == F.col("b.shingle"))
                  & (F.col("a.key") < F.col("b.key")))
            .groupBy(F.col("a.key").alias("id_a"),
                     F.col("b.key").alias("id_b"))
            .agg(F.count("*").alias("inter"))
        )
    j = (
        inter
        .join(sizes.select(F.col("key").alias("id_a"),
                           F.col("n_sh").alias("na")), "id_a")
        .join(sizes.select(F.col("key").alias("id_b"),
                           F.col("n_sh").alias("nb")), "id_b")
        .select(
            "id_a", "id_b",
            F.round(F.col("inter").cast("double")
                    / (F.col("na") + F.col("nb") - F.col("inter")), 3)
            .alias("jaccard"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold)


#: Edge count at or under which :func:`connected_components_star`
#: finishes with a sequential union-find in one task instead of more
#: star rounds. Measured on a 4-vCPU host (local[4]), ``"<n>#<k>"``
#: string ids: the union-find worker starts its task at ~82 MB RSS
#: and peaks at 219 MB for 1,000,000 edges over 1,000,000 ids (5.3 s)
#: and at 314 MB for 1,000,000 edges over 2,000,000 ids (6.3 s), the
#: most ids that many edges can touch; 500,000 edges peak at 168 MB.
LOCAL_FINISH_EDGES = 1_000_000

#: Round cap of :func:`connected_components_star`. O(log n) rounds
#: suffice for any graph; labels returned at the cap may conflict,
#: and a ``RuntimeWarning`` says so.
STAR_MAX_ROUNDS = 50

#: id types whose Python ordering equals Spark's: integers, and
#: UTF-8 strings (byte order = code-point order) under the default
#: collation. Other id types always take the star rounds.
_LOCAL_ID_TYPES = (T.ByteType(), T.ShortType(), T.IntegerType(),
                   T.LongType(), T.StringType())


def _union_find_components(edges: DataFrame) -> DataFrame:
    """(id, component = min id) of the (u, v) ``edges``, from a
    sequential union-find in one task: union by min root, so every
    root is its component's minimum, then path halving on ``find``.
    """
    dt = edges.schema["u"].dataType
    schema = T.StructType([T.StructField("id", dt),
                           T.StructField("component", dt)])
    typ = to_arrow_type(dt)

    def run(batches):
        import pyarrow as pa

        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for rb in batches:
            for u, v in zip(rb.column(0).to_pylist(),
                            rb.column(1).to_pylist()):
                parent.setdefault(u, u)
                parent.setdefault(v, v)
                ru, rv = find(u), find(v)
                if ru < rv:
                    parent[rv] = ru
                elif rv < ru:
                    parent[ru] = rv
        ids = list(parent)
        for i in range(0, len(ids), 10_000):
            chunk = ids[i:i + 10_000]
            yield pa.RecordBatch.from_arrays(
                [pa.array(chunk, typ), pa.array(list(map(find, chunk)), typ)],
                names=["id", "component"])

    return edges.coalesce(1).mapInArrow(run, schema)


def connected_components_star(pairs: DataFrame, id_a: str = "id_a",
                              id_b: str = "id_b") -> DataFrame:
    """Connected components via alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC 2014): (id, component), component = min id.

    Converges in O(log n) rounds regardless of component diameter, so
    giant or long-chain duplicate clusters cost no more rounds than
    shallow ones. Each round is two hash-aggregates + two
    equi-joins, shuffle O(E); no step ever
    groups a whole component onto one task (the star operations only
    touch direct neighborhoods), so skewed mega-components cannot
    hot-spot a reducer the way naive label broadcast does.

    * large-star: every node links its larger neighbors to the min of
      its neighborhood (incl. itself).
    * small-star: every node links its smaller-or-equal neighbors and
      itself to the neighborhood min.

    Fixpoint = edge set stable; at that point edges form stars rooted
    at component minima. Each round is one ``localCheckpoint`` plus
    one aggregate over the tagged union of the old and new edge sets,
    which gives both "any edge changed" and the new edge count.

    Finish rule: the rounds are worth their jobs only while the graph
    is too large for one task. Whenever the edge table holds at most
    :data:`LOCAL_FINISH_EDGES` rows (the input's count comes free with
    its checkpoint, a round's from its aggregate), the labels come
    from :func:`_union_find_components` over it instead: one task,
    the same min-id labels, since the star operations preserve every
    node and its component. A large graph thus contracts in star
    rounds until it fits, then finishes locally. The constant keeps
    that task's worker under ~320 MB RSS (figures at the constant).
    """
    # localCheckpoint truncates the logical plan each round — an
    # iterative self-referencing plan otherwise grows exponentially
    # (each round embeds the previous one several times) and OOMs the
    # driver's analyzer long before any data moves
    seen = Observation()
    edges = (pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
             .filter(F.col("u") != F.col("v")).distinct()
             .observe(seen, F.count(F.lit(1)).alias("n"))
             .localCheckpoint())
    local = edges.schema["u"].dataType in _LOCAL_ID_TYPES
    if local and seen.get["n"] <= LOCAL_FINISH_EDGES:
        return _union_find_components(edges)
    nodes = (edges.select("u").union(edges.select(F.col("v").alias("u")))
             .distinct().localCheckpoint())
    cur = edges
    stable = False
    for _ in range(STAR_MAX_ROUNDS):
        # large-star
        sym = cur.union(cur.select(F.col("v").alias("u"),
                                   F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m"))
        large = (sym.filter(F.col("v") > F.col("u"))
                 .join(mins, "u")
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .filter(F.col("u") != F.col("v"))
                 .distinct())
        # small-star on the large-star output
        d = large.select(F.greatest("u", "v").alias("hi"),
                         F.least("u", "v").alias("lo"))
        smins = d.groupBy("hi").agg(F.min("lo").alias("m"))
        small = (
            d.join(smins, "hi")
            .select(F.col("lo").alias("u"), F.col("m").alias("v"))
            .union(smins.select(F.col("hi").alias("u"),
                                F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint())
        # both sides are distinct edge sets: tag 1 = old, 2 = new, so a
        # row whose OR of tags is not 3 is in exactly one of them
        tags = (cur.withColumn("t", F.lit(1))
                .union(small.withColumn("t", F.lit(2)))
                .groupBy("u", "v").agg(F.bit_or("t").alias("t"))
                .agg(F.count(F.when(F.col("t") != 3, 1)).alias("changed"),
                     F.count(F.when(F.col("t") >= 2, 1)).alias("n"))
                .first())
        stable = tags["changed"] == 0
        cur = small
        if stable:
            break
        if local and tags["n"] <= LOCAL_FINISH_EDGES:
            return _union_find_components(cur)
    if not stable:
        # never return silently-wrong labels: a non-star edge set
        # yields conflicting rows per id
        import warnings
        warnings.warn(f"connected_components_star did not converge in "
                      f"{STAR_MAX_ROUNDS} rounds; labels may conflict",
                      RuntimeWarning, stacklevel=2)
    # star edges point non-roots at their component min; roots map to
    # themselves (isolated nodes cannot occur: every input row is an
    # edge between two distinct ids)
    labels = (nodes.join(cur.withColumnRenamed("v", "component"), "u",
                         "left")
              .select(F.col("u").alias("id"),
                      F.coalesce("component", F.col("u"))
                      .alias("component")))
    return labels


def dedup_canonical(pairs: DataFrame, id_a: str = "id_a",
                    id_b: str = "id_b") -> DataFrame:
    """(id, component, is_canonical): keep rows where is_canonical to
    retain exactly one representative per near-dup cluster, the
    min id of its :func:`connected_components_star` component."""
    comp = connected_components_star(pairs, id_a, id_b)
    return comp.select(
        "id", "component",
        (F.col("id") == F.col("component")).alias("is_canonical"))


def embedding_near_dup(df: DataFrame, key_col: str = "vec_id",
                       vec_col: str = "embedding",
                       threshold: float = 0.35, dim: int | None = None,
                       n_bits: int = 8, seed: int = 7,
                       exhaustive: bool = False) -> DataFrame:
    """Embedding-cosine near-dup: (id_a, id_b, cos_sim) above
    threshold, id_a < id_b, rounded to 3 decimals.

    Default path (the 100 TB one): both sides bucketed by the
    deterministic hyperplane sketch (similarity.lsh_sketch_expr),
    candidate pairs = same-bucket rows only, then exact cosine. The
    equi-join on the bucket key is output-bounded — the corpus is
    never crossed with itself and nothing corpus-sized is broadcast.
    Recall is bounded by bucket collisions (raise it with fewer bits
    or by unioning seeds); the oracle rebuilds the identical sketch,
    so the bucketed contract is itself verified.

    ``exhaustive=True`` is the small-REFERENCE-set escape hatch: an
    all-pairs cosine with the right side broadcast. Only use it when
    one side is known-small; it is deliberately not the default.
    """
    from html_parser_spark.operators.similarity import (
        cosine_expr, lsh_sketch_expr)

    norm = df.select(F.col(key_col).alias("key"), F.col(vec_col).alias("v"))
    sim = cosine_expr(F.col("a.v"), F.col("b.v"))
    if exhaustive:
        a = norm.alias("a")
        b = norm.alias("b")
        joined = a.join(F.broadcast(b), F.col("a.key") < F.col("b.key"))
    else:
        bucketed = norm.withColumn(
            "_bucket", lsh_sketch_expr("v", dim, n_bits, seed))
        a = bucketed.alias("a")
        b = bucketed.alias("b")
        joined = a.join(
            b, (F.col("a._bucket") == F.col("b._bucket"))
            & (F.col("a.key") < F.col("b.key")))
    return (
        joined
        .select(F.col("a.key").alias("id_a"), F.col("b.key").alias("id_b"),
                F.round(sim, 3).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def semdedup(df: DataFrame, centroids: list[list[float]],
             threshold: float = 0.7, key_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """SemDeDup semantic dedup (Abbas et al. 2023, "SemDeDup: Data-
    efficient learning at web-scale through semantic deduplication" —
    public algorithm): cluster-then-prune over an embedding column.

    Stages, each in the engine's established idiom:

    1. **assign** — nearest-centroid coarse quantization (the IVF
       assignment expression: K×dim centroid literals folded into one
       shuffle-free JVM projection; first index wins ties) plus the
       row's cosine to its own centroid, rounded to 3 decimals so the
       keep decision is reproducible across engines.
    2. **in-cluster pairs** — equi-join on cluster id with
       ``id_a < id_b``, exact cosine, keep pairs ``>= threshold``.
       This is the paper's O(c^2)-per-cluster design: at corpus scale
       you pick k so clusters stay bounded (k ~ n / target_cluster),
       making the join output-bounded — the corpus is never crossed
       with itself and nothing corpus-sized is broadcast. Train the
       centroids on a sample with :func:`~html_parser_spark.operators.
       similarity.kmeans_centroids`.
    3. **components** — large-star/small-star connected components
       over the dup graph (O(log n) rounds, skew-resistant).
    4. **keep rule** — per component keep the member with the LOWEST
       centroid similarity (the paper keeps the most atypical
       example, preserving diversity), ties broken by id; one
       ``min_by`` partial aggregation.

    Returns one row per member of any duplicate component:
    ``(vec_id, cluster_id, cent_sim, keeper_id, keep)`` — rows with
    ``keep = false`` are the prune set. Vectors with no in-cluster
    neighbor above threshold are not emitted (they are all keepers).
    """
    from html_parser_spark.operators.similarity import (cosine_expr,
                                                        ivf_sims_expr)

    norm = df.select(F.col(key_col).alias("key"),
                     F.col(vec_col).alias("v"))
    # two projections so the K-ary sims array is named once instead
    # of inlined into both the argmax and the element_at
    sims = norm.select("key", "v",
                       ivf_sims_expr("v", centroids).alias("_sims"))
    assigned = sims.select(
        "key", "v", "_sims",
        F.array_position(F.col("_sims"), F.array_max(F.col("_sims")))
        .cast("int").alias("cluster_id"),
    ).select(
        "key", "v", "cluster_id",
        F.round(F.element_at(F.col("_sims"), F.col("cluster_id")), 3)
        .alias("cent_sim"))
    a = assigned.alias("a")
    b = assigned.alias("b")
    pairs = (a.join(b, (F.col("a.cluster_id") == F.col("b.cluster_id"))
                    & (F.col("a.key") < F.col("b.key")))
             .select(F.col("a.key").alias("id_a"),
                     F.col("b.key").alias("id_b"),
                     F.round(cosine_expr(F.col("a.v"), F.col("b.v")),
                             3).alias("cos_sim"))
             .filter(F.col("cos_sim") >= threshold))
    comp = connected_components_star(pairs)
    meta = assigned.select(F.col("key").alias("id"),
                           "cluster_id", "cent_sim")
    members = comp.join(meta, "id")
    keepers = members.groupBy("component").agg(
        F.min_by("id", F.struct("cent_sim", "id")).alias("keeper_id"))
    return (members.join(keepers, "component")
            .select(F.col("id").alias(key_col), "cluster_id",
                    "cent_sim", "keeper_id",
                    (F.col("id") == F.col("keeper_id")).alias("keep")))


def passage_dup_spans(df: DataFrame, key_col: str = "doc_id",
                      text_col: str = "text", k: int = 5,
                      min_count: int = 2) -> DataFrame:
    """Passage-level (substring) dedup: per-document spans of text
    whose word ``k``-shingles repeat >= ``min_count`` times anywhere
    in the corpus — the standard tier after document-level dedup
    (the repeated-passage removal of Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", done with bucketed
    shingle-hash frequencies instead of a suffix array, which matches
    this engine's shuffle-bounded patterns).

    Returns (key, span_start, span_end, n_words, n_dup_shingles):
    word-index spans (0-based, inclusive) built by merging
    overlapping/adjacent duplicated shingle positions (gaps-and-
    islands over pos with break at gap > k).

    Scale shape (the whole point vs a suffix array): shingle
    frequency is a partial-aggregated groupBy on a 64-bit xxhash —
    the Zipf head of repeated passages is absorbed map-side; the
    duplicated-shingle set joins back by hash equi-join (both sides
    shuffle-partitioned on the hash, nothing corpus-sized is
    broadcast); the island merge windows per document, so its state
    is bounded by single-document length. Every stage is pure-JVM
    codegen — no Python in the path.
    """
    hashed = _positional_shingle_hashes(df, key_col, text_col, k)
    dup_h = (hashed.groupBy("h")
             .agg(F.count("*").alias("c"))
             .filter(F.col("c") >= min_count)
             .select("h"))
    dup = hashed.join(dup_h, "h").select("key", "pos")
    return _merge_dup_positions(dup, key_col, k)


def _positional_shingle_hashes(df: DataFrame, key_col: str,
                               text_col: str, n: int) -> DataFrame:
    """(key, pos, h): every word ``n``-shingle of every row as a
    64-bit xxhash WITH its word position (no dedup — positions are
    the point).  Shared by corpus-frequency passage dedup and
    span-level decontamination so the shingle definition cannot
    de-synchronize between the twins."""
    words = words_col(F.col(text_col))
    shingles = F.transform(
        F.sequence(F.lit(0), F.size(words) - n),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice(words, i + 1, n))))
    return (df.filter(F.size(words) >= n)
            .select(F.col(key_col).alias("key"),
                    F.posexplode(shingles).alias("pos", "h")))


def _eval_shingle_hashes(eval_df: DataFrame, text_col: str,
                         n: int) -> DataFrame:
    """(h): DISTINCT 64-bit hashes of the eval table's word
    ``n``-shingles, broadcast (eval sets are megabytes against a
    100 TB corpus).  Shared by drop-mode, span-mode and streaming
    decontamination."""
    ev = (eval_df
          .select(F.explode(
              shingles_col(F.col(text_col), n)).alias("_s"))
          .select(F.xxhash64("_s").alias("h"))
          .distinct())
    return F.broadcast(ev)


def _merge_dup_positions(dup: DataFrame, key_col: str,
                         k: int) -> DataFrame:
    """Gaps-and-islands merge of flagged shingle start positions
    (``key``, ``pos``) into word spans — shared by corpus-frequency
    passage dedup and span-level decontamination. Window state is
    bounded by single-document length."""
    from pyspark.sql import Window

    w = Window.partitionBy("key").orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(w) <= k, 0).otherwise(1)
    grp = (dup.withColumn("brk", brk)
           .withColumn("g", F.sum("brk").over(
               w.rowsBetween(Window.unboundedPreceding, 0))))
    return (grp.groupBy("key", "g")
            .agg(F.min("pos").cast("int").alias("span_start"),
                 (F.max("pos") + k - 1).cast("int").alias("span_end"),
                 (F.max("pos") + k - F.min("pos")).cast("int")
                 .alias("n_words"),
                 F.count("*").alias("n_dup_shingles"))
            .select(F.col("key").alias(key_col), "span_start",
                    "span_end", "n_words", "n_dup_shingles"))


def remove_dup_passages(df: DataFrame, spans: DataFrame | None = None,
                        key_col: str = "doc_id",
                        text_col: str = "text", k: int = 5,
                        min_count: int = 2) -> DataFrame:
    """The removal tail of passage-level dedup: drop every word that
    any duplicated span (:func:`passage_dup_spans`) covers and
    re-join the survivors with single spaces. Returns
    (key, scrubbed_text) for every input row — rows with no spans
    pass through with whitespace normalized the same way, so the
    output column is uniformly defined.

    Scale shape: ONE equi-join of the corpus against the (small,
    span-grained) spans table on the doc key, then a per-row JVM
    lambda over (words x that doc's spans) — spans-per-doc is
    bounded by doc length, nothing corpus-sized is broadcast, and no
    Python enters the path.
    """
    if spans is None:
        spans = passage_dup_spans(df, key_col, text_col, k, min_count)
    per_doc = spans.groupBy(key_col).agg(
        F.collect_list(F.struct("span_start", "span_end"))
        .alias("_spans"))
    words = words_col(F.col(text_col))
    joined = df.select(key_col, text_col).join(per_doc, key_col, "left")
    sp = F.coalesce(F.col("_spans"),
                    F.array().cast(
                        "array<struct<span_start:int,span_end:int>>"))
    kept = F.filter(
        words,
        lambda w, i: ~F.exists(
            sp, lambda s: (i >= s.span_start) & (i <= s.span_end)))
    return joined.select(
        key_col, F.concat_ws(" ", kept).alias("scrubbed_text"))


def decontaminate(df: DataFrame, eval_df: DataFrame,
                  key_col: str = "doc_id", text_col: str = "text",
                  eval_text_col: str = "text", n: int = 13) -> DataFrame:
    """Benchmark decontamination: drop every corpus document that
    shares at least one ``n``-word shingle with any document of
    ``eval_df`` (the held-out eval/benchmark table), returning the
    surviving rows of ``df`` unchanged. This is the standard
    train/test-overlap scrub of public LLM pipelines (Brown et al.
    2020 appendix C uses 13-gram overlap, hence the default n=13;
    Gao et al. 2021 §6 applies the same idea to The Pile).

    Scale shape: the eval side is benchmark data — megabytes against
    a 100 TB corpus — so its DISTINCT shingle set is broadcast and
    the corpus is probed map-side (left-semi against the broadcast
    to find contaminated ids, then left-anti on the key), so the
    corpus text is never shuffled; the only exchange is the distinct
    on contaminated ids, output-bounded by the contamination rate.
    Shingles are compared as 64-bit xxhash values, the same
    output-bounded pattern as :func:`passage_dup_spans`.
    """
    ev = _eval_shingle_hashes(eval_df, eval_text_col, n)
    corpus = df.select(
        F.col(key_col),
        F.explode(shingles_col(F.col(text_col), n)).alias("_s"),
    ).select(key_col, F.xxhash64("_s").alias("h"))
    contaminated = (corpus.join(ev, "h", "left_semi")
                    .select(key_col).distinct())
    return df.join(contaminated, key_col, "left_anti")


def contaminated_spans(df: DataFrame, eval_df: DataFrame,
                       key_col: str = "doc_id",
                       text_col: str = "text",
                       eval_text_col: str = "text",
                       n: int = 13) -> DataFrame:
    """Span-level variant of :func:`decontaminate`: instead of a
    keep/drop verdict per document, return the word spans
    (same schema as :func:`passage_dup_spans`) where the document
    overlaps the eval set — so the leak can be SCRUBBED while the
    rest of the document is kept::

        spans = contaminated_spans(docs, eval_df, n=13)
        clean = remove_dup_passages(docs, spans=spans, k=13)

    Scrubbing is the recall-preserving alternative to whole-doc
    removal when a document embeds a quoted benchmark item inside
    otherwise-good text (both policies appear in public pipeline
    writeups; whole-doc removal is the conservative default).

    Seam caveat (why drop mode stays the default): scrubbing joins
    the words on either side of a removed span, and that seam can
    form an n-gram that was not in the original document —
    pathologically even one that is itself in the eval set. One
    scrub pass guarantees only that no n-gram AT ORIGINAL POSITIONS
    survives; pipelines needing the absolute guarantee should
    re-run the probe (or use :func:`decontaminate`).

    Scale shape: identical to :func:`decontaminate` (eval shingle
    hashes broadcast, corpus probed map-side) plus the per-document
    island merge of :func:`passage_dup_spans` — window state bounded
    by single-document length, nothing corpus-sized shuffled beyond
    the flagged positions themselves."""
    ev = _eval_shingle_hashes(eval_df, eval_text_col, n)
    hashed = _positional_shingle_hashes(df, key_col, text_col, n)
    flagged = hashed.join(ev, "h", "left_semi").select("key", "pos")
    return _merge_dup_positions(flagged, key_col, n)


def dedup_lines(df: DataFrame, key_col: str = "doc_id",
                text_col: str = "text", min_count: int = 2,
                min_norm_chars: int = 5) -> DataFrame:
    """Corpus-level duplicate-line (paragraph) removal, the CCNet
    tier (Wenzek et al. 2020 "CCNet: Extracting High Quality
    Monolingual Datasets from Web Crawl Data", §4.1 public method):
    boilerplate — cookie banners, nav menus, copyright footers —
    repeats across pages far more often than prose, so any line whose
    normalized form occurs >= ``min_count`` times anywhere in the
    corpus is scrubbed from every document that carries it. This is
    the sub-document tier between document near-dup (MinHash/SimHash)
    and word-shingle passage dedup (:func:`passage_dup_spans`): it
    keys on LINE boundaries, which is what boilerplate actually
    respects.

    Normalization follows CCNet's digit/punctuation-insensitive
    hashing: lowercase, strip every non-letter to a space, collapse
    whitespace — so "Copyright 2024." and "copyright 2025" are the
    same line. Lines whose normalized form is shorter than
    ``min_norm_chars`` are exempt (short interjections like "ok"
    legitimately repeat); blank lines always pass through.

    Returns one row per input row:
    (key, clean_text, n_lines, n_dup_lines), clean_text = surviving
    lines re-joined with newlines (uniformly defined for every doc,
    like :func:`remove_dup_passages`).

    Scale shape: line frequency is a partial-aggregated groupBy on
    ``xxhash64`` of the normalized line — the boilerplate Zipf head
    collapses map-side and the shuffle carries 8-byte keys, not line
    text; flagged (doc, line-index) pairs come back through one
    output-bounded semi-join + groupBy keyed on the doc; nothing
    corpus-sized is broadcast and no Python enters the path. The
    DuckDB oracle re-derives the counting on the normalized strings
    themselves, so hash-equality standing in for string-equality is
    itself checked.
    """
    # NULL text degrades to the empty doc so the output contract
    # (clean_text/n_lines defined for EVERY input row) holds
    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    ex = df.select(F.col(key_col).alias("key"),
                   F.posexplode(lines).alias("idx", "line"))
    norm = F.trim(F.regexp_replace(F.regexp_replace(
        F.lower(F.col("line")), r"[^\p{L} ]", " "), r"\s+", " "))
    eligible = (ex.withColumn("_n", norm)
                .filter(F.length("_n") >= min_norm_chars)
                .select("key", "idx", F.xxhash64("_n").alias("h")))
    dup_h = (eligible.groupBy("h").agg(F.count("*").alias("c"))
             .filter(F.col("c") >= min_count).select("h"))
    flagged = eligible.join(dup_h, "h", "left_semi")
    per_doc = flagged.groupBy("key").agg(
        F.collect_set("idx").alias("_drop"))
    joined = (df.select(F.col(key_col), F.col(text_col))
              .join(per_doc.withColumnRenamed("key", key_col),
                    key_col, "left"))
    drop = F.coalesce(F.col("_drop"), F.array().cast("array<int>"))
    kept = F.filter(lines, lambda l, i: ~F.array_contains(drop, i))
    return joined.select(
        key_col,
        F.array_join(kept, "\n").alias("clean_text"),
        F.size(lines).alias("n_lines"),
        F.size(drop).alias("n_dup_lines"))


def lsh_band_rows(sigs: DataFrame, key_col: str = "doc_id",
                  num_hashes: int = 8,
                  band_size: int = 2) -> DataFrame:
    """Signature table -> (key, band_idx, band_key) rows, the exact
    band construction :func:`lsh_candidate_pairs` uses — factored so
    the incremental path and the whole-corpus path cannot drift."""
    if num_hashes % band_size != 0:
        raise ValueError(
            f"band_size ({band_size}) must divide num_hashes "
            f"({num_hashes}) evenly ({num_hashes}/{band_size} bands) "
            "— a remainder would silently discard signature columns "
            "and lower recall")
    n_bands = num_hashes // band_size
    bands = []
    for b in range(n_bands):
        cols = [F.col(f"h{b * band_size + j}")
                for j in range(band_size)]
        bands.append(F.struct(
            F.lit(b).alias("band_idx"),
            F.concat_ws("|", *cols).alias("band_key")))
    return (sigs.select(F.col(key_col).alias("key"),
                        F.explode(F.array(*bands)).alias("band"))
            .select("key", "band.band_idx", "band.band_key"))


def dedup_incremental(spark, new_docs: DataFrame, store_dir: str,
                      key_col: str = "doc_id",
                      text_col: str = "text", num_hashes: int = 8,
                      band_size: int = 2, n: int = 3,
                      epoch_tag: str | None = None) -> DataFrame:
    """One epoch of INCREMENTAL MinHash-LSH dedup against a persisted
    signature store — the production pattern for a growing corpus:
    new snapshot -> signatures -> band-join against the historical
    signature table -> keep verdicts -> append the new signatures.

    Dedup rule (fixed so incremental == from-scratch by
    construction): a doc is KEPT iff it shares no LSH band bucket
    with ANY smaller-key doc — in the store or in its own epoch.
    The rule is a pure pairwise predicate, so feeding epochs in key
    order (each epoch's keys above the store's — the natural "new
    snapshot has newer ids" shape) reproduces exactly the keep set a
    from-scratch run over the union computes; that equality is what
    the driver oracle checks, replaying both epochs in SQL as one
    whole-corpus pass. Every signature is appended (not only
    survivors): the store is the corpus's signature INDEX, and the
    pairwise rule needs dropped docs' sigs too (a chain a-b-c must
    drop c even though b already fell).

    Scale shape: signatures are the narrow map
    :func:`minhash_signatures` is; the history probe is a LEFT SEMI
    join on (band_idx, band_key) — output bounded by the new epoch,
    never materializing pairs; the self-epoch probe is the same semi
    join. Only signature-table bytes shuffle (O(docs x bands) small
    rows), the text never moves. At 100 TB the store would live as a
    bucketed table on (band_idx, band_key)
    (:func:`~html_parser_spark.plans.pipeline.write_bucketed`) making
    the probe Exchange-free on the history side; here it is plain
    parquet with the same join shape. The returned verdicts are
    eagerly materialized (localCheckpoint) BEFORE the append so the
    lazy history scan can never observe the epoch's own signatures.

    ``epoch_tag`` makes the store append IDEMPOTENT for at-least-once
    callers (the streaming twin's foreachBatch): signatures land in
    an ``_epoch=<tag>`` partition via dynamic partition overwrite, so
    a replayed epoch REPLACES its own partition instead of appending
    a duplicate. A replay also recomputes the SAME verdicts even
    though its first attempt's sigs are already in the store: the
    keep rule is the pairwise ``smaller key wins`` predicate, and the
    store copy of the epoch carries exactly the epoch's own keys —
    equal keys never collide under ``<``. Default None keeps the
    plain append (single-writer batch callers).
    """
    import os

    sigs = minhash_signatures(new_docs, key_col=key_col,
                              text_col=text_col,
                              num_hashes=num_hashes, n=n)
    # docs too short to shingle have all-NULL signatures: no
    # similarity evidence -> they never band (and so are always
    # kept), instead of all colliding on an empty band_key
    bandable = sigs.filter(F.col("h0").isNotNull())
    bands_new = lsh_band_rows(bandable, key_col=key_col,
                              num_hashes=num_hashes,
                              band_size=band_size)
    a = bands_new.alias("a")
    b = bands_new.alias("b")
    self_hit = (a.join(
        b, (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("b.key") < F.col("a.key")), "left_semi")
        .select("key").distinct())
    # history exists when a plain append committed (_SUCCESS) OR any
    # epoch partition is in place — dynamic partition overwrite's
    # commit protocol renames finished partitions into place without
    # a root _SUCCESS, and its in-flight staging dirs (.spark-staging
    # -*) never match the _epoch= prefix, so a half-written replay is
    # not mistaken for history
    store_has_history = (
        os.path.exists(os.path.join(store_dir, "_SUCCESS"))
        or (os.path.isdir(store_dir)
            and any(name.startswith("_epoch=")
                    for name in os.listdir(store_dir))))
    hits = self_hit
    if store_has_history:
        hist = lsh_band_rows(
            spark.read.parquet(store_dir)
            .filter(F.col("h0").isNotNull()),
            key_col=key_col, num_hashes=num_hashes,
            band_size=band_size).alias("h")
        hist_hit = (a.join(
            hist, (F.col("a.band_idx") == F.col("h.band_idx"))
            & (F.col("a.band_key") == F.col("h.band_key"))
            & (F.col("h.key") < F.col("a.key")), "left_semi")
            .select("key").distinct())
        hits = hits.unionByName(hist_hit).distinct()
    verdicts = (sigs.select(F.col(key_col).alias("key"))
                .join(hits.withColumnRenamed("key", "_hit")
                      .withColumn("_is_hit", F.lit(True)),
                      F.col("key") == F.col("_hit"), "left")
                .select("key", F.coalesce("_is_hit", F.lit(False))
                        .alias("_dropped"))
                .select(F.col("key").alias(key_col),
                        (~F.col("_dropped")).alias("kept")))
    # materialization barrier: verdicts must be computed from the
    # PRE-append store (see docstring)
    verdicts = verdicts.localCheckpoint()
    if epoch_tag is None:
        sigs.write.mode("append").parquet(store_dir)
    else:
        (sigs.withColumn("_epoch", F.lit(epoch_tag))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("_epoch").parquet(store_dir))
    return verdicts
