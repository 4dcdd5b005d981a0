"""Similarity search over embedding columns (`array<float>`).

Three tiers, as a 100 TB pipeline needs:

* **brute-force cosine** (`cosine_topk` / `cosine_neighbors`) — the
  exact baseline: one narrow projection per (row, query); queries are
  broadcast. Linear scan, embarrassingly parallel, zero shuffle for
  the scoring stage; `cosine_topk` reduces each partition to
  queries·k candidates before its single exchange, so the shuffle is
  O(P·q·k) rows — never the scored corpus and never a global sort.
* **LSH-bucketed ANN** (`lsh_neighbors`) — the scale path: sign
  random-hyperplane sketch (md5-derived, deterministic) buckets the
  corpus; candidates = same-bucket rows only, then exact re-scoring.
  Probe multiple hash tables for recall. Bucket cardinality is
  bounded by construction (hyperplanes split mass), so the candidate
  join is output-bounded instead of O(n·q).
* **IVF-flat ANN** (`ivf_neighbors`) — the trained-index path:
  corpus bucketed by nearest centroid (inverted lists), queries
  probe their n nearest lists, exact re-score on candidates.

The dot products run in JVM expressions (`aggregate`/`zip_with`), so
scoring stays inside whole-stage codegen — no Python worker in the
hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float|double> columns in pure
    JVM expressions (double math). A zero-norm (or null) vector has
    no defined cosine and yields NULL — guarded explicitly because
    Spark 4's default ANSI mode turns the bare division into a
    job-killing DIVIDE_BY_ZERO on the first degenerate row."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(
        a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    nb = F.sqrt(F.aggregate(
        b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    denom = na * nb
    return F.when(denom > 0, dot / denom)


def cosine_neighbors(df: DataFrame, query_df: DataFrame,
                     key_col: str = "vec_id", vec_col: str = "embedding",
                     query_key: str = "query_id",
                     threshold: float = 0.2) -> DataFrame:
    """All corpus rows within cosine >= threshold of each query row.

    ``query_df`` (query_key, vec) is broadcast — the corpus is never
    shuffled. Result: (query_id, vec_id, cos_sim rounded to 3).
    """
    q = F.broadcast(query_df.select(
        F.col(query_key), F.col(vec_col).alias("_qv")))
    sim = F.round(cosine_expr(F.col(vec_col), F.col("_qv")), 3)
    return (
        df.crossJoin(q)
        .select(query_key, key_col, sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def cosine_topk(df: DataFrame, query_df: DataFrame, k: int = 10,
                key_col: str = "vec_id", vec_col: str = "embedding",
                query_key: str = "query_id") -> DataFrame:
    """Exact top-k per query by cosine (ties broken by key for
    determinism); output adds a 1-based ``rank``.

    Two-phase, shuffle-bounded: scoring stays JVM-side (broadcast
    queries, codegen dot products), then :func:`_bounded_topk` cuts
    each partition to <= queries*k rows BEFORE any exchange. The only
    shuffle therefore carries <= partitions*queries*k rows — with
    many queries the global-window formulation instead shuffles and
    sorts all n*q scored rows, which is the corpus itself.
    """
    scored = cosine_neighbors(df, query_df, key_col, vec_col,
                              query_key, threshold=-1.0)
    return _bounded_topk(scored, k, "cos_sim", key_col, query_key)


def _bounded_topk(scored: DataFrame, k: int, score: str, key: str,
                  group: str | None = None) -> DataFrame:
    """Exact top-``k`` rows of ``scored`` by ``score`` desc, ``key``
    asc on ties, per ``group`` value (one global group when None):
    ``scored``'s columns plus a 1-based int ``rank``.

    Each partition is cut to its own top-k per group in pandas (re-cut
    whenever over 64·k rows are buffered); one array_sort per group
    then merges the <= partitions·k candidates, exact since every
    global top-k row is a top-k row of its partition. No Window."""
    import pandas as pd

    groups = [group] if group else []
    order = [*groups, score, key]
    asc = [True] * len(groups) + [False, True]

    def cut(pdf):
        pdf = pdf.sort_values(order, ascending=asc)
        return (pdf.groupby(groups, sort=False) if groups else pdf).head(k)

    def local_topk(pdfs):
        acc: list[pd.DataFrame] = []
        n_acc = 0
        for pdf in pdfs:
            acc.append(pdf)
            n_acc += len(pdf)
            if n_acc > 64 * k:  # re-reduce to bound buffer memory
                acc = [cut(pd.concat(acc, ignore_index=True))]
                n_acc = len(acc[0])
        if acc:
            yield cut(pd.concat(acc, ignore_index=True))

    partial = scored.mapInPandas(local_topk, scored.schema)
    # struct order: -score asc == score desc, then key asc for ties
    rest = [c for c in scored.columns if c not in groups]
    cand = F.struct((-F.col(score)).alias("_neg"), F.col(key),
                    *[F.col(c) for c in rest if c != key])
    return (
        partial.groupBy(*groups)
        .agg(F.slice(F.array_sort(F.collect_list(cand)), 1, k)
             .alias("_top"))
        .select(*groups, F.posexplode("_top").alias("_pos", "_t"))
        .select(*groups, *[F.col("_t").getField(c).alias(c) for c in rest],
                (F.col("_pos") + 1).cast("int").alias("rank"))
    )


def lsh_sketch_expr(vec_col: str, dim: int | None, n_bits: int = 16,
                    seed: int = 7) -> Column:
    """Sign-random-projection sketch via SQL expr (Rademacher ±1
    hyperplanes from md5 parity): bit b = [Σ_j s(b,j)·v_j > 0].

    ``dim=None`` sizes the hyperplane per row from ``size(vec)`` — the
    safe default: a static ``dim`` shorter/longer than the actual
    vectors makes ``zip_with`` null-pad, every component sum NULL and
    every bucket 0, silently collapsing LSH into one giant bucket
    (i.e. an O(n²) join). Pass a static dim only when you know it and
    want the constant folded.

    Built as a single selectExpr string so the whole sketch stays in
    one codegen stage.
    """
    upper = f"{dim - 1}" if dim is not None else f"size({vec_col}) - 1"
    terms = []
    for b in range(n_bits):
        comp = (
            f"aggregate(zip_with({vec_col}, "
            f"transform(sequence(0, {upper}), "
            f"j -> CASE WHEN (position(substring(md5(concat('s{seed}b{b}j', "
            f"cast(j as string))), 1, 1) in '0123456789abcdef') - 1) % 2 = 0 "
            f"THEN 1.0D ELSE -1.0D END), "
            f"(x, c) -> cast(x as double) * c), 0.0D, (a, v) -> a + v)"
        )
        terms.append(f"(CASE WHEN {comp} > 0 THEN {1 << b} ELSE 0 END)")
    return F.expr(" + ".join(terms)).cast("int")


def ivf_sims_expr(vec_col: str, centroids: list[list[float]]) -> Column:
    """array of cosine similarities of ``vec_col`` against each
    centroid (centroids folded in as literals — K×dim constants)."""
    return F.array(*[
        cosine_expr(F.col(vec_col),
                    F.array(*[F.lit(float(x)) for x in c]))
        for c in centroids])


def ivf_assign(df: DataFrame, centroids: list[list[float]],
               vec_col: str = "embedding") -> DataFrame:
    """IVF coarse quantization: add ``_list`` = 1-based index of the
    nearest centroid (first index wins ties — ``array_position`` of
    the max). Pure JVM, shuffle-free; at 100 TB this is the narrow
    assignment pass you then partition/cluster the corpus by."""
    sims = ivf_sims_expr(vec_col, centroids)
    return df.withColumn(
        "_list", F.array_position(sims, F.array_max(sims)).cast("int"))


def kmeans_centroids(df: DataFrame, k: int = 4, rounds: int = 10,
                     vec_col: str = "embedding",
                     key_col: str = "vec_id",
                     tol: float = 1e-6) -> list[list[float]]:
    """Bounded-rounds Lloyd's k-means over cosine similarity — the
    in-engine trainer for :func:`ivf_neighbors`' coarse quantizer,
    so the IVF index is self-contained (FAISS trains the same way;
    public algorithm).

    Deterministic init: the first ``k`` vectors in ``key_col`` order
    (no RNG — reproducible across runs and engines). Each round is
    the same shape as the connected-components loop: centroids are
    K×dim literals folded into a one-stage JVM assignment
    (:func:`ivf_assign`, shuffle-free), then ONE partial-aggregating
    groupBy computes per-cluster element means; only the K×dim
    centroid matrix ever reaches the driver. At 100 TB: train on a
    sample (standard IVF practice — pass ``df.sample(...)``), then
    assign the full corpus once.

    Stops early when no centroid moves more than ``tol`` in any
    coordinate. Empty clusters keep their previous centroid.
    Degenerate inputs cannot corrupt training: vectors whose length
    differs from the init dimension (or null vectors) are excluded
    up front, and a row whose similarities are all NaN assigns to
    list 0 (``array_position`` miss) and is dropped rather than
    silently folded into the LAST centroid via the -1 index.
    """
    dim_row = (df.select(F.size(vec_col).alias("d"))
               .filter(F.col("d") > 0)
               .groupBy("d").count()
               .orderBy(F.desc("count"), F.asc("d")).first())
    if dim_row is None:
        raise ValueError("no non-empty vectors to train on")
    dim = dim_row.d  # modal width — deterministic, outlier-immune
    # init rows pass the same guard as the training vectors: null or
    # dimension-mismatched vectors among the first k must not crash
    # init or smuggle a short centroid into the list
    first = (df.filter(F.size(vec_col) == dim)
             .orderBy(key_col).limit(k)
             .select(F.col(vec_col).alias("v")).collect())
    cents = [[float(x) for x in r.v] for r in first]
    if len(cents) < k:
        raise ValueError(f"need >= {k} vectors to init {k} centroids")
    vecs = (df.select(F.col(vec_col).alias("v"))
            .filter(F.size("v") == dim))
    for _ in range(rounds):
        assigned = ivf_assign(vecs, cents, "v") \
            .filter(F.col("_list") > 0)
        # element-wise means via posexplode + ONE partial-agg groupBy
        # on (_list, pos): the generated code is O(1) in `dim` (the
        # earlier one-F.avg-column-per-dimension form hit Janino
        # width at d >> 100), and only k*dim tiny rows are collected
        rows = (assigned
                .select("_list", F.posexplode("v").alias("pos", "x"))
                .groupBy("_list", "pos").agg(F.avg("x").alias("m"))
                .collect())
        by_list: dict[int, dict[int, float]] = {}
        for r in rows:
            by_list.setdefault(r._list, {})[r.pos] = r.m
        new = list(cents)
        for lst, poses in by_list.items():
            means = [poses.get(i) for i in range(dim)]
            if any(m is None or m != m for m in means):
                continue   # degenerate cluster: keep previous centroid
            new[lst - 1] = [float(m) for m in means]
        moved = max(abs(a - b) for nc, oc in zip(new, cents)
                    for a, b in zip(nc, oc))
        cents = new
        if moved <= tol:
            break
    return cents


def ivf_neighbors(df: DataFrame, query_df: DataFrame,
                  centroids: list[list[float]], n_probe: int = 1,
                  key_col: str = "vec_id", vec_col: str = "embedding",
                  query_key: str = "query_id",
                  threshold: float = 0.2) -> DataFrame:
    """IVF-flat ANN: corpus vectors bucketed by nearest centroid,
    each query probes its ``n_probe`` nearest lists, candidates are
    re-scored exactly. The inverted-file structure of FAISS-style
    IVF (public knowledge) expressed relationally: assignment is a
    narrow projection, the probe join is broadcast-queries ×
    ``array_contains`` on the list id, so the corpus is scanned once
    and never shuffled. The operator takes trained centroids as data
    the way a production IVF index does; train them in-engine with
    :func:`kmeans_centroids` (or any offline trainer).

    Recall < 1 by construction (bounded by n_probe/K); raise
    ``n_probe`` for recall, like LSH's multi-table union.
    """
    corpus = ivf_assign(
        df.select(key_col, vec_col), centroids, vec_col)
    qsims = ivf_sims_expr("_qv", centroids)
    # top-n_probe list ids: sort (−sim, idx) asc ⇒ sim desc, idx asc
    ranked = F.transform(
        F.slice(F.array_sort(F.transform(
            qsims, lambda s, i: F.struct((-s).alias("ns"),
                                         (i + 1).alias("idx")))),
            1, n_probe),
        lambda t: t.idx.cast("int"))
    queries = (query_df
               .select(F.col(query_key), F.col(vec_col).alias("_qv"))
               .withColumn("_probes", ranked))
    sim = F.round(cosine_expr(F.col(vec_col), F.col("_qv")), 3)
    return (
        corpus.join(F.broadcast(queries),
                    F.expr("array_contains(_probes, _list)"))
        .select(query_key, key_col, sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def lsh_neighbors(df: DataFrame, query_df: DataFrame,
                  dim: int | None = None,
                  key_col: str = "vec_id", vec_col: str = "embedding",
                  query_key: str = "query_id", n_bits: int = 12,
                  threshold: float = 0.2, seed: int = 7) -> DataFrame:
    """ANN: bucket corpus and queries by hyperplane sketch, score only
    same-bucket candidates exactly.

    Recall < 1 by construction (single table); raise recall with
    fewer bits or by unioning several seeds. The candidate join is an
    equi-join on the sketch — shuffle is O(corpus), and with a small
    query side the bucket map broadcasts.

    ``dim=None`` (the default) sizes the hyperplanes per row — the
    safe choice: a static ``dim`` that disagrees with the real vector
    width null-pads every sketch to bucket 0 and silently turns the
    bounded equi-join into an O(n x q) cross product (see
    :func:`lsh_sketch_expr`); pass a static ``dim`` only when the
    width is enforced upstream and the constant-folding win matters.
    """
    sk = lsh_sketch_expr(vec_col, dim, n_bits, seed)
    corpus = df.select(key_col, vec_col).withColumn("_bucket", sk)
    queries = query_df.select(
        F.col(query_key), F.col(vec_col).alias("_qv")
    ).withColumn("_bucket", lsh_sketch_expr("_qv", dim, n_bits, seed))
    sim = F.round(cosine_expr(F.col(vec_col), F.col("_qv")), 3)
    return (
        corpus.join(F.broadcast(queries), "_bucket")
        .select(query_key, key_col, sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )
