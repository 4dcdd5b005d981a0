"""Tests for the training-data pipeline operators: text stats, dedup
(exact / MinHash-LSH / SimHash / Jaccard / embedding), similarity
search, multimodal plumbing, salted plans + resumable checkpoints."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from html_parser_spark.operators import dedup, media, similarity, textstats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "spark executors shuffle arrow batches between stages"),
        (3, "the quick brown fox jumps over the lazy dog"),  # dup of 0
        (4, "zzz yyy xxx www vvv uuu"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.04, 0.0, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


# ------------------------------------------------------------- textstats

def test_token_stats(spark, docs):
    out = {r.doc_id: r for r in
           textstats.token_stats(docs, ["doc_id"]).collect()}
    assert out[0].n_words == 9
    assert out[0].n_chars == len("the quick brown fox jumps over the lazy dog")
    assert out[4].n_words == 6


def test_token_regex_counts(spark):
    df = spark.createDataFrame([(0, "a1b, c-2!")], "doc_id long, text string")
    r = textstats.token_stats(df, ["doc_id"]).collect()[0]
    # a|1|b|,|c|-|2|! -> 8 regex tokens
    assert r.n_tokens == 8


def test_quality_and_lang(spark, docs):
    q = {r.doc_id: r for r in
         textstats.quality_score(docs, ["doc_id"]).collect()}
    assert q[0].stopword_ratio > 0.2          # 'the' x2 + 'over' not stop..
    li = {r.doc_id: r.lang_pred for r in
          textstats.lang_id(docs, ["doc_id"]).collect()}
    assert li[0] == "en"
    assert li[4] == "other"


def test_normalize_text_unicode(spark):
    df = spark.createDataFrame(
        [(0, "Cafe\u0301  X"),     # combining accent -> NFC e-acute
         (1, "caf\u00e9 x"),
         (2, "A\u00a0B")],         # NBSP is NOT whitespace here
        "doc_id long, text string")
    out = {r.doc_id: r.norm_text for r in
           textstats.normalize_text(df, ["doc_id"]).collect()}
    assert out[0] == out[1] == "caf\u00e9 x"
    assert out[2] == "a\u00a0b"


def test_redact_pii(spark):
    df = spark.createDataFrame(
        [(0, "mail bob.smith+x@ex-amp.le.org or call +44 20 7946 0958"),
         (1, "server at 192.168.0.1 port 80"),
         (2, "clean text, no pii; version 1.2 stays"),
         (3, "a@b.co and c@d.io twice")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           textstats.redact_pii(df, ["doc_id"]).collect()}
    assert out[0].redacted == "mail <EMAIL> or call <PHONE>"
    assert out[0].n_email == 1 and out[0].n_phone == 1
    assert out[1].redacted == "server at <IP> port 80"
    # conservative: version numbers / bare text untouched
    assert out[2].redacted == df.collect()[2].text
    assert out[2].n_email == out[2].n_ipv4 == out[2].n_phone == 0
    assert out[3].redacted == "<EMAIL> and <EMAIL> twice"
    assert out[3].n_email == 2


def test_redact_pii_counts_match_replacements(spark):
    """A phone-shaped digit run inside an email must not inflate
    n_phone: counts reflect substitutions actually performed."""
    df = spark.createDataFrame(
        [(0, "contact j+15551234567@ex.com now")],
        "doc_id long, text string")
    r = textstats.redact_pii(df, ["doc_id"]).collect()[0]
    assert r.redacted == "contact <EMAIL> now"
    assert r.n_email == 1 and r.n_phone == 0


def test_repetition_stats(spark):
    df = spark.createDataFrame(
        [(0, "a\nb\na\nc"),            # 4 lines, 1 dup
         (1, "x x x x y"),             # 5 words, 3 dup
         (2, "all distinct words")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           textstats.repetition_stats(df, ["doc_id"]).collect()}
    assert out[0].n_lines == 4 and out[0].dup_line_ratio == 0.25
    assert out[1].n_words == 5 and out[1].dup_word_ratio == 0.6
    assert out[2].dup_line_ratio == 0.0 and out[2].dup_word_ratio == 0.0


def test_fingerprint_normalizes_ws_case(spark):
    df = spark.createDataFrame(
        [(0, "Hello  World"), (1, "hello world"), (2, "other text")],
        "doc_id long, text string")
    fps = {r.doc_id: r.fingerprint for r in
           textstats.fingerprint(df, ["doc_id"]).collect()}
    assert fps[0] == fps[1] != fps[2]


# ----------------------------------------------------------------- dedup

def test_exact_dedup(spark, docs):
    out = dedup.exact_dedup(docs).collect()
    assert len(out) == 4  # 5 docs, one exact dup
    dup = [r for r in out if r.n_dups == 2]
    assert len(dup) == 1 and dup[0].canonical_id == 0


def test_minhash_identical_docs_equal_sigs(spark, docs):
    sigs = {r.doc_id: tuple(r[f"h{i}"] for i in range(8))
            for r in dedup.minhash_signatures(docs).collect()}
    assert sigs[0] == sigs[3]
    assert sigs[0] != sigs[2]
    # near-dup shares most minhashes
    shared = sum(a == b for a, b in zip(sigs[0], sigs[1]))
    assert shared >= 4


def test_lsh_pairs_find_dup_and_near_dup(spark, docs):
    sigs = dedup.minhash_signatures(docs)
    pairs = {(r.id_a, r.id_b)
             for r in dedup.lsh_candidate_pairs(sigs).collect()}
    assert (0, 3) in pairs
    assert all(a < b for a, b in pairs)


def test_minhash_union_equals_direct_group_signature(spark):
    """The mergeability property the operator is built on: folding
    per-doc signatures with element-wise min gives the SAME signature
    as shingling the group's pooled text directly."""
    rows = [(0, "h0", "a b c d e"), (1, "h0", "f g h i j"),
            (2, "h1", "k l m n o")]
    df = spark.createDataFrame(
        rows, "doc_id long, host string, text string")
    per_doc = dedup.minhash_signatures(df).join(
        df.select("doc_id", "host"), "doc_id")
    folded = {r.host: tuple(r[f"h{i}"] for i in range(8))
              for r in dedup.minhash_union(per_doc, "host").collect()}
    pooled = df.groupBy("host").agg(
        F.concat_ws(" ", F.collect_list("text")).alias("text"))
    direct = {r.host: tuple(r[f"h{i}"] for i in range(8))
              for r in dedup.minhash_signatures(
                  pooled, key_col="host").collect()}
    # pooling concatenates shingle sets ACROSS doc boundaries too, so
    # compare unions of single-doc groups vs their own direct sigs,
    # and the true invariant: h1 (one doc) folds to its direct sig
    assert folded["h1"] == direct["h1"]
    # two-doc fold: every folded position <= both members' positions
    sigs = {r.doc_id: tuple(r[f"h{i}"] for i in range(8))
            for r in dedup.minhash_signatures(df).collect()}
    for i in range(8):
        assert folded["h0"][i] == min(sigs[0][i], sigs[1][i])


def test_mirror_pairs_find_mirrored_hosts(spark):
    """Hosts serving identical shingle sets score est_jaccard = 1.0
    via LSH + the position-agreement estimator; disjoint hosts never
    pair. Host m0 == m2 and m1 == m3 by construction."""
    rows = [(d, f"m{d % 4}",
             f"a{d % 10} b{d % 10} c{d % 10}") for d in range(80)]
    df = spark.createDataFrame(
        rows, "doc_id long, host string, text string")
    sigs = dedup.minhash_union(
        dedup.minhash_signatures(df).join(
            df.select("doc_id", "host"), "doc_id"), "host")
    got = {(r.id_a, r.id_b): r.est_jaccard
           for r in dedup.mirror_pairs(sigs).collect()}
    assert got == {("m0", "m2"): 1.0, ("m1", "m3"): 1.0}


def test_mirror_pairs_from_persisted_signature_store(spark, tmp_path):
    """The reuse minhash_union exists for: fold the incremental-dedup
    epochs' PERSISTED per-doc signature store up to hosts and find
    mirrors ACROSS epochs — no re-shingling of any text. Epoch 1
    writes m0's docs, epoch 2 writes m1's (same content, different
    host); the store alone must reveal them as mirrors."""
    store = str(tmp_path / "sigstore")
    e1 = spark.createDataFrame(
        [(d, f"a{d % 6} b{d % 6} c{d % 6}") for d in range(30)],
        "doc_id long, text string")
    e2 = spark.createDataFrame(
        [(d, f"a{d % 6} b{d % 6} c{d % 6}") for d in range(100, 130)],
        "doc_id long, text string")
    dedup.dedup_incremental(spark, e1, store, epoch_tag="e1").collect()
    dedup.dedup_incremental(spark, e2, store, epoch_tag="e2").collect()
    stored = spark.read.parquet(store)
    hosts = stored.withColumn(
        "host", F.when(F.col("doc_id") < 100, "m0").otherwise("m1"))
    got = dedup.mirror_pairs(
        dedup.minhash_union(hosts, "host"), key_col="host").collect()
    assert [(r.id_a, r.id_b, r.est_jaccard) for r in got] \
        == [("m0", "m1", 1.0)]


def test_mirror_pairs_empty_corpus_hosts_never_pair(spark):
    """Hosts whose docs are all too short to shingle (all-NULL
    signatures) must not pair with each other — without the
    h0-NOT-NULL guard they'd all share the '' band key; real mirrors
    alongside them must still be found."""
    rows = ([(d, f"e{d % 2}", "tiny") for d in range(4)]      # no 3-gram
            + [(d, f"m{d % 2 + 2}", "s1 s2 s3")                # mirrors
               for d in range(10, 14)])
    df = spark.createDataFrame(
        rows, "doc_id long, host string, text string")
    sigs = dedup.minhash_union(
        dedup.minhash_signatures(df).join(
            df.select("doc_id", "host"), "doc_id"), "host")
    got = {(r.id_a, r.id_b) for r in dedup.mirror_pairs(sigs).collect()}
    assert got == {("m2", "m3")}


def _ham64(a: int, b: int) -> int:
    # signatures are signed-bigint readings of 64 bits; mask before
    # popcount so Python's infinite-precision ints match bit_count
    return bin((a ^ b) & (2 ** 64 - 1)).count("1")


def test_simhash_dup_equal_and_near(spark, docs):
    sh = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    assert sh[0] == sh[3]
    ham = _ham64(sh[0], sh[1])
    assert ham <= 24         # one-word diff -> small hamming distance
    assert -(2 ** 63) <= sh[0] < 2 ** 63


def test_simhash_near_dup_pairs_complete(spark, docs):
    import itertools

    pairs = {(r.id_a, r.id_b): r.hamming
             for r in dedup.simhash_near_dup_pairs(
                 docs, max_hamming=3).collect()}
    assert pairs[(0, 3)] == 0  # exact dup
    # pigeonhole guarantee: banding must find EVERY pair within 3 bits
    sh = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    brute = {(a, b): _ham64(sh[a], sh[b])
             for a, b in itertools.combinations(sorted(sh), 2)
             if _ham64(sh[a], sh[b]) <= 3}
    assert pairs == brute


def test_ngram_jaccard(spark, docs):
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in dedup.ngram_jaccard_pairs(docs,
                                                threshold=0.1).collect()}
    assert pairs[(0, 3)] == 1.0
    assert 0.1 <= pairs[(0, 1)] < 1.0
    assert (0, 2) not in pairs


def test_ngram_jaccard_candidates_path(spark, docs):
    """The scale-default composition: score only LSH candidates; the
    scores must equal the exhaustive path's on those pairs."""
    cand = dedup.lsh_candidate_pairs(dedup.minhash_signatures(docs))
    got = {(r.id_a, r.id_b): r.jaccard
           for r in dedup.ngram_jaccard_pairs(
               docs, threshold=0.1, candidates=cand).collect()}
    assert got[(0, 3)] == 1.0
    full = {(r.id_a, r.id_b): r.jaccard
            for r in dedup.ngram_jaccard_pairs(
                docs, threshold=0.1).collect()}
    for k, v in got.items():
        assert full[k] == v


def _plan_str(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(True)
    return buf.getvalue()


def test_dedup_plans_no_corpus_broadcast(spark, docs, vecs):
    """Scale guards: no corpus-derived table is planned for broadcast
    and nothing degenerates into a cartesian/nested-loop product.
    (AQE may still broadcast at RUNTIME once it sees actual sizes —
    that is the adaptive behavior we want; the static plan must not
    assume it fits.)"""
    for df in (
        dedup.ngram_jaccard_pairs(docs, threshold=0.1),
        dedup.embedding_near_dup(vecs, threshold=0.3, dim=4, n_bits=4),
        dedup.simhash_near_dup_pairs(docs),
    ):
        plan = _plan_str(df)
        assert "BroadcastExchange" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


def test_embedding_near_dup_bucketed_matches_exhaustive_subset(
        spark, vecs):
    """Bucketed pairs are a subset of exhaustive pairs with identical
    scores, and the clear near-dup (colliding bucket) is found."""
    got = {(r.id_a, r.id_b): r.cos_sim
           for r in dedup.embedding_near_dup(
               vecs, threshold=0.3, dim=4, n_bits=4).collect()}
    full = {(r.id_a, r.id_b): r.cos_sim
            for r in dedup.embedding_near_dup(
                vecs, threshold=0.3, exhaustive=True).collect()}
    assert (0, 1) in got           # same sketch bucket -> found
    for k, v in got.items():
        assert full[k] == v
    # dim=None (default) sizes the hyperplane per row — identical to
    # the correct static dim, never the all-one-bucket degeneration
    auto = {(r.id_a, r.id_b): r.cos_sim
            for r in dedup.embedding_near_dup(
                vecs, threshold=0.3, n_bits=4).collect()}
    assert auto == got


def test_connected_components_star_long_chain(spark):
    """Star contraction must label a long-chain component (diameter >>
    min-label's max_iter) identically to ground truth, where the
    min-label loop would need O(diameter) rounds."""
    import warnings

    n = 60
    chain = [(i, i + 1) for i in range(n)]          # one 61-node chain
    extra = [(100, 101), (103, 101)]                # plus a small comp
    pairs = spark.createDataFrame(chain + extra, "id_a long, id_b long")
    got = {r.id: r.component
           for r in dedup.connected_components_star(pairs).collect()}
    assert got == {**{i: 0 for i in range(n + 1)},
                   **{100: 100, 101: 100, 103: 100}}
    # min-label with too-few rounds must refuse to be silently wrong
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        dedup.connected_components(pairs, max_iter=3).collect()
    assert any("did not converge" in str(x.message) for x in w)
    import pytest as _pytest
    with _pytest.raises(RuntimeError):
        dedup.connected_components(pairs, max_iter=3,
                                   on_nonconverged="error")


def test_connected_components_and_canonical(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 1)], "id_a long, id_b long")
    comp = {r.id: r.component
            for r in dedup.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5}
    keep = {r.id: r.is_canonical
            for r in dedup.dedup_canonical(pairs).collect()}
    assert keep == {1: True, 2: False, 3: False, 9: False,
                    5: True, 6: False}


def test_embedding_near_dup(spark, vecs):
    pairs = {(r.id_a, r.id_b): r.cos_sim
             for r in dedup.embedding_near_dup(vecs,
                                               threshold=0.9).collect()}
    assert list(pairs) == [(0, 1)]
    assert pairs[(0, 1)] >= 0.999


def test_semdedup_keep_rule(spark):
    """Cluster-then-prune: dup components resolve to ONE keeper, the
    member with the LOWEST centroid similarity (ties by id); vectors
    with no in-cluster neighbor above threshold are not emitted."""
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    rows = [
        # cluster 1: 0 and 1 are near-dups; 1 is farther from the
        # centroid (lower cent_sim) -> 1 is the keeper
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.3, 0.0]),
        # cluster 1 too, but orthogonal-ish to 0/1 in the y-z plane
        # component: far enough to stay below threshold vs both
        (2, [0.7, -0.7, 0.0]),
        # cluster 2: a 3-chain 3~4, 4~5 -> one component of 3
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.95, 0.2]),
        (5, [0.0, 0.85, 0.4]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: r for r in
           dedup.semdedup(df, cents, threshold=0.9).collect()}
    assert set(got) == {0, 1, 3, 4, 5}     # 2 has no dup neighbor
    assert got[0].cluster_id == 1 and got[3].cluster_id == 2
    # cluster-1 component keeps 1 (cent_sim 0.9xx < 1.0)
    assert got[0].keeper_id == 1 and not got[0].keep
    assert got[1].keeper_id == 1 and got[1].keep
    # cluster-2 chain component keeps 5 (lowest centroid similarity)
    for i in (3, 4, 5):
        assert got[i].keeper_id == 5
    assert got[5].keep and not got[3].keep and not got[4].keep


# ------------------------------------------------------------ similarity

def test_cosine_neighbors_and_topk(spark, vecs):
    q = vecs.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = {r.vec_id: r.cos_sim for r in
           similarity.cosine_neighbors(vecs, q, threshold=0.5).collect()}
    assert out[0] == 1.0 and out[1] > 0.99 and 2 not in out
    top = similarity.cosine_topk(vecs, q, k=2).collect()
    assert [r.vec_id for r in sorted(top, key=lambda r: r.rank)] == [0, 1]


def test_lsh_ann_recall_vs_exact(spark, vecs):
    q = vecs.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = {r.vec_id for r in
             similarity.cosine_neighbors(vecs, q, threshold=0.9).collect()}
    approx = {r.vec_id for r in
              similarity.lsh_neighbors(vecs, q, dim=4, n_bits=4,
                                       threshold=0.9).collect()}
    # sketch buckets must keep the exact near-dup reachable
    assert approx <= exact
    assert 0 in approx and 1 in approx


# ----------------------------------------------------------------- media

def test_parse_image_header_golden_bytes():
    """Byte-level golden vectors: the parser reads real container
    headers, including a JPEG whose SOF0 sits behind an APP0 segment
    (exercises the marker-segment walk)."""
    import struct

    png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
           + struct.pack(">II", 800, 600) + b"\x08\x02\x00\x00\x00"
           + b"\x00\x00\x00\x00tail")
    assert media.parse_image_header(png) == ("png", 800, 600)

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = (b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
            + struct.pack(">HH", 480, 640) + b"\x03"
            + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01")
    assert media.parse_image_header(
        b"\xff\xd8" + app0 + sof0) == ("jpeg", 640, 480)

    gif = b"GIF89a" + struct.pack("<HH", 320, 240) + b"\x00\x00\x00"
    assert media.parse_image_header(gif) == ("gif", 320, 240)
    # corrupt PNG dims beyond the spec's 2^31-1 cap: unparsed, not
    # an int32 overflow
    bad = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
           + b"\xff\xff\xff\xff" + struct.pack(">I", 10)
           + b"\x08\x02\x00\x00\x00")
    assert media.parse_image_header(bad) == ("png", None, None)
    assert media.parse_image_header(b"not an image") == \
        ("unknown", None, None)
    assert media.parse_image_header(b"\xff\xd8trunc")[0] == "jpeg"
    # WebP: all three public container layouts round-trip, and each
    # has a distinct dim encoding so they cross-check each other
    for sub in (0, 1, 2):
        assert media.parse_image_header(
            media._webp_header(641, 353, sub)) == ("webp", 641, 353)
    # lossy chunk without its 9D 01 2A sync code is unparsed
    broken = bytearray(media._webp_header(64, 64, 0))
    broken[23] = 0x00
    assert media.parse_image_header(bytes(broken)) == \
        ("webp", None, None)
    assert media.parse_image_header(b"RIFF\x00\x00\x00\x00WEBP") == \
        ("webp", None, None)
    # standalone TIFF in both byte orders; a dimension-less IFD is
    # unparsed, not wrong
    for be in (False, True):
        assert media.parse_image_header(
            media._tiff_header(800, 600, be)) == ("tiff", 800, 600)
    assert media.parse_image_header(
        b"II*\x00\x08\x00\x00\x00") == ("tiff", None, None)


def test_media_meta_real_headers(spark, docs):
    out = media.decode_image_meta(media.synth_image_payloads(docs))
    a = sorted(out.collect())
    assert a == sorted(out.collect())
    by = {r.doc_id: r for r in a}
    n = len("the quick brown fox jumps over the lazy dog")
    assert (by[0].format, by[0].width, by[0].height) == ("png", 16, 16)
    assert by[0].n_bytes == 33 + n
    assert (by[1].format, by[1].width, by[1].height) == \
        ("jpeg", 16 + 7, 16 + 13)
    assert by[2].format == "gif"
    # fixture JPEGs embed a real APP1/Exif orientation (1 + d % 8,
    # alternating TIFF byte orders); other formats report NULL
    assert by[1].orientation == 2  # 1 + doc_id % 8
    assert by[0].orientation is None and by[2].orientation is None


def test_jpeg_exif_orientation_golden():
    """The APP1/TIFF walk on hand-built bytes: all 8 orientation
    values in both byte orders, EXIF-less JPEGs -> None, corrupt
    TIFF headers and truncated segments degrade to None."""
    from html_parser_spark.operators import media

    for o in range(1, 9):
        for be in (False, True):
            p = (b"\xff\xd8" + media._exif_app1(o, big_endian=be)
                 + media._jpeg_header(8, 8)[2:])
            assert media.parse_jpeg_orientation(p) == o, (o, be)
    assert media.parse_jpeg_orientation(
        media._jpeg_header(8, 8)) is None
    bad = bytearray(b"\xff\xd8" + media._exif_app1(3))
    i = bad.find(b"II")
    bad[i:i + 2] = b"ZZ"
    assert media.parse_jpeg_orientation(bytes(bad)) is None
    assert media.parse_jpeg_orientation(
        (b"\xff\xd8" + media._exif_app1(3))[:20]) is None


def test_frame_sample_fanout(spark, docs):
    frames = media.sample_frames(media.with_binary(docs),
                                 every_n_bytes=10).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append(r)
    n = len("the quick brown fox jumps over the lazy dog")
    assert len(by_doc[0]) == (n + 9) // 10
    assert sorted(r.frame_idx for r in by_doc[0]) == \
        list(range(len(by_doc[0])))


# ----------------------------------------------------------------- plans

def test_salted_repartition_and_resume(spark, tmp_path):
    from html_parser_spark.plans import pipeline

    tr = spark.createDataFrame(
        [("hot", i, f"<p>t{i}</p>") for i in range(40)]
        + [("cold", 0, "<p>c</p>")],
        "conv_id string, turn_idx int, text string")
    salted = pipeline.salted_repartition(tr, 8, salt_buckets=8)
    sizes = (salted.rdd.glom().map(len).collect())
    # the hot conversation must not land in one partition
    assert max(sizes) < 41

    from html_parser_spark.config import EXTRACT_CONFIG
    from html_parser_spark.operators.extract import extract_text

    ex = extract_text(tr, EXTRACT_CONFIG).withColumn(
        "batch_id", (F.col("turn_idx") % 2).cast("int"))
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    n1 = pipeline.run_resumable(spark, ex, out_dir, ckpt)
    assert n1 == 2
    # second run: everything checkpointed, nothing re-executed
    n2 = pipeline.run_resumable(spark, ex, out_dir, ckpt)
    assert n2 == 0
    got = spark.read.parquet(out_dir)
    assert got.count() == 41
    lineage = spark.read.parquet(ckpt)
    assert set(r.batch_id for r in lineage.collect()) == {0, 1}
    assert lineage.agg(F.sum("n_rows")).collect()[0][0] == 41


def test_resume_partition_pruned_and_idempotent(spark, tmp_path):
    """File-group-granular resume: batches are partition directories,
    per-batch scans are partition-PRUNED, and a crash between the
    output write and the lineage commit cannot duplicate rows."""
    from html_parser_spark.config import EXTRACT_CONFIG
    from html_parser_spark.operators.extract import extract_text
    from html_parser_spark.plans import pipeline

    tr = spark.createDataFrame(
        [("c", i, f"<p>row &amp; {i}</p>") for i in range(30)],
        "conv_id string, turn_idx int, text string")
    ex = extract_text(tr, EXTRACT_CONFIG).withColumn(
        "batch_id", (F.col("turn_idx") % 3).cast("int"))
    src = str(tmp_path / "staged")
    ex.write.partitionBy("batch_id").parquet(src)
    staged = spark.read.parquet(src)

    # per-batch filter reaches the scan as a partition filter — each
    # batch re-reads only its own file group
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        staged.filter(F.col("batch_id") == 1).explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "batch_id" in plan.split("PartitionFilters")[1].split("]")[0]

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # simulate a crash AFTER batch 1's output write but BEFORE its
    # lineage commit: pre-write the batch subdirectory, no checkpoint
    (staged.filter(F.col("batch_id") == 1).drop("batch_id")
     .write.parquet(out_dir + "/batch_id=1"))

    n = pipeline.run_resumable(spark, staged, out_dir, ckpt)
    assert n == 3  # the half-written batch re-ran (not checkpointed)
    got = spark.read.parquet(out_dir)
    assert got.count() == 30  # overwrite made the re-run idempotent
    assert got.select("turn_idx").distinct().count() == 30

    # resume with complete checkpoint: nothing re-runs
    assert pipeline.run_resumable(spark, staged, out_dir, ckpt) == 0
    lineage = spark.read.parquet(ckpt)
    assert lineage.agg(F.sum("n_rows")).collect()[0][0] == 30

    # URI-form checkpoint path: completed batches still resolve (no
    # silent full re-run on file://-style locations)
    assert pipeline.completed_batches(
        spark, "file://" + ckpt) == {0, 1, 2}


def test_run_resumable_guards(spark, tmp_path):
    """The generic-input surface fails FAST and cleanly: batch ids
    the int32 lineage schema cannot commit (nulls, strings, >2^31)
    raise before any output lands; a custom/absent text column counts
    rows with zero chars instead of crashing the lineage write."""
    import pytest

    from html_parser_spark.plans import pipeline

    out, ckpt = str(tmp_path / "o"), str(tmp_path / "c")
    bad_null = spark.createDataFrame(
        [(1, "x", None), (2, "y", 0)],
        "doc_id long, extracted_text string, batch_id int")
    with pytest.raises(ValueError, match="int32"):
        pipeline.run_resumable(spark, bad_null, out, ckpt)
    bad_str = spark.createDataFrame(
        [(1, "x", "2026-08-17")],
        "doc_id long, extracted_text string, batch_id string")
    with pytest.raises(ValueError, match="int32"):
        pipeline.run_resumable(spark, bad_str, out, ckpt)
    assert not (tmp_path / "o").exists()  # nothing half-written

    ok = spark.createDataFrame(
        [(i, f"t{i}", i % 2) for i in range(6)],
        "doc_id long, body string, batch_id int")
    assert pipeline.run_resumable(spark, ok, out, ckpt,
                                  text_col="body") == 2
    lineage = spark.read.parquet(ckpt)
    assert lineage.agg(F.sum("n_rows")).collect()[0][0] == 6
    assert lineage.agg(F.sum("n_chars")).collect()[0][0] == 12  # 't0'..
    # absent text col: rows counted, chars 0, no crash
    out2, ckpt2 = str(tmp_path / "o2"), str(tmp_path / "c2")
    assert pipeline.run_resumable(spark, ok.drop("body"), out2, ckpt2,
                                  text_col="body") == 2
    l2 = spark.read.parquet(ckpt2)
    assert l2.agg(F.sum("n_rows")).collect()[0][0] == 6
    assert l2.agg(F.sum("n_chars")).collect()[0][0] == 0


def test_pack_and_chunk_null_text(spark):
    """NULL text is a first-class row: pack_sequences scores it as 0
    tokens with a well-formed bucket-local pack_id (no collapsed bare-
    bucket ids), chunk_documents yields its one empty chunk instead
    of dropping the row, and bad target_tokens fails fast."""
    import pytest

    from html_parser_spark.plans.pipeline import (
        chunk_documents, pack_sequences)

    df = spark.createDataFrame(
        [(1, "a b c"), (2, None), (3, "")],
        "doc_id long, text string")
    packed = {r.doc_id: r for r in
              pack_sequences(df, target_tokens=10).collect()}
    assert len(packed) == 3
    assert packed[2].n_tokens == 0
    assert "-" in packed[2].pack_id  # bucket-local, not bare bucket
    chunks = {r.doc_id: r for r in
              chunk_documents(df, max_tokens=2).collect()}
    assert chunks[2].chunk_text == "" and chunks[2].n_tokens == 0
    with pytest.raises(ValueError, match="target_tokens"):
        pack_sequences(df, target_tokens=0)


# ------------------------------------------------------------- streaming

def test_extract_text_stream_matches_batch(spark, tmp_path):
    from html_parser_spark.config import EXTRACT_CONFIG
    from html_parser_spark.operators.extract import extract_text
    from html_parser_spark.streaming import extract_stream as es

    tr = spark.createDataFrame(
        [("c1", i, "user", f"<p>turn &amp; {i}</p>", None)
         for i in range(20)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string")
    src = str(tmp_path / "src")
    tr.write.parquet(src)

    stream = es.read_transcript_stream(spark, src, tr.schema)
    q = (extract_text(stream, EXTRACT_CONFIG)
         .writeStream.format("memory").queryName("ex_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.conv_id, r.turn_idx): r.trimmed_text
           for r in spark.sql("SELECT * FROM ex_stream").collect()}
    exp = {(r.conv_id, r.turn_idx): r.trimmed_text
           for r in extract_text(tr, EXTRACT_CONFIG).collect()}
    assert got == exp
    assert got[("c1", 3)] == "turn & 3"


def test_headers_links_stream_match_batch(spark, tmp_path):
    """Stream==batch parity for the HeadParser and LinkExtor
    operators (VERDICT r01 item 10): same rows either way."""
    from html_parser_spark.operators.extract import head_headers, links
    from html_parser_spark.streaming import extract_stream as es

    tr = spark.createDataFrame(
        [("c1", i, "user",
          f'<html><head><title>T&amp;{i}</title>'
          f'<meta http-equiv="Expires" content="E{i}"></head>'
          f'<body><a href="/x{i}">t</a><img src="i{i}.png"></body>'
          f"</html>", None)
         for i in range(12)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string")
    src = str(tmp_path / "hl_src")
    tr.write.parquet(src)
    stream = es.read_transcript_stream(spark, src, tr.schema)

    qh = (head_headers(stream)
          .writeStream.format("memory").queryName("hdr_stream")
          .outputMode("append").trigger(availableNow=True).start())
    ql = (links(stream)
          .writeStream.format("memory").queryName("lnk_stream")
          .outputMode("append").trigger(availableNow=True).start())
    qh.awaitTermination(120)
    ql.awaitTermination(120)

    got_h = sorted(map(tuple, spark.sql(
        "SELECT * FROM hdr_stream").collect()))
    exp_h = sorted(map(tuple, head_headers(tr).collect()))
    assert got_h == exp_h and len(got_h) == 24  # Title + Expires / turn

    got_l = sorted(map(tuple, spark.sql(
        "SELECT * FROM lnk_stream").collect()))
    exp_l = sorted(map(tuple, links(tr).collect()))
    assert got_l == exp_l and len(got_l) == 24  # a.href + img.src / turn


def test_events_stream_matches_batch(spark, tmp_path):
    """Stream==batch parity for the FULL event surface (VERDICT r02
    item 10): every projected field — attrs, tokenpos, positions,
    tag prefixes — identical through the streaming path, argspec
    variant included."""
    from html_parser_spark.config import ParserConfig
    from html_parser_spark.operators.extract import events
    from html_parser_spark.streaming import extract_stream as es

    tr = spark.createDataFrame(
        [("c1", i, "user",
          f'<!DOCTYPE html><!-- c{i} --><p id=x{i} b>T&amp;{i}'
          f'</p><?pi{i}?>', None)
         for i in range(10)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string")
    src = str(tmp_path / "ev_src")
    tr.write.parquet(src)
    stream = es.read_transcript_stream(spark, src, tr.schema)

    qe = (events(stream)
          .writeStream.format("memory").queryName("ev_stream")
          .outputMode("append").trigger(availableNow=True).start())
    qa = (events(stream, ParserConfig(),
                 fields=("event", "tag", "offset"))
          .writeStream.format("memory").queryName("ev_stream_argspec")
          .outputMode("append").trigger(availableNow=True).start())
    qe.awaitTermination(120)
    qa.awaitTermination(120)

    def key(r):
        d = r.asDict()
        d["attrs"] = tuple(sorted((d["attrs"] or {}).items()))
        d["attrseq"] = tuple(d["attrseq"] or ())
        d["tokens"] = tuple(d["tokens"] or ())
        d["tokenpos"] = tuple(d["tokenpos"] or ())
        return tuple(d.values())

    got = sorted(map(key, spark.sql("SELECT * FROM ev_stream").collect()))
    exp = sorted(map(key, events(tr).collect()))
    assert got == exp and len(got) == 60  # 6 events x 10 turns

    got_a = sorted(map(tuple, spark.sql(
        "SELECT * FROM ev_stream_argspec").collect()))
    exp_a = sorted(map(tuple, events(
        tr, ParserConfig(), fields=("event", "tag", "offset")).collect()))
    assert got_a == exp_a and len(got_a) == 60
    # comment '#' / pi '?' prefixes survive the streaming path
    tags = {t for (_, _, _, _, t, _) in got_a if t}
    assert any(t.startswith("#") for t in tags)
    assert any(t.startswith("?") for t in tags)


def test_host_counts(spark):
    df = spark.createDataFrame(
        [("https://a.com/x",), ("https://a.com/x",),
         ("https://a.com/y",), ("http://b.org/z",), ("/relative",)],
        "url string")
    got = {r.host: (r.n_links, r.n_unique_urls)
           for r in textstats.host_counts(df).collect()}
    assert got["a.com"] == (3, 2)
    assert got["b.org"] == (1, 1)
    assert got[None] == (1, 1)  # relative URL -> no authority
    # hostnames are case-insensitive: mixed-case spellings aggregate
    mixed = spark.createDataFrame(
        [("http://Example.COM/a",), ("http://example.com/b",)],
        "url string")
    got2 = {r.host: r.n_links
            for r in textstats.host_counts(mixed).collect()}
    assert got2 == {"example.com": 2}


def test_url_and_text_edge_hardening(spark):
    """Review-driven edges: LIKE-wildcard tracking params must not
    strip content params (utmost=), fragments with embedded newlines
    still strip, NULL payloads flow through the media decoders, the
    skipped_text argspec lazily enables its accumulator, and
    quality_score stays DEFINED on null/empty text."""
    from html_parser_spark.operators.extract import events
    from html_parser_spark.operators.media import (
        decode_image_meta, decode_image_pixels, sample_frames)
    from html_parser_spark.operators.urls import canonicalize_urls

    urls = spark.createDataFrame(
        [(1, "https://ex.com/?utmost=1&utm_source=x"),
         (2, "http://h.com/p#a\nb"),
         (3, "http://alice@ex.com/x")],
        "doc_id long, url string")
    canon = {r.doc_id: r.canonical_url
             for r in canonicalize_urls(urls).collect()}
    assert canon[1] == "https://ex.com/?utmost=1"  # content param kept
    assert canon[2] == "http://h.com/p"            # \n fragment gone
    assert canon[3] == "http://ex.com/x"           # userinfo dropped

    media = spark.createDataFrame([(1, None), (2, b"xy")],
                                  "doc_id long, payload binary")
    assert decode_image_meta(media).count() == 2
    px = {r.doc_id: r.width for r in decode_image_pixels(media).collect()}
    assert px == {1: None, 2: None}
    assert sample_frames(media).count() == 1  # null -> no frames

    tr = spark.createDataFrame([("c", 0, "<i>x</i><b>y</b>")],
                               "conv_id string, turn_idx int, text string")
    from html_parser_spark.config import ParserConfig
    ev = events(tr, ParserConfig(reported_events=("end",)),
                fields=("tagname", "skipped_text")).collect()
    assert any(r.skipped_text for r in ev)  # lazily enabled, not null

    q = spark.createDataFrame([(1, None), (2, "")],
                              "doc_id long, text string")
    rows = {r.doc_id: r for r in
            textstats.quality_score(q, ["doc_id"]).collect()}
    for r in rows.values():
        assert r.n_chars == 0 and r.alpha_ratio == 0.0


def test_minhash_md5slice_family(spark, docs):
    """One-md5-per-shingle slice family: identical docs get identical
    signatures, near-dups share most slices, and the LSH composition
    still finds the duplicate pair."""
    sigs = dedup.minhash_signatures(docs, family="md5slice")
    by = {r.doc_id: tuple(r[f"h{i}"] for i in range(8))
          for r in sigs.collect()}
    assert by[0] == by[3]
    assert by[0] != by[2]
    assert all(len(v) == 4 for v in by[0])  # 4-hex-char slices
    shared = sum(a == b for a, b in zip(by[0], by[1]))
    assert shared >= 4
    pairs = {(r.id_a, r.id_b)
             for r in dedup.lsh_candidate_pairs(sigs).collect()}
    assert (0, 3) in pairs


# --------------------------------------------------- round-3 additions

def test_simhash_pairs_rejects_incomplete_radius(spark, docs):
    """4 fixed bands guarantee pigeonhole completeness only for
    hamming <= 3; a larger radius must be rejected, not silently
    under-reported."""
    with pytest.raises(ValueError, match="max_hamming"):
        dedup.simhash_near_dup_pairs(docs, max_hamming=4)


def test_jpeg_fill_bytes_before_marker():
    """ITU T.81 B.1.1.2: optional 0xFF fill bytes may precede any
    marker; the segment walk must skip them instead of reading a fill
    byte as the marker code."""
    import struct

    sof0 = (struct.pack(">H", 8 + 3 * 3) + b"\x08"
            + struct.pack(">HH", 31, 57) + b"\x03"
            + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01")
    # SOI, then APP0 with 2 fill bytes before it, then SOF0 with 3
    app0 = struct.pack(">H", 4) + b"\x00\x00"
    payload = (b"\xff\xd8"
               + b"\xff\xff\xff\xe0" + app0
               + b"\xff\xff\xff\xff\xc0" + sof0)
    assert media.parse_image_header(payload) == ("jpeg", 57, 31)


def test_lang_id_trigram_profiles(spark):
    """Char-trigram profile classifier: one clean sentence per
    language + a no-letter row -> 'other'."""
    rows = [
        (0, "the cat and the dog went to the house of the king"),
        (1, "le chat et le chien sont dans la maison de la ville"),
        (2, "der hund und die katze sind in der stadt und die haus"),
        (3, "el perro y el gato estan en la casa de los ninos"),
        (4, "il cane e il gatto sono nella casa che gli amici hanno"),
        (5, "o cao e o gato estao na casa do rio e a porta da frente"),
        (6, "de hond en de kat zijn in het huis van de stad en wij"),
        (7, "12345 67890"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.lang_pred for r in
           textstats.lang_id(df, ["doc_id"]).collect()}
    assert got == {0: "en", 1: "fr", 2: "de", 3: "es", 4: "it",
                   5: "pt", 6: "nl", 7: "other"}


def test_lang_id_cjk_profiles_and_script_fallback(spark):
    """zh/ja/ko bigram profiles score non-whitespace-delimited text;
    profile-gram-free CJK text lands via the codepoint-range fallback
    (kana -> ja before hangul -> ko before shared Han -> zh)."""
    rows = [
        (0, "我们的房子在城市里 这个孩子没有什么问题"),     # zh by profile
        (1, "この家は大きいです 犬と猫がいます"),           # ja by profile
        (2, "고양이와 개가 집에 있습니다 도시에서 삽니다"),  # ko by profile
        (3, "山川河流日月星辰天地"),        # Han, no gram -> zh fallback
        (4, "アイウエオカキクケコ"),        # katakana, no gram -> ja fallback
        (5, "가나다라마바사"),              # hangul, no gram -> ko fallback
        (6, "漢字とカタカナ"),              # kanji+kana, no gram -> ja wins
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.lang_pred, r.lang_score) for r in
           textstats.lang_id(df, ["doc_id"]).collect()}
    assert {k: v[0] for k, v in out.items()} == {
        0: "zh", 1: "ja", 2: "ko", 3: "zh", 4: "ja", 5: "ko", 6: "ja"}
    assert out[0][1] > 0 and out[1][1] > 0 and out[2][1] > 0
    assert out[3][1] == 0 and out[4][1] == 0  # fallback rows score 0


def test_lang_id_null_empty_and_filter_pushdown(spark):
    """Null/empty contract: both classify 'other' (null treated as
    empty text, score 0 not null), and a downstream filter on
    lang_pred — the plan shape that used to blow Janino's 64 KB limit
    and, in the first array-argmax rewrite, flipped null rows to 'ko'
    via the inlined predicate — keeps the same labels."""
    rows = [(0, "the cat and the dog of the town"),
            (1, None), (2, ""), (3, "qqq 123")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.lang_pred, r.lang_score) for r in
           textstats.lang_id(df, ["doc_id"]).collect()}
    assert out == {0: ("en", 14), 1: ("other", 0),
                   2: ("other", 0), 3: ("other", 0)}
    kept = (textstats.lang_id(df, ["doc_id"])
            .filter(F.col("lang_pred") == "en").collect())
    assert [r.doc_id for r in kept] == [0]
    dropped = (textstats.lang_id(df, ["doc_id"])
               .filter(F.col("lang_pred") != "en").count())
    assert dropped == 3


def test_dedup_canonical_star_long_chain(spark):
    """dedup_canonical defaults to star CC: a 120-long chain (diameter
    far beyond min-label's comfortable round budget) must resolve to
    one component with exactly one canonical row, in O(log n) rounds."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "id_a long, id_b long")
    out = dedup.dedup_canonical(pairs).collect()
    assert len(out) == 121
    assert all(r.component == 0 for r in out)
    assert [r.id for r in out if r.is_canonical] == [0]


def test_quality_lr_classifier(spark):
    """GPT-3-style LR quality classifier: the full 2-iteration GD fit
    is re-derived in pure Python (hashed buckets, margins, sigmoid
    residuals, rounded mean-gradient updates) and must match exactly;
    the model separates target-like from spam-like text; the fit is
    identical after repartitioning both classes."""
    import hashlib
    import math as m

    from html_parser_spark.operators.classifier import (
        quality_lr_score, train_quality_lr)

    B, lr, iters = 64, 0.5, 2
    pos_rows = [(i, "well written prose with varied vocabulary "
                    "and clear structure") for i in range(6)]
    neg_rows = [(i, "buy now click here buy now click here spam")
                for i in range(6, 12)]

    def buckets(t):
        ws = [x for x in t.lower().strip().split() if x]
        grams = ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]
        return [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % B
                for g in grams]

    feats = [(1.0, buckets(t)) for _, t in pos_rows] + \
            [(0.0, buckets(t)) for _, t in neg_rows]
    n = len(feats)
    bias, w = 0.0, [0.0] * B
    for _ in range(iters):
        grads, bgrad = [0.0] * B, 0.0
        for y, bs in feats:
            r = y - 1.0 / (1.0 + m.exp(-(bias + sum(w[b] for b in bs))))
            bgrad += r
            for b in bs:
                grads[b] += r
        w = [round(w[b] + lr * grads[b] / n, 6) for b in range(B)]
        bias = round(bias + lr * bgrad / n, 6)
    expect = [bias] + w

    pos = spark.createDataFrame(pos_rows, "doc_id long, text string")
    neg = spark.createDataFrame(neg_rows, "doc_id long, text string")
    got = train_quality_lr(pos, neg, buckets=B, iters=iters, lr=lr)
    assert got == pytest.approx(expect)
    got2 = train_quality_lr(pos.repartition(5), neg.repartition(3),
                            buckets=B, iters=iters, lr=lr)
    assert got == got2

    sc = {r.doc_id: r.lr_prob for r in
          quality_lr_score(pos.unionByName(neg), got,
                           ["doc_id"]).collect()}
    assert sc[0] > 0.5 > sc[6]


def test_temperature_weights():
    """Temperature mixing: T=1 reproduces proportional shares, T=2
    is sqrt-proportional (exact closed form), T->inf flattens toward
    uniform; zero-count strata drop; shares always sum to ~1."""
    import math

    from html_parser_spark.operators.sampling import (
        mix_fractions, temperature_weights)

    counts = {"en": 900, "fr": 90, "de": 9, "zz": 0}
    w1 = temperature_weights(counts, temperature=1.0)
    assert "zz" not in w1
    assert w1["en"] == round(900 / 999, 6)
    w2 = temperature_weights(counts, temperature=2.0)
    s = math.sqrt(900) + math.sqrt(90) + math.sqrt(9)
    assert w2 == {"en": round(30 / s, 6), "fr": round(math.sqrt(90) / s, 6),
                  "de": round(3 / s, 6)}
    w100 = temperature_weights(counts, temperature=100.0)
    assert max(w100.values()) - min(w100.values()) < 0.02  # near-flat
    for w in (w1, w2, w100):
        assert abs(sum(w.values()) - 1.0) < 1e-5
    # up-weighting: higher T raises the low-resource share
    assert w100["de"] > w2["de"] > w1["de"]
    # composes with mix_fractions verbatim (already-normalized)
    fr = mix_fractions(counts, w2, normalize=False)
    assert set(fr) == {"en", "fr", "de"} and all(
        0 < f <= 1.0 for f in fr.values())
    import pytest as _pytest
    with _pytest.raises(ValueError):
        temperature_weights(counts, temperature=0.0)


def test_ccnet_terciles(spark):
    """Head/middle/tail split is integer-exact and ordered by
    (xent, doc_id): target-like docs land in head, gibberish in
    tail, terciles are equal-size, gram-free docs are 'unscored',
    and the same ranks survive repartitioning."""
    from html_parser_spark.operators import sampling

    tgt_text = "spark shuffle partition executor arrow batch"
    rows = [(i, tgt_text) for i in range(3)]            # target-like
    rows += [(i, tgt_text + " cats purr windowsill dusk")
             for i in range(3, 6)]                       # mixed
    rows += [(i, "zz qq ww vv uu tt ss rr " * 2)
             for i in range(6, 9)]                       # gibberish
    rows += [(9, "")]                                    # gram-free
    df = spark.createDataFrame(rows, "doc_id long, text string")
    target = df.filter("doc_id < 3")
    out = {r.doc_id: r for r in
           sampling.ccnet_terciles(df, target, buckets=128).collect()}
    assert len(out) == 10
    assert out[9].ppl_bucket == "unscored" and out[9].ppl_rank is None
    scored = [r for r in out.values() if r.doc_id != 9]
    from collections import Counter
    assert Counter(r.ppl_bucket for r in scored) == {
        "head": 3, "middle": 3, "tail": 3}
    assert {r.doc_id for r in scored if r.ppl_bucket == "head"} \
        == {0, 1, 2}
    assert {r.doc_id for r in scored if r.ppl_bucket == "tail"} \
        == {6, 7, 8}
    # rank = row_number over (xent asc, doc_id asc)
    order = sorted(scored, key=lambda r: (r.ngram_xent, r.doc_id))
    assert [r.ppl_rank for r in order] == list(range(1, 10))
    again = {r.doc_id: (r.ppl_rank, r.ppl_bucket) for r in
             sampling.ccnet_terciles(df.repartition(7), target,
                                     buckets=128).collect()}
    assert again == {r.doc_id: (r.ppl_rank, r.ppl_bucket)
                     for r in out.values()}


def test_dsir_weights_select_and_determinism(spark):
    """DSIR importance weights: re-derived exactly in pure Python
    (md5 buckets, add-alpha smoothing, log-ratio sums) for every
    doc; target-like docs rank above off-target ones; selection via
    Gumbel-top-k is a pure function of (data, seed) — identical
    after repartitioning."""
    import hashlib
    import math as m

    from html_parser_spark.operators import sampling

    rows = [
        (0, "spark shuffle partition executor spark shuffle"),
        (1, "spark executor arrow batches shuffle partition"),
        (2, "cats purr softly on warm windowsills at dusk"),
        (3, "dogs bark loudly in the yard all day"),
        (4, ""),
    ]
    B, alpha = 128, 1.0

    def grams(t):
        w = [x for x in t.lower().strip().split() if x]
        return w + [f"{a} {b}" for a, b in zip(w, w[1:])]

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % B

    cp: dict[int, int] = {}
    cq: dict[int, int] = {}
    for did, t in rows:
        for g in grams(t):
            b = bucket(g)
            cq[b] = cq.get(b, 0) + 1
            if did <= 1:
                cp[b] = cp.get(b, 0) + 1
    np_, nq_ = sum(cp.values()), sum(cq.values())
    expect = {}
    for did, t in rows:
        s = sum(m.log((cp.get(bucket(g), 0) + alpha) / (np_ + alpha * B))
                - m.log((cq[bucket(g)] + alpha) / (nq_ + alpha * B))
                for g in grams(t))
        expect[did] = round(s, 3)

    df = spark.createDataFrame(rows, "doc_id long, text string")
    target = df.filter("doc_id <= 1")
    got = {r.doc_id: r.dsir_logw for r in
           sampling.dsir_logweights(df, target, buckets=B).collect()}
    assert got == pytest.approx(expect)
    assert got[0] > got[2] and got[1] > got[3] and got[4] == 0.0

    # CCNet-analogue cross-entropy under the same target model:
    # re-derived per doc; target-vocab docs read as lower-xent
    xent_expect = {}
    for did, t in rows:
        gs = grams(t)
        if not gs:
            xent_expect[did] = None
            continue
        s = sum(m.log((cp.get(bucket(g), 0) + alpha) / (np_ + alpha * B))
                for g in gs)
        xent_expect[did] = round(-s / len(gs), 3)
    xent_got = {r.doc_id: r.ngram_xent for r in
                sampling.ngram_xent(df, target, buckets=B).collect()}
    assert xent_got == pytest.approx(xent_expect)
    assert xent_got[0] < xent_got[2] and xent_got[1] < xent_got[3]

    sel = sampling.dsir_select(df, target, k=2, buckets=B).collect()
    sel2 = sampling.dsir_select(df.repartition(7), target, k=2,
                                buckets=B).collect()
    assert [(r.doc_id, r.rank) for r in sel] == \
        [(r.doc_id, r.rank) for r in sel2]
    assert {r.doc_id for r in sel} == {0, 1}


def test_dedup_lines_ccnet(spark):
    """CCNet-tier duplicate-line scrub: lines repeated across (or
    within) the corpus after digit/punct-insensitive normalization
    are removed; short normalized lines are exempt; blank lines pass
    through; every input doc yields exactly one output row."""
    rows = [
        (0, "Accept all cookies\nalpha beta gamma\nCopyright 2024."
            "\nok\n\ntail zero"),
        (1, "accept ALL cookies!\ndelta epsilon\ncopyright 2025"
            "\nok\n\ntail one"),
        (2, "repeat me please\nrepeat me please\nunique prose here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.dedup_lines(df).collect()}
    assert out[0].clean_text == "alpha beta gamma\nok\n\ntail zero"
    assert (out[0].n_lines, out[0].n_dup_lines) == (6, 2)
    assert out[1].clean_text == "delta epsilon\nok\n\ntail one"
    assert (out[1].n_lines, out[1].n_dup_lines) == (6, 2)
    # within-doc repetition counts toward the corpus threshold
    assert out[2].clean_text == "unique prose here"
    assert (out[2].n_lines, out[2].n_dup_lines) == (3, 2)


def test_dedup_lines_idempotent_and_layout_invariant(spark):
    """Randomized (seeded) corpus: scrubbing a second time removes
    nothing (all surviving lines had corpus count 1, exempt-short
    and blank lines stay exempt), and the result is identical after
    repartitioning the input."""
    import random

    rng = random.Random(20260817)
    boiler = ["Accept all cookies today", "Subscribe to the newsletter",
              "Copyright Example Site", "ok", ""]
    vocab = "alpha beta gamma delta epsilon zeta eta theta".split()
    rows = []
    for i in range(120):
        lines = []
        for _ in range(rng.randint(1, 6)):
            if rng.random() < 0.4:
                lines.append(rng.choice(boiler))
            else:
                lines.append(" ".join(rng.choices(vocab,
                                                  k=rng.randint(3, 8))))
        rows.append((i, "\n".join(lines)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    once = dedup.dedup_lines(df)
    out1 = {r.doc_id: r.clean_text for r in once.collect()}
    again = dedup.dedup_lines(
        once.select("doc_id", F.col("clean_text").alias("text")))
    for r in again.collect():
        assert r.n_dup_lines == 0
        assert r.clean_text == out1[r.doc_id]

    out2 = {r.doc_id: r.clean_text for r in
            dedup.dedup_lines(df.repartition(13)).collect()}
    assert out1 == out2


def test_passage_dup_spans(spark):
    """Lee-et-al-class passage dedup: a 9-word passage shared by 3
    docs is found at each doc's word offset; adjacent duplicated
    shingles merge into ONE span; a doc with no repeats emits no
    rows; a within-doc repeat is caught too."""
    P = "the quick brown fox jumps over the lazy dog"
    rows = [
        (0, "alpha beta gamma " + P + " delta epsilon"),
        (1, "uno dos tres cuatro " + P + " cinco"),
        (2, "nothing repeated here at all ever truly once"),
        (3, "w1 w2 w3 " + "r1 r2 r3 r4 r5 " * 2 + "w4 w5"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.span_start, r.span_end, r.n_words,
                      r.n_dup_shingles)
           for r in dedup.passage_dup_spans(df).collect()}
    # 9-word passage -> 5 shingles of 5 words, one merged span
    assert out[0] == (3, 11, 9, 5)
    assert out[1] == (4, 12, 9, 5)
    assert 2 not in out
    # within-doc repeat: both occurrences of r1..r5 live in one
    # merged span (positions 3..12 overlap within gap k)
    assert out[3][0] == 3 and out[3][1] >= 12
    # pure JVM: no Python eval in the plan
    plan = dedup.passage_dup_spans(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Python" not in plan and "BatchEvalPython" not in plan


def test_remove_dup_passages(spark):
    """Removal tail: duplicated spans are scrubbed from the text,
    span-free rows pass through whitespace-normalized, and the path
    stays pure JVM."""
    P = "the quick brown fox jumps over the lazy dog"
    rows = [
        (0, "alpha beta gamma " + P + " delta epsilon"),
        (1, "uno dos tres cuatro " + P + " cinco"),
        (2, "nothing repeated here at all ever truly once"),
        (3, "  spaced   text  " + P),
        (4, P),                       # doc that is ONLY the passage
        (5, P),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.scrubbed_text
           for r in dedup.remove_dup_passages(df).collect()}
    assert out[0] == "alpha beta gamma delta epsilon"
    assert out[1] == "uno dos tres cuatro cinco"
    assert out[2] == "nothing repeated here at all ever truly once"
    assert out[3] == "spaced text"
    assert out[4] == "" and out[5] == ""   # fully-duplicated doc
    plan = dedup.remove_dup_passages(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Python" not in plan


def test_decontaminate(spark):
    """Benchmark decontamination: a doc sharing one n-word shingle
    with the eval set is dropped, clean docs survive unchanged, an
    eval doc present verbatim in the corpus drops itself, and the
    eval side sits behind a broadcast (corpus never shuffled for the
    probe)."""
    EV = "the capital of france is paris said the guide"
    corpus = spark.createDataFrame(
        [
            (0, "intro words then " + EV + " trailing tail"),  # leak
            (1, "completely unrelated text about spark shuffles"),
            (2, EV),                                   # verbatim eval
            (3, "the capital of france shifted wording avoids runs"),
        ],
        "doc_id long, text string")
    ev = spark.createDataFrame([(EV,)], "text string")
    out = dedup.decontaminate(corpus, ev, n=5)
    assert sorted(r.doc_id for r in out.collect()) == [1, 3]
    # schema passes through untouched
    assert out.columns == corpus.columns
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "Python" not in plan
    # non-broadcast fallback gives the same answer
    out2 = dedup.decontaminate(corpus, ev, n=5, broadcast_eval=False)
    assert sorted(r.doc_id for r in out2.collect()) == [1, 3]


def test_contaminated_spans_scrub(spark):
    """Span-level decontamination: the leaked quote is located as a
    word span and scrubbed, keeping the surrounding good text; docs
    the whole-doc policy would discard entirely survive minus the
    leak; clean docs pass through."""
    EV = "the capital of france is paris said the guide"  # 9 words
    corpus = spark.createDataFrame(
        [
            (0, "intro words then " + EV + " trailing tail"),
            (1, "completely unrelated text about spark shuffles"),
            (2, EV),
        ],
        "doc_id long, text string")
    ev = spark.createDataFrame([(EV,)], "text string")
    spans = dedup.contaminated_spans(corpus, ev, n=5)
    got = {r.doc_id: (r.span_start, r.span_end)
           for r in spans.collect()}
    # 9-word quote at word offset 3 -> span 3..11; doc 2 fully covered
    assert got[0] == (3, 11)
    assert got[2] == (0, 8)
    assert 1 not in got
    scrubbed = {r.doc_id: r.scrubbed_text
                for r in dedup.remove_dup_passages(
                    corpus, spans=spans, k=5).collect()}
    assert scrubbed[0] == "intro words then trailing tail"
    assert scrubbed[1] == "completely unrelated text about spark shuffles"
    assert scrubbed[2] == ""


def test_contaminated_spans_randomized_vs_python_reference(spark):
    """Seeded randomized differential for the span-level
    decontamination path: 150 random word-docs (small vocab to force
    shingle collisions, planted verbatim eval embeddings) checked
    against an independent pure-Python re-implementation of the
    flag-merge-scrub semantics — span sets AND scrubbed texts must
    match exactly."""
    import random

    rng = random.Random(20260817)
    vocab = ["alpha", "bravo", "charlie", "delta", "echo", "fox",
             "golf", "hotel", "india", "juliet", "kilo", "lima"]
    N = 4
    evals = [" ".join(rng.choices(vocab, k=rng.randint(N, 9)))
             for _ in range(5)]
    docs = []
    for i in range(150):
        w = rng.choices(vocab, k=rng.randint(N, 30))
        if i % 10 == 0:   # plant a verbatim eval quote mid-doc
            quote = rng.choice(evals).split()
            at = rng.randint(0, len(w))
            w = w[:at] + quote + w[at:]
        docs.append((i, " ".join(w)))

    # independent reference: flag eval n-gram positions, merge
    # islands (break at gap > N, end = last+N-1), scrub covered words
    ev_grams = set()
    for e in evals:
        ew = e.split()
        for j in range(len(ew) - N + 1):
            ev_grams.add(tuple(ew[j:j + N]))
    exp_spans, exp_scrub = {}, {}
    for i, text in docs:
        w = text.split()
        flagged = [j for j in range(len(w) - N + 1)
                   if tuple(w[j:j + N]) in ev_grams]
        spans = []
        for p in flagged:
            if spans and p - spans[-1][2] <= N:
                spans[-1][1] = p + N - 1
                spans[-1][2] = p
            else:
                spans.append([p, p + N - 1, p])
        for s, e, _ in spans:
            exp_spans[(i, s, e)] = True
        covered = {j for s, e, _ in spans for j in range(s, e + 1)}
        exp_scrub[i] = " ".join(
            x for j, x in enumerate(w) if j not in covered)

    cdf = spark.createDataFrame(docs, "doc_id long, text string")
    edf = spark.createDataFrame([(e,) for e in evals], "text string")
    spans_df = dedup.contaminated_spans(cdf, edf, n=N).cache()
    got_spans = {(r.doc_id, r.span_start, r.span_end): True
                 for r in spans_df.collect()}
    assert got_spans == exp_spans
    got_scrub = {r.doc_id: r.scrubbed_text
                 for r in dedup.remove_dup_passages(
                     cdf, spans=spans_df, k=N).collect()}
    assert got_scrub == exp_scrub


def test_cosine_topk_bounded_plan_and_values(spark, vecs):
    """Multi-query top-k: no Window/global sort of the scored corpus —
    the per-partition reduction bounds the exchange; values exact."""
    q = vecs.filter(F.col("vec_id") <= 1).select(
        F.col("vec_id").alias("query_id"), "embedding")
    top = similarity.cosine_topk(vecs, q, k=2)
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "window" not in plan
    got = {(r.query_id, r.rank): r.vec_id for r in top.collect()}
    # query 0: itself then its near-dup 1; query 1: itself then 0
    assert got[(0, 1)] == 0 and got[(0, 2)] == 1
    assert got[(1, 1)] == 1 and got[(1, 2)] == 0


def test_resume_prune_contract_warning(spark, tmp_path):
    """run_resumable warns when the per-batch filter is NOT a
    partition filter (unpartitioned staging) and stays silent on a
    properly partitioned source."""
    import warnings as w

    from html_parser_spark.plans import pipeline

    df = spark.createDataFrame(
        [(i % 2, i, f"t{i}") for i in range(10)],
        "batch_id int, doc_id long, extracted_text string")
    flat = str(tmp_path / "flat")
    df.write.parquet(flat)                      # NOT partitioned
    part = str(tmp_path / "part")
    df.write.partitionBy("batch_id").parquet(part)

    with w.catch_warnings(record=True) as rec:
        w.simplefilter("always")
        pipeline.run_resumable(spark, spark.read.parquet(flat),
                               str(tmp_path / "o1"),
                               str(tmp_path / "c1"))
    assert any("partition filter" in str(x.message) for x in rec)

    with w.catch_warnings(record=True) as rec:
        w.simplefilter("always")
        pipeline.run_resumable(spark, spark.read.parquet(part),
                               str(tmp_path / "o2"),
                               str(tmp_path / "c2"))
    assert not any("partition filter" in str(x.message) for x in rec)


def test_jpeg_pixel_decode_full(spark, docs):
    """Baseline-JPEG decode path: valid fixture JFIFs (real DQT/DHT/
    SOF0/SOS, entropy-coded scan with byte stuffing) -> Huffman ->
    dequant -> IDCT -> YCbCr->RGB channel sums matching the
    closed-form per-block constants; every 5th doc is grayscale,
    doc 3 is 4:2:0-subsampled (interleaved 4-Y+Cb+Cr MCUs, chroma
    upsampled by nearest-neighbor)."""
    import math

    from html_parser_spark.operators.media import (
        _jpeg_block_consts, decode_image_pixels, synth_jpeg_images)

    out = {r.doc_id: r for r in
           decode_image_pixels(synth_jpeg_images(docs)).collect()}

    def clamp(v):
        return max(0, min(255, v))

    assert _jpeg_block_consts(3)[2] == "420"  # the arm is exercised
    for d in (0, 1, 2, 3, 4):  # 0 is grayscale (doc_id % 5 == 0)
        w, h, arm, consts = _jpeg_block_consts(d)
        rs = gs = bs = 0
        for yv, cb, cr in consts:
            if arm == "gray":
                r = g = b = yv
            else:
                r = clamp(math.floor(yv + 1.402 * (cr - 128) + 0.5))
                g = clamp(math.floor(yv - 0.344136 * (cb - 128)
                                     - 0.714136 * (cr - 128) + 0.5))
                b = clamp(math.floor(yv + 1.772 * (cb - 128) + 0.5))
            rs += 64 * r
            gs += 64 * g
            bs += 64 * b
        row = out[d]
        assert (row.width, row.height) == (w, h)
        assert (row.r_sum, row.g_sum, row.b_sum) == (rs, gs, bs)


def test_jpeg_ac_coefficients_and_idct():
    """The general AC run/size path (runs, ZRL, EOB) against an
    INDEPENDENT direct-form IDCT (the T.81 A.3.3 double sum written
    as plain loops, no shared code with the decoder's matrix form)."""
    import math

    from html_parser_spark.operators.media import (
        _encode_jpeg, decode_jpeg_pixels)

    blk = [0] * 64
    blk[0] = 8 * (140 - 128)
    blk[1] = 30      # immediate AC neighbor
    blk[16] = -12    # mid-zigzag after a zero run
    blk[63] = -7     # final coefficient: forces a ZRL stretch
    got = decode_jpeg_pixels(_encode_jpeg(8, 8, [[blk]]))

    def c(u):
        return 1 / math.sqrt(2) if u == 0 else 1.0

    total = 0
    for y in range(8):
        for x in range(8):
            v = sum(c(u) * c(vv) / 4.0 * blk[vv * 8 + u]
                    * math.cos((2 * x + 1) * u * math.pi / 16)
                    * math.cos((2 * y + 1) * vv * math.pi / 16)
                    for u in range(8) for vv in range(8))
            total += max(0, min(255, math.floor(v + 128.5)))
    assert got == (8, 8, total, total, total)


def test_jpeg_decoder_scope_degrades():
    """Out-of-scope shapes (progressive SOF2, >2x sampling factors,
    truncated scans, header-only fixtures) -> (None,)*5, no raise."""
    from html_parser_spark.operators.media import (
        _jpeg_header, _synth_jpeg_full, decode_jpeg_pixels)

    good = _synth_jpeg_full(2)
    assert decode_jpeg_pixels(good)[0] == 8 * (1 + 2 % 3)
    # flip SOF0 -> SOF2 (progressive)
    prog = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    assert decode_jpeg_pixels(prog) == (None,) * 5
    # 4:1:1-class sampling (factor 3/4) stays out of scope
    sub = bytearray(good)
    i = good.index(b"\xff\xc0")
    sub[i + 11] = 0x33  # comp 1 sampling h=3,v=3
    assert decode_jpeg_pixels(bytes(sub)) == (None,) * 5
    # truncated entropy data
    assert decode_jpeg_pixels(good[:len(good) // 2]) == (None,) * 5
    # the metadata-only header fixture has no SOS at all
    assert decode_jpeg_pixels(_jpeg_header(32, 16)) == (None,) * 5


def test_png_color_types_and_adam7():
    """PNG decode across the full 8-bit surface: RGB, RGBA (alpha
    stored, excluded from sums), grayscale (counted in all three
    channels), palette (PLTE lookup), and Adam7 interlace (per-pass
    filter/unfilter, so wrong pass geometry corrupts sums). 16-bit
    depth and a missing PLTE stay documented scope -> NULLs."""
    import struct
    import zlib

    from html_parser_spark.operators.media import (
        _PNG_SIG, _png_chunk, _synth_png_full, decode_png_pixels)

    for d in range(25):  # covers every (ctyp, interlace) pairing
        w, h = 4 + d % 13, 4 + d % 7
        ctyp = (2, 6, 0, 3)[d % 4]
        R = G = B = 0
        for y in range(h):
            for x in range(w):
                if ctyp in (2, 6):
                    R += (x + d) % 256
                    G += (y + 2 * d) % 256
                    B += (x + y + 3 * d) % 256
                elif ctyp == 0:
                    v = (x + d) % 256
                    R += v
                    G += v
                    B += v
                else:
                    i = (x + 2 * y + d) % 256
                    R += (5 * i + d) % 256
                    G += (7 * i + 2 * d) % 256
                    B += (11 * i + 3 * d) % 256
        assert decode_png_pixels(_synth_png_full(d)) == \
            (w, h, R, G, B), (d, ctyp)
    # gray+alpha (type 4, outside the fixture rotation)
    rows = b"".join(
        b"\x00" + bytes(b for x in range(3)
                        for b in ((x + y) % 256, 200))
        for y in range(3))
    ga = (_PNG_SIG
          + _png_chunk(b"IHDR",
                       struct.pack(">IIBBBBB", 3, 3, 8, 4, 0, 0, 0))
          + _png_chunk(b"IDAT", zlib.compress(rows))
          + _png_chunk(b"IEND", b""))
    s = sum((x + y) % 256 for x in range(3) for y in range(3))
    assert decode_png_pixels(ga) == (3, 3, s, s, s)
    # 16-bit depth and palette-without-PLTE degrade
    p16 = (_PNG_SIG + _png_chunk(
        b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0))
        + _png_chunk(b"IEND", b""))
    assert decode_png_pixels(p16) == (None,) * 5
    p3 = (_PNG_SIG + _png_chunk(
        b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(b"\x00\x00\x00" * 2))
        + _png_chunk(b"IEND", b""))
    assert decode_png_pixels(p3) == (None,) * 5


def test_gif_pixel_decode_full(spark, docs):
    """Complete GIF decode path: valid fixture GIFs (real GIF-LZW
    with LSB-first packing + late width change, extension blocks,
    interlace, global/local palettes) -> per-channel sums matching
    the closed-form palette+index formulas."""
    from html_parser_spark.operators import media

    out = {(r.doc_id, r.fmt): r for r in
           media.decode_image_pixels(
               media.synth_gif_images(docs))
           .withColumn("fmt", F.lit("gif")).collect()}
    # d=1 interlaced (1 % 4), d=2 local palette (2 % 5), d=0 plain
    for d in (0, 1, 2, 4):
        w, h = 4 + d % 11, 4 + d % 6
        r = out[(d, "gif")]
        pix = [(x + 2 * y + d) % 256
               for y in range(h) for x in range(w)]
        assert (r.width, r.height) == (w, h)
        assert r.r_sum == sum((5 * p + d) % 256 for p in pix)
        assert r.g_sum == sum((7 * p + 2 * d) % 256 for p in pix)
        assert r.b_sum == sum((11 * p + 3 * d) % 256 for p in pix)


def test_gif_lzw_codec_parity():
    """The GIF LZW pair stays in sync through width growth 9->12,
    table-full clears, the KwKwK self-reference, and small
    alphabets; corrupt streams -> None, never a raise."""
    import random

    from html_parser_spark.operators.media import (
        _gif_lzw_decode, _gif_lzw_encode, _synth_gif_full,
        decode_gif_pixels)

    rng = random.Random(7)
    incompressible = bytes(rng.randrange(256) for _ in range(30000))
    assert bytes(_gif_lzw_decode(
        _gif_lzw_encode(incompressible, 8), 8)) == incompressible
    compressible = bytes((i * i) % 7 for i in range(200000))
    assert bytes(_gif_lzw_decode(
        _gif_lzw_encode(compressible, 8), 8)) == compressible
    kwkwk = bytes([0, 1, 2, 3] * 500) + bytes([1] * 1000)
    assert bytes(_gif_lzw_decode(
        _gif_lzw_encode(kwkwk, 2), 2)) == kwkwk
    # a code beyond the table is corrupt, not a crash
    assert _gif_lzw_decode(b"\xff\xff\xff\xff", 2) is None
    # container degradations
    assert decode_gif_pixels(b"GIF89a") == (None,) * 5
    assert decode_gif_pixels(_synth_gif_full(0)[:40]) == (None,) * 5


#: a REAL-ENCODER GIF (CPython's idlelib plusnode.gif icon, PSF
#: licensed), 11x11, 4-color, mcs=2 — its 31-byte LZW stream crosses
#: several code-width boundaries, so it pins the spec/giflib width
#: timing (decoder widens at next_code == 2^width) that a
#: self-consistent encode/decode pair cannot test
_REAL_GIF = (
    b"GIF89a\x0b\x00\x0b\x00\xf1\x03\x00\xff\xff\xff\x7f\x7f\x7f"
    b"\x00\x00\x00\xc0\xc0\xc0!\xf9\x04\x05\x00\x00\x03\x00,\x00"
    b"\x00\x00\x00\x0b\x00\x0b\x00\x00\x02\x1f\x9c\x8f\x16\xcb\xac"
    b"\x00#\x08\x0f\x8aHG\x88\x17\xe6-\x84\xe1T\x01\x1d\xa9qX)}M"
    b"\x93\xc4C\x01\x00;")


def test_gif_real_world_decode():
    """The width-growth timing bug class: streams from a REAL
    encoder (not our own) must decode fully. The embedded golden
    vector always runs; when the host Python ships the idlelib icon
    set, every icon GIF is decoded as well (9/9 at fix time)."""
    import glob
    import os

    from html_parser_spark.operators.media import decode_gif_pixels

    assert decode_gif_pixels(_REAL_GIF) == (11, 11, 21944, 21944,
                                            21944)
    try:
        import idlelib
        icons = os.path.join(os.path.dirname(idlelib.__file__),
                             "Icons")
    except ImportError:
        return
    for p in glob.glob(os.path.join(icons, "*.gif")):
        with open(p, "rb") as fh:
            w, h, r, g, b = decode_gif_pixels(fh.read())
        assert w and h and w * h > 0, p


def test_mp4_frame_sampling(spark, docs):
    """The full video path on Spark: MJPEG-in-MP4 fixtures (rotating
    one-chunk / per-frame / multi-run stsc layouts; doc 5 would be
    co64 but the docs fixture stops at 4) -> box walk -> sample
    every 2nd frame -> JPEG decode; sums match the closed-form
    per-block constants, and the container metadata (duration,
    sample count, codec) round-trips."""
    import math

    from html_parser_spark.operators.video import (
        _frame_consts, sample_video_frames, synth_mp4_videos)

    out = {(r.doc_id, r.frame_idx): r for r in
           sample_video_frames(synth_mp4_videos(docs),
                               every_n=2).collect()}
    for d in range(5):
        w, h, n = 8 * (1 + d % 3), 8 * (1 + d % 2), 3 + d % 5
        sampled = list(range(0, n, 2))
        assert [f for dd, f in sorted(out) if dd == d] == sampled
        for f in sampled:
            r = out[(d, f)]
            assert (r.width, r.height) == (w, h)
            assert (r.duration_ms, r.n_samples) == (40 * n, n)
            assert r.codec == "jpeg"
            R = G = B = 0
            for by in range(h // 8):
                for bx in range(w // 8):
                    yv, cb, cr = _frame_consts(d, f, bx, by)
                    R += 64 * max(0, min(255, math.floor(
                        yv + 1.402 * (cr - 128) + 0.5)))
                    G += 64 * max(0, min(255, math.floor(
                        yv - 0.344136 * (cb - 128)
                        - 0.714136 * (cr - 128) + 0.5)))
                    B += 64 * max(0, min(255, math.floor(
                        yv + 1.772 * (cb - 128) + 0.5)))
            assert (r.r_sum, r.g_sum, r.b_sum) == (R, G, B)


def test_mp4_parse_degrades():
    """Box-walk robustness: co64 offsets parse (doc 5 and 12 are the
    7th-mod-5 rotation), every_n=1 samples everything, and corrupt
    containers -> None / no rows, never a raise."""
    from html_parser_spark.operators.video import (
        _synth_mp4_full, parse_mp4)

    for d in (5, 12):
        m = parse_mp4(_synth_mp4_full(d))
        assert m is not None and m["n_samples"] == 3 + d % 5
        assert all(o > 0 for o in m["offsets"])
    assert parse_mp4(b"") is None
    assert parse_mp4(b"\x00" * 64) is None
    assert parse_mp4(_synth_mp4_full(0)[:60]) is None
    # truncated mid-moov (inside the sample table): the size check
    # stops the walk cleanly and the table is incomplete -> None
    full = _synth_mp4_full(1)
    assert parse_mp4(full[:200]) is None
    # truncated mid-MDAT still parses (metadata is complete); the
    # missing frames degrade at the decode stage, not here
    assert parse_mp4(full[: len(full) // 2]) is not None
    # a sample table whose stsz disagrees with stsc coverage is
    # inconsistent, not an index error
    import struct

    bad = bytearray(full)
    i = bad.find(b"stsz")
    struct.pack_into(">I", bad, i + 12, 99)  # claim 99 samples
    assert parse_mp4(bytes(bad)) is None
    # hostile 32-bit counts must degrade instantly, not hang/OOM:
    # a single valid stts entry claiming 2^31-1 samples, and an
    # stsz/stco/stsc count far beyond what the box holds
    import time

    for four, at, val in ((b"stts", 4, 0x7FFFFFFF),
                          (b"stsz", 8, 0x7FFFFFFF),
                          (b"stsc", 4, 0x7FFFFFFF),
                          (b"stco", 4, 0x7FFFFFFF)):
        bomb = bytearray(full)
        j = bomb.find(four)
        struct.pack_into(">I", bomb, j + 4 + at, val)
        t0 = time.monotonic()
        parse_mp4(bytes(bomb))  # result may be None or clamped —
        # the contract under attack is bounded time/memory
        assert time.monotonic() - t0 < 2.0, four


def test_fmp4_fragment_walk(spark, docs):
    """The fragmented (DASH/HLS) layout end-to-end: empty stbl +
    mvex/trex defaults, moof/tfhd/trun runs with moof-relative data
    offsets — both default-duration paths (trex and tfhd 0x8) —
    resolve to the SAME frames and timing as the progressive
    layout of the same doc ids."""
    from html_parser_spark.operators.video import (
        sample_video_frames, synth_mp4_videos)

    prog = {(r.doc_id, r.frame_idx): r for r in
            sample_video_frames(synth_mp4_videos(docs),
                                every_n=2).collect()}
    frag = {(r.doc_id, r.frame_idx): r for r in
            sample_video_frames(
                synth_mp4_videos(docs, fragmented=True),
                every_n=2).collect()}
    assert frag.keys() == prog.keys() and len(frag) > 0
    for k, fr in frag.items():
        pr = prog[k]
        assert (fr.width, fr.height, fr.r_sum, fr.g_sum, fr.b_sum,
                fr.duration_ms, fr.n_samples) == \
            (pr.width, pr.height, pr.r_sum, pr.g_sum, pr.b_sum,
             pr.duration_ms, pr.n_samples), k


def test_fmp4_degrades():
    """Fragment robustness: moov-only (fragments stripped) parses
    with zero samples; a hostile trun sample count beyond the box is
    dropped; a zero default size marks the track corrupt -> None."""
    import struct

    from html_parser_spark.operators.video import (
        _synth_fmp4, parse_mp4)

    full = _synth_fmp4(0)
    moof_at = full.find(b"moof")
    head_only = full[: moof_at - 4]
    m = parse_mp4(head_only)
    assert m is not None and m["n_samples"] == 0
    bomb = bytearray(full)
    i = bomb.find(b"trun")
    struct.pack_into(">I", bomb, i + 8, 0x7FFFFFFF)
    # the hostile first fragment is dropped (capacity check); the
    # intact second fragment still merges — same torn-record
    # resilience as the WARC walk, and bounded time/memory
    m = parse_mp4(bytes(bomb))
    assert m is not None and m["n_samples"] == 1
    # fragment durations live in the MEDIA timescale: a 90 kHz
    # track under a 1000-unit movie must convert, not inflate 90x
    from html_parser_spark.operators.video import _mp4_layout

    p90 = bytearray(_synth_fmp4(6))
    _, _, n6, _ = _mp4_layout(6)
    j = p90.find(b"mdhd")
    struct.pack_into(">I", p90, j + 4 + 12, 90000)
    assert parse_mp4(bytes(p90))["duration"] == \
        (40 * n6) * 1000 // 90000
    # a 64-bit largesize moof header anchors offsets at the true
    # box start (16-byte header), so frames still decode
    from html_parser_spark.operators.media import decode_jpeg_pixels

    q = bytearray(_synth_fmp4(0))
    j = q.find(b"moof")
    sz = struct.unpack(">I", q[j - 4:j])[0]
    large = bytearray(q[:j - 4] + struct.pack(">I", 1) + b"moof"
                      + struct.pack(">Q", sz + 8) + q[j + 4:])
    t = large.find(b"trun", j)
    off = struct.unpack(">i", large[t + 12:t + 16])[0]
    struct.pack_into(">i", large, t + 12, off + 8)  # moof grew 8
    m = parse_mp4(bytes(large))
    assert m is not None and m["n_samples"] == 3
    assert all(decode_jpeg_pixels(bytes(large)[o:o + s])[0]
               is not None
               for o, s in zip(m["offsets"], m["sizes"]))


def test_mp4_caption_extraction(spark, docs):
    """The timed-text leg: the multi-track walk finds the tx3g
    track alongside the video track, resolves ITS sample table, and
    reads every length-prefixed caption with stts-derived timing."""
    from html_parser_spark.operators.video import (
        extract_video_captions, synth_mp4_videos)

    out = {(r.doc_id, r.cap_idx): r for r in
           extract_video_captions(synth_mp4_videos(docs)).collect()}
    for d in range(5):
        n_caps = 1 + d % 3
        assert [c for dd, c in sorted(out) if dd == d] \
            == list(range(n_caps))
        for f in range(n_caps):
            r = out[(d, f)]
            assert r.text == f"caption {f} of video {d}"
            assert (r.start_ms, r.end_ms) == (40 * f, 40 * (f + 1))


def test_mp4_caption_degrades(spark):
    """Caption robustness through the REAL operator: a corrupt
    in-sample length prefix drops that caption only, a non-MP4
    payload yields no rows, and parse_mp4 still returns the VIDEO
    track of the two-track file."""
    import struct

    from html_parser_spark.operators import video as V

    p = V._synth_mp4_full(2)  # 3 captions
    tk = next(t for t in V._parse_tracks(p)["tracks"]
              if t["handler"] == "text")
    bad = bytearray(p)
    struct.pack_into(">H", bad, tk["offsets"][1], 9999)

    df = spark.createDataFrame(
        [(2, bytes(bad)), (9, b"not an mp4 at all")],
        "doc_id long, payload binary")
    got = sorted((r.doc_id, r.cap_idx, r.text)
                 for r in V.extract_video_captions(df).collect())
    assert got == [(2, 0, "caption 0 of video 2"),
                   (2, 2, "caption 2 of video 2")]
    assert V.parse_mp4(p)["codec"] == "jpeg"  # video track untouched


def test_mp3_meta_walk(spark, docs):
    """MPEG-1 L3 frame-header walk through the Spark operator:
    ID3v2 syncsafe skip, table decode, per-frame padding-bit
    lengths; every field matches the closed-form params."""
    from html_parser_spark.operators.audio import (
        _mp3_params, decode_mp3_meta, synth_mp3_audio)

    out = {r.doc_id: r for r in
           decode_mp3_meta(synth_mp3_audio(docs)).collect()}
    for d in range(5):  # odd docs carry the ID3v2 tag
        kbps, sr, ch, n = _mp3_params(d)
        r = out[d]
        assert (r.sample_rate, r.channels, r.n_frames) == (sr, ch, n)
        assert r.sum_sq == kbps  # bitrate in the merged-arm column
        assert r.peak == n * 1152 * 1000 // sr  # duration_ms


def test_mp3_walk_degrades():
    """Stream robustness: truncated tails, lost sync, free-form
    bitrate, VBR streams, and a bare ID3 tag all -> NULLs, never a
    raise or a wrong count."""
    from html_parser_spark.operators.audio import (
        _synth_mp3, parse_mp3_meta)

    good = _synth_mp3(3)
    assert parse_mp3_meta(good)[2] == 4 + 3 % 4
    assert parse_mp3_meta(good[:-1]) == (None,) * 5
    assert parse_mp3_meta(b"\x00" + good) == (None,) * 5
    assert parse_mp3_meta(b"\xff\xfb\x00\x00") == (None,) * 5
    assert parse_mp3_meta(
        b"ID3\x03\x00\x00\x00\x00\x00\x02xx") == (None,) * 5
    # a VBR splice (two different-bitrate streams, no ID3 between)
    # is documented scope -> NULLs via the parameter-change check
    assert parse_mp3_meta(_synth_mp3(0) + _synth_mp3(2)) == \
        (None,) * 5
    # the sync mask keeps layers apart: Layer I (b1=0xFF) must be
    # rejected, CRC-protected Layer III (b1=0xFA) accepted
    def with_b1(v):
        b = bytearray(good)
        i = 0
        while i < len(b) - 1:
            if b[i] == 0xFF and b[i + 1] == 0xFB:
                b[i + 1] = v
            i += 1
        return bytes(b)

    assert parse_mp3_meta(with_b1(0xFF)) == (None,) * 5
    assert parse_mp3_meta(with_b1(0xFA))[:4] == \
        parse_mp3_meta(good)[:4]


def test_mp3_id3v2_footer_flag_skipped():
    """An ID3v2.4 tag with the footer flag (0x10) set carries a
    10-byte footer after its body; the walk must skip it and find
    the frame behind it."""
    from html_parser_spark.operators.audio import parse_mp3_meta

    body = b"TIT2"
    size = bytes([0, 0, 0, len(body)])              # syncsafe
    header = b"ID3\x04\x00\x10" + size
    footer = b"3DI\x04\x00\x10" + size
    flen = 144 * 128 * 1000 // 44100                # 128 kbps, 44.1 kHz
    frame = bytes([0xFF, 0xFB, 9 << 4, 0]) + b"\x00" * (flen - 4)
    assert parse_mp3_meta(header + body + footer + frame) == \
        (44100, 2, 1, 128, 1152 * 1000 // 44100)


def test_subtitle_cues(spark, docs):
    """WebVTT + SRT cue extraction on Spark: fixture timing/text in
    closed form, and real-world wrinkles on hand-built samples —
    NOTE/STYLE blocks, cue identifiers, SRT index lines, short
    MM:SS.mmm stamps, torn blocks skipped without losing
    neighbors."""
    from html_parser_spark.operators.subtitles import (
        parse_subtitles, subtitle_cues, synth_subtitles)

    out = {(r.doc_id, r.cue_idx): r for r in
           subtitle_cues(synth_subtitles(docs)).collect()}
    for d in range(5):
        n = 1 + d % 3
        fmt = "vtt" if d % 2 == 0 else "srt"
        assert [i for dd, i in sorted(out) if dd == d] \
            == list(range(n))
        for i in range(n):
            r = out[(d, i)]
            s = i * 65_432 + (d % 7) * 1000
            assert (r.fmt, r.start_ms, r.end_ms) == (fmt, s, s + 2500)
            assert r.text == f"cue {i} of doc {d}"
    vtt = ("WEBVTT\n\nNOTE x\nmore note\n\n"
           "00:01.000 --> 00:02.500\nHello\nsecond line\n\n"
           "STYLE\n::cue { color: red }\n\n"
           "id-7\n01:02:03.450 --> 01:02:04.000\nlater\n")
    # "00:01.000" is the VTT short form MM:SS.mmm -> 1 s
    assert parse_subtitles(vtt) == [
        ("vtt", 1_000, 2_500, "Hello\nsecond line"),
        ("vtt", 3_723_450, 3_724_000, "later")]
    srt = ("1\n00:00:01,000 --> 00:00:02,000\nfirst\n\n"
           "garbage block\nwithout timing\n\n"
           "2\n00:00:03,000 --> 00:00:04,000\nsecond\n")
    assert [c[3] for c in parse_subtitles(srt)] == ["first",
                                                   "second"]
    assert parse_subtitles("") == []
    assert parse_subtitles("random text\nno cues here\n") == []


def test_flac_streaminfo(spark, docs):
    """FLAC STREAMINFO walk on Spark: bit-packed field extraction
    across the rotating params, the not-last-block skip path (odd
    docs append a VORBIS_COMMENT), and degradations."""
    from html_parser_spark.operators.audio import (
        _flac_params, _synth_flac, decode_flac_meta, parse_flac_meta,
        synth_flac_audio)

    out = {r.doc_id: r for r in
           decode_flac_meta(synth_flac_audio(docs)).collect()}
    for d in range(5):
        sr, ch, bps, total = _flac_params(d)
        r = out[d]
        assert (r.sample_rate, r.channels, r.n_frames) == \
            (sr, ch, total)
        assert r.sum_sq == bps
        assert r.peak == total * 1000 // sr
    assert parse_flac_meta(b"") == (None,) * 5
    assert parse_flac_meta(b"fLaC") == (None,) * 5
    assert parse_flac_meta(_synth_flac(0)[:20]) == (None,) * 5
    # a wrong-length STREAMINFO is corrupt, not mis-read (block
    # header is at offset 4, its 24-bit length at offsets 5..7)
    bad = bytearray(_synth_flac(0))
    bad[5:8] = (33).to_bytes(3, "big")
    assert parse_flac_meta(bytes(bad)) == (None,) * 5


def test_warc_records_roundtrip(spark):
    """The WARC source end-to-end on Spark: synth segments (plain
    and per-record-gzip .warc.gz layouts) -> record walk -> HTTP
    envelope split; every header, type, URI, status, and body
    round-trips, and the response body is the original HTML."""
    from html_parser_spark.sources.warc import (
        synth_warc, warc_records)

    html = "<p>hello &amp; goodbye</p>"
    docs = spark.createDataFrame(
        [(str(i), html + f"<b>{i}</b>") for i in range(6)],
        "conv_id string, text string")
    out = {(r.doc_id, r.rec_idx): r for r in
           warc_records(synth_warc(docs)).collect()}
    for d in range(6):  # d=2,5 exercise the gzip-member layout
        assert [i for dd, i in sorted(out) if dd == d] == [0, 1, 2]
        info, req, resp = (out[(d, i)] for i in range(3))
        assert info.warc_type == "warcinfo" and info.uri is None
        assert info.n_body_bytes == 55
        assert req.warc_type == "request"
        assert req.uri == f"https://ex.com/d/{d}"
        assert req.http_status is None and req.n_body_bytes == 0
        assert resp.warc_type == "response"
        assert resp.http_status == 200
        assert resp.content_type == "text/html; charset=utf-8"
        assert resp.body == html + f"<b>{d}</b>"


def test_warc_parse_degrades():
    """Record-walk robustness: a torn record (corrupt
    Content-Length) is skipped by resyncing on the next WARC/
    marker without losing the records around it; truncation drops
    only the torn tail; corrupt gzip yields []; never a raise."""
    from html_parser_spark.sources.warc import (
        _synth_warc_bytes, parse_warc)

    p = _synth_warc_bytes(0, "<p>x</p>")
    full = [h["warc-type"] for h, _ in parse_warc(p)]
    assert full == ["warcinfo", "request", "response"]
    # tear record 1 (request): corrupt its Content-Length value
    i = p.find(b"Content-Length:", p.find(b"WARC-Type: request"))
    torn = p[:i] + b"Content-Length: zz\r\n" + p[p.index(b"\r\n", i) + 2:]
    kept = [h["warc-type"] for h, _ in parse_warc(torn)]
    assert "warcinfo" in kept and "response" in kept \
        and "request" not in kept
    # truncated mid-response: earlier records survive
    tail_cut = parse_warc(p[: len(p) - 40])
    assert [h["warc-type"] for h, _ in tail_cut] == \
        ["warcinfo", "request"]
    assert parse_warc(b"\x1f\x8bnot really gzip") == []
    assert parse_warc(b"") == []
    assert parse_warc(b"no records here at all") == []


def test_tar_webdataset(spark, docs):
    """The WebDataset tar-shard source end-to-end: ustar member
    walk (incl. whole-shard gzip), stem/ext split, and the
    stem-grouped sample view; the hand-rolled walk is additionally
    cross-checked against the stdlib tarfile reader in-process."""
    import io
    import tarfile

    from html_parser_spark.sources.tarshard import (
        _synth_tar, parse_tar, synth_tar_shards, tar_members,
        webdataset_samples)

    mem = tar_members(synth_tar_shards(docs))
    rows = {(r.doc_id, r.member_idx): r for r in mem.collect()}
    for d in range(5):  # d=1,4 are gzip shards
        n = 1 + d % 2
        assert [i for dd, i in sorted(rows) if dd == d] \
            == list(range(3 * n))
        for j in range(n):
            cls, js, txt = (rows[(d, 3 * j + k)] for k in range(3))
            assert cls.ext == "cls" and cls.body_text == str(d % 10)
            assert js.ext == "json" \
                and js.body_text == f'{{"id": {d}}}'
            assert txt.stem == f"shard/sample{j}-{d}"
            assert txt.body_text == f"text {j} of doc {d}"
            assert txt.n_bytes == len(txt.body_text)
    samples = {(r.doc_id, r.stem): r for r in
               webdataset_samples(mem).collect()}
    for d in range(5):
        for j in range(1 + d % 2):
            r = samples[(d, f"shard/sample{j}-{d}")]
            assert r.n_members == 3 and r.exts == "cls+json+txt"
    # independent-reader cross-check + degradations
    std = tarfile.open(fileobj=io.BytesIO(_synth_tar(0)))
    assert parse_tar(_synth_tar(0)) == [
        (m.name, std.extractfile(m).read()) for m in std.getmembers()]
    assert parse_tar(b"") == []
    assert parse_tar(b"\x00" * 1024) == []
    assert parse_tar(b"\x1f\x8bnot gzip") == []
    # bz2/xz shard compression (stdlib) dispatches by magic
    import bz2
    import lzma

    plain = _synth_tar(0)
    assert parse_tar(bz2.compress(plain)) == parse_tar(plain)
    assert parse_tar(lzma.compress(plain)) == parse_tar(plain)
    # zip shards: EOCD + central-directory walk, stored and deflate
    # members, stdlib zipfile cross-check, CRC-gated corruption
    import zipfile

    from html_parser_spark.sources.tarshard import (
        _synth_zip, parse_zip)

    for d in (0, 1):  # stored, deflate
        zp = _synth_zip(d)
        got = parse_zip(zp)
        zf = zipfile.ZipFile(io.BytesIO(zp))
        assert got == [(zi.filename, zf.read(zi))
                       for zi in zf.infolist()], d
    assert parse_zip(b"") == []
    assert parse_zip(_synth_zip(0)[:-10]) == []  # torn EOCD
    flip = bytearray(_synth_zip(0))
    i = flip.find(b"text 0 of doc 0")
    flip[i] ^= 0xFF  # CRC mismatch drops that member only
    assert [n for n, _ in parse_zip(bytes(flip))] == \
        ["shard/sample0-0.cls", "shard/sample0-0.json"]
    # pax and GNU long names (>100 chars) from STDLIB-written
    # archives resolve to the full path via the 'x'/'L' override
    # members
    for fmt in (tarfile.PAX_FORMAT, tarfile.GNU_FORMAT):
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w",
                          format=fmt) as tf:
            longname = "deep/" + "x" * 150 + "/sample0.txt"
            data = b"long-name payload"
            ti = tarfile.TarInfo(longname)
            ti.size = len(data)
            tf.addfile(ti, io.BytesIO(data))
            ti2 = tarfile.TarInfo("short.cls")
            ti2.size = 1
            tf.addfile(ti2, io.BytesIO(b"7"))
        assert parse_tar(buf.getvalue()) == \
            [(longname, data), ("short.cls", b"7")], fmt
    torn = parse_tar(_synth_tar(0)[:700])  # torn mid-2nd member
    assert [n for n, _ in torn] == ["shard/sample0-0.cls"]


def test_tar_multimodal_members_decode(spark):
    """The WebDataset multimodal path end-to-end: a shard whose
    samples carry BINARY image members routes those bytes straight
    into the media pixel decoder — tar walk -> (stem, payload) ->
    decode_image_pixels — while the text members keep flowing to
    the text tier. This is the plumbing a 100 TB image+caption
    corpus runs on."""
    from pyspark.sql import functions as F

    from html_parser_spark.operators.media import (
        _synth_png_full, decode_image_pixels, decode_png_pixels)
    from html_parser_spark.sources.tarshard import (
        _tar_header, parse_tar, tar_members)

    shard = bytearray()
    for d in (3, 7):
        png = _synth_png_full(d)
        for name, data in ((f"s{d}.png", png),
                           (f"s{d}.txt", f"caption {d}".encode())):
            shard += _tar_header(name, len(data)) + data
            shard += b"\x00" * ((-len(data)) % 512)
    shard += b"\x00" * 1024
    assert len(parse_tar(bytes(shard))) == 4

    df = spark.createDataFrame([(0, bytes(shard))],
                               "doc_id long, payload binary")
    mem = tar_members(df)
    # binary members: body_text NULL (not valid UTF-8), bytes intact
    imgs = mem.filter(F.col("ext") == "png")
    assert all(r.body_text is None for r in imgs.collect())
    # route the image members IN-DATAFRAME into the pixel decoder:
    # (stem as key, body as payload) -> decode_image_pixels
    decoded = {r.doc_id: r for r in decode_image_pixels(
        imgs.select(F.regexp_extract("stem", r"s(\d+)", 1)
                    .cast("long").alias("doc_id"),
                    F.col("body").alias("payload"))).collect()}
    for d in (3, 7):
        exp = decode_png_pixels(_synth_png_full(d))
        r = decoded[d]
        assert (r.width, r.height, r.r_sum, r.g_sum, r.b_sum) == exp
        assert (r.width, r.height) == (4 + d % 13, 4 + d % 7)
    # and the text members reach the text tier intact
    caps = {r.stem: r.body_text for r in
            mem.filter(F.col("ext") == "txt").collect()}
    assert caps == {"s3": "caption 3", "s7": "caption 7"}


def test_wav_audio_stats(spark, docs):
    """WAV/RIFF integer-PCM decode at the rotating 16/24/8-bit
    depths: complete fixture WAVs (true chunk sizes, junk LIST
    chunk, word alignment) -> exact integer sample stats matching
    the closed-form ramps; scope shapes -> NULLs."""
    import struct

    from html_parser_spark.operators.audio import (
        _synth_wav, _wav_params, _wav_sample, decode_wav_stats,
        decode_wav_stats_bytes, synth_wav_audio)

    out = {r.doc_id: r for r in
           decode_wav_stats(synth_wav_audio(docs)).collect()}
    # doc_ids 0..4 cover every bit depth (16/24/8 by doc_id % 3)
    for d in (0, 1, 2, 3, 4):
        rate, ch, nf, bits = _wav_params(d)
        vals = [_wav_sample(d, i, c, bits)
                for i in range(nf) for c in range(ch)]
        r = out[d]
        assert (r.sample_rate, r.channels, r.n_frames) == (rate, ch,
                                                           nf)
        assert r.sum_sq == sum(v * v for v in vals)
        assert r.peak == max(abs(v) for v in vals)
    # the 24-bit arm must really sign-extend: a hand-built WAV with
    # one negative 24-bit sample beyond int16 range
    neg = -(1 << 20) + 7
    frames = (neg & 0xFFFFFF).to_bytes(3, "little")
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000 * 3, 3, 24)
    wav24 = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8
                                   + len(frames) + 1)
             + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
             + b"data" + struct.pack("<I", len(frames)) + frames
             + b"\x00")
    assert decode_wav_stats_bytes(wav24) == \
        (8000, 1, 1, neg * neg, -neg)

    # scope degradations, never raises
    assert decode_wav_stats_bytes(b"") == (None,) * 5
    assert decode_wav_stats_bytes(b"RIFF\x04\x00\x00\x00JUNK") == \
        (None,) * 5
    good = _synth_wav(3)
    assert decode_wav_stats_bytes(good[:40]) == (None,) * 5
    # float PCM (format tag 3) is codec scope
    flt = good.replace(struct.pack("<HH", 1, 2),
                       struct.pack("<HH", 3, 2), 1)
    assert decode_wav_stats_bytes(flt) == (None,) * 5
    # 32-bit integer PCM is scope too (3 % 3 == 0 -> 16-bit fixture)
    b32 = good.replace(struct.pack("<HH", 4, 16),
                       struct.pack("<HH", 8, 32), 1)
    assert decode_wav_stats_bytes(b32) == (None,) * 5
    # NULL payload row flows through like the image decoders
    df = spark.createDataFrame([(1, None)],
                               "doc_id long, payload binary")
    row = decode_wav_stats(df).collect()[0]
    assert row.sample_rate is None and row.sum_sq is None


def test_png_pixel_decode_full(spark, docs):
    """Complete PNG decode path: valid fixture PNGs (real CRCs, zlib
    IDAT, mixed None/Sub/Up row filters) -> chunk walk -> inflate ->
    un-filter -> channel sums matching the closed-form pixels."""
    out = {r.doc_id: r for r in
           media.decode_image_pixels(
               media.synth_png_images(docs)).collect()}
    for d in (0, 1, 4):
        w, h = 4 + d % 13, 4 + d % 7
        r = out[d]
        assert (r.width, r.height) == (w, h)
        assert r.r_sum == sum((x + d) % 256
                              for y in range(h) for x in range(w))
        assert r.g_sum == sum((y + 2 * d) % 256
                              for y in range(h) for x in range(w))
        assert r.b_sum == sum((x + y + 3 * d) % 256
                              for y in range(h) for x in range(w))


def test_png_unfilter_average_paeth():
    """The decoder handles the full PNG filter set, not just the
    fixture's: Average and Paeth rows reconstruct exactly."""
    raw0 = bytes((10, 20, 30, 40, 50, 60))
    raw1 = bytes((15, 25, 35, 45, 55, 65))
    f0 = bytearray()
    for i, v in enumerate(raw0):
        a = raw0[i - 3] if i >= 3 else 0
        f0.append((v - ((a + 0) >> 1)) & 0xFF)      # Average, prev=0
    f1 = bytearray()
    for i, v in enumerate(raw1):
        a = raw1[i - 3] if i >= 3 else 0
        b = raw0[i]
        c = raw0[i - 3] if i >= 3 else 0
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
        f1.append((v - pr) & 0xFF)                   # Paeth
    buf = bytes([3]) + bytes(f0) + bytes([4]) + bytes(f1)
    assert bytes(media._png_unfilter(buf, 2, 2)) == raw0 + raw1


def test_content_blocks_density_rules(spark):
    """DOM-free boilerplate heuristics: block segmentation at
    block-level tags, link-density from <a>-enclosed chars, word-count
    floor; script subtrees contribute nothing."""
    from html_parser_spark.operators import content

    doc = ('<h1>Hi 1</h1>'
           '<p>real article text with many words</p>'
           '<script>var x = "<p>not a block</p>";</script>'
           '<div><a href="/a">nav one</a> <a href="/b">nav two</a></div>'
           '<p>tail words go here</p>')
    df = spark.createDataFrame([("c", 0, doc)],
                               "conv_id string, turn_idx int, text string")
    rows = sorted(content.content_blocks(df).collect(),
                  key=lambda r: r.block_seq)
    got = [(r.block_text, r.n_words, r.link_density, r.is_content)
           for r in rows]
    assert got == [
        ("Hi 1", 2, 0.0, False),
        ("real article text with many words", 6, 0.0, True),
        ("nav one nav two", 4, 0.933, False),
        ("tail words go here", 4, 0.0, True),
    ]
    main = content.main_content(df).collect()[0]
    assert main.main_text == ("real article text with many words\n"
                              "tail words go here")
    assert (main.n_blocks, main.n_content_blocks) == (4, 2)


def test_content_blocks_edge_cases(spark):
    """Unbalanced anchors never push link depth negative; entity
    decode applies inside blocks; <br> splits blocks; empty docs
    yield no blocks."""
    from html_parser_spark.operators import content

    df = spark.createDataFrame(
        [("c", 0, "</a>plain &amp; text words<br>next line of words"),
         ("c", 1, ""),
         ("c", 2, None)],
        "conv_id string, turn_idx int, text string")
    rows = sorted(content.content_blocks(df).collect(),
                  key=lambda r: (r.turn_idx, r.block_seq))
    assert [(r.turn_idx, r.block_text, r.is_content) for r in rows] == [
        (0, "plain & text words", True),
        (0, "next line of words", True),
    ]


def test_extract_tables_grid_and_soup(spark):
    """Structured table recovery: header/data cells in document
    order; soup rules (implicit row, unclosed cells, nested table
    numbering); entity decode + ws collapse on cell text; script
    subtrees dropped."""
    from html_parser_spark.operators import content

    grid = ('<h2>t</h2><table><tr><th>k</th><th>v &amp; w</th></tr>'
            '<tr><td> id \n</td><td>42</td></tr></table>'
            '<table><tr><td>x</td></tr></table>')
    soup = ('<table><td>a<td>b<tr><th>c'
            '<table><tr><td>inner</td></tr></table>tail'
            '<tr><td>d</table>after')
    scripted = ('<table><tr><td><script>var x = "<td>no";</script>'
                'keep &lt;it&gt;</td></tr></table>')
    spans = ('<table><tr><td colspan="3" rowspan="2">a</td>'
             '<td colspan="0">b</td>'
             '<td rowspan="-1" colspan="zz">c</td></tr>'
             '<tr><td>u</td><td>v</td></tr></table>')
    df = spark.createDataFrame(
        [("c", 0, grid), ("c", 1, soup), ("c", 2, scripted),
         ("c", 3, "no tables here"), ("c", 4, None),
         ("c", 5, spans)],
        "conv_id string, turn_idx int, text string")
    rows = sorted(content.extract_tables(df).collect(),
                  key=lambda r: (r.turn_idx, r.table_seq,
                                 r.row_seq, r.cell_seq))
    # colspan/rowspan reported (browser-style 1 for bad values) and
    # resolved into grid columns: a spans cols 0-2 of rows 0-1, so
    # row 1's cells start at grid_col 3
    assert [(r.cell_text, r.colspan, r.rowspan, r.grid_col)
            for r in rows if r.turn_idx == 5] == [
        ("a", 3, 2, 0), ("b", 1, 1, 3), ("c", 1, 1, 4),
        ("u", 1, 1, 3), ("v", 1, 1, 4)]
    rows = [r for r in rows if r.turn_idx != 5]
    got = [(r.turn_idx, r.table_seq, r.row_seq, r.cell_seq,
            r.is_header, r.cell_text) for r in rows]
    assert got == [
        (0, 0, 0, 0, True, "k"),
        (0, 0, 0, 1, True, "v & w"),
        (0, 0, 1, 0, False, "id"),
        (0, 0, 1, 1, False, "42"),
        (0, 1, 0, 0, False, "x"),
        (1, 0, 0, 0, False, "a"),
        (1, 0, 0, 1, False, "b"),
        (1, 0, 1, 0, True, "c"),
        (1, 0, 2, 0, False, "d"),
        (1, 1, 0, 0, False, "inner"),
        (2, 0, 0, 0, False, "keep <it>"),
    ]


def test_extract_tables_layout_invariance(spark):
    """Randomized: the recovered cells are invariant to inter-tag
    whitespace layout (pretty-printed vs minified HTML), and
    numbering is well-formed (cell_seq strictly increasing within a
    row, row_seq within a table)."""
    import random
    import re

    from html_parser_spark.operators import content

    rng = random.Random(20260818)

    def rand_table(depth):
        rows = []
        for ri in range(rng.randint(1, 3)):
            cells = []
            for ci in range(rng.randint(1, 3)):
                tag = rng.choice(("td", "th"))
                body = " ".join(
                    f"w{rng.randint(0, 99)}"
                    for _ in range(rng.randint(0, 3)))
                if depth < 2 and rng.random() < 0.25:
                    body += rand_table(depth + 1)
                close = f"</{tag}>" if rng.random() < 0.7 else ""
                cells.append(f"<{tag} colspan={rng.randint(1, 3)}>"
                             f"{body}{close}")
            rows.append("<tr>" + "".join(cells)
                        + ("</tr>" if rng.random() < 0.5 else ""))
        return "<table>" + "".join(rows) + "</table>"

    docs = [rand_table(0) + " tail" for _ in range(12)]
    pretty = [re.sub(r"><", ">\n   <", d) for d in docs]
    mk = lambda ds: spark.createDataFrame(
        [("c", i, d) for i, d in enumerate(ds)],
        "conv_id string, turn_idx int, text string")
    key = lambda r: (r.turn_idx, r.table_seq, r.row_seq, r.cell_seq)
    a = sorted(map(tuple, content.extract_tables(mk(docs)).collect()))
    b = sorted(map(tuple,
                   content.extract_tables(mk(pretty)).collect()))
    assert a == b and len(a) > 20
    rows = sorted(content.extract_tables(mk(docs)).collect(), key=key)
    seen, gcol = {}, {}
    for r in rows:
        k = (r.turn_idx, r.table_seq, r.row_seq)
        assert r.cell_seq == seen.get(k, -1) + 1  # dense, in order
        seen[k] = r.cell_seq
        assert r.colspan >= 1 and r.rowspan >= 1
        # grid columns advance by at least the previous colspan
        prev = gcol.get(k)
        if prev is not None:
            assert r.grid_col >= prev[0] + prev[1]
        gcol[k] = (r.grid_col, r.colspan)


def test_pdf_text_extraction(spark, docs):
    """Complete valid PDFs -> text with layout newlines; page count
    from the page tree; page 2's rotating filter (doc_id 3 hits the
    [AHx RL] chain) and page 3's CID font both decode."""
    from html_parser_spark.operators import pdf

    out = {r.doc_id: r for r in
           pdf.extract_pdf_text(pdf.synth_pdf_payloads(docs)).collect()}
    assert out[3].n_pages == 3
    assert out[3].pdf_text == ("Hello doc 3 (escaped)\nsecond line 3\n"
                               "third line\nfragmented hex 3\n"
                               "page two of 3\nCID PAGE 3 [#] ff�")


def test_pdf_parser_robustness():
    """Never raises: truncated files, bogus filters, broken zlib,
    octal/escape strings, uncompressed streams."""
    from html_parser_spark.operators.pdf import (
        _content_text, extract_pdf_text_bytes)

    assert extract_pdf_text_bytes(b"") == (0, "")
    assert extract_pdf_text_bytes(b"%PDF-1.4\ngarbage") == (0, "")
    # unsupported filter -> skipped, not raised
    doc = (b"1 0 obj\n<< /Filter /DCTDecode /Length 3 >>\n"
           b"stream\nxyz\nendstream\nendobj\n")
    assert extract_pdf_text_bytes(doc) == (0, "")
    # broken Flate data -> skipped
    doc = (b"1 0 obj\n<< /Filter /FlateDecode /Length 3 >>\n"
           b"stream\nxyz\nendstream\nendobj\n")
    assert extract_pdf_text_bytes(doc) == (0, "")
    # uncompressed stream parses directly; octal + escapes + nesting
    assert _content_text(
        rb"BT (a\051b \101 (nested) \\ end) Tj ET") == \
        "a)b A (nested) \\ end"
    # kerning offsets inside TJ do NOT split words; T* breaks lines
    assert _content_text(
        b"BT [(Hel) -20 (lo)] TJ T* (next) Tj ET") == "Hello\nnext"
    # stray delimiters must terminate, not spin (regression: the
    # operator scan once consumed zero chars on an unbalanced ')')
    for junk in (b")", b"}{", b")))(((", b"> >", b"<", b"]]"):
        assert _content_text(junk) == ""
    # \8 and \9 are NOT octal (int(.,8) once escaped to the outer
    # except and silently dropped the whole document's text); the
    # undefined escape keeps the char per ISO 32000-1
    assert _content_text(rb"BT (a\8b \9 \7) Tj ET") == "a8b 9 \x07"
    # line continuation is backslash + ANY EOL marker: CR, LF, CRLF
    assert _content_text(b"BT (ab\\\r\ncd ef\\\rgh) Tj ET") == "abcd efgh"


def test_parse_zip_prepended_data():
    """A zip behind prepended bytes (a self-extractor stub) still
    yields its members: the central directory and local-header
    offsets shift by the prepended length."""
    import io
    import zipfile

    from html_parser_spark.sources.tarshard import _zip_build, parse_zip

    members = [("a.txt", b"alpha"), ("dir/b.json", b'{"b": 2}' * 40)]
    for deflate in (False, True):
        zp = b"#!stub\n" + bytes(range(256)) + _zip_build(members,
                                                          deflate)
        assert parse_zip(zp) == members
        zf = zipfile.ZipFile(io.BytesIO(zp))
        assert [(zi.filename, zf.read(zi)) for zi in zf.infolist()] \
            == members


def test_invalid_unicode_entity_doc_survives(spark):
    """The reference's byte-granular surrogate chop can produce text
    that is not valid Unicode (kept bug-for-bug in decode_entities);
    the Arrow boundary must degrade it to U+FFFD instead of letting
    one pathological document kill the whole task (and the marked-
    section scan must not crash on a document ending in ']')."""
    from pyspark.sql import functions as F

    from html_parser_spark.config import EXTRACT_CONFIG, ParserConfig
    from html_parser_spark.functions.tokenizer import tokenize
    from html_parser_spark.operators import extract as ops

    bad = "&#xD800;&#xFFFF;éab&#xDC00;"
    doc = f'<p a="{bad}">{bad}</p>'
    tr = spark.createDataFrame(
        [("c", 0, doc), ("c", 1, "<p>fine</p>")],
        "conv_id string, turn_idx int, text string")
    got = {r.turn_idx: r.extracted_text
           for r in ops.extract_text(tr, EXTRACT_CONFIG).collect()}
    assert "�" in got[0] and got[1] == " fine "
    # full events surface (dtext + attr map carry the decoded value)
    assert ops.events(tr, ParserConfig()).count() == 6
    dec = tr.select(ops.decode_entities_col(F.col("text"))
                    .alias("d")).collect()
    assert all(r.d.encode("utf-8") is not None for r in dec)

    # marked-section EOF-']' crash regression (matches the compiled
    # reference's observable output)
    cfg = ParserConfig(marked_sections=True)
    assert [(r[0], "<![include[x]"[r[1]:r[2]])
            for r in tokenize("<![include[x]", cfg)] == [("text", "x]")]
    assert tokenize("<![ignore[foo]]", cfg) == []
    # events synthesized at EOF inside <![ignore[ are suppressed like
    # the reference (the live ms state reaches them now)
    rows = tokenize("<title>x<![ignore[<b>", cfg)
    assert [r[0] for r in rows] == ["start", "text"]


def test_pdf_null_payload_row(spark):
    """A NULL payload row yields (0, '') like the media decoders,
    never a worker TypeError."""
    from html_parser_spark.operators.pdf import extract_pdf_text

    df = spark.createDataFrame([(1, None), (2, b"%PDF-1.4")],
                               "doc_id long, payload binary")
    got = {r.doc_id: (r.n_pages, r.pdf_text)
           for r in extract_pdf_text(df).collect()}
    assert got == {1: (0, ""), 2: (0, "")}


def test_pdf_stream_data_ending_in_cr():
    """Flate data whose last byte is 0x0D must not be truncated by
    the EOL-before-endstream heuristic — /Length is authoritative
    (doc_id 1049's compressed stream ends in CR)."""
    from html_parser_spark.operators.pdf import (
        _synth_pdf, extract_pdf_text_bytes)

    n_pages, text = extract_pdf_text_bytes(_synth_pdf(1049))
    assert n_pages == 3
    assert text.startswith("Hello doc 1049 (escaped)")


def test_pdf_filter_codecs_roundtrip():
    """ASCIIHex / ASCII85 / RunLength / LZW decoders against their
    fixture encoders, incl. an LZW payload large and random enough to
    force 10->11->12-bit widths and a table-full Clear restart."""
    import hashlib

    from html_parser_spark.operators.pdf import (
        _a85_decode, _a85_encode, _ahx_decode, _ahx_encode,
        _lzw_decode, _lzw_encode, _rl_decode, _rl_encode)

    blob = b"".join(hashlib.sha256(i.to_bytes(2, "big")).digest()
                    for i in range(1500))  # 48 KB, ~incompressible
    assert _lzw_decode(_lzw_encode(blob)) == blob
    assert _lzw_decode(_lzw_encode(b"")) == b""
    assert _lzw_decode(_lzw_encode(b"AAAAABBBBB" * 7)) == \
        b"AAAAABBBBB" * 7
    assert _a85_decode(_a85_encode(blob[:997])) == blob[:997]
    # 'z' shorthand for a zero group + a partial final group
    assert _a85_decode(_a85_encode(b"\0\0\0\0ab")) == b"\0\0\0\0ab"
    assert _rl_decode(_rl_encode(blob[:300])) == blob[:300]
    assert _ahx_decode(_ahx_encode(b"\x00\xff hi")) == b"\x00\xff hi"
    # odd final hex digit pads with 0; '>' is EOD
    assert _ahx_decode(b"4142 4>junk") == b"AB@"


def test_pdf_lzw_decoder_hand_packed_vectors():
    """Decoder correctness independent of the fixture encoder:
    hand-packed 9-bit code streams, incl. the KwKwK case (a code
    equal to the table's current length, §7.4.4 / classic LZW)."""
    from html_parser_spark.operators.pdf import _lzw_decode

    def pack9(codes):
        acc = nbits = 0
        out = bytearray()
        for c in codes:
            acc = (acc << 9) | c
            nbits += 9
            while nbits >= 8:
                out.append((acc >> (nbits - 8)) & 0xFF)
                nbits -= 8
        if nbits:
            out.append((acc << (8 - nbits)) & 0xFF)
        return bytes(out)

    # clear, 'A', 'B', entry258("AB"), EOD
    assert _lzw_decode(pack9([256, 65, 66, 258, 257])) == b"ABAB"
    # KwKwK: code 258 arrives while entry 258 is still pending
    assert _lzw_decode(pack9([256, 65, 258, 257])) == b"AAA"
    # a code beyond the table is malformed, not a crash
    assert _lzw_decode(pack9([256, 65, 300, 257])) is None


def test_pdf_filter_chains_and_scope():
    """/Filter arrays apply in order; predictor DecodeParms, image
    codecs, and unreadable /Filter values degrade to no-text."""
    import zlib

    from html_parser_spark.operators.pdf import (
        _ahx_encode, _apply_filters, _rl_encode)

    raw = b"BT (chained) Tj ET"
    data = _ahx_encode(_rl_encode(raw))
    head = b"<< /Filter [ /ASCIIHexDecode /RunLengthDecode ] >>"
    assert _apply_filters(data, head) == raw
    # abbreviated names (Fl, AHx, ...) from the inline-image table
    assert _apply_filters(_ahx_encode(raw), b"<< /Filter /AHx >>") \
        == raw
    # PNG-family predictor (the real-world Flate companion): encode
    # rows with Up/Sub prediction, decode through the chain
    content = b"BT (predicted rows work) Tj ET  "  # pad to 8 | len
    cols = 8
    rows = [content[i:i + cols] for i in range(0, len(content), cols)]
    enc = bytearray()
    prev = bytes(cols)
    for ri, row in enumerate(rows):
        if ri % 2:
            enc.append(2)  # Up
            enc += bytes((row[i] - prev[i]) & 0xFF
                         for i in range(cols))
        else:
            enc.append(1)  # Sub (bpp=1)
            enc += bytes((row[i] - (row[i - 1] if i else 0)) & 0xFF
                         for i in range(cols))
        prev = row
    z = zlib.compress(bytes(enc))
    head = (b"<< /Filter /FlateDecode /DecodeParms << /Predictor 12"
            b" /Columns 8 >> >>")
    assert _apply_filters(z, head) == content
    assert _apply_filters(
        zlib.compress(b"xyz"), head) is None  # not row-structured
    # TIFF Predictor 2 (horizontal differencing, bpc=8): forward-
    # difference rows of Columns samples x Colors components, decode
    # through the chain
    content = b"BT (tiff predictor rows) Tj ET"  # 30 = 5 cols x 3
    colors, cols = 3, 5
    rowlen = cols * colors
    tenc = bytearray(content)
    for r in range(0, len(tenc), rowlen):
        for i in range(rowlen - 1, colors - 1, -1):
            tenc[r + i] = (content[r + i] - content[r + i - colors]) \
                & 0xFF
    thead = (b"<< /Filter /FlateDecode /DecodeParms << /Predictor 2"
             b" /Columns 5 /Colors 3 >> >>")
    assert _apply_filters(zlib.compress(bytes(tenc)), thead) \
        == content
    # sub-byte TIFF differencing stays scope; short data degrades
    assert _apply_filters(
        zlib.compress(bytes(tenc)),
        b"<< /Filter /FlateDecode /DecodeParms << /Predictor 2"
        b" /Columns 5 /Colors 3 /BitsPerComponent 4 >> >>") is None
    assert _apply_filters(
        zlib.compress(b"xyz"), thead) is None  # not row-structured
    assert _apply_filters(raw, b"<< /Filter /DCTDecode >>") is None
    assert _apply_filters(raw, b"<< /Filter 5 0 R >>") is None
    assert _apply_filters(raw, b"<< /Length 18 >>") == raw


def test_pdf_tounicode_cmap_forms():
    """bfchar (incl. multi-code-unit destination), arithmetic
    bfrange, array-form bfrange, and unmapped-code policy."""
    from html_parser_spark.operators.pdf import (
        _FIXTURE_CMAP, _cid_decode, _parse_tounicode)

    cmap = _parse_tounicode(_FIXTURE_CMAP)
    assert cmap[0x0020] == " " and cmap[0x0200] == "ff"
    assert cmap[0x0030] == "0" and cmap[0x0039] == "9"  # arithmetic
    assert cmap[0x0041] == "A" and cmap[0x005A] == "Z"
    assert (cmap[0x0100], cmap[0x0101], cmap[0x0102]) == \
        ("[", "#", "]")  # array form
    assert 0x0999 not in cmap
    assert _cid_decode("\x00A\x09\x99\x00 \x02\x00", cmap) == "A� ff"
    # trailing odd byte renders exactly one U+FFFD
    assert _cid_decode("\x00A\x7f", cmap) == "A�"


def test_pdf_cid_font_without_tounicode_is_fffd():
    """A /Type0 font with no /ToUnicode (external-CMap deployment
    scope) renders one U+FFFD per code instead of binary garbage; a
    simple font keeps byte-passthrough."""
    from html_parser_spark.operators.pdf import extract_pdf_text_bytes

    doc = _pdf_from_objs({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Contents 4 0 R /Resources "
           b"<< /Font << /F2 5 0 R >> >> >>",
        4: _stream_obj_raw(b"BT /F2 10 Tf <00410042> Tj ET"),
        5: b"<< /Type /Font /Subtype /Type0 /Encoding /Identity-H "
           b"/CIDSystemInfo << /Registry (X) >> >>",
    })
    assert extract_pdf_text_bytes(doc) == (1, "��")
    # same codes under a SIMPLE font: latin-1 passthrough
    doc2 = _pdf_from_objs({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Contents 4 0 R /Resources "
           b"<< /Font << /F2 5 0 R >> >> >>",
        4: _stream_obj_raw(b"BT /F2 10 Tf <00410042> Tj ET"),
        5: b"<< /Type /Font /Subtype /TrueType >>",
    })
    assert extract_pdf_text_bytes(doc2) == (1, "\x00A\x00B")


def _stream_obj_raw(data: bytes) -> bytes:
    """Uncompressed stream object around raw content bytes."""
    return (b"<< /Length " + str(len(data)).encode()
            + b" >>\nstream\n" + data + b"\nendstream")


def test_pdf_object_streams():
    """/Type /ObjStm expansion (PDF 1.5+ packing): the fixture's
    every-3rd-doc variant packs catalog + page dicts + font into one
    compressed object stream and must parse identically; direct
    objects shadow packed ones with the same id; malformed headers
    degrade instead of raising."""
    import zlib

    from html_parser_spark.operators.pdf import (
        _synth_pdf, extract_pdf_text_bytes)

    plain = extract_pdf_text_bytes(_synth_pdf(4))   # 4 % 3 == 1
    assert b"/ObjStm" in _synth_pdf(4)
    assert plain[0] == 3 and plain[1].startswith("Hello doc 4")

    # direct object wins over a packed object with the same id: the
    # packed page dict points at content 4, the direct one at 5 —
    # the page walk must follow the DIRECT dict
    inner = b"3 10\n<< /Type /Page /Contents 4 0 R >>\n"
    z = zlib.compress(inner)
    doc = _pdf_from_objs({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        6: b"<< /Type /ObjStm /N 1 /First 5 /Length "
           + str(len(z)).encode()
           + b" /Filter /FlateDecode >>\nstream\n" + z
           + b"\nendstream",
        3: b"<< /Type /Page /Contents 5 0 R >>",  # direct id 3
        4: _stream_obj_raw(b"BT (packed) Tj ET"),
        5: _stream_obj_raw(b"BT (direct) Tj ET"),
    })
    assert extract_pdf_text_bytes(doc) == (1, "direct")

    # truncated ObjStm header: parse degrades, never raises
    bad = zlib.compress(b"1\n<<")
    doc2 = _pdf_from_objs({
        2: b"<< /Type /ObjStm /N 2 /First 99 /Length "
           + str(len(bad)).encode()
           + b" /Filter /FlateDecode >>\nstream\n" + bad
           + b"\nendstream"})
    assert extract_pdf_text_bytes(doc2) == (0, "")


def test_pdf_indirect_length_multidigit_objnum():
    """'/Length 60 0 R' (indirect ref, multi-digit object number) must
    fall through to the EOL-delimited fallback, not slice the stream
    to a bogus 6-byte direct length (regression: the old regex
    backtracked the digit run to '6' and passed the not-a-ref
    lookahead)."""
    import zlib

    from html_parser_spark.operators.pdf import extract_pdf_text_bytes

    data = zlib.compress(b"BT (indirect length works) Tj ET")
    doc = (b"%PDF-1.4\n"
           b"1 0 obj\n<< /Type /Page >>\nendobj\n"
           b"2 0 obj\n<< /Filter /FlateDecode /Length 60 0 R >>\n"
           b"stream\n" + data + b"\nendstream\nendobj\n"
           b"60 0 obj\n" + str(len(data)).encode() + b"\nendobj\n")
    n_pages, text = extract_pdf_text_bytes(doc)
    assert n_pages == 1
    assert text == "indirect length works"


def _pdf_from_objs(objs: dict[int, bytes]) -> bytes:
    """Assemble numbered objects into a minimal PDF body (no xref —
    the parser never reads it; the fallback tests below rely on
    that)."""
    out = bytearray(b"%PDF-1.4\n")
    for oid, body in objs.items():
        out += f"{oid} 0 obj\n".encode() + body + b"\nendobj\n"
    return bytes(out)


def _stream_obj(txt: bytes) -> bytes:
    """Uncompressed content-stream object showing ``txt``."""
    data = b"BT (" + txt + b") Tj ET"
    return (b"<< /Length " + str(len(data)).encode()
            + b" >>\nstream\n" + data + b"\nendstream")


def test_pdf_page_order_follows_kids_not_object_ids():
    """Page text must come out in the page tree's /Kids order even
    when the content streams' object ids are numbered AGAINST visual
    page order (regression: output was sorted by content object id,
    scrambling multi-page text; ISO 32000-1 §7.7.3)."""
    from html_parser_spark.operators.pdf import extract_pdf_text_bytes

    # visual page 1 -> content obj 9, visual page 2 -> content obj 4:
    # object-id order would emit page two first.
    doc = _pdf_from_objs({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 9 0 R >>",
        5: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        9: _stream_obj(b"first page"),
        4: _stream_obj(b"second page"),
    })
    assert extract_pdf_text_bytes(doc) == (2, "first page\nsecond page")


def test_pdf_nested_page_tree_and_contents_array():
    """Intermediate /Pages nodes walk in order; a /Contents ARRAY's
    streams concatenate into ONE logical stream (§7.8.2) and run
    through the operator machine once per page — so each part's own
    BT starts a new text object exactly as it would if the same
    content sat in a single stream (the layout must not depend on
    how a writer split the stream); orphan streams not referenced by
    any page are excluded."""
    from html_parser_spark.operators.pdf import extract_pdf_text_bytes

    doc = _pdf_from_objs({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [10 0 R 3 0 R] /Count 3 >>",
        10: b"<< /Type /Pages /Parent 2 0 R /Kids [11 0 R 12 0 R] >>",
        11: b"<< /Type /Page /Contents [6 0 R 5 0 R] >>",
        12: b"<< /Type /Page /Contents 7 0 R >>",
        3: b"<< /Type /Page /Contents 8 0 R >>",
        6: _stream_obj(b"A-"),
        5: _stream_obj(b"A-tail"),
        7: _stream_obj(b"B!"),
        8: _stream_obj(b"C!"),
        99: _stream_obj(b"orphan"),
    })
    assert extract_pdf_text_bytes(doc) == (3, "A-\nA-tail\nB!\nC!")


def test_pdf_contents_indirect_array_and_last_catalog_wins():
    """Two review regressions: (a) /Contents may be a single indirect
    reference to an object that IS an array of stream refs
    (§7.7.3.3) — both streams' text must come out, not an empty
    page; (b) an incremental update appending a revised catalog
    under a NEW object id must win over the original catalog
    (last in file order approximates the xref chain)."""
    from html_parser_spark.operators.pdf import extract_pdf_text_bytes

    indirect_array = _pdf_from_objs({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Contents 5 0 R >>",
        5: b"[6 0 R 7 0 R]",
        6: _stream_obj(b"part one "),
        7: _stream_obj(b"part two"),
    })
    # each part carries its own BT: a new text object starts a new
    # line exactly as it would inside a single stream
    assert extract_pdf_text_bytes(indirect_array) == \
        (1, "part one \npart two")

    updated = _pdf_from_objs({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Contents 4 0 R >>",
        4: _stream_obj(b"stale"),
        # appended incremental update: new catalog, extended tree
        25: b"<< /Type /Catalog /Pages 26 0 R >>",
        26: b"<< /Type /Pages /Kids [3 0 R 27 0 R] /Count 2 >>",
        27: b"<< /Type /Page /Contents 28 0 R >>",
        28: _stream_obj(b"appended"),
    })
    assert extract_pdf_text_bytes(updated) == (2, "stale\nappended")


def test_pdf_font_state_persists_across_contents_parts():
    """A /Contents array is ONE logical stream (§7.8.2): a Tf in one
    part governs show-strings in a later part, so 2-byte CID codes
    after the split decode through the font set before it
    (regression: each part ran its own operator machine, resetting
    cur_cmap to None and emitting raw latin-1 bytes with NULs)."""
    from html_parser_spark.operators.pdf import extract_pdf_text_bytes

    cmap = (b"begincmap\nbeginbfchar\n<0043> <0043>\n<0049> <0049>\n"
            b"endbfchar\nendcmap")
    doc = _pdf_from_objs({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Contents [4 0 R 5 0 R] /Resources "
           b"<< /Font << /F9 6 0 R >> >> >>",
        4: _stream_obj_raw(b"BT /F9 12 Tf"),
        5: _stream_obj_raw(b"<00430049> Tj ET"),
        6: b"<< /Type /Font /Subtype /Type0 /ToUnicode 7 0 R >>",
        7: _stream_obj_raw(cmap),
    })
    assert extract_pdf_text_bytes(doc) == (1, "CI")


def test_pdf_stale_packed_catalog_loses_to_newer_direct():
    """Catalog selection is last-in-FILE-order: a stale catalog
    packed in an early ObjStm must lose to a revised direct catalog
    appended later under a NEW object id (regression: ObjStm
    expansion appended packed objects after every direct object in
    dict-iteration order, so the stale packed catalog won)."""
    import zlib

    from html_parser_spark.operators.pdf import extract_pdf_text_bytes

    inner = b"1 0\n<< /Type /Catalog /Pages 2 0 R >>"
    z = zlib.compress(inner)
    doc = _pdf_from_objs({
        # original revision: catalog packed in an ObjStm, 1-page tree
        6: b"<< /Type /ObjStm /N 1 /First 4 /Length "
           + str(len(z)).encode()
           + b" /Filter /FlateDecode >>\nstream\n" + z
           + b"\nendstream",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Contents 4 0 R >>",
        4: _stream_obj(b"old"),
        # incremental update: revised DIRECT catalog under a new id
        25: b"<< /Type /Catalog /Pages 26 0 R >>",
        26: b"<< /Type /Pages /Kids [3 0 R 27 0 R] /Count 2 >>",
        27: b"<< /Type /Page /Contents 28 0 R >>",
        28: _stream_obj(b"new"),
    })
    assert extract_pdf_text_bytes(doc) == (2, "old\nnew")


def test_pdf_decodeparms_is_per_stage():
    """/DecodeParms is an array PARALLEL to /Filter (§7.4.1): a
    predictor attached to the FIRST stage un-applies to that stage's
    output before the next filter runs (regression: one predictor
    regex over the whole dict ran once after the entire chain,
    corrupting the bytes or failing the row-length check)."""
    import zlib

    from html_parser_spark.operators.pdf import (
        _apply_filters, _rl_encode, extract_pdf_text_bytes)

    content = b"BT (staged predictor) Tj ET"
    rl = _rl_encode(content)            # stage-2 input
    cols = len(rl)                      # one predictor row
    predicted = b"\x02" + bytes(b & 0xFF for b in rl)  # Up, prev=0
    enc = zlib.compress(predicted)
    head = (b"<< /Length " + str(len(enc)).encode()
            + b" /Filter [ /FlateDecode /RunLengthDecode ]"
            + b" /DecodeParms [ << /Predictor 12 /Columns "
            + str(cols).encode() + b" >> null ] >>")
    assert _apply_filters(enc, head) == content

    doc = _pdf_from_objs({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Contents 4 0 R >>",
        4: head + b"\nstream\n" + enc + b"\nendstream",
    })
    assert extract_pdf_text_bytes(doc) == (1, "staged predictor")

    # null-only array and indirect params: unchanged semantics
    plain = zlib.compress(content)
    assert _apply_filters(
        plain, b"<< /Filter [ /FlateDecode ] /DecodeParms [ null ] "
        b">>") == content
    assert _apply_filters(
        plain, b"<< /Filter /FlateDecode /DecodeParms 9 0 R >>") \
        is None


def test_pdf_kids_cycle_guard_and_treeless_fallback():
    """A reference cycle in /Kids terminates; a file with no catalog
    keeps the legacy behavior (count /Type /Page, object-id order)."""
    from html_parser_spark.operators.pdf import extract_pdf_text_bytes

    cyc = _pdf_from_objs({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [2 0 R 3 0 R] >>",
        3: b"<< /Type /Page /Contents 4 0 R >>",
        4: _stream_obj(b"ok"),
    })
    assert extract_pdf_text_bytes(cyc) == (1, "ok")

    treeless = _pdf_from_objs({
        7: b"<< /Type /Page >>",
        9: _stream_obj(b"second"),
        8: _stream_obj(b"first"),
    })
    assert extract_pdf_text_bytes(treeless) == (1, "first\nsecond")


def test_pdf_indirect_length_resolved_via_object_map():
    """'/Length N 0 R' resolves to the referenced integer object, so
    stream data CONTAINING the bytes '\\nendstream' survives where
    the EOL-delimited fallback would truncate at the inner match."""
    from html_parser_spark.operators.pdf import extract_pdf_text_bytes

    data = b"BT (a\nendstream b) Tj ET"
    doc = _pdf_from_objs({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R ] >>",
        3: b"<< /Type /Page /Contents 4 0 R >>",
        4: (b"<< /Length 17 0 R >>\nstream\n" + data
            + b"\nendstream"),
        17: str(len(data)).encode(),
    })
    assert extract_pdf_text_bytes(doc) == (1, "a\nendstream b")


def test_canonicalize_urls(spark):
    from html_parser_spark.operators.urls import canonicalize_urls

    rows = [
        (0, "HTTP://Ex.COM:80/a/b?utm_source=x&b=2&a=1#frag"),
        (1, "https://Host.Org:443/"),
        (2, "https://h.com:8080/p?z=1&utm_medium=m"),
        (3, "http://plain.com"),
        (4, "/relative/path?q=1#f"),
        (5, "https://t.co/x?fbclid=abc&gclid=g&ref=r"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r.doc_id: r.canonical_url
           for r in canonicalize_urls(df).collect()}
    assert got[0] == "http://ex.com/a/b?a=1&b=2"
    assert got[1] == "https://host.org/"
    assert got[2] == "https://h.com:8080/p?z=1"
    assert got[3] == "http://plain.com/"
    assert got[4] == "/relative/path?q=1"   # passthrough minus frag
    assert got[5] == "https://t.co/x"
    # pure JVM: no Python eval nodes, no shuffle
    plan = canonicalize_urls(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_crawl_text_parsers_total_on_hostile_input(spark):
    """Totality sweep for the round-5 crawl/text gates (the
    DataFrame twin of the binary-parser fuzz suite): hostile robots
    files — regex metacharacters in patterns, lone '$'/'*' rules,
    trailing backslashes, colonless lines, binary-ish junk — and
    hostile sitemap/C4/URL inputs must all produce defined rows,
    never a worker exception or an invalid generated regex."""
    import hashlib

    from html_parser_spark.operators.robots import (parse_robots,
                                                    robots_allowed)
    from html_parser_spark.operators.sitemap import sitemap_urls
    from html_parser_spark.operators.textstats import c4_quality
    from html_parser_spark.operators.urls import url_filter

    junk = "".join(chr(32 + hashlib.md5(bytes([i])).digest()[0] % 90)
                   for i in range(160))
    nasty_patterns = ["(((", "****", "$", "*$", "/a\\", "/[b-a]/",
                      "/x{2,}", "/)(", "/a|b", "/.*$", "\\", "/+?^"]
    robots_texts = [
        "User-agent: *\n" + "\n".join(
            f"Disallow: {p}" for p in nasty_patterns),
        "User-agent: *\nAllow: " + "*" * 50 + "\n",
        junk, "::::\nUser-agent\nDisallow :x\n", "",
        "User-agent: *\r\nDisallow: /a\r\n",   # CRLF tolerance
    ]
    robots = spark.createDataFrame(
        [(f"h{i}", t) for i, t in enumerate(robots_texts)],
        "host string, robots_txt string")
    rules = parse_robots(robots)
    urls = spark.createDataFrame(
        [(f"h{i}", p) for i in range(len(robots_texts))
         for p in ("/a", "/x" * 30, junk[:40], "")],
        "host string, path string")
    verd = robots_allowed(rules, urls).collect()
    assert len(verd) == len(robots_texts) * 4
    assert all(r.allowed is not None for r in verd)

    sm = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            [junk, "<url><loc>" + junk + "</loc>", "<<<>>>",
             "<urlset>" + "<url><loc>x</loc></url>" * 50 +
             "</urlset>", None])],
        "doc_id long, text string")
    assert sitemap_urls(sm, key_cols=["doc_id"]).count() >= 51

    hostile_docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            [junk, "\n" * 100, ".", "a" * 5000, None, "{" * 80])],
        "doc_id long, text string")
    c4 = c4_quality(hostile_docs, ["doc_id"]).collect()
    assert len(c4) == 6 and all(r.passes_c4 is not None for r in c4)

    hostile_urls = spark.createDataFrame(
        [(i, u) for i, u in enumerate(
            [junk, "http://", "://x", "https://[::1]/p", None,
             "https://" + "a" * 300 + ".com/x"])],
        "doc_id long, url string")
    uf = url_filter(hostile_urls, blocked_domains=("a.com",),
                    blocked_substrings=("/x/",)).collect()
    assert len(uf) == 6 and all(r.keep_url is not None for r in uf)


def test_crawl_frontier_composition(spark):
    """sitemap discovery -> robots admission -> URL gate compose
    into the admitted frontier: each gate vetoes independently,
    foreign hosts without robots default to allowed, index entries
    are emitted with role='sitemap'."""
    from html_parser_spark.operators.crawl import crawl_frontier

    sm = ("<urlset>"
          "<url><loc>https://a.com/ok/page</loc></url>"
          "<url><loc>https://a.com/private/x?id=1</loc></url>"
          "<url><loc>https://a.com/casino/page</loc></url>"
          "<url><loc>https://other.com/anything</loc></url>"
          "</urlset>")
    idx = ("<sitemapindex><sitemap><loc>https://a.com/more.xml"
           "</loc></sitemap></sitemapindex>")
    sitemaps = spark.createDataFrame(
        [("a.com", sm), ("a.com-idx", idx)],
        "host string, sitemap_xml string")
    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /private/\n")],
        "host string, robots_txt string")
    got = {r.url: r for r in crawl_frontier(
        sitemaps, robots,
        blocked_substrings=("/casino/",)).collect()}
    assert len(got) == 5
    assert got["https://a.com/ok/page"].frontier
    r = got["https://a.com/private/x?id=1"]
    assert not r.robots_allowed and r.keep_url and not r.frontier
    r = got["https://a.com/casino/page"]
    assert r.robots_allowed and not r.keep_url and not r.frontier
    assert got["https://other.com/anything"].frontier  # no robots
    r = got["https://a.com/more.xml"]
    assert r.role == "sitemap" and r.frontier


def test_sitemap_urls(spark):
    """sitemaps.org extraction through the engine's own tokenizer:
    urlset and sitemapindex shapes, entity-decoded loc, optional
    lastmod, inter-element whitespace never misattributes, and
    hostile inputs (truncated XML, no entries, NULL) degrade to
    empty/partial rows instead of crashing."""
    from html_parser_spark.operators.sitemap import sitemap_urls

    leaf = ('<?xml version="1.0"?>\n<urlset>\n'
            '  <url>\n    <loc>https://e.com/a?x=1&amp;y=2</loc>\n'
            '    <lastmod>2026-03-01</lastmod>\n  </url>\n'
            '  <url><loc> https://e.com/b </loc></url>\n'
            '</urlset>')
    idx = ('<sitemapindex><sitemap><loc>https://e.com/m1.xml</loc>'
           '</sitemap><sitemap><loc>https://e.com/m2.xml</loc>'
           '<lastmod>2026-04-05</lastmod></sitemap></sitemapindex>')
    rows = [(0, leaf), (1, idx),
            (2, "<urlset><url><loc>https://e.com/tru"),  # truncated
            (3, "<urlset></urlset>"),                    # no entries
            (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.conv_id, r.entry): r
           for r in sitemap_urls(df, key_cols=["doc_id"]).collect()}
    assert got[("0", 1)].loc == "https://e.com/a?x=1&y=2"
    assert got[("0", 1)].lastmod == "2026-03-01"
    assert got[("0", 2)].loc == "https://e.com/b"   # trimmed
    assert got[("0", 2)].lastmod is None
    assert got[("1", 1)].role == "sitemap"
    assert got[("1", 2)].lastmod == "2026-04-05"
    # truncated file still yields its partial loc text; empty and
    # NULL files yield nothing
    assert got[("2", 1)].loc == "https://e.com/tru"
    assert not [k for k in got if k[0] in ("3", "4")]


def test_robots_rfc9309(spark):
    """robots.txt parse + admission per RFC 9309: comment stripping,
    pre-group rules ignored, UA-run grouping, named-group precedence
    over '*' (the '*' group does NOT also apply), wildcard and
    '$'-anchored patterns, longest-match with allow-wins ties, empty
    Disallow matches nothing, missing robots = allowed."""
    from html_parser_spark.operators.robots import (parse_robots,
                                                    robots_allowed)

    rob_a = ("# site A\nUser-agent: *\nDisallow: /private/\n"
             "Allow: /private/pub*\nDisallow: /tmp$\n\n"
             "User-agent: trainbot\nUser-agent: otherbot\n"
             "Disallow: /train/\nAllow: /train/open/\n")
    rob_b = "Disallow: /ignored-pregroup/\nUser-agent: *\nDisallow:\n"
    robots = spark.createDataFrame(
        [("a.com", rob_a), ("b.com", rob_b)],
        "host string, robots_txt string")
    rules = parse_robots(robots)
    rmap = {(r.key, r.rule, r.pattern): (r.group_id, sorted(r.agents))
            for r in rules.collect()}
    assert rmap[("a.com", "disallow", "/train/")] == \
        (2, ["otherbot", "trainbot"])
    assert ("b.com", "disallow", "/ignored-pregroup/") not in rmap
    assert not [k for k in rmap if k[0] == "b.com"]  # empty pattern

    urls = spark.createDataFrame(
        [("a.com", "/private/x"), ("a.com", "/private/pub/ok"),
         ("a.com", "/tmp"), ("a.com", "/tmp/inner"),
         ("a.com", "/train/x"), ("a.com", "/train/open/f"),
         ("b.com", "/anything"), ("c.com", "/no-robots")],
        "host string, path string")

    star = {(r.key, r.path): r.allowed
            for r in robots_allowed(rules, urls).collect()}
    assert star[("a.com", "/private/pub/ok")]          # longest=allow
    assert not star[("a.com", "/private/x")]
    assert not star[("a.com", "/tmp")]                 # $-anchored
    assert star[("a.com", "/tmp/inner")]               # past anchor
    assert star[("a.com", "/train/x")]                 # other group
    assert star[("b.com", "/anything")]
    assert star[("c.com", "/no-robots")]               # no robots

    bot = {(r.key, r.path): r.allowed
           for r in robots_allowed(rules, urls,
                                   user_agent="TrainBot").collect()}
    assert bot[("a.com", "/private/x")]     # '*' group supplanted
    assert not bot[("a.com", "/train/x")]
    assert bot[("a.com", "/train/open/f")]  # longest match = allow


def test_url_filter_gates(spark):
    """Each URL gate fires independently: exact-domain and
    subdomain-of match but sibling prefixes ('abad.example') do NOT;
    substring and soft-word gates are independent; one soft word
    stays under the default >=2 threshold; relative URLs (no host)
    never domain-block. Plan stays pure JVM and shuffle-free."""
    from html_parser_spark.operators.urls import url_filter

    rows = [
        (0, "https://good.example.org/article"),
        (1, "https://t.co/x"),                     # exact domain
        (2, "https://sub.bad.example/page"),       # subdomain
        (3, "https://abad.example/page"),          # sibling: NO match
        (4, "https://ok.org/casino/poker-night"),  # pattern + 2 soft
        (5, "https://ok.org/viagra-info"),         # 1 soft: under thr
        (6, "/relative/only"),                     # no host
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = url_filter(df, blocked_domains=("t.co", "bad.example"),
                     blocked_substrings=("/casino/",))
    got = {r.doc_id: r for r in out.collect()}
    assert got[0].keep_url and got[0].host == "good.example.org"
    assert got[1].blocked_domain and not got[1].keep_url
    assert got[2].blocked_domain and not got[2].blocked_pattern
    assert not got[3].blocked_domain and got[3].keep_url
    assert got[4].blocked_pattern and got[4].soft_score == 2 \
        and not got[4].keep_url
    assert got[5].soft_score == 1 and got[5].keep_url
    assert got[6].host == "" and not got[6].blocked_domain \
        and got[6].keep_url
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_url_filter_replaces_existing_host(spark):
    """An input that already has a 'host' column keeps one: url_filter
    replaces it with the URL's host, so F.col('host') resolves."""
    from pyspark.sql import functions as F

    from html_parser_spark.operators.urls import url_filter

    df = spark.createDataFrame(
        [("stale.example", "https://Fresh.Example/a")],
        "host string, url string")
    out = url_filter(df, blocked_domains=("fresh.example",))
    assert out.columns.count("host") == 1
    row = out.select(F.col("host"), "blocked_domain").first()
    assert row.host == "fresh.example" and row.blocked_domain


def test_term_freq(spark):
    df = spark.createDataFrame(
        [(0, "the cat and The dog"), (1, "the dog runs")],
        "doc_id long, text string")
    got = {r.token: (r.n_occurrences, r.n_docs)
           for r in textstats.term_freq(df, approx_docs=False).collect()}
    assert got["the"] == (3, 2)   # lowercased fold merges 'The'
    assert got["dog"] == (2, 2)
    assert got["cat"] == (1, 1)
    # HLL default agrees on tiny cardinalities and its plan partial-
    # aggregates a fixed-size sketch (the 100 TB head-token shape):
    # no exact distinct expand, partial_approx_count_distinct on the
    # map side before the exchange
    approx = textstats.term_freq(df)
    got_a = {r.token: (r.n_occurrences, r.n_docs)
             for r in approx.collect()}
    assert got_a == got
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "approx_count_distinct" in plan
    assert "partial_approx_count_distinct" in plan  # map-side sketch
    assert "count(distinct" not in plan.lower()


def test_gopher_quality_rules(spark):
    """Each Gopher rule flips independently on planted violations."""
    good = "the quick brown fox jumps over the lazy dog " * 3  # 27 w
    rows = [
        (0, good),
        (1, "short text only"),                       # word-count fail
        (2, ("# " * 10) + good),                      # symbol fail
        (3, ("1 2 3 4 5 6 7 8 9 0 " * 3) + good),     # alpha fail
        (4, "zz yy xx ww vv uu tt ss rr qq pp oo nn mm ll kk jj ii "
            "hh gg ff"),                              # stopword fail
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           textstats.gopher_quality(df, ["doc_id"],
                                    min_words=20).collect()}
    assert got[0].passes_gopher
    assert not got[1].ok_word_count and not got[1].passes_gopher
    assert not got[2].ok_symbol_ratio and got[2].ok_word_count
    assert not got[3].ok_alpha_words
    assert not got[4].ok_stopwords and not got[4].passes_gopher


def test_c4_quality_rules(spark):
    """Each C4 rule flips independently on planted pages; the line
    filter applies all three line tests (length, terminal punct,
    javascript) independently."""
    good = ("this page has a first good sentence.\n"
            'and a "quoted" second line it keeps here.\n'
            "finally one more sentence to finish!")
    rows = [
        (0, good),
        # every line dropped: short / no punct / javascript
        (1, "tiny line.\nthis line has no terminal punct at all\n"
            "Please enable JavaScript to view this page."),
        (2, good + "\nsome Lorem Ipsum filler text here."),   # lorem
        (3, good + "\nif (x) { return; } is code today."),    # brace
        (4, good + "\nthis page mentions badword1 openly."),  # badword
        (5, "only two sentences on this page today.\n"
            "the second and last one is right here."),        # < 3
        (6, None),                                            # NULL
        # badwords next to punctuation still count; inside a longer
        # word they do not
        (7, good + "\nthis page mentions badword1, openly."),
        (8, good + "\nthis page ends with BADWORD2."),
        (9, good + "\nthis page mentions badword1x only."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           textstats.c4_quality(df, ["doc_id"]).collect()}
    assert got[0].passes_c4 and got[0].n_sentences == 3
    assert got[1].n_kept_lines == 0 and not got[1].ok_lines \
        and not got[1].passes_c4
    assert not got[2].ok_no_lorem and got[2].ok_no_brace
    assert not got[3].ok_no_brace and got[3].ok_no_lorem
    assert not got[4].ok_no_badword and not got[4].passes_c4
    assert got[5].n_sentences == 2 and not got[5].ok_sentences
    assert got[6].n_kept_lines == 0 and not got[6].passes_c4
    assert not got[7].ok_no_badword and not got[8].ok_no_badword
    assert got[9].ok_no_badword and got[9].passes_c4


def test_dedup_corpus_composition(spark):
    """minhash -> LSH -> star CC -> canonical keep: exact dup pairs
    collapse to one survivor, distinct docs all survive."""
    from html_parser_spark.operators.dedup import (
        dedup_canonical, lsh_candidate_pairs, minhash_signatures)

    rows = [(i, f"totally distinct document number {i} with words "
                f"alpha{i} beta{i} gamma{i} delta{i}") for i in range(6)]
    rows += [(10, rows[0][1]), (11, rows[0][1])]  # dups of doc 0
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = lsh_candidate_pairs(minhash_signatures(docs, num_hashes=8),
                                num_hashes=8, band_size=2)
    dropped = (dedup_canonical(pairs)
               .filter(~F.col("is_canonical"))
               .select(F.col("id").alias("doc_id")))
    kept = sorted(r.doc_id for r in
                  docs.join(dropped, "doc_id", "left_anti").collect())
    assert kept == [0, 1, 2, 3, 4, 5]   # 10 & 11 collapsed into 0


def test_ivf_ann(spark, vecs):
    """IVF-flat: assignment puts each vector in its nearest centroid
    list; probing n lists returns a subset of the exact neighbor set
    that grows with n_probe."""
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0],
             [0.0, 0.0, 1.0, 0.0]]
    assigned = {r.vec_id: r._list for r in
                similarity.ivf_assign(vecs, cents).collect()}
    assert assigned[0] == 1 and assigned[1] == 1  # near-dup of e1
    assert assigned[2] == 2 and assigned[3] == 3

    q = vecs.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = {r.vec_id for r in similarity.cosine_neighbors(
        vecs, q, threshold=-1.0).collect()}
    got1 = {r.vec_id for r in similarity.ivf_neighbors(
        vecs, q, cents, n_probe=1, threshold=-1.0).collect()}
    got2 = {r.vec_id for r in similarity.ivf_neighbors(
        vecs, q, cents, n_probe=3, threshold=-1.0).collect()}
    assert got1 <= got2 <= exact
    assert {0, 1} <= got1          # own list holds the near-dup
    assert 2 in got2 and 3 in got2  # full probe sweep = exact lists


def test_degenerate_inputs_hardening(spark):
    """Review-driven guards: zero-norm vectors yield NULL cosine
    instead of an ANSI DIVIDE_BY_ZERO job kill; null/short vectors
    among the first k rows cannot crash or corrupt k-means init;
    uneven LSH banding and typo'd minhash families raise instead of
    silently degrading; NULL text flows through dedup_lines and the
    LR scorer as the empty/gram-free doc."""
    import pytest

    from html_parser_spark.operators import dedup
    from html_parser_spark.operators.classifier import quality_lr_score
    from html_parser_spark.operators.similarity import (
        cosine_expr, kmeans_centroids)

    vecs = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    got = {r.vec_id: r.c for r in vecs.select(
        "vec_id", cosine_expr(F.col("embedding"),
                              F.array(F.lit(1.0), F.lit(0.0)))
        .alias("c")).collect()}
    assert got[1] is None and got[2] == 1.0 and got[3] == 0.0

    ragged = spark.createDataFrame(
        [(0, None), (1, [9.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0]),
         (4, [1.0, 1.0])],
        "vec_id long, embedding array<double>")
    cents = kmeans_centroids(ragged, k=2, rounds=2)
    assert all(len(c) == 2 for c in cents)  # short vec never inits

    docs = spark.createDataFrame([(1, "a b"), (2, None)],
                                 "doc_id long, text string")
    with pytest.raises(ValueError, match="band"):
        dedup.lsh_candidate_pairs(
            dedup.minhash_signatures(docs), num_hashes=8, band_size=3)
    with pytest.raises(ValueError, match="family"):
        dedup.minhash_signatures(docs, family="md5_slice")

    dl = {r.doc_id: r for r in dedup.dedup_lines(docs).collect()}
    assert dl[2].clean_text == "" and dl[2].n_lines == 1
    lr = {r.doc_id: r.lr_prob for r in quality_lr_score(
        docs, [0.0, 0.1, -0.1], ["doc_id"]).collect()}
    assert lr[2] == 0.5  # sigmoid(bias): gram-free, not NULL


def test_kmeans_centroids_train_ivf(spark):
    """In-engine Lloyd's k-means: three planted clusters around the
    axes converge to their means in a few rounds from deterministic
    first-k init, empty clusters keep their previous centroid, and
    the trained centroids drive ivf_neighbors end-to-end (the index
    is self-contained)."""
    import itertools

    base = {1: [1.0, 0.0, 0.0], 2: [0.0, 1.0, 0.0], 3: [0.0, 0.0, 1.0]}
    rows = []
    vid = 0
    # interleave clusters so first-3 init sees one point of each
    for jit, c in itertools.product((0.0, 0.05, -0.05, 0.1), (1, 2, 3)):
        v = [x + (jit if x > 0 else jit / 2) for x in base[c]]
        rows.append((vid, v))
        vid += 1
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cents = similarity.kmeans_centroids(vecs, k=3, rounds=8)
    assert len(cents) == 3 and all(len(c) == 3 for c in cents)
    # each trained centroid is cosine-closest to exactly one axis
    axes = {tuple(a): False for a in base.values()}
    for c in cents:
        best = max(axes, key=lambda a: sum(x * y for x, y in zip(a, c)))
        assert not axes[best], "two centroids collapsed onto one axis"
        axes[best] = True
    # trained quantizer routes a cluster-1 query to cluster-1 members
    q = vecs.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    got = {r.vec_id for r in similarity.ivf_neighbors(
        vecs, q, cents, n_probe=1, threshold=-1.0).collect()}
    cluster1 = {r for r in range(12) if r % 3 == 0}
    assert cluster1 <= got


def test_tfidf_topk(spark):
    """Smoothed tf-idf ranking: corpus-wide common terms score below
    doc-distinctive ones; ranks deterministic."""
    df = spark.createDataFrame(
        [(0, "apple apple common"), (1, "banana common"),
         (2, "cherry common common")],
        "doc_id long, text string")
    got = {(r.doc_id, r.rank): (r.token, r.tf) for r in
           textstats.tfidf_topk(df, k=2).collect()}
    assert got[(0, 1)] == ("apple", 2)    # tf=2, df=1 beats common
    assert got[(0, 2)][0] == "common"
    assert got[(1, 1)] == ("banana", 1)
    assert got[(2, 1)][0] in ("cherry", "common")
    # 'common' in every doc: idf = ln(4/4)+1 = 1.0 exactly
    from math import isclose
    sc = {r.token: r.score for r in
          textstats.tfidf_topk(df, k=2).collect() if r.doc_id == 1}
    assert isclose(sc["common"], 1.0)


# ------------------------------------------------------------- sampling

@pytest.fixture(scope="module")
def mix_docs(spark):
    from html_parser_spark.operators import sampling  # noqa: F401
    # strata: 'a' = i%3==0 (500), 'b' = i%3==1 (500), 'c' = i%3==2 (500)
    rows = [(i,
             f"document body number {i} with some distinct words {i * 7}",
             "abc"[i % 3])
            for i in range(1500)]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_stratified_sample_deterministic_across_layout(spark, mix_docs):
    """The hash draw is a pure function of the row: identical keep set
    regardless of partition count or input order (df.sample is not)."""
    from html_parser_spark.operators.sampling import stratified_sample

    fr = {"a": 0.5, "b": 0.25}
    base = {r.doc_id for r in
            stratified_sample(mix_docs, "lang", fr, seed=3).collect()}
    one = {r.doc_id for r in stratified_sample(
        mix_docs.repartition(1), "lang", fr, seed=3).collect()}
    many = {r.doc_id for r in stratified_sample(
        mix_docs.orderBy(F.desc("doc_id")).repartition(13),
        "lang", fr, seed=3).collect()}
    assert base == one == many
    assert base, "sample unexpectedly empty"
    # stratum 'c' has no fraction -> dropped entirely
    langs = {r.lang for r in stratified_sample(
        mix_docs, "lang", fr, seed=3).collect()}
    assert langs <= {"a", "b"}
    # a different seed draws a different (but still deterministic) set
    other = {r.doc_id for r in
             stratified_sample(mix_docs, "lang", fr, seed=4).collect()}
    assert other != base


def test_mix_fractions_feasibility_math():
    """total = min_s floor(n_s/share_s); scarcest stratum caps the mix
    and is taken whole (fraction exactly 1.0)."""
    from html_parser_spark.operators.sampling import mix_fractions

    counts = {"a": 1000, "b": 500, "c": 50}
    fr = mix_fractions(counts, {"a": 0.5, "b": 0.3, "c": 0.2},
                       normalize=False)
    # feasible totals: a 2000, b 1666, c 250 -> 250
    assert fr["c"] == 1.0
    assert abs(fr["a"] - 0.5 * 250 / 1000) < 1e-15
    assert abs(fr["b"] - 0.3 * 250 / 500) < 1e-15
    # explicit total cap
    fr2 = mix_fractions(counts, {"a": 0.5, "b": 0.3, "c": 0.2},
                        total=100, normalize=False)
    assert abs(fr2["a"] - 0.05) < 1e-15
    # weighted stratum absent from the data is just skipped
    fr3 = mix_fractions({"a": 10}, {"a": 1.0, "zz": 5.0})
    assert set(fr3) == {"a"} and fr3["a"] == 1.0
    assert mix_fractions({}, {"a": 1.0}) == {}


def test_mix_corpus_proportions(spark, mix_docs):
    """Sampled strata sizes track the target weights (binomial
    tolerance) and the scarce stratum under a skewed weight is kept
    whole."""
    from html_parser_spark.operators.sampling import mix_corpus

    out = mix_corpus(mix_docs, "lang",
                     {"a": 0.6, "b": 0.2, "c": 0.2}, seed=11)
    got = {r["lang"]: r["n"] for r in
           out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # total = min(500/.6, 500/.2, 500/.2) = 833 -> targets 500/166/166
    assert got["a"] > 400          # fraction 0.9996 -> nearly all
    for s in ("b", "c"):
        target = 0.2 * 833
        assert abs(got[s] - target) < 4 * (target ** 0.5) + 10


def test_sampling_plan_map_only(spark, mix_docs):
    """Scale guard: the sample filter is one map-only JVM stage — no
    Exchange, no Python eval in the plan."""
    from html_parser_spark.operators.sampling import stratified_sample

    plan = _plan_str(stratified_sample(
        mix_docs, "lang", {"a": 0.5, "b": 0.25}, seed=3))
    phys = plan.split("== Physical Plan ==")[-1]
    assert "Exchange" not in phys, phys
    assert "Python" not in phys, phys


def test_uniform_hash_matches_duckdb(spark):
    """Cross-engine determinism: DuckDB rebuilds the exact draw
    (including non-ASCII keys), which is what the driver oracle
    relies on."""
    import duckdb

    from html_parser_spark.operators.sampling import uniform_hash_col

    keys = ["hello", "wörld", "中文文本", "", "a b\tc"]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = dict(df.select(
        "k", uniform_hash_col(F.col("k"), seed=9).alias("u")).collect())
    for k in keys:
        (exp,) = duckdb.sql(
            "SELECT ('0x' || substr(md5(? || '#9'), 1, 8))::BIGINT"
            " / 4294967296.0", params=[k]).fetchone()
        assert got[k] == exp, k
