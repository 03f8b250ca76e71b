"""Training-data operators: dedup tiers, similarity search, text
analysis, multimodal plumbing — over the driver's testdata tables."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from turtle_spark.operators.dedup import (
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)
from turtle_spark.operators.multimodal import (
    decode_features,
    sample_frames,
    synthesize_media_table,
)
from turtle_spark.operators.similarity import cosine_pairs, cosine_topk, lsh_topk
from turtle_spark.operators.textstats import doc_stats, fingerprints, language_id, token_counts
from turtle_spark.sources.corpus import generate_docs


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# --- dedup -------------------------------------------------------------------

def _dup_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs away fast"),
        (2, "the quick brown fox jumps over the lazy dog and runs away fast"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog and walks away fast"),  # near dup
        (4, "completely unrelated content about spark shuffle partitions here"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_jaccard_pairs(spark):
    d = _dup_docs(spark)
    pairs = {(r.id1, r.id2): r.jaccard for r in ngram_jaccard_pairs(d, n=3, threshold=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert not any(4 in p for p in pairs)


def test_minhash_near_duplicates(spark):
    d = _dup_docs(spark)
    # output carries ORIGINAL doc ids (src < dst), not internal hashes
    pairs = {(r.src, r.dst) for r in minhash_near_duplicates(d, threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert not any(4 in p for p in pairs)


def test_simhash_near_duplicates(spark):
    d = _dup_docs(spark)
    pairs = {(r.id1, r.id2): r.hamming for r in simhash_near_duplicates(d, max_hamming=8).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 0
    assert not any(4 in p for p in pairs)


# --- similarity --------------------------------------------------------------

def test_cosine_topk_matches_numpy(spark, embeddings):
    queries = embeddings.orderBy("vec_id").limit(3)
    got = cosine_topk(embeddings, queries, k=5).collect()
    emb = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in embeddings.collect()}
    for q in [r.vec_id for r in queries.collect()]:
        qv = emb[q]
        sims = {
            i: float(np.dot(v, qv) / (np.linalg.norm(v) * np.linalg.norm(qv)))
            for i, v in emb.items() if i != q
        }
        expected = sorted(sims, key=lambda i: (-round(sims[i], 6), i))[:5]
        actual = [r.neighbor_id for r in sorted((x for x in got if x.query_id == q), key=lambda r: r.rank)]
        assert actual == expected, q


def test_lsh_topk_recall(spark, embeddings):
    queries = embeddings.orderBy("vec_id").limit(5)
    dim = len(embeddings.first().embedding)
    exact = cosine_topk(embeddings, queries, k=10).collect()
    approx = lsh_topk(embeddings, queries, dim=dim, k=10, n_bits=4, n_tables=8).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.5  # approximate path sanity floor


def test_cosine_pairs_threshold(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),   # ~1.0 cosine with 1
        (3, [0.0, 1.0, 0.0]),
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r.id1, r.id2) for r in cosine_pairs(e, threshold=0.99).collect()}
    assert pairs == {(1, 2)}


# --- text analysis -------------------------------------------------------------

def test_doc_stats_on_testdata(docs):
    out = doc_stats(docs).collect()
    assert len(out) == docs.count()
    by_id = {r.doc_id: r for r in out}
    sample = docs.first()
    assert by_id[sample.doc_id].n_chars == len(sample.text)
    assert all(r.n_words >= 0 and 0 <= r.punct_ratio <= 1 for r in out)


def test_language_id(spark):
    d = spark.createDataFrame(
        [
            (1, "the cat and the dog sat on the mat of the house"),
            (2, "der Hund und die Katze und der Vogel in der Stadt"),
            (3, "zzz qqq xxx"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.pred_lang for r in language_id(d).collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "und"


def test_token_counts(spark):
    d = spark.createDataFrame([(1, "hello world, x2  tokens!"), (2, "")], "doc_id long, text string")
    out = {r.doc_id: r for r in token_counts(d).collect()}
    assert out[1].n_ws_tokens == 4
    # hello | world | , | x | 2 | tokens | !
    assert out[1].n_subword_tokens == 7
    assert out[2].n_ws_tokens == 0


def test_fingerprints_deterministic(spark, docs):
    f1 = {r.doc_id: (r.fingerprint, r.simhash) for r in fingerprints(docs.limit(50)).collect()}
    f2 = {r.doc_id: (r.fingerprint, r.simhash) for r in fingerprints(docs.limit(50).repartition(7)).collect()}
    assert f1 == f2


# --- multimodal ----------------------------------------------------------------

def test_multimodal_plumbing(spark):
    docs = generate_docs(spark, 40, seed=21)
    media = synthesize_media_table(docs)
    n_media = media.count()
    assert n_media > 0
    feats = decode_features(media, dim=16).collect()
    assert len(feats) == n_media
    assert all(len(r.features) == 16 for r in feats)
    # deterministic across partitioning
    feats2 = decode_features(media.repartition(9), dim=16).collect()
    assert {r.media_ref: r.features for r in feats} == {r.media_ref: r.features for r in feats2}
    # real decoder seam is explicit
    with pytest.raises(NotImplementedError):
        decode_features(media, stub=False)


def test_frame_sampling(spark):
    """Real PVID decode: sampled frames carry exact pixel sums that a
    local decode of the same payload reproduces."""
    from turtle_spark.functions.imaging import decode_pvid
    import numpy as np

    docs = generate_docs(spark, 60, seed=22)
    media = synthesize_media_table(docs)
    vids = {r.media_ref: r for r in media.where(F.col("media_type") == "video").collect()}
    if not vids:
        pytest.skip("no synthetic video rows at this seed")
    rows = sample_frames(media, every_ms=250).collect()
    assert all(r.ts_ms % 250 == 0 for r in rows)
    # every sampled frame's stats match a driver-side decode
    seen = set()
    for r in rows:
        frames, fms = decode_pvid(bytes(vids[r.media_ref].payload))
        assert r.ts_ms == r.frame_index * fms
        frame = frames[r.frame_index]
        assert r.px_sum == int(np.asarray(frame, dtype=np.int64).sum())
        assert r.n_px == frame.size
        seen.add(r.media_ref)
    assert seen == set(vids)  # ts=0 keeps at least one frame per video
    # coarser grid keeps strictly frames on that grid
    coarse = sample_frames(media, every_ms=1000).collect()
    assert all(r.ts_ms % 1000 == 0 for r in coarse)
    assert len(coarse) <= len(rows)


def test_resize_media(spark):
    from turtle_spark.operators.multimodal import resize_media

    docs = generate_docs(spark, 40, seed=21)
    media = synthesize_media_table(docs)
    resized = resize_media(media, max_width=256, max_height=256)
    rows = {r.media_ref: r for r in resized.collect()}
    orig = {r.media_ref: r for r in media.collect()}
    assert set(rows) == set(orig)
    for ref, r in rows.items():
        o = orig[ref]
        if r.media_type == "audio":
            assert (r.meta.width, r.meta.height) == (o.meta.width, o.meta.height)
            assert r.resize_scale == 1.0
            continue
        # fits the box, never upscaled
        assert r.meta.width <= max(256, 1) and r.meta.height <= 256
        assert r.meta.width <= o.meta.width and r.meta.height <= o.meta.height
        # aspect ratio preserved within integer rounding: each side's
        # realized scale deviates from the true scale by < 0.5/orig_dim
        if r.resize_scale < 1.0:
            tol = 0.5 / o.meta.width + 0.5 / o.meta.height + 1e-9
            assert abs(r.meta.width / o.meta.width - r.meta.height / o.meta.height) <= tol
        # stub leaves payload bytes untouched
        assert bytes(r.payload) == bytes(o.payload)
        assert r.meta.duration_ms == o.meta.duration_ms


def test_resize_media_seam(spark):
    from turtle_spark.operators.multimodal import resize_media

    docs = generate_docs(spark, 40, seed=21)
    media = synthesize_media_table(docs)
    with pytest.raises(NotImplementedError):
        resize_media(media, stub=False)

    # injected resizer flows through the same Arrow plumbing and sees
    # the TARGET dims computed JVM-side
    def fake_resizer(payload: bytes, w: int, h: int) -> bytes:
        return f"resized:{w}x{h}:".encode() + bytes(payload)

    resized = resize_media(media, max_width=64, max_height=64, resizer=fake_resizer)
    for r in resized.collect():
        if r.media_type in ("image", "video"):
            assert bytes(r.payload).startswith(
                f"resized:{r.meta.width}x{r.meta.height}:".encode()
            )
        else:
            assert not bytes(r.payload).startswith(b"resized:")


def test_multimodal_decoder_injection(spark):
    """The decode seam is a real injection point: a custom decoder
    flows through the identical Spark plumbing (schema, Arrow batches,
    partitioning) as the stub."""
    import numpy as np

    docs = generate_docs(spark, 40, seed=21)
    media = synthesize_media_table(docs)

    def fake_real_decoder(payload, media_type, dim):
        # stands in for PIL/torchaudio/pyav: type-dependent, content-derived
        base = float(len(payload or b"")) + (10.0 if media_type == "video" else 0.0)
        return np.full(dim, base, dtype=np.float32)

    feats = decode_features(media, dim=8, decoder=fake_real_decoder).collect()
    assert len(feats) == media.count()
    payload_lens = {r.media_ref: len(bytes(r.payload)) for r in media.collect()}
    for r in feats:
        expect = payload_lens[r.media_ref] + (
            10.0 if r.media_type == "video" else 0.0
        )
        assert r.features == [expect] * 8
        assert r.n_bytes == payload_lens[r.media_ref]


def test_embedding_dedup_matches_union_find(spark, embeddings):
    """Tier-5 embedding dedup vs an independent numpy brute-force +
    union-find derivation: same pairs, same components, same keep-
    smallest canonical ids."""
    from turtle_spark.operators.dedup import embedding_dedup

    rows = embeddings.select("vec_id", "embedding").collect()
    ids = [r.vec_id for r in rows]
    V = np.array([r.embedding for r in rows], dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = np.round(Vn @ Vn.T, 6)

    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    linked = set()
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            if S[a, b] >= 0.35:
                ra, rb = find(ids[a]), find(ids[b])
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
                linked.update((ids[a], ids[b]))
    expected = {i: find(i) for i in linked}

    e = embeddings.withColumn("embedding", F.col("embedding").cast("array<double>"))
    dim = len(rows[0].embedding)
    got = {
        r.vec_id: r.canonical_id
        for r in embedding_dedup(e, dim=dim, threshold=0.35).collect()
    }
    assert got == expected
    assert all(c <= i for i, c in got.items())


def test_minhash_empty_text_pair(spark):
    """Empty-text docs exercise the union=0 -> jaccard 1.0 branch of
    the JVM-side verify (no shingles on either side)."""
    from turtle_spark.operators.dedup import minhash_near_duplicates

    rows = [(1, ""), (2, ""), (3, "some real content that shingles normally here")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.src, r.dst): r.jaccard
        for r in minhash_near_duplicates(d, threshold=0.5, shingle_k=5).collect()
    }
    assert pairs.get((1, 2)) == 1.0
    assert all({3} - set(k) == {3} for k in pairs)  # 3 pairs with nobody


# --------------------------------------------------------------------------
# incremental cross-snapshot dedup (novelty screen)
# --------------------------------------------------------------------------

from turtle_spark.operators.dedup import (  # noqa: E402
    build_novelty_index,
    screen_against_index,
)


class TestNoveltyScreen:
    def _screen(self, spark, corpus_rows, batch_rows, **kw):
        corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
        batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
        index = build_novelty_index(corpus)
        out = screen_against_index(batch, index, **kw)
        return {r.doc_id: (r.status, r.matched_id, r.jaccard) for r in out.collect()}

    def test_exact_takes_precedence_and_picks_min_id(self, spark):
        text = "the exact same document body"
        got = self._screen(
            spark,
            [(7, text), (3, text), (9, "something unrelated entirely")],
            [(100, text)],
        )
        status, matched, jac = got[100]
        # both corpus copies match byte-for-byte -> exact, smallest id,
        # and the (trivial) near match must NOT override it
        assert (status, matched, jac) == ("exact", 3, None)

    def test_near_match_scores_best_corpus_doc(self, spark):
        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        close = base + " x"
        far = "completely different words nothing shared here at all ok"
        got = self._screen(
            spark, [(1, base), (2, far)], [(200, close)], threshold=0.3
        )
        status, matched, jac = got[200]
        assert status == "near" and matched == 1 and jac is not None and jac > 0.5

    def test_novel_when_nothing_matches(self, spark):
        got = self._screen(
            spark,
            [(1, "alpha beta gamma delta epsilon")],
            [(300, "zzz qqq www rrr ttt yyy uuu")],
        )
        assert got[300] == ("novel", None, None)

    def test_batch_is_not_screened_against_itself(self, spark):
        text = "twins inside the same batch are both novel vs the corpus"
        got = self._screen(
            spark, [(1, "unrelated corpus doc body")], [(10, text), (11, text)]
        )
        assert got[10] == ("novel", None, None)
        assert got[11] == ("novel", None, None)


def test_cooccurrence_lift_hand_computed(spark):
    """Tiny corpus, hand-counted pairs within a 2-token window."""
    from turtle_spark.operators.textstats import cooccurrence_lift

    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the cat")], "doc_id long, text string"
    )
    out = {
        (r["word_a"], r["word_b"]): (r["n_pairs"], r["n_a"], r["n_b"], r["lift"])
        for r in cooccurrence_lift(docs, window=2, top_k=10).collect()
    }
    # tokens: the cat sat | the cat  -> N = 5
    # pairs (window 2): the->cat x2, the->sat, cat->sat
    assert out[("the", "cat")] == (2, 2, 2, 2 * 5 / (2 * 2))
    assert out[("the", "sat")] == (1, 2, 1, 1 * 5 / (2 * 1))
    assert out[("cat", "sat")] == (1, 2, 1, 2.5)
    assert len(out) == 3


def test_cooccurrence_lift_window_bound_and_determinism(spark):
    from turtle_spark.operators.textstats import cooccurrence_lift

    docs = spark.createDataFrame(
        [(1, "a b c d e")], "doc_id long, text string"
    )
    got = {
        (r["word_a"], r["word_b"])
        for r in cooccurrence_lift(docs, window=1, top_k=100).collect()
    }
    # window=1: only adjacent pairs
    assert got == {("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")}
    a = cooccurrence_lift(docs.repartition(7), window=1, top_k=100).collect()
    b = cooccurrence_lift(docs.coalesce(1), window=1, top_k=100).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# --------------------------------------------------------------------------
# bm25_search
# --------------------------------------------------------------------------

def _bm25_docs(spark):
    rows = [
        (0, "apple apple apple banana"),
        (1, "apple banana cherry cherry"),
        (2, "banana banana banana banana"),
        (3, "durian cherry"),
        (4, "apple durian durian durian durian durian durian durian"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_rare_term_outranks_common(spark):
    from turtle_spark.operators.textstats import bm25_search

    docs = _bm25_docs(spark)
    qt = spark.createDataFrame(
        [("q", "durian"), ("q", "banana")], "query_id string, term string"
    )
    out = {r["doc_id"]: r for r in bm25_search(docs, qt, top_k=10).collect()}
    # durian appears in 2 docs, banana in 3 -> rational idf makes the
    # short durian-only doc 3 beat the all-banana doc 2
    assert out[3]["score"] > out[2]["score"]
    # doc 3 matched one term, doc 1 none (no durian/banana? it has banana)
    assert out[3]["n_terms_matched"] == 1
    assert 1 in out and out[1]["n_terms_matched"] == 1


def test_bm25_tf_saturates(spark):
    from turtle_spark.operators.textstats import bm25_search

    # doc 0 has tf=3 for apple, doc 1 tf=1; same query — doc 0 ranks
    # first but with less than 3x the score (k1 saturation)
    docs = _bm25_docs(spark)
    qt = spark.createDataFrame([("q", "apple")], "query_id string, term string")
    out = {r["doc_id"]: r["score"] for r in bm25_search(docs, qt, top_k=10).collect()}
    assert out[0] > out[1]
    assert out[0] < 3 * out[1]


def test_bm25_ranks_and_topk(spark):
    from turtle_spark.operators.textstats import bm25_search

    docs = _bm25_docs(spark)
    qt = spark.createDataFrame(
        [("q", "apple"), ("q", "cherry")], "query_id string, term string"
    )
    out = bm25_search(docs, qt, top_k=2).orderBy("rank").collect()
    assert [r["rank"] for r in out] == [1, 2]
    # doc 1 matches both terms — multi-term accumulation wins
    assert out[0]["doc_id"] == 1 and out[0]["n_terms_matched"] == 2


def test_bm25_partition_invariance(spark):
    from turtle_spark.operators.textstats import bm25_search

    docs = _bm25_docs(spark)
    qt = spark.createDataFrame(
        [("q", "apple"), ("q", "banana"), ("q", "cherry")],
        "query_id string, term string",
    )
    key = lambda rows: sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in rows
    )
    one = key(bm25_search(docs.coalesce(1), qt, top_k=10).collect())
    many = key(bm25_search(docs.repartition(7), qt, top_k=10).collect())
    assert one == many
