"""LLM-pipeline operators (SURVEY.md §2.10): dedup, similarity, text
analysis, multimodal plumbing. Ground truth at sf0.001/sf0.01 is the
exact n-gram Jaccard (the fixtures carry injected near-dup pairs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataintegration_csvprovider_spark.operators.dedup import (
    dedup_exact,
    dedup_near_minhash,
    minhash_near_dup_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_dup_pairs,
)
from dataintegration_csvprovider_spark.operators.multimodal import (
    attach_fake_media,
    decode_image,
    extract_features,
    resize_metadata,
)
from dataintegration_csvprovider_spark.operators.similarity import (
    cosine_similarity_expr,
    embedding_near_dup_pairs,
    knn_bruteforce,
    knn_ivf,
)
from dataintegration_csvprovider_spark.operators.textstats import (
    doc_fingerprint,
    language_id,
    text_quality,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def truth_pairs(docs):
    return {
        (r.a, r.b)
        for r in ngram_jaccard_pairs(docs, n=2, threshold=0.5).collect()
    }


def test_dedup_exact_deterministic(spark):
    df = spark.createDataFrame(
        [(3, "x"), (1, "x"), (2, "y"), (5, "x")], "id long, k string"
    )
    out = dedup_exact(df, ["k"], "id").collect()
    assert sorted((r.k, r.id) for r in out) == [("x", 1), ("y", 2)]


def test_minhash_signature_shape(docs):
    sig = minhash_signatures(docs.limit(5)).collect()
    assert all(len(r.signature) == 64 for r in sig)
    # identical text → identical signature
    assert (
        minhash_signatures(docs.limit(1)).collect()[0].signature
        == minhash_signatures(docs.limit(1)).collect()[0].signature
    )


def test_minhash_finds_ground_truth(docs, truth_pairs):
    found = {
        (r.a, r.b) for r in minhash_near_dup_pairs(docs, threshold=0.5).collect()
    }
    assert truth_pairs, "fixture should contain injected near-dups"
    recall = len(found & truth_pairs) / len(truth_pairs)
    precision = len(found & truth_pairs) / max(len(found), 1)
    assert recall >= 0.9, (recall, len(found))
    assert precision >= 0.9, (precision, len(found))


def test_dedup_near_minhash_removes_duplicates(docs, truth_pairs):
    kept = dedup_near_minhash(docs, threshold=0.5)
    n_docs = docs.count()
    removed = n_docs - kept.count()
    # one doc removed per pair (minus shared-component overlap)
    assert removed > 0
    assert removed <= len(truth_pairs) + 5
    # survivors contain no ground-truth pair
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert not [p for p in truth_pairs if p[0] in kept_ids and p[1] in kept_ids]


def test_simhash_stability_and_pairs(docs, truth_pairs):
    fp1 = simhash(docs.limit(3)).collect()
    fp2 = simhash(docs.limit(3)).collect()
    assert [(r.doc_id, r.simhash) for r in fp1] == [
        (r.doc_id, r.simhash) for r in fp2
    ]
    found = {
        (r.a, r.b) for r in simhash_near_dup_pairs(docs, max_hamming=6).collect()
    }
    if found:
        precision = len(found & truth_pairs) / len(found)
        assert precision >= 0.8, (precision, len(found))


def test_simhash_blocking_complete_vs_bruteforce(docs):
    # the chunk blocking must return EVERY pair with hamming <= max_hamming
    # (pigeonhole needs max_hamming + 1 chunks; a fixed 4-chunk scheme
    # silently drops 4-6-bit pairs whose diffs span all four chunks)
    fps = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    for max_hamming in (3, 6, 9):
        want = set()
        ids = sorted(fps)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                if bin((fps[a] ^ fps[b]) & (2**64 - 1)).count("1") <= max_hamming:
                    want.add((a, b))
        got = {
            (r.a, r.b)
            for r in simhash_near_dup_pairs(docs, max_hamming=max_hamming).collect()
        }
        assert got == want, (max_hamming, want - got, got - want)


def test_ngram_jaccard_exactness(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b c d x"),  # bigrams: share {a b, b c, c d} of 4+4 → 3/5
            (3, "z z z z z"),
        ],
        "doc_id long, text string",
    )
    pairs = ngram_jaccard_pairs(df, n=2, threshold=0.5).collect()
    assert len(pairs) == 1
    assert (pairs[0].a, pairs[0].b) == (1, 2)
    assert pairs[0].jaccard == pytest.approx(3 / 5)


def test_ngram_jaccard_methods_agree(docs):
    # prefix filtering (PPJoin-style) and the dense bitset-matmul path
    # must find exactly the index join's pairs — both are exact
    # optimizations, not approximations
    a = sorted(
        (r.a, r.b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, n=2, threshold=0.5, method="index").collect()
    )
    for method in ("prefix", "dense", "auto"):
        b = sorted(
            (r.a, r.b, r.jaccard)
            for r in ngram_jaccard_pairs(
                docs, n=2, threshold=0.5, method=method
            ).collect()
        )
        assert a == b and a, method


def test_cosine_and_knn(spark, emb):
    q = emb.filter(F.col("vec_id") == 0).collect()[0].embedding
    top = knn_bruteforce(emb, q, k=5).collect()
    assert top[0].vec_id == 0 and top[0].cosine == pytest.approx(1.0)
    assert [r.cosine for r in top] == sorted(
        [r.cosine for r in top], reverse=True
    )
    # cosine expression self-similarity
    one = emb.limit(1).select(
        cosine_similarity_expr(F.col("embedding"), F.col("embedding")).alias("c")
    ).collect()[0].c
    assert one == pytest.approx(1.0)


def test_knn_lsh_overlaps_bruteforce(emb):
    from dataintegration_csvprovider_spark.operators.similarity import knn_lsh

    q = emb.filter(F.col("vec_id") == 0).collect()[0].embedding
    exact = [r.vec_id for r in knn_bruteforce(emb, q, k=10).collect()]
    approx = [r.vec_id for r in knn_lsh(emb, q, k=10).collect()]
    assert approx[0] == 0  # the query vector is in its own bucket
    assert len(set(exact) & set(approx)) >= 2


def test_knn_ivf_overlaps_bruteforce(emb):
    q = emb.filter(F.col("vec_id") == 0).collect()[0].embedding
    exact = [r.vec_id for r in knn_bruteforce(emb, q, k=10).collect()]
    approx = [r.vec_id for r in knn_ivf(emb, q, k=10, n_probe=4).collect()]
    # query's own vector is in the probed partition by construction
    assert approx[0] == 0
    assert len(set(exact) & set(approx)) >= 3  # sane recall on random data


def test_embedding_near_dup_blocked(emb):
    pairs = embedding_near_dup_pairs(emb, threshold=0.3).collect()
    for r in pairs:
        assert r.a < r.b and r.cosine >= 0.3


def test_text_quality_columns(docs):
    out = text_quality(docs.limit(10)).collect()
    for r in out:
        assert r.n_chars > 0 and r.n_tokens > 0
        assert 0 <= r.stopword_ratio <= 1
        assert r.n_bpe_tokens >= r.n_tokens  # sub-word >= whitespace tokens


def test_language_id_deterministic(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is in the house and the dog"),
            (2, "der hund ist nicht ein katze und das haus"),
            (3, "xyzzy qwerty plugh"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.detected_lang for r in language_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "und"}


def test_doc_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "c b a")], "doc_id long, text string"
    )
    fps = {r.doc_id: r.fingerprint for r in doc_fingerprint(df).collect()}
    assert fps[1] == fps[2]  # same content → same fingerprint
    assert fps[1] != fps[3]  # order matters


def test_multimodal_pipeline(docs):
    media = attach_fake_media(docs.limit(20))
    feats = extract_features(media, fake=True).collect()
    assert len(feats) == 20
    for r in feats:
        assert len(r.feature) == 16
        assert all(0 <= f <= 1 for f in r.feature)
        assert r.payload_bytes > 0
    # determinism across runs
    again = extract_features(attach_fake_media(docs.limit(20)), fake=True).collect()
    assert [r.feature for r in feats] == [r.feature for r in again]


def test_multimodal_decode_rejects_non_media():
    # real decode now ships for PNG/BMP/PPM; arbitrary bytes are a loud
    # ValueError, never silently pseudo-decoded
    with pytest.raises(ValueError, match="unrecognized image payload"):
        decode_image(b"bytes", fake=False)


def test_multimodal_frame_sampling(spark):
    from dataintegration_csvprovider_spark.operators.multimodal import (
        sample_frames,
    )

    media = spark.createDataFrame(
        [(1, "video", b"x", ("video/fake", None, None, 3500)),
         (2, "video", b"y", ("video/fake", None, None, 200_000)),
         (3, "image", b"z", ("image/fake", None, None, None))],
        "doc_id long, media_type string, payload binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:int>",
    )
    out = sample_frames(media, frame_interval_ms=1000, max_frames=32).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r.doc_id, []).append((r.frame_idx, r.frame_ts_ms))
    assert len(per_doc[1]) == 3  # 3500ms / 1000ms
    assert len(per_doc[2]) == 32  # capped
    assert len(per_doc[3]) == 1  # no duration → 1 frame
    assert per_doc[1][2] == (2, 2000)


def test_multimodal_audio_rejects_non_media():
    from dataintegration_csvprovider_spark.operators.multimodal import decode_audio

    with pytest.raises(ValueError, match="unrecognized audio payload"):
        decode_audio(b"bytes")
    assert len(decode_audio(b"bytes", fake=True)) == 16


def test_multimodal_resize_bounds(docs):
    out = resize_metadata(attach_fake_media(docs.limit(50)), max_side=224).collect()
    for r in out:
        assert r.resize_to.width <= 224 and r.resize_to.height <= 224


def test_connected_components_long_path(spark):
    # a 50-edge path has diameter far beyond the round cap: only the
    # pointer-jumping shortcut makes 20 rounds enough (O(log diameter))
    from dataintegration_csvprovider_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "a bigint, b bigint"
    )
    comps = connected_components(edges)
    assert comps.filter("component != 0").count() == 0
    assert comps.count() == 51


def test_near_dup_ops_skip_contentless_docs(spark):
    # NULL / empty / whitespace-only text must not produce pairs (set
    # similarity is undefined for empty feature sets; NaN Jaccard would
    # otherwise pass any threshold since Spark orders NaN above numbers)
    from dataintegration_csvprovider_spark.operators.dedup import (
        minhash_near_dup_pairs,
        ngram_jaccard_pairs,
        simhash_near_dup_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "hello world foo bar baz"),
            (2, "hello world foo bar baz"),
            (3, ""),
            (4, None),
            (5, "   "),
            (6, "single"),
        ],
        "doc_id bigint, text string",
    )
    for pairs in (
        minhash_near_dup_pairs(docs),
        simhash_near_dup_pairs(docs),
        ngram_jaccard_pairs(docs, n=2, threshold=0.5),
    ):
        got = sorted((r[0], r[1]) for r in pairs.collect())
        assert got == [(1, 2)], got


def test_similarity_ops_tolerate_degenerate_vectors(spark):
    # NULL and zero-norm embeddings must be skipped, not crash the job
    # (ANSI mode would raise DIVIDE_BY_ZERO on cosine) nor rank anywhere
    from dataintegration_csvprovider_spark.operators.similarity import (
        embedding_near_dup_pairs,
        knn_bruteforce,
        knn_ivf,
        knn_lsh,
    )

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, None),
            (4, [0.0, 0.0]),
            (5, [-1.0, 0.0]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    ids = [r.vec_id for r in knn_bruteforce(emb, [1.0, 0.0], k=5).collect()]
    assert ids == [1, 2, 5]
    assert 3 not in ids and 4 not in ids
    for got in (
        knn_ivf(emb, [1.0, 0.0], k=5, num_centroids=2).collect(),
        knn_lsh(emb, [1.0, 0.0], k=5).collect(),
    ):
        assert {r.vec_id for r in got} <= {1, 2, 5}
    pairs = embedding_near_dup_pairs(emb, threshold=0.8, num_centroids=2)
    assert {(r.a, r.b) for r in pairs.collect()} <= {(1, 2)}


def test_multimodal_features_null_payload(spark):
    # a missing media payload yields NULL features, never a worker crash
    from dataintegration_csvprovider_spark.operators.multimodal import (
        attach_fake_media,
        extract_features,
    )

    docs = spark.createDataFrame(
        [(1, "hello"), (2, ""), (3, None)], "doc_id bigint, text string"
    )
    out = {r.doc_id: r for r in
           extract_features(attach_fake_media(docs)).collect()}
    assert out[1].payload_bytes == 5 and out[1].feature is not None
    assert out[2].payload_bytes == 0
    assert out[3].payload_bytes is None and out[3].feature is None


def test_hll_sketches_merge_consistently(spark):
    # the scale contract: union of per-shard sketches estimates the same
    # cardinality as one global sketch (not bit-equal: union drops the
    # HIP estimator, a documented DataSketches property)
    from pyspark.sql import functions as F

    df = spark.range(0, 5000).select(
        (F.col("id") % 4).alias("shard"), (F.col("id") % 1000).alias("v")
    )
    whole = df.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("v")).alias("est")
    ).first().est
    merged = (
        df.groupBy("shard")
        .agg(F.hll_sketch_agg("v").alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .first()
        .est
    )
    assert abs(merged - whole) / whole < 0.02
    assert abs(whole - 1000) / 1000 < 0.05


def test_trained_ivf_centroids_on_clustered_data(spark):
    # on genuinely clustered vectors, k-means-trained IVF partitions with
    # n_probe=1 must recover the exact top-k (probe = the query's cluster)
    from dataintegration_csvprovider_spark.operators.similarity import (
        knn_bruteforce,
        knn_ivf,
        trained_ivf_centroids,
    )

    centers = [[10.0, 0.0], [0.0, 10.0], [-10.0, 0.0], [0.0, -10.0]]
    rows = []
    vid = 0
    for ci, c in enumerate(centers):
        for j in range(25):
            rows.append(
                (vid, [c[0] + 0.01 * (j % 5), c[1] + 0.01 * (j // 5)])
            )
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cent = trained_ivf_centroids(emb, k=4, n_iter=3)
    q = [9.5, 0.5]
    exact = [r.vec_id for r in knn_bruteforce(emb, q, k=5).collect()]
    approx = [
        r.vec_id
        for r in knn_ivf(emb, q, k=5, n_probe=1, centroids=cent).collect()
    ]
    assert approx == exact


# -- connected components (operators/components.py) -------------------------


def test_connected_components_chain_clique_singleton(spark):
    # chain 1-2-3-4 (worst case for label propagation), clique 10-11-12,
    # isolated edge 20-21; nodes absent from edges are the caller's concern
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (21, 20)],
        "src long, dst long",
    )
    from dataintegration_csvprovider_spark.operators.components import (
        connected_components,
    )

    got = {
        (r["node"], r["component"])
        for r in connected_components(edges).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }


def test_connected_components_round_counts(spark):
    # rounds executed, including the one that confirms the fixpoint: the
    # chain/clique graph above, the 50-edge path and a 50-leaf star give
    # 3, 7 and 1 since the Column-built plans with a separate input
    # checksum
    from dataintegration_csvprovider_spark.operators.components import (
        connected_components_stats,
    )

    graphs = {
        "chain_clique": [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (21, 20)],
        "path": [(i, i + 1) for i in range(50)],
        "star": [(0, i) for i in range(1, 51)],
    }
    rounds = {
        name: connected_components_stats(
            spark.createDataFrame(edges, "src long, dst long")
        )[1]
        for name, edges in graphs.items()
    }
    assert rounds == {"chain_clique": 3, "path": 7, "star": 1}


def test_connected_components_duplicate_and_reversed_edges(spark):
    edges = spark.createDataFrame(
        [(5, 6), (6, 5), (5, 6), (7, 6)], "src long, dst long"
    )
    from dataintegration_csvprovider_spark.operators.components import (
        connected_components,
    )

    got = {
        (r["node"], r["component"])
        for r in connected_components(edges).collect()
    }
    assert got == {(5, 5), (6, 5), (7, 5)}


def test_operators_tolerate_empty_inputs(spark):
    """A 100 TB pipeline routinely meets empty sources/partitions:
    every pair/flag/search operator must return an empty result, not
    crash, on zero-row input."""
    from dataintegration_csvprovider_spark.operators import dedup, similarity

    docs = spark.createDataFrame([], "doc_id long, text string")
    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert dedup.dedup_exact(docs, ["text"], "doc_id").count() == 0
    assert dedup.minhash_near_dup_pairs(docs).count() == 0
    assert dedup.ngram_jaccard_pairs(docs).count() == 0
    assert dedup.simhash_near_dup_pairs(docs).count() == 0
    assert dedup.dedup_spans_across_corpus(docs).count() == 0
    assert dedup.incremental_near_dup_flags(docs, docs).count() == 0
    assert dedup.ngram_jaccard_cross_pairs(docs, docs).count() == 0
    assert similarity.knn_bruteforce(emb, [1.0] * 64).count() == 0
    assert similarity.embedding_near_dup_pairs(emb).count() == 0


def test_knn_batch_rejects_degenerate_queries(spark):
    """A zero-norm or non-finite query vector yields inf/NaN cosines, and
    Spark's descending rank window orders NaN ABOVE all doubles — garbage
    would occupy ranks 1..k. The batch path must reject such queries
    loudly (the bruteforce path's try_divide NULLs them to the bottom)."""
    from dataintegration_csvprovider_spark.operators.similarity import (
        knn_batch,
    )

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    for bad in ([0.0, 0.0], [float("nan"), 1.0], [float("inf"), 0.0], []):
        queries = spark.createDataFrame(
            [(100, bad)], "query_id long, query_vec array<float>"
        )
        with pytest.raises(ValueError, match="query vector"):
            knn_batch(corpus, queries, k=1)
    # and a valid query still works
    ok = spark.createDataFrame(
        [(100, [1.0, 0.0])], "query_id long, query_vec array<float>"
    )
    top = knn_batch(corpus, ok, k=1).collect()
    assert [(r.query_id, r.vec_id, r.rank) for r in top] == [(100, 1, 1)]


def test_embedding_near_dup_snapshot_reuse_skips_count(spark):
    """The snapshot-reuse path (trained centroids passed in) never
    consumes the adaptive k, so it must not run the corpus count action
    — and must still produce the same pairs as the training path."""
    from unittest.mock import patch

    from pyspark.sql import DataFrame

    from dataintegration_csvprovider_spark.operators.similarity import (
        embedding_near_dup_pairs,
        trained_ivf_centroids,
    )

    rows = [
        (i, [float(i % 4 == j) + 0.01 * i for j in range(4)]) for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = trained_ivf_centroids(emb, k=4).localCheckpoint(eager=True)
    with patch.object(
        DataFrame, "count", side_effect=AssertionError("count() on reuse path")
    ):
        reused = embedding_near_dup_pairs(emb, threshold=0.9, centroids=cents)
    assert reused.count() >= 0  # plan built without any corpus count


def test_bpe_train_and_encode_textbook_example(spark):
    """Hand-checkable BPE: on a corpus of 'low' x5 and 'lowest' x2, the
    first merges build up 'low' (l+o, lo+w) and the encoder reuses the
    learned subwords inside 'lowest'."""
    from dataintegration_csvprovider_spark.operators.tokenizer import (
        _encode_word,
        bpe_token_counts,
        train_bpe_merges,
    )

    rows = [(i, "low low low low low lowest lowest") for i in range(2)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = train_bpe_merges(df, n_merges=3)
    assert merges[0] == ("l", "o")  # most frequent pair (7 words)
    assert merges[1] == ("lo", "w")
    ranks = {p: i for i, p in enumerate(merges)}
    # 'low' -> ['low', '</w>'] or ['low</w>'] depending on merge 3
    enc_low = _encode_word("low", ranks)
    assert enc_low[0] == "low" or enc_low == ["low</w>"]
    # 'lowest' starts with the learned 'low' subword
    enc_lowest = _encode_word("lowest", ranks)
    assert enc_lowest[0] in ("low", "low</w>") or enc_lowest[0].startswith("low")

    counts = {
        r.doc_id: r.n_bpe for r in bpe_token_counts(df, merges).collect()
    }
    assert counts[0] == counts[1] > 0
    # NULL text -> NULL count, not a crash
    df2 = spark.createDataFrame([(9, None)], "doc_id long, text string")
    assert bpe_token_counts(df2, merges).collect()[0]["n_bpe"] is None


def test_bigram_lm_score_self_trained(spark):
    from dataintegration_csvprovider_spark.operators.textstats import (
        bigram_lm_score,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat"),         # bigrams: (the,cat) (cat,sat)
            (2, "the cat ran"),         # bigrams: (the,cat) (cat,ran)
            (3, "one"),                 # no bigrams
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in bigram_lm_score(docs, alpha=0.5).collect()
    }
    # train counts: c2(the,cat)=2, c2(cat,sat)=1, c2(cat,ran)=1;
    # c1(the)=2, c1(cat)=2; V = |{cat, sat, ran}| = 3
    p_the_cat = (2 + 0.5) / (2 + 0.5 * 3)
    p_cat_sat = (1 + 0.5) / (2 + 0.5 * 3)
    assert out[1]["n_bigrams"] == 2
    assert abs(out[1]["mean_p"] - (p_the_cat + p_cat_sat) / 2) < 1e-9
    assert out[3]["n_bigrams"] == 0 and out[3]["mean_p"] is None


def test_bigram_lm_score_cross_corpus_smoothing(spark):
    import pytest

    from dataintegration_csvprovider_spark.operators.textstats import (
        bigram_lm_score,
    )

    train = spark.createDataFrame(
        [(1, "a b a b a c")], "doc_id long, text string"
    )
    score = spark.createDataFrame(
        [(10, "a b"), (11, "zz qq")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in bigram_lm_score(score, train_df=train, alpha=0.5).collect()
    }
    # train: c2(a,b)=2 c2(b,a)=2 c2(a,c)=1; c1(a)=3 c1(b)=2; V=|{b,a,c}|=3
    # (mean_p reports at 9 decimals — the round-12 midpoint-free
    # convention — so the tolerance is the rounding quantum, not 1e-12)
    assert abs(out[10]["mean_p"] - (2 + 0.5) / (3 + 1.5)) < 1e-9
    # fully unseen first word: p = alpha / (alpha * V) = 1/V
    assert abs(out[11]["mean_p"] - 1 / 3) < 1e-9
    with pytest.raises(ValueError):
        bigram_lm_score(score, alpha=0.0)


def test_bigram_lm_score_ranks_fluent_above_garbled(spark):
    from dataintegration_csvprovider_spark.operators.textstats import (
        bigram_lm_score,
    )

    # corpus dominated by one repeated fluent sentence + one garbled doc
    fluent = "the quick brown fox jumps over the lazy dog"
    rows = [(i, fluent) for i in range(10)] + [
        (99, "dog quick the over fox brown lazy jumps")
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["mean_p"] for r in bigram_lm_score(docs).collect()}
    assert out[0] > out[99] * 3


def test_filter_funnel_sequential_attribution(spark):
    import pytest
    from pyspark.sql import functions as F

    from dataintegration_csvprovider_spark.operators.textstats import (
        filter_funnel,
    )

    df = spark.createDataFrame(
        [(1, 5, True), (2, 50, True), (3, 500, False), (4, 50, False)],
        "doc_id long, nw long, flag boolean",
    )
    out = {
        r["stage"]: r.asDict()
        for r in filter_funnel(
            df,
            [
                ("nw_min", F.col("nw") >= 10),     # kills doc 1
                ("nw_max", F.col("nw") <= 100),    # kills doc 3
                ("flagged", F.col("flag")),        # kills doc 4
            ],
        ).collect()
    }
    assert out[1] == {"stage": 1, "rule": "nw_min", "n_in": 4,
                      "n_failed_here": 1, "n_surviving": 3}
    # doc 1 already failed stage 1 — it must NOT count against stage 2/3
    assert out[2] == {"stage": 2, "rule": "nw_max", "n_in": 3,
                      "n_failed_here": 1, "n_surviving": 2}
    assert out[3] == {"stage": 3, "rule": "flagged", "n_in": 2,
                      "n_failed_here": 1, "n_surviving": 1}
    with pytest.raises(ValueError):
        filter_funnel(df, [])
    with pytest.raises(ValueError):
        filter_funnel(df, [("a", F.lit(True)), ("a", F.lit(False))])


def test_dsir_importance_ranks_target_like_docs_higher(spark):
    from dataintegration_csvprovider_spark.operators.textstats import (
        dsir_importance,
    )

    rows = [
        (1, "alpha beta alpha beta gamma"),   # target-like
        (2, "delta epsilon zeta delta eta"),  # off-target
        (3, ""),                              # empty
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    target = spark.createDataFrame(
        [(10, "alpha beta alpha gamma beta alpha")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dsir_importance(docs, target).collect()}
    assert out[1]["mean_lr"] > out[2]["mean_lr"]
    assert out[3]["n_words"] == 0 and out[3]["mean_lr"] is None
    assert out[1]["n_words"] == 5
