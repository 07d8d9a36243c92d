"""Round-5 feature coverage: embedding-similarity and prior pair features
(completing the reference's 13-feature set,
``/root/reference/src/ltr_bow.py:19-31``) plus the 128-bit working-id
option for 10^12-doc collision safety.

- ``doc_payload(embeddings=...)`` pooling is checked against hand-computed
  IDF·tf-weighted sums (the reference's ``_f_to_vec``,
  ``/root/reference/src/simple_dataset.py:133-144``).
- ``pair_features`` emb_dot / emb_cos against numpy, including the zero-
  vector NaN→0 guard (``src/simple_dataset.py:197-203``).
- ``candidate_pairs(with_count=True)`` → prior / times_mentioned against
  hand counts (ref features 7-8, ``src/ltr_bow.py:25-26``).
- ``LinkageConfig(id_bits=128)`` produces byte-identical clusters to the
  64-bit default on the labeled corpus.
- e2e F1 ≥ 0.99 with the new features ACTIVE in the scorer weights.
"""

import math

import pytest
from pyspark.sql import functions as F

from entity_linking_spark.datagen import write_parquet
from entity_linking_spark.functions.text import words
from entity_linking_spark.operators.pairs import candidate_pairs
from entity_linking_spark.operators.scoring import (
    doc_payload,
    pair_features,
    pair_payload_half,
)
from entity_linking_spark.plans.pipeline import (
    LinkageConfig,
    link_pages,
    pairwise_metrics,
)

LN3 = math.log(3.0)
LN15 = math.log(1.5)


@pytest.fixture(scope="module")
def tiny(spark):
    pages = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "date")],
        "id long, text string",
    )
    emb = spark.createDataFrame(
        [("apple", [1.0, 0.0]), ("banana", [0.0, 1.0]), ("cherry", [1.0, 1.0])],
        "token string, embedding array<float>",
    )
    return pages, emb


def test_pooled_embedding_matches_hand_math(spark, tiny):
    pages, emb = tiny
    out = {
        r["id"]: r["emb"]
        for r in doc_payload(
            pages, id_col="id", embeddings=emb, emb_dim=2
        ).collect()
    }
    # d1: apple tf=2 idf=ln3, banana tf=1 idf=ln(3/2)
    assert out[1] == pytest.approx([2 * LN3, LN15], rel=1e-6)
    # d2: banana + cherry(idf=ln3)
    assert out[2] == pytest.approx([LN3, LN15 + LN3], rel=1e-6)
    # d3: "date" has no vector -> OOV contributes zero (ref <PAD> = zeros)
    assert out[3] == pytest.approx([0.0, 0.0])


def test_pooled_embedding_skips_stopwords(spark):
    pages = spark.createDataFrame([(1, "the apple")], "id long, text string")
    emb = spark.createDataFrame(
        [("the", [100.0]), ("apple", [1.0])],
        "token string, embedding array<float>",
    )
    # idf = ln(1/1) = 0 for a 1-doc corpus, so weight the check via tf only:
    # use 2 docs so idf is nonzero for the distinguishing token
    pages = spark.createDataFrame(
        [(1, "the apple"), (2, "the fig")], "id long, text string"
    )
    got = {
        r["id"]: r["emb"][0]
        for r in doc_payload(
            pages, id_col="id", embeddings=emb, emb_dim=1
        ).collect()
    }
    # "the" (idf=0 anyway at df=2, but the stopword filter removes it even
    # when idf != 0) contributes nothing; apple: tf=1, idf=ln2
    assert got[1] == pytest.approx(math.log(2.0), rel=1e-6)
    assert got[2] == pytest.approx(0.0)
    # with the filter off AND a nonzero idf the stopword contributes: use a
    # 3-doc corpus where "the" appears in 2 of 3 (idf = ln 1.5)
    pages3 = spark.createDataFrame(
        [(1, "the apple"), (2, "the fig"), (3, "fig")], "id long, text string"
    )
    raw = {
        r["id"]: r["emb"][0]
        for r in doc_payload(
            pages3, id_col="id", embeddings=emb, emb_dim=1,
            emb_skip_stopwords=False,
        ).collect()
    }
    assert raw[1] == pytest.approx(100.0 * LN15 + LN3, rel=1e-6)


def test_emb_dim_required(spark, tiny):
    pages, emb = tiny
    with pytest.raises(ValueError, match="emb_dim"):
        doc_payload(pages, id_col="id", embeddings=emb)


def test_pair_emb_features_match_numpy(spark, tiny):
    pages, emb = tiny
    payload = doc_payload(pages, id_col="id", embeddings=emb, emb_dim=2)
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "id_a long, id_b long"
    )
    rows = {
        (r["id_a"], r["id_b"]): r
        for r in pair_features(pairs, payload).collect()
    }
    v1 = [2 * LN3, LN15]
    v2 = [LN3, LN15 + LN3]
    dot = v1[0] * v2[0] + v1[1] * v2[1]
    cos = dot / (
        math.hypot(*v1) * math.hypot(*v2)
    )
    assert rows[(1, 2)]["emb_dot"] == pytest.approx(dot, rel=1e-5)
    assert rows[(1, 2)]["emb_cos"] == pytest.approx(cos, rel=1e-5)
    # zero-vector side -> dot 0 and the NaN->0 cosine guard
    assert rows[(1, 3)]["emb_dot"] == pytest.approx(0.0)
    assert rows[(1, 3)]["emb_cos"] == pytest.approx(0.0)
    # no emb_* payload residue in the output schema
    assert "emb_a" not in rows[(1, 2)].asDict()


def test_pair_emb_half_stage_mismatch_raises(spark, tiny):
    # a pairs_payload_a stage built with embeddings, resumed against a
    # payload without them (and the reverse), fails with a clear error
    # instead of an unresolved-column error
    pages, emb = tiny
    with_emb = doc_payload(pages, id_col="id", embeddings=emb, emb_dim=2)
    plain = doc_payload(pages, id_col="id")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    for half, payload in (
        (pair_payload_half(pairs, with_emb), plain),
        (pair_payload_half(pairs, plain), with_emb),
    ):
        with pytest.raises(ValueError, match="emb_dim"):
            pair_features(half, payload)
    # matching halves still score
    half = pair_payload_half(pairs, with_emb)
    assert "emb_cos" in pair_features(half, with_emb).columns


def test_candidate_pairs_with_count_and_prior(spark):
    blocks = spark.createDataFrame(
        [(1, "k1"), (2, "k1"), (1, "k2"), (2, "k2"), (3, "k2")],
        "id long, block_key string",
    )
    pairs = candidate_pairs(blocks, with_count=True)
    got = {(r["id_a"], r["id_b"]): r["n_shared"] for r in pairs.collect()}
    assert got == {(1, 2): 2, (1, 3): 1, (2, 3): 1}

    # prior / times_mentioned materialize in pair_features
    pages = spark.createDataFrame(
        [(1, "aa bb"), (2, "aa bb"), (3, "aa cc")], "id long, text string"
    )
    payload = doc_payload(pages, id_col="id")
    feats = {
        (r["id_a"], r["id_b"]): r
        for r in pair_features(pairs, payload).collect()
    }
    assert feats[(1, 2)]["prior"] == pytest.approx(2 / 3)
    assert feats[(1, 3)]["prior"] == pytest.approx(1 / 3)
    assert feats[(1, 2)]["times_mentioned"] == 3
    assert feats[(2, 3)]["prior"] == pytest.approx(1.0)
    assert feats[(2, 3)]["times_mentioned"] == 1
    assert "n_shared" not in feats[(1, 2)].asDict()


def test_with_count_excludes_keep_key(spark):
    blocks = spark.createDataFrame(
        [(1, "k1")], "id long, block_key string"
    )
    with pytest.raises(ValueError, match="mutually exclusive"):
        candidate_pairs(blocks, keep_key=True, with_count=True)


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus_v2")
    write_parquet(str(d), n_entities=25, seed=42)
    pages = spark.read.parquet(f"{d}/pages.parquet")
    labeled = spark.read.parquet(f"{d}/labeled_pairs.parquet")
    return pages, labeled


def _corpus_vectors(pages, dim=8):
    """Deterministic pseudo-random (token, embedding) table over the corpus
    vocabulary — arithmetic on the token bytes, no external data."""
    vocab = pages.select(
        F.explode(words(F.col("text"))).alias("token")
    ).distinct()
    comps = [
        (
            (
                (F.ascii("token") * (i + 1) + F.length("token") * 7 + i * 13)
                % 97
            )
            / 97.0
            - 0.5
        ).cast("float")
        for i in range(dim)
    ]
    return vocab.select("token", F.array(*comps).alias("embedding"))


def test_e2e_f1_with_emb_and_prior_features(corpus):
    pages, labeled = corpus
    cfg = LinkageConfig(
        emb_dim=8,
        prior_features=True,
        weights={
            "tfidf_cos": 0.35,
            "jaccard": 0.20,
            "str_sim": 0.15,
            "jw_sim": 0.10,
            "emb_cos": 0.15,
            "prior": 0.05,
        },
    )
    clusters = link_pages(pages, config=cfg, embeddings=_corpus_vectors(pages))
    m = pairwise_metrics(clusters, labeled)
    assert m["f1"] >= 0.99, m
    assert m["precision"] >= 0.99, m


def test_id_bits_128_parity(corpus):
    pages, _ = corpus
    a = {
        (r["id"], r["cluster_id"])
        for r in link_pages(pages, config=LinkageConfig()).collect()
    }
    b = {
        (r["id"], r["cluster_id"])
        for r in link_pages(pages, config=LinkageConfig(id_bits=128)).collect()
    }
    assert a == b


def test_id_bits_128_parity_star_rounds(corpus, monkeypatch):
    # the 64-bit ids' edge set takes the one-task union-find at the
    # default bound; at bound 0 both id widths take the star rounds
    from entity_linking_spark.operators import cluster

    pages, _ = corpus
    local = {
        (r["id"], r["cluster_id"])
        for r in link_pages(pages, config=LinkageConfig()).collect()
    }
    monkeypatch.setattr(cluster, "LOCAL_MAX_EDGES", 0)
    for bits in (64, 128):
        got = {
            (r["id"], r["cluster_id"])
            for r in link_pages(pages, config=LinkageConfig(id_bits=bits)).collect()
        }
        assert got == local, bits


def test_pooled_embedding_shuffle_join_parity(spark, tiny):
    # emb_broadcast=False (vocabularies too big for executor memory)
    # switches the vector join to a token-keyed shuffle — values identical
    pages, emb = tiny
    a = {
        r["id"]: r["emb"]
        for r in doc_payload(
            pages, id_col="id", embeddings=emb, emb_dim=2
        ).collect()
    }
    b = {
        r["id"]: r["emb"]
        for r in doc_payload(
            pages, id_col="id", embeddings=emb, emb_dim=2,
            emb_broadcast=False,
        ).collect()
    }
    assert set(a) == set(b)
    for k in a:
        assert a[k] == pytest.approx(b[k], rel=1e-6)
