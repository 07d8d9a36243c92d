"""Trained scorer behind the fixed-weights interface (VERDICT item 9;
reference precedent: FixedWeights / learned model swap behind load_model,
/root/reference/src/eval_ltr_bow_model.py:29-45).

Train logistic regression on labeled candidate pairs, then run the full
pipeline with the learned model — F1 must stay ≥ 0.99.
"""

import pytest
from pyspark.sql import functions as F

from entity_linking_spark.datagen import write_parquet
from entity_linking_spark.operators.scoring import (
    TrainedScorer,
    train_pair_scorer,
)
from entity_linking_spark.plans.pipeline import (
    LinkageConfig,
    link_pages,
    pairwise_metrics,
    score_candidate_pairs,
)


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("trained_corpus")
    write_parquet(str(d), n_entities=25, seed=7)
    pages = spark.read.parquet(f"{d}/pages.parquet")
    labeled = spark.read.parquet(f"{d}/labeled_pairs.parquet")
    return pages, labeled


def _features_with_labels(pages, labeled):
    feats = score_candidate_pairs(pages)
    lab = labeled.select(
        F.least("url_a", "url_b").alias("id_a"),
        F.greatest("url_a", "url_b").alias("id_b"),
        "label",
    )
    return feats.join(lab, ["id_a", "id_b"])


def test_trained_scorer_e2e_f1(corpus):
    pages, labeled = corpus
    model = train_pair_scorer(_features_with_labels(pages, labeled))
    assert set(model.weights) == {"tfidf_cos", "jaccard", "str_sim", "jw_sim"}
    clusters = link_pages(pages, config=LinkageConfig(model=model))
    m = pairwise_metrics(clusters, labeled)
    assert m["f1"] >= 0.99, m


def test_trained_scorer_is_pure_codegen(corpus, spark):
    # inference must stay JVM-side: the learned weights are plan literals,
    # so the score column adds no Python eval nodes beyond the feature UDFs
    pages, _ = corpus
    model = TrainedScorer(weights={"tfidf_cos": 2.0, "jaccard": 1.0}, bias=-1.0)
    scored = score_candidate_pairs(pages, config=LinkageConfig(model=model))
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_sigmoid_column_values(spark):
    df = spark.createDataFrame([(1.0, 0.0), (0.0, 1.0)], "a double, b double")
    m = TrainedScorer(weights={"a": 2.0, "b": -2.0}, bias=0.0)
    got = [r[0] for r in m.attach_score(df).select(F.round("score", 6)).collect()]
    import math

    sig = lambda z: 1 / (1 + math.exp(-z))  # noqa: E731
    assert got == [round(sig(2.0), 6), round(sig(-2.0), 6)]
