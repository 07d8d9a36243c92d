"""End-to-end linkage correctness on the synthetic labeled corpus
(FIXTURES.md §1-2; BASELINE target: pairwise F1 ≥ 0.99 at fixed blocking
key) plus the determinism invariant (two runs → identical clusters)."""

import pytest

from entity_linking_spark.datagen import write_parquet
from entity_linking_spark.plans.pipeline import (
    LinkageConfig,
    link_pages,
    pairwise_metrics,
)


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    write_parquet(str(d), n_entities=25, seed=42)
    pages = spark.read.parquet(f"{d}/pages.parquet")
    labeled = spark.read.parquet(f"{d}/labeled_pairs.parquet")
    return pages, labeled


def test_pairwise_f1_above_baseline(corpus):
    pages, labeled = corpus
    clusters = link_pages(pages, config=LinkageConfig())
    m = pairwise_metrics(clusters, labeled)
    assert m["f1"] >= 0.99, m
    assert m["precision"] >= 0.99, m


def test_deterministic_clusters(corpus):
    pages, _ = corpus
    a = {
        (r["id"], r["cluster_id"])
        for r in link_pages(pages, config=LinkageConfig()).collect()
    }
    b = {
        (r["id"], r["cluster_id"])
        for r in link_pages(pages, config=LinkageConfig()).collect()
    }
    assert a == b


def test_cluster_id_is_min_member(corpus):
    pages, _ = corpus
    rows = link_pages(pages, config=LinkageConfig()).collect()
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r["cluster_id"], []).append(r["id"])
    for cid, members in by_comp.items():
        assert cid == min(members)


def test_repeat_run_reuses_generated_code(spark, corpus):
    # the session's codegen cache holds every class one run generates,
    # so a second run over the same input compiles (almost) nothing; at
    # Spark's default 100-entry cache it recompiled ~200+ classes
    pages, _ = corpus
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = metrics.METRIC_COMPILATION_TIME()
    link_pages(pages, config=LinkageConfig()).collect()
    spark.catalog.clearCache()
    before = compiled.getCount()
    link_pages(pages, config=LinkageConfig()).collect()
    assert compiled.getCount() - before <= 25
