"""Similarity-measure goldens (FIXTURES.md §5).

- ``lev_ratio_cost2`` pins python-Levenshtein ``ratio`` semantics
  (substitution cost 2) used by the reference at
  ``/root/reference/src/simple_dataset.py:180``.
- ``jaro_winkler`` must match DuckDB's ``jaro_winkler_similarity``
  bit-for-bit (it is oracle-checked by the driver).
- JVM-side cosine vs numpy; ``pair_features``' TF-IDF cosine golden.
"""

import math
import random
import string

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from entity_linking_spark.functions.similarity import (
    cosine_arrays,
    lev_ratio_unit,
    tfidf_norm_map,
)
from entity_linking_spark.operators.scoring import pair_features
from similarity_reference import _jaro_winkler_one, _lev_ratio_cost2_one


# Golden values computed from python-Levenshtein semantics:
# ratio = (len_a + len_b - indel) / (len_a + len_b), indel = lensum - 2*LCS
LEV_GOLDENS = [
    ("kitten", "sitting", 8 / 13),          # LCS("kitten","sitting") = 4
    ("", "", 1.0),
    ("a", "", 0.0),
    ("abc", "abc", 1.0),
    ("Hello World", "hello world", 18 / 22),  # 2 case mismatches → LCS 9
    ("new york", "newyork", 14 / 15),
]


@pytest.mark.parametrize("a,b,expected", LEV_GOLDENS)
def test_lev_ratio_cost2_goldens(a, b, expected):
    assert abs(_lev_ratio_cost2_one(a, b) - expected) < 1e-12


def test_jaro_winkler_matches_duckdb():
    rng = random.Random(7)
    pairs = [("martha", "marhta"), ("DWAYNE", "DUANE"), ("", ""), ("a", "")]
    for _ in range(300):
        a = "".join(rng.choices(string.ascii_lowercase[:8], k=rng.randint(0, 14)))
        b = "".join(rng.choices(string.ascii_lowercase[:8], k=rng.randint(0, 14)))
        pairs.append((a, b))
    for a, b in pairs:
        want = duckdb.sql(
            "select jaro_winkler_similarity(?, ?)", params=[a, b]
        ).fetchone()[0]
        assert abs(_jaro_winkler_one(a, b) - want) < 1e-12, (a, b)


def test_lev_ratio_unit_matches_formula(spark):
    df = spark.createDataFrame(
        [("kitten", "sitting"), ("abc", "abc"), ("", "")], "a string, b string"
    )
    rows = df.select(lev_ratio_unit(F.col("a"), F.col("b")).alias("r")).collect()
    assert abs(rows[0]["r"] - (1 - 3 / 7)) < 1e-12
    assert rows[1]["r"] == 1.0
    assert rows[2]["r"] == 1.0


def test_cosine_arrays_vs_numpy(spark):
    rng = np.random.RandomState(3)
    a = rng.rand(8).tolist()
    b = rng.rand(8).tolist()
    df = spark.createDataFrame(
        [(a, b)], "a array<double>, b array<double>"
    )
    got = df.select(cosine_arrays(F.col("a"), F.col("b")).alias("c")).collect()[0]["c"]
    want = float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
    assert abs(got - want) < 1e-9


def test_tfidf_cos_golden(spark):
    # pair_features' tfidf_cos reads the payload's per-page norms
    payload = spark.createDataFrame(
        [(1, "x", 2, {"x": 1.0, "y": 2.0}), (2, "y", 2, {"y": 3.0, "z": 1.0})],
        "id long, head string, token_cnt int, tfidf map<string,double>",
    ).withColumn("tfidf_norm", tfidf_norm_map(F.col("tfidf")))
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    got = pair_features(pairs, payload).collect()[0]["tfidf_cos"]
    want = 6.0 / (math.sqrt(5) * math.sqrt(10))
    assert abs(got - want) < 1e-12
