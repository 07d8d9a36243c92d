"""The JVM string kernels (``functions/StringKernels.java``).

- They equal the pure-Python reference (``similarity_reference``) with
  ``==`` on generated pairs, and DuckDB's ``jaro_winkler_similarity`` on
  the DuckDB-checked cases.
- They work in any session of a context, and a context ships one jar.
- The flagship runs no Python worker: no SQL execution that
  ``link_pages`` or ``score_candidate_pairs`` starts plans an
  ``EvalPython`` node.
"""

import random
import string

import duckdb
import pytest
from pyspark.sql import functions as F
from py4j.java_gateway import JavaObject

from entity_linking_spark.datagen import write_parquet
from entity_linking_spark.functions.similarity import jaro_winkler, lev_ratio_cost2
from entity_linking_spark.plans.pipeline import link_pages, score_candidate_pairs
from similarity_reference import _jaro_winkler_one, _lev_ratio_cost2_one


def _duckdb_cases():
    # the pairs tests/test_similarity.py checks against DuckDB
    rng = random.Random(7)
    pairs = [("martha", "marhta"), ("DWAYNE", "DUANE"), ("", ""), ("a", "")]
    for _ in range(300):
        a = "".join(rng.choices(string.ascii_lowercase[:8], k=rng.randint(0, 14)))
        b = "".join(rng.choices(string.ascii_lowercase[:8], k=rng.randint(0, 14)))
        pairs.append((a, b))
    return pairs


def _generated_pairs(n):
    rng = random.Random(11)
    # ASCII, Latin-1, precomposed vs combining accents, and non-BMP
    alphabet = "abcdefgh \u00e9\u0301\u00f1\U0001f600\U0001d518\u4e2d"
    pairs = [
        ("", ""), (None, "x"), ("x", None), (None, None), (None, ""),
        ("a", "a"), ("a", "b"), ("a", ""), ("é😀x", "é😀y"), ("\u00e9", "e\u0301"),
    ]
    while len(pairs) < n:
        a = "".join(rng.choices(alphabet, k=rng.randint(0, 40)))
        kind = rng.random()
        if kind < 0.1:
            b = a
        elif kind < 0.5 and len(a) > 1:
            # a near-duplicate: swap two neighbours, maybe drop one character
            i = rng.randrange(len(a) - 1)
            b = a[:i] + a[i + 1] + a[i] + a[i + 2:]
            if rng.random() < 0.5:
                j = rng.randrange(len(b))
                b = b[:j] + b[j + 1:]
        else:
            b = "".join(rng.choices(alphabet, k=rng.randint(0, 40)))
        pairs.append((a, b))
    return pairs


def test_kernels_equal_reference_and_duckdb(spark):
    duck = _duckdb_cases()
    pairs = duck + _generated_pairs(12_000)
    df = spark.createDataFrame(pairs, "a string, b string").repartition(4)
    out = df.select(
        "a", "b",
        jaro_winkler("a", "b").alias("jw"),
        lev_ratio_cost2(F.col("a"), F.col("b")).alias("lev"),
    )
    rows = out.collect()
    assert len(rows) == len(pairs)
    plan = out._jdf.queryExecution().executedPlan()
    walked = _plan_node_names(spark.sparkContext._jvm, plan)
    assert "Project" in walked and not [n for n in walked if "EvalPython" in n]
    boosted = 0
    for r in rows:
        a, b = r["a"] or "", r["b"] or ""
        assert r["jw"] == _jaro_winkler_one(a, b), (a, b)
        assert r["lev"] == _lev_ratio_cost2_one(a, b), (a, b)
        boosted += r["jw"] > 0.7
    assert boosted > 1000  # the Winkler prefix boost is exercised
    jw = {(r["a"], r["b"]): r["jw"] for r in rows}
    for a, b in duck:
        want = duckdb.sql(
            "select jaro_winkler_similarity(?, ?)", params=[a, b]
        ).fetchone()[0]
        assert jw[(a, b)] == want, (a, b)


def test_kernels_in_new_session_ship_one_jar(spark):
    sc = spark.sparkContext

    def jars():
        return _seq(sc._jvm, sc._jsc.sc().listJars())

    before = jars()
    shipped = any(j.endswith("/string_kernels.jar") for j in before)
    other = spark.newSession()
    df = other.createDataFrame([("martha", "marhta"), ("ab", None)], "a string, b string")
    got = df.select(jaro_winkler("a", "b"), lev_ratio_cost2("a", "b")).collect()
    again = spark.range(1).select(jaro_winkler(F.lit("abc"), F.lit("abd"))).collect()
    after = jars()
    # one jar per context: a first use adds exactly one, a later use none
    assert len(after) == len(before) + (0 if shipped else 1)
    assert sum(j.endswith("/string_kernels.jar") for j in after) == 1
    assert [tuple(r) for r in got] == [
        (_jaro_winkler_one("martha", "marhta"), _lev_ratio_cost2_one("martha", "marhta")),
        (0.0, 0.0),
    ]
    assert again[0][0] == _jaro_winkler_one("abc", "abd")


def _seq(jvm, seq):
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


def _executed_node_names(spark, run):
    """Plan node names of every SQL execution ``run()`` starts (AQE final
    plans included), from the SQL status store: CC truncates lineage, so
    the final frame's plan alone does not reach the scoring stage."""
    jvm = spark.sparkContext._jvm
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        bus.waitUntilEmpty()
        return {e.executionId() for e in _seq(jvm, store.executionsList())}

    seen = executions()
    run()
    return [
        node.name()
        for eid in sorted(executions() - seen)
        for node in _seq(jvm, store.planGraph(eid).allNodes())
    ]


def _plan_node_names(jvm, plan: JavaObject):
    """Walk a physical plan after it ran: the AQE final plan, each query
    stage's plan, children and inner children (cached plans, subqueries)."""
    names, stack = [], [plan]
    while stack:
        p = stack.pop()
        names.append(p.nodeName())
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(p.plan())
        stack.extend(_seq(jvm, p.children()) + _seq(jvm, p.innerChildren()))
    return names


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("kernel_corpus")
    write_parquet(str(d), n_entities=10, seed=42)
    return spark.read.parquet(f"{d}/pages.parquet")


@pytest.mark.parametrize("runner", [link_pages, score_candidate_pairs])
def test_flagship_runs_no_python_worker(spark, corpus, runner):
    out = {}

    def run():
        out["df"] = runner(corpus)
        out["rows"] = out["df"].collect()

    names = _executed_node_names(spark, run)
    assert out["rows"] and "Project" in names
    assert [n for n in names if "EvalPython" in n] == []
    if runner is score_candidate_pairs:
        plan = out["df"]._jdf.queryExecution().executedPlan()
        walked = _plan_node_names(spark.sparkContext._jvm, plan)
        assert "AdaptiveSparkPlan" in walked and "Project" in walked
        assert [n for n in walked if "EvalPython" in n] == []
        assert "jaro_winkler(" in plan.toString()
