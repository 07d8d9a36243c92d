"""P2 has-label filter: row semantics + drop counters with zero extra jobs."""

import os

from pyspark.sql import Observation
from pyspark.sql import functions as F

from entity_linking_spark.operators.filters import filter_has_label


def test_filter_rows_and_observed_counts(spark):
    df = spark.createDataFrame(
        [
            (1, [1, 2, 3], 2),
            (2, [4, 5], 9),      # dropped
            (3, [7], 7),
            (4, [8, 9], 1),      # dropped
            (5, [0, 1], 0),
        ],
        "row_id long, candidates array<long>, label long",
    )
    obs = Observation("has_label")
    kept = filter_has_label(df, "candidates", "label", observation=obs)
    rows = {r["row_id"] for r in kept.collect()}
    assert rows == {1, 3, 5}
    got = obs.get
    assert got["seen"] == 5
    assert got["dropped"] == 2
    assert got["kept"] == 3


def test_null_label_rows_count_as_dropped(spark):
    # null label / null candidates ⇒ predicate is null ⇒ filtered out;
    # they must land in `dropped` so seen == dropped + kept holds exactly
    df = spark.createDataFrame(
        [
            (1, [1, 2], 1),
            (2, [1, 2], None),   # null label → dropped
            (3, None, 1),        # null candidates → dropped
            (4, [9], 1),         # plain mismatch → dropped
        ],
        "row_id long, candidates array<long>, label long",
    )
    obs = Observation("nulls")
    kept = filter_has_label(df, "candidates", "label", observation=obs)
    assert {r["row_id"] for r in kept.collect()} == {1}
    got = obs.get
    assert got["seen"] == 4
    assert got["dropped"] == 3
    assert got["kept"] == 1
    assert got["seen"] == got["dropped"] + got["kept"]


def test_counter_rides_same_job(spark):
    # the observation must not launch its own job — one action computes
    # both the filtered rows and the counts (reference prints counts from
    # the same pass, simple_dataset.py:97-107)
    df = spark.range(100).select(
        F.col("id").alias("row_id"),
        F.array(F.col("id"), F.col("id") + 1).alias("candidates"),
        (F.col("id") * 2).alias("label"),
    )
    tracker = spark.sparkContext.statusTracker()

    def jobs_for(with_obs: bool) -> tuple[int, int]:
        obs = Observation() if with_obs else None
        kept = filter_has_label(df, "candidates", "label", observation=obs)
        before = len(tracker.getJobIdsForGroup(None))
        n = kept.count()
        if obs is not None:
            assert obs.get["dropped"] == 98  # no further action needed
        return n, len(tracker.getJobIdsForGroup(None)) - before

    n_plain, jobs_plain = jobs_for(False)
    n_obs, jobs_obs = jobs_for(True)
    # label 2*id ∈ {id, id+1} iff id == 0 (2*0=0) or id == 1 (2=1+1)
    assert n_plain == n_obs == 2
    assert jobs_obs == jobs_plain  # the counter adds zero jobs


def test_record_drop_metrics_writes_metric_rows(spark, tmp_path):
    from entity_linking_spark.checkpoint import StageCheckpointer
    from entity_linking_spark.operators.filters import record_drop_metrics

    df = spark.createDataFrame(
        [(1, [1], 1), (2, [3], 2)],
        "row_id long, candidates array<long>, label long",
    )
    obs = Observation()
    kept = filter_has_label(df, "candidates", "label", observation=obs)
    kept.count()
    ckpt = StageCheckpointer(spark, str(tmp_path / "run"))
    ckpt.stage("label_filter", lambda: kept)
    record_drop_metrics(ckpt, "label_filter", obs)
    # the counters are in the manifest a resumed run reads, beside the
    # stage's own entry, and nowhere else
    entry = StageCheckpointer(spark, str(tmp_path / "run")).manifest["label_filter"]
    assert entry["drops"] == {"seen": 2, "dropped": 1, "kept": 1}
    assert entry["complete"] and entry["rows"] == 1
    assert sorted(os.listdir(tmp_path / "run")) == [
        "manifest.json", "stage_label_filter",
    ]


def test_bag_of_nouns_heuristic(spark):
    # F9: deterministic closed-class + suffix rule — nouns kept as an
    # ordered bag (duplicates preserved), function words / verbal-suffix
    # tokens / numerics dropped, nominal suffixes override the exclusion
    from entity_linking_spark.functions.text import filter_nouns, words
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("The linker was linking statements quickly; 3 cats saw cats",)],
        "text string",
    )
    out = df.select(filter_nouns(words(F.col("text"))).alias("nouns")).first()
    # 'the' 'was' closed-class; 'linking' -ing; 'quickly' -ly; '3' numeric;
    # 'statements' kept via -ment(+s)… actually 'statements' ends 'ments':
    # the suffix regexes anchor at $, plural keeps 'ts' tail → still noun
    # by default (no non-noun suffix matches). 'saw' default-noun is a
    # known heuristic cost, same class of error as a unigram tagger.
    assert out["nouns"] == ["linker", "statements", "cats", "saw", "cats"]
