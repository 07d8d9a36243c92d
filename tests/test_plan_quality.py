"""Physical-plan quality gates: the properties that matter at 100 TB.

These assert what `.explain` shows — filters reaching the parquet scan
(PushedFilters), column pruning (ReadSchema), broadcast joins for dims,
and no Python row-at-a-time UDFs (the pair scores run in the JVM)
— so a regression that silently de-optimizes a plan fails CI, not a
production run.
"""

import math
import os

from pyspark.sql import functions as F

from entity_linking_spark.queries import queries


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_to_parquet(spark, sf_dir):
    df = queries()["filter_truncate"](spark, sf_dir)
    plan = _plan(df)
    scan = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert scan, plan
    assert "lang" in scan[0]  # the IN ('en','de') predicate reached the scan


def test_column_pruning(spark, sf_dir):
    df = queries()["entity_freq"](spark, sf_dir)
    plan = _plan(df)
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    # only the grouping column is read, not the whole orders table
    assert "o_orderstatus" in rs
    assert "o_totalprice" not in rs


def test_dim_join_broadcasts(spark, sf_dir):
    df = queries()["dict_lookup_coalesce"](spark, sf_dir)
    assert "BroadcastHashJoin" in _plan(df)


def test_no_row_at_a_time_python(spark, sf_dir):
    # pair_scores uses Jaro-Winkler, a JVM kernel: no Python eval node of
    # either kind (BatchEvalPython pickles per row; ArrowEvalPython ships
    # Arrow batches through a Python worker)
    df = queries()["pair_scores"](spark, sf_dir)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "jaro_winkler(" in plan


def test_semi_join_stays_semi(spark, sf_dir):
    plan = _plan(queries()["semi_join_pages"](spark, sf_dir))
    assert "LeftSemi" in plan


def test_agg_has_map_side_combine(spark, sf_dir):
    # AQE's printed plan omits codegen stars pre-finalization, so assert
    # the scale property directly: a partial (map-side) aggregate runs
    # before the exchange — the shuffle carries combined rows, not raw ones
    plan = _plan(queries()["pricing_summary"](spark, sf_dir))
    assert "partial_sum" in plan
    assert plan.index("partial_sum") > plan.index("Exchange")  # partial below exchange in tree print


def test_payload_build_launches_no_jobs(spark, sf_dir):
    # doc_payload's IDF needs the corpus size N; it must come from a 1-row
    # aggregate INSIDE the plan, not a driver-side count() pre-pass — at
    # 100 TB a pre-pass is a wasted full-corpus scan per pipeline run
    from entity_linking_spark.operators.scoring import doc_payload

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    payload = doc_payload(docs, id_col="doc_id", text_col="text")
    payload.schema  # force analysis (but no execution)
    after = set(tracker.getJobIdsForGroup(None))
    assert after == before, "doc_payload construction launched Spark jobs"
    # N is in-plan: the executed plan contains the 1-row count aggregate
    assert "_n_docs" in _plan(payload)


def test_payload_is_topk_bounded(spark, sf_dir):
    # the pair join ships each side's payload through two shuffles; the
    # tfidf map and token set must be bounded by topk, not doc vocabulary
    from entity_linking_spark.operators.scoring import doc_payload

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    payload = doc_payload(docs, id_col="doc_id", text_col="text", topk=8)
    # the token set must NOT be a separate column — it is the map's keys
    # (a duplicate array would double the payload's shuffled string bytes)
    assert "tok_set" not in payload.columns
    row = payload.agg(
        F.max(F.size(F.map_keys("tfidf"))).alias("max_map")
    ).collect()[0]
    assert row["max_map"] <= 8


def test_widen_input_scan_width_estimate(spark, tmp_path):
    # round-4 advice: the narrowness test must see through file count —
    # one large MULTI-row-group file already scans wide (no shuffle), one
    # single-row-group file is narrow (widen), and in-memory frames are
    # left alone entirely
    import pyarrow as pa
    import pyarrow.parquet as pq

    from entity_linking_spark.plans.pipeline import (
        _widen_input,
        estimated_scan_width,
    )

    n_par = spark.sparkContext.defaultParallelism
    tbl = pa.table(
        {"id": list(range(20_000)), "text": ["lorem ipsum dolor"] * 20_000}
    )

    wide = str(tmp_path / "wide.parquet")
    pq.write_table(tbl, wide, row_group_size=500)
    narrow = str(tmp_path / "narrow.parquet")
    pq.write_table(tbl, narrow, row_group_size=1_000_000)

    # shrink the split confs so the ~200 KB test file behaves like a
    # multi-GB production file relative to maxPartitionBytes
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.files.maxPartitionBytes",
            "spark.sql.files.openCostInBytes",
        )
    }
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
    spark.conf.set("spark.sql.files.openCostInBytes", "1024")
    try:
        df_wide = spark.read.parquet(wide)
        assert estimated_scan_width(df_wide) >= n_par
        assert _widen_input(df_wide) is df_wide  # already wide: no shuffle

        # same bytes, ONE row group: byte-range splits all map to it, so
        # the estimate is 1 regardless of file size -> widen
        df_narrow = spark.read.parquet(narrow)
        assert estimated_scan_width(df_narrow) == 1
        assert _widen_input(df_narrow).rdd.getNumPartitions() == n_par

        # sizes with a unit suffix: a large open cost makes the 1 MiB
        # maxPartitionBytes the split size, so a file of a few MiB with
        # more row groups than that estimates ceil(size / 1 MiB)
        big = str(tmp_path / "big.parquet")
        pq.write_table(
            pa.table({"text": [f"{i:064x}" for i in range(60_000)]}),
            big, row_group_size=5_000, compression="none",
        )
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1m")
        spark.conf.set("spark.sql.files.openCostInBytes", "64m")
        splits = math.ceil(os.path.getsize(big) / 2**20)
        assert splits >= 2
        assert estimated_scan_width(spark.read.parquet(big)) == splits
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)

    mem = spark.createDataFrame([(1, "a")], "id long, text string")
    assert estimated_scan_width(mem) is None
    assert _widen_input(mem) is mem  # no needless full-frame shuffle


def test_widen_input_estimates_any_scheme(spark, tmp_path):
    # the estimate reads lengths through Hadoop's FileSystem, so a frame
    # read through a scheme URI (here file://, as for s3a:// or hdfs://)
    # is estimated like a bare path: a one-file frame is widened by both
    # the pipeline and the registry's reader, and a frame of as many
    # files as cores is already wide
    import pyarrow as pa
    import pyarrow.parquet as pq

    from entity_linking_spark.plans.pipeline import (
        _widen_input,
        estimated_scan_width,
    )
    from entity_linking_spark.queries import _tw

    n_par = spark.sparkContext.defaultParallelism
    assert n_par > 1
    pq.write_table(
        pa.table({"id": [1, 2, 3], "text": ["a", "b", "c"]}),
        str(tmp_path / "one.parquet"),
    )
    uri = (tmp_path / "one.parquet").as_uri()
    assert uri.startswith("file://")
    one = spark.read.parquet(uri)
    assert estimated_scan_width(one) == 1
    assert _widen_input(one).rdd.getNumPartitions() == n_par
    assert _tw(spark, tmp_path.as_uri(), "one").rdd.getNumPartitions() == n_par

    many = tmp_path / "many"
    many.mkdir()
    for i in range(n_par):
        pq.write_table(pa.table({"id": [i], "text": ["a"]}), str(many / f"{i}.parquet"))
    wide = spark.read.parquet(many.as_uri())
    assert estimated_scan_width(wide) == n_par
    assert _widen_input(wide) is wide
