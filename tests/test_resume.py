"""Mid-pipeline resume (north_rule): kill after stage k, rerun, identical
output with completed stages reused (FIXTURES-style kill-and-rerun test)."""

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from entity_linking_spark.checkpoint import StageCheckpointer, run_linkage_checkpointed
from entity_linking_spark.datagen import write_parquet
from entity_linking_spark.plans.pipeline import LinkageConfig, link_pages


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("ckpt_corpus")
    write_parquet(str(d), n_entities=10, seed=42)
    return spark.read.parquet(f"{d}/pages.parquet")


def test_stage_reuse_and_metrics(spark, corpus, tmp_path):
    run_dir = str(tmp_path / "run")
    ckpt = StageCheckpointer(spark, run_dir)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return corpus.select("url")

    a = ckpt.stage("urls", build)
    assert calls["n"] == 1
    # second call must read the checkpoint, not recompute
    ckpt2 = StageCheckpointer(spark, run_dir)
    b = ckpt2.stage("urls", build)
    assert calls["n"] == 1
    assert sorted(r["url"] for r in a.collect()) == sorted(
        r["url"] for r in b.collect()
    )
    # per-partition lineage counters exist and sum to the row count
    m = ckpt2.metrics().where("stage = 'urls'")
    assert m.groupBy().sum("rows").collect()[0][0] == corpus.count()


def test_resume_mid_pipeline_identical(spark, corpus, tmp_path):
    run_dir = str(tmp_path / "run2")
    cfg = LinkageConfig()

    # simulate a crash: run, then delete the manifest entries AFTER 'pairs'
    # (as if the job died before scoring) and rerun
    full = run_linkage_checkpointed(spark, corpus, run_dir, cfg)
    want = sorted((r["id"], r["cluster_id"]) for r in full.collect())

    manifest_path = os.path.join(run_dir, "manifest.json")
    with open(manifest_path) as fh:
        manifest = json.load(fh)
    pairs_done_at = manifest["pairs"]["completed_at"]
    for dead in ("scored", "clusters"):
        manifest.pop(dead)
    with open(manifest_path, "w") as fh:
        json.dump(manifest, fh)

    resumed = run_linkage_checkpointed(spark, corpus, run_dir, cfg)
    got = sorted((r["id"], r["cluster_id"]) for r in resumed.collect())
    assert got == want
    # stages before the crash point were NOT recomputed
    with open(manifest_path) as fh:
        manifest2 = json.load(fh)
    assert manifest2["pairs"]["completed_at"] == pairs_done_at
    assert manifest2["scored"]["complete"]


LAYOUTS = {
    "plain": {"bucketed": False},
    "bucketed": {"bucketed": True},
    "dual": {"bucketed": True, "dual_bucket": True},
}


@pytest.mark.parametrize("id_bits", [64, 128])
@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_checkpointed_matches_direct(spark, corpus, tmp_path, layout, id_bits):
    # one stage graph behind both runners: the same widened input, id
    # fold and caps. max_block=3 makes capping bite on this corpus, so a
    # runner that blocked on different ids would keep different members
    cfg = LinkageConfig(max_block=3, n_salts=2, id_bits=id_bits)
    direct = sorted(
        (r["id"], r["cluster_id"])
        for r in link_pages(corpus, config=cfg).collect()
    )
    ck = sorted(
        (r["id"], r["cluster_id"])
        for r in run_linkage_checkpointed(
            spark, corpus, str(tmp_path / "run3"), cfg, **LAYOUTS[layout]
        ).collect()
    )
    assert direct == ck


def test_checkpointed_honours_cc_config(spark, corpus, tmp_path, monkeypatch):
    # the checkpointed runner passes the CC knobs through to
    # connected_components, and fusing one round per probe is a pure
    # performance choice: the clusters equal the default config's
    import dataclasses

    from entity_linking_spark.plans import pipeline

    seen = []
    cc = pipeline.connected_components

    def spy(edges, **kwargs):
        seen.append(kwargs)
        return cc(edges, **kwargs)

    # the stage graph binds the name at import, in plans.pipeline
    monkeypatch.setattr(pipeline, "connected_components", spy)

    def clusters(cfg, run):
        return sorted(
            (r["id"], r["cluster_id"])
            for r in run_linkage_checkpointed(
                spark, corpus, str(tmp_path / run), cfg
            ).collect()
        )

    default = LinkageConfig()
    one = dataclasses.replace(
        default, cc_fuse_rounds=1, cc_checkpoint_dir=str(tmp_path / "cc")
    )
    assert clusters(one, "fuse1") == clusters(default, "fuse2")
    assert seen[0] == {"checkpoint_dir": str(tmp_path / "cc"), "fuse_rounds": 1}
    assert seen[1] == {"checkpoint_dir": None, "fuse_rounds": 2}


def test_changed_input_rebuilds(spark, tmp_path):
    # the stage digest covers the input: a run dir re-run after its input
    # path was rewritten with another corpus rebuilds every stage instead
    # of returning the old corpus's clusters
    src, run_dir = str(tmp_path / "corpus"), str(tmp_path / "run_in")
    write_parquet(src, n_entities=10, seed=42)
    pages_a = spark.read.parquet(f"{src}/pages.parquet")
    run_linkage_checkpointed(spark, pages_a, run_dir).collect()
    write_parquet(src, n_entities=12, seed=7)
    pages_b = spark.read.parquet(f"{src}/pages.parquet")
    got = run_linkage_checkpointed(spark, pages_b, run_dir).collect()
    want = link_pages(pages_b).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_uri_run_dir_resumes(spark, corpus, tmp_path, monkeypatch):
    # a run dir given as a file:// URI keeps its manifest beside its
    # stages (no stray copy under the working directory), and a resume
    # after the manifest is rewritten outside Hadoop (as perfbench does)
    # rebuilds only the stages it lost
    monkeypatch.chdir(tmp_path)
    run_dir = tmp_path / "run"
    want = sorted(map(tuple, link_pages(corpus).collect()))
    got = run_linkage_checkpointed(spark, corpus, run_dir.as_uri()).collect()
    assert sorted(map(tuple, got)) == want
    manifest_path = run_dir / "manifest.json"
    with open(manifest_path) as fh:
        manifest = json.load(fh)
    manifest.pop("clusters")
    with open(manifest_path, "w") as fh:
        json.dump(manifest, fh)
    time.sleep(1.1)  # completed_at has one-second resolution
    got = run_linkage_checkpointed(spark, corpus, run_dir.as_uri()).collect()
    assert sorted(map(tuple, got)) == want
    with open(manifest_path) as fh:
        after = json.load(fh)
    assert sorted(after) == sorted([*manifest, "clusters"])
    for name, e in manifest.items():
        assert after[name]["completed_at"] == e["completed_at"], name
    assert os.listdir(tmp_path) == ["run"]
    assert not [f for f in os.listdir(run_dir) if f.endswith(".crc")]


def test_digest_mismatch_forces_rebuild(spark, corpus, tmp_path):
    """Changed config params must invalidate stages built under the old
    config — stage reuse is keyed on (name, config digest), not name alone."""
    run_dir = str(tmp_path / "run4")
    ckpt = StageCheckpointer(spark, run_dir)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return corpus.select("url")

    ckpt.stage("urls", build, digest="cfg-a")
    assert calls["n"] == 1
    # same digest → reuse
    StageCheckpointer(spark, run_dir).stage("urls", build, digest="cfg-a")
    assert calls["n"] == 1
    # different digest → rebuild
    StageCheckpointer(spark, run_dir).stage("urls", build, digest="cfg-b")
    assert calls["n"] == 2


def test_changed_config_rebuilds_pipeline_stages(spark, corpus, tmp_path):
    run_dir = str(tmp_path / "run5")
    run_linkage_checkpointed(spark, corpus, run_dir, LinkageConfig())
    with open(os.path.join(run_dir, "manifest.json")) as fh:
        first = json.load(fh)["blocks"]["completed_at"]
    # different blocking params: the 'blocks' stage must NOT be reused
    time.sleep(1.1)
    run_linkage_checkpointed(
        spark, corpus, run_dir, LinkageConfig(max_block=32)
    )
    with open(os.path.join(run_dir, "manifest.json")) as fh:
        second = json.load(fh)["blocks"]["completed_at"]
    assert second != first


def test_metrics_idempotent_on_retry(spark, corpus, tmp_path):
    """A retried stage replaces its lineage counters instead of appending,
    so counters always sum to the stage row count."""
    run_dir = str(tmp_path / "run6")
    ckpt = StageCheckpointer(spark, run_dir)
    ckpt.stage("urls", lambda: corpus.select("url"), digest="a")
    # simulate crash-before-manifest-save: drop the manifest entry and retry
    ckpt2 = StageCheckpointer(spark, run_dir)
    ckpt2.manifest.pop("urls")
    ckpt2.stage("urls", lambda: corpus.select("url"), digest="a")
    m = ckpt2.metrics().where("stage = 'urls'")
    assert m.groupBy().sum("rows").collect()[0][0] == corpus.count()


def test_stage_write_runs_no_separate_count(spark, tmp_path, monkeypatch):
    # round-2 verdict item 8: the manifest row count must come from the
    # write job itself, never from an extra df.count() job over the stage;
    # the per-partition counters still sum to it
    from pyspark.sql import DataFrame

    from entity_linking_spark.checkpoint import StageCheckpointer

    def boom(self):
        raise AssertionError("df.count() called during stage checkpoint")

    monkeypatch.setattr(DataFrame, "count", boom)
    ckpt = StageCheckpointer(spark, str(tmp_path / "run"))
    out = ckpt.stage("s1", lambda: spark.range(100).withColumnRenamed("id", "v"))
    assert ckpt.manifest["s1"]["rows"] == 100
    counters = ckpt.metrics().where("stage = 's1'")
    assert sum(r["rows"] for r in counters.collect()) == 100
    assert len(out.columns) == 1


def test_config_digest_rejects_address_reprs():
    import pytest as _pytest

    from entity_linking_spark.checkpoint import config_digest

    class Opaque:
        pass

    with _pytest.raises(ValueError, match="memory address"):
        config_digest(Opaque())
    # dataclasses / dicts / scalars stay stable
    assert config_digest({"a": 1}) == config_digest({"a": 1})


def test_bucketed_stage_layout_and_equivalence(spark, tmp_path):
    # bucketed pairs/payload checkpoints: same rows as plain, bucketed
    # scan reports the bucket spec, and a catalog-less resume (new
    # session analog: table dropped from the catalog) re-registers the
    # external table from the manifest without recomputing
    from entity_linking_spark.checkpoint import StageCheckpointer

    df = spark.range(100).select(
        F.col("id").alias("id_a"),
        (F.col("id") % 7).alias("feature"),
    )
    ckpt = StageCheckpointer(spark, str(tmp_path / "brun"))
    built = {"n": 0}

    def build():
        built["n"] += 1
        return df

    out1 = ckpt.stage("pairs", build, bucket_by="id_a", num_buckets=4)
    assert built["n"] == 1
    assert out1.count() == 100
    # reuse within the session: no rebuild
    out2 = ckpt.stage("pairs", build, bucket_by="id_a", num_buckets=4)
    assert built["n"] == 1
    assert sorted(r["id_a"] for r in out2.collect()) == list(range(100))
    # simulate a fresh session: drop the catalog entry, keep files+manifest
    # (derive the exact table name — other tests' bucketed runs register
    # their own *_pairs tables in the shared session catalog)
    import hashlib

    tbl = [
        "elspark_ckpt_"
        + hashlib.sha256(str(tmp_path / "brun").encode()).hexdigest()[:10]
        + "_pairs"
    ]
    assert spark.catalog.tableExists(tbl[0])
    spark.sql(f"DROP TABLE {tbl[0]}")
    ckpt2 = StageCheckpointer(spark, str(tmp_path / "brun"))
    out3 = ckpt2.stage("pairs", build, bucket_by="id_a", num_buckets=4)
    assert built["n"] == 1  # still no recompute
    assert sorted(r["id_a"] for r in out3.collect()) == list(range(100))
    # the re-registered table is genuinely bucketed
    desc = spark.sql(f"DESCRIBE TABLE EXTENDED {tbl[0]}").collect()
    text = "\n".join(f"{r['col_name']} {r['data_type']}" for r in desc)
    assert "id_a" in text and "4" in text and "Bucket" in text


def test_bucketed_checkpoint_pipeline_matches_plain(spark, tmp_path):
    # full checkpointed pipeline, bucketed vs plain stages: identical
    # (id, cluster_id) output, and the scored stage over bucketed
    # pairs/payload schedules FEWER exchanges
    from entity_linking_spark.checkpoint import run_linkage_checkpointed

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pages = docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit("/d/"), F.col("doc_id")).alias("url"),
        "text",
    )
    plain = run_linkage_checkpointed(
        spark, pages, str(tmp_path / "plain"), bucketed=False
    )
    buck = run_linkage_checkpointed(
        spark, pages, str(tmp_path / "buck"), bucketed=True
    )
    dual = run_linkage_checkpointed(
        spark, pages, str(tmp_path / "dual"), bucketed=True, dual_bucket=True
    )
    a = sorted((r["id"], r["cluster_id"]) for r in plain.collect())
    b = sorted((r["id"], r["cluster_id"]) for r in buck.collect())
    d = sorted((r["id"], r["cluster_id"]) for r in dual.collect())
    assert a == b == d and len(a) > 0


def test_dual_bucket_scored_stage_zero_exchanges(spark, tmp_path):
    # round-4 verdict task 5: the dual-bucket layout must remove the LAST
    # scheduled exchange from the scored stage — pairs_payload_a (bucketed
    # id_b) joined with payload (bucketed id) plans with NO
    # "Exchange hashpartitioning", where the single-bucket layout keeps 1
    from entity_linking_spark.checkpoint import (
        StageCheckpointer,
        run_linkage_checkpointed,
    )
    from entity_linking_spark.operators.scoring import pair_features

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pages = docs.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit("/d/"), F.col("doc_id")
        ).alias("url"),
        "text",
    )
    run_dir = str(tmp_path / "dualplan")
    run_linkage_checkpointed(
        spark, pages, run_dir, bucketed=True, dual_bucket=True
    ).count()
    ckpt = StageCheckpointer(spark, run_dir)
    # completed bucketed stages resolve straight from the catalog
    half = ckpt.stage("pairs_payload_a", None, bucket_by="id_b")
    payload = ckpt.stage("payload", None, bucket_by="id")
    plan = (
        pair_features(half, payload)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange hashpartitioning" not in plan, plan

    # dual_bucket without bucketed is a contract error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="dual_bucket"):
        run_linkage_checkpointed(
            spark, pages, run_dir, bucketed=False, dual_bucket=True
        )


def test_metrics_beside_drop_counters(spark, tmp_path):
    # record_drop_metrics puts its counters in the manifest, under an
    # entry that names no written stage; metrics() skips that entry, and a
    # stage that sorts after it still reports its own per-partition rows,
    # summing to the manifest count
    from pyspark.sql import Observation

    from entity_linking_spark.operators.filters import (
        filter_has_label,
        record_drop_metrics,
    )

    ckpt = StageCheckpointer(spark, str(tmp_path / "run"))
    obs = Observation()
    rows = [(["a", "b"], "a"), (["c"], "z"), (["x"], "x")]
    filter_has_label(
        spark.createDataFrame(rows, "cands array<string>, label string"),
        "cands", "label", observation=obs,
    ).count()
    record_drop_metrics(ckpt, "label_filter", obs)
    ckpt.stage("zzz", lambda: spark.range(37).withColumnRenamed("id", "v"))
    m = ckpt.metrics()
    schema = "struct<partition_id:int,rows:bigint,stage:string,ts:timestamp>"
    assert m.schema.simpleString() == schema
    got = m.where("stage = 'zzz'").groupBy().sum("rows").collect()[0][0]
    assert got == ckpt.manifest["zzz"]["rows"] == 37
    # an empty run dir gives an empty frame with the same schema
    empty = StageCheckpointer(spark, str(tmp_path / "empty")).metrics()
    assert empty.schema.simpleString() == schema and empty.count() == 0


def _clean_slate(spark) -> None:
    # link_pages leaves its persisted frames behind; a later run over the
    # same input would read them instead of scheduling its jobs
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def _jobs(spark, run) -> int:
    """Jobs the scheduler starts for ``run()`` from a clean slate."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    _clean_slate(spark)
    j0 = scheduler.nextJobId()
    run()
    n = scheduler.nextJobId() - j0
    _clean_slate(spark)
    return n


@pytest.mark.parametrize("layout", ["bucketed", "dual"])
def test_checkpointed_jobs_bounded_by_link_pages(spark, corpus, tmp_path, layout):
    # one write job per stage: a warm checkpointed run schedules at most
    # link_pages' jobs plus one per stage it writes (no re-scan of a
    # written stage, no side table)
    def direct():
        link_pages(corpus).collect()

    def ckpt(run):
        def go():
            run_linkage_checkpointed(
                spark, corpus, str(tmp_path / run), **LAYOUTS[layout]
            ).collect()
        return go

    _jobs(spark, direct)  # warm-up: code generation, first-run caches
    _jobs(spark, ckpt("warm"))
    base = _jobs(spark, direct)
    got = _jobs(spark, ckpt("run"))
    with open(tmp_path / "run" / "manifest.json") as fh:
        written = len(json.load(fh))
    assert written == (6 if layout == "dual" else 5)
    assert got <= base + written, (got, base, written)


def test_bucketed_blocks_self_join_plans_no_block_key_shuffle(
    spark, corpus, tmp_path
):
    # blocks bucketed on block_key: both sides of the pair self-join read
    # the bucketed scan, so no exchange re-keys on block_key (a plain
    # parquet re-read reports no partitioning and shuffles both sides)
    from entity_linking_spark.operators.pairs import candidate_pairs

    run_dir = str(tmp_path / "blocks")
    run_linkage_checkpointed(spark, corpus, run_dir).count()
    blocks = StageCheckpointer(spark, run_dir).stage(
        "blocks", None, bucket_by="block_key"
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")  # a broadcast join would hide the shuffle
    try:
        for with_count in (False, True):
            plan = (
                candidate_pairs(blocks, with_count=with_count)
                ._jdf.queryExecution().executedPlan().toString()
            )
            assert "SortMergeJoin" in plan, plan
            assert "hashpartitioning(block_key" not in plan, plan
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("layout", ["bucketed", "dual"])
def test_bucketed_stages_one_file_per_bucket(spark, corpus, tmp_path, layout):
    # each bucketed stage is hash-partitioned on its bucket columns before
    # the write, so it holds at most num_buckets files, not one per
    # (write task, bucket)
    run_dir = tmp_path / "files"
    run_linkage_checkpointed(spark, corpus, str(run_dir), **LAYOUTS[layout]).count()
    with open(run_dir / "manifest.json") as fh:
        manifest = json.load(fh)
    bucketed = {n: e for n, e in manifest.items() if "bucket_by" in e}
    assert len(bucketed) == (4 if layout == "dual" else 3)
    for name, e in bucketed.items():
        files = [
            f for f in os.listdir(run_dir / f"stage_{name}")
            if f.endswith(".parquet")
        ]
        assert 0 < len(files) <= e["num_buckets"], (name, len(files))
        # the manifest records the stage's data files
        assert e["files"] == len(files), (name, e["files"], files)


def test_link_pages_persisted_rdds(spark, corpus):
    # link_pages leaves pages persisted, plus the CC edge checkpoint its
    # lazy result reads: blocks and payload are released once CC has read
    # them, and the local finish keeps no final edge set of star rounds
    _clean_slate(spark)
    out = link_pages(corpus)
    out.collect()
    left = len(spark.sparkContext._jsc.getPersistentRDDs())
    _clean_slate(spark)
    assert left == 2
