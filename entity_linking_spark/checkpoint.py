"""Per-stage checkpointing with lineage + per-partition counters (north_rule:
"every stage checkpoints ... with per-partition lineage and counters so the
job resumes mid-pipeline").

Production target is Iceberg tables (atomic snapshot commits); this module
implements the same contract on parquet + a JSON manifest because the
sandbox image carries no Iceberg jars. The interface is format-agnostic:
swap the write in ``stage`` and ``_read`` for
``df.writeTo(table).createOrReplace()`` and the resume logic is unchanged.

Each stage costs one write job and one manifest save (a bucketed stage
may add the shuffle that clusters it on its bucket columns): the stage's
row count comes from an ``Observation`` on the write job itself, and the
manifest is the only record beside the stage's files. The manifest goes
through the run dir's Hadoop ``FileSystem`` as the stages do, so a run dir
on any scheme resumes. Per-partition counters are derived on demand by
``StageCheckpointer.metrics()`` from the stages as a resumed run reads them.

Reference analog: the reference resumes via epoch checkpoints +
``start_from_page_num`` (/root/reference/src/trainer.py:169,
src/runner.py:22) and memoizes stage products in pickle caches
(src/cache.py:20-27); here each stage is a columnar table plus a manifest
entry (analog of src/experiment.py:67-98 results files).
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import re
import time
from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from entity_linking_spark.session import hadoop_fs


_ADDR_REPR = re.compile(r" (object|at) 0x[0-9a-fA-F]+>")


def config_digest(obj) -> str:
    """Stable short digest of a config object (dataclass, dict, or repr-able).

    Used to key stage reuse on the *configuration that built the stage*, not
    just the stage name — rerunning against an existing run_dir with changed
    blocking params must rebuild, not silently reuse stale checkpoints.

    Inputs must digest to the same value across processes, so a default
    ``object.__repr__`` (which embeds a memory address and therefore
    changes every run, silently disabling stage reuse) is rejected with a
    ``ValueError`` — pass a dataclass, dict, or JSON-serializable value.
    """
    try:
        import dataclasses

        if dataclasses.is_dataclass(obj) and not isinstance(obj, type):
            payload = json.dumps(dataclasses.asdict(obj), sort_keys=True, default=repr)
        elif isinstance(obj, dict):
            payload = json.dumps(obj, sort_keys=True, default=repr)
        else:
            payload = repr(obj)
    except (TypeError, ValueError):
        payload = repr(obj)
    if _ADDR_REPR.search(payload):
        raise ValueError(
            "config_digest input reprs with a memory address (not stable "
            f"across processes): {payload[:200]!r} — use a dataclass, dict, "
            "or JSON-serializable config instead"
        )
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def _input_fingerprint(pages: DataFrame) -> str:
    """What a checkpointed run reads, so that a changed input rebuilds.

    The canonical analyzed plan keys the selects and filters over the
    input, the sorted (path, length, modification time) of every input
    file keys the data, and a frame with no input files is keyed on its
    plan's ``semanticHash`` — the canonical plan shows no in-memory data.
    ``semanticHash`` is not stable across processes for a file read, so
    it keys in-memory frames only, which then resume within their own
    process and rebuild in a new one. A frame that mixes files with
    in-memory data is keyed on its files and plan.
    """
    from entity_linking_spark.plans.pipeline import input_file_statuses

    plan = pages._jdf.queryExecution().analyzed()
    canonical = plan.canonicalized().toString().encode()
    files = sorted(
        (st.getPath().toString(), st.getLen(), st.getModificationTime())
        for st in input_file_statuses(pages)
    )
    return config_digest(
        {
            "plan": hashlib.sha256(canonical).hexdigest(),
            "files": files,
            "in_memory": None if files else plan.semanticHash(),
        }
    )


class StageCheckpointer:
    """Materialize named pipeline stages; completed stages are not recomputed.

    Usage::

        ckpt = StageCheckpointer(spark, "/data/run1")
        blocks = ckpt.stage("blocks", lambda: block_keys(pages), bucket_by="block_key")
        pairs  = ckpt.stage("pairs",  lambda: candidate_pairs(blocks))

    ``base_dir`` may be on any scheme the session can write; a relative
    path resolves against the JVM's working directory, as a write does.
    """

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        self._fs, self._root = hadoop_fs(spark, base_dir)
        self._fs.mkdirs(self._root)
        self._manifest_path = spark._jvm.org.apache.hadoop.fs.Path(self._root, "manifest.json")
        self.manifest: dict[str, dict] = {}
        if self._fs.exists(self._manifest_path):
            with contextlib.closing(self._fs.open(self._manifest_path)) as fh:
                self.manifest = json.loads(fh.readAllBytes())

    # -- manifest ----------------------------------------------------------
    def _save_manifest(self) -> None:
        hfs, tmp = self.spark._jvm.org.apache.hadoop.fs, self._manifest_path.suffix(".tmp")
        with contextlib.closing(self._fs.create(tmp, True)) as fh:
            fh.write(json.dumps(self.manifest, indent=2, sort_keys=True).encode())
        # HDFS's FileSystem.rename refuses an existing target; FileContext's replaces it
        overwrite = self.spark.sparkContext._gateway.new_array(hfs.Options.Rename, 1)
        overwrite[0] = hfs.Options.Rename.OVERWRITE
        fc = hfs.FileContext.getFileContext(self._root.toUri(), self._fs.getConf())
        fc.rename(tmp, self._manifest_path, overwrite)  # the completion marker

    def _stage_path(self, name: str):
        return self.spark._jvm.org.apache.hadoop.fs.Path(self._root, f"stage_{name}")

    def _table(self, name: str) -> str:
        return (
            "elspark_ckpt_"
            + hashlib.sha256(self.base_dir.encode()).hexdigest()[:10]
            + f"_{name}"
        )

    def is_complete(self, name: str, digest: str | None = None) -> bool:
        entry = self.manifest.get(name, {})
        if not (entry.get("complete", False) and self._fs.exists(self._stage_path(name))):
            return False
        # A digest mismatch means the stage was built under a different
        # config — treat as incomplete and rebuild rather than silently
        # reusing a checkpoint that no longer reflects the requested params.
        if digest is not None and entry.get("digest") != digest:
            return False
        return True

    # -- stages ------------------------------------------------------------
    def stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        digest: str | None = None,
        bucket_by: str | list[str] | None = None,
        num_buckets: int | None = None,
    ) -> DataFrame:
        """Return the stage DataFrame, computing + persisting only if needed.

        ``digest`` (see ``config_digest``) invalidates a completed stage
        whose recorded digest differs — changed params force a rebuild.

        ``bucket_by`` writes the stage as a BUCKETED table sorted on the
        bucket columns (``num_buckets`` defaults to
        ``spark.sql.shuffle.partitions``). Its scan reports
        ``hashpartitioning`` on those columns, so a later equi-join on
        them needs no exchange on this side (BENCH/BASELINE.md: scheduled
        hash-exchanges 2→1 on the scored stage). The files live under the
        same ``stage_<name>`` path as a plain stage (``saveAsTable`` with
        an explicit LOCATION), and the bucket spec is in the manifest, so a
        new session resuming the run_dir re-registers the table and keeps
        the exchange-free scan. The write hash-partitions on the bucket
        columns first, so a bucketed stage holds at most ``num_buckets``
        files; that costs one shuffle job unless the frame is already
        hash-partitioned on them.

        One write job per stage: the manifest's ``rows`` is an
        ``Observation`` on that job, and completion, ``rows``, ``digest``,
        ``schema``, the count of data ``files`` and the bucket spec land in
        one manifest save.
        """
        if self.is_complete(name, digest=digest):
            return self._read(name)
        bb = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by or [])
        obs = Observation()
        df = build().observe(obs, F.count(F.lit(1)).alias("rows"))
        path = str(self._stage_path(name))
        spec: dict = {}
        t0 = time.time()
        if bb:
            # as many buckets as shuffle partitions: a stage that already
            # ends hash-partitioned on its bucket columns needs no shuffle
            # for the repartition below
            nb = num_buckets or int(
                self.spark.conf.get("spark.sql.shuffle.partitions")
            )
            tbl = self._table(name)
            self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            # one task per bucket: each writes one file, where an
            # unpartitioned write has every task write every bucket
            (
                df.repartition(nb, *bb)
                .write.mode("overwrite")
                .option("path", path)
                .bucketBy(nb, *bb)
                .sortBy(*bb)
                .saveAsTable(tbl)
            )
            spec = {"num_buckets": nb, "bucket_by": bb}
        else:
            df.write.mode("overwrite").parquet(path)
        self.manifest[name] = {
            "complete": True,
            "rows": obs.get["rows"],
            "seconds": round(time.time() - t0, 3),
            "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "schema": df.schema.simpleString(),
            "schema_ddl": ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
            ),
            "digest": digest,
            # data files, as the stage's FileSystem lists them
            "files": sum(
                not st.getPath().getName().startswith(("_", "."))
                for st in self._fs.listStatus(self._stage_path(name))
            ),
            **spec,
        }
        self._save_manifest()
        return self._read(name)

    def _read(self, name: str) -> DataFrame:
        """The completed stage as a later stage (or a resumed run) reads it."""
        e = self.manifest[name]
        if "bucket_by" not in e:
            # a given schema spares the job that infers it from the files
            return self.spark.read.schema(e["schema_ddl"]).parquet(str(self._stage_path(name)))
        tbl = self._table(name)
        if not self.spark.catalog.tableExists(tbl):
            cols = ", ".join(e["bucket_by"])
            self.spark.sql(
                f"CREATE TABLE {tbl} ({e['schema_ddl']}) USING PARQUET "
                f"CLUSTERED BY ({cols}) SORTED BY ({cols}) "
                f"INTO {e['num_buckets']} BUCKETS "
                f"LOCATION '{self._stage_path(name)}'"
            )
        return self.spark.table(tbl)

    # -- counters ----------------------------------------------------------
    def metrics(self) -> DataFrame:
        """Per-partition row counters of every completed stage →
        ``(partition_id int, rows long, stage string, ts timestamp)``.

        Counted over the stage as a resumed run reads it (one
        ``spark_partition_id`` group-by per stage, when this frame is
        queried), so the counters sum to the manifest's ``rows``; ``ts``
        is the stage's ``completed_at``.
        """
        frames = [
            self._read(name)
            .groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .select(
                "partition_id",
                "rows",
                F.lit(name).alias("stage"),
                F.lit(e["completed_at"]).cast("timestamp").alias("ts"),
            )
            for name, e in sorted(self.manifest.items())
            if self.is_complete(name)
        ]
        if not frames:
            return self.spark.createDataFrame(
                [], "partition_id int, rows long, stage string, ts timestamp"
            )
        return reduce(DataFrame.unionByName, frames)


def run_linkage_checkpointed(
    spark: SparkSession,
    pages: DataFrame,
    run_dir: str,
    config=None,
    id_col: str = "url",
    text_col: str = "text",
    url_col: str | None = "url",
    bucketed: bool = True,
    dual_bucket: bool = False,
    embeddings: DataFrame | None = None,
) -> DataFrame:
    """The flagship pipeline with every stage checkpointed + resumable.

    The stage graph is ``link_pages``' own (``plans.pipeline``): the same
    input widening, the same int64/128-bit working-id fold and the same
    id restore, so the clusters equal ``link_pages``' for one config
    (tests/test_resume.py). Only the materialization differs: ``blocks``,
    ``payload``, ``pairs``, ``scored`` and ``clusters`` are written as
    checkpoints, one write job each. Killing the job after any stage and
    re-running reuses all completed stages (tests/test_resume.py proves
    identical output either way). Stages carry working ids; a run_dir
    written by an older layout, or over another input (``pages``' plan
    and files — see ``_input_fingerprint``), has a different digest and
    rebuilds.

    ``bucketed`` (default True): write ``blocks`` bucketed on
    ``block_key`` (the pair self-join reads both sides exchange-free),
    ``pairs`` bucketed on ``id_a`` and ``payload`` bucketed on ``id`` —
    scheduled hash-exchanges 2→1 in the scored stage; the removed
    exchange ships the full payload at scale (BENCH/BASELINE.md). Set
    False for plain-parquet stages (portable to engines that cannot read
    Spark bucket metadata).

    ``dual_bucket`` (requires ``bucketed``): a layout of this runner's
    callback, not of the stage graph. Right after ``pairs`` it writes a
    ``pairs_payload_a`` stage — pairs with prior features + the id_a-side
    payload attached (``scoring.pair_payload_half``) — bucketed on
    ``id_b``, and hands that stage to ``scored`` as its pairs. Building it
    is exchange-free (pairs bucketed id_a ⋈ payload bucketed id), its
    WRITE performs the id_b re-key once, and the scored stage then
    schedules ZERO exchanges (single-bucket stops at 1). Same cold-run
    data movement, but the re-key becomes a compressed resumable stage
    instead of a transient shuffle, and a resumed run re-enters scoring
    with no exchange at all.

    Config knobs that change a persisted stage's SCHEMA are honored and
    digest-covered here: ``cfg.hash_tokens`` (payload tfidf
    map<bigint,…> vs map<string,…>), ``cfg.prior_features`` (pairs
    carry n_shared), ``cfg.id_bits`` (bigint vs struct ids),
    ``cfg.emb_dim`` + ``embeddings`` (payload carries a pooled ``emb``
    vector). The embeddings TABLE itself is not digested — keep it stable
    for the lifetime of a run_dir (or change run_dir when it changes).
    """
    from entity_linking_spark.operators.scoring import pair_payload_half
    from entity_linking_spark.plans.pipeline import LinkageConfig, _run_stages

    if dual_bucket and not bucketed:
        raise ValueError("dual_bucket requires bucketed=True")
    cfg = config or LinkageConfig()
    ckpt = StageCheckpointer(spark, run_dir)
    # one digest for the whole run config and its input: any param change
    # (blocking, weights, threshold, column mapping) or a changed input
    # invalidates every stage built under the old one
    dig = config_digest(
        {
            "config": config_digest(cfg),
            "input": _input_fingerprint(pages),
            "id_col": id_col,
            "text_col": text_col,
            "url_col": url_col,
            "pipeline_version": 6,
            # layout change invalidates stages written the other way
            "bucketed": bucketed,
            "dual_bucket": dual_bucket,
        }
    )
    buckets = (
        {"blocks": "block_key", "pairs": "id_a", "payload": "id"}
        if bucketed else {}
    )
    written: dict[str, DataFrame] = {}

    def stage(name: str, build: Callable[[], DataFrame]) -> DataFrame:
        if name == "pages":
            return build()  # the input itself: re-read on resume
        df = written[name] = ckpt.stage(
            name, build, digest=dig, bucket_by=buckets.get(name)
        )
        if name == "pairs" and dual_bucket:
            # the graph builds payload before pairs, so it is written here
            return ckpt.stage(
                "pairs_payload_a",
                lambda: pair_payload_half(df, written["payload"]),
                digest=dig,
                bucket_by="id_b",
            )
        return df

    return _run_stages(
        pages, stage, cfg, id_col, text_col, url_col, embeddings=embeddings
    )
