"""Per-stage checkpointing with lineage + per-partition counters (north_rule:
"every stage checkpoints ... with per-partition lineage and counters so the
job resumes mid-pipeline").

Production target is Iceberg tables (atomic snapshot commits); this module
implements the same contract on plain parquet + a JSON manifest because the
sandbox image carries no Iceberg jars. The interface is format-agnostic:
swap ``_write``/``_read`` for ``df.writeTo(table).createOrReplace()`` and
the resume logic is unchanged.

Reference analog: the reference resumes via epoch checkpoints +
``start_from_page_num`` (/root/reference/src/trainer.py:169,
src/runner.py:22) and memoizes stage products in pickle caches
(src/cache.py:20-27); here each stage is a columnar table plus a manifest
entry, and counters live in a ``_metrics`` table
(analog of src/experiment.py:67-98 results files).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


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


class StageCheckpointer:
    """Materialize named pipeline stages; completed stages are not recomputed.

    Usage::

        ckpt = StageCheckpointer(spark, "/data/run1")
        blocks = ckpt.stage("blocks", lambda: block_keys(pages))
        pairs  = ckpt.stage("pairs",  lambda: candidate_pairs(blocks))
    """

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)
        self._manifest_path = os.path.join(base_dir, "manifest.json")
        self.manifest: dict[str, dict] = {}
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as fh:
                self.manifest = json.load(fh)

    # -- manifest ----------------------------------------------------------
    def _save_manifest(self) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self.manifest, fh, indent=2, sort_keys=True)
        os.replace(tmp, self._manifest_path)  # atomic completion marker

    def _stage_path(self, name: str) -> str:
        return os.path.join(self.base_dir, f"stage_{name}")

    def is_complete(self, name: str, digest: str | None = None) -> bool:
        entry = self.manifest.get(name, {})
        if not (entry.get("complete", False) and os.path.exists(self._stage_path(name))):
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
        repartition_by: str | None = None,
        num_partitions: int | None = None,
        digest: str | None = None,
    ) -> DataFrame:
        """Return the stage DataFrame, computing + persisting only if needed.

        ``repartition_by`` lets callers key the written layout on the
        blocking key (north_rule: shuffle partitioning keyed on blocking
        keys) so the downstream self-join reads co-partitioned data.

        ``digest`` (see ``config_digest``) invalidates a completed stage
        whose recorded digest differs — changed params force a rebuild.
        """
        path = self._stage_path(name)
        if self.is_complete(name, digest=digest):
            return self.spark.read.parquet(path)
        df = build()
        if repartition_by is not None:
            n = num_partitions or self.spark.sparkContext.defaultParallelism
            df = df.repartition(n, repartition_by)
        t0 = time.time()
        df.write.mode("overwrite").parquet(path)
        out = self.spark.read.parquet(path)
        self._record_metrics(name, out, time.time() - t0, digest=digest)
        return out

    def bucketed_stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        bucket_by: str | list[str],
        num_buckets: int | None = None,
        sort_by: str | list[str] | None = None,
        digest: str | None = None,
    ) -> DataFrame:
        """Materialize a stage as a BUCKETED, sorted table.

        The scan of a bucketed table reports ``hashpartitioning`` on the
        bucket columns, so a downstream equi-join on those columns needs
        NO exchange on this side — the measured deployment lever from the
        bucketed A/B (BENCH/BASELINE.md: scheduled hash-exchanges 2→1 on
        the scored stage; at 100 TB the payload join ships TBs per
        removed exchange). Files live under the same
        ``stage_<name>`` path as plain stages (``saveAsTable`` with an
        explicit LOCATION); the bucket spec is recorded in the manifest
        so a NEW session resuming this run_dir re-registers the external
        table and still gets the exchange-free scan.
        """
        tbl = (
            "elspark_ckpt_"
            + hashlib.sha256(self.base_dir.encode()).hexdigest()[:10]
            + f"_{name}"
        )
        path = self._stage_path(name)
        bb = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
        sb = (
            [sort_by] if isinstance(sort_by, str)
            else (list(sort_by) if sort_by else bb)
        )
        if self.is_complete(name, digest=digest):
            if not self.spark.catalog.tableExists(tbl):
                e = self.manifest[name]
                sorted_clause = f" SORTED BY ({', '.join(e['sort_by'])})"
                self.spark.sql(
                    f"CREATE TABLE {tbl} ({e['schema_ddl']}) USING PARQUET "
                    f"CLUSTERED BY ({', '.join(e['bucket_by'])})"
                    f"{sorted_clause} INTO {e['num_buckets']} BUCKETS "
                    f"LOCATION '{path}'"
                )
            return self.spark.table(tbl)
        df = build()
        nb = num_buckets or self.spark.sparkContext.defaultParallelism
        self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        t0 = time.time()
        (
            df.write.mode("overwrite")
            .option("path", path)
            .bucketBy(nb, *bb)
            .sortBy(*sb)
            .saveAsTable(tbl)
        )
        out = self.spark.table(tbl)
        # bucket spec + complete flag land in ONE manifest save (round-4
        # advice): a crash between two saves would otherwise leave
        # complete=true with no bucket spec, and a fresh-session resume
        # (catalog table absent) would KeyError on e['sort_by'] with no
        # way to self-heal
        self._record_metrics(
            name,
            out,
            time.time() - t0,
            digest=digest,
            extra={
                "schema_ddl": ", ".join(
                    f"{f.name} {f.dataType.simpleString()}"
                    for f in out.schema.fields
                ),
                "num_buckets": nb,
                "bucket_by": bb,
                "sort_by": sb,
            },
        )
        return out

    # -- lineage + counters -----------------------------------------------
    def _record_metrics(
        self,
        name: str,
        df: DataFrame,
        secs: float,
        digest: str | None = None,
        extra: dict | None = None,
    ) -> None:
        """Per-partition row counters → ``_metrics/stage=<name>`` + manifest.

        ``extra`` fields (e.g. a bucketed stage's bucket spec) are merged
        into the manifest entry BEFORE the save, so stage completeness and
        everything a resume needs are recorded atomically.

        Overwriting a per-stage path (instead of appending to a shared
        table) makes retries idempotent: a crash between the stage write and
        the manifest save leaves counters that the retry replaces, so
        lineage counters always sum to the stage row count.

        One counting scan total: the per-partition aggregate is collected
        (it is at most one row per partition), its sum IS the manifest row
        count — no separate ``df.count()`` job — and the counter table is
        written back from the already-collected local rows.
        """
        counter_rows = (
            df.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("rows"))
            .collect()
        )
        rows = sum(r["rows"] for r in counter_rows)
        per_part = self.spark.createDataFrame(
            [(r["partition_id"], r["rows"]) for r in counter_rows] or [(0, 0)],
            "partition_id int, rows long",
        ).select(
            "partition_id",
            "rows",
            F.lit(name).alias("stage"),
            F.current_timestamp().alias("ts"),
        )
        per_part.write.mode("overwrite").parquet(
            os.path.join(self.base_dir, "_metrics", f"stage={name}")
        )
        self.manifest[name] = {
            "complete": True,
            "rows": rows,
            "seconds": round(secs, 3),
            "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "schema": df.schema.simpleString(),
            "digest": digest,
            **(extra or {}),
        }
        self._save_manifest()

    def metrics(self) -> DataFrame:
        # read only the per-stage subdirs — a run_dir created by an older
        # layout may still hold flat appended files directly under
        # _metrics/, which must not be double-counted
        return self.spark.read.option("recursiveFileLookup", "true").parquet(
            os.path.join(self.base_dir, "_metrics", "stage=*")
        )


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
    (tests/test_resume.py). Only the materialization differs: ``blocks``
    is written repartitioned by ``block_key``, and ``pairs``,
    ``payload``, ``scored`` and ``clusters`` as checkpoints. Killing the
    job after any stage and re-running reuses all completed stages
    (tests/test_resume.py proves identical output either way). Stages
    carry working ids; a run_dir written before the fold (string-id
    stages) has a different digest and rebuilds.

    ``bucketed`` (default True): write the ``pairs`` stage bucketed on
    ``id_a`` and the ``payload`` stage bucketed on ``id`` — scheduled
    hash-exchanges 2→1 in the scored stage; the removed exchange ships
    the full payload at scale (BENCH/BASELINE.md). Set False for
    plain-parquet stages (portable to engines that cannot read Spark
    bucket metadata).

    ``dual_bucket`` (requires ``bucketed``): additionally persist a
    ``pairs_payload_a`` stage — pairs with prior features + the id_a-side
    payload attached — bucketed on ``id_b``. Building it is exchange-free
    (pairs bucketed id_a ⋈ payload bucketed id), its WRITE performs the
    id_b re-key once, and the scored stage then schedules ZERO exchanges
    (single-bucket stops at 1). Same cold-run data movement, but the
    re-key becomes a compressed resumable stage instead of a transient
    shuffle, and a resumed run re-enters scoring with no exchange at all.

    Config knobs that change a persisted stage's SCHEMA are honored and
    digest-covered here: ``cfg.hash_tokens`` (payload tfidf
    map<bigint,…> vs map<string,…>), ``cfg.prior_features`` (pairs
    carry n_shared), ``cfg.id_bits`` (bigint vs struct ids),
    ``cfg.emb_dim`` + ``embeddings`` (payload carries a pooled ``emb``
    vector). The embeddings TABLE itself is not digested — keep it stable
    for the lifetime of a run_dir (or change run_dir when it changes).
    """
    from entity_linking_spark.plans.pipeline import LinkageConfig, _run_stages

    if dual_bucket and not bucketed:
        raise ValueError("dual_bucket requires bucketed=True")
    cfg = config or LinkageConfig()
    ckpt = StageCheckpointer(spark, run_dir)
    # one digest for the whole run config: any param change (blocking,
    # weights, threshold, column mapping) invalidates every stage built
    # under the old config
    dig = config_digest(
        {
            "config": config_digest(cfg),
            "id_col": id_col,
            "text_col": text_col,
            "url_col": url_col,
            "pipeline_version": 4,
            # layout change invalidates stages written the other way
            "bucketed": bucketed,
            "dual_bucket": dual_bucket,
        }
    )
    buckets = (
        {"pairs": "id_a", "payload": "id", "pairs_payload_a": "id_b"}
        if bucketed else {}
    )

    def stage(name: str, build: Callable[[], DataFrame]) -> DataFrame:
        if name == "pages":
            return build()  # the input itself: re-read on resume
        if name in buckets:
            return ckpt.bucketed_stage(
                name, build, bucket_by=buckets[name], digest=dig
            )
        by = "block_key" if name == "blocks" else None
        return ckpt.stage(name, build, repartition_by=by, digest=dig)

    return _run_stages(
        pages, stage, cfg, id_col, text_col, url_col,
        embeddings=embeddings, dual_bucket=dual_bucket,
    )
