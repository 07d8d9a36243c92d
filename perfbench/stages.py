"""The traced run: the linkage pipeline stage by stage, tagged by layer.

:func:`mirror_link_pages` rebuilds ``plans.pipeline.link_pages`` from the
public operators in the same stage order, with the same config, and
materializes each stage inside ``setJobGroup(<stage>)``. The wall time of
a stage is taken here, around its calls; task time, shuffle bytes, job
counts and failed tasks come from the event log (``eventlog``). The
mirror's clusters are compared with ``link_pages``' own, so the mirror
cannot drift from the real pipeline unnoticed.

Materializing every stage adds work (each stage is persisted and counted
before the next starts); the benchmark reports that cost as
``trace.overhead_s``.
"""

from __future__ import annotations

import time
import warnings

from pyspark.sql import functions as F

from entity_linking_spark.functions.similarity import jaro_winkler
from entity_linking_spark.operators.blocking import (
    block_keys,
    cap_block_size,
    salt_mega_blocks,
)
from entity_linking_spark.operators.cluster import connected_components
from entity_linking_spark.operators.pairs import attach_pair_payload, candidate_pairs
from entity_linking_spark.operators.scoring import doc_payload, score_pairs
from entity_linking_spark.plans.pipeline import estimated_scan_width


class StageClock:
    """Wall time and output rows of each named stage."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.wall: dict[str, float] = {}
        self.rows: dict[str, int] = {}

    def run(self, name, fn):
        """``fn()`` → (value, rows); its jobs run in job group ``name``."""
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        value, rows = fn()
        self.wall[name] = time.perf_counter() - t0
        self.rows[name] = rows
        self.sc.setJobGroup("counters", "counters")
        return value


def _persisted(df):
    df = df.persist()
    return df, df.count()


def _cached_bytes(sc) -> int:
    return sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo())


def mirror_link_pages(spark, pages, cfg, clock: StageClock) -> tuple[list, dict]:
    """``link_pages(pages, config=cfg)`` on ``url``/``text`` string ids,
    one materialized stage at a time. → (rows, counters)."""
    sc = spark.sparkContext
    n_par = sc.defaultParallelism

    def scan():
        p = pages.select("url", "text")
        width = estimated_scan_width(p)
        if width is not None and width < n_par:
            p = p.repartition(n_par)
        return _persisted(p)

    p = clock.run("scan", scan)
    nid = F.xxhash64(F.col("url"))
    work = p.withColumn("_nid", nid)
    blocks = clock.run(
        "blocking",
        lambda: _persisted(
            cap_block_size(
                salt_mega_blocks(
                    block_keys(
                        work,
                        id_col="_nid",
                        text_col="text",
                        url_col="url",
                        num_hashes=cfg.num_hashes,
                        bands=cfg.bands,
                        shingle_k=cfg.shingle_k,
                        prefix_tokens=cfg.prefix_tokens,
                        hash_keys=cfg.hash_block_keys,
                    ),
                    max_block=cfg.max_block,
                    n_salts=cfg.n_salts,
                ),
                max_block=cfg.max_block,
            )
        ),
    )
    pairs = clock.run(
        "pairs", lambda: _persisted(candidate_pairs(blocks, with_count=cfg.prior_features))
    )
    before = _cached_bytes(sc)
    payload = clock.run(
        "payload",
        lambda: _persisted(
            doc_payload(
                work,
                id_col="_nid",
                text_col="text",
                topk=cfg.payload_topk,
                hash_tokens=cfg.hash_tokens,
            )
        ),
    )
    payload_bytes = _cached_bytes(sc) - before
    scored = clock.run(
        "score",
        lambda: _persisted(score_pairs(pairs, payload, weights=cfg.weights, model=cfg.model)),
    )
    edges = scored.where(F.col("score") >= cfg.edge_threshold).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        comp = clock.run(
            "cc",
            lambda: _persisted(
                connected_components(
                    edges,
                    checkpoint_dir=cfg.cc_checkpoint_dir,
                    fuse_rounds=cfg.cc_fuse_rounds,
                )
            ),
        )

    def restore():
        ids = p.select(F.col("url").alias("id"), nid.alias("_nid"))
        labeled = ids.join(comp, ids._nid == comp.node, "left").select(
            "id", F.coalesce("component", F.col("_nid")).alias("_comp")
        )
        reps = labeled.groupBy("_comp").agg(F.min("id").alias("cluster_id"))
        out = labeled.join(reps, "_comp").select("id", "cluster_id").collect()
        return [tuple(r) for r in out], len(out)

    rows = clock.run("id_restore", restore)

    # bookkeeping below runs in the "counters" group, outside every stage
    sizes = blocks.groupBy("block_key").count()
    heads = attach_pair_payload(pairs, payload, "id", ["head"]).localCheckpoint()
    sc.setJobGroup("similarity", "similarity")
    t0 = time.perf_counter()
    heads.agg(F.sum(jaro_winkler("head_a", "head_b"))).collect()
    jw_s = time.perf_counter() - t0
    sc.setJobGroup("counters", "counters")
    counters = {
        "salted_keys": sizes.where(F.col("block_key").contains("#")).count(),
        "max_block": sizes.agg(F.max("count")).first()[0],
        "edges": edges.count(),
        "payload_bytes": payload_bytes,
        "jw_s": jw_s,
        "converged": not any(
            "did not reach a fixpoint" in str(w.message) for w in caught
        ),
    }
    return rows, counters
