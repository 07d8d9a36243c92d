#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The flagship linkage pipeline is timed end-to-end (pages/sec is derivable:
docs / pipeline seconds); registry queries are forced with .count() so
results never funnel through the driver, and each reports the median of
three timed calls after one untimed warm-up call.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from pyspark.sql import functions as F


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def pipeline_query(spark, sf_dir: str):
    """Flagship: full linkage pipeline over documents-as-pages."""
    from entity_linking_spark.plans.pipeline import LinkageConfig, link_pages

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = docs.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
            F.col("doc_id"),
        ).alias("url"),
        F.col("doc_id").alias("id"),
        "text",
    )
    return link_pages(
        pages, id_col="id", text_col="text", url_col="url",
        config=LinkageConfig(threshold=0.8),
    )


def _release_cached(spark) -> None:
    """Drop every cached frame and persisted RDD of the session
    (``localCheckpoint`` RDDs survive ``clearCache``)."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


BENCH_REGISTRY_QUERIES = [
    "minhash_signature",
    "candidate_pairs_pfx",
    "pair_scores",
    "pricing_summary",
    "join_agg_revenue",
    "topk_per_group",
    "window_lognorm",
    # round-2 additions
    "stemmed_bow",
    "embedding_neardup_salted",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from entity_linking_spark.queries import queries as registry
    from entity_linking_spark.session import get_spark

    spark = get_spark("bench", cores=cpus, shuffle_partitions=cpus)
    # The warmup IS a timed cold flagship run at the bench SF (round-4
    # verdict: keep cross-round artifacts comparable). A cold JVM spends
    # ~2x wall on the same stages (whole-stage-codegen compilation, C2
    # JIT, Arrow init) — a harness artifact of a 30s single-process
    # benchmark that amortizes to zero at production scale — so the
    # headline queries below measure steady-state throughput, while
    # flagship_cold_sec preserves the round-3 cold-protocol number. It is
    # NOT counted in any query time or the headline total.
    t0 = time.time()
    pipeline_query(spark, sf_dir).count()
    flagship_cold_sec = round(time.time() - t0, 3)
    # the steady run builds the same plans: start it from no cached frames,
    # or it reads the cold run's cached pages, blocks and payload
    _release_cached(spark)

    timings: dict[str, float] = {}
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()

    t0 = time.time()
    pipeline_query(spark, sf_dir).count()
    timings["linkage_pipeline"] = round(time.time() - t0, 3)

    qs = registry()
    for name in BENCH_REGISTRY_QUERIES:
        qs[name](spark, sf_dir).count()
        runs = []
        for _ in range(3):
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            runs.append(time.time() - t0)
        timings[name] = round(statistics.median(runs), 3)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_from_dir(sf_dir),
        "cpus": cpus,
        "docs": n_docs,
        "pipeline_docs_per_sec": round(n_docs / timings["linkage_pipeline"], 2),
        # cold = first flagship run in the JVM (r3-comparable protocol);
        # it doubles as the JIT warmup for the steady-state timings above
        "flagship_cold_sec": flagship_cold_sec,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
