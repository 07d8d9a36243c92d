"""spark-submit entry point for the linkage pipeline (north_rule launch path).

Cluster launch (the engine ships as a --py-files zip, no install step):

    cd /root/repo && zip -qr /tmp/elspark.zip entity_linking_spark
    spark-submit --master <cluster-url> \\
        --py-files /tmp/elspark.zip \\
        scripts/submit_pipeline.py \\
        --pages  s3://bucket/pages/            \\
        --out    s3://bucket/runs/run1/        \\
        --threshold 0.62

Local smoke (what the sandbox supports):

    spark-submit --master 'local[8]' --py-files /tmp/elspark.zip \\
        scripts/submit_pipeline.py --pages data/bench_corpus_40000/pages.parquet \\
        --out /tmp/run1

The job is the checkpointed pipeline (``run_linkage_checkpointed``): every
stage lands in ``--out`` in one write job, recorded with its row count in
the run's manifest (``StageCheckpointer.metrics()`` gives the
per-partition counters), so re-submitting after a failure resumes
mid-pipeline.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="pages parquet path")
    ap.add_argument("--out", required=True, help="run directory (checkpoints)")
    ap.add_argument("--threshold", type=float, default=0.62)
    ap.add_argument("--max-block", type=int, default=64)
    ap.add_argument("--id-col", default="url")
    ap.add_argument("--text-col", default="text")
    args = ap.parse_args()

    # under spark-submit the session already exists/configured by the
    # launcher; getOrCreate layers engine confs without overriding master
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("elspark-linkage").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from entity_linking_spark.checkpoint import run_linkage_checkpointed
    from entity_linking_spark.plans.pipeline import LinkageConfig

    pages = spark.read.parquet(args.pages)
    cfg = LinkageConfig(threshold=args.threshold, max_block=args.max_block)
    url_col = "url" if "url" in pages.columns else None  # host keys need a url
    clusters = run_linkage_checkpointed(
        spark, pages, args.out, cfg,
        id_col=args.id_col, text_col=args.text_col, url_col=url_col,
    )
    n = clusters.count()
    n_clusters = clusters.select("cluster_id").distinct().count()
    print(json.dumps({"rows": n, "clusters": n_clusters, "out": args.out}))


if __name__ == "__main__":
    main()
