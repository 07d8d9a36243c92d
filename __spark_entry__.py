"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship record-linkage pipeline (blocking →
candidate pairs → pair scoring → connected-components clustering) over the
sf0.001 ``documents`` table shaped as web pages. ``queries()`` /
``oracle_sql()`` expose every implemented operator from SURVEY.md §2 with a
DuckDB-checkable oracle (see ``entity_linking_spark.queries``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entity_linking_spark import queries as Q


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: cluster near-duplicate documents at sf0.001.

    ``link_pages`` (SURVEY.md §7.1): multi-scheme blocking (host /
    normalized-prefix / MinHash-LSH band keys) → salted + capped blocks →
    block self-join → JVM+Arrow pair scoring → threshold → large-star/
    small-star connected components. Returns (id, cluster_id, url): one
    row per document, cluster_id = the cluster's minimum member id.
    """
    from entity_linking_spark.plans.pipeline import LinkageConfig, link_pages

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pages = docs.select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/doc/"),
            F.col("doc_id"),
        ).alias("url"),
        F.col("doc_id").alias("id"),
        "text",
    )
    clusters = link_pages(pages, id_col="id", config=LinkageConfig(threshold=0.8))
    return clusters.join(pages.select("id", "url"), "id").select(
        "id", "cluster_id", "url"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return Q.queries()


def oracle_sql() -> dict[str, str]:
    return Q.oracle_sql()
