"""entity_linking_spark — a PySpark-native record-linkage / web-text analytics engine.

A from-scratch rebuild of the query and data-processing capabilities of the
reference entity-linking system (``dmh-cs/entity-linking``, see SURVEY.md),
re-expressed Spark-first:

- blocking + pairwise scoring + transitive clustering record linkage
  (``operators.blocking``, ``operators.pairs``, ``operators.scoring``,
  ``operators.cluster``),
- large-scale training-data pipeline ops: dedup (exact / MinHash-LSH /
  SimHash / n-gram Jaccard / embedding cosine), similarity search, text
  quality analysis — registry queries in ``queries`` (each a Spark plan
  paired with a DuckDB oracle SQL string),
- deterministic text extraction + tokenization contracts (``extract``,
  ``tokenize``),
- per-stage checkpointing with lineage + counters for mid-pipeline resume
  (``checkpoint``, ``plans.pipeline``).

Everything is DataFrame/Catalyst-first: the flagship pipeline runs no
Python worker (its two string measures are Java kernels, see
``functions.similarity``); elsewhere Python appears only in vectorized
pandas/Arrow UDFs (never per-row Python UDFs).
"""

__version__ = "0.1.0"
