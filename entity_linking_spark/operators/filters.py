"""Packaged row filters with drop counters (reference P2).

The reference drops mentions whose gold label is absent from the candidate
set and PRINTS how many it dropped (`/root/reference/src/simple_dataset.py:97-107`,
`src/conll_dataset.py:48`). The Spark-native analog must not pay an extra
corpus pass for the counter, so the count rides on the SAME job via
``DataFrame.observe`` (a plan-level accumulator): zero extra jobs, exact
counts, available on the driver after any action on the filtered frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def filter_has_label(
    df: DataFrame,
    candidates_col: str,
    label_col: str,
    observation: Observation | None = None,
) -> DataFrame:
    """Keep rows whose ``label_col`` appears in the ``candidates_col`` array.

    ``observation`` (optional): a ``pyspark.sql.Observation`` that, after
    the first action on the returned frame, carries ``{"seen": n_input,
    "dropped": n_filtered_out, "kept": n_output}`` — the reference's
    printed drop counts as plan-level metrics with no extra job.
    """
    has = F.array_contains(F.col(candidates_col), F.col(label_col))
    # null label / null candidates ⇒ `has` is null ⇒ the row is filtered
    # out by where(has); coalesce to False so such rows count as dropped
    # and the seen == dropped + kept invariant holds exactly
    has_t = F.coalesce(has, F.lit(False))
    if observation is not None:
        df = df.observe(
            observation,
            F.count(F.lit(1)).alias("seen"),
            F.sum(F.when(has_t, 0).otherwise(1)).alias("dropped"),
            F.sum(F.when(has_t, 1).otherwise(0)).alias("kept"),
        )
    return df.where(has)


def record_drop_metrics(
    ckpt, stage: str, observation: Observation
) -> None:
    """Record an Observation's drop counts as ``drops`` in a
    ``StageCheckpointer``'s manifest entry for ``stage`` (one manifest
    save) — the durable form of the reference's printed counts. Call it
    after the stage is written: writing a stage replaces its entry."""
    entry = ckpt.manifest.setdefault(stage, {})
    entry["drops"] = {k: int(v) for k, v in observation.get.items()}
    ckpt._save_manifest()
