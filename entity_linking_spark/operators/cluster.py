"""Distributed transitive closure: connected components on an edge list.

An edge set of at most ``LOCAL_MAX_EDGES`` int64 edges is gathered into one
task and labelled there by a union-find kernel compiled into the JVM
(``functions/StringKernels.java``): two jobs in all, where the star rounds
below take one job per probe, and more probes the longer the graph's paths.

Larger edge sets take the scale path: large-star / small-star alternation
(Kiveris et al., "Connected Components in MapReduce and Beyond", SOCC'14 —
public algorithm), implemented as iterated DataFrame window aggregates with
per-iteration ``localCheckpoint`` to truncate lineage. Converges in
O(log² n) rounds; each star is one shuffle (a windowed per-node neighbour
minimum), and the small star adds a ``distinct``. The loop stops on the
first probe whose edge set is a star forest.

Reference analog: the per-document one-round max-product message passing
(``/root/reference/src/max_product.py:60-82``) enforces cross-mention
consistency; at web scale the same role — making linkage decisions
transitively consistent — is played by connected components over the
above-threshold edge set (SURVEY.md §3.3).

Node ids are int64. String ids (urls) should be mapped through
``md5hash64`` or a dictionary first. Ids of another type (the pipeline's
128-bit struct ids) always take the star rounds.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from entity_linking_spark.functions.similarity import union_find
from entity_linking_spark.session import hadoop_fs

# Edge sets up to this size are labelled in one task (``_label_in_one_task``),
# larger ones by the star rounds. At the bound, a generated graph of 1M
# random edges over 600k ids (578,520 nodes) was labelled in 1.3-1.5 s
# (4 vCPUs, warm), the heap pools peaking at 880 MB against 222 MB before
# the call (8 GB driver heap); with a 512 MB heap it took 3.4 s.
LOCAL_MAX_EDGES = 1_000_000


def _nbr_min() -> F.Column:
    """Minimum ``dst`` over the ``src`` node's edges: one exchange on
    ``src`` and a sort, where ``groupBy`` + join back would shuffle twice."""
    return F.min("dst").over(Window.partitionBy("src"))


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to the min of
    N(u) ∪ {u}. Output is oriented high→low and may hold duplicates (the
    following small star removes them)."""
    bidir = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = bidir.select(
        "src", "dst", F.least(F.col("src"), _nbr_min()).alias("m")
    )
    # m ≤ src < dst, so no output edge is a self-loop
    return m.where(F.col("dst") > F.col("src")).select(
        F.col("dst").alias("src"), F.col("m").alias("dst")
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges high→low; for each node u connect all of its ≤ neighbors
    (and u) to the minimum neighbor m. Each oriented edge (u, v) yields
    exactly one output edge: (v, m), or (u, m) when v is m itself."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).select("src", "dst", _nbr_min().alias("m"))
    return oriented.select(
        F.when(F.col("dst") == F.col("m"), F.col("src"))
        .otherwise(F.col("dst"))
        .alias("src"),
        F.col("m").alias("dst"),
    ).distinct()


def _is_star_forest(edges: DataFrame) -> bool:
    """True when every edge, oriented high→low, joins a child to a root:
    no node is a child twice and no child is also a parent. One
    ``groupBy`` over the edge set. Duplicate edges can only make this
    say "not yet" (a repeated child), never accept a non-star."""
    per_node = (
        edges.select(
            F.inline(
                F.array(
                    F.struct(
                        F.greatest("src", "dst").alias("node"),
                        F.lit(1).alias("child"),
                    ),
                    F.struct(
                        F.least("src", "dst").alias("node"),
                        F.lit(0).alias("child"),
                    ),
                )
            )
        )
        .groupBy("node")
        .agg(F.sum("child").alias("child"), F.count("*").alias("degree"))
    )
    # a child must have exactly one edge: the one to its root
    return per_node.where((F.col("child") > 0) & (F.col("degree") > 1)).count() == 0


def _label_in_one_task(raw: DataFrame) -> DataFrame:
    """(node, component) for every node of ``raw``'s edges, from one task:
    ``coalesce(1)`` puts the edge lists and the union-find kernel in the
    same task, so this adds no shuffle and one job. A node seen only in a
    self-loop is a singleton component. ``raw`` holds no null end, so
    the two lists ``collect_list`` builds stay aligned."""
    return (
        raw.coalesce(1)
        .agg(F.collect_list("src").alias("src"), F.collect_list("dst").alias("dst"))
        .select(F.inline(union_find("src", "dst")))
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
    fuse_rounds: int = 2,
) -> DataFrame:
    """→ (node, component) where component = min node id in the component.

    Local finish: the incoming edges are materialized once (``raw``), and
    an ``Observation`` on that job counts them. At most
    ``LOCAL_MAX_EDGES`` int64 edges are labelled in one task by a
    union-find kernel (``_label_in_one_task``): no rounds, so
    ``max_iter`` and ``fuse_rounds`` do not apply. Larger edge sets, and
    ids of any other type, take the star rounds, the scale path described
    below. Both paths give the same labels. An edge with one null end
    counts as a self-loop on its other end; a null–null edge is dropped.

    Convergence: star rounds preserve connectivity, and a forest of stars
    whose leaves are all larger than their root is both their fixpoint and
    the final labelling (root = component minimum). So after each fused
    probe one ``groupBy`` tests whether the edge set is such a star forest
    (see ``_is_star_forest``), and the loop stops on the probe that
    reaches it. ``fuse_rounds`` combined large∘small rounds run per
    materialization and probe (default 2): this divides both the
    lineage-truncation barriers and the driver round-trips by the fuse
    factor (the flagship's measured sf0.1 floor was ~42% driver-bound), at
    the cost of up to ``fuse_rounds − 1`` rounds past the first star
    forest — cheap, because star rounds leave a star forest unchanged.
    Measured guidance: fusion clearly wins on multi-core executors
    (same-hour cold flagship 43.0s → 28.5s at local[32]); on 1-core /
    small-heap executors the wider in-flight job showed no benefit in
    noisy measurements — set ``fuse_rounds=1`` there to recover the
    round-3 per-round behavior.

    Skew: each star's neighbour minimum is a window over ``src``, which
    has no map-side combine, so all of one node's edges meet in one task.
    A ``groupBy`` + join back could have been split by AQE skew-join
    handling, but only above its ``skewedPartitionThresholdInBytes``
    (256 MB by default, about 16M edges on one hub).

    ``checkpoint_dir``: by default rounds truncate lineage with
    ``localCheckpoint`` (executor-local blocks — fastest, but a lost
    executor on a preemptible cluster kills the computation). Pass a
    reliable-storage path (HDFS/S3/DBFS) to use ``checkpoint`` with
    ``spark.sparkContext.setCheckpointDir`` instead: each round's edge set
    is persisted to the shared filesystem and survives executor loss.
    Superseded rounds are released as soon as the next probe's edge set
    is materialized: local rounds are unpersisted, reliable ones deleted
    (shared storage holds ~2 edge-set copies, not O(rounds)). A caller-set
    checkpoint dir is restored on exit.
    """
    spark = edges.sparkSession
    prior_ckpt_dir = None
    if checkpoint_dir is not None:
        # don't clobber a caller-set checkpoint dir for the rest of the
        # session (setCheckpointDir mutates global SparkContext state —
        # round-4 advice): remember it and restore on the way out
        try:
            opt = spark.sparkContext._jsc.sc().getCheckpointDir()
            prior_ckpt_dir = opt.get() if opt.isDefined() else None
        except Exception:  # pragma: no cover - py4j surface drift
            prior_ckpt_dir = None
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _ckpt(df: DataFrame, eager: bool) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=eager)
        return df.localCheckpoint(eager=eager)

    def _release(dfs: list[DataFrame]) -> None:
        """Best-effort release of no-longer-referenced round checkpoints.

        Local rounds are unpersisted (non-blocking); otherwise each stays
        persisted until the ContextCleaner happens to collect it. Reliable
        rounds are also deleted from shared storage, where a long run
        would otherwise accumulate O(rounds) full copies of the edge set
        (spark.cleaner.referenceTracking.cleanCheckpoints defaults to
        false and relies on driver GC even when enabled — round-4
        advice). Only frames whose consumers have already materialized are
        passed in; ``raw`` and the final edge set are never superseded
        (the caller's lazy result reads them).
        """
        for df in dfs:
            try:
                rdd = df._jdf.queryExecution().analyzed().rdd()
                rdd.unpersist(False)
                if checkpoint_dir is None:
                    continue
                opt = rdd.getCheckpointFile()
                if not opt.isDefined():
                    continue
                fs, path = hadoop_fs(spark, opt.get())
                fs.delete(path, True)
            except Exception:  # pragma: no cover - best effort
                pass

    try:
        # materialize the incoming edge plan ONCE — deriving nodes and the
        # working edge set from the raw lazy plan would execute the whole
        # upstream (blocking + scoring) twice. The observation counts the
        # edges on that same job. Both paths read the null rule applied
        # here (see the docstring).
        s, d = F.col(src), F.col(dst)
        n_edges = Observation()
        raw = _ckpt(
            edges.select(F.coalesce(s, d).alias("src"), F.coalesce(d, s).alias("dst"))
            .where(F.col("src").isNotNull())
            .observe(n_edges, F.count(F.lit(1)).alias("edges")),
            True,
        )
        if n_edges.get["edges"] <= LOCAL_MAX_EDGES and all(
            isinstance(f.dataType, LongType) for f in raw.schema.fields
        ):
            return _label_in_one_task(raw)
        # node set comes from the raw edges: a node appearing only in a
        # self-loop is still a (singleton) component. Lazy on purpose — it is
        # consumed exactly once (the final join), so an eager checkpoint here
        # would only add a full-edge-set materialization barrier before the
        # iteration starts (its plan roots at the checkpointed `raw`, so no
        # upstream recompute either way).
        nodes = raw.select(F.col("src").alias("node")).union(
            raw.select(F.col("dst").alias("node"))
        ).distinct()
        # lazy: materializes inside the first probe's job (plan roots at the
        # checkpointed `raw`, so laziness cannot recompute upstream)
        e = _ckpt(raw.where(F.col("src") != F.col("dst")).distinct(), False)

        converged = False
        for _ in range(max_iter):
            # fuse_rounds combined rounds per probe, with a LAZY checkpoint
            # between them: each star substitutes its input subtree twice, so
            # chaining stars under one plan grows the logical tree
            # exponentially (4 chained stars ≈ 4^4 leaf copies, measured ~2.4s
            # of Catalyst analysis per round); the intermediate lazy
            # checkpoints keep every analyzed plan two stars deep while still
            # materializing all fused rounds in the ONE job the probe's
            # aggregate drives — 1/fuse_rounds the driver collects of the
            # per-round form
            superseded = []
            for _f in range(max(1, fuse_rounds)):
                superseded.append(e)
                e = _ckpt(_small_star(_large_star(e)), False)
            converged = _is_star_forest(e)
            # this probe's final edge set is materialized now; its round inputs
            # (the previous probe's result and the fused intermediates) are
            # garbage
            _release(superseded)
            if converged:
                break
        if not converged:
            warnings.warn(
                f"connected_components: edge set did not reach a fixpoint within "
                f"max_iter={max_iter} fused probes "
                f"({max(1, fuse_rounds) * max_iter} star "
                f"rounds); component labels may be unconverged. "
                f"Increase max_iter.",
                RuntimeWarning,
                stacklevel=2,
            )

        # After convergence every edge points child → root (star forest).
        labels = e.select(
            F.greatest("src", "dst").alias("node"),
            F.least("src", "dst").alias("component"),
        ).groupBy("node").agg(F.min("component").alias("component"))
        return (
            nodes.join(labels, "node", "left")
            .select(
                "node", F.coalesce("component", F.col("node")).alias("component")
            )
        )
    finally:
        if checkpoint_dir is not None:
            # all checkpoint WRITES are done (the lazy result only READS
            # the final edge set + raw); hand the global setting back
            try:
                spark.sparkContext.setCheckpointDir(prior_ckpt_dir)
            except Exception:  # pragma: no cover - py4j null handling drift
                pass
