"""The flagship linkage pipeline: pages → clusters (+ pairwise evaluation).

One stage graph (SURVEY.md §7.1), defined once in ``_run_stages``:

    pages     → input pruned to id/text/url, widened when it scans narrow
    (id fold) → working ids: xxhash64 (or 128-bit) of the input id
    blocks    → (id, block_key): host ∪ norm-prefix ∪ MinHash-LSH bands,
                mega-block salting + deterministic size caps
    pairs     → block self-join, id_a < id_b, dedup
    payload   → per-page TF-IDF / head / token-count (/ embedding) row
    [pairs_payload_a] → pairs with the id_a-side payload attached
    scored    → JVM pair features (Catalyst + Java string kernels) ▷
                linear / learned score
    clusters  → edges (score ≥ τ) → connected components (one-task
                union-find kernel up to ``LOCAL_MAX_EDGES`` edges, else
                large-star/small-star rounds) → id restore (cluster_id =
                min member id)

Every runner is the same graph with its own materialization callback:
``link_pages`` persists ``pages``, ``blocks`` and ``payload`` in memory;
``checkpoint.run_linkage_checkpointed`` writes each stage to a resumable
checkpoint; ``score_candidate_pairs`` materializes nothing and stops
after ``scored``. ``pairwise_metrics`` scores clusters against labeled
pairs.

Reference lineage: the stages mirror the reference's candidate-generation →
feature-scoring → argmax/collective-consistency flow
(/root/reference/src/data_fetchers.py:91-149, src/simple_dataset.py:149-220,
src/max_product.py:60-82) re-expressed as DataFrame transformations.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from entity_linking_spark.operators.blocking import (
    block_keys,
    cap_block_size,
    salt_mega_blocks,
)
from entity_linking_spark.operators.cluster import connected_components
from entity_linking_spark.operators.pairs import candidate_pairs
from entity_linking_spark.operators.scoring import (
    DEFAULT_WEIGHTS,
    GBTScorer,
    TrainedScorer,
    doc_payload,
    pair_payload_half,
    score_pairs,
)


def _conf_bytes(raw: str) -> int:
    """Parse a Spark size conf value ("128MB", "134217728b", "4m")."""
    s = raw.strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    for suf, mult in (("k", 1024), ("m", 1024**2), ("g", 1024**3), ("t", 1024**4)):
        if s.endswith(suf):
            return int(s[: -len(suf)]) * mult
    return int(s)


def estimated_scan_width(df: DataFrame) -> int | None:
    """Estimate how many NON-EMPTY scan tasks a file-backed frame yields.

    Mirrors Spark's FilePartition split math — ``maxSplitBytes =
    min(maxPartitionBytes, max(openCostInBytes, totalBytes/parallelism))``
    — and caps each parquet file's useful splits at its row-group count:
    byte-range splits beyond the row groups produce empty tasks, which is
    exactly the single-row-group pathology ``_widen_input`` exists for
    (and why raw file count under-counts a large multi-row-group file —
    round-4 advice). Returns ``None`` when the estimate isn't cheaply
    available (in-memory frame, non-local scheme, unreadable footer);
    ``_widen_input`` then falls back to the file count.
    """
    import math
    import os
    from urllib.parse import unquote, urlparse

    files = df.inputFiles()
    if not files:
        return None
    conf = df.sparkSession.conf
    try:
        max_pb = _conf_bytes(conf.get("spark.sql.files.maxPartitionBytes"))
        open_cost = _conf_bytes(conf.get("spark.sql.files.openCostInBytes"))
    except Exception:
        max_pb, open_cost = 128 * 1024**2, 4 * 1024**2
    sizes: list[int] = []
    row_groups: list[int | None] = []
    for f in files:
        pr = urlparse(f)
        if pr.scheme not in ("", "file"):
            return None  # remote store: stat/footer not cheap from driver
        p = unquote(pr.path) or f
        try:
            sizes.append(os.path.getsize(p))
        except OSError:
            return None
        if p.endswith(".parquet"):
            try:
                import pyarrow.parquet as pq

                row_groups.append(pq.ParquetFile(p).metadata.num_row_groups)
            except Exception:
                row_groups.append(None)
        else:
            row_groups.append(None)
    n_par = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    total = sum(sizes) + open_cost * len(files)
    max_split = min(max_pb, max(open_cost, total // n_par))
    width = 0
    for size, rgs in zip(sizes, row_groups):
        splits = max(1, math.ceil(size / max(max_split, 1)))
        width += min(splits, rgs) if rgs else splits
    return width


def _widen_input(pages: DataFrame) -> DataFrame:
    """Repartition a narrow input to cluster parallelism.

    A single-row-group parquet file is read by ONE non-empty scan task no
    matter how Spark splits its byte ranges, which starves the CPU-heavy
    map work (tokenize + shingle + 16 md5s/shingle) of cores — measured
    185s on 7 of 32 cores vs ~50s wide. One cheap input shuffle fixes it;
    on a real cluster with many files this is a no-op.

    The narrowness test is ``estimated_scan_width`` (split math + parquet
    row-group cap), NOT raw file count: a few large multi-row-group files
    already scan wide and must not pay a needless full-corpus shuffle
    (round-4 advice). Raw file count is only the fallback where that
    estimate is unavailable (remote inputs, whose footers are not read
    from the driver). Nor is it ``rdd.getNumPartitions()``: the RDD
    conversion costs ~1.9s of cold driver time. In-memory frames (zero
    files) inherit their source parallelism and are left alone.
    """
    n_par = pages.sparkSession.sparkContext.defaultParallelism
    width = estimated_scan_width(pages)
    if width is None:
        width = len(pages.inputFiles()) or n_par
    if width < n_par:
        return pages.repartition(n_par)
    return pages


@dataclass
class LinkageConfig:
    threshold: float = 0.62
    max_block: int = 64
    n_salts: int = 16
    num_hashes: int = 16
    bands: int = 8
    shingle_k: int = 3
    prefix_tokens: int = 4
    # CONTRACT NOTE (round-2 advice): payload_topk > 0 computes jaccard /
    # tfidf_cos / tfidf_norm_* over only the top-k TF-IDF terms per doc —
    # a bounded approximation of the reference's full-BoW features, exact
    # for docs with ≤ topk distinct tokens. The default threshold/weights
    # are validated under this cap (tests/test_e2e_f1.py: F1 = 1.0 at
    # topk=64 on the labeled corpus). Set 0 for exact full-vocabulary
    # features (doc_payload's own default); keep >0 at web scale — the
    # payload is shuffled onto both sides of every pair, so the cap is
    # the single biggest shuffle-byte lever in the scoring stage.
    payload_topk: int = 64
    # bigint block keys (xxhash64 of the string key) through salt/cap/
    # pair-join. Default OFF: measured back-to-back A/B on a 320k-page
    # corpus at local-cluster[8,1,4608] showed the hashed-key plan ~45%
    # SLOWER (158s vs 110s) despite smaller shuffle keys — the string
    # plan's sort/aggregate path wins on this data shape. Kept as an
    # option for re-evaluation on wider corpora.
    hash_block_keys: bool = False
    # reliable-storage checkpoint dir for the CC rounds (HDFS/S3/DBFS).
    # Default None = executor-local localCheckpoint (fastest); set on
    # preemptible clusters where a lost executor must not kill the
    # fixpoint iteration (see operators.cluster.connected_components).
    cc_checkpoint_dir: str | None = None
    # combined CC rounds per star-forest probe (one driver collect each;
    # the loop stops on the first probe that reaches a star forest). 2
    # wins on multi-core executors (cold flagship 43.0s -> 28.5s same-hour
    # A/B); set 1 on 1-core/small-heap executors (see
    # connected_components).
    cc_fuse_rounds: int = 2
    # bigint tfidf map keys (xxhash64 of the token) in the scoring
    # payload — key-identity algebra downstream, ~20% smaller shuffle
    # bytes (round-4 scaling fix). Set False to keep inspectable
    # token-string keys; NOTE the payload schema changes with this flag
    # (map<bigint,double> vs map<string,double>), so external readers of
    # a persisted payload stage must match it (checkpoint digests cover
    # the pipeline's own stages).
    hash_tokens: bool = True
    # embedding-similarity pair features (emb_dot / emb_cos — the
    # reference's wiki2vec features and the north star's "embedding
    # similarity"): set to the word-vector dimension and pass the
    # (token, embedding) table as link_pages(embeddings=...). 0 = off.
    emb_dim: int = 0
    # block-key co-occurrence prior features (prior / times_mentioned —
    # reference features 7-8): counts how many blocking keys each pair
    # co-occurs in, normalized per left page. Same shuffle cost as the
    # pair dedup it replaces.
    prior_features: bool = False
    # working-id width. 64 (default): xxhash64-folded ids — collision
    # math ~n²/2^65 ≈ 3 expected silent pair-merges at 10^10 docs.
    # 128: two-seed xxhash64 struct ids through blocking/pairs/CC —
    # birthday-safe at the north star's 10^12 docs (~10^-15 expected
    # collisions). Integral inputs skip hashing entirely either way.
    # Caps keep block members in working-id order, so 64 and 128 give
    # identical clusters only while caps do not bite (the test_resume
    # fixture at max_block=3: 27 vs 26 clusters).
    id_bits: int = 64
    weights: dict[str, float] = field(default_factory=lambda: dict(DEFAULT_WEIGHTS))
    # learned scorer — linear (TrainedScorer) or tree-ensemble (GBTScorer);
    # takes precedence over fixed weights; its own probability threshold
    # replaces `threshold`
    model: TrainedScorer | GBTScorer | None = None

    @property
    def edge_threshold(self) -> float:
        return self.model.threshold if self.model is not None else self.threshold


def _working_id(pages: DataFrame, id_col: str, cfg: LinkageConfig) -> tuple[Column, bool]:
    """The pipeline-interior id for ``id_col`` → (column, ids_integral).

    The id rides every hot shuffle (blocking, both sides of the pair
    join, both payload joins, every CC round), and input ids are
    typically ~40-byte URLs: xxhash64 folds them to 8 bytes (collisions
    ~n²/2^65, ≈3 silent merges at 10^10 docs); ``cfg.id_bits=128`` uses a
    two-seed xxhash64 struct, birthday-safe at 10^12 docs. Caps keep
    block members in working-id order, so the width changes the clusters
    once caps bite. Integral ids are used as they are (order-preserving,
    collision-free), which lets the id restore skip the representative
    join (min working id == min id).
    """
    from pyspark.sql.types import IntegralType

    if isinstance(pages.schema[id_col].dataType, IntegralType):
        return F.col(id_col).cast("bigint"), True
    if cfg.id_bits >= 128:
        return F.struct(
            F.xxhash64(F.col(id_col)).alias("h1"),
            F.xxhash64(F.col(id_col), F.lit(1)).alias("h2"),
        ), False
    return F.xxhash64(F.col(id_col)), False


def _run_stages(
    pages: DataFrame,
    stage: Callable[[str, Callable[[], DataFrame]], DataFrame],
    cfg: LinkageConfig,
    id_col: str,
    text_col: str,
    url_col: str | None,
    embeddings: DataFrame | None = None,
    dual_bucket: bool = False,
    scored_only: bool = False,
) -> DataFrame:
    """The one definition of the stage graph (see the module docstring).

    Each stage is built as ``stage(name, build)``, where ``build()``
    returns the stage's frame from the stages before it; the callback
    decides how the stage materializes (persist, checkpoint, or not at
    all) and returns the frame the later stages read. Names in order:
    ``pages``, ``blocks``, ``pairs``, ``payload``, ``pairs_payload_a``
    (only with ``dual_bucket``), ``scored``, ``clusters``.

    → (id, cluster_id) over the input ids; with ``scored_only`` the graph
    stops after ``scored`` and returns the scored pairs over input ids.
    """
    # prune to what the pipeline reads BEFORE widening/persisting — the
    # input may carry heavy columns (html binary) that would otherwise be
    # shuffled and cached for nothing
    src = pages.select(*[c for c in {id_col, text_col, url_col} if c])
    pages = stage("pages", lambda: _widen_input(src))
    nid, ids_integral = _working_id(pages, id_col, cfg)
    work = pages.withColumn("_nid", nid)
    blocks = stage(
        "blocks",
        lambda: cap_block_size(
            salt_mega_blocks(
                block_keys(
                    work,
                    id_col="_nid",
                    text_col=text_col,
                    url_col=url_col,
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
        ),
    )
    pairs = stage(
        "pairs", lambda: candidate_pairs(blocks, with_count=cfg.prior_features)
    )
    payload = stage(
        "payload",
        lambda: doc_payload(
            work,
            id_col="_nid",
            text_col=text_col,
            topk=cfg.payload_topk,
            hash_tokens=cfg.hash_tokens,
            embeddings=embeddings,
            emb_dim=cfg.emb_dim if embeddings is not None else 0,
        ),
    )
    if dual_bucket:
        raw_pairs = pairs
        pairs = stage(
            "pairs_payload_a", lambda: pair_payload_half(raw_pairs, payload)
        )
    scored = stage(
        "scored",
        lambda: score_pairs(pairs, payload, weights=cfg.weights, model=cfg.model),
    )
    ids = pages.select(F.col(id_col).alias("id"), nid.alias("_nid"))
    if scored_only:
        a = ids.select(F.col("_nid").alias("id_a"), F.col("id").alias("_a"))
        b = ids.select(F.col("_nid").alias("id_b"), F.col("id").alias("_b"))
        rest = [c for c in scored.columns if c not in ("id_a", "id_b")]
        return scored.join(a, "id_a").join(b, "id_b").select(
            F.least("_a", "_b").alias("id_a"),
            F.greatest("_a", "_b").alias("id_b"),
            *rest,
        )
    edges = scored.where(F.col("score") >= cfg.edge_threshold).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )

    def clusters() -> DataFrame:
        comp = connected_components(
            edges,
            checkpoint_dir=cfg.cc_checkpoint_dir,
            fuse_rounds=cfg.cc_fuse_rounds,
        )
        if ids_integral:
            # _nid == id: component (min _nid) IS the min member id already
            id_t = pages.schema[id_col].dataType.simpleString()
            return ids.join(comp, ids._nid == comp.node, "left").select(
                "id",
                F.coalesce("component", F.col("_nid")).cast(id_t).alias("cluster_id"),
            )
        # map hashed components back to original ids and restore the
        # documented representative (cluster_id = min member id): two
        # end-stage shuffles over (id, component) — one narrow row per page
        labeled = ids.join(comp, ids._nid == comp.node, "left").select(
            "id", F.coalesce("component", F.col("_nid")).alias("_comp")
        )
        reps = labeled.groupBy("_comp").agg(F.min("id").alias("cluster_id"))
        return labeled.join(reps, "_comp").select("id", "cluster_id")

    return stage("clusters", clusters)


def link_pages(
    pages: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    url_col: str | None = "url",
    config: LinkageConfig | None = None,
    embeddings: DataFrame | None = None,
) -> DataFrame:
    """→ (id, cluster_id): cluster_id = min member id in the component.

    All eval-path stages are deterministic (no rand(); caps use stable
    hash order — reference shuffles candidates only for training,
    /root/reference/src/data_fetchers.py:147-149).

    ``embeddings``: optional (token, embedding) word-vector table (the
    ``sources.glove.read_glove`` shape); with ``config.emb_dim`` set it
    activates the emb_dot/emb_cos pair features (see
    ``operators.scoring.doc_payload``). Passed as an argument, not on the
    config, so LinkageConfig stays a digestible value object.
    """

    def stage(name: str, build: Callable[[], DataFrame]) -> DataFrame:
        # the stages read more than once: pages (blocking, payload, id
        # restore), blocks (both sides of the pair self-join; the two
        # exchanges differ by projection, so AQE cannot reuse), payload
        # (both sides of every pair)
        df = build()
        return df.persist() if name in ("pages", "blocks", "payload") else df

    return _run_stages(
        pages, stage, config or LinkageConfig(), id_col, text_col, url_col,
        embeddings=embeddings,
    )


def score_candidate_pairs(
    pages: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    url_col: str | None = "url",
    config: LinkageConfig | None = None,
    embeddings: DataFrame | None = None,
) -> DataFrame:
    """Intermediate product: the candidate pairs ``link_pages`` scores,
    (id_a, id_b, features, score), over input ids with id_a < id_b.

    Blocking, capping and scoring run on the same working ids as
    ``link_pages``, so a scorer trained on these pairs sees the candidate
    set inference scores. Side-specific features (the token counts,
    ``tfidf_norm_a``/``_b``, ``prior``) keep the pair's working-id
    orientation, which need not match the input-id order.
    """
    return _run_stages(
        pages, lambda name, build: build(), config or LinkageConfig(),
        id_col, text_col, url_col, embeddings=embeddings, scored_only=True,
    )


def pairwise_metrics(
    clusters: DataFrame,
    labeled_pairs: DataFrame,
) -> dict[str, float]:
    """Pairwise precision / recall / F1 of cluster assignments against
    labeled pairs (reference eval: streamed accuracy,
    /root/reference/src/tester.py:113-118; pairwise form per BASELINE)."""
    ca = clusters.select(
        F.col("id").alias("url_a"), F.col("cluster_id").alias("c_a")
    )
    cb = clusters.select(
        F.col("id").alias("url_b"), F.col("cluster_id").alias("c_b")
    )
    j = (
        labeled_pairs.join(ca, "url_a")
        .join(cb, "url_b")
        .select(
            "label", (F.col("c_a") == F.col("c_b")).cast("int").alias("pred")
        )
    )
    row = j.agg(
        F.sum((F.col("label") * F.col("pred"))).alias("tp"),
        F.sum(((1 - F.col("label")) * F.col("pred"))).alias("fp"),
        F.sum((F.col("label") * (1 - F.col("pred")))).alias("fn"),
        F.count("*").alias("n"),
    ).collect()[0]
    tp, fp, fn = int(row["tp"] or 0), int(row["fp"] or 0), int(row["fn"] or 0)
    prec = tp / (tp + fp) if tp + fp else 1.0
    rec = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {
        "tp": tp, "fp": fp, "fn": fn, "n": int(row["n"]),
        "precision": prec, "recall": rec, "f1": f1,
    }
