"""Query registry: every implemented operator exposed as a (Spark, oracle-SQL)
pair over the driver's test tables.

Each entry is one operator family from SURVEY.md §2 (reference file:line in
the docstring of each builder). The Spark side is the engine's idiomatic
plan; the SQL side is an ANSI/DuckDB equivalent the driver runs for the
value-level correctness gate. Column names and float rounding are aligned
on both sides (the driver hash-compares values with columns sorted by name).

Round-3 registry compaction (the driver's CORRECTNESS harness records at
most 50 queries; round 2 registered 55 and the last 5 silently fell off).
Compound queries now cover multiple §2 rows each — the merged-query →
operator map:

- ``pair_scores``            ← pair_scores_lev (unit-cost Levenshtein) +
                               pair_scores_jw (Jaro-Winkler)
- ``neardup_minhash``        ← LSH candidate pairs + shingle-Jaccard verify
                               (former neardup_jaccard)
- ``embedding_neardup_salted`` ← subsumes unsalted embedding_neardup
- ``filter_truncate``        ← P3 predicate + P4 truncation + F10
                               mention-flag insertion (former mention_flags)
- ``entity_freq``            ← A1 group-count + F19 sha256 lineage ids
                               (former run_lineage_ids)
- ``prior_normalized``       ← A5/A6 window-normalized prior + W3 argmax
                               rank (former prior_argmax)
- ``bow_token_counts``       ← A4 raw BoW + F8 stopworded BoW, tagged by a
                               ``variant`` column (former bow_stopworded)
- anti-join coverage         ← exclusion_sample (left_anti) +
                               prior_fallback_lookup (NOT EXISTS branch);
                               former anti_join_fallback dropped
- new rows: ``has_label_filter`` (P2 + drop counters),
  ``collective_top1`` (§2.10 max-product refinement, full SQL oracle)

Conventions:
- float columns are rounded identically in both engines (round(x, N));
- every aggregate / computed column is aliased the same on both sides;
- hash-derived values go through `entity_linking_spark.hashing`, which is
  bit-identical across engines;
- queries whose semantics are iterative (connected components) are flagged
  SQL-oracle-able only where DuckDB's recursive CTE can express them;
- Spark sides are built from the shipped operators (``operators/``: block
  keys, block self-joins, MinHash, salting, pair payloads), so the oracle
  checks the code the pipeline runs; only the SQL side is written
  independently.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from entity_linking_spark.functions import text as X
from entity_linking_spark.functions.similarity import cosine_arrays, lev_ratio_cost2
from entity_linking_spark.hashing import (
    md5hash64,
    seeded_hash64,
    sql_md5hash64,
    sql_seeded_hash64,
)
from entity_linking_spark.operators import blocking
from entity_linking_spark.operators.blocking import norm_text_prefix_key
from entity_linking_spark.operators.pairs import attach_pair_payload, candidate_pairs
from entity_linking_spark.operators.scoring import tf_idf

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, sql: str | None):
    def deco(fn: QueryFn):
        _REGISTRY[name] = (fn, sql)
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return {k: v[0] for k, v in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {k: v[1] for k, v in _REGISTRY.items() if v[1] is not None}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Plain parquet read of a test table (use ``_tw`` for CPU-heavy queries
    that need the scan widened to cluster parallelism)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _tw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a test table widened to cluster parallelism.

    For queries whose map side is CPU-heavy (md5 shingle hashing): the
    sf0.1 tables are single-row-group parquet files, so they scan as ONE
    partition regardless of maxPartitionBytes, serializing the hash work
    onto one core (measured: minhash_signature 6.4s on 1 of 32 cores →
    1.0s widened). Scan-bound queries keep the plain `_t` read — an
    unconditional widen measurably hurts them (extra shuffle + lost scan
    pipelining: join_agg_revenue 0.59→1.22s). Results are unaffected:
    ordering/sampling in every registered query is value-deterministic,
    which the DuckDB oracle already requires. The widening is
    plans.pipeline._widen_input's; a no-op on multi-file cluster tables.
    """
    from entity_linking_spark.plans.pipeline import _widen_input

    return _widen_input(spark.read.parquet(f"{sf_dir}/{name}.parquet"))


def _pfx_blocks(docs: DataFrame, *extra: str | Column) -> DataFrame:
    """``(doc_id, block_key, *extra)``: the normalized 4-token prefix key
    (``blocking.norm_text_prefix_key``) of every document with at least 4
    tokens — the ``_SQL_PFX`` blocks of the oracle strings."""
    return docs.where(F.size(X.words(F.col("text"))) >= 4).select(
        "doc_id", norm_text_prefix_key(F.col("text")).alias("block_key"), *extra
    )


# ---------------------------------------------------------------------------
# SQL fragments shared by oracle strings (documents-as-pages shaping)
# ---------------------------------------------------------------------------

# tokens of a document text — must match functions.text.words()
_SQL_TOKENS = X.sql_words("text")
# normalized 4-token prefix key — must match blocking.norm_text_prefix_key
_SQL_PFX = f"array_to_string(list_slice({_SQL_TOKENS}, 1, 4), ' ')"
# synthetic host for documents (the documents table has no url column): the
# Spark side builds http://<source>.example.com/ and block_keys parses its host
_SQL_HOST = "(source || '.example.com')"


# ===========================================================================
# Linkage-pipeline operators (SURVEY §2.3 J5/J6, §2.8 F22, §2.5 W1-W4)
# ===========================================================================

@register(
    "block_keys_norm",
    f"""
    SELECT doc_id AS id, 'host:' || {_SQL_HOST} AS block_key FROM documents
    UNION ALL
    SELECT doc_id AS id, 'pfx:' || {_SQL_PFX} AS block_key FROM documents
    WHERE length('pfx:' || {_SQL_PFX}) > 4
    """,
)
def block_keys_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized blocking keys (host + text prefix) through ``block_keys``
    without MinHash bands.

    Reference: exact-key + unidecode-normalized fallback blocking,
    /root/reference/src/data_fetchers.py:91-126, src/utils.py:72-77.
    """
    docs = _t(spark, sf_dir, "documents").withColumn(
        "url", F.concat(F.lit("http://"), F.col("source"), F.lit(".example.com/"))
    )
    return blocking.block_keys(docs, id_col="doc_id", use_minhash=False)


@register(
    "minhash_signature",
    f"""
    WITH sh AS (
      SELECT doc_id, unnest({X.sql_word_shingles(_SQL_TOKENS, 3)}) AS shingle
      FROM documents
    )
    SELECT doc_id,
           min({sql_seeded_hash64('shingle', 0)}) AS h0,
           min({sql_seeded_hash64('shingle', 1)}) AS h1,
           min({sql_seeded_hash64('shingle', 2)}) AS h2,
           min({sql_seeded_hash64('shingle', 3)}) AS h3
    FROM sh GROUP BY doc_id
    """,
)
def minhash_signature_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature head (4 hash functions) per document.

    SURVEY §2.8 F22 (north_rule addition over the reference's exact-key
    blocking) through ``blocking.minhash_signature``'s md5 family; docs
    with fewer than 3 tokens (all-null signature) have no row, as in the
    oracle's unnest. Widened read: the md5-per-shingle map side is the CPU
    hot spot.
    """
    docs = _tw(spark, sf_dir, "documents")
    sig = blocking.minhash_signature(
        docs, "doc_id", "text", num_hashes=4, hash_family="md5"
    ).where(F.col("minhash_sig")[0].isNotNull())
    return sig.select(
        "doc_id", *[F.col("minhash_sig")[i].alias(f"h{i}") for i in range(4)]
    )


@register(
    "candidate_pairs_pfx",
    f"""
    WITH b AS (
      SELECT doc_id AS id, {_SQL_PFX} AS block_key FROM documents
      WHERE len({_SQL_TOKENS}) >= 4
    )
    SELECT DISTINCT a.id AS id_a, c.id AS id_b
    FROM b a JOIN b c ON a.block_key = c.block_key AND a.id < c.id
    """,
)
def candidate_pairs_pfx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block self-join pair generation on the prefix key.

    Reference: entity-pair self-join with (min,max) dedup,
    /root/reference/src/create_compats.py:148-172.
    """
    docs = _t(spark, sf_dir, "documents")
    return candidate_pairs(_pfx_blocks(docs), id_col="doc_id")


@register(
    "pair_scores_lev_cost2",
    f"""
    WITH RECURSIVE b AS (
      SELECT doc_id AS id, {_SQL_PFX} AS block_key,
             array_to_string(list_slice({_SQL_TOKENS}, 1, 8), ' ') AS head
      FROM documents WHERE len({_SQL_TOKENS}) >= 4
    ), pairs AS (
      SELECT a.id AS id_a, c.id AS id_b, a.head AS sa, c.head AS sb
      FROM b a JOIN b c ON a.block_key = c.block_key AND a.id < c.id
    ), dp AS (
      -- row-by-row LCS dynamic program carried as a list column; the
      -- cost-2 (indel) distance is lensum - 2*LCS, so ratio = 2*LCS/lensum
      SELECT id_a, id_b, sa, sb, 0 AS i,
             list_transform(range(1, length(sb) + 2), k -> 0) AS row
      FROM pairs
      UNION ALL
      SELECT id_a, id_b, sa, sb, i + 1,
             list_transform(range(1, length(sb) + 2),
                            k -> list_max(list_slice(raw, 1, k))) AS row
      FROM (
        SELECT id_a, id_b, sa, sb, i,
               list_transform(range(1, length(sb) + 2), k ->
                 CASE WHEN k = 1 THEN 0
                      ELSE greatest(row[k], row[k-1] +
                           CASE WHEN substr(sb, k-1, 1) = substr(sa, i+1, 1)
                                THEN 1 ELSE 0 END)
                 END) AS raw
        FROM dp WHERE i < length(sa)
      )
    )
    SELECT id_a, id_b,
           round(2.0 * row[length(sb) + 1] / (length(sa) + length(sb)), 6)
             AS lev2_sim
    FROM dp WHERE i = length(sa)
    """,
)
def pair_scores_lev_cost2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-2 Levenshtein ratio inside blocks — the reference's exact
    ``Levenshtein.ratio`` semantics (substitution cost 2,
    /root/reference/src/simple_dataset.py:180-181), a Java kernel on
    the Spark side (``functions/StringKernels.java``). The oracle computes LCS independently via a
    recursive-CTE dynamic program (ratio = 2·LCS/lensum), so the fidelity
    variant is value-checked, not just pytest-golden."""
    docs = _t(spark, sf_dir, "documents")
    b = _pfx_blocks(docs, norm_text_prefix_key(F.col("text"), 8).alias("head"))
    p = attach_pair_payload(
        candidate_pairs(b, id_col="doc_id"), b, "doc_id", ["head"]
    )
    return p.select(
        "id_a",
        "id_b",
        F.round(lev_ratio_cost2(F.col("head_a"), F.col("head_b")), 6).alias(
            "lev2_sim"
        ),
    )


@register(
    "pair_scores",
    f"""
    WITH t AS (
      SELECT doc_id AS id, {_SQL_TOKENS} AS tokens FROM documents
      WHERE len({_SQL_TOKENS}) >= 4
    ), b AS (
      SELECT id, array_to_string(list_slice(tokens, 1, 4), ' ') AS block_key
      FROM t
      UNION ALL
      SELECT id, array_to_string(list_slice(tokens, 1, 3), ' ') AS block_key
      FROM t
    ), p AS (
      SELECT a.id AS id_a, c.id AS id_b, count(*) AS n_shared
      FROM b a JOIN b c ON a.block_key = c.block_key AND a.id < c.id
      GROUP BY 1, 2
    ), pri AS (
      SELECT id_a, id_b,
             n_shared::DOUBLE / sum(n_shared) OVER (PARTITION BY id_a)
               AS prior,
             CAST(sum(n_shared) OVER (PARTITION BY id_a) AS BIGINT)
               AS times_mentioned
      FROM p
    ), tf AS (
      SELECT id, u.tok AS token, count(*) AS tf
      FROM t, unnest(t.tokens) AS u(tok)
      GROUP BY 1, 2
    ), idf AS (
      SELECT token, ln((SELECT count(*) FROM t)::DOUBLE / count(*)) AS idf
      FROM tf GROUP BY token
    ), pooled AS (
      -- the reference's _f_to_vec pooling: Sigma tf*idf*vec, float32 store
      SELECT tf.id,
             {", ".join(
                 f"CAST(sum(CAST((((ascii(token) * {i + 1}"
                 f" + length(token) * 7 + {i * 13}) % 97) / 97.0 - 0.5)"
                 f" AS REAL)::DOUBLE * (tf.tf * idf.idf)) AS REAL) AS e{i}"
                 for i in range(4)
             )}
      FROM tf JOIN idf USING (token)
      GROUP BY tf.id
    ), heads AS (
      SELECT id, array_to_string(list_slice(tokens, 1, 8), ' ') AS head
      FROM t
    ), pv AS (
      SELECT pri.id_a, pri.id_b, pri.prior, pri.times_mentioned,
             ha.head AS head_a, hb.head AS head_b,
             pa.e0::DOUBLE * pb.e0::DOUBLE + pa.e1::DOUBLE * pb.e1::DOUBLE
               + pa.e2::DOUBLE * pb.e2::DOUBLE + pa.e3::DOUBLE * pb.e3::DOUBLE
               AS dot,
             sqrt(pa.e0::DOUBLE * pa.e0::DOUBLE + pa.e1::DOUBLE * pa.e1::DOUBLE
                  + pa.e2::DOUBLE * pa.e2::DOUBLE + pa.e3::DOUBLE * pa.e3::DOUBLE)
             * sqrt(pb.e0::DOUBLE * pb.e0::DOUBLE + pb.e1::DOUBLE * pb.e1::DOUBLE
                    + pb.e2::DOUBLE * pb.e2::DOUBLE + pb.e3::DOUBLE * pb.e3::DOUBLE)
               AS denom
      FROM pri
      JOIN heads ha ON ha.id = pri.id_a
      JOIN heads hb ON hb.id = pri.id_b
      JOIN pooled pa ON pa.id = pri.id_a
      JOIN pooled pb ON pb.id = pri.id_b
    )
    SELECT id_a, id_b,
           round(1.0 - levenshtein(head_a, head_b)::DOUBLE
                 / greatest(length(head_a), length(head_b)), 6) AS lev_sim,
           round(jaro_winkler_similarity(head_a, head_b), 6) AS jw_sim,
           round(dot, 3) AS emb_dot,
           round(CASE WHEN denom = 0 THEN 0.0 ELSE dot / denom END, 5)
             AS emb_cos,
           round(prior, 6) AS prior,
           times_mentioned
    FROM pv
    """,
)
def pair_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair scores inside blocks through the REAL scoring operators —
    covers FOUR §2 feature families in one compound query (the registry
    sits at the driver's 50-row CORRECTNESS cap, so new features merge
    here rather than appending rows):

    - Levenshtein similarity (unit-cost ratio, JVM builtin — reference
      candidate_mention_sim, /root/reference/src/simple_dataset.py:180-181;
      cost-2 fidelity variant is oracle-checked in pair_scores_lev_cost2),
    - Jaro-Winkler (north_star-required measure) via a Java kernel
      bit-matched to DuckDB's implementation,
    - emb_dot / emb_cos — pooled document-embedding similarity (round-5:
      the reference's wiki2vec pair features, src/simple_dataset.py:197-203
      with _f_to_vec pooling at :133-144; north star "embedding
      similarity"). Token vectors are synthesized deterministically from
      the token bytes (no external data) identically in both engines;
      pooling/float32-store/dot/cos all go through
      ``doc_payload(embeddings=...)`` → ``pair_features``,
    - prior / times_mentioned — block-key co-occurrence prior features
      (reference features 7-8, src/ltr_bow.py:25-26) through
      ``candidate_pairs(with_count=True)``; two blocking-key families
      (token prefix-4 and prefix-3) so n_shared genuinely varies.
    """
    from entity_linking_spark.operators.scoring import doc_payload, pair_features

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(F.col("doc_id").alias("id"), "text").where(
        F.size(X.words(F.col("text"))) >= 4
    )
    blocks = pages.select(
        "id", norm_text_prefix_key(F.col("text"), 4).alias("block_key")
    ).unionByName(
        pages.select("id", norm_text_prefix_key(F.col("text"), 3).alias("block_key"))
    )
    pairs = candidate_pairs(blocks, with_count=True)
    vocab = pages.select(F.explode(X.words(F.col("text"))).alias("token")).distinct()
    comps = [
        (
            (
                (F.ascii("token") * (i + 1) + F.length("token") * 7 + i * 13)
                % 97
            )
            / 97.0
            - 0.5
        ).cast("float")
        for i in range(4)
    ]
    emb = vocab.select("token", F.array(*comps).alias("embedding"))
    payload = doc_payload(
        pages,
        id_col="id",
        text_col="text",
        embeddings=emb,
        emb_dim=4,
        emb_skip_stopwords=False,
    )
    feats = pair_features(pairs, payload)
    return feats.select(
        "id_a",
        "id_b",
        F.round("str_sim", 6).alias("lev_sim"),
        F.round("jw_sim", 6).alias("jw_sim"),
        F.round("emb_dot", 3).alias("emb_dot"),
        F.round("emb_cos", 5).alias("emb_cos"),
        F.round("prior", 6).alias("prior"),
        "times_mentioned",
    )


@register(
    "top1_per_block",
    f"""
    WITH b AS (
      SELECT doc_id, {_SQL_PFX} AS block_key, n_chars FROM documents
      WHERE len({_SQL_TOKENS}) >= 4
    ), r AS (
      SELECT doc_id, block_key,
             row_number() OVER (PARTITION BY block_key
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM b
    )
    SELECT doc_id, block_key FROM r WHERE rn = 1
    """,
)
def top1_per_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1 per group (argmax in block).

    Reference: torch.argmax per candidate block,
    /root/reference/src/inference.py:26,53,72.
    """
    b = _pfx_blocks(_t(spark, sf_dir, "documents"), "n_chars")
    w = Window.partitionBy("block_key").orderBy(F.desc("n_chars"), F.col("doc_id"))
    return (
        b.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "block_key")
    )


@register(
    "window_lognorm",
    """
    WITH s AS (
      SELECT event_id, event_type, value,
             min(value) OVER (PARTITION BY event_type) AS mn,
             max(value) OVER (PARTITION BY event_type) AS mx
      FROM events
    ), z AS (
      SELECT event_id, event_type,
             CASE WHEN mx = mn THEN 0.5 ELSE (value - mn) / (mx - mn) END AS scaled
      FROM s
    )
    SELECT event_id, event_type,
           round(scaled - ln(sum(exp(scaled)) OVER (PARTITION BY event_type)), 6)
             AS log_sm
    FROM z
    """,
)
def window_lognorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group min-max scale + log-softmax — the reference's emission
    normalization (emissions_from_flat_scores,
    /root/reference/src/max_product.py:8-21) as pure window algebra."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    s = ev.select(
        "event_id",
        "event_type",
        "value",
        F.min("value").over(w).alias("mn"),
        F.max("value").over(w).alias("mx"),
    )
    z = s.select(
        "event_id",
        "event_type",
        F.when(F.col("mx") == F.col("mn"), 0.5)
        .otherwise((F.col("value") - F.col("mn")) / (F.col("mx") - F.col("mn")))
        .alias("scaled"),
    )
    return z.select(
        "event_id",
        "event_type",
        F.round(
            F.col("scaled") - F.log(F.sum(F.exp("scaled")).over(w)), 6
        ).alias("log_sm"),
    )


# ===========================================================================
# Generic relational operators (SURVEY §2.2-2.7)
# ===========================================================================

@register(
    "entity_freq",
    """
    SELECT o_orderstatus AS status, count(*) AS cnt,
           sha256(o_orderstatus || '|' || count(*)::varchar) AS run_id
    FROM orders GROUP BY o_orderstatus ORDER BY cnt DESC, status
    """,
)
def entity_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-count ordered desc (reference A1: entity frequency,
    /root/reference/src/runner.py:84-88) PLUS F19 content-addressed
    lineage ids — sha256 over the group's identity+count (reference model
    naming, /root/reference/src/experiment.py:56-61). Two §2 rows in one
    compound query; registry compacted per round-2 verdict item 1."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(F.count("*").alias("cnt"))
        .select(
            "status",
            "cnt",
            F.sha2(
                F.concat(
                    F.col("status"), F.lit("|"), F.col("cnt").cast("string")
                ).cast("binary"),
                256,
            ).alias("run_id"),
        )
        .orderBy(F.desc("cnt"), "status")
    )


@register(
    "count_distinct_entities",
    "SELECT count(DISTINCT o_custkey) AS n_custs FROM orders",
)
def count_distinct_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-distinct (reference A2, /root/reference/src/data_fetchers.py:165-172)."""
    return _t(spark, sf_dir, "orders").agg(
        F.countDistinct("o_custkey").alias("n_custs")
    )


@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
           round(avg(l_quantity), 6) AS avg_qty,
           count(*) AS cnt
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped aggregation (reference A4/A10 aggregate family)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count("*").alias("cnt"),
        )
    )


@register(
    "semi_join_pages",
    """
    SELECT o.o_orderkey, o.o_totalprice
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
    """,
)
def semi_join_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join — the reference's WHERE id IN (...) scan shape
    (S2/S4/J4, /root/reference/src/mention_context_dataset.py:234-239)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 45)
    return orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi").select(
        "o_orderkey", "o_totalprice"
    )


@register(
    "join_agg_revenue",
    """
    SELECT o.o_orderpriority, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
             AS revenue, count(*) AS n_items
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY o.o_orderpriority
    """,
)
def join_agg_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi join + aggregation (reference J1 mentions⋈entities,
    /root/reference/src/mention_context_batch_sampler.py:42-45)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "prior_normalized",
    """
    WITH cnts AS (
      SELECT c_mktsegment AS segment, c_nationkey AS nation, count(*) AS cnt
      FROM customer GROUP BY c_mktsegment, c_nationkey
    )
    SELECT segment, nation, cnt,
           round(cnt / sum(cnt) OVER (PARTITION BY segment), 6) AS p_prior,
           row_number() OVER (PARTITION BY segment
                              ORDER BY cnt DESC, nation) AS prior_rank
    FROM cnts
    """,
)
def prior_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate prior with BOTH window normalization and argmax rank —
    covers two §2 rows in one compound query (registry compacted per
    round-2 verdict item 1):

    - A5/A6 window-normalized prior p(e|m) (reference
      /root/reference/src/data_fetchers.py:183-207),
    - W3 prior argmax — ``prior_rank = 1`` is the reference's most-common
      candidate per key used to build page entity context
      (/root/reference/src/mention_context_dataset.py:241-263).
    """
    c = _t(spark, sf_dir, "customer")
    cnts = (
        c.groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("c_nationkey").alias("nation"),
        ).agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("segment")
    wr = Window.partitionBy("segment").orderBy(F.desc("cnt"), "nation")
    return cnts.select(
        "segment",
        "nation",
        "cnt",
        F.round(F.col("cnt") / F.sum("cnt").over(w), 6).alias("p_prior"),
        F.row_number().over(wr).alias("prior_rank"),
    )


@register(
    "topk_per_group",
    """
    WITH r AS (
      SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (PARTITION BY l_suppkey
                                ORDER BY l_extendedprice DESC,
                                         l_orderkey, l_linenumber) AS rn
      FROM lineitem
    )
    SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice
    FROM r WHERE rn <= 5
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (reference W2: heapq.nlargest(5),
    /root/reference/src/cv_compat.py:100-112)."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        F.desc("l_extendedprice"), "l_orderkey", "l_linenumber"
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice")
    )


# ===========================================================================
# Dedup suite (training-data pipeline ops; SURVEY §2 extension per brief)
# ===========================================================================

@register(
    "dedup_exact",
    """
    SELECT md5(text) AS dup_key, min(doc_id) AS keeper, count(*) AS n_dups
    FROM documents GROUP BY md5(text) HAVING count(*) > 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy: keep min id per identical text.

    Reference analog: set()-dedup of candidate ids/pages
    (/root/reference/src/create_compats.py:147,166-171); at corpus scale
    this is the md5-key groupBy — one shuffle, map-side partial agg.
    """
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text").cast("binary")).alias("dup_key"))
        .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("n_dups"))
        .where(F.col("n_dups") > 1)
    )


@register(
    "fingerprint_docs",
    f"""
    SELECT doc_id, {X.sql_fingerprint(_SQL_TOKENS)} AS fp FROM documents
    """,
)
def fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint (dedup key that,
    unlike md5(text), survives whitespace/case noise)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", X.fingerprint(X.words(F.col("text"))).alias("fp")
    )


def _sql_minhash_cte(num_hashes: int) -> str:
    mins = ",\n           ".join(
        f"min({sql_seeded_hash64('shingle', i)}) AS h{i}" for i in range(num_hashes)
    )
    return f"""
    sh AS (
      SELECT doc_id, unnest({X.sql_word_shingles(_SQL_TOKENS, 3)}) AS shingle
      FROM documents
    ),
    sig AS (
      SELECT doc_id,
           {mins}
      FROM sh GROUP BY doc_id
    )"""


def _sql_band_keys(num_hashes: int, bands: int) -> str:
    rows = num_hashes // bands
    selects = []
    for b in range(bands):
        cols = " || '_' || ".join(
            f"h{b * rows + i}::varchar" for i in range(rows)
        )
        selects.append(
            f"SELECT doc_id, 'b{b}:' || {sql_md5hash64(cols)}::varchar AS band_key FROM sig"
        )
    return " UNION ALL ".join(selects)


@register(
    "neardup_minhash",
    f"""
    WITH {_sql_minhash_cte(16)},
    bands AS ({_sql_band_keys(16, 4)}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    ), sets AS (
      SELECT doc_id, list_distinct({X.sql_word_shingles(_SQL_TOKENS, 3)}) AS shset
      FROM documents
    )
    SELECT c.id_a, c.id_b,
           round(len(list_intersect(sa.shset, sb.shset))::double
                 / (len(sa.shset) + len(sb.shset)
                    - len(list_intersect(sa.shset, sb.shset))), 6)
             AS jaccard_sim
    FROM cand c
    JOIN sets sa ON sa.doc_id = c.id_a
    JOIN sets sb ON sb.doc_id = c.id_b
    """,
)
def neardup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates VERIFIED with exact shingle Jaccard —
    the full two-stage near-dup operator in one compound query (covers the
    former separate `neardup_minhash` + `neardup_jaccard` rows; registry
    compacted per round-2 verdict item 1):

    - candidate generation: 16 hashes, 4 bands × 4 rows → catches Jaccard
      ≳ 0.7 pairs w.h.p. (MMDS ch.3 banding); pairs form only inside band
      buckets — never all-pairs;
    - verify: exact 3-token-shingle Jaccard computed only on the bucketed
      candidates (block-local quadratic work).
    """
    docs = _t(spark, sf_dir, "documents")
    sigs = blocking.minhash_signature(
        docs, "doc_id", "text", num_hashes=16, shingle_k=3, hash_family="md5"
    )
    bands = sigs.where(F.col("minhash_sig")[0].isNotNull()).select(
        "doc_id",
        F.explode(
            blocking.lsh_band_keys(F.col("minhash_sig"), 16, 4, hash_family="md5")
        ).alias("band_key"),
    )
    cand = candidate_pairs(bands, id_col="doc_id", key_col="band_key")
    sets = docs.select(
        "doc_id",
        F.array_distinct(X.word_shingles(X.words(F.col("text")), 3)).alias(
            "shset"
        ),
    )
    p = attach_pair_payload(cand, sets, "doc_id", ["shset"])
    sa, sb = F.col("shset_a"), F.col("shset_b")
    inter = F.size(F.array_intersect(sa, sb))
    union = F.size(sa) + F.size(sb) - inter
    return p.select(
        "id_a",
        "id_b",
        F.round(inter.cast("double") / union, 6).alias("jaccard_sim"),
    )


_SIMHASH_BITS = 16


def _sql_simhash() -> str:
    sums = ",\n             ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(_SIMHASH_BITS)
    )
    val = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(_SIMHASH_BITS)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS token FROM documents
    ), h AS (
      SELECT doc_id, {sql_md5hash64('token')} AS h FROM tok
    ), bits AS (
      SELECT doc_id,
             {sums}
      FROM h GROUP BY doc_id
    )
    SELECT doc_id, {val} AS simhash FROM bits
    """


@register("simhash_docs", _sql_simhash())
def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (16-bit, Charikar 2002) per document: sign-sum of per-token
    hash bits — near-dup docs land within small Hamming distance."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(X.words(F.col("text"))).alias("token"))
    h = tok.select("doc_id", md5hash64(F.col("token")).alias("h"))
    sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(_SIMHASH_BITS)
    ]
    bits = h.groupBy("doc_id").agg(*sums)
    val = None
    for j in range(_SIMHASH_BITS):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        val = term if val is None else val + term
    return bits.select("doc_id", val.alias("simhash"))


# ===========================================================================
# Similarity search over embeddings (ANN baseline + blocked variant)
# ===========================================================================

_SQL_DOT = (
    "list_reduce(list_prepend(0.0::double, "
    "list_transform(list_zip({a}, {b}), z -> z[1] * z[2])), "
    "(acc, v) -> acc + v)"
)
_SQL_NORM = (
    "sqrt(list_reduce(list_prepend(0.0::double, "
    "list_transform({a}, v -> v * v)), (acc, v) -> acc + v))"
)


def _sql_cosine(a: str, b: str) -> str:
    dot = _SQL_DOT.format(a=a, b=b)
    na = _SQL_NORM.format(a=a)
    nb = _SQL_NORM.format(a=b)
    return f"({dot} / ({na} * {nb}))"


@register(
    "ann_topk_cosine",
    f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings
      WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings
    ), s AS (
      SELECT qid, cid, round({_sql_cosine('qv', 'cv')}, 6) AS cos_sim
      FROM q, c WHERE qid <> cid
    ), r AS (
      SELECT qid, cid, cos_sim,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos_sim DESC, cid) AS rnk
      FROM s
    )
    SELECT qid, cid, cos_sim, rnk FROM r WHERE rnk <= 5
    """,
)
def ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: the ANN correctness baseline. JVM-side
    zip_with/aggregate arithmetic (no Python); at 10^9-vector scale the
    same plan runs per-IVF-cell after `ann_bucketed` partitions."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    s = (
        q.crossJoin(c)
        .where(F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "cid",
            F.round(cosine_arrays(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), "cid")
    return (
        s.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("qid", "cid", "cos_sim", "rnk")
    )


@register(
    "ann_ivf",
    f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             {sql_seeded_hash64('vec_id', 3)} AS h
      FROM embeddings
    ), cent AS (
      SELECT vec_id AS cent_id, v AS cv FROM e ORDER BY h, vec_id LIMIT 8
    ), a AS (
      SELECT e.vec_id, e.v, cent.cent_id,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY round({_sql_cosine('e.v', 'cent.cv')}, 6) DESC,
                        cent.cent_id) AS rn
      FROM e CROSS JOIN cent
    ), cells AS (
      SELECT vec_id, v, cent_id AS cell FROM a WHERE rn = 1
    ), s AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid, q.cell,
             round({_sql_cosine('q.v', 'c.v')}, 6) AS cos_sim
      FROM cells q JOIN cells c
        ON q.cell = c.cell AND q.vec_id < 10 AND q.vec_id <> c.vec_id
    ), r AS (
      SELECT qid, cid, cell, cos_sim,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos_sim DESC, cid) AS rnk
      FROM s
    )
    SELECT qid, cid, cell, cos_sim, rnk FROM r WHERE rnk <= 3
    """,
)
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: a deterministic coarse quantizer (8 seed centroids =
    the vectors with smallest seeded hash — the sampling step of IVF
    training, kept to one assignment pass so the oracle can reproduce it)
    assigns every vector to its nearest cell; search then runs only
    inside the query's cell. The scale path: the crossJoin is against 8
    broadcast centroids (O(N·K)), and the candidate join is cell-local —
    never all-pairs. Rounded cosine + centroid-id tie-break keep the
    assignment bit-identical across engines."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        seeded_hash64(F.col("vec_id"), 3).alias("h"),
    )
    cent = (
        e.orderBy("h", "vec_id")
        .limit(8)
        .select(F.col("vec_id").alias("cent_id"), F.col("v").alias("cv"))
    )
    wa = Window.partitionBy("vec_id").orderBy(
        F.desc(F.round(cosine_arrays(F.col("v"), F.col("cv")), 6)), "cent_id"
    )
    cells = (
        e.crossJoin(F.broadcast(cent))
        .withColumn("rn", F.row_number().over(wa))
        .where(F.col("rn") == 1)
        .select("vec_id", "v", F.col("cent_id").alias("cell"))
    )
    q = cells.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), "cell"
    )
    c = cells.select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv2"), "cell"
    )
    s = (
        q.join(c, "cell")
        .where(F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "cid",
            "cell",
            F.round(cosine_arrays(F.col("qv"), F.col("cv2")), 6).alias("cos_sim"),
        )
    )
    wr = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), "cid")
    return (
        s.withColumn("rnk", F.row_number().over(wr))
        .where(F.col("rnk") <= 3)
        .select("qid", "cid", "cell", "cos_sim", "rnk")
    )


@register(
    "ann_bucketed_lsh",
    f"""
    WITH b AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v,
             (CASE WHEN embedding[1] > 0 THEN 8 ELSE 0 END
              + CASE WHEN embedding[2] > 0 THEN 4 ELSE 0 END
              + CASE WHEN embedding[3] > 0 THEN 2 ELSE 0 END
              + CASE WHEN embedding[4] > 0 THEN 1 ELSE 0 END) AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, c.vec_id AS id_b, a.bucket,
           round({_sql_cosine('a.v', 'c.v')}, 6) AS cos_sim
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE round({_sql_cosine('a.v', 'c.v')}, 6) >= 0.2
    """,
)
def ann_bucketed_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed similarity pairs: sign-bits of the first 4 dimensions
    as the hyperplane hash (16 buckets) — candidate pairs only form inside
    a bucket, the scale path replacing the brute-force cross join."""
    emb = _t(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    bucket = (
        F.when(e[0] > 0, 8).otherwise(0)
        + F.when(e[1] > 0, 4).otherwise(0)
        + F.when(e[2] > 0, 2).otherwise(0)
        + F.when(e[3] > 0, 1).otherwise(0)
    )
    b = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        bucket.alias("bucket"),
    )
    pairs = candidate_pairs(b, id_col="vec_id", key_col="bucket", keep_key=True)
    cos = F.round(cosine_arrays(F.col("v_a"), F.col("v_b")), 6)
    return (
        attach_pair_payload(pairs, b, "vec_id", ["v"])
        .select("id_a", "id_b", "bucket", cos.alias("cos_sim"))
        .where(F.col("cos_sim") >= 0.2)
    )


@register(
    "embedding_neardup_salted",
    f"""
    WITH b AS (
      SELECT vec_id, label::varchar AS key, embedding::DOUBLE[] AS v
      FROM embeddings
    ), sized AS (
      SELECT vec_id, v, key, count(*) OVER (PARTITION BY key) AS bsize
      FROM b
    ), salted AS (
      SELECT vec_id, v,
             CASE WHEN bsize > 6
                  THEN key || '#' ||
                       ({sql_seeded_hash64('vec_id', 7)} % 4)::varchar
                  ELSE key END AS key
      FROM sized
    )
    SELECT a.vec_id AS id_a, c.vec_id AS id_b, a.key,
           round({_sql_cosine('a.v', 'c.v')}, 6) AS cos_sim
    FROM salted a JOIN salted c ON a.key = c.key AND a.vec_id < c.vec_id
    WHERE round({_sql_cosine('a.v', 'c.v')}, 6) >= 0.2
    """,
)
def embedding_neardup_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs blocked by label WITH mega-block
    salting (VERDICT r1 item 8): a hot label is split into 4 deterministic
    sub-blocks before the pair self-join, so one skewed key cannot go
    quadratic. Same ``salt_mega_blocks`` semantics as the flagship
    pipeline, md5 hash family so DuckDB reproduces the salt assignment
    bit-for-bit. This row subsumes the former unsalted `embedding_neardup`
    query (identical operator, minus skew handling) — registry compacted
    per round-2 verdict item 1."""
    emb = _t(spark, sf_dir, "embeddings")
    blocks = emb.select(
        F.col("vec_id").alias("id"), F.col("label").cast("string").alias("block_key")
    )
    salted = blocking.salt_mega_blocks(
        blocks, max_block=6, n_salts=4, hash_family="md5"
    )
    pairs = candidate_pairs(salted, keep_key=True)
    v = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("v")
    )
    cos = F.round(cosine_arrays(F.col("v_a"), F.col("v_b")), 6)
    return (
        attach_pair_payload(pairs, v, "id", ["v"])
        .select("id_a", "id_b", F.col("block_key").alias("key"), cos.alias("cos_sim"))
        .where(F.col("cos_sim") >= 0.2)
    )


# ===========================================================================
# Text-analysis suite (language-ID, quality, token stats — SURVEY §2.8)
# ===========================================================================

_LANG_WORDLISTS = {
    "en": ["the", "and", "of", "a", "to", "fast", "key"],
    "de": ["der", "die", "und", "das", "ein", "mit", "row"],
    "fr": ["le", "la", "et", "les", "des", "un", "stream"],
    "es": ["el", "la", "de", "los", "y", "un", "batch"],
}


def _sql_lang_id() -> str:
    toks = f"list_distinct({_SQL_TOKENS})"
    hits = {
        lang: f"len(list_intersect({toks}, {words!r}))".replace("'", "'")
        for lang, words in _LANG_WORDLISTS.items()
    }
    hit_cols = ", ".join(
        f"len(list_intersect({toks}, "
        f"[{', '.join(repr(w) for w in ws)}])) AS hits_{lang}"
        for lang, ws in _LANG_WORDLISTS.items()
    )
    order = list(_LANG_WORDLISTS)
    cases = []
    for i, lang in enumerate(order):
        others = [f"hits_{o}" for o in order[i + 1:]]
        cond = " AND ".join(f"hits_{lang} >= {o}" for o in others) or "TRUE"
        cases.append(f"WHEN {cond} THEN '{lang}'")
    case_expr = "CASE " + " ".join(cases) + " ELSE 'und' END"
    return f"""
    WITH h AS (SELECT doc_id, {hit_cols} FROM documents)
    SELECT doc_id, {case_expr} AS pred_lang,
           greatest(hits_en, hits_de, hits_fr, hits_es) AS best_hits
    FROM h
    """


@register("lang_id_heuristic", _sql_lang_id())
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wordlist-hit language ID (n-gram heuristic family) — deterministic
    argmax with fixed tie-break order, all JVM-side array algebra."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.array_distinct(X.words(F.col("text")))
    h = docs.select(
        "doc_id",
        *[
            F.size(
                F.array_intersect(toks, F.array(*[F.lit(w) for w in ws]))
            ).alias(f"hits_{lang}")
            for lang, ws in _LANG_WORDLISTS.items()
        ],
    )
    order = list(_LANG_WORDLISTS)
    pred = None
    for i, lang in enumerate(order):
        cond = None
        for o in order[i + 1:]:
            c = F.col(f"hits_{lang}") >= F.col(f"hits_{o}")
            cond = c if cond is None else (cond & c)
        branch = F.lit(lang)
        if pred is None:
            pred = F.when(cond if cond is not None else F.lit(True), branch)
        else:
            pred = pred.when(cond if cond is not None else F.lit(True), branch)
    pred = pred.otherwise(F.lit("und"))
    return h.select(
        "doc_id",
        pred.alias("pred_lang"),
        F.greatest(
            *[F.col(f"hits_{lang}") for lang in order]
        ).alias("best_hits"),
    )


@register(
    "quality_score",
    f"""
    WITH m AS (
      SELECT doc_id,
             len({_SQL_TOKENS}) AS n_tok,
             length(text) AS n_chars,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
             length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS n_punct
      FROM documents
    )
    SELECT doc_id, n_tok, n_chars,
           round(n_digit::double / greatest(n_chars, 1), 6) AS digit_ratio,
           round(n_punct::double / greatest(n_chars, 1), 6) AS punct_ratio,
           round(least(n_tok::double / 20.0, 1.0)
                 * (1.0 - n_digit::double / greatest(n_chars, 1))
                 * (1.0 - n_punct::double / greatest(n_chars, 1)), 6)
             AS quality
    FROM m
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring from length / digit / punctuation ratios —
    the web-text quality-filter operator (all codegen'd expressions)."""
    docs = _t(spark, sf_dir, "documents")
    m = docs.select(
        "doc_id",
        F.size(X.words(F.col("text"))).alias("n_tok"),
        F.length("text").alias("n_chars"),
        F.length(F.regexp_replace("text", "[^0-9]", "")).alias("n_digit"),
        F.length(
            F.regexp_replace(F.lower(F.col("text")), "[a-z0-9 ]", "")
        ).alias("n_punct"),
    )
    nc = F.greatest(F.col("n_chars"), F.lit(1))
    dr = F.col("n_digit").cast("double") / nc
    pr = F.col("n_punct").cast("double") / nc
    return m.select(
        "doc_id",
        "n_tok",
        "n_chars",
        F.round(dr, 6).alias("digit_ratio"),
        F.round(pr, 6).alias("punct_ratio"),
        F.round(
            F.least(F.col("n_tok").cast("double") / 20.0, F.lit(1.0))
            * (1.0 - dr)
            * (1.0 - pr),
            6,
        ).alias("quality"),
    )


@register(
    "token_stats",
    r"""
    SELECT doc_id,
           len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''))
             AS ws_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
             AS bpe_tokens,
           n_chars
    FROM documents
    """,
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex segmentation
    (letters / digit runs / single punctuation) — the token-budget
    estimator for training-data pipelines."""
    docs = _t(spark, sf_dir, "documents")
    ws = F.size(
        F.filter(
            F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != F.lit("")
        )
    )
    bpe = F.size(
        F.regexp_extract_all(
            F.lower(F.col("text")), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0)
        )
    )
    return docs.select(
        "doc_id", ws.alias("ws_tokens"), bpe.alias("bpe_tokens"), "n_chars"
    )


# ===========================================================================
# Event-stream batch analytics (events table)
# ===========================================================================

@register(
    "sessionize",
    """
    WITH g AS (
      SELECT user_id, event_id, ts,
             CASE WHEN epoch_us(ts)
                       - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id)
                       > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    )
    SELECT user_id, count(*) AS n_events,
           sum(new_sess)::bigint AS n_sessions
    FROM g GROUP BY user_id
    """,
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag + gap threshold (30 min) — the batch analog
    of session_window; one window + one aggregation."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "user_id",
        "event_id",
        F.when(
            (
                F.unix_micros(F.col("ts").cast("timestamp")) - F.lag(F.unix_micros(F.col("ts").cast("timestamp"))).over(w)
                > 1_800_000_000
            )
            | F.lag("ts").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    return g.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.sum("new_sess").alias("n_sessions")
    )


@register(
    "tumbling_hourly",
    """
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           count(*) AS n, round(sum(value), 2) AS total_value
    FROM events GROUP BY date_trunc('hour', ts), event_type
    """,
)
def tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (batch form of the streaming windowed
    agg; same groupBy plan Structured Streaming would produce)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"), "event_type"
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


# ===========================================================================
# Grouping sets / set ops / projection-filter families (SURVEY §2.2, §2.7)
# ===========================================================================

@register(
    "rollup_pricing",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup aggregation (SURVEY A11 — absent in the reference, free in
    Spark/Catalyst)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("cnt"),
    )


@register(
    "set_ops_candidates",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    UNION
    SELECT c_custkey FROM customer WHERE c_acctbal > 9000
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_nationkey = 3
    """,
)
def set_ops_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union/except candidate-set algebra (reference SO1/SO2/SO4,
    /root/reference/src/data_fetchers.py:96-97,
    src/mention_context_batch_sampler.py:53-77)."""
    c = _t(spark, sf_dir, "customer")
    auto = c.where(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    rich = c.where(F.col("c_acctbal") > 9000).select("c_custkey")
    nat3 = c.where(F.col("c_nationkey") == 3).select("c_custkey")
    return auto.union(rich).distinct().exceptAll(nat3.distinct())


@register(
    "clean_entity_text",
    r"""
    SELECT p_partkey,
           regexp_replace(p_name || ' (' || p_brand || ')', '\s*\(.*\)$', '')
             AS clean_name
    FROM part
    """,
)
def clean_entity_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strip trailing parenthetical — the reference's entity-text cleanup
    (/root/reference/src/simple_dataset.py:27-28) as regexp_replace."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_replace(
            F.concat(F.col("p_name"), F.lit(" ("), F.col("p_brand"), F.lit(")")),
            r"\s*\(.*\)$",
            "",
        ).alias("clean_name"),
    )


@register(
    "filter_truncate",
    """
    SELECT doc_id, substr(text, 1, 50) AS head, lang,
           CASE WHEN n_chars > 20
                THEN substr(text, 1, 10) || ' MENTION_START_HERE '
                     || substr(text, 11, 10) || ' MENTION_END_HERE '
                     || substr(text, 21)
           END AS flagged
    FROM documents
    WHERE length(trim(text)) > 5 AND lang IN ('en', 'de')
    """,
)
def filter_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound documents projection covering THREE §2 rows (registry
    compacted per round-2 verdict item 1):

    - P3 non-empty-content predicate + P4 truncation projection (reference
      /root/reference/src/mention_context_dataset.py:266-282),
    - F10 mention-flag insertion around a span
      (``MENTION_START_HERE``/``END`` markers,
      /root/reference/src/data_transformers.py:130-141) as pure substring
      concatenation (span = chars 11-20 for the demo; null when the doc is
      too short for the span).
    """
    docs = _t(spark, sf_dir, "documents")
    flagged = F.when(
        F.col("n_chars") > 20,
        F.concat(
            F.substring("text", 1, 10),
            F.lit(" MENTION_START_HERE "),
            F.substring("text", 11, 10),
            F.lit(" MENTION_END_HERE "),
            F.expr("substring(text, 21)"),
        ),
    )
    return (
        docs.where(
            (F.length(F.trim(F.col("text"))) > 5) & F.col("lang").isin("en", "de")
        )
        .select(
            "doc_id",
            F.substring("text", 1, 50).alias("head"),
            "lang",
            flagged.alias("flagged"),
        )
    )


# ===========================================================================
# Connected components with a recursive-CTE oracle (SURVEY §3.3)
# ===========================================================================

@register(
    "cc_components",
    f"""
    WITH RECURSIVE t AS (
      SELECT doc_id AS id, {_SQL_TOKENS} AS tokens, md5(text) AS tkey
      FROM documents
    ), b AS (
      SELECT id, array_to_string(list_slice(tokens, 1, 4), ' ') AS bkey
      FROM t WHERE len(tokens) >= 4
    ), e1 AS (
      SELECT a.id AS src, c.id AS dst FROM b a
      JOIN b c ON a.bkey = c.bkey AND a.id < c.id
    ), e2 AS (
      SELECT a.id AS src, c.id AS dst FROM t a
      JOIN t c ON a.tkey = c.tkey AND a.id < c.id
    ), edges AS (
      SELECT src, dst FROM e1 UNION SELECT src, dst FROM e2
      UNION SELECT dst, src FROM e1 UNION SELECT dst, src FROM e2
    ),
    walk(node, lab) AS (
      SELECT id, id FROM t
      UNION
      SELECT e.dst, w.lab FROM walk w JOIN edges e ON w.node = e.src
    )
    SELECT node AS doc_id, min(lab) AS component
    FROM walk GROUP BY node
    """,
)
def cc_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure over blocking-derived edges, resolved with the
    large-star/small-star loop; oracle = DuckDB recursive CTE label
    propagation. Edges: shared 4-token prefix key ∪ identical text."""
    from entity_linking_spark.operators.cluster import connected_components

    docs = _t(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.md5(F.col("text").cast("binary")).alias("tkey"))
    e1 = candidate_pairs(_pfx_blocks(docs), id_col="doc_id")
    e2 = candidate_pairs(t, id_col="doc_id", key_col="tkey")
    comp = connected_components(e1.union(e2), src="id_a", dst="id_b")
    all_ids = t.select("doc_id")
    return (
        all_ids.join(comp, all_ids.doc_id == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("component"),
        )
    )


# ===========================================================================
# Candidate-prior fallback join (the reference's core blocking join J5),
# grouping sets, pivot, as-of — batch 4
# ===========================================================================

@register(
    "prior_fallback_lookup",
    f"""
    WITH m AS (
      SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
    ), keyed AS (
      SELECT doc_id,
             array_to_string(list_slice(toks, 1, 3), ' ') AS key3,
             toks[1] AS key1
      FROM m WHERE len(toks) >= 3
    ), prior AS (
      SELECT array_to_string(list_slice(toks, 1, 3), ' ') AS key3,
             min(toks[1]) AS key1,
             min(doc_id) AS entity_id, count(*) AS cnt
      FROM m WHERE len(toks) >= 3
      GROUP BY array_to_string(list_slice(toks, 1, 3), ' ')
    ), exact AS (
      SELECT k.doc_id, p.entity_id, p.cnt, 'exact' AS via
      FROM keyed k JOIN prior p ON k.key3 = p.key3
    ), misses AS (
      SELECT k.* FROM keyed k
      WHERE NOT EXISTS (SELECT 1 FROM prior p WHERE p.key3 = k.key3)
    ), fallback AS (
      SELECT k.doc_id, p.entity_id, p.cnt, 'fallback' AS via
      FROM misses k JOIN prior p ON k.key1 = p.key1
    )
    SELECT * FROM exact UNION ALL SELECT * FROM fallback
    """,
)
def prior_fallback_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's candidate-generation join: exact key first, then the
    normalized fallback key ONLY for misses (anti-join branch), preserving
    the lookup order that determines blocks
    (/root/reference/src/data_fetchers.py:91-126 — SURVEY hard-part #3)."""
    docs = _t(spark, sf_dir, "documents")
    keyed = docs.where(F.size(X.words(F.col("text"))) >= 3).select(
        "doc_id",
        norm_text_prefix_key(F.col("text"), 3).alias("key3"),
        X.words(F.col("text"))[0].alias("key1"),
    )
    prior = (
        keyed.groupBy("key3")
        .agg(
            F.min("key1").alias("key1"),
            F.min("doc_id").alias("entity_id"),
            F.count("*").alias("cnt"),
        )
    )
    exact = keyed.join(prior, "key3").select(
        "doc_id", "entity_id", "cnt", F.lit("exact").alias("via")
    )
    misses = keyed.join(prior.select("key3"), "key3", "left_anti")
    fallback = misses.join(
        prior.select("key1", "entity_id", "cnt"), "key1"
    ).select("doc_id", "entity_id", "cnt", F.lit("fallback").alias("via"))
    return exact.unionByName(fallback)


@register(
    "cube_order_stats",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS cnt, round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cube aggregation (SURVEY A11 family — free in Catalyst)."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "pivot_segment_nation",
    """
    SELECT c_nationkey,
           round(coalesce(sum(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN c_acctbal END), 0), 2) AS automobile,
           round(coalesce(sum(CASE WHEN c_mktsegment = 'BUILDING'   THEN c_acctbal END), 0), 2) AS building,
           round(coalesce(sum(CASE WHEN c_mktsegment = 'MACHINERY'  THEN c_acctbal END), 0), 2) AS machinery
    FROM customer GROUP BY c_nationkey
    """,
)
def pivot_segment_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide aggregation) — segment balances per nation."""
    c = _t(spark, sf_dir, "customer")
    out = (
        c.groupBy("c_nationkey")
        .pivot("c_mktsegment", ["AUTOMOBILE", "BUILDING", "MACHINERY"])
        .agg(F.sum("c_acctbal"))
    )
    return out.select(
        "c_nationkey",
        F.round(F.coalesce(F.col("AUTOMOBILE"), F.lit(0.0)), 2).alias("automobile"),
        F.round(F.coalesce(F.col("BUILDING"), F.lit(0.0)), 2).alias("building"),
        F.round(F.coalesce(F.col("MACHINERY"), F.lit(0.0)), 2).alias("machinery"),
    )


@register(
    "asof_last_error",
    """
    WITH marked AS (
      SELECT user_id, event_id, ts, event_type,
             max(CASE WHEN event_type = 'error' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_error_ts
      FROM events
    )
    SELECT event_id, user_id, last_error_ts
    FROM marked WHERE event_type = 'click'
    """,
)
def asof_last_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (most recent prior 'error' per user for each 'click')
    expressed as a running-max window — the shuffle-once form of the as-of
    pattern (SURVEY J8: Spark lacks a native as-of join; this composition
    replaces a range join entirely)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = ev.withColumn(
        "last_error_ts",
        F.max(F.when(F.col("event_type") == "error", F.col("ts"))).over(w),
    )
    return marked.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "last_error_ts"
    )


# ===========================================================================
# Bag-of-words / IDF / TF-IDF / pooling / label-remap families — batch 5
# (reference A4, A7, A8, A9, P7)
# ===========================================================================

_SQL_STOPWORDS = ", ".join(f"'{w}'" for w in X.STOPWORDS)


@register(
    "bow_token_counts",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS token FROM documents
    )
    SELECT doc_id, token, count(*) AS tf, 'raw' AS variant
    FROM tok GROUP BY doc_id, token
    UNION ALL
    SELECT doc_id, token, count(*) AS tf, 'stop' AS variant
    FROM tok WHERE token NOT IN ({_SQL_STOPWORDS})
    GROUP BY doc_id, token
    """,
)
def bow_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words build in BOTH variants, tagged — two §2 rows in one
    compound query (registry compacted per round-2 verdict item 1):

    - variant 'raw': per-doc token counts (reference A4: Counter(tokens),
      /root/reference/src/cached_bow.py:36-40) as the exploded long table
      — the scalable BoW representation;
    - variant 'stop': stopword-filtered BoW (reference F8: stopword
      removal before featurization,
      /root/reference/src/simple_dataset.py:95,140-143) — codegen array
      filter, duplicate tokens preserved.
    """
    docs = _t(spark, sf_dir, "documents")
    raw = (
        docs.select("doc_id", F.explode(X.words(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
        .withColumn("variant", F.lit("raw"))
    )
    kept = X.remove_stopwords(X.words(F.col("text")))
    stop = (
        docs.select("doc_id", F.explode(kept).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
        .withColumn("variant", F.lit("stop"))
    )
    return raw.unionByName(stop)


# Hand-derived Porter2 stems for the synthetic corpus's fixed 31-token
# vocabulary (identical across sf dirs; derivation per the published
# Snowball spec, independently re-verified in tests/test_stem.py). Tokens
# not listed stem to themselves under Porter2.
_STEM_CASE = (
    "CASE token WHEN 'customer' THEN 'custom' WHEN 'merge' THEN 'merg' "
    "WHEN 'query' THEN 'queri' WHEN 'table' THEN 'tabl' "
    "WHEN 'value' THEN 'valu' ELSE token END"
)

@register(
    "stemmed_bow",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS token FROM documents
    )
    SELECT doc_id, {_STEM_CASE} AS stem, count(*) AS tf
    FROM tok GROUP BY doc_id, stem
    """,
)
def stemmed_bow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stemmed bag-of-words (reference F7: SnowballStemmer over BoW tokens,
    /root/reference/src/simple_dataset.py:110-115). Spark side runs the
    real Porter2 implementation in an Arrow pandas UDF; the oracle maps
    via an embedded hand-derived stem table for the corpus vocabulary."""
    from entity_linking_spark.functions.stem import stem_tokens

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id", F.explode(stem_tokens(X.words(F.col("text")))).alias("stem")
        )
        .groupBy("doc_id", "stem")
        .agg(F.count("*").alias("tf"))
    )


@register(
    "bag_of_nouns",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS token FROM documents
    )
    SELECT doc_id, token AS noun, count(*) AS tf
    FROM tok WHERE {X.sql_is_noun("token")}
    GROUP BY doc_id, noun
    """,
)
def bag_of_nouns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: heuristic POS noun filter → per-doc bag of nouns (long table
    with multiplicity, the scalable form of the reference's list).

    Reference: ``get_bag_of_nouns`` — lowercase tokens whose nltk POS tag
    starts with 'N' (/root/reference/src/data_transformers.py:143-146),
    consumed by the wiki2vec context encoder (src/runner.py:403-443). No
    tagger model exists in the sandbox, so both engines run the identical
    deterministic closed-class + suffix rule (functions.text.is_noun /
    sql_is_noun) — the heuristic itself is value-checked by the oracle.
    Pure codegen: array filter + explode + one shuffle-keyed groupBy.
    """
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.explode(X.filter_nouns(X.words(F.col("text")))).alias("noun"),
        )
        .groupBy("doc_id", "noun")
        .agg(F.count("*").alias("tf"))
    )


@register(
    "idf_table",
    f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest({_SQL_TOKENS}) AS token FROM documents
    ), n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT token, count(*) AS df,
           round(ln((SELECT n_docs FROM n)::double / count(*)), 6) AS idf
    FROM tok GROUP BY token
    """,
)
def idf_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF build: log(N/df) from document frequencies (reference A7 —
    consumed from JSON, /root/reference/src/simple_dataset.py:62-63).
    The Spark side is ``scoring.tf_idf``, the build the pipeline's
    payload uses."""
    _, idf = tf_idf(_t(spark, sf_dir, "documents"), "doc_id")
    return idf.select("token", "df", F.round("idf", 6).alias("idf"))


@register(
    "tfidf_pair_dot",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS token FROM documents
    ), tf AS (
      SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    idf AS (
      SELECT token, ln((SELECT n_docs FROM n)::double / count(*)) AS idf
      FROM (SELECT DISTINCT doc_id, token FROM tf) GROUP BY token
    ), w AS (
      SELECT tf.doc_id, tf.token, tf.tf * idf.idf AS w
      FROM tf JOIN idf ON tf.token = idf.token
    ), b AS (
      SELECT doc_id, array_to_string(list_slice({_SQL_TOKENS}, 1, 4), ' ')
               AS block_key
      FROM documents WHERE len({_SQL_TOKENS}) >= 4
    ), pairs AS (
      SELECT a.doc_id AS id_a, c.doc_id AS id_b
      FROM b a JOIN b c ON a.block_key = c.block_key AND a.doc_id < c.doc_id
    )
    SELECT p.id_a, p.id_b, round(sum(wa.w * wb.w), 4) AS tfidf_dot
    FROM pairs p
    JOIN w wa ON wa.doc_id = p.id_a
    JOIN w wb ON wb.doc_id = p.id_b AND wb.token = wa.token
    GROUP BY p.id_a, p.id_b
    """,
)
def tfidf_pair_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF dot product per candidate pair via explode-join-agg — the
    shuffle formulation of reference A8 (``calc_tfidf``,
    /root/reference/src/simple_dataset.py:117-122): sparse dot as a
    long-table join, the form that scales when maps don't fit in a row.
    The weights come from ``scoring.tf_idf``, as the payload's do."""
    docs = _t(spark, sf_dir, "documents")
    tf, idf = tf_idf(docs, "doc_id")
    w = tf.join(F.broadcast(idf), "token").select(
        "id", "token", (F.col("tf") * F.col("idf")).alias("w")
    )
    pairs = candidate_pairs(_pfx_blocks(docs), id_col="doc_id")
    wa = w.select(F.col("id").alias("id_a"), "token", F.col("w").alias("wa"))
    wb = w.select(F.col("id").alias("id_b"), "token", F.col("w").alias("wb"))
    return (
        pairs.join(wa, "id_a")
        .join(wb, ["id_b", "token"])
        .groupBy("id_a", "id_b")
        .agg(F.round(F.sum(F.col("wa") * F.col("wb")), 4).alias("tfidf_dot"))
    )


@register(
    "embedding_label_centroid",
    """
    WITH e AS (
      SELECT label, unnest(embedding::DOUBLE[]) AS v,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    )
    SELECT label, pos, round(avg(v), 6) AS centroid_v
    FROM e GROUP BY label, pos
    """,
)
def embedding_label_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding pooling: per-label centroid via posexplode + avg —
    reference A9's sum/mean pooling (``_f_to_vec``,
    /root/reference/src/simple_dataset.py:133-144) in long form."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("p0", "v"),
    ).select("label", (F.col("p0") + 1).alias("pos"), "v")
    return e.groupBy("label", "pos").agg(
        F.round(F.avg("v"), 6).alias("centroid_v")
    )


@register(
    "label_remap_in_block",
    f"""
    WITH b AS (
      SELECT doc_id, {_SQL_PFX} AS block_key FROM documents
      WHERE len({_SQL_TOKENS}) >= 4
    ), lists AS (
      SELECT block_key, list_sort(list(doc_id)) AS members FROM b
      GROUP BY block_key
    )
    SELECT b.doc_id, b.block_key,
           list_position(l.members, b.doc_id) - 1 AS label_idx
    FROM b JOIN lists l ON b.block_key = l.block_key
    """,
)
def label_remap_in_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label → in-block position remap (reference P7:
    ``_get_labels_for_batch``, /root/reference/src/trainer.py:94-102 —
    label becomes its index in the candidate list, -1 when absent)."""
    b = _pfx_blocks(_t(spark, sf_dir, "documents"))
    lists = b.groupBy("block_key").agg(
        F.sort_array(F.collect_list("doc_id")).alias("members")
    )
    return b.join(lists, "block_key").select(
        "doc_id",
        "block_key",
        (F.array_position(F.col("members"), F.col("doc_id")) - 1).alias(
            "label_idx"
        ),
    )


@register(
    "has_label_filter",
    f"""
    WITH b AS (
      SELECT doc_id, {_SQL_PFX} AS block_key FROM documents
      WHERE len({_SQL_TOKENS}) >= 4
    ), lists AS (
      SELECT block_key, list(doc_id) AS members FROM b GROUP BY block_key
    ), lab AS (
      SELECT b.doc_id, b.block_key,
             CASE WHEN b.doc_id % 2 = 0 THEN b.doc_id
                  ELSE -b.doc_id END AS label,
             l.members
      FROM b JOIN lists l ON b.block_key = l.block_key
    )
    SELECT doc_id, block_key, label
    FROM lab WHERE list_contains(members, label)
    """,
)
def has_label_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 packaged has-label filter (round-2 verdict item 4): drop rows
    whose gold label is absent from the block's candidate list, with drop
    counters riding the same job via ``DataFrame.observe`` — the
    reference's printed drop counts
    (/root/reference/src/simple_dataset.py:97-107, src/conll_dataset.py:48)
    as plan-level metrics. The synthetic label (own id when even, else an
    id guaranteed absent) deterministically exercises both branches;
    tests/test_filters.py asserts the counter values.
    """
    from entity_linking_spark.operators.filters import filter_has_label

    b = _pfx_blocks(_t(spark, sf_dir, "documents"))
    lists = b.groupBy("block_key").agg(
        F.collect_list("doc_id").alias("members")
    )
    lab = b.join(lists, "block_key").select(
        "doc_id",
        "block_key",
        F.when(F.col("doc_id") % 2 == 0, F.col("doc_id"))
        .otherwise(-F.col("doc_id"))
        .alias("label"),
        "members",
    )
    return filter_has_label(lab, "members", "label").select(
        "doc_id", "block_key", "label"
    )


@register(
    "global_topn_limit",
    """
    SELECT doc_id, n_chars FROM documents
    ORDER BY n_chars DESC, doc_id LIMIT 20
    """,
)
def global_topn_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global order-by + LIMIT (reference O1/O3). Spark executes this as
    TakeOrderedAndProject — per-partition top-N then a single merge, no
    full sort/shuffle of the corpus; the tie-break on doc_id makes the
    result total-ordered hence deterministic."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", "n_chars").orderBy(
        F.col("n_chars").desc(), "doc_id"
    ).limit(20)


@register(
    "seed_split",
    f"""
    SELECT doc_id,
           CASE WHEN b < 8000 THEN 'train'
                WHEN b < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, {sql_seeded_hash64('doc_id', 0)} % 10000 AS b
          FROM documents)
    """,
)
def seed_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 hash split (reference S3: seed-flag row
    ranges, /root/reference/src/data_fetchers.py:55-66 — re-expressed as a
    stable hash-bucket projection, since row ranges impose a total order
    that doesn't distribute)."""
    from entity_linking_spark.operators.split import split_column

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        split_column(
            F.col("doc_id"), {"train": 0.8, "val": 0.1, "test": 0.1}
        ).alias("split"),
    )


@register(
    "dense_relabel",
    """
    WITH surv AS (
      SELECT label FROM embeddings GROUP BY label HAVING count(*) >= 3
    ), r AS (
      SELECT label,
             (dense_rank() OVER (ORDER BY label) - 1)::bigint AS new_label
      FROM surv
    )
    SELECT e.vec_id, e.label, r.new_label
    FROM embeddings e JOIN r ON e.label = r.label
    """,
)
def dense_relabel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense entity relabeling after a min-mentions filter (reference P1:
    surviving entities get contiguous new labels 0..K-1,
    /root/reference/src/runner.py:95-108). The window runs over the
    *distinct surviving labels* — a dimension-sized table, not the fact
    table — then broadcast-joins back, so the single-partition sort is
    over K labels, never the corpus."""
    emb = _t(spark, sf_dir, "embeddings")
    surv = (
        emb.groupBy("label").agg(F.count("*").alias("n")).where(F.col("n") >= 3)
    )
    w = Window.orderBy("label")
    relabel = surv.select(
        "label", (F.dense_rank().over(w) - 1).cast("long").alias("new_label")
    )
    return emb.join(F.broadcast(relabel), "label").select(
        "vec_id", "label", "new_label"
    )


# ===========================================================================
# Exclusion sampling, dictionary lookup — batch 6 (reference SO3, J3)
# ===========================================================================

@register(
    "exclusion_sample",
    f"""
    SELECT c_custkey, {sql_seeded_hash64('c_custkey', 99)} % 100 AS bucket
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c_custkey
                        AND o.o_totalprice > 300000)
      AND {sql_seeded_hash64('c_custkey', 99)} % 100 < 50
    """,
)
def exclusion_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling with exclusion: candidates NOT in
    the existing set (anti-join), thinned by a seeded hash — the
    reproducible form of the reference's random-negative padding
    (SO3, /root/reference/src/data_fetchers.py:80-89; rand() is reserved
    for training paths, the eval path stays deterministic)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    bucket = seeded_hash64(F.col("c_custkey"), 99) % 100
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", bucket.alias("bucket"))
        .where(bucket < 50)
    )


def _sql_collective_top1() -> str:
    """Depth-1 max-product collective refinement as pure SQL (round-2
    verdict item 7): emissions = min-max scale + log-softmax per mention;
    factors = pruned-candidate cosine matrices normalized to log space
    (uniform fallback when the matrix sums to 0); messages = per-leaf max
    of (leaf emission + log factor); winner = argmax of
    (root emission + mean message), ties to the better-ranked candidate —
    step-for-step the math of operators/collective.py::refine_document."""
    dot = _SQL_DOT.format(a="l.dv", b="r.dv")
    na = _SQL_NORM.format(a="l.dv")
    nb = _SQL_NORM.format(a="r.dv")
    cos = f"CASE WHEN {na} * {nb} = 0 THEN 0.0 ELSE {dot} / ({na} * {nb}) END"
    return f"""
    WITH cand AS (
      SELECT label::BIGINT AS doc_id,
             (vec_id % 3)::BIGINT AS mention_id,
             vec_id::BIGINT AS candidate_id,
             ((vec_id * 37) % 101) / 100.0 AS score,
             list_transform(embedding::DOUBLE[], x -> abs(x)) AS dv
      FROM embeddings WHERE vec_id < 24
    ), mm AS (
      SELECT *, min(score) OVER w AS mn, max(score) OVER w AS mx
      FROM cand WINDOW w AS (PARTITION BY doc_id, mention_id)
    ), z AS (
      SELECT doc_id, mention_id, candidate_id, dv, (mx = mn) AS degen,
             CASE WHEN mx = mn THEN 0.0
                  ELSE (score - mn) / (mx - mn) END AS z
      FROM mm
    ), zm AS (
      SELECT *, max(z) OVER (PARTITION BY doc_id, mention_id) AS zmax
      FROM z
    ), em AS (
      SELECT doc_id, mention_id, candidate_id, dv,
             CASE WHEN degen THEN 0.0
                  ELSE (z - zmax)
                       - ln(sum(exp(z - zmax))
                            OVER (PARTITION BY doc_id, mention_id)) END AS em
      FROM zm
    ), pruned AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id, mention_id
                                   ORDER BY em DESC, candidate_id) AS r
      FROM em QUALIFY r <= 3
    ), rawf AS (
      SELECT l.doc_id, l.mention_id AS lm, r.mention_id AS rm,
             r.candidate_id AS rc, r.r AS rr, l.em AS lem,
             {cos} AS raw
      FROM pruned l JOIN pruned r
        ON l.doc_id = r.doc_id AND l.mention_id <> r.mention_id
    ), fsum AS (
      SELECT doc_id, lm, rm, sum(raw) AS s, count(*) AS npairs
      FROM rawf GROUP BY doc_id, lm, rm
    ), msg AS (
      SELECT f.doc_id, f.lm, f.rm, f.rc,
             max(f.lem + CASE WHEN fs.s = 0 THEN ln(1.0 / fs.npairs)
                              WHEN f.raw = 0 THEN -1e18
                              ELSE ln(f.raw / fs.s) END) AS msg
      FROM rawf f
      JOIN fsum fs ON f.doc_id = fs.doc_id AND f.lm = fs.lm AND f.rm = fs.rm
      GROUP BY f.doc_id, f.lm, f.rm, f.rc
    ), agg AS (
      SELECT doc_id, rm, rc, sum(msg) AS msum, count(*) AS nleaf
      FROM msg GROUP BY doc_id, rm, rc
    ), scored AS (
      SELECT p.doc_id, p.mention_id, p.candidate_id, p.r,
             p.em + coalesce(a.msum / a.nleaf, 0.0) AS total
      FROM pruned p LEFT JOIN agg a
        ON a.doc_id = p.doc_id AND a.rm = p.mention_id
       AND a.rc = p.candidate_id
    )
    SELECT doc_id, mention_id, candidate_id AS winner_id
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY doc_id, mention_id
                               ORDER BY total DESC, r) = 1
    """


@register("collective_top1", _sql_collective_top1())
def collective_top1_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collective candidate refinement (SURVEY §2.10 — one-round
    max-product on a star factor graph, reference
    /root/reference/src/max_product.py:8-82 via src/cv_compat.py:88-120)
    with a full value-level oracle: the depth-1 message-passing argmax is
    re-derived in pure SQL over the same deterministic candidate table
    (24 embeddings → docs=labels, mentions=vec_id%3, scores seeded by
    vec_id, desc vectors = |embedding| so every factor is positive).
    Spark side runs the real applyInPandas grouped-map operator."""
    from entity_linking_spark.operators.collective import collective_top1

    emb = _t(spark, sf_dir, "embeddings")
    cand = emb.where(F.col("vec_id") < 24).select(
        F.col("label").cast("long").alias("doc_id"),
        (F.col("vec_id") % 3).cast("long").alias("mention_id"),
        F.col("vec_id").cast("long").alias("candidate_id"),
        ((F.col("vec_id") * 37) % 101 / 100.0).alias("score"),
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: F.abs(x)
        ).alias("desc_vec"),
    )
    return collective_top1(cand, top_k=3)


@register(
    "dict_lookup_coalesce",
    """
    SELECT l.l_orderkey, l.l_partkey,
           coalesce(p.p_retailprice, -1.0) AS price
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_linenumber = 1
    """,
)
def dict_lookup_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dictionary lookup with a default for misses — reference
    J3 (entity_by_page lookup with -1 fallback,
    /root/reference/src/conll_helpers.py:95-99)."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_linenumber") == 1)
    p = _t(spark, sf_dir, "part")
    return li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left").select(
        "l_orderkey",
        "l_partkey",
        F.coalesce("p_retailprice", F.lit(-1.0)).alias("price"),
    )


