"""Blocking / candidate generation.

The reference blocks mentions by exact string key with a normalized-key
fallback (``/root/reference/src/data_fetchers.py:91-149``,
``src/utils.py:72-77``). The target pipeline (BASELINE.json north_star)
generalizes the same join shape to web pages: block keys are

  1. normalized URL host (+ optional path prefix),
  2. MinHash-LSH band keys over shingled text,
  3. a normalized-text prefix key (the reference's unidecode+lower analog).

All keys land in one long-format DataFrame ``(id, block_key)`` so the pair
stage is a single self-equi-join per key — the classic ER blocking shape
(reference's block self-join: ``src/create_compats.py:148-172``).

Scale levers (north_rule): mega-block **salting** before the quadratic pair
join, and **block-size caps** (reference analog: top-5 candidate prune,
``src/cv_compat.py:100-112``). Both are implemented here as plain DataFrame
ops so AQE/Catalyst still owns physical planning.

MinHash is computed with *zero Python*: explode shingles → seeded md5 hash
per hash-function → groupBy(id).agg(min(h_i)...) — one shuffle keyed on id
with map-side partial mins, which is the textbook scalable MinHash
(Broder 1997) on Spark.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from entity_linking_spark.functions.text import fold_ascii, word_shingles, words
from entity_linking_spark.hashing import md5hash64, seeded_hash64


def norm_host_key(url: Column) -> Column:
    """Normalized host: lowercase, strip scheme + leading www. + port.

    A malformed URL (spaces, bad %-escapes, no scheme) gives ``""`` — no
    ``host:`` key — instead of failing the job: ``try_parse_url``, because
    ``parse_url`` raises ``INVALID_URL`` under ANSI mode.

    Reference analog: the normalized fallback key
    (``/root/reference/src/data_fetchers.py:119-126``).
    """
    host = F.try_parse_url(url, F.lit("HOST"))
    host = F.coalesce(host, F.lit(""))
    return F.regexp_replace(F.lower(host), r"^www\.", "")


def norm_text_prefix_key(text: Column, n_tokens: int = 4) -> Column:
    """First-n-normalized-tokens key — the unidecode(m).lower() analog."""
    return F.concat_ws(" ", F.slice(words(text), 1, n_tokens))


def minhash_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_k: int = 3,
    hash_family: str = "xxhash",
) -> DataFrame:
    """(id, sig array<long>) — MinHash signature per document.

    Single aggregation: explode shingles, compute the whole hash family as
    columns, take per-id mins. Map-side combine makes the shuffle carry only
    ``num_hashes`` longs per id regardless of document length.
    Docs with < shingle_k tokens get an all-null signature filtered out.

    ``hash_family``:
      - "xxhash" (default): ``xxhash64(lit(i), shingle)`` — allocation-free
        native hashing. md5 here cost ~1300 core-s on a 160k-page corpus
        (16 digests × ~10M shingles, each allocating concat + hex strings)
        and the resulting GC pressure destroyed multi-core scaling.
      - "md5": the cross-engine family from ``hashing.seeded_hash64`` —
        bit-reproducible in DuckDB, used by the oracle-checked registry
        queries.
    """
    tokens = words(F.col(text_col))
    sh = df.select(
        F.col(id_col).alias("_id"),
        F.explode_outer(word_shingles(tokens, shingle_k)).alias("_shingle"),
    )
    # Guard the null shingle explicitly: xxhash64 *skips* null arguments, so
    # xxhash64(lit(i), NULL) would collapse to the constant xxhash64(lit(i))
    # and every short doc (< shingle_k tokens) would share one signature —
    # a corpus-wide mega-block per band. The when() keeps the documented
    # all-null-signature contract for both hash families.
    if hash_family == "xxhash":
        hashes = [
            F.when(
                F.col("_shingle").isNotNull(),
                F.xxhash64(F.lit(i), F.col("_shingle")),
            )
            for i in range(num_hashes)
        ]
    else:
        hashes = [
            seeded_hash64(F.col("_shingle"), i) for i in range(num_hashes)
        ]
    mins = [F.min(h_i).alias(f"h{i}") for i, h_i in enumerate(hashes)]
    agg = sh.groupBy("_id").agg(*mins)
    return agg.select(
        F.col("_id").alias(id_col),
        F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("minhash_sig"),
    )


def lsh_band_keys(
    sig: Column, num_hashes: int, bands: int, hash_family: str = "xxhash"
) -> Column:
    """array<string> of LSH band keys from a signature array.

    Band key = 'b{band}:' + hash of the band's signature slice. Two docs
    share a band key iff their signatures agree on the whole band — the
    standard banding construction (Leskovec/Rajaraman/Ullman, MMDS ch.3).
    "xxhash" hashes the slice tuple natively (no string garbage); "md5" is
    the DuckDB-reproducible family for the oracle queries.
    """
    rows = num_hashes // bands
    keys = []
    for b in range(bands):
        if hash_family == "xxhash":
            h = F.xxhash64(F.lit(b), *[sig[b * rows + i] for i in range(rows)])
        else:
            part = F.concat_ws(
                "_", *[sig[b * rows + i].cast("string") for i in range(rows)]
            )
            h = md5hash64(part)
        keys.append(F.concat(F.lit(f"b{b}:"), h.cast("string")))
    return F.array(*keys)


def block_keys(
    pages: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    url_col: str | None = "url",
    use_minhash: bool = True,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
    prefix_tokens: int = 4,
    hash_keys: bool = False,
) -> DataFrame:
    """Long-format blocking table ``(id, block_key)``.

    PRECONDITION: ids in ``pages`` are unique. Rows are then unique by
    construction (≤1 key per id per scheme/band — see the no-dedup note
    below); duplicate input ids would emit duplicate (id, block_key) rows
    that inflate downstream cap/salt block sizes (pair correctness is
    unaffected — candidate_pairs dedups — but capping recall degrades).

    Key namespaces are prefixed (``host:``, ``pfx:``, ``b{i}:``) so keys
    from different schemes never collide.

    ``hash_keys=True`` folds every key to ``xxhash64(block_key)`` (bigint)
    after dedup. Collision-safe (a 2^-64 collision only *merges* two
    blocks — extra candidate pairs, recall-safe). Measured on a 320k-page
    corpus this was ~45% SLOWER than string keys end-to-end (see
    ``LinkageConfig.hash_block_keys``), so it is opt-in, not the default.
    """
    parts = []
    if url_col is not None:
        parts.append(
            pages.select(
                F.col(id_col).alias("id"),
                F.concat(F.lit("host:"), norm_host_key(F.col(url_col))).alias(
                    "block_key"
                ),
            ).where(F.col("block_key") != "host:")
        )
    parts.append(
        pages.select(
            F.col(id_col).alias("id"),
            F.concat(
                F.lit("pfx:"), norm_text_prefix_key(F.col(text_col), prefix_tokens)
            ).alias("block_key"),
        ).where(F.length("block_key") > F.lit(4))
    )
    if use_minhash:
        sigs = minhash_signature(pages, id_col, text_col, num_hashes, shingle_k)
        parts.append(
            sigs.where(F.col("minhash_sig")[0].isNotNull()).select(
                F.col(id_col).alias("id"),
                F.explode(
                    lsh_band_keys(F.col("minhash_sig"), num_hashes, bands)
                ).alias("block_key"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # NO dedup shuffle here (round-3 scaling fix): every scheme emits
    # (id, key) rows that are unique by construction — ≤1 host: and ≤1
    # pfx: key per id, and band keys carry distinct b{i}: prefixes with
    # one key per (id, band) — and the namespaces never collide, so a
    # dropDuplicates(["id","block_key"]) was a full extra shuffle of the
    # biggest table in the pipeline (keyed differently from the
    # block_key-partitioned salt/cap/join downstream) that removed zero
    # rows. Pair-level dedup in candidate_pairs covers any residual
    # duplication (including the recall-safe bigint fold collisions).
    if hash_keys:
        out = out.select("id", F.xxhash64("block_key").alias("block_key"))
    return out


def cap_block_size(
    blocks: DataFrame,
    max_block: int = 64,
    id_col: str = "id",
    key_col: str = "block_key",
) -> DataFrame:
    """Deterministically cap block size: keep the ``max_block`` members with
    smallest xxhash64(id) per key (seeded, stable — NOT rand(): the eval path
    must be deterministic, ref `/root/reference/src/data_fetchers.py:147-149`
    shuffles candidates only for training).

    Reference analog: candidate cap in ``get_candidate_ids``
    (``src/data_fetchers.py:127-149``) and top-5 prune
    (``src/cv_compat.py:100-112``).
    """
    w = Window.partitionBy(key_col).orderBy(
        F.xxhash64(F.col(id_col)), F.col(id_col)
    )
    return (
        blocks.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= max_block)
        .drop("_rn")
    )


def shuffle_within_blocks(
    blocks: DataFrame,
    seed: int,
    id_col: str = "id",
    key_col: str = "block_key",
    rank_col: str = "shuffle_rank",
) -> DataFrame:
    """TRAINING-ONLY in-block candidate shuffle (reference O5:
    ``random.shuffle(candidate_ids)`` on the training path,
    ``/root/reference/src/data_fetchers.py:147-149``).

    Adds ``rank_col`` = the member's position in a seeded pseudo-random
    permutation of its block. Deterministic given ``seed`` (seeded-hash
    order, not ``rand()`` — resumable lineage needs replayable shuffles),
    different seeds give different permutations. The EVAL path must never
    call this: ``cap_block_size``/pair generation stay hash-stable
    (see their docstrings), matching the reference which shuffles
    candidates only for training batches.
    """
    w = Window.partitionBy(key_col).orderBy(
        F.xxhash64(F.lit(seed), F.col(id_col)), F.col(id_col)
    )
    return blocks.withColumn(rank_col, F.row_number().over(w))


def salt_mega_blocks(
    blocks: DataFrame,
    max_block: int = 64,
    n_salts: int = 16,
    id_col: str = "id",
    key_col: str = "block_key",
    hash_family: str = "xxhash",
) -> DataFrame:
    """Split oversized blocks into ``n_salts`` sub-blocks by a stable hash of
    the member id (north_rule skew handling).

    Trade-off (standard for salted ER): pairs split across different salt
    buckets of a mega-block are not compared by *this* key — mega-blocks are
    low-precision keys anyway and members keep their other keys. The pair
    count per key drops from O(B²) to O(B²/n_salts).

    ``hash_family``: "xxhash" (allocation-free, pipeline default) or "md5"
    (the DuckDB-reproducible family from ``hashing``, for oracle queries).
    """
    # per-key size via a window, not a broadcast-size subquery: the
    # broadcast variant spawns a separate exchange job that re-executes the
    # whole blocking subtree (measured 159s serialized on a 320k-page
    # corpus); the window is one shuffle keyed on block_key — the same key
    # the downstream cap/pair-join shuffles on anyway
    w = Window.partitionBy(key_col)
    sized = blocks.withColumn("_bsize", F.count("*").over(w))
    if hash_family == "xxhash":
        salt = F.pmod(F.xxhash64(F.lit(7), F.col(id_col)), F.lit(n_salts))
    else:
        salt = seeded_hash64(F.col(id_col), 7) % n_salts
    if dict(blocks.dtypes)[key_col] == "bigint":
        # hashed-key (bigint) blocks: salt by re-hashing key with the salt
        # value — stays 8 bytes, no string materialization
        sub_key = F.xxhash64(F.col(key_col), salt)
    else:
        sub_key = F.concat(F.col(key_col), F.lit("#"), salt.cast("string"))
    salted = F.when(F.col("_bsize") > max_block, sub_key).otherwise(
        F.col(key_col)
    )
    return sized.select(F.col(id_col), salted.alias(key_col))
