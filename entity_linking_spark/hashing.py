"""Cross-engine deterministic hashing.

The correctness oracle (DuckDB) and the engine (Spark) must agree bit-for-bit
on every hash-derived value (MinHash signatures, SimHash bits, salt buckets,
fingerprints). Neither engine's native ``hash()`` matches the other, so all
hashing here is built on md5, which both implement identically:

    Spark : conv(substring(md5(s), 1, 15), 16, 10)  → bigint
    DuckDB: ('0x' || substr(md5(s), 1, 15))::bigint

15 hex chars = 60 bits → always a positive int64 in both engines, no
overflow under Spark's ANSI mode (default-on in Spark 4).

Seeded hash families are derived by prefixing the seed: ``md5(seed || '|' ||
s)`` — the standard "universal hashing via keyed digest" trick, which is how
the MinHash signature h_i(x) = md5hash64(str(i) + '|' + x) family is built
(reference analog: the pickled mention→entity prior uses exact string keys,
``/root/reference/src/data_fetchers.py:151-159``; we need *families* of keys
for LSH so a keyed digest replaces Python's ``hash``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HEX_CHARS = 15  # 60 bits, positive in int64


def md5hash64(col: Column | str) -> Column:
    """Deterministic 60-bit hash of a column (JVM-side, codegen'd).

    Non-string inputs are cast to their canonical string rendering first —
    bigint renders as decimal digits identically in Spark and DuckDB.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, HEX_CHARS), 16, 10).cast(
        "long"
    )


def seeded_hash64(col: Column | str, seed: int) -> Column:
    """Member *seed* of a hash family over a column."""
    c = F.col(col) if isinstance(col, str) else col
    return md5hash64(F.concat(F.lit(f"{seed}|"), c.cast("string")))


def bucket(col: Column | str, n: int, seed: int = 0) -> Column:
    """Stable bucket id in [0, n) — used for salting and LSH band buckets."""
    return seeded_hash64(col, seed) % n


# --- SQL-side (DuckDB oracle) equivalents -------------------------------

def sql_md5hash64(expr: str) -> str:
    return f"(('0x' || substr(md5(({expr})::varchar), 1, {HEX_CHARS}))::bigint)"


def sql_seeded_hash64(expr: str, seed: int) -> str:
    return sql_md5hash64(f"'{seed}|' || ({expr})::varchar")

