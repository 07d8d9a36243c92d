"""Seeded benchmark corpora, generated once per (workload, seed) and cached.

Two generators feed the workloads:

- ``datagen.write_parquet`` from the package: the near-duplicate web
  corpus with ground-truth entity clusters.
- :func:`write_chain_corpus` (here): a few long chains of pages. Page ``i``
  of a chain holds a sliding window of ``window`` tokens over the chain's
  own random token sequence, so consecutive pages are near-duplicates and
  each chain is exactly one connected component. Every page shares one
  host, which makes the host block a mega-block that salting and capping
  must split.

Both write ``pages.parquet`` and ``labeled_pairs.parquet`` with the same
schemas, so the benchmark reads every corpus the same way;
:func:`write_warmup` adds the small ``warmup.parquet`` of the cold run.
"""

from __future__ import annotations

import os
import random
import shutil
import string
from collections.abc import Callable

CHAIN_HOST = "chains.example.com"


def chain_pages(
    seed: int, n_chains: int, chain_len: int, window: int = 20
) -> list[tuple[str, str, int]]:
    """→ [(url, text, chain)], shuffled; deterministic in its arguments."""
    rng = random.Random(seed)
    rows = []
    for c in range(n_chains):
        seq = [
            "".join(rng.choices(string.ascii_lowercase, k=7))
            for _ in range(chain_len + window - 1)
        ]
        for i in range(chain_len):
            text = " ".join(seq[i : i + window])
            rows.append((f"https://{CHAIN_HOST}/c{c}/p{i}", text, c))
    rng.shuffle(rows)
    return rows


def chain_labeled_pairs(
    rows: list[tuple[str, str, int]], seed: int
) -> list[tuple[str, str, int]]:
    """Positives: every pair of consecutive pages in a chain. Negatives:
    as many random cross-chain pairs."""
    rng = random.Random(seed + 1)
    by_chain: dict[int, dict[int, str]] = {}
    for url, _, c in rows:
        by_chain.setdefault(c, {})[int(url.rsplit("/p", 1)[1])] = url
    pairs = []
    for members in by_chain.values():
        for i in range(len(members) - 1):
            a, b = sorted((members[i], members[i + 1]))
            pairs.append((a, b, 1))
    n_pos = len(pairs)
    seen = set()
    while len(pairs) < 2 * n_pos and len(by_chain) > 1:
        (u, _, cu), (v, _, cv) = rng.sample(rows, 2)
        a, b = sorted((u, v))
        if cu != cv and (a, b) not in seen:
            seen.add((a, b))
            pairs.append((a, b, 0))
    return pairs


def write_chain_corpus(
    out_dir: str, seed: int, n_chains: int, chain_len: int
) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = chain_pages(seed, n_chains, chain_len)
    labeled = chain_labeled_pairs(rows, seed)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "url": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "entity_id": [r[2] for r in rows],
            }
        ),
        os.path.join(out_dir, "pages.parquet"),
        row_group_size=8192,
    )
    pq.write_table(
        pa.table(
            {
                "url_a": [p[0] for p in labeled],
                "url_b": [p[1] for p in labeled],
                "label": pa.array([p[2] for p in labeled], type=pa.int32()),
            }
        ),
        os.path.join(out_dir, "labeled_pairs.parquet"),
    )


def write_warmup(corpus_dir: str, n_pages: int) -> None:
    """Write the first ``n_pages`` rows of ``pages.parquet`` to
    ``warmup.parquet``: a small corpus of the same kind for the cold run."""
    import pyarrow.parquet as pq

    pages = pq.read_table(os.path.join(corpus_dir, "pages.parquet"))
    pq.write_table(pages.slice(0, n_pages), os.path.join(corpus_dir, "warmup.parquet"))


def cached_corpus(
    cache_root: str, key: str, build: Callable[[str], object]
) -> str:
    """Directory holding corpus ``key``; ``build(dir)`` runs only on a miss.

    The corpus is built in a temporary sibling and renamed into place, so
    an interrupted build never leaves a half-written cache entry.
    """
    final = os.path.join(cache_root, key)
    if os.path.isdir(final):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    os.replace(tmp, final)
    return final
