"""Correctness checks over collected pipeline outputs.

Pure Python over ``(id, cluster_id)`` rows, so the checks can be tested
without Spark. Each check returns a list of failures, each a string that
starts with the check's name; an empty list means the output passed.
"""

from __future__ import annotations

import hashlib
from collections import Counter

# datagen corpora score F1 ≈ 0.997-1.0 with the default config
F1_FLOOR = 0.98


def partition_digest(rows) -> str:
    """Digest of a cluster assignment. ``cluster_id`` is the component's
    minimum member id, so sorted ``(id, cluster_id)`` is canonical."""
    h = hashlib.sha256()
    for i, c in sorted(rows):
        h.update(f"{i}\t{c}\n".encode())
    return h.hexdigest()


def pair_f1(rows, labeled) -> float:
    """Pairwise F1 of ``rows`` against ``(url_a, url_b, label)`` pairs,
    scored like ``plans.pipeline.pairwise_metrics``: pairs with an
    unassigned page are skipped, an empty class counts as perfect."""
    cid = dict(rows)
    tp = fp = fn = 0
    for a, b, label in labeled:
        if a not in cid or b not in cid:
            continue
        same = cid[a] == cid[b]
        tp += label and same
        fp += (not label) and same
        fn += label and not same
    prec = tp / (tp + fp) if tp + fp else 1.0
    rec = tp / (tp + fn) if tp + fn else 1.0
    return 2 * prec * rec / (prec + rec) if prec + rec else 0.0


def check_dedup(f1: float, digest: str, ref: tuple[float, str] | None) -> list[str]:
    """``dedup_web``: F1 above the floor, and F1 and the partition digest
    identical to the reference run's ``(f1, digest)``."""
    out = []
    if f1 < F1_FLOOR:
        out.append(f"pair_f1_floor: {f1:.4f} < {F1_FLOOR}")
    if ref is not None:
        if f1 != ref[0]:
            out.append(f"pair_f1_stable: {f1!r} != {ref[0]!r}")
        if digest != ref[1]:
            out.append("partition_stable: cluster digest differs from the first run")
    return out


def check_chains(rows, truth: dict[str, int], n_chains: int, chain_len: int) -> list[str]:
    """``giant_component``: one component per generated chain, each as
    long as a chain, with exactly the chain's pages as members."""
    out = []
    sizes = Counter(c for _, c in rows)
    if len(sizes) != n_chains:
        out.append(f"components_equal_chains: {len(sizes)} != {n_chains}")
    largest = max(sizes.values(), default=0)
    if largest != chain_len:
        out.append(f"largest_equals_chain_len: {largest} != {chain_len}")
    got = {frozenset(m) for m in _members(rows).values()}
    want = {frozenset(m) for m in _members(truth.items()).values()}
    if got != want:
        out.append("clusters_match_chains: some cluster mixes chains or splits one")
    return out


def check_covers(name: str, rows, n_pages: int) -> list[str]:
    """``name`` fails unless every one of the ``n_pages`` input pages has
    exactly one cluster row."""
    ids = [i for i, _ in rows]
    if len(ids) == n_pages == len(set(ids)):
        return []
    return [f"{name}: {len(set(ids))} distinct ids in {len(ids)} rows for {n_pages} pages"]


def check_same(name: str, got, want) -> list[str]:
    """``name`` fails unless the two cluster assignments are identical."""
    if sorted(got) == sorted(want):
        return []
    diff = len(set(got) ^ set(want))
    return [f"{name}: {diff} (id, cluster_id) rows differ"]


def _members(rows) -> dict:
    by = {}
    for i, c in rows:
        by.setdefault(c, []).append(i)
    return by
