"""Pure-Python reference implementations of the JVM string kernels.

``entity_linking_spark/functions/StringKernels.java`` follows these step
for step; the tests check the kernels against them with ``==``.
"""

from __future__ import annotations

import numpy as np


def _lev_ratio_cost2_one(a: str, b: str) -> float:
    """python-Levenshtein `ratio` semantics: (lensum - indel) / lensum.

    LCS by DP, one numpy row per character of ``a``.
    """
    if a == b:
        return 1.0
    la, lb = len(a), len(b)
    lensum = la + lb
    if lensum == 0:
        return 1.0
    if la == 0 or lb == 0:
        return 0.0
    # LCS length via DP; indel = lensum - 2*LCS
    bb = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32)
    prev = np.zeros(lb + 1, dtype=np.int32)
    for ca in a:
        eq = (bb == ord(ca)).astype(np.int32)
        cur = np.zeros(lb + 1, dtype=np.int32)
        np.maximum(prev[1:], prev[:-1] + eq, out=cur[1:])
        np.maximum.accumulate(cur, out=cur)
        prev = cur
    lcs = int(prev[-1])
    return (lensum - (lensum - 2 * lcs)) / lensum


def _jaro(a: str, b: str) -> float:
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        # DuckDB's jaro_winkler_similarity returns 0.0 even for ("","")
        return 0.0
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    b_taken = [False] * lb
    m = 0
    a_matches: list[str] = []
    for i, ca in enumerate(a):
        lo = i - window if i - window > 0 else 0
        hi = i + window + 1 if i + window + 1 < lb else lb
        for j in range(lo, hi):
            if not b_taken[j] and b[j] == ca:
                b_taken[j] = True
                m += 1
                a_matches.append(ca)
                break
    if m == 0:
        return 0.0
    b_matches = [b[j] for j in range(lb) if b_taken[j]]
    t = sum(1 for x, y in zip(a_matches, b_matches) if x != y) // 2
    return (m / la + m / lb + (m - t) / m) / 3.0


def _jaro_winkler_one(a: str, b: str, p: float = 0.1, boost_threshold: float = 0.7) -> float:
    j = _jaro(a, b)
    if j <= boost_threshold:
        return j
    prefix = 0
    for ca, cb in zip(a[:4], b[:4]):
        if ca == cb:
            prefix += 1
        else:
            break
    return j + prefix * p * (1.0 - j)
