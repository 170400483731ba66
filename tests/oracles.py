"""Scalar pure-Python references for the batch kernels in
``functions/similarity.py`` and ``functions/minhash.py``: the tests assert
batch == scalar."""

import numpy as np

from neural_entity_matching_spark.functions.minhash import _POLY_BASE, _splitmix_mix


def jaro(s1: str, s2: str) -> float:
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    window = max(l1, l2) // 2 - 1
    if window < 0:
        window = 0
    m1 = np.zeros(l1, dtype=bool)
    m2 = np.zeros(l2, dtype=bool)
    matches = 0
    for i, c in enumerate(s1):
        lo, hi = max(0, i - window), min(l2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    return (matches / l1 + matches / l2 + (matches - t) / matches) / 3.0


def jaro_winkler(s1: str, s2: str, p: float = 0.1, max_prefix: int = 4) -> float:
    j = jaro(s1, s2)
    if j > 0.7:
        prefix = 0
        for a, b in zip(s1, s2):
            if a != b or prefix >= max_prefix:
                break
            prefix += 1
        j += prefix * p * (1.0 - j)
    return j


def indel_distance(s1: str, s2: str) -> int:
    """Insert/delete-only edit distance = len1 + len2 - 2*LCS."""
    if s1 == s2:
        return 0
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return l1 + l2
    a1 = np.frombuffer(s1.encode("utf-32-le"), dtype=np.uint32)
    a2 = np.frombuffer(s2.encode("utf-32-le"), dtype=np.uint32)
    prev = np.zeros(l2 + 1, dtype=np.int64)
    cur = np.zeros(l2 + 1, dtype=np.int64)
    for i in range(1, l1 + 1):
        eq = a2 == a1[i - 1]
        cur[0] = 0
        # vectorize the LCS row where possible; np.maximum handles the
        # no-match path, the cumulative pass fixes match carries
        for j in range(1, l2 + 1):
            cur[j] = prev[j - 1] + 1 if eq[j - 1] else max(prev[j], cur[j - 1])
        prev, cur = cur, prev
    lcs = int(prev[l2])
    return l1 + l2 - 2 * lcs


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """Sorted distinct shingle hashes of one text, one document at a time:
    the reference for ``minhash.shingle_hashes``' batch form.

    Short strings are right-padded with spaces to width k (reference rule,
    blocking_algorithms.py:117-119) so every doc has >=1 shingle.
    """
    if len(text) < k:
        text = text + " " * (k - len(text))
    b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
    win = np.lib.stride_tricks.sliding_window_view(b, k)
    powers = _POLY_BASE ** np.arange(k, dtype=np.uint64)  # wraps mod 2^64
    return np.unique(_splitmix_mix(win @ powers))
