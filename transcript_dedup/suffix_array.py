"""Numpy suffix-array construction + substring search.

Prefix-doubling construction (Manber-Myers), fully vectorized: O(n log^2 n)
via repeated stable argsorts over (rank, rank+k) key pairs packed into one
int64 key. The test-side containment reference for the substring detector
(detectors/substring.py verifies with the JVM ``instr``):
tests/test_substring_verify.py builds one suffix array per container
document and binary-searches every candidate in O(m log n).

No Spark imports here — this is a pure kernel.
"""

from __future__ import annotations

import numpy as np


def build_suffix_array(data: bytes) -> np.ndarray:
    """Suffix array (int64 positions, lexicographic order) of ``data``."""
    n = len(data)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    chars = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
    sa = np.argsort(chars, kind="stable")
    # densify to 0..n-1 so the (rank, rank+k) key packs into one int64
    rank = np.empty(n, dtype=np.int64)
    sorted_chars = chars[sa]
    rank[sa] = np.concatenate(([0], np.cumsum(sorted_chars[1:] != sorted_chars[:-1])))
    k = 1
    while True:
        second = np.full(n, 0, dtype=np.int64)
        if k < n:
            second[: n - k] = rank[k:] + 1  # shift so "past end" (0) sorts first
        keys = rank * np.int64(n + 2) + second
        sa = np.argsort(keys, kind="stable")
        sorted_keys = keys[sa]
        new_rank = np.empty(n, dtype=np.int64)
        new_rank[sa] = np.concatenate(
            ([0], np.cumsum(sorted_keys[1:] != sorted_keys[:-1]))
        )
        rank = new_rank
        if rank[sa[-1]] == n - 1:
            break
        k *= 2
    return sa


def sa_contains(data: bytes, sa: np.ndarray, pattern: bytes) -> bool:
    """True iff ``pattern`` occurs in ``data`` (binary search over ``sa``)."""
    m = len(pattern)
    if m == 0:
        return True
    if m > len(data):
        return False
    lo, hi = 0, len(sa)
    while lo < hi:  # first suffix >= pattern
        mid = (lo + hi) // 2
        start = int(sa[mid])
        if data[start : start + m] < pattern:
            lo = mid + 1
        else:
            hi = mid
    if lo == len(sa):
        return False
    start = int(sa[lo])
    return data[start : start + m] == pattern
