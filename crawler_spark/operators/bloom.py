"""Fixed-size bloom bitset over 64-bit URL hashes (numpy only).

The crawl engine's URL-seen prefilter is the sharded cuckoo filter
(operators/cuckoo.py): it supports deletion, and the exact left-anti join
behind it decides every drop. This bitset serves a different job — the
per-host state of the streaming URL-seen operator (streaming/stream.py),
which must stay a fixed size, is never deleted from and has no exact join
behind it. Double hashing (Kirsch–Mitzenmacher) derives k probe positions
from one xxhash64, so hashing stays on the JVM side.
"""

from __future__ import annotations

import math

import numpy as np


def _probe_positions(hashes: np.ndarray, num_bits: int, k: int):
    """Yield the k bit positions (uint64 arrays) of each hash."""
    h1 = hashes.astype(np.uint64)
    h2 = (h1 >> np.uint64(17)) | (h1 << np.uint64(47))
    h2 = h2 * np.uint64(0x9E3779B97F4A7C15) | np.uint64(1)
    m = np.uint64(num_bits)
    for i in range(k):
        yield (h1 + np.uint64(i) * h2) % m


class BloomFilter:
    """Bitset + parameters. ``bits`` is a numpy uint64 array."""

    def __init__(self, bits: np.ndarray, num_hashes: int):
        self.bits = bits
        self.num_hashes = num_hashes
        self.num_bits = bits.shape[0] * 64

    @staticmethod
    def sized_for(expected_items: int, fpp: float = 0.01) -> tuple[int, int]:
        """(num_bits rounded to word multiple, num_hashes) for a target FP rate."""
        n = max(expected_items, 1)
        m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
        m = ((m + 63) // 64) * 64
        k = max(1, round(m / n * math.log(2)))
        return m, min(k, 8)

    def add_np(self, hashes: np.ndarray) -> None:
        """Set the k bits of every hash, in place."""
        for idx in _probe_positions(hashes, self.num_bits, self.num_hashes):
            np.bitwise_or.at(self.bits, (idx >> np.uint64(6)).astype(np.int64),
                             np.uint64(1) << (idx & np.uint64(63)))

    def might_contain_np(self, hashes: np.ndarray) -> np.ndarray:
        """Vectorized probe: bool mask, True = maybe seen (no false negatives)."""
        out = np.ones(hashes.shape[0], dtype=bool)
        for idx in _probe_positions(hashes, self.num_bits, self.num_hashes):
            word = idx >> np.uint64(6)
            bit = idx & np.uint64(63)
            out &= (self.bits[word] >> bit) & np.uint64(1) != 0
        return out
