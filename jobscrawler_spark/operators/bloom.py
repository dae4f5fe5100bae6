"""Bloom-filter prefilter — the seen set's default filter segment.

A segment is its bytes: a bit array of a power-of-two length with
``N_HASHES`` probes per item by double hashing (the url hash, and its
splitmix64 finalizer as the stride). ``build`` sizes the array from the
item count (``BITS_PER_ITEM`` bits per item, at least ``MIN_BITS``), and
``contains`` takes the bit count back from the buffer's length, so nothing
but the bytes is stored.

A PREFILTER only: a miss proves "never seen" (no false negatives); a hit
falls through to the exact (url_hash, url) anti-join.
"""

from __future__ import annotations

import numpy as np

BITS_PER_ITEM = 16
N_HASHES = 7
MIN_BITS = 1 << 13  # 8192 bits minimum per segment


def _mix64(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — derives the second probe stream."""
    h = h.astype(np.uint64, copy=True)
    h ^= h >> np.uint64(30)
    h *= np.uint64(0xBF58476D1CE4E5B9)
    h ^= h >> np.uint64(27)
    h *= np.uint64(0x94D049BB133111EB)
    h ^= h >> np.uint64(31)
    return h


def _positions(hashes: np.ndarray, n_bits: int) -> np.ndarray:
    """(N_HASHES, n) probe positions via double hashing."""
    h1 = hashes.astype(np.uint64)
    h2 = _mix64(h1) | np.uint64(1)
    nb = np.uint64(n_bits)
    return np.stack([(h1 + np.uint64(i) * h2) % nb for i in range(N_HASHES)])


def build(hashes: np.ndarray) -> bytes:
    """The filter holding ``hashes``: the next power of two >=
    max(BITS_PER_ITEM * n, MIN_BITS) bits."""
    n_bits = MIN_BITS
    while n_bits < len(hashes) * BITS_PER_ITEM:
        n_bits <<= 1
    bits = np.zeros(n_bits // 8, dtype=np.uint8)
    if len(hashes):
        pos = _positions(hashes, n_bits).ravel()
        np.bitwise_or.at(bits, pos >> np.uint64(3), (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)))
    return bits.tobytes()


def contains(buf: bytes, hashes: np.ndarray) -> np.ndarray:
    """Boolean array: True = maybe seen, False = definitely unseen."""
    if len(hashes) == 0:
        return np.zeros(0, dtype=bool)
    bits = np.frombuffer(buf, dtype=np.uint8)
    pos = _positions(hashes, 8 * len(bits))
    probe = (bits[(pos >> np.uint64(3)).astype(np.int64)] >> (pos & np.uint64(7)).astype(np.uint8)) & 1
    return probe.all(axis=0)
