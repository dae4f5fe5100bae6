"""Cuckoo-filter prefilter — the north_star's alternative to the bloom.

Partial-key cuckoo filter (Fan et al., CoNEXT'14 construction): 16-bit
fingerprints, 4 slots per bucket, the second candidate bucket derived as
``b1 XOR (fp * 0x5bd1e995)`` so it is computable from (bucket, fp) alone.
Compared to the bloom prefilter it has a lower false-positive rate
(~2*slots/2^16 ≈ 0.012%) at ~95% achievable load.

Determinism contract (the whole engine's hashes must replay identically):
items are inserted in SORTED hash order and the eviction victim slot is
``(kick_count % SLOTS)`` — no randomness, so the serialized table bytes
are a pure function of the hash SET.

Same exactness stance as the bloom: this is a PREFILTER only — a miss
proves "never seen" (no false negatives), a hit falls through to the
exact (url_hash, url) anti-join.
"""

from __future__ import annotations

import numpy as np

SLOTS = 4
HEADROOM = 1.6  # slots per item the table is sized for
_FP_MULT = np.uint64(0x5BD1E995)
MAX_KICKS = 500


def _fingerprints(hashes: np.ndarray) -> np.ndarray:
    """Non-zero 16-bit fingerprints from the high hash bits (the low bits
    pick buckets; independent bit ranges keep fp and bucket uncorrelated)."""
    fp = ((hashes >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
    fp[fp == 0] = 1
    return fp


def _bucket1(hashes: np.ndarray, n_buckets: int) -> np.ndarray:
    return (hashes % np.uint64(n_buckets)).astype(np.int64)


def _alt_bucket(bucket: np.ndarray, fp: np.ndarray, n_buckets: int) -> np.ndarray:
    mixed = (fp.astype(np.uint64) * _FP_MULT) % np.uint64(n_buckets)
    return np.bitwise_xor(bucket.astype(np.uint64), mixed).astype(np.int64) % n_buckets


def size_for(n_items: int) -> int:
    """Power-of-two bucket count with load-factor headroom."""
    target = max(int(n_items * HEADROOM) // SLOTS + 1, 16)
    n = 16
    while n < target:
        n <<= 1
    return n


def build(hashes: np.ndarray, n_buckets: int) -> bytes | None:
    """Serialize a filter containing ``hashes``; None when insertion fails
    (over capacity — the caller resizes and rebuilds)."""
    table = np.zeros((n_buckets, SLOTS), dtype=np.uint16)
    if insert(table, np.sort(hashes.astype(np.uint64))):
        return table.tobytes()
    return None


def load(buf: bytes, n_buckets: int) -> np.ndarray:
    return np.frombuffer(buf, dtype=np.uint16).reshape(n_buckets, SLOTS).copy()


def insert(table: np.ndarray, hashes: np.ndarray) -> bool:
    """Insert (mutates table); False when any item exceeds MAX_KICKS."""
    n_buckets = table.shape[0]
    fps = _fingerprints(hashes)
    b1s = _bucket1(hashes, n_buckets)
    for fp, b1 in zip(fps, b1s):
        fp = np.uint16(fp)
        b = int(b1)
        placed = False
        for cand in (b, int(_alt_bucket(np.array([b]), np.array([fp]), n_buckets)[0])):
            empty = np.flatnonzero(table[cand] == 0)
            if len(empty):
                table[cand, empty[0]] = fp
                placed = True
                break
        kicks = 0
        cur = int(_alt_bucket(np.array([b]), np.array([fp]), n_buckets)[0])
        while not placed:
            if kicks >= MAX_KICKS:
                return False
            victim_slot = kicks % SLOTS
            fp, table[cur, victim_slot] = table[cur, victim_slot], fp
            cur = int(_alt_bucket(np.array([cur]), np.array([fp]), n_buckets)[0])
            empty = np.flatnonzero(table[cur] == 0)
            if len(empty):
                table[cur, empty[0]] = fp
                placed = True
            kicks += 1
    return True


def contains(table: np.ndarray, hashes: np.ndarray) -> np.ndarray:
    """Vectorized membership: True = maybe present, False = definitely not."""
    if len(hashes) == 0:
        return np.zeros(0, dtype=bool)
    n_buckets = table.shape[0]
    h = hashes.astype(np.uint64)
    fps = _fingerprints(h)
    b1 = _bucket1(h, n_buckets)
    b2 = _alt_bucket(b1, fps, n_buckets)
    in1 = (table[b1] == fps[:, None]).any(axis=1)
    in2 = (table[b2] == fps[:, None]).any(axis=1)
    return in1 | in2
