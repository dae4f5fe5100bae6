"""Cuckoo-filter prefilter — the seen set's alternative to the bloom.

Partial-key cuckoo filter (Fan et al., CoNEXT'14 construction): 16-bit
fingerprints, 4 slots per bucket, the second candidate bucket derived as
``b1 XOR (fp * 0x5bd1e995)`` so it is computable from (bucket, fp) alone.
Compared to the bloom prefilter it has a lower false-positive rate
(~2*slots/2^16 ≈ 0.012%) at ~95% achievable load.

Determinism contract (the whole engine's hashes must replay identically):
items are inserted in SORTED hash order and the eviction victim slot is
``(kick_count % SLOTS)`` — no randomness, so the serialized table bytes
are a pure function of the hash SET.

Same interface as ``bloom``: a segment is its bytes. ``build`` sizes the
table from the item count (``HEADROOM`` slots per item, a power-of-two
bucket count) and doubles the bucket count while an insert exceeds
``MAX_KICKS``, so it never fails; ``contains`` reads the bucket count back
as ``len(buf) // (2 * SLOTS)``. A filter is never inserted into after its
build: the seen set appends new segments instead.

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


def build(hashes: np.ndarray) -> bytes:
    """The filter holding ``hashes``: the next power-of-two bucket count
    (at least 16) with HEADROOM slots per item, doubled while an insert
    exceeds MAX_KICKS."""
    hashes = np.sort(hashes.astype(np.uint64))
    n_buckets = 16
    while n_buckets < int(len(hashes) * HEADROOM) // SLOTS + 1:
        n_buckets <<= 1
    while (table := _insert(hashes, n_buckets)) is None:
        n_buckets <<= 1
    return np.array(table, dtype=np.uint16).tobytes()


def _insert(hashes: np.ndarray, n_buckets: int) -> list[int] | None:
    """The flat (bucket, slot) table holding ``hashes`` in their order, or
    None when an item exceeds MAX_KICKS. Python ints: the kick loop is
    per item, where numpy scalars cost more than they save."""
    table = [0] * (n_buckets * SLOTS)
    mult = int(_FP_MULT)

    def place(bucket: int, fp: int) -> bool:
        for slot in range(bucket * SLOTS, (bucket + 1) * SLOTS):
            if table[slot] == 0:
                table[slot] = fp
                return True
        return False

    for fp, b in zip(_fingerprints(hashes).tolist(), _bucket1(hashes, n_buckets).tolist()):
        cur = (b ^ (fp * mult % n_buckets)) % n_buckets
        if place(b, fp) or place(cur, fp):
            continue
        for kick in range(MAX_KICKS):
            victim = cur * SLOTS + kick % SLOTS
            fp, table[victim] = table[victim], fp
            cur = (cur ^ (fp * mult % n_buckets)) % n_buckets
            if place(cur, fp):
                break
        else:
            return None
    return table


def contains(buf: bytes, hashes: np.ndarray) -> np.ndarray:
    """Vectorized membership: True = maybe present, False = definitely not."""
    if len(hashes) == 0:
        return np.zeros(0, dtype=bool)
    table = np.frombuffer(buf, dtype=np.uint16).reshape(-1, SLOTS)
    n_buckets = table.shape[0]
    h = hashes.astype(np.uint64)
    fps = _fingerprints(h)
    b1 = _bucket1(h, n_buckets)
    b2 = _alt_bucket(b1, fps, n_buckets)
    in1 = (table[b1] == fps[:, None]).any(axis=1)
    in2 = (table[b2] == fps[:, None]).any(axis=1)
    return in1 | in2
