"""Deterministic synthetic fetch model.

There is no network in this sandbox (and the driver forbids external data),
so "fetching" a URL is a pure function of the canonical URL: status, image
payload, caption and outlinks all derive from a stable 64-bit digest of the
URL string. The SAME function backs

- the Spark fetch stage (mapInPandas batches, jobscrawler_spark.operators.fetch)
- the single-threaded oracle simulator (jobscrawler_spark.oracle.simulator)

so the equivalence tests compare two executions of identical semantics —
exactly how the reference's live HTTP fetch would be mocked.

Payloads have two entry points with one answer. ``payload_from_digest`` is
the scalar reference: the oracle simulator, ``oracle/expected.py`` and the
generators call it (through ``fetch_payload``). ``payloads_from_digests``
is the batched form the fetch stage calls once per Arrow batch; it is
bit-identical (``tests/test_fetch_batch.py`` compares every field on 20k
digests) and shares numpy's per-call overhead across the batch.

Reference analogues: per-URL GET with rotating User-Agent (reference:
src/crawler.py:306-319), non-200 pages logged and skipped
(src/crawler.py:313-317), follow-link discovery (src/utils/FollowLink.py:8-39).
"""

from __future__ import annotations

from urllib.parse import urlsplit

import numpy as np

from .functions import codecs
from .functions.xxhash import spark_xxhash64_str

# 15-slot deterministic "User-Agent pool" mirroring the reference's
# random.choice over 15 UAs (reference: src/constants.py:2-18,
# src/crawler.py:309) — made reproducible: ua = (digest + round) % 15.
N_USER_AGENTS = 15

FMTS = ("raw", "png", "dct")

_U64 = 1 << 64


def url_digest(url: str) -> int:
    """Stable unsigned 64-bit digest of a URL (process-independent).

    This is xxhash64(seed=42) — the SAME hash Spark computes JVM-side for
    the frontier's ``url_hash`` column (F.xxhash64, verified bit-identical
    by tests/test_urls.py). The fetch stage therefore never hashes in
    Python: it reinterprets the url_hash column as unsigned and feeds the
    digest-based functions below. This plain-Python path serves the oracle
    simulator and the fixture generators only.
    """
    return spark_xxhash64_str(url) % _U64


# -- digest-keyed model (the fetch stage's hot path takes these) -------------


def status_from_digest(d: int) -> int:
    r = d % 50
    if r == 0:
        return 403
    if r == 1:
        return 500
    return 200


def status_from_digests(d: np.ndarray) -> np.ndarray:
    """Vectorized fetch_status over a uint64 digest array (~4% non-200)."""
    r = d % np.uint64(50)
    status = np.full(len(d), 200, dtype=np.int32)
    status[r == 0] = 403
    status[r == 1] = 500
    return status


def ua_from_digests(d: np.ndarray, round_no: int) -> np.ndarray:
    """Vectorized UA rotation: (digest + round) % pool size."""
    return ((d + np.uint64(round_no)) % np.uint64(N_USER_AGENTS)).astype(np.int32)


def params_from_digest(d: int) -> tuple[int, int, str]:
    w = 8 + (d >> 8) % 57  # 8..64
    h = 8 + (d >> 16) % 57
    fmt = FMTS[(d >> 24) % len(FMTS)]
    return int(w), int(h), fmt


def caption_from_digest(d: int, url: str) -> str:
    return f"caption {d:016x} for {url}"


def outlinks_from_digest(
    d: int, url: str, depth: int, max_depth: int, n_hosts: int = 64
) -> list[str]:
    if depth >= max_depth:
        return []
    k = d % 4  # 0..3 children
    parts = urlsplit(url)
    out = []
    for j in range(k):
        if (d >> (32 + j)) % 8 == 0:  # ~12% cross-host
            host = f"h{(d + j) % n_hosts:02d}.example.com"
        else:
            host = parts.hostname or "example.com"
        out.append(f"http://{host}/d{depth + 1}/{d:016x}/{j}")
    return out


def payload_from_digest(d: int, url: str) -> tuple[bytes, int, int, str, str, int]:
    """The scalar reference payload: the oracle simulator, the expected
    results and the fixture generators take it, and tests compare
    ``payloads_from_digests`` against it."""
    w, h, fmt = params_from_digest(d)
    img = codecs.synth_pixels(d, w, h)
    data = codecs.encode(img, fmt)
    return data, w, h, fmt, caption_from_digest(d, url), codecs.phash(img)


def payloads_from_digests(
    d: np.ndarray, urls
) -> tuple[list[bytes], np.ndarray, np.ndarray, list[str], list[str], np.ndarray]:
    """``payload_from_digest`` over a uint64 digest array, as the columns
    (bytes, w, h, fmt, caption, phash), bit for bit: the fetch stage makes
    one such call per Arrow batch, so the numpy per-call overhead of synth,
    codec encode and phash is paid per batch, not per URL. w and h are
    int32, phash int64."""
    w = (8 + (d >> np.uint64(8)) % np.uint64(57)).astype(np.int32)
    h = (8 + (d >> np.uint64(16)) % np.uint64(57)).astype(np.int32)
    fmts = [FMTS[i] for i in ((d >> np.uint64(24)) % np.uint64(len(FMTS))).tolist()]
    ds = d.tolist()
    imgs = codecs.synth_pixels_batch(ds, w.tolist(), h.tolist())
    captions = [caption_from_digest(x, url) for x, url in zip(ds, urls)]
    data = [codecs.encode_dct_stacked(img) if f == "dct" else codecs.encode(img, f) for img, f in zip(imgs, fmts)]
    return data, w, h, fmts, captions, codecs.phash_batch(imgs)


# -- url-keyed wrappers (oracle simulator + generators + invariant checks) ---


def fetch_status(url: str) -> int:
    """~4% deterministic non-200s to exercise the status filter (P6)."""
    return status_from_digest(url_digest(url))


def caption_for(url: str) -> str:
    return caption_from_digest(url_digest(url), url)


def outlinks_for(url: str, depth: int, max_depth: int, n_hosts: int = 64) -> list[str]:
    """Deterministic children of a fetched URL (depth-limited frontier growth).

    Mostly same-host (politeness-relevant), with an occasional cross-host
    link so frontier merges shuffle across host buckets.
    """
    return outlinks_from_digest(url_digest(url), url, depth, max_depth, n_hosts)


def fetch_payload(url: str) -> tuple[bytes, int, int, str, str, int]:
    """(bytes, w, h, fmt, caption, phash) for a 200-status URL."""
    return payload_from_digest(url_digest(url), url)


def expected_pixels(url: str) -> np.ndarray:
    """Ground-truth pixels for the extract-stage PSNR invariant."""
    d = url_digest(url)
    w, h, _ = params_from_digest(d)
    return codecs.synth_pixels(d, w, h)


def user_agent_idx(url: str, round_no: int) -> int:
    """Deterministic UA rotation: hash(url, round) % pool size. The sum
    wraps mod 2^64 FIRST, matching ua_from_digests' uint64 arithmetic
    (2^64 ≢ 0 mod 15, so skipping the wrap would differ near overflow)."""
    return ((url_digest(url) + round_no) % _U64) % N_USER_AGENTS
