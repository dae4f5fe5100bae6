"""Pure numpy + stdlib image codecs for the fetch/extract stages.

The container has no Pillow/OpenCV, so the engine carries its own minimal
codecs. Three formats (FIXTURES.md §1):

- ``raw``  : uncompressed HxWx3 uint8 pixels
- ``png``  : real PNG (RGB8, filter 0, zlib) — lossless, readable by any
             standard PNG decoder
- ``dct``  : 8x8 block-DCT with a flat quantizer — deterministic lossy
             codec used to exercise the PSNR>=40dB extract invariant
             (BASELINE.json input_hint)

Plus ``phash`` (perceptual hash: 32x32 area resize -> 2D DCT -> 8x8
low-frequency block -> median threshold -> 64-bit int) and ``psnr``.

All functions operate on whole numpy arrays (no per-pixel Python); inside
Spark they run on Arrow batches via mapInPandas.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# ---------------------------------------------------------------------------
# Deterministic synthetic pixels (the "fetched" image for a URL)
# ---------------------------------------------------------------------------


def synth_pixels(seed: int, w: int, h: int) -> np.ndarray:
    """Deterministic HxWx3 uint8 image from an integer seed.

    Smooth low-frequency content (gradients + sinusoids) so the lossy codec
    comfortably clears PSNR>=40dB while still exercising every block.
    """
    rng = np.random.default_rng(np.uint64(seed & 0xFFFFFFFFFFFFFFFF))
    fx = rng.uniform(0.5, 3.0, 3).astype(np.float32)
    fy = rng.uniform(0.5, 3.0, 3).astype(np.float32)
    ph = rng.uniform(0, 6.28, 3).astype(np.float32)
    base = rng.uniform(64, 192, 3).astype(np.float32)
    y = np.linspace(0, 1, h, dtype=np.float32)[:, None, None]
    x = np.linspace(0, 1, w, dtype=np.float32)[None, :, None]
    # float32 throughout: halves memory traffic in the fetch hot path
    img = base + 60 * np.sin(2 * np.float32(np.pi) * (fx * x + fy * y) + ph) + 20 * (x - y)
    return np.clip(np.rint(img), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# raw codec
# ---------------------------------------------------------------------------


def encode_raw(img: np.ndarray) -> bytes:
    h, w, _ = img.shape
    return struct.pack(">II", w, h) + img.tobytes()


def decode_raw(data: bytes) -> np.ndarray:
    w, h = struct.unpack(">II", data[:8])
    return np.frombuffer(data[8:], dtype=np.uint8).reshape(h, w, 3)


# ---------------------------------------------------------------------------
# PNG codec (RGB8, filter type 0)
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray) -> bytes:
    h, w, _ = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # RGB8, no interlace
    # filter byte 0 per scanline
    raw = np.empty((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 0] = 0
    raw[:, 1:] = img.reshape(h, w * 3)
    idat = zlib.compress(raw.tobytes(), 6)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def decode_png(data: bytes) -> np.ndarray:
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, w, h, idat = 8, 0, 0, b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", payload[:10])
            if depth != 8 or ctype != 2:
                raise ValueError("only RGB8 supported")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + length
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(h, 1 + w * 3)
    if not (raw[:, 0] == 0).all():
        raise ValueError("only filter 0 supported")
    return raw[:, 1:].reshape(h, w, 3).copy()


# ---------------------------------------------------------------------------
# DCT lossy codec (8x8 blocks, flat quantizer step=2 -> ~53dB PSNR)
# ---------------------------------------------------------------------------

_B = 8


def _dct_matrix(n: int = _B) -> np.ndarray:
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    m = np.sqrt(2.0 / n) * np.cos((2 * i + 1) * k * np.pi / (2 * n))
    m[0, :] = np.sqrt(1.0 / n)
    return m


_DCT = _dct_matrix()
_IDCT = _DCT.T
_DCT32F = _DCT.astype(np.float32)
_IDCT32F = _IDCT.astype(np.float32)
_QSTEP = 2.0


def _to_blocks(chan: np.ndarray) -> tuple[np.ndarray, int, int]:
    h, w = chan.shape
    ph, pw = (-h) % _B, (-w) % _B
    padded = np.pad(chan, ((0, ph), (0, pw)), mode="edge").astype(np.float32)
    H, W = padded.shape
    blocks = padded.reshape(H // _B, _B, W // _B, _B).transpose(0, 2, 1, 3)
    return blocks, h, w


def _from_blocks(blocks: np.ndarray, h: int, w: int) -> np.ndarray:
    nbh, nbw = blocks.shape[:2]
    out = blocks.transpose(0, 2, 1, 3).reshape(nbh * _B, nbw * _B)
    return out[:h, :w]


def encode_dct(img: np.ndarray) -> bytes:
    h, w, _ = img.shape
    coefs = []
    for c in range(3):
        blocks, _, _ = _to_blocks(img[:, :, c])
        dct = _DCT32F @ blocks @ _IDCT32F  # batched matmul over (nbh, nbw, 8, 8)
        q = np.rint(dct / np.float32(_QSTEP)).astype(np.int16)
        coefs.append(q)
    payload = np.stack(coefs).tobytes()
    return struct.pack(">II", w, h) + zlib.compress(payload, 6)


def decode_dct(data: bytes) -> np.ndarray:
    w, h = struct.unpack(">II", data[:8])
    nbh, nbw = (h + _B - 1) // _B, (w + _B - 1) // _B
    q = np.frombuffer(zlib.decompress(data[8:]), dtype=np.int16).reshape(3, nbh, nbw, _B, _B)
    out = np.empty((h, w, 3), dtype=np.uint8)
    for c in range(3):
        dct = q[c].astype(np.float32) * np.float32(_QSTEP)
        blocks = _IDCT32F @ dct @ _DCT32F
        out[:, :, c] = np.clip(np.rint(_from_blocks(blocks, h, w)), 0, 255).astype(np.uint8)
    return out


# ---------------------------------------------------------------------------
# video container (vraw: header + zlib of concatenated raw frames) and
# PCM16 audio — the engine's own multimodal formats, so frame-sampling and
# audio feature extraction are REAL code paths (external demuxers like
# h264/mp3 stay honestly stubbed in operators/multimodal.py)
# ---------------------------------------------------------------------------


def encode_vraw(frames: np.ndarray, fps: int = 10) -> bytes:
    """frames: (n, h, w, 3) uint8 -> vraw container bytes."""
    n, h, w, _ = frames.shape
    return struct.pack(">IIII", n, w, h, fps) + zlib.compress(frames.tobytes(), 6)


def decode_vraw(data: bytes) -> tuple[np.ndarray, int]:
    n, w, h, fps = struct.unpack(">IIII", data[:16])
    frames = np.frombuffer(zlib.decompress(data[16:]), dtype=np.uint8).reshape(n, h, w, 3)
    return frames, fps


def synth_video(seed: int, w: int, h: int, n_frames: int) -> np.ndarray:
    """Deterministic (n, h, w, 3) clip: the synth image with per-frame
    phase motion (each frame differs; frame 0 == synth_pixels(seed))."""
    frames = [synth_pixels(seed, w, h)]
    for t in range(1, n_frames):
        frames.append(synth_pixels(seed ^ (0x9E3779B97F4A7C15 * t) & 0xFFFFFFFFFFFFFFFF, w, h))
    return np.stack(frames)


def encode_pcm16(samples: np.ndarray, rate: int = 16000) -> bytes:
    """samples: 1-D int16 -> pcm16 container bytes."""
    return struct.pack(">II", len(samples), rate) + samples.astype(">i2").tobytes()


def decode_pcm16(data: bytes) -> tuple[np.ndarray, int]:
    n, rate = struct.unpack(">II", data[:8])
    return np.frombuffer(data[8:], dtype=">i2").astype(np.int16)[:n], rate


def synth_audio(seed: int, n_samples: int, rate: int = 16000) -> np.ndarray:
    """Deterministic int16 waveform: mixed sinusoids + seeded noise."""
    rng = np.random.default_rng(np.uint64(seed & 0xFFFFFFFFFFFFFFFF))
    f = rng.uniform(80, 2000, 3)
    amp = rng.uniform(1000, 8000, 3)
    t = np.arange(n_samples, dtype=np.float64) / rate
    wave = sum(a * np.sin(2 * np.pi * fi * t) for a, fi in zip(amp, f))
    wave += rng.normal(0, 200, n_samples)
    return np.clip(np.rint(wave), -32768, 32767).astype(np.int16)


# ---------------------------------------------------------------------------
# dispatch
# ---------------------------------------------------------------------------

_ENCODERS = {"raw": encode_raw, "png": encode_png, "dct": encode_dct}
_DECODERS = {"raw": decode_raw, "png": decode_png, "dct": decode_dct}
LOSSY_FMTS = {"dct"}


def encode(img: np.ndarray, fmt: str) -> bytes:
    return _ENCODERS[fmt](img)


def decode(data: bytes, fmt: str) -> np.ndarray:
    return _DECODERS[fmt](data)


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0**2 / mse))


_PHASH_DCT32 = _dct_matrix(32)
_PHASH_DCT32_8 = _PHASH_DCT32[:8].copy()  # only the low-frequency rows are used
_GRAY = np.array([0.299, 0.587, 0.114])


def _area_resize_gray(img: np.ndarray, size: int = 32) -> np.ndarray:
    """Area-average resize of the grayscale image to size x size (numpy only)."""
    gray = img.astype(np.float64) @ _GRAY
    h, w = gray.shape
    # integer-bin area averaging via bincount on target indices
    yi = (np.arange(h) * size // h).astype(np.int64)
    xi = (np.arange(w) * size // w).astype(np.int64)
    out = np.zeros((size, size))
    cnt = np.zeros((size, size))
    np.add.at(out, (yi[:, None], xi[None, :]), gray)
    np.add.at(cnt, (yi[:, None], xi[None, :]), 1.0)
    return out / np.maximum(cnt, 1.0)


def _phash_dct8(img: np.ndarray) -> np.ndarray:
    """The low-frequency 8x8 DCT block of the 32x32 gray resize."""
    small = _area_resize_gray(img, 32)
    # einsum (non-BLAS, sequential) + coarse rounding: BLAS matmul summation
    # order varies with thread count across driver/executor processes, and
    # bits flipping at the median would break cross-process determinism.
    # Two-step 8x32 einsum: only the low-frequency 8x8 block is needed.
    tmp = np.einsum("ij,jk->ik", _PHASH_DCT32_8, small, optimize=False)
    return np.einsum("ik,lk->il", tmp, _PHASH_DCT32_8, optimize=False)


def phash(img: np.ndarray) -> int:
    """64-bit perceptual hash (classic pHash construction)."""
    low = np.round(_phash_dct8(img).flatten(), 2)
    med = np.median(low[1:])  # exclude DC term from the median
    bits = (low > med).astype(np.uint64)
    bits[0] = 0  # DC bit pinned for stability
    val = np.uint64(0)
    for b in bits:
        val = (val << np.uint64(1)) | b
    return int(np.int64(val))  # reinterpret as signed for Spark LongType


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")


# ---------------------------------------------------------------------------
# Batched twins of synth_pixels / encode_dct / phash (the fetch stage's hot
# path). Each returns exactly what its scalar reference returns, bit for bit:
# every float op runs in the reference's order and dtype, and only the
# per-call numpy overhead is shared across a batch. The scalar functions
# above stay the reference (oracle, generators, tests compare against them).
# ---------------------------------------------------------------------------

_LINSPACE32 = [np.linspace(0, 1, n, dtype=np.float32) for n in range(65)]
# synth_pixels' four rng.uniform(lo, hi, 3) draws as one random(12):
# Generator.uniform computes lo + (hi - lo) * next_double
_SYNTH_LO = np.repeat([0.5, 0.5, 0.0, 64.0], 3)
_SYNTH_SPAN = np.repeat([2.5, 2.5, 6.28, 128.0], 3)
_TWO_PI32 = 2 * np.float32(np.pi)


def synth_pixels_batch(seeds, ws, hs) -> list[np.ndarray]:
    """``[synth_pixels(s, w, h) ...]`` for sides of at most 64 pixels,
    computed channel-first so every broadcast runs along a row instead of
    along the 3 channels."""
    out = []
    for seed, w, h in zip(seeds, ws, hs):
        r = np.random.default_rng(np.uint64(seed & 0xFFFFFFFFFFFFFFFF)).random(12)
        v = (_SYNTH_LO + _SYNTH_SPAN * r).astype(np.float32)[:, None, None]
        x = _LINSPACE32[w][None, None, :]
        y = _LINSPACE32[h][None, :, None]
        t = v[0:3] * x + v[3:6] * y  # (3, h, w)
        t *= _TWO_PI32
        t += v[6:9]
        np.sin(t, out=t)
        t *= 60
        t += v[9:12]
        t += 20 * (x - y)
        np.rint(t, out=t)
        np.maximum(t, 0, out=t)  # np.clip, without its per-call errstate
        np.minimum(t, 255, out=t)
        out.append(np.ascontiguousarray(t.transpose(1, 2, 0), dtype=np.uint8))
    return out


def encode_dct_stacked(img: np.ndarray) -> bytes:
    """``encode_dct(img)`` with the three channels in one stacked matmul.
    Each 8x8 block keeps a unit inner stride (row stride W), as in
    ``_to_blocks``, so numpy hands every block to the same BLAS call; a
    channel-last block layout falls off BLAS and changes coefficients."""
    h, w, _ = img.shape
    H, W = h + (-h) % _B, w + (-w) % _B
    chans = np.empty((3, H, W), dtype=np.float32)  # edge-padded, like np.pad
    chans[:, :h, :w] = img.transpose(2, 0, 1)
    chans[:, h:, :w] = chans[:, h - 1 : h, :w]
    chans[:, :, w:] = chans[:, :, w - 1 : w]
    blocks = chans.reshape(3, H // _B, _B, W // _B, _B).transpose(0, 1, 3, 2, 4)
    q = np.rint(_DCT32F @ blocks @ _IDCT32F / np.float32(_QSTEP)).astype(np.int16)
    return struct.pack(">II", w, h) + zlib.compress(q.tobytes(), 6)


def _area_bins(n: int, size: int = 32) -> tuple[np.ndarray, np.ndarray]:
    """The first and second source index that ``_area_resize_gray`` adds
    into each of the ``size`` target bins of an axis of length ``n``
    (n <= 64, so at most two); ``n`` where a bin gets none."""
    first, second = np.full(size, n), np.full(size, n)
    for src, tgt in enumerate(np.arange(n) * size // n):
        if first[tgt] == n:
            first[tgt] = src
        else:
            second[tgt] = src
    return first, second


_BINS = [_area_bins(n) for n in range(65)]
_BIN1 = np.stack([b[0] for b in _BINS])
_BIN2 = np.stack([b[1] for b in _BINS])
_BIN_CNT = np.stack([(b[0] < n).astype(float) + (b[1] < n) for n, b in enumerate(_BINS)])


def phash_batch(imgs: list[np.ndarray]) -> np.ndarray:
    """int64 array of ``phash(img)`` over images of at most 64 pixels a side."""
    low = np.round(_phash_dct8_batch(imgs).reshape(len(imgs), 64), 2)
    bits = low > np.median(low[:, 1:], axis=1)[:, None]
    bits[:, 0] = False
    return np.packbits(bits, axis=1).view(">u8").ravel().astype(np.int64)


# images per _phash_dct8_batch pass: a 10k-row Arrow batch in one pass
# peaks at ~430 MB of float64/int64 temporaries, in 256-image passes at
# ~16 MB, in the same time (tracemalloc and perf_counter, 10k random digests)
_PHASH_CHUNK = 256


def _phash_dct8_batch(imgs: list[np.ndarray]) -> np.ndarray:
    """(n, 8, 8) stack of ``_phash_dct8(img)``, bit for bit."""
    chunks = [_phash_dct8_chunk(imgs[i : i + _PHASH_CHUNK]) for i in range(0, len(imgs), _PHASH_CHUNK)]
    return np.concatenate(chunks) if chunks else np.empty((0, 8, 8))


def _phash_dct8_chunk(imgs: list[np.ndarray]) -> np.ndarray:
    n = len(imgs)
    hs = np.array([img.shape[0] for img in imgs], dtype=np.int64)
    ws = np.array([img.shape[1] for img in imgs], dtype=np.int64)
    # every gray image padded with a zero row and column, end to end: a
    # bin's missing contribution reads a zero, and x + 0.0 == x
    sizes = (hs + 1) * (ws + 1)
    offs = np.zeros(n, dtype=np.int64)
    np.cumsum(sizes[:-1], out=offs[1:])
    flat = np.zeros(int(sizes.sum()))
    for img, o, h, w in zip(imgs, offs.tolist(), hs.tolist(), ws.tolist()):
        flat[o : o + (h + 1) * (w + 1)].reshape(h + 1, w + 1)[:h, :w] = img.astype(np.float64) @ _GRAY
    # np.add.at's row-major order for one target cell: (r1,c1) (r1,c2)
    # (r2,c1) (r2,c2), starting from 0.0 — four ordered passes
    rows1 = offs[:, None] + _BIN1[hs] * (ws + 1)[:, None]
    rows2 = offs[:, None] + _BIN2[hs] * (ws + 1)[:, None]
    c1, c2 = _BIN1[ws][:, None, :], _BIN2[ws][:, None, :]
    acc = flat[rows1[:, :, None] + c1]
    acc += flat[rows1[:, :, None] + c2]
    acc += flat[rows2[:, :, None] + c1]
    acc += flat[rows2[:, :, None] + c2]
    cnt = _BIN_CNT[hs][:, :, None] * _BIN_CNT[ws][:, None, :]
    small = acc / np.maximum(cnt, 1.0)
    tmp = np.einsum("ij,njk->nik", _PHASH_DCT32_8, small, optimize=False)
    return np.einsum("nik,lk->nil", tmp, _PHASH_DCT32_8, optimize=False)


# ---------------------------------------------------------------------------
# Spread-spectrum watermark (Cox et al. 1997, integer spatial-domain form)
# ---------------------------------------------------------------------------

WM_STRENGTH = 6
WM_SCALE = 1000


def wm_pattern(key: int, w: int, h: int) -> np.ndarray:
    """Keyed +-1 pattern, shape (h, w, 3) int16 — the spread-spectrum
    carrier. INTEGER CONTRACT (the oracle recompute repeats it in pure
    Python, so it is part of the operator's correctness surface):

        idx  = C-order flat pixel index (channel-fastest)
        v0   = (idx * 2654435761 + key * 40503)      mod 2^32
        v1   = (v0 * 2246822519)                     mod 2^32
        v2   = v1 XOR (v1 >> 15)
        sign = +1 if (v2 >> 16) & 1 else -1

    Multiply-shift hashing, so the pattern carries no spatial structure
    to alias with image content, and distinct keys give near-orthogonal
    carriers."""
    idx = np.arange(h * w * 3, dtype=np.uint32)
    v = idx * np.uint32(2654435761) + np.uint32(key & 0xFFFFFFFF) * np.uint32(40503)
    v = v * np.uint32(2246822519)
    v = v ^ (v >> np.uint32(15))
    sign = ((v >> np.uint32(16)) & np.uint32(1)).astype(np.int16) * 2 - 1
    return sign.reshape(h, w, 3)


def embed_watermark(img: np.ndarray, key: int, strength: int = WM_STRENGTH) -> np.ndarray:
    """clip(img + strength * pattern(key)) — whole-array numpy, uint8 out."""
    h, w, _ = img.shape
    marked = img.astype(np.int16) + strength * wm_pattern(key, w, h)
    return np.clip(marked, 0, 255).astype(np.uint8)


def wm_corr_scaled(img: np.ndarray, key: int, scale: int = WM_SCALE) -> int:
    """Per-pixel watermark correlation, scaled-integer: the detection
    statistic ``(sum(pixel * sign) * scale) // n_values`` (Python floor
    division — exact, order-free integer sum, no float crosses engines).
    ~= strength * scale when the image carries pattern(key); zero-mean
    noise of order 255 * scale / sqrt(n) otherwise."""
    h, w, _ = img.shape
    corr = int((img.astype(np.int64) * wm_pattern(key, w, h).astype(np.int64)).sum())
    return (corr * scale) // int(img.size)


def wm_detect_threshold(strength: int = WM_STRENGTH, scale: int = WM_SCALE) -> int:
    """Decision threshold: half the expected watermarked statistic."""
    return strength * scale // 2
