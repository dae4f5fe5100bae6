"""The fetch stage's batched payload path is bit-identical to the scalar
reference (``fetch_model.payload_from_digest``), which the oracle
simulator, the expected results and the fixture generators use. Any change
in the order or dtype of a float op (synth, dct encode, phash) shows up
as a differing field on some of these digests."""

import numpy as np
import pandas as pd

from jobscrawler_spark import fetch_model as FM
from jobscrawler_spark.functions import codecs as C
from jobscrawler_spark.operators.fetch import make_fetch_batches


def _edge_digests(rng) -> np.ndarray:
    """One digest for each (w, h, fmt) with w and h in {8, 64}."""
    pool = rng.integers(0, 2**64 - 1, 400_000, dtype=np.uint64, endpoint=True)
    w = 8 + (pool >> np.uint64(8)) % np.uint64(57)
    h = 8 + (pool >> np.uint64(16)) % np.uint64(57)
    fmt = (pool >> np.uint64(24)) % np.uint64(3)
    picked = []
    for wv in (8, 64):
        for hv in (8, 64):
            for f in range(3):
                hit = np.flatnonzero((w == wv) & (h == hv) & (fmt == f))
                assert len(hit), (wv, hv, f)
                picked.append(pool[hit[0]])
    return np.array(picked, dtype=np.uint64)


def test_batched_payloads_match_the_scalar_reference():
    rng = np.random.default_rng(20260)
    d = np.concatenate([
        rng.integers(0, 2**64 - 1, 20_000, dtype=np.uint64, endpoint=True),
        _edge_digests(rng),
    ])
    urls = [f"http://h{i % 64:02d}.example.com/p/{i}" for i in range(len(d))]
    data, w, h, fmts, captions, ph = FM.payloads_from_digests(d, np.array(urls, dtype=object))
    assert w.dtype == np.int32 and h.dtype == np.int32 and ph.dtype == np.int64
    assert {(int(a), int(b), f) for a, b, f in zip(w[-12:], h[-12:], fmts[-12:])} == {
        (wv, hv, f) for wv in (8, 64) for hv in (8, 64) for f in FM.FMTS
    }
    for i, (x, url) in enumerate(zip(d.tolist(), urls)):
        got = (data[i], int(w[i]), int(h[i]), fmts[i], captions[i], int(ph[i]))
        assert type(data[i]) is bytes
        assert got == FM.payload_from_digest(x, url), (i, x)

    # the phash bits hide float64 differences below its 2-decimal rounding:
    # the pixels and the unrounded DCT block must match bit for bit too
    imgs = C.synth_pixels_batch(d.tolist(), w.tolist(), h.tolist())
    for x, img, wv, hv in zip(d.tolist(), imgs, w.tolist(), h.tolist()):
        ref = C.synth_pixels(x, wv, hv)
        assert img.dtype == ref.dtype and img.flags.c_contiguous
        assert np.array_equal(img, ref), x
    dct8 = C._phash_dct8_batch(imgs)
    ref8 = np.stack([C._phash_dct8(img) for img in imgs])
    assert np.array_equal(dct8.view(np.int64), ref8.view(np.int64))


def test_fetch_batch_rows_carry_the_reference_payload_or_nulls():
    rng = np.random.default_rng(7)
    n = 300
    h64 = rng.integers(-(2**63), 2**63 - 1, n, dtype=np.int64)
    pdf = pd.DataFrame({
        "url": [f"http://h{i % 8:02d}.example.com/d1/{i}" for i in range(n)],
        "url_hash": h64,
        "host": [f"h{i % 8:02d}.example.com" for i in range(n)],
        "priority": rng.random(n),
        "depth": np.ones(n, dtype=np.int32),
    })
    dig = h64.view(np.uint64)
    status = FM.status_from_digests(dig)
    assert (status != 200).any() and (status == 200).any()
    # the second batch has no 200 row, so its payload call gets no digest
    out, no_ok = make_fetch_batches(round_no=3, max_depth=2)(iter([pdf, pdf[status != 200]]))
    assert len(no_ok) == (status != 200).sum()
    assert no_ok["bytes"].isna().all() and no_ok["phash"].isna().all()
    assert str(no_ok["w"].dtype) == "Int32" and str(no_ok["phash"].dtype) == "Int64"
    for i, row in enumerate(out.itertuples(index=False)):
        if status[i] != 200:
            assert row.bytes is None and row.image_id is None and row.outlinks == []
            assert pd.isna(row.w) and pd.isna(row.h) and pd.isna(row.phash)
            continue
        d, url = int(dig[i]), pdf["url"][i]
        assert (row.bytes, row.w, row.h, row.fmt, row.caption, row.phash) == FM.payload_from_digest(d, url)
        assert row.image_id == url
        assert row.outlinks == FM.outlinks_from_digest(d, url, 1, 2)
    assert str(out["w"].dtype) == "Int32" and str(out["phash"].dtype) == "Int64"
