"""The fetch stage: mapInPandas over salted host buckets.

This is the engine's single non-SQL stage (SURVEY.md §3.1): every other
stage is Catalyst expressions. Batches arrive via Arrow; the synthetic
fetch model (jobscrawler_spark.fetch_model) produces image+caption payloads
and outlinks, and rows leave with per-partition lineage (partition_id) for
the metrics table.

No Python hashing happens here: the model is keyed on the unsigned view of
the frontier's ``url_hash`` column (Spark's JVM-side xxhash64), so statuses
and UA indices are pure numpy over the whole Arrow batch, and the payloads
of a batch's 200-status rows come from one ``payloads_from_digests`` call,
bit-identical to the oracle's scalar ``payload_from_digest``. Per-image work
is left only where each image has its own seed, shape or stream: the
synth's RNG, the per-image numpy ops and the zlib of each png/dct payload
(the part that is network/IO in a real crawler); outlinks stay per URL.

Reference analogues: __fetch with UA rotation (reference:
src/crawler.py:306-319), follow-link discovery (src/utils/FollowLink.py:8-39),
non-200 logged-and-skipped (src/crawler.py:313-317).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame

from .. import fetch_model as FM
from ..schemas import FETCH_RESULT

_COLS = [f.name for f in FETCH_RESULT.fields]


def make_fetch_batches(round_no: int, max_depth: int):
    """The per-partition fetch computation as a reusable mapInPandas
    generator builder — run_fetch wraps it directly; bench.py's
    adversarial-skew phase wraps it with a per-partition timer to measure
    straggler spread without duplicating the fetch logic."""

    def fetch_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        for pdf in batches:
            n = len(pdf)
            dig = pdf["url_hash"].to_numpy(dtype=np.int64).view(np.uint64)
            status = FM.status_from_digests(dig)
            ua = FM.ua_from_digests(dig, round_no)
            urls = pdf["url"].to_numpy()
            depths = pdf["depth"].to_numpy()

            ok = np.flatnonzero(status == 200)
            data, w, h, fmt, caption, ph = FM.payloads_from_digests(dig[ok], urls[ok])
            data_c, fmt_c, cap_c, img_id = ([None] * n for _ in range(4))
            outlinks: list = [[]] * n
            for j, i in enumerate(ok.tolist()):
                data_c[i], fmt_c[i], cap_c[i] = data[j], fmt[j], caption[j]
                # frontier URLs are canonical by construction (with_canonical
                # at bootstrap and outlink ingestion) — image_id IS the url
                img_id[i] = urls[i]
                outlinks[i] = FM.outlinks_from_digest(int(dig[i]), urls[i], int(depths[i]), max_depth)

            def nullable(vals: np.ndarray) -> pd.arrays.IntegerArray:
                # null where status != 200: a None+int object column would
                # coerce to float64 and lose the low bits of 64-bit hashes
                col = np.zeros(n, dtype=vals.dtype)
                col[ok] = vals
                return pd.arrays.IntegerArray(col, status != 200)

            yield pd.DataFrame(
                {
                    "image_id": img_id,
                    "bytes": data_c,
                    "w": nullable(w),
                    "h": nullable(h),
                    "fmt": fmt_c,
                    "caption": cap_c,
                    "phash": nullable(ph),
                    "url": urls,
                    "url_hash": pdf["url_hash"].to_numpy(),
                    "host": pdf["host"].to_numpy(),
                    "status": status,
                    "round": np.full(n, round_no, dtype=np.int32),
                    "depth": depths,
                    "priority": pdf["priority"].to_numpy(),
                    "partition_id": np.full(n, pid, dtype=np.int32),
                    "user_agent_idx": ua,
                    "outlinks": outlinks,
                },
                columns=_COLS,
            )

    return fetch_batches


def run_fetch(selected: DataFrame, round_no: int, max_depth: int) -> DataFrame:
    """selected: (url, url_hash, host, shard, priority, depth, ...) ->
    FETCH_RESULT rows. Non-200 URLs produce a row with null payload (they
    still enter the seen set — a crawler must not refetch 403s)."""
    return selected.mapInPandas(
        make_fetch_batches(round_no, max_depth), schema=FETCH_RESULT
    )
