"""Outside-in tracer for the traced run.

The benchmark wraps the public entry points of each engine layer from its
own files (no engine code changes). Each call records a span: name, start,
end, parent and round id. ``CrawlEngine.run_round`` fans its work out to a
thread pool, so a span's parent is the round span in flight, found from the
round id the tracer holds, not from thread-locals; self time subtracts the
union of the child intervals, not their sum.

While a wrapped call runs, its thread carries the Spark local property
``perfbench.layer`` = span name, so every Spark job it submits can be
attributed to the layer from the event log.

Spans stay in memory and are written out at the end of the run.
"""

from __future__ import annotations

import functools
import inspect
import os
import threading
import time
from dataclasses import asdict, dataclass, field

LAYER_PROP = "perfbench.layer"


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    round: int | None  # round sequence number (counts rounds across crawls)
    thread: str
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals) -> float:
    """Total length covered by (start, end) intervals, overlaps counted once."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, children) -> float:
    """``span``'s duration minus the part of it its children cover."""
    clipped = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    ]
    return span.dur - union_length(clipped)


def _live_snaps(table) -> list[dict]:
    """Snapshots a read of ``table`` unions: everything since the last
    overwrite that holds data files."""
    live: list[dict] = []
    for s in table.snapshots():
        if s["mode"] == "overwrite":
            live = []
        live.append(s)
    return [s for s in live if s.get("has_data")]


def snapshot_files(table, sid: int) -> dict:
    """Files, bytes and rows (from parquet footers) of snapshot ``sid``."""
    import pyarrow.parquet as pq

    snap = next(s for s in table.snapshots() if s["id"] == sid)
    files = nbytes = rows = 0
    for root, _dirs, names in os.walk(os.path.join(table.path, snap["dir"])):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(root, n)
                files += 1
                nbytes += os.path.getsize(p)
                rows += pq.read_metadata(p).num_rows
    return {"files": files, "bytes": nbytes, "rows": rows}


def table_name(table) -> str:
    name = os.path.basename(table.path.rstrip("/"))
    return "frontier_rows" if name == "rows" else name


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._ids = 0
        self._round: tuple[int, int] | None = None  # (round seq, span id)
        self.round_seq = 0
        self._patched: list[tuple[type, str, object]] = []

    def _new_id(self) -> int:
        with self._lock:
            self._ids += 1
            return self._ids

    def _record(self, span: Span) -> None:
        with self._lock:
            self.spans.append(span)

    def wrap(self, cls, method: str, name: str, after=None, is_round: bool = False) -> None:
        """Replace ``cls.method`` with a span-recording wrapper.

        ``after(bound arguments, result) -> attrs`` runs once the call
        returns; its own time is recorded as a ``trace.hook`` child, so self
        times exclude it."""
        orig = getattr(cls, method)
        sig = inspect.signature(orig)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            sid = tracer._new_id()
            if is_round:
                tracer.round_seq += 1
                tracer._round = (tracer.round_seq, sid)
            rnd = tracer._round
            prev = tracer.sc.getLocalProperty(LAYER_PROP)
            tracer.sc.setLocalProperty(LAYER_PROP, name)
            start = time.time()
            try:
                out = orig(*args, **kwargs)
            finally:
                end = time.time()
                tracer.sc.setLocalProperty(LAYER_PROP, prev)
                if is_round:
                    tracer._round = None
            parent = None if is_round or rnd is None else rnd[1]
            seq = rnd[0] if rnd is not None else None
            attrs = {}
            if after is not None:
                attrs = after(sig.bind(*args, **kwargs).arguments, out)
                tracer._record(
                    Span(tracer._new_id(), "trace.hook", end, time.time(), parent, seq,
                         threading.current_thread().name)
                )
            tracer._record(
                Span(sid, name, start, end, parent, seq, threading.current_thread().name, attrs)
            )
            return out

        setattr(cls, method, wrapper)
        self._patched.append((cls, method, orig))

    def unwrap_all(self) -> None:
        for cls, method, orig in reversed(self._patched):
            setattr(cls, method, orig)
        self._patched.clear()

    def install(self) -> None:
        """Wrap the engine's layer entry points."""
        from jobscrawler_spark.engine import CrawlEngine
        from jobscrawler_spark.operators.seen_set import SeenSet
        from jobscrawler_spark.plans.delta_frontier import DeltaFrontier
        from jobscrawler_spark.plans.tables import SnapshotTable

        def table_write(a, sid):
            t = a["self"]
            return {"table": table_name(t), **snapshot_files(t, sid)}

        def table_read(a, _df):
            return {"table": table_name(a["self"]), "dirs": len(_live_snaps(a["self"]))}

        def frontier_read(a, _df):
            fr = a["self"]
            return {
                "live_snapshots": sum(len(_live_snaps(t)) for t in (fr.rows, fr.rm, fr.delay)),
                "tombstone_rows": fr.tombstone_rows(),
            }

        def frontier_insert(a, sid):
            rows = snapshot_files(a["self"].rows, sid)["rows"]
            return {"round_no": a["round_no"], "rows": rows}

        self.wrap(CrawlEngine, "run_round", "engine.run_round", is_round=True)
        for m in ("read", "insert", "remove", "compact"):
            after = {"read": frontier_read, "insert": frontier_insert}.get(m)
            self.wrap(DeltaFrontier, m, f"delta_frontier.{m}", after)
        for m in ("add", "filter_unseen", "expire", "compact"):
            self.wrap(SeenSet, m, f"seen_set.{m}")
        self.wrap(SnapshotTable, "append", "tables.append", table_write)
        self.wrap(SnapshotTable, "overwrite", "tables.overwrite", table_write)
        self.wrap(SnapshotTable, "read", "tables.read", table_read)

    def round_spans(self) -> dict[int, Span]:
        return {s.round: s for s in self.spans if s.name == "engine.run_round"}

    def dump(self) -> list[dict]:
        return [asdict(s) for s in sorted(self.spans, key=lambda s: s.start)]
