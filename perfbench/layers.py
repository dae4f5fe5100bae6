"""Per-layer metrics of a traced run, from the tracer's spans and the Spark
event log. Unless a name says otherwise, a value is per timed round: the
total over the timed rounds divided by their number."""

from __future__ import annotations

import statistics
from collections import defaultdict

from . import eventlog
from .trace import self_time

TABLES = ("images", "seen_set", "seen_bloom", "frontier_rows", "tombstones", "metrics")

PER_LAYER_UNITS = {
    "engine.round_s": "s",
    "engine.self_s": "s",
    "engine.jobs_per_round": "count",
    "engine.phase.fetch_agg_s": "s",
    "engine.phase.images_write_s": "s",
    "engine.phase.seen_update_s": "s",
    "engine.phase.frontier_write_s": "s",
    "delta_frontier.read_s": "s",
    "delta_frontier.insert_s": "s",
    "delta_frontier.remove_s": "s",
    "delta_frontier.compact_s": "s",
    "delta_frontier.compactions": "count",
    "delta_frontier.tombstone_rows": "count",
    "delta_frontier.live_snapshots": "count",
    "seen_set.add_s": "s",
    "seen_set.probe_s": "s",
    "seen_set.expire_s": "s",
    "seen_set.compact_s": "s",
    "seen_set.probe_rows": "count",
    "seen_set.expired_rows": "count",
    "seen_set.backstop_frac": "fraction",
    "tables.commits": "count",
    "tables.read_dirs": "count",
    "tables.files_written": "count",
    "tables.bytes_written": "B",
    **{f"tables.write_s.{t}": "s" for t in TABLES},
    "fetch.urls": "count",
    "fetch.ok_frac": "fraction",
    "fetch.task_s": "s",
    "fetch.task_skew": "ratio",
    "frontier.select_task_s": "s",
    "frontier.shuffle_mb": "MB",
    "links.discovered": "count",
    "links.inserted": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.core_busy_frac": "fraction",
    "trace.overhead_s": "s",
}

# span name -> metric, for the layer calls whose time is summed per round
SPAN_TIMES = {
    "delta_frontier.read": "delta_frontier.read_s",
    "delta_frontier.insert": "delta_frontier.insert_s",
    "delta_frontier.remove": "delta_frontier.remove_s",
    "delta_frontier.compact": "delta_frontier.compact_s",
    "seen_set.add": "seen_set.add_s",
    "seen_set.filter_unseen": "seen_set.probe_s",
    "seen_set.expire": "seen_set.expire_s",
    "seen_set.compact": "seen_set.compact_s",
}

PHASES = {
    "fetch+agg": "engine.phase.fetch_agg_s",
    "images_write": "engine.phase.images_write_s",
    "seen_update": "engine.phase.seen_update_s",
    "frontier_write": "engine.phase.frontier_write_s",
}


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def layer_metrics(crawl, tracer, events_dir: str, cores: int, untraced_wall_s: float):
    """(metrics, trace document) for the timed rounds of ``crawl``."""
    recs = crawl.rounds
    n = len(recs)
    round_span = tracer.round_spans()
    timed = [round_span[r["seq"]] for r in recs]
    seqs = {s.round for s in timed}
    children = defaultdict(list)
    for s in tracer.spans:
        if s.round in seqs and s.name != "engine.run_round":
            children[s.round].append(s)
    kids = [s for seq in seqs for s in children[seq]]

    m: dict[str, float] = {}
    m["engine.round_s"] = statistics.median(s.dur for s in timed)
    m["engine.self_s"] = statistics.median(self_time(s, children[s.round]) for s in timed)
    for phase, name in PHASES.items():
        m[name] = statistics.median(r["stats"].get("phases", {}).get(phase, 0.0) for r in recs)

    for name in SPAN_TIMES.values():
        m[name] = 0.0
    for s in kids:
        if s.name in SPAN_TIMES:
            m[SPAN_TIMES[s.name]] += s.dur / n
    reads = [s for s in kids if s.name == "delta_frontier.read"]
    m["delta_frontier.compactions"] = sum(s.name == "delta_frontier.compact" for s in kids)
    m["delta_frontier.tombstone_rows"] = max((s.attrs["tombstone_rows"] for s in reads), default=0)
    m["delta_frontier.live_snapshots"] = max((s.attrs["live_snapshots"] for s in reads), default=0)

    probed = sum(r["probe_rows"] for r in recs)
    m["seen_set.probe_rows"] = probed / n
    inserts = [s for s in kids if s.name == "delta_frontier.insert"]
    round_no = {s.round: r["stats"]["round"] for s, r in zip(timed, recs)}
    # re-crawl re-enqueues are stamped with the previous round; link inserts with this one
    m["seen_set.expired_rows"] = sum(
        s.attrs["rows"] for s in inserts if s.attrs["round_no"] < round_no[s.round]
    ) / n
    m["seen_set.backstop_frac"] = _ratio(sum(r["maybe_rows"] for r in recs), probed)

    writes = [s for s in kids if s.name in ("tables.append", "tables.overwrite")]
    m["tables.commits"] = len(writes) / n
    m["tables.read_dirs"] = sum(s.attrs["dirs"] for s in kids if s.name == "tables.read") / n
    m["tables.files_written"] = sum(s.attrs["files"] for s in writes) / n
    m["tables.bytes_written"] = sum(s.attrs["bytes"] for s in writes) / n
    for t in TABLES:
        m[f"tables.write_s.{t}"] = sum(s.dur for s in writes if s.attrs["table"] == t) / n

    fetched = sum(r["stats"]["selected"] for r in recs)
    m["fetch.urls"] = fetched / n
    m["fetch.ok_frac"] = _ratio(sum(r["stats"]["ok"] for r in recs), fetched)
    m["links.discovered"] = sum(r["stats"]["new_urls"] for r in recs) / n
    m["links.inserted"] = sum(
        s.attrs["rows"] for s in inserts if s.attrs["round_no"] == round_no[s.round]
    ) / n

    # Spark runtime, from the event log: jobs and stages by submission time
    # inside a timed round's span
    jobs, stages = eventlog.load(eventlog.find_log(events_dir))

    def round_of(t: float):
        return next((s.round for s in timed if s.start <= t <= s.end), None)

    n_jobs = sum(round_of(t) is not None for t in jobs)
    in_rounds = [st for st in stages if round_of(st.submit_s) is not None]
    exec_run = sum(st.run_s for st in in_rounds)
    m["engine.jobs_per_round"] = n_jobs / n
    m["spark.jobs"] = n_jobs / n
    m["spark.stages"] = len(in_rounds) / n
    m["spark.tasks"] = sum(len(st.task_run_s) for st in in_rounds) / n
    m["spark.executor_run_s"] = exec_run / n
    m["spark.executor_cpu_s"] = sum(st.cpu_s for st in in_rounds) / n
    m["spark.gc_s"] = sum(st.gc_s for st in in_rounds) / n
    m["spark.shuffle_write_mb"] = sum(st.shuffle_write_bytes for st in in_rounds) / 1e6 / n
    m["spark.spill_mb"] = sum(st.spill_bytes for st in in_rounds) / 1e6 / n
    m["spark.core_busy_frac"] = _ratio(exec_run, sum(s.dur for s in timed) * cores)

    # the fused select + fetch job runs on run_round's own thread; Window
    # stages elsewhere (link dedupe in the pool threads) are not politeness
    fetch_job = [st for st in in_rounds if st.layer == "engine.run_round"]
    fetch = [st for st in fetch_job if st.role == "fetch"]
    select = [st for st in fetch_job if st.role == "select"]
    m["fetch.task_s"] = sum(st.run_s for st in fetch) / n
    skews = []
    for s in timed:
        tasks = [t for st in fetch if round_of(st.submit_s) == s.round for t in st.task_run_s]
        if tasks and statistics.median(tasks) > 0:
            skews.append(max(tasks) / statistics.median(tasks))
    m["fetch.task_skew"] = statistics.median(skews) if skews else 0.0
    m["frontier.select_task_s"] = sum(st.run_s for st in select) / n
    m["frontier.shuffle_mb"] = sum(st.shuffle_write_bytes for st in select) / 1e6 / n

    m["trace.overhead_s"] = sum(r["wall_s"] for r in recs) - untraced_wall_s

    by_layer: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for st in in_rounds:
        agg = by_layer[f"{st.layer}:{st.role}"]
        agg["stages"] += 1
        agg["executor_run_s"] += st.run_s
        agg["shuffle_write_mb"] += st.shuffle_write_bytes / 1e6
    doc = {
        "timed_rounds": [s.round for s in timed],
        "metrics": m,
        "stages_by_layer": by_layer,
        "spans": tracer.dump(),
    }
    return {k: m[k] for k in PER_LAYER_UNITS}, doc
