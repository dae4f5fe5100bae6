"""Spark event log aggregation for the traced run.

The traced run turns on Spark's event log through the benchmark's own
session conf (uncompressed, one file). After the session stops, this module
folds the log into one record per executed stage and attributes each stage
to a layer:

- the ``perfbench.layer`` local property the tracer set on the thread that
  submitted the job (the innermost wrapped engine call), else
- the module of the job's Python call site, else ``engine``;

and to an operator role by the scopes of its RDDs: ``fetch`` (MapInPandas,
the fetch UDF), ``select`` (Window, the politeness window whose output feeds
the salted repartition Exchange), or ``other``.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from .trace import LAYER_PROP


@dataclass
class Stage:
    stage_id: int
    submit_s: float  # epoch seconds
    layer: str
    role: str
    task_run_s: list[float] = field(default_factory=list)
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    @property
    def run_s(self) -> float:
        return sum(self.task_run_s)


def _layer(props: dict) -> str:
    layer = props.get(LAYER_PROP)
    if layer:
        return layer
    site = props.get("callSite.short") or ""
    if " at " in site and ".py:" in site:
        path = site.split(" at ", 1)[1].rsplit(":", 1)[0]
        return os.path.splitext(os.path.basename(path))[0]
    return "engine"


def _role(scopes: set[str]) -> str:
    if "MapInPandas" in scopes and "InMemoryTableScan" not in scopes:
        return "fetch"
    if "Window" in scopes:
        return "select"
    return "other"


def find_log(events_dir: str) -> str:
    files = [
        os.path.join(events_dir, f)
        for f in os.listdir(events_dir)
        if not f.startswith(".") and not f.endswith(".inprogress")
    ]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {events_dir}, found {files}")
    return files[0]


def load(path: str) -> tuple[list[float], list[Stage]]:
    """(job submission times, executed stages) from one event log file."""
    jobs: list[float] = []
    props_of: dict[int, dict] = {}
    stages: dict[int, Stage] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jobs.append(e["Submission Time"] / 1000.0)
            elif kind == "SparkListenerStageSubmitted":
                props_of[e["Stage Info"]["Stage ID"]] = e.get("Properties") or {}
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                sid = si["Stage ID"]
                scopes = {
                    json.loads(r["Scope"])["name"].strip()
                    for r in si["RDD Info"]
                    if r.get("Scope")
                }
                st = stages.setdefault(sid, Stage(sid, 0.0, "", ""))
                st.submit_s = si["Submission Time"] / 1000.0
                st.layer = _layer(props_of.get(sid, {}))
                st.role = _role(scopes)
            elif kind == "SparkListenerTaskEnd":
                tm = e.get("Task Metrics")
                if not tm:
                    continue
                st = stages.setdefault(e["Stage ID"], Stage(e["Stage ID"], 0.0, "", ""))
                st.task_run_s.append(tm["Executor Run Time"] / 1000.0)
                st.cpu_s += tm["Executor CPU Time"] / 1e9
                st.gc_s += tm["JVM GC Time"] / 1000.0
                st.shuffle_write_bytes += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                st.spill_bytes += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
    return jobs, [s for s in stages.values() if s.layer]
