"""Crawl benchmark: ``CrawlEngine.bootstrap`` then ``run_round`` on named
workloads, every run checked against the oracle simulator.

    python3 perfbench/run.py --workload bulk_fetch --seed 42 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all            # every workload in turn

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run; its tracing overhead is measured against the
untraced ``wall_s`` an earlier untraced run recorded in this checkout, or
against an untraced run made first in a child process. The last stdout
line is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
A run whose crawl output differs from the oracle prints ``correct: false``
and exits 1.

Everything the run writes stays under ``.perfbench_out/`` in the checkout.
See ``perfbench/README.md`` for workloads, metrics and the layer map.
"""

from __future__ import annotations

import time

_T0 = time.monotonic()  # process start, for setup_s

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench_out")
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.oracle_check import OracleJob, compare, engine_result, source_digest  # noqa: E402
from perfbench.probes import PeakRss, dir_bytes  # noqa: E402
from perfbench.workloads import WORKLOADS, get_workload, make_inputs  # noqa: E402

END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "urls_per_s": "URLs/s",
    "frontier_ops_per_s": "ops/s",
    "round_p50_s": "s",
    "peak_rss_mb": "MB",
    "state_mb": "MB",
}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=15.0,
                    help="length of the timed window on the reference host")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="tiny inputs of the same workload shape (the benchmark's tests)")
    ap.add_argument("--tamper-fetch-log", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_gb() -> int:
    """A quarter of host memory, between 1 and 2 GB."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return max(1, min(2, kb // (4 * 1024 * 1024)))


def start_spark(run_dir: str, cores: int, trace: bool):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = f"{driver_mem_gb()}g"
    # no hsperfdata files in the system temp dir, from either JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from jobscrawler_spark.session import get_spark

    return get_spark("perfbench", cores=cores, shuffle_partitions=cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        proc.wait(timeout=60)


class Crawl:
    """Runs one workload on a live session and keeps what the metrics need."""

    def __init__(self, spark, w, seed: int, seconds: float, cores: int, run_dir: str,
                 oracle, tracer=None, tamper: bool = False):
        self.spark, self.w, self.seed = spark, w, seed
        self.n_timed = w.timed_rounds(seconds)
        self.cores, self.run_dir = cores, run_dir
        self.oracle, self.tracer, self.tamper = oracle, tracer, tamper
        self.rounds: list[dict] = []  # one record per timed round
        self.problems: list[str] = []
        self.t_ready: float | None = None
        self.oracle_wait_s = 0.0
        self.state_bytes = 0
        self._last_probed = None

    def _engine(self, name: str):
        from jobscrawler_spark.engine import CrawlEngine

        base = os.path.join(self.run_dir, name)
        shutil.rmtree(base, ignore_errors=True)
        return CrawlEngine(self.spark, base, **self.w.engine_kwargs(self.cores))

    def _ready(self) -> None:
        """Wait for the oracle child (it must not share the timed window)
        and stamp the end of set-up."""
        if self.t_ready is None:
            t = time.monotonic()
            self.oracle_result = self.oracle.result()
            self.oracle_wait_s = time.monotonic() - t
            self.t_ready = time.monotonic()
            log(f"set-up done at {self.t_ready - _T0:.1f} s "
                f"(oracle wait {self.oracle_wait_s:.1f} s)")

    def _timed_round(self, eng) -> None:
        t = time.monotonic()
        stats = eng.run_round()
        wall = time.monotonic() - t
        rec = {"wall_s": wall, "stats": stats}
        log(f"timed round {stats['round']}: {wall:.2f} s, {stats['selected']} URLs")
        if self.tracer is not None:
            rec["seq"] = self.tracer.round_seq
            rec.update(self._probe_counts(eng))
        self.rounds.append(rec)

    def _probe_counts(self, eng) -> dict:
        """Rows the round's seen-set probe tested, and how many the
        prefilter could not clear (read from the probe's cached output,
        after the round, outside its span)."""
        from pyspark.sql import functions as F

        probed = getattr(eng.seen, "_last_probed", None)
        if probed is None or probed is self._last_probed:
            return {"probe_rows": 0, "maybe_rows": 0}
        self._last_probed = probed
        row = probed.agg(
            F.count("*").alias("n"), F.sum(F.col("__maybe").cast("long")).alias("m")
        ).collect()[0]
        return {"probe_rows": int(row["n"]), "maybe_rows": int(row["m"] or 0)}

    def _check(self, eng) -> None:
        got = engine_result(eng, self.spark)
        if self.tamper and len(got["log"]) >= 2:
            got["log"][0], got["log"][1] = got["log"][1], got["log"][0]
        self.problems += compare(got, self.oracle_result)
        log("oracle check done")

    def run(self) -> None:
        w = self.w
        seeds, politeness, robots = make_inputs(w, self.seed)
        if w.fresh_crawl_per_round:
            # warm-up: a smaller crawl of the same shape, then a fresh
            # crawl (empty seen set, no deltas) for every timed round
            ws, wp, wr = make_inputs(w, self.seed, fraction=0.05)
            warm = self._engine("warmup")
            warm.bootstrap(ws, wp, wr)
            for _ in range(w.warmup_rounds):
                warm.run_round()
            shutil.rmtree(warm.base)
            log("warm-up crawl done")
            for i in range(self.n_timed):
                eng = self._engine(f"crawl{i}")
                eng.bootstrap(seeds, politeness, robots)
                self._ready()
                self._timed_round(eng)
                self._check(eng)
                self.state_bytes = dir_bytes(eng.base)
                shutil.rmtree(eng.base)
        else:
            eng = self._engine("crawl")
            eng.bootstrap(seeds, politeness, robots)
            log("bootstrap done")
            for _ in range(w.warmup_rounds):
                eng.run_round()
            log("warm-up rounds done")
            self._ready()
            for _ in range(self.n_timed):
                self._timed_round(eng)
            self._check(eng)
            self.state_bytes = dir_bytes(eng.base)
            shutil.rmtree(eng.base)

    def end_to_end(self, peak_rss_bytes: int) -> dict:
        walls = [r["wall_s"] for r in self.rounds]
        wall = sum(walls)
        fetched = sum(r["stats"]["selected"] for r in self.rounds)
        discovered = sum(r["stats"]["new_urls"] for r in self.rounds)
        return {
            "setup_s": self.t_ready - _T0 - self.oracle_wait_s,
            "wall_s": wall,
            "urls_per_s": fetched / wall,
            "frontier_ops_per_s": (fetched + discovered) / wall,
            "round_p50_s": statistics.median(walls),
            "peak_rss_mb": peak_rss_bytes / 1e6,
            "state_mb": self.state_bytes / 1e6,
        }


def log(msg: str) -> None:
    print(f"perfbench [{time.monotonic() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def emit(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> None:
    for name, value in metrics.items():
        print(f"{name} {value} {units[name]}")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)


def run_child(args: argparse.Namespace, workload: str, trace: int) -> dict:
    """Run this benchmark for ``workload`` in a child process; its result."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
    if args.small:
        cmd.append("--small")
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    lines = out.stdout.strip().splitlines()
    if not lines:
        raise RuntimeError(f"{' '.join(cmd)} printed no result (exit {out.returncode})")
    return json.loads(lines[-1])


def _untraced_log(args: argparse.Namespace) -> str:
    """Where untraced runs of this workload, run length and source record
    their ``wall_s``."""
    shape = repr((get_workload(args.workload, args.small), args.seconds))
    digest = hashlib.sha256(shape.encode()).hexdigest()[:8]
    digest += source_digest(os.path.join(ROOT, "jobscrawler_spark"))
    digest += source_digest(os.path.join(ROOT, "perfbench"))
    name = f"{args.workload}-{digest}"
    return os.path.join(OUT, "untraced", name + ".jsonl")


def record_untraced(args: argparse.Namespace, wall_s: float) -> None:
    path = _untraced_log(args)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a") as f:
        f.write(json.dumps({"seed": args.seed, "wall_s": wall_s}) + "\n")


def untraced_wall(args: argparse.Namespace) -> float | None:
    """``wall_s`` of an untraced run of the same workload and settings, for
    ``trace.overhead_s``: recorded by an earlier correct untraced run in this
    checkout (same seed, else the median over seeds), or measured now in a
    child process. None when that child's crawl fails the oracle check."""
    path = _untraced_log(args)
    recs = []
    if os.path.exists(path):
        with open(path) as f:
            recs = [json.loads(line) for line in f if line.strip()]
    same_seed = [r["wall_s"] for r in recs if r["seed"] == args.seed]
    if same_seed or recs:
        return statistics.median(same_seed or [r["wall_s"] for r in recs])
    res = run_child(args, args.workload, 0)
    return res["metrics"]["wall_s"]["value"] if res["correct"] else None


def run_all(args: argparse.Namespace) -> int:
    metrics, units, attempted, failed, correct = {}, {}, 0, 0, True
    for name in WORKLOADS:
        res = run_child(args, name, args.trace)
        correct &= res["correct"]
        attempted += res["attempted"]
        failed += res["failed"]
        for k, m in res["metrics"].items():
            metrics[f"{name}.{k}"] = m["value"]
            units[f"{name}.{k}"] = m["unit"]
    emit(correct, attempted, failed, metrics, units)
    return 0 if correct else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "jobscrawler_spark")):
        print(f"perfbench: no jobscrawler_spark package under {ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)

    untraced = untraced_wall(args) if args.trace else None
    w = get_workload(args.workload, args.small)
    cores = host_cores()
    run_dir = os.path.join(OUT, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    n_oracle = 1 if w.fresh_crawl_per_round else w.warmup_rounds + w.timed_rounds(args.seconds)
    oracle = OracleJob(ROOT, os.path.join(OUT, "oracle"), w, args.seed, n_oracle, args.small)
    exclude = frozenset([oracle.proc.pid]) if oracle.proc is not None else frozenset()
    log(f"{w.name}: {w.timed_rounds(args.seconds)} timed round(s), {cores} cores")
    try:
        with PeakRss(exclude) as rss:
            spark = start_spark(run_dir, cores, bool(args.trace))
            log("spark session up")
            tracer = None
            if args.trace:
                from perfbench.trace import Tracer

                tracer = Tracer(spark.sparkContext)
                tracer.install()
            crawl = Crawl(spark, w, args.seed, args.seconds, cores, run_dir, oracle,
                          tracer, args.tamper_fetch_log)
            try:
                crawl.run()
            finally:
                if tracer is not None:
                    tracer.unwrap_all()
                stop_spark(spark)
        log("spark stopped")
        correct = not crawl.problems
        for p in crawl.problems:
            print(f"perfbench: oracle mismatch: {p}", file=sys.stderr)
        attempted = len(crawl.rounds)
        failed = 0 if correct else attempted
        if args.trace and untraced is None:
            correct, failed = False, attempted
        print(f"failed_frac {failed / attempted} fraction")
        if args.trace:
            from perfbench.layers import PER_LAYER_UNITS, layer_metrics

            metrics, trace_doc = layer_metrics(
                crawl, tracer, os.path.join(run_dir, "events"), cores, untraced or 0.0
            )
            trace_dir = os.path.join(OUT, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{w.name}-seed{args.seed}.json"), "w") as f:
                json.dump(trace_doc, f)
            emit(correct, attempted, failed, metrics, PER_LAYER_UNITS)
        else:
            metrics = crawl.end_to_end(rss.peak)
            emit(correct, attempted, failed, metrics, END_TO_END_UNITS)
            if correct and not args.tamper_fetch_log:
                record_untraced(args, metrics["wall_s"])
        return 0 if correct else 1
    finally:
        oracle.close()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
