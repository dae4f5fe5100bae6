"""Oracle check: the engine's crawl output against ``OracleCrawler``.

The single-threaded simulator runs on the same generated inputs in a child
process that starts before the JVM, so its tens of seconds of pure Python
overlap Spark start-up instead of adding to the run. Its result is cached
per (workload shape, seed, rounds, engine source) under the benchmark's
output dir.

Compared outside the timed window:
- the landed fetch log in ``(round, priority, url)`` order;
- the final seen set (in re-crawl mode, the rows not yet expired).

Neither depends on page payloads, so the oracle child skips synthesizing
them (pixels, codec encode, perceptual hash: about 70% of its time).

Run as a module to compute one oracle result:
    python -m perfbench.oracle_check --workload W --seed N --rounds R --out F
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import subprocess
import sys

from .workloads import get_workload, make_inputs


def source_digest(pkg_dir: str) -> str:
    """Hash of the Python sources under ``pkg_dir``."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(pkg_dir):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                h.update(os.path.relpath(p, pkg_dir).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def compute_oracle(workload: str, seed: int, rounds: int, small: bool) -> dict:
    """The oracle's landed fetch log and seen set. Runs in its own process:
    it stubs out the fetch model's payload synthesis for that process."""
    from jobscrawler_spark import fetch_model
    from jobscrawler_spark.oracle.simulator import OracleCrawler

    # status and outlinks come from fetch_status / outlinks_for; the payload
    # only fills landed-row fields this check does not compare
    fetch_model.fetch_payload = lambda url: (b"", 0, 0, "", "", 0)
    w = get_workload(workload, small)
    seeds, politeness, robots = make_inputs(w, seed)
    orc = OracleCrawler(politeness, robots, **w.oracle_kwargs())
    orc.bootstrap(seeds)
    orc.run(rounds)
    return {
        "log": [[d["round"], d["priority"], d["url"]] for d in orc.landed],
        "seen": sorted(orc.seen),
    }


class OracleJob:
    """The oracle for one (workload, seed, rounds), computed in a child
    process or read from the cache. The cache key covers the workload's
    whole shape and the engine's sources."""

    def __init__(self, root: str, cache_dir: str, w, seed: int, rounds: int, small: bool):
        shape = hashlib.sha256(repr(w).encode()).hexdigest()[:8]
        engine = source_digest(os.path.join(root, "jobscrawler_spark"))
        key = f"{w.name}-{shape}-s{seed}-r{rounds}-{engine}"
        os.makedirs(cache_dir, exist_ok=True)
        self.path = os.path.join(cache_dir, key + ".json")
        self.proc = None
        if not os.path.exists(self.path):
            cmd = [sys.executable, "-m", "perfbench.oracle_check", "--workload", w.name,
                   "--seed", str(seed), "--rounds", str(rounds), "--out", self.path]
            if small:
                cmd.append("--small")
            self.proc = subprocess.Popen(cmd, cwd=root)

    def result(self, timeout: float = 170.0) -> dict:
        if self.proc is not None:
            rc = self.proc.wait(timeout=timeout)
            self.proc = None
            if rc != 0:
                raise RuntimeError(f"oracle process exited with {rc}")
        with open(self.path) as f:
            return json.load(f)

    def close(self) -> None:
        if self.proc is not None:
            self.proc.kill()
            self.proc.wait()
            self.proc = None


def engine_result(eng, spark) -> dict:
    """The engine's landed fetch log and effective seen set, in the same
    shape as ``compute_oracle``."""
    from pyspark.sql import functions as F

    rows = eng.fetch_log().select("round", "priority", "url").collect()
    seen = eng.seen.all_urls(spark)
    if eng.recrawl_after is not None:
        # URLs fetched at or before the last round's expiry cutoff are forgotten
        cutoff = eng.next_round - 1 - eng.recrawl_after - 1
        seen = seen.filter(F.col("round_added") > cutoff)
    return {
        "log": [[r["round"], r["priority"], r["url"]] for r in rows],
        "seen": sorted(r["url"] for r in seen.select("url").collect()),
    }


def compare(engine: dict, oracle: dict) -> list[str]:
    """Mismatch descriptions (empty when the engine matches the oracle)."""
    problems = []
    elog, olog = engine["log"], oracle["log"]
    if len(elog) != len(olog):
        problems.append(f"fetch log has {len(elog)} rows, oracle {len(olog)}")
    for i, (e, o) in enumerate(zip(elog, olog)):
        if list(e) != list(o):
            problems.append(f"fetch log row {i}: engine {e} != oracle {o}")
            break
    eseen, oseen = set(engine["seen"]), set(oracle["seen"])
    if eseen != oseen:
        problems.append(
            f"seen set: {len(eseen - oseen)} URLs only in engine, "
            f"{len(oseen - eseen)} only in oracle"
        )
    return problems


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rounds", type=int, required=True)
    ap.add_argument("--small", action="store_true")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    res = compute_oracle(args.workload, args.seed, args.rounds, args.small)
    tmp = args.out + f".tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(res, f)
    os.replace(tmp, args.out)


if __name__ == "__main__":
    main()
