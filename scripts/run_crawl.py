"""spark-submit entry point for the crawl engine.

Cluster launch (the north-rule launch shape):

    zip -r jobscrawler_spark.zip jobscrawler_spark
    spark-submit --py-files jobscrawler_spark.zip \
        scripts/run_crawl.py --base /data/crawl --seeds 1000000 \
        --hosts 4096 --rounds 4 --budget 128

On a cluster the session comes from spark-submit's conf (--num-executors N
vs 4N for the scaling criterion); locally it falls back to local[CPUS].
Resumes from the checkpoint in --base automatically when one exists.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True, help="state directory (tables + checkpoint)")
    ap.add_argument("--seeds", type=int, default=100_000)
    ap.add_argument("--hosts", type=int, default=1024)
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--budget", type=int, default=64)
    ap.add_argument("--max-depth", type=int, default=1)
    ap.add_argument(
        "--n-shards", type=int, default=None,
        help="seen-set shards (default 64; a resumed crawl keeps its own)",
    )
    ap.add_argument("--resume", action="store_true", help="resume from checkpoint in --base")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from jobscrawler_spark.engine import CrawlEngine
    from jobscrawler_spark.generators import gen_politeness, gen_robots, gen_seeds_fast

    spark = SparkSession.getActiveSession()
    if spark is None:
        from jobscrawler_spark.session import get_spark

        spark = get_spark("run_crawl")

    kw = dict(default_budget=args.budget, max_depth=args.max_depth)
    if args.n_shards is not None:
        kw["n_shards"] = args.n_shards
    if args.resume or os.path.exists(os.path.join(args.base, "checkpoint.json")):
        eng = CrawlEngine.resume(spark, args.base, **kw)
        print(f"resumed at round {eng.next_round}", file=sys.stderr)
    else:
        eng = CrawlEngine(spark, args.base, **{"n_shards": 64, **kw})
        eng.bootstrap(
            gen_seeds_fast(args.seeds, args.hosts),
            gen_politeness(args.hosts),
            gen_robots(args.hosts),
        )

    t0 = time.monotonic()
    stats = eng.run(args.rounds)
    wall = time.monotonic() - t0
    fetched = sum(s["selected"] for s in stats)
    print(
        json.dumps(
            {
                "rounds": len(stats),
                "urls_fetched": fetched,
                "wall_sec": round(wall, 2),
                "urls_per_sec": round(fetched / wall, 1) if wall else None,
                "next_round": eng.next_round,
            }
        )
    )


if __name__ == "__main__":
    main()
