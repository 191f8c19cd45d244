"""Profile just the crawl round loop (no headline queries) at one core
count, with the engine's DEBUG stage ticks. Usage:

    python scripts/profile_crawl.py --cpus 8 --hosts 64 --pages 1200
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--hosts", type=int, default=64)
    ap.add_argument("--pages", type=int, default=1200)
    args = ap.parse_args()

    logging.basicConfig(format="%(message)s")
    logging.getLogger("krawler_spark.engine").setLevel(logging.DEBUG)
    os.environ.setdefault("SPARK_LOCAL_DIRS", "/dev/shm/sparktmp")

    from krawler_spark.session import get_spark
    from bench import crawl_bench

    spark = get_spark("ks-profile", cores=args.cpus,
                      shuffle_partitions=max(args.cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    crawl = crawl_bench(spark, args.hosts, args.pages)
    print(json.dumps({"cpus": args.cpus, "crawl": crawl,
                      "wall": round(time.time() - t0, 2)}))


if __name__ == "__main__":
    main()
