#!/usr/bin/env python
"""spark-submit entry point for the crawl engine.

Cluster usage (the north-rule deployment shape)::

    python -m zipfile -c mcspark.zip meilisearchcrawler_spark/
    spark-submit --py-files mcspark.zip \\
        --num-executors 250 --executor-cores 4 \\
        scripts/run_crawl.py --catalog hdfs://.../crawl_cat \\
        --pages hdfs://.../pages.parquet --seeds seeds.json \\
        --round-budget 2000000 --host-budget 4096

Sandbox usage (generates the deterministic fixture web)::

    python scripts/run_crawl.py --demo
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--catalog", help="checkpoint catalog root dir")
    ap.add_argument("--pages", help="page-store parquet (the fetch 'network'); "
                    "its Arrow IPC twin (.feather) must sit beside it")
    ap.add_argument("--seeds", help="seeds JSON file (list of site configs)")
    ap.add_argument("--robots", help="robots JSON file")
    ap.add_argument("--round-budget", type=int, default=1024)
    ap.add_argument("--host-budget", type=int, default=None)
    ap.add_argument("--max-rounds", type=int, default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=32)
    ap.add_argument("--demo", action="store_true",
                    help="generate the fixture web and crawl it")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from meilisearchcrawler_spark.config import CrawlConfig
    from meilisearchcrawler_spark.engine.crawler import CrawlEngine
    from meilisearchcrawler_spark.session import ship_package

    spark = (SparkSession.builder.appName("mcspark-crawl")
             .config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
             .config("spark.sql.adaptive.enabled", "true")
             .getOrCreate())
    ship_package(spark)
    spark.sparkContext.setLogLevel("WARN")

    initial_seen = None
    if args.demo:
        from meilisearchcrawler_spark.fixtures.webgen import (
            generate_web, write_parquet,
        )

        fx = generate_web(seed=123, n_sites=4, pages_per_site=200,
                          fanout=(8, 14))
        tmp = tempfile.mkdtemp(prefix="mcspark_demo_")
        paths = write_parquet(fx, os.path.join(tmp, "web"))
        pages_path = paths["pages"]
        seeds, robots = fx.seeds, fx.robots
        initial_seen = fx.url_seen
        catalog = args.catalog or os.path.join(tmp, "catalog")
    else:
        if not (args.catalog and args.pages and args.seeds and args.robots):
            ap.error("--catalog/--pages/--seeds/--robots required (or --demo)")
        pages_path, catalog = args.pages, args.catalog
        with open(args.seeds) as f:
            seeds = json.load(f)
        with open(args.robots) as f:
            robots = json.load(f)

    cfg = CrawlConfig(round_budget=args.round_budget,
                      host_budget=args.host_budget,
                      max_rounds=args.max_rounds,
                      shuffle_partitions=args.shuffle_partitions)
    eng = CrawlEngine(spark, catalog, pages_path, seeds, robots, cfg,
                      initial_url_seen=initial_seen)
    rounds = eng.run()
    metrics = eng.catalog.read("metrics")
    summary = {}
    if metrics is not None:
        from pyspark.sql import functions as F

        for r in metrics.groupBy("action").agg(F.sum("count").alias("n")).collect():
            summary[r["action"]] = r["n"]
    print(json.dumps({"rounds": rounds, "catalog": catalog,
                      "actions": summary}))
    spark.stop()


if __name__ == "__main__":
    main()
