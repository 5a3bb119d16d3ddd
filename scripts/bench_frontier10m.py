#!/usr/bin/env python
"""10^7-row frontier, multi-round, cogroup-Bloom crawl demo
(round-2 verdict next-step #7): prove the PRODUCTION engine shape —
``bloom_probe_mode="cogroup"`` (the visited filter lives only in the
bloom_parts table, nothing transits the driver) plus periodic
compaction — end-to-end at a frontier three orders of magnitude past
the test fixtures, with per-round wall time and driver RSS ~flat.

Harness shape: the real bench web (24k fetchable pages) seeds the
crawl; a synthetic 10^7-row filler tier rides in the same frontier at
depth 0 with high counters, so heap order (depth desc, counter asc)
keeps it permanently below the fetchable tier — it is dead weight that
every per-round frontier operation (per-site top-K candidate prefix,
adds⟂pops anti-join, still-queued membership scan, compaction) must
carry, exactly like the long tail of a 10^10-URL production frontier.

Usage: python scripts/bench_frontier10m.py [n_filler] [rounds]
Writes one JSON line; record it in BENCH_SCALING.md (addendum).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import tempfile

from pyspark.sql import functions as F

from meilisearchcrawler_spark.config import CrawlConfig
from meilisearchcrawler_spark.engine.bench_crawl import bench_fixture
from meilisearchcrawler_spark.engine.crawler import CrawlEngine, bucket_col
from meilisearchcrawler_spark.session import get_spark

N_FILLER = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
ROUNDS = int(sys.argv[2]) if len(sys.argv) > 2 else 6


def rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return round(int(line.split()[1]) / 1024, 1)
    return -1.0


def main() -> None:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(master=f"local[{cpus}]",
                      shuffle_partitions=max(int(cpus), 8),
                      app_name="mcspark-frontier10m")
    spark.sparkContext.setLogLevel("ERROR")
    fx, paths = bench_fixture()
    root = tempfile.mkdtemp(prefix="mcspark_f10m_")
    # budget sized so the partial per-partition top-K limit stays in its
    # pruning regime (prefix_k = 8*budget+64 « per-partition per-site
    # frontier rows)
    cfg = CrawlConfig(round_budget=2_000, shuffle_partitions=int(cpus),
                      bloom_probe_mode="cogroup", compact_every=3)
    eng = CrawlEngine(spark, root, paths["pages"], fx.seeds, fx.robots, cfg,
                      initial_url_seen=fx.url_seen)

    # filler tier: depth 0 + counters above any real assignment → never
    # popped while fetchable work remains, but every frontier-wide
    # operation carries it. Spread across the engine's sites.
    sites = [s["site"] for s in fx.seeds]
    filler = (spark.range(N_FILLER)
              .select(F.concat(F.lit("site"), (F.col("id") % len(sites)))
                      .alias("site"),
                      F.concat(F.lit("http://filler.invalid/p"), F.col("id"))
                      .alias("url"),
                      F.lit("filler.invalid").alias("host"),
                      F.lit(0).cast("int").alias("depth"),
                      (F.col("id") + 1_000_000_000).alias("counter"))
              .withColumn("bucket", bucket_col(F.col("url"),
                                               cfg.seen_buckets)))
    rel = eng.catalog.stage("frontier_adds", filler, 0, max_files=0)
    eng.catalog.commit_round(eng.catalog.committed_round,
                             {"frontier_adds": [rel]}, eng.catalog.state)
    # out-of-band frontier injection: driver-side size tracking is now
    # stale; mark it unknown so the engine falls back to budget bounds
    for _st in eng.sites.values():
        _st.frontier_rows = None

    rounds_out = []
    for i in range(ROUNDS):
        t0 = time.perf_counter()
        progressed = eng.run_round()
        dt = round(time.perf_counter() - t0, 1)
        metrics = eng.catalog.read("metrics")
        fetched = 0
        if metrics is not None:
            row = (metrics.filter(F.col("round") == eng.round_no - 1)
                   .agg(F.sum("count").alias("n")).first())
            fetched = int(row["n"] or 0)
        rounds_out.append({"round": i, "sec": dt, "actions": fetched,
                           "driver_rss_mb": rss_mb()})
        print(f"# round {i}: {dt}s actions={fetched} rss={rss_mb()}MB",
              file=sys.stderr, flush=True)
        if not progressed:
            break

    secs = [r["sec"] for r in rounds_out]
    out = {
        "metric": "frontier10m_cogroup_round_sec",
        "n_filler": N_FILLER,
        "round_budget": cfg.round_budget,
        "bloom_probe_mode": cfg.bloom_probe_mode,
        "compact_every": cfg.compact_every,
        "rounds": rounds_out,
        "first_to_last_ratio": round(secs[-1] / secs[0], 2) if secs else None,
        "rss_first_mb": rounds_out[0]["driver_rss_mb"] if rounds_out else None,
        "rss_last_mb": rounds_out[-1]["driver_rss_mb"] if rounds_out else None,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
