#!/usr/bin/env python
"""Decompose the per-round FIXED driver cost at the frontier10m
harness (round-4 verdict #3: "shrink the ~10-12 s/round fixed cost;
done = measured fixed cost <= ~5 s/round at the frontier10m harness").

Same shape as scripts/bench_frontier10m.py (10^7-row filler tier,
2k-URL rounds, cogroup Bloom, compact_every=3) but with the engine's
driver-blocking phases individually timed via monkeypatch:

  select_pops   top-K candidate prefix + admission + stats collect
  cuts          the three lazy localCheckpoint lineage cuts
  flush_commit  staged parquet writes (thread pool) + manifest commit
  compact       periodic snapshot/histogram/index rewrite (amortized)
  exec_rest     _execute_round minus cuts/flush/commit (metrics +
                bloom-delta collects, plan construction)

Writes one JSON line with per-round phase tables.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from meilisearchcrawler_spark.config import CrawlConfig  # noqa: E402
from meilisearchcrawler_spark.engine import catalog as catalog_mod  # noqa: E402
from meilisearchcrawler_spark.engine import crawler as crawler_mod  # noqa: E402
from meilisearchcrawler_spark.engine.bench_crawl import bench_fixture  # noqa: E402
from meilisearchcrawler_spark.engine.crawler import (  # noqa: E402
    CrawlEngine, bucket_col)
from meilisearchcrawler_spark.session import get_spark  # noqa: E402

N_FILLER = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
ROUNDS = int(sys.argv[2]) if len(sys.argv) > 2 else 6

PHASES: dict[str, float] = {}


def timed(name):
    def deco(fn):
        def wrap(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                PHASES[name] = PHASES.get(name, 0.0) + (
                    time.perf_counter() - t0)
        return wrap
    return deco


def main() -> None:
    crawler_mod.CrawlEngine._select_pops = timed("select_pops")(
        crawler_mod.CrawlEngine._select_pops)
    crawler_mod.CrawlEngine._cut = timed("cuts")(
        crawler_mod.CrawlEngine._cut)
    crawler_mod.CrawlEngine._execute_round = timed("exec_total")(
        crawler_mod.CrawlEngine._execute_round)
    crawler_mod.CrawlEngine._compact = timed("compact")(
        crawler_mod.CrawlEngine._compact)
    catalog_mod.CheckpointCatalog.commit_round = timed("flush_commit")(
        catalog_mod.CheckpointCatalog.commit_round)

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(master=f"local[{cpus}]",
                      shuffle_partitions=max(int(cpus), 8),
                      app_name="mcspark-roundprof")
    spark.sparkContext.setLogLevel("ERROR")
    fx, paths = bench_fixture()
    root = tempfile.mkdtemp(prefix="mcspark_fprof_")
    cfg = CrawlConfig(round_budget=2_000, shuffle_partitions=int(cpus),
                      bloom_probe_mode="cogroup", compact_every=3)
    eng = CrawlEngine(spark, root, paths["pages"], fx.seeds, fx.robots, cfg,
                      initial_url_seen=fx.url_seen)

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
    PHASES.clear()

    rounds_out = []
    for i in range(ROUNDS):
        PHASES.clear()
        t0 = time.perf_counter()
        progressed = eng.run_round()
        wall = time.perf_counter() - t0
        row = {k: round(v, 2) for k, v in PHASES.items()}
        # flush_commit is timed inside exec_total; compact is outside
        row["exec_rest"] = round(
            PHASES.get("exec_total", 0.0) - PHASES.get("cuts", 0.0)
            - PHASES.get("flush_commit", 0.0), 2)
        row["wall"] = round(wall, 2)
        row["other"] = round(
            wall - PHASES.get("select_pops", 0.0)
            - PHASES.get("exec_total", 0.0)
            - PHASES.get("compact", 0.0), 2)
        row.pop("exec_total", None)
        rounds_out.append(row)
        print(f"# round {i}: {row}", file=sys.stderr, flush=True)
        if not progressed:
            break

    print(json.dumps({"metric": "frontier10m_round_phase_sec",
                      "n_filler": N_FILLER, "rounds": rounds_out}))
    spark.stop()


if __name__ == "__main__":
    main()
