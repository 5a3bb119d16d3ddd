#!/usr/bin/env python
"""Interleaved one-JVM A/B of the catalog read-handle cache
(CheckpointCatalog._read_paths memoizing lazy DataFrames by rel-path
set) on the bench.py crawl_round workload.

old: every catalog read re-runs spark.read.parquet (driver-side file
     listing + footer schema inference, ~10×/round over a dir set
     that grows each round)
new: the handle is reused for an identical (immutable) path set

Usage: python scripts/bench_readcache_ab.py [reps=5]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from meilisearchcrawler_spark.engine.bench_crawl import crawl_throughput  # noqa: E402
from meilisearchcrawler_spark.engine.catalog import CheckpointCatalog  # noqa: E402
from meilisearchcrawler_spark.session import get_spark  # noqa: E402

REPS = int(sys.argv[1]) if len(sys.argv) > 1 else 5

_cached = CheckpointCatalog._read_paths


def _uncached(self, table, rels):
    return self.spark.read.parquet(
        *[os.path.join(self.root, r) for r in rels])


def main() -> None:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(master=f"local[{cpus}]",
                      shuffle_partitions=max(int(cpus), 8),
                      app_name="mcspark-ab-readcache")
    spark.sparkContext.setLogLevel("ERROR")

    out: dict[str, list] = {"old": [], "new": []}
    rounds: dict[str, list] = {"old": [], "new": []}
    crawl_throughput(spark)  # warmup, unattributed
    for rep in range(REPS):
        for name, fn in (("old", _uncached), ("new", _cached)):
            CheckpointCatalog._read_paths = fn
            t0 = time.perf_counter()
            r = crawl_throughput(spark)
            sec = time.perf_counter() - t0
            out[name].append(round(r["sec"], 3))
            rounds[name].append(r["round_secs"])
            print(f"# rep {rep} {name}: {r['sec']:.2f}s "
                  f"rounds={r['round_secs']} fetched={r['pages_fetched']} "
                  f"indexed={r['pages_indexed']}",
                  file=sys.stderr, flush=True)
    CheckpointCatalog._read_paths = _cached
    res = {
        "metric": "crawl_round_ab_readcache",
        "reps": REPS,
        "old_median": round(statistics.median(out["old"]), 3),
        "new_median": round(statistics.median(out["new"]), 3),
        "old_raw": out["old"],
        "new_raw": out["new"],
        "old_rounds": rounds["old"],
        "new_rounds": rounds["new"],
    }
    print(json.dumps(res))
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "readcache_ab_out.json"), "w") as f:
        json.dump(res, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
