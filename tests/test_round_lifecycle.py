"""Round lifecycle: what a failed round leaves behind, and how many Spark
jobs a small round costs.

A round's background writes, caches and driver state share one
lifetime. A staged write that fails must leave ``round_no``, every
``SiteState`` and the session's cache exactly as they were, and the
same engine must then finish the crawl as if nothing had happened.

Job counts are the round's cost model (~250 ms of scheduling per job on
a 4-core host), and they are deterministic where wall time is not, so
they are pinned per round on a small web.
"""

from __future__ import annotations

from meilisearchcrawler_spark.config import CrawlConfig
from meilisearchcrawler_spark.engine.crawler import CrawlEngine
from meilisearchcrawler_spark.fixtures.webgen import generate_web, write_parquet
from meilisearchcrawler_spark.session import ship_package

_CFG = dict(round_budget=6, shuffle_partitions=4)


def _web(tmp_path, seed=19):
    fx = generate_web(seed=seed, n_sites=2, pages_per_site=24)
    out = tmp_path / "web"
    out.mkdir(exist_ok=True)
    return fx, write_parquet(fx, str(out))


def _engine(spark, root, fx, paths, **cfg):
    return CrawlEngine(spark, root, paths["pages"], fx.seeds, fx.robots,
                       CrawlConfig(**{**_CFG, **cfg}),
                       initial_url_seen=fx.url_seen)


def _crawl_log(eng) -> list[tuple]:
    return sorted(map(tuple, eng.catalog.read("crawl_log")
                      .select("site", "round", "pos_in_round", "url",
                              "counter", "action").collect()))


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_failed_staged_write_leaves_engine_unchanged(spark, tmp_path,
                                                     monkeypatch):
    """One table's staged write fails in round 2. ``run_round`` raises
    only after every other background job has finished, with
    ``round_no``, the driver state and the session cache untouched;
    once the fault is gone the same engine completes with the crawl_log
    of an uninterrupted run."""
    ship_package(spark)
    fx, paths = _web(tmp_path)
    full = _engine(spark, str(tmp_path / "full"), fx, paths)
    full.run(max_rounds=300)
    want = _crawl_log(full)

    eng = _engine(spark, str(tmp_path / "cat"), fx, paths)
    eng.run(max_rounds=2)
    spark.catalog.clearCache()
    round_before, state_before = eng.round_no, eng._state_dict()
    committed_before = eng.catalog.committed_round

    real_stage = eng.catalog.stage

    def failing_stage(table, df, round_no, *args, **kwargs):
        if table == "documents":
            raise OSError("injected staged-write failure")
        return real_stage(table, df, round_no, *args, **kwargs)

    monkeypatch.setattr(eng.catalog, "stage", failing_stage)
    try:
        eng.run_round()
    except OSError as e:
        assert "injected" in str(e)
    else:
        raise AssertionError("run_round swallowed a failed staged write")
    assert eng.round_no == round_before
    assert eng._state_dict() == state_before
    assert eng.catalog.committed_round == committed_before
    assert _cache_empty(spark)

    monkeypatch.setattr(eng.catalog, "stage", real_stage)
    eng.run(max_rounds=300)
    assert _crawl_log(eng) == want


# Jobs per round on the seed-19 web, with compaction out of reach
# (local[4], 4-core host): round 0 pops only the two seeds (it has no
# visited set or content history to probe yet); rounds 1-5 are steady;
# round 6 finds every tracked frontier empty and retires both sites
# before any job.
_ROUND_JOBS_MAX = [31, 48, 48, 48, 48, 48]
_DRAINED_ROUND_JOBS = 0


def test_round_job_counts_pinned(spark, tmp_path):
    """Each round's Spark job count (no job group is set, so every job
    of the round is in the ungrouped set) stays at or below its pinned
    count, and the round that finds the frontier drained runs none."""
    ship_package(spark)
    fx, paths = _web(tmp_path)
    eng = _engine(spark, str(tmp_path / "cat"), fx, paths,
                  compact_every=1000)
    tracker = spark.sparkContext.statusTracker()
    counts = []
    progressed = True
    while progressed:
        before = set(tracker.getJobIdsForGroup(None))
        progressed = eng.run_round()
        counts.append(len(set(tracker.getJobIdsForGroup(None)) - before))
    assert len(counts) == len(_ROUND_JOBS_MAX) + 1, counts
    assert all(n <= cap for n, cap in zip(counts, _ROUND_JOBS_MAX)), counts
    assert counts[-1] == _DRAINED_ROUND_JOBS, counts
