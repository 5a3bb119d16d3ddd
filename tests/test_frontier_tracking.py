"""Round-6 optimization internals: driver-tracked frontier sizes, the
escalation-stats skip, and the native per-site candidate prefix. They
only change PLAN shape / driver bookkeeping — these tests pin (a) the
tracked size against the actual live frontier every round, (b) that a
legacy checkpoint (state without ``frontier_rows``) still resumes and
completes identically, (c) the skip against the stats path on both
sides of its ``prefix_k`` precondition, and (d) the candidate prefix
against a pure-Python heap-order reference, plus its partial-limit
plan shape."""

from __future__ import annotations

import json
import os
from contextlib import contextmanager

from pyspark.sql import functions as F

from meilisearchcrawler_spark.config import CrawlConfig
from meilisearchcrawler_spark.engine.crawler import (
    WINDOW_GROUP_LIMIT_CONF, CrawlEngine, candidate_prefix)
from meilisearchcrawler_spark.fixtures.webgen import generate_web, write_parquet
from meilisearchcrawler_spark.oracle.refcrawler import crawl_site
from meilisearchcrawler_spark.session import ship_package


def _web(tmp_path, seed=19, n_sites=2, pages_per_site=24):
    fx = generate_web(seed=seed, n_sites=n_sites,
                      pages_per_site=pages_per_site)
    out = tmp_path / "web"
    out.mkdir(exist_ok=True)
    paths = write_parquet(fx, str(out))
    return fx, paths


def _live_counts(eng) -> dict[str, int]:
    live = eng._live_frontier()
    if live is None:
        return {}
    return {r["site"]: r["cnt"] for r in
            live.groupBy("site").agg(F.count("*").alias("cnt")).collect()}


def test_frontier_rows_tracks_live_frontier(spark, tmp_path):
    """After every round (including across a compaction, which folds
    pops without changing the live set), the driver-tracked
    ``frontier_rows`` equals the actual live-frontier row count."""
    ship_package(spark)
    fx, paths = _web(tmp_path)
    eng = CrawlEngine(spark, str(tmp_path / "cat"), paths["pages"],
                      fx.seeds, fx.robots,
                      CrawlConfig(round_budget=6, shuffle_partitions=4,
                                  compact_every=2),
                      initial_url_seen=fx.url_seen)
    for _ in range(40):
        progressed = eng.run_round()
        actual = _live_counts(eng)
        for name, st in eng.sites.items():
            assert st.frontier_rows is not None
            assert st.frontier_rows == actual.get(name, 0), \
                f"{name}: tracked {st.frontier_rows} != {actual.get(name, 0)}"
        if not progressed:
            break
    assert not any(s.active for s in eng.sites.values())
    # drained crawl: every tracked size is exactly zero
    assert all(s.frontier_rows == 0 for s in eng.sites.values())


def test_legacy_state_without_frontier_rows_resumes(spark, tmp_path):
    """A checkpoint whose state predates ``frontier_rows`` resumes with
    the field unknown (None), keeps the budget-only bounds, and
    completes with a crawl_log identical to an uninterrupted run."""
    ship_package(spark)
    fx, paths = _web(tmp_path)
    cfg = dict(round_budget=6, shuffle_partitions=4)

    full = CrawlEngine(spark, str(tmp_path / "full"), paths["pages"],
                       fx.seeds, fx.robots, CrawlConfig(**cfg),
                       initial_url_seen=fx.url_seen)
    full.run(max_rounds=300)
    want = sorted(map(tuple, full.catalog.read("crawl_log")
                      .select("site", "round", "pos_in_round", "url",
                              "counter", "action").collect()))

    part = CrawlEngine(spark, str(tmp_path / "part"), paths["pages"],
                       fx.seeds, fx.robots, CrawlConfig(**cfg),
                       initial_url_seen=fx.url_seen)
    part.run(max_rounds=2)
    # strip the round-6 field from the committed state, as a pre-round-6
    # checkpoint would have written it
    mpath = os.path.join(str(tmp_path / "part"), "manifest.json")
    with open(mpath) as f:
        manifest = json.load(f)
    for site_state in manifest["state"]["sites"].values():
        site_state.pop("frontier_rows")
    with open(mpath, "w") as f:
        json.dump(manifest, f)

    resumed = CrawlEngine(spark, str(tmp_path / "part"), paths["pages"],
                          fx.seeds, fx.robots, CrawlConfig(**cfg),
                          initial_url_seen=fx.url_seen)
    assert all(s.frontier_rows is None for s in resumed.sites.values())
    resumed.run(max_rounds=300)
    got = sorted(map(tuple, resumed.catalog.read("crawl_log")
                     .select("site", "round", "pos_in_round", "url",
                             "counter", "action").collect()))
    assert got == want


def test_escalation_stats_skip_is_row_identical(spark, tmp_path):
    """With tracked sizes under ``prefix_k`` the escalation stats
    collect is skipped. The crawl_log must be identical to a run whose
    sizes are unknown from round 1 on (every site's ``frontier_rows``
    set to None on a fresh engine — the public budget-only fallback),
    which puts every round on the stats path."""
    ship_package(spark)
    fx, paths = _web(tmp_path)
    cfg = dict(round_budget=6, shuffle_partitions=4)

    def run(root, untracked):
        eng = CrawlEngine(spark, root, paths["pages"], fx.seeds, fx.robots,
                          CrawlConfig(**cfg), initial_url_seen=fx.url_seen)
        if untracked:
            for st in eng.sites.values():
                st.frontier_rows = None
        eng.run(max_rounds=300)
        log = sorted(map(tuple, eng.catalog.read("crawl_log")
                         .select("site", "round", "pos_in_round", "url",
                                 "counter", "action").collect()))
        return eng, log

    tracked, want = run(str(tmp_path / "skip"), untracked=False)
    assert all(s.frontier_rows == 0 for s in tracked.sites.values())
    untracked, got = run(str(tmp_path / "stats"), untracked=True)
    # unknown stays unknown: no round of this run could take the skip
    assert all(s.frontier_rows is None for s in untracked.sites.values())
    assert got == want


def test_stats_path_when_frontier_fills_prefix(spark, tmp_path):
    """The skip's precondition, from the other side: with tracking on,
    a site whose tracked frontier reaches ``prefix_k`` (72 at
    ``round_budget=1``) must keep the stats path. The seed page links
    80 site-excluded URLs before its crawlable ones, so round 1's
    first 72 candidates are all inadmissible: only the stats collect
    sees that and escalates the prefix — a skipped collect would pop
    the 72 exclusions and admit nothing that round. The capped crawl
    must match the sequential reference: admitted sequence, url_seen
    and visited."""
    ship_package(spark)
    fx = generate_web(seed=19, n_sites=1, pages_per_site=30)
    site_cfg = fx.seeds[0]
    seed_page = next(p for p in fx.pages
                     if p["url"].rstrip("/") == site_cfg["seed_url"].rstrip("/"))
    html = seed_page["html"]
    at = html.index("<a href=")
    seed_page["html"] = (html[:at]
                         + "".join(f'<a href="/private/e{i}">l</a>'
                                   for i in range(80))
                         + html[at:])
    out = tmp_path / "web"
    out.mkdir()
    paths = write_parquet(fx, str(out))
    rounds, prefix_k = 4, 1 * 8 + 64
    eng = CrawlEngine(spark, str(tmp_path / "cat"), paths["pages"], fx.seeds,
                      fx.robots, CrawlConfig(round_budget=1,
                                             shuffle_partitions=4),
                      initial_url_seen=fx.url_seen)
    at_start = []
    for _ in range(rounds):
        at_start.append(eng.sites[site_cfg["site"]].frontier_rows)
        eng.run_round()
    assert max(at_start) >= prefix_k, at_start

    orc = crawl_site(fx, site_cfg, batch_size=1, max_rounds=rounds)
    log = eng.catalog.read("crawl_log").collect()
    got = sorted((r["round"], r["pos_in_round"], r["url"], r["counter"])
                 for r in log if r["action"] == "admitted")
    want = [(r["round"], r["pos_in_round"], r["url"], r["counter"])
            for r in orc.crawl_log if r["action"] == "admitted"]
    assert got == want
    fields = ("content_hash", "doc_id", "last_crawl", "etag",
              "last_modified")
    e_seen = {r["url"]: tuple(r[k] for k in fields)
              for r in eng.url_seen().collect()}
    o_seen = {u: tuple(e.get(k) for k in fields)
              for u, e in orc.url_seen.items()}
    assert e_seen == o_seen
    assert {r["url"] for r in eng.visited().collect()} == orc.visited


def _heap_prefix(rows: list[dict], k: int) -> list[tuple]:
    """Pure-Python reference: per site, the first ``k`` rows in heap
    pop order ``(-depth, counter)``, ranked from 1."""
    by_site: dict[str, list[dict]] = {}
    for r in rows:
        by_site.setdefault(r["site"], []).append(r)
    out = []
    for site_rows in by_site.values():
        site_rows.sort(key=lambda r: (-r["depth"], r["counter"]))
        out += [(r["site"], r["url"], r["host"], r["depth"], r["counter"],
                 rank) for rank, r in enumerate(site_rows[:k], 1)]
    return sorted(out)


def _tie_frontier(spark):
    """Three sites of 2400 / 900 / 300 rows over four depths (heavy
    depth ties), counters shuffled and spread over four partitions so
    the per-partition limits see interleaved ranks."""
    import random

    rnd = random.Random(7)
    rows = []
    for site, n in (("a", 2400), ("b", 900), ("c", 300)):
        counters = list(range(n))
        rnd.shuffle(counters)
        rows += [{"site": site, "url": f"{site}/{c}", "host": f"h{c % 5}",
                  "depth": rnd.randrange(4), "counter": c}
                 for c in counters]
    df = spark.createDataFrame(
        rows, schema="site string, url string, host string, depth int, "
                     "counter long").repartition(4)
    return rows, df


_WGL_KEY, _WGL_ENGINE = WINDOW_GROUP_LIMIT_CONF


@contextmanager
def _conf(spark, key: str, value: str):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def test_candidate_prefix_matches_heap_reference(spark):
    """The native top-K window returns exactly the heap-order prefix,
    with and without the partial per-partition limit (Spark's default
    threshold and the one the engine sets)."""
    rows, frontier = _tie_frontier(spark)
    for threshold in ("1000", _WGL_ENGINE):
        with _conf(spark, _WGL_KEY, threshold):
            for k in (1, 7, 50, 300, 1500, len(rows) + 1):
                got = sorted(map(tuple,
                                 candidate_prefix(frontier, k).collect()))
                assert got == _heap_prefix(rows, k), \
                    f"prefix_k={k} threshold={threshold} diverges"


def test_engine_plans_partial_limit_before_exchange(spark, tmp_path):
    """The engine lifts the optimizer's ``WindowGroupLimit`` threshold
    on whatever session it is given (here one at Spark's default
    1000), so a budget-sized prefix (K = 200·8+64) plans as a Partial
    ``WindowGroupLimit`` below the exchange on site, with no Python
    stage."""
    ship_package(spark)
    fx, paths = _web(tmp_path)
    _, frontier = _tie_frontier(spark)
    with _conf(spark, _WGL_KEY, "1000"):
        CrawlEngine(spark, str(tmp_path / "cat"), paths["pages"],
                    fx.seeds, fx.robots, CrawlConfig(shuffle_partitions=4))
        assert spark.conf.get(_WGL_KEY) == _WGL_ENGINE
        plan = (candidate_prefix(frontier, 200 * 8 + 64)
                ._jdf.queryExecution().executedPlan().toString())
    lines = plan.splitlines()
    partial = [i for i, ln in enumerate(lines)
               if "WindowGroupLimit" in ln and ln.rstrip().endswith("Partial")]
    site_exchange = [i for i, ln in enumerate(lines)
                     if "Exchange hashpartitioning(site" in ln]
    assert partial and site_exchange, plan
    assert partial[0] > site_exchange[0], plan
    assert "MapInPandas" not in plan and "PythonUDF" not in plan, plan
