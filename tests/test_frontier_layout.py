"""Round-4 frontier layout: the histogram pop cutoff must NEVER prune
a row that belongs to any site's heap-order top-``need`` prefix, the
histogram must describe the snapshot exactly, and the engine's pruned
pop view must select the same candidates as a full live-frontier scan.

These pin the math directly; the equivalence suite pins the end-to-end
behavior (compaction runs inside every multi-round equivalence test).
"""

from __future__ import annotations

import random

import pytest

from meilisearchcrawler_spark.engine.crawler import (
    _HIST_RANKS,
    candidate_prefix,
    frontier_hist,
    pop_cutoff,
)


def _hist_of(rows: list[tuple[str, int, int]]) -> dict:
    """Reference histogram builder: counts + geometric-rank counter
    quantiles per (site, depth), ranks always including the last row."""
    by: dict = {}
    for site, depth, counter in rows:
        by.setdefault(site, {}).setdefault(depth, []).append(counter)
    hist: dict = {}
    for site, depths in by.items():
        hist[site] = {}
        for depth, counters in depths.items():
            counters.sort()
            ranks = [[r, counters[r - 1]] for r in _HIST_RANKS
                     if r <= len(counters)]
            if not ranks or ranks[-1][0] != len(counters):
                ranks.append([len(counters), counters[-1]])
            hist[site][str(depth)] = {"n": len(counters), "ranks": ranks}
    return hist


def _top_need(rows, site, need):
    """Heap-order (depth desc, counter asc) top-need rows of one site."""
    mine = sorted((r for r in rows if r[0] == site),
                  key=lambda r: (-r[1], r[2]))
    return mine[:need]


def _kept(rows, cut):
    if cut is None:
        return list(rows)
    g, c = cut
    return [r for r in rows if r[1] > g or (r[1] == g and r[2] <= c)]


class TestPopCutoff:
    def test_covers_top_need_randomized(self):
        rng = random.Random(7)
        for trial in range(25):
            n_sites = rng.randint(1, 4)
            rows = []
            for s in range(n_sites):
                for i in range(rng.randint(1, 400)):
                    rows.append((f"s{s}", rng.randint(0, 4),
                                 rng.randint(0, 10_000)))
            # distinct counters per site (frontier invariant)
            seen = set()
            rows = [r for r in rows
                    if (r[0], r[2]) not in seen and not seen.add((r[0], r[2]))]
            hist = _hist_of(rows)
            needs = {f"s{s}": rng.randint(1, 200) for s in range(n_sites)}
            cut = pop_cutoff(hist, needs)
            kept = set(_kept(rows, cut))
            for site, need in needs.items():
                for row in _top_need(rows, site, need):
                    assert row in kept, (trial, cut, site, row)

    def test_rank_ladder_slack_bounded(self):
        # one site, one depth, 10_000 rows, need 100 → the ladder picks
        # rank 512: kept rows ≤ one geometric step above the need
        rows = [("a", 2, i) for i in range(10_000)]
        cut = pop_cutoff(_hist_of(rows), {"a": 100})
        kept = _kept(rows, cut)
        assert 100 <= len(kept) <= 512

    def test_none_when_site_needs_everything(self):
        rows = [("a", 1, i) for i in range(50)]
        assert pop_cutoff(_hist_of(rows), {"a": 51}) is None
        assert pop_cutoff(_hist_of(rows), {"a": 50}) is not None

    def test_missing_site_does_not_constrain(self):
        rows = [("a", 3, i) for i in range(1000)]
        cut = pop_cutoff(_hist_of(rows), {"a": 10, "delta_only_site": 10})
        assert cut is not None and cut[0] == 3

    def test_union_over_sites_is_min_g_max_c(self):
        rows = ([("deep", 4, i) for i in range(1000)]
                + [("shallow", 1, i) for i in range(1000)])
        cut = pop_cutoff(_hist_of(rows), {"deep": 10, "shallow": 10})
        assert cut is not None
        g, c = cut
        assert g == 1  # shallow site's band
        kept = set(_kept(rows, cut))
        for site in ("deep", "shallow"):
            for row in _top_need(rows, site, 10):
                assert row in kept

    def test_no_hist_means_no_pruning(self):
        assert pop_cutoff(None, {"a": 1}) is None
        assert pop_cutoff({}, {"a": 1}) is None

    def test_cut_on_deltas_keeps_live_top_randomized(self):
        """The cut applied to every tier: with delta rows added for
        covered sites and up to ``pops`` snapshot rows popped, the
        rows it keeps (an uncovered site keeps all of its delta rows)
        still hold each site's top-``prefix_k`` of the live union."""
        rng = random.Random(23)
        for trial in range(40):
            snap, deltas, pops = [], [], {}
            counter = 0
            for s in range(rng.randint(1, 3)):
                for _ in range(rng.randint(1, 300)):
                    counter += rng.randint(1, 3)
                    snap.append((f"s{s}", rng.randint(0, 4), counter))
            covered = sorted({r[0] for r in snap})
            for site in covered + ["fresh"]:
                for _ in range(rng.randint(0, 200)):
                    counter += rng.randint(1, 3)
                    deltas.append((site, rng.randint(0, 5), counter))
            hist = _hist_of(snap)
            live_snap = list(snap)
            for site in covered:
                mine = [r for r in live_snap if r[0] == site]
                pops[site] = rng.randint(0, len(mine))
                for r in rng.sample(mine, pops[site]):
                    live_snap.remove(r)
            prefix_k = rng.randint(1, 120)
            needs = {site: prefix_k + pops.get(site, 0)
                     for site in covered + ["fresh"]}
            cut = pop_cutoff(hist, needs)
            live = live_snap + deltas
            kept = set(_kept(live_snap, cut))
            kept |= {r for r in deltas
                     if r in set(_kept(deltas, cut)) or r[0] not in hist}
            for site in needs:
                for row in _top_need(live, site, prefix_k):
                    assert row in kept, (trial, cut, site, row)
            assert {r for r in deltas if r[0] == "fresh"} <= kept


class TestFrontierHistSpark:
    def test_matches_reference_builder(self, spark):
        rng = random.Random(11)
        rows = [(f"s{rng.randint(0, 2)}", rng.randint(0, 3), i)
                for i in range(500)]
        df = spark.createDataFrame(rows, "site string, depth int, counter long")
        got = frontier_hist(df)
        assert got == _hist_of(rows)


class TestEnginePrunedPopView:
    def test_pruned_view_selects_same_candidates(self, spark, tmp_path):
        """After a compaction, candidate_prefix over the engine's
        histogram-pruned pop view must equal candidate_prefix over the
        full live frontier (the pruning is invisible to selection)."""
        from meilisearchcrawler_spark.config import CrawlConfig
        from meilisearchcrawler_spark.engine.crawler import CrawlEngine
        from meilisearchcrawler_spark.fixtures.webgen import (
            generate_web, write_parquet)

        fx = generate_web(seed=9, n_sites=2, pages_per_site=40)
        paths = write_parquet(fx, str(tmp_path / "web"))
        eng = CrawlEngine(spark, str(tmp_path / "cat"), paths["pages"],
                          fx.seeds, fx.robots,
                          CrawlConfig(round_budget=6, shuffle_partitions=8,
                                      compact_every=2),
                          initial_url_seen=fx.url_seen)
        eng.run(max_rounds=5)  # ≥2 compactions → pruned regime active
        assert eng.catalog.meta.get("frontier_hist")
        budgets = {s: 6 for s in eng.sites}
        prefix_k = 6 * 8 + 64
        pruned = eng._pop_frontier(budgets, prefix_k)
        if pruned is None:
            pytest.skip("frontier exhausted before the probe")
        full = eng._live_frontier()
        full = full.filter(full.site.isin(list(budgets)))
        want = sorted(tuple(r) for r in candidate_prefix(full, prefix_k)
                      .select("site", "url", "depth", "counter").collect())
        got = sorted(tuple(r) for r in candidate_prefix(pruned, prefix_k)
                     .select("site", "url", "depth", "counter").collect())
        assert got == want


def _inject_filler(spark, eng, rows: int) -> str:
    """Commit ``rows`` frontier rows below every fetchable row in heap
    order (depth 0, counters from 10^9) as one out-of-band delta, the
    way a bulk load lands; returns its rel."""
    from pyspark.sql import functions as F

    from meilisearchcrawler_spark.engine.crawler import bucket_col

    sites = sorted(eng.sites)
    filler = (spark.range(rows)
              .select(F.element_at(F.array(*map(F.lit, sites)),
                                   (F.col("id") % len(sites) + 1).cast("int"))
                      .alias("site"),
                      F.concat(F.lit("http://filler.invalid/p"), F.col("id"))
                      .alias("url"),
                      F.lit("filler.invalid").alias("host"),
                      F.lit(0).cast("int").alias("depth"),
                      (F.col("id") + 1_000_000_000).alias("counter"))
              .withColumn("bucket", bucket_col(F.col("url"),
                                               eng.cfg.seen_buckets)))
    rel = eng.catalog.stage("frontier_adds", filler, 0, max_files=0)
    eng.catalog.commit_round(eng.catalog.committed_round,
                             {"frontier_adds": [rel]}, eng.catalog.state)
    for st in eng.sites.values():
        st.frontier_rows = None  # out-of-band rows: sizes unknown
    return rel


def test_compaction_carries_untouched_bulk_delta(spark, tmp_path):
    """A bulk delta no pop reaches survives compaction by reference:
    the snapshot that compaction writes has the same bytes whatever the
    bulk size, no ``frontier_index`` exists below the prune floor, the
    histogram cut file-skips the bulk rows out of selection without
    changing the candidate prefix, and the crawl stays
    reference-identical across a resume. Once pops reach the bulk rows,
    the next compaction folds them and applies those pops."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from meilisearchcrawler_spark.config import CrawlConfig
    from meilisearchcrawler_spark.engine.crawler import CrawlEngine
    from meilisearchcrawler_spark.fixtures.webgen import (
        generate_web, write_parquet)
    from meilisearchcrawler_spark.oracle.refcrawler import crawl_site
    from meilisearchcrawler_spark.session import ship_package

    ship_package(spark)
    # frontier-steady's fan-out, so that after two compactions each
    # site's snapshot holds more than its candidate prefix and the
    # histogram cut exists
    budget = 4
    fx = generate_web(seed=19, n_sites=2, pages_per_site=200,
                      fanout=(14, 24))
    paths = write_parquet(fx, str(tmp_path / "web"))
    cfg = CrawlConfig(round_budget=budget, shuffle_partitions=4,
                      compact_every=2)

    def engine(root, cfg=cfg):
        return CrawlEngine(spark, root, paths["pages"], fx.seeds,
                           fx.robots, cfg, initial_url_seen=fx.url_seen)

    base = str(tmp_path / "base")
    engine(base).run(max_rounds=2)  # compacts after round 2

    snapshot_bytes, fillers = {}, {}
    for rows in (20_000, 60_000):
        root = str(tmp_path / f"cat{rows}")
        shutil.copytree(base, root)
        eng = engine(root)
        fillers[rows] = _inject_filler(spark, eng, rows)
        eng.run(max_rounds=2)  # compacts after round 4
        adds = eng.catalog.rels("frontier_adds")
        assert fillers[rows] in adds
        (snap,) = [r for r in adds if "compact_" in r]
        snapshot_bytes[rows] = sum(
            os.path.getsize(os.path.join(root, snap, f))
            for f in os.listdir(os.path.join(root, snap))
            if f.endswith(".parquet"))
        assert not eng.catalog.exists("frontier_index")

        budgets = {s: budget for s in eng.sites}
        prefix_k = budget * 8 + 64
        pruned = eng._pop_frontier(budgets, prefix_k)
        assert pruned.filter(F.col("host") == "filler.invalid").count() == 0
        full = eng._live_frontier()
        want = sorted(map(tuple, candidate_prefix(full, prefix_k)
                          .select("site", "url", "counter").collect()))
        got = sorted(map(tuple, candidate_prefix(pruned, prefix_k)
                         .select("site", "url", "counter").collect()))
        assert got == want
    assert snapshot_bytes[20_000] == snapshot_bytes[60_000]

    # a fresh engine resumed on the carrying catalog crawls on exactly
    # as the reference does
    eng = engine(str(tmp_path / "cat60000"))
    eng.run(max_rounds=1)
    log = eng.catalog.read("crawl_log").filter(F.col("action") == "admitted")
    for site in fx.seeds:
        want = [(r["round"], r["pos_in_round"], r["url"], r["counter"])
                for r in crawl_site(fx, site, batch_size=budget,
                                    max_rounds=5).crawl_log
                if r["action"] == "admitted"]
        got = sorted((r["round"], r["pos_in_round"], r["url"], r["counter"])
                     for r in log.filter(F.col("site") == site["site"])
                     .collect())
        assert got == want, site["site"]

    # a budget past the real frontier pops filler rows in one round,
    # and the compaction after it folds them
    eng = engine(str(tmp_path / "cat20000"),
                 CrawlConfig(round_budget=1000, shuffle_partitions=4,
                             compact_every=1))
    eng.run_round()
    assert (eng.catalog.read("crawl_log")
            .filter(F.col("url").startswith("http://filler.invalid/"))
            .count())
    assert fillers[20_000] not in eng.catalog.rels("frontier_adds")
    live = eng._live_frontier().select("site", "counter")
    popped = eng.catalog.read("crawl_log").select("site", "counter")
    assert live.join(popped, ["site", "counter"]).count() == 0


def test_link_dedup_reads_deltas_the_index_does_not_cover(spark, tmp_path):
    """A delta committed after ``frontier_index`` was built, under a
    round at or below the pops floor (a bulk load staged at round 0),
    is not in the index: link dedup must still find its URLs, so a link
    to one of them is not pushed a second time."""
    from meilisearchcrawler_spark.config import CrawlConfig
    from meilisearchcrawler_spark.engine.crawler import CrawlEngine
    from meilisearchcrawler_spark.fixtures.webgen import (
        generate_web, write_parquet)
    from meilisearchcrawler_spark.session import ship_package

    ship_package(spark)
    fx = generate_web(seed=19, n_sites=2, pages_per_site=24)
    paths = write_parquet(fx, str(tmp_path / "web"))
    eng = CrawlEngine(spark, str(tmp_path / "cat"), paths["pages"],
                      fx.seeds, fx.robots,
                      CrawlConfig(round_budget=4, shuffle_partitions=4,
                                  compact_every=1, prune_min_bytes=0),
                      initial_url_seen=fx.url_seen)
    eng.run(max_rounds=1)  # compacts after round 1 and builds the index
    assert eng.catalog.exists("frontier_index")
    _inject_filler(spark, eng, 3)  # p0 and p2 land in the first site
    site = sorted(eng.sites)[0]
    links = spark.createDataFrame(
        [(site, 0, 1, 0, "http://filler.invalid/p0"),
         (site, 0, 1, 1, "http://filler.invalid/new")],
        "site string, pos_in_round int, link_depth int, link_pos int, "
        "link_url string")
    popped = spark.createDataFrame(
        [], "site string, url string, counter long, admissible boolean, "
        "f_ext boolean, f_visited boolean, f_excluded boolean")
    kept = [r["link_url"] for r in eng._dedup_links(links, popped).collect()]
    assert kept == ["http://filler.invalid/new"]
