"""Crawl-ordering + seen-set equivalence: the Spark engine must
reproduce the reference algorithm (via the in-process oracle,
oracle/refcrawler.py) exactly — admitted-batch sequence with positions
and counters, final URL-seen set with field equality, visited set,
document rows, and stats (SURVEY.md §5 item 2; the north-rule
correctness gate)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from meilisearchcrawler_spark.config import CrawlConfig
from meilisearchcrawler_spark.engine.bloom import (
    BITS_PER_PARTITION, NUM_HASHES, NUM_PARTITIONS, bitmap_delta,
)
from meilisearchcrawler_spark.engine.crawler import CrawlEngine
from meilisearchcrawler_spark.functions.urls import url_hash_col
from meilisearchcrawler_spark.fixtures.webgen import generate_web, write_parquet
from meilisearchcrawler_spark.oracle.refcrawler import crawl_site


@pytest.fixture(scope="module")
def web(tmp_path_factory):
    fx = generate_web(seed=7, n_sites=3, pages_per_site=40)
    out = tmp_path_factory.mktemp("web")
    paths = write_parquet(fx, str(out))
    return fx, paths


def _assert_equivalent(eng: CrawlEngine, oracle_by_site: dict, *,
                       check_stats: bool = True) -> None:
    log = eng.catalog.read("crawl_log")
    rows = log.collect()
    adm = sorted(
        (r["round"], r["pos_in_round"], r["url"], r["counter"], r["site"])
        for r in rows if r["action"] == "admitted")
    seen_df = eng.url_seen()
    e_seen_all = {(r["site"], r["url"]): r for r in seen_df.collect()} \
        if seen_df is not None else {}
    docs_df = eng.documents()
    e_docs_all: dict[str, dict] = {}
    if docs_df is not None:
        for r in docs_df.collect():
            e_docs_all.setdefault(r["site"], {})[r["id"]] = r
    visited_df = eng.visited()
    e_visited_all: dict[str, set] = {}
    if visited_df is not None:
        for r in visited_df.collect():
            e_visited_all.setdefault(r["site"], set()).add(r["url"])
    metrics = eng.catalog.read("metrics")
    e_stats_all: dict[str, dict] = {}
    if metrics is not None:
        for r in metrics.collect():
            e_stats_all.setdefault(r["site"], {})
            e_stats_all[r["site"]][r["action"]] = (
                e_stats_all[r["site"]].get(r["action"], 0) + r["count"])

    for site, orc in oracle_by_site.items():
        # (a) admitted ordering, with counters
        o_seq = [(r["round"], r["pos_in_round"], r["url"], r["counter"])
                 for r in orc.crawl_log if r["action"] == "admitted"]
        e_seq = [(r0, p, u, c) for (r0, p, u, c, s) in adm if s == site]
        assert e_seq == o_seq, f"{site}: admitted sequence diverges"
        # (b) URL-seen set equality, field-exact
        o_seen = {u: e for u, e in orc.url_seen.items() if e["site"] == site}
        e_seen = {u: e_seen_all[(s, u)] for (s, u) in e_seen_all if s == site}
        assert set(e_seen) == set(o_seen), f"{site}: url_seen set diverges"
        for u, o in o_seen.items():
            e = e_seen[u]
            for k in ("content_hash", "doc_id", "last_crawl", "etag",
                      "last_modified"):
                assert e[k] == o.get(k), f"{site}: url_seen[{u}].{k}"
        # (c) visited set
        assert e_visited_all.get(site, set()) == {
            u for u in orc.visited}, f"{site}: visited set diverges"
        # (d) document rows, field-exact incl. images structs
        o_docs = {d["id"]: d for d in orc.documents}
        e_docs = e_docs_all.get(site, {})
        assert set(e_docs) == set(o_docs), f"{site}: document ids diverge"
        for did, o in o_docs.items():
            e = e_docs[did]
            for k in ("url", "title", "excerpt", "content", "content_hash",
                      "content_source", "lang", "timestamp"):
                assert e[k] == o[k], f"{site}: doc[{did}].{k}"
            eimgs = [(i["url"], i["alt"], i["description"])
                     for i in (e["images"] or [])]
            oimgs = [(i["url"], i["alt"], i["description"]) for i in o["images"]]
            assert eimgs == oimgs, f"{site}: doc[{did}].images"
        # (e) CrawlStats rollup (A2)
        if check_stats:
            es = e_stats_all.get(site, {})
            got = {
                "pages_indexed": es.get("indexed", 0),
                "pages_not_modified": es.get("not_modified", 0),
                "errors": es.get("error", 0),
                "pages_skipped_cache": es.get("skipped_cache", 0),
            }
            want = {k: orc.stats[k] for k in got}
            assert got == want, f"{site}: stats diverge"


def _run_engine(spark, web, root, cfg, seeds=None):
    fx, paths = web
    eng = CrawlEngine(spark, str(root), paths["pages"],
                      seeds or fx.seeds, fx.robots, cfg,
                      initial_url_seen=fx.url_seen)
    eng.run(max_rounds=300)
    return eng


def test_ordering_equivalence_default_budget(spark, web, tmp_path):
    """3 sites in lockstep at the reference batch size
    (CONCURRENT_REQUESTS=2, crawler.py:100)."""
    fx, _ = web
    oracle = {s["site"]: crawl_site(fx, s, batch_size=2) for s in fx.seeds}
    eng = _run_engine(spark, web, tmp_path / "cat",
                      CrawlConfig(round_budget=2, shuffle_partitions=4))
    _assert_equivalent(eng, oracle)
    # visited never reaches the default probe floor: no filter is built
    assert not eng.catalog.exists("bloom_parts")


def test_ordering_equivalence_wide_budget(spark, web, tmp_path):
    """Budget ≠ reference default exercises the cutoff window.
    ``prune_min_bytes=0`` forces the bucket-pruned membership plans
    (CrawlEngine._pruned) that production uses on corpus-sized
    url_seen/visited/content_hashes — the pruned path must stay
    exact-match, not just the small-table fallback."""
    fx, _ = web
    oracle = {s["site"]: crawl_site(fx, s, batch_size=7) for s in fx.seeds}
    eng = _run_engine(spark, web, tmp_path / "cat",
                      CrawlConfig(round_budget=7, shuffle_partitions=4,
                                  prune_min_bytes=0))
    _assert_equivalent(eng, oracle)


def test_kill_resume_bit_identical(spark, web, tmp_path):
    """Kill after 4 committed rounds; a fresh engine instance resumes
    from the manifest and the final state equals the uninterrupted run
    (ST4, crawler.py:1096-1115,1221-1224 — strengthened to
    bit-identity by atomic round commits)."""
    fx, paths = web
    oracle = {s["site"]: crawl_site(fx, s, batch_size=3) for s in fx.seeds}
    root = tmp_path / "cat"
    cfg = CrawlConfig(round_budget=3, shuffle_partitions=4)
    eng1 = CrawlEngine(spark, str(root), paths["pages"], fx.seeds, fx.robots,
                       cfg, initial_url_seen=fx.url_seen)
    eng1.run(max_rounds=4)
    eng2 = CrawlEngine(spark, str(root), paths["pages"], fx.seeds, fx.robots, cfg)
    eng2.run(max_rounds=300)
    _assert_equivalent(eng2, oracle)


def test_max_pages_budget(spark, web, tmp_path):
    """max_pages cap semantics (crawler.py:1155-1160)."""
    fx, paths = web
    oracle = {s["site"]: crawl_site(fx, s, batch_size=2, max_pages=9)
              for s in fx.seeds}
    seeds_mp = [dict(s, max_pages=9) for s in fx.seeds]
    eng = CrawlEngine(spark, str(tmp_path / "cat"), paths["pages"], seeds_mp,
                      fx.robots, CrawlConfig(round_budget=2, shuffle_partitions=4),
                      initial_url_seen=fx.url_seen)
    eng.run(max_rounds=100)
    _assert_equivalent(eng, oracle, check_stats=False)


def test_queue_cap(spark, web, tmp_path):
    """MAX_QUEUE_SIZE gate (crawler.py:1152-1154, 1203)."""
    fx, paths = web
    oracle = {s["site"]: crawl_site(fx, s, batch_size=2, max_queue_size=6)
              for s in fx.seeds}
    eng = CrawlEngine(
        spark, str(tmp_path / "cat"), paths["pages"], fx.seeds, fx.robots,
        CrawlConfig(round_budget=2, shuffle_partitions=4, max_queue_size=6),
        initial_url_seen=fx.url_seen)
    eng.run(max_rounds=300)
    _assert_equivalent(eng, oracle)


def test_many_sites_dimension_tables(spark, tmp_path):
    """80 sites / 80 hosts in lockstep: the J3/J4 dimension-table form
    of site exclusions, robots rules, budgets and counter bases must
    stay exact-match at a site count where the old per-site when-chains
    would have exploded the plan. Small pages-per-site keeps the run
    bounded; every admission branch still fires via the noise links."""
    fx = generate_web(seed=29, n_sites=80, pages_per_site=8)
    out = tmp_path / "web"
    paths = write_parquet(fx, str(out))
    oracle = {s["site"]: crawl_site(fx, s, batch_size=2) for s in fx.seeds}
    eng = CrawlEngine(spark, str(tmp_path / "cat"), paths["pages"],
                      fx.seeds, fx.robots,
                      CrawlConfig(round_budget=2, shuffle_partitions=8),
                      initial_url_seen=fx.url_seen)
    eng.run(max_rounds=100)
    _assert_equivalent(eng, oracle)


def _assert_bloom_exact(eng: CrawlEngine) -> None:
    """The committed filter equals, bit for bit, a numpy filter built
    from the final visited set: no round's visited URLs are missing."""
    P = NUM_PARTITIONS
    hashes = np.array(
        [r[0] for r in eng.visited().select(url_hash_col(F.col("url")))
         .distinct().collect()], dtype=np.int64).astype(np.uint64)
    pids = hashes % np.uint64(P)
    want = {int(p): bitmap_delta(hashes[pids == p], BITS_PER_PARTITION,
                                 NUM_HASHES).tobytes()
            for p in np.unique(pids)}
    got = {r["pid"]: bytes(r["bits"])
           for r in eng._bloom_latest().collect()}
    assert got == want, "committed Bloom filter differs from visited"


def test_cogroup_bloom_mode(spark, web, tmp_path):
    """The visited filter lives only in the bloom_parts table (no
    driver copy, no whole-filter broadcast). It is created by the first
    compaction that finds visited at ``prune_min_bytes`` and merged by
    every round after it. The crawl must stay exact-match across a
    kill-resume (the filter rides the manifest commit), and the final
    filter must cover every visited URL. Cases: (round budget,
    compact_every, prune_min_bytes, rounds before the kill)."""
    fx, paths = web
    for budget, compact_every, floor, kill in [
            (3, 8, 0, 5),
            # visited crosses a 1-byte floor at the first compaction,
            # after rounds that kept no filter
            (7, 4, 1, 4)]:
        oracle = {s["site"]: crawl_site(fx, s, batch_size=budget)
                  for s in fx.seeds}
        root = tmp_path / f"cat_{budget}_{compact_every}"
        cfg = CrawlConfig(round_budget=budget, shuffle_partitions=4,
                          bloom_probe_mode="cogroup",
                          compact_every=compact_every,
                          prune_min_bytes=floor)
        eng1 = CrawlEngine(spark, str(root), paths["pages"], fx.seeds,
                           fx.robots, cfg, initial_url_seen=fx.url_seen)
        for _ in range(kill):
            eng1.run_round()
            assert eng1.catalog.exists("bloom_parts") == (
                eng1.round_no >= compact_every), (budget, eng1.round_no)
        eng2 = CrawlEngine(spark, str(root), paths["pages"], fx.seeds,
                           fx.robots, cfg)
        eng2.run(max_rounds=300)
        _assert_equivalent(eng2, oracle)
        _assert_bloom_exact(eng2)


def test_resume_drops_filter_not_built_at_compaction(spark, web, tmp_path):
    """A committed ``bloom_parts`` that no compaction built (no
    ``bloom_round`` in the manifest meta) may miss visited URLs, as the
    bare per-round deltas of older checkpoints did. Resume must drop it
    instead of probing it: here it holds only the last round's visited
    URLs, so probing it would re-admit earlier rounds' URLs."""
    fx, paths = web
    oracle = {s["site"]: crawl_site(fx, s, batch_size=7) for s in fx.seeds}
    root = tmp_path / "cat"
    cfg = CrawlConfig(round_budget=7, shuffle_partitions=4, compact_every=4)
    eng1 = CrawlEngine(spark, str(root), paths["pages"], fx.seeds,
                       fx.robots, cfg, initial_url_seen=fx.url_seen)
    eng1.run(max_rounds=3)
    cat = eng1.catalog
    rno = cat.committed_round
    last = (cat.read("crawl_log")
            .filter((F.col("round") == rno)
                    & F.col("action").isin("admitted", "ext_skipped"))
            .select(url_hash_col(F.col("url")).alias("url_hash")))
    rel = cat.stage("bloom_parts", eng1._bloom_bitmaps(last)
                    .withColumn("round", F.lit(rno)), rno)
    cat.commit_round(rno, {"bloom_parts": [rel]}, cat.state)
    assert "bloom_round" not in cat.meta
    eng2 = CrawlEngine(spark, str(root), paths["pages"], fx.seeds,
                       fx.robots, cfg)
    eng2.run(max_rounds=300)
    _assert_equivalent(eng2, oracle)
    # visited never reaches the default floor, so nothing rebuilds it
    assert not eng2.catalog.exists("bloom_parts")
    assert not os.listdir(root / "bloom_parts")


def test_bloom_probe_mode_is_cogroup_only(spark, tmp_path):
    with pytest.raises(ValueError, match="bloom_probe_mode"):
        CrawlEngine(spark, str(tmp_path / "cat"), "", [], [],
                    CrawlConfig(bloom_probe_mode="broadcast"))


def test_politeness_budget_guarantee(spark, web, tmp_path):
    """Per-host politeness budgets (the RateLimiter replacement,
    crawler.py:956-968 → CrawlConfig.host_budget): no host is fetched
    more than ``host_budget`` times in any round — the actual
    politeness contract — while deferred work is never dropped (the
    crawl still completes, admits each URL at most once, and indexes a
    comparable corpus). Deferral MAY legitimately reorder the crawl:
    discovery depth depends on order and depth gates link expansion, so
    exact-state equality vs the unconstrained oracle is not the spec."""
    fx, paths = web
    eng = CrawlEngine(
        spark, str(tmp_path / "cat"), paths["pages"], fx.seeds, fx.robots,
        CrawlConfig(round_budget=4, host_budget=2, shuffle_partitions=4),
        initial_url_seen=fx.url_seen)
    eng.run(max_rounds=400)

    log = eng.catalog.read("crawl_log").collect()
    admitted = [r for r in log if r["action"] == "admitted"]
    # (a) the budget holds in every round (each site is one host here)
    per_round_host: dict[tuple, int] = {}
    for r in admitted:
        key = (r["round"], r["site"])
        per_round_host[key] = per_round_host.get(key, 0) + 1
    assert per_round_host, "no admissions at all"
    assert max(per_round_host.values()) <= 2, \
        f"politeness violated: {max(per_round_host.values())} fetches/host/round"
    # (b) nothing admitted twice
    urls = [(r["site"], r["url"]) for r in admitted]
    assert len(urls) == len(set(urls)), "a URL was fetched twice"
    # (c) deferral only delays — the crawl drains and indexes a corpus
    # of the same scale as the unconstrained run
    oracle = {s["site"]: crawl_site(fx, s, batch_size=4) for s in fx.seeds}
    docs_df = eng.documents()
    n_docs = docs_df.count()
    n_oracle = sum(len(o.documents) for o in oracle.values())
    assert abs(n_docs - n_oracle) <= 0.1 * n_oracle, (n_docs, n_oracle)


def test_messy_dialect_equivalence(spark, tmp_path):
    """End-to-end crawl over the messy-markup twin web (single-quoted /
    unquoted attributes, mixed-case tags — the dialects BeautifulSoup
    accepts, ref crawler.py:520-561): the engine must stay exact-match
    vs the sequential oracle on the messy fixture, and index the same
    document set as the clean twin (markup dialect must not leak into
    extraction)."""
    fx = generate_web(seed=7, n_sites=3, pages_per_site=40, dialect="messy")
    paths = write_parquet(fx, str(tmp_path / "web"))
    oracle = {s["site"]: crawl_site(fx, s, batch_size=2) for s in fx.seeds}
    eng = CrawlEngine(spark, str(tmp_path / "cat"), paths["pages"],
                      fx.seeds, fx.robots,
                      CrawlConfig(round_budget=2, shuffle_partitions=4),
                      initial_url_seen=fx.url_seen)
    eng.run(max_rounds=300)
    _assert_equivalent(eng, oracle)
    # dialect must not change WHAT gets indexed vs the clean twin
    clean = generate_web(seed=7, n_sites=3, pages_per_site=40)
    clean_oracle = {s["site"]: crawl_site(clean, s, batch_size=2)
                    for s in clean.seeds}
    for site, orc in oracle.items():
        want = {(d["url"], d["title"], d["content_hash"])
                for d in clean_oracle[site].documents}
        got = {(d["url"], d["title"], d["content_hash"])
               for d in orc.documents}
        assert got == want, f"{site}: messy vs clean corpus diverges"
