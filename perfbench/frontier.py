"""``frontier-steady``: politeness-bounded rounds over a large
frontier, where fixed per-round cost dominates.

The web is ``bench_fixture``'s generator shape (2 sites of 4000 pages,
fan-out 14-24) with a per-site budget of 200 URLs per round,
``bloom_probe_mode="cogroup"`` and a compaction every 2 rounds. The
``visited`` table stays far below the engine's ``prune_min_bytes``
floor, below which it skips the Bloom probe, so no cogroup probe runs
here; the Bloom layer shows only as the staged and committed
``bloom_parts``. After the first two
rounds a 10^6-row filler tail (depth 0, counters above any real
assignment) is injected through the public
``catalog.stage``/``commit_round``, as ``scripts/bench_frontier10m.py``
does; heap order keeps it below every fetchable row, so each
frontier-wide operation carries it while the crawl stays
reference-identical.

Rounds (``run_round`` calls):

* 1-2: untimed warm-up inside ``setup_s``; codegen, Python workers and
  the compaction path (round 2 compacts) fill here. The filler goes in
  afterwards, once every site's real frontier can fill a budget, so no
  round ever pops it;
* 3-4: timed; 3 is a steady round (it reads the filler as an
  uncompacted delta), 4 compacts. ``op_s`` is their mean wall: the
  longest window the run times, so the least moved by host noise;
* 5, traced runs only: a fresh ``CrawlEngine`` reopened on the
  committed catalog runs one more round (``crawler.resume_s``).

The admitted ``(round, pos_in_round, url, counter)`` sequence, the
``url_seen`` set and the ``visited`` set of every site must equal
``oracle.refcrawler.crawl_site(batch_size=200, max_rounds=R)`` with R
the number of rounds run (4, or 5 with the resume round); the oracle
runs in a spawned process during set-up and is cached per seed.
"""

from __future__ import annotations

import collections
import contextlib
import hashlib
import json
import multiprocessing
import os
import shutil
import time
from concurrent.futures import ProcessPoolExecutor

import common
import tracing as tr

WEB = {"n_sites": 2, "pages_per_site": 4000, "fanout": (14, 24)}
BUDGET = 200
COMPACT_EVERY = 2
FILLER_ROWS = 1_000_000
WARMUP_ROUNDS = 2
TIMED_ROUNDS = 2
# metrics actions that are one fetched page each
FETCH_ACTIONS = ("fetched", "not_modified", "not_indexed_content_type",
                 "error")
# metrics actions that are one popped frontier row each
POP_ACTIONS = FETCH_ACTIONS + ("visited_dup", "excluded", "ext_skipped",
                               "robots_denied")
CATALOG_METHODS = ("stage", "stage_rows", "commit_round", "read",
                   "read_split", "read_since", "prepare_compact",
                   "commit_compact")
STAGED_TABLES = ("crawl_log", "url_seen_log", "documents", "frontier_adds",
                 "metrics", "bloom_parts", "lineage", "refreshes")
KERNEL_SAMPLE = 600
# the web worker's generated webs by seed: the input set-up and the
# reference crawl after it share one generation
_webs: dict = {}


def _web(seed: int):
    from meilisearchcrawler_spark.fixtures.webgen import generate_web

    if seed not in _webs:
        _webs[seed] = generate_web(seed=seed, **WEB)
    return _webs[seed]


def oracle_summary(seed: int, rounds: int) -> dict:
    """Per-site reference crawl: admitted sequence, url_seen
    ``(url, content_hash)`` pairs, visited urls and admitted counts per
    round. Runs in the web worker after the input set-up, at low
    priority so that it does not slow the warm-up."""
    from meilisearchcrawler_spark.oracle.refcrawler import crawl_site

    os.nice(10)
    fx = _web(seed)
    out = {}
    for site in fx.seeds:
        name = site["site"]
        r = crawl_site(fx, site, batch_size=BUDGET, max_rounds=rounds)
        adm = [[x["round"], x["pos_in_round"], x["url"], x["counter"]]
               for x in r.crawl_log if x["action"] == "admitted"]
        out[name] = {
            "admitted": adm,
            "url_seen": sorted([u, e["content_hash"]]
                               for u, e in r.url_seen.items()
                               if e["site"] == name),
            "visited": sorted(r.visited),
            "per_round": [sum(1 for a in adm if a[0] == r)
                          for r in range(rounds)],
        }
    return out


def _load_webgen() -> None:
    """Import the generator in the web worker while the session starts,
    so the first input set-up does not also pay the worker's start."""
    import meilisearchcrawler_spark.fixtures.webgen  # noqa: F401


def web_inputs(seed: int, out_dir: str) -> tuple:
    """Generate the seed's web and write its parquet tables; returns
    what ``CrawlEngine`` takes besides them: ``(seeds, robots,
    url_seen, paths)``. Runs in a spawned worker, so the pages never
    live in the driver and ``driver_rss_mb`` is the engine's own."""
    from meilisearchcrawler_spark.fixtures.webgen import write_parquet

    fx = _web(seed)
    return fx.seeds, fx.robots, fx.url_seen, write_parquet(fx, out_dir)


def _manifest_rels(catalog) -> set[str]:
    return {r for rels in catalog.manifest["tables"].values() for r in rels}


def _inject_filler(spark, eng) -> None:
    from pyspark.sql import functions as F

    from meilisearchcrawler_spark.engine.crawler import bucket_col

    sites = sorted(eng.sites)
    filler = (spark.range(FILLER_ROWS)
              .select(F.concat(F.lit("site"), (F.col("id") % len(sites)))
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
    # out-of-band rows: the engine's tracked frontier sizes are stale,
    # so mark them unknown (its budget-only bounds apply)
    for st in eng.sites.values():
        st.frontier_rows = None


def _kernel_replay(seed, paths, urls) -> dict:
    """Driver-side timing of the fetch kernel's pure functions over
    pages this run fetched: parse, clean, excerpt and hash per page,
    and ``LazyPageStore.get`` per URL on a fresh store."""
    from meilisearchcrawler_spark.engine.pagestore import LazyPageStore
    from meilisearchcrawler_spark.fixtures.webgen import generate_web
    from meilisearchcrawler_spark.functions import html as H
    from meilisearchcrawler_spark.functions import text as T

    fx = generate_web(seed=seed, **WEB)
    pages = fx.pages_by_url()
    seeds = {s["site"]: s for s in fx.seeds}
    work = []
    for site, url in urls:
        p = pages.get(url)
        if (p and p["status"] == 200 and not p.get("redirect_to")
                and "text/html" in p["content_type"]):
            work.append((p["html"], url, seeds[site]["seed_url"],
                         seeds[site].get("selector")))
    work = work[:KERNEL_SAMPLE]
    parse = []
    for _ in range(3):
        t0 = time.perf_counter()
        for html, url, seed_url, selector in work:
            parsed = H.parse_page(html, url, seed_url, selector)
            content = T.clean_text(parsed.content_raw)
            excerpt = T.create_excerpt(content)
            T.get_content_hash(content, parsed.title, parsed.images, excerpt)
        parse.append((time.perf_counter() - t0) / max(len(work), 1) * 1e6)
    get = []
    sample = [u for _, u in urls[:KERNEL_SAMPLE]]
    for _ in range(3):
        store = LazyPageStore(paths["pages"])
        t0 = time.perf_counter()
        for u in sample:
            store.get(u)
        get.append((time.perf_counter() - t0) / max(len(sample), 1) * 1e6)
    return {"kernel.parse_us_per_page": common.median(parse),
            "kernel.store_get_us": common.median(get),
            "kernel_pages": len(work)}


def _check(ops: common.Ops, eng, oracle: dict) -> None:
    """Engine tables vs the oracle: per site, the admitted sequence,
    url_seen and visited; plus every post-warm-up round admitting a
    full budget (else the filler could have been popped)."""
    from pyspark.sql import functions as F

    log = (eng.catalog.read("crawl_log").filter(F.col("action") == "admitted")
           .select("site", "round", "pos_in_round", "url", "counter")
           .collect())
    seen = eng.url_seen().select("site", "url", "content_hash").collect()
    visited = eng.visited().select("site", "url").distinct().collect()
    by_site = collections.defaultdict(lambda: {"admitted": [], "url_seen": [],
                                               "visited": []})
    for r in log:
        by_site[r["site"]]["admitted"].append(
            [r["round"], r["pos_in_round"], r["url"], r["counter"]])
    for r in seen:
        by_site[r["site"]]["url_seen"].append([r["url"], r["content_hash"]])
    for r in visited:
        by_site[r["site"]]["visited"].append(r["url"])
    for site, want in sorted(oracle.items()):
        got = by_site[site]
        checks = {
            "admitted": sorted(got["admitted"]) == want["admitted"],
            "url_seen": sorted(got["url_seen"]) == want["url_seen"],
            "visited": sorted(got["visited"]) == want["visited"],
            "full_rounds": all(n == BUDGET for n in
                               want["per_round"][WARMUP_ROUNDS:]),
        }
        for name, ok in checks.items():
            ops.attempted += 1
            if not ok:
                ops.fail(f"oracle mismatch: {site} {name}")


def run(ops: common.Ops, seed: int, seconds: float, trace: bool,
        eventlog_dir: str | None, work: str, t_start: float) -> dict:
    from meilisearchcrawler_spark.config import CrawlConfig
    from meilisearchcrawler_spark.engine import catalog as catalog_mod
    from meilisearchcrawler_spark.engine import crawler as crawler_mod
    from meilisearchcrawler_spark.engine.crawler import CrawlEngine

    run_dir = os.path.join(work, "runs", f"frontier_{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    total_rounds = WARMUP_ROUNDS + TIMED_ROUNDS + int(trace)
    key = hashlib.sha256(json.dumps(
        [seed, WEB, BUDGET, total_rounds]).encode()).hexdigest()[:16]
    oracle_path = os.path.join(work, "oracle", f"frontier_{key}.json")
    fut = None
    webpool = ProcessPoolExecutor(
        max_workers=1, mp_context=multiprocessing.get_context("spawn"))
    try:
        webpool.submit(_load_webgen)
        spark, session_s = common.start_session("perfbench-frontier-steady")
        # shuffle width from the session, as bench_crawl's harness does
        cfg = CrawlConfig(round_budget=BUDGET, bloom_probe_mode="cogroup",
                          compact_every=COMPACT_EVERY,
                          shuffle_partitions=int(spark.conf.get(
                              "spark.sql.shuffle.partitions")))
        t0 = time.perf_counter()
        web = webpool.submit(web_inputs, seed, os.path.join(run_dir, "web"))
        if not os.path.exists(oracle_path):
            fut = webpool.submit(oracle_summary, seed, total_rounds)
        seeds, robots, url_seen, paths = web.result()
        root = os.path.join(run_dir, "catalog")
        eng = CrawlEngine(spark, root, paths["pages"], seeds, robots, cfg,
                          initial_url_seen=url_seen)
        prep_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        for _ in range(WARMUP_ROUNDS):
            ops.attempted += 1
            if not eng.run_round():
                ops.fail("warm-up round made no progress")
        warmup_s = time.perf_counter() - t0
        _inject_filler(spark, eng)
        setup_s = time.perf_counter() - t_start

        if fut is not None:
            oracle = fut.result()
            os.makedirs(os.path.dirname(oracle_path), exist_ok=True)
            with open(oracle_path + ".tmp", "w") as f:
                json.dump(oracle, f)
            os.replace(oracle_path + ".tmp", oracle_path)
        else:
            with open(oracle_path) as f:
                oracle = json.load(f)

        calls = jobs = None
        sampler = contextlib.nullcontext()
        if trace:
            calls = tr.Calls()
            for name in CATALOG_METHODS:
                calls.wrap(catalog_mod.CheckpointCatalog, name,
                           f"catalog.{name}")
            jobs = tr.JobCounter(spark.sparkContext)
            srcmap = tr.SourceMap([crawler_mod, catalog_mod])
            sampler = tr.StackSampler(srcmap)
            ev_cpu0 = tr.eventlog_cpu_s(spark.sparkContext)
            traced0 = time.perf_counter()
        try:
            with sampler:
                rounds = _timed_rounds(ops, eng, calls, jobs)
                if trace:
                    snap0 = calls.snapshot()
                    t0 = time.perf_counter()
                    ops.attempted += 1
                    eng = CrawlEngine(spark, root, paths["pages"], seeds,
                                      robots, cfg)
                    if not eng.run_round():
                        ops.fail("resume round made no progress")
                    resume_s = time.perf_counter() - t0
                    d = tr.delta(calls.snapshot()[0], snap0[0])
                    resume_reads = sum(d.get(f"catalog.{m}", 0)
                                       for m in ("read", "read_split",
                                                 "read_since"))
        finally:
            if calls is not None:
                calls.unwrap()
        if trace:
            # CPU the tracing spent (event-log writer thread and stack
            # sampler) as a share of the traced rounds' wall
            cost_pct = 100 * (tr.eventlog_cpu_s(spark.sparkContext) - ev_cpu0
                              + sampler.cpu_s) / (time.perf_counter() - traced0)

        # --- untimed: outputs, oracle check, layer replays -------------
        from pyspark.sql import functions as F

        counts = collections.defaultdict(collections.Counter)
        for r in (eng.catalog.read("metrics").groupBy("round", "action")
                  .agg(F.sum("count").alias("n")).collect()):
            counts[r["round"]][r["action"]] += int(r["n"])
        _check(ops, eng, oracle)
        timed_nos = [r["round"] for r in rounds]
        for r in rounds:
            c = counts[r["round"]]
            r["pages"] = sum(c[x] for x in FETCH_ACTIONS)
            r["pops"] = sum(c[x] for x in POP_ACTIONS)
            r["indexed"] = c["indexed"]
        steady = [r["wall_s"] for r in rounds if not r["compacted"]]
        compact = [r["wall_s"] for r in rounds if r["compacted"]]
        total_wall = sum(r["wall_s"] for r in rounds)
        pages = sum(r["pages"] for r in rounds)
        e2e = {
            "setup_s": setup_s,
            "op_s": total_wall / len(rounds),
            "driver_rss_mb": common.driver_peak_rss_mb(),
        }
        report = [
            f"setup_s {setup_s:.3f} s (session {session_s:.3f} s, input "
            f"set-up {prep_s:.3f} s, {WARMUP_ROUNDS} warm-up "
            f"rounds {warmup_s:.3f} s, then {FILLER_ROWS} filler rows)",
            f"pages_per_s {pages / total_wall:.3f} pages/s "
            f"({pages} pages / {total_wall:.3f} s over {len(rounds)} "
            "timed rounds)",
            f"steady_round_s {common.summary(steady)} s",
            f"compact_round_s {common.summary(compact)} s",
            f"round walls {[round(r['wall_s'], 3) for r in rounds]} "
            f"compacted {[r['compacted'] for r in rounds]}",
        ]
        detail = {"rounds": rounds, "timed_rounds": timed_nos}
        layers = {}
        if trace:
            jvm_mb = common.jvm_rss_mb()
            adm_urls = sorted(
                (r["site"], r["url"]) for r in
                eng.catalog.read("crawl_log")
                .filter(F.col("action") == "admitted")
                .filter(F.col("round").isin(timed_nos))
                .select("site", "url").collect())
            kern = _kernel_replay(seed, paths, adm_urls)
            bloom_bytes = eng.catalog.table_bytes("bloom_parts")
        spark.stop()
        if trace:
            ev = tr.EventLog(eventlog_dir)
            for r in rounds:
                jids = ev.window(r["t0_ms"], r["t1_ms"])
                r["phases"] = ev.phases(jids, r["t0_ms"], r["t1_ms"],
                                        srcmap, sampler)
                r["stages_ev"] = dict(ev.stage_stats(jids))
            layers = _layers(rounds, kern, jvm_mb, bloom_bytes, resume_s,
                             resume_reads, cost_pct)
            report += [f"resume_s {resume_s:.4f} s "
                       f"({resume_reads} catalog reads)"]
            report += _phase_table(rounds)
        return {"end_to_end": e2e, "per_layer": layers, "report": report,
                "detail": detail}
    finally:
        webpool.shutdown(wait=True, cancel_futures=True)
        shutil.rmtree(run_dir, ignore_errors=True)


def _timed_rounds(ops, eng, calls, jobs) -> list[dict]:
    """Run and time the timed rounds; with tracing on, also record each
    round's catalog calls, Spark job counts and staged bytes."""
    rounds = []
    for i in range(TIMED_ROUNDS):
        before = _manifest_rels(eng.catalog)
        if calls is not None:
            bytes0 = {t: eng.catalog.table_bytes(t) for t in STAGED_TABLES}
            snap0 = calls.snapshot()
        w0 = time.time() * 1000
        t0 = time.perf_counter()
        ops.attempted += 1
        ok = eng.run_round()
        wall = time.perf_counter() - t0
        w1 = time.time() * 1000
        if not ok:
            ops.fail(f"timed round {i} made no progress")
        rec = {"round": eng.round_no - 1, "wall_s": wall,
               "compacted": any(os.path.basename(r).startswith("compact_")
                                for r in _manifest_rels(eng.catalog) - before),
               "t0_ms": w0, "t1_ms": w1}
        if calls is not None:
            n1, s1 = calls.snapshot()
            rec["calls"] = tr.delta(n1, snap0[0])
            rec["calls_s"] = tr.delta(s1, snap0[1])
            rec["spark"] = jobs.take()
            rec["bytes"] = {t: eng.catalog.table_bytes(t) - bytes0[t]
                            for t in STAGED_TABLES}
        rounds.append(rec)
    return rounds


def _layers(rounds, kern, jvm_mb, bloom_bytes, resume_s, resume_reads,
            cost_pct) -> dict:
    """Per-layer metrics of the traced run: per-round quantities are
    means over the timed rounds; the query layer is absent here (0)."""
    import corpus

    m = common.mean
    steady_bytes = [r for r in rounds if not r["compacted"]]
    out = {
        "crawler.round_s": m(r["wall_s"] for r in rounds),
        "crawler.jobs": m(r["spark"]["jobs"] for r in rounds),
        "crawler.stages": m(r["spark"]["stages"] for r in rounds),
        "crawler.tasks": m(r["spark"]["tasks"] for r in rounds),
        "crawler.failed_tasks": sum(r["spark"]["failed_tasks"]
                                    for r in rounds),
        "crawler.python_stages": m(r["stages_ev"].get("python_stages", 0)
                                   for r in rounds),
        "crawler.python_executor_s": m(
            r["stages_ev"].get("python_executor_s", 0.0) for r in rounds),
        "crawler.driver_s": m(r["phases"]["driver_s"] for r in rounds),
        "crawler.pops": m(r["pops"] for r in rounds),
        "crawler.admit_ratio": (sum(r["pages"] for r in rounds)
                                / max(sum(r["pops"] for r in rounds), 1)),
        "crawler.index_ratio": (sum(r["indexed"] for r in rounds)
                                / max(sum(r["pages"] for r in rounds), 1)),
        "crawler.steady_round_s": common.median(
            r["wall_s"] for r in rounds if not r["compacted"]),
        "crawler.compact_round_s": common.median(
            r["wall_s"] for r in rounds if r["compacted"]),
        "crawler.resume_s": resume_s,
        "catalog.stage_calls": m(r["calls"].get("catalog.stage", 0)
                                 + r["calls"].get("catalog.stage_rows", 0)
                                 for r in rounds),
        "catalog.stage_s": m(r["calls_s"].get("catalog.stage", 0.0)
                             + r["calls_s"].get("catalog.stage_rows", 0.0)
                             for r in rounds),
        "catalog.commit_s": m(r["calls_s"].get("catalog.commit_round", 0.0)
                              for r in rounds),
        "catalog.read_calls": m(sum(r["calls"].get(f"catalog.{k}", 0)
                                    for k in ("read", "read_split",
                                              "read_since"))
                                for r in rounds),
        "catalog.compact_s": m(
            r["calls_s"].get("catalog.prepare_compact", 0.0)
            + r["calls_s"].get("catalog.commit_compact", 0.0)
            for r in rounds),
        "catalog.resume_read_calls": resume_reads,
        "bloom.parts_bytes": bloom_bytes,
        "kernel.parse_us_per_page": kern["kernel.parse_us_per_page"],
        "kernel.store_get_us": kern["kernel.store_get_us"],
        "session.jvm_rss_mb": jvm_mb,
        "trace.cost_pct": cost_pct,
    }
    for p in tr.PHASES:
        out[f"crawler.{p}.jobs"] = m(r["phases"][f"{p}.jobs"] for r in rounds)
        out[f"crawler.{p}.s"] = m(r["phases"][f"{p}.s"] for r in rounds)
    out["catalog.bytes_staged"] = m(sum(r["bytes"].values())
                                    for r in steady_bytes)
    for t in STAGED_TABLES:
        out[f"catalog.bytes_staged.{t}"] = m(r["bytes"][t]
                                             for r in steady_bytes)
    out.update(corpus.zero_layers())
    return out


def _phase_table(rounds) -> list[str]:
    """Per-round wall vs phase seconds + driver time (traced run)."""
    cols = [f"{p}.s" for p in tr.PHASES]
    lines = ["round  wall_s " + " ".join(f"{c:>10s}" for c in cols)
             + "  sum/wall  no_job_s  jobs  py_stages"]
    for r in rounds:
        ph = r["phases"]
        acc = sum(ph[c] for c in cols)
        lines.append(
            f"{r['round']:5d} {r['wall_s']:7.3f} "
            + " ".join(f"{ph[c]:10.3f}" for c in cols)
            + f"  {acc / r['wall_s']:8.3f}  {ph['driver_s']:8.3f}"
            f"  {r['spark']['jobs']:4d}"
            f"  {r['stages_ev'].get('python_stages', 0):9d}")
    lines.append("phase jobs per round: " + ", ".join(
        f"{p} {[r['phases'][f'{p}.jobs'] for r in rounds]}"
        for p in tr.PHASES))
    return lines


def zero_layers() -> dict:
    """This workload's per-layer metrics as measured on a run that
    executes no crawl."""
    names = ["crawler.round_s", "crawler.jobs", "crawler.stages",
             "crawler.tasks", "crawler.failed_tasks", "crawler.python_stages",
             "crawler.python_executor_s", "crawler.driver_s", "crawler.pops",
             "crawler.admit_ratio", "crawler.index_ratio",
             "crawler.steady_round_s", "crawler.compact_round_s",
             "crawler.resume_s",
             "catalog.stage_calls", "catalog.stage_s", "catalog.commit_s",
             "catalog.read_calls", "catalog.compact_s",
             "catalog.resume_read_calls", "bloom.parts_bytes",
             "kernel.parse_us_per_page", "kernel.store_get_us",
             "catalog.bytes_staged"]
    names += [f"crawler.{p}.{k}" for p in tr.PHASES for k in ("jobs", "s")]
    names += [f"catalog.bytes_staged.{t}" for t in STAGED_TABLES]
    return {n: 0 for n in names}
