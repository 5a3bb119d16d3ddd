"""The Spark crawl engine: driver-orchestrated micro-batch rounds.

One round is the distributed form of one reference batch iteration
(crawler.py:1137-1208):

    live frontier                                  (adds ⟂ pops anti-join)
      → per-site candidate prefix                  (top-K by (depth↓, counter↑))
      → admission flags                            (F1-F7: visited Bloom+anti-join,
                                                    exclusion, extension, robots)
      → pop cutoff                                 (running-admissible window ≤ B)
      → per-host politeness budget + salted host-hash repartition
      → fetch+parse mapInPandas                    (Arrow batches; errors as data)
      → indexing decision                          (no-index / cache-skip /
                                                    dup-hash window / min-length)
      → link explode + dedup + counter assignment  (insertion-order equivalence)
      → atomic catalog commit                      (frontier Δ, url_seen Δ,
                                                    documents Δ, visited Δ,
                                                    metrics, bloom_parts Δ
                                                    once the filter exists,
                                                    state)

Ordering equivalence with the reference heap (SURVEY.md §7 hard part 1):
the heap pop order is ``(-depth, counter)`` with insertion-order
counters (crawler.py:1099-1121); the engine reproduces counters by
ranking each round's surviving links by (parent pos_in_round, link
position in document) — both deterministic — and offsetting by the
site's running counter. The pop cutoff reproduces pop-time admission:
a popped-but-inadmissible entry leaves the frontier without consuming
batch budget, so the cutoff is "rows up to the B-th admissible":
``admissible ? running_adm ≤ B : running_adm < B``.

Scale notes (10^10 frontier, 1000 executors):

* the admission windows run on a bounded per-site candidate *prefix*
  (top-K), not the whole frontier; K escalates in the rare case the
  prefix is exhausted by inadmissible rows. The prefix is Spark's
  native ``WindowGroupLimit`` (:func:`candidate_prefix`): each input
  partition keeps only its per-site top-K before the exchange, in the
  JVM, so the frontier never funnels through one reducer and never
  crosses into a Python worker (the engine lifts the optimizer's K
  threshold on its session, :data:`WINDOW_GROUP_LIMIT_CONF`, or
  budget-sized K would fall back to a full per-site sort). After a
  compaction the
  prefix scan doesn't even read the frontier: the snapshot is
  depth/counter-clustered and a per-(site, depth) histogram in the
  manifest turns the per-site need into a pushed
  ``depth > g OR (depth = g AND counter <= c)`` predicate, so the scan
  file-skips to ~sites × prefix_k rows regardless of frontier size
  (:func:`pop_cutoff`). The full frontier is only touched by the
  adds⟂pops anti-join (hash-partitioned on counter) and periodic
  compaction; the link-dedup membership scan reads the bucket-clustered
  ``frontier_index`` projection instead (bucket-pruned like url_seen).
* NO per-round operation touches a corpus-sized table with a shuffle,
  window, or distinct. url_seen conditional-header/cache lookups are
  key-pruned (``_seen_for``): bucket-filtered file-skipping scan →
  broadcast semi-join → window over only the round's keys. The
  visited / content_hashes membership checks scan those tables with a
  broadcast build side (duplicate-insensitive semi/anti), bucket-pruned
  the same way; corpus-sized windows/aggregates run only at compaction.
* the visited-set membership check is Bloom-prefiltered from the
  compaction that finds ``visited`` at or over ``prune_min_bytes`` on:
  definite-negatives (the overwhelming majority of discovered links)
  skip the exact check entirely. Below that floor no filter exists and
  every row takes the exact check, which is cheap there.
* hot hosts are spread by salted host-hash repartition before the
  fetch UDF (`xxhash64(host, counter % salt)`), so one host's
  politeness budget never serializes a whole partition.
* every table write is an append-only delta; the manifest commit is
  the round barrier; kill-resume replays nothing (bit-identical).
"""

from __future__ import annotations

import json
from concurrent.futures import ThreadPoolExecutor, wait
from contextlib import contextmanager
from dataclasses import dataclass
from functools import reduce

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, IntegerType, LongType, StringType, StructField,
    StructType,
)
from pyspark.sql.window import Window

from ..config import DEFAULT_LANG, MIN_CONTENT_LEN, CrawlConfig
from ..fixtures.webgen import T0
from ..functions import html as H
from ..functions import text as T
from ..functions.robots import robots_denied_udf
from ..functions.urls import (
    admission_exclusions,
    generate_doc_id,
    has_ignored_extension_col,
    is_excluded,
    is_excluded_arr,
    normalize_url,
    url_hash_col,
    url_host,
)
from .bloom import (
    BITS_PER_PARTITION, NUM_HASHES, NUM_PARTITIONS, bitmap_delta, check_hashes,
)
from .catalog import CheckpointCatalog
from .pagestore import load_store

FETCH_SCHEMA = StructType([
    StructField("site", StringType()),
    StructField("url", StringType()),
    StructField("host", StringType()),
    StructField("depth", IntegerType()),
    StructField("counter", LongType()),
    StructField("pos_in_round", IntegerType()),
    StructField("final_url", StringType()),
    StructField("fetch_status", IntegerType()),  # 200 | 304 | 0 nonhtml | -1 error
    StructField("etag", StringType()),
    StructField("last_modified", StringType()),
    StructField("title", StringType()),
    StructField("content", StringType()),
    StructField("content_source", StringType()),
    StructField("excerpt", StringType()),
    StructField("images_json", StringType()),
    StructField("lang", StringType()),
    StructField("content_hash", StringType()),
    StructField("doc_id", StringType()),
    StructField("no_index", IntegerType()),
    StructField("links", ArrayType(StringType())),
])

IMAGES_SCHEMA = "array<struct<url:string,alt:string,description:string>>"


def bucket_col(key, n_buckets: int):
    """Storage bucket of a key column: ``pmod(xxhash64(key), n)`` — the
    Iceberg ``bucket(n, key)`` partition transform. Every write to the
    corpus-sized key tables (url_seen_log / visited / content_hashes)
    carries it, and compaction range-partitions + sorts by it, so
    per-round membership reads prune files via parquet min/max stats
    instead of scanning the corpus."""
    return F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")


# Spark inserts the partial per-partition WindowGroupLimit under
# candidate_prefix only while K is below this SQL conf (default 1000);
# budget-derived prefixes are ≥1000 at every real shape (1664 at 200
# pages/site per round, ~800k on the bench crawl), so CrawlEngine lifts
# it on its session. Above the threshold the whole frontier is
# hash-shuffled on site and window-sorted per site. Lifted, the K=1664
# prefix of a 10^6-row, 2-site frontier takes 0.51 s vs 1.88 s for the
# former two-pass pandas top-K (medians of 6 interleaved reps, 4-core
# VM; row-identical output).
WINDOW_GROUP_LIMIT_CONF = ("spark.sql.optimizer.windowGroupLimitThreshold",
                           str(2**31 - 1))


def candidate_prefix(frontier: DataFrame, prefix_k: int) -> DataFrame:
    """Per-site top-``prefix_k`` prefix of the frontier in heap order
    (depth desc, counter asc), with ``_rank``.

    One ``row_number() <= prefix_k`` window. Spark plans it as a native
    ``WindowGroupLimit``: a *Partial* per-site sort + limit inside each
    input partition, BEFORE the exchange on site, then the *Final*
    limit and the rank window over at most partitions × sites × K
    rows. What remains O(frontier) is one embarrassingly-parallel JVM
    scan+sort; no row crosses the JVM↔Python boundary. The optimizer
    only inserts the limit while ``prefix_k`` is under
    :data:`WINDOW_GROUP_LIMIT_CONF`, which :class:`CrawlEngine` lifts
    on its session. Without it the result is the same rows, from a
    full per-site window sort."""
    w = Window.partitionBy("site").orderBy(F.desc("depth"), F.asc("counter"))
    return (frontier
            .withColumn("_rank", F.row_number().over(w))
            .filter(F.col("_rank") <= prefix_k))


def frontier_hist(live: DataFrame) -> dict:
    """Per-(site, depth) row count + geometric-rank counter quantiles
    of a frontier snapshot. The pop path turns this into a ``depth > g
    OR (depth = g AND counter <= c)`` predicate that file-skips the
    depth/counter-clustered compacted snapshot (see
    :func:`pop_cutoff`). One corpus window — runs only at compaction,
    where corpus-sized windows are allowed."""
    w = Window.partitionBy("site", "depth").orderBy("counter")
    cw = Window.partitionBy("site", "depth")
    # 64-bit rank: row_number() is IntegerType and would overflow past
    # ~2.1e9 rows in a single (site, depth) band — _HIST_RANKS itself
    # extends to ~8.6e9 (round-4 advisor item). counter is unique per
    # row, so a running count over the counter order IS row_number,
    # just LongType.
    rows = (live.select("site", "depth", "counter")
            .withColumn("_rn", F.count("*").over(
                w.rowsBetween(Window.unboundedPreceding,
                              Window.currentRow)))
            .withColumn("_n", F.count("*").over(cw))
            .filter(F.col("_rn").isin(list(_HIST_RANKS))
                    | (F.col("_rn") == F.col("_n")))
            .collect())
    hist: dict = {}
    for r in rows:
        d = (hist.setdefault(r["site"], {})
             .setdefault(str(r["depth"]), {"n": 0, "ranks": []}))
        d["n"] = max(d["n"], int(r["_n"]))
        d["ranks"].append([int(r["_rn"]), int(r["counter"])])
    for site in hist.values():
        for d in site.values():
            d["ranks"].sort()
    return hist


def pop_cutoff(hist: dict | None,
               needs: dict[str, int]) -> tuple[int, int] | None:
    """Global ``(g, c)`` cutoff such that the compacted-frontier rows
    matching ``depth > g OR (depth = g AND counter <= c)`` provably
    contain, for every site, its top-``needs[site]`` rows in heap order
    (depth desc, counter asc). Returns None when pruning cannot be
    proven safe (no histogram, or a site's whole compacted frontier is
    smaller than its need — then all its rows must be kept)."""
    if not hist:
        return None
    g_min: int | None = None
    c_at: dict[int, int] = {}
    for site, need in needs.items():
        h = hist.get(site)
        if not h:
            continue  # no compacted rows: all its rows are deltas
        cum_above = 0
        g_s = c_s = None
        for d in sorted((int(x) for x in h), reverse=True):
            nd = h[str(d)]["n"]
            if cum_above + nd >= need:
                need_at = need - cum_above
                for rn, ctr in h[str(d)]["ranks"]:
                    if rn >= need_at:
                        g_s, c_s = d, ctr
                        break
                break
            cum_above += nd
        if g_s is None:
            return None  # site needs its entire compacted frontier
        if g_min is None or g_s < g_min:
            g_min = g_s
        c_at[g_s] = max(c_at.get(g_s, c_s), c_s)
    if g_min is None:
        return None
    # the union of per-site needs is covered by (min g, max c at min
    # g): sites with deeper g_s sit entirely inside depth > g
    return g_min, c_at[g_min]


def _make_fetch_udf(store_path: str, site_cfg_bc):
    """Fetch + parse kernel (crawler.py:971-1077 per-page semantics) as
    an Arrow-batched ``mapInPandas`` body. Per-URL failures become
    ``fetch_status=-1`` rows, never task failures. Site config arrives
    via a Spark broadcast, not closure capture."""

    def fetch_parse(batches):
        store = load_store(store_path)
        site_configs = site_cfg_bc.value
        for pdf in batches:
            out: list[dict] = []
            for row in pdf.itertuples(index=False):
                cfg = site_configs[row.site]
                rec = {
                    "site": row.site, "url": row.url, "host": row.host,
                    "depth": int(row.depth), "counter": int(row.counter),
                    "pos_in_round": int(row.pos_in_round),
                    "final_url": row.url, "fetch_status": -1,
                    "etag": None, "last_modified": None, "title": None,
                    "content": None, "content_source": None,
                    "excerpt": None, "images_json": None,
                    "lang": None, "content_hash": None, "doc_id": None,
                    "no_index": 0, "links": None,
                }
                page = store.get(row.url)
                if page is None or page["status"] in (404, 500):
                    out.append(rec)  # error after retries (crawler.py:995-1001)
                    continue
                cached_etag = row.cached_etag if isinstance(row.cached_etag, str) else None
                cached_lm = (row.cached_last_modified
                             if isinstance(row.cached_last_modified, str) else None)
                # If-None-Match + If-Modified-Since (crawler.py:975-979):
                # ETag decides alone when both sides have one; otherwise
                # a matching Last-Modified 304s
                not_modified = False
                if cached_etag and page.get("etag"):
                    not_modified = cached_etag == page["etag"]
                elif (cached_lm and page.get("last_modified")
                      and cached_lm == page["last_modified"]):
                    not_modified = True
                if not_modified:
                    rec.update(fetch_status=304,
                               doc_id=generate_doc_id(row.url))
                    out.append(rec)
                    continue
                if "text/html" not in page["content_type"].lower():
                    rec.update(fetch_status=0)
                    out.append(rec)
                    continue
                # raw response URL, not normalized — the reference uses
                # str(response.url) for doc_id/urljoin/cache key
                # (crawler.py:1010,1022-1041); only the frontier/seen-set
                # key is normalized
                final_url = page["redirect_to"] or row.url
                parsed = H.parse_page(page["html"], final_url, cfg["seed_url"],
                                      cfg.get("selector"))
                content = T.clean_text(parsed.content_raw)
                excerpt = T.create_excerpt(content)
                content_hash = T.get_content_hash(content, parsed.title,
                                                  parsed.images, excerpt)
                links = parsed.links if row.depth < cfg["max_depth"] else []
                rec.update(
                    final_url=final_url, fetch_status=200,
                    etag=page.get("etag"), last_modified=page.get("last_modified"),
                    title=parsed.title, content=content,
                    content_source=parsed.content_source, excerpt=excerpt,
                    images_json=json.dumps(parsed.images, sort_keys=True),
                    # the reference HTML path hardcodes the 'fr' default
                    # regardless of site config (crawler.py:1040-1043)
                    lang=T.sniff_lang(parsed.lang_attr, DEFAULT_LANG),
                    content_hash=content_hash,
                    doc_id=generate_doc_id(final_url),
                    no_index=int(is_excluded(final_url, cfg["no_index"])),
                    links=links,
                )
                out.append(rec)
            yield pd.DataFrame(out, columns=[f.name for f in FETCH_SCHEMA.fields])

    return fetch_parse


@dataclass
class SiteState:
    url_counter: int = 0
    pages_visited: int = 0
    active: bool = True
    # rows popped from the frontier since the last compaction — the
    # conservative correction applied to the compacted snapshot's
    # depth histogram when computing the pop-scan depth/counter cutoff
    # (pops are the only operation that removes frontier rows)
    pops_since_compact: int = 0
    # exact live-frontier row count (seeds + pushed − popped, updated
    # from the same metrics rollup that feeds pops_since_compact). It
    # is a true upper bound on every per-site round frame it gates: a
    # site can't pop rows its frontier doesn't hold, and its candidate
    # prefix can't exceed that frontier — so the latency-mode gate and
    # the broadcast-hint guards see the round's real size, not a budget
    # sized for mega-waves (the bench crawl's budget is 100k/site while
    # its frontier never exceeds ~20k rows). None = unknown (a
    # checkpoint predating the field, or frontier rows injected out of
    # band) — every consumer falls back to the budget-only bound.
    frontier_rows: int | None = None


# every metrics action that corresponds to exactly one popped frontier
# row (fetch outcomes of admitted rows + the inadmissible-pop reasons);
# 'indexed'/'skipped_cache'/'pushed' are derived counts, not pops
_POP_ACTIONS = ("fetched", "not_modified", "not_indexed_content_type",
                "error", "visited_dup", "excluded", "ext_skipped",
                "robots_denied")

# geometric rank ladder for the per-(site, depth) counter quantiles
# stored in the frontier histogram: the pop-scan cutoff picks the
# smallest stored rank covering its need, so the scanned slack is at
# most one ladder step (8x)
_HIST_RANKS = tuple(64 * 8 ** i for i in range(10))  # 64 … ~8.6e9

# Concurrent snapshot writes per maintenance (compaction) pass — the
# independent corpus-sized rewrites overlap; bounded to keep peak
# execution-memory/spill pressure in check (1 = the pre-round-5 serial
# behavior; the round-5 A/B is recorded in scripts/compact_ab_out.json).
_COMPACT_POOL_WORKERS = 4

# Salt factor for hot-host skew: the fetch repartition hashes
# (host, counter % _HOST_SALT_ROWS), so a host with more rows than this
# in one round spreads over several shuffle partitions.
_HOST_SALT_ROWS = 10_000

# Row-count ceiling for forcing a broadcast hint (see CrawlEngine._bc).
_BROADCAST_KEY_ROWS = 4_000_000

# Popped-row bound at or below which a round compiles without AQE (see
# CrawlEngine._latency_mode; the per-action profile behind it is
# recorded in scripts/frontier_actions_out.json).
_LATENCY_ROUND_ROWS = 100_000


class CrawlEngine:
    def __init__(self, spark: SparkSession, catalog_root: str,
                 pages_path: str, seeds: list[dict], robots: list[dict],
                 config: CrawlConfig | None = None,
                 initial_url_seen: list[dict] | None = None):
        self.spark = spark
        # a runtime SQL conf, so the engine owns it whoever built the
        # session (see WINDOW_GROUP_LIMIT_CONF)
        spark.conf.set(*WINDOW_GROUP_LIMIT_CONF)
        self.cfg = config or CrawlConfig()
        if self.cfg.bloom_probe_mode != "cogroup":
            raise ValueError("bloom_probe_mode must be 'cogroup', got "
                             f"{self.cfg.bloom_probe_mode!r}")
        self.catalog = CheckpointCatalog(spark, catalog_root)
        self.pages_path = pages_path
        self.seeds = {s["site"]: s for s in seeds}
        self.robots = {r["host"]: r for r in robots}
        self.site_configs = {
            name: {
                "seed_url": s["seed_url"],
                "selector": s.get("selector"),
                "lang": s.get("lang", "fr"),
                "max_depth": s.get("max_depth", self.cfg.max_depth),
                "no_index": list(s.get("no_index", [])) + list(self.cfg.no_index_patterns),
                "exclude": admission_exclusions(
                    list(s.get("exclude", [])) + list(self.cfg.exclude_patterns)),
                "max_pages": s.get("max_pages", self.cfg.max_pages),
            }
            for name, s in self.seeds.items()
        }
        # site config rides a broadcast variable into the fetch UDF (at
        # 10^4 sites a closure-captured dict re-serializes per task)
        self._site_cfg_bc = spark.sparkContext.broadcast(self.site_configs)
        self._fetch_udf = _make_fetch_udf(pages_path, self._site_cfg_bc)
        # J3/J4: per-site exclusions and per-host robots rules as
        # broadcast dimension tables — admission plans stay O(1) in
        # site/host count instead of one when-branch per site
        self._sites_dim = _local_dim(
            spark, "site string, _exclude array<string>",
            site=list(self.site_configs),
            _exclude=[list(cfg["exclude"])
                      for cfg in self.site_configs.values()])
        self._robots_dim = _local_dim(
            spark, "host string, _rob_txt string, _rob_allow_all boolean",
            host=list(self.robots),
            _rob_txt=[_robots_txt_of(r) for r in self.robots.values()],
            _rob_allow_all=[bool(r.get("fetch_fails"))
                            for r in self.robots.values()],
        ) if self.robots else None
        self._bloom_table: DataFrame | None = None
        # one pool per ENGINE for the round's eager staged writes and
        # overlapped collects, reused across rounds; its threads start
        # lazily, so an unused engine costs nothing
        self._eager_pool = ThreadPoolExecutor(max_workers=16)
        self._initial_url_seen = initial_url_seen or []
        self._restore_or_init()

    # ------------------------------------------------------------------ init

    def _restore_or_init(self) -> None:
        state = self.catalog.state
        if state.get("sites"):
            self.round_no = int(state["round"])
            self.sites = {k: SiteState(**v) for k, v in state["sites"].items()}
            # a filter without ``bloom_round`` was not built over the
            # whole visited snapshot by _compact (older checkpoints
            # staged bare per-round deltas below the probe floor), so
            # it may miss visited URLs: drop it, and the next
            # compaction at the floor rebuilds it
            if (self.catalog.exists("bloom_parts")
                    and "bloom_round" not in self.catalog.meta):
                self.catalog.drop("bloom_parts")
            return
        self.round_no = 0
        self.sites = {name: SiteState(url_counter=1, frontier_rows=1)
                      for name in self.seeds}
        rows = [
            {"site": name, "url": normalize_url(s["seed_url"]),
             "host": url_host(s["seed_url"]), "depth": 0, "counter": 0}
            for name, s in self.seeds.items()
        ]
        frontier0 = self.spark.createDataFrame(rows, schema=(
            "site string, url string, host string, depth int, counter long")) \
            .withColumn("bucket", bucket_col(F.col("url"),
                                             self.cfg.seen_buckets))
        staged = {"frontier_adds": [self.catalog.stage("frontier_adds", frontier0, 0)]}
        if self._initial_url_seen:
            seen0 = self.spark.createDataFrame(
                [{**e, "round": -1} for e in self._initial_url_seen],
                schema=("url string, content_hash string, doc_id string, "
                        "last_crawl double, etag string, last_modified string, "
                        "site string, round int")) \
                .withColumn("bucket", bucket_col(F.col("url"),
                                                 self.cfg.seen_buckets))
            staged["url_seen_log"] = [self.catalog.stage("url_seen_log", seen0, 0)]
        self.catalog.commit_round(-1, staged, self._state_dict())

    def _bloom_latest(self) -> DataFrame | None:
        """Latest committed bitmap per partition id (latest-wins view of
        the append-only bloom_parts log, like url_seen)."""
        log = self.catalog.read("bloom_parts")
        return None if log is None else _latest(log, "pid")

    def _counter_base_df(self) -> DataFrame:
        """Per-site running URL counter as a broadcast dimension (the
        round-varying analog of the site config tables)."""
        return _local_dim(
            self.spark, "site string, _base long", site=list(self.sites),
            _base=[st.url_counter for st in self.sites.values()])

    def _state_dict(self) -> dict:
        return {
            "round": self.round_no,
            "sites": {k: {"url_counter": v.url_counter,
                          "pages_visited": v.pages_visited,
                          "active": v.active,
                          "pops_since_compact": v.pops_since_compact,
                          "frontier_rows": v.frontier_rows}
                      for k, v in self.sites.items()},
        }

    # ------------------------------------------------------------------ views

    def _pops_view(self) -> DataFrame | None:
        """``(site, counter)`` of every pop not yet folded into the
        compacted frontier snapshot — DERIVED from ``crawl_log``, whose
        rows ARE the pops (round-5 write-merge: the dedicated
        ``frontier_pops`` table duplicated three of crawl_log's columns
        and cost one staged write job per round). The floor is the
        round of the last frontier compaction, committed atomically
        with the snapshot (``meta['pops_floor']``); delta dirs at or
        below it are pruned driver-side from the manifest list, so this
        reads exactly the files the dedicated table would have held."""
        floor = self.catalog.meta.get("pops_floor", -1)
        log = self.catalog.read_since("crawl_log", floor)
        if log is None:
            return None
        return log.select("site", "counter")

    def _floor_view(self, table: str, floor_key: str, log_table: str,
                    key: str, keep: Column | None = None) -> DataFrame | None:
        """Membership view = ``table``'s compacted snapshot + ``(site,
        key, round, bucket)`` rows DERIVED from ``log_table``'s delta
        dirs after ``meta[floor_key]``, the round the snapshot was
        folded at (``keep`` selects the log rows that belong to the
        set). A compacted log snapshot is never a delta source (a
        latest-wins fold drops history rows). The manifest-name pruning
        of :meth:`CheckpointCatalog.read_since` is the IO fast path;
        the ROW-level round filter is the correctness boundary — it
        keeps exactly the post-floor rounds and drops url_seen_log's
        round=-1 initial-cache import (prior CACHE state, not content
        indexed by this crawl; the reference's duplicate-content window
        spans only the latter, crawler.py:441-447 seeding, F10)."""
        comp = self.catalog.read(table)
        floor = self.catalog.meta.get(floor_key, -1)
        log = self.catalog.read_since(log_table, floor)
        if log is not None:
            log = log.filter(F.col("round") > F.lit(floor))
            if keep is not None:
                log = log.filter(keep)
            log = log.select("site", key, "round",
                             bucket_col(F.col(key), self.cfg.seen_buckets)
                             .alias("bucket"))
        return _union(comp, log)

    def _visited_view(self) -> DataFrame | None:
        """Visited membership = compacted snapshot + deltas DERIVED
        from ``crawl_log``: actions ``admitted``/``ext_skipped`` are
        exactly the rows :meth:`_marks_visited` selects (see
        :meth:`_pop_action`), and ``bucket_col(url)`` ≡ the staged
        ``pmod(url_hash, nb)`` (both xxhash64). One fewer staged write
        per round."""
        return self._floor_view(
            "visited", "visited_floor", "crawl_log", "url",
            keep=F.col("action").isin("admitted", "ext_skipped"))

    def _content_hashes_view(self) -> DataFrame | None:
        """Indexed-content-hash membership (F10 history) = compacted
        snapshot + deltas DERIVED from ``url_seen_log``'s post-floor
        delta dirs — both tables staged projections of the same
        ``indexed`` frame, so the derived rows are byte-identical to
        what the dedicated write produced. url_seen's latest-wins
        snapshot is NOT a valid hash-history source (a re-indexed URL's
        older hash leaves it) — only the append deltas are, and
        :meth:`_compact` folds content_hashes BEFORE url_seen so a
        delta dir newer than the floor is never destroyed at any crash
        point."""
        return self._floor_view(
            "content_hashes", "content_hashes_floor", "url_seen_log",
            "content_hash")

    def _minus_pops(self, df: DataFrame) -> DataFrame:
        """``df`` without the frontier rows popped since the last
        compaction (anti-join on ``(site, counter)``). The pops view
        holds exactly ``sum(pops_since_compact)`` rows — ``_compact``
        zeroes the counters in the commit that advances the pops
        floor — and that bound gates the broadcast hint: without it the
        static (latency-mode) compile sort-merges, shuffling the
        frontier side — at the frontier10m shape a 10^7-row exchange
        to anti-join a few thousand pops."""
        pops = self._pops_view()
        if pops is None:
            return df
        bound = sum(st.pops_since_compact for st in self.sites.values())
        return df.join(self._bc(pops, bound), ["site", "counter"],
                       "left_anti")

    def _live_frontier(self) -> DataFrame | None:
        adds = self.catalog.read("frontier_adds")
        return None if adds is None else self._minus_pops(adds)

    def _pop_frontier(self, budgets: dict[str, int],
                      prefix_k: int) -> DataFrame | None:
        """Live-frontier view for pop selection, with the compacted
        snapshot pruned by the histogram cutoff — the predicate pushes
        to the parquet scan and the depth/counter-clustered layout
        skips every file outside the deepest band, so the per-round
        candidate scan tracks sites × prefix_k, not the frontier size
        (the round-3 verdict's last unbounded-growth term). Deltas
        since compaction are bounded by ``compact_every`` rounds and
        read whole."""
        comp, deltas = self.catalog.read_split("frontier_adds")
        if comp is not None:
            cut = pop_cutoff(
                self.catalog.meta.get("frontier_hist"),
                {s: prefix_k + self.sites[s].pops_since_compact
                 for s in budgets})
            if cut is not None:
                g, c = cut
                comp = comp.filter(
                    (F.col("depth") > g)
                    | ((F.col("depth") == g) & (F.col("counter") <= c)))
        adds = _union(comp, deltas)
        if adds is None:
            return None
        return self._minus_pops(adds).filter(F.col("site").isin(list(budgets)))

    def _url_seen_latest(self) -> DataFrame | None:
        """Latest-wins view of the FULL url_seen log — a corpus-sized
        window, so it runs only at compaction and in the offline
        :meth:`url_seen` view, never inside a round (rounds use the
        key-pruned :meth:`_seen_for`)."""
        log = self.catalog.read("url_seen_log")
        return None if log is None else _latest(log, "url")

    def _pruned(self, table: str, big: DataFrame, keys: DataFrame,
                key_col: str,
                bucket_list: list[int] | None = None) -> DataFrame:
        """Restrict a bucket-carrying table to the storage buckets of
        ``keys[key_col]``: the bucket list pushes down as a parquet
        ``In`` filter — file/row-group skipping over the
        range-partitioned compacted snapshot; uncompacted deltas are
        bounded by ``compact_every``.

        Adaptive: the bucket-list collect is one small driver job that
        only pays once ``table`` is big enough for file-skipping to
        matter — below ``prune_min_bytes`` the broadcast-filtered scan
        wins outright (AQE spirit; file sizes come from the catalog
        manifest, no Spark job). For the derived visited/content_hashes
        views the bytes count only the compacted snapshot (deltas ride
        in crawl_log/url_seen_log) — a slight undercount that at most
        delays the first prune by one compaction cycle; past it the
        snapshot dominates.

        ``bucket_list``: a caller that already holds the keys' exact
        storage-bucket set (folded into another aggregation job over
        the same frame — the link-dedup path collects count + bucket
        sets in ONE action) passes it here and skips the collect."""
        if self.catalog.table_bytes(table) < self.cfg.prune_min_bytes:
            return big
        if bucket_list is None:
            bucket_list = [r[0] for r in keys.select(
                bucket_col(F.col(key_col), self.cfg.seen_buckets).alias("b"))
                .distinct().collect()]
        if not bucket_list:
            return big.limit(0)
        return big.filter(F.col("bucket").isin(bucket_list))

    def _seen_for(self, keys: DataFrame, key_col: str = "url") -> DataFrame | None:
        """Latest-wins url_seen rows for exactly the round's key set:
        bucket-prune the log, broadcast-semi-join the keys, then window
        only the survivors. Per-url latest-wins commutes with a per-url
        semi-join, so this equals ``_url_seen_latest`` restricted to
        the keys — without shuffling or windowing the corpus (the
        round-2 verdict's #1 scale blocker)."""
        log = self.catalog.read("url_seen_log")
        if log is None:
            return None
        pruned = (self._pruned("url_seen_log", log, keys, key_col)
                  .join(self._bc(keys.select(F.col(key_col).alias("url"))
                                 .distinct(), self._pop_bound),
                        "url", "left_semi"))
        return _latest(pruned, "url").drop("bucket")

    def _present_keys(self, big: DataFrame, keys: DataFrame,
                      cols: list[str],
                      est_rows: int | None = None) -> DataFrame:
        """Distinct ``keys[cols]`` rows present in ``big``, computed by
        scanning ``big`` with a broadcast-build semi-join (build side =
        the round's keys) — the corpus-sized table is never shuffled
        and never globally distinct'd; the result is bounded by the
        key count. Callers anti/semi-join the (small) result back.
        ``est_rows`` is the caller's bound on the key-set size; above
        :data:`_BROADCAST_KEY_ROWS` the forced hint is dropped (see
        :meth:`_bc`)."""
        return (big.join(self._bc(keys.select(*cols).distinct(), est_rows),
                         cols, "left_semi")
                .select(*cols).distinct())

    def documents(self) -> DataFrame | None:
        """Indexed documents with 304-refresh merge (last_crawled_at =
        latest refresh; reference sends partial upserts to Meilisearch,
        crawler.py:1011-1016)."""
        docs = self.catalog.read("documents")
        if docs is None:
            return None
        ref = self.catalog.read("refreshes")
        if ref is None:
            return docs
        latest = ref.groupBy("id").agg(F.max("last_crawled_at").alias("_refresh_at"))
        return (docs.join(latest, "id", "left")
                .withColumn("last_crawled_at",
                            F.greatest("last_crawled_at", "_refresh_at"))
                .drop("_refresh_at"))

    def visited(self) -> DataFrame | None:
        """Public visited-set view (site, url, round, bucket); may
        contain per-round duplicates between compactions — consumers
        needing exact rows should ``groupBy(site, url).agg(min(round))``
        as compaction does."""
        return self._visited_view()

    def url_seen(self) -> DataFrame | None:
        latest = self._url_seen_latest()
        return latest.drop("bucket") if latest is not None else None

    # ------------------------------------------------------------------ round

    def run(self, max_rounds: int | None = None) -> int:
        """Run rounds until every site is done (or a cap); returns the
        number of rounds executed. The duration cap is the reference's
        MAX_CRAWL_DURATION loop check (crawler.py:1138-1143) on the
        logical clock: stop before a round once this run's elapsed
        logical time exceeds the budget."""
        cap = max_rounds if max_rounds is not None else self.cfg.max_rounds
        duration = self.cfg.max_crawl_duration
        executed = 0
        while any(s.active for s in self.sites.values()):
            if cap is not None and executed >= cap:
                break
            if (duration is not None
                    and executed * self.cfg.round_seconds > duration):
                break
            progressed = self.run_round()
            executed += 1
            if not progressed:
                break
        return executed

    def run_round(self) -> bool:
        """One admission+fetch round across all active sites. Returns
        False when no site had frontier left (crawl complete)."""
        now = T0 + self.round_no * self.cfg.round_seconds
        # per-site budgets (max_pages semantics, crawler.py:1155-1160)
        budgets = {}
        for name, st in self.sites.items():
            # a site whose tracked live frontier is empty can never pop
            # or push again (links are same-site): it gets no budget and
            # retires at round start, before any Spark job — when every
            # site is empty the crawl's final round runs no job instead
            # of a full selection pipeline (~3 s at the bench shape)
            if not st.active or st.frontier_rows == 0:
                continue
            mp = self.site_configs[name]["max_pages"]
            b = self.cfg.round_budget
            if mp and mp > 0:
                b = min(b, mp - st.pages_visited)
            budgets[name] = max(b, 0)
        active_sites = [n for n, b in budgets.items() if b > 0]
        for name, st in self.sites.items():
            if st.active and name not in active_sites:
                st.active = False
        if not active_sites:
            return False
        budgets = {s: budgets[s] for s in active_sites}

        # row-count bound for this round's popped set, used to gate the
        # forced-broadcast hints and the latency-mode compile: the
        # cutoff admits ≤ budget admissible rows and < budget
        # inadmissible rows per site, and no site can pop more rows
        # than its live frontier holds — take the tighter of the two
        self._pop_bound = sum(self._site_bound(s, 2 * b)
                              for s, b in budgets.items())
        # row-count bound for the SELECTION pipeline's intermediate
        # frames (candidate prefix + admission): min(prefix_k, live
        # frontier rows) per site at the escalation's first iteration
        # (the prefix can't exceed the frontier it is drawn from).
        # Without frontier sizes this is sites × prefix_k — ~64× the
        # pop bound; the latency-mode static width must be sized to
        # this, not the pop bound, or a 2k-URL round over many sites
        # funnels a ~10^5-row prefix through width-1 exchanges
        # (a single-task final top-K limit + window).
        prefix_k = max(budgets.values()) * 8 + 64
        self._sel_bound = sum(self._site_bound(s, prefix_k) for s in budgets)

        # the filter never leaves the bloom_parts table — one
        # latest-wins view per round feeds the cogrouped probes and the
        # delta merge. It is None until a compaction creates the filter
        # (see _compact); such a round runs no Bloom job at all
        self._bloom_table = self._bloom_latest()
        # round-scoped caches (_persist_tmp) and background jobs
        # (_submit) share one lifetime: the round. Whether it commits
        # or raises, every job is joined before the caches it reads go
        self._round_tmp: list[DataFrame] = []
        self._round_futs: list = []
        try:
            with self._latency_mode():
                popped = self._select_pops(budgets, prefix_k)
                if popped is None:
                    for name in active_sites:
                        self.sites[name].active = False
                    return False
                progressed = self._execute_round(popped, now)
        finally:
            wait(self._round_futs)
            for df in self._round_tmp:
                df.unpersist()
            self._round_tmp = []
            self._round_futs = []
            self._bloom_table = None
        # compaction is corpus-sized — always compiled under AQE,
        # outside the latency scope (round frames are already released)
        if self.cfg.compact_every and self.round_no % self.cfg.compact_every == 0:
            self._compact()
        return progressed

    def _site_bound(self, name: str, cap: int) -> int:
        """``cap`` tightened by the site's tracked live-frontier size
        (no per-site round frame can exceed it); an unknown size keeps
        the budget-only ``cap``."""
        rows = self.sites[name].frontier_rows
        return cap if rows is None else min(cap, rows)

    @contextmanager
    def _latency_mode(self):
        """Latency-bound small rounds compile their barrier actions
        without AQE. The round's selection pipeline is ~12 exchanges
        deep (the top-K window, the Bloom cogroup, admission joins);
        under AQE every exchange is submitted as its own query
        stage — ~0.3-0.5 s of scheduling latency apiece, ~6 s of a
        2k-URL round's 15 s wall at the frontier10m harness (profile
        recorded in scripts/frontier_actions_out.json). A static plan
        pipelines them into one job per action. Rounds whose popped-row
        bound exceeds :data:`_LATENCY_ROUND_ROWS` are data-bound — they
        keep AQE (runtime coalescing + skew splitting outweigh
        submission latency), as does compaction (corpus-sized, always outside
        this scope). Shuffle width drops to ≤8: a latency round's
        frames hold at most ~10^5 rows, and 8 wide static exchanges
        beat 32 near-empty tasks per stage."""
        if self._pop_bound > _LATENCY_ROUND_ROWS:
            yield
            return
        conf = self.spark.conf
        old_aqe = conf.get("spark.sql.adaptive.enabled")
        old_sp = conf.get("spark.sql.shuffle.partitions")
        conf.set("spark.sql.adaptive.enabled", "false")
        # static width sized to the LARGEST frame any latency-round
        # exchange carries — the selection bound (sites × prefix_k),
        # not the pop bound, which is ~64× smaller: micro-rounds
        # (equivalence tests, drain tails) run every exchange as ONE
        # task — AQE's coalesce-to-1 without the per-stage submission
        # latency; rounds whose selection frames reach 10^4-10^6 rows
        # get 8-wide exchanges (measured at the frontier10m harness:
        # a 2k-URL round over 16 sites has a ~257k-row prefix bound,
        # and width 1 serialized the final top-K + admission window)
        bound = max(self._pop_bound, self._sel_bound)
        # width 1 only for genuinely micro rounds (equivalence/drain
        # tails): a few-thousand-pop round can still explode 10-20×
        # that many LINKS through its dedup exchanges (round-6: the
        # bench's 2.9k-pop round carries ~54k links), so the one-task
        # tier now stops at 256
        width = 1 if bound <= 256 else 8
        conf.set("spark.sql.shuffle.partitions",
                 str(min(int(old_sp), width)))
        try:
            yield
        finally:
            conf.set("spark.sql.adaptive.enabled", old_aqe)
            conf.set("spark.sql.shuffle.partitions", old_sp)

    def _bc(self, df: DataFrame, est_rows: int | None) -> DataFrame:
        """Broadcast hint with a size guard (round-4 advisor item): the
        hint overrides Spark's size threshold, so it is only forced when
        the caller's ROW-COUNT BOUND for the frame stays under
        :data:`_BROADCAST_KEY_ROWS`. Above the bound the join falls back to
        Spark's own strategy — AQE still converts it to a broadcast at
        runtime when the actual payload is small, and the shuffle-join
        fallback is the memory-safe shape for genuinely huge rounds."""
        if est_rows is not None and est_rows > _BROADCAST_KEY_ROWS:
            return df
        return F.broadcast(df)

    def _persist_tmp(self, df: DataFrame) -> DataFrame:
        """Persist a round-scoped frame (a barrier action and the plans
        it feeds both read it); released when :meth:`run_round` ends."""
        df = df.persist()
        self._round_tmp.append(df)
        return df

    def _submit(self, fn, *args):
        """Run ``fn`` on the engine pool as a round-scoped background
        job; :meth:`run_round` joins it before the round ends."""
        fut = self._eager_pool.submit(fn, *args)
        self._round_futs.append(fut)
        return fut

    def _cut(self, df: DataFrame) -> DataFrame:
        """TRUNCATE the lineage of a bounded round frame
        (``localCheckpoint``, lazily — the next action over it both
        computes and stores it, so no extra job). The round's dataflow re-embeds
        each upstream frame in several downstream plans (membership
        keys, intra-round joins, metrics); without truncation those
        re-embeddings compound multiplicatively and the analyzed plan
        grows exponentially with pipeline depth — Catalyst analysis
        itself becomes a per-round driver cost and the plan string
        alone can exhaust the driver heap. Truncating at the four
        budget-bounded frame boundaries (popped / fetched / ok / links)
        keeps every staged write's plan O(1) in pipeline depth. Blocks
        are dropped by the ContextCleaner once the round's references
        go; durability still comes solely from the catalog commit (a
        lost executor fails the round job and the next run resumes
        bit-identically from the manifest)."""
        return df.localCheckpoint(eager=False)

    # ---------------------------------------------------------- admission

    def _admission_flags(self, cand: DataFrame) -> DataFrame:
        """F1-F7 pop-time admission chain (crawler.py:1157-1178), as
        columns. Order of precedence matches the reference's
        if/continue chain: visited-dup → excluded → extension → robots."""
        # excluded (F3): broadcast-joined site dimension — substring
        # containment via exists/contains, plan size O(1) in site count
        cand = (cand.join(F.broadcast(self._sites_dim), "site", "left")
                .withColumn("f_excluded",
                            is_excluded_arr(F.col("url"), F.col("_exclude")))
                .drop("_exclude"))
        cand = cand.withColumn("f_ext", has_ignored_extension_col(F.col("url")))
        # robots (F5): broadcast-joined host dimension, evaluated with
        # the stdlib RobotFileParser (full User-agent/Allow/Disallow
        # semantics — the reference's own parser, crawler.py:405-429)
        # in an Arrow-batched UDF with a per-distinct-robots.txt parser
        # cache; failed robots fetch ⇒ allow_all. Unknown host ⇒ allow.
        if self._robots_dim is not None:
            cand = (cand.join(F.broadcast(self._robots_dim), "host", "left")
                    .withColumn("f_robots_denied",
                                robots_denied_udf(F.col("url"),
                                                  F.col("_rob_txt"),
                                                  F.col("_rob_allow_all")))
                    .drop("_rob_txt", "_rob_allow_all"))
        else:
            cand = cand.withColumn("f_robots_denied", F.lit(False))
        # visited dup (F1): Bloom prefilter → exact membership check.
        # The exact check scans visited bucket-pruned with a broadcast
        # build side (the round's maybe-set), so the corpus-sized table
        # is never shuffled or distinct'd — semi-join membership is
        # duplicate-insensitive, so distinct-by-construction-at-
        # compaction suffices (round-2 verdict scale blocker #2).
        visited = self._visited_view()
        cand = cand.withColumn("url_hash", url_hash_col(F.col("url")))
        if visited is not None:
            probed = self._persist_tmp(self._bloom_split(
                cand.select("site", "counter", "url", "url_hash")))
            maybe = probed.filter(F.col("_maybe"))
            bound = self._prefix_bound
            present = self._present_keys(
                self._pruned("visited", visited, maybe, "url"),
                maybe, ["site", "url"], est_rows=bound)
            hit = (maybe.join(self._bc(present, bound),
                              ["site", "url"], "left_semi")
                   .select("site", "counter").withColumn("f_visited", F.lit(True)))
            # hit is bounded by the prefix — hint it so the static
            # (latency-mode) compile broadcasts instead of SMJ-ing
            cand = cand.join(self._bc(hit, bound), ["site", "counter"],
                             "left") \
                       .withColumn("f_visited", F.coalesce("f_visited", F.lit(False)))
        else:
            cand = cand.withColumn("f_visited", F.lit(False))
        return cand.withColumn(
            "admissible",
            ~F.col("f_visited") & ~F.col("f_excluded") & ~F.col("f_ext")
            & ~F.col("f_robots_denied"))

    @staticmethod
    def _pop_action() -> Column:
        """crawl_log action of a popped row: ``admitted``, else its skip
        reason in the reference's pop-time precedence visited →
        excluded → extension → robots (crawler.py:1163-1178)."""
        return (F.when(F.col("admissible"), "admitted")
                .when(F.col("f_visited"), "visited_dup")
                .when(F.col("f_excluded"), "excluded")
                .when(F.col("f_ext"), "ext_skipped")
                .otherwise("robots_denied"))

    @staticmethod
    def _marks_visited() -> Column:
        """Popped rows that enter the visited set: every batch member
        plus the extension skips (crawler.py:1168-1173, 1185-1187). An
        excluded URL ``continue``s BEFORE the extension check, so a URL
        both excluded and extension-suffixed never enters (it may be
        re-pushed on rediscovery). These are exactly the rows
        :meth:`_pop_action` labels ``admitted`` or ``ext_skipped``,
        which is how :meth:`_visited_view` reads them back."""
        return F.col("admissible") | (
            F.col("f_ext") & ~F.col("f_visited") & ~F.col("f_excluded"))

    def _bloom_split(self, df: DataFrame) -> DataFrame:
        """Adds boolean ``_maybe``: True iff the row's ``url_hash``
        might be in the visited Bloom. Definite negatives (the vast
        majority of discovered links) skip the exact anti-join shuffle.

        The filter is never materialized whole anywhere — probe rows
        cogroup with the committed ``bloom_parts`` table on partition
        id (the 4096-partition production shape, where the full filter
        is GBs and must not transit the driver).

        Until a compaction finds ``visited`` at ``prune_min_bytes`` no
        filter exists: the prefilter's only job is to spare the EXACT
        membership check a scan of the visited table, and below that
        floor the scan is already trivial while the probe costs a
        Python-worker stage per call site. ``_maybe=True`` is the
        probe's no-information answer (a Bloom filter has no false
        negatives): downstream results are identical, rows just take
        the exact-check path."""
        if self._bloom_table is None:
            return df.withColumn("_maybe", F.lit(True))
        bits, k = BITS_PER_PARTITION, NUM_HASHES
        out_schema = StructType(list(df.schema.fields)
                                + [StructField("_maybe", BooleanType())])
        cols = list(df.columns)

        def check_fn(key, pdf, bdf):
            pdf = pdf[cols]
            if not len(pdf):
                return pdf.assign(_maybe=pd.Series(dtype=bool))
            if not len(bdf):
                # the filter is complete: a partition with no bitmap
                # holds no visited URL
                return pdf.assign(_maybe=False)
            part = np.frombuffer(bdf.iloc[0]["bits"], dtype=np.uint8)
            return pdf.assign(_maybe=check_hashes(
                pdf["url_hash"].to_numpy(), part, bits, k))

        probe = df.withColumn(
            "_pid", F.pmod(F.col("url_hash"),
                           F.lit(NUM_PARTITIONS)).cast("int"))
        return (probe.groupBy("_pid")
                .cogroup(self._bloom_table.select("pid", "bits").groupBy("pid"))
                .applyInPandas(check_fn, schema=out_schema))

    def _bloom_bitmaps(self, keys: DataFrame) -> DataFrame:
        """``(pid, bits)``: one bitmap per Bloom partition holding the
        probe bits of every ``url_hash`` in ``keys``, built
        executor-side — the per-round delta and the one-pass build at
        compaction. The driver never collects url_hashes (at 10^6-10^7
        visited per round that collect is a choke point); the output is
        bounded by P × bits/8 regardless of row count."""
        bits, k, P = BITS_PER_PARTITION, NUM_HASHES, NUM_PARTITIONS

        def build(key, pdf):
            return pd.DataFrame([{
                "pid": int(key[0]),
                "bits": bitmap_delta(pdf["url_hash"].to_numpy(), bits, k)
                .tobytes()}])

        # explicit width on the pid exchange: the bitmap stage is
        # CPU-bound Python over a small-BYTES shuffle (16 B/row), so
        # byte-based AQE coalescing (advisory=16m, parallelismFirst=
        # false) collapses a 10^6-row delta build to 1-2 tasks
        # — measured 0.64 → 0.91-1.05 s at 1e6 rows (round-5 AQE
        # bisect). A user repartition with an explicit count is exempt
        # from coalescing and already satisfies the groupBy's
        # distribution, so this pins parallelism without adding an
        # exchange.
        return (keys.select(F.pmod(F.col("url_hash"), F.lit(P))
                            .cast("int").alias("pid"), "url_hash")
                .repartition(min(P, self.cfg.shuffle_partitions), "pid")
                .groupBy("pid")
                .applyInPandas(build, schema="pid int, bits binary"))

    def _select_pops(self, budgets: dict[str, int],
                     prefix_k: int) -> DataFrame | None:
        """Pop cutoff with candidate-prefix escalation. Returns the
        popped rows with admission flags + pos_in_round, or None when
        the frontier is empty for every active site.

        The candidate prefix is a native per-site top-K
        (:func:`candidate_prefix`: partial per-partition limits before
        the exchange, then the final window) over the histogram-pruned
        pop view (:meth:`_pop_frontier`), so the per-site sort never
        sees the whole frontier — and after a compaction the scan
        itself file-skips everything outside the deepest band. The
        view is rebuilt per escalation iteration because the safe
        cutoff depends on ``prefix_k``, the initial candidate prefix
        per site, which escalates 8× per retry."""
        order = [F.desc("depth"), F.asc("counter")]
        # per-round per-site budgets as a broadcast dimension (plan size
        # O(1) in site count; the values change every round, so they are
        # data, not plan literals)
        budget_df = _local_dim(self.spark, "site string, _budget int",
                               site=list(budgets),
                               _budget=list(budgets.values()))
        while True:
            # every frame this iteration persists lands in _round_tmp at
            # or after this index; an escalation retry releases them
            # immediately instead of holding superseded prefix/probe/
            # admission copies in executor storage until the barrier
            it_tmp = len(self._round_tmp)
            self._prefix_bound = sum(self._site_bound(s, prefix_k)
                                     for s in budgets)
            frontier = self._pop_frontier(budgets, prefix_k)
            if frontier is None:
                return None
            # persisted: the admission bucket-prune collect materializes
            # the prefix once; the popped/stats plans then read cache
            # instead of re-scanning the frontier
            prefix = self._persist_tmp(candidate_prefix(frontier, prefix_k))
            cand = self._admission_flags(prefix)
            if self.cfg.host_budget is not None:
                # politeness: over-budget rows stay in the frontier
                wh = Window.partitionBy("site", "host").orderBy(*order)
                cand = (cand.withColumn("_hrank",
                                        F.sum(F.col("admissible").cast("int")).over(wh))
                        .filter(~F.col("admissible")
                                | (F.col("_hrank") <= self.cfg.host_budget)))
            cand = cand.join(F.broadcast(budget_df), "site", "left")
            budget = F.coalesce(F.col("_budget"), F.lit(0))
            wsum = Window.partitionBy("site").orderBy(*order)
            cand = cand.withColumn(
                "_adm_run", F.sum(F.col("admissible").cast("int")).over(wsum))
            # admission flags (Bloom probe + windows) feed the cutoff,
            # the stats collect, and every downstream consumer — persist
            # once; the stats collect materializes it
            cand = self._persist_tmp(cand)
            pop_cond = (F.when(F.col("admissible"), F.col("_adm_run") <= budget)
                        .otherwise(F.col("_adm_run") < budget))
            # n_rank comes from the UNFILTERED prefix (the host-budget
            # filter may drop the last-ranked row from cand, which must
            # not mask a full prefix); n_adm from the admission frame.
            # When every budget site's tracked live frontier
            # is provably SMALLER than prefix_k, no site can fill its
            # prefix (n_rank ≤ frontier_rows < prefix_k), so escalation
            # is impossible and the stats collect — one driver-blocking
            # job per round, serialized before the fetch — buys
            # nothing. Skip it: the popped checkpoint then materializes
            # inside the round's first eager job (crawl_log write /
            # fetch kick) instead of its own synchronous action. Sites
            # with untracked sizes (None) keep the stats path; a
            # retirement-emptied budgets dict never reaches here.
            if all(self.sites[s].frontier_rows is not None
                   and self.sites[s].frontier_rows < prefix_k
                   for s in budgets):
                stats = under = None
            else:
                stats = {r["site"]: (r["n_adm"], r["n_rank"]) for r in
                         prefix.groupBy("site").agg(F.max("_rank").alias("n_rank"))
                         .join(cand.groupBy("site").agg(
                             F.sum((F.col("admissible") & pop_cond).cast("int"))
                             .alias("n_adm")), "site", "left").collect()}
                under = [s for s, (n_adm, n_rank) in stats.items()
                         if (n_adm or 0) < budgets[s] and n_rank == prefix_k]
            if not under:
                if stats is not None and not stats:
                    return None
                popped = cand.filter(pop_cond).drop("_budget").withColumn(
                    "pos_in_round",
                    F.when(F.col("admissible"),
                           F.row_number().over(
                               Window.partitionBy("site", "admissible")
                               .orderBy(*order)) - 1).otherwise(F.lit(-1)))
                # lineage cut: popped is the round's root frame — every
                # downstream plan re-embeds it several times (see _cut).
                # Cut only on the accepted iteration, so escalation
                # never abandons a materialized checkpoint.
                return self._cut(popped)
            for df in self._round_tmp[it_tmp:]:
                df.unpersist()
            del self._round_tmp[it_tmp:]
            prefix_k *= 8

    # ---------------------------------------------------------- execution

    def _execute_round(self, popped: DataFrame, now: float) -> bool:
        cfg = self.cfg
        rno = self.round_no
        # each staged write is submitted to the engine's pool the moment
        # it is declared: its job overlaps the round's remaining
        # barrier actions (bucket-prune collect, link count, metrics
        # rollup) and the barrier only joins futures. Staged dirs are
        # orphans until the manifest commit, so visibility and crash
        # semantics don't depend on when they are written. Concurrent
        # first-materialization of a shared persisted/localCheckpoint
        # parent is BlockManager-locked. Measured against holding every
        # write to a barrier flush (round 5, interleaved one-JVM
        # median-of-5 on the bench.py crawl_round workload): 51.0 s →
        # 43.8 s (scripts/eagerflush_ab_out.json).
        staged_futs: list[tuple[str, object]] = []

        def stage(table: str, df: DataFrame):
            staged_futs.append(
                (table, self._submit(self.catalog.stage, table, df, rno)))

        # crawl_log: the ordering-equivalence artifact (FIXTURES.md §7)
        stage("crawl_log", popped.select(
            "site", "url", "depth", "counter", "pos_in_round",
            self._pop_action().alias("action"), F.lit(rno).alias("round")))

        admitted = popped.filter(F.col("admissible"))

        # conditional-GET headers from the cache, keyed by requested URL
        # (crawler.py:974-979). The seen-log read is key-pruned to this
        # round's admitted set (popped is already materialized) — no
        # full-log window per round.
        seen_cond = self._seen_for(admitted.select("url"))
        if seen_cond is not None:
            # bounded by the round's admitted keys — hint for the
            # static (latency-mode) compile
            admitted = admitted.join(
                self._bc(seen_cond.select(
                    F.col("url"),
                    F.col("etag").alias("cached_etag"),
                    F.col("last_modified").alias("cached_last_modified")),
                    self._pop_bound),
                "url", "left")
        else:
            admitted = (admitted
                        .withColumn("cached_etag", F.lit(None).cast("string"))
                        .withColumn("cached_last_modified",
                                    F.lit(None).cast("string")))

        # salted host-hash repartition → fetch UDF (hot-host skew guard)
        salt = (F.col("counter") % F.lit(_HOST_SALT_ROWS)).cast("long")
        fetched = self._cut(
            admitted.select("site", "url", "host", "depth", "counter",
                            "pos_in_round", "cached_etag",
                            "cached_last_modified")
            .repartition(cfg.shuffle_partitions, F.xxhash64(F.col("host"), salt))
            .mapInPandas(self._fetch_udf, schema=FETCH_SCHEMA)
        )
        # kick the fetch NOW (noop sink, guide §1.4): the checkpoint
        # materializes on its first action, which otherwise is the
        # eager documents write — submitted only after ~0.5-1 s of
        # driver-side plan construction (seen join, indexing decision,
        # doc projection). The round's dominant real work starts
        # before that instead of after; every later consumer reads the
        # stored checkpoint blocks. One extra no-op job (~0.15 s)
        # buys the overlap; failure surfacing is unchanged (the write
        # that shares the checkpoint re-raises the same error, and the
        # future is joined at the barrier).
        fetch_kick = self._submit(
            lambda: fetched.write.format("noop").mode("overwrite").save())
        # ---- indexing decision (crawler.py:1033-1058) ----
        ok = fetched.filter(F.col("fetch_status") == 200)
        # seen-log lookup keyed by final URL, pruned to this round's
        # fetched set (the bucket collect materializes the persisted
        # fetch once — same total work, earlier)
        seen_final = self._seen_for(ok.select("final_url"), "final_url")
        if seen_final is not None:
            ok = ok.join(
                self._bc(seen_final.select(
                    F.col("url").alias("final_url"),
                    F.col("content_hash").alias("seen_hash"),
                    F.col("last_crawl").alias("seen_last_crawl")),
                    self._pop_bound),
                "final_url", "left")
        else:
            ok = ok.withColumn("seen_hash", F.lit(None).cast("string")) \
                   .withColumn("seen_last_crawl", F.lit(None).cast("double"))
        # ok feeds indexing, intra-round 304/skip classification and
        # stats — cut once instead of re-running the url_seen join
        # per consumer (and to keep downstream plans O(1))
        ok = self._cut(ok)
        cache_skip = (
            F.lit(not cfg.force_recrawl)
            & F.col("seen_hash").isNotNull()
            & (F.col("seen_hash") == F.col("content_hash"))
            & ((F.lit(now) - F.col("seen_last_crawl")) < cfg.cache_days * 86400))
        ok = ok.withColumn("f_cache_skip", cache_skip)

        hashes_seen = self._content_hashes_view()
        candidates = ok.filter(
            (F.col("no_index") == 0) & ~F.col("f_cache_skip")
            & (F.length("content") >= MIN_CONTENT_LEN))
        if hashes_seen is not None:
            # F10 window dedup vs history: same inverted-membership
            # shape as F1 — scan the (bucket-pruned) hash table with
            # a broadcast build side instead of distinct+shuffling it
            seen_hashes = self._present_keys(
                self._pruned("content_hashes", hashes_seen, candidates,
                             "content_hash"),
                candidates, ["site", "content_hash"])
            candidates = candidates.join(
                F.broadcast(seen_hashes),
                ["site", "content_hash"], "left_anti")
        wdup = Window.partitionBy("site", "content_hash").orderBy("pos_in_round")
        indexed = self._persist_tmp(
            candidates
            .withColumn("_dup_rn", F.row_number().over(wdup))
            .filter(F.col("_dup_rn") == 1).drop("_dup_rn"))

        # ---- intra-round cache effects ----------------------------
        # The reference updates the cache sequentially *within* a
        # batch (update_cache at crawler.py:1059 runs before later
        # batch members are classified), so a page whose final URL
        # was indexed earlier in this same round is (a) served a 304
        # if its request carried the just-stored ETag, else (b)
        # cache-skipped. Indexing outcome is already identical (the
        # dup-hash window suppresses it); this reproduces the stats,
        # the refresh row, and — for the 304 case — the *absence of
        # link extraction* (crawler.py:1011-1016).
        wfi = Window.partitionBy("site", "final_url").orderBy("pos_in_round")
        first_indexed = (indexed
                         .withColumn("_fi_rn", F.row_number().over(wfi))
                         .filter(F.col("_fi_rn") == 1)
                         .select("site", "final_url",
                                 F.col("pos_in_round").alias("_first_pos"),
                                 F.col("etag").alias("_stored_etag"),
                                 F.col("last_modified").alias("_stored_lm")))
        # 304 when the just-stored validators (from the indexing
        # fetch — a redirect stores the *redirect row's* headers)
        # match the page's current ones, mirroring fetch_page's
        # If-None-Match / If-Modified-Since round-trip
        # (crawler.py:974-984): ETag decides alone when both sides
        # have one; otherwise matching Last-Modified 304s
        validators_match = F.when(
            F.col("_stored_etag").isNotNull() & F.col("etag").isNotNull(),
            F.col("_stored_etag") == F.col("etag")
        ).otherwise(
            F.col("_stored_lm").isNotNull()
            & F.col("last_modified").isNotNull()
            & (F.col("_stored_lm") == F.col("last_modified")))
        intra304 = self._persist_tmp(
            ok.join(self._bc(first_indexed
                             .select("site", F.col("final_url").alias("url"),
                                     "_first_pos", "_stored_etag",
                                     "_stored_lm"), self._pop_bound),
                    ["site", "url"])
            .filter((F.col("_first_pos") < F.col("pos_in_round"))
                    & validators_match)
            .select("site", "url", "pos_in_round",
                    F.md5(F.col("url")).alias("refresh_id")))
        # the intra-round 304 keys, flagged: joined into the skip
        # classification and the fetch metrics, anti-joined out of link
        # discovery (a 304 extracts no links)
        is304 = self._bc(intra304.select("site", "pos_in_round")
                         .withColumn("_is304", F.lit(True)), self._pop_bound)
        intra_skip = (
            ok.join(is304, ["site", "pos_in_round"], "left")
            .join(self._bc(first_indexed, self._pop_bound),
                  ["site", "final_url"], "left")
            .withColumn("f_cache_skip_final",
                        F.col("f_cache_skip")
                        | (F.col("_first_pos").isNotNull()
                           & (F.col("_first_pos") < F.col("pos_in_round"))
                           & F.col("_is304").isNull())))

        docs = indexed.select(
            F.col("doc_id").alias("id"), "site",
            F.col("final_url").alias("url"), "title", "excerpt", "content",
            "content_source",
            F.from_json("images_json", IMAGES_SCHEMA).alias("images"),
            "lang", F.lit(int(now)).alias("timestamp"),
            F.lit(now).alias("indexed_at"), F.lit(now).alias("last_crawled_at"),
            "content_hash", F.lit(rno).alias("round"))
        stage("documents", docs)
        nb = self.cfg.seen_buckets
        # no content_hashes delta: the url_seen_log delta below is a
        # projection of the SAME ``indexed`` frame, and
        # _content_hashes_view derives (site, content_hash, round,
        # bucket) back from its post-floor delta dirs — one fewer
        # staged write job per round (round-5 write-merge)
        stage("url_seen_log", indexed.select(
            F.col("final_url").alias("url"), "content_hash", "doc_id",
            F.lit(now).alias("last_crawl"), "etag", "last_modified",
            "site", F.lit(rno).alias("round"),
            bucket_col(F.col("final_url"), nb).alias("bucket")))

        refreshes = fetched.filter(F.col("fetch_status") == 304).select(
            F.col("doc_id").alias("id"), F.lit(now).alias("last_crawled_at"),
            F.lit(rno).alias("round"))
        refreshes = refreshes.unionByName(intra304.select(
            F.col("refresh_id").alias("id"),
            F.lit(now).alias("last_crawled_at"), F.lit(rno).alias("round")))
        stage("refreshes", refreshes)

        # ---- Bloom delta, once the filter exists, over the rows that
        # enter the visited set. No visited delta is staged: crawl_log
        # carries the same rows and _visited_view derives them back
        # (round-5 write-merge).
        prev = self._bloom_table
        if prev is not None:
            delta_df = self._bloom_bitmaps(popped.filter(self._marks_visited()))
            # merge executor-side (broadcast join on the ≤P-row parts
            # view); no bitmap ever reaches the driver
            joined = (delta_df
                      .join(F.broadcast(prev.select(
                          "pid", F.col("bits").alias("pbits"))),
                          "pid", "left"))

            def or_fn(batches):
                for pdf in batches:
                    out = []
                    for row in pdf.itertuples(index=False):
                        d = np.frombuffer(row.bits, dtype=np.uint8)
                        if row.pbits is not None:
                            d = d | np.frombuffer(row.pbits, dtype=np.uint8)
                        out.append({"pid": row.pid, "bits": d.tobytes()})
                    yield pd.DataFrame(out, columns=["pid", "bits"])

            stage("bloom_parts",
                  joined.mapInPandas(or_fn, schema="pid int, bits binary")
                  .withColumn("round", F.lit(rno)))

        # ---- metrics, adds-independent components (A2/A3) ----
        # Round-6: four of the five metrics components depend only on
        # frames that exist BEFORE link discovery (fetched / popped /
        # indexed / intra-round skips) — their rollup is submitted
        # here so its job overlaps the link-dedup work, and only the
        # pushed count (over the final adds) stays at the barrier.
        action = (
            F.when(F.col("fetch_status") == -1, "error")
            .when((F.col("fetch_status") == 304) | F.col("_is304").isNotNull(),
                  "not_modified")
            .when(F.col("fetch_status") == 0, "not_indexed_content_type")
            .otherwise("fetched"))
        fetch_counts = (
            fetched.join(is304, ["site", "pos_in_round"], "left")
            .groupBy("site", action.alias("action")).count())
        skip_counts = popped.filter(~F.col("admissible")).groupBy(
            "site", self._pop_action().alias("action")).count()
        idx_counts = indexed.groupBy("site").agg(F.count("*").alias("count")) \
                            .withColumn("action", F.lit("indexed")) \
                            .select("site", "action", "count")
        cache_skip_counts = intra_skip.filter(F.col("f_cache_skip_final")) \
            .groupBy("site").agg(F.count("*").alias("count")) \
            .withColumn("action", F.lit("skipped_cache")) \
            .select("site", "action", "count")
        metrics_head = (fetch_counts.unionByName(skip_counts)
                        .unionByName(idx_counts)
                        .unionByName(cache_skip_counts)
                        .withColumn("round", F.lit(rno)))
        fut_metrics = self._submit(metrics_head.collect)
        # lineage (S9) depends only on the fetched frame — stage it
        # here so its write overlaps the link-dedup stats job instead
        # of queueing behind the whole adds pipeline
        lineage = (fetched.groupBy("site",
                                   F.spark_partition_id().alias("partition_id"))
                   .agg(F.count("*").alias("n_rows"),
                        F.sum(F.length(F.coalesce("content", F.lit(""))))
                        .alias("bytes_content"))
                   .withColumn("round", F.lit(rno)))
        stage("lineage", lineage)

        # ---- link discovery + frontier push (crawler.py:1203-1208) ----
        links = (
            fetched.filter((F.col("fetch_status") == 200) & F.col("links").isNotNull())
            .join(is304, ["site", "pos_in_round"], "left_anti")
            .select("site", "pos_in_round",
                    (F.col("depth") + 1).alias("link_depth"),
                    F.posexplode("links").alias("link_pos", "link_url")))
        new_links = self._dedup_links(links, popped)
        if cfg.max_queue_size is not None:
            # the cap path evaluates the dedup subtree twice (per-page
            # rollup + kept rows) — cache it
            new_links = self._apply_queue_cap(self._persist_tmp(new_links),
                                              popped)

        # counter assignment in insertion order (crawler.py:1206-1207);
        # per-site counter bases join in as broadcast data (O(1) plan)
        wcnt = Window.partitionBy("site").orderBy("pos_in_round", "link_pos")
        new_links = new_links.withColumn("_idx", F.row_number().over(wcnt) - 1)
        adds = self._persist_tmp(
            new_links.join(F.broadcast(self._counter_base_df()),
                           "site", "left")
            .select("site", F.col("link_url").alias("url"),
                    F.col("host"), F.col("link_depth").alias("depth"),
                    (F.coalesce(F.col("_base"), F.lit(0))
                     + F.col("_idx")).cast("long").alias("counter"))
            .withColumn("bucket", bucket_col(F.col("url"), nb)))
        stage("frontier_adds", adds)
        # no frontier_pops delta: crawl_log (staged above) carries
        # site/counter/round for every popped row, and _pops_view reads
        # it back with manifest-level round pruning — one fewer staged
        # write job per round for byte-identical anti-join semantics

        # ---- metrics tail (pushed) ----
        pushed_counts = (adds.groupBy("site")
                         .agg(F.count("*").alias("count"))
                         .withColumn("action", F.lit("pushed"))
                         .select("site", "action", "count")
                         .withColumn("round", F.lit(rno)))

        # ---- barrier: metrics rollup ----
        metrics_rows = fut_metrics.result() + pushed_counts.collect()
        # driver-resident rows: direct pyarrow write, no Spark job (an
        # empty round writes an empty file with the schema)
        staged_futs.append(("metrics", self._submit(
            self.catalog.stage_rows, "metrics",
            [{"site": r["site"], "action": r["action"],
              "count": int(r["count"]), "round": rno}
             for r in metrics_rows],
            pa.schema([("site", pa.string()), ("action", pa.string()),
                       ("count", pa.int64()), ("round", pa.int32())]),
            rno)))

        # ---- barrier: join EVERY background job before raising the
        # first failure and before any driver state moves, so a round
        # that fails leaves the engine as it found it (and no write
        # outlives the caches it reads)
        wait(self._round_futs)
        staged: dict[str, list[str]] = {}
        for t, fut in staged_futs:
            staged.setdefault(t, []).append(fut.result())
        fetch_kick.result()

        # ---- driver state ----
        per_site_fetch = {}
        for row in metrics_rows:
            per_site_fetch.setdefault(row["site"], {})[row["action"]] = row["count"]
        new_link_counts = {s: a.get("pushed", 0)
                           for s, a in per_site_fetch.items()}

        any_pop = False
        for name, st in self.sites.items():
            counts = per_site_fetch.get(name, {})
            fetched_n = sum(counts.get(a, 0) for a in
                            ("fetched", "not_modified", "not_indexed_content_type"))
            st.pages_visited += fetched_n
            st.url_counter += new_link_counts.get(name, 0)
            pops = sum(counts.get(a, 0) for a in _POP_ACTIONS)
            st.pops_since_compact += pops
            if st.frontier_rows is not None:
                # exact live-frontier size: + pushed − popped (every
                # popped row is counted exactly once in _POP_ACTIONS;
                # 'pushed' counts the post-dedup/post-cap adds rows)
                st.frontier_rows += new_link_counts.get(name, 0) - pops
                if st.frontier_rows < 0:
                    # impossible through the engine — a harness staged
                    # frontier rows out-of-band (direct catalog
                    # surgery). Tracking is stale: fall back to
                    # unknown so no bound or retirement trusts it.
                    st.frontier_rows = None
            if counts or new_link_counts.get(name):
                any_pop = True

        self.round_no += 1
        self.catalog.commit_round(rno, staged, self._state_dict())
        return any_pop

    def _bucket_layout(self, df: DataFrame, order_key: str) -> DataFrame:
        """Range-partition + sort a key table by its storage bucket so
        every parquet file covers a contiguous bucket range — the
        per-round ``bucket IN (...)`` membership reads then skip whole
        files via min/max stats (Iceberg bucket-partition spec +
        sort-order analog)."""
        n = min(self.cfg.seen_buckets, max(self.cfg.shuffle_partitions, 1))
        return (df.repartitionByRange(n, "bucket", order_key)
                .sortWithinPartitions("bucket", order_key))

    def _compact(self) -> None:
        """Fold hot-table deltas: frontier becomes its live view (pops
        applied), url_seen its latest-wins view, visited/content_hashes
        distinct *by construction* (the per-round membership joins rely
        on semi/anti duplicate-insensitivity between compactions, never
        a per-round distinct). The key tables are rewritten in bucket
        layout. Each compact commit is individually atomic; applying
        adds before clearing pops keeps any crash point consistent.
        This is the ONLY place a corpus-sized window/aggregate runs —
        amortized over ``compact_every`` rounds, exactly like Iceberg's
        rewrite_data_files maintenance job. It is also where the visited
        Bloom filter is created, once ``visited`` reaches
        ``prune_min_bytes``.

        The snapshot WRITES run concurrently (every rewrite reads the
        pre-compaction manifest and destroys nothing — prepared dirs
        are orphans until committed), while the COMMITS stay strictly
        ordered, because every crash-ordering invariant below
        constrains publication order only: frontier_index commits
        before the frontier snapshot (crash between → index is a
        superset, safe for semi-join membership); content_hashes'
        floor commits before url_seen_log's commit destroys the delta
        dirs the hash view derives from. The pool is bounded — at
        production scale these are corpus-sized shuffles and running
        all of them at once trades straggler overlap against peak
        execution-memory/spill pressure."""
        n = min(self.cfg.seen_buckets, max(self.cfg.shuffle_partitions, 1))
        hashes = self._content_hashes_view()
        seen = self._url_seen_latest()
        visited = self._visited_view()
        bloom = self._bloom_latest()
        futs: dict = {}
        live = self._live_frontier()
        if live is not None:
            live = live.persist()
        try:
            with ThreadPoolExecutor(max_workers=_COMPACT_POOL_WORKERS) as ex:
                if live is not None:
                    # bucket-clustered (site, url, counter) projection for
                    # the link-dedup membership scan (Iceberg
                    # secondary-index analog)
                    futs["frontier_index"] = ex.submit(
                        self.catalog.prepare_compact, "frontier_index",
                        self._bucket_layout(
                            live.select("site", "url", "counter", "bucket"),
                            "url"))
                    # pop-layout snapshot: depth/counter-clustered so the
                    # histogram cutoff predicate skips files
                    futs["frontier_adds"] = ex.submit(
                        self.catalog.prepare_compact, "frontier_adds",
                        live.repartitionByRange(n, "depth", "counter")
                            .sortWithinPartitions("depth", "counter"))
                    futs["hist"] = ex.submit(frontier_hist, live)
                if hashes is not None:
                    futs["content_hashes"] = ex.submit(
                        self.catalog.prepare_compact, "content_hashes",
                        self._bucket_layout(
                            hashes.groupBy("site", "content_hash", "bucket")
                            .agg(F.min("round").alias("round")),
                            "content_hash"))
                if seen is not None:
                    futs["url_seen_log"] = ex.submit(
                        self.catalog.prepare_compact, "url_seen_log",
                        self._bucket_layout(seen, "url"))
                if visited is not None:
                    futs["visited"] = ex.submit(
                        self.catalog.prepare_compact, "visited",
                        self._bucket_layout(
                            visited.groupBy("site", "url", "bucket")
                            .agg(F.min("round").alias("round")), "url"))
                if bloom is not None:
                    futs["bloom_parts"] = ex.submit(
                        self.catalog.prepare_compact, "bloom_parts", bloom)
                done = {k: f.result() for k, f in futs.items()}
        finally:
            # the snapshot writes are its only readers
            if live is not None:
                live.unpersist()
        if live is not None:
            # index publishes BEFORE the snapshot: a crash between the
            # two leaves the index a SUPERSET of the frontier (extra
            # rows are removed by the pops anti-join), never a subset
            self.catalog.commit_compact("frontier_index",
                                        done["frontier_index"])
            for st in self.sites.values():
                st.pops_since_compact = 0
            self.catalog.commit_compact(
                "frontier_adds", done["frontier_adds"],
                meta={"frontier_hist": done["hist"],
                      # every pop ≤ this round is folded into the
                      # snapshot above; the floor commits ATOMICALLY
                      # with it, so the derived pops view can never
                      # miss a pop at any crash point
                      "pops_floor": self.catalog.committed_round},
                state=self._state_dict())
        # content_hashes publishes BEFORE url_seen_log: its view
        # derives deltas from url_seen's r*-dirs, so the floor must
        # advance while those dirs still exist — after this,
        # url_seen's commit may destroy them freely. A crash between
        # the two leaves url_seen's stale deltas in place (latest-wins
        # reads are insensitive) and the hash snapshot complete.
        if hashes is not None:
            self.catalog.commit_compact(
                "content_hashes", done["content_hashes"],
                meta={"content_hashes_floor": self.catalog.committed_round})
        if seen is not None:
            self.catalog.commit_compact("url_seen_log", done["url_seen_log"])
        if visited is not None:
            self.catalog.commit_compact(
                "visited", done["visited"],
                meta={"visited_floor": self.catalog.committed_round})
        if bloom is not None:
            self.catalog.commit_compact("bloom_parts", done["bloom_parts"])
        elif (visited is not None and self.catalog.table_bytes("visited")
              >= self.cfg.prune_min_bytes):
            # visited reached the probe floor: create the filter in one
            # pass over the committed snapshot (an OR of per-key bits,
            # so it equals the OR of every round's delta). The table's
            # existence records the crossing, so a later compaction
            # that shrinks visited keeps probing; ``bloom_round`` in the
            # same commit marks it as built here (see
            # _restore_or_init). A crash before this commit leaves no
            # filter; the next compaction builds it.
            rno = self.catalog.committed_round
            self.catalog.compact(
                "bloom_parts",
                self._bloom_bitmaps(self.catalog.read("visited").select(
                    url_hash_col(F.col("url")).alias("url_hash")))
                .withColumn("round", F.lit(rno)),
                meta={"bloom_round": rno})

    def _dedup_links(self, links: DataFrame, popped: DataFrame) -> DataFrame:
        """Push-time dedup (crawler.py:1205): drop links already visited
        (incl. this round's batch members), already in the live
        frontier, or duplicated within this round (first occurrence by
        (pos_in_round, link_pos) wins)."""
        links = links.withColumn("host", F.coalesce(
            F.parse_url(F.col("link_url"), F.lit("HOST")), F.lit("")))
        # within-round first occurrence
        wfirst = Window.partitionBy("site", "link_url").orderBy("pos_in_round", "link_pos")
        links = (links.withColumn("_rn", F.row_number().over(wfirst))
                 .filter(F.col("_rn") == 1).drop("_rn"))
        # vs this round's batch (visited ∪ in_progress during collect);
        # pops that never enter visited (see _marks_visited) re-push
        links = links.join(
            self._bc(popped.filter(self._marks_visited())
                     .select("site", F.col("url").alias("link_url")),
                     self._pop_bound),
            ["site", "link_url"], "left_anti")
        # vs historical visited (Bloom prefilter → exact membership):
        # the exact check scans visited bucket-pruned with the maybe-set
        # as the broadcast build side — the corpus-sized table is never
        # shuffled or distinct'd (F2 scale fix, round-2 verdict #2)
        visited = self._visited_view()
        n_links: int | None = None
        all_buckets: list[int] | None = None
        bexpr = bucket_col(F.col("link_url"), self.cfg.seen_buckets)
        if visited is not None:
            links = links.withColumn("url_hash", url_hash_col(F.col("link_url")))
            probed = self._persist_tmp(self._bloom_split(links))
            # ONE action returns the round link count (gates every
            # forced-broadcast hint below — advisor item: an unguarded
            # hint on a 10^7-link round would OOM) AND the links'
            # storage-bucket sets for the visited / frontier_index
            # prunes — folding what used to be up to two extra
            # bucket-list collect jobs into the count that materializes
            # the persisted frame anyway. The sets are bounded by
            # seen_buckets regardless of link count.
            stats = probed.agg(
                F.count("*").alias("n"),
                F.collect_set(bexpr).alias("all_b"),
                F.collect_set(F.when(F.col("_maybe"), bexpr))
                .alias("maybe_b")).first()
            n_links = stats["n"]
            all_buckets = list(stats["all_b"])
            maybe_buckets = list(stats["maybe_b"])
            clean = probed.filter(~F.col("_maybe")).drop("_maybe", "url_hash")
            maybe = probed.filter(F.col("_maybe")).drop("_maybe", "url_hash")
            present = self._present_keys(
                self._pruned("visited", visited, maybe, "link_url",
                             bucket_list=maybe_buckets)
                .select("site", F.col("url").alias("link_url")),
                maybe, ["site", "link_url"], est_rows=n_links)
            maybe = maybe.join(self._bc(present, n_links),
                               ["site", "link_url"], "left_anti")
            links = clean.unionByName(maybe)
        # vs live frontier *minus this round's pops* — a popped entry is
        # discarded from to_visit at pop time (crawler.py:1162), so a
        # link rediscovering an excluded/denied URL is pushed again.
        # Inverted the same way: one bounded-build-side membership scan
        # (link-keys semi, then pops anti), never a shuffle of the
        # 10^10-row frontier. The compacted tier is read through the
        # bucket-clustered ``frontier_index`` projection (committed
        # before the snapshot it indexes, see _compact), so the scan
        # file-skips like the seen tables; post-compaction
        # frontier_adds deltas (bounded by compact_every rounds) ride
        # along unpruned.
        idx = self.catalog.read("frontier_index")
        _, adds_deltas = self.catalog.read_split("frontier_adds")
        if idx is not None or adds_deltas is not None:
            links = self._persist_tmp(links)
            if n_links is None:
                # no visited table yet: same one-action fold (count +
                # bucket set) over the persisted link frame
                stats = links.agg(
                    F.count("*").alias("n"),
                    F.collect_set(bexpr).alias("all_b")).first()
                n_links = stats["n"]
                all_buckets = list(stats["all_b"])
            link_keys = links.select(
                "site", F.col("link_url").alias("url")).distinct()
            if idx is not None:
                idx = self._pruned("frontier_index", idx, link_keys, "url",
                                   bucket_list=all_buckets)
            cand = _union(*(p.select("site", "url", "counter")
                            for p in (idx, adds_deltas) if p is not None))
            still_queued = (
                self._minus_pops(cand.join(self._bc(link_keys, n_links),
                                           ["site", "url"], "left_semi"))
                .join(self._bc(popped.select("site", "counter"),
                               self._pop_bound),
                      ["site", "counter"], "left_anti")
                .select("site", F.col("url").alias("link_url")).distinct())
            links = links.join(self._bc(still_queued, n_links),
                               ["site", "link_url"], "left_anti")
        return links

    def _apply_queue_cap(self, new_links: DataFrame,
                         popped: DataFrame) -> DataFrame:
        """MAX_QUEUE_SIZE gate (crawler.py:1203): a page's links are
        pushed only if the frontier is under the cap at that page's
        turn. Sequential recurrence over per-page counts — tiny
        driver-side array, only when a cap is configured. Returns the
        ``new_links`` rows of the allowed pages."""
        cap = self.cfg.max_queue_size
        live = self._live_frontier()
        # three independent tiny rollups — overlap their job overhead
        # on the engine pool
        fut_pop = self._submit(
            popped.groupBy("site").agg(F.count("*").alias("n")).collect)
        fut_live = (self._submit(
            live.groupBy("site").agg(F.count("*").alias("n")).collect)
            if live is not None else None)
        fut_pp = self._submit(
            new_links.groupBy("site", "pos_in_round")
            .agg(F.count("*").alias("n")).collect)
        popped_n = {r["site"]: r["n"] for r in fut_pop.result()}
        live_n = ({r["site"]: r["n"] for r in fut_live.result()}
                  if fut_live is not None else {})
        per_page = fut_pp.result()
        by_site: dict[str, list] = {}
        for r in sorted(per_page, key=lambda r: (r["site"], r["pos_in_round"])):
            by_site.setdefault(r["site"], []).append((r["pos_in_round"], r["n"]))
        allowed: list[tuple[str, int]] = []
        for site, pages in by_site.items():
            size = live_n.get(site, 0) - popped_n.get(site, 0)
            for pos, n in pages:
                if size < cap:
                    allowed.append((site, pos))
                    size += n
        if not allowed:
            return new_links.limit(0)
        allow_df = self.spark.createDataFrame(
            allowed, schema="site string, pos_in_round int")
        return new_links.join(allow_df, ["site", "pos_in_round"], "left_semi")


def _local_dim(spark: SparkSession, schema: str, **cols: list) -> DataFrame:
    """Driver-local dimension table from column lists. The Arrow
    ``createDataFrame(pandas)`` path plans it as a ``LocalRelation``, so
    a broadcast of it serializes driver-held rows; ``createDataFrame``
    of a Python list goes through ``sc.parallelize`` instead, and every
    use then runs a job that scans a pickled RDD."""
    return spark.createDataFrame(pd.DataFrame(cols), schema=schema)


def _latest(log: DataFrame, key: str) -> DataFrame:
    """Latest-wins rows of an append-only log: per ``key``, the row of
    the highest ``round``."""
    w = Window.partitionBy(key).orderBy(F.desc("round"))
    return (log.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def _union(*dfs: DataFrame | None) -> DataFrame | None:
    """``unionByName`` of the frames that exist; None when none do."""
    present = [df for df in dfs if df is not None]
    return reduce(DataFrame.unionByName, present) if present else None


def _robots_txt_of(rob: dict) -> str | None:
    """robots.txt content for a robots row; legacy prefix-list rows
    (bench fixtures predating the full-semantics path) synthesize an
    equivalent file."""
    txt = rob.get("robots_txt")
    if txt is not None:
        return txt
    prefixes = rob.get("disallow") or []
    if not prefixes:
        return None
    return "\n".join(["User-agent: *"]
                     + [f"Disallow: {p}" for p in prefixes])
