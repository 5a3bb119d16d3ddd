"""Faithful re-execution of the reference crawl algorithm.

This is the golden oracle for the equivalence suite: a direct,
sequential implementation of ``crawl_site_html_async`` + ``process_page``
+ ``fetch_page`` (crawler.py:939-1224) over the synthetic web fixture,
with the same heap ordering ``(-depth, insertion_counter)``
(crawler.py:1099-1121), the same pop-time admission chain
(crawler.py:1157-1178), the same indexing decision
(crawler.py:1033-1058), the same cache semantics (cache_db.py:49-93),
and a logical clock instead of wall time. Extraction uses the same
shared kernels as the engine, so every divergence the tests catch is a
*scheduling* divergence.

~200 lines of driver-side Python on purpose — it exists to be obviously
correct, not fast. The Spark engine must reproduce its admitted-batch
sequence, URL-seen set, visited set, and document rows exactly.
"""

from __future__ import annotations

import heapq
from dataclasses import dataclass, field

from ..config import (
    CACHE_DAYS,
    GLOBAL_EXCLUDE_PATTERNS,
    MIN_CONTENT_LEN,
)
from ..fixtures.webgen import T0, WebFixture
from ..functions import html as H
from ..functions import text as T
from ..functions.urls import (
    generate_doc_id,
    has_ignored_extension,
    is_excluded,
    normalize_url,
)


def robots_can_fetch(url: str, rob: dict) -> bool:
    """Full robots gate: the stdlib RobotFileParser over the fixture's
    robots.txt content — the reference's own parser (crawler.py:405-429,
    can_fetch at 1174-1176); a failed robots fetch means allow_all."""
    from ..functions.robots import can_fetch

    if rob.get("fetch_fails"):
        return True
    txt = rob.get("robots_txt")
    if txt is None and rob.get("disallow"):
        txt = "\n".join(["User-agent: *"]
                        + [f"Disallow: {p}" for p in rob["disallow"]])
    return can_fetch(txt, False, url)


@dataclass
class CrawlResult:
    crawl_log: list[dict] = field(default_factory=list)   # FIXTURES.md §7
    documents: list[dict] = field(default_factory=list)
    refreshes: list[dict] = field(default_factory=list)    # 304 partial docs
    url_seen: dict[str, dict] = field(default_factory=dict)
    visited: set[str] = field(default_factory=set)
    stats: dict[str, int] = field(default_factory=dict)


def crawl_site(fixture: WebFixture, site: dict, *, batch_size: int = 2,
               max_pages: int = 0, max_rounds: int | None = None,
               max_queue_size: int | None = None,
               max_duration: float | None = None,
               cache_days: float = CACHE_DAYS, force_recrawl: bool = False,
               round_seconds: float = 1.0,
               initial_url_seen: dict[str, dict] | None = None) -> CrawlResult:
    pages = fixture.pages_by_url()
    robots = {r["host"]: r for r in fixture.robots}
    exclude_patterns = GLOBAL_EXCLUDE_PATTERNS + list(site.get("exclude", []))
    no_index_patterns = list(site.get("no_index", []))
    max_depth = site.get("max_depth", 3)
    selector = site.get("selector")
    seed_url = site["seed_url"]

    res = CrawlResult()
    res.url_seen = dict(initial_url_seen) if initial_url_seen is not None else {
        e["url"]: dict(e) for e in fixture.url_seen}
    stats = {k: 0 for k in (
        "pages_visited", "pages_indexed", "pages_not_indexed",
        "pages_skipped_cache", "pages_not_modified", "errors")}
    processed_hashes: set[str] = set()

    # frontier init (crawler.py:1117-1121)
    heap: list[tuple[int, int, str, int]] = []
    url_counter = 0
    start = normalize_url(seed_url)
    heapq.heappush(heap, (0, url_counter, start, 0))
    url_counter += 1
    to_visit = {start}

    round_no = 0
    while heap:
        if max_rounds is not None and round_no >= max_rounds:
            break
        # MAX_CRAWL_DURATION on the logical clock (crawler.py:1138-1143)
        if max_duration is not None and round_no * round_seconds > max_duration:
            break
        if max_pages > 0 and stats["pages_visited"] >= max_pages:
            break
        now = T0 + round_no * round_seconds

        # ---- pop batch with admission chain (crawler.py:1157-1178) ----
        batch: list[tuple[str, int, int]] = []
        in_progress: set[str] = set()
        while heap and len(batch) < batch_size:
            if max_pages > 0 and stats["pages_visited"] + len(in_progress) >= max_pages:
                break
            neg_depth, counter, url, depth = heapq.heappop(heap)
            to_visit.discard(url)
            if url in res.visited or url in in_progress:
                continue
            if is_excluded(url, exclude_patterns):
                res.crawl_log.append({"round": round_no, "pos_in_round": -1,
                                      "url": url, "depth": depth,
                                      "counter": counter, "action": "excluded"})
                continue
            if has_ignored_extension(url):
                res.visited.add(url)
                res.crawl_log.append({"round": round_no, "pos_in_round": -1,
                                      "url": url, "depth": depth,
                                      "counter": counter, "action": "ext_skipped"})
                continue
            rob = robots.get(pages.get(url, {}).get("host") or _host(url))
            if rob and not robots_can_fetch(url, rob):
                res.crawl_log.append({"round": round_no, "pos_in_round": -1,
                                      "url": url, "depth": depth,
                                      "counter": counter, "action": "robots_denied"})
                continue
            batch.append((url, depth, counter))
            in_progress.add(url)
        if not batch:
            if not heap:
                break
            round_no += 1
            continue

        # ---- process batch sequentially (asyncio.gather result order ==
        # batch order, crawler.py:1183-1185) ----
        results = []
        for pos, (url, depth, counter) in enumerate(batch):
            res.crawl_log.append({"round": round_no, "pos_in_round": pos,
                                  "url": url, "depth": depth,
                                  "counter": counter, "action": "admitted"})
            results.append(_process_page(
                pages, url, depth, now, res, stats, processed_hashes,
                site, selector, seed_url, no_index_patterns, max_depth,
                cache_days, force_recrawl))

        # ---- collect (crawler.py:1185-1208) ----
        for (url, depth, counter), (doc, new_links) in zip(batch, results):
            res.visited.add(url)
            in_progress.discard(url)
            if doc is not None:
                if doc.get("_refresh"):
                    res.refreshes.append({k: v for k, v in doc.items() if k != "_refresh"})
                else:
                    res.documents.append(doc)
                    stats["pages_indexed"] += 1
            if max_queue_size is None or len(heap) < max_queue_size:
                for link_url, link_depth in new_links:
                    if (link_url not in res.visited and link_url not in in_progress
                            and link_url not in to_visit):
                        heapq.heappush(heap, (-link_depth, url_counter, link_url, link_depth))
                        url_counter += 1
                        to_visit.add(link_url)
        round_no += 1

    res.stats = stats
    return res


def _host(url: str) -> str:
    from urllib.parse import urlparse

    return urlparse(url).netloc


def _fetch(pages: dict[str, dict], url: str, cached: dict | None):
    """fetch_page semantics (crawler.py:971-1001) over the page store."""
    page = pages.get(url)
    if page is None or page["status"] in (404, 500):
        return None  # retries exhausted → error
    # conditional GET (crawler.py:974-984): If-None-Match when a cached
    # ETag exists, If-Modified-Since when a cached Last-Modified exists.
    # Server-side validator precedence: when both sides have an ETag it
    # alone decides; otherwise matching Last-Modified values 304.
    not_modified = False
    if cached:
        if cached.get("etag") and page.get("etag"):
            not_modified = cached["etag"] == page["etag"]
        elif (cached.get("last_modified") and page.get("last_modified")
              and cached["last_modified"] == page["last_modified"]):
            not_modified = True
    if not_modified:
        return (url, None, {"status": 304, "etag": None, "last_modified": None})
    if "text/html" not in page["content_type"].lower():
        return (url, None, {"status": "skipped_content_type"})
    # raw response URL (str(response.url), crawler.py:1010) — NOT
    # normalized; doc_id/urljoin/cache key all use the raw form
    final_url = page["redirect_to"] if page.get("redirect_to") else url
    return (final_url, page["html"],
            {"status": 200, "etag": page.get("etag"),
             "last_modified": page.get("last_modified")})


def _process_page(pages, url, depth, now, res, stats, processed_hashes,
                  site, selector, seed_url, no_index_patterns, max_depth,
                  cache_days, force_recrawl):
    """process_page semantics (crawler.py:1004-1077)."""
    result = _fetch(pages, url, res.url_seen.get(url))
    if result is None:
        stats["errors"] += 1
        return None, []
    final_url, html, meta = result
    if meta["status"] == 304:
        stats["pages_not_modified"] += 1
        stats["pages_visited"] += 1
        return {"_refresh": True, "id": generate_doc_id(final_url),
                "last_crawled_at": now}, []
    if meta["status"] == "skipped_content_type":
        stats["pages_visited"] += 1
        stats["pages_not_indexed"] += 1
        return None, []
    stats["pages_visited"] += 1

    parsed = H.parse_page(html, final_url, seed_url, selector)
    title = parsed.title
    content = T.clean_text(parsed.content_raw)
    excerpt = T.create_excerpt(content)
    images = parsed.images
    content_hash = T.get_content_hash(content, title, images, excerpt)
    doc_id = generate_doc_id(final_url)

    is_no_index = is_excluded(final_url, no_index_patterns)
    is_dup = content_hash in processed_hashes
    cached = res.url_seen.get(final_url)
    is_cache_skip = (
        not force_recrawl and cached is not None
        and cached.get("content_hash") == content_hash
        and (now - cached["last_crawl"]) < cache_days * 86400)
    should_index = not is_no_index and not is_cache_skip and not is_dup

    doc = None
    if should_index and len(content) >= MIN_CONTENT_LEN:
        processed_hashes.add(content_hash)
        # reference hardcodes the 'fr' fallback on the HTML path
        # (crawler.py:1040-1043), ignoring the site-config lang
        lang = T.sniff_lang(parsed.lang_attr, "fr")
        doc = {
            "id": doc_id, "site": site["site"], "url": final_url,
            "title": title, "excerpt": excerpt, "content": content,
            "images": images, "lang": lang, "timestamp": int(now),
            "indexed_at": now, "last_crawled_at": now,
            "content_hash": content_hash,
            "content_source": parsed.content_source,
        }
        res.url_seen[final_url] = {
            "url": final_url, "content_hash": content_hash, "doc_id": doc_id,
            "last_crawl": now, "etag": meta["etag"],
            "last_modified": meta["last_modified"], "site": site["site"],
        }
    elif is_cache_skip:
        stats["pages_skipped_cache"] += 1
    else:
        stats["pages_not_indexed"] += 1

    new_links: list[tuple[str, int]] = []
    if depth < max_depth:
        new_links = [(u, depth + 1) for u in H.extract_links(html, final_url, seed_url)]
    return doc, new_links
