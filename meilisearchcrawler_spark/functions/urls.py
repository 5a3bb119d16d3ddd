"""URL kernels — normalization, identity, validity, admission predicates.

Reference semantics (file:line into /root/reference/meilisearchcrawler/):

* ``normalize_url``      crawler.py:474-477  (P1: strip #fragment, rstrip '/')
* ``normalize_url_merge`` merger.py:97-130   (P2: lowercase host, strip www.,
  rstrip path '/', drop fragment, keep query)
* ``generate_doc_id``    crawler.py:470-471  (P3: md5 hex of URL)
* ``is_valid_url``       crawler.py:490-499  (F6)
* ``is_excluded``        crawler.py:484-487  (F3: substring match)
* extension skip         crawler.py:1168-1173 (F4)

F7 (same-domain) and link ``urljoin`` are applied inline by
``html.extract_links``.

The two hash domains are kept distinct (SURVEY.md §7 hard part 5):
doc ids key the *raw* (post-redirect) URL, merge-side dedup keys the
P2-normalized URL, and the engine's seen-set Bloom keys
``xxhash64(P1-normalized URL)`` (P5 — an engine addition for 10^10
scale; the reference keys raw strings in SQLite).
"""

from __future__ import annotations

import hashlib
from urllib.parse import urlparse

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import GLOBAL_EXCLUDE_PATTERNS, IGNORED_EXTENSIONS, INVALID_HOSTS

# ---------------------------------------------------------------------------
# Pure-Python kernels (oracle + UDF bodies)
# ---------------------------------------------------------------------------


def normalize_url(url: str) -> str:
    """P1 (crawl-side). crawler.py:474-477."""
    url = url.split("#")[0]
    return url.rstrip("/")


def normalize_url_merge(url: str) -> str:
    """P2 (merge-side). merger.py:97-130: lowercase scheme+host, strip a
    leading ``www.``, rstrip the path's trailing '/', drop fragment,
    keep query."""
    try:
        p = urlparse(url)
    except ValueError:
        return url
    host = (p.netloc or "").lower()
    if host.startswith("www."):
        host = host[4:]
    path = (p.path or "").rstrip("/")
    out = f"{(p.scheme or '').lower()}://{host}{path}"
    if p.query:
        out += f"?{p.query}"
    return out


def generate_doc_id(url: str) -> str:
    """P3. crawler.py:470-471."""
    return hashlib.md5(url.encode()).hexdigest()


def is_valid_url(url: str) -> bool:
    """F6. crawler.py:490-499."""
    try:
        p = urlparse(url)
    except ValueError:
        return False
    if p.scheme not in ("http", "https"):
        return False
    if p.netloc in INVALID_HOSTS:
        return False
    return True


# url → (is_valid, netloc) memo (round-6): link extraction asks both
# questions of every discovered URL, the same URLs recur across a
# site's pages (nav links), and urllib.parse was ~29% of the fetch
# kernel's profile. Same F6 semantics (ValueError → invalid); the cap
# bounds a long-lived worker's memory.
_URL_META_CACHE: dict[str, tuple[bool, str]] = {}
_URL_META_MAX = 1 << 16


def _url_meta(url: str) -> tuple[bool, str]:
    hit = _URL_META_CACHE.get(url)
    if hit is not None:
        return hit
    try:
        p = urlparse(url)
        meta = (p.scheme in ("http", "https")
                and p.netloc not in INVALID_HOSTS, p.netloc)
    except ValueError:
        meta = (False, "")
    if len(_URL_META_CACHE) >= _URL_META_MAX:
        _URL_META_CACHE.clear()
    _URL_META_CACHE[url] = meta
    return meta


def is_excluded(url: str, patterns: list[str]) -> bool:
    """F3. crawler.py:484-487 — plain substring containment."""
    if not patterns:
        return False
    return any(pat in url for pat in patterns)


def has_ignored_extension(url: str) -> bool:
    """F4. crawler.py:1168-1173 — lowercased endswith."""
    return url.lower().endswith(IGNORED_EXTENSIONS)


def url_host(url: str) -> str:
    return urlparse(url).netloc


# ---------------------------------------------------------------------------
# Spark Column forms (JVM-side, codegen-friendly)
# ---------------------------------------------------------------------------


def normalize_url_col(url: Column) -> Column:
    """P1 as pure Spark SQL: drop from first '#', rstrip '/'."""
    no_frag = F.regexp_replace(url, r"#.*$", "")
    return F.regexp_replace(no_frag, r"/+$", "")


def normalize_url_merge_col(url: Column) -> Column:
    """P2 as pure Spark SQL using parse_url."""
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1))
    host = F.lower(F.parse_url(url, F.lit("HOST")))
    host = F.regexp_replace(host, r"^www\.", "")
    path = F.regexp_replace(F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit("")), r"/+$", "")
    query = F.parse_url(url, F.lit("QUERY"))
    base = F.concat(scheme, F.lit("://"), host, path)
    return F.when(query.isNotNull() & (query != ""), F.concat(base, F.lit("?"), query)).otherwise(base)


def doc_id_col(url: Column) -> Column:
    """P3: ``F.md5`` == hashlib.md5 hex digest."""
    return F.md5(url)


def url_hash_col(url: Column) -> Column:
    """P5: 64-bit seen-set key over the canonical URL (engine addition)."""
    return F.xxhash64(url)


def host_col(url: Column) -> Column:
    return F.coalesce(F.parse_url(url, F.lit("HOST")), F.lit(""))


def is_valid_url_col(url: Column) -> Column:
    """F6 as a boolean column expression."""
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1))
    host = host_col(url)
    return scheme.isin("http", "https") & ~host.isin(*INVALID_HOSTS)


def is_excluded_col(url: Column, patterns: list[str]) -> Column:
    """F3 as one compiled alternation (substring containment ⇒ unanchored
    regex over escaped literals). Broadcast-free: the pattern list is a
    plan literal."""
    if not patterns:
        return F.lit(False)
    import re as _re

    alternation = "|".join(_re.escape(p) for p in patterns)
    return url.rlike(alternation)


def is_excluded_arr(url: Column, patterns: Column) -> Column:
    """F3 over a *column* of patterns (the dimension-table form used by
    the broadcast-joined site config, J3): substring containment
    against each array element; null/empty array ⇒ False. Stays
    JVM-side (``exists`` + ``contains``) and keeps the plan O(1) in
    site count."""
    return F.coalesce(F.exists(patterns, lambda p: url.contains(p)),
                      F.lit(False))


def has_ignored_extension_col(url: Column) -> Column:
    """F4 as an anchored case-insensitive regex."""
    alternation = "|".join(ext.lstrip(".") for ext in IGNORED_EXTENSIONS)
    return F.lower(url).rlike(rf"\.({alternation})$")


def admission_exclusions(site_exclude: list[str]) -> list[str]:
    """Patterns a site admits against: global + per-site (crawler.py:950)."""
    return GLOBAL_EXCLUDE_PATTERNS + list(site_exclude or [])
