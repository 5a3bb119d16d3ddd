"""Engine configuration.

Mirrors the reference's ``Config`` knobs (crawler.py:89-119) where they
are *semantics* (admission rules, caps, delays) and replaces the ones
that were single-node workarounds (memory throttling, TCP pool sizes)
with Spark-native equivalents. See SURVEY.md §4 for the mapping.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import ClassVar

# Reference: GLOBAL_EXCLUDE_PATTERNS, crawler.py:112-119. Substring
# patterns applied to every site's URL admission (is_excluded,
# crawler.py:484-487).
GLOBAL_EXCLUDE_PATTERNS: list[str] = [
    # Generic
    "/login", "/logout", "/signin", "/signup", "/register",
    "/cart", "/checkout", "/account", "/share", "/print", "/cdn-cgi/",
    # WordPress
    "/wp-admin/", "/wp-json/", "/wp-login.php", "/wp-cron.php",
    "xmlrpc.php", "?rest_route=", "?preview=", "/feed/",
]

# Reference: ignored extensions at pop time, crawler.py:1168-1173.
# Popped URLs ending in one of these are marked visited but never
# fetched.
IGNORED_EXTENSIONS: tuple[str, ...] = (
    ".jpg", ".jpeg", ".png", ".gif", ".bmp", ".svg",
    ".pdf", ".zip", ".rar", ".mp3", ".mp4", ".avi",
)

# Hosts that is_valid_url rejects (crawler.py:490-499).
INVALID_HOSTS: tuple[str, ...] = ("localhost", "127.0.0.1", "0.0.0.0")

USER_AGENT = "MeilisearchCrawlerSpark/0.1"

DEFAULT_DELAY = 0.5        # crawler.py:96
CACHE_DAYS = 14            # crawler.py:99, cache_db.py:83-93
MIN_CONTENT_LEN = 50       # crawler.py:1038
MAX_EXCERPT_LEN = 250      # crawler.py:574
MAX_CONTENT_LEN = 3000     # crawler.py:594
MAX_IMAGES_PER_PAGE = 5    # crawler.py:604
DEFAULT_MAX_DEPTH = 3      # crawler.py:952
DEFAULT_LANG = "fr"        # crawler.py:1040


@dataclass
class CrawlConfig:
    """Per-run engine knobs.

    ``round_budget`` generalizes the reference's CONCURRENT_REQUESTS=2
    batch size (crawler.py:100, 1157-1178): one engine round admits at
    most this many URLs globally. Equivalence tests set it to the
    reference batch size; scale runs set it to millions.

    ``host_budget`` is the per-host admission cap per round — the
    politeness budget: ``floor(round_wall_target / host_delay)`` slots
    per host per round (replaces the serialized RateLimiter,
    crawler.py:956-968). ``None`` disables the cap (single-host
    equivalence runs where the global budget already bounds it).

    ``max_queue_size`` reproduces MAX_QUEUE_SIZE=5000 (crawler.py:109,
    1203): when the frontier is at/over the cap at a page's turn within
    a round, that page's discovered links are dropped. ``None`` = off
    (scale mode: the frontier is disk-backed, the cap is unnecessary —
    SURVEY.md §4).
    """

    round_budget: int = 2              # CONCURRENT_REQUESTS, crawler.py:100
    host_budget: int | None = None
    max_pages: int = 0                 # 0 = unlimited (crawler.py:1082)
    max_depth: int = DEFAULT_MAX_DEPTH
    max_rounds: int | None = None      # direct round cap (tests/benches)
    # MAX_CRAWL_DURATION (crawler.py:108, loop check 1138-1143) on the
    # LOGICAL clock: a run() stops before a round once
    # rounds_this_run × round_seconds exceeds the cap — the reference
    # knob expressed deterministically (wall-clock would break
    # bit-identical resume).
    max_crawl_duration: float | None = None
    max_queue_size: int | None = None
    cache_days: float = CACHE_DAYS
    force_recrawl: bool = False
    exclude_patterns: list[str] = field(default_factory=list)
    no_index_patterns: list[str] = field(default_factory=list)
    # Logical clock: seconds advanced per round; replaces wall-clock
    # stamps (crawler.py:1044,1054) for deterministic resume.
    round_seconds: float = 1.0
    shuffle_partitions: int = 32
    # The only value is "cogroup": the filter lives only as the
    # committed bloom_parts table, probes cogroup with it by pid and
    # deltas merge executor-side (4096 × ~3 MB never transits the
    # driver). The field stays so configs that name the mode keep
    # working; CrawlEngine rejects any other value.
    bloom_probe_mode: str = "cogroup"
    # Fold table deltas every N rounds (Iceberg rewrite_data_files
    # analog) — bounds the union-read fan-in of hot tables.
    compact_every: int = 8
    # Hash-bucket count for the corpus-sized key tables (url_seen_log,
    # visited, content_hashes): every row carries
    # ``bucket = pmod(xxhash64(key), seen_buckets)`` and compaction
    # range-partitions + sorts by it, so the per-round membership reads
    # prune files via parquet min/max stats instead of scanning (the
    # Iceberg bucket-transform partition spec). Production: 4096. A
    # storage-layout constant, not a per-run knob; readable as
    # ``cfg.seen_buckets``.
    seen_buckets: ClassVar[int] = 1024
    # Adaptive pruning floor: collecting the round's bucket list costs
    # one small driver job, which only pays once the table is big
    # enough that file-skipping matters — below this on-disk size the
    # broadcast-filtered scan wins outright (AQE spirit). Tests force 0
    # to exercise the pruned path; production leaves the default.
    prune_min_bytes: int = 64 << 20
