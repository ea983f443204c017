"""Crawl configuration — the reference's constants as one typed record.

Every value cites where the reference pins it (see BASELINE.md):
- politeness delay: /root/reference/config.ini:12 (1 s; north_star cites 500 ms)
- worker threads:   /root/reference/config.ini:19 (8)
- max content len:  /root/reference/scraper.py:9 (10 MB)
- max depth:        /root/reference/crawler/worker.py:37 (28)
- min words:        /root/reference/crawler/worker.py:38 (30)
- simhash thresh:   /root/reference/crawler/worker.py:36 (0.95 of 64 bits)
- jaccard thresh / count: /root/reference/crawler/worker.py:174 (0.95 / >=5)
"""

from __future__ import annotations

from dataclasses import dataclass, field


# Verbatim extension blocklist regex, /root/reference/scraper.py:111-117.
BLOCKED_EXT_REGEX = (
    r".*\.(css|js|bmp|gif|jpe?g|ico|png|tiff?|mid|mp2|mp3|mp4"
    r"|wav|avi|mov|mpeg|ram|m4v|mkv|ogg|ogv|pdf"
    r"|ps|eps|tex|ppt|pptx|doc|docx|xls|xlsx|names"
    r"|data|dat|exe|bz2|tar|msi|bin|7z|psd|dmg|iso"
    r"|epub|dll|cnf|tgz|sha1"
    r"|thmx|mso|arff|rtf|jar|csv"
    r"|rm|smil|wmv|swf|wma|zip|rar|gz|pdf)$"
)

# forced-broadcast budget in rows: a join side past it shuffles instead
# (scheduled batch, bad-URL memory, simhash_pairs exact keys)
BROADCAST_ROWS = 500_000


@dataclass(frozen=True)
class CrawlConfig:
    seed_urls: tuple[str, ...] = ()
    # regex patterns a URL must re.match (anchored at start) one of —
    # ref scraper.py:89-103 snapshot value is the poewiki pattern; tests
    # and the synthetic corpus pass their own.
    allowed_url_patterns: tuple[str, ...] = (
        r"https?://poewiki\.net/wiki/[a-zA-Z0-9_\-./;?%&=+#]*?",
    )
    politeness_delay_s: float = 1.0
    per_domain_quota: int = 1  # URLs per registered domain per round (K=1 == reference)
    max_depth: int = 28
    max_content_length: int = 10_000_000
    min_words: int = 30
    simhash_threshold: float = 0.95  # fraction of 64 bits equal
    jaccard_threshold: float = 0.95
    jaccard_similar_count: int = 5
    user_agent: str = "crawlspark/0.1"
    # engine knobs (no reference analog — scale features)
    frontier_buckets: int = 32  # hash buckets for the frontier/seen tables
    bloom_bits_per_key: int = 12
    max_rounds: int | None = None
    extra: dict = field(default_factory=dict)

    @property
    def simhash_max_hamming(self) -> int:
        # 0.95 * 64 = 60.8 equal bits → Hamming distance <= 3
        # (ref crawler/simhash.py:46-48 with threshold worker.py:36)
        return 64 - int(-(-self.simhash_threshold * 64 // 1))  # ceil
