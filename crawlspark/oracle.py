"""Conformance oracle — a deterministic pure-Python re-execution of the
crawl semantics over the same corpus (SURVEY.md §5.2).

The reference binary cannot run (missing functions, see SURVEY.md intro),
so the oracle re-executes the reference's semantics — stage order from
crawler/worker.py:44-146 + crawler/frontier.py:114-155 — under the same
batch-politeness bridge the engine freezes (round-start suppression
state, K URLs per registered domain per round). Engine and oracle must
agree on: the URL-seen set, per-URL terminal status, per-domain fetch
order, and all four report outputs.
"""

from __future__ import annotations

import math
import re
from collections import defaultdict
from dataclasses import dataclass, field
from urllib.parse import urlparse

import pyarrow.parquet as pq

from crawlspark.config import BLOCKED_EXT_REGEX, CrawlConfig
from crawlspark.functions.simhash import simhash_counter
from crawlspark.functions.text import STOPWORDS, TOKEN_SPLIT_REGEX
from crawlspark.functions.traps import is_infinite_trap
from crawlspark.operators.badurls import jaccard_py, sim_tokens_py
from crawlspark.operators.robots import can_fetch_py, parse_robots_py, parse_sitemap_py

_TOKEN_RE = re.compile(TOKEN_SPLIT_REGEX)
_EXT_RE = re.compile("^(" + BLOCKED_EXT_REGEX + ")")
_STOP = set(STOPWORDS)

from crawlspark.functions.psl import registered_domain_py as _rdom_psl


def canonicalize(url: str) -> str:
    return re.sub("#.*$", "", url).rstrip("/") if url else url


def canonical_key(url: str) -> str:
    p = urlparse(url)
    return f"{p.netloc}/{p.path}/{p.params}/{p.query}"


def registered_domain(host: str) -> str:
    """The engine's PSL-snapshot eTLD+1, via the SHARED pure-Python twin
    (crawlspark.functions.psl) — oracle and engine evaluate the same
    frozen rule table, so conformance holds over any host set."""
    return _rdom_psl(host)


def content_counts(caption: str) -> dict[str, int]:
    counts: dict[str, int] = {}
    for t in _TOKEN_RE.split((caption or "").lower()):
        if t and t not in _STOP:
            counts[t] = counts.get(t, 0) + 1
    return counts


@dataclass
class Row:
    url: str
    key: str
    host: str
    rdom: str
    path: str
    depth: int
    src: str
    seq: int
    round_admitted: int
    status: str = "pending"
    completed_round: int | None = None
    total_words: int | None = None
    n_distinct: int | None = None


@dataclass
class OracleCrawl:
    corpus_dir: str
    config: CrawlConfig
    rows: dict[str, Row] = field(default_factory=dict)       # key → Row
    queues: dict[str, list[str]] = field(default_factory=lambda: defaultdict(list))
    rules: dict[str, list[tuple[str, str]]] = field(default_factory=dict)
    low_bad: dict[str, set] = field(default_factory=dict)    # url → sim tokens
    err_bad: dict[str, set] = field(default_factory=dict)
    fingerprints: list[int] = field(default_factory=list)
    fetch_order: dict[str, list[str]] = field(default_factory=lambda: defaultdict(list))
    next_seq: int = 0
    round_no: int = 0
    # opt-in robots Crawl-delay pacing (extra["respect_crawl_delay"]):
    # rdom → delay in ROUNDS (ceil(delay_s / politeness_delay_s)), and the
    # last round each politeness key was scheduled in
    crawl_delays: dict[str, int] = field(default_factory=dict)
    last_sched: dict[str, int] = field(default_factory=dict)
    # opt-in error circuit breaker (extra["error_backoff"]): politeness
    # key → last benched round (blocked while round_no <= until)
    backoff_until: dict[str, int] = field(default_factory=dict)

    def __post_init__(self):
        pages = pq.read_table(f"{self.corpus_dir}/pages.parquet").to_pylist()
        self.pages = {canonical_key(p["canonical_url"]): p for p in pages}
        self.robots = {
            r["domain"]: r["body"]
            for r in pq.read_table(f"{self.corpus_dir}/robots.parquet").to_pylist()
        }
        self.sitemap_roots: dict[str, list[tuple[int, str]]] = {}
        self.sitemaps_by_url: dict[tuple[str, str], str] = {
            (r["domain"], r["url"]): r["xml"]
            for r in pq.read_table(f"{self.corpus_dir}/sitemaps.parquet").to_pylist()
        }
        self.seeds = [
            r["url"] for r in pq.read_table(f"{self.corpus_dir}/seeds.parquet").to_pylist()
        ]

    def _politeness_key(self, row: Row) -> str:
        """Queue key: registered domain (engine default) or netloc — the
        reference keys its per-domain queues on netloc
        (crawler/frontier.py:42), so sibling subdomains fetch in the same
        politeness tick under 'netloc'."""
        if self.config.extra.get("politeness_key") == "netloc":
            return row.host
        return row.rdom

    # -- admission (Frontier.add_url twin) -----------------------------
    def _valid(self, raw: str, src: str) -> bool:
        p = urlparse(re.sub("#.*$", "", raw))
        if not (p.scheme and p.hostname):
            return False
        if src not in ("link", "sitemap"):
            return True
        if not any(
            re.match("^(" + pat + ")", raw) for pat in self.config.allowed_url_patterns
        ):
            return False
        if _EXT_RE.match(raw.lower()):
            return False
        if is_infinite_trap(raw)[0]:
            return False
        return True

    def admit_batch(self, candidates: list[tuple]) -> None:
        """candidates: (parent_seq, link_pos, sub_pos, raw_url, depth, src),
        admitted in sorted order; sitemap locs of new domains form a second
        pass ordered by (domain, loc_pos) — mirroring the engine."""
        batch = sorted(candidates)
        for _pass in range(3):
            sitemap_batch: list[tuple] = []
            new_doms: list[str] = []
            for parent_seq, link_pos, sub_pos, raw, depth, src in batch:
                if not self._valid(raw, src):
                    continue
                url = canonicalize(raw)
                key = canonical_key(url)
                if key in self.rows:
                    continue
                host = (urlparse(url).hostname or "").lower()
                rdom = registered_domain(host)
                if rdom not in self.rules:
                    rows_r = parse_robots_py(
                        rdom, self.robots.get(rdom, ""), self.config.user_agent
                    )
                    self.rules[rdom] = [
                        (t, v) for _, t, v, _ in rows_r if t in ("allow", "disallow")
                    ]
                    if self.config.extra.get("respect_crawl_delay"):
                        ds = []
                        for _, t, v, _ in rows_r:
                            if t == "crawl_delay":
                                try:
                                    ds.append(float(v))
                                except ValueError:
                                    pass
                        if ds:
                            self.crawl_delays[rdom] = max(
                                1,
                                math.ceil(
                                    max(ds) / self.config.politeness_delay_s
                                ),
                            )
                    self.sitemap_roots[rdom] = [
                        (p, v) for _, t, v, p in rows_r if t == "sitemap"
                    ]
                    if self.sitemap_roots[rdom]:
                        new_doms.append(rdom)
                path = urlparse(url).path
                allowed = can_fetch_py(self.rules[rdom], path)
                row = Row(
                    url, key, host, rdom, path, depth, src, self.next_seq,
                    self.round_no, "pending" if allowed else "robots_blocked",
                )
                self.next_seq += 1
                self.rows[key] = row
                if allowed:
                    self.queues[self._politeness_key(row)].append(key)
            batch = []
            for rank, dom in enumerate(sorted(set(new_doms)), start=1):
                for pos, loc in enumerate(self._sitemap_page_locs(dom)):
                    batch.append((self.next_seq + rank, 0, pos, loc, 0, "sitemap"))
            if not batch:
                break

    # sitemap DFS twin of operators/admission.expand_sitemaps (frozen
    # spec: locs matching _SM_LOC are sitemap documents, fetched and
    # re-parsed to SITEMAP_MAX_LEVELS doc levels; pages ordered by the
    # fixed-width DFS path key)
    def _sitemap_page_locs(self, dom: str) -> list[str]:
        sm_loc = re.compile(r"\.xml($|\?)", re.I)
        out = []

        def visit(url: str, path: str, level: int) -> None:
            xml = self.sitemaps_by_url.get((dom, url))
            if xml is None:
                return
            for pos, loc in enumerate(parse_sitemap_py(xml)):
                child = f"{path}.{pos:04d}"
                if sm_loc.search(loc):
                    if level + 1 < 3:  # SITEMAP_MAX_LEVELS
                        visit(loc, child, level + 1)
                else:
                    out.append((child, loc))

        for rule_pos, root in self.sitemap_roots.get(dom, []):
            visit(root, f"{rule_pos:04d}", 0)
        out.sort()
        return [loc for _, loc in out]

    # -- one politeness round (Worker.run twin) ------------------------
    def run_round(self) -> bool:
        self.round_no += 1
        cfg = self.config
        respect_delay = bool(cfg.extra.get("respect_crawl_delay"))
        # opt-in priority scheduling: rank the per-domain queue by
        # (priority_col asc, seq asc) instead of pure FIFO — mirrors
        # engine schedule_round(order_col=...); None = reference FIFO
        prio = cfg.extra.get("priority_col")
        # opt-in error circuit breaker — mirrors engine
        # _update_blocked_state / _blocked_keys (frozen spec: >= E
        # HTTP >= 500 results for a key in one round bench it for B)
        eb = cfg.extra.get("error_backoff")
        scheduled: list[str] = []
        for dom in list(self.queues):
            q = self.queues[dom]
            if eb and self.backoff_until.get(dom, 0) >= self.round_no:
                continue  # key benched by the circuit breaker
            if respect_delay and q:
                dr = self.crawl_delays.get(self.rows[q[0]].rdom, 1)
                if dr > 1 and self.round_no - self.last_sched.get(dom, -(10**9)) < dr:
                    continue  # domain still inside its Crawl-delay window
            if prio:
                ranked = sorted(
                    q, key=lambda k: (getattr(self.rows[k], prio), self.rows[k].seq)
                )
                take = ranked[: cfg.per_domain_quota]
                taken = set(take)
                self.queues[dom] = [k for k in q if k not in taken]
            else:
                take = q[: cfg.per_domain_quota]
                self.queues[dom] = q[cfg.per_domain_quota :]
            if not self.queues[dom]:
                del self.queues[dom]
            if respect_delay and take:
                self.last_sched[dom] = self.round_no
            scheduled.extend(take)
        if not scheduled:
            if (respect_delay or eb) and self.queues:
                # everything pending is inside a Crawl-delay window or a
                # circuit-breaker bench — an IDLE tick, not termination
                return True
            self.round_no -= 1
            return False
        scheduled.sort(key=lambda k: self.rows[k].seq)

        new_low: dict[str, set] = {}
        new_err: dict[str, set] = {}
        new_fps: list[int] = []
        candidates: list[tuple] = []
        err5_by_key: dict[str, int] = {}

        for key in scheduled:
            row = self.rows[key]
            row.completed_round = self.round_no
            self.fetch_order[row.rdom].append(row.url)
            toks = sim_tokens_py(row.url)
            if row.depth > cfg.max_depth:
                row.status = "depth_skip"
                continue
            n_low = sum(
                1
                for u, t in self.low_bad.items()
                if (urlparse(u).hostname or "").lower() == row.host
                and jaccard_py(toks, t) >= cfg.jaccard_threshold
            )
            if n_low >= cfg.jaccard_similar_count:
                row.status = "lowdata_similar_skip"
                new_low[row.url] = toks
                continue
            n_err = sum(
                1
                for u, t in self.err_bad.items()
                if (urlparse(u).hostname or "").lower() == row.host
                and jaccard_py(toks, t) >= cfg.jaccard_threshold
            )
            if n_err >= cfg.jaccard_similar_count:
                row.status = "error_similar_skip"
                new_err[row.url] = toks
                continue
            if is_infinite_trap(row.url)[0]:
                row.status = "trap_skip"
                continue
            page = self.pages.get(key)
            if page is None:
                row.status = "fetch_error"
                continue
            st = page["status"]
            if 300 <= st <= 399:
                row.status = "redirect"
                if page["redirect_to"]:
                    candidates.append((row.seq, 0, 0, page["redirect_to"], row.depth, "redirect"))
                continue
            if st != 200:
                row.status = "error"
                if st >= 400:
                    new_err[row.url] = toks
                if eb and st >= 500:
                    k5 = self._politeness_key(row)
                    err5_by_key[k5] = err5_by_key.get(k5, 0) + 1
                continue
            if page["content_length"] == 0:
                row.status = "empty"
                continue
            if page["content_length"] > cfg.max_content_length:
                row.status = "skipped_large"
                continue
            if "text/html" not in page["content_type"]:
                row.status = "skipped_type"
                continue
            counts = content_counts(page["caption"])
            row.n_distinct = len(counts)
            row.total_words = sum(counts.values())
            if len(counts) < cfg.min_words:
                row.status = "low_data"
                new_low[row.url] = toks
                continue
            fp = simhash_counter(counts)
            similar = any(
                bin((fp ^ old) & 0xFFFFFFFFFFFFFFFF).count("1") <= cfg.simhash_max_hamming
                for old in self.fingerprints
            )
            new_fps.append(fp)
            if similar:
                row.status = "neardup"
                continue
            row.status = "parsed"
            for pos, href in enumerate(page["out_links"]):
                candidates.append((row.seq, pos, 0, href, row.depth + 1, "link"))

        self.low_bad.update(new_low)
        self.err_bad.update(new_err)
        self.fingerprints.extend(new_fps)
        if eb:
            thresh, bench = int(eb["threshold"]), int(eb["rounds"])
            for k5, n in err5_by_key.items():
                if n >= thresh:
                    self.backoff_until[k5] = max(
                        self.backoff_until.get(k5, 0), self.round_no + bench
                    )
        self.admit_batch(candidates)
        return True

    def run(self, max_rounds: int | None = None) -> None:
        self.admit_batch([(-1, i, 0, u, 0, "seed") for i, u in enumerate(self.seeds)])
        n = 0
        while self.run_round():
            n += 1
            if max_rounds and n >= max_rounds:
                break

    # -- reports --------------------------------------------------------
    def report(self) -> dict:
        popped = [r for r in self.rows.values() if r.status not in ("pending", "robots_blocked")]
        subs: dict[str, set] = defaultdict(set)
        for r in self.rows.values():
            subs[r.host].add(r.url)
        parsed = [r for r in self.rows.values() if r.status == "parsed"]
        longest = (None, 0)
        for r in sorted(parsed, key=lambda r: (-(r.total_words or 0), r.seq)):
            longest = (r.url, r.total_words)
            break
        hist: dict[str, int] = defaultdict(int)
        for r in parsed:
            for w, c in content_counts(self.pages[r.key]["caption"]).items():
                hist[w] += c
        top = sorted(hist.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
        return {
            "unique_pages": len({r.url for r in popped}),
            "longest_page": [longest[0], longest[1]],
            "subdomains": [[h, len(us)] for h, us in sorted(subs.items())],
            "top_words": [[w, c] for w, c in top],
        }
