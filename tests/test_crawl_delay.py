"""Opt-in robots Crawl-delay pacing (extra["respect_crawl_delay"]).

The reference ignores the Crawl-delay directive entirely, so the feature
defaults OFF and default schedules stay byte-identical. When ON, a domain
whose robots asks for more than one politeness tick between fetches
(delay_rounds = ceil(delay_s / politeness_delay_s)) is scheduled at most
once per delay window; rounds where every pending URL is inside a window
are IDLE politeness ticks (the crawl does not terminate early). The
pure-Python oracle mirrors the semantics, so the full conformance gate
(seen set / statuses / per-domain fetch order) applies.
"""

from __future__ import annotations

import pytest

from crawlspark import corpus as C
from crawlspark.config import CrawlConfig
from crawlspark.engine import CrawlEngine
from crawlspark.operators.robots import parse_robots_py
from crawlspark.oracle import OracleCrawl

# d00 (the hot Zipfian domain) -> 2 rounds between fetches, d01 -> 3
# (politeness tick = 1 s). The hot-domain delay guarantees IDLE ticks
# once the undelayed domains drain; the corpus is small so the stretched
# crawl stays ~20 rounds.
DELAYS = ((0, 2), (1, 3))


@pytest.fixture(scope="module")
def delay_corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("cd_corpus")
    C.write_corpus(
        str(d), C.CorpusSpec(n_pages=24, n_domains=6, seed=7, crawl_delays=DELAYS)
    )
    return str(d)


def _cfg(respect: bool) -> CrawlConfig:
    extra: dict = {"respect_crawl_delay": True} if respect else {}
    return CrawlConfig(allowed_url_patterns=C.ALLOWED_PATTERNS, extra=extra)


def _run_engine(spark, corpus, cfg, tmp_path_factory):
    eng = CrawlEngine(
        spark, cfg, corpus,
        str(tmp_path_factory.mktemp("cd_state")), checkpoint_interval=50,
    )
    eng.start(resume=False)
    eng.run()
    return eng


def _conformance(eng, ora):
    rows = eng.all_rows().select(
        "url", "status", "registered_domain", "completed_round"
    ).collect()
    e_status = {r["url"]: r["status"] for r in rows}
    o_status = {r.url: r.status for r in ora.rows.values()}
    assert set(e_status) == set(o_status)
    diffs = {
        u: (e_status[u], o_status[u]) for u in e_status if e_status[u] != o_status[u]
    }
    assert not diffs, dict(list(diffs.items())[:10])
    e_order: dict[str, list[str]] = {}
    for r in sorted(
        [r for r in rows if r["completed_round"] is not None],
        key=lambda r: (r["registered_domain"], r["completed_round"]),
    ):
        e_order.setdefault(r["registered_domain"], []).append(r["url"])
    for dom, urls in ora.fetch_order.items():
        assert e_order.get(dom, []) == urls, dom
    return rows


def test_parse_crawl_delay_rows():
    body = (
        "User-agent: other\nCrawl-delay: 9\n"
        "User-agent: *\nDisallow: /x/\nCrawl-delay: 2.5\n"
    )
    rows = parse_robots_py("d.example", body, "crawlspark/0.1")
    kinds = [(t, v) for _, t, v, _ in rows]
    # only the matching-UA group's directive is kept
    assert ("crawl_delay", "2.5") in kinds
    assert ("crawl_delay", "9") not in kinds
    assert ("disallow", "/x/") in kinds


@pytest.mark.parametrize(
    "extra",
    [
        {"respect_crawl_delay": True},
        {"respect_crawl_delay": True, "error_backoff": {"threshold": 1, "rounds": 3}},
    ],
    ids=["delay", "delay+backoff"],
)
def test_engine_matches_oracle_with_crawl_delay(
    spark, delay_corpus, tmp_path_factory, extra
):
    """Crawl-delay alone, and Crawl-delay with the error breaker: both
    rules write the one blocked-keys table, and the engine must match
    the oracle identically either way."""
    cfg = CrawlConfig(allowed_url_patterns=C.ALLOWED_PATTERNS, extra=extra)
    eng = _run_engine(spark, delay_corpus, cfg, tmp_path_factory)
    ora = OracleCrawl(delay_corpus, cfg)
    ora.run()
    rows = _conformance(eng, ora)
    if "error_backoff" in extra:
        # the breaker really benched a key (the corpus plants a 5xx page),
        # so both rules wrote rows into the shared table
        assert ora.backoff_until, "no key was benched"

    # the delayed domains' fetches really are spaced >= delay_rounds apart
    import math

    for dom_idx, delay_s in DELAYS:
        dom = f"d{dom_idx:02d}.example"
        dr = max(1, math.ceil(delay_s / cfg.politeness_delay_s))
        fetched = sorted(
            r["completed_round"]
            for r in rows
            if r["registered_domain"] == dom and r["completed_round"] is not None
        )
        assert fetched, dom
        gaps = [b - a for a, b in zip(fetched, fetched[1:])]
        assert all(g >= dr for g in gaps), (dom, dr, fetched)

    # idle politeness ticks happened (some rounds scheduled nothing while
    # delayed backlogs waited) and the crawl still drained completely
    assert any(r.scheduled == 0 for r in eng.stats.rounds) or len(
        eng.stats.rounds
    ) > max(r["completed_round"] for r in rows if r["completed_round"]) - 1


def test_default_off_matches_reference_semantics(
    spark, delay_corpus, tmp_path_factory
):
    """Flag off: the Crawl-delay lines in robots are parsed but inert —
    engine and oracle agree and no idle rounds occur."""
    cfg = _cfg(respect=False)
    eng = _run_engine(spark, delay_corpus, cfg, tmp_path_factory)
    ora = OracleCrawl(delay_corpus, cfg)
    ora.run()
    _conformance(eng, ora)
    assert all(r.scheduled > 0 for r in eng.stats.rounds)


@pytest.mark.slow
def test_resume_mid_delay_window(spark, delay_corpus, tmp_path_factory):
    """Crash + resume while delayed domains are inside their windows:
    the blocked-keys table rides the snapshot, so the resumed crawl
    keeps honoring in-flight windows and lands on the same statuses,
    per-domain fetch order, and completed_round spacing as an
    uninterrupted run."""
    cfg = _cfg(respect=True)

    a = CrawlEngine(
        spark, cfg, delay_corpus,
        str(tmp_path_factory.mktemp("cd_sa")), checkpoint_interval=50,
    )
    a.start(resume=False)
    a.run()

    sb = str(tmp_path_factory.mktemp("cd_sb"))
    b1 = CrawlEngine(spark, cfg, delay_corpus, sb, checkpoint_interval=1)
    b1.start(resume=False)
    for _ in range(4):
        b1.run_round()
    del b1  # crash mid-crawl, inside the hot domains' delay windows

    b2 = CrawlEngine(spark, cfg, delay_corpus, sb, checkpoint_interval=1)
    b2.start(resume=True)
    b2.run()

    cols = ["url", "status", "registered_domain", "completed_round"]
    ea = {r["url"]: (r["status"], r["completed_round"])
          for r in a.all_rows().select(*cols).collect()}
    eb = {r["url"]: (r["status"], r["completed_round"])
          for r in b2.all_rows().select(*cols).collect()}
    assert ea == eb
