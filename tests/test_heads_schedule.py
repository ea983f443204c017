"""Per-key HEADS table scheduling: every round must schedule exactly the
batch a full frontier scan would, across mid-crawl rebuilds, snapshot
commits and crash + resume."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from crawlspark import benchcorpus as BC
from crawlspark.config import CrawlConfig
from crawlspark.engine import CrawlEngine
from crawlspark.operators.robots import parse_robots
from crawlspark.operators.schedule import schedule_round


def _urls(df) -> set[str]:
    return {r["url"] for r in df.select("url").collect()}


N_PAGES, N_DOMAINS = 4000, 6


def _frontier(spark, priority_col: str | None = None):
    frontier = BC.build_frontier(spark, N_PAGES, N_DOMAINS)
    if priority_col == "depth":
        # mixed depths, so the priority order differs from FIFO
        frontier = frontier.withColumn(
            "depth", F.pmod(F.col("discovery_seq") * 7919, F.lit(5)).cast("int")
        )
    return frontier


def _run_crawl(spark, quota: int, rounds: int = 6,
               politeness_key: str | None = None,
               refresh: int | None = None,
               priority_col: str | None = None,
               check_full_scan: bool = False,
               full_scan_source: bool = False):
    """Crawl a bulk-loaded frontier. With ``check_full_scan`` every round's
    scheduled batch is asserted equal to schedule_round over the whole
    pending frontier as it stood before the round. ``full_scan_source``
    bypasses the HEADS table: every round schedules straight from the
    whole pending frontier (the reference crawl)."""
    pages = BC.build_pages(spark, N_PAGES, N_DOMAINS)
    robots = BC.build_robots(spark, N_DOMAINS)
    extra = {}
    if politeness_key:
        extra["politeness_key"] = politeness_key
    if priority_col:
        extra["priority_col"] = priority_col
    cfg = CrawlConfig(
        allowed_url_patterns=(r"https?://[a-z0-9.-]*\.example(/|$)",),
        per_domain_quota=quota,
        extra=extra,
    )
    eng = CrawlEngine(
        spark, cfg, None, tempfile.mkdtemp(prefix="heads_"),
        checkpoint_interval=3, pages=pages, robots_bodies=robots,
        sitemap_xml=spark.createDataFrame([], "registered_domain string, url string, xml string"),
    )
    if refresh:
        eng._heads_refresh_rounds = refresh
    if full_scan_source:
        eng._pending_for_schedule = lambda: (eng.pending, None)
    eng.start_from_frontier(
        _frontier(spark, priority_col), parse_robots(robots), next_seq=N_PAGES
    )
    for _ in range(rounds):
        if check_full_scan:
            want = _urls(
                schedule_round(eng.pending, quota, eng._key_col, order_col=priority_col)
            )
        if not eng.run_round():
            break
        if check_full_scan:
            sched = os.path.join(eng.scratch_dir, f"r{eng.round_no:06d}", "sched")
            assert _urls(spark.read.parquet(sched)) == want, eng.round_no
    rows = {
        r["url"]: (r["status"], r["completed_round"], r["discovery_seq"])
        for r in eng.all_rows().select(
            "url", "status", "completed_round", "discovery_seq"
        ).collect()
    }
    return eng, rows


@pytest.mark.parametrize(
    "quota,key",
    [(1, None), (2, None), (8, "netloc")],
)
def test_heads_schedule_equals_full_scan(spark, quota, key):
    """Same crawl scheduled from the HEADS table (default refresh window)
    vs straight from the whole frontier: identical per-URL status,
    completion round and sequence — across snapshot commits (interval 3)
    and accumulating tombstones. The (8, netloc) cell exercises the
    K-dependent budget math on the finer-grained politeness key."""
    eng, rows_table = _run_crawl(spark, quota, politeness_key=key)
    _, rows_full = _run_crawl(
        spark, quota, politeness_key=key, full_scan_source=True
    )
    assert rows_table == rows_full
    scans = [r.sched_scan for r in eng.stats.rounds]
    assert scans and all(s["mode"] == "table" for s in scans), scans
    assert all(s["base_rows_scanned"] <= s["base_rows_total"] for s in scans)
    assert any(
        s["base_rows_scanned"] < s["base_rows_total"] for s in scans
    ), scans


@pytest.mark.parametrize(
    "quota,key,refresh,priority_col",
    [
        pytest.param(1, None, 3, None, id="1-None-3"),
        pytest.param(2, None, 2, None, id="2-None-2"),
        pytest.param(8, "netloc", 3, None, id="8-netloc-3"),
        pytest.param(2, None, 3, "depth", id="2-None-3-depth"),
    ],
)
def test_heads_table_equals_full_scan(spark, quota, key, refresh, priority_col):
    """The HEADS table + admission deltas − tombstones must schedule each
    round exactly like a full scan of the frontier, across mid-crawl
    rebuilds (tiny refresh windows force several), snapshot commits
    (interval 3 rewrites the parts list → invalidation), accumulating
    tombstones and a priority order. The (8, netloc) cell exercises the
    K-dependent budget math on the finer-grained politeness key."""
    if priority_col:
        f = _frontier(spark, priority_col)
        assert _urls(schedule_round(f, quota, order_col=priority_col)) != _urls(
            schedule_round(f, quota)
        )
    eng, _ = _run_crawl(
        spark, quota, politeness_key=key, refresh=refresh,
        priority_col=priority_col, check_full_scan=True,
    )
    scans = [r.sched_scan for r in eng.stats.rounds]
    assert len(scans) == 6 and all(s["mode"] == "table" for s in scans)
    # once the frontier is deeper than #keys × B, the tick must NOT have
    # scanned the whole frontier
    assert any(
        s["base_rows_scanned"] < s["base_rows_total"] for s in scans
    ), scans


def test_heads_table_survives_resume(spark):
    """Crash + resume: the HEADS table is scratch-only (never
    snapshot-carried) and must rebuild lazily on the first resumed tick,
    completing the crawl identically to an unbroken run."""
    n_pages, n_domains = 3000, 5
    pages = BC.build_pages(spark, n_pages, n_domains)
    frontier = BC.build_frontier(spark, n_pages, n_domains)
    robots = BC.build_robots(spark, n_domains)
    rules = parse_robots(robots)
    cfg = CrawlConfig(
        allowed_url_patterns=(r"https?://[a-z0-9.-]*\.example(/|$)",),
    )

    def eng_for(state):
        eng = CrawlEngine(
            spark, cfg, None, state, checkpoint_interval=2, pages=pages,
            robots_bodies=robots,
            sitemap_xml=spark.createDataFrame(
                [], "registered_domain string, url string, xml string"
            ),
        )
        eng._heads_refresh_rounds = 3
        return eng

    sa = tempfile.mkdtemp(prefix="headstab_a_")
    a = eng_for(sa)
    a.start_from_frontier(frontier, rules, next_seq=n_pages)
    for _ in range(8):
        a.run_round()

    sb = tempfile.mkdtemp(prefix="headstab_b_")
    b1 = eng_for(sb)
    b1.start_from_frontier(frontier, rules, next_seq=n_pages)
    for _ in range(4):
        b1.run_round()
    b1._commit_snapshot()
    del b1  # crash mid-crawl

    b2 = eng_for(sb)
    b2.start(resume=True)
    assert b2._heads_df is None  # rebuilds lazily on the first tick
    for _ in range(4):
        b2.run_round()

    cols = ["url", "status", "completed_round", "discovery_seq"]
    ra = {r["url"]: (r["status"], r["completed_round"], r["discovery_seq"])
          for r in a.all_rows().select(*cols).collect()}
    rb = {r["url"]: (r["status"], r["completed_round"], r["discovery_seq"])
          for r in b2.all_rows().select(*cols).collect()}
    assert ra == rb
