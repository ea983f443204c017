"""Broadcast guards (VERDICT r2 #2): below ``BROADCAST_ROWS`` the fetch
join / near-dup probe force-broadcast the scheduled batch and
simhash_pairs its exact chunk keys; past it no forced BroadcastExchange
may appear — the joins degrade to shuffled hash joins."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawlspark.config import CrawlConfig
from crawlspark.operators import fetch as FE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _no_auto_broadcast(spark):
    """Context values forcing Spark to only broadcast on explicit hints."""
    return {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "false",
    }


def _with_conf(spark, conf: dict, fn):
    old = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        return fn()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def _fixtures(spark):
    pages = spark.range(1000).select(
        F.col("id").alias("page_hash"),
        F.lit(200).alias("status"),
        F.lit(None).cast("string").alias("redirect_to"),
        F.lit("text/html").alias("content_type"),
        F.lit(100).cast("long").alias("content_length"),
        F.lit("some caption words here").alias("caption"),
        F.array().cast("array<string>").alias("out_links"),
    )
    sched = spark.range(100).select(
        F.col("id").alias("url_hash"),
        F.concat(F.lit("https://d.example/p"), F.col("id")).alias("url"),
        F.lit(0).alias("depth"),
        F.col("id").cast("long").alias("discovery_seq"),
    )
    return pages, sched


def test_fetch_hits_join_broadcast_guard_plans(spark):
    """The engine's hits-only fetch join (ONE pages scan) carries the
    scale guard."""
    pages, sched = _fixtures(spark)
    cfg = CrawlConfig()

    def plans():
        forced = _plan(FE.fetch_hits_and_route(sched, pages, cfg, broadcast_batch=True))
        guarded = _plan(FE.fetch_hits_and_route(sched, pages, cfg, broadcast_batch=False))
        return forced, guarded

    forced, guarded = _with_conf(spark, _no_auto_broadcast(spark), plans)
    assert "BroadcastExchange" in forced
    assert "BroadcastExchange" not in guarded


def test_neardup_probe_broadcast_guard_plans(spark):
    batch = spark.range(50).select(
        F.col("id").alias("url_hash"), F.xxhash64("id").alias("simhash")
    )
    state = spark.range(500).select(
        F.col("id").alias("url_hash"), F.xxhash64("id", F.lit(1)).alias("simhash")
    )

    def plans():
        forced = _plan(FE.neardup_hits(batch, state, 3, broadcast_batch=True))
        guarded = _plan(FE.neardup_hits(batch, state, 3, broadcast_batch=False))
        return forced, guarded

    forced, guarded = _with_conf(spark, _no_auto_broadcast(spark), plans)
    assert "BroadcastExchange" in forced
    assert "BroadcastExchange" not in guarded


def test_crawl_identical_past_broadcast_budget(spark):
    """A crawl forced onto the shuffled-join path (budget 0) must produce
    the exact same frontier as the broadcast path."""
    from test_heads_schedule import _run_crawl

    _, rows_bc = _run_crawl(spark, quota=1, rounds=4)
    import tempfile

    from crawlspark import benchcorpus as BC
    from crawlspark.engine import CrawlEngine
    from crawlspark.operators.robots import parse_robots

    n_pages, n_domains = 4000, 6
    pages = BC.build_pages(spark, n_pages, n_domains)
    frontier = BC.build_frontier(spark, n_pages, n_domains)
    robots = BC.build_robots(spark, n_domains)
    cfg = CrawlConfig(
        allowed_url_patterns=(r"https?://[a-z0-9.-]*\.example(/|$)",),
        per_domain_quota=1,
    )
    eng = CrawlEngine(
        spark, cfg, None, tempfile.mkdtemp(prefix="bcguard_"),
        checkpoint_interval=3, pages=pages, robots_bodies=robots,
        sitemap_xml=spark.createDataFrame([], "registered_domain string, url string, xml string"),
    )
    eng._broadcast_rows = 0  # force the shuffled-join path
    eng.start_from_frontier(frontier, parse_robots(robots), next_seq=n_pages)
    for _ in range(4):
        if not eng.run_round():
            break
    rows_shuffled = {
        r["url"]: (r["status"], r["completed_round"], r["discovery_seq"])
        for r in eng.all_rows().select(
            "url", "status", "completed_round", "discovery_seq"
        ).collect()
    }
    assert rows_shuffled == rows_bc


def test_simhash_pairs_broadcast_gate(spark, monkeypatch):
    """Past ``BROADCAST_ROWS`` the simhash_pairs exact side is not
    force-broadcast (the candidate join shuffles on the chunk key) and the
    pairs are the same as on the broadcast path."""
    import __spark_entry__ as E

    from crawlspark import config as C

    sf = "/root/testdata/sf0.001"

    def run():
        df = E.q_simhash_pairs(spark, sf)
        return _plan(df), df.collect()

    bc_plan, bc_rows = _with_conf(spark, _no_auto_broadcast(spark), run)
    monkeypatch.setattr(C, "BROADCAST_ROWS", 0)
    sh_plan, sh_rows = _with_conf(spark, _no_auto_broadcast(spark), run)
    assert "BroadcastExchange" in bc_plan
    assert "BroadcastExchange" not in sh_plan
    assert bc_rows and sh_rows == bc_rows
