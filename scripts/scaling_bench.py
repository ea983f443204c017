#!/usr/bin/env python
"""Scaling-efficiency evidence (BASELINE.json north_rule).

No real cluster exists in the sandbox, so the N→4N-executor criterion is
evidenced as the same crawl job at two parallelism levels on one host:
local[8] vs local[32], same input, same rounds. Reports URLs
scheduled+fetched/sec at both and efficiency = T32/(4·T8).

Usage: python scripts/scaling_bench.py [n_pages] [n_domains] [rounds]
Writes JSON to stdout and appends a markdown row you can paste into
BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crawlspark import benchcorpus as BC
from crawlspark.config import CrawlConfig
from crawlspark.engine import CrawlEngine
from crawlspark.operators.robots import parse_robots
from crawlspark.session import get_spark


def run_at(cores: int, n_pages: int, n_domains: int, rounds: int, quota: int = 1) -> dict:
    spark = get_spark(
        f"scaling-{cores}", master=f"local[{cores}]", shuffle_partitions=cores
    )
    pages = BC.build_pages(spark, n_pages, n_domains).persist()
    pages.count()
    frontier = BC.build_frontier(spark, n_pages, n_domains)
    robots = BC.build_robots(spark, n_domains)
    rules = parse_robots(robots)
    cfg = CrawlConfig(
        allowed_url_patterns=(r"https?://[a-z0-9.-]*\.example(/|$)",),
        per_domain_quota=quota,
    )
    eng = CrawlEngine(
        spark, cfg, None, tempfile.mkdtemp(prefix=f"scale{cores}_"),
        checkpoint_interval=10**9, pages=pages, robots_bodies=robots,
        sitemap_xml=spark.createDataFrame([], "registered_domain string, url string, xml string"),
    )
    eng.start_from_frontier(frontier, rules, next_seq=n_pages)
    # warmup round (JIT, python workers) excluded from the timed window
    eng.run_round()
    t0 = time.monotonic()
    for _ in range(rounds):
        if not eng.run_round():
            break
    dt = time.monotonic() - t0
    scheduled = sum(r.scheduled for r in eng.stats.rounds[1:])
    res = {
        "cores": cores,
        "seconds": round(dt, 2),
        "scheduled": scheduled,
        "urls_per_sec": round(scheduled / dt, 1),
        "round_secs": [round(r.seconds, 2) for r in eng.stats.rounds],
    }
    spark.stop()
    return res


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    n_domains = int(sys.argv[2]) if len(sys.argv) > 2 else 40_000
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    quota = int(sys.argv[4]) if len(sys.argv) > 4 else 1

    r8 = run_at(8, n_pages, n_domains, rounds, quota)
    r32 = run_at(32, n_pages, n_domains, rounds, quota)
    eff = r32["urls_per_sec"] / (4 * r8["urls_per_sec"])
    out = {
        "quota": quota,
        "n_pages": n_pages,
        "n_domains": n_domains,
        "rounds": rounds,
        "local8": r8,
        "local32": r32,
        "speedup_32_over_8": round(r32["urls_per_sec"] / r8["urls_per_sec"], 2),
        "efficiency_T32_over_4T8": round(eff, 3),
    }
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
