#!/usr/bin/env python
"""Fetch-join partition pruning evidence (VERDICT r1 scale-killer #1).

Fixed politeness batch (n_domains registered domains, K=1 → batch size
== n_domains) against growing corpora, bucketed vs full-scan fetch join.
The claim to evidence: with the pages table hash-bucketed by page_hash
and the per-round join pruned to touched buckets, round wall-time is
SUBLINEAR in corpus size at fixed batch size (the full-scan join re-reads
the whole corpus every round).

Prints one JSON line:
  {"modes": {"<n_pages>": {"bucketed": avg_round_s, "full": avg_round_s,
                           "touched_buckets": n, "total_buckets": B}},
   "growth": {"bucketed": t_big/t_small, "full": t_big/t_small}}

Usage: python scripts/bench_fetch_pruning.py [small_pages big_pages]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crawlspark import benchcorpus as BC
from crawlspark.config import CrawlConfig
from crawlspark.engine import CrawlEngine
from crawlspark.operators.robots import parse_robots
from crawlspark.session import get_spark

N_DOMAINS = 50      # fixed batch: K=1 → 50 scheduled URLs per round
BUCKETS = 256
ROUNDS = 4


def run(spark, n_pages: int, bucketed: bool) -> dict:
    import time

    pages = BC.build_pages(spark, n_pages, N_DOMAINS)
    frontier = BC.build_frontier(spark, n_pages, N_DOMAINS)
    robots = BC.build_robots(spark, N_DOMAINS)
    rules = parse_robots(robots)
    extra = {"bucket_pages": True} if bucketed else {}
    cfg = CrawlConfig(
        allowed_url_patterns=(r"https?://[a-z0-9.-]*\.example(/|$)",),
        per_domain_quota=1,
        frontier_buckets=BUCKETS,
        extra=extra,
    )
    state = tempfile.mkdtemp(prefix=f"prune_{n_pages}_{bucketed}_")
    eng = CrawlEngine(
        spark, cfg, None, state, checkpoint_interval=10**9,
        pages=pages, robots_bodies=robots,
        sitemap_xml=spark.createDataFrame([], "registered_domain string, url string, xml string"),
    )
    eng.start_from_frontier(frontier, rules, next_seq=n_pages)
    eng.pages.count()  # materialize the cache outside the timing (both modes)
    t0 = time.monotonic()
    for _ in range(ROUNDS):
        eng.run_round()
    dt = time.monotonic() - t0
    return {
        "avg_round_s": round(dt / ROUNDS, 2),
        "scheduled_per_round": eng.stats.rounds[0].scheduled,
    }


def main() -> None:
    sizes = (
        [int(sys.argv[1]), int(sys.argv[2])]
        if len(sys.argv) > 2
        else [200_000, 1_000_000]
    )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("fetch-pruning-bench", master=f"local[{cpus}]")
    out: dict = {"modes": {}, "batch": N_DOMAINS, "buckets": BUCKETS}
    for n in sizes:
        out["modes"][str(n)] = {
            "bucketed": run(spark, n, True)["avg_round_s"],
            "full": run(spark, n, False)["avg_round_s"],
        }
    small, big = str(sizes[0]), str(sizes[1])
    out["growth"] = {
        m: round(out["modes"][big][m] / max(out["modes"][small][m], 1e-9), 2)
        for m in ("bucketed", "full")
    }
    out["corpus_ratio"] = round(sizes[1] / sizes[0], 1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
