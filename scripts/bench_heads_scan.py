#!/usr/bin/env python
"""Schedule-scan bench: grow the frontier 10x at a FIXED key count and
time the schedule step (HEADS table ∪ deltas − tombstones, then the
quota window) per round, with the rows each tick read. The tick reads
O(#keys × B) rows, so its time should stay ~flat as the frontier grows;
the HEADS rebuild (one frontier pass per refresh window) is included in
the tick that runs it.

Usage: python scripts/bench_heads_scan.py [small] [big] [n_domains] [rounds]
Defaults: 1M -> 10M rows, 24 domains, 4 rounds, local[<cpus>].
Env: HEADS_BENCH_KEY=registered_domain|netloc (politeness key),
     HEADS_BENCH_QUOTA=K (per-key quota),
     HEADS_BENCH_OUT=<json path>.
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
from crawlspark.operators.schedule import schedule_round
from crawlspark.session import get_spark


def run(spark, n_pages: int, n_domains: int, rounds: int,
        key: str = "registered_domain", quota: int = 1) -> dict:
    pages = BC.build_pages(spark, min(n_pages, 200_000), n_domains).persist()
    pages.count()
    frontier = BC.build_frontier(spark, n_pages, n_domains)
    robots = BC.build_robots(spark, n_domains)
    cfg = CrawlConfig(
        allowed_url_patterns=(r"https?://[a-z0-9.-]*\.example(/|$)",),
        per_domain_quota=quota,
        extra={"politeness_key": key},
    )
    eng = CrawlEngine(
        spark, cfg, None, tempfile.mkdtemp(prefix="headsbench_"),
        checkpoint_interval=10**9, pages=pages, robots_bodies=robots,
        sitemap_xml=spark.createDataFrame([], "registered_domain string, url string, xml string"),
    )
    eng.start_from_frontier(frontier, parse_robots(robots), next_seq=n_pages)
    # the schedule step isn't separable from the round DAG, so time it
    # explicitly before each round
    sched_secs = []
    scans = []
    for _ in range(rounds):
        t0 = time.monotonic()
        src, scan = eng._pending_for_schedule()
        schedule_round(src, cfg.per_domain_quota, eng._key_col).count()
        sched_secs.append(time.monotonic() - t0)
        scans.append(scan)
        if not eng.run_round():  # advance state (pops + tombstones)
            break
    pages.unpersist()
    return {
        "n_pages": n_pages,
        "sched_secs": [round(s, 2) for s in sched_secs],
        "sched_sec_median": round(sorted(sched_secs)[len(sched_secs) // 2], 2),
        "scans": scans,
    }


def main() -> None:
    small = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    big = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000
    n_domains = int(sys.argv[3]) if len(sys.argv) > 3 else 24
    rounds = int(sys.argv[4]) if len(sys.argv) > 4 else 4
    key = os.environ.get("HEADS_BENCH_KEY", "registered_domain")
    quota = int(os.environ.get("HEADS_BENCH_QUOTA", "1"))
    spark = get_spark("heads-bench")

    out = {
        "n_domains": n_domains, "rounds": rounds,
        "politeness_key": key, "quota": quota,
    }
    for label, n in [("small", small), ("big", big)]:
        out[label] = run(spark, n, n_domains, rounds, key=key, quota=quota)
        print(f"# {label}: median sched {out[label]['sched_sec_median']}s", flush=True)
    out["sched_growth_10x_frontier"] = round(
        out["big"]["sched_sec_median"]
        / max(out["small"]["sched_sec_median"], 1e-9), 2,
    )
    dest = os.environ.get("HEADS_BENCH_OUT")
    if dest:
        with open(dest, "w") as f:
            json.dump(out, f, indent=1)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
