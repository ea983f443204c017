#!/usr/bin/env python
"""Crawl launcher — the engine's ``launch.py`` (ref /root/reference/launch.py).

Run locally:
    python launch_crawl.py --corpus /path/corpus --state /path/state

Run on a cluster (north_rule ships via spark-submit --py-files):
    cd /root/repo && zip -qr /tmp/crawlspark.zip crawlspark
    spark-submit --py-files /tmp/crawlspark.zip launch_crawl.py \
        --corpus hdfs://.../corpus --state hdfs://.../state --resume

Note: the reference's ``--restart`` flag has ``default=True`` with
``store_true`` (launch.py:34) making resume unreachable from its CLI —
we expose an explicit ``--resume`` instead (documented deviation).
"""

from __future__ import annotations

import argparse
import json

from crawlspark.config import CrawlConfig
from crawlspark.corpus import ALLOWED_PATTERNS
from crawlspark.engine import CrawlEngine
from crawlspark.reports import crawl_report
from crawlspark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True, help="corpus dir (pages/seeds/robots/sitemaps parquet)")
    ap.add_argument("--state", required=True, help="icelite state dir")
    ap.add_argument("--resume", action="store_true", help="resume from the latest snapshot")
    ap.add_argument("--rounds", type=int, default=None, help="max politeness rounds (default: drain)")
    ap.add_argument("--quota", type=int, default=1, help="URLs per registered domain per round")
    ap.add_argument("--pace", action="store_true", help="wall-clock politeness pacing between rounds")
    ap.add_argument("--delay", type=float, default=1.0, help="politeness delay seconds (with --pace)")
    ap.add_argument(
        "--allow-pattern", action="append", default=None,
        help="anchored regex a URL must match to be admitted (repeatable); "
        "defaults to the synthetic-corpus .example patterns",
    )
    ap.add_argument("--checkpoint-interval", type=int, default=5)
    ap.add_argument(
        "--extra", action="append", default=None, metavar="KEY=VALUE",
        help="engine extras (repeatable), e.g. politeness_key=netloc, "
        "bucket_pages=true, fetch_mode=http; values parse as JSON when possible",
    )
    ap.add_argument("--master", default=None, help="override master (default local[$SPARK_GRAFT_CPUS])")
    ap.add_argument("--report", action="store_true", help="print the crawl report JSON at the end")
    args = ap.parse_args()

    extra = {}
    for kv in args.extra or []:
        k, _, v = kv.partition("=")
        try:
            extra[k] = json.loads(v)
        except json.JSONDecodeError:
            extra[k] = v

    spark = get_spark("crawlspark", master=args.master)
    cfg = CrawlConfig(
        allowed_url_patterns=tuple(args.allow_pattern) if args.allow_pattern else ALLOWED_PATTERNS,
        per_domain_quota=args.quota,
        politeness_delay_s=args.delay,
        extra=extra,
    )
    eng = CrawlEngine(
        spark, cfg, args.corpus, args.state,
        checkpoint_interval=args.checkpoint_interval,
        pace_wallclock=args.pace,
    )
    eng.start(resume=args.resume)
    stats = eng.run(max_rounds=args.rounds)
    summary = {
        "rounds": len(stats.rounds),
        "scheduled": stats.total_scheduled,
        "last_round": stats.rounds[-1].by_status if stats.rounds else {},
    }
    print(json.dumps(summary))
    if args.report:
        print(json.dumps(crawl_report(eng.all_rows(), eng.pages)))


if __name__ == "__main__":
    main()
