"""The round restructure's driver-side gates read the materialized
routed/sched parquet locally (engine._local_values). On cluster storage
those reads return None and every gate must fall back conservatively —
same crawl results, just without the job-free shortcuts. This pins the
fallback path end-to-end against the oracle."""

from __future__ import annotations

from crawlspark import corpus as C
from crawlspark.config import CrawlConfig
from crawlspark.engine import CrawlEngine
from crawlspark.oracle import OracleCrawl


def test_crawl_conformance_with_local_reads_disabled(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(
        CrawlEngine, "_local_values", lambda self, df, col: None
    )
    d = str(tmp_path / "corpus")
    C.write_corpus(d, C.CorpusSpec(n_pages=30, n_domains=6, seed=5))
    cfg = CrawlConfig(
        allowed_url_patterns=C.ALLOWED_PATTERNS,
        # Crawl-delay on: the blocked-keys table rides the fallback crawl too
        extra={"respect_crawl_delay": True},
    )
    eng = CrawlEngine(spark, cfg, d, str(tmp_path / "state"), checkpoint_interval=50)
    eng.start(resume=False)
    eng.run()
    ora = OracleCrawl(d, cfg)
    ora.run()
    rows = eng.all_rows().select("url", "status", "completed_round").collect()
    e = {r["url"]: (r["status"], r["completed_round"]) for r in rows}
    o = {
        r.url: (r.status, r.completed_round) for r in ora.rows.values()
    }
    assert e == o
