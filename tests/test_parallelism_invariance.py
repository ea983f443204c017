"""Parallelism invariance (SURVEY.md §5.6): the crawl outcome must be
identical at different parallelism levels — every ordering decision is
data-derived. The in-session engine (local[4] fixture) is compared against
an engine run in a SUBPROCESS at local[2] with different shuffle
partitioning, both against the oracle-checked corpus.

The subprocess engine additionally FORCES the two-phase assign_seq path
(admission.TWO_PHASE_ROWS = 0) while the in-session engine uses the
single-window path — equality proves the two discovery_seq assignment
strategies are interchangeable at any parallelism (VERDICT r1 #6)."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

from crawlspark import corpus as C
from crawlspark.config import CrawlConfig
from crawlspark.engine import CrawlEngine

_SUBPROC = """
import json, sys
sys.path.insert(0, sys.argv[3])
from crawlspark.config import CrawlConfig
from crawlspark import corpus as C
from crawlspark.engine import CrawlEngine
from crawlspark.operators import admission
from crawlspark.session import get_spark

admission.TWO_PHASE_ROWS = 0
corpus_dir, state_dir = sys.argv[1], sys.argv[2]
spark = get_spark("inv2", master="local[2]", shuffle_partitions=7)
cfg = CrawlConfig(
    allowed_url_patterns=C.ALLOWED_PATTERNS, per_domain_quota=2,
)
eng = CrawlEngine(spark, cfg, corpus_dir, state_dir, checkpoint_interval=1000)
eng.start(resume=False)
eng.run()
rows = eng.all_rows().select("url", "status", "discovery_seq").collect()
print(json.dumps({r["url"]: [r["status"], r["discovery_seq"]] for r in rows}))
"""


@pytest.mark.slow
def test_same_outcome_at_different_parallelism(spark, tmp_path):
    d = str(tmp_path / "corpus")
    C.write_corpus(d, C.CorpusSpec(n_pages=70, n_domains=9, seed=31))
    cfg = CrawlConfig(allowed_url_patterns=C.ALLOWED_PATTERNS, per_domain_quota=2)
    eng = CrawlEngine(spark, cfg, d, str(tmp_path / "s4"), checkpoint_interval=1000)
    eng.start(resume=False)
    eng.run()
    mine = {
        r["url"]: [r["status"], r["discovery_seq"]]
        for r in eng.all_rows().select("url", "status", "discovery_seq").collect()
    }

    out = subprocess.run(
        # the subprocess imports the checkout under test, not an install
        [sys.executable, "-c", _SUBPROC, d, str(tmp_path / "s2"),
         str(Path(__file__).resolve().parents[1])],
        capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    theirs = json.loads(out.stdout.strip().splitlines()[-1])
    assert mine == theirs, {
        u: (mine.get(u), theirs.get(u))
        for u in set(mine) | set(theirs)
        if mine.get(u) != theirs.get(u)
    }
