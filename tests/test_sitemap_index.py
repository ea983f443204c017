"""S7 sitemap-index recursion + known-domain sentinel (frozen spec;
reference fixture shape: wp-sitemap.xml index → sub-sitemaps,
/root/reference/tests/worker_test.py:207-217, expected frontier
contents tests/simple_frontier_test.py:113-134)."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawlspark.operators import admission as ADM
from crawlspark.operators import robots as R

IDX = (
    '<?xml version="1.0"?><sitemapindex>'
    "<sitemap><loc>https://d.example/wp-sitemap-posts-1.xml</loc></sitemap>"
    "<sitemap><loc>https://d.example/wp-sitemap-users-1.xml</loc></sitemap>"
    "</sitemapindex>"
)
POSTS = (
    '<?xml version="1.0"?><urlset>'
    "<url><loc>https://d.example/wiki/p1</loc></url>"
    "<url><loc>https://d.example/wiki/p2</loc></url>"
    "</urlset>"
)
USERS = (
    '<?xml version="1.0"?><urlset>'
    "<url><loc>https://d.example/wiki/u1</loc></url>"
    # nested index entry at max depth: followed one more level
    "<url><loc>https://d.example/wp-sitemap-deep-1.xml</loc></url>"
    "</urlset>"
)
DEEP = (
    '<?xml version="1.0"?><urlset>'
    "<url><loc>https://d.example/wiki/deep1</loc></url>"
    # a sitemap loc at level 3 would exceed SITEMAP_MAX_LEVELS: dropped
    "<url><loc>https://d.example/wp-sitemap-toodeep.xml</loc></url>"
    "</urlset>"
)


def test_expand_sitemaps_recurses_index(spark, tmp_path):
    rules = spark.createDataFrame(
        [
            ("d.example", "probed", "", -1),
            ("d.example", "sitemap", "https://d.example/wp-sitemap.xml", 0),
        ],
        "registered_domain string, rule_type string, value string, rule_pos int",
    )
    sm = spark.createDataFrame(
        [
            ("d.example", "https://d.example/wp-sitemap.xml", IDX),
            ("d.example", "https://d.example/wp-sitemap-posts-1.xml", POSTS),
            ("d.example", "https://d.example/wp-sitemap-users-1.xml", USERS),
            ("d.example", "https://d.example/wp-sitemap-deep-1.xml", DEEP),
        ],
        "registered_domain string, url string, xml string",
    )
    n = [0]

    def mat(df, name):
        n[0] += 1
        p = str(tmp_path / f"m{n[0]}_{name}")
        df.write.mode("overwrite").parquet(p)
        return spark.read.parquet(p)

    cand = ADM.expand_sitemaps(rules, sm, mat, seq=100).orderBy("sub_pos").collect()
    # DFS order: posts(p1,p2) then users(u1, deep(deep1)); sitemap locs
    # themselves are never page candidates; too-deep sitemap dropped
    assert [r["raw_url"] for r in cand] == [
        "https://d.example/wiki/p1",
        "https://d.example/wiki/p2",
        "https://d.example/wiki/u1",
        "https://d.example/wiki/deep1",
    ]
    assert all(r["src"] == "sitemap" and r["depth"] == 0 for r in cand)
    assert all(r["parent_seq"] == 101 for r in cand)  # seq + 1
    assert [r["sub_pos"] for r in cand] == [1, 2, 3, 4]


def test_expand_sitemaps_two_phase_rank_identical(spark, tmp_path, monkeypatch):
    """Forcing the two-phase range-rank (TWO_PHASE_ROWS = 0) must produce
    the byte-identical candidate batch to the global-window path — the
    rank key is data-derived (VERDICT r2 #3)."""
    doms = [f"d{i}.example" for i in range(5)]
    rules_rows, sm_rows = [], []
    for d in doms:
        rules_rows += [
            (d, "probed", "", -1),
            (d, "sitemap", f"https://{d}/wp-sitemap.xml", 0),
        ]
        locs = "".join(
            f"<url><loc>https://{d}/wiki/p{j}</loc></url>" for j in range(3)
        )
        sm_rows.append(
            (d, f"https://{d}/wp-sitemap.xml",
             f'<?xml version="1.0"?><urlset>{locs}</urlset>')
        )
    rules = spark.createDataFrame(
        rules_rows,
        "registered_domain string, rule_type string, value string, rule_pos int",
    )
    sm = spark.createDataFrame(
        sm_rows, "registered_domain string, url string, xml string"
    )

    def mat_factory(sub):
        n = [0]

        def mat(df, name):
            n[0] += 1
            p = str(tmp_path / sub / f"m{n[0]}_{name}")
            df.write.mode("overwrite").parquet(p)
            return spark.read.parquet(p)

        return mat

    def rows(cand):
        return sorted(
            (r["raw_url"], r["parent_seq"], r["sub_pos"]) for r in cand.collect()
        )

    base = rows(ADM.expand_sitemaps(rules, sm, mat_factory("a"), seq=100))
    monkeypatch.setattr(ADM, "TWO_PHASE_ROWS", 0)
    forced = rows(ADM.expand_sitemaps(rules, sm, mat_factory("b"), seq=100))
    assert base == forced and len(base) == 15
    # (parent_seq, sub_pos) order is domain-major, then DFS path: the
    # same order as a per-domain rank offset by the domain's rank
    by_pos = [u for u, _, _ in sorted(base, key=lambda t: (t[1], t[2]))]
    assert by_pos == [f"https://{d}/wiki/p{j}" for d in doms for j in range(3)]


def test_conformance_with_two_phase_sitemap_rank(
    spark, tmp_path_factory, monkeypatch
):
    """Engine == oracle with the two-phase rank forced on for discovery
    order and sitemap order — mirrors how the parallelism-invariance
    suite forces assign_seq."""
    from crawlspark import corpus as C
    from crawlspark.config import CrawlConfig
    from crawlspark.engine import CrawlEngine
    from crawlspark.oracle import OracleCrawl

    d = tmp_path_factory.mktemp("sm2p_corpus")
    C.write_corpus(str(d), C.CorpusSpec(n_pages=60, n_domains=10, seed=23))
    monkeypatch.setattr(ADM, "TWO_PHASE_ROWS", 0)
    cfg = CrawlConfig(allowed_url_patterns=C.ALLOWED_PATTERNS)
    eng = CrawlEngine(
        spark, cfg, str(d), str(tmp_path_factory.mktemp("sm2p_state")),
        checkpoint_interval=50,
    )
    eng.start(resume=False)
    eng.run()
    ora = OracleCrawl(str(d), cfg)
    ora.run()
    e = {
        r["url"]: (r["status"], r["discovery_seq"])
        for r in eng.all_rows().select("url", "status", "discovery_seq").collect()
    }
    o = {r.url: (r.status, r.seq) for r in ora.rows.values()}
    assert e == o


def test_ruleless_domain_probed_once(spark):
    """A robots body with zero directives still yields the 'probed'
    sentinel, so the domain is known and never re-parsed (ADVICE round 1)."""
    rows = R.parse_robots_py("d.example", "# nothing here\n")
    assert rows == [("d.example", "probed", "", -1)]
    bodies = spark.createDataFrame(
        [("d.example", "")], "registered_domain string, body string"
    )
    out = R.parse_robots(bodies).collect()
    assert len(out) == 1 and out[0]["rule_type"] == "probed"
