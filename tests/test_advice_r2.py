"""Regression gates for the round-2 ADVICE items: known-domain cache
coherence across admission branches, icelite footer-failure accounting,
embedding near-dup id typing / zero-norm handling, and dedup cache
release."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawlspark.config import CrawlConfig
from crawlspark.icelite import IceliteCatalog
from crawlspark.operators import admission as ADM
from crawlspark.operators import dedup as DD


def test_admission_cache_coherent_across_branches(spark):
    """Pass 1 takes the relational branch (local_values unavailable); the
    sitemap pass then takes the fast path — it must NOT re-probe the
    domain pass 1 discovered (stale-cache duplicate rules, ADVICE r2)."""
    cfg = CrawlConfig(allowed_url_patterns=(r"https?://[a-z0-9.-]*\.example(/|$)",))
    cands = spark.createDataFrame(
        [("https://d.example/wiki/page1", 0, "seed", -1, 0, 0)],
        "raw_url string, depth int, src string, parent_seq long, link_pos int, sub_pos int",
    )
    seen = spark.createDataFrame([], "url_hash long")
    rules = spark.createDataFrame(
        [], "registered_domain string, rule_type string, value string, rule_pos int"
    )
    robots = spark.createDataFrame(
        [(
            "d.example",
            "User-agent: *\nDisallow: /private/\n"
            "Sitemap: https://d.example/sm.xml\n",
        )],
        "registered_domain string, body string",
    )
    xml = (
        '<?xml version="1.0"?><urlset><url><loc>'
        "https://d.example/wiki/page2</loc></url></urlset>"
    )
    sitemaps = spark.createDataFrame(
        [("d.example", "https://d.example/sm.xml", xml)],
        "registered_domain string, url string, xml string",
    )

    calls = {"n": 0}

    def local_values(df, col):
        calls["n"] += 1
        if calls["n"] == 1:
            return None  # force pass 1 onto the relational branch
        return [r[0] for r in df.select(col).collect()]

    known: set = set()
    res = ADM.admit(
        spark, cands, lambda df, name: df, seen, rules, robots, sitemaps,
        cfg, 0, 0, known_domains=known, local_values=local_values,
    )
    urls = {r["url"] for r in res.new_rows.select("url").collect()}
    assert "https://d.example/wiki/page2" in urls  # sitemap pass ran
    dup = (
        res.new_rules.groupBy("registered_domain", "rule_type", "value", "rule_pos")
        .count().filter(F.col("count") > 1).count()
    )
    assert dup == 0
    assert "d.example" in known


def test_icelite_unreadable_footer_excluded_from_totals(spark, tmp_path):
    cat = IceliteCatalog(str(tmp_path / "cat"))
    d = tmp_path / "part0"
    spark.range(10).select(F.col("id").alias("url_hash")).repartition(1).write.parquet(str(d))
    (d / "junk.parquet").write_bytes(b"not a parquet footer")
    snap = cat.commit({"t": [str(d)]}, meta={})
    info = snap.tables["t"]
    assert info["rows"] == 10  # -1 sentinel no longer corrupts the sum
    assert info["rows_unknown"] == 1
    # never prune blind: the boundless junk file survives pruning
    kept = cat.prune_files(snap, "t", "url_hash", 100, 200)
    assert any(f.endswith("junk.parquet") for f in kept)


def test_embedding_neardup_string_ids_and_zero_norm(spark):
    rows = [
        ("a", [1.0, 0.0, 0.0]),
        ("b", [1.0, 0.01, 0.0]),
        ("zero", [0.0, 0.0, 0.0]),  # zero-norm: must match nothing, not NaN
        ("c", [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    out = DD.embedding_neardup_pairs(df, "vec_id", "embedding", threshold=0.95, n_blocks=2).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {("a", "b")}
    assert all(r["cosine"] == r["cosine"] for r in out)  # no NaN


def test_dedup_caches_released_between_invocations(spark):
    # start from an empty cache: crawl tests leave engine frames persisted
    spark.catalog.clearCache()
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    DD.minhash_lsh_pairs(docs, "doc_id", "text").count()
    DD.ngram_jaccard_pairs(docs, "doc_id", "text").count()
    DD.release_caches()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_max_shingle_df_bounds_join_rows(spark):
    """Boilerplate-heavy corpus (every doc shares a hot prefix): the
    document-frequency cap must bound the inverted-index join to the true
    near-dup shingles — the 10^12-hot-key scenario in the max_shingle_df
    docstring — while keeping Jaccard exact over the capped space."""
    from pyspark.sql import functions as F

    n = 120
    boiler = "all rights reserved terms of service apply"
    rows = [
        (i, f"{boiler} unique body {i} alpha beta gamma delta {i} epsilon")
        for i in range(n)
    ]
    rows.append((n, rows[0][1]))  # planted exact near-dup of doc 0
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # join-size evidence: hot shingles contribute O(n^2) rows uncapped
    sh = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(DD.text_shingles(F.col("text"), 3)).alias("sh"),
    )
    pairs = lambda s: (
        s.alias("a").join(s.alias("b"), "sh")
        .filter(F.col("a.doc") < F.col("b.doc")).count()
    )
    uncapped_rows = pairs(sh)
    hot = (
        sh.groupBy("sh").agg(F.count("*").alias("df"))
        .filter(F.col("df") > 50).select("sh")
    )
    capped_rows = pairs(sh.join(hot, "sh", "left_anti"))
    assert uncapped_rows > n * (n - 1) // 2  # boilerplate blowup ~ n^2
    assert capped_rows < 200  # bounded to true-dup shingle collisions

    out = DD.ngram_jaccard_pairs(
        docs, "doc_id", "text", 3, 0.8, max_shingle_df=50
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(0, n)}
    assert all(r["jaccard"] == 1.0 for r in out)
