"""Unit tests: schedule quota, robots twins, URL-Jaccard twins, simhash
twins, dedup operators (SURVEY.md §5.1)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawlspark.functions import simhash as SH
from crawlspark.operators import badurls as BAD
from crawlspark.operators import dedup as DD
from crawlspark.operators import robots as R
from crawlspark.operators.schedule import schedule_round


def test_schedule_round_fifo_quota(spark):
    rows = [
        ("a.com", 3), ("a.com", 1), ("a.com", 2),
        ("b.com", 10), ("c.com", 5), ("c.com", 4),
    ]
    from pyspark.sql import functions as FF

    df = spark.createDataFrame(
        rows, ["registered_domain", "discovery_seq"]
    ).withColumn("url_hash", FF.xxhash64("discovery_seq"))
    got = {
        (r["registered_domain"], r["discovery_seq"])
        for r in schedule_round(df, 1).collect()
    }
    assert got == {("a.com", 1), ("b.com", 10), ("c.com", 4)}
    got2 = {
        (r["registered_domain"], r["discovery_seq"])
        for r in schedule_round(df, 2).collect()
    }
    assert got2 == {("a.com", 1), ("a.com", 2), ("b.com", 10), ("c.com", 4), ("c.com", 5)}


def test_robots_parse_and_gate_twins(spark):
    body = (
        "# comment\nUser-agent: *\nDisallow: /admin/\nAllow: /admin/pub/\n"
        "Disallow: /tmp/\nSitemap: https://d.example/sm.xml\nbadline\n"
    )
    rules_py = R.parse_robots_py("d.example", body)
    assert ("d.example", "sitemap", "https://d.example/sm.xml", 3) in rules_py
    assert ("d.example", "probed", "", -1) in rules_py  # known-domain sentinel
    prefix_rules = [(t, v) for _, t, v, _ in rules_py if t in ("allow", "disallow")]
    cases = {
        "/admin/x": False,
        "/admin/pub/x": True,   # allow overrides disallow (robot_parser.py:39-46)
        "/tmp/z": False,
        "/ok": True,
    }
    for path, want in cases.items():
        assert R.can_fetch_py(prefix_rules, path) == want, path

    bodies = spark.createDataFrame([("d.example", body)], ["registered_domain", "body"])
    rules = R.parse_robots(bodies)
    cands = spark.createDataFrame(
        [(i, "d.example", p) for i, p in enumerate(cases)],
        ["url_hash", "registered_domain", "path"],
    )
    gated = {r["path"]: r["robots_allowed"] for r in R.robots_gate(cands, rules).collect()}
    assert gated == cases


def test_sim_tokens_twin(spark):
    urls = [
        "https://a.com/x/y/z?b=2&a=1&a=3",
        "https://a.com/",
        "https://a.com/p;param?k=v",
        "https://a.com/q?novalue=&bare",
        # parse_qs percent-decoding twins (worker.py:157-165): decoded
        # when well-formed, raw on malformed escapes, U+FFFD on bad UTF-8,
        # '+' as space; path segments stay raw
        "https://a.com/p%20x?a%20b=c%2Cd&plus=1+2",
        "https://a.com/q?bad%zz=1&u8=%E2%82%AC&ff=x%FFy",
    ]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    got = {
        r["url"]: set(r["toks"])
        for r in df.select("url", BAD.sim_tokens(F.col("url")).alias("toks")).collect()
    }
    for u in urls:
        assert got[u] == BAD.sim_tokens_py(u), (u, got[u], BAD.sim_tokens_py(u))


def test_simhash_spark_matches_python_twin(spark):
    """route_verdict's fused parse-stats UDF (the crawl's fingerprint
    kernel) equals simhash_counter over the stopword-filtered counter."""
    from crawlspark.operators.fetch import parse_stats_udf

    texts = ["the quick brown fox jumps", "", "a a a b b c", "x " * 200]
    df = spark.createDataFrame([(t,) for t in texts], ["caption"]).withColumn(
        "url_hash", F.xxhash64("caption")
    )
    got = {
        r["url_hash"]: r["simhash"]
        for r in df.select(
            "url_hash", parse_stats_udf(F.col("caption"))["simhash"].alias("simhash")
        ).collect()
    }
    import re

    from crawlspark.functions.text import STOPWORDS, TOKEN_SPLIT_REGEX

    stop = set(STOPWORDS)
    splitter = re.compile(TOKEN_SPLIT_REGEX)
    for row in df.select("url_hash", "caption").collect():
        counts: dict[str, int] = {}
        for tok in splitter.split(row["caption"].lower()):
            if tok and tok not in stop:
                counts[tok] = counts.get(tok, 0) + 1
        assert got[row["url_hash"]] == SH.simhash_counter(counts)


def _flip_spread(v: int, n: int, bits: int, chunks: int, rng) -> int:
    """``v`` with ``n`` bits flipped, dealt round-robin over the chunks."""
    width = -(-bits // chunks)
    spans = [
        list(range(c * width, min((c + 1) * width, bits))) for c in range(chunks)
    ]
    for s in spans:
        rng.shuffle(s)
    for i in range(n):
        v ^= 1 << spans[i % chunks][i // chunks]
    return v


@pytest.mark.parametrize("max_hamming", [0, 3, 6, 8])
@pytest.mark.parametrize("bits,chunks", [(64, 4), (60, 3)])
def test_hamming_pairs_exact_recall(spark, bits, chunks, max_hamming):
    """Pigeonhole-exact recall for any radius: neighbours planted at every
    distance 0..h+2 (flips spread over all chunks, the worst case for a
    per-chunk probe) pair exactly as the brute-force bit_count join."""
    import random

    rng = random.Random(bits * 100 + max_hamming)
    rows = []
    for base_i in range(3):
        base = rng.getrandbits(bits)
        rows.append((base_i * 100, base))
        for d in range(max_hamming + 3):
            rows.append((base_i * 100 + d + 1, _flip_spread(base, d, bits, chunks, rng)))
    # as signed int64, the way Spark stores a 64-bit fingerprint
    rows = [(i, v - (1 << 64) if v >> 63 else v) for i, v in rows]
    df = spark.createDataFrame(rows, "id long, fp long")
    a = df.select(F.col("id").alias("id_a"), "fp")
    b = df.select(F.col("id").alias("id_b"), "fp")
    got = {
        (r["id_a"], r["id_b"])
        for r in SH.hamming_pairs(a, b, max_hamming, bits, chunks).collect()
    }
    brute = {
        (r["id_a"], r["id_b"])
        for r in a.withColumnRenamed("fp", "fa")
        .crossJoin(b)
        .filter(F.bit_count(F.col("fa").bitwiseXOR(F.col("fp"))) <= max_hamming)
        .collect()
    }
    assert got == brute
    assert {(0, d + 1) for d in range(max_hamming + 1)} <= got


def test_neardup_hits_at_hamming_6(spark):
    """simhash_threshold=0.90 ⇒ Hamming 6: a pair 6 bits apart with flips
    in all four 16-bit chunks is still a near-dup hit."""
    from crawlspark.config import CrawlConfig
    from crawlspark.operators.fetch import neardup_hits

    h = CrawlConfig(simhash_threshold=0.90).simhash_max_hamming
    assert h == 6
    base = 0x0123456789ABCDEF
    near = base
    for b in (1, 17, 33, 49, 50, 2):  # chunks 0,1,2,3,3,0
        near ^= 1 << b
    far = base ^ 0x7F  # 7 bits apart
    state = spark.createDataFrame([(1, base)], "url_hash long, simhash long")
    batch = spark.createDataFrame(
        [(10, near), (11, far)], "url_hash long, simhash long"
    )
    got = {r["url_hash"] for r in neardup_hits(batch, state, h).collect()}
    assert got == {10}


def test_minhash_equals_exact_jaccard(spark):
    texts = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),   # near-dup of 1
        (3, "one two three four five six seven eight"),
        (4, "totally different words entirely here now yes ok"),
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    exact = {
        (r["id_a"], r["id_b"])
        for r in DD.ngram_jaccard_pairs(df, "doc_id", "text", 3, 0.4).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in DD.minhash_lsh_pairs(df, "doc_id", "text", 3, 0.4).collect()
    }
    assert (1, 2) in exact
    assert lsh == exact


def test_connected_components_and_dedup_clusters(spark):
    # pair graph: {1-2, 2-5} one chain component, {7-8} another, 9 isolated
    pairs = spark.createDataFrame(
        [(1, 2), (2, 5), (7, 8)], ["id_a", "id_b"]
    )
    comp = {
        r["v"]: r["comp"] for r in DD.connected_components(pairs).collect()
    }
    assert comp == {1: 1, 2: 1, 5: 1, 7: 7, 8: 7}

    # cluster verdict over documents: transitive near-dups share one
    # canonical (smallest id); docs with no pair are singletons
    texts = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),   # near-dup of 1
        (3, "alpha beta gamma delta epsilon zeta psi iota"),   # near-dup of 1 and 2
        (4, "totally different words entirely here now yes ok"),
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    out = {
        r["doc_id"]: (r["component"], r["is_canonical"])
        for r in DD.dedup_clusters(df, "doc_id", "text", 3, 0.3).collect()
    }
    assert out[1] == (1, 1)
    assert out[2] == (1, 0)
    assert out[3] == (1, 0)
    assert out[4] == (4, 1)


def test_dedup_keep_best_prefers_quality_over_id(spark):
    # docs 1-3 form one near-dup cluster; doc 3 has the most tokens →
    # highest frozen quality_score, so keep_best picks it over the
    # smallest id that dedup_clusters would keep. doc 4 is a singleton
    # (always kept).
    base = "alpha beta gamma delta epsilon zeta eta"
    texts = [
        (1, base + " theta"),
        (2, base + " iota"),
        (3, base + " theta iota kappa lam mu nu xi omicron pi rho sigma"),
        (4, "totally different words entirely here now yes ok"),
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    out = {
        r["doc_id"]: (r["component"], r["keep"])
        for r in DD.dedup_keep_best(df, "doc_id", "text", 3, 0.3).collect()
    }
    assert out[3] == (1, 1)           # best quality wins the cluster
    assert out[1] == (1, 0) and out[2] == (1, 0)
    assert out[4] == (4, 1)           # singleton keeps itself

    # tie on quality → smallest doc_id wins (docs 5/6 identical text)
    tie = spark.createDataFrame(
        [(5, base + " theta"), (6, base + " theta")], ["doc_id", "text"]
    )
    tout = {
        r["doc_id"]: r["keep"]
        for r in DD.dedup_keep_best(tie, "doc_id", "text", 3, 0.3).collect()
    }
    assert tout == {5: 1, 6: 0}


def test_connected_components_long_chain_converges(spark):
    # a 64-vertex path graph (63 hops — past the old max_iter=25 cap of
    # the diameter-bound propagation): pointer doubling must converge in
    # O(log n) iterations, not O(diameter)
    import math

    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], ["id_a", "id_b"]
    )
    stats = {}
    # small_graph_threshold=0 forces the distributed pointer-doubling
    # loop (the default size gate would solve 126 edges on the driver)
    rows = DD.connected_components(
        pairs, stats=stats, small_graph_threshold=0
    ).collect()
    assert {r["comp"] for r in rows} == {1}
    assert len(rows) == n
    assert stats["converged"]
    assert stats["mode"] == "distributed"
    assert stats["iterations"] <= 2 * math.ceil(math.log2(n))


def test_connected_components_driver_vs_distributed(spark):
    """The size-gated driver union-find path must produce exactly the
    distributed loop's labels on an adversarial mixed graph (chains,
    a cycle, duplicate + reversed edges, a self-loop, singleton)."""
    edges = (
        [(i, i + 1) for i in range(1, 10)]  # chain 1..10
        + [(20, 21), (22, 21), (23, 22), (21, 23)]  # cycle w/ reversals
        + [(30, 30), (40, 41), (41, 40), (40, 41)]  # self-loop + dups
    )
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    s_drv, s_dst = {}, {}
    drv = {
        r["v"]: r["comp"]
        for r in DD.connected_components(pairs, stats=s_drv).collect()
    }
    dst = {
        r["v"]: r["comp"]
        for r in DD.connected_components(
            pairs, stats=s_dst, small_graph_threshold=0
        ).collect()
    }
    assert s_drv["mode"] == "driver" and s_dst["mode"] == "distributed"
    assert drv == dst
    assert drv[30] == 30 and drv[41] == 40 and drv[23] == 20


def test_text_shingles_udf_matches_expression(spark):
    """The Arrow shingle twin must produce exactly the expression path's
    distinct n-grams (it replaces it in the hot operators)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for n in (2, 3):
        got = docs.select(
            "doc_id", DD.text_shingles_udf(n)(F.col("text")).alias("s")
        ).collect()
        want = docs.select(
            "doc_id", DD.text_shingles(F.col("text"), n).alias("s")
        ).collect()
        assert {r["doc_id"]: sorted(r["s"]) for r in got} == {
            r["doc_id"]: sorted(r["s"]) for r in want
        }


def test_sample_stratified_deterministic_and_rates(spark):
    from crawlspark.operators import sampling as SP

    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("zz").alias("lang"),
    )
    rates = {"en": 1.0, "zz": 0.25}
    a = sorted(r["doc_id"] for r in SP.sample_stratified(df, "lang", rates).collect())
    # partitioning must not change the sample (hash-based, not rand())
    b = sorted(
        r["doc_id"]
        for r in SP.sample_stratified(df.repartition(7), "lang", rates).collect()
    )
    assert a == b
    en = [i for i in a if i % 2 == 0]
    zz = [i for i in a if i % 2 == 1]
    assert len(en) == 1000                  # rate 1.0 keeps everything
    assert 150 <= len(zz) <= 350            # rate 0.25 of 1000, hash-uniform


def test_pack_token_budget_bins(spark):
    from crawlspark.operators import sampling as SP

    df = spark.createDataFrame(
        [(i, "en", "w " * 40) for i in range(10)], ["doc_id", "lang", "text"]
    )
    rows = {r["doc_id"]: r for r in SP.pack_token_budget(df, 100, "lang").collect()}
    assert all(r["n_tokens"] == 40 for r in rows.values())
    # running starts 0,40,80,120,... → bins 0,0,0,1,1,2,2,2,3,3
    assert [rows[i]["bin"] for i in range(10)] == [0, 0, 0, 1, 1, 2, 2, 2, 3, 3]


def test_approx_distinct_within_rsd(spark):
    """The HLL++ sketch column must sit within 5% of its exact twin for
    every group (rsd=0.02 → 5% is a comfortable bound)."""
    import __spark_entry__ as E

    rows = E.q_approx_distinct(spark, "/root/testdata/sf0.01").collect()
    assert len(rows) > 0
    for r in rows:
        assert abs(r["approx_users"] - r["exact_users"]) <= 0.05 * r["exact_users"], r


def test_merge_upsert_latest_wins_and_tiebreak(spark):
    from crawlspark.operators import merge as M

    base = spark.createDataFrame(
        [(1, 1, "a"), (2, 1, "b")], ["k", "v", "s"]
    )
    upd = spark.createDataFrame(
        [(1, 2, "a2"), (3, 1, "c")], ["k", "v", "s"]
    )
    out = {
        r["k"]: (r["v"], r["s"])
        for r in M.merge_upsert(base, upd, ["k"], "v").collect()
    }
    # update wins on key 1, untouched base survives, new key inserts
    assert out == {1: (2, "a2"), 2: (1, "b"), 3: (1, "c")}

    # version collision: the tiebreak column decides deterministically
    clash = spark.createDataFrame(
        [(9, 5, "low"), (9, 5, "zzz")], ["k", "v", "s"]
    )
    got = M.latest_wins(clash, ["k"], "v", tiebreak="s").collect()
    assert len(got) == 1 and got[0]["s"] == "zzz"


def test_passage_dedup_first_occurrence_wins(spark):
    # window=2: P1="a b", P2="c d", P3="e f" (and a tail passage "g")
    docs = spark.createDataFrame(
        [
            (1, "a b c d"),        # P1 P2 — first occurrences, all kept
            (2, "a b e f"),        # P1 dup (doc 1 pos 0), "e f" fresh
            (3, "c d"),            # P2 dup — everything dropped
            (4, "e f a b g"),      # both dups + fresh tail "g"
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["n_passages"], r["n_kept"], r["clean_text"])
        for r in DD.passage_dedup(docs, "doc_id", "text", window=2).collect()
    }
    assert out == {
        1: (2, 2, "a b c d"),
        2: (2, 1, "e f"),
        3: (1, 0, ""),
        4: (3, 1, "g"),
    }


def test_sample_weighted_ares_exact(spark):
    import hashlib
    import math

    from crawlspark.operators import sampling as SP

    rows = [(i, (i % 7) + 1) for i in range(50)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    got = SP.sample_weighted(df, "w", k=10, id_col="doc_id").collect()

    def pr(i, w):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
        return math.log((h % 1_000_000 + 0.5) / 1_000_000) / w

    want = sorted(rows, key=lambda r: (-pr(*r), r[0]))[:10]
    assert {r["doc_id"] for r in got} == {i for i, _ in want}
    for r in got:
        assert abs(r["priority"] - pr(r["doc_id"], r["w"])) < 1e-9

    # zero/negative weights never qualify
    df2 = spark.createDataFrame([(1, 0), (2, -3), (3, 5)], ["doc_id", "w"])
    assert [r["doc_id"] for r in SP.sample_weighted(df2, "w", k=3).collect()] == [3]


def test_cms_overestimates_and_tracks_exact(spark):
    from crawlspark.operators import sketches as SK

    docs = spark.createDataFrame(
        [(i, "alpha " * (i % 5 + 1) + "beta gamma") for i in range(40)],
        ["doc_id", "text"],
    )
    got = {r["word"]: (r["exact_n"], r["cms_n"])
           for r in SK.cms_heavy_hitters(docs, "text", k=3).collect()}
    assert set(got) == {"alpha", "beta", "gamma"}
    assert got["beta"][0] == 40 and got["gamma"][0] == 40
    assert got["alpha"][0] == sum(i % 5 + 1 for i in range(40))
    # CMS one-sided error: estimates never undercount
    assert all(cms >= exact for exact, cms in got.values())


def test_mix_sources_targets_caps_and_determinism(spark):
    from crawlspark.operators import sampling as SP
    from pyspark.sql import functions as F

    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source"),
    )  # 100 docs per source s0/s1/s2
    w = {"s0": 0.5, "s1": 0.5, "s2": 0.0}
    picked = SP.mix_sources(docs, w, budget=80, source_col="source")
    rows = picked.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    # unlisted/zero-weight source contributes nothing
    assert "s2" not in by_src
    # targets: 40 each at rate 400000/1e6 — realized counts are the
    # hash-binomial draw, so allow slack but require rough proportion
    assert 25 <= len(by_src["s0"]) <= 55 and 25 <= len(by_src["s1"]) <= 55
    # oversubscribed source caps at keep-all
    cap = SP.mix_sources(docs, {"s0": 1.0}, budget=10_000, source_col="source")
    assert cap.count() == 100
    assert cap.select("rate_micro").first()["rate_micro"] == 1_000_000
    # deterministic under repartition
    again = {
        r["doc_id"]
        for r in SP.mix_sources(docs.repartition(17), w, 80, "source").collect()
    }
    assert again == {r["doc_id"] for r in rows}


def test_substring_dedup_matches_pure_python_reference(spark):
    """substring_dedup == a brute-force pure-Python implementation of the
    same spec (stride-1 L-token spans, global keep-first by (doc_id, pos),
    interval merge, strip) on planted boilerplate: first occurrence kept,
    later occurrences stripped at any alignment, within-doc repeats
    stripped too, short docs untouched."""
    L = 20
    boiler = " ".join(f"tok{i}" for i in range(30))
    uniq = lambda d, n: " ".join(f"u{d}x{i}" for i in range(n))
    docs = [
        (1, uniq(1, 5) + " " + boiler + " " + uniq(1, 7)),
        (2, uniq(2, 3) + " " + boiler + " " + uniq(2, 4)),  # shifted copy
        (3, boiler),                                         # whole doc dup
        (4, uniq(4, 40)),                                    # untouched
        (5, "short doc only"),                               # n < L
        (6, uniq(6, 6) + " " + boiler + " mid " + boiler),  # self-dup
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in DD.substring_dedup(df, "doc_id", "text", min_len=L).collect()
    }

    toksd = {d: t.lower().split() for d, t in docs}
    first = {}
    for d in sorted(toksd):
        t = toksd[d]
        for p in range(len(t) - L + 1):
            s = " ".join(t[p : p + L])
            first.setdefault(s, (d, p))
    for d in sorted(toksd):
        t = toksd[d]
        ivs = [
            (p, p + L)
            for p in range(len(t) - L + 1)
            if first[" ".join(t[p : p + L])] != (d, p)
        ]
        merged = []
        for s_, e_ in sorted(ivs):
            if merged and s_ <= merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], e_))
            else:
                merged.append((s_, e_))
        removed = {i for s_, e_ in merged for i in range(s_, e_)}
        clean = " ".join(t[i] for i in range(len(t)) if i not in removed)
        r = out[d]
        assert (
            r["n_tokens"],
            r["n_dup_spans"],
            r["n_removed"],
            r["clean_text"],
        ) == (len(t), len(merged), sum(e_ - s_ for s_, e_ in merged), clean), d
    # the spec's headline properties, asserted explicitly
    assert out[1]["n_removed"] == 0          # first occurrence kept
    assert out[2]["n_removed"] == 30         # shifted copy fully stripped
    assert out[3]["clean_text"] == ""        # whole-doc dup -> empty
    assert out[6]["n_dup_spans"] == 2        # two separate stripped regions


def test_substring_dedup_rolling_hash_equivalence(spark):
    """The rolling-hash scale path (JVM xxhash64 tokens + vectorized
    Rabin-Karp window hashes, no span strings) produces row-identical
    output to the md5 span-text path on real corpus data."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    md5_rows = sorted(
        map(tuple, DD.substring_dedup(docs, "doc_id", "text", 20).collect())
    )
    roll_rows = sorted(
        map(
            tuple,
            DD.substring_dedup(
                docs, "doc_id", "text", 20, hasher="rolling"
            ).collect(),
        )
    )
    assert md5_rows == roll_rows
    assert any(r[3] > 0 for r in md5_rows), "corpus has no duplicated spans"
    # id-type genericity: the scale path must accept non-integer keys
    # (e.g. URL-keyed corpora), matching the md5 path
    sdocs = docs.selectExpr("concat('u', doc_id) as doc_id", "text")
    s_md5 = sorted(map(tuple, DD.substring_dedup(sdocs, "doc_id", "text", 20).collect()))
    s_roll = sorted(
        map(
            tuple,
            DD.substring_dedup(
                sdocs, "doc_id", "text", 20, hasher="rolling"
            ).collect(),
        )
    )
    assert s_md5 == s_roll


def test_cluster_split_never_straddles_near_dup_pairs(spark):
    """Every near-dup pair (and hence every connected component) lands
    wholly in train or wholly in test; the draw is a pure function of
    the component id (re-run identical); the test fraction is near the
    requested rate over components."""
    from crawlspark.operators.sampling import cluster_split

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    clustered = DD.dedup_clusters(docs, "doc_id", "text", 3, 0.8).select(
        "doc_id", "component"
    )
    out = cluster_split(clustered, test_frac=0.3).collect()
    split_of = {r["doc_id"]: r["split"] for r in out}
    comp_of = {r["doc_id"]: r["component"] for r in out}
    # one split value per component
    by_comp = {}
    for r in out:
        by_comp.setdefault(r["component"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_comp.values())
    # no near-dup pair straddles
    pairs = DD.minhash_lsh_pairs(docs, "doc_id", "text", 3, 0.8).collect()
    assert pairs, "corpus has no near-dup pairs to exercise the property"
    for p in pairs:
        assert split_of[p["id_a"]] == split_of[p["id_b"]]
        assert comp_of[p["id_a"]] == comp_of[p["id_b"]]
    # deterministic re-run
    again = {r["doc_id"]: r["split"] for r in cluster_split(
        clustered, test_frac=0.3).collect()}
    assert again == split_of
    frac = sum(1 for s in by_comp.values() if s == {"test"}) / len(by_comp)
    assert 0.15 < frac < 0.45, frac


def test_chunk_documents_covers_every_token_with_overlap(spark):
    """Chunks start every (chunk - overlap) tokens, consecutive chunks
    share exactly `overlap` tokens, the tail is covered, no chunk is
    empty, and re-concatenating the non-overlapped prefixes rebuilds
    the document."""
    from crawlspark.operators.textstats import chunk_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    chunk, ov = 32, 8
    rows = chunk_documents(docs, "doc_id", "text", chunk, ov).collect()
    import re

    tok_re = re.compile(r"[^a-z0-9]+")
    texts = {
        r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()
    }
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    stride = chunk - ov
    for doc_id, text in texts.items():
        words = [w for w in tok_re.split(text.lower()) if w]
        got = sorted(by_doc.get(doc_id, []), key=lambda r: r["chunk_pos"])
        if not words:
            assert not got
            continue
        n = len(words)
        expect_k = max(1, -(-(n - chunk) // stride) + 1)
        assert len(got) == expect_k, (doc_id, n, len(got), expect_k)
        for r in got:
            ctoks = r["chunk_text"].split()
            assert r["start"] == r["chunk_pos"] * stride
            assert len(ctoks) == r["n_chunk_tokens"] == min(chunk, n - r["start"])
            # each chunk is exactly the token-slice at its start — so
            # consecutive chunks share exactly `ov` tokens and their
            # union covers [0, n)
            assert ctoks == words[r["start"]:r["start"] + chunk]
        assert got[-1]["start"] + got[-1]["n_chunk_tokens"] == n  # tail covered


def test_dsir_weights_short_docs(spark):
    """Docs tokenizing to 0 or 1 tokens must not crash the bigram
    feature builder (ANSI element_at on the descending sequence(1,0))
    and must come back with n_feats >= 0 / finite log_weight — web
    crawls routinely contain empty and punctuation-only pages."""
    from crawlspark.operators.sampling import dsir_weights

    docs = spark.createDataFrame(
        [
            ("d0", ""),
            ("d1", "word"),
            ("d2", "!!! ..."),
            ("d3", "two tokens here and more to weight"),
            ("d4", "two tokens here and more to weight again"),
        ],
        "doc_id string, text string",
    )
    out = {r["doc_id"]: r for r in dsir_weights(docs, docs).collect()}
    assert set(out) == {"d0", "d1", "d2", "d3", "d4"}
    assert out["d0"]["n_feats"] == 0 and out["d0"]["log_weight"] == 0.0
    assert out["d2"]["n_feats"] == 0 and out["d2"]["log_weight"] == 0.0
    assert out["d1"]["n_feats"] == 1  # one unigram, no bigram
    assert out["d3"]["n_feats"] > 1


def test_word_ngrams_short_token_arrays(spark):
    """word_ngrams returns [] (not a crash) when size(toks) < n."""
    from crawlspark.functions.text import word_ngrams

    df = spark.createDataFrame(
        [([],), (["a"],), (["a", "b"],), (["a", "b", "c"],)],
        "toks array<string>",
    )
    got = [r[0] for r in df.select(word_ngrams(F.col("toks"), 2)).collect()]
    assert got == [[], [], ["a b"], ["a b", "b c"]]
    got3 = [r[0] for r in df.select(word_ngrams(F.col("toks"), 3)).collect()]
    assert got3 == [[], [], [], ["a b c"]]


def test_dsir_weights_tilt_toward_target_stratum(spark):
    """DSIR importance weights: documents from the target stratum (en)
    must score higher on average than off-target documents — the tilt
    that makes weighted resampling select target-like data. Empty-safe:
    every source doc gets exactly one row."""
    from crawlspark.operators.sampling import dsir_weights

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = dsir_weights(docs, docs.filter(F.col("lang") == "en")).collect()
    assert len(out) == docs.count()
    langs = {r["doc_id"]: r["lang"] for r in docs.select("doc_id", "lang").collect()}
    en = [r["log_weight"] for r in out if langs[r["doc_id"]] == "en"]
    other = [r["log_weight"] for r in out if langs[r["doc_id"]] != "en"]
    assert en and other
    # normalize by features so long docs don't dominate the comparison
    per = {r["doc_id"]: r["log_weight"] / max(r["n_feats"], 1) for r in out}
    en_m = sum(per[d] for d in per if langs[d] == "en") / len(en)
    ot_m = sum(per[d] for d in per if langs[d] != "en") / len(other)
    assert en_m > ot_m, (en_m, ot_m)
