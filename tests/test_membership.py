"""Bloom seen-filter: no false negatives ever; FPR sane; OR-merge works."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawlspark.operators.membership import BloomSeenFilter


def test_no_false_negatives_and_merge(spark):
    bf = BloomSeenFilter(n_buckets=8, bits_per_key=12, expected_keys_per_bucket=2000)
    seen1 = spark.range(0, 5000).select(F.xxhash64("id").alias("url_hash"))
    seen2 = spark.range(5000, 8000).select(F.xxhash64("id").alias("url_hash"))
    state = bf.build(seen1)
    state = bf.merge(state, bf.build(seen2))

    cands = spark.range(0, 12000).select(
        F.col("id"), F.xxhash64("id").alias("url_hash")
    )
    probed = bf.probe(cands, state)
    res = {r["id"]: r["maybe_seen"] for r in probed.collect()}

    # every truly-seen key MUST probe positive (the exactness contract)
    misses = [i for i in range(8000) if not res[i]]
    assert not misses, misses[:5]
    # unseen keys mostly probe negative (fpr sanity, generous bound)
    fp = sum(1 for i in range(8000, 12000) if res[i])
    assert fp / 4000 < 0.05, fp


def test_probe_with_empty_state(spark):
    bf = BloomSeenFilter(n_buckets=4, expected_keys_per_bucket=100)
    state = bf.build(spark.range(0).select(F.xxhash64("id").alias("url_hash")))
    cands = spark.range(10).select(F.col("id"), F.xxhash64("id").alias("url_hash"))
    res = bf.probe(cands, state).collect()
    assert all(not r["maybe_seen"] for r in res)
