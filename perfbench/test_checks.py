"""Each output check accepts a correct output and rejects a corrupted one.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import copy
import os
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import checks  # noqa: E402


# -- crawl-bulk -----------------------------------------------------------
ROUNDS = 3


@pytest.fixture()
def bulk():
    """A 3-round K=1 crawl of a small frontier, popped the way the
    checks require: each key's lowest discovery_seq first."""
    doms = ["a.example", "b.example", "c.example"]
    rows = [
        (f"https://{doms[i % 3]}/p{i}", i, doms[i % 3])
        for i in range(10)  # a: 4 rows, b: 3, c: 3
    ]
    frontier = pa.table({
        "url": [r[0] for r in rows],
        "discovery_seq": pa.array([r[1] for r in rows], pa.int64()),
        "registered_domain": [r[2] for r in rows],
    })
    completed, pending = [], []
    for url, seq, dom in rows:
        rank = seq // 3  # position within its key
        row = {"url": url, "url_hash": 1000 + seq, "registered_domain": dom,
               "discovery_seq": seq}
        if rank < ROUNDS:
            completed.append(dict(row, completed_round=rank + 1, status="parsed"))
        else:
            pending.append(row)
    stats = [
        {"round_no": r, "scheduled": 3, "by_status": {"parsed": 3}}
        for r in range(1, ROUNDS + 1)
    ]
    return frontier, completed, pending, stats


def test_bulk_checks_accept_correct_output(bulk):
    frontier, completed, pending, stats = bulk
    assert checks.bulk_politeness(completed, 1) == []
    assert checks.bulk_fifo(frontier, completed, ROUNDS, 1) == []
    assert checks.bulk_conservation(frontier, pending, completed) == []
    assert checks.bulk_no_admission([0] * ROUNDS) == []
    assert checks.bulk_status_counts(stats, completed) == []


def test_politeness_rejects_two_pops_of_one_key_in_a_round(bulk):
    _, completed, _, _ = bulk
    completed[3]["completed_round"] = completed[0]["completed_round"]  # both a.example
    assert checks.bulk_politeness(completed, 1)


def test_fifo_rejects_out_of_order_pops(bulk):
    frontier, completed, _, _ = bulk
    a = [r for r in completed if r["registered_domain"] == "a.example"]
    a[0]["completed_round"], a[1]["completed_round"] = 2, 1
    assert checks.bulk_fifo(frontier, completed, ROUNDS, 1)


def test_fifo_rejects_a_skipped_key(bulk):
    frontier, completed, _, _ = bulk
    kept = [r for r in completed
            if (r["registered_domain"], r["completed_round"]) != ("c.example", 3)]
    assert checks.bulk_fifo(frontier, kept, ROUNDS, 1)


def test_conservation_rejects_lost_and_duplicated_rows(bulk):
    frontier, completed, pending, _ = bulk
    assert checks.bulk_conservation(frontier, pending[1:], completed)
    dup = pending + [copy.deepcopy(completed[0])]
    assert checks.bulk_conservation(frontier, dup, completed)


def test_no_admission_rejects_admitted_urls():
    assert checks.bulk_no_admission([0, 2, 0])


def test_status_counts_reject_mismatches(bulk):
    _, completed, _, stats = bulk
    bad_sum = copy.deepcopy(stats)
    bad_sum[1]["by_status"] = {"parsed": 2, "error": 2}
    assert checks.bulk_status_counts(bad_sum, completed)
    relabeled = copy.deepcopy(completed)
    relabeled[0]["status"] = "error"
    assert checks.bulk_status_counts(stats, relabeled)


# -- crawl-grow -----------------------------------------------------------
@pytest.fixture(scope="module")
def oracle_crawl(tmp_path_factory):
    from crawlspark import corpus as C
    from crawlspark.config import CrawlConfig
    from crawlspark.oracle import OracleCrawl

    d = str(tmp_path_factory.mktemp("corpus"))
    C.write_corpus(d, C.CorpusSpec(n_pages=60, n_domains=6, seed=5))
    ora = OracleCrawl(d, CrawlConfig(allowed_url_patterns=C.ALLOWED_PATTERNS))
    ora.run(max_rounds=4)
    # an engine output that agrees with the oracle in every respect
    fetched = {u: (dom, i) for dom, us in ora.fetch_order.items()
               for i, u in enumerate(us)}
    rows = [
        {"url": r.url, "status": r.status, "registered_domain": r.rdom,
         "completed_round": fetched[r.url][1] + 1 if r.url in fetched else None,
         "discovery_seq": r.seq}
        for r in ora.rows.values()
    ]
    return ora, rows, ora.report()


def test_oracle_check_accepts_matching_output(oracle_crawl):
    ora, rows, report = oracle_crawl
    assert checks.crawl_vs_oracle(rows, report, ora) == []


def test_oracle_check_rejects_each_corruption(oracle_crawl):
    ora, rows, report = oracle_crawl
    assert checks.crawl_vs_oracle(rows[1:], report, ora)  # seen set
    flipped = copy.deepcopy(rows)
    flipped[0]["status"] = "neardup" if rows[0]["status"] != "neardup" else "parsed"
    assert checks.crawl_vs_oracle(flipped, report, ora)  # per-URL status
    dom = next(d for d, us in ora.fetch_order.items() if len(us) >= 2)
    first, second = ora.fetch_order[dom][:2]
    swapped = copy.deepcopy(rows)
    for r in swapped:
        if r["url"] in (first, second):
            r["completed_round"] = 1 if r["url"] == second else 2
    assert checks.crawl_vs_oracle(swapped, report, ora)  # fetch order
    for key in ("unique_pages", "longest_page", "subdomains", "top_words"):
        bad = copy.deepcopy(report)
        bad[key] = (bad[key] + 1 if key == "unique_pages"
                    else bad[key][:-1] if key != "longest_page"
                    else [bad[key][0], bad[key][1] + 1])
        assert checks.crawl_vs_oracle(rows, bad, ora), key


def test_resume_check_rejects_a_stale_snapshot():
    assert checks.resumed_at(3, 3) == []
    assert checks.resumed_at(0, 3)


# -- dedup-queries --------------------------------------------------------
def _pairs(ids_b, sims, id_type=pa.int64()):
    return pa.table({
        "id_a": pa.array([1] * len(ids_b), id_type),
        "id_b": pa.array(ids_b, id_type),
        "jaccard": pa.array(sims, pa.float64()),
    })


def test_query_rows_accepts_reordered_equal_rows():
    want = _pairs([2, 3], [0.85, 0.9])
    got = _pairs([3, 2], [0.9, 0.85]).select(["jaccard", "id_b", "id_a"])
    assert checks.query_rows("q", got, want) == []


@pytest.mark.parametrize("got", [
    _pairs([2], [0.85]),                            # a row lost
    _pairs([2, 3], [0.85, 0.91]),                   # a value changed
    _pairs([2, 3], [0.85, 0.9], pa.int32()),        # a type changed
    _pairs([2, 3], [0.85, 0.9]).rename_columns(["id_a", "id_c", "jaccard"]),
])
def test_query_rows_rejects_corrupted_rows(got):
    assert checks.query_rows("q", got, _pairs([2, 3], [0.85, 0.9]))
