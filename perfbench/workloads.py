"""The three benchmark workloads. Each takes a ``Ctx`` and returns a
``Result``; the timed region starts at ``Result.first_op`` and covers only
whole operations (crawl rounds, query passes)."""

from __future__ import annotations

import os
import statistics
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import checks
import inputs


@dataclass
class Ctx:
    spark: object
    in_dir: str
    work: str
    seconds: float
    cores: int
    tracer: object | None = None

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()


@dataclass
class Result:
    first_op: float = 0.0  # epoch seconds when the first timed operation began
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    metrics: dict[str, float] = field(default_factory=dict)  # end-to-end
    extra: dict = field(default_factory=dict)  # workload-only numbers
    rounds: list[int] = field(default_factory=list)  # traced span ids measured
    passes: list[int] = field(default_factory=list)


def _du_mb(path: str) -> float:
    total = 0
    for d, _, fs in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in fs)
    return total / 1e6


def _round_spans(ctx: Ctx, t0: float, t1: float, first_round: int) -> list[int]:
    if ctx.tracer is None:
        return []
    return [
        sp.sid for sp in ctx.tracer.spans
        if sp.name == "engine.round" and t0 * 1000 <= sp.t0 <= t1 * 1000
        and sp.attrs.get("round_no", 0) >= first_round
    ]


def _crawl_metrics(rounds: list[tuple]) -> dict[str, float]:
    """Round time as the median over the measured rounds, so one round
    slowed by the host does not move a run's figure; URL rate as the mean
    batch over that median round time."""
    round_s = statistics.median(t for t, _ in rounds)
    batch = statistics.mean(r.scheduled for _, r in rounds)
    return {"round_s": round_s, "urls_per_s": batch / round_s}


# -- crawl-bulk -------------------------------------------------------------
def crawl_bulk(ctx: Ctx) -> Result:
    """Pre-filled Zipfian frontier, K=1, timed rounds, no snapshot commit."""
    from pyspark.sql import functions as F

    from crawlspark.config import CrawlConfig
    from crawlspark.engine import CrawlEngine
    from crawlspark.functions import urls as U
    from crawlspark.operators.robots import parse_robots

    spark, d, res = ctx.spark, ctx.in_dir, Result()
    pages = spark.read.parquet(f"{d}/pages.parquet").repartition(ctx.cores).persist()
    pages.count()
    fr = spark.read.parquet(f"{d}/frontier.parquet")
    frontier = fr.select(
        "url",
        U.url_hash64(F.col("url")).alias("url_hash"),
        F.lit(None).cast("string").alias("url_sha"),
        "host", "registered_domain", "path",
        F.lit(0).alias("depth"),
        F.lit("bulk").alias("src"),
        "discovery_seq",
        F.lit(0).alias("discovered_round"),
        F.lit("pending").alias("status"),
    )
    robots = spark.read.parquet(f"{d}/robots.parquet")
    cfg = CrawlConfig(
        allowed_url_patterns=(r"https?://[a-z0-9.-]*\.example(/|$)",),
        per_domain_quota=1,
        extra={"heads_mode": "table"},  # bench.py's schedule source
    )
    state = os.path.join(ctx.work, "state")
    eng = CrawlEngine(
        spark, cfg, None, state, checkpoint_interval=10**9, pages=pages,
        robots_bodies=robots,
        sitemap_xml=spark.createDataFrame([], "registered_domain string, xml string"),
    )
    eng.start_from_frontier(frontier, parse_robots(robots), next_seq=inputs.BULK_PAGES)

    res.first_op = t0 = time.time()
    secs: list[float] = []
    # round 1 pays the first-use costs (Python workers, cache fills), so a
    # run always times at least one steady round after it
    while time.time() - t0 < ctx.seconds or len(secs) < 2:
        t = time.time()
        res.attempted += 1
        if not eng.run_round():
            res.failed += 1
            res.problems.append("frontier drained before the run ended")
            break
        secs.append(time.time() - t)
    timed = time.time() - t0
    stats = eng.stats.rounds
    steady = list(zip(secs, stats))[1:]
    res.metrics = _crawl_metrics(steady)
    res.extra = {
        "state_mb": _du_mb(state),
        "round_secs": [round(x, 3) for x in secs],
        "scheduled": [r.scheduled for r in stats],
    }
    res.rounds = _round_spans(ctx, t0, t0 + timed, first_round=2)

    completed = eng.completed.select(
        "url", "url_hash", "registered_domain", "completed_round", "status",
        "discovery_seq",
    ).toArrow().to_pylist()
    pending = eng.pending.select("url", "url_hash").toArrow().to_pylist()
    front = pq.read_table(f"{d}/frontier.parquet")
    rs = [
        {"round_no": r.round_no, "scheduled": r.scheduled, "by_status": r.by_status}
        for r in stats
    ]
    res.problems += (
        checks.bulk_politeness(completed, cfg.per_domain_quota)
        + checks.bulk_fifo(front, completed, len(stats), cfg.per_domain_quota)
        + checks.bulk_conservation(front, pending, completed)
        + checks.bulk_no_admission([r.new_urls for r in stats])
        + checks.bulk_status_counts(rs, completed)
    )
    return res


# -- crawl-grow -------------------------------------------------------------
GROW_COMMIT_EVERY = 3


def _engine_rows(eng) -> tuple[list[dict], dict]:
    from crawlspark import reports as REP

    rows = eng.all_rows().select(
        "url", "status", "registered_domain", "completed_round", "discovery_seq"
    ).toArrow().to_pylist()
    return rows, REP.crawl_report(eng.all_rows(), eng.pages)


def _oracle(d: str, cfg, rounds: int):
    from crawlspark.oracle import OracleCrawl

    ora = OracleCrawl(d, cfg)
    ora.run(max_rounds=rounds)
    return ora


def crawl_grow(ctx: Ctx) -> Result:
    """Crawl from seeds over the payload corpus with a snapshot every
    GROW_COMMIT_EVERY rounds, then resume a fresh engine from the last
    snapshot and run one more round."""
    from crawlspark import corpus as C
    from crawlspark.config import CrawlConfig
    from crawlspark.engine import CrawlEngine

    spark, d, res = ctx.spark, ctx.in_dir, Result()
    cfg = CrawlConfig(allowed_url_patterns=C.ALLOWED_PATTERNS)
    state = os.path.join(ctx.work, "state")
    eng = CrawlEngine(spark, cfg, d, state, checkpoint_interval=GROW_COMMIT_EVERY)
    eng.start(resume=False)

    res.first_op = t0 = time.time()
    secs: list[float] = []
    ended = False
    # whole commit periods, so the last timed round commits a snapshot
    while not ended and (time.time() - t0 < ctx.seconds or not secs):
        for _ in range(GROW_COMMIT_EVERY):
            t = time.time()
            res.attempted += 1
            if not eng.run_round():
                res.failed += 1
                res.problems.append("crawl ended before the run did")
                ended = True
                break
            secs.append(time.time() - t)
    timed = time.time() - t0
    stats = eng.stats.rounds
    n_rounds = len(stats)
    res.rounds = _round_spans(ctx, t0, t0 + timed, first_round=1)

    rows, report = _engine_rows(eng)
    res.problems += checks.crawl_vs_oracle(rows, report, _oracle(d, cfg, n_rounds))
    eng.pages.unpersist()
    del eng

    t = time.time()
    res.attempted += 1
    e2 = CrawlEngine(spark, cfg, d, state, checkpoint_interval=GROW_COMMIT_EVERY)
    e2.start(resume=True)
    resumed = e2.round_no
    if not e2.run_round():
        res.failed += 1
    resume_s = time.time() - t
    res.problems += checks.resumed_at(resumed, n_rounds)
    rows, report = _engine_rows(e2)
    res.problems += [
        "after resume: " + p
        for p in checks.crawl_vs_oracle(rows, report, _oracle(d, cfg, resumed + 1))
    ]

    res.metrics = _crawl_metrics(list(zip(secs, stats)))
    res.extra = {
        "admitted_per_s": sum(r.new_urls for r in stats) / timed,
        "resume_s": resume_s,
        "state_mb": _du_mb(state),
        "round_secs": [round(x, 3) for x in secs],
        "scheduled": [r.scheduled for r in stats],
        "admitted": [r.new_urls for r in stats],
    }
    return res


# -- dedup-queries ----------------------------------------------------------
def dedup_queries(ctx: Ctx) -> Result:
    """Passes over the eight near-duplicate operator queries."""
    import __spark_entry__ as E

    spark, d, res = ctx.spark, ctx.in_dir, Result()
    qs = E.queries()
    want = {q: pq.read_table(f"{d}/oracle_{q}.parquet") for q in inputs.DEDUP_QUERIES}

    res.first_op = t0 = time.time()
    passes: list[float] = []
    outputs = []
    while time.time() - t0 < ctx.seconds or not passes:
        tp = time.time()
        with ctx.span("query_pass") as sp:
            for q in inputs.DEDUP_QUERIES:
                res.attempted += 1
                try:
                    with ctx.span(f"query.{q}"):
                        outputs.append((q, qs[q](spark, d).toArrow()))
                except Exception as e:  # a failing query is counted, not fatal
                    res.failed += 1
                    print(f"query {q} failed: {e!r}", file=sys.stderr)
        passes.append(time.time() - tp)
        if sp is not None:
            res.passes.append(sp.sid)
    timed = time.time() - t0
    for q, got in outputs:
        res.problems += checks.query_rows(q, got, want[q])
    res.metrics = {
        "round_s": statistics.median(passes),
        "urls_per_s": inputs.DEDUP_DOCS / statistics.median(passes),
    }
    res.extra = {"pass_secs": [round(x, 3) for x in passes]}
    return res


WORKLOADS = {
    "crawl-bulk": crawl_bulk,
    "crawl-grow": crawl_grow,
    "dedup-queries": dedup_queries,
}
