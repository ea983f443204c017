"""The crawl engine — iterated micro-batch rounds (SURVEY.md §3 E1).

One round == one politeness tick == one DataFrame DAG:

  pending → per-domain window-rank quota (K=1 == reference) →
  pre-fetch gates in the reference's pop order (depth → low-data-similar →
  error-similar → trap; crawler/worker.py:54-79) → fetch join (the corpus
  IS the web) → status routing (worker.py:89-107) → parse + min-words +
  simhash near-dup gates (worker.py:115-137) → link/redirect discovery →
  vectorized admission (frontier.py:114-155) → state update.

State lives in five parquet-backed tables (pending / completed / bad /
fingerprints / rules), ALL maintained as O(delta) appends per round:
completed/bad/fingerprints are append-only parts, and pending is base
parts + popped-key tombstones (merge-on-read; see the ``pending``
property) compacted only at snapshot commits. An icelite snapshot is
committed every ``checkpoint_interval`` rounds (resume = load the
latest snapshot; per-partition lineage + fetch/parse metrics ride in
the manifest — the north_rule surface).

Suppression semantics bridge (frozen; SURVEY.md §7 "hard parts"): the
bad-URL and simhash similarity gates evaluate against state AS OF ROUND
START — the reference's sequential loop interleaves updates mid-"round",
the batch engine can't; with K=1/domain/round the observable difference
is confined to same-round cross-domain discoveries. The conformance
oracle (crawlspark.oracle) implements the identical round semantics.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawlspark.config import BROADCAST_ROWS, CrawlConfig
from crawlspark.functions import traps
from crawlspark.functions import urls as U
from crawlspark.icelite import IceliteCatalog
from crawlspark.operators import admission as ADM
from crawlspark.operators import badurls as BAD
from crawlspark.operators import fetch as FE
from crawlspark.operators.membership import BloomSeenFilter
from crawlspark.operators.schedule import schedule_round

FRONTIER_FIELDS = [
    ("url", T.StringType()),
    ("url_hash", T.LongType()),
    ("url_sha", T.StringType()),
    ("host", T.StringType()),
    ("registered_domain", T.StringType()),
    ("path", T.StringType()),
    ("depth", T.IntegerType()),
    ("src", T.StringType()),
    ("discovery_seq", T.LongType()),
    ("discovered_round", T.IntegerType()),
    ("status", T.StringType()),
]
COMPLETED_EXTRA = [
    ("completed_round", T.IntegerType()),
    ("total_words", T.IntegerType()),
    ("n_distinct_words", T.IntegerType()),
]
# closed set of terminal statuses: the pop-order gates in run_round plus
# every route route_verdict emits (operators/fetch.py:113-135); used by
# the Observation-based per-status counts, cross-checked against _total
STATUS_VALUES = (
    "depth_skip",
    "lowdata_similar_skip",
    "error_similar_skip",
    "trap_skip",
    "neardup",
    "parsed",
    "fetch_error",
    "redirect",
    "error",
    "empty",
    "skipped_large",
    "skipped_type",
    "low_data",
)
# driver-side known-domain cache budget (see CrawlEngine._known_doms)
KNOWN_DOMAINS_CACHE_LIMIT = 1_000_000
# tombstone parts that trigger a pending compaction between snapshots
PENDING_COMPACT_PARTS = 64
# HEADS table budget in rounds: B = quota × HEADS_REFRESH_ROUNDS rows per key
HEADS_REFRESH_ROUNDS = 8


def _schema(fields) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


def _pq_rows(path: str) -> int | None:
    """Row count from local parquet footers — zero Spark jobs. Returns
    None when the path isn't a local readable parquet dir (cluster
    storage → caller falls back to df.count())."""
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return None
    total = 0
    try:
        for dirpath, _, fnames in os.walk(path):
            for fn in fnames:
                if fn.endswith(".parquet"):
                    total += pq.ParquetFile(os.path.join(dirpath, fn)).metadata.num_rows
    except Exception:
        return None
    return total


def fast_count(df: DataFrame) -> int:
    """Count a frame returned by the engine's materializers without a
    Spark job (parquet footer metadata); any other frame falls back to
    a normal count(). Shaves ~4 driver round-trips per crawl round."""
    path = getattr(df, "_crawlspark_path", None)
    if path is not None:
        n = _pq_rows(path)
        if n is not None:
            return n
    return df.count()


FRONTIER_SCHEMA = _schema(FRONTIER_FIELDS)
COMPLETED_SCHEMA = _schema(FRONTIER_FIELDS + COMPLETED_EXTRA)
BAD_SCHEMA = _schema(
    [
        ("url", T.StringType()),
        ("host", T.StringType()),
        ("kind", T.StringType()),
        ("sim_tokens", T.ArrayType(T.StringType())),
    ]
)
FP_SCHEMA = _schema([("url_hash", T.LongType()), ("simhash", T.LongType())])
RULES_SCHEMA = _schema(
    [
        ("registered_domain", T.StringType()),
        ("rule_type", T.StringType()),
        ("value", T.StringType()),
        ("rule_pos", T.IntegerType()),
    ]
)


@dataclass
class RoundStats:
    round_no: int
    scheduled: int
    new_urls: int
    by_status: dict[str, int]
    seconds: float
    # schedule-scan telemetry (HEADS table): parts/rows the schedule
    # actually read vs the full frontier
    sched_scan: dict | None = None


@dataclass
class CrawlStats:
    rounds: list[RoundStats] = field(default_factory=list)

    @property
    def total_scheduled(self) -> int:
        return sum(r.scheduled for r in self.rounds)


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        config: CrawlConfig,
        corpus_dir: str | None,
        state_dir: str,
        checkpoint_interval: int = 5,
        pace_wallclock: bool = False,
        pages: DataFrame | None = None,
        robots_bodies: DataFrame | None = None,
        sitemap_xml: DataFrame | None = None,
    ):
        self.spark = spark
        self.config = config
        self.corpus_dir = corpus_dir
        self._pages_df = pages
        self._robots_df = robots_bodies
        self._sitemaps_df = sitemap_xml
        self.catalog = IceliteCatalog(state_dir)
        self.scratch_dir = os.path.join(state_dir, "scratch")
        os.makedirs(self.scratch_dir, exist_ok=True)
        self._state_ver: dict[str, int] = {}
        self._delta_ver: dict[str, int] = {}
        self._state_parts: dict[str, list[str]] = {}
        # delta-path allocation is shared between the round's background
        # delta writes and admission's own (concurrent) delta writes
        import threading

        self._delta_lock = threading.Lock()
        # opt-in membership pre-filter for the seen anti-join (OR-merged
        # bloom bitarrays; no false negatives, so the seen set is exact)
        self.bloom = (
            BloomSeenFilter(
                n_buckets=config.frontier_buckets,
                bits_per_key=config.bloom_bits_per_key,
                expected_keys_per_bucket=int(config.extra.get("bloom_keys_per_bucket", 100_000)),
            )
            if config.extra.get("use_bloom")
            else None
        )
        self.bloom_state: DataFrame | None = None
        self.checkpoint_interval = checkpoint_interval
        self.pace_wallclock = pace_wallclock
        self.stats = CrawlStats()
        # grow-forever memories: once past the broadcast budget the
        # similarity joins degrade to shuffled hash joins (scale guard)
        self._n_bad_total = 0
        # forced-broadcast budget for the per-round scheduled batch (fetch
        # join + near-dup probe) and the bad-URL memory: the batch is
        # O(#ready-keys) rows at K=1 — multi-GB at 10^8+ domains, so past
        # the budget those joins shuffle instead
        self._broadcast_rows = BROADCAST_ROWS
        # driver-side known-domain cache: lets admission answer "any new
        # domains in this batch?" with zero Spark jobs in steady state;
        # disabled (None) past the budget — the relational anti-join path
        # is the semantics either way
        self._known_doms: set | None = set()
        # politeness key (reference keys its queues + robots cache on
        # netloc, crawler/frontier.py:42/:136-141; registered_domain is the
        # stricter default that also covers subdomain-farm abuse)
        self._key_col = (
            "host" if config.extra.get("politeness_key") == "netloc"
            else "registered_domain"
        )
        # opt-in politeness holds (default OFF — the reference has
        # neither, and conformance schedules must stay byte-identical).
        # Both rules say "this key may not be scheduled until round X"
        # and share one (bkey, until_round) blocked-keys table: a key is
        # blocked in round r iff some row has until_round >= r. It is
        # rewritten once per round (_update_blocked_state, O(#blocked
        # keys), expired rows dropped) and rides snapshots as
        # `blocked_state`. The pure-Python oracle mirrors both rules, so
        # full fetch-order conformance holds with either flag on
        # (tests/test_crawl_delay.py, tests/test_backoff.py).
        # - robots Crawl-delay, extra["respect_crawl_delay"]: a key
        #   scheduled in round r whose domain asks for delay_rounds =
        #   ceil(Crawl-delay / politeness_delay_s) > 1 is held through
        #   round r + delay_rounds - 1.
        # - error circuit breaker, extra["error_backoff"] =
        #   {"threshold": E, "rounds": B}: a key with >= E HTTP >= 500
        #   results in round r (server distress — page-level 4xx never
        #   trips it) is held through round r + B.
        self._respect_crawl_delay = bool(config.extra.get("respect_crawl_delay"))
        eb = config.extra.get("error_backoff")
        self._backoff: tuple[int, int] | None = (
            (int(eb["threshold"]), int(eb["rounds"])) if eb else None
        )
        self._blocked_state: DataFrame | None = None
        # opt-in priority scheduling (the north_star's "priority queue
        # realized as window-ranked micro-batches", end-to-end in the
        # engine): extra["priority_col"] names a pending column ranked
        # ASC before discovery_seq within each politeness key — e.g.
        # "depth" schedules shallow URLs first. Default None keeps the
        # reference's pure FIFO (conformance schedules byte-identical).
        self._priority_col: str | None = config.extra.get("priority_col")
        # per-key HEADS table, the schedule source: each politeness key's
        # B = quota × _heads_refresh_rounds first pending rows in schedule
        # order, so a politeness tick reads O(#keys × B) rows regardless
        # of frontier depth or file layout (the north_rule's 10^10 URLs
        # over 10^7 domains). Admissions since the last build ride the
        # scan as delta parts; pops are anti-joined; a full rebuild (one
        # frontier pass, amortized 1/refresh per round) runs only when
        # accumulated tombstone parts could invalidate a key's whole
        # budget, or after compaction/snapshot rewrites the base.
        self._heads_refresh_rounds = HEADS_REFRESH_ROUNDS
        self._heads_df: DataFrame | None = None
        self._heads_popped_idx = 0
        self._heads_pending_idx = 0
        self._load_corpus()

    # ------------------------------------------------------------------
    def _load_corpus(self) -> None:
        s = self.spark
        if self._pages_df is not None:
            pages = self._pages_df
        elif self.corpus_dir is None:
            # live-HTTP mode (extra['fetch_mode']='http'): no corpus tables;
            # robots/sitemaps must be passed in (or stay empty)
            self.pages = None
            self.pages_bucketed = False
            self.robots_bodies = self._robots_df if self._robots_df is not None else s.createDataFrame(
                [], "registered_domain string, body string"
            )
            self.sitemap_xml = self._sitemaps_df if self._sitemaps_df is not None else s.createDataFrame(
                [], "registered_domain string, url string, xml string"
            )
            return
        else:
            pages = s.read.parquet(f"{self.corpus_dir}/pages.parquet")
        # index the corpus once by the engine's scheme-excluded 64-bit key
        pages_keyed = pages.withColumn(
            "page_hash", U.url_hash64(U.canonicalize(F.col("canonical_url")))
        ).select(
            "page_hash", "status", "redirect_to", "content_type",
            "content_length", "caption", "out_links", "canonical_url",
        )
        self.pages_bucketed = bool(self.config.extra.get("bucket_pages"))
        if self.pages_bucketed:
            # Hash-bucketed layout (icelite-style): pages written ONCE
            # partitioned by pbucket = pmod(page_hash, frontier_buckets).
            # Each round's fetch join filters on the buckets the scheduled
            # keys actually touch → partition pruning at the scan (at 100 TB
            # this is the difference between re-reading the corpus every
            # politeness round and reading only the touched fraction).
            b = self.config.frontier_buckets
            path = os.path.join(self.catalog.root, "pages_bucketed")
            if not os.path.exists(os.path.join(path, "_SUCCESS")):
                pages_keyed.withColumn(
                    "pbucket", F.pmod(F.col("page_hash"), F.lit(b)).cast("int")
                ).write.partitionBy("pbucket").mode("overwrite").parquet(path)
            # persist: locally the pruned scan hits the cache (per-batch
            # stats pruning); on a real cluster drop the persist and the
            # same plan prunes parquet partitions
            self.pages = s.read.parquet(path).persist()
        else:
            self.pages = pages_keyed.persist()
        if self._robots_df is not None:
            self.robots_bodies = self._robots_df.persist()
        else:
            self.robots_bodies = s.read.parquet(f"{self.corpus_dir}/robots.parquet").select(
                F.col("domain").alias("registered_domain"), "body"
            ).persist()
        if self._sitemaps_df is not None:
            self.sitemap_xml = self._sitemaps_df
        else:
            self.sitemap_xml = s.read.parquet(f"{self.corpus_dir}/sitemaps.parquet").select(
                F.col("domain").alias("registered_domain"), "url", "xml"
            ).persist()

    def _empty(self, schema: T.StructType) -> DataFrame:
        return self.spark.createDataFrame([], schema)

    # -- materialization ------------------------------------------------
    # Intermediates and state are pinned to Parquet scratch files instead
    # of localCheckpoint: plans stay flat forever, nothing accumulates in
    # the session (profiling showed in-session RDD/broadcast buildup
    # degrading driver planning 20-50x after a few rounds), and every
    # round boundary is trivially resumable — which is the icelite model
    # anyway. Scratch from two rounds ago is deleted each round.
    def _mat(self, df: DataFrame, name: str, single: bool = False) -> DataFrame:
        # repartition(1), NOT coalesce(1): coalesce collapses the upstream
        # plan to one task (a pandas UDF would run serially); repartition
        # keeps upstream parallel and only funnels the small result.
        path = os.path.join(self.scratch_dir, f"r{self.round_no:06d}", name)
        (df.repartition(1) if single else df).write.mode("overwrite").parquet(path)
        out = self.spark.read.parquet(path)
        out._crawlspark_path = path
        return out

    def _mat_state(self, df: DataFrame, name: str, single: bool = False) -> DataFrame:
        """Full-rewrite state table (pending). Versions independently of
        rounds; keeps the previous version for in-flight plans and deletes
        older ones."""
        import shutil

        ver = self._state_ver.get(name, -1) + 1
        self._state_ver[name] = ver
        path = os.path.join(self.scratch_dir, "state", name, f"v{ver:06d}")
        (df.repartition(1) if single else df).write.mode("overwrite").parquet(path)
        old = os.path.join(self.scratch_dir, "state", name, f"v{ver - 2:06d}")
        shutil.rmtree(old, ignore_errors=True)
        out = self.spark.read.parquet(path)
        out._crawlspark_path = path
        return out

    def _alloc_delta_path(self, name: str) -> str:
        """Reserve the next delta file path for a state table. Lock-
        serialized: the round's background delta writes and admission's
        own delta writes may allocate concurrently."""
        with self._delta_lock:
            dirp = os.path.join(self.scratch_dir, "state", name)
            if name not in self._delta_ver:
                # resume safety: never overwrite a delta dir a previous
                # run's manifest may reference
                self._delta_ver[name] = (
                    len(os.listdir(dirp)) if os.path.isdir(dirp) else 0
                )
            ver = self._delta_ver[name]
            self._delta_ver[name] = ver + 1
            return os.path.join(dirp, f"d{ver:06d}")

    def _append_state_delta(self, delta: DataFrame, name: str, single: bool = True) -> DataFrame:
        """Append-only state table (completed / bad / fingerprints): write
        ONLY the round's delta — O(delta) per round instead of an O(total)
        rewrite. The icelite manifest references delta files without
        rewriting them (Iceberg append-commit semantics). Returns the
        materialized delta alone; read the full table via _state_table."""
        path = self._alloc_delta_path(name)
        (delta.repartition(1) if single else delta).write.mode("overwrite").parquet(path)
        self._state_parts.setdefault(name, []).append(path)
        out = self.spark.read.parquet(path)
        out._crawlspark_path = path
        return out

    def _append_state_deltas_async(self, items: list[tuple[DataFrame, str, bool]]):
        """Kick the delta writes off in background threads and return a
        join() callable that registers the parts (or raises). Lets the
        caller overlap the writes with other driver work (run_round
        overlaps the popped/bad/fingerprints deltas with admission, which
        touches only the pending/completed tables and never reads these
        three mid-round). On failure every allocated-but-unregistered
        delta dir is removed best-effort, so no orphan parquet dirs
        accumulate in state/ (the exception still aborts the round)."""
        if not items:
            out = lambda: None
            out.paths = []
            return out
        alloc = [
            (delta.repartition(1) if single else delta, name, self._alloc_delta_path(name))
            for delta, name, single in items
        ]
        from concurrent.futures import ThreadPoolExecutor

        sc = self.spark.sparkContext

        def write(t):
            # background pool: under FAIR scheduling the overlapped
            # critical-path jobs (admission) share task slots with these
            # writes instead of FIFO-queueing behind them (pinned-thread
            # mode gives each Python thread its own JVM thread, so the
            # local property scopes to this write only)
            sc.setLocalProperty("spark.scheduler.pool", "crawlspark_bg")
            t[0].write.mode("overwrite").parquet(t[2])

        ex = ThreadPoolExecutor(max_workers=len(alloc))
        futs = [ex.submit(write, t) for t in alloc]
        ex.shutdown(wait=False)

        def join() -> None:
            err = None
            for f in futs:
                try:
                    f.result()
                except Exception as e:  # keep draining so all writes settle
                    err = err or e
            if err is not None:
                import shutil

                for _, _, path in alloc:
                    shutil.rmtree(path, ignore_errors=True)
                raise err
            for _, name, path in alloc:
                self._state_parts.setdefault(name, []).append(path)

        join.paths = [path for _, _, path in alloc]
        return join

    def _state_table(self, name: str, schema: T.StructType) -> DataFrame:
        parts = self._state_parts.get(name)
        if not parts:
            return self._empty(schema)
        return self.spark.read.parquet(*parts)

    @property
    def completed(self) -> DataFrame:
        return self._state_table("completed", COMPLETED_SCHEMA)

    @property
    def bad(self) -> DataFrame:
        return self._state_table("bad", BAD_SCHEMA)

    @property
    def fingerprints(self) -> DataFrame:
        return self._state_table("fingerprints", FP_SCHEMA)

    # -- pending frontier: base parts + popped tombstones ----------------
    # The frontier of record is append-only between snapshots: admitted
    # rows land as O(delta) parquet parts ('pending'), scheduled keys as
    # tombstone parts ('popped'), and the readable frontier is
    # base ⟕̸ tombstones (anti-join; AQE broadcasts the small tombstone
    # side). A full O(frontier) rewrite happens only at compaction —
    # snapshot commits, or when tombstone parts pile up — never per
    # round. This is Iceberg's merge-on-read delete-file model, which is
    # the only write pattern that survives a 10^10-row frontier.
    @property
    def pending(self) -> DataFrame:
        base = self._state_table("pending", FRONTIER_SCHEMA)
        tombs = self._state_parts.get("popped")
        if not tombs:
            return base
        t = self.spark.read.parquet(*tombs).select("url_hash")
        return base.join(t, "url_hash", "left_anti")

    def _pending_rows_estimate(self) -> int:
        """Upper bound on pending rows from local parquet footers (tombs
        not subtracted); 0 when footers aren't locally readable."""
        total = 0
        for p in self._state_parts.get("pending", []):
            n = _pq_rows(p)
            if n:
                total += n
        return total

    def _compact_pending(self) -> None:
        """Fold tombstones into a single base part (O(frontier), run at
        tombstone pile-up only; snapshot commits compact on their own)."""
        if not self._state_parts.get("popped") and len(
            self._state_parts.get("pending", [])
        ) <= 1:
            return
        self._append_state_delta(self.pending, "pending", single=False)
        self._state_parts["pending"] = [self._state_parts["pending"][-1]]
        self._state_parts["popped"] = []
        # the parts list was rewritten — the HEADS table's delta/tombstone
        # indexes are stale; force a rebuild on the next schedule tick
        self._heads_df = None

    def _heads_budget(self) -> int:
        return self.config.per_domain_quota * self._heads_refresh_rounds

    def _rebuild_heads(self) -> None:
        """(Re)build the HEADS table: each politeness key's first B
        SURVIVING pending rows in schedule order (one full-frontier top-B
        pass — the salted two-phase window schedule_round uses for K>1,
        so hot keys never funnel one partition). Runs at most once per
        refresh window and after any pending-base rewrite, so its
        O(frontier) cost is amortized 1/refresh per tick while every
        tick's scan is O(#keys × B)."""
        self._heads_df = self._mat_state(
            schedule_round(
                self.pending, self._heads_budget(), self._key_col,
                order_col=self._priority_col,
            ),
            "heads",
            single=False,
        )
        self._heads_popped_idx = len(self._state_parts.get("popped", []))
        self._heads_pending_idx = len(self._state_parts.get("pending", []))

    def _pending_for_schedule(self) -> tuple[DataFrame, dict]:
        """The frame schedule_round scans this round: HEADS ∪ admission-
        deltas-since-build, minus tombstones-since-build. Returns (frame,
        telemetry). Correctness: pops remove at most quota rows per key
        per popped part, so while (parts_since + 1) × quota ≤ B every
        key's surviving top-quota is within its B build-time heads (∪ the
        deltas) — past that bound the table is rebuilt first. This holds
        for any fixed per-row order, FIFO or priority. A key with fewer
        than B rows at build time had ALL of them in HEADS, so drained
        keys terminate identically to the full scan."""
        popped = self._state_parts.get("popped", [])
        p_since = len(popped) - self._heads_popped_idx
        if (
            self._heads_df is None
            or (p_since + 1) * self.config.per_domain_quota > self._heads_budget()
        ):
            self._rebuild_heads()
            popped = self._state_parts.get("popped", [])
        frame = self._heads_df
        deltas = self._state_parts.get("pending", [])[self._heads_pending_idx:]
        if deltas:
            frame = frame.unionByName(
                self.spark.read.parquet(*deltas).select(*frame.columns)
            )
        tombs = popped[self._heads_popped_idx:]
        if tombs:
            t = self.spark.read.parquet(*tombs).select("url_hash")
            frame = frame.join(t, "url_hash", "left_anti")
        heads_rows = _pq_rows(getattr(self._heads_df, "_crawlspark_path", "")) or 0
        delta_rows = sum(_pq_rows(p) or 0 for p in deltas)
        scanned = heads_rows + delta_rows
        total = max(self._pending_rows_estimate(), scanned)
        telemetry = {
            "mode": "table",
            # parts, not data files: the base parts are never opened at
            # all — every one counts as pruned
            "files_scanned": 1 + len(deltas),
            "files_pruned": self._heads_pending_idx,
            "base_rows_scanned": scanned,
            "base_rows_total": total,
        }
        return frame, telemetry

    # -- opt-in politeness holds (Crawl-delay, error breaker) ----------
    def _blocked_keys(self) -> DataFrame | None:
        """Politeness keys held out of this round's schedule by a
        Crawl-delay window or an error-breaker bench (None until either
        rule has written the table). O(#blocked) rows; AQE decides the
        join strategy downstream (same guard philosophy as the K=1
        heads)."""
        if self._blocked_state is None:
            return None
        return self._blocked_state.filter(
            F.col("until_round") >= F.lit(self.round_no)
        ).select(F.col("bkey").alias(self._key_col))

    def _update_blocked_state(self, s: DataFrame, routed: DataFrame) -> None:
        """One rewrite of the blocked-keys table per scheduled round: the
        keys this round's Crawl-delay windows and breaker trips hold,
        unioned with the previous rows that outlive this round, max
        until_round per key."""
        r = self.round_no
        parts: list[DataFrame] = []
        if self._respect_crawl_delay:
            # delay_rounds = ceil(Crawl-delay / politeness_delay_s) per
            # directive (the per-key max below keeps the largest; a
            # non-numeric value is NULL and holds nothing). A domain's
            # rules are fixed once it is probed, before any of its URLs
            # is pending, so this equals the oracle's read-time test
            # round_no - last_sched < delay_rounds.
            tick = float(self.config.politeness_delay_s)
            delays = self.rules.filter(F.col("rule_type") == "crawl_delay").select(
                "registered_domain",
                F.ceil(F.col("value").cast("double") / F.lit(tick)).alias("dr"),
            )
            parts.append(
                s.select(F.col(self._key_col).alias("bkey"), "registered_domain")
                .join(delays.filter(F.col("dr") > 1), "registered_domain")
                .select("bkey", (F.lit(r - 1) + F.col("dr")).cast("int").alias("until_round"))
            )
        if self._backoff is not None:
            # route == 'error' covers every non-2xx/3xx terminal; only
            # HTTP >= 500 counts toward the threshold (frozen spec)
            thresh, bench_rounds = self._backoff
            err5 = routed.filter(
                (F.col("route") == "error") & (F.col("http_status") >= 500)
            ).select("url_hash")
            parts.append(
                s.join(err5, "url_hash", "left_semi")
                .groupBy(F.col(self._key_col).alias("bkey"))
                .agg(F.count("*").alias("n_err"))
                .filter(F.col("n_err") >= thresh)
                .select("bkey", F.lit(r + bench_rounds).alias("until_round"))
            )
        if self._blocked_state is not None:
            parts.append(self._blocked_state.filter(F.col("until_round") > F.lit(r)))
        merged = parts[0]
        for p in parts[1:]:
            merged = merged.unionByName(p)
        # repartition(1) first: the single partition already satisfies
        # the per-key aggregate, so the one-file table costs one exchange
        self._blocked_state = self._mat_state(
            merged.repartition(1)
            .groupBy("bkey")
            .agg(F.max("until_round").alias("until_round")),
            "blocked",
        )

    def _gc_scratch(self) -> None:
        import shutil

        old = os.path.join(self.scratch_dir, f"r{self.round_no - 2:06d}")
        shutil.rmtree(old, ignore_errors=True)

    # ------------------------------------------------------------------
    def start(self, resume: bool = False) -> None:
        snap = self.catalog.latest() if resume else None
        if snap is not None:
            self._state_parts["pending"] = self.catalog.paths(snap, "pending")
            self._state_parts["popped"] = []
            self.rules = (
                self.catalog.load(self.spark, snap, "rules") or self._empty(RULES_SCHEMA)
            )
            if self._respect_crawl_delay or self._backoff is not None:
                # in-flight Crawl-delay windows and breaker benches
                bs = self.catalog.load(self.spark, snap, "blocked_state")
                if bs is not None:
                    self._blocked_state = self._mat_state(
                        bs, "blocked", single=True
                    )
            for name in ("completed", "bad", "fingerprints"):
                self._state_parts[name] = self.catalog.paths(snap, name)
            if self._state_parts.get("bad"):
                self._n_bad_total = self.bad.count()
            self._init_known_doms()
            self.next_seq = int(snap.meta["next_seq"])
            self.round_no = int(snap.meta["round_no"])
            if self.bloom is not None:
                # rebuild the membership filter from the resumed seen keys —
                # an empty filter would answer false negatives and re-admit
                self.bloom_state = self._mat_state(
                    self.bloom.build(self._seen_keys()), "bloom", single=True
                )
            return
        # fresh start: admit seeds (ref crawler/frontier.py:60-67)
        self.rules = self._empty(RULES_SCHEMA)
        self.next_seq = 0
        self.round_no = 0
        # seed order must be the config order (deterministic), so enumerate
        # driver-side rather than relying on partition-dependent ids
        if self.corpus_dir is not None:
            import pyarrow.parquet as pq

            seed_urls = pq.read_table(f"{self.corpus_dir}/seeds.parquet").column("url").to_pylist()
        else:
            seed_urls = list(self.config.seed_urls)
        cands = self.spark.createDataFrame(
            [(u, 0, "seed", -1, i, 0) for i, u in enumerate(seed_urls)],
            ["raw_url", "depth", "src", "parent_seq", "link_pos", "sub_pos"],
        ).withColumn("parent_seq", F.col("parent_seq").cast("long"))
        self._admit(cands)
        self._checkpoint_state()

    def start_from_frontier(self, pending: DataFrame, rules: DataFrame, next_seq: int) -> None:
        """Bulk-load a pre-built pending frontier (bench / resume-from-
        external): all robots rules pre-parsed, empty memories."""
        self.round_no = 0
        self._append_state_delta(pending, "pending", single=False)
        self.rules = rules
        self.next_seq = next_seq
        self._init_known_doms()
        self._checkpoint_state()
        if self.bloom is not None:
            self.bloom_state = self._mat_state(
                self.bloom.build(self.pending.select("url_hash")), "bloom", single=True
            )

    # ------------------------------------------------------------------
    def _init_known_doms(self) -> None:
        """Seed the cache from the rules table (resume / bulk load);
        disable it when the domain count exceeds the budget."""
        rows = (
            self.rules.select("registered_domain").distinct()
            .limit(KNOWN_DOMAINS_CACHE_LIMIT + 1).collect()
        )
        if len(rows) > KNOWN_DOMAINS_CACHE_LIMIT:
            self._known_doms = None
        else:
            self._known_doms = {r[0] for r in rows}

    def _local_values(self, df: DataFrame, col: str):
        """Cheap driver-side column read for small MATERIALIZED frames
        (local parquet); None → caller uses the distributed path."""
        path = getattr(df, "_crawlspark_path", None)
        if path is None:
            return None
        n = _pq_rows(path)
        if n is None or n > 200_000:
            return None
        import pyarrow.parquet as pq

        try:
            return pq.read_table(path, columns=[col]).column(col).to_pylist()
        except Exception:
            return None

    def _seen_keys(self) -> DataFrame:
        # raw pending parts WITHOUT the tombstone anti-join: popped rows
        # are in `completed` anyway, and seen-ness only needs a superset
        # union — one less join in the admission anti-join's plan
        return (
            self._state_table("pending", FRONTIER_SCHEMA)
            .select("url_hash")
            .union(self.completed.select("url_hash"))
        )

    def _admit(self, candidates: DataFrame) -> int:
        # unique scratch name per materialization within this round —
        # admission's fixpoint loop must never overwrite a path an earlier
        # returned DataFrame still reads from
        cnt = [0]

        def mat(df: DataFrame, name: str) -> DataFrame:
            cnt[0] += 1
            return self._mat(df, f"{name}_{cnt[0]}")

        res = ADM.admit(
            self.spark,
            candidates,
            mat,
            self._seen_keys(),
            self.rules,
            self.robots_bodies,
            self.sitemap_xml,
            self.config,
            self.next_seq,
            self.round_no,
            bloom=self.bloom,
            bloom_state=self.bloom_state,
            row_counter=fast_count,
            known_domains=self._known_doms,
            local_values=self._local_values,
            # rules rows ≈ few per domain; broadcast only while the
            # domain count is known to be under the cache budget
            broadcast_rules=self._known_doms is not None,
        )
        if res.new_rows is None:
            return 0
        rows = res.new_rows
        n = fast_count(rows)
        self.next_seq += n
        new_pending = rows.filter(F.col("status") == "pending")
        blocked = rows.filter(F.col("status") == "robots_blocked")
        # rows is materialized — when its status column is locally
        # readable, skip writing empty splits (robots_blocked is ~0 in
        # steady state: one empty-delta job saved per round); the splits
        # that do exist are independent tables and write concurrently
        statuses = self._local_values(rows, "status")
        n_blocked = statuses.count("robots_blocked") if statuses is not None else None
        deltas: list = []
        if n_blocked is None or n_blocked < n:
            deltas.append((new_pending, "pending", True))
        if n_blocked is None or n_blocked > 0:
            deltas.append(
                (
                    blocked.withColumns(
                        {
                            "completed_round": F.lit(None).cast("int"),
                            "total_words": F.lit(None).cast("int"),
                            "n_distinct_words": F.lit(None).cast("int"),
                        }
                    ),
                    "completed",
                    True,
                )
            )
        # pending/blocked deltas and the bloom-state rebuild both read
        # only the materialized `rows` parquet — overlap them
        join_deltas = self._append_state_deltas_async(deltas)
        if res.new_rules is not None:
            self.rules = self.rules.unionByName(res.new_rules)
            self._rules_dirty = True
            # admit() added every domain it probed to the cache in place
            if self._known_doms is not None and len(self._known_doms) > KNOWN_DOMAINS_CACHE_LIMIT:
                self._known_doms = None
        try:
            if self.bloom is not None:
                delta_filter = self.bloom.build(rows.select("url_hash"))
                merged = (
                    delta_filter
                    if self.bloom_state is None
                    else self.bloom.merge(self.bloom_state, delta_filter)
                )
                self.bloom_state = self._mat_state(merged, "bloom", single=True)
        finally:
            join_deltas()  # settle/register (or clean up) the delta writes
        return n

    def _checkpoint_state(self) -> None:
        # pending is delta-maintained (see the `pending` property) — only
        # rules need pinning, and only when they changed
        if getattr(self, "_rules_dirty", True):
            self.rules = self._mat_state(self.rules, "rules", single=True)
            self._rules_dirty = False
        if len(self._state_parts.get("popped", [])) >= PENDING_COMPACT_PARTS:
            self._compact_pending()

    def _commit_snapshot(self) -> None:
        tables: dict = {
            "pending": self.pending,
            "rules": self.rules,
            "completed": list(self._state_parts.get("completed", [])),
            "bad": list(self._state_parts.get("bad", [])),
            "fingerprints": list(self._state_parts.get("fingerprints", [])),
        }
        if self._blocked_state is not None:
            # in-flight Crawl-delay windows and breaker benches survive
            # resume
            tables["blocked_state"] = self._blocked_state
        snap = self.catalog.commit(
            tables,
            meta={
                "next_seq": self.next_seq,
                "round_no": self.round_no,
                "rounds": [
                    {
                        "round": r.round_no,
                        "scheduled": r.scheduled,
                        "new_urls": r.new_urls,
                        "by_status": r.by_status,
                        "seconds": r.seconds,
                        "sched_scan": r.sched_scan,
                    }
                    for r in self.stats.rounds[-self.checkpoint_interval :]
                ],
            },
        )
        # the committed pending is a clean full table → adopt it as the
        # compacted base and drop the tombstones it folded in
        self._state_parts["pending"] = self.catalog.paths(snap, "pending")
        self._state_parts["popped"] = []
        # parts list rewritten → stale HEADS-table indexes; rebuild lazily
        self._heads_df = None
        # snapshot maintenance: bounded history when configured (the
        # adopted base above is the NEW snapshot's — always survives)
        keep = self.config.extra.get("snapshot_keep_last")
        if keep:
            self.catalog.expire_snapshots(int(keep))

    # ------------------------------------------------------------------
    def run_round(self) -> bool:
        t0 = time.monotonic()
        cfg = self.config
        self.round_no += 1

        sched_src, sched_scan = self._pending_for_schedule()
        blocked = self._blocked_keys()
        if blocked is not None:
            sched_src = sched_src.join(blocked, self._key_col, "left_anti")
        sched = self._mat(
            schedule_round(
                sched_src, cfg.per_domain_quota, self._key_col,
                order_col=self._priority_col,
            ),
            "sched",
        )
        n_sched = fast_count(sched)
        if n_sched == 0:
            if blocked is not None and (
                self.pending.join(blocked, self._key_col, "left_semi")
                .limit(1)
                .count()
                > 0
            ):
                # everything pending sits inside a Crawl-delay window or
                # a breaker bench — this round is an IDLE politeness
                # tick, not termination
                dt = time.monotonic() - t0
                self.stats.rounds.append(
                    RoundStats(self.round_no, 0, 0, {}, dt, sched_scan)
                )
                if self.pace_wallclock:
                    time.sleep(max(0.0, cfg.politeness_delay_s - dt))
                self._gc_scratch()
                return True
            self.round_no -= 1
            return False

        s = sched.withColumn("sim_tokens", BAD.sim_tokens(F.col("url")))

        # pop-order gates (worker.py:54-79), against round-start bad state.
        # One broadcast join covers both bad-URL kinds; flags per url.
        # `hits` stays LAZY: its two consumers (the fetchable anti-join
        # inside the routed write, the flag join inside the statused
        # write) each evaluate the small broadcast join + agg in-job —
        # cheaper than a dedicated materialization round-trip per round.
        depth_ok = F.col("depth") <= cfg.max_depth
        rest = s.filter(depth_ok)
        if self._n_bad_total == 0:
            # no bad-URL memory yet → the similarity join is empty by
            # construction; skip the whole plan
            hits = self.spark.createDataFrame(
                [], "url string, low_hit boolean, err_hit boolean"
            )
        else:
            hits = (
                BAD.similarity_hits(
                    rest, self.bad, cfg.jaccard_threshold, cfg.jaccard_similar_count,
                    broadcast_bad=self._n_bad_total <= self._broadcast_rows,
                )
                .groupBy("url")
                .agg(
                    F.max(F.col("kind") == "low_data").alias("low_hit"),
                    F.max(F.col("kind") == "error").alias("err_hit"),
                )
            )
        fetchable = rest.join(hits, "url", "left_anti").filter(
            ~traps.is_trap(F.col("url"))
        )

        # ONE fetch+route+fingerprint materialization per round: the
        # simhash rides the routed write as a scalar Arrow UDF gated to
        # parse rows (the corpus scan happens exactly once; the former
        # routed0 → simhash-join → routed chain cost a second full write).
        # slim the broadcast side to the 4 columns fetch/discovery need —
        # sim_tokens and the other frontier columns would triple the
        # broadcast payload
        fetch_in = fetchable.select("url_hash", "url", "depth", "discovery_seq")
        bb = n_sched <= self._broadcast_rows
        if cfg.extra.get("fetch_mode") == "http":
            from crawlspark.operators import httpfetch as HF

            routed_plan = HF.live_fetch_and_route(
                fetch_in, cfg, cfg.extra.get("http_transport")
            )
        else:
            pages_src = self.pages
            if self.pages_bucketed:
                touched = [
                    r["pb"]
                    for r in sched.select(
                        F.pmod(F.col("url_hash"), F.lit(cfg.frontier_buckets))
                        .cast("int").alias("pb")
                    ).distinct().collect()
                ]
                pages_src = self.pages.filter(F.col("pbucket").isin(touched))
            # hits-only join (ONE pages scan); the fetchable count rides
            # the broadcast side so the miss-recovery job below runs only
            # when a scheduled URL actually had no corpus row
            from pyspark.sql import Observation

            obs_fetchable = Observation()
            routed_plan = FE.fetch_hits_and_route(
                fetch_in.observe(obs_fetchable, F.count(F.lit(1)).alias("n")),
                pages_src, cfg, broadcast_batch=bb,
            )
        # route_verdict emits simhash + word counts from a single Arrow
        # pass over the captions, so the plan is write-ready as-is
        parse_cond = F.col("route") == "parse"
        routed = self._mat(routed_plan, "routed")
        if cfg.extra.get("fetch_mode") != "http":
            n_hits = fast_count(routed)
            # obs_fetchable fires only if the join produced rows — AQE's
            # empty-relation propagation eliminates the observed subtree
            # when either join side is empty and .get would block forever
            # (probed empirically). Zero hits ⇒ can't know the fetchable
            # count cheaply ⇒ run the miss recovery unconditionally (it
            # writes nothing when fetchable was empty too).
            n_miss = (
                int(obs_fetchable.get["n"]) - n_hits if n_hits > 0 else 1
            )
            if n_miss > 0:
                # recover misses as 'fetch_error' rows: a tiny job over
                # the scheduled batch anti-joined to the materialized
                # hits — no pages scan (worker.py's download-exception
                # path). Written column-for-column like the hits part so
                # both dirs read back as one frame.
                missing = fetch_in.join(
                    routed.select("url_hash"), "url_hash", "left_anti"
                )
                miss_plan = FE.route_verdict(
                    missing.select("*", *FE.null_page_cols()), cfg
                ).select(*[F.col(c) for c in routed.columns])
                routed_miss = self._mat(miss_plan, "routed_miss", single=True)
                routed = self.spark.read.parquet(
                    routed._crawlspark_path, routed_miss._crawlspark_path
                )
        # near-dup probe vs round-start fingerprint state — LAZY: its only
        # consumer is the statused write job below; the chunk-key broadcast
        # join over the materialized routed parquet evaluates exactly once
        nd = FE.neardup_hits(
            routed.filter(parse_cond).select("url_hash", "simhash"),
            self.fingerprints, cfg.simhash_max_hamming, broadcast_batch=bb,
        )

        # terminal statuses for every scheduled row (the reference marks
        # every popped URL complete)
        base = s.drop("sim_tokens")
        statused = (
            base.join(hits, "url", "left")
            .join(
                routed.select(
                    "url_hash", "route", "total_words", "n_distinct_words"
                ),
                "url_hash",
                "left",
            )
            .join(nd.withColumn("_nd", F.lit(True)), "url_hash", "left")
            .withColumn(
                "status",
                F.when(~depth_ok, "depth_skip")
                .when(F.col("low_hit"), "lowdata_similar_skip")
                .when(F.col("err_hit"), "error_similar_skip")
                .when(F.col("route").isNull(), "trap_skip")
                .when((F.col("route") == "parse") & F.col("_nd"), "neardup")
                .when(F.col("route") == "parse", "parsed")
                .otherwise(F.col("route")),
            )
            .withColumn("completed_round", F.lit(self.round_no))
            .select(*[n for n, _ in FRONTIER_FIELDS + COMPLETED_EXTRA])
        )
        # per-status counts ride the delta write itself (Observation —
        # aggregates collected during the write job), replacing a second
        # full read+groupBy job per round. STATUS_VALUES is the closed set
        # route_verdict ∪ the gate statuses produce; the _total cross-check
        # falls back to the exact groupBy if a value ever escapes it.
        from pyspark.sql import Observation

        obs = Observation()
        statused_obs = statused.observe(
            obs,
            F.count(F.lit(1)).alias("_total"),
            *[
                F.sum((F.col("status") == sv).cast("long")).alias(sv)
                for sv in STATUS_VALUES
            ],
        )

        # Driver-side route counts from the materialized routed parquet
        # (pyarrow footer+column read, NO Spark job). They gate the
        # bad/fingerprints writes and the admission phase below, which
        # lets the statused write itself join the async wave instead of
        # blocking the round (VERDICT r4 #4): previously admission waited
        # on the statused write only to learn by_status for its gates.
        routes = self._local_values(routed, "route")
        n_parse_routed = routes.count("parse") if routes is not None else None

        # state deltas ------------------------------------------------
        # completed / bad / fingerprints / popped read only already-
        # materialized parquet (routed, sched) plus lazy broadcast-join
        # plans (hits, nd), and land in four different tables, so ALL
        # four writes run concurrently AND overlap the whole admission
        # phase (one driver round-trip where there were three).
        round_deltas: list = [
            (statused_obs, "completed", False),
            # frontier update: scheduled keys become tombstones (O(batch)
            # append — never an O(frontier) rewrite); discoveries enter
            # via _admit's pending delta
            (sched.select("url_hash"), "popped", True),
        ]
        if n_parse_routed is None or n_parse_routed > 0:
            # fingerprints are recorded for every parse row, neardup or
            # not (worker.py:129-137) — the route count is the exact gate
            round_deltas.append(
                (
                    routed.filter(F.col("route") == "parse").select(
                        "url_hash", "simhash"
                    ),
                    "fingerprints",
                    True,
                )
            )
        # bad-memory gate, conservative but exact-when-zero: similar-skip
        # statuses require prior bad memory (hits is the empty relation
        # when _n_bad_total == 0), and low_data/error statuses are
        # locally countable route values — so gate-off implies n_bad == 0
        may_have_bad = (
            routes is None
            or self._n_bad_total > 0
            or "low_data" in routes
            or "error" in routes
        )
        if may_have_bad:
            err_hash = routed.filter(
                (F.col("route") == "error") & (F.col("http_status") >= 400)
            ).select("url_hash")
            low_hash = routed.filter(F.col("route") == "low_data").select("url_hash")
            new_bad = (
                s.join(statused.filter(F.col("status") == "lowdata_similar_skip")
                       .select("url_hash"), "url_hash", "left_semi")
                .unionByName(s.join(low_hash, "url_hash", "left_semi"))
                .select("url", "host", F.lit("low_data").alias("kind"), "sim_tokens")
                .unionByName(
                    s.join(statused.filter(F.col("status") == "error_similar_skip")
                           .select("url_hash"), "url_hash", "left_semi")
                    .unionByName(s.join(err_hash, "url_hash", "left_semi"))
                    .select("url", "host", F.lit("error").alias("kind"), "sim_tokens")
                )
            )
            round_deltas.append((new_bad, "bad", True))
        join_deltas = self._append_state_deltas_async(round_deltas)

        if self._respect_crawl_delay or self._backoff is not None:
            self._update_blocked_state(s, routed)

        # discovery ----------------------------------------------------
        # the statused 'parsed' set, derived without the statused join
        # chain: routed contains exactly the fetchable rows (depth/trap/
        # similar-hit rows were anti-joined out before the fetch), so
        # status == 'parsed' ⟺ route == 'parse' ∧ not near-duplicate
        parsed_final = (
            routed.filter(F.col("route") == "parse")
            .join(nd, "url_hash", "left_anti")
            .select("url", "url_hash", "depth", "discovery_seq", "out_links")
        )
        links = parsed_final.select(
            F.posexplode("out_links").alias("link_pos", "href"),
            F.col("url").alias("base"),
            (F.col("depth") + 1).alias("depth"),
            F.col("discovery_seq").alias("parent_seq"),
        ).select(
            U.resolve_href(F.col("base"), F.col("href")).alias("raw_url"),
            "depth",
            F.lit("link").alias("src"),
            "parent_seq",
            "link_pos",
            F.lit(0).alias("sub_pos"),
        )
        redirects = routed.filter(
            (F.col("route") == "redirect") & F.col("redirect_to").isNotNull()
        ).select(
            F.col("redirect_to").alias("raw_url"),
            "depth",  # redirects keep depth (worker.py:94)
            F.lit("redirect").alias("src"),
            F.col("discovery_seq").alias("parent_seq"),
            F.lit(0).alias("link_pos"),
            F.lit(0).alias("sub_pos"),
        )
        candidates = redirects.unionByName(links)

        # admission overlaps the four state writes above: it reads only
        # pending-base + round-start completed parts for seen-ness (the
        # scheduled batch's keys are still in pending-base — tombstones
        # fold in at compaction, which runs after the writes join), and
        # its own deltas get distinct lock-allocated paths. The gate is
        # route-count conservative: a round whose parse rows ALL end
        # neardup runs one empty admission pass (a no-op for state).
        admit_gate = (
            routes is None or n_parse_routed > 0 or "redirect" in routes
        )
        n_new = self._admit(candidates) if admit_gate else 0
        join_deltas()
        m = obs.get
        by_status = {sv: int(m[sv]) for sv in STATUS_VALUES if m[sv]}
        if sum(by_status.values()) != int(m["_total"]):  # unknown status value
            by_status = {
                r["status"]: r["cnt"]
                for r in self.spark.read.parquet(join_deltas.paths[0])
                .groupBy("status").agg(F.count("*").alias("cnt")).collect()
            }
        n_bad = sum(
            v for k, v in by_status.items()
            if k in ("lowdata_similar_skip", "error_similar_skip", "low_data")
        ) + by_status.get("error", 0)
        self._n_bad_total += n_bad
        self._checkpoint_state()

        dt = time.monotonic() - t0
        self.stats.rounds.append(
            RoundStats(self.round_no, n_sched, n_new, by_status, dt, sched_scan)
        )
        if self.round_no % self.checkpoint_interval == 0:
            self._commit_snapshot()
        if self.pace_wallclock:
            time.sleep(max(0.0, cfg.politeness_delay_s - dt))
        self._gc_scratch()
        return True

    # ------------------------------------------------------------------
    def run(self, max_rounds: int | None = None) -> CrawlStats:
        limit = max_rounds or self.config.max_rounds or 10**9
        while len(self.stats.rounds) < limit:
            if not self.run_round():
                break
        self._commit_snapshot()
        return self.stats

    # all frontier rows ever admitted (for reports)
    def all_rows(self) -> DataFrame:
        return self.pending.withColumns(
            {
                "completed_round": F.lit(None).cast("int"),
                "total_words": F.lit(None).cast("int"),
                "n_distinct_words": F.lit(None).cast("int"),
            }
        ).unionByName(self.completed)
