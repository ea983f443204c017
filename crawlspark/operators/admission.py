"""Admission — the vectorized ``Frontier.add_url`` (SURVEY.md §3 E2).

Reference stage order (crawler/frontier.py:114-155), reproduced
set-at-a-time per micro-batch:

  normalize (P4) → defragment (P5) → hash (P6) → seen-check (F11,
  anti-join) → new-domain robots+sitemap fetch (S6/S7) → subdomain
  aggregate (D5, derivable from frontier rows) → robots gate (F6) →
  persist + enqueue (discovery_seq assignment).

Validation (``is_valid``, scraper.py:78-120) applies to scraped links and
sitemap URLs only — the reference admits seeds (frontier.py:60-67) and
redirect targets (worker.py:89-96) WITHOUT is_valid, and we reproduce
that: `src` ∈ {seed, redirect} skips F2/F3/trap (F1 still required to key
the row).

Robots-blocked URLs are kept as frontier rows with status
'robots_blocked' instead of the reference's behavior of never persisting
them (frontier.py:148-151): with immutable per-domain rules the effect is
identical (re-discovery would be re-blocked), the subdomain report still
sees them (ref adds to `subdomains` BEFORE the gate, frontier.py:143-146),
and the seen anti-join stays one table.

Candidate input schema:
  raw_url, depth, src('seed'|'link'|'redirect'|'sitemap'),
  parent_seq (long), link_pos (int), sub_pos (int or long)
Ordering within a batch (the FIFO enqueue order the reference would have
produced): (parent_seq, link_pos, sub_pos) — all data-derived, stable
across parallelism levels (SURVEY.md §4.3.4).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crawlspark.config import BLOCKED_EXT_REGEX, CrawlConfig
from crawlspark.functions import traps
from crawlspark.functions import urls as U
from crawlspark.operators import robots as R

CANDIDATE_COLS = ["raw_url", "depth", "src", "parent_seq", "link_pos", "sub_pos"]


def with_url_keys(df: DataFrame, url_col: str = "raw_url") -> DataFrame:
    """Canonicalize + key columns for any URL-bearing frame."""
    canon = U.canonicalize(F.col(url_col))
    return (
        df.withColumn("url", canon)
        .withColumn("url_hash", U.url_hash64(F.col("url")))
        .withColumn("url_sha", U.url_sha256(F.col("url")))
        .withColumn("host", U.hostname(F.col("url")))
        .withColumn("registered_domain", U.registered_domain(F.col("host"), is_host=True))
        .withColumn("path", U.path(F.col("url")))
    )


def validate(cands: DataFrame, config: CrawlConfig) -> DataFrame:
    """F1-F3 + trap (scraper.py:78-120) on the RAW link url (the reference
    matches its allowlist/extension regexes against the pre-normalize
    string, scraper.py:101/:111). Seeds/redirects: F1 only."""
    raw = F.col("raw_url")
    f1 = (U.scheme(raw) != "") & (U.hostname(raw) != "")
    allow = F.lit(False)
    for pat in config.allowed_url_patterns:
        allow = allow | raw.rlike("^(" + pat + ")")
    f3 = ~F.lower(raw).rlike("^(" + BLOCKED_EXT_REGEX + ")")
    needs_full = F.col("src").isin("link", "sitemap")
    ok = F.when(
        needs_full, f1 & allow & f3 & ~traps.is_trap(raw)
    ).otherwise(f1)
    return cands.filter(ok)



# rows above which assign_seq ranks in two phases instead of one global
# (single-partition) row_number window
TWO_PHASE_ROWS = 200_000


def assign_seq(
    df: DataFrame, order_cols: list[str], start: int, materialize=None,
    n_rows: int | None = None, out_col: str = "discovery_seq",
) -> DataFrame:
    """Deterministic sequence ``start, start+1, ...`` in ``out_col`` over
    a total data-derived order (the order key must be unique — e.g.
    (parent_seq, link_pos, sub_pos, raw_url)).

    Up to TWO_PHASE_ROWS rows (``n_rows``, the caller's count) one global
    ``row_number`` window is fastest. Above that, or when the count is
    unknown (``n_rows=None``), the single-partition sort would funnel, so
    the rank runs in two phases (the classic parallel zipWithIndex, but
    order-by-key so the result is independent of physical partitioning):
    range-repartition on the order key, rank within each partition, then
    add per-partition offsets (one tiny collect). Both paths produce the
    identical sequence."""
    cols = [F.col(c) for c in order_cols]
    if n_rows is not None and n_rows <= TWO_PHASE_ROWS:
        rn = F.row_number().over(Window.orderBy(*cols))
        return df.withColumn(out_col, (F.lit(start) + rn - 1).cast("long"))
    d = df.repartitionByRange(*cols).withColumn("_pid", F.spark_partition_id())
    local = F.row_number().over(
        Window.partitionBy("_pid").orderBy(*cols)
    )
    d = d.withColumn("_rn", local)
    if materialize is not None:
        # pin (_pid, _rn) before the counts collect: repartitionByRange
        # re-samples boundaries per evaluation, so the ranked frame must
        # not be recomputed between the offsets job and the final write
        d = materialize(d, "seq_ranked")
    counts = {r["_pid"]: r["cnt"] for r in d.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if offsets:
        mapping = F.create_map(
            *[F.lit(x) for kv in offsets.items() for x in kv]
        )
        off = F.element_at(mapping, F.col("_pid"))
    else:
        off = F.lit(0)
    return d.withColumn(
        out_col, (F.lit(start) + off + F.col("_rn") - 1).cast("long")
    ).drop("_pid", "_rn")


@dataclass
class AdmissionResult:
    new_rows: DataFrame        # frontier rows: status 'pending' | 'robots_blocked'
    new_rules: DataFrame | None  # robots rules discovered this batch (or None)


def admit(
    spark,
    candidates: DataFrame,
    materialize,
    seen_keys: DataFrame,          # (url_hash) of every frontier row
    rules: DataFrame,              # robots rules table (registered_domain, rule_type, value)
    robots_bodies: DataFrame,      # corpus robots (registered_domain, body) — the "web"
    sitemap_xml: DataFrame,        # corpus sitemaps (registered_domain, url, xml)
    config: CrawlConfig,
    next_seq: int,
    round_no: int,
    bloom=None,                    # BloomSeenFilter | None
    bloom_state: DataFrame | None = None,
    row_counter=None,              # count fn for MATERIALIZED frames
    known_domains: set | None = None,   # driver-side known-domain cache
    local_values=None,             # (df, col) -> list | None, cheap local read
    broadcast_rules: bool = True,  # scale guard for the robots-gate join
) -> AdmissionResult:
    """One admission pass, with the new-domain robots/sitemap expansion
    fix-pointed (<=3 iterations; sitemap URLs are same-domain in practice,
    so pass 2 terminates)."""
    if row_counter is None:
        row_counter = lambda df: df.count()
    all_new_rows: DataFrame | None = None
    all_new_rules: DataFrame | None = None
    batch = candidates
    seq = next_seq
    # known_domains has one owner — this function: the fast path adds the
    # domains it probes, the relational path adds new_rules' domains (a
    # local read, else a collect) before a LATER pass may take the fast
    # path, so no pass re-probes a domain (duplicate rule rows, ADVICE r2)

    for pass_no in range(3):
        # pass 0's batch comes from a round that parsed/redirected ≥ 1
        # page — an isEmpty probe there is a wasted job per round in
        # steady state (the n_fresh == 0 break below covers the rare
        # zero-candidate case at the same one-job cost). Later passes
        # carry sitemap-expansion batches that ARE often empty.
        if pass_no > 0 and batch.isEmpty():
            break
        keyed = with_url_keys(validate(batch, config))
        # batch-dedup: first occurrence (reference admission order) wins
        # raw_url tie-break: the oracle's sort breaks ties on the raw URL,
        # so the windows must too
        w = Window.partitionBy("url_hash").orderBy(
            "parent_seq", "link_pos", "sub_pos", "raw_url"
        )
        deduped = (
            keyed.withColumn("_occ", F.row_number().over(w))
            .filter(F.col("_occ") == 1)
            .drop("_occ")
        )
        # seen-check (F11): optional bloom pre-filter (SURVEY §2.5 —
        # probabilistic reject is an optimization; negatives are definitely
        # fresh and skip the exact join, positives are confirmed exactly,
        # so the seen-set semantics stay identical to the plain anti-join)
        if bloom is not None and bloom_state is not None:
            probed = bloom.probe(deduped, bloom_state)
            fresh_neg = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
            maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
            fresh = fresh_neg.unionByName(maybe.join(seen_keys, "url_hash", "left_anti"))
        else:
            fresh = deduped.join(seen_keys, "url_hash", "left_anti")
        if all_new_rows is not None:
            fresh = fresh.join(
                all_new_rows.select("url_hash"), "url_hash", "left_anti"
            )
        fresh = materialize(fresh, "adm_fresh")
        n_fresh = row_counter(fresh)
        if n_fresh == 0:
            break

        # new-domain discovery: fetch robots for domains without rules.
        # Fast path: when the engine supplies a driver-side known-domain
        # cache AND the materialized batch's domain column is cheaply
        # readable (local parquet), decide "any new domains?" without a
        # Spark job — in steady state (no new domains for thousands of
        # rounds) this removes the anti-join + robots-parse jobs entirely.
        # Semantics identical to the relational path: the cache IS the
        # rules table's domain set (sentinels included).
        new_doms = None
        batch_doms = (
            local_values(fresh, "registered_domain")
            if (known_domains is not None and local_values is not None)
            else None
        )
        if batch_doms is not None:
            new_list = sorted(set(batch_doms) - known_domains)
            if new_list:
                new_doms = spark.createDataFrame(
                    [(x,) for x in new_list], ["registered_domain"]
                )
                known_domains.update(new_list)
        else:
            known = rules.select("registered_domain").distinct()
            if all_new_rules is not None:
                known = known.union(all_new_rules.select("registered_domain")).distinct()
            new_doms = (
                fresh.select("registered_domain")
                .distinct()
                .join(known, "registered_domain", "left_anti")
            )
        if new_doms is None:
            no_new_rules = True
        else:
            # LEFT join: a domain with no robots.txt row still gets probed
            # (empty body → 'probed' sentinel only) — the oracle's
            # robots.get(domain, "") twin; an inner join would re-probe
            # such domains on every pass forever
            new_rules = materialize(
                R.parse_robots(
                    new_doms.join(robots_bodies, "registered_domain", "left")
                    .withColumn("body", F.coalesce(F.col("body"), F.lit(""))),
                    config.user_agent,
                ),
                "adm_rules",
            )
            no_new_rules = row_counter(new_rules) == 0
            all_new_rules = (
                new_rules if all_new_rules is None else all_new_rules.union(new_rules)
            )
            if known_domains is not None and batch_doms is None:
                # relational path: the fast path already added its domains
                doms = (
                    local_values(new_rules, "registered_domain")
                    if local_values is not None
                    else None
                )
                if doms is None:
                    doms = [
                        r[0] for r in
                        new_rules.select("registered_domain").distinct().collect()
                    ]
                known_domains.update(doms)

        # robots gate against (existing ∪ new) rules
        eff_rules = rules.union(all_new_rules) if all_new_rules is not None else rules
        gated = R.robots_gate(fresh, eff_rules, "path", broadcast_rules=broadcast_rules)

        # discovery_seq in admission order
        rows = assign_seq(
            gated, ["parent_seq", "link_pos", "sub_pos", "raw_url"], seq,
            materialize, n_rows=n_fresh,
        )
        rows = rows.withColumn(
            "status",
            F.when(F.col("robots_allowed"), F.lit("pending")).otherwise(
                F.lit("robots_blocked")
            ),
        ).withColumn("discovered_round", F.lit(round_no))
        rows = rows.select(
            "url", "url_hash", "url_sha", "host", "registered_domain", "path",
            "depth", "src", "discovery_seq", "discovered_round", "status",
)
        rows = materialize(rows, "adm_rows")
        n = row_counter(rows)
        seq += n
        all_new_rows = rows if all_new_rows is None else all_new_rows.union(rows)

        # sitemap expansion for the new domains (S7 + sitemapindex
        # recursion): page locs become a new candidate batch ordered AFTER
        # everything admitted so far. `no_new_rules` now means "no new
        # domains probed" — every probed domain emits a 'probed' sentinel
        # row, so rule-less domains are tracked and expanded exactly once
        # too (they were previously re-probed forever and never expanded).
        if no_new_rules:
            break
        batch = expand_sitemaps(
            new_rules, sitemap_xml, materialize, seq, row_counter=row_counter
        )

    return AdmissionResult(new_rows=all_new_rows, new_rules=all_new_rules)


# a loc that IS a sitemap document rather than a page (frozen spec)
SITEMAP_LOC_REGEX = r"(?i)\.xml($|\?)"
# docs levels followed: root + children + grandchildren (wp-sitemap
# index fixtures are depth 2; ref tests/worker_test.py:207-217)
SITEMAP_MAX_LEVELS = 3


def expand_sitemaps(new_rules: DataFrame, sitemap_xml: DataFrame,
                    materialize, seq: int, row_counter=None) -> DataFrame:
    """Candidate batch from the new domains' sitemaps.

    ``sitemap_xml`` (registered_domain, url, xml) serves sitemap documents
    addressable by URL: start from the robots ``Sitemap:`` lines (rule
    rows, in body order), fetch each document, and recurse into
    sitemapindex entries — any <loc> matching SITEMAP_LOC_REGEX is fetched
    and re-parsed as a sitemap (depth-bounded DFS), everything else is a
    page candidate. Ordering is (domain, DFS path key (root rule_pos,
    then loc positions, fixed-width), loc), fully data-derived → stable
    at any parallelism. Every page gets ``parent_seq = seq + 1`` and its
    global rank in that order as ``sub_pos``.

    The conformance oracle (crawlspark.oracle._sitemap_page_locs)
    re-implements the identical traversal."""
    requests = new_rules.filter(F.col("rule_type") == "sitemap").select(
        "registered_domain",
        F.col("value").alias("url"),
        F.lpad(F.col("rule_pos").cast("string"), 4, "0").alias("path"),
    )
    page_parts: list[DataFrame] = []
    for level in range(SITEMAP_MAX_LEVELS):
        if requests.isEmpty():
            break
        docs = requests.join(sitemap_xml, ["registered_domain", "url"])
        locs = materialize(
            R.parse_sitemaps(docs, extra_cols=("path",)), f"sm_locs_{level}"
        )
        child = F.concat(
            F.col("path"), F.lit("."),
            F.lpad(F.col("loc_pos").cast("string"), 4, "0"),
        )
        is_sm = F.col("loc").rlike(SITEMAP_LOC_REGEX)
        requests = locs.filter(is_sm).select(
            "registered_domain", F.col("loc").alias("url"), child.alias("path")
        )
        page_parts.append(
            locs.filter(~is_sm).select(
                "registered_domain", child.alias("path"), "loc"
            )
        )
    if not page_parts:
        return new_rules.sparkSession.createDataFrame([], _CAND_SCHEMA)
    pages = materialize(reduce(DataFrame.unionByName, page_parts), "sm_pages")
    n_pages = row_counter(pages) if row_counter is not None else pages.count()
    ranked = assign_seq(
        pages, ["registered_domain", "path", "loc"], 1, materialize,
        n_rows=n_pages, out_col="sub_pos",
    )
    return ranked.select(
        F.col("loc").alias("raw_url"),
        F.lit(0).alias("depth"),
        F.lit("sitemap").alias("src"),
        F.lit(seq + 1).cast("long").alias("parent_seq"),
        F.lit(0).alias("link_pos"),
        F.col("sub_pos"),
    )


_CAND_SCHEMA = (
    "raw_url string, depth int, src string, "
    "parent_seq long, link_pos int, sub_pos long"
)
