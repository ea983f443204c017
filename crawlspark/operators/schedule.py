"""Politeness scheduling — window-ranked micro-batches (SURVEY.md §2.9).

The reference serializes all workers behind one lock and spaces fetches
per domain by ``politeness_delay`` (crawler/frontier.py:92-110). In the
batch engine one crawl round == one politeness tick: schedule at most K
URLs per registered domain per round (K=1 reproduces the reference), FIFO
within a domain by ``discovery_seq`` (the admission-order total sequence,
which IS the reference's per-domain Queue order).

Skew note (north_rule): ranking partitions by registered_domain. A hot
domain holds millions of pending rows at 10^10 scale, but the window only
needs the TOP-K per domain — we pre-filter with a cheap per-partition
top-K (groupBy + min_by style) before the exact window, so the shuffle
carries O(K · #domains) rows, not the whole frontier. Wall-clock
politeness = driver pacing between rounds (logical in benchmarks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SALT_BUCKETS = 8  # phase-1 salt fan-out for hot registered domains


def schedule_round(
    pending: DataFrame, quota_per_domain: int = 1,
    key_col: str = "registered_domain",
    order_col: str | None = None,
) -> DataFrame:
    """Pick the next micro-batch: K lowest-seq pending URLs per politeness
    key (``key_col``: registered_domain, or host for netloc politeness —
    the reference keys its queues on netloc, frontier.py:42). Returns the
    scheduled rows (all frontier columns).

    ``order_col`` (opt-in) overrides pure FIFO: rows are ranked by
    (order_col asc, discovery_seq asc) within each politeness key, so a
    frontier that carries a priority column — negated PageRank mass
    (operators/linkgraph.py) or a recrawl due-time
    (recrawl_priority) merged in via merge_upsert — schedules its most
    urgent URLs first while the per-domain quota and deterministic
    tie-break are unchanged. Default (None) preserves the reference's
    FIFO ordering exactly.

    K == 1 FIFO (the common case): per-key min(discovery_seq) is a hash
    aggregate (map-side partial → tiny shuffle), then a semi-join back —
    no full-frontier window. Every other case (K > 1, or an
    ``order_col``) is one salted two-phase top-K window.
    """
    if quota_per_domain == 1 and order_col is None:
        # NO forced broadcast: `heads` is one row per domain, which at the
        # north_rule's 10^8+ domains is a multi-GB build side. AQE picks
        # broadcast when heads is actually small and a shuffled hash join
        # otherwise (skew-split if a salted key ever funnels).
        heads = pending.groupBy(key_col).agg(
            F.min("discovery_seq").alias("discovery_seq")
        )
        return pending.join(heads, [key_col, "discovery_seq"], "left_semi")
    # salted two-phase top-K (north_rule hot-domain skew handling).
    # Phase 1 ranks within (key, salt) — the hot key's pending rows split
    # across SALT_BUCKETS partitions instead of one — keeping at most K
    # per salt; phase 2 takes the exact top-K over the <= K·S survivors
    # per key. Salt is data-derived (url_hash), so the result is
    # identical at any parallelism level, and equals the unsalted window
    # by construction (phase 1 never drops a global top-K row: a row in
    # the key's top-K is in its salt's top-K).
    order = [F.col(order_col).asc()] if order_col is not None else []
    order.append(F.col("discovery_seq").asc())
    salt = F.pmod(F.col("url_hash"), F.lit(SALT_BUCKETS))
    w1 = Window.partitionBy(key_col, salt).orderBy(*order)
    survivors = (
        pending.withColumn("_rn1", F.row_number().over(w1))
        .filter(F.col("_rn1") <= quota_per_domain)
        .drop("_rn1")
    )
    w2 = Window.partitionBy(key_col).orderBy(*order)
    return (
        survivors.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= quota_per_domain)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# adaptive recrawl scheduling (change-rate-driven revisit intervals)
# ---------------------------------------------------------------------------

def recrawl_priority(
    history: DataFrame,
    key_col: str = "url",
    ts_col: str = "ts",
    value_col: str = "content_hash",
    order_col: str | None = None,
    base_interval_hours: float = 24.0,
    smoothing: float = 0.05,
) -> DataFrame:
    """Adaptive revisit scheduling over a fetch-history table: per page,
    estimate the observed change rate (fraction of refetches whose
    ``value_col`` differed from the previous fetch) and derive the next
    revisit interval ``base / (smoothing + change_rate)`` — frequently
    changing pages are revisited often, static ones back off toward
    ``base/smoothing``. This is the freshness-driven priority the
    reference's FIFO frontier lacks (crawler/frontier.py:34-58 treats
    every URL as equally urgent forever).

    One lag window per key + one aggregation — at 10^10 URLs this is a
    single shuffle on the page key, and the output (one row per page)
    is exactly the priority column a frontier merge-upsert consumes.

    Returns (key, n_fetches, n_changes, change_rate, next_interval_hours)
    with change_rate rounded to 6 and the interval to 4 decimals.
    """
    order = [F.col(ts_col).asc()]
    if order_col:
        order.append(F.col(order_col).asc())
    w = Window.partitionBy(key_col).orderBy(*order)
    prev = F.lag(F.col(value_col)).over(w)
    changed = F.when(prev.isNotNull() & (F.col(value_col) != prev), 1).otherwise(0)
    agg = (
        history.withColumn("_chg", changed)
        .groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n_fetches"),
            F.sum("_chg").cast("long").alias("n_changes"),
        )
    )
    rate = F.round(
        F.coalesce(
            F.col("n_changes") * F.lit(1.0)
            / F.nullif(F.col("n_fetches") - F.lit(1), F.lit(0)),
            F.lit(0.0),
        ),
        6,
    )
    return agg.select(
        key_col,
        "n_fetches",
        "n_changes",
        rate.alias("change_rate"),
        F.round(
            F.lit(float(base_interval_hours)) / (F.lit(float(smoothing)) + rate),
            4,
        ).alias("next_interval_hours"),
    )
