"""Fetch + status routing + parse (S2, F4/F5/F9, P1-P3, E3 in SURVEY.md).

In the sandbox the corpus IS the web: "fetching" a scheduled batch is a
hash join against the pages table on the scheme-excluded 64-bit URL key
(ref download() utils/download.py:7-48 → here a join; the scheduled batch
is the small side → broadcast into the pages scan, no pages shuffle).

Status routing reproduces crawler/worker.py:89-146:
  no corpus row        → 'fetch_error'   (download exception path)
  300-399              → 'redirect'      (Location re-enters admission at
                                          the SAME depth, worker.py:94)
  status != 200        → 'error'         (error_urls memory if >= 400)
  empty body           → 'empty'
  Content-Length > 10MB → 'skipped_large' (scraper.py:28-30 — no parse)
  not text/html        → 'skipped_type'  (scraper.py:32-33 — no parse)
  parsed, <30 DISTINCT non-stopword tokens → 'low_data' (worker.py:122-127;
        note len(Counter) = distinct count, not total)
  parsed, simhash within Hamming 3 of a prior fingerprint → 'neardup'
        (fingerprint still recorded, worker.py:129-137)
  else                 → 'parsed' (words counted, links extracted)
"""

from __future__ import annotations

import re as _re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from crawlspark.config import CrawlConfig
from crawlspark.functions import simhash as SH
from crawlspark.functions import text as X

NULL_PAGE_TYPES = [
    ("http_status", "int"), ("redirect_to", "string"),
    ("content_type", "string"), ("content_length", "long"),
    ("caption", "string"), ("out_links", "array<string>"),
]


def null_page_cols() -> list:
    """Typed null page columns for scheduled rows with no corpus hit
    (the download-exception path → 'fetch_error')."""
    return [F.lit(None).cast(t).alias(c) for c, t in NULL_PAGE_TYPES]


def fetch_hits_and_route(
    scheduled: DataFrame, pages: DataFrame, config: CrawlConfig,
    broadcast_batch: bool = True,
) -> DataFrame:
    """Corpus HITS only — exactly one pages scan: the (small) scheduled
    batch broadcasts into the corpus scan as an inner join, then the
    routing verdict. Misses (scheduled rows with no corpus row) are NOT
    in the output; the engine recovers them with a separate tiny job
    against the materialized hits ONLY when the fetchable-vs-hit counts
    (both observed on this plan's write) differ — in steady corpus
    crawls every scheduled URL hits, so that second job is skipped.
    ``broadcast_batch`` is the scale guard: the engine passes False past
    ``BROADCAST_ROWS`` and the join degrades to a shuffled hash join."""
    page_cols = pages.select(
        F.col("page_hash").alias("url_hash"),
        F.col("status").alias("http_status"),
        "redirect_to", "content_type", "content_length", "caption", "out_links",
    )
    hint = F.broadcast if broadcast_batch else (lambda df: df)
    return route_verdict(page_cols.join(hint(scheduled), "url_hash", "inner"), config)


_PARSE_STATS_TYPE = StructType(
    [
        StructField("n_distinct", LongType()),
        StructField("total", LongType()),
        StructField("simhash", LongType()),
    ]
)


@F.pandas_udf(_PARSE_STATS_TYPE)
def parse_stats_udf(captions: pd.Series) -> pd.DataFrame:
    """ONE Arrow pass per fetched batch: the stopword-filtered token
    counter yields the distinct/total word counts AND the weighted-bit
    simhash — the counts used to ride an interpreted filter/array_distinct
    HOF chain while the fingerprint re-tokenized the same captions in a
    second UDF. Values are identical to the expression path: the same
    split regex behaves the same under Java and Python re (the
    conformance suites pin this), and simhash_counter is the shared
    pure-Python kernel."""
    splitter = _re.compile(X.TOKEN_SPLIT_REGEX)
    stop = set(X.STOPWORDS)
    nd = np.zeros(len(captions), dtype=np.int64)
    tot = np.zeros(len(captions), dtype=np.int64)
    sh = np.zeros(len(captions), dtype=np.int64)
    for i, t in enumerate(captions):
        counts: dict[str, int] = {}
        total = 0
        if t:
            for tok in splitter.split(t.lower()):
                if tok and tok not in stop:
                    counts[tok] = counts.get(tok, 0) + 1
                    total += 1
        nd[i] = len(counts)
        tot[i] = total
        sh[i] = SH.simhash_counter(counts)
    return pd.DataFrame({"n_distinct": nd, "total": tot, "simhash": sh})


def route_verdict(joined: DataFrame, config: CrawlConfig) -> DataFrame:
    """The routing verdict (worker.py:89-146) over a fetched frame with
    columns (http_status, content_type, content_length, caption,
    out_links, …) — shared by the corpus fetch join above and the live
    HTTP path (operators/httpfetch.live_fetch_and_route). Emits the
    word counts AND the content fingerprint (null off the parse path)
    from a single Arrow pass."""
    parsedable = (
        F.col("http_status").isNotNull()
        & (F.col("http_status") == 200)
        & (F.col("content_length") > 0)
        & (F.col("content_length") <= config.max_content_length)
        & F.col("content_type").contains("text/html")
    )
    routed = joined.withColumn(
        "route",
        F.when(F.col("http_status").isNull(), "fetch_error")
        .when(F.col("http_status").between(300, 399), "redirect")
        .when(F.col("http_status") != 200, "error")
        .when(F.col("content_length") == 0, "empty")
        .when(F.col("content_length") > config.max_content_length, "skipped_large")
        .when(~F.col("content_type").contains("text/html"), "skipped_type")
        .otherwise("parse"),
    ).withColumn(
        # arg-gated: the UDF never tokenizes non-parseable captions
        "_ps", parse_stats_udf(F.when(parsedable, F.col("caption")))
    ).withColumn(
        "n_distinct_words",
        F.when(parsedable, F.col("_ps.n_distinct")).cast("int"),
    ).withColumn(
        "total_words", F.when(parsedable, F.col("_ps.total")).cast("int")
    )
    # low-data verdict (distinct-count threshold) folds into the route
    routed = routed.withColumn(
        "route",
        F.when(
            (F.col("route") == "parse")
            & (F.col("n_distinct_words") < config.min_words),
            "low_data",
        ).otherwise(F.col("route")),
    )
    return routed.withColumn(
        "simhash", F.when(F.col("route") == "parse", F.col("_ps.simhash"))
    ).drop("_ps")


def neardup_hits(
    batch_fp: DataFrame, state_fp: DataFrame, max_hamming: int = 3,
    broadcast_batch: bool = True,
) -> DataFrame:
    """url_hash of batch pages whose simhash is within ``max_hamming`` of
    any fingerprint in the round-start state (worker.py:129-137): the
    64-bit ``hamming_pairs`` join with the state as the probe side and the
    batch as the exact side — usually tiny, so it broadcasts into the
    state scan, size-guarded by the engine like the fetch join."""
    return SH.hamming_pairs(
        state_fp.select(F.col("simhash").alias("fp")),
        batch_fp.select("url_hash", F.col("simhash").alias("fp")),
        max_hamming,
        broadcast_exact=broadcast_batch,
    )
