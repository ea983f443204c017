"""Live HTTP fetch — the production shape of S2 (SURVEY.md §2.1).

The sandbox engine fetch-joins the corpus (operators/fetch.py — the
corpus IS the web). In production the same stage is a real network GET,
mirroring the reference's ``download()``
(/root/reference/utils/download.py:7-48): a User-Agent header, status
capture, and an error Response row on any exception — never a raised
exception from inside the stage.

Spark shape: ``mapInPandas`` over the scheduled micro-batch — Python
only at the Arrow batch boundary, one long-lived HTTP session per task,
no per-row UDF. The transport is injectable (``transport(url) ->
(status, content_type, body, redirect_to)``) so tests drive the full
operator offline with a fake web, and production uses the default
``requests`` transport (import-guarded; absent in this sandbox).

``live_fetch_and_route`` composes fetch → HTML parse (operators/parse)
→ the SAME routing verdict the corpus path uses (operators/fetch
``route_verdict``), so a crawl can flip between corpus and live web
with ``CrawlConfig.extra['fetch_mode'] = 'http'`` and identical
downstream semantics.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from urllib.parse import urljoin

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawlspark.config import CrawlConfig
from crawlspark.operators.parse import parse_html_py

# (status:int, content_type:str|None, body:bytes|None, redirect_to:str|None)
Transport = Callable[[str], tuple[int, str | None, bytes | None, str | None]]

FETCH_SCHEMA = T.StructType(
    [
        T.StructField("url_hash", T.LongType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("redirect_to", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("content_length", T.LongType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("fetch_error", T.StringType()),
    ]
)


def requests_transport(user_agent: str, timeout_s: float = 10.0) -> Transport:
    """Default production transport (ref download.py:20-26: UA header;
    redirects NOT followed — the engine re-admits Location at the same
    depth, worker.py:89-96)."""
    import requests  # deferred: not installed in the offline sandbox

    session = requests.Session()

    def _get(url: str):
        resp = session.get(
            url,
            headers={"User-Agent": user_agent},
            timeout=timeout_s,
            allow_redirects=False,
        )
        loc = resp.headers.get("Location")
        return (
            int(resp.status_code),
            resp.headers.get("Content-Type"),
            resp.content,
            urljoin(url, loc) if loc else None,
        )

    return _get


def http_fetch(
    scheduled: DataFrame,
    user_agent: str,
    transport: Transport | None = None,
    timeout_s: float = 10.0,
) -> DataFrame:
    """(url_hash, url, …) → one fetch-result row per scheduled URL.
    Exceptions become ``fetch_error`` rows (ref download.py:40-48)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tr = transport or requests_transport(user_agent, timeout_s)
        for pdf in batches:
            rows = []
            for h, u in zip(pdf["url_hash"], pdf["url"]):
                try:
                    st, ct, body, redir = tr(u)
                    rows.append(
                        (int(h), st, redir, ct, len(body or b""), body, None)
                    )
                except Exception as e:  # error Response, never a raise
                    rows.append((int(h), None, None, None, None, None, str(e)[:500]))
            yield pd.DataFrame(
                rows,
                columns=[
                    "url_hash", "http_status", "redirect_to", "content_type",
                    "content_length", "content", "fetch_error",
                ],
            )

    return scheduled.select("url_hash", "url").mapInPandas(gen, FETCH_SCHEMA)


def live_fetch_and_route(
    scheduled: DataFrame,
    config: CrawlConfig,
    transport: Transport | None = None,
) -> DataFrame:
    """The live-HTTP counterpart of the corpus fetch join
    (``fetch.fetch_hits_and_route``): fetch → parse HTML (links + visible
    text) → the shared routing verdict. Every scheduled row comes back,
    a failed download as ``fetch_error``, so the engine runs no miss
    recovery on this path. Output columns match the corpus path
    (caption = extracted text, out_links = absolutized hrefs)."""
    from crawlspark.operators.fetch import route_verdict
    from crawlspark.operators.parse import extract_links_and_text

    fetched = http_fetch(scheduled, config.user_agent, transport).join(
        scheduled.select("url_hash", "url", "depth", "discovery_seq"), "url_hash"
    )
    parseable = fetched.filter(
        (F.col("http_status") == 200)
        & (F.col("content_length") > 0)
        & (F.col("content_length") <= config.max_content_length)
        & F.col("content_type").contains("text/html")
    )
    parsed = extract_links_and_text(parseable, "url", "content").select(
        F.col("url"),
        F.col("links").alias("out_links"),
        F.col("text").alias("caption"),
    )
    joined = (
        fetched.join(parsed, "url", "left")
        .withColumn(
            "http_status",
            F.when(F.col("fetch_error").isNotNull(), F.lit(None).cast("int"))
            .otherwise(F.col("http_status")),
        )
        .drop("content", "fetch_error")
    )
    return route_verdict(joined, config)
