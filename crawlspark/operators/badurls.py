"""Bad-URL similarity suppression — vectorized URL-Jaccard (SURVEY.md §2.8).

Reference: jaccard_similarity + is_similar_url, crawler/worker.py:149-194.
A scheduled URL is skipped when >= 5 previously-bad URLs (low-data or
error sets, checked separately, worker.py:59-72) have Jaccard >= 0.95
with it; Jaccard is over path-segment set ∪ query-(key, values) set and
is 0 across different netlocs (worker.py:160-162).

Engine form: each URL carries a precomputed ``sim_tokens`` array (set
elements rendered as strings); the check is an equi-join on ``host``
(lowercased hostname) followed by ``array_intersect``/``array_union``
size arithmetic and a group-count — no UDF. Query keys/values are
percent-decoded like the reference's parse_qs (``_qdec`` /
``_qdec_py``, frozen spec in their docstrings); path segments stay raw,
matching urlparse().path.split('/').
"""

from __future__ import annotations

from urllib.parse import urlparse

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crawlspark.functions import urls as U

JACCARD_THRESHOLD = 0.95  # ref worker.py:174
SIMILAR_COUNT = 5         # ref worker.py:174


def _qdec(c: Column) -> Column:
    """parse_qs-style component decode (frozen spec): '+'→space and
    %-escapes decoded when the whole component is well-formed
    (try_url_decode), raw otherwise; invalid UTF-8 bytes become U+FFFD —
    mirroring the reference's parse_qs at crawler/worker.py:157-165.
    Applied to query keys/values only; path segments stay raw (the
    reference splits urlparse().path undecoded)."""
    return F.coalesce(F.try_url_decode(c), c)


def sim_tokens(url: Column) -> Column:
    """Set elements of the reference's Jaccard: distinct path segments
    (INCLUDING the empty segments produced by ``'/a/b'.split('/')``) plus
    one 'k(v1,v2)' token per query key (keys/values percent-decoded,
    values grouped in first-appearance order, parse_qs-style; blank
    values dropped)."""
    path_parts = F.array_distinct(F.split(U.path(url), "/"))
    q = U.query(url)
    kvs = F.filter(F.split(q, "&"), lambda kv: kv.rlike("^[^=]+=.+"))
    keys = F.array_distinct(
        F.transform(kvs, lambda kv: _qdec(F.substring_index(kv, "=", 1)))
    )
    qtokens = F.transform(
        keys,
        lambda k: F.concat(
            k,
            F.lit("("),
            F.concat_ws(
                ",",
                F.transform(
                    F.filter(
                        kvs,
                        lambda kv: _qdec(F.substring_index(kv, "=", 1)) == k,
                    ),
                    lambda kv: _qdec(
                        F.substr(kv, F.instr(kv, "=") + 1, F.length(kv))
                    ),
                ),
            ),
            F.lit(")"),
        ),
    )
    return F.array_union(path_parts, qtokens)


import re as _re
from urllib.parse import unquote_to_bytes as _unquote_to_bytes

_BAD_ESCAPE = _re.compile(r"%(?![0-9A-Fa-f]{2})")


def _qdec_py(s: str) -> str:
    """Twin of ``_qdec``: raw if any %-escape is malformed (Spark
    try_url_decode → NULL → coalesce raw), else decoded with '+'→space
    and invalid UTF-8 → U+FFFD (java URLDecoder replaces)."""
    if _BAD_ESCAPE.search(s):
        return s
    return _unquote_to_bytes(s.replace("+", " ")).decode("utf-8", errors="replace")


def sim_tokens_py(url: str) -> set[str]:
    """Pure-Python twin for the conformance oracle."""
    parsed = urlparse(url)
    toks = set(parsed.path.split("/"))
    kvs = [kv for kv in parsed.query.split("&") if "=" in kv and kv.split("=", 1)[1]]
    keys: list[str] = []
    vals: dict[str, list[str]] = {}
    for kv in kvs:
        k, v = kv.split("=", 1)
        k, v = _qdec_py(k), _qdec_py(v)
        if k not in vals:
            keys.append(k)
            vals[k] = []
        vals[k].append(v)
    for k in keys:
        toks.add(f"{k}({','.join(vals[k])})")
    return toks


def jaccard_py(a: set[str], b: set[str]) -> float:
    if not a and not b:
        return 0.0
    return len(a & b) / len(a | b)


def similarity_hits(
    scheduled: DataFrame,
    bad: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    count_threshold: int = SIMILAR_COUNT,
    broadcast_bad: bool = True,
) -> DataFrame:
    """One-pass variant: (url, kind) rows for every scheduled URL that is
    Jaccard-similar to >= count_threshold bad URLs of that kind — the
    low-data and error memories checked in a single broadcast join
    (the reference checks them sequentially, worker.py:59-72; the checks
    are independent predicates over disjoint sets, so one pass with a
    kind-grouped count is semantically identical; 'low_data' outranks
    'error' downstream exactly as the sequential order would).

    ``broadcast_bad``: the bad-URL memory grows monotonically over a
    crawl; the engine flips this off once the memory crosses its
    broadcast budget so the plan degrades to a shuffled hash join on
    ``host`` instead of an ever-growing broadcast."""
    s = scheduled.select(
        F.col("url").alias("s_url"), "host", F.col("sim_tokens").alias("s_tok")
    )
    b = bad.select("host", "kind", F.col("sim_tokens").alias("b_tok"))
    inter = F.size(F.array_intersect(F.col("s_tok"), F.col("b_tok")))
    union = F.size(F.array_union(F.col("s_tok"), F.col("b_tok")))
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(0.0)
    return (
        s.join(F.broadcast(b) if broadcast_bad else b, "host")
        .filter(jac >= threshold)
        .groupBy("s_url", "kind")
        .count()
        .filter(F.col("count") >= count_threshold)
        .select(F.col("s_url").alias("url"), "kind")
    )
