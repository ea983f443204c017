"""Output checks. None of them compares the program with itself: crawl-bulk
is checked against properties of its input frontier (sorted here with
pyarrow), crawl-grow against the pure-Python ``OracleCrawl``, and each
dedup query against DuckDB running its ``oracle_sql()`` twin.

Every check takes plain Python / pyarrow data and returns a list of
problems; an empty list means the output is correct.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pyarrow as pa


# -- crawl-bulk -----------------------------------------------------------
def bulk_politeness(completed: list[dict], quota: int) -> list[str]:
    """No politeness key is scheduled more than ``quota`` times a round."""
    per = Counter((r["registered_domain"], r["completed_round"]) for r in completed)
    return [
        f"key {k} scheduled {n} times in round {r} (quota {quota})"
        for (k, r), n in sorted(per.items())
        if n > quota
    ][:5]


def bulk_fifo(frontier: pa.Table, completed: list[dict], rounds: int,
              quota: int) -> list[str]:
    """Each key's pops are its lowest-``discovery_seq`` input rows, popped in
    that order, ``quota`` per round while the key has rows left."""
    srt = frontier.sort_by([("registered_domain", "ascending"),
                            ("discovery_seq", "ascending")])
    expect: dict[str, list[str]] = defaultdict(list)
    for dom, url in zip(srt.column("registered_domain").to_pylist(),
                        srt.column("url").to_pylist()):
        expect[dom].append(url)
    popped: dict[str, list[tuple]] = defaultdict(list)
    for r in completed:
        popped[r["registered_domain"]].append(
            (r["completed_round"], r["discovery_seq"], r["url"])
        )
    bad = []
    for dom in sorted(set(expect) | set(popped)):
        got = [u for _, _, u in sorted(popped.get(dom, []))]
        want = expect.get(dom, [])[: rounds * quota]
        if got != want:
            bad.append(f"key {dom}: popped {got[:3]}... want {want[:3]}... "
                       f"({len(got)} vs {len(want)})")
    return bad[:5]


def bulk_conservation(frontier: pa.Table, pending: list[dict],
                      completed: list[dict]) -> list[str]:
    """Remaining pending rows plus completed rows are exactly the input
    frontier, with no duplicate ``url_hash``."""
    bad = []
    hashes = Counter(r["url_hash"] for r in pending) + Counter(
        r["url_hash"] for r in completed
    )
    dups = [h for h, n in hashes.items() if n > 1]
    if dups:
        bad.append(f"{len(dups)} duplicate url_hash values, e.g. {dups[:3]}")
    urls = Counter(r["url"] for r in pending) + Counter(r["url"] for r in completed)
    want = Counter(frontier.column("url").to_pylist())
    if urls != want:
        bad.append(
            f"pending+completed != input frontier: {len(urls - want)} extra, "
            f"{len(want - urls)} missing"
        )
    return bad


def bulk_no_admission(new_urls: list[int]) -> list[str]:
    """Every link target lies inside the frontier, so nothing is admitted."""
    return [f"round {i + 1} admitted {n} URLs" for i, n in enumerate(new_urls) if n]


def bulk_status_counts(stats: list[dict], completed: list[dict]) -> list[str]:
    """Per round, the per-status counts sum to the number scheduled and
    match the completed rows the round wrote."""
    rows: dict[int, Counter] = defaultdict(Counter)
    for r in completed:
        rows[r["completed_round"]][r["status"]] += 1
    bad = []
    for s in stats:
        if sum(s["by_status"].values()) != s["scheduled"]:
            bad.append(f"round {s['round_no']}: status counts {s['by_status']} "
                       f"sum != scheduled {s['scheduled']}")
        if dict(rows.get(s["round_no"], {})) != s["by_status"]:
            bad.append(f"round {s['round_no']}: reported {s['by_status']} but "
                       f"wrote {dict(rows.get(s['round_no'], {}))}")
    extra = set(rows) - {s["round_no"] for s in stats}
    if extra:
        bad.append(f"completed rows for unreported rounds {sorted(extra)}")
    return bad


# -- crawl-grow -----------------------------------------------------------
def crawl_vs_oracle(rows: list[dict], report: dict, oracle) -> list[str]:
    """The engine's seen set, per-URL status, per-domain fetch order and the
    four report outputs equal the oracle's after the same rounds."""
    bad = []
    e_status = {r["url"]: r["status"] for r in rows}
    o_status = {r.url: r.status for r in oracle.rows.values()}
    if set(e_status) != set(o_status):
        only_e = sorted(set(e_status) - set(o_status))[:3]
        only_o = sorted(set(o_status) - set(e_status))[:3]
        bad.append(f"seen set differs: engine-only {only_e}, oracle-only {only_o}")
    diffs = [(u, e_status[u], o_status[u]) for u in sorted(e_status)
             if u in o_status and e_status[u] != o_status[u]]
    if diffs:
        bad.append(f"{len(diffs)} statuses differ, e.g. {diffs[:3]}")
    e_order: dict[str, list[str]] = defaultdict(list)
    for r in sorted(
        (r for r in rows if r["completed_round"] is not None),
        key=lambda r: (r["registered_domain"], r["completed_round"],
                       r["discovery_seq"]),
    ):
        e_order[r["registered_domain"]].append(r["url"])
    for dom in sorted(set(oracle.fetch_order) | set(e_order)):
        if e_order.get(dom, []) != oracle.fetch_order.get(dom, []):
            bad.append(f"fetch order differs for {dom}")
    o_rep = oracle.report()
    for k in ("unique_pages", "longest_page", "subdomains", "top_words"):
        if _plain(report[k]) != _plain(o_rep[k]):
            bad.append(f"report {k} differs: {str(report[k])[:80]} vs "
                       f"{str(o_rep[k])[:80]}")
    return bad


def resumed_at(resumed: int, committed: int) -> list[str]:
    """A fresh engine resumes at the round of the last snapshot."""
    if resumed != committed:
        return [f"resumed at round {resumed}, last commit was round {committed}"]
    return []


def _plain(v):
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    return v


# -- dedup-queries --------------------------------------------------------
def _canon_type(t: pa.DataType) -> str:
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_canon_type(t.value_type)}>"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    return str(t)


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def query_rows(name: str, got: pa.Table, want: pa.Table) -> list[str]:
    """A query's rows equal DuckDB's: same columns and types (the type
    matters: a HUGEINT sum is not a BIGINT one), same multiset of rows
    (floats to 9 significant digits)."""
    g_cols = sorted(c.lower() for c in got.column_names)
    w_cols = sorted(c.lower() for c in want.column_names)
    if g_cols != w_cols:
        return [f"{name}: columns {got.column_names} vs {want.column_names}"]
    g = got.rename_columns([c.lower() for c in got.column_names]).select(g_cols)
    w = want.rename_columns([c.lower() for c in want.column_names]).select(w_cols)
    g_types = [_canon_type(f.type) for f in g.schema]
    w_types = [_canon_type(f.type) for f in w.schema]
    if g_types != w_types:
        return [f"{name}: types {g_types} vs {w_types}"]
    if g.num_rows != w.num_rows:
        return [f"{name}: {g.num_rows} rows vs {w.num_rows}"]
    gr = sorted(tuple(_norm(v) for v in r.values()) for r in g.to_pylist())
    wr = sorted(tuple(_norm(v) for v in r.values()) for r in w.to_pylist())
    if gr != wr:
        diff = [(a, b) for a, b in zip(gr, wr) if a != b][:2]
        return [f"{name}: rows differ, e.g. {diff}"]
    return []
