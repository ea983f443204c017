"""Seeded input generators for the three benchmark workloads.

Every input is a pure function of (workload, seed, size); the program
under test only ever sees the files written here. Inputs are cached under
``.perfbench_cache/<workload>-s<seed>-<size>/`` at the checkout root
(git-ignored), so a repeated seed skips generation.

    python3 perfbench/inputs.py --workload dedup-queries --seed 3 [--fresh]

makes one workload's inputs (and, for dedup-queries, the DuckDB results of
``oracle_sql()``) anew when ``--fresh`` is given.
"""

from __future__ import annotations

import argparse
import os
import re
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")

# crawl-bulk: the bench.py frontier shape (benchcorpus), small enough for
# a few rounds per run. 40 pages per domain on average keeps every key
# non-empty for the whole run, so each round schedules about the same batch.
BULK_PAGES = 40_000
BULK_DOMAINS = 1_000
BULK_FANOUT = 6
BULK_VOCAB = 400

# crawl-grow: the crawlspark.corpus payload corpus, crawled from one seed
# URL in every domain. Each round then schedules one URL per domain, and
# 200 URLs a round meet every fetch outcome (redirect, error, low-data,
# near-dup), so the engine's data-dependent shortcuts fire alike in every
# round and for every seed.
GROW_PAGES = 2_000
GROW_DOMAINS = 200

# dedup-queries: sf0.1 sizes of the repo's testdata (documents 5,000 rows,
# embeddings 2,000 rows). The seed picks one of DEDUP_VARIANTS corpora:
# the DuckDB reference results take ~17 s per corpus on 4 cores, so a
# checkout computes them at most DEDUP_VARIANTS times.
DEDUP_DOCS = 5_000
DEDUP_VECS = 2_000
DEDUP_DIM = 64
DEDUP_VARIANTS = 2
DEDUP_QUERIES = (
    "simhash_pairs",
    "ngram_jaccard",
    "minhash_lsh",
    "dedup_clusters",
    "dedup_keep_best",
    "dust_rules",
    "dust_apply",
    "embedding_neardup_lsh",
)

DEDUP_VOCAB = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data "
    "join the customer vector"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _write_atomic(out: str, tables: dict[str, pa.Table]) -> None:
    """Write every table into a temp dir, then rename it into place, so a
    killed run never leaves a half-written cache entry behind."""
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


# -- crawl-bulk -----------------------------------------------------------
def _bulk_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n, d = BULK_PAGES, BULK_DOMAINS
    # dom = floor(D * u^2.5): the benchcorpus Zipfian head (one hot domain)
    dom = np.minimum((d * rng.random(n) ** 2.5).astype(np.int64), d - 1)
    sub = rng.integers(0, 4, n)
    doms = [f"d{k:04d}.example" for k in dom]
    hosts = [r if s == 0 else f"s{s}.{r}" for r, s in zip(doms, sub)]
    urls = [f"https://{h}/wiki/p{i:08d}" for i, h in enumerate(hosts)]
    ids = np.arange(n)
    status = np.full(n, 200, np.int32)
    status[ids % 83 == 3] = 500
    status[ids % 89 == 2] = 404
    status[ids % 97 == 1] = 301
    redirect = [urls[(i + 7) % n] if s == 301 else None for i, s in enumerate(status)]
    ctype = np.where(ids % 103 == 6, "application/pdf", "text/html")
    words = rng.integers(0, BULK_VOCAB, (n, 40))
    captions = [" ".join(f"w{w:03d}" for w in row) for row in words]
    clen = np.array([len(c) + 1000 for c in captions], np.int64)
    clen[ids % 101 == 5] = 20_000_000
    clen[ids % 79 == 4] = 0
    # every link target is a frontier URL: admission sees only seen keys
    n_links = rng.integers(0, BULK_FANOUT + 1, n)
    targets = rng.integers(0, n, int(n_links.sum()))
    links, at = [], 0
    for k in n_links:
        links.append([urls[t] for t in targets[at:at + k]])
        at += k
    pages = pa.table({
        "canonical_url": urls,
        "status": pa.array(status),
        "redirect_to": pa.array(redirect, pa.string()),
        "content_type": pa.array(ctype.tolist()),
        "content_length": pa.array(clen),
        "caption": captions,
        "out_links": pa.array(links, pa.list_(pa.string())),
    })
    frontier = pa.table({
        "url": urls,
        "host": hosts,
        "registered_domain": doms,
        "path": [f"/wiki/p{i:08d}" for i in range(n)],
        "discovery_seq": pa.array(ids, pa.int64()),
    })
    robots = pa.table({
        "registered_domain": [f"d{k:04d}.example" for k in range(d)],
        "body": ["User-agent: *\nDisallow: /private/\nDisallow: /admin/\n"
                 "Allow: /admin/public/\n"] * d,
    })
    return {"pages": pages, "frontier": frontier, "robots": robots}


# -- crawl-grow -----------------------------------------------------------
_DOM_RE = re.compile(r"^https://(?:s\d\.)?d(\d+)\.example/wiki/")


def _grow_seeds(pages: pa.Table) -> list[str]:
    """The lowest-index /wiki/ page of every domain, whatever its status, so
    round 1 meets redirects and errors at the corpus's usual rates."""
    first: dict[int, str] = {}
    for url in pages.column("canonical_url").to_pylist():
        m = _DOM_RE.match(url)
        if m:
            first.setdefault(int(m.group(1)), url)
    return [first[k] for k in sorted(first)]


def _grow_tables(seed: int) -> dict[str, pa.Table]:
    from crawlspark import corpus as C

    tables = C.generate(
        # the engine never reads the image payload: the smallest images
        # keep generation cheap
        C.CorpusSpec(n_pages=GROW_PAGES, n_domains=GROW_DOMAINS, seed=seed,
                     img_sizes=(8,))
    )
    tables["seeds"] = pa.table({"url": _grow_seeds(tables["pages"])})
    return tables


# -- dedup-queries --------------------------------------------------------
def _dedup_tables(variant: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([variant, 3])
    texts: list[str] = []
    for i in range(DEDUP_DOCS):
        if i % 50 == 49:
            # planted near-dup: one-token perturbation of the predecessor
            toks = texts[-1].split()
            toks[0] = "zz" + toks[0]
            texts.append(" ".join(toks))
        else:
            words = rng.integers(0, len(DEDUP_VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(DEDUP_VOCAB[j] for j in words))
    docs = pa.table({
        "doc_id": pa.array(np.arange(DEDUP_DOCS), pa.int64()),
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), DEDUP_DOCS, p=LANG_P)],
        "source": [f"src{j}" for j in rng.integers(0, 20, DEDUP_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    # loose clusters: same-label cosines stay near 0.5, so no accidental
    # pair clears the 0.9 near-dup threshold (the queries plant twins)
    centers = rng.standard_normal((10, DEDUP_DIM))
    labels = rng.integers(0, 10, DEDUP_VECS)
    vecs = (centers[labels] + rng.standard_normal((DEDUP_VECS, DEDUP_DIM))).astype(
        np.float32
    )
    emb = pa.table({
        "vec_id": pa.array(np.arange(DEDUP_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return {"documents": docs, "embeddings": emb}


def dedup_oracle(in_dir: str) -> dict[str, dict]:
    """DuckDB results of ``oracle_sql()`` for the dedup queries, written as
    ``oracle_<query>.parquet`` next to the inputs."""
    import duckdb

    sys.path.insert(0, ROOT)
    import __spark_entry__ as E

    sql = E.oracle_sql()
    con = duckdb.connect()
    con.sql(f"SET threads={os.cpu_count() or 1}")
    con.sql("SET enable_progress_bar=false")
    for t in ("documents", "embeddings"):
        con.sql(f"create view {t} as select * from '{in_dir}/{t}.parquet'")
    for q in DEDUP_QUERIES:
        tbl = con.sql(sql[q]).arrow()
        if isinstance(tbl, pa.RecordBatchReader):
            tbl = tbl.read_all()
        pq.write_table(tbl, os.path.join(in_dir, f"oracle_{q}.parquet"))
    con.close()


def dedup_variant(seed: int) -> int:
    return seed % DEDUP_VARIANTS


def input_dir(workload: str, seed: int) -> str:
    if workload == "crawl-bulk":
        tag = f"s{seed}-p{BULK_PAGES}-d{BULK_DOMAINS}"
    elif workload == "crawl-grow":
        tag = f"s{seed}-p{GROW_PAGES}-d{GROW_DOMAINS}"
    elif workload == "dedup-queries":
        tag = f"v{dedup_variant(seed)}-n{DEDUP_DOCS}-e{DEDUP_VECS}"
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return os.path.join(CACHE, f"{workload}-{tag}")


def cached(out: str) -> bool:
    return os.path.exists(os.path.join(out, "_DONE"))


def ensure(workload: str, seed: int, fresh: bool = False) -> str:
    """Path of the workload's input dir for ``seed``, generating it first
    when missing (or always, with ``fresh``)."""
    out = input_dir(workload, seed)
    if fresh or not cached(out):
        if workload == "crawl-bulk":
            tables = _bulk_tables(seed)
        elif workload == "crawl-grow":
            tables = _grow_tables(seed)
        else:
            tables = _dedup_tables(dedup_variant(seed))
        _write_atomic(out, tables)
        if workload == "dedup-queries":
            dedup_oracle(out)
        open(os.path.join(out, "_DONE"), "w").close()
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["crawl-bulk", "crawl-grow", "dedup-queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--fresh", action="store_true",
                    help="regenerate even when cached")
    a = ap.parse_args()
    print(ensure(a.workload, a.seed, a.fresh))


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    main()
