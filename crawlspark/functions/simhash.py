"""SimHash fingerprinting + the Hamming-candidate join.

Reference: /root/reference/crawler/simhash.py (64-bit simhash over a word
Counter; similarity = fraction of equal bits, threshold 0.95 at
crawler/worker.py:36 ⇔ Hamming distance ≤ 3).

Deviation (documented, SURVEY.md §2.8): the reference hashes tokens with
builtin ``hash()`` (simhash.py:21) which is salted per process
(PYTHONHASHSEED) — non-reproducible. The engine uses the first 8 bytes of
md5(token) as a big-endian uint64: deterministic across processes, engines
and runs.

Candidate search is one multi-index join (Norouzi et al., "Fast Search in
Hamming Space with Multi-Index Hashing"), ``hamming_pairs``: split the
fingerprint into ``chunks`` chunks; a pair within Hamming ``h`` differs
in at most ``h // chunks`` bits in SOME chunk (pigeonhole), so probing
every chunk value within that radius of each chunk finds every pair —
recall is exact for any ``h``. The crawl's near-dup probe, the phash and
cross-modal self-joins and the 60-bit ``simhash_pairs`` query all run it.
"""

from __future__ import annotations

from hashlib import md5
from itertools import combinations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def token_hash64(token: str) -> int:
    """Deterministic uint64 token hash (md5 head), as python int."""
    return int.from_bytes(md5(token.encode("utf-8")).digest()[:8], "big")


def simhash_counter(counts: dict[str, int]) -> int:
    """Pure-Python twin (conformance oracle). Weighted-bit simhash:
    bit i of the fingerprint is 1 iff Σ±count over tokens (by bit i of the
    token hash) is > 0. Returns signed int64."""
    if not counts:
        return 0
    hs = np.array([token_hash64(t) for t in counts], dtype=np.uint64)
    ws = np.array(list(counts.values()), dtype=np.int64)
    bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(np.int64)
    acc = ((2 * bits - 1) * ws[:, None]).sum(axis=0)
    fp = np.uint64(0)
    for i in range(64):
        if acc[i] > 0:
            fp |= np.uint64(1) << np.uint64(i)
    return int(fp.astype(np.int64))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def _radius_masks(width: int, radius: int) -> list[int]:
    """Every ``width``-bit XOR mask with at most ``radius`` bits set."""
    return [
        sum(1 << b for b in bits)
        for r in range(radius + 1)
        for bits in combinations(range(width), r)
    ]


def hamming_pairs(
    probe: DataFrame,
    exact: DataFrame,
    max_hamming: int,
    bits: int = 64,
    chunks: int = 4,
    broadcast_exact: bool = False,
) -> DataFrame:
    """Distinct (probe payload, exact payload) rows whose ``fp`` columns
    are within Hamming ``max_hamming``. Both frames carry a ``bits``-wide
    fingerprint (higher bits zero) as ``fp``; the other columns are
    payload (names must not collide).

    Chunk ``c`` of width ``W = ceil(bits / chunks)`` is keyed
    ``c·2^W + chunk_c``: the exact side explodes its ``chunks`` keys, the
    probe side every key within radius ``max_hamming // chunks`` of its
    own (``[0]`` masks at radius 0). ``broadcast_exact`` forces the exact
    side into a broadcast hash join (the caller size-gates it); otherwise
    both sides shuffle on the key."""
    width = -(-bits // chunks)
    masks = F.array(
        *[F.lit(m) for m in _radius_masks(width, max_hamming // chunks)]
    ).cast("array<bigint>")
    keys = F.array(
        *[
            F.lit(c << width)
            + F.shiftrightunsigned(F.col("fp"), c * width).bitwiseAND(
                F.lit((1 << width) - 1)
            )
            for c in range(chunks)
        ]
    )
    variants = F.flatten(
        F.transform(keys, lambda k: F.transform(masks, lambda m: k.bitwiseXOR(m)))
    )
    payload = [c for c in probe.columns + exact.columns if c != "fp"]
    a = probe.select("*", F.explode(variants).alias("_key"))
    b = exact.select("*", F.explode(keys).alias("_key"))
    return (
        a.withColumnRenamed("fp", "_fa")
        .join(F.broadcast(b) if broadcast_exact else b, "_key")
        .filter(hamming64(F.col("_fa"), F.col("fp")) <= max_hamming)
        .select(*payload)
        .distinct()
    )


def lsh_similar_pairs(
    df: DataFrame,
    id_col: str,
    sim_col: str = "simhash",
    max_hamming: int = 3,
) -> DataFrame:
    """All (id_a < id_b) pairs with Hamming(``sim_col``) ≤ max_hamming:
    the 64-bit ``hamming_pairs`` self-join, both sides shuffled on the
    chunk key (recall exact for any ``max_hamming``)."""
    return hamming_pairs(
        df.select(F.col(id_col).alias("id_a"), F.col(sim_col).alias("fp")),
        df.select(F.col(id_col).alias("id_b"), F.col(sim_col).alias("fp")),
        max_hamming,
    ).filter(F.col("id_a") < F.col("id_b"))
