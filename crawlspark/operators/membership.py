"""Partition-local bloom membership filter for the URL-seen set.

north_rule: "URL canonicalization + 64-bit hashing feeding a
partition-local bloom/cuckoo URL-seen filter" — the engine ships the
bloom filter, opt-in via ``extra["use_bloom"]``. Semantics contract
(SURVEY.md §2.5): the filter is an OPTIMIZATION — a fast probabilistic
reject in front of the exact anti-join. No false negatives ever (a key
that was added always probes positive), so candidates that probe
negative are *definitely fresh* and skip the exact join; positives are
confirmed exactly. The seen-set therefore stays byte-identical to the
exact-join semantics.

Layout: the 64-bit keyspace is split into ``n_buckets`` hash buckets;
each bucket owns one bloom bit-array (binary blob row). Filters are
built and probed in Arrow ``applyInPandas`` (numpy bit ops — no JVM
bloom dependency, stays PySpark-native); incremental maintenance is a
bitwise OR merge of the round's delta filter into the bucket state.

Sizing (10^10 keys): 1024 buckets × ~10^7 keys × 12 bits ≈ 15 MB/bucket
blob — well under Arrow batch limits; k = 8 probes → FPR ≈ 3e-3
(bits-per-key 12, k = round(0.7·12)). At sandbox scale defaults are
smaller; the math is the same.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FILTER_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("filter", T.BinaryType()),
        T.StructField("n_items", T.LongType()),
    ]
)


def _probe_positions(keys: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(n, k) bit positions via double hashing of the already-64-bit key:
    h1 = key, h2 = odd(key >> 17); pos_i = (h1 + i·h2) mod m."""
    h1 = keys.astype(np.uint64)
    h2 = ((h1 >> np.uint64(17)) | np.uint64(1)).astype(np.uint64)
    i = np.arange(k, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % np.uint64(m_bits)).astype(np.int64)


def _build_blob(keys: np.ndarray, m_bits: int, k: int) -> bytes:
    bits = np.zeros((m_bits + 7) // 8, dtype=np.uint8)
    if len(keys):
        pos = _probe_positions(keys, m_bits, k).reshape(-1)
        np.bitwise_or.at(bits, pos // 8, (1 << (pos % 8)).astype(np.uint8))
    return bits.tobytes()


def _probe_blob(keys: np.ndarray, blob: bytes, m_bits: int, k: int) -> np.ndarray:
    bits = np.frombuffer(blob, dtype=np.uint8)
    pos = _probe_positions(keys, m_bits, k)
    hit = (bits[pos // 8] >> (pos % 8).astype(np.uint8)) & 1
    return hit.all(axis=1)


class BloomSeenFilter:
    """Bucketed bloom filter over url_hash keys, as DataFrame state."""

    def __init__(self, n_buckets: int = 64, bits_per_key: int = 12,
                 expected_keys_per_bucket: int = 200_000):
        self.n_buckets = n_buckets
        self.k = max(2, round(0.7 * bits_per_key))
        self.m_bits = expected_keys_per_bucket * bits_per_key

    def bucket_col(self, key):
        return F.pmod(key, F.lit(self.n_buckets)).cast("int")

    def build(self, keys: DataFrame, key_col: str = "url_hash") -> DataFrame:
        """(url_hash) → one (bucket, filter, n_items) row per bucket."""
        m_bits, k = self.m_bits, self.k
        n_buckets = self.n_buckets

        def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
            keys_np = pdf[key_col].to_numpy(dtype=np.int64)
            return pd.DataFrame(
                {
                    "bucket": [int(pdf["_bucket"].iloc[0])],
                    "filter": [_build_blob(keys_np, m_bits, k)],
                    "n_items": [len(keys_np)],
                }
            )

        bucketed = keys.select(
            F.col(key_col), self.bucket_col(F.col(key_col)).alias("_bucket")
        )
        return bucketed.groupBy("_bucket").applyInPandas(per_bucket, FILTER_SCHEMA)

    def merge(self, state: DataFrame, delta: DataFrame) -> DataFrame:
        """OR-merge two filter tables (incremental per-round maintenance)."""
        both = state.unionByName(delta)

        def or_merge(pdf: pd.DataFrame) -> pd.DataFrame:
            acc: np.ndarray | None = None
            n = 0
            for blob, cnt in zip(pdf["filter"], pdf["n_items"]):
                arr = np.frombuffer(bytes(blob), dtype=np.uint8)
                acc = arr.copy() if acc is None else np.bitwise_or(acc, arr)
                n += int(cnt)
            return pd.DataFrame(
                {"bucket": [int(pdf["bucket"].iloc[0])], "filter": [acc.tobytes()], "n_items": [n]}
            )

        return both.groupBy("bucket").applyInPandas(or_merge, FILTER_SCHEMA)

    def probe(self, candidates: DataFrame, filters: DataFrame,
              key_col: str = "url_hash") -> DataFrame:
        """Append ``maybe_seen:boolean``. False ⇒ definitely fresh (bloom
        has no false negatives); True ⇒ confirm with the exact anti-join."""
        m_bits, k = self.m_bits, self.k
        out_schema = T.StructType(
            [T.StructField(key_col, T.LongType()), T.StructField("maybe_seen", T.BooleanType())]
        )

        def per_bucket(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            keys_np = left[key_col].to_numpy(dtype=np.int64)
            # OR-merge every filter row for the bucket: a caller passing an
            # un-merged state ∪ delta frame must never cause a false
            # negative (the module's exactness contract)
            blobs = (
                [bytes(b) for b in right["filter"] if b is not None]
                if not right.empty
                else []
            )
            if not blobs:
                seen = np.zeros(len(keys_np), dtype=bool)
            else:
                acc = np.frombuffer(blobs[0], dtype=np.uint8).copy()
                for b in blobs[1:]:
                    acc |= np.frombuffer(b, dtype=np.uint8)
                seen = _probe_blob(keys_np, acc.tobytes(), m_bits, k)
            return pd.DataFrame({key_col: keys_np, "maybe_seen": seen})

        # cogroup: the filter blob crosses Arrow ONCE per bucket, never
        # per candidate row
        cand = candidates.select(
            F.col(key_col), self.bucket_col(F.col(key_col)).alias("bucket")
        )
        verdict = (
            cand.groupBy("bucket")
            .cogroup(filters.groupBy("bucket"))
            .applyInPandas(per_bucket, out_schema)
        )
        return candidates.join(verdict, key_col, "left").fillna({"maybe_seen": True})
