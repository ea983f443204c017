"""Image+caption payload validation — the per-row invariant of the graft.

input_hint: "decoded-pixel allclose (PSNR>=40dB for lossy) + caption
equality". Runs entirely in ``mapInPandas`` (Arrow batches); the decode /
hash / PSNR kernels are numpy (crawlspark.functions.images). Schema,
partitioning and batch shape are real; only the codec set is the sandbox
subset (raw/ppm/bmp/png/jpeg_sim — no system image libs offline).

Output per row: phash_computed, phash_ok, psnr (vs the deterministic
ground-truth pixel field), pixels_ok, caption_ok, valid.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawlspark.functions import images as I

PSNR_MIN_DB = 40.0

_VALIDATE_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("phash_computed", T.LongType()),
        T.StructField("phash_ok", T.BooleanType()),
        T.StructField("psnr", T.DoubleType()),
        T.StructField("pixels_ok", T.BooleanType()),
        T.StructField("caption_ok", T.BooleanType()),
        T.StructField("valid", T.BooleanType()),
    ]
)


def _validate_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from crawlspark.corpus import caption_for_id  # deterministic twin

    for pdf in batches:
        n = len(pdf)
        out = {
            "image_id": pdf["image_id"],
            "phash_computed": np.zeros(n, dtype=np.int64),
            "phash_ok": np.zeros(n, dtype=bool),
            "psnr": np.zeros(n, dtype=np.float64),
            "pixels_ok": np.zeros(n, dtype=bool),
            "caption_ok": np.zeros(n, dtype=bool),
        }
        for i in range(n):
            row = pdf.iloc[i]
            fmt, w, h = row["fmt"], int(row["w"]), int(row["h"])
            px = I.decode_image(bytes(row["bytes"]), fmt, w, h)
            truth = I.pixels_for_id(row["image_id"], w, h)
            p = I.psnr(truth, px)
            out["phash_computed"][i] = I.average_hash64(px)
            out["phash_ok"][i] = out["phash_computed"][i] == row["phash"]
            out["psnr"][i] = min(p, 999.0)
            out["pixels_ok"][i] = (
                p >= PSNR_MIN_DB if fmt in I.LOSSY_FMTS else bool(np.array_equal(truth, px))
            )
            out["caption_ok"][i] = row["caption"] == caption_for_id(row["image_id"])
        res = pd.DataFrame(out)
        res["valid"] = res["phash_ok"] & res["pixels_ok"] & res["caption_ok"]
        yield res


def validate_payloads(pages: DataFrame) -> DataFrame:
    """pages(image_id, bytes, w, h, fmt, caption, phash, ...) → validation
    report. Column-pruned input (only the 7 payload columns cross Arrow)."""
    cols = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    return pages.select(*cols).mapInPandas(_validate_batches, schema=_VALIDATE_SCHEMA)


_PHASH_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("phash_computed", T.LongType()),
    ]
)


def compute_phash(pages: DataFrame) -> DataFrame:
    """Just the fingerprint (decode → average-hash), for dedup pipelines."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals = [
                I.average_hash64(
                    I.decode_image(bytes(b), f, int(w), int(h))
                )
                for b, f, w, h in zip(pdf["bytes"], pdf["fmt"], pdf["w"], pdf["h"])
            ]
            yield pd.DataFrame(
                {"image_id": pdf["image_id"], "phash_computed": np.array(vals, dtype=np.int64)}
            )

    return pages.select("image_id", "bytes", "fmt", "w", "h").mapInPandas(
        gen, schema=_PHASH_SCHEMA
    )


def image_caption_neardup(
    corpus: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    caption_col: str = "caption",
    max_hamming: int = 3,
    min_jaccard: float = 0.4,
) -> DataFrame:
    """Joint CROSS-MODAL near-duplicate pairs over the north-rule corpus
    shape (image_id, ..., caption:string, phash:int64): a pair is a
    near-dup only when BOTH modalities agree — perceptual-hash Hamming
    ≤ ``max_hamming`` AND caption token-set Jaccard ≥ ``min_jaccard``.

    Plan (the 10^10-row shape): candidates come from the multi-index
    Hamming self-join on the phash column (functions/simhash.
    lsh_similar_pairs — ONE shuffle on the chunk key, recall
    pigeonhole-exact for any max_hamming); the caption Jaccard is then
    verified on the CANDIDATES ONLY via two joins back to the tokenized
    caption column.
    Text similarity is never computed all-pairs — the image modality
    bounds the candidate set, so caption verification is O(candidates),
    the cross-modal analogue of LSH-then-verify.

    REFERENCE — the reference crawler gates near-dup pages on ONE
    modality (crawler/simhash.py text fingerprints); an image+caption
    corpus needs agreement across both before dropping a pair.
    """
    from crawlspark.functions.simhash import hamming64, lsh_similar_pairs
    from crawlspark.functions.text import tokens

    cand = lsh_similar_pairs(
        corpus.select(id_col, phash_col), id_col, phash_col, max_hamming
    )
    sides = corpus.select(
        F.col(id_col).alias("_id"),
        F.col(phash_col).alias("_ph"),
        F.array_distinct(tokens(F.col(caption_col))).alias("_toks"),
    )
    a = sides.select(
        F.col("_id").alias("id_a"), F.col("_ph").alias("ph_a"), F.col("_toks").alias("t_a")
    )
    b = sides.select(
        F.col("_id").alias("id_b"), F.col("_ph").alias("ph_b"), F.col("_toks").alias("t_b")
    )
    jac = F.size(F.array_intersect("t_a", "t_b")) / F.size(F.array_union("t_a", "t_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            hamming64(F.col("ph_a"), F.col("ph_b")).cast("int").alias("hamming"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )
