"""Perceptual image near-dup (VERDICT r5 item 5).

Training corpora carry the same image re-encoded, resized, or slightly
retouched thousands of times; byte-level dedup misses all of it. This
module computes the two standard perceptual fingerprints in pure numpy
over the repo's real decoders (BMP/PNG, `operators/multimodal.py`) and
finds near-dup pairs with the SAME pigeonhole Hamming-banded blocking the
SimHash text path uses — an equi-join on band buckets, never all-pairs.

Fingerprints (both public-domain constructions):
  * dHash (difference hash): 9x8 grayscale thumbnail, bit = pixel brighter
    than its right neighbor. Robust to uniform brightness/contrast shifts.
  * pHash (DCT hash, Zauner 2010 construction): 32x32 grayscale → 2D
    orthonormal DCT-II → top-left 8x8 low-frequency block → bit = coeff >
    median of the 63 AC coefficients (DC excluded from the median so a
    bright image doesn't bias every bit). Robust to resizing and mild
    noise because perturbations live in the discarded high frequencies.

Scale posture (100 TB): hashing is one Arrow-batched mapInPandas pass that
drops payload bytes immediately; blocking is `n_bands` int64 band keys per
image (pigeonhole-lossless for hamming ≤ n_bands-1, same guarantee and
same saturation trade as `dedup.simhash_dup_pairs` — band width
64//n_bands bits, check 2^width against corpus/max_bucket before raising
max_hamming); hot buckets are suppressed via broadcast anti-join; the
verify step is one codegen'd bit_count per candidate. No driver collect
anywhere.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.minhash import hamming64
from .multimodal import (
    _decodable_image,
    decode_image_real,
    encode_bmp,
    resize_nearest,
)

PHASH_BITS = 64


def _to_gray(img: np.ndarray) -> np.ndarray:
    """(H, W, 3) uint8 → (H, W) float64 luma (BT.601 — the same weights
    the repo's quality features use)."""
    x = img.astype(np.float64)
    return 0.299 * x[:, :, 0] + 0.587 * x[:, :, 1] + 0.114 * x[:, :, 2]


def _bits_to_i64(bits: np.ndarray) -> int:
    """Pack a 64-element 0/1 array (bit 0 = LSB) into a SIGNED int64 —
    Spark LongType wraps at 2^63, numpy must match it exactly."""
    v = 0
    for i, b in enumerate(bits):
        if b:
            v |= 1 << i
    return v - (1 << 64) if v >= (1 << 63) else v


def dhash64(img: np.ndarray) -> int:
    """64-bit difference hash of an (H, W, 3) uint8 image."""
    g = resize_nearest(_to_gray(img), 8, 9)
    return _bits_to_i64((g[:, :-1] > g[:, 1:]).reshape(-1))


def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis: D @ x is the 1-D DCT of x."""
    j = np.arange(n)[:, None].astype(np.float64)
    x = np.arange(n)[None, :].astype(np.float64)
    d = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * x + 1) * j / (2 * n))
    d[0] /= np.sqrt(2.0)
    return d


_DCT32 = _dct_matrix(32)


def phash64(img: np.ndarray) -> int:
    """64-bit DCT perceptual hash of an (H, W, 3) uint8 image."""
    g = resize_nearest(_to_gray(img), 32, 32)
    coeffs = (_DCT32 @ g @ _DCT32.T)[:8, :8].reshape(-1)
    med = np.median(coeffs[1:])  # AC median; DC excluded
    return _bits_to_i64(coeffs > med)


def image_phash_table(assets: DataFrame) -> DataFrame:
    """(asset_id, dhash:long, phash:long) for every decodable image asset.

    Arrow-batched mapInPandas; payload bytes never leave the stage.
    Undecodable/compressed-format rows are skipped (at scale they route to
    the codec-gated decode service; here the honest sandbox gate applies —
    see multimodal.decode_image_real).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, dhs, phs = [], [], []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                if payload is None:
                    continue
                raw = bytes(payload)
                if not _decodable_image(raw):
                    continue
                try:
                    img = decode_image_real(raw)
                except (ValueError, NotImplementedError):
                    continue
                ids.append(aid)
                dhs.append(dhash64(img))
                phs.append(phash64(img))
            yield pd.DataFrame(
                {
                    "asset_id": pd.Series(ids, dtype="int64"),
                    "dhash": pd.Series(dhs, dtype="int64"),
                    "phash": pd.Series(phs, dtype="int64"),
                }
            )

    return (
        assets.filter(F.col("kind") == "image")
        .select("asset_id", "payload")
        .mapInPandas(run, "asset_id long, dhash long, phash long")
    )


def phash_band_buckets(
    fps: DataFrame,
    fp_col: str = "phash",
    n_bands: int = 4,
    bits: int = PHASH_BITS,
) -> DataFrame:
    """Explode (asset_id, fp) into (asset_id, fp, bucket) band rows.

    Pigeonhole: two fingerprints within Hamming distance n_bands-1 agree
    exactly on at least one of the n_bands disjoint bit slices, so the
    bucket equi-join is lossless for hamming ≤ n_bands-1.
    """
    width = bits // n_bands
    bandcols = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_id"),
                F.shiftrightunsigned(F.col(fp_col), i * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("band_val"),
            )
            for i in range(n_bands)
        ]
    )
    return (
        fps.select("asset_id", fp_col, F.explode(bandcols).alias("b"))
        .select(
            "asset_id",
            fp_col,
            F.concat_ws(":", F.col("b.band_id"), F.col("b.band_val")).alias(
                "bucket"
            ),
        )
    )


def image_near_dup_pairs(
    assets: DataFrame,
    max_hamming: int = 3,
    fp_col: str = "phash",
    n_bands: int | None = None,
    max_bucket: int = 200,
) -> DataFrame:
    """(id1, id2, hamming) image pairs with perceptual-hash distance ≤
    max_hamming — the image twin of `dedup.simhash_dup_pairs`.

    n_bands defaults to max_hamming + 1 (the minimum preserving the
    pigeonhole guarantee, widest bands → least bucket saturation; same
    ADVICE-r1 lesson as the SimHash path). Band width is 64 // n_bands
    bits, so viability at corpus size S requires 2^(64//n_bands) ≫
    S/max_bucket — with the default max_hamming=3 that is 2^16 buckets per
    band, fine to tens of millions of images per shard.
    """
    if n_bands is None:
        n_bands = max_hamming + 1
    fps = image_phash_table(assets).select("asset_id", fp_col)
    buckets = phash_band_buckets(fps, fp_col, n_bands)
    hot = (
        buckets.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > max_bucket)
        .select("bucket")
    )
    buckets = buckets.join(F.broadcast(hot), "bucket", "left_anti")
    left = buckets.select(
        "bucket", F.col("asset_id").alias("id1"), F.col(fp_col).alias("fp1")
    )
    right = buckets.select(
        "bucket", F.col("asset_id").alias("id2"), F.col(fp_col).alias("fp2")
    )
    cand = (
        left.join(right, "bucket")
        .filter(F.col("id1") < F.col("id2"))
        .dropDuplicates(["id1", "id2"])
    )
    return cand.select(
        "id1", "id2", hamming64("fp1", "fp2").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def synth_image_corpus(
    spark,
    n_groups: int = 6,
    group_size: int = 3,
    n_distinct: int = 24,
    seed: int = 7,
    fmt: str = "bmp",
) -> DataFrame:
    """Deterministic planted near-dup image fixture: n_groups base images,
    each re-emitted group_size times with a few lightly perturbed pixels
    (the retouch/re-encode case), plus n_distinct unrelated images.
    asset_id = group * 1000 + variant for planted rows, 900000+i for
    distinct rows — tests recover the planted grouping from id // 1000.
    """
    from .jpeg_codec import encode_jpeg
    from .multimodal import encode_png

    rng = np.random.default_rng(seed)
    enc = {"bmp": encode_bmp, "png": encode_png, "jpeg": encode_jpeg}[fmt]
    rows = []
    for g in range(n_groups):
        base = rng.integers(0, 256, size=(48, 64, 3)).astype(np.uint8)
        # heavy smoothing → low-frequency content, so perturbations land
        # in the DCT tail exactly like real-world retouches
        base = base.astype(np.float64)
        for _ in range(3):
            base = (base + np.roll(base, 1, 0) + np.roll(base, 1, 1)) / 3.0
        base = base.astype(np.uint8)
        for v in range(group_size):
            img = base.copy()
            if v > 0:
                ys = rng.integers(0, 48, size=8)
                xs = rng.integers(0, 64, size=8)
                img[ys, xs] = rng.integers(0, 256, size=(8, 3))
            rows.append((g * 1000 + v, "image", enc(img), f"image/{fmt}",
                         64, 48, None))
    for i in range(n_distinct):
        img = rng.integers(0, 256, size=(48, 64, 3)).astype(np.uint8)
        rows.append((900000 + i, "image", enc(img), f"image/{fmt}",
                     64, 48, None))
    from .multimodal import ASSET_SCHEMA

    return spark.createDataFrame(rows, ASSET_SCHEMA)
