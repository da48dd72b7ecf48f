from __future__ import annotations

import numpy as np
import pytest

from dig_entity_resolution_spark.operators.multimodal import (
    N_FEATURES,
    decode_bmp,
    decode_image_real,
    decode_wav,
    encode_bmp,
    encode_wav,
    extract_features,
    frame_sample_plan,
    resize_nearest,
    synth_assets,
    thumbnail_images,
)


# -- real codecs (pure numpy/struct, no external libs) ------------------------


def test_bmp_roundtrip_exact():
    rng = np.random.default_rng(5)
    for h, w in ((1, 1), (7, 3), (16, 24), (33, 31)):  # odd widths hit row padding
        img = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
        assert np.array_equal(decode_bmp(encode_bmp(img)), img)


def test_wav_roundtrip_exact():
    rng = np.random.default_rng(6)
    samples = (rng.standard_normal(1600) * 10000).astype(np.int16)
    out, rate = decode_wav(encode_wav(samples, rate=8000))
    assert rate == 8000
    assert np.array_equal(out, samples)


def test_resize_nearest():
    img = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
    small = resize_nearest(img, 2, 3)
    assert small.shape == (2, 3, 3)
    assert np.array_equal(small[0, 0], img[0, 0])
    big = resize_nearest(img, 8, 12)
    assert big.shape == (8, 12, 3)
    assert np.array_equal(big[::2, ::2], img)  # each pixel duplicated 2x2


def test_decode_image_real_bmp_yes_compressed_no():
    img = np.zeros((4, 4, 3), dtype=np.uint8)
    assert decode_image_real(encode_bmp(img)).shape == (4, 4, 3)
    # PNG and JPEG decode FOR REAL — a bare signature or a truncated jpeg
    # is MALFORMED (ValueError); WebP (lossless or lossy) is codec-gated
    with pytest.raises(ValueError):
        decode_image_real(b"\x89PNG\r\n\x1a\n")
    with pytest.raises(ValueError):
        decode_image_real(b"\xff\xd8\xff\xe0jpeg")
    for payload in (
        b"RIFF\x00\x00\x00\x00WEBPVP8L",
        b"RIFF\x00\x00\x00\x00WEBPVP8 ",
    ):
        with pytest.raises(NotImplementedError):
            decode_image_real(payload)


# -- Spark-side stages ---------------------------------------------------------


def test_extract_features_shape_and_determinism(spark):
    assets = synth_assets(spark, n=30)
    rows = extract_features(assets).collect()
    assert len(rows) == 30
    for r in rows:
        assert len(r.features) == N_FEATURES
    again = extract_features(synth_assets(spark, n=30)).collect()
    a = {r.asset_id: tuple(r.features) for r in rows}
    b = {r.asset_id: tuple(r.features) for r in again}
    assert a == b


def test_extract_features_real_decode_paths(spark):
    """Images/audio in the fixture are REAL BMP/WAV payloads — their
    features must come from the decoded pixels/samples, not the byte
    histogram (whose 16 bins sum to 1; the real feature vectors end in the
    1.0 fill marker and carry aspect ratio / duration instead)."""
    assets = synth_assets(spark, n=30)
    rows = {r.asset_id: (r.kind, list(r.features)) for r in extract_features(assets).collect()}
    meta = {r.asset_id: r for r in assets.collect()}
    for aid, (kind, f) in rows.items():
        if kind == "image":
            assert f[15] == 1.0
            assert f[14] == pytest.approx(meta[aid].width / meta[aid].height)
        elif kind == "audio":
            assert f[15] == 1.0
            assert f[3] == pytest.approx(meta[aid].duration_ms / 1000, rel=0.05)
            assert f[0] > 0.1  # sine RMS, not near-silence
        else:  # video: compressed container → byte-histogram fallback
            assert sum(f) == pytest.approx(1.0)


def test_webp_payload_gets_histogram_features(spark):
    """A lossless-WebP payload is codec-gated: extract_features does not
    raise and falls back to the byte histogram (16 bins summing to 1), and
    thumbnail_images skips the row."""
    from dig_entity_resolution_spark.operators.multimodal import ASSET_SCHEMA

    payload = b"RIFF\x00\x00\x00\x00WEBPVP8L" + bytes(range(256))
    rows = [(1, "image", bytearray(payload), "image/webp", 8, 8, None)]
    df = spark.createDataFrame(rows, ASSET_SCHEMA)
    feats = extract_features(df).collect()[0].features
    assert len(feats) == N_FEATURES
    assert sum(feats) == pytest.approx(1.0)
    assert thumbnail_images(df).collect() == []


def test_thumbnail_images_real_resize(spark):
    assets = synth_assets(spark, n=12)
    thumbs = {r.asset_id: bytes(r.thumb) for r in thumbnail_images(assets, 8, 8).collect()}
    imgs = {r.asset_id for r in assets.collect() if r.kind == "image"}
    assert set(thumbs) == imgs
    for payload in thumbs.values():
        assert decode_bmp(payload).shape == (8, 8, 3)


def test_frame_sample_plan(spark):
    assets = synth_assets(spark, n=12)
    plan = frame_sample_plan(assets, every_ms=1000).collect()
    by_asset = {}
    for r in plan:
        by_asset.setdefault(r.asset_id, []).append(r.frame_ts_ms)
    vids = {r.asset_id: r.duration_ms for r in assets.collect() if r.kind == "video"}
    assert set(by_asset) == set(vids)
    for aid, frames in by_asset.items():
        assert frames == list(range(0, vids[aid], 1000))


def test_png_roundtrip_exact():
    """r5: PNG decodes for REAL (stdlib zlib) — encode→decode must be
    pixel-exact."""
    import numpy as np

    from dig_entity_resolution_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(13, 9, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(img)), img)


def test_png_all_filter_types_and_color_types():
    """Hand-build PNGs exercising every scanline filter (Sub/Up/Average/
    Paeth) and the gray + RGBA color types, checked against a pure-Python
    reference filter implementation."""
    import struct
    import zlib

    import numpy as np

    from dig_entity_resolution_spark.operators.multimodal import decode_png

    def build_png(img, ctype, filters):
        h, w = img.shape[:2]
        ch = 1 if img.ndim == 2 else img.shape[2]
        flat = img.reshape(h, w * ch).astype(int)
        raw = b""
        prev = [0] * (w * ch)
        for y in range(h):
            ft = filters[y % len(filters)]
            line = list(flat[y])
            enc = []
            for x in range(w * ch):
                a = line[x - ch] if x >= ch else 0
                b = prev[x]
                c = prev[x - ch] if x >= ch else 0
                if ft == 0:
                    pred = 0
                elif ft == 1:
                    pred = a
                elif ft == 2:
                    pred = b
                elif ft == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc.append((line[x] - pred) & 0xFF)
            raw += bytes([ft]) + bytes(enc)
            prev = line

        def chunk(tag, body):
            return (
                struct.pack(">I", len(body))
                + tag
                + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
            )

        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    rng = np.random.default_rng(11)
    # RGB with every filter type in rotation
    rgb = rng.integers(0, 256, size=(10, 7, 3), dtype=np.uint8)
    assert np.array_equal(
        decode_png(build_png(rgb, 2, [0, 1, 2, 3, 4])), rgb
    )
    # grayscale → broadcast to 3 channels
    gray = rng.integers(0, 256, size=(6, 5), dtype=np.uint8)
    got = decode_png(build_png(gray, 0, [4, 3, 2, 1]))
    assert got.shape == (6, 5, 3)
    assert np.array_equal(got[:, :, 0], gray)
    assert np.array_equal(got[:, :, 1], gray)
    # RGBA → alpha dropped
    rgba = rng.integers(0, 256, size=(5, 4, 4), dtype=np.uint8)
    got = decode_png(build_png(rgba, 6, [2, 4]))
    assert np.array_equal(got, rgba[:, :, :3])


def test_png_unsupported_variants_raise():
    import pytest as _pytest

    from dig_entity_resolution_spark.operators.multimodal import (
        decode_image_real,
        decode_png,
    )

    with _pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"\xff\xd8\xff\xe0 not png")
    # jpeg decodes for real — truncated stream is malformed; lossless
    # WebP is codec-gated, not decoded
    with _pytest.raises(ValueError, match="JPEG"):
        decode_image_real(b"\xff\xd8\xff\xe0" + b"\x00" * 32)
    with _pytest.raises(NotImplementedError):
        decode_image_real(b"RIFF\x00\x00\x00\x00WEBPVP8L" + b"\x00" * 32)


def test_png_feature_and_thumbnail_paths(spark):
    """PNG payloads flow through the REAL decode in feature extraction
    (histogram sums to ~1 over luma bins, not the byte-histogram shape)
    and through thumbnail_images."""
    import numpy as np

    from dig_entity_resolution_spark.operators.multimodal import (
        ASSET_SCHEMA,
        decode_bmp,
        encode_png,
        extract_features,
        thumbnail_images,
    )

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(12, 8, 3), dtype=np.uint8)
    rows = [(1, "image", bytearray(encode_png(img)), "image/png", 8, 12, None)]
    df = spark.createDataFrame(rows, ASSET_SCHEMA)
    feats = extract_features(df).collect()[0].features
    # real image features: slot 14 is aspect ratio w/h, slot 15 the fill 1.0
    assert abs(feats[14] - 8 / 12) < 1e-9 and feats[15] == 1.0
    thumb = thumbnail_images(df, out_h=4, out_w=4).collect()
    assert len(thumb) == 1
    assert decode_bmp(bytes(thumb[0].thumb)).shape == (4, 4, 3)


def test_png_corrupt_payloads_fall_back_not_crash(spark):
    """Corrupt PNG bytes (bad deflate, truncated chunks) must surface as
    ValueError — and therefore fall back to byte-histogram features in
    the Spark stage instead of killing the UDF."""
    import numpy as np

    from dig_entity_resolution_spark.operators.multimodal import (
        ASSET_SCHEMA,
        decode_png,
        encode_png,
        extract_features,
    )

    good = encode_png(np.zeros((4, 4, 3), dtype=np.uint8))
    # IDAT body starts at byte 41 (sig 8 + IHDR chunk 25 + len 4 + tag 4);
    # byte 41 is the zlib CMF header — corrupting it guarantees a
    # deterministic zlib "incorrect header check" (a flip at byte 40 only
    # mangled the chunk TAG, skipping IDAT entirely — r5 review)
    assert good[37:41] == b"IDAT"
    bad_deflate = good[:41] + bytes([good[41] ^ 0xFF]) + good[42:]
    truncated = good[:20]
    for payload in (bad_deflate, truncated):
        with pytest.raises(ValueError):
            decode_png(payload)
    rows = [
        (1, "image", bytearray(bad_deflate), "image/png", 4, 4, None),
        (2, "image", bytearray(truncated), "image/png", 4, 4, None),
    ]
    feats = extract_features(spark.createDataFrame(rows, ASSET_SCHEMA)).collect()
    assert len(feats) == 2  # rows survive with fallback features


def test_png_decompression_bomb_bounded():
    """An IHDR declaring huge dimensions must be rejected BEFORE inflating
    (decode cap), and a stream inflating past its declared size must raise
    — never allocate unbounded memory inside the UDF (r5 review)."""
    import struct
    import zlib

    from dig_entity_resolution_spark.operators.multimodal import decode_png

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"
    # 100000 x 100000 RGB claims ~30 GB of pixel bytes from a tiny payload
    bomb = (
        sig
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 100000, 100000, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 4096))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="decode cap"):
        decode_png(bomb)
    # dimensions under the cap but stream inflating PAST them
    over = (
        sig
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 10000))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="exceeds declared"):
        decode_png(over)
    # r6 advice: w=0 or h=0 makes expected=0, and decompress(idat,
    # max_length=0) means UNLIMITED — the bomb inflates fully before the
    # length check. Zero dimensions must be rejected right after IHDR.
    for w, h in [(0, 100000), (100000, 0), (0, 0)]:
        zero_bomb = (
            sig
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(b"\x00" * (1 << 20)))
            + chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="zero not allowed"):
            decode_png(zero_bomb)


def test_pack_sequences_rejects_zero_token_docs(spark):
    """A counter returning 0 (e.g. BPE on empty text) must fail loudly —
    a zero-width span corrupts the chunk arithmetic downstream (r5
    review, confirmed crash in pack_chunk_stats before the guard)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from dig_entity_resolution_spark.operators.packing import pack_sequences

    d = spark.createDataFrame(
        [(1, "ab cd"), (2, "")], "doc_id long, text string"
    )
    counter = lambda c: F.size(F.filter(F.split(c, " "), lambda w: w != F.lit("")))  # noqa: E731
    with _pytest.raises(Exception, match="non-positive token count"):
        pack_sequences(
            d, "doc_id", "text", capacity=4, token_count=counter
        ).collect()
    # and the clean slice still packs fine with the same counter
    ok = pack_sequences(
        d.filter(F.col("doc_id") == 1), "doc_id", "text", capacity=4,
        token_count=counter,
    ).collect()
    assert ok[0].n_tokens == 2
