"""Multimodal asset columns: opaque binary payloads + typed metadata.

Design for 100 TB training-data pipelines: image/audio/video payloads travel
as `binary` columns with a typed metadata struct; decode / feature-extract /
resize / frame-sample run as Arrow-batched mapInPandas stages so the heavy
bytes never pass through per-row Python or the driver.

Codec reality in this sandbox (no Pillow/libav):
  * UNCOMPRESSED formats are decoded FOR REAL with pure numpy/struct —
    24-bit BMP images (`decode_bmp`/`encode_bmp`) and PCM WAV audio
    (`decode_wav`/`encode_wav`), including a real nearest-neighbor resize.
    Round-tripped byte-exactly in tests.
  * PNG decodes FOR REAL too (r5): its compression is stdlib zlib, so
    `decode_png` needs no external library — chunk parse, inflate, and
    all five scanline filters (None/Sub/Up/Average/Paeth) in pure numpy,
    for 8-bit gray/RGB/RGBA non-interlaced. `encode_png` writes 8-bit
    RGB. Round-tripped and filter-exercised in tests.
  * Baseline JPEG (SOF0, 4:4:4) decodes FOR REAL too (r6): pure-numpy
    huffman + dequant + IDCT in `operators/jpeg_codec.py`, bomb-bounded
    like the PNG path, with a pinned deterministic encoder as the
    fixture source. Progressive/subsampled variants raise ValueError.
  * mp4/mp3 CONTAINERS parse for real (r6, operators/media_container.py):
    ISO-BMFF sample tables and MPEG audio framing are pure binary specs —
    frame sampling extracts the actual coded frame bytes at each tick.
  * Every other image container — WebP, lossless or lossy — and the
    mp4/mp3 coded bytes are the codec gate: no workload feeds them (the
    engine links web pages, and its image fixtures are BMP/PNG/JPEG).
    `decode_image_real` raises NotImplementedError, `_decodable_image`
    is false, so `thumbnail_images` and `image_phash_table` skip the
    row, and `extract_features` falls back to a deterministic
    byte-histogram so the pipeline shape stays exercised end-to-end.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .media_container import mux_mp4

ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
    ]
)

N_FEATURES = 16


# ---------------------------------------------------------------------------
# REAL codecs for uncompressed formats (pure numpy/struct — no external libs)
# ---------------------------------------------------------------------------


def encode_bmp(img: np.ndarray) -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as a 24-bit uncompressed BMP."""
    h, w, c = img.shape
    assert c == 3 and img.dtype == np.uint8
    row_size = (w * 3 + 3) & ~3  # rows padded to 4 bytes
    data_size = row_size * h
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + data_size, 0, 0, 14 + 40)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, data_size, 2835, 2835, 0, 0)
    rows = np.zeros((h, row_size), dtype=np.uint8)
    # BMP stores bottom-up BGR
    rows[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)
    return header + info + rows.tobytes()


def decode_bmp(payload: bytes) -> np.ndarray:
    """Decode a 24-bit uncompressed BMP to an (H, W, 3) uint8 RGB array."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    offset = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", payload, 14)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP variant (bpp={bpp}, comp={compression})")
    flip = h > 0
    h = abs(h)
    row_size = (w * 3 + 3) & ~3
    rows = np.frombuffer(payload, dtype=np.uint8, count=row_size * h, offset=offset)
    rows = rows.reshape(h, row_size)[:, : w * 3].reshape(h, w, 3)
    img = rows[:, :, ::-1]  # BGR → RGB
    return img[::-1] if flip else img


def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Real nearest-neighbor resize (the standard pre-train thumbnail op)."""
    h, w = img.shape[:2]
    ri = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    ci = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return img[ri][:, ci]


def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """Encode mono int16 PCM samples as a RIFF/WAV file."""
    assert samples.dtype == np.int16
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Decode a PCM WAV payload → (mono int16 samples, sample_rate).
    Walks RIFF chunks properly (a real parser, not an offset guess)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, rate, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = payload[pos : pos + 4], struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            audio_fmt, channels, rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if audio_fmt != 1 or channels != 1 or bits != 16:
                raise ValueError("unsupported WAV variant (need mono 16-bit PCM)")
        elif cid == b"data":
            data = np.frombuffer(body, dtype=np.int16)
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("truncated WAV payload")
    return data, rate


# ---------------------------------------------------------------------------
# REAL PNG codec (r5): zlib is stdlib, so PNG — unlike jpeg/webp — needs no
# external library. 8-bit gray/RGB/RGBA, non-interlaced, all five scanline
# filters (None/Sub/Up/Average/Paeth). Gray broadcasts to 3 channels and
# alpha is dropped so every image decode yields (h, w, 3) like decode_bmp.
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

#: hard cap on decoded pixel bytes (256 MB) — web corpora are untrusted,
#: and a PNG's IHDR can declare any dimensions it likes
_PNG_MAX_BYTES = 1 << 28


def encode_png(img: np.ndarray) -> bytes:
    """Minimal real PNG writer: 8-bit RGB, filter 0, one IDAT."""
    import zlib

    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("encode_png expects (h, w, 3) uint8")
    h, w = img.shape[:2]

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(
        b"\x00" + img[y].astype(np.uint8).tobytes() for y in range(h)
    )
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> np.ndarray:
    """Real PNG decode (pure numpy + stdlib zlib): parses IHDR/IDAT/IEND,
    inflates, and reverses the per-scanline filter. Supports 8-bit color
    types 0 (gray), 2 (RGB), 6 (RGBA), non-interlaced — the variants a
    synthetic/training-thumbnail pipeline writes; palette/16-bit/interlaced
    raise ValueError (malformed-or-unsupported, row falls back)."""
    import zlib

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, idat, ihdr = 8, b"", None
    try:
        while pos + 8 <= len(payload):
            (size,) = struct.unpack(">I", payload[pos : pos + 4])
            tag = payload[pos + 4 : pos + 8]
            body = payload[pos + 8 : pos + 8 + size]
            if tag == b"IHDR":
                ihdr = struct.unpack(">IIBBBBB", body)
            elif tag == b"IDAT":
                idat += body
            elif tag == b"IEND":
                break
            pos += 12 + size
    except struct.error as e:  # truncated chunk framing → malformed
        raise ValueError(f"corrupt PNG chunk structure: {e}") from e
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, ctype, _comp, _filt, interlace = ihdr
    # r6 advice: zero dimensions are invalid per the PNG spec (RFC 2083 §3.1)
    # AND would defeat the decode cap below — expected == 0 makes
    # zlib.decompressobj().decompress(idat, max_length=0) mean UNLIMITED,
    # letting a crafted bomb inflate fully before the length check.
    if w == 0 or h == 0:
        raise ValueError(f"invalid PNG dimensions {w}x{h} (zero not allowed)")
    channels = {0: 1, 2: 3, 6: 4}.get(ctype)
    if depth != 8 or channels is None or interlace != 0:
        raise ValueError(
            f"unsupported PNG variant (depth={depth} color={ctype} "
            f"interlace={interlace}); supported: 8-bit gray/RGB/RGBA"
        )
    stride = w * channels
    expected = h * (stride + 1)
    # r5 review: (a) cap declared dimensions BEFORE touching the deflate
    # stream (an IHDR claiming absurd w×h must not size anything); (b)
    # bound the inflate to exactly the declared pixel bytes — plain
    # zlib.decompress would happily expand a ~30 MB decompression-bomb
    # payload to ~30 GB inside the Arrow batch, an uncatchable OOM rather
    # than the ValueError fallback this decoder promises.
    if expected > _PNG_MAX_BYTES:
        raise ValueError(
            f"PNG declares {w}x{h}x{channels} = {expected} bytes, over the "
            f"{_PNG_MAX_BYTES}-byte decode cap"
        )
    try:
        obj = zlib.decompressobj()
        raw = obj.decompress(idat, expected)
        if obj.unconsumed_tail and obj.decompress(obj.unconsumed_tail, 1):
            raise ValueError("PNG pixel data exceeds declared dimensions")
    except zlib.error as e:  # corrupt deflate → ValueError so the
        # feature-extraction fallback catches it like any malformed row
        raise ValueError(f"corrupt PNG deflate stream: {e}") from e
    if len(raw) != expected:
        raise ValueError("truncated PNG pixel data")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        row = raw[y * (stride + 1) : (y + 1) * (stride + 1)]
        ftype, line = row[0], np.frombuffer(row[1:], np.uint8).astype(np.int64)
        if ftype == 0:
            cur = line
        elif ftype == 2:  # Up — fully vectorized
            cur = (line + prev) & 0xFF
        elif ftype == 1:  # Sub — per-channel cumsum mod 256 (r5 review:
            # this is vectorizable like Up; only Average/Paeth genuinely
            # need the sequential x-scan)
            cur = np.empty(stride, dtype=np.int64)
            for c in range(channels):
                cur[c::channels] = np.cumsum(line[c::channels]) & 0xFF
        elif ftype in (3, 4):  # Average/Paeth — sequential in x
            cur = np.zeros(stride, dtype=np.int64)
            for x in range(stride):
                a = cur[x - channels] if x >= channels else 0
                b = prev[x]
                c = prev[x - channels] if x >= channels else 0
                if ftype == 3:
                    pred = (a + b) // 2
                else:  # Paeth
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    img = out.reshape(h, w, channels)
    if channels == 1:
        img = np.repeat(img, 3, axis=2)
    elif channels == 4:
        img = img[:, :, :3]
    return img


_JPEG_SOI = b"\xff\xd8"


def decode_image_real(payload: bytes) -> np.ndarray:
    """Decode an image payload. BMP, PNG and baseline JPEG decode for real
    (pure numpy; PNG inflates via stdlib zlib; JPEG is the SOF0 4:4:4
    huffman+IDCT decoder in operators/jpeg_codec.py); every other
    container raises NotImplementedError."""
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:8] == _PNG_SIG:
        return decode_png(payload)
    if payload[:2] == _JPEG_SOI:
        from .jpeg_codec import decode_jpeg

        return decode_jpeg(payload)
    raise NotImplementedError(
        "unknown image container; BMP, PNG and baseline JPEG decode "
        "natively (WebP needs an imaging library not present in this "
        "environment)"
    )


def _decodable_image(payload: bytes) -> bool:
    """Magic-byte gate shared by the feature/thumbnail/phash stages."""
    return (
        payload[:2] == b"BM"
        or payload[:8] == _PNG_SIG
        or payload[:2] == _JPEG_SOI
    )


# ---------------------------------------------------------------------------
# feature extraction (real decode when the format allows, fallback otherwise)
# ---------------------------------------------------------------------------


def _byte_histogram_features(b: bytes | None) -> np.ndarray:
    """Deterministic fallback 'decode' for compressed formats: 16-bin byte
    histogram, L1-normalized — keeps the Spark-side contract (binary in,
    fixed-width float vector out) exercised when no codec exists."""
    if b is None or len(b) == 0:
        return np.zeros(N_FEATURES)
    arr = np.frombuffer(bytes(b), dtype=np.uint8)
    hist = np.bincount(arr >> 4, minlength=N_FEATURES).astype(np.float64)
    return hist / hist.sum()


def _image_features(img: np.ndarray) -> np.ndarray:
    """16 real image features: per-channel mean+std (6), 8-bin luminance
    histogram (8), aspect ratio, fill (constant 1.0 pad)."""
    f = np.zeros(N_FEATURES)
    x = img.astype(np.float64) / 255.0
    f[0:3] = x.mean(axis=(0, 1))
    f[3:6] = x.std(axis=(0, 1))
    luma = 0.299 * x[:, :, 0] + 0.587 * x[:, :, 1] + 0.114 * x[:, :, 2]
    hist, _ = np.histogram(luma, bins=8, range=(0.0, 1.0))
    f[6:14] = hist / max(luma.size, 1)
    f[14] = img.shape[1] / img.shape[0]
    f[15] = 1.0
    return f


def _audio_features(samples: np.ndarray, rate: int) -> np.ndarray:
    """16 real audio features: RMS, zero-crossing rate, peak, duration_s,
    8-bin |amplitude| histogram, silence fraction, fill."""
    f = np.zeros(N_FEATURES)
    if len(samples) == 0:
        return f
    x = samples.astype(np.float64) / 32768.0
    f[0] = float(np.sqrt((x * x).mean()))
    f[1] = float((np.diff(np.signbit(x)) != 0).mean()) if len(x) > 1 else 0.0
    f[2] = float(np.abs(x).max())
    f[3] = len(x) / rate
    hist, _ = np.histogram(np.abs(x), bins=8, range=(0.0, 1.0))
    f[4:12] = hist / len(x)
    f[12] = float((np.abs(x) < 1e-3).mean())
    f[15] = 1.0
    return f


def _features_for(kind: str, mime: str | None, payload: bytes | None) -> np.ndarray:
    try:
        if payload and kind == "image" and _decodable_image(payload):
            return _image_features(decode_image_real(payload))
        if payload and kind == "audio" and payload[:4] == b"RIFF":
            return _audio_features(*decode_wav(payload))
    except (ValueError, NotImplementedError):
        pass  # malformed/unsupported → fallback features, row survives
    return _byte_histogram_features(payload)


def extract_features(assets: DataFrame, batch_hint: int = 1024) -> DataFrame:
    """mapInPandas feature extraction: (asset_id, kind, features:array<double>).

    Partition-parallel, Arrow-batched; payload column is dropped immediately
    after decode so the fat bytes don't flow further down the plan. BMP/WAV
    payloads get REAL decoded features; compressed formats get the
    byte-histogram fallback (documented sandbox constraint).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _features_for(k, m, p)
                for k, m, p in zip(pdf["kind"], pdf["mime"], pdf["payload"])
            ]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "kind": pdf["kind"],
                    "features": feats,
                }
            )

    return assets.select("asset_id", "kind", "mime", "payload").mapInPandas(
        run, "asset_id long, kind string, features array<double>"
    )


def thumbnail_images(assets: DataFrame, out_h: int = 16, out_w: int = 16) -> DataFrame:
    """Real resize stage: decode BMP/PNG → nearest-neighbor thumbnail →
    re-encode BMP. (asset_id, thumb:binary). Undecodable rows are skipped —
    at scale this is the 'normalize resolution before embedding' pass."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, thumbs = [], []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                if payload is None or not _decodable_image(bytes(payload[:8])):
                    continue
                try:
                    img = decode_image_real(bytes(payload))
                except (ValueError, NotImplementedError):
                    continue
                ids.append(aid)
                thumbs.append(encode_bmp(resize_nearest(img, out_h, out_w)))
            yield pd.DataFrame({"asset_id": ids, "thumb": thumbs})

    return (
        assets.filter(F.col("kind") == "image")
        .select("asset_id", "payload")
        .mapInPandas(run, "asset_id long, thumb binary")
    )


def frame_sample_plan(assets: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: explodes one row per planned frame
    timestamp from metadata (duration_ms) without touching payloads —
    the per-frame decode is the codec step (compressed video needs libav).
    """
    n_frames = F.greatest(
        F.ceil(F.col("duration_ms") / F.lit(every_ms)).cast("int"), F.lit(1)
    )
    return (
        assets.filter(F.col("kind") == "video")
        .withColumn(
            "frame_ts_ms",
            F.explode(F.sequence(F.lit(0), (n_frames - 1) * every_ms, F.lit(every_ms))),
        )
        .select("asset_id", "frame_ts_ms")
    )


def synth_assets(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fixture assets with REAL payloads where the codec is
    real: images are valid 24-bit BMPs (gradient + seeded noise), audio is
    valid mono 16-bit PCM WAV (sine + seeded noise); video payloads are
    valid minimal MP4 containers whose coded frame BYTES are opaque (the
    codec is the sandbox gate, the container is not)."""
    rng = np.random.default_rng(seed)
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        kind = kinds[i % 3]
        if kind == "image":
            w, h = 24 + (i % 5) * 8, 16 + (i % 3) * 8
            gx = np.linspace(0, 255, w, dtype=np.float64)
            img = np.zeros((h, w, 3), dtype=np.float64)
            img[:, :, 0] = gx
            img[:, :, 1] = np.linspace(0, 255, h)[:, None]
            img[:, :, 2] = rng.integers(0, 256, size=(h, w))
            payload = encode_bmp(img.astype(np.uint8))
            width, height, dur = w, h, None
        elif kind == "audio":
            dur_s = 0.05 + (i % 4) * 0.05
            t = np.arange(int(16000 * dur_s)) / 16000.0
            wave = 0.4 * np.sin(2 * np.pi * (200 + i * 10) * t)
            wave += 0.05 * rng.standard_normal(len(t))
            payload = encode_wav((wave * 32767).astype(np.int16))
            width, height, dur = None, None, int(dur_s * 1000)
        else:
            # real minimal MP4 container (r6): 100 ms coded frames of
            # deterministic opaque bytes — the container parses for real
            # (operators/media_container.py), only the codec stays gated
            dur = (i % 5 + 1) * 1500
            frames = [
                rng.integers(0, 256, size=48 + (i + j) % 64, dtype=np.uint8)
                .tobytes()
                for j in range(dur // 100)
            ]
            payload = mux_mp4(frames)
            width, height = None, None
        mime = {"image": "image/bmp", "audio": "audio/wav", "video": "video/mp4"}[kind]
        rows.append((i, kind, payload, mime, width, height, dur))
    return spark.createDataFrame(rows, ASSET_SCHEMA)
